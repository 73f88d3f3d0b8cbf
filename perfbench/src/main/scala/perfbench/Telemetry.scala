package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Order-free digest of a collected result, computed the same way by the
  * DuckDB oracle (`oracle.py`): columns in name order; every number as the
  * bits of its double value (so 7 and 7.0 agree, -0.0 folds to +0.0 as in
  * the repository's NegZero convention, and any last-bit difference fails);
  * rows sorted, then SHA-256 over header and rows. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case d: Double => bits(d)
    case f: Float => bits(f.toDouble)
    case n: java.math.BigDecimal => bits(n.doubleValue)
    case n: BigDecimal => bits(n.toDouble)
    case n: Number => bits(n.doubleValue)
    case s: String => s.flatMap {
      case '\\' => "\\\\"; case '\t' => "\\t"; case '\n' => "\\n"; case c => c.toString }
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
  private def bits(d: Double): String =
    if (d.isNaN) "NaN" else f"${java.lang.Double.doubleToRawLongBits(d + 0.0)}%016x"

  def apply(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\t"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = MessageDigest.getInstance("SHA-256")
    (order.map(names(_)).mkString("\t") +: lines.toSeq).foreach { l =>
      md.update(l.getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** A layer span: the interval the benchmark spent inside one call into a
  * module, within one operation. Kept in memory, written at the end. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

/** Executor-side counters (SparkListener) and Catalyst phase times
  * (QueryExecutionListener, i.e. the QueryExecution that ran each action).
  * Both live on the listener bus, off the operation's critical path; the
  * benchmark drains the bus after each operation, outside its timing, and
  * reads the per-operation deltas. */
final class Collectors extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }
  /** (start, end) wall clock ms of each job, and the job start times. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stageFirstLaunch = mutable.Map.empty[(Int, Int), Long]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var worstSkew = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartMs(e.jobId) = e.time; c("exec.jobs") += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stageSubmit((s.stageId, s.attemptNumber())) = s.submissionTime.getOrElse(System.currentTimeMillis())
    c("exec.stages") += 1
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val k = (e.stageId, e.stageAttemptId)
    if (!stageFirstLaunch.contains(k)) stageFirstLaunch(k) = e.taskInfo.launchTime
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("exec.tasks") += 1
    if (e.reason != org.apache.spark.Success) c("exec.failed_tasks") += 1
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c("exec.task_run_ms") += m.executorRunTime
      c("exec.task_cpu_ms") += m.executorCpuTime / 1e6
      c("exec.gc_ms") += m.jvmGCTime
      c("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("exec.rows_read") += m.inputMetrics.recordsRead
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    for (sub <- stageSubmit.remove(k); first <- stageFirstLaunch.remove(k))
      c("exec.sched_wait_ms") += math.max(0L, first - sub)
    stageTaskMs.remove(k).filter(_.size >= 2).foreach { ds =>
      val sorted = ds.sorted
      val med = sorted(sorted.size / 2).max(1L)
      worstSkew = math.max(worstSkew, sorted.last.toDouble / med)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    catalyst(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    catalyst(qe)
  private def catalyst(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"catalyst.${p}_ms", (s.endTimeMs - s.startTimeMs).toDouble))
    }
    add("catalyst.exchanges", exchanges(qe.executedPlan).toDouble)
  }
  private def exchanges(p: SparkPlan): Int = {
    val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case _ => 0
    }
    self + inner + p.children.map(exchanges).sum
  }

  /** Counters accumulated since the previous call, plus the job-interval
    * derived figures for an operation that ran over [opStartMs, opEndMs]
    * and the jobs started inside each of `windows`. */
  def take(opStartMs: Long, opEndMs: Long, windows: Map[String, Seq[(Long, Long)]]): Map[String, Double] =
    synchronized {
      val out = c.toMap
      c.clear()
      val ivs = jobIntervals.toSeq.sortBy(_._1)
      jobIntervals.clear()
      // union of the job intervals, clipped to the operation
      var busy = 0L; var curS = -1L; var curE = -1L
      ivs.foreach { case (s0, e0) =>
        val s = math.max(s0, opStartMs); val e = math.min(e0, opEndMs)
        if (e > s) {
          if (curE < s) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      }
      if (curE > curS) busy += curE - curS
      val perWindow = windows.map { case (name, ws) =>
        s"$name.jobs" -> ivs.count { case (s, _) => ws.exists { case (a, b) => s >= a && s <= b } }.toDouble
      }
      val skew = worstSkew
      worstSkew = 0.0
      out ++ perWindow ++ Map(
        "exec.job_busy_ms" -> busy.toDouble,
        "exec.driver_gap_ms" -> math.max(0L, opEndMs - opStartMs - busy).toDouble,
        "exec.task_skew" -> skew)
    }
}

object Collectors {
  def drain(sc: SparkContext): Unit = ListenerShim.drain(sc)

  /** Persistent RDDs and cached bytes currently held by the session. */
  def cacheHeld(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (sc.getPersistentRDDs.size, bytes / 1048576.0)
  }
}
