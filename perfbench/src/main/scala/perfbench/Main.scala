package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Closed-loop driver: one client issues the generated operations one after
  * another against the library's public API and times each from issue
  * until its result is fully collected.
  *
  *  1. Set-up: session start; `--setups` repetitions of loading and
  *     caching the graph and corpora and computing the graph stats,
  *     releasing the resident state between repetitions; then the warm-up
  *     operations. Set-up time is the session start plus the median
  *     repetition plus the warm-up.
  *  2. The measured window: operations cycle until `--seconds` of window
  *     time have passed and every template has run once. Digesting results
  *     and telemetry reads happen between operations and are excluded from
  *     the window.
  *  3. With `--trace 1` the same window runs with layer spans and the
  *     listeners on, draining the listener bus after each operation (off
  *     the clock). The operations depend on the seed only, so a traced and
  *     an untraced run of one seed time the same operations, and their
  *     difference is the tracing overhead.
  *
  * Writes ops.tsv, summary.json and (traced) spans.tsv / opmetrics.tsv to
  * `--out`; `run.py` checks results and computes the metrics. */
object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val cores = arg(args, "cores").toInt
    val dir = arg(args, "data")
    val out = new File(arg(args, "out")); out.mkdirs()
    val seconds = arg(args, "seconds").toDouble
    val traceOn = arg(args, "trace") == "1"
    val setups = arg(args, "setups").toInt
    def readOps(f: String) = Files.readAllLines(Paths.get(f)).asScala.filter(_.nonEmpty).map(Op.parse).toIndexedSeq
    val ops = readOps(arg(args, "ops"))
    val warm = readOps(arg(args, "warmup"))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    // set-up: the load and the stats repeated `setups` times (releasing the
    // resident state in between) for a median, then the warm-up operations
    // once; layer times of the load and the stats come from their spans
    val setupTr = new Tracer(true)
    var resident: Resident = null
    val loadS = (0 until setups).map { _ =>
      if (resident != null) resident.release(spark)
      val s = System.nanoTime()
      resident = Resident.load(spark, dir, setupTr)
      (System.nanoTime() - s) / 1e9
    }
    val w0 = System.nanoTime()
    warm.foreach(op => Ops.run(op, resident, new Tracer(false)))
    val warmS = (System.nanoTime() - w0) / 1e9
    def layerMs(name: String) = setupTr.spans.filter(_.name == name).map(sp => (sp.endNs - sp.startNs) / 1e6).toSeq

    val sc = spark.sparkContext
    Collectors.drain(sc)
    val (baseRdds, baseMb) = Collectors.cacheHeld(spark)

    val opsOut = new PrintWriter(new File(out, "ops.tsv"), "UTF-8")
    def runOne(op: Op, seq: Int, tr: Tracer): Long = {
      tr.op = seq
      val s = System.nanoTime()
      val res = try Right(Ops.run(op, resident, tr)) catch { case NonFatal(e) => Left(e) }
      val lat = System.nanoTime() - s
      val (rows, digest, err) = res match {
        case Right((schema, rs)) => (rs.length, Digest(schema, rs), "")
        case Left(e) => (0, "", s"${e.getClass.getSimpleName}: ${e.getMessage}".replaceAll("\\s+", " ").take(300))
      }
      opsOut.println(Seq(seq, op.id, op.name, lat, rows, digest, err).mkString("\t"))
      lat
    }

    // the measured window; traced, the listeners are on and the bus is
    // drained after each operation, outside its timing and the window
    val tr = new Tracer(traceOn)
    val col = new Collectors
    if (traceOn) {
      sc.addSparkListener(col)
      spark.listenerManager.register(col)
    }
    val baseNs = System.nanoTime(); val baseMs = System.currentTimeMillis()
    def ms(ns: Long) = baseMs + (ns - baseNs) / 1000000L
    val mOut = if (traceOn) new PrintWriter(new File(out, "opmetrics.tsv"), "UTF-8") else null
    var offClockNs = 0L
    var ran = 0
    val loopStart = System.nanoTime()
    // the window also holds at least one operation of every template
    val round = ops.map(_.name).distinct.size
    while ((System.nanoTime() - loopStart - offClockNs) / 1e9 < seconds || ran < round) {
      val op = ops(ran % ops.size)
      val first = tr.spans.size
      val s = System.nanoTime()
      val lat = runOne(op, ran, tr)
      if (traceOn) {
        Collectors.drain(sc)
        val windows = Seq("graphdb.execute", "algorithms.call").map { n =>
          n -> tr.spans.drop(first).filter(_.name == n).map(sp => (ms(sp.startNs), ms(sp.endNs))).toSeq
        }.toMap
        val m = col.take(ms(s), ms(s + lat), windows)
        val (rdds, mb) = Collectors.cacheHeld(spark)
        val all = m ++ Map("util.scratch_rdds_held" -> (rdds - baseRdds).toDouble,
          "util.cache_held_mb" -> (mb - baseMb))
        mOut.println(s"$ran\t" + all.map { case (n, v) => s"$n=$v" }.mkString("\t"))
      }
      offClockNs += (System.nanoTime() - s) - lat
      ran += 1
    }
    val windowS = (System.nanoTime() - loopStart - offClockNs) / 1e9
    val rt = Runtime.getRuntime
    var heapLiveMb = 0.0
    if (traceOn) {
      // the heap the session retains after the window: a leaked cache or
      // driver-side state shows here, allocation churn does not
      System.gc()
      heapLiveMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
      mOut.close()
      val sp = new PrintWriter(new File(out, "spans.tsv"), "UTF-8")
      (setupTr.spans ++ tr.spans).foreach(x =>
        sp.println(Seq(x.id, x.name, x.startNs, x.endNs, x.parent, x.op).mkString("\t")))
      sp.close()
    }
    opsOut.close()

    val summary = Map(
      "session_s" -> sessionS,
      "load_s" -> loadS,
      "warmup_s" -> warmS,
      "setup_s" -> (sessionS + median(loadS) + warmS),
      "sources_load_ms" -> layerMs("sources.load"),
      "graph_stats_ms" -> layerMs("graph.stats"),
      "window_s" -> windowS,
      "heap_live_mb" -> heapLiveMb,
      "stamp" -> Map(
        "nproc" -> rt.availableProcessors,
        "master" -> s"local[$cores]",
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_mb" -> rt.maxMemory / 1048576,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version))
    Files.writeString(Paths.get(out.getPath, "summary.json"), json(summary))
    spark.stop()
  }
}
