package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.GraphDB
import graft.algorithms.Algorithms
import graft.cypher.CypherParser
import graft.kernel.{GrMatrix, GrOps, GrVector, Ops => K}
import graft.ml.Similarity
import graft.plans.{Pattern, Planner}
import graft.sources.TpchGraph
import graft.text.TextOps

/** One generated operation: `kind` selects the public API it drives,
  * `args` carries the seed-drawn parameters (see workloads.py). */
final case class Op(id: Int, kind: String, name: String, args: JValue)

object Op {
  def parse(line: String): Op = {
    val j = org.json4s.jackson.JsonMethods.parse(line)
    val JInt(id) = j \ "id": @unchecked
    val JString(kind) = j \ "kind": @unchecked
    val JString(name) = j \ "name": @unchecked
    Op(id.toInt, kind, name, j \ "args")
  }
}

/** Records layer spans around the benchmark's calls into each module.
  * With tracing off it only runs the body. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var op: Int = -1
  private var nextId = 0
  private var stack: List[Int] = Nil
  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, s, System.nanoTime(), parent, op)
        stack = stack.tail
      }
    }
}

/** The resident state every workload runs against: the TPC-H property
  * graph cached with its stats, and the cached corpora. */
final class Resident(val db: GraphDB, val docs: DataFrame, val emb: DataFrame) {
  def release(spark: SparkSession): Unit = {
    Seq(db.graph.nodes, db.graph.edges, docs, emb).foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Resident {
  def load(spark: SparkSession, dir: String, tr: Tracer): Resident = {
    val (g, docs, emb) = tr("sources.load") {
      val g = TpchGraph(spark, dir).cache()
      g.nodes.count(); g.edges.count()
      val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
      val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
      docs.count(); emb.count()
      (g, docs, emb)
    }
    val db = new GraphDB(g)
    tr("graph.stats")(db.stats)
    new Resident(db, docs, emb)
  }
}

object Ops {
  private def s(j: JValue, k: String): String = (j \ k) match {
    case JString(v) => v
    case other => throw new IllegalArgumentException(s"arg $k: $other")
  }
  private def l(j: JValue, k: String): Long = (j \ k) match {
    case JInt(v) => v.toLong
    case other => throw new IllegalArgumentException(s"arg $k: $other")
  }
  private def d(j: JValue, k: String): Double = (j \ k) match {
    case JDouble(v) => v
    case JInt(v) => v.toDouble
    case other => throw new IllegalArgumentException(s"arg $k: $other")
  }
  private def ls(j: JValue, k: String): Seq[JValue] = (j \ k) match {
    case JArray(v) => v
    case other => throw new IllegalArgumentException(s"arg $k: $other")
  }
  private def value(v: JValue): Any = v match {
    case JString(x) => x
    case JInt(x) => x.toLong
    case JDouble(x) => x
    case JBool(x) => x
    case JArray(xs) => xs.map(value)
    case other => throw new IllegalArgumentException(s"param $other")
  }
  private def stmt(j: JValue): (String, Map[String, Any]) = {
    val params = (j \ "params") match {
      case JObject(fs) => fs.map { case (k, v) => k -> value(v) }.toMap
      case _ => Map.empty[String, Any]
    }
    (s(j, "q"), params)
  }

  /** Runs `op` to a fully collected result. The caller times this call. */
  def run(op: Op, r: Resident, tr: Tracer): (StructType, Array[Row]) = op.kind match {
    case "cypher_read" => read(r.db, op.args, tr)
    case "cypher_write" =>
      var db = r.db
      ls(op.args, "writes").foreach { w =>
        val (q, p) = stmt(w)
        if (tr.on) tr("cypher.parse")(CypherParser.parseWrite(q, p))
        db = tr("graphdb.execute")(db.execute(q, p))
      }
      if (tr.on) tr("graph.stats")(db.stats)
      read(db, op.args \ "read", tr)
    case "algorithm" => collect(tr("algorithms.call")(algorithm(r, op.args)), "algorithms.action", tr)
    case "kernel" => tr("kernel.op")(collect(kernel(r, op.args), "kernel.action", tr))
    case "text" => collect(tr("text.call")(text(r, op.args)), "text.action", tr)
    case "ml" => collect(tr("ml.call")(ml(r, op.args)), "ml.action", tr)
    case other => throw new IllegalArgumentException(s"unknown op kind $other")
  }

  private def collect(df: DataFrame, span: String, tr: Tracer): (StructType, Array[Row]) =
    (df.schema, tr(span)(df.collect()))

  /** A read query. Traced, it first parses and plans on its own — the
    * `cypher` and `plans` layers — so that `operators.build` (the query
    * call, which parses and plans again) can be reported net of both. */
  private def read(db: GraphDB, j: JValue, tr: Tracer): (StructType, Array[Row]) = {
    val (q, p) = stmt(j)
    if (tr.on) {
      val (branches, _) = tr("cypher.parse")(CypherParser.parseUnion(q, p))
      tr("plans.plan")(branches.foreach { b =>
        try Planner.plan(Pattern.fromQuery(b), db.stats) catch { case NonFatal(_) => () }
      })
    }
    collect(tr("operators.build")(db.query(q, p)), "cypher.action", tr)
  }

  private def algorithm(r: Resident, a: JValue): DataFrame = {
    val g = r.db.graph
    def edges(types: String*) = g.edgesByType(types).select("src", "dst")
    def customers(mod: Long, rem: Long) = g.nodesByLabel("customer")
      .filter(pmod(col("id") - TpchGraph.CustomerOff, lit(mod)) === rem).select("id")
    def geo = g.nodes.filter(col("label").isin("nation", "region")).select("id")
    def inNationOf(vs: DataFrame) = g.edgesByType(Seq("IN_NATION")).select("src", "dst")
      .join(vs.select(col("id").as("src")), Seq("src"), "left_semi")
    s(a, "alg") match {
      case "bfs" =>
        val types = ls(a, "etypes").map { case JString(t) => t; case t => sys.error(s"$t") }
        val sources = g.edgesByType(Seq("IN_NATION"))
          .filter(col("dst") === TpchGraph.NationOff + l(a, "nation") && col("src") < TpchGraph.SupplierOff)
          .select(col("src").as("id"))
        Algorithms.bfs(edges(types: _*), sources)
      case "sssp" =>
        val sp = g.edgesByType(Seq("SUPPLIES")).select(col("src"), col("dst"), col("weight").as("w"))
        val po = g.edgesByType(Seq("CONTAINS"))
          .select(col("dst").as("src"), col("src").as("dst"), col("weight").as("w"))
        Algorithms.sssp(sp.unionByName(po), g.nodesByLabel("supplier")
          .filter(col("id") === TpchGraph.SupplierOff + l(a, "supplier")).select("id"))
      case alg @ ("pagerank" | "ppr") =>
        val cs = customers(l(a, "mod"), l(a, "rem"))
        val vs = geo.unionByName(cs)
        val es = edges("IN_REGION").unionByName(inNationOf(cs))
        val iters = l(a, "iters").toInt
        val ranks =
          if (alg == "pagerank") Algorithms.pageRank(vs, es, iters = iters)
          else Algorithms.personalizedPageRank(vs, es,
            g.edgesByType(Seq("IN_REGION"))
              .filter(col("dst") === TpchGraph.RegionOff + l(a, "region")).select(col("src").as("id")),
            iters = iters)
        ranks.select(col("id"), round(col("rank"), 6).as("rank"))
      case "wcc" =>
        val regions = ls(a, "regions").map { case JInt(x) => TpchGraph.RegionOff + x.toLong; case x => sys.error(s"$x") }
        val vs = g.nodes.filter(col("label").isin("nation", "region", "supplier")).select("id")
        val es = edges("IN_REGION").filter(col("dst").isin(regions: _*))
          .unionByName(edges("IN_NATION").filter(col("src") >= TpchGraph.SupplierOff))
        Algorithms.connectedComponents(vs, es)
      case other => throw new IllegalArgumentException(s"unknown algorithm $other")
    }
  }

  private def kernel(r: Resident, a: JValue): DataFrame = {
    val g = r.db.graph
    def m(etype: String, v: Column) = GrMatrix(g.edgesByType(Seq(etype))
      .select(col("src").as("i"), col("dst").as("j"), v.as("v")))
    s(a, "op") match {
      case "mxm_anypair" =>
        val custs = m("IN_NATION", lit(true)).df
          .filter(col("i") < TpchGraph.SupplierOff &&
            pmod(col("i") - TpchGraph.CustomerOff, lit(l(a, "mod"))) === l(a, "rem"))
        GrOps.mxm(K.anyPair)(GrMatrix(custs), m("IN_REGION", lit(true))).df.select("i", "j")
      case "mxm_minplus" =>
        val sup = m("SUPPLIES", col("weight")).df.filter(col("i") === TpchGraph.SupplierOff + l(a, "supplier"))
        GrOps.mxm(K.minPlus)(GrMatrix(sup), m("CONTAINS", col("weight")).transpose).df
      case "vxm_minplus" =>
        val u = g.edgesByType(Seq("IN_NATION"))
          .filter(col("dst") === TpchGraph.NationOff + l(a, "nation") && col("src") < TpchGraph.SupplierOff)
          .select(col("src").as("id"))
          .join(g.nodesByLabel("customer"), Seq("id")).select(col("id").as("i"), col("value").as("v"))
        GrOps.vxm(K.minPlus)(GrVector(u), m("PLACED", col("weight"))).df
      case "reduce_rows" =>
        val lo = TpchGraph.OrderOff + l(a, "lo"); val hi = TpchGraph.OrderOff + l(a, "hi")
        GrOps.reduceRows(K.plusM)(GrMatrix(m("CONTAINS", lit(1L)).df
          .filter(col("i") >= lo && col("i") < hi))).df
      case "reduce_cols" =>
        val lo = TpchGraph.SupplierOff + l(a, "lo"); val hi = TpchGraph.SupplierOff + l(a, "hi")
        GrOps.reduceCols(K.minM)(GrMatrix(m("SUPPLIES", col("weight")).df
          .filter(col("i") >= lo && col("i") < hi))).df
      case other => throw new IllegalArgumentException(s"unknown kernel op $other")
    }
  }

  private def text(r: Resident, a: JValue): DataFrame = {
    val docs = r.docs.filter(col("doc_id") >= l(a, "lo") && col("doc_id") < l(a, "hi"))
    val thr = d(a, "threshold")
    s(a, "op") match {
      case "jaccard" => TextOps.jaccardPairs(docs, "doc_id", "text", 5, thr)
      case "minhash" => TextOps.minhashDedup(docs, "doc_id", "text", threshold = thr).select("a", "b")
      case "simhash" => TextOps.simhashDedup(docs, "doc_id", "text", threshold = thr).select("a", "b")
      case "tfidf" => TextOps.tfIdfSimilarPairs(docs, "doc_id", "text", thr, maxDf = 100L)
      case other => throw new IllegalArgumentException(s"unknown text op $other")
    }
  }

  private def ml(r: Resident, a: JValue): DataFrame = {
    val corpus = r.emb.filter(col("vec_id") >= l(a, "lo") && col("vec_id") < l(a, "hi"))
    def queries = corpus.filter(col("vec_id").isin(ls(a, "queries").map {
      case JInt(x) => x.toLong; case x => sys.error(s"$x") }: _*))
    s(a, "op") match {
      case "brute" => Similarity.bruteForceKnn(corpus, queries, l(a, "k").toInt)
      case "lsh" => Similarity.lshKnn(corpus, queries, l(a, "k").toInt, dim = 64,
        numBits = l(a, "bits").toInt, tables = l(a, "tables").toInt)
      case "neardup" => Similarity.nearDupPairs(corpus, d(a, "threshold"))
      case other => throw new IllegalArgumentException(s"unknown ml op $other")
    }
  }
}
