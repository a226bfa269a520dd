package graft.lifecycle

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ingest.IngestPipeline
import graft.ops.{Chunking, Rag}
import graft.vector.{Embedding, GraphAnn, IndexBuilder, VectorFunctions}

/** The RAG lifecycle benchmark program: chunk → embed → store → index →
  * retrieve → rerank → 0.75 threshold → context, driven through the
  * library's public functions on generated input files.
  *
  * Set-up is the write path: a standing index built from empty
  * directories (ingest, IVF and HNSW builds). Workloads (see NOTES.md for
  * why each exists):
  *  - `serve_batch`: the set-up also re-ingests with a new slice and
  *    appends it; then a closed loop, one client, batches of queries
  *    through exact, IVF and HNSW top-k, rerank, threshold and context.
  *  - `interactive_fresh`: closed loop, one client, one query at a time
  *    through HNSW; every `AppendEvery` queries an append (one per
  *    generated append file), then its planted doc.
  *
  * Writes one result JSON (metrics, counters, gate failures) to `--out`;
  * with `--trace 1` also the span file and a per-layer self-time summary.
  */
object Lifecycle {

  // Pipeline settings (BASELINE.md) and the index shapes every run uses.
  val Dim = 768
  val ChunkSize = 1000
  val Overlap = 150
  val IndexSeed = 42L
  val K = 50              // candidates per route
  val FinalK = 5          // sources per context
  val Threshold = 0.75    // VectorFunctions.relevance floor
  val NProbe = 2
  val HnswM = 8
  val HnswLevels = 1
  val LshBits = 6
  val FloorIvf = 0.8      // recall@5 floors against the exact route
  val FloorHnsw = 0.6
  val AppendEvery = 4     // interactive_fresh: timed queries before an append
  val WarmQueries = 3     // interactive_fresh: single queries run slow until then

  /** Request counts of a run; `smoke` is the same path on a tiny corpus. */
  final case class Sizes(batch: Int, batches: Int, clusters: Int, recallQueries: Int)
  val Full = Sizes(batch = 100, batches = 5, clusters = 8, recallQueries = 50)
  val Smoke = Sizes(batch = 10, batches = 2, clusters = 4, recallQueries = 10)

  final case class Cand(route: String, qid: Long, vecId: Long, score: Double)
  final case class Source(vecId: Long, rerank: Double, relevance: Double)
  final case class Query(qid: Long, text: String)

  /** Directory layout of one index generation. */
  final case class Index(root: String) {
    val store = s"$root/store"
    val state = s"$root/state"
    val ivf = s"$root/ivf"
    val hnsw = s"$root/hnsw"
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val work = a("work")
    val spark = GraftSession.withRecommended(SparkSession.builder())
      .appName("graft-lifecycle-bench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1000.0
    val b = new Bench(spark, a)
    val result = try b.run(sessionS) finally spark.stop()
    Files.write(Paths.get(a("out")), result.getBytes(StandardCharsets.UTF_8))
  }

  // ---- small JSON writer (numbers, strings, seqs, maps) ----------------
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def nowNs: Long = System.nanoTime()
  def msSince(t: Long): Double = (System.nanoTime() - t) / 1e6
}

final class Bench(spark: SparkSession, a: Map[String, String]) {
  import Lifecycle._
  import spark.implicits._

  private val workload = a("workload")
  private val input = a("input")
  private val work = a("work")
  private val traced = a("trace") == "1"
  private val seconds = a("seconds").toDouble
  private val sizes = if (a("smoke") == "1") Smoke else Full

  private val tracer = new Tracer
  private val ledger = new JobLedger
  private val lsh = new IndexBuilder.RandomHyperplaneLsh(Dim, LshBits, IndexSeed)
  private val docSchema = "doc_id LONG, lang STRING, source STRING, text STRING"
  private val vecId = (col("doc_id") * 1000 + col("chunk_number")).cast("long")

  // ---- counters, recorded at the layer boundaries -----------------------
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var inTimedOp = false
  /** Per-layer counters count only inside timed ops. */
  private def count(key: String, v: Double): Unit = if (inTimedOp) counters(key) += v
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failedOps = 0L

  // per-op samples (ms) by kind, and the per-op GC time
  private val opMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val tracedOpMs = mutable.ArrayBuffer.empty[Double]
  private val untracedOpMs = mutable.ArrayBuffer.empty[Double]
  private val gcMs = mutable.ArrayBuffer.empty[Double]
  private val appendMs = mutable.ArrayBuffer.empty[Double]
  private val visibleMs = mutable.ArrayBuffer.empty[Double]
  private val firstServeMs = mutable.ArrayBuffer.empty[Double]
  private val recall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var items = 0.0
  private var itemMs = 0.0
  private var buildMs = 0.0
  private var builtChunks = 0.0

  private def sample(kind: String, ms: Double): Unit =
    opMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** One timed operation. Exceptions count as a failed op; the run goes on.
    * `main` marks the workload's request (a batch or a query). */
  private def timedOp[A](kind: String, req: Long, main: Boolean)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val gc0 = gcTotalMs
    val t0 = nowNs
    inTimedOp = true
    try {
      val r = tracer.op(kind, req)(body)
      val ms = msSince(t0)
      inTimedOp = false
      sample(kind, ms)
      if (main) {
        gcMs += (gcTotalMs - gc0).toDouble
        // regular requests only: planted-doc queries are always traced
        if (req >= 0) (if (tracer.enabled) tracedOpMs else untracedOpMs) += ms
      }
      Some((r, ms))
    } catch {
      case e: Exception =>
        fail(s"$kind #$req failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally inTimedOp = false
  }

  /** Correctness checks run outside the timed ops and outside the trace. */
  private def untraced[A](body: => A): A = {
    val was = tracer.enabled
    tracer.enabled = false
    try body finally tracer.enabled = was
  }

  private def fail(msg: String): Unit = {
    failedOps += 1
    if (failures.size < 50) failures += msg
    System.err.println(s"[lifecycle] $msg")
  }

  /** A correctness gate on the op just run: a violation fails the op. */
  private def gate(ok: Boolean, msg: => String): Boolean = {
    if (!ok) fail(s"gate: $msg")
    ok
  }

  // ---- inputs -------------------------------------------------------------
  private def readDocs(p: String): DataFrame = spark.read.schema(docSchema).json(p)

  /** Small inputs (queries, planted docs), read without Spark. */
  private def readJsonl(p: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(Paths.get(p), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(l => mapper.readTree(l))
  }

  private val queries: IndexedSeq[Query] =
    readJsonl(s"$input/queries.jsonl")
      .map(r => Query(r.get("qid").asLong, r.get("text").asText))
      .sortBy(_.qid).toIndexedSeq

  /** Planted docs by append number (-1 = the re-ingest slice). */
  private val planted: Map[Int, (Long, String)] =
    readJsonl(s"$input/planted.jsonl").map { r =>
      r.get("append").asInt -> (r.get("doc_id").asLong * 1000 + 1, r.get("text").asText)
    }.toMap

  private val appendFiles: IndexedSeq[String] = {
    val d = Paths.get(input, "appends")
    if (!Files.isDirectory(d)) IndexedSeq.empty
    else Files.list(d).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".jsonl")).toIndexedSeq.sorted
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(x => Files.deleteIfExists(x))
  }

  // ---- the layer calls, each inside its span ------------------------------
  private def cfg(ix: Index) = IngestPipeline.Config(chunkSize = ChunkSize,
    overlap = Overlap, dim = Dim, lshBits = LshBits, seed = IndexSeed,
    indexPath = ix.store, statePath = ix.state)

  /** chunk → embed → store; `reingest` runs feed the rerun-embed ratio. */
  private def ingest(ix: Index, docs: DataFrame, reingest: Boolean): IngestPipeline.RunStats =
    tracer.span("ingest") {
      val acc = spark.sparkContext.longAccumulator("embedded")
      val st = IngestPipeline.run(docs, cfg(ix), Some(acc))
      count("text.chunks", st.chunksNew.toDouble)
      count("vector.embed_calls", st.embedded.toDouble)
      if (reingest) {
        // the re-ingest gate covers every re-ingest, timed or not
        counters("ingest.rerun_embedded") += st.embedded.toDouble
        counters("ingest.rerun_new_chunks") += st.chunksNew.toDouble
      }
      st
    }

  /** (vec_id, doc_id, embedding) of every stored chunk, as of now. */
  private def vecs(ix: Index): DataFrame =
    spark.read.parquet(ix.store).select(vecId.as("vec_id"), col("doc_id"), col("embedding"))

  private def buildIndexes(ix: Index): Unit = {
    val v = vecs(ix).select("vec_id", "embedding")
    tracer.span("vector.ivf.build") {
      IndexBuilder.buildIvfIndex(v, "embedding", sizes.clusters, IndexSeed, ix.ivf)
    }
    tracer.span("vector.hnsw.build") {
      GraphAnn.buildHnswGraph(v, "embedding", "vec_id", lsh, HnswM, ix.hnsw,
        maxLevel = HnswLevels)
    }
  }

  /** Re-ingests `docs`, then appends the chunks of the documents listed in
    * `freshFile` to IVF and HNSW. The store as listed before the ingest is
    * the HNSW append's existing corpus. */
  private def ingestAndAppend(ix: Index, docs: DataFrame, freshFile: String): Unit = {
    val before = vecs(ix).select("vec_id", "embedding")
    ingest(ix, docs, reingest = true)
    val ids = readJsonl(freshFile).map(_.get("doc_id").asLong)
    val fresh = vecs(ix).filter(col("doc_id").isin(ids: _*)).select("vec_id", "embedding")
    tracer.span("vector.ivf.append") {
      IndexBuilder.appendToIvfIndex(fresh, "embedding", ix.ivf)
    }
    tracer.span("vector.hnsw.append") {
      GraphAnn.appendToHnswGraph(spark, fresh, "embedding", "vec_id", lsh,
        HnswM, ix.hnsw, before, maxLevel = HnswLevels)
    }
  }

  /** A served index: its directories plus the frames a serve reads. */
  private final class Served(val ix: Index) {
    var corpus: DataFrame = _
    var texts: DataFrame = _
    var centers: Array[Array[Double]] = _
    def refresh(): Unit = {
      corpus = vecs(ix).select("vec_id", "embedding")
      texts = spark.read.parquet(ix.store)
        .select(vecId.as("vec_id"), col("chunk_text"), col("embedding"))
      centers = IndexBuilder.loadIvfCentroids(ix.ivf)
    }
    refresh()
  }

  private def embed(qs: Seq[Query]): (Seq[(Long, Array[Float])], DataFrame) =
    tracer.span("vector.embed") {
      val v = qs.map(q => q.qid -> Embedding.hashingEmbed(q.text, Dim))
      count("vector.embed_calls", qs.size.toDouble)
      val df = qs.zip(v).map { case (q, (_, e)) => (q.qid, q.text, e) }
        .toDF("qid", "qtext", "qvec")
      (v, df)
    }

  private def cands(route: String, rows: Array[Row]): Seq[Cand] =
    rows.toSeq.map(r => Cand(route, r.getLong(0), r.getLong(1), r.getDouble(2)))

  /** Exact top-k: a full cosineUnit scan, reduced like the IVF route. */
  private def exactTopK(s: Served, q: DataFrame): Seq[Cand] =
    tracer.span("vector.exact.serve") {
      import org.apache.spark.sql.graft.GroupTopK
      cands("exact", s.corpus.crossJoin(broadcast(q.select("qid", "qvec")))
        .withColumn("score_e6", round(
          VectorFunctions.cosineUnit(col("embedding"), col("qvec")) * 1e6, 0).cast("long"))
        .groupBy(col("qid"))
        .agg(GroupTopK.topK(col("score_e6"), format_string("%012d", col("vec_id")), K).as("top"))
        .select(col("qid"), explode(col("top")))
        .select(col("qid"), col("col.payload").cast("long"), col("col.score") / 1e6)
        .collect())
    }

  private def ivfTopK(s: Served, q: DataFrame): Seq[Cand] =
    tracer.span("vector.ivf.serve") {
      cands("ivf", IndexBuilder.ivfBatchTopK(spark.read.parquet(s.ix.ivf), s.centers,
        q.select("qid", "qvec"), "qid", "qvec", K, NProbe)
        .select("qid", "vec_id", "score").collect())
    }

  private def hnswTopK(s: Served, qv: Seq[(Long, Array[Float])]): Seq[Cand] =
    tracer.span("vector.hnsw.serve") {
      val pins0 = GraphAnn.pinBuilds
      val t0 = nowNs
      val out = cands("hnsw", GraphAnn.hnswServedSearch(spark, s.ix.hnsw, s.corpus,
        "embedding", "vec_id", qv, K, maxLevel = HnswLevels).select("qid", "vec_id", "score").collect())
      val built = GraphAnn.pinBuilds - pins0
      if (built > 0) firstServeMs += msSince(t0)
      count("vector.hnsw_pin_builds", built.toDouble)
      out
    }

  /** Rerank candidates with Rag.lexicalScore, keep relevance ≥ Threshold
    * (VectorFunctions.relevance), and the top `FinalK` per (route, qid),
    * in rank order. */
  private def rerank(s: Served, cs: Seq[Cand], q: DataFrame): Seq[Row] =
    tracer.span("ops.rerank") {
      count("ops.candidates", cs.size.toDouble)
      count("ops.threshold_pass", cs.count(c => (1.0 + c.score) / 2.0 >= Threshold).toDouble)
      val w = Window.partitionBy("route", "qid")
        .orderBy(col("rerank").desc, col("vec_id").asc)
      cs.map(c => (c.route, c.qid, c.vecId)).toDF("route", "qid", "vec_id")
        .join(s.texts, Seq("vec_id"))
        .join(broadcast(q), Seq("qid"))
        .withColumn("relevance", VectorFunctions.relevance(col("embedding"), col("qvec")))
        .filter(col("relevance") >= Threshold)
        .withColumn("rerank", Rag.lexicalScore(col("qtext"), col("chunk_text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= FinalK)
        .orderBy("route", "qid", "rn")
        .select("route", "qid", "vec_id", "rerank", "relevance", "chunk_text")
        .collect().toSeq
    }

  /** Context per (route, qid): numbered sources in rank order. */
  private def contexts(rows: Seq[Row]): Map[(String, Long), (Seq[Source], String)] =
    tracer.span("ops.context") {
      val out = mutable.LinkedHashMap.empty[(String, Long), mutable.ArrayBuffer[Row]]
      rows.foreach(r => out.getOrElseUpdate((r.getString(0), r.getLong(1)),
        mutable.ArrayBuffer.empty) += r)
      out.map { case (key, rs) =>
        val text = rs.zipWithIndex.map { case (r, i) =>
          s"Source ${i + 1} (doc ${r.getLong(2) / 1000}, score " +
            s"${math.round(r.getDouble(3) * 1000)}): ${r.getString(5)}"
        }.mkString("\n\n")
        key -> (rs.map(r => Source(r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq, text)
      }.toMap
    }

  // ---- gates ----------------------------------------------------------------
  private def checkContexts(ctx: Map[(String, Long), (Seq[Source], String)]): Unit =
    ctx.foreach { case ((route, qid), (src, text)) =>
      gate(src.size <= FinalK, s"$route q$qid context has ${src.size} sources") &&
      gate(src.zip(src.drop(1)).forall { case (x, y) => x.rerank >= y.rerank },
        s"$route q$qid context out of score order") &&
      gate(src.forall(_.relevance >= Threshold),
        s"$route q$qid context holds a source under $Threshold relevance") &&
      gate(text.split("\n\nSource ").length == src.size || src.isEmpty,
        s"$route q$qid context text does not match its sources")
    }

  private def top(cs: Seq[Cand], n: Int): Map[Long, Seq[Long]] =
    cs.groupBy(_.qid).map { case (q, xs) =>
      q -> xs.sortBy(c => (-c.score, c.vecId)).take(n).map(_.vecId)
    }

  /** Recall@5 of each ANN route against exact, per query. */
  private def recordRecall(exact: Seq[Cand], ann: Seq[Cand]*): Map[String, Double] = {
    val ex = top(exact, 5)
    ann.filter(_.nonEmpty).map { cs =>
      val got = top(cs, 5)
      val r = ex.toSeq.map { case (q, want) =>
        got.getOrElse(q, Nil).count(want.contains).toDouble / math.max(1, want.size)
      }
      recall.getOrElseUpdate(cs.head.route, mutable.ArrayBuffer.empty) ++= r
      cs.head.route -> r.sum / math.max(1, r.size)
    }.toMap
  }

  /** Top-1 of a planted query must be the planted chunk, on IVF and HNSW. */
  private def plantedTop1(s: Served, label: String, vid: Long, hnswTop: Seq[Cand], q: DataFrame): Unit = {
    val h = top(hnswTop, 1).values.flatten.headOption
    val i = top(ivfTopK(s, q), 1).values.flatten.headOption
    gate(h.contains(vid), s"$label: planted $vid not top-1 on HNSW (got $h)")
    gate(i.contains(vid), s"$label: planted $vid not top-1 on IVF (got $i)")
  }

  private def batchOf(i: Int, n: Int): Seq[Query] =
    (0 until n).map(j => queries(((i * n) + j) % queries.size))

  // ---- set-up: the write path ------------------------------------------------
  /** The standing index, built from empty directories with no
    * buildIfAbsent: base docs ingested (chunk → embed → store), then IVF
    * and HNSW built over the stored chunks. With `slice`, the base docs
    * plus a new slice are re-ingested and the slice appended to both
    * indexes; its planted doc rides in the first served batch. */
  private def standingIndex(ix: Index, slice: Boolean): Unit = {
    deleteTree(ix.root)
    val base = readDocs(s"$input/base_docs.jsonl")
    val t0 = nowNs
    val st = ingest(ix, base, reingest = false)
    buildIndexes(ix)
    buildMs = msSince(t0)
    builtChunks = st.chunksNew.toDouble
    if (slice) {
      val (vid, text) = planted(-1)
      val tA = nowNs
      ingestAndAppend(ix, base.unionByName(readDocs(s"$input/slice_docs.jsonl")),
        s"$input/slice_docs.jsonl")
      appendMs += msSince(tA)
      sliceAppend = Some((vid, text, tA))
    }
  }

  /** The set-up slice's planted doc and append start, until served. */
  private var sliceAppend: Option[(Long, String, Long)] = None

  /** Builds the standing index once (each call into the write path costs
    * seconds of fixed Spark work, so repeating it does not fit a run);
    * returns its seconds and the served index. */
  private def setup(): (Double, Served) = {
    val ix = Index(s"$work/standing")
    val t0 = nowNs
    tracer.op("setup", 0)(standingIndex(ix, slice = workload == "serve_batch"))
    ((nowNs - t0) / 1e9, new Served(ix))
  }

  // ---- workloads --------------------------------------------------------------
  /** The timed phase runs a fixed count of requests; `--seconds` only
    * extends it, when those take less. */
  private def within(start: Long): Boolean = (nowNs - start) / 1e9 < seconds

  /** Traced runs alternate traced and untraced requests, so the tracing
    * overhead is measured in the same process. */
  private def traceOp(i: Int): Unit = tracer.enabled = traced && i % 2 == 0

  /** Closed loop, one client: one untimed warm batch, then `sizes.batches`
    * timed batches of `sizes.batch` queries, each through embed → exact,
    * IVF and HNSW top-k → rerank → threshold → context. */
  private def serveBatch(s: Served): Unit = {
    def one(i: Int, timed: Boolean): Unit = {
      // the first batch after the set-up's append carries its planted doc
      val fresh = sliceAppend
      sliceAppend = None
      val qs = batchOf(i, sizes.batch) ++ fresh.map { case (_, text, _) => Query(-1L, text) }
      val body = () => {
        val (qv, qdf) = embed(qs)
        val ex = exactTopK(s, qdf)
        val iv = ivfTopK(s, qdf)
        val hn = hnswTopK(s, qv)
        val ctx = contexts(rerank(s, ex ++ iv ++ hn, qdf))
        (ex, iv, hn, ctx)
      }
      val res =
        if (timed) timedOp("batch", i, main = true)(body())
        else Some((body(), 0.0))
      res.foreach { case ((ex, iv, hn, ctx), ms) =>
        fresh.foreach { case (vid, _, tA) =>
          val first = (cs: Seq[Cand]) => top(cs.filter(_.qid == -1L), 1).values.flatten.headOption
          if (first(hn).contains(vid)) visibleMs += msSince(tA)
          gate(first(hn).contains(vid), s"set-up slice: planted $vid not top-1 on HNSW")
          gate(first(iv).contains(vid), s"set-up slice: planted $vid not top-1 on IVF")
        }
        val r = recordRecall(ex, iv, hn)
        checkContexts(ctx)
        gate(r.getOrElse("ivf", 0.0) >= FloorIvf,
          f"batch $i IVF recall@5 ${r.getOrElse("ivf", 0.0)}%.3f < $FloorIvf")
        gate(r.getOrElse("hnsw", 0.0) >= FloorHnsw,
          f"batch $i HNSW recall@5 ${r.getOrElse("hnsw", 0.0)}%.3f < $FloorHnsw")
        if (timed) { items += qs.size; itemMs += ms }
      }
    }
    tracer.enabled = false
    one(0, timed = false)
    recall.clear()
    val t0 = nowNs
    var i = 0
    while (i < sizes.batches || within(t0)) { traceOp(i); one(1 + i, timed = true); i += 1 }
  }

  /** Closed loop, one client: one query at a time through HNSW to a
    * context. After every `AppendEvery` queries, as long as append files
    * are left, every document stored so far plus a new batch are
    * re-ingested and the new chunks appended to IVF and HNSW; the next
    * query is the new batch's planted doc. Recall is checked once,
    * untimed, before the timed loop, on the last `sizes.recallQueries`
    * query texts (no timed query repeats them) through all three routes. */
  private def interactiveFresh(s: Served): Unit = {
    var appendNo = 0
    def query(i: Int, q: Query, timed: Boolean): Option[Seq[Cand]] = {
      val body = () => {
        val (qv, qdf) = embed(Seq(q))
        val hn = hnswTopK(s, qv)
        val ctx = contexts(rerank(s, hn, qdf))
        (hn, ctx)
      }
      val res =
        if (timed) timedOp("query", i, main = true)(body())
        else Some((body(), 0.0))
      res.map { case ((hn, ctx), ms) =>
        if (timed) { items += 1; itemMs += ms }
        untraced(checkContexts(ctx))
        hn
      }
    }
    def append(): Unit = {
      val n = appendNo
      appendNo += 1
      // every document stored so far rides along and must not be re-embedded
      val docs = s"$input/base_docs.jsonl" +: appendFiles.take(n + 1)
      val docsDf = docs.map(readDocs).reduce(_ unionByName _)
      val tA = nowNs
      val body = () => {
        ingestAndAppend(s.ix, docsDf, appendFiles(n))
        s.refresh()
      }
      timedOp("append", n, main = false)(body()).foreach { case (_, ms) =>
        appendMs += ms
        // the next query is this append's planted doc
        val (vid, text) = planted(n)
        val q = Query(-1L - n, text)
        query(-1 - n, q, timed = true).foreach { hn =>
          if (top(hn, 1).values.flatten.headOption.contains(vid))
            visibleMs += msSince(tA)
          untraced(plantedTop1(s, s"append $n", vid, hn, embed(Seq(q))._2))
        }
      }
    }
    tracer.enabled = false
    val (qv, qdf) = embed(queries.takeRight(sizes.recallQueries))
    recordRecall(exactTopK(s, qdf), ivfTopK(s, qdf), hnswTopK(s, qv))
    (0 until WarmQueries).foreach(j => query(j, queries(j), timed = false))
    val t0 = nowNs
    var i = 0
    while (appendNo < appendFiles.size || within(t0)) {
      traceOp(i)
      query(i, queries((WarmQueries + i) % queries.size), timed = true)
      i += 1
      if (i % AppendEvery == 0 && appendNo < appendFiles.size) {
        tracer.enabled = traced
        append()
      }
    }
  }

  // ---- text/embed split of the fused ingest job (traced runs only) ----------
  /** IngestPipeline.run fuses chunk → embed → store into one Spark job, so
    * the traced run times those two layers with probes over the base
    * documents, after the timed requests, calling the functions the
    * pipeline calls: a `Chunking.chunkDocuments` pass into a no-op sink,
    * and `Embedding.hashingEmbed` over the chunk texts on this thread.
    * Returns the medians of 3 (chunk ms, embed ms). */
  private def ingestSplitProbe(docs: DataFrame): (Double, Double) = {
    val reps = 3
    val chunks = Chunking.chunkDocuments(docs, ChunkSize, Overlap)
    val chunkMs = median((0 until reps).map { _ =>
      val t0 = nowNs
      chunks.write.format("noop").mode("overwrite").save()
      msSince(t0)
    })
    val texts = chunks.select("chunk_text").as[String].collect()
    var sink = 0.0 // keeps the embeddings live
    val embedMs = median((0 until reps).map { _ =>
      val t0 = nowNs
      texts.foreach(t => sink += Embedding.hashingEmbed(t, Dim)(0))
      msSince(t0)
    })
    if (sink.isNaN) fail("probe embedding is NaN")
    (chunkMs, embedMs)
  }

  // ---- run + report -----------------------------------------------------------
  def run(sessionS: Double): String = {
    if (traced) spark.sparkContext.addSparkListener(ledger)
    tracer.enabled = traced
    val (setupS, served) = setup()
    workload match {
      case "serve_batch" => serveBatch(served)
      case "interactive_fresh" => interactiveFresh(served)
      case w => sys.error(s"unknown workload $w")
    }
    tracer.enabled = false
    val mainKind = if (workload == "serve_batch") "batch" else "query"
    val mainOps = opMs.getOrElse(mainKind, mutable.ArrayBuffer.empty[Double]).toSeq
    if (mainOps.isEmpty) fail("no timed request completed")

    val recallIvf = recall.get("ivf").map(r => r.sum / r.size).getOrElse(0.0)
    val recallHnsw = recall.get("hnsw").map(r => r.sum / r.size).getOrElse(0.0)
    gate(recallIvf >= FloorIvf, f"run IVF recall@5 $recallIvf%.3f < $FloorIvf")
    gate(recallHnsw >= FloorHnsw, f"run HNSW recall@5 $recallHnsw%.3f < $FloorHnsw")
    val rerunRatio = counters("ingest.rerun_embedded") /
      math.max(1.0, counters("ingest.rerun_new_chunks"))
    gate(rerunRatio == 1.0, s"re-ingest embedded ratio $rerunRatio != 1.0")
    if (appendMs.isEmpty) fail("no append completed")
    if (visibleMs.isEmpty) fail("no planted doc became visible")

    val split =
      if (traced) Some(ingestSplitProbe(readDocs(s"$input/base_docs.jsonl"))) else None
    val heapMb = retainedHeapMb()
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_build_s" -> setupS,
      "session_s" -> sessionS,
      "ingest_chunks_per_s" -> builtChunks / math.max(1e-9, buildMs / 1000.0),
      "qps" -> items / math.max(1e-9, itemMs / 1000.0),
      "request_p50_ms" -> median(mainOps),
      "request_p90_ms" -> quantile(mainOps, 0.9),
      "append_p50_ms" -> median(appendMs.toSeq),
      "append_to_visible_ms" -> median(visibleMs.toSeq),
      "recall_at_5_ivf" -> recallIvf,
      "recall_at_5_hnsw" -> recallHnsw,
      "retained_heap_mb" -> heapMb)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "attempted" -> attempted,
      "failed" -> math.min(failedOps, attempted),
      "failures" -> failures.toSeq,
      "ops" -> mainOps.size,
      "op_counts" -> opMs.map { case (kk, v) => kk -> v.size },
      "op_ms" -> opMs,
      "items" -> items,
      "end_to_end" -> e2e,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cpus" -> spark.sparkContext.defaultParallelism)
    if (traced) out("per_layer") = perLayer(mainKind, mainOps.size, heapMb, split)
    json(out)
  }

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Per-layer metrics from the spans of the traced main ops, the job
    * ledger and the counters; also writes the span file and summary. */
  private def perLayer(mainKind: String, nOps: Int, heapMb: Double,
      split: Option[(Double, Double)]): collection.Map[String, Any] = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val spans = tracer.spans
    val self = tracer.selfNs
    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(s: Span): Span =
      if (s.parent < 0) s else rootOf(byId(s.parent))
    val roots = spans.filter(s => s.parent < 0 && s.name == "op." + mainKind)
    def perCall(name: String): Double = {
      val xs = spans.filter(_.name == name).map(s => self(s.id) / 1e6)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val wallNs = roots.map(s => s.endNs - s.startNs).sum.toDouble
    val layerNs = spans.filter(s => s.parent >= 0 && rootOf(s).name == "op." + mainKind)
      .map(s => self(s.id)).sum.toDouble
    val coverage = if (wallNs > 0) layerNs / wallNs else 0.0
    gate(coverage >= 0.9, f"traced layer self-times cover $coverage%.3f of op wall")

    // Spark work per traced main op: jobs are matched to ops by start time
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val jobs = ledger.snapshot.filter(_.endMs >= 0)
    def jobNs(j: ledger.Job) = (j.startMs * 1000000L + offsetNs, j.endMs * 1000000L + offsetNs)
    val perOp = roots.map { r =>
      val js = jobs.filter { j => val (s, _) = jobNs(j); s >= r.startNs && s <= r.endNs }
      // union of job intervals clipped to the op
      val iv = js.map(jobNs).map { case (s, e) => (math.max(s, r.startNs), math.min(e, r.endNs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      (js.size.toDouble, js.map(_.stagesRun).sum.toDouble, js.map(_.tasks).sum.toDouble,
        js.map(_.runMs).sum.toDouble, js.map(_.shuffleBytes).sum.toDouble,
        (r.endNs - r.startNs - covered) / 1e6)
    }
    def mean(f: ((Double, Double, Double, Double, Double, Double)) => Double): Double =
      if (perOp.isEmpty) 0.0 else perOp.map(f).sum / perOp.size
    val overhead =
      if (tracedOpMs.isEmpty || untracedOpMs.isEmpty) 0.0
      else median(tracedOpMs.toSeq) / median(untracedOpMs.toSeq) - 1.0
    val per = math.max(1, nOps).toDouble

    val m = mutable.LinkedHashMap[String, Any](
      "text.chunk_ms" -> split.map(_._1).getOrElse(0.0),
      "text.chunks" -> counters("text.chunks") / per,
      "vector.embed_ms" -> split.map(_._2).getOrElse(perCall("vector.embed")),
      "vector.embed_calls" -> counters("vector.embed_calls") / per,
      "ingest.run_ms" -> perCall("ingest"),
      "ingest.rerun_embed_ratio" -> counters("ingest.rerun_embedded") /
        math.max(1.0, counters("ingest.rerun_new_chunks")),
      "vector.ivf_build_ms" -> perCall("vector.ivf.build"),
      "vector.ivf_append_ms" -> perCall("vector.ivf.append"),
      "vector.ivf_serve_ms" -> perCall("vector.ivf.serve"),
      "vector.hnsw_build_ms" -> perCall("vector.hnsw.build"),
      "vector.hnsw_append_ms" -> perCall("vector.hnsw.append"),
      "vector.hnsw_serve_ms" -> perCall("vector.hnsw.serve"),
      "vector.hnsw_first_serve_ms" -> (if (firstServeMs.isEmpty) 0.0 else median(firstServeMs.toSeq)),
      "vector.hnsw_pin_builds" -> counters("vector.hnsw_pin_builds") / per,
      "vector.exact_serve_ms" -> perCall("vector.exact.serve"),
      "ops.rerank_ms" -> perCall("ops.rerank"),
      "ops.context_ms" -> perCall("ops.context"),
      "ops.threshold_pass_ratio" -> counters("ops.threshold_pass") /
        math.max(1.0, counters("ops.candidates")),
      "spark.jobs" -> mean(_._1),
      "spark.stages" -> mean(_._2),
      "spark.tasks" -> mean(_._3),
      "spark.executor_run_ms" -> mean(_._4),
      "spark.shuffle_bytes" -> mean(_._5),
      "spark.outside_jobs_ms" -> mean(_._6),
      "jvm.gc_ms" -> (if (gcMs.isEmpty) 0.0 else gcMs.sum / gcMs.size),
      "jvm.retained_heap_mb" -> heapMb,
      "trace.self_time_coverage" -> coverage,
      "trace.overhead_ratio" -> overhead)

    // span file (one JSON object per span) and the per-layer summary
    val dir = Paths.get(a("trace-dir"))
    Files.createDirectories(dir)
    val lines = spans.map { s =>
      json(mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "req" -> s.req, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_ns" -> self(s.id)))
    } ++ jobs.map { j =>
      json(mutable.LinkedHashMap[String, Any]("job" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stagesRun, "tasks" -> j.tasks,
        "executor_run_ms" -> j.runMs, "shuffle_bytes" -> j.shuffleBytes))
    }
    Files.write(dir.resolve(s"spans-$workload.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // each job goes to the innermost span open at its start
    val jobsOf = jobs.groupBy { j =>
      val (js, _) = jobNs(j)
      spans.filter(s => s.startNs <= js && js <= s.endNs)
        .sortBy(-_.startNs).headOption.map(_.id).getOrElse(-1)
    }
    // per (root op kind, layer): calls, self time, and the Spark work it ran
    val summary = spans.groupBy(s => (rootOf(s).name, s.name)).toSeq
      .sortBy { case ((r, _), ss) => (r, -ss.map(s => self(s.id)).sum) }
      .map { case ((r, n), ss) =>
        val js = ss.flatMap(s => jobsOf.getOrElse(s.id, Nil))
        s"$r/$n" -> mutable.LinkedHashMap[String, Any]("calls" -> ss.size,
          "self_ms" -> ss.map(s => self(s.id)).sum / 1e6,
          "spark_jobs" -> js.size, "spark_tasks" -> js.map(_.tasks).sum,
          "executor_run_ms" -> js.map(_.runMs).sum)
      }
    Files.write(dir.resolve(s"layers-$workload.json"),
      json(mutable.LinkedHashMap[String, Any]("workload" -> workload,
        "traced_ops" -> roots.size, "op_wall_ms" -> wallNs / 1e6,
        "self_time_coverage" -> coverage, "tracing_overhead_ratio" -> overhead,
        "layers" -> mutable.LinkedHashMap(summary: _*))).getBytes(StandardCharsets.UTF_8))
    m
  }
}
