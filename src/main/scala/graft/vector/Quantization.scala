package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar int8 quantization for embedding columns (the FAISS SQ8 shape):
  * per-vector symmetric quantization `code_i = round(v_i / scale)` with
  * `scale = maxAbs / 127`, stored as a 4-byte scale + a `binary` code
  * column — 4× smaller than float32 at rest and in shuffle.
  *
  * Query shape: coarse top-(k·overscan) by QUANTIZED dot product (cheap,
  * reads only the codes), then EXACT rescore of the survivors on the
  * float column, then top-k. Quantization error only costs recall if a
  * true neighbor falls outside the overscan margin; the planted-pair
  * oracle and the recall spec pin both ends.
  *
  * The quantized dot is a UDF over two byte arrays: there is no built-in
  * over binary, and the alternative — decoding codes back to
  * array<float> and reusing graft_dot — rematerializes the 4× data the
  * codes exist to avoid.
  */
object Quantization {

  /** Quantize one vector: (scale, codes). Zero vector → scale 0, zero codes. */
  def quantize(v: Seq[Float]): (Float, Array[Byte]) = {
    if (v == null || v.isEmpty) return (0f, Array.empty)
    var maxAbs = 0f
    v.foreach(x => if (math.abs(x) > maxAbs) maxAbs = math.abs(x))
    if (maxAbs == 0f) return (0f, new Array[Byte](v.length))
    val scale = maxAbs / 127f
    val codes = new Array[Byte](v.length)
    var i = 0
    v.foreach { x =>
      codes(i) = math.max(-127, math.min(127, math.round(x / scale))).toByte
      i += 1
    }
    (scale, codes)
  }

  /** Approximate dot product from two quantized vectors. */
  def dotQ(scaleA: Float, a: Array[Byte], scaleB: Float, b: Array[Byte]): Double = {
    if (a == null || b == null) return 0.0
    val n = math.min(a.length, b.length)
    var acc = 0L // int8·int8 products stay in Long exactly
    var i = 0
    while (i < n) { acc += a(i).toLong * b(i).toLong; i += 1 }
    acc.toDouble * scaleA * scaleB
  }

  private val quantizeUdf = udf((v: Seq[Float]) => quantize(v))
  private val dotQUdf = udf(dotQ _)

  /** Add `q_scale: float` and `q_codes: binary` columns. Narrow map. */
  def withQuantized(df: DataFrame, embCol: String): DataFrame = {
    val q = quantizeUdf(col(embCol))
    df.withColumn("q_scale", q.getField("_1"))
      .withColumn("q_codes", q.getField("_2"))
  }

  def dotQCol(sa: Column, a: Column, sb: Column, b: Column): Column =
    dotQUdf(sa, a, sb, b)

  /** Persist a corpus with its quantized projection as an index table: the
    * at-scale layout where the coarse pass scans 4×-smaller codes and the
    * float column is read only for the exact rescore of survivors. (Same
    * builder pattern as IndexBuilder.buildLshIndex.)
    */
  def buildQuantizedIndex(df: DataFrame, embCol: String, path: String): Unit =
    withQuantized(df, embCol).write.mode("overwrite").parquet(path)

  /** Coarse quantized scores for a query vector over an already-quantized
    * corpus. Exposed separately so the plan audit can assert the coarse
    * branch's parquet scan reads codes only (no float column).
    */
  def coarseScores(quantized: DataFrame, queryVec: Array[Float]): DataFrame = {
    val (qs, qc) = quantize(queryVec.toSeq)
    quantized.withColumn("q_score",
      dotQCol(lit(qs), lit(qc), col("q_scale"), col("q_codes")))
  }

  /** Quantized-coarse / exact-fine top-k: rank by the quantized dot, keep
    * every candidate scoring at or above the `k * overscan`-th quantized
    * score (ties INCLUDED — int8 collapses distinct vectors to identical
    * codes, so a tie at the cut boundary is structural, and an id-ordered
    * truncation there could drop a true neighbor), rescore the survivors
    * exactly, return top-k.
    *
    * If the corpus already carries `q_scale`/`q_codes` (a pre-quantized
    * index projection — the at-scale shape, where the coarse pass reads
    * codes only), they are used as-is; otherwise they are derived from
    * the float column on the fly (convenient, but then the coarse pass
    * reads the floats it was meant to avoid).
    */
  def quantizedKnn(corpus: DataFrame, embCol: String, idCol: String,
      queryVec: Array[Float], k: Int, overscan: Int = 4): DataFrame = {
    // conf-keyed forget exclusion BEFORE the coarse pass — a forgotten
    // id never even quantize-scores; no-op with the conf unset
    val served = graft.ops.Forget.defaultExclusion(corpus, idCol)
    val quantized =
      if (served.columns.contains("q_scale") && served.columns.contains("q_codes")) served
      else withQuantized(served, embCol)
    val scored = coarseScores(quantized, queryVec)
    // boundary quantized score of the overscan set: one TakeOrdered over
    // the codes, one scalar to the driver
    val cutRow = scored.select(col("q_score"))
      .orderBy(col("q_score").desc).limit(k * overscan)
      .agg(org.apache.spark.sql.functions.min(col("q_score"))).head()
    // empty candidate set (empty corpus / fully-pruned scan): min is NULL
    if (cutRow.isNullAt(0))
      return quantized.select(col(idCol), lit(0.0d).as("score")).limit(0)
    val cutoff = cutRow.getDouble(0)
    scored.filter(col("q_score") >= cutoff)
      .withColumn("score", round(
        VectorFunctions.cosineUnit(col(embCol), typedlit(queryVec.toSeq)), 6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** IVF-SQ8 composed retrieval (the FAISS `IVFx,SQ8` shape — Johnson et
    * al. 2017): nProbe-nearest-centroid cluster pruning cuts the scanned
    * fraction to ~nProbe/numClusters, the int8 coarse pass ranks the
    * survivors on 4×-smaller codes, and only the overscan set is rescored
    * exactly. At 100 TB this is the index layout that keeps BOTH the scan
    * (partition pruning on cluster_id) and the bandwidth (codes-only
    * coarse read) sublinear; the float column is touched for ~k·overscan
    * rows per query.
    */
  def ivfSq8TopK(corpus: DataFrame, embCol: String, idCol: String,
      queryVec: Array[Float], k: Int, numClusters: Int, nProbe: Int,
      seed: Long, overscan: Int = 4): DataFrame = {
    val (clustered, centers) =
      IndexBuilder.withIvfCluster(corpus, embCol, numClusters, seed)
    val probes = IndexBuilder.nearestClusters(centers, queryVec, nProbe)
    quantizedKnn(clustered.filter(col("cluster_id").isin(probes: _*)),
      embCol, idCol, queryVec, k, overscan)
  }

  // ---- persisted IVF-SQ8 index (the write_index/read_index shape) ----

  /** Persist the corpus as an IVF-SQ8 index table: rows land in
    * `partitionBy(cluster_id)` directories carrying (q_scale, q_codes)
    * next to the float column, centroids in the shared text sidecar. A
    * query then pays NO training and NO encoding — sidecar-ranked
    * partition pruning bounds the scan, the stored int8 codes bound the
    * coarse bandwidth, and only the overscan survivors touch floats.
    * (`ivfSq8TopK` above is the in-memory form that re-fits per call;
    * this is the layout a 100 TB corpus serves from — the SQ8 sibling
    * of ProductQuantization.buildIvfPqIndex.)
    */
  def buildIvfSq8Index(df: DataFrame, embCol: String, numClusters: Int,
      seed: Long, path: String): Unit = {
    val (clustered, centers) =
      IndexBuilder.withIvfCluster(df, embCol, numClusters, seed)
    IndexBuilder.clusteredBy(
        withQuantized(clustered, embCol), "cluster_id", numClusters)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    IndexBuilder.writeIvfCentroids(path, centers)
  }

  /** Add vectors WITHOUT retraining: assignment and quantization are
    * pure functions of (vector, sidecar state) — the add-after-train
    * contract, as in appendToIvfPqIndex.
    */
  def appendToIvfSq8Index(df: DataFrame, embCol: String, path: String): Unit = {
    val centers = IndexBuilder.loadIvfCentroids(path)
    val assign = udf { (v: Seq[Float]) =>
      IndexBuilder.nearestClusters(centers, v.toArray, 1).head
    }
    IndexBuilder.clusteredBy(
        withQuantized(df.withColumn("cluster_id", assign(col(embCol))), embCol),
        "cluster_id", centers.length)
      .write.mode("append").partitionBy("cluster_id").parquet(path)
  }

  /** EXACTLY-ONCE micro-batch staging for a streaming IVF-SQ8 index —
    * `stageIvfBatch`'s discipline on the quantized layout: arrivals
    * assign against the STANDING centroid sidecar and int8-quantize
    * (both pure functions of the vector — SQ8 needs no codebook, so the
    * trained state is just `IndexBuilder.trainIvfCentroids`' sidecar),
    * landing under the deterministic `batch=<id>/cluster_id=<c>`
    * directory with overwrite: an at-least-once redelivery rewrites its
    * own batch directory instead of appending a second copy. Readers
    * partition-prune on cluster_id across every batch directory;
    * retention is `Compaction.foldStagedBatches`, as with LSH/IVF/PQ.
    */
  def stageSq8Batch(df: DataFrame, embCol: String, root: String,
      batchId: Long): Boolean =
    IndexBuilder.stageClusteredBatch(df, embCol, root, batchId,
      withQuantized(_, embCol))

  /** Query the persisted index: sidecar-ranked nProbe partition pruning,
    * stored-codes coarse pass, exact rescore of the tie-inclusive
    * overscan set. No fit, no encode — the serving path.
    */
  def ivfSq8IndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      nProbe: Int, overscan: Int = 4): DataFrame = {
    val centers = IndexBuilder.loadIvfCentroids(path)
    val probes = IndexBuilder.nearestClusters(centers, queryVec, nProbe)
    quantizedKnn(
      spark.read.parquet(path).filter(col("cluster_id").isin(probes: _*)),
      embCol, idCol, queryVec, k, overscan)
  }

  /** BATCHED retrieval from the persisted IVF-SQ8 index — the PQ batch
    * shape over int8 codes: one scan of the union of probe partitions
    * scores every query's quantized dot per row (each gated by its own
    * probe set, so batching never widens a query's scan semantics), one
    * rank window per-query tie-inclusive cutoffs, one row_number window
    * for the exact-rescored top-k. Queries quantize driver-side once.
    * Codes-only coarse pass: the explode and rank window carry
    * `(id, qid, q_score)` only; floats are fetched by a broadcast join
    * of the bounded survivor set back against the pruned index (the
    * 4×-smaller-codes bandwidth guarantee must survive batching).
    */
  def ivfSq8BatchIndexTopK(spark: org.apache.spark.sql.SparkSession,
      path: String, embCol: String, idCol: String,
      queries: Seq[(Long, Array[Float])], k: Int, nProbe: Int,
      overscan: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val centers = IndexBuilder.loadIvfCentroids(path)
    val probesOf: Map[Long, Seq[Int]] = queries.map { case (qid, qv) =>
      qid -> IndexBuilder.nearestClusters(centers, qv, nProbe)
    }.toMap
    val allProbes = probesOf.values.flatten.toSeq.distinct
    val index = spark.read.parquet(path)
      .filter(col("cluster_id").isin(allProbes: _*))
    val perQuery = queries.map { case (qid, qv) =>
      val (qs, qc) = quantize(qv.toSeq)
      struct(lit(qid).as("qid"),
        when(col("cluster_id").isin(probesOf(qid): _*),
          dotQCol(lit(qs), lit(qc), col("q_scale"), col("q_codes")))
          .as("q_score"))
    }
    val scored = index
      .withColumn("q", explode(array(perQuery: _*)))
      .filter(col("q.q_score").isNotNull)
      .select(col(idCol),
        col("q.qid").as("qid"), col("q.q_score").as("q_score"))
    val survivors = scored.withColumn("rk", rank().over(
        Window.partitionBy(col("qid")).orderBy(col("q_score").desc)))
      .filter(col("rk") <= k * overscan)
      .select(col("qid"), col(idCol))
    // bounded survivor ids broadcast back against the pruned index: the
    // float column is read on this second scan only, and never shuffled
    val kept = index.select(col(idCol), col(embCol))
      .join(broadcast(survivors), Seq(idCol))
    val qdf = broadcast(queries.map { case (qid, qv) => (qid, qv.toSeq) }
      .toDF("qid", "qvec"))
    kept.join(qdf, Seq("qid"))
      .withColumn("score", round(
        VectorFunctions.cosineUnit(col(embCol), col("qvec")), 6))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col(idCol).asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("score"))
  }
}
