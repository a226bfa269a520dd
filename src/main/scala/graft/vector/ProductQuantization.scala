package graft.vector

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for embedding columns (Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search" — the FAISS `PQm`
  * shape): split each D-dim vector into m subvectors, learn a ksub-entry
  * codebook per subspace (seeded k-means on a bounded deterministic
  * sample, shared with the IVF fit), store each vector as m code bytes —
  * 32× smaller than float32 for D=64/m=8 at rest and in shuffle.
  *
  * Subspace granularity is the fidelity dial: fewer dims per subspace →
  * exponentially finer effective codebook (ksub^m cells). For the
  * near-orthogonal unit vectors in the test corpus, m=16 × ksub=64
  * (4 dims/subspace, 16× compression) keeps the true top-k inside a 16×
  * overscan margin; the classic 8×256 setting suits clustered real-world
  * embeddings. Both are the FAISS parameter grid.
  *
  * Query shape (ADC — asymmetric distance computation): build an
  * m × ksub lookup table of ⟨query subvector, centroid⟩ dot products
  * ONCE per query driver-side, then score each stored vector with m
  * table lookups + adds over its code bytes — no float vector is read in
  * the coarse pass. Candidates at or above the k·overscan boundary
  * (ties included, same cut rule as the SQ8 path) are rescored exactly
  * on the float column; top-k of the rescore is returned. The driver
  * oracle for the self-query is the EXACT top-k SQL — a PQ bug that
  * perturbs the candidate set past the overscan margin breaks the
  * compare against an engine that never quantizes.
  *
  * Codebooks are O(m · ksub · D/m) doubles — kilobytes — and ride to
  * executors in the UDF closure; at 100 TB codes are persisted next to
  * the corpus (buildQuantizedIndex pattern) and the fit runs once as a
  * batch job.
  */
object ProductQuantization {

  /** Per-subspace codebooks: [subspace][centroid][subdim]. Requires
    * dim % m == 0 (pad upstream otherwise — the FAISS constraint too).
    */
  def fitCodebooks(df: DataFrame, embCol: String, m: Int, ksub: Int,
      seed: Long, sampleCap: Int = 16384): Array[Array[Array[Double]]] = {
    val sample = IndexBuilder.hashSample(df, embCol, sampleCap)
    require(sample.nonEmpty, "cannot fit PQ codebooks on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // The m subspace fits are INDEPENDENT (each owns its own sample slice
    // and its own seeded Random stream — seed + s), so they parallelize
    // across driver cores with bit-identical results to the sequential
    // loop (kmeansFit is pure compute, no shared state). Sequential, this
    // was the whole serve cost of the flat-PQ row: m=16 fits × 15 Lloyd
    // iterations over the sample ran ~1 s single-threaded while every
    // other core idled.
    val out = new Array[Array[Array[Double]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { s =>
      val slice = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      out(s) = IndexBuilder.kmeansFit(slice, ksub, seed + s, maxIter = 15)
    }
    out
  }

  /** Encode one vector: nearest centroid id per subspace, one byte each. */
  def encode(books: Array[Array[Array[Double]]], v: Seq[Float]): Array[Byte] = {
    val m = books.length
    val sub = books(0)(0).length
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cents = books(s)
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        while (i < sub) {
          val diff = v(s * sub + i) - cents(c)(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** ADC lookup table for a query: lut(s)(c) = ⟨q_s, centroid_sc⟩. */
  def adcTable(books: Array[Array[Array[Double]]],
      queryVec: Array[Float]): Array[Array[Double]] = {
    val sub = books(0)(0).length
    books.zipWithIndex.map { case (cents, s) =>
      cents.map { cent =>
        var acc = 0.0; var i = 0
        while (i < sub) { acc += queryVec(s * sub + i) * cent(i); i += 1 }
        acc
      }
    }
  }

  /** Add `pq_codes: binary` (m bytes per vector). Narrow map. */
  def withPqCodes(df: DataFrame, embCol: String,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val enc = udf((v: Seq[Float]) => encode(books, v))
    df.withColumn("pq_codes", enc(col(embCol)))
  }

  /** ADC coarse scores over encoded rows: m lookups + adds per vector,
    * run by the native codegen expression (org.apache.spark.sql.graft
    * .AdcScore) — the PQ scan's inner loop stays inside whole-stage
    * codegen instead of paying per-row UDF dispatch.
    */
  def adcScores(encoded: DataFrame, lut: Array[Array[Double]]): DataFrame =
    encoded.withColumn("adc_score",
      org.apache.spark.sql.graft.AdcScore(col("pq_codes"), lut))

  /** PQ-ADC coarse / exact-fine top-k (the quantizedKnn contract: tie-
    * inclusive overscan cut, exact rescore, deterministic id tie-break).
    */
  def pqKnn(corpus: DataFrame, embCol: String, idCol: String,
      queryVec: Array[Float], k: Int, m: Int = 16, ksub: Int = 64,
      seed: Long = 42L, overscan: Int = 16): DataFrame = {
    val books = fitCodebooks(corpus, embCol, m, ksub, seed)
    pqKnnWithBooks(corpus, embCol, idCol, books, queryVec, k, overscan)
  }

  /** The query-side half of pqKnn over PRE-FIT codebooks — shared by the
    * flat-PQ and IVF-PQ paths (train once, probe many: the codebooks are
    * a property of the corpus distribution, not of any one probe set).
    */
  def pqKnnWithBooks(corpus: DataFrame, embCol: String, idCol: String,
      books: Array[Array[Array[Double]]], queryVec: Array[Float],
      k: Int, overscan: Int): DataFrame =
    // spreadCpuBound on the FLAT path only: here encode + the ADC coarse
    // scan run over the whole corpus — twice (cutoff pass + candidate
    // filter) — and a one-file corpus is one task each. The persisted
    // IVF-PQ serve paths call pqSearchEncoded directly with a
    // partition-pruned index scan and must not pay a repartition.
    pqSearchEncoded(
      withPqCodes(graft.Tables.spreadCpuBound(corpus), embCol, books),
      embCol, idCol, books, queryVec, k, overscan)

  /** ADC coarse + exact rescore over rows that ALREADY carry `pq_codes`
    * (the persisted-index path: codes come off disk, never re-encoded).
    * The cutoff subquery projects only `adc_score` — column pruning keeps
    * the embedding column out of the coarse pass.
    */
  def pqSearchEncoded(encoded: DataFrame, embCol: String, idCol: String,
      books: Array[Array[Array[Double]]], queryVec: Array[Float],
      k: Int, overscan: Int): DataFrame = {
    // conf-keyed forget exclusion BEFORE the ADC coarse pass — a
    // forgotten id never even coarse-scores; no-op with the conf unset
    val served = graft.ops.Forget.defaultExclusion(encoded, idCol)
    val scored = adcScores(served, adcTable(books, queryVec))
    val cutRow = scored.select(col("adc_score"))
      .orderBy(col("adc_score").desc).limit(k * overscan)
      .agg(min(col("adc_score"))).head()
    // empty candidate set (empty corpus / fully-pruned scan): min is NULL
    if (cutRow.isNullAt(0))
      return served.select(col(idCol), lit(0.0d).as("score")).limit(0)
    val cutoff = cutRow.getDouble(0)
    scored.filter(col("adc_score") >= cutoff)
      .withColumn("score", round(
        VectorFunctions.cosineUnit(col(embCol), typedlit(queryVec.toSeq)), 6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** BATCHED retrieval from the persisted IVF-PQ index: ONE scan of the
    * union of every query's probe partitions scores ALL queries' ADC
    * LUTs per row inside whole-stage codegen (a per-query `when` gate
    * applies each query's OWN probe set, so batching never widens a
    * query's scan semantics), one rank window takes each query's
    * tie-inclusive overscan set, and one row_number window emits the
    * per-query exact-rescored top-k — batch cost is a single pass over
    * the probed rows plus two bounded window shuffles, instead of |q|
    * independent scans and |q| driver-side cutoff collects. Queries are
    * the serving batch (bounded, driver-held), as in the LSH/IVF/graph
    * batch paths. The coarse pass is CODES-ONLY: the explode and the
    * rank window carry `(id, qid, adc_score)` and nothing else — the
    * float column is fetched by joining the bounded survivor set
    * (broadcast, ≤|q|·k·overscan ids) back against the pruned index, so
    * at 100 TB the window shuffle moves m-byte codes' scores, never the
    * 8-32× wider embedding vectors (same guarantee PlanAuditSpec pins
    * for the per-query persisted path).
    */
  def ivfPqBatchIndexTopK(spark: org.apache.spark.sql.SparkSession,
      path: String, embCol: String, idCol: String,
      queries: Seq[(Long, Array[Float])], k: Int, nProbe: Int,
      overscan: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val books = loadPqCodebooks(path)
    val centers = IndexBuilder.loadIvfCentroids(path)
    val probesOf: Map[Long, Seq[Int]] = queries.map { case (qid, qv) =>
      qid -> IndexBuilder.nearestClusters(centers, qv, nProbe)
    }.toMap
    val allProbes = probesOf.values.flatten.toSeq.distinct
    val index = spark.read.parquet(path)
      .filter(col("cluster_id").isin(allProbes: _*))
    val perQuery = queries.map { case (qid, qv) =>
      struct(lit(qid).as("qid"),
        when(col("cluster_id").isin(probesOf(qid): _*),
          org.apache.spark.sql.graft.AdcScore(
            col("pq_codes"), adcTable(books, qv)))
          .as("adc_score"))
    }
    val scored = index
      .withColumn("q", explode(array(perQuery: _*)))
      .filter(col("q.adc_score").isNotNull)
      .select(col(idCol),
        col("q.qid").as("qid"), col("q.adc_score").as("adc_score"))
    val survivors = scored.withColumn("rk", rank().over(
        Window.partitionBy(col("qid")).orderBy(col("adc_score").desc)))
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

  /** IVF-PQ composed retrieval (the FAISS `IVFx,PQy` default index): the
    * nProbe nearest-centroid clusters bound the SCAN (partition pruning on
    * cluster_id), the m-byte PQ codes bound the BANDWIDTH of the coarse
    * ADC pass over the survivors, and only the tie-inclusive overscan set
    * touches the float column for the exact rescore. Codebooks are fit on
    * the full corpus with the same seed discipline as the IVF fit — an
    * arriving probe set never re-trains. At 100 TB this is the layout
    * where per-query cost is ~(nProbe/numClusters)·m bytes per stored
    * vector plus k·overscan float reads.
    */
  def ivfPqTopK(corpus: DataFrame, embCol: String, idCol: String,
      queryVec: Array[Float], k: Int, numClusters: Int, nProbe: Int,
      seed: Long, m: Int = 16, ksub: Int = 64, overscan: Int = 16): DataFrame = {
    val books = fitCodebooks(corpus, embCol, m, ksub, seed)
    val (clustered, centers) =
      IndexBuilder.withIvfCluster(corpus, embCol, numClusters, seed)
    val probes = IndexBuilder.nearestClusters(centers, queryVec, nProbe)
    pqKnnWithBooks(clustered.filter(col("cluster_id").isin(probes: _*)),
      embCol, idCol, books, queryVec, k, overscan)
  }

  // ---- persisted IVF-PQ index (the FAISS write_index/read_index shape) ----

  val PqCodebooksFile = "_graft_pq_codebooks.txt"

  /** Persist the corpus as an IVF-PQ index table: rows land in
    * `partitionBy(cluster_id)` directories carrying their m-byte
    * `pq_codes` next to the float column, and the trained state
    * (centroids + codebooks) is written as tiny text sidecars
    * (`Double.toString` round-trips exactly). A query then pays NO
    * training and NO encoding — nProbe partition pruning bounds the
    * scan, the stored codes bound coarse bandwidth, and only the
    * overscan survivors touch the float column. `ivfPqTopK` (above)
    * re-fits per call and is the oracle-anchored in-memory form; this is
    * the layout a 100 TB corpus actually serves from.
    */
  def buildIvfPqIndex(df: DataFrame, embCol: String, numClusters: Int,
      seed: Long, path: String, m: Int = 16, ksub: Int = 64): Unit = {
    val books = fitCodebooks(df, embCol, m, ksub, seed)
    val (clustered, centers) =
      IndexBuilder.withIvfCluster(df, embCol, numClusters, seed)
    IndexBuilder.clusteredBy(
        withPqCodes(clustered, embCol, books), "cluster_id", numClusters)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    IndexBuilder.writeIvfCentroids(path, centers)
    writePqCodebooks(path, books, m, ksub)
  }

  /** Write the codebook sidecar into `dir`: an `m,ksub` header, then one
    * line per (subspace, centroid) of `Double.toString` values, which
    * `loadPqCodebooks` round-trips exactly. */
  def writePqCodebooks(dir: String, books: Array[Array[Array[Double]]],
      m: Int, ksub: Int): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, PqCodebooksFile),
      (s"$m,$ksub" +:
        books.flatMap(_.map(_.map(java.lang.Double.toString).mkString(","))).toSeq)
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Load a codebook sidecar written by buildIvfPqIndex. */
  def loadPqCodebooks(path: String): Array[Array[Array[Double]]] = {
    val lines = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, PqCodebooksFile)),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
    val Array(m, ksub) = lines.head.split(",").map(_.trim.toInt)
    val flat = lines.tail.map(_.split(",").map(java.lang.Double.parseDouble))
    require(flat.length == m * ksub,
      s"codebook sidecar holds ${flat.length} rows, expected ${m * ksub}")
    Array.tabulate(m)(s => Array.tabulate(ksub)(c => flat(s * ksub + c)))
  }

  /** Add vectors to a persisted IVF-PQ index WITHOUT retraining (the
    * FAISS add-after-train contract): assignment and encoding are pure
    * functions of (vector, sidecar state), so arrivals land in exactly
    * the partitions and codes a fresh build would give them.
    */
  def appendToIvfPqIndex(df: DataFrame, embCol: String, path: String): Unit = {
    val centers = IndexBuilder.loadIvfCentroids(path)
    val books = loadPqCodebooks(path)
    val assign = udf { (v: Seq[Float]) =>
      IndexBuilder.nearestClusters(centers, v.toArray, 1).head
    }
    IndexBuilder.clusteredBy(
        withPqCodes(df.withColumn("cluster_id", assign(col(embCol))), embCol, books),
        "cluster_id", centers.length)
      .write.mode("append").partitionBy("cluster_id").parquet(path)
  }

  /** Train coarse centroids + PQ codebooks and write ONLY the sidecars —
    * the bootstrap of a STREAMING-ingested IVF-PQ index (the FAISS
    * train-then-add contract, `IndexBuilder.trainIvfCentroids`'s shape
    * extended with the codebook sidecar): batch data arrives later via
    * `stagePqBatch`, assigned and encoded against this frozen state.
    */
  def trainIvfPqSidecars(df: DataFrame, embCol: String, numClusters: Int,
      seed: Long, root: String, m: Int = 16, ksub: Int = 64): Unit = {
    val books = fitCodebooks(df, embCol, m, ksub, seed)
    val (_, centers) =
      IndexBuilder.withIvfCluster(df, embCol, numClusters, seed)
    IndexBuilder.writeIvfCentroids(root, centers)
    writePqCodebooks(root, books, m, ksub)
  }

  /** EXACTLY-ONCE micro-batch staging for a streaming IVF-PQ index — the
    * `stageIvfBatch` discipline on the ENCODED layout: arrivals assign
    * and PQ-encode against the STANDING sidecars (pure functions of
    * (vector, centroids/codebooks), never a refit) and land under the
    * deterministic `batch=<id>/cluster_id=<c>` directory with overwrite,
    * so an at-least-once redelivery rewrites its own batch directory
    * instead of appending a second copy. Readers partition-prune on
    * cluster_id across every batch directory; folding aged batches is
    * `Compaction.foldStagedBatches`, as with LSH/IVF.
    */
  def stagePqBatch(df: DataFrame, embCol: String, root: String,
      batchId: Long): Boolean = {
    val books = loadPqCodebooks(root)
    IndexBuilder.stageClusteredBatch(df, embCol, root, batchId,
      withPqCodes(_, embCol, books))
  }

  /** Query the persisted index: sidecar-ranked nProbe partition pruning,
    * stored-code ADC coarse pass, exact rescore of the tie-inclusive
    * overscan set. No fit, no encode — the serving path.
    */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      nProbe: Int, overscan: Int = 16): DataFrame = {
    val centers = IndexBuilder.loadIvfCentroids(path)
    val books = loadPqCodebooks(path)
    val probes = IndexBuilder.nearestClusters(centers, queryVec, nProbe)
    pqSearchEncoded(
      spark.read.parquet(path).filter(col("cluster_id").isin(probes: _*)),
      embCol, idCol, books, queryVec, k, overscan)
  }
}
