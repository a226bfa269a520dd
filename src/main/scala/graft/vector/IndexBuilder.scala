package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-built ANN index structures (SURVEY.md §2.9 V5).
  *
  * The reference's vector store is an online HNSW index inside ChromaDB
  * (`ingest_chunks_to_chromadb.py:81,221`); per BASELINE.json the Spark-native
  * analog is a BATCH-built index: the "index" is ordinary data — extra
  * pruning columns on the corpus table — and querying it is partition-pruned
  * scanning plus exact re-scoring. Two structures:
  *
  *  - Random-hyperplane LSH (Charikar 2002, "Similarity Estimation Techniques
  *    from Rounding Algorithms"): `nBits` seeded Gaussian hyperplanes; the
  *    sign pattern of v·h_i is the bucket id. Multi-probe = also scan buckets
  *    within Hamming radius r of the query signature.
  *  - IVF via MLlib KMeans: cluster centroids are the coarse quantizer;
  *    query scans the nProbe nearest clusters only.
  *
  * At 100 TB: the corpus parquet is written `partitionBy(bucket)` (or
  * cluster_id), so a query's candidate scan is file-pruned at the source —
  * the full corpus is never read. Probe-set selection happens driver-side on
  * O(nBits) planes / O(k) centroids; candidates are re-scored exactly with
  * the codegen'd dot product and reduced via TakeOrderedAndProject.
  */
object IndexBuilder {

  /** Deterministic random-hyperplane LSH. `java.util.Random` has a fixed,
    * documented algorithm, so signatures are bit-stable everywhere.
    */
  final class RandomHyperplaneLsh(val dim: Int, val nBits: Int, val seed: Long)
      extends Serializable {
    require(nBits > 0 && nBits <= 30, "nBits must be in (0, 30]")

    val planes: Array[Array[Double]] = {
      val rnd = new java.util.Random(seed)
      Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
    }

    def signature(v: Seq[Float]): Int = {
      var sig = 0
      var b = 0
      while (b < nBits) {
        val p = planes(b)
        var d = 0.0
        var i = 0
        val n = math.min(dim, v.length)
        while (i < n) { d += p(i) * v(i); i += 1 }
        if (d >= 0) sig |= (1 << b)
        b += 1
      }
      sig
    }

    /** All signatures within Hamming distance `radius` (multi-probe set). */
    def probes(sig: Int, radius: Int): Seq[Int] = {
      var acc = Set(sig)
      var frontier = Set(sig)
      (1 to radius).foreach { _ =>
        frontier = for {
          s <- frontier
          b <- (0 until nBits).toSet[Int]
        } yield s ^ (1 << b)
        acc ++= frontier
      }
      acc.toSeq.sorted
    }
  }

  /** Add the LSH bucket column (narrow map; index build = this + write). */
  def withLshBucket(df: DataFrame, embCol: String, lsh: RandomHyperplaneLsh,
      bucketCol: String = "bucket"): DataFrame = {
    val sigUdf = udf((v: Seq[Float]) => if (v == null) -1 else lsh.signature(v))
    df.withColumn(bucketCol, sigUdf(col(embCol)))
  }

  /** Persist the corpus as an LSH-partitioned index table: query-time bucket
    * filters become partition (file) pruning at the parquet source.
    */
  /** Cluster rows by the partition key before the partitioned write: an
    * unclustered `partitionBy` has EVERY input task open a writer per
    * bucket it sees (up to tasks × 2^nBits tiny files — the classic
    * dynamic-partition file explosion); one shuffle on the key writes one
    * file per bucket per owning task, which is also the layout the
    * compaction job would otherwise have to repair.
    */
  private[graft] def clusteredBy(df: DataFrame, key: String, nParts: Int): DataFrame =
    df.repartition(nParts, col(key))

  def buildLshIndex(df: DataFrame, embCol: String, lsh: RandomHyperplaneLsh,
      path: String): Unit =
    clusteredBy(withLshBucket(df, embCol, lsh), "bucket", 1 << lsh.nBits)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Incremental index maintenance: hash new vectors with the SAME seeded
    * hyperplanes and append into the existing bucket directories — no
    * rebuild, no touch of existing files. The deterministic signature is
    * what makes this sound: old and new rows with equal vectors land in
    * the same partition, so query-time probe pruning sees both. Steady
    * appends accumulate small files; `graft.ingest.Compaction` is the
    * companion maintenance job (it preserves `partitionBy` layouts).
    */
  def appendToLshIndex(df: DataFrame, embCol: String, lsh: RandomHyperplaneLsh,
      path: String): Unit =
    clusteredBy(withLshBucket(df, embCol, lsh), "bucket", 1 << lsh.nBits)
      .write.mode("append").partitionBy("bucket").parquet(path)

  /** EXACTLY-ONCE streaming index ingestion over an at-least-once channel
    * (`foreachBatch` replays whole micro-batches after a crash): each
    * batch stages into its OWN deterministic partition directory
    * (`batch=<id>/bucket=<b>/…`) with OVERWRITE — a replay rewrites the
    * identical directory instead of appending duplicate rows, which would
    * silently corrupt top-k results (a duplicated vector displaces a true
    * neighbor). `mode("append")` is exactly the bug here; idempotence
    * comes from the deterministic path + overwrite, the same discipline
    * as the MV writer's staged swap. The read side treats `batch` as just
    * another partition column, so probe-bucket pruning still prunes files
    * (every batch dir's `bucket=<probed>` children only).
    *
    * Returns true iff the batch was staged; false = the id was DECLINED
    * because the retention fold's roster has consumed it (a replay
    * arriving after its batch folded — its rows already live in the
    * consolidated leaf, so re-landing them would duplicate; see
    * [[graft.ingest.BatchRoster]]).
    */
  def stageLshBatch(df: DataFrame, embCol: String, lsh: RandomHyperplaneLsh,
      root: String, batchId: Long): Boolean =
    stageGated(df, root, batchId) {
      clusteredBy(withLshBucket(df, embCol, lsh), "bucket", 1 << lsh.nBits)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$root/batch=$batchId")
    }

  /** Roster-gated overwrite shared by every streaming stager: decline a
    * batch id the retention fold has consumed, and RE-CHECK after the
    * write so a fold committing mid-write cannot leave a re-landed copy
    * beside the folded one. The post-check is STATE-AWARE:
    *
    *  - `folded` — the swap completed and our id's rows live in the
    *    consolidated leaf; our just-written directory is a duplicate —
    *    delete it and decline.
    *  - `pending` — a fold has claimed the id but its swap has not
    *    committed; the directory is still the rows' durable home and
    *    our overwrite rewrote identical content (the determinism
    *    contract) — keep the directory, decline.
    *  - `leaf` — our overwrite just CLOBBERED the consolidated leaf
    *    with one batch's rows, destroying every other folded batch's.
    *    This cannot be self-healed (the folded copies are gone) and can
    *    only happen when a stager runs inside the fold's maintenance
    *    window — fail loudly instead of reporting a clean decline.
    *
    * The pre-check makes post-fold replays no-ops; the post-check
    * shrinks the in-flight overlap to the swap's delete-to-rename
    * window, which the fold's maintenance-window contract excludes.
    */
  private[graft] def stageGated(df: DataFrame, root: String, batchId: Long)(
      write: => Unit): Boolean = {
    val spark = df.sparkSession
    if (graft.ingest.BatchRoster.isConsumed(spark, root, batchId))
      return false
    write
    graft.ingest.BatchRoster.classify(spark, root, batchId) match {
      case "leaf" =>
        throw new IllegalStateException(
          s"stageGated: batch $batchId overwrote the consolidated leaf " +
            s"of $root mid-fold — folded rows are lost; stagers must " +
            "not run inside the fold's maintenance window")
      case "folded" =>
        val p = new org.apache.hadoop.fs.Path(s"$root/batch=$batchId")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        false
      case "pending" =>
        false // the fold owns the id; our content is its content
      case _ => true
    }
  }

  /** LSH-pruned exact top-k: scan only the multi-probe buckets, re-score
    * exactly, keep k (score desc, id tiebreak).
    */
  def lshTopK(corpus: DataFrame, embCol: String, idCol: String,
      lsh: RandomHyperplaneLsh, queryVec: Array[Float], k: Int,
      radius: Int): DataFrame = {
    val qSig = lsh.signature(queryVec)
    val probeSet = lsh.probes(qSig, radius)
    // conf-keyed forget exclusion BEFORE the top-k (after it would
    // under-fill k); a no-op when spark.graft.forget.root is unset
    graft.ops.Forget.defaultExclusion(
        withLshBucket(corpus, embCol, lsh)
          .filter(col("bucket").isin(probeSet: _*)), idCol)
      .withColumn("score",
        round(VectorFunctions.cosineUnit(col(embCol), typedlit(queryVec.toSeq)), 6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Range search (the FAISS `range_search` surface): ALL neighbors with
    * similarity ≥ `minScore`, not a fixed k — the dedup/compliance shape
    * where the answer size is data-dependent. Same pruned probe scan as
    * `lshTopK`; the threshold filter rides the scan, so no Limit bounds
    * the plan and the result is every qualifying row IN THE PROBED
    * BUCKETS (approximate beyond the probe set, like every LSH query —
    * callers needing guaranteed completeness above a radius must widen
    * `radius` toward nBits). No driver-side state: output stays
    * distributed and can feed a join directly.
    */
  def lshRangeSearch(corpus: DataFrame, embCol: String, idCol: String,
      lsh: RandomHyperplaneLsh, queryVec: Array[Float], minScore: Double,
      radius: Int): DataFrame = {
    val probeSet = lsh.probes(lsh.signature(queryVec.toSeq), radius)
    withLshBucket(corpus, embCol, lsh)
      .filter(col("bucket").isin(probeSet: _*))
      .withColumn("score",
        round(VectorFunctions.cosineUnit(col(embCol),
          typedlit(queryVec.toSeq)), 6))
      .filter(col("score") >= minScore)
      .orderBy(col("score").desc, col(idCol).asc)
  }

  /** All XOR masks of popcount ≤ radius: the static, data-independent half
    * of multi-probe enumeration (the per-row signature is the other half).
    * `sig ^ mask` over these masks is exactly `probes(sig, radius)`, so
    * exploding the mask list turns batch probe-set generation into a
    * columnar expression — no driver-side per-query work.
    */
  def probeMasks(nBits: Int, radius: Int): Seq[Int] =
    (0 until (1 << nBits)).filter(m => Integer.bitCount(m) <= radius)

  /** BATCH LSH retrieval: answer ALL queries in one job — explode each
    * query's probe masks into (qid, bucket) rows, equi-join against the
    * bucket-partitioned index, re-score exactly, and reduce per query with
    * the bounded GroupTopK aggregate (shuffle volume O(queries·k), never
    * O(candidates)). This is the offline-RAG shape at 100 TB: a million
    * retrievals are ONE join, not a million scans. With a broadcastable
    * query batch the bucket join also drives DYNAMIC partition pruning on
    * the index scan — only the union of probed bucket directories is read.
    * For query batches too large to broadcast, drop the hint: both sides
    * hash-partition on bucket and the corpus side arrives pre-clustered
    * from the index layout.
    *
    * Scores are kept in integer e6 units through the aggregate (the repo's
    * cross-engine float discipline); `score = score_e6 / 1e6` equals the
    * single-query path's `round(cos, 6)`.
    */
  def lshBatchTopK(index: DataFrame, queries: DataFrame, qidCol: String,
      qvecCol: String, lsh: RandomHyperplaneLsh, k: Int, radius: Int,
      embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val masks = probeMasks(lsh.nBits, radius)
    val probed = withLshBucket(
        queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec")),
        "qvec", lsh, "qsig")
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("qid"), col("qvec"),
        col("qsig").bitwiseXOR(col("mask")).as("bucket"))
    scoreReduceTopK(index.join(broadcast(probed), Seq("bucket")),
      k, embCol, idCol)
  }

  /** Shared tail of every batch-retrieval join: exact e6-unit re-scoring of
    * the joined candidates and the bounded per-query GroupTopK reduction
    * (map-side partial, O(queries·k) across the exchange). Expects columns
    * `qid`, `qvec`, `embCol`, `idCol` on the input.
    */
  private def scoreReduceTopK(cands: DataFrame, k: Int, embCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.graft.GroupTopK
    cands
      .withColumn("score_e6",
        round(VectorFunctions.cosineUnit(col(embCol), col("qvec")) * 1e6, 0)
          .cast("long"))
      .groupBy(col("qid"))
      .agg(GroupTopK.topK(col("score_e6"),
        format_string("%012d", col(idCol)), k).as("top"))
      .select(col("qid"), explode(col("top")))
      .select(col("qid"), col("col.payload").cast("long").as("vec_id"),
        (col("col.score") / 1e6).as("score"))
  }

  /** k-NN SELF-join over the persisted index: every corpus vector's top-k
    * neighbors in ONE job — the corpus-graph / semantic-dedup building
    * block. The query side IS the corpus, so nothing broadcasts: probe
    * rows reuse the STORED bucket as the query signature (no re-hash of
    * the corpus), both sides hash-partition on bucket, and the index side
    * arrives pre-clustered from the write layout. Each corpus row lives in
    * exactly one bucket, so a (query, candidate) pair joins at most once —
    * no dedup pass. Self-pairs are excluded (a vector is trivially its own
    * nearest neighbor). Shuffle volume is corpus × |masks| probe rows in,
    * O(corpus·k) out of the bounded GroupTopK aggregate — the candidate
    * pairs themselves never cross an exchange. At production bit-widths
    * (nBits 16–20) the bucket key has enough cardinality to spread; at toy
    * widths parallelism is capped at 2^nBits partitions.
    */
  def lshKnnJoin(index: DataFrame, lsh: RandomHyperplaneLsh, k: Int,
      radius: Int, embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.graft.GroupTopK
    val masks = probeMasks(lsh.nBits, radius)
    val probed = index
      .select(col(idCol).as("qid"), col(embCol).as("qvec"),
        col("bucket").as("qsig"))
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("qid"), col("qvec"),
        col("qsig").bitwiseXOR(col("mask")).as("bucket"))
    scoreReduceTopK(
      index.join(probed, Seq("bucket")).filter(col(idCol) =!= col("qid")),
      k, embCol, idCol)
  }

  /** Skew-aware variant of the self-join's bucket shuffle. Real LSH
    * occupancy is skewed (the lsh_bucket_stats gate measures it); in the
    * no-broadcast shuffle join a hot bucket lands on ONE reducer and the
    * job runs at the straggler's pace. Buckets whose occupancy exceeds
    * `hotCap` are split into `nSalts` deterministic sub-keys
    * (`xxhash64(id) % nSalts` on the corpus side) and the PROBE side
    * replicates its rows across all salts of a hot bucket — cold buckets
    * pay nothing (salt 0, no replication). The hot-bucket list is a
    * bounded ≤ 2^nBits-row broadcast. Every (query, candidate) pair still
    * joins exactly once (an index row owns one salt), so results are
    * bit-identical to the unsalted join — spec-pinned, and the driver row
    * reuses the unsalted planted oracle verbatim. AQE's skew-join split
    * covers sort-merge plans; explicit salting also covers shuffle-hash
    * joins and keeps reducer key-ranges bounded BEFORE any runtime
    * re-plan, which is what survives a 100× corpus growth.
    */
  def lshKnnJoinSalted(index: DataFrame, lsh: RandomHyperplaneLsh, k: Int,
      radius: Int, hotCap: Long, nSalts: Int,
      embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val masks = probeMasks(lsh.nBits, radius)
    val hot = index.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > hotCap).select(col("bucket"), lit(true).as("hot"))
    val salted = index.join(broadcast(hot), Seq("bucket"), "left")
      .withColumn("salt", when(col("hot").isNotNull,
        pmod(xxhash64(col(idCol)), lit(nSalts.toLong))).otherwise(lit(0L)))
      .drop("hot")
    val probed = index
      .select(col(idCol).as("qid"), col(embCol).as("qvec"),
        col("bucket").as("qsig"))
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("qid"), col("qvec"),
        col("qsig").bitwiseXOR(col("mask")).as("bucket"))
      .join(broadcast(hot), Seq("bucket"), "left")
      .withColumn("salt", explode(when(col("hot").isNotNull,
        sequence(lit(0L), lit(nSalts.toLong - 1)))
        .otherwise(sequence(lit(0L), lit(0L)))))
      .select("qid", "qvec", "bucket", "salt")
    scoreReduceTopK(
      salted.join(probed, Seq("bucket", "salt"))
        .filter(col(idCol) =!= col("qid")),
      k, embCol, idCol)
  }

  /** BATCH IVF retrieval: the `lshBatchTopK` shape with nProbe centroid
    * pruning as the probe generator, computed COLUMNARLY — each query row
    * explodes against the literal centroid table (numClusters × dim
    * doubles, plan-time constant), per-(qid, cluster) L2 is a zip_with /
    * aggregate fold evaluating in the same sequential order as the
    * driver-side `nearestClusters` (bit-equal distances, same
    * (d2, cluster_id) tie-break), and a per-qid window keeps the nProbe
    * nearest. The probe join against the cluster-partitioned index then
    * drives partition pruning exactly as the single-query path's
    * `cluster_id IN` filter does, and the reduction is the shared bounded
    * GroupTopK tail.
    */
  def ivfBatchTopK(index: DataFrame, centers: Array[Array[Double]],
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nProbe: Int, embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val centroidRows: Seq[(Int, Seq[Double])] =
      centers.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val probed = queries
      .select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
      .withColumn("c", explode(typedlit(centroidRows)))
      .withColumn("d2", aggregate(
        zip_with(col("qvec"), col("c._2"),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("d2").asc, col("c._1").asc)))
      .filter(col("rk") <= nProbe)
      .select(col("qid"), col("qvec"), col("c._1").as("cluster_id"))
    scoreReduceTopK(index.join(broadcast(probed), Seq("cluster_id")),
      k, embCol, idCol)
  }

  /** IVF coarse quantizer: seeded Lloyd's KMeans fit driver-side on a
    * BOUNDED sample of the corpus (the FAISS training pattern — centroids
    * are O(k·dim) bytes; training them does not need the cluster). A
    * distributed fit spends seconds of job-scheduling overhead per
    * iteration to compute 16 centroids; the sample fit is milliseconds and
    * bit-stable (seeded kmeans++ init, fixed iteration cap). At 100 TB the
    * sample cap, not the corpus size, bounds training cost.
    */
  def fitIvfCentroids(df: DataFrame, embCol: String, numClusters: Int,
      seed: Long, sampleCap: Int = 16384, maxIter: Int = 15): Array[Array[Double]] = {
    val sample = hashSample(df, embCol, sampleCap)
    require(sample.nonEmpty, "cannot fit IVF centroids on an empty corpus")
    kmeansFit(sample, numClusters, seed, maxIter)
  }

  /** Content-defined bounded sample: order by a hash of the vector itself,
    * so the training set is a deterministic pseudo-random draw from the
    * WHOLE corpus regardless of partition/file order. A bare limit() would
    * train on whichever file is delivered first — at 100 TB that is one
    * file's distribution and the quantizer degrades. TakeOrderedAndProject
    * keeps this a per-partition top-cap heap, not a global sort. (Hash
    * ties are identical vectors up to a 2^-64 collision, so the sampled
    * multiset is deterministic without a secondary sort key.)
    */
  private[vector] def hashSample(df: DataFrame, embCol: String,
      sampleCap: Int): Array[Array[Double]] =
    df.select(col(embCol))
      .orderBy(xxhash64(col(embCol)))
      .limit(sampleCap)
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))

  /** Seeded kmeans++ init + Lloyd's iterations on a driver-side sample —
    * shared by the IVF coarse quantizer and the per-subspace PQ codebook
    * fit. Bit-stable: fixed seed, fixed iteration cap, sequential
    * arithmetic.
    */
  private[vector] def kmeansFit(sample: Array[Array[Double]], numClusters: Int,
      seed: Long, maxIter: Int): Array[Array[Double]] = {
    val k = math.min(numClusters, sample.length)
    val dim = sample.head.length
    val rnd = new java.util.Random(seed)

    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    // kmeans++ seeding
    val centers = Array.ofDim[Array[Double]](k)
    centers(0) = sample(rnd.nextInt(sample.length)).clone()
    val minD2 = sample.map(d2(_, centers(0)))
    var c = 1
    while (c < k) {
      val total = minD2.sum
      var r = rnd.nextDouble() * total
      var pick = 0
      while (pick < sample.length - 1 && r > minD2(pick)) { r -= minD2(pick); pick += 1 }
      centers(c) = sample(pick).clone()
      var i = 0
      while (i < sample.length) {
        val d = d2(sample(i), centers(c))
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
      c += 1
    }

    // Lloyd's iterations
    val assign = new Array[Int](sample.length)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < sample.length) {
        var best = 0; var bestD = Double.MaxValue; var j = 0
        while (j < k) {
          val d = d2(sample(i), centers(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      i = 0
      while (i < sample.length) {
        val s = sums(assign(i)); val v = sample(i)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(assign(i)) += 1
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          var m = 0
          while (m < dim) { centers(j)(m) = sums(j)(m) / counts(j); m += 1 }
        }
        j += 1
      }
      iter += 1
    }
    centers
  }

  /** IVF cluster-assignment column: nearest centroid per row — a narrow
    * map over broadcast-size centroids. Fits are memoized per logical
    * input: an IVF index is built ONCE as a batch job and then queried
    * many times — re-fitting per query would be like rebuilding a B-tree
    * per lookup (at 100 TB the assigned frame is persisted parquet
    * partitioned by cluster_id — see buildLshIndex for the same pattern).
    */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int, Long), Array[Array[Double]]]

  def withIvfCluster(df: DataFrame, embCol: String, numClusters: Int,
      seed: Long): (DataFrame, Array[Array[Double]]) = {
    // keyed like every other input-derived memo (ResultCache.cacheKey):
    // the plan plus the files each relation's listing captured and the
    // rows of inline LocalRelations, so a frame re-read after a file
    // lands in its root, or a different set of local rows, refits
    val key = (graft.ops.ResultCache.cacheKey(df), embCol, numClusters, seed)
    // memoize ONLY the fit (the k-means collects): the assigned FRAME is
    // rebuilt on the CALLER's df every time. Caching the frame itself
    // silently pinned the FIRST caller's SparkSession into every later
    // caller's plan — a session-crossing leak that made the conf-keyed
    // forget exclusion (which reads df.sparkSession's conf at the serve
    // tail) consult the WRONG session's conf and skip the exclusion
    // whenever an unarmed session had warmed this key first (surfaced
    // as an order-dependent forget_conf_default_topk failure).
    val centers = ivfCache.getOrElseUpdate(key,
      fitIvfCentroids(df, embCol, numClusters, seed))
    (df.withColumn("cluster_id", assignUdf(centers)(col(embCol))), centers)
  }

  /** Nearest-centroid (L2) assignment against FIXED centroids — shared by
    * the fitting build and the incremental append so both paths assign
    * identically (ties keep the lowest centroid index in both).
    */
  private def assignUdf(centers: Array[Array[Double]]) = udf { (v: Seq[Float]) =>
    var best = 0; var bestD = Double.MaxValue; var j = 0
    while (j < centers.length) {
      val cj = centers(j)
      var s = 0.0; var i = 0
      val n = math.min(cj.length, v.length)
      while (i < n) { val d = cj(i) - v(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = j }
      j += 1
    }
    best
  }

  /** The nProbe nearest centroids to a query vector (L2; ties keep
    * centroid-index order — `sortBy` is stable). Shared by ivfTopK and the
    * ANN optimizer rewrite so both compute the SAME probe set.
    */
  def nearestClusters(centers: Array[Array[Double]], queryVec: Array[Float],
      nProbe: Int): Seq[Int] =
    centers.zipWithIndex
      .map { case (arr, i) =>
        var d = 0.0
        var j = 0
        while (j < math.min(arr.length, queryVec.length)) {
          val diff = arr(j) - queryVec(j); d += diff * diff; j += 1
        }
        (d, i)
      }
      .sortBy(_._1).take(nProbe).map(_._2).toSeq

  /** IVF-pruned exact top-k: rank centroids by distance to the query on the
    * driver (centroids are tiny), scan the nProbe nearest clusters, re-score.
    */
  def ivfTopK(corpus: DataFrame, embCol: String, idCol: String,
      queryVec: Array[Float], k: Int, numClusters: Int, nProbe: Int,
      seed: Long): DataFrame = {
    val (clustered, centers) = withIvfCluster(corpus, embCol, numClusters, seed)
    val probeIds = nearestClusters(centers, queryVec, nProbe)
    // conf-keyed forget exclusion before the top-k (see lshTopK)
    graft.ops.Forget.defaultExclusion(
        clustered.filter(col("cluster_id").isin(probeIds: _*)), idCol)
      .withColumn("score",
        round(VectorFunctions.cosineUnit(col(embCol), typedlit(queryVec.toSeq)), 6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Centroid sidecar filename inside an IVF index table directory. The
    * underscore prefix makes Spark/Hadoop readers ignore it as data.
    */
  val IvfCentroidsFile = "_graft_ivf_centroids.txt"

  /** Write the centroid sidecar into `dir` (created if absent): one line
    * per centroid, `Double.toString` values joined by commas, which
    * `loadIvfCentroids` round-trips exactly. The one writer every IVF
    * family's build and train share. */
  def writeIvfCentroids(dir: String, centers: Array[Array[Double]]): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve(IvfCentroidsFile),
      centers.map(_.map(java.lang.Double.toString).mkString(",")).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Persist the corpus as an IVF-partitioned index table: cluster filters
    * become partition pruning, and the centroids are written as a tiny
    * text sidecar (`Double.toString` round-trips exactly) so query-time
    * components — including the plan-time optimizer rewrite — can rank
    * clusters without refitting.
    */
  def buildIvfIndex(df: DataFrame, embCol: String, numClusters: Int,
      seed: Long, path: String): Array[Array[Double]] = {
    val (clustered, centers) = withIvfCluster(df, embCol, numClusters, seed)
    clusteredBy(clustered, "cluster_id", numClusters)
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    writeIvfCentroids(path, centers)
    centers
  }

  /** Incremental IVF maintenance: assign arrivals against the PERSISTED
    * centroid sidecar (no refit — the FAISS add-after-train contract) and
    * append into the existing cluster directories. Because assignment is a
    * pure function of (vector, centroids) and the sidecar round-trips
    * doubles exactly, appended rows land in precisely the partitions a
    * fresh build would have put them in. Small-file accumulation is
    * `graft.ingest.Compaction`'s job, as with LSH appends.
    */
  def appendToIvfIndex(df: DataFrame, embCol: String, path: String): Unit = {
    val centers = loadIvfCentroids(path)
    clusteredBy(df.withColumn("cluster_id", assignUdf(centers)(col(embCol))),
        "cluster_id", centers.length)
      .write.mode("append").partitionBy("cluster_id").parquet(path)
  }

  /** Assign rows to the PERSISTED sidecar's nearest centroid without
    * writing — the pure serving-side half of `appendToIvfIndex`, for
    * probes that need the cluster id to prune a standing index scan
    * (e.g. incremental semantic dedup's admission check). */
  def assignAgainstSidecar(df: DataFrame, embCol: String, path: String): DataFrame = {
    val centers = loadIvfCentroids(path)
    df.withColumn("cluster_id", assignUdf(centers)(col(embCol)))
  }

  /** Train the coarse quantizer and write ONLY the centroid sidecar — the
    * bootstrap of a STREAMING-ingested IVF index, whose data arrives as
    * staged micro-batches (the FAISS train-then-add contract with no
    * batch data at train time beyond the training sample itself).
    */
  def trainIvfCentroids(df: DataFrame, embCol: String, numClusters: Int,
      seed: Long, root: String): Unit = {
    val (_, centers) = withIvfCluster(df, embCol, numClusters, seed)
    writeIvfCentroids(root, centers)
  }

  /** EXACTLY-ONCE micro-batch staging for a streaming IVF index — the
    * stageLshBatch discipline on the clustered layout: arrivals assign
    * against the STANDING sidecar (pure function of (vector, centroids),
    * never a refit) and land under a deterministic
    * `batch=<id>/cluster_id=<c>` directory with overwrite, so an
    * at-least-once redelivery rewrites its own batch directory instead
    * of appending a second copy. Readers partition-prune on cluster_id
    * across every batch directory; small-file folding across batches is
    * Compaction's job, as with LSH.
    */
  def stageIvfBatch(df: DataFrame, embCol: String, root: String,
      batchId: Long): Boolean =
    stageClusteredBatch(df, embCol, root, batchId, identity)

  /** The ONE exactly-once staging skeleton all cluster-partitioned
    * streaming families share (IVF, IVF-PQ, IVF-SQ8): assign against the
    * standing centroid sidecar, apply the family's row `encode` (PQ
    * codes / SQ8 quantization / identity), and overwrite the
    * deterministic `batch=<id>/cluster_id=<c>` directory — the
    * redelivery-idempotence contract lives HERE, once, so a change to
    * the batch-dir naming or overwrite discipline cannot drift between
    * families. Returns true iff staged (false = roster-declined replay
    * of a folded batch; see `stageGated`).
    */
  private[vector] def stageClusteredBatch(df: DataFrame, embCol: String,
      root: String, batchId: Long,
      encode: DataFrame => DataFrame): Boolean =
    stageGated(df, root, batchId) {
      val centers = loadIvfCentroids(root)
      clusteredBy(
          encode(df.withColumn("cluster_id", assignUdf(centers)(col(embCol)))),
          "cluster_id", centers.length)
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(s"$root/batch=$batchId")
    }

  /** Load a centroid sidecar written by buildIvfIndex. */
  def loadIvfCentroids(path: String): Array[Array[Double]] = {
    val raw = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, IvfCentroidsFile)),
      java.nio.charset.StandardCharsets.UTF_8)
    raw.split("\n").filter(_.nonEmpty)
      .map(_.split(",").map(java.lang.Double.parseDouble))
  }
}
