package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.vector.IndexBuilder
import graft.vector.IndexBuilder.RandomHyperplaneLsh

/** ANN query surface over the batch-built index structures (SURVEY.md §2.9
  * V5 + the training-pipeline similarity-search requirement).
  *
  * Random unit vectors are the worst case for LSH (angles concentrate near
  * 90°), so raw-corpus recall is asserted relative to the exact path in
  * AnnIndexSpec and documented as data-dependent. The scale path
  * (partitionBy(bucket) index table + partition-pruned scan) is exercised
  * in the spec via IndexBuilder.buildLshIndex.
  *
  * The seeded hyperplanes / KMeans fit are not SQL-expressible, so the
  * driver-checked top-k rows use the planted self-query construction (see
  * withPlantedSelfCopies): the pruned result provably equals an
  * SQL-enumerable exact top-k while the real pruned-scan machinery runs.
  */
object AnnIndex extends QueryModule {

  val Dim = 64
  def defaultLsh = new RandomHyperplaneLsh(Dim, nBits = 6, seed = 42L)

  private def queryVec(spark: SparkSession, dir: String, id: Long): Array[Float] =
    Tables.embeddings(spark, dir).filter(col("vec_id") === id)
      .select("embedding").head().getSeq[Float](0).toArray

  /** Deterministic LSH bucket per vector (the index build projection). */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    IndexBuilder.withLshBucket(Tables.embeddings(spark, dir), "embedding", defaultLsh)
      .select(col("vec_id"), col("bucket"))

  /** Bucket histogram — shows the index partitioning is usable (no empty /
    * giant skew buckets at this nBits).
    */
  def lshBucketStats(spark: SparkSession, dir: String): DataFrame =
    lshBuckets(spark, dir).groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("bucket"))

  /** Contract oracle for the bucket histogram (the lsh_buckets /
    * lsh_bucket_stats pair is engine-seeded and can't hash-compare, but
    * its INVARIANTS can): every vector assigned exactly one bucket in
    * [0, 2^nBits), histogram total equals the corpus count, at most
    * 2^nBits buckets. One violation row per breach; oracle = empty set.
    */
  def lshBucketInvariants(spark: SparkSession, dir: String): DataFrame = {
    val stats = lshBucketStats(spark, dir)
    val nBuckets = 1 << 6 // defaultLsh nBits
    val corpusCount = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n")).select(col("n"))
    val outOfRange = stats
      .filter(col("bucket") < 0 || col("bucket") >= nBuckets)
      .select(lit("bucket_range").as("violation"), col("bucket").cast("long").as("detail"))
    val totals = stats.agg(sum(col("n_vectors")).as("total"),
        count(lit(1)).as("n_buckets"))
      .crossJoin(corpusCount)
    val badTotal = totals.filter(col("total") =!= col("n"))
      .select(lit("total_mismatch").as("violation"), col("total").cast("long").as("detail"))
    val badCardinality = totals.filter(col("n_buckets") > nBuckets)
      .select(lit("too_many_buckets").as("violation"), col("n_buckets").cast("long").as("detail"))
    outOfRange.union(badTotal).union(badCardinality).orderBy("violation")
  }

  private val lshBucketInvariantsSql =
    """SELECT NULL::VARCHAR AS violation, NULL::BIGINT AS detail WHERE false""".stripMargin

  /** Driver gate for the bucket projection itself (formerly a rows-only
    * dump — the seeded hyperplanes aren't SQL-expressible, their contract
    * is): one violation row per breach, oracle = empty set.
    *
    *  - DETERMINISM: a FRESH RandomHyperplaneLsh instance with the same
    *    (dim, nBits, seed) must assign every vector the same bucket — the
    *    signature is a pure function of (vector, seed), and instance-
    *    dependent state would silently split the index from its queries;
    *  - COMPLETENESS: every corpus vector appears in the projection
    *    exactly once (anti-join both ways against embeddings).
    */
  def lshBucketsGate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = IndexBuilder.withLshBucket(e, "embedding", defaultLsh)
      .select(col("vec_id"), col("bucket").as("b1"))
    val b = IndexBuilder.withLshBucket(e, "embedding",
        new RandomHyperplaneLsh(Dim, nBits = 6, seed = 42L))
      .select(col("vec_id"), col("bucket").as("b2"))
    val nondeterm = a.join(b, Seq("vec_id"))
      .filter(col("b1") =!= col("b2"))
      .select(col("vec_id"), lit("instance_dependent_bucket").as("violation"))
    val proj = lshBuckets(spark, dir)
    val missing = e.select("vec_id")
      .join(proj, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit("vector_missing").as("violation"))
    val extra = proj.select("vec_id")
      .join(e.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit("unknown_vector").as("violation"))
    val multi = proj.groupBy("vec_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("vec_id"), lit("multiple_buckets").as("violation"))
    nondeterm.union(missing).union(extra).union(multi)
      .orderBy("vec_id", "violation")
  }

  private val lshBucketsGateSql =
    """SELECT NULL::BIGINT AS vec_id, NULL::VARCHAR AS violation WHERE false""".stripMargin

  /** Driver gate for the bucket histogram (formerly a rows-only dump;
    * totals/range live in lsh_bucket_invariants): DISTRIBUTION USABILITY —
    * the property the index design depends on. One violation row per
    * breach, oracle = empty set.
    *
    *  - SKEW: no bucket holds more than 25% of the corpus (uniform would
    *    be ~1.6% at 64 buckets; a skew-collapsed index loses its pruning);
    *  - OCCUPANCY: at least min(corpus, 2^nBits)/8 buckets are non-empty
    *    (hyperplane degeneration empties the table into few buckets).
    * Floors sit ≥ 10× under measured values on every sf (64/64 occupied,
    * max share ~3% at sf0.01) — only a real regression trips them.
    */
  def lshBucketStatsGate(spark: SparkSession, dir: String): DataFrame = {
    val stats = lshBucketStats(spark, dir)
    val totals = stats.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_buckets"))
    val skew = stats.crossJoin(broadcast(totals))
      .filter(col("n_vectors") * 4 > col("total"))
      .select(lit("bucket_skew").as("violation"),
        col("bucket").cast("long").as("detail"))
    val occupancy = totals
      .filter(col("n_buckets") * 8 < least(col("total"), lit(64L)))
      .select(lit("low_occupancy").as("violation"),
        col("n_buckets").cast("long").as("detail"))
    skew.union(occupancy).orderBy("violation")
  }

  private val lshBucketStatsGateSql =
    """SELECT NULL::VARCHAR AS violation, NULL::BIGINT AS detail WHERE false""".stripMargin

  /** "Measure, don't guess" probe-radius tuning: ONE job sweeps every
    * multi-probe radius 0..maxRadius. Probe rows carry their mask
    * popcount — which IS the signature Hamming distance to the probed
    * bucket, so each candidate joins once and then contributes (via a
    * bounded sequence-explode) to every radius ≥ its distance. Per-
    * (query, radius) pruned top-k reduces through GroupTopK alongside a
    * candidate count, and recall is judged against an exact brute-force
    * top-k computed in the SAME job (sample queries broadcast; the corpus
    * never moves). Output: one row per radius with integer-ppm mean
    * recall and the total candidates scanned — the curve an operator
    * reads to pick the cheapest radius meeting a recall target
    * (`chooseProbeRadius`). At 100 TB this is the nightly index-health
    * job: sample cost is |sample|·masks probe rows, never a corpus pass
    * beyond the one exact scoring sweep over the bounded sample.
    */
  def annTuningCurveOf(spark: SparkSession, dir: String, maxRadius: Int = 3,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.graft.GroupTopK
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val scoreE6 = round(graft.vector.VectorFunctions
      .cosineUnit(col("embedding"), col("qvec")) * 1e6, 0).cast("long")
    val exact = e.crossJoin(broadcast(queries))
      .withColumn("score_e6", scoreE6)
      .groupBy(col("qid"))
      .agg(GroupTopK.topK(col("score_e6"),
        format_string("%012d", col("vec_id")), k).as("top"))
      .select(col("qid"), explode(col("top")))
      .select(col("qid"), col("col.payload").cast("long").as("vec_id"),
        lit(1L).as("hit"))
    val masksWithHam: Seq[(Int, Int)] = IndexBuilder
      .probeMasks(defaultLsh.nBits, maxRadius)
      .map(m => (m, Integer.bitCount(m)))
    val probed = IndexBuilder.withLshBucket(queries, "qvec", defaultLsh, "qsig")
      .withColumn("mh", explode(typedlit(masksWithHam)))
      .select(col("qid"), col("qvec"),
        col("qsig").bitwiseXOR(col("mh._1")).as("bucket"),
        col("mh._2").as("ham"))
    val perQuery = IndexBuilder.withLshBucket(e, "embedding", defaultLsh)
      .join(broadcast(probed), Seq("bucket"))
      .withColumn("score_e6", scoreE6)
      .withColumn("radius", explode(sequence(col("ham"), lit(maxRadius))))
      .groupBy(col("qid"), col("radius"))
      .agg(GroupTopK.topK(col("score_e6"),
          format_string("%012d", col("vec_id")), k).as("top"),
        count(lit(1)).as("n_candidates"))
      .select(col("qid"), col("radius"), col("n_candidates"),
        explode(col("top")))
      .select(col("qid"), col("radius"), col("n_candidates"),
        col("col.payload").cast("long").as("vec_id"))
      .join(exact, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"), col("radius"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        first(col("n_candidates")).as("n_candidates"))
    perQuery.groupBy(col("radius").cast("long").as("radius"))
      .agg((sum(col("hits")) * 1000000L).as("hits_e6"),
        (count(lit(1)) * k).as("denom"),
        sum(col("n_candidates")).as("total_candidates"))
      .select(col("radius"), (col("hits_e6") / col("denom"))
        .cast("long").as("recall_ppm"), col("total_candidates"))
      .orderBy("radius")
  }

  /** Minimal radius on a measured curve meeting `targetPpm` recall —
    * the serving config an operator deploys; falls back to the max
    * measured radius when the target is unreachable.
    */
  def chooseProbeRadius(curve: DataFrame, targetPpm: Long): Int = {
    val rows = curve.select("radius", "recall_ppm").collect()
      .map(r => (r.getAs[Long]("radius"), r.getAs[Long]("recall_ppm")))
      .sortBy(_._1)
    rows.find(_._2 >= targetPpm).map(_._1.toInt)
      .getOrElse(rows.last._1.toInt)
  }

  /** The deployed recall target for LSH multi-probe serving: 50% mean
    * recall@10 on the measured sample. Random unit vectors are the
    * pruning-adversarial case for hyperplane LSH (measured radius-2
    * recall 0.54–0.62 across sfs, radius-1 well under the target), so
    * the minimal target-meeting radius lands on the 22/64-bucket probe —
    * real clustered embeddings would tune cheaper from the same curve.
    */
  val LshTargetPpm = 500000L

  /** The radius tuning curve served through the result cache — ONE sweep
    * per data version, every repeat a bounded parquet read (rows are
    * unordered on a hit, per the cache contract; consumers sort).
    */
  def cachedLshCurve(spark: SparkSession, dir: String): DataFrame =
    ResultCache.cached(spark, annTuningCurveOf(spark, dir),
      Tables.scratchPath("graft_lshcurve", dir))

  /** The LSH half of the measure→deploy loop, closed (the tunedNProbe
    * shape): the probe radius every LSH serving row uses is the MINIMAL
    * setting whose measured recall on the cached tuning curve meets the
    * target — never a hardcoded guess. Cost is one curve sweep per data
    * version (result-cached above), then a ≤ maxRadius-row read per
    * deploy decision. The planted-oracle rows are radius-invariant by
    * construction (copies share the query's radius-0 bucket), so the row
    * answers stay exact at ANY measured choice — only the probe cost
    * moves with the curve.
    */
  // Deploy decisions memoized per (knob, dir, data stamp): the curves are
  // result-cached, but every serving site still paid a plan-signature walk
  // plus a curve-read JOB per call — ~15 sites per board sweep for the
  // radius alone. The stamp is a cheap FS listing of the embeddings table
  // (count/bytes/max mtime), so an in-session data change still
  // invalidates and re-reads the (new) cached curve.
  // Keyed (knob, dir) → (stamp, value), replaced on stamp change: keeping
  // only the LATEST stamp per knob bounds the map for the life of the
  // session (the old keying grew one entry per data version and never
  // evicted stale stamps).
  private val knobCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, Int)]

  private def cachedKnob(knob: String, dir: String, stamp: String)
      (compute: => Int): Int =
    knobCache.get((knob, dir)) match {
      case Some((s, v)) if s == stamp => v
      case _ =>
        val v = compute
        knobCache.put((knob, dir), (stamp, v))
        v
    }

  private def embeddingsStamp(spark: SparkSession, dir: String): String =
    graft.FileListing.stamp(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(dir + "/embeddings.parquet"))
      .fold("absent")(_.toString)

  def tunedRadius(spark: SparkSession, dir: String,
      targetPpm: Long = LshTargetPpm): Int =
    cachedKnob(s"radius:$targetPpm", dir, embeddingsStamp(spark, dir)) {
      chooseProbeRadius(cachedLshCurve(spark, dir), targetPpm)
    }

  /** Driver gate over the tuning curve (engine-seeded → contract-checked):
    *  - MONOTONE RECALL / COST: enlarging the probe radius may never lose
    *    candidates, so both recall and candidates scanned are
    *    non-decreasing in r (candidates(r) ⊇ candidates(r-1) by
    *    construction — a join or explode bug breaks it);
    *  - RANGE: recall_ppm ∈ [0, 1e6];
    *  - SELF-HIT FLOOR: every radius ≥ 0 includes the query's own bucket,
    *    and the query IS a corpus row, so recall can never be 0;
    *  - CEILING FLOOR: radius-3 recall must clear 500000 ppm — measured
    *    ≥ ~0.9e6 on every sf (radius 3 of 6 bits probes 42/64 buckets),
    *    so only a real pruning regression trips it.
    */
  def annTuningGate(spark: SparkSession, dir: String): DataFrame = {
    // the same result-cached curve the deploy decision reads — the gate
    // pins the very measurements tunedRadius consumes
    val curve = cachedLshCurve(spark, dir).localCheckpoint(true)
    val w = Window.orderBy(col("radius"))
    val stepped = curve
      .withColumn("prev_recall", lag(col("recall_ppm"), 1).over(w))
      .withColumn("prev_cands", lag(col("total_candidates"), 1).over(w))
    val nonMonotone = stepped
      .filter(col("prev_recall").isNotNull &&
        (col("recall_ppm") < col("prev_recall") ||
         col("total_candidates") < col("prev_cands")))
      .select(lit("non_monotone").as("violation"),
        col("radius").cast("long").as("detail"))
    val outOfRange = curve
      .filter(col("recall_ppm") < 0 || col("recall_ppm") > 1000000L)
      .select(lit("recall_range").as("violation"),
        col("radius").cast("long").as("detail"))
    val zeroRecall = curve.filter(col("recall_ppm") === 0L)
      .select(lit("zero_recall").as("violation"),
        col("radius").cast("long").as("detail"))
    val weakCeiling = curve.filter(col("radius") === 3L &&
        col("recall_ppm") < 500000L)
      .select(lit("weak_ceiling").as("violation"),
        col("recall_ppm").as("detail"))
    nonMonotone.union(outOfRange).union(zeroRecall).union(weakCeiling)
      .orderBy("violation", "detail")
  }

  private val annTuningGateSql =
    """SELECT NULL::VARCHAR AS violation, NULL::BIGINT AS detail WHERE false""".stripMargin

  /** The IVF family's "measure, don't guess" job — nProbe is the knob an
    * IVF/IVF-PQ operator actually sweeps (the FAISS tuning loop), and it
    * was a hardcoded guess until this curve. Same one-job shape as the
    * LSH radius sweep: each sample query ranks ALL centroids once
    * (centroids are tiny, the ranking is driver-side and sample-bounded),
    * a candidate row joins its cluster's probe entry once and contributes
    * — via a bounded sequence-explode over centroid rank — to every
    * nProbe ≥ that rank. Per-(query, nProbe) pruned top-k reduces through
    * GroupTopK next to a candidate count; recall is judged against an
    * exact brute-force top-k computed in the SAME job. One row per
    * nProbe: integer-ppm mean recall + total candidates scanned — the
    * curve `chooseNProbe` reads. Probing all numClusters IS brute force,
    * so the curve's last point must be exact — the gate pins it.
    */
  def annIvfTuningCurveOf(spark: SparkSession, dir: String,
      numClusters: Int = 16, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.graft.GroupTopK
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val scoreE6 = round(graft.vector.VectorFunctions
      .cosineUnit(col("embedding"), col("qvec")) * 1e6, 0).cast("long")
    val exact = e.crossJoin(broadcast(queries))
      .withColumn("score_e6", scoreE6)
      .groupBy(col("qid"))
      .agg(GroupTopK.topK(col("score_e6"),
        format_string("%012d", col("vec_id")), k).as("top"))
      .select(col("qid"), explode(col("top")))
      .select(col("qid"), col("col.payload").cast("long").as("vec_id"),
        lit(1L).as("hit"))
    val (clustered, centers) = IndexBuilder.withIvfCluster(
      e, "embedding", numClusters, seed = 42L)
    // the full centroid ranking per sample query, driver-side: |sample| ×
    // numClusters rows — the serving-path bound, never corpus-sized
    val probeRows: Seq[(Long, Seq[Float], Int, Int)] =
      queries.collect().toIndexedSeq.flatMap { r =>
        val qid = r.getLong(0)
        val qvec = r.getSeq[Float](1)
        IndexBuilder.nearestClusters(centers, qvec.toArray, numClusters)
          .zipWithIndex.map { case (cid, i) => (qid, qvec, cid, i + 1) }
      }
    import spark.implicits._
    val probed = probeRows.toDF("qid", "qvec", "cluster_id", "rank")
    val perQuery = clustered
      .join(broadcast(probed), Seq("cluster_id"))
      .withColumn("score_e6", scoreE6)
      .withColumn("nprobe", explode(sequence(col("rank"), lit(numClusters))))
      .groupBy(col("qid"), col("nprobe"))
      .agg(GroupTopK.topK(col("score_e6"),
          format_string("%012d", col("vec_id")), k).as("top"),
        count(lit(1)).as("n_candidates"))
      .select(col("qid"), col("nprobe"), col("n_candidates"),
        explode(col("top")))
      .select(col("qid"), col("nprobe"), col("n_candidates"),
        col("col.payload").cast("long").as("vec_id"))
      .join(exact, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"), col("nprobe"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        first(col("n_candidates")).as("n_candidates"))
    perQuery.groupBy(col("nprobe").cast("long").as("nprobe"))
      .agg((sum(col("hits")) * 1000000L).as("hits_e6"),
        (count(lit(1)) * k).as("denom"),
        sum(col("n_candidates")).as("total_candidates"))
      .select(col("nprobe"), (col("hits_e6") / col("denom"))
        .cast("long").as("recall_ppm"), col("total_candidates"))
      .orderBy("nprobe")
  }

  /** Minimal nProbe on a measured curve meeting `targetPpm` recall — the
    * IVF serving config an operator deploys; the max measured nProbe
    * (which the gate proves exact) when the target is unreachable.
    */
  def chooseNProbe(curve: DataFrame, targetPpm: Long): Int = {
    val rows = curve.select("nprobe", "recall_ppm").collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("recall_ppm")))
      .sortBy(_._1)
    rows.find(_._2 >= targetPpm).map(_._1.toInt)
      .getOrElse(rows.last._1.toInt)
  }

  /** The deployed recall target for IVF serving: 95% mean recall@10 on
    * the measured sample. */
  val IvfTargetPpm = 950000L

  /** The nProbe tuning curve served through the result cache — ONE sweep
    * per data version, every repeat a bounded parquet read (rows are
    * unordered on a hit, per the cache contract; consumers sort).
    */
  def cachedIvfCurve(spark: SparkSession, dir: String,
      numClusters: Int = 16): DataFrame =
    ResultCache.cached(spark, annIvfTuningCurveOf(spark, dir, numClusters),
      Tables.scratchPath("graft_ivfcurve", dir))

  /** The measure→deploy loop, closed: the nProbe the IVF serving rows
    * actually use is the MINIMAL setting whose measured recall on the
    * cached tuning curve meets the target — never a hardcoded guess.
    * Cost is one curve sweep per data version (result-cached above),
    * then a ≤ numClusters-row read per deploy decision.
    */
  def tunedNProbe(spark: SparkSession, dir: String,
      numClusters: Int = 16, targetPpm: Long = IvfTargetPpm): Int =
    cachedKnob(s"nprobe:$numClusters:$targetPpm", dir,
        embeddingsStamp(spark, dir)) {
      chooseNProbe(cachedIvfCurve(spark, dir, numClusters), targetPpm)
    }

  /** Driver gate over the IVF nProbe curve (engine-seeded →
    * contract-checked), the LSH gate's exact shape plus one stronger pin:
    *  - MONOTONE RECALL / COST: probing one more centroid may never lose
    *    candidates (candidates(n) ⊇ candidates(n-1) by construction);
    *  - RANGE: recall_ppm ∈ [0, 1e6];
    *  - SELF-HIT FLOOR: a query's assigned cluster IS its nearest
    *    centroid, so nProbe ≥ 1 always scans the query itself — recall
    *    can never be 0;
    *  - FULL-PROBE EXACTNESS: nProbe = numClusters scans every cluster,
    *    i.e. brute force — recall_ppm must be exactly 1e6 there, so any
    *    assignment/ranking drift between the two paths trips the gate.
    */
  def annIvfTuningGate(spark: SparkSession, dir: String): DataFrame = {
    val numClusters = 16
    // the same result-cached curve the deploy decision reads — the gate
    // pins the very measurements tunedNProbe consumes
    val curve = cachedIvfCurve(spark, dir, numClusters).localCheckpoint(true)
    val w = Window.orderBy(col("nprobe"))
    val stepped = curve
      .withColumn("prev_recall", lag(col("recall_ppm"), 1).over(w))
      .withColumn("prev_cands", lag(col("total_candidates"), 1).over(w))
    val nonMonotone = stepped
      .filter(col("prev_recall").isNotNull &&
        (col("recall_ppm") < col("prev_recall") ||
         col("total_candidates") < col("prev_cands")))
      .select(lit("non_monotone").as("violation"),
        col("nprobe").cast("long").as("detail"))
    val outOfRange = curve
      .filter(col("recall_ppm") < 0 || col("recall_ppm") > 1000000L)
      .select(lit("recall_range").as("violation"),
        col("nprobe").cast("long").as("detail"))
    val zeroRecall = curve.filter(col("recall_ppm") === 0L)
      .select(lit("zero_recall").as("violation"),
        col("nprobe").cast("long").as("detail"))
    val fullProbeInexact = curve
      .filter(col("nprobe") === numClusters.toLong &&
        col("recall_ppm") =!= 1000000L)
      .select(lit("full_probe_not_exact").as("violation"),
        col("recall_ppm").as("detail"))
    nonMonotone.union(outOfRange).union(zeroRecall).union(fullProbeInexact)
      .orderBy("violation", "detail")
  }

  private val annIvfTuningGateSql =
    """SELECT NULL::VARCHAR AS violation, NULL::BIGINT AS detail WHERE false""".stripMargin

  /** Nine exact copies of stored vector 0 at ids 100000..100008 — the
    * self-query construction that makes the pruned top-k oracle-checkable:
    * identical vectors share vector 0's bucket/cluster by construction and
    * score cosine 1.0, far above the corpus's max non-self cosine to vec 0
    * (measured 0.33/0.37/0.41 at sf0.001/0.01/0.1), so the TRUE top-10 of
    * the augmented corpus is exactly {0, 100000..100008} — enumerable by
    * DuckDB without replicating the seeded hyperplanes / KMeans fit.
    */
  /** Copy rows as a LOCAL relation: the base vectors are collected once
    * (one pushed point-lookup job) and the copies ship inline with the
    * plan. The broadcast-crossJoin construction this replaced re-ran its
    * exchange on EVERY downstream execution of the corpus frame — a
    * serving walk's per-hop point lookups each re-broadcast the copy
    * side (2 async jobs per scorer call; 8 of the flat walk's 18 jobs
    * were copy re-broadcasts, profiled in tools/ProfileGraphRow `walk`).
    */
  private[graft] def plantedLocalRows(spark: SparkSession, e: DataFrame,
      pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val baseIds = pairs.map(_._2).distinct
    val vecs = e.filter(col("vec_id").isin(baseIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val embType = e.select("embedding").schema.head.dataType
    pairs.map { case (id, base) => (id, vecs(base)) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast(embType).as("embedding"))
  }

  private[graft] def withPlantedSelfCopies(spark: SparkSession, e: DataFrame): DataFrame =
    e.select("vec_id", "embedding").union(
      plantedLocalRows(spark, e, (100000L until 100009L).map(_ -> 0L)))

  private val annSelfQueryTopkSql =
    """SELECT vec_id, 1.0::DOUBLE AS score FROM (
      |  SELECT vec_id FROM embeddings WHERE vec_id = 0
      |  UNION ALL
      |  SELECT vec_id + 100000 FROM embeddings WHERE vec_id < 9) t
      |ORDER BY vec_id""".stripMargin

  /** T1 driver row for LSH-pruned retrieval under a real oracle
    * (`query_rag_database.py:361` is the reference's core query path).
    * LSH recall over raw random vectors is data-dependent (radius 2 probes
    * 22/64 buckets; exact recall@10 would need radius 6 = no pruning), and
    * the seeded hyperplanes are not SQL-expressible — so the raw-corpus
    * result can't be hash-compared. The planted self-query fixes that: the
    * pruned result is provably the exact top-10 BY CONSTRUCTION, while the
    * full machinery — signature, multi-probe enumeration, bucket
    * equi-filter, exact re-score, order, limit — runs for real. A
    * regression in any stage perturbs the row set and fails the driver
    * compare. Real-data recall is asserted in AnnIndexSpec via
    * annLshTopkReal.
    */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame =
    IndexBuilder.lshTopK(
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "embedding", "vec_id", defaultLsh, queryVec(spark, dir, 0L),
      k = 10, radius = tunedRadius(spark, dir))
      .select("vec_id", "score")

  /** LSH multi-probe pruned top-10 over the raw corpus (spec-only: recall
    * asserted against the exact path in AnnIndexSpec).
    */
  def annLshTopkReal(spark: SparkSession, dir: String): DataFrame =
    IndexBuilder.lshTopK(Tables.embeddings(spark, dir), "embedding", "vec_id",
      defaultLsh, queryVec(spark, dir, 0L), k = 10,
      radius = tunedRadius(spark, dir))
      .select("vec_id", "score")

  /** The PERSISTED LSH index path end-to-end under the same self-query
    * oracle (the quantized_index_knn pattern for the partition-pruned
    * scan): build the partitionBy(bucket) parquet index, read it back, and
    * retrieve with a literal probe-bucket filter — which Spark turns into
    * PARTITION pruning at the source (only radius-2 probe directories are
    * listed/read; the plan audit asserts the PartitionFilters). A
    * regression in index layout, bucket partitioning, or the probe filter
    * perturbs the row set against the exact oracle.
    */
  /** The planted LSH index fixture shared by the index/range rows — a
    * pure function of the corpus, built once per data version (the
    * cached-lifecycle rule applied to the plain builds too).
    */
  private def plantedLshIndexPath(spark: SparkSession, dir: String): String = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshindex_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"lsh:bits=${defaultLsh.nBits}:seed=42:planted:v1", path) {
      IndexBuilder.buildLshIndex(corpus, "embedding", defaultLsh, path)
    }
    path
  }

  def annLshIndexTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = plantedLshIndexPath(spark, dir)
    val index = spark.read.parquet(path)
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    index.filter(col("bucket").isin(probes: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  /** BATCH retrieval through the persisted index: five query vectors
    * answered by ONE probe-explode + bucket equi-join + grouped top-k job
    * (`IndexBuilder.lshBatchTopK`) — the offline-RAG shape where a million
    * retrievals are a join, not a million scans. The planted construction
    * extends the self-query oracle to the batch case: each query vector
    * q ∈ {0..4} gets nine exact copies with salted ids (100000 + 100·q + j),
    * which hash into q's own radius-0 bucket by construction, so each
    * query's pruned top-10 is provably its self row plus its nine copies —
    * all at score 1.0 — and the whole answer set is enumerable in SQL.
    * A regression in per-row signatures, mask enumeration, the bucket
    * join, e6 re-scoring, or the bounded GroupTopK reduction perturbs the
    * 50-row set and fails the driver compare. Real-data parity with the
    * single-query path is spec'd in AnnIndexSpec.
    */
  def annLshBatchTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshbatch_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = broadcast(qbase)
      .crossJoin(spark.range(0L, 9L).toDF("j"))
      .select((lit(100000L) + col("vec_id") * 100L + col("j")).as("vec_id"),
        col("embedding"))
    ResultCache.buildIfAbsent(spark, e.unionByName(copies),
      s"lsh:bits=${defaultLsh.nBits}:seed=42:families:v1", path) {
      IndexBuilder.buildLshIndex(e.unionByName(copies), "embedding",
        defaultLsh, path)
    }
    IndexBuilder.lshBatchTopK(
      spark.read.parquet(path),
      qbase.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", defaultLsh, k = 10, radius = tunedRadius(spark, dir))
      .orderBy("qid", "vec_id")
  }

  /** IVF analog of the batch row: same planted five-family construction,
    * same enumerable 50-row answer, but probe generation is columnar
    * nProbe centroid ranking (`IndexBuilder.ivfBatchTopK`) against the
    * persisted index's centroid sidecar — each query's own cluster is by
    * definition its rank-1 probe, so the family rows are reachable at any
    * nProbe ≥ 1 and only a drift between the columnar L2 ranking and the
    * driver-side `nearestClusters` (or a broken sidecar round-trip) can
    * perturb the answer.
    */
  def annIvfBatchTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfbatch_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = broadcast(qbase)
      .crossJoin(spark.range(0L, 9L).toDF("j"))
      .select((lit(100000L) + col("vec_id") * 100L + col("j")).as("vec_id"),
        col("embedding"))
    ResultCache.buildIfAbsent(spark, e.unionByName(copies),
      "ivf:clusters=16:seed=42:families:v1", path) {
      IndexBuilder.buildIvfIndex(e.unionByName(copies), "embedding",
        numClusters = 16, seed = 42L, path)
    }
    IndexBuilder.ivfBatchTopK(
      spark.read.parquet(path), IndexBuilder.loadIvfCentroids(path),
      qbase.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nProbe = tunedNProbe(spark, dir))
      .orderBy("qid", "vec_id")
  }

  /** BATCHED IVF-PQ retrieval — the quantized serving mode where query
    * batching matters most (the ADC LUT build is per-query; sharing the
    * scan amortizes it): the five-family planted construction served by
    * `ProductQuantization.ivfPqBatchIndexTopK`, which scores every
    * query's LUT per row in ONE codegen pass over the union of probe
    * partitions, each query gated to its OWN probe set. Each family's
    * copies encode to their base query's exact code bytes, ADC-score at
    * the shared maximum, and rescore to 1.0 — the 50-row enumerable
    * answer the LSH/IVF/graph batch rows share. A regression in the
    * per-query gating (cross-query leakage), the shared-scan explode,
    * the per-qid tie-inclusive cutoff, or the grouped rescore perturbs
    * the set.
    */
  def annIvfPqBatchTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpqbatch_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = broadcast(qbase)
      .crossJoin(spark.range(0L, 9L).toDF("j"))
      .select((lit(100000L) + col("vec_id") * 100L + col("j")).as("vec_id"),
        col("embedding"))
    ResultCache.buildIfAbsent(spark, e.unionByName(copies),
      "ivfpq:clusters=16:seed=42:families:v1", path) {
      graft.vector.ProductQuantization.buildIvfPqIndex(
        e.unionByName(copies), "embedding", numClusters = 16, seed = 42L, path)
    }
    val queries = qbase.collect() // 5 rows — the serving batch
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    graft.vector.ProductQuantization.ivfPqBatchIndexTopK(
      spark, path, "embedding", "vec_id", queries,
      k = 10, nProbe = tunedNProbe(spark, dir))
      .orderBy("qid", "vec_id")
  }

  /** The SQ8 batch fixture's standing location — ONE definition, shared
    * by the builder row and the batch router's measured-union probe (a
    * drifted copy of this path would silently demote the router to its
    * over-pricing fallback bound forever). */
  private def sq8BatchFixturePath(dir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfsq8batch_" + Integer.toHexString(dir.hashCode)).getAbsolutePath

  /** BATCHED IVF-SQ8 retrieval: the PQ batch row's construction over the
    * int8 index (`Quantization.ivfSq8BatchIndexTopK` — one shared scan,
    * per-query probe gating, per-qid tie-inclusive quantized cutoffs).
    */
  def annIvfSq8BatchTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = sq8BatchFixturePath(dir)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = broadcast(qbase)
      .crossJoin(spark.range(0L, 9L).toDF("j"))
      .select((lit(100000L) + col("vec_id") * 100L + col("j")).as("vec_id"),
        col("embedding"))
    ResultCache.buildIfAbsent(spark, e.unionByName(copies),
      "ivfsq8:clusters=16:seed=42:families:v1", path) {
      graft.vector.Quantization.buildIvfSq8Index(
        e.unionByName(copies), "embedding", numClusters = 16, seed = 42L, path)
    }
    val queries = qbase.collect() // 5 rows — the serving batch
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    graft.vector.Quantization.ivfSq8BatchIndexTopK(
      spark, path, "embedding", "vec_id", queries,
      k = 10, nProbe = tunedNProbe(spark, dir))
      .orderBy("qid", "vec_id")
  }

  private val annLshBatchTopkSql =
    """SELECT qid, vec_id, 1.0::DOUBLE AS score FROM (
      |  SELECT vec_id AS qid, vec_id FROM embeddings WHERE vec_id < 5
      |  UNION ALL
      |  SELECT e.vec_id AS qid, 100000 + e.vec_id * 100 + j.j AS vec_id
      |  FROM embeddings e CROSS JOIN (SELECT unnest(range(9)) AS j) j
      |  WHERE e.vec_id < 5) t
      |ORDER BY qid, vec_id""".stripMargin

  /** Range search through the persisted index: every neighbor with
    * cosine ≥ 0.95 — NO top-k limit, the answer size is data-driven
    * (`IndexBuilder.lshRangeSearch` against the partition-pruned probe
    * scan). The planted construction makes the threshold exact: only the
    * self row and its nine copies can clear 0.95 (max measured real-pair
    * cosine is ≤ 0.61 at every sf), so the unbounded range answer equals
    * the self-query top-10 and REUSES that oracle verbatim — if the
    * threshold filter, the probe scan, or the planted copies drift, the
    * set changes size and the compare goes red.
    */
  def annRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val path = plantedLshIndexPath(spark, dir)
    val index = spark.read.parquet(path)
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    index.filter(col("bucket").isin(probes: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .filter(col("score") >= 0.95)
      .orderBy(col("score").desc, col("vec_id").asc)
      .select("vec_id", "score")
  }

  /** k-NN SELF-join: every corpus vector's top-k neighbors computed by one
    * probe-explode + bucket equi-join job (`IndexBuilder.lshKnnJoin`) — the
    * corpus-graph / semantic-dedup building block where the query side IS
    * the corpus and nothing broadcasts. The planted construction makes the
    * lossy self-join exactly enumerable: five families of ten identical
    * vectors (base q ∈ {0..4} + nine salted copies) share a bucket by
    * construction, so with k = 9 and self-pairs excluded every family
    * member's top-9 is provably the OTHER nine members, all at score 1.0 —
    * 450 rows a DuckDB family×family join writes down. Any regression in
    * the stored-signature reuse, the self-exclusion, the join, or the
    * bounded reduction perturbs the set. The full self-join over the whole
    * corpus runs (that is the operator); the output is filtered to the
    * families because only their answers are provable.
    */
  def knnSelfJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_knnjoin_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = broadcast(qbase)
      .crossJoin(spark.range(0L, 9L).toDF("j"))
      .select((lit(100000L) + col("vec_id") * 100L + col("j")).as("vec_id"),
        col("embedding"))
    ResultCache.buildIfAbsent(spark, e.unionByName(copies),
      s"lsh:bits=${defaultLsh.nBits}:seed=42:families:v1", path) {
      IndexBuilder.buildLshIndex(e.unionByName(copies), "embedding",
        defaultLsh, path)
    }
    IndexBuilder.lshKnnJoin(spark.read.parquet(path), defaultLsh,
      k = 9, radius = 1)
      .filter(col("qid") < 5L || col("qid") >= 100000L)
      .orderBy("qid", "vec_id")
  }

  /** The skew-aware self-join under the SAME planted oracle: hotCap = 20
    * forces most sf-scale buckets (mean occupancy ≈ corpus/64) through the
    * salted path — including the family bucket — so the row proves the
    * salt split + probe replication reconstruct exactly the unsalted
    * answer. Result invariance is the contract: salting may only move
    * rows between reducers, never change what joins.
    */
  def knnSelfJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_knnjoin_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = broadcast(qbase)
      .crossJoin(spark.range(0L, 9L).toDF("j"))
      .select((lit(100000L) + col("vec_id") * 100L + col("j")).as("vec_id"),
        col("embedding"))
    ResultCache.buildIfAbsent(spark, e.unionByName(copies),
      s"lsh:bits=${defaultLsh.nBits}:seed=42:families:v1", path) {
      IndexBuilder.buildLshIndex(e.unionByName(copies), "embedding",
        defaultLsh, path)
    }
    IndexBuilder.lshKnnJoinSalted(spark.read.parquet(path), defaultLsh,
      k = 9, radius = 1, hotCap = 20L, nSalts = 8)
      .filter(col("qid") < 5L || col("qid") >= 100000L)
      .orderBy("qid", "vec_id")
  }

  private val knnSelfJoinSql =
    """WITH fam AS (
      |  SELECT vec_id AS q, vec_id AS member FROM embeddings WHERE vec_id < 5
      |  UNION ALL
      |  SELECT e.vec_id AS q, 100000 + e.vec_id * 100 + j.j AS member
      |  FROM embeddings e CROSS JOIN (SELECT unnest(range(9)) AS j) j
      |  WHERE e.vec_id < 5)
      |SELECT a.member AS qid, b.member AS vec_id, 1.0::DOUBLE AS score
      |FROM fam a JOIN fam b ON a.q = b.q AND a.member <> b.member
      |ORDER BY qid, vec_id""".stripMargin

  /** Incremental index maintenance under the same self-query oracle: build
    * the persisted index WITHOUT the planted copies, then APPEND them via
    * `appendToLshIndex` (the arriving-documents path — no rebuild), and
    * retrieve. The appended rows are findable only if the append hashed
    * them with the same hyperplanes into the same partition directories
    * the pruned probe scan reads — layout drift, a reseeded signature, or
    * append-mode clobbering all perturb the row set against the exact
    * oracle. The overwrite-then-append pair also keeps the run idempotent
    * (the base build clears the directory each time).
    */
  def annLshIncrementalTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshincr_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=append:v1", path) {
      IndexBuilder.buildLshIndex(base, "embedding", defaultLsh, path)
      IndexBuilder.appendToLshIndex(
        corpus.filter(col("vec_id") >= 100000L), "embedding", defaultLsh, path)
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  /** IVF incremental maintenance under the self-query oracle: the base
    * build persists the cluster-partitioned table plus the centroid
    * sidecar; arrivals are assigned against the SIDECAR (no refit — the
    * add-after-train contract) and appended. The planted copies surface in
    * the pruned top-10 only if sidecar round-trip + fixed-centroid
    * assignment put them in vector 0's cluster directory, so centroid
    * drift, sidecar corruption, or append clobbering all fail the exact
    * oracle.
    */
  def annIvfIncrementalTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfincr_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      "ivf:clusters=16:seed=42:lifecycle=append:v1", path) {
      IndexBuilder.buildIvfIndex(base, "embedding", numClusters = 16, seed = 42L, path)
      IndexBuilder.appendToIvfIndex(
        corpus.filter(col("vec_id") >= 100000L), "embedding", path)
    }
    val qv = queryVec(spark, dir, 0L)
    val probeIds = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv, nProbe = tunedNProbe(spark, dir))
    spark.read.parquet(path)
      .filter(col("cluster_id").isin(probeIds: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  /** IVF analog of annLshTopk: the planted copies assign to vector 0's
    * cluster (assignment is a pure function of the vector under the
    * deterministic seeded fit) and vec 0's own cluster is by definition the
    * nearest centroid to the query, so it is probed at any nProbe ≥ 1 —
    * the pruned top-10 provably equals the enumerated oracle whatever the
    * deployed probe width. That width is no longer a guess: it comes from
    * `tunedNProbe`, the minimal setting meeting the recall target on the
    * result-cached measured curve (the oracle is nProbe-invariant by the
    * argument above, so the row stays exact at any measured choice).
    */
  def annIvfTopk(spark: SparkSession, dir: String): DataFrame =
    IndexBuilder.ivfTopK(
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, numClusters = 16, nProbe = tunedNProbe(spark, dir), seed = 42L)
      .select("vec_id", "score")

  /** IVF-SQ8 composed retrieval under the planted self-query oracle: the
    * full at-scale stack — nProbe cluster pruning, int8 codes-only coarse
    * rank, exact rescore of the overscan set — must still surface exactly
    * {0, planted copies}. The copies quantize bit-identically to vector 0
    * (quantization is a pure per-vector function), assign to its cluster,
    * and coarse-score at the shared maximum, so they survive every stage
    * by construction; a regression in ANY of the three stages (probe
    * selection, quantized scoring, tie-safe cutoff) perturbs the row set.
    */
  def annIvfSq8Topk(spark: SparkSession, dir: String): DataFrame =
    graft.vector.Quantization.ivfSq8TopK(
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, numClusters = 16, nProbe = tunedNProbe(spark, dir), seed = 42L)

  /** IVF-PQ composed retrieval under the planted self-query oracle — the
    * FAISS `IVFx,PQy` default, all three stages real: nProbe cluster
    * pruning → m-byte ADC coarse rank (native codegen AdcScore) → exact
    * rescore of the tie-inclusive overscan set. The planted copies encode
    * to vector 0's exact PQ code bytes (encoding is a pure function of
    * the vector under the seeded per-subspace fits), assign to its
    * cluster, ADC-score at the shared maximum, and rescore to cosine 1.0
    * — so the composed top-10 provably equals the enumerated oracle
    * while 10/16 clusters are genuinely pruned and the coarse pass reads
    * codes only. A regression in any stage (probe ranking, codebook
    * determinism, LUT scoring, cutoff tie rule) perturbs the row set.
    */
  def annIvfPqTopk(spark: SparkSession, dir: String): DataFrame =
    graft.vector.ProductQuantization.ivfPqTopK(
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, numClusters = 16, nProbe = tunedNProbe(spark, dir), seed = 42L)

  /** The PERSISTED IVF-SQ8 index end-to-end under the self-query oracle
    * — the SQ8 sibling of the persisted PQ row, including the
    * incremental half: build WITHOUT the planted copies, append them
    * through the sidecar-assigned no-refit path (they quantize
    * bit-identically to vector 0 and land in its cluster directory),
    * then retrieve with NO fit and NO encode. A sidecar round-trip,
    * append-layout, stored-codes coarse rank, or overscan-cutoff
    * regression perturbs the row set.
    */
  def annIvfSq8IndexTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfsq8idx_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val base = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      "ivfsq8:clusters=16:seed=42:lifecycle=append:v1", path) {
      graft.vector.Quantization.buildIvfSq8Index(
        base, "embedding", numClusters = 16, seed = 42L, path)
      graft.vector.Quantization.appendToIvfSq8Index(
        corpus.filter(col("vec_id") >= 100000L), "embedding", path)
    }
    graft.vector.Quantization.ivfSq8IndexTopK(
      spark, path, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, nProbe = tunedNProbe(spark, dir))
  }

  /** The PERSISTED IVF-PQ index end-to-end (the FAISS write_index/
    * read_index lifecycle under the self-query oracle): build the
    * `partitionBy(cluster_id)` table with stored m-byte codes + trained
    * sidecars once, then retrieve with NO fit and NO encode — centroid
    * ranking from the sidecar prunes partitions, the stored codes drive
    * the ADC coarse pass, and only the overscan survivors touch floats.
    * A regression in sidecar round-tripping, code persistence, partition
    * layout, or the pruned scan perturbs the row set against the exact
    * oracle. (ann_ivf_pq_topk is the in-memory form that re-fits per
    * call; this row is the serving layout a 100 TB corpus queries.)
    */
  def annIvfPqIndexTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpqidx_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    ResultCache.buildIfAbsent(spark,
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "ivfpq:clusters=16:seed=42:planted:v1", path) {
      graft.vector.ProductQuantization.buildIvfPqIndex(
        withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
        "embedding", numClusters = 16, seed = 42L, path)
    }
    graft.vector.ProductQuantization.ivfPqIndexTopK(
      spark, path, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, nProbe = tunedNProbe(spark, dir))
  }

  /** GRAPH-based ANN (NSW / HNSW layer 0) under the self-query oracle —
    * the index family where recall comes from connectivity, not
    * bucketing: build the persisted adjacency (LSH-equi-join candidate
    * generation, per-node top-M edges, symmetrized), then beam-search
    * from fixed hash-sampled entry points. The planted copies are each
    * other's nearest neighbors, so the walk that reaches ANY of the
    * cluster's in-edges drains the whole cluster; a regression in edge
    * selection, symmetrization, frontier management, or scoring perturbs
    * the row set. Deterministic end-to-end (seeded planes, id-tie-broken
    * windows and beams), so the row is stable across runs.
    */
  def annGraphTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nsw_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42", path) {
      graft.vector.GraphAnn.buildNswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    graft.vector.GraphAnn.nswSearch(
      spark, path, corpus, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 10)
  }

  /** INCREMENTAL graph maintenance under the self-query oracle: build
    * the NSW adjacency over the RAW corpus, then append the planted
    * copies WITHOUT a rebuild — new nodes link via the same LSH
    * candidate equi-join, and the affected existing nodes' rows are
    * re-landed as seq-stamped delta rows carrying the new IN-edges
    * (without that reverse maintenance the appended vectors would be
    * unreachable out-only sinks, and this row would lose them). The
    * vec-0 query must then surface all nine appended copies through the
    * merged (latest-wins) adjacency. (Like the compacted rows, the
    * measured driver-row time is ~85% in-query graph build + append —
    * not search latency.)
    */
  def annGraphIncrementalTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswincr_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    // the WHOLE build+append sequence is a pure function of the corpus —
    // one cached unit (the compacted rows' rule: the marker describes the
    // directory as served, including its delta sidecar), so re-runs serve
    // the standing graph and measure retrieval, not fixture construction.
    // Sidecar state belongs to the cached unit: resets live INSIDE it.
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42:lifecycle=append:v2", path) {
      deleteRecursively(new java.io.File(path + "_delta"))
      graft.vector.GraphAnn.buildNswGraph(
        e, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.appendToNswGraph(
        spark, corpus.filter(col("vec_id") >= 100000L),
        "embedding", "vec_id", defaultLsh, m = 8, path, e)
    }
    graft.vector.GraphAnn.nswSearch(
      spark, path, corpus,
      "embedding", "vec_id", queryVec(spark, dir, 0L), k = 10)
  }

  private def deleteRecursively(dir: java.io.File): Unit =
    if (dir.exists()) {
      java.nio.file.Files.walk(dir.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }

  /** GRAPH delete under the enumerable planted oracle — the one index
    * family that had no delete path. Build over the planted corpus,
    * tombstone 5 of the 9 copies, search: the tombstoned ids must vanish
    * from the emission while the graph still walks THROUGH them (their
    * edges are what connect the copy clique pre-fold), so the surviving
    * top-5 is exactly {0, 100005..100008} — any emission leak, or any
    * over-eager edge removal that strands the survivors, perturbs the
    * row. Delete cost is a tombstone append, never an adjacency rewrite.
    */
  def annGraphDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    deleteRecursively(new java.io.File(path + "_delta"))
    deleteRecursively(new java.io.File(path + "_tombstones"))
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42", path) {
      graft.vector.GraphAnn.buildNswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    graft.vector.GraphAnn.deleteFromNswGraph(
      spark, (100000L to 100004L), path)
    graft.vector.GraphAnn.nswSearch(
      spark, path, corpus, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 5)
  }

  /** HNSW — the coarse layer ladder above NSW layer 0 (Malkov & Yashunin
    * 2016) — under the planted self-query oracle. Layers 1..2 are
    * geometrically thinner NSW graphs over hash-selected subsets; the
    * query greedily descends the ladder, and the layer-0 beam starts
    * from entries already NEAR the answer (plus the fixed hash-min
    * entries, so recall never drops below the flat walk — the parity
    * spec pins that). At scale the descent turns the cold cross-graph
    * crawl into log-hops: fewer frontier expansions per query, same
    * exact-scored emission. Deterministic end-to-end: level membership
    * is a pure hash of the id, so build and search always agree.
    */
  def annHnswTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnsw_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    // the whole ladder is a pure function of (corpus, lsh, m, fanout,
    // maxLevel) and search never mutates — input-signature-keyed build
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2", path) {
      graft.vector.GraphAnn.buildHnswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    graft.vector.GraphAnn.hnswSearch(
      spark, path, corpus, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 10)
  }

  /** INCREMENTAL HNSW maintenance under the self-query oracle: build the
    * ladder over the RAW corpus, then append the planted copies without a
    * rebuild — layer 0 through the NSW append (reverse-edge delta
    * maintenance included), each upper layer taking exactly the new nodes
    * its id hash selects, so the ladder's membership invariant survives
    * the append (spec-pinned). The vec-0 query must surface all nine
    * appended copies through the merged adjacency with the descent
    * active — an append path that left a layer stale or a copy out-only
    * would perturb the row.
    */
  def annHnswIncrementalTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswincr_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    // one cached unit for the whole build+ladder-append sequence (see
    // annGraphIncrementalTopk); rung sidecars reset inside the unit
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2:lifecycle=append:v2",
      path) {
      Seq("_delta", "_l1_delta", "_l2_delta")
        .foreach(s => deleteRecursively(new java.io.File(path + s)))
      graft.vector.GraphAnn.buildHnswGraph(
        e, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.appendToHnswGraph(
        spark, corpus.filter(col("vec_id") >= 100000L),
        "embedding", "vec_id", defaultLsh, m = 8, path, e)
    }
    graft.vector.GraphAnn.hnswSearch(
      spark, path, corpus,
      "embedding", "vec_id", queryVec(spark, dir, 0L), k = 10)
  }

  /** The fold that makes graph deletes durable, under the SAME oracle
    * verbatim (fold must not change the answer — the Compaction
    * discipline): affected adjacency rows are rewritten with bridge
    * edges (a deleted waypoint's endpoints are wired to each other),
    * deleted nodes' rows become removal markers, and the sidecar
    * truncates last. The post-fold search takes NO tombstone filter —
    * the deleted ids are structurally gone, which is what
    * right-to-be-forgotten requires of the stored index.
    */
  def annGraphFoldedDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswfold_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    // build+delete+fold cached as ONE unit — the annCompactedDeleteTopk
    // rule brought to the graph: the fold lands delta rows, so the marker
    // must describe (base, deltas, truncated sidecar) as served
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42:lifecycle=delete+fold:v1",
      path) {
      deleteRecursively(new java.io.File(path + "_delta"))
      deleteRecursively(new java.io.File(path + "_tombstones"))
      graft.vector.GraphAnn.buildNswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.deleteFromNswGraph(
        spark, (100000L to 100004L), path)
      graft.vector.GraphAnn.foldNswTombstones(
        spark, path, corpus, "embedding", "vec_id", m = 8)
    }
    graft.vector.GraphAnn.nswSearch(
      spark, path, corpus, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 5)
  }

  /** HNSW delete BEFORE any fold, under the planted oracle: the tombstone
    * sidecar is shared by the whole ladder, so the hierarchical descent
    * may hop THROUGH deleted waypoints on any rung but the emission must
    * hide them — the graph-delete contract composed with the descent.
    * Delete cost stays a sidecar append; no rung is rewritten.
    */
  def annHnswDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    Seq("_delta", "_l1_delta", "_l2_delta", "_tombstones")
      .foreach(s => deleteRecursively(new java.io.File(path + s)))
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2", path) {
      graft.vector.GraphAnn.buildHnswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    graft.vector.GraphAnn.deleteFromNswGraph(
      spark, (100000L to 100004L), path)
    graft.vector.GraphAnn.hnswSearch(
      spark, path, corpus, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 5)
  }

  /** HNSW ladder fold under the same delete oracle: tombstone 5 planted
    * copies, fold through EVERY rung — deleted ids must leave the stored
    * upper layers too, not just layer 0 (right-to-be-forgotten is about
    * the bytes on disk), with the upper rungs' bridge repair keeping
    * their thinned graphs connected. The post-fold search runs the full
    * descent with NO tombstone sidecar; the answer must equal the flat
    * folded row's ({0, 100005..100008}).
    */
  def annHnswFoldedDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswfold_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    // one cached unit for the full ladder lifecycle (see the flat row)
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2:lifecycle=delete+fold:v1",
      path) {
      Seq("_delta", "_l1_delta", "_l2_delta", "_tombstones")
        .foreach(s => deleteRecursively(new java.io.File(path + s)))
      graft.vector.GraphAnn.buildHnswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.deleteFromNswGraph(
        spark, (100000L to 100004L), path)
      graft.vector.GraphAnn.foldHnswTombstones(
        spark, path, corpus, "embedding", "vec_id", m = 8)
    }
    graft.vector.GraphAnn.hnswSearch(
      spark, path, corpus, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 5)
  }

  private val annGraphDeleteTopkSql =
    """SELECT vec_id, 1.0::DOUBLE AS score FROM (
      |  SELECT vec_id FROM embeddings WHERE vec_id = 0
      |  UNION ALL
      |  SELECT vec_id + 100000 FROM embeddings WHERE vec_id >= 5 AND vec_id < 9) t
      |ORDER BY vec_id""".stripMargin

  /** IVF pruned top-10 over the raw corpus (spec-only recall anchor),
    * served at the curve-tuned nProbe like the production row. */
  def annIvfTopkReal(spark: SparkSession, dir: String): DataFrame =
    IndexBuilder.ivfTopK(Tables.embeddings(spark, dir), "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 10, numClusters = 16,
      nProbe = tunedNProbe(spark, dir), seed = 42L)
      .select("vec_id", "score")

  /** Metadata-FILTERED ANN retrieval (the filtered-search surface every
    * production vector store exposes: "top-k among vectors WHERE
    * <predicate>"): the index table carries the metadata column, and the
    * predicate is applied INSIDE the pruned scan — partition pruning on
    * the probe buckets AND an ordinary pushed data filter on `tier`, so
    * at 100 TB the query reads probe directories only and row-group
    * statistics skip non-matching tiers. Pre-filtering (filter → rank)
    * is the correct semantics — post-filtering a top-k loses results
    * when the filter is selective.
    *
    * Oracle by construction: 9 planted copies of vector 0 carry
    * tier gold (even offsets, 5) or silver (4); the corpus is tier
    * 'corpus'. Filtered top-5 for tier='gold' is provably exactly the 5
    * gold copies at cosine 1.0 — a regression in predicate placement,
    * bucket pruning, or rescoring perturbs the row set.
    */
  def annFilteredTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshfilter_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), lit("corpus").as("tier"))
    val copies = spark.range(100000L, 100009L).toDF("vec_id")
      .crossJoin(broadcast(Tables.embeddings(spark, dir)
        .filter(col("vec_id") === 0L).select(col("embedding"))))
      .select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 2 === 0, "gold").otherwise("silver").as("tier"))
    ResultCache.buildIfAbsent(spark, base.unionByName(copies),
      s"lsh:bits=${defaultLsh.nBits}:seed=42:tiered:v1", path) {
      IndexBuilder.buildLshIndex(base.unionByName(copies), "embedding", defaultLsh, path)
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*) && col("tier") === "gold")
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  private val annFilteredTopkSql =
    """SELECT vec_id + 100000 AS vec_id, 1.0::DOUBLE AS score
      |FROM embeddings WHERE vec_id < 9 AND vec_id % 2 = 0
      |ORDER BY vec_id""".stripMargin

  /** The OPTIMIZER-DRIVEN filtered-ANN shape: the query is written as the
    * NATURAL exact k-NN — `WHERE tier = 'gold' ORDER BY cosine DESC LIMIT
    * 5` with no probe filter anywhere in user code — and the opt-in
    * `AnnRewriteRule` injects `bucket IN <probe set>` below the sort,
    * descending through the user's tier Filter (the rule's
    * injectProbeFilter passes Project/Filter transparently). Catalyst
    * then classifies the injected IN as PARTITION pruning and the tier
    * predicate as an ordinary pushed data filter — both on the same scan
    * (plan-pinned in AnnRewriteSpec). Same index, corpus, and oracle as
    * annFilteredTopk, so the rewritten plan must reproduce the
    * hand-pruned row set exactly; conf arming is localized so the rule
    * can't leak into other driver queries.
    */
  def annRewriteFilteredTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{AnnRewriteRule => R, GraftExtensions}
    GraftExtensions.register(spark)
    val path = buildFilteredTierIndex(spark, dir)
    val qv = queryVec(spark, dir, 0L)
    Relational.withConfsLocalized(spark, Seq(
      R.EnabledKey -> "true", R.NBitsKey -> "6",
      R.SeedKey -> "42",
      R.RadiusKey -> tunedRadius(spark, dir).toString)) {
      annRewriteFilteredFrame(spark, path, qv)
    }.orderBy("vec_id")
  }

  /** The optimizer-driven IVF route under the self-query oracle: the
    * query is the NATURAL exact k-NN over the persisted
    * `partitionBy(cluster_id)` index — no cluster filter anywhere in
    * user code — and the opt-in rule injects `cluster_id IN <nProbe
    * nearest centroids>`, ranked at plan time against the index's
    * centroid sidecar (plan-pinned in AnnRewriteSpec). The probe width
    * is the measured `tunedNProbe`, so even the optimizer path serves
    * off the tuning curve. Catalyst turns the injected IN into partition
    * pruning; the planted construction keeps the answer exact at any
    * probe width (vector 0's cluster is rank 1 by definition).
    */
  def annRewriteIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{AnnRewriteRule => R, GraftExtensions}
    GraftExtensions.register(spark)
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfrw_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    ResultCache.buildIfAbsent(spark,
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "ivf:clusters=16:seed=42:planted:v1", path) {
      IndexBuilder.buildIvfIndex(
        withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
        "embedding", numClusters = 16, seed = 42L, path)
    }
    val qv = queryVec(spark, dir, 0L)
    Relational.withConfsLocalized(spark, Seq(
      R.EnabledKey -> "true", R.NBitsKey -> "6", R.SeedKey -> "42",
      R.RadiusKey -> "0",
      R.IvfCentroidsPathKey -> path,
      R.IvfNProbeKey -> tunedNProbe(spark, dir).toString)) {
      annRewriteIvfFrame(spark, path, qv)
    }.orderBy("vec_id")
  }

  /** The armed IVF query frame, exposed so AnnRewriteSpec can audit the
    * very plan the driver row runs (injected cluster_id partition
    * filter — without the audit, a silently non-firing rule would still
    * pass the oracle via brute force).
    */
  private[graft] def annRewriteIvfFrame(spark: SparkSession,
      path: String, qv: Array[Float]): DataFrame =
    spark.read.parquet(path)
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")

  /** The armed query frame, exposed so AnnRewriteSpec can audit the very
    * plan the driver row runs (partition filters AND pushed tier filter).
    */
  private[graft] def annRewriteFilteredFrame(spark: SparkSession,
      path: String, qv: Array[Float]): DataFrame =
    spark.read.parquet(path)
      .filter(col("tier") === "gold")
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")

  /** The tier-tagged planted index shared by the hand-pruned and the
    * rewrite-driven filtered rows (annFilteredTopk's construction).
    */
  private[graft] def buildFilteredTierIndex(spark: SparkSession, dir: String): String = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshrw_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), lit("corpus").as("tier"))
    val copies = spark.range(100000L, 100009L).toDF("vec_id")
      .crossJoin(broadcast(Tables.embeddings(spark, dir)
        .filter(col("vec_id") === 0L).select(col("embedding"))))
      .select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 2 === 0, "gold").otherwise("silver").as("tier"))
    ResultCache.buildIfAbsent(spark, base.unionByName(copies),
      s"lsh:bits=${defaultLsh.nBits}:seed=42:tiered:v1", path) {
      IndexBuilder.buildLshIndex(base.unionByName(copies), "embedding", defaultLsh, path)
    }
    path
  }

  /** DELETE from the ANN index without a rebuild: deletes land as a
    * delta-sized tombstone sidecar (the MOR discipline — index files are
    * never touched), and the query path anti-joins the broadcast
    * tombstone set after the pruned scan. At 100 TB a delete costs one
    * tiny write; compaction (graft.ingest.Compaction) folds tombstones
    * into the partitions on its own schedule. The reference rebuilds the
    * whole collection on delete (SURVEY §2.2 K2) — this is the scale
    * path.
    *
    * Oracle by construction: delete 5 of the 9 planted copies; top-5 must
    * be exactly {vector 0, the 4 surviving copies} at cosine 1.0 — a
    * tombstone leak (deleted row still served) or over-delete both
    * perturb the row set.
    */
  def annDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    ResultCache.buildIfAbsent(spark,
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=delete:v1", path) {
      IndexBuilder.buildLshIndex(
        withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
        "embedding", defaultLsh, path)
      // the delete commit: tombstones only, index untouched
      spark.range(100000L, 100005L).toDF("vec_id")
        .write.mode("overwrite").parquet(path + "_tombstones")
    }
    val tombstones = spark.read.parquet(path + "_tombstones")
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*))
      .join(broadcast(tombstones), Seq("vec_id"), "left_anti")
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  private val annDeleteTopkSql =
    """SELECT vec_id, 1.0::DOUBLE AS score FROM (
      |  SELECT vec_id FROM embeddings WHERE vec_id = 0
      |  UNION ALL
      |  SELECT vec_id + 100000 FROM embeddings WHERE vec_id BETWEEN 5 AND 8) t
      |ORDER BY vec_id""".stripMargin

  /** COMPACTION folds the tombstone sidecar into the index — the second
    * half of the MOR delete lifecycle (annDeleteTopk is the commit; this
    * is the maintenance job): `Compaction.foldTombstones` anti-joins only
    * the AFFECTED bucket partitions against the broadcast sidecar,
    * rewrites them via the tmp/bak swap, and truncates the sidecar — so
    * steady deletes can't accumulate an ever-growing anti-join tax on
    * every query. The invariance-pinning trick (mor_compact): the oracle
    * is annDeleteTopkSql VERBATIM, but the query here runs with NO
    * tombstone anti-join — the index alone must no longer serve the
    * deleted rows. A fold leak (doomed row survives), over-delete, or a
    * fold that corrupts an untouched bucket all perturb the row set.
    * CompactionSpec additionally pins untouched buckets byte-identical
    * and the sidecar empty after the fold.
    */
  def annCompactedDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshcdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    // the fold rewrites index partitions in place, so the cached unit is
    // the WHOLE build+tombstone+fold sequence (the buildIfAbsent rule)
    ResultCache.buildIfAbsent(spark, corpus,
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=delete+fold:v1", path) {
      IndexBuilder.buildLshIndex(corpus, "embedding", defaultLsh, path)
      spark.range(100000L, 100005L).toDF("vec_id")
        .write.mode("overwrite").parquet(path + "_tombstones")
      graft.ingest.Compaction.foldTombstones(spark, path, path + "_tombstones")
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  /** The ONE streaming-lifecycle fixture skeleton all eight streaming
    * rows share (exactly-once ingest x4 families, retention fold x4):
    * the planted-copy corpus, train-once sidecars, base batch 0, the
    * planted-arrivals batch 1 plus its crash replay (the exactly-once
    * proof), and — for the retention rows — the aged-batch fold with a
    * single-leaf reclamation re-check on every serve. One skeleton
    * means the stage/fold/roster contract cannot drift between families
    * (the `stageClusteredBatch` rule, applied to the driver rows).
    * Returns the standing root.
    */
  private def streamingRoot(spark: SparkSession, dir: String,
      family: String, cacheTag: String, partCol: String, fold: Boolean)(
      train: (DataFrame, String) => Unit)(
      stage: (DataFrame, String, Long) => Unit): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${family}_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    val corpus = withPlantedSelfCopies(spark, e)
    val base = e.select("vec_id", "embedding")
    val arrivals = corpus.filter(col("vec_id") >= 100000L)
    ResultCache.buildIfAbsent(spark, corpus, cacheTag, root) {
      train(base, root)
      stage(base, root, 0L)
      stage(arrivals, root, 1L)
      // crash-replay of batch 1: same rows, same batch id, second delivery
      stage(arrivals, root, 1L)
      if (fold) {
        val folded = graft.ingest.Compaction.foldStagedBatches(
          spark, root, partCol, minAgeMs = 0L)
        require(folded == 2, s"expected to fold 2 batch leaves, folded $folded")
      }
    }
    if (fold) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val leaves = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .count(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      require(leaves == 1, s"fold must leave one batch leaf, found $leaves")
    }
    root
  }

  /** Pruned exact-rescore serve over a staged root — the shared scan
    * shape of the LSH and IVF streaming rows: probe-filter on the
    * partition column (partition pruning across every batch directory),
    * exact cosine, ordered take. */
  private def stagedScanServe(spark: SparkSession, root: String,
      partCol: String, probeSet: Seq[Int], qv: Array[Float]): DataFrame =
    spark.read.parquet(root)
      .filter(col(partCol).isin(probeSet: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")

  /** EXACTLY-ONCE streaming index ingestion end-to-end: micro-batches of
    * arriving vectors land via `IndexBuilder.stageLshBatch` (deterministic
    * per-batch directory + overwrite), and the batch that delivered the
    * planted copies is REPLAYED — the at-least-once delivery every
    * foreachBatch sink sees after a crash. Because the replay rewrites
    * the same `batch=1` directory instead of appending, each copy exists
    * exactly once, and the pruned top-10 equals the enumerable self-query
    * oracle. An append-mode regression duplicates the copies, the
    * duplicates displace true neighbors in the limit-10, and the row set
    * breaks the compare — the driver row IS the exactly-once proof.
    */
  def annStreamingIngestTopk(spark: SparkSession, dir: String): DataFrame = {
    val root = streamingRoot(spark, dir, "lshstream",
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=stream-ingest:v1",
      partCol = "bucket", fold = false)((_, _) => ())(
      (df, r, b) => IndexBuilder.stageLshBatch(df, "embedding", defaultLsh, r, b))
    val qv = queryVec(spark, dir, 0L)
    stagedScanServe(spark, root, "bucket",
      defaultLsh.probes(defaultLsh.signature(qv.toSeq),
        radius = tunedRadius(spark, dir)), qv)
  }

  /** EXACTLY-ONCE streaming ingestion for the IVF family — the
    * train-then-add contract under at-least-once delivery: the coarse
    * quantizer trains ONCE on the base corpus (centroid sidecar at the
    * root, no batch refits — `IndexBuilder.trainIvfCentroids`), then
    * every micro-batch assigns against the standing sidecar and lands in
    * its own deterministic `batch=<id>/cluster_id=<c>` directory with
    * overwrite (`stageIvfBatch`). The batch that delivered the planted
    * copies is REPLAYED — the redelivery every foreachBatch sink sees
    * after a crash — and must rewrite its own directory, not append a
    * second copy: duplicated copies would displace true neighbors in the
    * limit-10 and break the enumerable self-query oracle. Serving
    * partition-prunes on cluster_id across all batch directories. The
    * train+stage+replay sequence is a pure function of the corpus — one
    * cached unit, so re-runs measure serving (the LSH streaming row
    * follows the same rule).
    */
  def annIvfStreamingIngestTopk(spark: SparkSession, dir: String): DataFrame = {
    val root = streamingRoot(spark, dir, "ivfstream",
      "ivf:clusters=16:seed=42:lifecycle=stream-ingest:v1",
      partCol = "cluster_id", fold = false)(
      (base, r) => IndexBuilder.trainIvfCentroids(base, "embedding",
        numClusters = 16, seed = 42L, r))(
      (df, r, b) => IndexBuilder.stageIvfBatch(df, "embedding", r, b))
    val qv = queryVec(spark, dir, 0L)
    stagedScanServe(spark, root, "cluster_id",
      IndexBuilder.nearestClusters(
        IndexBuilder.loadIvfCentroids(root), qv, tunedNProbe(spark, dir)), qv)
  }

  /** EXACTLY-ONCE streaming ingestion for the IVF-PQ family — the FAISS
    * train-then-add contract on the ENCODED layout: coarse centroids AND
    * PQ codebooks train ONCE on the base corpus
    * (`ProductQuantization.trainIvfPqSidecars` — sidecars only, no data),
    * then every micro-batch assigns + PQ-encodes against the standing
    * sidecars and lands in its deterministic `batch=<id>/cluster_id=<c>`
    * directory with overwrite (`stagePqBatch`). The planted-copy batch is
    * REPLAYED (the post-crash redelivery every foreachBatch sink sees)
    * and must rewrite its own directory: duplicated copies would displace
    * true neighbors in the limit-10 and break the enumerable self-query
    * oracle. Serving is the stored-code ADC path (`ivfPqIndexTopK`):
    * partition-pruned scan across all batch directories, codes-only
    * coarse pass, exact rescore of the overscan survivors — codes are
    * read as written at stage time, so the row also pins that staged
    * encodings round-trip. One cached unit (IVF/LSH streaming rule).
    */
  def annIvfPqStreamingIngestTopk(spark: SparkSession, dir: String): DataFrame = {
    val root = streamingRoot(spark, dir, "ivfpqstream",
      "ivfpq:clusters=16:seed=42:lifecycle=stream-ingest:v1",
      partCol = "cluster_id", fold = false)(
      (base, r) => graft.vector.ProductQuantization.trainIvfPqSidecars(
        base, "embedding", numClusters = 16, seed = 42L, r))(
      (df, r, b) => graft.vector.ProductQuantization.stagePqBatch(df, "embedding", r, b))
    graft.vector.ProductQuantization.ivfPqIndexTopK(
      spark, root, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, nProbe = tunedNProbe(spark, dir))
  }

  /** EXACTLY-ONCE streaming ingestion for the IVF-SQ8 family — the same
    * contract on the int8-quantized layout: SQ8 quantization is
    * codebook-free (scale + codes are pure functions of the vector), so
    * the trained state is just the coarse centroid sidecar
    * (`IndexBuilder.trainIvfCentroids`); micro-batches assign + quantize
    * against it (`Quantization.stageSq8Batch`), the copy batch replays
    * into its own directory, and serving is the stored-codes coarse pass
    * + exact rescore (`ivfSq8IndexTopK`) partition-pruned across all
    * batch directories.
    */
  def annIvfSq8StreamingIngestTopk(spark: SparkSession, dir: String): DataFrame = {
    val root = streamingRoot(spark, dir, "sq8stream",
      "ivfsq8:clusters=16:seed=42:lifecycle=stream-ingest:v1",
      partCol = "cluster_id", fold = false)(
      (base, r) => IndexBuilder.trainIvfCentroids(base, "embedding",
        numClusters = 16, seed = 42L, r))(
      (df, r, b) => graft.vector.Quantization.stageSq8Batch(df, "embedding", r, b))
    graft.vector.Quantization.ivfSq8IndexTopK(
      spark, root, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, nProbe = tunedNProbe(spark, dir))
  }

  /** RETENTION for the streaming-staged LSH root — the reclamation half
    * of `ann_streaming_ingest_topk`'s exactly-once staging, mirroring the
    * minhash store fold: stage the base and the copy batch (plus its
    * crash replay), then `Compaction.foldStagedBatches` folds every aged
    * batch directory into one consolidated `batch=0` leaf re-clustered
    * on bucket. The requires re-assert the reclamation on every serve
    * (exactly one batch leaf), and the pruned top-10 over the FOLDED
    * root must still equal the enumerable self-query oracle — a fold
    * that drops, duplicates, or mis-buckets rows perturbs the set.
    */
  def annStreamingCompactedTopk(spark: SparkSession, dir: String): DataFrame = {
    val root = streamingRoot(spark, dir, "lshstreamfold",
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=stream+fold:v1",
      partCol = "bucket", fold = true)((_, _) => ())(
      (df, r, b) => IndexBuilder.stageLshBatch(df, "embedding", defaultLsh, r, b))
    val qv = queryVec(spark, dir, 0L)
    stagedScanServe(spark, root, "bucket",
      defaultLsh.probes(defaultLsh.signature(qv.toSeq),
        radius = tunedRadius(spark, dir)), qv)
  }

  /** The IVF form of the staged-root retention: train-once sidecar,
    * stage base + copies (+ replay), fold aged batch directories into
    * one `batch=0` leaf re-clustered on cluster_id. Same single-leaf
    * requires and the same enumerable oracle over the folded root.
    */
  def annIvfStreamingCompactedTopk(spark: SparkSession, dir: String): DataFrame = {
    val root = streamingRoot(spark, dir, "ivfstreamfold",
      "ivf:clusters=16:seed=42:lifecycle=stream+fold:v1",
      partCol = "cluster_id", fold = true)(
      (base, r) => IndexBuilder.trainIvfCentroids(base, "embedding",
        numClusters = 16, seed = 42L, r))(
      (df, r, b) => IndexBuilder.stageIvfBatch(df, "embedding", r, b))
    val qv = queryVec(spark, dir, 0L)
    stagedScanServe(spark, root, "cluster_id",
      IndexBuilder.nearestClusters(
        IndexBuilder.loadIvfCentroids(root), qv, tunedNProbe(spark, dir)), qv)
  }

  /** The IVF-PQ form of the staged-root retention — the fold is layout-
    * generic (it re-clusters whatever columns the rows carry), so the
    * stored m-byte codes survive the rewrite verbatim and the folded
    * root serves through the SAME stored-code ADC path as the unfolded
    * one: a fold that corrupted or dropped a code column would perturb
    * the coarse cutoff and the enumerable answer.
    */
  def annIvfPqStreamingCompactedTopk(spark: SparkSession, dir: String): DataFrame = {
    val root = streamingRoot(spark, dir, "ivfpqstreamfold",
      "ivfpq:clusters=16:seed=42:lifecycle=stream+fold:v1",
      partCol = "cluster_id", fold = true)(
      (base, r) => graft.vector.ProductQuantization.trainIvfPqSidecars(
        base, "embedding", numClusters = 16, seed = 42L, r))(
      (df, r, b) => graft.vector.ProductQuantization.stagePqBatch(df, "embedding", r, b))
    graft.vector.ProductQuantization.ivfPqIndexTopK(
      spark, root, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, nProbe = tunedNProbe(spark, dir))
  }

  /** The IVF-SQ8 form of the staged-root retention: the per-vector
    * (scale, codes) pair rides the fold unchanged and the folded root
    * serves through the stored-codes coarse pass + exact rescore.
    */
  def annIvfSq8StreamingCompactedTopk(spark: SparkSession, dir: String): DataFrame = {
    val root = streamingRoot(spark, dir, "sq8streamfold",
      "ivfsq8:clusters=16:seed=42:lifecycle=stream+fold:v1",
      partCol = "cluster_id", fold = true)(
      (base, r) => IndexBuilder.trainIvfCentroids(base, "embedding",
        numClusters = 16, seed = 42L, r))(
      (df, r, b) => graft.vector.Quantization.stageSq8Batch(df, "embedding", r, b))
    graft.vector.Quantization.ivfSq8IndexTopK(
      spark, root, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 10, nProbe = tunedNProbe(spark, dir))
  }

  /** UPSERT into the ANN index without a rebuild — the "document was
    * re-embedded" flow, composed from the two maintenance primitives: the
    * old version is tombstoned and the NEW vector is appended through the
    * same seeded hyperplanes (`appendToLshIndex`), landing in whatever
    * bucket the new embedding hashes to. Rows carry a commit `seq` and
    * the tombstone is a WATERMARK (`kill vec_id rows with seq ≤
    * upto_seq`) — an id-level tombstone would also kill the replacement,
    * and plain latest-wins-without-tombstones breaks under probe pruning
    * (the old and new versions live in different bucket partitions, so a
    * query probing only the old version's bucket would serve the stale
    * row). Upsert cost = one tiny sidecar write + one append; nothing is
    * rebuilt, and compaction folds both later.
    *
    * Oracle by construction: copy 100000 is upserted from vector 0's
    * embedding to vector 1's. The vec-0 query's top-5 must then be
    * {0, 100001..100004} — serving the stale version (missed tombstone)
    * keeps 100000 at score 1.0 and perturbs the row set.
    */
  def annUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    ResultCache.buildIfAbsent(spark, withPlantedSelfCopies(spark, e),
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=upsert-raw:v1", path) {
      IndexBuilder.buildLshIndex(
        withPlantedSelfCopies(spark, e).withColumn("seq", lit(0L)),
        "embedding", defaultLsh, path)
      // the upsert commit: watermark-tombstone the old version, append the new
      spark.range(100000L, 100001L).toDF("t_vec_id")
        .withColumn("upto_seq", lit(0L))
        .write.mode("overwrite").parquet(path + "_tombstones")
      val reEmbedded = spark.range(100000L, 100001L).toDF("vec_id")
        .crossJoin(broadcast(e.filter(col("vec_id") === 1L).select(col("embedding"))))
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
      IndexBuilder.appendToLshIndex(reEmbedded, "embedding", defaultLsh, path)
    }
    val tombstones = spark.read.parquet(path + "_tombstones")
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*))
      .join(broadcast(tombstones),
        col("vec_id") === col("t_vec_id") && col("seq") <= col("upto_seq"),
        "left_anti")
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  private val annUpsertTopkSql =
    """SELECT vec_id, 1.0::DOUBLE AS score FROM (
      |  SELECT vec_id FROM embeddings WHERE vec_id = 0
      |  UNION ALL
      |  SELECT vec_id + 100000 FROM embeddings WHERE vec_id BETWEEN 1 AND 4) t
      |ORDER BY vec_id""".stripMargin

  /** The WATERMARK-tombstone fold — upsert's maintenance half: the fold
    * must kill exactly the rows with `seq <= upto_seq` and KEEP the
    * appended replacement (seq above the mark), which lives in a
    * different bucket partition than the row it replaces. Same
    * invariance pinning as annCompactedDeleteTopk: annUpsertTopkSql
    * verbatim, no anti-join in the query — if the fold killed the
    * replacement too (id-level delete bug) or kept the stale version,
    * the row set breaks.
    */
  def annCompactedUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshcupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    // build + watermark tombstone + append + fold — one deterministic
    // sequence from the corpus, cached as one unit (the fold mutates)
    ResultCache.buildIfAbsent(spark, withPlantedSelfCopies(spark, e),
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=upsert+fold:v1", path) {
      IndexBuilder.buildLshIndex(
        withPlantedSelfCopies(spark, e).withColumn("seq", lit(0L)),
        "embedding", defaultLsh, path)
      spark.range(100000L, 100001L).toDF("t_vec_id")
        .withColumn("upto_seq", lit(0L))
        .write.mode("overwrite").parquet(path + "_tombstones")
      val reEmbedded = spark.range(100000L, 100001L).toDF("vec_id")
        .crossJoin(broadcast(e.filter(col("vec_id") === 1L).select(col("embedding"))))
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
      IndexBuilder.appendToLshIndex(reEmbedded, "embedding", defaultLsh, path)
      graft.ingest.Compaction.foldTombstones(spark, path, path + "_tombstones")
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  /** DELETE from the IVF index without a rebuild — the lifecycle parity
    * the cluster-partitioned family was missing (LSH had
    * delete/upsert/compaction, NSW/HNSW delete+fold, BM25 the full set;
    * IVF had none): deletes land as the SAME tombstone-sidecar shape, and
    * the query path anti-joins the broadcast sidecar after the
    * nProbe-pruned scan — identical discipline, different pruning key
    * (`cluster_id=` directories instead of `bucket=`). At 100 TB a delete
    * stays one tiny write; no cluster partition is rewritten.
    *
    * Oracle by construction (annDeleteTopkSql verbatim): delete 5 of the
    * 9 planted copies; the tuned-nProbe top-5 must be exactly {vector 0,
    * the 4 surviving copies} at cosine 1.0.
    */
  def annIvfDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    ResultCache.buildIfAbsent(spark,
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "ivf:clusters=16:seed=42:lifecycle=delete:v1", path) {
      IndexBuilder.buildIvfIndex(
        withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
        "embedding", numClusters = 16, seed = 42L, path)
      // the delete commit: tombstones only, index untouched
      spark.range(100000L, 100005L).toDF("vec_id")
        .write.mode("overwrite").parquet(path + "_tombstones")
    }
    val tombstones = spark.read.parquet(path + "_tombstones")
    val qv = queryVec(spark, dir, 0L)
    val probeIds = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv, nProbe = tunedNProbe(spark, dir))
    spark.read.parquet(path)
      .filter(col("cluster_id").isin(probeIds: _*))
      .join(broadcast(tombstones), Seq("vec_id"), "left_anti")
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  /** COMPACTION folds the IVF tombstone sidecar into the cluster
    * partitions — `Compaction.foldTombstones` is partition-key-generic
    * (it discovers the key from the directory names), so the exact
    * affected-partition fold + tmp/bak swap + sidecar-truncates-last
    * discipline the LSH index gets now runs over `cluster_id=` leaves,
    * with the centroid sidecar untouched (underscore-hidden, never a
    * partition). Invariance pinning as annCompactedDeleteTopk: the oracle
    * is annDeleteTopkSql VERBATIM but the query takes NO anti-join — the
    * folded index alone must no longer serve the deleted rows.
    */
  def annIvfCompactedDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfcdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    // the fold rewrites cluster partitions in place, so the cached unit is
    // the WHOLE build+tombstone+fold sequence (the buildIfAbsent rule)
    ResultCache.buildIfAbsent(spark, corpus,
      "ivf:clusters=16:seed=42:lifecycle=delete+fold:v1", path) {
      IndexBuilder.buildIvfIndex(corpus, "embedding",
        numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100005L).toDF("vec_id")
        .write.mode("overwrite").parquet(path + "_tombstones")
      graft.ingest.Compaction.foldTombstones(spark, path, path + "_tombstones")
    }
    val qv = queryVec(spark, dir, 0L)
    val probeIds = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv, nProbe = tunedNProbe(spark, dir))
    spark.read.parquet(path)
      .filter(col("cluster_id").isin(probeIds: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  /** UPSERT into the IVF index without a rebuild or refit — the
    * "document was re-embedded" flow under cluster pruning: the old and
    * new versions live in DIFFERENT cluster directories (the new
    * embedding assigns against the persisted centroid sidecar, the
    * add-after-train contract), so plain latest-wins breaks under nProbe
    * pruning exactly as it does under bucket pruning — hence the same
    * seq-watermark tombstone (`kill vec_id rows with seq ≤ upto_seq`)
    * that must NOT kill the appended replacement. Upsert cost = one tiny
    * sidecar write + one append; the KMeans fit is never redone.
    *
    * Oracle (annUpsertTopkSql verbatim): copy 100000 re-embedded from
    * vector 0's embedding to vector 1's; the vec-0 query's top-5 must be
    * {0, 100001..100004} — a missed watermark keeps stale 100000 at 1.0
    * and perturbs the row set.
    */
  def annIvfUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    ResultCache.buildIfAbsent(spark, withPlantedSelfCopies(spark, e),
      "ivf:clusters=16:seed=42:lifecycle=upsert-raw:v1", path) {
      IndexBuilder.buildIvfIndex(
        withPlantedSelfCopies(spark, e).withColumn("seq", lit(0L)),
        "embedding", numClusters = 16, seed = 42L, path)
      // the upsert commit: watermark-tombstone the old version, append the
      // new one through the persisted centroids (no refit)
      spark.range(100000L, 100001L).toDF("t_vec_id")
        .withColumn("upto_seq", lit(0L))
        .write.mode("overwrite").parquet(path + "_tombstones")
      val reEmbedded = spark.range(100000L, 100001L).toDF("vec_id")
        .crossJoin(broadcast(e.filter(col("vec_id") === 1L).select(col("embedding"))))
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
      IndexBuilder.appendToIvfIndex(reEmbedded, "embedding", path)
    }
    val tombstones = spark.read.parquet(path + "_tombstones")
    val qv = queryVec(spark, dir, 0L)
    val probeIds = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv, nProbe = tunedNProbe(spark, dir))
    spark.read.parquet(path)
      .filter(col("cluster_id").isin(probeIds: _*))
      .join(broadcast(tombstones),
        col("vec_id") === col("t_vec_id") && col("seq") <= col("upto_seq"),
        "left_anti")
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  /** The IVF watermark-tombstone fold — upsert's maintenance half over
    * `cluster_id=` partitions: the fold must kill exactly the rows with
    * `seq <= upto_seq` in the old version's cluster and KEEP the
    * appended replacement in its different cluster. Invariance pinning
    * as annCompactedUpsertTopk: annUpsertTopkSql verbatim, no anti-join
    * in the query.
    */
  def annIvfCompactedUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfcupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    ResultCache.buildIfAbsent(spark, withPlantedSelfCopies(spark, e),
      "ivf:clusters=16:seed=42:lifecycle=upsert+fold:v1", path) {
      IndexBuilder.buildIvfIndex(
        withPlantedSelfCopies(spark, e).withColumn("seq", lit(0L)),
        "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100001L).toDF("t_vec_id")
        .withColumn("upto_seq", lit(0L))
        .write.mode("overwrite").parquet(path + "_tombstones")
      val reEmbedded = spark.range(100000L, 100001L).toDF("vec_id")
        .crossJoin(broadcast(e.filter(col("vec_id") === 1L).select(col("embedding"))))
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
      IndexBuilder.appendToIvfIndex(reEmbedded, "embedding", path)
      graft.ingest.Compaction.foldTombstones(spark, path, path + "_tombstones")
    }
    val qv = queryVec(spark, dir, 0L)
    val probeIds = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv, nProbe = tunedNProbe(spark, dir))
    spark.read.parquet(path)
      .filter(col("cluster_id").isin(probeIds: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(5)
      .select("vec_id", "score")
  }

  /** DELETE from the persisted IVF-PQ index — the codes-carrying table
    * gets the same tombstone discipline as its float-only sibling, with
    * one semantics point the PQ stages force: the anti-join applies
    * BEFORE the ADC coarse pass (pre-filtering, like the metadata-
    * filtered row), because a deleted row left in the coarse set would
    * occupy overscan slots and shift the tie-inclusive cutoff — post-
    * filtering a coarse top-set loses results by construction. Delete
    * cost stays one sidecar write; codes, centroids, codebooks untouched.
    *
    * Oracle (annDeleteTopkSql verbatim): planted copies encode to vector
    * 0's exact code bytes, so the surviving 5 still ADC-score at the
    * shared max and rescore to 1.0 — only a tombstone leak or over-delete
    * perturbs the set.
    */
  def annIvfPqDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpqdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    ResultCache.buildIfAbsent(spark,
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "ivfpq:clusters=16:seed=42:lifecycle=delete:v1", path) {
      graft.vector.ProductQuantization.buildIvfPqIndex(
        withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
        "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100005L).toDF("vec_id")
        .write.mode("overwrite").parquet(path + "_tombstones")
    }
    val tombstones = spark.read.parquet(path + "_tombstones")
    val qv = queryVec(spark, dir, 0L)
    val centers = IndexBuilder.loadIvfCentroids(path)
    val books = graft.vector.ProductQuantization.loadPqCodebooks(path)
    val probes = IndexBuilder.nearestClusters(centers, qv,
      nProbe = tunedNProbe(spark, dir))
    val live = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probes: _*))
      .join(broadcast(tombstones), Seq("vec_id"), "left_anti")
    graft.vector.ProductQuantization.pqSearchEncoded(
      live, "embedding", "vec_id", books, qv, k = 5, overscan = 16)
  }

  /** COMPACTION folds the IVF-PQ tombstones into the cluster partitions —
    * `Compaction.foldTombstones` rewrites affected `cluster_id=` leaves
    * with ALL their columns (the m-byte codes ride along), and both
    * trained sidecars (centroids + codebooks, underscore-hidden) survive.
    * Invariance pinning: annDeleteTopkSql verbatim, the query takes NO
    * anti-join — the folded codes table alone must stop serving the
    * deleted rows through the full ADC + rescore stack.
    */
  def annIvfPqCompactedDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpqcdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      "ivfpq:clusters=16:seed=42:lifecycle=delete+fold:v1", path) {
      graft.vector.ProductQuantization.buildIvfPqIndex(
        corpus, "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100005L).toDF("vec_id")
        .write.mode("overwrite").parquet(path + "_tombstones")
      graft.ingest.Compaction.foldTombstones(spark, path, path + "_tombstones")
    }
    graft.vector.ProductQuantization.ivfPqIndexTopK(
      spark, path, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 5, nProbe = tunedNProbe(spark, dir))
  }

  /** UPSERT into the persisted IVF-PQ index — re-embed without retrain:
    * the replacement assigns and ENCODES against the persisted sidecars
    * (add-after-train for both quantizers), landing codes in its new
    * cluster; the old version dies by seq-watermark (an id-level
    * tombstone would kill the replacement), applied before the ADC pass
    * for the same pre-filter reason as the delete row.
    */
  def annIvfPqUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpqupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    ResultCache.buildIfAbsent(spark, withPlantedSelfCopies(spark, e),
      "ivfpq:clusters=16:seed=42:lifecycle=upsert-raw:v1", path) {
      graft.vector.ProductQuantization.buildIvfPqIndex(
        withPlantedSelfCopies(spark, e).withColumn("seq", lit(0L)),
        "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100001L).toDF("t_vec_id")
        .withColumn("upto_seq", lit(0L))
        .write.mode("overwrite").parquet(path + "_tombstones")
      val reEmbedded = spark.range(100000L, 100001L).toDF("vec_id")
        .crossJoin(broadcast(e.filter(col("vec_id") === 1L).select(col("embedding"))))
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
      graft.vector.ProductQuantization.appendToIvfPqIndex(reEmbedded, "embedding", path)
    }
    val tombstones = spark.read.parquet(path + "_tombstones")
    val qv = queryVec(spark, dir, 0L)
    val books = graft.vector.ProductQuantization.loadPqCodebooks(path)
    val probes = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv, nProbe = tunedNProbe(spark, dir))
    val live = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probes: _*))
      .join(broadcast(tombstones),
        col("vec_id") === col("t_vec_id") && col("seq") <= col("upto_seq"),
        "left_anti")
    graft.vector.ProductQuantization.pqSearchEncoded(
      live, "embedding", "vec_id", books, qv, k = 5, overscan = 16)
  }

  /** The IVF-PQ watermark fold — the upsert's maintenance half over the
    * codes table: kill exactly `seq <= upto_seq` in the old cluster, keep
    * the re-encoded replacement in its new one, sidecars untouched.
    * annUpsertTopkSql verbatim, no anti-join in the query.
    */
  def annIvfPqCompactedUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpqcupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    ResultCache.buildIfAbsent(spark, withPlantedSelfCopies(spark, e),
      "ivfpq:clusters=16:seed=42:lifecycle=upsert+fold:v1", path) {
      graft.vector.ProductQuantization.buildIvfPqIndex(
        withPlantedSelfCopies(spark, e).withColumn("seq", lit(0L)),
        "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100001L).toDF("t_vec_id")
        .withColumn("upto_seq", lit(0L))
        .write.mode("overwrite").parquet(path + "_tombstones")
      val reEmbedded = spark.range(100000L, 100001L).toDF("vec_id")
        .crossJoin(broadcast(e.filter(col("vec_id") === 1L).select(col("embedding"))))
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
      graft.vector.ProductQuantization.appendToIvfPqIndex(reEmbedded, "embedding", path)
      graft.ingest.Compaction.foldTombstones(spark, path, path + "_tombstones")
    }
    graft.vector.ProductQuantization.ivfPqIndexTopK(
      spark, path, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 5, nProbe = tunedNProbe(spark, dir))
  }

  /** Shard count for the scatter-gather rows — conf-read
    * (`spark.graft.ann.shardCount`, default 2) because the invariant
    * argument is N-generic and the fleet picks N per corpus size; the
    * cache tags carry N so different shard layouts never share fixture
    * directories. ShardedSpec runs the same rows at N=4.
    */
  private[graft] def shardCount(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.ann.shardCount").map(_.toInt).getOrElse(2)

  /** SHARDED scatter-gather serving — the fleet layout where the corpus
    * is split across independently-built index tables (at 1000 executors
    * no single index spans the corpus; shards build, compact, and fail
    * independently): each shard answers the query from its own pruned
    * scan, and the global answer is the re-topped union of the per-shard
    * top-ks — correct by the scatter-gather invariant (every global
    * top-k member is in its own shard's top-k, so the union provably
    * contains the global answer). Shard membership is a pure id hash, so
    * routing needs no directory. The planted copies split across the
    * shards (ids 100000..100008 hash to different residues), making the
    * row sensitive to a lost shard, a broken merge, or a shard build
    * that dropped rows.
    */
  def annShardedTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    val n = shardCount(spark)
    val shardTops = (0 until n).map { shard =>
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_lshshard${shard}of${n}_" + Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      val part = corpus.filter(
        pmod(xxhash64(col("vec_id")), lit(n.toLong)) === shard.toLong)
      ResultCache.buildIfAbsent(spark, corpus,
        s"lsh:bits=${defaultLsh.nBits}:seed=42:shard=$shard/$n:v1", path) {
        IndexBuilder.buildLshIndex(part, "embedding", defaultLsh, path)
      }
      spark.read.parquet(path)
        .filter(col("bucket").isin(probes: _*))
        .withColumn("score", round(
          graft.vector.VectorFunctions.cosineUnit(
            col("embedding"), typedlit(qv.toSeq)), 6))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "score")
    }
    // the gather: union of per-shard top-ks, re-topped globally
    shardTops.reduce(_ unionByName _)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  // ---- CAS-committed index version log ---------------------------------
  // The versioned-read rows commit through `graft.ingest.ManifestLog` —
  // the same optimistic multi-writer CAS log the lakehouse rows use
  // (exclusive create of v<N>.manifest, sentinel-guarded content) —
  // instead of the pre-r13 single-writer parquet manifest: an index fleet
  // (appender racing a compactor racing an expiry job) is exactly the
  // multi-writer case, and the parquet overwrite could tear under it.
  // Manifest-level probe pruning is unchanged: file paths carry their
  // partition (`bucket=`/`cluster_id=`), so the driver prunes the
  // file LIST before any scan.

  private def indexLogDir(path: String): String = path + "_mlog"

  /** Reset the version log inside a fixture rebuild (the data dirs are
    * being rebuilt too, so the old log's references are stale). */
  private def resetIndexLog(path: String): Unit =
    deleteRecursively(new java.io.File(indexLogDir(path)))

  /** CAS-commit one index version; `update` receives the head's file
    * list (append = head ++ new files; compaction = replace wholesale). */
  private def commitIndexVersion(spark: SparkSession, path: String,
      update: Seq[String] => Seq[String]): Long =
    graft.ingest.ManifestLog.commit(spark, indexLogDir(path), update)

  /** Resolve version `v`'s file list through the log, pruned at the
    * MANIFEST to the probe partitions (file-count-bounded, no scan). */
  private def indexVersionFiles(spark: SparkSession, path: String, v: Long,
      partCol: String, probes: Set[Int]): Seq[String] =
    graft.ingest.ManifestLog.read(spark, indexLogDir(path), v)
      .getOrElse(throw new java.io.IOException(
        s"index version log: no valid v$v under ${indexLogDir(path)}"))
      .filter { f =>
        s"$partCol=(\\d+)".r.findFirstMatchIn(f)
          .forall(m => probes.contains(m.group(1).toInt))
      }

  /** Every parquet data file under an index root, recursively — the
    * manifest-commit primitive shared by the versioned-read rows. */
  private def listIndexFiles(spark: SparkSession, path: String): Seq[String] =
    graft.FileListing.files(spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(path))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted

  /** The scatter-gather layout for the GRAPH family: each shard is its
    * own independently built NSW graph (build, fold, and compaction
    * happen per shard — no cross-shard edges exist, which is the point:
    * a shard can be rebuilt or lost without touching the others), a
    * query walks every shard, and the gather re-tops the union of
    * per-shard top-ks. Same planted construction as the LSH sharded row
    * (the family provably straddles both shards), same invariant: every
    * global top-k member is in its own shard's top-k.
    */
  def annGraphShardedTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    val qv = queryVec(spark, dir, 0L)
    val n = shardCount(spark)
    val shardTops = (0 until n).map { shard =>
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_nswshard${shard}of${n}_" + Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      val part = corpus
        .filter(pmod(xxhash64(col("vec_id")), lit(n.toLong)) === shard.toLong)
      ResultCache.buildIfAbsent(spark, corpus,
        s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42:shard=$shard/$n:v1", path) {
        graft.vector.GraphAnn.buildNswGraph(
          part, "embedding", "vec_id", defaultLsh, m = 8, path)
      }
      // per-shard RESIDENT serve (a driver-local walk per shard, pin
      // amortized per shard version) — the serving-node shape: each shard node holds
      // its own view
      graft.vector.GraphAnn.nswServedSearch(
        spark, path, part, "embedding", "vec_id", Seq(0L -> qv), k = 10)
        .select("vec_id", "score")
    }
    shardTops.reduce(_ unionByName _)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
      .orderBy("vec_id")
  }

  /** VERSIONED index reads — the Iceberg snapshot model applied to the
    * vector index: every build/append commits a manifest listing its
    * version's data files, and a reader pins a version by resolving
    * files through the manifest alone (no copies, no snapshot dirs; the
    * lakehouse timeTravelScan discipline on the index table). Probe
    * pruning happens AT THE MANIFEST: file paths carry their `bucket=`
    * partition, so the driver filters the file list to probe buckets
    * before any scan — catalog-level partition pruning, file-count
    * bounded. The enumerable construction: version 1 indexes the corpus
    * + 5 planted copies, version 2 appends 4 more; the v1 top-6 and v2
    * top-10 are both provable, so serving a version's answer from the
    * wrong file set (torn append visible at v1, lost files at v2)
    * perturbs the row.
    */
  def annTimeTravelTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshtt_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    def dataFiles(): Seq[String] = listIndexFiles(spark, path)
    ResultCache.buildIfAbsent(spark, corpus,
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=timetravel:v2", path) {
      resetIndexLog(path)
      IndexBuilder.buildLshIndex(
        e.unionByName(corpus.filter(col("vec_id").between(100000L, 100004L))),
        "embedding", defaultLsh, path)
      val v1 = dataFiles()
      // the commits go through the CAS log: data files land FIRST, then
      // the version claim — a reader of v1 never sees a torn append, and
      // a racing second committer would retry on top, never clobber
      commitIndexVersion(spark, path, _ => v1)
      IndexBuilder.appendToLshIndex(
        corpus.filter(col("vec_id") >= 100005L), "embedding", defaultLsh, path)
      val newFiles = dataFiles().diff(v1)
      commitIndexVersion(spark, path, head => head ++ newFiles)
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir)).toSet
    def readVersion(v: Long, k: Int): DataFrame = {
      val files = indexVersionFiles(spark, path, v, "bucket", probes)
      spark.read.option("basePath", path).parquet(files: _*)
        .filter(col("bucket").isin(probes.toSeq: _*))
        .withColumn("score", round(
          graft.vector.VectorFunctions.cosineUnit(
            col("embedding"), typedlit(qv.toSeq)), 6))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
        .select(lit(v).as("version"), col("vec_id"), col("score"))
    }
    readVersion(1L, 6).unionByName(readVersion(2L, 10))
      .orderBy("version", "vec_id")
  }

  private val annTimeTravelTopkSql =
    """SELECT 1::BIGINT AS version, vec_id, 1.0::DOUBLE AS score FROM (
      |  SELECT vec_id FROM embeddings WHERE vec_id = 0
      |  UNION ALL
      |  SELECT vec_id + 100000 FROM embeddings WHERE vec_id < 5) t
      |UNION ALL
      |SELECT 2::BIGINT, vec_id, 1.0::DOUBLE FROM (
      |  SELECT vec_id FROM embeddings WHERE vec_id = 0
      |  UNION ALL
      |  SELECT vec_id + 100000 FROM embeddings WHERE vec_id < 9) t
      |ORDER BY version, vec_id""".stripMargin

  /** The index maintenance loop CLOSED Iceberg-style: compaction
    * rewrite → version expiry → vacuum of unreferenced files. Version 1
    * builds, version 2 appends (small files accumulate — the steady
    * state of incremental maintenance), version 3 is a COMPACTION commit
    * (all live rows rewritten as fresh clustered files under the same
    * bucket layout; the manifest row-set IS the commit). Expiring
    * v1/v2 then makes their files unreferenced, and the vacuum deletes
    * exactly those — the cached unit asserts it actually reclaimed
    * files. The post-vacuum query resolves v3 through the manifest and
    * must still serve the full planted answer: a vacuum that deleted a
    * live file, a compaction that dropped rows, or an expiry that
    * removed the wrong versions each perturbs the enumerable set.
    */
  def annVacuumedTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_lshvac_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"lsh:bits=${defaultLsh.nBits}:seed=42:lifecycle=compact+expire+vacuum:v2",
      path) {
      resetIndexLog(path)
      IndexBuilder.buildLshIndex(
        e.unionByName(corpus.filter(col("vec_id").between(100000L, 100004L))),
        "embedding", defaultLsh, path)
      val v1 = listIndexFiles(spark, path)
      commitIndexVersion(spark, path, _ => v1)
      IndexBuilder.appendToLshIndex(
        corpus.filter(col("vec_id") >= 100005L), "embedding", defaultLsh, path)
      val v2 = listIndexFiles(spark, path)
      commitIndexVersion(spark, path, head => head ++ v2.diff(v1))
      // v3: the compaction commit — live rows rewritten as fresh files in
      // the same layout; old files stay on disk until the vacuum.
      // Materialized BEFORE the write: appending to the directory being
      // read would otherwise race the scan's file listing.
      val live = spark.read.parquet(path)
        .select("vec_id", "embedding", "bucket")
        .localCheckpoint(true)
      IndexBuilder.clusteredBy(live, "bucket", 1 << defaultLsh.nBits)
        .write.mode("append").partitionBy("bucket").parquet(path)
      val v3 = listIndexFiles(spark, path).diff(v2)
      require(v3.nonEmpty, "compaction produced no files")
      // the compaction commit REPLACES the file set (layout, not content)
      commitIndexVersion(spark, path, _ => v3)
      // expiry: drop v1/v2 from the log — their files become unreferenced
      graft.ingest.ManifestLog.expire(spark, indexLogDir(path), keepFrom = 3L)
      // vacuum: delete every data file referenced by NO surviving version
      val referenced =
        graft.ingest.ManifestLog.allReferenced(spark, indexLogDir(path))
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val reclaimed = listIndexFiles(spark, path).filterNot(referenced)
      require(reclaimed.nonEmpty, "vacuum found nothing to reclaim")
      reclaimed.foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false))
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir)).toSet
    val files = indexVersionFiles(spark, path, 3L, "bucket", probes)
    spark.read.option("basePath", path).parquet(files: _*)
      .filter(col("bucket").isin(probes.toSeq: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  /** VERSIONED reads for the IVF family — the LSH manifest lifecycle
    * (annTimeTravelTopk) applied to `cluster_id=` partitions: every
    * build/append commits a manifest row-set listing its version's data
    * files, a reader pins a version by resolving files through the
    * manifest alone, and probe pruning happens AT THE MANIFEST — file
    * paths carry their cluster partition, so the driver filters the
    * file list to the nProbe-nearest clusters before any scan. The
    * centroid sidecar is shared across versions (add-after-train: the
    * appended copies assign against it, never refit), so pinning v1
    * costs no sidecar copy. Same enumerable construction and oracle as
    * the LSH row: v1 top-6 and v2 top-10 are both provable, so serving
    * a version from the wrong file set perturbs the row.
    */
  def annIvfTimeTravelTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivftt_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    def dataFiles(): Seq[String] = listIndexFiles(spark, path)
    ResultCache.buildIfAbsent(spark, corpus,
      "ivf:clusters=16:seed=42:lifecycle=timetravel:v2", path) {
      resetIndexLog(path)
      IndexBuilder.buildIvfIndex(
        e.unionByName(corpus.filter(col("vec_id").between(100000L, 100004L))),
        "embedding", numClusters = 16, seed = 42L, path)
      val v1 = dataFiles()
      commitIndexVersion(spark, path, _ => v1)
      IndexBuilder.appendToIvfIndex(
        corpus.filter(col("vec_id") >= 100005L), "embedding", path)
      val newFiles = dataFiles().diff(v1)
      commitIndexVersion(spark, path, head => head ++ newFiles)
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv,
      nProbe = tunedNProbe(spark, dir)).toSet
    def readVersion(v: Long, k: Int): DataFrame = {
      val files = indexVersionFiles(spark, path, v, "cluster_id", probes)
      spark.read.option("basePath", path).parquet(files: _*)
        .filter(col("cluster_id").isin(probes.toSeq: _*))
        .withColumn("score", round(
          graft.vector.VectorFunctions.cosineUnit(
            col("embedding"), typedlit(qv.toSeq)), 6))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
        .select(lit(v).as("version"), col("vec_id"), col("score"))
    }
    readVersion(1L, 6).unionByName(readVersion(2L, 10))
      .orderBy("version", "vec_id")
  }

  /** SHARDED scatter-gather for the IVF family: each shard is its own
    * independently fitted and built IVF index (per-shard centroids +
    * sidecar — a shard rebuilds or dies without touching the others; at
    * fleet scale no single KMeans fit spans the corpus), a query ranks
    * EACH shard's own centroids for its probe set, and the gather
    * re-tops the union of per-shard top-ks. The invariant is the same
    * N-generic scatter-gather argument as the LSH/graph rows, plus the
    * IVF-specific one: each planted copy sits at the query point, so
    * within ITS shard its assigned centroid is the nearest to the query
    * and is probed at any nProbe ≥ 1 — the union provably contains the
    * full planted answer whatever the per-shard fits look like.
    */
  def annIvfShardedTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    val qv = queryVec(spark, dir, 0L)
    val n = shardCount(spark)
    val shardTops = (0 until n).map { shard =>
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivfshard${shard}of${n}_" + Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      val part = corpus.filter(
        pmod(xxhash64(col("vec_id")), lit(n.toLong)) === shard.toLong)
      ResultCache.buildIfAbsent(spark, corpus,
        s"ivf:clusters=16:seed=42:shard=$shard/$n:v1", path) {
        IndexBuilder.buildIvfIndex(part, "embedding",
          numClusters = 16, seed = 42L, path)
      }
      val probeIds = IndexBuilder.nearestClusters(
        IndexBuilder.loadIvfCentroids(path), qv,
        nProbe = tunedNProbe(spark, dir))
      spark.read.parquet(path)
        .filter(col("cluster_id").isin(probeIds: _*))
        .withColumn("score", round(
          graft.vector.VectorFunctions.cosineUnit(
            col("embedding"), typedlit(qv.toSeq)), 6))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
        .select("vec_id", "score")
    }
    shardTops.reduce(_ unionByName _)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  /** DELETE from the persisted IVF-SQ8 index — the codes-carrying SQ8
    * table gets the tombstone discipline its PQ sibling has, with the
    * same semantics point: the anti-join applies BEFORE the quantized
    * coarse pass (a deleted row left in the coarse set would occupy
    * overscan slots and shift the tie-inclusive cutoff). Delete cost is
    * one sidecar write; codes, scales, centroids untouched, and the
    * coarse pass still reads codes only (plan-audited).
    */
  def annIvfSq8DeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfsq8del_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    ResultCache.buildIfAbsent(spark,
      withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
      "ivfsq8:clusters=16:seed=42:lifecycle=delete:v1", path) {
      graft.vector.Quantization.buildIvfSq8Index(
        withPlantedSelfCopies(spark, Tables.embeddings(spark, dir)),
        "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100005L).toDF("vec_id")
        .write.mode("overwrite").parquet(path + "_tombstones")
    }
    val tombstones = spark.read.parquet(path + "_tombstones")
    val qv = queryVec(spark, dir, 0L)
    val probes = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv,
      nProbe = tunedNProbe(spark, dir))
    val live = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probes: _*))
      .join(broadcast(tombstones), Seq("vec_id"), "left_anti")
    graft.vector.Quantization.quantizedKnn(
      live, "embedding", "vec_id", qv, k = 5)
  }

  /** UPSERT into the persisted IVF-SQ8 index — re-embed without retrain:
    * the replacement assigns and QUANTIZES against the persisted sidecar
    * state (add-after-train for both the coarse quantizer and the scalar
    * codes), landing int8 codes in its new cluster; the old version dies
    * by seq-watermark (an id-level tombstone would kill the replacement),
    * applied before the coarse pass for the same pre-filter reason as
    * the delete row. annUpsertTopkSql verbatim.
    */
  def annIvfSq8UpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfsq8upsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    ResultCache.buildIfAbsent(spark, withPlantedSelfCopies(spark, e),
      "ivfsq8:clusters=16:seed=42:lifecycle=upsert-raw:v1", path) {
      graft.vector.Quantization.buildIvfSq8Index(
        withPlantedSelfCopies(spark, e).withColumn("seq", lit(0L)),
        "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100001L).toDF("t_vec_id")
        .withColumn("upto_seq", lit(0L))
        .write.mode("overwrite").parquet(path + "_tombstones")
      val reEmbedded = spark.range(100000L, 100001L).toDF("vec_id")
        .crossJoin(broadcast(e.filter(col("vec_id") === 1L).select(col("embedding"))))
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
      graft.vector.Quantization.appendToIvfSq8Index(reEmbedded, "embedding", path)
    }
    val tombstones = spark.read.parquet(path + "_tombstones")
    val qv = queryVec(spark, dir, 0L)
    val probes = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv,
      nProbe = tunedNProbe(spark, dir))
    val live = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probes: _*))
      .join(broadcast(tombstones),
        col("vec_id") === col("t_vec_id") && col("seq") <= col("upto_seq"),
        "left_anti")
    graft.vector.Quantization.quantizedKnn(
      live, "embedding", "vec_id", qv, k = 5)
  }

  /** COMPACTION folds the IVF-SQ8 tombstones into the cluster partitions
    * — `Compaction.foldTombstones` rewrites affected `cluster_id=` leaves
    * with ALL their columns (the int8 codes and scales ride along), and
    * the centroid sidecar survives. Invariance pinning: annDeleteTopkSql
    * verbatim, the query takes NO anti-join — the folded codes table
    * alone must stop serving the deleted rows through the quantized
    * coarse + exact rescore stack.
    */
  def annIvfSq8CompactedDeleteTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfsq8cdel_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      "ivfsq8:clusters=16:seed=42:lifecycle=delete+fold:v1", path) {
      graft.vector.Quantization.buildIvfSq8Index(
        corpus, "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100005L).toDF("vec_id")
        .write.mode("overwrite").parquet(path + "_tombstones")
      graft.ingest.Compaction.foldTombstones(spark, path, path + "_tombstones")
    }
    graft.vector.Quantization.ivfSq8IndexTopK(
      spark, path, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 5, nProbe = tunedNProbe(spark, dir))
  }

  /** The IVF-SQ8 watermark fold — the upsert's maintenance half over the
    * codes table: kill exactly `seq <= upto_seq` in the old cluster, keep
    * the re-quantized replacement in its new one, sidecar untouched.
    * annUpsertTopkSql verbatim, no anti-join in the query.
    */
  def annIvfSq8CompactedUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfsq8cupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    ResultCache.buildIfAbsent(spark, withPlantedSelfCopies(spark, e),
      "ivfsq8:clusters=16:seed=42:lifecycle=upsert+fold:v1", path) {
      graft.vector.Quantization.buildIvfSq8Index(
        withPlantedSelfCopies(spark, e).withColumn("seq", lit(0L)),
        "embedding", numClusters = 16, seed = 42L, path)
      spark.range(100000L, 100001L).toDF("t_vec_id")
        .withColumn("upto_seq", lit(0L))
        .write.mode("overwrite").parquet(path + "_tombstones")
      val reEmbedded = spark.range(100000L, 100001L).toDF("vec_id")
        .crossJoin(broadcast(e.filter(col("vec_id") === 1L).select(col("embedding"))))
        .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
      graft.vector.Quantization.appendToIvfSq8Index(reEmbedded, "embedding", path)
      graft.ingest.Compaction.foldTombstones(spark, path, path + "_tombstones")
    }
    graft.vector.Quantization.ivfSq8IndexTopK(
      spark, path, "embedding", "vec_id", queryVec(spark, dir, 0L),
      k = 5, nProbe = tunedNProbe(spark, dir))
  }

  /** VERSIONED reads for the persisted IVF-PQ index — the manifest
    * lifecycle over the codes-carrying table: the m-byte codes ride the
    * manifest-resolved files, both trained sidecars (centroids +
    * codebooks) are shared across versions (add-after-train: the append
    * encodes against them, never refits), and each version's answer is
    * served through the full ADC coarse + exact rescore stack over its
    * pinned file set alone. Same enumerable two-version oracle as the
    * other time-travel rows.
    */
  def annIvfPqTimeTravelTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpqtt_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      "ivfpq:clusters=16:seed=42:lifecycle=timetravel:v2", path) {
      resetIndexLog(path)
      graft.vector.ProductQuantization.buildIvfPqIndex(
        e.unionByName(corpus.filter(col("vec_id").between(100000L, 100004L))),
        "embedding", numClusters = 16, seed = 42L, path)
      val v1 = listIndexFiles(spark, path)
      commitIndexVersion(spark, path, _ => v1)
      graft.vector.ProductQuantization.appendToIvfPqIndex(
        corpus.filter(col("vec_id") >= 100005L), "embedding", path)
      val newFiles = listIndexFiles(spark, path).diff(v1)
      commitIndexVersion(spark, path, head => head ++ newFiles)
    }
    val qv = queryVec(spark, dir, 0L)
    val books = graft.vector.ProductQuantization.loadPqCodebooks(path)
    val probes = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv,
      nProbe = tunedNProbe(spark, dir)).toSet
    def readVersion(v: Long, k: Int): DataFrame = {
      val files = indexVersionFiles(spark, path, v, "cluster_id", probes)
      val live = spark.read.option("basePath", path).parquet(files: _*)
        .filter(col("cluster_id").isin(probes.toSeq: _*))
      graft.vector.ProductQuantization.pqSearchEncoded(
        live, "embedding", "vec_id", books, qv, k = k, overscan = 16)
        .select(lit(v).as("version"), col("vec_id"), col("score"))
    }
    readVersion(1L, 6).unionByName(readVersion(2L, 10))
      .orderBy("version", "vec_id")
  }

  /** The IVF maintenance loop closed Iceberg-style, annVacuumedTopk's
    * lifecycle over `cluster_id=` partitions: build (v1) → append (small
    * files accumulate, v2) → COMPACTION commit (live rows rewritten as
    * fresh clustered files in the same partition layout; the manifest
    * row-set is the commit) → version expiry → vacuum of exactly the
    * unreferenced files. The centroid sidecar is not a data file
    * (text, never in a manifest) and survives every stage — the
    * post-vacuum query still resolves probes through it, then serves v3
    * through the manifest and must return the full planted answer.
    */
  def annIvfVacuumedTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfvac_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      "ivf:clusters=16:seed=42:lifecycle=compact+expire+vacuum:v2", path) {
      resetIndexLog(path)
      IndexBuilder.buildIvfIndex(
        e.unionByName(corpus.filter(col("vec_id").between(100000L, 100004L))),
        "embedding", numClusters = 16, seed = 42L, path)
      val v1 = listIndexFiles(spark, path)
      commitIndexVersion(spark, path, _ => v1)
      IndexBuilder.appendToIvfIndex(
        corpus.filter(col("vec_id") >= 100005L), "embedding", path)
      val v2 = listIndexFiles(spark, path)
      commitIndexVersion(spark, path, head => head ++ v2.diff(v1))
      // v3: the compaction commit — live rows rewritten as fresh files in
      // the same cluster layout; old files stay on disk until the vacuum.
      // Materialized BEFORE the write: appending to the directory being
      // read would otherwise race the scan's file listing.
      val live = spark.read.parquet(path)
        .select("vec_id", "embedding", "cluster_id")
        .localCheckpoint(true)
      IndexBuilder.clusteredBy(live, "cluster_id", 16)
        .write.mode("append").partitionBy("cluster_id").parquet(path)
      val v3 = listIndexFiles(spark, path).diff(v2)
      require(v3.nonEmpty, "compaction produced no files")
      commitIndexVersion(spark, path, _ => v3)
      graft.ingest.ManifestLog.expire(spark, indexLogDir(path), keepFrom = 3L)
      val referenced =
        graft.ingest.ManifestLog.allReferenced(spark, indexLogDir(path))
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val reclaimed = listIndexFiles(spark, path).filterNot(referenced)
      require(reclaimed.nonEmpty, "vacuum found nothing to reclaim")
      reclaimed.foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false))
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv,
      nProbe = tunedNProbe(spark, dir)).toSet
    val files = indexVersionFiles(spark, path, 3L, "cluster_id", probes)
    spark.read.option("basePath", path).parquet(files: _*)
      .filter(col("cluster_id").isin(probes.toSeq: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  /** SHARDED scatter-gather over PERSISTED IVF-PQ indexes: each shard is
    * its own fully trained index (per-shard KMeans coarse fit AND
    * per-shard PQ codebooks — at fleet scale no single fit spans the
    * corpus, and a shard retrains without touching the others); each
    * shard answers through its full ADC coarse + exact rescore stack,
    * and the gather re-tops the union. The per-shard planted copies
    * encode to their shard's code for the query point, rescore exactly,
    * and survive by the same N-generic scatter-gather invariant.
    */
  def annIvfPqShardedTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    val qv = queryVec(spark, dir, 0L)
    val n = shardCount(spark)
    val shardTops = (0 until n).map { shard =>
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivfpqshard${shard}of${n}_" + Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      val part = corpus.filter(
        pmod(xxhash64(col("vec_id")), lit(n.toLong)) === shard.toLong)
      ResultCache.buildIfAbsent(spark, corpus,
        s"ivfpq:clusters=16:seed=42:shard=$shard/$n:v1", path) {
        graft.vector.ProductQuantization.buildIvfPqIndex(
          part, "embedding", numClusters = 16, seed = 42L, path)
      }
      graft.vector.ProductQuantization.ivfPqIndexTopK(
        spark, path, "embedding", "vec_id", qv,
        k = 10, nProbe = tunedNProbe(spark, dir))
    }
    shardTops.reduce(_ unionByName _)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  /** SHARDED scatter-gather over PERSISTED IVF-SQ8 indexes — the
    * quantized fleet layout: per-shard coarse fit + per-vector int8
    * codes (quantization is per-vector, so shard membership cannot
    * change a code), codes-only coarse pass per shard, exact rescore,
    * gather re-top. Same invariant as the PQ sharded row.
    */
  def annIvfSq8ShardedTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    val qv = queryVec(spark, dir, 0L)
    val n = shardCount(spark)
    val shardTops = (0 until n).map { shard =>
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivfsq8shard${shard}of${n}_" + Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      val part = corpus.filter(
        pmod(xxhash64(col("vec_id")), lit(n.toLong)) === shard.toLong)
      ResultCache.buildIfAbsent(spark, corpus,
        s"ivfsq8:clusters=16:seed=42:shard=$shard/$n:v1", path) {
        graft.vector.Quantization.buildIvfSq8Index(
          part, "embedding", numClusters = 16, seed = 42L, path)
      }
      graft.vector.Quantization.ivfSq8IndexTopK(
        spark, path, "embedding", "vec_id", qv,
        k = 10, nProbe = tunedNProbe(spark, dir))
    }
    shardTops.reduce(_ unionByName _)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
      .select("vec_id", "score")
  }

  /** VERSIONED reads for the persisted IVF-SQ8 index — the manifest
    * lifecycle over the int8 codes table: v1's pinned file set serves
    * through the stored-codes coarse pass + exact rescore without ever
    * seeing v2's appended files, and both versions share the centroid
    * sidecar (append assigns + quantizes against it, never refits).
    */
  def annIvfSq8TimeTravelTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfsq8tt_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      "ivfsq8:clusters=16:seed=42:lifecycle=timetravel:v2", path) {
      resetIndexLog(path)
      graft.vector.Quantization.buildIvfSq8Index(
        e.unionByName(corpus.filter(col("vec_id").between(100000L, 100004L))),
        "embedding", numClusters = 16, seed = 42L, path)
      val v1 = listIndexFiles(spark, path)
      commitIndexVersion(spark, path, _ => v1)
      graft.vector.Quantization.appendToIvfSq8Index(
        corpus.filter(col("vec_id") >= 100005L), "embedding", path)
      val newFiles = listIndexFiles(spark, path).diff(v1)
      commitIndexVersion(spark, path, head => head ++ newFiles)
    }
    val qv = queryVec(spark, dir, 0L)
    val probes = IndexBuilder.nearestClusters(
      IndexBuilder.loadIvfCentroids(path), qv,
      nProbe = tunedNProbe(spark, dir)).toSet
    def readVersion(v: Long, k: Int): DataFrame = {
      val files = indexVersionFiles(spark, path, v, "cluster_id", probes)
      val live = spark.read.option("basePath", path).parquet(files: _*)
        .filter(col("cluster_id").isin(probes.toSeq: _*))
      graft.vector.Quantization.quantizedKnn(
        live, "embedding", "vec_id", qv, k = k)
        .select(lit(v).as("version"), col("vec_id"), col("score"))
    }
    readVersion(1L, 6).unionByName(readVersion(2L, 10))
      .orderBy("version", "vec_id")
  }

  /** VACUUM through the HNSW ladder: delete → ladder-wide fold →
    * ladder-wide compaction with retained backups → ladder-wide vacuum
    * reclaiming every rung's backup, asserted non-empty. The post-vacuum
    * hierarchical search takes no tombstone filter and must serve the
    * surviving planted answer through the compacted, vacuumed rungs
    * alone (annGraphDeleteTopkSql verbatim).
    */
  def annHnswVacuumedTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswvac_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2:lifecycle=delete+fold+compact+vacuum:v1",
      path) {
      Seq("_delta", "_l1_delta", "_l2_delta", "_tombstones")
        .foreach(s => deleteRecursively(new java.io.File(path + s)))
      graft.vector.GraphAnn.buildHnswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.deleteFromNswGraph(
        spark, (100000L to 100004L), path)
      graft.vector.GraphAnn.foldHnswTombstones(
        spark, path, corpus, "embedding", "vec_id", m = 8)
      graft.vector.GraphAnn.compactHnswGraph(spark, path, retainBackup = true)
      val reclaimed = graft.vector.GraphAnn.vacuumHnswGraph(spark, path)
      require(reclaimed > 0, "ladder vacuum found nothing to reclaim")
    }
    require(!new java.io.File(path + "._compact.bak").exists(),
      "vacuum must reclaim the layer-0 retained backup")
    // resident ladder serve over the vacuumed rungs (same pin contract
    // as the flat vacuumed row: mutations move the stamp, re-reads reuse)
    graft.vector.GraphAnn.hnswServedSearch(
      spark, path, corpus, "embedding", "vec_id",
      Seq(0L -> queryVec(spark, dir, 0L)), k = 5)
      .select("vec_id", "score")
  }

  /** VACUUM for the graph family — the maintenance loop closed the way
    * annVacuumedTopk closes it for LSH: delete (tombstone sidecar) →
    * fold (bridge-rewritten deltas, sidecar truncates) → compaction with
    * a RETAINED pre-compaction base (the rollback window of the Iceberg
    * expire-snapshots model) → vacuum, which reclaims exactly the
    * retained backup and any stale compaction temp — the cached unit
    * asserts files were actually reclaimed. The post-vacuum search takes
    * NO tombstone filter and finds NO delta directory: the compacted,
    * vacuumed base alone must serve the surviving planted answer
    * (annGraphDeleteTopkSql verbatim) — a vacuum that deleted the live
    * base, a compaction that resurrected a removal marker, or a fold
    * that missed a bridge each perturbs the row.
    */
  def annGraphVacuumedTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswvac_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42:lifecycle=delete+fold+compact+vacuum:v1",
      path) {
      deleteRecursively(new java.io.File(path + "_delta"))
      deleteRecursively(new java.io.File(path + "_tombstones"))
      graft.vector.GraphAnn.buildNswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.deleteFromNswGraph(
        spark, (100000L to 100004L), path)
      graft.vector.GraphAnn.foldNswTombstones(
        spark, path, corpus, "embedding", "vec_id", m = 8)
      graft.vector.GraphAnn.compactNswGraph(spark, path, retainBackup = true)
      val reclaimed = graft.vector.GraphAnn.vacuumNswGraph(spark, path)
      require(reclaimed > 0, "vacuum found nothing to reclaim")
    }
    require(!new java.io.File(path + "._compact.bak").exists(),
      "vacuum must reclaim the retained backup")
    // resident serve over the vacuumed base (pin re-stamps on the fold/
    // compact/vacuum mutations, then amortizes across warm re-reads)
    graft.vector.GraphAnn.nswServedSearch(
      spark, path, corpus, "embedding", "vec_id",
      Seq(0L -> queryVec(spark, dir, 0L)), k = 5)
      .select("vec_id", "score")
  }

  /** TIME TRAVEL through the HNSW ladder: the graph family's seq-pinned
    * versioned reads (ann_graph_time_travel_topk) composed with the
    * hierarchical descent — one asOfSeq pins every rung's merged view to
    * the same generation, so v1 (the build, no deltas) and v2 (after the
    * ladder append) are both servable from one stored index. Same
    * enumerable two-version oracle as the LSH/IVF manifest rows: a
    * descent that read a rung at the wrong version would route v1's walk
    * through nodes that must not exist yet, and the v1 emission would
    * surface appended copies.
    */
  def annHnswTimeTravelTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswtt_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    val v1Corpus = e.unionByName(
      corpus.filter(col("vec_id").between(100000L, 100004L)))
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2:lifecycle=timetravel:v2",
      path) {
      Seq("_delta", "_l1_delta", "_l2_delta", "_tombstones")
        .foreach(s => deleteRecursively(new java.io.File(path + s)))
      graft.vector.GraphAnn.buildHnswGraph(
        v1Corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.appendToHnswGraph(
        spark, corpus.filter(col("vec_id") >= 100005L),
        "embedding", "vec_id", defaultLsh, m = 8, path, v1Corpus)
    }
    // served through the RESIDENT pin, one per pinned version: the
    // asOfSeq-keyed pin cache makes the warm read two job-free serves
    // (AnnIndexSpec's "hnsw served time travel parity" pins the rows)
    def readVersion(v: Long, asOf: Long, k: Int): DataFrame =
      graft.vector.GraphAnn.hnswServedSearch(
        spark, path, corpus, "embedding", "vec_id",
        Seq(0L -> queryVec(spark, dir, 0L)), k = k, asOfSeq = asOf)
        .select(lit(v).as("version"), col("vec_id"), col("score"))
    readVersion(1L, asOf = 0L, k = 6)
      .unionByName(readVersion(2L, asOf = Long.MaxValue, k = 10))
      .orderBy("version", "vec_id")
  }

  /** KEYSET pagination over ANN results (the serving-path "next page"):
    * page 2 resumes strictly after page 1's last (score, id) cursor —
    * `score < s OR (score = s AND id > i)` — instead of OFFSET, which
    * re-ranks and discards the whole prefix on every page (at 100 TB an
    * OFFSET 1M page re-scores a million rows per request; the keyset
    * predicate prunes them at the scan). The 5-row cursor collect is the
    * bounded serving-path step, same contract as a client holding the
    * cursor. Tie-safety is the point of the compound predicate: all nine
    * planted copies tie at 1.0, so an id-blind `score <` cursor would
    * skip the rest of the tied band — the enumerable oracle (page 1 =
    * {0, first 4 copies}, page 2 = next 5 copies) fails on exactly that
    * bug.
    */
  def annPagedTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    val qv = queryVec(spark, dir, 0L)
    val probes = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir))
    val scored = IndexBuilder.withLshBucket(corpus, "embedding", defaultLsh)
      .filter(col("bucket").isin(probes: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), typedlit(qv.toSeq)), 6))
      .select("vec_id", "score")
    val page1 = scored.orderBy(col("score").desc, col("vec_id").asc).limit(5)
    val cursor = page1.collect().last // 5 rows — the client's cursor
    val (cs, ci) = (cursor.getDouble(1), cursor.getLong(0))
    val page2 = scored
      .filter(col("score") < cs || (col("score") === cs && col("vec_id") > ci))
      .orderBy(col("score").desc, col("vec_id").asc).limit(5)
    page1.withColumn("page", lit(1L))
      .union(page2.withColumn("page", lit(2L)))
      .orderBy("page", "vec_id")
  }

  private val annPagedTopkSql =
    """SELECT vec_id, 1.0::DOUBLE AS score, CAST(1 AS BIGINT) AS page FROM (
      |  SELECT vec_id FROM embeddings WHERE vec_id = 0
      |  UNION ALL
      |  SELECT vec_id + 100000 FROM embeddings WHERE vec_id < 4) t
      |UNION ALL
      |SELECT vec_id + 100000, 1.0::DOUBLE, CAST(2 AS BIGINT)
      |FROM embeddings WHERE vec_id BETWEEN 4 AND 8
      |ORDER BY page, vec_id""".stripMargin

  /** Structural oracle for the LSH near-dup path: plant an exact copy of
    * every vec_id < 50 (salted id +100000); identical vectors land in the
    * same bucket by construction, so the bucket-equi-join candidate
    * generator MUST surface each planted pair and the exact re-score must
    * give cosine 1.0 on unit vectors. The DuckDB oracle enumerates the
    * planted pairs — a bucketing or scoring regression drops a row and
    * fails the driver's hash compare. This is the scale shape of
    * embedding-cosine near-dup (bucket join, never all-pairs) finally under
    * an oracle.
    */
  def lshPlantedNearDupes(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 200)
      .select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val bucketed = IndexBuilder.withLshBucket(base.union(planted), "embedding", defaultLsh)
    bucketed.as("x").join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") &&
        col("x.vec_id") === col("y.vec_id") - 100000)
      .withColumn("cosine", round(
        graft.vector.VectorFunctions.cosineUnit(col("x.embedding"), col("y.embedding")), 6))
      .filter(col("cosine") === 1.0)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"), col("cosine"))
      .orderBy("vec_a")
  }

  private val lshPlantedNearDupesSql =
    """SELECT vec_id AS vec_a, vec_id + 100000 AS vec_b, 1.0::DOUBLE AS cosine
      |FROM embeddings WHERE vec_id < 50
      |ORDER BY vec_a""".stripMargin

  /** The IVF analog of lshPlantedNearDupes: identical planted vectors must
    * be assigned the SAME nearest centroid (the assignment is a pure
    * function of the vector and the deterministic seeded fit), so the
    * cluster-equi-join must surface every planted pair at cosine 1.0. A
    * fit-determinism or assignment regression drops rows against the
    * enumerating oracle — the IVF path's first driver-visible correctness
    * anchor.
    */
  def ivfPlantedNearDupes(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 200)
      .select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val (clustered, _) = IndexBuilder.withIvfCluster(
      base.union(planted), "embedding", numClusters = 16, seed = 42L)
    clustered.as("x").join(clustered.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
        col("x.vec_id") === col("y.vec_id") - 100000)
      .withColumn("cosine", round(
        graft.vector.VectorFunctions.cosineUnit(col("x.embedding"), col("y.embedding")), 6))
      .filter(col("cosine") === 1.0)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"), col("cosine"))
      .orderBy("vec_a")
  }

  private val ivfPlantedNearDupesSql =
    """SELECT vec_id AS vec_a, vec_id + 100000 AS vec_b, 1.0::DOUBLE AS cosine
      |FROM embeddings WHERE vec_id < 50
      |ORDER BY vec_a""".stripMargin

  /** Driver-visible recall FLOOR for the pruned retrieval paths, in the
    * empty-violation pattern (chunk_invariants): mean recall@10 over five
    * stored-vector queries, LSH (radius 2, 22/64 buckets probed) and IVF
    * (6/16 clusters), against the exact top-10 — one violation row per
    * method falling below its floor, oracle asserts the empty set. Floors
    * (LSH 0.35, IVF 0.50) sit ≥ 0.2 under every measured mean on this data
    * (LSH 0.54–0.62, IVF 0.72–0.82 across sf0.001/0.01/0.1) — random unit
    * vectors are the pruning-adversarial case, so real clustered
    * embeddings only gain margin. A recall regression (probe enumeration,
    * bucket assignment, centroid fit) now turns a green driver row red
    * instead of hiding in spec-only territory.
    */
  def annRecallGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
    val nQ = 5
    val qframe = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // ONE bounded collect (5 rows): probe sets and nearest-centroid lists
    // are pure driver-side functions of the query vectors — the batched
    // analog of the per-query serving path, everything else one job.
    val qvecs = qframe.collect()
      .map(r => r.getAs[Long]("query_id") -> r.getSeq[Float](1).toArray).toMap
    val lsh = defaultLsh
    val lshPairs = qvecs.toSeq.flatMap { case (qid, qv) =>
      lsh.probes(lsh.signature(qv.toSeq), radius = 2).map(b => (qid, b))
    }
    val (clustered, centers) =
      IndexBuilder.withIvfCluster(e, "embedding", numClusters = 16, seed = 42L)
    val ivfPairs = qvecs.toSeq.flatMap { case (qid, qv) =>
      IndexBuilder.nearestClusters(centers, qv, nProbe = 6).map(c => (qid, c))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("vec_id").asc)
    // candidate partitions are bucket/cluster-bounded per query, so the
    // rank window never sees an unbounded partition (exact is the
    // measurement baseline — O(N) per query by definition)
    def top10(cands: DataFrame): DataFrame =
      cands.withColumn("s", graft.vector.VectorFunctions.cosineUnit(
          col("embedding"), col("qvec")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10).select("query_id", "vec_id")
    val exact = top10(e.crossJoin(broadcast(qframe)))
    val lshTop = top10(IndexBuilder.withLshBucket(e, "embedding", lsh)
      .join(broadcast(lshPairs.toDF("query_id", "bucket")), Seq("bucket"))
      .join(broadcast(qframe), Seq("query_id")))
    val ivfTop = top10(clustered
      .join(broadcast(ivfPairs.toDF("query_id", "cluster_id")), Seq("cluster_id"))
      .join(broadcast(qframe), Seq("query_id")))
    // one exact subtree in the DAG: union the pruned sides first, join
    // once, and left-join from the literal method list so a zero-hit
    // method still surfaces (recall 0 MUST violate, not vanish)
    val hits = lshTop.withColumn("method", lit("lsh"))
      .union(ivfTop.withColumn("method", lit("ivf")))
      .join(exact, Seq("query_id", "vec_id"))
      .groupBy("method")
      .agg(expr(s"count(1) * 1000000 DIV ${nQ * 10}").as("mean_recall_e6"))
    Seq("lsh", "ivf").toDF("method")
      .join(hits, Seq("method"), "left")
      .na.fill(0L, Seq("mean_recall_e6"))
      .withColumn("floor_e6",
        when(col("method") === "lsh", 350000L).otherwise(500000L))
      .filter(col("mean_recall_e6") < col("floor_e6"))
      .orderBy("method")
  }

  private val annRecallGateSql =
    """SELECT NULL::VARCHAR AS method, NULL::BIGINT AS mean_recall_e6,
      |       NULL::BIGINT AS floor_e6 WHERE false""".stripMargin

  /** UPSERT into the NSW graph — "the document was re-embedded", composed
    * from the family's own maintenance primitives the way BM25's
    * bm25_upserted_topn composes delete + append: tombstone the old
    * version, FOLD (the graph's structural delete — unlike the bucketed
    * families an id-level tombstone would also hide the re-inserted id,
    * so the sidecar must clear before the same id returns), then append
    * the new embedding through the standard reverse-edge-maintaining
    * path. Upsert cost = one sidecar write + one bounded fold + one
    * batch append; the base adjacency files are never rewritten.
    *
    * Oracle (annUpsertTopkSql verbatim): copy 100000 re-embedded from
    * vector 0's embedding to vector 1's; the vec-0 query's top-5 must be
    * {0, 100001..100004} — a stale survivor (fold leak), a lost
    * replacement (append after fold broken), or an emission filter still
    * hiding the re-inserted id each perturbs the row set.
    */
  def annGraphUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    val corpus = withPlantedSelfCopies(spark, e)
    val newVersion = plantedLocalRows(spark, e, Seq(100000L -> 1L))
    val survivors = corpus.filter(col("vec_id") =!= 100000L)
    // the whole build+delete+fold+re-insert sequence is a pure function
    // of the corpus — one cached unit; re-runs measure retrieval over
    // the standing upserted graph
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42:lifecycle=upsert:v2", path) {
      deleteRecursively(new java.io.File(path + "_delta"))
      deleteRecursively(new java.io.File(path + "_tombstones"))
      graft.vector.GraphAnn.buildNswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
      // the upsert commit: structural delete of the old version …
      graft.vector.GraphAnn.deleteFromNswGraph(spark, Seq(100000L), path)
      graft.vector.GraphAnn.foldNswTombstones(
        spark, path, corpus, "embedding", "vec_id", m = 8)
      // … then the re-embedded version returns under the SAME id
      graft.vector.GraphAnn.appendToNswGraph(
        spark, newVersion, "embedding", "vec_id", defaultLsh, m = 8, path,
        survivors)
    }
    graft.vector.GraphAnn.nswSearch(
      spark, path, survivors.unionByName(newVersion), "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 5)
  }

  /** The hierarchical batch row: same five-family construction and
    * 50-row oracle, served through `GraphAnn.hnswBatchSearch` — every
    * query descends the ladder and walks layer 0 in memory over the one
    * resident pin of the index version, with no Spark job once warm.
    */
  def annHnswBatchTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswbatch_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = plantedLocalRows(spark, e,
      for (q <- 0L until 5L; j <- 0L until 9L) yield (100000L + q * 100L + j, q))
    val corpus = e.unionByName(copies)
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2", path) {
      graft.vector.GraphAnn.buildHnswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    val queries = qbase.collect() // 5 rows — the query batch
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    graft.vector.GraphAnn.hnswBatchSearch(
      spark, path, corpus, "embedding", "vec_id", queries, k = 10)
  }

  /** RESIDENT-VIEW serving through the HNSW ladder
    * (`GraphAnn.hnswServedSearch`) — the same fixture and 50-row oracle
    * as the hierarchical batch row, answered on the calling thread: every
    * rung's adjacency is pinned next to layer 0's as driver maps, and
    * each query descends them in memory with no Spark job once warm.
    * AnnIndexSpec's "hnsw served parity" pins the walk's rows.
    */
  def annHnswServedTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswbatch_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = plantedLocalRows(spark, e,
      for (q <- 0L until 5L; j <- 0L until 9L) yield (100000L + q * 100L + j, q))
    val corpus = e.unionByName(copies)
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2", path) {
      graft.vector.GraphAnn.buildHnswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    val queries = qbase.collect() // 5 rows — the serving batch
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    graft.vector.GraphAnn.hnswServedSearch(
      spark, path, corpus, "embedding", "vec_id", queries, k = 10)
  }

  /** TIME TRAVEL for the graph index — MOR versioning the delta layout
    * gives for free: every append lands as a `seq=<n>` leaf, so pinning
    * a version is a partition filter on the delta read
    * (`readNswAdjacencyAsOf`), with latest-wins resolving within the
    * pinned prefix. Two appends (seq 1: five copies; seq 2: four more)
    * over the base build; the walk AS OF seq 1 must surface exactly the
    * first five (the seq-2 rows — including seq-2 reverse-edge rewrites
    * of seq-1 nodes — are invisible), and AS OF seq 2 the full clique.
    * Same enumerable two-version oracle as the LSH manifest row, so the
    * two versioning mechanisms (manifest file-pinning vs MOR seq-
    * pinning) are held to the identical contract.
    */
  def annGraphTimeTravelTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswtt_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    val batchA = corpus.filter(col("vec_id").between(100000L, 100004L))
    val batchB = corpus.filter(col("vec_id") >= 100005L)
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42:lifecycle=timetravel:v2",
      path) {
      deleteRecursively(new java.io.File(path + "_delta"))
      deleteRecursively(new java.io.File(path + "_tombstones"))
      graft.vector.GraphAnn.buildNswGraph(
        e, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.appendToNswGraph(
        spark, batchA, "embedding", "vec_id", defaultLsh, m = 8, path, e)
      graft.vector.GraphAnn.appendToNswGraph(
        spark, batchB, "embedding", "vec_id", defaultLsh, m = 8, path,
        e.unionByName(batchA.select("vec_id", "embedding")))
    }
    // served through the RESIDENT pin, one per pinned version (as the
    // HNSW time-travel row): the asOfSeq-keyed pin cache makes the warm
    // read two job-free serves (AnnIndexSpec's "nsw served time travel
    // parity" pins the rows)
    def readVersion(v: Long, asOf: Long, k: Int): DataFrame =
      graft.vector.GraphAnn.nswServedSearch(
        spark, path, corpus, "embedding", "vec_id",
        Seq(0L -> queryVec(spark, dir, 0L)), k = k, asOfSeq = asOf)
        .select(lit(v).as("version"), col("vec_id"), col("score"))
    readVersion(1L, asOf = 1L, k = 6)
      .unionByName(readVersion(2L, asOf = 2L, k = 10))
      .orderBy("version", "vec_id")
  }

  /** MOR COMPACTION for the graph under the self-query oracle — the
    * maintenance job that stops delta generations accumulating: build
    * over the raw corpus, append the planted copies (a delta), then
    * `compactNswGraph` rewrites the merged view as the new base and
    * truncates the sidecar. The invariance pinning (mor_compact's
    * trick): the search runs with NO delta directory on disk — the
    * compacted base alone must serve the appended copies, so a
    * compaction that lost a delta row, resurrected a removal marker, or
    * corrupted the base perturbs the enumerable row set. The whole
    * build+append+compact sequence is ONE cached unit (the fold mutates
    * the base, so the marker must describe the directory as served).
    */
  def annGraphCompactedTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswcompact_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val corpus = withPlantedSelfCopies(spark, Tables.embeddings(spark, dir))
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42:lifecycle=append+compact:v2",
      path) {
      deleteRecursively(new java.io.File(path + "_delta"))
      graft.vector.GraphAnn.buildNswGraph(
        e, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.appendToNswGraph(
        spark, corpus.filter(col("vec_id") >= 100000L),
        "embedding", "vec_id", defaultLsh, m = 8, path, e)
      graft.vector.GraphAnn.compactNswGraph(spark, path)
    }
    require(!new java.io.File(path + "_delta").exists(),
      "compaction must truncate the delta sidecar")
    graft.vector.GraphAnn.nswSearch(
      spark, path, corpus, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 10)
  }

  /** BATCH graph retrieval: the five-family planted construction of the
    * LSH/IVF batch rows served by `GraphAnn.nswBatchSearch` — all five
    * queries walk the one resident pin of the index version on the
    * calling thread, so a warm batch runs no Spark job and batch cost is
    * |q| in-memory walks. Each family is a 10-clique in the graph (its
    * members are mutually nearest), so a walk that reaches ANY member
    * drains the family; the enumerable 50-row oracle (self + nine copies
    * per query, all at 1.0) is the same one the LSH/IVF batch rows use —
    * a regression in frontier bookkeeping, per-query state isolation, or
    * emission perturbs the set.
    */
  def annGraphBatchTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswbatch_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = plantedLocalRows(spark, e,
      for (q <- 0L until 5L; j <- 0L until 9L) yield (100000L + q * 100L + j, q))
    val corpus = e.unionByName(copies)
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42", path) {
      graft.vector.GraphAnn.buildNswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    val queries = qbase.collect() // 5 rows — the query batch
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    graft.vector.GraphAnn.nswBatchSearch(
      spark, path, corpus, "embedding", "vec_id", queries, k = 10)
      .withColumn("qid", col("qid").cast("long"))
  }

  /** RESIDENT-VIEW graph serving (`GraphAnn.nswServedSearch`) — the
    * hnswlib online-serving model over the SAME fixture and oracle as
    * the batch walk row: adjacency + shard vectors + tombstones pinned
    * once per index version as driver maps, the whole 5-query batch
    * walked in memory on the calling thread with no Spark job.
    * AnnIndexSpec's "served walk parity" pins the walk's rows, and the
    * enumerable 50-row planted oracle gates the answers here.
    */
  def annGraphServedTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswbatch_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val qbase = e.filter(col("vec_id") < 5L)
    val copies = plantedLocalRows(spark, e,
      for (q <- 0L until 5L; j <- 0L until 9L) yield (100000L + q * 100L + j, q))
    val corpus = e.unionByName(copies)
    ResultCache.buildIfAbsent(spark, corpus,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42", path) {
      graft.vector.GraphAnn.buildNswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    val queries = qbase.collect() // 5 rows — the serving batch
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    graft.vector.GraphAnn.nswServedSearch(
      spark, path, corpus, "embedding", "vec_id", queries, k = 10)
  }

  /** Metadata-FILTERED graph search — the hnswlib filtered-search
    * semantics for the family where pre-filtering the SCAN isn't
    * possible (a graph walk must route through non-matching waypoints or
    * regions reachable only across them would strand): the walk runs
    * unrestricted, and the PREDICATE applies at emission next to the
    * tombstone filter, as one pushed `id IN` probe bounded by the
    * visited set. Same tier construction and oracle as annFilteredTopk:
    * filtered top-5 for tier='gold' is provably the 5 gold copies at
    * cosine 1.0 — a predicate applied to the walk (stranding), a
    * post-filtered top-k (losing gold rows to corpus rows), or an
    * emission leak each perturbs the row set.
    */
  def annGraphFilteredTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswfilter_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), lit("corpus").as("tier"))
    val copies = plantedLocalRows(spark, Tables.embeddings(spark, dir),
        (100000L until 100009L).map(_ -> 0L))
      .select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 2 === 0, "gold").otherwise("silver").as("tier"))
    val tiered = base.unionByName(copies)
    ResultCache.buildIfAbsent(spark, tiered,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42", path) {
      graft.vector.GraphAnn.buildNswGraph(
        tiered, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    graft.vector.GraphAnn.nswSearch(
      spark, path, tiered, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 5,
      allowed = Some(tiered.filter(col("tier") === "gold").select("vec_id")))
  }

  /** The filtered search composed with the hierarchical descent: the
    * ladder may descend through any tier (waypoints unrestricted on
    * every rung), the predicate applies at layer-0 emission only — same
    * construction and oracle as the flat filtered row.
    */
  def annHnswFilteredTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswfilter_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), lit("corpus").as("tier"))
    val copies = plantedLocalRows(spark, Tables.embeddings(spark, dir),
        (100000L until 100009L).map(_ -> 0L))
      .select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 2 === 0, "gold").otherwise("silver").as("tier"))
    val tiered = base.unionByName(copies)
    ResultCache.buildIfAbsent(spark, tiered,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2", path) {
      graft.vector.GraphAnn.buildHnswGraph(
        tiered, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    graft.vector.GraphAnn.hnswSearch(
      spark, path, tiered, "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 5,
      allowed = Some(tiered.filter(col("tier") === "gold").select("vec_id")))
  }

  /** The HNSW variant of the graph upsert: delete → LADDER fold (the
    * re-inserted id must leave every stored rung before it can return —
    * the shared sidecar would otherwise hide it on all of them) → re-add
    * through the ladder append, which re-selects the id's rungs by
    * the same pure hash the build used, so membership survives the
    * update. Same oracle (annUpsertTopkSql) served through the full
    * hierarchical descent.
    */
  def annHnswUpsertTopk(spark: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswupsert_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir)
    val corpus = withPlantedSelfCopies(spark, e)
    val newVersion = plantedLocalRows(spark, e, Seq(100000L -> 1L))
    val survivors = corpus.filter(col("vec_id") =!= 100000L)
    // one cached unit for the full ladder upsert (see the flat row)
    ResultCache.buildIfAbsent(spark, corpus,
      s"hnsw:m=8:bits=${defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2:lifecycle=upsert:v2",
      path) {
      Seq("_delta", "_l1_delta", "_l2_delta", "_tombstones")
        .foreach(s => deleteRecursively(new java.io.File(path + s)))
      graft.vector.GraphAnn.buildHnswGraph(
        corpus, "embedding", "vec_id", defaultLsh, m = 8, path)
      graft.vector.GraphAnn.deleteFromNswGraph(spark, Seq(100000L), path)
      graft.vector.GraphAnn.foldHnswTombstones(
        spark, path, corpus, "embedding", "vec_id", m = 8)
      graft.vector.GraphAnn.appendToHnswGraph(
        spark, newVersion, "embedding", "vec_id", defaultLsh, m = 8, path,
        survivors)
    }
    graft.vector.GraphAnn.hnswSearch(
      spark, path, survivors.unionByName(newVersion), "embedding", "vec_id",
      queryVec(spark, dir, 0L), k = 5)
  }

  // ---- graph-ANN tuning (measure, don't guess for the hop budget) ----

  /** The graph family's tuning job: the hop budget H is what a walk
    * actually spends (each hop expands up to B frontier nodes and scores
    * their new neighbors), and unlike the LSH radius / IVF nProbe it
    * had no measured curve. ONE traced walk per sample query
    * (`GraphAnn.nswSearchTrace` — hop h's state is a prefix of hop h+1's)
    * yields every hop's (cost, top-k) at once; recall is judged against
    * the exact brute-force top-k computed in one job over the broadcast
    * sample. Output: one row per hop with integer-ppm mean recall@k and
    * total candidates scored — monotone in hops by construction. At
    * 100 TB this is the graph index's nightly health job: cost is
    * |sample| in-memory walks over the index version's resident pin (its
    * one corpus collect is shared with serving) + one exact scoring sweep.
    */
  def annGraphHopCurveOf(spark: SparkSession, dir: String,
      maxHops: Int = 4, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.graft.GroupTopK
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswgate_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    ResultCache.buildIfAbsent(spark, e,
      s"nsw:m=8:bits=${defaultLsh.nBits}:seed=42", path) {
      graft.vector.GraphAnn.buildNswGraph(
        e, "embedding", "vec_id", defaultLsh, m = 8, path)
    }
    val qrows = e.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val queries = qrows.collect() // sample-bounded: 5 rows
      .map(r => r.getAs[Long]("qid") -> r.getSeq[Float](1).toArray)
    val exact: Map[Long, Set[Long]] = e.crossJoin(broadcast(qrows))
      .withColumn("score_e6", round(graft.vector.VectorFunctions
        .cosineUnit(col("embedding"), col("qvec")) * 1e6, 0).cast("long"))
      .groupBy(col("qid"))
      .agg(GroupTopK.topK(col("score_e6"),
        format_string("%012d", col("vec_id")), k).as("top"))
      .select(col("qid"), explode(col("top")))
      .select(col("qid"), col("col.payload").cast("long").as("vec_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val perHop = queries.toSeq.flatMap { case (qid, qv) =>
      graft.vector.GraphAnn.nswSearchTrace(spark, path, e,
          "embedding", "vec_id", qv, k, maxHops = maxHops)
        .map { case (hop, scored, ids) =>
          (hop, scored, ids.count(exact(qid).contains).toLong)
        }
    }
    perHop.groupBy(_._1).toSeq.map { case (hop, rows) =>
      (hop.toLong,
        rows.map(_._3).sum * 1000000L / (queries.length.toLong * k),
        rows.map(_._2).sum)
    }.sortBy(_._1).toDF("hops", "recall_ppm", "total_candidates")
  }

  /** The hop curve served per data version, like the LSH/IVF curves —
    * but the traced walks are DRIVER-computed (the resulting frame is
    * literals, so plan-keyed ResultCache.cached can't key it); the cache
    * keys on the EMBEDDINGS input signature instead and materializes the
    * computed curve once, `_SUCCESS`-gated like every cache entry.
    */
  def cachedGraphHopCurve(spark: SparkSession, dir: String,
      maxHops: Int = 4): DataFrame = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((ResultCache.cacheKey(Tables.embeddings(spark, dir)) +
        "\u0000" + s"graphhop:maxHops=$maxHops:v1")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val cacheDir = Tables.scratchPath("graft_hopcurve", dir) + "/" + key
    val success = new org.apache.hadoop.fs.Path(cacheDir, "_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(success))
      annGraphHopCurveOf(spark, dir, maxHops)
        .repartition(1).write.mode("overwrite").parquet(cacheDir)
    spark.read.parquet(cacheDir)
  }

  /** Minimal hop budget on a measured curve meeting `targetPpm` recall —
    * the graph serving config an operator deploys; the max measured hop
    * when the target is unreachable.
    */
  def chooseHops(curve: DataFrame, targetPpm: Long): Int = {
    val rows = curve.select("hops", "recall_ppm").collect()
      .map(r => (r.getAs[Long]("hops"), r.getAs[Long]("recall_ppm")))
      .sortBy(_._1)
    rows.find(_._2 >= targetPpm).map(_._1.toInt)
      .getOrElse(rows.last._1.toInt)
  }

  /** Driver gate over the graph hop curve (engine-seeded →
    * contract-checked), the LSH/IVF gates' shape for the third index
    * family's knob:
    *  - MONOTONE RECALL / COST: another hop may never lose visited
    *    candidates (hop h's state is a prefix of hop h+1's by the trace
    *    construction — a frontier or dedup bug breaks it);
    *  - RANGE: recall_ppm ∈ [0, 1e6];
    *  - CEILING FLOOR: the full hop budget must clear the deployed
    *    serving floor (the annRecallGate discipline — measured well
    *    above it on every sf; only a real connectivity regression, e.g.
    *    lost symmetrization or broken entry sampling, trips it).
    */
  def annGraphTuningGate(spark: SparkSession, dir: String): DataFrame = {
    val maxHops = 4
    // the same persisted curve a deploy decision would read — one set of
    // traced walks per data version, every repeat a 4-row parquet read
    val curve = cachedGraphHopCurve(spark, dir, maxHops).localCheckpoint(true)
    val w = Window.orderBy(col("hops"))
    val stepped = curve
      .withColumn("prev_recall", lag(col("recall_ppm"), 1).over(w))
      .withColumn("prev_cands", lag(col("total_candidates"), 1).over(w))
    val nonMonotone = stepped
      .filter(col("prev_recall").isNotNull &&
        (col("recall_ppm") < col("prev_recall") ||
         col("total_candidates") < col("prev_cands")))
      .select(lit("non_monotone").as("violation"),
        col("hops").cast("long").as("detail"))
    val outOfRange = curve
      .filter(col("recall_ppm") < 0 || col("recall_ppm") > 1000000L)
      .select(lit("recall_range").as("violation"),
        col("hops").cast("long").as("detail"))
    val weakCeiling = curve.filter(col("hops") === maxHops.toLong &&
        col("recall_ppm") < 350000L)
      .select(lit("weak_ceiling").as("violation"),
        col("recall_ppm").as("detail"))
    nonMonotone.union(outOfRange).union(weakCeiling)
      .orderBy("violation", "detail")
  }

  private val annGraphTuningGateSql =
    """SELECT NULL::VARCHAR AS violation, NULL::BIGINT AS detail WHERE false""".stripMargin

  /** The PURE routing decision for CBO-informed index-family selection:
    * given the catalog's corpus row count and the MEASURED per-family
    * tuning knobs (the same cached curves every serving site reads),
    * score each family in scanned-row equivalents and pick the cheapest.
    *
    *  - lsh:   nRows × (probed buckets / total buckets) — full-width rows
    *           through the pruned scan;
    *  - ivf:   nRows × (nProbe / numClusters) × codesBandwidth — the SQ8
    *           serving layout reads 4×-smaller codes on the coarse pass
    *           (0.25 + a constant-ish overscan float fetch, folded into
    *           the factor);
    *  - graph: walkRowsTouched + walkJobs × jobCostRows — the beam walk
    *           touches O(E + H·B·2M) rows regardless of corpus size but
    *           pays a fixed per-job scheduling cost; jobCostRows converts
    *           the profiled ~60 ms/job (tools/ProfileGraphRow `walk`)
    *           into row-equivalents at parquet scan rate.
    *
    * The crossover this encodes is the real one: scan families win small
    * corpora (shards, filters), the graph wins once nRows × probeFrac
    * dwarfs the walk's fixed cost. Ties break lexicographically so the
    * route is deterministic. Returns (family, per-family costs).
    */
  private[graft] def routeAnnFamily(nRows: Long, lshProbeFrac: Double,
      ivfProbeFrac: Double, codesBandwidth: Double = 0.35,
      walkJobs: Int = 11, walkRowsTouched: Long = 4200L,
      jobCostRows: Long = 50000L,
      eligible: Set[String] = Set("graph", "ivf", "lsh")): (String, Map[String, Double]) = {
    val costs = Map(
      "graph" -> (walkRowsTouched.toDouble + walkJobs.toDouble * jobCostRows),
      "ivf" -> nRows * ivfProbeFrac * codesBandwidth,
      "lsh" -> nRows * lshProbeFrac)
    // RECALL FLOOR: only families whose measured curve meets the serving
    // target are routable — cheapest-but-can't-recall is not a route. An
    // empty eligible set (no family measured up, a degenerate corpus)
    // falls back to all three rather than failing the query.
    val routable = costs.filter { case (f, _) => eligible.contains(f) }
    val pool = if (routable.isEmpty) costs else routable
    (pool.toSeq.minBy { case (f, c) => (c, f) }._1, costs)
  }

  /** MEASURED routing inputs, per data version (every value knob-stamped,
    * so the cost is one measurement pass per (dir, data stamp)):
    *
    *  - `walkRowsTouched` / `walkJobs`: from the MEASURED graph hop curve
    *    (`cachedGraphHopCurve` — the same curve the serving gate pins) at
    *    the deployed hop budget (`chooseHops`): rows touched per walk is
    *    the curve's scored-candidates column divided by its sample size,
    *    and the job count follows the walk's structure (1 entry job +
    *    2 jobs/hop + 1 emission probe);
    *  - `jobCostRows`: the profiled per-job scheduling constant (median
    *    of 3 empty jobs, measured HERE, not assumed) converted to
    *    row-equivalents by the measured single-column parquet scan rate
    *    of this corpus — the ProfileGraphRow methodology made a
    *    per-session measurement;
    *  - `codesBandwidth`: from the corpus' actual embedding width d —
    *    the SQ8 serving layout reads (d + id) bytes against the float
    *    scan's (4d + id), plus a fixed overscan float-fetch allowance;
    *  - `eligible`: the RECALL FLOOR — a family routes only if its
    *    measured tuning curve (LSH radius / IVF nProbe / graph hops, all
    *    already result-cached per data version) reaches the routing
    *    target at its maximal setting.
    */
  private[graft] final case class RouteInputs(walkRowsTouched: Long,
    walkJobs: Int, jobCostRows: Long, codesBandwidth: Double,
    eligible: Set[String])

  private[graft] def measuredRouteInputs(spark: SparkSession, dir: String,
      nRows: Long): RouteInputs = {
    val stamp = embeddingsStamp(spark, dir)
    val hops = cachedKnob("route:hops", dir, stamp) {
      chooseHops(cachedGraphHopCurve(spark, dir), LshTargetPpm)
    }
    val walkRows = cachedKnob("route:walkrows", dir, stamp) {
      val c = cachedGraphHopCurve(spark, dir)
        .filter(col("hops") === hops.toLong)
        .select("total_candidates").collect()
      // the curve sums over its 5 sample queries; per-walk = /5
      if (c.isEmpty) 4200 else math.max(1L, c.head.getLong(0) / 5L).toInt
    }
    def curveReaches(curve: DataFrame, target: Long): Boolean =
      curve.agg(max(col("recall_ppm"))).first().getLong(0) >= target
    val graphOk = cachedKnob("route:graphok", dir, stamp) {
      if (curveReaches(cachedGraphHopCurve(spark, dir), LshTargetPpm)) 1 else 0
    }
    val lshOk = cachedKnob("route:lshok", dir, stamp) {
      if (curveReaches(cachedLshCurve(spark, dir), LshTargetPpm)) 1 else 0
    }
    val ivfOk = cachedKnob("route:ivfok", dir, stamp) {
      if (curveReaches(cachedIvfCurve(spark, dir), LshTargetPpm)) 1 else 0
    }
    val jobCost = cachedKnob("route:jobcost", dir, stamp) {
      val sched = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sparkContext.parallelize(Seq(1), 1).count()
        System.nanoTime() - t0
      }.sorted.apply(1)
      val t0 = System.nanoTime()
      // a real one-column pass (hash defeats any metadata shortcut; the
      // double sum cannot overflow under ANSI)
      Tables.embeddings(spark, dir)
        .agg(sum(xxhash64(col("vec_id")).cast("double"))).first()
      val scanNs = math.max(1L, System.nanoTime() - t0)
      // row-equivalents of one scheduled job at this corpus' scan rate,
      // clamped to a sane band (a cold scan or a GC pause must not send
      // the router to a corner)
      math.min(50000000L, math.max(1000L,
        sched * nRows / scanNs)).toInt
    }
    val dims = cachedKnob("route:dims", dir, stamp) {
      Tables.embeddings(spark, dir).select("embedding")
        .first().getSeq[Float](0).length
    }
    // (d + 8B id) code bytes vs (4d + 8B id) float bytes, + overscan
    // float point-lookups (bounded by overscan·k rows, folded as a
    // constant allowance)
    val codesBw = (dims + 8.0) / (4.0 * dims + 8.0) + 0.08
    val eligible = Set("graph" -> graphOk, "lsh" -> lshOk, "ivf" -> ivfOk)
      .collect { case (f, 1) => f }
    RouteInputs(walkRows.toLong, 3 + 2 * hops, jobCost.toLong, codesBw, eligible)
  }

  /** AUTO-ROUTED retrieval — the planner loop the tuning gates opened,
    * closed: the router reads the corpus row count (stamp-cached like
    * every tuned knob) and the measured radius / nProbe curves, scores
    * LSH vs IVF-SQ8 vs graph with `routeAnnFamily`, logs the decision,
    * and serves the query through the chosen family's PERSISTED index
    * row. All three serve the same planted construction under the same
    * enumerable self-query oracle, so the row stays oracle-green
    * whichever way the cost model routes — the spec pins the decision
    * function's crossover behavior separately.
    */
  def annAutoRouteTopk(spark: SparkSession, dir: String): DataFrame = {
    // clamped at Int.MaxValue: the knob cache stores Int, and past 2^31
    // rows every scan-family cost already dwarfs the walk's fixed cost by
    // 3+ orders of magnitude — the clamp preserves the route (an
    // unclamped .toInt would wrap NEGATIVE and route a huge corpus away
    // from the graph family)
    val n = cachedKnob("nvec", dir, embeddingsStamp(spark, dir)) {
      math.min(Tables.embeddings(spark, dir).count(), Int.MaxValue.toLong).toInt
    }.toLong
    val qv = queryVec(spark, dir, 0L)
    val lshFrac = defaultLsh.probes(defaultLsh.signature(qv.toSeq),
      radius = tunedRadius(spark, dir)).size.toDouble / (1 << defaultLsh.nBits)
    val ivfFrac = tunedNProbe(spark, dir).toDouble / 16.0
    val ri = measuredRouteInputs(spark, dir, n)
    val (family, costs) = routeAnnFamily(n, lshFrac, ivfFrac,
      ri.codesBandwidth, ri.walkJobs, ri.walkRowsTouched, ri.jobCostRows,
      ri.eligible)
    RouteLog.record("ann_auto_route", family)
    System.err.println(s"[route] ann_auto_route_topk n=$n -> $family " +
      costs.toSeq.sortBy(_._1)
        .map { case (f, c) => f"$f=${c}%.0f" }.mkString("(", ", ", ")") +
      s" measured(walkRows=${ri.walkRowsTouched}, walkJobs=${ri.walkJobs}, " +
      f"jobCostRows=${ri.jobCostRows}, codesBw=${ri.codesBandwidth}%.3f, " +
      s"eligible=${ri.eligible.toSeq.sorted.mkString("+")})")
    family match {
      case "lsh" => annLshIndexTopk(spark, dir)
      case "ivf" => annIvfSq8IndexTopk(spark, dir)
      case _ => annGraphTopk(spark, dir)
    }
  }

  /** BATCH-routed retrieval — the serving-tier shape of the auto-router:
    * a query FRAME routes as one unit, amortizing `measuredRouteInputs`
    * (already stamp-cached) and ONE routing decision across the batch,
    * then serves through the chosen family's BATCH path (one scan / one
    * walk job set for the whole frame, never |q| independent serves).
    * The pure cost function is reused with the batch-shaped inputs:
    *
    *  - scan families amortize by probing the UNION of the frame's
    *    probe sets in one pass — lshFrac is the measured union fraction;
    *    the IVF union is bounded above by |q|·nProbe/clusters (each
    *    query contributes at most nProbe probe partitions);
    *  - the graph family amortizes the per-job scheduling constant (the
    *    batch walk carries every query through the same hop jobs), so
    *    walkJobs stays FIXED while rows-touched scales with |q|.
    *
    * Same five-family planted fixture and enumerable 50-row oracle as
    * the per-family batch rows, so the row stays green whichever way the
    * measured constants route the frame.
    */
  def annAutoRouteBatchTopk(spark: SparkSession, dir: String): DataFrame = {
    val n = cachedKnob("nvec", dir, embeddingsStamp(spark, dir)) {
      math.min(Tables.embeddings(spark, dir).count(), Int.MaxValue.toLong).toInt
    }.toLong
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // the frame: the batch rows' 5 query vectors (bounded serving batch)
    val frame = e.filter(col("vec_id") < 5L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val radius = tunedRadius(spark, dir)
    val unionLshFrac = frame
      .flatMap { case (_, qv) =>
        defaultLsh.probes(defaultLsh.signature(qv.toSeq), radius) }
      .distinct.size.toDouble / (1 << defaultLsh.nBits)
    // IVF union: MEASURED against the standing centroid sidecar when one
    // exists (queries sharing clusters overlap, so the |q|·nProbe upper
    // bound systematically over-prices the quantized scan and would
    // mis-route cluster-correlated frames); the bound is only the cold
    // fallback before the first SQ8 fixture build.
    val nProbe = tunedNProbe(spark, dir)
    val sq8Path = sq8BatchFixturePath(dir)
    val unionIvfFrac =
      if (new java.io.File(sq8Path, IndexBuilder.IvfCentroidsFile).isFile) {
        val centers = IndexBuilder.loadIvfCentroids(sq8Path)
        frame.flatMap { case (_, qv) =>
            IndexBuilder.nearestClusters(centers, qv, nProbe) }
          .distinct.size.toDouble / centers.length
      } else math.min(1.0, frame.size.toDouble * nProbe / 16.0)
    val ri = measuredRouteInputs(spark, dir, n)
    val (family, costs) = routeAnnFamily(n, unionLshFrac, unionIvfFrac,
      ri.codesBandwidth, ri.walkJobs,
      frame.size.toLong * ri.walkRowsTouched, ri.jobCostRows, ri.eligible)
    RouteLog.record("ann_auto_route_batch", family)
    System.err.println(s"[route] ann_auto_route_batch_topk n=$n |q|=${frame.size} " +
      s"-> $family " + costs.toSeq.sortBy(_._1)
        .map { case (f, c) => f"$f=${c}%.0f" }.mkString("(", ", ", ")"))
    family match {
      case "lsh" => annLshBatchTopk(spark, dir)
      case "ivf" => annIvfSq8BatchTopk(spark, dir)
      case _ => annGraphBatchTopk(spark, dir)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_recall_gate" -> annRecallGate,
    "ann_tuning_gate" -> annTuningGate,
    "ann_ivf_tuning_gate" -> annIvfTuningGate,
    "lsh_bucket_invariants" -> lshBucketInvariants,
    "lsh_buckets" -> lshBucketsGate,
    "lsh_bucket_stats" -> lshBucketStatsGate,
    "ann_lsh_topk" -> annLshTopk,
    "ann_lsh_index_topk" -> annLshIndexTopk,
    "ann_range_search" -> annRangeSearch,
    "ann_lsh_batch_topk" -> annLshBatchTopk,
    "ann_ivf_batch_topk" -> annIvfBatchTopk,
    "ann_ivf_pq_batch_topk" -> annIvfPqBatchTopk,
    "ann_ivf_sq8_batch_topk" -> annIvfSq8BatchTopk,
    "knn_self_join" -> knnSelfJoin,
    "knn_self_join_salted" -> knnSelfJoinSalted,
    "ann_lsh_incremental_topk" -> annLshIncrementalTopk,
    "ann_ivf_incremental_topk" -> annIvfIncrementalTopk,
    "ann_ivf_topk" -> annIvfTopk,
    "ann_ivf_sq8_topk" -> annIvfSq8Topk,
    "ann_ivf_pq_topk" -> annIvfPqTopk,
    "ann_ivf_pq_index_topk" -> annIvfPqIndexTopk,
    "ann_ivf_sq8_index_topk" -> annIvfSq8IndexTopk,
    "ann_graph_topk" -> annGraphTopk,
    "ann_hnsw_topk" -> annHnswTopk,
    "ann_hnsw_incremental_topk" -> annHnswIncrementalTopk,
    "ann_graph_incremental_topk" -> annGraphIncrementalTopk,
    "ann_graph_delete_topk" -> annGraphDeleteTopk,
    "ann_graph_folded_delete_topk" -> annGraphFoldedDeleteTopk,
    "ann_graph_upsert_topk" -> annGraphUpsertTopk,
    "ann_graph_filtered_topk" -> annGraphFilteredTopk,
    "ann_graph_batch_topk" -> annGraphBatchTopk,
    "ann_graph_served_topk" -> annGraphServedTopk,
    "ann_hnsw_served_topk" -> annHnswServedTopk,
    "ann_hnsw_batch_topk" -> annHnswBatchTopk,
    "ann_graph_compacted_topk" -> annGraphCompactedTopk,
    "ann_graph_time_travel_topk" -> annGraphTimeTravelTopk,
    "ann_hnsw_filtered_topk" -> annHnswFilteredTopk,
    "ann_hnsw_upsert_topk" -> annHnswUpsertTopk,
    "ann_graph_tuning_gate" -> annGraphTuningGate,
    "ann_hnsw_delete_topk" -> annHnswDeleteTopk,
    "ann_hnsw_folded_delete_topk" -> annHnswFoldedDeleteTopk,
    "ann_filtered_topk" -> annFilteredTopk,
    "ann_rewrite_filtered_topk" -> annRewriteFilteredTopk,
    "ann_rewrite_ivf_topk" -> annRewriteIvfTopk,
    "ann_delete_topk" -> annDeleteTopk,
    "ann_compacted_delete_topk" -> annCompactedDeleteTopk,
    "ann_upsert_topk" -> annUpsertTopk,
    "ann_compacted_upsert_topk" -> annCompactedUpsertTopk,
    "ann_ivf_delete_topk" -> annIvfDeleteTopk,
    "ann_ivf_compacted_delete_topk" -> annIvfCompactedDeleteTopk,
    "ann_ivf_upsert_topk" -> annIvfUpsertTopk,
    "ann_ivf_compacted_upsert_topk" -> annIvfCompactedUpsertTopk,
    "ann_ivf_pq_delete_topk" -> annIvfPqDeleteTopk,
    "ann_ivf_pq_compacted_delete_topk" -> annIvfPqCompactedDeleteTopk,
    "ann_ivf_pq_upsert_topk" -> annIvfPqUpsertTopk,
    "ann_ivf_pq_compacted_upsert_topk" -> annIvfPqCompactedUpsertTopk,
    "ann_paged_topk" -> annPagedTopk,
    "ann_sharded_topk" -> annShardedTopk,
    "ann_graph_sharded_topk" -> annGraphShardedTopk,
    "ann_ivf_sharded_topk" -> annIvfShardedTopk,
    "ann_ivf_pq_sharded_topk" -> annIvfPqShardedTopk,
    "ann_ivf_sq8_sharded_topk" -> annIvfSq8ShardedTopk,
    "ann_ivf_sq8_time_travel_topk" -> annIvfSq8TimeTravelTopk,
    "ann_hnsw_vacuumed_topk" -> annHnswVacuumedTopk,
    "ann_time_travel_topk" -> annTimeTravelTopk,
    "ann_ivf_time_travel_topk" -> annIvfTimeTravelTopk,
    "ann_hnsw_time_travel_topk" -> annHnswTimeTravelTopk,
    "ann_vacuumed_topk" -> annVacuumedTopk,
    "ann_graph_vacuumed_topk" -> annGraphVacuumedTopk,
    "ann_ivf_vacuumed_topk" -> annIvfVacuumedTopk,
    "ann_ivf_pq_time_travel_topk" -> annIvfPqTimeTravelTopk,
    "ann_ivf_sq8_delete_topk" -> annIvfSq8DeleteTopk,
    "ann_ivf_sq8_upsert_topk" -> annIvfSq8UpsertTopk,
    "ann_ivf_sq8_compacted_delete_topk" -> annIvfSq8CompactedDeleteTopk,
    "ann_ivf_sq8_compacted_upsert_topk" -> annIvfSq8CompactedUpsertTopk,
    "ann_streaming_ingest_topk" -> annStreamingIngestTopk,
    "ann_ivf_streaming_ingest_topk" -> annIvfStreamingIngestTopk,
    "ann_ivf_pq_streaming_ingest_topk" -> annIvfPqStreamingIngestTopk,
    "ann_ivf_sq8_streaming_ingest_topk" -> annIvfSq8StreamingIngestTopk,
    "ann_streaming_compacted_topk" -> annStreamingCompactedTopk,
    "ann_ivf_streaming_compacted_topk" -> annIvfStreamingCompactedTopk,
    "ann_ivf_pq_streaming_compacted_topk" -> annIvfPqStreamingCompactedTopk,
    "ann_ivf_sq8_streaming_compacted_topk" -> annIvfSq8StreamingCompactedTopk,
    "ann_auto_route_topk" -> annAutoRouteTopk,
    "ann_auto_route_batch_topk" -> annAutoRouteBatchTopk,
    "lsh_planted_near_dupes" -> lshPlantedNearDupes,
    "ivf_planted_near_dupes" -> ivfPlantedNearDupes)

  def oracles: Map[String, String] = Map(
    "ann_recall_gate" -> annRecallGateSql,
    "ann_tuning_gate" -> annTuningGateSql,
    "ann_ivf_tuning_gate" -> annIvfTuningGateSql,
    "lsh_bucket_invariants" -> lshBucketInvariantsSql,
    "lsh_buckets" -> lshBucketsGateSql,
    "lsh_bucket_stats" -> lshBucketStatsGateSql,
    "ann_lsh_topk" -> annSelfQueryTopkSql,
    "ann_lsh_index_topk" -> annSelfQueryTopkSql,
    "ann_range_search" -> annSelfQueryTopkSql,
    "ann_lsh_batch_topk" -> annLshBatchTopkSql,
    "ann_ivf_batch_topk" -> annLshBatchTopkSql,
    "ann_ivf_pq_batch_topk" -> annLshBatchTopkSql,
    "ann_ivf_sq8_batch_topk" -> annLshBatchTopkSql,
    "knn_self_join" -> knnSelfJoinSql,
    "knn_self_join_salted" -> knnSelfJoinSql,
    "ann_lsh_incremental_topk" -> annSelfQueryTopkSql,
    "ann_ivf_incremental_topk" -> annSelfQueryTopkSql,
    "ann_ivf_topk" -> annSelfQueryTopkSql,
    "ann_ivf_sq8_topk" -> annSelfQueryTopkSql,
    "ann_ivf_pq_topk" -> annSelfQueryTopkSql,
    "ann_ivf_pq_index_topk" -> annSelfQueryTopkSql,
    "ann_ivf_sq8_index_topk" -> annSelfQueryTopkSql,
    "ann_graph_topk" -> annSelfQueryTopkSql,
    "ann_hnsw_topk" -> annSelfQueryTopkSql,
    "ann_hnsw_incremental_topk" -> annSelfQueryTopkSql,
    "ann_graph_incremental_topk" -> annSelfQueryTopkSql,
    "ann_graph_delete_topk" -> annGraphDeleteTopkSql,
    "ann_graph_folded_delete_topk" -> annGraphDeleteTopkSql,
    "ann_graph_upsert_topk" -> annUpsertTopkSql,
    "ann_graph_filtered_topk" -> annFilteredTopkSql,
    "ann_graph_batch_topk" -> annLshBatchTopkSql,
    "ann_graph_served_topk" -> annLshBatchTopkSql,
    "ann_hnsw_served_topk" -> annLshBatchTopkSql,
    "ann_hnsw_batch_topk" -> annLshBatchTopkSql,
    "ann_graph_compacted_topk" -> annSelfQueryTopkSql,
    "ann_graph_time_travel_topk" -> annTimeTravelTopkSql,
    "ann_hnsw_filtered_topk" -> annFilteredTopkSql,
    "ann_hnsw_upsert_topk" -> annUpsertTopkSql,
    "ann_graph_tuning_gate" -> annGraphTuningGateSql,
    "ann_hnsw_delete_topk" -> annGraphDeleteTopkSql,
    "ann_hnsw_folded_delete_topk" -> annGraphDeleteTopkSql,
    "ann_filtered_topk" -> annFilteredTopkSql,
    "ann_rewrite_filtered_topk" -> annFilteredTopkSql,
    "ann_rewrite_ivf_topk" -> annSelfQueryTopkSql,
    "ann_delete_topk" -> annDeleteTopkSql,
    "ann_compacted_delete_topk" -> annDeleteTopkSql,
    "ann_upsert_topk" -> annUpsertTopkSql,
    "ann_compacted_upsert_topk" -> annUpsertTopkSql,
    "ann_ivf_delete_topk" -> annDeleteTopkSql,
    "ann_ivf_compacted_delete_topk" -> annDeleteTopkSql,
    "ann_ivf_upsert_topk" -> annUpsertTopkSql,
    "ann_ivf_compacted_upsert_topk" -> annUpsertTopkSql,
    "ann_ivf_pq_delete_topk" -> annDeleteTopkSql,
    "ann_ivf_pq_compacted_delete_topk" -> annDeleteTopkSql,
    "ann_ivf_pq_upsert_topk" -> annUpsertTopkSql,
    "ann_ivf_pq_compacted_upsert_topk" -> annUpsertTopkSql,
    "ann_paged_topk" -> annPagedTopkSql,
    "ann_sharded_topk" -> annSelfQueryTopkSql,
    "ann_graph_sharded_topk" -> annSelfQueryTopkSql,
    "ann_ivf_sharded_topk" -> annSelfQueryTopkSql,
    "ann_ivf_pq_sharded_topk" -> annSelfQueryTopkSql,
    "ann_ivf_sq8_sharded_topk" -> annSelfQueryTopkSql,
    "ann_ivf_sq8_time_travel_topk" -> annTimeTravelTopkSql,
    "ann_hnsw_vacuumed_topk" -> annGraphDeleteTopkSql,
    "ann_time_travel_topk" -> annTimeTravelTopkSql,
    "ann_ivf_time_travel_topk" -> annTimeTravelTopkSql,
    "ann_hnsw_time_travel_topk" -> annTimeTravelTopkSql,
    "ann_vacuumed_topk" -> annSelfQueryTopkSql,
    "ann_graph_vacuumed_topk" -> annGraphDeleteTopkSql,
    "ann_ivf_vacuumed_topk" -> annSelfQueryTopkSql,
    "ann_ivf_pq_time_travel_topk" -> annTimeTravelTopkSql,
    "ann_ivf_sq8_delete_topk" -> annDeleteTopkSql,
    "ann_ivf_sq8_upsert_topk" -> annUpsertTopkSql,
    "ann_ivf_sq8_compacted_delete_topk" -> annDeleteTopkSql,
    "ann_ivf_sq8_compacted_upsert_topk" -> annUpsertTopkSql,
    "ann_streaming_ingest_topk" -> annSelfQueryTopkSql,
    "ann_ivf_streaming_ingest_topk" -> annSelfQueryTopkSql,
    "ann_ivf_pq_streaming_ingest_topk" -> annSelfQueryTopkSql,
    "ann_ivf_sq8_streaming_ingest_topk" -> annSelfQueryTopkSql,
    "ann_streaming_compacted_topk" -> annSelfQueryTopkSql,
    "ann_ivf_streaming_compacted_topk" -> annSelfQueryTopkSql,
    "ann_ivf_pq_streaming_compacted_topk" -> annSelfQueryTopkSql,
    "ann_ivf_sq8_streaming_compacted_topk" -> annSelfQueryTopkSql,
    "ann_auto_route_topk" -> annSelfQueryTopkSql,
    "ann_auto_route_batch_topk" -> annLshBatchTopkSql,
    "lsh_planted_near_dupes" -> lshPlantedNearDupesSql,
    "ivf_planted_near_dupes" -> ivfPlantedNearDupesSql)
}
