package graft

import org.apache.spark.sql.SparkSession

/** The library's recommended session configuration — ONE home for the
  * confs the measured harnesses (Bench, Verify) and the dev profilers
  * all need, so a session built against this library gets the measured
  * behavior instead of silently losing it (each conf previously lived
  * copy-pasted in every builder).
  *
  * Confs and why (each measured; see OPTIMIZATION_r21/r22.md):
  *
  *  - `canChangeCachedPlanOutputPartitioning=true`: queries that
  *    legitimately `.cache()` an intermediate (LSH signature pipeline,
  *    fingerprint explode) otherwise pin every exchange below the
  *    `InMemoryRelation` at the static shuffle-partition count — AQE
  *    cannot coalesce them and each downstream stage schedules a full
  *    width of near-empty tasks (measured: minhash_near_dupes 3.2 s →
  *    1.2 s, 375 → 34 tasks at sf0.1). Scale-correct at any size: AQE
  *    sizes those partitions from observed bytes; the only behavior
  *    change is a cache's output partitioning, which nothing depends on.
  *
  *  - `parallelPartitionDiscovery.threshold=128` (default 32): a
  *    path-based read of a table with more top-level paths than the
  *    threshold lists them through a SPARK JOB — the posting/zonemap
  *    fixtures here have 64–102 partition dirs/files, so every serve
  *    paid a 64–102-task listing job (~150–400 ms of pure scheduling)
  *    to list directories the driver enumerates in single-digit
  *    milliseconds. 128 keeps truly wide tables (thousands of
  *    partitions, object-store listings) on the distributed path —
  *    the regime the default was built for — while catalog-scale
  *    fixture layouts list driver-side. At 100 TB the posting tables
  *    are manifest-versioned (file sets come from the manifest head,
  *    no directory listing at all), so this threshold only governs the
  *    pre-manifest shapes.
  */
object GraftSession {

  val recommendedConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "128")

  /** Apply the recommended confs to a builder (harness/tool entry). */
  def withRecommended(b: SparkSession.Builder): SparkSession.Builder =
    recommendedConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The one session the harnesses share (Bench, Verify, ExplainPlans):
    * `local[cpus]` with one shuffle partition per core, AQE, UTC session
    * time, nanosecond parquet timestamps read as longs, no UI, and the
    * recommended confs. A board, a correctness dump and a plan dump taken
    * at the same core count therefore come from the same session shape. */
  def harness(cpus: Int): SparkSession = {
    val spark = withRecommended(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
