package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Plan-keyed query RESULT cache — the serving layer's automatic
  * materialized view. Where `MvRewriteRule` routes a REGISTERED view,
  * this caches ANY computed result, keyed by what actually determines it:
  *
  *   key = md5( canonicalized optimized plan ++ input-file signature )
  *
  * The canonicalized OPTIMIZED plan normalizes attribute ids and
  * carries resolved relations (the IVF memoization lesson: an unresolved
  * canonicalized plan is path-blind), and the signature folds every leaf
  * relation's roots and the file listing the frame captured when it was
  * created — each file's path, length and mtime — so editing, appending
  * to, or swapping an input and reading it again produces a NEW key and
  * the stale entry is simply never read again (retention vacuums it;
  * serving correctness never depends on invalidation races). The key is
  * what the frame reads, not what its root holds now: a frame listed
  * before a write and one listed after it never share a key, and a frame
  * keeps its key when a file lands in its root after it was listed. No
  * root is listed to compute it; only a relation whose file index lists
  * on every scan (a catalog table) is stamped by its roots as they are at
  * call time (file count, total bytes, max mtime).
  *
  * Contract: a cache hit returns the same ROWS, not the same row order —
  * a parquet round-trip, like any exchange, fixes no order. Callers
  * needing order sort after the cache, exactly as they would after a
  * shuffle. At 100 TB the economics are the MV's: one execution per
  * (plan, data) version, every repeat is a bounded parquet read.
  */
object ResultCache extends QueryModule {

  /** Deterministic content key for a DataFrame's (plan, inputs) pair. */
  def cacheKey(df: DataFrame): String = {
    val plan = df.queryExecution.optimizedPlan
    val sig = plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location match {
            // the listing the frame captured is what it reads: its files
            // with their lengths and mtimes, whatever landed since
            case listed: PartitioningAwareFileIndex =>
              listed.rootPaths.mkString(",") + "#files=" + md5(listing(listed)
                .map { case (f, (len, mtime)) => s"$f#$len#$mtime" }
                .sorted.mkString("\n"))
            // an index that lists per scan reads its roots as they are now
            case perScan =>
              perScan.rootPaths.map { root =>
                val st = graft.FileListing.stamp(
                  df.sparkSession.sparkContext.hadoopConfiguration, root)
                  .getOrElse(graft.FileListing.Stamp(0L, 0L, 0L))
                s"$root#$st"
              }.mkString(",") + "#files=" + md5(perScan.inputFiles.sorted.mkString("\n"))
          }
        case other => other.toString
      }
      // LocalRelations carry their rows OUTSIDE the canonicalized plan
      // string (simpleString prints only the schema), so inline data —
      // e.g. the planted-copy rows — must be digested explicitly or a
      // change to the copies would silently serve a stale fixture.
      // Bounded by construction: LocalRelations here are copy-row-scale.
      case loc: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        s"local#${loc.data.length}#${md5(loc.data.map(_.toString).mkString("\n"))}"
    }.mkString("|")
    md5(plan.canonicalized.toString + "\u0000" + sig)
  }

  /** The listing a file index captured: each file's path, length, mtime. */
  private def listing(listed: PartitioningAwareFileIndex): Seq[(String, (Long, Long))] =
    listed.allFiles().toSeq.map(f =>
      f.getPath.toString -> (f.getLen, f.getModificationTime))

  /** cacheKey split in two for a frame that reads ONE listed file
    * relation and nothing else: `planKey` digests the canonicalized
    * optimized plan and the relation's roots, `files` is the listing the
    * frame captured (path → (length, mtime)). Two frames with one
    * planKey read the same plan over the same roots and differ only in
    * the files they captured, so a consumer can tell a frame whose
    * listing only GREW since an earlier one (every earlier file still
    * listed with its length and mtime) and read just the added files.
    * None for any other frame (several relations, a LocalRelation, an
    * index that lists per scan). cacheKey itself is unchanged.
    */
  final case class ListingSplit(planKey: String, files: Map[String, (Long, Long)])

  def listingSplit(df: DataFrame): Option[ListingSplit] = {
    val plan = df.queryExecution.optimizedPlan
    plan.collectLeaves() match {
      case Seq(LogicalRelation(fs: HadoopFsRelation, _, _, _, _)) => fs.location match {
        case listed: PartitioningAwareFileIndex =>
          Some(ListingSplit(
            md5(plan.canonicalized.toString + "\u0000" + listed.rootPaths.mkString(",")),
            listing(listed).toMap))
        case _ => None
      }
      case _ => None
    }
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Serve `df` through the cache at `cacheRoot`: hit → bounded parquet
    * read, miss → execute once, materialize, read back. The `_SUCCESS`
    * marker gates hits, so a crashed write is re-executed, never served.
    */
  def cached(spark: SparkSession, df: DataFrame, cacheRoot: String): DataFrame = {
    val key = cacheKey(df)
    val dir = s"$cacheRoot/$key"
    val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hit = fs.exists(success)
    val ageMs =
      if (hit) System.currentTimeMillis() - fs.getFileStatus(success).getModificationTime
      else 0L
    record("result", dir, key, hit, ageMs)
    if (!hit)
      df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  // ---- cache observability -------------------------------------------
  // Every cached/buildIfAbsent decision lands in a bounded in-memory ring
  // — (kind, path, key, hit, entry age) — so a bench or driver run can
  // AUDIT cache behavior (which fixtures hit, how old the entries were)
  // instead of reconstructing it from sidecar mtimes. Driver-side state
  // only, bounded ([[BoundedRing]]); never part of a query answer.

  /** One cache decision: kind ∈ {result, index}. `ageMs` is the served
    * entry's age at hit time; 0 on a miss. */
  final case class CacheEvent(kind: String, path: String, key: String,
    hit: Boolean, ageMs: Long)

  // the shared bounded-ring discipline (one definition with RouteLog —
  // eviction, counting, and the drain race live in BoundedRing)
  private val eventRing = new BoundedRing[CacheEvent](10000)

  // monotonic, never evicted: the ring above bounds MEMORY, but a
  // consumer diffing counts across a window (the bench's per-row
  // fixture-build column) must not undercount when eviction races its
  // window — index offsets into an evicting deque go stale at the bound.
  // INDEX misses only: a 'result'-kind miss is often by design (the
  // result-cache rows plant deliberate misses; tuning curves re-derive
  // cold) and would mislabel serve-design re-execution as fixture builds
  private val indexMissTotal = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Total buildIfAbsent (index-fixture) misses this JVM — monotonic. */
  def totalIndexMisses: Long = indexMissTotal.get()

  private def record(kind: String, path: String, key: String,
      hit: Boolean, ageMs: Long): Unit = {
    if (!hit && kind == "index") indexMissTotal.incrementAndGet()
    eventRing.add(CacheEvent(kind, path, key, hit, ageMs))
  }

  /** The recorded decisions, oldest first. */
  def recentEvents: Seq[CacheEvent] = eventRing.snapshot

  /** The decision log as a DataFrame, for ad-hoc audit queries. */
  def events(spark: SparkSession): DataFrame = {
    import spark.implicits._
    recentEvents.toDF()
  }

  def clearEvents(): Unit = eventRing.drain()

  /** The result-cache discipline applied to persisted INDEX BUILDS: key
    * the build by md5(inputs' plan+file signature, params tag) and skip
    * it when the stored key still matches — so a bench or driver re-run
    * over unchanged inputs serves the standing index instead of
    * rebuilding the identical fixture. The key marker is a SIBLING file
    * (`<indexPath>_buildkey`), not an entry inside the index, because
    * builds and compactions delete/rename the index dir wholesale; it is
    * written LAST, so a crashed build leaves no marker and the next call
    * rebuilds. A stale marker is removed BEFORE mutating, so a crash
    * mid-rebuild can never leave a fresh-looking key over torn state.
    * Returns true iff the build was skipped (served from cache).
    *
    * The cached unit must be the full deterministic mutation sequence
    * that produces the final index state from `inputs` — never a prefix
    * whose output later calls mutate in place (the marker must describe
    * the directory as it will be SERVED).
    *
    * VERSIONING CONTRACT: `paramsTag` must encode every build parameter
    * AND the on-disk format version of what `build` writes. Changing the
    * format (or the build code's output shape) without bumping the tag
    * serves a stale-format index over unchanged inputs — the key cannot
    * see code, so tag-bump-on-format-change is the CALLER's obligation
    * (changed tag ⇒ rebuild is spec-pinned; same tag over changed build
    * code is undetectable by design).
    *
    * On a miss the standing `indexPath` directory is deleted wholesale
    * before `build` runs: a rebuild that produces FEWER artifacts (fewer
    * segments, a shorter ladder) must never serve mixed-generation state
    * under a fresh marker. Sidecars OUTSIDE indexPath (`_delta`,
    * `_tombstones`, `_l<N>`…) are mutation state, not build output —
    * resetting them is the caller's job.
    */
  def buildIfAbsent(spark: SparkSession, inputs: DataFrame, paramsTag: String,
      indexPath: String)(build: => Unit): Boolean = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((cacheKey(inputs) + "\u0000" + paramsTag)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val marker = new org.apache.hadoop.fs.Path(indexPath + "_buildkey")
    val idx = new org.apache.hadoop.fs.Path(indexPath)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hit = fs.exists(idx) && fs.exists(marker) && {
      val in = fs.open(marker)
      val cur = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      cur == key
    }
    record("index", indexPath, key, hit,
      if (hit) System.currentTimeMillis() -
        fs.getFileStatus(marker).getModificationTime
      else 0L)
    if (!hit) {
      if (fs.exists(marker)) fs.delete(marker, false)
      if (fs.exists(idx)) fs.delete(idx, true)
      build
      val out = fs.create(marker, true)
      try out.write(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    hit
  }

  private val TrashSuffix = "._trash"

  /** Retention vacuum — the promised other half of the cache lifecycle.
    * Every input append or plan change orphans the previous entry (its
    * key is simply never computed again), so an unvacuumed cache grows
    * without bound. An entry is deleted iff it is NOT in `liveKeys` AND
    * its recorded write time (the `_SUCCESS` mtime) is at least
    * `minAgeMs` old; callers get the two standard policies from one knob:
    *
    *   - key-liveness sweep: `vacuum(s, root, liveKeys)` — liveKeys are
    *     the `cacheKey`s of the queries still being served, computed
    *     against CURRENT inputs, so exactly the servable entries survive;
    *   - age-based retention: `vacuum(s, root, Set.empty, retentionMs)` —
    *     everything older than the retention window goes, the policy for
    *     caches whose serving set is unknown.
    *
    * `minAgeMs` is also the concurrency safety window (the lakehouse
    * vacuum discipline): a non-zero floor guarantees no read that began
    * before the entry aged out is still in flight. Deletion itself is
    * staged so a concurrent `_SUCCESS`-gated reader never sees a
    * half-deleted entry: the `_SUCCESS` marker is removed FIRST (no new
    * read can hit from that instant — `cached` re-executes on a missing
    * marker), the directory is atomically renamed to a `._trash` name no
    * key can collide with, and only the trash is recursively deleted.
    * Interrupted trash dirs from a crashed vacuum are finished on the
    * next sweep. Returns the deleted keys, sorted.
    */
  def vacuum(spark: SparkSession, cacheRoot: String, liveKeys: Set[String],
      minAgeMs: Long = 0L): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(cacheRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val now = System.currentTimeMillis()
    fs.listStatus(root).filter(_.isDirectory).toSeq.flatMap { st =>
      val key = st.getPath.getName
      if (key.endsWith(TrashSuffix)) { // finish an interrupted vacuum
        fs.delete(st.getPath, true)
        Some(key.stripSuffix(TrashSuffix))
      } else {
        val success = new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")
        val written =
          if (fs.exists(success)) fs.getFileStatus(success).getModificationTime
          else st.getModificationTime
        if (liveKeys.contains(key) || now - written < minAgeMs) None
        else {
          if (fs.exists(success)) fs.delete(success, false) // un-serve first
          val trash = new org.apache.hadoop.fs.Path(root, key + TrashSuffix)
          if (fs.rename(st.getPath, trash)) fs.delete(trash, true)
          else fs.delete(st.getPath, true) // rename-less FS: best effort
          Some(key)
        }
      }
    }.sorted
  }

  /** Driver row: the same aggregate served through the cache twice — the
    * first call materializes, the second must HIT (CachedQuerySpec pins
    * the hit by file-listing equality and the miss-on-input-change by
    * swapping a scratch input). A retention vacuum runs BETWEEN the
    * serves, with a planted orphan (a scratch-input entry whose input was
    * rewritten, so its key is dead): the vacuum must delete the orphan
    * and must NOT touch the live entry — the second serve still hitting,
    * and this row still matching its oracle, is the proof. The oracle is
    * the plain aggregate SQL: a cache may only change WHERE the rows come
    * from, never the rows.
    */
  def cachedQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratchPath("graft_rescache", dir)
    def q(): DataFrame = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("price_e2"))
    cached(spark, q(), root) // materialize or hit
    // plant an orphan: cache over a scratch input, then rewrite the input
    // so the cached entry's (plan, signature) key can never be computed
    // again — the exact way real entries die under appends
    val scratchIn = Tables.scratchPath("graft_rescache_in", dir) + "/t"
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(scratchIn)
    def orphanQ(): DataFrame =
      spark.read.parquet(scratchIn).agg(count(lit(1)).as("n"))
    cached(spark, orphanQ(), root)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(scratchIn)
    vacuum(spark, root, liveKeys = Set(cacheKey(q()), cacheKey(orphanQ())))
    cached(spark, q(), root) // must still hit after the vacuum
      .orderBy("o_orderstatus")
  }

  private val cachedQuerySql =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_e2
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cached_query" -> cachedQuery)

  def oracles: Map[String, String] = Map(
    "cached_query" -> cachedQuerySql)
}
