package graft

import java.nio.file.Files
import graft.ops.ResultCache
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ResultCacheSpec extends SparkSpec {
  import spark.implicits._

  private def listing(dir: String): Set[(String, Long, Long)] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Set.empty
    else d.listFiles().map(f => (f.getName, f.length(), f.lastModified())).toSet
  }

  test("second serve hits the cache: same rows, no rewrite of the entry") {
    val root = Files.createTempDirectory("rescache").toString
    def q(): DataFrame = Tables.orders(spark, sf)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val first = ResultCache.cached(spark, q(), root)
      .collect().map(_.toSeq).toSet
    val key = ResultCache.cacheKey(q())
    val before = listing(s"$root/$key")
    assert(before.nonEmpty, "first serve must materialize the entry")
    val second = ResultCache.cached(spark, q(), root)
      .collect().map(_.toSeq).toSet
    assert(second === first)
    assert(listing(s"$root/$key") === before,
      "a hit must not rewrite the cache entry")
  }

  test("changing the input data changes the key and the answer — never stale") {
    val root = Files.createTempDirectory("rescache2").toString
    val input = Files.createTempDirectory("rescache_in").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(input)
    def q(): DataFrame =
      spark.read.parquet(input).agg(count(lit(1)).as("n"))
    assert(ResultCache.cached(spark, q(), root).head.getLong(0) === 2L)
    // swap the input: same path, same schema, different contents
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(input)
    assert(ResultCache.cached(spark, q(), root).head.getLong(0) === 3L,
      "cache served a stale result after the input changed")
  }

  test("a frame listed before a file lands and one listed after it get different keys") {
    val root = Files.createTempDirectory("rescache_listed").toString
    val input = Files.createTempDirectory("rescache_listed_in").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(input)
    // listed now: this frame keeps reading the two-row file list it
    // captured, whatever lands in the directory later
    val stale = spark.read.parquet(input)
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(input)
    val fresh = spark.read.parquet(input)
    assert(ResultCache.cacheKey(stale) !== ResultCache.cacheKey(fresh),
      "a stale and a fresh listing of one directory share a key")
    assert(ResultCache.cached(spark, stale, root).collect().map(_.getLong(0))
      .sorted.toSeq === Seq(1L, 2L))
    assert(ResultCache.cached(spark, fresh, root).collect().map(_.getLong(0))
      .sorted.toSeq === Seq(1L, 2L, 3L),
      "the stale frame's entry was served to the fresh frame")
  }

  test("a frame keeps its key when a file lands in its root after it was listed") {
    val input = Files.createTempDirectory("rescache_kept_in").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(input)
    val listed = spark.read.parquet(input)
    val key = ResultCache.cacheKey(listed)
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(input)
    assert(ResultCache.cacheKey(listed) === key,
      "a file the frame never reads moved its key")
    assert(listed.count() === 2L, "the frame reads the listing it captured")
  }

  test("vacuum deletes orphans, never servable entries; hits survive it") {
    val root = Files.createTempDirectory("rescache_vac").toString
    val input = Files.createTempDirectory("rescache_vac_in").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(input)
    def live(): DataFrame = Tables.orders(spark, sf)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    def scratch(): DataFrame =
      spark.read.parquet(input).agg(count(lit(1)).as("n"))
    val expected = ResultCache.cached(spark, live(), root)
      .collect().map(_.toSeq).toSet
    ResultCache.cached(spark, scratch(), root)
    val orphanKey = ResultCache.cacheKey(scratch())
    // input append → the scratch entry's key is dead
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(input)
    val liveKey = ResultCache.cacheKey(live())
    val before = listing(s"$root/$liveKey")
    val deleted = ResultCache.vacuum(spark, root,
      Set(liveKey, ResultCache.cacheKey(scratch())))
    assert(deleted === Seq(orphanKey), "exactly the orphan is deleted")
    assert(!new java.io.File(s"$root/$orphanKey").exists())
    assert(listing(s"$root/$liveKey") === before,
      "vacuum must not touch a servable entry")
    assert(ResultCache.cached(spark, live(), root)
      .collect().map(_.toSeq).toSet === expected)
    assert(listing(s"$root/$liveKey") === before,
      "the post-vacuum serve must still be a hit")
  }

  test("minAge retention window: a young orphan survives, an old one goes") {
    val root = Files.createTempDirectory("rescache_age").toString
    def q(): DataFrame = Tables.orders(spark, sf)
      .groupBy("o_orderstatus").agg(max(col("o_totalprice")).as("m"))
    ResultCache.cached(spark, q(), root)
    val key = ResultCache.cacheKey(q())
    // liveKeys empty, but the entry is younger than the safety window
    assert(ResultCache.vacuum(spark, root, Set.empty,
      minAgeMs = 3600L * 1000).isEmpty)
    assert(new java.io.File(s"$root/$key/_SUCCESS").exists())
    // age the entry past the window → the age-based policy removes it
    new java.io.File(s"$root/$key/_SUCCESS")
      .setLastModified(System.currentTimeMillis() - 7200L * 1000)
    assert(ResultCache.vacuum(spark, root, Set.empty,
      minAgeMs = 3600L * 1000) === Seq(key))
    assert(!new java.io.File(s"$root/$key").exists())
  }

  test("half-deleted entries are misses, and interrupted trash is finished") {
    val root = Files.createTempDirectory("rescache_half").toString
    def q(): DataFrame = Tables.orders(spark, sf)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val expected = ResultCache.cached(spark, q(), root)
      .collect().map(_.toSeq).toSet
    val key = ResultCache.cacheKey(q())
    // simulate a vacuum caught between un-serve and rename: _SUCCESS gone
    assert(new java.io.File(s"$root/$key/_SUCCESS").delete())
    assert(ResultCache.cached(spark, q(), root)
      .collect().map(_.toSeq).toSet === expected,
      "a marker-less entry must be re-executed, never served")
    assert(new java.io.File(s"$root/$key/_SUCCESS").exists())
    // simulate a vacuum caught after rename: a ._trash dir left behind
    val trash = new java.io.File(s"$root/$key._trash")
    assert(new java.io.File(s"$root/$key").renameTo(trash))
    ResultCache.vacuum(spark, root, Set.empty)
    assert(!trash.exists(), "the next sweep must finish interrupted trash")
  }

  test("buildIfAbsent: skips on unchanged inputs, rebuilds on change or params drift") {
    val root = Files.createTempDirectory("rescache_build").toString
    val input = Files.createTempDirectory("rescache_build_in").toString + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").write.parquet(input)
    val idx = s"$root/idx"
    var builds = 0
    def build(): Boolean = ResultCache.buildIfAbsent(
      spark, spark.read.parquet(input), "p=1", idx) {
      builds += 1
      spark.read.parquet(input).withColumn("v2", col("v") * 2)
        .write.mode("overwrite").parquet(idx)
    }
    assert(!build() && builds === 1, "first call must build")
    assert(build() && builds === 1, "unchanged inputs must be a cache hit")
    // params drift → new key → rebuild
    assert(!ResultCache.buildIfAbsent(
      spark, spark.read.parquet(input), "p=2", idx) { builds += 1 })
    assert(builds === 2)
    // input rewrite → new signature → rebuild
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .write.mode("overwrite").parquet(input)
    assert(!build() && builds === 3, "changed inputs must rebuild")
    assert(spark.read.parquet(idx).count() === 3)
    // a crashed build leaves no marker: simulate by deleting it
    assert(new java.io.File(idx + "_buildkey").delete())
    assert(!build() && builds === 4, "a marker-less index must rebuild")
  }

  test("buildIfAbsent: a rebuild serves no mixed-generation artifacts") {
    val root = Files.createTempDirectory("rescache_gen").toString
    val input = Files.createTempDirectory("rescache_gen_in").toString + "/t"
    Seq((1L, 10L)).toDF("id", "v").write.parquet(input)
    val idx = s"$root/idx"
    // generation 1 (tag v1) writes TWO segments; generation 2 (tag v2 —
    // the caller bumped the tag because the format changed, per the
    // versioning contract) writes ONE. The v1 segment must not survive
    // under v2's fresh marker: serving would mix generations.
    ResultCache.buildIfAbsent(spark, spark.read.parquet(input), "fmt=v1", idx) {
      Seq(1L).toDF("a").write.parquet(idx + "/seg1")
      Seq(2L).toDF("a").write.parquet(idx + "/seg2")
    }
    assert(new java.io.File(idx + "/seg2").exists())
    ResultCache.buildIfAbsent(spark, spark.read.parquet(input), "fmt=v2", idx) {
      Seq(3L).toDF("a").write.parquet(idx + "/seg1")
    }
    assert(!new java.io.File(idx + "/seg2").exists(),
      "a stale prior-generation artifact survived the rebuild")
    assert(spark.read.parquet(idx + "/seg1").head().getLong(0) === 3L)
    // and the v2 state is a hit on re-call (contract: changed tag ⇒
    // rebuild once; unchanged tag over unchanged inputs ⇒ standing index)
    assert(ResultCache.buildIfAbsent(
      spark, spark.read.parquet(input), "fmt=v2", idx) { fail("rebuilt on a hit") })
  }

  test("cache decisions are auditable: kind, hit/miss and entry age are recorded") {
    ResultCache.clearEvents()
    val root = Files.createTempDirectory("rescache_ev").toString
    val input = Files.createTempDirectory("rescache_ev_in").toString + "/t"
    Seq((1L, 10L)).toDF("id", "v").write.parquet(input)
    def q() = spark.read.parquet(input).agg(sum(col("v")).as("s"))
    ResultCache.cached(spark, q(), root).collect()
    ResultCache.cached(spark, q(), root).collect()
    val idx = s"$root/idx"
    def build(): Boolean = ResultCache.buildIfAbsent(
      spark, spark.read.parquet(input), "p=1", idx) {
      Seq(1L).toDF("a").write.parquet(idx + "/seg")
    }
    build(); build()
    val ev = ResultCache.recentEvents.filter(e =>
      e.path.startsWith(root) || e.path.startsWith(idx))
    assert(ev.map(e => (e.kind, e.hit)) ===
      Seq(("result", false), ("result", true),
        ("index", false), ("index", true)),
      s"unexpected event sequence: $ev")
    assert(ev.filter(_.hit).forall(_.ageMs >= 0L))
    assert(ev.filterNot(_.hit).forall(_.ageMs === 0L))
    // and the DataFrame surface carries the same rows for audit queries
    val df = ResultCache.events(spark)
      .filter(col("path").startsWith(root) || col("path").startsWith(idx))
    assert(df.count() === 4)
    assert(df.filter(col("hit")).count() === 2)
  }

  test("different plans over the same input get different keys") {
    val a = Tables.orders(spark, sf).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
    val b = Tables.orders(spark, sf).groupBy("o_orderstatus")
      .agg(max(col("o_totalprice")).as("m"))
    assert(ResultCache.cacheKey(a) !== ResultCache.cacheKey(b))
  }
}
