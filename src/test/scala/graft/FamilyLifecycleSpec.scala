package graft

import graft.ops.{AnnIndex, ResultCache}

/** The 32 partitioned-index lifecycle rows (LSH, IVF, IVF-PQ, IVF-SQ8 ×
  * delete, delete+fold, upsert, upsert+fold, time travel, sharded,
  * stream-ingest, stream+fold), table-driven. Each row must serve its
  * planted answer, and each row's fixtures (index path, build key) are
  * pinned to literal values: a change to how the family table derives
  * them would otherwise silently rebuild a standing fixture, or let two
  * rows share one.
  */
class FamilyLifecycleSpec extends SparkSpec {

  private val lsh = "lsh:bits=6:seed=42"
  private val ivf = "ivf:clusters=16:seed=42"
  private val pq = "ivfpq:clusters=16:seed=42"
  private val sq8 = "ivfsq8:clusters=16:seed=42"

  /** Registry name → every (fixture path prefix, build key tag) the row
    * builds, at the default shard count of 2. */
  private val fixtures: Seq[(String, Seq[(String, String)])] = Seq(
    "ann_delete_topk" -> Seq("graft_lshdel" -> s"$lsh:lifecycle=delete:v1"),
    "ann_compacted_delete_topk" -> Seq("graft_lshcdel" -> s"$lsh:lifecycle=delete+fold:v1"),
    "ann_upsert_topk" -> Seq("graft_lshupsert" -> s"$lsh:lifecycle=upsert-raw:v1"),
    "ann_compacted_upsert_topk" -> Seq("graft_lshcupsert" -> s"$lsh:lifecycle=upsert+fold:v1"),
    "ann_time_travel_topk" -> Seq("graft_lshtt" -> s"$lsh:lifecycle=timetravel:v2"),
    "ann_sharded_topk" -> Seq(
      "graft_lshshard0of2" -> s"$lsh:shard=0/2:v1", "graft_lshshard1of2" -> s"$lsh:shard=1/2:v1"),
    "ann_streaming_ingest_topk" -> Seq("graft_lshstream" -> s"$lsh:lifecycle=stream-ingest:v1"),
    "ann_streaming_compacted_topk" -> Seq("graft_lshstreamfold" -> s"$lsh:lifecycle=stream+fold:v1"),
    "ann_ivf_delete_topk" -> Seq("graft_ivfdel" -> s"$ivf:lifecycle=delete:v1"),
    "ann_ivf_compacted_delete_topk" -> Seq("graft_ivfcdel" -> s"$ivf:lifecycle=delete+fold:v1"),
    "ann_ivf_upsert_topk" -> Seq("graft_ivfupsert" -> s"$ivf:lifecycle=upsert-raw:v1"),
    "ann_ivf_compacted_upsert_topk" -> Seq("graft_ivfcupsert" -> s"$ivf:lifecycle=upsert+fold:v1"),
    "ann_ivf_time_travel_topk" -> Seq("graft_ivftt" -> s"$ivf:lifecycle=timetravel:v2"),
    "ann_ivf_sharded_topk" -> Seq(
      "graft_ivfshard0of2" -> s"$ivf:shard=0/2:v1", "graft_ivfshard1of2" -> s"$ivf:shard=1/2:v1"),
    "ann_ivf_streaming_ingest_topk" -> Seq("graft_ivfstream" -> s"$ivf:lifecycle=stream-ingest:v1"),
    "ann_ivf_streaming_compacted_topk" -> Seq("graft_ivfstreamfold" -> s"$ivf:lifecycle=stream+fold:v1"),
    "ann_ivf_pq_delete_topk" -> Seq("graft_ivfpqdel" -> s"$pq:lifecycle=delete:v1"),
    "ann_ivf_pq_compacted_delete_topk" -> Seq("graft_ivfpqcdel" -> s"$pq:lifecycle=delete+fold:v1"),
    "ann_ivf_pq_upsert_topk" -> Seq("graft_ivfpqupsert" -> s"$pq:lifecycle=upsert-raw:v1"),
    "ann_ivf_pq_compacted_upsert_topk" -> Seq("graft_ivfpqcupsert" -> s"$pq:lifecycle=upsert+fold:v1"),
    "ann_ivf_pq_time_travel_topk" -> Seq("graft_ivfpqtt" -> s"$pq:lifecycle=timetravel:v2"),
    "ann_ivf_pq_sharded_topk" -> Seq(
      "graft_ivfpqshard0of2" -> s"$pq:shard=0/2:v1", "graft_ivfpqshard1of2" -> s"$pq:shard=1/2:v1"),
    "ann_ivf_pq_streaming_ingest_topk" -> Seq("graft_ivfpqstream" -> s"$pq:lifecycle=stream-ingest:v1"),
    "ann_ivf_pq_streaming_compacted_topk" -> Seq("graft_ivfpqstreamfold" -> s"$pq:lifecycle=stream+fold:v1"),
    "ann_ivf_sq8_delete_topk" -> Seq("graft_ivfsq8del" -> s"$sq8:lifecycle=delete:v1"),
    "ann_ivf_sq8_compacted_delete_topk" -> Seq("graft_ivfsq8cdel" -> s"$sq8:lifecycle=delete+fold:v1"),
    "ann_ivf_sq8_upsert_topk" -> Seq("graft_ivfsq8upsert" -> s"$sq8:lifecycle=upsert-raw:v1"),
    "ann_ivf_sq8_compacted_upsert_topk" -> Seq("graft_ivfsq8cupsert" -> s"$sq8:lifecycle=upsert+fold:v1"),
    "ann_ivf_sq8_time_travel_topk" -> Seq("graft_ivfsq8tt" -> s"$sq8:lifecycle=timetravel:v2"),
    "ann_ivf_sq8_sharded_topk" -> Seq(
      "graft_ivfsq8shard0of2" -> s"$sq8:shard=0/2:v1", "graft_ivfsq8shard1of2" -> s"$sq8:shard=1/2:v1"),
    "ann_ivf_sq8_streaming_ingest_topk" -> Seq("graft_sq8stream" -> s"$sq8:lifecycle=stream-ingest:v1"),
    "ann_ivf_sq8_streaming_compacted_topk" -> Seq("graft_sq8streamfold" -> s"$sq8:lifecycle=stream+fold:v1"))

  private val planted = 0L +: (100000L to 100008L)

  /** The planted answer each lifecycle must serve: (version, vec_id)
    * pairs, with version 0 for the unversioned rows. */
  private def expected(row: String): Seq[(Long, Long)] = row match {
    case r if r.endsWith("delete_topk") => (0L +: (100005L to 100008L)).map(0L -> _)
    case r if r.endsWith("upsert_topk") => (0L +: (100001L to 100004L)).map(0L -> _)
    case r if r.endsWith("time_travel_topk") =>
      (0L +: (100000L to 100004L)).map(1L -> _) ++ planted.map(2L -> _)
    case _ => planted.map(0L -> _)
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  test("the family table generates exactly the 32 lifecycle rows, with oracles") {
    val names = fixtures.map(_._1)
    assert(names.distinct.length === 32)
    names.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"$n missing from the registry")
      assert(SparkEntry.oracleSql.contains(n), s"$n has no oracle")
    }
    // the fixtures of different rows never coincide
    val paths = fixtures.flatMap(_._2.map(_._1))
    assert(paths.distinct.length === paths.length)
  }

  test("family lifecycle rows serve their planted answers from their pinned fixtures") {
    // every row's build input is the planted-copy corpus
    val corpusKey = ResultCache.cacheKey(
      AnnIndex.withPlantedSelfCopies(spark, Tables.embeddings(spark, sf)))
    fixtures.foreach { case (row, builds) =>
      ResultCache.clearEvents()
      val rows = SparkEntry.queries(row)(spark, sf).collect()
      val got = rows.map { r =>
        (if (r.schema.fieldNames.contains("version")) r.getAs[Long]("version") else 0L,
          r.getAs[Long]("vec_id"))
      }.toSeq
      assert(got.sorted === expected(row), s"$row served ${got.sorted}")
      assert(got.distinct.length === got.length, s"$row served a duplicate")
      assert(rows.forall(_.getAs[Double]("score") === 1.0), s"$row scores")
      val recorded = ResultCache.recentEvents.filter(_.kind == "index")
        .map(e => e.path -> e.key).toSet
      builds.foreach { case (prefix, tag) =>
        val fixture = Tables.scratchPath(prefix, sf) -> md5(corpusKey + "\u0000" + tag)
        assert(recorded.contains(fixture),
          s"$row: no build of $fixture; recorded ${recorded.mkString(", ")}")
      }
    }
  }
}
