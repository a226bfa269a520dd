package graft

import graft.ingest.IngestPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IngestPipelineSpec extends SparkSpec {

  private def cfg(root: String) = IngestPipeline.Config(
    indexPath = s"$root/index", statePath = s"$root/state")

  /** Stored index rows, counted apart from the pipeline (0 before run 1). */
  private def indexRows(c: IngestPipeline.Config): Long =
    if (!new java.io.File(c.indexPath).exists) 0L
    else spark.read.parquet(c.indexPath).count()

  test("full lifecycle: run, re-run is a no-op, increment embeds only new docs") {
    val root = Files.createTempDirectory("pipeline").toString
    val c = cfg(root)
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 30)

    // run 1: everything is new
    val acc1 = spark.sparkContext.longAccumulator("embed1")
    val s1 = IngestPipeline.run(docs, c, Some(acc1))
    assert(s1.docsIn === docs.count())
    assert(s1.docsNew === s1.docsIn)
    assert(s1.chunksNew > 0)
    assert(s1.chunksNew === indexRows(c), "chunksNew is the rows the write landed")
    assert(s1.embedded >= s1.chunksNew, "every indexed chunk was embedded")

    // run 2: same input — nothing embedded, nothing appended
    val rows1 = indexRows(c)
    val acc2 = spark.sparkContext.longAccumulator("embed2")
    val s2 = IngestPipeline.run(docs, c, Some(acc2))
    assert(s2.docsIn === docs.count())
    assert(s2.docsNew === 0)
    assert(s2.chunksNew === 0)
    assert(indexRows(c) === rows1)
    assert(s2.embedded === 0,
      "dedup must run BEFORE embedding: re-run embeds nothing")

    // run 3: 10 additional docs — only they are processed, in the Spark
    // jobs that move data: the index write (with the state and ids
    // broadcasts and the newDocs cache fill) and the state append; no
    // count, schema-inference or statistics job
    val more = Tables.documents(spark, sf).filter(col("doc_id") < 40)
    val acc3 = spark.sparkContext.longAccumulator("embed3")
    val (s3, jobs) = jobsRunBy("ingest-increment") {
      IngestPipeline.run(more, c, Some(acc3))
    }
    assert(jobs === 5, s"an incremental run ran $jobs Spark jobs")
    assert(s3.docsIn === more.count())
    assert(s3.docsNew === more.count() - docs.count())
    assert(s3.chunksNew > 0 && s3.embedded >= s3.chunksNew)
    assert(s3.chunksNew === indexRows(c) - rows1)

    // index integrity: unique chunk ids, buckets populated
    val idx = spark.read.parquet(c.indexPath)
    assert(idx.select("chunk_id").distinct().count() === idx.count())
    assert(idx.select("bucket").distinct().count() > 1)
  }

  test("a lost state table re-reads every doc, but indexes and embeds nothing twice") {
    val root = Files.createTempDirectory("pipeline_lost_state").toString
    val c = cfg(root)
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    IngestPipeline.run(docs, c)
    val rows = indexRows(c)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(c.statePath))
    // every doc is new again, and every one of its chunks is indexed: the
    // write lands no row, and its row count still arrives
    val acc = spark.sparkContext.longAccumulator("embed_lost_state")
    val s = IngestPipeline.run(docs, c, Some(acc))
    assert(s.docsNew === docs.count())
    assert(s.chunksNew === 0 && s.embedded === 0)
    assert(indexRows(c) === rows)
    assert(IngestPipeline.run(docs, c).docsNew === 0, "the re-run marked the docs")
  }

  test("a first run over no documents leaves an index the next run appends to") {
    val root = Files.createTempDirectory("pipeline_no_docs").toString
    val c = cfg(root)
    val none = IngestPipeline.run(Tables.documents(spark, sf).filter(col("doc_id") < 0), c)
    assert(none.docsIn === 0 && none.chunksNew === 0)
    // the empty append left the index directory with no data file
    val s = IngestPipeline.run(Tables.documents(spark, sf).filter(col("doc_id") < 5), c)
    assert(s.chunksNew > 0 && s.chunksNew === indexRows(c))
  }

  test("a failed index write leaves no cached documents behind") {
    val root = Files.createTempDirectory("pipeline_failed_write").toString
    val c = cfg(root)
    // a corrupt index fails the J1 anti-join inside the write
    Files.createDirectories(java.nio.file.Paths.get(c.indexPath))
    Files.write(java.nio.file.Paths.get(c.indexPath, "part-00000.parquet"),
      "this is not a parquet file".getBytes)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      IngestPipeline.run(Tables.documents(spark, sf).filter(col("doc_id") < 10), c)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore,
      "the run left its newDocs cache behind")
  }

  test("streaming ingest: micro-batches dedupe against the same state, index stays unique") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("pipeline_stream").toString
    val c = cfg(root)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docsStream = mem.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("stream"))
    val acc = spark.sparkContext.longAccumulator("stream_embed")
    val q = IngestPipeline.runStream(docsStream, c, s"$root/ckpt", Some(acc))
    try {
      mem.addData((1L, "spark executes queries as a dag of shuffle stages"),
        (2L, "catalyst optimizes logical plans into physical plans"))
      q.processAllAvailable()
      val afterBatch1 = acc.value.longValue()
      assert(afterBatch1 > 0, "first batch embeds its chunks")
      // batch 2 re-sends doc 1 (duplicate) plus one new doc
      mem.addData((1L, "spark executes queries as a dag of shuffle stages"),
        (3L, "tungsten generates jvm bytecode for whole stages"))
      q.processAllAvailable()
      val idx = spark.read.parquet(c.indexPath)
      assert(idx.select("chunk_id").distinct().count() === idx.count(),
        "re-sent doc must not duplicate index rows")
      assert(idx.select("doc_id").distinct().count() === 3)
    } finally q.stop()
  }

  test("search over the built index returns pruned, scored top-k") {
    val root = Files.createTempDirectory("pipeline2").toString
    val c = cfg(root)
    IngestPipeline.run(Tables.documents(spark, sf).filter(col("doc_id") < 100), c)
    val hits = IngestPipeline.search(spark, c, "spark shuffle hash join", k = 5)
    val rows = hits.collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted.reverse))
    // probe filter prunes partitions at the source
    val plan = hits.queryExecution.sparkPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"bucket probes must prune partitions:\n$plan")
  }
}
