package graft.ingest

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

import graft.ops.{Chunking, Ingest}
import graft.vector.{Embedding, IndexBuilder}
import graft.vector.IndexBuilder.RandomHyperplaneLsh

/** The reference's end-to-end ingestion lifecycle (SURVEY.md §3.1) as one
  * incremental batch pipeline:
  *
  *   documents → processed-key anti-join (J2) → chunk (V1 Generator) →
  *   anti-join vs existing index ids (J1) → embed only the survivors (V2)
  *   → LSH-bucketed index append (V5/K2) → mark processed (K5)
  *
  * The §4 hand-encoded optimization — dedup strictly BEFORE the expensive
  * embedding — is preserved by construction and *measured*: the embed UDF
  * counts invocations through an accumulator, and IngestPipelineSpec
  * asserts a re-run embeds zero chunks.
  *
  * Scale: both anti-joins shuffle only id columns (broadcast when small);
  * chunk+embed is a narrow map; the index append is partitioned by LSH
  * bucket, so retrieval prunes files at the source. Re-runs are exactly
  *-once per key — the reference's resumability contract.
  */
object IngestPipeline {

  case class Config(
    chunkSize: Int = 200,
    overlap: Int = 30,
    dim: Int = 256,
    lshBits: Int = 6,
    seed: Long = 42L,
    indexPath: String,
    statePath: String)

  case class RunStats(docsIn: Long, docsNew: Long, chunksNew: Long, embedded: Long)

  def lsh(cfg: Config): RandomHyperplaneLsh =
    new RandomHyperplaneLsh(cfg.dim, cfg.lshBits, cfg.seed)

  /** One incremental run; returns reconciliation counters (A1). Every
    * counter comes from a job that moves data, never from a scan of its
    * own: `docsIn` and `docsNew` are observed on the documents before and
    * after the processed-key anti-join as the index write fills the
    * `newDocs` cache; `chunksNew` is observed on the rows that write lands
    * (a count of its own, apart from the embed accumulator that yields
    * `embedded`). The state table and the index ids are read with their
    * known schemas, so no footer-inference job runs either.
    */
  def run(docs: DataFrame, cfg: Config,
      embedCounter: Option[LongAccumulator] = None): RunStats = {
    val spark = docs.sparkSession
    val (docsSeen, docsFresh) = (Observation(), Observation())

    // J2: skip docs processed by a previous run
    val newDocs = Ingest.filterProcessed(
        docs.observe(docsSeen, count(lit(1)).as("n")), cfg.statePath, "doc_id")
      .observe(docsFresh, count(lit(1)).as("n")).cache()
    try {
      // V1: chunk (native Generator, narrow map)
      val chunks = Chunking.chunkDocuments(newDocs, cfg.chunkSize, cfg.overlap)

      // J1: drop chunk ids already present in the index. Only a MISSING
      // index means "first run" — a corrupt index must fail loudly, not
      // silently re-ingest (same contract as Ingest.filterProcessed).
      // The ids are read as the chunks type them, with no inference job.
      val existingIds: Option[DataFrame] =
        try Some(spark.read.schema(StructType(Seq(chunks.schema("chunk_id"))))
          .parquet(cfg.indexPath).select("chunk_id"))
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "PATH_NOT_FOUND" => None
        }
      val newChunks = existingIds match {
        case Some(ids) => chunks.join(ids, Seq("chunk_id"), "left_anti")
        case None => chunks
      }

      // V2: embed ONLY the J1 survivors (cost-dominant stage stays last)
      val embed = udf { (t: String) =>
        embedCounter.foreach(_.add(1))
        Embedding.hashingEmbed(t, cfg.dim)
      }
      val embedded = newChunks.withColumn("embedding", embed(col("chunk_text")))

      // V5/K2: append to the LSH-bucketed index, counting the rows landed
      val written = Observation()
      IndexBuilder.withLshBucket(embedded, "embedding", lsh(cfg))
        .observe(written, count(lit(1)).as("n"))
        .write.mode("append").partitionBy("bucket").parquet(cfg.indexPath)

      // K5: mark docs processed only after the index write succeeded
      Ingest.markProcessed(newDocs.select(col("doc_id")), cfg.statePath, "doc_id")

      RunStats(docsSeen.get("n").asInstanceOf[Long], docsFresh.get("n").asInstanceOf[Long],
        written.get("n").asInstanceOf[Long],
        embedCounter.map(_.value.longValue()).getOrElse(-1L))
    } finally newDocs.unpersist()
  }

  /** Streaming ingest: the same exactly-once pipeline driven by a
    * streaming documents source via foreachBatch — each micro-batch runs
    * the batch `run` (J2 state anti-join, chunk, J1 index anti-join, embed,
    * bucketed append, K5 mark), so duplicate documents arriving in LATER
    * micro-batches are dropped by the same state table that makes batch
    * re-runs idempotent. This is the production shape for continuous
    * corpus ingestion: bounded per-batch work, index growing in place.
    */
  def runStream(docsStream: DataFrame, cfg: Config,
      checkpointDir: String,
      embedCounter: Option[LongAccumulator] = None): org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        run(batch.toDF(), cfg, embedCounter): Unit
      }
      .start()

  /** Retrieval against the built index: LSH multi-probe pruned top-k
    * (§3.2 lifecycle on the pipeline's own output). Filters the STORED
    * bucket partition column — the probe-set filter becomes parquet
    * partition (file) pruning; buckets are never recomputed at query time.
    */
  def search(spark: SparkSession, cfg: Config, query: String, k: Int,
      radius: Int = 2): DataFrame = {
    val l = lsh(cfg)
    val qv = Embedding.hashingEmbed(query, cfg.dim)
    val probeSet = l.probes(l.signature(qv), radius)
    spark.read.parquet(cfg.indexPath)
      .filter(col("bucket").isin(probeSet: _*))
      .withColumn("score", round(
        graft.vector.VectorFunctions.cosineUnit(col("embedding"), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("chunk_id").asc)
      .limit(k)
  }
}
