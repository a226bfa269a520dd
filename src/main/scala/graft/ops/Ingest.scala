package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Ingestion surface (SURVEY.md §2.1 S1-S3, §2.2 K1/K5, §2.3 P1/P4/P5,
  * §2.7 U1): validated JSONL chunk scanning with skip-malformed semantics,
  * the reference's metadata scalar-coercion rules, heterogeneous source
  * union, JSON field extraction, and the processed-key state table.
  *
  * Scale notes: JSONL scanning is a parallel file scan with per-record
  * validation pushed into the read (no driver loops); the state table is an
  * id-only parquet whose anti-join side Catalyst broadcasts when small;
  * union is plan-level (no data movement until an action).
  */
object Ingest extends QueryModule {

  /** Chunk record schema (FIXTURES.md A1): the shared JSONL contract all
    * three reference chunkers append to (`chunk_cisa_kev.py:157-158`).
    */
  val ChunkSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("text", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("_corrupt", StringType)))

  /** S1: line-by-line JSONL scan that skips blank lines, JSON-decode
    * failures, and records missing id/text (`ingest_chunks_to_chromadb
    * .py:110-168`). PERMISSIVE mode lands undecodable lines in `_corrupt`;
    * the validation filter (P1) drops them plus structurally-invalid rows.
    */
  def readChunksJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(ChunkSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .filter(col("_corrupt").isNull &&
        col("id").isNotNull && length(trim(col("id"))) > 0 &&
        col("text").isNotNull && length(trim(col("text"))) > 0)
      .drop("_corrupt")

  /** P4: metadata scalar coercion (`ingest_chunks_to_chromadb.py:132-155`):
    * per key — array → ", "-joined string, empty array → "N/A", null →
    * "N/A", scalar → string. Applied to a struct-typed metadata column,
    * producing the map<string,string> the vector store row carries;
    * null-valued keys that the producers already dropped (P5) stay
    * droppable via the `dropNulls` flag.
    */
  def coerceMetadata(df: DataFrame, metadataCol: String,
      dropNulls: Boolean = false): DataFrame = {
    val schema = df.schema(metadataCol).dataType.asInstanceOf[StructType]
    val entries = schema.fields.flatMap { f =>
      val v = col(s"$metadataCol.${f.name}")
      val coerced = f.dataType match {
        case ArrayType(_, _) =>
          when(v.isNull || size(v) === 0, lit("N/A"))
            .otherwise(array_join(transform(v, _.cast("string")), ", "))
        case _ =>
          when(v.isNull, lit("N/A")).otherwise(v.cast("string"))
      }
      val value = if (dropNulls) when(v.isNotNull, coerced) else coerced
      Seq(lit(f.name), value)
    }
    df.withColumn(metadataCol,
      map_filter(map(entries.toIndexedSeq: _*), (_, v) => v.isNotNull))
  }

  /** U1: union of heterogeneous per-source frames by column name, missing
    * columns null-filled — the engine analog of three chunkers appending to
    * one shared JSONL (`chunk_cisa_kev.py:21`).
    */
  def unionSources(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Driver query: union two schema-divergent projections of documents
    * (one carries lang, the other n_chars) and show null-fill semantics.
    */
  def sourceUnion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val a = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("lang"),
        lit("even_source").as("source_type"))
    val b = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("n_chars"),
        lit("odd_source").as("source_type"))
    unionSources(Seq(a, b))
      .select("doc_id", "source_type", "lang", "n_chars")
      .orderBy("doc_id")
  }

  private val sourceUnionSql =
    """SELECT doc_id, source_type, lang, n_chars FROM (
      |  SELECT doc_id, text, lang, 'even_source' AS source_type FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT doc_id, text, n_chars, 'odd_source' AS source_type FROM documents WHERE doc_id % 2 = 1)
      |ORDER BY doc_id""".stripMargin

  /** F9: JSON field extraction from the events props payload, aggregated
    * per event type (`ingest_chunks_to_chromadb.py:125`-style decode at
    * relational scale). get_json_object evaluates inside codegen; no UDF.
    */
  def eventsJsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  private val eventsJsonPropsSql =
    """SELECT event_type, count(*) AS n_events,
      |       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
      |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** P9/P10 projection chains: title fallback and conditional identifier
    * (`query_rag_database.py:158,161`) demonstrated on the documents
    * columns (coalesce over null-able alternatives, when-chains).
    */
  def titleFallback(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        coalesce(nullif(col("source"), lit("")), nullif(col("lang"), lit("")),
          lit("N/A")).as("title"),
        when(col("lang") === "en", concat(lit("EN-"), col("doc_id")))
          .when(col("source").isNotNull, concat(col("source"), lit("-"), col("doc_id")))
          .otherwise(lit("")).as("identifier"))
      .orderBy("doc_id")

  private val titleFallbackSql =
    """SELECT doc_id,
      |       coalesce(nullif(source, ''), nullif(lang, ''), 'N/A') AS title,
      |       CASE WHEN lang = 'en' THEN 'EN-' || doc_id
      |            WHEN source IS NOT NULL THEN source || '-' || doc_id
      |            ELSE '' END AS identifier
      |FROM documents ORDER BY doc_id""".stripMargin

  /** K5/J2: processed-key state table round trip — write keys, anti-join
    * new inputs against them, append. Used by IngestSpec; exposed for
    * pipeline callers.
    */
  def filterProcessed(inputs: DataFrame, statePath: String, keyCol: String): DataFrame = {
    val spark = inputs.sparkSession
    // Only a missing state table means "first run". Anything else —
    // including a corrupt table — must fail loudly: treating it as empty
    // would silently re-ingest everything and break exactly-once-per-key.
    // The table holds the inputs' key column as markProcessed wrote it, so
    // it is read with that schema: inferring it costs a footer-read Spark
    // job per call. A corrupt file still fails the scan, and a table with
    // no data file (markProcessed always writes one) fails here.
    val state =
      try Some(spark.read.schema(StructType(Seq(inputs.schema(keyCol)))).parquet(statePath))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => None
      }
    state.fold(inputs) { st =>
      require(st.inputFiles.nonEmpty, s"state table $statePath holds no data file")
      inputs.join(st, Seq(keyCol), "left_anti")
    }
  }

  def markProcessed(df: DataFrame, statePath: String, keyCol: String): Unit =
    df.select(col(keyCol)).write.mode("append").parquet(statePath)

  /** P4 driver query: the reference's exact metadata-coercion semantics
    * (`ingest_chunks_to_chromadb.py:132-155`) surfaced end-to-end — a
    * struct with a nullable scalar, a long, a boolean, an array that is
    * null / empty / populated by row, and an always-null key, coerced and
    * emitted as sorted map entries. The most port-error-prone behavior in
    * the reference, now hash-compared against a DuckDB replica.
    */
  def metadataCoercion(spark: SparkSession, dir: String): DataFrame = {
    val withMeta = Tables.documents(spark, dir)
      .select(col("doc_id"), struct(
        nullif(col("source"), lit("src3")).as("source"),
        col("n_chars").as("n_chars"),
        (col("doc_id") % 2 === 0).as("even"),
        when(col("doc_id") % 5 === 0, lit(null).cast("array<string>"))
          .when(col("doc_id") % 5 === 1, array().cast("array<string>"))
          .otherwise(array(col("lang"), col("source"))).as("tags"),
        lit(null).cast("string").as("missing")).as("metadata"))
    coerceMetadata(withMeta, "metadata")
      .select(col("doc_id"), explode(col("metadata")).as(Seq("key", "value")))
      .orderBy("doc_id", "key")
  }

  private val metadataCoercionSql =
    """WITH m AS (
      |  SELECT doc_id,
      |         coalesce(nullif(source, 'src3'), 'N/A') AS source_v,
      |         CAST(n_chars AS VARCHAR) AS n_chars_v,
      |         CAST(doc_id % 2 = 0 AS VARCHAR) AS even_v,
      |         CASE WHEN doc_id % 5 IN (0, 1) THEN 'N/A'
      |              ELSE lang || ', ' || source END AS tags_v,
      |         'N/A' AS missing_v
      |  FROM documents)
      |SELECT doc_id, key, value FROM (
      |  SELECT doc_id, 'source' AS key, source_v AS value FROM m
      |  UNION ALL SELECT doc_id, 'n_chars', n_chars_v FROM m
      |  UNION ALL SELECT doc_id, 'even', even_v FROM m
      |  UNION ALL SELECT doc_id, 'tags', tags_v FROM m
      |  UNION ALL SELECT doc_id, 'missing', missing_v FROM m)
      |ORDER BY doc_id, key""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_union" -> sourceUnion,
    "events_json_props" -> eventsJsonProps,
    "title_fallback" -> titleFallback,
    "metadata_coercion" -> metadataCoercion)

  def oracles: Map[String, String] = Map(
    "source_union" -> sourceUnionSql,
    "events_json_props" -> eventsJsonPropsSql,
    "title_fallback" -> titleFallbackSql,
    "metadata_coercion" -> metadataCoercionSql)
}
