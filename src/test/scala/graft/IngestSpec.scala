package graft

import graft.ops.Ingest
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("S1: JSONL scan skips blank, malformed, and invalid records") {
    val dir = Files.createTempDirectory("jsonl").toString
    val lines = Seq(
      """{"id": "a1", "text": "hello world", "metadata": {"source_type": "t"}}""",
      "",
      """{"id": "a2", "text": "truncated...""",
      """{"text": "missing id", "metadata": {}}""",
      """{"id": "  ", "text": "blank id", "metadata": {}}""",
      """{"id": "a3", "text": "", "metadata": {}}""",
      """not json at all""",
      """{"id": "a4", "text": "valid again", "metadata": {"k": "v"}}""")
    Files.write(java.nio.file.Paths.get(s"$dir/chunks.jsonl"),
      lines.mkString("\n").getBytes)
    val out = Ingest.readChunksJsonl(spark, s"$dir/chunks.jsonl")
    val ids = out.select("id").as[String].collect().sorted
    assert(ids.toSeq === Seq("a1", "a4"))
    assert(out.columns.toSet === Set("id", "text", "metadata"))
  }

  test("P4: metadata coercion — list join, empty list and null → N/A, scalars → string") {
    val df = Seq(
      (1L, Seq("a", "b"), Seq.empty[String], Option.empty[String], 3L, 1.5, true))
      .toDF("id", "tags", "empty", "none", "n", "f", "b")
      .select(col("id"), struct(col("tags"), col("empty"), col("none"),
        col("n"), col("f"), col("b")).as("metadata"))
    val out = Ingest.coerceMetadata(df, "metadata")
      .select("metadata").head().getMap[String, String](0)
    assert(out("tags") === "a, b")
    assert(out("empty") === "N/A")
    assert(out("none") === "N/A")
    assert(out("n") === "3")
    assert(out("f") === "1.5")
    assert(out("b") === "true")
  }

  test("P5: dropNulls strips null-valued keys instead of N/A") {
    val df = Seq((1L, Option.empty[String], Option("x")))
      .toDF("id", "none", "some")
      .select(col("id"), struct(col("none"), col("some")).as("metadata"))
    val out = Ingest.coerceMetadata(df, "metadata", dropNulls = true)
      .select("metadata").head().getMap[String, String](0)
    assert(!out.contains("none"))
    assert(out("some") === "x")
  }

  test("U1: unionByName null-fills missing columns from either side") {
    val a = Seq((1L, "en")).toDF("doc_id", "lang")
    val b = Seq((2L, 42L)).toDF("doc_id", "n_chars")
    val u = Ingest.unionSources(Seq(a, b)).orderBy("doc_id").collect()
    assert(u(0).getAs[String]("lang") === "en" && u(0).isNullAt(u(0).fieldIndex("n_chars")))
    assert(u(1).getAs[Long]("n_chars") === 42L && u(1).isNullAt(u(1).fieldIndex("lang")))
  }

  test("K1: JSONL directory sink appends across batches") {
    val dir = Files.createTempDirectory("jsonl_sink").toString + "/out"
    Seq(("c1", "t1")).toDF("id", "text").write.mode("append").json(dir)
    Seq(("c2", "t2")).toDF("id", "text").write.mode("append").json(dir)
    assert(spark.read.json(dir).count() === 2)
  }

  test("K5/J2: processed-key state table round trip reaches fixpoint") {
    val state = Files.createTempDirectory("state").toString + "/keys"
    val batch1 = Seq("k1", "k2").toDF("key")
    val r1 = Ingest.filterProcessed(batch1, state, "key")
    assert(r1.count() === 2, "empty state: everything is new")
    Ingest.markProcessed(r1, state, "key")

    val batch2 = Seq("k1", "k2", "k3").toDF("key")
    val r2 = Ingest.filterProcessed(batch2, state, "key")
    assert(r2.select("key").as[String].collect().toSeq === Seq("k3"))
    Ingest.markProcessed(r2, state, "key")

    val r3 = Ingest.filterProcessed(batch2, state, "key")
    assert(r3.count() === 0, "fixpoint: nothing new on re-run")
  }

  test("K5/J2: corrupt state table fails loudly, never silently re-ingests") {
    val dir = Files.createTempDirectory("corrupt_state").toString + "/keys"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.write(java.nio.file.Paths.get(s"$dir/part-00000.parquet"),
      "this is not a parquet file".getBytes)
    val batch = Seq("k1").toDF("key")
    intercept[Exception] {
      Ingest.filterProcessed(batch, dir, "key").count()
    }
    // a table directory left with no data file (markProcessed always
    // writes one) is torn state too, not a first run
    val torn = Files.createTempDirectory("torn_state").toString + "/keys"
    Files.createDirectories(java.nio.file.Paths.get(torn, "_temporary"))
    intercept[Exception] {
      Ingest.filterProcessed(batch, torn, "key").count()
    }
  }

  test("P4: metadata_coercion driver query emits coerced entries") {
    val out = SparkEntry.queries("metadata_coercion")(spark, sf)
    val byKey = out.filter(col("doc_id") === 0L)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(byKey("missing") === "N/A")
    assert(byKey("tags") === "N/A") // doc_id 0: null array branch
    assert(byKey("even") === "true")
    assert(out.filter(col("value").isNull).count() === 0)
  }

  test("driver queries: union null-fill counts match the split") {
    val out = SparkEntry.queries("source_union")(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(out.count() === n)
    assert(out.filter(col("lang").isNull).count() === out.filter(col("source_type") === "odd_source").count())
  }
}
