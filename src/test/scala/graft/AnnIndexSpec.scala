package graft

import graft.ops.AnnIndex
import graft.vector.IndexBuilder
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class AnnIndexSpec extends SparkSpec {

  private def exactTop(k: Int): Seq[Long] =
    SparkEntry.queries("knn_exact_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).take(k).toSeq

  test("ann_matryoshka_topk: prefix scan reads only (vec_id, prefix16); recall vs exact is measured") {
    val out = SparkEntry.queries("ann_matryoshka_topk")(spark, sf).collect()
    assert(out.length === 10)
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // recall@10 vs exact: the 5x prefix overscan on this data should
    // recover most true neighbors; the floor is deliberately modest —
    // the CORRECTNESS contract is the replayed two-stage oracle, this
    // gate only catches a prefix scan gone degenerate
    val exact = exactTop(10).toSet
    val recall = out.map(_.getAs[Long]("vec_id")).count(exact.contains) / 10.0
    assert(recall >= 0.5, s"matryoshka recall@10 degenerate: $recall")
    // the storage point of MRL: stage 1's scan must read the prefix
    // sidecar ONLY — full embeddings stay on disk until the rescore
    val path = Tables.scratchPath("graft_mrl_prefix", sf)
    val scan = spark.read.parquet(path)
      .queryExecution.executedPlan.toString
    assert(scan.contains("prefix16") && !scan.contains("embedding"),
      s"prefix table must not carry the full embedding column:\n$scan")
  }

  test("hard_negatives_batch: the positive band excludes the planted near-dups; no self-pairs") {
    val out = SparkEntry.queries("hard_negatives_batch")(spark, sf).collect()
    assert(out.length === 25, "5 queries x 5 negatives")
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id") !== r.getAs[Long]("query_id"),
        "an anchor must never mine itself")
      assert(r.getAs[Double]("score") < 0.98,
        "a near-duplicate mined as a negative poisons the loss")
    }
    // the load-bearing check: query 0's planted copies score ~1.0 and
    // would TOP the list without the band
    val q0 = out.filter(_.getAs[Long]("query_id") == 0L)
      .map(_.getAs[Long]("vec_id"))
    assert(q0.forall(_ < 200000L),
      s"query 0 mined a planted positive as a negative: ${q0.toSeq}")
  }

  test("knn_where_contains: the document filter flips the answer from the tied group A to group B") {
    // precondition the construction relies on: the sentinel occurs in NO
    // real document
    assert(Tables.documents(spark, sf)
      .filter(col("text").contains("zzbb")).count() === 0L)
    val out = SparkEntry.queries("knn_where_contains")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("top_doc_id")).toSeq ===
      (320000L to 320004L),
      "only the zzbb-containing copies may serve")
    assert(out.forall(_.getAs[Long]("top_doc_id") >= 320000L),
      "group A ties the query at 1.0 — its presence means the contains " +
        "filter was not applied before the top-k")
  }

  test("knn_where_contains_indexed: trigram route = scan route exactly; ids and trigrams are pushed") {
    val indexed = SparkEntry.queries("knn_where_contains_indexed")(spark, sf)
    val out = indexed.collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("top_doc_id"))).toSeq
    val scan = SparkEntry.queries("knn_where_contains")(spark, sf).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("top_doc_id"))).toSeq
    assert(out === scan,
      "the trigram route must serve the scan route's exact answer")
    // plan audit: the candidate ids reach the documents scan as a pushed
    // In(doc_id, …) — corpus text is decoded only from candidate row
    // groups — and the posting probe reads only the needle's trigram
    // posting lists (pushed In(tg, …)), never the whole posting table
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("In(doc_id"),
      s"candidate ids not pushed into the documents scan:\n$plan")
    // the posting probe is consumed during construction (the bounded
    // candidate collect), so audit its scan shape directly: the needle's
    // trigram filter must reach the posting parquet as a pushed In(tg,…)
    val probe = spark.read
      .parquet(Tables.scratchPath("trigram_postings_wc", sf))
      .filter(col("tg").isin("zzb", "zbb"))
    val pplan = probe.queryExecution.executedPlan.toString
    assert(pplan.contains("In(tg"),
      s"needle trigrams not pushed into the posting scan:\n$pplan")
    // force the low-selectivity arm (cap = 0 → every candidate count
    // exceeds it): the distributed semi-join route must serve the SAME
    // answer — the router discipline, pinned on both arms
    val fallback = graft.ops.VectorSearch
      .knnWhereContainsIndexedCapped(spark, sf, cap = 0)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("top_doc_id")))
      .toSeq
    assert(fallback === scan,
      "the semi-join fallback arm must serve the scan route's answer")
  }

  test("knn_where_contains_and: BOTH clauses are load-bearing — the zzbb-only group is excluded by the zzaa clause") {
    assert(Tables.documents(spark, sf)
      .filter(col("text").contains("zzaa") || col("text").contains("zzbb"))
      .count() === 0L, "no natural doc may carry either sentinel")
    val out = SparkEntry.queries("knn_where_contains_and")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(out === (320000L to 320004L),
      s"only the both-terms group may serve: $out")
    assert(out.forall(id => id < 340000L),
      "group D carries zzbb but NOT zzaa — its presence means the " +
        "conjunction degenerated to a single clause")
    // the trigram route must serve the IDENTICAL conjunctive answer:
    // each clause's trigram gate intersects inside one aggregation
    val indexed = SparkEntry
      .queries("knn_where_contains_and_indexed")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(indexed === out,
      s"the indexed conjunction diverged from the scan route: $indexed")
  }

  test("knn_where_contains_or: candidates are the UNION of both clauses; B's self-tie serves") {
    val out = SparkEntry.queries("knn_where_contains_or")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(out === (320000L to 320004L),
      s"B's self-tie must own the top-5: $out")
    // the serve's top-5 alone cannot see a dropped SECOND clause (B
    // wins either way) — pin the full candidate set: the OR must admit
    // B (zzbb) AND D (zzcc) and exclude zzaa-only A and all naturals
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter(col("doc_id") === 0L).head().getString(1)
    val spark2 = spark
    import spark2.implicits._
    val planted = Seq(
      (300000L until 300005L).map(i => (i, base + " zzaa")),
      (320000L until 320005L).map(i => (i, base + " zzaa zzbb")),
      (340000L until 340005L).map(i => (i, base + " zzbb zzcc"))
    ).flatten.toDF("doc_id", "text")
    val cand = docs.unionByName(planted)
      .filter(col("text").contains("zzbb") || col("text").contains("zzcc"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cand === ((320000L to 320004L) ++ (340000L to 340004L)).toSet,
      s"the disjunction's candidate set must be exactly B ∪ D: $cand")
    // the indexed disjunction (ANY-clause trigram gate over the same
    // posting fixture) must serve the identical answer
    val indexed = SparkEntry
      .queries("knn_where_contains_or_indexed")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(indexed === out,
      s"the indexed disjunction diverged from the scan route: $indexed")
  }

  test("knn_where_metadata_document: identical-text tie separated ONLY by the metadata clause; contains excludes the naturals") {
    assert(Tables.documents(spark, sf)
      .filter(col("text").contains("zzmm")).count() === 0L,
      "no natural doc may carry the document sentinel")
    val out = SparkEntry.queries("knn_where_metadata_document")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(out === (380000L to 380004L),
      s"only the eval_b metadata group may serve: $out")
    // groups E and F have IDENTICAL text — the $contains clause cannot
    // tell them apart; eval_a ids present means the metadata clause
    // never applied
    assert(out.forall(_ >= 380000L),
      "eval_a's tied copies served — the where (metadata) clause is " +
        "not load-bearing")
  }

  test("knn_where_contains_auto_route: rare needle routes trigram, forced overhead routes scan, both arms serve identically") {
    import graft.ops.{RouteLog, VectorSearch => VS}
    val scan = SparkEntry.queries("knn_where_contains")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    val auto = SparkEntry.queries("knn_where_contains_auto_route")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(auto === scan, s"the routed serve diverged: $auto")
    val last = RouteLog.recent.filter(_.site == "where_contains").last
    assert(last.choice === "trigram",
      "a 10-candidate needle against a whole corpus must route trigram")
    // force the inversion: a huge indexed-overhead factor prices the
    // scan as cheaper — the other arm must serve the identical answer
    val forced = VS
      .knnWhereContainsAutoRouteWith(spark, sf, overhead = Long.MaxValue / 4)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(forced === scan, s"the scan arm diverged: $forced")
    assert(RouteLog.recent.filter(_.site == "where_contains")
      .last.choice === "scan")
  }

  test("knn_where_not_contains: B's exclusion is load-bearing, A outscores the naturals, and both indexed arms equal the scan") {
    val out = SparkEntry.queries("knn_where_not_contains")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    // the absolute pinning the replayed oracle cannot do: A's copies
    // must outscore every natural under the hash embedder (the oracle's
    // doc_id >= 300000 restriction encodes exactly this claim)
    assert(out === (300000L to 300004L),
      s"A's five copies must own the survivors' top-5: $out")
    assert(!out.exists(_ >= 320000L),
      "B ties the query at 1.0 — its presence means $not_contains " +
        "never applied (or degenerated to $contains)")
    val indexed = SparkEntry
      .queries("knn_where_not_contains_indexed")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(indexed === out,
      s"the verify-then-anti-join route diverged from the scan: $indexed")
    // cap = 0 forces the SELECTIVITY INVERSION arm: a common needle's
    // candidate set makes verification a scan, so the router must run
    // the scan plan — and serve the identical answer
    val inverted = graft.ops.VectorSearch
      .knnWhereNotContainsIndexedCapped(spark, sf, cap = 0)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(inverted === out,
      s"the inversion arm (scan fallback) diverged: $inverted")
  }

  test("knn_where_contains_deleted: the composed delete stops serving on BOTH routes, one listing resolves the store, forget conf arms") {
    val expected = Seq(320000L, 320001L, 320003L, 320004L)
    def scan() = SparkEntry.queries("knn_where_contains_deleted")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    def idx() = SparkEntry
      .queries("knn_where_contains_deleted_indexed")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(scan() === expected,
      "the deleted copy must vanish from the scan route (FOUR rows)")
    assert(idx() === expected,
      "a tombstone leak: the posting index served a deleted doc")
    // serve-side probe discipline: with the fixture built, ONE
    // table-dir listing resolves sidecar/log/manifest for the whole
    // serve (the FsProbes witness the MaxSim index pins)
    val l0 = graft.ops.LateInteraction.FsProbes.listings.get()
    idx()
    assert(graft.ops.LateInteraction.FsProbes.listings.get() - l0 === 1L,
      "the lifecycle serve must pay exactly one directory listing")
    // forget-conf arming on the SUBSTRING index — the gap VERDICT r18
    // named: a forgotten doc must stop serving from the posting route
    // exactly as from every ANN family, and from the scan route alike
    val root = java.nio.file.Files
      .createTempDirectory("wc_forget").toString + "/root"
    graft.ops.Forget.forget(spark, root, Seq(320003L))
    spark.conf.set(graft.ops.Forget.RootConf, root)
    try {
      val armed = Seq(320000L, 320001L, 320004L)
      assert(scan() === armed, "armed conf must drop the forgotten id (scan)")
      assert(idx() === armed, "armed conf must drop the forgotten id (indexed)")
    } finally spark.conf.unset(graft.ops.Forget.RootConf)
  }

  test("driver-side trigram bucket eval agrees with the executor-side pmod(xxhash64) expression exactly") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.{VectorSearch => VS}
    // the probe's bucket list is computed by interpreting Spark's own
    // XxHash64 expression on the driver (no per-serve job); any drift
    // from the codegen'd writer-side expression would probe EMPTY
    // partitions and silently return no candidates — pin exact parity
    // over a mixed sample (ascii, accents, a supplementary-plane char)
    val tgs = Seq("zzb", "zbb", "abc", "éfg", "𝄞xy", "  a", "0A!")
    val sparkSide = tgs.toDF("tg")
      .select(col("tg"), pmod(xxhash64(col("tg")),
        lit(VS.TrigramBuckets.toLong)).cast("int").as("tb"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    tgs.foreach { t =>
      assert(VS.trigramBucketsOf(Seq(t)) === Seq(sparkSide(t)),
        s"driver eval diverged from the executor expression on '$t'")
    }
  }

  test("trigram posting lifecycle: CAS-published append, tombstone exclusion at read, physical reclaim folds the delete") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.{LateInteraction => LI, VectorSearch => VS, Forget}
    import graft.ingest.ManifestLog
    val base = java.nio.file.Files.createTempDirectory("tglc").toString
    val path = base + "/postings"
    val root = base + "/root"
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"),
      (3L, "gamma delta")).toDF("doc_id", "text")
    VS.writeTrigramPostings(docs, path, "overwrite")
    // ADOPT: v1 = the current leaves; every later state is a manifest flip
    ManifestLog.commit(spark, LI.tableManifestDir(path),
      _ => LI.leafFilesAny(spark, path))
    // the APPEND: doc 4 arrives; its files publish through ONE CAS commit
    VS.writeTrigramPostings(Seq((4L, "delta epsilon")).toDF("doc_id", "text"),
      path, "append")
    val md = LI.tableManifestDir(path)
    assert(ManifestLog.currentVersion(spark, md) === 2L,
      "the append must CAS-publish exactly one manifest version")
    def served(): Set[Long] = LI.resolvedPostings(spark, path)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(served() === Set(1L, 2L, 3L, 4L),
      "the appended doc must serve through the manifest head")
    // the composed DELETE: excluded at read, files untouched
    LI.composeDelete(spark, path, Seq(2L))
    assert(served() === Set(1L, 3L, 4L),
      "a tombstoned doc must stop serving before any rewrite")
    // physical reclaim: doc 2's posting BYTES leave; answers unchanged
    Forget.reclaimTable(spark, root, path, partitionCols = Seq("tb"))
    assert(LI.tableData(spark, path)
      .select("doc_id").distinct().as[Long].collect().toSet ===
        Set(1L, 3L, 4L),
      "reclaim must fold the tombstone into the rewrite physically")
    assert(!LI.hasTombstoneState(spark, path),
      "reclaim must consume the folded log lines")
  }

  test("knn_where_contains_streamed: replay is exactly-once, and the raw-count gate WOULD catch a duplicating regression") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.{VectorSearch => VS}
    val out = SparkEntry.queries("knn_where_contains_streamed")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    val scan = SparkEntry.queries("knn_where_contains")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(out === scan,
      s"the streamed index must serve the scan route's answer: $out")
    // the witness claim, demonstrated: stage the SAME doc into TWO
    // batch directories (what an append-mode replay bug produces) and
    // the raw-count all-trigrams gate must reject it — the doc's
    // posting count doubles past the gate instead of silently serving
    val root = java.nio.file.Files
      .createTempDirectory("tgstream").toString + "/p"
    val doc = Seq((9L, "qq zzbb qq")).toDF("doc_id", "text")
    VS.stageTrigramBatch(doc, root, 0L)
    VS.stageTrigramBatch(doc, root, 1L) // the bug: a new dir, not a rewrite
    val tgs = VS.needleTrigrams("zzbb")
    val gated = spark.read.parquet(root)
      .filter(col("tg").isin(tgs: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") === tgs.size)
    assert(gated.count() === 0L,
      "duplicated postings must overshoot the raw-count gate — the " +
        "exactly-once witness")
    // while a correct single staging passes it
    val root2 = java.nio.file.Files
      .createTempDirectory("tgstream2").toString + "/p"
    VS.stageTrigramBatch(doc, root2, 0L)
    val ok = spark.read.parquet(root2)
      .filter(col("tg").isin(tgs: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") === tgs.size)
    assert(ok.count() === 1L)
  }

  test("knn_where_contains_upserted: the stale generation dies at the watermark, the replacement serves its NEW content") {
    import graft.ops.{LateInteraction => LI, VectorSearch => VS}
    val out = SparkEntry.queries("knn_where_contains_upserted")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(out === Seq(320000L, 320001L, 320003L, 320004L),
      s"the re-ingested doc must leave the zzbb serve: $out")
    // the watermark HALF the row's answer cannot see: the replacement's
    // postings (seq = 1, ABOVE the upto_seq = 0 mark) must survive and
    // serve the new content's needle — an id-level tombstone mistake
    // would kill them and empty this gate
    val path = Tables.scratchPath("trigram_postings_up", sf)
    val postings = LI.resolvedPostings(spark, path)
    val tgs = VS.needleTrigrams("zzdd")
    val hit = postings.filter(col("tg").isin(tgs: _*))
      .groupBy("doc_id").agg(countDistinct(col("tg")).as("n"))
      .filter(col("n") === tgs.size)
      .collect().map(_.getLong(0)).toSeq
    assert(hit === Seq(320002L),
      s"the replacement generation must serve its new needle: $hit")
    // and the stale generation is really gone from the resolved frame
    assert(postings.filter(col("doc_id") === 320002L &&
      col("seq") === 0L).count() === 0L,
      "seq<=0 postings of the upserted doc must die at the watermark")
  }

  test("lifecycle trigram probe: tb partition pruning + pushed In(tg), and the driver-side bucket eval covers every posting") {
    import graft.ops.{VectorSearch => VS}
    // ensure the lifecycle table exists (built by any indexed row)
    SparkEntry.queries("knn_where_contains_indexed")(spark, sf).collect()
    val path = Tables.scratchPath("trigram_postings_wc", sf)
    val tgs = VS.needleTrigrams("zzbb")
    val buckets = VS.trigramBucketsOf(tgs)
    // the probe shape every lifecycle serve runs: partition prune on tb
    // (file-level, from driver-evaluated XxHash64) + pushed In(tg)
    val probe = spark.read.parquet(path)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("tg").isin(tgs: _*))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb"),
      s"tb buckets did not reach partition pruning:\n$plan")
    assert(plan.contains("In(tg"),
      s"needle trigrams not pushed into the bucketed posting scan:\n$plan")
    // ZERO-DRIFT pin: no posting of the needle's trigrams lives outside
    // the driver-computed buckets — a hash/seed/modulo drift between
    // trigramBucketsOf and the writer would silently empty the probe
    val missed = spark.read.parquet(path)
      .filter(col("tg").isin(tgs: _*))
      .filter(!col("tb").isin(buckets: _*)).count()
    assert(missed === 0L,
      s"$missed postings live outside the driver-computed buckets — " +
        "probe/writer bucketing drifted")
  }

  test("knn_where_contains_sharded: route-equal with the single-table serve; shard slices partition the corpus") {
    // build the single-table postings this test compares coverage
    // against (the sharded and scan rows alone never build it)
    SparkEntry.queries("knn_where_contains_indexed")(spark, sf).collect()
    val out = SparkEntry.queries("knn_where_contains_sharded")(spark, sf)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("top_doc_id")))
      .toSeq
    val single = SparkEntry.queries("knn_where_contains")(spark, sf)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("top_doc_id")))
      .toSeq
    assert(out === single,
      s"sharded gather must equal the single-table serve: $out")
    // the shards' posting tables partition the doc space: no doc id in
    // both, and together they cover the single table's ids
    val sh = (0 until 2).map(i => spark.read
      .parquet(Tables.scratchPath(s"trigram_postings_sh${i}of2", sf))
      .select("doc_id").distinct())
    assert(sh(0).join(sh(1), Seq("doc_id")).count() === 0L,
      "a doc's postings must live in exactly one shard")
    val union = sh(0).unionByName(sh(1)).count()
    val whole = spark.read
      .parquet(Tables.scratchPath("trigram_postings_wc", sf))
      .select("doc_id").distinct().count()
    assert(union === whole,
      s"shards must cover the corpus: $union vs $whole")
  }

  test("knn_where_contains_time_travel: each version serves exactly its manifest's files — disjoint answers, torn reads flip groups") {
    val out = SparkEntry.queries("knn_where_contains_time_travel")(spark, sf)
      .collect().map(r => (r.getAs[Long]("version"), r.getAs[Long]("top_doc_id")))
    assert(out.filter(_._1 == 1L).map(_._2).toSeq ===
      (300000L to 300004L).toSeq,
      s"v1 (B unindexed) must serve group A against B's query: $out")
    assert(out.filter(_._1 == 2L).map(_._2).toSeq ===
      (320000L to 320004L).toSeq,
      s"v2 must serve B's appended self-tie: $out")
    // the append created v2 through the CAS manifest (no directory swap)
    val path = Tables.scratchPath("trigram_postings_tt", sf)
    val log = graft.ops.LateInteraction.tableManifestDir(path)
    assert(graft.ingest.ManifestLog.currentVersion(spark, log) === 2L)
    // version pinning at the FILE level: v1's list must not reference
    // any file v1 did not commit (appends only ever ADD files)
    val v1 = graft.ingest.ManifestLog.read(spark, log, 1L).get.toSet
    val v2 = graft.ingest.ManifestLog.read(spark, log, 2L).get.toSet
    assert(v1.subsetOf(v2) && v1.size < v2.size,
      "v2 must be v1 plus the appended posting files")
  }

  test("knn_where_contains_compacted: one tg-sorted file per tb bucket after the fold") {
    SparkEntry.queries("knn_where_contains_compacted")(spark, sf).collect()
    val path = Tables.scratchPath("trigram_postings_cmp", sf)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("tb="))
    assert(buckets.nonEmpty, "compacted table must keep its tb= layout")
    buckets.foreach { b =>
      val files = fs.listStatus(b.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"bucket ${b.getPath.getName} must fold to ONE file, " +
          s"got ${files.length}")
    }
    // and the staged pre-compaction directory is gone
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".staged")),
      "the staged accreted table must be deleted after the fold")
  }

  test("knn_where_contains_reclaimed: delete-equal answer AND the reclaimed doc's posting bytes are GONE from every live file") {
    import graft.ops.{LateInteraction => LI}
    val out = SparkEntry.queries("knn_where_contains_reclaimed")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(out === Seq(320000L, 320001L, 320003L, 320004L),
      s"reclaim must not change the delete-lifecycle answer: $out")
    val path = Tables.scratchPath("trigram_postings_rc", sf)
    // PHYSICAL absence (the forget_reclaimed_export discipline): every
    // live leaf read RAW — not the resolved view, which would also pass
    // under a mere read-time exclusion
    val leaves = LI.leafFilesAny(spark, path)
    assert(leaves.nonEmpty, "reclaimed table must keep live files")
    val raw = spark.read.option("basePath", path).parquet(leaves: _*)
    assert(raw.filter(col("doc_id") === 320002L).count() === 0L,
      "the reclaimed doc's posting BYTES must leave the live file set")
    // the fold is physical: tombstone state consumed, manifest advanced
    assert(!LI.hasTombstoneState(spark, path),
      "reclaim must consume the folded tombstone state")
    assert(graft.ingest.ManifestLog.currentVersion(spark,
      LI.tableManifestDir(path)) >= 2L,
      "the rewrite must publish as a manifest CAS commit")
    // while surviving docs' postings still serve from the rewrite
    assert(raw.filter(col("doc_id") === 320000L).count() > 0L)
  }

  test("knn_where_metadata_range: both bounds load-bearing, predicate PUSHED to the scan, zone-map route prunes files and serves identically") {
    val frame = SparkEntry.queries("knn_where_metadata_range")(spark, sf)
    val out = frame.collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(out === (420000L to 420004L),
      s"only H (5000 chars) passes both bounds: $out")
    assert(!out.exists(_ < 410000L),
      "G is the query's own group — served means $gte never applied")
    assert(!out.exists(id => id >= 410000L && id < 420000L),
      "I sits below H in id order — served means $lt never applied")
    // plan audit: the range clauses reach the documents parquet scan as
    // pushed data-source filters (at 100 TB: row-group stats pruning)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(n_chars,300)"),
      s"the \\$$gte bound was not pushed:\n$plan")
    assert(plan.contains("LessThan(n_chars,10000)"),
      s"the \\$$lt bound was not pushed:\n$plan")
    // the zone-map route: identical answer, and files genuinely skipped
    val pruned = SparkEntry
      .queries("knn_where_metadata_range_pruned")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(pruned === out, s"the zone-map route diverged: $pruned")
    val (_, kept, total) = graft.ops.VectorSearch.zonemapPrunedDocs(spark,
      Tables.scratchPath("docs_zm_nchars", sf), 300L, 10000L)
    assert(kept > 0 && kept < total,
      s"the n_chars zone map must skip SOME files and keep some " +
        s"($kept of $total) — naturals span 48..553 chars")
  }

  test("knn_where_metadata_in / nin: list operators compose with k-NN; the full candidate set is pinned") {
    val inFrame = SparkEntry.queries("knn_where_metadata_in")(spark, sf)
    val in = inFrame
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    // plan audit: the $in list reaches the documents parquet scan as a
    // pushed In(source, …) (at 100 TB: dictionary/row-group pruning)
    val plan = inFrame.queryExecution.executedPlan.toString
    assert(plan.contains("In(source, [eval_b,eval_c])"),
      s"the \\$$in list was not pushed into the scan:\n$plan")
    assert(in === (460000L to 460004L),
      s"F2 (lowest passing ids) must own the top-5: $in")
    assert(!in.exists(_ < 460000L),
      "E2 is the query's own group — served means $in never applied")
    // the top-5 alone cannot see a dropped SECOND list element (F2 wins
    // either way) — pin the full candidate set F2 ∪ G2 (the $or lesson)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "source")
    val b = docs.filter(col("doc_id") === 0L).head().getString(1)
    val spark2 = spark
    import spark2.implicits._
    val planted = Seq(
      (440000L until 440005L).map(i => (i, b + " zznn", "eval_a")),
      (460000L until 460005L).map(i => (i, b + " zznn", "eval_b")),
      (480000L until 480005L).map(i => (i, b + " zznn", "eval_c"))
    ).flatten.toDF("doc_id", "text", "source")
    val cand = docs.unionByName(planted)
      .filter(col("source").isin("eval_b", "eval_c") &&
        col("text").contains("zznn"))
      .select("doc_id").as[Long].collect().toSet
    assert(cand === ((460000L to 460004L) ++ (480000L to 480004L)).toSet,
      s"the \\$$in candidate set must be exactly F2 ∪ G2: $cand")
    // $nin over the same corpus: excluding the query's group and a
    // NATURAL source value serves the identical survivors
    val nin = SparkEntry.queries("knn_where_metadata_nin")(spark, sf)
      .collect().map(_.getAs[Long]("top_doc_id")).toSeq
    assert(nin === in, s"the \\$$nin complement diverged: $nin")
  }

  test("trigram index job enumerates over the LOWERED text's own length (length-changing lowercase)") {
    val spark2 = spark
    import spark2.implicits._
    // Turkish dotted capital I (U+0130) lowercases to 'i' + combining
    // dot (U+0069 U+0307): the lowered string is one char LONGER than
    // the raw one, so a raw-length sequence would stop one trigram
    // short and drop the tail trigram "zbb" from the posting lists
    val doc = Seq((1L, "x\u0130 zzbb")).toDF("doc_id", "text")
    val tgs = graft.ops.VectorSearch.trigramPostingsFrame(doc)
      .collect().map(_.getAs[String]("tg")).toSet
    assert(tgs.contains("zbb"),
      s"trailing trigram of the LOWERED text must be indexed: $tgs")
    assert(tgs.contains("zzb"))
  }

  test("needle trigram variants cover BOTH lowering paths Spark's lower() can take (locale-drift regression, r19 ADVICE)") {
    import graft.ops.{VectorSearch => VS}
    // Spark's lower() = UTF8String.toLowerCase: ASCII-only strings take
    // a locale-free fast path; anything with a non-ASCII byte takes
    // String.toLowerCase() with the JVM DEFAULT locale. Under a Turkish
    // default locale the SAME ASCII needle occurrence lowers differently
    // depending on the REST of the doc ('I' -> 'i' in an ASCII doc,
    // 'I' -> U+0131 dotless in a non-ASCII doc) — r19 derived ONE
    // variant from Locale.ROOT, so the gate lost its superset property
    // exactly there. Pure driver-side assertions (no Spark job runs
    // while the default locale is mutated).
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      val variants = VS.needleTrigramVariants("IXYZ")
      // fast-path variant: ascii lowering
      assert(variants.exists(_.contains("ixy")),
        s"fast-path (ASCII doc) variant missing: $variants")
      // slow-path variant: default-locale lowering (dotless i)
      assert(variants.exists(_.contains("\u0131xy")),
        s"slow-path (non-ASCII doc, tr locale) variant missing: $variants")
      // superset property, both doc shapes: SOME variant's full trigram
      // set is contained in the doc's trigrams under Spark's own
      // lowering (sparkLower IS what lower() computes for that doc)
      def docTgs(doc: String): Set[String] = {
        val lt = VS.sparkLower(doc).replace('\u03c2', '\u03c3')
        val cps = lt.codePoints().toArray
        (0 to cps.length - 3).map(i => new String(cps, i, 3)).toSet
      }
      val asciiDoc = docTgs("a IXYZ b")          // fast path
      val mixedDoc = docTgs("\u0130 ok IXYZ b")   // slow path, tr locale
      assert(variants.exists(_.toSet.subsetOf(asciiDoc)),
        s"no variant gates the ASCII doc: $variants vs $asciiDoc")
      assert(variants.exists(_.toSet.subsetOf(mixedDoc)),
        s"no variant gates the non-ASCII doc under tr: $variants vs $mixedDoc")
      // and on this JVM's normal locale the variants collapse to one
    } finally java.util.Locale.setDefault(saved)
    // the one cross-boundary hole the closed set cannot cover refuses
    // loudly: tr/az After_I deletes a combining dot above following
    // 'I', so a needle LEADING with U+0307 would probe postings a
    // tr-executor doc never wrote — it belongs on the scan route
    assertThrows[IllegalArgumentException](
      graft.ops.VectorSearch.needleTrigramVariants("\u0307abc"))
    assert(VS.needleTrigramVariants("zzbb").length === 1,
      "ASCII needle under a neutral locale must have ONE variant")
  }

  test("needle trigram enumeration matches the index-side expression: code points, Spark's own lowering") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.{VectorSearch => VS}
    // a supplementary-plane char (U+1D11E, two UTF-16 units) must count
    // as ONE symbol on both sides: UTF-16 sliding(3) would emit
    // half-surrogate pseudo-trigrams absent from the postings and the
    // indexed route would silently return empty where the scan matches
    val s = "a𝄞bc"
    val indexSide = VS.trigramPostingsFrame(Seq((1L, s)).toDF("doc_id", "text"))
      .select("tg").as[String].collect().toSet
    assert(VS.needleTrigrams(s).toSet === indexSide,
      "needle-side trigrams must equal the index job's enumeration " +
        s"of the same string: ${VS.needleTrigrams(s)} vs $indexSide")
    // length-changing lowercase (İ → i + combining dot): the needle
    // enumeration must see the LOWERED form's trigrams, like the index
    assert(VS.needleTrigrams("xİ zzbb").contains("zbb"))
    // Unicode Final_Sigma is CONTEXT-SENSITIVE: "ΡΟΣ" lowers to final-ς
    // as a needle but to medial-σ inside "ΠΕΤΡΟΣΑ" — both sides sigma-
    // fold after lowering, or the gate loses its superset property and
    // the indexed route silently drops docs the scan matches
    val greekDoc = VS.trigramPostingsFrame(
      Seq((2L, "ΠΕΤΡΟΣΑ")).toDF("doc_id", "text"))
      .select("tg").as[String].collect().toSet
    assert(VS.needleTrigrams("ΡΟΣ").toSet.subsetOf(greekDoc),
      s"final-sigma needle must probe the medial-sigma postings: " +
        s"${VS.needleTrigrams("ΡΟΣ")} vs $greekDoc")
    // and the reverse: a word-FINAL sigma in the doc still matches a
    // needle lowered with a medial sigma context
    val greekDoc2 = VS.trigramPostingsFrame(
      Seq((3L, "Ο ΠΕΤΡΟΣ ΗΡΘΕ")).toDF("doc_id", "text"))
      .select("tg").as[String].collect().toSet
    assert(VS.needleTrigrams("ΕΤΡΟΣ").toSet.subsetOf(greekDoc2))
    // sub-trigram needles refuse loudly (no posting list could gate them)
    assertThrows[IllegalArgumentException](VS.needleTrigrams("ab"))
  }

  test("knn_l2_topk: squared-euclidean ordering inverts cosine on the unit-normalized store") {
    val l2 = SparkEntry.queries("knn_l2_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    // set overlap, not sequence equality: both metrics round to 6 dp in
    // DIFFERENT spaces (l2 spread = 2x cosine spread + ~1e-7 float-norm
    // noise), so a near-tie landing on a rounding boundary can legally
    // flip adjacent ranks or the k-boundary on regenerated data; a
    // wrong 3-dot expansion scrambles the set wholesale
    assert(l2.toSet.intersect(exactTop(10).toSet).size >= 9,
      s"l2 top-10 diverged from cosine beyond a rounding boundary: $l2")
  }

  test("lsh buckets are deterministic and cover all vectors") {
    // the raw projection (the driver row is now its violation gate)
    val a = ops.AnnIndex.lshBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val b = ops.AnnIndex.lshBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(a.sameElements(b), "bucket assignment must be deterministic")
    assert(a.length === Tables.embeddings(spark, sf).count())
    assert(a.forall(_._2 >= 0))
  }

  test("lsh probe set: radius 0 = self, radius grows monotonically") {
    val lsh = AnnIndex.defaultLsh
    val sig = 0x15
    assert(lsh.probes(sig, 0) === Seq(sig))
    val r1 = lsh.probes(sig, 1)
    assert(r1.length === 1 + lsh.nBits)
    assert(lsh.probes(sig, 2).toSet.subsetOf(lsh.probes(sig, 3).toSet) ||
      lsh.probes(sig, 2).toSet == lsh.probes(sig, 3).toSet)
  }

  test("ann_lsh_topk: query vector itself is always found (same bucket) and scores are exact") {
    val pruned = SparkEntry.queries("ann_lsh_topk")(spark, sf).collect()
    assert(pruned.nonEmpty)
    assert(pruned.head.getAs[Long]("vec_id") === 0L, "self shares its own bucket")
    // re-scored candidates carry the same rounded score as the exact path
    val exact = SparkEntry.queries("knn_exact_topk")(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score")).toMap
    pruned.filter(r => exact.contains(r.getAs[Long]("vec_id"))).foreach { r =>
      assert(r.getAs[Double]("score") === exact(r.getAs[Long]("vec_id")))
    }
  }

  test("graph hop curve: monotone, gate empty, chooseHops minimal on the measured curve") {
    val curve = AnnIndex.annGraphHopCurveOf(spark, sf)
    val rows = curve.collect()
      .map(r => (r.getAs[Long]("hops"), r.getAs[Long]("recall_ppm"),
        r.getAs[Long]("total_candidates")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 >= a._2, s"recall fell from $a to $b")
        assert(b._3 >= a._3, s"candidate count fell from $a to $b")
      case _ =>
    }
    assert(SparkEntry.queries("ann_graph_tuning_gate")(spark, sf).count() === 0)
    // chooseHops = minimal target-meeting hop budget on this very curve
    val target = rows(1)._2 // hop-2's measured recall as the target
    val chosen = AnnIndex.chooseHops(curve, target)
    assert(chosen.toLong === rows.find(_._2 >= target).get._1,
      s"chooseHops($target) = $chosen is not minimal")
  }

  test("ann_graph_upsert_topk: replacement re-inserted, stale version structurally gone") {
    val out = SparkEntry.queries("ann_graph_upsert_topk")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 100001L, 100002L, 100003L, 100004L),
      s"got ${out.map(_.getLong(0)).toSeq}")
    assert(out.forall(_.getDouble(1) === 1.0))
    // the stale version must be gone from the stored bytes, and the
    // re-inserted id must be a live (re-embedded) graph member
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswupsert_" + Integer.toHexString(sf.hashCode)).getAbsolutePath
    val merged = graft.vector.GraphAnn.readNswAdjacency(spark, path)
    assert(merged.filter(col("node_id") === 100000L).count() === 1,
      "re-inserted id must have exactly one live adjacency row")
    assert(!new java.io.File(path + "_tombstones").exists(),
      "the upsert's fold must truncate the tombstone sidecar")
  }

  test("ann_hnsw_upsert_topk: ladder fold clears every rung before the same id returns") {
    val out = SparkEntry.queries("ann_hnsw_upsert_topk")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 100001L, 100002L, 100003L, 100004L),
      s"got ${out.map(_.getLong(0)).toSeq}")
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hnswupsert_" + Integer.toHexString(sf.hashCode)).getAbsolutePath
    // the re-inserted id must be live on layer 0 and on exactly the rungs
    // its hash selects — membership survives the delete/re-add cycle
    assert(graft.vector.GraphAnn.readNswAdjacency(spark, path)
      .filter(col("node_id") === 100000L).count() === 1)
    for (l <- 1 to 2 if new java.io.File(path + "_l" + l).exists()) {
      // xxhash64(100000) mod 8^l decides membership; the cycle must never
      // leave duplicate rows on a rung
      val inRung = graft.vector.GraphAnn.readNswAdjacency(spark, path + "_l" + l)
        .filter(col("node_id") === 100000L).count()
      assert(inRung <= 1, s"duplicate adjacency rows for 100000 on rung $l")
    }
    assert(!new java.io.File(path + "_tombstones").exists())
  }

  test("ivf-pq lifecycle rows: delete/upsert + folds serve the planted oracles, sidecars survive") {
    for (row <- Seq("ann_ivf_pq_delete_topk", "ann_ivf_pq_compacted_delete_topk"))
      assert(SparkEntry.queries(row)(spark, sf).collect().map(_.getLong(0)).toSeq
        === Seq(0L, 100005L, 100006L, 100007L, 100008L), s"$row row set")
    for (row <- Seq("ann_ivf_pq_upsert_topk", "ann_ivf_pq_compacted_upsert_topk"))
      assert(SparkEntry.queries(row)(spark, sf).collect().map(_.getLong(0)).toSeq
        === Seq(0L, 100001L, 100002L, 100003L, 100004L), s"$row row set")
    // the folded index kept both trained sidecars and its stored codes
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfpqcdel_" + Integer.toHexString(sf.hashCode)).getAbsolutePath
    assert(new java.io.File(path, "_graft_ivf_centroids.txt").exists())
    assert(new java.io.File(path, "_graft_pq_codebooks.txt").exists())
    val folded = spark.read.parquet(path)
    assert(folded.columns.contains("pq_codes"), "codes must survive the fold")
    assert(folded.filter(col("vec_id") >= 100000L && col("vec_id") < 100005L)
      .count() === 0, "deleted ids must be gone from the folded bytes")
  }

  test("ann_graph_filtered_topk: predicate filters emission only, walk routes through") {
    val out = SparkEntry.queries("ann_graph_filtered_topk")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq
      === Seq(100000L, 100002L, 100004L, 100006L, 100008L),
      s"got ${out.map(_.getLong(0)).toSeq}")
    assert(out.forall(_.getDouble(1) === 1.0))
  }

  test("ann_graph_batch_topk: all five families drain through the shared-job walk") {
    val out = SparkEntry.queries("ann_graph_batch_topk")(spark, sf).collect()
    assert(out.length === 50, s"expected 50 rows, got ${out.length}")
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rows) =>
      val expected = (Seq(q) ++ (0 until 9).map(j => 100000L + q * 100 + j)).sorted
      assert(rows.map(_.getLong(1)).sorted.toSeq === expected,
        s"family $q: ${rows.map(_.getLong(1)).sorted.toSeq}")
      assert(rows.forall(_.getDouble(2) === 1.0))
    }
  }

  test("graph compaction: merged view invariant, deltas truncated, removal markers resolve") {
    import graft.vector.GraphAnn
    val path = java.nio.file.Files
      .createTempDirectory("nsw_compact").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = e.filter(col("vec_id") < 40)
    val extra = e.filter(col("vec_id") >= 40 && col("vec_id") < 50)
    GraphAnn.buildNswGraph(base, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    GraphAnn.appendToNswGraph(spark, extra, "embedding", "vec_id",
      AnnIndex.defaultLsh, 8, path, base)
    def view() = GraphAnn.readNswAdjacency(spark, path).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val before = view()
    GraphAnn.compactNswGraph(spark, path)
    assert(!new java.io.File(path + "_delta").exists(), "deltas must truncate")
    assert(view() === before, "compaction may never change the merged view")
    // removal markers resolve: a folded delete must leave the compacted
    // base's BYTES, not just the merged view
    GraphAnn.deleteFromNswGraph(spark, Seq(45L), path)
    GraphAnn.foldNswTombstones(spark, path,
      base.unionByName(extra), "embedding", "vec_id", 8)
    GraphAnn.compactNswGraph(spark, path)
    assert(spark.read.parquet(path).filter(col("node_id") === 45L).count() === 0,
      "a removal-marked node must be gone from the compacted base files")
    assert(view().size === before.size - 1)
  }

  test("ann_sharded_topk: both shards contribute and the gather is the exact top-10") {
    val out = SparkEntry.queries("ann_sharded_topk")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq ===
      (Seq(0L) ++ (100000L to 100008L)), s"got ${out.map(_.getLong(0)).toSeq}")
    // the planted family must genuinely straddle the shard split — a
    // one-shard fixture would not test the gather
    val parities = (Seq(0L) ++ (100000L to 100008L))
      .map(id => Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          id, org.apache.spark.sql.types.LongType, 42L), 2L)).toSet
    assert(parities === Set(0L, 1L), "planted ids all hashed to one shard")
  }

  test("ann_time_travel_topk: version 1 is isolated from the appended files") {
    val out = SparkEntry.queries("ann_time_travel_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val v1 = out.filter(_._1 == 1L).map(_._2).toSeq
    val v2 = out.filter(_._1 == 2L).map(_._2).toSeq
    assert(v1 === (Seq(0L) ++ (100000L to 100004L)), s"v1: $v1")
    assert(v2 === (Seq(0L) ++ (100000L to 100008L)), s"v2: $v2")
    // the appended ids share version-1 rows' BUCKET DIRECTORIES — only
    // the manifest separates them, so this is genuine version isolation
    assert(!v1.exists(_ >= 100005L), "v1 leaked appended rows")
  }

  // Golden rows of the Spark-job walks the resident kernel replaced
  // (the former per-hop-job nswBatchSearch / hnswBatchSearch / nswSearch /
  // hnswSearch), captured on the parity specs' fixtures below; for the
  // time-travel fixtures the graph is built by the current append. Every
  // walk entry point must keep reproducing them row for row.
  private val goldenNswBatch = Seq(
    (0L, 0L, 1.0), (0L, 12L, 0.311027), (0L, 17L, 0.334456), (0L, 73L, 0.297238),
    (0L, 212L, 0.281399), (0L, 225L, 0.315127), (0L, 260L, 0.298669), (0L, 347L, 0.274508),
    (0L, 402L, 0.2745), (0L, 483L, 0.300451), (1L, 1L, 1.0), (1L, 75L, 0.289978),
    (1L, 129L, 0.35148), (1L, 209L, 0.381544), (1L, 247L, 0.261462), (1L, 257L, 0.391762),
    (1L, 376L, 0.304811), (1L, 440L, 0.299303), (1L, 455L, 0.282431), (1L, 479L, 0.268921),
    (2L, 2L, 1.0), (2L, 62L, 0.289997), (2L, 91L, 0.278916), (2L, 132L, 0.246669),
    (2L, 183L, 0.250606), (2L, 185L, 0.282941), (2L, 234L, 0.277688), (2L, 246L, 0.289771),
    (2L, 309L, 0.252344), (2L, 441L, 0.253966))
  private val goldenNswServed = Seq(
    (0L, 0L, 1.0), (0L, 12L, 0.311027), (0L, 17L, 0.334456), (0L, 73L, 0.297238),
    (0L, 212L, 0.281399), (0L, 225L, 0.315127), (0L, 260L, 0.298669), (0L, 347L, 0.274508),
    (0L, 402L, 0.2745), (0L, 483L, 0.300451), (1L, 75L, 0.289978), (1L, 129L, 0.35148),
    (1L, 209L, 0.381544), (1L, 247L, 0.261462), (1L, 257L, 0.391762), (1L, 260L, 0.255336),
    (1L, 376L, 0.304811), (1L, 440L, 0.299303), (1L, 455L, 0.282431), (1L, 479L, 0.268921),
    (2L, 2L, 1.0), (2L, 62L, 0.289997), (2L, 91L, 0.278916), (2L, 132L, 0.246669),
    (2L, 183L, 0.250606), (2L, 185L, 0.282941), (2L, 234L, 0.277688), (2L, 246L, 0.289771),
    (2L, 309L, 0.252344), (2L, 441L, 0.253966))
  private val goldenHnswBatch = Seq(
    (0L, 0L, 1.0), (0L, 12L, 0.311027), (0L, 17L, 0.334456), (0L, 73L, 0.297238),
    (0L, 212L, 0.281399), (0L, 225L, 0.315127), (0L, 260L, 0.298669), (0L, 347L, 0.274508),
    (0L, 402L, 0.2745), (0L, 483L, 0.300451), (1L, 1L, 1.0), (1L, 75L, 0.289978),
    (1L, 129L, 0.35148), (1L, 209L, 0.381544), (1L, 247L, 0.261462), (1L, 257L, 0.391762),
    (1L, 376L, 0.304811), (1L, 440L, 0.299303), (1L, 455L, 0.282431), (1L, 479L, 0.268921),
    (2L, 2L, 1.0), (2L, 62L, 0.289997), (2L, 91L, 0.278916), (2L, 132L, 0.246669),
    (2L, 183L, 0.250606), (2L, 234L, 0.277688), (2L, 246L, 0.289771), (2L, 309L, 0.252344),
    (2L, 441L, 0.253966), (2L, 488L, 0.238607))
  // (id, score) of the vec-0 query, keyed by asOfSeq — the same rows on
  // the flat and the ladder fixture (the descent does not change them)
  private val goldenTimeTravel = Map(
    0L -> Seq(
      (0L, 1.0), (17L, 0.334456), (12L, 0.311027), (73L, 0.297238), (82L, 0.2494),
      (59L, 0.248708), (71L, 0.245227), (104L, 0.217828), (3L, 0.205923), (155L, 0.204476)),
    Long.MaxValue -> Seq(
      (0L, 1.0), (17L, 0.334456), (225L, 0.315127), (12L, 0.311027), (73L, 0.297238),
      (212L, 0.281399), (232L, 0.267338), (82L, 0.2494), (59L, 0.248708), (71L, 0.245227)))

  test("batch walk parity: shared-job batch equals per-query walks on the raw corpus") {
    import graft.vector.GraphAnn
    val path = java.nio.file.Files
      .createTempDirectory("nsw_batch_parity").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    GraphAnn.buildNswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    val queries = e.filter(col("vec_id") < 3L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val batchRows = GraphAnn.nswBatchSearch(spark, path, e,
        "embedding", "vec_id", queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(batchRows === goldenNswBatch,
      s"batch walk drifted from the golden rows:\n$batchRows")
    val batch = batchRows.groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    queries.foreach { case (qid, qv) =>
      val single = GraphAnn.nswSearch(spark, path, e,
          "embedding", "vec_id", qv, k = 10)
        .collect().map(_.getLong(0)).toSet
      assert(batch(qid) === single,
        s"query $qid: batch ${batch(qid)} != single $single")
    }
  }

  test("ann_auto_route: scans win small corpora, graph wins at scale, route deterministic") {
    // small corpus: pruned scans undercut the walk's fixed per-job cost
    val (small, smallCosts) = AnnIndex.routeAnnFamily(60000L, 0.34, 0.25)
    assert(small === "ivf", s"costs: $smallCosts")
    // a tight LSH probe set undercuts the quantized scan
    assert(AnnIndex.routeAnnFamily(60000L, 0.05, 0.5)._1 === "lsh")
    // at 100M rows every scan family dwarfs the walk's fixed cost
    val (big, bigCosts) = AnnIndex.routeAnnFamily(100000000L, 0.34, 0.25)
    assert(big === "graph", s"costs: $bigCosts")
    // equal costs break lexicographically — the route is deterministic
    assert(AnnIndex.routeAnnFamily(0L, 0.0, 0.0,
      walkJobs = 0, walkRowsTouched = 0L)._1 === "graph")
    // RECALL FLOOR: a family whose measured curve misses the target is
    // not routable even when it is the cheapest
    assert(AnnIndex.routeAnnFamily(100000000L, 0.34, 0.25,
      eligible = Set("ivf", "lsh"))._1 === "ivf")
    // MEASURED-CONSTANT FLIP: at 1M rows the route follows the profiled
    // scheduling constant — a cluster where jobs cost 50k row-equivalents
    // routes to the quantized scan, one where they cost 5k to the walk
    assert(AnnIndex.routeAnnFamily(1000000L, 0.34, 0.25,
      jobCostRows = 50000L)._1 === "ivf")
    assert(AnnIndex.routeAnnFamily(1000000L, 0.34, 0.25,
      jobCostRows = 5000L)._1 === "graph")
    // the measured inputs themselves: curve-derived, clamped, non-empty
    val n = Tables.embeddings(spark, sf).count()
    val ri = AnnIndex.measuredRouteInputs(spark, sf, n)
    assert(ri.walkRowsTouched > 0L && ri.walkJobs >= 5)
    assert(ri.jobCostRows >= 1000L && ri.jobCostRows <= 50000000L)
    assert(ri.codesBandwidth > 0.25 && ri.codesBandwidth < 0.45)
    assert(ri.eligible.nonEmpty, "no family met the routing recall floor")
    // and the routed driver row still matches the planted oracle
    val out = SparkEntry.queries("ann_auto_route_topk")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (Seq(0L) ++ (100000L to 100008L)))
  }

  test("batch routing amortizes the job constant: a frame flips scan-shaped singles to the graph walk") {
    // Single-query shape at 10M rows, tight probes, expensive scheduler:
    // the pruned quantized scan (10M × 0.125 × 0.35 = 437k row-eq)
    // undercuts the walk's fixed per-job cost (4.2k + 11 × 50k = 554k).
    assert(AnnIndex.routeAnnFamily(10000000L, 0.4, 0.125,
      jobCostRows = 50000L)._1 === "ivf")
    // The SAME corpus routed as a 16-query frame (the batch shape the
    // driver row feeds routeAnnFamily: walkJobs stays FIXED — one walk
    // job set carries the whole frame — rows-touched scales with |q|,
    // and the scan families' probe fractions grow toward the union,
    // saturating at a full scan): the scans now pay 16 queries' probes
    // (3.5M row-eq at the saturated union) while the walk's job constant
    // is amortized (67k + 550k = 617k) — the frame routes to the graph.
    val q = 16
    assert(AnnIndex.routeAnnFamily(10000000L,
      lshProbeFrac = math.min(1.0, 0.4 * 2), // union grows sublinearly
      ivfProbeFrac = math.min(1.0, 0.125 * q),
      walkRowsTouched = 4200L * q,
      jobCostRows = 50000L)._1 === "graph")
  }

  test("served walk parity: resident-view serving equals the distributed batch walk row-for-row") {
    import graft.vector.GraphAnn
    val path = java.nio.file.Files
      .createTempDirectory("nsw_served_parity").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    GraphAnn.buildNswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    // a tombstone exercises served-side emission filtering too
    GraphAnn.deleteFromNswGraph(spark, Seq(1L), path)
    val queries = e.filter(col("vec_id") < 3L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val served = rows(GraphAnn.nswServedSearch(spark, path, e,
      "embedding", "vec_id", queries, k = 10))
    assert(served === goldenNswServed,
      s"served walk drifted from the golden rows:\n$served")
    assert(rows(GraphAnn.nswBatchSearch(spark, path, e,
      "embedding", "vec_id", queries, k = 10)) === served)
    assert(!served.exists(_._2 == 1L), "served a tombstoned id")
  }

  test("hnsw served parity: resident ladder serving equals the distributed batch descent") {
    import graft.vector.GraphAnn
    val path = java.nio.file.Files
      .createTempDirectory("hnsw_served_parity").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    GraphAnn.buildHnswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    val queries = e.filter(col("vec_id") < 3L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val served = rows(GraphAnn.hnswServedSearch(spark, path, e,
      "embedding", "vec_id", queries, k = 10))
    assert(served === goldenHnswBatch,
      s"hnsw served walk drifted from the golden rows:\n$served")
    assert(rows(GraphAnn.hnswBatchSearch(spark, path, e,
      "embedding", "vec_id", queries, k = 10)) === served)
  }

  test("resident pin amortization: same-version serves build the pin once; a mutation re-pins") {
    import graft.vector.GraphAnn
    val path = Files.createTempDirectory("nsw_pin").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    GraphAnn.buildNswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    val queries = e.filter(col("vec_id") < 2L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    GraphAnn.dropPins()
    val b0 = GraphAnn.pinBuilds
    def serve() = GraphAnn.nswServedSearch(spark, path, e,
        "embedding", "vec_id", queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val first = serve()
    assert(GraphAnn.pinBuilds - b0 === 1, "first serve must build the pin")
    val second = serve()
    assert(GraphAnn.pinBuilds - b0 === 1,
      "a same-version serve must REUSE the cached pin, not rebuild it")
    assert(second === first)
    // a structural mutation (delete lands a tombstone sidecar) moves the
    // FS stamp: the next serve must re-pin and see the deletion
    GraphAnn.deleteFromNswGraph(spark, Seq(first.head._2), path)
    val (third, deleteJobs) = jobsRunBy("post-delete-serve")(serve())
    assert(GraphAnn.pinBuilds - b0 === 2,
      "an index mutation must invalidate the pin")
    // the re-pin scans the adjacency and the tombstone sidecar, one job
    // each: the sidecar is deduped on the driver, with no exchange
    assert(deleteJobs === 2, s"the post-delete serve ran $deleteJobs Spark jobs")
    assert(!third.exists(_._2 == first.head._2), "stale pin served a deleted id")
  }

  test("hnsw served time travel parity: asOfSeq-pinned serve equals the distributed versioned walk") {
    import graft.vector.GraphAnn
    val path = Files.createTempDirectory("hnsw_tt_served").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val v1 = e.filter(col("vec_id") < 200L)
    GraphAnn.buildHnswGraph(v1, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    GraphAnn.appendToHnswGraph(spark, e.filter(col("vec_id").between(200L, 249L)),
      "embedding", "vec_id", AnnIndex.defaultLsh, 8, path, v1)
    val qv = e.filter(col("vec_id") === 0L).collect()
      .head.getSeq[Float](1).toArray
    for (asOf <- Seq(0L, Long.MaxValue)) {
      val served = GraphAnn.hnswServedSearch(spark, path, e,
          "embedding", "vec_id", Seq(0L -> qv), k = 10, asOfSeq = asOf)
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (id, s) => (-s, id) }.toSeq
      val walked = GraphAnn.hnswSearch(spark, path, e,
          "embedding", "vec_id", qv, k = 10, asOfSeq = asOf)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, s) => (-s, id) }.toSeq
      assert(walked === goldenTimeTravel(asOf),
        s"asOf=$asOf walk drifted from the golden rows:\n$walked")
      assert(served === walked,
        s"asOf=$asOf served/single divergence:\n$served\nvs\n$walked")
      if (asOf == 0L)
        assert(!served.exists(_._1 >= 200L), "as-of-0 serve leaked appended ids")
    }
  }

  test("nsw served time travel parity: asOfSeq-pinned serve equals the distributed versioned walk") {
    import graft.vector.GraphAnn
    val path = Files.createTempDirectory("nsw_tt_served").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val v1 = e.filter(col("vec_id") < 200L)
    GraphAnn.buildNswGraph(v1, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    GraphAnn.appendToNswGraph(spark, e.filter(col("vec_id").between(200L, 249L)),
      "embedding", "vec_id", AnnIndex.defaultLsh, 8, path, v1)
    val qv = e.filter(col("vec_id") === 0L).collect()
      .head.getSeq[Float](1).toArray
    for (asOf <- Seq(0L, Long.MaxValue)) {
      val served = GraphAnn.nswServedSearch(spark, path, e,
          "embedding", "vec_id", Seq(0L -> qv), k = 10, asOfSeq = asOf)
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (id, s) => (-s, id) }.toSeq
      val walked = GraphAnn.nswSearch(spark, path, e,
          "embedding", "vec_id", qv, k = 10, asOfSeq = asOf)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, s) => (-s, id) }.toSeq
      assert(walked === goldenTimeTravel(asOf),
        s"asOf=$asOf walk drifted from the golden rows:\n$walked")
      assert(served === walked,
        s"asOf=$asOf served/single divergence:\n$served\nvs\n$walked")
      if (asOf == 0L)
        assert(!served.exists(_._1 >= 200L), "as-of-0 serve leaked appended ids")
    }
  }

  test("ann_graph_time_travel_topk: seq-pinned walks isolate delta generations") {
    val out = SparkEntry.queries("ann_graph_time_travel_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.filter(_._1 == 1L).map(_._2).toSeq ===
      (Seq(0L) ++ (100000L to 100004L)))
    assert(out.filter(_._1 == 2L).map(_._2).toSeq ===
      (Seq(0L) ++ (100000L to 100008L)))
    // the seq-2 leaf also rewrites seq-1 nodes' reverse edges — the
    // as-of-1 view must resolve those nodes to their seq<=1 versions,
    // never surface a seq-2 neighbor id
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_nswtt_" + Integer.toHexString(sf.hashCode)).getAbsolutePath
    val v1 = graft.vector.GraphAnn.readNswAdjacencyAsOf(spark, path, 1L)
    assert(v1.filter(col("node_id") >= 100005L).count() === 0,
      "as-of-1 view leaked seq-2 nodes")
    assert(v1.select(explode(col("neighbors")).as("n"))
      .filter(col("n") >= 100005L).count() === 0,
      "as-of-1 view leaked edges to seq-2 nodes")
  }

  test("ann_recall_gate: mean pruned recall clears both floors (empty violations)") {
    val out = SparkEntry.queries("ann_recall_gate")(spark, sf).collect()
    assert(out.isEmpty,
      s"recall floor violated: ${out.map(_.toString).mkString(", ")}")
  }

  test("raw-corpus IVF pruned top-10 achieves reasonable recall vs exact") {
    val ivf = AnnIndex.annIvfTopkReal(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = exactTop(10).count(ivf.contains).toDouble / 10
    // random unit vectors are LSH/IVF's adversarial case; clustered real
    // embeddings do far better. 6/16 clusters probed.
    assert(recall >= 0.3, s"IVF recall $recall too low")
    assert(ivf.contains(0L), "self must be found")
  }

  test("ivf deploy reads the measured curve: nProbe is the minimal target-meeting setting") {
    val curve = AnnIndex.cachedIvfCurve(spark, sf).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("recall_ppm")))
      .sortBy(_._1)
    val deployed = AnnIndex.tunedNProbe(spark, sf)
    val minimal = curve.find(_._2 >= AnnIndex.IvfTargetPpm).map(_._1.toInt)
      .getOrElse(curve.last._1.toInt)
    assert(deployed === minimal,
      s"deployed nProbe $deployed != minimal target-meeting $minimal")
    // every cheaper setting genuinely misses the target (the choice is
    // tight, not accidental), unless the target was unreachable
    if (curve.exists(_._2 >= AnnIndex.IvfTargetPpm))
      curve.filter(_._1 < deployed).foreach { case (np, ppm) =>
        assert(ppm < AnnIndex.IvfTargetPpm,
          s"nProbe $np already met the target at $ppm ppm")
      }
    // and the deploy decision is a pure function of the cached curve
    assert(AnnIndex.tunedNProbe(spark, sf) === deployed)
  }

  test("lsh deploy reads the measured curve: radius is the minimal target-meeting setting") {
    val curve = AnnIndex.cachedLshCurve(spark, sf).collect()
      .map(r => (r.getAs[Long]("radius"), r.getAs[Long]("recall_ppm")))
      .sortBy(_._1)
    val deployed = AnnIndex.tunedRadius(spark, sf)
    val minimal = curve.find(_._2 >= AnnIndex.LshTargetPpm).map(_._1.toInt)
      .getOrElse(curve.last._1.toInt)
    assert(deployed === minimal,
      s"deployed radius $deployed != minimal target-meeting $minimal")
    // every cheaper setting genuinely misses the target (the choice is
    // tight, not accidental), unless the target was unreachable
    if (curve.exists(_._2 >= AnnIndex.LshTargetPpm))
      curve.filter(_._1 < deployed).foreach { case (r, ppm) =>
        assert(ppm < AnnIndex.LshTargetPpm,
          s"radius $r already met the target at $ppm ppm")
      }
    // and the deploy decision is a pure function of the cached curve
    assert(AnnIndex.tunedRadius(spark, sf) === deployed)
  }

  test("ivf delete/upsert lifecycle rows: tombstone, cluster fold, and watermark semantics") {
    Seq("ann_ivf_delete_topk", "ann_ivf_compacted_delete_topk").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      val ids = rows.map(_.getAs[Long]("vec_id")).sorted.toSeq
      assert(ids === (0L +: (100005L to 100008L)), s"$q ids: ${ids.mkString(",")}")
      assert(rows.forall(_.getAs[Double]("score") === 1.0), s"$q scores")
    }
    Seq("ann_ivf_upsert_topk", "ann_ivf_compacted_upsert_topk").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      val ids = rows.map(_.getAs[Long]("vec_id")).sorted.toSeq
      assert(ids === (0L +: (100001L to 100004L)), s"$q ids: ${ids.mkString(",")}")
      assert(rows.forall(_.getAs[Double]("score") === 1.0), s"$q scores")
    }
    // the fold's crash-safe ordering truncated the sidecar (empty, schema
    // kept) and left the centroid sidecar readable on the folded index
    val cdel = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivfcdel_" + Integer.toHexString(sf.hashCode)).getAbsolutePath
    assert(spark.read.parquet(cdel + "_tombstones").count() === 0L,
      "fold must truncate the tombstone sidecar")
    assert(IndexBuilder.loadIvfCentroids(cdel).length === 16,
      "fold must leave the centroid sidecar intact")
  }

  test("raw-corpus LSH pruned top-10 finds self and respects score parity") {
    val pruned = AnnIndex.annLshTopkReal(spark, sf).collect()
    assert(pruned.head.getAs[Long]("vec_id") === 0L)
    assert(pruned.head.getAs[Double]("score") === 1.0)
  }

  test("self-query driver rows: pruned top-10 is exactly self + planted copies") {
    Seq("ann_lsh_topk", "ann_ivf_topk", "ann_ivf_sq8_topk").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score"))
      val ids = rows.map(_._1).sorted.toSeq
      assert(ids === (0L +: (100000L to 100008L)), s"$q ids: ${ids.mkString(",")}")
      assert(rows.forall(_._2 === 1.0), s"$q scores: ${rows.mkString(",")}")
    }
  }

  test("ann_lsh_batch_topk: each query's batch answer is self + its planted copies") {
    val rows = SparkEntry.queries("ann_lsh_batch_topk")(spark, sf).collect()
    assert(rows.length === 50)
    (0L to 4L).foreach { q =>
      val ids = rows.filter(_.getAs[Long]("qid") == q)
        .map(_.getAs[Long]("vec_id")).sorted.toSeq
      assert(ids === (q +: (0L to 8L).map(j => 100000L + q * 100 + j)),
        s"qid $q ids: ${ids.mkString(",")}")
    }
    assert(rows.forall(_.getAs[Double]("score") === 1.0))
  }

  test("ann_lsh_batch_topk plan: dynamic partition pruning + partial grouped top-k") {
    val plan = SparkEntry.queries("ann_lsh_batch_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    // the bucket equi-join must drive DYNAMIC partition pruning on the
    // index scan — only the union of probed bucket directories is read
    assert(plan.contains("dynamicpruningexpression"),
      s"batch join did not trigger dynamic partition pruning:\n$plan")
    // the per-query reduction must be the bounded aggregate with a
    // map-side partial (shuffle O(queries·k), never O(candidates))
    assert(plan.contains("partial_group_topk"),
      s"expected partial group_topk before the exchange:\n$plan")
  }

  test("batch LSH retrieval matches the single-query pruned path on real data") {
    val dir = Files.createTempDirectory("lsh_batch").toString
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    IndexBuilder.buildLshIndex(e, "embedding", AnnIndex.defaultLsh, dir)
    val queries = e.filter(col("vec_id") < 3L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = IndexBuilder.lshBatchTopK(spark.read.parquet(dir), queries,
      "qid", "qvec", AnnIndex.defaultLsh, k = 10, radius = 2).collect()
    (0L to 2L).foreach { q =>
      val qv = e.filter(col("vec_id") === q)
        .head.getAs[Seq[Float]]("embedding").toArray
      val single = IndexBuilder.lshTopK(e, "embedding", "vec_id",
        AnnIndex.defaultLsh, qv, k = 10, radius = 2)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
        .toSet
      val got = batch.filter(_.getAs[Long]("qid") == q)
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSet
      assert(got === single, s"qid $q: batch result diverges from single-query path")
    }
  }

  test("ann_ivf_batch_topk: each query's batch answer is self + its planted copies") {
    val rows = SparkEntry.queries("ann_ivf_batch_topk")(spark, sf).collect()
    assert(rows.length === 50)
    (0L to 4L).foreach { q =>
      val ids = rows.filter(_.getAs[Long]("qid") == q)
        .map(_.getAs[Long]("vec_id")).sorted.toSeq
      assert(ids === (q +: (0L to 8L).map(j => 100000L + q * 100 + j)),
        s"qid $q ids: ${ids.mkString(",")}")
    }
    assert(rows.forall(_.getAs[Double]("score") === 1.0))
  }

  test("ann_ivf_batch_topk plan: cluster join prunes index partitions dynamically") {
    val plan = SparkEntry.queries("ann_ivf_batch_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"cluster equi-join did not trigger dynamic partition pruning:\n$plan")
    assert(plan.contains("partial_group_topk"),
      s"expected the bounded partial aggregate before the exchange:\n$plan")
  }

  test("batch IVF probe sets match the driver-side nearestClusters ranking") {
    val dir = Files.createTempDirectory("ivf_batch").toString
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val centers = IndexBuilder.buildIvfIndex(e, "embedding",
      numClusters = 16, seed = 42L, dir)
    val queries = e.filter(col("vec_id") < 3L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = IndexBuilder.ivfBatchTopK(spark.read.parquet(dir), centers,
      queries, "qid", "qvec", k = 10, nProbe = 6).collect()
    (0L to 2L).foreach { q =>
      val qv = e.filter(col("vec_id") === q)
        .head.getAs[Seq[Float]]("embedding").toArray
      val single = IndexBuilder.ivfTopK(e, "embedding", "vec_id", qv,
        k = 10, numClusters = 16, nProbe = 6, seed = 42L)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
        .toSet
      val got = batch.filter(_.getAs[Long]("qid") == q)
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSet
      assert(got === single, s"qid $q: batch IVF diverges from single-query path")
    }
  }

  test("knn_self_join: each family member's top-9 is the other nine members") {
    val rows = SparkEntry.queries("knn_self_join")(spark, sf).collect()
    assert(rows.length === 50 * 9)
    val fam = (0L to 4L).map { q =>
      q -> (q +: (0L to 8L).map(j => 100000L + q * 100 + j)).toSet
    }.toMap
    rows.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val q = if (qid < 5) qid else (qid - 100000L) / 100
      assert(fam(q).contains(r.getAs[Long]("vec_id")) &&
        r.getAs[Long]("vec_id") != qid,
        s"qid $qid got non-family neighbor ${r.getAs[Long]("vec_id")}")
      assert(r.getAs[Double]("score") === 1.0)
    }
  }

  test("knn self-join matches the single-query pruned path on real data") {
    val dir = Files.createTempDirectory("knn_join").toString
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    IndexBuilder.buildLshIndex(e, "embedding", AnnIndex.defaultLsh, dir)
    val joined = IndexBuilder.lshKnnJoin(spark.read.parquet(dir),
      AnnIndex.defaultLsh, k = 9, radius = 2)
      .filter(col("qid") < 3L).collect()
    (0L to 2L).foreach { q =>
      val qv = e.filter(col("vec_id") === q)
        .head.getAs[Seq[Float]]("embedding").toArray
      // same probe set, same ranking discipline: the single-query pruned
      // top-10 minus the self row is exactly the self-join's top-9
      val single = IndexBuilder.lshTopK(e, "embedding", "vec_id",
        AnnIndex.defaultLsh, qv, k = 10, radius = 2)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
        .filter(_._1 != q).take(9).toSet
      val got = joined.filter(_.getAs[Long]("qid") == q)
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSet
      assert(got === single, s"qid $q: self-join diverges from single-query path")
    }
  }

  test("salted knn self-join is bit-identical to the unsalted join, with salting engaged") {
    val dir = Files.createTempDirectory("knn_salt").toString
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    IndexBuilder.buildLshIndex(e, "embedding", AnnIndex.defaultLsh, dir)
    val index = spark.read.parquet(dir)
    val hotCap = 5L // low cap so real buckets actually split at spec scale
    val hotBuckets = index.groupBy(col("bucket")).count()
      .filter(col("count") > hotCap).count()
    assert(hotBuckets > 0, "spec must exercise the salted path")
    val plain = IndexBuilder.lshKnnJoin(index, AnnIndex.defaultLsh,
      k = 9, radius = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = IndexBuilder.lshKnnJoinSalted(index, AnnIndex.defaultLsh,
      k = 9, radius = 1, hotCap = hotCap, nSalts = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted === plain,
      "salting may move rows between reducers, never change what joins")
  }

  test("ann_range_search: unbounded threshold answer is exactly the planted family") {
    val rows = SparkEntry.queries("ann_range_search")(spark, sf).collect()
    assert(rows.length === 10, "only self + nine copies can clear 0.95")
    assert(rows.map(_.getAs[Long]("vec_id")).sorted.toSeq ===
      (0L +: (100000L to 100008L)))
    assert(rows.forall(_.getAs[Double]("score") === 1.0))
  }

  test("lshRangeSearch widens with the threshold and never returns below it") {
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val qv = e.filter(col("vec_id") === 0L)
      .head.getAs[Seq[Float]]("embedding").toArray
    val tight = IndexBuilder.lshRangeSearch(e, "embedding", "vec_id",
      AnnIndex.defaultLsh, qv, minScore = 0.5, radius = 2).collect()
    val loose = IndexBuilder.lshRangeSearch(e, "embedding", "vec_id",
      AnnIndex.defaultLsh, qv, minScore = 0.0, radius = 2).collect()
    assert(tight.forall(_.getAs[Double]("score") >= 0.5))
    assert(loose.length >= tight.length)
    assert(tight.map(_.getAs[Long]("vec_id")).toSet
      .subsetOf(loose.map(_.getAs[Long]("vec_id")).toSet))
  }

  test("ann_tuning_gate: the measured radius curve satisfies its contract") {
    assert(SparkEntry.queries("ann_tuning_gate")(spark, sf).count() === 0)
  }

  test("tuning curve: radius-3 recall beats radius-0, chooseProbeRadius is minimal") {
    val curve = AnnIndex.annTuningCurveOf(spark, sf)
    val rows = curve.collect()
      .map(r => (r.getAs[Long]("radius"), r.getAs[Long]("recall_ppm")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(rows.last._2 > rows.head._2,
      "widening the probe set must improve recall on random unit vectors")
    val target = rows(2)._2 // radius-2's measured recall as the target
    val chosen = AnnIndex.chooseProbeRadius(curve, target)
    assert(rows(chosen)._2 >= target &&
      (chosen == 0 || rows(chosen - 1)._2 < target),
      s"chooseProbeRadius must return the MINIMAL radius meeting $target")
  }

  test("ann_ivf_tuning_gate: the measured nProbe curve satisfies its contract") {
    assert(SparkEntry.queries("ann_ivf_tuning_gate")(spark, sf).count() === 0)
  }

  test("IVF tuning curve: full probe is exact, chooseNProbe is minimal") {
    val curve = AnnIndex.annIvfTuningCurveOf(spark, sf)
    val rows = curve.collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("recall_ppm")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to 16L),
      "one curve point per nProbe in 1..numClusters")
    assert(rows.last._2 === 1000000L,
      "probing every cluster is brute force — recall must be exactly 1e6")
    assert(rows.last._2 >= rows.head._2)
    val target = rows(7)._2 // nProbe-8's measured recall as the target
    val chosen = AnnIndex.chooseNProbe(curve, target)
    val recallOf = rows.toMap
    assert(recallOf(chosen.toLong) >= target &&
      (chosen == 1 || recallOf(chosen.toLong - 1) < target),
      s"chooseNProbe must return the MINIMAL nProbe meeting $target")
  }

  test("IVF memoization distinguishes datasets with identical plan shapes") {
    // regression: the cache key was the UNRESOLVED canonicalized plan, which
    // is path-blind ("UnresolvedDataSource … paths: 1 provided") — a second
    // dataset silently got the first dataset's cached frame + centroids.
    val a = IndexBuilder.withIvfCluster(
      Tables.embeddings(spark, "/root/testdata/sf0.001"), "embedding", 8, seed = 7L)
    val b = IndexBuilder.withIvfCluster(
      Tables.embeddings(spark, "/root/testdata/sf0.1"), "embedding", 8, seed = 7L)
    assert(!a._2.zip(b._2).forall { case (x, y) => x.toSeq == y.toSeq },
      "different corpora must not share fitted centroids")
    assert(a._1.count() !== b._1.count(), "cached frame must match its input dataset")
  }

  test("IVF centroids are stable under input reordering (content-defined sample)") {
    val e = Tables.embeddings(spark, sf)
    val forward = IndexBuilder.fitIvfCentroids(e, "embedding", 8, seed = 7L)
    val shuffled = IndexBuilder.fitIvfCentroids(
      e.orderBy(col("vec_id").desc).repartition(7), "embedding", 8, seed = 7L)
    forward.zip(shuffled).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.toSeq === b.toSeq, s"centroid $i changed when input was reordered")
    }
  }

  test("buildLshIndex writes a bucket-partitioned parquet index (partition pruning path)") {
    val dir = Files.createTempDirectory("lsh_index").toString
    IndexBuilder.buildLshIndex(
      Tables.embeddings(spark, sf), "embedding", AnnIndex.defaultLsh, dir)
    val idx = spark.read.parquet(dir)
    assert(idx.count() === Tables.embeddings(spark, sf).count())
    // bucket is a partition column → filters on it prune files at the source
    val somebucket = idx.select("bucket").head().getInt(0)
    val plan = idx.filter(col("bucket") === somebucket)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("bucket#"),
      s"expected partition pruning in plan")
  }

  test("ann_filtered_topk: predicate applies pre-rank and pushes into the scan") {
    val rows = SparkEntry.queries("ann_filtered_topk")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq ===
      Seq(100000L, 100002L, 100004L, 100006L, 100008L))
    assert(rows.forall(_.getDouble(1) === 1.0))
    // the tier predicate must reach the parquet source (pre-filter, not a
    // post-rank filter): PushedFilters carries the EqualTo on tier, and
    // the probe-bucket IN list lands in PartitionFilters (file pruning)
    val plan = SparkEntry.queries("ann_filtered_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("tier"),
      s"tier filter not pushed to the scan:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket probes not pruned at partition level:\n$plan")
  }

  test("ann_delete_topk: tombstoned vectors stop being served, survivors remain") {
    val rows = SparkEntry.queries("ann_delete_topk")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq ===
      Seq(0L, 100005L, 100006L, 100007L, 100008L))
    assert(rows.forall(_.getDouble(1) === 1.0))
  }

  test("ann_streaming_ingest_topk: replayed batch stages idempotently, no dupes") {
    val rows = SparkEntry.queries("ann_streaming_ingest_topk")(spark, sf).collect()
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids === Seq(0L, 100000L, 100001L, 100002L, 100003L, 100004L,
      100005L, 100006L, 100007L, 100008L))
    // exactly once: each planted copy appears a single time despite the
    // double delivery of batch 1 (append mode would duplicate them here)
    assert(ids.distinct.length === ids.length)
  }

  test("ann_ivf_pq_streaming_ingest_topk: replayed PQ batch stages idempotently") {
    val rows =
      SparkEntry.queries("ann_ivf_pq_streaming_ingest_topk")(spark, sf).collect()
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids === Seq(0L, 100000L, 100001L, 100002L, 100003L, 100004L,
      100005L, 100006L, 100007L, 100008L))
    // exactly once despite batch 1's double delivery: an append-mode
    // regression duplicates the copies through the stored-code ADC path
    assert(ids.distinct.length === ids.length)
    assert(rows.forall(_.getDouble(1) === 1.0))
  }

  test("ann_ivf_sq8_streaming_ingest_topk: replayed SQ8 batch stages idempotently") {
    val rows =
      SparkEntry.queries("ann_ivf_sq8_streaming_ingest_topk")(spark, sf).collect()
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids === Seq(0L, 100000L, 100001L, 100002L, 100003L, 100004L,
      100005L, 100006L, 100007L, 100008L))
    assert(ids.distinct.length === ids.length)
    assert(rows.forall(_.getDouble(1) === 1.0))
  }

  test("ann_upsert_topk: stale version dies, replacement survives under its id") {
    val rows = SparkEntry.queries("ann_upsert_topk")(spark, sf).collect()
    // 100000 was re-embedded away from the query vector: gone from top-5
    assert(rows.map(_.getLong(0)).toSeq ===
      Seq(0L, 100001L, 100002L, 100003L, 100004L))
    assert(rows.forall(_.getDouble(1) === 1.0))
  }

  test("ann_paged_topk: keyset pages are disjoint and cover the tied band") {
    val rows = SparkEntry.queries("ann_paged_topk")(spark, sf).collect()
    val byPage = rows.groupBy(_.getAs[Long]("page"))
    val p1 = byPage(1L).map(_.getLong(0)).toSet
    val p2 = byPage(2L).map(_.getLong(0)).toSet
    assert(p1.size === 5 && p2.size === 5 && (p1 & p2).isEmpty)
    // the tie-safe cursor must NOT skip the rest of the 1.0-scored band
    assert(p2 === Set(100004L, 100005L, 100006L, 100007L, 100008L))
  }

  test("appendToLshIndex merges arrivals into existing bucket dirs without rebuild") {
    val dir = Files.createTempDirectory("lsh_incr").toString
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = e.filter(col("vec_id") < 30)
    val arrivals = e.filter(col("vec_id") >= 30 && col("vec_id") < 60)
    IndexBuilder.buildLshIndex(base, "embedding", AnnIndex.defaultLsh, dir)
    val baseFiles = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    IndexBuilder.appendToLshIndex(arrivals, "embedding", AnnIndex.defaultLsh, dir)
    val idx = spark.read.parquet(dir)
    assert(idx.count() === 60, "append must not clobber the base build")
    val afterFiles = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    assert(afterFiles > baseFiles, "append adds files instead of rewriting")
    // appended rows carry the same deterministic buckets as a fresh build
    val fresh = IndexBuilder.withLshBucket(arrivals, "embedding", AnnIndex.defaultLsh)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    idx.filter(col("vec_id") >= 30).select("vec_id", "bucket").collect()
      .foreach(r => assert(r.getInt(1) === fresh(r.getLong(0)),
        s"vec ${r.getLong(0)}: appended bucket drifted"))
  }

  test("nsw graph: adjacency contract holds and raw-corpus recall clears the floor") {
    import graft.vector.GraphAnn
    val e = Tables.embeddings(spark, sf)
    val path = Files.createTempDirectory("nsw_spec").toString + "/graph"
    GraphAnn.buildNswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path)
    val adj = spark.read.parquet(path)
    // every node has an adjacency row; out-degree ≤ 2M; no self-edges
    assert(adj.count() === e.count())
    assert(adj.select(max(size(col("neighbors")))).head().getInt(0) <= 16)
    assert(adj.filter(array_contains(col("neighbors"), col("node_id"))).count() === 0)
    // deterministic rebuild: identical adjacency both times
    val path2 = Files.createTempDirectory("nsw_spec2").toString + "/graph"
    GraphAnn.buildNswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path2)
    val a1 = adj.orderBy("node_id").collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1)))
    val a2 = spark.read.parquet(path2).orderBy("node_id").collect().map(r =>
      (r.getLong(0), r.getSeq[Long](1)))
    assert(a1 === a2, "graph build is not deterministic")
    // raw-corpus recall floor (measured 10/10 at sf0.001; fixed data +
    // deterministic walk → stable). The floor leaves a wide margin.
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = GraphAnn.nswSearch(spark, path, e, "embedding", "vec_id", qv, k = 10)
      .collect().map(_.getLong(0)).toSet
    val exact = SparkEntry.queries("knn_exact_topk")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert((got & exact).size >= 7,
      s"nsw recall@10 = ${(got & exact).size}, expected >= 7")
    assert(got.contains(0L), "the self-match must be found")
  }

  test("hnsw ladder: layer membership is the id hash, recall never drops below flat NSW") {
    import graft.vector.GraphAnn
    val e = Tables.embeddings(spark, sf)
    val path = Files.createTempDirectory("hnsw_spec").toString + "/graph"
    GraphAnn.buildHnswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path, fanout = 8, maxLevel = 2)
    // each upper layer holds EXACTLY the hash-selected subset (membership
    // is a pure function of the id — build and search must agree on it)
    for (l <- 1 to 2) {
      val want = e.filter(
        pmod(xxhash64(col("vec_id")), lit(math.pow(8.0, l.toDouble).toLong)) === 0L)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val got = spark.read.parquet(path + "_l" + l)
        .select("node_id").collect().map(_.getLong(0)).toSet
      assert(got === want, s"layer $l membership drifted from the id hash")
      assert(got.size < e.count(), s"layer $l did not thin the corpus")
    }
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val exact = SparkEntry.queries("knn_exact_topk")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val flat = GraphAnn.nswSearch(spark, path, e, "embedding", "vec_id", qv, k = 10)
      .collect().map(_.getLong(0)).toSet
    val hier = GraphAnn.hnswSearch(spark, path, e, "embedding", "vec_id", qv, k = 10)
      .collect().map(_.getLong(0)).toSet
    // parity floor: the descended entries are UNIONED with the fixed
    // hash-min entries, so the hierarchical walk can only see more
    assert((hier & exact).size >= (flat & exact).size,
      s"hnsw recall ${(hier & exact).size} < flat nsw ${(flat & exact).size}")
    assert(hier.contains(0L), "the self-match must be found")
    // deterministic: same build + same query → same rows
    val again = GraphAnn.hnswSearch(spark, path, e, "embedding", "vec_id", qv, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(again === hier, "hnsw search is not deterministic")
  }

  /** MD5 of a rung's merged adjacency: one "node:n1,n2,…" line per node
    * (neighbours in stored order), lines sorted. */
  private def adjacencyDigest(path: String): String = {
    val lines = graft.vector.GraphAnn.readNswAdjacency(spark, path).collect()
      .map(r => s"${r.getLong(0)}:${r.getSeq[Long](1).mkString(",")}").sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("hnsw append: ladder membership invariant survives, appended nodes findable") {
    import graft.vector.GraphAnn
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = e.filter(col("vec_id") < 400)
    val arrivals = e.filter(col("vec_id") >= 400)
    val path = Files.createTempDirectory("hnsw_appspec").toString + "/graph"
    val rungs = Seq(path, path + "_l1", path + "_l2")
    GraphAnn.buildHnswGraph(base, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path, fanout = 8, maxLevel = 2)
    // a serve of the base holds the pre-append pin, as in a serving
    // session; the append computes its delta rows from that pin
    val q0 = base.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    GraphAnn.hnswSearch(spark, path, base, "embedding", "vec_id", q0, k = 5)
      .collect()
    val b0 = GraphAnn.pinBuilds
    val (_, appendJobs) = jobsRunBy("hnsw-append") {
      GraphAnn.appendToHnswGraph(spark, arrivals, "embedding", "vec_id",
        AnnIndex.defaultLsh, m = 8, path, base, fanout = 8, maxLevel = 2)
    }
    assert(GraphAnn.pinBuilds === b0, "the append rebuilt the warm pin")
    // the arrivals collect, then one write job per touched rung's delta
    // leaf (its two node_id hash files are split on the driver)
    val touched = rungs.count(p => new java.io.File(p + "_delta").exists)
    assert(touched >= 2, "fixture: arrivals must reach an upper rung")
    assert(appendJobs === 1 + touched,
      s"append ran $appendJobs Spark jobs for $touched touched rungs")
    // each delta leaf holds the two node_id hash partitions a
    // `repartition(2, node_id)` would: part-0000<p> only ids of hash p
    for (r <- rungs; leaf <- Option(new java.io.File(r + "_delta").listFiles).toSeq.flatten;
         f <- leaf.listFiles if f.getName.startsWith("part-")) {
      val p = f.getName.stripPrefix("part-").take(5).toInt
      assert(spark.read.parquet(f.getPath).select(pmod(hash(col("node_id")), lit(2)))
        .distinct().collect().map(_.getInt(0)).forall(_ == p),
        s"delta file $f holds ids of another hash partition")
    }
    // every rung's merged adjacency, neighbour order included
    assert(rungs.map(adjacencyDigest) === Seq(
      "bab350a7665eafd962468159ad1cecb2", "c4d630a118d43f9d42454db9eec32aee",
      "49b4a8164c48c6e46e72a0777bfb2001"),
      "appended adjacency drifted from the golden rows")
    // every layer's merged membership = the hash-selected subset of the
    // FULL corpus — append must keep the same pure level function
    for (l <- 1 to 2) {
      val want = e.filter(
        pmod(xxhash64(col("vec_id")), lit(math.pow(8.0, l.toDouble).toLong)) === 0L)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val got = GraphAnn.readNswAdjacency(spark, path + "_l" + l)
        .select("node_id").collect().map(_.getLong(0)).toSet
      assert(got === want, s"layer $l membership drifted after append")
    }
    assert(GraphAnn.readNswAdjacency(spark, path).count() === e.count())
    // an appended node is findable through the full hierarchical search
    val target = 450L
    val qv = e.filter(col("vec_id") === target)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = GraphAnn.hnswSearch(spark, path, e, "embedding", "vec_id", qv, k = 5)
      .collect().map(_.getLong(0))
    assert(got.head === target,
      s"appended node $target not reachable via hnsw, top-5 = ${got.toSeq}")
  }

  test("hnsw append reuses the serve's pin after a file lands in the served corpus root") {
    import graft.vector.GraphAnn
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val root = Files.createTempDirectory("hnsw_append_pin").toString
    e.filter(col("vec_id") < 400).write.parquet(root + "/store")
    val corpus = spark.read.parquet(root + "/store")
    val path = root + "/graph"
    GraphAnn.buildHnswGraph(corpus, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path, fanout = 8, maxLevel = 2)
    val q0 = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    GraphAnn.hnswSearch(spark, path, corpus, "embedding", "vec_id", q0, k = 5)
      .collect()
    // the arrivals land in the store after the serve listed it, as a
    // re-ingest lands them before the append; the served frame still
    // reads its own listing, so its pin is still the pre-append view
    val arrivals = e.filter(col("vec_id") >= 400)
    arrivals.write.mode("append").parquet(root + "/store")
    val b0 = GraphAnn.pinBuilds
    GraphAnn.appendToHnswGraph(spark, arrivals, "embedding", "vec_id",
      AnnIndex.defaultLsh, m = 8, path, corpus, fanout = 8, maxLevel = 2)
    assert(GraphAnn.pinBuilds === b0, "the append rebuilt the pin its serve holds")
    // a serve through a freshly listed store takes the view the append
    // published and reads only the file the arrivals landed in
    val fresh = spark.read.parquet(root + "/store")
    val (top, serveJobs, serveRecords) = jobsAndRecordsRunBy("post-append-serve") {
      GraphAnn.hnswSearch(spark, path, fresh, "embedding", "vec_id", q0, k = 5)
        .collect()
    }
    assert(GraphAnn.pinBuilds === b0, "the post-append serve rebuilt the pin")
    assert(serveJobs === 1, s"the post-append serve ran $serveJobs Spark jobs")
    assert(serveRecords === arrivals.count(),
      s"the post-append serve read $serveRecords records")
    assert(top.head.getLong(0) === 0L)
  }

  /** Compares two pins map for map: every rung's adjacency (neighbour
    * order included), the entry ids, the tombstone set and the vectors. */
  private def assertSamePin(a: graft.vector.GraphAnn.ResidentPin,
      b: graft.vector.GraphAnn.ResidentPin, what: String): Unit = {
    def adj(m: Map[Long, Array[Long]]) = m.map { case (k, v) => k -> v.toSeq }
    assert(a.graph.rungs.map(r => (r._1, adj(r._2), r._3)) ===
      b.graph.rungs.map(r => (r._1, adj(r._2), r._3)), s"$what: upper rungs differ")
    assert(adj(a.graph.adj0) === adj(b.graph.adj0), s"$what: layer 0 differs")
    assert(a.graph.entryIds === b.graph.entryIds, s"$what: entry ids differ")
    assert(a.graph.dead === b.graph.dead, s"$what: tombstones differ")
    assert(a.vec.map { case (k, v) => k -> v.toSeq } ===
      b.vec.map { case (k, v) => k -> v.toSeq }, s"$what: vectors differ")
  }

  test("published and grown pins equal a full rebuild through appends, deletes and a fold") {
    import graft.vector.GraphAnn
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val root = Files.createTempDirectory("hnsw_pin_parity").toString
    val store = root + "/store"
    e.filter(col("vec_id") < 300).write.parquet(store)
    // a file of the base write (ids < 300): the fallbacks rewrite and
    // then lose it, and the repeated id (320) lives elsewhere
    val part = new java.io.File(store).listFiles
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    val path = root + "/graph"
    val rungs = Seq(path + "_l2", path + "_l1")
    GraphAnn.buildHnswGraph(spark.read.parquet(store), "embedding", "vec_id",
      AnnIndex.defaultLsh, m = 8, path, fanout = 8, maxLevel = 2)
    assert(rungs.forall(p => new java.io.File(p).exists), "fixture: 2 upper rungs")
    def pin(corpus: org.apache.spark.sql.DataFrame) =
      GraphAnn.servingPin(spark, path, corpus, "embedding", "vec_id", rungs)
    // the pin as the cache holds it must equal a rebuild from disk;
    // `builds` is how many full scans the cached pin may take
    def parity(corpus: org.apache.spark.sql.DataFrame, what: String,
        builds: Int = 0): Unit = {
      val b0 = GraphAnn.pinBuilds
      val held = pin(corpus)
      assert(GraphAnn.pinBuilds - b0 === builds, s"$what: pin builds")
      GraphAnn.dropPins()
      assertSamePin(held, pin(corpus), what)
    }
    // the serve holds the pre-append pin; each re-ingest lands its
    // arrivals in the store, then the append publishes its view
    var corpus = spark.read.parquet(store)
    pin(corpus)
    def append(lo: Long, hi: Long): Unit = {
      val arrivals = e.filter(col("vec_id") >= lo && col("vec_id") < hi)
      arrivals.write.mode("append").parquet(store)
      GraphAnn.appendToHnswGraph(spark, arrivals, "embedding", "vec_id",
        AnnIndex.defaultLsh, m = 8, path, corpus, fanout = 8, maxLevel = 2)
      corpus = spark.read.parquet(store)
    }
    append(300, 360)
    parity(corpus, "first append")
    append(360, 420)
    parity(corpus, "second append")
    GraphAnn.deleteFromNswGraph(spark, Seq(5L, 17L, 310L), path)
    parity(corpus, "delete", builds = 1)
    append(420, 470)
    parity(corpus, "append with tombstones pending")
    GraphAnn.foldHnswTombstones(spark, path, corpus, "embedding", "vec_id", m = 8)
    val (folded, foldJobs) = jobsRunBy("post-fold-pin")(pin(corpus))
    assert(foldJobs === 0, s"the pin after a fold ran $foldJobs Spark jobs")
    assert(folded.graph.dead.isEmpty)
    parity(corpus, "fold")
    // fallbacks take the full collect (one build: the graph view is held)
    parity(AnnIndex.withPlantedSelfCopies(spark, corpus), "planted copies", builds = 1)
    assert(part.setLastModified(part.lastModified + 5000L))
    corpus = spark.read.parquet(store)
    parity(corpus, "rewritten file", builds = 1)
    assert(part.delete())
    corpus = spark.read.parquet(store)
    parity(corpus, "lost file", builds = 1)
    e.filter(col("vec_id") === 320L).write.mode("append").parquet(store)
    corpus = spark.read.parquet(store)
    parity(corpus, "added id already pinned", builds = 1)
  }

  test("nsw delete: tombstones hide emission but still route the walk") {
    import graft.vector.GraphAnn
    val corpus = AnnIndex.withPlantedSelfCopies(spark,
      Tables.embeddings(spark, sf))
    val path = Files.createTempDirectory("nsw_delspec").toString + "/graph"
    GraphAnn.buildNswGraph(corpus, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path)
    val qv = corpus.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    // delete the ENTIRE planted neighborhood around vec 0: every hop into
    // the copy clique now crosses only tombstoned waypoints, and vec 0
    // must still be found THROUGH them — the hop-through contract
    GraphAnn.deleteFromNswGraph(spark, (100000L to 100008L), path)
    val got = GraphAnn.nswSearch(spark, path, corpus, "embedding", "vec_id",
      qv, k = 5).collect().map(_.getLong(0))
    assert(got.head === 0L,
      "vec 0 must stay reachable around its fully-deleted neighborhood")
    assert(got.forall(_ < 100000L), "a tombstoned id leaked into emission")
  }

  test("nsw fold: deleted ids are structurally gone, bridges keep survivors") {
    import graft.vector.GraphAnn
    val corpus = AnnIndex.withPlantedSelfCopies(spark,
      Tables.embeddings(spark, sf))
    val path = Files.createTempDirectory("nsw_foldspec").toString + "/graph"
    GraphAnn.buildNswGraph(corpus, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path)
    val qv = corpus.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    GraphAnn.deleteFromNswGraph(spark, (100000L to 100004L), path)
    val preFold = GraphAnn.nswSearch(spark, path, corpus, "embedding",
      "vec_id", qv, k = 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    GraphAnn.foldNswTombstones(spark, path, corpus, "embedding", "vec_id", m = 8)
    // sidecar truncated; the deleted ids are gone from the merged view —
    // no row of their own, no reference from any survivor's list
    assert(!new java.io.File(path + "_tombstones").exists())
    assert(adjacencyDigest(path) === "039d7bd226fe8c50e1b8ac5a32e66796",
      "folded adjacency drifted from the golden rows")
    val merged = GraphAnn.readNswAdjacency(spark, path).cache()
    assert(merged.filter(col("node_id").between(100000L, 100004L)).count() === 0)
    assert(merged.filter(exists(col("neighbors"),
      n => n.between(100000L, 100004L))).count() === 0,
      "a folded survivor still lists a deleted neighbor")
    val postFold = GraphAnn.nswSearch(spark, path, corpus, "embedding",
      "vec_id", qv, k = 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(postFold === preFold,
      "fold changed the answer — bridges must keep survivors reachable")
    // idempotence: folding with no pending tombstones is a no-op
    GraphAnn.foldNswTombstones(spark, path, corpus, "embedding", "vec_id", m = 8)
    assert(GraphAnn.nswSearch(spark, path, corpus, "embedding", "vec_id",
      qv, k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))) === postFold)
  }

  test("hnsw fold: deleted ids leave every rung; a fully-deleted top rung stays descendable around") {
    import graft.vector.GraphAnn
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val path = Files.createTempDirectory("hnsw_foldspec").toString + "/graph"
    GraphAnn.buildHnswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path, fanout = 8, maxLevel = 2)
    // delete EVERY layer-2 member: the ladder's top rung dies entirely,
    // and the deleted ids must leave all three rungs' stored bytes
    val l2ids = e.filter(
      pmod(xxhash64(col("vec_id")), lit(64L)) === 0L)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(l2ids.nonEmpty, "fixture needs at least one layer-2 member")
    GraphAnn.deleteFromNswGraph(spark, l2ids, path)
    GraphAnn.foldHnswTombstones(spark, path, e, "embedding", "vec_id",
      m = 8, maxLevel = 2)
    assert(!new java.io.File(path + "_tombstones").exists())
    assert(Seq(path, path + "_l1", path + "_l2").map(adjacencyDigest) === Seq(
      "1cd1419731a946e57224a807f51ba86e", "8b197e9dc65197d69835de996e2167d6",
      "d41d8cd98f00b204e9800998ecf8427e"),
      "folded adjacency drifted from the golden rows")
    for (rung <- Seq(path, path + "_l1", path + "_l2")) {
      val merged = GraphAnn.readNswAdjacency(spark, rung)
      assert(merged.filter(col("node_id").isin(l2ids: _*)).count() === 0,
        s"$rung still has a deleted node's row")
      assert(merged.filter(exists(col("neighbors"),
        n => n.isin(l2ids: _*))).count() === 0,
        s"$rung still references a deleted neighbor")
    }
    assert(GraphAnn.readNswAdjacency(spark, path + "_l2").count() === 0,
      "every layer-2 member was deleted; the rung must fold empty")
    // the search must descend AROUND the dead top rung (empty rung →
    // carry nothing, seed from the next rung down) and emit no deleted id
    val target = e.filter(!col("vec_id").isin(l2ids: _*))
      .select(min(col("vec_id"))).head().getLong(0)
    val qv = e.filter(col("vec_id") === target)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = GraphAnn.hnswSearch(spark, path, e, "embedding", "vec_id",
      qv, k = 5).collect().map(_.getLong(0))
    assert(got.head === target,
      s"surviving node $target not reachable after top-rung fold, top-5 = ${got.toSeq}")
    assert(got.forall(id => !l2ids.contains(id)),
      "a deleted id survived the ladder fold")
  }

  test("nsw append: new nodes become reachable through delta in-edges, base untouched") {
    import graft.vector.GraphAnn
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = e.filter(col("vec_id") < 400)
    val arrivals = e.filter(col("vec_id") >= 400)
    val path = Files.createTempDirectory("nsw_appspec").toString + "/graph"
    GraphAnn.buildNswGraph(base, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path)
    def baseListing = Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => (p.toString, p.toFile.length, p.toFile.lastModified)).toSet
    val before = baseListing
    GraphAnn.appendToNswGraph(spark, arrivals, "embedding", "vec_id",
      AnnIndex.defaultLsh, m = 8, path, base)
    assert(baseListing === before, "append must not rewrite base graph files")
    assert(adjacencyDigest(path) === "40d18bb413fa6623e0197f8ce98f6977",
      "appended adjacency drifted from the golden rows")
    val merged = GraphAnn.readNswAdjacency(spark, path)
    assert(merged.count() === e.count(), "every node needs an adjacency row")
    // an appended node must be FINDABLE: its self-query reaches it through
    // the reverse edges folded into affected existing rows
    val target = 450L
    val qv = e.filter(col("vec_id") === target)
      .select("embedding").head().getSeq[Float](0).toArray
    val got = GraphAnn.nswSearch(spark, path, e, "embedding", "vec_id", qv, k = 5)
      .collect().map(_.getLong(0))
    assert(got.head === target,
      s"appended node $target not reachable, top-5 = ${got.toSeq}")
  }

  test("append places an outlier by its true neighbours: it serves itself top-1 on NSW and HNSW") {
    import graft.vector.GraphAnn
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import spark.implicits._
    // Geometry against the LSH planes: the planes' span decides every
    // bucket, its orthogonal complement decides nothing. The outlier x and
    // its true neighbours Y share a complement direction u but sit on
    // opposite sides of every plane (±εt), so Y is never in x's radius-1
    // probe buckets; x's bucket holds only decoys D that are far from it.
    val lsh = AnnIndex.defaultLsh
    val dim = lsh.dim
    val rnd = new java.util.Random(7L)
    def dot(a: Array[Double], b: Array[Double]) = a.indices.map(i => a(i) * b(i)).sum
    def minus(a: Array[Double], b: Array[Double], s: Double) =
      a.indices.map(i => a(i) - s * b(i)).toArray
    val basis = lsh.planes.foldLeft(Vector.empty[Array[Double]]) { (qs, p) =>
      val r = qs.foldLeft(p)((v, q) => minus(v, q, dot(v, q)))
      qs :+ r.map(_ / math.sqrt(dot(r, r)))
    }
    def gauss() = Array.fill(dim)(rnd.nextGaussian())
    def unit(v: Array[Double]) = v.map(_ / math.sqrt(dot(v, v)))
    // a random unit direction in the planes' complement, orthogonal to `also`
    def offPlane(also: Seq[Array[Double]]): Array[Double] =
      unit((basis ++ also).foldLeft(gauss())((v, q) => minus(v, q, dot(v, q))))
    val u = offPlane(Nil)
    val t = unit(basis.map(q => q.map(_ * rnd.nextGaussian()))
      .reduce((a, b) => a.indices.map(i => a(i) + b(i)).toArray))
    def vec(parts: (Double, Array[Double])*): Seq[Float] =
      unit(parts.map { case (s, v) => v.map(_ * s) }
        .reduce((a, b) => a.indices.map(i => a(i) + b(i)).toArray)).map(_.toFloat).toSeq
    // ids in hash order: Y takes the hash-min ids, so every entry point
    // (and every ladder seed) starts in x's true neighbourhood; x takes the
    // largest hash, so it is never an entry itself
    val ids = (1L to 400L).sortBy(XXH64.hashLong(_, 42L))
    val (yIds, dIds, xId) = (ids.take(150), ids.slice(150, 210), ids.last)
    // each Y also leans ~1 along its own off-plane direction: Y members sit
    // farther from each other (cos ≈ 0.5) than from x (cos ≈ 0.7)
    val ys = yIds.map(id => id -> vec(1.0 -> u, -0.1 -> t,
      (0.8 + 0.4 * rnd.nextDouble()) -> offPlane(Seq(u))))
    val ds = dIds.map(id => id -> vec(1.0 -> t, 1.0 -> offPlane(Seq(u))))
    val x = vec(1.0 -> u, 0.1 -> t)
    val corpus = (ys ++ ds).toDF("vec_id", "embedding")
    val arrival = Seq(xId -> x).toDF("vec_id", "embedding")
    val cos = (ys ++ ds).map { case (id, v) =>
      id -> v.zip(x).map { case (a, b) => a.toDouble * b }.sum }.sortBy(-_._2)
    val sig = lsh.signature(x)
    assert(cos.take(8).forall { case (id, _) => yIds.contains(id) })
    assert(ys.forall { case (_, v) => Integer.bitCount(lsh.signature(v) ^ sig) > 1 },
      "fixture: x's true neighbours must lie outside its radius-1 probes")
    assert(ds.forall { case (_, v) => lsh.signature(v) == sig })
    val root = Files.createTempDirectory("append_outlier").toString
    val served = corpus.unionByName(arrival)
    GraphAnn.buildNswGraph(corpus, "embedding", "vec_id", lsh, 8, root + "/nsw")
    GraphAnn.appendToNswGraph(spark, arrival, "embedding", "vec_id", lsh, 8,
      root + "/nsw", corpus)
    GraphAnn.buildHnswGraph(corpus, "embedding", "vec_id", lsh, 8, root + "/hnsw")
    GraphAnn.appendToHnswGraph(spark, arrival, "embedding", "vec_id", lsh, 8,
      root + "/hnsw", corpus)
    val xv = x.toArray
    val nsw = GraphAnn.nswSearch(spark, root + "/nsw", served, "embedding",
      "vec_id", xv, k = 3).collect().map(_.getLong(0)).toSeq
    val hnsw = GraphAnn.hnswSearch(spark, root + "/hnsw", served, "embedding",
      "vec_id", xv, k = 3).collect().map(_.getLong(0)).toSeq
    assert(nsw.headOption === Some(xId), s"nsw walk missed the outlier: $nsw")
    assert(hnsw.headOption === Some(xId), s"hnsw walk missed the outlier: $hnsw")
  }

  test("nsw compaction self-heals a torn base/bak swap and vacuum reclaims the backup") {
    import graft.vector.GraphAnn
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = e.filter(col("vec_id") < 400)
    val arrivals = e.filter(col("vec_id") >= 400)
    val path = Files.createTempDirectory("nsw_healspec").toString + "/graph"
    GraphAnn.buildNswGraph(base, "embedding", "vec_id", AnnIndex.defaultLsh,
      m = 8, path)
    GraphAnn.appendToNswGraph(spark, arrivals, "embedding", "vec_id",
      AnnIndex.defaultLsh, m = 8, path, base)
    val total = e.count()
    // simulate the torn swap: crash happened between rename(base, bak)
    // and rename(tmp, base) — no base dir, only the .bak, deltas intact
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "._compact.bak")))
    // vacuum must REFUSE the backup while the base is missing — it is
    // the only surviving copy
    assert(GraphAnn.vacuumNswGraph(spark, path) === 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + "._compact.bak")))
    // re-entering compaction heals the tear and completes the fold
    GraphAnn.compactNswGraph(spark, path, retainBackup = true)
    val merged = GraphAnn.readNswAdjacency(spark, path)
    assert(merged.count() === total,
      "self-healed compaction lost adjacency rows")
    // retained backup now reclaimable: base exists, vacuum shrinks disk
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + "._compact.bak")))
    assert(GraphAnn.vacuumNswGraph(spark, path) > 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "._compact.bak")))
    assert(GraphAnn.readNswAdjacency(spark, path).count() === total,
      "vacuum touched the live base")
  }

  test("warm served walks run no Spark job and reuse the pin") {
    import graft.vector.GraphAnn
    val path = Files.createTempDirectory("served_nojob").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    GraphAnn.buildHnswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    val queries = e.filter(col("vec_id") < 3L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    def nsw() = GraphAnn.nswServedSearch(spark, path, e,
      "embedding", "vec_id", queries, k = 5).collect().toSeq
    def hnsw() = GraphAnn.hnswServedSearch(spark, path, e,
      "embedding", "vec_id", queries, k = 5).collect().toSeq
    // every other walk entry point runs the same kernel over the same pins
    val qv = queries.head._2
    val allowed = Some(e.filter(col("vec_id") % 2 === 0).select("vec_id"))
    def others() = Seq(
      GraphAnn.nswSearch(spark, path, e, "embedding", "vec_id", qv, k = 5),
      GraphAnn.hnswSearch(spark, path, e, "embedding", "vec_id", qv, k = 5),
      GraphAnn.nswBatchSearch(spark, path, e, "embedding", "vec_id", queries, k = 5),
      GraphAnn.hnswBatchSearch(spark, path, e, "embedding", "vec_id", queries, k = 5))
      .map(_.collect().toSeq) :+
      GraphAnn.nswSearchTrace(spark, path, e, "embedding", "vec_id", qv, 5)
    def filtered() = GraphAnn.hnswSearch(spark, path, e, "embedding", "vec_id",
      qv, k = 5, allowed = allowed).collect().toSeq
    // first serves build both pins
    val (nsw0, hnsw0, others0, filtered0) = (nsw(), hnsw(), others(), filtered())
    val b0 = GraphAnn.pinBuilds
    val ((nsw1, hnsw1, others1), warmJobs) =
      jobsRunBy("warm-serve")((nsw(), hnsw(), others()))
    assert(nsw1 === nsw0 && hnsw1 === hnsw0 && others1 === others0)
    assert(warmJobs === 0, "a warm served walk ran Spark jobs")
    // a metadata predicate is the one job a warm walk may run: its
    // pushed `id IN visited` probe
    val (filtered1, allowedJobs) = jobsRunBy("warm-allowed")(filtered())
    assert(filtered1 === filtered0)
    assert(filtered1.nonEmpty && filtered1.forall(_.getLong(0) % 2 == 0))
    assert(allowedJobs === 1,
      "a warm filtered walk must run exactly its one predicate probe")
    assert(GraphAnn.pinBuilds === b0, "a warm serve rebuilt its pin")
  }

  test("null embeddings: pins skip them, their ids are never served") {
    import graft.vector.GraphAnn
    val path = Files.createTempDirectory("served_nullemb").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    GraphAnn.buildHnswGraph(e, "embedding", "vec_id", AnnIndex.defaultLsh, 8, path)
    val qv = e.filter(col("vec_id") === 0L).collect().head.getSeq[Float](1).toArray
    // vec 0 loses its vector but stays in the graph: it is the query's
    // own nearest neighbor, so only the pins' null filter keeps it out
    val holed = e.withColumn("embedding",
      when(col("vec_id") === 0L, lit(null)).otherwise(col("embedding")))
    def ids(df: org.apache.spark.sql.DataFrame, idIx: Int) =
      df.collect().map(_.getLong(idIx)).toSeq
    val served = Seq(
      ids(GraphAnn.nswServedSearch(spark, path, holed, "embedding", "vec_id",
        Seq(0L -> qv), k = 5), 1),
      ids(GraphAnn.hnswServedSearch(spark, path, holed, "embedding", "vec_id",
        Seq(0L -> qv), k = 5), 1),
      ids(GraphAnn.nswSearch(spark, path, holed, "embedding", "vec_id",
        qv, k = 5), 0))
    served.foreach { got =>
      assert(got.size === 5, s"a null embedding starved the walk: $got")
      assert(!got.contains(0L), s"served the null-embedding id: $got")
    }
    assert(ids(GraphAnn.nswServedSearch(spark, path, e, "embedding", "vec_id",
      Seq(0L -> qv), k = 5), 1).contains(0L), "control: vec 0 serves itself")
  }
}
