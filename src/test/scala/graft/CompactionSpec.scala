package graft

import org.apache.spark.sql.functions._
import graft.ingest.Compaction

class CompactionSpec extends SparkSpec {

  test("compaction merges many small appends into few files, content identical") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/chunks"
    import spark.implicits._
    // 10 append batches -> >= 10 part files (the incremental-ingest shape)
    (0 until 10).foreach { b =>
      Seq.tabulate(50)(i => (b * 50L + i, s"chunk-$b-$i"))
        .toDF("id", "text").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted

    val stats = Compaction.compact(spark, dir, targetFileBytes = 256L * 1024 * 1024)
    assert(stats.filesBefore >= 10)
    assert(stats.filesAfter === 1) // 500 tiny rows fit one byte-budgeted file
    assert(stats.rows === 500L)

    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(after === before)
  }

  test("partitioned index tables compact per partition, preserving layout and pruning") {
    import graft.vector.IndexBuilder
    val lsh = new IndexBuilder.RandomHyperplaneLsh(64, 4, 42L)
    val dir = java.nio.file.Files.createTempDirectory("compact_idx").toString + "/index"
    val emb = Tables.embeddings(spark, sf)
    // two incremental appends -> >=2 files in touched partitions
    IndexBuilder.withLshBucket(emb.filter(col("vec_id") < 250), "embedding", lsh)
      .write.mode("append").partitionBy("bucket").parquet(dir)
    IndexBuilder.withLshBucket(emb.filter(col("vec_id") >= 250), "embedding", lsh)
      .write.mode("append").partitionBy("bucket").parquet(dir)
    val before = spark.read.parquet(dir)
      .groupBy("bucket").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap

    // flat compact must refuse the partitioned root
    intercept[IllegalArgumentException] {
      graft.ingest.Compaction.compact(spark, dir)
    }
    val stats = graft.ingest.Compaction.compactPartitioned(spark, dir)
    assert(stats.filesBefore > stats.filesAfter)

    val after = spark.read.parquet(dir)
      .groupBy("bucket").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(after === before, "per-bucket contents must be unchanged")
    // pruning still works on the compacted layout
    val plan = spark.read.parquet(dir).filter(col("bucket") === before.keySet.head)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && !plan.contains("PartitionFilters: []"))
  }

  private def md5Of(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(java.nio.file.Files.readAllBytes(f.toPath))
    md.digest().map("%02x".format(_)).mkString
  }

  /** (relative path, md5) of every data file under a partition leaf. */
  private def leafFingerprint(root: java.io.File, leaf: String): Seq[(String, String)] = {
    val dir = new java.io.File(root, leaf)
    if (!dir.isDirectory) Seq.empty
    else dir.listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, md5Of(f))).sortBy(_._1)
  }

  test("foldStagedBatches: identical rows, one leaf, age floor keeps hot batches, abort recovery") {
    import graft.vector.IndexBuilder
    import graft.ops.AnnIndex
    val root = java.nio.file.Files.createTempDirectory("stagedfold").toString + "/idx"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") < 200L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 0L)
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") >= 200L && col("vec_id") < 300L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 1L)
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") >= 300L && col("vec_id") < 400L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 2L)
    def leaves = new java.io.File(root).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    def rows() = spark.read.parquet(root).select("vec_id", "bucket")
      .collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    val before = rows()
    assert(leaves === 3)
    assert(Compaction.foldStagedBatches(spark, root, "bucket") === 3)
    assert(leaves === 1, "fold must leave exactly one batch leaf")
    assert(rows() === before, "fold changed the indexed rows or their buckets")
    // age floor: a hot batch stays out of the fold
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") >= 400L && col("vec_id") < 450L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 5L)
    assert(Compaction.foldStagedBatches(spark, root, "bucket",
      minAgeMs = 3600L * 1000) === 0)
    assert(leaves === 2, "hot batch must survive an age-floored fold")
    // an aborted staging (no marker) is discarded; the fold still runs
    val aborted = new java.io.File(root + "/_compact/data")
    aborted.mkdirs()
    java.nio.file.Files.write(aborted.toPath.resolve("junk.parquet"), Array[Byte](1))
    val withHot = rows()
    assert(Compaction.foldStagedBatches(spark, root, "bucket") === 2)
    assert(!new java.io.File(root + "/_compact").exists(), "staging must be cleaned")
    assert(leaves === 1 && rows() === withHot, "recovery broke the root")
  }

  test("foldTombstones: a null-valued partition leaf is rewritten, its survivors kept") {
    // isin() never matches NULL, so without the isNull arm the
    // __HIVE_DEFAULT_PARTITION__ leaf would never be staged, classify as
    // 'drop', and the swap would DELETE its live survivors
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fold_null").toString
    val idx = dir + "/index"
    val rows = ((0L until 10L).map(i => (i, "a")) ++
      (10L until 20L).map(i => (i, null: String))).toDF("vec_id", "grp")
    rows.write.partitionBy("grp").parquet(idx)
    Seq(1L, 11L).toDF("vec_id").write.parquet(idx + "_tombstones")
    val stats = Compaction.foldTombstones(spark, idx, idx + "_tombstones")
    assert(stats.rowsDeleted === 2L, s"expected 2 folded deletions, got $stats")
    val after = spark.read.parquet(idx).select("vec_id", "grp").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val expected = ((0L until 10L).filter(_ != 1L).map(i => (i, Some("a"))) ++
      (10L until 20L).filter(_ != 11L).map(i => (i, None))).toSet
    assert(after === expected,
      "null-leaf survivors lost or doomed rows resurrected")
  }

  test("foldStagedBatches horizon boundary: age==floor folds (inclusive); a post-fold replay DECLINES via the roster — no re-admission") {
    import graft.vector.IndexBuilder
    import graft.ops.AnnIndex
    val root = java.nio.file.Files.createTempDirectory("stagedhorizon")
      .toString + "/idx"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val batch1Rows = e.filter(col("vec_id") >= 200L && col("vec_id") < 300L)
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") < 200L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 0L)
    IndexBuilder.stageLshBatch(batch1Rows,
      "embedding", AnnIndex.defaultLsh, root, batchId = 1L)
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") >= 300L && col("vec_id") < 350L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 2L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // age batches 0/1 to EXACTLY the horizon (clock moves forward between
    // setTimes and the fold's `now`, so their measured age is >= floor);
    // batch 2 stays hot (age ~0)
    val floor = 60000L
    Seq(0L, 1L).foreach { b =>
      fs.setTimes(new org.apache.hadoop.fs.Path(root, s"batch=$b"),
        System.currentTimeMillis() - floor, -1)
    }
    // inclusive boundary: a batch aged exactly AT the floor IS a fold
    // target — so a delivery system whose max redelivery delay EQUALS
    // the floor can replay a just-folded batch. The floor must therefore
    // be chosen STRICTLY greater than the max redelivery delay.
    assert(Compaction.foldStagedBatches(spark, root, "bucket",
      minAgeMs = floor) === 2)
    def leaves = new java.io.File(root).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(leaves === 2, "boundary batches folded, hot batch kept")
    val afterFold = spark.read.parquet(root).count()
    // the hazard the horizon used to exclude, now CLOSED by the roster:
    // a replay of the folded batch 1 (same rows, same batch id — the
    // idempotence key) lands AFTER the fold consumed its directory. The
    // fold committed `folded:1` through the roster before its swap
    // marker, so the stager must DECLINE — through r12 this replay
    // re-admitted its rows beside the folded copy.
    val staged = IndexBuilder.stageLshBatch(batch1Rows,
      "embedding", AnnIndex.defaultLsh, root, batchId = 1L)
    assert(!staged, "a replay of a folded batch must decline")
    assert(spark.read.parquet(root).count() === afterFold,
      "a declined replay must not change the root's row count")
    assert(leaves === 2, "a declined replay must not re-land its directory")
    // the DESTINATION leaf is guarded too: a replay of batch 0 carrying
    // only its own rows would CLOBBER the consolidated batch=0 leaf and
    // silently lose every other folded batch's rows
    val destStaged = IndexBuilder.stageLshBatch(
      e.filter(col("vec_id") < 200L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 0L)
    assert(!destStaged, "a replay of the fold destination must decline")
    assert(spark.read.parquet(root).count() === afterFold,
      "the consolidated leaf must survive a destination replay")
  }

  test("roster state machine: consumed ids never go free, and reclaimable ids are never pending or the leaf, under random op sequences") {
    import graft.ingest.BatchRoster
    val rnd = new scala.util.Random(42)
    (0 until 10).foreach { trial =>
      val root = java.nio.file.Files
        .createTempDirectory(s"rosterprop$trial").toString + "/r"
      var consumedModel = Set.empty[Long]
      (0 until 8).foreach { _ =>
        val ids = Seq.fill(2 + rnd.nextInt(3))(rnd.nextInt(10).toLong)
          .distinct.sorted
        rnd.nextInt(3) match {
          case 0 =>
            BatchRoster.commitPending(spark, root, ids)
            consumedModel ++= ids
          case 1 =>
            BatchRoster.commitPending(spark, root, ids)
            BatchRoster.finishFold(spark, root, ids, ids.min)
            consumedModel ++= ids
          case _ =>
            BatchRoster.sweepStalePending(spark, root, _ => rnd.nextBoolean())
        }
        consumedModel.foreach { id =>
          assert(BatchRoster.isConsumed(spark, root, id),
            s"trial $trial: consumed id $id went free — replays could re-admit")
        }
        val rec = BatchRoster.reconcilablePred(spark, root)
        (0L until 10L).filter(rec).foreach { id =>
          assert(BatchRoster.classify(spark, root, id) === "folded",
            s"trial $trial: reclaimable id $id is ${
              BatchRoster.classify(spark, root, id)} — deleting its " +
              "directory would lose rows")
        }
        // never-recorded ids must stay free: the watermark may only
        // subsume ids the roster explicitly recorded, or a gap id's
        // FIRST delivery would silently decline
        (10L until 13L).foreach { id =>
          assert(!BatchRoster.isConsumed(spark, root, id),
            s"trial $trial: never-recorded id $id reads consumed")
        }
      }
    }
  }

  test("roster watermark: a folded contiguous prefix compacts to one below: line and stays consumed") {
    import graft.ingest.{BatchRoster, ManifestLog}
    val root = java.nio.file.Files
      .createTempDirectory("rosterwm").toString + "/r"
    // three folds over the contiguous streaming id space 0..8, each
    // consolidating into leaf 0 — the standing retention-fold shape
    Seq(Seq(0L, 1L, 2L), Seq(0L, 3L, 4L, 5L), Seq(0L, 6L, 7L, 8L))
      .foreach { targets =>
        BatchRoster.commitPending(spark, root, targets)
        BatchRoster.finishFold(spark, root, targets, 0L)
      }
    (1L to 8L).foreach { id =>
      assert(BatchRoster.isConsumed(spark, root, id),
        s"id $id must stay consumed after compaction")
      assert(BatchRoster.classify(spark, root, id) === "folded")
    }
    assert(BatchRoster.classify(spark, root, 0L) === "leaf",
      "leaf precedence must survive the watermark")
    assert(!BatchRoster.isConsumed(spark, root, 9L), "the frontier is free")
    // the manifest itself is compact: the folded prefix became below:9
    // with NO folded: lines left (leaf 0 stays explicit)
    val dir = root + "/_roster"
    val lines = ManifestLog
      .read(spark, dir, ManifestLog.currentVersion(spark, dir)).get
    assert(lines.contains("below:9"), s"expected below:9 in $lines")
    assert(!lines.exists(_.startsWith("folded:")),
      s"folded entries must compact into the watermark: $lines")
    assert(lines.contains("leaf:0"), s"leaf stays explicit: $lines")
  }

  test("roster two-phase: a fold dying between its pending commit and its swap marker loses nothing and stays foldable") {
    // regression for the single-phase first cut: marking batches FOLDED
    // before the swap marker let a crash there authorize reconciliation
    // to delete the still-live directories — the only copy of the rows.
    // pending must decline replays WITHOUT authorizing reclamation.
    import graft.vector.IndexBuilder
    import graft.ops.AnnIndex
    val root = java.nio.file.Files.createTempDirectory("stagedpending")
      .toString + "/idx"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val b0 = e.filter(col("vec_id") < 150L)
    val b1 = e.filter(col("vec_id") >= 150L && col("vec_id") < 250L)
    IndexBuilder.stageLshBatch(b0, "embedding", AnnIndex.defaultLsh, root, 0L)
    IndexBuilder.stageLshBatch(b1, "embedding", AnnIndex.defaultLsh, root, 1L)
    val before = spark.read.parquet(root).count()
    // the crashed fold's footprint: pending committed, staging discarded
    graft.ingest.BatchRoster.commitPending(spark, root, Seq(0L, 1L))
    // a replay declines, but the directory — the rows' only copy — survives
    assert(!IndexBuilder.stageLshBatch(b1, "embedding", AnnIndex.defaultLsh,
      root, 1L), "a pending id must decline replays")
    assert(new java.io.File(root, "batch=1").isDirectory,
      "a pending directory must never be reclaimed")
    assert(spark.read.parquet(root).count() === before)
    // the next fold re-targets the intact directories and completes
    assert(Compaction.foldStagedBatches(spark, root, "bucket") === 2)
    assert(spark.read.parquet(root).count() === before,
      "the recovered fold must preserve every row")
    assert(!IndexBuilder.stageLshBatch(b1, "embedding", AnnIndex.defaultLsh,
      root, 1L), "post-fold replays must still decline")
    assert(spark.read.parquet(root).count() === before)
  }

  test("roster reconciliation: a stray re-landed folded directory is garbage-collected by the next fold, not re-folded into duplicates") {
    import graft.vector.IndexBuilder
    import graft.ops.AnnIndex
    val root = java.nio.file.Files.createTempDirectory("stagedroster")
      .toString + "/idx"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val b0 = e.filter(col("vec_id") < 150L)
    val b1 = e.filter(col("vec_id") >= 150L && col("vec_id") < 250L)
    val b2 = e.filter(col("vec_id") >= 250L && col("vec_id") < 300L)
    IndexBuilder.stageLshBatch(b0, "embedding", AnnIndex.defaultLsh, root, 0L)
    IndexBuilder.stageLshBatch(b1, "embedding", AnnIndex.defaultLsh, root, 1L)
    assert(Compaction.foldStagedBatches(spark, root, "bucket") === 2)
    val folded = spark.read.parquet(root).count()
    // simulate a stager that crashed between its overwrite and its
    // post-write roster re-check: batch=1's directory re-appears on disk
    // even though the roster marks it folded. (Write it bypassing the
    // gate, as the torn stager would have.)
    b1.withColumn("bucket",
        org.apache.spark.sql.functions.lit(0))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(root + "/batch=1")
    assert(spark.read.parquet(root).count() === folded + b1.count(),
      "precondition: the stray directory is visible before reconciliation")
    // a later fold must DELETE the stray (its rows already live in the
    // leaf) rather than fold it — folding it would duplicate rows
    // INSIDE the consolidated leaf where no later pass dedups them
    IndexBuilder.stageLshBatch(b2, "embedding", AnnIndex.defaultLsh, root, 2L)
    Compaction.foldStagedBatches(spark, root, "bucket")
    assert(spark.read.parquet(root).count() === folded + b2.count(),
      "reconciliation must remove the stray copy, keeping each row once")
  }

  test("staged swap: a torn marker (missing sentinel) is an aborted staging, never a wedge or a wrong fold") {
    // target deletes only run after the fully-written marker closes, so
    // an unparseable/truncated marker proves the swap never started —
    // recovery must discard the staging and let the fold proceed, not
    // throw (wedging every future fold) or trust a clipped epoch list
    import graft.vector.IndexBuilder
    import graft.ops.AnnIndex
    val root = java.nio.file.Files.createTempDirectory("stagedfold_torn").toString + "/idx"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") < 100L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 0L)
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") >= 100L && col("vec_id") < 200L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 1L)
    def rows() = spark.read.parquet(root).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val before = rows()
    // a staged dir plus a marker whose trailing sentinel was torn off
    val staging = new java.io.File(root + "/_compact/data")
    staging.mkdirs()
    java.nio.file.Files.write(staging.toPath.resolve("junk.parquet"), Array[Byte](1))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root + "/_compact/_STAGED"),
      "0\n1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Compaction.foldStagedBatches(spark, root, "bucket") === 2)
    assert(!new java.io.File(root + "/_compact").exists(), "staging must be cleaned")
    assert(rows() === before, "torn-marker recovery lost rows")
    assert(new java.io.File(root).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) === 1)
  }

  test("foldStagedBatches: a fold whose target set excludes an existing younger leaf never collides with it") {
    // the review-found hazard: leaf 0 exists but is OUTSIDE the aged
    // target set (age floor), and a fixed-destination fold would rename
    // the staging onto the live batch=0 — nesting into it and losing the
    // deleted targets' rows. The shared swap folds onto targets.min
    // instead, which is always deleted first.
    import graft.vector.IndexBuilder
    import graft.ops.AnnIndex
    val root = java.nio.file.Files.createTempDirectory("stagedfold_hot0").toString + "/idx"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") < 100L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 0L)
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") >= 100L && col("vec_id") < 200L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 1L)
    IndexBuilder.stageLshBatch(e.filter(col("vec_id") >= 200L && col("vec_id") < 300L),
      "embedding", AnnIndex.defaultLsh, root, batchId = 2L)
    // backdate batches 1 and 2 past the floor; batch 0 stays hot
    val old = System.currentTimeMillis() - 3600L * 1000
    Seq(1, 2).foreach(b => new java.io.File(root, s"batch=$b").setLastModified(old))
    def rows() = spark.read.parquet(root).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val before = rows()
    assert(Compaction.foldStagedBatches(spark, root, "bucket",
      minAgeMs = 600L * 1000) === 2)
    val leaves = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).sorted
    assert(leaves.toSeq === Seq("batch=0", "batch=1"),
      s"fold must land on targets.min, leaves: ${leaves.toSeq}")
    assert(rows() === before, "the hot leaf or the folded rows were lost")
    // no nested mixed-depth layout inside any leaf
    leaves.foreach { l =>
      val nested = new java.io.File(new java.io.File(root, l).getPath)
        .listFiles().filter(_.isDirectory).map(_.getName)
      assert(nested.forall(_.startsWith("bucket=")),
        s"$l contains non-partition dirs: ${nested.toSeq}")
    }
  }

  test("foldTombstones rewrites only affected partitions; untouched buckets byte-identical; sidecar truncated") {
    import graft.vector.IndexBuilder
    import spark.implicits._
    val lsh = new IndexBuilder.RandomHyperplaneLsh(64, 4, 42L)
    val root = java.nio.file.Files.createTempDirectory("fold_idx").toString
    val dir = root + "/index"
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
    IndexBuilder.buildLshIndex(emb, "embedding", lsh, dir)

    // tombstone 10 specific ids; find which buckets they live in
    val doomed = (0L until 10L)
    val bucketOf = IndexBuilder.withLshBucket(emb, "embedding", lsh)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val affectedBuckets = doomed.map(bucketOf).toSet
    val untouched = bucketOf.values.toSet -- affectedBuckets
    assert(untouched.nonEmpty, "test needs at least one untouched bucket")
    val rowsBefore = spark.read.parquet(dir).count()
    val beforePrints = untouched.map(b =>
      b -> leafFingerprint(new java.io.File(dir), s"bucket=$b")).toMap

    doomed.toDF("vec_id").write.mode("overwrite").parquet(dir + "_tombstones")
    val stats = graft.ingest.Compaction.foldTombstones(spark, dir, dir + "_tombstones")

    assert(stats.tombstonesFolded === 10L)
    assert(stats.rowsDeleted === 10L)
    assert(stats.partitionsRewritten === affectedBuckets.size)
    // untouched partitions: every data file byte-identical
    untouched.foreach { b =>
      assert(leafFingerprint(new java.io.File(dir), s"bucket=$b") === beforePrints(b),
        s"untouched bucket=$b was rewritten")
    }
    // deleted rows gone, everything else intact
    val after = spark.read.parquet(dir)
    assert(after.count() === rowsBefore - 10L)
    assert(after.filter(col("vec_id") < 10).count() === 0L)
    // sidecar truncated but schema preserved (query anti-joins still plan)
    val sidecar = spark.read.parquet(dir + "_tombstones")
    assert(sidecar.count() === 0L && sidecar.columns.toSeq === Seq("vec_id"))
    // second fold is a no-op (idempotent maintenance)
    val again = graft.ingest.Compaction.foldTombstones(spark, dir, dir + "_tombstones")
    assert(again.partitionsRewritten === 0 && again.rowsDeleted === 0L)
  }

  test("foldTombstones watermark shape keeps the upserted replacement") {
    import graft.vector.IndexBuilder
    import spark.implicits._
    val lsh = new IndexBuilder.RandomHyperplaneLsh(64, 4, 42L)
    val root = java.nio.file.Files.createTempDirectory("fold_ups").toString
    val dir = root + "/index"
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    IndexBuilder.buildLshIndex(emb.withColumn("seq", lit(0L)), "embedding", lsh, dir)
    // upsert vec 0: watermark-tombstone seq<=0, append replacement with vec 1's
    // embedding at seq=1 (lands in a different bucket than the stale row)
    Seq((0L, 0L)).toDF("t_vec_id", "upto_seq")
      .write.mode("overwrite").parquet(dir + "_tombstones")
    val replacement = emb.filter(col("vec_id") === 1L)
      .select(lit(0L).as("vec_id"), col("embedding"), lit(1L).as("seq"))
    IndexBuilder.appendToLshIndex(replacement, "embedding", lsh, dir)

    val stats = graft.ingest.Compaction.foldTombstones(spark, dir, dir + "_tombstones")
    assert(stats.rowsDeleted === 1L)
    val survivors = spark.read.parquet(dir).filter(col("vec_id") === 0L)
      .select("seq").collect().map(_.getLong(0)).toSeq
    assert(survivors === Seq(1L), "only the seq=1 replacement must survive")
    assert(spark.read.parquet(dir + "_tombstones").count() === 0L)
  }

  test("foldTombstones job count is independent of the affected-partition count") {
    import graft.vector.IndexBuilder
    import spark.implicits._
    val lsh = new IndexBuilder.RandomHyperplaneLsh(64, 4, 42L)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
    def freshIndex(tag: String): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"fold_jobs_$tag").toString + "/index"
      IndexBuilder.buildLshIndex(emb, "embedding", lsh, dir)
      dir
    }
    def foldJobs(dir: String, doomed: Seq[Long]): (Int, Long) = {
      doomed.toDF("vec_id").write.mode("overwrite").parquet(dir + "_tombstones")
      val (stats, jobs) = jobsRunBy("fold")(
        graft.ingest.Compaction.foldTombstones(spark, dir, dir + "_tombstones"))
      (jobs, stats.rowsDeleted)
    }
    val (fewJobs, fewDeleted) = foldJobs(freshIndex("few"), Seq(0L, 1L))
    val (manyJobs, manyDeleted) = foldJobs(freshIndex("many"), (0L until 200L).toSeq)
    assert(fewDeleted === 2L && manyDeleted === 200L)
    // the 100-partition fold may not schedule per-partition jobs: the
    // rewrite is ONE staged write whatever the affected count (small AQE
    // slack only)
    assert(manyJobs <= fewJobs + 2,
      s"fold jobs grew with affected partitions: few=$fewJobs many=$manyJobs")
  }

  test("foldTombstones: interrupted marker-committed swap completes; marker-less staging discarded") {
    import graft.vector.IndexBuilder
    import spark.implicits._
    val lsh = new IndexBuilder.RandomHyperplaneLsh(64, 4, 42L)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    val dir = java.nio.file.Files
      .createTempDirectory("fold_recover").toString + "/index"
    IndexBuilder.buildLshIndex(emb, "embedding", lsh, dir)
    val buckets = spark.read.parquet(dir).select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    val b = buckets.head
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def leafRows(): Set[Long] = spark.read.parquet(dir)
      .filter(col("bucket") === b).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val before = leafRows()

    // marker-LESS staging (a fold aborted before commit): must be
    // discarded, the live leaf untouched
    val staging = s"$dir/.fold.tmp"
    emb.filter(col("vec_id") === 99L).select("vec_id", "embedding")
      .write.parquet(s"$staging/bucket=$b")
    assert(graft.ingest.Compaction.foldTombstones(spark, dir, dir + "_tombstones")
      === graft.ingest.Compaction.FoldStats(0, 0L, 0L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)),
      "aborted staging must be discarded")
    spark.catalog.refreshByPath(dir)
    assert(leafRows() === before, "aborted staging must not install")

    // marker-COMMITTED staging (crash after commit, before the swap):
    // the next fold must COMPLETE it — the staged leaf replaces the live
    emb.filter(col("vec_id") === 99L).select("vec_id", "embedding")
      .write.parquet(s"$staging/bucket=$b")
    val marker = fs.create(
      new org.apache.hadoop.fs.Path(s"$staging/_FOLD_STAGED"), true)
    try marker.write(s"bucket=$b\tkeep\nend"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally marker.close()
    graft.ingest.Compaction.foldTombstones(spark, dir, dir + "_tombstones")
    spark.catalog.refreshByPath(dir)
    assert(leafRows() === Set(99L),
      "committed staging must complete: staged leaf replaces the live one")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)))
  }

  test("compaction works for json directories (the K1 JSONL sink layout)") {
    val dir = java.nio.file.Files.createTempDirectory("compactj").toString + "/jsonl"
    import spark.implicits._
    (0 until 5).foreach { b =>
      Seq.tabulate(20)(i => (b * 20L + i, s"line-$b-$i"))
        .toDF("id", "text").coalesce(1)
        .write.mode("append").json(dir)
    }
    val stats = Compaction.compact(spark, dir, format = "json")
    assert(stats.filesBefore >= 5 && stats.filesAfter === 1 && stats.rows === 100L)
    assert(spark.read.json(dir).count() === 100L)
  }
}
