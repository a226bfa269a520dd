package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiler for the compound graph-ANN driver rows: times each PHASE
  * (fixture build / delta reset / append / fold / search) separately and
  * counts Spark jobs per phase — the rows are imperative lifecycles, so
  * per-query wall time alone can't say which half is slow.
  *
  * Usage: runMain graft.tools.ProfileGraphRow <hnsw_incr|nsw_fold> [sfDir] [n]
  */
object ProfileGraphRow {
  def main(args: Array[String]): Unit = {
    val which = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 2
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
    })
    def phase[A](name: String)(f: => A): A = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s  ${jobs.get() - j0}%4d jobs")
      r
    }

    import graft.ops.AnnIndex
    import graft.vector.GraphAnn
    val e = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val qv = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    def deleteRec(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.exists()) java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.delete(x))
    }

    (1 to n).foreach { i =>
      println(s"=== iteration $i ===")
      which match {
        case "hnsw_incr" =>
          val path = new java.io.File(System.getProperty("java.io.tmpdir"),
            "graft_prof_hnswincr_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
          phase("buildIfAbsent") {
            graft.ops.ResultCache.buildIfAbsent(spark, e,
              s"hnsw:m=8:bits=${AnnIndex.defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2", path) {
              GraphAnn.buildHnswGraph(e, "embedding", "vec_id",
                AnnIndex.defaultLsh, m = 8, path)
            }
          }
          phase("delta reset") {
            Seq("_delta", "_l1_delta", "_l2_delta").foreach(s => deleteRec(path + s))
          }
          val copies = AnnIndex.withPlantedSelfCopies(spark,
            graft.Tables.embeddings(spark, sfDir)).filter(col("vec_id") >= 100000L)
          val aqeOff = sys.env.contains("PROFILE_AQE_OFF")
          def withAqe[A](f: => A): A =
            if (!aqeOff) f
            else {
              spark.conf.set("spark.sql.adaptive.enabled", "false")
              try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
            }
          phase("appendToHnswGraph") { withAqe {
            GraphAnn.appendToHnswGraph(spark, copies, "embedding", "vec_id",
              AnnIndex.defaultLsh, m = 8, path, e)
          } }
          phase("hnswSearch") { withAqe {
            GraphAnn.hnswSearch(spark, path,
              AnnIndex.withPlantedSelfCopies(spark, graft.Tables.embeddings(spark, sfDir)),
              "embedding", "vec_id", qv, k = 10)
              .write.format("noop").mode("overwrite").save()
          } }
        case "walk" =>
          // serving-walk constant: warm fixture, repeated searches with
          // job counts — flat walk vs ladder walk vs the batch-shaped
          // served path (one resident kernel), plus the walk's setup
          val path = new java.io.File(System.getProperty("java.io.tmpdir"),
            "graft_prof_walk_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
          val corpus = AnnIndex.withPlantedSelfCopies(spark,
            graft.Tables.embeddings(spark, sfDir))
          phase("buildIfAbsent nsw") {
            graft.ops.ResultCache.buildIfAbsent(spark, corpus,
              s"nsw:m=8:bits=${AnnIndex.defaultLsh.nBits}:seed=42", path) {
              GraphAnn.buildNswGraph(corpus, "embedding", "vec_id",
                AnnIndex.defaultLsh, m = 8, path)
            }
          }
          val hpath = new java.io.File(System.getProperty("java.io.tmpdir"),
            "graft_prof_walk_h_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
          phase("buildIfAbsent hnsw") {
            graft.ops.ResultCache.buildIfAbsent(spark, corpus,
              s"hnsw:m=8:bits=${AnnIndex.defaultLsh.nBits}:seed=42:fanout=8:maxLevel=2", hpath) {
              GraphAnn.buildHnswGraph(corpus, "embedding", "vec_id",
                AnnIndex.defaultLsh, m = 8, hpath)
            }
          }
          phase("adjacency read+count") {
            GraphAnn.readNswAdjacency(spark, path).count()
          }
          (1 to 3).foreach { r =>
            phase(s"nswSearch #$r") {
              GraphAnn.nswSearch(spark, path, corpus, "embedding", "vec_id",
                qv, k = 10).write.format("noop").mode("overwrite").save()
            }
          }
          (1 to 3).foreach { r =>
            phase(s"hnswSearch #$r") {
              GraphAnn.hnswSearch(spark, hpath, corpus, "embedding", "vec_id",
                qv, k = 10).write.format("noop").mode("overwrite").save()
            }
          }
          (1 to 3).foreach { r =>
            phase(s"nswServedSearch #$r") {
              GraphAnn.nswServedSearch(spark, path, corpus, "embedding",
                "vec_id", Seq(0L -> qv), k = 10)
                .write.format("noop").mode("overwrite").save()
            }
          }
        case "nsw_fold" =>
          val path = new java.io.File(System.getProperty("java.io.tmpdir"),
            "graft_prof_nswfold_" + Integer.toHexString(sfDir.hashCode)).getAbsolutePath
          val corpus = AnnIndex.withPlantedSelfCopies(spark,
            graft.Tables.embeddings(spark, sfDir))
          phase("delta+tomb reset") {
            Seq("_delta", "_tombstones").foreach(s => deleteRec(path + s))
          }
          phase("buildIfAbsent") {
            graft.ops.ResultCache.buildIfAbsent(spark, corpus,
              s"nsw:m=8:bits=${AnnIndex.defaultLsh.nBits}:seed=42", path) {
              GraphAnn.buildNswGraph(corpus, "embedding", "vec_id",
                AnnIndex.defaultLsh, m = 8, path)
            }
          }
          phase("delete (tombstone)") {
            GraphAnn.deleteFromNswGraph(spark, (100000L to 100004L), path)
          }
          phase("foldNswTombstones") {
            GraphAnn.foldNswTombstones(spark, path, corpus, "embedding", "vec_id", m = 8)
          }
          phase("nswSearch") {
            GraphAnn.nswSearch(spark, path, corpus, "embedding", "vec_id", qv, k = 5)
              .write.format("noop").mode("overwrite").save()
          }
      }
    }
    spark.stop()
  }
}
