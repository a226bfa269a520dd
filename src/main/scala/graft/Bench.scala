package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. Queries are materialized via
  * the noop sink — a bare count() lets Catalyst prune the projections a
  * reader would actually compute, under-measuring scan+compute cost.
  */
object Bench {

  /** Rows regressed vs best-known: kept > 2× best AND > best + 0.5 s
    * (sub-second rows flip on scheduling noise alone). Rows that paid a
    * cold fixture build or failed this run are excluded — their time is
    * a build or a fast-fail, not a serve. Returns (row, kept, best). */
  private[graft] def regressionRows(results: Seq[(String, Double)],
      fixtureBuilt: Set[String], failed: Set[String],
      bestKnown: Map[String, Double]): Seq[(String, Double, Double)] =
    results.collect { case (k, v)
        if !fixtureBuilt(k) && !failed(k) &&
          bestKnown.get(k).exists(b => v > 2 * b && v - b > 0.5) =>
      (k, v, bestKnown(k))
    }

  /** ≥ this many SIMULTANEOUS >2× regressions on one board is a
    * contended run (machine noise — GC, a co-tenant, a thermal event),
    * not that many independent plan changes landing in one round: r17's
    * driver board flagged 14 rows that two same-code sibling boards
    * uniformly disproved. The stamp lets a board reader adjudicate a
    * noisy artifact WITHOUT sibling boards.
    *
    * The threshold is a HEURISTIC CONSTANT, deliberately not scaled to
    * the row count: contention observed on this hardware arrives in
    * dozens of simultaneous spikes (14 on r17's board, 11 on r18's),
    * while genuine same-round plan regressions have historically come
    * 1–3 at a time — the gap between those regimes is wide and does
    * not narrow as rows are added (each row is an independent spike
    * sample, so MORE rows make a contended board exceed 8 MORE
    * easily, not less). A board with exactly 7 spikes still reads as
    * 7 real regressions and gets sibling-board adjudication — the
    * conservative direction. */
  private[graft] val ContendedMin = 8
  private[graft] def contended(nRegressions: Int): Boolean =
    nRegressions >= ContendedMin

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // The session and its recommended library confs (AQE under cached
    // plans, listing threshold) live in GraftSession — ONE home shared
    // with Verify, ExplainPlans and library users; rationale there.
    val spark = GraftSession.harness(cpus.toInt)
    // Untimed warmup: JIT/codegen compilation, parquet footer reads, and
    // shuffle init otherwise land entirely on whichever query sorts first
    // (observed: ann_ivf_topk, alphabetically first, absorbing the first
    // touch of every table it reads). One warmup per base-table family —
    // lineitem/orders, embeddings, documents, events — so each table's
    // footers and the shared codegen paths are hot before timing starts;
    // steady-state per-query cost is what a long-running cluster sees.
    Seq("q1_pricing_summary", "q2_revenue_by_region", "knn_exact_topk",
        "text_quality", "events_hourly")
      .foreach { w =>
        try SparkEntry.queries(w)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $w failed: ${e.getMessage}")
        }
      }
    spark.catalog.clearCache()
    // Dev iteration only (the driver never sets it): time a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Returns (elapsed, succeeded): the rerun policy below may only take a
    // min over SUCCESSFUL passes — a throwing rerun's near-zero elapsed
    // must never displace a slow-but-correct first pass. Failures are
    // recorded PER BOARD (the `failures` buffer belongs to the board
    // being run), so the emitted list is exactly the KEPT board's — a
    // board2-only failure must surface when board2 is kept (its fast-fail
    // time would otherwise read as a green speedup), and must NOT smear
    // onto a kept-and-green board1.
    // Per-row fixture-build observability: buildIfAbsent misses that fired
    // DURING a row's timed pass, from the ResultCache decision log — so a
    // board reader separates serving-time from fixture-build-time per row
    // mechanically (a row whose time moved because its fixture rebuilt is
    // a different finding than a serve regression). Cumulative over every
    // pass of the run; emitted only for rows that built something.
    val fixtureBuilds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // Per-row CHOSEN-ROUTE observability: the measured routers' decisions
    // fired during a row's passes, from the RouteLog ring — a routing
    // flip between rounds is then visible in the recorded board, not
    // just in stderr. Deduped per row (reruns repeat the decision).
    val routes = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        failures: Option[scala.collection.mutable.ListBuffer[String]]): (Double, Boolean) = {
      // monotonic counter, NOT an index into recentEvents: the event log
      // is a bounded ring that evicts from the head, so offsets go stale
      // once it saturates and misses would silently undercount
      val miss0 = graft.ops.ResultCache.totalIndexMisses
      val route0 = graft.ops.RouteLog.latestSeq
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          // a throwing RERUN does not mark the row failed: its reported
          // time is the valid successful first pass (failures=None)
          failures.foreach(f => if (!f.contains(name)) f += name)
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      // Drop any .cache() a query registered: cached frames otherwise
      // accumulate for the life of the full-board session (the full query board)
      // and steal unified memory from execution (each query is timed
      // cold, as a fresh cluster job would run it).
      spark.catalog.clearCache()
      val misses = (graft.ops.ResultCache.totalIndexMisses - miss0).toInt
      if (misses > 0)
        fixtureBuilds(name) = fixtureBuilds.getOrElse(name, 0) + misses
      val decided = graft.ops.RouteLog.recent.filter(_.seq > route0)
        .map(d => d.site + "=" + d.choice).distinct
      if (decided.nonEmpty)
        routes(name) = (routes.getOrElse(name, Seq.empty) ++ decided).distinct
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Best-of-2 on slow rows: the r9 recorded run carried a clustered
    // machine-noise burst (20 rows >2× their warm medians — contention/GC
    // during the driver's run) that misrepresented the engine; a single
    // rerun of any row whose first pass exceeds the threshold and taking
    // the min restores the steady-state number a long-running cluster
    // sees. 2 s catches every r9 outlier while bounding the extra wall
    // time to the (few) genuinely-slow rows.
    val rerunThreshold =
      sys.env.get("SPARK_GRAFT_RERUN_SEC").map(_.toDouble).getOrElse(2.0)
    val reruns = scala.collection.mutable.ListBuffer.empty[String]
    // Both pass times are disclosed: `queries` carries the min-of-
    // successful-passes (steady-state), `firstPass` the rerun rows'
    // first-pass times — so a single-pass total (`firstPassTotal`)
    // remains computable and cross-round / engine-vs-reference
    // comparisons stay apples-to-apples with pre-rerun rounds.
    val firstPass = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def runBoard(recordPasses: Boolean): (Seq[(String, Double)], Seq[String]) = {
      val failures = scala.collection.mutable.ListBuffer.empty[String]
      val board = SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .sortBy(_._1).map { case (name, fn) =>
        val (t1, ok1) = timeOne(name, fn, Some(failures))
        val t =
          if (t1 > rerunThreshold && ok1) {
            if (recordPasses) { reruns += name; firstPass(name) = t1 }
            val (t2, ok2) = timeOne(name, fn, failures = None)
            if (ok2) math.min(t1, t2) else t1
          } else t1
        name -> t
      }
      (board, failures.toSeq)
    }
    // Board-noise guard: run 53 of r11 recorded a uniformly-cold board 15%
    // above the session's warm band even though per-row best-of-2 fired 19
    // times — environmental noise can be board-wide, not per-row. The warm
    // band is the median PER-QUERY MEAN of the last 5 same-sf runs in
    // BENCH_LOCAL.json (per-query mean, not total, so a round that adds
    // rows doesn't skew the comparison); if this board's mean exceeds it
    // by >10%, the whole board reruns once and the better board is
    // recorded, with both totals disclosed under "boardTotals".
    // ONE parser for prior BENCH_LOCAL lines — both history consumers
    // (warm-band guard, best-known ledger) read through it, so a format
    // change to the emitted line is fixed in one place
    final case class PriorLine(sf: String, value: Double,
      queries: Seq[(String, Double)], failed: Set[String])
    def priorLines(): Seq[PriorLine] =
      try {
        val p = java.nio.file.Paths.get("BENCH_LOCAL.json")
        if (!java.nio.file.Files.exists(p)) Seq.empty
        else {
          import scala.jdk.CollectionConverters._
          val sfRe = "\"sf\":\"([^\"]+)\"".r
          val valRe = "\"value\":([0-9.Ee+-]+)".r
          val qRe = "\"queries\":\\{([^}]*)\\}".r
          val fRe = "\"failed\":\\[([^\\]]*)\\]".r
          val pairRe = "\"([^\"]+)\":([0-9.Ee+-]+)".r
          val nameRe = "\"([^\"]+)\"".r
          java.nio.file.Files.readAllLines(p).asScala.toSeq.flatMap { l =>
            for {
              s <- sfRe.findFirstMatchIn(l).map(_.group(1))
              v <- valRe.findFirstMatchIn(l).map(_.group(1).toDouble)
              q <- qRe.findFirstMatchIn(l).map(_.group(1))
            } yield PriorLine(s, v,
              pairRe.findAllMatchIn(q)
                .map(m => m.group(1) -> m.group(2).toDouble).toSeq,
              fRe.findFirstMatchIn(l)
                .map(m => nameRe.findAllMatchIn(m.group(1))
                  .map(_.group(1)).toSet)
                .getOrElse(Set.empty))
          }
        }
      } catch { case _: Throwable => Seq.empty }
    val history = priorLines().filter(_.sf == sfDir)
    // ONE definition of "full board" for every history consumer (the
    // warm-band guard and the best-known ledger): dev-subset runs
    // (SPARK_GRAFT_ONLY) append lines too, and a few-row line's rows run
    // warmer than any full board — skewing the warm band and tightening
    // the regression threshold if either consumer ingested them
    val fullBoards = history.filter(_.queries.size >= 50)
    def warmBandMean(): Option[Double] = {
      val means = fullBoards
        .map(l => l.value / l.queries.size).takeRight(5)
      if (means.size < 3) None else Some(means.sorted.apply(means.size / 2))
    }
    // Per-row BEST-KNOWN-TIME ledger: the min each query has ever
    // recorded on this machine at this sf — over full boards only (the
    // shared filter above). Within-round spread on unchanged rows makes
    // single-board row deltas unreliable; a row is flagged a REGRESSION
    // only when its kept time exceeds 2× its best-known AND by more
    // than 0.5 s absolute (sub-second rows flip on scheduling noise
    // alone), making round-over-round adjudication mechanical instead
    // of forensic.
    // A FAILED row's near-zero time must never become its best-known
    // (the line's own `failed` list exists exactly because fast-fail
    // must not read as a speedup) — drop each line's failed names
    // before taking the min.
    val bestKnown: Map[String, Double] = fullBoards
      .flatMap(l => l.queries.filterNot { case (k, _) => l.failed(k) })
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val (board1, failed1) = runBoard(recordPasses = true)
    val total1 = board1.map(_._2).sum
    val guard = if (only.isEmpty && board1.nonEmpty) warmBandMean() else None
    val (results, failed, boardTotals) = guard match {
      case Some(band) if total1 / board1.size > band * 1.10 =>
        System.err.println(
          f"[bench] board guard: ${total1 / board1.size}%.3f s/query vs warm band " +
            f"$band%.3f (+>10%%) — rerunning the full board once")
        val (board2, failed2) = runBoard(recordPasses = false)
        val total2 = board2.map(_._2).sum
        // the kept board's failures are the ones emitted: a failing row
        // shrinks its board's total, so prefer the board with FEWER
        // failures before comparing totals — a fast-fail must never buy
        // a board the win
        val keep2 = failed2.size < failed1.size ||
          (failed2.size == failed1.size && total2 < total1)
        if (keep2) (board2, failed2, Seq(total1, total2))
        else (board1, failed1, Seq(total1, total2))
      case _ => (board1, failed1, Seq(total1))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // `failed` makes breakage explicit: a query that throws contributes a
    // near-zero time, which must not read as a speedup.
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rerunJson = reruns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val firstPassJson = firstPass.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // first-pass semantics are board 1's (the only board with pass records)
    val firstPassTotal = board1.map { case (k, v) =>
      firstPass.getOrElse(k, v) }.sum
    val boardTotalsJson = boardTotals.mkString("[", ",", "]")
    val fixtureBuildsJson = fixtureBuilds
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // regressions vs best-known: {"row":[kept, best]} — kept > 2× best
    // and > best + 0.5 s. Rows that paid a cold fixture build this run
    // are excluded (the build cost is already disclosed in
    // fixtureBuilds; double-reporting it as a serve regression would
    // make every cache-cold round a wall of false positives), as are
    // this run's failed rows (their time is a fast-fail, not a serve).
    val regressions = regressionRows(results,
      fixtureBuilds.keySet.toSet, failed.toSet, bestKnown)
    val regressionsJson = regressions
      .map { case (k, v, b) => "\"" + k + "\":[" + v + "," + b + "]" }
      .mkString("{", ",", "}")
    val contendedJson = contended(regressions.size).toString
    val routesJson = routes
      .map { case (k, v) => "\"" + k + "\":\"" + v.mkString(",") + "\"" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"reruns":$rerunJson,"firstPass":$firstPassJson,"firstPassTotal":$firstPassTotal,"boardTotals":$boardTotalsJson,"fixtureBuilds":$fixtureBuildsJson,"regressions":$regressionsJson,"contended":$contendedJson,"routes":$routesJson,"sf":"$sfDir"}"""
    println(line)
    // Persist the line too: the driver's tail capture truncates long JSON
    // (BENCH_r07/r08 both recorded "parsed": null), so per-query history
    // would otherwise be lost between rounds. One line appended per run.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist BENCH_LOCAL.json: ${e.getMessage}")
    }
    // Cache audit (stderr — the stdout JSON line is the driver contract):
    // hit/miss counts per cache kind and the misses' paths, from the
    // in-memory decision log, so a bench reader can tell which fixtures
    // were served standing vs rebuilt in-row without /tmp forensics.
    val ev = graft.ops.ResultCache.recentEvents
    ev.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, es) =>
      val (hits, misses) = es.partition(_.hit)
      System.err.println(
        s"[bench] cache $kind: ${hits.size} hits, ${misses.size} misses" +
          (if (misses.isEmpty) ""
           else misses.map(_.path).distinct.mkString(" (built: ", ", ", ")")))
    }
    spark.stop()
  }
}
