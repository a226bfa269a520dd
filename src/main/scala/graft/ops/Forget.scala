package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.ingest.ManifestLog
import graft.vector.Embedding

/** Right-to-be-forgotten propagation — the compliance-deletion shape a
  * 100 TB training corpus actually needs: deleting a document must take
  * effect across EVERY serving surface (retrieval indexes, exports) at
  * once, without rewriting any of them. The reference's store can only
  * delete from its single collection (`ingest_chunks_to_chromadb.py`
  * upserts per chunk); here deletion is LOGICAL and centralized:
  *
  *   - one `_forget` ledger at the corpus root, committed through the
  *     multi-writer CAS [[ManifestLog]] — a forget is ONE commit, and
  *     concurrent forgetters merge (the loser retries on the winner's
  *     head, both ids survive);
  *   - every surface consults the ledger at serve time via a broadcast
  *     anti-join (the ledger is KB-scale — forgotten ids, not rows), so
  *     NO store is rewritten: posting files, embeddings, and data files
  *     are untouched, and un-forgetting (legal hold) would be one more
  *     commit;
  *   - physical reclamation stays where it already lives — the index
  *     families' tombstone folds and vacuums — with the ledger as the
  *     authoritative exclusion until they run.
  *
  * SCOPE — what "every serving surface" means precisely: the ledger
  * governs RETRIEVAL serving (exact knn, all six ANN families, BM25,
  * MaxSim, the pinned graph walks) and the training-EXPORT scan — the
  * surfaces that answer queries over corpus ids, wired explicitly via
  * [[excludingIds]] or default-on via [[RootConf]]. The lakehouse ROW-
  * TABLE surfaces (`Lakehouse.morSnapshot`, `timeTravelScan`, the CDC
  * replica) are deliberately OUTSIDE it: their contract is byte-faithful
  * reproduction of a pinned snapshot — a time-travel read that silently
  * dropped rows from v1-as-committed would falsify history and break
  * every snapshot-pinned audit downstream. Compliance deletion for
  * those tables is PHYSICAL and versioned: [[reclaimTable]] rewrites
  * the table (the new snapshot simply lacks the rows) and retires the
  * ledger; a table that must pair a snapshot advance WITH a serve-time
  * exclusion uses the composed [[commitSnapshotForget]] log, where the
  * (files, forgotten) pair is atomic per version and version-pinned
  * reads apply THEIR version's exclusion (`snapshot_forget_atomic`).
  *
  * The propagation driver row forgets one of ten planted copies of doc 0
  * and serves THREE surfaces through the one ledger: exact doc-embedding
  * knn, the MaxSim posting index, and the training-export scan; the ANN
  * row ([[forgetAnnFamiliesTopk]]) extends the same commit to four index
  * family serves (lsh/ivf pruned read-backs via the broadcast anti-join,
  * hnsw/nsw resident pins via the serve-tail exclude set). Output is
  * (surface, rank, doc_id) — rank-based, so one enumerable oracle covers
  * surfaces whose score scales differ.
  */
object Forget extends QueryModule {

  private def ledgerDir(root: String) = root + "/_forget"

  private val KeepVersions = 64L

  /** Commit + bounded version expiry — without it every forget/retire
    * leaves a version file forever and every serve-time ledger read
    * pays an O(all-time-forgets) directory listing. Same 64-version
    * margin discipline as the batch roster (see its class doc for why
    * expiring to the head races readers).
    *
    * The committed head also refreshes the snapshot cache below: the
    * update closure runs LAST on the winning head, so `(v, lines)` is
    * exactly the content the CAS installed — and a fixture that deletes
    * a ledger root out-of-band and re-commits from v1 (version numbers
    * restart) lands its fresh content in the cache through this path,
    * never serving the prior incarnation's same-numbered snapshot. An
    * out-of-band delete+recreate from ANOTHER process (no commit in
    * this JVM to refresh the cache) is caught by the head FINGERPRINT
    * in the cache entry — the recreated head's length/mtime differ, so
    * the next read misses and re-reads the new incarnation. */
  private def commitBounded(spark: SparkSession, root: String,
      update: Seq[String] => Seq[String]): Unit = {
    // DROP the cached entry BEFORE the install, not just refresh after:
    // on a deleted-and-recreated ledger root (the fixture shape) the new
    // head reuses version numbers, and a concurrent reader probing
    // between the CAS install and a post-commit put could version-match
    // the PRIOR incarnation's cached snapshot. With the entry gone first,
    // that reader misses and re-reads the manifest; the old manifest
    // files are already deleted, so there is no stale content to cache.
    ledgerCache.remove(root)
    var committed: Seq[String] = Nil
    val v = ManifestLog.commit(spark, ledgerDir(root), head => {
      committed = update(head); committed
    })
    ledgerCache.put(root,
      (v, ManifestLog.versionFingerprint(spark, ledgerDir(root), v),
        committed.map(_.toLong)))
    if (v > KeepVersions)
      ManifestLog.expire(spark, ledgerDir(root), keepFrom = v - KeepVersions)
  }

  /** Forget ids — ONE CAS commit; concurrent forgetters merge. */
  def forget(spark: SparkSession, root: String, ids: Seq[Long]): Unit =
    commitBounded(spark, root,
      head => (head ++ ids.map(_.toString)).distinct.sortBy(_.toLong))

  /** Un-forget (legal hold / erroneous-forget rollback) — the flip side
    * logical deletion makes possible and physical deletion cannot offer:
    * ONE CAS commit removing ids from the ledger, and every surface
    * resumes serving them on its next read — the bytes were never
    * touched. Only ids still IN the ledger can be restored; a reclaimed
    * (physically deleted) id is gone, which is exactly the ledger's
    * retire contract. Concurrent un-forgetters merge like forgetters.
    *
    * Returns the ids ACTUALLY removed from the ledger (from the same
    * committed head the CAS applied — the closure runs last on the
    * winning head). An unforget can race [[reclaimTable]]: between
    * reclaim's ledger read and its retire commit, the id is still in the
    * ledger, but its bytes are being physically deleted — the restore is
    * then a silent no-op. A caller that requires the restore to be real
    * must check its ids are in the returned set AFTER any concurrent
    * reclaim's retire (a missing id means reclamation won: the bytes are
    * gone and no ledger edit can bring them back). */
  def unforget(spark: SparkSession, root: String,
      ids: Seq[Long]): Seq[Long] = {
    val drop = ids.map(_.toString).toSet
    var removed: Seq[Long] = Nil
    commitBounded(spark, root, head => {
      removed = head.filter(drop.contains).map(_.toLong)
      head.filterNot(drop.contains)
    })
    removed
  }

  // ---- version-stamped ledger snapshot cache ---------------------------
  // root -> (head version, head fingerprint, ids). Every read still pays
  // ONE `currentVersion` probe (a directory listing — no manifest file
  // is opened), but the manifest BODY is re-read only when the CAS head
  // moved: a query composing several conf-armed serve tails (the
  // default-on deployment shape) pays one manifest read per ledger
  // VERSION instead of one per surface, and all surfaces built while the
  // head is unchanged observe the identical snapshot. Version numbers
  // are never reused within one log incarnation (ManifestLog.expire only
  // deletes below the head), so version equality alone covers the
  // append-only discipline; the FINGERPRINT (head-file length × mtime,
  // from the same listing — no extra RPC) covers the one case outside
  // it: a DIFFERENT process deleting and re-creating a root, whose fresh
  // log restarts at the same version numbers — without it this JVM
  // would serve the prior incarnation's same-numbered snapshot until
  // its own next commit. Stale entries are never served: a new CAS head
  // fails the version check, a recycled root fails the fingerprint
  // check, and the next read repopulates (both spec-pinned in
  // ForgetSpec).
  private val ledgerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Seq[Long])]()

  /** Monotonic count of ledger manifest BODY reads — cache-audit
    * instrumentation (ForgetSpec counts reads per composed serve). */
  private[graft] val ledgerManifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The current forgotten-id set (empty on a fresh root). A vanished
    * head (an expiry racing the read) retries then THROWS — an empty
    * read here would silently serve forgotten docs. Served from the
    * version-stamped cache above whenever the head is unchanged. */
  def forgottenIds(spark: SparkSession, root: String): Seq[Long] = {
    val dir = ledgerDir(root)
    var attempt = 0
    while (attempt < 5) {
      val (v, fp) = ManifestLog.currentVersionFingerprinted(spark, dir)
      if (v == 0L) return Seq.empty
      val cached = ledgerCache.get(root)
      if (cached != null && cached._1 == v && cached._2 == fp)
        return cached._3
      ManifestLog.read(spark, dir, v) match {
        case Some(lines) =>
          ledgerManifestReads.incrementAndGet()
          val ids = lines.map(_.toLong)
          ledgerCache.put(root, (v, fp, ids))
          return ids
        case None => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"forget ledger head vanished mid-read 5x under $dir — refusing " +
        "to treat it as empty (that would serve forgotten docs)")
  }

  /** Serve-time exclusion: broadcast anti-join against the ledger — the
    * KB-scale exclusion every frame-shaped serving surface (ANN index
    * read-backs, exports, BM25 score frames) applies before its top-k.
    * Resident-pinned surfaces take the same ids as a serve-tail `exclude`
    * set instead (`GraphAnn.nswServedSearch`/`hnswServedSearch`) — the
    * pin stays pure index-version state, so a forget flips the next
    * serve without a pin rebuild. */
  private[graft] def excludingIds(df: DataFrame, root: String,
      idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ids = forgottenIds(spark, root)
    if (ids.isEmpty) df
    else df.join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_anti")
  }

  /** DEFAULT-ON exclusion conf: set `spark.graft.forget.root` to a corpus
    * root and every standing serve tail — the LSH/IVF pruned read-backs,
    * the quantized coarse passes, the pinned graph walks, the BM25
    * posting serve, the MaxSim posting serves — applies the root's
    * ledger automatically, closing the gap between "every serving
    * surface consults the ledger" and per-row opt-in wiring: a
    * production deployment arms the conf once instead of remembering
    * `excludingIds` at each of ~100 serve sites. Unset (the default),
    * every serve is byte-identical to before — the driver rows wire
    * their exclusions explicitly against their own scratch roots. */
  val RootConf = "spark.graft.forget.root"

  private[graft] def defaultRoot(spark: SparkSession): Option[String] =
    spark.conf.getOption(RootConf).filter(_.trim.nonEmpty)

  /** The serve-tail hook for frame-shaped surfaces: a broadcast anti-join
    * against the conf root's ledger, or the frame untouched when the conf
    * is unset. Applied BEFORE the surface's top-k/scoring, so a forgotten
    * id never under-fills k or pays embedding work. */
  private[graft] def defaultExclusion(df: DataFrame,
      idCol: String): DataFrame =
    defaultRoot(df.sparkSession) match {
      case Some(root) => excludingIds(df, root, idCol)
      case None => df
    }

  /** The serve-tail hook for RESIDENT-pinned surfaces (graph walks),
    * which take an id SET rather than joining a frame: the conf root's
    * ledger ids, empty when unset. Callers union it with their explicit
    * exclude set — it stays serve-tail state, never pin state. */
  private[graft] def defaultExcludeIds(spark: SparkSession): Set[Long] =
    defaultRoot(spark).map(forgottenIds(spark, _).toSet)
      .getOrElse(Set.empty)
  /** Fixture-coupling guard (the ledger/cache decoupling defect): the
    * fixture rows commit their forget INSIDE a `buildIfAbsent` closure
    * whose marker lives on the INDEX path — selective scratch cleanup of
    * the ledger root alone would hit the marker yet read an empty ledger
    * and silently re-serve the forgotten doc. Every fixture serve calls
    * this first: if the committed id is missing from the ledger head, the
    * forget is re-established (one idempotent CAS commit) before any
    * exclusion is computed. */
  private def ensureForgotten(spark: SparkSession, root: String,
      ids: Seq[Long]): Unit = {
    val head = forgottenIds(spark, root).toSet
    if (!ids.forall(head.contains)) forget(spark, root, ids)
  }

  private val TokenDim = 64
  private val PlantedBase = 100000L
  private val Copies = 10
  private val K = 10

  /** Ten exact copies of doc 0 planted (ids 100000..100009) so each
    * retrieval surface's tie set OVERFILLS k; forgetting the first
    * copy leaves exactly k tie docs — enumerable, and any surface the
    * ledger fails to reach surfaces the forgotten id. */
  def forgetPropagatedTopk(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val srcText = d.filter(col("doc_id") === 0L)
      .select("text").head().getString(0)
    import spark.implicits._
    val copies = (0 until Copies)
      .map(i => (PlantedBase + i, srcText)).toDF("doc_id", "text")
    val corpus = d.unionByName(copies)

    // standing MaxSim posting fixture (built once, NO tombstones — the
    // ledger is the only exclusion mechanism in this row). The writer is
    // LateInteraction's OWN (one definition of the wb= bucketing the
    // probe prunes on — an inline copy could silently drift), and the
    // cache key carries the bucket count for the same reason.
    val path = Tables.scratchPath("maxsim_postings_fgt", dir)
    val root = Tables.scratchPath("forget_root", dir)
    ResultCache.buildIfAbsent(spark, corpus,
      s"forget:dim=$TokenDim:wb=${LateInteraction.WindowBuckets}:" +
        s"copies=$Copies:v2", path) {
      LateInteraction.writePostings(corpus, path, "overwrite")
      // reset the ledger with the fixture (buildIfAbsent keys on corpus
      // content), then THE forget: one commit, all surfaces flip
      val lp = new org.apache.hadoop.fs.Path(ledgerDir(root))
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      forget(spark, root, Seq(PlantedBase))
    }
    ensureForgotten(spark, root, Seq(PlantedBase))
    val served = excludingIds(corpus, root)

    // surface 1: exact doc-embedding knn (identical text → identical
    // hashed embedding → cosine exactly 1.0 for every surviving copy)
    val qv = Embedding.hashingEmbed(srcText, TokenDim)
    val embed = udf((t: String) => Embedding.hashingEmbed(t, TokenDim))
    val knn = served
      .withColumn("score", round(graft.vector.VectorFunctions.cosineUnit(
        embed(col("text")), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("doc_id").asc).limit(K)
      .select(lit("knn").as("surface"), col("doc_id"))

    // surface 2: the MaxSim posting index — candidates still contain the
    // forgotten id (no store rewrite); the ledger-filtered corpus drops
    // it at the rescore semi-join
    val maxsim = LateInteraction.servePostings(spark, served, srcText, path)
      .select(lit("maxsim").as("surface"), col("doc_id"))

    // surface 3: the training-export scan (what a dataset dump ships)
    val export = served.filter(col("doc_id") >= PlantedBase)
      .orderBy("doc_id").limit(K)
      .select(lit("export").as("surface"), col("doc_id"))

    knn.unionByName(maxsim).unionByName(export)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("surface").orderBy("doc_id")))
      .select("surface", "rank", "doc_id")
      .orderBy("surface", "rank")
  }

  /** The ledger reaching the six ANN INDEX FAMILIES — the largest serving
    * surface in the store, and the fan-out the ledger exists to solve
    * (the reference deletes per collection entry,
    * `ingest_chunks_to_chromadb.py:93-107`; here ~85 index serves must
    * all flip on ONE commit). Ten exact copies of vector 0 are planted
    * (the tie set OVERFILLS k), ALL SIX family serves run against
    * PERSISTED indexes built BEFORE the forget, and one ledger commit
    * must remove the forgotten copy from every family's top-k:
    *
    *   - lsh / ivf: the partition-pruned index read-back with the
    *     ledger's broadcast anti-join BEFORE the top-k — no index file
    *     rewritten;
    *   - ivf-sq8 / ivf-pq: the quantized cores (int8 coarse rank / ADC)
    *     over the ledger-excluded pruned frame — a forgotten id never
    *     even coarse-scores;
    *   - hnsw / nsw: the RESIDENT-pinned graph serves, taking the ledger
    *     ids as the serve-tail `exclude` set — deliberately NOT folded
    *     into the pin stamp, so the pinned view stays pure
    *     index-version state and a forget flips the next serve with ZERO
    *     pin rebuild (stronger than invalidation: no rebuild cost, no
    *     stale-window race; ForgetSpec pins pinBuilds is unchanged
    *     across the flip).
    *
    * Output is (surface, rank, vec_id) — the rank-based construction the
    * propagation row established, one enumerable oracle over surfaces
    * with different score scales. */
  def forgetAnnFamiliesTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.vector.IndexBuilder
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val copies = AnnIndex.plantedLocalRows(spark, e,
      (0 until Copies).map(i => (PlantedBase + i) -> 0L))
    val corpus = e.unionByName(copies)
    val lsh = AnnIndex.defaultLsh
    val base = Tables.scratchPath("forget_ann", dir)
    val root = Tables.scratchPath("forget_ann_root", dir)
    ResultCache.buildIfAbsent(spark, corpus,
      s"forget:ann:bits=${lsh.nBits}:m=8:ivf=8:copies=$Copies:v2", base) {
      IndexBuilder.buildLshIndex(corpus, "embedding", lsh, base + "/lsh")
      IndexBuilder.buildIvfIndex(corpus, "embedding", numClusters = 8,
        seed = 42L, base + "/ivf")
      graft.vector.Quantization.buildIvfSq8Index(corpus, "embedding",
        numClusters = 8, seed = 42L, base + "/sq8")
      graft.vector.ProductQuantization.buildIvfPqIndex(corpus, "embedding",
        numClusters = 8, seed = 42L, base + "/pq")
      graft.vector.GraphAnn.buildHnswGraph(
        corpus, "embedding", "vec_id", lsh, m = 8, base + "/hnsw")
      val lp = new org.apache.hadoop.fs.Path(ledgerDir(root))
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      // THE forget: one CAS commit, all six family serves below flip
      forget(spark, root, Seq(PlantedBase))
    }
    ensureForgotten(spark, root, Seq(PlantedBase))
    // ONE ledger read for the whole frame: the six surfaces must serve
    // the SAME ledger snapshot (per-surface re-reads could interleave
    // with a concurrent forget and emit an internally inconsistent
    // frame), and a serve should not pay six manifest reads
    val exclIds = forgottenIds(spark, root)
    val excl = exclIds.toSet
    def excludingSnapshot(df: DataFrame): DataFrame = {
      import spark.implicits._
      if (exclIds.isEmpty) df
      else df.join(broadcast(exclIds.toDF("vec_id")), Seq("vec_id"),
        "left_anti")
    }
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    def score(c: org.apache.spark.sql.Column) = round(
      graft.vector.VectorFunctions.cosineUnit(c, typedlit(qv.toSeq)), 6)

    // lsh: pruned probe over the persisted index, ledger anti-join
    // BEFORE the top-k (after it would under-fill k)
    val probes = lsh.probes(lsh.signature(qv.toSeq), radius = 1)
    val lshServe = excludingSnapshot(spark.read.parquet(base + "/lsh"))
      .filter(col("bucket").isin(probes: _*))
      .withColumn("score", score(col("embedding")))
      .orderBy(col("score").desc, col("vec_id").asc).limit(K)
      .select(lit("lsh").as("surface"), col("vec_id"))

    // ivf: nearest-centroid pruned scan of the persisted index
    val centers = IndexBuilder.loadIvfCentroids(base + "/ivf")
    val probeClusters = IndexBuilder.nearestClusters(centers, qv, nProbe = 2)
    val ivfServe = excludingSnapshot(spark.read.parquet(base + "/ivf"))
      .filter(col("cluster_id").isin(probeClusters: _*))
      .withColumn("score", score(col("embedding")))
      .orderBy(col("score").desc, col("vec_id").asc).limit(K)
      .select(lit("ivf").as("surface"), col("vec_id"))

    // ivf-sq8 / ivf-pq: the quantized families' coarse-rank + rescore
    // cores over their ledger-excluded pruned index frames — the
    // exclusion precedes the coarse pass, so a forgotten id never even
    // quantize-scores
    val sq8Centers = IndexBuilder.loadIvfCentroids(base + "/sq8")
    val sq8Probes = IndexBuilder.nearestClusters(sq8Centers, qv, nProbe = 2)
    val sq8Serve = graft.vector.Quantization.quantizedKnn(
        excludingSnapshot(spark.read.parquet(base + "/sq8"))
          .filter(col("cluster_id").isin(sq8Probes: _*)),
        "embedding", "vec_id", qv, k = K)
      .select(lit("ivfsq8").as("surface"), col("vec_id"))
    val pqCenters = IndexBuilder.loadIvfCentroids(base + "/pq")
    val pqBooks = graft.vector.ProductQuantization.loadPqCodebooks(base + "/pq")
    val pqProbes = IndexBuilder.nearestClusters(pqCenters, qv, nProbe = 2)
    val pqServe = graft.vector.ProductQuantization.pqSearchEncoded(
        excludingSnapshot(spark.read.parquet(base + "/pq"))
          .filter(col("cluster_id").isin(pqProbes: _*)),
        "embedding", "vec_id", pqBooks, qv, k = K, overscan = 16)
      .select(lit("ivfpq").as("surface"), col("vec_id"))

    // hnsw ladder + flat nsw (the ladder's layer 0 IS an NSW graph):
    // both through the RESIDENT pin, excluded at the serve tail
    val hnswServe = graft.vector.GraphAnn.hnswServedSearch(
        spark, base + "/hnsw", corpus, "embedding", "vec_id",
        Seq((0L, qv)), k = K, exclude = excl)
      .select(lit("hnsw").as("surface"), col("vec_id"))
    val nswServe = graft.vector.GraphAnn.nswServedSearch(
        spark, base + "/hnsw", corpus, "embedding", "vec_id",
        Seq((0L, qv)), k = K, exclude = excl)
      .select(lit("nsw").as("surface"), col("vec_id"))

    lshServe.unionByName(ivfServe).unionByName(sq8Serve)
      .unionByName(pqServe).unionByName(hnswServe)
      .unionByName(nswServe)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("surface").orderBy("vec_id")))
      .select("surface", "rank", "vec_id")
      .orderBy("surface", "rank")
  }

  /** Every family's post-forget top-10 is the surviving tie set — vec 0
    * plus the nine surviving copies — ranked by vec_id. */
  private val forgetAnnFamiliesOracle =
    """WITH ties AS (
      |  SELECT CAST(0 AS BIGINT) AS vec_id
      |  UNION ALL
      |  SELECT e.vec_id + 100001 FROM embeddings e WHERE e.vec_id < 9),
      |surfaces AS (
      |  SELECT 'hnsw' AS surface UNION ALL SELECT 'ivf'
      |  UNION ALL SELECT 'ivfpq' UNION ALL SELECT 'ivfsq8'
      |  UNION ALL SELECT 'lsh' UNION ALL SELECT 'nsw')
      |SELECT surface, CAST(row_number() OVER (
      |    PARTITION BY surface ORDER BY vec_id) AS INT) AS rank, vec_id
      |FROM surfaces CROSS JOIN ties
      |ORDER BY surface, rank""".stripMargin

  /** The ledger reaching the LEXICAL index — BM25's scores depend on
    * corpus statistics, so the enumerable construction differs from the
    * vector surfaces: ten planted docs carry a sentinel term that exists
    * NOWHERE else in the corpus (spec-verified), so the posting list for
    * that term is exactly the planted set, all ten texts are identical
    * (identical tf/dl ⇒ identical score ⇒ ties order by doc_id), and the
    * serve's output is rank-based — the tie VALUE (which moves with
    * n_docs/avgdl) never enters the oracle. The forgotten doc is
    * excluded by the ledger anti-join on the SERVE; the inverted index
    * is never rewritten. */
  private val Sentinel = "zzqqgraftsentinel"

  def forgetBm25Topn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = (0 until Copies).map(i =>
      (PlantedBase + i, s"$Sentinel alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .unionByName(planted)
    val path = Tables.scratchPath("bm25_fgt", dir)
    val root = Tables.scratchPath("forget_bm25", dir)
    ResultCache.buildIfAbsent(spark, docs, "forget:bm25:v1", path) {
      Rag.buildBm25Index(docs, path)
      val lp = new org.apache.hadoop.fs.Path(ledgerDir(root))
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      forget(spark, root, Seq(PlantedBase))
    }
    ensureForgotten(spark, root, Seq(PlantedBase))
    val scores = Rag.bm25IndexedScores(spark, path, Seq(Sentinel))
    excludingIds(scores, root)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(K)
      // unpartitioned window over the LIMIT-K frame only — bounded
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      .select("rank", "doc_id")
      .orderBy("rank")
  }

  /** The DEFAULT-ON conf as a CORRECTNESS row: ten copies of vector 0
    * planted, one forgotten on a dedicated root, and two STANDING serve
    * cores — `IndexBuilder.lshTopK` and `IndexBuilder.ivfTopK`, neither
    * wired with `excludingIds` — served with `spark.graft.forget.root`
    * armed. The exclusion the row observes comes ONLY from the conf
    * hook at the serve tails, proving a deployment gets compliance
    * exclusion by setting one conf. The row arms an ISOLATED
    * `spark.newSession()` — own SQL conf, shared SparkContext — and
    * builds every serve frame from it, so the shared session's conf is
    * NEVER touched: no serial-construction assumption, no armed window
    * a concurrent plan builder could observe (`defaultExclusion` reads
    * the frame's OWN session conf at plan construction). */
  def forgetConfDefaultTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.vector.IndexBuilder
    val root = Tables.scratchPath("forget_confrow", dir)
    if (forgottenIds(spark, root) != Seq(PlantedBase))
      forget(spark, root, Seq(PlantedBase))
    val armed = spark.newSession()
    armed.conf.set(RootConf, root)
    val e = Tables.embeddings(armed, dir).select("vec_id", "embedding")
    val copies = AnnIndex.plantedLocalRows(armed, e,
      (0 until Copies).map(i => (PlantedBase + i) -> 0L))
    val corpus = e.unionByName(copies)
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val lshServe = IndexBuilder.lshTopK(corpus, "embedding", "vec_id",
        AnnIndex.defaultLsh, qv, k = K, radius = 1)
      .select(lit("lsh").as("surface"), col("vec_id"))
    val ivfServe = IndexBuilder.ivfTopK(corpus, "embedding", "vec_id",
        qv, k = K, numClusters = 8, nProbe = 2, seed = 42L)
      .select(lit("ivf").as("surface"), col("vec_id"))
    lshServe.unionByName(ivfServe)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("surface").orderBy("vec_id")))
      .select("surface", "rank", "vec_id")
      .orderBy("surface", "rank")
  }

  /** Both standing cores serve the surviving tie set — vec 0 plus the
    * nine unforgotten copies — with no per-row exclusion wiring. */
  private val forgetConfDefaultOracle =
    """WITH ties AS (
      |  SELECT CAST(0 AS BIGINT) AS vec_id
      |  UNION ALL
      |  SELECT e.vec_id + 100001 FROM embeddings e WHERE e.vec_id < 9),
      |surfaces AS (SELECT 'ivf' AS surface UNION ALL SELECT 'lsh')
      |SELECT surface, CAST(row_number() OVER (
      |    PARTITION BY surface ORDER BY vec_id) AS INT) AS rank, vec_id
      |FROM surfaces CROSS JOIN ties
      |ORDER BY surface, rank""".stripMargin

  /** The UN-FORGET row — the legal-hold flip as a first-class serve:
    * ELEVEN copies of doc 0 planted, TWO forgotten in one commit, ONE
    * restored by `unforget` — the ledger ends at exactly {100001}, and
    * two surfaces (doc-embedding knn, the training-export scan) must
    * serve the RESTORED copy again while still excluding the
    * still-forgotten one. The whole point of logical deletion: the
    * restore touched no store — one CAS commit and the next read serves
    * the bytes that were never rewritten. No fixture marker: the row
    * re-establishes the forget→unforget sequence whenever the ledger
    * head is not the expected final state (the ledger root is exclusive
    * to this row), so the real `unforget` — and its returned
    * actually-removed set — exercises on every fresh scratch. */
  def forgetUnforgetTopk(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val srcText = d.filter(col("doc_id") === 0L)
      .select("text").head().getString(0)
    import spark.implicits._
    val copies = (0 until (Copies + 1))
      .map(i => (PlantedBase + i, srcText)).toDF("doc_id", "text")
    val corpus = d.unionByName(copies)
    val root = Tables.scratchPath("forget_unfgt", dir)
    if (forgottenIds(spark, root).toSet != Set(PlantedBase + 1)) {
      forget(spark, root, Seq(PlantedBase, PlantedBase + 1))
      val restored = unforget(spark, root, Seq(PlantedBase))
      require(restored == Seq(PlantedBase),
        s"unforget must report the restored id, got $restored — a lost " +
          "reclaim race would surface here instead of no-op'ing")
    }
    val served = excludingIds(corpus, root)
    val qv = Embedding.hashingEmbed(srcText, TokenDim)
    val embed = udf((t: String) => Embedding.hashingEmbed(t, TokenDim))
    val knn = served
      .withColumn("score", round(graft.vector.VectorFunctions.cosineUnit(
        embed(col("text")), typedlit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("doc_id").asc).limit(K)
      .select(lit("knn").as("surface"), col("doc_id"))
    val export = served.filter(col("doc_id") >= PlantedBase)
      .orderBy("doc_id").limit(K)
      .select(lit("export").as("surface"), col("doc_id"))
    knn.unionByName(export)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("surface").orderBy("doc_id")))
      .select("surface", "rank", "doc_id")
      .orderBy("surface", "rank")
  }

  /** Ties: doc 0's twins, the RESTORED copy 100000, and the untouched
    * copies 100002..100010 — the still-forgotten 100001 in neither
    * surface; both surfaces rank their tie set by id at k=10. */
  private val forgetUnforgetOracle =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
      |    x -> length(x) > 0) AS tk
      |  FROM documents),
      |q AS (SELECT tk FROM toks WHERE doc_id = 0),
      |ties AS (
      |  SELECT t.doc_id FROM toks t, q WHERE t.tk = q.tk
      |  UNION ALL
      |  SELECT CAST(100000 AS BIGINT)
      |  UNION ALL
      |  SELECT d.doc_id + 100002 FROM documents d WHERE d.doc_id < 9)
      |SELECT surface, CAST(row_number() OVER (
      |    PARTITION BY surface ORDER BY doc_id) AS INT) AS rank, doc_id
      |FROM (
      |  SELECT 'knn' AS surface, doc_id
      |  FROM (SELECT doc_id FROM ties ORDER BY doc_id LIMIT 10)
      |  UNION ALL
      |  SELECT 'export', doc_id
      |  FROM (SELECT doc_id FROM ties WHERE doc_id >= 100000
      |        ORDER BY doc_id LIMIT 10))
      |ORDER BY surface, rank""".stripMargin

  /** Only the nine surviving sentinel carriers can match; rank by id. */
  private val forgetBm25Oracle =
    """SELECT CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rank,
      |       doc_id
      |FROM (SELECT 100001 + d.doc_id AS doc_id
      |      FROM documents d WHERE d.doc_id < 9)
      |ORDER BY rank""".stripMargin

  /** PHYSICAL reclamation — the deep-delete half of the lifecycle: the
    * ledger makes deletion take effect instantly and cheaply; compliance
    * eventually requires the BYTES gone too. `reclaimPostings` rewrites
    * the posting table dropping every forgotten id (partition layout
    * preserved — the probe shape is unchanged), then RETIRES the
    * reclaimed ids from the ledger in one CAS commit, so serving no
    * longer pays the exclusion for ids that are physically gone. The
    * ledger is therefore always exactly the logically-but-not-yet-
    * physically deleted set — it cannot grow unboundedly. Ids in the
    * table's `_tombstones` sidecar reclaim in the SAME rewrite (the
    * sidecar does not survive it), and the swap is crash-recoverable:
    * a fully-staged rewrite found with the table absent is installed
    * on the next call. */
  def reclaimPostings(spark: SparkSession, root: String,
      path: String): Unit =
    reclaimTable(spark, root, path, partitionCols = Seq("wb"))

  /** The ONE manifest-versioned reclaim core, shared by every reclaimed
    * table shape — the posting index's `wb=` layout and the export
    * document table's flat layout (one implementation so the
    * crash-recovery matrix stays single-sourced). The r17 generation
    * swapped the whole table directory, which DESTROYED any
    * [[LateInteraction.composeDelete]] CAS-committed inside its swap
    * window; this generation versions the TABLE through a
    * `_table_manifest` (the maxsim_vacuumed_topk pattern) so the
    * rewrite publishes as ONE CAS commit and a racing composer loses
    * nothing:
    *
    *  1. ADOPT: a table without a manifest commits its current leaves
    *     as v1, so every subsequent state is a manifest flip, never a
    *     directory mutation readers could half-see.
    *  2. READ ONCE: ledger ids + the sidecar shapes + the EXACT log
    *     lines being folded (`tombstoneStateWith`) — a log line
    *     committed after this read is not in the rewrite and must
    *     survive below.
    *  3. REWRITE: drop the ledger's ids plus the tombstone state (an
    *     id-level sidecar drops by id, a watermarked one drops exactly
    *     the stale `seq <= upto_seq` rows and keeps the upserted
    *     replacements) into NEW files appended beside the old —
    *     invisible to manifest readers until the commit.
    *  4. PUBLISH: one CAS commit of the new file set; readers flip
    *     atomically.
    *  5. CONSUME the fold: CAS-remove exactly the folded log lines (a
    *     racing composer's line re-derives on this head and survives,
    *     excluding at read time until the NEXT reclaim folds it
    *     physically), and drop the parquet sidecar (single-writer
    *     state whose content is in the rewrite).
    *  6. EXPIRE + VACUUM: prior versions expire; any leaf no surviving
    *     version references is deleted.
    *  7. RETIRE the reclaimed ids from the ledger in one CAS commit.
    *
    * Every crash window degrades idempotently: before PUBLISH, the new
    * files are unreferenced and the next reclaim vacuums them; after
    * PUBLISH but before CONSUME, the log/sidecar re-apply against rows
    * already gone (no-op) and the next reclaim consumes; before RETIRE,
    * the ledger re-excludes physically-absent ids and the next call
    * retires. Exclusive with data WRITERS and other reclaims (the
    * listing diff cannot attribute a concurrent writer's files);
    * SAFE with concurrent composers — the raced spec pins it. The
    * atomic flip covers readers that RESOLVE after the publish; a
    * reader in flight ACROSS the reclaim needs `retainVersions = 1`
    * (see step 6 — by default its files are vacuumed promptly, the
    * compliance contract).
    *
    * `beforeLogFold` is a test seam: the raced-composer spec injects a
    * composeDelete between PUBLISH's listing diff and CONSUME. */
  def reclaimTable(spark: SparkSession, root: String, path: String,
      partitionCols: Seq[String] = Nil, idCol: String = "doc_id",
      beforeLogFold: () => Unit = () => (),
      retainVersions: Int = 0): Unit = {
    import spark.implicits._
    import graft.ingest.ManifestLog
    val hconf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(path).getFileSystem(hconf)
    // LEGACY RECOVERY: the pre-manifest staged-swap generation could
    // crash between its two renames, leaving the table absent with a
    // fully-staged (_SUCCESS-marked) rewrite — on-disk states outlive
    // binaries, so it is still installed here
    val staged = p(path + ".reclaim")
    if (!fs.exists(p(path))) {
      if (fs.exists(staged) &&
          fs.exists(new org.apache.hadoop.fs.Path(staged, "_SUCCESS"))) {
        if (!fs.rename(staged, p(path))) throw new java.io.IOException(
          s"reclaimTable: legacy staging install $staged -> $path failed")
        fs.delete(p(path + ".reclaim.old"), true)
      } else throw new IllegalStateException(
        s"reclaimTable: $path is missing and no completed staging " +
          "exists — refusing to proceed")
    }
    val ids = forgottenIds(spark, root)
    // any tombstone STATE — the parquet sidecar or composed-delete log
    // lines — must fold into the rewrite (a skipped fold would be a
    // silent resurrect once that state is consumed)
    if (ids.isEmpty && !LateInteraction.hasTombstoneState(spark, path))
      return
    val md = LateInteraction.tableManifestDir(path)
    // 1. ADOPT
    if (ManifestLog.currentVersion(spark, md) == 0L) {
      val leaves = LateInteraction.leafFilesAny(spark, path)
      require(leaves.nonEmpty, s"reclaimTable: $path has no data files")
      ManifestLog.commit(spark, md, _ => leaves)
    }
    // 2. READ ONCE — sidecar shape dispatch through the ONE reader (an
    // inline copy could diverge from what the serves exclude), plus the
    // exact folded log lines
    val st = LateInteraction.probeTableDir(spark, path)
    val (sidecar, foldedLogIds) =
      LateInteraction.tombstoneStateWith(spark, path, st)
    val live = LateInteraction.tableDataWith(spark, path, st)
    val rewritten = LateInteraction.minusTombstonedWith(live, sidecar, idCol)
      .join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_anti")
    // partitioned tables re-cluster on their partition columns (one file
    // per leaf); flat tables keep the scan's own parallelism — a fixed
    // fan-in here would serialize a 100 TB rewrite through few tasks
    val repartitioned =
      if (partitionCols.nonEmpty) rewritten.repartition(partitionCols.map(col): _*)
      else rewritten
    // 3. REWRITE into new files beside the old
    val before = LateInteraction.leafFilesAny(spark, path).toSet
    val writer = repartitioned.write.mode("append")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(path)
    val newFiles =
      (LateInteraction.leafFilesAny(spark, path).toSet -- before).toSeq.sorted
    require(newFiles.nonEmpty,
      s"reclaimTable: the rewrite of $path kept no rows — an empty " +
        "manifest cannot carry a schema; drop the table instead")
    beforeLogFold()
    // 4. PUBLISH
    val v = ManifestLog.commit(spark, md, _ => newFiles)
    // 5. CONSUME the fold (bounded-history commit — a reclaim-cycled
    // table must not grow the log's version directory without bound)
    if (foldedLogIds.nonEmpty) {
      val folded = foldedLogIds.map(i => s"d:$i").toSet
      LateInteraction.tombstoneLogCommitBounded(spark, path,
        head => head.filterNot(folded))
    }
    fs.delete(p(path + "/_tombstones"), true)
    // 6. EXPIRE + VACUUM. retainVersions governs the Iceberg-style
    // snapshot-retention tension: the pre-publish generation's files
    // still hold the RECLAIMED rows' bytes (the rewrite is a new copy,
    // not an edit), so compliance wants them gone NOW — but an in-flight
    // reader that resolved the old head before the publish would crash
    // mid-scan (or silently drop rows under ignoreMissingFiles) if its
    // files vanish under it. Default 0 = prompt deletion: the
    // compliance contract, and reclaim stays exclusive with in-flight
    // READERS of this table (exactly the old swap's reader contract —
    // composers remain safe either way). A serving deployment that
    // cannot quiesce readers passes 1: the previous generation survives
    // until the NEXT reclaim, trading deletion promptness for
    // reader-grace, Iceberg's expire-snapshots retention shape.
    ManifestLog.expire(spark, md,
      keepFrom = math.max(1L, v - retainVersions))
    val referenced = ManifestLog.allReferenced(spark, md)
    LateInteraction.leafFilesAny(spark, path)
      .filterNot(referenced.contains).foreach { f =>
        val fp = p(f)
        require(fs.delete(fp, false) || !fs.exists(fp),
          s"reclaim vacuum could not delete unreferenced file $f")
      }
    // 7. RETIRE: the ids' bytes are gone, drop them from the ledger
    val retiredIds = ids.map(_.toString).toSet
    if (retiredIds.nonEmpty)
      commitBounded(spark, root, head => head.filterNot(retiredIds.contains))
  }

  /** The reclaim row: same planted construction as the propagation row,
    * but after `reclaimPostings` the serve runs with NO ledger exclusion
    * — the forgotten doc is excluded because its postings are physically
    * gone, and the ledger is empty (retired). The whole
    * build → forget → reclaim sequence runs inside the fixture build, so
    * a crash mid-reclaim leaves no marker and rebuilds cleanly. */
  def forgetReclaimedTopk(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val srcText = d.filter(col("doc_id") === 0L)
      .select("text").head().getString(0)
    import spark.implicits._
    val copies = (0 until Copies)
      .map(i => (PlantedBase + i, srcText)).toDF("doc_id", "text")
    val corpus = d.unionByName(copies)
    val path = Tables.scratchPath("maxsim_postings_rcl", dir)
    val root = Tables.scratchPath("forget_rcl", dir)
    ResultCache.buildIfAbsent(spark, corpus,
      s"forget:dim=$TokenDim:wb=${LateInteraction.WindowBuckets}:" +
        s"copies=$Copies:lifecycle=reclaim:v2", path) {
      LateInteraction.writePostings(corpus, path, "overwrite")
      val lp = new org.apache.hadoop.fs.Path(ledgerDir(root))
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      forget(spark, root, Seq(PlantedBase))
      reclaimPostings(spark, root, path)
    }
    // no `excluding` here — physical deletion needs no serve-time filter
    LateInteraction.servePostings(spark, corpus, srcText, path)
      .select("doc_id", "score_micro")
  }

  /** Same tie construction as maxsim_deleted_topk: the reclaimed copy is
    * gone, the nine survivors plus doc 0's twins fill k. */
  private val forgetReclaimedOracle =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
      |    x -> length(x) > 0) AS tk
      |  FROM documents),
      |q AS (SELECT tk FROM toks WHERE doc_id = 0),
      |ties AS (
      |  SELECT t.doc_id FROM toks t, q WHERE t.tk = q.tk
      |  UNION ALL
      |  SELECT d.doc_id + 100001 FROM documents d WHERE d.doc_id < 9)
      |SELECT doc_id, (SELECT len(tk) FROM q)::BIGINT * 1000000 AS score_micro
      |FROM ties ORDER BY doc_id LIMIT 10""".stripMargin

  /** Forget-aware reclamation on the EXPORT path — the dataset-dump half
    * of deep deletion: the training export ships a persisted DOCUMENT
    * table, so compliance needs the bytes out of THAT table too, not just
    * the retrieval indexes. The row materializes the planted corpus as a
    * flat document table, forgets one copy, reclaims through the same
    * staged-rewrite core as the posting reclaim ([[reclaimTable]] with no
    * partition columns), and serves the export scan with NO ledger
    * exclusion — the forgotten doc is gone because its bytes are gone,
    * and the ledger is empty (retired). `corpus_rows` audits rewrite
    * integrity: exactly one row left the table. */
  def forgetReclaimedExport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val srcText = d.filter(col("doc_id") === 0L)
      .select("text").head().getString(0)
    import spark.implicits._
    val copies = (0 until Copies)
      .map(i => (PlantedBase + i, srcText)).toDF("doc_id", "text")
    val corpus = d.unionByName(copies)
    val path = Tables.scratchPath("forget_export_tbl", dir)
    val root = Tables.scratchPath("forget_exp", dir)
    ResultCache.buildIfAbsent(spark, corpus,
      s"forget:export:copies=$Copies:v1", path) {
      corpus.repartition(8).write.mode("overwrite").parquet(path)
      val lp = new org.apache.hadoop.fs.Path(ledgerDir(root))
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      forget(spark, root, Seq(PlantedBase))
      reclaimTable(spark, root, path)
    }
    // no `excluding` — the export scan ships the table as-is (manifest-
    // aware: after reclaim the live file set is the manifest head)
    val exported = LateInteraction.tableData(spark, path)
    val total = exported.count()
    exported.filter(col("doc_id") >= PlantedBase)
      .orderBy("doc_id").limit(K)
      // unpartitioned window over the LIMIT-K frame only — bounded
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      .select(col("rank"), col("doc_id"), lit(total).as("corpus_rows"))
      .orderBy("rank")
  }

  /** Nine survivors ship; the table kept every non-forgotten row. */
  private val forgetReclaimedExportOracle =
    """SELECT CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rank,
      |       100001 + d.doc_id AS doc_id,
      |       (SELECT count(*) + 9 FROM documents) AS corpus_rows
      |FROM documents d WHERE d.doc_id < 9
      |ORDER BY rank""".stripMargin

  // ---- snapshot + forget COMPOSITION ---------------------------------
  // One CAS commit that BOTH advances a table snapshot AND forgets ids:
  // the manifest version carries namespaced lines (`file:<path>`,
  // `forget:<id>`), so a reader resolving a version gets a consistent
  // (file set, forgotten set) PAIR by construction — there is no
  // interleaving in which new files serve without their forget, or a
  // forget lands without its snapshot. Concurrent committers merge
  // through the same CAS retry as plain forgets (the loser re-applies
  // its update on the winner's head; both file sets and both id sets
  // survive — spec-pinned under a real two-thread race).

  private val FileLine = "file:"
  private val ForgetLine = "forget:"

  /** Atomically add data files to the snapshot and forget ids — ONE
    * manifest commit. Either list may be empty (a pure snapshot advance
    * or a pure forget through the same composed log). Unlike the
    * serve-time `_forget` ledger (bounded by commitBounded — its history
    * is worthless), composed versions are TABLE snapshots: history here
    * is the time-travel surface, so expiry stays with the snapshot
    * expire/vacuum discipline (`ManifestLog.expire`), exactly as for
    * every other table manifest. */
  def commitSnapshotForget(spark: SparkSession, log: String,
      addFiles: Seq[String], forgetIds: Seq[Long]): Long =
    ManifestLog.commit(spark, log, head => {
      val files = (head.filter(_.startsWith(FileLine)) ++
        addFiles.map(FileLine + _)).distinct
      val ids = (head.filter(_.startsWith(ForgetLine))
        .map(_.stripPrefix(ForgetLine).toLong) ++ forgetIds)
        .distinct.sorted
      files ++ ids.map(ForgetLine + _)
    })

  /** Resolve one composed version into its (files, forgotten ids). */
  def readSnapshotForget(spark: SparkSession, log: String,
      v: Long): (Seq[String], Set[Long]) = {
    val lines = ManifestLog.read(spark, log, v).getOrElse(
      throw new java.io.IOException(s"missing composed manifest v$v"))
    (lines.filter(_.startsWith(FileLine)).map(_.stripPrefix(FileLine)),
      lines.filter(_.startsWith(ForgetLine))
        .map(_.stripPrefix(ForgetLine).toLong).toSet)
  }

  private def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val listed = ManifestLog.listParquetLeaves(spark, dir)
    require(listed.nonEmpty, s"composed snapshot listed no files under $dir")
    listed
  }

  /** The composition driver row: v1 publishes table part A; ONE composed
    * commit then lands part B's files AND forgets ids {0, 5}. Serving v1
    * must show part A un-forgotten (the forget did not retro-apply to the
    * pinned version) and v2 must show A∪B minus the forgotten ids — the
    * two halves of the commit visible only TOGETHER. */
  def snapshotForgetAtomic(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id")
    val base = Tables.scratchPath("snapfgt", dir)
    val log = base + "/log"
    ResultCache.buildIfAbsent(spark, d, "forget:snapshot-compose:v1", base) {
      d.filter(col("doc_id") < 5).repartition(1)
        .write.mode("overwrite").parquet(base + "/a")
      d.filter(col("doc_id") >= 5 && col("doc_id") < 10).repartition(1)
        .write.mode("overwrite").parquet(base + "/b")
      commitSnapshotForget(spark, log, listParquet(spark, base + "/a"), Nil)
      // THE composed commit: snapshot advance + forget, atomically
      commitSnapshotForget(spark, log, listParquet(spark, base + "/b"),
        Seq(0L, 5L))
    }
    import spark.implicits._
    def serve(v: Long): DataFrame = {
      val (files, forgotten) = readSnapshotForget(spark, log, v)
      val df = spark.read.parquet(files: _*)
      val served =
        if (forgotten.isEmpty) df
        else df.join(broadcast(forgotten.toSeq.toDF("doc_id")),
          Seq("doc_id"), "left_anti")
      served.select(lit(v).as("version"), col("doc_id"))
    }
    serve(1L).unionByName(serve(2L)).orderBy("version", "doc_id")
  }

  private val snapshotForgetOracle =
    """SELECT CAST(1 AS BIGINT) AS version, doc_id
      |FROM documents WHERE doc_id < 5
      |UNION ALL
      |SELECT 2, doc_id FROM documents
      |WHERE doc_id < 10 AND doc_id NOT IN (0, 5)
      |ORDER BY version, doc_id""".stripMargin

  /** The ledger reaching a STREAMING surface — the compliance property
    * batch rows can't show: a forget committed MID-STREAM flips the very
    * next micro-batch, with no index rebuild and no stream restart,
    * because the foreachBatch body re-reads the ledger at every batch.
    * A REAL file-stream (the public `readStream.parquet` source) delivers
    * two micro-batches of the same query (vector 0); between them the
    * planted copy (id 900000, identical embedding) is forgotten. Batch 0
    * serves {0, 900000}, batch 1 serves {0} — enumerable because the
    * testdata's max non-self cosine is 0.41 (streaming_retrieval_
    * selfmatch's verified bound), so only exact copies pass the 0.9
    * threshold.
    */
  def streamingForgetRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.QueryStreams
    val lsh = graft.ops.AnnIndex.defaultLsh
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val copy = e.filter(col("vec_id") === 0L)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    val corpus = graft.vector.IndexBuilder.withLshBucket(
      e.unionByName(copy), "embedding", lsh)
    val root = Tables.scratchPath("forget_stream", dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // run-scoped state: the row mutates the ledger, so purity over reuse
    Seq("", "_feed", "_out").foreach(s =>
      fs.delete(new org.apache.hadoop.fs.Path(root + s), true))
    def drop(qid: Long, mode: String): Unit =
      e.filter(col("vec_id") === 0L)
        .select(lit(qid).as("query_id"), col("embedding").as("qvec"))
        .repartition(1).write.mode(mode).parquet(root + "_feed")
    val feedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qvec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    drop(1L, "overwrite")
    val q = spark.readStream.schema(feedSchema).parquet(root + "_feed")
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // serve-time exclusion, RE-READ per batch — the whole point
        val served = excludingIds(corpus, root, "vec_id")
        QueryStreams.retrieveMicroBatch(batch, served, lsh,
            threshold = 0.9, radius = 1)
          .repartition(1).write.mode("overwrite")
          .parquet(root + s"_out/batch=$bid")
        ()
      }
      .start()
    try {
      q.processAllAvailable() // batch 0 fully served pre-forget
      forget(spark, root, Seq(900000L))
      drop(2L, "append")
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(root + "_out")
      .select(col("batch").cast("int").as("batch"), col("query_id"),
        col("vec_id"), col("score"))
      .orderBy("batch", "vec_id")
  }

  private val streamingForgetOracle =
    """SELECT CAST(0 AS INT) AS batch, CAST(1 AS BIGINT) AS query_id,
      |       CAST(0 AS BIGINT) AS vec_id, 1.0::DOUBLE AS score
      |UNION ALL SELECT 0, 1, 900000, 1.0
      |UNION ALL SELECT 1, 2, 0, 1.0
      |ORDER BY batch, vec_id""".stripMargin

  /** All three surfaces share the planted-tie construction: ties are doc
    * 0's token-sequence twins plus the nine surviving copies; the export
    * surface ships only the planted ids. */
  private val forgetOracle =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
      |    x -> length(x) > 0) AS tk
      |  FROM documents),
      |q AS (SELECT tk FROM toks WHERE doc_id = 0),
      |ties AS (
      |  SELECT t.doc_id FROM toks t, q WHERE t.tk = q.tk
      |  UNION ALL
      |  SELECT d.doc_id + 100001 FROM documents d WHERE d.doc_id < 9)
      |SELECT surface, CAST(row_number() OVER (
      |    PARTITION BY surface ORDER BY doc_id) AS INT) AS rank, doc_id
      |FROM (
      |  SELECT 'knn' AS surface, doc_id FROM ties
      |  UNION ALL
      |  SELECT 'maxsim', doc_id FROM ties
      |  UNION ALL
      |  SELECT 'export', doc_id FROM ties WHERE doc_id >= 100000)
      |ORDER BY surface, rank""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("forget_propagated_topk" -> forgetPropagatedTopk,
      "forget_reclaimed_topk" -> forgetReclaimedTopk,
      "forget_bm25_topn" -> forgetBm25Topn,
      "forget_ann_families_topk" -> forgetAnnFamiliesTopk,
      "forget_reclaimed_export" -> forgetReclaimedExport,
      "snapshot_forget_atomic" -> snapshotForgetAtomic,
      "forget_unforget_topk" -> forgetUnforgetTopk,
      "forget_conf_default_topk" -> forgetConfDefaultTopk,
      "streaming_forget_retrieval" -> streamingForgetRetrieval)

  override def oracles: Map[String, String] =
    Map("forget_propagated_topk" -> forgetOracle,
      "forget_reclaimed_topk" -> forgetReclaimedOracle,
      "forget_bm25_topn" -> forgetBm25Oracle,
      "forget_ann_families_topk" -> forgetAnnFamiliesOracle,
      "forget_reclaimed_export" -> forgetReclaimedExportOracle,
      "snapshot_forget_atomic" -> snapshotForgetOracle,
      "forget_unforget_topk" -> forgetUnforgetOracle,
      "forget_conf_default_topk" -> forgetConfDefaultOracle,
      "streaming_forget_retrieval" -> streamingForgetOracle)
}
