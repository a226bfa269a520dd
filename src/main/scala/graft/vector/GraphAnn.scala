package graft.vector

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, ShortType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Graph-based ANN — the NSW shape (Malkov et al. 2014; HNSW's layer 0,
  * and the index family behind DiskANN/Vamana): each vector keeps edges
  * to its ~M nearest neighbors, and a query walks the graph greedily
  * from fixed entry points, converging to its true neighborhood in a
  * handful of hops. Complements the LSH/IVF/PQ families: no bucketing
  * or training, recall comes from connectivity.
  *
  * Scale shape, build (a batch job):
  *  - Candidate pairs come from an LSH-bucket EQUI-JOIN (multi-probe,
  *    plus extra seed rounds at scale — the NN-Descent discipline),
  *    never all-pairs: only bucket-mates ever meet, text/vector payloads
  *    join on 8-byte ids.
  *  - Per-node top-M edges via a window over the node partitioning
  *    (score desc, id asc — bit-deterministic ties).
  *  - Reverse edges are unioned in and re-topped (the HNSW symmetrizing
  *    heuristic), keeping out-degree ≤ 2M while guaranteeing the graph
  *    has no in-only sinks.
  *  - Adjacency persists as (node_id, neighbors array<long>) parquet,
  *    hash-clustered on node_id.
  *
  * Scale shape, query (the serving path, the hnswlib model): every
  * search — single, batch, traced, time-travel or filtered; flat NSW is
  * the ladder with no upper rungs — runs ONE in-memory beam loop
  * (residentWalk) on the calling thread over a resident pin of the index
  * version (residentPin).
  *  - E entry points = hash-min sample of the graph (deterministic,
  *    query-independent — the fixed entry of HNSW generalized).
  *  - H bounded hops; each hop expands the beam-best B unexpanded nodes
  *    by map lookup, scores their new neighbors against the query, and
  *    keeps the global best B.
  *  - The pin is the graph view of the index version (validated by an FS
  *    stamp of the index directories) plus the corpus vectors (vecPin,
  *    keyed by the corpus frame), so a warm search runs no Spark job; a
  *    metadata predicate (`allowed`) adds one pushed `id IN visited`
  *    probe.
  *
  * Mutations (the hnswlib insert and delete): append and tombstone fold
  * compute their delta rows on the driver from the same resident pin of
  * the pre-mutation version, and Spark only lands them as one
  * seq-stamped delta leaf per touched rung. Each then publishes its
  * post-write graph view — the pinned maps overlaid with exactly the rows
  * it wrote — so the next serve builds nothing, and its corpus frame's
  * vectors grow by reading only the files added since the pinned frame
  * was listed. Spark jobs remain for the batch build, those delta writes,
  * that added-file read, compaction and vacuum.
  *
  * Memory: the driver holds the corpus' (id, embedding) map (vecPin:
  * |corpus| × dim floats per live corpus version, at most 16) plus, per
  * pinned index version, every rung's merged adjacency (ids and ≤ 2M
  * neighbor ids each) and the tombstone set — the hnswlib serving-node
  * bound, which searches and mutations share. A corpus version grown
  * from an earlier one by added files shares that version's map entries
  * (immutable `++`), so a run of appends holds one corpus' worth of
  * vectors plus the arrivals, not one copy per version. Corpora past one
  * node's memory serve per shard.
  *
  * Determinism: seeded hyperplanes, windowed ties by id, fixed E/B/H —
  * identical data in, identical graph and identical search result out.
  */
object GraphAnn {

  /** Path existence through the Hadoop FileSystem of the session — NOT
    * java.io.File, which silently answers false for any non-local
    * filesystem (an hdfs:// or s3a:// graph would degrade to a flat walk
    * or an empty delta without error). Same resolution ResultCache uses
    * for the very same paths.
    */
  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** Recursive delete through the Hadoop FileSystem (sidecar truncation). */
  private def deletePath(spark: SparkSession, p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  /** Build and persist the NSW adjacency for (idCol, embCol) rows.
    * Candidate generation probes each vector's LSH bucket plus its
    * radius-1 neighbors — the equi-join form of "likely near" — so edge
    * scoring is bounded by bucket occupancy, not corpus size.
    */
  def buildNswGraph(df: DataFrame, embCol: String, idCol: String,
      lsh: IndexBuilder.RandomHyperplaneLsh, m: Int, path: String): Unit = {
    val nodes = df.select(col(idCol).as("id"), col(embCol).as("emb"))
    val home = IndexBuilder.withLshBucket(nodes, "emb", lsh)
    // probe generation is columnar (the lshBatchTopK shape): one signature
    // per row, then a static radius-1 mask explode + XOR — never the
    // per-row probes() UDF, which allocates and sorts a Set per vector
    val masks = IndexBuilder.probeMasks(lsh.nBits, radius = 1)
    val probed = IndexBuilder.withLshBucket(nodes, "emb", lsh, "sig")
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("id"), col("emb"),
        col("sig").bitwiseXOR(col("mask")).as("bucket"))
    // directed candidate pairs: a probes the buckets its near-misses can
    // live in; join against each bucket's HOME residents only (probe ×
    // home, not probe × probe — keeps the pair count ~ball × occupancy)
    val pairs = probed.as("a")
      .join(home.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        VectorFunctions.cosineUnit(col("a.emb"), col("b.emb")).as("score"))
      .groupBy("src", "dst").agg(max("score").as("score")) // dedup multi-probe hits
    val wSrc = Window.partitionBy("src")
      .orderBy(col("score").desc, col("dst").asc)
    val topM = pairs.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= m).select("src", "dst", "score")
    // symmetrize then re-top at 2M: reverse edges guarantee every node
    // is reachable FROM its neighbors, not only pointed at by them
    val sym = topM.unionByName(
        topM.select(col("dst").as("src"), col("src").as("dst"), col("score")))
      .groupBy("src", "dst").agg(max("score").as("score"))
    val adj = sym.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= 2 * m)
      .groupBy(col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // total over the input: a node alone in its bucket neighborhood (an
    // outlier, or any node of a sparse upper HNSW layer) still gets a
    // row — with no edges — so membership, entry sampling and search
    // emission see the whole corpus, never just the well-connected part
    val total = nodes.select(col("id").as("node_id"))
      .join(adj, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("neighbors"),
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("neighbors"))
    total.repartition(8, col("node_id"))
      .write.mode("overwrite").parquet(path)
  }

  // Explicit read schemas: adjacency/tombstone layouts are fixed by the
  // writers in this object, and letting the reader infer them costs a
  // footer-read Spark job per open. (seq is the delta leaves'
  // directory-partition column; declaring it long here also replaces the
  // int-discovery + cast dance.)
  private val adjSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("neighbors",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))
  private val adjDeltaSchema = adjSchema.add(
    org.apache.spark.sql.types.StructField("seq",
      org.apache.spark.sql.types.LongType))
  private val tombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node_id",
      org.apache.spark.sql.types.LongType)))

  /** Merged adjacency view: the base build (seq 0) overlaid by the delta
    * generations at `<path>_delta`, latest-wins per node — the MOR
    * discipline applied to the graph, so appends and folds never rewrite
    * the base files. A delta row with NULL neighbors is a removal marker
    * (written by the tombstone fold): latest-wins resolves it like any
    * other version, then the merged view drops the node entirely. This
    * DataFrame is what compaction rewrites as the new base; searches and
    * mutations resolve the same latest-wins rule on the driver when they
    * build their resident pin.
    */
  def readNswAdjacency(spark: SparkSession, path: String): DataFrame =
    readNswAdjacencyAsOf(spark, path, Long.MaxValue)

  /** The merged view AS OF a delta generation — MOR versioning the graph
    * gets for free: every append/fold lands as a `seq=<n>` leaf, so
    * pinning a version is a partition filter on the delta read (latest-
    * wins then resolves within the pinned prefix). seq 0 is the base
    * build; `maxSeq = Long.MaxValue` is the current view.
    */
  def readNswAdjacencyAsOf(spark: SparkSession, path: String,
      maxSeq: Long): DataFrame =
    adjacencyRows(spark, path, maxSeq).groupBy("node_id")
      .agg(max_by(struct(col("seq"), col("neighbors")), col("seq"))
        .getField("neighbors").as("neighbors"))
      .filter(col("neighbors").isNotNull)

  /** Unmerged (node_id, neighbors, seq) rows: the base build as seq 0
    * plus every delta generation up to `maxSeq`. */
  private def adjacencyRows(spark: SparkSession, path: String,
      maxSeq: Long): DataFrame = {
    val base = spark.read.schema(adjSchema).parquet(path)
      .withColumn("seq", lit(0L))
    if (!pathExists(spark, path + "_delta")) base
    else base.unionByName(spark.read.schema(adjDeltaSchema)
      .parquet(path + "_delta")
      .filter(col("seq") <= maxSeq)
      .select(col("node_id"), col("neighbors"), col("seq")))
  }

  /** Add vectors to a persisted NSW graph without a rebuild: the HNSW
    * append with no upper rungs (see appendToHnswGraph — LSH and
    * placement-walk candidates, reverse-edge maintenance, seq-stamped
    * delta).
    */
  def appendToNswGraph(spark: SparkSession, newNodes: DataFrame,
      embCol: String, idCol: String, lsh: IndexBuilder.RandomHyperplaneLsh,
      m: Int, path: String, corpus: DataFrame): Unit =
    appendToHnswGraph(spark, newNodes, embCol, idCol, lsh, m, path, corpus,
      maxLevel = 0)

  /** Next seq stamp for a graph's delta sidecar (prior max + 1;
    * deterministic — never a wall clock). The seq lives in the DIRECTORY
    * name (`_delta/seq=<n>` partition leaves), so allocating the next one
    * is a filesystem listing — the previous row-level seq column cost one
    * full delta read + aggregate job per rung per append.
    *
    * Single-writer contract: at most one mutation (append, fold, delete,
    * compaction, vacuum) of a graph runs at a time; serves may run
    * concurrently with it. Two racing writers could both list seq n and
    * land into one leaf, and a mutation's published view (`publish`)
    * would then miss the other writer's rows. Callers serialize writes
    * per graph, as a single ingest driver does.
    */
  private def nextDeltaSeq(spark: SparkSession, path: String): Long = {
    val hp = new org.apache.hadoop.fs.Path(path + "_delta")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) 1L
    else {
      val seqs = fs.listStatus(hp).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("seq="))
        .map(_.stripPrefix("seq=").toLong)
      if (seqs.isEmpty) 1L else seqs.max + 1L
    }
  }

  /** One delta generation of driver-computed (node_id, neighbors) rows,
    * landed as the rung's next `seq=<n>` leaf (partition-discovered on
    * read; overwrite makes re-landing a generation idempotent rather than
    * duplicating rows). NULL neighbors is a removal marker. No rows, no
    * leaf.
    *
    * The leaf holds two node_id hash files: the driver splits the rows by
    * Spark's hash partitioning (Murmur3 seed 42, pmod 2 — what
    * `repartition(2, node_id)` computes), each file in the rows' order, so
    * the write is one Spark job with no exchange.
    */
  private def writeRows(spark: SparkSession, rows: Seq[(Long, Array[Long])],
      path: String): Unit =
    if (rows.nonEmpty) {
      val (p0, p1) = rows.map { case (id, ns) =>
          org.apache.spark.sql.Row(id, if (ns == null) null else ns.toSeq) }
        .partition(r => Math.floorMod(Murmur3_x86_32.hashLong(r.getLong(0), 42), 2) == 0)
      spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(p0, p1), 2).flatMap(identity), adjSchema)
        .write.mode("overwrite").parquet(path + s"_delta/seq=${nextDeltaSeq(spark, path)}")
    }

  /** Delete vectors from a persisted NSW graph — a tombstone sidecar
    * append, the same O(|deleted|) delete the LSH/IVF/BM25 families use;
    * no adjacency files are touched. Search semantics until the next
    * fold: a tombstoned node may still be hopped THROUGH (its edges keep
    * its neighborhood connected — dropping it from the walk could strand
    * every region it bridges) but is never EMITTED. The sidecar is read
    * once per index version into the resident pin (the delete moves the
    * pin's stamp), and emission filters by set lookup.
    */
  def deleteFromNswGraph(spark: SparkSession, ids: Seq[Long], path: String): Unit = {
    import spark.implicits._
    ids.toDF("node_id").repartition(1)
      .write.mode("append").parquet(path + "_tombstones")
  }

  /** Fold pending tombstones into the adjacency — the right-to-be-
    * forgotten job the other index families already have. Only AFFECTED
    * rows are rewritten (live nodes whose current adjacency lists a
    * deleted neighbor — bounded by the deleted set's in-degree, never the
    * graph):
    *
    *  - each affected node drops its deleted neighbors and inherits the
    *    deleted nodes' own surviving neighbors as BRIDGE candidates (the
    *    HNSW repair heuristic: when a waypoint dies, its endpoints are
    *    wired to each other), re-scored against real embeddings and
    *    re-topped at 2M — so a region reachable only through deleted
    *    nodes stays reachable around them; an affected node left with no
    *    edge gets an empty row, never its stale one;
    *  - deleted nodes' own rows become NULL-neighbor removal markers,
    *    which the merged view resolves latest-wins and drops.
    *
    * The rows are computed on the driver from the resident pin of the
    * pre-fold version — the pin a serve of the graph holds: its merged
    * adjacency finds the in-neighbors, its vectors score the rewrite and
    * its tombstone set is the deleted set — and land as ONE seq-stamped
    * delta leaf per touched rung, after which the fold publishes its
    * post-fold view (those rows overlaid, the dead set empty as the
    * sidecar is gone), so the next serve pins nothing. The sidecar
    * truncates LAST (the
    * Compaction ordering), so a crash between the two leaves tombstones
    * pending — the search filter still hides the deleted ids and a
    * re-fold is idempotent (it pins the merged view, which already
    * resolves to the folded rows). A delete wave covering a sizable
    * fraction of the graph is cheaper as a rebuild over the surviving
    * corpus (`buildNswGraph`).
    */
  def foldNswTombstones(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, m: Int): Unit =
    foldTombstones(spark, path, Nil, corpus, embCol, idCol, m)

  /** Fold pending tombstones through the WHOLE HNSW ladder — layer 0 and
    * every persisted `_l<ℓ>` rung, each rewritten as above from the one
    * pin of the ladder. Deleted ids must leave the stored upper layers too
    * (right-to-be-forgotten is about the bytes on disk, not just the
    * emission filter), and the upper-layer bridge repair keeps a region
    * whose hash-selected waypoints all died descendable around them. The
    * one shared sidecar truncates after the deltas land.
    */
  def foldHnswTombstones(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, m: Int, maxLevel: Int = 2): Unit =
    foldTombstones(spark, path, (maxLevel to 1 by -1).map(path + "_l" + _),
      corpus, embCol, idCol, m)

  private def foldTombstones(spark: SparkSession, path: String,
      rungPaths: Seq[String], corpus: DataFrame, embCol: String,
      idCol: String, m: Int): Unit = {
    if (!pathExists(spark, path + "_tombstones")) return
    val pin = servingPin(spark, path, corpus, embCol, idCol, rungPaths)
    val views = currentViews(spark, path)
    val dead = pin.graph.dead
    if (dead.isEmpty) return
    val written = (path +: pin.graph.rungs.reverse.map(_._1)).map { p =>
      val adj = pin.graph.adjacency(p)
      val rewritten = adj.toSeq.collect {
        case (x, ns) if !dead(x) && ns.exists(dead) =>
          val bridges = ns.filter(dead)
            .flatMap(d => adj.getOrElse(d, Array.empty[Long]))
            .filter(b => !dead(b) && b != x)
          x -> topEdges(scoredEdges(pin.vec, x,
            (ns.filterNot(dead) ++ bridges).distinct), 2 * m).map(_._1).toArray
      }
      val rows = rewritten ++
        dead.toSeq.filter(adj.contains).map(_ -> (null: Array[Long]))
      writeRows(spark, rows, p)
      p -> rows
    }.toMap
    // sidecar truncates LAST: a crash before this point leaves tombstones
    // pending, which is merely conservative (search keeps filtering them)
    deletePath(spark, path + "_tombstones")
    publish(spark, views, written, _ => Set.empty)
  }

  /** MOR compaction for the graph — the maintenance job every other
    * index family already has: steady appends/folds accumulate delta
    * generations, and every merged read pays the latest-wins aggregate
    * over all of them. Compaction rewrites the MERGED view as the new
    * base (removal markers resolve and their nodes leave the stored
    * bytes for good) via the same dot-prefixed tmp/bak swap the
    * partition folds use, then truncates the delta sidecar LAST — a
    * crash before the truncation leaves base+deltas still resolving to
    * the identical view (re-merging already-folded deltas over the new
    * base is latest-wins idempotent), and the next compaction finishes
    * the job. Cost is one merge pass + rewrite of the graph's own
    * adjacency — never the corpus.
    */
  def compactNswGraph(spark: SparkSession, path: String,
      retainBackup: Boolean = false): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact.tmp")
    val bak = new org.apache.hadoop.fs.Path(path + "._compact.bak")
    // self-heal BEFORE anything else: a prior compaction that crashed
    // between rename(base, bak) and rename(tmp, base) left NO base
    // directory — restore the .bak (the pre-compaction base, still
    // consistent with the untruncated deltas) so this and every other
    // entry point can proceed; without this the first step below would
    // delete the only surviving copy.
    if (!fs.exists(base) && fs.exists(bak) && !fs.rename(bak, base))
      throw new java.io.IOException(
        s"compactNswGraph: cannot restore $bak after a torn swap")
    if (!pathExists(spark, path + "_delta")) return
    fs.delete(tmp, true); fs.delete(bak, true)
    readNswAdjacency(spark, path)
      .repartition(8, col("node_id"))
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(base, bak))
      throw new java.io.IOException(s"compactNswGraph: cannot move $base aside")
    if (!fs.rename(tmp, base)) {
      fs.rename(bak, base) // roll back
      throw new java.io.IOException(s"compactNswGraph: cannot install $base")
    }
    // retainBackup: keep the pre-compaction base at .bak as a rollback
    // window (the Iceberg expire-snapshots model's retention period);
    // vacuumNswGraph reclaims it once the window closes. Default deletes
    // it immediately — the compact-only maintenance path.
    if (!retainBackup) fs.delete(bak, true)
    spark.catalog.refreshByPath(path)
    // deltas truncate LAST: their content is now IN the base, and
    // re-merging them over it would resolve to the same view
    deletePath(spark, path + "_delta")
  }

  /** Ladder-wide compaction: every persisted rung folds its deltas. */
  def compactHnswGraph(spark: SparkSession, path: String,
      maxLevel: Int = 2, retainBackup: Boolean = false): Unit =
    (path +: (1 to maxLevel).map(path + "_l" + _).filter(pathExists(spark, _)))
      .foreach(compactNswGraph(spark, _, retainBackup))

  /** Ladder-wide vacuum: every persisted rung reclaims its retained
    * backup and stale temps. Returns total files reclaimed. */
  def vacuumHnswGraph(spark: SparkSession, path: String,
      maxLevel: Int = 2): Long =
    (path +: (1 to maxLevel).map(path + "_l" + _).filter(pathExists(spark, _)))
      .map(vacuumNswGraph(spark, _)).sum

  /** VACUUM for the graph index: delete files no current reader
    * resolves — the retained pre-compaction backup (once its rollback
    * window closes) and any stale compaction temp from an earlier crash.
    * The backup is only reclaimed while the base EXISTS: a missing base
    * means the .bak is the torn-swap recovery copy compactNswGraph's
    * self-heal needs, and deleting it would destroy the index. Returns
    * the number of data files reclaimed so callers can assert the
    * vacuum actually shrank the index on disk.
    */
  def vacuumNswGraph(spark: SparkSession, path: String): Long = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countFiles(p: org.apache.hadoop.fs.Path): Long =
      graft.FileListing.files(spark.sparkContext.hadoopConfiguration, p).size
    var reclaimed = 0L
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact.tmp")
    if (fs.exists(tmp)) { reclaimed += countFiles(tmp); fs.delete(tmp, true) }
    val bak = new org.apache.hadoop.fs.Path(path + "._compact.bak")
    if (fs.exists(base) && fs.exists(bak)) {
      reclaimed += countFiles(bak); fs.delete(bak, true)
    }
    reclaimed
  }

  // ---- corpus vector pin ----------------------------------------------
  // The corpus' (id, embedding) projection pinned ONCE per corpus
  // signature (ResultCache.cacheKey — plan + the file listing the frame
  // captured, with lengths and mtimes, so any upsert/delete/planted-copy
  // change invalidates, a frame listed before a write never fills the pin
  // of one listed after it, and a file landing in the root after a frame
  // was listed does not move that frame's key) into a
  // driver map: the vector side of every resident pin, shared by all pins
  // over the same corpus version. Resident (id, emb) per indexed shard is
  // exactly the memory bound hnswlib requires of a serving node; the cold
  // path is one narrow projection scan per corpus version, and a version
  // that only GREW by files since a pinned one reads just those files.
  // LRU-bounded by count.
  private val VecPinMax = 16
  private final case class VecEntry(split: Option[graft.ops.ResultCache.ListingSplit],
    vec: Map[Long, Array[Float]])
  private val vecPinCache = new java.util.LinkedHashMap[String, VecEntry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, VecEntry]): Boolean =
      size > VecPinMax
  }

  /** The corpus' (id, embedding) map and whether it was collected whole.
    *
    * Growth by listing: on a miss, a cached entry is reused when it has
    * the same plan and roots (ResultCache.listingSplit), every file of its
    * listing is in the frame's captured listing with the same length and
    * mtime, and the plan above the one file relation is deterministic
    * Project/Filter nodes only (FileSubsetScan.restrictTo). Then only the
    * added files are read through the same plan — one Spark job — and
    * their rows are added to the entry's map with immutable `++`, so the
    * versions share structure; of several such entries the one with the
    * largest listing is grown. Any failed condition takes the full
    * collect, and so does an added id that is already in the map (or
    * twice among the added rows): which row a full collect keeps for a
    * repeated id is not defined, so the grown map could differ from it.
    */
  private def vecPin(corpus: DataFrame, embCol: String,
      idCol: String): (Map[Long, Array[Float]], Boolean) = {
    val proj = corpus.select(col(idCol).cast("long"), col(embCol))
    val key = graft.ops.ResultCache.cacheKey(proj)
    vecPinCache.synchronized(Option(vecPinCache.get(key))) match {
      case Some(e) => (e.vec, false)
      case None =>
        val split = graft.ops.ResultCache.listingSplit(proj)
        val grown = split.flatMap(grownVecPin(proj, _))
        val vec = grown.getOrElse(vecRows(proj.collect()).toMap)
        vecPinCache.synchronized(vecPinCache.put(key, VecEntry(split, vec)))
        (vec, grown.isEmpty)
    }
  }

  /** The cached map with the largest listing this frame's listing grew
    * from, plus the rows of the added files; None when there is none or
    * the growth would not equal a full collect (see vecPin). */
  private def grownVecPin(proj: DataFrame,
      split: graft.ops.ResultCache.ListingSplit): Option[Map[Long, Array[Float]]] = {
    import scala.jdk.CollectionConverters._
    val entries = vecPinCache.synchronized(vecPinCache.values.asScala.toList)
    val base = entries.flatMap(e => e.split.collect {
      case s if s.planKey == split.planKey && s.files.forall { case (f, st) =>
          split.files.get(f).contains(st) } => (s.files.keySet, e.vec)
    }).maxByOption(_._1.size)
    for {
      (files, vec) <- base
      added <- org.apache.spark.sql.graft.FileSubsetScan.restrictTo(proj,
        split.files.keySet -- files)
      rows = vecRows(added.collect())
      if rows.forall(r => !vec.contains(r._1)) && rows.map(_._1).distinct.size == rows.size
    } yield vec ++ rows
  }

  /** (id, embedding) pairs of collected projection rows; a null
    * embedding scores nothing (its id is a waypoint at most), exactly as
    * an id absent from the corpus. */
  private def vecRows(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Array[Float])] =
    rows.toSeq.collect {
      case r if !r.isNullAt(1) => r.getLong(0) -> r.getSeq[Float](1).toArray
    }

  // ---------------------------------------------------------------------
  // HNSW: a coarse layer ladder above NSW layer 0 (Malkov & Yashunin
  // 2016). Upper layers hold geometrically thinner node subsets with
  // their own small NSW adjacency; a query greedily descends the ladder
  // (log-hops to the right region) and hands the layer-0 beam entry
  // points already NEAR the answer — cutting the hops a flat walk
  // spends crossing the graph.
  // ---------------------------------------------------------------------

  /** Deterministic HNSW level membership: node id belongs to every layer
    * ℓ with xxhash64(id) ≡ 0 (mod fanout^ℓ) — the geometric level draw of
    * HNSW made a pure function of the id, so build, append and search
    * always agree on layer membership without stored state.
    */
  private def layerFilter(idCol: String, fanout: Int, level: Int): Column =
    pmod(xxhash64(col(idCol)), lit(math.pow(fanout.toDouble, level.toDouble).toLong)) === 0L

  /** Build the HNSW ladder: layer 0 is the full NSW graph at `path`;
    * each layer ℓ ∈ [1, maxLevel] is an independent NSW graph over the
    * ~1/fanout^ℓ node subset, persisted at `<path>_l<ℓ>`. Upper layers
    * reuse the same LSH-equi-join candidate generation — build cost is a
    * geometric series dominated by layer 0.
    */
  def buildHnswGraph(df: DataFrame, embCol: String, idCol: String,
      lsh: IndexBuilder.RandomHyperplaneLsh, m: Int, path: String,
      fanout: Int = 8, maxLevel: Int = 2): Unit = {
    buildNswGraph(df, embCol, idCol, lsh, m, path)
    var l = 1
    while (l <= maxLevel) {
      buildNswGraph(df.filter(layerFilter(idCol, fanout, l)),
        embCol, idCol, lsh, m, path + "_l" + l)
      l += 1
    }
  }

  /** The top layer of an id under layerFilter's level function,
    * evaluated on the driver: the largest ℓ ≤ maxLevel with xxhash64(id)
    * ≡ 0 (mod fanout^ℓ) — the id belongs to every layer up to it. Spark
    * hashes an integral id by its column type, int-sized types as ints.
    */
  private def topLevel(idType: DataType, fanout: Int,
      maxLevel: Int): Long => Int = {
    val intSized = idType match {
      case IntegerType | ShortType | ByteType => true
      case _ => false
    }
    id => {
      val h = if (intSized) XXH64.hashInt(id.toInt, 42L) else XXH64.hashLong(id, 42L)
      (1 to maxLevel).takeWhile(l => Math.floorMod(h,
        math.pow(fanout.toDouble, l.toDouble).toLong) == 0L).lastOption.getOrElse(0)
    }
  }

  /** Append to the HNSW ladder without a rebuild — the hnswlib insert
    * generalized to batches. Layer 0 takes every new node, each upper
    * layer exactly the new nodes its id hash selects (the SAME pure level
    * function the build used, so the ladder's membership invariant
    * survives any append sequence). The delta rows are computed on the
    * driver, from the arrivals (collected once) and the resident pin of
    * the pre-append version (reused when a serve already holds it):
    *
    *  - candidates per arrival and layer: the bucket-mates of its radius-1
    *    LSH probes among that layer's corpus ∪ arrival nodes (the build's
    *    candidate rule) and, on layer 0, the top-M hits of a walk of the
    *    pre-append ladder with the serving kernel at the search defaults.
    *    The walk is what links an outlier: its probe buckets can all sit
    *    far from it in cosine while its true neighbors share none of them,
    *    and then no near node would list it and no beam would reach it.
    *    The walk offers no tombstoned node.
    *  - per-(layer, arrival) top-M by (score desc, id asc), scored by the
    *    pin's double dot (bit-equal to `cosineUnit`); then reverse edges
    *    into EXISTING nodes: each one's pinned adjacency plus its new
    *    in-edges is re-scored and re-topped at 2M — without this in-edge
    *    maintenance appended vectors would be unreachable out-only sinks.
    *  - one `seq=<n>` delta leaf per touched rung (prior max + 1 —
    *    deterministic), merged latest-wins by every reader.
    *  - then the post-append graph view is published (`publish`): every
    *    cached current-version view of the graph that was current before
    *    the write is overlaid with exactly the rows written, so the next
    *    serve pins no rung.
    *
    * Cost scales with |new|·M rewritten rows plus one pin of the
    * pre-append version, never a graph rewrite; Spark runs the arrivals
    * collect and one write job per touched rung (writeRows — no exchange),
    * and no pin job when a serve of the same corpus frame already holds
    * the pin. A corpus-scale backfill belongs in
    * `buildHnswGraph`, the batch rebuild.
    */
  def appendToHnswGraph(spark: SparkSession, newNodes: DataFrame,
      embCol: String, idCol: String, lsh: IndexBuilder.RandomHyperplaneLsh,
      m: Int, path: String, corpus: DataFrame,
      fanout: Int = 8, maxLevel: Int = 2): Unit = {
    def layerPath(l: Int): String = if (l == 0) path else path + "_l" + l
    val arrivals = newNodes.select(col(idCol).cast("long"), col(embCol))
      .collect().toSeq.map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
    if (arrivals.isEmpty) return
    val pin = servingPin(spark, path, corpus, embCol, idCol,
      (maxLevel to 1 by -1).map(layerPath))
    val views = currentViews(spark, path)
    val vec = pin.vec ++ arrivals.filter(_._2 != null)
    val corpusTop = topLevel(corpus.schema(idCol).dataType, fanout, maxLevel)
    val arrivalTop = topLevel(newNodes.schema(idCol).dataType, fanout, maxLevel)
    def sig(e: Array[Float]): Int = lsh.signature(ArraySeq.unsafeWrapArray(e))
    // every node with a vector in its home bucket, with its top layer
    val home = (pin.vec.toSeq.map { case (id, e) => (id, e, corpusTop(id)) } ++
        arrivals.collect { case (id, e) if e != null => (id, e, arrivalTop(id)) })
      .groupBy(t => sig(t._2))
    val masks = IndexBuilder.probeMasks(lsh.nBits, radius = 1)
    // (layer, arrival, its top-M out-edges)
    val out = arrivals.flatMap { case (a, e) =>
      val mates = if (e == null) Nil
        else masks.flatMap(mk => home.getOrElse(sig(e) ^ mk, Nil))
          .collect { case (b, be, top) if b != a => (b, dot(be, e), top) }
      val walked = if (e == null) Nil
        else topEdges(ladderWalk(pin, e, beam = 32, hops = 4, descentBeam = 4,
            descentHops = 2)._1
          .filter { case (b, _) => b != a && !pin.graph.dead.contains(b) }, m)
      (0 to arrivalTop(a)).map { l =>
        val inLayer = mates.collect { case (b, s, top) if top >= l => b -> s }
        (l, a, topEdges(if (l == 0) inLayer ++ walked else inLayer, m))
      }
    }
    // (layer, existing node) → its new in-edges
    val in = out.flatMap { case (l, a, es) =>
      es.collect { case (x, s) if pin.vec.contains(x) => (l, x) -> (a -> s) }
    }.groupMap(_._1)(_._2)
    val rows = out.map { case (l, a, es) => l -> (a -> es) } ++
      in.toSeq.map { case ((l, x), es) =>
        val cur: Array[Long] = pin.graph.adjacency(layerPath(l)).getOrElse(x, Array.empty)
        l -> (x -> topEdges(scoredEdges(vec, x, cur) ++ es, 2 * m))
      }
    val written = rows.groupMap(_._1)(_._2).map { case (l, rs) =>
      val ns = rs.map { case (x, es) => x -> es.map(_._1).toArray }
      writeRows(spark, ns, layerPath(l))
      layerPath(l) -> ns
    }
    publish(spark, views, written, identity)
  }

  /** The n best (dst, score) candidates, one per dst (its max score), in
    * (score desc, dst asc) order — the build's window and sort_array
    * order, with Spark's double equality (0.0 == -0.0). */
  private def topEdges(cands: Iterable[(Long, Double)], n: Int): Seq[(Long, Double)] =
    cands.groupMapReduce(_._1)(_._2)(math.max).toSeq.sortWith { case ((a, s), (b, t)) =>
      if (s == t) a < b else s > t
    }.take(n)

  /** src → dst edge candidates scored by the pin's double dot; an id
    * without a vector has no edge, as in an inner join on embeddings. */
  private def scoredEdges(vec: Map[Long, Array[Float]], src: Long,
      dsts: Iterable[Long]): Iterable[(Long, Double)] =
    vec.get(src).fold(Iterable.empty[(Long, Double)])(sv =>
      dsts.flatMap(d => vec.get(d).map(d -> dot(_, sv))))

  /** Left-to-right double dot over the shorter length — the exact loop of
    * the native DotProduct expression, so it equals `cosineUnit` bit for
    * bit (residentWalk's scorer). */
  private def dot(e: Array[Float], q: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(e.length, q.length)
    while (i < n) { s += e(i).toDouble * q(i).toDouble; i += 1 }
    s
  }

  /** The one beam loop every search runs — ladder rung or layer 0;
    * single, batch, traced or placement: H hops over a resident adjacency
    * from `entryIds`, each hop expanding the beam-best B visited nodes not
    * yet expanded and scoring their new neighbors against the query by a
    * left-to-right double dot over the pinned vectors (the exact loop of
    * the native DotProduct expression, so scores equal `cosineUnit`'s bit
    * for bit). Ids without a vector score nothing and stay unvisited.
    * Driver state stays (B + E + H·B·2M) entries.
    *
    * With `snapshotK > 0` it also records, after every hop, (hop,
    * candidates scored so far, top-snapshotK visited ids) — the hop
    * curve's trace; an exhausted frontier stops expansion but keeps
    * carrying the last snapshot forward, so the trace has a row per hop.
    */
  private def residentWalk(adj: scala.collection.Map[Long, Array[Long]],
      vec: scala.collection.Map[Long, Array[Float]], qv: Array[Float],
      entryIds: Seq[Long], beam: Int, hops: Int, snapshotK: Int = 0)
      : (Map[Long, Double], Seq[(Int, Long, Seq[Long])]) = {
    def score(id: Long): Option[Double] = vec.get(id).map(dot(_, qv))
    var visited: Map[Long, Double] =
      entryIds.distinct.flatMap(id => score(id).map(id -> _)).toMap
    var scored = visited.size.toLong
    var expanded = Set.empty[Long]
    val trace = Seq.newBuilder[(Int, Long, Seq[Long])]
    var hop = 1
    var exhausted = false
    while (hop <= hops && !(exhausted && snapshotK == 0)) {
      if (!exhausted) {
        val frontier = best(visited, beam).filterNot(expanded.contains)
        if (frontier.isEmpty) exhausted = true
        else {
          val nbrs = frontier.iterator
            .flatMap(f => adj.getOrElse(f, Array.empty[Long]).iterator)
            .toSeq.distinct.filterNot(visited.contains)
          visited ++= nbrs.flatMap(id => score(id).map(id -> _))
          scored += nbrs.size
          expanded ++= frontier
        }
      }
      if (snapshotK > 0) trace += ((hop, scored, best(visited, snapshotK)))
      hop += 1
    }
    (visited, trace.result())
  }

  /** The n best visited ids, (score desc, id asc) — bit-deterministic ties. */
  private def best(visited: Map[Long, Double], n: Int): Seq[Long] =
    visited.toSeq.sortBy { case (id, s) => (-s, id) }.take(n).map(_._1)

  /** One query through a pinned ladder: greedy descent over the upper
    * rungs top-down (descentBeam/descentHops per rung — the ef=1 descent
    * of HNSW, widened a little for determinism-safe ties — seeded by the
    * previous rung's best, else the rung's own hash-min entries), then
    * the layer-0 beam from the carried seeds UNIONED with the fixed
    * hash-min entries: the descent buys fast convergence, the fixed
    * entries keep the flat-NSW recall floor. With no rungs this is the
    * flat NSW walk.
    */
  private def ladderWalk(pin: ResidentPin, qv: Array[Float], beam: Int,
      hops: Int, descentBeam: Int, descentHops: Int, snapshotK: Int = 0)
      : (Map[Long, Double], Seq[(Int, Long, Seq[Long])]) = {
    var carried = Seq.empty[Long]
    pin.graph.rungs.foreach { case (_, adjL, entriesL) =>
      val seeds = if (carried.nonEmpty) carried else entriesL
      if (seeds.nonEmpty)
        carried = best(residentWalk(adjL, pin.vec, qv, seeds,
          descentBeam, descentHops)._1, descentBeam)
    }
    residentWalk(pin.graph.adj0, pin.vec, qv, (carried ++ pin.graph.entryIds).distinct,
      beam, hops, snapshotK)
  }

  /** One pinned graph view of an index version: the merged (latest-wins,
    * optionally asOfSeq-pinned) adjacency per upper rung (path,
    * adjacency, hash-min entry points; top-down), layer 0's adjacency and
    * entry points, and the tombstone set — plain driver maps, built once
    * per version (or published by the mutation that made the version).
    */
  private[graft] final case class GraphView(
    path: String,
    rungs: Seq[(String, Map[Long, Array[Long]], Seq[Long])],
    adj0: Map[Long, Array[Long]],
    entryIds: Seq[Long],
    dead: Set[Long]) {

    /** The merged adjacency of rung `p` (`path` is layer 0); empty for a
      * rung that is not pinned. */
    def adjacency(p: String): Map[Long, Array[Long]] =
      if (p == path) adj0
      else rungs.collectFirst { case (`p`, adj, _) => adj }.getOrElse(Map.empty)
  }

  /** The resident pin every search walks in place, and the append and
    * the tombstone fold read for their delta rows: the graph view of the
    * index version plus the shard's vectors (the corpus' vecPin). */
  private[graft] final case class ResidentPin(graph: GraphView,
    vec: Map[Long, Array[Float]])

  // ---- resident-pin cache ---------------------------------------------
  // The hnswlib serving model pins the view ONCE per index version, not
  // per call (the reference's Chroma handle is opened once
  // per session, query_rag_database.py:138-149). A pin is two cached
  // halves:
  //  - the graph view, keyed by (path, asOfSeq, entry/descent params)
  //    and validated by a STAMP of the FS listing of the index dir and
  //    every sidecar (_delta, _tombstones, ladder rungs) — the index
  //    directories only, so one graph served with two corpus frames keeps
  //    one view;
  //  - the vectors, from vecPin, keyed by the corpus frame.
  // Any append/fold/compact/delete changes a listing and moves the stamp.
  // The append and the tombstone fold then PUBLISH the post-write view
  // (`publish`: the pre-write maps overlaid with exactly the rows they
  // wrote, entries recomputed) under the new stamp, so the next serve
  // builds no view; after a compaction, a delete or any other writer the
  // next serve rebuilds it. A same-version serve reuses the maps with
  // ZERO pin jobs. Bounded: one live view per key, replaced in place.
  //
  // Memory bound: one pinned view per (path, asOfSeq, params) key — per
  // index version the merged adjacency of every rung (ids + ≤ 2M
  // neighbor ids each) and the tombstone set — plus vecPin's corpus maps.
  private final case class CachedView(stamp: String, dirs: Seq[String],
    asOfSeq: Long, entries: Int, descentBeam: Int, view: GraphView)
  private val viewCache = scala.collection.concurrent.TrieMap
    .empty[String, CachedView]
  // Striped build locks: two concurrent first serves of the same version
  // must NOT both collect the view (twice the scans, twice the transient
  // driver memory). Builds serialize per key stripe; the winner's view is
  // re-read inside the lock, so the racer reuses it. A FIXED stripe
  // array (not a per-key map) keeps the lock state bounded over a
  // serving JVM's lifetime — per-key lock objects would accumulate one
  // entry per (path, asOfSeq, params) forever. Two distinct keys sharing
  // a stripe merely serialize their builds, which is harmless (builds
  // are rare: once per index version).
  private val pinLocks = Array.fill(64)(new Object)
  private def pinLock(key: String): Object =
    pinLocks(math.floorMod(key.hashCode, pinLocks.length))
  private val pinBuildCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of resident pins assembled by a full scan since JVM start: a
    * graph view built from its rungs or a corpus collected whole. A view
    * published by a mutation or vectors grown by listing do not count —
    * AnnIndexSpec pins that two same-version serves build once. */
  private[graft] def pinBuilds: Int = pinBuildCounter.get

  /** Drop every cached graph view and corpus map (spec isolation only —
    * serving never needs it: stale pins are invalidated by stamp, not by
    * eviction). */
  private[graft] def dropPins(): Unit = {
    viewCache.clear()
    vecPinCache.synchronized(vecPinCache.clear())
  }

  /** Cheap FS stamp of one directory: file count, total bytes, max mtime
    * (the FileListing stamp every knob and result cache shares). */
  private def dirStamp(spark: SparkSession, p: String): String =
    graft.FileListing.stamp(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(p)).fold(s"$p#absent")(st => s"$p#$st")

  private def stampOf(spark: SparkSession, dirs: Seq[String]): String =
    dirs.map(dirStamp(spark, _)).mkString("|")

  /** Hash-min entries: Spark's xxhash64(id) (seed 42) asc, id asc. */
  private def hashEntries(m: Map[Long, Array[Long]], e: Int): Seq[Long] =
    m.keys.toSeq.sortBy(id => (XXH64.hashLong(id, 42L), id)).take(e)

  /** The pin for (index version, corpus, params): the graph view is a
    * cache hit when its stamp still matches, else built (one base ∪ delta
    * scan per rung, one tombstone scan) and replaced; the vectors come
    * from vecPin.
    */
  private def residentPin(spark: SparkSession, path: String,
      corpus: DataFrame, embCol: String, idCol: String, entries: Int,
      rungPaths: Seq[String], descentBeam: Int,
      asOfSeq: Long): ResidentPin = {
    // flat walks share one key whatever their descent params
    val key = s"$path#asOf=$asOfSeq#e=$entries" + (if (rungPaths.isEmpty) ""
      else s"#db=$descentBeam#rungs=${rungPaths.mkString(",")}")
    val dirs = Seq(path, path + "_delta", path + "_tombstones") ++
      rungPaths.flatMap(p => Seq(p, p + "_delta"))
    var built = false
    val view = viewCache.get(key) match {
      case Some(c) if c.stamp == stampOf(spark, dirs) => c.view
      case _ => pinLock(key).synchronized {
      // Re-read under the lock AND recompute the stamp under it: a
      // mutation can land between the fast-path stamp and lock
      // acquisition, and a racing thread may have built the NEWER view —
      // comparing that against the stale stamp would discard its build,
      // mislabel our rebuild's current-disk contents with the old stamp,
      // and churn every subsequent serve (each sees a stamp mismatch).
      val stamp = stampOf(spark, dirs)
      viewCache.get(key) match {
      case Some(c) if c.stamp == stamp => c.view
      case _ =>
        // latest-wins resolved here over one plain scan of base ∪ deltas:
        // the pin holds the merged view anyway, and the scan skips the
        // merge's shuffle (readNswAdjacencyAsOf's semantics, on the driver)
        def adjOf(p: String): Map[Long, Array[Long]] =
          adjacencyRows(spark, p, asOfSeq).collect().groupBy(_.getLong(0))
            .flatMap { case (id, rs) =>
              val r = rs.maxBy(_.getLong(2))
              if (r.isNullAt(1)) None else Some(id -> r.getSeq[Long](1).toArray)
            }
        val rungs = rungPaths.filter(p => pathExists(spark, p)).map { p =>
          val m = adjOf(p)
          (p, m, hashEntries(m, descentBeam))
        }
        val adj0 = adjOf(path)
        // a plain scan deduped on the driver: a distinct would add an
        // exchange and a job to every pin with deletes pending
        val dead =
          if (!pathExists(spark, path + "_tombstones")) Set.empty[Long]
          else spark.read.schema(tombSchema).parquet(path + "_tombstones")
            .collect().map(_.getLong(0)).toSet
        val view = GraphView(path, rungs, adj0, hashEntries(adj0, entries), dead)
        built = true
        viewCache.put(key, CachedView(stamp, dirs, asOfSeq, entries, descentBeam, view))
        view
      }
      }
    }
    val (vec, collected) = vecPin(corpus, embCol, idCol)
    if (built || collected) pinBuildCounter.incrementAndGet()
    ResidentPin(view, vec)
  }

  /** The cached current-version views of graph `path` whose stamp still
    * matches the disk — the views a mutation patches, taken BEFORE it
    * writes. */
  private def currentViews(spark: SparkSession,
      path: String): Seq[(String, CachedView)] =
    viewCache.toSeq.filter { case (_, c) =>
      c.view.path == path && c.asOfSeq == Long.MaxValue &&
        c.stamp == stampOf(spark, c.dirs)
    }

  /** Publish a mutation's post-write view: each of `before` (current
    * when the mutation started) overlaid with exactly the rows it wrote —
    * rung path → (node, neighbors) rows; the delta leaf is the newest
    * generation, so they win, a NULL row removes the node, and of two
    * rows for one node the first wins, as the merge's maxBy keeps it —
    * with the entries of every changed rung recomputed and `dead` applied
    * to the tombstone set, installed under the directories' post-write
    * stamp. This equals a rebuild from disk only under the single-writer
    * contract (nextDeltaSeq). A view a serve replaced meanwhile is left
    * alone.
    */
  private def publish(spark: SparkSession, before: Seq[(String, CachedView)],
      written: Map[String, Seq[(Long, Array[Long])]],
      dead: Set[Long] => Set[Long]): Unit =
    before.foreach { case (key, c) =>
      def overlay(adj: Map[Long, Array[Long]], rows: Seq[(Long, Array[Long])]) =
        rows.distinctBy(_._1).foldLeft(adj) { case (m, (id, ns)) =>
          if (ns == null) m - id else m.updated(id, ns)
        }
      val v = c.view
      val rungs = v.rungs.map { case r @ (p, adj, _) =>
        written.get(p).fold(r) { rows =>
          val m = overlay(adj, rows)
          (p, m, hashEntries(m, c.descentBeam))
        }
      }
      val (adj0, entryIds) = written.get(v.path).fold((v.adj0, v.entryIds)) { rows =>
        val m = overlay(v.adj0, rows)
        (m, hashEntries(m, c.entries))
      }
      val next = c.copy(stamp = stampOf(spark, c.dirs),
        view = GraphView(v.path, rungs, adj0, entryIds, dead(v.dead)))
      pinLock(key).synchronized {
        if (viewCache.get(key).exists(_ eq c)) viewCache.put(key, next)
      }
    }

  /** The pin a default search of the ladder holds (16 entries, descent
    * beam 4, current version) — the pre-mutation view the append and the
    * tombstone fold compute their delta rows from. */
  private[graft] def servingPin(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, rungPaths: Seq[String]): ResidentPin =
    residentPin(spark, path, corpus, embCol, idCol, entries = 16, rungPaths,
      descentBeam = 4, Long.MaxValue)

  /** The served tail every search shares: pin the index version, walk
    * each query on the calling thread, and keep each query's k best
    * visited as (id, 6-dp score) in (score desc, id asc) order.
    *
    * Emission drops tombstoned ids (legal waypoints, never results) and
    * `exclude` (e.g. the forget ledger's ids) unioned with the conf-keyed
    * default root's ids — both ride the SERVE, never the walk, and the
    * exclusion never the pin, so a forget committed after the pin was
    * built flips the very next serve with zero pin rebuild. `allowed` is
    * the hnswlib filtered-search semantics: the walk routes through every
    * node and only emission is filtered (a post-filtered top-k would lose
    * results; a pruned walk could strand regions); it costs one pushed
    * `id IN visited` probe, the only Spark job a warm search runs.
    */
  private def servedTopK(spark: SparkSession, path: String,
      corpus: DataFrame, embCol: String, idCol: String,
      queries: Seq[(Long, Array[Float])], k: Int, beam: Int, hops: Int,
      entries: Int, maxLevel: Int, descentBeam: Int, descentHops: Int,
      asOfSeq: Long, exclude: Set[Long],
      allowed: Option[DataFrame]): Seq[(Long, Seq[(Long, Double)])] = {
    val pin = residentPin(spark, path, corpus, embCol, idCol, entries,
      (maxLevel to 1 by -1).map(l => path + "_l" + l), descentBeam, asOfSeq)
    val walked = queries.map { case (qid, qv) =>
      qid -> ladderWalk(pin, qv, beam, hops, descentBeam, descentHops)._1
    }
    val excluded = exclude ++ graft.ops.Forget.defaultExcludeIds(spark)
    val pass: Long => Boolean = allowed match {
      case None => _ => true
      case Some(a) =>
        val ids = walked.flatMap(_._2.keys).distinct
        if (ids.isEmpty) _ => false
        else a.filter(col(idCol).isin(ids: _*)).select(col(idCol))
          .collect().map(_.getLong(0)).toSet
    }
    walked.map { case (qid, visited) =>
      qid -> visited.toSeq.filter { case (id, _) =>
          !pin.graph.dead.contains(id) && !excluded.contains(id) && pass(id) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
        .map { case (id, s) =>
          id -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    }
  }

  /** Batch search through the HNSW ladder (flat NSW: `maxLevel = 0`),
    * served from the resident pin — the hnswlib serving model: every
    * rung's merged adjacency (optionally pinned to delta generation
    * `asOfSeq`, every rung filtered to `seq <= asOfSeq`; tombstones apply
    * current), the hash-min entries, the corpus vectors and the tombstone
    * set are pinned ONCE PER INDEX VERSION as driver maps, and every
    * query of the batch walks them on the calling thread: no Spark job,
    * no per-hop plan, no task scheduling — a warm walk is about a
    * millisecond of map lookups. Returns a driver-local (qid, idCol,
    * score) DataFrame in (qid, id) order, so collecting it runs no Spark
    * job either. Upper rungs are geometrically thinner (|V|/fanout^ℓ),
    * so the ladder adds ~15% to the pin's memory bound.
    *
    * 100 TB posture: the pin is per-SHARD serving state — ids + 2M
    * neighbor ids + the vector column, the memory bound hnswlib itself
    * requires of a serving node — reused across batches until an
    * append/fold/compact/delete moves its stamp. Corpora past one node's
    * memory run the sharded rows' pattern (serve each shard's pin, union,
    * re-top-k).
    */
  def hnswServedSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4, entries: Int = 16,
      maxLevel: Int = 2, descentBeam: Int = 4,
      descentHops: Int = 2, asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    servedTopK(spark, path, corpus, embCol, idCol, queries, k, beam, hops,
        entries, maxLevel, descentBeam, descentHops, asOfSeq, exclude, None)
      .flatMap { case (qid, rows) => rows.map { case (id, s) => (qid, id, s) } }
      .sortBy { case (qid, id, _) => (qid, id) }
      .toDF("qid", idCol, "score")
  }

  /** hnswServedSearch at the current index version. */
  def hnswBatchSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4, entries: Int = 16,
      maxLevel: Int = 2, descentBeam: Int = 4,
      descentHops: Int = 2,
      exclude: Set[Long] = Set.empty): DataFrame =
    hnswServedSearch(spark, path, corpus, embCol, idCol, queries, k, beam,
      hops, entries, maxLevel, descentBeam, descentHops, exclude = exclude)

  /** Single-query search through the ladder (see hnswServedSearch):
    * (idCol, score) rows for the k best visited, (score desc, id asc),
    * with the optional emission predicate `allowed`.
    */
  def hnswSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, hops: Int = 4, entries: Int = 16,
      maxLevel: Int = 2, descentBeam: Int = 4,
      descentHops: Int = 2,
      allowed: Option[DataFrame] = None,
      asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    servedTopK(spark, path, corpus, embCol, idCol, Seq(0L -> queryVec), k,
        beam, hops, entries, maxLevel, descentBeam, descentHops, asOfSeq,
        exclude, allowed)
      // re-sorted after rounding: equal 6-dp scores order by id
      .head._2.sortBy { case (id, s) => (-s, id) }
      .toDF(idCol, "score")
  }

  // Flat NSW search is the ladder walk with no upper rungs.

  def nswSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, hops: Int = 4, entries: Int = 16,
      allowed: Option[DataFrame] = None,
      asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame =
    hnswSearch(spark, path, corpus, embCol, idCol, queryVec, k, beam, hops,
      entries, maxLevel = 0, allowed = allowed, asOfSeq = asOfSeq,
      exclude = exclude)

  def nswBatchSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4,
      entries: Int = 16,
      exclude: Set[Long] = Set.empty): DataFrame =
    hnswBatchSearch(spark, path, corpus, embCol, idCol, queries, k, beam,
      hops, entries, maxLevel = 0, exclude = exclude)

  def nswServedSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4,
      entries: Int = 16, asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame =
    hnswServedSearch(spark, path, corpus, embCol, idCol, queries, k, beam,
      hops, entries, maxLevel = 0, asOfSeq = asOfSeq, exclude = exclude)

  /** One TRACED flat walk: the served walk with a snapshot after every
    * hop — a recall-vs-hops tuning curve costs ONE walk per sample query
    * instead of one walk per (query, hops) setting (hop h's state is a
    * prefix of hop h+1's by construction, which also makes the curve
    * monotone). Returns (hop, scored_so_far, top-k visited ids) for
    * hop = 1..maxHops; snapshots do not filter tombstones.
    */
  def nswSearchTrace(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, maxHops: Int = 4,
      entries: Int = 16): Seq[(Int, Long, Seq[Long])] = {
    val pin = residentPin(spark, path, corpus, embCol, idCol, entries,
      Nil, 0, Long.MaxValue)
    ladderWalk(pin, queryVec, beam, maxHops, 0, 0, snapshotK = k)._2
  }
}
