package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *    hash-clustered on node_id so frontier fetches prune.
  *
  * Scale shape, query (the serving path):
  *  - E entry points = hash-min sample of the corpus (deterministic,
  *    query-independent — the fixed entry of HNSW generalized).
  *  - H bounded hops; each hop fetches the frontier's adjacency rows by
  *    pushed `node_id IN` point lookups (partition/row-group pruning at
  *    the source), scores the new candidates against the query from the
  *    per-corpus-version resident vector pin (the hnswlib serving bound —
  *    see vecPin), and keeps the global best B.
  *  - Walk state is (B + E + H·B·M) (id, score) entries — a few
  *    hundred rows, the MMR/pagination serving-path bound, documented
  *    at each collect.
  *  - The corpus' (id, embedding) projection IS collected: once per
  *    corpus version into the vecPin (LRU, at most 16 corpus versions),
  *    so the driver must hold |corpus| × dim floats per live version —
  *    the hnswlib serving-node bound. The resident served path (see
  *    residentPin) adds the merged adjacency and tombstones per index
  *    version; corpora past one node's memory serve per shard.
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

  /** Merged adjacency view: the base build (seq 0) overlaid by append
    * deltas at `<path>_delta`, latest-wins per node — the MOR discipline
    * applied to the graph, so appends never rewrite the base files. A
    * delta row with NULL neighbors is a removal marker (written by
    * `foldNswTombstones`): latest-wins resolves it like any other
    * version, then the merged view drops the node entirely.
    */
  // Explicit read schemas: adjacency/tombstone layouts are fixed by the
  // writers above, and letting the reader infer them costs a footer-read
  // Spark job per open — a serving walk opens the graph on every call,
  // so inference was a per-walk job for information the code already has.
  // (seq is the delta leaves' directory-partition column; declaring it
  // long here also replaces the int-discovery + cast dance.)
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

  def readNswAdjacency(spark: SparkSession, path: String): DataFrame =
    readNswAdjacencyAsOf(spark, path, Long.MaxValue)

  /** The merged view AS OF a delta generation — MOR versioning the graph
    * gets for free: every append/fold lands as a `seq=<n>` leaf, so
    * pinning a version is a partition filter on the delta read (latest-
    * wins then resolves within the pinned prefix). seq 0 is the base
    * build; `maxSeq = Long.MaxValue` is the current view.
    */
  def readNswAdjacencyAsOf(spark: SparkSession, path: String,
      maxSeq: Long): DataFrame = {
    val base = spark.read.schema(adjSchema).parquet(path)
      .withColumn("seq", lit(0L))
    val all =
      if (pathExists(spark, path + "_delta"))
        base.unionByName(spark.read.schema(adjDeltaSchema)
          .parquet(path + "_delta")
          .filter(col("seq") <= maxSeq)
          .select(col("node_id"), col("neighbors"), col("seq")))
      else base
    all.groupBy("node_id")
      .agg(max_by(struct(col("seq"), col("neighbors")), col("seq"))
        .getField("neighbors").as("neighbors"))
      .filter(col("neighbors").isNotNull)
  }

  /** The merged view restricted to `ids` — the id semi-join applied BELOW
    * the latest-wins aggregate (joining on the grouping key commutes with
    * the groupBy), so fetching a bounded node set never shuffles the
    * whole graph through the merge exchange.
    */
  private def readNswAdjacencyFor(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame = {
    val base = spark.read.schema(adjSchema).parquet(path)
      .withColumn("seq", lit(0L))
    val all =
      if (pathExists(spark, path + "_delta"))
        base.unionByName(spark.read.schema(adjDeltaSchema)
          .parquet(path + "_delta")
          .select(col("node_id"), col("neighbors"), col("seq")))
      else base
    all.join(broadcast(ids.select("node_id")), Seq("node_id"))
      .groupBy("node_id")
      .agg(max_by(struct(col("seq"), col("neighbors")), col("seq"))
        .getField("neighbors").as("neighbors"))
      .filter(col("neighbors").isNotNull)
  }

  /** Add vectors to a persisted NSW graph without a rebuild — the HNSW
    * insert generalized to batches. New nodes link through the SAME LSH
    * candidate equi-join (against existing + new home buckets); existing
    * nodes touched by a reverse edge get their adjacency row RECOMPUTED
    * (current edges re-scored by point lookups + the new in-edges,
    * re-topped at 2M) and re-landed as a delta row — without this in-edge
    * maintenance, appended vectors would be unreachable out-only sinks.
    * Cost scales with |new|·M affected rows, never the graph. Deltas are
    * seq-stamped (prior max + 1 — deterministic); readers merge
    * latest-wins via readNswAdjacency.
    *
    * BATCH-SIZE CONTRACT: the broadcast hints assume `newNodes` is a
    * micro-batch (≲ executor broadcast budget once multiplied by M edges
    * and the embedding width — low millions of rows in practice). A
    * corpus-scale backfill exceeds the broadcast limit by design; route
    * it through `buildNswGraph` (the batch rebuild), which shuffles
    * instead of broadcasting.
    */
  def appendToNswGraph(spark: SparkSession, newNodes: DataFrame,
      embCol: String, idCol: String, lsh: IndexBuilder.RandomHyperplaneLsh,
      m: Int, path: String, corpus: DataFrame): Unit = {
    val newN = newNodes.select(col(idCol).as("id"), col(embCol).as("emb"))
    val nodesAll = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
      .unionByName(newN)
    val home = IndexBuilder.withLshBucket(nodesAll, "emb", lsh)
    // columnar probe generation (see buildNswGraph)
    val masks = IndexBuilder.probeMasks(lsh.nBits, radius = 1)
    val probedNew = IndexBuilder.withLshBucket(newN, "emb", lsh, "sig")
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("id"), col("emb"),
        col("sig").bitwiseXOR(col("mask")).as("bucket"))
    // the probe side is batch-sized: broadcast it so the corpus-wide home
    // frame streams through the join without an exchange
    val pairs = broadcast(probedNew).as("a")
      .join(home.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        VectorFunctions.cosineUnit(col("a.emb"), col("b.emb")).as("score"))
      .groupBy("src", "dst").agg(max("score").as("score"))
    val wSrc = Window.partitionBy("src")
      .orderBy(col("score").desc, col("dst").asc)
    // localCheckpoint: topM feeds four downstream subtrees (new adjacency,
    // reverse edges, affected set, delta rows); without materialization
    // each broadcast build re-executes the whole candidate join
    val topM = pairs.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= m).select("src", "dst", "score")
      .localCheckpoint(true)
    val newAdj0 = topM
      .groupBy(col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // total over the arrivals, like the build: a new node alone in its
    // bucket neighborhood (common in sparse upper HNSW layers) still
    // lands a row, or layer membership would silently drift
    val newAdj = newN.select(col("id").as("node_id"))
      .join(broadcast(newAdj0), Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("neighbors"),
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("neighbors"))
    // reverse edges into EXISTING nodes: recompute those nodes' rows.
    // topM / affected / the edge recompute are all bounded by |new|·M —
    // broadcast them so no corpus-sized frame crosses an exchange here
    val existingIds = corpus.select(col(idCol).as("id"))
    val rev = broadcast(topM).join(
        existingIds.withColumnRenamed("id", "dst"), Seq("dst"))
      .select(col("dst").as("src"), col("src").as("dst"), col("score"))
    val affected = rev.select(col("src").as("node_id")).distinct()
    val curEdges = readNswAdjacencyFor(spark, path, affected)
      .select(col("node_id").as("src"), explode(col("neighbors")).as("dst"))
    val curSrc = broadcast(curEdges)
      .join(nodesAll.select(col("id").as("src"), col("emb").as("src_emb")), Seq("src"))
    val cur = broadcast(curSrc)
      .join(nodesAll.select(col("id").as("dst"), col("emb").as("dst_emb")), Seq("dst"))
      .select(col("src"), col("dst"),
        VectorFunctions.cosineUnit(col("src_emb"), col("dst_emb")).as("score"))
    val mergedRows = cur.unionByName(rev)
      .groupBy("src", "dst").agg(max("score").as("score"))
      .withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= 2 * m)
      .groupBy(col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    writeDelta(newAdj.unionByName(mergedRows), path, nextDeltaSeq(spark, path))
  }

  /** Next seq stamp for a graph's delta sidecar (prior max + 1;
    * deterministic — never a wall clock). The seq lives in the DIRECTORY
    * name (`_delta/seq=<n>` partition leaves), so allocating the next one
    * is a filesystem listing — the previous row-level seq column cost one
    * full delta read + aggregate job per rung per append.
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

  /** One delta generation landed as its own `seq=<n>` leaf (partition-
    * discovered on read; overwrite makes re-landing a generation
    * idempotent rather than duplicating rows).
    */
  private def writeDelta(df: DataFrame, path: String, seq: Long): Unit =
    df.repartition(2, col("node_id"))
      .write.mode("overwrite").parquet(path + s"_delta/seq=$seq")

  /** Delete vectors from a persisted NSW graph — a tombstone sidecar
    * append, the same O(|deleted|) delete the LSH/IVF/BM25 families use;
    * no adjacency files are touched. Search semantics until the next
    * fold: a tombstoned node may still be hopped THROUGH (its edges keep
    * its neighborhood connected — dropping it from the walk could strand
    * every region it bridges) but is never EMITTED. The emission filter
    * is one pushed `id IN` probe over the sidecar, bounded by the visited
    * set, so serving cost does not grow with the tombstone count.
    */
  def deleteFromNswGraph(spark: SparkSession, ids: Seq[Long], path: String): Unit = {
    import spark.implicits._
    ids.toDF("node_id").repartition(1)
      .write.mode("append").parquet(path + "_tombstones")
  }

  /** Tombstoned node ids (empty when no delete is pending). */
  def readNswTombstones(spark: SparkSession, path: String): DataFrame =
    if (pathExists(spark, path + "_tombstones"))
      spark.read.schema(tombSchema).parquet(path + "_tombstones")
        .select("node_id").distinct()
    else {
      import spark.implicits._
      Seq.empty[Long].toDF("node_id")
    }

  /** Fold pending tombstones into the adjacency — the right-to-be-
    * forgotten job the other index families already have. Only AFFECTED
    * rows are rewritten (nodes listing a deleted neighbor — bounded by
    * the deleted set's in-degree, never the graph):
    *
    *  - each affected node drops its deleted neighbors and inherits the
    *    deleted nodes' own surviving neighbors as BRIDGE candidates (the
    *    HNSW repair heuristic: when a waypoint dies, its endpoints are
    *    wired to each other), re-scored against real embeddings and
    *    re-topped at 2M — so a region reachable only through deleted
    *    nodes stays reachable around them;
    *  - deleted nodes' own rows become NULL-neighbor removal markers,
    *    which the merged view resolves latest-wins and drops.
    *
    * Both land as ONE seq-stamped delta append; the sidecar truncates
    * LAST (the Compaction ordering), so a crash between the two leaves
    * tombstones pending — the search filter still hides the deleted ids
    * and a re-fold is idempotent (its recomputation reads the merged
    * view, which already resolves to the folded rows).
    *
    * BATCH-SIZE CONTRACT: the fold broadcasts frames bounded by the
    * tombstone set × its in-degree (affected rows, bridge edges). A
    * delete wave large enough to overflow that broadcast budget — a
    * sizable fraction of the graph — is cheaper as a rebuild over the
    * surviving corpus (`buildNswGraph`), which is the documented escape
    * hatch, not a bigger fold.
    */
  def foldNswTombstones(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, m: Int): Unit = {
    val tomb = readNswTombstones(spark, path).cache()
    if (tomb.isEmpty) return
    foldRungTombstones(spark, Seq(path), tomb, corpus, embCol, idCol, m)
    tomb.unpersist()
    // sidecar truncates LAST: a crash before this point leaves tombstones
    // pending, which is merely conservative (search keeps filtering them)
    deletePath(spark, path + "_tombstones")
  }

  /** The fold body over a SET of rungs as ONE rung-tagged job (the
    * batched-append discipline applied to deletes): the
    * bridge/surviving/rewrite pipeline keys on (rung, …) so rungs never
    * mix, and the computed delta rows materialize once before fanning
    * out as per-rung sidecar appends. The only corpus-wide touch is a
    * RAW map-side scan for the deleted set's in-neighbor candidates —
    * no latest-wins aggregate ever runs over the full graph here (see
    * the inline notes). Embedding joins use the FULL corpus keyed by id
    * — scores are layer-independent, and ids are corpus-unique. The
    * caller owns the tombstone-sidecar lifecycle.
    */
  private def foldRungTombstones(spark: SparkSession, rungPaths: Seq[String],
      tomb: DataFrame, corpus: DataFrame, embCol: String, idCol: String,
      m: Int): Unit = withWalkConfs(spark) { spark =>
    // walk confs apply to the fold too: its only corpus-wide touch is the
    // map-side raw scan (no shuffle for AQE to replan), and every shuffle
    // below is bounded by |deleted| × in-degree
    // THE one corpus-wide pass this job fundamentally needs: the graph
    // stores OUT-edges only, so finding the deleted set's in-neighbors
    // must touch every rung's adjacency once. It runs over the RAW
    // base∪delta rows — a map-side scan + broadcast join, NO latest-wins
    // shuffle — yielding a stale-version SUPERSET of the in-neighbors
    // (bounded by in-degree across versions); only those candidates then
    // pay the merge, as an id-pruned fetch whose current edges decide
    // true affectedness. Everything downstream is |deleted| × in-degree
    // bounded; the full merged view is never aggregated, materialized,
    // or pinned anywhere in the fold.
    val rawRows = rungPaths.zipWithIndex.map { case (p, i) =>
      val base = spark.read.parquet(p).select(col("node_id"), col("neighbors"))
      val all =
        if (pathExists(spark, p + "_delta"))
          base.unionByName(spark.read.parquet(p + "_delta")
            .select(col("node_id"), col("neighbors")))
        else base
      all.withColumn("rung", lit(i))
    }.reduce(_ unionByName _)
    val candIds = rawRows
      .select(col("rung"), col("node_id"), explode(col("neighbors")).as("dst"))
      .join(broadcast(tomb.withColumnRenamed("node_id", "dst")), Seq("dst"))
      .join(broadcast(tomb), Seq("node_id"), "left_anti")
      .select("rung", "node_id").distinct()
      .localCheckpoint(true)
    // ONE bounded fetch for every merged row the fold needs — the
    // in-neighbor candidates AND the deleted nodes themselves — as a
    // per-rung id semi-join below the latest-wins aggregate,
    // materialized once; splitting back out is a broadcast filter over
    // the checkpointed blocks, never another read of the rung files.
    val fetched = rungPaths.zipWithIndex.map { case (p, i) =>
      readNswAdjacencyFor(spark, p,
        candIds.filter(col("rung") === i).select("node_id")
          .unionByName(tomb).distinct())
        .withColumn("rung", lit(i))
    }.reduce(_ unionByName _).localCheckpoint(true)
    // the candidates' CURRENT merged rows: their edges split into the
    // dying endpoints (⇒ true affectedness + bridge anchors) and the
    // surviving ones (⇒ the rewrite's base edge set) — a stale-only
    // in-edge makes a candidate drop out here
    val candEdges = fetched
      .join(broadcast(tomb), Seq("node_id"), "left_anti")
      .select(col("rung"), col("node_id").as("src"),
        explode(col("neighbors")).as("dst"))
    val affected = candEdges
      .join(broadcast(tomb.withColumnRenamed("node_id", "dst")), Seq("dst"))
      .select(col("rung"), col("src"), col("dst").as("via"))
    val affectedIds = affected.select(col("rung"), col("src").as("node_id")).distinct()
    // the deleted nodes' own rows: feed bridge candidates AND removal
    // markers — tombstone-bounded
    val deadAdj = fetched.join(broadcast(tomb), Seq("node_id"))
    // bridge candidates: deleted node d's surviving neighbors, offered to
    // every surviving node that listed d (within the same rung)
    val deadOut = deadAdj.select(col("rung"), col("node_id").as("via"),
        explode(col("neighbors")).as("dst"))
      .join(broadcast(tomb.withColumnRenamed("node_id", "dst")), Seq("dst"), "left_anti")
    val bridges = broadcast(affected)
      .join(deadOut, Seq("rung", "via"))
      .select(col("rung"), col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // affected nodes' surviving edges — from the same fetched candidate
    // rows, restricted to TRUE affected sources (a candidate whose only
    // tomb edge was stale must not be rewritten)
    val surviving = candEdges
      .join(broadcast(tomb.withColumnRenamed("node_id", "dst")), Seq("dst"), "left_anti")
      .join(broadcast(affectedIds.withColumnRenamed("node_id", "src")),
        Seq("rung", "src"))
      .select("rung", "src", "dst")
    val nodes = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
    val rewriteEdges = surviving.unionByName(bridges).distinct()
    val rewriteSrc = broadcast(rewriteEdges)
      .join(nodes.select(col("id").as("src"), col("emb").as("src_emb")), Seq("src"))
    val rewritten = broadcast(rewriteSrc)
      .join(nodes.select(col("id").as("dst"), col("emb").as("dst_emb")), Seq("dst"))
      .select(col("rung"), col("src"), col("dst"),
        VectorFunctions.cosineUnit(col("src_emb"), col("dst_emb")).as("score"))
      .withColumn("rn", row_number().over(Window.partitionBy("rung", "src")
        .orderBy(col("score").desc, col("dst").asc)))
      .filter(col("rn") <= 2 * m)
      .groupBy(col("rung"), col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // an affected node whose every edge died still needs a NEW row —
    // an empty list, not its stale one surviving latest-wins
    val rewrittenAll = affectedIds
      .join(broadcast(rewritten), Seq("rung", "node_id"), "left")
      .select(col("rung"), col("node_id"), coalesce(col("neighbors"),
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("neighbors"))
    val removals = deadAdj
      .select(col("rung"), col("node_id"), lit(null)
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)).as("neighbors"))
    // one job computes every rung's delta rows; the per-rung appends are
    // cheap scans of the checkpointed blocks
    val delta = rewrittenAll.unionByName(removals).localCheckpoint(true)
    val present = delta.select("rung").distinct()
      .collect().map(_.getInt(0)).sorted // ≤ |rungs| rows
    present.foreach { i =>
      writeDelta(delta.filter(col("rung") === i).drop("rung"),
        rungPaths(i), nextDeltaSeq(spark, rungPaths(i)))
    }
  }

  /** Fold pending tombstones through the WHOLE HNSW ladder — layer 0 and
    * every persisted `_l<ℓ>` rung, as ONE rung-tagged job. Deleted ids
    * must leave the stored upper layers too (right-to-be-forgotten is
    * about the bytes on disk, not just the emission filter), and the
    * upper-layer bridge repair keeps a region whose hash-selected
    * waypoints all died descendable around them. The one shared sidecar
    * truncates after the deltas land: a crash mid-fold leaves tombstones
    * pending and a re-fold is idempotent.
    */
  def foldHnswTombstones(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, m: Int, maxLevel: Int = 2): Unit = {
    val tomb = readNswTombstones(spark, path).cache()
    if (tomb.isEmpty) return
    val rungs = path +: (1 to maxLevel).map(path + "_l" + _)
      .filter(pathExists(spark, _))
    foldRungTombstones(spark, rungs, tomb, corpus, embCol, idCol, m)
    tomb.unpersist()
    deletePath(spark, path + "_tombstones")
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

  /** Deterministic entry points: the E graph ids with the smallest
    * xxhash64 — a fixed, query-independent sample (catalog-scale read of
    * id + hash only).
    */
  private def entryPoints(spark: SparkSession, adj: DataFrame, e: Int): Seq[Long] =
    adj.select(col("node_id"), xxhash64(col("node_id")).as("h"))
      .orderBy(col("h").asc, col("node_id").asc).limit(e)
      .collect().map(_.getLong(0)).toIndexedSeq // serving-path: E rows

  // ---- scorer-side resident vector pin ---------------------------------
  // The rescore side of a walk pinned per corpus version — the same
  // residentPin discipline the `_served`/`_vacuumed` rows already use,
  // applied to the DISTRIBUTED walk's scorer: the per-hop cosine
  // previously ran as one Spark job per hop (a pushed `id IN` point
  // lookup + collect), which at ~40 ms of plan/codegen/scheduling per
  // job dominated every walk row's wall time while fetching a few
  // hundred rows. The pin collects the corpus projection (id, emb) ONCE
  // per corpus signature (ResultCache.cacheKey — plan + input-file
  // stamps, so any upsert/delete/planted-copy change invalidates) and
  // hops score by map lookup: per-hop job count halves, and the walk's
  // own pushed `node_id IN` adjacency point-lookups keep the distributed
  // walk shape. 100 TB posture: (id, emb) resident per indexed shard is
  // exactly the memory bound hnswlib requires of a serving node — the
  // argument residentPin documents; the unpinned cold path is one narrow
  // projection scan per corpus version, paid inside the serve.
  // Driver-side map only (the beam loop runs on the driver); LRU-bounded.
  private val VecPinMax = 16
  private val vecPinCache = new java.util.LinkedHashMap[
      String, Map[Long, Array[Float]]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Map[Long, Array[Float]]]): Boolean =
      size > VecPinMax
  }

  private def vecPin(corpus: DataFrame, embCol: String,
      idCol: String): Map[Long, Array[Float]] = {
    val proj = corpus.select(col(idCol).cast("long"), col(embCol))
    val key = graft.ops.ResultCache.cacheKey(proj)
    val hit = vecPinCache.synchronized(Option(vecPinCache.get(key)))
    hit.getOrElse {
      // a null embedding scores nothing (its id is a waypoint at most),
      // exactly as an id absent from the corpus
      val m = proj.collect().collect {
        case r if !r.isNullAt(1) => r.getLong(0) -> r.getSeq[Float](1).toArray
      }.toMap
      vecPinCache.synchronized(vecPinCache.put(key, m))
      m
    }
  }

  /** The pinned dot product: double accumulation left-to-right over the
    * min length — the exact loop of the native DotProduct expression
    * (org.apache.spark.sql.graft.DotProduct.nullSafeEval) the distributed
    * scorer evaluated, so pinned scores are bit-identical (the batch-walk
    * parity spec pins this across the two paths).
    */
  private def pinnedDot(e: Array[Float], q: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(e.length, q.length)
    while (i < n) { s += e(i).toDouble * q(i).toDouble; i += 1 }
    s
  }

  /** Exact query scores for a bounded id set, over the corpus pin — the
    * per-hop scoring primitive shared by the flat and hierarchical walks.
    * Ids absent from the corpus score nothing, exactly as the previous
    * pushed `id IN` point lookup returned no row for them.
    */
  private def scorer(corpus: DataFrame, embCol: String, idCol: String,
      queryVec: Array[Float]): Seq[Long] => Map[Long, Double] = {
    val pin = vecPin(corpus, embCol, idCol)
    ids => ids.iterator.flatMap(id =>
      pin.get(id).map(e => id -> pinnedDot(e, queryVec))).toMap
  }

  /** The greedy beam walk: H hops over `adj` from `entryIds`, keeping the
    * global best B visited. Each hop fetches the frontier's adjacency
    * rows by a pushed `node_id IN` filter (the merge's grouping key, so
    * Catalyst pushes it below the latest-wins aggregate into both base
    * and delta scans) — driver state stays (B + E + H·B·2M) entries.
    */
  /** ONE walk core serving both consumers: the greedy beam walk
    * (H hops over `adj` from `entryIds`, global best B kept; each hop's
    * frontier adjacency fetched by a pushed `node_id IN` filter — the
    * merge's grouping key, so Catalyst pushes it below the latest-wins
    * aggregate) AND its per-hop trace — (cumulative candidates scored,
    * current top-snapshotK visited) after every hop. Serving and the
    * tuning curve derive from THIS one loop, so the measured hop curve
    * always describes the walk that is actually served (two drifting
    * copies was the hazard). An exhausted frontier stops expansion but
    * keeps recording carry-forward snapshots so the curve has a row per
    * hop. Driver state stays (B + E + H·B·2M) entries.
    */
  private def beamWalkCore(adj: DataFrame,
      scoreOf: Seq[Long] => Map[Long, Double], entryIds: Seq[Long],
      beam: Int, hops: Int,
      snapshotK: Int): (Map[Long, Double], Seq[(Int, Long, Seq[Long])]) = {
    var visited = scoreOf(entryIds)
    var scored = visited.size.toLong
    var expanded = Set.empty[Long]
    val trace = Seq.newBuilder[(Int, Long, Seq[Long])]
    var hop = 1
    var exhausted = false
    while (hop <= hops) {
      if (!exhausted) {
        // frontier: the beam-best visited nodes not yet expanded
        val frontier = visited.toSeq
          .sortBy { case (id, s) => (-s, id) }.take(beam)
          .map(_._1).filterNot(expanded.contains)
        if (frontier.isEmpty) exhausted = true
        else {
          // dedupe driver-side: a .distinct() here costs a shuffle stage
          // per hop for ≤ B·2M rows — collect the explode narrow instead
          val nbrs = adj.filter(col("node_id").isin(frontier: _*))
            .select(explode(col("neighbors")).as("id"))
            .collect().map(_.getLong(0)).distinct // ≤ B·2M rows per hop
            .filterNot(visited.contains)
          visited ++= scoreOf(nbrs.toIndexedSeq)
          scored += nbrs.length
          expanded ++= frontier
        }
      }
      if (snapshotK > 0)
        trace += ((hop, scored, visited.toSeq
          .sortBy { case (id, s) => (-s, id) }.take(snapshotK).map(_._1)))
      hop += 1
    }
    (visited, trace.result())
  }

  private def beamWalk(adj: DataFrame, scoreOf: Seq[Long] => Map[Long, Double],
      entryIds: Seq[Long], beam: Int, hops: Int): Map[Long, Double] =
    beamWalkCore(adj, scoreOf, entryIds, beam, hops, snapshotK = 0)._1

  /** One TRACED walk: the serving walk's own loop with a snapshot after
    * every hop — a recall-vs-hops tuning curve costs ONE walk per sample
    * query instead of one walk per (query, hops) setting (hop h's state
    * is a prefix of hop h+1's by construction, which also makes the
    * curve monotone). Returns (hop, scored_so_far, top-k ids) for
    * hop = 1..maxHops.
    */
  def nswSearchTrace(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, maxHops: Int = 4,
      entries: Int = 16): Seq[(Int, Long, Seq[Long])] = withWalkConfs(spark) { spark =>
    val scoreOf = scorer(corpus, embCol, idCol, queryVec)
    val adj = readNswAdjacency(spark, path)
    withPinned(Seq(adj)) {
      beamWalkCore(adj, scoreOf, entryPoints(spark, adj, entries),
        beam, maxHops, snapshotK = k)._2
    }
  }

  /** Emission: drop tombstoned ids (legal waypoints, never results),
    * apply the optional metadata predicate the same way (the hnswlib
    * filtered-search semantics: the walk routes through every node, only
    * emission is filtered — post-filtering a top-k would lose results,
    * and pruning the WALK by the predicate could strand regions), and
    * return the k best surviving visited as (idCol, score) rows. The
    * predicate probe is one pushed `id IN` lookup bounded by the visited
    * set, like the tombstone probe.
    */
  private def emitTopK(spark: SparkSession, path: String,
      visited: Map[Long, Double], idCol: String, k: Int,
      allowed: Option[DataFrame] = None,
      exclude: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val visitedIds = visited.keys.toSeq
    // conf-keyed forget exclusion joins the caller's serve-tail set —
    // emission-side like every exclude, so the walk itself is untouched
    val excl = exclude ++ graft.ops.Forget.defaultExcludeIds(spark)
    val dead: Set[Long] =
      if (visitedIds.isEmpty) Set.empty
      else readNswTombstones(spark, path)
        .filter(col("node_id").isin(visitedIds: _*))
        .collect().map(_.getLong(0)).toSet
    val pass: Long => Boolean = allowed match {
      case None => _ => true
      case Some(a) =>
        if (visitedIds.isEmpty) _ => false
        else {
          val ok = a.filter(col(idCol).isin(visitedIds: _*))
            .select(col(idCol)).collect().map(_.getLong(0)).toSet
          ok.contains _
        }
    }
    visited.toSeq.filter { case (id, _) =>
        !dead.contains(id) && !excl.contains(id) && pass(id) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
      .map { case (id, s) =>
        (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF(idCol, "score")
      // k driver-local rows: a single-partition narrow sort gives the
      // same global order as orderBy without its range-sampling job
      .coalesce(1).sortWithinPartitions(col("score").desc, col(idCol).asc)
  }

  /** Pin the merged adjacency for the duration of a walk — the hnswlib
    * serving model (the graph lives resident) applied to the MOR view:
    * without this, EVERY hop re-runs the base∪delta latest-wins aggregate
    * just to fetch a frontier's rows. One merge pass per walk, then hops
    * are in-memory filters; at 100 TB the pinned view is the serving
    * tier's standing state (re-pinned per delta version), and the
    * unpinned cold path stays correct, just slower.
    */
  private def withPinned[A](adjs: Seq[DataFrame])(f: => A): A = {
    adjs.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try f finally adjs.foreach(_.unpersist(false))
  }

  /** Serving confs for the walk's micro-queries: every hop's frame is
    * provably bounded (frontier ≤ B rows, neighbors ≤ B·2M) — AQE's
    * per-stage re-planning spawns extra jobs that cost more than they
    * could ever save on such rows, and a 32-partition shuffle schedules
    * 32 near-empty tasks for a few hundred entries. Measured on the hnsw
    * driver row: ~1 s of pure scheduling overhead.
    *
    * The confs live on a DEDICATED walk session (spark.newSession: same
    * SparkContext, isolated SQL confs), created once per context with
    * AQE off and 8 shuffle partitions, and handed to the body — which
    * shadows `spark` with it, so every graph-side frame it builds runs
    * under walk confs. The previous set/restore on the SHARED session
    * leaked walk confs to any concurrent non-walk query and needed a
    * JVM-wide lock that serialized walks against folds; a cloned session
    * mutates nothing, so the lock is gone and a long fold no longer
    * blocks serving walks. Caller-built frames (corpus point lookups,
    * tombstone probes) keep their own session — they are narrow pushed
    * scans with no exchange, where neither conf matters.
    * Build/append jobs keep the session confs (their shuffles can be
    * corpus-born, where AQE earns its jobs).
    *
    * CONF-INHERITANCE CUTOFF: the walk session is created ONCE per
    * SparkContext via `spark.newSession()`, which snapshots only
    * context-level and default confs — runtime SQL confs set on the
    * caller's session AFTER the first walk never reach walk-side
    * execution. Deliberate for the two confs pinned here, but a future
    * session-level conf (an ANSI toggle, a codegen flag) must arrive
    * context-wide (spark-defaults / -D system property) to influence
    * walks — or this cache must become a per-caller cloneSession. Walks
    * also compose caller-session frames (corpus, tombstones) into
    * walk-session plans; those stay exchange-free pushed scans, where no
    * session conf changes the result.
    */
  @volatile private var walkSessionRef: SparkSession = _

  private def withWalkConfs[A](spark: SparkSession)(f: SparkSession => A): A = {
    val cur = walkSessionRef
    val ws =
      if (cur != null && (cur.sparkContext eq spark.sparkContext)) cur
      else synchronized {
        val again = walkSessionRef
        if (again != null && (again.sparkContext eq spark.sparkContext)) again
        else {
          val s = spark.newSession()
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.shuffle.partitions", "8")
          walkSessionRef = s
          s
        }
      }
    f(ws)
  }

  /** Beam search over the persisted graph: H hops, global beam B.
    * `corpus` supplies (idCol, embCol) for scoring — at scale the same
    * table the graph indexes, fetched by pushed id IN point lookups.
    * Returns (idCol, score) rows for the k best visited, exact-scored.
    */
  def nswSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, hops: Int = 4, entries: Int = 16,
      allowed: Option[DataFrame] = None,
      asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame =
    withWalkConfs(spark) { spark =>
      val scoreOf = scorer(corpus, embCol, idCol, queryVec)
      val adj = readNswAdjacencyAsOf(spark, path, asOfSeq)
      withPinned(Seq(adj)) {
        val visited =
          beamWalk(adj, scoreOf, entryPoints(spark, adj, entries), beam, hops)
        emitTopK(spark, path, visited, idCol, k, allowed, exclude)
      }
    }

  // ---------------------------------------------------------------------
  // HNSW: a coarse layer ladder above NSW layer 0 (Malkov & Yashunin
  // 2016). Upper layers hold geometrically thinner node subsets with
  // their own small NSW adjacency; a query greedily descends the ladder
  // (log-hops to the right region) and hands the layer-0 beam entry
  // points already NEAR the answer — cutting the H·B·2M point lookups
  // a cold flat walk spends crossing the graph.
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

  /** Append to the HNSW ladder without a rebuild — ONE layer-tagged job,
    * not one append pipeline per rung. Every stage of the NSW append
    * (LSH candidate equi-join, per-source top-M window, reverse-edge
    * recompute of affected existing rows, re-top at 2M) runs once over
    * rows tagged with their layer: layer 0 takes every new node, each
    * upper layer exactly the new nodes its id hash selects — the SAME
    * pure level function the build used, so the ladder's membership
    * invariant survives any append sequence. Joins and windows key on
    * (layer, …), so rungs never mix; the computed delta rows materialize
    * once (localCheckpoint) and fan out as per-rung sidecar appends.
    * The previous per-rung loop ran three near-identical jobs — same
    * semantics, ~3× the scans and shuffles.
    */
  def appendToHnswGraph(spark: SparkSession, newNodes: DataFrame,
      embCol: String, idCol: String, lsh: IndexBuilder.RandomHyperplaneLsh,
      m: Int, path: String, corpus: DataFrame,
      fanout: Int = 8, maxLevel: Int = 2): Unit = {
    def layerPath(l: Int): String = if (l == 0) path else path + "_l" + l
    // tag a (id, …) frame with every layer its id hash belongs to — as a
    // single explode over the computed membership list, NOT a union of
    // maxLevel+1 filtered copies: the union form re-scans (and re-hashes)
    // the corpus once per rung, tripling the job's scan volume
    val layerList = filter(
      array((0 to maxLevel).map { l =>
        when(pmod(xxhash64(col("id")),
          lit(math.pow(fanout.toDouble, l.toDouble).toLong)) === 0L, lit(l))
      }: _*), x => x.isNotNull)
    def tagged(df: DataFrame): DataFrame =
      df.withColumn("layer", explode(layerList))
    val newN = newNodes.select(col(idCol).as("id"), col(embCol).as("emb"))
    val nodesAll = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
      .unionByName(newN)
    // signature ONCE per row, tag after — the ladder's membership tagging
    // replicates the already-computed bucket instead of re-hashing the
    // corpus per rung; probes are the columnar mask explode (see
    // buildNswGraph), never the per-row probes() UDF
    val homeT = tagged(IndexBuilder.withLshBucket(nodesAll, "emb", lsh))
    val masks = IndexBuilder.probeMasks(lsh.nBits, radius = 1)
    val probedNewT = tagged(IndexBuilder.withLshBucket(newN, "emb", lsh, "sig"))
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("layer"), col("id"), col("emb"),
        col("sig").bitwiseXOR(col("mask")).as("bucket"))
    // batch-sized sides are broadcast throughout, so the corpus-wide
    // frames (homeT, existingT, nodesAll) never cross an exchange —
    // exchange count, not compute, dominates this job's wall time
    val pairs = broadcast(probedNewT).as("a")
      .join(homeT.as("b"), col("a.layer") === col("b.layer") &&
        col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.layer").as("layer"), col("a.id").as("src"),
        col("b.id").as("dst"),
        VectorFunctions.cosineUnit(col("a.emb"), col("b.emb")).as("score"))
      .groupBy("layer", "src", "dst").agg(max("score").as("score"))
    val wSrc = Window.partitionBy("layer", "src")
      .orderBy(col("score").desc, col("dst").asc)
    // localCheckpoint: same four-consumer shape as the flat append — one
    // candidate-join evaluation, not one per broadcast subtree
    val topM = pairs.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= m).select("layer", "src", "dst", "score")
      .localCheckpoint(true)
    val newAdj0 = topM
      .groupBy(col("layer"), col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // total over the arrivals per rung: a new node alone in its bucket
    // neighborhood (common in sparse upper layers) still lands a row
    val newAdj = tagged(newN).select(col("layer"), col("id").as("node_id"))
      .join(broadcast(newAdj0), Seq("layer", "node_id"), "left")
      .select(col("layer"), col("node_id"), coalesce(col("neighbors"),
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("neighbors"))
    // reverse edges into EXISTING nodes, per rung: recompute those rows
    val existingT = tagged(corpus.select(col(idCol).as("id")))
    val rev = broadcast(topM)
      .join(existingT.select(col("layer"), col("id").as("dst")), Seq("layer", "dst"))
      .select(col("layer"), col("dst").as("src"), col("src").as("dst"), col("score"))
    // materialized once: affected drives a per-rung filtered merge below
    // AND the rewrite's id set — without it each subtree re-runs the
    // candidate join
    val affected = rev.select(col("layer"), col("src").as("node_id"))
      .distinct().localCheckpoint(true)
    // per-rung merge restricted to that rung's affected ids, the semi-join
    // BELOW the latest-wins aggregate — never the whole graph through it
    val curAdj = (0 to maxLevel).flatMap { l =>
      if (l == 0 || pathExists(spark, layerPath(l)))
        Some(readNswAdjacencyFor(spark, layerPath(l),
          affected.filter(col("layer") === l).select("node_id"))
          .withColumn("layer", lit(l)))
      else None
    }.reduce(_ unionByName _)
    val curEdges = curAdj
      .select(col("layer"), col("node_id").as("src"),
        explode(col("neighbors")).as("dst"))
    val curSrc = broadcast(curEdges)
      .join(nodesAll.select(col("id").as("src"), col("emb").as("src_emb")), Seq("src"))
    val cur = broadcast(curSrc)
      .join(nodesAll.select(col("id").as("dst"), col("emb").as("dst_emb")), Seq("dst"))
      .select(col("layer"), col("src"), col("dst"),
        VectorFunctions.cosineUnit(col("src_emb"), col("dst_emb")).as("score"))
    val mergedRows = cur.unionByName(rev)
      .groupBy("layer", "src", "dst").agg(max("score").as("score"))
      .withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= 2 * m)
      .groupBy(col("layer"), col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // one job computes every rung's delta rows; the per-rung appends below
    // are cheap scans of the checkpointed blocks
    val delta = newAdj.unionByName(mergedRows).localCheckpoint(true)
    val rungs = delta.select("layer").distinct()
      .collect().map(_.getInt(0)).sorted // ≤ maxLevel+1 rows
    rungs.foreach { l =>
      writeDelta(delta.filter(col("layer") === l).drop("layer"),
        layerPath(l), nextDeltaSeq(spark, layerPath(l)))
    }
  }

  /** BATCH graph retrieval: answer ALL queries with shared per-hop jobs —
    * the lshBatchTopK economics brought to the walk family. Each query
    * keeps its own driver-side beam state (B + E + H·B·2M entries, the
    * usual serving bound), but every hop issues ONE adjacency fetch for
    * the UNION of all frontiers and ONE embedding fetch for the union of
    * all new candidates, so the per-hop job cost is amortized across the
    * batch instead of multiplying by it (2 jobs/hop total vs 2·|q|).
    * Scoring runs driver-side over the fetched (id, vector) rows — the
    * fetch is bounded by |q|·B·2M rows of embCol width, the same order
    * as the states themselves. Emission matches nswSearch per query
    * (tombstones filtered, k best, 6-dp rounding, score-desc/id-asc).
    */
  /** Shared embedding state for a batch walk, served from the corpus pin
    * (see vecPin above): vectors are resident per corpus version and
    * reused across queries AND across ladder rungs (embeddings are
    * layer-independent) — the per-hop union fetch job the cold path paid
    * is gone; `fetch` survives as a no-op seam so the walk loop's shape
    * (fetch-then-score per hop) reads unchanged.
    */
  private final class BatchScorer(corpus: DataFrame, embCol: String,
      idCol: String) {
    private val pin = vecPin(corpus, embCol, idCol)
    def fetch(ids: Seq[Long]): Unit = ()
    def cosine(id: Long, q: Array[Float]): Option[Double] =
      pin.get(id).map(pinnedDot(_, q))
  }

  /** The shared-job batch walk over ONE (caller-pinned) adjacency: every
    * hop issues one adjacency fetch for the UNION of all frontiers and
    * one embedding fetch for the union of all new candidates — 2 jobs
    * per hop total instead of 2·|q| — while each query keeps its own
    * isolated beam state (B + E + H·B·2M entries).
    */
  private def batchBeamWalk(adj: DataFrame,
      queries: Seq[(Long, Array[Float])], seedsOf: Long => Seq[Long],
      scorer: BatchScorer, beam: Int,
      hops: Int): Map[Long, Map[Long, Double]] = {
    scorer.fetch(queries.flatMap { case (qid, _) => seedsOf(qid) }.distinct)
    val visited = scala.collection.mutable.Map(queries.map { case (qid, qv) =>
      qid -> scala.collection.mutable.Map(seedsOf(qid).distinct.flatMap(id =>
        scorer.cosine(id, qv).map(id -> _)): _*)
    }: _*)
    val expanded = scala.collection.mutable.Map(
      queries.map { case (qid, _) => qid -> Set.empty[Long] }: _*)
    var hop = 0
    while (hop < hops) {
      // per-query frontier, driver-side; ONE union fetch below
      val frontiers = queries.map { case (qid, _) =>
        qid -> visited(qid).toSeq
          .sortBy { case (id, s) => (-s, id) }.take(beam)
          .map(_._1).filterNot(expanded(qid).contains)
      }.toMap
      val frontierUnion = frontiers.values.flatten.toSeq.distinct
      if (frontierUnion.isEmpty) hop = hops
      else {
        val nbrsOf: Map[Long, Seq[Long]] =
          adj.filter(col("node_id").isin(frontierUnion: _*))
            .select(col("node_id"), col("neighbors")).collect()
            .map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
        scorer.fetch(nbrsOf.values.flatten.toSeq.distinct)
        queries.foreach { case (qid, qv) =>
          val vq = visited(qid)
          frontiers(qid).foreach { f =>
            nbrsOf.getOrElse(f, Nil).foreach { nb =>
              if (!vq.contains(nb))
                scorer.cosine(nb, qv).foreach(vq(nb) = _)
            }
          }
          expanded(qid) ++= frontiers(qid)
        }
        hop += 1
      }
    }
    visited.map { case (q, m) => q -> m.toMap }.toMap
  }

  /** Per-query emission for a batch walk: tombstones filtered, k best,
    * 6-dp rounding, (qid, id) ordering — nswSearch's contract rowized.
    */
  private def emitBatchTopK(spark: SparkSession, path: String,
      queries: Seq[(Long, Array[Float])],
      visited: Map[Long, Map[Long, Double]], idCol: String,
      k: Int, exclude: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    val visitedAll = visited.values.flatMap(_.keys).toSeq.distinct
    // conf-keyed forget exclusion joins the caller's set (see emitTopK)
    val excl = exclude ++ graft.ops.Forget.defaultExcludeIds(spark)
    val dead: Set[Long] =
      if (visitedAll.isEmpty) Set.empty
      else readNswTombstones(spark, path)
        .filter(col("node_id").isin(visitedAll: _*))
        .collect().map(_.getLong(0)).toSet
    queries.flatMap { case (qid, _) =>
      visited(qid).toSeq.filterNot { case (id, _) =>
          dead.contains(id) || excl.contains(id) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
        .map { case (id, s) => (qid, id,
          BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.toDF("qid", idCol, "score")
      // |q|·k driver-local rows: single-partition narrow sort, no
      // range-sampling job (same global order as orderBy)
      .coalesce(1).sortWithinPartitions(col("qid"), col(idCol))
  }

  def nswBatchSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4,
      entries: Int = 16,
      exclude: Set[Long] = Set.empty): DataFrame = withWalkConfs(spark) { spark =>
    val adj = readNswAdjacency(spark, path)
    withPinned(Seq(adj)) {
      val scorer = new BatchScorer(corpus, embCol, idCol)
      val entryIds = entryPoints(spark, adj, entries)
      val visited = batchBeamWalk(adj, queries, _ => entryIds, scorer, beam, hops)
      emitBatchTopK(spark, path, queries, visited, idCol, k, exclude)
    }
  }

  /** The in-memory beam walk over a RESIDENT view — beamWalkCore's exact
    * loop (same frontier selection, same dedup, same left-to-right
    * double dot, same (-score, id) ordering) with Map lookups replacing
    * the per-hop Spark jobs. Every served walk, flat or ladder, runs it.
    */
  private def residentWalk(adj: scala.collection.Map[Long, Array[Long]],
      vec: scala.collection.Map[Long, Array[Float]], qv: Array[Float],
      entryIds: Seq[Long], beam: Int, hops: Int): Map[Long, Double] = {
    def score(id: Long): Option[Double] = vec.get(id).map { e =>
      var s = 0.0; var i = 0
      val n = math.min(e.length, qv.length)
      while (i < n) { s += e(i).toDouble * qv(i).toDouble; i += 1 }
      s
    }
    var visited: Map[Long, Double] =
      entryIds.distinct.flatMap(id => score(id).map(id -> _)).toMap
    var expanded = Set.empty[Long]
    var hop = 1
    var exhausted = false
    while (hop <= hops && !exhausted) {
      val frontier = visited.toSeq
        .sortBy { case (id, s) => (-s, id) }.take(beam)
        .map(_._1).filterNot(expanded.contains)
      if (frontier.isEmpty) exhausted = true
      else {
        val nbrs = frontier.iterator
          .flatMap(f => adj.getOrElse(f, Array.empty[Long]).iterator)
          .toSeq.distinct.filterNot(visited.contains)
        visited ++= nbrs.flatMap(id => score(id).map(id -> _))
        expanded ++= frontier
      }
      hop += 1
    }
    visited
  }

  /** One pinned resident view of a graph index version: the merged
    * (latest-wins, optionally asOfSeq-pinned) adjacency per rung with its
    * hash-min entry points, layer 0's adjacency and entry points, the
    * shard's vectors (the corpus' vecPin) and the tombstone set — plain
    * driver maps, built once per version and walked in place by every
    * serve.
    */
  private[graft] final case class ResidentPin(
    rungs: Seq[(Map[Long, Array[Long]], Seq[Long])],
    adj0: Map[Long, Array[Long]],
    entryIds: Seq[Long],
    vec: Map[Long, Array[Float]],
    dead: Set[Long])

  // ---- resident-pin cache ---------------------------------------------
  // The hnswlib model the served rows cite pins the view ONCE per index
  // version, not per call (the reference's Chroma handle is opened once
  // per session, query_rag_database.py:138-149). Keyed by (path, asOfSeq,
  // entry/descent params); validated by a STAMP that folds the FS listing
  // of the index dir + every sidecar (_delta, _tombstones, ladder rungs)
  // AND the corpus' plan+input signature (ResultCache.cacheKey — the
  // LocalRelation-digesting key, so planted-copy corpora invalidate too).
  // Any append/fold/compact/delete changes a listing, the stamp moves,
  // and the next serve rebuilds; a same-version serve reuses the maps
  // with ZERO pin jobs. Bounded: one live entry per key, replaced in
  // place.
  //
  // Memory bound: one pinned view per (path, asOfSeq, params) key — per
  // index version the merged adjacency of every rung (ids + ≤ 2M
  // neighbor ids each) and the tombstone set, plus the corpus' (id,
  // embedding) map shared with vecPin's cache.
  private val pinCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, ResidentPin)]
  // Striped build locks: two concurrent first serves of the same version
  // must NOT both collect the view (twice the scans, twice the transient
  // driver memory). Builds serialize per key stripe; the winner's pin is
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

  /** Number of resident-pin BUILDS since JVM start (cache misses) —
    * AnnIndexSpec pins that two same-version serves build once. */
  private[graft] def pinBuilds: Int = pinBuildCounter.get

  /** Drop every cached pin (spec isolation only — serving never needs it:
    * stale pins are invalidated by stamp, not by eviction). */
  private[graft] def dropPins(): Unit = pinCache.clear()

  /** Cheap FS stamp of one directory: file count, total bytes, max mtime
    * (the FileListing stamp every knob and result cache shares). */
  private def dirStamp(spark: SparkSession, p: String): String =
    graft.FileListing.stamp(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(p)).fold(s"$p#absent")(st => s"$p#$st")

  /** The pin for (index version, corpus, params): cache hit when the
    * stamp still matches, else build (bounded collects: one merge scan
    * per rung, one corpus scan unless vecPin holds it, one tombstone
    * scan) and replace.
    */
  private def residentPin(spark: SparkSession, path: String,
      corpus: DataFrame, embCol: String, idCol: String, entries: Int,
      rungPaths: Seq[String], descentBeam: Int,
      asOfSeq: Long): ResidentPin = {
    val key = s"$path#asOf=$asOfSeq#e=$entries#db=$descentBeam" +
      s"#rungs=${rungPaths.mkString(",")}"
    def stampNow() = (Seq(path, path + "_delta", path + "_tombstones") ++
        rungPaths.flatMap(p => Seq(p, p + "_delta")))
      .map(dirStamp(spark, _)).mkString("|") + "\u0000" +
      graft.ops.ResultCache.cacheKey(corpus.select(col(idCol), col(embCol)))
    pinCache.get(key) match {
      case Some((s, pin)) if s == stampNow() => pin
      case _ => pinLock(key).synchronized {
      // Re-read under the lock AND recompute the stamp under it: a
      // mutation can land between the fast-path stamp and lock
      // acquisition, and a racing thread may have built the NEWER pin —
      // comparing that against the stale stamp would discard its build,
      // mislabel our rebuild's current-disk contents with the old stamp,
      // and churn every subsequent serve (each sees a stamp mismatch).
      val stamp = stampNow()
      pinCache.get(key) match {
      case Some((s, pin)) if s == stamp => pin
      case _ =>
        def adjOf(p: String): Map[Long, Array[Long]] =
          withWalkConfs(spark) { s => readNswAdjacencyAsOf(s, p, asOfSeq).collect() }
            .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
        // entryPoints' contract on the resident keys: xxhash64 asc, id asc
        def hashEntries(m: Map[Long, Array[Long]], e: Int): Seq[Long] =
          m.keys.toSeq.sortBy(id => (org.apache.spark.sql.catalyst
            .expressions.XXH64.hashLong(id, 42L), id)).take(e)
        val rungs = rungPaths.filter(p => pathExists(spark, p)).map { p =>
          val m = adjOf(p)
          (m, hashEntries(m, descentBeam))
        }
        val adj0 = adjOf(path)
        val pin = ResidentPin(rungs, adj0, hashEntries(adj0, entries),
          vecPin(corpus, embCol, idCol),
          readNswTombstones(spark, path).collect().map(_.getLong(0)).toSet)
        pinBuildCounter.incrementAndGet()
        pinCache.put(key, (stamp, pin))
        pin
      }
      }
    }
  }

  /** The served tail both resident walks share: walk each query on the
    * calling thread, drop tombstoned and excluded ids at emission, and
    * return each query's k best as a driver-local (qid, idCol, score)
    * DataFrame — 6-dp scores, (qid, id) order — so collecting it runs no
    * Spark job either.
    *
    * `exclude` (e.g. the forget ledger's id set), unioned with the
    * conf-keyed default root's ids, rides the SERVE, never the pin: the
    * pinned view stays pure index-version state, so a forget committed
    * after the pin was built flips the very next serve with zero pin
    * rebuild.
    */
  private def servedTopK(spark: SparkSession, pin: ResidentPin,
      queries: Seq[(Long, Array[Float])], idCol: String, k: Int,
      exclude: Set[Long])(walk: Array[Float] => Map[Long, Double]): DataFrame = {
    import spark.implicits._
    val excluded = exclude ++ graft.ops.Forget.defaultExcludeIds(spark)
    queries.flatMap { case (qid, qv) =>
      walk(qv).toSeq.filterNot { case (id, _) =>
          pin.dead.contains(id) || excluded.contains(id) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
        .map { case (id, s) => (qid, id,
          BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.sortBy { case (qid, id, _) => (qid, id) }
      .toDF("qid", idCol, "score")
  }

  /** RESIDENT-VIEW batch serving — the hnswlib serving model the walk
    * code cites, made a first-class path: the merged (latest-wins)
    * adjacency, the shard's vectors, and the tombstone set are pinned
    * ONCE PER INDEX VERSION as driver maps (the residentPin cache above
    * — a serve against an unchanged index reuses the pin after one FS
    * stamp), and every query of the batch walks them on the calling
    * thread: no Spark job, no per-hop plan, no task scheduling — a warm
    * walk is about a millisecond of map lookups. Results are exactly
    * `nswSearch`'s per query: the resident walk replicates
    * beamWalkCore's loop (AnnIndexSpec's "served walk parity" pins
    * row-for-row equality against nswBatchSearch).
    *
    * 100 TB posture: the resident view is per-SHARD serving state — ids
    * + M neighbor ids + the vector column, the same memory bound hnswlib
    * itself requires of a serving node — pinned once per index version
    * and reused across batches; any append/fold/compact moves the stamp
    * and the next serve re-pins. Corpora past one node's view run the
    * sharded scatter-gather rows' pattern (serve each shard's view,
    * union, re-top-k), or fall back to the distributed walk, which
    * bounds memory at (B + E + H·B·2M) ids.
    */
  def nswServedSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4,
      entries: Int = 16, asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame = {
    val pin = residentPin(spark, path, corpus, embCol, idCol, entries,
      Nil, 0, asOfSeq)
    servedTopK(spark, pin, queries, idCol, k, exclude) { qv =>
      residentWalk(pin.adj0, pin.vec, qv, pin.entryIds, beam, hops)
    }
  }

  /** Resident-view serving through the HNSW LADDER — nswServedSearch's
    * model extended to the hierarchy, which is exactly what hnswlib
    * itself serves resident: every rung's (small) adjacency is pinned
    * next to layer 0's, and each query descends in memory on the calling
    * thread (same greedy per-rung walk and carried-seed semantics as
    * hnswSearch/hnswBatchSearch: descend with descentBeam/descentHops,
    * layer 0 walks from carried ∪ fixed hash-min entries, preserving the
    * flat recall floor). No Spark job per batch; parity with the
    * distributed ladder walk is pinned row-for-row by AnnIndexSpec's
    * "hnsw served parity". Upper rungs are geometrically thinner
    * (|V|/fanout^ℓ), so the ladder adds ~15% to the resident view's
    * memory bound. The whole ladder view is pinned once per index
    * version via the residentPin cache; `asOfSeq` pins a delta
    * generation exactly as in `hnswSearch` (each rung's deltas filtered
    * to `seq <= asOfSeq`, tombstones applied current — the same emission
    * contract as the distributed versioned walk), so time-travel reads
    * serve through a cached pin too, keyed per pinned version.
    */
  def hnswServedSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4, entries: Int = 16,
      maxLevel: Int = 2, descentBeam: Int = 4,
      descentHops: Int = 2, asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame = {
    val pin = residentPin(spark, path, corpus, embCol, idCol, entries,
      (maxLevel to 1 by -1).map(l => path + "_l" + l), descentBeam, asOfSeq)
    servedTopK(spark, pin, queries, idCol, k, exclude) { qv =>
      var carried = Seq.empty[Long]
      pin.rungs.foreach { case (adjL, entriesL) =>
        val seeds = if (carried.nonEmpty) carried else entriesL
        if (seeds.nonEmpty)
          carried = residentWalk(adjL, pin.vec, qv, seeds,
              descentBeam, descentHops)
            .toSeq.sortBy { case (id, s) => (-s, id) }
            .take(descentBeam).map(_._1)
      }
      residentWalk(pin.adj0, pin.vec, qv,
        (carried ++ pin.entryIds).distinct, beam, hops)
    }
  }

  /** Batch retrieval through the HNSW ladder: the descent ALSO batches —
    * each rung runs one shared-job batch walk seeding every query's next
    * rung, and the fetched vectors are reused across rungs (embeddings
    * are layer-independent). Layer 0 walks from each query's carried
    * seeds unioned with the fixed hash-min entries, preserving the
    * flat-batch recall floor per query.
    */
  def hnswBatchSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4, entries: Int = 16,
      maxLevel: Int = 2, descentBeam: Int = 4,
      descentHops: Int = 2,
      exclude: Set[Long] = Set.empty): DataFrame = withWalkConfs(spark) { spark =>
    val scorer = new BatchScorer(corpus, embCol, idCol)
    var carried = Map.empty[Long, Seq[Long]]
    var l = maxLevel
    while (l >= 1) {
      val layerPath = path + "_l" + l
      if (pathExists(spark, layerPath)) {
        val adjL = readNswAdjacency(spark, layerPath)
        withPinned(Seq(adjL)) {
          val entriesL = entryPoints(spark, adjL, descentBeam)
          val walked = batchBeamWalk(adjL, queries,
            q => carried.getOrElse(q, entriesL), scorer,
            descentBeam, descentHops)
          carried = walked.map { case (q, vis) =>
            q -> vis.toSeq.sortBy { case (id, s) => (-s, id) }
              .take(descentBeam).map(_._1)
          }
        }
      }
      l -= 1
    }
    val adj0 = readNswAdjacency(spark, path)
    withPinned(Seq(adj0)) {
      val fixed = entryPoints(spark, adj0, entries)
      val visited = batchBeamWalk(adj0, queries,
        q => (carried.getOrElse(q, Nil) ++ fixed).distinct, scorer, beam, hops)
      emitBatchTopK(spark, path, queries, visited, idCol, k, exclude)
    }
  }

  /** Hierarchical search: greedy-descend the ladder top-down (small beam
    * per upper layer — the ef=1 descent of HNSW, widened a little for
    * determinism-safe ties), then run the layer-0 beam from the descended
    * entries UNIONED with the fixed hash-min entries — the descent buys
    * fast convergence, the fixed entries guarantee the flat-NSW recall
    * floor. Tombstone semantics match nswSearch (waypoints allowed,
    * emission filtered, one sidecar for the whole ladder).
    */
  def hnswSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, hops: Int = 4, entries: Int = 16,
      maxLevel: Int = 2, descentBeam: Int = 4,
      descentHops: Int = 2,
      allowed: Option[DataFrame] = None,
      asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame = withWalkConfs(spark) { spark =>
    val scoreOf = scorer(corpus, embCol, idCol, queryVec)
    var carried = Seq.empty[Long] // best nodes so far, passed down the ladder
    var l = maxLevel
    while (l >= 1) {
      val layerPath = path + "_l" + l
      if (pathExists(spark, layerPath)) {
        // version pinning applies PER RUNG: every rung's deltas carry
        // their own seq ladder, and an append stamps all affected rungs
        // in the same generation — so one asOfSeq pins a consistent
        // ladder-wide snapshot (the graph time-travel model over rungs)
        val adjL = readNswAdjacencyAsOf(spark, layerPath, asOfSeq)
        withPinned(Seq(adjL)) {
          val seeds =
            if (carried.nonEmpty) carried
            else entryPoints(spark, adjL, descentBeam)
          if (seeds.nonEmpty) {
            // the descent's only job is seeding layer 0 NEAR the answer —
            // the HNSW ef=1 descent spends ~2 greedy steps per rung, and
            // the layer-0 walk's own fixed entries + full hop budget keep
            // the flat-NSW recall floor whatever the descent returns
            val walked = beamWalk(adjL, scoreOf, seeds, descentBeam, descentHops)
            carried = walked.toSeq.sortBy { case (id, s) => (-s, id) }
              .take(descentBeam).map(_._1)
          }
        }
      }
      l -= 1
    }
    val adj0 = readNswAdjacencyAsOf(spark, path, asOfSeq)
    withPinned(Seq(adj0)) {
      val seeds0 = (carried ++ entryPoints(spark, adj0, entries)).distinct
      val visited = beamWalk(adj0, scoreOf, seeds0, beam, hops)
      emitTopK(spark, path, visited, idCol, k, allowed, exclude)
    }
  }
}
