package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.plans.{BroadcastCentroids, BroadcastCodebooks, BroadcastSq8, CentroidCosines, CentroidRef, CosineSim, HyperplaneSig, NearestCentroid, PQCosine, PQEncode64, SQ8Cosine, SQ8Encode, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - bruteTopK: exact baseline — broadcast the (small) query set, one
  *   codegen'd cosine per (query, row), per-query top-k via window.
  *   Linear scan of the corpus, zero corpus shuffle: at 100 TB this is
  *   the map-side-only plan you want for a handful of queries.
  * - lshTopK: scale path — L independent hyperplane tables; a corpus
  *   row is scored only if it shares a bucket with the query in some
  *   table, cutting scored candidates to ~corpus/2^bits x L.
  */
object Similarity {

  private[operators] def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  private def sig(c: Column, bits: Int, seed: Long): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(c), bits, seed))

  /** The blocked-pairs scored join every blocked kNN seed is built
    * from: nodes self-joined on a block key, scored by rounded
    * cosine, self-pairs dropped. `blk` is evaluated against the
    * `nodes` frame's own columns (the argument is `col(idCol)` for
    * convenience — a block key may also reference other columns of
    * `nodes`, e.g. a precomputed shard assignment). Shared by
    * [[blockedTopK]], [[hashBlockedTopK]], the sharded and routed
    * graph builds — one join body to keep in sync, not four. */
  private def blockScored(nodes: DataFrame, vecCol: String,
      idCol: String, blk: Column => Column): DataFrame = {
    val q = nodes.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      blk(col(idCol)).as("blk"))
    val c = nodes.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      blk(col(idCol)).as("blk"))
    q.join(c, Seq("blk")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cos"))
  }

  /** Mutual k-NN graph over a node set: (a, b, cosm) with a < b,
    * kept only when each node is in the other's top-k by rounded
    * cosine (round(cos,4), ties by neighbor id); edge weight is the
    * integer-scaled cosm = round(cos·10⁴), so the mutual join
    * compares nothing float-valued. Mutuality is the standard
    * symmetrization for density clustering / NN-descent seeding —
    * it removes exactly the one-directional hub edges that make raw
    * k-NN graphs useless for community structure. The mutualization
    * is a self-join of the (n·k)-row directed edge list on the
    * reversed key — linear in edges, never in pairs; at corpus scale
    * swap the [[bruteTopK]] shortlist for [[ivfTopK]] unchanged. */
  def mutualKnnGraph(nodes: DataFrame, vecCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    val knn = bruteTopK(nodes, nodes, vecCol, idCol, k)
      .select(col("query_id").as("a"), col("neighbor_id").as("b"),
        round(col("cos") * 10000).cast("long").as("cosm"))
    knn.as("x")
      .join(knn.select(col("a").as("ra"), col("b").as("rb")).as("y"),
        col("x.a") === col("y.rb") && col("x.b") === col("y.ra"))
      .filter(col("x.a") < col("x.b"))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("cosm"))
      .orderBy(col("a"), col("b"))
  }

  /** Blocked directed kNN seed from TWO cross-cutting blockings —
    * per-node top-k by rounded cosine among nodes sharing EITHER
    * block key (id mod `blocks`, and id div `blocks` mod `blocks`) —
    * the deliberately-approximate starting graph NN-descent refines.
    * The id-arithmetic blockings are the SQL-replayable stand-in for
    * the bucketed shortlists a production build seeds from (LSH
    * tables, IVF lists).
    *
    * Two blockings is load-bearing, not decoration: a SINGLE blocking
    * produces a graph whose every edge stays inside one block, so
    * neighbors-of-neighbors never leave the block either and
    * NN-descent is at a (bad) fixed point before it starts — measured
    * on the test corpus: one-blocking seed recall@3 = 24%, unchanged
    * after THREE descent rounds. Cross-cutting blockings are exactly
    * what multi-table LSH gives a production seed. Each blocking is
    * one equi-join on its block key; the union dedupes pairs caught
    * by both. */
  def blockedTopK(nodes: DataFrame, vecCol: String, idCol: String,
      k: Int = 5, blocks: Int = 4): DataFrame = {
    def scored(blk: Column => Column): DataFrame =
      blockScored(nodes, vecCol, idCol, blk)
    val both = scored(id => pmod(id, lit(blocks)))
      .union(scored(id => pmod(expr(s"`$idCol` div $blocks"), lit(blocks))))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    both.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** One NN-descent refinement round (Dong et al. 2011, WWW — the
    * algorithm behind pynndescent/HNSW-adjacent graph builds): a
    * node's improved neighbor candidates are its current neighbors
    * and its NEIGHBORS' NEIGHBORS (over the UNDIRECTED current graph
    * — reverse edges are half the signal), exact rounded cosines are
    * computed for candidates ONLY, and each node keeps its new top-k.
    * `seed` is any directed (query_id, neighbor_id) graph, e.g.
    * [[blockedTopK]].
    *
    * Scale shape: with bounded degree k the undirected adjacency has
    * ≤ 2k rows per node and the 2-hop join fans out to ≤ (2k)²
    * candidates per node, so the whole round is O(n·k²) cosines —
    * never a cross join, never corpus². Each further round is this
    * same function applied to its own output: convergence in a few
    * rounds is the paper's result, and each round is two equi-joins
    * + one window. */
  def nnDescentRound(nodes: DataFrame, seed: DataFrame,
      vecCol: String, idCol: String, k: Int = 3): DataFrame = {
    val und = seed.select(col("query_id").as("v"), col("neighbor_id").as("u"))
      .union(seed.select(col("neighbor_id").as("v"), col("query_id").as("u")))
      .distinct()
    val twoHop = und.as("e1")
      .join(und.select(col("v").as("w"), col("u").as("u2")).as("e2"),
        col("e1.u") === col("e2.w"))
      .select(col("e1.v").as("v"), col("e2.u2").as("u"))
      .filter(col("v") =!= col("u"))
    val cand = und.union(twoHop).distinct()
    val vecs = nodes.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(vecs.select(col("id").as("v"), col("vec").as("vv")), Seq("v"))
      .join(vecs.select(col("id").as("u"), col("vec").as("uv")), Seq("u"))
      .select(col("v").as("query_id"), col("u").as("neighbor_id"),
        round(cosine(col("vv"), col("uv")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** [[blockedTopK]]'s two cross-cutting blockings with SEEDED-HASH
    * block keys — the structure-robust seed the production builds
    * use. The id-ARITHMETIC blockings (id mod B, id div B mod B) are
    * only uniform when ids are dense and unstructured; on a
    * STRUCTURED id space they can collapse catastrophically.
    * Measured: the 100× scale replica offsets ids by i·10⁸, and for
    * the insert leg's base corpus (n=160k ⇒ B=1250, which divides
    * 10⁸ exactly) `id div 1250 mod 1250` mapped EVERY node to two
    * blocks — a 6.4-billion-pair block whose single hash-aggregate
    * task span-sorted for two hours. `xxhash64(seed, id) mod B`
    * is uniform for ANY id structure; two seeds give the two
    * cross-cutting views (a single blocking is a NN-descent fixed
    * point — see [[blockedTopK]]). Deterministic: xxhash64 is a pure
    * function of (seed, id). Not SQL-replayable — the capped demo
    * family keeps [[blockedTopK]] for the oracle-replayed path. */
  private[operators] def hashBlockedTopK(nodes: DataFrame,
      vecCol: String, idCol: String, k: Int, blocks: Int): DataFrame = {
    def scored(seed: Int): DataFrame =
      blockScored(nodes, vecCol, idCol,
        id => pmod(xxhash64(lit(seed), id), lit(blocks)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored(1).union(scored(2)).distinct()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** FULL-CORPUS graph-ANN index build — the production composition
    * the bounded demo keys (d_ann_graph*) stand in for, with every
    * stage linear in the corpus:
    *  - seed: [[hashBlockedTopK]] whose block COUNT scales with n
    *    (fixed ≈`blockRows` rows per block), so seed pair mass is
    *    O(n·blockRows) — never n² — and whose seeded-hash block keys
    *    stay uniform on structured id spaces (the id-arithmetic
    *    blocking collapsed at 100×; see [[hashBlockedTopK]]);
    *  - refine: `rounds` [[nnDescentRound]]s, O(n·k²) cosines each,
    *    each round localCheckpointed (its output feeds the next
    *    round's adjacency TWICE — carry + 2-hop self-join — the
    *    established dual-consumer cut);
    *  - upper layer: a uniform ≈√n id-sample (HNSW's level
    *    assignment) with its own exact kNN graph — (√n)² = n cosines,
    *    also linear.
    * Returns (baseGraph, upperGraph, entryId): the directed
    * (query_id, neighbor_id) edge lists ready for
    * [[graphSearchTopKLayered]], plus the global entry node — the
    * SMALLEST ACTUAL upper-layer id ≥ 10, read from the sampled node
    * set itself (one column-pruned min over ≈√n rows — the build is
    * a multi-job operation already). Deriving from real ids makes
    * the off-the-probe-set guarantee unconditional: the former
    * 1 + upStep arithmetic landed back inside the vec_id < 10 probe
    * set for n ≲ 72 and assumed contiguous ids — and staying off the
    * probe set matters because the search's self-filter empties a
    * query's seed beam when the query IS the entry (measured: probe
    * query 1 returned zero rows with entry 1, costing 5 of 50 recall
    * slots). If every upper id is < 10 (a sub-dozen-row corpus) the
    * smallest upper id is used — self-filter losses are then the
    * corpus's own property, not an id-arithmetic artifact. `n` is
    * the caller-supplied corpus row count (it already has it from
    * sizing decisions; recounting here would add a job). */
  def buildGraphIndexFull(nodes: DataFrame, vecCol: String,
      idCol: String, n: Long, k: Int = 8, rounds: Int = 2,
      blockRows: Int = 128,
      upperK: Int = 4): (DataFrame, DataFrame, Long) = {
    val blocks = math.max(4L, n / blockRows).toInt
    var g = hashBlockedTopK(nodes, vecCol, idCol, k = k, blocks = blocks)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds)
      g = nnDescentRound(nodes, g, vecCol, idCol, k = k)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
    val upStep = math.max(2L, math.round(math.sqrt(n.toDouble)))
    val upperNodes = nodes.filter(pmod(col(idCol), lit(upStep)) === 1)
    val entryRow = upperNodes.agg(
        min(when(col(idCol) >= 10, col(idCol))).as("offProbe"),
        min(col(idCol)).as("anyId")).head()
    require(!entryRow.isNullAt(1),
      s"graft: buildGraphIndexFull upper layer is empty (n=$n, " +
        s"upStep=$upStep) — no id ≡ 1 mod $upStep exists in $idCol")
    val entry =
      if (!entryRow.isNullAt(0)) entryRow.getLong(0) else entryRow.getLong(1)
    val upperGraph = bruteTopK(upperNodes, upperNodes, vecCol, idCol,
        k = upperK)
      .select(col("query_id"), col("neighbor_id"))
    (g, upperGraph, entry)
  }

  /** Column-metadata key carrying the shape a graph-index store was
    * written with — (entry, k, n) — so a probe always uses the
    * STORE's own entry node and degree instead of trusting the
    * caller to re-specify them identically
    * ([[graft.operators.Dedup.SignatureShapeKey]]'s discipline for
    * the vector index). */
  private[graft] val GraphIndexShapeKey = "graft.graphstore.shape"

  /** Persist a [[buildGraphIndexFull]] result: base edge list →
    * `path`/graph, upper edge list → `path`/upper, with (entry, k, n)
    * in the base list's `query_id` column metadata (parquet
    * round-trips field metadata — the [[Dedup.signatureStore]]
    * device). THE production shape for graph ANN: an index is built
    * once and probed many times, so search/insert/delete/compact
    * paths read the store instead of re-running the O(n·k²) NN
    * descent per query batch. At 100 TB the edge lists are
    * corpus-sized parquet — partition them by pmod(query_id) if the
    * adjacency join becomes shuffle-bound. */
  def writeGraphIndex(graph: DataFrame, upper: DataFrame, entry: Long,
      n: Long, k: Int, path: String): Unit = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(GraphIndexShapeKey, s"$entry,$k,$n").build()
    graph.select(col("query_id").as("query_id", meta),
        col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$path/graph")
    upper.select(col("query_id"), col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$path/upper")
  }

  /** Read a [[writeGraphIndex]] store back: (graph, upper, entry, n,
    * k). A bare store — no shape metadata on `query_id` — is rejected
    * loudly, never probed with a guessed entry node (searching from a
    * non-upper-layer entry silently returns an empty beam, the worst
    * failure mode: wrong results, no error). */
  def readGraphIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame, Long, Long, Int) = {
    val g = spark.read.parquet(s"$path/graph")
    val field = g.schema.find(_.name == "query_id").getOrElse(
      throw new IllegalArgumentException(
        "graft: graph-index store needs a query_id column " +
          "(see Similarity.writeGraphIndex)"))
    require(field.metadata.contains(GraphIndexShapeKey),
      "graft: graph-index store carries no shape metadata — rebuild " +
        "it with Similarity.writeGraphIndex, or the search would " +
        "silently seed from a guessed entry node")
    val Array(entry, k, n) =
      field.metadata.getString(GraphIndexShapeKey).split(",")
    (g, spark.read.parquet(s"$path/upper"), entry.toLong, n.toLong,
      k.toInt)
  }

  /** Default shard count for [[buildGraphIndexSharded]]: one shard
    * per ≈64k nodes, floor 4 — per-shard build state (seed blocks +
    * NN-descent adjacency) stays bounded however large the corpus,
    * which is the property that lets every executor build its shards
    * without cross-shard traffic. Fan-out cost at search time grows
    * with the shard count (each query carries shards·beamPerShard
    * beam rows) — fine while shards stay in the tens, but since this
    * law grows shards linearly with n, per-query cost is
    * corpus-LINEAR at the 100-TB frame; the scale path for SEARCH is
    * the ROUTED index ([[buildGraphIndexRouted]]): geometry-aware
    * shards + centroid routing make per-query cost
    * corpus-independent. */
  def autoShards(n: Long): Int = math.max(4L, n / 65536L + 1L).toInt

  /** SHARD-PARALLEL graph-ANN build — the multi-executor composition
    * [[buildGraphIndexFull]]'s monolithic build trades away: the
    * corpus splits into `shards` disjoint pmod-shards and each shard
    * gets its OWN independent NN-descent subgraph. The payoff is in
    * the dataflow, not the driver: because every seed edge stays
    * inside one shard, and NN-descent candidates are neighbors plus
    * neighbors-of-neighbors of EXISTING edges, the 2-hop closure can
    * never leave a shard either — so ONE distributed pass of the
    * ordinary [[nnDescentRound]] over the union edge list refines
    * ALL shards' subgraphs simultaneously, with zero cross-shard
    * shuffle mass (shard isolation is a construction invariant, and
    * the d_ann_graph_sharded_recall contract pins it). This is the
    * DiskANN/partitioned-HNSW deployment shape: at 10¹⁰ vectors a
    * single NN-descent's candidate shuffles span the whole corpus,
    * while sharded builds bound every join to within-shard rows and
    * shards build embarrassingly parallel across executors.
    *
    * Seed: the [[hashBlockedTopK]] device restricted within shard —
    * two CROSS-CUTTING seeded-hash blockings prefixed by the shard
    * id, ≈`blockRows` rows per block, so seed pair mass is
    * O(n·blockRows) exactly like the full build (one blocking alone
    * is a NN-descent fixed point — see [[blockedTopK]]; seeded
    * hashes, not id arithmetic, so structured id spaces cannot
    * collapse the blocks — see [[hashBlockedTopK]]).
    *
    * Returns (graph, entries): the union edge list plus one entry
    * node per shard — the smallest in-shard id ≥ 10 (off the
    * standard probe set; the [[buildGraphIndexFull]] self-filter
    * lesson), falling back to the shard's smallest id. Search fans
    * out with [[graphSearchTopKSharded]]. */
  def buildGraphIndexSharded(nodes: DataFrame, vecCol: String,
      idCol: String, n: Long, shards: Int, k: Int = 8,
      rounds: Int = 2, blockRows: Int = 128): (DataFrame, DataFrame) = {
    require(shards >= 2,
      s"graft: sharded graph build needs >= 2 shards (got $shards)")
    val bps = math.max(4L, (n / shards) / blockRows)
    def scored(blk: Column => Column): DataFrame =
      blockScored(nodes, vecCol, idCol, blk)
    // both blockings prefix with the shard id, so block keys never
    // collide across shards and every seed edge is within-shard;
    // within-shard keys are seeded hashes (id arithmetic collapses
    // on structured id spaces — see hashBlockedTopK)
    val blk1: Column => Column = id =>
      pmod(id, lit(shards)) * bps + pmod(xxhash64(lit(1), id), lit(bps))
    val blk2: Column => Column = id =>
      pmod(id, lit(shards)) * bps + pmod(xxhash64(lit(2), id), lit(bps))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    var g = scored(blk1).union(scored(blk2)).distinct()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds)
      g = nnDescentRound(nodes, g, vecCol, idCol, k = k)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
    val entries = nodes
      .groupBy(pmod(col(idCol), lit(shards)).as("shard"))
      .agg(min(when(col(idCol) >= 10, col(idCol))).as("offProbe"),
        min(col(idCol)).as("anyId"))
      .select(col("shard"),
        coalesce(col("offProbe"), col("anyId")).as("entry_id"))
    (g, entries)
  }

  /** Column-metadata key for a [[writeShardedGraphIndex]] store:
    * (k, n, shards). */
  private[graft] val ShardedGraphShapeKey = "graft.graphstore.sharded.shape"

  /** Persist a [[buildGraphIndexSharded]] result — edge list +
    * per-shard entry table, (k, n, shards) in the edge list's
    * `query_id` metadata so a probe always fans out with the STORE's
    * own shard count (a mismatched count would mis-route pmod shard
    * assignment silently). At 100 TB the natural layout partitions
    * the edge parquet BY shard — each shard's subgraph is then one
    * partition-pruned read. */
  def writeShardedGraphIndex(graph: DataFrame, entries: DataFrame,
      n: Long, k: Int, shards: Int, path: String): Unit = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(ShardedGraphShapeKey, s"$k,$n,$shards").build()
    graph.select(col("query_id").as("query_id", meta),
        col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$path/graph")
    entries.select(col("shard"), col("entry_id"))
      .write.mode("overwrite").parquet(s"$path/entries")
  }

  /** Read a [[writeShardedGraphIndex]] store: (graph, entries, n, k,
    * shards). Bare stores rejected, as in [[readGraphIndex]]. */
  def readShardedGraphIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame, Long, Int, Int) = {
    val g = spark.read.parquet(s"$path/graph")
    val field = g.schema.find(_.name == "query_id").getOrElse(
      throw new IllegalArgumentException(
        "graft: sharded graph-index store needs a query_id column " +
          "(see Similarity.writeShardedGraphIndex)"))
    require(field.metadata.contains(ShardedGraphShapeKey),
      "graft: sharded graph-index store carries no shape metadata — " +
        "rebuild it with Similarity.writeShardedGraphIndex, or the " +
        "search would fan out with a guessed shard count")
    val Array(k, n, shards) =
      field.metadata.getString(ShardedGraphShapeKey).split(",")
    (g, spark.read.parquet(s"$path/entries"), n.toLong, k.toInt,
      shards.toInt)
  }

  /** Default shard count for [[buildGraphIndexRouted]]: same growth
    * law as [[autoShards]] but floor 12 — routing needs enough cells
    * that probing a quarter of them is a real cut even at demo
    * corpus sizes, and the measured recall knee sits there (the
    * embedding space's latent cluster structure resolves at ~12
    * cells: recall@5 under w=2 routing read 86/80 at 8 shards vs
    * 88/96 at 12 at sf0.01/sf0.1, with occupancy balanced within
    * ±15% in both — the 8-cell quantizer merges latent clusters and
    * its cell boundaries cut true neighborhoods). At scale the two
    * laws coincide. */
  def autoRoutedShards(n: Long): Int =
    math.max(12L, n / 65536L + 1L).toInt

  /** ROUTED shard-parallel graph-ANN build — the fix for the
    * scatter-gather search's corpus-linear query cost: shards are
    * GEOMETRY-AWARE (k-means cells over the embedding space, the IVF
    * coarse quantizer reused as the shard assignment) instead of
    * pmod-of-id, so a query's true neighbors concentrate in a few
    * shards and search probes only the `w` nearest-by-centroid
    * shards ([[graphSearchTopKRouted]]) — per-query cost becomes
    * w·beamPerShard·2k, INDEPENDENT of the shard count and hence of
    * the corpus (with pmod shards every shard is a uniform random
    * subsample, a query's top-k spreads uniformly, and NO router can
    * beat probing everything — geometry-aware assignment is what
    * makes routing possible at all; this is the DiskANN/partitioned-
    * HNSW deployment: cluster the corpus, graph per cluster, route
    * by centroid).
    *
    * Build dataflow is [[buildGraphIndexSharded]]'s with the shard
    * prefix swapped: assignment is one map-side [[NearestCentroid]]
    * projection (no shuffle), seed blockings are seeded-hash blocks
    * PREFIXED by the assigned shard, so every seed edge is
    * within-shard and the NN-descent 2-hop closure stays
    * shard-closed — one distributed pass refines all shards' graphs,
    * zero cross-shard shuffle mass. Per-cell block counts come from
    * MEASURED occupancy (one bounded aggregate), so every seed block
    * holds ≈`blockRows` rows however skewed the quantizer's cells —
    * under an average-based global count a cell at c× the average
    * would carry c² its share of seed pairs, the quadratic-in-one-
    * reducer shape [[hashBlockedTopK]] exists to prevent. Centroids
    * train on the [[trainQuantizer]] sample + Lloyd budget —
    * deterministic, a few KB on the driver.
    *
    * Returns (graph, entries, centroids): the union edge list, one
    * entry per stored cell (EVERY stored cell is occupied — empty
    * trained cells are dropped and the rest renumbered, see the
    * occupancy note in the body; entry = smallest in-cell id ≥ 10,
    * the off-probe-set discipline), and the cell centroids the index
    * is only meaningful with (persist all three together —
    * [[writeRoutedGraphIndex]]). `shards` is the TRAINED cell count;
    * the returned quantizer may be smaller if training left cells
    * empty. */
  def buildGraphIndexRouted(nodes: DataFrame, vecCol: String,
      idCol: String, shards: Int, k: Int = 8,
      rounds: Int = 2, blockRows: Int = 128, lloydIters: Int = 1)
      : (DataFrame, DataFrame, Array[Seq[Float]]) = {
    require(shards >= 2,
      s"graft: routed graph build needs >= 2 shards (got $shards)")
    val trained = trainQuantizer(nodes, vecCol, idCol, shards, lloydIters)
    val refAll = broadcastCentroids(nodes, trained)
    // Occupancy over the TRAINED cells — one bounded aggregate
    // (≤ shards rows to the driver) that serves three masters: it
    // detects EMPTY cells, sizes per-cell seed blocks, and orders the
    // renumbering. Empty cells are DROPPED from the stored quantizer:
    // an empty cell is nobody's argmax, so removing its centroid
    // changes no node's assignment (the winning centroid is by
    // definition occupied and stays; renumbered argmax ≡ renumbering
    // of the original argmax) — but keeping it would make every probe
    // routed there a SILENT no-op (no entries to seed: a query loses
    // a probe, a new vector inserted by assignment gets zero seeds
    // and falls out of the index), which no contract downstream could
    // see. With the drop, entries cover every stored cell 0..m-1 by
    // construction.
    val occAll = nodes
      .groupBy(nearestCell(col(vecCol), refAll).as("shard")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val cents = occAll.map { case (sh, _) => trained(sh) }
    require(cents.length >= 2,
      s"graft: routed graph build collapsed to ${cents.length} " +
        "occupied cell(s) — the corpus cannot support routing; use " +
        "the monolithic or pmod-sharded build")
    val centRef = broadcastCentroids(nodes, cents)
    def shardOf(v: Column): Column = nearestCell(v, centRef)
    // Per-cell block counts from the MEASURED occupancy, not the
    // average: k-means cells skew, and under a global block count a
    // cell at c× the average carries c² its share of seed pairs — the
    // same quadratic-in-one-reducer failure shape the id-arithmetic
    // seed had. Cumulative offsets keep block ids globally unique;
    // the per-row lookup is a broadcast join on the cell id — no
    // plan-sized literals, any shard count. (shardOf itself is
    // re-evaluated map-side per consumer — ≈shards·dim flops per row,
    // deliberately cheaper at corpus scale than materializing an
    // assignment column and re-shuffling it back onto the nodes.)
    val occ = occAll.zipWithIndex.map { case ((_, c), i) => (i, c) }
    val bpsByShard = occ.map { case (sh, c) =>
      (sh, math.max(4L, c / blockRows)) }
    val offsets = bpsByShard.scanLeft(0L)(_ + _._2)
    val spark0 = nodes.sparkSession
    import spark0.implicits._
    val shardBlocks = broadcast(bpsByShard.zip(offsets).toSeq
      .map { case ((sh, bps), off) => (sh, bps, off) }
      .toDF("blk_shard", "blk_bps", "blk_off"))
    val tagged = nodes
      .withColumn("blk_shard", shardOf(col(vecCol)))
      .join(shardBlocks, Seq("blk_shard"))
    def blk(seed: Int): Column => Column = id =>
      col("blk_off") + pmod(xxhash64(lit(seed), id), col("blk_bps"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    var g = blockScored(tagged, vecCol, idCol, blk(1))
      .union(blockScored(tagged, vecCol, idCol, blk(2))).distinct()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds)
      g = nnDescentRound(nodes, g, vecCol, idCol, k = k)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
    val entries = nodes
      .groupBy(shardOf(col(vecCol)).as("shard"))
      .agg(min(when(col(idCol) >= 10, col(idCol))).as("offProbe"),
        min(col(idCol)).as("anyId"))
      .select(col("shard"),
        coalesce(col("offProbe"), col("anyId")).as("entry_id"))
    (g, entries, cents)
  }

  /** Column-metadata key for a [[writeRoutedGraphIndex]] store:
    * (k, n, shards). */
  private[graft] val RoutedGraphShapeKey = "graft.graphstore.routed.shape"

  /** Persist a [[buildGraphIndexRouted]] result — edge list, entry
    * table, and the SHARD CENTROIDS (a routed index is only
    * meaningful with the exact quantizer that assigned its shards:
    * storing them together is what makes the binding inherent, the
    * ivfPqTopK fingerprint lesson without needing a stamp). Shape
    * metadata on the edge list as in [[writeShardedGraphIndex]]. */
  def writeRoutedGraphIndex(graph: DataFrame, entries: DataFrame,
      cents: Array[Seq[Float]], n: Long, k: Int, path: String): Unit = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(RoutedGraphShapeKey, s"$k,$n,${cents.length}").build()
    graph.select(col("query_id").as("query_id", meta),
        col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$path/graph")
    entries.select(col("shard"), col("entry_id"))
      .write.mode("overwrite").parquet(s"$path/entries")
    val spark = graph.sparkSession
    import spark.implicits._
    cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.map(_.toFloat)) }
      .toDF("shard", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Read a [[writeRoutedGraphIndex]] store: (graph, entries,
    * centroids, n, k). Bare stores rejected; a centroid table whose
    * shard ids are not exactly 0..shards-1 is rejected too — a
    * truncated centroid read would silently mis-route every query. */
  def readRoutedGraphIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame, Array[Seq[Float]], Long, Int) = {
    val g = spark.read.parquet(s"$path/graph")
    val field = g.schema.find(_.name == "query_id").getOrElse(
      throw new IllegalArgumentException(
        "graft: routed graph-index store needs a query_id column " +
          "(see Similarity.writeRoutedGraphIndex)"))
    require(field.metadata.contains(RoutedGraphShapeKey),
      "graft: routed graph-index store carries no shape metadata — " +
        "rebuild it with Similarity.writeRoutedGraphIndex, or the " +
        "search would route with a guessed quantizer")
    val Array(k, n, shards) =
      field.metadata.getString(RoutedGraphShapeKey).split(",")
    val centRows = spark.read.parquet(s"$path/centroids")
      .orderBy(col("shard")).collect()
    require(centRows.length == shards.toInt &&
      centRows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"graft: routed graph-index centroid table is not 0..${shards.toInt - 1}")
    val cents: Array[Seq[Float]] =
      centRows.map(_.getSeq[Float](1).toSeq)
    (g, spark.read.parquet(s"$path/entries"), cents, n.toLong, k.toInt)
  }

  /** Per-query shard ROUTE for a [[buildGraphIndexRouted]] index: the
    * `w` nearest shards by query-to-centroid cosine — (query_id,
    * shard). One map-side kernel over the (few) query rows; the
    * contract key pins the route the search actually took by
    * replaying this exact function. */
  def routedShards(queries: DataFrame, vecCol: String, idCol: String,
      cents: Array[Seq[Float]], probeShards: Int): DataFrame = {
    val centRef = broadcastCentroids(queries, cents)
    probeLists(queries, vecCol, idCol, centRef, cents.length, probeShards)
      .select(col("query_id"), col("list_id").cast("int").as("shard"))
  }

  /** FILTERED search on the ROUTED index — the production query
    * shape at scale (predicate + vector search, served by the index
    * whose per-query cost is corpus-independent): route to the `w`
    * nearest cells, traverse UNFILTERED with the beam oversampled to
    * ≳k/selectivity per probed cell (the same two rules
    * [[graphSearchTopKLayeredFiltered]] and [[ivfTopKFiltered]]
    * document), then the per-query label predicate prunes the
    * w·beamPerShard survivors and re-ranks to k. Candidate relation
    * stays query-bounded; the filter never touches the corpus. */
  def graphSearchTopKRoutedFiltered(nodes: DataFrame,
      queries: DataFrame, graph: DataFrame, entries: DataFrame,
      cents: Array[Seq[Float]], vecCol: String, idCol: String,
      labelCol: String, k: Int = 5, beamPerShard: Int = 48,
      rounds: Int = 4, probeShards: Int = 2): DataFrame = {
    val cand = graphSearchTopKRouted(nodes, queries, graph, entries,
      cents, vecCol, idCol, k = probeShards * beamPerShard,
      beamPerShard = beamPerShard, rounds = rounds,
      probeShards = probeShards)
    labelPruneRerank(cand, nodes, queries, idCol, labelCol, k)
  }

  /** The nearest-cell column of a routed index over `df`'s vectors,
    * one centroid broadcast per call: a routed search table's shard. */
  private[operators] def cellColumn(df: DataFrame, vecCol: String,
      cents: Array[Seq[Float]]): Column =
    nearestCell(col(vecCol), broadcastCentroids(df, cents))

  private def nearestCell(v: Column, ref: CentroidRef): Column =
    Bridge.column(NearestCentroid(Bridge.expression(v), ref))

  /** Shard assignment of a node set under a routed index's
    * quantizer: (id, shard), one map-side [[NearestCentroid]]
    * projection. The routed recall contract uses it to pin that
    * every returned neighbor lies in a shard its query actually
    * probed. */
  def shardAssign(nodes: DataFrame, vecCol: String, idCol: String,
      cents: Array[Seq[Float]]): DataFrame =
    nodes.select(col(idCol).as("id"),
      cellColumn(nodes, vecCol, cents).as("shard"))

  /** Search a [[buildGraphIndexRouted]] index within each query's
    * own ASSIGNED cell only — the INSERT primitive: routing goes
    * through [[shardAssign]] (the exact argmax the build used), not
    * the rounded multi-probe ranking, so a search-as-insert's edges
    * provably stay inside the cell [[NearestCentroid]] assigns the
    * new node to (a 4-dp rounding tie between two cells in the
    * multi-probe route could otherwise link a node outside its
    * assigned cell and silently break the shard-closure invariant
    * routing depends on). `table` is a prebuilt [[searchTable]] of
    * (nodes, graph) with [[cellColumn]] as its shard, for a caller
    * that inserts many batches into one index. */
  def graphSearchTopKAssigned(nodes: DataFrame, queries: DataFrame,
      graph: DataFrame, entries: DataFrame, cents: Array[Seq[Float]],
      vecCol: String, idCol: String, k: Int = 5,
      beamPerShard: Int = 16, rounds: Int = 4,
      table: Option[DataFrame] = None): DataFrame = {
    val centRef = broadcastCentroids(nodes, cents)
    cellSearch(nodes, queries, graph, entries, centRef,
      queries.select(col(idCol).as("query_id"),
        nearestCell(col(vecCol), centRef).as("shard")),
      vecCol, idCol, k, beamPerShard, rounds, table)
  }

  /** Search a [[buildGraphIndexRouted]] index: route each query to
    * its `probeShards` nearest shard centroids ([[routedShards]] —
    * the IVF multi-probe device), seed a beam at ONLY those shards'
    * entries, and keep per-(query, shard) beams — candidates cannot
    * leave a probed shard because edges are shard-closed by
    * construction. Per-query cost is probeShards·beamPerShard·2k
    * candidates per round — CORPUS-INDEPENDENT, the property the
    * all-shards scatter-gather ([[graphSearchTopKSharded]]) gives up:
    * at n=10¹⁰ autoShards reads ~152k shards and probing every one
    * is ~2.4M candidate cosines per query per round; routing probes
    * w=2–8 whatever the corpus. The routing loss (true neighbors
    * living in un-probed shards) is the standard IVF recall
    * tradeoff, pinned by the d_ann_graph_routed_recall contract. */
  def graphSearchTopKRouted(nodes: DataFrame, queries: DataFrame,
      graph: DataFrame, entries: DataFrame, cents: Array[Seq[Float]],
      vecCol: String, idCol: String, k: Int = 5,
      beamPerShard: Int = 16, rounds: Int = 4,
      probeShards: Int = 2): DataFrame = {
    val centRef = broadcastCentroids(nodes, cents)
    cellSearch(nodes, queries, graph, entries, centRef,
      probeLists(queries, vecCol, idCol, centRef, cents.length, probeShards)
        .select(col("query_id"), col("list_id").cast("int").as("shard")),
      vecCol, idCol, k, beamPerShard, rounds, None)
  }

  /** The routed searches' common body: seeds are the entries of each
    * query's routed cells (`routes`: query_id, shard), beams are kept
    * per (query, cell), and the seed beam keeps a query that is its
    * cell's entry ([[graphSearchTopKSharded]]'s exemption). ONE
    * centroid broadcast serves the route and the table's cells. */
  private def cellSearch(nodes: DataFrame, queries: DataFrame,
      graph: DataFrame, entries: DataFrame, centRef: CentroidRef,
      routes: DataFrame, vecCol: String, idCol: String, k: Int,
      beamPerShard: Int, rounds: Int, table: Option[DataFrame]): DataFrame = {
    val seeds = seedsOf(routes.join(broadcast(entries), Seq("shard"))
      .select(col("query_id"), col("entry_id").as("cand")))
    beamSearch(queries, vecCol, idCol, table.getOrElse(searchTable(nodes,
        vecCol, idCol, graph, shard = nearestCell(col(vecCol), centRef))), k)(
      _.beams(seeds, 0, beamPerShard, rounds, keepSelfSeed = true))
  }

  /** Graph-based ANN: greedy BEAM SEARCH over a directed kNN graph —
    * the HNSW/DiskANN search primitive, single-layer. Start the beam
    * at fixed entry points; each round expands the beam's UNDIRECTED
    * neighbors (reverse edges are half the reachability, exactly as
    * in [[nnDescentRound]]), scores every new candidate against the
    * query exactly, and keeps the best `beam`; after `rounds` rounds
    * the top-k of the final beam is the answer. Fully deterministic:
    * ranking is by INTEGER cosm = round(cos·10⁴) with neighbor-id
    * ties, so every round's beam replays bit-identically in SQL.
    *
    * The search quality is decoupled from graph construction (the
    * standard decomposition): pass any directed (query_id,
    * neighbor_id) graph — [[bruteTopK]] on a bounded set, a
    * [[blockedTopK]] seed, or an [[nnDescentRound]]-refined build.
    *
    * Every graph search runs this loop ([[beamSearch]]): one
    * [[searchTable]] build, then ONE Spark job per round. Ids absent
    * from `nodes` and nodes with a null embedding are skipped, never
    * returned; a query with a null embedding returns no rows. The
    * result is a local (query_id, neighbor_id, cosm, rnk) frame
    * ordered by (query_id, rnk). */
  def graphSearchTopK(nodes: DataFrame, queries: DataFrame,
      graph: DataFrame, vecCol: String, idCol: String, k: Int = 5,
      beam: Int = 16, rounds: Int = 4,
      seeds: Seq[Long] = (1L until 600L by 40L)): DataFrame =
    beamSearch(queries, vecCol, idCol,
      searchTable(nodes, vecCol, idCol, graph), k)(
      _.beams(_ => seeds, 0, beam, rounds, keepSelfSeed = false))

  /** [[graphSearchTopK]] with a PER-QUERY initial beam: `seedCands`
    * is a (query_id, cand) frame naming each query's own entry
    * points (collected: it is query-bounded). */
  def graphSearchTopKFrom(nodes: DataFrame, queries: DataFrame,
      graph: DataFrame, vecCol: String, idCol: String,
      seedCands: DataFrame, k: Int = 5,
      beam: Int = 16, rounds: Int = 4): DataFrame = {
    val seeds = seedsOf(seedCands)
    beamSearch(queries, vecCol, idCol,
      searchTable(nodes, vecCol, idCol, graph), k)(
      _.beams(seeds, 0, beam, rounds, keepSelfSeed = false))
  }

  /** LAYERED graph ANN — the actual HNSW descent, two layers: a
    * coarse UPPER layer (≈√n nodes, its own kNN graph) is beam-
    * searched first from one fixed global entry, and each query's
    * upper survivors become its PERSONAL entry points into the base
    * layer. The upper layer closes the greedy-local-minimum losses
    * that fixed spread seeds leave (measured on the 600-node demo:
    * base-only 82/75 recall@5 at sf0.01/sf0.1 → layered 94/85 with
    * beam 24 and ONE upper round — sf0.01's losses were
    * entry-routing, sf0.1's were beam-width, and the layer + wider
    * beam close both; more upper rounds measured no better: 92/90 at
    * three). Upper cost is |queries|·ubeam rows per round over a
    * √n-node graph — asymptotically free next to the base search; at
    * corpus scale the upper node set is a uniform id-sample exactly
    * like HNSW's level assignment. Both layers share one
    * [[searchTable]] and one score cache, so the base seeds (upper
    * survivors) cost no job: 1 + upperRounds + rounds jobs after the
    * table. `table` is a prebuilt `searchTable(nodes, vecCol, idCol,
    * graph, Some(upperGraph))` for a caller that searches one index
    * many times (s_ann_ingest's per-micro-batch inserts). */
  def graphSearchTopKLayered(nodes: DataFrame, queries: DataFrame,
      graph: DataFrame, upperGraph: DataFrame, vecCol: String,
      idCol: String, k: Int = 5, beam: Int = 24, rounds: Int = 4,
      upperSeed: Long = 1L, upperBeam: Int = 8, upperRounds: Int = 1,
      nEntry: Int = 4, table: Option[DataFrame] = None): DataFrame =
    beamSearch(queries, vecCol, idCol, table.getOrElse(searchTable(nodes,
        vecCol, idCol, graph, Some(upperGraph))), k) { s =>
      val entries = s.topK(s.beams(_ => Seq(upperSeed), 1, upperBeam,
        upperRounds, keepSelfSeed = false), nEntry)
      s.beams(entries, 0, beam, rounds, keepSelfSeed = false)
    }

  /** The label post-filter + re-rank stage shared by every filtered
    * graph search: prune the oversampled candidate set by the
    * per-query predicate, re-rank survivors to k. Query side
    * broadcasts; candidate side joins by id — the relation is
    * queries·beam rows, never corpus-sized. */
  private def labelPruneRerank(cand: DataFrame, nodes: DataFrame,
      queries: DataFrame, idCol: String, labelCol: String,
      k: Int): DataFrame = {
    val nl = nodes.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("nl"))
    val ql = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("ql"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosm").desc, col("neighbor_id"))
    cand.join(broadcast(ql), Seq("query_id"))
      .join(nl, Seq("neighbor_id"))
      .filter(col("nl") === col("ql"))
      .withColumn("rnk2", row_number().over(w).cast("long"))
      .filter(col("rnk2") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosm"),
        col("rnk2").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** FILTERED layered graph search — predicate-constrained ANN served
    * from the graph index, the HNSW analogue of [[ivfTopKFiltered]]:
    * the layered search traverses UNFILTERED (constraining the beam
    * to matching nodes would disconnect routing — matching nodes are
    * reached through non-matching neighbors, the standard
    * filtered-HNSW argument) with an OVERSAMPLED beam, returns its
    * full `beam`-deep survivor set, and the per-query label predicate
    * prunes + re-ranks to k. Oversampling is the thin-set knob: with
    * selectivity s the expected matching survivors are beam·s, so
    * beam ≳ k/s keeps result sets full (s = 0.1 here → beam 96 for
    * k=5, same sizing rule as ivfTopKFiltered's oversample 16).
    * Candidate relation stays queries·beam rows — query-bounded; the
    * label join is broadcast on the query side and id-keyed on the
    * candidate side, exactly the filtered-IVF plan. */
  def graphSearchTopKLayeredFiltered(nodes: DataFrame,
      queries: DataFrame, graph: DataFrame, upperGraph: DataFrame,
      vecCol: String, idCol: String, labelCol: String, k: Int = 5,
      beam: Int = 96, rounds: Int = 4, upperSeed: Long = 1L,
      upperBeam: Int = 8, upperRounds: Int = 1,
      nEntry: Int = 4): DataFrame = {
    val cand = graphSearchTopKLayered(nodes, queries, graph,
      upperGraph, vecCol, idCol, k = beam, beam = beam,
      rounds = rounds, upperSeed = upperSeed, upperBeam = upperBeam,
      upperRounds = upperRounds, nEntry = nEntry)
    labelPruneRerank(cand, nodes, queries, idCol, labelCol, k)
  }

  /** Fan-out-and-merge search over a [[buildGraphIndexSharded]]
    * index: every query seeds a beam at EVERY shard's entry node, and
    * beams are kept per (query, shard-of-candidate), so each shard's
    * greedy search proceeds independently inside the same rounds (a
    * global beam would let one strong shard evict another shard's
    * entry before its region is explored). The merge is the final
    * per-query top-k over all shards' survivors — the scatter-gather
    * a sharded index runs on a cluster. Per-round work is
    * |queries|·shards·beamPerShard·(2k) candidates. The SEED beam is
    * exempt from the self-filter: a query that coincides with a
    * shard's entry would otherwise lose that whole shard before any
    * expansion — instead the self row seeds round 1's expansion of
    * its own neighborhood, and the self-filter applies from the first
    * expansion round and at the final merge. */
  def graphSearchTopKSharded(nodes: DataFrame, queries: DataFrame,
      graph: DataFrame, entries: DataFrame, vecCol: String,
      idCol: String, shards: Int, k: Int = 5, beamPerShard: Int = 12,
      rounds: Int = 4): DataFrame = {
    val entryIds = entries.select(col("entry_id").cast("long")).collect()
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).toSeq
    beamSearch(queries, vecCol, idCol, searchTable(nodes, vecCol, idCol,
        graph, shard = pmod(col(idCol), lit(shards))), k)(
      _.beams(_ => entryIds, 0, beamPerShard, rounds, keepSelfSeed = true))
  }

  /** The table every graph search scans, built once per search (or
    * once per stream by a caller that searches one index many times):
    * one row per node — (id, vec, shard, nbrs, up) — with the node's
    * UNDIRECTED neighbors in `graph` and in the optional upper graph
    * (edge list ∪ its reverse, as sets; empty without edges), and
    * `shard` the caller's column over `nodes`: lit(0) unsharded, pmod
    * of the id, or the nearest cell ([[cellColumn]]). An edge to an id
    * absent from `nodes` stays listed; no row answers for it, so the
    * search drops it. Materialized once, so rounds never re-run the
    * graph lineage (a chain union or a brute base graph). */
  private[operators] def searchTable(nodes: DataFrame, vecCol: String,
      idCol: String, graph: DataFrame, upper: Option[DataFrame] = None,
      shard: Column = lit(0)): DataFrame = {
    def both(g: DataFrame, layer: Int): DataFrame = {
      val e = g.select(col("query_id").cast("long").as("id"),
        col("neighbor_id").cast("long").as("u"), lit(layer).as("layer"))
      e.union(e.select(col("u").as("id"), col("id").as("u"), col("layer")))
    }
    def layer(i: Int): Column =
      collect_set(when(col("layer") === i, col("u")))
    val adj = (both(graph, 0) +: upper.map(both(_, 1)).toSeq)
      .reduce(_ union _)
      .groupBy(col("id")).agg(layer(0).as("nbrs"), layer(1).as("up"))
    val none = typedLit(Array.empty[Long])
    nodes.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        shard.cast("int").as("shard"))
      .join(adj, Seq("id"), "left")
      .select(col("id"), col("vec"), col("shard"),
        coalesce(col("nbrs"), none).as("nbrs"),
        coalesce(col("up"), none).as("up"))
      .localCheckpoint(true)
  }

  private val BeamSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("neighbor_id", LongType),
    StructField("cosm", LongType),
    StructField("rnk", LongType, nullable = false)))

  /** Per-query seeds from a (query_id, cand) frame, collected. */
  private def seedsOf(seedCands: DataFrame): Long => Seq[Long] = {
    val m = seedCands
      .select(col("query_id").cast("long"), col("cand").cast("long"))
      .collect().filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .groupMap(_.getLong(0))(_.getLong(1))
    q => m.get(q).fold(Seq.empty[Long])(_.toSeq)
  }

  /** THE beam loop behind every graph search: collect the query set,
    * build the search table (by-name: an empty query set builds
    * nothing), let `descend` run its layers on a [[BeamSearch]], and
    * return each query's top `k` as a local frame. */
  private def beamSearch(queries: DataFrame, vecCol: String,
      idCol: String, table: => DataFrame, k: Int)(
      descend: BeamSearch => Array[Array[Long]]): DataFrame = {
    val qs = queries.select(col(idCol).cast("long"), col(vecCol))
      .collect().filterNot(_.isNullAt(0)).distinctBy(_.getLong(0))
    val rows = if (qs.isEmpty) Seq.empty[Row] else {
      val s = new BeamSearch(table, qs.map(_.getLong(0)),
        qs.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
      try s.rows(descend(s), k) finally s.close()
    }
    queries.sparkSession.createDataFrame(rows.asJava, BeamSchema)
  }

  /** Spark's `round(cos·10⁴)` cast to long, bit for bit: ROUND on a
    * double is BigDecimal.valueOf(x).setScale(0, HALF_UP). */
  private def cosmOf(q: ArrayData, v: ArrayData): Long =
    java.math.BigDecimal.valueOf(VectorOps.cosine(q, v) * 10000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** One round's executor side: each search-table row whose id is in
    * the frontier (`ids` sorted, `who(i)` the queries asking for
    * `ids(i)`) answers its cosms, shard and both adjacency lists;
    * rows with a null id or embedding answer nothing. */
  private def scoreRows(it: Iterator[InternalRow], ids: Array[Long],
      who: Array[Array[Int]], qVecs: Array[Array[Float]])
      : Iterator[(Long, Array[Long], Int, Array[Array[Long]])] = {
    val qv = qVecs.map(v =>
      if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v))
    it.flatMap { r =>
      val i = if (r.isNullAt(0) || r.isNullAt(1)) -1
        else java.util.Arrays.binarySearch(ids, r.getLong(0))
      Option.when(i >= 0) {
        val v = r.getArray(1)
        (ids(i), who(i).map(q => cosmOf(qv(q), v)), r.getInt(2),
          Array(r.getArray(3).toLongArray(), r.getArray(4).toLongArray()))
      }
    }
  }

  /** The driver half of the beam loop over one [[searchTable]]: the
    * query vectors are broadcast once; each round broadcasts its
    * frontier (candidate id → asking queries), runs ONE job that
    * scores it ([[scoreRows]]), and merges the answers into the
    * per-(query, shard) beams. A (query, id) pair is scored at most
    * once per search, and candidates come back with their adjacency,
    * so expansion needs no second pass. State is query-bounded: the
    * queries and the ids their beams touched. */
  private final class BeamSearch(table: DataFrame, qIds: Array[Long],
      qVecs: Array[Array[Float]]) {
    private val rdd = table.queryExecution.toRdd
    private val bq = rdd.sparkContext.broadcast(qVecs)
    private val cosm = Array.fill(qIds.length)(mutable.HashMap.empty[Long, Long])
    // asked pairs, answered or not (absent id, null embedding)
    private val tried = Array.fill(qIds.length)(mutable.HashSet.empty[Long])
    // id -> (shard, [base adjacency, upper adjacency])
    private val node = mutable.HashMap.empty[Long, (Int, Array[Array[Long]])]

    /** Score every pair of `want` not tried yet: one job, none if
      * there is nothing new. */
    private def score(want: Array[Iterable[Long]]): Unit = {
      val ask = mutable.HashMap.empty[Long, mutable.ArrayBuilder.ofInt]
      for (qi <- qIds.indices if qVecs(qi) != null; id <- want(qi)
           if tried(qi).add(id))
        ask.getOrElseUpdate(id, new mutable.ArrayBuilder.ofInt) += qi
      if (ask.nonEmpty) {
        val ids = ask.keys.toArray.sorted
        val who = ids.map(ask(_).result())
        val bf = rdd.sparkContext.broadcast((ids, who))
        val bqv = bq
        val got = rdd.mapPartitions(it =>
          scoreRows(it, bf.value._1, bf.value._2, bqv.value)).collect()
        bf.destroy()
        for ((id, cs, shard, adj) <- got) {
          node(id) = (shard, adj)
          val qis = who(java.util.Arrays.binarySearch(ids, id))
          for (j <- qis.indices) cosm(qis(j))(id) = cs(j)
        }
      }
    }

    /** `ids` of query `qi` that have a score, by (cosm desc, id asc). */
    private def ranked(qi: Int, ids: Iterable[Long]): Array[Long] = {
      val c = cosm(qi)
      ids.iterator.filter(c.contains).toArray.sortBy(id => (-c(id), id))
    }

    /** The beam rule over one layer's adjacency (0 base, 1 upper),
      * `rounds` times from `seeds`: per (query, shard) keep the top
      * `beam` of cur ∪ N(cur) by (cosm desc, id asc), the query
      * itself excluded. A seed equal to its query stays in the first
      * beam only with `keepSelfSeed` (the sharded searches' entry-seed
      * exemption). Returns each query's beams, all shards. */
    def beams(seeds: Long => Seq[Long], layer: Int, beam: Int,
        rounds: Int, keepSelfSeed: Boolean): Array[Array[Long]] = {
      var cur = Array.empty[Array[Long]]
      for (round <- 0 to math.max(rounds, 0)) {
        val cands: Array[Iterable[Long]] = Array.tabulate(qIds.length) { qi =>
          val c = mutable.HashSet.empty[Long]
          if (round == 0) c ++= seeds(qIds(qi))
          else cur(qi).foreach { id => c += id; c ++= node(id)._2(layer) }
          if (round > 0 || !keepSelfSeed) c -= qIds(qi)
          c
        }
        score(cands)
        cur = Array.tabulate(qIds.length)(qi =>
          ranked(qi, cands(qi)).groupBy(node(_)._1).valuesIterator
            .flatMap(_.take(beam)).toArray)
      }
      cur
    }

    /** Each query's top `k` ids over its beams, self excluded. */
    def topK(beams: Array[Array[Long]], k: Int): Map[Long, Seq[Long]] =
      qIds.indices.map(qi =>
        qIds(qi) -> ranked(qi, beams(qi).filter(_ != qIds(qi))).take(k).toSeq)
        .toMap

    def rows(beams: Array[Array[Long]], k: Int): Seq[Row] = {
      val best = topK(beams, k)
      qIds.indices.sortBy(qIds(_)).flatMap(qi => best(qIds(qi)).zipWithIndex
        .map { case (id, r) => Row(qIds(qi), id, cosm(qi)(id), r + 1L) })
    }

    def close(): Unit = bq.destroy()
  }

  /** (query_id, neighbor_id, cos, rnk<=k), exact. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** FILTERED exact search: [[bruteTopK]] under a per-query attribute
    * predicate (neighbor.label == query.label) — the ground truth for
    * the filtered-ANN contract. Filtering happens BEFORE ranking, so
    * every query gets k matching neighbors if they exist (the
    * post-filter failure mode — thin result sets — cannot occur on
    * the exact path). */
  def bruteTopKFiltered(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, labelCol: String,
      k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("ql"))
    val scored = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"), col(labelCol).as("nl"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("nl") === col("ql"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** FILTERED ANN — the production vector-search feature every engine
    * (FAISS IDSelector, Qdrant/Milvus payload filters) ships: answer
    * top-k among only the corpus rows matching a per-query predicate.
    * This is the POST-FILTER strategy: the index returns k·oversample
    * unfiltered candidates, the predicate prunes, the survivors
    * re-rank to k. Oversampling is the knob that fights the thin-set
    * failure mode — with selectivity s, the expected matching
    * candidates are k·oversample·s, so oversample ≳ 1/s keeps recall
    * (here s = 1/|labels| = 0.1, oversample 16). At 100 TB the filter
    * column travels IN the inverted-list payload so the prune is
    * list-local; in this bounded corpus the label joins back by id —
    * the candidate relation is queries×(k·oversample), never
    * corpus-sized, so the join cost is query-bounded either way. */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, labelCol: String, k: Int = 5,
      oversample: Int = 16, nlist: Int = -1, nprobe: Int = 4,
      rowHint: Long = -1L): DataFrame = {
    val cand = ivfTopK(corpus, queries, vecCol, idCol, k * oversample,
      nlist, nprobe, rowHint = rowHint)
    val nl = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("nl"))
    val ql = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("ql"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(broadcast(ql), "query_id")
      .join(nl, "neighbor_id")
      .filter(col("nl") === col("ql"))
      .withColumn("rnk2", row_number().over(w).cast("long"))
      .filter(col("rnk2") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rnk2").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF(-flat) ANN: the inverted-file scale path. A small coarse
    * quantizer (nlist centroid vectors, deterministically sampled)
    * partitions the corpus into inverted lists; a query scores only
    * the vectors in its `nprobe` nearest lists.
    *
    * Plan shape at scale: list assignment is a pure map-side
    * projection — a single [[NearestCentroid]] kernel per row (the
    * centroid matrix rides as ONE plan reference object, not nlist
    * inlined literals, so nlist can be thousands without bloating the
    * plan or the generated code), argmax, NO shuffle of the corpus;
    * search is one equi-join on list_id with the (query x probe) side
    * broadcast, so the corpus is streamed exactly once and only
    * ~nprobe/nlist of it is scored. Centroid refinement (Lloyd
    * iterations) is an optional offline aggregate — the sampled
    * quantizer is deliberate: index build stays one pass.
    *
    * `nlist` defaults to AUTO (-1): [[autoNlist]] sizes the quantizer
    * at ~sqrt(n) lists, so per-list occupancy and per-query scanned
    * vectors both grow as sqrt(n) instead of linearly in corpus size —
    * a FIXED nlist at 1B rows means every query scans nprobe x n/nlist
    * ~ millions of vectors. The r5 broadcast-centroid work removed the
    * plan-size ceiling that used to cap nlist. AUTO costs one count()
    * pass over the corpus UNLESS `rowHint` (> 0) supplies the row
    * count — sqrt sizing only needs the order of magnitude, so a
    * catalog statistic or upstream count skips the hidden full scan
    * (NoHiddenScanSpec). Pass explicit nlist to pin a shape (the
    * recall/precision contract queries do). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5,
      nlist: Int = -1, nprobe: Int = 4, lloydIters: Int = 1,
      rowHint: Long = -1L): DataFrame = {
    val nl = if (nlist > 0) nlist
             else autoNlist(if (rowHint > 0) rowHint else corpus.count())
    ivfTopKFixed(corpus, queries, vecCol, idCol, k, nl, nprobe, lloydIters)
  }

  private def ivfTopKFixed(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nlist: Int, nprobe: Int, lloydIters: Int): DataFrame = {
    val centroids = trainQuantizer(corpus, vecCol, idCol, nlist, lloydIters)
    val centRef = broadcastCentroids(corpus, centroids)
    def nearestList(v: Column): Column =
      Bridge.column(NearestCentroid(Bridge.expression(v), centRef))
    val indexed = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), nearestList(col(vecCol)).as("list_id"))
    val probes = probeLists(queries, vecCol, idCol, centRef, nlist, nprobe)
    val scored = indexed.join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Per query: nprobe nearest centroids -> (query_id, qv, list_id)
    * fanout; the interpreted sort/slice runs on the few query rows
    * only. Shared by the IVF-flat and IVF-PQ paths. */
  private def probeLists(queries: DataFrame, vecCol: String, idCol: String,
      centRef: CentroidRef, nlist: Int, nprobe: Int): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        posexplode(slice(reverse(array_sort(arrays_zip(
          Bridge.column(CentroidCosines(Bridge.expression(col(vecCol)), centRef)).as("cos"),
          sequence(lit(0), lit(nlist - 1)).as("lid")))), 1, nprobe)))
      .select(col("query_id"), col("qv"), col("col.lid").as("list_id"))

  /** IVF-PQ: the standard production composite (one inverted-file
    * route + one 8-byte-code scan — the FAISS `IVFx,PQy` shape). The
    * coarse quantizer routes each query to its `nprobe` nearest
    * inverted lists, and WITHIN the probed lists the scan reads PQ
    * codes scored by the ADC-cosine kernel — so per query the engine
    * touches ~nprobe/nlist of the corpus at 8 bytes per row instead
    * of raw vectors: both the selectivity lever (IVF) and the
    * bytes-per-row lever (PQ) at once. `rerank = C` adds the exact
    * second stage over the C-deep shortlist, exactly as [[pqTopK]].
    *
    * The materialized index is (id, list_id, code) — a map-side
    * projection of the corpus, no shuffle; queries join it broadcast
    * on list_id. Both quantizers train driver-side on the same
    * deterministic sample budget and ride one broadcast each.
    * `rowHint` skips the AUTO-nlist count() like the other AUTO
    * paths.
    *
    * Production is train-once / encode-once / query-many (the
    * [[pqTopK]] precedent): pass `centroids` (from [[trainQuantizer]])
    * and `codebooks` (from [[trainCodebooks]]) back in and NEITHER
    * stage retrains — supplying centroids also fixes nlist, so no
    * AUTO count() runs either; pass `index` (from [[ivfPqEncode]]:
    * (id, list_id, code)) and the scan reads the materialized 8-byte
    * codes instead of re-encoding raw vectors. An index is only
    * meaningful with the EXACT artifacts that built it, so both ride
    * fingerprint stamps in the index's column metadata
    * ([[CentroidsFingerprintKey]] on list_id, [[BooksFingerprintKey]]
    * on code — parquet round-trips both) and a mismatching artifact is
    * rejected loudly: routed-but-wrong lists or mis-decoded ADC scores
    * are silent at query time, the one failure mode shape validation
    * cannot see. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5,
      nlist: Int = -1, nprobe: Int = 4, lloydIters: Int = 1,
      m: Int = 8, ksub: Int = 256, pqIters: Int = 5,
      sampleCap: Int = 2048, rerank: Int = 0,
      rowHint: Long = -1L,
      centroids: Option[Array[Seq[Float]]] = None,
      codebooks: Option[Array[Array[Array[Float]]]] = None,
      index: Option[DataFrame] = None): DataFrame = {
    require(index.isEmpty || (centroids.isDefined && codebooks.isDefined),
      "graft: a precomputed IVF-PQ index needs the centroids AND codebooks " +
        "it was built with")
    val cents = centroids.getOrElse {
      val nl = if (nlist > 0) nlist
               else autoNlist(if (rowHint > 0) rowHint else corpus.count())
      trainQuantizer(corpus, vecCol, idCol, nl, lloydIters)
    }
    // an empty supplied centroid set would make nl = 0 and rot the
    // probe fanout into bogus list ids — reject it like ivfPqEncode does
    require(cents.nonEmpty, "graft: IVF-PQ needs >= 1 centroid")
    val nl = cents.length
    val centRef = broadcastCentroids(corpus, cents)
    val books = codebooks.getOrElse(
      trainCodebooks(corpus, vecCol, idCol, m, ksub, pqIters, sampleCap))
    validateBooks(books)
    val bookRef = BroadcastCodebooks(
      corpus.sparkSession.sparkContext.broadcast(books))
    def nearestList(v: Column): Column =
      Bridge.column(NearestCentroid(Bridge.expression(v), centRef))
    val indexed = index
      .map { df =>
        verifyStamp(df, "list_id", CentroidsFingerprintKey,
          centroidFingerprint(cents), "centroids", "re-route via ivfPqEncode")
        verifyStamp(df, "code", BooksFingerprintKey,
          bookFingerprint(books), "codebooks", "re-encode via ivfPqEncode")
        df.select(col(idCol).as("neighbor_id"), col("list_id"), col("code"))
      }
      .getOrElse(corpus.select(col(idCol).as("neighbor_id"),
        nearestList(col(vecCol)).as("list_id"),
        Bridge.column(PQEncode64(Bridge.expression(col(vecCol)), bookRef)).as("code")))
    val probes = probeLists(queries, vecCol, idCol, centRef, nl, nprobe)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = indexed.join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Bridge.column(PQCosine(Bridge.expression(col("qv")),
          Bridge.expression(col("code")), bookRef)), 4).as("cos_pq"))
    if (rerank <= 0) {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_pq").desc, col("neighbor_id"))
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .orderBy(col("query_id"), col("rnk"))
    } else rerankExact(scored, "cos_pq", corpus, q, vecCol, idCol, k,
      math.max(rerank, k))
  }

  /** The exact second stage shared by the PQ paths: keep the top C
    * candidates per query by approximate score, join ONLY those
    * (queries x C rows) back to their raw vectors (broadcast
    * semi-joins — no corpus shuffle), and re-rank to k by exact
    * cosine. */
  private def rerankExact(scored: DataFrame, scoreCol: String,
      corpus: DataFrame, q: DataFrame, vecCol: String, idCol: String,
      k: Int, c: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    val cand = scored.withColumn("_crk", row_number().over(w))
      .filter(col("_crk") <= c)
      .select(col("query_id"), col("neighbor_id"))
    val exact = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 4).as("cos"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rnk", row_number().over(w2).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Occupancy-balanced IVF list count: ~sqrt(n) lists put per-list
    * occupancy AND per-query scanned vectors (nprobe x n/nlist) at
    * ~sqrt(n) — the standard IVF sizing — clamped to [16, 4096]
    * (below 16 the quantizer stops discriminating; 4096 keeps
    * quantizer training a KB-scale driver artifact). */
  private[graft] def autoNlist(n: Long): Int =
    math.min(4096, math.max(16,
      math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt))

  /** Coarse-quantizer sizing for WITHIN-CLUSTER PAIR work (the
    * SemDeDup composition), as opposed to IVF SEARCH routing
    * ([[autoNlist]]'s √n): √n keeps cluster size √n, so all-pairs
    * work inside clusters is nlist·(n/nlist)² = n^1.5 — measured
    * falling over (executor OOM, ~714M candidate pairs) at n = 200k
    * in the 100× probe. Beyond the crossover where √n clusters
    * exceed ~64 rows, size by cluster instead: nlist = n/64, so pair
    * mass stays O(n·64·probes²) — linear. The crossover is where
    * n/64 overtakes [[autoNlist]]'s min(4096, ⌈√n⌉): √n = n/64 at
    * n = 4096, so divergence starts at n ≈ 4.1k (NOT 262k — 4096² is
    * where √n would hit autoNlist's own cap, a different knee).
    * Below n ≈ 4.1k — which covers every driver-gate SF (500/2000
    * embeddings) — this equals [[autoNlist]], so test-scale
    * behavior and the measured recall floors are unchanged. The 16384
    * cap bounds the per-vector assignment cost (argmax over centroids
    * is nlist·dim flops).
    *
    * Hierarchical (two-level) routing was PROBED as the next step
    * past the cap and measured NOT WORTH LANDING on this embedding
    * space (tools/hier_probe.py + hier_pair_recall.py, n = 200k,
    * nlist = 3125, 56 coarse cells over the fine centroids): routing
    * through the top-w coarse cells cuts assignment flops 18.6×/
    * 11.2×/6.2× at w = 2/4/8 but agrees with the flat argmax only
    * 31%/45%/62% of the time, and — the metric that matters — keeps
    * only 48%/66%/80% of the flat path's τ-pair candidate recall
    * (0.333 flat vs 0.161/0.219/0.266 on 38k true pairs). The space
    * is weakly clustered (the d_cluster_silhouette finding), so
    * coarse cells don't predict fine cells; recovering recall needs
    * w ≈ 16+, at which point the flop cut is ≈3× — a poor trade
    * while flat assignment at the 16384 cap is a bounded map-side
    * kernel. Revisit only with a corpus whose silhouette shows real
    * cluster structure. */
  private[graft] def autoNlistPairs(n: Long): Int =
    math.max(autoNlist(n), math.min(16384L, n / 64L).toInt)

  /** Wrap a driver-side centroid matrix as a broadcast for the
    * expression kernels: tasks serialize a handle, each executor
    * fetches the matrix once — nlist can grow to thousands without
    * touching plan size or task-closure bytes. */
  private def broadcastCentroids(df: DataFrame,
      centroids: Array[Seq[Float]]): BroadcastCentroids =
    BroadcastCentroids(df.sparkSession.sparkContext
      .broadcast(centroids.map(_.toArray)))

  /** Coarse-quantizer training: deterministic seed sample + `iters`
    * Lloyd rounds. Each round is one distributed pass: assign every
    * vector to its nearest centroid (map-side — centroids ride a
    * per-round broadcast), then recompute centroids as per-list means via
    * posexplode + groupBy(list, dim) — a rows x dim shuffle, the
    * standard distributed k-means step. Empty lists keep their old
    * centroid. Returns nlist dense centroid vectors (driver-side:
    * nlist x dim floats, a few KB). */
  def trainQuantizer(corpus: DataFrame, vecCol: String,
      idCol: String, nlist: Int, iters: Int): Array[Seq[Float]] = {
    import org.apache.spark.sql.Row
    var centroids: Array[Seq[Float]] = corpus
      .select(col(vecCol)).orderBy(col(idCol)).limit(nlist)
      .collect().map { case Row(v: scala.collection.Seq[_]) =>
        v.map(_.asInstanceOf[Float]).toSeq }
    for (_ <- 1 to iters) {
      val roundRef = broadcastCentroids(corpus, centroids)
      val assigned = corpus.select(col(vecCol).as("v"),
        Bridge.column(NearestCentroid(Bridge.expression(col(vecCol)),
          roundRef)).as("list_id"))
      val means = assigned
        .select(col("list_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("list_id"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("list_id"))
        .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("list_id"),
          transform(col("dm"), e => e.getField("m").cast("float")).as("c"))
        .collect()
      // the per-round broadcast is dead once the collect returns — free
      // its executor blocks NOW instead of waiting for driver GC (a
      // long-lived bench session would otherwise accumulate one nlist x
      // dim block per Lloyd round); the final centRef callers hold onto
      // stays GC-managed as usual
      roundRef.bc.destroy() // public destroy() is the async variant
      val next = centroids.clone()
      means.foreach { r =>
        next(r.getInt(0)) = r.getSeq[Float](1).toSeq
      }
      centroids = next
    }
    centroids
  }

  /** Distributed k-means clustering over an embedding column — the
    * domain-clustering step of a data-mixing pipeline (cluster, then
    * weight/sample per cluster). Reuses the IVF machinery: train the
    * quantizer (deterministic seed sample + Lloyd rounds, each one
    * distributed pass), then assignment is a single map-side
    * [[NearestCentroid]] projection — no shuffle of the corpus, any
    * corpus size. Returns (id, cluster, cos_centroid). */
  def kmeansAssign(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int = 16, iters: Int = 2): DataFrame = {
    val centRef = broadcastCentroids(corpus,
      trainQuantizer(corpus, vecCol, idCol, k, iters))
    corpus.select(col(idCol), col(vecCol).as("v"))
      .select(col(idCol),
        Bridge.column(NearestCentroid(Bridge.expression(col("v")), centRef))
          .as("cluster"),
        Bridge.column(CentroidCosines(Bridge.expression(col("v")), centRef))
          .as("cos_all"))
      .select(col(idCol), col("cluster"),
        element_at(col("cos_all"), col("cluster") + 1).as("cos_centroid"))
  }

  /** Product-quantization ANN — the MEMORY-bound scale path. The
    * corpus compresses to ONE LONG per row ([[PQEncode64]]: m
    * subspaces x 8-bit codes; a 64-float embedding drops 256 B ->
    * 8 B, 32x), scored against the broadcast query set by
    * asymmetric-distance cosine (exact query vector vs the codebook
    * centroids the code names, [[PQCosine]] — never materializing a
    * reconstruction). Plan shape is bruteTopK's zero-corpus-shuffle
    * scan, but per row the scan touches 8 code bytes instead of 256
    * vector bytes: at 100 TB of embeddings that is the difference
    * between an index that fits the page cache and one that doesn't —
    * and `encode(df)` exposes the codes table so a production job
    * materializes it ONCE and scans only codes thereafter.
    *
    * Codebooks train driver-side on a deterministic id-prefix sample
    * (one KB-scale collect — same budget as the IVF quantizer) with
    * plain per-subspace L2 Lloyd; they ride to executors as ONE
    * broadcast. Unlike lsh/ivfTopK — approximate CANDIDATES, exact
    * scores — the raw PQ scan scores every row approximately, so with
    * `rerank = 0` the returned column is honestly named `cos_pq`; the
    * d_ann_pq_fidelity contract pins how close it runs to the truth.
    *
    * `rerank = C > 0` adds the standard production second stage: the
    * code scan keeps the top C candidates per query by ADC score, then
    * ONLY those (queries x C) rows join their raw vectors back (a
    * broadcast semi-join onto the corpus — no shuffle) for an exact
    * cosine re-rank to k, returned as `cos`. Rank resolution then
    * comes from exact scores and ADC only has to land true neighbors
    * somewhere in the top C — which is why d_ann_pq_recall contracts
    * the reranked path on a corpus whose true top-5 sit in tightly
    * packed background similarity (raw-ADC rank order is not stable
    * there; membership in a C-deep candidate set is). */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5,
      m: Int = 8, ksub: Int = 256, iters: Int = 5,
      sampleCap: Int = 2048, rerank: Int = 0,
      codebooks: Option[Array[Array[Array[Float]]]] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    // a production job trains once (trainCodebooks), materializes the
    // codes table once (pqEncode), and passes BOTH back in here so the
    // scan reads 8-byte codes, never raw vectors — the default trains
    // and encodes fresh, the self-contained benchmark shape. `codes`
    // expects (idCol, code) as pqEncode produces. The codebook
    // broadcast stays referenced by the returned plan, so like
    // ivfTopK's centroid broadcast it is GC-managed, not destroyed.
    require(codes.isEmpty || codebooks.isDefined,
      "graft: a precomputed codes table needs the codebooks it was encoded with")
    val books = codebooks.getOrElse(
      trainCodebooks(corpus, vecCol, idCol, m, ksub, iters, sampleCap))
    validateBooks(books)
    val ref = BroadcastCodebooks(
      corpus.sparkSession.sparkContext.broadcast(books))
    val codesDf = codes
      .map { df =>
        // codes encoded with DIFFERENT books score silently wrong — the
        // one failure mode validateBooks cannot see. pqEncode stamps a
        // fingerprint of its books into the code column's metadata
        // (parquet round-trips it); verify it whenever it survived.
        verifyStamp(df, "code", BooksFingerprintKey,
          bookFingerprint(books), "codebooks", "re-encode via pqEncode")
        df.select(col(idCol).as("neighbor_id"), col("code"))
      }
      .getOrElse(corpus.select(col(idCol).as("neighbor_id"),
        Bridge.column(PQEncode64(Bridge.expression(col(vecCol)), ref)).as("code")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = codesDf.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Bridge.column(PQCosine(Bridge.expression(col("qv")),
          Bridge.expression(col("code")), ref)), 4).as("cos_pq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_pq").desc, col("neighbor_id"))
    if (rerank <= 0)
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .orderBy(col("query_id"), col("rnk"))
    else rerankExact(scored, "cos_pq", corpus, q, vecCol, idCol, k,
      math.max(rerank, k))
  }

  /** SQ8 per-dimension quantization bounds — the train-ONCE artifact
    * of scalar-quantized ANN ([[trainSq8]] -> [[sq8Encode]] ->
    * [[sq8TopK]]`(scales=, codes=)`). Driver-resident: 2 x dim floats. */
  final case class Sq8Scales(mins: Array[Float], spans: Array[Float]) {
    require(mins.length == spans.length && mins.nonEmpty,
      s"graft: SQ8 scales need matched non-empty mins/spans " +
        s"(got ${mins.length}/${spans.length})")
    require(spans.forall(s => s >= 0f && !s.isNaN && !s.isInfinite),
      "graft: SQ8 spans must be finite and non-negative (span = max - min)")
    def dim: Int = mins.length
  }

  /** Train SQ8 bounds: exact per-dimension min/max over the corpus in
    * ONE distributed pass — posexplode to (dim, value), min/max per
    * dim. Map-side partial aggregation collapses each task's output to
    * `dim` rows before the shuffle, so shuffle volume is
    * O(partitions x dim) no matter the corpus size; `dim` rows reach
    * the driver. Deterministic: exact extrema carry no sample or seed. */
  def trainSq8(corpus: DataFrame, vecCol: String): Sq8Scales = {
    val rows = corpus
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("d"))
      .collect()
    require(rows.nonEmpty, "graft: SQ8 training needs a non-empty corpus")
    Sq8Scales(
      rows.map(_.getFloat(1)),
      rows.map(r => r.getFloat(2) - r.getFloat(1)))
  }

  /** Column-metadata key carrying the fingerprint of the scales an SQ8
    * codes table was encoded with. */
  val Sq8FingerprintKey: String = "graft.sq8.scales"

  /** Deterministic fingerprint of SQ8 scales — same MD5-over-float-bits
    * scheme as [[centroidFingerprint]]/[[bookFingerprint]]. */
  def sq8Fingerprint(s: Sq8Scales): String =
    md5Ints(Iterator(s.mins.length) ++
      s.mins.iterator.map(java.lang.Float.floatToIntBits) ++
      s.spans.iterator.map(java.lang.Float.floatToIntBits))

  /** The SQ8 codes table — (id, code binary of dim bytes): what a
    * production pipeline materializes once so subsequent ANN scans
    * never touch the raw vectors (4x smaller at float32 input). Pure
    * map-side projection; the code column carries the scales'
    * fingerprint so [[sq8TopK]] rejects a codes table paired with
    * retrained bounds instead of scoring silently wrong. */
  def sq8Encode(corpus: DataFrame, vecCol: String, idCol: String,
      scales: Sq8Scales): DataFrame = {
    val ref = BroadcastSq8(corpus.sparkSession.sparkContext
      .broadcast((scales.mins, scales.spans)))
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(Sq8FingerprintKey, sq8Fingerprint(scales)).build()
    corpus.select(col(idCol),
      Bridge.column(SQ8Encode(Bridge.expression(col(vecCol)), ref))
        .as("code", meta))
  }

  /** Scalar-quantization ANN top-k: approximate scores over dim-byte
    * codes (asymmetric — exact query against the dequantized corpus
    * row). Same scan shape as [[pqTopK]]: the codes table streams
    * through one codegen'd scoring pass against the broadcast query
    * set, per-query top-k via window — no corpus shuffle. SQ8 keeps
    * per-dimension resolution (error <= span_i/510 per coordinate), so
    * raw-score rank order is far closer to exact than PQ's
    * shared-centroid codes; `rerank > 0` re-scores a candidate
    * shortlist with exact cosines, the belt-and-braces production
    * shape. A production job trains once ([[trainSq8]]), materializes
    * codes once ([[sq8Encode]]), and passes both back in so the scan
    * reads codes only. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5, rerank: Int = 0,
      scales: Option[Sq8Scales] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    require(codes.isEmpty || scales.isDefined,
      "graft: a precomputed SQ8 codes table needs the scales it was encoded with")
    val sc = scales.getOrElse(trainSq8(corpus, vecCol))
    val ref = BroadcastSq8(corpus.sparkSession.sparkContext
      .broadcast((sc.mins, sc.spans)))
    val codesDf = codes
      .map { df =>
        verifyStamp(df, "code", Sq8FingerprintKey, sq8Fingerprint(sc),
          "SQ8 scales", "re-encode via sq8Encode")
        df.select(col(idCol).as("neighbor_id"), col("code"))
      }
      .getOrElse(corpus.select(col(idCol).as("neighbor_id"),
        Bridge.column(SQ8Encode(Bridge.expression(col(vecCol)), ref)).as("code")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = codesDf.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Bridge.column(SQ8Cosine(Bridge.expression(col("qv")),
          Bridge.expression(col("code")), ref)), 4).as("cos_sq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sq").desc, col("neighbor_id"))
    if (rerank <= 0)
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .orderBy(col("query_id"), col("rnk"))
    else rerankExact(scored, "cos_sq", corpus, q, vecCol, idCol, k,
      math.max(rerank, k))
  }

  /** The IVF-SQ index table — (id, list_id, code binary): coarse
    * routing + SQ8 codes, the FAISS `IVFx,SQ8` index a production
    * pipeline materializes once. Pure map-side projection; both
    * columns carry their artifact's fingerprint so [[ivfSqTopK]]
    * rejects an index paired with retrained centroids or scales. */
  def ivfSqEncode(corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Seq[Float]], scales: Sq8Scales): DataFrame = {
    require(centroids.nonEmpty, "graft: IVF-SQ index needs >= 1 centroid")
    val centRef = broadcastCentroids(corpus, centroids)
    val sqRef = BroadcastSq8(corpus.sparkSession.sparkContext
      .broadcast((scales.mins, scales.spans)))
    val centMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(CentroidsFingerprintKey, centroidFingerprint(centroids)).build()
    val sqMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(Sq8FingerprintKey, sq8Fingerprint(scales)).build()
    corpus.select(col(idCol),
      Bridge.column(NearestCentroid(Bridge.expression(col(vecCol)), centRef))
        .as("list_id", centMeta),
      Bridge.column(SQ8Encode(Bridge.expression(col(vecCol)), sqRef))
        .as("code", sqMeta))
  }

  /** IVF-SQ composite ANN (the FAISS `IVFx,SQ8` shape): inverted-file
    * routing cuts scanned candidates to ~nprobe/nlist of the corpus,
    * SQ8 codes cut bytes-per-candidate 4x with near-exact scores —
    * the selectivity lever of IVF with a far tighter score than PQ
    * (mean |cos| error ~7e-4 vs ~0.05), so the raw-score path is
    * usable without rerank. Same train-once / encode-once / query-many
    * artifact path as [[ivfPqTopK]]. */
  def ivfSqTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5,
      nlist: Int = -1, nprobe: Int = 4, lloydIters: Int = 1,
      rerank: Int = 0, rowHint: Long = -1L,
      centroids: Option[Array[Seq[Float]]] = None,
      scales: Option[Sq8Scales] = None,
      index: Option[DataFrame] = None): DataFrame = {
    require(index.isEmpty || (centroids.isDefined && scales.isDefined),
      "graft: a precomputed IVF-SQ index needs the centroids AND scales " +
        "it was built with")
    val cents = centroids.getOrElse {
      val nl = if (nlist > 0) nlist
               else autoNlist(if (rowHint > 0) rowHint else corpus.count())
      trainQuantizer(corpus, vecCol, idCol, nl, lloydIters)
    }
    require(cents.nonEmpty, "graft: IVF-SQ needs >= 1 centroid")
    val nl = cents.length
    val centRef = broadcastCentroids(corpus, cents)
    val sc = scales.getOrElse(trainSq8(corpus, vecCol))
    val sqRef = BroadcastSq8(corpus.sparkSession.sparkContext
      .broadcast((sc.mins, sc.spans)))
    val indexed = index
      .map { df =>
        verifyStamp(df, "list_id", CentroidsFingerprintKey,
          centroidFingerprint(cents), "centroids", "re-route via ivfSqEncode")
        verifyStamp(df, "code", Sq8FingerprintKey,
          sq8Fingerprint(sc), "SQ8 scales", "re-encode via ivfSqEncode")
        df.select(col(idCol).as("neighbor_id"), col("list_id"), col("code"))
      }
      .getOrElse(corpus.select(col(idCol).as("neighbor_id"),
        Bridge.column(NearestCentroid(Bridge.expression(col(vecCol)), centRef))
          .as("list_id"),
        Bridge.column(SQ8Encode(Bridge.expression(col(vecCol)), sqRef)).as("code")))
    val probes = probeLists(queries, vecCol, idCol, centRef, nl, nprobe)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = indexed.join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Bridge.column(SQ8Cosine(Bridge.expression(col("qv")),
          Bridge.expression(col("code")), sqRef)), 4).as("cos_sq"))
    if (rerank <= 0) {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sq").desc, col("neighbor_id"))
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .orderBy(col("query_id"), col("rnk"))
    } else rerankExact(scored, "cos_sq", corpus, q, vecCol, idCol, k,
      math.max(rerank, k))
  }

  /** PCA model — the train-ONCE artifact of linear dimensionality
    * reduction: corpus mean, the top-r principal directions as
    * orthonormal rows, their eigenvalues (descending), and the total
    * variance (trace of the covariance). Driver-resident:
    * (r+1) x dim doubles. */
  final case class PcaModel(mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double],
      totalVar: Double) {
    def dim: Int = mean.length
    def r: Int = components.length
    /** Fraction of corpus variance the r retained directions carry. */
    def explainedRatio: Double =
      if (totalVar <= 0.0) 1.0 else eigenvalues.sum / totalVar
  }

  /** Train a PCA model in ONE distributed pass: per-partition
    * accumulation of (count, coordinate sums, upper-triangular Gram
    * matrix) — the RowMatrix pattern, genuine per-partition imperative
    * work, so this is one of the few deliberate RDD uses — followed by
    * a tree-combine of d(d+3)/2-double summaries (~17 KB at d=64,
    * independent of corpus size) and a driver-side Jacobi
    * eigendecomposition of the d x d covariance (d is the EMBEDDING
    * width, never the corpus). Components are sign-canonicalized
    * (largest-|coordinate| positive) so retrains on identical data
    * agree. */
  def trainPca(corpus: DataFrame, vecCol: String, r: Int): PcaModel = {
    val rdd = corpus.select(col(vecCol)).rdd
      .map(_.getSeq[Float](0))
    val head = rdd.take(1)
    require(head.nonEmpty, "graft: PCA training needs a non-empty corpus")
    val d = head(0).length
    require(r >= 1 && r <= d, s"graft: PCA rank r=$r must lie in [1, $d]")
    val tri = d * (d + 1) / 2
    val (n, s, g) = rdd.treeAggregate(
        (0L, new Array[Double](d), new Array[Double](tri)))(
      seqOp = { case ((c, sum, gram), v) =>
        require(v.length == d,
          s"graft: ragged embedding (dim ${v.length}, expected $d) in PCA training")
        var i = 0
        var t = 0
        while (i < d) {
          val xi = v(i).toDouble
          sum(i) += xi
          var j = i
          while (j < d) { gram(t) += xi * v(j).toDouble; t += 1; j += 1 }
          i += 1
        }
        (c + 1, sum, gram)
      },
      combOp = { case ((c1, s1, g1), (c2, s2, g2)) =>
        var i = 0
        while (i < d) { s1(i) += s2(i); i += 1 }
        var t = 0
        while (t < tri) { g1(t) += g2(t); t += 1 }
        (c1 + c2, s1, g1)
      })
    val mean = s.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val cij = g(t) / n - mean(i) * mean(j)
        cov(i)(j) = cij; cov(j)(i) = cij
        t += 1; j += 1
      }
      i += 1
    }
    val totalVar = (0 until d).map(k => cov(k)(k)).sum
    val (vals, vecs) = symEigen(cov)
    val comps = vecs.take(r).map { v =>
      val m = v.indices.maxBy(k => math.abs(v(k)))
      if (v(m) < 0) v.map(-_) else v
    }
    PcaModel(mean, comps, vals.take(r), totalVar)
  }

  /** Cyclic-Jacobi eigendecomposition of a symmetric matrix —
    * driver-side, O(d^3) per sweep at d = embedding width (64 here:
    * microseconds). Returns (eigenvalues descending, matching
    * eigenvectors as rows). */
  private def symEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    val tol = 1e-22 * math.max(1.0, m.map(r => r.map(x => x * x).sum).sum)
    var sweep = 0
    while (sweep < 64 && off() > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val tan =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tan * tan + 1.0)
            val sn = tan * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sn * akq
              a(k)(q) = sn * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sn * aqk
              a(q)(k) = sn * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - sn * vkq
              v(k)(q) = sn * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => Array.tabulate(d)(k => v(k)(i))).toArray)
  }

  /** Wrap a PCA model for the projection kernels: broadcast, O(1) in
    * plan and task closures. */
  private def broadcastPca(df: DataFrame, model: PcaModel): graft.plans.BroadcastPca =
    graft.plans.BroadcastPca(df.sparkSession.sparkContext
      .broadcast((model.mean, model.components)))

  /** The projected-embeddings table — (id, `proj` array<float> of
    * length r): what a production pipeline materializes once so every
    * downstream consumer (ANN, clustering, dedup) reads r-dim vectors.
    * Pure map-side matvec, no shuffle. */
  def pcaProject(corpus: DataFrame, vecCol: String, idCol: String,
      model: PcaModel): DataFrame = {
    val ref = broadcastPca(corpus, model)
    corpus.select(col(idCol),
      Bridge.column(graft.plans.PcaProject(
        Bridge.expression(col(vecCol)), ref)).as("proj"))
  }

  /** Per-row squared reconstruction error under `model` — the
    * distributed side of the variance-accounting identity
    * mean(residual^2) = totalVar - retainedVar that d_embed_pca
    * asserts (it holds ONLY if the components are genuine orthonormal
    * eigenvectors, so it checks the whole train/project chain). */
  def pcaResidual2(corpus: DataFrame, vecCol: String,
      model: PcaModel): DataFrame = {
    val ref = broadcastPca(corpus, model)
    corpus.select(Bridge.column(graft.plans.PcaResidual2(
      Bridge.expression(col(vecCol)), ref)).as("residual2"))
  }

  /** PCA-reduced ANN top-k: score the corpus by cosine in the r-dim
    * projected space (map-side matvec both sides, r-dim arithmetic per
    * candidate instead of d-dim), keep a `shortlist`-deep candidate
    * set per query, re-rank exactly at full dimension — the standard
    * reduce-then-rerank composition. Same scan shape as the other
    * code-based indexes: no corpus shuffle. A production job trains
    * once ([[trainPca]]) and passes the model back in; the default
    * trains fresh, the self-contained benchmark shape. */
  def pcaTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5, shortlist: Int = 100,
      r: Int = 32, model: Option[PcaModel] = None): DataFrame = {
    val m = model.getOrElse(trainPca(corpus, vecCol, r))
    val ref = broadcastPca(corpus, m)
    def proj(c: Column): Column =
      Bridge.column(graft.plans.PcaProject(Bridge.expression(c), ref))
    val pc = corpus.select(col(idCol).as("neighbor_id"), proj(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      proj(col(vecCol)).as("qp"))
    val scored = pc.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qp"), col("cv")), 4).as("cos_pca"))
    rerankExact(scored, "cos_pca", corpus,
      q.select(col("query_id"), col("qv")), vecCol, idCol, k,
      math.max(shortlist, k))
  }

  /** Random-projection ANN top-k — [[pcaTopK]]'s TRAIN-FREE sibling:
    * a seeded Johnson-Lindenstrauss Gaussian matrix (regenerated from
    * (seed, dim, r) on each executor — no training pass, no artifact,
    * no broadcast) reduces both sides to r dims for the shortlist
    * scan, then the exact full-dim rerank restores true ranking. The
    * zero-setup reduction path: where PCA needs a corpus pass and
    * ships a model, RP needs a seed — the JL guarantee makes the
    * shortlist distance-faithful without looking at the data, at the
    * cost of ignoring the corpus's actual anisotropy: at r=32 RP
    * recalls 0.92/0.78 with a 200-deep shortlist where PCA reads
    * 1.0/0.84 at HALF the shortlist (tools/Sq8Probe sweep) — the
    * default shortlist is 2x PCA's for exactly that reason. */
  def rpTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5, shortlist: Int = 200,
      r: Int = 32, seed: Long = 4242L): DataFrame = {
    require(r >= 1, s"graft: RP rank r=$r must be >= 1")
    def proj(c: Column): Column =
      Bridge.column(graft.plans.RpProject(Bridge.expression(c), r, seed))
    val pc = corpus.select(col(idCol).as("neighbor_id"), proj(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      proj(col(vecCol)).as("qp"))
    val scored = pc.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qp"), col("cv")), 4).as("cos_rp"))
    rerankExact(scored, "cos_rp", corpus,
      q.select(col("query_id"), col("qv")), vecCol, idCol, k,
      math.max(shortlist, k))
  }

  /** The PQ codes table — (id, code long): what a production pipeline
    * materializes once so subsequent ANN scans never touch the raw
    * vectors. Pure map-side projection. */
  def pqEncode(corpus: DataFrame, vecCol: String, idCol: String,
      books: Array[Array[Array[Float]]]): DataFrame = {
    validateBooks(books)
    val ref = BroadcastCodebooks(
      corpus.sparkSession.sparkContext.broadcast(books))
    // stamp the books' fingerprint into the column metadata so pqTopK
    // can reject a codes table paired with the wrong codebooks; Spark
    // persists field metadata through parquet write/read
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(BooksFingerprintKey, bookFingerprint(books)).build()
    corpus.select(col(idCol),
      Bridge.column(PQEncode64(Bridge.expression(col(vecCol)), ref))
        .as("code", meta))
  }

  /** The IVF-PQ index table — (id, list_id, code): what a production
    * pipeline materializes once so subsequent searches never touch raw
    * vectors. Pure map-side projection (assignment kernel + encode
    * kernel, no shuffle). Both columns carry the fingerprint of the
    * artifact that produced them ([[CentroidsFingerprintKey]] /
    * [[BooksFingerprintKey]] — parquet round-trips field metadata), so
    * [[ivfPqTopK]] rejects an index paired with retrained centroids or
    * codebooks instead of routing/scoring silently wrong. */
  def ivfPqEncode(corpus: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Seq[Float]],
      books: Array[Array[Array[Float]]]): DataFrame = {
    require(centroids.nonEmpty, "graft: IVF-PQ index needs >= 1 centroid")
    validateBooks(books)
    val centRef = broadcastCentroids(corpus, centroids)
    val bookRef = BroadcastCodebooks(
      corpus.sparkSession.sparkContext.broadcast(books))
    val centMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(CentroidsFingerprintKey, centroidFingerprint(centroids)).build()
    val bookMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(BooksFingerprintKey, bookFingerprint(books)).build()
    corpus.select(col(idCol),
      Bridge.column(NearestCentroid(Bridge.expression(col(vecCol)), centRef))
        .as("list_id", centMeta),
      Bridge.column(PQEncode64(Bridge.expression(col(vecCol)), bookRef))
        .as("code", bookMeta))
  }

  /** Reject a precomputed table whose stamped fingerprint disagrees
    * with the artifact supplied alongside it. Absent stamps pass (a
    * hand-built table without metadata is the caller's contract). */
  private def verifyStamp(df: DataFrame, column: String, key: String,
      expected: String, what: String, remedy: String): Unit =
    df.schema.find(_.name == column)
      .filter(_.metadata.contains(key))
      .foreach { f =>
        val stamped = f.metadata.getString(key)
        require(stamped == expected,
          s"graft: the supplied table's $column was built with different " +
            s"$what (stamped $stamped, supplied hash $expected) — $remedy")
      }

  /** Column-metadata key carrying the fingerprint of the codebooks a
    * codes table was encoded with. */
  val BooksFingerprintKey: String = "graft.pq.books"

  /** Column-metadata key carrying the fingerprint of the coarse
    * centroids an IVF-PQ index's list routing was built with. */
  val CentroidsFingerprintKey: String = "graft.ivf.centroids"

  /** Deterministic fingerprint of a coarse-centroid set: MD5 over
    * every float bit pattern plus shape — same scheme as
    * [[bookFingerprint]], so any retrained quantizer hashes
    * differently even at equal shape. */
  def centroidFingerprint(cents: Array[Seq[Float]]): String =
    md5Ints(Iterator(cents.length) ++ cents.iterator.flatMap { c =>
      Iterator(c.length) ++ c.iterator.map(java.lang.Float.floatToIntBits)
    })

  /** MD5 over a shape-prefixed int stream — the one hashing scheme
    * behind both artifact fingerprints, so a future change (digest,
    * version byte, endianness) lands in both or neither. */
  private def md5Ints(ints: Iterator[Int]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(4)
    ints.foreach { i =>
      buf.clear(); buf.putInt(i); md.update(buf.array(), 0, 4)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Deterministic fingerprint of a codebook set: MD5 over every float
    * bit pattern (plus shape), so any retrained or edited book — even
    * one equal in shape — hashes differently. */
  def bookFingerprint(books: Array[Array[Array[Float]]]): String =
    md5Ints(Iterator(books.length) ++ books.iterator.flatMap { b =>
      Iterator(b.length) ++ b.iterator.flatMap { c =>
        Iterator(c.length) ++ c.iterator.map(java.lang.Float.floatToIntBits)
      }
    })

  /** Injected codebooks must satisfy the PQEncode64 packing invariants
    * that trainCodebooks guarantees by construction: a 9th subspace
    * would wrap its 8*8-bit shift to 0 and silently overwrite subspace
    * 0's code, a 257th centroid would have its index truncated by the
    * 8-bit mask — both produce silently wrong neighbors, so they are
    * rejected here. Vector-dim tiling is checked per row in the kernel
    * (the dim is not knowable driver-side from the schema). */
  private def validateBooks(books: Array[Array[Array[Float]]]): Unit = {
    require(books.nonEmpty && books.length <= 8,
      s"graft: PQ needs 1..8 codebooks (one long, 8-bit codes); got ${books.length}")
    require(books.forall(b => b.nonEmpty && b.length <= 256),
      "graft: PQ codebooks must hold 1..256 centroids each")
    val dsub = books(0)(0).length
    require(books.forall(_.forall(_.length == dsub)),
      "graft: PQ codebook centroids must share one subspace width")
  }

  /** Per-subspace L2 k-means codebooks from a deterministic id-prefix
    * sample — the train-ONCE artifact of the PQ production workflow
    * (train here, materialize codes via [[pqEncode]], pass the books
    * back into [[pqTopK]]'s `codebooks` so queries never retrain).
    * Driver-side: sampleCap x dim floats collected once (~0.5 MB at
    * the defaults), then Lloyd on the sample — KB-scale CPU, zero
    * extra distributed passes. Deterministic: sample order and
    * first-k init carry no randomness. */
  def trainCodebooks(corpus: DataFrame, vecCol: String,
      idCol: String, m: Int = 8, ksub: Int = 256, iters: Int = 5,
      sampleCap: Int = 2048): Array[Array[Array[Float]]] = {
    require(ksub <= 256 && m <= 8, "PQEncode64 packs 8-bit codes into one long")
    import org.apache.spark.sql.Row
    val sample: Array[Array[Float]] = corpus
      .select(col(vecCol)).orderBy(col(idCol)).limit(sampleCap)
      .collect().map { case Row(v: scala.collection.Seq[_]) =>
        v.map(_.asInstanceOf[Float]).toArray }
    require(sample.nonEmpty,
      "graft: PQ codebook training needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      kmeansL2(sub, math.min(ksub, sub.length), iters)
    }
  }

  /** Plain L2 Lloyd over driver-resident points; empty clusters keep
    * their previous centroid (mirrors trainQuantizer's rule). */
  private def kmeansL2(points: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    val dim = points.head.length
    var cents = points.take(k).map(_.clone)
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(j => (sums(c)(j) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** A solved LSH search shape: `tables` independent hyperplane
    * bucketings of `bits` bits each. */
  private[graft] case class LshShape(tables: Int, bits: Int)

  /** Collision probability of ONE random hyperplane bit for a pair at
    * cosine `c` (Goemans–Williamson: 1 − θ/π), clamped into (0.5,
    * 0.995] — hyperplane LSH cannot discriminate below cos 0 and a
    * probability pinned at 1 would make the shape solve degenerate. */
  private def pBit(c: Double): Double =
    math.min(0.995, math.max(0.505,
      1.0 - math.acos(math.min(1.0, math.max(-1.0, c))) / math.Pi))

  /** Density-adaptive LSH shape for [[lshTopK]]'s no-tuning path:
    * solve (tables, bits) against the corpus's MEASURED similarity
    * density instead of assuming one — the same
    * measured-background-similarity discipline
    * [[Dedup.autoMinhashBands]] applies to MinHash banding. A fixed
    * default (the old 8 tables × occupancy bits) is honest only for
    * high-cosine near-dup hunting; on a corpus whose true top-k sit
    * near the background cosine it silently degrades to ~0.2 recall.
    *
    * The solve, from a background cosine `cBg` and a k-th-neighbor
    * cosine `cTrue`:
    *  1. occupancy bits: smallest `bits` holding per-table scored
    *     candidates ≈ n · pBit(cBg)^bits ≤ ~64 (the [[Dedup.autoBits]]
    *     constant, but at the MEASURED background — a 0.35-cosine
    *     corpus collides at 0.61/bit, not the 0.5/bit a random-vector
    *     corpus would);
    *  2. recall tables: smallest `tables` with
    *     1 − (1 − pBit(cTrue)^bits)^tables ≥ `targetRecall`;
    *  3. if that demands > 64 tables, shed bits one at a time and
    *     re-solve — trading per-table candidate volume for per-table
    *     recall until the table budget holds (the correct direction:
    *     fewer bits keeps the scan fraction bound t·pBg^b growing
    *     slowly while per-table recall rises geometrically).
    * When even bits = 2 can't reach the target inside 64 tables, the
    * corpus's neighbors are indistinguishable from its background at
    * hyperplane resolution — the ρ→1 regime where NO lsh shape is
    * sublinear; the solve returns the 64-table shape (best effort)
    * and the scaladoc'd guidance is ivfTopK/pcaTopK, whose quantizers
    * learn the density instead of fighting it. */
  private[graft] def autoLshShape(n: Long, cBg: Double, cTrue: Double,
      k: Int = 5, targetRecall: Double = 0.6): LshShape = {
    val pBg = pBit(cBg)
    val pT = math.max(pBit(cTrue), pBg) // k-th neighbor is never colder than background
    def tablesFor(b: Int): Int = {
      val hit = math.pow(pT, b)
      if (hit >= targetRecall) 1
      else math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - hit)).toInt
    }
    var bits = math.min(16, math.max(2,
      math.ceil(math.log(math.max(n, 1L) / 64.0) / math.log(1.0 / pBg)).toInt))
    while (tablesFor(bits) > 64 && bits > 2) bits -= 1
    LshShape(math.min(64, math.max(4, tablesFor(bits))), bits)
  }

  /** Measure (cBg, cTrue) for [[autoLshShape]] from a bounded
    * deterministic sample: `cap` id-ordered vectors collected to the
    * driver (same device as trainQuantizer — KB-scale, one job),
    * cBg = median pairwise cosine, cTrue = median over the first 64
    * sample vectors of their k-th-highest cosine WITHIN the sample.
    * The within-sample k-th neighbor is conservatively COLD (a 512-row
    * sample of a dense corpus is sparser than the corpus), so the
    * solved shape errs toward more tables — recall above target, never
    * silently below. */
  private[graft] def measureDensity(corpus: DataFrame, vecCol: String,
      idCol: String, k: Int = 5, cap: Int = 512): (Double, Double) = {
    import org.apache.spark.sql.Row
    val vecs: Array[Array[Float]] = corpus
      .select(col(vecCol)).orderBy(col(idCol)).limit(cap)
      .collect().map { case Row(v: scala.collection.Seq[_]) =>
        v.map(_.asInstanceOf[Float]).toArray }
    val m = vecs.length
    require(m >= 2, s"graft: need >= 2 vectors to measure density (got $m)")
    val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    def cos(i: Int, j: Int): Double = {
      var s = 0.0; var d = 0
      while (d < vecs(i).length) { s += vecs(i)(d).toDouble * vecs(j)(d); d += 1 }
      val nn = norms(i) * norms(j)
      if (nn == 0) 0.0 else s / nn
    }
    val all = new scala.collection.mutable.ArrayBuffer[Double](m * (m - 1) / 2)
    for (i <- 0 until m; j <- i + 1 until m) all += cos(i, j)
    val sortedAll = all.toArray.sorted
    val cBg = sortedAll(sortedAll.length / 2)
    val kths = (0 until math.min(64, m)).map { i =>
      val mine = (0 until m).filter(_ != i).map(j => cos(i, j))
        .sorted(Ordering[Double].reverse)
      mine(math.min(k, mine.length) - 1)
    }.sorted
    (cBg, kths(kths.length / 2))
  }

  /** LSH-bucketed ANN: same shape as bruteTopK, approximate.
    *
    * Shape resolution:
    *  - `tables` > 0 and `bits` > 0 — pinned (the dense 24×4
    *    recall/precision contract configurations do this);
    *  - `bits` > 0 alone — pinned width, legacy 8-table union;
    *  - `tables` > 0 alone — occupancy-held width from the corpus
    *    count ([[Dedup.autoBits]]: mean bucket occupancy ~64/table;
    *    one count() UNLESS `rowHint` supplies n);
    *  - both AUTO (the no-tuning default) — DENSITY-ADAPTIVE: the
    *    shape is solved by [[autoLshShape]] from the corpus's measured
    *    background/neighbor cosines, targeting ≥ 0.6 recall at the
    *    measured k-th-neighbor point. Costs one bounded sample job
    *    (plus the count) UNLESS `cosBgHint`/`cosTrueHint` (and
    *    `rowHint`) are supplied — a production pipeline that knows its
    *    density (a prior [[measureDensity]] run, a corpus card) pays
    *    ZERO construction jobs, the NoHiddenScanSpec contract.
    * On a corpus whose neighbors sit AT background similarity, the
    * adaptive solve caps at 64 tables and the honest scale answer is
    * [[ivfTopK]]/[[pcaTopK]] — trained quantizers, not data-oblivious
    * hyperplanes. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int = 5,
      tables: Int = -1, bits: Int = -1, rowHint: Long = -1L,
      targetRecall: Double = 0.6,
      cosBgHint: Double = Double.NaN, cosTrueHint: Double = Double.NaN): DataFrame = {
    val shape: LshShape =
      if (tables > 0 && bits > 0) LshShape(tables, bits)
      else if (bits > 0) LshShape(8, bits)
      else {
        val n = if (rowHint > 0) rowHint else corpus.count()
        if (tables > 0) LshShape(tables, Dedup.autoBits(n))
        else {
          val (cBg, cTrue) =
            if (!cosBgHint.isNaN && !cosTrueHint.isNaN) (cosBgHint, cosTrueHint)
            else measureDensity(corpus, vecCol, idCol, k)
          autoLshShape(n, cBg, cTrue, k, targetRecall)
        }
      }
    val tCount = shape.tables
    val b = shape.bits
    val withSigs = (df: DataFrame, id: String, vec: String) =>
      df.select(col(idCol).as(id), col(vecCol).as(vec),
        explode(array((0 until tCount).map(t =>
          struct(lit(t).as("table"), sig(col(vecCol), b, 1000L + t).as("bucket"))): _*)).as("tb"))
        .select(col(id), col(vec), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    val c = withSigs(corpus, "neighbor_id", "cv")
    val q = withSigs(queries, "query_id", "qv")
    val cand = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .dropDuplicates(Seq("query_id", "neighbor_id"))
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      round(cosine(col("qv"), col("cv")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }
}
