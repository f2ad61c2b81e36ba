package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.plans.{BroadcastCentroids, BroadcastCodebooks, BroadcastSq8, CentroidCosines, CentroidRef, CosineSim, HyperplaneSig, NearestCentroid, PQCosine, PQEncode64, SQ8Cosine, SQ8Encode, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

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

  /** THE pair-scoring kernel of every graph-index build (NN-descent's
    * local join, Dong et al. 2011). `members` is (gids, id, vec), the
    * node `id` belonging to every group in `gids`: each group is
    * streamed inside one task, every pair of distinct ids in it is
    * scored ONCE ([[LocalJoin.cos4]], bit for bit the SQL
    * `round(graft_cosine(a, b), 4)`), and the score goes to BOTH ends'
    * bounded top-k by (cos desc, id asc), deduplicated by neighbour —
    * a pair several groups share counts once. Returns (query_id,
    * neighbor_id, cos, rnk ≤ k), long ids. Two UnsafeRow exchanges:
    * each member once per task that scores one of its groups, then at
    * most k rows per (task, node) — never a pair-sized relation, and
    * no vector reaches the driver. A null gid or id takes no part; a
    * null embedding scores a null cos, ranked after every non-null one
    * (SQL `desc`: nulls last). The exchanges run when this is called. */
  private[operators] def groupTopK(members: DataFrame, k: Int): DataFrame = {
    val spark = members.sparkSession
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def task(g: Column): Column = pmod(hash(g), lit(tasks))
    // a member row per task, keyed by one of that task's groups (hash
    // partitioning by it IS `task`), fans out to its groups after the
    // exchange: a vector crosses it once per task, not once per group
    val grouped = members.filter(col("id").isNotNull)
      .select(filter(col("gids").cast("array<bigint>"), _.isNotNull).as("gids"),
        col("id").cast("long").as("id"), col("vec"))
      .select(explode(array_distinct(transform(col("gids"), task(_)))).as("t"),
        col("gids"), col("id"), col("vec"))
      .select(filter(col("gids"), task(_) === col("t")).as("gids"),
        col("id"), col("vec"))
      .repartition(tasks, array_min(col("gids")))
      .select(explode(col("gids")).as("gid"), col("id"), col("vec"))
      .sortWithinPartitions(col("gid"), col("id"))
    val partial = Bridge.frame(spark, grouped.queryExecution.toRdd
      .mapPartitions(LocalJoin.scoreGroups(_, k)), LocalJoin.PairSchema)
    Bridge.frame(spark, partial.repartition(col("query_id"))
      .queryExecution.toRdd.mapPartitions(LocalJoin.mergeLists(_, k)),
      LocalJoin.TopKSchema)
  }

  /** The executor side of [[groupTopK]]. */
  private[operators] object LocalJoin {
    val PairSchema: StructType = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("cos", DoubleType)))
    val TopKSchema: StructType =
      PairSchema.add(StructField("rnk", LongType, nullable = false))

    /** A null cos's sort key: below every rounded cosine (SQL `desc`
      * puts nulls last, and NaN first as Double.compare does). */
    private val NullCos = Double.NegativeInfinity

    /** round(graft_cosine(a, b), 4) bit for bit: Spark's ROUND on a
      * double is BigDecimal.valueOf(x).setScale(4, HALF_UP). */
    def cos4(a: ArrayData, b: ArrayData): Double =
      if (a == null || b == null) NullCos
      else {
        val c = VectorOps.cosine(a, b)
        if (c.isNaN || c.isInfinite) c
        else java.math.BigDecimal.valueOf(c)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      }

    /** One node's bounded top-k by (cos desc, id asc); an offer equal
      * to a kept entry (same id, same cos) is a duplicate and dropped. */
    final class TopK(k: Int) {
      val cos = new Array[Double](k)
      val ids = new Array[Long](k)
      var size = 0
      def offer(c: Double, id: Long): Unit = {
        var p = size
        while (p > 0 && {
          val o = java.lang.Double.compare(c, cos(p - 1))
          o > 0 || (o == 0 && id < ids(p - 1))
        }) p -= 1
        if (p < k && !(p > 0 && ids(p - 1) == id && cos(p - 1) == c)) {
          val moved = math.min(size, k - 1) - p
          System.arraycopy(cos, p, cos, p + 1, moved)
          System.arraycopy(ids, p, ids, p + 1, moved)
          cos(p) = c
          ids(p) = id
          size = math.min(size + 1, k)
        }
      }
    }

    /** Each list's entries as (query_id, neighbor_id, cos[, rnk]). */
    private def emit(lists: mutable.LongMap[TopK], ranked: Boolean): Iterator[InternalRow] =
      lists.iterator.flatMap { case (q, t) =>
        Iterator.range(0, t.size).map { i =>
          val c = if (t.cos(i) == NullCos) null else t.cos(i)
          new GenericInternalRow(if (ranked) Array[Any](q, t.ids(i), c, i + 1L)
            else Array[Any](q, t.ids(i), c))
        }
      }

    /** Stream (gid, id, vec) rows sorted by (gid, id): score each
      * group's pairs of distinct ids into per-node lists, and emit the
      * task's partial lists. */
    def scoreGroups(in: Iterator[InternalRow], k: Int): Iterator[InternalRow] = {
      val lists = mutable.LongMap.empty[TopK]
      val ids = mutable.ArrayBuffer.empty[Long]
      val vecs = mutable.ArrayBuffer.empty[ArrayData]
      def flush(): Unit = {
        if (ids.length > 1) {
          val tops = ids.map(lists.getOrElseUpdate(_, new TopK(k)))
          for (i <- ids.indices; j <- i + 1 until ids.length) {
            val c = cos4(vecs(i), vecs(j))
            tops(i).offer(c, ids(j))
            tops(j).offer(c, ids(i))
          }
        }
        ids.clear(); vecs.clear()
      }
      var gid = 0L
      in.foreach { r =>
        if (ids.nonEmpty && r.getLong(0) != gid) flush()
        gid = r.getLong(0)
        if (ids.isEmpty || ids.last != r.getLong(1)) { // duplicates are adjacent
          ids += r.getLong(1)
          vecs += (if (r.isNullAt(2)) null else r.getArray(2).copy())
        }
      }
      flush()
      emit(lists, ranked = false)
    }

    /** Merge partial lists into each node's final ranked top-k. */
    def mergeLists(in: Iterator[InternalRow], k: Int): Iterator[InternalRow] = {
      val lists = mutable.LongMap.empty[TopK]
      in.foreach(r => lists.getOrElseUpdate(r.getLong(0), new TopK(k))
        .offer(if (r.isNullAt(2)) NullCos else r.getDouble(2), r.getLong(1)))
      emit(lists, ranked = true)
    }
  }

  /** Directed top-k among nodes that share a block key in ANY of
    * `blockings` (columns over `nodes`): one [[groupTopK]] group per
    * (blocking, key). */
  private def blockedGroups(nodes: DataFrame, vecCol: String,
      idCol: String, k: Int, blockings: Seq[Column]): DataFrame =
    groupTopK(nodes.select(array(blockings.zipWithIndex.map { case (b, i) =>
      b.cast("long") * blockings.length + i }: _*).as("gids"),
      col(idCol).as("id"), col(vecCol).as("vec")), k)

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
    * block key (id mod `blocks`, and id div `blocks` mod `blocks`),
    * one [[groupTopK]] group per (blocking, key): the deliberately
    * approximate, SQL-replayable starting graph NN-descent refines.
    * Two blockings is load-bearing: under ONE, every edge stays in
    * its block, neighbors-of-neighbors never leave it, and NN-descent
    * starts at a (bad) fixed point (measured: one-blocking seed
    * recall@3 = 24%, unchanged after three rounds). Cross-cutting
    * blockings are what multi-table LSH gives a production seed. */
  def blockedTopK(nodes: DataFrame, vecCol: String, idCol: String,
      k: Int = 5, blocks: Int = 4): DataFrame =
    blockedGroups(nodes, vecCol, idCol, k, Seq(pmod(col(idCol), lit(blocks)),
      pmod(expr(s"`$idCol` div $blocks"), lit(blocks))))

  /** One NN-descent refinement round (Dong et al. 2011, WWW — the
    * algorithm behind pynndescent/HNSW-adjacent graph builds): a
    * node's candidates are its neighbors and its NEIGHBORS' NEIGHBORS
    * over the UNDIRECTED current graph (reverse edges are half the
    * signal); each node keeps its top-k of them by rounded cosine.
    * `seed` is any directed (query_id, neighbor_id) graph, e.g.
    * [[blockedTopK]]; an edge may name an id absent from `nodes` (it
    * still links its neighbours to each other); self-loops are
    * ignored.
    *
    * The round is the paper's LOCAL JOIN: one [[groupTopK]] group per
    * node w, its closed neighbourhood w ∪ N(w). A pair shares a group
    * exactly when one is the other's neighbour or both neighbour some
    * w, so the candidates are unchanged, and no candidate-pair
    * relation is built: one aggregation of the edge list by node names
    * each node's groups, and its vector crosses the exchange once per
    * task that scores one of them — O(n·min(tasks, 2k+1)·dim) shuffle
    * and O(n·k²) cosines per round. */
  def nnDescentRound(nodes: DataFrame, seed: DataFrame,
      vecCol: String, idCol: String, k: Int = 3): DataFrame = {
    val e = seed.select(col("query_id").cast("long").as("v"),
      col("neighbor_id").cast("long").as("u"))
    // u's groups besides its own: its undirected neighbours
    val adj = e.union(e.select(col("u").as("v"), col("v").as("u")))
      .groupBy(col("u")).agg(collect_set(col("v")).as("nbrs"))
    groupTopK(nodes.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .join(adj.hint("shuffle_hash"), col("id") === col("u"), "left")
      .select(concat(array(col("id")), coalesce(col("nbrs"),
        typedLit(Array.empty[Long]))).as("gids"), col("id"), col("vec")), k)
  }

  /** How a graph index splits its nodes into shards. Every layout
    * builds through [[buildGraphIndex]] and is stored by
    * [[writeGraphIndex]]; a layout fixes only each node's shard, each
    * shard's size, and what the index keeps beside its edges. */
  sealed trait GraphLayout
  object GraphLayout {
    /** The whole corpus as one shard, plus a ≈√n upper layer whose
      * entry is the index's single entry: searched by
      * [[graphSearchTopKLayered]]. */
    case object OneShard extends GraphLayout

    /** `shards` pmod-of-id shards, one entry each: searched by
      * [[graphSearchTopKSharded]], which probes every shard. */
    final case class Pmod(shards: Int) extends GraphLayout {
      require(shards >= 2,
        s"graft: sharded graph build needs >= 2 shards (got $shards)")
    }

    /** `shards` trained k-means cells — the IVF coarse quantizer
      * reused as the shard assignment — one entry per occupied cell,
      * kept with the cell centroids: searched by
      * [[graphSearchTopKRouted]]. With pmod shards every shard is a
      * uniform random subsample, a query's top-k spreads uniformly and
      * no router can beat probing everything; geometry-aware cells
      * concentrate a query's true neighbours in a few cells, so a
      * search probes only the `w` nearest and its per-query cost is
      * w·beamPerShard·2k, independent of the corpus (the
      * DiskANN/partitioned-HNSW deployment: cluster the corpus, graph
      * per cluster, route by centroid). */
    final case class Cells(shards: Int) extends GraphLayout {
      require(shards >= 2,
        s"graft: routed graph build needs >= 2 shards (got $shards)")
    }
  }

  /** A graph index, built or read from its store: the directed
    * (query_id, neighbor_id) edge list; the upper layer's edge list
    * (one-shard layout only); the local (shard, entry_id) table, one
    * entry per shard; the cell centroids (cells layout only), which
    * the index is only meaningful with; the node count, the degree
    * and the shard count. */
  final case class GraphIndex(graph: DataFrame, upper: Option[DataFrame],
      entries: DataFrame, centroids: Option[Array[Seq[Float]]], n: Long,
      k: Int, shards: Int) {
    /** Shard 0's entry node: where the one-shard index's upper-layer
      * search starts; -1, which no node carries, for the empty index of
      * an empty corpus. `entries` is local, so reading it runs no job. */
    lazy val entry: Long = entries.collect().headOption.fold(-1L)(_.getLong(1))
  }

  /** THE graph-index build, every stage linear in the corpus, for
    * every [[GraphLayout]]:
    *  - seed: each node's top-k among the nodes sharing a seed block
    *    under either of two blockings h ∈ {1, 2}, with block key
    *    offset(shard) + pmod(xxhash64(h, id), blocks(shard)). A shard
    *    of c nodes has blocks = max(4, c / `blockRows`), and its offset
    *    is the block count of the shards before it. So every block
    *    holds ≈`blockRows` rows (O(n·blockRows) seed pairs, never n²),
    *    block keys never collide across shards, and every seed edge
    *    stays inside its shard. Keys are seeded hashes, not id
    *    arithmetic: the 100× replica offsets ids by i·10⁸, and at
    *    n=160k (1250 blocks, which divide 10⁸) `id div blocks mod
    *    blocks` put every node in two blocks, a 6.4-billion-pair block.
    *    A seeded hash is uniform for any id structure, and
    *    deterministic; it is not SQL-replayable, so the capped demo
    *    family keeps [[blockedTopK]];
    *  - refine: `rounds` [[nnDescentRound]]s, O(n·k²) cosines each
    *    ([[refine]]). A round's candidates are neighbours and
    *    neighbours' neighbours, so no round leaves a shard either: one
    *    pass refines every shard at once, with no cross-shard shuffle
    *    mass (d_ann_graph_sharded_recall pins the isolation);
    *  - entries: each shard's smallest id ≥ 10 ([[entriesBy]]);
    *  - one shard only: the upper layer, a uniform ≈√n id-sample
    *    (HNSW's level assignment) with its own exact 4-NN graph — ONE
    *    [[groupTopK]] group, (√n)² = n cosines in one task. The
    *    entry is the smallest upper id ≥ 10 (the smallest upper id if
    *    there is none). Staying off the vec_id < 10 probe set matters:
    *    the search's self-filter empties a query's seed beam when the
    *    query IS the entry (measured: probe query 1 returned no rows
    *    with entry 1);
    *  - cells only: the centroids train on the [[trainQuantizer]]
    *    sample and one Lloyd step (deterministic, a few KB), and one
    *    bounded occupancy aggregate sizes each cell:
    *    under one global block count a cell at c× the average would
    *    carry c² its share of seed pairs. Empty cells are dropped and
    *    the rest renumbered: an empty cell is nobody's argmax, so
    *    dropping it changes no assignment, while keeping it would make
    *    every probe routed there a silent no-op. So entries cover every
    *    stored cell 0..m-1; `shards` is the trained count, and the
    *    index's may be smaller.
    * `n` is the caller's corpus row count (recounting would add a
    * job). An empty corpus (n = 0) builds an empty index: no edges,
    * no entries and, for cells, no centroids. */
  def buildGraphIndex(nodes: DataFrame, vecCol: String, idCol: String,
      n: Long, layout: GraphLayout, k: Int = 8, rounds: Int = 2,
      blockRows: Int = 128): GraphIndex = {
    val id = col(idCol)
    // each node's shard (map-side: no assignment column is shuffled),
    // each shard's size, and the centroids
    val (shardOf, sizes, cents) = layout match {
      case GraphLayout.OneShard => (lit(0), Array(n), None)
      case GraphLayout.Pmod(shards) =>
        (pmod(id, lit(shards)).cast("int"), Array.fill(shards)(n / shards),
          None)
      case GraphLayout.Cells(shards) =>
        val trained = trainQuantizer(nodes, vecCol, idCol, shards, 1)
        val occ = nodes
          .groupBy(nearestCell(col(vecCol), broadcastCentroids(nodes, trained)))
          .count().collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        val cents = occ.map { case (cell, _) => trained(cell) }
        require(cents.length >= 2 || n == 0,
          s"graft: routed graph build collapsed to ${cents.length} " +
            "occupied cell(s) — the corpus cannot support routing; use " +
            "the one-shard or pmod layout")
        (nearestCell(col(vecCol), broadcastCentroids(nodes, cents)),
          occ.map(_._2), Some(cents))
    }
    val blocks = sizes.map(c => math.max(4L, c / blockRows))
    val offsets = blocks.scanLeft(0L)(_ + _)
    val seed = blockedGroups(nodes, vecCol, idCol, k, Seq(1, 2).map(h =>
      typedLit(offsets).getItem(shardOf) +
        pmod(xxhash64(lit(h), id), typedLit(blocks).getItem(shardOf))))
    val graph = refine(nodes, seed, vecCol, idCol, k, rounds)
    val upStep = math.max(2L, math.round(math.sqrt(n.toDouble)))
    val upperNodes = Option.when(layout == GraphLayout.OneShard)(
      nodes.filter(pmod(id, lit(upStep)) === 1))
    val entries = entriesBy(upperNodes.getOrElse(nodes), idCol, shardOf)
    require(upperNodes.isEmpty || n == 0 || entries.collect().nonEmpty, "graft: " +
      s"graph-index upper layer is empty (n=$n, upStep=$upStep) — no id ≡ 1 mod " +
      s"$upStep exists in $idCol")
    val upper = upperNodes.map(u => groupTopK(u.select(array(lit(0L))
      .as("gids"), id.as("id"), col(vecCol).as("vec")), 4)
      .select(col("query_id"), col("neighbor_id")))
    GraphIndex(graph, upper, entries, cents, n, k,
      cents.fold(sizes.length)(_.length))
  }

  /** Each shard's entry node, (shard, entry_id): its smallest id ≥ 10
    * — off the vec_id < 10 probe set ([[buildGraphIndex]]) — or its
    * smallest id if it has none. */
  private def entriesBy(nodes: DataFrame, idCol: String,
      shard: Column): DataFrame =
    localEntries(nodes.groupBy(shard.as("shard")).agg(coalesce(
      min(when(col(idCol) >= 10, col(idCol))), min(col(idCol))).as("entry_id")))

  private val EntrySchema = "shard INT, entry_id BIGINT"

  /** An entry table collected (one job, a row per shard) into a local
    * frame by shard, null shards and entries dropped: reading it later
    * runs no job. */
  private def localEntries(entries: DataFrame): DataFrame =
    entries.sparkSession.createDataFrame(entries
      .select(col("shard").cast("int"), col("entry_id").cast("long"))
      .collect().filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .sortBy(_.getInt(0)).toSeq.asJava, StructType.fromDDL(EntrySchema))

  /** The build loop every graph index shares: the seed, then `rounds`
    * [[nnDescentRound]]s. Nothing is checkpointed: each stage's edge
    * list reads its merge exchange's output, so the next round's two
    * reads of it (one per edge direction) re-merge lists, never
    * re-score pairs, and every plan stays one stage deep. */
  private def refine(nodes: DataFrame, seed: DataFrame, vecCol: String,
      idCol: String, k: Int, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(seed.select(col("query_id"), col("neighbor_id"))) {
      (g, _) => nnDescentRound(nodes, g, vecCol, idCol, k = k)
        .select(col("query_id"), col("neighbor_id"))
    }

  /** Column-metadata key carrying the shape a graph-index store was
    * written with — (k, n, shards, has upper layer, has centroids) — so
    * a search always uses the STORE's own entries, shard count and
    * quantizer instead of trusting the caller to re-specify them
    * identically ([[graft.operators.Dedup.SignatureShapeKey]]'s
    * discipline for the vector index). */
  private[graft] val GraphIndexShapeKey = "graft.graphstore.shape"

  /** Persist a [[GraphIndex]] under `path`: the edge list (graph/) with
    * the shape in its `query_id` column metadata (parquet round-trips
    * field metadata — the [[Dedup.signatureStore]] device), the entry
    * table (entries/), and the upper layer (upper/) and centroids
    * (centroids/) when the layout has them. THE production shape for
    * graph ANN: an index is built once and probed many times, so
    * search/insert/delete/compact paths read the store instead of
    * re-running the O(n·k²) NN-descent per query batch. Storing the
    * centroids with the edges binds a routed index to the exact
    * quantizer that assigned its cells. At 100 TB the edge list is
    * corpus-sized parquet: partition it by shard, so each shard's
    * subgraph is one partition-pruned read. */
  def writeGraphIndex(index: GraphIndex, path: String): Unit = {
    val shape = Seq(index.k, index.n, index.shards, index.upper.isDefined,
      index.centroids.isDefined).mkString(",")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(GraphIndexShapeKey, shape).build()
    index.graph.select(col("query_id").as("query_id", meta), col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$path/graph")
    index.entries.write.mode("overwrite").parquet(s"$path/entries")
    index.upper.foreach(_.write.mode("overwrite").parquet(s"$path/upper"))
    val spark = index.graph.sparkSession
    import spark.implicits._
    index.centroids.foreach(cents => cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.map(_.toFloat)) }.toDF("shard", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids"))
  }

  /** Read a [[writeGraphIndex]] store back. A bare store — no shape
    * metadata on `query_id` — is rejected loudly, never searched with a
    * guessed entry node, shard count or quantizer (searching from a
    * non-upper-layer entry silently returns an empty beam, the worst
    * failure mode: wrong results, no error). So is a centroid table
    * whose shard ids are not exactly 0..shards-1: a truncated centroid
    * read would silently mis-route every query. The parts beside the
    * edge list are read with their known schemas: inferring one is a
    * Spark job each. */
  def readGraphIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): GraphIndex = {
    val g = spark.read.parquet(s"$path/graph")
    val meta = g.schema.find(_.name == "query_id").map(_.metadata)
      .filter(_.contains(GraphIndexShapeKey))
    require(meta.isDefined, "graft: graph-index store carries no shape " +
      "metadata — rebuild it with Similarity.writeGraphIndex, or a " +
      "search would silently start from a guessed entry node, shard " +
      "count or quantizer")
    val Array(k, n, shards, hasUpper, hasCents) =
      meta.get.getString(GraphIndexShapeKey).split(",")
    def part(name: String, schema: String): DataFrame =
      spark.read.schema(schema).parquet(s"$path/$name")
    val cents = Option.when(hasCents.toBoolean) {
      val rows = part("centroids", "shard INT, centroid ARRAY<FLOAT>")
        .orderBy(col("shard")).collect()
      require(rows.length == shards.toInt &&
        rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
        s"graft: graph-index centroid table is not 0..${shards.toInt - 1}")
      rows.map(_.getSeq[Float](1).toSeq)
    }
    GraphIndex(g, Option.when(hasUpper.toBoolean)(
        part("upper", "query_id BIGINT, neighbor_id BIGINT")),
      localEntries(part("entries", EntrySchema)), cents, n.toLong, k.toInt,
      shards.toInt)
  }

  /** Default shard count for the pmod layout: one shard per ≈64k
    * nodes, floor 4 — per-shard build state (seed blocks + NN-descent
    * adjacency) stays bounded however large the corpus, which is the
    * property that lets every executor build its shards without
    * cross-shard traffic. Fan-out cost at search time grows with the
    * shard count (each query carries shards·beamPerShard beam rows) —
    * fine while shards stay in the tens, but since this law grows
    * shards linearly with n, per-query cost is corpus-LINEAR at the
    * 100-TB frame; the scale path for SEARCH is the cells layout:
    * geometry-aware shards + centroid routing make per-query cost
    * corpus-independent. */
  def autoShards(n: Long): Int = math.max(4L, n / 65536L + 1L).toInt

  /** Default shard count for the cells layout: same growth law as
    * [[autoShards]] but floor 12 — routing needs enough cells
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

  /** Per-query shard ROUTE for a routed index ([[GraphLayout.Cells]]): the
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

  /** Search a routed index ([[GraphLayout.Cells]]) within each query's
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

  /** Search a routed index ([[GraphLayout.Cells]]): route each query to
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
    * many times (s_ann_ingest's per-micro-batch inserts, the full
    * store's searches). */
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

  /** Fan-out-and-merge search over a pmod-sharded ([[GraphLayout.Pmod]])
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
    * space (SURVEY §23.1 item 6: n = 200k, nlist = 3125, 56 coarse
    * cells over the fine centroids): routing
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
    * 1.0/0.84 at HALF the shortlist (SURVEY §17 sweep) — the
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
