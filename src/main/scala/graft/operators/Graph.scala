package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics over relations derived from the star schema — the
  * link-style computations a corpus/warehouse engine is asked for once
  * data has identity edges in it (who bought what, who co-supplies
  * what): PageRank centrality and triangle counting.
  *
  * The reference engine exposes its data as joinable Hive tables and
  * leaves iterative graph work to the query layer
  * (hiveka/README.md's join/group-by surface); here each operator IS
  * the Spark-native iterative plan, and — per the repo's oracle
  * convention — every score is ALL-INTEGER fixed-point so a DuckDB
  * replay decides identically (no float damping, no ulp drift across
  * 10 iterations).
  *
  * Scale shapes (100 TB framing):
  *  - PageRank: per-iteration cost is ONE join of the rank table
  *    against the edge list on its partitioning key plus ONE keyed
  *    aggregation — no driver-side state, no collect; the edge list is
  *    persisted and re-partitioned by src ONCE, so all 10 iterations
  *    reuse the same shuffle layout (Exchange reuse; ranks arrive
  *    hash-partitioned by node from the previous groupBy).
  *  - Triangles: the co-supply projection caps each part's supplier
  *    list at [[TriangleCap]] by salted-md5 rank BEFORE pairing, so a
  *    hot part (degree d) contributes at most Cap²/2 pairs instead of
  *    d²/2 — the documented, deterministic degree-capped projection
  *    every production triangle count at this scale uses. Wedge
  *    closure joins stay on (lo, hi) supplier keys.
  */
object Graph {

  /** Fixed-point scale: ranks carry 6 decimal digits (rank 1.0 ≡
    * 1,000,000). Damping 0.85 is applied as (85 * sum) div 100 —
    * BIGINT-exact. Total rank mass is conserved at ~SCALE·|V|, so a
    * per-node rank never exceeds SCALE·|V| < 2^63 for |V| up to ~9e12
    * nodes. */
  private val Scale = 1000000L
  private val Iters = 10

  /** q_pagerank — 10 damped PageRank iterations over the bipartite
    * customer↔part purchase graph (edge = customer ordered part,
    * both directions). Node ids disambiguate by parity:
    * customer → 2·custkey, part → 2·partkey+1.
    *
    * Every node in the edge list has out-degree ≥ 1 (each undirected
    * edge contributes both directions), so there is no dangling-mass
    * term and the node set is stable across iterations. Integer floor
    * division per hop (`rank div outdeg`, then `(85·Σ) div 100`)
    * makes all 10 iterations reproducible bit-for-bit in any engine.
    */
  /** Library entry point: integer fixed-point PageRank over a
    * directed edge list `(src, dst)` where EVERY node must appear as
    * a source (feed both directions for an undirected graph — a
    * dangling node would absorb rank mass and never emit it). The
    * contract is ENFORCED, not just documented: out-degrees are
    * tallied over both edge roles and a node seen only as `dst`
    * raises `graft: pagerank dangling node` from inside the plan on
    * the first action — a contract-violating caller fails loudly
    * instead of receiving silently wrong ranks. Returns
    * (node, rank_fp) at [[Scale]] fixed-point after `iters` damped
    * rounds; all arithmetic is BIGINT (rank div outdeg per hop,
    * (85·Σ) div 100 damping), so reruns and cross-engine replays
    * agree bit-for-bit.
    *
    * `tolFp` ≥ 0 enables early exit: after each round the summed
    * absolute fixed-point rank change Σ|Δrank_fp| is measured (one
    * co-partitioned node-sized join — cheap next to the edge join)
    * and iteration stops once it is ≤ `tolFp`. Because the integer
    * fixed-point map is a contraction up to floor rounding, ranks
    * reach an EXACT fixpoint (Δ = 0) on most graphs within a few
    * dozen rounds — but floor division can also settle into a ±1-unit
    * limit cycle, so callers pinning `tolFp = 0` should keep `iters`
    * as the backstop (it always bounds the round count); a tolerance
    * of a few units per node is immune to the cycle. The default
    * (-1) keeps the fixed-`iters` behavior with no per-round action,
    * which is what the bit-exact oracle replays.
    *
    * Scale shape: the sender's out-degree is attached to the edge
    * row ONCE (no rank⋈degree join per iteration); the edge list is
    * partitioned by src once and every iteration is ONE join + ONE
    * keyed aggregation on that layout, lineage cut every 5 hops. */
  def pagerank(e0: DataFrame, iters: Int = Iters, tolFp: Long = -1L): DataFrame = {
    // Materialize the caller's edge lineage ONCE (r17, guide §1.2):
    // the degree tally consumes `dirs` twice (both roles of the
    // union) and the edge join a third time, so an unmaterialized
    // e0 — q_pagerank feeds join+distinct — re-ran its whole build
    // three times before the first iteration started (measured ~4 s
    // of the key's 12.5 s). Edge-sized, serialized; cut here so every
    // caller benefits.
    val dirs = e0.select(col("src"), col("dst"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    // out-degree tallied over BOTH roles so a dst-only (dangling)
    // node surfaces as outdeg 0 and trips the in-plan guard, instead
    // of vanishing in an inner join; when the contract holds the
    // node set and every outdeg are identical to a src-only tally
    val deg = dirs
      .select(col("src").as("node"), lit(1L).as("is_src"))
      .union(dirs.select(col("dst").as("node"), lit(0L).as("is_src")))
      .groupBy(col("node"))
      .agg(sum(col("is_src")).as("outdeg"))
      // the guard rides the NODE column (not outdeg): every consumer
      // of deg reads the node id, so column pruning can never drop the
      // check the way it would an unused guarded outdeg projection
      .select(
        when(col("outdeg") > 0, col("node"))
          .otherwise(raise_error(concat(
            lit("graft: pagerank dangling node (appears as dst but has " +
              "no out-edges; feed both directions or drop it): "),
            col("node").cast("string")))).as("src"),
        col("outdeg"))
    // deg is node-sized but derives from a checkpointed RDD (no
    // stats), so the planner would SMJ here — shuffling the edge list
    // by src TWICE (join + repartition). Broadcast it explicitly:
    // the repartition below is then the single edge shuffle.
    val edges = dirs.join(broadcast(deg), "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = deg.select(col("src").as("node"), lit(Scale).as("rank_fp"))
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      i += 1
      val next = ranks.as("r")
        .join(edges.as("e"), col("r.node") === col("e.src"))
        .select(col("e.dst").as("node"),
          expr("rank_fp div outdeg").as("c"))
        .groupBy(col("node"))
        .agg(expr("150000L + (85 * sum(c)) div 100").as("rank_fp"))
      // cut the join-tree lineage every 5 hops: the rank table is
      // node-sized (tiny next to edges), and re-planning a deep join
      // tree costs more than materializing it. The convergence check
      // runs an action per round, so it checkpoints every round to
      // keep the delta join from recomputing the whole prefix.
      val mat = if (tolFp >= 0 || i % 5 == 0) next.localCheckpoint(eager = true)
                else next
      if (tolFp >= 0) {
        val delta = mat.as("n")
          .join(ranks.as("p"), col("n.node") === col("p.node"))
          .agg(sum(abs(col("n.rank_fp") - col("p.rank_fp"))).as("d"))
          .first().getLong(0)
        if (delta <= tolFp) converged = true
      }
      ranks = mat
    }
    val out = ranks.localCheckpoint(eager = true)
    edges.unpersist()
    out
  }

  val qPagerank: QueryDef = QueryDef(
    fn = (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .distinct()
      // both directions; parity keeps them disjoint, so union-all is
      // already duplicate-free and no source dangles
      val dirs = e0
        .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      pagerank(dirs)
        .select(
          when(col("node") % 2 === 0, lit("customer")).otherwise(lit("part"))
            .as("node_type"),
          expr("node div 2").as("node_key"),
          col("rank_fp"))
        .orderBy(col("node_type"), col("node_key"))
    },
    oracle = Some {
      val iters = (1 to Iters).map { i =>
        s"""r$i AS (
        SELECT e.dst AS node,
               CAST(150000 + (85 * sum(r.rank_fp // d.outdeg)) // 100 AS BIGINT)
                 AS rank_fp
        FROM r${i - 1} r
        JOIN deg d ON d.src = r.node
        JOIN edges e ON e.src = r.node
        GROUP BY e.dst)"""
      }.mkString(",\n      ")
      s"""
      WITH e0 AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (
        SELECT src, dst FROM e0
        UNION ALL SELECT dst AS src, src AS dst FROM e0),
      deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
      r0 AS (
        SELECT src AS node, CAST(1000000 AS BIGINT) AS rank_fp FROM deg),
      $iters
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'part' END
               AS node_type,
             node // 2 AS node_key, rank_fp
      FROM r$Iters
      ORDER BY node_type, node_key"""
    })

  /** Per-part supplier-list cap for the co-supply projection (see
    * [[qTriangles]]): deterministic salted-md5 rank, so the capped
    * projection is reproducible and the oracle replays it exactly. */
  private val TriangleCap = 64

  /** q_triangles — triangle count per supplier in the WITHIN-NATION
    * co-supply graph (edge = two same-nation suppliers shipped the
    * same part). Degree-capped projection (top-[[TriangleCap]]
    * suppliers per part by salted md5) → distinct (nation, lo, hi)
    * edges → wedge join (lo<mid<hi by key order, nation-equal) →
    * closing-edge join. Each closed triangle credits all three
    * corners; output is (suppkey, n_tri) over suppliers in ≥ 1
    * triangle.
    *
    * The nation restriction is the semantic version of the community
    * scoping every production triangle count applies: an UNSCOPED
    * co-supply projection over a large catalog converges on a
    * near-complete supplier graph whose Θ(|S|³) triangle mass is a
    * property of the data, not the plan (measured: 24 s at sf0.1,
    * FLAT at 10x because the supplier pool is the bounded dim).
    * Within-nation subgraphs keep the edge relation block-diagonal —
    * |S|²/|N| per nation — and the wedge/closing joins key on
    * (nation, supplier pair), so the count parallelizes across
    * nations and survives supplier-pool growth. Pair generation stays
    * bounded at Cap²/2 per part by the salted cap. No windows beyond
    * the capped rank, no driver state.
    */
  /** The within-nation co-supply pair graph shared by [[qTriangles]]
    * and [[qCommunities]]: distinct (nation, lo, hi) supplier pairs
    * after the salted per-part cap. */
  private def coSupplyPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val e0 = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      .distinct()
      .join(broadcast(Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("nk"))),
        col("sk") === col("s_suppkey"))
      .select(col("p"), col("sk"), col("nk"))
    val byPart = e0.withColumn("rk",
      row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("p"))
          .orderBy(md5(concat_ws(":", lit("tri"), col("p"), col("sk"))),
            col("sk"))))
      .filter(col("rk") <= TriangleCap)
      .select(col("p"), col("sk"), col("nk"))
    byPart.as("a")
      .join(byPart.as("b"),
        col("a.p") === col("b.p") && col("a.nk") === col("b.nk") &&
          col("a.sk") < col("b.sk"))
      .select(col("a.nk").as("nk"), col("a.sk").as("x"),
        col("b.sk").as("y"))
      .distinct()
  }

  /** Shared oracle CTEs mirroring [[coSupplyPairs]]. */
  private val coSupplyPairsSql: String = s"""e0 AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS sk, s_nationkey AS nk
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      capped AS (
        SELECT p, sk, nk FROM (
          SELECT p, sk, nk,
                 row_number() OVER (PARTITION BY p
                   ORDER BY md5('tri:' || CAST(p AS VARCHAR) || ':'
                                || CAST(sk AS VARCHAR)), sk) AS rk
          FROM e0) WHERE rk <= $TriangleCap),
      pairs AS (
        SELECT DISTINCT a.nk AS nk, a.sk AS x, b.sk AS y
        FROM capped a JOIN capped b
          ON a.p = b.p AND a.nk = b.nk AND a.sk < b.sk)"""

  val qTriangles: QueryDef = QueryDef(
    fn = (s, dir) => {
      val pairs = coSupplyPairs(s, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val wedges = pairs.as("p1")
        .join(pairs.as("p2"),
          col("p1.nk") === col("p2.nk") && col("p1.y") === col("p2.x"))
        .select(col("p1.nk").as("nk"), col("p1.x").as("x"),
          col("p1.y").as("y"), col("p2.y").as("z"))
      val tri = wedges.as("w")
        .join(pairs.as("p3"),
          col("w.nk") === col("p3.nk") && col("w.x") === col("p3.x") &&
            col("w.z") === col("p3.y"))
        .select(col("w.x").as("x"), col("w.y").as("y"), col("w.z").as("z"))
      val out = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("suppkey"))
        .groupBy(col("suppkey"))
        .agg(count(lit(1)).as("n_tri"))
        .orderBy(col("suppkey"))
        .localCheckpoint(eager = true)
      pairs.unpersist()
      out
    },
    oracle = Some(s"""
      WITH $coSupplyPairsSql,
      tri AS (
        SELECT p1.x, p1.y, p2.y AS z
        FROM pairs p1
        JOIN pairs p2 ON p1.nk = p2.nk AND p1.y = p2.x
        JOIN pairs p3 ON p3.nk = p1.nk AND p3.x = p1.x AND p3.y = p2.y),
      corners AS (
        SELECT x AS suppkey FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      SELECT suppkey, CAST(count(*) AS BIGINT) AS n_tri
      FROM corners GROUP BY suppkey
      ORDER BY suppkey"""))

  /** Per-customer basket cap for the co-purchase projection (same
    * salted-md5 device as [[TriangleCap]]): a whale account's basket
    * pairs are quadratic in its distinct-part count without it. */
  private val BasketCap = 32

  /** q_item_sim — item-item collaborative filtering ("customers who
    * bought X also bought Y"): cosine similarity over the binary
    * customer×part purchase matrix, top-5 neighbors per part.
    * cos(a,b) = n_ab / √(n_a·n_b) is ranked WITHOUT square roots:
    * cos² scaled to ppm, (n_ab²·10⁶) div (n_a·n_b), is
    * order-isomorphic to cos on positives and BIGINT-exact, so both
    * engines rank identically (ties broken by neighbor key).
    *
    * Scale shape: baskets are degree-capped per customer (salted md5,
    * [[BasketCap]]) BEFORE pairing — co-occurrence counts then
    * aggregate with map-side combine on (a, b) pair keys, diluting
    * any hot part across its pair space; the per-part top-5 runs
    * through the two-phase [[Ranking.topKPerGroup]]. Support floor
    * n_ab ≥ 3 prunes the noise tail before ranking. n_a counts are
    * computed on the SAME capped baskets, so the cosine is exact for
    * the projected matrix. */
  val qItemSim: QueryDef = QueryDef(
    fn = (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val bought = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val capped = bought.withColumn("rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("c"))
            .orderBy(md5(concat_ws(":", lit("basket"), col("c"), col("p"))),
              col("p"))))
        .filter(col("rk") <= BasketCap)
        .select(col("c"), col("p"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nPer = capped.groupBy(col("p")).agg(count(lit(1)).as("n"))
      val co = capped.as("a")
        .join(capped.as("b"),
          col("a.c") === col("b.c") && col("a.p") =!= col("b.p"))
        .groupBy(col("a.p").as("p"), col("b.p").as("q"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      val scored = co
        .join(nPer.select(col("p"), col("n").as("n_p")), "p")
        .join(nPer.select(col("p").as("q"), col("n").as("n_q")), "q")
        // n_ab²·10⁶ overflows BIGINT past n_ab ≈ 3.03e6 co-purchasers
        // (Spark would wrap silently where DuckDB errors) — fail
        // loudly at the bound instead; past it, rescale the ppm or
        // move the scoring to DECIMAL
        .withColumn("cos2_ppm",
          when(col("n_ab") > 3037000L,
            raise_error(concat(
              lit("graft: q_item_sim cos² ppm overflows BIGINT at " +
                "n_ab > 3.037e6 (got n_ab="), col("n_ab").cast("string"),
              lit(") — rescale the score or use DECIMAL"))).cast("long"))
            .otherwise(expr("(n_ab * n_ab * 1000000) div (n_p * n_q)")))
      val out = Ranking.topKPerGroup(scored, Seq(col("p")),
          Seq(col("cos2_ppm").desc, col("q")), 5, "rnk")
        .select(col("p"), col("rnk"), col("q"), col("n_ab"), col("cos2_ppm"))
        .orderBy(col("p"), col("rnk"))
        .localCheckpoint(eager = true)
      capped.unpersist()
      out
    },
    oracle = Some(s"""
      WITH bought AS (
        SELECT DISTINCT o_custkey AS c, l_partkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      capped AS (
        SELECT c, p FROM (
          SELECT c, p,
                 row_number() OVER (PARTITION BY c
                   ORDER BY md5('basket:' || CAST(c AS VARCHAR) || ':'
                                || CAST(p AS VARCHAR)), p) AS rk
          FROM bought) WHERE rk <= $BasketCap),
      np AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM capped GROUP BY p),
      co AS (
        SELECT a.p AS p, b.p AS q, CAST(count(*) AS BIGINT) AS n_ab
        FROM capped a JOIN capped b ON a.c = b.c AND a.p <> b.p
        GROUP BY 1, 2 HAVING count(*) >= 3),
      scored AS (
        SELECT co.p, co.q, co.n_ab,
               (co.n_ab * co.n_ab * 1000000) // (np1.n * np2.n) AS cos2_ppm
        FROM co
        JOIN np np1 ON np1.p = co.p
        JOIN np np2 ON np2.p = co.q)
      SELECT p, rnk, q, n_ab, cos2_ppm FROM (
        SELECT p, q, n_ab, cos2_ppm,
               CAST(row_number() OVER (PARTITION BY p
                 ORDER BY cos2_ppm DESC, q) AS BIGINT) AS rnk
        FROM scored) WHERE rnk <= 5
      ORDER BY p, rnk"""))

  private val LpaIters = 5

  /** q_communities — synchronous label propagation (Raghavan et al.
    * 2007) over the within-nation co-supply graph, [[LpaIters]]
    * rounds: every node adopts the MODE of its neighbors' labels,
    * ties to the smallest label — both picked by one integer max of
    * (count, −label), so the propagation is deterministic and
    * engine-replayable (classic LPA breaks ties randomly; a corpus
    * pipeline needs reruns to agree). Labels start as own ids;
    * output is (suppkey, community) after round 5 — fixed-round LPA
    * is the production form (convergence is not guaranteed for
    * synchronous LPA; label oscillation is bounded by the round
    * cap, and the fixed count is what makes the oracle finite).
    *
    * Scale: each round is one edge join + two keyed aggregations
    * (mode = max over (cnt, −lbl) — partial-aggregated, no window);
    * the edge list partitioning is reused across rounds, the label
    * table is node-sized. */
  val qCommunities: QueryDef = QueryDef(
    fn = (s, dir) => {
      val pairs = coSupplyPairs(s, dir)
      val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
        .union(pairs.select(col("y").as("src"), col("x").as("dst")))
        .repartition(col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var labels = edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      for (_ <- 1 to LpaIters) {
        labels = edges.as("e")
          .join(labels.as("l"), col("e.dst") === col("l.node"))
          .groupBy(col("e.src").as("node"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("node"))
          .agg(max(struct(col("cnt"), (lit(0L) - col("lbl")).as("neg")))
            .as("m"))
          .select(col("node"), (lit(0L) - col("m.neg")).as("lbl"))
      }
      val out = labels
        .select(col("node").as("suppkey"), col("lbl").as("community"))
        .orderBy(col("suppkey"))
        .localCheckpoint(eager = true)
      edges.unpersist()
      out
    },
    oracle = Some {
      val iters = (1 to LpaIters).map { i =>
        s"""l$i AS (
        SELECT node, lbl FROM (
          SELECT e.src AS node, l.lbl, count(*) AS cnt,
                 row_number() OVER (PARTITION BY e.src
                   ORDER BY count(*) DESC, l.lbl) AS rn
          FROM edges e JOIN l${i - 1} l ON l.node = e.dst
          GROUP BY e.src, l.lbl) WHERE rn = 1)"""
      }.mkString(",\n      ")
      s"""
      WITH $coSupplyPairsSql,
      edges AS (
        SELECT x AS src, y AS dst FROM pairs
        UNION ALL SELECT y, x FROM pairs),
      l0 AS (
        SELECT DISTINCT src AS node, src AS lbl FROM edges),
      $iters
      SELECT node AS suppkey, CAST(lbl AS BIGINT) AS community
      FROM l$LpaIters
      ORDER BY suppkey"""
    })

  /** BFS round cap: distances beyond this stay unreported. A fixed
    * round count (not run-to-convergence) is what makes the oracle
    * finite and is also the production form for "within k hops"
    * questions — callers wanting full closure loop until a round adds
    * no rows (the count is node-bounded, so the check is cheap). */
  private val BfsRounds = 4

  /** Multi-source BFS as iterated relational min-propagation: `edges`
    * is a DIRECTED (src, dst) list (feed both directions for an
    * undirected graph), `sources` a (node) frame; returns (node, d)
    * for every node within `rounds` hops of a source, d = exact
    * shortest hop distance (min over paths is reached because round k
    * holds the full ≤k-hop ball). Unreached nodes carry no row. Each
    * round is ONE join against the reused edge partitioning + ONE
    * keyed min. */
  def bfs(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    var dist = sources.select(col("node"), lit(0L).as("d"))
    for (_ <- 1 to rounds) {
      // Per-round lineage cut: `dist` feeds TWO consumers each round
      // (the union carry and the join expansion), so without a cut the
      // uncut plan tree doubles per round — the dual-consumer pattern
      // the k-core loop also cuts (a per-round cut measured 9.1->4.5 s
      // on a 600-node beam search). The checkpointed table is node-sized.
      dist = dist.union(
        edges.as("e").join(dist.as("l"), col("e.dst") === col("l.node"))
          .select(col("e.src").as("node"), (col("l.d") + 1).as("d")))
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(eager = true)
    }
    dist
  }

  /** q_shortest_path — BFS shortest hop distances over the customer
    * CO-PURCHASE graph (edge = two customers share ≥2 distinct capped
    * basket parts), from the smallest customer in the edge set:
    * [[BfsRounds]] rounds of [[bfs]] label every node within 4 hops.
    * The host graph matters: the within-nation co-supply graph is
    * 1-hop-complete at every test SF (measured — every distance 0/1,
    * BFS trivially done after one round), while the ≥2-shared-parts
    * co-purchase graph has a real hop spectrum at BOTH SFs (measured
    * nodes at dist 0..4: 1/133/1353/11/0 at sf0.01,
    * 1/17/301/3746/10259 at sf0.1; the ≥3 threshold over-sparsifies
    * at sf0.1 — 2 reachable nodes — because basket overlap dilutes as
    * the part space grows with SF).
    *
    * Scale: basket capping ([[BasketCap]], the same salted-md5 device
    * as [[qItemSim]]) bounds pair generation; the edge list is
    * repartitioned by dst ONCE and persisted; each round is ONE join
    * + ONE keyed min (partial-aggregated, no window); the distance
    * table is node-sized. Unreached nodes carry no row (no infinity
    * sentinel to overflow). */
  /** The co-purchase pair relation (x < y, two customers sharing ≥2
    * distinct capped-basket parts) — the host graph of
    * [[qShortestPath]] and [[qLinkpred]]. */
  private[graft] def coPurchasePairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val bought = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    val capped = bought.withColumn("rk",
      row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("c"))
          .orderBy(md5(concat_ws(":", lit("basket"), col("c"), col("p"))),
            col("p"))))
      .filter(col("rk") <= BasketCap)
      .select(col("c"), col("p"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.p") === col("b.p") && col("a.c") < col("b.c"))
      .groupBy(col("a.c").as("x"), col("b.c").as("y"))
      .agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= 2)
      .select(col("x"), col("y"))
  }

  /** Shared oracle CTEs mirroring [[coPurchasePairs]]. */
  private val coPurchasePairsSql: String = s"""bought AS (
        SELECT DISTINCT o_custkey AS c, l_partkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      capped AS (
        SELECT c, p FROM (
          SELECT c, p,
                 row_number() OVER (PARTITION BY c
                   ORDER BY md5('basket:' || CAST(c AS VARCHAR) || ':'
                                || CAST(p AS VARCHAR)), p) AS rk
          FROM bought) WHERE rk <= $BasketCap),
      pairs AS (
        SELECT a.c AS x, b.c AS y
        FROM capped a JOIN capped b ON a.p = b.p AND a.c < b.c
        GROUP BY 1, 2 HAVING count(*) >= 2)"""

  val qShortestPath: QueryDef = QueryDef(
    fn = (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
        .union(pairs.select(col("y").as("src"), col("x").as("dst")))
        .repartition(col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sources = edges.agg(min(col("src")).as("node"))
      val out = bfs(edges, sources, BfsRounds)
        .select(col("node").as("custkey"), col("d").as("dist"))
        .orderBy(col("custkey"))
        .localCheckpoint(eager = true)
      edges.unpersist()
      out
    },
    oracle = Some {
      val rounds = (1 to BfsRounds).map { i =>
        s"""d$i AS (
        SELECT node, min(d) AS d FROM (
          SELECT node, d FROM d${i - 1}
          UNION ALL
          SELECT e.src AS node, l.d + 1 AS d
          FROM edges e JOIN d${i - 1} l ON l.node = e.dst)
        GROUP BY node)"""
      }.mkString(",\n      ")
      s"""
      WITH $coPurchasePairsSql,
      edges AS MATERIALIZED (
        SELECT x AS src, y AS dst FROM pairs
        UNION ALL SELECT y, x FROM pairs),
      src AS (SELECT min(src) AS node FROM edges),
      d0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM src),
      $rounds
      SELECT node AS custkey, CAST(d AS BIGINT) AS dist
      FROM d$BfsRounds
      ORDER BY custkey"""
    })

  /** Neighbor-list cap for [[qLinkpred]]'s wedge join (salted md5,
    * the [[TriangleCap]]/[[BasketCap]] device): bounds wedge mass at
    * Σ cap² even if a hub node appears at 100×. Never binds at the
    * test SFs (measured max co-purchase degree 31 at sf0.1), so the
    * shipped results are the exact uncapped RA index — the cap is
    * the 100 TB seatbelt, replayed identically by the oracle. */
  private val NeighborCap = 64

  /** q_linkpred — LINK PREDICTION by the Resource-Allocation index
    * (Zhou/Lü/Zhang 2009; the strongest of the classic local indices
    * in their benchmarks): for each NON-adjacent customer pair (a,b)
    * in the co-purchase graph (the [[qShortestPath]] host — the
    * co-supply graph is 1-hop-complete, leaving nothing to predict),
    * RA(a,b) = Σ_{z∈N(a)∩N(b)} 1/deg(z) — common neighbors,
    * discounted by how promiscuous each is. Top-20 predicted links.
    * The 1/deg weight is integer fixed-point (10⁶ div deg, deg ≥ 1
    * by construction) so per-wedge contributions sum order-free and
    * both engines rank identically; ties break on (a, b).
    *
    * Scale shape: baskets are capped before pair generation
    * ([[BasketCap]]) and adjacency lists are capped before wedging
    * ([[NeighborCap]]), so the wedge join a–z–b is bounded by
    * Σ deg(z)² over capped degrees, never Θ(|V|²); candidate scores
    * aggregate with map-side combine on (a,b); known edges leave by
    * ONE anti-join; the global top-20 is a TakeOrdered, not a sort.
    * Degrees ride the capped relation — no second graph pass. */
  val qLinkpred: QueryDef = QueryDef(
    fn = (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val und = pairs.select(col("x").as("u"), col("y").as("v"))
        .union(pairs.select(col("y").as("u"), col("x").as("v")))
      val capped = und.withColumn("rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
            .orderBy(md5(concat_ws(":", lit("nbr"), col("u"), col("v"))),
              col("v"))))
        .filter(col("rk") <= NeighborCap)
        .select(col("u"), col("v"))
      val deg = capped.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val viaZ = capped.select(col("v").as("z"), col("u").as("a"))
      val scored = viaZ.as("e1")
        .join(viaZ.as("e2"),
          col("e1.z") === col("e2.z") && col("e1.a") < col("e2.a"))
        .select(col("e1.a").as("a"), col("e2.a").as("b"),
          col("e1.z").as("z"))
        .join(deg.withColumnRenamed("u", "z"), Seq("z"))
        .groupBy(col("a"), col("b"))
        .agg(sum(expr("1000000 div deg")).as("ra_score"),
          count(lit(1)).as("n_common"))
      val out = scored.join(pairs,
          scored("a") === pairs("x") && scored("b") === pairs("y"),
          "left_anti")
        .orderBy(col("ra_score").desc, col("a"), col("b"))
        .limit(20)
        .localCheckpoint(eager = true)
      pairs.unpersist()
      out
    },
    oracle = Some(s"""
      WITH $coPurchasePairsSql,
      und AS (
        SELECT x AS u, y AS v FROM pairs
        UNION ALL SELECT y, x FROM pairs),
      nbr AS (
        SELECT u, v FROM (
          SELECT u, v,
                 row_number() OVER (PARTITION BY u
                   ORDER BY md5('nbr:' || CAST(u AS VARCHAR) || ':'
                                || CAST(v AS VARCHAR)), v) AS rk
          FROM und) WHERE rk <= $NeighborCap),
      deg AS (SELECT u, count(*) AS deg FROM nbr GROUP BY u),
      scored AS (
        SELECT e1.u AS a, e2.u AS b,
               CAST(sum(1000000 // deg) AS BIGINT) AS ra_score,
               count(*) AS n_common
        FROM nbr e1
        JOIN nbr e2 ON e1.v = e2.v AND e1.u < e2.u
        JOIN deg ON deg.u = e1.v
        GROUP BY e1.u, e2.u)
      SELECT a, b, ra_score, n_common
      FROM scored s
      WHERE NOT EXISTS (
        SELECT 1 FROM pairs p WHERE p.x = s.a AND p.y = s.b)
      ORDER BY ra_score DESC, a, b
      LIMIT 20"""))

  /** Peel-round cap for [[qKcore]]: measured rounds-to-fixpoint are
    * 1/2/3 at the three SFs, so 6 carries 2× headroom; an unconverged
    * graph past the cap raises loudly from the emitted degree column
    * instead of returning a non-core. */
  private val KcoreRounds = 6

  /** q_kcore — K-CORE decomposition (Seidman 1983) of the co-purchase
    * graph by synchronous peeling: drop every node with fewer than k
    * surviving neighbors, recompute, repeat to fixpoint — the
    * standard cohesive-subgraph extraction (spam/bot rings, loyal
    * cores) and the classic iterative-peeling workload. k is
    * DENSITY-RELATIVE, max(2, avg_degree div 2), because this graph's
    * density swings 107→14 avg degree across SFs (measured — any
    * fixed k is degenerate at one end: k=4 peels nothing at sf0.01,
    * above-average k empties every SF); the half-average core keeps
    * 92-99% of nodes with real peeling at every SF (rounds 1/2/3).
    *
    * Scale shape: each round is degree-recompute = TWO semi-joins of
    * the edge list against the alive set + ONE keyed count (no
    * windows), alive checkpointed per round (node-sized); rounds are
    * data-bounded (peeling cascades are shallow on heavy-tailed
    * graphs), capped at [[KcoreRounds]] with a loud non-convergence
    * guard riding the emitted degree column (the qPagerank pruning-
    * proof device). The oracle unrolls all 6 rounds. */
  val qKcore: QueryDef = QueryDef(
    fn = (s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      val und = pairs.select(col("x").as("u"), col("y").as("v"))
        .union(pairs.select(col("y").as("u"), col("x").as("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // k collected ONCE (r17): the old broadcast(kRow) crossJoin
      // re-ran the full-edge-list aggregation inside every round's
      // broadcast build — 6 extra corpus passes for one scalar. Same
      // integer arithmetic as the oracle's (e2 div nv) div 2.
      val kr = und
        .agg(count(lit(1)).as("e2"), countDistinct(col("u")).as("nv"))
        .first()
      val nv = kr.getLong(1)
      // no edges, no nodes: the core is empty whatever k is
      val k = if (nv == 0) 2L else math.max(2L, (kr.getLong(0) / nv) / 2)
      var alive = und.select(col("u")).distinct()
      // Early exit at the peeling fixpoint: alive sets are MONOTONE
      // decreasing (round i+1's keys come from a semi-join against
      // round i's set), so an unchanged COUNT means an unchanged SET,
      // and every later round is the identity — the oracle's fixed
      // 6-round unroll produces the same rows. The count reads the
      // just-checkpointed node-sized RDD (trivial job); peeling
      // converges in 1-3 rounds at every measured SF, so this skips
      // 2-4 full-edge-list semi-join rounds — the same rounds saved
      // at 100 TB, where each one is two corpus-sized semi-joins.
      // aliveCount seeds with nv = |alive_0| (previously -1), so a
      // graph whose first peel drops nobody exits after round 1
      // instead of paying a confirmation round — same rows either way.
      var aliveCount = nv
      var fixed = false
      // r17 (VERDICT item 4): the edge list SHRINKS as nodes die —
      // semi-join survivors once per round and keep peeling over the
      // shrunk list instead of re-probing the full list every round.
      // Monotonicity makes this exact: liveE after round i equals
      // und ∩ (alive_i × alive_i), and filtering that by a LATER
      // (smaller) alive set gives the same rows as filtering und
      // itself. Materializing the shrunk list costs one edge-sized
      // pass, so it is gated on the alive set actually dropping
      // (>20% in the round) — at sf0.1 peeling keeps 92-99% of nodes
      // and the gate stays closed (no new local cost); at 100x the
      // denser graph peels deeper and each later round reads the
      // smaller list.
      var liveE = und
      for (_ <- 1 to KcoreRounds if !fixed) {
        val deg = liveE
          .join(alive, Seq("u"), "left_semi")
          .join(alive.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .groupBy(col("u")).agg(count(lit(1)).as("deg"))
        alive = deg
          .filter(col("deg") >= lit(k))
          .select(col("u"))
          .localCheckpoint(eager = true)
        val c = alive.count()
        fixed = c == aliveCount
        if (!fixed && c * 5 <= aliveCount * 4) {
          liveE = liveE
            .join(alive, Seq("u"), "left_semi")
            .join(alive.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
            .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
        }
        aliveCount = c
      }
      val finalDeg = liveE
        .join(alive, Seq("u"), "left_semi")
        .join(alive.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val out = finalDeg
        .select(col("u").as("custkey"),
          when(col("deg") >= lit(k), col("deg"))
            .otherwise(raise_error(concat(
              lit(s"graft: q_kcore not converged after $KcoreRounds " +
                "peel rounds (raise KcoreRounds): node "),
              col("u").cast("string")))).as("core_deg"),
          lit(k).as("k"))
        .orderBy(col("custkey"))
        .localCheckpoint(eager = true)
      und.unpersist()
      out
    },
    oracle = Some {
      val rounds = (1 to KcoreRounds).map { i =>
        s"""d$i AS (
        SELECT e.u, count(*) AS deg
        FROM und e
        JOIN a${i - 1} x ON e.u = x.u
        JOIN a${i - 1} y ON e.v = y.u
        GROUP BY e.u),
      a$i AS (SELECT u FROM d$i CROSS JOIN kk WHERE deg >= k)"""
      }.mkString(",\n      ")
      s"""
      WITH $coPurchasePairsSql,
      und AS MATERIALIZED (
        SELECT x AS u, y AS v FROM pairs
        UNION ALL SELECT y, x FROM pairs),
      kk AS (
        SELECT greatest(2, (count(*) // count(DISTINCT u)) // 2) AS k
        FROM und),
      a0 AS (SELECT DISTINCT u FROM und),
      $rounds,
      fin AS (
        SELECT e.u, count(*) AS deg
        FROM und e
        JOIN a$KcoreRounds x ON e.u = x.u
        JOIN a$KcoreRounds y ON e.v = y.u
        GROUP BY e.u)
      SELECT u AS custkey, CAST(deg AS BIGINT) AS core_deg,
             CAST(k AS BIGINT) AS k
      FROM fin CROSS JOIN kk
      ORDER BY custkey"""
    })

  /** q_basket_rules — market-basket ASSOCIATION RULES (Agrawal/
    * Srikant's Apriori surface, 2-itemsets): for part pairs
    * co-occurring in ≥2 order baskets, support / confidence / lift in
    * integer ppm — the "customers who buy A buy B" rule mining that
    * complements [[qItemSim]]'s similarity ranking with the
    * PROBABILISTIC reading (lift > 1e6 ⇔ positive association).
    * Baskets are orders (naturally bounded at TPC-H's ~7 lines), so
    * pair generation is Σ basket² — order-local, no cap needed where
    * [[qItemSim]]'s customer baskets did; co-occurrence aggregates
    * with map-side combine on (a,b); the basket count rides ONE
    * 1-row broadcast. lift = 10⁶·n_ab·N div (n_a·n_b) stays exact in
    * BIGINT while n_ab·N ≤ 9.2·10¹² — a row beyond that raises
    * loudly rather than mis-ranking (switch to the two-step division
    * past that scale). Top-20 rules by (lift desc, a, b) via
    * TakeOrdered. */
  val qBasketRules: QueryDef = QueryDef(
    fn = (s, dir) => {
      val bought = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val nBaskets = bought.select(col("o")).distinct()
        .agg(count(lit(1)).as("n_total"))
      val itemCnt = bought.groupBy(col("p"))
        .agg(count(lit(1)).as("n_item"))
      val pairs = bought.as("a")
        .join(bought.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      pairs
        .join(itemCnt.withColumnRenamed("p", "pa")
          .withColumnRenamed("n_item", "n_a"), Seq("pa"))
        .join(itemCnt.withColumnRenamed("p", "pb")
          .withColumnRenamed("n_item", "n_b"), Seq("pb"))
        .crossJoin(broadcast(nBaskets))
        // the guard rides the emitted lift column itself (the
        // qPagerank discipline — a dropped side-column guard would be
        // pruned away with the check it carries)
        .select(col("pa"), col("pb"), col("n_ab"),
          expr("1000000 * n_ab div n_total").as("support_ppm"),
          expr("1000000 * n_ab div n_a").as("conf_ppm"),
          when(col("n_ab") * col("n_total") > lit(9200000000000L),
            raise_error(lit("graft: q_basket_rules lift would overflow " +
              "BIGINT (n_ab*N > 9.2e12) - use two-step division"))
              .cast("long"))
            .otherwise(expr("(1000000 * n_ab * n_total) div (n_a * n_b)"))
            .as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("pa"), col("pb"))
        .limit(20)
    },
    oracle = Some("""
      WITH bought AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      nb AS (SELECT count(DISTINCT o) AS n_total FROM bought),
      item AS (SELECT p, count(*) AS n_item FROM bought GROUP BY p),
      pairs AS (
        SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
        FROM bought a JOIN bought b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING count(*) >= 2)
      SELECT pa, pb, n_ab,
             1000000 * n_ab // n_total AS support_ppm,
             1000000 * n_ab // ia.n_item AS conf_ppm,
             (1000000 * n_ab * n_total) // (ia.n_item * ib.n_item)
               AS lift_ppm
      FROM pairs
      JOIN item ia ON ia.p = pa
      JOIN item ib ON ib.p = pb
      CROSS JOIN nb
      ORDER BY lift_ppm DESC, pa, pb
      LIMIT 20"""))

  val defs: Map[String, QueryDef] = Map(
    "q_pagerank" -> qPagerank,
    "q_basket_rules" -> qBasketRules,
    "q_kcore" -> qKcore,
    "q_triangles" -> qTriangles,
    "q_item_sim" -> qItemSim,
    "q_shortest_path" -> qShortestPath,
    "q_linkpred" -> qLinkpred,
    "q_communities" -> qCommunities)
}
