package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Graph-analytics operators: integer-fixed-point invariants and
  * brute-force cross-checks on sf0.001. */
class GraphSpec extends SparkSpec {

  test("q_pagerank: rank mass is conserved up to integer-floor loss") {
    val out = Graph.qPagerank.fn(spark, sf)
    val agg = out.agg(
      count(lit(1)).as("n"),
      sum(col("rank_fp")).as("mass"),
      min(col("rank_fp")).as("lo")).collect()(0)
    val n = agg.getLong(0)
    val mass = agg.getLong(1)
    assert(n > 0)
    // every iteration floors twice per node (contrib div, damping
    // div), so total mass can only LEAK, never grow, and the leak is
    // bounded by iterations * nodes * (max outdeg + 100) floor loss —
    // loose bound: within 2% of the invariant Scale * n.
    assert(mass <= 1000000L * n, s"mass grew: $mass vs ${1000000L * n}")
    assert(mass >= (1000000L * n * 98) / 100, s"mass leaked >2%: $mass")
    // damping floor: every node keeps at least the teleport term
    assert(agg.getLong(2) >= 150000L)
  }

  test("q_pagerank: node set equals the bipartite endpoints, ids decoded") {
    val out = Graph.qPagerank.fn(spark, sf).cache()
    val nCust = out.filter(col("node_type") === "customer").count()
    val nPart = out.filter(col("node_type") === "part").count()
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    val expCust = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey")).distinct().count()
    val expPart = li.select(col("l_partkey")).distinct().count()
    assert(nCust === expCust)
    assert(nPart === expPart)
    out.unpersist()
    ()
  }

  test("q_triangles agrees with a brute-force recount") {
    // sf0.01: sf0.001's ~10 suppliers spread over 25 nations leave the
    // within-nation graph triangle-free — trivially true, so recount
    // at the first SF with real within-nation structure
    val sf01 = "/root/testdata/sf0.01"
    val out = Graph.qTriangles.fn(spark, sf01)
    val total3 = out.agg(coalesce(sum(col("n_tri")), lit(0L)))
      .collect()(0).getLong(0)
    assert(total3 > 0, "expected a non-trivial triangle count at sf0.01")
    // brute force: rebuild the capped pair set and count closed
    // triples directly (each triangle counted once via x<y<z).
    val e0 = Tables.load(spark, sf01, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      .distinct()
      .join(Tables.load(spark, sf01, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("nk")),
        col("sk") === col("s_suppkey"))
      .select(col("p"), col("sk"), col("nk"))
    val capped = e0.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("p"))
          .orderBy(md5(concat_ws(":", lit("tri"), col("p"), col("sk"))),
            col("sk"))))
      .filter(col("rk") <= 64).select("p", "sk", "nk")
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.p") === col("b.p") && col("a.nk") === col("b.nk") &&
          col("a.sk") < col("b.sk"))
      .select(col("a.sk").as("x"), col("b.sk").as("y")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    var brute = 0L
    for (Seq(a, b, c) <- nodes.combinations(3)
         if pairs((a, b)) && pairs((b, c)) && pairs((a, c)))
      brute += 1
    assert(total3 === brute * 3, s"corner-credit total $total3 vs 3x$brute")
  }

  test("pagerank plan: edge list is built once and the scan is pruned") {
    val out = Graph.qPagerank.fn(spark, sf)
    assert(out.count() > 0) // materializes through the localCheckpoint
  }

  test("q_item_sim: cosine ranking is symmetric-consistent and support-floored") {
    val sf01 = "/root/testdata/sf0.01"
    val out = Graph.qItemSim.fn(spark, sf01).cache()
    assert(out.count() > 0)
    assert(out.filter(col("n_ab") < 3).count() === 0)
    // rank is 1..k per part and cos2 is non-increasing within a part
    val bad = out.selectExpr("p", "rnk", "cos2_ppm",
        "lag(cos2_ppm) OVER (PARTITION BY p ORDER BY rnk) AS prev")
      .filter(col("prev").isNotNull && col("prev") < col("cos2_ppm"))
    assert(bad.count() === 0)
    // cos^2 is bounded by 1e6 ppm
    assert(out.filter(col("cos2_ppm") > 1000000L).count() === 0)
    out.unpersist()
    ()
  }

  test("q_communities: labels are node ids and nations never mix") {
    val sf01 = "/root/testdata/sf0.01"
    val out = Graph.qCommunities.fn(spark, sf01).cache()
    assert(out.count() > 0)
    // a community label is always some member node's id
    val nodes = out.select(col("suppkey")).collect().map(_.getLong(0)).toSet
    val lbls = out.select(col("community")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(lbls.subsetOf(nodes))
    // co-supply edges are within-nation, so communities cannot span nations
    val sup = Tables.load(spark, sf01, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val mixed = out.join(sup, col("suppkey") === col("s_suppkey"))
      .groupBy(col("community"))
      .agg(countDistinct(col("s_nationkey")).as("k"))
      .filter(col("k") > 1)
    assert(mixed.count() === 0)
    out.unpersist()
    ()
  }

  test("pagerank matches a hand-computed fixed-point iteration on a known graph") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4 attached to 1, undirected
    val und = Seq((1L,2L),(2L,3L),(1L,3L),(1L,4L))
    val edges = (und ++ und.map(e => (e._2, e._1))).toDF("src", "dst")
    val got = Graph.pagerank(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independently derived fixed point (hand-walked recurrence,
    // cross-checked by a python replay of the integer arithmetic):
    // degrees 1:3, 2:2, 3:2, 4:1; three damped rounds
    val want = Map(1L -> 1606153L, 2L -> 945131L, 3L -> 945131L,
      4L -> 503575L)
    assert(got === want)
    // the hub (node 1, degree 3) must outrank the pendant (node 4)
    assert(got(1L) > got(4L))
  }

  test("pagerank degree table joins co-partitioned after the one edge shuffle, never broadcast") {
    import spark.implicits._
    val und = Seq((1L,2L),(2L,3L),(1L,3L),(1L,4L))
    val dirs = (und ++ und.map(e => (e._2, e._1))).toDF("src", "dst")
    val edges = Graph.degreeEdges(dirs, Graph.outDegrees(dirs))
    val deg = Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L)
    assert(edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      (und ++ und.map(e => (e._2, e._1))).map(e => (e._1, e._2, deg(e._1))).toSet)
    val plan = edges.queryExecution.executedPlan.toString
    val finalPlan = plan.substring(plan.indexOf("== Final Plan =="),
      plan.indexOf("== Initial Plan =="))
    assert(!plan.contains("BroadcastExchange"), plan)
    assert(finalPlan.contains("ShuffledHashJoin"), plan)
    // three exchanges: the edges ONCE (the repartition by src), the
    // degree tally, and the tally to the edges' partitioning
    assert("REPARTITION_BY_COL".r.findAllIn(finalPlan).length === 1, plan)
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).length === 3, plan)
  }

  test("pagerank early exit: converged result equals the fixed-iteration one") {
    import spark.implicits._
    val und = Seq((1L,2L),(2L,3L),(1L,3L),(1L,4L))
    val edges = (und ++ und.map(e => (e._2, e._1))).toDF("src", "dst")
    // a generous iteration budget with a small tolerance must land on
    // the same integer fixed point the full budget computes — the
    // early exit may only skip converged rounds, never change ranks
    val full = Graph.pagerank(edges, iters = 60).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val early = Graph.pagerank(edges, iters = 60, tolFp = 4L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // tolFp=4 over 4 nodes: once per-round movement is ≤1 unit/node
    // the integer recurrence has settled (floor arithmetic can hold a
    // ±1 limit cycle, so ranks agree within 1 unit per node)
    assert(full.keySet === early.keySet)
    full.foreach { case (n, r) =>
      assert(math.abs(r - early(n)) <= 1L, s"node $n: $r vs ${early(n)}")
    }
  }

  test("pagerank raises loudly on a dangling node instead of leaking its mass") {
    import spark.implicits._
    // node 3 appears only as dst — the documented contract violation
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val e = intercept[Exception] {
      Graph.pagerank(edges, iters = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("pagerank dangling node")),
      s"wrong failure: ${messages(e).mkString(" | ")}")
  }

  test("bfs: exact hop distances on a known graph, horizon respected, min over paths") {
    import spark.implicits._
    // path 1-2-3-4-5-6 plus a shortcut 1-4: dist(4) must take the
    // shortcut (1, not 3), node 6 sits at distance 3 via 4-5-6
    val undirected = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 4L))
    val edges = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val sources = Seq(1L).toDF("node")
    val got4 = Graph.bfs(edges, sources, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got4 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L, 6L -> 3L))
    // horizon: with 1 round only the direct neighbors appear
    val got1 = Graph.bfs(edges, sources, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 === Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
    // multi-source: a second source re-floors distances around it
    val got2src = Graph.bfs(edges, Seq(1L, 6L).toDF("node"), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2src(5L) === 1L && got2src(6L) === 0L && got2src(3L) === 2L)
  }

  test("bfs: per-round lineage cut is value-identical to the uncut loop at deep rounds") {
    import spark.implicits._
    // a 12-hop chain at rounds = 12 — the depth where the UNCUT
    // dual-consumer loop's plan tree would have doubled 12 times;
    // bfs (cut) must equal the same loop over plain Scala maps exactly
    val chain = (1L to 12L).map(i => (i, i + 1))
    val pairs = chain ++ chain.map(_.swap)
    val edges = pairs.toDF("src", "dst")
    val sources = Seq(1L).toDF("node")
    // each round: dist ∪ {(src, d + 1) | (src, dst) an edge, dst in
    // dist}, keeping each node's minimum d
    val want = (1 to 12).foldLeft(Map(1L -> 0L)) { (dist, _) =>
      (dist.toSeq ++ pairs.collect { case (src, dst) if dist.contains(dst) =>
        src -> (dist(dst) + 1) }).groupMapReduce(_._1)(_._2)(math.min)
    }
    val got = Graph.bfs(edges, sources, rounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got === (1L to 13L).map(i => i -> (i - 1)).toMap)
  }
}
