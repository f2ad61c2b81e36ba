package graft

import graft.operators.{Graph, Relational}
import org.apache.spark.sql.functions._

/** Unit seams for the wave-3 relational operators: rolling distinct
  * (interval algebra vs the brute definition), deterministic mode,
  * unpivot round-trip, and RA link-prediction invariants. */
class RelationalOpsSpec extends SparkSpec {

  test("rollingDistinct == brute range-join definition, islands and gaps") {
    import spark.implicits._
    // id 1: two islands under win=3 (gap 10-3 > 2); id 2: contiguous
    // run; id 3: single day. Every merge/boundary case in one relation.
    val active = Seq(
      (1L, 1L), (1L, 3L), (1L, 10L),
      (2L, 2L), (2L, 3L), (2L, 4L), (2L, 5L),
      (3L, 7L)).toDF("id", "d")
    val got = Relational.rollingDistinct(active, "id", "d", 3)
      .orderBy("day").collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (1L to 10L).map { day =>
      day -> Seq(
        (1L, Seq(1L, 3L, 10L)), (2L, Seq(2L, 3L, 4L, 5L)), (3L, Seq(7L)))
        .count { case (_, ds) => ds.exists(x => x >= day - 2 && x <= day) }
        .toLong
    }
    assert(got.toSeq === brute)
  }

  test("q_mode picks the max count with lexicographic tie-break") {
    val out = Relational.qMode.fn(spark, sf).collect()
    assert(out.nonEmpty)
    // re-derive counts independently and check each emitted mode row
    val counts = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    for (r <- out) {
      val seg = r.getString(0)
      val best = counts.filter(_._1 == seg)
        .sortBy { case (_, pri, n) => (-n, pri) }.head
      assert((r.getString(1), r.getLong(2)) === ((best._2, best._3)),
        s"wrong mode for segment $seg")
    }
  }

  test("q_unpivot is the exact melt of the wide aggregate") {
    val long = Relational.qUnpivot.fn(spark, sf).collect()
    assert(long.length % 3 === 0)
    val byNation = long.groupBy(_.getString(0))
    assert(byNation.values.forall(_.map(_.getString(1)).toSet ===
      Set("n_customers", "sum_acctbal", "max_acctbal")))
    // n_customers leg must equal an independent count
    val nCust = Tables.load(spark, sf, "customer")
      .join(Tables.load(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    for (r <- long if r.getString(1) == "n_customers")
      assert(r.getDouble(2) === nCust(r.getString(0)))
  }

  test("q_scd2_asof: one bracketing interval per active user, consistent with the full table") {
    val T = 1705276800000L
    val asof = Relational.qScd2Asof.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(asof.nonEmpty)
    assert(asof.map(_._1).distinct.length === asof.length,
      "a user returned two as-of states")
    for ((_, _, from, to) <- asof) {
      assert(from <= T)
      assert(to.forall(_ > T))
    }
    // the as-of slice must be exactly the bracketing rows of q_scd2
    val full = Relational.qScd2.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val expect = full.filter { case (_, _, f, t2) =>
      f <= T && t2.forall(_ > T) }.toSet
    assert(asof.toSet === expect)
  }

  test("q_rolling_median equals a brute trailing-week replay") {
    val got = Relational.qRollingMedian.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val cnt = Tables.load(spark, sf, "events")
      .selectExpr("event_type", "(ts div 1000) div 86400000000 as day")
      .groupBy("event_type", "day").count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((et, day, n, med) <- got) {
      val trail = cnt.filter(c => c._1 == et && c._2 >= day - 6 && c._2 <= day)
        .sortBy(c => (c._3, c._2)).map(_._3)
      assert(trail.nonEmpty)
      assert(n === cnt.find(c => c._1 == et && c._2 == day).get._3)
      assert(med === trail((trail.length + 1) / 2 - 1),
        s"median mismatch at ($et, $day)")
    }
  }

  test("q_kcore equals a brute peel-to-fixpoint replay") {
    val got = Graph.qKcore.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val edges = Graph.coPurchasePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    for ((x, y) <- edges) { adj(x) = adj(x) + y; adj(y) = adj(y) + x }
    val v = adj.size.toLong
    val e2 = 2L * edges.length
    val k = math.max(2L, (e2 / v) / 2)
    var alive = adj.keySet.toSet
    var changed = true
    while (changed) {
      val drop = alive.filter(n => (adj(n) & alive).size < k)
      changed = drop.nonEmpty
      alive = alive -- drop
    }
    val expect = alive.map(n => (n, (adj(n) & alive).size.toLong, k))
    assert(got.toSet === expect)
    assert(got.head._3 === k)
  }

  test("q_kcore on an empty edge set returns no core") {
    // no lineitem rows: no co-purchase pairs, so no node and no edge
    val dir = java.nio.file.Files.createTempDirectory("graft_kcore_empty").toString
    for (t <- Seq("lineitem", "orders"))
      Tables.load(spark, sf, t).limit(0).write.parquet(s"$dir/$t.parquet")
    try assert(Graph.qKcore.fn(spark, dir).collect().isEmpty)
    finally deleteRecursively(new java.io.File(dir))
  }

  test("q_linkpred: non-adjacent, score-bounded, descending top-20") {
    val rows = Graph.qLinkpred.fn(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val scores = rows.map(_.getLong(2))
    assert(scores.sameElements(scores.sortBy(-_)), "not score-descending")
    val adj = Graph.coPurchasePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (r <- rows) {
      val (a, b, ra, nc) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(a < b)
      assert(!adj.contains((a, b)), s"predicted an existing edge ($a,$b)")
      assert(nc >= 1 && ra > 0 && ra <= 1000000L * nc,
        s"RA bound violated for ($a,$b): ra=$ra n_common=$nc")
    }
  }

  test("q_growth: deltas telescope, first weeks are null, negative growth uses the sign-split") {
    val out = Relational.qGrowth.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    val byP = out.groupBy(_._1)
    byP.values.foreach { rows =>
      val s = rows.sortBy(_._2)
      // first observed week has no prior -> null delta and ppm
      assert(s.head._4.isEmpty && s.head._5.isEmpty)
      // every later delta telescopes against the previous revenue
      s.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4.contains(b._3 - a._3),
            s"delta mismatch at ${b._1}/${b._2}")
          val d = b._3 - a._3
          val expect =
            if (d >= 0) d * 1000000L / a._3
            else -((-d) * 1000000L / a._3)
          assert(b._5.contains(expect), s"ppm mismatch at ${b._1}/${b._2}")
        case _ => ()
      }
    }
    // the sign-split branch is actually exercised
    assert(out.exists(_._4.exists(_ < 0)), "no negative week-over-week delta")
    assert(out.exists(_._5.exists(_ < 0)))
  }

  test("q_skyline equals the brute NOT-EXISTS dominance definition") {
    val out = Relational.qSkyline.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val parts = Tables.load(spark, sf, "part")
      .select(col("p_partkey"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("cents"),
        col("p_size").cast("long").as("size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominates(a: (Long, Long, Long), b: (Long, Long, Long)) =
      a._2 <= b._2 && a._3 >= b._3 && (a._2 < b._2 || a._3 > b._3)
    val brute = parts.filter(p => !parts.exists(q => dominates(q, p)))
      .map(p => (p._1, p._2, p._3)).toSet
    assert(out.map(r => (r._1, r._2, r._3)).toSet === brute,
      "sweep skyline must equal the brute dominance definition")
    // dominated counts are the exact strict-dominance tallies
    for (s <- out) {
      val n = parts.count(p => dominates((s._1, s._2, s._3), p)).toLong
      assert(s._4 === n, s"point ${s._1}: n_dominated ${s._4} != brute $n")
    }
    // skyline points never dominate each other
    for (a <- out; b <- out if a != b)
      assert(!dominates((a._1, a._2, a._3), (b._1, b._2, b._3)))
  }

  test("q_theta_sketch: every estimate within bound; small sets exact below capacity") {
    val rows = Relational.qThetaSketch.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.map(_._1).sorted.toSeq ===
      Seq("a", "b", "intersect", "union"))
    assert(rows.forall(_._5), s"estimate out of bound: $rows")
    // at sf0.001 every distinct-customer set is under the k=1024
    // capacity, so the KMV sketches hold the FULL sets: estimates
    // must be exact, not merely within bound
    for ((m, est, exact, err, _) <- rows if exact <= 1024) {
      assert(est === exact, s"$m: sub-capacity sketch must be exact")
      assert(err === 0L)
    }
    // set algebra sanity against the exact columns
    val ex = rows.map(r => r._1 -> r._3).toMap
    assert(ex("a") + ex("b") === ex("union") + ex("intersect"),
      "inclusion-exclusion must hold on the exact counts")
  }

  test("q_concurrency: sweep equals brute per-day interval counting") {
    val out = Relational.qConcurrency.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val iv = Tables.load(spark, sf, "lineitem")
      .select(
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
          .as("s"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000" +
          " + 1 + (l_orderkey * 7 + l_linenumber) % 28").as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute: active(day) = intervals with s <= day <= e
    for ((day, _, _, active) <- out.take(50) ++ out.takeRight(50)) {
      val brute = iv.count { case (st, en) => st <= day && day <= en }.toLong
      assert(active === brute, s"day $day: active $active != brute $brute")
    }
    // active never negative, and returns to zero after the last end
    assert(out.forall(_._4 >= 0))
    assert(out.last._4 === 0L, "sweep must close every interval")
  }
}
