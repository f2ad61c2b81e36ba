package graft.operators

import graft.{QueryDef, Tables}
import graft.plans.BloomMightContain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Bridge

/** The relational query surface of the reference (README.md "joins,
  * group by"; TODO.md select/count/projection) expressed as idiomatic
  * DataFrame plans over the star schema, at TPC-H-query complexity.
  *
  * Scale notes: dimension joins (`region nation supplier part customer`)
  * are broadcast — the fact table is never shuffled for a small dim;
  * aggregates rely on Catalyst's partial (map-side) aggregation; all
  * float aggregates are rounded identically on both the Spark and the
  * DuckDB oracle side so value hashes compare exactly.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** TPC-H Q1-style pricing summary: scan + filter + 8-way aggregate. */
  val q1Agg: QueryDef = QueryDef(
    fn = (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    oracle = Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice), 4) AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
             round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** TPC-H Q3-style shipping priority: 3-way join + agg + top-N. */
  val q3Shipping: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
      // No broadcast hint on customer: it scales with SF (≈TBs at 100 TB),
      // so a forced broadcast OOMs at scale. AQE broadcasts it at small SF
      // anyway and falls back to shuffle joins when it grows.
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    oracle = Some("""
      SELECT l_orderkey,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING'
        AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate  > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""))

  /** TPC-H Q5-style local supplier volume: 6-way join + agg. */
  val q5Local: QueryDef = QueryDef(
    fn = (s, dir) => {
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1994-01-01")) &&
                col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val li = t(s, dir, "lineitem")
      // customer/supplier scale with SF → no broadcast hint (AQE decides);
      // nation/region are bounded dims → explicit broadcast stays.
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp,
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    oracle = Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1994-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""))

  /** Window function: top-3 orders per customer by total price. */
  val qTopnWindow: QueryDef = QueryDef(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        // long, not Spark's int: DuckDB rank() is BIGINT and the driver
        // hash is integer-width-sensitive
        .withColumn("rnk", rank().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("rnk"))
        .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rnk
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   rank() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders)
      WHERE rnk <= 3
      ORDER BY o_custkey, rnk, o_orderkey"""))

  /** Rollup aggregation with grouping id (nulls-first ordering pinned). */
  val qRollup: QueryDef = QueryDef(
    fn = (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
             count(lit(1)).as("n"),
             grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first),
    oracle = Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 4) AS sum_qty,
             count(*) AS n,
             GROUPING(l_returnflag, l_linestatus) AS gid
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  /** Cube aggregation over order status/priority. */
  val qCube: QueryDef = QueryDef(
    fn = (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("o_totalprice")), 4).as("total"),
             grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first),
    oracle = Some("""
      SELECT o_orderstatus, o_orderpriority,
             count(*) AS n,
             round(sum(o_totalprice), 4) AS total,
             GROUPING(o_orderstatus, o_orderpriority) AS gid
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  /** Distinct counting per group. */
  val qDistinct: QueryDef = QueryDef(
    fn = (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"),
             count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
    oracle = Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Left-semi + left-anti join: customers with/without orders. */
  val qSemiAnti: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val semi = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("has_order", lit(true))
      val anti = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .withColumn("has_order", lit(false))
      semi.unionByName(anti)
        .groupBy(col("has_order"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("c_acctbal")), 4).as("bal"))
        .orderBy(col("has_order"))
    },
    oracle = Some("""
      SELECT has_order, count(*) AS n, round(sum(c_acctbal), 4) AS bal
      FROM (SELECT c_acctbal,
                   EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
            FROM customer)
      GROUP BY has_order
      ORDER BY has_order"""))

  /** Union of two sources with dedup (nations present in cust or supp). */
  val qUnion: QueryDef = QueryDef(
    fn = (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("nk")).withColumn("src", lit("cust")).distinct()
      val sp = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nk")).withColumn("src", lit("supp")).distinct()
      c.unionByName(sp)
        .join(broadcast(t(s, dir, "nation")), col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("src"))
        .orderBy(col("n_name"), col("src"))
    },
    oracle = Some("""
      SELECT n_name, src
      FROM (SELECT DISTINCT c_nationkey AS nk, 'cust' AS src FROM customer
            UNION
            SELECT DISTINCT s_nationkey AS nk, 'supp' AS src FROM supplier) u
      JOIN nation ON nk = n_nationkey
      ORDER BY n_name, src"""))

  /** Explicit-broadcast join: revenue over a filtered probe set of
    * parts (two brands). The hint rides on the FILTERED side — a
    * bounded probe set stays broadcastable at any corpus size, where
    * hinting the full part table (SF-scaling) would OOM at 100 TB;
    * the unfiltered variant is exactly what q3/q5 leave to AQE. */
  val qBroadcastJoin: QueryDef = QueryDef(
    fn = (s, dir) => {
      val probe = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#11", "Brand#22"))
      t(s, dir, "lineitem")
        .join(broadcast(probe), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
             round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("p_brand"))
    },
    oracle = Some("""
      SELECT p_brand,
             round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand IN ('Brand#11', 'Brand#22')
      GROUP BY p_brand
      ORDER BY p_brand"""))

  /** Salted skew join: the same join+agg shape as a plain
    * lineitem x part revenue rollup, executed through
    * [[SkewJoin.saltedJoin]] — the manual skew decomposition for the
    * cases AQE's runtime split can't touch (bucketed inputs, or a
    * skewed side feeding a co-partitioned downstream stage). Salting
    * is pure execution strategy: each hot l_partkey spreads over 8
    * salt buckets while part replicates 8 ways, and the result is
    * row-identical to the unsalted join, which is exactly what the
    * plain-SQL oracle checks. */
  val qSkewJoin: QueryDef = QueryDef(
    fn = (s, dir) => {
      SkewJoin.saltedJoin(t(s, dir, "lineitem"), t(s, dir, "part"),
          "l_partkey", "p_partkey", salt = 8)
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
             round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    oracle = Some("""
      SELECT p_brand,
             round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
      ORDER BY p_brand"""))

  /** Scalar expression battery: strings, dates, arithmetic. */
  val qScalarFuncs: QueryDef = QueryDef(
    fn = (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          upper(col("o_orderstatus")).as("status_u"),
          length(col("o_orderpriority")).cast("long").as("prio_len"),
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          round(col("o_totalprice") * 1.1, 2).as("gross"),
          round(abs(col("o_totalprice") - 100000.0), 2).as("dist"))
        .orderBy(col("o_orderkey"))
        .limit(500),
    oracle = Some("""
      SELECT o_orderkey,
             upper(o_orderstatus) AS status_u,
             length(o_orderpriority) AS prio_len,
             substring(o_orderpriority, 1, 1) AS prio_code,
             concat(o_orderstatus, '-', o_orderpriority) AS tag,
             year(o_orderdate) AS yr,
             month(o_orderdate) AS mo,
             round(o_totalprice * 1.1, 2) AS gross,
             round(abs(o_totalprice - 100000.0), 2) AS dist
      FROM orders
      ORDER BY o_orderkey
      LIMIT 500"""))

  /** Group-by + HAVING. */
  val qHaving: QueryDef = QueryDef(
    fn = (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 4).as("spend"))
        .filter(col("n_orders") >= 3)
        .orderBy(col("o_custkey")),
    oracle = Some("""
      SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 4) AS spend
      FROM orders
      GROUP BY o_custkey
      HAVING count(*) >= 3
      ORDER BY o_custkey"""))

  /** Multi-key ordering with explicit null placement. */
  val qOrderbyMulti: QueryDef = QueryDef(
    fn = (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          // inject NULLs deterministically to exercise null ordering
          when(col("c_acctbal") < 0, lit(null).cast("double"))
            .otherwise(round(col("c_acctbal"), 2)).as("bal"))
        .orderBy(col("c_mktsegment").asc,
                 col("bal").desc_nulls_last,
                 col("c_custkey").asc)
        .limit(200),
    oracle = Some("""
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS bal
      FROM customer
      ORDER BY c_mktsegment ASC, bal DESC NULLS LAST, c_custkey ASC
      LIMIT 200"""))

  /** Correlated NOT EXISTS: customers with no finished ('F') order. */
  val qExistsSubquery: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cust = t(s, dir, "customer")
      val fOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      cust.join(fOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey, c_name
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c.c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey"""))

  /** Exact + approx percentiles per group, 100 TB-safe: the exact path
    * is [[Percentiles.histQuantiles]] (distributed value histogram —
    * memory bounded by distinct values, never a full-column buffer);
    * the approx path is approx_percentile (GK sketch, bounded memory),
    * oracle-checked as a sandwich between exact p98 and max since the
    * sketch value itself isn't engine-reproducible. */
  val qPercentiles: QueryDef = QueryDef(
    fn = (s, dir) => {
      val li = t(s, dir, "lineitem")
      // both value columns share ONE melted histogram pipeline
      val hq = Percentiles.histQuantilesMulti(li, "l_returnflag", Seq(
        "l_quantity" -> Seq("p50_qty_raw" -> 0.5, "p90_qty_raw" -> 0.9),
        "l_extendedprice" -> Seq("p98_price_raw" -> 0.98, "p99_price_raw" -> 0.99)))
      val base = li.groupBy(col("l_returnflag").as("flag_b"))
        .agg(
          round(min(col("l_quantity")), 4).as("min_qty"),
          round(max(col("l_quantity")), 4).as("max_qty"),
          max(col("l_extendedprice")).as("max_price_raw"),
          round(stddev(col("l_extendedprice")), 4).as("sd_price"),
          // accuracy 2000 => rank error n/2000 (10 ranks at the sf0.01
          // gate) — far inside the [p98, max] sandwich below, at a
          // fraction of the GK buffer cost of the 10000 default
          expr("approx_percentile(l_extendedprice, 0.99, 2000)").as("ap99"))
      hq
        .join(base, col("l_returnflag") === col("flag_b"))
        .select(col("l_returnflag"),
          round(col("p50_qty_raw"), 4).as("p50_qty"),
          round(col("p90_qty_raw"), 4).as("p90_qty"),
          round(col("p99_price_raw"), 4).as("p99_price"),
          col("min_qty"), col("max_qty"), col("sd_price"),
          // GK with accuracy 2000 bounds rank error by n/2000 — well
          // inside the 1%-of-ranks [exact p98, max] sandwich, so the
          // approx p99 must land in it — hash-comparable even though
          // the sketch value itself is not.
          (col("ap99") >= col("p98_price_raw") &&
           col("ap99") <= col("max_price_raw")).cast("int").as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
             round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
             round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price,
             round(min(l_quantity), 4) AS min_qty,
             round(max(l_quantity), 4) AS max_qty,
             round(stddev_samp(l_extendedprice), 4) AS sd_price,
             CAST(1 AS INTEGER) AS approx_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** As-of join (custom operator — Spark has no native one): each
    * event picks up the most recent order of the same customer at or
    * before the event time, via the one-shuffle union/carry-forward
    * plan in [[AsOfJoin]]. Oracle: DuckDB's native ASOF LEFT JOIN. */
  val qAsofJoin: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000000").as("ts_ms"))
      // unique (custkey, orderdate): keep the max orderkey and its price
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
        .select(col("o_custkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("ord_ms"),
          col("o_orderkey"), col("o_totalprice"))
      AsOfJoin.asOf(ev, ord, "user_id", "o_custkey", "ts_ms", "ord_ms",
          Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          col("asof_o_orderkey"),
          round(col("asof_o_totalprice"), 4).as("asof_o_totalprice"))
        .orderBy(col("event_id"))
    },
    oracle = Some("""
      WITH o AS (
        SELECT o_custkey, epoch_ms(o_orderdate) AS ord_ms,
               max(o_orderkey) AS o_orderkey,
               max_by(o_totalprice, o_orderkey) AS o_totalprice
        FROM orders GROUP BY 1, 2
      )
      SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms,
             o.o_orderkey AS asof_o_orderkey,
             round(o.o_totalprice, 4) AS asof_o_totalprice
      FROM events e
      ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND epoch_ms(e.ts) >= o.ord_ms
      ORDER BY e.event_id"""))

  /** Pivot: order volume per priority x order-year matrix. */
  val qPivot: QueryDef = QueryDef(
    fn = (s, dir) =>
      t(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .groupBy(col("o_orderpriority"))
        .pivot("yr", (1992 to 1998).map(Integer.valueOf))
        .agg(round(sum(col("o_totalprice")), 4))
        .orderBy(col("o_orderpriority")),
    oracle = Some {
      val cells = (1992 to 1998).map(y =>
        s"""round(sum(CASE WHEN year(o_orderdate) = $y THEN o_totalprice END), 4) AS "$y"""")
        .mkString(",\n             ")
      s"""
      SELECT o_orderpriority,
             $cells
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""
    })

  /** q_unpivot — UNPIVOT (melt), the inverse surface of [[qPivot]]:
    * a wide per-nation aggregate (3 measure columns) relayed long as
    * (n_name, measure, value) rows via `Dataset.unpivot`. The melt is
    * a zero-shuffle projection (Catalyst `Expand` — each input row
    * emits one row per measure, no exchange), so the plan's only
    * shuffle is the aggregate that built the wide table; the nation
    * dim rides a broadcast. Measures are cast to one common double
    * type (unpivot's type contract) and rounded identically on both
    * sides. Reference parity: Hive's explode/stack surface
    * (ql/udf/generic/GenericUDTFStack) — reframed as the built-in
    * unpivot so Tungsten codegens the Expand. The summed measure is
    * accumulated as INTEGER CENTS and divided once at the end (the
    * qGrowth/qAbc device) — summing raw doubles and rounding to 4
    * decimals would expose Spark-vs-DuckDB partial-aggregate
    * summation order in the last ulp. */
  val qUnpivot: QueryDef = QueryDef(
    fn = (s, dir) => {
      val wide = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).cast("double").as("n_customers"),
          (sum(expr("cast(round(c_acctbal * 100) as bigint)")) / 100.0)
            .as("sum_acctbal"),
          round(max(col("c_acctbal")), 4).as("max_acctbal"))
      wide.unpivot(
          Array(col("n_name")),
          Array(col("n_customers"), col("sum_acctbal"), col("max_acctbal")),
          "measure", "value")
        .orderBy(col("n_name"), col("measure"))
    },
    oracle = Some("""
      WITH wide AS (
        SELECT n_name,
               CAST(count(*) AS DOUBLE) AS n_customers,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 / 100.0 AS sum_acctbal,
               round(max(c_acctbal), 4) AS max_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name)
      SELECT n_name, measure, value FROM (
        SELECT n_name, 'n_customers' AS measure, n_customers AS value FROM wide
        UNION ALL SELECT n_name, 'sum_acctbal', sum_acctbal FROM wide
        UNION ALL SELECT n_name, 'max_acctbal', max_acctbal FROM wide)
      ORDER BY n_name, measure"""))

  /** q_growth — PERIOD-OVER-PERIOD growth (the WoW/MoM delta every BI
    * dashboard leads with): weekly order revenue per priority, each
    * week's delta and growth rate vs the prior OBSERVED week. Weeks
    * are calendar-free integers (epoch-days div 7) so no engine's
    * week-truncation rules enter; revenue is integer cents; and the
    * growth ppm is computed SIGN-SPLIT — sign(Δ)·((|Δ|·10⁶) div prev)
    * — because integral division of negatives is where engines
    * genuinely disagree (Spark `div` truncates toward zero, DuckDB
    * `//` floors: −5/2 is −2 vs −3), and a negative delta is half of
    * every growth series. Lag runs over the AGGREGATED (priority,
    * week) relation — bounded by the date domain, never fact-sized
    * (the q_mode two-phase discipline). */
  val qGrowth: QueryDef = QueryDef(
    fn = (s, dir) => {
      val weekly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          expr("datediff(cast(o_orderdate as date), date'1970-01-01') div 7")
            .as("week"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("rev_cents"))
      val w = Window.partitionBy(col("priority")).orderBy(col("week"))
      weekly.withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
        .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
        .withColumn("growth_ppm", expr("""
          CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
               WHEN delta_cents >= 0
                 THEN (delta_cents * 1000000) div prev_cents
               ELSE -((-delta_cents * 1000000) div prev_cents) END"""))
        .select(col("priority"), col("week"), col("rev_cents"),
          col("delta_cents"), col("growth_ppm"))
        .orderBy(col("priority"), col("week"))
    },
    oracle = Some("""
      WITH weekly AS (
        SELECT o_orderpriority AS priority,
               (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS week,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1, 2),
      lagged AS (
        SELECT priority, week, rev_cents,
               lag(rev_cents) OVER (PARTITION BY priority
                 ORDER BY week) AS prev_cents
        FROM weekly)
      SELECT priority, CAST(week AS BIGINT) AS week, rev_cents,
             rev_cents - prev_cents AS delta_cents,
             CAST(CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
                  WHEN rev_cents - prev_cents >= 0
                    THEN ((rev_cents - prev_cents) * 1000000) // prev_cents
                  ELSE -((-(rev_cents - prev_cents) * 1000000) // prev_cents)
                  END AS BIGINT) AS growth_ppm
      FROM lagged
      ORDER BY priority, week"""))

  /** q_skyline — the SKYLINE / Pareto-frontier operator (Börzsönyi
    * et al., ICDE 2001 — `SELECT ... SKYLINE OF price MIN, size MAX`
    * in the paper's proposed syntax; no SQL engine grew the keyword,
    * so it's composed here): parts no other part dominates, where A
    * dominates B iff priceA ≤ priceB ∧ sizeA ≥ sizeB with at least
    * one strict. The naive formulation is an n² NOT-EXISTS dominance
    * self-join; the 2-D skyline is instead the classic sweep — group
    * to (price, max size) and keep prices whose group max STRICTLY
    * exceeds the running max over all cheaper prices (a part ties
    * into the frontier iff it also equals its own price group's
    * max). Each frontier point also reports how many parts it
    * strictly dominates — the "how much does this point prune"
    * audit number.
    *
    * Scale: the corpus is touched by (a) one map-side-combined
    * group-by on price and (b) one broadcast-frontier map pass for
    * the dominance counts — never an n² join. The sweep window runs
    * over the AGGREGATED (price, gmax) relation: bounded by the
    * price DOMAIN (1000 distinct cents values here), not by rows —
    * on an unbounded price domain the group-by IS the bucketing
    * step, so the single-partition window never sees corpus-shaped
    * input (the t_vocab discipline). */
  val qSkyline: QueryDef = QueryDef(
    fn = (s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"),
        expr("cast(round(p_retailprice * 100) as bigint)").as("cents"),
        col("p_size").cast("long").as("size"))
      val grp = p.groupBy(col("cents")).agg(max(col("size")).as("gmax"))
      val sweep = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = grp.withColumn("prevmax", max(col("gmax")).over(sweep))
        .filter(col("prevmax").isNull || col("gmax") > col("prevmax"))
        .select(col("cents").as("scents"), col("gmax"))
      val skyRows = p.join(broadcast(sky),
          col("cents") === col("scents") && col("size") === col("gmax"))
        .select(col("p_partkey"), col("cents"), col("size"))
      val dom = p.select(col("cents").as("pc"), col("size").as("ps"))
        .crossJoin(broadcast(skyRows))
        .filter(col("cents") <= col("pc") && col("size") >= col("ps") &&
          (col("cents") < col("pc") || col("size") > col("ps")))
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_dominated"))
      skyRows.join(dom, Seq("p_partkey"), "left")
        .select(col("p_partkey"), col("cents"), col("size"),
          coalesce(col("n_dominated"), lit(0L)).as("n_dominated"))
        .orderBy(col("cents"), col("p_partkey"))
    },
    oracle = Some("""
      WITH p AS (
        SELECT p_partkey,
               CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
               CAST(p_size AS BIGINT) AS size
        FROM part),
      grp AS (SELECT cents, max(size) AS gmax FROM p GROUP BY cents),
      sweep AS (
        SELECT cents, gmax,
               max(gmax) OVER (ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prevmax
        FROM grp),
      sky AS (SELECT cents, gmax FROM sweep
              WHERE prevmax IS NULL OR gmax > prevmax),
      sky_rows AS (
        SELECT p_partkey, p.cents, p.size
        FROM p JOIN sky s ON p.cents = s.cents AND p.size = s.gmax),
      dom AS (
        SELECT s.p_partkey, CAST(count(*) AS BIGINT) AS n_dominated
        FROM sky_rows s JOIN p
          ON s.cents <= p.cents AND s.size >= p.size
             AND (s.cents < p.cents OR s.size > p.size)
        GROUP BY s.p_partkey)
      SELECT s.p_partkey, cents, size,
             CAST(coalesce(n_dominated, 0) AS BIGINT) AS n_dominated
      FROM sky_rows s LEFT JOIN dom ON s.p_partkey = dom.p_partkey
      ORDER BY cents, s.p_partkey"""))

  /** q_mode — deterministic MODE per group: the most frequent order
    * priority per market segment, ties broken lexicographically (the
    * tie-break is part of the contract — a bare max-by over counts is
    * nondeterministic across engines). Plan: one map-side-combined
    * count aggregate by (segment, priority), then a rank window over
    * the AGGREGATED relation — the window partitions hold at most
    * |priorities| rows per segment regardless of fact-table size, so
    * the per-key funnel that makes naive mode windows a 100 TB
    * hazard never forms (the same two-phase discipline as
    * t_domain_cap, with the first phase being the count agg itself). */
  val qMode: QueryDef = QueryDef(
    fn = (s, dir) => {
      // customer is NOT hinted broadcast: unlike nation/region it grows
      // with SF, so the key-partitioned SMJ (or AQE's runtime broadcast
      // when it fits) is the plan that survives 100 TB.
      val counted = t(s, dir, "orders")
        .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("n_orders").desc, col("o_orderpriority"))
      counted.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_mktsegment"),
          col("o_orderpriority").as("mode_priority"), col("n_orders"))
        .orderBy(col("c_mktsegment"))
    },
    oracle = Some("""
      WITH c AS (
        SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_orderpriority),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                 ORDER BY n_orders DESC, o_orderpriority) AS rn
        FROM c)
      SELECT c_mktsegment, o_orderpriority AS mode_priority, n_orders
      FROM r WHERE rn = 1 ORDER BY c_mktsegment"""))

  /** q_window_distinct — COUNT DISTINCT over a trailing RANGE window
    * (7-day rolling distinct purchasers per calendar day — the WAU
    * family every analytics stack publishes), an aggregate Spark's
    * window functions refuse outright (`count(distinct)` is
    * unsupported in a window frame). The naive remedies both die at
    * 100 TB: a day-grid×events range join rescans the fact 7×, and a
    * `collect_set` window holds every user id of the frame in one
    * row. This plan is event-linear instead:
    *
    *   1. distinct (user, day) — ONE shuffle, map-side combined;
    *   2. per user, consecutive active days with gaps ≤ window merge
    *      into coverage islands \[first, last+6\] (lag + running
    *      island id — the SCD-2 islands device), because a user
    *      counts for day d iff d sits in some \[active, active+6\];
    *   3. islands → ±1 boundary deltas, summed per day — the
    *      interval-stabbing prefix-sum trick, so each island
    *      contributes exactly 2 rows no matter how long it is;
    *   4. one running sum over the calendar grid = the distinct count
    *      for every day. The only unpartitioned window runs over the
    *      GRID (rows = calendar span, ~10³ for decades — bounded by
    *      time, not data), never over events.
    *
    * The oracle replays the brute definition (grid LEFT JOIN actives
    * within 7 days, count distinct) — proving the interval algebra
    * equals the semantic definition at the gate. */
  /** Library core of [[qWindowDistinct]]: trailing-`win`-bucket
    * rolling distinct count over an (id, d) activity relation —
    * for every bucket in [min(d), max(d)], how many distinct ids
    * have d' in \[day−win+1, day\]. Event-linear (see the query
    * scaladoc); the one unpartitioned window runs over the bucket
    * grid, bounded by calendar span. */
  def rollingDistinct(active0: DataFrame, idCol: String, dCol: String,
      win: Int): DataFrame = {
    val reach = win - 1
    val active = active0
      .select(col(idCol).as("id"), col(dCol).cast("long").as("d"))
      .distinct()
    val wU = Window.partitionBy(col("id")).orderBy(col("d"))
    val islands = active
      .withColumn("gap",
        when(lag(col("d"), 1).over(wU).isNull
          || col("d") - lag(col("d"), 1).over(wU) > reach, 1)
          .otherwise(0))
      .withColumn("isl", sum(col("gap")).over(wU))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("d")).as("start"), (max(col("d")) + reach).as("end"))
    val deltas = islands.select(col("start").as("day"), lit(1L).as("delta"))
      .unionAll(islands.select(
        (col("end") + 1).as("day"), lit(-1L).as("delta")))
      .groupBy(col("day")).agg(sum(col("delta")).as("delta"))
    val grid = active.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val wD = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(deltas, Seq("day"), "left")
      .select(col("day"), coalesce(col("delta"), lit(0L)).as("delta"))
      .withColumn("users", sum(col("delta")).over(wD))
      .select(col("day"), col("users"))
  }

  val qWindowDistinct: QueryDef = QueryDef(
    fn = (s, dir) => {
      // integer epoch-day buckets (ts contract = long nanos; same
      // bucket algebra as qSpike/qCohort — no date types to drift)
      val active = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("d"))
      rollingDistinct(active, "user_id", "d", 7)
        .orderBy(col("day"))
    },
    oracle = Some("""
      WITH active AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        FROM events WHERE event_type = 'purchase'),
      span AS (SELECT min(d) AS lo, max(d) AS hi FROM active),
      grid AS (
        SELECT CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS day
        FROM span)
      SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS users
      FROM grid LEFT JOIN active ON d BETWEEN day - 6 AND day
      GROUP BY day ORDER BY day"""))

  /** q_cusum — CUSUM sequential change detection (Page 1954) over
    * daily event volumes per type: S_d = max(0, S_{d-1} + dev_d),
    * alarm when the accumulated positive deviation exceeds H. The
    * MAD spike detector ([[qSpike]]) flags single outlier hours;
    * CUSUM accumulates SMALL persistent shifts no single-point test
    * sees — the classic complementary pair of monitoring queries.
    *
    * All integer: deviations are scaled by the day count
    * (dev = m·n − total, i.e. (n − mean)·m without the division) and
    * H = total div 2, so every engine computes the identical
    * sequence. The recurrence max(0, S+e) is NOT a window aggregate
    * (non-linear), so it runs as an `aggregate` HOF scan over the
    * per-type day array — collect_list here is BOUNDED by calendar
    * span per type (the qSpike/rollingDistinct grid argument), never
    * by event volume; the corpus-sized work is the one partial-first
    * count aggregate. The oracle replays the recurrence with a
    * recursive CTE — two entirely different execution strategies, one
    * integer sequence. */
  val qCusum: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cnt = t(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      cnt.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("xs"),
          sum(col("n")).as("total"), count(lit(1)).as("m"))
        .select(col("event_type"), explode(expr(
          """aggregate(xs,
               named_struct('s', cast(0 as bigint),
                 'out', cast(array() as
                   array<struct<day:bigint,n:bigint,cusum:bigint,is_shift:boolean>>)),
               (acc, x) -> named_struct(
                 's', greatest(cast(0 as bigint), acc.s + m * x.n - total),
                 'out', concat(acc.out, array(named_struct(
                   'day', x.day, 'n', x.n,
                   'cusum', greatest(cast(0 as bigint), acc.s + m * x.n - total),
                   'is_shift', greatest(cast(0 as bigint), acc.s + m * x.n - total)
                     > total div 2)))),
               acc -> acc.out)""")).as("st"))
        .select(col("event_type"), col("st.day").as("day"),
          col("st.n").as("n"), col("st.cusum").as("cusum"),
          col("st.is_shift").as("is_shift"))
        .orderBy(col("event_type"), col("day"))
    },
    oracle = Some("""
      WITH RECURSIVE cnt AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               count(*) AS n
        FROM events GROUP BY event_type, day),
      tot AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
               count(*) AS m
        FROM cnt GROUP BY event_type),
      seq AS (
        SELECT c.event_type, day, n, total, m,
               row_number() OVER (PARTITION BY c.event_type
                 ORDER BY day) AS i
        FROM cnt c JOIN tot USING (event_type)),
      walk AS (
        SELECT event_type, i, day, n, total, m,
               greatest(CAST(0 AS BIGINT), m * n - total) AS s
        FROM seq WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.i, s.day, s.n, s.total, s.m,
               greatest(CAST(0 AS BIGINT), w.s + s.m * s.n - s.total)
        FROM walk w JOIN seq s
          ON s.event_type = w.event_type AND s.i = w.i + 1)
      SELECT event_type, day, CAST(n AS BIGINT) AS n,
             CAST(s AS BIGINT) AS cusum, s > total // 2 AS is_shift
      FROM walk ORDER BY event_type, day"""))

  /** q_abc — Pareto / ABC revenue classification (the 80/15/5 rule
    * every inventory and merchandising stack applies): parts ranked
    * by lifetime discounted revenue, cumulative share assigns class
    * A (first 80% of revenue), B (to 95%), C (tail). Revenue is
    * integer cents (floor(price·(1−disc)·100) per lineitem then
    * summed — identical IEEE ops both engines, integer algebra
    * after); cumulative revenue runs DESCENDING through the
    * distributed [[graft.operators.PrefixSum.runningTotal]] (rank key
    * = (cap − rev)·10⁹ + partkey, bounds raised loudly), never an
    * unpartitioned data-sized window; share thresholds compare in
    * per-mille integers. */
  val qAbc: QueryDef = QueryDef(
    fn = (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(expr(
          "cast(floor(l_extendedprice * (1.0 - l_discount) * 100) as bigint)"))
          .as("rev_cents"))
      val guard = raise_error(concat(
        lit("graft: q_abc rank key bound exceeded (need 0 <= rev_cents " +
          "<= 9.2e9 and 0 <= partkey < 1e9; got rev_cents="),
        col("rev_cents").cast("string"), lit(", partkey="),
        col("l_partkey").cast("string"))).cast("long")
      val keyed = rev.select(col("l_partkey"), col("rev_cents"),
        when(col("rev_cents") > lit(9200000000L) || col("rev_cents") < 0L ||
            col("l_partkey") >= lit(1000000000L) || col("l_partkey") < 0L,
          guard)
          .otherwise((lit(9200000000L) - col("rev_cents")) * lit(1000000000L)
            + col("l_partkey")).as("_k"))
      val tot = rev.agg(sum(col("rev_cents")).as("_tot"))
      graft.operators.PrefixSum.runningTotal(keyed, "_k", "rev_cents", "_cum")
        .crossJoin(broadcast(tot))
        .withColumn("cum_pm", expr("1000 * _cum div _tot"))
        .withColumn("abc_class",
          when(col("cum_pm") <= 800, "A")
            .when(col("cum_pm") <= 950, "B").otherwise("C"))
        .select(col("l_partkey"), col("rev_cents"), col("cum_pm"),
          col("abc_class"))
        .orderBy(col("l_partkey"))
    },
    oracle = Some("""
      WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY l_partkey),
      c AS (
        SELECT l_partkey, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum,
               CAST(sum(rev_cents) OVER () AS BIGINT) AS tot
        FROM rev)
      SELECT l_partkey, rev_cents, 1000 * cum // tot AS cum_pm,
             CASE WHEN 1000 * cum // tot <= 800 THEN 'A'
                  WHEN 1000 * cum // tot <= 950 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM c ORDER BY l_partkey"""))

  /** q_transitions — the event-flow TRANSITION MATRIX (the Markov /
    * Sankey view every product-analytics stack draws): per user,
    * events in (ts_ms, event_id) order, each consecutive pair counts
    * one (from → to) transition, a user's first event transitioning
    * from the 'start' pseudo-state; output = counts plus per-source
    * share in per-mille. The windows partition per user (bounded by a
    * user's history, never corpus-wide); the matrix itself is
    * |types+1|·|types| rows, and the share window runs over THAT
    * bounded relation. The streaming leg (s_transitions) maintains
    * the same pairs from O(1) per-user state and shares this oracle. */
  val qTransitions: QueryDef = QueryDef(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000").as("ts_ms"), col("event_type"))
        .withColumn("from_type",
          coalesce(lag(col("event_type"), 1).over(w), lit("start")))
        .select(col("from_type"), col("event_type").as("to_type"))
      val cnt = pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val wF = Window.partitionBy(col("from_type"))
      cnt.withColumn("sum_n", sum(col("n")).over(wF))
        .withColumn("share_pm", expr("1000 * n div sum_n"))
        .select(col("from_type"), col("to_type"), col("n"), col("share_pm"))
        .orderBy(col("from_type"), col("to_type"))
    },
    oracle = Some("""
      WITH ev AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
        FROM events),
      pairs AS (
        SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts_ms, event_id), 'start') AS from_type,
               event_type AS to_type
        FROM ev),
      cnt AS (
        SELECT from_type, to_type, count(*) AS n
        FROM pairs GROUP BY from_type, to_type)
      SELECT from_type, to_type, n,
             1000 * n // CAST(sum(n) OVER (PARTITION BY from_type)
               AS BIGINT) AS share_pm
      FROM cnt ORDER BY from_type, to_type"""))

  /** q_paths — top user JOURNEY PATHS (the Sankey/flow companion to
    * [[qTransitions]]' matrix): each user's first 5 events in
    * (ts_ms, event_id) order joined into a path string, the 20 most
    * common paths with user counts. Deterministic assembly: the
    * collect rides sort_array over (rn, type) structs — never an
    * unordered collect_list — so both engines build the identical
    * string; windows partition per user (history-bounded), the path
    * aggregate is map-side combined on the path key, and the top-20
    * is a TakeOrdered with (n desc, path) tie-break. */
  val qPaths: QueryDef = QueryDef(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000").as("ts_ms"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("rn"), col("event_type"))))
          .as("steps"))
        .select(expr("array_join(transform(steps, x -> x.event_type), '>')")
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(20)
    },
    oracle = Some("""
      WITH ev AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_ms(ts), event_id) AS rn
        FROM events),
      paths AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ev WHERE rn <= 5 GROUP BY user_id)
      SELECT path, count(*) AS n_users
      FROM paths GROUP BY path
      ORDER BY n_users DESC, path
      LIMIT 20"""))

  /** q_benford — Benford's-law FIRST-DIGIT audit over per-part
    * revenue (the classic fraud/data-quality screen): observed
    * first-digit shares vs the Benford expectation log10(1+1/d).
    * The first digit comes from the DECIMAL RENDERING of the integer
    * cents (CAST BIGINT→string — unambiguous in any engine; never
    * from float log10, whose edge rounding at exact powers of ten
    * differs by ulp), and the expected shares are one Scala loop
    * rendered as the same integer-ppm literals into BOTH dialects —
    * the two engines cannot drift on a constant. Bounded output
    * (9 digits); the only corpus-sized work is the revenue aggregate. */
  val qBenford: QueryDef = QueryDef(
    fn = (s, dir) => {
      val expected = (1 to 9).map(d =>
        d -> math.floor(math.log10(1.0 + 1.0 / d) * 1000000).toLong)
      val expectedExpr = expected.map { case (d, ppm) =>
        s"WHEN digit = $d THEN ${ppm}L" }.mkString(" ")
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(expr(
          "cast(floor(l_extendedprice * (1.0 - l_discount) * 100) as bigint)"))
          .as("rev_cents"))
        .filter(col("rev_cents") > 0)
      val tot = rev.agg(count(lit(1)).as("_n"))
      rev.select(expr("cast(substring(cast(rev_cents as string), 1, 1) as bigint)")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("1000000 * n div _n"))
        .withColumn("benford_ppm", expr(s"CASE $expectedExpr END"))
        .withColumn("diff_ppm", expr("share_ppm - benford_ppm"))
        .select(col("digit"), col("n"), col("share_ppm"),
          col("benford_ppm"), col("diff_ppm"))
        .orderBy(col("digit"))
    },
    oracle = Some {
      val expected = (1 to 9).map(d =>
        d -> math.floor(math.log10(1.0 + 1.0 / d) * 1000000).toLong)
      val expectedSql = expected.map { case (d, ppm) =>
        s"WHEN digit = $d THEN $ppm" }.mkString(" ")
      s"""
      WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY l_partkey),
      pos AS (SELECT rev_cents FROM rev WHERE rev_cents > 0),
      tot AS (SELECT count(*) AS n_tot FROM pos),
      digits AS (
        SELECT CAST(substring(CAST(rev_cents AS VARCHAR), 1, 1) AS BIGINT)
          AS digit
        FROM pos)
      SELECT digit, count(*) AS n,
             1000000 * count(*) // max(n_tot) AS share_ppm,
             CAST(CASE $expectedSql END AS BIGINT) AS benford_ppm,
             1000000 * count(*) // max(n_tot)
               - CAST(CASE $expectedSql END AS BIGINT) AS diff_ppm
      FROM digits CROSS JOIN tot
      GROUP BY digit ORDER BY digit"""
    })

  /** q_forecast — simple exponential smoothing (SES, Brown 1956) over
    * daily per-type event volumes: S = (3·x·10 + 7·S) div 10
    * (α = 0.3 as the exact rational 3/10, state carried ×10 so the
    * recurrence stays in integers — no float α drift compounding
    * across days), one-step-ahead MAE as the in-sample fit number and
    * the final state as the next-day forecast. The second member of
    * the sequential-recurrence family ([[qCusum]]): a scan no window
    * aggregate expresses, run as the same calendar-bounded
    * aggregate-HOF against a recursive-CTE oracle. */
  val qForecast: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cnt = t(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      cnt.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("xs"),
          count(lit(1)).as("n_days"))
        .select(col("event_type"), col("n_days"), expr(
          """aggregate(xs,
               named_struct('s', cast(-1 as bigint), 'err', cast(0 as bigint)),
               (acc, x) -> named_struct(
                 's', CASE WHEN acc.s < 0 THEN x.n * 10
                           ELSE (3 * x.n * 10 + 7 * acc.s) div 10 END,
                 'err', CASE WHEN acc.s < 0 THEN cast(0 as bigint)
                             ELSE acc.err + abs(x.n * 10 - acc.s) END))""")
          .as("st"))
        .select(col("event_type"), col("n_days"),
          col("st.s").as("forecast_x10"),
          expr("st.err div (n_days - 1)").as("mae_x10"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      WITH RECURSIVE cnt AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, day),
      seq AS (
        SELECT event_type, day, n,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM cnt),
      walk AS (
        SELECT event_type, i, n_days, n * 10 AS s, CAST(0 AS BIGINT) AS err
        FROM seq WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.i, s.n_days,
               (3 * s.n * 10 + 7 * w.s) // 10,
               w.err + abs(s.n * 10 - w.s)
        FROM walk w JOIN seq s
          ON s.event_type = w.event_type AND s.i = w.i + 1)
      SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
             CAST(s AS BIGINT) AS forecast_x10,
             CAST(err // (n_days - 1) AS BIGINT) AS mae_x10
      FROM walk WHERE i = n_days
      ORDER BY event_type"""))

  /** Composite rank key for [[qRfm]]'s global quintiles: metric rides
    * the high bits, custkey the low — unique per customer, ordered by
    * (metric, custkey). Bounds enforced per row (the decileKey
    * discipline): metric ≤ 9.2·10⁹ and custkey < 10⁹ or the row
    * raises instead of silently mis-ranking. */
  private def rfmKey(metric: Column, custkey: Column): Column =
    when(metric > lit(9200000000L) || metric < 0L ||
        custkey >= lit(1000000000L) || custkey < 0L,
      raise_error(concat(
        lit("graft: q_rfm rank key bound exceeded (need 0 <= metric <= " +
          "9.2e9 and 0 <= custkey < 1e9; got metric="),
        metric.cast("string"), lit(", custkey="), custkey.cast("string"),
        lit(") - use a two-column ordered prefix sum past this scale")))
        .cast("long"))
      .otherwise(metric * lit(1000000000L) + custkey)

  /** The ntile(q) assignment from a 1-based global rank: the first
    * (n mod q) buckets take (n div q + 1) rows, the rest (n div q) —
    * SQL-standard ntile semantics in explicit integer algebra (the
    * t_decile formula, generalized). */
  private def ntileFromRank(q: Int, rnk: String, n: String): String =
    s"""CASE WHEN $rnk <= ($n % $q) * ($n div $q + 1)
        THEN ($rnk - 1) div ($n div $q + 1) + 1
        ELSE ($n % $q) +
             ($rnk - ($n % $q) * ($n div $q + 1) - 1) div ($n div $q) + 1
        END"""

  /** q_rfm — RFM customer segmentation (recency / frequency /
    * monetary), the standard CRM scoring query: per customer, last
    * order day, order count, and lifetime cents, each ranked into
    * GLOBAL quintiles (1 = oldest/fewest/least … 5 = best), segment
    * code = r·100 + f·10 + m. Monetary is integer cents
    * (floor(price·100) per order then summed — identical IEEE double
    * ops in both engines, then pure integer algebra).
    *
    * Scale: global ranking never opens an unpartitioned data-sized
    * window — each metric ranks through the distributed
    * [[PrefixSum.runningTotal]] (range-repartition + per-slice sums +
    * a #slices-row offset table), the t_decile pattern ×3; quintile
    * assignment is then the closed-form [[ntileFromRank]] against the
    * broadcast customer count. The oracle uses plain ntile(5) — same
    * semantics, the formula is the distributed realization. */
  val qRfm: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        // NTZ parquet timestamp; session tz is pinned UTC (GraftSession)
        // so the cast reads the naive wall-clock as UTC — the DuckDB
        // epoch_us convention (the Tables.normalizeEventTs argument)
        .agg(max(expr("unix_micros(cast(o_orderdate as timestamp)) " +
            "div 86400000000")).as("last_day"),
          count(lit(1)).as("n_orders"),
          sum(expr("cast(floor(o_totalprice * 100) as bigint)"))
            .as("m_cents"))
      def rankBy(metric: String, out: String): DataFrame =
        graft.operators.PrefixSum.runningTotal(
          base.select(col("o_custkey"),
            rfmKey(col(metric), col("o_custkey")).as("_k"))
            .withColumn("_one", lit(1L)),
          "_k", "_one", out)
          .select(col("o_custkey"), col(out))
      val n = base.agg(count(lit(1)).as("_n"))
      base
        .join(rankBy("last_day", "_rr"), "o_custkey")
        .join(rankBy("n_orders", "_fr"), "o_custkey")
        .join(rankBy("m_cents", "_mr"), "o_custkey")
        .crossJoin(broadcast(n))
        .withColumn("r_q", expr(ntileFromRank(5, "_rr", "_n")))
        .withColumn("f_q", expr(ntileFromRank(5, "_fr", "_n")))
        .withColumn("m_q", expr(ntileFromRank(5, "_mr", "_n")))
        .withColumn("segment", expr("r_q * 100 + f_q * 10 + m_q"))
        .select(col("o_custkey"), col("last_day"), col("n_orders"),
          col("m_cents"), col("r_q"), col("f_q"), col("m_q"), col("segment"))
        .orderBy(col("o_custkey"))
    },
    oracle = Some("""
      WITH base AS (
        SELECT o_custkey,
               max(epoch_us(o_orderdate) // 86400000000) AS last_day,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS m_cents
        FROM orders GROUP BY o_custkey),
      q AS (
        SELECT o_custkey, last_day, n_orders, m_cents,
               CAST(ntile(5) OVER (ORDER BY last_day, o_custkey) AS BIGINT)
                 AS r_q,
               CAST(ntile(5) OVER (ORDER BY n_orders, o_custkey) AS BIGINT)
                 AS f_q,
               CAST(ntile(5) OVER (ORDER BY m_cents, o_custkey) AS BIGINT)
                 AS m_q
        FROM base)
      SELECT o_custkey, last_day, n_orders, m_cents, r_q, f_q, m_q,
             r_q * 100 + f_q * 10 + m_q AS segment
      FROM q ORDER BY o_custkey"""))

  /** Window-function battery: lag/lead/ntile/dense_rank/cume_dist plus
    * a partition-aggregate delta, per customer order history. */
  val qWindowFuncs: QueryDef = QueryDef(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wAll = Window.partitionBy(col("o_custkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"),
          dense_rank().over(w).cast("long").as("seq"),
          round(cume_dist().over(w), 4).as("cd"),
          // max, not avg: float summation order differs across engines,
          // so an avg-based delta flips round-4 boundaries vs the oracle
          round(col("o_totalprice") - max(col("o_totalprice")).over(wAll), 4).as("delta_max"))
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_orderkey, o_custkey,
             lag(o_totalprice, 1) OVER w AS prev_price,
             lead(o_totalprice, 1) OVER w AS next_price,
             ntile(4) OVER w AS quartile,
             dense_rank() OVER w AS seq,
             round(cume_dist() OVER w, 4) AS cd,
             round(o_totalprice - max(o_totalprice) OVER (PARTITION BY o_custkey), 4) AS delta_max
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_orderkey"""))

  /** SQL-text front end: the same engine surface through
    * spark.sql(...) over registered views — the literal "run your Hive
    * SQL unchanged" path. Oracle is character-identical SQL. */
  val qSqlText: QueryDef = QueryDef(
    fn = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_name, count(*) AS n_suppliers,
               round(sum(s_acctbal), 4) AS total_bal,
               round(max(s_acctbal), 4) AS max_bal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name""")
    },
    oracle = Some("""
      SELECT n_name, count(*) AS n_suppliers,
             round(sum(s_acctbal), 4) AS total_bal,
             round(max(s_acctbal), 4) AS max_bal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name"""))

  /** Full outer join with null-coalesced sides: customers without
    * orders survive with zeroed aggregates. */
  val qOuterJoin: QueryDef = QueryDef(
    fn = (s, dir) => {
      val co = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("spend"))
      t(s, dir, "customer")
        .join(co, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          round(coalesce(col("spend"), lit(0.0)), 4).as("spend"))
        .orderBy(col("custkey"))
    },
    oracle = Some("""
      SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment,
             coalesce(n_orders, 0) AS n_orders,
             round(coalesce(spend, 0.0), 4) AS spend
      FROM customer
      FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders,
                              round(sum(o_totalprice), 4) AS spend
                       FROM orders GROUP BY o_custkey) o
        ON c_custkey = o_custkey
      ORDER BY custkey"""))

  /** Ordered set aggregation: nations per region as a sorted CSV
    * (collect_list -> sort -> join keeps the comparison scalar). */
  val qCollectAgg: QueryDef = QueryDef(
    fn = (s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(countDistinct(col("n_name")).as("n_nations"),
          array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy(col("r_name")),
    oracle = Some("""
      SELECT r_name, count(DISTINCT n_name) AS n_nations,
             string_agg(n_name, ',' ORDER BY n_name) AS nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name"""))

  /** Sketch-based distinct counting: `approx_count_distinct` (HLL++,
    * one pass, constant memory per group) is the 100 TB path where
    * exact `count(DISTINCT)` needs a full shuffle of every key. The
    * oracle can't replay Spark's HLL bit-for-bit, so the driver-checked
    * contract is the tolerance assertion: exact counts must hash-match
    * AND the sketch must land within 5% (rsd=0.01, so ~1% expected) —
    * the boolean column only matches the oracle's literal TRUE if the
    * sketch is actually accurate. */
  val qApproxDistinct: QueryDef = QueryDef(
    fn = (s, dir) => {
      val li = t(s, dir, "lineitem")
      // The two counts run as SEPARATE aggregations: mixing a distinct
      // aggregate with a sketch in one Aggregate makes Spark's distinct
      // rewrite group the partial by (flag, l_orderkey, gid), building
      // and shuffling a full HLL buffer PER ORDERKEY (~21 KB x 150k
      // groups at sf0.1 — measured 100 s and GC-poisoned the session).
      // Split, each plans its natural shape; the join is 3 rows.
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_cnt"))
      val approx = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("_approx"))
      exact.join(approx, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_cnt"),
          (abs(col("_approx") - col("exact_cnt")).cast("double") /
            col("exact_cnt") <= 0.05).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some("""
      SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_cnt,
             TRUE AS approx_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Correlated SCALAR subqueries in the select list — Catalyst's
    * RewriteCorrelatedScalarSubquery path (de-correlated into left
    * outer aggregate joins), distinct from the EXISTS/IN rewrite
    * q_exists_subquery covers. */
  val qScalarSubquery: QueryDef = QueryDef(
    fn = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey, round(o_totalprice, 4) AS total,
               (SELECT count(*) FROM lineitem
                WHERE l_orderkey = o_orderkey) AS n_lines,
               (SELECT round(max(l_extendedprice), 4) FROM lineitem
                WHERE l_orderkey = o_orderkey) AS max_line_price
        FROM orders
        WHERE o_orderstatus = 'F'
        ORDER BY o_orderkey
        LIMIT 1000""")
    },
    oracle = Some("""
      SELECT o_orderkey, round(o_totalprice, 4) AS total,
             (SELECT count(*) FROM lineitem
              WHERE l_orderkey = o_orderkey) AS n_lines,
             (SELECT round(max(l_extendedprice), 4) FROM lineitem
              WHERE l_orderkey = o_orderkey) AS max_line_price
      FROM orders
      WHERE o_orderstatus = 'F'
      ORDER BY o_orderkey
      LIMIT 1000"""))

  /** INTERSECT / EXCEPT set operations: market segments present among
    * both high-value and low-value customers, and segments exclusive
    * to high-value ones. Spark plans these as aggregate-backed
    * left-semi/anti joins — partial-combine friendly, no sort. */
  val qSetOps: QueryDef = QueryDef(
    fn = (s, dir) => {
      val c = t(s, dir, "customer")
      val hi = c.filter(col("c_acctbal") > 5000).select(col("c_mktsegment"))
      val lo = c.filter(col("c_acctbal") < 0).select(col("c_mktsegment"))
      val both = hi.intersect(lo)
        .select(col("c_mktsegment"), lit("both").as("which"))
      val hiOnly = hi.except(lo)
        .select(col("c_mktsegment"), lit("hi_only").as("which"))
      both.unionByName(hiOnly).orderBy(col("which"), col("c_mktsegment"))
    },
    oracle = Some("""
      WITH hi AS (SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000),
           lo AS (SELECT c_mktsegment FROM customer WHERE c_acctbal < 0)
      SELECT c_mktsegment, 'both' AS which
      FROM (SELECT c_mktsegment FROM hi INTERSECT SELECT c_mktsegment FROM lo)
      UNION ALL
      SELECT c_mktsegment, 'hi_only' AS which
      FROM (SELECT c_mktsegment FROM hi EXCEPT SELECT c_mktsegment FROM lo)
      ORDER BY which, c_mktsegment"""))

  /** No-equi-key interval join via [[RangeJoin]]: each error event
    * opens a 10-minute incident window; count and total (in exact
    * cents — float sums are order-dependent across engines) the events
    * landing inside each window. Spark's native plan for this
    * predicate is BroadcastNestedLoopJoin — O(points x intervals) and
    * an OOM at scale; the bucketed rewrite is a linear equi-join. */
  val qRangeJoin: QueryDef = QueryDef(
    fn = (s, dir) => {
      // events.ts is a nanosecond parquet timestamp — Spark surfaces it
      // as LONG nanos; truncate to micros like DuckDB's implicit cast
      val ev = t(s, dir, "events")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val windows = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("window_id"), col("ts").as("t0"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("t1"))
      RangeJoin.pointInInterval(ev.select(col("ts"), col("value")),
          windows, "ts", "t0", "t1")
        .groupBy(col("window_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy(col("window_id"))
    },
    oracle = Some("""
      WITH w AS (
        SELECT event_id AS window_id, ts AS t0, ts + INTERVAL 10 MINUTE AS t1
        FROM events WHERE event_type = 'error')
      SELECT window_id, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM w JOIN events e ON e.ts >= w.t0 AND e.ts < w.t1
      GROUP BY window_id
      ORDER BY window_id"""))

  /** GROUPING SETS distinct from rollup/cube: chosen group combos
    * only, with grouping() flags disambiguating the null rows. */
  val qGroupingSets: QueryDef = QueryDef(
    fn = (s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               count(*) AS n, round(sum(o_totalprice), 4) AS spend
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY g_prio, g_status, o_orderpriority, o_orderstatus""")
    },
    oracle = Some("""
      SELECT o_orderpriority, o_orderstatus,
             CAST(grouping(o_orderpriority) AS INT) AS g_prio,
             CAST(grouping(o_orderstatus) AS INT) AS g_status,
             count(*) AS n, round(sum(o_totalprice), 4) AS spend
      FROM orders
      GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      ORDER BY g_prio, g_status, o_orderpriority, o_orderstatus"""))

  /** The gaps-and-islands SCD-2 oracle CTE chain (DuckDB dialect),
    * shared by q_scd2 and the streaming s_scd2 oracle so the two stay
    * in lockstep: `s` is the full interval table — append a SELECT
    * over it. The valid_to lead orders by `grp` (the island sequence
    * number), matching the Spark side: ordering by valid_from_ms
    * would tie when two same-user type changes truncate to the same
    * millisecond, making the pairing engine-dependent. */
  val scd2IslandsSql: String = """
      WITH e AS (
        SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms
        FROM events),
      m AS (
        SELECT *, CASE WHEN lag(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts_ms, event_id) = event_type
               THEN 0 ELSE 1 END AS chg
        FROM e),
      g AS (
        SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS grp
        FROM m),
      i AS (
        SELECT user_id, grp, max(event_type) AS event_type,
               min(ts_ms) AS valid_from_ms,
               CAST(count(*) AS BIGINT) AS n_events
        FROM g GROUP BY user_id, grp),
      s AS (
        SELECT user_id, event_type, valid_from_ms,
               lead(valid_from_ms) OVER (PARTITION BY user_id
                                         ORDER BY grp) AS valid_to_ms,
               n_events
        FROM i)"""

  /** SCD-2 validity intervals (temporal versioning): collapse each
    * user's consecutive run of equal `event_type` into one row with
    * `[valid_from, valid_to)` — the warehouse "slowly changing
    * dimension type 2" build, via gaps-and-islands. The change marker
    * (lag), the island id (running sum), the island aggregate, and
    * the valid_to lead all key on `user_id` — the island groupBy's
    * ClusteredDistribution on (user_id, grp) is satisfied by the
    * window's hashpartitioning(user_id), so the whole build is ONE
    * hash exchange (PlanSpec-pinned). The open (current) interval
    * surfaces as a NULL valid_to, as SCD-2 defines it. */
  val qScd2: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000000").as("ts_ms"))
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val islands = ev
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(wOrd) === col("event_type"),
            lit(0L)).otherwise(lit(1L)))
        .withColumn("grp", sum(col("chg")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("grp"))
        .agg(max(col("event_type")).as("event_type"),
          min(col("ts_ms")).as("valid_from_ms"),
          count(lit(1)).as("n_events"))
      islands
        // lead over grp, not valid_from_ms: grp is the island sequence
        // number, so succession stays deterministic even when two
        // same-user type changes land on the same truncated millisecond
        // (valid_from ties would make an ORDER BY valid_from_ms lead
        // pairing partition-order-dependent)
        .withColumn("valid_to_ms",
          lead(col("valid_from_ms"), 1).over(Window.partitionBy(col("user_id"))
            .orderBy(col("grp"))))
        .select(col("user_id"), col("event_type"), col("valid_from_ms"),
          col("valid_to_ms"), col("n_events"))
        .orderBy(col("user_id"), col("valid_from_ms"), col("valid_to_ms"))
    },
    oracle = Some(scd2IslandsSql + """
      SELECT user_id, event_type, valid_from_ms, valid_to_ms, n_events
      FROM s ORDER BY user_id, valid_from_ms, valid_to_ms"""))

  /** q_scd2_asof — TIME TRAVEL over the SCD-2 dimension: "every
    * user's state AS OF T" answered from the interval table alone
    * (valid_from ≤ T < valid_to, open intervals unbounded) — the
    * query the whole SCD-2 family exists to serve (build [[qScd2]],
    * maintain [[qScd2Incremental]], stream s_scd2, ask THIS). T =
    * 2024-01-15T00:00Z mid-history so both closed and open intervals
    * answer. At 100 TB the interval table is islands-sized and the
    * point-in-time filter prunes before any shuffle; exactly one row
    * per user active by T (intervals partition each user's timeline —
    * spec-pinned). */
  val qScd2Asof: QueryDef = QueryDef(
    fn = (s, dir) => {
      val T = 1705276800000L
      qScd2.fn(s, dir)
        .filter(col("valid_from_ms") <= T &&
          (col("valid_to_ms").isNull || col("valid_to_ms") > T))
        .select(col("user_id"), col("event_type"),
          col("valid_from_ms"), col("valid_to_ms"))
        .orderBy(col("user_id"))
    },
    oracle = Some(scd2IslandsSql + """
      SELECT user_id, event_type, valid_from_ms, valid_to_ms
      FROM s
      WHERE valid_from_ms <= 1705276800000
        AND (valid_to_ms IS NULL OR valid_to_ms > 1705276800000)
      ORDER BY user_id"""))

  /** q_rolling_median — trailing-7-day ROLLING MEDIAN of daily event
    * volumes per type: the robust companion to [[qForecast]]'s mean
    * smoothing (a single outlier day drags SES; the median shrugs).
    * Rolling QUANTILES have no distributed shortcut like the
    * rolling-sum prefix trick — the standard plan is exactly this: a
    * bounded self-join of the (type × day) bucket table against its
    * own trailing week (≤7 rows per bucket, calendar-bounded), then
    * lower-median by rank selection (integer, the qSpike discipline —
    * no float percentile to sync). The corpus-sized work remains the
    * one count aggregate. */
  val qRollingMedian: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cnt = t(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val win = cnt.as("a").join(cnt.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.day") >= col("a.day") - 6 && col("b.day") <= col("a.day"))
        .select(col("a.event_type").as("event_type"), col("a.day").as("day"),
          col("a.n").as("n"), col("b.n").as("bn"), col("b.day").as("bday"))
      val w = Window.partitionBy(col("event_type"), col("day"))
      val r = win
        .withColumn("rn", row_number().over(
          w.orderBy(col("bn"), col("bday"))))
        .withColumn("m", count(lit(1)).over(w))
      r.filter(col("rn") === expr("(m + 1) div 2"))
        .select(col("event_type"), col("day"), col("n"),
          col("bn").as("med7"))
        .orderBy(col("event_type"), col("day"))
    },
    oracle = Some("""
      WITH cnt AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, day),
      win AS (
        SELECT a.event_type, a.day, a.n, b.n AS bn, b.day AS bday
        FROM cnt a JOIN cnt b
          ON a.event_type = b.event_type
         AND b.day BETWEEN a.day - 6 AND a.day),
      r AS (
        SELECT event_type, day, n, bn,
               row_number() OVER (PARTITION BY event_type, day
                 ORDER BY bn, bday) AS rn,
               count(*) OVER (PARTITION BY event_type, day) AS m
        FROM win)
      SELECT event_type, day, n, bn AS med7
      FROM r WHERE rn = (m + 1) // 2
      ORDER BY event_type, day"""))

  /** q_funnel_time — TIME-TO-CONVERT percentiles between funnel
    * stages (the metric next to [[qFunnel]]'s conversion counts: not
    * "how many converted" but "how long it took"): per user, first
    * view → first click-after-view → first purchase-after-click
    * deltas in integer minutes, rolled up to n / lower-median / p90
    * per stage pair by rank selection (the qSpike integer-median
    * discipline — no float percentile to sync across engines). Every
    * shuffle user-sized; the rank windows run over the per-user delta
    * table (≤1 row per user per stage pair). */
  val qFunnelTime: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000000").as("ts_ms"))
      def firstAfter(df: DataFrame, typ: String, afterCol: String,
          outCol: String): DataFrame =
        df.join(ev.filter(col("event_type") === typ)
            .select(col("user_id"), col("ts_ms").as("_t")), Seq("user_id"))
          .filter(col("_t") >= col(afterCol))
          .groupBy(df.columns.map(col).toIndexedSeq: _*)
          .agg(min(col("_t")).as(outCol))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_view"))
      val vc = firstAfter(v, "click", "t_view", "t_click")
      val vcp = firstAfter(vc, "purchase", "t_click", "t_purchase")
      val deltas = vc.select(lit("view>click").as("stage_pair"),
          col("user_id"), ((col("t_click") - col("t_view")) / 60000L)
            .cast("long").as("mins"))
        .unionAll(vcp.select(lit("click>purchase").as("stage_pair"),
          col("user_id"), ((col("t_purchase") - col("t_click")) / 60000L)
            .cast("long").as("mins")))
        .unionAll(vcp.select(lit("view>purchase").as("stage_pair"),
          col("user_id"), ((col("t_purchase") - col("t_view")) / 60000L)
            .cast("long").as("mins")))
      val w = Window.partitionBy(col("stage_pair"))
      val r = deltas
        .withColumn("rn", row_number().over(
          w.orderBy(col("mins"), col("user_id"))))
        .withColumn("m", count(lit(1)).over(w))
      r.groupBy(col("stage_pair"))
        .agg(max(col("m")).as("n_users"),
          max(when(col("rn") === expr("(m + 1) div 2"), col("mins")))
            .as("med_mins"),
          max(when(col("rn") === expr("(m * 9 + 9) div 10"), col("mins")))
            .as("p90_mins"))
        .orderBy(col("stage_pair"))
    },
    oracle = Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      v AS (
        SELECT user_id, min(ts_ms) AS t_view
        FROM ev WHERE event_type = 'view' GROUP BY user_id),
      vc AS (
        SELECT v.user_id, t_view, min(e.ts_ms) AS t_click
        FROM v JOIN ev e ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts_ms >= t_view
        GROUP BY v.user_id, t_view),
      vcp AS (
        SELECT vc.user_id, t_view, t_click, min(e.ts_ms) AS t_purchase
        FROM vc JOIN ev e ON e.user_id = vc.user_id
        WHERE e.event_type = 'purchase' AND e.ts_ms >= t_click
        GROUP BY vc.user_id, t_view, t_click),
      deltas AS (
        SELECT 'view>click' AS stage_pair, user_id,
               (t_click - t_view) // 60000 AS mins FROM vc
        UNION ALL
        SELECT 'click>purchase', user_id,
               (t_purchase - t_click) // 60000 FROM vcp
        UNION ALL
        SELECT 'view>purchase', user_id,
               (t_purchase - t_view) // 60000 FROM vcp),
      r AS (
        SELECT stage_pair, mins,
               row_number() OVER (PARTITION BY stage_pair
                 ORDER BY mins, user_id) AS rn,
               count(*) OVER (PARTITION BY stage_pair) AS m
        FROM deltas)
      SELECT stage_pair, CAST(max(m) AS BIGINT) AS n_users,
             CAST(max(CASE WHEN rn = (m + 1) // 2 THEN mins END)
               AS BIGINT) AS med_mins,
             CAST(max(CASE WHEN rn = (m * 9 + 9) // 10 THEN mins END)
               AS BIGINT) AS p90_mins
      FROM r GROUP BY stage_pair ORDER BY stage_pair"""))

  /** q_histogram — equi-width HISTOGRAM of order totals per market
    * segment (the dashboard/profiling primitive): 10 buckets over the
    * GLOBAL [min, max] cents range so segments are comparable, bucket
    * assignment in pure integer algebra (no width_bucket semantics to
    * sync between engines), edges emitted so the chart is
    * self-describing. One pass for the 1-row range (broadcast back),
    * one partial-first count aggregate — the corpus never shuffles
    * beyond the (segment × 10) matrix. */
  val qHistogram: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ord = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"),
          expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
      val range = ord.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      ord.crossJoin(broadcast(range))
        .withColumn("bucket",
          least(lit(9L), expr("(cents - lo) * 10 div (hi - lo + 1)")))
        .groupBy(col("c_mktsegment"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          max(expr("lo + bucket * ((hi - lo + 1) div 10)")).as("edge_lo"))
        .orderBy(col("c_mktsegment"), col("bucket"))
    },
    oracle = Some("""
      WITH ord AS (
        SELECT c_mktsegment,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey),
      rng AS (SELECT min(cents) AS lo, max(cents) AS hi FROM ord),
      b AS (
        SELECT c_mktsegment,
               least(9, (cents - lo) * 10 // (hi - lo + 1)) AS bucket,
               lo, hi
        FROM ord CROSS JOIN rng)
      SELECT c_mktsegment, bucket, count(*) AS n,
             CAST(max(lo + bucket * ((hi - lo + 1) // 10)) AS BIGINT)
               AS edge_lo
      FROM b GROUP BY c_mktsegment, bucket
      ORDER BY c_mktsegment, bucket"""))

  /** INCREMENTAL SCD-2 maintenance: merge a late delta batch into an
    * existing interval table, touching only the keys the delta names —
    * the nightly-batch pattern that keeps a 100 TB dimension current
    * without re-reading its event history.
    *
    * The split is deterministic (t0 = lo + 4·(hi−lo)/5 of the event
    * time range, integer ms): events before t0 play the accumulated
    * history, the rest the delta. The base SCD-2 table is built once;
    * untouched users' intervals PASS THROUGH by anti-join; affected
    * users rebuild from the COMPRESSED representation — each base
    * interval re-enters the island machine as one pseudo-event
    * weighted by its n_events (adjacent base islands differ by
    * construction, so they never re-merge with each other; only the
    * last island can absorb same-type delta events). The result is
    * provably identical to a full rebuild — which is exactly what the
    * oracle computes (the q_scd2 islands SQL over ALL events) — while
    * the incremental plan reads the interval table (islands-sized) +
    * the delta, never the base events, and every shuffle keys on
    * user_id. Island-start order is (ts_ms, first event id) with
    * first_eid = min_by(event_id, (ts, id)), so the pseudo-event sort
    * reproduces the original island sequence even when two type
    * changes land on one truncated millisecond. */
  val qScd2Incremental: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000000").as("ts_ms"))
      val bounds = ev.agg(min(col("ts_ms")).as("lo"), max(col("ts_ms")).as("hi"))
      val evB = ev.crossJoin(broadcast(bounds))
        .withColumn("t0", expr("lo + ((hi - lo) * 4) div 5"))
      val base = evB.filter(col("ts_ms") < col("t0"))
        .withColumn("w", lit(1L))
      val delta = evB.filter(col("ts_ms") >= col("t0"))
        .withColumn("w", lit(1L))
      def islandsW(e: DataFrame): DataFrame = {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"), col("event_id"))
        e.withColumn("chg",
          when(lag(col("event_type"), 1).over(wOrd) === col("event_type"),
            lit(0L)).otherwise(lit(1L)))
          .withColumn("grp", sum(col("chg")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("grp"))
          .agg(max(col("event_type")).as("event_type"),
            min(col("ts_ms")).as("valid_from_ms"),
            sum(col("w")).as("n_events"),
            expr("min_by(event_id, struct(ts_ms, event_id))").as("first_eid"))
      }
      val baseIv = islandsW(base)
      val touched = delta.select(col("user_id")).distinct()
      val untouched = baseIv.join(touched, Seq("user_id"), "left_anti")
      val pseudo = baseIv.join(touched, Seq("user_id"))
        .select(col("user_id"), col("event_type"),
          col("valid_from_ms").as("ts_ms"), col("first_eid").as("event_id"),
          col("n_events").as("w"))
      val rebuilt = islandsW(pseudo.unionByName(
        delta.select(col("user_id"), col("event_type"), col("ts_ms"),
          col("event_id"), col("w"))))
      val all = untouched.unionByName(rebuilt)
      all
        .withColumn("valid_to_ms",
          lead(col("valid_from_ms"), 1).over(Window.partitionBy(col("user_id"))
            .orderBy(col("valid_from_ms"), col("first_eid"))))
        .select(col("user_id"), col("event_type"), col("valid_from_ms"),
          col("valid_to_ms"), col("n_events"))
        .orderBy(col("user_id"), col("valid_from_ms"), col("valid_to_ms"))
    },
    oracle = Some(scd2IslandsSql + """
      SELECT user_id, event_type, valid_from_ms, valid_to_ms, n_events
      FROM s ORDER BY user_id, valid_from_ms, valid_to_ms"""))

  /** Ordered-stage funnel: users who did view, then click AFTER that
    * first view, then purchase AFTER that first qualifying click —
    * the product-analytics conversion query. Each stage is a per-user
    * min-timestamp aggregate joined to the previous stage's survivors
    * (all keyed on user_id — every shuffle in the plan is user-sized,
    * never event-sized, and each stage's filter pushes to the scan).
    * Output is the 3-row stage table of surviving user counts. */
  val qFunnel: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000000").as("ts_ms"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_ms") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_ms") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t3"))
      def stage(df: DataFrame, n: Int, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(n.toLong).as("stage"), lit(name).as("event_type"),
            col("n_users"))
      stage(v, 1, "view").unionAll(stage(c, 2, "click"))
        .unionAll(stage(p, 3, "purchase"))
        .orderBy(col("stage"))
    },
    oracle = Some("""
      WITH e AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      v AS (
        SELECT user_id, min(ts_ms) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, min(ts_ms) AS t2 FROM e JOIN v USING (user_id)
        WHERE event_type = 'click' AND ts_ms > t1 GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, min(ts_ms) AS t3 FROM e JOIN c USING (user_id)
        WHERE event_type = 'purchase' AND ts_ms > t2 GROUP BY e.user_id)
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
               CAST(count(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM c
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM p)
      ORDER BY stage"""))

  /** Cohort retention matrix: users bucketed by the week of their
    * first `signup` event, counted as active in each later week —
    * (cohort_week, week_offset, n_users), the product-analytics
    * retention triangle. Weeks are integer epoch-week indexes
    * (ts_ms div 604800000) — engine-identical integer division, no
    * date-truncation semantics to keep in sync between engines. The
    * cohort table (one row per user) and the distinct activity table
    * (user x week) are both user-keyed, so every shuffle is user- or
    * matrix-sized, never event-sized. */
  val qCohort: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("(ts div 1000000) div 604800000").as("wk"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
      val active = ev.select(col("user_id"), col("wk")).distinct()
      active.join(cohort, "user_id")
        .filter(col("wk") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (col("wk") - col("cohort_week")).as("week_offset"))
        // active is distinct per (user, wk) and each user has exactly
        // one cohort_week, so user_id is already unique within every
        // (cohort_week, offset) group: plain count avoids the two-phase
        // distinct aggregation — the oracle keeps COUNT(DISTINCT) as an
        // independent check of that uniqueness argument
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    oracle = Some("""
      WITH e AS (
        SELECT user_id, event_type, epoch_ms(ts) // 604800000 AS wk
        FROM events),
      cohort AS (
        SELECT user_id, min(wk) AS cohort_week FROM e
        WHERE event_type = 'signup' GROUP BY user_id),
      active AS (SELECT DISTINCT user_id, wk FROM e)
      SELECT cohort_week, wk - cohort_week AS week_offset,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM active JOIN cohort USING (user_id)
      WHERE wk >= cohort_week
      GROUP BY cohort_week, week_offset
      ORDER BY cohort_week, week_offset"""))

  /** CDC MERGE (upsert) semantics as a batch operator: a deterministic
    * change batch — updates re-pricing every 10th order plus inserts
    * at fresh (negated) keys — merged into the orders base table.
    * Spark shape: one left_anti join evicts the updated keys, then
    * unionByName appends the change rows — key-partitioned shuffle,
    * no window, no broadcast of either full side, which is the MERGE
    * plan that survives a base table too big to broadcast. The oracle
    * replays the same upsert with NOT IN + UNION ALL. */
  val qMerge: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = Tables.load(s, dir, "orders")
      val updates = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val inserts = base.filter(col("o_orderkey") % 97 === 0)
        // -(k+1), not -k: the generator's keys start at 0 and -0 would
        // collide with the base row it came from
        .withColumn("o_orderkey", (col("o_orderkey") + 1) * -1)
        .withColumn("o_orderstatus", lit("N"))
      mergeUpsert(base, updates.unionByName(inserts), "o_orderkey")
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      WITH upserts AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT -(o_orderkey + 1), o_custkey, 'N', o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0)
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM (
        SELECT * FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upserts)
        UNION ALL SELECT * FROM upserts)
      ORDER BY o_orderkey"""))

  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * Spark's hll_sketch_agg/hll_union_agg): per-nation customer
    * sketches built in one pass, UNIONED — not recounted — into the
    * global estimate. The production shape for 100 TB distinct
    * counting: per-partition/per-day sketches are tiny (KBs),
    * mergeable across any grouping after the data is gone, and never
    * re-scan the corpus. Sketch bytes aren't SQL-replayable, so the
    * driver row is the CONTRACT: the union estimate must land within
    * the documented ±3% of the exact count (HLL lgK=12 standard error
    * ~0.8%, 3% ≈ 3.7σ), plus exact per-group estimates at small
    * cardinalities — the oracle pins the exact counts and TRUE. */
  val qHllSketch: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cust = t(s, dir, "customer")
      val perNation = cust.groupBy(col("c_nationkey"))
        .agg(expr("hll_sketch_agg(c_custkey, 12)").as("sk"),
          countDistinct(col("c_custkey")).as("n_exact_grp"))
      val merged = perNation.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"),
        count(lit(1)).as("n_nations"),
        max(abs(expr("hll_sketch_estimate(sk)") - col("n_exact_grp"))
          / col("n_exact_grp")).as("grp_err"))
      val exact = cust.agg(countDistinct(col("c_custkey")).as("n_exact"))
      exact.crossJoin(merged)
        .select(col("n_exact"), col("n_nations"),
          (abs(col("est") - col("n_exact")) / col("n_exact") <= 0.03)
            .as("union_ok"),
          (col("grp_err") <= 0.03).as("groups_ok"))
    },
    oracle = Some("""
      SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_exact,
             CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
             TRUE AS union_ok, TRUE AS groups_ok
      FROM customer"""))

  /** Mergeable quantile sketch contract: approx_percentile at
    * accuracy 10000 carries a RANK-error guarantee (≤ 1/accuracy of
    * n, plus discretization at repeated values) — so the contract
    * checks the honest property: the rank of each approximate
    * quantile lands within 1% of the target rank. Rank re-derivation
    * is one broadcast of 4 scalar values against a count aggregate —
    * no second sort. The 100 TB story: quantile sketches are
    * map-side-combined and mergeable, where exact quantiles
    * (q_percentiles) cost a full shuffle of distinct values. */
  val qQuantileSketch: QueryDef = QueryDef(
    fn = (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("v"))
      val approx = li.agg(expr(
        "approx_percentile(v, array(0.25, 0.5, 0.75, 0.95), 10000)").as("ap"))
      val checked = li.crossJoin(broadcast(approx))
        .select(col("v"), col("ap"))
        .agg(count(lit(1)).as("n_rows"),
          (Seq(0, 1, 2, 3).map { i =>
            sum(when(col("v") <= col("ap")(i), 1L).otherwise(0L))
          } zip Seq(0.25, 0.5, 0.75, 0.95)).map { case (rank, p) =>
            (abs(rank / count(lit(1)).cast("double") - p) <= 0.01)
          }.reduce(_ && _).as("ranks_ok"))
      checked.select(col("n_rows"), col("ranks_ok"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_rows, TRUE AS ranks_ok
      FROM lineitem"""))

  /** RANGE-frame window: 30-day trailing order count + revenue per
    * customer — the moving-aggregate frame ROWS BETWEEN cannot
    * express (the frame is bounded by VALUE distance on the ordering
    * key, so same-day orders enter together and gaps shrink the
    * frame). Partitioned by customer: per-key frames, no global
    * window. Revenue rounds at 4dp per the float-aggregate
    * convention. */
  val qWindowRange: QueryDef = QueryDef(
    fn = (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day"))
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          expr("unix_date(cast(o_orderdate as date))").cast("long").as("day"))
        .withColumn("n_30d", count(lit(1)).over(w))
        .withColumn("rev_30d", round(sum(col("o_totalprice")).over(w), 4))
        .select(col("o_custkey"), col("o_orderkey"), col("day"),
          col("n_30d"), col("rev_30d"))
        .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_custkey, o_orderkey, CAST(date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(count(*) OVER w AS BIGINT) AS n_30d,
             round(sum(o_totalprice) OVER w, 4) AS rev_30d
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY date_diff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE))
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, day, o_orderkey"""))

  /** Hierarchy flattening over a synthetic parent-pointer forest on
    * the customer keys (chains of 100: parent = key−1 except at
    * multiples of 100, which root themselves): every node resolved to
    * (root_id, depth) by [[Hierarchy.resolveRoots]]' pointer jumping —
    * ~7 doubling rounds where a recursive walk (the oracle's
    * recursive CTE — Spark has no recursive SQL) takes 100 steps. The
    * org-chart/BOM/category-tree flattening a warehouse runs to make
    * hierarchical rollups joinable. */
  val qHierarchy: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = t(s, dir, "customer")
        .select(col("c_custkey").as("id"),
          when(col("c_custkey") % 100 === 0, col("c_custkey"))
            .otherwise(col("c_custkey") - 1).as("parent"))
      Hierarchy.resolveRoots(nodes, "id", "parent")
        .orderBy(col("id"))
    },
    oracle = Some("""
      WITH RECURSIVE n AS (
        SELECT c_custkey AS id,
               CASE WHEN c_custkey % 100 = 0 THEN c_custkey
                    ELSE c_custkey - 1 END AS parent
        FROM customer),
      walk AS (
        SELECT id, id AS cur, 0 AS depth FROM n
        UNION ALL
        SELECT w.id, nn.parent, w.depth + 1
        FROM walk w JOIN n nn ON w.cur = nn.id
        WHERE nn.parent <> nn.id)
      SELECT id, CAST(cur AS BIGINT) AS root_id,
             CAST(depth AS BIGINT) AS depth
      FROM (SELECT *, row_number() OVER (PARTITION BY id
              ORDER BY depth DESC) AS rn FROM walk)
      WHERE rn = 1
      ORDER BY id"""))

  /** Last-touch marketing attribution: each purchase credits the most
    * recent click/view by the same user within a 30-minute lookback,
    * else 'direct'. The classic event-log asof pattern done with ONE
    * pass and ONE keyed window (partition = user_id, order =
    * (ts_ms, event_id)): the candidate touch rides the frame as a
    * single BIGINT `ts_ms·10 + channel_code` (ms ~1.7e12, so the
    * encoding tops out ~1.7e13 — five orders under 2^63), which keeps
    * the "latest qualifying row" selection inside one codegen'd
    * last(IGNORE NULLS) instead of a range self-join. Revenue sums in
    * integer cents (floor(value·100) — IEEE multiply is
    * correctly-rounded, so both engines floor the same double).
    *
    * Scale: the window keys on user_id (corpus-cardinality, no hot
    * partition); the final aggregate is 3 groups. */
  val qAttribution: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), expr("ts div 1000000").as("ts_ms"))
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev
        .withColumn("enc",
          when(col("event_type") === "click", col("ts_ms") * 10 + 1)
            .when(col("event_type") === "view", col("ts_ms") * 10 + 2))
        .withColumn("last_touch", last(col("enc"), ignoreNulls = true)
          .over(wPrev))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("last_touch").isNotNull &&
              col("ts_ms") - expr("last_touch div 10") <= 1800000L,
            when(col("last_touch") % 10 === 1, lit("click"))
              .otherwise(lit("view")))
            .otherwise(lit("direct")))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 100).cast("long")).as("revenue_cents"))
        .orderBy(col("channel"))
    },
    oracle = Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type, value,
               epoch_ms(ts) AS ts_ms
        FROM events),
      enc AS (
        SELECT *,
               CASE WHEN event_type = 'click' THEN ts_ms * 10 + 1
                    WHEN event_type = 'view'  THEN ts_ms * 10 + 2
               END AS e,
               last_value(CASE WHEN event_type = 'click' THEN ts_ms * 10 + 1
                               WHEN event_type = 'view'  THEN ts_ms * 10 + 2
                          END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_touch
        FROM ev),
      p AS (
        SELECT CASE WHEN last_touch IS NOT NULL
                     AND ts_ms - last_touch // 10 <= 1800000
                    THEN CASE WHEN last_touch % 10 = 1 THEN 'click'
                              ELSE 'view' END
                    ELSE 'direct' END AS channel,
               user_id, value
        FROM enc WHERE event_type = 'purchase')
      SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM p GROUP BY channel ORDER BY channel"""))

  /** Rate-spike detection on the event stream: hourly counts per
    * event_type flagged against that type's median + 3·MAD — the
    * robust anomaly gate an ops pipeline runs over ingest volumes.
    * Median and MAD are LOWER medians picked by row_number at position
    * (m+1) div 2 over the sorted counts — rank selection, not
    * interpolation, so both engines pick the identical integer and no
    * float percentile enters the plan.
    *
    * Scale: the raw aggregation is keyed on (event_type, hour) —
    * corpus-sized input, bounded output (types × hours). The two
    * per-type windows run over THAT bounded table (hours grow with
    * calendar time, not data volume — ~9k rows/type/year), the same
    * bounded-window argument as t_vocab's TakeOrdered tail. */
  val qSpike: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cnt = t(s, dir, "events")
        .select(col("event_type"), expr("(ts div 1000000) div 3600000").as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val wType = Window.partitionBy(col("event_type"))
      def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame =
        df.withColumn("rn", row_number().over(
            wType.orderBy(col(valueCol), col("bucket"))))
          .withColumn("m", count(lit(1)).over(wType))
          .filter(col("rn") === expr("(m + 1) div 2"))
          .select(col("event_type"), col(valueCol).as(out))
      val med = lowerMedian(cnt, "n", "med")
      val dev = cnt.join(med, "event_type")
        .withColumn("ad", abs(col("n") - col("med")))
      val mad = lowerMedian(dev, "ad", "mad")
      cnt.join(med, "event_type").join(mad, "event_type")
        .withColumn("is_spike", col("n") > col("med") + lit(3) * col("mad"))
        .select(col("event_type"), col("bucket"), col("n"), col("med"),
          col("mad"), col("is_spike"))
        .orderBy(col("event_type"), col("bucket"))
    },
    oracle = Some("""
      WITH cnt AS (
        SELECT event_type, epoch_ms(ts) // 3600000 AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      med AS (
        SELECT event_type, n AS med FROM (
          SELECT event_type, n, bucket,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY n, bucket) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS m
          FROM cnt)
        WHERE rn = (m + 1) // 2),
      dev AS (
        SELECT c.event_type, c.bucket, abs(c.n - m.med) AS ad
        FROM cnt c JOIN med m USING (event_type)),
      mad AS (
        SELECT event_type, ad AS mad FROM (
          SELECT event_type, ad, bucket,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY ad, bucket) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS m
          FROM dev)
        WHERE rn = (m + 1) // 2)
      SELECT c.event_type, c.bucket, c.n, m.med, d.mad,
             c.n > m.med + 3 * d.mad AS is_spike
      FROM cnt c JOIN med m USING (event_type) JOIN mad d USING (event_type)
      ORDER BY c.event_type, c.bucket"""))

  /** Multi-touch (linear) attribution — the fractional-credit
    * companion to [[qAttribution]]'s last-touch: every click/view in
    * the 30-minute lookback (inclusive of the purchase millisecond)
    * shares the purchase's 1000 milli-credits proportionally;
    * remainder milli-credits fall to the view share (1000 − click −
    * direct), so credits sum to exactly 1000 per purchase and the
    * totals are BIGINT-exact. Touch counts come from ONE RANGE-frame
    * window per channel (value-distance frame over ts_ms — no
    * purchase×touch range join materializes).
    *
    * Scale: the window keys on user_id; the final aggregate is one
    * 1-row rollup of three integer sums. */
  val qAttributionMulti: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000000").as("ts_ms"))
      val wRange = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
        .rangeBetween(-1800000L, 0L)
      val p = ev
        .withColumn("n_click", sum(when(col("event_type") === "click", 1L)
          .otherwise(0L)).over(wRange))
        .withColumn("n_view", sum(when(col("event_type") === "view", 1L)
          .otherwise(0L)).over(wRange))
        .filter(col("event_type") === "purchase")
        .withColumn("n_t", col("n_click") + col("n_view"))
        .withColumn("click_milli",
          when(col("n_t") > 0, expr("(1000 * n_click) div n_t"))
            .otherwise(0L))
        .withColumn("direct_milli", when(col("n_t") === 0, 1000L)
          .otherwise(0L))
        .withColumn("view_milli",
          lit(1000L) - col("click_milli") - col("direct_milli"))
      p.agg(count(lit(1)).as("n_purchases"),
          sum(col("click_milli")).as("click_milli"),
          sum(col("view_milli")).as("view_milli"),
          sum(col("direct_milli")).as("direct_milli"))
        .withColumn("milli_total",
          col("click_milli") + col("view_milli") + col("direct_milli"))
    },
    oracle = Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        FROM events),
      w AS (
        SELECT *,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 OVER r AS n_click,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 OVER r AS n_view
        FROM ev
        WINDOW r AS (PARTITION BY user_id ORDER BY ts_ms
                     RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)),
      p AS (
        SELECT n_click, n_view, n_click + n_view AS n_t,
               CASE WHEN n_click + n_view > 0
                    THEN (1000 * n_click) // (n_click + n_view)
                    ELSE 0 END AS click_milli,
               CASE WHEN n_click + n_view = 0 THEN 1000 ELSE 0 END
                 AS direct_milli
        FROM w WHERE event_type = 'purchase')
      SELECT CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(sum(click_milli) AS BIGINT) AS click_milli,
             CAST(sum(1000 - click_milli - direct_milli) AS BIGINT)
               AS view_milli,
             CAST(sum(direct_milli) AS BIGINT) AS direct_milli,
             CAST(count(*) * 1000 AS BIGINT) AS milli_total
      FROM p"""))

  /** Full MERGE semantics — [[qMerge]] plus the DELETE clause:
    * matched keys in the delete set drop, matched keys in the update
    * set rewrite (DELETE takes precedence when both match, the ANSI
    * first-clause-wins order), unmatched inserts append. The plan
    * stays the unbroadcastable-base shape: ONE left_anti on the
    * combined touched-key set + union of the surviving upserts — the
    * base table is read once and never broadcast.
    */
  val qMergeDelete: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = Tables.load(s, dir, "orders")
      val deleteKeys = base.filter(col("o_orderkey") % 13 === 7)
        .select(col("o_orderkey"))
      val updates = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        // DELETE precedence: an update whose key also matches the
        // delete predicate never survives
        .filter(!(col("o_orderkey") % 13 === 7))
      val inserts = base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", (col("o_orderkey") + 1) * -1)
        .withColumn("o_orderstatus", lit("N"))
      val upserts = updates.unionByName(inserts)
      val touched = upserts.select(col("o_orderkey"))
        .union(deleteKeys)
      base.join(touched, Seq("o_orderkey"), "left_anti")
        .unionByName(upserts)
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      WITH dels AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 13 = 7),
      upserts AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 13 <> 7
        UNION ALL
        SELECT -(o_orderkey + 1), o_custkey, 'N', o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0)
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM (
        SELECT * FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upserts)
          AND o_orderkey NOT IN (SELECT o_orderkey FROM dels)
        UNION ALL SELECT * FROM upserts)
      ORDER BY o_orderkey"""))

  /** Library MERGE core shared by the q_merge* family: evict the
    * change batch's keys from the base with ONE left_anti join, then
    * append the change rows — key-partitioned shuffle, no window, and
    * neither side broadcast, the plan that survives a base table too
    * big to broadcast. With `evolve = true` the change batch may ADD
    * columns the base lacks (the next thing a production MERGE
    * pipeline hits after upserts: a source team ships a new field):
    * the output schema is the union-by-name of both sides, absent
    * slots null. With `evolve = false` (default) a schema mismatch
    * fails at plan time — silent widening is opt-in, never implied. */
  def mergeUpsert(base: DataFrame, upserts: DataFrame, key: String,
      evolve: Boolean = false): DataFrame =
    base.join(upserts.select(col(key)), Seq(key), "left_anti")
      .unionByName(upserts, allowMissingColumns = evolve)

  /** q_merge_evolve — MERGE with SCHEMA EVOLUTION: the change batch
    * carries a column the base table has never seen (`o_channel`,
    * stamped by the new ingestion path), and the merge widens the
    * table — untouched base rows read null, updated rows 'backfill',
    * inserted rows 'api'. Same eviction/append plan as [[qMerge]]
    * via [[mergeUpsert]] with `evolve = true`; the oracle replays
    * the widening with an explicit CAST(NULL AS VARCHAR) leg. */
  val qMergeEvolve: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = Tables.load(s, dir, "orders")
      val updates = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_channel", lit("backfill"))
      val inserts = base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", (col("o_orderkey") + 1) * -1)
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("o_channel", lit("api"))
      mergeUpsert(base, updates.unionByName(inserts), "o_orderkey",
          evolve = true)
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      WITH upserts AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
               o_orderpriority, 'backfill' AS o_channel
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT -(o_orderkey + 1), o_custkey, 'N', o_totalprice, o_orderdate,
               o_orderpriority, 'api'
        FROM orders WHERE o_orderkey % 97 = 0)
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, o_channel
      FROM (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, CAST(NULL AS VARCHAR) AS o_channel
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upserts)
        UNION ALL SELECT * FROM upserts)
      ORDER BY o_orderkey"""))

  /** q_bloom_join — runtime BLOOM semi-join reduction, the 100 TB
    * join-pruning pattern (Spark's own InjectRuntimeFilter, Trino's
    * dynamic filtering): a selective dimension predicate (URGENT
    * orders in one year, ~5% of orders) folds into a driver bloom
    * once (distributed build under stat.bloomFilter, megabytes for
    * millions of keys), and the FACT SCAN probes it with one
    * codegen'd mightContain BEFORE the shuffle — only surviving
    * lineitem rows (true matches + the 1% false-positive dribble) are
    * ever exchanged, where the plain join shuffles the whole fact
    * table. Bloom errors are one-sided (members never rejected), so
    * the exact join downstream makes the result byte-identical to the
    * unpruned plan — which is exactly what the oracle checks. */
  val qBloomJoin: QueryDef = QueryDef(
    fn = (s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-01-01")))
        .select(col("o_orderkey"), col("o_orderdate"))
      val bloom = s.sparkContext.broadcast(
        urgent.stat.bloomFilter("o_orderkey", 1L << 20, 0.01))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .filter(Bridge.column(
          BloomMightContain(Bridge.expression(col("l_orderkey")), bloom)))
      li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("month"))
    },
    oracle = Some("""
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1996-01-01'
      GROUP BY 1 ORDER BY month"""))

  // One materialized base aggregate per (session, sf dir) for
  // q_mv_incremental: the pre-split customer aggregate is written to
  // parquet ONCE and read back, so the query exercises the real
  // incremental-refresh lifecycle (stored partial aggregate + delta
  // merge), not two fresh scans dressed up as one.

  private[operators] def custAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
        max(col("o_orderdate")).as("last_order"))

  private[operators] val MvSplit = "1997-01-01"

  private[graft] def mvBase(s: SparkSession, dir: String): DataFrame =
    graft.Stores.memo(s, ("mvbase", dir)) {
      val path = graft.Stores.tmpDir(s, "mvbase")
      custAgg(t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit(MvSplit))))
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    }

  /** q_mv_incremental — incremental materialized-view maintenance:
    * the per-customer order aggregate (count / total cents / last
    * order date) is REFRESHED from a stored base ([[mvBase]]: the
    * pre-1997 aggregate, written to parquet once and read back) plus
    * the delta partition (1997+ orders), merged by re-aggregating the
    * unioned partials — count and sum merge by sum, max by max. At
    * 100 TB this is the difference between rescanning the full fact
    * history per refresh and scanning ONLY the new partition: the
    * stored MV is customer-sized, the delta is arrival-sized, and the
    * merge is one key-partitioned aggregate over their union. The
    * oracle recomputes the view from scratch — stored-partial + delta
    * must equal the full recompute exactly (cents are integer, dates
    * merge by max, nothing float-ordered), or the refresh path is
    * corrupting the view. */
  val qMvIncremental: QueryDef = QueryDef(
    fn = (s, dir) => {
      val delta = custAgg(t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit(MvSplit))))
      mvBase(s, dir).unionByName(delta)
        .groupBy(col("o_custkey"))
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("total_cents")).as("total_cents"),
          max(col("last_order")).as("last_order"))
        .orderBy(col("o_custkey"))
    },
    oracle = Some("""
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             max(o_orderdate) AS last_order
      FROM orders GROUP BY o_custkey ORDER BY o_custkey"""))

  /** q_theta_sketch — mergeable SET-OPERATION sketches (the KMV /
    * theta-sketch family, Bar-Yossef et al. 2002 / Dasgupta et al.'s
    * DataSketches theta): [[qHllSketch]] answers only COUNT-distinct;
    * the question HLL structurally cannot answer — |A∩B| across two
    * pre-sketched corpora (audience overlap, cross-corpus
    * contamination mass) — is exactly what KMV's sample-based theta
    * form exists for. Each set keeps its k=1024 smallest distinct
    * hash values (the sketch IS a uniform sample below threshold θ =
    * kth hash): |S| ≈ (k−1)·2³²/θ, union sketches merge by keeping
    * the k smallest of the combined samples (the mergeability that
    * makes this a one-pass-per-partition + tiny-merge shape at
    * 100 TB — Spark's sort-limit is per-partition top-k + driver
    * merge, the sketch algebra itself), and intersection estimates
    * from sample agreement below θ* = min(θA, θB). A sketch holding
    * fewer than k values is EXACT (θ = 2³²). Everything is integer
    * (md5-hex → long via the positional-digit device, integer-div
    * estimators), so DuckDB replays estimate-for-estimate. Sets: the
    * distinct order-placing customers of the two date halves.
    * Measured error at k=1024: ≤0.9% (sf0.01) / ≤2.7% (sf0.1) across
    * all four measures vs the ~3.1% RSE theory bound; the pinned
    * contract is err_ppm ≤ 100000 (10%, ≥3.7× margin). */
  val qThetaSketch: QueryDef = QueryDef(
    fn = (s, dir) => {
      val K = 1024
      val H = 4294967296L
      val hexExpr = (1 to 8).map(i =>
        s"(locate(substring(hh, $i, 1), '0123456789abcdef') - 1) * " +
          s"${1L << (4 * (8 - i))}L")
        .mkString("(", " + ", ")")
      def keys(pred: org.apache.spark.sql.Column): DataFrame =
        t(s, dir, "orders").filter(pred)
          .select(col("o_custkey").as("x")).distinct()
          .withColumn("hh",
            md5(concat(lit("theta:"), col("x").cast("string"))))
          .withColumn("h", expr(hexExpr))
          .select(col("x"), col("h"))
          .localCheckpoint(true)
      val a = keys(col("o_orderdate") < to_timestamp(lit("1995-07-01")))
      val b = keys(col("o_orderdate") >= to_timestamp(lit("1995-07-01")))
      // k smallest by (h, x): the x tie-break pins the boundary when
      // two keys collide in the 32-bit hash space
      def sk(df: DataFrame): DataFrame =
        df.orderBy(col("h"), col("x")).limit(K).localCheckpoint(true)
      val (ska, skb) = (sk(a), sk(b))
      val sku = sk(ska.union(skb).distinct())
      def stats(skd: DataFrame, tag: String): DataFrame =
        skd.agg(count(lit(1)).as(s"m_$tag"),
          when(count(lit(1)) < K, lit(H)).otherwise(max(col("h")))
            .as(s"th_$tag"))
      val ex = a.agg(count(lit(1)).as("xa"))
        .crossJoin(b.agg(count(lit(1)).as("xb")))
        .crossJoin(a.select(col("x")).union(b.select(col("x"))).distinct()
          .agg(count(lit(1)).as("xu")))
        .crossJoin(a.join(b.select(col("x")), "x")
          .agg(count(lit(1)).as("xi")))
      val st = stats(ska, "a").crossJoin(stats(skb, "b"))
        .crossJoin(stats(sku, "u"))
        .withColumn("th_i", least(col("th_a"), col("th_b")))
      val mi = ska.join(skb.select(col("x")), "x")
        .crossJoin(st.select(col("th_i").as("thx")))
        .filter(col("h") <= col("thx"))
        .agg(count(lit(1)).as("m_i"))
      def estOf(m: String, th: String) =
        when(col(m) < K, col(m))
          .otherwise(expr(s"((${K - 1} * ${H}L) div $th)"))
      val rows = st.crossJoin(mi).crossJoin(ex)
        .select(
          struct(lit("a").as("measure"),
            estOf("m_a", "th_a").as("est"), col("xa").as("exact")).as("r1"),
          struct(lit("b").as("measure"),
            estOf("m_b", "th_b").as("est"), col("xb").as("exact")).as("r2"),
          struct(lit("union").as("measure"),
            estOf("m_u", "th_u").as("est"), col("xu").as("exact")).as("r3"),
          struct(lit("intersect").as("measure"),
            expr(s"((m_i * ${H}L) div th_i)").as("est"),
            col("xi").as("exact")).as("r4"))
        .select(explode(array(col("r1"), col("r2"), col("r3"), col("r4")))
          .as("r"))
        .select(col("r.measure").as("measure"), col("r.est").as("est"),
          col("r.exact").as("exact"))
      rows
        .withColumn("err_ppm",
          expr("(abs(est - exact) * 1000000) div exact"))
        .withColumn("within_bound", col("err_ppm") <= 100000L)
        .orderBy(col("measure"))
    },
    oracle = Some {
      val hexDuck = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substring(hh, $i, 1)) - 1) * " +
          s"CAST(${1L << (4 * (8 - i))} AS BIGINT)")
        .mkString("(", " + ", ")")
      s"""
      WITH a_keys AS (
        SELECT DISTINCT o_custkey AS x FROM orders
        WHERE o_orderdate < TIMESTAMP '1995-07-01'),
      b_keys AS (
        SELECT DISTINCT o_custkey AS x FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-07-01'),
      ah AS (SELECT x, $hexDuck AS h FROM (
        SELECT x, md5('theta:' || CAST(x AS VARCHAR)) AS hh FROM a_keys)),
      bh AS (SELECT x, $hexDuck AS h FROM (
        SELECT x, md5('theta:' || CAST(x AS VARCHAR)) AS hh FROM b_keys)),
      ska AS (SELECT x, h FROM (
        SELECT x, h, row_number() OVER (ORDER BY h, x) AS rnk FROM ah)
        WHERE rnk <= 1024),
      skb AS (SELECT x, h FROM (
        SELECT x, h, row_number() OVER (ORDER BY h, x) AS rnk FROM bh)
        WHERE rnk <= 1024),
      mu AS (SELECT DISTINCT x, h FROM (
        SELECT x, h FROM ska UNION SELECT x, h FROM skb)),
      sku AS (SELECT x, h FROM (
        SELECT x, h, row_number() OVER (ORDER BY h, x) AS rnk FROM mu)
        WHERE rnk <= 1024),
      sta AS (SELECT CAST(count(*) AS BIGINT) AS m,
        CASE WHEN count(*) < 1024 THEN 4294967296
             ELSE max(h) END AS th FROM ska),
      stb AS (SELECT CAST(count(*) AS BIGINT) AS m,
        CASE WHEN count(*) < 1024 THEN 4294967296
             ELSE max(h) END AS th FROM skb),
      stu AS (SELECT CAST(count(*) AS BIGINT) AS m,
        CASE WHEN count(*) < 1024 THEN 4294967296
             ELSE max(h) END AS th FROM sku),
      thi AS (SELECT least(a.th, b.th) AS th FROM sta a, stb b),
      sti AS (SELECT CAST(count(*) AS BIGINT) AS mi
        FROM ska JOIN (SELECT x FROM skb) USING (x), thi
        WHERE ska.h <= thi.th),
      ex AS (SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM a_keys) AS xa,
        (SELECT CAST(count(*) AS BIGINT) FROM b_keys) AS xb,
        (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT x FROM a_keys UNION SELECT x FROM b_keys)) AS xu,
        (SELECT CAST(count(*) AS BIGINT)
         FROM a_keys JOIN b_keys USING (x)) AS xi),
      rows_(measure, est, exact) AS (
        SELECT 'a', CASE WHEN m < 1024 THEN m
          ELSE (1023 * 4294967296) // th END, xa FROM sta, ex
        UNION ALL
        SELECT 'b', CASE WHEN m < 1024 THEN m
          ELSE (1023 * 4294967296) // th END, xb FROM stb, ex
        UNION ALL
        SELECT 'union', CASE WHEN m < 1024 THEN m
          ELSE (1023 * 4294967296) // th END, xu FROM stu, ex
        UNION ALL
        SELECT 'intersect', (mi * 4294967296) // th, xi
        FROM sti, thi, ex)
      SELECT measure, CAST(est AS BIGINT) AS est, exact,
             CAST((abs(est - exact) * 1000000) // exact AS BIGINT)
               AS err_ppm,
             (abs(est - exact) * 1000000) // exact <= 100000
               AS within_bound
      FROM rows_ ORDER BY measure"""
    })

  /** q_concurrency — interval CONCURRENCY by sweep line (the classic
    * "max concurrent sessions" / resources-in-use-over-time question;
    * the counting sibling of the gaps-and-islands family [[qScd2]]
    * covers): each lineitem is in transit over
    * [ship_day, ship_day + transit], transit content-determined
    * (1 + (orderkey·7 + linenumber) % 28 days — the house
    * construct device standing in for a receipt date the table
    * doesn't carry); the answer is shipments in transit per day.
    * The sweep is the scale story: facts reduce to per-day +1/−1
    * DELTA counts first (two partial-aggregated keyed counts — the
    * only passes over the fact table), and the running sum then runs
    * over the DATE DOMAIN (2528 rows at both SFs — bounded by
    * calendar span, not by data), so the single-partition
    * prefix-sum window is domain-sized, never fact-sized — same
    * argument as [[qZonemap]]'s grid. Max in-transit measured:
    * 438 (sf0.01) / 3946 (sf0.1). */
  val qConcurrency: QueryDef = QueryDef(
    fn = (s, dir) => {
      val day = "unix_micros(cast(l_shipdate as timestamp)) div 86400000000"
      val iv = t(s, dir, "lineitem").select(
        expr(day).as("sday"),
        expr(s"$day + 1 + (l_orderkey * 7 + l_linenumber) % 28").as("eday"))
      val starts = iv.groupBy(col("sday")).agg(count(lit(1)).as("starts"))
        .select(col("sday").as("day"), col("starts"), lit(0L).as("ends"))
      val ends = iv.groupBy(col("eday")).agg(count(lit(1)).as("ends"))
        .select((col("eday") + 1).as("day"), lit(0L).as("starts"),
          col("ends"))
      val agg = starts.unionByName(ends).groupBy(col("day"))
        .agg(sum(col("starts")).as("starts"), sum(col("ends")).as("ends"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      agg.withColumn("active", sum(col("starts") - col("ends")).over(w))
        .select(col("day"), col("starts"), col("ends"), col("active"))
        .orderBy(col("day"))
    },
    oracle = Some("""
      WITH iv AS (
        SELECT epoch(l_shipdate) // 86400 AS sday,
               epoch(l_shipdate) // 86400
                 + 1 + (l_orderkey * 7 + l_linenumber) % 28 AS eday
        FROM lineitem),
      deltas AS (
        SELECT sday AS day, CAST(count(*) AS BIGINT) AS starts,
               CAST(0 AS BIGINT) AS ends
        FROM iv GROUP BY 1
        UNION ALL
        SELECT eday + 1 AS day, CAST(0 AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM iv GROUP BY 1),
      agg AS (
        SELECT day, CAST(sum(starts) AS BIGINT) AS starts,
               CAST(sum(ends) AS BIGINT) AS ends
        FROM deltas GROUP BY 1)
      SELECT CAST(day AS BIGINT) AS day, starts, ends,
             CAST(sum(starts - ends) OVER (ORDER BY day) AS BIGINT)
               AS active
      FROM agg ORDER BY day"""))

  val defs: Map[String, QueryDef] = Map(
    "q_theta_sketch" -> qThetaSketch,
    "q_concurrency" -> qConcurrency,
    "q_bloom_join" -> qBloomJoin,
    "q_mv_incremental" -> qMvIncremental,
    "q_attribution" -> qAttribution,
    "q_merge_evolve" -> qMergeEvolve,
    "q_attribution_multi" -> qAttributionMulti,
    "q_merge_delete" -> qMergeDelete,
    "q_spike" -> qSpike,
    "q_hierarchy" -> qHierarchy,
    "q_window_range" -> qWindowRange,
    "q_hll_sketch" -> qHllSketch,
    "q_quantile_sketch" -> qQuantileSketch,
    "q_merge" -> qMerge,
    "q_cohort" -> qCohort,
    "q_scd2" -> qScd2,
    "q_scd2_incremental" -> qScd2Incremental,
    "q_funnel" -> qFunnel,
    "q_grouping_sets" -> qGroupingSets,
    "q_outer_join" -> qOuterJoin,
    "q_collect_agg" -> qCollectAgg,
    "q_approx_distinct" -> qApproxDistinct,
    "q_range_join" -> qRangeJoin,
    "q_set_ops" -> qSetOps,
    "q_scalar_subquery" -> qScalarSubquery,
    "q_sql_text" -> qSqlText,
    "q_asof_join" -> qAsofJoin,
    "q_pivot" -> qPivot,
    "q_unpivot" -> qUnpivot,
    "q_mode" -> qMode,
    "q_skyline" -> qSkyline,
    "q_growth" -> qGrowth,
    "q_window_distinct" -> qWindowDistinct,
    "q_cusum" -> qCusum,
    "q_rfm" -> qRfm,
    "q_transitions" -> qTransitions,
    "q_abc" -> qAbc,
    "q_paths" -> qPaths,
    "q_benford" -> qBenford,
    "q_forecast" -> qForecast,
    "q_scd2_asof" -> qScd2Asof,
    "q_rolling_median" -> qRollingMedian,
    "q_funnel_time" -> qFunnelTime,
    "q_histogram" -> qHistogram,
    "q_window_funcs" -> qWindowFuncs,
    "q1_agg" -> q1Agg,
    "q3_shipping" -> q3Shipping,
    "q5_local" -> q5Local,
    "q_topn_window" -> qTopnWindow,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_distinct" -> qDistinct,
    "q_semi_anti" -> qSemiAnti,
    "q_union" -> qUnion,
    "q_broadcast_join" -> qBroadcastJoin,
    "q_skew_join" -> qSkewJoin,
    "q_scalar_funcs" -> qScalarFuncs,
    "q_having" -> qHaving,
    "q_orderby_multi" -> qOrderbyMulti,
    "q_exists_subquery" -> qExistsSubquery,
    "q_percentiles" -> qPercentiles)
}
