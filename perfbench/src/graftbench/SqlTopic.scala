package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sql_topic: one analyst session in a closed loop over a graft-log
  * table. Lookups read one partition over a few hundred offsets (they
  * expose pruning and the per-query floor); analytics decode the whole
  * topic and group, join, filter by time or compact to the latest
  * record per key (they expose decode and shuffle). */
final class SqlTopic(a: Args, tracer: Tracer) extends Workload {
  import SqlTopic._
  private val spec = Gen.EventSpec(users = Users, zipfS = Gen.ZipfS)
  private var partSizes: Map[Int, Long] = Map.empty

  private val cents = "CAST(ROUND(value * 100) AS BIGINT)"

  /** One lookup: partition p, offsets [lo, hi). */
  final case class Lookup(p: Int, lo: Long, hi: Long) {
    def sql(t: String): String =
      s"SELECT `offset`, event_id, user_id, event_type, $cents AS cents FROM $t " +
        s"WHERE `partition` = $p AND `offset` >= $lo AND `offset` < $hi"
  }
  /** One analytic: a named shape with its parameters. */
  final case class Analytic(kind: String, sqlOf: String => String)

  private def analytics(seed: Long): Seq[Analytic] = {
    val span = Messages * 20L
    def window(k: Int) = {
      val a0 = Gen.BaseMs + (Gen.u(seed, k, 61) * span * 0.5).toLong
      (a0, a0 + span / 4)
    }
    val (t1, t2) = window(1)
    val (t3, t4) = window(2)
    Seq(
      Analytic("groupby", t => s"SELECT event_type, COUNT(*) AS n, SUM($cents) AS cents, " +
        s"COUNT(DISTINCT user_id) AS users FROM $t GROUP BY event_type"),
      Analytic("groupby", t => s"SELECT `partition`, COUNT(*) AS n, SUM($cents) AS cents, " +
        s"MAX(`offset`) AS last FROM $t GROUP BY `partition`"),
      Analytic("join", t => s"SELECT c.c_mktsegment AS seg, COUNT(*) AS n, SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS cents " +
        s"FROM $t e JOIN customer c ON e.user_id = c.c_custkey WHERE e.event_type = 'view' GROUP BY c.c_mktsegment"),
      Analytic("join", t => s"SELECT c.c_nationkey AS nation, COUNT(*) AS n, SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS cents " +
        s"FROM $t e JOIN customer c ON e.user_id = c.c_custkey WHERE e.event_type = 'click' GROUP BY c.c_nationkey"),
      Analytic("timefilter", t => s"SELECT CAST(ts_ms DIV 600000 AS BIGINT) AS bucket, COUNT(*) AS n, SUM($cents) AS cents " +
        s"FROM $t WHERE ts_ms >= $t1 AND ts_ms < $t2 GROUP BY 1"),
      Analytic("timefilter", t => s"SELECT event_type, COUNT(*) AS n, SUM($cents) AS cents " +
        s"FROM $t WHERE ts_ms >= $t3 AND ts_ms < $t4 GROUP BY event_type"),
      Analytic("latest", t => s"SELECT COUNT(*) AS users, SUM(last_cents) AS cents, SUM(last_id) AS ids FROM " +
        s"(SELECT user_id, MAX_BY(event_id, `offset`) AS last_id, MAX_BY($cents, `offset`) AS last_cents FROM $t GROUP BY user_id)"),
      Analytic("latest", t => s"SELECT event_type, COUNT(*) AS users FROM " +
        s"(SELECT user_id, MAX_BY(event_type, `offset`) AS event_type FROM $t GROUP BY user_id) GROUP BY event_type"))
  }

  /** `n` lookups that visit the partitions in a seeded order, each as
    * often as the others, so that the mix does not depend on the seed. */
  private def lookups(seed: Long, n: Int): Seq[Lookup] = {
    val order = (0 until Gen.Partitions).sortBy(p => Gen.u(seed, p, 71))
    (0 until n).map(k => lookup(seed, k, order(k % Gen.Partitions)))
  }
  private def lookup(seed: Long, k: Int, p: Int): Lookup = {
    val len = 200 + (Gen.u(seed, k, 72) * 200).toLong
    val lo = (Gen.u(seed, k, 73) * math.max(1L, partSizes(p) - len)).toLong
    Lookup(p, lo, lo + len)
  }

  override def generate(spark: SparkSession, d: File, rep: Int): Unit = {
    events = Gen.eventsFrame(spark, a.seed, spec, Messages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dir = d
    val log = new File(d, "log").getPath
    val t = System.nanoTime()
    tracer.span("sources", "LogSegments.write")(graft.sources.LogSegments.write(Gen.asLog(events), log))
    produceMs += (System.nanoTime() - t) / 1e6
    Gen.customers(spark, a.seed, spec.users).write.parquet(new File(d, "customer").getPath)
    spark.read.parquet(new File(d, "customer").getPath).createOrReplaceTempView("customer")
    spark.sql(s"CREATE TABLE events USING `graft-log` OPTIONS (path '$log', decodeTopic 'events')")
    spark.sql(s"CREATE TABLE events_raw USING `graft-log` OPTIONS (path '$log')")
    partSizes = events.groupBy("partition").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    logBytes = Main.dirBytes(new File(log))
  }
  private val produceMs = mutable.ArrayBuffer.empty[Double]
  private var logBytes = 0L
  private var events: DataFrame = _
  private var dir: File = _

  /** The parquet copy the output checks run against; not part of set-up. */
  override def prepareChecks(spark: SparkSession): Unit = {
    events.select("event_id", "ts_ms", "user_id", "event_type", "value", "props", "partition", "offset")
      .withColumn("topic", lit("events"))
      .write.parquet(new File(dir, "events_pq").getPath)
    events.unpersist()
    spark.read.parquet(new File(dir, "events_pq").getPath).createOrReplaceTempView("events_pq")
  }

  override def warmup(spark: SparkSession): Unit = {
    // two analytics (a join and a compaction) compile the scan, decode,
    // shuffle and join code paths; lookups keep getting faster for a few
    // dozen calls, so each set-up runs one per partition and the three
    // set-ups of a run, in one JVM, run 24
    val an = analytics(a.seed + 1)
    Seq(an(2), an(6)).foreach(q => spark.sql(q.sqlOf("events")).collect())
    lookups(a.seed + 1, Gen.Partitions).foreach(l => spark.sql(l.sql("events")).collect())
  }

  private def rows(spark: SparkSession, sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The expected rows of every lookup, from one range join over the
    * parquet copy. */
  private def lookupOracle(spark: SparkSession, lk: Seq[Lookup]): Map[Int, Seq[String]] = {
    import spark.implicits._
    lk.zipWithIndex.map { case (l, i) => (i, l.p, l.lo, l.hi) }.toDF("idx", "p", "lo", "hi")
      .createOrReplaceTempView("lookups")
    val got = spark.sql(s"SELECT l.idx, e.`offset`, e.event_id, e.user_id, e.event_type, " +
      s"CAST(ROUND(e.value * 100) AS BIGINT) AS cents FROM events_pq e JOIN lookups l " +
      s"ON e.`partition` = l.p AND e.`offset` >= l.lo AND e.`offset` < l.hi").collect()
    got.groupBy(_.getInt(0)).map { case (i, rs) =>
      i -> rs.map(r => r.toSeq.tail.mkString("|")).toSeq.sorted }
  }

  override def measure(spark: SparkSession, runner: OpRunner, deadlineNs: Long, rep: Report): Unit = {
    val lk = lookups(a.seed, Blocks * LookupsPerAnalytic)
    val an = {
      val all = analytics(a.seed)
      val order = all.indices.sortBy(i => Gen.u(a.seed, i, 81)).map(all)
      order ++ order
    }
    // A block is one analytic then LookupsPerAnalytic lookups, which
    // visit every partition equally often; a cycle is Blocks blocks, two
    // per analytic shape. The run ends at the first block boundary after
    // the deadline and runs at least one cycle.
    val block = 1 + LookupsPerAnalytic
    val cycle = Blocks * block
    final case class Done(id: String, kind: String, idx: Int, ms: Double,
        result: Seq[String], planMs: Double, rchar: Long)
    val all = mutable.ArrayBuffer.empty[Done]
    var i = 0
    val start = System.nanoTime()
    while (i < cycle || i % block != 0 || System.nanoTime() < deadlineNs) {
      val b = (i % cycle) / block
      val q = i % block
      val isLookup = q != 0
      val idx = if (isLookup) b * LookupsPerAnalytic + q - 1 else b
      val kind = if (isLookup) "lookup" else "analytic"
      val sql = if (isLookup) lk(idx).sql("events") else an(idx).sqlOf("events")
      var planMs = 0.0
      val r0 = if (tracer.enabled) Proc.rchar() else 0L
      try {
        val (id, ms, res) = runner.op(kind) {
          val df = tracer.span("plans", "sql", kind)(spark.sql(sql))
          if (tracer.enabled) {
            val t = System.nanoTime()
            tracer.span("plans", "executedPlan", kind)(df.queryExecution.executedPlan)
            planMs = (System.nanoTime() - t) / 1e6
          }
          tracer.span("operators", "collect", kind)(df.collect())
        }
        val r1 = if (tracer.enabled) Proc.rchar() else 0L
        all += Done(id, kind, idx, ms, res.map(_.toSeq.mkString("|")).toSeq.sorted, planMs, r1 - r0)
      } catch {
        case e: Exception => rep.fail(s"$kind #$idx: $e")
      }
      i += 1
    }
    val elapsedS = (System.nanoTime() - start) / 1e9

    // output checks: the same SQL over the generated rows as plain parquet
    val oracleL = lookupOracle(spark, lk)
    val oracleA = mutable.Map.empty[Int, Seq[String]]
    all.foreach { d =>
      val want =
        if (d.kind == "lookup") oracleL.getOrElse(d.idx, Nil)
        else oracleA.getOrElseUpdate(d.idx % Shapes, rows(spark, an(d.idx).sqlOf("events_pq")))
      rep.check(d.result == want && want.nonEmpty,
        s"${d.kind} #${d.idx} differs from parquet: got ${d.result.take(3)} want ${want.take(3)}")
    }

    val lms = all.filter(_.kind == "lookup").map(_.ms)
    val ams = all.filter(_.kind == "analytic").map(_.ms)
    rep.metric("quick_p50_ms", "lookup_p50_ms", "ms", Stats.median(lms), lms.size)
    rep.metric("quick_tail_ms", "lookup_p75_ms", "ms", Stats.pct(lms, TailPct), lms.size)
    rep.metric("heavy_p50_ms", "analytic_p50_ms", "ms", Stats.median(ams), ams.size)
    rep.extra("analytic_p90_ms", "ms", Stats.pct(ams, 90), ams.size)
    rep.extra("queries_per_s", "1/s", all.size / elapsedS, all.size)
    rep.detail("blocks") = i / block
    rep.detail("op_ms") = all.map(d => s"${d.kind}#${d.idx}:${d.ms.round}")
    rep.detail("lookup") = Stats.summary(lms, TailPct)
    rep.detail("analytic") = Stats.summary(ams, 90)

    val shares = spark.sql(
      s"""SELECT MAX(n) / SUM(n) AS top_partition_share FROM
          (SELECT `partition`, COUNT(*) AS n FROM events_pq GROUP BY `partition`)""").first()
    val topUsers = math.max(1, spec.users / 100)
    val hot = spark.sql(
      s"""SELECT SUM(n) / (SELECT COUNT(*) FROM events_pq) FROM
          (SELECT user_id, COUNT(*) AS n FROM events_pq GROUP BY user_id ORDER BY n DESC LIMIT $topUsers)""").first()
    rep.input ++= Seq("messages" -> Messages, "partitions" -> Gen.Partitions,
      "users" -> spec.users, "zipf_s" -> spec.zipfS, "log_bytes" -> logBytes,
      "top1pct_user_share" -> hot.get(0).toString.toDouble,
      "top_partition_share" -> shares.get(0).toString.toDouble,
      "lookup_share" -> lms.size.toDouble / math.max(1, all.size),
      "analytic_share" -> ams.size.toDouble / math.max(1, all.size),
      "customers" -> spec.users)

    if (tracer.enabled) layers(spark, runner, rep, all.map(d => (d.id, d.kind, d.idx, d.planMs, d.rchar)).toSeq, lk)
  }

  private def layers(spark: SparkSession, runner: OpRunner, rep: Report,
      ops: Seq[(String, String, Int, Double, Long)], lk: Seq[Lookup]): Unit = {
    rep.layers("sources.produce_ms") = Stats.median(produceMs)
    rep.layers("sources.produce_mb_per_s") = logBytes / 1048576.0 / (Stats.median(produceMs) / 1e3)
    // undecoded and decoded full-topic scans into a noop sink
    def scan(decoded: Boolean): Double = {
      val times = (1 to 3).map { _ =>
        val (_, ms, _) = runner.op(if (decoded) "scan_decoded" else "scan_raw") {
          tracer.span("sources", if (decoded) "scan_decoded" else "scan_raw") {
            spark.table(if (decoded) "events" else "events_raw")
              .write.format("noop").mode("overwrite").save()
          }
        }
        ms
      }
      Stats.median(times)
    }
    val raw = scan(decoded = false)
    rep.layers("sources.scan_ms") = raw
    rep.layers("sources.decode_ms") = scan(decoded = true) - raw
    // read amplification of lookups: bytes read over the bytes of the
    // records the lookup returned (on-disk record size)
    val recBytes = mutable.Map.empty[Int, Long]
    val amp = ops.filter(_._2 == "lookup").map { case (_, _, idx, _, rchar) =>
      val b = recBytes.getOrElseUpdate(idx, {
        val l = lk(idx)
        spark.sql(s"SELECT SUM(LENGTH(key) + LENGTH(value) + 28) FROM events_raw " +
          s"WHERE `partition` = ${l.p} AND `offset` >= ${l.lo} AND `offset` < ${l.hi}").first().getLong(0)
      })
      rchar.toDouble / b
    }
    rep.layers("sources.read_amplification") = Stats.median(amp)
    rep.layers("plans.plan_ms.lookup") = Stats.median(ops.filter(_._2 == "lookup").map(_._4))
    rep.layers("plans.plan_ms.analytic") = Stats.median(ops.filter(_._2 == "analytic").map(_._4))
    runner.drain()
    val c = runner.counters.get
    // the first cycle's ops of each type: the same ops on every run
    for ((kind, n) <- Seq("lookup" -> Blocks * LookupsPerAnalytic, "analytic" -> Blocks)) {
      val first = ops.filter(_._2 == kind).take(n).map(o => c.get(o._1))
      Workloads.execLayers(rep, kind, first)
    }
  }
}

object SqlTopic {
  val Messages = 120000L
  val Users = 20000
  /** Analytic shapes (the eight in `analytics`). */
  val Shapes = 8
  /** Blocks per cycle: each shape twice, so that the median of a cycle's
    * sixteen analytics of unlike cost is steadier than that of eight. */
  val Blocks = 2 * Shapes
  /** Lookups after each analytic: a cycle gives 48, six per partition. */
  val LookupsPerAnalytic = 3
  /** The lookup tail: with at least 48 lookups a run has twelve or more
    * samples beyond its 75th percentile. */
  val TailPct = 75.0
}

object Workloads {
  val ExecKeys: Seq[(String, String)] = Seq(
    "jobs" -> "exec.jobs", "stages" -> "exec.stages", "tasks" -> "exec.tasks",
    "task_ms" -> "exec.task_ms", "task_skew" -> "exec.task_skew", "gc_ms" -> "exec.gc_ms",
    "spill_bytes" -> "exec.spill_bytes", "peak_mem_bytes" -> "exec.peak_mem_bytes",
    "shuffle_write_bytes" -> "shuffle.write_bytes", "shuffle_read_bytes" -> "shuffle.read_bytes",
    "shuffle_records" -> "shuffle.records")

  /** Per-op means of the Spark counters over `ops` (counts) and the
    * median for task skew. */
  def execLayers(rep: Report, kind: String, ops: Seq[Map[String, Double]]): Unit =
    ExecKeys.foreach { case (k, name) =>
      val xs = ops.map(_(k))
      rep.layers(s"$name.$kind") =
        if (xs.isEmpty) 0.0 else if (k == "task_skew") Stats.median(xs) else xs.sum / xs.size
    }
}
