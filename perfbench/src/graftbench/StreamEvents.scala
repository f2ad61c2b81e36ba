package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** stream_events: the open-loop streaming workload. One query reads the
  * live topic with readStream.format("graft-log"), decodes it and keeps
  * per-user running totals in RocksDB state (Streaming.runningCents,
  * update mode) under a ProcessingTime trigger into a memory sink that
  * keeps every emitted row. The run holds the nominal rate, then climbs
  * a ladder of two rates: the load rung and the top rung. */
final class StreamEvents(a: Args, tracer: Tracer) extends Workload {
  import StreamEvents._
  private val spec = Gen.EventSpec(users = Users, zipfS = Gen.ZipfS)

  private var spark: SparkSession = _
  // started now, so that it boots while the session starts
  private val gen = new RemoteProducer(a.work, a.seed, spec, TickMs)
  private var query: StreamingQuery = _
  private var progress: ProgressLog = _
  private var log: String = _
  private val startS = mutable.ArrayBuffer.empty[Double]

  override def generate(s: SparkSession, dir: File, rep: Int): Unit = {
    spark = s
    log = new File(dir, "log").getPath
    gen.reset()
    // an initial backlog, so the first micro-batch has real work
    val now = System.currentTimeMillis()
    tracer.span("sources", "LogSegments.write", "initial")(
      EventLog.write(spark, gen.log.take((0L until InitialEvents).map(j => now - InitialEvents + j)), log))
  }

  private var phases: Seq[Phase] = Nil

  override def warmup(s: SparkSession): Unit = {
    progress = new ProgressLog
    spark.streams.addListener(progress)
    val events = graft.streaming.Streaming.decodeEvents(
      spark.readStream.format("graft-log").load(log))
    val t = System.nanoTime()
    query = graft.streaming.Streaming.runningCents(events).toDF()
      .writeStream.format("memory").queryName("stream_totals").outputMode("update")
      .option("checkpointLocation", new File(new File(log).getParentFile, "checkpoint").getPath)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    while (query.lastProgress == null || query.lastProgress.numInputRows == 0) {
      if (query.exception.isDefined) throw query.exception.get
      Thread.sleep(5)
    }
    startS += (System.nanoTime() - t) / 1e9
    startSchedule()
  }

  override def close(): Unit = {
    gen.stop()
    if (query != null) { query.stop(); query = null }
  }

  override def shutdown(): Unit = gen.close()

  /** Start the producer's schedule: a warm-up span at the nominal rate
    * runs straight into the measured phases, so measurement starts in
    * the steady state and not after a drain. The run length goes half
    * to the nominal rate and half to the load rung; the top rung adds a
    * quarter of it. */
  private def startSchedule(): Unit = {
    val t0 = System.currentTimeMillis()
    val m0 = t0 + WarmupMs
    val q = a.seconds * 1000L / 4
    phases = Seq(
      Phase("warmup", t0, m0, NominalEps),
      Phase("nominal", m0, m0 + 2 * q, NominalEps),
      Phase("load", m0 + 2 * q, m0 + 4 * q, LoadEps),
      Phase("top", m0 + 4 * q, m0 + 5 * q, TopEps))
    gen.run(log, phases)
    val wait = m0 - System.currentTimeMillis()
    if (wait > 0) Thread.sleep(wait)
  }

  private def endOffsets(p: StreamingQueryProgress): Map[Int, Long] = {
    val body = p.sources.head.endOffset.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) Map.empty
    else body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").split("/")(1).toInt -> v.trim.toLong
    }.toMap
  }

  override def measure(s: SparkSession, runner: OpRunner, deadlineNs: Long, rep: Report): Unit = {
    val measured0 = phases(1).startMs
    val warmBatches = progress.all.count(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli < measured0)
    val rchar0 = Proc.rchar()
    gen.await()
    val appended0 = InitialEvents + gen.appends.filter(_.phase == "warmup").map(_.n).sum
    val rchar1 = Proc.rchar()
    tracer.span("streaming", "processAllAvailable")(query.processAllAvailable())
    val totalEvents = gen.log.appended
    val ps = progress.all.sortBy(_.batchId)
    query.stop()
    runner.drain()

    // ---- event-to-commit latency, from the listener's progress ----
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val prev = new Array[Long](Gen.Partitions)
    val backlog = mutable.ArrayBuffer.empty[(Long, Long)] // (commit ms, events)
    val publish = ((0L, InitialEvents.toInt) +: gen.appends.map(x => (x.finishedMs.toLong, x.n))).sortBy(_._1)
    val cumPublished = publish.scanLeft(0L)(_ + _._2).tail
    def publishedBy(t: Long): Long = {
      val i = publish.lastIndexWhere(_._1 <= t)
      if (i < 0) 0L else cumPublished(i)
    }
    val commitOf = mutable.ArrayBuffer.empty[(StreamingQueryProgress, Long)]
    ps.foreach { p =>
      val commitMs = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
      commitOf += ((p, commitMs))
      val end = endOffsets(p)
      end.foreach { case (part, e) =>
        var o = prev(part)
        while (o < e) {
          val due = gen.log.dueMs(part)(o.toInt)
          phases.find(ph => due >= ph.startMs && due < ph.endMs).foreach { ph =>
            lat.getOrElseUpdate(ph.name, mutable.ArrayBuffer.empty) += (commitMs - due).toDouble
          }
          o += 1
        }
        prev(part) = math.max(prev(part), e)
      }
      backlog += ((commitMs, math.max(0L, publishedBy(commitMs) - prev.sum)))
    }

    // ---- per-phase verdicts ----
    def inPhase(ph: Phase)(t: Long) = t >= ph.startMs && t < ph.endMs
    final case class Verdict(ph: Phase, p50: Double, p99: Double, n: Int, slope: Double,
        backlogMax: Long, lateP99: Double, achievedEps: Double, ok: Boolean)
    val verdicts = phases.map { ph =>
      val xs = lat.getOrElse(ph.name, mutable.ArrayBuffer.empty[Double])
      val bl = backlog.filter(b => inPhase(ph)(b._1))
      val slope = Stats.slope(bl.map(b => (b._1 / 1e3, b._2.toDouble)).toSeq)
      val late = gen.appends.filter(_.phase == ph.name).map(x => x.startedMs - x.scheduledMs)
      // input rate the producer achieved: events over the wall time
      // between the first and the last append of the phase
      val ap = gen.appends.filter(_.phase == ph.name)
      val achieved =
        if (ap.size < 2) 0.0 else ap.init.map(_.n).sum * 1e3 / (ap.last.startedMs - ap.head.startedMs)
      val p99 = Stats.pct(xs, 99)
      val blMax = if (bl.isEmpty) 0L else bl.map(_._2).max
      // the rate is sustained when the backlog after each commit does
      // not grow and the latency stays under its limit; a rate the
      // producer could not offer is not a sustained rate
      val ok = xs.nonEmpty && p99 <= P99LimitMs && slope <= BacklogGrowthLimit * ph.eps &&
        Stats.pct(late, 99) <= GenLateLimitMs && achieved >= 0.95 * ph.eps
      Verdict(ph, Stats.median(xs), p99, xs.size, slope, blMax, Stats.pct(late, 99), achieved, ok)
    }
    val nom = verdicts(1)
    val load = verdicts(2)
    val top = verdicts(3)
    val sustainable = verdicts.drop(1).takeWhile(_.ok).lastOption
    // headroom: events the query processes per second of batch time,
    // over the batches that commit the events of both rungs
    val rungBatches = commitOf.filter(c => c._2 >= load.ph.startMs + TriggerMs)
      .map(_._1).filter(_.numInputRows > 0)
    val capacityEps = rungBatches.map(_.numInputRows).sum * 1e3 /
      math.max(1L, rungBatches.map(_.durationMs.get("triggerExecution").longValue).sum)

    // ---- validity guard ----
    if (nom.lateP99 > GenLateLimitMs)
      rep.invalid += f"generator ran late at the nominal rate: p99 ${nom.lateP99}%.0f ms > $GenLateLimitMs%.0f ms"
    if (nom.backlogMax > NominalBacklogLimitS * NominalEps)
      rep.invalid += f"nominal-rate backlog ${nom.backlogMax} events > ${NominalBacklogLimitS * NominalEps}%.0f"

    // ---- output check: final per-user totals against the generated events ----
    val sink = spark.sql("SELECT user_id, MAX(n_events), MAX(total_cents) FROM stream_totals GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    var wrongEvents = 0L
    (gen.log.totals.keySet ++ sink.keySet).foreach { u =>
      val want = gen.log.totals.getOrElse(u, (0L, 0L))
      val got = sink.getOrElse(u, (0L, 0L))
      if (got != want) wrongEvents += math.max(1L, math.abs(got._1 - want._1))
    }
    val committed = prev.sum
    wrongEvents += math.abs(totalEvents - committed)
    if (wrongEvents > 0 && rep.failures.size < 20)
      rep.failures += s"$wrongEvents events lost, duplicated or mis-summed in the sink"
    rep.attempted += totalEvents
    rep.failed += (if (rep.invalid.nonEmpty) totalEvents else math.min(totalEvents, wrongEvents))

    rep.metric("quick_p50_ms", "event_p50_ms", "ms", nom.p50, nom.n)
    rep.metric("quick_tail_ms", "event_p99_ms", "ms", nom.p99, nom.n)
    rep.metric("heavy_p50_ms", "load_event_p50_ms", "ms", load.p50, load.n)
    rep.extra("load_event_p99_ms", "ms", load.p99, load.n)
    rep.extra("top_event_p50_ms", "ms", top.p50, top.n)
    rep.extra("top_event_p99_ms", "ms", top.p99, top.n)
    rep.extra("capacity_eps", "1/s", capacityEps, rungBatches.size)
    rep.extra("sustainable_eps", "1/s", sustainable.map(_.ph.eps).getOrElse(0.0),
      sustainable.map(_.n.toLong).getOrElse(0L))
    rep.detail("phases") = verdicts.map(v => Map("phase" -> v.ph.name, "eps" -> v.ph.eps,
      "achieved_eps" -> v.achievedEps, "p50_ms" -> v.p50, "p99_ms" -> v.p99, "n" -> v.n,
      "backlog_slope_eps" -> v.slope, "backlog_max" -> v.backlogMax,
      "gen_late_p99_ms" -> v.lateP99, "meets_limits" -> v.ok))
    rep.extra("stream_start_s", "s", Stats.median(startS), startS.size)
    val nominalBatches = commitOf.filter(c => c._2 >= nom.ph.startMs && c._2 < nom.ph.endMs).map(_._1)
    rep.detail("nominal_batches") = Map("n" -> nominalBatches.size,
      "trigger_ms_p50" -> Stats.median(nominalBatches.map(_.durationMs.get("triggerExecution").doubleValue)),
      "state_commit_ms_p50" -> Stats.median(nominalBatches.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)),
      "produce_ms_p50" -> Stats.median(gen.appends.filter(_.phase == "nominal").map(x => x.finishedMs - x.startedMs)))
    rep.detail("nominal_latency") = Stats.summary(lat.getOrElse("nominal", Nil), 99)
    rep.detail("batches") = commitOf.map { case (p, c) => Seq(p.batchId, c - measured0, p.numInputRows,
      p.durationMs.get("triggerExecution").longValue) }

    val logBytes = Main.dirBytes(new File(log))
    val users = gen.log.totals.values.map(_._1).toSeq.sortBy(-_)
    rep.input ++= Seq("events" -> totalEvents, "log_bytes" -> logBytes,
      "users" -> gen.log.totals.size, "zipf_s" -> spec.zipfS,
      "top1pct_user_share" -> users.take(math.max(1, spec.users / 100)).sum.toDouble / math.max(1L, users.sum),
      "nominal_eps" -> NominalEps, "ladder_eps" -> phases.drop(2).map(_.eps),
      "trigger_ms" -> TriggerMs, "tick_ms" -> TickMs)

    if (a.trace) {
      val measured = commitOf.drop(warmBatches).filter(c => c._2 >= measured0 && c._2 < phases.last.endMs).map(_._1)
      def dur(k: String) = measured.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
      val avgRec = logBytes.toDouble / math.max(1L, totalEvents)
      val appendMs = gen.appends.filter(_.phase != "warmup").map(x => x.finishedMs - x.startedMs)
      rep.layers("sources.produce_ms") = Stats.median(appendMs)
      rep.layers("sources.produce_mb_per_s") = logBytes / 1048576.0 /
        (gen.appends.map(x => x.finishedMs - x.startedMs).sum / 1e3)
      rep.layers("sources.read_amplification") =
        (rchar1 - rchar0).toDouble / math.max(1.0, (totalEvents - appended0) * avgRec)
      val lo = dur("latestOffset")
      rep.layers("sources.latest_offset_p50_ms") = Stats.median(lo)
      rep.layers("sources.latest_offset_max_ms") = if (lo.isEmpty) 0.0 else lo.max
      rep.layers("sources.latest_offset_slope_ms_per_mb") = Stats.slope(
        commitOf.drop(warmBatches).flatMap { case (p, c) =>
          Option(p.durationMs.get("latestOffset")).map(d =>
            (publishedBy(c) * avgRec / 1048576.0, d.doubleValue)) }.toSeq)
      rep.layers("sources.segment_files") = new File(log).listFiles().flatMap(t =>
        Option(t.listFiles()).getOrElse(Array.empty)).flatMap(p =>
        Option(p.listFiles()).getOrElse(Array.empty)).count(_.getName.endsWith(".gseg")).toDouble
      rep.layers("plans.stream_planning_ms") = Stats.median(dur("queryPlanning"))
      rep.layers("stream.trigger_ms") = Stats.median(dur("triggerExecution"))
      rep.layers("stream.add_batch_ms") = Stats.median(dur("addBatch"))
      rep.layers("stream.wal_commit_ms") = Stats.median(dur("walCommit"))
      rep.layers("stream.batches") = measured.size.toDouble
      rep.layers("stream.backlog_max") = if (backlog.isEmpty) 0.0 else backlog.map(_._2).max.toDouble
      rep.layers("stream.backlog_slope_eps") = nom.slope
      val st = measured.flatMap(_.stateOperators.headOption)
      rep.layers("state.rows") = st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      rep.layers("state.memory_bytes") = st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
      rep.layers("state.commit_ms") = Stats.median(st.map(_.commitTimeMs.toDouble))
      // at the nominal rate, where the validity guard reads it
      val late = gen.appends.filter(_.phase == "nominal").map(x => x.startedMs - x.scheduledMs)
      rep.layers("gen.late_p99_ms") = Stats.pct(late, 99)
      rep.layers("gen.late_max_ms") = if (late.isEmpty) 0.0 else late.max
      // the listener counts every batch from the start of measurement on
      val counted = math.max(1, ps.size - warmBatches)
      val perBatch = runner.counters.get.get(query.runId.toString).map { case (k, v) =>
        k -> (if (k == "task_skew" || k == "peak_mem_bytes") v else v / counted) }
      Workloads.execLayers(rep, "batch", Seq(perBatch))
      Main.writeFile(new File(a.out.getPath + ".progress.json"),
        ps.map(_.json).mkString("[", ",", "]"))
    }
  }
}

object StreamEvents {
  val Users = 20000
  /** Events in the topic before the query starts, so that its first
    * micro-batch has real work. */
  val InitialEvents = 20000L
  val TriggerMs = 1000L
  /** The producer appends once per tick. */
  val TickMs = 410L
  val NominalEps = 2000.0
  /** The ladder: the load rung, then the top rung. */
  val LoadEps = 8000.0
  val TopEps = 32000.0
  /** Nominal-rate span that ends each set-up and runs straight into
    * measurement after the last one: with the query's first batches it
    * warms the JVM, so measurement starts in the steady state. */
  val WarmupMs = 2000L
  /** A rung is sustained while its event p99 stays under this limit... */
  val P99LimitMs = 4000.0
  /** ...and its backlog grows by less than this share of its rate: over a
    * phase of a few seconds, appends every 410 ms and a 1 s trigger alone
    * move the backlog's slope by about a tenth of the rate. */
  val BacklogGrowthLimit = 0.25
  /** Validity: a run whose producer started an append at the nominal
    * rate later than this, or whose nominal backlog exceeded this many
    * seconds of input, is invalid. */
  val GenLateLimitMs = 500.0
  val NominalBacklogLimitS = 3.0
}
