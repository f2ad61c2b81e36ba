package graft.operators

import graft.QueryDef
import graft.sources.MessageLog
import graft.streaming.Streaming
import org.apache.spark.sql.functions._

/** Event-time windowing surface (SURVEY.md §2 block C), run in batch by
  * the correctness gate; the identical plans run under readStream (see
  * StreamingSpec) — Structured Streaming guarantees agreement.
  */
object StreamQueries {

  private def events(s: org.apache.spark.sql.SparkSession, dir: String) =
    Streaming.decodeEvents(MessageLog.eventsTopic(s, dir))

  /** Tumbling 1-hour event-time windows. */
  val sWindowAgg: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.windowedCounts(events(s, dir), "1 hour")
        .orderBy(col("ws_ms"), col("event_type")),
    oracle = Some("""
      SELECT epoch_ms(date_trunc('hour', ts)) AS ws_ms, event_type,
             count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Sliding 2-hour windows, 1-hour slide (every event in 2 windows). */
  val sSlidingWindow: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.windowedCounts(events(s, dir), "2 hours", Some("1 hour"))
        .orderBy(col("ws_ms"), col("event_type")),
    oracle = Some("""
      SELECT epoch_ms(ws) AS ws_ms, event_type,
             count(*) AS n, round(sum(value), 4) AS sum_value
      FROM (SELECT unnest([date_trunc('hour', ts),
                           date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
                   event_type, value
            FROM events)
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Gap-based sessions (30 min) per user via session_window. */
  val sSessionize: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.sessionWindows(events(s, dir), "30 minutes")
        .orderBy(col("user_id"), col("session_start_ms")),
    oracle = Some("""
      WITH e AS (SELECT user_id, make_timestamp(epoch_ms(ts) * 1000) AS ts FROM events),
           x AS (SELECT user_id, ts,
                        CASE WHEN lag(ts) OVER w IS NULL
                                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                             THEN 1 ELSE 0 END AS new_s
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           y AS (SELECT user_id, ts,
                        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
                 FROM x)
      SELECT user_id, epoch_ms(min(ts)) AS session_start_ms, count(*) AS n_events
      FROM y
      GROUP BY user_id, sid
      ORDER BY user_id, session_start_ms"""))

  /** Stream-stream interval join (clicks within 30 min before a
    * same-user error); StreamingSpec runs the identical plan under
    * readStream in append mode. */
  val sStreamJoin: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.correlatedClicks(events(s, dir))
        .orderBy(col("user_id"), col("error_ts_ms"), col("click_ts_ms")),
    oracle = Some("""
      WITH ev AS (SELECT user_id, event_type,
                         make_timestamp(epoch_ms(ts) * 1000) AS ts
                  FROM events),
      err AS (SELECT user_id, ts FROM ev WHERE event_type = 'error'),
      clk AS (SELECT user_id, ts FROM ev WHERE event_type = 'click')
      SELECT err.user_id, epoch_ms(err.ts) AS error_ts_ms,
             epoch_ms(clk.ts) AS click_ts_ms
      FROM err JOIN clk ON clk.user_id = err.user_id
        AND clk.ts >= err.ts - INTERVAL 30 MINUTE AND clk.ts <= err.ts
      ORDER BY 1, 2, 3"""))

  /** transformWithState (arbitrary-state API v2) as a driver-checked
    * query: per-user running totals in exact cents through
    * [[graft.streaming.Streaming.RunningCentsProcessor]]. In batch each
    * key's history arrives in one `handleInputRows` call, so the final
    * emission per key equals the plain group-by the oracle runs;
    * StreamingSpec drives the same processor across micro-batches. */
  val sRunningTotals: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.runningCents(events(s, dir))
        .toDF()
        .orderBy(col("user_id")),
    oracle = Some("""
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""))

  /** Watermarked streaming dedup over an at-least-once source: every
    * 50th event is re-delivered (the Kafka redelivery model) and
    * `dropDuplicatesWithinWatermark` must collapse the stream back to
    * exactly the source events — checked per type with exact-cent
    * sums. StreamingSpec runs the same plan under readStream. */
  val sDedupStream: QueryDef = QueryDef(
    fn = (s, dir) => {
      val ev = events(s, dir)
      val redelivered = ev.filter(col("event_id") % 50 === 0)
      Streaming.dedupedEvents(ev.unionByName(redelivered))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Streaming SCD-2 interval maintenance ([[Streaming.scd2Intervals]]
    * — typed ValueState per user, an interval emitted the moment the
    * event_type changes). The driver's batch gate checks the CLOSED
    * interval set against the same gaps-and-islands SQL as q_scd2
    * restricted to islands with a successor; StreamingSpec replays the
    * topic as a stream and asserts the identical closed set. */
  val sScd2: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.scd2Intervals(events(s, dir)).toDF()
        .orderBy(col("user_id"), col("valid_from_ms"), col("valid_to_ms")),
    oracle = Some(Relational.scd2IslandsSql + """
      SELECT user_id, event_type, valid_from_ms, valid_to_ms, n_events
      FROM s WHERE valid_to_ms IS NOT NULL
      ORDER BY user_id, valid_from_ms, valid_to_ms"""))

  /** s_scd2_held — the WATERMARK-HOLD SCD-2 policy as a driver
    * correctness row, running the REAL streaming pipeline (not a batch
    * stand-in): the events topic is re-delivered DISORDERED — each
    * event's delivery time is its event time plus a salted-md5 jitter
    * < 10 minutes — split into delivery-ordered micro-batch files and
    * replayed through [[Streaming.scd2IntervalsHeld]] (RocksDB
    * transformWithState, 30-minute hold) into a memory sink. The hold
    * policy's contract is that disorder inside the delay is ABSORBED:
    * the emitted closed-interval set must equal the in-order islands
    * SQL — the exact oracle s_scd2 uses — despite no event arriving in
    * order. A sentinel event far past the log's end advances the
    * global watermark so every held close flushes (its own row is
    * excluded); delay (30 m) ≥ jitter bound (10 m) guarantees the
    * engine's watermark filter drops nothing, the same inequality a
    * production deployment must hold between its delay budget and its
    * source's observed disorder.
    *
    * Scale: the scratch replay is test harnessing; the OPERATOR under
    * test is per-user O(open island + ≤delay of buffered events)
    * state, the same shape at any corpus size. */
  val sScd2Held: QueryDef = QueryDef(
    fn = (s, dir) => {
      import s.implicits._
      val base = graft.Stores.tmpDir(s, "scd2_held")
      val jitterMs = 600000L
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("dts", unix_millis(col("ts")) +
          expr("cast(conv(substring(md5(concat('hold:', cast(event_id as string))), 1, 6), 16, 10) as bigint)") % jitterMs)
      val bounds = ev.agg(min(col("dts")).as("lo"), max(col("dts")).as("hi")).collect()(0)
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val nb = 6
      val bucketed = ev.withColumn("b",
          ((col("dts") - lo) * nb / (hi - lo + 1)).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (0 until nb).foreach { i =>
        bucketed.filter(col("b") === i).drop("dts", "b")
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
      bucketed.unpersist()
      Seq((-1L, -1L, hi + 86400000L, "x"))
        .toDF("user_id", "event_id", "ms", "event_type")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(col("ms")).as("ts"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$nb")
      val name = "graft_scd2_held_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = Streaming.scd2IntervalsHeld(
          s.readStream
            .schema("user_id long, event_id long, ts timestamp, event_type string")
            .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*"),
          delay = "30 minutes")
        .writeStream.outputMode("update").format("memory").queryName(name)
        .start()
      q.processAllAvailable(); q.stop()
      s.table(name).filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("valid_from_ms"), col("valid_to_ms"))
    },
    oracle = sScd2.oracle)

  /** s_mv — STREAMING materialized-view maintenance, the lambda-
    * architecture closing leg of [[Relational.qMvIncremental]]: the
    * same per-customer order aggregate, but the delta (1997+ orders)
    * arrives as a STREAM — five delivery-ordered micro-batch files
    * replayed through readStream + foreachBatch, each batch's partial
    * aggregate written as one batchId-keyed APPEND-ONLY chain link
    * next to the persisted pre-1997 anchor (the [[sAnnIngest]] chain
    * device: a retried batch overwrites ITS OWN link from the same
    * input, so delivery is idempotent; links are batch-disjoint by
    * batchId). The merged view is ONE keyed re-aggregate over
    * anchor ∪ links — exact because every MV measure is reassociable
    * (count/sum merge by sum, last-order by max, all integer/date
    * algebra) — and must equal the FULL RECOMPUTE of the view from
    * all orders: the exact oracle the batch leg uses, now asserting
    * that no micro-batch boundary or link write corrupted the view.
    *
    * Scale: per-batch write cost is |batch-partial|-sized — NEVER
    * store-sized (the pre-r17 version chain rewrote the whole
    * customer-dimension store every micro-batch); the read-side
    * re-aggregate is one pass over anchor + links, paid once. The
    * file-split replay is test harnessing, exactly as in
    * [[sScd2Held]]. */
  val sMv: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "smv")
      val orders = graft.Tables.load(s, dir, "orders")
      val split = to_timestamp(lit(Relational.MvSplit))
      // seed: the persisted pre-split partial (the stored MV)
      Relational.custAgg(orders.filter(col("o_orderdate") < split))
        .write.mode("overwrite").parquet(s"$base/store/v0")
      // the delta stream: 1997+ orders split into 5 delivery-ordered
      // micro-batch files by order date (orders arrive over time)
      val delta = orders.filter(col("o_orderdate") >= split)
        .withColumn("dms", unix_millis(col("o_orderdate").cast("timestamp")))
      val bounds = delta.agg(min(col("dms")).as("lo"), max(col("dms")).as("hi"))
        .collect()(0)
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val nb = 5
      val bucketed = delta.withColumn("b",
          ((col("dms") - lo) * nb / (hi - lo + 1)).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (0 until nb).foreach { i =>
        bucketed.filter(col("b") === i).drop("dms", "b")
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
      bucketed.unpersist()
      val q = s.readStream
        .schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          // APPEND-ONLY PARTIAL CHAIN (r17 — the insertAnnBatch
          // device, VERDICT item 3): the link holds the BATCH's
          // partial aggregate only, keyed by BATCH IDENTITY — a
          // re-delivered batchId overwrites ITS OWN link from the
          // same input (idempotent), and per-batch write cost is
          // |batch-partial|-sized, never store-sized (the old
          // read-v(b)-rewrite-v(b+1) chain rewrote the whole
          // customer-dimension store every micro-batch — at scale the
          // store dwarfs every batch). The merged view is ONE keyed
          // re-aggregate over anchor ∪ links at read time — exact,
          // because every MV measure is reassociable (count/sum merge
          // by sum, last-order by max, all integer/date algebra).
          Relational.custAgg(batch)
            .write.mode("overwrite").parquet(s"$base/store/d$batchId")
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
      // the merged view: anchor v0 ∪ every d* partial, one glob scan
      // + one keyed re-aggregate (readAnnChain's shape)
      s.read.parquet(s"$base/store/*")
        .groupBy(col("o_custkey"))
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("total_cents")).as("total_cents"),
          max(col("last_order")).as("last_order"))
        .orderBy(col("o_custkey"))
    },
    oracle = Relational.qMvIncremental.oracle)

  /** One CDC micro-batch applied to the APPEND-ONLY chain store
    * (r17 — the [[insertAnnBatch]] device, replacing the pre-r17
    * read-v(b)-rewrite-v(b+1) version chain whose per-batch write
    * was store-sized): the batch's change rows are written verbatim
    * as one batchId-keyed link next to the v0 anchor. Links are
    * keyed by BATCH IDENTITY, so a re-delivered batch overwrites its
    * own link from the same input — idempotent on redelivery by
    * construction (StreamingSpec applies a batch twice and pins the
    * identical merged view). Per-batch write cost is |batch|-sized,
    * never store-sized. DEVICE CONTRACT (same as insertAnnBatch's
    * disjoint-links argument): the merged view applies the links
    * against the anchor in one NOT-IN + UNION-ALL pass
    * ([[readCdcChain]]), and a key several batches change keeps the
    * rows of the last one (by batch id). Factored out
    * so the spec drives the exact production code path. */
  private[graft] def mergeCdcBatch(
      storeBase: String,
      batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$storeBase/d$batchId")

  /** Read a [[mergeCdcBatch]] chain back as the merged table: anchor
    * rows whose key no link touched, plus, for every key the links
    * touch, the rows of the LAST batch that touched it (batch ids
    * compare as numbers: d10 is later than d9) — ONE
    * [[Relational.mergeUpsert]] pass over anchor ∪ links (one glob
    * scan of the links, the [[readAnnChain]] shape). Last-wins makes
    * the view exact without the key-disjoint-links contract: a key
    * two batches change is emitted once, as the later batch left it.
    * With zero delivered batches there is no link, and the anchor is
    * the table (key column first, as the merge emits it). */
  private[graft] def readCdcChain(s: org.apache.spark.sql.SparkSession,
      storeBase: String, key: String): org.apache.spark.sql.DataFrame = {
    val anchor = s.read.parquet(s"$storeBase/v0")
    val links = new org.apache.hadoop.fs.Path(s"$storeBase/d*")
    val fs = links.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (Option(fs.globStatus(links)).forall(_.isEmpty))
      anchor.select(col(key) +: anchor.columns.filter(_ != key).map(col): _*)
    else {
      val raw = s.read.parquet(links.toString)
      val batch = regexp_extract(col("_metadata.file_path"),
        "/d([0-9]+)/[^/]*$", 1).cast("long")
      val latest = raw.withColumn("_batch", batch)
        .withColumn("_last", max(col("_batch")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col(key))))
        .filter(col("_batch") === col("_last"))
        .select(raw.columns.map(col): _*)
      Relational.mergeUpsert(anchor, latest, key)
    }
  }

  /** s_merge — STREAMING CDC MERGE, the lambda-closing leg of
    * [[Relational.qMerge]] exactly as [[sMv]] closes it for
    * materialized views: the SAME change set (updates = status-U
    * orders with repriced totals, inserts = negated new keys) arrives
    * as a STREAM — four delivery-ordered micro-batch files replayed
    * through readStream + foreachBatch — and each batch lands as one
    * batchId-keyed APPEND-ONLY chain link next to the v0 anchor via
    * [[mergeCdcBatch]] (idempotent redelivery, spec-pinned; the
    * [[sAnnIngest]] chain device, replacing the pre-r17 full-store
    * version rewrite). The merged view ([[readCdcChain]]: one NOT-IN
    * + UNION-ALL pass over anchor ∪ links) must equal the one-shot
    * batch MERGE of all changes: q_merge's oracle verbatim, asserting
    * no micro-batch boundary, eviction, or link write corrupted the
    * table. Change keys are unique across the whole delta (each key
    * is either one update or one insert), so the file split is
    * order-independent AND the single merged-view pass is exact — the
    * chain device's documented contract.
    *
    * Scale: per-batch write cost is |batch|-sized — never store-sized
    * (the pre-r17 chain rewrote the whole table per micro-batch: at
    * 100 TB that is fact-sized churn × batch count); the merge work
    * is paid ONCE at read. File-split replay is test harnessing, as
    * in [[sMv]]/[[sScd2Held]]. */
  val sMerge: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "smerge")
      val orders = graft.Tables.load(s, dir, "orders")
      // seed: the store starts as the base table (v0)
      orders.write.mode("overwrite").parquet(s"$base/store/v0")
      // the CDC delta: q_merge's exact change set, split into 4
      // delivery-ordered micro-batch files by order date
      val updates = orders.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      val inserts = orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", (col("o_orderkey") + 1) * -1)
        .withColumn("o_orderstatus", lit("N"))
      val delta = updates.unionByName(inserts)
        .withColumn("dms", unix_millis(col("o_orderdate").cast("timestamp")))
      val bounds = delta.agg(min(col("dms")).as("lo"), max(col("dms")).as("hi"))
        .collect()(0)
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val nb = 4
      val bucketed = delta.withColumn("b",
          ((col("dms") - lo) * nb / (hi - lo + 1)).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (0 until nb).foreach { i =>
        bucketed.filter(col("b") === i).drop("dms", "b")
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
      bucketed.unpersist()
      val q = s.readStream
        .schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          mergeCdcBatch(s"$base/store", batch, batchId)
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
      readCdcChain(s, s"$base/store", "o_orderkey")
        .orderBy(col("o_orderkey"))
    },
    oracle = Relational.qMerge.oracle)

  /** s_pull_budget — the reference's PULL-BUDGET drain
    * (kafka.max.pull.hrs / kafka.max.pull.minutes.per.task,
    * KafkaInputFormat.java:60-61) as a driver-oracled row running the
    * REAL admission-controlled stream: the events topic is produced
    * to a segment log, then drained under Trigger.AvailableNow with
    * `maxRecordsPerTrigger` = max(512, n/8) — so the backlog always
    * splits into multiple bounded micro-batches — through the graft
    * DSv2 source's [[graft.sources.PullBudget]] admission path.
    * foreachBatch folds each batch's decoded per-type counts into a
    * driver map (bounded by type cardinality) and records batch
    * sizes. The contract the oracle replays: the drained per-type
    * counts equal the batch table EXACTLY (offset-pinned admission
    * loses nothing and duplicates nothing across every budget
    * boundary), the drain really did split (`multi_batch`), and every
    * batch respected the budget within the per-partition rounding
    * slack of ≤ 8 (`batches_bounded` — each of the 8 partitions may
    * round its proportional share up to one extra record, the same
    * +8 LogSegmentSourceSpec pins). */
  val sPullBudget: QueryDef = QueryDef(
    fn = (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val base = graft.Stores.tmpDir(s, "pull_budget")
      graft.sources.LogSegments.write(
        MessageLog.eventsTopic(s, dir), s"$base/src")
      val nEvents = graft.Tables.load(s, dir, "events").count()
      // The multi_batch pin in the oracle requires the drain to SPLIT:
      // cap the budget at n/2 so any corpus with ≥2 events produces ≥2
      // micro-batches even when the 512 floor alone would swallow a
      // tiny SF's whole backlog in one batch.
      val budget = math.max(1L,
        math.min(nEvents / 2, math.max(512L, nEvents / 8)))
      val typeCounts = scala.collection.concurrent.TrieMap.empty[String, Long]
      val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = s.readStream.format("graft-log")
        .option("maxRecordsPerTrigger", budget.toString)
        .load(s"$base/src")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val perType = Streaming.decodeEvents(batch)
            .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
            .collect()
          sizes.add(perType.map(_.getLong(1)).sum)
          perType.foreach { r =>
            typeCounts.updateWith(r.getString(0)) {
              c => Some(c.getOrElse(0L) + r.getLong(1))
            }
          }
          // Driver fold is bounded by TYPE cardinality, never event
          // volume — the same loud guard s_cusum carries, so a
          // high-cardinality type column fails fast instead of OOMing.
          require(typeCounts.size <= 10000,
            s"s_pull_budget driver fold saw ${typeCounts.size} event types (>10000): " +
              "the per-type fold is only safe for bounded type cardinality")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      val all = sizes.asScala.toSeq
      val multi = all.count(_ > 0) >= 2
      val bounded = all.forall(_ <= budget + MessageLog.eventsPartitions)
      import s.implicits._
      typeCounts.toSeq.sortBy(_._1)
        .map { case (t, n) => (t, n, multi, bounded) }
        .toDF("event_type", "n", "multi_batch", "batches_bounded")
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             TRUE AS multi_batch, TRUE AS batches_bounded
      FROM events GROUP BY event_type
      ORDER BY event_type"""))

  /** s_pull_clock — the reference's WALL-CLOCK pull budget
    * (`kafka.max.pull.minutes.per.task`, KafkaInputFormat.java:60-61)
    * as a driver-oracled row, completing the pair [[sPullBudget]]
    * opened for the record budget: the events topic drains under
    * `maxPullMinutesPerTask` through the DSv2 source's rate-adaptive
    * admission path ([[graft.sources.PullBudget]] — a micro-batch's
    * end offsets pin before tasks run, so "stop when time is up"
    * re-expresses as rows = budget × measured rate, EWMA'd trigger
    * over trigger, seeded by `pullRateInitGuess`).
    *
    * What is DETERMINISTIC about a wall-clock budget — and therefore
    * what the oracle pins: (1) exactly-once per-type totals across
    * every budget boundary; (2) the FIRST trigger's admission, which
    * rides only the seed rate, never a clock: budget 1 min × seed
    * n/240 rec/s = n/4 rows (+8 per-partition rounding slack) —
    * `first_bounded`; (3) therefore the drain SPLITS — ≥2 non-empty
    * batches, `multi_batch`. What is NOT deterministic — each later
    * batch's size — rides the measured rate by design (that is the
    * feature: catch-up adapts to observed throughput) and is exactly
    * what the oracle does NOT pin. Driver fold is type-bounded with
    * the same cardinality guard as [[sPullBudget]]. */
  val sPullClock: QueryDef = QueryDef(
    fn = (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val base = graft.Stores.tmpDir(s, "pull_clock")
      graft.sources.LogSegments.write(
        MessageLog.eventsTopic(s, dir), s"$base/src")
      val nEvents = graft.Tables.load(s, dir, "events").count()
      // seed rate chosen so the first trigger admits ~n/4 records in
      // the 1-minute budget: 60 s × (n/240 rec/s) = n/4; slack = one
      // rounding record per topic-partition, derived from the topic's
      // own partition constant so a repartitioned topic moves the pin
      val seedRate = nEvents / 240.0
      val firstCap = nEvents / 4 + MessageLog.eventsPartitions
      val typeCounts = scala.collection.concurrent.TrieMap.empty[String, Long]
      val sizes = scala.collection.concurrent.TrieMap.empty[Long, Long]
      val q = s.readStream.format("graft-log")
        .option("maxPullMinutesPerTask", "1")
        .option("pullRateInitGuess", seedRate.toString)
        .load(s"$base/src")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val perType = Streaming.decodeEvents(batch)
            .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
            .collect()
          sizes.put(batchId, perType.map(_.getLong(1)).sum)
          perType.foreach { r =>
            typeCounts.updateWith(r.getString(0)) {
              c => Some(c.getOrElse(0L) + r.getLong(1))
            }
          }
          require(typeCounts.size <= 10000,
            s"s_pull_clock driver fold saw ${typeCounts.size} event types (>10000): " +
              "the per-type fold is only safe for bounded type cardinality")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val multi = sizes.values.count(_ > 0) >= 2
      val firstBounded = sizes.getOrElse(0L, 0L) <= firstCap
      import s.implicits._
      typeCounts.toSeq.sortBy(_._1)
        .map { case (t, n) => (t, n, multi, firstBounded) }
        .toDF("event_type", "n", "multi_batch", "first_bounded")
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             TRUE AS multi_batch, TRUE AS first_bounded
      FROM events GROUP BY event_type
      ORDER BY event_type"""))

  /** s_pull_hours — the reference's TOTAL wall-clock budget
    * (`kafka.max.pull.hrs`, KafkaInputFormat.java:60-61), the last
    * budget knob in the family [[sPullBudget]] (records/trigger) and
    * [[sPullClock]] (minutes/task) opened: once a stream INSTANCE's
    * budget is spent, no further records are admitted — the
    * remaining backlog belongs to the NEXT run (Camus's
    * bounded-backfill contract). Exercised as it ships: TWO
    * AvailableNow drains of the events topic from ONE checkpoint.
    * Run 1 carries maxPullHours = 1e-6 (3.6 ms — spent the moment
    * the first micro-batch lands, since the budget clock starts at
    * the first admission decision and no micro-batch completes in
    * 3.6 ms) plus a record cap of n/4, so it deterministically
    * admits EXACTLY its first trigger, then stops mid-backlog and
    * terminates (zero admission ends an AvailableNow drain). Run 2
    * restarts from the same checkpoint with a fresh (absent) budget
    * and finishes. The oracle pins exactly the deterministic surface
    * (the [[sPullClock]] discipline): exactly-once per-type totals
    * across BOTH runs (nothing lost, nothing replayed at the budget
    * boundary), `run1_bounded` (run 1 = one capped trigger, ≤ n/4 +
    * per-partition slack from [[MessageLog.eventsPartitions]]), and
    * `run1_partial` (the budget genuinely split the drain: both runs
    * admitted records). */
  val sPullHours: QueryDef = QueryDef(
    fn = (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val base = graft.Stores.tmpDir(s, "pull_hours")
      graft.sources.LogSegments.write(
        MessageLog.eventsTopic(s, dir), s"$base/src")
      val nEvents = graft.Tables.load(s, dir, "events").count()
      val perTrigger = math.max(1L, nEvents / 4)
      val typeCounts = scala.collection.concurrent.TrieMap.empty[String, Long]
      val runTotals = scala.collection.concurrent.TrieMap.empty[Int, Long]
      def drain(run: Int, hours: Option[String]): Unit = {
        val reader = s.readStream.format("graft-log")
          .option("maxRecordsPerTrigger", perTrigger.toString)
        val q = hours.fold(reader)(h => reader.option("maxPullHours", h))
          .load(s"$base/src")
          .writeStream
          .option("checkpointLocation", s"$base/chk")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val perType = Streaming.decodeEvents(batch)
              .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
              .collect()
            runTotals.updateWith(run) {
              c => Some(c.getOrElse(0L) + perType.map(_.getLong(1)).sum)
            }
            perType.foreach { r =>
              typeCounts.updateWith(r.getString(0)) {
                c => Some(c.getOrElse(0L) + r.getLong(1))
              }
            }
            require(typeCounts.size <= 10000,
              s"s_pull_hours driver fold saw ${typeCounts.size} event types (>10000): " +
                "the per-type fold is only safe for bounded type cardinality")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain(1, Some("0.000001")) // budget spent after the 1st admission
      drain(2, None)             // fresh run: finish the backlog
      val r1 = runTotals.getOrElse(1, 0L)
      val r2 = runTotals.getOrElse(2, 0L)
      val run1Bounded = r1 <= perTrigger + MessageLog.eventsPartitions
      val run1Partial = r1 > 0 && r2 > 0
      import s.implicits._
      typeCounts.toSeq.sortBy(_._1)
        .map { case (t, n) => (t, n, run1Bounded, run1Partial) }
        .toDF("event_type", "n", "run1_bounded", "run1_partial")
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             TRUE AS run1_bounded, TRUE AS run1_partial
      FROM events GROUP BY event_type
      ORDER BY event_type"""))

  /** Ingest-time decontamination ([[Streaming.contaminationHits]] —
    * bloom screen per document, exact verify join for suspects only).
    * The driver's batch gate left-joins the corpus back for the full
    * flags table, which must equal the batch t_contamination result
    * (same oracle); StreamingSpec replays the topic as a stream in
    * update mode and asserts the identical verified-hit set. */
  val sContamination: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Streaming.decodeDocuments(MessageLog.documentsTopic(s, dir))
      val bench = docs.filter(col("doc_id") < 20)
      val hits = Streaming.contaminationHits(docs, bench)
      docs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
          coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy(col("doc_id"))
    },
    oracle = Pipeline.tContamination.oracle)

  /** Streaming last-touch attribution through
    * [[graft.streaming.Streaming.LastTouchProcessor]]: each purchase
    * attributed online from O(1) per-user state. The driver's batch
    * gate replays the full log in one call per user (processor sorts
    * by the oracle's (ts_ms, event_id) frame order); StreamingSpec
    * replays the same log across event-time-ordered micro-batches and
    * asserts the emitted attribution set is identical. */
  val sAttribution: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.lastTouch(events(s, dir)).toDF()
        .orderBy(col("user_id"), col("ts_ms"), col("purchase_id")),
    oracle = Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        FROM events),
      enc AS (
        SELECT *,
               last_value(CASE WHEN event_type = 'click' THEN ts_ms * 10 + 1
                               WHEN event_type = 'view'  THEN ts_ms * 10 + 2
                          END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS lt
        FROM ev)
      SELECT user_id, event_id AS purchase_id, ts_ms,
             CASE WHEN lt IS NOT NULL AND ts_ms - lt // 10 <= 1800000
                  THEN CASE WHEN lt % 10 = 1 THEN 'click' ELSE 'view' END
                  ELSE 'direct' END AS channel
      FROM enc WHERE event_type = 'purchase'
      ORDER BY user_id, ts_ms, purchase_id"""))

  /** One ANN-ingest micro-batch applied to the APPEND-ONLY edge
    * chain: the batch's new vectors enter the BASE graph-ANN index by
    * running the layered search as the insert routine (link each new
    * node to its top-12 found base neighbors — [[graft.operators
    * .Pipeline]]'s dAnnGraphFullInsertRecall path, streamed), and the
    * batch writes ONLY ITS OWN insert edges as chain link
    * `d<batchId>` (the anchor `v0` holds the base edges; readers
    * union the chain). Links are keyed by BATCH IDENTITY
    * ([[mergeCdcBatch]]'s versioning discipline), so a re-delivered
    * batch recomputes its own link from the same base index and the
    * same batch content and OVERWRITES it — idempotent on redelivery
    * by construction (StreamingSpec applies a batch twice and pins
    * the identical chain). Inserts link into the BASE index only, so
    * the merged graph is a pure union — independent of batch arrival
    * order, which a file-source replay does not pin, and DISJOINT
    * across links (each delta node inserts in exactly one batch), so
    * the union needs no dedup. Unlike a cur ∪ edges full-store
    * rewrite, per-batch write cost is |batch|·k edges — never
    * index-sized, the property that matters when the accumulated
    * index dwarfs every micro-batch (at sf10 the full-rewrite chain
    * re-shuffled the whole edge store four times per run). */
  private[graft] def insertAnnBatch(
      storeBase: String, baseNodes: org.apache.spark.sql.DataFrame,
      baseGraph: org.apache.spark.sql.DataFrame,
      baseUpper: org.apache.spark.sql.DataFrame, entry: Long,
      batch: org.apache.spark.sql.DataFrame, batchId: Long,
      baseTable: Option[org.apache.spark.sql.DataFrame] = None): Unit = {
    // every batch searches the SAME base index, so the caller passes
    // its search table built once (baseTable) instead of paying one
    // build per micro-batch
    Similarity.graphSearchTopKLayered(baseNodes, batch,
        baseGraph, baseUpper, "embedding", "vec_id", k = 12,
        beam = 48, rounds = 6, upperSeed = entry, table = baseTable)
      .select(col("query_id"), col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$storeBase/d$batchId")
  }

  /** Read an [[insertAnnBatch]] chain back as one edge list: the v0
    * anchor unioned with every d* link, one glob parquet scan. */
  private[graft] def readAnnChain(s: org.apache.spark.sql.SparkSession,
      storeBase: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(s"$storeBase/*")

  /** s_ann_ingest — STREAMING ANN index maintenance, the
    * lambda-closing leg for the graph-ANN family exactly as [[sMv]]
    * closes it for MVs and [[sMerge]] for CDC upserts: the 80% base
    * index is built once and persisted (Pipeline.graphStore
    * "one" "base" — the same store the batch insert leg probes), the 20%
    * delta (vec_id ≡ 4 mod 5) streams in as 4 delivery-ordered
    * micro-batch files, and each batch enters the index through
    * [[insertAnnBatch]] — layered search-as-insert against the BASE
    * graph, the batch's OWN edges written as one batchId-keyed
    * APPEND-ONLY chain link (idempotent redelivery — a replayed
    * batch overwrites its own link; order-independent final graph
    * because inserts link into base only). The merged graph
    * ([[readAnnChain]]: v0 anchor ∪ every d* link, one glob scan)
    * serves the standard probe set and must clear the SAME floors as
    * the one-shot insert key: recall ≥ 0.8 vs brute over the FULL
    * corpus, `all_covered` (every delta node carries insert edges —
    * nothing dropped at a batch boundary), `multi_batch` (the stream
    * genuinely split). Per-batch cost = |batch| layered searches +
    * a |batch|·k edge write — never index-sized, the production
    * shape of continuous vector-index ingestion. */
  val sAnnIngest: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "sann")
      val emb = graft.Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the SAME predicate the cached "base" store was built with —
      // a locally re-spelled split could silently diverge from it
      val baseNodes = emb.filter(!Pipeline.graphDelta(col("vec_id")))
      val delta = emb.filter(Pipeline.graphDelta(col("vec_id")))
      val nDelta = delta.count()
      val index = Pipeline.graphStore(s, dir, "one", "base")
      val (baseGraph, baseUpper, entry) =
        (index.graph, index.upper.get, index.entry)
      // anchor the chain with the base edges (v0 = the stored index)
      baseGraph.select(col("query_id"), col("neighbor_id"))
        .write.mode("overwrite").parquet(s"$base/store/v0")
      // 4 delivery-ordered micro-batch files (vec_id buckets — any
      // deterministic split works: the final graph is order-free)
      val nb = 4
      (0 until nb).foreach { i =>
        delta.filter(pmod(expr("vec_id div 5"), lit(nb)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      // one search-table build serves all micro-batch inserts
      val baseTable = Similarity.searchTable(baseNodes, "embedding",
        "vec_id", baseGraph, Some(baseUpper))
      val q = s.readStream
        .schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          insertAnnBatch(s"$base/store", baseNodes, baseGraph,
            baseUpper, entry, batch, batchId, Some(baseTable))
          batches.incrementAndGet()
          ()
        }
        .start()
      // stop in finally: a foreachBatch failure must not leave the
      // query running against its temp checkpoint (it would wedge
      // subsequent keys in the same session)
      try q.processAllAvailable() finally q.stop()
      val merged = readAnnChain(s, s"$base/store")
      val queries = emb.filter(col("vec_id") < 10)
      val approx = Similarity.graphSearchTopKLayered(emb, queries,
          merged, baseUpper, "embedding", "vec_id", k = 5, beam = 48,
          rounds = 6, upperSeed = entry)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(emb, queries, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val covered = merged.filter(pmod(col("query_id"), lit(5)) === 4)
        .select(col("query_id")).distinct().count()
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .select(col("n_queries"),
          Pipeline.recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          lit(covered == nDelta).as("all_covered"),
          lit(batches.get() >= 2L).as("multi_batch"))
        .localCheckpoint(eager = true)
      emb.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS all_covered, TRUE AS multi_batch
      FROM embeddings WHERE vec_id < 10"""))

  /** One ROUTED-index ingest micro-batch: each new vector is
    * assigned to its nearest k-means cell by the STORE's own
    * quantizer and linked to its top-12 in-cell neighbors by running
    * the in-ASSIGNED-cell search as the insert routine
    * ([[Similarity.graphSearchTopKAssigned]] — routed by the exact
    * assignment argmax, not the rounded multi-probe ranking, so
    * every insert edge provably stays inside the assigned cell and
    * the shard-closure invariant that makes routing sound survives
    * ingestion by construction). Edges land in a batchId-keyed
    * append-only chain link exactly as [[insertAnnBatch]]. */
  private[graft] def insertAnnBatchRouted(storeBase: String,
      baseNodes: org.apache.spark.sql.DataFrame,
      baseGraph: org.apache.spark.sql.DataFrame,
      entries: org.apache.spark.sql.DataFrame,
      cents: Array[Seq[Float]],
      batch: org.apache.spark.sql.DataFrame, batchId: Long,
      baseTable: Option[org.apache.spark.sql.DataFrame] = None): Unit = {
    // one search table shared across micro-batches, as insertAnnBatch
    Similarity.graphSearchTopKAssigned(baseNodes, batch, baseGraph,
        entries, cents, "embedding", "vec_id", k = 12,
        beamPerShard = 24, rounds = 6, table = baseTable)
      .select(col("query_id"), col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$storeBase/d$batchId")
  }

  /** s_ann_ingest_routed — STREAMING ingest into the ROUTED
    * (k-means-sharded) graph index, the scale-path twin of
    * [[sAnnIngest]]: since the routed index is the search shape that
    * survives corpus growth (per-query cost independent of shard
    * count), its maintenance loop must too. The 80% base routed
    * index is built once and persisted
    * ([[Pipeline.graphStore]] "cells" "base"); the 20% delta streams
    * in 4 delivery-ordered micro-batches; each batch enters through
    * [[insertAnnBatchRouted]] — cell assignment is one map-side
    * NearestCentroid projection against the STORE's quantizer, the
    * in-assigned-cell search links top-12, and edges append to
    * the batchId-keyed chain (idempotent redelivery, order-free
    * union, |batch|-sized writes — all of [[insertAnnBatch]]'s
    * properties). The merged graph is searched ROUTED (w=3 — the
    * base-trained quantizer's cells shift slightly vs the
    * full-corpus build and the demo-SF boundary losses need one
    * extra probe: measured 76/88 at w=2 vs 80/96 at w=3 for
    * sf0.01/sf0.1; w·4 = shards still holds the ≤¼ cut at the
    * 12-cell floor) by the standard probe set: recall ≥ 0.8 vs
    * brute over the FULL corpus,
    * `all_covered` (every delta node carries insert edges),
    * `cell_closed` (ZERO chained edges cross a cell of the store's
    * quantizer — ingestion preserved the invariant routing depends
    * on), `multi_batch`. */
  val sAnnIngestRouted: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "sannr")
      val emb = graft.Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the SAME predicate the cached "base" store was built with —
      // a locally re-spelled split could silently diverge from it
      val delta = emb.filter(Pipeline.graphDelta(col("vec_id")))
      val nDelta = delta.count()
      val index = Pipeline.graphStore(s, dir, "cells", "base")
      val (baseGraph, entries, cents) =
        (index.graph, index.entries, index.centroids.get)
      val baseNodes = emb.filter(!Pipeline.graphDelta(col("vec_id")))
      baseGraph.select(col("query_id"), col("neighbor_id"))
        .write.mode("overwrite").parquet(s"$base/store/v0")
      val nb = 4
      (0 until nb).foreach { i =>
        delta.filter(pmod(expr("vec_id div 5"), lit(nb)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      // one search-table build serves all micro-batch inserts
      val baseTable = Similarity.searchTable(baseNodes, "embedding",
        "vec_id", baseGraph,
        shard = Similarity.cellColumn(baseNodes, "embedding", cents))
      val q = s.readStream
        .schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          insertAnnBatchRouted(s"$base/store", baseNodes, baseGraph,
            entries, cents, batch, batchId, Some(baseTable))
          batches.incrementAndGet()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val merged = readAnnChain(s, s"$base/store")
      val queries = emb.filter(col("vec_id") < 10)
      val approx = Similarity.graphSearchTopKRouted(emb, queries,
          merged, entries, cents, "embedding", "vec_id", k = 5,
          beamPerShard = 16, rounds = 6, probeShards = 3)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(emb, queries, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val covered = merged.filter(pmod(col("query_id"), lit(5)) === 4)
        .select(col("query_id")).distinct().count()
      val assign = Similarity.shardAssign(emb, "embedding", "vec_id", cents)
      val crossCell = merged
        .join(assign.select(col("id").as("query_id"), col("shard").as("qs")),
          Seq("query_id"))
        .join(assign.select(col("id").as("neighbor_id"),
          col("shard").as("ns")), Seq("neighbor_id"))
        .filter(col("qs") =!= col("ns"))
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(crossCell.agg(count(lit(1)).as("n_cross")))
        .select(col("n_queries"),
          Pipeline.recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          lit(covered == nDelta).as("all_covered"),
          (col("n_cross") === 0).as("cell_closed"),
          lit(batches.get() >= 2L).as("multi_batch"))
        .localCheckpoint(eager = true)
      emb.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS all_covered, TRUE AS cell_closed, TRUE AS multi_batch
      FROM embeddings WHERE vec_id < 10"""))

  /** s_ann_delete — the STREAMING DELETE + COMPACTION leg of the
    * graph-ANN lifecycle, closing the operational loop [[sAnnIngest]]
    * opened for inserts: tombstone ids arrive as delivery-ordered
    * micro-batches, each batch appends its OWN tombstone set as a
    * batchId-keyed chain link (`t<batchId>` — [[insertAnnBatch]]'s
    * append-only discipline: a redelivered batch overwrites its own
    * link, per-batch write cost is |batch|-sized, and the merged
    * tombstone set is one glob scan). While the accumulated fraction
    * sits under the 5% rebuild threshold the correct action is
    * mark-deleted search (the batch delete leg's oversampled probe);
    * here the streamed tombstones cross it — the same loud `require`
    * as the batch compaction leg, so the key can never silently
    * degrade into a no-op — and compaction triggers: the index is
    * REBUILT over survivors (ONE code path with the batch leg —
    * [[Pipeline.graphStore]] "one" "compact") and the standard probe
    * set searches the compacted store PLAIN k-deep (no oversampling,
    * the operational payoff). Contracts: recall ≥ 0.8 vs brute over
    * survivors, `tombstones_gone` (zero edges incident to a streamed
    * tombstone in the compacted index), `compact_triggered` (the
    * merged chain genuinely crossed 5% — threshold drift cannot
    * silently skip the rebuild), `multi_batch` (the tombstones
    * genuinely streamed). */
  val sAnnDelete: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "sanndel")
      val emb = graft.Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      val tomb = emb.filter(Pipeline.graphTombstoned(col("vec_id")))
        .select(col("vec_id"))
      // 2 delivery-ordered tombstone micro-batch files
      val nb = 2
      (0 until nb).foreach { i =>
        tomb.filter(pmod(expr("vec_id div 10"), lit(nb)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = s.readStream
        .schema(tomb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          batch.select(col("vec_id"))
            .write.mode("overwrite").parquet(s"$base/tomb/t$batchId")
          batches.incrementAndGet()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val tombAll = s.read.parquet(s"$base/tomb/*")
        .select(col("vec_id")).distinct()
        .localCheckpoint(eager = true)
      val nTomb = tombAll.count()
      require(nTomb * 20 >= n,
        s"graft: streamed tombstone fraction under the 5% rebuild " +
          s"threshold (got $nTomb of $n) — below it the correct " +
          "action is mark-deleted search, not compaction")
      val index = Pipeline.graphStore(s, dir, "one", "compact")
      val (graph, upper, entry, storedN) =
        (index.graph, index.upper.get, index.entry, index.n)
      val survivors = emb.join(tombAll, Seq("vec_id"), "left_anti")
      val qs = emb.filter(col("vec_id") < 10)
      val approx = Similarity.graphSearchTopKLayered(survivors, qs,
          graph, upper, "embedding", "vec_id", k = 5, beam = 48,
          rounds = 6, upperSeed = entry)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(survivors, qs, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val tombEdges = graph
        .join(tombAll.select(col("vec_id").as("query_id")), Seq("query_id"))
        .select(col("query_id").as("vid"))
        .union(graph
          .join(tombAll.select(col("vec_id").as("neighbor_id")),
            Seq("neighbor_id"))
          .select(col("neighbor_id").as("vid")))
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(tombEdges.agg(count(lit(1)).as("n_tomb_edges")))
        .select(col("n_queries"),
          Pipeline.recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          (col("n_tomb_edges") === 0).as("tombstones_gone"),
          lit(storedN == n - nTomb).as("compact_triggered"),
          lit(batches.get() >= 2L).as("multi_batch"))
        .localCheckpoint(eager = true)
      emb.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS tombstones_gone, TRUE AS compact_triggered,
             TRUE AS multi_batch
      FROM embeddings WHERE vec_id < 10"""))

  /** Read an append-only chain back, RESTRICTED to links strictly
    * below a batch id (plus the v0 anchor): the replay-correct view a
    * REDELIVERED batch must recompute its decisions against — links
    * written by this or later batches are excluded, so batch b's
    * recomputation sees exactly the state it saw the first time (the
    * chain discipline's idempotency, extended to operators whose
    * per-batch DECISIONS read the accumulated state, not just the
    * static base store). Link names are `<prefix><batchId>`. */
  private[graft] def readChainBelow(s: org.apache.spark.sql.SparkSession,
      dirPath: String, prefix: String, below: Long)
      : org.apache.spark.sql.DataFrame = {
    val paths = Option(new java.io.File(dirPath).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter { c =>
        val nm = c.getName
        nm == "v0" || (nm.startsWith(prefix) &&
          nm.drop(prefix.length).nonEmpty &&
          nm.drop(prefix.length).forall(_.isDigit) &&
          nm.drop(prefix.length).toLong < below)
      }
      .map(_.getAbsolutePath).sorted.toIndexedSeq
    s.read.parquet(paths: _*)
  }

  /** Drop-decision threshold, integer cosm (= round(cos·10⁴)): the
    * d_semdedup family's τ = 0.35 on this embedding space. */
  private val SemDropCosm = 3500L

  /** Residual-duplication ceiling for [[sSemdedup]]'s miss contract:
    * the fraction of KEPT stream vectors that still have an exact
    * τ-neighbor among the final keepers (the duplication the blocked
    * drop path failed to catch — the boundary losses
    * d_semdedup_recall floors for the batch pass). Measured 0/35 at
    * sf0.01 and 0/19 at sf0.1 under 8-probe arrivals (4-probe
    * arrivals measured 1/36 and 5/34 — the extra probes close the
    * straddling-pair gap); ceiling leaves headroom for a few misses
    * on corpora with more boundary mass, the recall-contract
    * methodology. */
  private val SemResidualMaxPct = 10L

  /** One semantic-dedup micro-batch against the accumulated keeper
    * chain (the [[sSemdedup]] per-batch body, extracted so the spec
    * can replay a batch and pin redelivery idempotency): reads
    * keeper vectors + postings STRICTLY BELOW `b`
    * ([[readChainBelow]]), drops arrivals with an exact τ-match among
    * cell-blocked keeper candidates, dedups the remainder within the
    * batch by the batch semdedup decision, and appends three
    * batchId-keyed links — drop ledger `x<b>`, keeper vectors
    * `k<b>`, keeper postings `p<b>`. */
  private[graft] def semDedupBatch(s: org.apache.spark.sql.SparkSession,
      base: String, centRef: graft.plans.BroadcastCentroids,
      centDf: org.apache.spark.sql.DataFrame, nlist: Int,
      probes: Int, arrivalProbes: Int,
      batch: org.apache.spark.sql.DataFrame, b: Long): Unit = {
    val curKeep = readChainBelow(s, s"$base/keep", "k", b)
    val curPost = readChainBelow(s, s"$base/post", "p", b)
    // leg 1: drop arrivals an accumulated keeper already covers —
    // candidates are (arrival, keeper) pairs sharing a probed cell,
    // verified by exact cosine. Vectors ride BOTH join inputs and the
    // cosine streams inline in the cell join (the semanticPairs
    // multi-probe shape): the keeper postings attach their vectors
    // via one keeper-count-sized join, the arrival side (a micro-
    // batch) broadcasts, and only cosm-survivors reach a shuffle —
    // the previous dedup-candidates-first shape put the full
    // candidate mass through a distinct AND a keeper-vector join. A
    // pair sharing several cells just repeats its cosine (identical
    // value, <= min(probes, arrivalProbes) times), and the max_by
    // below is duplicate-stable.
    val postVec = curPost.select(col("lid"), col("vec_id").as("kid"))
      .join(curKeep.select(col("vec_id").as("kid"),
        col("embedding").as("vb")), Seq("kid"))
    val arrVec = broadcast(
      Dedup.probeAssign(batch, "embedding", "vec_id",
          centRef, nlist, arrivalProbes)
        .join(batch.select(col("vec_id"), col("embedding").as("va")),
          Seq("vec_id")))
    val idxDrops = postVec.join(arrVec, Seq("lid"))
      .select(col("vec_id"), col("kid"),
        round(Similarity.cosine(col("va"), col("vb")) * 10000)
          .cast("long").as("cosm"))
      .filter(col("cosm") >= SemDropCosm)
      .groupBy(col("vec_id"))
      .agg(max_by(col("kid"), struct(col("cosm"),
        (-col("kid")).as("nid"))).as("match_id"))
      .withColumn("rep_id", col("match_id"))
      .localCheckpoint(eager = true)
    // leg 2: the batch semdedup decision WITHIN the batch (arrivals
    // in one micro-batch are concurrent — no arrival order exists,
    // so the batch keep rule is the right one)
    val idxSurv = batch
      .join(idxDrops.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .localCheckpoint(eager = true)
    val pairs = Dedup.semanticPairs(idxSurv, "embedding", "vec_id",
        centroids = Some(centDf), probes = probes)
      .localCheckpoint(eager = true)
    val labeled = Dedup.clusters(pairs,
      universe = Some(idxSurv.select(col("vec_id"))))
    // within-batch match = best pair partner (exact cos >= tau by
    // construction); representative = the cluster canonical
    val sym = pairs.select(col("id_a").as("id"),
        col("id_b").as("p"), col("cos"))
      .union(pairs.select(col("id_b").as("id"),
        col("id_a").as("p"), col("cos")))
    val bestPartner = sym.groupBy(col("id"))
      .agg(max_by(col("p"), struct(col("cos"),
        (-col("p")).as("nid"))).as("match_id"))
    val wbDrops = labeled.filter(!col("is_canonical"))
      .select(col("id").as("vec_id"), col("cluster_id").as("rep_id"))
      .join(bestPartner.select(col("id").as("vec_id"),
        col("match_id")), Seq("vec_id"))
      .select(col("vec_id"), col("match_id"), col("rep_id"))
    idxDrops.select(col("vec_id"), col("match_id"), col("rep_id"))
      .unionByName(wbDrops)
      .write.mode("overwrite").parquet(s"$base/drop/x$b")
    // leg 3: survivors become keepers — vectors plus their
    // probe-cell postings, each a |batch|-sized chain link
    val survivors = batch
      .join(s.read.parquet(s"$base/drop/x$b").select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      .localCheckpoint(eager = true)
    survivors.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$base/keep/k$b")
    Dedup.probeAssign(survivors, "embedding", "vec_id", centRef,
        nlist, probes)
      .select(col("lid"), col("vec_id"))
      .write.mode("overwrite").parquet(s"$base/post/p$b")
  }

  /** s_semdedup — STREAMING SEMANTIC DEDUP, the online leg of the
    * d_semdedup family: new vectors arrive in delivery-ordered
    * micro-batches; each arrival is blocked against the ACCUMULATED
    * keeper set by the SAME multi-probe quantizer blocking the batch
    * pass uses ([[Dedup.probeAssign]], probes = 4, centroids trained
    * once on the base corpus — the production train-once/serve-online
    * shape), exact-cosine-checked against only the keepers sharing a
    * probed cell, and DROPPED on any match ≥ τ = 0.35 (first-seen
    * wins, the online semantics of corpus ingestion). Arrivals that
    * clear the keeper check are deduped WITHIN the batch by the batch
    * decision itself ([[Dedup.semanticPairs]] + [[Dedup.clusters]]
    * keep-min-id — one code path with d_semdedup_keep), and survivors
    * become keepers: vectors + their probe-cell POSTINGS append as
    * batchId-keyed chain links (assignment computed once per keeper
    * at insert, never recomputed — the posting chain is what batch
    * n+1 joins against). A graph-ANN drop path was probed first and
    * measured structurally worse (45% residual at sf0.01 vs 18%
    * here): beam search optimizes nearest-neighbor recall, but a
    * τ = 0.35 drop decision in this weakly-clustered space needs
    * recall on THRESHOLD matches far beyond top-k — exactly what
    * cell blocking bounds and beam search does not.
    *
    * Decisions are recomputed against [[readChainBelow]] (links
    * strictly below the batch), so a REDELIVERED batch replays its
    * exact original decisions — idempotent by construction. Per-batch
    * cost: |batch|·nlist assignment flops map-side plus
    * Σ_cell |arrivals_cell|·|keepers_cell| exact cosines — the batch
    * pass's pair-mass shape, kept linear by [[Similarity
    * .autoNlistPairs]] sizing; never a corpus scan.
    *
    * Contracts (all exact, recomputed from raw vectors at the end):
    * `partition_ok` — drops ∪ kept is a disjoint partition of the
    * stream; `drops_sound` — every dropped vector's recorded match
    * has exact cosine ≥ τ (no vector was discarded on a hallucinated
    * similarity — the check that matters when the decision is DATA
    * LOSS); `reps_kept` — every drop names a kept representative
    * (keeper drops name their matched keeper; within-batch drops name
    * their cluster canonical, kept by the min-id rule), so the
    * audit trail a curation pass needs ("which keeper displaced
    * this?") never dangles; `dropped_some` — the stream genuinely
    * deduped; `residual_ok` — ≤ [[SemResidualMaxPct]]% of kept
    * stream vectors (id-capped sample, the d_semdedup_recall
    * convention) still have an exact τ-neighbor among final keepers;
    * `multi_batch` — the stream genuinely split. */
  val sSemdedup: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "ssem")
      val emb = graft.Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val baseNodes = emb.filter(!Pipeline.graphDelta(col("vec_id")))
      val delta = emb.filter(Pipeline.graphDelta(col("vec_id")))
      val nDelta = delta.count()
      val nBase = baseNodes.count()
      val nlist = Similarity.autoNlistPairs(nBase)
      val cents = Similarity.trainQuantizer(baseNodes, "embedding",
        "vec_id", nlist, 3)
      val centRef = graft.plans.BroadcastCentroids(
        s.sparkContext.broadcast(cents.map(_.toArray)))
      val probes = 4
      // the ARRIVAL side probes deeper (the IVF convention of
      // spending nprobe on the query side: keeper postings stay ×4,
      // so the posting chain's size is the batch pass's, while each
      // arrival checks 8 cells — a straddling τ-pair is recovered
      // when ANY of the 8×4 combinations share a cell)
      val arrivalProbes = 8
      // chain anchors: v0 = the base keepers (vectors + their
      // probe-cell postings) and an empty drop ledger fixing the
      // ledger schema
      baseNodes.select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$base/keep/v0")
      Dedup.probeAssign(baseNodes, "embedding", "vec_id", centRef,
          nlist, probes)
        .select(col("lid"), col("vec_id"))
        .write.mode("overwrite").parquet(s"$base/post/v0")
      delta.filter(lit(false))
        .select(col("vec_id"), col("vec_id").as("match_id"),
          col("vec_id").as("rep_id"))
        .write.mode("overwrite").parquet(s"$base/drop/v0")
      val centDf = {
        import s.implicits._
        cents.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("seed_id", "sv")
      }
      val nb = 4
      (0 until nb).foreach { i =>
        delta.filter(pmod(expr("vec_id div 5"), lit(nb)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = s.readStream
        .schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, b: Long) =>
          semDedupBatch(s, base, centRef, centDf, nlist, probes,
            arrivalProbes, batch, b)
          batches.incrementAndGet()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val keepers = readChainBelow(s, s"$base/keep", "k", Long.MaxValue)
        .localCheckpoint(eager = true)
      val drops = readChainBelow(s, s"$base/drop", "x", Long.MaxValue)
        .localCheckpoint(eager = true)
      val keptStream = keepers.filter(Pipeline.graphDelta(col("vec_id")))
      val nKept = keptStream.count()
      val nDrops = drops.count()
      val overlap = keptStream.join(drops, Seq("vec_id"), "left_semi").count()
      // exact re-verification of every drop from raw vectors
      val vecs = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      val dropCos = drops
        .join(vecs.select(col("id").as("vec_id"), col("v").as("va")),
          Seq("vec_id"))
        .join(vecs.select(col("id").as("match_id"), col("v").as("vb")),
          Seq("match_id"))
        .select(round(Similarity.cosine(col("va"), col("vb")) * 10000)
          .cast("long").as("cosm"))
      val repsDangling = drops
        .join(keepers.select(col("vec_id").as("rep_id")), Seq("rep_id"),
          "left_anti").count()
      // residual duplication among the kept: the KEEPER side is
      // id-capped (the d_semdedup_recall convention bounds the brute
      // audit leg) but the kept side runs in full — survivors of a
      // dedup pass are the small side by construction, and auditing
      // all of them keeps the ratio's denominator honest instead of
      // sample-noise-dominated
      val keptAud = keptStream
        .select(col("vec_id").as("ka"), col("embedding").as("va"))
      val keepCap = keepers.filter(col("vec_id") < 1000)
        .select(col("vec_id").as("kb"), col("embedding").as("vb"))
      val resid = keptAud.crossJoin(broadcast(keepCap))
        .filter(col("ka") =!= col("kb"))
        .filter(round(Similarity.cosine(col("va"), col("vb")) * 10000)
          .cast("long") >= SemDropCosm)
        .select(col("ka")).distinct().count()
      val nKeptCap = keptAud.count()
      val out = delta.agg(count(lit(1)).as("n_stream"))
        .crossJoin(dropCos.agg(
          coalesce(min(col("cosm")), lit(SemDropCosm)).as("min_cosm")))
        .select(col("n_stream"),
          lit(nKept + nDrops == nDelta && overlap == 0L).as("partition_ok"),
          (col("min_cosm") >= SemDropCosm).as("drops_sound"),
          lit(repsDangling == 0L).as("reps_kept"),
          lit(nDrops >= 1L).as("dropped_some"),
          lit(resid * 100L <= SemResidualMaxPct * math.max(nKeptCap, 1L))
            .as("residual_ok"),
          lit(batches.get() >= 2L).as("multi_batch"))
        .localCheckpoint(eager = true)
      emb.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_stream, TRUE AS partition_ok,
             TRUE AS drops_sound, TRUE AS reps_kept, TRUE AS dropped_some,
             TRUE AS residual_ok, TRUE AS multi_batch
      FROM embeddings WHERE vec_id % 5 = 4"""))

  /** Stream-stream LEFT OUTER interval join (the alerting companion
    * to [[sStreamJoin]]'s inner): every error row survives — paired
    * with its lookback clicks or emitted once as unanswered.
    * StreamingSpec replays the same plan under readStream in append
    * mode and asserts the unmatched rows emit after the watermark. */
  val sOuterJoin: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.unansweredErrors(events(s, dir))
        .orderBy(col("user_id"), col("error_ts_ms"), col("click_ts_ms")),
    oracle = Some("""
      WITH ev AS (SELECT user_id, event_type,
                         make_timestamp(epoch_ms(ts) * 1000) AS ts
                  FROM events),
      err AS (SELECT user_id, ts FROM ev WHERE event_type = 'error'),
      clk AS (SELECT user_id, ts FROM ev WHERE event_type = 'click')
      SELECT err.user_id, epoch_ms(err.ts) AS error_ts_ms,
             epoch_ms(clk.ts) AS click_ts_ms,
             clk.ts IS NULL AS unanswered
      FROM err LEFT JOIN clk ON clk.user_id = err.user_id
        AND clk.ts >= err.ts - INTERVAL 30 MINUTE AND clk.ts <= err.ts
      ORDER BY 1, 2, 3"""))

  /** Streaming rate-spike alerting ([[Streaming.rateAlerts]]): the
    * stream pays one watermarked hourly count + a broadcast join
    * against the offline-refreshed median/MAD threshold table (here
    * derived from q_spike's own output, so the driver row reuses
    * q_spike's oracle verbatim — the two plans must agree row for
    * row). StreamingSpec replays the topic micro-batched. */
  val sSpike: QueryDef = QueryDef(
    fn = (s, dir) => {
      val thresholds = Relational.qSpike.fn(s, dir)
        .select(col("event_type"), col("med"), col("mad")).distinct()
      Streaming.rateAlerts(events(s, dir), thresholds)
        .orderBy(col("event_type"), col("bucket"))
    },
    oracle = Relational.qSpike.oracle)

  /** Streaming event-flow transition matrix through
    * [[graft.streaming.Streaming.TransitionProcessor]] (O(1) per-user
    * state, one edge emitted per event at arrival), aggregated to the
    * identical (from, to, n, share_pm) matrix as the batch lag-window
    * plan — q_transitions' oracle verbatim. StreamingSpec replays the
    * topic micro-batched and asserts the same emitted edge multiset
    * across a batch boundary. */
  val sTransitions: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cnt = Streaming.transitions(events(s, dir)).toDF()
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val wF = org.apache.spark.sql.expressions.Window
        .partitionBy(col("from_type"))
      cnt.withColumn("sum_n", sum(col("n")).over(wF))
        .withColumn("share_pm", expr("1000 * n div sum_n"))
        .select(col("from_type"), col("to_type"), col("n"), col("share_pm"))
        .orderBy(col("from_type"), col("to_type"))
    },
    oracle = Relational.qTransitions.oracle)

  /** Streaming funnel through
    * [[graft.streaming.Streaming.FunnelProcessor]] (O(1) first-reach
    * timestamp triple per user, each stage emitted exactly once at
    * arrival), aggregated to q_funnel's stage-count table and sharing
    * its oracle. StreamingSpec replays the topic micro-batched and
    * asserts the same reach set with stages crossing batch
    * boundaries. */
  val sFunnel: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.funnelStages(events(s, dir)).toDF()
        .groupBy(col("stage"), col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage")),
    oracle = Relational.qFunnel.oracle)

  /** s_cusum — streaming DRIFT MONITOR: [[graft.streaming.Streaming
    * .CusumProcessor]], O(1) integer state per event type, over
    * watermark-closed daily counts; the reference rate rides in as a
    * calibration artifact (computed here from the same corpus —
    * standing in for the prior window a production deployment
    * calibrates from; a handful of (type, total, m) rows, a bounded
    * driver artifact like the ANN centroids). Batch leg shares
    * q_cusum's oracle verbatim; StreamingSpec proves the running s
    * bridges micro-batches. */
  val sCusum: QueryDef = QueryDef(
    fn = (s, dir) => {
      val cnt = events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      // The calibration map is a DRIVER artifact sized by event-type
      // cardinality (a handful of rows in this corpus). Guard it: a
      // caller pointing this at a high-cardinality type column should
      // fail loudly here, not OOM the driver inside collect().
      val refRows = cnt.groupBy(col("event_type"))
        .agg(sum(col("n")).as("total"), count(lit(1)).as("m"))
        .collect()
      require(refRows.length <= 10000,
        s"s_cusum calibration map has ${refRows.length} event types; " +
          "the per-type reference is a driver-side artifact bounded by " +
          "type cardinality — pre-aggregate or bucket the type column " +
          "before calibrating at this cardinality")
      val ref = refRows
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      Streaming.cusumPoints(cnt, ref).toDF()
        .orderBy(col("event_type"), col("day"))
    },
    oracle = Relational.qCusum.oracle)

  /** s_topk — streaming HEAVY HITTERS ([[graft.streaming.Streaming
    * .SpaceSavingProcessor]]): top-10 users per event type from a
    * BOUNDED 64-counter SpaceSaving table — O(capacity) state
    * however long the stream runs, where an exact top-k needs
    * per-user state. Rows-only by design (evictions are a sequential
    * recurrence no SQL replays); [[sTopkContract]] is the oracled
    * guarantee row in the same run. */
  val sTopk: QueryDef = QueryDef(
    fn = (s, dir) =>
      Streaming.spaceSavingTopK(events(s, dir)).toDF()
        .orderBy(col("event_type"), col("rnk")),
    oracle = None)

  /** s_topk_contract — the paper's three guarantees, each checked
    * against EXACT per-user counts and pinned TRUE: est never
    * undercounts; est − err never overshoots the true count; and no
    * user OUTSIDE the table has a true count above the table's
    * minimum estimate (coverage — the reason SpaceSaving's table
    * provably contains every true heavy hitter). Checked over the
    * FULL 64-entry table (k = capacity), not just the reported
    * top-10, because coverage is a property of the table minimum. */
  val sTopkContract: QueryDef = QueryDef(
    fn = (s, dir) => {
      val table = Streaming.spaceSavingTopK(events(s, dir),
        capacity = 64, k = 64).toDF()
      val exact = events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("true_n"))
      val joined = table.join(exact, Seq("event_type", "user_id"))
      val bounds = joined.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_entries"),
          sum((col("est") < col("true_n")).cast("long")).as("under"),
          sum((col("est") - col("err") > col("true_n")).cast("long"))
            .as("over"))
      val minEst = table.groupBy(col("event_type"))
        .agg(min(col("est")).as("min_est"))
      // left join + coalesce(0): a type whose distinct-user count is
      // within the 64-counter capacity evicts nobody, so maxOut has no
      // row for it — an inner join would silently drop the type's
      // contract row while the oracle still emits one.
      val maxOut = exact.join(
          table.select(col("event_type"), col("user_id")),
          Seq("event_type", "user_id"), "left_anti")
        .groupBy(col("event_type"))
        .agg(max(col("true_n")).as("max_out"))
      bounds.join(minEst, "event_type")
        .join(maxOut, Seq("event_type"), "left")
        .withColumn("max_out", coalesce(col("max_out"), lit(0L)))
        .select(col("event_type"), col("n_entries"),
          (col("under") === 0L).as("upper_ok"),
          (col("over") === 0L).as("lower_ok"),
          (col("max_out") <= col("min_est")).as("coverage_ok"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type,
             CAST(least(64, count(DISTINCT user_id)) AS BIGINT) AS n_entries,
             TRUE AS upper_ok, TRUE AS lower_ok, TRUE AS coverage_ok
      FROM events GROUP BY event_type
      ORDER BY event_type"""))

  val defs: Map[String, QueryDef] = Map(
    "s_topk" -> sTopk,
    "s_topk_contract" -> sTopkContract,
    "s_cusum" -> sCusum,
    "s_scd2_held" -> sScd2Held,
    "s_mv" -> sMv,
    "s_merge" -> sMerge,
    "s_pull_budget" -> sPullBudget,
    "s_pull_clock" -> sPullClock,
    "s_ann_ingest" -> sAnnIngest,
    "s_ann_delete" -> sAnnDelete,
    "s_ann_ingest_routed" -> sAnnIngestRouted,
    "s_semdedup" -> sSemdedup,
    "s_pull_hours" -> sPullHours,
    "s_transitions" -> sTransitions,
    "s_funnel" -> sFunnel,
    "s_attribution" -> sAttribution,
    "s_outer_join" -> sOuterJoin,
    "s_spike" -> sSpike,
    "s_contamination" -> sContamination,
    "s_scd2" -> sScd2,
    "s_window_agg" -> sWindowAgg,
    "s_sliding_window" -> sSlidingWindow,
    "s_sessionize" -> sSessionize,
    "s_stream_join" -> sStreamJoin,
    "s_running_totals" -> sRunningTotals,
    "s_dedup_stream" -> sDedupStream)
}
