package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{avro, AvroCodec, MessageLog, SchemaRegistry}

/** The reference's Kafka-backed-table query surface (README.md create
  * table + TODO.md: select *, count(*), projection, filters, joins,
  * group by), re-expressed over graft's message-log source.
  *
  * Oracles recompute the deterministic producer model (partition =
  * key % 8, offset = arrival row_number) in DuckDB window SQL, so the
  * whole encode->decode->query pipeline is hash-checked end to end.
  */
object KafkaSurface {

  /** select * from kafka_table: full decode + metadata columns. */
  val kScanAll: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.eventsScan(s, dir)
        .withColumn("key_str", col("user_id").cast("string"))
        .orderBy(col("event_id")),
    oracle = Some("""
      SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props,
             'events' AS topic,
             CAST(user_id % 8 AS INTEGER) AS partition,
             row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS offset,
             CAST(user_id AS VARCHAR) AS key_str
      FROM events
      ORDER BY event_id"""))

  /** select count(*) from kafka_table. */
  val kCount: QueryDef = QueryDef(
    fn = (s, dir) => MessageLog.eventsTopic(s, dir).agg(count(lit(1)).as("n")),
    oracle = Some("SELECT count(*) AS n FROM events"))

  /** Column projection: only two payload fields survive the scan. */
  val kProjection: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.eventsScan(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy(col("event_id")),
    oracle = Some("""
      SELECT event_id, event_type, value
      FROM events
      ORDER BY event_id"""))

  /** Offset-range scan on one partition (the reference's split model:
    * KafkaRecordReader consumes [beginOffset, lastOffset) of a
    * partition). */
  val kFilterOffset: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.eventsScan(s, dir)
        .filter(col("partition") === 3 && col("offset") >= 100 && col("offset") < 300)
        .select(col("partition"), col("offset"), col("event_id"), col("event_type"))
        .orderBy(col("offset")),
    oracle = Some("""
      SELECT partition, "offset", event_id, event_type
      FROM (SELECT CAST(user_id % 8 AS INTEGER) AS partition,
                   row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS "offset",
                   event_id, event_type
            FROM events)
      WHERE partition = 3 AND "offset" >= 100 AND "offset" < 300
      ORDER BY "offset""""))

  /** Time-bounded pull (kafka.max.historical.days semantics,
    * KafkaInputFormat.java:64): only messages from the trailing 7 days
    * of the topic. */
  val kFilterTime: QueryDef = QueryDef(
    fn = (s, dir) => {
      val scan = MessageLog.eventsScan(s, dir)
      val mx = scan.agg(max(col("ts_ms")).as("mx"))
      scan.crossJoin(broadcast(mx))
        .filter(col("ts_ms") >= col("mx") - lit(7L * 86400000L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, count(*) AS n
      FROM events, (SELECT max(epoch_ms(ts)) AS mx FROM events) m
      WHERE epoch_ms(ts) >= mx - 7 * 86400000
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Whitelist with several topics (kafka.whitelist.topics): union,
    * topic column retained. */
  val kMultiTopic: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.topics(s, dir, Seq("events", "documents"))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"), countDistinct(col("partition")).as("n_partitions"))
        .orderBy(col("topic")),
    oracle = Some("""
      SELECT topic, count(*) AS n, count(DISTINCT partition) AS n_partitions
      FROM (SELECT 'events' AS topic, CAST(user_id % 8 AS INTEGER) AS partition FROM events
            UNION ALL
            SELECT 'documents' AS topic, CAST(doc_id % 8 AS INTEGER) AS partition FROM documents)
      GROUP BY topic
      ORDER BY topic"""))

  /** Nested-record serde round-trip: order + its lineitems as an Avro
    * record with an array field, encoded then decoded then aggregated.
    */
  val kAvroRoundtrip: QueryDef = QueryDef(
    fn = (s, dir) => {
      val itemType = ArrayType(StructType(Seq(
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType))))
      val payloadType = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("items", itemType)))
      val schemaJson = AvroCodec.avroSchemaFor(payloadType, "OrderWithItems").toString

      val li = Tables.load(s, dir, "lineitem")
      val items = li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity")))).as("items"))
      val enc = Tables.load(s, dir, "orders")
        .join(items, col("o_orderkey") === col("l_orderkey"))
        .select(avro.to_avro(
          struct(col("o_orderkey"), col("o_totalprice"), col("items")).cast(payloadType),
          "OrderWithItems").as("v"))
      enc.select(avro.from_avro(col("v"), schemaJson).as("r"))
        .select(
          col("r.o_orderkey").as("o_orderkey"),
          size(col("r.items")).cast("long").as("n_items"),
          round(aggregate(col("r.items"), lit(0.0),
            (acc, x) => acc + x.getField("l_quantity")), 4).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o_orderkey, count(*) AS n_items, round(sum(l_quantity), 4) AS sum_qty
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderkey
      ORDER BY o_orderkey"""))

  /** Schema-evolution scan: payloads written under a V1 schema decoded
    * under a V2 reader that reorders fields, DROPS one (value) and
    * ADDS a nullable `channel` — Avro reader/writer resolution
    * (MemorySchemaRegistry versioning) as a driver-checked query, not
    * just a spec. Dropped fields are byte-skipped at decode. */
  val kEvolve: QueryDef = QueryDef(
    fn = (s, dir) => {
      val v1Type = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val v2Type = StructType(Seq(
        StructField("channel", StringType),
        StructField("event_id", LongType),
        StructField("event_type", StringType)))
      val v1 = AvroCodec.avroSchemaFor(v1Type, "EvoEvent").toString
      val v2 = AvroCodec.avroSchemaFor(v2Type, "EvoEvent").toString
      Tables.load(s, dir, "events")
        .select(avro.to_avro(
          struct(col("event_id"), col("event_type"), col("value")).cast(v1Type),
          "EvoEvent").as("payload"))
        .select(avro.from_avro(col("payload"), v2, v1).as("r"))
        .select(col("r.event_id").as("event_id"),
          col("r.event_type").as("event_type"),
          coalesce(col("r.channel"), lit("unset")).as("channel"))
        .orderBy(col("event_id"))
    },
    oracle = Some("""
      SELECT event_id, event_type, 'unset' AS channel
      FROM events
      ORDER BY event_id"""))

  /** CSV wire format: delimited payload lines decoded with a declared
    * schema via from_csv (codegen'd UnivocityParser path) — the third
    * payload codec next to Avro and JSON. Encode->decode round trip,
    * then an aggregate the oracle recomputes from the source table. */
  val kCsvRoundtrip: QueryDef = QueryDef(
    fn = (s, dir) => {
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType)))
      Tables.load(s, dir, "events")
        .select(concat_ws(",",
          col("event_id"), col("user_id"), col("event_type")).as("line"))
        .select(from_csv(col("line"), schema, Map.empty[String, String]).as("r"))
        .groupBy(col("r.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("r.user_id")).as("sum_uid"))
        .orderBy(col("event_type"))
    },
    oracle = Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(user_id) AS BIGINT) AS sum_uid
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Kafka-backed fact joined to a dimension table (TODO.md "joins"). */
  val kJoinDim: QueryDef = QueryDef(
    fn = (s, dir) =>
      // customer scales with SF — no broadcast hint; AQE broadcasts it
      // while small and shuffles when it outgrows the threshold.
      MessageLog.eventsScan(s, dir)
        .join(Tables.load(s, dir, "customer"),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("c_mktsegment")),
    oracle = Some("""
      SELECT c_mktsegment, count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""))

  /** group by over topic data (TODO.md "group by"). */
  val kGroupby: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.eventsScan(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type")),
    oracle = Some("""
      SELECT event_type, count(*) AS n,
             round(sum(value), 4) AS sum_value,
             round(avg(value), 4) AS avg_value,
             count(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** KafkaKey surface (camus/KafkaKey.java): per topic-partition
    * begin/last offsets, message count, last message time. Aggregates
    * map-side — no extra shuffle beyond the source's own layout. */
  val kKeyMetadata: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.topics(s, dir, Seq("events", "documents"))
        .groupBy(col("topic"), col("partition"))
        .agg(min(col("offset")).as("begin_offset"),
          max(col("offset")).as("last_offset"),
          count(lit(1)).as("n"),
          max(unix_millis(col("timestamp"))).as("last_ts_ms"))
        .orderBy(col("topic"), col("partition")),
    oracle = Some("""
      WITH ev AS (SELECT CAST(user_id % 8 AS INTEGER) AS partition,
                         row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS "offset",
                         epoch_ms(ts) AS ts_ms
                  FROM events),
           dc AS (SELECT CAST(doc_id % 8 AS INTEGER) AS partition,
                         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1 AS "offset",
                         (1704067200 + doc_id * 60) * 1000 AS ts_ms
                  FROM documents)
      SELECT topic, partition, min("offset") AS begin_offset, max("offset") AS last_offset,
             count(*) AS n, max(ts_ms) AS last_ts_ms
      FROM (SELECT 'events' AS topic, * FROM ev UNION ALL SELECT 'documents' AS topic, * FROM dc)
      GROUP BY topic, partition
      ORDER BY topic, partition"""))

  /** Resume-from-committed-offsets (KafkaInputFormat.java resume model
    * + kafka.move.to.last.offset.list): a committed checkpoint per
    * partition (here: half of each partition's last offset), then a
    * scan of strictly-newer messages only. The checkpoint map is tiny
    * -> broadcast; the backlog scan prunes on the offset predicate. */
  val kResume: QueryDef = QueryDef(
    fn = (s, dir) => {
      val log = MessageLog.eventsTopic(s, dir)
      val committed = log.groupBy(col("partition"))
        .agg((max(col("offset")) / 2).cast("long").as("committed"))
      log.join(broadcast(committed), "partition")
        .filter(col("offset") > col("committed"))
        .groupBy(col("partition"))
        .agg(min(col("offset")).as("resume_from"),
          max(col("offset")).as("last_offset"),
          count(lit(1)).as("backlog"))
        .orderBy(col("partition"))
    },
    oracle = Some("""
      WITH log AS (SELECT CAST(user_id % 8 AS INTEGER) AS partition,
                          row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS "offset"
                   FROM events),
           ck AS (SELECT partition, CAST(floor(max("offset") / 2) AS BIGINT) AS committed
                  FROM log GROUP BY partition)
      SELECT log.partition, min("offset") AS resume_from,
             max("offset") AS last_offset, count(*) AS backlog
      FROM log JOIN ck ON log.partition = ck.partition
      WHERE "offset" > committed
      GROUP BY log.partition
      ORDER BY log.partition"""))

  /** The DataSourceV2 path: produce broker-style binary segments, scan
    * them through format("graft-log") — one input partition per
    * topic-partition with source-side partition/offset pruning (the
    * reference's KafkaInputFormat split model as a native connector) —
    * decode, and aggregate. */
  val kSegmentScan: QueryDef = QueryDef(
    fn = (s, dir) => {
      // segment writes append (the log model) — start from a fresh dir
      val path = s"${graft.Stores.tmpDir(s, "seg")}/events"
      graft.sources.LogSegments.write(MessageLog.eventsTopic(s, dir), path)
      s.read.format("graft-log").load(path)
        .filter(col("offset") < 500)
        .withColumn("v", avro.from_topic(col("value"), "events"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n"),
          max(col("offset")).as("max_offset"),
          round(sum(col("v.value")), 4).as("sum_value"))
        .orderBy(col("partition"))
    },
    oracle = Some("""
      WITH log AS (SELECT CAST(user_id % 8 AS INTEGER) AS partition,
                          row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS "offset",
                          value
                   FROM events)
      SELECT partition, count(*) AS n, max("offset") AS max_offset,
             round(sum(value), 4) AS sum_value
      FROM log
      WHERE "offset" < 500
      GROUP BY partition
      ORDER BY partition"""))

  /** The reference's headline UX — `CREATE EXTERNAL TABLE ... STORED
    * BY KafkaStorageHandler TBLPROPERTIES ('kafka.whitelist.topics'=
    * .., 'kafka.avro.schema.file'=..)` then plain SQL over typed
    * columns (KafkaStorageHandler.java, README "Select col1 / joins /
    * group by") — as a one-statement Spark DDL: `CREATE TABLE ...
    * USING graft-log OPTIONS (decodeTopic 'events')`. The source
    * decodes value-bytes inside the scan and prunes both columns and
    * topic/partition directories. */
  val kSqlTable: QueryDef = QueryDef(
    fn = (s, dir) => {
      // segment writes append (the log model) — start from a fresh dir
      val path = s"${graft.Stores.tmpDir(s, "sqltable")}/events"
      graft.sources.LogSegments.write(MessageLog.eventsTopic(s, dir), path)
      s.sql("DROP TABLE IF EXISTS graft_events")
      s.sql(s"""CREATE TABLE graft_events USING `graft-log`
                OPTIONS (path '$path', decodeTopic 'events')""")
      s.sql("""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
               count(DISTINCT partition) AS n_parts
        FROM graft_events
        GROUP BY event_type
        ORDER BY event_type""")
    },
    oracle = Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             CAST(count(DISTINCT user_id % 8) AS BIGINT) AS n_parts
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Write path (KafkaOutputFormat.java, demoproducer/BaseProducer.java):
    * produce the documents topic to a broker-style segment layout, read
    * it back, decode, and summarize. Every output column survives the
    * produce→persist→scan→decode round trip deterministically, so the
    * oracle recomputes them from the source table (encoded byte sizes,
    * the one non-SQL quantity, are asserted in MessageLogSpec). */
  val kSinkLog: QueryDef = QueryDef(
    fn = (s, dir) => {
      val path = s"${graft.Stores.tmpDir(s, "sink")}/documents"
      MessageLog.writeLog(MessageLog.documentsTopic(s, dir), path)
      MessageLog.readLog(s, path)
        .withColumn("v", avro.from_topic(col("value"), "documents"))
        .groupBy(col("topic"), col("partition"))
        .agg(count(lit(1)).as("n"),
          max(col("offset")).as("max_offset"),
          max(col("v.n_chars")).as("max_chars"))
        .orderBy(col("topic"), col("partition"))
    },
    oracle = Some("""
      SELECT 'documents' AS topic, CAST(doc_id % 8 AS INTEGER) AS partition,
             count(*) AS n, count(*) - 1 AS max_offset, max(n_chars) AS max_chars
      FROM documents
      GROUP BY 2
      ORDER BY 1, 2"""))

  /** Corrupt-message tolerance (camus/ExceptionWritable.java +
    * KafkaRecordReader.java skip counters): a topic whose every 50th
    * offset carries a truncated payload scans end-to-end under
    * permissive decode — bad records survive as flagged all-null rows
    * instead of the first one killing the job. */
  val kScanBad: QueryDef = QueryDef(
    fn = (s, dir) => {
      val log = MessageLog.eventsTopic(s, dir)
        .withColumn("value",
          when(col("offset") % 50 === 0, expr("substring(value, 1, 3)"))
            .otherwise(col("value")))
      log.withColumn("v", avro.from_topic_permissive(col("value"), "events"))
        .groupBy(col("v._corrupt").as("corrupt"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("v.event_type")).as("n_types"),
          round(sum(col("v.value")), 4).as("sum_value"))
        .orderBy(col("corrupt"))
    },
    oracle = Some("""
      WITH log AS (SELECT *, row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS "offset"
                   FROM events)
      SELECT ("offset" % 50 = 0) AS corrupt, count(*) AS n,
             count(DISTINCT CASE WHEN "offset" % 50 <> 0 THEN event_type END) AS n_types,
             round(sum(CASE WHEN "offset" % 50 <> 0 THEN value END), 4) AS sum_value
      FROM log
      GROUP BY corrupt
      ORDER BY corrupt"""))

  /** kafka.blacklist.topics: all known topics minus the blacklist. */
  val kBlacklist: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.topics(s, dir, Seq.empty, Seq("documents"))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"), countDistinct(col("partition")).as("n_partitions"))
        .orderBy(col("topic")),
    oracle = Some("""
      SELECT 'events' AS topic, count(*) AS n,
             count(DISTINCT user_id % 8) AS n_partitions
      FROM events"""))

  /** kafka.move.to.last.offset.list: the events topic is forced to its
    * tail (start = last offset + 1, zero backlog) while documents
    * consumes from the head — a pure metadata aggregate, no payload
    * shuffle. */
  val kMoveToLast: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.consumptionPlan(
        MessageLog.topics(s, dir, Seq("events", "documents")),
        moveToLast = Seq("events"))
        .orderBy(col("topic"), col("partition")),
    oracle = Some("""
      WITH log AS (
        SELECT 'events' AS topic, CAST(user_id % 8 AS INTEGER) AS partition,
               row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS "offset"
        FROM events
        UNION ALL
        SELECT 'documents', CAST(doc_id % 8 AS INTEGER),
               row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1
        FROM documents)
      SELECT topic, partition, max("offset") AS last_offset,
             CASE WHEN topic = 'events' THEN max("offset") + 1 ELSE 0 END AS start_offset,
             CASE WHEN topic = 'events' THEN 0 ELSE count(*) END AS backlog
      FROM log
      GROUP BY topic, partition
      ORDER BY topic, partition"""))

  /** Log-compaction view (Kafka compacted-topic semantics: the broker
    * retains only the newest record per key): one row per key carrying
    * the highest-offset payload. One hash aggregation with map-side
    * partial max_by — no window sort over the log, so the plan is a
    * single linear shuffle of pre-combined partials at any scale. */
  val kCompact: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.eventsScan(s, dir)
        .groupBy(col("user_id"))
        .agg(max(col("offset")).as("last_offset"),
          max_by(col("event_type"), col("offset")).as("last_type"),
          max_by(col("value"), col("offset")).as("last_value"),
          count(lit(1)).as("n_compacted"))
        .orderBy(col("user_id")),
    oracle = Some("""
      SELECT user_id,
             max("offset") AS last_offset,
             arg_max(event_type, "offset") AS last_type,
             arg_max(value, "offset") AS last_value,
             count(*) AS n_compacted
      FROM (SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS "offset"
            FROM events)
      GROUP BY user_id
      ORDER BY user_id"""))

  /** Semi-structured payloads: real topics carry JSON as often as
    * Avro. The events payload's `props` string parses with a declared
    * schema via from_json (codegen'd Jackson path, no UDF); malformed
    * documents yield null fields, mirroring PERMISSIVE mode. */
  val kJsonProps: QueryDef = QueryDef(
    fn = (s, dir) =>
      MessageLog.eventsScan(s, dir)
        .select(col("event_id"), col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("prop_k"))
        .groupBy(col("event_type"))
        .agg(count(col("prop_k")).as("n_parsed"),
          sum(col("prop_k")).as("sum_k"),
          min(col("prop_k")).as("min_k"),
          max(col("prop_k")).as("max_k"))
        .orderBy(col("event_type")),
    oracle = Some("""
      SELECT event_type,
             count(CAST(props->>'k' AS BIGINT)) AS n_parsed,
             CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
             min(CAST(props->>'k' AS BIGINT)) AS min_k,
             max(CAST(props->>'k' AS BIGINT)) AS max_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Streaming write path: the loop the reference's producer side
    * closes (KafkaOutputFormat.java:1) run as a NATIVE streaming
    * pipeline — `readStream.format("graft-log")` over a produced
    * segment log, `writeStream.format("graft-log")` into a second
    * log under Trigger.AvailableNow (the Camus bounded-drain mode),
    * then a batch re-read of the SINK decodes and summarizes. Every
    * record must survive stream-copy byte-exactly, so the oracle
    * recomputes the summary straight from the source table. The
    * sink's per-epoch rename commit makes the copy exactly-once
    * (LogSegmentSourceSpec pins retry overwrite); each run gets
    * a fresh scratch dir, so re-runs never accumulate epochs. */
  val kSinkStream: QueryDef = QueryDef(
    fn = (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val base = graft.Stores.tmpDir(s, "sink_stream")
      val src = s"$base/src"
      graft.sources.LogSegments.write(MessageLog.eventsTopic(s, dir), src)
      val q = s.readStream.format("graft-log").load(src)
        .writeStream.format("graft-log")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format("graft-log").load(s"$base/out")
        .withColumn("v", avro.from_topic(col("value"), "events"))
        .groupBy(col("topic"), col("partition"))
        .agg(count(lit(1)).as("n"),
          max(col("offset")).as("max_offset"),
          countDistinct(col("v.event_type")).as("n_types"),
          sum(expr("cast(round(v.value * 100) as bigint)")).as("cents"))
        .orderBy(col("topic"), col("partition"))
    },
    oracle = Some("""
      SELECT 'events' AS topic, CAST(user_id % 8 AS INTEGER) AS partition,
             count(*) AS n, count(*) - 1 AS max_offset,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      GROUP BY 2
      ORDER BY 1, 2"""))

  val defs: Map[String, QueryDef] = Map(
    "k_json_props" -> kJsonProps,
    "k_sink_stream" -> kSinkStream,
    "k_evolve" -> kEvolve,
    "k_csv" -> kCsvRoundtrip,
    "k_compact" -> kCompact,
    "k_scan_bad" -> kScanBad,
    "k_blacklist" -> kBlacklist,
    "k_move_to_last" -> kMoveToLast,
    "k_scan_all" -> kScanAll,
    "k_count" -> kCount,
    "k_projection" -> kProjection,
    "k_filter_offset" -> kFilterOffset,
    "k_filter_time" -> kFilterTime,
    "k_multi_topic" -> kMultiTopic,
    "k_avro_roundtrip" -> kAvroRoundtrip,
    "k_join_dim" -> kJoinDim,
    "k_groupby" -> kGroupby,
    "k_key_metadata" -> kKeyMetadata,
    "k_resume" -> kResume,
    "k_segment_scan" -> kSegmentScan,
    "k_sql_table" -> kSqlTable,
    "k_sink_log" -> kSinkLog)
}
