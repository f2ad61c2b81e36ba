package graft

import graft.sources.{LogSegments, MessageLog}
import org.apache.spark.sql.functions._

/** The graft-log DataSourceV2 connector: broker-style segment dirs
  * read with one input partition per topic-partition (the reference's
  * split model), with planning-time partition pruning. */
class LogSegmentSourceSpec extends SparkSpec {

  private lazy val segDir: String = {
    val path = java.nio.file.Files.createTempDirectory("graft_seg").toString
    LogSegments.write(MessageLog.eventsTopic(spark, sf), path)
    path
  }

  test("segment roundtrip: format(graft-log) equals the source log") {
    val back = spark.read.format("graft-log").load(segDir)
    val got = back.select(col("partition"), col("offset"),
        unix_millis(col("timestamp")).as("ts"), length(col("value")).as("vb"))
      .orderBy(col("partition"), col("offset")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val expected = MessageLog.eventsTopic(spark, sf)
      .select(col("partition"), col("offset"),
        unix_millis(col("timestamp")).as("ts"), length(col("value")).as("vb"))
      .orderBy(col("partition"), col("offset")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === expected.toSeq)
    assert(got.nonEmpty)
  }

  test("partition and offset predicates prune at the source") {
    val filtered = spark.read.format("graft-log").load(segDir)
      .filter(col("partition") === 3 && col("offset") >= 10 && col("offset") < 20)
    // pushed filters visible in the scan description
    val physical = filtered.queryExecution.executedPlan.toString()
    assert(physical.contains("graft-log"), physical)
    assert(physical.contains("pushed=[") && physical.contains("partition"), physical)
    val rows = filtered.select(col("partition"), col("offset")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(0) === 3 && r.getLong(1) >= 10 && r.getLong(1) < 20))
    // full scan agrees on the same slice
    val full = spark.read.format("graft-log").load(segDir)
      .select(col("partition"), col("offset")).collect()
      .count(r => r.getInt(0) == 3 && r.getLong(1) >= 10 && r.getLong(1) < 20)
    assert(rows.length === full)
  }

  test("micro-batch stream consumes the offset delta per partition") {
    import org.apache.spark.sql.streaming.Trigger
    val path = java.nio.file.Files.createTempDirectory("graft_seg_stream").toString
    val log = MessageLog.eventsTopic(spark, sf)
    LogSegments.write(log.filter(col("offset") < 50), path)

    val q = spark.readStream.format("graft-log").load(path)
      .groupBy(col("partition")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("seg_stream").start()
    q.processAllAvailable()
    val before = spark.table("seg_stream").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(before.values.sum === log.filter(col("offset") < 50).count())

    // producer appends higher offsets; the stream pulls only the delta
    LogSegments.write(log.filter(col("offset") >= 50 && col("offset") < 80), path)
    q.processAllAvailable()
    q.stop()
    val after = spark.table("seg_stream").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after.values.sum === log.filter(col("offset") < 80).count())
    assert(after.keySet === before.keySet)
  }

  test("flipped byte in a segment record is caught by the per-record crc") {
    val path = java.nio.file.Files.createTempDirectory("graft_seg_crc").toString
    LogSegments.write(
      MessageLog.eventsTopic(spark, sf).filter(col("partition") === 0), path)
    val seg = new java.io.File(s"$path/topic=events/partition=0").listFiles()
      .filter(_.getName.endsWith(".gseg")).head
    // clean read first
    val it0 = LogSegments.readFile(seg)
    val nClean = it0.size
    assert(nClean > 0)
    // flip the file's last byte — inside the final record's stored crc,
    // so parsing still succeeds and only the checksum can catch it
    val raf = new java.io.RandomAccessFile(seg, "rw")
    try {
      raf.seek(raf.length() - 1)
      val b = raf.readByte()
      raf.seek(raf.length() - 1)
      raf.writeByte(b ^ 0x40)
    } finally raf.close()
    val ex = intercept[LogSegments.CorruptRecordException] {
      val it = LogSegments.readFile(seg)
      try it.foreach(_ => ()) finally it.close()
    }
    assert(ex.getMessage.contains(s"#${nClean - 1}"), ex.getMessage)
  }

  test("a v2 segment truncated mid-record raises instead of a silent clean EOF") {
    val path = java.nio.file.Files.createTempDirectory("graft_seg_trunc").toString
    LogSegments.write(
      MessageLog.eventsTopic(spark, sf).filter(col("partition") === 0), path)
    val seg = new java.io.File(s"$path/topic=events/partition=0").listFiles()
      .filter(_.getName.endsWith(".gseg")).head
    val it0 = LogSegments.readFile(seg)
    val nClean = it0.size
    assert(nClean > 0)
    // chop the final record's stored crc in half: the record has
    // started (lengths, payload, offset, ts all present) but the file
    // ends before it completes — detectable truncation on v2
    val raf = new java.io.RandomAccessFile(seg, "rw")
    try raf.setLength(raf.length() - 2) finally raf.close()
    var delivered = 0
    val ex = intercept[LogSegments.TruncatedRecordException] {
      val it = LogSegments.readFile(seg)
      try it.foreach(_ => delivered += 1) finally it.close()
    }
    assert(ex.getMessage.contains(s"#${nClean - 1}"), ex.getMessage)
    // every record before the torn tail still arrives
    assert(delivered === nClean - 1)
  }

  test("a v1 segment (no crc) keeps the legacy tolerance: partial tail dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seg_v1").toFile
    val seg = new java.io.File(dir, "part-legacy.gseg")
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(seg))
    try {
      out.writeInt(LogSegments.Magic) // v1: no per-record checksum
      def rec(k: String, v: String, off: Long): Unit = {
        val kb = k.getBytes("UTF-8"); val vb = v.getBytes("UTF-8")
        out.writeInt(kb.length); out.write(kb)
        out.writeInt(vb.length); out.write(vb)
        out.writeLong(off); out.writeLong(1704067200000L + off)
      }
      rec("k0", "v0", 0L); rec("k1", "v1", 1L)
      // a torn third record: length says 8 bytes, only 3 written
      out.writeInt(8); out.write("abc".getBytes("UTF-8"))
    } finally out.close()
    val it = LogSegments.readFile(seg)
    val got = try it.map(_._3).toList finally it.close()
    assert(got === List(0L, 1L)) // whole records only, no exception
  }

  test("stream with maxRecordsPerTrigger catches up in bounded batches") {
    import org.apache.spark.sql.streaming.Trigger
    val path = java.nio.file.Files.createTempDirectory("graft_seg_budget").toString
    val log = MessageLog.eventsTopic(spark, sf)
    LogSegments.write(log.filter(col("offset") < 100), path)
    val total = spark.read.format("graft-log").load(path).count()
    assert(total > 100, s"need a real backlog, got $total")

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-log")
      .option("maxRecordsPerTrigger", "200")
      .load(path)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }; ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val sizes = batchSizes.synchronized(batchSizes.toSeq).filter(_ > 0)
    assert(sizes.sum === total, s"all records must arrive: $sizes")
    assert(sizes.length > 1, s"budget must split the backlog: $sizes")
    // proportional split can overshoot by at most one record per partition
    assert(sizes.forall(_ <= 200 + 8), s"each batch bounded by the budget: $sizes")
  }

  test("stream with maxPullMinutesPerTask starts wall-clock-bounded then catches up") {
    import org.apache.spark.sql.streaming.Trigger
    val path = java.nio.file.Files.createTempDirectory("graft_seg_timebudget").toString
    val log = MessageLog.eventsTopic(spark, sf)
    LogSegments.write(log.filter(col("offset") < 100), path)
    val total = spark.read.format("graft-log").load(path).count()
    assert(total > 100, s"need a real backlog, got $total")

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-log")
      // 1-minute budget at a deliberately tiny seed rate (0.05 rec/s):
      // the first trigger admits ~3 records (min 1 per partition), then
      // the measured trigger-over-trigger rate takes over and the
      // stream catches up in growing batches — the reference's
      // kafka.max.pull.minutes.per.task contract.
      .option("maxPullMinutesPerTask", "1")
      .option("pullRateInitGuess", "0.05")
      .load(path)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }; ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val sizes = batchSizes.synchronized(batchSizes.toSeq).filter(_ > 0)
    assert(sizes.sum === total, s"all records must arrive: $sizes")
    assert(sizes.length > 1, s"time budget must split the backlog: $sizes")
    // first trigger rides the seed rate: 60s x 0.05 rec/s = 3 records,
    // floored to one per non-empty partition (8 topic-partitions)
    assert(sizes.head <= 16, s"first batch must be seed-rate-bounded: $sizes")
  }

  test("stream with exhausted maxPullHours admits nothing") {
    val path = java.nio.file.Files.createTempDirectory("graft_seg_hrs").toString
    val log = MessageLog.eventsTopic(spark, sf)
    LogSegments.write(log.filter(col("offset") < 50), path)

    val q = spark.readStream.format("graft-log")
      .option("maxPullHours", "0") // budget already spent at start
      .load(path)
      .groupBy(col("partition")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("seg_hrs").start()
    q.processAllAvailable()
    q.stop()
    // the whole backlog is deferred to the next run
    assert(spark.table("seg_hrs").collect().isEmpty)
  }

  test("offset checkpoints roundtrip through json") {
    import graft.sources.SegmentOffsets
    val o = SegmentOffsets(Map(("events", 0) -> 12L, ("events", 7) -> 0L,
      ("documents", 3) -> 999L))
    assert(SegmentOffsets.fromJson(o.json()) === o)
    assert(SegmentOffsets.fromJson(SegmentOffsets(Map.empty).json()) ===
      SegmentOffsets(Map.empty))
  }

  test("decodeTopic table: typed columns straight from the source") {
    val df = spark.read.format("graft-log")
      .option("decodeTopic", "events").load(segDir)
    // payload fields + metadata (incl. the Kafka-parity timestampType),
    // no raw key/value bytes
    assert(df.columns.toSeq === Seq("event_id", "ts_ms", "user_id",
      "event_type", "value", "props", "topic", "partition", "offset",
      "timestamp", "timestampType"))
    assert(df.schema("value").dataType.typeName === "double")
    val n = df.count()
    assert(n === MessageLog.eventsTopic(spark, sf).count())
    // decoded values match the expression-decode path
    val viaExpr = MessageLog.eventsScan(spark, sf)
      .agg(sum(col("user_id"))).head().getLong(0)
    assert(df.agg(sum(col("user_id"))).head().getLong(0) === viaExpr)
    // column pruning reaches the scan (description lists kept columns)
    val plan = df.select(col("event_type")).queryExecution.executedPlan.toString()
    assert(plan.contains("cols=[event_type]"), plan)
    // partition pruning still applies through the decoded table
    val p3 = df.filter(col("partition") === 3).select(col("user_id")).collect()
    assert(p3.nonEmpty && p3.forall(_.getLong(0) % 8 === 3))
  }

  test("CREATE TABLE USING graft-log runs plain SQL over a topic") {
    spark.sql("DROP TABLE IF EXISTS spec_events")
    spark.sql(s"""CREATE TABLE spec_events USING `graft-log`
                  OPTIONS (path '$segDir', decodeTopic 'events')""")
    try {
      val got = spark.sql(
        "SELECT count(*), count(DISTINCT event_type) FROM spec_events").head()
      assert(got.getLong(0) === MessageLog.eventsTopic(spark, sf).count())
      assert(got.getLong(1) === 5)
    } finally spark.sql("DROP TABLE IF EXISTS spec_events")
  }

  test("INSERT INTO a graft-log SQL table appends through the DSv2 write path") {
    // the reference's storage-handler WRITE UX (KafkaStorageHandler:
    // INSERT INTO the external table produces to the topic): a raw
    // graft-log table accepts SQL INSERT ... SELECT and the rows land
    // as readable segments next to the existing ones
    val out = java.nio.file.Files.createTempDirectory("graft_sql_ins").toString
    spark.sql("DROP TABLE IF EXISTS spec_sink")
    try {
      LogSegments.write(MessageLog.eventsTopic(spark, sf)
        .filter(col("offset") < 5), out)
      spark.sql(s"CREATE TABLE spec_sink USING `graft-log` OPTIONS (path '$out')")
      val before = spark.table("spec_sink").count()
      MessageLog.eventsTopic(spark, sf)
        .filter(col("offset") >= 5 && col("offset") < 9)
        .createOrReplaceTempView("spec_more")
      spark.sql("INSERT INTO spec_sink SELECT * FROM spec_more")
      val after = spark.table("spec_sink")
      assert(after.count() === before + spark.table("spec_more").count())
      // appended rows decode like produced ones
      val n = after.filter(col("offset") >= 5)
        .select(graft.sources.avro.from_topic(col("value"), "events").as("v"))
        .filter(col("v.event_id").isNotNull).count()
      assert(n === spark.table("spec_more").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec_sink")
      spark.catalog.dropTempView("spec_more")
      deleteRecursively(new java.io.File(out))
    }
  }

  test("decodeTopic table streams typed rows through readStream") {
    val q = spark.readStream.format("graft-log")
      .option("decodeTopic", "events").load(segDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("seg_decoded").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("seg_decoded").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = MessageLog.eventsScan(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("payload field shadowing a metadata column fails at schema inference") {
    // a user .avsc with a field named 'timestamp' is plausible and
    // would otherwise silently shadow the metadata column
    val avsc = """{"type":"record","name":"Bad","fields":[
      {"name":"id","type":"long"},{"name":"timestamp","type":"long"}]}"""
    val p = java.nio.file.Files.createTempFile("graft_bad_schema", ".avsc")
    java.nio.file.Files.writeString(p, avsc)
    val ex = intercept[Exception] {
      spark.read.format("graft-log")
        .option("avroSchemaFile", p.toString).load(segDir).schema
    }
    assert(ex.getMessage.contains("timestamp") &&
      ex.getMessage.contains("metadata"), ex.getMessage)
  }

  test("decode chain works over the v2 source") {
    val n = spark.read.format("graft-log").load(segDir)
      .select(graft.sources.avro.from_topic(col("value"), "events").as("v"))
      .select(col("v.event_id"))
      .distinct().count()
    assert(n === MessageLog.eventsTopic(spark, sf).count())
  }

  // ───────────── write path (KafkaOutputFormat.java parity) ─────────────

  private def logDigest(df: org.apache.spark.sql.DataFrame) =
    df.select(col("topic"), col("partition"), col("offset"),
        unix_millis(col("timestamp")).as("ts"),
        md5(col("value")).as("vh"), md5(col("key")).as("kh"))
      .orderBy(col("topic"), col("partition"), col("offset"))
      .collect().toSeq

  test("batch write through format(graft-log) equals the batch-append path") {
    val out = java.nio.file.Files.createTempDirectory("graft_w_batch").toString
    try {
      MessageLog.eventsTopic(spark, sf)
        .write.format("graft-log").mode("append").save(out)
      assert(logDigest(spark.read.format("graft-log").load(out)) ===
        logDigest(MessageLog.eventsTopic(spark, sf)))
      // no .tmp litter after a clean commit
      val tmps = new java.io.File(out).listFiles(); def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      assert(walk(new java.io.File(out)).forall(!_.getName.endsWith(".tmp")))
      assert(tmps != null)
    } finally deleteRecursively(new java.io.File(out))
  }

  test("writeStream through the graft-log sink closes the streaming loop") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_w_stream").toString
    val src = s"$base/src"; val sink = s"$base/out"; val ckpt = s"$base/ckpt"
    try {
      LogSegments.write(MessageLog.eventsTopic(spark, sf), src)
      val q = spark.readStream.format("graft-log").load(src)
        .writeStream.format("graft-log")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the streamed copy is record-for-record the source log
      assert(logDigest(spark.read.format("graft-log").load(sink)) ===
        logDigest(spark.read.format("graft-log").load(src)))
      // resume: appending to the source and re-running the SAME
      // checkpoint writes only the delta (offsets checkpointed), and
      // the sink now holds exactly the grown log — no re-duplication
      // of the already-shipped prefix
      LogSegments.write(
        MessageLog.documentsTopic(spark, sf).filter(col("offset") < 5), src)
      val q2 = spark.readStream.format("graft-log").load(src)
        .writeStream.format("graft-log")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
      assert(logDigest(spark.read.format("graft-log").load(sink)) ===
        logDigest(spark.read.format("graft-log").load(src)))
    } finally deleteRecursively(new java.io.File(base))
  }

  test("epoch re-execution through the commit protocol overwrites, never duplicates") {
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriterCommitMessage}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft_w_retry").toString
    try {
      // drive the DSv2 protocol directly: same queryId, same epoch,
      // written twice — the injected-retry scenario (a crash after
      // tasks ran but before the epoch landed in the commit log)
      val table = new graft.sources.LogSegmentSource().getTable(
        graft.sources.LogSegmentSource.schema, Array.empty,
        Map("path" -> out).asJava)
      val info = new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap =
          new CaseInsensitiveStringMap(java.util.Map.of("path", out))
        override def queryId(): String = "test-query-0"
        override def schema() = graft.sources.LogSegmentSource.schema
      }
      val rows = MessageLog.eventsTopic(spark, sf)
        .filter(col("partition") === 2 && col("offset") < 7)
      def runEpoch(): Unit = {
        val sw = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
          .newWriteBuilder(info).build().toStreaming
        val factory = sw.createStreamingWriterFactory(null)
        val data = rows.queryExecution.toRdd.collect() // InternalRows, one task's worth
        val w = factory.createWriter(0, 0L, 7L) // (partitionId, taskId, epochId)
        data.foreach(w.write)
        val msg: WriterCommitMessage = w.commit()
        sw.commit(7L, Array(msg))
      }
      runEpoch()
      val first = logDigest(spark.read.format("graft-log").load(out))
      runEpoch() // the retry
      val second = logDigest(spark.read.format("graft-log").load(out))
      assert(first.nonEmpty)
      assert(second === first, "epoch retry must overwrite, not append")
    } finally deleteRecursively(new java.io.File(out))
  }

  test("writes to a decodeTopic table are rejected as read-only typed views") {
    // a frame that MATCHES the decoded schema reaches the write
    // builder itself (a mismatched one already dies in the analyzer's
    // cast check); the builder must refuse the typed view regardless
    val typed = spark.read.format("graft-log")
      .option("decodeTopic", "events").load(segDir)
    val ex = intercept[Exception] {
      typed.write.format("graft-log").option("decodeTopic", "events")
        .mode("append")
        .save(java.nio.file.Files.createTempDirectory("graft_w_ro").toString)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("read-only typed view")),
      messages(ex).mkString(" | "))
  }

  // ───────────── offset index and exact pushdown ─────────────

  /** A synthetic log: ids [from, until) spread over `parts` partitions
    * of topic `t`, offsets contiguous per partition, ~130-byte records
    * so each 4 KiB index interval spans about 30 of them. */
  private def synthLog(from: Long, until: Long, parts: Int = 2) =
    spark.range(from, until).select(
      col("id").cast("string").cast("binary").as("key"),
      lpad(col("id").cast("string"), 96, "x").cast("binary").as("value"),
      lit("t").as("topic"),
      (col("id") % parts).cast("int").as("partition"),
      (col("id") / parts).cast("long").as("offset"),
      timestamp_millis(col("id")).as("timestamp"),
      lit(0).as("timestampType"))

  /** Three segments per partition: offsets [0, 500), [500, 1200) and
    * [1200, 1500) in each of partitions 0 and 1. */
  private lazy val multiSegDir: String = {
    val path = java.nio.file.Files.createTempDirectory("graft_seg_idx").toString
    Seq((0L, 1000L), (1000L, 2400L), (2400L, 3000L))
      .foreach { case (a, b) => LogSegments.write(synthLog(a, b), path) }
    path
  }

  private def segments(dir: String, part: Int = 0): Seq[java.io.File] =
    new java.io.File(s"$dir/topic=t/partition=$part").listFiles()
      .filter(_.getName.endsWith(".gseg")).sortBy(_.getName).toSeq

  private def slice(df: org.apache.spark.sql.DataFrame) =
    df.select(col("partition"), col("offset"), md5(col("value")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      .sortBy(r => (r._1, r._2)).toSeq

  private def assertRangesMatchFullScan(dir: String): Unit = {
    val full = slice(spark.read.format("graft-log").load(dir))
    assert(full.nonEmpty)
    val ranges = Seq(
      (499L, 501L), (500L, 1200L), (0L, 500L), (1199L, 1201L), // segment edges
      (40L, 45L), (61L, 63L), // inside one index interval
      (100L, 1400L), (0L, 1500L), // across several segments
      (300L, 300L), (700L, 650L), // empty
      (1500L, 2000L), (5000L, 6000L)) // past the high watermark
    ranges.foreach { case (lo, hi) =>
      val got = slice(spark.read.format("graft-log").load(dir)
        .filter(col("partition") === 1 && col("offset") >= lo && col("offset") < hi))
      val want = full.filter(r => r._1 == 1 && r._2 >= lo && r._2 < hi)
      assert(got === want, s"range [$lo, $hi)")
    }
  }

  test("ranged reads through the offset index equal a filtered full scan") {
    assertRangesMatchFullScan(multiSegDir)
    // every segment is indexed, sorted, and a narrow read seeks instead
    // of reading the segment from its start
    val seg = segments(multiSegDir).maxBy(f => LogSegments.readIndex(f).get.records)
    val ix = LogSegments.readIndex(seg).get
    assert(ix.sorted && ix.records === 700 && ix.minOffset === 500 && ix.maxOffset === 1199)
    val all = { val it = LogSegments.readFile(seg); try it.map(_._3).toList finally it.close() }
    for (lo <- Seq(0L, 500L, 531L, 532L, 800L, 1199L, 1300L); len <- Seq(0L, 1L, 40L)) {
      val hi = lo + len
      val it = LogSegments.readRange(seg, lo, hi)
      val read = try it.map(_._3).toList finally it.close()
      assert(read.filter(o => o >= lo && o <= hi) === all.filter(o => o >= lo && o <= hi),
        s"[$lo, $hi]")
      // at most one index interval (~31 records) before lo and one
      // record past hi
      assert(read.size <= len + 1 + 40, s"[$lo, $hi] read ${read.size} records")
    }
  }

  test("a missing, corrupt or stale offset index falls back to a full read") {
    def copy(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_seg_idx_fb").toFile
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(multiSegDir), dir)
      dir.getPath
    }
    // a deleted sidecar
    val deleted = copy()
    segments(deleted, 1).foreach(s => assert(LogSegments.indexFile(s).delete()))
    assert(segments(deleted, 1).forall(LogSegments.readIndex(_).isEmpty))
    assertRangesMatchFullScan(deleted)
    // one flipped byte in every sidecar, inside its entries
    val flipped = copy()
    segments(flipped, 1).foreach { s =>
      val raf = new java.io.RandomAccessFile(LogSegments.indexFile(s), "rw")
      try { raf.seek(50); val b = raf.readByte(); raf.seek(50); raf.writeByte(b ^ 0x01) }
      finally raf.close()
      assert(LogSegments.readIndex(s).isEmpty)
    }
    assertRangesMatchFullScan(flipped)
    // a segment truncated after its index was written is read from its
    // start, which finds the torn record
    val torn = copy()
    val seg = segments(torn, 1).head
    val raf = new java.io.RandomAccessFile(seg, "rw")
    try raf.setLength(raf.length() - 2) finally raf.close()
    assert(LogSegments.readIndex(seg).isEmpty)
    intercept[LogSegments.TruncatedRecordException] {
      val it = LogSegments.readRange(seg, 0L, 0L)
      try it.foreach(_ => ()) finally it.close()
    }
    Seq(deleted, flipped, torn).foreach(d => deleteRecursively(new java.io.File(d)))
  }

  test("a flipped byte inside the requested range still fails its crc") {
    val path = java.nio.file.Files.createTempDirectory("graft_seg_idx_crc").toString
    try {
      LogSegments.write(synthLog(0, 2000, parts = 1), path)
      val seg = segments(path).head
      val ix = LogSegments.readIndex(seg).get
      // the last record's stored crc: the segment keeps its length, so
      // the index stays trusted and the read seeks straight to it
      val raf = new java.io.RandomAccessFile(seg, "rw")
      try {
        raf.seek(raf.length() - 1); val b = raf.readByte()
        raf.seek(raf.length() - 1); raf.writeByte(b ^ 0x40)
      } finally raf.close()
      assert(LogSegments.readIndex(seg).isDefined)
      val ex = intercept[LogSegments.CorruptRecordException] {
        val it = LogSegments.readRange(seg, ix.maxOffset, ix.maxOffset)
        try it.foreach(_ => ()) finally it.close()
      }
      // the record ordinal comes from the index entry the read seeked to
      assert(ex.getMessage.contains(s"#${ix.records - 1}"), ex.getMessage)
      // a range that does not reach the bad record reads cleanly
      assert(spark.read.format("graft-log").load(path)
        .filter(col("offset") >= 10 && col("offset") < 20).count() === 10)
    } finally deleteRecursively(new java.io.File(path))
  }

  test("an out-of-order segment written through the DSv2 sink reads correctly") {
    val out = java.nio.file.Files.createTempDirectory("graft_seg_idx_ooo").toString
    try {
      synthLog(0, 3000).orderBy(col("offset").desc).coalesce(1)
        .write.format("graft-log").mode("append").save(out)
      val seg = segments(out).head
      assert(!LogSegments.readIndex(seg).get.sorted)
      assertRangesMatchFullScan(out)
    } finally deleteRecursively(new java.io.File(out))
  }

  test("commit publishes each segment with its index; abort leaves no file") {
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriterCommitMessage}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft_w_abort").toString
    def files(): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(out)).map(_.getName)
    }
    try {
      val table = new graft.sources.LogSegmentSource().getTable(
        graft.sources.LogSegmentSource.schema, Array.empty, Map("path" -> out).asJava)
      val info = new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap =
          new CaseInsensitiveStringMap(java.util.Map.of("path", out))
        override def queryId(): String = "abort-query"
        override def schema() = graft.sources.LogSegmentSource.schema
      }
      val batch = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(info).build().toBatch
      val data = synthLog(0, 200).queryExecution.toRdd.collect()
      def task(id: Int) = {
        val w = batch.createBatchWriterFactory(null).createWriter(id, id.toLong)
        data.foreach(w.write); w
      }
      // a task that aborts itself
      task(0).abort()
      assert(files().isEmpty, files())
      // tasks that committed, then a job that aborts
      val msgs: Array[WriterCommitMessage] = Array(task(1).commit(), task(2).commit())
      assert(files().exists(_.endsWith(".gseg.gidx.tmp")), files())
      batch.abort(msgs)
      assert(files().isEmpty, files())
      // a job that commits: every segment next to its index, no .tmp
      batch.commit(Array(task(3).commit()))
      val fs = files()
      assert(fs.nonEmpty && fs.forall(f => f.endsWith(".gseg") || f.endsWith(".gseg.gidx")), fs)
      assert(fs.count(_.endsWith(".gseg")) === fs.count(_.endsWith(".gidx")))
    } finally deleteRecursively(new java.io.File(out))
  }

  /** latestOffset of a fresh micro-batch stream over `dir`. */
  private def latest(dir: String): graft.sources.SegmentOffsets = {
    import scala.jdk.CollectionConverters._
    val table = new graft.sources.LogSegmentSource().getTable(
      graft.sources.LogSegmentSource.schema, Array.empty, Map("path" -> dir).asJava)
    table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
      .build().toMicroBatchStream(dir).latestOffset()
      .asInstanceOf[graft.sources.SegmentOffsets]
  }

  test("latestOffset from the indexes equals the high watermark of a full scan") {
    val want = spark.read.format("graft-log").load(multiSegDir)
      .groupBy(col("topic"), col("partition")).agg(max(col("offset")))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2) + 1)).toMap
    assert(latest(multiSegDir).next === want)
    assert(want === Map(("t", 0) -> 1500L, ("t", 1) -> 1500L))
  }

  test("an empty log, an empty partition and a range past the end read as empty") {
    val root = java.nio.file.Files.createTempDirectory("graft_seg_empty").toString
    try {
      assert(spark.read.format("graft-log").load(root).count() === 0)
      assert(latest(root).next.isEmpty)
      new java.io.File(s"$root/topic=t/partition=0").mkdirs()
      assert(spark.read.format("graft-log").load(root).count() === 0)
      assert(spark.read.format("graft-log").load(root)
        .filter(col("partition") === 0 && col("offset") >= 5).count() === 0)
      assert(latest(root).next === Map(("t", 0) -> 0L))
    } finally deleteRecursively(new java.io.File(root))
    assert(spark.read.format("graft-log").load(multiSegDir)
      .filter(col("offset") >= 1500).count() === 0)
  }

  test("null elements of a pushed IN list match nothing") {
    val t = spark.read.format("graft-log").load(multiSegDir)
    t.createOrReplaceTempView("seg_in")
    try {
      val p1 = t.filter(col("partition") === 1).count()
      assert(p1 === 1500)
      assert(spark.sql("SELECT count(*) FROM seg_in WHERE `partition` IN (1, NULL)")
        .head().getLong(0) === p1)
      assert(spark.sql("SELECT count(*) FROM seg_in WHERE topic IN ('t', NULL)")
        .head().getLong(0) === 3000)
      assert(spark.sql("SELECT count(*) FROM seg_in WHERE topic IN ('u', NULL)")
        .head().getLong(0) === 0)
    } finally spark.catalog.dropTempView("seg_in")
  }

  test("offset bounds past the ends of a long select nothing") {
    val t = spark.read.format("graft-log").load(multiSegDir)
    assert(t.filter(col("offset") > Long.MaxValue).count() === 0)
    assert(t.filter(col("offset") < Long.MinValue).count() === 0)
    assert(t.filter(col("offset") >= Long.MaxValue).count() === 0)
    assert(t.filter(col("offset") <= Long.MinValue).count() === 0)
    assert(t.filter(col("offset") >= Long.MinValue && col("offset") <= Long.MaxValue)
      .count() === 3000)
  }

  test("topic, partition and offset predicates leave no Filter above the scan") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    def filters(df: org.apache.spark.sql.DataFrame) =
      helper.collect(df.queryExecution.executedPlan) { case f: FilterExec => f }
    val t = spark.read.format("graft-log").load(multiSegDir)
    val exact = t.filter(col("topic") === "t" && col("partition").isin(0, 1) &&
      col("offset") >= 10 && col("offset") <= 20 && col("partition") === 1)
    assert(exact.queryExecution.executedPlan.toString.contains("BatchScan graft-log"))
    assert(filters(exact).isEmpty, exact.queryExecution.executedPlan)
    assert(exact.count() === 11)
    // a payload predicate is still Spark's to evaluate
    val decoded = spark.read.format("graft-log").option("decodeTopic", "events").load(segDir)
    val views = decoded.filter(col("partition") === 3 && col("event_type") === "view")
    assert(filters(views).map(_.condition.sql).mkString.contains("event_type"),
      views.queryExecution.executedPlan)
    assert(views.count() === MessageLog.eventsScan(spark, sf)
      .filter(col("user_id") % 8 === 3 && col("event_type") === "view").count())
  }

  test("a streaming read keeps its partition predicate") {
    val q = spark.readStream.format("graft-log").load(multiSegDir)
      .where("`partition` = 1")
      .writeStream.format("memory").queryName("seg_stream_p1").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("seg_stream_p1").select(col("partition")).collect().map(_.getInt(0))
    assert(got.length === 1500 && got.forall(_ === 1))
  }

  test("a lookup with new bounds compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    spark.sql("DROP TABLE IF EXISTS spec_lookup")
    spark.sql(s"""CREATE TABLE spec_lookup USING `graft-log`
                  OPTIONS (path '$segDir', decodeTopic 'events')""")
    try {
      def lookup(p: Int, lo: Long, hi: Long) = spark.sql(
        "SELECT `offset`, event_id, user_id, event_type, " +
          "CAST(ROUND(value * 100) AS BIGINT) AS cents FROM spec_lookup " +
          s"WHERE `partition` = $p AND `offset` >= $lo AND `offset` < $hi").collect()
      assert(lookup(2, 3, 9).length === 6)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(lookup(5, 11, 14).length === 3)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before)
    } finally spark.sql("DROP TABLE IF EXISTS spec_lookup")
  }
}
