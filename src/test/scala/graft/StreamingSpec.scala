package graft

import graft.sources.MessageLog
import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  test("streaming CDC merge: redelivered batch is idempotent; final store equals one-shot merge") {
    import graft.operators.{Relational, StreamQueries}
    val store = java.nio.file.Files.createTempDirectory("graft_smerge_spec").toString
    val base = graft.Tables.load(spark, sf, "orders")
    base.write.mode("overwrite").parquet(s"$store/v0")
    val updates = base.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val inserts = base.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderkey", (col("o_orderkey") + 1) * -1)
      .withColumn("o_orderstatus", lit("N"))
    // two delivery batches; batch 1 gets REDELIVERED (a retry after a
    // successful commit) — the batchId-keyed link chain must make the
    // second application rewrite ITS OWN link identically, so the
    // merged view is unchanged, not double-merged
    StreamQueries.mergeCdcBatch(store, updates, 0L)
    StreamQueries.mergeCdcBatch(store, inserts, 1L)
    val mergedFirst = StreamQueries.readCdcChain(spark, store, "o_orderkey")
      .orderBy(col("o_orderkey")).collect()
    StreamQueries.mergeCdcBatch(store, inserts, 1L)
    val mergedAgain = StreamQueries.readCdcChain(spark, store, "o_orderkey")
      .orderBy(col("o_orderkey")).collect()
    assert(mergedAgain.toSeq === mergedFirst.toSeq,
      "redelivered batch must rewrite its own link identically")
    // per-batch write is |batch|-sized, never store-sized: the link
    // holds exactly the batch rows (the item-3 done-bar probe)
    val linkRows = spark.read.parquet(s"$store/d1").count()
    assert(linkRows === inserts.count(),
      "chain link must hold the batch rows only, not a store rewrite")
    // and the chained store's merged view equals the one-shot MERGE
    val oneShot = Relational.mergeUpsert(base,
        updates.unionByName(inserts), "o_orderkey")
      .orderBy(col("o_orderkey")).collect()
    assert(mergedAgain.toSeq === oneShot.toSeq,
      "chained CDC merge must equal the one-shot batch merge")
  }

  test("CDC chain: a key changed by several batches reads back once, as the last batch left it") {
    import graft.operators.StreamQueries
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_smerge_lastwins").toString
    Seq((1L, "a0"), (2L, "b0"), (3L, "c0")).toDF("k", "v")
      .write.parquet(s"$store/v0")
    // key 1 changes in batches 2, 9 and 10 (10 is the last, though it
    // sorts first as text); key 2 only in batch 9; key 4 is inserted
    // by batch 2 and changed by batch 9
    StreamQueries.mergeCdcBatch(store, Seq((1L, "a2"), (4L, "d2")).toDF("k", "v"), 2L)
    StreamQueries.mergeCdcBatch(store,
      Seq((1L, "a9"), (2L, "b9"), (4L, "d9")).toDF("k", "v"), 9L)
    StreamQueries.mergeCdcBatch(store, Seq((1L, "a10")).toDF("k", "v"), 10L)
    val merged = StreamQueries.readCdcChain(spark, store, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(merged === Seq(1L -> "a10", 2L -> "b9", 3L -> "c0", 4L -> "d9"))
    deleteRecursively(new java.io.File(store))
  }

  test("CDC chain with zero delivered batches reads back the anchor") {
    import graft.operators.{Relational, StreamQueries}
    val store = java.nio.file.Files.createTempDirectory("graft_smerge_empty").toString
    val base = graft.Tables.load(spark, sf, "orders")
    base.write.mode("overwrite").parquet(s"$store/v0")
    val merged = StreamQueries.readCdcChain(spark, store, "o_orderkey")
    // the same columns, in the same order, as a merge with links emits
    val withLinks = Relational.mergeUpsert(base, base.limit(0), "o_orderkey")
    assert(merged.columns.toSeq === withLinks.columns.toSeq)
    assert(merged.orderBy(col("o_orderkey")).collect().toSeq ===
      withLinks.orderBy(col("o_orderkey")).collect().toSeq)
    deleteRecursively(new java.io.File(store))
  }

  test("streaming ANN ingest: redelivered batch is idempotent; chained edges equal the one-shot insert") {
    import graft.operators.{Pipeline, Similarity, StreamQueries}
    val store = java.nio.file.Files.createTempDirectory("graft_sann_spec").toString
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val baseNodes = emb.filter(pmod(col("vec_id"), lit(5)) =!= 4)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 4)
    val index = Pipeline.graphStore(spark, sf, "one", "base")
    val (baseGraph, baseUpper, entry) =
      (index.graph, index.upper.get, index.entry)
    baseGraph.select(col("query_id"), col("neighbor_id"))
      .write.mode("overwrite").parquet(s"$store/v0")
    val b0 = delta.filter(pmod(expr("vec_id div 5"), lit(2)) === 0)
    val b1 = delta.filter(pmod(expr("vec_id div 5"), lit(2)) === 1)
    def edgeSet(path: String) = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    StreamQueries.insertAnnBatch(store, baseNodes, baseGraph,
      baseUpper, entry, b0, 0L)
    StreamQueries.insertAnnBatch(store, baseNodes, baseGraph,
      baseUpper, entry, b1, 1L)
    // append-only chain: each link holds ONLY its own batch's edges
    // (per-batch write cost is |batch|-sized, never index-sized)
    val d1First = edgeSet(s"$store/d1")
    val chainFirst = edgeSet(s"$store/*")
    assert(d1First.size < chainFirst.size,
      "a chain link rewrote more than its own batch")
    // batch 1 REDELIVERED after a successful commit: the batchId-keyed
    // link must rewrite d1 identically, never double-insert
    StreamQueries.insertAnnBatch(store, baseNodes, baseGraph,
      baseUpper, entry, b1, 1L)
    assert(edgeSet(s"$store/d1") === d1First,
      "redelivered ANN batch must rewrite its own link identically")
    assert(edgeSet(s"$store/*") === chainFirst,
      "redelivery changed the merged chain")
    // inserts link into the BASE graph only, so chained == one-shot
    // (order independence — the property the file replay rides on)
    val oneShot = Similarity.graphSearchTopKLayered(baseNodes, delta,
        baseGraph, baseUpper, "embedding", "vec_id", k = 12,
        beam = 48, rounds = 6, upperSeed = entry)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ++
      baseGraph.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chainFirst === oneShot,
      "chained ANN ingest must equal the one-shot insert edge set")
    // the driver row's contracts hold at the spec SF
    val r = StreamQueries.sAnnIngest.fn(spark, sf).collect()(0)
    assert(r.getBoolean(1), "streamed-ingest recall under floor")
    assert(r.getBoolean(2), "a delta node lost its insert edges")
    assert(r.getBoolean(3), "the ingest stream did not split")
  }

  test("streaming ROUTED ANN ingest: cell-closed insert edges, chain contracts at the spec SF") {
    import graft.operators.{Pipeline, Similarity, StreamQueries}
    // the assigned-cell insert primitive provably keeps edges inside
    // the cell NearestCentroid assigns the new node to
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val baseNodes = emb.filter(pmod(col("vec_id"), lit(5)) =!= 4)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 4)
    val index = Pipeline.graphStore(spark, sf, "cells", "base")
    val (g, entries, cents) = (index.graph, index.entries, index.centroids.get)
    val ins = Similarity.graphSearchTopKAssigned(baseNodes, delta, g,
        entries, cents, "embedding", "vec_id", k = 12,
        beamPerShard = 24, rounds = 6)
      .select(col("query_id"), col("neighbor_id"))
    val assign = Similarity.shardAssign(emb, "embedding", "vec_id", cents)
    val cross = ins
      .join(assign.select(col("id").as("query_id"), col("shard").as("qs")),
        Seq("query_id"))
      .join(assign.select(col("id").as("neighbor_id"), col("shard").as("ns")),
        Seq("neighbor_id"))
      .filter(col("qs") =!= col("ns")).count()
    assert(cross === 0L, "an insert edge left its assigned cell")
    // driver-row contracts
    val r = StreamQueries.sAnnIngestRouted.fn(spark, sf).collect()(0)
    assert(r.getBoolean(1), "routed-ingest recall under floor")
    assert(r.getBoolean(2), "a delta node lost its insert edges")
    assert(r.getBoolean(3), "ingestion broke cell closure")
    assert(r.getBoolean(4), "the ingest stream did not split")
  }

  test("streaming ANN delete: tombstone chain triggers compaction, compacted search clears floors") {
    import graft.operators.StreamQueries
    val r = StreamQueries.sAnnDelete.fn(spark, sf).collect()(0)
    assert(r.getBoolean(1), "post-compaction recall under floor")
    assert(r.getBoolean(2), "a streamed tombstone survives in the compacted index")
    assert(r.getBoolean(3), "compaction did not trigger at >= 5%")
    assert(r.getBoolean(4), "the tombstone stream did not split")
  }

  test("streaming windowed agg over a log stream equals the batch plan") {
    val path = java.nio.file.Files.createTempDirectory("graft_stream").toString
    MessageLog.writeLog(MessageLog.eventsTopic(spark, sf), path)

    val batch = Streaming.windowedCounts(
      Streaming.decodeEvents(spark.read.schema(Streaming.logSchema).parquet(path)),
      "1 hour").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val stream = Streaming.windowedCounts(
      Streaming.decodeEvents(Streaming.readLogStream(spark, path)), "1 hour")
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("win_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("flatMapGroupsWithState sessionization matches session_window") {
    import spark.implicits._
    val events = Streaming.decodeEvents(MessageLog.eventsTopic(spark, sf))
    val viaWindow = Streaming.sessionWindows(events, "30 minutes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val viaState = Streaming.sessionizeWithState(
      events.select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
        .as[Streaming.SessionEvent],
      gapMs = 30L * 60 * 1000)
      .collect().map(s => (s.user_id, s.session_start_ms, s.n_events)).toSet

    assert(viaState === viaWindow)
    assert(viaState.nonEmpty)
  }

  test("stream-stream interval join runs in append mode and equals batch") {
    val path = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    MessageLog.writeLog(MessageLog.eventsTopic(spark, sf), path)

    val batch = Streaming.correlatedClicks(
      Streaming.decodeEvents(spark.read.schema(Streaming.logSchema).parquet(path)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val stream = Streaming.correlatedClicks(
      Streaming.decodeEvents(Streaming.readLogStream(spark, path)))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    // append-mode emission: everything at-or-before the final watermark
    // is out; with AvailableNow the watermark passes all data, so the
    // streaming result must equal the batch join exactly
    assert(got === batch)
  }

  test("stream resumes incrementally as new segments arrive") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val t0 = 1704067200000L
    def seg(n: Int, rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("ts_ms", "event_type", "value")
        .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"), col("value"))
        .write.parquet(s"$path/seg$n")

    seg(1, Seq((t0, "a", 1.0), (t0 + 1000, "b", 2.0)))
    val src = spark.readStream
      .schema("ts timestamp, event_type string, value double")
      .parquet(path + "/*")
    val q = src.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("inc_out").start()
    q.processAllAvailable()
    val before = spark.table("inc_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before === Map("a" -> 1L, "b" -> 1L))

    // the "producer" appends a new segment; the same query picks it up
    seg(2, Seq((t0 + 2000, "a", 3.0), (t0 + 3000, "c", 4.0)))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("inc_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after === Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("watermarked dedup drops a redelivery arriving in a later micro-batch") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    val t0 = 1704067200000L
    def seg(n: Int, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("event_id", "ts_ms")
        .select(col("event_id"), timestamp_millis(col("ts_ms")).as("ts"))
        .write.parquet(s"$path/seg$n")
    seg(1, Seq((1L, t0), (2L, t0 + 1000), (3L, t0 + 2000)))
    seg(2, Seq((2L, t0 + 1000), (4L, t0 + 3000))) // id 2 re-delivered

    val src = spark.readStream.schema("event_id long, ts timestamp")
      .option("maxFilesPerTrigger", "1").parquet(path + "/*")
    val q = Streaming.dedupedEvents(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
    // the cross-batch duplicate is dropped by watermark state, new ids pass
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("streaming ingest dedup pipeline: exact + near-dup stages equal the batch path") {
    import spark.implicits._
    // The composed training-data ingest pipeline (VERDICT r5 item 5):
    // stream of documents -> dropDuplicatesWithinWatermark on content
    // hash -> minhash-band near-dup flag vs a static reference corpus,
    // replayed across micro-batches, asserted equal to the batch path.
    val t0 = 1704067200000L
    def text(tag: String): String =
      (0 until 20).map(i => s"${tag}w$i").mkString(" ")
    // reference corpus (the already-curated set): 6 distinct docs
    val reference = (1L to 6L).map(d => (d, text(s"r$d")))
      .toDF("doc_id", "text")
    // incoming stream: 11 = near-copy of ref 1 (one word changed ->
    // shingle jaccard ~0.71), 12 distinct, 13 = exact copy of 12's
    // text (cross-doc exact dup), 14 distinct
    val nearCopy = text("r1").split(" ").updated(9, "CHANGED").mkString(" ")
    val batch1 = Seq((11L, t0, nearCopy, "web"),
      (12L, t0 + 60000, text(s"s12"), "web"),
      (13L, t0 + 120000, text(s"s12"), "mirror"))
    val batch2 = Seq((11L, t0, nearCopy, "web"), // redelivered verbatim
      (14L, t0 + 180000, text(s"s14"), "web"))
    val path = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    def seg(n: Int, rows: Seq[(Long, Long, String, String)]): Unit =
      rows.toDF("doc_id", "ts_ms", "text", "source")
        .select(col("doc_id"), timestamp_millis(col("ts_ms")).as("ts"),
          col("text"), col("source"))
        .write.parquet(s"$path/seg$n")
    seg(1, batch1); seg(2, batch2)

    val batchDocs = spark.read.parquet(path + "/*")
    val wantStage1 = Streaming.dedupedDocs(batchDocs)
      .select("content_hash").collect().map(_.getString(0)).toSet
    assert(wantStage1.size === 3) // 11, 12(=13), 14
    val wantPairs = Streaming.nearDupAgainstReference(
        Streaming.dedupedDocs(batchDocs), reference)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(wantPairs.map(p => (p._1, p._2)) === Set((11L, 1L)))
    assert(wantPairs.forall(_._3 >= 0.5))

    // stream the same topic one file per micro-batch (so the redelivery
    // of 11 arrives in a LATER batch and must be dropped by state)
    val src = spark.readStream
      .schema("doc_id long, ts timestamp, text string, source string")
      .option("maxFilesPerTrigger", "1").parquet(path + "/*")
    val piped = Streaming.nearDupAgainstReference(
      Streaming.dedupedDocs(src), reference)
    val q = piped.writeStream.outputMode("append")
      .format("memory").queryName("ingest_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ingest_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === wantPairs)
  }

  test("store-probed streaming delta dedup equals the batch path across micro-batches") {
    import spark.implicits._
    // the steady-state ingest topology: reference signatures persisted
    // once (Dedup.signatureStore -> parquet), the incoming stream
    // probes the store at the shape in its column metadata — reference
    // text never re-read. Replayed one file per micro-batch, asserted
    // equal to the batch run of the same path.
    val t0 = 1704067200000L
    def text(tag: String): String =
      (0 until 20).map(i => s"${tag}w$i").mkString(" ")
    val reference = (1L to 6L).map(d => (d, text(s"r$d")))
      .toDF("doc_id", "text")
    val storeDir = java.nio.file.Files.createTempDirectory("graft_sigstore")
    try {
      operators.Dedup.signatureStore(reference, "text", "doc_id",
        numHashes = 64, bands = 16)
        .write.mode("overwrite").parquet(storeDir.toString)
      val store = spark.read.parquet(storeDir.toString)
      val nearCopy = text("r2").split(" ").updated(9, "CHANGED").mkString(" ")
      val path = java.nio.file.Files.createTempDirectory("graft_sdelta").toString
      def seg(n: Int, rows: Seq[(Long, Long, String)]): Unit =
        rows.toDF("doc_id", "ts_ms", "text")
          .select(col("doc_id"), timestamp_millis(col("ts_ms")).as("ts"),
            col("text"))
          .write.parquet(s"$path/seg$n")
      seg(1, Seq((11L, t0, nearCopy), (12L, t0 + 60000, text("s12"))))
      seg(2, Seq((13L, t0 + 120000, text("r4")), // exact copy of ref 4
        (11L, t0, nearCopy))) // redelivered -> pair-dedup state drops it

      val batchDocs = spark.read.parquet(path + "/*")
      val want = Streaming.nearDupAgainstStore(batchDocs, store)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.map(p => (p._1, p._2)) === Set((11L, 2L), (13L, 4L)))
      assert(want.forall(_._3 >= 0.5))

      val src = spark.readStream
        .schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", "1").parquet(path + "/*")
      val q = Streaming.nearDupAgainstStore(src, store)
        .writeStream.outputMode("append")
        .format("memory").queryName("sdelta_out")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("sdelta_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want)
    } finally deleteRecursively(storeDir.toFile)
  }

  test("near-dup-vs-reference equals the oracled batch minhash operator on the corpus") {
    // self-reference: flagging the corpus against itself must find
    // exactly the pair set the (driver-oracled) Dedup.minhashPairs
    // emits — one undirected pair there = both directed pairs here
    val docs = Streaming.decodeDocuments(MessageLog.documentsTopic(spark, sf))
    assert(docs.count() === Tables.load(spark, sf, "documents").count())
    val directed = Streaming.nearDupAgainstReference(docs, docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val undirected = operators.Dedup
      .minhashPairs(Tables.load(spark, sf, "documents"), "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(undirected.nonEmpty)
    val normalized = directed.keySet.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    assert(normalized === undirected.keySet)
    undirected.foreach { case ((a, b), j) =>
      assert(directed((a, b)) === j && directed((b, a)) === j)
    }
  }

  test("transformWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_tws").toString
    def batch(n: Int, rows: Seq[(Long, Double)]): Unit =
      rows.toDF("user_id", "value").write.parquet(s"$path/b$n")
    batch(1, Seq((1L, 1.0), (1L, 2.0), (2L, 10.0)))
    batch(2, Seq((1L, 4.0), (3L, 7.0)))

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1").parquet(path + "/*")
      val q = Streaming.runningTotals(src)
        .writeStream.outputMode("update")
        .format("memory").queryName("tws_out").start()
      q.processAllAvailable(); q.stop()
      // update-mode sink: the LAST emission per user carries the final
      // running totals, state having persisted across micro-batches
      val finals = spark.table("tws_out").groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n"), max(col("total_value")).as("t"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(finals(1L) === ((3L, 7.0)))
      assert(finals(2L) === ((1L, 10.0)))
      assert(finals(3L) === ((1L, 7.0)))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming SCD-2 emits the same closed intervals as the batch run") {
    // replay the events table as three event-time-ordered micro-batch
    // chunks (delivery follows event time — the premise under which
    // stream and batch SCD-2 agree) and assert the emitted closed
    // interval set equals the uninterrupted batch processor's
    val path = java.nio.file.Files.createTempDirectory("graft_scd2").toString
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        timestamp_millis(expr("ts div 1000000")).as("ts"), col("event_type"))
    val jan11 = 1704931200000L // 2024-01-11 UTC
    val jan21 = 1705795200000L
    val cuts = Seq(
      col("ts") < timestamp_millis(lit(jan11)),
      col("ts") >= timestamp_millis(lit(jan11)) &&
        col("ts") < timestamp_millis(lit(jan21)),
      col("ts") >= timestamp_millis(lit(jan21)))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Long)]()
      val src = spark.readStream
        .schema("user_id long, event_id long, ts timestamp, event_type string")
        .parquet(path + "/*")
      val q = Streaming.scd2Intervals(src)
        .writeStream.outputMode("update")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.ClosedInterval], _: Long) =>
            val rows = d.collect().map(i =>
              (i.user_id, i.event_type, i.valid_from_ms, i.valid_to_ms, i.n_events))
            emitted.synchronized { emitted ++= rows; () }
        }.start()
      cuts.zipWithIndex.foreach { case (c, i) =>
        ev.filter(c).coalesce(1).write.parquet(s"$path/b$i")
        q.processAllAvailable()
      }
      q.stop()
      val batch = Streaming.scd2Intervals(ev).collect()
        .map(i => (i.user_id, i.event_type, i.valid_from_ms, i.valid_to_ms,
          i.n_events)).toSet
      assert(emitted.toSet === batch)
      assert(batch.nonEmpty)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming SCD-2 out-of-order delivery: loud by default, counted when dropped") {
    import spark.implicits._
    // user 1: batch A advances the open island to ts 3000; batch B then
    // delivers a LATE event (ts 2000 < 3000, would rewrite the already-
    // emitted x-island) plus a legitimate successor at ts 4000
    val batchA = Seq((1L, 1L, 1000L, "x"), (1L, 2L, 3000L, "y"))
    val batchB = Seq((1L, 3L, 2000L, "x"), (1L, 4L, 4000L, "x"))
    // one file per batch: a running query sees a batch whole, never one
    // part file of it first, which would split the batch across
    // micro-batches out of event-time order (every test here that feeds
    // a running query writes one file per batch for the same reason)
    def write(path: String, n: Int, rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("user_id", "event_id", "ms", "event_type")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(col("ms")).as("ts"), col("event_type"))
        .coalesce(1).write.parquet(s"$path/b$n")
    def src(path: String) = spark.readStream
      .schema("user_id long, event_id long, ts timestamp, event_type string")
      .parquet(path + "/*")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // default policy: the query DIES on the late event — corrupt
      // intervals (valid_to < valid_from) must not be representable
      val loud = java.nio.file.Files.createTempDirectory("graft_scd2_ooo1").toString
      val q1 = Streaming.scd2Intervals(src(loud))
        .writeStream.outputMode("update")
        .foreachBatch {
          // collect: the sink must process every partition, or batch 0
          // fails state-commit validation before the late event arrives
          (d: org.apache.spark.sql.Dataset[Streaming.ClosedInterval], _: Long) =>
            { d.collect(); () }
        }.start()
      write(loud, 0, batchA); q1.processAllAvailable()
      write(loud, 1, batchB)
      val ex = intercept[Exception] { q1.processAllAvailable(); q1.stop() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("out-of-order delivery")), ex.toString)
      // dropLate: the late row is skipped AND accounted; every other
      // row processes normally, so the closed set equals an in-order
      // replay of the non-late rows
      val counted = java.nio.file.Files.createTempDirectory("graft_scd2_ooo2").toString
      val late = spark.sparkContext.longAccumulator("graft_scd2_late")
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Long)]()
      val q2 = Streaming.scd2Intervals(src(counted), dropLate = true,
          lateCounter = Some(late))
        .writeStream.outputMode("update")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.ClosedInterval], _: Long) =>
            val rows = d.collect().map(i =>
              (i.user_id, i.event_type, i.valid_from_ms, i.valid_to_ms, i.n_events))
            emitted.synchronized { emitted ++= rows; () }
        }.start()
      write(counted, 0, batchA); q2.processAllAvailable()
      write(counted, 1, batchB); q2.processAllAvailable()
      q2.stop()
      assert(emitted.toSet === Set(
        (1L, "x", 1000L, 3000L, 1L),
        (1L, "y", 3000L, 4000L, 1L)))
      // >= not ===: the counter increments inside the stateful
      // transformation, where Spark accumulators are at-least-once (a
      // task retry under load double-counts); the closed SET above is
      // the exactly-once contract, the counter is observability
      assert(late.value >= 1L)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming decontamination equals batch; clean docs never reach the verify join") {
    import spark.implicits._
    def text(tag: String): String =
      (0 until 20).map(i => s"${tag}w$i").mkString(" ")
    // benchmark: 2 docs; stream: 11 shares an 8-gram run with bench 1
    // (contaminated), 12 and 13 are clean, 14 shares with bench 2
    val bench = Seq((1L, text("b1")), (2L, text("b2"))).toDF("doc_id", "text")
    val leak1 = (text("b1").split(" ").slice(0, 10) ++
      (0 until 10).map(i => s"xw$i")).mkString(" ")
    val leak2 = ((0 until 10).map(i => s"yw$i") ++
      text("b2").split(" ").slice(8, 18)).mkString(" ")
    val batches = Seq(
      Seq((11L, leak1), (12L, text("c12"))),
      Seq((13L, text("c13")), (14L, leak2)))
    val path = java.nio.file.Files.createTempDirectory("graft_scontam").toString
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").write.parquet(s"$path/b$i")
    }
    val batchDocs = spark.read.parquet(path + "/*")
    val want = Streaming.contaminationHits(batchDocs, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(want.map(_._1) === Set(11L, 14L))
    assert(want.forall(_._4))
    // replayed as a stream, one file per micro-batch, update mode
    val src = spark.readStream.schema("doc_id long, text string")
      .option("maxFilesPerTrigger", "1").parquet(path + "/*")
    val got = scala.collection.mutable.Map[Long, (Long, Long, Boolean)]()
    val q = Streaming.contaminationHits(src, bench)
      .writeStream.outputMode("update")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        d.collect().foreach { r =>
          got.synchronized {
            got(r.getLong(0)) = (r.getLong(1), r.getLong(2), r.getBoolean(3)); ()
          }
        }
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(got.map { case (id, (b, g, c)) => (id, b, g, c) }.toSet === want)
  }

  test("streaming SCD-2 watermark-hold absorbs bounded disorder; beyond-watermark counted") {
    import spark.implicits._
    // user 1's true event-time order: x@1000, x@2000, y@3000, y@4000,
    // x@5000 — delivered OUT of order across batches, all inside the
    // 10 s watermark delay. Sentinel user 99 exists only to advance the
    // global watermark past every real event so the hold buffer
    // flushes; its own intervals are excluded from the comparison.
    val b0 = Seq((1L, 1L, 1000L, "x"), (1L, 3L, 3000L, "y"), (1L, 5L, 5000L, "x"))
    val b1 = Seq((1L, 2L, 2000L, "x"), (1L, 4L, 4000L, "y"))
    val b2 = Seq((99L, 90L, 1000000L, "x"))
    val b3 = Seq((99L, 91L, 2000000L, "x"))
    def write(path: String, n: Int, rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("user_id", "event_id", "ms", "event_type")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(col("ms")).as("ts"), col("event_type"))
        .coalesce(1).write.parquet(s"$path/b$n")
    def src(path: String) = spark.readStream
      .schema("user_id long, event_id long, ts timestamp, event_type string")
      .parquet(path + "/*")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val held = java.nio.file.Files.createTempDirectory("graft_scd2_hold").toString
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Long)]()
      val lag = new Streaming.MaxAccumulator
      spark.sparkContext.register(lag, "graft.scd2hold.flushLagMs")
      val q = Streaming.scd2IntervalsHeld(src(held), delay = "10 seconds",
        lagMetric = Some(lag))
        .writeStream.outputMode("update")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.ClosedInterval], _: Long) =>
            val rows = d.collect().map(i =>
              (i.user_id, i.event_type, i.valid_from_ms, i.valid_to_ms, i.n_events))
            emitted.synchronized { emitted ++= rows; () }
        }.start()
      Seq(b0, b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
        write(held, i, b); q.processAllAvailable()
      }
      q.stop()
      // the held replay of the disordered delivery equals the batch
      // processor's run over the IN-ORDER event sequence
      val inOrder = (b0 ++ b1).sortBy(_._3)
        .toDF("user_id", "event_id", "ms", "event_type")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(col("ms")).as("ts"), col("event_type"))
      val batch = Streaming.scd2Intervals(inOrder).collect()
        .map(i => (i.user_id, i.event_type, i.valid_from_ms, i.valid_to_ms,
          i.n_events)).toSet
      assert(batch === Set(
        (1L, "x", 1000L, 3000L, 2L),
        (1L, "y", 3000L, 5000L, 2L)))
      assert(emitted.toSet.filter(_._1 != 99L) === batch)
      // emission-latency gauge: user 1's buffer (oldest ts=1000) can
      // only flush once the sentinel advances the watermark to
      // 990000, so the realized hold reads 989000 ms — the latency
      // the hold policy pays, now observable; an optional trailing
      // empty batch may also flush user 99's buffer at lag 990000
      assert(lag.value >= 989000L && lag.value <= 990000L,
        s"flush lag gauge read ${lag.value}")

      // disorder BEYOND the delay: a 1 s watermark has passed ts=100000
      // by the time the straggler arrives — the ENGINE's watermark
      // filter drops it before the operator (never a corrupt interval)
      // and counts it in numRowsDroppedByWatermark, the standard
      // late-loss accounting for any watermarked stateful operator
      val lateDir = java.nio.file.Files.createTempDirectory("graft_scd2_hold2").toString
      val emitted2 =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Long)]()
      val q2 = Streaming.scd2IntervalsHeld(src(lateDir), delay = "1 second")
        .writeStream.outputMode("update")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.ClosedInterval], _: Long) =>
            val rows = d.collect().map(i =>
              (i.user_id, i.event_type, i.valid_from_ms, i.valid_to_ms, i.n_events))
            emitted2.synchronized { emitted2 ++= rows; () }
        }.start()
      val dropped = () => q2.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      write(lateDir, 0, Seq((1L, 1L, 1000L, "x"), (1L, 2L, 200000L, "y")))
      q2.processAllAvailable() // watermark now 199000
      write(lateDir, 1, Seq((1L, 3L, 100000L, "x"))) // straggler, beyond wm
      q2.processAllAvailable()
      val droppedAfterStraggler = dropped()
      write(lateDir, 2, Seq((99L, 90L, 1000000L, "x")))
      q2.processAllAvailable()
      write(lateDir, 3, Seq((99L, 91L, 2000000L, "x")))
      q2.processAllAvailable()
      q2.stop()
      // the straggler was dropped pre-operator (the x island would read
      // n=2 had it been folded) and the engine metric accounts for it
      assert(emitted2.toSet.filter(_._1 != 99L) ===
        Set((1L, "x", 1000L, 200000L, 1L)))
      assert(droppedAfterStraggler >= 1L,
        s"numRowsDroppedByWatermark=$droppedAfterStraggler")
      // batch input is rejected up front: nothing would ever flush
      val ex = intercept[IllegalArgumentException] {
        Streaming.scd2IntervalsHeld(inOrder)
      }
      assert(ex.getMessage.contains("streaming-only"))

      // two-watermark gap: under BACK-TO-BACK data batches (files
      // pre-written, maxFilesPerTrigger=1, one processAllAvailable) the
      // engine's late-row filter can lag the eviction watermark by a
      // batch, so an event in the gap may be ADMITTED while
      // getCurrentWatermarkInMs already reads past it. Whichever side
      // of the filter the engine lands on, silent loss is the one
      // forbidden outcome: either the event was engine-dropped AND
      // counted in numRowsDroppedByWatermark, or it reached the
      // operator and MUST be folded into history (the old
      // watermark-gated guard discarded it, uncounted)
      val gapDir = java.nio.file.Files.createTempDirectory("graft_scd2_hold3").toString
      write(gapDir, 0, Seq((1L, 1L, 1000L, "x"), (99L, 90L, 1000000L, "x")))
      write(gapDir, 1, Seq((1L, 2L, 500000L, "y"))) // in the gap at batch 1
      write(gapDir, 2, Seq((99L, 91L, 2000000L, "x")))
      write(gapDir, 3, Seq((99L, 92L, 3000000L, "x")))
      val emitted3 =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Long)]()
      val q3 = Streaming.scd2IntervalsHeld(
          spark.readStream
            .schema("user_id long, event_id long, ts timestamp, event_type string")
            .option("maxFilesPerTrigger", "1").parquet(gapDir + "/*"),
          delay = "10 seconds")
        .writeStream.outputMode("update")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.ClosedInterval], _: Long) =>
            val rows = d.collect().map(i =>
              (i.user_id, i.event_type, i.valid_from_ms, i.valid_to_ms, i.n_events))
            emitted3.synchronized { emitted3 ++= rows; () }
        }.start()
      q3.processAllAvailable()
      val dropped3 = q3.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      q3.stop()
      val user1 = emitted3.toSet.filter(_._1 == 1L)
      info(s"gap case: dropped=$dropped3 user1=$user1")
      if (dropped3 == 0L)
        assert(user1 === Set((1L, "x", 1000L, 500000L, 1L)),
          s"gap event reached the operator but was not folded (emitted $user1)")
      else
        assert(user1.isEmpty || user1 === Set((1L, "x", 1000L, 500000L, 1L)),
          s"inconsistent gap handling: dropped=$dropped3 emitted=$user1")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("checkpoint recovery: watermark-hold buffer and timers survive a kill-and-restart") {
    import spark.implicits._
    // the hold processor's correctness rides THREE recovered pieces:
    // the ListState buffer, the per-key timer, and the flushedTo
    // boundary. Kill the query while events sit buffered (watermark
    // not yet past them), restart from the checkpoint, advance the
    // watermark — the flush must emit intervals only recoverable from
    // pre-kill buffered state
    val path = java.nio.file.Files.createTempDirectory("graft_hold_ckpt_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hold_ckpt_dir").toString
    def batch(n: Int, rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("user_id", "event_id", "ms", "event_type")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(col("ms")).as("ts"), col("event_type"))
        .write.parquet(s"$path/b$n")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Long)]()
      def run(): Unit = {
        val src = spark.readStream
          .schema("user_id long, event_id long, ts timestamp, event_type string")
          .option("maxFilesPerTrigger", "1").parquet(path + "/*")
        val q = Streaming.scd2IntervalsHeld(src, delay = "10 seconds")
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (d: org.apache.spark.sql.Dataset[Streaming.ClosedInterval], _: Long) =>
              val rows = d.collect().map(i =>
                (i.user_id, i.event_type, i.valid_from_ms, i.valid_to_ms, i.n_events))
              emitted.synchronized { emitted ++= rows; () }
          }.start()
        q.processAllAvailable(); q.stop()
      }
      // run 1: ONLY user 1's events — the watermark stays at 0 for the
      // whole run (max ts 5000, delay 10 s), so the kill happens with
      // both events in the ListState buffer and the timer armed
      batch(0, Seq((1L, 1L, 1000L, "x"), (1L, 2L, 5000L, "y")))
      run()
      val afterRun1 = emitted.size
      assert(emitted.take(afterRun1).forall(_._1 != 1L),
        "user 1 flushed before the kill — scenario broken")
      // run 2: sentinels advance the watermark past the buffer only
      // AFTER recovery, so this close can only come from the recovered
      // buffer + timer + open-island state
      batch(1, Seq((99L, 90L, 1000000L, "x")))
      batch(2, Seq((99L, 91L, 2000000L, "x")))
      run()
      val post = emitted.drop(afterRun1).toSet.filter(_._1 == 1L)
      assert(post === Set((1L, "x", 1000L, 5000L, 1L)),
        s"recovered flush emitted $post")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("checkpoint recovery: transformWithState totals survive a kill-and-restart") {
    import spark.implicits._
    // The reference exists to make consumption RESUMABLE (committed
    // offsets in KafkaRecordReader); the Spark-native equivalent is the
    // checkpoint. Kill a running stateful query, restart it from its
    // checkpoint dir, and the recovered run must (a) not reprocess
    // committed input — exactly-once offsets — and (b) resume per-key
    // RocksDB state, so post-restart totals include pre-kill history.
    // Two inputs: one micro-batch before the kill, and twelve, so that
    // recovery replays a chain of changelog files (GraftSession turns
    // RocksDB changelog checkpointing on).
    for (preKill <- Seq(1, 12)) {
      val path = java.nio.file.Files.createTempDirectory("graft_ckpt_src").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_dir").toString
      val input = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      def batch(n: Int, rows: Seq[(Long, Double)]): Unit = {
        input ++= rows
        rows.toDF("user_id", "value").coalesce(1).write.parquet(f"$path/b$n%02d")
      }
      batch(1, Seq((1L, 1.0), (1L, 2.0), (2L, 10.0)))
      (2 to preKill).foreach(n => batch(n, Seq((1L, n * 0.25), (4L + n % 3, n + 0.01))))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        // the memory sink refuses checkpoint recovery by design (not
        // fault-tolerant), so emissions land in a driver-side buffer via
        // foreachBatch — the recoverable sink shape
        val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        def run(): Unit = {
          val src = spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", "1").parquet(path + "/*")
          val q = Streaming.runningCents(src)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch {
              (d: org.apache.spark.sql.Dataset[Streaming.UserTotalsCents], _: Long) =>
                val rows = d.collect().map(t => (t.user_id, t.n_events, t.total_cents))
                emitted.synchronized { emitted ++= rows; () }
            }.start()
          q.processAllAvailable(); q.stop()
        }
        run() // run 1, then killed
        val afterRun1 = emitted.size
        // data keeps arriving while the job is down
        batch(preKill + 1, Seq((1L, 4.0), (3L, 7.0)))
        run() // restart from the same checkpoint
        // post-restart emissions only: what they say about user 1 could
        // only have come from recovered state
        val finals = emitted.drop(afterRun1)
          .map { case (u, n, c) => u -> ((n, c)) }.toMap
        // uninterrupted run over the full input (batch mode, same processor)
        val want = Streaming.runningCents(spark.read.parquet(path + "/*"))
          .collect().map(t => t.user_id -> ((t.n_events, t.total_cents))).toMap
        // exact totals straight from the input rows
        val exact = input.groupBy(_._1).map { case (u, rs) =>
          u -> ((rs.size.toLong, rs.map(r => math.round(r._2 * 100)).sum)) }
        assert(want === exact)
        assert(finals(1L) === want(1L)) // includes pre-kill rows
        assert(finals(3L) === want(3L)) // (1, 700): new key post-restart
        // a key untouched by the last batch is NOT re-emitted: committed
        // input was not replayed
        assert(!finals.contains(2L), s"pre-kill input was reprocessed: $finals")
        // the last emission per key, across the kill, is its exact total
        assert(emitted.map { case (u, n, c) => u -> ((n, c)) }.toMap === exact,
          s"$preKill micro-batches before the kill")
      } finally
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("checkpoint recovery: dedup survivor state survives a kill-and-restart") {
    import spark.implicits._
    // same shape for the ingest-dedup pipeline: a document committed
    // before the kill and REDELIVERED after the restart must stay
    // dropped (its content hash lives in recovered state) — no dupes —
    // while genuinely new documents still pass — no loss.
    val t0 = 1704067200000L
    def text(tag: String): String =
      (0 until 20).map(i => s"${tag}w$i").mkString(" ")
    val path = java.nio.file.Files.createTempDirectory("graft_ckpt_dd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_ddc").toString
    def seg(n: Int, rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("doc_id", "ts_ms", "text")
        .select(col("doc_id"), timestamp_millis(col("ts_ms")).as("ts"),
          col("text"), lit("web").as("source"))
        .write.parquet(s"$path/seg$n")
    seg(1, Seq((11L, t0, text("a")), (12L, t0 + 60000, text("b")),
      (13L, t0 + 120000, text("b")))) // 13 = exact dup of 12
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id long, ts timestamp, text string, source string")
        .option("maxFilesPerTrigger", "1").parquet(path + "/*")
      val q = Streaming.dedupedDocs(src).select(col("doc_id"), col("content_hash"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
          emitted.synchronized { emitted ++= rows; () }
        }.start()
      q.processAllAvailable(); q.stop()
    }
    run() // run 1, then killed
    val run1 = emitted.toSet
    // the 12/13 within-batch survivor pick is partition-order-dependent
    // (both texts arrive in ONE micro-batch) — the recovery property is
    // about the hash STATE, so assert one survivor per distinct hash
    assert(run1.map(_._1).contains(11L) && run1.size === 2 &&
      (run1.map(_._1) - 11L).subsetOf(Set(12L, 13L)), run1.toString)
    val afterRun1 = emitted.size
    // while down: 11 redelivered verbatim, 14 genuinely new
    seg(2, Seq((11L, t0, text("a")), (14L, t0 + 180000, text("c"))))
    run() // restart from the same checkpoint
    val run2 = emitted.drop(afterRun1).toSet
    assert(run2.map(_._1) === Set(14L),
      s"redelivered doc must stay dropped by recovered state, got $run2")
    // no loss either: the combined survivor HASH set equals the
    // uninterrupted batch run's
    val want = Streaming.dedupedDocs(spark.read.parquet(path + "/*"))
      .select(col("content_hash")).collect().map(_.getString(0)).toSet
    assert((run1 ++ run2).map(_._2) === want)
  }

  test("late data beyond watermark is dropped in append mode") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_late").toString
    // batch 1: on-time data around t0; batch 2: an event 10 hours older
    val t0 = 1704067200000L
    Seq((t0, "a", 1.0), (t0 + 60000, "a", 1.0))
      .toDF("ts_ms", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"), col("value"))
      .write.parquet(path + "/b1")
    Seq((t0 - 36000000L, "late", 1.0))
      .toDF("ts_ms", "event_type", "value")
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("event_type"), col("value"))
      .write.parquet(path + "/b2")

    val src = spark.readStream
      .schema("ts timestamp, event_type string, value double")
      .option("maxFilesPerTrigger", "1")
      .parquet(path + "/*")
    val agg = Streaming.windowedCounts(src, "1 hour", watermark = "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    q.processAllAvailable(); q.stop()
    // nothing asserted about exact emission timing beyond: the query
    // runs in append mode with state bounded by the watermark
    assert(spark.streams.active.isEmpty)
  }

  test("streaming last-touch attribution equals the batch run across micro-batches") {
    // same replay premise as the SCD-2 test: delivery follows event
    // time, state (the candidate touch) persists across batches
    val path = java.nio.file.Files.createTempDirectory("graft_attr").toString
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        timestamp_millis(expr("ts div 1000000")).as("ts"), col("event_type"))
    val jan11 = 1704931200000L
    val jan21 = 1705795200000L
    val cuts = Seq(
      col("ts") < timestamp_millis(lit(jan11)),
      col("ts") >= timestamp_millis(lit(jan11)) &&
        col("ts") < timestamp_millis(lit(jan21)),
      col("ts") >= timestamp_millis(lit(jan21)))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
      val src = spark.readStream
        .schema("user_id long, event_id long, ts timestamp, event_type string")
        .parquet(path + "/*")
      val q = Streaming.lastTouch(src)
        .writeStream.outputMode("append")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.AttributedPurchase],
              _: Long) =>
            val rows = d.collect().map(a =>
              (a.user_id, a.purchase_id, a.ts_ms, a.channel))
            emitted.synchronized { emitted ++= rows; () }
        }.start()
      cuts.zipWithIndex.foreach { case (c, i) =>
        ev.filter(c).coalesce(1).write.parquet(s"$path/b$i")
        q.processAllAvailable()
      }
      q.stop()
      val batch = Streaming.lastTouch(ev).collect()
        .map(a => (a.user_id, a.purchase_id, a.ts_ms, a.channel)).toSet
      assert(emitted.toSet === batch)
      assert(batch.nonEmpty)
      // non-trivial: at least one purchase attributed to a real touch
      assert(batch.exists(_._4 != "direct"))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-stream LEFT OUTER interval join: unmatched errors emit after the watermark") {
    val path = java.nio.file.Files.createTempDirectory("graft_oj").toString
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), timestamp_millis(expr("ts div 1000000")).as("ts"),
        col("event_type"))
    val jan11 = 1704931200000L
    val cuts = Seq(
      col("ts") < timestamp_millis(lit(jan11)),
      col("ts") >= timestamp_millis(lit(jan11)))
    // sentinel chunk far past the data: advances BOTH sides' watermarks
    // so every real unmatched error flushes; the sentinel user (-1) is
    // excluded from the comparison (its own outer row stays pending)
    import spark.implicits._
    val sentinel = Seq(
      (-1L, new java.sql.Timestamp(jan11 + 86400000L * 400), "error"),
      (-1L, new java.sql.Timestamp(jan11 + 86400000L * 400 + 7200000L), "click"))
      .toDF("user_id", "ts", "event_type")
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long], Boolean)]()
    val src = spark.readStream
      .schema("user_id long, ts timestamp, event_type string")
      .parquet(path + "/*")
    val q = Streaming.unansweredErrors(src)
      .writeStream.outputMode("append")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = d.collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
        emitted.synchronized { emitted ++= rows; () }
      }.start()
    (cuts.zipWithIndex.map { case (c, i) => (ev.filter(c), i) } :+
      ((sentinel, cuts.size))).foreach { case (d, i) =>
      d.coalesce(1).write.parquet(s"$path/b$i")
      q.processAllAvailable()
    }
    q.stop()
    val streamed = emitted.filter(_._1 >= 0).toSet
    val batch = Streaming.unansweredErrors(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
      .toSet
    assert(streamed === batch)
    assert(batch.exists(_._4), "expected at least one unanswered error")
    assert(batch.exists(!_._4), "expected at least one answered error")
  }

  test("streaming rate alerts equal the batch scoring across micro-batches") {
    val path = java.nio.file.Files.createTempDirectory("graft_spk").toString
    val ev = Tables.load(spark, sf, "events")
      .select(timestamp_millis(expr("ts div 1000000")).as("ts"),
        col("event_type"))
    val thresholds = graft.operators.Relational.qSpike.fn(spark, sf)
      .select(col("event_type"), col("med"), col("mad")).distinct()
      .cache()
    val jan11 = 1704931200000L
    val cuts = Seq(
      col("ts") < timestamp_millis(lit(jan11)),
      col("ts") >= timestamp_millis(lit(jan11)))
    val src = spark.readStream
      .schema("ts timestamp, event_type string")
      .parquet(path + "/*")
    val latest = scala.collection.mutable.Map[(String, Long), (Long, Long, Long, Boolean)]()
    val q = Streaming.rateAlerts(src, thresholds)
      .writeStream.outputMode("update")
      .foreachBatch { (d: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = d.collect()
        latest.synchronized {
          rows.foreach { r =>
            latest((r.getString(0), r.getLong(1))) =
              (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
          }
        }
      }.start()
    cuts.zipWithIndex.foreach { case (c, i) =>
      ev.filter(c).coalesce(1).write.parquet(s"$path/b$i")
      q.processAllAvailable()
    }
    q.stop()
    // update mode re-emits a window when late rows update it; the
    // LATEST emission per key must equal the uninterrupted batch run
    val batch = Streaming.rateAlerts(ev, thresholds).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(latest.toMap === batch)
    assert(batch.values.exists(_._4), "expected at least one spike")
    thresholds.unpersist()
    ()
  }

  test("streaming transitions equal the batch run across micro-batches") {
    // O(1) last-type state must bridge the batch boundary: a user's
    // first event in batch 2 transitions FROM its last event of batch
    // 1, not from 'start' — exactly what this replay exercises.
    val path = java.nio.file.Files.createTempDirectory("graft_trans").toString
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        timestamp_millis(expr("ts div 1000000")).as("ts"), col("event_type"))
    val jan11 = 1704931200000L
    val jan21 = 1705795200000L
    val cuts = Seq(
      col("ts") < timestamp_millis(lit(jan11)),
      col("ts") >= timestamp_millis(lit(jan11)) &&
        col("ts") < timestamp_millis(lit(jan21)),
      col("ts") >= timestamp_millis(lit(jan21)))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, String, String, Long, Long)]()
      val src = spark.readStream
        .schema("user_id long, event_id long, ts timestamp, event_type string")
        .parquet(path + "/*")
      val q = Streaming.transitions(src)
        .writeStream.outputMode("append")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.Transition], _: Long) =>
            val rows = d.collect().map(t =>
              (t.user_id, t.from_type, t.to_type, t.ts_ms, t.event_id))
            emitted.synchronized { emitted ++= rows; () }
        }.start()
      cuts.zipWithIndex.foreach { case (c, i) =>
        ev.filter(c).coalesce(1).write.parquet(s"$path/b$i")
        q.processAllAvailable()
      }
      q.stop()
      val batch = Streaming.transitions(ev).collect()
        .map(t => (t.user_id, t.from_type, t.to_type, t.ts_ms, t.event_id))
        .toSet
      assert(emitted.toSet === batch)
      assert(batch.nonEmpty)
      // every user has exactly one 'start' transition
      val starts = batch.groupBy(_._1).view
        .mapValues(_.count(_._2 == "start"))
      assert(starts.values.forall(_ == 1))
      // and at least one user crosses a micro-batch boundary with a
      // non-start from_type in batch 2 (state survived the boundary)
      val crossed = batch.exists(t => t._4 >= jan11 && t._2 != "start")
      assert(crossed, "no cross-batch transition observed")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming funnel equals the batch run; stages cross micro-batch boundaries") {
    // a user whose first view lands in batch 1 and first qualifying
    // click in batch 2 must still advance — the (t1,t2,t3) state is
    // what bridges the boundary
    val path = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        timestamp_millis(expr("ts div 1000000")).as("ts"), col("event_type"))
    val jan11 = 1704931200000L
    val jan21 = 1705795200000L
    val cuts = Seq(
      col("ts") < timestamp_millis(lit(jan11)),
      col("ts") >= timestamp_millis(lit(jan11)) &&
        col("ts") < timestamp_millis(lit(jan21)),
      col("ts") >= timestamp_millis(lit(jan21)))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long)]()
      val src = spark.readStream
        .schema("user_id long, event_id long, ts timestamp, event_type string")
        .parquet(path + "/*")
      val q = Streaming.funnelStages(src)
        .writeStream.outputMode("append")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.StageReach], _: Long) =>
            val rows = d.collect().map(t =>
              (t.user_id, t.stage, t.event_type, t.ts_ms))
            emitted.synchronized { emitted ++= rows; () }
        }.start()
      cuts.zipWithIndex.foreach { case (c, i) =>
        ev.filter(c).coalesce(1).write.parquet(s"$path/b$i")
        q.processAllAvailable()
      }
      q.stop()
      val batch = Streaming.funnelStages(ev).collect()
        .map(t => (t.user_id, t.stage, t.event_type, t.ts_ms)).toSet
      assert(emitted.toSet === batch)
      assert(batch.nonEmpty)
      // each user reaches each stage at most once, and stage sets nest
      val byUser = batch.groupBy(_._1)
      for ((_, rs) <- byUser) {
        assert(rs.map(_._2).toSeq.sorted ===
          (1L to rs.size.toLong))
      }
      // at least one stage-2/3 reach lands in a later batch than the
      // user's stage 1 (the state actually bridged)
      val bridged = byUser.values.exists { rs =>
        val m = rs.map(r => r._2 -> r._4).toMap
        m.contains(1L) && m.exists { case (st, ts) =>
          st > 1L && ts >= jan11 && m(1L) < jan11 }
      }
      assert(bridged, "no funnel stage crossed a micro-batch boundary")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("spacesaving: hand eviction replay; last micro-batch emission equals the batch run") {
    import spark.implicits._
    // the provider conf must cover the hand replay too — batch-mode
    // transformWithState also requires RocksDB
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // hand stream, capacity 2: u1 x3, u2 x1, then u3 arrives — must
    // evict u2 (min count, then min id) and inherit est=2, err=1
    val hand = Seq(
      (1L, 1L, 1000L, "view"), (1L, 2L, 2000L, "view"),
      (1L, 3L, 3000L, "view"), (2L, 4L, 4000L, "view"),
      (3L, 5L, 5000L, "view"))
      .toDF("user_id", "event_id", "ts_ms", "event_type")
      .select(col("user_id"), col("event_id"),
        timestamp_millis(col("ts_ms")).as("ts"), col("event_type"))
    try {
      val got = Streaming.spaceSavingTopK(hand, capacity = 2, k = 2)
        .collect().map(t => (t.user_id, t.est, t.err, t.rnk)).toSeq
      assert(got === Seq((1L, 3L, 0L, 1L), (3L, 2L, 1L, 2L)),
        s"eviction must inherit the victim's count as err: $got")
      // real corpus: last micro-batch emission == single-shot batch run
      val path = java.nio.file.Files.createTempDirectory("graft_ss").toString
      val ev = Tables.load(spark, sf, "events")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(expr("ts div 1000000")).as("ts"), col("event_type"))
      val jan11 = 1704931200000L
      val jan21 = 1705795200000L
      val cuts = Seq(
        col("ts") < timestamp_millis(lit(jan11)),
        col("ts") >= timestamp_millis(lit(jan11)) &&
          col("ts") < timestamp_millis(lit(jan21)),
        col("ts") >= timestamp_millis(lit(jan21)))
      val perBatch = scala.collection.mutable
        .ArrayBuffer[Set[(String, Long, Long, Long, Long)]]()
      val src = spark.readStream
        .schema("user_id long, event_id long, ts timestamp, event_type string")
        .parquet(path + "/*")
      val q = Streaming.spaceSavingTopK(src)
        .writeStream.outputMode("append")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.TopKEntry], _: Long) =>
            val rows = d.collect()
              .map(t => (t.event_type, t.user_id, t.est, t.err, t.rnk)).toSet
            perBatch.synchronized { if (rows.nonEmpty) perBatch += rows; () }
        }.start()
      cuts.zipWithIndex.foreach { case (c, i) =>
        ev.filter(c).coalesce(1).write.parquet(s"$path/b$i")
        q.processAllAvailable()
      }
      q.stop()
      val batch = Streaming.spaceSavingTopK(ev).collect()
        .map(t => (t.event_type, t.user_id, t.est, t.err, t.rnk)).toSet
      assert(perBatch.nonEmpty && perBatch.last === batch,
        "the final micro-batch summary must equal the single-shot run")
      // counts accumulated across batches: some final estimate exceeds
      // what the last batch alone could produce
      val lastBatchOnly = Streaming.spaceSavingTopK(ev.filter(cuts(2)))
        .collect().map(t => (t.event_type, t.user_id) -> t.est).toMap
      val bridged = batch.exists { case (ty, u, est, _, _) =>
        lastBatchOnly.get((ty, u)).exists(est > _)
      }
      assert(bridged, "no counter accumulated across the batch boundary")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming cusum equals the batch run; the running s bridges micro-batches") {
    // the single-integer CUSUM state must carry across the batch
    // boundary: day d's cusum in batch 2 builds on batch 1's final s
    val path = java.nio.file.Files.createTempDirectory("graft_cusum").toString
    val cnt = Tables.load(spark, sf, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val ref = cnt.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("m"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val days = cnt.select(col("day")).distinct().collect()
      .map(_.getLong(0)).sorted
    val cut1 = days(days.length / 3)
    val cut2 = days(2 * days.length / 3)
    val cuts = Seq(col("day") < cut1,
      col("day") >= cut1 && col("day") < cut2, col("day") >= cut2)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emitted = scala.collection.mutable
        .ArrayBuffer[(String, Long, Long, Long, Boolean)]()
      val src = spark.readStream
        .schema("event_type string, day long, n long")
        .parquet(path + "/*")
      val q = Streaming.cusumPoints(src, ref)
        .writeStream.outputMode("append")
        .foreachBatch {
          (d: org.apache.spark.sql.Dataset[Streaming.CusumPoint], _: Long) =>
            val rows = d.collect().map(p =>
              (p.event_type, p.day, p.n, p.cusum, p.is_shift))
            emitted.synchronized { emitted ++= rows; () }
        }.start()
      cuts.zipWithIndex.foreach { case (c, i) =>
        cnt.filter(c).coalesce(1).write.parquet(s"$path/b$i")
        q.processAllAvailable()
      }
      q.stop()
      val batch = Streaming.cusumPoints(cnt, ref).collect()
        .map(p => (p.event_type, p.day, p.n, p.cusum, p.is_shift)).toSet
      assert(emitted.toSet === batch)
      assert(batch.nonEmpty)
      // state bridged: some type enters batch 2 with nonzero carried s
      // (its first batch-2 cusum differs from a zero-state restart)
      val carried = batch.exists { p =>
        p._2 >= cut1 && days.indexOf(p._2) ==
          days.indexWhere(_ >= cut1) && p._4 !=
          math.max(0L, ref(p._1)._2 * p._3 - ref(p._1)._1)
      }
      assert(carried, "no type carried nonzero CUSUM state into batch 2")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
