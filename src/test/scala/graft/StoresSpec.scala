package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.operators.{Corpus, Pipeline, Relational}

/** The session registry of build-once stores and scratch dirs. Each
  * test keys its entries on its own `newSession()` (same SparkContext,
  * its own registry entry), so stopping it never touches the suite's
  * shared session. */
class StoresSpec extends SparkSpec {

  test("concurrent first calls to one memo key run the builder once and share its value") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val threads = 8
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to threads).map(_ => Future {
        gate.await()
        Stores.memo(s, "racy") { builds.incrementAndGet(); Thread.sleep(200); new Object }
      })
      gate.countDown()
      val got = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(got.forall(_ eq got.head))
    } finally {
      pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)
      Stores.stop(s)
    }
  }

  test("a memo build that throws is retried on the next call; a nested memo build works") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    def call(): Int = Stores.memo(s, "flaky") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      Stores.memo(s, "inner")(40) + 2
    }
    try {
      intercept[IllegalStateException](call())
      assert(call() == 42 && call() == 42)
      assert(builds.get == 2, s"${builds.get} builds")
    } finally Stores.stop(s)
  }

  test("session stop drops the session's entries and deletes every dir tmpDir made") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    def value(): Int = Stores.memo(s, "v")(builds.incrementAndGet())
    val a = Stores.tmpDir(s, "spec")
    val b = Stores.tmpDir(s, "spec")
    assert(a != b, "two calls of one name share a dir")
    assert(Paths.get(a).getFileName.toString.startsWith("graft_spec_"))
    Files.createDirectories(Paths.get(a, "x", "y"))
    Files.write(Paths.get(a, "x", "y", "f.bin"), Array[Byte](1, 2, 3))
    assert(value() == 1 && value() == 1)
    // the real stores' dirs go the same way
    val stores = Seq(Corpus.sigStore(s, sf), Relational.mvBase(s, sf),
      Pipeline.ivfListStore(s, sf)).map(df => Paths.get(new java.net.URI(df.inputFiles.head)).getParent)
    assert(stores.forall(Files.isDirectory(_)))
    Stores.stop(s)
    for (d <- Seq(Paths.get(a), Paths.get(b)) ++ stores)
      assert(!Files.exists(d), s"$d survived the session's stop")
    assert(value() == 2, "a stopped session's entry was handed out again")
    Stores.stop(s)
  }

  test("PlanDump.normalize strips a tmpDir path from a scan, so plan dumps stay diff-clean") {
    val s = spark.newSession()
    try {
      val dir = Stores.tmpDir(s, "seg")
      val line = s"+- BatchScan graft-log:$dir/events (1)"
      assert(graft.tools.PlanDump.normalize(line) == "+- BatchScan graft-log:/tmp/X (1)")
    } finally Stores.stop(s)
  }

  test("every store builds over an empty corpus, and the keys that read it hold their contracts") {
    val s = spark.newSession()
    val dir = Stores.tmpDir(s, "empty_corpus")
    for (t <- Seq("documents", "orders", "embeddings"))
      Tables.load(s, sf, t).limit(0).write.parquet(s"$dir/$t.parquet")
    val graphKeys = Seq("d_ann_graph_full", "d_ann_graph_full_recall",
      "d_ann_graph_full_insert_recall", "d_ann_graph_full_delete_recall",
      "d_ann_graph_full_compact_recall", "d_ann_graph_filtered_recall",
      "d_ann_graph_insert_recall", "d_ann_graph_sharded", "d_ann_graph_sharded_recall",
      "d_ann_graph_routed", "d_ann_graph_routed_recall",
      "d_ann_graph_routed_delete_recall", "d_ann_graph_routed_compact_recall",
      "d_ann_graph_routed_filtered_recall", "s_ann_ingest", "s_ann_ingest_routed",
      "s_ann_delete")
    val otherKeys = Seq("d_dedup_delta", "d_dedup_delta_stored", "s_delta_dedup",
      "q_mv_incremental", "d_ann_ivf_delta")
    try {
      for (key <- graphKeys ++ otherKeys) {
        val rows = SparkEntry.queries(key)(s, dir).collect()
        if (key.endsWith("_recall") || key.startsWith("s_ann")) {
          assert(rows.length == 1, s"$key returned ${rows.length} rows")
          // the oracle's row: nothing counted, every contract vacuously
          // true; the insert demo's recall is NULL, as its oracle's
          // integer division by zero is
          val r = rows.head
          for (f <- r.schema.fields; v = r.getAs[Any](f.name)) v match {
            case n: Long => assert(n == 0L, s"$key.${f.name}")
            case b: Boolean => assert(b, s"$key.${f.name}")
            case null => assert(key == "d_ann_graph_insert_recall" &&
              Set("recall_pct", "recall_ok")(f.name), s"$key.${f.name} is NULL")
            case other => fail(s"$key.${f.name} = $other")
          }
        } else assert(rows.isEmpty, s"$key returned ${rows.length} rows")
      }
    } finally Stores.stop(s)
  }

  test("the shared session's stores are built once and kept across calls") {
    assert(Corpus.sigStore(spark, sf) eq Corpus.sigStore(spark, sf))
  }
}
