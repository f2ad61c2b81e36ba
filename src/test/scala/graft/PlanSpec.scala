package graft

import graft.operators.{Relational, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale properties SURVEY.md §4 claims
  * (pushdown, pruning, broadcast, no corpus shuffle) are checked here,
  * not just eyeballed. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Run `body` under temporary session confs, restoring (or
    * unsetting) each on the way out so no test leaks conf state. */
  private def withConfs(confs: Seq[(String, String)])(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q1: shipdate filter and column pruning reach the parquet scan") {
    val p = plan(Relational.q1Agg.fn(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // pruned: no l_comment / l_shipmode etc in the read schema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"))
  }

  test("q3/q5: small dims still broadcast WITHOUT a hint on scaling tables") {
    // customer/supplier carry no broadcast() hint (they scale with SF —
    // a forced broadcast OOMs at 100 TB); at test SF the size-based
    // planner/AQE still picks broadcast, and bounded dims (nation,
    // region) stay explicitly hinted.
    val p3 = plan(Relational.q3Shipping.fn(spark, sf))
    assert(p3.contains("BroadcastHashJoin"))
    val p5 = plan(Relational.q5Local.fn(spark, sf))
    assert(p5.contains("BroadcastHashJoin"))
    assert(p5.contains("BroadcastExchange"))
  }

  test("brute-force ANN: query set broadcast, corpus never exchanged") {
    val emb = Tables.load(spark, sf, "embeddings")
    val p = plan(Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10),
      "embedding", "vec_id"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    // partial top-k runs map-side before any shuffle (WindowGroupLimit
    // below the Exchange), and the only non-broadcast exchanges are the
    // per-query window shuffle + the presentation sort — count them in
    // the tree section only (details repeat each node once more)
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    val exchanges = tree.count(l =>
      l.contains("- Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 2, s"corpus should not shuffle:\n$p")
    assert(p.contains("WindowGroupLimit"), "expected map-side partial top-k")
  }

  test("k-means assignment is a pure map-side projection — zero shuffle") {
    val emb = Tables.load(spark, sf, "embeddings")
    val p = plan(Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 8, iters = 1))
    assert(p.contains("graft_nearest_centroid"), p)
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(!tree.exists(_.contains("- Exchange")),
      s"corpus must not shuffle for cluster assignment:\n$p")
  }

  test("as-of join is one shuffle on the key — no range cross product") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L)).toDF("lid", "k", "t")
    val right = Seq((100L, 5L, "x")).toDF("k", "t", "v")
    val p = plan(operators.AsOfJoin.asOf(left, right, "k", "k", "t", "t", Seq("v")))
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("- Exchange")) === 1,
      s"expected exactly the window's key shuffle:\n$p")
  }

  test("salted join equals plain join and keys the shuffle on (key, salt)") {
    import spark.implicits._
    // skewed big side: one hot key carrying most rows
    val big = (1L to 2000L).map(i => (if (i % 10 == 0) i else 7L, i))
      .toDF("k", "payload")
    val small = Seq((7L, "hot"), (20L, "a"), (30L, "b")).toDF("sk", "v")
    val plain = big.join(small, col("k") === col("sk"))
      .select("k", "payload", "v").collect().toSet
    val salted = operators.SkewJoin.saltedJoin(big, small, "k", "sk", salt = 8)
      .select("k", "payload", "v").collect().toSet
    assert(salted === plain)
    assert(plain.count(_.getString(2) == "hot") > 0)
  }

  test("salted join tolerates unhashable columns on the big side") {
    import spark.implicits._
    // a MapType payload column (events.props shape) must not feed the
    // xxhash64 salt — it would fail analysis
    val big = (1L to 200L).map(i => (7L, Map("a" -> i), i)).toDF("k", "props", "payload")
    val small = Seq((7L, "hot")).toDF("sk", "v")
    val salted = operators.SkewJoin.saltedJoin(big, small, "k", "sk", salt = 4)
      .select("k", "payload", "v").collect()
    assert(salted.length === 200)
    assert(salted.forall(r => r.getLong(0) == 7L && r.getString(2) == "hot"))
  }

  test("t_sample reads only doc_id from the parquet scan") {
    val p = plan(operators.Pipeline.tSample.fn(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      readSchema)
  }

  test("t_curate: exactly ONE data shuffle (the dedup window), single pruned scan") {
    val p = plan(operators.Pipeline.tCurate.fn(spark, sf))
    // the composed curation pass must not shuffle per stage: quality,
    // langid, split, and kept are map-side; the ONLY data shuffle is
    // the content-hash window (exact dedup) — pinned exactly, plus the
    // presentation orderBy's range exchange, over a SINGLE corpus scan
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("Scan parquet")) === 1,
      s"composed pipeline must read the corpus once:\n$p")
    assert(tree.count(_.contains("- Exchange")) === 2,
      s"expected dedup-window + presentation-sort shuffles only:\n$p")
    // ...and the two exchanges are one hash partition (the window) and
    // one range partition (the sort) — a second hashpartitioning would
    // mean a stage stopped composing map-side
    def arity(kind: String) =
      p.linesIterator.count(l => l.contains("Arguments: " + kind))
    assert(arity("hashpartitioning") === 1 && arity("rangepartitioning") === 1,
      s"expected exactly one hash + one range exchange:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("source"), readSchema)
  }

  test("t_chunk: chunk explode is map-side — no data shuffle, single scan") {
    val p = plan(operators.Pipeline.tChunk.fn(spark, sf))
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("Scan parquet")) === 1, p)
    // slicing is a per-row array op: the only exchange is the
    // presentation sort (range), never a hash partition of the corpus
    def arity(kind: String) =
      p.linesIterator.count(l => l.contains("Arguments: " + kind))
    assert(arity("hashpartitioning") === 0 && arity("rangepartitioning") === 1,
      s"chunking must not shuffle the corpus:\n$p")
  }

  test("t_shard: ONE hash exchange (the shard window) + presentation sort") {
    val p = plan(operators.Pipeline.tShard.fn(spark, sf))
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("Scan parquet")) === 1, p)
    // shard assignment is map-side; the single hash exchange is the
    // per-shard rank window — the same shuffle a shard writer needs
    def arity(kind: String) =
      p.linesIterator.count(l => l.contains("Arguments: " + kind))
    assert(arity("hashpartitioning") === 1 && arity("rangepartitioning") === 1,
      s"expected exactly the shard window + sort exchanges:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      readSchema)
  }

  test("t_perplexity: count aggregations partial-first, vocab size broadcast") {
    val p = plan(operators.Pipeline.tPerplexity.fn(spark, sf))
    // unigram/bigram counts must map-side combine before their
    // exchanges (a Zipf head would otherwise funnel one reducer)...
    assert(p.contains("partial_count"), s"expected partial aggregation:\n$p")
    // ...and the 1-row vocab-size aggregate rides a broadcast, never a
    // corpus-wide exchange
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected vocab broadcast:\n$p")
  }

  test("d_semdedup: seeds broadcast, per-vector argmax collapses map-side") {
    val p = plan(operators.Pipeline.dSemdedup.fn(spark, sf))
    // the k seed vectors must reach the scorer as a broadcast (the
    // corpus is never exchanged to meet them)...
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected seed broadcast:\n$p")
    // ...and the n x k score rows collapse to one row per vector BEFORE
    // the aggregate exchange (partial max_by)
    assert(p.contains("partial_max_by"), s"expected map-side argmax:\n$p")
  }

  test("d_ann_ivfpq: corpus maps to (list, code) in place — probes broadcast") {
    val p = plan(operators.Pipeline.dAnnIvfPq.fn(spark, sf))
    // both kernels (route + encode) are map-side projections and the
    // probe fanout arrives broadcast: the corpus itself is never
    // hash-partitioned to meet the queries
    assert(p.contains("BroadcastExchange"), s"expected probe broadcast:\n$p")
    assert(p.contains("graft_nearest_centroid") && p.contains("graft_pq_encode"),
      s"expected route+encode kernels in the scan projection:\n$p")
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    // three shuffles, none carrying vectors or codes: the ADC-shortlist
    // window moves narrow (query, neighbor, score) tuples for the
    // probed fraction, and the rerank window + presentation sort move
    // only queries x C shortlist rows — the corpus itself streams once
    // through the route+encode projection and meets the probes broadcast
    val exchanges = tree.count(l =>
      l.contains("- Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 3, s"corpus should not shuffle:\n$p")
  }

  test("t_stats: rank window and groupBy share ONE source exchange") {
    val p = plan(operators.Pipeline.tStats.fn(spark, sf))
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("Scan parquet")) === 1, p)
    // the percentile-rank window partitions by source and the final
    // per-source aggregate reuses that partitioning — a second hash
    // exchange would mean the groupBy re-shuffled already-grouped data
    def arity(kind: String) =
      p.linesIterator.count(l => l.contains("Arguments: " + kind))
    assert(arity("hashpartitioning") === 1 && arity("rangepartitioning") === 1,
      s"expected one source exchange + presentation sort:\n$p")
  }

  test("q_scd2: the whole gaps-and-islands build rides ONE user exchange") {
    val p = plan(Relational.qScd2.fn(spark, sf))
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("Scan parquet")) === 1, p)
    // lag window, running-sum window, island groupBy (a refinement of
    // the user partitioning, so ClusteredDistribution is already
    // satisfied) and the valid_to lead window all share the one
    // hashpartitioning(user_id); the only other exchange is the
    // presentation sort
    def arity(kind: String) =
      p.linesIterator.count(l => l.contains("Arguments: " + kind))
    assert(arity("hashpartitioning") === 1 && arity("rangepartitioning") === 1,
      s"expected one user exchange + presentation sort:\n$p")
  }

  test("t_vocab: top-k is distributed TakeOrdered, not a global sort") {
    val p = plan(operators.Pipeline.tVocab.fn(spark, sf))
    // per-partition partial top-200 (TakeOrderedAndProject) feeds the
    // bounded 200-row rank/cumsum window — the corpus-sized token
    // table is never globally sorted
    assert(p.contains("TakeOrderedAndProject"), s"expected partial top-k:\n$p")
    def arity(kind: String) =
      p.linesIterator.count(l => l.contains("Arguments: " + kind))
    // one token-count exchange; the totals leg is a map-side partial
    // sum into a SinglePartition 1-row aggregate joined broadcast
    assert(arity("hashpartitioning") === 1,
      s"expected only the token groupBy exchange:\n$p")
  }

  test("q_funnel: stage filters push to the scan; only user-sized tables shuffle") {
    val p = plan(Relational.qFunnel.fn(spark, sf))
    for (stage <- Seq("view", "click", "purchase"))
      assert(p.contains(s"EqualTo(event_type,$stage)"),
        s"expected pushed stage filter for $stage:\n$p")
    // every exchange input is an aggregate (per-user or 1-row) — the
    // raw events table itself is never hash-exchanged
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    val exchangeChildren = tree.zipWithIndex.collect {
      case (l, i) if l.contains("- Exchange") => tree(i + 1)
    }
    exchangeChildren.foreach(c =>
      assert(c.contains("HashAggregate"), s"non-aggregate shuffle input:\n$p"))
  }

  test("t_outlier: bounded stats broadcast back — the corpus never shuffles") {
    val p = plan(operators.Pipeline.tOutlier.fn(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast stats join:\n$p")
    def arity(kind: String) =
      p.linesIterator.count(l => l.contains("Arguments: " + kind))
    // one exchange for the per-source stats aggregate (bounded rows,
    // partial-first) + the presentation sort; the doc side streams
    // into the broadcast join unpartitioned
    assert(arity("hashpartitioning") === 1 && arity("rangepartitioning") === 1,
      s"expected only the stats exchange + presentation sort:\n$p")
  }

  test("q_cohort: every shuffle input is an aggregate — events never exchange raw") {
    val p = plan(Relational.qCohort.fn(spark, sf))
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    val exchangeChildren = tree.zipWithIndex.collect {
      case (l, i) if l.contains("- Exchange") => tree(i + 1)
    }
    assert(exchangeChildren.nonEmpty, p)
    exchangeChildren.foreach(c =>
      assert(c.contains("HashAggregate") || c.contains("Sort"),
        s"non-aggregate shuffle input:\n$p"))
  }

  test("t_colloc: bigram zip is map-side; final top-20 is TakeOrdered") {
    val p = plan(operators.Pipeline.tColloc.fn(spark, sf))
    // each token array zips with its own tail inside Generate — no
    // self-join builds the bigrams; the PMI top-20 is a distributed
    // partial top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), s"expected partial top-k:\n$p")
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    val exchangeChildren = tree.zipWithIndex.collect {
      case (l, i) if l.contains("- Exchange") => tree(i + 1)
    }
    exchangeChildren.foreach(c =>
      assert(c.contains("HashAggregate"), s"non-aggregate shuffle input:\n$p"))
  }

  test("t_decile: global ntile from the two-exchange prefix-sum rank") {
    val p = plan(operators.Pipeline.tDecile.fn(spark, sf))
    def arity(kind: String) =
      p.linesIterator.count(l => l.contains("Arguments: " + kind))
    // rank-order range repartition + its identical replay on the
    // slice-totals leg (AQE ReuseExchange collapses the duplicate at
    // runtime) + presentation sort; two hash exchanges (slice-local
    // rank window, totals partial agg); offsets and the count scalar
    // join back broadcast — the corpus never funnels through a
    // single-partition ntile window
    assert(arity("rangepartitioning") === 3 && arity("hashpartitioning") === 2,
      s"expected prefix-sum exchange shape:\n$p")
    assert(p.contains("BroadcastExchange"), s"expected broadcast offsets:\n$p")
    // (the single-partition-window concern for runningTotal itself is
    // pinned by the dedicated prefix-sum test below)
  }

  test("s_ingest_dedup: the band join is broadcast — batch AND streaming micro-batch") {
    // batch leg: survivors x reference on band key must plan as a
    // broadcast hash join at this SF — never a sort-merge that
    // hash-partitions the corpus by band key
    val p = plan(operators.Pipeline.sIngestDedup.fn(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"expected a broadcast band join:\n$p")
    // streaming leg: Spark can never build/broadcast the STREAM side of
    // a stream-static join, so a BroadcastHashJoin in the executed
    // micro-batch plan proves the static reference rode the broadcast
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_ingest").toString
    try {
      Seq((11L, new java.sql.Timestamp(0L), "a b c d e", "web"))
        .toDF("doc_id", "ts", "text", "source").write.parquet(s"$dir/seg1")
      val src = spark.readStream
        .schema("doc_id long, ts timestamp, text string, source string")
        .parquet(dir + "/*")
      val reference = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
      val q = graft.streaming.Streaming
        .nearDupAgainstReference(graft.streaming.Streaming.dedupedDocs(src), reference)
        .writeStream.outputMode("append")
        .format("memory").queryName("plan_ingest")
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.processAllAvailable()
        val sp = org.apache.spark.sql.graft.Bridge.lastStreamingPlan(q)
        assert(sp.contains("BroadcastHashJoin"),
          s"streaming band join must broadcast the static side:\n$sp")
      } finally q.stop()
    } finally deleteRecursively(new java.io.File(dir))
  }

  test("PQ scan: corpus never exchanged, code+score kernels on the map side") {
    val emb = Tables.load(spark, sf, "embeddings")
    val p = plan(Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
      "embedding", "vec_id"))
    assert(p.contains("graft_pq_encode") && p.contains("graft_pq_cosine"), p)
    // same contract as bruteTopK: only the per-query top-k window and
    // the presentation sort exchange data — the corpus streams once
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    val exchanges = tree.count(l =>
      l.contains("- Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 2, s"corpus should not shuffle:\n$p")
    assert(p.contains("WindowGroupLimit"), "expected map-side partial top-k")
  }

  test("t_stratified: map-side per-source top-k (WindowGroupLimit), single scan") {
    val p = plan(operators.Pipeline.tStratified.fn(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      s"rank-limit filter should plan map-side partial top-k:\n$p")
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("Scan parquet")) === 1, s"single scan:\n$p")
    assert(tree.count(_.contains("- Exchange")) === 2,
      s"expected source-window + presentation-sort shuffles only:\n$p")
  }

  test("d_dedup_window: the pair join reuses the gram partitioning when not broadcast") {
    // at test SF the df-capped side is small enough that AQE broadcasts
    // it; at scale the join falls back to sort-merge on the gram key,
    // where both sides are the IDENTICAL capped-grams subplan — the
    // gram exchange must be computed once and REUSED, not scanned and
    // shuffled twice
    withConfs(Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      // AQE performs exchange reuse at RUNTIME — it shows in the final
      // adaptive plan after execution, not in the initial explain
      // (collect, not a noop write: the write command would build its
      // OWN QueryExecution and leave this one unfinalized)
      val df = operators.Pipeline.dDedupWindow.fn(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"),
        s"expected the capped-grams exchange to be reused:\n$p")
    }
  }

  test("q_approx_distinct: no HLL buffer per distinct key") {
    // the sketch and the exact count must plan as separate aggregations
    // (joined at 3 rows); one combined Aggregate would carry a ~21 KB
    // HLL buffer per (flag, orderkey) group through Expand + shuffle
    val p = plan(Relational.qApproxDistinct.fn(spark, sf))
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    assert(!tree.exists(_.contains("Expand")),
      s"distinct rewrite (Expand) means the aggregates were combined:\n$p")
  }

  test("prefix sum: the only unpartitioned window is over slice totals") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i)).toDF("k", "v")
    val p = plan(operators.PrefixSum.runningTotal(df, "k", "v", "cum"))
    // data-path window is keyed by _pid; the global window feeds from
    // the per-slice aggregate (one row per slice), then broadcasts
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("k_compact partial-aggregates map-side — a hot key can't funnel one reducer") {
    val p = plan(operators.KafkaSurface.kCompact.fn(spark, sf))
    // partial max/max_by/count must run below the user_id exchange, so a
    // compacted key with millions of updates ships pre-combined partials,
    // not raw rows, through the shuffle
    assert(p.contains("partial_max_by"),
      s"expected map-side partial max_by:\n$p")
    // the partial/final aggregate pair must straddle an Exchange: in the
    // top-down tree print, final agg ... Exchange ... partial agg (deepest)
    val tree = p.linesIterator.takeWhile(!_.trim.startsWith("(1)")).toSeq
    val aggs = tree.zipWithIndex.filter(_._1.contains("Aggregate")).map(_._2)
    assert(aggs.length >= 2, s"expected a partial+final aggregate pair:\n$p")
    assert(tree.slice(aggs(aggs.length - 2), aggs.last).exists(l =>
        l.contains("- Exchange") && !l.contains("BroadcastExchange")),
      s"partial aggregate must sit below the key shuffle:\n$p")
  }

  test("t_rarity's token join survives a Zipf head — hot tokens never shuffle") {
    import spark.implicits._
    // manufactured Zipf head: every doc is mostly the token 'the', so a
    // naive toks-join-vocab funnels one join key into one reducer. AQE
    // skew-join can NOT split that join (the vocab side has an aggregate
    // between its shuffle stage and the join — OptimizeSkewedJoin only
    // matches direct shuffle children), so rarityJoin must broadcast the
    // vocab head explicitly. Forcing SMJ everywhere shows the contrast.
    val docs = (1L to 1000L)
      .map(i => (i, ("the " * 400) + s"unique$i tail"))
      .toDF("doc_id", "text")
    withConfs(Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB")) {
      assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      val toks = docs.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      val naive = toks.join(vocab, Seq("tok"))
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("sum_tok_freq"))
      naive.collect()
      assert(!naive.queryExecution.executedPlan.toString.contains("skew=true"),
        "if AQE starts splitting this shape, rarityJoin's head split can be retired")
      // rarityJoin: identical rows, but the hot token rides the broadcast
      // branch — its fact rows are never hash-partitioned by tok
      val scored = operators.Pipeline.rarityJoin(docs, headK = 4)
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("sum_tok_freq"))
      val rows = scored.collect()
      assert(rows.length === 1000)
      assert(rows.map(_.getLong(1)).toSet ===
        naive.collect().map(_.getLong(1)).toSet)
      val executed = scored.queryExecution.executedPlan.toString
      assert(executed.contains("BroadcastHashJoin"),
        s"expected the vocab head on a broadcast join:\n$executed")
    }
  }

  test("t_mix: corpus aggregates partial-first, accept-test joins broadcast") {
    val p = plan(operators.Pipeline.tMix.fn(spark, sf))
    // both corpus-wide counts (per-source stats, per-source accepted)
    // must map-side combine...
    assert(p.contains("partial_count"), s"expected partial aggregation:\n$p")
    // ...and the bounded source-weight table must come back as a
    // broadcast for the per-row accept test, so the doc corpus is never
    // hash-partitioned by source for the join (20-ish sources would be
    // a skew disaster; only pre-combined per-source partials ride the
    // aggregation exchanges)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast accept-join:\n$p")
  }

  test("PlanDump normalize: epoch-millis rewrite scoped to state-info lines") {
    val in =
      "Arguments: obj#5, state info [ checkpoint = , runId = " +
        "5f9b1c2d-1234-5678-9abc-def012345678, opId = 0 ] " +
        "stateStoreCkptIds = None, 1755050000123, false\n" +
      "Condition : (ts#7L >= 1704067200000)"
    val out = graft.tools.PlanDump.normalize(in)
    // the stateful operator's per-run batch timestamp is noise...
    assert(out.contains("None, ts, false"), out)
    assert(out.contains("runId = uuid"), out)
    // ...but a genuine 13-digit query constant must keep diffing, or a
    // changed constant would hide behind the normalization
    assert(out.contains("1704067200000"), out)
    // a state-info line carrying SEVERAL run-specific epochs (a nonzero
    // event-time watermark next to batchTimestampMs) normalizes ALL of
    // them: the line-anchored rewrite replaces one match per line per
    // pass, so normalize loops it to fixpoint
    val two = "Arguments: state info [ opId = 0 ], 1755050000123, " +
      "1755050099456, false"
    val out2 = graft.tools.PlanDump.normalize(two)
    assert(out2.contains("ts, ts, false"), out2)
    // checkpointed-RDD scans carry the JVM-global RDD counter — the
    // one identity that broke dump-over-dump fixpoint in r11
    val rdd = "Arguments: [id#3L], MapPartitionsRDD[751] at localCheckpoint"
    assert(graft.tools.PlanDump.normalize(rdd)
      .contains("MapPartitionsRDD[x] at localCheckpoint"))
  }

  test("scalar pipeline stays in whole-stage codegen") {
    val df = Tables.load(spark, sf, "documents")
      .select(functions.MinHash.hashedWordShingles(col("text"), 3).as("sh"))
      .select(functions.MinHash.bandKeys(col("sh"), 16, 4).as("bk"))
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen subtrees"), p)
    assert(!p.contains("Found 0 WholeStageCodegen"), p)
  }

  test("q_bloom_join: bloom probe sits on the fact side; result equals the unpruned join") {
    val df = Relational.qBloomJoin.fn(spark, sf)
    // the probe must sit between the lineitem SCAN and any exchange —
    // prune-before-shuffle is the whole point. In the printed tree the
    // Filter is the scan's direct parent: from the probe line down to
    // the lineitem scan line there must be no Exchange
    val s = df.queryExecution.executedPlan.toString
    val i = s.indexOf("graft_bloom_might_contain")
    assert(i >= 0, s)
    val below = s.substring(i)
    val scanIdx = below.indexOf("lineitem.parquet")
    assert(scanIdx >= 0, "no lineitem scan under the bloom probe")
    assert(!below.substring(0, scanIdx).contains("Exchange"),
      "bloom probe must be scan-side (below every exchange)")
    // byte-identical to the unpruned plan: bloom false positives are
    // culled by the exact join, members are never rejected
    val ord = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1996-01-01")))
      .select(col("o_orderkey"), col("o_orderdate"))
    val plain = Tables.load(spark, sf, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("month"))
    assert(df.collect().toSeq === plain.collect().toSeq)
  }

  test("q_mv_incremental: stored base + delta merge equals the full recompute") {
    val got = Relational.qMvIncremental.fn(spark, sf).collect().toSeq
    val full = Tables.load(spark, sf, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
        max(col("o_orderdate")).as("last_order"))
      .orderBy(col("o_custkey"))
      .collect().toSeq
    assert(got === full,
      "incremental refresh (stored partial + delta) must equal the full recompute")
    // and the base really is a PERSISTED artifact, not a live subplan
    val files = Relational.mvBase(spark, sf).inputFiles
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")) &&
      files.forall(f => new java.io.File(new java.net.URI(f)).isFile),
      s"mv base store is not read from parquet files: ${files.mkString(", ")}")
  }
}
