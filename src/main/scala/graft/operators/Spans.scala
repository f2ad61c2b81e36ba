package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** EXACT DUPLICATED-SPAN extraction — the substring-level dedup of
  * "Deduplicating Training Data Makes Language Models Better" (Lee et
  * al., ACL 2022, the ExactSubstr pipeline): instead of flagging
  * whole near-duplicate DOCUMENTS (the MinHash/SimHash family) or
  * the PAIRS sharing a window ([[Dedup.sharedWindowPairs]]), find the
  * duplicated TEXT itself — for every document, the maximal token
  * spans every position of which lies inside some K-token window that
  * occurs at least twice in the corpus (counting within-document
  * repeats: a doc that repeats its own boilerplate is duplication
  * too). Downstream curation cuts exactly these spans out of the
  * training text; the paper's headline statistic ("x% of C4's tokens
  * sit inside a duplicated substring") is [[dDedupSpansStats]].
  *
  * The paper builds a corpus-wide suffix array; the Spark-native
  * shape replaces it with the fixed-K window equivalence: a substring
  * of length >= K occurs twice iff all its K-windows do, so
  * (1) hash every K-token window WITH ITS POSITION (token-linear
  * rows, map-side, whole-stage codegen — no custom kernel needed),
  * (2) one count over the window-hash key keeps positions whose
  * window recurs anywhere in the corpus (>= 2 TOTAL occurrences, the
  * within-doc-repeat decision above),
  * (3) one doc-local sort merges surviving windows into maximal
  * spans (classic gaps-and-islands: a new island starts where a
  * position overshoots the running max end by > 1).
  * Token-linear shuffles only — the gram-key leg (a map-side-combined
  * count plus an AQE-splittable semi-join) and one into per-doc
  * windows; NO pair join anywhere, so unlike the
  * postings-join dedup ops there is no df cap and no candidate-mass
  * bound to defend: a million-document boilerplate gram costs one
  * count, and the resulting giant spans are exactly the output a
  * curation pass wants. That is what makes this the 100-TB substitute
  * for the suffix array: the suffix array's global sort is replaced
  * by two linear shuffles and the detection guarantee degrades only
  * at the ends (a duplicated run shorter than K is invisible —
  * Lee et al. pick K well above noise length for the same reason).
  *
  * Cross-engine exactness: tokenization is the dedup block's shared
  * contract (trim + lower + whitespace split + whole-doc fallback
  * under K tokens — [[Pipeline.wordWindowSql]]'s semantics, with the
  * fallback window covering [1, n]); the gram key is the first 15 hex
  * digits of md5 decoded to a 60-bit BIGINT by an 8-term-per-digit
  * positional sum generated from ONE loop for both dialects (the
  * [[Winnow]] device — 15 digits, not 16: a 16-digit decode can
  * overflow BIGINT, which DuckDB raises on and the JVM wraps, so the
  * two engines would diverge exactly where it matters least). 60 bits
  * keeps corpus-scale collision mass (~n_windows^2 / 2^61 for the
  * pair-merging direction) negligible where a 32-bit key would not
  * be. All span arithmetic is integer.
  */
object Spans {

  /** Window size in tokens: the exact-substring unit, shared with
    * d_dedup_window so the two views of window duplication (pair
    * list there, span list here) agree on what "duplicated" means. */
  private val K = 8

  /** md5 prefix width: 60 bits — see the overflow note above. */
  private val HexDigits = 15

  // ONE loop generates both dialects of the hex decode (the Winnow
  // device): the engines cannot drift on the gram key.
  private def hexToLongSpark(h: String): String =
    (1 to HexDigits).map(i =>
      s"(locate(substring($h, $i, 1), '0123456789abcdef') - 1) * " +
        s"${1L << (4 * (HexDigits - i))}L")
      .mkString("(", " + ", ")")
  private def hexToLongDuck(h: String): String =
    (1 to HexDigits).map(i =>
      s"(strpos('0123456789abcdef', substring($h, $i, 1)) - 1) * " +
        s"CAST(${1L << (4 * (HexDigits - i))} AS BIGINT)")
      .mkString("(", " + ", ")")

  /** Every positional K-window of every document: (doc_id, p, endp,
    * g) with p the 1-based token position, endp = min(p+K-1, n) — the
    * whole-doc fallback window of a short document covers [1, n] —
    * and g the 60-bit window hash. Map-side, whole-stage codegen. */
  private def positionalWindows(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("t"))
      .withColumn("n", size(col("t")).cast("long"))
    toks.select(col("doc_id"), col("n"),
        posexplode(expr(
          s"""transform(sequence(1, greatest(cast(n as int) - ${K - 1}, 1)),
                i -> substring(md5(concat_ws(' ', slice(t, i, $K))),
                               1, $HexDigits))""")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        least(col("pos") + lit(K.toLong), col("n")).as("endp"),
        expr(hexToLongSpark("col")).as("g"))
  }

  /** Positional K-windows that recur (>= 2 occurrences corpus-wide,
    * within-document repeats included): (doc_id, p, endp) with p the
    * 1-based token position and endp = min(p+K-1, n) — the whole-doc
    * fallback window of a short document covers [1, n]. */
  private[operators] def duplicatedWindows(docs: DataFrame): DataFrame = {
    // Materialized once: `wins` feeds BOTH the recurrence groupBy and
    // the semi-join probe side, and the two consumers share no
    // exchange — a lazy plan evaluates the md5-per-window tokenize
    // pass twice (the dominant map-side cost of every spans key).
    // One job, token-count-sized rows — same order as the shuffle the
    // groupBy already pays. SERIALIZED storage is load-bearing, not a
    // detail: at the 100x replica the default deserialized level
    // measured 42.3 s (row objects thrash the heap) vs 34.8 s with no
    // materialization at all vs 26.3 s serialized — the serialized
    // checkpoint is the only variant that wins at BOTH scales
    // (1x: 2.5 s vs 3.3 s unmaterialized).
    val wins = positionalWindows(docs).localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // recurrence via groupBy + semi-join, NOT count() OVER
    // (PARTITION BY g): with no df cap (deliberately — boilerplate
    // spans are exactly the output) a corpus-hot gram would land its
    // whole posting on one window reducer, and window skew cannot be
    // split. The groupBy collapses each gram to one row per map
    // partition (partial agg), and the semi-join's probe-side skew is
    // AQE-splittable — the hot path stays balanced at any df.
    val dupKeys = wins.groupBy(col("g")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2).select(col("g"))
    wins.join(dupKeys, Seq("g"), "left_semi")
      .select(col("doc_id"), col("p"), col("endp"))
  }

  /** Maximal duplicated spans per document: (doc_id, span_start,
    * span_end, span_tokens, n_windows), token positions 1-based
    * inclusive. Islands merge windows that overlap OR touch
    * (p <= running_max_end + 1): two abutting duplicated windows are
    * one contiguous duplicated run. */
  def spansOf(docs: DataFrame): DataFrame =
    mergeSpans(duplicatedWindows(docs))

  /** Gaps-and-islands merge of (doc_id, p, endp) windows into maximal
    * spans — one doc-local sort; a new island starts where a position
    * overshoots the running max end by > 1. */
  private def mergeSpans(windows: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val isl = windows
      .withColumn("_pm", max(col("endp"))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_isl", sum(
          when(col("_pm").isNull || col("p") > col("_pm") + 1, 1L)
            .otherwise(0L))
        .over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("p")).as("span_start"), max(col("endp")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
  }

  /** Shared oracle CTEs mirroring [[positionalWindows]] (DuckDB
    * dialect; list slicing clips at the end exactly as Spark's
    * `slice`, so the short-doc fallback window matches). */
  private val winSql: String = s"""t AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM documents),
      e0 AS (
        SELECT doc_id, i AS p,
               least(i + ${K - 1}, len(toks)) AS endp,
               substring(md5(array_to_string(
                 toks[CAST(i AS INT):CAST(i AS INT)+${K - 1}], ' ')),
                 1, $HexDigits) AS h
        FROM t, unnest(generate_series(1, greatest(len(toks) - ${K - 1}, 1))) AS u(i)),
      e AS (SELECT doc_id, p, endp, ${hexToLongDuck("h")} AS g FROM e0)"""

  /** Island merge over a `dup(doc_id, p, endp)` CTE ([[mergeSpans]]'
    * mirror), ending in `spans`. */
  private val islandSql: String = s"""prev AS (
        SELECT doc_id, p, endp,
               max(endp) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM dup),
      isl AS (
        SELECT doc_id, p, endp,
               sum(CASE WHEN pm IS NULL OR p > pm + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM prev),
      spans AS (
        SELECT doc_id, min(p) AS span_start, max(endp) AS span_end,
               max(endp) - min(p) + 1 AS span_tokens,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM isl GROUP BY doc_id, isl)"""

  /** [[duplicatedWindows]] + [[mergeSpans]]' full oracle chain. */
  private val spansSql: String = s"""$winSql,
      dup AS (
        SELECT doc_id, p, endp FROM (
          SELECT doc_id, p, endp, count(*) OVER (PARTITION BY g) AS c
          FROM e)
        WHERE c >= 2),
      $islandSql"""

  /** d_dedup_spans — the span list itself: every maximal duplicated
    * token span in every document. The oracle rebuilds windows,
    * recurrence counts, and the island merge from the raw text, so
    * tokenization, hashing, the >= 2 threshold, and the merge rule
    * must ALL reproduce for the hash to match. */
  val dDedupSpans: QueryDef = QueryDef(
    fn = (s, dir) =>
      spansOf(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("span_start")),
    oracle = Some(s"""
      WITH $spansSql
      SELECT doc_id, span_start, span_end, span_tokens, n_windows
      FROM spans
      ORDER BY doc_id, span_start"""))

  /** Per-document duplication profile over [[spansOf]]: token count,
    * span count, duplicated-token count and per-mille duplicated
    * fraction — zero-span documents included (the report a curation
    * pass reads; its corpus sum is the paper's headline statistic). */
  def spanStatsOf(docs: DataFrame): DataFrame = {
    val perDoc = spansOf(docs).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"))
    docs.select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long")
          .as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_pm", expr("1000 * dup_tokens div n_tokens"))
  }

  /** d_dedup_spans_stats — [[spanStatsOf]] on the documents table,
    * integer per-mille so both engines' rounding is identical. */
  val dDedupSpansStats: QueryDef = QueryDef(
    fn = (s, dir) =>
      spanStatsOf(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH $spansSql,
      per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(len(regexp_split_to_array(lower(trim(d.text)), '\\s+'))
                  AS BIGINT) AS n_tokens,
             coalesce(p.n_spans, 0) AS n_spans,
             coalesce(p.dup_tokens, 0) AS dup_tokens,
             CAST(1000 * coalesce(p.dup_tokens, 0)
               // len(regexp_split_to_array(lower(trim(d.text)), '\\s+'))
               AS BIGINT) AS dup_pm
      FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  /** The corpus with every duplicated span EXCISED — the ExactSubstr
    * pipeline's actual product (Lee et al. cut the duplicated
    * substring and train on what remains, rather than dropping whole
    * documents): per document, the tokens outside every [[spansOf]]
    * interval, re-joined in order. Returns (doc_id, n_tokens,
    * kept_tokens, clean_text); a fully-duplicated document survives
    * as an empty string, which downstream length filters then drop —
    * the decision stays visible instead of the row silently
    * vanishing. Cost shape: one token-level explode (token-linear),
    * one doc-keyed join of positions against that doc's spans (spans
    * per doc are few — interval-merged — so the range predicate runs
    * inside a doc-local hash match, no sweep needed), one doc-keyed
    * ordered re-aggregation. */
  def cleanOf(docs: DataFrame): DataFrame =
    exciseSpans(docs, spansOf(docs))

  /** Cut every given span out of its document and re-join the
    * surviving tokens in order: (doc_id, n_tokens, kept_tokens,
    * clean_text), every input document present (an empty string when
    * nothing survives). */
  private def exciseSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val sp = spans
      .select(col("doc_id"), col("span_start"), col("span_end"))
    val pos = docs.select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        posexplode(col("t")))
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).cast("long").as("p"), col("col").as("w"))
    val kept = pos.join(sp,
      pos("doc_id") === sp("doc_id") &&
        col("p").between(col("span_start"), col("span_end")),
      "left_anti")
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("kept_tokens"),
        array_join(transform(array_sort(
            collect_list(struct(col("p"), col("w")))),
          x => x.getField("w")), " ").as("clean_text"))
    docs.select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long")
          .as("n_all"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_all").as("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** d_dedup_spans_clean — [[cleanOf]] on the documents table: the
    * oracle re-derives spans from raw text and re-assembles the
    * surviving tokens with an ordered string_agg, so excision
    * boundaries and token order must both reproduce exactly. */
  /** Excision CTEs over a `spans` CTE ([[exciseSpans]]' mirror):
    * surviving tokens re-assembled with an ordered string_agg, ending
    * in `cleaned`; the final SELECT left-joins documents so zero-kept
    * and zero-span docs both emit. */
  private val excisionSql: String = s"""ptok AS (
        SELECT doc_id, i AS p, toks[CAST(i AS INT)] AS w,
               CAST(len(toks) AS BIGINT) AS n_tokens
        FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
      keptk AS (
        SELECT pt.doc_id, pt.p, pt.w, pt.n_tokens
        FROM ptok pt
        WHERE NOT EXISTS (
          SELECT 1 FROM spans s
          WHERE s.doc_id = pt.doc_id
            AND pt.p BETWEEN s.span_start AND s.span_end)),
      cleaned AS (
        SELECT doc_id, max(n_tokens) AS n_tokens,
               CAST(count(*) AS BIGINT) AS kept_tokens,
               string_agg(w, ' ' ORDER BY p) AS clean_text
        FROM keptk GROUP BY doc_id)"""

  private val excisionSelectSql: String = s"""
      SELECT d.doc_id,
             CAST(len(regexp_split_to_array(lower(trim(d.text)), '\\s+'))
                  AS BIGINT) AS n_tokens,
             coalesce(c.kept_tokens, 0) AS kept_tokens,
             coalesce(c.clean_text, '') AS clean_text
      FROM documents d LEFT JOIN cleaned c ON c.doc_id = d.doc_id
      ORDER BY d.doc_id"""

  val dDedupSpansClean: QueryDef = QueryDef(
    fn = (s, dir) =>
      cleanOf(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH $spansSql,
      $excisionSql
      $excisionSelectSql"""))

  /** Maximal spans of a document covered by BENCHMARK K-windows —
    * [[positionalWindows]] semi-joined against the distinct window
    * hashes of the benchmark set (the t_contamination convention:
    * doc_id < 20 is the benchmark; a document never contaminates
    * itself), then the same island merge. */
  def contaminationSpansOf(docs: DataFrame, benchMaxId: Long): DataFrame = {
    val wins = positionalWindows(docs)
    val bench = positionalWindows(docs.filter(col("doc_id") < benchMaxId))
      .select(col("doc_id").as("bench_id"), col("g")).distinct()
    val hit = wins.as("l").join(bench.as("r"),
        col("l.g") === col("r.g") && col("l.doc_id") =!= col("r.bench_id"),
        "left_semi")
      .select(col("doc_id"), col("p"), col("endp"))
    mergeSpans(hit)
  }

  /** t_decontaminate — span-level DECONTAMINATION, the removal step
    * behind t_contamination's detection (production decontamination
    * excises the overlapping text and keeps the document — dropping
    * whole documents over one quoted benchmark item wastes the rest):
    * every token span covered by a benchmark K-window is cut,
    * surviving tokens re-join in order. Same output shape as
    * d_dedup_spans_clean; benchmark documents themselves keep their
    * own text (self-matches excluded) but lose spans shared with
    * OTHER benchmark docs — exactly t_contamination's pair rule. The
    * benchmark window set is DISTINCT per doc and bounded, so at
    * scale it rides the same broadcast/bloom ladder as the detection
    * ops; the span/excision legs are the d_dedup_spans machinery
    * (token-linear, no pair join). */
  val tDecontaminate: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      exciseSpans(docs, contaminationSpansOf(docs, 20L))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH $winSql,
      bench AS (
        SELECT DISTINCT doc_id AS bench_id, g FROM e WHERE doc_id < 20),
      dup AS (
        SELECT DISTINCT e.doc_id, e.p, e.endp
        FROM e JOIN bench ON e.g = bench.g AND e.doc_id <> bench.bench_id),
      $islandSql,
      $excisionSql
      $excisionSelectSql"""))

  /** s_dedup_spans — STREAMING span-level dedup, the online leg of
    * [[dDedupSpans]] exactly as s_semdedup is d_semdedup's: documents
    * arrive in delivery-ordered micro-batches, each arrival's
    * duplicated spans are detected against the ACCUMULATED gram set
    * (base corpus + every earlier batch — a semi-join of the
    * arrival's positional windows against the membership chain, then
    * the same island merge), the span ledger appends as a
    * batchId-keyed link, and the batch's own distinct gram hashes
    * join the membership chain so batch n+1 sees them. Decisions read
    * [[StreamQueries.readChainBelow]] (links strictly below the
    * batch), so redelivery replays its original ledger link.
    *
    * First-seen-wins at span granularity: a document carrying text
    * that ANY earlier document already contributed gets exactly that
    * text flagged; within-batch recurrence is deliberately out of
    * scope here (that is [[dDedupSpans]]' job over the batch).
    *
    * Because arrival order is a PURE FUNCTION of doc_id (base =
    * doc_id ≢ 4 mod 5; batch of a delta doc = (doc_id div 5) mod 4 —
    * the replica-stable split device), the ENTIRE streamed ledger is
    * SQL-replayable: the oracle recomputes every batch's spans with
    * an EXISTS over earlier-batch grams and must hash-match the
    * streamed output row for row — a full hash oracle for a
    * streaming operator, not a boolean contract. Per-batch cost:
    * |batch| windows hashed map-side, one semi-join against the gram
    * chain (gram-keyed, AQE-splittable), one |batch|-sized ledger +
    * gram write — never corpus-sized. */
  /** Seed the s_dedup_spans chain: the base corpus' distinct gram
    * hashes as gram/v0 plus an empty ledger anchor (fixes the schema
    * for the final chain read). */
  private[graft] def spanDedupSeed(base: String, baseDocs: DataFrame): Unit = {
    positionalWindows(baseDocs).select(col("g")).distinct()
      .write.mode("overwrite").parquet(s"$base/gram/v0")
    mergeSpans(positionalWindows(baseDocs).filter(lit(false))
        .select(col("doc_id"), col("p"), col("endp")))
      .write.mode("overwrite").parquet(s"$base/ledger/v0")
    ()
  }

  /** One s_dedup_spans micro-batch: the arrival's duplicated spans
    * against the gram chain STRICTLY BELOW b (base v0 + earlier
    * batches — redelivery of batch b recomputes against the same
    * view, so its ledger link replays identically), written as
    * ledger/x<b>, the batch's distinct grams as gram/g<b>. */
  private[graft] def spanDedupBatch(s: org.apache.spark.sql.SparkSession,
      base: String, batch: DataFrame, b: Long): Unit = {
    val seen = StreamQueries.readChainBelow(s, s"$base/gram", "g", b)
    val wins = positionalWindows(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    mergeSpans(wins.join(seen, Seq("g"), "left_semi")
        .select(col("doc_id"), col("p"), col("endp")))
      .write.mode("overwrite").parquet(s"$base/ledger/x$b")
    wins.select(col("g")).distinct()
      .write.mode("overwrite").parquet(s"$base/gram/g$b")
    wins.unpersist()
    ()
  }

  val sDedupSpans: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "sspan")
      val docs = Tables.load(s, dir, "documents")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val baseDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
      val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      spanDedupSeed(base, baseDocs)
      val nb = 4
      (0 until nb).foreach { i =>
        delta.filter(pmod(expr("doc_id div 5"), lit(nb)) === i)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in/f$i")
      }
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = s.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, b: Long) =>
          spanDedupBatch(s, base, batch, b)
          batches.incrementAndGet()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(batches.get() >= 2L,
        s"graft: s_dedup_spans stream produced ${batches.get()} batches " +
          "— the multi-batch property the key exists to exercise is gone")
      val out = StreamQueries
        .readChainBelow(s, s"$base/ledger", "x", Long.MaxValue)
        .orderBy(col("doc_id"), col("span_start"))
        .localCheckpoint(eager = true)
      docs.unpersist()
      out
    },
    oracle = Some(s"""
      WITH $winSql,
      bn AS (
        SELECT doc_id, p, endp, g,
               CASE WHEN doc_id % 5 = 4
                    THEN CAST((doc_id // 5) % 4 AS BIGINT)
                    ELSE CAST(-1 AS BIGINT) END AS bno
        FROM e),
      seen AS (SELECT g, min(bno) AS first_bno FROM bn GROUP BY g),
      dup AS (
        SELECT DISTINCT a.doc_id, a.p, a.endp
        FROM bn a JOIN seen s ON s.g = a.g AND s.first_bno < a.bno
        WHERE a.bno >= 0),
      $islandSql
      SELECT doc_id, span_start, span_end, span_tokens, n_windows
      FROM spans
      ORDER BY doc_id, span_start"""))

  val defs: Map[String, QueryDef] = Map(
    "d_dedup_spans" -> dDedupSpans,
    "d_dedup_spans_stats" -> dDedupSpansStats,
    "d_dedup_spans_clean" -> dDedupSpansClean,
    "t_decontaminate" -> tDecontaminate,
    "s_dedup_spans" -> sDedupSpans)
}
