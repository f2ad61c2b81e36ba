package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions => TF}
import graft.plans.{BloomMightContain, CosineSim, HashedCharNgrams, HashedWordShingles, JaccardLong, RollingFingerprint}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Training-data pipeline queries (SURVEY.md §2 block D): dedup,
  * similarity search, text analysis, multimodal plumbing — the
  * beyond-the-reference surface for 100 TB curation jobs.
  *
  * Text-analysis oracles are generated from the same marker tables the
  * Spark expressions use, so both sides are definitionally in sync.
  */
object Pipeline {

  // ---- oracle SQL generators (DuckDB dialect) ----

  /** padded-replace occurrence count of `m` in lower(text). */
  private def occSql(m: String): String =
    s"CAST((length(' ' || lower(text) || ' ') - " +
      s"length(replace(' ' || lower(text) || ' ', '$m', ''))) / ${m.length} AS BIGINT)"

  private def scoreSql(lang: String): String =
    TF.langMarkers.toMap.apply(lang).map(occSql).mkString("(", " + ", ")")

  private val langCaseSql: String = {
    val s = TF.langMarkers.map(_._1).map(l => l -> scoreSql(l)).toMap
    s"""CASE
       WHEN ${s("en")} >= ${s("de")} AND ${s("en")} >= ${s("fr")} AND ${s("en")} >= ${s("es")} AND ${s("en")} > 0 THEN 'en'
       WHEN ${s("de")} >= ${s("fr")} AND ${s("de")} >= ${s("es")} AND ${s("de")} > 0 THEN 'de'
       WHEN ${s("fr")} >= ${s("es")} AND ${s("fr")} > 0 THEN 'fr'
       WHEN ${s("es")} > 0 THEN 'es'
       ELSE 'und' END"""
  }

  private val stopCountSql: String =
    TF.enStopwords.map(occSql).mkString("(", " + ", ")")

  /** The TF.qualityScore formula in DuckDB SQL (floor-4dp rendered) —
    * shared by the t_quality oracle and the composed t_curate one. */
  private val qualitySql: String =
    s"""floor((0.4 * least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) / 64.0, 1.0)
                 + 0.3 * least((CAST($stopCountSql AS DOUBLE)
                                / len(regexp_split_to_array(trim(text), '\\s+'))) * 4, 1.0)
                 + 0.3 * (floor(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                               / length(text) * 10000) / 10000)) * 10000) / 10000"""

  // ---- text analysis ----

  val tLangid: QueryDef = QueryDef(
    fn = (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TF.langScore(col("text"), "en").as("s_en"),
          TF.langScore(col("text"), "de").as("s_de"),
          TF.langScore(col("text"), "fr").as("s_fr"),
          TF.langScore(col("text"), "es").as("s_es"),
          TF.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      SELECT doc_id,
             ${scoreSql("en")} AS s_en,
             ${scoreSql("de")} AS s_de,
             ${scoreSql("fr")} AS s_fr,
             ${scoreSql("es")} AS s_es,
             $langCaseSql AS lang_pred
      FROM documents
      ORDER BY doc_id"""))

  val tQuality: QueryDef = QueryDef(
    fn = (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_calc"),
          TF.tokenCountWs(col("text")).as("n_tokens"),
          TF.avgTokenLen(col("text")).as("avg_tok_len"),
          TF.stopwordCount(col("text")).as("n_stopwords"),
          TF.alphaRatio(col("text")).as("alpha_ratio"),
          TF.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             floor(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\\s+')) * 10000) / 10000 AS avg_tok_len,
             $stopCountSql AS n_stopwords,
             floor(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                   / length(text) * 10000) / 10000 AS alpha_ratio,
             $qualitySql AS quality
      FROM documents
      ORDER BY doc_id"""))

  val tTokens: QueryDef = QueryDef(
    fn = (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TF.tokenCountWs(col("text")).as("n_ws"),
          TF.tokenCountBpe(col("text")).as("n_bpe"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(text, '${TF.bpePattern}')) AS BIGINT) AS n_bpe
      FROM documents
      ORDER BY doc_id"""))

  /** PII-style scrub: mask email-shaped tokens and digit runs — the
    * redaction pass a training-data pipeline runs before tokenizing.
    * Pure regexp_replace (codegen'd), identical regex both engines. */
  val tRedact: QueryDef = QueryDef(
    fn = (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "[0-9]+", "#").as("redacted"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
            .as("n_digits"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]+', '#', 'g') AS redacted,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
               AS n_digits
      FROM documents
      ORDER BY doc_id"""))

  /** The composed curation pipeline — the flagship "user story" query:
    * one pass over the corpus scoring quality, routing by language ID,
    * flagging exact duplicates (keep-first), assigning the
    * deterministic md5 split, and deciding `kept` (not-a-dup AND
    * quality >= 0.5 AND confidently-identified language). Every stage
    * is SQL-exact, so the WHOLE composition is hash-checked — the
    * point is that the D-block operators compose into a curation job
    * without leaving one declarative plan: a single scan, one window
    * on the content hash (the dedup shuffle), everything else
    * map-side. At 100 TB this is the shape you run nightly. */
  val tCurate: QueryDef = QueryDef(
    fn = (s, dir) => {
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val bucket = substring(
        md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 2)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TF.langId(col("text")).as("lang_pred"),
          TF.qualityScore(col("text")).as("quality"),
          (row_number().over(w) > 1).as("is_dup"),
          bucket.as("_b"))
        .withColumn("split",
          when(col("_b") < "d0", "train")
            .when(col("_b") < "e8", "val")
            .otherwise("test"))
        .withColumn("kept",
          !col("is_dup") && col("quality") >= 0.5 && col("lang_pred") =!= "und")
        .drop("_b")
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH scored AS (
        SELECT doc_id,
               $langCaseSql AS lang_pred,
               $qualitySql AS quality,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup,
               substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS b
        FROM documents)
      SELECT doc_id, lang_pred, quality, is_dup,
             CASE WHEN b < 'd0' THEN 'train'
                  WHEN b < 'e8' THEN 'val'
                  ELSE 'test' END AS split,
             (NOT is_dup) AND quality >= 0.5 AND lang_pred <> 'und' AS kept
      FROM scored
      ORDER BY doc_id"""))

  /** Deterministic train/val/test assignment + an independent 10%
    * sample flag, keyed on md5 of the salted id — the reproducible,
    * engine-independent way to split a 100 TB corpus (no RNG state, no
    * shuffle; any worker can recompute any row's split). Buckets are
    * 2-hex-char md5 prefixes: lexicographic order equals numeric order
    * over [0-9a-f], so range predicates define the splits identically
    * in every engine. */
  val tSample: QueryDef = QueryDef(
    fn = (s, dir) => {
      val bucket = substring(
        md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 2)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < "d0", "train")
            .when(col("bucket") < "e8", "val")
            .otherwise("test"))
        .withColumn("in_10pct", col("bucket") < "1a")
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH b AS (
        SELECT doc_id,
               substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        FROM documents)
      SELECT doc_id, bucket,
             CASE WHEN bucket < 'd0' THEN 'train'
                  WHEN bucket < 'e8' THEN 'val'
                  ELSE 'test' END AS split,
             bucket < '1a' AS in_10pct
      FROM b
      ORDER BY doc_id"""))

  /** Deterministic per-source stratified sample — the balanced-eval-set
    * builder (k docs from EVERY source regardless of source skew):
    * rank each source's docs by a salted md5 of the id — a
    * reproducible shuffle any engine replays identically — and keep
    * the first 25 per source. Plan shape at 100 TB: the rank-limit
    * filter turns the window into a WindowGroupLimit pair, so each map
    * partition forwards at most k rows per source through the shuffle,
    * never the corpus (pinned in PlanSpec). */
  val tStratified: QueryDef = QueryDef(
    fn = (s, dir) => {
      val h = md5(concat(lit("strat:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("source")).orderBy(h, col("doc_id"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), h.as("pick_hash"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 25)
        .orderBy(col("source"), col("rk"))
    },
    oracle = Some("""
      WITH ranked AS (
        SELECT doc_id, source,
               md5('strat:' || CAST(doc_id AS VARCHAR)) AS pick_hash,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT doc_id, source, pick_hash, rk FROM ranked WHERE rk <= 25
      ORDER BY source, rk"""))

  /** Context-window chunking: split every document into overlapping
    * 64-token windows on a 48-token stride (16-token overlap) — the
    * long-document preprocessing step before embedding or training
    * (a doc longer than the model context becomes ceil((n-64)/48)+1
    * chunks, each carrying its index and true token count). Pure
    * map-side explode over one scan — array slice per chunk, no
    * shuffle, fanout ~n_tokens/stride per doc, linear at any corpus
    * size; the only exchange is the presentation sort. */
  val tChunk: QueryDef = QueryDef(
    fn = (s, dir) => {
      val win = 64; val stride = 48
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
        .withColumn("n", size(col("t")).cast("long"))
        .withColumn("chunk_idx", explode(sequence(lit(0L),
          ceil(greatest(col("n") - win, lit(0L)) / stride))))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(win.toLong), col("n") - col("chunk_idx") * stride)
            .as("n_chunk_toks"),
          array_join(slice(col("t"),
            (col("chunk_idx") * stride + 1).cast("int"), lit(win)), " ")
            .as("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        FROM documents),
      idx AS (
        SELECT doc_id, t, n,
               unnest(generate_series(0, CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT))) AS i
        FROM toks)
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             least(CAST(64 AS BIGINT), n - i*48) AS n_chunk_toks,
             array_to_string(t[(i*48+1):(i*48+64)], ' ') AS chunk
      FROM idx ORDER BY doc_id, chunk_idx"""))

  /** Deterministic corpus shuffle + sharding — the training-data
    * EXPORT step: every document gets a shard (first hex char of a
    * salted md5 → 16 shards here; production sizes nShards to the
    * target file size) and a reproducible position within its shard
    * (rank of the same hash), so any engine — or any re-run — lays
    * out byte-identical training shards with no RNG state. The hash
    * decorrelates shard and order from doc_id/source/time, which is
    * the point: training wants well-mixed shards, not insertion order.
    * Plan shape at 100 TB: assignment is map-side; ONE hash exchange
    * on shard feeds the per-shard rank window — exactly the shuffle
    * the shard writer needs anyway (sortWithinPartitions on the
    * shard key before write). */
  val tShard: QueryDef = QueryDef(
    fn = (s, dir) => {
      val h = md5(concat(lit("shard:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("shard_key"), col("doc_id"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), h.as("shard_key"))
        .withColumn("shard",
          (expr("locate(substring(shard_key, 1, 1), '0123456789abcdef')") - 1)
            .cast("long"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .orderBy(col("shard"), col("pos"))
    },
    oracle = Some("""
      WITH b AS (
        SELECT doc_id, md5('shard:' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
      SELECT doc_id, h AS shard_key,
             CAST(strpos('0123456789abcdef', substring(h, 1, 1)) - 1 AS BIGINT) AS shard,
             CAST(row_number() OVER (PARTITION BY substring(h, 1, 1)
               ORDER BY h, doc_id) AS BIGINT) AS pos
      FROM b ORDER BY shard, pos"""))

  /** Statistical-LM quality scoring: train an add-one-smoothed bigram
    * language model ON the corpus itself and score every document by
    * its mean negative log-likelihood per bigram — the CCNet/KenLM
    * perplexity-filter shape (high avg_nll = text unlike the corpus:
    * gibberish, boilerplate soup, wrong-language fragments). Model and
    * scores come out of one declarative plan: token/bigram counts are
    * partial-first aggregations, the vocab size rides a 1-row
    * broadcast, and scoring joins per-doc DISTINCT bigrams (not
    * positions) against the count tables. At 100 TB the count joins
    * shuffle by token — the same Zipf-head caveat as t_rarity, and the
    * same head-broadcast remedy applies.
    *
    * Hash-exactness: each bigram's NLL is quantized to 1e-4 nats
    * (floor) BEFORE the per-doc weighted sum, so the aggregate is an
    * integer sum — immune to float summation order in either engine.
    * The one ln() per distinct bigram is evaluated on an identical,
    * correctly-rounded quotient of integers; engines' ln may differ in
    * the last ulp, which flips a floor cell only when the true value
    * sits within ~1e-12 of a 1e-4 boundary — negligible at any
    * realistic vocabulary. Perplexity = exp(avg_nll), monotone, so
    * filters threshold avg_nll directly and no transcendental ever
    * crosses the hash compare. */
  val tPerplexity: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("t"))
      val pos = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val voc = uni.agg(count(lit(1)).as("v"))
      val big = pos.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val perdoc = pos.groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("k"))
      val terms = perdoc.join(big, Seq("w1", "w2"))
        .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
        .crossJoin(broadcast(voc))
        .select(col("doc_id"), col("k"),
          floor(-log((col("c2") + lit(1.0)) / (col("c1") + col("v"))) * 10000)
            .as("nll4"))
      val agg = terms.groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_bigrams"),
          (floor(sum(col("k") * col("nll4")).cast("double") / sum(col("k")))
            / 10000).as("avg_nll"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("avg_nll"), lit(0.0)).as("avg_nll"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      uni AS (
        SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      voc AS (SELECT count(*) AS v FROM uni),
      pos AS (
        SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)),
      big AS (SELECT w1, w2, count(*) AS c2 FROM pos GROUP BY w1, w2),
      perdoc AS (SELECT doc_id, w1, w2, count(*) AS k FROM pos GROUP BY doc_id, w1, w2),
      terms AS (
        SELECT doc_id, k,
               CAST(floor(-ln((c2 + 1.0)/(c1 + v)) * 10000) AS BIGINT) AS nll4
        FROM perdoc JOIN big USING (w1, w2) JOIN uni ON perdoc.w1 = uni.w CROSS JOIN voc),
      agg AS (
        SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
               floor(CAST(sum(k*nll4) AS DOUBLE) / sum(k)) / 10000 AS avg_nll
        FROM terms GROUP BY doc_id)
      SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
             coalesce(avg_nll, 0.0) AS avg_nll
      FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""))

  /** t_entropy — lexical-diversity quality signals: per-document
    * token ENTROPY (Shannon, over the doc's own unigram distribution)
    * plus type-token ratio. Low entropy = repetitive/TEMPLATE text
    * (the complement of t_repetition's n-gram view: entropy sees the
    * whole distribution, not just the top phrase), degenerate-high
    * TTR = no reuse at all (gibberish/id dumps) — both standard
    * curation features next to perplexity and the Gopher rules.
    *
    * Hash-exactness is the t_perplexity discipline verbatim: each
    * distinct term's -ln(c/n) is quantized to 1e-4 nats (floor)
    * BEFORE the count-weighted sum, so the per-doc aggregate is an
    * integer sum immune to float ordering; TTR is integer per-mille.
    * Scale: one (doc, term) count aggregate (map-side combined), a
    * doc-partitioned window for n (doc-bounded partitions), one
    * per-doc aggregate — no joins, no corpus-wide relation. */
  val tEntropy: QueryDef = QueryDef(
    fn = (s, dir) =>
      entropyOf(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents),
      tc AS (
        SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
      wn AS (
        SELECT doc_id, c,
               sum(c) OVER (PARTITION BY doc_id) AS n
        FROM tc),
      q AS (
        SELECT doc_id, c, n,
               CAST(floor(-ln(CAST(c AS DOUBLE) / n) * 10000) AS BIGINT) AS q4
        FROM wn)
      SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
             count(*) AS n_types,
             1000 * count(*) // CAST(max(n) AS BIGINT) AS ttr_pm,
             floor(CAST(sum(c * q4) AS DOUBLE) / max(n)) / 10000 AS entropy
      FROM q GROUP BY doc_id ORDER BY doc_id"""))

  /** [[tEntropy]] over any (doc_id, text) relation — the library
    * entry point (and the spec seam for hand-checkable cases). */
  private[graft] def entropyOf(documents: DataFrame): DataFrame = {
    val tc = documents
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val wD = Window.partitionBy(col("doc_id"))
    tc.withColumn("n", sum(col("c")).over(wD))
      .withColumn("q4",
        floor(-log(col("c").cast("double") / col("n")) * 10000))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        (floor(sum(col("c") * col("q4")).cast("double") / max(col("n")))
          / 10000).as("entropy"))
      .withColumn("ttr_pm", expr("1000 * n_types div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("ttr_pm"), col("entropy"))
  }

  /** t_novelty — per-document n-gram NOVELTY against the corpus in
    * doc_id order: the fraction of a document's distinct 5-gram
    * shingles whose FIRST occurrence (min doc_id) is this document.
    * Low novelty = the document restates what the corpus already
    * contains (near-dup tail, boilerplate soup); the signal the
    * "novel text" curation heuristics and dedup-priority orders rank
    * by. Differs from d_dedup_window (which finds the matching PAIRS)
    * by scoring every document with one number.
    *
    * Scale: grams hash to md5 keys; first-occurrence is ONE min
    * aggregate by gram (map-side combined — a hot boilerplate gram
    * partial-aggregates before the exchange), the score join ships
    * per-doc DISTINCT grams against that table keyed by gram — the
    * same Zipf-head caveat and remedy as t_rarity. Everything else is
    * integer (counts, per-mille ratio). Documents shorter than 5
    * tokens carry no grams and no row, in both engines. */
  val tNovelty: QueryDef = QueryDef(
    fn = (s, dir) =>
      noveltyOf(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents),
      grams AS (
        SELECT DISTINCT doc_id,
               md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                   t[i+3] || ' ' || t[i+4]) AS h
        FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5),
      first AS (
        SELECT h, min(doc_id) AS first_doc FROM grams GROUP BY h)
      SELECT doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             1000 * CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
               AS BIGINT) // count(*) AS novelty_pm
      FROM grams JOIN first USING (h)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** [[tNovelty]] over any (doc_id, text) relation — the library
    * entry point (and the spec seam for the first-doc-wins law). */
  private[graft] def noveltyOf(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 5)
    val grams = toks.select(col("doc_id"),
      explode(expr(
        """transform(sequence(1, size(t) - 4),
             i -> md5(concat_ws(' ', element_at(t, i), element_at(t, i+1),
                      element_at(t, i+2), element_at(t, i+3),
                      element_at(t, i+4))))""")).as("h"))
      .distinct()
    val first = grams.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_pm", expr("1000 * n_novel div n_grams"))
  }

  /** t_diversity — per-source lexical CONCENTRATION by Simpson's
    * index: D = Σc(c−1)/(N(N−1)), the probability two tokens drawn
    * without replacement from a source are the same type — the
    * data-card diversity number next to t_stats' volumes (high D =
    * template/boilerplate-dominated source; the inverse 1/D is the
    * "effective vocabulary" size). EXACT integers end to end — counts,
    * the Σc(c−1) sum, and the final ratio in parts-per-million by
    * integer division; nothing to quantize, so this is the rare
    * diversity metric two engines can hash-compare (Shannon entropy
    * needs logs — that's t_entropy's quantized job). N > 3·10⁹ per
    * source would overflow N·(N−1); the plan raises loudly there
    * (switch to the 128-bit sum remedy documented in-code). Scale:
    * one (source, token) count aggregate, one per-source aggregate —
    * both partial-first, no joins wider than the source list. */
  val tDiversity: QueryDef = QueryDef(
    fn = (s, dir) => {
      val tc = Tables.load(s, dir, "documents")
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      tc.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("c") * (col("c") - 1)).as("rep"))
        .select(col("source"),
          when(col("n_tokens") > lit(3000000000L),
            raise_error(concat(
              lit("graft: t_diversity N(N-1) would overflow BIGINT for " +
                "source "), col("source"),
              lit(" - use the 128-bit pairwise sum"))).cast("long"))
            .otherwise(col("n_tokens")).as("n_tokens"),
          col("n_types"), col("rep"))
        .withColumn("simpson_ppm",
          expr("1000000 * rep div (n_tokens * (n_tokens - 1))"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("simpson_ppm"))
        .orderBy(col("source"))
    },
    oracle = Some("""
      WITH tc AS (
        SELECT source, w, count(*) AS c FROM (
          SELECT source,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents)
        GROUP BY source, w),
      agg AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               CAST(sum(c * (c - 1)) AS BIGINT) AS rep
        FROM tc GROUP BY source)
      SELECT source, n_tokens, n_types,
             1000000 * rep // (n_tokens * (n_tokens - 1)) AS simpson_ppm
      FROM agg ORDER BY source"""))

  /** Per-source corpus report ("data card"): doc and token volumes
    * plus EXACT token-count percentiles per source — the dataset
    * statistics a curation run publishes next to its output.
    * Percentiles are discrete (value at rank ceil(p*n), ordered by
    * (n_toks, doc_id)) — rank selection is integer-exact in any
    * engine, where interpolated quantiles would hash-compare two
    * engines' float midpoints. One hash exchange: the rank window
    * partitions by source and the groupBy reuses that partitioning
    * (all-integer aggregates, no second shuffle). */
  val tStats: QueryDef = QueryDef(
    fn = (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TF.tokenCountWs(col("text")).as("n_toks"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_toks"), col("doc_id"))
      val cw = Window.partitionBy(col("source"))
      toks
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(cw))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("sum_tokens"),
          max(when(col("rn") === ceil(col("n") * 0.5), col("n_toks")))
            .as("tok_p50"),
          max(when(col("rn") === ceil(col("n") * 0.95), col("n_toks")))
            .as("tok_p95"))
        .orderBy(col("source"))
    },
    oracle = Some("""
      WITH d AS (
        SELECT source, doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks
        FROM documents),
      r AS (
        SELECT source, n_toks,
               row_number() OVER (PARTITION BY source ORDER BY n_toks, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM d)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
             CAST(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_toks END) AS BIGINT) AS tok_p50,
             CAST(max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN n_toks END) AS BIGINT) AS tok_p95
      FROM r GROUP BY source ORDER BY source"""))

  /** Tokenizer-vocabulary build: the top-200 corpus tokens by
    * frequency with cumulative occurrence counts — the seed-vocab /
    * coverage-curve step before training a BPE tokenizer ("how many
    * types cover 90% of tokens?"). The heavy work is one explode +
    * groupBy(token) shuffle; the top-200 selection is Spark's
    * distributed TakeOrdered (per-partition partial top-k, no global
    * sort), so the single-partition rank/cumsum window only ever sees
    * the 200 selected rows — bounded by construction, same shape as
    * the PrefixSum offsets window. Totals come from a map-side
    * sum(token_count) scan, not a second explode. All-integer output
    * (cum_occ/tot_tokens, not a float coverage ratio) so the hash
    * compare is ulp-proof. Ties break on (count desc, token) — a
    * total order, so the 200-boundary is deterministic on any engine.
    */
  val tVocab: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val counts = docs
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
      val top = counts.orderBy(col("n_occ").desc, col("token")).limit(200)
      val tot = docs.agg(sum(TF.tokenCountWs(col("text"))).as("tot_tokens"))
      val w = Window.orderBy(col("n_occ").desc, col("token"))
      top
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("cum_occ", sum(col("n_occ")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(tot)
        .select(col("rnk"), col("token"), col("n_occ"), col("cum_occ"),
          col("tot_tokens"))
        .orderBy(col("rnk"))
    },
    oracle = Some("""
      WITH tok AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        FROM documents),
      cnt AS (
        SELECT token, CAST(count(*) AS BIGINT) AS n_occ
        FROM tok GROUP BY token),
      top AS (
        SELECT token, n_occ FROM cnt ORDER BY n_occ DESC, token LIMIT 200),
      tot AS (
        SELECT CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
               AS tot_tokens
        FROM documents)
      SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS BIGINT) AS rnk,
             token, n_occ,
             CAST(sum(n_occ) OVER (ORDER BY n_occ DESC, token
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_occ,
             tot_tokens
      FROM top, tot ORDER BY rnk"""))

  /** Per-source vocabulary coverage vs the corpus top-200 vocab — the
    * "does this vocab fit every domain" audit (OOV-rate per source)
    * run before a vocab is committed to a training run: a source
    * whose oov_rate is an outlier is under-served by the tokenizer
    * (t_vocab picks the vocab; this key grades it per domain).
    *
    * Scale shape: the vocab is bounded (top-V) and BROADCASTS back;
    * the corpus side is one explode + two map-side-combinable
    * aggregates (global top-V, then per-source counts) — the corpus
    * never shuffles on a high-cardinality key. */
  private[graft] def vocabCoverageOf(docs: DataFrame,
      topV: Int = 200): DataFrame = {
    val tok = docs
      .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
    val top = tok.groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("token")).limit(topV)
      .select(col("token"), lit(1L).as("in_vocab"))
    tok.join(broadcast(top), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_in_vocab"))
      .select(col("source"), col("n_tokens"), col("n_in_vocab"),
        (floor((col("n_tokens") - col("n_in_vocab")).cast("double")
          / col("n_tokens") * 10000) / 10000).as("oov_rate"))
  }

  val tVocabCoverage: QueryDef = QueryDef(
    fn = (s, dir) =>
      vocabCoverageOf(Tables.load(s, dir, "documents")).orderBy(col("source")),
    oracle = Some("""
      WITH tok AS (
        SELECT source,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        FROM documents),
      top AS (
        SELECT token FROM (
          SELECT token, count(*) AS n_occ FROM tok GROUP BY token)
        ORDER BY n_occ DESC, token LIMIT 200),
      j AS (
        SELECT t.source,
               CASE WHEN v.token IS NULL THEN 0 ELSE 1 END AS inv
        FROM tok t LEFT JOIN top v ON t.token = v.token)
      SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(inv) AS BIGINT) AS n_in_vocab,
             floor(CAST(count(*) - sum(inv) AS DOUBLE) / count(*) * 10000)
               / 10000 AS oov_rate
      FROM j GROUP BY source ORDER BY source"""))

  /** Per-source length-outlier flags — the "weird documents" audit
    * before training (truncated docs, concatenation accidents, spam
    * runs). A doc is an outlier when its token count deviates from
    * its source's mean by more than 2 standard deviations — but the
    * test is evaluated in ALL-INTEGER algebra so both engines decide
    * identically: |n - s/c| > 2*sqrt((ss*c - s^2)/c^2) rearranged to
    * (n*c - s)^2 > 4*(ss*c - s^2) over BIGINT sums (n, count, sum,
    * sum-of-squares), no float mean/std anywhere. (Bound: n*cnt must
    * stay under 2^63 — fine to ~1e9 rows/source at 1e4 tokens; past
    * that, widen to DECIMAL.) The per-source stats table is bounded
    * (one row per source) and joins back broadcast — the corpus
    * never shuffles; one stats-aggregate exchange total. */
  val tOutlier: QueryDef = QueryDef(
    fn = (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TF.tokenCountWs(col("text")).as("n_toks"))
      val stats = d.groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_toks")).as("s"),
          sum(col("n_toks") * col("n_toks")).as("ss"))
      d.join(broadcast(stats), "source")
        .select(col("doc_id"), col("source"), col("n_toks"),
          when((col("n_toks") * col("cnt") - col("s"))
                 * (col("n_toks") * col("cnt") - col("s"))
               > lit(4L) * (col("ss") * col("cnt") - col("s") * col("s")),
            lit(1L)).otherwise(lit(0L)).as("is_outlier"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH d AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks
        FROM documents),
      st AS (
        SELECT source, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(n_toks) AS BIGINT) AS s,
               CAST(sum(n_toks * n_toks) AS BIGINT) AS ss
        FROM d GROUP BY source)
      SELECT doc_id, source, n_toks,
             CASE WHEN (n_toks * cnt - s) * (n_toks * cnt - s)
                       > 4 * (ss * cnt - s * s)
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_outlier
      FROM d JOIN st USING (source)
      ORDER BY doc_id"""))

  /** Collocation mining: the top-20 adjacent token pairs by a
    * PMI-style association score — the "new york"/"machine learning"
    * phrase-discovery step before tokenizer or n-gram model training.
    * The PMI ordering key is computed as the INTEGER-scaled ratio
    * floor(c_xy * N * 10000 / (c_x * c_y)) over BIGINT counts —
    * integer division is engine-identical where a float log-PMI could
    * ulp-flip equal-score ties. (Bound: c_xy*N*10000 under 2^63 —
    * fine to ~1e4 pair count x 1e13 corpus bigrams; past that, widen
    * to DECIMAL.) Min-support c_xy >= 5 prunes the pair tail BEFORE
    * the unigram joins; the unigram side is vocab-sized, the final
    * top-20 is distributed TakeOrdered. Bigram extraction is a
    * map-side zip of each token array with its own tail — no
    * self-join. */
  val tColloc: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(TF.tokens(col("text")).as("t"))
      val bigrams = docs
        .select(expr("explode(arrays_zip(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1))) AS bg"))
        .select(col("bg")("0").as("w1"), col("bg")("1").as("w2"))
      val uni = docs.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      val n = docs.agg(sum(size(col("t")) - 1).as("n_bigrams"))
      val pairs = bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      pairs
        .join(uni.select(col("w").as("w1"), col("c_w").as("c_x")), "w1")
        .join(uni.select(col("w").as("w2"), col("c_w").as("c_y")), "w2")
        .crossJoin(n)
        .select(col("w1"), col("w2"), col("c_xy"),
          expr("c_xy * n_bigrams * 10000 div (c_x * c_y)").as("score"))
        .orderBy(col("score").desc, col("w1"), col("w2"))
        .limit(20)
    },
    oracle = Some("""
      WITH d AS (
        SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      idx AS (SELECT t, unnest(range(1, len(t))) AS i FROM d),
      b AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM idx),
      uni AS (SELECT unnest(t) AS w FROM d),
      cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY w),
      n AS (SELECT CAST(sum(len(t) - 1) AS BIGINT) AS n_bigrams FROM d),
      pairs AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
        FROM b GROUP BY w1, w2 HAVING count(*) >= 5)
      SELECT w1, w2, c_xy,
             c_xy * n_bigrams * 10000 // (cx.c_w * cy.c_w) AS score
      FROM pairs
      JOIN cw cx ON cx.w = pairs.w1
      JOIN cw cy ON cy.w = pairs.w2
      CROSS JOIN n
      ORDER BY score DESC, w1, w2 LIMIT 20"""))

  /** Length-curriculum decile binning: every document assigned its
    * EXACT global ntile(10) bucket by (token count, doc_id) — the
    * shortest-to-longest curriculum schedule, computed at scale. A
    * naive `ntile(10) OVER (ORDER BY ...)` plans a single-partition
    * window (the whole corpus through one task); here the global rank
    * comes from [[PrefixSum.runningTotal]] (range repartition +
    * slice-local cumsum + broadcast slice offsets — two linear
    * exchanges) over a composite unique BIGINT key n_toks·10¹² +
    * doc_id, and the ntile bucket is derived from the rank in closed
    * form with the big-buckets-first split (first N mod 10 buckets
    * hold ceil(N/10) rows) — matching SQL ntile exactly, all-integer.
    * (Bound: the composite key needs n_toks ≤ 9.2·10⁶ and doc_id <
    * 10¹² to stay under 2^63 and collision-free — [[decileKey]]
    * fail-fasts per row past either bound instead of silently
    * mis-ranking, so the 100× story is a loud error, not a wrong
    * curriculum.)
    */
  val tDecile: QueryDef = QueryDef(
    fn = (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCountWs(col("text")).as("n_toks"))
      val keyed = d
        .withColumn("_k", decileKey(col("n_toks"), col("doc_id")))
        .withColumn("_one", lit(1L))
      val ranked = PrefixSum.runningTotal(keyed, "_k", "_one", "_rnk")
      val n = d.agg(count(lit(1)).as("_n"))
      ranked.crossJoin(broadcast(n))
        .select(col("doc_id"), col("n_toks"),
          expr("""CASE WHEN _rnk <= (_n % 10) * (_n div 10 + 1)
                  THEN (_rnk - 1) div (_n div 10 + 1) + 1
                  ELSE (_n % 10) + (_rnk - (_n % 10) * (_n div 10 + 1) - 1) div (_n div 10) + 1
                  END""").as("decile"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks
        FROM documents)
      SELECT doc_id, n_toks,
             CAST(ntile(10) OVER (ORDER BY n_toks, doc_id) AS BIGINT) AS decile
      FROM d ORDER BY doc_id"""))

  /** t_decile's composite unique rank key n_toks·10¹² + doc_id, with
    * the 2^63 bound enforced PER ROW: n_toks > 9.2·10⁶ would overflow
    * Long (9.2·10⁶·10¹² ≈ 2^63) and doc_id ≥ 10¹² would collide into
    * the next n_toks slot — both silently corrupt the global rank, so
    * out-of-bound rows raise instead (a conditional on two already-read
    * columns: no extra pass, stays in codegen, free when in bounds). */
  private[graft] def decileKey(nToks: Column, docId: Column): Column =
    when(nToks > lit(9200000L) || docId >= lit(1000000000000L) ||
        nToks < 0L || docId < 0L,
      raise_error(concat(
        lit("graft: t_decile composite key bound exceeded (need 0 <= " +
          "n_toks <= 9200000 and 0 <= doc_id < 1e12; got n_toks="),
        nToks.cast("string"), lit(", doc_id="), docId.cast("string"),
        lit(") — use a two-column ordered prefix sum past this scale"))).cast("long"))
    .otherwise(nToks * lit(1000000000000L) + docId)

  /** Temperature-based data mixing over the `source` column — the
    * standard multilingual/multi-domain rebalancing step before
    * training: per-source sampling weights proportional to
    * (token share)^alpha with alpha = 0.5 (sqrt temperature — boosts
    * small sources, damps huge ones), a token budget of tau = 0.5 of
    * the corpus, per-source acceptance rates capped at 1.0, and a
    * DETERMINISTIC md5-bucket stratified sample (the same
    * hash-the-key technique as t_sample, so replays and both engines
    * select the identical document set). Plan shape at 100 TB: one
    * partial-first groupBy(source) over the corpus, a bounded
    * source-level weight table computed once and broadcast back for
    * the per-row accept test, one more partial-first count — the
    * corpus never shuffles.
    *
    * sqrt(share)^alpha / sum cancels the total, so weights are
    * sqrt(n_tokens) / sum(sqrt(n_tokens)) — integer inputs, identical
    * IEEE math in both engines, floor-4dp rendered. */
  private[graft] def mixBySource(documents: DataFrame,
      tau: Double = 0.5): DataFrame = {
    val docs = documents.select(col("doc_id"), col("source"),
      TF.tokenCountWs(col("text")).as("n_toks"))
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val tot = stats.agg(sum(col("n_tokens")).cast("double").as("_tot"),
      sum(sqrt(col("n_tokens").cast("double"))).as("_ssq"))
    val rated = stats.crossJoin(tot)
      .withColumn("_w", sqrt(col("n_tokens").cast("double")) / col("_ssq"))
      .withColumn("_rate",
        least(lit(1.0), lit(tau) * col("_tot") * col("_w") / col("n_tokens")))
      // the accept threshold derives from the 4dp-FLOORED rate (the same
      // value the output reports), never the raw one: the raw rate is an
      // order-dependent double sum, and a 1-ulp divergence between runs
      // or engines at a floor(rate*65536) integer boundary would change
      // the selected document set — quantizing first absorbs it
      .withColumn("_rate4", floor(col("_rate") * 10000) / 10000)
      // rate >= 1.0 accepts everything: 'g' sorts above every hex digit
      // (a %04x render of 65536 would be the 5-char '10000', which sorts
      // BELOW most 4-char prefixes and wrongly rejects them)
      .withColumn("_thresh", when(col("_rate4") >= 1.0, lit("g"))
        .otherwise(format_string("%04x", floor(col("_rate4") * 65536).cast("int"))))
    val accepted = docs
      .join(broadcast(rated.select(col("source"), col("_thresh"))), Seq("source"))
      .filter(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 4)
        < col("_thresh"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
    rated.join(accepted, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (floor(col("_w") * 10000) / 10000).as("weight"),
        col("_rate4").as("rate"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy(col("source"))
  }

  val tMix: QueryDef = QueryDef(
    fn = (s, dir) => mixBySource(Tables.load(s, dir, "documents")),
    oracle = Some("""
      WITH d AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks
        FROM documents),
      s AS (
        SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        FROM d GROUP BY source),
      t AS (
        SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
               sum(sqrt(CAST(n_tokens AS DOUBLE))) AS ssq
        FROM s),
      r AS (
        SELECT source, n_docs, n_tokens,
               sqrt(CAST(n_tokens AS DOUBLE)) / ssq AS w,
               floor(least(1.0, 0.5 * tot * (sqrt(CAST(n_tokens AS DOUBLE)) / ssq) / n_tokens)
                     * 10000) / 10000 AS rate4
        FROM s, t),
      a AS (
        SELECT r.source, count(*) AS n_sampled
        FROM d JOIN r ON d.source = r.source
        WHERE substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)
              < CASE WHEN rate4 >= 1.0 THEN 'g'
                     ELSE printf('%04x', CAST(floor(rate4 * 65536) AS INT)) END
        GROUP BY r.source)
      SELECT r.source, r.n_docs, r.n_tokens,
             floor(w * 10000) / 10000 AS weight,
             rate4 AS rate,
             coalesce(a.n_sampled, 0) AS n_sampled
      FROM r LEFT JOIN a ON r.source = a.source
      ORDER BY r.source"""))

  /** Token-budget allocation — the "data recipe" table of a
    * Llama-style training run: given a token budget (2x the corpus
    * here) and sqrt-mix target weights (t_mix's convention), each
    * source gets epochs = budget_share / own_tokens CAPPED at 4.0 —
    * small high-quality sources repeat up to the cap (multi-epoch
    * oversampling), huge sources train under one epoch, and the
    * capped sources' unused budget is REPORTED per row
    * (alloc_tokens vs the uncapped share), not silently re-spread —
    * redistribution policy is the recipe author's call.
    *
    * Scale shape: one map-side token-count aggregate to a bounded
    * per-source table; everything downstream is bounded-row algebra
    * (the crossJoin is against a ONE-row global total). Doubles are
    * 4dp-floored at every emitted value (the t_mix discipline);
    * alloc_tokens = floor(epochs4 * n_tokens) stays exact while
    * epochs4 * n_tokens < 2^53 — at a true 100-TB corpus widen to
    * DECIMAL, the tOutlier note. */
  private[graft] def recipeOf(docs: DataFrame,
      budgetFactor: Double = 2.0, maxEpochs: Double = 4.0): DataFrame = {
    val d = docs
      .select(col("source"), TF.tokenCountWs(col("text")).as("n_toks"))
    val bySrc = d.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("n_tokens"))
    val tot = bySrc.agg(sum(col("n_tokens")).cast("double").as("tot"),
      sum(sqrt(col("n_tokens").cast("double"))).as("ssq"))
    val w = sqrt(col("n_tokens").cast("double")) / col("ssq")
    val epochs4 = floor(least(lit(maxEpochs),
      lit(budgetFactor) * col("tot") * w / col("n_tokens")) * 10000) / 10000
    bySrc.crossJoin(tot)
      .select(col("source"), col("n_tokens"),
        (floor(w * 10000) / 10000).as("weight"),
        epochs4.as("epochs"),
        floor(epochs4 * col("n_tokens")).cast("long").as("alloc_tokens"))
  }

  val tRecipe: QueryDef = QueryDef(
    fn = (s, dir) =>
      recipeOf(Tables.load(s, dir, "documents")).orderBy(col("source")),
    oracle = Some("""
      WITH d AS (
        SELECT source,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks
        FROM documents),
      s AS (
        SELECT source, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        FROM d GROUP BY source),
      t AS (
        SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
               sum(sqrt(CAST(n_tokens AS DOUBLE))) AS ssq
        FROM s),
      r AS (
        SELECT source, n_tokens,
               sqrt(CAST(n_tokens AS DOUBLE)) / ssq AS w,
               floor(least(4.0, 2.0 * tot * (sqrt(CAST(n_tokens AS DOUBLE)) / ssq)
                                 / n_tokens) * 10000) / 10000 AS epochs
        FROM s, t)
      SELECT source, n_tokens,
             floor(w * 10000) / 10000 AS weight,
             epochs,
             CAST(floor(epochs * n_tokens) AS BIGINT) AS alloc_tokens
      FROM r ORDER BY source"""))

  /** Gopher-style repetition signals: repeated-token fraction and the
    * share of all word 2-grams taken by the most frequent one — the
    * standard cheap filters for boilerplate/spam before training. Per-
    * doc distincts are array ops; the top-bigram mode goes through an
    * explode + two-level aggregation (the scale shape: a billion docs
    * never collect per-doc maps on one node). All-integer numerators
    * and denominators, fracs floor-scaled to 4dp, so the oracle
    * compares exactly. */
  val tRepetition: QueryDef = QueryDef(
    fn = (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      val tokStats = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"))
      // sequence(1, 0) DESCENDS in Spark, so a one-token (or empty) doc
      // would hit element_at(toks, 0) and throw — guard to an empty
      // array (explode then drops the row; the left join below yields
      // the oracle's zero-bigram answer).
      val bigrams = toks.select(col("doc_id"),
        explode(expr("CASE WHEN size(toks) >= 2 THEN" +
          " transform(sequence(1, size(toks) - 1)," +
          " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))" +
          " ELSE array() END"))
          .as("bigram"))
      val bigramStats = bigrams
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("_c"))
        .groupBy(col("doc_id"))
        .agg(max(col("_c")).as("top_bigram_n"), sum(col("_c")).as("n_bigrams"))
      tokStats.join(bigramStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
          (floor((col("n_tokens") - col("n_distinct_tokens")) /
            col("n_tokens") * 10000) / 10000).as("dup_token_frac"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          when(col("n_bigrams") > 0,
            floor(col("top_bigram_n") / col("n_bigrams") * 10000) / 10000)
            .otherwise(lit(0.0)).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      ts AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
        FROM t),
      bg AS (
        SELECT doc_id,
               unnest([toks[CAST(x AS INT)] || ' ' || toks[CAST(x AS INT) + 1]
                       for x in range(1, len(toks))]) AS bigram
        FROM t),
      bs AS (
        SELECT doc_id, max(c) AS top_bigram_n, CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
        GROUP BY doc_id)
      SELECT ts.doc_id, n_tokens, n_distinct_tokens,
             floor((n_tokens - n_distinct_tokens) / n_tokens * 10000) / 10000
               AS dup_token_frac,
             coalesce(top_bigram_n, 0) AS top_bigram_n,
             coalesce(n_bigrams, 0) AS n_bigrams,
             CASE WHEN coalesce(n_bigrams, 0) > 0
                  THEN floor(top_bigram_n / n_bigrams * 10000) / 10000
                  ELSE 0.0 END AS top_bigram_frac
      FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
      ORDER BY ts.doc_id"""))

  /** Train/test contamination detection: flag corpus documents sharing
    * any word 8-gram with a benchmark set (here the doc_id < 20
    * sample). The benchmark gram set is small by nature — broadcast —
    * so the corpus streams through one codegen'd shingle pass and an
    * equi-join on gram hash: linear at any corpus size. Hashed-gram
    * equality equals string-gram equality (64-bit fnv1a collisions
    * aside), which the brute-force string-gram oracle verifies. */
  val tContamination: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      def grams(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("doc_id").as(idAs),
          explode(graft.functions.MinHash.hashedWordShingles(col("text"), 8)).as("g"))
      val bench = grams(docs.filter(col("doc_id") < 20), "bench_id")
      val hits = grams(docs, "doc_id").join(broadcast(bench), Seq("g"))
        .filter(col("doc_id") =!= col("bench_id"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("bench_id")).as("n_bench_hits"),
          count(lit(1)).as("n_gram_hits"))
      docs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
          coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"),
          (coalesce(col("n_bench_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH ${wordWindowSql(8)},
      b AS (SELECT doc_id AS bench_id, s FROM e WHERE doc_id < 20),
      hits AS (
        SELECT e.doc_id, count(DISTINCT b.bench_id) AS n_bench_hits,
               count(*) AS n_gram_hits
        FROM e JOIN b ON e.s = b.s AND e.doc_id <> b.bench_id
        GROUP BY e.doc_id)
      SELECT d.doc_id,
             coalesce(n_bench_hits, 0) AS n_bench_hits,
             coalesce(n_gram_hits, 0) AS n_gram_hits,
             coalesce(n_bench_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
      ORDER BY d.doc_id"""))

  /** Contamination via a BLOOM pre-filter — the memory-viable form of
    * [[tContamination]] when the benchmark gram set outgrows a cheap
    * broadcast join relation (a 10M-gram suite is ~hundreds of MB as a
    * hash relation, ~12 MB as a 1% bloom). The bounded benchmark side
    * folds into a driver bloom once (distributed build under
    * stat.bloomFilter — train-once, like the quantizer artifacts); the
    * corpus streams through one codegen'd mightContain probe, and only
    * surviving candidate grams reach the exact verify join. Bloom
    * errors are ONE-SIDED (no lost members), so the verified output is
    * byte-identical to the exact operator's — which is precisely what
    * the shared oracle checks. */
  val tContaminationBloom: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      def grams(df: org.apache.spark.sql.DataFrame, idAs: String) =
        df.select(col("doc_id").as(idAs),
          explode(graft.functions.MinHash.hashedWordShingles(col("text"), 8)).as("g"))
      val bench = grams(docs.filter(col("doc_id") < 20), "bench_id")
      val bloom = s.sparkContext.broadcast(
        bench.stat.bloomFilter("g", 1L << 22, 0.01))
      val cand = grams(docs, "doc_id").filter(
        Bridge.column(BloomMightContain(Bridge.expression(col("g")), bloom)))
      val hits = cand.join(broadcast(bench), Seq("g"))
        .filter(col("doc_id") =!= col("bench_id"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("bench_id")).as("n_bench_hits"),
          count(lit(1)).as("n_gram_hits"))
      docs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
          coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"),
          (coalesce(col("n_bench_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    },
    oracle = tContamination.oracle)

  /** Corpus-frequency token scoring with an explicit Zipf-head split:
    * the vocab's top `headK` tokens (bounded rows) ride as a BROADCAST
    * join, so the Zipf-hot fact keys — which at corpus scale are most
    * of the exploded rows — never shuffle by token; only the long-tail
    * tokens take the shuffle join, and those are well-spread by
    * construction. AQE skew-join can NOT save the naive single join
    * here: the vocab side carries an aggregate between its shuffle and
    * the join, a shape OptimizeSkewedJoin's direct-shuffle-child
    * pattern never matches (pinned in PlanSpec), so the head split is
    * the deliberate scale path, not a belt-and-braces flourish.
    * Head/tail are disjoint by token, so the union is exactly the
    * single-join result. */
  private[graft] def rarityJoin(docs: DataFrame, headK: Int = 256): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val head = vocab.orderBy(col("tf").desc, col("tok")).limit(headK)
    val tail = vocab.join(broadcast(head.select(col("tok"))), Seq("tok"), "left_anti")
    toks.join(broadcast(head), Seq("tok"))
      .unionByName(toks.join(tail, Seq("tok")))
  }

  /** Corpus-frequency rarity scoring — the integer-exact core of an
    * LM-perplexity quality filter: build the corpus unigram table,
    * score each doc by its tokens' corpus frequencies via the
    * Zipf-head-aware [[rarityJoin]]. A true average log-prob would
    * hash-differently across engines (order-dependent float sums), so
    * the signals are exact-integer sums with one final division: mean
    * corpus frequency per token and the fraction of rare (corpus freq
    * <= 2) tokens. */
  val tRarity: QueryDef = QueryDef(
    fn = (s, dir) => {
      rarityJoin(Tables.load(s, dir, "documents"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("tf")).as("sum_tok_freq"),
          sum(when(col("tf") <= 2, 1L).otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_tokens"), col("sum_tok_freq"),
          (floor(col("sum_tok_freq") / col("n_tokens") * 10000) / 10000)
            .as("mean_tok_freq"),
          col("n_rare"),
          (floor(col("n_rare") / col("n_tokens") * 10000) / 10000)
            .as("rare_frac"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok)
      SELECT doc_id,
             count(*) AS n_tokens,
             CAST(sum(tf) AS BIGINT) AS sum_tok_freq,
             floor(CAST(sum(tf) AS BIGINT) / count(*) * 10000) / 10000 AS mean_tok_freq,
             CAST(sum(CASE WHEN tf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
             floor(CAST(sum(CASE WHEN tf <= 2 THEN 1 ELSE 0 END) AS BIGINT) / count(*) * 10000) / 10000
               AS rare_frac
      FROM toks JOIN vocab USING (tok)
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Greedy contiguous sequence packing: documents in id order fill
    * fixed 512-token packs; a doc's pack is its exclusive running token
    * total div the budget. The running total is [[PrefixSum]] — range
    * repartition + slice-local cumsum + broadcast slice offsets — NOT a
    * global `sum() OVER (ORDER BY)` window, which would serialize the
    * whole corpus through one task. All-integer arithmetic, so the
    * oracle compares exactly. */
  val tPack: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCountWs(col("text")).as("n_tokens"))
      PrefixSum.runningTotal(docs, "doc_id", "n_tokens", "cum_tokens")
        .withColumn("pack_id",
          floor((col("cum_tokens") - col("n_tokens")) / lit(512.0)).cast("long"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT doc_id, n_tokens, cum_tokens,
             CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id
      FROM c
      ORDER BY doc_id"""))

  /** [[tPack]] with oversized-document splitting
    * (PrefixSum.packSplit): a doc longer than its pack's remaining
    * space continues into the next pack — one row per (doc, pack)
    * slice with the doc-local half-open token range. All-integer, so
    * the oracle (a window cumsum + generate_series of the spanned
    * packs) compares exactly. */
  val tPackSplit: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCountWs(col("text")).as("n_tokens"))
      PrefixSum.packSplit(docs, "doc_id", "n_tokens", budget = 512L)
        .orderBy(col("doc_id"), col("pack_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM t),
      s AS (
        SELECT doc_id, n_tokens, cum - n_tokens AS g0, cum FROM c
        WHERE n_tokens > 0),
      p AS (
        SELECT doc_id, n_tokens, g0,
               unnest(range(g0 // 512, (cum - 1) // 512 + 1)) AS pack_id
        FROM s)
      SELECT doc_id, pack_id,
             greatest(CAST(0 AS BIGINT), pack_id * 512 - g0) AS tok_start,
             least(n_tokens, (pack_id + 1) * 512 - g0) AS tok_end
      FROM p
      ORDER BY doc_id, pack_id"""))

  val tFingerprint: QueryDef = QueryDef(
    fn = (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          Bridge.column(RollingFingerprint(
            Bridge.expression(lower(col("text"))), 16)).as("fp"))
        .orderBy(col("doc_id")),
    oracle = None)

  /** Driver-checkable contract for the rolling fingerprint (the raw
    * 64-bit hashes aren't SQL-expressible): RECALL — plant an exact
    * text clone of every doc_id < 100 and require fingerprint equality
    * with its source (min-over-windows of identical text is identical —
    * an integer-exact count); PRECISION — fingerprint-equal documents
    * must share a REAL 16-char window, verified by hashed-16-gram set
    * overlap, i.e. equal fingerprints mean equal min windows, not
    * polynomial-hash accidents. Deterministic on a fixed corpus, so
    * the oracle's literal values only match when the kernel delivers.
    *
    * The precision leg verifies CONSECUTIVE members of each
    * fingerprint class (sorted by doc_id), not all pairs: a hot
    * fingerprint (a boilerplate window shared by m documents — think
    * license headers at 100 TB) makes the all-pairs equality self-join
    * m² in group size, and the 100x probe measured exactly that
    * blow-up (245x wall at 100x rows); the chain check is one
    * fp-partitioned window over the corpus — m−1 comparisons per
    * class, linear. Blind spot, documented: a chain can pass while a
    * DISTANT pair shares no window — but that requires two distinct
    * windows with colliding rolling hashes sitting in the middle
    * document's own gram set, i.e. precisely the accident class the
    * planted corpus makes vanishingly rare (~n_windows²/2⁶⁴), and the
    * clone-recall leg already pins the deterministic path. */
  val tFingerprintContract: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("t"))
      val clones = docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("t"))
      val fp = docs.union(clones).select(col("doc_id"),
        Bridge.column(RollingFingerprint(Bridge.expression(col("t")), 16)).as("fp"),
        Bridge.column(HashedCharNgrams(Bridge.expression(col("t")), 16)).as("grams"))
      val src = fp.filter(col("doc_id") < 1000000L)
        .select(col("doc_id").as("src_id"), col("fp").as("src_fp"))
      val rec = fp.filter(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("src_id"), col("fp"))
        .join(src, "src_id")
        .agg(count(lit(1)).as("n_clones"),
          sum(when(col("fp") === col("src_fp"), 1L).otherwise(0L)).as("clone_matches"))
      val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val prec = fp
        .withColumn("prev_grams", lag(col("grams"), 1).over(wFp))
        .filter(col("prev_grams").isNotNull)
        .agg(coalesce(
          sum(when(arrays_overlap(col("grams"), col("prev_grams")), 1L)
            .otherwise(0L)) === count(lit(1)), lit(true)).as("precision_ok"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(rec).crossJoin(prec)
        .select(col("n_docs"), col("n_clones"), col("clone_matches"), col("precision_ok"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST((SELECT count(*) FROM documents WHERE doc_id < 100) AS BIGINT) AS n_clones,
             CAST((SELECT count(*) FROM documents WHERE doc_id < 100) AS BIGINT) AS clone_matches,
             TRUE AS precision_ok
      FROM documents"""))

  // ---- dedup ----

  val dDedupExact: QueryDef = QueryDef(
    fn = (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id, md5(text) AS content_hash,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
      FROM documents
      ORDER BY doc_id"""))

  /** d_dedup_cdc — chunk-level dedup via content-defined chunking
    * ([[Dedup.cdcChunks]]): documents split at content-derived
    * boundaries (~64-char expected chunks), chunk instances keyed by
    * md5, and an instance is a duplicate when the same chunk content
    * appeared earlier (smaller (doc_id, idx)). Output per document:
    * chunk count, duplicate-chunk count, integer duplication percent —
    * the passage-level duplication profile exact-doc dedup can't see
    * (boilerplate headers, quoted paragraphs shared across otherwise
    * distinct documents).
    *
    * Scale shape: chunking is one map-side projection per document;
    * the only shuffle is the hash-partitioned first-instance window
    * over (chunk hash) — instance-linear, no pair generation anywhere.
    * A globally hot chunk (the same license block in millions of
    * documents) concentrates its instances on one key; at that scale
    * the window swaps for a groupBy-min + broadcast-join of the
    * (bounded) hot-hash list, same classification. The oracle replays
    * every boundary decision position-for-position. */
  val dDedupCdc: QueryDef = QueryDef(
    fn = (s, dir) => {
      val inst = Dedup.cdcChunks(Tables.load(s, dir, "documents"),
        "text", "doc_id")
      val w = Window.partitionBy(col("h")).orderBy(col("id"), col("idx"))
      inst.withColumn("is_dup", row_number().over(w) > 1)
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup"),
          expr("(100 * n_dup) div n_chunks").as("dup_pct"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH ch AS (
        SELECT doc_id, text AS t, CAST(length(text) AS BIGINT) AS n
        FROM documents WHERE length(text) > 0),
      cut AS (
        SELECT doc_id, t,
               list_sort(list_distinct(
                 [CAST(0 AS BIGINT)] ||
                 [CAST(x + 2 AS BIGINT) for x in range(1, n - 1)
                  if (ascii(substr(t, CAST(x AS INT), 1)) * 961 +
                      ascii(substr(t, CAST(x AS INT) + 1, 1)) * 31 +
                      ascii(substr(t, CAST(x AS INT) + 2, 1))) % 64 = 0] ||
                 [n])) AS pos
        FROM ch),
      idx0 AS (
        SELECT doc_id, t, pos, unnest(range(1, len(pos))) AS j FROM cut),
      inst AS (
        SELECT doc_id, CAST(j AS BIGINT) AS idx,
               md5(substr(t, CAST(pos[CAST(j AS INT)] AS INT) + 1,
                   CAST(pos[CAST(j AS INT) + 1] - pos[CAST(j AS INT)] AS INT)))
                 AS h
        FROM idx0),
      marked AS (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) > 1
                 AS is_dup
        FROM inst)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             (100 * CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT))
               // CAST(count(*) AS BIGINT) AS dup_pct
      FROM marked GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Shared oracle tokenization: DuckDB CTEs t/g/e producing
    * e(doc_id, s) — each doc's DISTINCT k-token word windows as
    * strings, the oracle-side mirror of TextOps.hashedWordShingles
    * (which hashes the same windows; 64-bit fnv1a collisions aside,
    * string equality == hash equality). ONE definition serves every
    * window-based oracle (3-shingle Jaccard, 8-gram contamination,
    * 8-token substring dedup) so the tokenization contract — trim +
    * lower + whitespace split + whole-doc fallback under k tokens —
    * can only be edited in sync. */
  private[operators] def wordWindowSql(k: Int): String = s"""t AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM documents),
      g AS (
        SELECT doc_id,
               CASE WHEN len(toks) < $k THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct([array_to_string(toks[CAST(x AS INT):CAST(x AS INT)+${k - 1}], ' ')
                                        for x in range(1, len(toks) - ${k - 2})]) END AS sh
        FROM t),
      e AS (SELECT doc_id, unnest(sh) AS s FROM g)"""

  /** Shared oracle fragment: brute-force word-3-shingle Jaccard pairs
    * at threshold 0.5 via an inverted shingle index (tokenization from
    * [[wordWindowSql]]). The LSH blocking must reach 100% recall on
    * the planted near-dups for the hash check to pass — the oracle
    * verifies recall, not just precision. */
  private[operators] val shinglePairsSql: String = s"""${wordWindowSql(3)},
      sizes AS (SELECT doc_id, len(sh) AS sz FROM g),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jpairs AS (
        SELECT id_a, id_b,
               round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        -- threshold on the ROUNDED value, matching the Spark side's
        -- round(j,4) >= t filter: an unrounded >= here would drop a
        -- pair with true J in [t - 0.00005, t) that Spark keeps
        WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 4) >= 0.5)"""

  val dDedupMinhash: QueryDef = QueryDef(
    // contract queries pin explicit shapes — 64/16 is what AUTO
    // resolves to at these corpus sizes (DedupSpec proves equality)
    fn = (s, dir) =>
      Dedup.minhashPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
        numHashes = 64, bands = 16)
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some(s"""
      WITH $shinglePairsSql
      SELECT id_a, id_b, jaccard FROM jpairs
      ORDER BY id_a, id_b"""))

  /** Cross-source near-dup overlap matrix: the verified MinHash pair
    * set ([[Dedup.minhashPairs]] — banding + exact-Jaccard verify)
    * aggregated by canonical source pair — "which sources mirror each
    * other", the audit that tells a curation run where its duplication
    * actually comes from (and which source pairs to prioritize for
    * cross-dedup). The pair set is tiny relative to the corpus; the
    * two source lookups are plain doc_id-keyed joins and the final
    * matrix is bounded by #sources². Oracle reuses the brute-force
    * shingle-Jaccard pair CTE, so the whole chain — banding recall,
    * verify, source attribution — is hash-checked end to end. */
  val dOverlap: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      // broadcast the PAIR side of both lookups (it is corpus-small by
      // construction) so the corpus streams through as the probe side —
      // a corpus-side broadcast/shuffle would invert the size argument
      val pairs = broadcast(Dedup.minhashPairs(docs, "text", "doc_id",
        numHashes = 64, bands = 16))
      broadcast(pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
            "id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },
    oracle = Some(s"""
      WITH $shinglePairsSql,
      src AS (SELECT doc_id, source FROM documents)
      SELECT least(sa.source, sb.source) AS source_a,
             greatest(sa.source, sb.source) AS source_b,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM jpairs
      JOIN src sa ON sa.doc_id = id_a
      JOIN src sb ON sb.doc_id = id_b
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  val dDedupSimhash: QueryDef = QueryDef(
    fn = (s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("id_a"), col("id_b")),
    oracle = None)

  /** Driver-checkable contract for the SimHash pair list (whose raw
    * hamming distances aren't SQL-expressible), two legs:
    *
    * BUCKET-EXACTNESS — on an id-capped sample (the O(n^2) baseline
    * stays bounded; the banded side still runs the full corpus) the
    * banded hamming-<=3 pair set must EQUAL the brute-force
    * all-pairs-signature set, both directions: the 4x16-bit pigeonhole
    * blocking provably loses no pair and the post-filter invents none.
    *
    * TOKEN-SIMILARITY — every emitted pair must share real token mass
    * (exact 1-word-shingle Jaccard >= 0.2: signatures don't bucket
    * UNRELATED documents) and >= 95% of pairs must be true near-dups
    * (Jaccard >= 0.5). Simhash similarity is frequency-weighted, so a
    * short doc pair dominated by shared hot tokens can sit at
    * hamming <= 3 with set-Jaccard well under the near-dup band —
    * sf0.1 has exactly one such pair at J = 0.33; the sf0.01 minimum
    * is 0.767 — which is why the all-pairs floor is 0.2, not 0.5.
    *
    * Deterministic end to end (signatures, bucketing, tie-breaks carry
    * no randomness), so the oracle's literal TRUEs only match when the
    * kernel delivers. */
  val dDedupSimhashRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val found = Dedup.simhashPairs(docs, "text", "doc_id")
        .select(col("id_a"), col("id_b"))
      val capped = docs.filter(col("doc_id") < 1000)
      val sig = capped.select(col("doc_id").as("id"),
        Bridge.column(graft.plans.SimHash64(
          Bridge.expression(TF.tokens(col("text"))))).as("sig"))
      val truth = sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .join(broadcast(sig.select(col("id").as("id_b"), col("sig").as("sig_b"))),
          col("id_a") < col("id_b"))
        .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 3)
        .select(col("id_a"), col("id_b"))
      val foundCapped = found.filter(col("id_a") < 1000 && col("id_b") < 1000)
      val exact = truth.withColumn("_t", lit(1L))
        .join(foundCapped.withColumn("_f", lit(1L)), Seq("id_a", "id_b"), "full")
        .agg((count(lit(1)) === coalesce(sum(col("_t") * col("_f")), lit(0L)))
          .as("bucket_exact_ok"))
      val tok = docs.select(col("doc_id").as("id"),
        Bridge.column(HashedWordShingles(
          Bridge.expression(col("text")), 1)).as("sh"))
      val pairJ = found
        .join(tok.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(tok.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(Bridge.column(JaccardLong(
          Bridge.expression(col("sh_a")), Bridge.expression(col("sh_b")))).as("j"))
      val sim = pairJ.agg(
        ((min(col("j")) >= 0.2) &&
          (sum(when(col("j") >= 0.5, 1L).otherwise(0L)).cast("double") /
            count(lit(1)) >= 0.95)).as("token_sim_ok"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(exact).crossJoin(sim)
        .select(col("n_docs"), col("bucket_exact_ok"), col("token_sim_ok"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             TRUE AS bucket_exact_ok, TRUE AS token_sim_ok
      FROM documents"""))

  /** Exact-substring dedup pairs ([[Dedup.sharedWindowPairs]]): docs
    * sharing >= 1 exact 8-token window, df-capped postings (<= 20).
    * The oracle recomputes every capped string-window pair
    * brute-force, so the hashed-gram path must match it exactly
    * (hash equality == string equality modulo 64-bit collisions). */
  val dDedupWindow: QueryDef = QueryDef(
    fn = (s, dir) =>
      Dedup.sharedWindowPairs(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some(s"""
      WITH ${wordWindowSql(8)},
      keep AS (SELECT s FROM e GROUP BY s HAVING count(*) <= 20),
      ee AS (SELECT e.doc_id, e.s FROM e JOIN keep USING (s))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM ee a JOIN ee b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      ORDER BY id_a, id_b"""))

  /** d_dedup_contain — directional CONTAINMENT dedup
    * ([[Dedup.containmentPairs]]): flags documents ≥80% of whose
    * df-capped 3-token shingles appear inside another document. The
    * query plants the exact failure mode Jaccard misses: for each of
    * the first 100 sufficiently long documents, a 20-token EXCERPT
    * (id + 1,000,000) — excerpt→source containment is ~100% while
    * their Jaccard is far below every near-dup threshold, so this
    * operator is the only one in the dedup block that can catch
    * quote/excerpt duplication. The excerpt construction uses the
    * shared tokenization contract (trim + lower + whitespace split),
    * so the oracle rebuilds the identical corpus. */
  val dDedupContain: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      def toks = split(trim(lower(col("text"))), "\\s+")
      val excerpts = docs
        .filter(size(toks) >= 40 && col("doc_id") < 100)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(toks, 1, 20), " ").as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).union(excerpts)
      Dedup.containmentPairs(corpus, "text", "doc_id")
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               array_to_string(
                 (regexp_split_to_array(lower(trim(text)), '\s+'))[1:20], ' ')
        FROM documents
        WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 40
          AND doc_id < 100),
      t AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM corpus),
      g AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct([array_to_string(toks[CAST(x AS INT):CAST(x AS INT)+2], ' ')
                                        for x in range(1, len(toks) - 1)]) END AS sh
        FROM t),
      e AS (SELECT doc_id, unnest(sh) AS s FROM g),
      keep AS (SELECT s FROM e GROUP BY s HAVING count(*) <= 20),
      ee AS (SELECT e.doc_id, e.s FROM e JOIN keep USING (s)),
      szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ee GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM ee a JOIN ee b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, n_inter, sz.sz AS sz_a,
             (100 * n_inter) // sz.sz AS contain_pct
      FROM inter JOIN szs sz ON sz.doc_id = id_a
      WHERE (100 * n_inter) // sz.sz >= 80
      ORDER BY id_a, id_b"""))

  /** Oracle is brute-force exact: every pair with char-4-gram Jaccard
    * >= 0.7 via an inverted gram index (n_inter from a gram equi-join,
    * union from set sizes). The LSH-blocked Spark plan must therefore
    * hit 100% recall on the test corpora — which the 12x6 S-curve
    * delivers for the J >= 0.9 near-dups the generator plants (the
    * hashed-gram Jaccard equals string-gram Jaccard modulo 64-bit
    * collisions, i.e. exactly). */
  val dDedupNgram: QueryDef = QueryDef(
    // registered at the AUTO S-curve shape — the production path, and
    // the SCALE-SAFE one: a fixed 12x6 banding's background-collision
    // candidate mass is quadratic in corpus size (measured 59x at 100x
    // data before this change), while AUTO steepens rows with n and
    // holds it linear. The row count feeding AUTO is the job-free
    // parquet-footer read (Tables.metadataRowCount), so sizing costs
    // zero Spark jobs in benched time; at the driver-gate corpus sizes
    // AUTO resolves to exactly the legacy 12x6 (DedupSpec pins the
    // equality), so the oracle contract is unchanged.
    fn = (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
        rowHint = Tables.metadataRowCount(s, dir, "documents"))
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some("""
      WITH g AS (
        SELECT doc_id,
               CASE WHEN length(text) < 4 THEN [text]
                    ELSE list_distinct([substring(text, CAST(x AS INT), 4)
                                        for x in range(1, length(text) - 2)]) END AS grams
        FROM documents),
      e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      sizes AS (SELECT doc_id, len(grams) AS sz FROM g),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 4) >= 0.7
      ORDER BY id_a, id_b"""))

  /** Near-dup clusters: connected components over the MinHash pair
    * list; one canonical keeper per cluster. Oracle: recursive
    * transitive closure over the same brute-force pair list, label =
    * min reachable id. */
  val dDedupClusters: QueryDef = QueryDef(
    fn = (s, dir) =>
      Dedup.clusters(
        Dedup.minhashPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
          numHashes = 64, bands = 16))
        .orderBy(col("id")),
    oracle = Some(s"""
      WITH RECURSIVE $shinglePairsSql,
      edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
                UNION SELECT id_b, id_a FROM jpairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src)
      SELECT src AS id, least(src, min(dst)) AS cluster_id,
             src = least(src, min(dst)) AS is_canonical
      FROM reach GROUP BY src
      ORDER BY id"""))

  /** Quality-aware keeper selection over near-dup clusters — the
    * production keep policy (the FineWeb/Dolma convention): within
    * each near-dup cluster keep the HIGHEST-QUALITY member, not the
    * minimum id. min-id keep (d_dedup_clusters' is_canonical) is the
    * right CANONICAL label but the wrong DATA decision — a boilerplate
    * mirror with a lower id would displace the clean original. Emits
    * the full audit table (doc, cluster, quality, keeper, kept);
    * the kept corpus is `filter(kept)`.
    *
    * Scale shape: the per-cluster argmax is a map-side-combinable
    * `max(struct(quality, -id))` aggregate plus a keyed join back —
    * NEVER a window over cluster_id, whose per-cluster sort would
    * put a corpus-hot boilerplate cluster on one reducer (the same
    * skew class the span family's groupBy-vs-window note covers).
    * Singletons ride [[Dedup.clusters]]' universe anti-join and keep
    * themselves. Oracle: recursive transitive closure over the
    * brute-force pair list + the 4dp quality formula + the same
    * argmax (quality DESC, id ASC tiebreak). */
  private[graft] def keepByQuality(docs: DataFrame): DataFrame = {
    val lab = Dedup.clusters(
      Dedup.minhashPairs(docs, "text", "doc_id", numHashes = 64, bands = 16),
      universe = Some(docs.select(col("doc_id"))))
    val scored = lab.join(
      docs.select(col("doc_id").as("id"),
        TF.qualityScore(col("text")).as("quality")), "id")
    val keepers = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality"), (-col("id")).as("nid"))).as("best"))
      .select(col("cluster_id"), (-col("best").getField("nid")).as("keeper_id"))
    scored.join(keepers, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"), col("quality"),
        col("keeper_id"), (col("id") === col("keeper_id")).as("kept"))
  }

  val dDedupKeepQuality: QueryDef = QueryDef(
    fn = (s, dir) =>
      keepByQuality(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH RECURSIVE $shinglePairsSql,
      edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
                UNION SELECT id_b, id_a FROM jpairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
      lab AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src),
      alllab AS (
        SELECT id, cluster_id FROM lab
        UNION ALL
        SELECT doc_id, doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM lab)),
      q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
      kq AS (SELECT a.id, a.cluster_id, q.quality
             FROM alllab a JOIN q ON q.doc_id = a.id),
      keep AS (
        SELECT cluster_id, id AS keeper_id FROM (
          SELECT cluster_id, id,
                 row_number() OVER (PARTITION BY cluster_id
                   ORDER BY quality DESC, id) AS rn
          FROM kq) WHERE rn = 1)
      SELECT kq.id AS doc_id, kq.cluster_id, kq.quality,
             keep.keeper_id, kq.id = keep.keeper_id AS kept
      FROM kq JOIN keep USING (cluster_id)
      ORDER BY doc_id"""))

  /** The streaming ingest-dedup pipeline's BATCH leg, driver-checked:
    * decode the documents topic, exact-dedup keep-first (deterministic
    * min doc_id — the topic's event time is monotone in doc_id), then
    * flag near-dups of the survivors against the full corpus as the
    * static reference ([[graft.streaming.Streaming]]
    * dedupedDocs → nearDupAgainstReference — the same code path
    * StreamingSpec replays micro-batched and asserts equal to this).
    * The oracle recomputes the survivor set and the directed
    * shingle-Jaccard pairs brute-force, so banding recall on the
    * survivor side is proven, not assumed. */
  val sIngestDedup: QueryDef = QueryDef(
    fn = (s, dir) => {
      import graft.streaming.Streaming
      val docs = Streaming.decodeDocuments(
        graft.sources.MessageLog.documentsTopic(s, dir))
      // contract queries pin explicit shapes — 64/16 is what AUTO
      // resolves to at these reference sizes (StreamingSpec drives AUTO)
      Streaming.nearDupAgainstReference(Streaming.dedupedDocs(docs), docs,
          numHashes = 64, bands = 16)
        .orderBy(col("doc_id"), col("ref_id"))
    },
    oracle = Some(s"""
      WITH $shinglePairsSql,
      surv AS (
        -- keep-first by (ts, doc_id), exactly as Streaming.dedupedDocs:
        -- the topic's ts_ms is synthetic (1704067200000 + doc_id*60000,
        -- MessageLog.documentsTopic), reconstructed here so the oracle
        -- survivor matches by definition, not by ts-monotone coincidence
        SELECT doc_id FROM (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY md5(text)
                   ORDER BY 1704067200000 + doc_id*60000, doc_id) AS rn
          FROM documents) WHERE rn = 1),
      directed AS (
        SELECT id_a AS doc_id, id_b AS ref_id, jaccard FROM jpairs
        UNION ALL
        SELECT id_b, id_a, jaccard FROM jpairs)
      SELECT d.doc_id, d.ref_id, d.jaccard
      FROM directed d JOIN surv s ON d.doc_id = s.doc_id
      ORDER BY d.doc_id, d.ref_id"""))

  /** Embedding near-dup pairs, SQL-oracled end to end: on an id-capped
    * sample (the O(n^2) oracle stays bounded — same capping as
    * d_dedup_simhash_recall's brute leg) the LSH pipeline runs at a
    * SATURATING density, 24 tables x 1 bit: a true pair at the 0.35
    * cosine threshold misses every table with probability
    * (1 - 0.61)^24 ~ 1e-10, so banding + codegen'd cosine verify +
    * rounding + thresholding must reproduce the brute-force pair set
    * EXACTLY — the DuckDB oracle recomputes every capped cosine and the
    * driver hash-compares. The production configuration's partial
    * recall on the FULL corpus stays separately measured by
    * d_dedup_embed_recall (dense 32x5 >= 0.7) — this entry pins the
    * machinery's exactness, that one the scale config's recall. */
  val dDedupEmbed: QueryDef = QueryDef(
    fn = (s, dir) =>
      Dedup.embeddingPairs(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 1000),
        "embedding", "vec_id", tables = 24, bits = 1)
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some("""
      WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
      elems AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(unnest(a.embedding) AS DOUBLE) AS ae,
               CAST(unnest(b.embedding) AS DOUBLE) AS be
        FROM v a, v b
        WHERE a.vec_id < b.vec_id),
      scored AS (
        SELECT id_a, id_b,
               round(SUM(ae*be) / (sqrt(SUM(ae*ae)) * sqrt(SUM(be*be))), 4) AS cos
        FROM elems GROUP BY id_a, id_b)
      SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.35
      ORDER BY id_a, id_b"""))

  /** d_contamination_embed — SEMANTIC decontamination: the embedding
    * analogue of t_contamination, catching what exact-gram overlap
    * structurally cannot (a PARAPHRASED benchmark item shares no
    * 8-gram with its source but sits next to it in embedding space).
    * The benchmark is the bounded eval set (vec_id < 20, the same
    * bounded-benchmark premise as the gram-based family); every corpus
    * vector reports its nearest eval item (rounded cosine, ties to the
    * smaller eval id) and flags at cos ≥ 0.35 — the corpus's
    * established near-dup threshold (this synthetic space is
    * near-random: d_dedup_embed's planted pairs live at 0.35+, and the
    * eval-vs-corpus max is ~0.49, so the flag bites exactly where
    * near-dup semantics say it should).
    *
    * Scale shape: the eval set BROADCASTS (benchmarks are KBs–MBs);
    * the corpus streams through ONE map-side scoring pass (B codegen'd
    * cosines per row) and a partial-aggregated argmax (max of
    * (cosm, −eval_id) structs — no window, no corpus shuffle beyond
    * the row-per-vector keyed agg). Swapping the brute eval scan for
    * [[Similarity.ivfTopK]] at benchmark sizes past ~10⁵ leaves the
    * contract unchanged. */
  val dContaminationEmbed: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val ev = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("eval_id"), col("embedding").as("evv"))
      val corp = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding"))
      corp.crossJoin(broadcast(ev))
        .select(col("vec_id"), col("eval_id"),
          round(Bridge.column(CosineSim(
            Bridge.expression(col("embedding")),
            Bridge.expression(col("evv")))) * 10000).cast("long").as("cosm"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cosm"),
          (lit(0L) - col("eval_id")).as("neg"))).as("m"))
        .select(col("vec_id"),
          (lit(0L) - col("m.neg")).as("eval_id"),
          col("m.cosm").as("cosm"),
          (col("m.cosm") >= 3500L).as("contaminated"))
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
      corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
      elems AS (
        SELECT c.vec_id AS cid, e.vec_id AS eid,
               CAST(unnest(c.embedding) AS DOUBLE) AS ce,
               CAST(unnest(e.embedding) AS DOUBLE) AS ee
        FROM corp c, ev e),
      cosj AS (
        SELECT cid, eid,
               CAST(round(round(SUM(ce*ee) / (sqrt(SUM(ce*ce)) * sqrt(SUM(ee*ee))), 4)
                 * 10000) AS BIGINT) AS cosm
        FROM elems GROUP BY cid, eid),
      best AS (
        SELECT cid, eid, cosm FROM (
          SELECT cid, eid, cosm,
                 row_number() OVER (PARTITION BY cid
                   ORDER BY cosm DESC, eid) AS rn
          FROM cosj) WHERE rn = 1)
      SELECT cid AS vec_id, eid AS eval_id, cosm,
             cosm >= 3500 AS contaminated
      FROM best
      ORDER BY vec_id"""))

  /** SemDeDup on the embeddings table ([[Dedup.semanticPairs]]):
    * cluster-blocked semantic near-dup pairs, SQL-oracled END TO END —
    * the oracle replays the deterministic seed quantizer, the rounded
    * argmax assignment, and every within-cluster cosine, so blocking +
    * assignment tie-break + codegen'd cosine + thresholding must all
    * reproduce exactly (hash compare). The id-cap keeps the oracle's
    * n x k scoring quadratic-free, same convention as d_dedup_embed. */
  /** The SemDeDup pair-generation CTE chain shared by d_semdedup and
    * d_semdedup_keep: replays the deterministic seed quantizer, the
    * rounded-argmax assignment, and every within-cluster cosine. */
  private val semPairsCtes: String = """
      v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
      seeds AS (
        SELECT vec_id AS seed_id, embedding AS sv FROM v ORDER BY vec_id LIMIT 16),
      selems AS (
        SELECT e.vec_id, s.seed_id,
               CAST(unnest(e.embedding) AS DOUBLE) AS ve,
               CAST(unnest(s.sv) AS DOUBLE) AS se
        FROM v e, seeds s),
      scored AS (
        SELECT vec_id, seed_id,
               round(SUM(ve*se) / (sqrt(SUM(ve*ve)) * sqrt(SUM(se*se))), 4) AS cos4
        FROM selems GROUP BY vec_id, seed_id),
      assigned AS (
        SELECT vec_id, seed_id AS cluster_id FROM (
          SELECT vec_id, seed_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos4 DESC, seed_id) AS rn
          FROM scored) WHERE rn = 1),
      pelems AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, aa.cluster_id,
               CAST(unnest(a.embedding) AS DOUBLE) AS ae,
               CAST(unnest(b.embedding) AS DOUBLE) AS be
        FROM v a JOIN assigned aa ON a.vec_id = aa.vec_id
             JOIN assigned bb ON aa.cluster_id = bb.cluster_id
             JOIN v b ON b.vec_id = bb.vec_id
        WHERE a.vec_id < b.vec_id),
      pairs AS (
        SELECT id_a, id_b, cluster_id,
               round(SUM(ae*be) / (sqrt(SUM(ae*ae)) * sqrt(SUM(be*be))), 4) AS cos
        FROM pelems GROUP BY id_a, id_b, cluster_id)"""

  val dSemdedup: QueryDef = QueryDef(
    fn = (s, dir) =>
      Dedup.semanticPairs(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 1000),
        "embedding", "vec_id", k = 16, tau = 0.35)
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some(s"""
      WITH $semPairsCtes
      SELECT id_a, id_b, cluster_id, cos FROM pairs WHERE cos >= 0.35
      ORDER BY id_a, id_b"""))

  /** The SemDeDup DECISION step (arXiv:2303.09540's actual output):
    * compose [[Dedup.semanticPairs]] with [[Dedup.clusters]]
    * (`universe` = every vector id) into one keep-decision table —
    * every vector labeled with its semantic-group id and whether it is
    * the group's canonical keeper (singletons keep themselves). The
    * keep set is `filter(is_canonical)`; emitting the full labeled
    * table keeps the decision auditable (which keeper displaced a
    * given duplicate). Same pinned quantizer shape as d_semdedup; the
    * oracle replays the pair CTE and closes it with a recursive
    * transitive closure plus a NOT IN singleton leg — blocking,
    * assignment, thresholding, label propagation, and the singleton
    * anti-join must ALL reproduce for the hash to match. */
  val dSemdedupKeep: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 1000)
      Dedup.clusters(
        Dedup.semanticPairs(emb, "embedding", "vec_id", k = 16, tau = 0.35),
        universe = Some(emb.select(col("vec_id"))))
        .orderBy(col("id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE $semPairsCtes,
      jp AS (SELECT id_a, id_b FROM pairs WHERE cos >= 0.35),
      edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
      lab AS (
        SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src)
      SELECT id, cluster_id, id = cluster_id AS is_canonical FROM lab
      UNION ALL
      SELECT vec_id, vec_id, true FROM v
      WHERE vec_id NOT IN (SELECT id FROM lab)
      ORDER BY id"""))

  /** The PRODUCTION SemDeDup keep decision end-to-end: trained
    * k-means quantizer + multi-probe blocking + connected components
    * over the full corpus — the composition a user actually deploys
    * (d_semdedup_keep pins the hash-oracle shape with seeds-by-id
    * probes=1; d_semdedup_recall floors the pair recall; this row
    * proves the quality path RUNS end-to-end and emits a valid keep
    * decision). The trained artifacts aren't SQL-replayable, so the
    * contract is structural and total: the output is a PARTITION of
    * the corpus (every vector exactly once), every cluster has
    * exactly one canonical keeper, the keeper is the cluster's
    * minimum id, and is_canonical is exactly id == cluster_id —
    * each a property the decision step's consumers (data drop!)
    * silently corrupt on if violated. */
  val dSemdedupKeepTrained: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val n = emb.count()
      val cents = Similarity.trainQuantizer(emb, "embedding", "vec_id",
        Similarity.autoNlistPairs(n), 3)
      val centDf = {
        import s.implicits._
        cents.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("seed_id", "sv")
      }
      val keep = Dedup.clusters(
        Dedup.semanticPairs(emb, "embedding", "vec_id",
          centroids = Some(centDf), probes = 4),
        universe = Some(emb.select(col("vec_id"))))
      val total = keep.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) === countDistinct(col("id"))).as("ids_unique"),
        (sum(when(col("is_canonical") =!= (col("id") === col("cluster_id")),
          1L).otherwise(0L)) === 0L).as("canonical_iff_self_cluster"))
      val perCluster = keep.groupBy(col("cluster_id"))
        .agg(sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_canon"),
          min(col("id")).as("min_id"))
        .agg((min(col("n_canon")) === 1L && max(col("n_canon")) === 1L)
            .as("one_canonical_per_cluster"),
          (sum(when(col("cluster_id") === col("min_id"), 0L).otherwise(1L))
            === 0L).as("canonical_is_min"))
      total.crossJoin(perCluster)
        .select(col("n_rows"), col("ids_unique"),
          col("canonical_iff_self_cluster"),
          col("one_canonical_per_cluster"), col("canonical_is_min"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_rows, TRUE AS ids_unique,
             TRUE AS canonical_iff_self_cluster,
             TRUE AS one_canonical_per_cluster, TRUE AS canonical_is_min
      FROM embeddings"""))

  /** SemDeDup recall contract — the one quality axis d_semdedup's
    * hash oracle can't see: does the cluster-blocked pair set recover
    * the brute-force tau-pair set? Measured with TRAINED k-means
    * centroids (3 Lloyd rounds at autoNlist, the quality quantizer —
    * seeds-by-id is the deterministic oracle shape, not the production
    * one) and multi-probe blocking `probes = 4`: recall 0.91/0.78 at
    * sf0.01/sf0.1 on the capped truth (0.91/0.77 uncapped;
    * SURVEY §16.4a records both). Single-assignment probes=1
    * measures 0.25/0.18 — the paper's blocking trades exactly this
    * away, which is why the knob exists. Floor pinned under the worst
    * measurement, r7 PQ-contract methodology. The precision leg is
    * structural (every emitted pair carries its exact verified cosine
    * >= tau, so found ⊆ truth) — asserted anyway to pin the kernel. */
  val dSemdedupRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val n = emb.count()
      val cents = Similarity.trainQuantizer(emb, "embedding", "vec_id",
        Similarity.autoNlistPairs(n), 3)
      val centDf = {
        import s.implicits._
        cents.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("seed_id", "sv")
      }
      // truth capped to an id-prefix sample, the d_dedup_embed_recall
      // convention: recall over a uniform vector subset is the same
      // contract, and the O(n^2) brute baseline stays bounded while
      // the blocked side still runs the full corpus (the 10x probe
      // measured the UNCAPPED truth leg at 8.9x — the one
      // super-linear term in the row, and it was the oracle's, not
      // the operator's)
      val truth = Dedup.bruteEmbeddingPairs(
          emb.filter(col("vec_id") < 1000), "embedding", "vec_id")
        .select(col("id_a"), col("id_b"))
      val found = Dedup.semanticPairs(emb, "embedding", "vec_id",
          centroids = Some(centDf), probes = 4)
        .select(col("id_a"), col("id_b"), lit(1L).as("_hit"))
      val stats = truth.join(found, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("_n_true"),
          sum(coalesce(col("_hit"), lit(0L))).as("_n_hit"))
      // precision leg restricted to the capped id range — a found pair
      // with an id outside it is absent from truth by construction,
      // not a false positive
      val extra = found
        .filter(col("id_a") < 1000 && col("id_b") < 1000)
        .join(truth, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("_n_extra"))
      emb.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(stats).crossJoin(extra)
        .select(col("n_vectors"),
          (col("_n_hit").cast("double") / col("_n_true") >= 0.7)
            .as("recall_ok"),
          (col("_n_extra") === 0L).as("precision_ok"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_vectors, TRUE AS recall_ok,
             TRUE AS precision_ok
      FROM embeddings"""))

  // ---- similarity search ----

  /** Exact top-k is plain SQL: the oracle recomputes every cosine in
    * double (positional unnest-zip of the two float lists) and ranks
    * by the ROUNDED score + neighbor id, exactly as the Spark side
    * does — so the window tie-break is engine-independent. */
  val dAnnBrute: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id")
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      elems AS (
        SELECT q.query_id, c.neighbor_id,
               CAST(unnest(q.qv) AS DOUBLE) AS qe, CAST(unnest(c.cv) AS DOUBLE) AS ce
        FROM q, c
        WHERE c.neighbor_id <> q.query_id),
      scored AS (
        SELECT query_id, neighbor_id,
               round(SUM(qe*ce) / (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))), 4) AS cos
        FROM elems GROUP BY query_id, neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored)
      SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
      ORDER BY query_id, rnk"""))

  /** d_knn_graph — MUTUAL k-NN graph construction over the embedding
    * corpus: every node's top-3 cosine neighbors, kept as an edge only
    * when the relation is reciprocal (a in knn(b) AND b in knn(a)).
    * The mutual filter is the standard symmetrization for
    * density-based clustering and NN-descent seeding — one-directional
    * edges into hubs are what make raw k-NN graphs useless for
    * community structure, and mutuality removes exactly those.
    *
    * Engine parity: neighbor ranking uses the established rounded
    * cosine (round(cos,4), ties by neighbor id), and the edge weight
    * is the integer-scaled cosm = round(cos·10⁴) — the mutual join
    * then compares nothing float-valued.
    *
    * Scale shape: the graph is built here on the bounded node set the
    * oracle can replay (the first 600 vectors); at corpus scale
    * the shortlist generator swaps [[Similarity.bruteTopK]] for
    * [[Similarity.ivfTopK]] unchanged — the mutualization is a
    * self-join of the (n·k)-row directed edge list on the reversed
    * key, linear in edges, never in pairs. */
  /** d_record_link — ENTITY RESOLUTION / record linkage (the
    * Fellegi-Sunter pipeline shape): a dirty registry — every third
    * customer record re-enters with one character dropped at a
    * content-determined position, the house construct-the-corruption
    * device — links back to the clean table by DELETION-NEIGHBORHOOD
    * blocking (FastSS, Bocek et al. 2007 / the SymSpell device):
    * every record emits its name plus each delete-one-char variant as
    * a join key, and candidates are pairs sharing any key. The key
    * space GROWS with the corpus — candidate mass is measured
    * near-linear (878 pairs / 500 dirty at sf0.01, 10525 / 5000 at
    * sf0.1, ~2 per record at both SFs), unlike the previous
    * (nation, segment) blocking whose 125 CONSTANT blocks made the
    * candidate join O(n²/125) and ~600k levenshtein evaluations at
    * sf0.1. Recall of the true pair is structural, not heuristic: the
    * dirty name IS a delete-1 variant of its source, so the pair
    * always shares a key. Candidates are scored Fellegi-Sunter style
    * — `levenshtein()` (classic DP edit distance — INTEGER, and
    * byte-identical in Spark and DuckDB, which is why it is the match
    * score of choice over float similarities) plus an agreement
    * penalty of 2 per mismatched structured attribute (nation,
    * segment); best candidate per dirty record by (score, custkey)
    * rank. The attribute term matters: blocking alone surfaces lev-1
    * rivals from OTHER nations that the old within-block search never
    * saw, and score-by-lev-only drops precision to 0.875 (measured);
    * with the agreement penalty precision is 494/500 = 0.988 at
    * sf0.01 — the SAME six genuine ambiguities as the old design —
    * and 4918/5000 = 0.984 at sf0.1, both over the spec's ≥ 0.95
    * floor with 100% coverage at lev ≤ 1. */
  val dRecordLink: QueryDef = QueryDef(
    fn = (s, dir) => {
      val clean = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          concat(col("c_name"), lit(" "), col("c_mktsegment")).as("name"))
      val dirty = clean.filter(col("c_custkey") % 3 === 0)
        .select((col("c_custkey") + 10000000L).as("dirty_id"),
          col("c_nationkey"), col("c_mktsegment"),
          expr("""concat(
              substring(name, 1, cast(1 + c_custkey % (length(name) - 1) as int)),
              substring(name, cast(3 + c_custkey % (length(name) - 1) as int)))""")
            .as("dname"))
      // i = len+1 deletes nothing — the raw string rides as its own
      // key, so exact matches and one-sided deletions both collide.
      val ckeys = clean
        .select(col("c_custkey"),
          explode(expr("sequence(1, length(name) + 1)")).as("i"),
          col("name"))
        .select(col("c_custkey"),
          expr("concat(substring(name, 1, i - 1), substring(name, i + 1))")
            .as("key"))
        .distinct()
      val dkeys = dirty
        .select(col("dirty_id"),
          explode(expr("sequence(1, length(dname) + 1)")).as("i"),
          col("dname"))
        .select(col("dirty_id"),
          expr("concat(substring(dname, 1, i - 1), substring(dname, i + 1))")
            .as("key"))
        .distinct()
      val cand = dkeys.join(ckeys, "key")
        .select(col("dirty_id"), col("c_custkey")).distinct()
      // explicit aliases: dirty derives from clean, so bare column
      // refs on a self-join would hit the ambiguous-self-join trap
      val scored = cand
        .join(dirty.as("d"), "dirty_id").join(clean.as("c"), "c_custkey")
        .select(col("dirty_id"), col("c_custkey"),
          levenshtein(col("d.dname"), col("c.name")).cast("long").as("lev"),
          (when(col("d.c_nationkey") === col("c.c_nationkey"), 0L)
            .otherwise(1L) +
           when(col("d.c_mktsegment") === col("c.c_mktsegment"), 0L)
            .otherwise(1L)).as("attr_mismatch"))
      val w = Window.partitionBy(col("dirty_id"))
        .orderBy(col("lev") + lit(2L) * col("attr_mismatch"), col("c_custkey"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dirty_id"), col("c_custkey").as("matched_custkey"),
          col("lev"))
        .orderBy(col("dirty_id"))
    },
    oracle = Some("""
      WITH clean AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               c_name || ' ' || c_mktsegment AS name FROM customer),
      dirty AS (
        SELECT c_custkey + 10000000 AS dirty_id, c_nationkey, c_mktsegment,
               substring(name, 1,
                 CAST(1 + c_custkey % (length(name) - 1) AS INT)) ||
               substring(name,
                 CAST(3 + c_custkey % (length(name) - 1) AS INT)) AS dname
        FROM clean WHERE c_custkey % 3 = 0),
      cpos AS (
        SELECT c_custkey, name,
               unnest(generate_series(1, length(name) + 1)) AS i
        FROM clean),
      ckeys AS (
        SELECT DISTINCT c_custkey,
               substring(name, 1, CAST(i AS INT) - 1) ||
               substring(name, CAST(i AS INT) + 1) AS key
        FROM cpos),
      dpos AS (
        SELECT dirty_id, dname,
               unnest(generate_series(1, length(dname) + 1)) AS i
        FROM dirty),
      dkeys AS (
        SELECT DISTINCT dirty_id,
               substring(dname, 1, CAST(i AS INT) - 1) ||
               substring(dname, CAST(i AS INT) + 1) AS key
        FROM dpos),
      cand AS (
        SELECT DISTINCT d.dirty_id, c.c_custkey
        FROM dkeys d JOIN ckeys c USING (key)),
      scored AS (
        SELECT n.dirty_id, n.c_custkey,
               CAST(levenshtein(d.dname, c.name) AS BIGINT) AS lev,
               CAST(CASE WHEN d.c_nationkey = c.c_nationkey
                    THEN 0 ELSE 1 END
                  + CASE WHEN d.c_mktsegment = c.c_mktsegment
                    THEN 0 ELSE 1 END AS BIGINT) AS attr_mismatch
        FROM cand n JOIN dirty d USING (dirty_id)
             JOIN clean c USING (c_custkey))
      SELECT dirty_id, c_custkey AS matched_custkey, lev
      FROM (
        SELECT *, row_number() OVER (PARTITION BY dirty_id
                 ORDER BY lev + 2 * attr_mismatch, c_custkey) AS rn
        FROM scored) WHERE rn = 1
      ORDER BY dirty_id"""))

  /** d_embed_outlier — kth-NN DISTANCE outlier detection in embedding
    * space (Ramaswamy/Rastogi/Shim 2000, the standard
    * density-agnostic outlier score): a vector whose 5th-nearest
    * cosine is low sits isolated — mislabeled content, encoder
    * failures, off-distribution injections; the curation signal next
    * to [[dSemdedup]]'s too-CLOSE flags. Score = integer
    * cosm5 = round(cos₅·10⁴); flag at cosm5 < 2600, the measured p05
    * of the corpus (0.26/0.27 at the two SFs against a 0.24 min —
    * the isolated tail, not a fixed magic number). Bounded node set
    * (first 600) exactly like d_knn_graph so the oracle replays all
    * pairs; at corpus scale the shortlist generator swaps
    * [[Similarity.bruteTopK]] for [[Similarity.ivfTopK]] unchanged —
    * the kth-of-shortlist projection is index-agnostic. */
  val dEmbedOutlier: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 600)
      Similarity.bruteTopK(nodes, nodes, "embedding", "vec_id", k = 5)
        .filter(col("rnk") === 5)
        .select(col("query_id").as("vec_id"),
          expr("cast(round(cos * 10000) as bigint)").as("cosm5"))
        .withColumn("is_outlier", col("cosm5") < 2600)
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      WITH nodes AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600),
      elems AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               CAST(unnest(q.embedding) AS DOUBLE) AS qe,
               CAST(unnest(c.embedding) AS DOUBLE) AS ce
        FROM nodes q, nodes c
        WHERE c.vec_id <> q.vec_id),
      scored AS (
        SELECT qid, nid,
               round(SUM(qe*ce) / (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))), 4)
                 AS cos
        FROM elems GROUP BY qid, nid),
      k5 AS (
        SELECT qid, cos FROM (
          SELECT qid, cos,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, nid) AS rnk
          FROM scored) WHERE rnk = 5)
      SELECT qid AS vec_id,
             CAST(round(cos * 10000) AS BIGINT) AS cosm5,
             CAST(round(cos * 10000) AS BIGINT) < 2600 AS is_outlier
      FROM k5 ORDER BY vec_id"""))

  val dKnnGraph: QueryDef = QueryDef(
    fn = (s, dir) =>
      Similarity.mutualKnnGraph(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 600),
        "embedding", "vec_id", k = 3),
    oracle = Some("""
      WITH nodes AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600),
      elems AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               CAST(unnest(q.embedding) AS DOUBLE) AS qe,
               CAST(unnest(c.embedding) AS DOUBLE) AS ce
        FROM nodes q, nodes c
        WHERE c.vec_id <> q.vec_id),
      scored AS (
        SELECT qid, nid,
               round(SUM(qe*ce) / (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))), 4)
                 AS cos
        FROM elems GROUP BY qid, nid),
      knn AS (
        SELECT qid AS a, nid AS b,
               CAST(round(cos * 10000) AS BIGINT) AS cosm
        FROM (
          SELECT qid, nid, cos,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, nid) AS rnk
          FROM scored) WHERE rnk <= 3)
      SELECT x.a, x.b, x.cosm
      FROM knn x JOIN knn y ON x.a = y.b AND x.b = y.a
      WHERE x.a < x.b
      ORDER BY x.a, x.b"""))

  /** Shared oracle CTE prologue for the NN-descent pair: all pairwise
    * rounded cosines on the bounded node set, the two-blocking seed
    * ([[Similarity.blockedTopK]]: id mod 4 ∪ id div 4 mod 4), then TWO
    * descent rounds ([[Similarity.nnDescentRound]]) — each round =
    * undirected adjacency, 2-hop candidates, re-rank top-5.
    * MATERIALIZED per repo convention — each round's graph is
    * referenced twice downstream and DuckDB would otherwise re-inline
    * the 600²-cosine subtree. */
  private val knnDescentCtes = """
      WITH nodes AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600),
      elems AS (
        SELECT q.vec_id AS a, c.vec_id AS b,
               CAST(unnest(q.embedding) AS DOUBLE) AS qe,
               CAST(unnest(c.embedding) AS DOUBLE) AS ce
        FROM nodes q, nodes c
        WHERE c.vec_id <> q.vec_id),
      pairs AS MATERIALIZED (
        SELECT a, b,
               round(SUM(qe*ce) / (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))), 4)
                 AS cos
        FROM elems GROUP BY a, b),
      seed AS MATERIALIZED (
        SELECT a, b, cos, rnk FROM (
          SELECT a, b, cos,
                 row_number() OVER (PARTITION BY a
                   ORDER BY cos DESC, b) AS rnk
          FROM (SELECT a, b, cos FROM pairs WHERE a % 4 = b % 4
                UNION
                SELECT a, b, cos FROM pairs
                WHERE (a // 4) % 4 = (b // 4) % 4))
        WHERE rnk <= 5),
      und1 AS MATERIALIZED (
        SELECT a AS v, b AS u FROM seed
        UNION
        SELECT b AS v, a AS u FROM seed),
      cand1 AS (
        SELECT v, u FROM und1
        UNION
        SELECT e1.v AS v, e2.u AS u
        FROM und1 e1 JOIN und1 e2 ON e1.u = e2.v
        WHERE e1.v <> e2.u),
      g1 AS MATERIALIZED (
        SELECT a, b, cos, rnk FROM (
          SELECT c.v AS a, c.u AS b, p.cos,
                 row_number() OVER (PARTITION BY c.v
                   ORDER BY p.cos DESC, c.u) AS rnk
          FROM cand1 c JOIN pairs p ON p.a = c.v AND p.b = c.u)
        WHERE rnk <= 5),
      und2 AS MATERIALIZED (
        SELECT a AS v, b AS u FROM g1
        UNION
        SELECT b AS v, a AS u FROM g1),
      cand2 AS (
        SELECT v, u FROM und2
        UNION
        SELECT e1.v AS v, e2.u AS u
        FROM und2 e1 JOIN und2 e2 ON e1.u = e2.v
        WHERE e1.v <> e2.u),
      g2 AS MATERIALIZED (
        SELECT a, b, cos, rnk FROM (
          SELECT c.v AS a, c.u AS b, p.cos,
                 row_number() OVER (PARTITION BY c.v
                   ORDER BY p.cos DESC, c.u) AS rnk
          FROM cand2 c JOIN pairs p ON p.a = c.v AND p.b = c.u)
        WHERE rnk <= 5)"""

  /** d_knn_descent — TWO NN-DESCENT refinement rounds (Dong et al.
    * 2011, WWW) over a deliberately-approximate blocked seed graph:
    * the seed is each node's top-5 within two cross-cutting id
    * blockings ([[Similarity.blockedTopK]] — the SQL-replayable
    * stand-in for the multi-table-LSH shortlists a production build
    * seeds from; a single blocking is a measured fixed point, see the
    * function's scaladoc), and each round re-ranks every node against
    * its neighbors and neighbors-of-neighbors over the UNDIRECTED
    * current graph ([[Similarity.nnDescentRound]]) — exact cosines on
    * candidate pairs ONLY, O(n·k²) per round, never n². The frontier
    * runs at k=5 (over-provisioned vs the k=3 the consumer wants,
    * the paper's own discipline). [[dKnnDescentRecall]] is the
    * oracled proof each round repairs recall. */
  val dKnnDescent: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 600)
      val seed = Similarity.blockedTopK(nodes, "embedding", "vec_id",
        k = 5, blocks = 4)
      val g1 = Similarity.nnDescentRound(nodes, seed, "embedding", "vec_id", k = 5)
      Similarity.nnDescentRound(nodes, g1, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos") * 10000).cast("long").as("cosm"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
    oracle = Some(knnDescentCtes + """
      SELECT a AS query_id, b AS neighbor_id,
             CAST(round(cos * 10000) AS BIGINT) AS cosm, rnk
      FROM g2
      ORDER BY query_id, rnk"""))

  /** d_knn_descent_recall — the contract behind [[dKnnDescent]]:
    * recall@3 against the global brute top-3 at each stage (seed,
    * after round 1, after round 2), as integer percents
    * (100·hits div total). Pins that EVERY round strictly improves
    * recall and that the final graph clears an absolute floor —
    * measured 43→53→57 at sf0.01 and 44→53→56 at sf0.1 on the
    * 600-node set, floor pinned at 50. The per-round improvement, not
    * the absolute number, is the algorithm's claim (this synthetic
    * embedding space is near-random — true top-3 neighbors are only
    * ~10% same-label — which is exactly the regime the paper flags as
    * hard); on corpus data with real neighborhood structure the same
    * loop converges toward 1.0. */
  val dKnnDescentRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 600)
      val seed = Similarity.blockedTopK(nodes, "embedding", "vec_id",
        k = 5, blocks = 4)
      val g1 = Similarity.nnDescentRound(nodes, seed, "embedding", "vec_id", k = 5)
      val g2 = Similarity.nnDescentRound(nodes, g1, "embedding", "vec_id", k = 5)
      def top3(g: DataFrame) = g.filter(col("rnk") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      val brute = Similarity.bruteTopK(nodes, nodes, "embedding", "vec_id", k = 3)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
      val total = brute.agg(count(lit(1)).as("n_brute"))
      val seedHits = brute.intersect(top3(seed)).agg(count(lit(1)).as("seed_hits"))
      val r1Hits = brute.intersect(top3(g1)).agg(count(lit(1)).as("r1_hits"))
      val r2Hits = brute.intersect(top3(g2)).agg(count(lit(1)).as("r2_hits"))
      total.crossJoin(seedHits).crossJoin(r1Hits).crossJoin(r2Hits)
        .select(col("n_brute"),
          expr("(100 * seed_hits) div n_brute").as("seed_pct"),
          expr("(100 * r1_hits) div n_brute").as("r1_pct"),
          expr("(100 * r2_hits) div n_brute").as("r2_pct"),
          expr("(100 * r1_hits) div n_brute > " +
            "(100 * seed_hits) div n_brute").as("improved_r1"),
          expr("(100 * r2_hits) div n_brute > " +
            "(100 * r1_hits) div n_brute").as("improved_r2"),
          expr("(100 * r2_hits) div n_brute >= 50").as("refined_ok"))
    },
    oracle = Some(knnDescentCtes + """,
      brute AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT a, b,
                 row_number() OVER (PARTITION BY a
                   ORDER BY cos DESC, b) AS rnk
          FROM pairs) WHERE rnk <= 3),
      counts AS (
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM brute) AS n_brute,
          (SELECT CAST(count(*) AS BIGINT)
           FROM (SELECT a, b FROM brute INTERSECT
                 SELECT a, b FROM seed WHERE rnk <= 3)) AS seed_hits,
          (SELECT CAST(count(*) AS BIGINT)
           FROM (SELECT a, b FROM brute INTERSECT
                 SELECT a, b FROM g1 WHERE rnk <= 3)) AS r1_hits,
          (SELECT CAST(count(*) AS BIGINT)
           FROM (SELECT a, b FROM brute INTERSECT
                 SELECT a, b FROM g2 WHERE rnk <= 3)) AS r2_hits)
      SELECT n_brute,
             (100 * seed_hits) // n_brute AS seed_pct,
             (100 * r1_hits) // n_brute AS r1_pct,
             (100 * r2_hits) // n_brute AS r2_pct,
             (100 * r1_hits) // n_brute > (100 * seed_hits) // n_brute
               AS improved_r1,
             (100 * r2_hits) // n_brute > (100 * r1_hits) // n_brute
               AS improved_r2,
             (100 * r2_hits) // n_brute >= 50 AS refined_ok
      FROM counts"""))

  /** Shared oracle CTE prologue for the graph-search pair: bounded
    * node set, all-pairs integer cosines, the directed k=8 kNN base
    * graph, undirected adjacency, PLUS the HNSW upper layer — a
    * ≈√n-node coarse subset (vec_id % 25 = 1, 24 nodes) with its own
    * k=4 kNN graph, beam-searched (beam 8, 3 unrolled rounds) from
    * the single fixed entry vec_id = 1; each query's upper top-4
    * become its personal base entries, then FOUR unrolled base
    * rounds at beam 24 ([[Similarity.graphSearchTopKLayered]]
    * semantics: expand beam neighbors, score exactly, keep
    * integer-ranked survivors). MATERIALIZED per repo convention —
    * every round's beam is referenced twice downstream (next round's
    * carry + expansion). */
  private val graphSearchCtes: String = {
    val upperRounds = (1 to 1).map { r =>
      s"""
      uc$r AS (
        SELECT qid, cand FROM ub${r - 1} WHERE rnk <= 8
        UNION
        SELECT b.qid, a.u AS cand
        FROM ub${r - 1} b JOIN uadj a ON a.v = b.cand
        WHERE b.rnk <= 8),
      ub$r AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM uc$r x JOIN scored s
                ON s.a = x.qid AND s.b = x.cand))"""
    }.mkString(",")
    val rounds = (1 to 4).map { r =>
      s"""
      c$r AS (
        SELECT qid, cand FROM b${r - 1} WHERE rnk <= 24
        UNION
        SELECT b.qid, a.u AS cand
        FROM b${r - 1} b JOIN adj a ON a.v = b.cand
        WHERE b.rnk <= 24),
      b$r AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM c$r x JOIN scored s
                ON s.a = x.qid AND s.b = x.cand))"""
    }.mkString(",")
    s"""
      WITH nodes AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600),
      elems AS (
        SELECT q.vec_id AS a, c.vec_id AS b,
               CAST(unnest(q.embedding) AS DOUBLE) AS qe,
               CAST(unnest(c.embedding) AS DOUBLE) AS ce
        FROM nodes q, nodes c
        WHERE c.vec_id <> q.vec_id),
      scored AS MATERIALIZED (
        SELECT a, b,
               CAST(round(SUM(qe*ce) /
                 (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))) * 10000)
                 AS BIGINT) AS cosm
        FROM elems GROUP BY a, b),
      knn AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT a, b, row_number() OVER (PARTITION BY a
                   ORDER BY cosm DESC, b) AS rnk
          FROM scored) WHERE rnk <= 8),
      adj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM knn
        UNION
        SELECT b AS v, a AS u FROM knn),
      upper_nodes AS (SELECT vec_id FROM nodes WHERE vec_id % 25 = 1),
      uknn AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT s.a, s.b, row_number() OVER (PARTITION BY s.a
                   ORDER BY s.cosm DESC, s.b) AS rnk
          FROM scored s JOIN upper_nodes x ON s.a = x.vec_id
               JOIN upper_nodes y ON s.b = y.vec_id) WHERE rnk <= 4),
      uadj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM uknn
        UNION
        SELECT b AS v, a AS u FROM uknn),
      qs AS (SELECT vec_id AS qid FROM nodes WHERE vec_id % 50 = 0),
      ub0 AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM (SELECT qid, 1 AS cand FROM qs) x
              JOIN scored s ON s.a = x.qid AND s.b = x.cand)),$upperRounds,
      entries AS (SELECT qid, cand FROM ub1 WHERE rnk <= 4),
      b0 AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM entries x
              JOIN scored s ON s.a = x.qid AND s.b = x.cand)),$rounds"""
  }

  /** d_ann_graph — GRAPH-BASED ANN (the HNSW/DiskANN search shape,
    * now genuinely LAYERED): a coarse √n upper layer (24 nodes,
    * vec_id % 25 = 1, its own k=4 kNN graph) is beam-searched first
    * from one fixed global entry; each query's upper top-4 become
    * its PERSONAL entry points into the base layer — a directed k=8
    * kNN graph (HNSW's typical M) searched 4 rounds at beam 24
    * (efSearch), final top-5
    * ([[Similarity.graphSearchTopKLayered]]). The shape was
    * CALIBRATED by measurement through the SQL replay: the first cut
    * (k=4 graph, 3 seeds, beam 8) scored recall@5 = 16%; the r12
    * single-layer shape (15 spread seeds, beam 16) reached 82/75 at
    * sf0.01/sf0.1 — and the sweep showed its residual losses split
    * by SF: routing-limited at sf0.01 (upper layer alone lifts it to
    * 90) and beam-limited at sf0.1 (beam 24 alone lifts it to 90).
    * The layered shape closes both: 94/85 measured at ONE upper
    * round (the sweep: 1/2/3 upper rounds score 94/92/92 at sf0.01,
    * 85/85/90 at sf0.1 — each extra round is a sequential Spark job,
    * so the single-round shape is the cost/recall knee), floor 80
    * at both SFs. The graphs here
    * are exact bounded-set kNN builds (as in d_knn_graph); at corpus
    * scale the build swaps to [[Similarity.blockedTopK]] +
    * [[Similarity.nnDescentRound]] unchanged, and the upper layer
    * stays a uniform id-sample — HNSW's level assignment. Every
    * round ranks by INTEGER cosm with id ties, so the full search —
    * both layers, every beam, every round — replays in SQL; this is
    * the one ANN family whose approximate RESULT is fully oracled,
    * not contract-covered. */
  val dAnnGraph: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 600)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val graph = Similarity.bruteTopK(nodes, nodes, "embedding",
          "vec_id", k = 8)
        .select(col("query_id"), col("neighbor_id"))
      val upperNodes = nodes.filter(col("vec_id") % 25 === 1)
      val upperGraph = Similarity.bruteTopK(upperNodes, upperNodes,
          "embedding", "vec_id", k = 4)
        .select(col("query_id"), col("neighbor_id"))
      val queries = nodes.filter(col("vec_id") % 50 === 0)
      val out = Similarity.graphSearchTopKLayered(nodes, queries,
          graph, upperGraph, "embedding", "vec_id", k = 5)
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some(graphSearchCtes + """
      SELECT qid AS query_id, cand AS neighbor_id, cosm, rnk
      FROM b4 WHERE rnk <= 5
      ORDER BY query_id, rnk"""))

  /** d_ann_graph_recall — the quality measurement behind
    * [[dAnnGraph]]: recall@5 of the beam search against the brute
    * top-5 on the same node set, as an exact integer percentage
    * computed identically in both engines (the search is
    * deterministic, so this is a pinned PROPERTY, not a tolerance).
    * The measured values are 94%/85% at sf0.01/sf0.1 (floor 80, up
    * from the single-layer 82/75 at floor 70) — the r12 losses were
    * greedy-routing local minima plus beam-width truncation, and the
    * upper layer + beam 24 close them. */
  val dAnnGraphRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 600)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val graph = Similarity.bruteTopK(nodes, nodes, "embedding",
          "vec_id", k = 8)
        .select(col("query_id"), col("neighbor_id"))
      val upperNodes = nodes.filter(col("vec_id") % 25 === 1)
      val upperGraph = Similarity.bruteTopK(upperNodes, upperNodes,
          "embedding", "vec_id", k = 4)
        .select(col("query_id"), col("neighbor_id"))
      val queries = nodes.filter(col("vec_id") % 50 === 0)
      val approx = Similarity.graphSearchTopKLayered(nodes, queries,
          graph, upperGraph, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val brute = Similarity.bruteTopK(nodes, queries, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val out = brute.agg(count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .select(col("n_brute"),
          expr("(100 * hits) div n_brute").as("recall_pct"),
          expr("(100 * hits) div n_brute >= 80").as("recall_ok"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some(graphSearchCtes + """,
      brute AS (
        SELECT a, b FROM (
          SELECT a, b, row_number() OVER (PARTITION BY a
                   ORDER BY cosm DESC, b) AS rnk
          FROM scored WHERE a % 50 = 0) WHERE rnk <= 5),
      counts AS (
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM brute) AS n_brute,
          (SELECT CAST(count(*) AS BIGINT)
           FROM (SELECT a, b FROM brute INTERSECT
                 SELECT qid, cand FROM b4 WHERE rnk <= 5)) AS hits)
      SELECT n_brute,
             (100 * hits) // n_brute AS recall_pct,
             (100 * hits) // n_brute >= 80 AS recall_ok
      FROM counts"""))

  /** MMR-diversified retrieval (Carbonell & Goldstein 1998): the
    * brute top-30 shortlist per query re-ranked by maximal marginal
    * relevance — each of 10 greedy picks maximizes
    * 0.7·rel − 0.3·max-sim-to-already-picked, trading relevance
    * against redundancy (the diversified top-k a retrieval API
    * serves when near-duplicate neighbors waste result slots).
    *
    * Engine parity: relevance and pairwise similarities quantize to
    * integers FIRST (round(cos,4)·10⁴ — the established ANN rounding
    * convention), so the greedy loop itself is pure integer
    * comparison: score = 7·relm − 3·maxsim, ties to the smaller id.
    * The oracle replays all 10 picks exactly (unrolled argmax CTEs
    * from a generator loop).
    *
    * Scale shape: the shortlist is bounded (30/query), so the
    * pairwise-sim join and the greedy flatMapGroups are
    * per-query-bounded work (≤30² integer rows per group) riding a
    * corpus-linear brute scan — swap [[Similarity.ivfTopK]] in for
    * the shortlist at larger corpora, the MMR stage is unchanged. */
  val dAnnMmr: QueryDef = QueryDef(
    fn = (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val short = Similarity.bruteTopK(emb, queries, "embedding", "vec_id",
          k = 30)
        .select(col("query_id"), col("neighbor_id").as("id"),
          round(col("cos") * 10000).cast("long").as("relm"))
      val vecs = emb.select(col("vec_id"), col("embedding"))
      val withVec = short
        .join(vecs, col("id") === col("vec_id"))
        .select(col("query_id"), col("id"), col("relm"),
          col("embedding").as("v"))
      val pairs = withVec.as("a")
        .join(withVec.as("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.id") =!= col("b.id"))
        .select(col("a.query_id").as("query_id"), col("a.id").as("a_id"),
          col("a.relm").as("relm"), col("b.id").as("b_id"),
          round(round(Similarity.cosine(col("a.v"), col("b.v")), 4) * 10000)
            .cast("long").as("simm"))
        .as[(Long, Long, Long, Long, Long)]
      pairs.groupByKey(_._1).flatMapGroups { (qid, it) =>
        val rows = it.toArray
        val relOf = rows.map(r => r._2 -> r._3).toMap
        val sim = rows.map(r => (r._2, r._4) -> r._5).toMap
        val ids = relOf.keys.toArray.sorted
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long)]
        var rnk = 1L
        while (rnk <= 10 && selected.size < ids.length) {
          var bestId = -1L
          var bestScore = Long.MinValue
          ids.foreach { id => // ascending + strict '>': ties keep min id
            if (!selected.contains(id)) {
              val ms =
                if (selected.isEmpty) 0L
                else selected.map(sid => sim.getOrElse((id, sid), 0L)).max
              val score = 7L * relOf(id) - 3L * ms
              if (score > bestScore) { bestScore = score; bestId = id }
            }
          }
          selected += bestId
          out += ((qid, rnk, bestId, bestScore))
          rnk += 1
        }
        out.iterator
      }.toDF("query_id", "rnk", "vec_id", "mmr_score")
        .orderBy(col("query_id"), col("rnk"))
    },
    oracle = Some {
      val steps = (2 to 10).map { i =>
        s"""m$i AS MATERIALIZED (
        SELECT r.query_id, r.id, r.relm, max(sp.simm) AS ms
        FROM rel r
        JOIN spairs sp ON sp.query_id = r.query_id AND sp.a_id = r.id
        JOIN selacc${i - 1} s ON s.query_id = sp.query_id
                             AND s.id = sp.b_id
        WHERE NOT EXISTS (SELECT 1 FROM selacc${i - 1} x
                          WHERE x.query_id = r.query_id AND x.id = r.id)
        GROUP BY 1, 2, 3),
      s$i AS MATERIALIZED (
        SELECT query_id, id, score FROM (
          SELECT query_id, id, 7 * relm - 3 * ms AS score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY 7 * relm - 3 * ms DESC, id) AS rn
          FROM m$i) WHERE rn = 1),
      selacc$i AS MATERIALIZED (SELECT query_id, id FROM selacc${i - 1}
                   UNION ALL SELECT query_id, id FROM s$i)"""
      }.mkString(",\n      ")
      val unions = (1 to 10)
        .map(i => s"SELECT query_id, CAST($i AS BIGINT) AS rnk, id, score FROM s$i")
        .mkString("\n        UNION ALL ")
      s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      elems AS (
        SELECT q.query_id, c.neighbor_id,
               CAST(unnest(q.qv) AS DOUBLE) AS qe,
               CAST(unnest(c.cv) AS DOUBLE) AS ce
        FROM q, c WHERE c.neighbor_id <> q.query_id),
      scored AS (
        SELECT query_id, neighbor_id,
               round(SUM(qe*ce) / (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))), 4)
                 AS cos
        FROM elems GROUP BY query_id, neighbor_id),
      rel AS MATERIALIZED (
        SELECT query_id, neighbor_id AS id,
               CAST(round(cos * 10000) AS BIGINT) AS relm
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
        WHERE rnk <= 30),
      pel AS (
        SELECT a.query_id, a.id AS a_id, b.id AS b_id,
               CAST(unnest(va.embedding) AS DOUBLE) AS xe,
               CAST(unnest(vb.embedding) AS DOUBLE) AS ye
        FROM rel a
        JOIN rel b ON a.query_id = b.query_id AND a.id <> b.id
        JOIN embeddings va ON va.vec_id = a.id
        JOIN embeddings vb ON vb.vec_id = b.id),
      spairs AS MATERIALIZED (
        SELECT query_id, a_id, b_id,
               CAST(round(round(SUM(xe*ye) / (sqrt(SUM(xe*xe))
                 * sqrt(SUM(ye*ye))), 4) * 10000) AS BIGINT) AS simm
        FROM pel GROUP BY 1, 2, 3),
      s1 AS MATERIALIZED (
        SELECT query_id, id, 7 * relm AS score FROM (
          SELECT query_id, id, relm,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY relm DESC, id) AS rn
          FROM rel) WHERE rn = 1),
      selacc1 AS MATERIALIZED (SELECT query_id, id FROM s1),
      $steps
      SELECT query_id, rnk, id AS vec_id, CAST(score AS BIGINT) AS mmr_score
      FROM ($unions)
      ORDER BY query_id, rnk"""
    })

  val dAnnIvf: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id")
    },
    oracle = None)

  val dAnnLsh: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id")
    },
    oracle = None)

  /** Driver-checkable aggregate recall for an approximate top-k vs the
    * exact brute-force baseline. An approximate index's exact output
    * can't be replayed in SQL, but its CONTRACT can: total hits /
    * total exact neighbors >= `minRecall`, deterministic because every
    * ingredient (centroid seeds, hyperplanes, tie-breaks) is. The
    * oracle's literal TRUE only matches when the index actually
    * delivers. */
  private def annRecall(approx: DataFrame, exact: DataFrame,
      minRecall: Double): DataFrame = {
    val hits = approx.as("a").join(exact.as("e"),
        col("a.query_id") === col("e.query_id") &&
          col("a.neighbor_id") === col("e.neighbor_id"))
      .groupBy(col("a.query_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        recallAtLeast(sum(coalesce(col("n_hits"), lit(0L))),
          coalesce(sum(col("n_exact")), lit(0L)), minRecall).as("recall_ok"))
  }

  /** hits / total ≥ `floor`, and true when there is nothing to recall:
    * an empty corpus has no probe queries, so no recall floor to miss. */
  private[operators] def recallAtLeast(hits: Column, total: Column,
      floor: Double): Column =
    when(total === 0, true).otherwise(hits.cast("double") / total >= floor)

  private val recallOracleSql: String = """
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
      FROM embeddings WHERE vec_id < 10"""

  /** Driver-checkable precision contract, complementing [[annRecall]]:
    * at least `minFrac` of the neighbors the approximate index returns
    * must score within `eps` of the exact kth-best cosine for their
    * query (the returned `cos` IS the true cosine — the index
    * approximates the candidate set, never the score). Also pins
    * n_returned = k per query: an index that degrades by returning
    * thin candidate sets fails the row count. */
  private def annPrecision(approx: DataFrame, exact: DataFrame,
      eps: Double, minFrac: Double): DataFrame = {
    val kth = exact.groupBy(col("query_id")).agg(min(col("cos")).as("kth_cos"))
    approx.join(kth, Seq("query_id"))
      .agg(count(lit(1)).as("n_returned"),
        (sum(when(col("cos") >= col("kth_cos") - eps, 1L).otherwise(0L))
          .cast("double") / count(lit(1)) >= minFrac).as("precision_ok"))
  }

  private val precisionOracleSql: String = """
      SELECT CAST(5 * count(*) AS BIGINT) AS n_returned, TRUE AS precision_ok
      FROM embeddings WHERE vec_id < 10"""

  val dAnnIvfPrecision: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      // explicit nlist/nprobe pin the contract's shape (the default is
      // corpus-sized via autoNlist, which would move the measured
      // recall/precision as SF changes)
      annPrecision(
        Similarity.ivfTopK(emb, q, "embedding", "vec_id", nlist = 16, nprobe = 4),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"),
        eps = 0.05, minFrac = 1.0)
    },
    oracle = Some(precisionOracleSql))

  /** Domain clustering quality contract: k-means (k=16, 2 Lloyd
    * rounds, deterministic seeds) must beat the one-centroid baseline
    * (global mean vector) on mean cosine-to-assigned-centroid by a
    * measured margin, with every cluster non-empty. The booleans and
    * counts are engine-stable; the float means feed only the margin
    * compare, never a hash. */
  val dClusterKmeans: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val assigned = Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 16, iters = 2)
      // k=1, one Lloyd round: the centroid converges to the global
      // mean — the no-clustering baseline
      val baseline = Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 1, iters = 1)
        .select(col("vec_id"), col("cos_centroid").as("cos_global"))
      assigned.join(baseline, Seq("vec_id"))
        .agg(count(lit(1)).as("n_vectors"),
          countDistinct(col("cluster")).as("n_clusters"),
          (avg(col("cos_centroid")) - avg(col("cos_global")) >= 0.05)
            .as("improve_ok"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(16 AS BIGINT) AS n_clusters, TRUE AS improve_ok
      FROM embeddings"""))

  /** d_ann_filtered — FILTERED vector search, exact path
    * ([[Similarity.bruteTopKFiltered]]): top-5 cosine neighbors among
    * only the corpus rows sharing the query's label — the
    * metadata-constrained search every production vector store
    * answers (FAISS IDSelector / payload filters), with the filter
    * applied BEFORE ranking so result sets are never thin. Fully
    * SQL-oracled like d_ann_brute, one label-equality deeper. */
  val dAnnFiltered: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.bruteTopKFiltered(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", "label")
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
            FROM embeddings),
      elems AS (
        SELECT q.query_id, c.neighbor_id,
               CAST(unnest(q.qv) AS DOUBLE) AS qe, CAST(unnest(c.cv) AS DOUBLE) AS ce
        FROM q, c
        WHERE c.neighbor_id <> q.query_id AND c.nl = q.ql),
      scored AS (
        SELECT query_id, neighbor_id,
               round(SUM(qe*ce) / (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))), 4) AS cos
        FROM elems GROUP BY query_id, neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored)
      SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
      ORDER BY query_id, rnk"""))

  /** The recall contract for the POST-FILTER index path
    * ([[Similarity.ivfTopKFiltered]]): k·16 oversampled IVF
    * candidates pruned by the label predicate must recover the
    * filtered-exact top-5. Oversample ≳ 1/selectivity (10 labels →
    * s = 0.1 → 16 ≥ 10) is the sizing rule the scaladoc states;
    * measured recall ≥ the pinned floor at both SFs. */
  val dAnnFilteredRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.ivfTopKFiltered(emb, q, "embedding", "vec_id", "label",
          nlist = 16, nprobe = 8),
        Similarity.bruteTopKFiltered(emb, q, "embedding", "vec_id", "label"),
        0.7)
    },
    oracle = Some(recallOracleSql))

  val dAnnLshPrecision: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annPrecision(
        Similarity.lshTopK(emb, q, "embedding", "vec_id", tables = 24, bits = 4),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"),
        eps = 0.05, minFrac = 0.9)
    },
    oracle = Some(precisionOracleSql))

  /** Product-quantization ANN top-k — approximate scores (ADC cosine
    * over one 8-byte code per corpus row), rows-only; quality pinned by
    * d_ann_pq_recall + d_ann_pq_fidelity. */
  val dAnnPq: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id")
    },
    oracle = None)

  /** PQ recall contracts the RERANKED path (code-scan shortlist of 100
    * by ADC score, exact-cosine re-rank to 5 — the production shape):
    * this corpus's true top-5 sit in tightly packed background
    * similarity (~0.3-0.4 cos, gaps under the ~0.04 ADC score error),
    * so raw-ADC rank order is not a stable contract but membership in
    * a 100-deep candidate set is — measured 1.0 recall at sf0.01, 0.94
    * at sf0.1; pinned at 0.7. */
  val dAnnPqRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.pqTopK(emb, q, "embedding", "vec_id", rerank = 100),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.7)
    },
    oracle = Some(recallOracleSql))

  /** PQ-specific contract, the analogue of annPrecision for an index
    * whose SCORES (not just candidates) are approximate: over every
    * returned neighbor, the ADC cosine must sit close to the true
    * cosine of the same pair — mean |cos_pq - cos| bounded, plus the
    * row count pins k per query. The bound reflects codebook quality
    * (8 subspaces x 256 centroids on 64-dim: measured mean error 0.039
    * at sf0.01, 0.052 at sf0.1 — returned-pair composition shifts it
    * slightly with the corpus), pinned at 0.08. */
  val dAnnPqFidelity: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val pq = Similarity.pqTopK(emb, q, "embedding", "vec_id")
        .join(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))), "query_id")
      // corpus scanned once; the (queries x k) pq result broadcasts in
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .join(broadcast(pq), "neighbor_id")
        .select(abs(col("cos_pq") -
          Bridge.column(CosineSim(Bridge.expression(col("qv")),
            Bridge.expression(col("cv"))))).as("err"))
        .agg(count(lit(1)).as("n_scored"),
          (avg(col("err")) <= 0.08).as("fidelity_ok"))
    },
    oracle = Some("""
      SELECT CAST(5 * count(*) AS BIGINT) AS n_scored, TRUE AS fidelity_ok
      FROM embeddings WHERE vec_id < 10"""))

  /** Scalar-quantization (SQ8) ANN top-k — approximate scores over
    * dim-byte codes (4x compression at float32 input), rows-only;
    * quality pinned by d_ann_sq_recall + d_ann_sq_fidelity. */
  val dAnnSq: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id")
    },
    oracle = None)

  /** SQ8 recall contracts the RAW-score path — no rerank: per-dimension
    * resolution (error <= span_i/510 per coordinate) keeps rank order
    * near-exact, unlike PQ where only the reranked path is stable.
    * Measured 1.0 at sf0.01, 0.96 at sf0.1 (SURVEY §17); pinned
    * at 0.9. */
  val dAnnSqRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.sq8TopK(emb, q, "embedding", "vec_id"),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.9)
    },
    oracle = Some(recallOracleSql))

  /** Deterministic list assignment against the SEED quantizer (the
    * first 16 corpus vectors as centroids — the SQL-replayable
    * stand-in for a trained artifact; the MAINTENANCE semantics this
    * query pins is quantizer-agnostic): integer-cosine argmax with
    * centroid-id ties via one max(struct) partial aggregate — the
    * corpus is never window-shuffled, assignment is map-side work
    * against 16 broadcast rows. */
  private[graft] def ivfSeedCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  private[graft] def ivfAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        round(Similarity.cosine(col("embedding"), col("cvec")) * 10000)
          .cast("long").as("cosm"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosm"), (-col("cid")).as("ncid"))).as("best"))
      .select(col("vec_id"), (-col("best.ncid")).as("cid"))
  }

  /** IVF index-maintenance store: the base (even) half's list
    * assignments, written to parquet once per session and read back. */
  private[graft] def ivfListStore(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.Stores.memo(s, ("ivfstore", dir)) {
      val path = graft.Stores.tmpDir(s, "ivfstore")
      val emb = Tables.load(s, dir, "embeddings")
      ivfAssign(emb.filter(col("vec_id") % 2 === 0), ivfSeedCentroids(emb))
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    }

  /** d_ann_ivf_delta — INCREMENTAL IVF INDEX MAINTENANCE (the
    * [[Relational.qMvIncremental]] / [[Corpus sigStore]] story for
    * the vector index): the base half's list assignments are trained
    * once and PERSISTED ([[ivfListStore]]: parquet round-trip, read
    * back); a delta batch is assigned against the SAME frozen
    * centroids — never retrained, the production invariant that
    * keeps old postings valid — and the merged index is summarized
    * per list (base/delta/total counts + delta_ppm drift, the number
    * an operator watches to decide when a retrain IS due). The
    * oracle recomputes both halves' assignments from scratch: the
    * store lifecycle must be result-identical to recompute, exactly
    * as d_dedup_delta_stored pins for signatures. At 100 TB the
    * stored index is corpus-sized but the refresh touches ONLY the
    * delta partition + 16 broadcast centroid rows. */
  val dAnnIvfDelta: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val base = ivfListStore(s, dir)
      val delta = ivfAssign(emb.filter(col("vec_id") % 2 === 1),
        ivfSeedCentroids(emb))
      base.select(col("cid"), lit(1L).as("is_base"))
        .unionByName(delta.select(col("cid"), lit(0L).as("is_base")))
        .groupBy(col("cid"))
        .agg(sum(col("is_base")).as("n_base"),
          sum(lit(1L) - col("is_base")).as("n_delta"),
          count(lit(1)).as("n_total"))
        .withColumn("delta_ppm", expr("(n_delta * 1000000) div n_total"))
        .orderBy(col("cid"))
    },
    oracle = Some("""
      WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 16),
      elems AS (
        SELECT e.vec_id, c.cid,
               CAST(unnest(e.embedding) AS DOUBLE) AS ev,
               CAST(unnest(c.cvec) AS DOUBLE) AS cv
        FROM embeddings e, cents c),
      scored AS (
        SELECT vec_id, cid,
               CAST(round(SUM(ev*cv) /
                 (sqrt(SUM(ev*ev)) * sqrt(SUM(cv*cv))) * 10000)
                 AS BIGINT) AS cosm
        FROM elems GROUP BY 1, 2),
      asg AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosm DESC, cid) AS rnk
          FROM scored) WHERE rnk = 1)
      SELECT cid,
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_base,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_delta,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST((sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
               * 1000000) // count(*) AS BIGINT) AS delta_ppm
      FROM asg GROUP BY cid ORDER BY cid"""))

  /** d_cluster_silhouette — CLUSTERING-QUALITY audit (the silhouette
    * criterion's integer core): a point is WELL-PLACED when its mean
    * integer cosine-distance to its own cluster is strictly below
    * the min over other clusters' mean distances (a < b — the sign
    * of the silhouette numerator, kept in exact integer milli-units:
    * (Σd·1000) div n, so both engines decide every point
    * identically). Audited over the bounded node set for TWO
    * partitions of the same points: the geometric Voronoi partition
    * ([[ivfAssign]] against the seed quantizer) and the LABEL
    * partition. The measured separation IS the finding: voronoi
    * 50%/53% well-placed vs label 9%/10% (sf0.01/sf0.1) — this
    * embedding space is near-random w.r.t. labels (the same property
    * d_knn_descent_recall measures from the kNN side), and the
    * metric must rank a genuinely geometric partition far above a
    * non-geometric one or it isn't measuring geometry. Singletons
    * (no intra distance) count as not-well-placed.
    *
    * Scale: the all-pairs distance matrix is the bounded-set audit
    * harness (600² — same budget as the kNN-graph family); at corpus
    * scale the identical query runs per cluster-blocked sample, the
    * standard silhouette sampling. */
  val dClusterSilhouette: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 600)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dist = nodes.select(col("vec_id").as("i"),
          col("embedding").as("iv"))
        .crossJoin(broadcast(nodes.select(col("vec_id").as("j"),
          col("embedding").as("jv"))))
        .filter(col("i") =!= col("j"))
        .select(col("i"), col("j"),
          (lit(10000L) - round(Similarity.cosine(col("iv"), col("jv"))
            * 10000).cast("long")).as("d"))
      def audit(asg: DataFrame, method: String): DataFrame = {
        val dj = dist
          .join(asg.select(col("vec_id").as("j"), col("cid").as("jc")), "j")
          .groupBy(col("i"), col("jc"))
          .agg(sum(col("d")).as("sd"), count(lit(1)).as("n"))
        val pt = dj
          .join(asg.select(col("vec_id").as("i"), col("cid")), "i")
          .groupBy(col("i"), col("cid"))
          .agg(
            max(when(col("jc") === col("cid"),
              expr("(sd * 1000) div n"))).as("a_milli"),
            min(when(col("jc") =!= col("cid"),
              expr("(sd * 1000) div n"))).as("b_milli"))
        pt.agg(count(lit(1)).as("n_points"),
            sum((col("a_milli").isNotNull &&
              col("a_milli") < col("b_milli")).cast("long")).as("n_well"))
          .select(lit(method).as("method"), col("n_points"), col("n_well"),
            expr("(n_well * 1000000) div n_points").as("well_ppm"))
      }
      val voronoi = audit(ivfAssign(nodes, ivfSeedCentroids(nodes)),
        "voronoi")
      val label = audit(nodes.select(col("vec_id"),
        col("label").cast("long").as("cid")), "label")
      val out = voronoi.unionByName(label).orderBy(col("method"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some("""
      WITH nodes AS MATERIALIZED (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id < 600),
      el AS (
        SELECT a.vec_id AS i, b.vec_id AS j,
               CAST(unnest(a.embedding) AS DOUBLE) AS ae,
               CAST(unnest(b.embedding) AS DOUBLE) AS be
        FROM nodes a, nodes b WHERE a.vec_id <> b.vec_id),
      dist AS MATERIALIZED (
        SELECT i, j,
               10000 - CAST(round(SUM(ae*be) /
                 (sqrt(SUM(ae*ae)) * sqrt(SUM(be*be))) * 10000)
                 AS BIGINT) AS d
        FROM el GROUP BY 1, 2),
      cents AS (
        SELECT vec_id AS cid, embedding AS cvec FROM nodes
        WHERE vec_id < 16),
      cel AS (
        SELECT n.vec_id, c.cid,
               CAST(unnest(n.embedding) AS DOUBLE) AS ev,
               CAST(unnest(c.cvec) AS DOUBLE) AS cv
        FROM nodes n, cents c),
      csc AS (
        SELECT vec_id, cid,
               CAST(round(SUM(ev*cv) /
                 (sqrt(SUM(ev*ev)) * sqrt(SUM(cv*cv))) * 10000)
                 AS BIGINT) AS cosm
        FROM cel GROUP BY 1, 2),
      asg_v AS MATERIALIZED (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosm DESC, cid) AS rnk
          FROM csc) WHERE rnk = 1),
      asg_l AS (SELECT vec_id, CAST(label AS BIGINT) AS cid FROM nodes),
      dj_v AS (
        SELECT dist.i, aj.cid AS jc, CAST(sum(d) AS BIGINT) AS sd,
               count(*) AS n
        FROM dist JOIN asg_v aj ON aj.vec_id = dist.j GROUP BY 1, 2),
      pt_v AS (
        SELECT dj_v.i,
               max(CASE WHEN jc = ai.cid THEN (sd*1000)//n END) AS a_milli,
               min(CASE WHEN jc <> ai.cid THEN (sd*1000)//n END) AS b_milli
        FROM dj_v JOIN asg_v ai ON ai.vec_id = dj_v.i
        GROUP BY 1),
      dj_l AS (
        SELECT dist.i, aj.cid AS jc, CAST(sum(d) AS BIGINT) AS sd,
               count(*) AS n
        FROM dist JOIN asg_l aj ON aj.vec_id = dist.j GROUP BY 1, 2),
      pt_l AS (
        SELECT dj_l.i,
               max(CASE WHEN jc = ai.cid THEN (sd*1000)//n END) AS a_milli,
               min(CASE WHEN jc <> ai.cid THEN (sd*1000)//n END) AS b_milli
        FROM dj_l JOIN asg_l ai ON ai.vec_id = dj_l.i
        GROUP BY 1),
      res AS (
        SELECT 'voronoi' AS method,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(CASE WHEN a_milli IS NOT NULL
                 AND a_milli < b_milli THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_well
        FROM pt_v
        UNION ALL
        SELECT 'label',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN a_milli IS NOT NULL
                 AND a_milli < b_milli THEN 1 ELSE 0 END) AS BIGINT)
        FROM pt_l)
      SELECT method, n_points, n_well,
             CAST((n_well * 1000000) // n_points AS BIGINT) AS well_ppm
      FROM res ORDER BY method"""))

  /** SQ8 analogue of d_ann_pq_fidelity: over every returned neighbor,
    * the dequantized cosine must sit close to the true cosine of the
    * same pair. 8-bit per-dimension codes reconstruct far tighter than
    * 8-subspace PQ (measured mean error ~7e-4 at both SFs vs PQ's
    * ~0.04-0.05, SURVEY §17); pinned at 0.005 — an order under
    * the PQ bound, so a regression to PQ-grade error fails loudly. */
  val dAnnSqFidelity: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val sq = Similarity.sq8TopK(emb, q, "embedding", "vec_id")
        .join(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))), "query_id")
      // corpus scanned once; the (queries x k) sq result broadcasts in
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .join(broadcast(sq), "neighbor_id")
        .select(abs(col("cos_sq") -
          Bridge.column(CosineSim(Bridge.expression(col("qv")),
            Bridge.expression(col("cv"))))).as("err"))
        .agg(count(lit(1)).as("n_scored"),
          (avg(col("err")) <= 0.005).as("fidelity_ok"))
    },
    oracle = Some("""
      SELECT CAST(5 * count(*) AS BIGINT) AS n_scored, TRUE AS fidelity_ok
      FROM embeddings WHERE vec_id < 10"""))

  /** PCA variance-accounting contract. One training pass
    * (Similarity.trainPca: per-partition Gram accumulation, d x d
    * driver eigensolve) then one distributed residual pass asserting
    * the Pythagorean identity mean(residual^2) = totalVar -
    * retainedVar — which holds ONLY if the components are genuine
    * orthonormal eigenvectors of the corpus covariance, so one boolean
    * checks the whole train/project chain. explained_ok pins the
    * r=32/64 explained-variance ratio: the top half of ANY spectrum
    * carries >= 0.5 of the trace by construction, so the floor must
    * clear that tautology — measured 0.6512/0.5737 at sf0.01/sf0.1
    * (SURVEY §17), pinned at 0.55: a model that stops capturing
    * the corpus's real anisotropy fails. identity_gap measured ~1e-16
    * at both SFs; pinned at 1e-6 relative. */
  /** d_embed_prefix — MATRYOSHKA-TRUNCATION audit: recall@5 of brute
    * retrieval over the embedding's PREFIX dims (64 → 32 → 16) vs the
    * full-dim truth, as exact integer percentages (deterministic in
    * both engines — a pinned data PROPERTY, not a tolerance). The
    * measured collapse IS the finding: 100 → 28 → 8 at sf0.01 and
    * 100 → 16 → 12 at sf0.1 — these embeddings are NOT MRL-trained
    * (information is spread isotropically, so truncation destroys
    * neighborhoods), while a TRAINED 32-dim projection of the same
    * vectors keeps recall ≥ 0.8 (d_ann_pca_recall). This is the
    * audit a pipeline runs BEFORE adopting prefix truncation for
    * cheap pre-filtering: Matryoshka prefixes are a property of the
    * embedding model, never of the dimension count.
    *
    * Scale: three broadcast-10-probe scans (the d_ann_brute shape,
    * zero corpus shuffle); slice() is per-row bounded work. */
  val dEmbedPrefix: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      def topAt(p: Int): DataFrame = {
        val cut = emb.select(col("vec_id"),
          expr(s"slice(embedding, 1, $p)").as("embedding"))
        Similarity.bruteTopK(cut, cut.filter(col("vec_id") < 10),
            "embedding", "vec_id", k = 5)
          .select(col("query_id"), col("neighbor_id"))
      }
      val full = topAt(64).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val legs = Seq(64, 32, 16).map { p =>
        full.agg(count(lit(1)).as("n_brute"))
          .crossJoin(topAt(p).intersect(full)
            .agg(count(lit(1)).as("hits")))
          .select(lit(p.toLong).as("prefix_dims"), col("n_brute"),
            col("hits"),
            expr("(100 * hits) div n_brute").as("recall_pct"))
      }
      val out = legs.reduce(_ unionByName _)
        .orderBy(col("prefix_dims").desc)
        .localCheckpoint(eager = true)
      full.unpersist()
      out
    },
    oracle = Some({
      def leg(p: Int) = s"""
      q$p AS (SELECT vec_id AS qid, embedding[1:$p] AS qv
              FROM embeddings WHERE vec_id < 10),
      c$p AS (SELECT vec_id AS nid, embedding[1:$p] AS cv
              FROM embeddings),
      el$p AS (SELECT qid, nid,
                      CAST(unnest(qv) AS DOUBLE) AS qe,
                      CAST(unnest(cv) AS DOUBLE) AS ce
               FROM q$p, c$p WHERE nid <> qid),
      sc$p AS (SELECT qid, nid,
                      CAST(round(SUM(qe*ce) /
                        (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))) * 10000)
                        AS BIGINT) AS cosm
               FROM el$p GROUP BY 1, 2),
      top$p AS MATERIALIZED (
        SELECT qid, nid FROM (
          SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY cosm DESC, nid) AS rnk
          FROM sc$p) WHERE rnk <= 5)"""
      s"""
      WITH ${Seq(64, 32, 16).map(leg).mkString(",")},
      res AS (${Seq(64, 32, 16).map(p => s"""
        SELECT CAST($p AS BIGINT) AS prefix_dims,
               (SELECT CAST(count(*) AS BIGINT) FROM top64) AS n_brute,
               (SELECT CAST(count(*) AS BIGINT) FROM
                 (SELECT qid, nid FROM top$p INTERSECT
                  SELECT qid, nid FROM top64)) AS hits""")
        .mkString(" UNION ALL ")})
      SELECT prefix_dims, n_brute, hits,
             CAST((100 * hits) // n_brute AS BIGINT) AS recall_pct
      FROM res ORDER BY prefix_dims DESC"""
    }))

  val dEmbedPca: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val model = Similarity.trainPca(emb, "embedding", r = 32)
      val q = model.components
      var maxDev = 0.0
      for (i <- q.indices; j <- q.indices) {
        var dot = 0.0
        var t = 0
        while (t < q(i).length) { dot += q(i)(t) * q(j)(t); t += 1 }
        maxDev = math.max(maxDev,
          math.abs(dot - (if (i == j) 1.0 else 0.0)))
      }
      val expectedRes = model.totalVar - model.eigenvalues.sum
      Similarity.pcaResidual2(emb, "embedding", model)
        .agg(count(lit(1)).as("n_vectors"),
          avg(col("residual2")).as("_mean_res2"))
        .select(col("n_vectors"),
          lit(32L).as("r"),
          lit(model.explainedRatio >= 0.55).as("explained_ok"),
          lit(maxDev <= 1e-9).as("orthonormal_ok"),
          (abs(col("_mean_res2") - lit(expectedRes)) <=
            lit(1e-6 * math.max(model.totalVar, 1.0)))
            .as("variance_identity_ok"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(32 AS BIGINT) AS r, TRUE AS explained_ok,
             TRUE AS orthonormal_ok, TRUE AS variance_identity_ok
      FROM embeddings"""))

  /** PCA-reduced ANN top-k (32-dim shortlist, exact rerank) —
    * rows-only; quality pinned by d_ann_pca_recall. */
  val dAnnPca: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.pcaTopK(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id")
    },
    oracle = None)

  /** PCA-ANN recall contracts the reduce-then-rerank path: the true
    * top-5 must appear in the 100-deep projected shortlist (then
    * exact rerank restores order). Measured 1.0 at sf0.01, 0.84 at
    * sf0.1 at the r=32/shortlist=100 defaults (SURVEY §17 sweep —
    * the corpus is near-isotropic, the hard case for linear
    * reduction; r=16 reads 0.60, which is why 32 is the default);
    * pinned at 0.75. */
  val dAnnPcaRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.pcaTopK(emb, q, "embedding", "vec_id"),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.75)
    },
    oracle = Some(recallOracleSql))

  /** Pair-level recall contract for embedding LSH dedup: the default
    * 16x6 shape trades away borderline pairs near the 0.35 threshold
    * (measured recall 0.63 — by design); the dense 32x5 configuration
    * must recover >= 0.7 of the exact pair list. Ground truth is the
    * in-Spark all-pairs kernel, so the oracle's job is the vector
    * count plus the literal assertion. */
  val dDedupEmbedRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // truth capped to an id-prefix sample: recall over a uniform
      // vector subset is the same contract, and the O(n^2) baseline
      // stays bounded while the LSH side still runs the full corpus
      val truth = Dedup.bruteEmbeddingPairs(
        emb.filter(col("vec_id") < 1000), "embedding", "vec_id")
      val found = Dedup
        .embeddingPairs(emb, "embedding", "vec_id", tables = 32, bits = 5)
        .select(col("id_a"), col("id_b"), lit(1L).as("_hit"))
      val stats = truth.join(found, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("_n_true"),
          sum(coalesce(col("_hit"), lit(0L))).as("_n_hit"))
      emb.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(stats)
        .select(col("n_vectors"),
          (col("_n_hit").cast("double") / col("_n_true") >= 0.7)
            .as("recall_ok"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_vectors, TRUE AS recall_ok
      FROM embeddings"""))

  val dAnnIvfRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.ivfTopK(emb, q, "embedding", "vec_id", nlist = 16, nprobe = 4),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.6)
    },
    oracle = Some(recallOracleSql))

  /** IVF-PQ composite ([[Similarity.ivfPqTopK]]): inverted-file
    * routing + 8-byte-code ADC scan + exact rerank — the production
    * `IVFx,PQy` index. Raw entry is rows-only (quantizer + codebooks
    * not SQL-replayable); the recall contract below drives it. */
  val dAnnIvfPq: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", rerank = 100)
    },
    oracle = None)

  /** IVF-PQ reranked recall vs brute at the SAME pinned coarse shape
    * as d_ann_ivf_recall (nlist=16, nprobe=4 — a quarter of the lists
    * probed): the ADC shortlist + exact rerank must recover what the
    * probed lists contain, so recall tracks the IVF-flat contract —
    * measured 0.90/0.98 at sf0.01/sf0.1, IDENTICAL to flat at both
    * SFs (the 100-deep shortlist loses nothing the lists hold) — and
    * pins the same 0.6 floor. */
  val dAnnIvfPqRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.ivfPqTopK(emb, q, "embedding", "vec_id",
          nlist = 16, nprobe = 4, rerank = 100),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.6)
    },
    oracle = Some(recallOracleSql))

  /** Random-projection ANN (train-free JL reduction + exact rerank) —
    * rows-only; quality pinned by d_ann_rp_recall. */
  val dAnnRp: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.rpTopK(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id")
    },
    oracle = None)

  /** RP-ANN recall at the defaults (r=32, shortlist=200 — twice
    * PCA's shortlist, the price of a data-blind matrix): measured
    * 0.92/0.78 at sf0.01/sf0.1 (SURVEY §17 sweep; trained PCA
    * reads 1.0/0.84 at shortlist=100 — the corpus's anisotropy is
    * real signal RP cannot see); pinned at 0.7. */
  val dAnnRpRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.rpTopK(emb, q, "embedding", "vec_id"),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.7)
    },
    oracle = Some(recallOracleSql))

  /** IVF-SQ composite (`Similarity.ivfSqTopK`, the FAISS `IVFx,SQ8`
    * shape): inverted-file routing + 4x-compressed SQ8 code scan
    * within probed lists, raw-score path (SQ8's ~7e-4 score error
    * needs no rerank) — rows-only; quality pinned by
    * d_ann_ivfsq_recall. */
  val dAnnIvfSq: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.ivfSqTopK(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id")
    },
    oracle = None)

  /** IVF-SQ recall vs brute at the SAME pinned coarse shape as
    * d_ann_ivf_recall / d_ann_ivfpq_recall (nlist=16, nprobe=4), NO
    * rerank: SQ8 scores are near-exact, so recall must track the
    * IVF-flat contract — measured 0.90/0.94 at sf0.01/sf0.1
    * (SURVEY §17; flat reads 0.90/0.98 — the ~7e-4 score error
    * flips rank only at near-ties) — and pins the same 0.6 floor. */
  val dAnnIvfSqRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.ivfSqTopK(emb, q, "embedding", "vec_id",
          nlist = 16, nprobe = 4),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.6)
    },
    oracle = Some(recallOracleSql))

  /** AUTO-shape recall contracts: the dense-shape contracts above pin
    * explicit configurations (24x4, nlist=16); these two pin what a
    * user gets with NO tuning — autoBits/autoNlist sized from the
    * corpus count, the shapes every scale argument about occupancy
    * rests on. Floors from the SURVEY §16.4a measurements at both SFs (r7
    * PQ-contract methodology, pinned under the worst measurement):
    * IVF-AUTO 0.94/0.98 at sf0.01/sf0.1 -> floor 0.85 (sqrt-n lists,
    * nprobe=4 — occupancy falls as n grows, so probed lists hold a
    * SMALLER corpus fraction yet recall holds); LSH-AUTO 0.68/0.68 ->
    * floor 0.6 (r12: the no-tuning LSH shape is DENSITY-ADAPTIVE —
    * Similarity.autoLshShape solves tables×bits from the measured
    * background/k-th-neighbor cosines targeting ≥0.6 recall; the old
    * fixed 8-table shape measured 0.32/0.24 here because this
    * corpus's exact top-5 sit at background ~0.3 cosine, and its
    * floor could only honestly be pinned at 0.2. The probe records
    * the solved shapes: 7x4 at n=500, 21x6 at n=2000). */
  val dAnnIvfAutoRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.ivfTopK(emb, q, "embedding", "vec_id"),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.85)
    },
    oracle = Some(recallOracleSql))

  val dAnnLshAutoRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.lshTopK(emb, q, "embedding", "vec_id"),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.6)
    },
    oracle = Some(recallOracleSql))

  /** The dense 24-table x 4-bit configuration — collision probability
    * ~0.6^4 per table, ~0.95+ recall over 24 tables — the PINNED
    * shape a user turns to when low-similarity neighbors matter more
    * than scan fraction (the AUTO path now solves a comparable shape
    * itself from measured density; this row keeps the explicit-config
    * contract pinned independently of the solver). */
  val dAnnLshRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      annRecall(
        Similarity.lshTopK(emb, q, "embedding", "vec_id", tables = 24, bits = 4),
        Similarity.bruteTopK(emb, q, "embedding", "vec_id"), 0.6)
    },
    oracle = Some(recallOracleSql))

  /** kNN label classification over the embedding corpus — the
    * downstream-task shape of ANN (label propagation / labeled-subset
    * quality eval): exact top-5 cosine neighbors per query vector,
    * majority label with a deterministic (count desc, label asc)
    * tie-break, per-row exact oracle. Plan: the tiny (queries x k)
    * neighbor list broadcasts into the label lookup — the corpus is
    * scanned once by the brute top-k and once for labels, never
    * shuffled. */
  val dKnnLabel: QueryDef = QueryDef(
    fn = (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val nn = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 50),
        "embedding", "vec_id", k = 5)
      val votes = emb.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
        .join(broadcast(nn.select(col("query_id"), col("neighbor_id"))), "neighbor_id")
        .groupBy(col("query_id"), col("n_label")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cnt").desc, col("n_label"))
      val pred = votes.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("query_id"), col("n_label").as("pred_label"))
      pred.join(
          emb.select(col("vec_id").as("query_id"), col("label").as("true_label")),
          "query_id")
        .select(col("query_id"), col("pred_label"), col("true_label"),
          (col("pred_label") === col("true_label")).as("correct"))
        .orderBy(col("query_id"))
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
                 FROM embeddings WHERE vec_id < 50),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS n_label
            FROM embeddings),
      elems AS (
        SELECT q.query_id, c.neighbor_id, c.n_label,
               CAST(unnest(q.qv) AS DOUBLE) AS qe, CAST(unnest(c.cv) AS DOUBLE) AS ce
        FROM q, c
        WHERE c.neighbor_id <> q.query_id),
      scored AS (
        SELECT query_id, neighbor_id, n_label,
               round(SUM(qe*ce) / (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))), 4) AS cos
        FROM elems GROUP BY query_id, neighbor_id, n_label),
      ranked AS (
        SELECT query_id, n_label,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored),
      votes AS (
        SELECT query_id, n_label, count(*) AS cnt
        FROM ranked WHERE rnk <= 5 GROUP BY query_id, n_label),
      pred AS (
        SELECT query_id, n_label AS pred_label,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cnt DESC, n_label) AS rn
        FROM votes)
      SELECT p.query_id, p.pred_label, q.true_label,
             p.pred_label = q.true_label AS correct
      FROM pred p JOIN q ON p.query_id = q.query_id
      WHERE p.rn = 1
      ORDER BY p.query_id"""))

  /** Language-ID confusion matrix against the corpus's true `lang`
    * labels — the eval a pipeline runs before trusting a classifier to
    * route documents: exact integer counts per (true, predicted) cell.
    * One partial-first groupBy over the corpus. */
  val tLangidConfusion: QueryDef = QueryDef(
    fn = (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"), TF.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred")),
    oracle = Some(s"""
      SELECT lang, $langCaseSql AS lang_pred, count(*) AS n
      FROM documents
      GROUP BY 1, 2
      ORDER BY lang, lang_pred"""))

  // ---- multimodal ----

  /** The media payloads are REAL PNGs of a deterministic pattern, so
    * the decoded geometry and the exact pixel-luminance sum are
    * SQL-recomputable: the oracle re-renders every pixel with
    * generate_series and sums the same integer math the codec reads
    * back from the decoded raster. A codec bug (stride, channel order,
    * header) breaks the hash. */
  val mModalMeta: QueryDef = QueryDef(
    fn = (s, dir) =>
      Multimodal.decodeMediaExact(s, Multimodal.fakeMediaTable(s, dir))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH geo AS (
        SELECT doc_id,
               CAST(64 + doc_id % 192 AS INTEGER) AS width,
               CAST(64 + (doc_id * 7) % 128 AS INTEGER) AS height
        FROM documents),
      xs AS (
        SELECT doc_id, width, height, unnest(range(0, width)) AS i FROM geo),
      px AS (
        SELECT doc_id, width, height, i, unnest(range(0, height)) AS j FROM xs)
      SELECT doc_id, width, height,
             CAST(width AS BIGINT) * height AS n_pixels,
             CAST(sum((doc_id * 31 + 7 * i + 13 * j) % 256) * 1000 AS BIGINT)
               AS luma_milli
      FROM px
      GROUP BY doc_id, width, height
      ORDER BY doc_id"""))

  /** Geometry of the bilinear resize is identical double math in both
    * engines; the resampled luminance is a measured-margin contract
    * (bilinear keeps the pattern mean within 2.0). */
  val mModalResize: QueryDef = QueryDef(
    fn = (s, dir) =>
      Multimodal.resizeContract(s, Multimodal.fakeMediaTable(s, dir))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH geo AS (
        SELECT doc_id,
               CAST(64 + doc_id % 192 AS INTEGER) AS width,
               CAST(64 + (doc_id * 7) % 128 AS INTEGER) AS height
        FROM documents)
      SELECT doc_id, width, height,
             CAST(floor(width * least(1.0, 64.0 / greatest(width, height)))
               AS INTEGER) AS out_width,
             CAST(floor(height * least(1.0, 64.0 / greatest(width, height)))
               AS INTEGER) AS out_height,
             TRUE AS luma_close
      FROM geo
      ORDER BY doc_id"""))

  val mModalFrames: QueryDef = QueryDef(
    fn = (s, dir) =>
      Multimodal.sampleFramesExact(s, Multimodal.fakeMediaTable(s, dir))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH geo AS (
        SELECT doc_id,
               CAST(64 + doc_id % 192 AS INTEGER) AS w,
               CAST(64 + (doc_id * 7) % 128 AS INTEGER) AS h
        FROM documents),
      f AS (
        SELECT doc_id, w, h, CAST(h // 16 AS INTEGER) AS n_frames FROM geo),
      xs AS (
        SELECT doc_id, w, n_frames, unnest(range(0, w)) AS i FROM f),
      px AS (
        SELECT doc_id, w, n_frames, i,
               unnest(range(0, n_frames * 16)) AS j
        FROM xs)
      SELECT doc_id, n_frames,
             CAST((n_frames + 3) // 4 AS INTEGER) AS sampled,
             CAST(w * 16 * 3 AS INTEGER) AS frame_bytes,
             CAST(sum((doc_id * 31 + 7 * i + 13 * j) % 256) * 1000 AS BIGINT)
               AS luma_milli
      FROM px
      WHERE (j // 16) % 4 = 0
      GROUP BY doc_id, n_frames, w
      ORDER BY doc_id"""))

  /** Audio clip features over the synthetic PCM shelf
    * ([[Multimodal.fakeAudioTable]]): duration, Σ|s|, peak, zero
    * crossings from a REAL little-endian s16 byte parse in
    * per-partition batches — the audio leg of the multimodal block,
    * same closed-form-oracle contract as m_modal_meta (every sample
    * value is predictable from doc_id, so the oracle replays the full
    * waveform arithmetic in SQL). */
  val mModalAudio: QueryDef = QueryDef(
    fn = (s, dir) =>
      Multimodal.decodeAudioExact(s, Multimodal.fakeAudioTable(s, dir))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH a AS (
        SELECT doc_id, 1600 + doc_id % 800 AS n FROM documents),
      smp AS (
        SELECT doc_id, n, unnest(range(0, n)) AS t FROM a),
      v AS (
        SELECT doc_id, n, t,
               (doc_id * 31 + 17 * t) % 4096 - 2048 AS s
        FROM smp),
      w AS (
        SELECT doc_id, n, s,
               lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS sp
        FROM v)
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
             CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
             CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
             CAST(max(abs(s)) AS BIGINT) AS peak_abs,
             CAST(sum(CASE WHEN sp IS NOT NULL AND sp * s < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
      FROM w GROUP BY doc_id, n
      ORDER BY doc_id"""))

  /** m_modal_scenes — SHOT-BOUNDARY detection over the video frame
    * strip ([[Multimodal.sceneDetect]]): a cut lands between
    * consecutive frames when MORE THAN HALF the pixels changed — the
    * pixel-difference-count metric practical detectors start from,
    * chosen over luma-delta sums because a modular pattern shift
    * leaves Σluma nearly unchanged (wraps subtract 256 at exactly
    * the compensating rate — measured, then the metric was switched;
    * see [[Multimodal.PngCodec.renderScenes]]). The planted strip
    * ([[Multimodal.fakeSceneTable]]) has scenes of 2+(id mod 3)
    * frames: same-scene frames are pixel-identical, a boundary
    * changes every pixel, so detection must recover the exact scene
    * count, longest scene, and changed-pixel mass per clip from the
    * REAL decoded raster — the oracle replays all four numbers from
    * the closed form. Scale: byte-linear map work, one decode +
    * frame-pair comparisons per clip, no shuffle at all. */
  val mModalScenes: QueryDef = QueryDef(
    fn = (s, dir) =>
      Multimodal.sceneDetect(s, Multimodal.fakeSceneTable(s, dir))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 5 AS nf, 2 + doc_id % 3 AS ls
        FROM documents)
      SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
             CAST((nf - 1) // ls + 1 AS BIGINT) AS n_scenes,
             CAST(ls AS BIGINT) AS longest_scene,
             CAST(((nf - 1) // ls) * 1024 AS BIGINT) AS diff_px
      FROM d ORDER BY doc_id"""))

  /** m_dedup_audio — audio near-duplicate pairs by ACOUSTIC
    * FINGERPRINT (Haitsma & Kalker 2002, "A Highly Robust Audio
    * Fingerprinting System" — the Shazam-family sign-of-energy-
    * difference scheme): per frame×band energies from a real s16le
    * parse ([[Multimodal.audioBandEnergies]]), fingerprint bit(f,b) =
    * sign of the TIME and BAND double difference
    * (E(f,b)−E(f,b−1)) − (E(f−1,b)−E(f−1,b−1)) — the paper's exact
    * formula — packed to a 7-bit frame hash, shingled 4 frames wide
    * (28 bits), pairs = clips sharing ≥2 shingle values. The planted
    * shelf ([[Multimodal.fakeFpAudioTable]]) groups five whole-frame
    * time shifts of one signal: shifts preserve absolute sample
    * positions, so a shifted clip's frame hashes are a SUBSEQUENCE of
    * the base's and every within-group pair matches (measured
    * 1000/1000 at sf0.01, 10000/10000 at sf0.1, with 0/3 residual
    * cross-group collisions — honest fingerprint behavior, reported,
    * not filtered). The ≥2-shingle floor and the quadratic group
    * seed were both CALIBRATED through the SQL replay (an additive
    * seed collides catastrophically — see the shelf's scaladoc).
    *
    * Scale: fingerprinting is a byte-linear map; the per-clip windows
    * (lag/lead over frames) are clip-bounded; the candidate join
    * keys on 28-bit shingle VALUES exactly like the minhash band
    * join — matching work scales with true collisions, never
    * pairs². */
  val mDedupAudio: QueryDef = QueryDef(
    fn = (s, dir) => {
      val eb = Multimodal.audioBandEnergies(s,
        Multimodal.fakeFpAudioTable(s, dir))
      val wf = Window.partitionBy(col("doc_id"), col("b")).orderBy(col("f"))
      val lagged = eb.withColumn("ep", lag(col("e"), 1).over(wf))
      val bits = lagged.as("c").join(lagged.as("p"),
          col("c.doc_id") === col("p.doc_id") &&
            col("c.f") === col("p.f") && col("c.b") === col("p.b") + 1)
        .filter(col("c.ep").isNotNull && col("p.ep").isNotNull)
        .select(col("c.doc_id").as("doc_id"), col("c.f").as("f"),
          col("c.b").as("b"),
          ((col("c.e") - col("p.e")) - (col("c.ep") - col("p.ep")) > 0)
            .cast("long").as("bit"))
      val fh = bits.groupBy(col("doc_id"), col("f"))
        .agg(sum(expr("bit * shiftleft(1L, cast(b as int) - 1)")).as("h"))
      val ws = Window.partitionBy(col("doc_id")).orderBy(col("f"))
      val sh = fh
        .withColumn("h1", lead(col("h"), 1).over(ws))
        .withColumn("h2", lead(col("h"), 2).over(ws))
        .withColumn("h3", lead(col("h"), 3).over(ws))
        .filter(col("h3").isNotNull)
        .select(col("doc_id"),
          (col("h") + col("h1") * 128 + col("h2") * 16384 +
            col("h3") * 2097152).as("shv"))
      sh.as("x").join(sh.as("y"),
          col("x.shv") === col("y.shv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.shv").as("shv"))
        .groupBy(col("a"), col("b"))
        .agg(countDistinct(col("shv")).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("a"), col("b"))
    },
    oracle = Some("""
      WITH docs AS (
        SELECT doc_id, doc_id // 5 AS grp, (doc_id % 5) * 160 AS off,
               10 + (doc_id // 5) % 5 AS nf
        FROM documents),
      frames AS (
        SELECT doc_id, grp, off, unnest(range(0, nf)) AS f FROM docs),
      bands AS (
        SELECT doc_id, grp, off, f, b.b AS b
        FROM frames, generate_series(0, 7) b(b)),
      samples AS (
        SELECT doc_id, f, b,
               abs(((2*grp+1)*u*u + 17*u + 31*grp) % 4096 - 2048) AS v
        FROM (SELECT doc_id, grp, f, b, f*160 + b*20 + s.s + off AS u
              FROM bands, generate_series(0, 19) s(s))),
      eb AS (
        SELECT doc_id, f, b, CAST(sum(v) AS BIGINT) AS e
        FROM samples GROUP BY 1, 2, 3),
      bits AS (
        SELECT c.doc_id, c.f, c.b,
               CASE WHEN (c.e - p.e) - (cp.e - pp.e) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM eb c
        JOIN eb p  ON p.doc_id = c.doc_id AND p.f = c.f AND p.b = c.b - 1
        JOIN eb cp ON cp.doc_id = c.doc_id AND cp.f = c.f - 1
                      AND cp.b = c.b
        JOIN eb pp ON pp.doc_id = c.doc_id AND pp.f = c.f - 1
                      AND pp.b = c.b - 1),
      fh AS (
        SELECT doc_id, f,
               CAST(sum(bit * (1 << (b - 1))) AS BIGINT) AS h
        FROM bits GROUP BY 1, 2),
      sh AS (
        SELECT a.doc_id,
               a.h + 128*b2.h + 16384*c2.h + 2097152*d2.h AS shv
        FROM fh a
        JOIN fh b2 ON b2.doc_id = a.doc_id AND b2.f = a.f + 1
        JOIN fh c2 ON c2.doc_id = a.doc_id AND c2.f = a.f + 2
        JOIN fh d2 ON d2.doc_id = a.doc_id AND d2.f = a.f + 3)
      SELECT x.doc_id AS a, y.doc_id AS b,
             CAST(count(DISTINCT x.shv) AS BIGINT) AS n_shared
      FROM sh x JOIN sh y ON x.shv = y.shv AND x.doc_id < y.doc_id
      GROUP BY 1, 2 HAVING count(DISTINCT x.shv) >= 2
      ORDER BY a, b"""))

  /** m_modal_vad — energy-gated voice-activity segmentation over the
    * PCM shelf ([[Multimodal.vadExact]]): 160-sample (10 ms) frames,
    * a frame voiced when its Σ|s| strictly beats the clip's mean
    * frame energy (integer compare e·nf > Σe), voiced runs rolled up
    * to counts and the longest segment. The oracle replays every
    * sample, frame sum, and gate decision from the closed-form
    * waveform — the same contract as m_modal_audio, one level up the
    * audio pipeline. */
  val mModalVad: QueryDef = QueryDef(
    fn = (s, dir) =>
      Multimodal.vadExact(s, Multimodal.fakeAudioTable(s, dir))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH a AS (
        SELECT doc_id, 1600 + doc_id % 800 AS n FROM documents),
      f AS (SELECT doc_id, n // 160 AS nf FROM a),
      smp AS (SELECT doc_id, nf, unnest(range(0, nf * 160)) AS t FROM f),
      e AS (
        SELECT doc_id, nf, t // 160 AS fr,
               sum(abs((doc_id * 31 + 17 * t) % 4096 - 2048)) AS en
        FROM smp GROUP BY doc_id, nf, t // 160),
      tot AS (SELECT doc_id, sum(en) AS sum_e FROM e GROUP BY doc_id),
      v AS (
        SELECT e.doc_id, nf, fr, en * nf > sum_e AS voiced
        FROM e JOIN tot USING (doc_id)),
      seg AS (
        SELECT doc_id, nf, fr, voiced,
               CASE WHEN voiced AND NOT coalesce(
                 lag(voiced) OVER (PARTITION BY doc_id ORDER BY fr), FALSE)
               THEN 1 ELSE 0 END AS st
        FROM v),
      isl AS (
        SELECT doc_id, nf, fr, voiced,
               sum(st) OVER (PARTITION BY doc_id ORDER BY fr) AS g
        FROM seg),
      runs AS (
        SELECT doc_id, g, count(*) AS rl
        FROM isl WHERE voiced GROUP BY doc_id, g),
      perdoc AS (
        SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
               CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_voiced
        FROM isl GROUP BY doc_id),
      runagg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
               CAST(max(rl) AS BIGINT) AS longest_run
        FROM runs GROUP BY doc_id)
      SELECT p.doc_id, n_frames, n_voiced,
             coalesce(n_segments, 0) AS n_segments,
             coalesce(longest_run, 0) AS longest_run
      FROM perdoc p LEFT JOIN runagg USING (doc_id)
      ORDER BY doc_id"""))

  /** m_modal_augment — deterministic image AUGMENTATION features
    * ([[Multimodal.augmentExact]]): horizontal flip + top-left
    * half-crop, the standard training-time pair, verified by exact
    * pixel arithmetic over the REAL decoded raster. The crop is
    * deliberately off-center so the flip is observable (a centered
    * crop is flip-invariant): flip∘crop reads the original's
    * x ∈ [w−⌊w/2⌋, w) band, and the oracle sums exactly that region
    * of the closed-form pattern — an unflipped crop would sum
    * x ∈ [0, ⌊w/2⌋) and hash-mismatch. */
  val mModalAugment: QueryDef = QueryDef(
    fn = (s, dir) =>
      Multimodal.augmentExact(s, Multimodal.fakeMediaTable(s, dir))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH geo AS (
        SELECT doc_id,
               CAST(64 + doc_id % 192 AS INTEGER) AS w,
               CAST(64 + (doc_id * 7) % 128 AS INTEGER) AS h
        FROM documents),
      c AS (SELECT doc_id, w, h, w // 2 AS cw, h // 2 AS ch FROM geo),
      xs AS (
        SELECT doc_id, w, h, cw, ch, unnest(range(w - cw, w)) AS x FROM c),
      px AS (
        SELECT doc_id, w, h, cw, ch, x, unnest(range(0, ch)) AS y FROM xs)
      SELECT doc_id, max(w) AS width, max(h) AS height,
             CAST(max(cw) AS INTEGER) AS crop_w,
             CAST(max(ch) AS INTEGER) AS crop_h,
             CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) * 1000 AS BIGINT)
               AS luma_milli_aug
      FROM px GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Shared oracle prologue for the graph-insert pair: base k=8 kNN
    * graph over vec_id < 400 with its √n upper layer, then the 100
    * delta nodes (400 ≤ id < 500 — the universe is capped at 500 so
    * the demo is NON-degenerate at every SF; the embeddings table
    * has exactly 500 rows at sf0.01) INSERTED by the unrolled
    * layered beam search over the base graph (their top-8 become
    * their out-edges), then the merged adjacency. Same MATERIALIZED
    * unroll discipline as [[graphSearchCtes]]. */
  private def insertBeamRounds(prefix: String, adj: String,
      rounds: Int, beam: Int): String =
    (1 to rounds).map { r =>
      s"""
      ${prefix}c$r AS (
        SELECT qid, cand FROM ${prefix}b${r - 1} WHERE rnk <= $beam
        UNION
        SELECT b.qid, a.u AS cand
        FROM ${prefix}b${r - 1} b JOIN $adj a ON a.v = b.cand
        WHERE b.rnk <= $beam),
      ${prefix}b$r AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM ${prefix}c$r x JOIN scored s
                ON s.a = x.qid AND s.b = x.cand))"""
    }.mkString(",")

  private val graphInsertCtes: String = s"""
      WITH nodes AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
      elems AS (
        SELECT q.vec_id AS a, c.vec_id AS b,
               CAST(unnest(q.embedding) AS DOUBLE) AS qe,
               CAST(unnest(c.embedding) AS DOUBLE) AS ce
        FROM nodes q, nodes c WHERE c.vec_id <> q.vec_id),
      scored AS MATERIALIZED (
        SELECT a, b,
               CAST(round(SUM(qe*ce) /
                 (sqrt(SUM(qe*qe)) * sqrt(SUM(ce*ce))) * 10000)
                 AS BIGINT) AS cosm
        FROM elems GROUP BY a, b),
      bknn AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT a, b, row_number() OVER (PARTITION BY a
                   ORDER BY cosm DESC, b) AS rnk
          FROM scored WHERE a < 400 AND b < 400) WHERE rnk <= 8),
      badj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM bknn
        UNION SELECT b AS v, a AS u FROM bknn),
      bup AS (SELECT vec_id FROM nodes
              WHERE vec_id % 25 = 1 AND vec_id < 400),
      buknn AS MATERIALIZED (
        SELECT a, b FROM (
          SELECT s.a, s.b, row_number() OVER (PARTITION BY s.a
                   ORDER BY s.cosm DESC, s.b) AS rnk
          FROM scored s JOIN bup x ON s.a = x.vec_id
               JOIN bup y ON s.b = y.vec_id) WHERE rnk <= 4),
      buadj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM buknn
        UNION SELECT b AS v, a AS u FROM buknn),
      dq AS (SELECT vec_id AS qid FROM nodes WHERE vec_id >= 400),
      iub0 AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM (SELECT qid, 1 AS cand FROM dq) x
              JOIN scored s ON s.a = x.qid AND s.b = x.cand)),${insertBeamRounds("iu", "buadj", 1, 8)},
      ient AS (SELECT qid, cand FROM iub1 WHERE rnk <= 4),
      ib0 AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM ient x
              JOIN scored s ON s.a = x.qid AND s.b = x.cand)),${insertBeamRounds("i", "badj", 4, 24)},
      inserts AS (SELECT qid AS a, cand AS b, cosm, rnk
                  FROM ib4 WHERE rnk <= 8)"""

  /** d_ann_graph_insert — INCREMENTAL graph-ANN maintenance, the
    * HNSW INSERT path ([[dAnnIvfDelta]]'s lifecycle story for the
    * graph family): 100 new vectors (400 ≤ vec_id < 500) enter an
    * existing index — the k=8 base graph over vec_id < 400 with its
    * √n upper layer — by running the LAYERED BEAM SEARCH as their
    * insert routine (HNSW's actual insertion: search the graph for
    * your own neighborhood, link to the top-M found; M = 8 here).
    * New nodes enter at layer 0, the overwhelmingly common HNSW case
    * (P(level>0) = 1/M per level) — the upper sample stays the base
    * one. Reverse edges make inserted nodes REACHABLE from the old
    * graph (the bidirectional-link half of the algorithm), which
    * [[dAnnGraphInsertRecall]] proves. Output is the 800-row
    * inserted edge list — every beam of every round integer-ranked,
    * so the whole insert replays in SQL. */
  val dAnnGraphInsert: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 500)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val base = nodes.filter(col("vec_id") < 400)
      val delta = nodes.filter(col("vec_id") >= 400)
      val baseGraph = Similarity.bruteTopK(base, base, "embedding",
          "vec_id", k = 8)
        .select(col("query_id"), col("neighbor_id"))
      val baseUpper = base.filter(col("vec_id") % 25 === 1)
      val baseUpperGraph = Similarity.bruteTopK(baseUpper, baseUpper,
          "embedding", "vec_id", k = 4)
        .select(col("query_id"), col("neighbor_id"))
      val out = Similarity.graphSearchTopKLayered(base, delta,
          baseGraph, baseUpperGraph, "embedding", "vec_id", k = 8)
        .select(col("query_id").as("new_id"), col("neighbor_id"),
          col("cosm"), col("rnk"))
        .orderBy(col("new_id"), col("rnk"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some(graphInsertCtes + """
      SELECT a AS new_id, b AS neighbor_id, cosm, rnk
      FROM inserts ORDER BY new_id, rnk"""))

  /** d_ann_graph_insert_recall — the merged-index quality contract
    * behind [[dAnnGraphInsert]]: the standard query set searches the
    * MERGED graph (base ∪ insert edges, undirected) through the same
    * layered machinery, scored against the brute top-5 over the full
    * 500-node universe. Measured 98%/90% at sf0.01/sf0.1 — as good
    * as the one-shot build ([[dAnnGraphRecall]] 94/85), which is the
    * point: incremental maintenance does not degrade the index (the
    * same invariant [[dAnnIvfDelta]] pins for IVF). new_covered
    * counts brute-true neighbors that ARE inserted nodes and got
    * found — reverse-edge reachability, measured 14/14 at sf0.01 and
    * 8/10 at sf0.1 (insert-only nodes carry in-edges from their own
    * inserts alone — the weaker-in-degree asymmetry HNSW's
    * bidirectional linking mitigates but doesn't erase), so the
    * pinned contract is new_covered ≥ half of n_new, plus recall
    * floor 80 as the one-shot search. */
  val dAnnGraphInsertRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 500)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val base = nodes.filter(col("vec_id") < 400)
      val delta = nodes.filter(col("vec_id") >= 400)
      val baseGraph = Similarity.bruteTopK(base, base, "embedding",
          "vec_id", k = 8)
        .select(col("query_id"), col("neighbor_id"))
      val baseUpper = base.filter(col("vec_id") % 25 === 1)
      val baseUpperGraph = Similarity.bruteTopK(baseUpper, baseUpper,
          "embedding", "vec_id", k = 4)
        .select(col("query_id"), col("neighbor_id"))
      val inserts = Similarity.graphSearchTopKLayered(base, delta,
          baseGraph, baseUpperGraph, "embedding", "vec_id", k = 8)
        .select(col("query_id"), col("neighbor_id"))
      val merged = baseGraph.union(inserts)
      val queries = nodes.filter(col("vec_id") % 50 === 0)
      val approx = Similarity.graphSearchTopKLayered(nodes, queries,
          merged, baseUpperGraph, "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(nodes, queries, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val bruteNew = brute.filter(col("neighbor_id") >= 400)
      val out = brute.agg(count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(bruteNew.agg(count(lit(1)).as("n_new")))
        .crossJoin(bruteNew.intersect(approx)
          .agg(count(lit(1)).as("new_covered")))
        .select(col("n_brute"),
          when(col("n_brute") =!= 0, expr("(100 * hits) div n_brute")).as("recall_pct"),
          when(col("n_brute") =!= 0, expr("(100 * hits) div n_brute >= 80")).as("recall_ok"),
          col("n_new"), col("new_covered"),
          (col("new_covered") * 2 >= col("n_new")).as("new_reachable_ok"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some(graphInsertCtes + s""",
      madj AS MATERIALIZED (
        SELECT v, u FROM badj
        UNION SELECT a, b FROM inserts
        UNION SELECT b, a FROM inserts),
      qs AS (SELECT vec_id AS qid FROM nodes WHERE vec_id % 50 = 0),
      qub0 AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM (SELECT qid, 1 AS cand FROM qs) x
              JOIN scored s ON s.a = x.qid AND s.b = x.cand)),${insertBeamRounds("qu", "buadj", 1, 8)},
      qent AS (SELECT qid, cand FROM qub1 WHERE rnk <= 4),
      qb0 AS MATERIALIZED (
        SELECT qid, cand, cosm,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosm DESC, cand) AS rnk
        FROM (SELECT DISTINCT x.qid, x.cand, s.cosm
              FROM qent x
              JOIN scored s ON s.a = x.qid AND s.b = x.cand)),${insertBeamRounds("q", "madj", 4, 24)},
      brute AS (SELECT a, b FROM (
        SELECT a, b, row_number() OVER (PARTITION BY a
                 ORDER BY cosm DESC, b) AS rnk
        FROM scored WHERE a % 50 = 0) WHERE rnk <= 5),
      brute_new AS (SELECT a, b FROM brute WHERE b >= 400),
      counts AS (SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM brute) AS n_brute,
        (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT a, b FROM brute INTERSECT
          SELECT qid, cand FROM qb4 WHERE rnk <= 5)) AS hits,
        (SELECT CAST(count(*) AS BIGINT) FROM brute_new) AS n_new,
        (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT a, b FROM brute_new INTERSECT
          SELECT qid, cand FROM qb4 WHERE rnk <= 5)) AS new_covered)
      SELECT n_brute,
             (100 * hits) // n_brute AS recall_pct,
             (100 * hits) // n_brute >= 80 AS recall_ok,
             n_new, new_covered,
             new_covered * 2 >= n_new AS new_reachable_ok
      FROM counts"""))

  /** Tombstone predicate shared by the delete and compaction legs:
    * vec_id ≡ 7 mod 10 (pmod — replica-stable, unlike an id
    * threshold). */
  private[graft] def graphTombstoned(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = pmod(c, lit(10)) === 7

  /** Insert-leg delta predicate: vec_id ≡ 4 mod 5 — a deterministic
    * 20% batch that is REPLICA-STABLE (an id-threshold split like
    * vec_id ≥ 4n/5 degenerates on replica dirs whose ids are offset
    * by i·10⁸: the "80%" base collapses to the base replica only). */
  private[graft] def graphDelta(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = pmod(c, lit(5)) === 4

  /** The graph-index store over `dir`'s embeddings: a
    * [[Similarity.buildGraphIndex]] index written to parquet ONCE per
    * (session, dir, layout, variant) and read back with its shape
    * metadata. An index is built once and probed many times — the
    * production topology — so the search/insert/delete/compact legs
    * read the store. Built at degree
    * 12 with 2 NN-descent rounds. Layouts: "one" = one shard with the
    * √n upper layer, "pmod" = [[Similarity.autoShards]] pmod shards,
    * "cells" = [[Similarity.autoRoutedShards]] k-means cells (the
    * centroids are stored with the edges). Variants: "full" = the
    * whole embeddings table (search + delete legs), "base" =
    * everything but the insert-leg delta ([[graphDelta]]), "compact"
    * = survivors of the tombstone predicate ([[graphTombstoned]]) —
    * the compaction rebuild, one code path with the fresh build. */
  private[graft] def graphStore(s: org.apache.spark.sql.SparkSession,
      dir: String, layout: String,
      variant: String = "full"): Similarity.GraphIndex =
    graft.Stores.memo(s, ("graphstore", dir, layout, variant)) {
      val path = graft.Stores.tmpDir(s, s"graphstore_${layout}_$variant")
      val emb = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = variant match {
        case "full" => emb
        case "base" => emb.filter(!graphDelta(col("vec_id")))
        case "compact" => emb.filter(!graphTombstoned(col("vec_id")))
        case other => throw new IllegalArgumentException(
          s"graft: unknown graph-index store variant '$other'")
      }
      val n = nodes.count()
      val shape = layout match {
        case "one" => Similarity.GraphLayout.OneShard
        case "pmod" => Similarity.GraphLayout.Pmod(Similarity.autoShards(n))
        case "cells" =>
          Similarity.GraphLayout.Cells(Similarity.autoRoutedShards(n))
        case other => throw new IllegalArgumentException(
          s"graft: unknown graph-index store layout '$other'")
      }
      Similarity.writeGraphIndex(Similarity.buildGraphIndex(nodes,
        "embedding", "vec_id", n, shape, k = 12, rounds = 2), path)
      emb.unpersist()
      Similarity.readGraphIndex(s, path)
    }

  /** The one table kept beside the stores: the "full" store's
    * [[Similarity.searchTable]] over the same embeddings, with the
    * (session, dir) it was built for. */
  private object graphTable {
    var held: ((org.apache.spark.sql.SparkSession, String), DataFrame) = _
  }

  /** The search table of the one-shard "full" [[graphStore]] over
    * `dir`'s embeddings, built by the store's first search and kept like the
    * store: a later full-store search runs only its beam rounds, not
    * the aggregation of the store's edge lists that is most of a
    * search's jobs and wall time. Only the latest corpus's table is
    * kept; an older one is dropped (its local checkpoint goes when
    * the driver collects it). */
  private[graft] def graphFullTable(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = graphTable.synchronized {
    if (graphTable.held == null || graphTable.held._1 != ((s, dir))) {
      val index = graphStore(s, dir, "one")
      graphTable.held = ((s, dir), Similarity.searchTable(
        Tables.load(s, dir, "embeddings"),
        "embedding", "vec_id", index.graph, index.upper))
    }
    graphTable.held._2
  }

  /** d_ann_graph_full — the UN-CAPPED graph-ANN composition (the
    * scale story the bounded demo keys d_ann_graph* stand in for):
    * the index over the FULL embeddings table is built by
    * [[Similarity.buildGraphIndex]] in one shard — corpus-scaled
    * blocked seed (≈128 rows/block, O(n) pair mass) + two NN-descent rounds
    * (O(n·k²) each) at degree k=12, plus the √n uniform-sample upper
    * layer — PERSISTED once per corpus ([[graphStore]]: parquet
    * edge lists + shape metadata, bare store rejected) and
    * layer-searched at beam 48 / 6 rounds. Every build stage is
    * LINEAR in the corpus and the search is query-linear, so unlike
    * the demo family this key's input genuinely scales with SF
    * (500 → 2000 rows at sf0.01 → sf0.1, and 10× beyond in the
    * replica probes). The graph shape (k=12, beam 48, 6 rounds) is
    * the measured cost/recall knee on the NN-descent (imperfect)
    * graph: the sweep read 50→74→86→88 recall at sf0.1 for
    * (k8·b24·r4, k8·b48·r6, k12·b48·r6, k16·b48·r6) — degree 16 buys
    * +2 points for 33% more graph mass, rejected; fixing the entry
    * node off the probe set (see [[Similarity.buildGraphIndex]])
    * then lifted the chosen shape to 100/94. Rows-only (an
    * NN-descent build is not SQL-replayable);
    * [[dAnnGraphFullRecall]] is the contract. */
  val dAnnGraphFull: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
      val index = graphStore(s, dir, "one")
      // the search returns a local frame: nothing to materialize
      Similarity.graphSearchTopKLayered(nodes,
          nodes.filter(col("vec_id") < 10), index.graph, index.upper.get,
          "embedding", "vec_id", k = 5, beam = 48, rounds = 6,
          upperSeed = index.entry, table = Some(graphFullTable(s, dir)))
    },
    oracle = None)

  /** d_ann_graph_full_recall — the contract behind [[dAnnGraphFull]]:
    * recall@5 of the full-corpus NN-descent-built layered search vs
    * the brute top-5 on the standard 10-query probe set, floor 0.8.
    * Measured 100% at sf0.01 (n=500) and 90% at sf0.1 (n=2000) under
    * the seeded-hash blocked seed (the id-arithmetic seed read
    * 100/94 but collapsed on structured id spaces at 100× — see
    * [[Similarity.buildGraphIndex]]) — above the exact-graph demo
    * (dAnnGraphRecall 94/85) because the probe queries are corpus
    * members whose own neighborhoods the NN-descent build already
    * routes well, and NOTHING is capped: the 10× replica row scales
    * the corpus, closing the r13 verdict's "flat by construction"
    * finding. */
  val dAnnGraphFullRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = nodes.filter(col("vec_id") < 10)
      val index = graphStore(s, dir, "one")
      val approx = Similarity.graphSearchTopKLayered(nodes, q, index.graph,
          index.upper.get, "embedding", "vec_id", k = 5, beam = 48,
          rounds = 6, upperSeed = index.entry,
          table = Some(graphFullTable(s, dir)))
        .select(col("query_id"), col("neighbor_id"), col("cosm"))
      val out = annRecall(approx,
          Similarity.bruteTopK(nodes, q, "embedding", "vec_id", k = 5),
          0.8)
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some(recallOracleSql))

  /** d_ann_graph_full_insert_recall — the INSERT path against the
    * full-corpus index ([[dAnnGraphInsert]]'s lifecycle story,
    * un-capped): a 20% delta batch (vec_id ≡ 4 mod 5 — pmod, so the
    * split is REPLICA-STABLE: an id-threshold split degenerated on
    * replica dirs whose ids are offset by i·10⁸, silently turning
    * the 80/20 scenario into ~10/90) enters the NN-descent index
    * built — and PERSISTED, [[graphStore]] "base" — over the
    * other 80% by running the layered search as its insert routine
    * (link to top-12 found); the standard 10-query probe then
    * searches the MERGED graph (base ∪ insert edges — reverse edges
    * make inserted nodes reachable) and must clear the SAME floors
    * as the one-shot full build: recall ≥ 0.8 (insertion does not
    * degrade the index) and new_covered·2 ≥ n_new (brute-true
    * neighbors that are INSERTED nodes and got found — reverse-edge
    * reachability). Every stage linear: the delta insert is
    * |delta|·beam-bounded query work. */
  val dAnnGraphFullInsertRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val base = nodes.filter(!graphDelta(col("vec_id")))
      val delta = nodes.filter(graphDelta(col("vec_id")))
      val index = graphStore(s, dir, "one", "base")
      val (baseGraph, baseUpper, entry) =
        (index.graph, index.upper.get, index.entry)
      val inserts = Similarity.graphSearchTopKLayered(base, delta,
          baseGraph, baseUpper, "embedding", "vec_id", k = 12,
          beam = 48, rounds = 6, upperSeed = entry)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val merged = baseGraph
        .select(col("query_id"), col("neighbor_id")).union(inserts)
      val q = nodes.filter(col("vec_id") < 10)
      val approx = Similarity.graphSearchTopKLayered(nodes, q, merged,
          baseUpper, "embedding", "vec_id", k = 5, beam = 48,
          rounds = 6, upperSeed = entry)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(nodes, q, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val bruteNew = brute.filter(graphDelta(col("neighbor_id")))
      val out = brute.agg(count(lit(1)).as("n_queries"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(bruteNew.agg(count(lit(1)).as("n_new")))
        .crossJoin(bruteNew.intersect(approx)
          .agg(count(lit(1)).as("new_covered")))
        .select(
          expr("n_queries div 5").as("n_queries"),
          recallAtLeast(col("hits"), col("n_queries"), 0.8)
            .as("recall_ok"),
          (col("new_covered") * 2 >= col("n_new"))
            .as("new_reachable_ok"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS new_reachable_ok
      FROM embeddings WHERE vec_id < 10"""))

  /** d_ann_graph_full_delete_recall — the DELETE leg of the
    * full-corpus graph-ANN lifecycle (build → insert → DELETE →
    * search), completing what [[dAnnGraphFullInsertRecall]] opened:
    * 10% of the corpus (vec_id ≡ 7 mod 10, [[graphTombstoned]]) is
    * TOMBSTONED — the hnswlib/FAISS mark-deleted semantics: deleted
    * nodes STAY in the stored graph and keep ROUTING (removing their
    * edges would disconnect regions; the periodic rebuild is
    * [[dAnnGraphFullCompactRecall]]'s leg), but are excluded from
    * results. The search runs k·3 deep (tombstone oversampling —
    * ~10% deletion needs far less; 3× also covers the worst case of
    * a query whose whole true top-k was deleted), drops tombstones,
    * and re-ranks to k. Contracts: recall ≥ 0.8 vs the brute top-5
    * over SURVIVORS (deleted neighbors' slots must be REFILLED by
    * next-best survivors — measured 100/96 at sf0.01/sf0.1), and
    * full_k (every query still returns exactly k rows — a thinned
    * result set is the failure mode oversampling exists to prevent).
    * Tombstone filtering is a per-candidate predicate on the
    * query-bounded beam output — zero extra corpus work. */
  val dAnnGraphFullDeleteRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val index = graphStore(s, dir, "one")
      val q = nodes.filter(col("vec_id") < 10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosm").desc, col("neighbor_id"))
      val approx = Similarity.graphSearchTopKLayered(nodes, q, index.graph,
          index.upper.get, "embedding", "vec_id", k = 15, beam = 48,
          rounds = 6, upperSeed = index.entry,
          table = Some(graphFullTable(s, dir)))
        .filter(!graphTombstoned(col("neighbor_id")))
        .withColumn("rnk2", row_number().over(w).cast("long"))
        .filter(col("rnk2") <= 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val survivors = nodes.filter(!graphTombstoned(col("vec_id")))
      val brute = Similarity.bruteTopK(survivors, q, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(approx.agg(count(lit(1)).as("n_returned")))
        .select(col("n_queries"),
          recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          (col("n_returned") === col("n_brute")).as("full_k"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS full_k
      FROM embeddings WHERE vec_id < 10"""))

  /** d_ann_graph_full_compact_recall — COMPACTION, the last leg of
    * the graph-ANN lifecycle (build → insert → delete → COMPACT →
    * search): [[dAnnGraphFullDeleteRecall]] tombstones 10% and leaves
    * them routing in the stored index; once the tombstone fraction
    * crosses the rebuild threshold (5% here — hnswlib's
    * deleted-fraction heuristic, checked by a loud require so the
    * key can never silently degrade into a no-op), the index is
    * REBUILT over survivors and persisted ([[graphStore]]
    * "compact"). Because the rebuild IS [[Similarity
    * .buildGraphIndex]] over the survivor set — one code path,
    * no incremental patching — "rebuilt ≡ fresh build over
    * survivors" holds by construction (the s_mv full-recompute
    * identity; SimilaritySpec pins it structurally). Contracts:
    * `tombstones_gone` — ZERO edges incident to a tombstoned id in
    * the compacted index AND the stored node count equals the
    * survivor count (the index genuinely shrank; mark-deleted alone
    * never shrinks); `recall_ok` — ≥ 0.8 vs brute over survivors on
    * the standard probe set (compaction must not lose routing
    * quality — and the plain k-deep search now suffices where the
    * delete leg needed k·3 oversampling, the operational payoff);
    * `full_k` — every query still returns exactly k rows. */
  val dAnnGraphFullCompactRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = nodes.count()
      val survivors = nodes.filter(!graphTombstoned(col("vec_id")))
      val nSurv = survivors.count()
      require((n - nSurv) * 20 >= n,
        s"graft: compaction leg expects tombstone fraction >= 5% " +
          s"(got ${n - nSurv} of $n) — below the rebuild threshold " +
          "the correct action is to keep the tombstoned index")
      val index = graphStore(s, dir, "one", "compact")
      val (graph, storedN) = (index.graph, index.n)
      val q = nodes.filter(col("vec_id") < 10)
      val approx = Similarity.graphSearchTopKLayered(survivors, q,
          graph, index.upper.get, "embedding", "vec_id", k = 5, beam = 48,
          rounds = 6, upperSeed = index.entry)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(survivors, q, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val tombEdges = graph.filter(
        graphTombstoned(col("query_id")) ||
          graphTombstoned(col("neighbor_id")))
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(approx.agg(count(lit(1)).as("n_returned")))
        .crossJoin(tombEdges.agg(count(lit(1)).as("n_tomb_edges")))
        .select(col("n_queries"),
          (col("n_tomb_edges") === 0 && lit(storedN == nSurv))
            .as("tombstones_gone"),
          recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          (col("n_returned") === col("n_brute")).as("full_k"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             TRUE AS tombstones_gone, TRUE AS recall_ok, TRUE AS full_k
      FROM embeddings WHERE vec_id < 10"""))

  /** d_ann_graph_sharded — the SHARD-PARALLEL graph-ANN deployment
    * (DiskANN/partitioned-HNSW shape): the corpus splits into
    * [[Similarity.autoShards]] pmod-shards, each with its own
    * independent NN-descent subgraph built by ONE distributed pass
    * ([[Similarity.buildGraphIndex]] — shard isolation is a
    * construction invariant: seed edges are within-shard and the
    * NN-descent 2-hop closure cannot leave a shard, so subgraph
    * builds are embarrassingly parallel with ZERO cross-shard
    * shuffle mass — the property that matters at 10¹⁰ vectors where
    * a monolithic build's candidate shuffles span the corpus).
    * Search scatter-gathers: every query seeds every shard's entry,
    * beams stay per-(query, shard), the merge is one final top-k
    * window ([[Similarity.graphSearchTopKSharded]]) — exhaustive
    * over shards, so query cost grows with the shard count: the
    * right shape while shards stay in the tens, while at corpus
    * scale the ROUTED variant ([[dAnnGraphRouted]]) caps per-query
    * work at w probed shards. Index persisted once
    * ([[graphStore]] "pmod"). Rows-only (NN-descent not
    * SQL-replayable); [[dAnnGraphShardedRecall]] is the contract. */
  val dAnnGraphSharded: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val index = graphStore(s, dir, "pmod")
      val out = Similarity.graphSearchTopKSharded(nodes,
          nodes.filter(col("vec_id") < 10), index.graph, index.entries,
          "embedding", "vec_id", index.shards, k = 5, beamPerShard = 16,
          rounds = 6)
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = None)

  /** d_ann_graph_sharded_recall — the contract behind
    * [[dAnnGraphSharded]]: recall@5 vs brute ≥ 0.8 on the standard
    * probe set, `shard_isolated` (ZERO edges cross a shard boundary —
    * the invariant that makes the build embarrassingly parallel;
    * checked over the WHOLE stored edge list, one pmod filter),
    * `entries_cover` (one entry per shard, all off the probe set),
    * and `full_k` (the merge returns exactly k per query — a
    * mis-fanned search thins result sets before it loses recall). */
  val dAnnGraphShardedRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = nodes.filter(col("vec_id") < 10)
      val index = graphStore(s, dir, "pmod")
      val (graph, entries, shards) = (index.graph, index.entries, index.shards)
      val approx = Similarity.graphSearchTopKSharded(nodes, q, graph,
          entries, "embedding", "vec_id", shards, k = 5,
          beamPerShard = 16, rounds = 6)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(nodes, q, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val crossShard = graph.filter(
        pmod(col("query_id"), lit(shards)) =!=
          pmod(col("neighbor_id"), lit(shards)))
      val entryStats = entries.agg(
        count(lit(1)).as("n_entries"),
        countDistinct(col("shard")).as("n_shards"),
        min(col("entry_id")).as("min_entry"))
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(approx.agg(count(lit(1)).as("n_returned")))
        .crossJoin(crossShard.agg(count(lit(1)).as("n_cross")))
        .crossJoin(entryStats)
        .select(col("n_queries"),
          recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          (col("n_cross") === 0).as("shard_isolated"),
          // an empty corpus has no shard to cover
          (lit(index.n == 0) || col("n_entries") === shards.toLong &&
            col("n_shards") === shards.toLong &&
            col("min_entry") >= 10).as("entries_cover"),
          (col("n_returned") === col("n_brute")).as("full_k"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS shard_isolated, TRUE AS entries_cover, TRUE AS full_k
      FROM embeddings WHERE vec_id < 10"""))

  /** d_ann_graph_routed — ROUTED sharded graph ANN, the query-cost
    * fix for [[dAnnGraphSharded]]'s scatter-gather: that key's search
    * probes EVERY shard and [[Similarity.autoShards]] grows shards
    * linearly with n, so per-query work is corpus-LINEAR at the
    * 100-TB frame (n=10¹⁰ → ~152k shards → ~2.4M candidate cosines
    * per query per round). Here shards are k-means cells
    * ([[Similarity.GraphLayout.Cells]] — geometry-aware, which is
    * what makes routing possible: pmod shards are uniform random
    * subsamples no router can beat), each query probes only its 2
    * nearest-by-centroid shards ([[Similarity.graphSearchTopKRouted]]),
    * and per-query cost is probeShards·beamPerShard·2k —
    * corpus-INDEPENDENT. Index persisted once ([[graphStore]] "cells",
    * centroids stored with the edges). Rows-only (NN-descent + Lloyd
    * not SQL-replayable); [[dAnnGraphRoutedRecall]] is the contract. */
  val dAnnGraphRouted: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val index = graphStore(s, dir, "cells")
      val (graph, entries, cents) =
        (index.graph, index.entries, index.centroids.get)
      val out = Similarity.graphSearchTopKRouted(nodes,
          nodes.filter(col("vec_id") < 10), graph, entries, cents,
          "embedding", "vec_id", k = 5, beamPerShard = 16,
          rounds = 6, probeShards = 2)
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = None)

  /** d_ann_graph_routed_recall — the contract behind
    * [[dAnnGraphRouted]]: recall@5 vs brute ≥ 0.8 on the standard
    * probe set UNDER ROUTING (the recall the 2-of-N probe actually
    * delivers, not the all-shards number), `probe_bounded` (every
    * query routed to exactly probeShards shards AND
    * probeShards·4 ≤ shards — the ≤¼ cut that makes routing a real
    * cost reduction, pinned so shard-count drift can never silently
    * turn routing back into scatter-gather), `routed_subset` (every
    * returned neighbor lies in a shard its query probed — the search
    * touched nothing outside its route), and `full_k`. */
  val dAnnGraphRoutedRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = nodes.filter(col("vec_id") < 10)
      val index = graphStore(s, dir, "cells")
      val (graph, entries, cents) =
        (index.graph, index.entries, index.centroids.get)
      val probeShards = 2
      val approx = Similarity.graphSearchTopKRouted(nodes, q, graph,
          entries, cents, "embedding", "vec_id", k = 5,
          beamPerShard = 16, rounds = 6, probeShards = probeShards)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(nodes, q, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val route = Similarity.routedShards(q, "embedding", "vec_id",
        cents, probeShards)
      val routeCounts = route.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_routed"))
        .agg(min(col("n_routed")).as("min_routed"),
          max(col("n_routed")).as("max_routed"))
      val offRoute = approx
        .join(Similarity.shardAssign(nodes, "embedding", "vec_id", cents)
          .select(col("id").as("neighbor_id"), col("shard")),
          Seq("neighbor_id"))
        .join(route.withColumn("routed", lit(true)),
          Seq("query_id", "shard"), "left")
        .filter(!coalesce(col("routed"), lit(false)))
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(approx.agg(count(lit(1)).as("n_returned")))
        .crossJoin(offRoute.agg(count(lit(1)).as("n_off_route")))
        .crossJoin(routeCounts)
        .select(col("n_queries"),
          recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          // with no query, none was routed past the bound
          when(col("n_queries") === 0, true).otherwise(
            col("min_routed") === probeShards.toLong &&
            col("max_routed") === probeShards.toLong &&
            lit(probeShards * 4 <= cents.length)).as("probe_bounded"),
          (col("n_off_route") === 0).as("routed_subset"),
          (col("n_returned") === col("n_brute")).as("full_k"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS probe_bounded, TRUE AS routed_subset, TRUE AS full_k
      FROM embeddings WHERE vec_id < 10"""))

  /** d_ann_graph_routed_delete_recall — the DELETE leg of the ROUTED
    * index's lifecycle ([[dAnnGraphFullDeleteRecall]]'s semantics on
    * the scale-path index): 10% tombstoned ([[graphTombstoned]]),
    * deleted nodes STAY in the stored cells and keep routing, the
    * routed search runs k·3 deep (tombstone oversampling), drops
    * tombstones, re-ranks to k. Recall ≥ 0.8 vs brute over SURVIVORS
    * (deleted slots refilled by next-best survivors — measured 90/96
    * at sf0.01/sf0.1 under the standard w=2 route: the k·3-deep beam
    * already explores each probed cell past the deleted slots) and
    * full_k. */
  val dAnnGraphRoutedDeleteRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = nodes.filter(col("vec_id") < 10)
      val index = graphStore(s, dir, "cells")
      val (graph, entries, cents) =
        (index.graph, index.entries, index.centroids.get)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosm").desc, col("neighbor_id"))
      val approx = Similarity.graphSearchTopKRouted(nodes, q, graph,
          entries, cents, "embedding", "vec_id", k = 15,
          beamPerShard = 16, rounds = 6, probeShards = 2)
        .filter(!graphTombstoned(col("neighbor_id")))
        .withColumn("rnk2", row_number().over(w).cast("long"))
        .filter(col("rnk2") <= 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val survivors = nodes.filter(!graphTombstoned(col("vec_id")))
      val brute = Similarity.bruteTopK(survivors, q, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(approx.agg(count(lit(1)).as("n_returned")))
        .select(col("n_queries"),
          recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          (col("n_returned") === col("n_brute")).as("full_k"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok,
             TRUE AS full_k
      FROM embeddings WHERE vec_id < 10"""))

  /** d_ann_graph_routed_compact_recall — COMPACTION for the ROUTED
    * index ([[dAnnGraphFullCompactRecall]]'s semantics on the
    * scale-path index): past the 5% tombstone threshold (loud
    * require) the index — cells, centroids, entries, edges — is
    * REBUILT over survivors ([[graphStore]] "cells" "compact": ONE
    * code path with the fresh build, so rebuilt ≡ fresh-over-
    * survivors by construction; the quantizer retrains on survivors,
    * which is what compaction MEANS for a routed index — the cells
    * follow the surviving distribution). Contracts: `tombstones_gone`
    * (zero edges incident to a tombstone AND stored node count =
    * survivor count), recall ≥ 0.8 vs brute over survivors via the
    * PLAIN w=2 routed search (no oversampling — the operational
    * payoff), `full_k`. */
  val dAnnGraphRoutedCompactRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = nodes.count()
      val survivors = nodes.filter(!graphTombstoned(col("vec_id")))
      val nSurv = survivors.count()
      require((n - nSurv) * 20 >= n,
        s"graft: routed compaction expects tombstone fraction >= 5% " +
          s"(got ${n - nSurv} of $n)")
      val index = graphStore(s, dir, "cells", "compact")
      val (graph, entries, cents, storedN) =
        (index.graph, index.entries, index.centroids.get, index.n)
      val q = nodes.filter(col("vec_id") < 10)
      val approx = Similarity.graphSearchTopKRouted(survivors, q,
          graph, entries, cents, "embedding", "vec_id", k = 5,
          beamPerShard = 16, rounds = 6, probeShards = 2)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val brute = Similarity.bruteTopK(survivors, q, "embedding",
          "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = true)
      val tombEdges = graph.filter(
        graphTombstoned(col("query_id")) ||
          graphTombstoned(col("neighbor_id")))
      val out = brute.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_brute"))
        .crossJoin(brute.intersect(approx).agg(count(lit(1)).as("hits")))
        .crossJoin(approx.agg(count(lit(1)).as("n_returned")))
        .crossJoin(tombEdges.agg(count(lit(1)).as("n_tomb_edges")))
        .select(col("n_queries"),
          (col("n_tomb_edges") === 0 && lit(storedN == nSurv))
            .as("tombstones_gone"),
          recallAtLeast(col("hits"), col("n_brute"), 0.8)
            .as("recall_ok"),
          (col("n_returned") === col("n_brute")).as("full_k"))
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
             TRUE AS tombstones_gone, TRUE AS recall_ok, TRUE AS full_k
      FROM embeddings WHERE vec_id < 10"""))

  /** d_ann_graph_routed_filtered_recall — FILTERED search on the
    * ROUTED index ([[Similarity.graphSearchTopKRoutedFiltered]]):
    * the production query shape at 100 TB is predicate + vector
    * search served by the index whose per-query cost does not grow
    * with the corpus, so the filtered story must hold THERE, not
    * just on the monolithic graph. A selective predicate makes the
    * matching top-k geometrically FARTHER, so filtered routing
    * probes MORE cells than unfiltered (w=4 = 2·w_base — the
    * measured knee: recall reads 58/68/76 at w=2/3/4 at sf0.01,
    * marginal recall per extra probe flattening; FAISS's
    * raise-nprobe-under-filters rule) with the per-cell beam
    * oversampled to 48 (≳k/selectivity at s=0.1), label post-filter
    * + re-rank. Floor 0.7 vs the filtered-exact truth, measured
    * 76/88 at sf0.01/sf0.1 — an honest WORST CASE: this corpus's
    * labels are independent of geometry, so the filtered truth is
    * near-uniform over cells and routing can keep the least of its
    * advantage; label-correlated embeddings (the common production
    * case) retain more. */
  val dAnnGraphRoutedFilteredRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = nodes.filter(col("vec_id") < 10)
      val index = graphStore(s, dir, "cells")
      val (graph, entries, cents) =
        (index.graph, index.entries, index.centroids.get)
      val out = annRecall(
          Similarity.graphSearchTopKRoutedFiltered(nodes, q, graph,
            entries, cents, "embedding", "vec_id", "label", k = 5,
            beamPerShard = 48, rounds = 6, probeShards = 4),
          Similarity.bruteTopKFiltered(nodes, q, "embedding",
            "vec_id", "label"),
          0.7)
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some(recallOracleSql))

  /** d_ann_graph_filtered_recall — FILTERED search served from the
    * GRAPH index ([[Similarity.graphSearchTopKLayeredFiltered]]),
    * closing the filtered-ANN story for the graph family (the exact
    * and IVF paths have [[dAnnFiltered]]/[[dAnnFilteredRecall]]):
    * the layered search traverses unfiltered with a beam oversampled
    * to beam ≳ k/selectivity (96 for k=5 at s=0.1 — constraining
    * traversal itself would disconnect routing, the standard
    * filtered-HNSW argument), then the per-query label predicate
    * prunes and re-ranks. Same 0.7 floor as the IVF filtered
    * contract, vs the filtered-exact truth. */
  val dAnnGraphFilteredRecall: QueryDef = QueryDef(
    fn = (s, dir) => {
      val nodes = Tables.load(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = nodes.filter(col("vec_id") < 10)
      val index = graphStore(s, dir, "one")
      val out = annRecall(
          Similarity.graphSearchTopKLayeredFiltered(nodes, q, index.graph,
            index.upper.get, "embedding", "vec_id", "label", k = 5,
            beam = 96, rounds = 6, upperSeed = index.entry),
          Similarity.bruteTopKFiltered(nodes, q, "embedding",
            "vec_id", "label"),
          0.7)
        .localCheckpoint(eager = true)
      nodes.unpersist()
      out
    },
    oracle = Some(recallOracleSql))

  val defs: Map[String, QueryDef] = Map(
    "d_ann_graph_insert" -> dAnnGraphInsert,
    "d_ann_graph_insert_recall" -> dAnnGraphInsertRecall,
    "d_ann_graph_full" -> dAnnGraphFull,
    "d_ann_graph_full_delete_recall" -> dAnnGraphFullDeleteRecall,
    "d_ann_graph_full_compact_recall" -> dAnnGraphFullCompactRecall,
    "d_ann_graph_full_recall" -> dAnnGraphFullRecall,
    "d_ann_graph_full_insert_recall" -> dAnnGraphFullInsertRecall,
    "d_ann_graph_sharded" -> dAnnGraphSharded,
    "d_ann_graph_sharded_recall" -> dAnnGraphShardedRecall,
    "d_ann_graph_routed" -> dAnnGraphRouted,
    "d_ann_graph_routed_recall" -> dAnnGraphRoutedRecall,
    "d_ann_graph_routed_delete_recall" -> dAnnGraphRoutedDeleteRecall,
    "d_ann_graph_routed_compact_recall" -> dAnnGraphRoutedCompactRecall,
    "d_ann_graph_filtered_recall" -> dAnnGraphFilteredRecall,
    "d_ann_graph_routed_filtered_recall" -> dAnnGraphRoutedFilteredRecall,
    "t_langid" -> tLangid,
    "t_quality" -> tQuality,
    "t_tokens" -> tTokens,
    "t_fingerprint" -> tFingerprint,
    "t_fingerprint_contract" -> tFingerprintContract,
    "t_sample" -> tSample,
    "t_stratified" -> tStratified,
    "t_chunk" -> tChunk,
    "t_shard" -> tShard,
    "t_perplexity" -> tPerplexity,
    "t_entropy" -> tEntropy,
    "t_novelty" -> tNovelty,
    "t_diversity" -> tDiversity,
    "t_stats" -> tStats,
    "t_vocab" -> tVocab,
    "t_vocab_coverage" -> tVocabCoverage,
    "t_outlier" -> tOutlier,
    "t_colloc" -> tColloc,
    "t_decile" -> tDecile,
    "d_overlap" -> dOverlap,
    "t_curate" -> tCurate,
    "t_mix" -> tMix,
    "t_recipe" -> tRecipe,
    "t_pack" -> tPack,
    "t_pack_split" -> tPackSplit,
    "t_redact" -> tRedact,
    "d_dedup_exact" -> dDedupExact,
    "d_dedup_cdc" -> dDedupCdc,
    "d_dedup_contain" -> dDedupContain,
    "d_knn_graph" -> dKnnGraph,
    "d_embed_outlier" -> dEmbedOutlier,
    "d_record_link" -> dRecordLink,
    "d_knn_descent" -> dKnnDescent,
    "d_ann_graph" -> dAnnGraph,
    "d_ann_graph_recall" -> dAnnGraphRecall,
    "d_ann_ivf_delta" -> dAnnIvfDelta,
    "d_cluster_silhouette" -> dClusterSilhouette,
    "d_knn_descent_recall" -> dKnnDescentRecall,
    "d_dedup_minhash" -> dDedupMinhash,
    "d_dedup_simhash" -> dDedupSimhash,
    "d_dedup_simhash_recall" -> dDedupSimhashRecall,
    "d_dedup_ngram" -> dDedupNgram,
    "d_dedup_window" -> dDedupWindow,
    "d_dedup_clusters" -> dDedupClusters,
    "d_dedup_keep_quality" -> dDedupKeepQuality,
    "s_ingest_dedup" -> sIngestDedup,
    "d_dedup_embed" -> dDedupEmbed,
    "d_contamination_embed" -> dContaminationEmbed,
    "d_semdedup" -> dSemdedup,
    "d_semdedup_keep" -> dSemdedupKeep,
    "d_semdedup_recall" -> dSemdedupRecall,
    "d_semdedup_keep_trained" -> dSemdedupKeepTrained,
    "d_ann_brute" -> dAnnBrute,
    "d_ann_mmr" -> dAnnMmr,
    "d_ann_lsh" -> dAnnLsh,
    "d_ann_ivf" -> dAnnIvf,
    "d_dedup_embed_recall" -> dDedupEmbedRecall,
    "d_ann_ivf_recall" -> dAnnIvfRecall,
    "d_ann_lsh_recall" -> dAnnLshRecall,
    "d_ann_ivf_auto_recall" -> dAnnIvfAutoRecall,
    "d_ann_lsh_auto_recall" -> dAnnLshAutoRecall,
    "d_ann_ivf_precision" -> dAnnIvfPrecision,
    "d_ann_lsh_precision" -> dAnnLshPrecision,
    "d_ann_pq" -> dAnnPq,
    "d_ann_pq_recall" -> dAnnPqRecall,
    "d_ann_pq_fidelity" -> dAnnPqFidelity,
    "d_ann_sq" -> dAnnSq,
    "d_ann_sq_recall" -> dAnnSqRecall,
    "d_ann_sq_fidelity" -> dAnnSqFidelity,
    "d_embed_pca" -> dEmbedPca,
    "d_embed_prefix" -> dEmbedPrefix,
    "d_ann_pca" -> dAnnPca,
    "d_ann_pca_recall" -> dAnnPcaRecall,
    "d_ann_rp" -> dAnnRp,
    "d_ann_rp_recall" -> dAnnRpRecall,
    "d_ann_ivfpq" -> dAnnIvfPq,
    "d_ann_ivfpq_recall" -> dAnnIvfPqRecall,
    "d_ann_ivfsq" -> dAnnIvfSq,
    "d_ann_ivfsq_recall" -> dAnnIvfSqRecall,
    "d_cluster_kmeans" -> dClusterKmeans,
    "d_ann_filtered" -> dAnnFiltered,
    "d_ann_filtered_recall" -> dAnnFilteredRecall,
    "d_knn_label" -> dKnnLabel,
    "t_langid_confusion" -> tLangidConfusion,
    "t_repetition" -> tRepetition,
    "t_rarity" -> tRarity,
    "t_contamination" -> tContamination,
    "t_contamination_bloom" -> tContaminationBloom,
    "m_modal_audio" -> mModalAudio,
    "m_modal_vad" -> mModalVad,
    "m_dedup_audio" -> mDedupAudio,
    "m_modal_scenes" -> mModalScenes,
    "m_modal_augment" -> mModalAugment,
    "m_modal_meta" -> mModalMeta,
    "m_modal_resize" -> mModalResize,
    "m_modal_frames" -> mModalFrames)
}
