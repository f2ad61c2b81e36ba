package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions => TF}
import graft.plans.NfcNormalize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Data-selection and normalization operators — the curation steps a
  * training-data pipeline runs between retrieval and packing: Unicode
  * canonicalization, size-weighted corpus sampling, leakage-safe
  * train/val/test splitting, and cross-document boilerplate
  * measurement. All scores are integer-exact per the repo's oracle
  * convention; randomness is always a salted md5 of a stable id, so
  * every "draw" replays bit-identically in any engine.
  */
object Selection {

  /** t_normalize — Unicode NFC canonicalization through the codegen'd
    * [[graft.plans.NfcNormalize]] kernel. The synthetic corpus is
    * ASCII, so the query first plants decomposed sequences
    * deterministically (every 'a' becomes 'a' + U+0301 COMBINING
    * ACUTE) IN BOTH ENGINES, then normalizes: NFC must compose each
    * pair back to precomposed 'á', and the oracle's nfc_normalize
    * agrees codepoint-for-codepoint or the hash fails. Character
    * counts before/after expose the composition arithmetic
    * (n_raw − n_norm = number of planted pairs).
    *
    * Scale: pure map — one projection, no shuffle; the kernel's
    * quick-check fast path returns already-normalized rows with zero
    * allocation, which is the overwhelming case on real corpora. */
  val tNormalize: QueryDef = QueryDef(
    fn = (s, dir) => {
      val mutated = regexp_replace(col("text"), "a", "á")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), mutated.as("mut"))
        .select(col("doc_id"),
          Bridge.column(NfcNormalize(Bridge.expression(col("mut"))))
            .as("text_norm"),
          length(col("mut")).cast("long").as("n_chars_raw"))
        .withColumn("n_chars_norm", length(col("text_norm")).cast("long"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS mut
        FROM documents)
      SELECT doc_id, nfc_normalize(mut) AS text_norm,
             CAST(length(mut) AS BIGINT) AS n_chars_raw,
             CAST(length(nfc_normalize(mut)) AS BIGINT) AS n_chars_norm
      FROM m ORDER BY doc_id"""))

  /** Integer uniform draw for [[tWeightedSample]]: the first 8 hex
    * digits of a salted md5 decoded to a BIGINT by an 8-term
    * positional sum — generated per dialect from one loop so the two
    * engines can't drift. (No conv()/from_hex: DuckDB lacks the
    * former, Spark the latter; locate/strpos digit lookup is common
    * ground.) */
  private def hexToLongSpark(h: String): String =
    (1 to 8).map(i =>
      s"(locate(substring($h, $i, 1), '0123456789abcdef') - 1) * " +
        s"${1L << (4 * (8 - i))}L")
      .mkString("(", " + ", ")")
  private def hexToLongDuck(h: String): String =
    (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', substring($h, $i, 1)) - 1) * " +
        s"CAST(${1L << (4 * (8 - i))} AS BIGINT)")
      .mkString("(", " + ", ")")

  /** t_weighted_sample — sequential Poisson sampling (Ohlsson): a
    * size-weighted without-replacement sample of k=100 docs, priority
    * = u/w with u a salted-md5 uniform and w = n_chars, realized as
    * the BIGINT (u·1000) div w so the order — and therefore the
    * sample — is engine-exact (IEEE ln() is NOT reproducible across
    * libms; integer division is). Longer documents draw
    * proportionally smaller priorities, so the sample is
    * probability-proportional-to-size — the standard corpus
    * downsampling draw.
    *
    * Scale: priorities are one map pass; the k smallest is a
    * TakeOrdered (per-partition top-k then merge, O(k) memory per
    * partition); the rank window runs over the 100-row result only
    * — bounded by construction. */
  val tWeightedSample: QueryDef = QueryDef(
    fn = (s, dir) => {
      val sampled = Tables.load(s, dir, "documents")
        .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("w"))
        .withColumn("h", substring(
          md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 8))
        .withColumn("u", expr(hexToLongSpark("h")))
        .withColumn("priority", expr("(u * 1000) div w"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(100)
      sampled
        .withColumn("rnk", row_number()
          .over(Window.orderBy(col("priority"), col("doc_id"))).cast("long"))
        .select(col("rnk"), col("doc_id"), col("w"), col("priority"))
        .orderBy(col("rnk"))
    },
    oracle = Some(s"""
      WITH p AS (
        SELECT doc_id, greatest(n_chars, 1) AS w,
               substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
        FROM documents),
      pr AS (
        SELECT doc_id, w,
               (${hexToLongDuck("h")} * 1000) // w AS priority
        FROM p),
      top AS (
        SELECT doc_id, w, priority FROM pr
        ORDER BY priority, doc_id LIMIT 100)
      SELECT CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT)
               AS rnk,
             doc_id, CAST(w AS BIGINT) AS w, priority
      FROM top ORDER BY rnk"""))

  /** t_split_leakfree — train/val/test assignment that cannot leak
    * near-duplicates across splits: documents are first clustered by
    * the minhash near-dup graph ([[Dedup.minhashPairs]] →
    * [[Dedup.clusters]] over the full doc universe), then the WHOLE
    * cluster is assigned one split by salted md5 of its cluster_id
    * (~80/10/10). A doc and its near-duplicate land in the same
    * cluster by construction, hence the same split — the
    * contamination guarantee a naive per-doc hash split lacks.
    *
    * Scale: inherits the banded-LSH pair generation and O(log n)
    * component rounds already scale-proven for d_dedup_clusters; the
    * split assignment itself is one map over the label table. */
  val tSplitLeakfree: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.clusters(
        Dedup.minhashPairs(docs, "text", "doc_id",
          numHashes = 64, bands = 16),
        universe = Some(docs.select(col("doc_id"))))
        .withColumn("b", substring(
          md5(concat(lit("split:"), col("cluster_id").cast("string"))), 1, 2))
        .select(col("id").as("doc_id"), col("cluster_id"),
          when(col("b") < "cc", "train")
            .when(col("b") < "e6", "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE ${Pipeline.shinglePairsSql},
      edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
                UNION SELECT id_b, id_a FROM jpairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
      lab AS (
        SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
      uni AS (
        SELECT d.doc_id AS id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
      SELECT id AS doc_id, cluster_id,
             CASE WHEN b < 'cc' THEN 'train'
                  WHEN b < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT *, substring(md5('split:' || CAST(cluster_id AS VARCHAR)),
                                1, 2) AS b
            FROM uni)
      ORDER BY doc_id"""))

  /** t_boilerplate — cross-document boilerplate measurement (the
    * CCNet/RefinedWeb shared-phrase signal): a word bigram is
    * "boilerplate" when it appears in ≥ 1/25th of all documents; each
    * doc reports what fraction of its DISTINCT bigram vocabulary is
    * boilerplate (ppm) and a keep flag at < 50%. Distinct from
    * t_repetition (within-doc loops): this flags text SHARED ACROSS
    * documents — templates, headers, navigation chrome.
    *
    * Bigrams ride the codegen'd [[graft.plans.HashedWordShingles]]
    * kernel (k=2; a first cut built them with a higher-order
    * `transform` lambda — HOFs run INTERPRETED per element, measured
    * 12 s at sf0.1 where the kernel path reads the corpus once in
    * whole-stage codegen) and the oracle replays the same windows as
    * strings via the shared wordWindowSql tokenization contract.
    * One assumption rides on top of that contract here: doc frequency
    * is counted over the 64-bit gram HASHES on the Spark side but
    * over the gram STRINGS in the oracle, so two distinct bigrams
    * colliding at 64 bits would merge their df and could flip a
    * threshold the string replay wouldn't. Birthday math keeps that
    * negligible through ~10^8 distinct bigrams (collision odds ~3e-4);
    * a corpus with a distinct-bigram vocabulary beyond ~10^9 should
    * derive the boiler set from string bigrams (or a 128-bit hash)
    * instead.
    *
    * Scale: the frequency table aggregates (gram → df) with map-side
    * combine; the boiler set is bounded above by 25·(corpus distinct
    * positions / n_docs) ≈ 25·avg_len grams and BROADCASTS to a semi
    * join, so the by-definition-hot boilerplate grams never key a
    * shuffle — the same hot-token shape t_rarity pins in its spec. */
  val tBoilerplate: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // (doc, gram) is distinct-per-doc by kernel construction; one
      // explode feeds df, the boiler cut, the per-doc tally, and the
      // per-doc vocabulary size — cached so the corpus is read once
      val counts = docs
        .select(col("doc_id"),
          explode(graft.functions.MinHash.hashedWordShingles(
            col("text"), 2)).as("gram"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfreq = counts.groupBy(col("gram"))
        .agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val boiler = dfreq.crossJoin(broadcast(n))
        .filter(col("df") * 25 >= col("n_docs"))
        .select(col("gram"))
      val nBoiler = counts.join(broadcast(boiler), Seq("gram"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
      val nPos = counts.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pos"))
      val out = nPos
        .join(nBoiler, Seq("doc_id"), "left")
        .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
        .withColumn("boiler_ppm",
          expr("(n_boiler * 1000000) div n_pos")) // kernel emits >= 1
        .withColumn("keep", col("boiler_ppm") < 500000L)
        .select(col("doc_id"), col("n_pos"), col("n_boiler"),
          col("boiler_ppm"), col("keep"))
        .orderBy(col("doc_id"))
        .localCheckpoint(eager = true)
      counts.unpersist()
      out
    },
    oracle = Some(s"""
      WITH ${Pipeline.wordWindowSql(2)},
      dfreq AS (SELECT s, count(*) AS df FROM e GROUP BY s),
      n AS (SELECT count(*) AS n_docs FROM documents),
      boiler AS (SELECT s FROM dfreq, n WHERE df * 25 >= n_docs),
      bc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler
        FROM e WHERE s IN (SELECT s FROM boiler)
        GROUP BY 1),
      np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos
             FROM e GROUP BY 1)
      SELECT np.doc_id, n_pos,
             CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
             CAST((coalesce(n_boiler, 0) * 1000000) // n_pos AS BIGINT)
               AS boiler_ppm,
             (coalesce(n_boiler, 0) * 1000000) // n_pos < 500000 AS keep
      FROM np LEFT JOIN bc USING (doc_id)
      ORDER BY np.doc_id"""))

  /** t_gopher — the Gopher quality-rule bundle (Rae et al. 2021,
    * "Scaling Language Models", Appendix A1.1) as one per-document
    * audit row: word count ∈ [50, 100k], mean word length ∈ [3, 10],
    * symbol-to-word ratio < 0.1 (# and ellipsis), ≥80% alphabetic
    * words, ≥2 stopword hits — each rule a named boolean, keep =
    * conjunction. Every ratio is an integer CROSS-MULTIPLICATION
    * (3·n ≤ Σlen ≤ 10·n, 10·(sym) < n, 5·alpha ≥ 4·n) so no division
    * or float enters either engine. Stopword hits reuse the
    * padded-replace-length identity ([[TF.markerCount]]) — adjacent
    * repeats share a separator space and count every other
    * occurrence, identically in both engines (documented there).
    *
    * Scale: pure map over the corpus — one projection, no shuffle;
    * the alphabetic-word count is the one interpreted lambda
    * (array-sized per row, not corpus-shaped — measured harmless
    * next to the regex tokenize it rides with). */
  val tGopher: QueryDef = QueryDef(
    fn = (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"),
          col("text"))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .withColumn("sum_len",
          length(regexp_replace(lower(trim(col("text"))), "\\s+", ""))
            .cast("long"))
        .withColumn("n_alpha", expr(
          "CAST(size(filter(toks, t -> t rlike '^[a-z]+$')) AS BIGINT)"))
        .withColumn("n_sym",
          (length(col("text")) -
            length(regexp_replace(col("text"), "#", ""))).cast("long") +
          ((length(col("text")) -
            length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
            .cast("long"))
        .withColumn("n_stop",
          TF.markerCount(col("text"), " the ") +
            TF.markerCount(col("text"), " a "))
        .withColumn("wc_ok",
          col("n_words") >= 50 && col("n_words") <= 100000)
        .withColumn("wl_ok",
          col("sum_len") >= col("n_words") * 3 &&
            col("sum_len") <= col("n_words") * 10)
        .withColumn("sym_ok", col("n_sym") * 10 < col("n_words"))
        .withColumn("alpha_ok", col("n_alpha") * 5 >= col("n_words") * 4)
        .withColumn("stop_ok", col("n_stop") >= 2)
        .withColumn("keep", col("wc_ok") && col("wl_ok") && col("sym_ok") &&
          col("alpha_ok") && col("stop_ok"))
        .select(col("doc_id"), col("n_words"), col("sum_len"),
          col("n_alpha"), col("n_sym"), col("n_stop"), col("wc_ok"),
          col("wl_ok"), col("sym_ok"), col("alpha_ok"), col("stop_ok"),
          col("keep"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, text,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
               ' ' || lower(text) || ' ' AS padded
        FROM documents),
      m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(length(regexp_replace(lower(trim(text)), '\s+', '', 'g'))
                 AS BIGINT) AS sum_len,
               CAST(len(list_filter(toks,
                 t2 -> regexp_matches(t2, '^[a-z]+$'))) AS BIGINT) AS n_alpha,
               CAST(length(text) - length(replace(text, '#', ''))
                 + (length(text) - length(replace(text, '...', ''))) // 3
                 AS BIGINT) AS n_sym,
               CAST((length(padded) - length(replace(padded, ' the ', ''))) // 5
                 + (length(padded) - length(replace(padded, ' a ', ''))) // 3
                 AS BIGINT) AS n_stop
        FROM t)
      SELECT doc_id, n_words, sum_len, n_alpha, n_sym, n_stop,
             n_words >= 50 AND n_words <= 100000 AS wc_ok,
             sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS wl_ok,
             n_sym * 10 < n_words AS sym_ok,
             n_alpha * 5 >= n_words * 4 AS alpha_ok,
             n_stop >= 2 AS stop_ok,
             (n_words >= 50 AND n_words <= 100000)
               AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
               AND (n_sym * 10 < n_words)
               AND (n_alpha * 5 >= n_words * 4)
               AND (n_stop >= 2) AS keep
      FROM m ORDER BY doc_id"""))

  /** t_urlnorm — URL canonicalization dedup (the CCNet/RefinedWeb
    * "same page, many spellings" collapse that runs BEFORE any
    * content-based dedup, because it is free): scheme/host
    * lowercased, `www.` and the default `:443` port stripped,
    * tracking parameters (`utm_*`, `gclid`, `fbclid`) dropped,
    * surviving query parameters SORTED, fragment and trailing slash
    * removed. The corpus has no URL column, so the query first
    * synthesizes one per document with deterministic doc_id-cycled
    * noise on every dimension IN BOTH ENGINES (the d_record_link
    * dirty-input device): members of a (source, doc_id div 140)
    * block differ in case, www, port, param order, tracking params
    * and fragment but canonicalize to one URL — group sizes 7 (plus
    * block-edge remainders) at every SF by construction.
    *
    * Scale: pure string map (regexp_extract / filter / array_sort
    * are all codegen-friendly element-bounded work) then ONE
    * aggregate keyed by canonical URL with map-side combine — the
    * exact-dedup shape; keep rule = min doc_id per group. */
  val tUrlnorm: QueryDef = QueryDef(
    fn = (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("url", expr("""
          concat(
            CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS'
                 ELSE 'Https' END,
            '://',
            CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END,
            source, '.Example.COM',
            CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
            '/docs/', CAST(doc_id div 140 AS STRING),
            CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
            CASE doc_id % 6
              WHEN 0 THEN '?utm_source=feed&page=2&sort=asc'
              WHEN 1 THEN '?sort=asc&page=2'
              WHEN 2 THEN '?page=2&sort=asc&gclid=xyz'
              WHEN 3 THEN '?page=2&utm_campaign=a&sort=asc'
              ELSE '?sort=asc&page=2&fbclid=q' END,
            CASE WHEN doc_id % 9 = 0 THEN '#section-3' ELSE '' END)"""))
        .select(col("doc_id"),
          lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
            .as("scheme"),
          lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1))
            .as("hostport"),
          regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
            .as("path"),
          regexp_extract(col("url"), "\\?([^#]*)", 1).as("query"))
        .withColumn("host",
          regexp_replace(regexp_replace(col("hostport"), ":443$", ""),
            "^www\\.", ""))
        .withColumn("cpath", expr("""
          CASE WHEN path = '' THEN '/'
               WHEN length(path) > 1 AND path LIKE '%/'
                 THEN substring(path, 1, length(path) - 1)
               ELSE path END"""))
        .withColumn("cquery", expr("""
          array_join(array_sort(filter(split(query, '&'),
            x -> NOT (x LIKE 'utm_%' OR x LIKE 'gclid=%'
                      OR x LIKE 'fbclid=%'))), '&')"""))
        .select(col("doc_id"), expr("""
          concat(scheme, '://', host, cpath,
            CASE WHEN cquery = '' THEN ''
                 ELSE concat('?', cquery) END)""").as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_dupes"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("canonical_url"))
    },
    oracle = Some("""
      WITH raw AS (
        SELECT doc_id,
          (CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS'
                ELSE 'Https' END) ||
          '://' ||
          (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
          source || '.Example.COM' ||
          (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
          '/docs/' || CAST(doc_id // 140 AS VARCHAR) ||
          (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
          (CASE doc_id % 6
             WHEN 0 THEN '?utm_source=feed&page=2&sort=asc'
             WHEN 1 THEN '?sort=asc&page=2'
             WHEN 2 THEN '?page=2&sort=asc&gclid=xyz'
             WHEN 3 THEN '?page=2&utm_campaign=a&sort=asc'
             ELSE '?sort=asc&page=2&fbclid=q' END) ||
          (CASE WHEN doc_id % 9 = 0 THEN '#section-3' ELSE '' END) AS url
        FROM documents),
      parts AS (
        SELECT doc_id,
          lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
          lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
            AS hostport,
          regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
          regexp_extract(url, '\?([^#]*)', 1) AS query
        FROM raw),
      norm AS (
        SELECT doc_id, scheme,
          regexp_replace(regexp_replace(hostport, ':443$', ''),
            '^www\.', '') AS host,
          CASE WHEN path = '' THEN '/'
               WHEN length(path) > 1 AND path LIKE '%/'
                 THEN substring(path, 1, length(path) - 1)
               ELSE path END AS cpath,
          array_to_string(list_sort(list_filter(string_split(query, '&'),
            x -> NOT (x LIKE 'utm_%' OR x LIKE 'gclid=%'
                      OR x LIKE 'fbclid=%'))), '&') AS cquery
        FROM parts)
      SELECT scheme || '://' || host || cpath ||
               CASE WHEN cquery = '' THEN '' ELSE '?' || cquery END
               AS canonical_url,
             count(*) AS n_dupes, min(doc_id) AS keep_id
      FROM norm
      GROUP BY 1
      ORDER BY canonical_url"""))

  /** t_line_dedup — LINE-level dedup (the C4 "three-sentence span" /
    * RefinedWeb line-dedup stage, the step between URL dedup and
    * document dedup): split each page into lines, drop repeated
    * lines WITHIN a page (keep the first occurrence), drop
    * boilerplate lines shared by ≥ half of all documents (headers,
    * footers, nav chrome), report per doc the in/kept line counts
    * and the md5 of the deduplicated page so the oracle pins the
    * surviving TEXT, not just counts. The corpus has no line
    * structure, so the page is assembled deterministically in both
    * engines: a global header line, an 8-word content chunk, a
    * global footer line, a second chunk, and (for doc_id % 3 = 0)
    * the first chunk REPEATED — so both removal rules fire on known
    * rows at every SF.
    *
    * Scale: within-page dedup is a (doc, line) group — map-side
    * combinable, never corpus-keyed; the boilerplate set is bounded
    * by 2·avg_lines_per_doc (df ≥ n/2 lines can't number more) and
    * BROADCASTS to an anti join, so the by-definition-hot shared
    * lines never key a shuffle; the md5 reassembly sorts a per-doc
    * bounded array (the q_paths sort_array device — never an
    * unordered collect). */
  val tLineDedup: QueryDef = QueryDef(
    fn = (s, dir) => {
      val pages = Tables.load(s, dir, "documents")
        .select(col("doc_id"), expr("""
          concat('site header promo banner', '\n',
                 array_join(slice(split(text, ' '), 1, 8), ' '), '\n',
                 'copyright footer legal text', '\n',
                 array_join(slice(split(text, ' '), 9, 8), ' '),
                 CASE WHEN doc_id % 3 = 0
                      THEN concat('\n',
                        array_join(slice(split(text, ' '), 1, 8), ' '))
                      ELSE '' END)""").as("page"))
      val lines = pages
        .select(col("doc_id"),
          posexplode(split(col("page"), "\n")).as(Seq("lno0", "line")))
        .withColumn("lno", col("lno0") + 1).drop("lno0")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val firstOcc = lines.groupBy(col("doc_id"), col("line"))
        .agg(min(col("lno")).as("lno"))
      val n = pages.agg(count(lit(1)).as("n_docs"))
      val boiler = firstOcc.groupBy(col("line"))
        .agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .filter(col("df") * 2 >= col("n_docs"))
        .select(col("line"))
      val kept = firstOcc.join(broadcast(boiler), Seq("line"), "left_anti")
      val out = lines.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines_in"))
        .join(kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            md5(expr("""array_join(transform(
              sort_array(collect_list(struct(lno, line))),
              x -> x.line), '\n')""")).as("kept_md5")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines_in"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("kept_md5"))
        .orderBy(col("doc_id"))
        .localCheckpoint(eager = true)
      lines.unpersist()
      out
    },
    oracle = Some("""
      WITH pages AS (
        SELECT doc_id,
          'site header promo banner' || chr(10) ||
          array_to_string((string_split(text, ' '))[1:8], ' ') || chr(10) ||
          'copyright footer legal text' || chr(10) ||
          array_to_string((string_split(text, ' '))[9:16], ' ') ||
          CASE WHEN doc_id % 3 = 0
               THEN chr(10) ||
                 array_to_string((string_split(text, ' '))[1:8], ' ')
               ELSE '' END AS page
        FROM documents),
      lines AS (
        SELECT doc_id, unnest(string_split(page, chr(10))) AS line,
               generate_subscripts(string_split(page, chr(10)), 1) AS lno
        FROM pages),
      first_occ AS (
        SELECT doc_id, line, min(lno) AS lno
        FROM lines GROUP BY doc_id, line),
      n AS (SELECT count(*) AS n_docs FROM pages),
      boiler AS (
        SELECT line FROM (SELECT line, count(*) AS df
                          FROM first_occ GROUP BY line), n
        WHERE df * 2 >= n_docs),
      kept AS (
        SELECT doc_id, line, lno FROM first_occ
        WHERE line NOT IN (SELECT line FROM boiler)),
      k AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               md5(string_agg(line, chr(10) ORDER BY lno)) AS kept_md5
        FROM kept GROUP BY doc_id),
      i AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_in
        FROM lines GROUP BY doc_id)
      SELECT i.doc_id, n_lines_in,
             CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept, kept_md5
      FROM i LEFT JOIN k USING (doc_id)
      ORDER BY i.doc_id"""))

  /** The "curated seed" sources for the supervised quality filter —
    * the stand-in for the wiki/books/reference positive class every
    * production quality classifier trains against. */
  private val SeedSources = Seq("src0", "src1", "src2", "src3")

  /** Per-token log-likelihood-ratio model + per-doc scores for
    * [[tClassifyNb]]: Naive Bayes with add-one smoothing, each class
    * log-prob floored to integer 1e-4 nats BEFORE the subtraction and
    * the count-weighted doc sum (the t_perplexity discipline: the
    * aggregate is a BIGINT sum immune to float order; the one ln per
    * (token, class) runs on an identical integer quotient in both
    * engines). Returns (doc_id, n_tokens, llr4_sum, keep). */
  /** (doc_id, y, w): every token instance with its class label
    * (y = 1 iff the doc's source is in [[SeedSources]]). */
  private def nbToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("source").isin(SeedSources.map(x => x: Any): _*)
        .cast("int").as("y"),
      explode(split(trim(col("text")), "\\s+")).as("w"))

  /** Per-token class counts (w, cp, cn) — the NB model's sufficient
    * statistics, MERGEABLE by plain summation (what makes the model
    * incrementally maintainable, [[tClassifyDelta]]). */
  private[graft] def nbCounts(docs: DataFrame): DataFrame =
    nbToks(docs).groupBy(col("w")).agg(
      sum(col("y")).as("cp"),
      sum(lit(1) - col("y")).as("cn"))

  /** Integer-LLR model (w, cp, cn, llr4) from class counts: each
    * class log-prob floored to 1e-4 nats BEFORE the subtraction. */
  private[graft] def nbLlr4(cls: DataFrame): DataFrame = {
    val tot = cls.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
      count(lit(1)).as("v"))
    cls.crossJoin(broadcast(tot)).select(col("w"),
      col("cp").cast("long").as("cp"), col("cn").cast("long").as("cn"),
      (floor(log((col("cp") + lit(1.0)) / (col("np") + col("v"))) * 10000) -
       floor(log((col("cn") + lit(1.0)) / (col("nn") + col("v"))) * 10000))
        .as("llr4"))
  }

  /** The unseen-token LLR constant (cp = cn = 0 in the same smoothed
    * formula) as a 1-row (np, nn, v, unseen4) meta relation — stored
    * WITH the model so the serving side scores out-of-vocabulary
    * tokens exactly as retraining would. */
  private[graft] def nbMeta(cls: DataFrame): DataFrame =
    cls.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
        count(lit(1)).as("v"))
      .select(col("np"), col("nn"), col("v"),
        (floor(log(lit(1.0) / (col("np") + col("v"))) * 10000) -
         floor(log(lit(1.0) / (col("nn") + col("v"))) * 10000))
          .as("unseen4"))

  /** Score docs against a (w, llr4) model + its unseen4 meta:
    * (doc_id, n_tokens, llr4_sum, keep), every input doc present. */
  private[graft] def nbScoreAgainst(docs: DataFrame, model: DataFrame,
      meta: DataFrame): DataFrame = {
    val perdoc = nbToks(docs).groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("k"))
    val agg = perdoc.join(model.select(col("w"), col("llr4")), Seq("w"), "left")
      .crossJoin(broadcast(meta.select(col("unseen4"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * coalesce(col("llr4"), col("unseen4"))).as("llr4_sum"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("llr4_sum"), lit(0L)).as("llr4_sum"),
        (coalesce(col("llr4_sum"), lit(0L)) > 0).cast("bigint").as("keep"))
  }

  private[graft] def nbScores(docs: DataFrame): DataFrame = {
    val cls = nbCounts(docs)
    nbScoreAgainst(docs, nbLlr4(cls), nbMeta(cls))
  }

  /** Shared oracle CTEs mirroring [[nbScores]] (DuckDB dialect; every
    * sum CAST to BIGINT — DuckDB widens sum() to HUGEINT, which the
    * driver's type-sensitive hash flags). Ends in `scored`. */
  private val nbSql: String = {
    val seeds = SeedSources.map(s => s"'$s'").mkString(", ")
    s"""toks AS (
        SELECT doc_id,
               CASE WHEN source IN ($seeds) THEN 1 ELSE 0 END AS y,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents),
      cls AS (
        SELECT w, sum(y) AS cp, sum(1 - y) AS cn FROM toks GROUP BY w),
      tot AS (
        SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v FROM cls),
      model AS (
        SELECT w,
               CAST(floor(ln((cp + 1.0)/(np + v)) * 10000) AS BIGINT)
             - CAST(floor(ln((cn + 1.0)/(nn + v)) * 10000) AS BIGINT) AS llr4
        FROM cls CROSS JOIN tot),
      perdoc AS (
        SELECT doc_id, w, count(*) AS k FROM toks GROUP BY doc_id, w),
      agg AS (
        SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
               CAST(sum(k * llr4) AS BIGINT) AS llr4_sum
        FROM perdoc JOIN model USING (w) GROUP BY doc_id),
      scored AS (
        SELECT d.doc_id,
               coalesce(n_tokens, 0) AS n_tokens,
               coalesce(llr4_sum, 0) AS llr4_sum,
               CAST(coalesce(llr4_sum, 0) > 0 AS BIGINT) AS keep
        FROM documents d LEFT JOIN agg USING (doc_id))"""
  }

  /** t_classify_nb — SUPERVISED quality classification, the
    * fastText-shaped filter step of CCNet / the GPT-3 data pipeline
    * (train a linear classifier on a curated seed vs the crawl, keep
    * documents the classifier scores seed-like) — the signal the
    * HEURISTIC quality ops (t_quality, t_gopher) cannot produce:
    * "does this read like the reference corpus", learned from data.
    * Naive Bayes with add-one smoothing (the all-integer-replayable
    * member of the linear-classifier family): per-token
    * log-likelihood ratio of the seed class ([[SeedSources]]) vs the
    * rest, per-doc score = count-weighted BIGINT sum of 1e-4-floored
    * ratios, keep = score > 0 (sign only — no integer division, whose
    * negative-operand semantics diverge across engines). Train and
    * score come out of ONE declarative plan: class counts are
    * map-side-combined token aggregations, totals ride a 1-row
    * broadcast, scoring joins per-doc DISTINCT tokens against the
    * vocab-sized model — token-keyed, AQE-splittable, with t_rarity's
    * Zipf-head broadcast remedy at 100 TB. Production splits train
    * (labeled sample) from score (full corpus); both are filters on
    * this same plan. */
  val tClassifyNb: QueryDef = QueryDef(
    fn = (s, dir) =>
      nbScores(Tables.load(s, dir, "documents")).orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH $nbSql
      SELECT doc_id, n_tokens, llr4_sum, keep
      FROM scored ORDER BY doc_id"""))

  /** t_classify_eval — the confusion matrix behind [[tClassifyNb]]:
    * keep decision vs the seed label, the
    * did-the-filter-learn-anything check a pipeline runs before
    * trusting a classifier with data loss (t_langid_confusion's shape
    * for the supervised filter). Bounded output (≤4 rows), exact
    * integer counts. */
  val tClassifyEval: QueryDef = QueryDef(
    fn = (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      nbScores(docs)
        .join(docs.select(col("doc_id"),
          col("source").isin(SeedSources.map(x => x: Any): _*)
            .cast("bigint").as("label")), Seq("doc_id"))
        .groupBy(col("label"), col("keep"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("keep"))
    },
    oracle = Some(s"""
      WITH $nbSql,
      lab AS (
        SELECT s.doc_id, s.keep,
               CASE WHEN d.source IN (${SeedSources.map(x => s"'$x'").mkString(", ")})
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS label
        FROM scored s JOIN documents d USING (doc_id))
      SELECT label, keep, CAST(count(*) AS BIGINT) AS n
      FROM lab GROUP BY label, keep ORDER BY label, keep"""))

  /** t_classify_delta — INCREMENTAL classifier maintenance, the
    * q_mv_incremental shape applied to an ML model: the NB model's
    * sufficient statistics (per-token class counts) are mergeable by
    * plain summation, so a delta batch updates the model WITHOUT
    * rescanning the corpus — base counts come from a PERSISTED
    * parquet artifact (written and read back, the real store shape),
    * the delta contributes one |delta|-scan, and one token-keyed
    * re-aggregation merges them. Output is the merged model itself
    * (w, cp, cn, llr4); the oracle retrains FROM SCRATCH over all
    * documents, so the hash match PROVES merged ≡ full retrain —
    * model freshness at 100 TB costs a delta scan, not a corpus
    * scan. */
  val tClassifyDelta: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "nbm")
      val docs = Tables.load(s, dir, "documents")
      val baseDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
      val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      nbCounts(baseDocs).write.mode("overwrite").parquet(s"$base/counts")
      val stored = s.read.parquet(s"$base/counts")
      val merged = stored.unionByName(nbCounts(delta))
        .groupBy(col("w"))
        .agg(sum(col("cp")).as("cp"), sum(col("cn")).as("cn"))
      nbLlr4(merged).orderBy(col("w"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT CASE WHEN source IN (${SeedSources.map(x => s"'$x'").mkString(", ")})
                    THEN 1 ELSE 0 END AS y,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents),
      cls AS (SELECT w, sum(y) AS cp, sum(1 - y) AS cn FROM toks GROUP BY w),
      tot AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v FROM cls)
      SELECT w, CAST(cp AS BIGINT) AS cp, CAST(cn AS BIGINT) AS cn,
             CAST(floor(ln((cp + 1.0)/(np + v)) * 10000) AS BIGINT)
           - CAST(floor(ln((cn + 1.0)/(nn + v)) * 10000) AS BIGINT) AS llr4
      FROM cls CROSS JOIN tot ORDER BY w"""))

  /** Seed the [[sClassify]] store: model + meta parquet trained on
    * the base corpus, plus an empty ledger anchor. */
  private[graft] def classifySeed(base: String, baseDocs: DataFrame): Unit = {
    val cls = nbCounts(baseDocs)
    nbLlr4(cls).write.mode("overwrite").parquet(s"$base/model")
    nbMeta(cls).write.mode("overwrite").parquet(s"$base/meta")
    nbScoreAgainst(baseDocs.filter(lit(false)), nbLlr4(cls), nbMeta(cls))
      .write.mode("overwrite").parquet(s"$base/ledger/v0")
    ()
  }

  /** One [[sClassify]] micro-batch: score arrivals against the STORED
    * model (never retrained in-stream — the decisions depend only on
    * the static artifact, so redelivery is idempotent by
    * construction), ledger appended batchId-keyed. */
  private[graft] def classifyBatch(s: org.apache.spark.sql.SparkSession,
      base: String, batch: DataFrame, b: Long): Unit = {
    nbScoreAgainst(batch, s.read.parquet(s"$base/model"),
        s.read.parquet(s"$base/meta"))
      .write.mode("overwrite").parquet(s"$base/ledger/x$b")
    ()
  }

  /** s_classify — STREAMING quality filtering, the serve-online leg
    * of [[tClassifyNb]] (the production deployment: the classifier
    * trains once on the curated seed, then gates the ingest stream):
    * model + unseen-token meta persisted from the base corpus,
    * arrivals scored per micro-batch against the store — one
    * token-keyed left join per batch, out-of-vocabulary tokens get
    * the stored unseen4 constant (exactly what retraining-with-zero-
    * counts would assign), decisions appended as a batchId-keyed
    * ledger. Arrival order is a pure function of doc_id (the
    * replica-stable split device), so the full streamed ledger is
    * SQL-replayable: the oracle trains on the base in SQL and scores
    * the delta, hash-matched row for row. Per-batch cost:
    * |batch| tokens map-side + one vocab-sized join — never a
    * corpus scan, never a retrain. */
  val sClassify: QueryDef = QueryDef(
    fn = (s, dir) => {
      val base = graft.Stores.tmpDir(s, "scls")
      val docs = Tables.load(s, dir, "documents")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val baseDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
      val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      classifySeed(base, baseDocs)
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
          classifyBatch(s, base, batch, b)
          batches.incrementAndGet()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      require(batches.get() >= 2L,
        s"graft: s_classify stream produced ${batches.get()} batches " +
          "— the multi-batch property the key exists to exercise is gone")
      val out = StreamQueries
        .readChainBelow(s, s"$base/ledger", "x", Long.MaxValue)
        .orderBy(col("doc_id"))
        .localCheckpoint(eager = true)
      docs.unpersist()
      out
    },
    oracle = Some(s"""
      WITH btoks AS (
        SELECT CASE WHEN source IN (${SeedSources.map(x => s"'$x'").mkString(", ")})
                    THEN 1 ELSE 0 END AS y,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents WHERE doc_id % 5 <> 4),
      cls AS (SELECT w, sum(y) AS cp, sum(1 - y) AS cn FROM btoks GROUP BY w),
      tot AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v FROM cls),
      model AS (
        SELECT w,
               CAST(floor(ln((cp + 1.0)/(np + v)) * 10000) AS BIGINT)
             - CAST(floor(ln((cn + 1.0)/(nn + v)) * 10000) AS BIGINT) AS llr4
        FROM cls CROSS JOIN tot),
      meta AS (
        SELECT CAST(floor(ln(1.0/(np + v)) * 10000) AS BIGINT)
             - CAST(floor(ln(1.0/(nn + v)) * 10000) AS BIGINT) AS unseen4
        FROM tot),
      delta AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
      dtoks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM delta),
      perdoc AS (SELECT doc_id, w, count(*) AS k FROM dtoks GROUP BY doc_id, w),
      agg AS (
        SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
               CAST(sum(k * coalesce(llr4, unseen4)) AS BIGINT) AS llr4_sum
        FROM perdoc LEFT JOIN model USING (w) CROSS JOIN meta
        GROUP BY doc_id)
      SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
             coalesce(llr4_sum, 0) AS llr4_sum,
             CAST(coalesce(llr4_sum, 0) > 0 AS BIGINT) AS keep
      FROM delta d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"""))

  val defs: Map[String, QueryDef] = Map(
    "t_gopher" -> tGopher,
    "t_normalize" -> tNormalize,
    "t_weighted_sample" -> tWeightedSample,
    "t_split_leakfree" -> tSplitLeakfree,
    "t_boilerplate" -> tBoilerplate,
    "t_urlnorm" -> tUrlnorm,
    "t_line_dedup" -> tLineDedup,
    "t_classify_nb" -> tClassifyNb,
    "t_classify_eval" -> tClassifyEval,
    "t_classify_delta" -> tClassifyDelta,
    "s_classify" -> sClassify)
}
