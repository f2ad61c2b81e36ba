package graft
import scala.util.control.NonFatal
/** Benchmark main: one JSON line with total + per-query seconds.
  *
  * A full pass at sf0.001 first warms JIT + the codegen cache
  * (generated classes are plan-shaped, not path-shaped, so they're
  * reused at the benched SF) — otherwise several seconds of
  * first-query compilation noise land on whichever query runs first.
  */
object Bench {

  private def fmt(v: Double, dec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))

  /** Render the one-line driver handshake JSON — pure, pinned by
    * BenchSpec against synthetic maps up to 140 queries. The driver
    * keeps only a fixed-size TAIL of stdout (2000 chars observed), so
    * the line must fit in it whole; full-precision doubles over 81
    * queries once overflowed it and the line never parsed. Degradation
    * ladder until the line fits `limit`: 2-decimal → 1-decimal →
    * failed list capped at 8 names (+"+N more" marker) → sf rendered
    * as its basename (saves a path prefix; dir layout is fixed, so
    * sf0.1 is unambiguous) → per-query values as INTEGER DECISECONDS
    * (self-described by a `"qunit":"ds"` marker — drops the literal
    * dot per entry, ~1 char x suite size) → the map PACKED into two
    * parallel CSV strings `"qn"`/`"qds"` (same names, same ds values;
    * drops the per-entry quote+colon glue, ~3 chars x suite size) →
    * qn FRONT-CODED (marked `"qenc":"fc"`: each sorted name rendered
    * as one uppercase letter 'A'+lcp-with-predecessor plus the suffix
    * from that lcp; the suite's family prefixes d_ann_/d_dedup_/q_/t_
    * make the typical elision ~6 chars) → per-query map restricted to
    * the SLOWEST K entries that fit (deciseconds), with a
    * "queries_omitted" count. The headline total stays seconds at
    * 1-decimal through every rung below the first. Queries that
    * failed every pass appear ONLY in "failed", never in the map:
    * their durations are meaningless, and a consumer diffing
    * run-over-run must not mistake a persistently broken query for a
    * fast one.
    *
    * Capacity, measured with the real suite's names (avg ~11.7
    * chars): 1-decimal carries ~97 queries, deciseconds ~110, packed
    * ~125, front-coded ~160 (the 163-query suite measured 2043 — the
    * ~170 estimate assumed denser family prefixes than q_pagerank /
    * t_rrf-era keys deliver) → the fc2 rung (comma-free front-coding,
    * base-62 ds) carries ~175 (the 163-query suite measures 1843) →
    * the fc3 rung (fc2 + the suffix dictionary) ~190 — past THAT the
    * ladder keeps the slowest entries plus the honest omission
    * count, and bench_full.json remains the complete committed
    * record. */
  private[graft] def renderLine(timings: Seq[(String, Double)], total: Double,
      failed: Seq[String], sfDir: String, limit: Int = 1950): String = {
    val sfShort = new java.io.File(sfDir).getName
    def ds(v: Double): String = math.round(v * 10).toString
    def failedJson(failCap: Int): String =
      if (failed.isEmpty) ""
      else {
        val names = failed.take(failCap).map("\"" + _ + "\"")
        val extra =
          if (failed.size > failCap) Seq("\"+" + (failed.size - failCap) + " more\"")
          else Nil
        (names ++ extra).mkString(""","failed":[""", ",", "]")
      }
    def keep(keepQ: Int): Seq[(String, Double)] =
      if (keepQ >= timings.size) timings
      else timings.sortBy(-_._2).take(keepQ).sortBy(_._1)
    // an omitting line is exactly where the sidecar pointer matters
    // most — the dropped entries are only in bench_full.json
    def omittedJson(kept: Int): String =
      if (kept < timings.size)
        s""","queries_omitted":${timings.size - kept},"detail":"bench_full.json""""
      else ""
    // dec >= 1: seconds at that precision; dec == 0: integer
    // deciseconds, marked "qunit":"ds" so the values self-describe
    def render(dec: Int, failCap: Int, keepQ: Int, sfShown: String): String = {
      val kept = keep(keepQ)
      val qs = kept.map { case (k, v) =>
        "\"" + k + "\":" + (if (dec == 0) ds(v) else fmt(v, dec))
      }.mkString("{", ",", "}")
      val unit = if (dec == 0) ""","qunit":"ds"""" else ""
      s"""{"metric":"total","value":${fmt(total, math.max(dec, 1))},"unit":"sec","queries":$qs$unit${omittedJson(kept.size)}${failedJson(failCap)},"sf":"$sfShown"}"""
    }
    // the packed rung: same (name, decisecond) pairs as two parallel
    // CSV strings — position i of qds times position i of qn
    def renderPacked(failCap: Int, sfShown: String): String = {
      val qn = timings.map(_._1).mkString(",")
      val qds = timings.map(t => ds(t._2)).mkString(",")
      s"""{"metric":"total","value":${fmt(total, 1)},"unit":"sec","qn":"$qn","qds":"$qds","qunit":"ds","detail":"bench_full.json"${failedJson(failCap)},"sf":"$sfShown"}"""
    }
    // the front-coded rung: each qn entry becomes one UPPERCASE letter
    // ('A' + lcp-with-predecessor, capped at 25) followed by the
    // name's suffix from that lcp — decode by prepending the previous
    // DECODED name's first (letter - 'A') chars. Unambiguous because
    // query keys are lowercase snake_case (uppercase never starts a
    // suffix); a key outside that alphabet disables the rung rather
    // than emit an undecodable line.
    val fcSafe = timings.forall { case (n, _) =>
      n.nonEmpty && n.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')
    }
    // ONE front-coder serves the fc/fc2/fc3 rungs (each entry = 'A'+lcp
    // uppercase letter + suffix from that lcp, capped at 25; lcp vs the
    // previous ENCODED-input name): fc joins entries with commas, fc2+
    // concatenates (the uppercase letter doubles as separator since
    // names are lowercase snake_case).
    def frontCode(names: Seq[String], sep: String): String = {
      val sb = new StringBuilder
      var prev = ""
      names.foreach { n =>
        var l = 0
        val max = math.min(math.min(prev.length, n.length), 25)
        while (l < max && prev.charAt(l) == n.charAt(l)) l += 1
        if (sb.nonEmpty) sb.append(sep)
        sb.append(('A' + l).toChar).append(n.substring(l))
        prev = n
      }
      sb.toString
    }
    val b62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    def encB62(v0: Long): String = {
      var v = v0
      if (v == 0) "0"
      else {
        val s = new StringBuilder
        while (v > 0) { s.insert(0, b62((v % 62).toInt)); v /= 62 }
        s.toString
      }
    }
    // compressed rungs (packed and beyond) name the sidecar holding
    // the PLAIN per-query map — a consumer of the handshake line alone
    // must never need the fc decoder to recover per-query timings
    def fcLine(qn: String, qds: String, tag: String, failCap: Int,
        sfShown: String): String =
      s"""{"metric":"total","value":${fmt(total, 1)},"unit":"sec","qn":"$qn","qds":"$qds","qunit":"ds","qenc":"$tag","detail":"bench_full.json"${failedJson(failCap)},"sf":"$sfShown"}"""
    def renderFrontCoded(failCap: Int, sfShown: String): String =
      fcLine(frontCode(timings.map(_._1), ","),
        timings.map(t => ds(t._2)).mkString(","), "fc", failCap, sfShown)
    // the fc2 rung: front-coded names CONCATENATED (no commas) and qds
    // in base-62 (variable width, commas kept -- ~6.1 s fits one char).
    // Measured at the 163-query suite: fc read 2043 chars (93 over the
    // window), fc2 1843 -- capacity ~175 real-suite keys.
    def qdsB62: String =
      timings.map(t => encB62(math.round(t._2 * 10))).mkString(",")
    def renderFc2(failCap: Int, sfShown: String): String =
      fcLine(frontCode(timings.map(_._1), ""), qdsB62, "fc2", failCap, sfShown)
    // the fc3 rung: fc2 plus a SUFFIX dictionary -- the key families
    // share long tails (_recall, _precision, _contract, _fidelity,
    // _sketch) that front-coding can't elide (they differ from the
    // predecessor's tail). Each is rewritten to '~'+letter BEFORE
    // front-coding ('~' is outside the snake_case alphabet, so decode
    // is: split on uppercase, fc-decode, expand the trailing ~x).
    // ~110 chars on the real suite -> capacity ~190 keys.
    val fc3Suffixes = Seq(
      "_precision" -> "~p", "_contract" -> "~c", "_fidelity" -> "~f",
      "_recall" -> "~r", "_sketch" -> "~k")
    def renderFc3(failCap: Int, sfShown: String): String = {
      def sub(n: String): String =
        fc3Suffixes.collectFirst {
          case (suf, short) if n.endsWith(suf) =>
            n.dropRight(suf.length) + short
        }.getOrElse(n)
      fcLine(frontCode(timings.map(t => sub(t._1)), ""), qdsB62, "fc3",
        failCap, sfShown)
    }
    (Iterator[() => String](
        () => render(2, Int.MaxValue, timings.size, sfDir),
        () => render(1, Int.MaxValue, timings.size, sfDir),
        () => render(1, 8, timings.size, sfDir),
        () => render(1, 8, timings.size, sfShort),
        () => render(0, 8, timings.size, sfShort),
        () => renderPacked(8, sfShort)) ++
      (if (fcSafe) Iterator(() => renderFrontCoded(8, sfShort),
                            () => renderFc2(8, sfShort),
                            () => renderFc3(8, sfShort))
       else Iterator.empty))
      .map(_.apply())
      .find(_.length <= limit)
      .getOrElse {
        // every zero-omission encoding is too long: keep the slowest K
        ((timings.size - 1) to 0 by -1).iterator.map(render(0, 8, _, sfShort))
          .find(_.length <= limit)
          .getOrElse(render(0, 0, 0, sfShort))
      }
  }

  /** Where the full-precision record goes. `explicitOut`
    * (SPARK_GRAFT_FULL_OUT) names a destination at any sfDir (the ~sf1
    * replica artifact). The implicit `bench_full.json` is BY DEFINITION
    * the canonical full suite at sf0.1 on a 32-way session with no extra
    * JVM flags, so it is written only when all of that holds: a filtered
    * profiling run, another SF or replica dir, a low-core scaling run
    * (round 16's 8-core run clobbered it) and a config A/B run through
    * SPARK_GRAFT_JAVA_OPTS would each overwrite it with numbers the
    * README/SURVEY claims no longer back. `parallelism` is the resolved
    * session's, not the SPARK_GRAFT_CPUS request. Pure — pinned by
    * BenchSpec. */
  def fullOutPath(explicitOut: Option[String], only: Option[Set[String]],
      sfDir: String, parallelism: Int, javaOpts: Option[String]): Option[String] =
    explicitOut.orElse(
      if (only.isEmpty && parallelism == 32 && javaOpts.forall(_.trim.isEmpty) &&
          new java.io.File(sfDir).getName == "sf0.1")
        Some("bench_full.json")
      else None)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local()
    // noop sink, not count(): count() lets Catalyst prune projections,
    // so scan-shaped queries would skip e.g. their Avro decode and
    // report times for work they didn't do.
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String, name: String): Boolean =
      try { fn(spark, dir).write.mode("overwrite").format("noop").save(); true }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    // SPARK_GRAFT_ONLY=q1_agg,q3_shipping isolates queries when
    // profiling locally; the driver leaves it unset (full run).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      ordered.foreach { case (name, fn) => run(fn, warmDir, name) }
    // every other table is pre-materialized parquet; rendering a media
    // shelf would bill ~5 s of producer work to the first media query
    operators.Multimodal.renderShelves(spark, sfDir, ordered.map(_._1))
    // Noise immunity: N full passes over the suite, per-query MIN across
    // passes. Passes (not back-to-back reps) because the observed noise is
    // ~30 s co-tenant load windows — back-to-back reps of one query all land
    // inside the same window, while in pass order the window hits DIFFERENT
    // queries each pass, so the min recovers every query's true time.
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption).getOrElse(3).max(1)
    val passes = (1 to reps).map { _ =>
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = run(fn, sfDir, name)
        name -> ((System.nanoTime() - t0) / 1e9, ok)
      }
    }
    // min over SUCCESSFUL passes only: a transiently failing pass is fast
    // (broadcast timeout, memory pressure) and a naive min would prefer
    // its bogus time over the good samples. Only if every pass failed
    // does the failure duration stand in, as the single-shot code did.
    val results = ordered.map(_._1).map { name =>
      val samples = passes.map(_.find(_._1 == name).get._2)
      val good = samples.collect { case (t, true) => t }
      (name, if (good.nonEmpty) good.min else samples.map(_._1).min, good.isEmpty)
    }
    // a query that failed EVERY pass reports a meaningless duration: name
    // it in a "failed" key (normally absent), keep it OUT of the
    // per-query map entirely, and keep its garbage duration out of the
    // headline total, which consumers compare run-over-run
    val failed = results.collect { case (name, _, true) => name }
    val timings = results.collect { case (name, v, false) => (name, v) }
    val total = timings.map(_._2).sum
    val line = renderLine(timings, total, failed, sfDir)
    println(line)
    // Fallback for drivers that scrape a file instead of (or after) stdout:
    // sbt's log decoration ("[info] {...}") broke stdout parsing in round 1.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), line + "\n")
    catch { case NonFatal(_) => () }
    // Full-precision per-query timings for local profiling only (file,
    // so no tail-window limit: full failed list, full precision).
    val fullOut = fullOutPath(sys.env.get("SPARK_GRAFT_FULL_OUT"), only, sfDir,
      spark.sparkContext.defaultParallelism, sys.env.get("SPARK_GRAFT_JAVA_OPTS"))
    fullOut.foreach { out =>
      val fullQs = timings.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val fullFailed =
        if (failed.isEmpty) ""
        else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
      // A filtered run (SPARK_GRAFT_ONLY) that names SPARK_GRAFT_FULL_OUT
      // writes a PARTIAL suite: embed the active filter and switch the
      // metric label so the record is self-identifying and can never be
      // mistaken for (or clobber the semantics of) a full-suite total.
      val metric = if (only.isEmpty) "total" else "partial"
      val fullOnly = only.fold("")(ks =>
        ks.toSeq.sorted.map("\"" + _ + "\"").mkString(""","only":[""", ",", "]"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"""{"metric":"$metric","value":$total,"unit":"sec","queries":$fullQs$fullFailed$fullOnly,"sf":"$sfDir"}""" + "\n")
      catch { case NonFatal(_) => () }
    }
    spark.stop()
  }
}
