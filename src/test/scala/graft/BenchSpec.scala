package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench.renderLine's degradation ladder: the driver keeps only a
  * ~2000-char tail of stdout, so the handshake line must fit whole no
  * matter how many queries (or failures) the suite grows. Pure — no
  * SparkSession.
  */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(line: String) = mapper.readTree(line)

  // realistic key length (the real suite's keys average ~12 chars)
  private def synthetic(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q_syn_$i%03d", i * 0.137))

  // decoder for the front-coded rung: leading uppercase letter = lcp
  // with the previous DECODED name
  private def decodeFc(qn: String): Seq[String] = {
    var prev = ""
    qn.split(",").toSeq.map { tok =>
      val lcp = tok.head - 'A'
      val name = prev.substring(0, lcp) + tok.tail
      prev = name
      name
    }
  }

  // decoder for the fc2 rung: entries concatenated, every entry
  // STARTS with its uppercase lcp letter (names are lowercase
  // snake_case, so the case change is the separator)
  private def decodeFc2(qn: String): Seq[String] =
    decodeFc(qn.split("(?=[A-Z])").filter(_.nonEmpty).mkString(","))

  private val b62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
  private def decodeB62(s: String): Long =
    s.foldLeft(0L)((acc, c) => acc * 62 + b62.indexOf(c))

  private val fc3Suffixes = Seq(
    "_precision" -> "~p", "_contract" -> "~c", "_fidelity" -> "~f",
    "_recall" -> "~r", "_sketch" -> "~k")

  private def decodeFc3(qn: String): Seq[String] =
    decodeFc2(qn).map { n =>
      fc3Suffixes.collectFirst {
        case (suf, short) if n.endsWith(short) =>
          n.dropRight(short.length) + suf
      }.getOrElse(n)
    }

  private def qnNames(js: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val raw = js.get("qn").asText()
    val enc = if (js.has("qenc")) js.get("qenc").asText() else ""
    if (enc == "fc3") decodeFc3(raw)
    else if (enc == "fc2") decodeFc2(raw)
    else if (enc == "fc") decodeFc(raw)
    else raw.split(",").toSeq
  }

  private def qdsValues(js: com.fasterxml.jackson.databind.JsonNode): Seq[Long] = {
    val raw = js.get("qds").asText().split(",").toSeq
    if (js.has("qenc") && Set("fc2", "fc3")(js.get("qenc").asText()))
      raw.map(decodeB62)
    else raw.map(_.toLong)
  }

  test("89-query-scale map renders at 2 decimals and fits") {
    val t = synthetic(89)
    val line = Bench.renderLine(t, t.map(_._2).sum, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 1950)
    val js = parse(line)
    assert(js.get("queries").size() === 89)
    // 2-decimal rung: values carry centisecond precision
    assert(js.get("queries").get("q_syn_003").asDouble() === 0.41)
    assert(!js.has("failed") && !js.has("queries_omitted"))
  }

  test("synthetic 120-query map still fits the tail window and parses") {
    val t = synthetic(120)
    val line = Bench.renderLine(t, t.map(_._2).sum, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 1950, s"line overflows: ${line.length}")
    val js = parse(line)
    assert(js.get("metric").asText() === "total")
    assert(math.abs(js.get("value").asDouble() - t.map(_._2).sum) < 0.1)
    val kept = js.get("queries").size()
    val omitted = if (js.has("queries_omitted")) js.get("queries_omitted").asInt() else 0
    assert(kept + omitted === 120)
    // when the map is truncated it keeps the SLOWEST queries — the
    // informative tail for a consumer diffing run-over-run
    if (omitted > 0)
      assert(js.get("queries").has("q_syn_120"))
  }

  test("sweep to 200 queries: always fits, every entry accounted, drops last") {
    // wherever one encoding overflows, the next rung (short sf →
    // deciseconds → packed csv → front-coded csv) must absorb it
    // first — a query row only drops once even the densest
    // zero-omission form cannot fit
    for (n <- 80 to 200) {
      val t = synthetic(n)
      val line = Bench.renderLine(t, t.map(_._2).sum, Nil, "/root/testdata/sf0.1")
      assert(line.length <= 1950, s"n=$n overflows: ${line.length}")
      val js = parse(line)
      val (kept, omitted) =
        if (js.has("qn")) {
          val names = qnNames(js)
          assert(names.length === js.get("qds").asText().split(",").length)
          assert(js.get("qunit").asText() === "ds")
          assert(names.toSet === t.map(_._1).toSet,
            s"n=$n qn names do not decode to the suite's keys")
          (names.length, 0)
        } else {
          val o = if (js.has("queries_omitted")) js.get("queries_omitted").asInt() else 0
          (js.get("queries").size(), o)
        }
      assert(kept + omitted === n, s"n=$n lost entries: $kept + $omitted")
      if (omitted > 0) {
        assert(js.get("sf").asText() === "sf0.1",
          s"n=$n dropped queries while sf still carried the full path")
        // truncation keeps the SLOWEST queries — the informative tail
        assert(js.get("queries").has(f"q_syn_$n%03d"))
      }
    }
  }

  test("the ladder degrades in order: seconds, short sf, ds, packed, fc, slowest-K") {
    val t = synthetic(120)
    val total = t.map(_._2).sum
    def lineAt(lim: Int): String =
      Bench.renderLine(t, total, Nil, "/root/testdata/sf0.1", limit = lim)
    def kind(line: String): String = {
      val js = parse(line)
      if (js.has("queries_omitted")) "slowest-K"
      else if (js.has("qenc")) "fc"
      else if (js.has("qn")) "packed"
      else if (js.has("qunit")) "ds"
      else if (js.get("sf").asText() === "sf0.1") "short-sf"
      else "seconds"
    }
    // walk the ladder by shrinking the budget to just under each rung's
    // rendered length: every rung must keep ALL queries in a strictly
    // tighter line, and only the final fallback may omit any
    val kinds = scala.collection.mutable.ArrayBuffer[String]()
    var lim = 10000
    var k = ""
    while (k != "slowest-K" && kinds.size < 10) {
      val line = lineAt(lim)
      assert(line.length <= lim)
      k = kind(line)
      if (!kinds.lastOption.contains(k)) kinds += k
      if (k != "slowest-K") {
        val js = parse(line)
        val n = if (js.has("qn")) qnNames(js).length
                else js.get("queries").size()
        assert(n === 120, s"rung $k dropped entries")
      }
      lim = line.length - 1
    }
    assert(kinds.toSeq ===
      Seq("seconds", "short-sf", "ds", "packed", "fc", "slowest-K"))
    // the ds values are honest: position i of qds times position i of qn
    val packed = parse(Iterator.iterate(10000)(l => lineAt(l).length - 1)
      .map(lineAt).find(l => parse(l).has("qn")).get)
    val names = packed.get("qn").asText().split(",")
    val ds = packed.get("qds").asText().split(",").map(_.toLong)
    val want = t.toMap
    names.zip(ds).foreach { case (q, d) =>
      assert(d === math.round(want(q) * 10), q)
    }
  }

  test("compressed rungs name the plain-map sidecar via the detail field") {
    val t = synthetic(120)
    val total = t.map(_._2).sum
    def lineAt(lim: Int): String =
      Bench.renderLine(t, total, Nil, "/root/testdata/sf0.1", limit = lim)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    var lim = 10000
    var done = false
    while (!done && seen.size < 12) {
      val line = lineAt(lim)
      seen += line
      done = parse(line).has("queries_omitted")
      lim = line.length - 1
    }
    val js = seen.map(parse)
    val compressed = js.filter(_.has("qn"))
    assert(compressed.nonEmpty, "ladder never reached a compressed rung")
    // every rung whose per-query values need decoding points a
    // handshake-only consumer at the committed plain record
    compressed.foreach(j =>
      assert(j.get("detail").asText() === "bench_full.json"))
    // plain rungs carry the map inline and stay detail-free
    js.filter(j => !j.has("qn") && !j.has("queries_omitted"))
      .foreach(j => assert(!j.has("detail")))
  }

  test("front-coded rung: decodes exactly, carries 160 family-prefixed keys, refuses unsafe keys") {
    // family-prefixed names like the real suite's (d_ann_*, d_dedup_*,
    // q_*, t_*): long shared prefixes are where fc earns its keep
    val fams = Seq("d_ann_variant", "d_dedup_method", "q_relational_op", "t_text_stage")
    val t = (0 until 160).map(i => (f"${fams(i % 4)}_$i%03d", i * 0.113)).sortBy(_._1)
    val line = Bench.renderLine(t, t.map(_._2).sum, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 1950, s"overflows: ${line.length}")
    val js = parse(line)
    assert(js.get("qenc").asText() === "fc")
    val names = qnNames(js)
    assert(names === t.map(_._1), "fc decode must reproduce the sorted key list")
    val ds = js.get("qds").asText().split(",").map(_.toLong)
    names.zip(ds).foreach { case (q, d) =>
      assert(d === math.round(t.toMap.apply(q) * 10), q)
    }
    // a key outside lowercase snake_case would collide with the lcp
    // letter — the rung must disable itself, not emit garbage
    val unsafe = t.updated(0, ("Q_Uppercase_Key", 0.1))
    val line2 = Bench.renderLine(unsafe, 1.0, Nil, "/root/testdata/sf0.1", limit = 600)
    val js2 = parse(line2)
    assert(!js2.has("qenc"))
    assert(js2.has("queries_omitted"))
  }

  test("fc2 rung: weak-prefix keys overflow fc, fc2 decodes exactly") {
    // 26 distinct leading letters defeat front-coding's lcp savings —
    // the shape the real 163-query suite hit when q_pagerank/t_rrf-era
    // prefixes diluted the families (fc read 2043 chars, 93 over)
    val t = (0 until 190)
      .map(i => (f"${(97 + i % 26).toChar}x_operator_$i%03d", i * 1.37))
      .sortBy(_._1)
    val line = Bench.renderLine(t, t.map(_._2).sum, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 1950, s"overflows: ${line.length}")
    val js = parse(line)
    assert(js.get("qenc").asText() === "fc2", line.take(120))
    val names = qnNames(js)
    assert(names === t.map(_._1), "fc2 decode must reproduce the sorted key list")
    val ds = qdsValues(js)
    names.zip(ds).foreach { case (q, d) =>
      assert(d === math.round(t.toMap.apply(q) * 10), q)
    }
    assert(!js.has("queries_omitted"))
    // base-62 exercises multi-char values too (1.37 * 169 * 10 > 62)
    assert(ds.max > 61L)
  }

  test("fc3 rung: suffix dictionary + fc2 decodes exactly past fc2 capacity") {
    // family keys with heavy dictionary suffixes and weak lcp sharing:
    // enough volume that even fc2 overflows and fc3 must carry it
    // (200: fc3's measured 1950-char capacity is 202 of these keys
    // since the detail-pointer field joined every compressed rung)
    val sufs = Seq("_recall", "_precision", "_contract", "_fidelity", "_sketch")
    val t = (0 until 200)
      .map(i => (f"${(97 + i % 26).toChar}x_op_$i%03d${sufs(i % 5)}", i * 1.37))
      .sortBy(_._1)
    val line = Bench.renderLine(t, t.map(_._2).sum, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 1950, s"overflows: ${line.length}")
    val js = parse(line)
    assert(js.get("qenc").asText() === "fc3", line.take(120))
    val names = qnNames(js)
    assert(names === t.map(_._1), "fc3 decode must reproduce the sorted key list")
    val ds = qdsValues(js)
    names.zip(ds).foreach { case (q, d) =>
      assert(d === math.round(t.toMap.apply(q) * 10), q)
    }
    assert(!js.has("queries_omitted"))
  }

  test("failed queries are named but never appear in the queries map") {
    val t = synthetic(20)
    val line = Bench.renderLine(t, t.map(_._2).sum,
      Seq("q_broken_a", "q_broken_b"), "/tmp/sf")
    val js = parse(line)
    assert(js.get("queries").size() === 20)
    assert(!js.get("queries").has("q_broken_a"))
    val failed = (0 until js.get("failed").size()).map(js.get("failed").get(_).asText())
    assert(failed === Seq("q_broken_a", "q_broken_b"))
  }

  test("mass failure truncates the failed list instead of overflowing") {
    val t = synthetic(100)
    val failed = (1 to 60).map(i => f"q_persistently_broken_query_$i%02d")
    val line = Bench.renderLine(t, t.map(_._2).sum, failed, "/root/testdata/sf0.1")
    assert(line.length <= 1950, s"line overflows: ${line.length}")
    val js = parse(line)
    val names = (0 until js.get("failed").size()).map(js.get("failed").get(_).asText())
    assert(names.take(8) === failed.take(8))
    assert(names.last === "+52 more")
  }

  test("total survives every rung at the requested precision") {
    val t = synthetic(120)
    val total = t.map(_._2).sum
    val line = Bench.renderLine(t, total, Nil, "/x", limit = 600)
    assert(line.length <= 600)
    assert(math.abs(parse(line).get("value").asDouble() - total) < 0.1)
  }

  test("bench_full.json is written only by a plain full sf0.1 run on a 32-way session") {
    val sf01 = "/data/tpch/sf0.1"
    def out(parallelism: Int = 32, javaOpts: Option[String] = None,
        only: Option[Set[String]] = None, sfDir: String = sf01,
        explicitOut: Option[String] = None) =
      Bench.fullOutPath(explicitOut, only, sfDir, parallelism, javaOpts)
    assert(out() === Some("bench_full.json"))
    assert(out(javaOpts = Some("")) === Some("bench_full.json"))
    // the resolved session decides, not the SPARK_GRAFT_CPUS request:
    // an unset request that resolves to another width is not canonical
    assert(out(parallelism = 8) === None)
    assert(out(parallelism = 4) === None)
    // extra JVM flags make an A/B run, never the canonical record
    assert(out(javaOpts = Some("-Dspark.sql.adaptive.enabled=false")) === None)
    assert(out(only = Some(Set("q1_agg"))) === None)
    assert(out(sfDir = "/data/tpch/sf1") === None)
    // an explicit destination is honoured whatever the run
    assert(out(parallelism = 8, javaOpts = Some("-Dx=y"),
      explicitOut = Some("bench_sf1.json")) === Some("bench_sf1.json"))
  }
}
