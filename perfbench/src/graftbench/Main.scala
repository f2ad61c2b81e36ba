package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload reports back to [[Main]]. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val invalid = mutable.ArrayBuffer.empty[String]
  /** Contracts of the program the run measured it to miss, beside the
    * output checks: reported, not counted as failed ops. */
  val quality = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics under the benchmark's shared names. */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** The same metrics under this workload's own names, with unit and
    * sample count. */
  val named = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val input = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
  /** A failed op with an exception counts once as attempted and failed. */
  def fail(what: String): Unit = {
    attempted += 1; failed += 1
    if (failures.size < 20) failures += what
  }
  def metric(shared: String, own: String, unit: String, value: Double, n: Long): Unit = {
    e2e(shared) = value
    named(own) = Map("value" -> value, "unit" -> unit, "n" -> n, "as" -> shared)
  }
  /** A metric this workload reports beyond the shared set. */
  def extra(own: String, unit: String, value: Double, n: Long): Unit =
    named(own) = Map("value" -> value, "unit" -> unit, "n" -> n)
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, out: File, t0Ms: Long)

/** A workload: set up (repeatable), then measure for the run length. */
trait Workload {
  /** Generate inputs under `dir` and declare tables on `spark`. */
  def generate(spark: SparkSession, dir: File, rep: Int): Unit
  /** Run untimed warm-up ops so caches fill and code is compiled. */
  def warmup(spark: SparkSession): Unit
  /** Prepare what the output checks need, after the last set-up and
    * outside its timing. */
  def prepareChecks(spark: SparkSession): Unit = ()
  def measure(spark: SparkSession, runner: OpRunner, deadlineNs: Long, rep: Report): Unit
  /** Stop whatever the workload left running before its session stops. */
  def close(): Unit = ()
  /** End every process the workload started; the last call of a run. */
  def shutdown(): Unit = ()
}

object Main {
  val Cpus = "4"
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("work")), new File(m("out")), m("t0-ms").toLong)
  }

  def session(work: File): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = graft.GraftSession.builder(Cpus)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def env(spark: SparkSession, a: Args): Map[String, Any] = {
    val cpuModel = try {
      val s = scala.io.Source.fromFile("/proc/cpuinfo")
      try s.getLines().find(_.startsWith("model name")).map(_.split(":", 2)(1).trim).getOrElse("")
      finally s.close()
    } catch { case _: java.io.IOException => "" }
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpu_model" -> cpuModel,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${sys.props("os.name")} ${sys.props("os.arch")}",
      "seed" -> a.seed, "seconds" -> a.seconds, "workload" -> a.workload, "trace" -> a.trace)
  }

  def workload(a: Args, t: Tracer): Workload = a.workload match {
    case "sql_topic" => new SqlTopic(a, t)
    case "stream_events" => new StreamEvents(a, t)
    case "curate_docs" => new CurateDocs(a, t)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer(a.trace)
    val w = workload(a, tracer)
    val rep = new Report
    val setupS = mutable.ArrayBuffer.empty[Double]
    val phase = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def timed[T](k: String, layer: String)(body: => T): T = {
      val t = System.nanoTime()
      try tracer.span(layer, k)(body)
      finally phase.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e9
    }
    var spark: SparkSession = null
    // Set-up runs `SetupReps` times and the median counts: the first is
    // timed from process launch, the later ones from session stop.
    for (i <- 1 to SetupReps) {
      val startNs = System.nanoTime()
      val launchS = if (i == 1) (System.currentTimeMillis() - a.t0Ms) / 1e3 else 0.0
      if (spark != null) { w.close(); spark.stop(); rmrf(new File(a.work, s"setup-${i - 1}")) }
      spark = timed("session", "GraftSession")(session(a.work))
      val dir = new File(a.work, s"setup-$i")
      timed("generate", "sources")(w.generate(spark, dir, i))
      timed("warmup", "op")(w.warmup(spark))
      setupS += launchS + (System.nanoTime() - startNs) / 1e9
    }
    val setupEndMs = System.currentTimeMillis()
    w.prepareChecks(spark)
    val runner = new OpRunner(spark, tracer)
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    try w.measure(spark, runner, deadline, rep)
    catch {
      case e: Throwable =>
        rep.fail(s"measure aborted: $e")
        e.printStackTrace()
    }
    val measureEndMs = System.currentTimeMillis()
    val retainedMb = Proc.retainedHeapMb()
    rep.e2e("setup_s") = Stats.median(setupS)
    rep.named("setup_s") = Map("value" -> Stats.median(setupS), "unit" -> "s",
      "n" -> setupS.size, "as" -> "setup_s", "all" -> setupS.toSeq)
    // the heap is fixed at 2 GB, so the peak resident set mostly shows
    // the heap flags; what the run retains shows in retained_heap_mb
    rep.named("peak_rss_mb") = Map("value" -> Proc.peakRssMb(), "unit" -> "MB", "n" -> 1)
    rep.e2e("retained_heap_mb") = retainedMb
    rep.named("retained_heap_mb") = Map("value" -> retainedMb, "unit" -> "MB", "n" -> 1,
      "as" -> "retained_heap_mb")
    rep.named("error_rate") = Map("value" -> rep.failed.toDouble / math.max(1L, rep.attempted),
      "unit" -> "ratio", "n" -> rep.attempted)
    if (a.trace) {
      rep.layers("setup.session_s") = Stats.median(phase("session"))
      rep.layers("setup.generate_s") = Stats.median(phase("generate"))
      rep.layers("setup.warmup_s") = Stats.median(phase("warmup"))
    }
    rep.detail("setup_phases_s") = phase.map { case (k, v) => k -> v.toSeq }
    rep.detail("wall_s") = Map("setups" -> (setupEndMs - a.t0Ms) / 1e3,
      "measure_and_checks" -> (measureEndMs - setupEndMs) / 1e3)
    val envRec = env(spark, a)
    val result = Map(
      "workload" -> a.workload, "env" -> envRec, "input" -> rep.input,
      "attempted" -> rep.attempted, "failed" -> rep.failed,
      "failures" -> rep.failures, "valid" -> rep.invalid.isEmpty,
      "invalid_reasons" -> rep.invalid, "quality_findings" -> rep.quality,
      "e2e" -> rep.e2e, "named" -> rep.named, "layers" -> rep.layers,
      "detail" -> rep.detail)
    if (a.trace) {
      runner.drain()
      val trace = Map("workload" -> a.workload, "seed" -> a.seed,
        "spans" -> tracer.toJson, "self_ms_by_layer" -> tracer.selfMsByLayer,
        "counters_by_op" -> runner.counters.map(_.snapshot).getOrElse(Map.empty))
      writeFile(new File(a.out.getPath + ".trace.json"), Json(trace))
    }
    writeFile(a.out, Json(result))
    w.close()
    w.shutdown()
    spark.stop()
  }

  def writeFile(f: File, s: String): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}
