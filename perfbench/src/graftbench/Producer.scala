package graftbench

import java.io.{BufferedReader, File, InputStreamReader, PrintStream}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A phase of the open-loop schedule: events due in [startMs, endMs)
  * arrive at `eps` per second. */
final case class Phase(name: String, startMs: Long, endMs: Long, eps: Double)

/** One append of the schedule: `n` events due evenly over the tick
  * that starts at `loMs`, the first with event index `first`. */
final case class Append(phase: String, scheduledMs: Long, loMs: Long, n: Int, first: Long,
    startedMs: Double, finishedMs: Double) {
  def dues(tickMs: Long): Seq[Long] = (0 until n).map(j => loMs + ((j + 0.5) * tickMs / n).toLong)
}

/** Event ids, Kafka-model partitions and offsets, due times and every
  * user's exact totals. The producer process and the measuring process
  * each keep one and apply the same appends, so the measuring process
  * knows every record without reading the log. */
final class EventLog(seed: Long, spec: Gen.EventSpec) {
  private val zipf = spec.zipf
  var nextEvent = 0L
  val nextOffset: Array[Long] = new Array[Long](Gen.Partitions)
  val dueMs: Array[mutable.ArrayBuffer[Long]] = Array.fill(Gen.Partitions)(mutable.ArrayBuffer.empty[Long])
  val totals = mutable.Map.empty[Long, (Long, Long)]

  /** Assign the next events, due at `due`; returns their rows. */
  def take(due: Seq[Long]): Seq[Row] = due.map { t =>
    val e = Gen.event(seed, spec, zipf, nextEvent, t)
    nextEvent += 1
    val p = (e.user_id % Gen.Partitions).toInt
    val off = nextOffset(p)
    nextOffset(p) += 1
    dueMs(p) += t
    val (n, c) = totals.getOrElse(e.user_id, (0L, 0L))
    totals(e.user_id) = (n + 1, c + e.cents)
    Row(e.event_id, e.ts_ms, e.user_id, e.event_type, e.cents / 100.0, e.props, p, off)
  }

  def appended: Long = nextOffset.sum
}

object EventLog {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_ms", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("partition", IntegerType), StructField("offset", LongType)))

  /** Write rows to the topic through graft's public write path. */
  def write(spark: SparkSession, rows: Seq[Row], path: String): Unit =
    graft.sources.LogSegments.write(
      Gen.asLog(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)), path)
}

/** The load generator, a process of its own so that it never waits on
  * the task slots of the query it loads. It appends one batch of segment
  * files per tick through `LogSegments.write`, on a fixed schedule that
  * does not slow when the query slows, stamping each record with the time
  * it was due. Commands on stdin, one per line:
  *
  *   RUN <path> <tickMs> <seed> <users> <zipfS> <firstEvent> <offsets x8> (<phase> <startMs> <endMs> <eps>)*
  *   STOP
  *   EXIT
  *
  * It answers `GEN APPEND ...` per append and `GEN DONE` when a run ends. */
object ProducerMain {
  def main(args: Array[String]): Unit = {
    val out = new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
    System.setOut(System.err) // Spark's own output stays off the protocol
    val work = new File(args(0))
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "producer-local").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // compile the write path, at the sizes the schedule appends, before
    // the first scheduled tick
    val warm = new EventLog(0L, Gen.EventSpec(1000, 1.0))
    for (n <- Seq(2, 820, 3280, 13120, 820, 3280, 13120))
      EventLog.write(spark, warm.take(Seq.fill(n)(0L)), new File(work, "producer-warmup").getPath)
    out.println("GEN READY")
    val in = new BufferedReader(new InputStreamReader(System.in))
    @volatile var stopped = false
    var runner: Thread = null
    var line = in.readLine()
    while (line != null && line != "EXIT") {
      val f = line.trim.split(" ")
      f(0) match {
        case "RUN" =>
          val path = f(1); val tick = f(2).toLong
          val log = new EventLog(f(3).toLong, Gen.EventSpec(f(4).toInt, f(5).toDouble))
          log.nextEvent = f(6).toLong
          (0 until Gen.Partitions).foreach(p => log.nextOffset(p) = f(7 + p).toLong)
          val phases = f.drop(7 + Gen.Partitions).grouped(4).map(g =>
            Phase(g(0), g(1).toLong, g(2).toLong, g(3).toDouble)).toSeq
          stopped = false
          runner = new Thread(() => {
            try {
              val t0 = phases.head.startMs
              var carry = 0.0
              var k = 1
              while (t0 + k * tick <= phases.last.endMs && !stopped) {
                val sched = t0 + k * tick
                val lo = sched - tick
                val ph = phases.find(p => lo >= p.startMs && lo < p.endMs).get
                val exact = ph.eps * tick / 1000.0 + carry
                val n = exact.toInt
                carry = exact - n
                val wait = sched - System.currentTimeMillis()
                if (wait > 0) Thread.sleep(wait)
                if (n > 0) {
                  val started = RemoteProducer.nowMs()
                  val first = log.nextEvent
                  val a = Append(ph.name, sched, lo, n, first, started, 0.0)
                  EventLog.write(spark, log.take(a.dues(tick)), path)
                  out.println(s"GEN APPEND ${ph.name} $sched $lo $n $first $started ${RemoteProducer.nowMs()}")
                }
                k += 1
              }
              out.println("GEN DONE")
            } catch {
              case e: Throwable =>
                out.println(s"GEN FAILED ${e.toString.replace('\n', ' ')}")
                out.println("GEN DONE")
            }
          }, "producer-schedule")
          runner.start()
        case "STOP" =>
          stopped = true
          if (runner != null) runner.join()
        case _ => ()
      }
      line = in.readLine()
    }
    stopped = true
    if (runner != null) runner.join()
    spark.stop()
  }
}

object RemoteProducer {
  /** Wall-clock milliseconds with microsecond resolution. */
  def nowMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1e3 + t.getNano / 1e6
  }
}

/** The measuring process's handle on the producer process. */
final class RemoteProducer(work: File, seed: Long, spec: Gen.EventSpec, tickMs: Long) {
  private val proc: Process = {
    val jvm = _root_.java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val keep = jvm.toArray.map(_.toString).filter(a => a.startsWith("--add-opens") ||
      a.startsWith("-D") || a.endsWith("=ALL-UNNAMED") || a.startsWith("-XX:SharedArchiveFile"))
    val javaBin = new File(new File(sys.props("java.home"), "bin"), "java").getPath
    val cmd = Seq(javaBin, "-Xmx768m") ++ keep ++ Seq("-cp", sys.props("java.class.path"),
      "graftbench.ProducerMain", work.getPath)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(new File(work, "producer.log"))
    pb.start()
  }
  private val shutdownHook = new Thread(() => proc.destroyForcibly())
  Runtime.getRuntime.addShutdownHook(shutdownHook)
  private val toProc = new PrintStream(proc.getOutputStream, true)
  private val lines = new java.util.concurrent.LinkedBlockingQueue[String]()
  private val reader = new Thread(() => {
    val in = new BufferedReader(new InputStreamReader(proc.getInputStream))
    var l = in.readLine()
    while (l != null) { if (l.startsWith("GEN ")) lines.put(l.stripPrefix("GEN ")); l = in.readLine() }
    lines.put("EOF")
  }, "producer-reader")
  reader.setDaemon(true)
  reader.start()

  /** The measuring process's mirror of the producer's records, for the
    * topic of the current set-up. */
  var log = new EventLog(seed, spec)
  val appends = mutable.ArrayBuffer.empty[Append]
  def reset(): Unit = { stop(); log = new EventLog(seed, spec); appends.clear() }
  private var ready = false
  private var running = false

  private def next(): String = {
    val l = lines.poll(120, java.util.concurrent.TimeUnit.SECONDS)
    if (l == null || l == "EOF") throw new IllegalStateException(
      s"producer process ended or stalled; see ${new File(work, "producer.log")}")
    l
  }

  def run(path: String, phases: Seq[Phase]): Unit = {
    while (!ready) ready = next() == "READY"
    val ph = phases.flatMap(p => Seq(p.name, p.startMs, p.endMs, p.eps)).mkString(" ")
    toProc.println(s"RUN $path $tickMs $seed ${spec.users} ${spec.zipfS} ${log.nextEvent} " +
      s"${log.nextOffset.mkString(" ")} $ph")
    running = true
  }

  /** Wait for the running schedule to end; apply its appends to `log`. */
  def await(): Unit = {
    var failure: String = null
    while (running) {
      val l = next()
      val f = l.split(" ")
      f(0) match {
        case "APPEND" =>
          val a = Append(f(1), f(2).toLong, f(3).toLong, f(4).toInt, f(5).toLong, f(6).toDouble, f(7).toDouble)
          require(a.first == log.nextEvent, s"producer skipped events: ${a.first} != ${log.nextEvent}")
          log.take(a.dues(tickMs))
          appends += a
        case "FAILED" => failure = l
        case "DONE" => running = false
        case _ => ()
      }
    }
    if (failure != null) throw new IllegalStateException(s"producer $failure")
  }

  def stop(): Unit = if (running) { toProc.println("STOP"); await() }

  def close(): Unit = {
    try { stop(); toProc.println("EXIT") } catch { case _: Exception => () }
    if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
    Runtime.getRuntime.removeShutdownHook(shutdownHook)
  }
}
