package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 100]); NaN when empty. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.length - 1) * q / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  /** The highest percentile (of 50, 90, 99, 99.9) that has at least ten
    * samples beyond it. */
  def supportedPct(n: Int): Double =
    Seq(99.9, 99.0, 90.0, 50.0).find(q => n * (100 - q) / 100 >= 10).getOrElse(50.0)

  /** A timing summary: median, the named percentile, the supported
    * percentile and the sample count. */
  def summary(xs: Iterable[Double], named: Double): Map[String, Any] = {
    val n = xs.size
    val sup = supportedPct(n)
    Map("n" -> n, "p50" -> median(xs), s"p${fmtQ(named)}" -> pct(xs, named),
      "supported_pct" -> sup, s"p${fmtQ(sup)}" -> pct(xs, sup),
      "max" -> (if (n == 0) Double.NaN else xs.max))
  }
  def fmtQ(q: Double): String = if (q == q.floor) q.toLong.toString else q.toString

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    if (pts.size < 2) return 0.0
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
  }
}

/** Process counters from /proc (Linux). */
object Proc {
  private def field(file: String, key: String): Long =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key))
        .map(_.drop(key.length).trim.split("\\s+")(0).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: java.io.IOException => -1L }

  /** Bytes the process has read through read()-family calls. */
  def rchar(): Long = field("/proc/self/io", "rchar:")
  /** Peak resident set size in MiB. */
  def peakRssMb(): Double = field("/proc/self/status", "VmHWM:") / 1024.0
  /** Heap in use after a full collection, in MiB: what the run still
    * holds (session, caches, stores, sink). */
  def retainedHeapMb(): Double = {
    // Spark drops the blocks of collected RDDs and broadcasts on its
    // cleaner thread after a collection finds them, so collect again
    // once the cleaner has run
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Spans around the benchmark's calls into graft's layers, kept in
  * memory and written out when the run ends. Recording is off in the
  * timed runs: there `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, op: String, layer: String,
      name: String, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private var nextId = 0L
  private val t0 = System.nanoTime()

  def span[T](layer: String, name: String, op: String = "")(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, parent, op, layer, name, start, end) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: span time minus the time its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).sum }
  }

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
    "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6))
}

/** Spark job, stage and task counters, attributed to the job group
  * each op runs under. */
final class JobCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs, spillBytes, peakMemBytes = 0L
    var shuffleWriteBytes, shuffleReadBytes, shuffleRecords = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    /** max over median task time of the worst stage (1.0 = no skew). */
    def skew: Double = {
      val per = stageTaskMs.values.filter(_.nonEmpty).map { ts =>
        val s = ts.sorted
        val med = math.max(1L, s(s.length / 2))
        s.last.toDouble / med
      }
      if (per.isEmpty) 1.0 else per.max
    }
    def toMap: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_ms" -> taskMs.toDouble, "task_skew" -> skew, "gc_ms" -> gcMs.toDouble,
      "spill_bytes" -> spillBytes.toDouble, "peak_mem_bytes" -> peakMemBytes.toDouble,
      "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
      "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
      "shuffle_records" -> shuffleRecords.toDouble)
  }
  private val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc(group(e.properties)).jobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    acc(g).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val a = acc(g)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMemBytes = math.max(a.peakMemBytes, m.peakExecutionMemory)
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        (e.taskInfo.finishTime - e.taskInfo.launchTime)
    }
  }

  def get(g: String): Map[String, Double] = synchronized(byGroup.get(g).map(_.toMap).getOrElse(new Acc().toMap))
  def snapshot: Map[String, Map[String, Double]] = synchronized(byGroup.map { case (k, v) => k -> v.toMap }.toMap)
}

/** Every streaming progress event, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toList
}

/** Runs ops, each in its own Spark job group, and keeps per-op timings. */
final class OpRunner(spark: SparkSession, val tracer: Tracer) {
  val counters: Option[JobCounters] =
    if (tracer.enabled) {
      val c = new JobCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
  private var seq = 0L

  /** Run `body` as op `kind`; returns (op id, elapsed ms, result). */
  def op[T](kind: String)(body: => T): (String, Double, T) = {
    seq += 1
    val id = f"$kind-$seq%05d"
    spark.sparkContext.setJobGroup(id, kind, interruptOnCancel = false)
    val t = System.nanoTime()
    try {
      val r = tracer.span("op", kind, id)(body)
      (id, (System.nanoTime() - t) / 1e6, r)
    } finally spark.sparkContext.clearJobGroup()
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}
