package graft.sources

import java.io.File
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector over [[LogSegments]] directories — the
  * reference's Hadoop scan model (`KafkaInputFormat.java`: one input
  * split per topic-partition, each bounded by `[beginOffset,
  * lastOffset)`; `camus/KafkaSplit.java`) expressed as a native Spark
  * source:
  *
  *  - `planInputPartitions`: one [[SegmentPartition]] per
  *    topic-partition directory;
  *  - pushed `topic`/`partition` equality prunes whole directories at
  *    planning time, pushed `offset` bounds skip whole segments and
  *    seek inside them through each segment's offset index — the
  *    split-pruning semantics of the reference's offset-range
  *    requests. The source enforces these predicates exactly, so
  *    Spark plans no Filter for them;
  *  - schema is the public spark-sql-kafka layout, so downstream
  *    operators are identical whichever source produced the frame;
  *  - with `decodeTopic` (or `avroSchemaFile`) set, the table schema
  *    IS the decoded payload plus metadata — the reference's
  *    `CREATE EXTERNAL TABLE ... STORED BY KafkaStorageHandler
  *    TBLPROPERTIES ('kafka.whitelist.topics'=..,
  *    'kafka.avro.schema.file'=..)` UX (KafkaStorageHandler.java,
  *    KafkaBackedTableProperties.java): declare once, then run plain
  *    SQL over typed columns.
  *
  * Usage: `spark.read.format("graft-log").load(path)`, or in SQL:
  * `CREATE TABLE ev USING `graft-log` OPTIONS (path '...',
  * decodeTopic 'events')`.
  */
class LogSegmentSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-log"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogSegmentSource.decodeSchemaJson(options) match {
      case Some(json) => LogSegmentSource.decodedSchema(json)
      case None => LogSegmentSource.schema
    }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SegmentTable(properties.get("path"),
      LogSegmentSource.decodeSchemaJson(new CaseInsensitiveStringMap(properties)))
}

object LogSegmentSource {
  val schema: StructType = graft.streaming.Streaming.logSchema

  /** Metadata columns appended after the decoded payload fields —
    * everything in the wire schema except the consumed key/value
    * bytes, so the decoded surface keeps the same Kafka-parity
    * metadata (incl. timestampType) as the raw one. */
  val metaSchema: StructType = StructType(schema.fields.filter(f =>
    f.name != "key" && f.name != "value"))

  /** Resolve the decode schema from `decodeTopic` (registry lookup —
    * the kafka.whitelist.topics model) or `avroSchemaFile` (.avsc on
    * disk — kafka.avro.schema.file). */
  private[sources] def decodeSchemaJson(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("decodeTopic")).map(SchemaRegistry.schemaFor)
      .orElse(Option(options.get("avroSchemaFile")).map(p =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)))

  private[sources] def decodedSchema(schemaJson: String): StructType = {
    val payload = AvroCodec.avroToCatalyst(
      new org.apache.avro.Schema.Parser().parse(schemaJson))._1.asInstanceOf[StructType]
    // A payload field named like a metadata column would silently shadow
    // it (both resolve by name in the reader) and emit duplicate column
    // names — fail at schema-inference time instead. Compared
    // case-INSENSITIVELY: Spark resolves column names case-insensitively
    // by default, so a payload 'Timestamp' is just as ambiguous against
    // the 'timestamp' metadata column as an exact-case clash.
    val metaLower = metaSchema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val clash = payload.fieldNames
      .filter(n => metaLower.contains(n.toLowerCase(java.util.Locale.ROOT))).toSet
    require(clash.isEmpty,
      s"graft-log: decoded payload field(s) ${clash.toSeq.sorted.mkString(", ")} " +
        "collide with the reserved metadata columns " +
        s"(${metaSchema.fieldNames.mkString(", ")}); rename them in the Avro schema")
    StructType(payload.fields ++ metaSchema.fields)
  }
}

private[sources] class SegmentTable(rawPath: String, decodeJson: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(rawPath != null, "graft-log: .load(path) is required")
  // the session catalog hands a table's location back as a file: URI
  private val path: String =
    if (rawPath.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(rawPath)).toString
    else rawPath
  override def name(): String = s"graft-log:$path"
  override def schema(): StructType = decodeJson match {
    case Some(json) => LogSegmentSource.decodedSchema(json)
    case None => LogSegmentSource.schema
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SegmentScanBuilder(path, PullBudget.fromOptions(options), decodeJson, schema())
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(decodeJson.isEmpty,
      "graft-log: writes target a RAW log table (key/value bytes); a " +
        "decodeTopic/avroSchemaFile table is a read-only typed view — " +
        "encode the payload with to_avro and write the raw table instead")
    new SegmentWriteBuilder(path, info)
  }
}

/** Admission-control knobs — the reference's pull-budget surface
  * (`KafkaInputFormat.java:60-61`: `kafka.max.pull.hrs` caps a whole
  * run by wall-clock, `kafka.max.pull.minutes.per.task` caps each
  * task) in Spark micro-batch form:
  *
  *  - `maxRecordsPerTrigger`: record-count budget per trigger;
  *  - `maxPullMinutesPerTask`: wall-clock budget per trigger. A
  *    micro-batch's end offsets are pinned before tasks run, so "stop
  *    reading when time is up" is re-expressed as admission control:
  *    admit only the records the stream has been MEASURED to process
  *    within the budget (rate observed trigger-over-trigger;
  *    `pullRateInitGuess` rec/s seeds the first trigger);
  *  - `maxPullHours`: total wall-clock budget for the stream instance —
  *    once exceeded, no further records are admitted (the remainder is
  *    the next run's backlog, exactly the reference's bounded-backfill
  *    contract). The clock starts at the first admission decision, so
  *    any positive budget admits at least the first trigger; a zero
  *    budget admits nothing.
  */
private[graft] case class PullBudget(maxRows: Option[Long],
    perTriggerMs: Option[Long], totalMs: Option[Long], initRatePerSec: Double)

private[graft] object PullBudget {
  def fromOptions(options: CaseInsensitiveStringMap): PullBudget = PullBudget(
    maxRows = Option(options.get("maxRecordsPerTrigger")).map(_.toLong),
    perTriggerMs = Option(options.get("maxPullMinutesPerTask"))
      .map(m => (m.toDouble * 60000).toLong),
    totalMs = Option(options.get("maxPullHours"))
      .map(h => (h.toDouble * 3600000).toLong),
    initRatePerSec = Option(options.get("pullRateInitGuess"))
      .map(_.toDouble).getOrElse(10000.0))
  val unbounded: PullBudget = PullBudget(None, None, None, 10000.0)
}

/** Per-trigger wall-clock admission budget, carried through Spark's
  * [[ReadLimit]] channel (the engine hands `getDefaultReadLimit` back
  * to `latestOffset(start, limit)` verbatim, composite-safe). */
private[graft] case class TimeBudgetLimit(budgetMs: Long) extends ReadLimit

private[sources] class SegmentScanBuilder(path: String, budget: PullBudget,
    decodeJson: Option[String] = None,
    fullSchema: StructType = LogSegmentSource.schema)
    extends ScanBuilder with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  /** Keeps the predicates the source enforces exactly — topic and
    * partition by directory pruning, offset bounds in the reader, and
    * not-null on those three columns, which are never null — and hands
    * back only the rest for Spark to evaluate. A lookup's plan then
    * carries no Filter, and no per-query literal in generated code. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (exact, rest) = filters.partition {
      case EqualTo("topic" | "partition", _) | In("topic" | "partition", _) => true
      case GreaterThan("offset", _) | GreaterThanOrEqual("offset", _) => true
      case LessThan("offset", _) | LessThanOrEqual("offset", _) => true
      case IsNotNull("topic" | "partition" | "offset") => true
      case _ => false
    }
    pushed = exact
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new SegmentScan(path, pushed, budget, decodeJson,
      if (decodeJson.isDefined) required else LogSegmentSource.schema)
}

private[sources] class SegmentScan(path: String, pushed: Array[Filter],
    budget: PullBudget = PullBudget.unbounded,
    decodeJson: Option[String] = None,
    required: StructType = LogSegmentSource.schema)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-log $path pushed=[${pushed.mkString(", ")}] cols=[${required.fieldNames.mkString(",")}]"

  /** Null elements of an `In` list match nothing, as in SQL's WHERE. */
  private def keep(topic: String, part: Int): Boolean = pushed.forall {
    case EqualTo("topic", t) => topic == t
    case In("topic", ts) => ts.contains(topic)
    case EqualTo("partition", p: Number) => p.longValue() == part
    case In("partition", ps) => ps.exists {
      case p: Number => p.longValue() == part
      case _ => false
    }
    case _ => true
  }

  override def planInputPartitions(): Array[InputPartition] = offsetRange match {
    case None => Array.empty
    case Some((lo, hi)) =>
      val root = new File(path)
      val dirs = for {
        t <- Option(root.listFiles()).getOrElse(Array.empty[File]).toSeq
        if t.isDirectory && t.getName.startsWith("topic=")
        p <- Option(t.listFiles()).getOrElse(Array.empty[File]).toSeq
        if p.isDirectory && p.getName.startsWith("partition=")
        topic = t.getName.stripPrefix("topic=")
        part = p.getName.stripPrefix("partition=").toInt
        if keep(topic, part)
      } yield SegmentPartition(p.getPath, topic, part, lo, hi)
      dirs.toArray
  }

  /** Offset bounds from pushed filters: [lo, hi] inclusive, or None
    * when no offset satisfies them. Computed without overflow, so
    * `offset > Long.MaxValue` selects nothing instead of everything. */
  private def offsetRange: Option[(Long, Long)] = {
    val lo = pushed.collect {
      case GreaterThan("offset", v: Number) => BigInt(v.longValue()) + 1
      case GreaterThanOrEqual("offset", v: Number) => BigInt(v.longValue())
    }.foldLeft(BigInt(Long.MinValue))(_ max _)
    val hi = pushed.collect {
      case LessThan("offset", v: Number) => BigInt(v.longValue()) - 1
      case LessThanOrEqual("offset", v: Number) => BigInt(v.longValue())
    }.foldLeft(BigInt(Long.MaxValue))(_ min _)
    if (lo > hi) None else Some((lo.toLong, hi.toLong))
  }

  override def createReaderFactory(): PartitionReaderFactory = decodeJson match {
    case Some(json) => new DecodedReaderFactory(json, required)
    case None => SegmentReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SegmentMicroBatchStream(path, budget, decodeJson, required)
}

private[sources] object SegmentReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new SegmentReader(p.asInstanceOf[SegmentPartition])
}

/** Decoding read path for `decodeTopic`/`avroSchemaFile` tables: one
  * Avro reader per partition (reused decoder buffers, the
  * KafkaAvroMessageDecoder.java role), emitting exactly the pruned
  * column set — payload fields from the decoded record, metadata from
  * the segment record. */
private[sources] class DecodedReaderFactory(schemaJson: String, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new DecodedSegmentReader(p.asInstanceOf[SegmentPartition], schemaJson, required)
}

private[sources] class DecodedSegmentReader(p: SegmentPartition,
    schemaJson: String, required: StructType)
    extends PartitionReader[InternalRow] {
  import org.apache.avro.Schema
  import org.apache.avro.generic.GenericDatumReader
  import org.apache.avro.io.{BinaryDecoder, DecoderFactory}

  private val raw = new SegmentReader(p)
  private val writerSchema = new Schema.Parser().parse(schemaJson)
  // Avro schema resolution byte-SKIPS writer fields the reader schema
  // omits — prune the reader schema to the required payload fields so
  // a 2-column projection never deserializes the other ten (the scan-
  // side analogue of the AvroProjectionPruning expression rule).
  private val schema: Schema = {
    val keep = required.fieldNames.toSet
    val kept = writerSchema.getFields.asScala.filter(f => keep(f.name()))
      .map(f => new Schema.Field(f.name(), f.schema(), f.doc(), f.defaultVal()))
    if (kept.size == writerSchema.getFields.size) writerSchema
    else Schema.createRecord(writerSchema.getName, writerSchema.getDoc,
      writerSchema.getNamespace, false, kept.toList.asJava)
  }
  private val typeAndConv = AvroCodec.avroToCatalyst(schema)
  private val payloadType = typeAndConv._1.asInstanceOf[StructType]
  private val reader = new GenericDatumReader[Any](writerSchema, schema)
  private var decoder: BinaryDecoder = _
  private var reuse: Any = _

  // raw segment row slot per metadata column, derived from the wire
  // schema so the two can't drift (SegmentReader emits rows in
  // logSchema field order)
  private val metaIdx: Map[String, Int] = LogSegmentSource.metaSchema.fieldNames
    .map(n => n -> LogSegmentSource.schema.fieldIndex(n)).toMap
  // required column -> (fromPayload, index)
  private val cols: Array[(Boolean, Int)] = required.fields.map { f =>
    val i = payloadType.fieldNames.indexOf(f.name)
    if (i >= 0) (true, i) else (false, metaIdx(f.name))
  }
  private val metaTypes = LogSegmentSource.schema

  override def next(): Boolean = raw.next()
  override def get(): InternalRow = {
    val rawRow = raw.get()
    val payload: InternalRow =
      if (cols.exists(_._1)) {
        val bytes = rawRow.getBinary(1)
        decoder = DecoderFactory.get().binaryDecoder(bytes, 0, bytes.length, decoder)
        reuse = reader.read(reuse, decoder)
        typeAndConv._2(reuse).asInstanceOf[InternalRow]
      } else null
    val out = new Array[Any](cols.length)
    var i = 0
    while (i < cols.length) {
      val (fromPayload, idx) = cols(i)
      out(i) =
        if (fromPayload)
          (if (payload.isNullAt(idx)) null
           else payload.get(idx, payloadType(idx).dataType))
        else rawRow.get(idx, metaTypes(idx).dataType)
      i += 1
    }
    new GenericInternalRow(out)
  }
  override def close(): Unit = raw.close()
}

/** Streaming over the segment log: the Camus loop
  * (KafkaRecordReader.java: pull `[committed, latest)` per partition,
  * persist new offsets, repeat) natively — each micro-batch covers the
  * offset delta per topic-partition since the last checkpointed
  * Offset. `latestOffset` takes the current high watermark from each
  * segment's offset index, as a broker does, and reads the records of
  * only a segment without a trusted index. Spark pushes no filters into
  * a micro-batch scan, so a streaming query keeps its Filter.
  *
  * [[PullBudget]] is pull-budget admission control — the
  * `kafka.max.pull.hrs` / `kafka.max.pull.minutes.per.task` analogue
  * (KafkaInputFormat.java:60-61) in Spark's native form
  * (maxOffsetsPerTrigger-style [[SupportsAdmissionControl]]): each
  * trigger admits a bounded record count (fixed, or derived from a
  * wall-clock budget at the measured processing rate), distributed
  * across topic-partitions proportionally to their backlog, and the
  * stream catches up over successive bounded batches instead of one
  * unboundedly large first batch. */
private[sources] class SegmentMicroBatchStream(path: String,
    budget: PullBudget = PullBudget.unbounded,
    decodeJson: Option[String] = None,
    required: StructType = LogSegmentSource.schema)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow (the Camus-shaped "drain the backlog as a
    * bounded job" mode): pin the end of the run to the watermarks seen
    * at start, so segments appended mid-run wait for the next run. */
  private var pinnedEnd: Option[Map[(String, Int), Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinnedEnd = Some(highWatermarks())

  private def partDirs(): Seq[(String, Int, File)] = {
    val root = new File(path)
    for {
      t <- Option(root.listFiles()).getOrElse(Array.empty[File]).toSeq
      if t.isDirectory && t.getName.startsWith("topic=")
      p <- Option(t.listFiles()).getOrElse(Array.empty[File]).toSeq
      if p.isDirectory && p.getName.startsWith("partition=")
    } yield (t.getName.stripPrefix("topic="),
      p.getName.stripPrefix("partition=").toInt, p)
  }

  /** next-offset-to-read per topic-partition */
  private def highWatermarks(): Map[(String, Int), Long] =
    partDirs().map { case (topic, part, dir) =>
      val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".gseg"))
      val hi = files.foldLeft(-1L)((m, f) => math.max(m, LogSegments.maxOffset(f)))
      (topic, part) -> (hi + 1)
    }.toMap

  override def initialOffset(): Offset = SegmentOffsets(Map.empty)
  override def latestOffset(): Offset = SegmentOffsets(highWatermarks())

  override def getDefaultReadLimit: ReadLimit = {
    val limits = budget.maxRows.map(ReadLimit.maxRows).toSeq ++
      budget.perTriggerMs.map(ms => TimeBudgetLimit(ms))
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  // rate bookkeeping for the wall-clock budgets (driver-side; one
  // stream instance per query run). The TOTAL budget clock starts at
  // the FIRST ADMISSION DECISION, not at stream construction — the
  // reference's pull clock starts when pulling starts, and planning
  // latency between construction and the first trigger must not eat
  // the budget (with it, a sub-second total budget could expire
  // before admitting anything even on an idle box, making the
  // first-trigger-always-admits property nondeterministic). A zero
  // budget still admits nothing: elapsed 0 >= 0.
  private var streamStartMs = -1L
  private var lastTriggerMs = -1L
  private var lastAdmitted = -1L
  private var ewmaRatePerMs = -1.0

  /** Fold the previous trigger into the rate estimate and stamp this
    * one. Runs on EVERY latestOffset call — including the
    * exhausted-total-budget early return — so idle or long-planning
    * gaps are never folded into a later trigger's measured rate.
    * Zero-admission triggers carry no rate information (nothing was
    * processed) and only advance the clock; positive observations feed
    * an EWMA so one slow trigger doesn't collapse the next budget. */
  private def observeTrigger(): Unit = {
    val now = System.currentTimeMillis()
    if (lastTriggerMs > 0 && lastAdmitted > 0) {
      val r = lastAdmitted.toDouble / math.max(1L, now - lastTriggerMs)
      ewmaRatePerMs = if (ewmaRatePerMs <= 0) r else 0.7 * r + 0.3 * ewmaRatePerMs
    }
    lastTriggerMs = now
  }

  /** Row budget a given limit allows this trigger; Long.MaxValue =
    * unbounded. A time budget converts wall-clock to rows at the
    * measured processing rate (EWMA over past triggers; first trigger:
    * the `pullRateInitGuess` seed) — the micro-batch analogue of the
    * reference's "stop the task when its minutes are up", since a
    * Spark batch's end offsets must be pinned before tasks launch. */
  private def rowBudget(limit: ReadLimit): Long = limit match {
    case r: ReadMaxRows => r.maxRows()
    case TimeBudgetLimit(budgetMs) =>
      val rate = // records per ms
        if (ewmaRatePerMs > 0) ewmaRatePerMs else budget.initRatePerSec / 1000.0
      math.max(1L, (budgetMs * rate).toLong)
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.map(rowBudget).min
    case _ => Long.MaxValue
  }

  /** Admission-controlled high watermark: cap this trigger's end
    * offsets so the total admitted record count stays within the
    * budget, splitting it across partitions proportionally to backlog
    * (every non-empty backlog admits at least one record, so the
    * stream always progresses). `maxPullHours` exhausted ⇒ admit
    * nothing — the remaining backlog belongs to the next run. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    observeTrigger()
    if (streamStartMs < 0) streamStartMs = System.currentTimeMillis()
    val s = start.asInstanceOf[SegmentOffsets].next
    if (budget.totalMs.exists(t => System.currentTimeMillis() - streamStartMs >= t)) {
      lastAdmitted = 0L
      return SegmentOffsets(s)
    }
    val hw = pinnedEnd.getOrElse(highWatermarks())
    val rows = rowBudget(limit)
    val backlog = hw.map { case (tp, hi) => tp -> math.max(0L, hi - s.getOrElse(tp, 0L)) }
    val total = backlog.values.sum
    val end =
      if (total <= rows) SegmentOffsets(hw)
      else SegmentOffsets(backlog.map { case (tp, b) =>
        val share = if (b == 0) 0L else math.max(1L, b * rows / total)
        tp -> (s.getOrElse(tp, 0L) + math.min(b, share))
      })
    lastAdmitted = end.next.map { case (tp, e) => e - s.getOrElse(tp, 0L) }.sum
    end
  }

  override def deserializeOffset(json: String): Offset = SegmentOffsets.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SegmentOffsets].next
    val e = end.asInstanceOf[SegmentOffsets].next
    partDirs().flatMap { case (topic, part, dir) =>
      val lo = s.getOrElse((topic, part), 0L)
      val hi = e.getOrElse((topic, part), 0L) - 1
      if (hi < lo) None
      else Some(SegmentPartition(dir.getPath, topic, part, lo, hi))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = decodeJson match {
    case Some(json) => new DecodedReaderFactory(json, required)
    case None => SegmentReaderFactory
  }
}

/** Checkpointable per-topic-partition next offsets; json is a flat
  * `topic/partition -> next` object. */
private[graft] case class SegmentOffsets(next: Map[(String, Int), Long]) extends Offset {
  override def json(): String = next.toSeq.sortBy(_._1)
    .map { case ((t, p), n) => s""""$t/$p":$n""" }.mkString("{", ",", "}")
}

private[graft] object SegmentOffsets {
  def fromJson(json: String): SegmentOffsets = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) SegmentOffsets(Map.empty)
    else SegmentOffsets(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      val key = k.trim.stripPrefix("\"").stripSuffix("\"")
      val i = key.lastIndexOf('/')
      (key.substring(0, i), key.substring(i + 1).toInt) -> v.trim.toLong
    }.toMap)
  }
}

// ───────────────────────── write path ─────────────────────────
//
// DSv2 WriteBuilder → Write → {BatchWrite, StreamingWrite} over the
// same segment layout the read side scans — the reference's produce
// path (KafkaOutputFormat.java:1, demoproducer/BaseProducer.java) as
// a native Spark sink, closing the streaming loop:
// `df.writeStream.format("graft-log")` now exists next to
// `readStream`, no foreachBatch shim.
//
// Commit protocol (exactly-once for streaming epochs):
//  - every task writes `.gseg.tmp` files (each with its
//    `.gseg.gidx.tmp` offset index) named DETERMINISTICALLY from
//    (queryId, epochId, task partitionId) — a retried task or a
//    re-executed epoch regenerates the SAME names;
//  - the driver publishes (tmp → final rename, REPLACE_EXISTING) only
//    in commit(), after every task reported — readers never see a
//    half-written or half-committed epoch (rename is atomic per file;
//    a crash mid-commit re-runs the epoch, which overwrites);
//  - LogicalWriteInfo.queryId is the STREAMING QUERY's persistent id
//    (stable across restarts from the same checkpoint), so epoch
//    re-execution after recovery lands on the same file names —
//    overwrite, not duplication. Batch writes get a fresh queryId per
//    job: task retries within a job are exactly-once, a re-run job
//    appends (at-least-once), the same contract as a Kafka producer
//    without a transactional id.
//
// Scale: one segment file per (epoch, task, topic-partition) touched;
// rows need not arrive sorted or co-partitioned (each task streams to
// per-topic-partition writers), so the sink imposes NO shuffle of its
// own. Many small epochs make many small segments — bounded by the
// epoch cadence, and the compaction operator (k_compact) is the
// existing remedy, same as a real broker's log-compaction cycle.

private[sources] class SegmentWriteBuilder(path: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  override def build(): org.apache.spark.sql.connector.write.Write =
    new SegmentWriteImpl(path, info)
}

private[sources] class SegmentWriteImpl(path: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.Write {
  import org.apache.spark.sql.connector.write._

  // resolve input columns by NAME against the wire schema and fail at
  // plan time on a drifted type — a misplaced binary column must not
  // become a corrupt segment at task time
  private val colIdx: Array[Int] = {
    val in = info.schema()
    LogSegmentSource.schema.fields.map { f =>
      val i = in.fieldNames.indexOf(f.name)
      require(i >= 0, s"graft-log write: missing column '${f.name}' " +
        s"(input: ${in.fieldNames.mkString(", ")})")
      require(in.fields(i).dataType == f.dataType,
        s"graft-log write: column '${f.name}' is ${in.fields(i).dataType.simpleString}, " +
          s"expected ${f.dataType.simpleString}")
      i
    }
  }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
      SegmentWriterFactory(path, s"b-${info.queryId()}", colIdx)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      SegmentWriteImpl.publishAll(messages)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      SegmentWriteImpl.discardAll(messages)
  }

  override def toStreaming: streaming.StreamingWrite = new streaming.StreamingWrite {
    override def createStreamingWriterFactory(p: PhysicalWriteInfo)
        : streaming.StreamingDataWriterFactory =
      SegmentWriterFactory(path, s"q-${info.queryId()}", colIdx)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      SegmentWriteImpl.publishAll(messages)
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      SegmentWriteImpl.discardAll(messages)
  }
}

private[sources] object SegmentWriteImpl {
  import org.apache.spark.sql.connector.write.WriterCommitMessage
  def publishAll(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case SegmentTaskCommit(tmps) => tmps.foreach(LogSegments.publish)
      case other => throw new IllegalStateException(
        s"graft-log: foreign commit message $other")
    }
  def discardAll(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case SegmentTaskCommit(tmps) => tmps.foreach(LogSegments.discard)
      case _ => ()
    }
}

private[sources] case class SegmentTaskCommit(tmpPaths: Seq[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** One factory serves both batch and streaming: the stem carries the
  * idempotency identity (batch: query id; streaming: query id +
  * epoch id appended in createWriter). */
private[sources] case class SegmentWriterFactory(path: String, stem: String,
    colIdx: Array[Int])
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new SegmentDataWriter(path, s"$stem-t$partitionId", colIdx)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new SegmentDataWriter(path, s"$stem-e$epochId-t$partitionId", colIdx)
}

/** Task-side writer: streams each row into a per-(topic, partition)
  * segment writer; file names are fully determined by (stem, topic,
  * partition), so a task retry truncates-and-rewrites rather than
  * appending a duplicate. The record payload (offset, event-time ms)
  * is taken from the row — the graft-log write contract is the same
  * frame the read side produces. */
private[sources] class SegmentDataWriter(path: String, stem: String,
    colIdx: Array[Int])
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val Array(kI, vI, tI, pI, oI, tsI, _) = colIdx
  private var writers = Map.empty[(String, Int), LogSegments.SegmentFileWriter]

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(tI) && !row.isNullAt(pI) && !row.isNullAt(oI),
      "graft-log write: topic/partition/offset must be non-null")
    val topic = row.getUTF8String(tI).toString
    val part = row.getInt(pI)
    val w = writers.getOrElse((topic, part), {
      val nw = new LogSegments.SegmentFileWriter(new java.io.File(
        s"$path/topic=$topic/partition=$part", s"$stem.gseg.tmp"))
      writers += ((topic, part) -> nw); nw
    })
    w.append(
      if (row.isNullAt(kI)) null else row.getBinary(kI),
      if (row.isNullAt(vI)) null else row.getBinary(vI),
      row.getLong(oI),
      if (row.isNullAt(tsI)) 0L else row.getLong(tsI) / 1000L)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writers.values.foreach(_.close())
    SegmentTaskCommit(writers.values.map(_.tmpFile.getPath).toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach { w =>
      try w.close() catch { case scala.util.control.NonFatal(_) => () }
      LogSegments.discard(w.tmpFile.getPath)
    }
  }

  override def close(): Unit = ()
}

private[sources] case class SegmentPartition(dir: String, topic: String,
    partition: Int, offsetLo: Long, offsetHi: Long) extends InputPartition

private[sources] class SegmentReader(p: SegmentPartition)
    extends PartitionReader[InternalRow] {
  private val files = Option(new File(p.dir).listFiles())
    .getOrElse(Array.empty[java.io.File])
    .filter(_.getName.endsWith(".gseg")).sortBy(_.getName).iterator
  private var current: LogSegments.RecordIterator = _
  private var row: InternalRow = _

  @annotation.tailrec
  private def advance(): Boolean =
    if (current != null && current.hasNext) {
      val (k, v, offset, tsMs) = current.next()
      if (offset < p.offsetLo || offset > p.offsetHi) advance()
      else {
        // timestampType = 0 (CreateTime): the segment record's ts is the
        // producer event time, same contract as MessageLog's builders
        row = new GenericInternalRow(Array[Any](
          k, v, UTF8String.fromString(p.topic), p.partition, offset, tsMs * 1000L, 0))
        true
      }
    } else if (files.hasNext) {
      current = LogSegments.readRange(files.next(), p.offsetLo, p.offsetHi)
      advance()
    } else false

  override def next(): Boolean = advance()
  override def get(): InternalRow = row
  override def close(): Unit = if (current != null) current.close()
}
