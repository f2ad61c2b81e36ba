package graft.sources

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream}
import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Broker-style binary segment files: the on-disk analogue of a Kafka
  * partition log, written one directory per topic-partition
  * (`topic=<t>/partition=<p>/part-*.gseg`), records offset-ordered.
  *
  * Record layout (DataOutputStream big-endian, format v2):
  * `[keyLen int][key][valLen int][value][offset long][tsMillis long][crc int]`
  * with keyLen/valLen = -1 encoding null and `crc` the CRC32 of all
  * preceding record bytes — the per-message checksum the reference
  * carries in its metadata key (camus/KafkaKey.java:29,64) and
  * validates on read (camus/KafkaReader.java:124). Without it, segment
  * corruption only surfaces when a length field happens to go wild;
  * with it, any flipped byte is detected at the exact record. v1 files
  * (magic "GSEG", no crc) still read.
  *
  * Every v2 segment the writer produces gets a sparse offset index in a
  * `<segment>.gidx` sidecar — Kafka's `.index` with a fixed
  * `index.interval.bytes` of [[IndexIntervalBytes]]:
  * `[magic "GIDX" int][segment bytes long][records long][min offset long]`
  * `[max offset long][sorted byte][entries int]`, then per entry its
  * offset, byte position and record ordinal, each as a zigzag varint
  * delta from the previous entry's (a few bytes an entry), then the
  * CRC32 of every preceding index byte. The first record and then the
  * first record at least [[IndexIntervalBytes]] after the previous
  * entry get an entry; "sorted" means offsets strictly increase. An
  * index is trusted only when its CRC matches and the segment still has
  * the byte length it records; a segment without a trusted one (v1, no
  * sidecar, corrupt sidecar, truncated or rewritten segment) is read
  * from its start. [[publish]] renames the index into place before its
  * segment, so a reader that lists a segment finds the segment's index.
  *
  * The format exists so [[LogSegmentSource]] can demonstrate the
  * reference's scan model (KafkaInputFormat.java: one split per
  * topic-partition bounded by offsets) as a native DataSourceV2
  * connector.
  */
object LogSegments {

  val Magic: Int = 0x47534547 // "GSEG" — v1, records carry no checksum
  val Magic2: Int = 0x47534732 // "GSG2" — v2, per-record CRC32

  /** A record whose stored CRC32 disagrees with its bytes. */
  final class CorruptRecordException(path: String, recordIndex: Long,
      stored: Int, computed: Int)
    extends java.io.IOException(
      s"graft: corrupt segment record #$recordIndex in $path " +
        f"(stored crc 0x$stored%08x, computed 0x$computed%08x)")

  /** A v2 segment that ends mid-record. Every whole v2 record ends in
    * its CRC, so a file exhausted after a record has started is
    * detectable truncation (crash-torn tail, partial copy), not a
    * clean end-of-log — it raises like a CRC mismatch does. */
  final class TruncatedRecordException(path: String, recordIndex: Long)
    extends java.io.IOException(
      s"graft: truncated segment record #$recordIndex in $path " +
        "(file ends mid-record)")

  /** Incremental CRC32 over the exact on-disk record encoding.
    * One instance per segment file — allocation-free per record. */
  private final class RecordCrc {
    private val crc = new java.util.zip.CRC32()
    private val buf = new Array[Byte](8)
    private def addInt(i: Int): Unit = {
      buf(0) = (i >>> 24).toByte; buf(1) = (i >>> 16).toByte
      buf(2) = (i >>> 8).toByte; buf(3) = i.toByte
      crc.update(buf, 0, 4)
    }
    private def addLong(l: Long): Unit = {
      addInt((l >>> 32).toInt); addInt(l.toInt)
    }
    def of(k: Array[Byte], v: Array[Byte], offset: Long, tsMs: Long): Int = {
      crc.reset()
      if (k == null) addInt(-1) else { addInt(k.length); crc.update(k) }
      if (v == null) addInt(-1) else { addInt(v.length); crc.update(v) }
      addLong(offset); addLong(tsMs)
      crc.getValue.toInt
    }
  }

  /** Record bytes between two offset-index entries (Kafka's
    * `index.interval.bytes` default). */
  val IndexIntervalBytes: Int = 4096
  private val IndexMagic: Int = 0x47494458 // "GIDX"
  private val IndexHeaderBytes = 4 + 8 * 4 + 1 + 4

  /** Zigzag varint: deltas of either sign in as few bytes as they need. */
  private def putVarLong(out: DataOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7FL) != 0) { out.writeByte(((z & 0x7F) | 0x80).toInt); z >>>= 7 }
    out.writeByte(z.toInt)
  }
  private def getVarLong(buf: java.nio.ByteBuffer): Long = {
    var (z, shift, b) = (0L, 0, 0x80)
    while ((b & 0x80) != 0) {
      require(shift < 64, "varint overflow")
      b = buf.get(); z |= (b & 0x7FL) << shift; shift += 7
    }
    (z >>> 1) ^ -(z & 1)
  }

  /** The sidecar index of a segment: `X.gseg` → `X.gseg.gidx`, and of a
    * segment still being written, `X.gseg.tmp` → `X.gseg.gidx.tmp`. */
  private[graft] def indexFile(segment: File): File = {
    val p = segment.getPath
    if (p.endsWith(".tmp")) new File(p.stripSuffix(".tmp") + ".gidx.tmp")
    else new File(p + ".gidx")
  }

  /** A segment's offset index: where each [[IndexIntervalBytes]] of its
    * records starts (offset, byte position, record ordinal, ascending by
    * position), plus the facts that let a read skip or stop early. */
  private[graft] final class SegmentIndex(val bytes: Long, val records: Long,
      val minOffset: Long, val maxOffset: Long, val sorted: Boolean,
      offsets: Array[Long], positions: Array[Long], ordinals: Array[Long]) {

    /** (byte position, record ordinal) of the last entry at or below
      * `lo` in a sorted segment — no earlier record can reach `lo` —
      * else of the first record. */
    def seek(lo: Long): (Long, Long) = {
      val i = if (sorted) java.util.Arrays.binarySearch(offsets, lo) else -1
      val at = if (i >= 0) i else -i - 2 // a miss: the entry below lo's insertion point
      if (at < 0) (4L, 0L) else (positions(at), ordinals(at))
    }

    def encode(): Array[Byte] = {
      val bytesOut = new java.io.ByteArrayOutputStream()
      val out = new DataOutputStream(bytesOut)
      out.writeInt(IndexMagic); out.writeLong(bytes); out.writeLong(records)
      out.writeLong(minOffset); out.writeLong(maxOffset); out.writeBoolean(sorted)
      out.writeInt(offsets.length)
      offsets.indices.foreach { i =>
        def delta(xs: Array[Long]) = xs(i) - (if (i == 0) 0L else xs(i - 1))
        putVarLong(out, delta(offsets)); putVarLong(out, delta(positions))
        putVarLong(out, delta(ordinals))
      }
      val crc = new java.util.zip.CRC32()
      crc.update(bytesOut.toByteArray)
      out.writeInt(crc.getValue.toInt)
      bytesOut.toByteArray
    }
  }

  /** The index of `segment` if it can be trusted: its sidecar exists,
    * parses, matches its CRC32 and records the segment's current byte
    * length. */
  private[graft] def readIndex(segment: File): Option[SegmentIndex] = {
    val f = indexFile(segment)
    val raw =
      try java.nio.file.Files.readAllBytes(f.toPath)
      catch { case _: java.io.IOException => return None }
    if (raw.length < IndexHeaderBytes + 4) return None
    val buf = java.nio.ByteBuffer.wrap(raw)
    val crc = new java.util.zip.CRC32()
    crc.update(raw, 0, raw.length - 4)
    if (buf.getInt(raw.length - 4) != crc.getValue.toInt || buf.getInt() != IndexMagic)
      return None
    buf.limit(raw.length - 4)
    val (bytes, records, lo, hi) = (buf.getLong(), buf.getLong(), buf.getLong(), buf.getLong())
    val sorted = buf.get() == 1
    val n = buf.getInt()
    // entries take 3 to 30 bytes each
    if (bytes != segment.length() || n < 0 || n.toLong * 3 > raw.length) return None
    val (offsets, positions, ordinals) = (new Array[Long](n), new Array[Long](n), new Array[Long](n))
    try (0 until n).foreach { i =>
      def prev(xs: Array[Long]) = if (i == 0) 0L else xs(i - 1)
      offsets(i) = prev(offsets) + getVarLong(buf)
      positions(i) = prev(positions) + getVarLong(buf)
      ordinals(i) = prev(ordinals) + getVarLong(buf)
    } catch { case scala.util.control.NonFatal(_) => return None }
    if (buf.hasRemaining) None
    else Some(new SegmentIndex(bytes, records, lo, hi, sorted, offsets, positions, ordinals))
  }

  /** Streams records into ONE v2 segment file at `tmpFile` (callers
    * name it `*.gseg.tmp`) and, on close, its offset index into
    * [[indexFile]]`(tmpFile)`. Publication is by rename, in one of two
    * disciplines: [[seal]] (close + rename now — the batch-write path,
    * where the task owns publication) or plain [[close]] with the
    * rename deferred to a coordinator ([[publish]] — the DSv2 commit
    * protocol, where the DRIVER renames after every task reported, so
    * a failed epoch leaves only `.tmp` litter and never a half-visible
    * segment; [[discard]] removes that litter). */
  private[sources] final class SegmentFileWriter(val tmpFile: File) {
    tmpFile.getParentFile.mkdirs()
    private val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(tmpFile)))
    out.writeInt(Magic2)
    private val crc = new RecordCrc
    private var position = 4L
    private var records = 0L
    private var minOffset = Long.MaxValue
    private var maxOffset = Long.MinValue
    private var sorted = true
    private var lastEntry = 0L
    private val offsets, positions, ordinals = Array.newBuilder[Long]
    private var closed = false

    def append(k: Array[Byte], v: Array[Byte], offset: Long, tsMs: Long): Unit = {
      if (records == 0 || position - lastEntry >= IndexIntervalBytes) {
        offsets += offset; positions += position; ordinals += records
        lastEntry = position
      }
      if (records > 0 && offset <= maxOffset) sorted = false
      minOffset = math.min(minOffset, offset); maxOffset = math.max(maxOffset, offset)
      def bytes(b: Array[Byte]): Unit =
        if (b == null) out.writeInt(-1)
        else { out.writeInt(b.length); out.write(b) }
      bytes(k); bytes(v)
      out.writeLong(offset); out.writeLong(tsMs)
      out.writeInt(crc.of(k, v, offset, tsMs))
      position += 4 + (if (k == null) 0 else k.length) + 4 +
        (if (v == null) 0 else v.length) + 8 + 8 + 4
      records += 1
    }

    /** Close the segment, then write its index. */
    def close(): Unit = if (!closed) {
      closed = true
      out.close()
      java.nio.file.Files.write(indexFile(tmpFile).toPath, new SegmentIndex(position, records,
        minOffset, maxOffset, sorted, offsets.result(), positions.result(),
        ordinals.result()).encode())
    }
    def seal(): File = { close(); publish(tmpFile.getPath) }
  }

  /** Rename a finished `.tmp` segment into place, its index first.
    * Idempotent under coordinator retry: a missing tmp whose final file
    * exists is a previously-completed publish, not an error
    * (REPLACE_EXISTING keeps a same-name re-publish an overwrite, never
    * a duplicate). A tmp segment without a tmp index drops any index
    * left under the final name, so it can never describe other bytes. */
  private[sources] def publish(tmpPath: String): File = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = new File(tmpPath)
    val fin = new File(tmpPath.stripSuffix(".tmp"))
    if (tmp.exists()) {
      val (tmpIdx, finIdx) = (indexFile(tmp), indexFile(fin))
      if (tmpIdx.exists())
        Files.move(tmpIdx.toPath, finIdx.toPath, StandardCopyOption.REPLACE_EXISTING)
      else Files.deleteIfExists(finIdx.toPath)
      Files.move(tmp.toPath, fin.toPath, StandardCopyOption.REPLACE_EXISTING)
    } else if (!fin.exists())
      throw new java.io.IOException(
        s"graft: segment $tmpPath vanished before publication")
    fin
  }

  /** Delete an unpublished `.tmp` segment and its index. */
  private[sources] def discard(tmpPath: String): Unit = {
    val tmp = new File(tmpPath)
    tmp.delete(); indexFile(tmp).delete(); ()
  }

  /** Write a message-log DataFrame (spark-sql-kafka schema) as segment
    * dirs. One shuffle: co-locate each topic-partition, offset-sorted. */
  def write(log: DataFrame, path: String): String = {
    val spark = log.sparkSession
    import spark.implicits._
    log.select(col("key"), col("value"), col("topic"),
        col("partition"), col("offset"), unix_millis(col("timestamp")).as("ts_ms"))
      .as[(Array[Byte], Array[Byte], String, Int, Long, Long)]
      .repartition(col("topic"), col("partition"))
      .sortWithinPartitions(col("topic"), col("partition"), col("offset"))
      .foreachPartition { it: Iterator[(Array[Byte], Array[Byte], String, Int, Long, Long)] =>
        // write to .tmp, rename on close: concurrent readers (a live
        // micro-batch stream) must never see a half-written segment
        var w: SegmentFileWriter = null
        def sealSegment(): Unit = if (w != null) { w.seal(); w = null }
        var current: (String, Int) = null
        for ((k, v, topic, part, offset, tsMs) <- it) {
          if (current != (topic, part)) {
            sealSegment()
            // unique per write so appended batches never clobber files
            val taskId = org.apache.spark.TaskContext.getPartitionId()
            val unique = java.util.UUID.randomUUID().toString.take(8)
            w = new SegmentFileWriter(new File(
              s"$path/topic=$topic/partition=$part",
              f"part-$taskId%05d-$unique.gseg.tmp"))
            current = (topic, part)
          }
          w.append(k, v, offset, tsMs)
        }
        sealSegment()
      }
    path
  }

  /** A segment-record iterator that can be closed mid-stream (a scan
    * under a limit stops early; the input must not leak). */
  trait RecordIterator extends Iterator[(Array[Byte], Array[Byte], Long, Long)]
      with AutoCloseable

  private object EmptyRecords extends RecordIterator {
    override def hasNext: Boolean = false
    override def next(): (Array[Byte], Array[Byte], Long, Long) =
      throw new NoSuchElementException("next on an empty segment range")
    override def close(): Unit = ()
  }

  /** The records of `f` a read of offsets `[lo, hi]` has to look at.
    * With a trusted index: none when the segment's offsets miss the
    * range; in a sorted segment, those from the last index entry at or
    * below `lo` up to the first record at or past `hi`; otherwise every
    * record. Callers still filter by offset. */
  def readRange(f: File, lo: Long, hi: Long): RecordIterator = readIndex(f) match {
    case Some(ix) if ix.records == 0 || ix.maxOffset < lo || ix.minOffset > hi => EmptyRecords
    case Some(ix) if ix.sorted =>
      val (position, ordinal) = ix.seek(lo)
      readFile(f, position, ordinal, hi)
    case _ => readFile(f)
  }

  /** The highest offset in `f`, -1 if it holds none: from its index,
    * else by reading every record. */
  def maxOffset(f: File): Long = readIndex(f) match {
    case Some(ix) => math.max(-1L, ix.maxOffset)
    case None =>
      val it = readFile(f)
      try it.foldLeft(-1L) { case (m, (_, _, off, _)) => math.max(m, off) }
      finally it.close()
  }

  /** Iterate one segment file's records, validating per-record CRCs on
    * v2 files ([[CorruptRecordException]] pinpoints the bad record).
    * The read starts at byte `position`, which holds record number
    * `ordinal` (an index entry; the first record by default), and ends
    * after the first record whose offset reaches `stopAfter`. Closes
    * itself at EOF. */
  def readFile(f: File, position: Long = 4L, ordinal: Long = 0L,
      stopAfter: Long = Long.MaxValue): RecordIterator = {
    val file = new FileInputStream(f)
    // a bad-magic failure must close the stream itself — the caller
    // never gets a handle to close. (A corrupt record #0 found by the
    // eager first advance also closes the stream itself, then raises
    // from the first next() via the pending-error slot below.)
    // close failures are swallowed on these error paths: the original
    // exception (bad magic, corrupt record) names file/record/CRCs and
    // must reach the caller, not be masked by a failing close() on the
    // same broken device
    def closeQuietly(): Unit =
      try file.close() catch { case scala.util.control.NonFatal(_) => () }
    val checked =
      try {
        val head = new Array[Byte](4)
        new DataInputStream(file).readFully(head)
        val magic = java.nio.ByteBuffer.wrap(head).getInt
        require(magic == Magic || magic == Magic2,
          s"graft: ${f.getPath} is not a segment file")
        if (position > 4) file.getChannel.position(position)
        magic == Magic2
      } catch { case e: Throwable => closeQuietly(); throw e }
    // reads come in index intervals, so a ranged read overshoots by at
    // most one interval
    val in = new DataInputStream(new java.io.BufferedInputStream(file, IndexIntervalBytes))
    new RecordIterator {
      private val crc = new RecordCrc
      private var recordIndex = ordinal - 1
      private var nextRec: (Array[Byte], Array[Byte], Long, Long) = _
      private var done = false
      // a decode error found while PRE-fetching record i+1 is parked
      // here and raised only after record i has been handed out — the
      // eager advance must not cost the caller the last healthy record
      private var pendingError: Throwable = null
      private def advance(): Unit = {
        if (nextRec != null && nextRec._3 >= stopAfter) { done = true; closeQuietly(); return }
        // the record's first byte separates a clean end-of-log (stream
        // exhausted exactly at a record boundary → read() returns -1)
        // from a record that started and was cut off mid-way
        val first =
          try in.read()
          catch { case scala.util.control.NonFatal(e) =>
            done = true; closeQuietly(); pendingError = e; return }
        if (first < 0) { done = true; closeQuietly(); return }
        val idx = recordIndex + 1
        try {
          def bytes(n: Int): Array[Byte] =
            if (n < 0) null
            else { val b = new Array[Byte](n); in.readFully(b); b }
          val kLen = (first << 24) | (in.readUnsignedByte() << 16) |
            (in.readUnsignedByte() << 8) | in.readUnsignedByte()
          val k = bytes(kLen); val v = bytes(in.readInt())
          val offset = in.readLong(); val tsMs = in.readLong()
          recordIndex = idx
          if (checked) {
            val stored = in.readInt()
            val computed = crc.of(k, v, offset, tsMs)
            if (stored != computed)
              throw new CorruptRecordException(f.getPath, idx, stored, computed)
          }
          nextRec = (k, v, offset, tsMs)
        } catch {
          // v1 has no checksum, so a partial trailing record cannot be
          // told apart from writer-crash garbage — keep the legacy
          // tolerance and drop it silently; a close() failure here must
          // not throw out of next() and lose the final decoded record
          case _: EOFException if !checked => done = true; closeQuietly()
          // v2: the record provably started (first byte read), so EOF
          // here is detectable truncation — raise, like a CRC mismatch
          case _: EOFException =>
            done = true; closeQuietly()
            pendingError = new TruncatedRecordException(f.getPath, idx)
          case scala.util.control.NonFatal(e) =>
            done = true; closeQuietly(); pendingError = e
        }
      }
      advance()
      override def hasNext: Boolean = !done || pendingError != null
      override def next(): (Array[Byte], Array[Byte], Long, Long) = {
        if (done) {
          if (pendingError != null) {
            val e = pendingError; pendingError = null; throw e
          }
          throw new NoSuchElementException("next on exhausted segment iterator")
        }
        val r = nextRec; advance(); r
      }
      override def close(): Unit = {
        pendingError = null // caller chose to stop; don't raise later
        if (!done) { done = true; in.close() }
      }
    }
  }
}
