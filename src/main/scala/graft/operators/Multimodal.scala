package graft.operators

import graft.sources.{avro, AvroCodec}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, batch-decoded per partition.
  *
  * The payloads are REAL PNG files (rendered deterministically per
  * document — standing in for images ingested from object storage) and
  * the decode/resize/frame stages run a real pure-JVM codec
  * ([[PngCodec]], `javax.imageio`): geometry and luminance come from
  * actual decoded pixels, not container headers. The Spark shape is the
  * production one — schema'd binary columns, one decoder instance per
  * partition via mapPartitions (the Scala analogue of a Pandas-UDF
  * `mapInPandas` stage), rows streamed. Heavier codecs (JPEG via
  * TwelveMonkeys, video via javacv) swap into [[PngCodec]] without
  * touching any Spark plumbing.
  */
object Multimodal {

  /** Decoded media record (one per payload); `width`/`height` are the
    * DECODED geometry, `n_bytes` the encoded payload size. */
  case class MediaMeta(doc_id: Long, width: Int, height: Int,
      n_bytes: Long, mean_luma: Double)

  private val containerType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("fmt", StringType),
    StructField("data", BinaryType)))

  val containerSchemaJson: String =
    AvroCodec.avroSchemaFor(containerType, "MediaContainer").toString

  /** Deterministic synthetic "camera roll": one real PNG per document
    * (gradient+hash pattern seeded by doc_id), wrapped in an Avro
    * container with typed header — the ingest layout of a binary media
    * column. Geometry varies per doc: 64≤w<256, 64≤h<192.
    *
    * Memoized per corpus dir (persisted): the render is test-data
    * SYNTHESIS standing in for bytes already sitting in object
    * storage — re-encoding 5k PNGs per query would bill producer work
    * to every consumer-side operator under test. */
  def fakeMediaTable(spark: SparkSession, sfDir: String): DataFrame =
    shelf(spark, ("media", sfDir)) {
      import spark.implicits._
      val ids = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
      val rendered = ids.mapPartitions { it =>
        it.map { id =>
          val w = 64 + (id % 192).toInt
          val h = 64 + ((id * 7) % 128).toInt
          (id, w, h, "image/png", PngCodec.render(id, w, h))
        }
      }.toDF("doc_id", "width", "height", "fmt", "data")
      rendered.select(col("doc_id"),
        avro.to_avro(struct(col("doc_id"), col("width"), col("height"),
          col("fmt"), col("data")).cast(containerType),
          "MediaContainer").as("media"))
    }

  /** A synthetic shelf: rendered once per session and corpus dir, and
    * kept persisted. */
  private def shelf(spark: SparkSession, key: Any)(rows: => DataFrame): DataFrame =
    graft.Stores.memo(spark, key)(
      rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The synthetic shelves, each with the prefixes of the query keys
    * that read it. */
  private val shelves: Seq[(Seq[String], (SparkSession, String) => DataFrame)] = Seq(
    Seq("m_modal") -> fakeMediaTable,
    Seq("m_modal_phash") -> ((s, dir) => phashMediaTable(s, dir)),
    Seq("m_modal_audio", "m_modal_vad") -> fakeAudioTable,
    Seq("m_modal_scenes") -> fakeSceneTable,
    Seq("m_dedup_audio") -> fakeFpAudioTable)

  /** Renders up front the shelves that `keys` read. Rendering is input
    * SYNTHESIS (the stand-in for bytes already in object storage), and
    * would otherwise bill seconds of producer work to whichever key
    * reads a shelf first. A shelf that fails to render is left to the
    * key that reads it, which reports the failure. */
  def renderShelves(spark: SparkSession, sfDir: String, keys: Iterable[String]): Unit =
    for ((prefixes, shelf) <- shelves if keys.exists(k => prefixes.exists(k.startsWith)))
      try shelf(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case scala.util.control.NonFatal(_) => () }

  /** Partition-batched decode: binary container -> PNG-decoded
    * metadata. One decoder per partition, rows streamed — the exact
    * shape a Pandas-UDF/mapInPandas decode stage has, so batch size
    * and memory behavior are realistic. */
  def decodeMedia(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(avro.from_avro(col("media"), containerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val img = PngCodec.decode(data)
          MediaMeta(id, img.getWidth, img.getHeight, data.length.toLong,
            PngCodec.meanLuma(img))
        }
      }
  }

  /** [[decodeMedia]] in exact integers for the driver's oracle gate:
    * the test pattern is deterministic math on (doc_id, x, y), so the
    * decoded geometry AND the pixel-luminance sum are SQL-recomputable
    * — `luma_milli` = Σ(299R + 587G + 114B) over decoded pixels is a
    * BIGINT, no float compare rules needed. A wrong codec (header
    * misread, row stride bug, color-channel swap) breaks the hash. */
  def decodeMediaExact(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(avro.from_avro(col("media"), containerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val img = PngCodec.decode(data)
          (id, img.getWidth, img.getHeight,
            img.getWidth.toLong * img.getHeight, PngCodec.lumaSumMilli(img))
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "luma_milli")
  }

  /** [[sampleFrames]] in exact integers (same contract as
    * [[decodeMediaExact]]): `luma_milli` sums the KEPT frames' pixels. */
  def sampleFramesExact(spark: SparkSession, media: DataFrame,
      frameRows: Int = 16, stride: Int = 4): DataFrame = {
    import spark.implicits._
    media.select(avro.from_avro(col("media"), containerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val img = PngCodec.decode(data)
          val nFrames = math.max(1, img.getHeight / frameRows)
          val kept = (0 until nFrames by stride).toArray
          var luma = 0L
          kept.foreach { f =>
            luma += PngCodec.lumaSumMilliRows(img, f * frameRows,
              (f + 1) * frameRows)
          }
          (id, nFrames, kept.length, img.getWidth * frameRows * 3, luma)
        }
      }
      .toDF("doc_id", "n_frames", "sampled", "frame_bytes", "luma_milli")
  }

  /** [[resizeMedia]] with the SQL-checkable parts exact (geometry is
    * identical double math in both engines) and the resampled
    * luminance as a contract: bilinear downsampling of the smooth
    * pattern must keep the mean within 2.0 of the original (measured
    * max drift 0.69 at sf0.01). */
  def resizeContract(spark: SparkSession, media: DataFrame,
      maxSide: Int = 64): DataFrame = {
    import spark.implicits._
    media.select(avro.from_avro(col("media"), containerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val img = PngCodec.decode(data)
          val (w, h) = (img.getWidth, img.getHeight)
          val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
          val small = PngCodec.resize(img, scale)
          (id, w, h, small.getWidth, small.getHeight,
            math.abs(PngCodec.meanLuma(small) - PngCodec.meanLuma(img)) < 2.0)
        }
      }
      .toDF("doc_id", "width", "height", "out_width", "out_height", "luma_close")
  }

  /** Resized media record: decoded + target geometry; `n_bytes` is the
    * re-encoded PNG size of the resized image. */
  case class ResizedMeta(doc_id: Long, width: Int, height: Int,
      out_width: Int, out_height: Int, n_bytes: Long, mean_luma: Double)

  /** Resize stage: same partition-batched shape as [[decodeMedia]] —
    * decode, scale into a `maxSide` bounding box (real bilinear
    * drawImage), re-encode, re-extract features. Chained after decode
    * in a real pipeline; here fused per row so the payload bytes cross
    * the wire once. */
  def resizeMedia(spark: SparkSession, media: DataFrame,
      maxSide: Int = 64): Dataset[ResizedMeta] = {
    import spark.implicits._
    media.select(avro.from_avro(col("media"), containerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val img = PngCodec.decode(data)
          val (w, h) = (img.getWidth, img.getHeight)
          val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
          val small = PngCodec.resize(img, scale)
          val out = PngCodec.encode(small)
          ResizedMeta(id, w, h, small.getWidth, small.getHeight,
            out.length.toLong, PngCodec.meanLuma(small))
        }
      }
  }

  /** Frame-sampled record: the payload read as a vertical filmstrip of
    * `frameRows`-row frames; `frame_bytes` = decoded RGB bytes per
    * frame. */
  case class FrameMeta(doc_id: Long, n_frames: Int, sampled: Int,
      frame_bytes: Int, mean_luma: Double)

  /** Deterministic near-dup "camera roll" for perceptual-hash dedup:
    * documents come in groups of `groupSize` that share one SMOOTH
    * base image ([[PngCodec.renderSmooth]]'s band-limited cosine
    * mixture seeded by the group id — the natural-photo stand-in
    * whose energy fills exactly the frequencies the hash reads),
    * each member a bilinear re-render at a
    * different scale (0.4–1.0 of 160x120). The ingest shape of "the
    * same photo crawled at five thumbnail sizes" — exactly what pHash
    * dedup exists to catch and what byte-level dedup cannot (every
    * member's PNG bytes differ). Memoized like [[fakeMediaTable]]. */
  def phashMediaTable(spark: SparkSession, sfDir: String,
      groupSize: Int = 5): DataFrame =
    shelf(spark, ("phash", sfDir, groupSize)) {
      import spark.implicits._
      val ids = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
      ids.mapPartitions { it =>
        // one render per group, not per member: ids arrive mostly
        // sorted, so a last-base memo collapses the groupSize
        // redundant renderSmooth calls a per-member render would make
        var lastGid = Long.MinValue
        var lastBase: java.awt.image.BufferedImage = null
        it.map { id =>
          val gid = id - id % groupSize
          if (gid != lastGid) {
            lastGid = gid
            lastBase = PngCodec.renderSmooth(gid, 160, 120)
          }
          val scale = 0.4 + 0.6 * (id % groupSize).toDouble /
            math.max(1, groupSize - 1)
          val img = PngCodec.resize(lastBase, scale)
          (id, gid, PngCodec.encode(img))
        }
      }.toDF("doc_id", "group_id", "data")
    }

  /** Per-image 64-bit perceptual hash (DCT pHash): decode, box-average
    * to 32x32 luma, 2-D DCT-II, keep the 8x8 lowest-frequency block,
    * threshold each coefficient at the block median. Same
    * partition-batched decode shape as [[decodeMedia]]; emits the hash
    * both as bits (for banded/XOR Hamming joins) and hex (for humans
    * and the rows-only driver dump). */
  def phashMedia(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("group_id"), col("data"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, gid, data) =>
          val img = PngCodec.decode(data)
          val h = PngCodec.phash64(img)
          (id, gid, img.getWidth, img.getHeight, h, f"$h%016x")
        }
      }
      .toDF("doc_id", "group_id", "width", "height", "phash_bits", "phash")
  }

  /** The pHash quality distributions — shared DEFINITIONALLY by the
    * m_modal_phash_contract row and the SURVEY §18 measurement (the one
    * the contract's thresholds come from): `intra` = all within-group
    * Hamming distances (same photo, different scales; join keyed by
    * group_id, bounded groupSize² fan-out), `inter` = adjacent-group
    * representative distances (different photos; linear leg — the
    * full cross-group matrix is probe-only, quadratic in groups).
    * Input: [[phashMedia]] output. */
  def phashDistances(hashes: DataFrame,
      groupSize: Int = 5): (DataFrame, DataFrame) = {
    val h = hashes.select(col("doc_id"), col("group_id"), col("phash_bits"))
    val intra = h.as("a").join(h.as("b"),
      col("a.group_id") === col("b.group_id") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(expr("bit_count(a.phash_bits ^ b.phash_bits)").as("d"))
    val reps = h.filter(col("doc_id") === col("group_id"))
    val inter = reps.as("a").join(reps.as("b"),
      col("a.group_id") + groupSize === col("b.group_id"))
      .select(expr("bit_count(a.phash_bits ^ b.phash_bits)").as("d"))
    (intra, inter)
  }

  /** Banded Hamming near-dup pairs over the 64-bit pHashes: the
    * multi-index-hashing device (Norouzi et al. 2012) — 4 sub-keys of
    * 16 bits, any pair within Hamming `maxHamming` ≤ 3 shares one
    * intact band (pigeonhole: 4 bands, ≤3 differing bits), so the
    * banded candidate join finds EXACTLY the brute Hamming-≤3 set
    * with zero all-pairs work. Same guarantee and same banding as
    * [[Dedup.simhashPairs]], applied to image hashes: the "same photo
    * at five thumbnail sizes" ingest shape chains together at r ≤ 3
    * (adjacent scales hash nearly identically) even where the extreme
    * scales sit 4-6 bits apart — connected components over these
    * pairs recovers whole camera-roll groups. Input: [[phashMedia]]
    * output. */
  def phashPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"phashPairs: pigeonhole exactness needs maxHamming < 4 at 64 bits, " +
        s"got $maxHamming — band wider hashes instead of stretching the radius")
    val sig = hashes.select(col("doc_id").as("id"), col("phash_bits").as("sig"))
    val banded = sig.select(col("id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16).bitwiseAND(0xffffL)
            .as("bkey"))): _*)).as("bk"))
      .select(col("id"), col("sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    Dedup.bandedHammingPairs(banded, maxHamming,
      (l, r) => bit_count(col(s"$l.sig").bitwiseXOR(col(s"$r.sig"))))
  }

  /** Frame-sampling stage: decode the strip once, keep every
    * `stride`-th frame as a subimage (the video analogue of decode —
    * one decoder per partition, frames streamed), features over the
    * KEPT frames only. */
  def sampleFrames(spark: SparkSession, media: DataFrame,
      frameRows: Int = 16, stride: Int = 4): Dataset[FrameMeta] = {
    import spark.implicits._
    media.select(avro.from_avro(col("media"), containerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val img = PngCodec.decode(data)
          val nFrames = math.max(1, img.getHeight / frameRows)
          val kept = (0 until nFrames by stride).toArray
          var sum = 0.0
          kept.foreach { f =>
            val rows = math.min(frameRows, img.getHeight - f * frameRows)
            sum += PngCodec.meanLuma(img.getSubimage(0, f * frameRows,
              img.getWidth, rows))
          }
          FrameMeta(id, nFrames, kept.length, img.getWidth * frameRows * 3,
            math.rint(sum / kept.length * 100) / 100)
        }
      }
  }

  // ---- audio modality ----

  private val audioContainerType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("fmt", StringType),
    StructField("data", BinaryType)))

  val audioContainerSchemaJson: String =
    AvroCodec.avroSchemaFor(audioContainerType, "AudioContainer").toString

  /** Deterministic synthetic audio shelf: one PCM s16le mono clip per
    * document — sample(t) = ((doc_id·31 + 17·t) mod 4096) − 2048 over
    * n = 1600 + doc_id mod 800 samples at 16 kHz — wrapped in a typed
    * Avro container like [[fakeMediaTable]]'s images. The closed form
    * makes every byte oracle-predictable while the decode side still
    * does real little-endian PCM parsing. Memoized per corpus dir
    * (synthesis = producer work, same reasoning as the image shelf). */
  def fakeAudioTable(spark: SparkSession, sfDir: String): DataFrame =
    shelf(spark, ("audio", sfDir)) {
      import spark.implicits._
      val ids = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
      val rendered = ids.mapPartitions { it =>
        it.map { id =>
          val n = 1600 + (id % 800).toInt
          val bytes = new Array[Byte](n * 2)
          var t = 0
          while (t < n) {
            val v = (((id * 31 + 17L * t) % 4096) - 2048).toInt
            bytes(2 * t) = (v & 0xff).toByte
            bytes(2 * t + 1) = ((v >> 8) & 0xff).toByte
            t += 1
          }
          (id, 16000, n, "audio/pcm-s16le", bytes)
        }
      }.toDF("doc_id", "sample_rate", "n_samples", "fmt", "data")
      rendered.select(col("doc_id"),
        avro.to_avro(struct(col("doc_id"), col("sample_rate"),
          col("n_samples"), col("fmt"), col("data"))
          .cast(audioContainerType), "AudioContainer").as("audio"))
    }

  /** Partition-batched PCM decode → integer clip features: duration,
    * Σ|s|, peak |s|, and zero crossings (strict sign flips, zeros
    * neutral) — the audio analogue of [[decodeMediaExact]]: a real
    * byte-level parse (little-endian s16) in per-partition batches,
    * all outputs integer-exact for the oracle's closed-form replay. */
  def decodeAudioExact(spark: SparkSession, audio: DataFrame): DataFrame = {
    import spark.implicits._
    audio.select(avro.from_avro(col("audio"), audioContainerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"),
        col("c.sample_rate").as("sample_rate"), col("c.data").as("data"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, rate, data) =>
          val n = data.length / 2
          var sumAbs = 0L
          var peak = 0L
          var zc = 0L
          var prev = 0
          var t = 0
          while (t < n) {
            val v = ((data(2 * t) & 0xff) | (data(2 * t + 1) << 8)).toShort.toInt
            val a = math.abs(v).toLong
            sumAbs += a
            if (a > peak) peak = a
            if (t > 0 && prev * v < 0) zc += 1
            prev = v
            t += 1
          }
          (id, n.toLong, n.toLong * 1000L / rate, sumAbs, peak, zc)
        }
      }
      .toDF("doc_id", "n_samples", "duration_ms", "sum_abs", "peak_abs",
        "zero_crossings")
  }

  /** Energy-gated voice-activity detection over the PCM shelf: the
    * clip splits into complete [[VadFrame]]-sample frames (trailing
    * partial frame dropped), a frame is "voiced" when its Σ|s| energy
    * strictly exceeds the clip's mean frame energy (compared in
    * integers: e·n_frames > Σe — no float threshold to drift), and
    * voiced runs aggregate to segment count and longest run — the
    * frame-blocking + energy-gate shape every production VAD
    * (webrtcvad, silero preprocessing) starts from, with the gate
    * kept integer so the oracle replays every decision. Real s16le
    * byte parsing per partition, like [[decodeAudioExact]]. */
  def vadExact(spark: SparkSession, audio: DataFrame): DataFrame = {
    import spark.implicits._
    audio.select(avro.from_avro(col("audio"), audioContainerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val n = data.length / 2
          val nf = n / VadFrame
          val en = new Array[Long](nf)
          var f = 0
          while (f < nf) {
            var sum = 0L
            var t = f * VadFrame
            val end = (f + 1) * VadFrame
            while (t < end) {
              val v = ((data(2 * t) & 0xff) | (data(2 * t + 1) << 8))
                .toShort.toInt
              sum += math.abs(v).toLong
              t += 1
            }
            en(f) = sum
            f += 1
          }
          val sumE = en.sum
          var voiced = 0L
          var segments = 0L
          var longest = 0L
          var run = 0L
          f = 0
          while (f < nf) {
            if (en(f) * nf > sumE) {
              voiced += 1
              run += 1
              if (run == 1) segments += 1
              if (run > longest) longest = run
            } else run = 0
            f += 1
          }
          (id, nf.toLong, voiced, segments, longest)
        }
      }
      .toDF("doc_id", "n_frames", "n_voiced", "n_segments", "longest_run")
  }

  /** VAD frame length in samples (10 ms at 16 kHz — the webrtcvad
    * minimum frame). */
  private val VadFrame = 160

  /** Planted near-duplicate audio shelf for FINGERPRINT matching:
    * groups of five clips share one base signal, each member a
    * WHOLE-FRAME time shift of it ((doc_id mod 5)·160 samples) — the
    * "same recording, clipped at a different moment" duplication
    * audio dedup exists for. The base waveform is a group-seeded
    * QUADRATIC ramp v(u) = ((2g+1)·u² + 17u + 31g) mod 4096 − 2048
    * at absolute sample index u: the group seeds the u² COEFFICIENT
    * (2g+1, always odd), because an additive-only seed (the
    * [[fakeAudioTable]] form) shifts the same sawtooth's phase and
    * was MEASURED to collide catastrophically under band-energy
    * fingerprints (35k cross-group pairs on 500 docs); distinct odd
    * quadratic coefficients decorrelate the band energies (0–3
    * residual collisions corpus-wide, reported honestly by the
    * query). Clip length varies by group (10–14 frames). Memoized
    * per corpus dir like the other shelves. */
  def fakeFpAudioTable(spark: SparkSession, sfDir: String): DataFrame =
    shelf(spark, ("fpaudio", sfDir)) {
      import spark.implicits._
      val ids = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
      val rendered = ids.mapPartitions { it =>
        it.map { id =>
          val g = id / 5
          val off = (id % 5).toInt * VadFrame
          val n = (10 + (g % 5).toInt) * VadFrame
          val bytes = new Array[Byte](n * 2)
          var t = 0
          while (t < n) {
            val u = (t + off).toLong
            val v = (((2 * g + 1) * u * u + 17 * u + 31 * g) % 4096 - 2048).toInt
            bytes(2 * t) = (v & 0xff).toByte
            bytes(2 * t + 1) = ((v >> 8) & 0xff).toByte
            t += 1
          }
          (id, 16000, n, "audio/pcm-s16le", bytes)
        }
      }.toDF("doc_id", "sample_rate", "n_samples", "fmt", "data")
      rendered.select(col("doc_id"),
        avro.to_avro(struct(col("doc_id"), col("sample_rate"),
          col("n_samples"), col("fmt"), col("data"))
          .cast(audioContainerType), "AudioContainer").as("audio"))
    }

  /** Per-frame per-band energies from a REAL little-endian s16 parse:
    * frames of [[VadFrame]] samples, 8 bands of 20 — the energy grid
    * the Haitsma–Kalker fingerprint bits derive from. One output row
    * per (clip, frame, band); clips in this shelf are whole-frame
    * sized so no trailing partial frame exists. */
  def audioBandEnergies(spark: SparkSession, audio: DataFrame): DataFrame = {
    import spark.implicits._
    val bandLen = VadFrame / 8
    audio.select(avro.from_avro(col("audio"), audioContainerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, data) =>
          val n = data.length / 2
          val nf = n / VadFrame
          (0 until nf).iterator.flatMap { f =>
            (0 until 8).iterator.map { b =>
              var sum = 0L
              var t = f * VadFrame + b * bandLen
              val end = t + bandLen
              while (t < end) {
                val v = ((data(2 * t) & 0xff) | (data(2 * t + 1) << 8))
                  .toShort.toInt
                sum += math.abs(v).toLong
                t += 1
              }
              (id, f.toLong, b.toLong, sum)
            }
          }
        }
      }
      .toDF("doc_id", "f", "b", "e")
  }

  /** Scene-strip shelf: one [[PngCodec.renderScenes]] strip per doc —
    * 8+(id mod 5) frames of 16 rows at w=64, scenes of 2+(id mod 3)
    * frames — wrapped in the standard media container. Memoized per
    * corpus dir like the other shelves. */
  def fakeSceneTable(spark: SparkSession, sfDir: String): DataFrame =
    shelf(spark, ("scenes", sfDir)) {
      import spark.implicits._
      val ids = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id")).as[Long]
      val rendered = ids.mapPartitions { it =>
        it.map { id =>
          val nf = 8 + (id % 5).toInt
          val ls = 2 + (id % 3).toInt
          (id, 64, nf * 16, "image/png",
            PngCodec.renderScenes(id, 64, nf, ls))
        }
      }.toDF("doc_id", "width", "height", "fmt", "data")
      rendered.select(col("doc_id"),
        avro.to_avro(struct(col("doc_id"), col("width"), col("height"),
          col("fmt"), col("data")).cast(containerType),
          "MediaContainer").as("media"))
    }

  /** SCENE-CHANGE detection over a decoded frame strip: a cut lands
    * between frames f−1 and f when MORE THAN HALF the pixels changed
    * ([[PngCodec.changedPixels]] — the pixel-difference-count metric
    * practical shot-boundary detectors start from; an integer
    * majority gate, so every decision replays exactly). Emits per
    * clip: frame count, scene count (cuts+1), longest scene, and the
    * total changed-pixel mass — all derived from the REAL decoded
    * raster, frame pairs compared per partition. */
  def sceneDetect(spark: SparkSession, media: DataFrame,
      frameRows: Int = 16): DataFrame = {
    import spark.implicits._
    media.select(avro.from_avro(col("media"), containerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val img = PngCodec.decode(data)
          val nf = img.getHeight / frameRows
          val half = (img.getWidth * frameRows).toLong
          var scenes = 1L
          var run = 1L
          var longest = 1L
          var diffPx = 0L
          var f = 1
          while (f < nf) {
            val ch = PngCodec.changedPixels(img, (f - 1) * frameRows,
              f * frameRows, frameRows)
            diffPx += ch
            if (ch * 2 > half) {
              scenes += 1
              run = 1
            } else {
              run += 1
              if (run > longest) longest = run
            }
            if (run > longest) longest = run
            f += 1
          }
          (id, nf.toLong, scenes, longest, diffPx)
        }
      }
      .toDF("doc_id", "n_frames", "n_scenes", "longest_scene", "diff_px")
  }

  /** Deterministic AUGMENTATION features: horizontal flip + top-left
    * half-crop — the two standard training-time augmentations,
    * verified by exact pixel arithmetic. The flip∘crop composition
    * selects the decoded original's region x ∈ [w−⌊w/2⌋, w),
    * y ∈ [0, ⌊h/2⌋) (a crop that did NOT follow a flip would read
    * x ∈ [0, ⌊w/2⌋) — the oracle distinguishes the two, so the flip
    * is observable, not a no-op); luma is the exact Rec.601 integer
    * sum over that region of the REAL decoded raster. An off-center
    * crop is deliberate: a centered crop is flip-invariant and would
    * leave the flip untested. */
  def augmentExact(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(avro.from_avro(col("media"), containerSchemaJson).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.data").as("data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, data) =>
          val img = PngCodec.decode(data)
          val w = img.getWidth
          val h = img.getHeight
          val cw = w / 2
          val ch = h / 2
          val luma = PngCodec.lumaSumMilliRegion(img, w - cw, w, 0, ch)
          (id, w, h, cw, ch, luma)
        }
      }
      .toDF("doc_id", "width", "height", "crop_w", "crop_h",
        "luma_milli_aug")
  }
}

/** Pure-JVM PNG codec on `javax.imageio` — real encode/decode/resize,
  * no native or third-party libraries. */
object PngCodec {
  import java.awt.image.BufferedImage
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import javax.imageio.ImageIO

  // no temp-file cache: executor threads encode/decode concurrently
  ImageIO.setUseCache(false)

  /** Deterministic gray test pattern for `id` at w x h, as PNG bytes. */
  def render(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h) // bulk raster write, not per-pixel setRGB
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = ((id * 31 + x * 7 + y * 13) % 256).toInt
        px(y * w + x) = (g << 16) | (g << 8) | g
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    encode(img)
  }

  /** Deterministic SCENE STRIP for `id`: a vertical video strip of
    * 16-row frames whose gray pattern is constant per SCENE (runs of
    * `sceneLen` frames) plus in-frame texture that repeats EXACTLY
    * frame to frame — so consecutive same-scene frames are
    * pixel-identical and a scene boundary changes every pixel (the
    * +37 scene step is nonzero mod 256). Built for changed-pixel-count
    * cut detection: the metric every practical shot-boundary detector
    * starts from, and — unlike luma-delta sums — immune to modular
    * wrap cancellation (a +37 mod 256 shift leaves Σg nearly
    * unchanged because wraps subtract 256 at exactly the
    * compensating rate; measured before switching metrics). */
  def renderScenes(id: Long, w: Int, nFrames: Int, sceneLen: Int,
      frameRows: Int = 16): Array[Byte] = {
    val h = nFrames * frameRows
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val scene = (y / frameRows) / sceneLen
      var x = 0
      while (x < w) {
        val g = ((id * 31 + x * 7 + scene * 37 + (y % frameRows)) % 256).toInt
        px(y * w + x) = (g << 16) | (g << 8) | g
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    encode(img)
  }

  /** Count of pixels that CHANGED between two frame-rows windows of
    * the same decoded strip (the scene-cut metric). */
  def changedPixels(img: BufferedImage, f0Top: Int, f1Top: Int,
      rows: Int): Long = {
    val w = img.getWidth
    var changed = 0L
    var dy = 0
    while (dy < rows) {
      var x = 0
      while (x < w) {
        if (img.getRGB(x, f0Top + dy) != img.getRGB(x, f1Top + dy))
          changed += 1
        x += 1
      }
      dy += 1
    }
    changed
  }

  def encode(img: BufferedImage): Array[Byte] = {
    val baos = new ByteArrayOutputStream(1024)
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  def decode(data: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(data))
    require(img != null, s"graft media: undecodable payload (${data.length} bytes)")
    img
  }

  /** Exact integer luminance sum: Σ(299R + 587G + 114B) — Rec.601
    * scaled x1000 so it stays in integers (for gray pixels this is
    * 1000·g exactly). Fast path reads the interleaved BGR raster
    * directly; `getRGB` routes every pixel through the ColorModel
    * (measured ~10x slower on ImageIO's TYPE_3BYTE_BGR output). */
  def lumaSumMilli(img: BufferedImage): Long =
    lumaSumMilliRows(img, 0, img.getHeight)

  /** [[lumaSumMilli]] over an arbitrary pixel region
    * [x0, x1) × [y0, y1) — the augmentation crop path. getRGB routes
    * through the ColorModel, which for the 8-bit sRGB types here is
    * the identity on channel bytes (the same invariant
    * [[lumaSumMilliRows]]' slow path relies on). */
  def lumaSumMilliRegion(img: BufferedImage, x0: Int, x1: Int,
      y0: Int, y1: Int): Long = {
    val rw = x1 - x0
    if (rw <= 0 || y1 <= y0) return 0L
    val px = img.getRGB(x0, y0, rw, y1 - y0, null, 0, rw)
    var sum = 0L
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
        114L * (rgb & 0xff)
      i += 1
    }
    sum
  }

  /** [[lumaSumMilli]] over pixel rows [y0, y1) — frame sampling sums
    * band ranges without allocating subimages (whose translated child
    * rasters the fast path must not index as origin-0). */
  def lumaSumMilliRows(img: BufferedImage, y0: Int, y1: Int): Long = {
    val w = img.getWidth
    val raster = img.getRaster
    (raster.getDataBuffer, raster.getSampleModel) match {
      case (b: java.awt.image.DataBufferByte,
            sm: java.awt.image.PixelInterleavedSampleModel)
          if img.getType == BufferedImage.TYPE_3BYTE_BGR &&
            sm.getPixelStride == 3 && b.getOffset == 0 &&
            raster.getSampleModelTranslateX == 0 &&
            raster.getSampleModelTranslateY == 0 =>
        val d = b.getData
        val stride = sm.getScanlineStride
        var sum = 0L
        var y = y0
        while (y < y1) {
          var i = y * stride
          val end = i + w * 3
          while (i < end) {
            sum += 114L * (d(i) & 0xff) + 587L * (d(i + 1) & 0xff) +
              299L * (d(i + 2) & 0xff)
            i += 3
          }
          y += 1
        }
        sum
      case (b: java.awt.image.DataBufferInt,
            sm: java.awt.image.SinglePixelPackedSampleModel)
          if img.getType == BufferedImage.TYPE_INT_RGB && b.getOffset == 0 &&
            raster.getSampleModelTranslateX == 0 &&
            raster.getSampleModelTranslateY == 0 =>
        val d = b.getData
        val stride = sm.getScanlineStride
        var sum = 0L
        var y = y0
        while (y < y1) {
          var i = y * stride
          val end = i + w
          while (i < end) {
            val rgb = d(i)
            sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)
            i += 1
          }
          y += 1
        }
        sum
      case _ =>
        val px = img.getRGB(0, y0, w, y1 - y0, null, 0, w)
        var sum = 0L
        var i = 0
        while (i < px.length) {
          val rgb = px(i)
          sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
            114L * (rgb & 0xff)
          i += 1
        }
        sum
    }
  }

  /** Rec.601 mean luminance over the decoded pixels, 2dp. */
  def meanLuma(img: BufferedImage): Double =
    math.rint(lumaSumMilli(img) /
      (10.0 * img.getWidth * img.getHeight)) / 100

  /** Deterministic SMOOTH test image for `id` at w x h: a band-limited
    * cosine mixture — one seeded amplitude per (j,k) in the 8x8 lowest
    * spatial frequencies, 1/(1+j+k) spectral decay — so EVERY
    * coefficient the 8x8 pHash block reads carries genuine signal
    * whose sign survives rescaling. A sparse field (e.g. a low-order
    * polynomial: ~6 live coefficients) leaves the other ~58 block
    * coefficients at numerical noise, and their median bits flip
    * arbitrarily between scales — measured intra-group Hamming ~13/64
    * there vs ~0 here. [[render]]'s sawtooth is worse still (aliases
    * under rescaling). The natural-photo stand-in, by construction. */
  def renderSmooth(id: Long, w: Int, h: Int): BufferedImage = {
    // seeded amplitudes a(j,k) in [-1,1] via SplitMix64 on (id, j, k)
    val a = Array.tabulate(8, 8) { (j, k) =>
      if (j == 0 && k == 0) 0.0
      else {
        var z = id * 0x9e3779b97f4a7c15L + (j * 8 + k + 1) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^= z >>> 31
        ((z & 0xffffffffL).toDouble / 0xffffffffL.toDouble * 2.0 - 1.0) /
          (1.0 + j + k)
      }
    }
    val norm = 0.45 / a.map(_.map(math.abs).sum).sum
    val cu = Array.tabulate(8, w)((j, x) =>
      math.cos(math.Pi * j * (x + 0.5) / w))
    val cv = Array.tabulate(8, h)((k, y) =>
      math.cos(math.Pi * k * (y + 0.5) / h))
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    val b = new Array[Double](8)
    var y = 0
    while (y < h) {
      var j = 0
      while (j < 8) { // fold the k axis once per row: field is separable
        var s = 0.0
        var k = 0
        while (k < 8) { s += a(j)(k) * cv(k)(y); k += 1 }
        b(j) = s
        j += 1
      }
      var x = 0
      while (x < w) {
        var f = 0.5
        j = 0
        while (j < 8) { f += norm * b(j) * cu(j)(x); j += 1 }
        val g = math.max(0, math.min(255, (f * 255.0).toInt))
        px(y * w + x) = (g << 16) | (g << 8) | g
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  /** 64-bit DCT perceptual hash: box-average the luma plane to 32x32,
    * separable 2-D DCT-II, keep the 8x8 lowest-frequency block
    * (row-major, DC included), set bit i when coefficient i exceeds
    * the block median. Scale-invariant by construction — the 32x32
    * downsample erases resolution, the low block erases detail — and
    * fully deterministic double math on one JVM. */
  def phash64(img: BufferedImage): Long = {
    val n = 32
    val w = img.getWidth
    val h = img.getHeight
    // one luma pass through the interleaved raster when the decoded
    // layout allows (ImageIO yields TYPE_3BYTE_BGR for these PNGs —
    // getRGB would route every pixel through the ColorModel, measured
    // ~2x the whole hash); getRGB stays as the general fallback. Same
    // stride/translate guards as lumaSumMilliRows: a subimage's child
    // raster must NOT take this path (its scanline stride is the
    // parent's and its origin is translated — indexing it as origin-0
    // would silently hash the wrong pixels). Both branches evaluate
    // R*0.299 + G*0.587 + B*0.114 in the SAME operand order so the
    // two paths are bit-identical (FP addition is order-sensitive).
    val raster = img.getRaster
    val luma = new Array[Float](w * h)
    (raster.getDataBuffer, raster.getSampleModel) match {
      case (b: java.awt.image.DataBufferByte,
            sm: java.awt.image.PixelInterleavedSampleModel)
          if img.getType == BufferedImage.TYPE_3BYTE_BGR &&
            sm.getPixelStride == 3 && b.getOffset == 0 &&
            raster.getSampleModelTranslateX == 0 &&
            raster.getSampleModelTranslateY == 0 =>
        val d = b.getData
        val stride = sm.getScanlineStride
        var y = 0
        while (y < h) {
          var i = y * stride
          var j = y * w
          val end = j + w
          while (j < end) {
            luma(j) = (0.299 * (d(i + 2) & 0xff) + 0.587 * (d(i + 1) & 0xff) +
              0.114 * (d(i) & 0xff)).toFloat
            i += 3
            j += 1
          }
          y += 1
        }
      case _ =>
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        var j = 0
        while (j < w * h) {
          val p = rgb(j)
          luma(j) = (0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
            0.114 * (p & 0xff)).toFloat
          j += 1
        }
    }
    val lum = new Array[Double](n * n)
    var cy = 0
    while (cy < n) {
      val y0 = cy * h / n; val y1 = math.max(y0 + 1, (cy + 1) * h / n)
      var cx = 0
      while (cx < n) {
        val x0 = cx * w / n; val x1 = math.max(x0 + 1, (cx + 1) * w / n)
        var sum = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            sum += luma(y * w + x)
            x += 1
          }
          y += 1
        }
        lum(cy * n + cx) = sum / ((y1 - y0) * (x1 - x0))
        cx += 1
      }
      cy += 1
    }
    // separable DCT-II: rows then columns, only the first 8 output
    // frequencies of each pass are ever read
    val cos = Array.tabulate(8, n)((u, x) =>
      math.cos((2 * x + 1) * u * math.Pi / (2.0 * n)))
    val rowPass = new Array[Double](n * 8) // [y][u]
    var y = 0
    while (y < n) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < n) { s += lum(y * n + x) * cos(u)(x); x += 1 }
        rowPass(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    val block = new Array[Double](64) // [v][u]
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < n) { s += rowPass(yy * 8 + u) * cos(v)(yy); yy += 1 }
        block(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    val sorted = block.clone().sorted
    val median = (sorted(31) + sorted(32)) / 2.0
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (block(i) > median) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Bilinear scale by `scale` (≤1), min 1px per side. */
  def resize(img: BufferedImage, scale: Double): BufferedImage = {
    if (scale >= 1.0) return img
    val ow = math.max(1, (img.getWidth * scale).toInt)
    val oh = math.max(1, (img.getHeight * scale).toInt)
    val out = new BufferedImage(ow, oh, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, ow, oh, null)
    } finally g.dispose()
    out
  }
}
