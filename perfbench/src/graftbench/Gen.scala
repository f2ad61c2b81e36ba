package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generated event; `cents` is the exact payload value times 100. */
final case class Ev(event_id: Long, ts_ms: Long, user_id: Long,
    event_type: String, cents: Long, props: String)

/** Seeded input generators. Every value is a pure function of (seed,
  * index), so the inputs do not depend on how the work is split over
  * threads or tasks. */
object Gen {
  val BaseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val Partitions: Int = 8
  /** Zipf exponent of the user ids of every events topic. */
  val ZipfS: Double = 1.05
  val EventTypes: Array[String] = Array("view", "click", "purchase", "error", "signup")
  private val typeCdf = Array(0.55, 0.80, 0.90, 0.95, 1.0)
  val Segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1) for field `f` of item `i` under `seed`. */
  def u(seed: Long, i: Long, f: Int): Double =
    (mix(mix(seed * 1000003L + f) ^ i) >>> 11) * (1.0 / (1L << 53))
  def gauss(seed: Long, i: Long, f: Int): Double = {
    val a = math.max(u(seed, i, f), 1e-12)
    math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * u(seed, i, f + 1))
  }

  /** Zipf(s) over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def rank(x: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, x)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- events topic and customer dimension ----

  final case class EventSpec(users: Int, zipfS: Double) {
    @transient lazy val zipf = new Zipf(users, zipfS)
    /** Rank r maps to a user id by a fixed bijection, so hot users are
      * spread over the id space (and over partitions). */
    def userOf(rank: Int): Long = (rank.toLong * 7919L + 13L) % users
  }

  def event(seed: Long, spec: EventSpec, zipf: Zipf, i: Long, tsMs: Long): Ev = {
    val t = u(seed, i, 2)
    Ev(event_id = i, ts_ms = tsMs,
      user_id = spec.userOf(zipf.rank(u(seed, i, 1))),
      event_type = EventTypes(typeCdf.indexWhere(t < _)),
      cents = 1L + (u(seed, i, 3) * 20000).toLong,
      props = s"""{"k": ${(u(seed, i, 5) * 100).toInt}}""")
  }

  /** Batch-topic event time: 20 ms apart with jitter, so the topic spans
    * hours and time filters select real slices. */
  def batchTs(seed: Long, i: Long): Long = BaseMs + i * 20L + (u(seed, i, 4) * 20).toLong

  /** `n` events with Kafka-model partition (user_id mod 8) and offsets in
    * event-id order within each partition. */
  def eventsFrame(spark: SparkSession, seed: Long, spec: EventSpec, n: Long): DataFrame = {
    import spark.implicits._
    val zipf = spec.zipf
    val evs = spark.range(0, n, 1, 8).map(i => event(seed, spec, zipf, i, batchTs(seed, i)))
    evs.withColumn("partition", pmod(col("user_id"), lit(Partitions)).cast("int"))
      .withColumn("offset", (row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("partition"))
          .orderBy(col("event_id"))) - 1).cast("long"))
      .withColumn("value", col("cents") / 100.0)
  }

  /** Message-log (spark-sql-kafka layout) view of an events frame, the
    * payload Avro-encoded through graft's `avro.to_avro`. */
  def asLog(ev: DataFrame): DataFrame =
    ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      graft.sources.avro.to_avro(
        struct(col("event_id"), col("ts_ms"), col("user_id"), col("event_type"),
          col("value"), col("props")).cast(graft.sources.MessageLog.eventPayloadType),
        "Event").as("value"),
      lit("events").as("topic"),
      col("partition"), col("offset"),
      timestamp_millis(col("ts_ms")).as("timestamp"),
      lit(0).as("timestampType"))

  def customers(spark: SparkSession, seed: Long, users: Int): DataFrame = {
    val rows = (0 until users).map { c =>
      Row(c.toLong, f"Customer#$c%09d", (u(seed, c, 21) * 25).toInt,
        math.round(u(seed, c, 22) * 1000000) / 100.0,
        Segments((u(seed, c, 23) * Segments.length).toInt))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
  }

  // ---- curation corpus ----

  private val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da",
    "fu", "go", "hi", "ja", "ze", "bo")
  def word(i: Int): String = {
    val b = new StringBuilder
    var x = i + 16
    while (x > 0) { b.append(syl(x % 16)); x /= 16 }
    b.toString
  }

  final case class Corpus(docs: Seq[Row], embeddings: Seq[Row], injectedPairs: Set[(Long, Long)])

  /** `nDocs` documents of 50-90 words, a `dupShare` of which copy an
    * earlier original with one word replaced (word 3-shingle Jaccard
    * >= 0.88), plus `nVecs` 64-d embeddings around `clusters` centres. */
  def corpus(seed: Long, nDocs: Int, dupShare: Double, nVecs: Int, clusters: Int,
      dim: Int = 64): Corpus = {
    val vocab = 4000
    val zipf = new Zipf(vocab, 0.8)
    val isDup = Array.tabulate(nDocs)(j => j >= 10 && u(seed, j, 31) < dupShare)
    val texts = new Array[Array[String]](nDocs)
    val pairs = Set.newBuilder[(Long, Long)]
    for (j <- 0 until nDocs) {
      val src = if (!isDup(j)) -1 else {
        val k0 = (u(seed, j, 32) * 9).toInt
        (0 until 20).map(k => j - 1 - (k0 + k) % 20).find(s => s >= 0 && !isDup(s)).getOrElse(-1)
      }
      texts(j) =
        if (src < 0) {
          isDup(j) = false
          val len = 50 + (u(seed, j, 33) * 40).toInt
          Array.tabulate(len)(w => word(zipf.rank(u(seed, j * 1000L + w, 34))))
        } else {
          pairs += ((src.toLong, j.toLong))
          val t = texts(src).clone()
          val pos = (u(seed, j, 35) * t.length).toInt
          t(pos) = word(vocab + (u(seed, j, 36) * 1000).toInt) // a word no original uses
          t
        }
    }
    val docs = (0 until nDocs).map { j =>
      val text = texts(j).mkString(" ")
      Row(j.toLong, text, if (u(seed, j, 37) < 0.8) "en" else "de",
        s"src${(u(seed, j, 38) * 8).toInt}", text.length.toLong)
    }
    val centres = Array.tabulate(clusters, dim)((c, d) => gauss(seed, c * 1000L + d, 41))
    val vecs = (0 until nVecs).map { v =>
      val c = (u(seed, v, 43) * clusters).toInt
      val e = Array.tabulate(dim)(d => (centres(c)(d) + 0.35 * gauss(seed, v * 1000L + d, 44)).toFloat)
      Row(v.toLong, e.toSeq, c)
    }
    Corpus(docs, vecs, pairs.result())
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))
}
