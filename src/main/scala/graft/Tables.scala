package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated star schema (see TESTDATA.md).
  *
  * Mirrors the reference's table-properties plumbing
  * (KafkaBackedTableProperties.java:30-88) in Spark terms: a table name
  * resolves to a scan with schema supplied by the file format; column
  * pruning and predicate pushdown are left to Catalyst.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // The star-schema files are immutable for a session's lifetime, but
  // every spark.read.parquet() call re-infers the schema (a driver-side
  // footer open per call — the suite makes ~1k load calls per bench
  // pass). The inferred StructType is memoized per session (a config
  // change in a new session re-infers) and passed via .schema(); the
  // DATA path is untouched (same scan, same pushdowns).
  // INVARIANT (documented per ADVICE r16): $sfDir/$name.parquet must
  // not be regenerated/swapped at the same path while a session that
  // has loaded it is alive — the memoized StructType would be applied
  // to the new file silently. Every harness in this repo (Bench,
  // Verify, probes) treats the testdata dirs as immutable, and
  // ScaleProbe replicas write to fresh dirs.
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = Stores.memo(spark, ("schema", path))(spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** The data generator has shipped `events.ts` two ways: a
    * nanosecond-precision parquet timestamp (surfaced as LONG nanos
    * under `spark.sql.legacy.parquet.nanosAsLong`) and a
    * microsecond-precision TIMESTAMP. Every operator downstream codes
    * against one contract — `ts` = long epoch nanos — so normalize
    * here, at the single load point, instead of branching in each
    * consumer. Metadata-only projection: no shuffle, pushdowns on the
    * other columns are unaffected.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df                           // already long nanos
      case _: TimestampType =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case TimestampNTZType =>
        // session tz is pinned UTC (GraftSession), so this cast reads
        // the naive wall-clock as UTC — the same convention DuckDB
        // applies to a naive parquet timestamp.
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"graft: events.ts has unsupported type $other — expected " +
          "LONG (nanos) or TIMESTAMP")
    }

  /** Register every table as a temp view so spark.sql(...) works too. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Table row count from parquet FOOTER metadata — a driver-side
    * file-metadata read, NEVER a Spark job. This is the job-free row
    * hint the AUTO-sizing paths take (`rowHint` in
    * [[graft.operators.Dedup]] / [[graft.operators.Similarity]]): a
    * production pipeline knows its corpus size from footer stats
    * before planning, it does not pay a count() scan to size a
    * banding shape. Footers are a few KB per file regardless of data
    * volume, so at 100 TB this reads megabytes, not terabytes. */
  def metadataRowCount(spark: SparkSession, sfDir: String,
      name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isFile) Array(fs.getFileStatus(root))
      else fs.listStatus(root)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    files.iterator.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
