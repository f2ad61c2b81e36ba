package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's required/tuned configuration.
  *
  * - `nanosAsLong`: the events table carries true-nanosecond parquet
  *   timestamps, which Spark only reads as longs.
  * - AQE on: runtime coalescing + skew-join splitting at scale.
  * - shuffle partitions sized to cores (local); on a cluster this is
  *   expected to be overridden to ~2-3x total executor cores.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // One explicit state-store choice for every stateful query in the
      // session: the transformWithState (state API v2) path requires
      // RocksDB even in batch, and setting it here beats an operator
      // silently flipping the provider mid-session for later queries.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Checkpoint writes without forking: Hadoop's local file systems
      // start a `chmod`/`readlink` process per file without libhadoop
      // (see LocalCheckpointFileManager), and changelog checkpointing
      // makes each state commit one changelog file instead of a snapshot
      // upload.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.ui.enabled", "false")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
