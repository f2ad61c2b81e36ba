package graft

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.streaming.{LocalCheckpointFileManager, Streaming}
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, OffsetSeq, OffsetSeqLog}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset

/** The session's checkpoint file manager: Hadoop's atomic-publish contract
  * over java.nio, and micro-batch commits that start no OS process. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def tmpDir(prefix: String): NioPath = Files.createTempDirectory(prefix)
  private def hpath(p: NioPath): Path = new Path(p.toUri)
  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(hpath(dir), spark.sessionState.newHadoopConf())
  private def write(fm: LocalCheckpointFileManager, p: NioPath, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(p: NioPath): String = new String(Files.readAllBytes(p), UTF_8)
  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("the session resolves Spark's checkpoint file manager to the local java.nio one") {
    val dir = tmpDir("graft_cfm_session")
    val fm = CheckpointFileManager.create(hpath(dir), spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") === "true")
  }

  test("no-overwrite publish onto an existing file fails on close and keeps the old bytes") {
    val dir = tmpDir("graft_cfm_noover")
    val fm = manager(dir)
    val f = dir.resolve("0")
    write(fm, f, "first", overwrite = false)
    val out = fm.createAtomic(hpath(f), overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(f) === "first")
    assert(names(dir) === Set("0"), "the temp file must not outlive a failed publish")
  }

  test("overwrite replaces the file; cancel leaves neither target nor temp file") {
    val dir = tmpDir("graft_cfm_over")
    val fm = manager(dir)
    val f = dir.resolve("state.changelog")
    write(fm, f, "v1", overwrite = true)
    write(fm, f, "v2", overwrite = true)
    assert(read(f) === "v2")
    val g = dir.resolve("1.zip")
    val out = fm.createAtomic(hpath(g), overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a cancelled stream publishes nothing on a later close
    assert(names(dir) === Set("state.changelog"))
  }

  test("list and exists on a missing directory read empty and false; mkdirs and delete") {
    val dir = tmpDir("graft_cfm_missing")
    val fm = manager(dir)
    val missing = hpath(dir.resolve("no/such/dir"))
    assert(fm.list(missing).isEmpty)
    assert(!fm.exists(missing))
    fm.mkdirs(missing)
    assert(fm.exists(missing))
    write(fm, dir.resolve("no/such/dir/7"), "x", overwrite = false)
    assert(fm.list(missing).map(_.getPath.getName).toSeq === Seq("7"))
    fm.delete(hpath(dir.resolve("no")))
    fm.delete(hpath(dir.resolve("no"))) // deleting what is gone is a no-op
    assert(!fm.exists(missing))
  }

  test("a path whose scheme is not file is rejected, naming the path") {
    val e = intercept[IllegalArgumentException](new LocalCheckpointFileManager(
      new Path("hdfs://namenode:8020/ckpt/q1"), spark.sessionState.newHadoopConf()))
    assert(e.getMessage.contains("hdfs://namenode:8020/ckpt/q1"))
  }

  test("two writers of one offsets file surface Spark's concurrent-writer error") {
    val dir = tmpDir("graft_cfm_offsets").resolve("offsets").toString
    val inWrite = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    // the first writer stalls inside its write, after its existence check,
    // while a second query's log commits the same batch
    val first = new OffsetSeqLog(spark, dir) {
      override def serialize(m: OffsetSeq, out: OutputStream): Unit = {
        inWrite.countDown()
        release.await()
        super.serialize(m, out)
      }
    }
    val second = new OffsetSeqLog(spark, dir)
    val pending = Future(first.add(0L, OffsetSeq.fill(LongOffset(1L))))(ExecutionContext.global)
    inWrite.await()
    assert(second.add(0L, OffsetSeq.fill(LongOffset(2L))))
    release.countDown()
    // Spark's error type is private to Spark, so match it by name
    val e = intercept[Exception](Await.result(pending, 60.seconds))
    assert(e.getClass.getName === "org.apache.spark.SparkConcurrentModificationException")
    assert(e.getMessage.contains("Multiple streaming queries are concurrently using"))
    assert(e.getCause.isInstanceOf[FileAlreadyExistsException])
    assert(new OffsetSeqLog(spark, dir).get(0L).map(_.offsets) ===
      Some(Seq(Some(LongOffset(2L)))))
    assert(Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSet === Set("0"))
  }

  /** Run a 3-micro-batch `runningCents` stream into a memory sink with a
    * file checkpoint, recording JFR `jdk.ProcessStart` events over
    * micro-batches 2 and 3. Returns the processes whose stack passes
    * through a checkpoint file manager or `RocksDB.commit`, and the
    * checkpoint directory. */
  private def checkpointForks(tag: String): (Int, NioPath) = {
    import spark.implicits._
    val src = tmpDir(s"graft_forks_src_$tag")
    val ckpt = tmpDir(s"graft_forks_ckpt_$tag")
    def batch(n: Int): Unit =
      (0 until 40).map(i => ((i % 7).toLong, n + i / 100.0)).toDF("user_id", "value")
        .coalesce(1).write.parquet(s"$src/b$n")
    batch(0)
    val q = Streaming.runningCents(spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*"))
      .writeStream.outputMode("update").format("memory").queryName(s"forks_$tag")
      .option("checkpointLocation", ckpt.toString).start()
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile(s"graft_forks_$tag", ".jfr")
    try {
      q.processAllAvailable()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      batch(1); q.processAllAvailable()
      batch(2); q.processAllAvailable()
      rec.stop()
      rec.dump(dump)
      assert(q.lastProgress.batchId === 2L)
    } finally {
      q.stop()
      rec.close()
    }
    val events = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
    Files.delete(dump)
    val fromCommits = events.count { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists { f =>
        val cls = f.getMethod.getType.getName
        cls.contains("CheckpointFileManager") ||
          (cls.endsWith(".RocksDB") && f.getMethod.getName.contains("commit"))
      })
    }
    info(s"$tag: ${events.size} processes started in micro-batches 2-3, " +
      s"$fromCommits from checkpoint commits")
    (fromCommits, ckpt)
  }

  test("micro-batch commits after the first start no process; checksum files are kept") {
    val (first, ckpt) = checkpointForks("a")
    val (second, _) = checkpointForks("b")
    assert(first === 0 && second === 0,
      s"checkpoint commits started $first and $second processes")
    // the stock managers fork here without libhadoop: the same detector
    // sees them, so a zero above is not a detector that cannot fire
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) {
      val keys = Seq("spark.sql.streaming.checkpointFileManagerClass",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      val saved = keys.map(k => k -> spark.conf.get(k))
      spark.conf.set(keys(0), "org.apache.spark.sql.execution.streaming." +
        "checkpointing.FileContextBasedCheckpointFileManager")
      spark.conf.set(keys(1), "false")
      try assert(checkpointForks("stock")._1 > 0)
      finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    // Spark's checksum files (fileChecksum.enabled, left at its default)
    // still sit beside the state store's changelog files
    val stateFiles = Files.walk(ckpt.resolve("state")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => hpath(p)).toSeq
    val changelogs = stateFiles.filter(_.getName.endsWith(".changelog"))
    assert(changelogs.nonEmpty, s"no changelog files in ${stateFiles.mkString(", ")}")
    val present = stateFiles.map(_.toString).toSet
    changelogs.foreach(c =>
      assert(present.contains(s"$c.crc"), s"no checksum file beside $c"))
  }
}
