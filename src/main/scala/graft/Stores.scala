package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The build-once stores and scratch dirs of a session.
  *
  * - [[memo]] builds a key's value once per live session and hands the
  *   same value to every later call: the signature, MV, IVF and
  *   graph-index stores, the media shelves and the star-schema schemas.
  *   Build once, reuse across a session's queries (EDBT 2020's
  *   incremental top-k in interactive sessions).
  * - [[tmpDir]] makes a fresh scratch dir that lives as long as the
  *   session, as each streaming query owns its checkpoint dir
  *   (Structured Streaming, SIGMOD 2018). Two corpora, or two calls of
  *   one key, never share a path.
  *
  * When the session's SparkContext stops, a listener registered on the
  * session's first use drops its entries and deletes its dirs through
  * java.nio, which starts no process.
  */
object Stores {

  /** One key's value. Concurrent first callers wait on the lazy val for
    * one build; a build that throws leaves it unset, so the next call
    * builds again. */
  private final class Slot(build: () => Any) { lazy val value: Any = build() }

  private final class Entries {
    val slots = TrieMap.empty[Any, Slot]
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  }

  private val sessions = TrieMap.empty[SparkSession, Entries]

  private def entries(s: SparkSession): Entries =
    sessions.getOrElse(s, {
      val fresh = new Entries
      sessions.putIfAbsent(s, fresh).getOrElse {
        s.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = stop(s)
        })
        fresh
      }
    })

  /** `build`'s value for `key`, built on the session's first call. A
    * key names its store and its inputs, e.g. `("sigstore", dir)`. */
  def memo[V](s: SparkSession, key: Any)(build: => V): V = {
    val slots = entries(s).slots
    slots.getOrElse(key, {
      val fresh = new Slot(() => build)
      slots.putIfAbsent(key, fresh).getOrElse(fresh)
    }).value.asInstanceOf[V]
  }

  /** A fresh empty dir `graft_<name>_<random>` under `java.io.tmpdir`,
    * deleted when the session stops. */
  def tmpDir(s: SparkSession, name: String): String = {
    val dir = Files.createTempDirectory(s"graft_${name}_")
    entries(s).dirs.add(dir)
    dir.toString
  }

  /** Drops the session's entries and deletes its dirs; the listener
    * calls this when the session's SparkContext stops. */
  private[graft] def stop(s: SparkSession): Unit =
    sessions.remove(s).foreach(_.dirs.forEach(d => deleteTree(d)))

  /** Deletes `root` and everything under it, children first. A dir
    * that is gone or unreadable is left as it is. */
  private def deleteTree(root: Path): Unit =
    try {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch { case _: IOException | _: UncheckedIOException => () }
}
