package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.collection.mutable

/** The one registry of staged artifacts: every frame, model or catalog
  * write that graft builds once and reuses across keys.
  *
  * An entry is named by `(scope, name)` and built from one source `dir`.
  * The scope is the `SparkSession` for staged frames and models, and the
  * `SparkContext` for catalog writes, because catalog tables are shared
  * by every session of a context. Each `(scope, name)` holds ONE live
  * entry. It is rebuilt when asked for another dir, or when the dir's
  * parquet fingerprint (path, length and mtime of each parquet file
  * under it) has changed since the build. A value is released (its
  * staged frames unpersisted) in exactly three cases: its own dir
  * changed, its scope has stopped, or [[evictAll]] runs.
  *
  * Builds run outside the registry lock, exactly once per entry: a
  * concurrent caller of the same entry waits for the builder, and a
  * build may read other entries (nested builds). A build that throws
  * leaves no entry behind.
  *
  * A value holds only frames its own build staged (or frames derived
  * from them), never another entry's frames — so releasing one entry
  * never unpersists blocks another entry still serves.
  */
object Staged {
  private type Key = (AnyRef, String)

  private final class Entry(val dir: String, val fingerprint: Seq[(String, Long, Long)]) {
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var value: Any = null
    @volatile var failure: Throwable = null
  }

  private val live = mutable.HashMap.empty[Key, Entry]
  private val totals = mutable.TreeMap.empty[String, (Int, Double, Long)]

  /** The one temp root every stored artifact is written under (one
    * subdirectory per family), removed on JVM exit. */
  lazy val root: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-staged").toFile
    Persist.deleteOnExit(d)
    d.toString
  }

  /** The value of `(scope, name)` for `dir`: the live entry's, or a
    * fresh `build` when there is none or it is stale. */
  def get[T](scope: AnyRef, name: String, dir: String)(build: => T): T = {
    val key = (scope, name)
    val fp = fingerprint(dir)
    val (e, fresh, dropped) = synchronized {
      val stale = live.keys.filter(k => stopped(k._1)).toList ++
        live.get(key).filter(e => e.dir != dir || e.fingerprint != fp).map(_ => key)
      val dropped = stale.distinct.flatMap(live.remove)
      val hit = live.get(key)
      val e = hit.getOrElse(new Entry(dir, fp))
      live(key) = e
      (e, hit.isEmpty, dropped)
    }
    dropped.foreach(d => release(d.value))
    if (fresh) {
      val t0 = System.nanoTime()
      try e.value = build
      catch { case t: Throwable =>
        e.failure = t
        synchronized { if (live.get(key).exists(_ eq e)) live.remove(key) }
        throw t
      } finally e.done.countDown()
      record(name, 1, (System.nanoTime() - t0) / 1e9, 0L)
    } else {
      e.done.await()
      if (e.failure != null) throw e.failure
      record(name, 0, 0.0, 1L)
    }
    e.value.asInstanceOf[T]
  }

  /** Release every entry (the bench's pre-serving flush). */
  def evictAll(): Unit = {
    val all = synchronized { val v = live.values.toList; live.clear(); v }
    all.foreach(e => release(e.value))
  }

  /** Per artifact name, cumulative over the JVM: (builds, build seconds
    * including nested builds, hits). */
  def stats: Seq[(String, Int, Double, Long)] =
    synchronized(totals.toSeq.map { case (n, (b, s, h)) => (n, b, s, h) })

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => Persist.release(ds.toDF())
    case p: Product => p.productIterator.foreach(release)
    case xs: Iterable[_] => xs.foreach(release)
    case _ => ()
  }

  private def record(name: String, builds: Int, s: Double, hits: Long): Unit = synchronized {
    val (b, t, h) = totals.getOrElse(name, (0, 0.0, 0L))
    totals(name) = (b + builds, t + s, h + hits)
  }

  private def stopped(scope: AnyRef): Boolean = scope match {
    case s: SparkSession => s.sparkContext.isStopped
    case c: SparkContext => c.isStopped
    case _ => false
  }

  /** (path, length, mtime) of every parquet file under `dir`, sorted. */
  private def fingerprint(dir: String): Seq[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getPath.contains(".parquet"))
      .map(f => (f.getPath, f.length, f.lastModified)).sorted
  }
}
