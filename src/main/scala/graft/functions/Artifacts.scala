package graft.functions

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one session-scoped artifact cache: everything graft builds once
  * and reads many times — persisted intermediate frames (the dedup
  * pairs, the chunk weights), the held IVF index rows, PQ codes, the
  * stream fit, the BPE merges, calibrations, and the table readers.
  *
  *  - Key: (session, name, [[Scratch.canonicalDir]] of the dir), so
  *    `sf`, `sf/` and `./x/../sf` share one entry. A name carries any
  *    build parameters (geometry, model, mode) itself.
  *  - Staleness: each entry holds the (bytes, newest mtime) stamp of
  *    its dir, from one walk per lookup. A derived artifact names the
  *    corpus dir, so rewriting any of its tables supersedes it; a table
  *    reader names the table path itself. A lookup drops every entry of
  *    the same (session, dir) under another stamp and releases its
  *    data. A failed stat matches no stamp, so nothing is ever served
  *    across it.
  *  - Build: at most once per entry, outside the global lock (see
  *    [[Entry]]); a failed build leaves no entry and is never replayed
  *    by a waiter.
  *  - Release: resident data (a persisted frame, held rows) is released
  *    when its entry leaves the map — `clear()`, the LRU trim at
  *    [[MaxPerSession]], a superseded stamp — or, if it left while
  *    still building, as soon as its build completes. A stopped
  *    session's entries are dropped without a release: its blocks went
  *    with its context. A listener drops them at context stop, so the
  *    last session of a JVM is not pinned until exit.
  *
  * Locking: the global lock covers only map bookkeeping, never a build,
  * so a hit or a build of a different key never queues behind an
  * in-flight build (some builds run eager Spark jobs — Dedup.components
  * runs its whole label-propagation loop inside one). Two callers of
  * the same key serialize, which is the point of the cache.
  */
object Artifacts {
  /** Per-live-session entry bound, over every kind of entry; the least
    * recently used built entries are dropped once a session exceeds it. */
  val MaxPerSession = 64

  /** (total bytes, newest mtime) of a dir; (-1, -1) when the stat fails. */
  type Stamp = (Long, Long)

  private final case class Key(s: SparkSession, name: String, dir: String)

  /** One cache slot. `run` executes a build at most once, under this
    * entry's monitor only, and records the outcome — success or
    * failure. A plain lazy val retries a failed init with the original
    * caller's thunk, so a waiter would replay a throwing build after
    * the entry was removed; here the Boolean reports whether THIS call
    * built, so the builder rethrows its own failure and a waiter
    * re-enters the lookup with its own thunk instead (ADVICE r10). */
  private final class Entry(val stamp: Stamp, val release: Any => Unit) {
    /** The built value while the entry is in the map: what a drop
      * releases. Guarded by the Artifacts lock. */
    var resident: Option[Any] = None
    private var result: Option[Try[Any]] = None
    def run(build: () => Any): (Try[Any], Boolean) = synchronized {
      result match {
        case Some(r) => (r, false)
        case None =>
          val r = Try(build())
          result = Some(r)
          (r, true)
      }
    }
  }

  // access order: iteration runs least recently used first
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private val hooked = scala.collection.mutable.Set.empty[SparkContext]

  /** A value built once per (session, name, dir stamp). */
  def get[T](s: SparkSession, name: String, dir: String)(build: => T): T =
    lookup[T](s, name, dir, _ => ())(build)._1

  /** A value holding resident data, which `release` frees when the
    * entry leaves the cache. */
  def held[T](s: SparkSession, name: String, dir: String, release: T => Unit)(build: => T): T =
    lookup(s, name, dir, release)(build)._1

  /** A frame persisted MEMORY_AND_DISK once per (session, name, dir
    * stamp), unpersisted when the entry leaves the cache. */
  def frame(s: SparkSession, name: String, dir: String)(build: => DataFrame): DataFrame =
    held[DataFrame](s, name, dir, _.unpersist())(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** [[held]], plus the stamp the entry was looked up under. */
  @annotation.tailrec
  private[graft] def lookup[T](s: SparkSession, name: String, dir: String,
      release: T => Unit)(build: => T): (T, Stamp) = {
    val k = Key(s, name, Scratch.canonicalDir(dir))
    val stamp = stampOf(k.dir)
    val (e, freed) = synchronized {
      hook(s.sparkContext)
      entries.keySet.asScala.filter(_.s.sparkContext.isStopped).toSeq.foreach(entries.remove)
      val stale = entries.asScala.collect {
        case (k2, e2) if (k2.s eq s) && k2.dir == k.dir && !(e2.stamp == stamp && stamp._1 >= 0) => k2
      }.toSeq
      val freed = stale.flatMap(drop)
      val e = Option(entries.get(k)).getOrElse {
        val n = new Entry(stamp, release.asInstanceOf[Any => Unit])
        entries.put(k, n)
        n
      }
      val mine = entries.asScala.toSeq.filter(_._1.s eq s)
      // never trim this key or an in-flight build
      val trimmed = mine.collect { case (k2, e2) if k2 != k && e2.resident.isDefined => k2 }
        .take(mine.size - MaxPerSession).flatMap(drop)
      (e, freed ++ trimmed)
    }
    freed.foreach(_())
    e.run(() => build) match {
      case (Success(v), builder) =>
        if (builder) {
          val kept = synchronized {
            val in = entries.get(k) eq e
            if (in) e.resident = Some(v)
            in
          }
          // dropped while building: nothing else will ever release it
          if (!kept) free(s, e, v)
        }
        (v.asInstanceOf[T], stamp)
      case (Failure(t), builder) =>
        synchronized { if (entries.get(k) eq e) entries.remove(k) }
        if (builder) throw t
        else lookup(s, name, dir, release)(build)
    }
  }

  /** Remove an entry (under the lock); the release to run once the
    * lock is left, if it holds built data. */
  private def drop(k: Key): Option[() => Unit] =
    Option(entries.remove(k)).flatMap(e => e.resident.map(v => () => free(k.s, e, v)))

  private def free(s: SparkSession, e: Entry, v: Any): Unit =
    if (!s.sparkContext.isStopped) try e.release(v) catch { case NonFatal(_) => () }

  /** One listener per context drops its sessions' entries at stop. A
    * stopped context is skipped (its listener bus is dead; the sweep in
    * [[lookup]] covers it). Called under the lock. */
  private def hook(sc: SparkContext): Unit =
    if (!sc.isStopped && !hooked(sc)) {
      try {
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
            Artifacts.synchronized {
              entries.keySet.asScala.filter(_.s.sparkContext eq sc).toSeq.foreach(entries.remove)
              hooked -= sc
            }
        })
        hooked += sc
      } catch { case _: IllegalStateException => () }
    }

  /** One walk, both staleness signals (ADVICE r17): total bytes AND the
    * newest mtime over every file under the dir — the top-level dir's
    * own mtime misses an in-place same-size rewrite of a nested part
    * file. (-1, -1) when the stat fails. */
  private def stampOf(dir: String): Stamp =
    try {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) (-1L, -1L)
      else {
        var bytes = 0L
        var mtime = java.nio.file.Files.getLastModifiedTime(p).toMillis
        val walk = java.nio.file.Files.walk(p)
        try walk.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f)) {
            bytes += java.nio.file.Files.size(f)
            val m = java.nio.file.Files.getLastModifiedTime(f).toMillis
            if (m > mtime) mtime = m
          }
        } finally walk.close()
        (bytes, mtime)
      }
    } catch { case NonFatal(_) => (-1L, -1L) }

  /** Entries held for a session. */
  def size(s: SparkSession): Int = synchronized(entries.keySet.asScala.count(_.s eq s))

  private[graft] def contains(s: SparkSession, name: String, dir: String): Boolean =
    synchronized(entries.containsKey(Key(s, name, Scratch.canonicalDir(dir))))

  /** Drop every entry and release its data. */
  def clear(): Unit = {
    val freed = synchronized {
      val all = entries.keySet.asScala.toSeq
      all.flatMap(drop)
    }
    freed.foreach(_())
  }
}
