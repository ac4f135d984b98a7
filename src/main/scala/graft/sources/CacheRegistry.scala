package graft.sources

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, GraftBridge, SparkSession}

/** The engine's one cache: values a query key builds once per session
  * and every later key reads — the reference's `materialized='table'`
  * model (`README.md:256-262, 350`) held for the life of a session.
  * Frames (eager `localCheckpoint`s) and driver-side values (centroids,
  * merge tables, span lengths, materialized star paths) share it.
  *
  *  - An entry lives in one of two scopes. A session entry is keyed by
  *    (session UUID, dir, tag): the UUID string, not the session object,
  *    so a key never pins a stopped session. A JVM entry is keyed by
  *    (path, tag) and is shared by every session; it holds only a
  *    plain value derived from the files and the conf named in its tag
  *    (a parquet schema), never a frame, which is bound to the session
  *    that built it.
  *  - Each entry records the [[Tables.fingerprint]] of the files it was
  *    built from. A lookup whose fingerprint differs rebuilds the value
  *    and releases the superseded checkpoint, so a rewrite of the corpus
  *    on any Hadoop filesystem invalidates without an explicit clear.
  *  - Each (key, fingerprint) builds exactly once: concurrent callers
  *    wait for the one build. A build that throws is not cached; its
  *    waiters see the error and the next call builds again.
  *  - No lock is held across a build, so a build may look up other keys
  *    (`components` → `ngramJaccard` → `shingles` → `documents`).
  */
object CacheRegistry {

  private final case class Key(scope: String, dir: String, tag: String)

  /** The scope of the entries every session shares; no session UUID
    * equals it. */
  private val Jvm = "jvm"

  private final class Entry(val fingerprint: String) {
    val value = new CompletableFuture[Any]
  }

  private val entries = new ConcurrentHashMap[Key, Entry]
  private val buildCounts = new ConcurrentHashMap[Key, AtomicLong]

  /** The value for `tag` over `tables` of `dir` in this session, built by
    * `build` when absent or when those tables changed since it was
    * built. */
  def getOrBuild[T](spark: SparkSession, dir: String, tag: String,
      tables: String*)(build: => T): T =
    lookup(Key(GraftBridge.sessionUUID(spark), dir, tag),
      Tables.fingerprint(spark, dir, tables: _*), () => build)

  /** The JVM-wide value for `tag` over the files at `path`, built by
    * `build` when absent or when those files changed since it was
    * built. `build` must return a plain value that depends only on
    * those files and on what `tag` names, never a frame. */
  private[graft] def getOrBuildForJvm[T](spark: SparkSession, path: String,
      tag: String)(build: => T): T =
    lookup(Key(Jvm, path, tag), Tables.pathFingerprint(spark, path), () => build)

  @annotation.tailrec
  private def lookup[T](key: Key, fingerprint: String, build: () => T): T = {
    val cur = entries.get(key)
    if (cur != null && cur.fingerprint == fingerprint) {
      try cur.value.get().asInstanceOf[T]
      catch { case e: ExecutionException => throw e.getCause }
    } else {
      val mine = new Entry(fingerprint)
      val claimed =
        if (cur == null) entries.putIfAbsent(key, mine) == null
        else entries.replace(key, cur, mine)
      if (!claimed) lookup(key, fingerprint, build)
      else {
        if (cur != null) cur.value.thenAccept(v => release(v))
        buildCounts.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
        try {
          val v = build()
          mine.value.complete(v)
          v
        } catch {
          case e: Throwable =>
            entries.remove(key, mine)
            mine.value.completeExceptionally(e)
            throw e
        }
      }
    }
  }

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => GraftBridge.releaseLocalCheckpoint(ds.toDF())
    case _ => ()
  }

  /** Drop every entry and release its pinned checkpoint. */
  def clear(): Unit =
    entries.keySet.forEach { k =>
      val e = entries.remove(k)
      if (e != null) e.value.thenAccept(v => release(v))
    }

  /** Builds run so far per tag over `dir` (or over the path of a JVM
    * entry), summed across sessions. */
  private[graft] def builds(dir: String): Map[String, Long] = {
    val counts = Seq.newBuilder[(String, Long)]
    buildCounts.forEach((k, n) => if (k.dir == dir) counts += k.tag -> n.get)
    counts.result().groupMapReduce(_._1)(_._2)(_ + _)
  }
}
