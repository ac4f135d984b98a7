package graft

import java.security.MessageDigest
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** Operators are re-entrant on one session: the iterative graph loops
  * (pagerank, k-core, LPA communities) plan their sub-gate rounds on a
  * session clone, so several callers can run them at once
  * beside unrelated keys, every key returns what a sequential run
  * returns, and the shared session's conf is never written. */
class ReentrancySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val keys = Seq("cur_pagerank", "cur_kcore", "cur_communities",
    "ev_rfm", "ssb_q1_1", "rel_ntile")

  /** Hash of the key's result rows, sorted, so it ignores row order. */
  private def digest(key: String): String = {
    val rows = SparkEntry.queries(key)(spark, TestSpark.Sf).collect()
      .map(_.toString).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  test("four threads running graph loops and unrelated keys match a sequential run") {
    val watched = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.legacy.parquet.nanosAsLong")
    val initial = watched.map(k => k -> spark.conf.get(k)).toSet
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    val running = new AtomicBoolean(true)
    val sampler = new Thread(() =>
      while (running.get()) {
        watched.foreach(k => seen.add(k -> spark.conf.get(k)))
        Thread.sleep(1)
      })
    val threads = 4
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    sampler.start()
    try {
      val sequential = keys.map(k => k -> digest(k)).toMap
      val calls = (0 until threads).map { t =>
        // each thread walks the keys from a different offset and direction
        val rotated = keys.drop(t) ++ keys.take(t)
        val order = if (t % 2 == 0) rotated else rotated.reverse
        pool.submit(() => {
          start.await()
          order.map(k => k -> scala.util.Try(digest(k)))
        })
      }
      start.countDown()
      val results = calls.flatMap(_.get(600, TimeUnit.SECONDS))
      val failed = results.collect { case (k, scala.util.Failure(e)) => s"$k: $e" }
      assert(failed.isEmpty, failed.mkString("\n"))
      results.foreach { case (k, h) =>
        assert(h.get == sequential(k), s"$k differs from the sequential run")
      }
    } finally {
      running.set(false)
      sampler.join()
      pool.shutdown()
    }
    watched.foreach(k => seen.add(k -> spark.conf.get(k)))
    assert(seen.asScala.toSet == initial,
      s"the shared session's conf changed during the run: $seen")
  }

  test("round sessions are reused until the caller's conf changes, and never write it") {
    val key = "spark.graft.fixpoint.replicas"
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val a = GraftBridge.roundSession(spark, 8)
    assert(GraftBridge.roundSession(spark, 8) eq a)
    assert(GraftBridge.roundSession(spark, 9) ne a)
    assert(a.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(a.conf.get("spark.sql.shuffle.partitions") == "8")
    spark.conf.set(key, "2")
    try {
      val b = GraftBridge.roundSession(spark, 8)
      assert(b ne a)
      assert(b.conf.get(key) == "2")
    } finally spark.conf.unset(key)
    assert(GraftBridge.roundSession(spark, 8) eq a)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
  }
}
