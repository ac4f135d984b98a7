package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}
import graft.plans.{Bucketed, Star}
import graft.sources.{CacheRegistry, Tables}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The [[CacheRegistry]] contract: every cache family retrains when a
  * table it was built from is rewritten (nested partition directories,
  * opened through a `file://` URI), concurrent callers share one build,
  * and a failed build is retried. */
class CacheRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private val corpora = scala.collection.mutable.Buffer.empty[String]

  // the bucketed family overwrites the session's global `*_bkt` tables
  // from a temp corpus; clearing makes later suites re-materialize
  override def afterAll(): Unit = {
    CacheRegistry.clear()
    corpora.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(new java.net.URI(d))))
  }

  /** Writes one fixture table into `dir` as a single file under a nested
    * `part=0/` directory; calling it again rewrites the table. */
  private def copy(dir: String, table: String): Unit =
    spark.read.parquet(s"${TestSpark.Sf}/$table.parquet").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet/part=0")

  /** A fresh corpus of `tables`, addressed by its `file://` URI. */
  private def corpus(tables: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-registry").toUri.toString
      .stripSuffix("/")
    assert(dir.startsWith("file:/"))
    corpora += dir
    tables.foreach(copy(dir, _))
    dir
  }

  private val docs = Seq("documents")
  private val star = Seq("lineitem", "orders", "customer", "supplier", "part")

  /** (family tag, tables copied, table rewritten, accessor). */
  private val families: Seq[(String, Seq[String], String, String => Any)] = Seq(
    ("documents", docs, "documents", d => Tables.documents(spark, d)),
    ("tokens", docs, "documents", d => TextAnalysis.bm25TopK(spark, d)),
    ("bpe:12", docs, "documents", d => TextAnalysis.bpeTokenize(spark, d)),
    ("shingles", docs, "documents", d => Dedup.ngramJaccard(spark, d)),
    ("cosineBands", Seq("embeddings"), "embeddings", d => Dedup.cosineLsh(spark, d)),
    ("canonical:exact", docs, "documents", d => Dedup.canonicalMap(spark, d)),
    ("spanLen:true", docs, "documents", d => Dedup.substringSpansHashed(spark, d)),
    ("spanGram:true:true", docs, "documents", d => Dedup.substringSpansHashed(spark, d)),
    ("stat:regime", Seq("embeddings"), "embeddings",
      d => Similarity.regimeSignalAt(spark, d)),
    ("components", docs, "documents", d => Curation.components(spark, d)),
    ("coPurchase", Seq("lineitem"), "lineitem", d => Curation.triangles(spark, d)),
    ("multiEdges", Seq("lineitem"), "lineitem", d => Curation.pageRank(spark, d)),
    ("star", star, "lineitem", d => Star.materializedPath(spark, d)),
    ("starPartitioned", star, "part", d => Star.partitionedPath(spark, d)),
    ("starIncremental", star, "customer", d => Star.incrementalPath(spark, d)),
    ("bucketed", Seq("lineitem", "orders"), "orders", d => Bucketed.ensure(spark, d)))

  families.foreach { case (family, tables, rewritten, access) =>
    test(s"$family retrains after a rewrite of $rewritten") {
      val dir = corpus(tables)
      access(dir)
      val first = CacheRegistry.builds(dir)
      assert(first.keys.exists(_.startsWith(family)), first)
      assert(first.values.forall(_ == 1L), first)
      access(dir)
      assert(CacheRegistry.builds(dir) == first, "a repeat call must hit")
      copy(dir, rewritten)
      access(dir)
      assert(CacheRegistry.builds(dir) == first.map { case (t, _) => t -> 2L })
    }
  }

  test("concurrent callers share one checkpoint build") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val built = new AtomicInteger
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val calls = (1 to threads).map(_ => pool.submit(() => {
        start.await()
        CacheRegistry.getOrBuild(spark, TestSpark.Sf, "spec:concurrent") {
          built.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          spark.range(1000).localCheckpoint(true)
        }
      }))
      start.countDown()
      val frames = calls.map(_.get(120, TimeUnit.SECONDS))
      assert(built.get == 1)
      assert(CacheRegistry.builds(TestSpark.Sf)("spec:concurrent") == 1L)
      assert(frames.forall(_ eq frames.head))
      assert((sc.getPersistentRDDs.keySet -- before).size == 1)
      assert(frames.head.count() == 1000L)
    } finally pool.shutdown()
  }

  test("a build that throws is not cached and is retried") {
    val attempts = new AtomicInteger
    def call(): Long =
      CacheRegistry.getOrBuild(spark, TestSpark.Sf, "spec:retry") {
        if (attempts.incrementAndGet() == 1)
          throw new IllegalStateException("first build fails")
        42L
      }
    intercept[IllegalStateException](call())
    assert(call() == 42L)
    assert(call() == 42L)
    assert(attempts.get == 2)
  }

  test("an unlistable dir throws instead of caching without invalidation") {
    intercept[java.io.FileNotFoundException](
      Tables.fingerprint(spark, "file:///nonexistent/graft", "documents"))
  }
}
