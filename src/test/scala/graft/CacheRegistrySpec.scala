package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}
import graft.plans.{Bucketed, Star}
import graft.sources.{CacheRegistry, Tables}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The [[CacheRegistry]] contract: every cache family retrains when a
  * table it was built from is rewritten (nested partition directories,
  * opened through a `file://` URI), concurrent callers share one build,
  * and a failed build is retried. A table's schema is inferred once per
  * JVM for each file listing and schema conf, whatever the session, and
  * opening a table never writes the session's conf. */
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

  /** Schema builds so far for `table` of `dir`, over every conf. */
  private def schemaBuilds(dir: String, table: String): Long =
    CacheRegistry.builds(s"$dir/$table.parquet").values.sum

  test("a table rewritten with an added column opens with its new schema") {
    val dir = corpus(Seq("region"))
    assert(!Tables.region(spark, dir).columns.contains("r_extra"))
    Tables.region(spark, dir)
    assert(schemaBuilds(dir, "region") == 1L, "a repeat open must hit")
    spark.read.parquet(s"${TestSpark.Sf}/region.parquet")
      .withColumn("r_extra", lit(7L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/region.parquet/part=0")
    val reopened = Tables.region(spark, dir)
    assert(reopened.columns.contains("r_extra"))
    assert(reopened.select(col("r_extra")).collect().map(_.getLong(0)).toSet == Set(7L))
    assert(schemaBuilds(dir, "region") == 2L)
  }

  test("two sessions open one unchanged table with one schema build") {
    val dir = corpus(Seq("nation"))
    val (a, b) = (spark.newSession(), spark.newSession())
    val rows = Tables.nation(a, dir).count()
    assert(Tables.nation(b, dir).count() == rows)
    assert(schemaBuilds(dir, "nation") == 1L)
  }

  test("binaryAsString changes the opened type of an unannotated binary column") {
    // written without Spark's row metadata, which would pin the type
    val dir = corpus(Nil)
    val conf = spark.sparkContext.hadoopConfiguration
    val blob = MessageTypeParser.parseMessageType("message blob { required binary b; }")
    val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/blobs.parquet/part-0.parquet"), conf)).withType(blob).withConf(conf).build()
    try Seq("x", "y").foreach(v => out.write(new SimpleGroupFactory(blob).newGroup().append("b", v)))
    finally out.close()
    val key = SQLConf.PARQUET_BINARY_AS_STRING.key
    val prev = spark.conf.getOption(key)
    def typeOfB(asString: Boolean) = {
      spark.conf.set(key, asString.toString)
      Tables(spark, dir, "blobs").schema("b").dataType
    }
    try {
      assert(typeOfB(false) == BinaryType)
      assert(typeOfB(true) == StringType)
      assert(typeOfB(false) == BinaryType)
      assert(schemaBuilds(dir, "blobs") == 2L, "one build per conf value")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("events with TIMESTAMP(NANOS) ts open as µs timestamps and leave the conf alone") {
    val dir = corpus(Seq("lineitem"))
    val conf = spark.sparkContext.hadoopConfiguration
    val events = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet/part-0.parquet"), conf)).withType(events).withConf(conf).build()
    val nanos = Seq(1700000000123456789L, 1700000001000000999L, 1700000002999999000L)
    try nanos.zipWithIndex.foreach { case (ts, u) =>
      out.write(new SimpleGroupFactory(events).newGroup().append("user_id", u.toLong).append("ts", ts))
    } finally out.close()
    val s = spark.newSession()
    val key = SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key
    val before = s.conf.get(key)
    Tables.lineitem(s, dir)
    val ev = Tables.events(s, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq ==
      nanos.map(_ / 1000))
    assert(s.conf.get(key) == before, "opening events wrote the session's conf")
    Tables.lineitem(s, dir)
    assert(CacheRegistry.builds(s"$dir/lineitem.parquet").keySet.size == 1,
      "lineitem's schema was inferred under a second conf tag")
  }
}
