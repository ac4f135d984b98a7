package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.operators.Events
import graft.plans.SsbReferenceStar
import graft.sources.{SsbCsv, Tables}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** A workload: what to register at set-up, and what one pass runs. */
trait Workload {
  /** Register the workload's sources on a fresh session. */
  def registerSources(ctx: Ctx): Unit
  /** Untimed work once per run before the first pass (batch twins). */
  def prepare(ctx: Ctx): Unit = ()
  /** Warm passes a run makes however short `--seconds` is. */
  def minWarmPasses: Int = 1
  /** Run one pass; checks run after the pass's timed region. */
  def pass(ctx: Ctx, index: Int, cold: Boolean): PassRec
  /** Untimed per-layer numbers a traced run adds once at its end. */
  def extraLayers(ctx: Ctx, log: RunLog): Map[String, Double] = Map.empty
  /** Workload-specific end-to-end numbers over the warm passes. */
  def extraEndToEnd(ctx: Ctx, log: RunLog): Map[String, Double] = Map.empty
}

object Digest {
  /** Order-independent digest of a result: the sorted row renderings. */
  def of(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** What a catalog key must return, pinned from a run whose outputs
  * passed the DuckDB oracle comparison. `digest` is empty for the
  * rows-only keys, which are checked on row count and schema. */
final case class Expect(digest: String, rows: Long, schema: String)

/** The catalog: `SparkEntry.queries` keys, each consumed in full with
  * `collect()` (never `count()`), closed loop, by `clients` threads on
  * one session, drawing from one seed-permuted queue. */
final class Catalog(keys: Seq[String], clients: Int, reps: Int, fixture: String,
    expect: Map[String, Expect], plant: Set[String]) extends Workload {

  private val fns: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ Catalog.planted.filter { case (k, _) => plant.contains(k) }
  private val expected = expect ++ Catalog.plantedExpect
  private val order = keys ++ plant.toSeq.sorted.filter(Catalog.planted.contains)

  def registerSources(ctx: Ctx): Unit = Tables.registerAll(ctx.spark, fixture)

  def pass(ctx: Ctx, index: Int, cold: Boolean): PassRec = {
    // the cold pass runs each key once; a warm pass runs the list `reps`
    // times, each time in its own seeded order
    val rng = new scala.util.Random(ctx.args.seed * 1000003L + index)
    val queue = new ConcurrentLinkedQueue[String](
      (1 to (if (cold) 1 else reps)).flatMap(_ => rng.shuffle(order)).asJava)
    val recs = new ConcurrentLinkedQueue[OpRec]()
    val passSpan = ctx.spans.newId()
    val t0 = ctx.spans.nowUs()
    def client(c: Int): Unit = {
      var k = queue.poll()
      while (k != null) {
        val key = k
        recs.add(ctx.op(key, Catalog.packOf(key), index, c, passSpan)(fns(key)(ctx.spark, fixture)) { df =>
          (df.collect(), df.schema)
        })
        k = queue.poll()
      }
    }
    if (clients == 1) client(0)
    else {
      val ts = (0 until clients).map(c => new Thread(() => client(c), s"client-$c"))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    val t1 = ctx.spans.nowUs()
    ctx.spans.add(Span(passSpan, ctx.runSpan, s"pass $index", "pass", t0, t1,
      Map("cold" -> cold, "clients" -> clients)))
    ctx.drain()
    val ops = recs.asScala.toSeq
    ops.foreach { r =>
      check(r)
      ctx.checkPlan(r)
      r.result = null
    }
    val wall = (t1 - t0) / 1e6
    val layers = if (ctx.tracing) ctx.layerNumbers(ops, wall) ++ packLayers(ops) else Map.empty[String, Double]
    PassRec(index, cold, ctx.tracing, wall, ops, ops.filter(_.failure.isEmpty).map(_.wallS), layers)
  }

  override def extraLayers(ctx: Ctx, log: RunLog): Map[String, Double] = {
    val open = ctx.op("Tables.open", "sources", -1, 0, ctx.runSpan)(
      Tables.all.map(t => Tables(ctx.spark, fixture, t)))(_.map(_.schema))
    Map("sources.Tables.open_s" -> open.wallS)
  }

  private def packLayers(ops: Seq[OpRec]): Map[String, Double] =
    ops.groupBy(_.group).toSeq.flatMap { case (p, os) =>
      Seq(s"operators.$p.construct_s" -> os.map(_.constructS).sum,
        s"operators.$p.exec_s" -> os.map(_.consumeS).sum)
    }.toMap

  private def check(r: OpRec): Unit = if (r.failure.isEmpty) r.result match {
    case (rows: Array[Row] @unchecked, schema: org.apache.spark.sql.types.StructType) =>
      expected.get(r.name) match {
        case None => r.fail("unpinned", "no pinned expectation for this key")
        case Some(e) =>
          if (schema.catalogString != e.schema)
            r.fail("wrong_schema", s"schema ${schema.catalogString} != pinned ${e.schema}")
          else if (rows.length != e.rows)
            r.fail("wrong_rows", s"${rows.length} rows != pinned ${e.rows}")
          else if (e.digest.nonEmpty && Digest.of(rows.toSeq) != e.digest)
            r.fail("wrong_digest", "result digest differs from the pinned oracle-passing digest")
      }
    case other => r.fail("no_result", s"consume returned $other")
  }
}

object Catalog {
  /** The `QueryPack` each key comes from, by the pack's object name. */
  val packOf: Map[String, String] =
    SparkEntry.packs.flatMap(p => p.queries.keys.map(_ -> p.getClass.getSimpleName.stripSuffix("$")))
      .toMap.withDefaultValue("Planted")

  /** Keys the benchmark's own tests plant to prove failures are counted. */
  val planted: Map[String, (SparkSession, String) => DataFrame] = Map(
    "planted_throw" -> ((_: SparkSession, _: String) =>
      throw new IllegalStateException("planted failure")),
    "planted_wrong" -> ((s: SparkSession, _: String) => s.range(4).toDF("id")),
    // hangs in driver-side code, where cancelling its jobs cannot reach it
    "planted_hang" -> ((_: SparkSession, _: String) => {
      Thread.sleep(600L * 1000)
      throw new IllegalStateException("planted hang woke up")
    }))

  /** `planted_wrong` is pinned with its true row count and schema but a
    * digest no answer has, so only the digest check can catch it. */
  val plantedExpect: Map[String, Expect] = Map(
    "planted_wrong" -> Expect("0" * 64, 4L, "struct<id:bigint>"))

  def load(path: String): (Seq[String], Seq[String], Map[String, Expect]) = {
    val j = Json.read(path)
    def strs(n: String) = j.get(n).elements().asScala.map(_.asText()).toSeq
    val expect = j.get("expect").fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expect(v.get("digest").asText(), v.get("rows").asLong(), v.get("schema").asText())
    }.toMap
    (strs("serial"), strs("concurrent"), expect)
  }
}

/** The paper's ELT pipeline: schema-on-read `.tbl` sources, the star
  * CTAS written as parquet, then the Q1 flight against the written star,
  * `flights` times per pass, closed loop. */
final class SsbElt(tblDir: String, starRows: Long, q1: Map[String, Long],
    tblBytes: Long, flights: Int, work: String) extends Workload {

  private val starDir = s"$work/ssb/star"

  /** The first warm pass still runs JIT-cold code (it reads ~15% slower
    * than the next), and one pass is shorter than the run length, so a
    * fixed two keeps the pass count, and with it `warm_s`, the same
    * from run to run. */
  override def minWarmPasses: Int = 2
  private val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "q1_1" -> SsbReferenceStar.q1_1, "q1_2" -> SsbReferenceStar.q1_2,
    "q1_3" -> SsbReferenceStar.q1_3)

  def registerSources(ctx: Ctx): Unit =
    Seq("lineorder", "customer", "part", "supplier").foreach { t =>
      SsbCsv.read(ctx.spark, t, s"$tblDir/$t.tbl").createOrReplaceTempView(t)
    }

  def pass(ctx: Ctx, index: Int, cold: Boolean): PassRec = {
    val spark = ctx.spark
    val passSpan = ctx.spans.newId()
    val t0 = ctx.spans.nowUs()
    val ctas = ctx.op("star_ctas", "plans.SsbReferenceStar", index, 0, passSpan)(
      SsbReferenceStar.build(spark, tblDir))(_.write.mode("overwrite").parquet(starDir))
    val flight = if (ctas.failure.nonEmpty) Nil else (1 to flights).flatMap { _ =>
      queries.map { case (name, q) =>
        ctx.op(name, "plans.SsbReferenceStar", index, 0, passSpan)(
          q(spark.read.parquet(starDir)))(_.collect())
      }
    }
    val t1 = ctx.spans.nowUs()
    ctx.spans.add(Span(passSpan, ctx.runSpan, s"pass $index", "pass", t0, t1, Map("cold" -> cold)))
    ctx.drain()
    if (ctas.failure.isEmpty) {
      val star = spark.read.parquet(starDir)
      if (star.columns.length != 38) ctas.fail("wrong_schema", s"star has ${star.columns.length} columns, not 38")
      else {
        val n = star.count()
        if (n != starRows) ctas.fail("wrong_rows", s"star has $n rows, DuckDB's star has $starRows")
      }
    }
    flight.foreach { r =>
      if (r.failure.isEmpty) {
        val got = r.result.asInstanceOf[Array[Row]].headOption
          .map(row => if (row.isNullAt(0)) Long.MinValue else row.getLong(0))
        if (!got.contains(q1(r.name)))
          r.fail("q1_mismatch", s"${r.name} revenue $got != DuckDB's ${q1(r.name)}")
      }
      ctx.checkPlan(r)
      r.result = null
    }
    val ops = ctas +: flight
    val wall = (t1 - t0) / 1e6
    val layers = if (!ctx.tracing) Map.empty[String, Double] else
      ctx.layerNumbers(ops, wall) ++ Map(
        "plans.SsbReferenceStar.build_s" -> ctas.constructS,
        "plans.star_write_s" -> ctas.consumeS) ++ dateRangeRewrite(ctx, flight)
    PassRec(index, cold, ctx.tracing, wall, ops, flight.filter(_.failure.isEmpty).map(_.wallS), layers)
  }

  private def dateRangeRewrite(ctx: Ctx, flight: Seq[OpRec]): Map[String, Double] = {
    val rules = flight.flatMap(_.qeId).flatMap(id => Option(ctx.trace.qes.get(id)))
      .flatMap(_.rules.filter(_._1.contains("DateRangeRewrite")).values)
    val inv = rules.map(_._2).sum
    Map("plans.DateRangeRewrite.s" -> rules.map(_._1).sum / 1e9,
      "plans.DateRangeRewrite.effective_frac" -> (if (inv == 0) 0.0 else rules.map(_._3).sum.toDouble / inv))
  }

  private def dirBytes(d: String): Long =
    Option(new File(d).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum

  override def extraEndToEnd(ctx: Ctx, log: RunLog): Map[String, Double] = {
    val warm = log.passes.filter(p => !p.cold && !p.traced)
      .flatMap(_.ops.find(o => o.name == "star_ctas" && o.failure.isEmpty))
    Map("star_rows_per_s" -> starRows / Stats.median(warm.map(_.wallS).toSeq),
      "star_bytes_ratio" -> dirBytes(starDir).toDouble / tblBytes)
  }

  override def extraLayers(ctx: Ctx, log: RunLog): Map[String, Double] = {
    val spark = ctx.spark
    val open = ctx.op("SsbCsv.open", "sources", -1, 0, ctx.runSpan)(
      Seq("lineorder", "customer", "part", "supplier")
        .map(t => SsbCsv.read(spark, t, s"$tblDir/$t.tbl")))(_.map(_.schema))
    val scan = ctx.op("SsbCsv.scan", "sources", -1, 0, ctx.runSpan)(
      SsbCsv.read(spark, "lineorder", s"$tblDir/lineorder.tbl"))(
      _.write.format("noop").mode("overwrite").save())
    // every lineorder row has its dimension rows, so star rows = lineorder rows
    Map("sources.SsbCsv.open_s" -> open.wallS, "sources.SsbCsv.scan_s" -> scan.consumeS,
      "sources.scan_rows_per_s" -> starRows / scan.consumeS)
  }
}

/** The streaming twins draining a landing zone: files land one at a
  * time, in event-time order, while three queries run on one session —
  * a stateful windowed aggregation, a `flatMapGroupsWithState`
  * sessionizer, and the stream-static enrichment into the parquet sink.
  * Each drain starts from an empty landing zone and fresh checkpoints.
  * A query sample is one round: a file lands and all three queries
  * process it. */
final class EventsIngest(files: Seq[String], rows: Long, fixture: String, work: String)
    extends Workload {

  private var winBatch: Set[(Long, String, Long)] = Set.empty
  private var sessBatch: Set[(Long, Long, Long, Long)] = Set.empty
  private var sessNonTrailing: Set[(Long, Long, Long, Long)] = Set.empty
  private var enrichedBatch: Map[String, Long] = Map.empty
  /** Micro-batch durations of each pass whose drain succeeded. */
  private val microOf = scala.collection.mutable.Map.empty[Int, Seq[Double]]

  def registerSources(ctx: Ctx): Unit = {
    Tables.customer(ctx.spark, fixture).createOrReplaceTempView("customer")
    Tables.events(ctx.spark, fixture).createOrReplaceTempView("events")
  }

  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    winBatch = Events.tumbling(spark, fixture).select("window_start", "event_type", "n")
      .as[(Long, String, Long)].collect().toSet
    val sess = Events.sessionize(spark, fixture).select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect()
    sessBatch = sess.toSet
    sessNonTrailing = sess.groupBy(_._1).values.flatMap(ss => ss.sortBy(_._2).dropRight(1)).toSet
    enrichedBatch = Tables.events(spark, fixture)
      .join(Tables.customer(spark, fixture).select(col("c_custkey").as("user_id"), col("c_mktsegment")),
        Seq("user_id"), "left")
      .groupBy(col("c_mktsegment")).count().as[(String, Long)].collect().toMap
      .map { case (k, v) => String.valueOf(k) -> v }
  }

  private def land(src: String, lz: String): Unit = {
    val name = new File(src).getName
    val tmp = Paths.get(lz, s".$name.tmp")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(lz, name), StandardCopyOption.ATOMIC_MOVE)
  }

  def pass(ctx: Ctx, index: Int, cold: Boolean): PassRec = {
    val spark = ctx.spark
    val dir = s"$work/events/p$index"
    val lz = s"$dir/landing"
    Files.createDirectories(Paths.get(lz))
    land(files.head, lz)
    val win = s"win_p$index"
    val sess = s"sess_p$index"
    val passSpan = ctx.spans.newId()
    val t0 = ctx.spans.nowUs()
    var ids = Set.empty[java.util.UUID]
    val rounds = new ConcurrentLinkedQueue[Double]()
    val drain = ctx.op("drain", "streaming.EventStream", index, 0, passSpan) {
      Seq(
        EventStream.windowedCounts(spark, lz).writeStream.outputMode("complete")
          .format("memory").queryName(win)
          .option("checkpointLocation", s"$dir/ckpt-win").start(),
        EventStream.sessionize(spark, lz).writeStream.outputMode("append")
          .format("memory").queryName(sess)
          .option("checkpointLocation", s"$dir/ckpt-sess").start(),
        EventStream.sinkToParquet(EventStream.enriched(spark, lz, fixture), s"$dir/sink"))
    } { (qs: Seq[StreamingQuery]) =>
      ids = qs.map(_.id).toSet
      def round(f: Option[String]): Unit = {
        val r0 = System.nanoTime()
        f.foreach(land(_, lz))
        qs.foreach(_.processAllAvailable())
        rounds.add((System.nanoTime() - r0) / 1e9)
      }
      try {
        round(None)
        files.tail.foreach(f => round(Some(f)))
      } finally qs.foreach(_.stop())
    }
    val t1 = ctx.spans.nowUs()
    ctx.spans.add(Span(passSpan, ctx.runSpan, s"pass $index", "pass", t0, t1, Map("cold" -> cold)))
    ctx.drain()
    val progress = ctx.trace.progress.asScala.map(_.progress)
      .filter(p => ids.contains(p.id) && p.durationMs.containsKey("addBatch")).toSeq
    if (drain.failure.isEmpty) checkSinks(ctx, drain, win, sess, s"$dir/sink")
    Seq(win, sess).foreach(t => spark.sql(s"DROP VIEW IF EXISTS $t"))
    if (drain.failure.isEmpty)
      microOf(index) = progress.map(_.durationMs.get("triggerExecution").toDouble / 1000.0)
    val wall = (t1 - t0) / 1e6
    val layers = if (!ctx.tracing) Map.empty[String, Double] else {
      def d(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / 1000.0
      val last = progress.groupBy(_.id).values.map(_.maxBy(_.batchId))
      ctx.layerNumbers(Seq(drain), wall) ++ Map(
        "streaming.batches" -> progress.size.toDouble,
        "streaming.triggerExecution_s" -> d("triggerExecution"),
        "streaming.addBatch_s" -> d("addBatch"),
        "streaming.getBatch_s" -> d("getBatch"),
        "streaming.queryPlanning_s" -> d("queryPlanning"),
        "streaming.walCommit_s" -> d("walCommit"),
        "streaming.latestOffset_s" -> d("latestOffset"),
        "streaming.state_rows" -> last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
        "streaming.state_mem_bytes" -> last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble)
    }
    // a failed drain gives no latency samples
    val samples = if (drain.failure.isEmpty) rounds.asScala.toSeq else Nil
    PassRec(index, cold, ctx.tracing, wall, Seq(drain), samples, layers)
  }

  private def checkSinks(ctx: Ctx, drain: OpRec, win: String, sess: String, sink: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val w = spark.table(win).select("window_start", "event_type", "n").as[(Long, String, Long)].collect().toSet
    if (w != winBatch) drain.fail("stream_mismatch", s"windowedCounts: ${(w diff winBatch).size} extra, " +
      s"${(winBatch diff w).size} missing rows against Events.tumbling")
    val s = spark.table(sess).select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    if (!sessNonTrailing.subsetOf(s) || !s.subsetOf(sessBatch))
      drain.fail("stream_mismatch", s"sessionize: ${(sessNonTrailing diff s).size} closed sessions missing, " +
        s"${(s diff sessBatch).size} not in Events.sessionize")
    val e = spark.read.parquet(sink).groupBy(col("c_mktsegment")).count()
      .as[(String, Long)].collect().toMap.map { case (k, v) => String.valueOf(k) -> v }
    if (e != enrichedBatch) drain.fail("stream_mismatch", s"enriched sink segments $e != batch join $enrichedBatch")
  }

  override def extraEndToEnd(ctx: Ctx, log: RunLog): Map[String, Double] = {
    // untraced warm passes whose drain succeeded
    val warm = log.passes.filter(p => !p.cold && !p.traced && p.ops.forall(_.failure.isEmpty))
    val micro = warm.flatMap(p => microOf(p.index)).toSeq
    val (tail, _, _) = Stats.tail(micro)
    Map("ingest_rows_per_s" -> rows / Stats.median(warm.map(_.wallS).toSeq),
      "microbatch_p50_s" -> Stats.median(micro), "microbatch_tail_s" -> tail)
  }

  override def extraLayers(ctx: Ctx, log: RunLog): Map[String, Double] = {
    val open = ctx.op("Tables.open", "sources", -1, 0, ctx.runSpan)(
      Seq(Tables.customer(ctx.spark, fixture), Tables.events(ctx.spark, fixture)))(_.map(_.schema))
    Map("sources.Tables.open_s" -> open.wallS)
  }
}
