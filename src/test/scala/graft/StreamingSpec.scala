package graft

import graft.operators.{Events, Pipeline, Stats}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream↔batch parity: the fixture parquet is replayed as a one-batch
  * file stream into the memory sink and compared against the batch
  * operators computing the same aggregation. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The file stream source consumes a directory; stage the fixture's
    * events.parquet into one (what a stream landing zone looks like). */
  lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf}/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming 6h windowed counts equal the batch tumbling query") {
    val q = EventStream.windowedCounts(spark, eventsDir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n")
      .as[(Long, String, Long)].collect().toSet
    val batch = Events.tumbling(spark, TestSpark.Sf)
      .select("window_start", "event_type", "n")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming intervalUnion equals the batch gaps-and-islands") {
    val q = EventStream.intervalUnion(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("ivu_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // one batch ⇒ the last (only) update row per user is the final state
    val streamed = spark.table("ivu_out")
      .groupBy("user_id")
      .agg(max("active_us").as("active_us"), max("n_islands").as("n_islands"),
        max("n_events").as("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = Events.intervalUnion(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming funnel levels equal the batch windowFunnel histogram") {
    val q = EventStream.funnelLevels(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // last emitted level per user (one row here — single micro-batch)
    val streamed = spark.table("funnel_out")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("level").as("level"))
      .groupBy("level").count()
      .as[(Long, Long)].collect().toMap
    val batch = Events.funnelSteps(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch)
    assert(batch.getOrElse(3L, 0L) > 0, "fixture must contain full conversions")
  }

  test("streaming sequence counts equal the batch greedy DFA fold") {
    val q = EventStream.sequenceCounts(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("seqcount_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("seqcount_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("n_matches").as("n_matches"))
      .filter(org.apache.spark.sql.functions.col("n_matches") > 0)
      .as[(Long, Long)].collect().toMap
    val batch = Events.sequenceCountGreedy(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch)
    assert(batch.nonEmpty, "fixture must contain view→click matches")
  }

  test("streaming sequenceMatchNeg matched set equals the batch windows") {
    val q = EventStream.sequenceMatchNeg(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("seqneg_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("seqneg_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("matched").as("matched"))
      .filter(org.apache.spark.sql.functions.col("matched"))
      .select("user_id").as[Long].collect().toSet
    val batch = Events.sequenceMatchNeg(spark, TestSpark.Sf)
      .as[Long].collect().toSet
    assert(streamed == batch,
      s"missed=${batch -- streamed} extra=${streamed -- batch}")
    assert(batch.nonEmpty, "fixture must contain clean-gap conversions")
  }

  test("streaming strict_dedup funnel levels equal the batch fold histogram") {
    val q = EventStream.funnelDedupLevels(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("fdedup_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("fdedup_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("level").as("level"))
      .groupBy("level").count()
      .as[(Long, Long)].collect().toMap
    val batch = Events.funnelDedup(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toMap
    // the stream sees only funnel-type events; level-0 users without
    // any such event appear in the batch histogram only
    val missing = batch.values.sum - streamed.values.sum
    val streamedAll =
      if (missing > 0 || streamed.contains(0L))
        streamed.updated(0L, streamed.getOrElse(0L, 0L) + missing)
      else streamed
    assert(streamedAll == batch, s"streamed $streamedAll vs batch $batch")
    assert(batch.keySet.contains(3L), "fixture must contain full dedup chains")
  }

  test("streaming sequenceMatchTimed matched set equals the batch windows") {
    val q = EventStream.sequenceMatchTimed(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("seqtimed_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("seqtimed_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("matched").as("matched"))
      .filter(org.apache.spark.sql.functions.col("matched"))
      .select("user_id").as[Long].collect().toSet
    val batch = Events.sequenceMatchTimed(spark, TestSpark.Sf)
      .as[Long].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty, "fixture must contain timed conversions")
  }

  test("streaming deltaSum equals the batch daily lag rollup bit-for-bit") {
    val q = EventStream.deltaSums(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("delta_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // one batch ⇒ the only update row per type is the final state
    val streamed = spark.table("delta_out")
      .as[(String, Long, Double, Double, Double, Option[Double])]
      .collect().toSet
    val batch = Events.deltaSumDaily(spark, TestSpark.Sf)
      .as[(String, Long, Double, Double, Double, Option[Double])]
      .collect().toSet
    assert(streamed == batch,
      s"missed=${batch -- streamed} extra=${streamed -- batch}")
    assert(batch.nonEmpty)
  }

  test("streaming EMA rows equal the batch trailing-16-day rows (open day excluded)") {
    val q = EventStream.emaStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("ema_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ema_out")
      .as[(String, Long, Double, Long)].collect().toSet
    val batchAll = Events.emaDaily(spark, TestSpark.Sf)
      .as[(String, Long, Double, Long)].collect().toSeq
    // the still-open final day per type never closes in the stream
    val lastDay = batchAll.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batch = batchAll.filterNot(r => r._2 == lastDay(r._1)).toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty)
    assert(streamed.forall(r => r._4 >= 1 && r._4 <= 16), "1..16 terms per row")
  }

  test("streaming Welch t equals the batch moment rollup bit-for-bit") {
    val q = EventStream.welchStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("welch_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // one batch ⇒ the only update row per weekday is the final state
    val streamed = spark.table("welch_out")
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double])].collect().toSet
    val batch = Stats.welchTTest(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double])].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    assert(batch.nonEmpty)
    assert(batch.exists(_._6.isDefined), "fixture must yield defined t stats")
  }

  test("streaming rank-sum core equals batch Mann-Whitney AND ROC AUC bit-for-bit") {
    val q = EventStream.rankStatsStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("rank_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("rank_out")
      .as[(Long, Long, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq.sortBy(_._1)
    val mw = Stats.mannWhitney(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Double, Option[Double])].collect().toSeq.sortBy(_._1)
    val auc = Stats.rocAuc(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq.sortBy(_._1)
    assert(streamed.map(r => (r._1, r._2, r._3, r._4, r._5)) == mw)
    assert(streamed.map(r => (r._1, r._2, r._3, r._6)) == auc)
    assert(streamed.nonEmpty)
    assert(streamed.forall(r => r._6.forall(a => a >= 0.0 && a <= 1.0)))
  }

  test("stream-static enrichment matches the batch join, sinks via foreachBatch") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val q = EventStream.sinkToParquet(
      EventStream.enriched(spark, eventsDir, TestSpark.Sf), out)
    try { q.processAllAvailable() } finally { q.stop() }
    val sunk = spark.read.parquet(out)
    val batchJoin = graft.sources.Tables.events(spark, TestSpark.Sf)
      .join(graft.sources.Tables.customer(spark, TestSpark.Sf)
        .select($"c_custkey".as("user_id"), $"c_mktsegment"),
        Seq("user_id"), "left")
    assert(sunk.count() == batchJoin.count())
    assert(sunk.columns.contains("batch_id"))
    val streamedSeg = sunk.groupBy($"c_mktsegment").count()
      .as[(String, Long)].collect().toMap
    val batchSeg = batchJoin.groupBy($"c_mktsegment").count()
      .as[(String, Long)].collect().toMap
    assert(streamedSeg == batchSeg)
  }

  test("late data beyond the watermark is dropped across micro-batches") {
    import org.apache.spark.sql.functions._
    // batch 1: events on 2024-03-10; batch 2 arrives later with one
    // in-watermark late row (03-10) and one hopelessly late row (03-01).
    val d = java.nio.file.Files.createTempDirectory("graft-late")
    val schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    def write(name: String, rows: Seq[(Long, String)]): Unit =
      spark.createDataFrame(rows.map { case (id, ts) =>
          (id, java.sql.Timestamp.valueOf(ts), 1L, "click", 1.0, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props").rdd,
        org.apache.spark.sql.types.StructType.fromDDL(schema))
        .coalesce(1).write.mode("append").parquet(d.toString)
    write("b1", Seq((1L, "2024-03-10 10:00:00"), (2L, "2024-03-10 13:00:00")))
    val agg = spark.readStream.schema(
        org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(d.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours")).agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      write("b2", Seq((3L, "2024-03-10 13:30:00"), (4L, "2024-03-01 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_out").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val w10 = java.time.Instant.parse("2024-03-10T12:00:00Z").getEpochSecond
    val w01 = java.time.Instant.parse("2024-03-01T00:00:00Z").getEpochSecond
    assert(out(w10) == 2L, s"in-watermark late row must update its window: $out")
    assert(!out.contains(w01), s"beyond-watermark row must be dropped: $out")
  }

  test("stream-stream interval join matches the batch self-join exactly") {
    import org.apache.spark.sql.functions._
    val q = EventStream.clickPurchaseJoin(spark, eventsDir)
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ss_join_out")
      .select("click_id", "purchase_id", "value")
      .as[(Long, Long, Double)].collect().toSet
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("click_ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("purchase_user"),
        $"ts".as("purchase_ts"), $"value")
    val batch = clicks.join(purchases,
        $"user_id" === $"purchase_user" &&
          $"purchase_ts" >= $"click_ts" &&
          $"purchase_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"))
      .select("click_id", "purchase_id", "value")
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty, "fixture must contain click→purchase pairs in-window")
    assert(streamed == batch)
  }

  test("left-outer stream-stream join emits null rows only after the watermark closes") {
    import org.apache.spark.sql.functions._
    // controlled two-batch stream: batch 1 has one matched and one
    // unmatched click; batch 2's far-future event advances the
    // watermark past batch 1's join window, releasing the outer row
    val d = java.nio.file.Files.createTempDirectory("graft-ssj")
    val schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    def write(rows: Seq[(Long, String, Long, String, Double)]): Unit =
      spark.createDataFrame(rows.map { case (id, ts, u, et, v) =>
          (id, java.sql.Timestamp.valueOf(ts), u, et, v, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props").rdd,
        org.apache.spark.sql.types.StructType.fromDDL(schema))
        .coalesce(1).write.mode("append").parquet(d.toString)
    write(Seq(
      (1L, "2024-03-10 10:00:00", 1L, "click", 0.0),    // matched click
      (2L, "2024-03-10 10:30:00", 1L, "purchase", 9.0), // its purchase
      (3L, "2024-03-10 10:00:00", 2L, "click", 0.0)))   // never matched
    // readEvents expects nanos-as-long parquet; write plain micros and
    // stream it directly with the same join logic instead
    def side(et: String) = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(d.toString).filter($"event_type" === et)
    val clicks = side("click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = side("purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("purchase_user"),
        $"ts".as("purchase_ts"), $"value")
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      $"user_id" === $"purchase_user" &&
        $"purchase_ts" >= $"click_ts" &&
        $"purchase_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .select($"click_id", $"purchase_id", $"value")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_outer_out").start()
    try {
      q.processAllAvailable()
      val early = spark.table("ssj_outer_out")
        .as[(Long, Option[Long], Option[Double])].collect()
      assert(!early.exists(_._1 == 3L),
        s"outer row must NOT appear while its window is open: ${early.toSeq}")
      // advance both watermarks far past the window
      write(Seq((4L, "2024-03-12 00:00:00", 3L, "click", 0.0),
        (5L, "2024-03-12 00:00:00", 3L, "purchase", 1.0)))
      q.processAllAvailable()
      q.processAllAvailable() // extra micro-batch lets the state evict
      val rows = spark.table("ssj_outer_out")
        .as[(Long, Option[Long], Option[Double])].collect()
      assert(rows.exists(r => r._1 == 1L && r._2.contains(2L)), "matched join row")
      assert(rows.exists(r => r._1 == 3L && r._2.isEmpty),
        s"unmatched click released as null-padded after watermark: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming dedup keeps exactly one event per (user, type) key") {
    val q = EventStream.dedupFirstPerUserType(spark, eventsDir)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("dedup_out")
      .select("user_id", "event_type").as[(Long, String)].collect()
    val batchKeys = graft.sources.Tables.events(spark, TestSpark.Sf)
      .select("user_id", "event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(streamed.toSet == batchKeys)
    assert(streamed.length == batchKeys.size, "each key emitted exactly once")
  }

  test("streaming HLL daily estimates equal the batch sketches exactly") {
    // Register-max lattice: micro-batch boundaries can't change the
    // converged sketch, so streamed == batch to the last bit of the
    // estimate — not just within rsd. Complete mode: no watermark
    // needed, every day's current estimate is re-emitted.
    val q = EventStream.dailyApproxUsers(spark, eventsDir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("hll_out")
      .select(col("day").cast("string"), col("est_users"))
      .as[(String, Double)].collect().toMap
    val batch = Pipeline.hllDaily(spark, TestSpark.Sf)
      .filter(col("day").isNotNull) // drop the union'd month-total row
      .select(col("day").cast("string"), col("est_users"))
      .as[(String, Double)].collect().toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("Trigger.AvailableNow drains the backlog then self-terminates (batch catch-up)") {
    val q = EventStream.windowedCounts(spark, eventsDir)
      .writeStream.outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("an_out").start()
    assert(q.awaitTermination(120000), "AvailableNow must stop on its own")
    assert(!q.isActive)
    val streamed = spark.table("an_out")
      .select("window_start", "event_type", "n")
      .as[(Long, String, Long)].collect().toSet
    val batch = Events.tumbling(spark, TestSpark.Sf)
      .select("window_start", "event_type", "n")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("RocksDB state store produces the same stateful results as the default") {
    // large-state config: spill keyed state off-heap instead of the
    // HDFS-backed in-memory map (the 100 TB sessionization posture)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = EventStream.dedupFirstPerUserType(s2, eventsDir)
      .writeStream.outputMode("append")
      .format("memory").queryName("rocks_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val rocks = s2.table("rocks_out")
      .select("user_id", "event_type").as[(Long, String)].collect()
    val batchKeys = graft.sources.Tables.events(spark, TestSpark.Sf)
      .select("user_id", "event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(rocks.toSet == batchKeys)
    assert(rocks.length == batchKeys.size)
  }

  test("streaming sessionization closes exactly the non-trailing batch sessions") {
    val q = EventStream.sessionize(spark, eventsDir)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sess_out")
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    // Closed-by-gap sessions are every non-trailing batch session; the
    // event-time timeout may additionally flush trailing sessions that
    // fell behind the final watermark. So: nonTrailing ⊆ streamed ⊆ batch.
    val batch = Events.sessionize(spark, TestSpark.Sf)
      .select("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect()
    val nonTrailing = batch.groupBy(_._1).values
      .flatMap(ss => ss.sortBy(_._2).dropRight(1)).toSet
    assert(nonTrailing.subsetOf(streamed),
      s"missing: ${(nonTrailing -- streamed).take(3)}")
    assert(streamed.subsetOf(batch.toSet),
      s"extra: ${(streamed -- batch.toSet).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("streaming dedup: a twice-replayed landing zone counts each event once") {
    // stage the fixture TWICE — every event arrives as a duplicate
    val d = java.nio.file.Files.createTempDirectory("graft-stream-dup")
    Seq("a", "b").foreach { tag =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${TestSpark.Sf}/events.parquet"),
        d.resolve(s"events_$tag.parquet"))
    }
    val q = EventStream.dedupedTypeCounts(spark, d.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("dedup_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("dedup_out")
      .as[(String, Long)].collect().toMap
    val batch = graft.sources.Tables.events(spark, TestSpark.Sf)
      .groupBy(col("event_type")).count()
      .as[(String, Long)].collect().toMap
    assert(streamed == batch,
      s"dedup diverged: $streamed vs $batch")
    assert(batch.values.sum > 0)
  }

  test("streaming pooled t equals the batch student key bit-for-bit") {
    val q = EventStream.studentStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("student_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("student_out")
      .as[(Long, Long, Long, Option[Double], Long)].collect().toSet
    val batch = Stats.studentTTest(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Option[Double], Long)].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    assert(batch.nonEmpty)
  }

  test("streaming KS equals the batch counts-then-window key bit-for-bit") {
    val q = EventStream.ksStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("ks_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ks_out")
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect().toSet
    val batch = Stats.ksTest(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    assert(batch.nonEmpty)
  }

  test("streaming JSD equals the batch integer-core key bit-for-bit") {
    val q = EventStream.jsdStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("jsd_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("jsd_out")
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    val batch = Stats.jsDivergence(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    assert(batch.nonEmpty)
  }

  test("Welch, Student and KS twins equal their batch keys ACROSS micro-batches") {
    // a two-file landing zone drained as TWO micro-batches, so each
    // weekday's state carries over a batch boundary
    val d = java.nio.file.Files.createTempDirectory("graft-twins")
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf)
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-twinhalf").toString
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    stage(col("event_id") % 2 === 0, "a.parquet")
    val twins = Seq(
      "welch_mb" -> EventStream.welchStream(spark, d.toString),
      "student_mb" -> EventStream.studentStream(spark, d.toString),
      "ks_mb" -> EventStream.ksStream(spark, d.toString).toDF())
    val qs = twins.map { case (name, df) =>
      df.writeStream.outputMode("update")
        .format("memory").queryName(name).start()
    }
    try {
      qs.foreach(_.processAllAvailable())
      stage(col("event_id") % 2 === 1, "b.parquet")
      qs.foreach(_.processAllAvailable())
    } finally { qs.foreach(_.stop()) }
    // every update of a weekday adds rows to n_purchase + n_view, so
    // its largest total marks its last update row
    def lastPerWeekday(name: String): Set[org.apache.spark.sql.Row] = {
      val rows = spark.table(name).collect()
      assert(rows.length > rows.map(_.getLong(0)).distinct.length,
        s"$name: some weekday must update in two micro-batches")
      rows.groupBy(_.getLong(0)).values
        .map(_.maxBy(r => r.getLong(1) + r.getLong(2))).toSet
    }
    Seq("welch_mb" -> Stats.welchTTest(spark, TestSpark.Sf),
        "student_mb" -> Stats.studentTTest(spark, TestSpark.Sf),
        "ks_mb" -> Stats.ksTest(spark, TestSpark.Sf))
      .foreach { case (name, batchKey) =>
        val batch = batchKey.collect().toSet
        val streamed = lastPerWeekday(name)
        assert(streamed == batch,
          s"$name: missed=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
        assert(batch.size == 7)
      }
  }

  test("streaming quantized-chi2 equals batch cramersV AND contingency bit-for-bit") {
    val q1 = EventStream.cramersVStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("cram_out").start()
    try { q1.processAllAvailable() } finally { q1.stop() }
    val s1 = spark.table("cram_out")
      .as[(Long, Double, Long, Option[Double])].collect().toSet
    val b1 = Stats.cramersV(spark, TestSpark.Sf)
      .as[(Long, Double, Long, Option[Double])].collect().toSet
    assert(s1 == b1, s"cramersV: streamed=$s1 batch=$b1")
    val q2 = EventStream.contingencyStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("cont_out").start()
    try { q2.processAllAvailable() } finally { q2.stop() }
    val s2 = spark.table("cont_out")
      .as[(Long, Double, Option[Double], Option[Double])].collect().toSet
    val b2 = Stats.contingency(spark, TestSpark.Sf)
      .as[(Long, Double, Option[Double], Option[Double])].collect().toSet
    assert(s2 == b2, s"contingency: streamed=$s2 batch=$b2")
    assert(b1.nonEmpty && b2.nonEmpty)
  }

  test("streaming entropy equals the batch integer-log core bit-for-bit") {
    val q = EventStream.entropyStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("ent_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ent_out")
      .as[(String, Long, Long, Double)].collect().toSet
    val batch = Stats.entropy(spark, TestSpark.Sf)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    assert(batch.nonEmpty)
  }

  test("streaming Theil's U equals the batch contingency core bit-for-bit") {
    val q = EventStream.theilsUStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("tu_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("tu_out")
      .as[(Long, Double, Double, Double, Option[Double], Option[Double])]
      .collect().toSet
    val batch = Stats.theilsU(spark, TestSpark.Sf)
      .as[(Long, Double, Double, Double, Option[Double], Option[Double])]
      .collect().toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(batch.nonEmpty)
  }

  test("streaming bucketed Spearman equals the batch doubled-rank key bit-for-bit") {
    val q = EventStream.rankCorrStream(spark, eventsDir)
      .writeStream.outputMode("update")
      .format("memory").queryName("rc_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("rc_out")
      .as[(String, Long, Option[Double])].collect().toSet
    val batch = Stats.rankCorrBucketed(spark, TestSpark.Sf)
      .as[(String, Long, Option[Double])].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    assert(batch.nonEmpty)
    // the bounded-state law that justifies this estimator: the joint
    // grid per type is capped by construction (≤ 488 log buckets × 24
    // hours) at ANY data volume — where the exact key's grid is n
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf)
    val worstType = ev.selectExpr("event_type",
        "graft_log2fix(greatest(cast(round(value * 100) as long), 1)) div 131072 as b",
        "(unix_micros(ts) % 86400000000) div 3600000000 as h")
      .distinct().groupBy("event_type").count()
      .agg(max("count")).as[Long].head()
    assert(worstType <= 488L * 24L,
      s"per-type grid $worstType must respect the hard bound")
  }

  test("streaming KMV sketch table equals batch bit-for-bit ACROSS micro-batches; rollup agrees") {
    // a two-file landing zone consumed as TWO micro-batches (second file
    // lands while the query runs) — the lattice claim under real
    // batch-boundary merging, with a shrunk k = 8 so eviction actually
    // exercises across the boundary
    val k = 8
    val d = java.nio.file.Files.createTempDirectory("graft-kmvstream")
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf)
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-kmvhalf").toString
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    stage(col("event_id") % 2 === 0, "a.parquet")
    val q = EventStream.kmvDailyStream(spark, d.toString, k)
      .writeStream.outputMode("update")
      .format("memory").queryName("kmv_stream_out").start()
    try {
      q.processAllAvailable()
      stage(col("event_id") % 2 === 1, "b.parquet")
      q.processAllAvailable()
    } finally { q.stop() }
    val emissions = spark.table("kmv_stream_out")
      .as[(String, Long, Long, Seq[Long])].collect()
    // keys spanning both halves emitted twice — proves ≥ 2 micro-batches
    assert(emissions.length >
      emissions.map(r => (r._1, r._2)).distinct.length,
      "some key must be updated across two micro-batches")
    // last emission per key = max n_seen (exact processed-row counter)
    val streamed = emissions.groupBy(r => (r._1, r._2))
      .map { case (_, rs) => rs.maxBy(_._3) }.toSet
    val batchSk = graft.operators.Events
      .kmvDailySketches(ev.select(col("event_type"), col("ts"), col("user_id")), k)
      .as[(String, Long, Seq[Long])].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    assert(streamed.map(r => (r._1, r._2, r._4)) == batchSk,
      "streamed sketch table must equal the batch aggregate bit-for-bit")
    // n_seen telemetry = exact per-key event counts
    val counts = ev.groupBy(col("event_type"),
        expr("cast(unix_date(to_date(ts)) as bigint)").as("day"))
      .count().as[(String, Long, Long)].collect().toSet
    assert(streamed.map(r => (r._1, r._2, r._3)) == counts)
    // the whole warehouse pattern: the batch rollup over the STREAMED
    // table equals the batch end-to-end rollup
    val streamedDf = streamed.toSeq.toDF("event_type", "day", "n_seen", "sk")
      .select(col("event_type"), col("day"), col("sk"))
    val rollFromStream = graft.operators.Events
      .kmvRollupFromDaily(streamedDf, k)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val rollBatch = graft.operators.Events
      .kmvDailyRollupOf(ev.select(col("event_type"), col("ts"), col("user_id")), k)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(rollFromStream == rollBatch)
    assert(rollBatch.nonEmpty)
  }

  test("kmvDailyStream crash-recovery: restart from checkpoint restores state bit-for-bit") {
    // The production failure mode: the ingest query dies between
    // micro-batches and a NEW query object restarts from the same
    // checkpoint dir. The checkpoint carries (a) the file-source log —
    // already-committed files must NOT be reprocessed — and (b) the
    // HDFS-backed state store — the per-(type, day) KMV sketches must be
    // RESTORED, not rebuilt. Sink is foreachBatch→parquet (the
    // fault-tolerant production sink; the memory sink refuses checkpoint
    // recovery in update mode), stamping batch_id per emission.
    val k = 8
    val d = java.nio.file.Files.createTempDirectory("graft-kmvrec")
    val cp = java.nio.file.Files.createTempDirectory("graft-kmvrec-cp").toString
    val out = java.nio.file.Files.createTempDirectory("graft-kmvrec-out").toString
    val ev = graft.sources.Tables.events(spark, TestSpark.Sf)
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-kmvrechalf").toString
      ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    def run(): Unit = {
      val q = EventStream.kmvDailyStream(spark, d.toString, k)
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    stage(col("event_id") % 2 === 0, "a.parquet")
    run() // consumes half a, then the query is gone — only cp survives
    stage(col("event_id") % 2 === 1, "b.parquet")
    run() // NEW query object, same checkpoint
    val emissions = spark.read.parquet(out)
      .as[(String, Long, Long, Seq[Long], Long)].collect()
    val maxBatch = emissions.map(_._5).max
    assert(maxBatch >= 1, "restart must run as a later batch id, not batch 0")
    val run2 = emissions.filter(_._5 == maxBatch)
    // (1) source-log recovery: the restarted run processes ONLY half b —
    // keys it emits are exactly the keys present in half b
    val halfBKeys = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_type"),
        expr("cast(unix_date(to_date(ts)) as bigint)").as("day"))
      .distinct().as[(String, Long)].collect().toSet
    assert(run2.map(r => (r._1, r._2)).toSet == halfBKeys,
      "restarted batch must emit exactly the half-b keys (no replay of half a)")
    // (2) state-store recovery: for keys spanning both halves, the
    // restarted emission's n_seen counts BOTH halves — impossible unless
    // the pre-crash sketch state was restored (half a was not re-read)
    val totalCounts = ev.groupBy(col("event_type"),
        expr("cast(unix_date(to_date(ts)) as bigint)").as("day"))
      .count().as[(String, Long, Long)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    run2.foreach { r =>
      assert(r._3 == totalCounts((r._1, r._2)),
        s"key (${r._1},${r._2}) n_seen=${r._3} must equal the TOTAL count " +
          s"${totalCounts((r._1, r._2))} — state was not restored")
    }
    // (3) final table (latest emission per key across both runs) equals
    // the batch aggregate bit-for-bit — i.e. the recovered run converges
    // to the same table the uninterrupted run is already pinned to (the
    // ACROSS-micro-batches test above, same halves, same k)
    val finalTable = emissions.groupBy(r => (r._1, r._2))
      .map { case (_, rs) => rs.maxBy(_._3) }.toSet
    val batchSk = graft.operators.Events
      .kmvDailySketches(ev.select(col("event_type"), col("ts"), col("user_id")), k)
      .as[(String, Long, Seq[Long])].collect().toSet
    assert(finalTable.map(r => (r._1, r._2, r._4)) == batchSk,
      "recovered sketch table must equal the batch aggregate bit-for-bit")
    assert(batchSk.nonEmpty)
  }

  test("streaming audio-chunk ingest equals batch audioBandWindows bit-for-bit; log-band histogram agrees") {
    import graft.operators.Multimodal
    import graft.streaming.MediaStream
    // chunk the fixture's audio payloads at 100 bytes (even, NOT aligned
    // to the 256-sample window, so windows straddle chunk boundaries),
    // then land even-indexed chunks first and odd-indexed in a second
    // micro-batch: every multi-chunk media exercises BOTH the reorder
    // buffer (chunk 2 buffered while 1 is missing) and cross-batch
    // residual carry in the state store
    val media = Multimodal.mediaTable(spark, TestSpark.Sf)
    val chunks = MediaStream.audioChunksOf(media, chunkBytes = 100).cache()
    assert(chunks.filter(col("n_chunks") >= 2).select("media_id").distinct().count() > 50,
      "fixture must contain plenty of multi-chunk media for the reorder/carry claim")
    val d = java.nio.file.Files.createTempDirectory("graft-mmchunk")
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mmchunkhalf").toString
      chunks.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    stage(col("chunk_idx") % 2 === 0, "a.parquet")
    val q = MediaStream.audioBandWindowStream(spark, d.toString,
        stallTimeoutMs = 0) // parity test drives batches by hand
      .writeStream.outputMode("update")
      .format("memory").queryName("mm_chunk_out").start()
    try {
      q.processAllAvailable()
      stage(col("chunk_idx") % 2 === 1, "b.parquet")
      q.processAllAvailable()
    } finally { q.stop() }
    val emissions = spark.table("mm_chunk_out")
      .as[(Long, Long, Long, Long)].collect()
    // exactly-once: each (media, window) sealed in exactly one batch
    assert(emissions.length == emissions.distinct.length,
      "no window may be emitted twice")
    val streamed = emissions.toSet
    val batch = Multimodal.audioBandWindows(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty)
    // the downstream consumer: the log-band histogram over the STREAMED
    // window table equals the batch mm_audio_log_bands key bit-for-bit
    val streamedDf = streamed.toSeq
      .toDF("media_id", "window_idx", "energy", "tp")
    val histStream = Multimodal.logBandsFromWindows(streamedDf)
      .collect().toSeq
    val histBatch = Multimodal.audioLogBands(spark, TestSpark.Sf)
      .collect().toSeq
    assert(histStream == histBatch)
    assert(histBatch.nonEmpty)
  }

  test("audio-chunk ingest crash-recovery: buffered chunks and residual samples restore") {
    import graft.operators.Multimodal
    import graft.streaming.MediaStream
    // Same landing zone as the parity test, but the query DIES between
    // the two files and restarts from its checkpoint: the restored
    // state must carry (a) the reorder buffer — even-index chunks ≥ 2
    // were pending when the crash hit — and (b) the open window's
    // residual samples. Any state-encoder or restore defect shows as a
    // wrong or duplicate window.
    val media = Multimodal.mediaTable(spark, TestSpark.Sf)
    val chunks = MediaStream.audioChunksOf(media, chunkBytes = 100).cache()
    val d = java.nio.file.Files.createTempDirectory("graft-mmrec")
    val cp = java.nio.file.Files.createTempDirectory("graft-mmrec-cp").toString
    val out = java.nio.file.Files.createTempDirectory("graft-mmrec-out").toString
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mmrechalf").toString
      chunks.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    def run(): Unit = {
      val q = MediaStream.audioBandWindowStream(spark, d.toString,
          stallTimeoutMs = 0) // recovery test drives batches by hand
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    stage(col("chunk_idx") % 2 === 0, "a.parquet")
    run()
    stage(col("chunk_idx") % 2 === 1, "b.parquet")
    run() // NEW query, same checkpoint: pending/residual must restore
    val emissions = spark.read.parquet(out)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(emissions.map(_._5).max >= 1, "restart must run as a later batch")
    val windows = emissions.map(r => (r._1, r._2, r._3, r._4))
    assert(windows.length == windows.distinct.length,
      "no window may be emitted twice across the restart")
    val batch = Multimodal.audioBandWindows(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(windows.toSet == batch,
      s"missed=${(batch -- windows.toSet).take(3)} extra=${(windows.toSet -- batch).take(3)}")
    assert(batch.nonEmpty)
  }

  test("streaming scene segmentation equals batch sceneSegments bit-for-bit") {
    import graft.operators.Multimodal
    import graft.streaming.MediaStream
    // frame feed (integer features only — 24 bytes/frame, never pixels)
    // split by frame parity across TWO micro-batches: every multi-frame
    // video exercises the reorder buffer and cross-batch segment carry
    val videos = Multimodal.mediaTable(spark, TestSpark.Sf)
      .filter(col("media_type") === "video")
    val feed = MediaStream.videoFrameFeedOf(videos).cache()
    assert(feed.filter(col("n_frames") >= 4).select("media_id").distinct().count() > 50,
      "fixture must contain plenty of multi-frame videos")
    val d = java.nio.file.Files.createTempDirectory("graft-scenefeed")
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scenehalf").toString
      feed.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    stage(col("frame_idx") % 2 === 0, "a.parquet")
    val q = MediaStream.sceneSegmentStream(spark, d.toString,
        stallTimeoutMs = 0) // parity test drives batches by hand
      .writeStream.outputMode("update")
      .format("memory").queryName("scene_stream_out").start()
    try {
      q.processAllAvailable()
      stage(col("frame_idx") % 2 === 1, "b.parquet")
      q.processAllAvailable()
    } finally { q.stop() }
    val emissions = spark.table("scene_stream_out")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(emissions.length == emissions.distinct.length,
      "no segment may be emitted twice")
    val streamed = emissions.toSet
    val batch = Multimodal.sceneSegmentsOf(videos)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"missed=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty)
  }

  test("a whole media of >PendingCap in-order chunks in ONE micro-batch never trips the cap") {
    import graft.operators.Multimodal
    import graft.streaming.MediaStream
    // ADVICE r15 (medium): the cap used to be checked BEFORE the drain,
    // so a healthy landing-zone case — one media's whole multipart
    // upload arriving fully in-order in a single micro-batch — was
    // killed once it exceeded 64 chunks. The cap now applies to the
    // RESIDUAL buffer after draining; 100 in-order chunks must fold
    // cleanly into the same windows the batch decoder produces.
    val payload = Array.tabulate(100 * 100)(i => ((i * 37 + 11) % 251).toByte)
    val media = Seq(Multimodal.MediaRow(7L, payload, "audio", 16, 16, 1)).toDS()
    val chunks = MediaStream.audioChunksOf(media, chunkBytes = 100)
    assert(chunks.count() == 100, "the single media must span 100 chunks")
    val d = java.nio.file.Files.createTempDirectory("graft-bigmedia")
    chunks.coalesce(1).write.mode("overwrite").parquet(d.toString)
    val q = MediaStream.audioBandWindowStream(spark, d.toString,
        stallTimeoutMs = 0) // the cap fix, not expiry, is under test
      .writeStream.outputMode("update")
      .format("memory").queryName("bigmedia_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("bigmedia_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    // expected: the batch fold over the undivided payload (the
    // audioBandWindows math, inlined over this synthetic media)
    val samples = Multimodal.FakeCodec.pcm(payload)
    val expected = samples.grouped(256).zipWithIndex.map { case (w, i) =>
      var e = 0L; var tp = 0L; var k = 0
      while (k < w.length) {
        val v = w(k).toLong
        e += v * v
        if (k >= 2 &&
            (w(k - 1) - w(k - 2)).toLong * (w(k) - w(k - 1)).toLong < 0) tp += 1
        k += 1
      }
      (7L, i.toLong, e, tp)
    }.toSet
    assert(streamed == expected)
    assert(expected.size >= 19, "10000 bytes = 5000 samples = 20 windows")
  }

  test("a stalled media (manifest never completes) expires after the grace period") {
    import graft.operators.Multimodal
    import graft.streaming.MediaStream
    // ADVICE r15: NoTimeout + manifest-gated removal held a partial
    // upload's state forever. With the processing-time stall timeout,
    // the media's state is DROPPED after the grace period — verified
    // by landing the missing tail afterwards: a dropped key treats the
    // tail as a fresh out-of-order chunk (cursor reset to 0), so the
    // media's remaining windows never emit.
    val payload = Array.tabulate(700)(i => ((i * 53 + 5) % 240).toByte)
    val media = Seq(Multimodal.MediaRow(3L, payload, "audio", 16, 16, 1)).toDS()
    val chunks = MediaStream.audioChunksOf(media, chunkBytes = 100).cache()
    assert(chunks.agg(max("n_chunks")).as[Int].head() == 7)
    val d = java.nio.file.Files.createTempDirectory("graft-stalled")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-stalledpart").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    stage(chunks.filter(col("chunk_idx") < 6).toDF(), "head.parquet")
    // ProcessingTimeTimeout keeps `isCurrentBatchConstructed` true on
    // EVERY trigger (so pending timeouts can fire), which means
    // `noNewData` is never set and processAllAvailable NEVER RETURNS —
    // a timeout-bearing query must be driven by polling its sink
    // (MediaStream.StallTimeoutMs operational note)
    def awaitRows(label: String)(pred: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (!pred && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(pred, s"$label not reached within 30 s")
    }
    val q = MediaStream.audioBandWindowStream(spark, d.toString,
        stallTimeoutMs = 400)
      .writeStream.outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .format("memory").queryName("stalled_out").start()
    try {
      // head chunks = 600 bytes = 300 samples → exactly one full
      // 256-sample window seals; the open window holds 44 residuals
      awaitRows("pre-stall window")(spark.table("stalled_out").count() == 1)
      Thread.sleep(900) // exceed the 400 ms grace; the sweep retires media 3
      // a healthy media proves the pipeline still flows after the sweep
      val other = Seq(Multimodal.MediaRow(8L, payload.take(100), "audio", 16, 16, 1)).toDS()
      stage(MediaStream.audioChunksOf(other, chunkBytes = 100).toDF(), "other.parquet")
      awaitRows("healthy media window")(
        spark.table("stalled_out").filter(col("media_id") === 8L).count() == 1)
      // the stalled media's tail lands AFTER expiry: with state dropped
      // the cursor is back at 0, chunk 6 just buffers, nothing seals
      stage(chunks.filter(col("chunk_idx") === 6).toDF(), "tail.parquet")
      Thread.sleep(2000) // several triggers — time for a wrong seal to appear
    } finally { q.stop() }
    val rows = spark.table("stalled_out")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.count(_._1 == 8L) == 1, "the healthy media seals its window")
    assert(rows.count(_._1 == 3L) == 1,
      s"the stalled media must never seal past its pre-stall window: ${rows.toSeq}")
  }

  test("scene-segment stream crash-recovery: open segments and reorder buffer restore") {
    import graft.operators.Multimodal
    import graft.streaming.MediaStream
    // The third crash-recovery proof (r15 verdict item 5): same
    // device as the kmv and audio-chunk tests — the query DIES between
    // the even-frame and odd-frame landings and restarts from its
    // checkpoint; the restored state must carry the open-segment
    // accumulators AND the buffered even frames ≥ 2, and no segment
    // may emit twice across the restart.
    val videos = Multimodal.mediaTable(spark, TestSpark.Sf)
      .filter(col("media_type") === "video")
    val feed = MediaStream.videoFrameFeedOf(videos).cache()
    val d = java.nio.file.Files.createTempDirectory("graft-scenerec")
    val cp = java.nio.file.Files.createTempDirectory("graft-scenerec-cp").toString
    val out = java.nio.file.Files.createTempDirectory("graft-scenerec-out").toString
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scenerechalf").toString
      feed.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    def run(): Unit = {
      val q = MediaStream.sceneSegmentStream(spark, d.toString,
          stallTimeoutMs = 0) // recovery test drives batches by hand
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
        .start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    stage(col("frame_idx") % 2 === 0, "a.parquet")
    run()
    stage(col("frame_idx") % 2 === 1, "b.parquet")
    run() // NEW query, same checkpoint: segment state must restore
    val emissions = spark.read.parquet(out)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(emissions.map(_._8).max >= 1, "restart must run as a later batch")
    val segs = emissions.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7))
    assert(segs.length == segs.distinct.length,
      "no segment may be emitted twice across the restart")
    val batch = Multimodal.sceneSegmentsOf(videos)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(segs.toSet == batch,
      s"missed=${(batch -- segs.toSet).take(3)} extra=${(segs.toSet -- batch).take(3)}")
    assert(batch.nonEmpty)
  }

  test("streaming corpus ingest: per-batch substring spans equal the batch incremental key") {
    import graft.streaming.CorpusStream
    // the text-ingest twin: the fixture's 20% "new" slice lands in TWO
    // micro-batches against the standing 80% corpus; the concatenated
    // per-batch span tables must equal the all-at-once batch key
    // (cross-side-only spans make the split semantically invisible;
    // df cap and derived L are boundary-free on the fixture)
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf)
      .withColumn("is_new", expr("(doc_id * 2654435761) % 4294967296 % 100 >= 80"))
    val corpus = docs.filter(!col("is_new")).select("doc_id", "text")
    val newDocs = docs.filter(col("is_new")).select("doc_id", "text").cache()
    assert(newDocs.count() > 50)
    val d = java.nio.file.Files.createTempDirectory("graft-ingest")
    val out = java.nio.file.Files.createTempDirectory("graft-ingest-out").toString
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ingesthalf").toString
      newDocs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    stage(col("doc_id") % 2 === 0, "a.parquet")
    val q = CorpusStream.substringIncrementalStream(spark, corpus, d.toString) {
      (spans, batchId) =>
        spans.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(out)
    }
    try {
      q.processAllAvailable()
      stage(col("doc_id") % 2 === 1, "b.parquet")
      q.processAllAvailable()
    } finally { q.stop() }
    val got = spark.read.parquet(out)
    assert(got.select("batch_id").distinct().count() == 2,
      "both landings must produce a batch")
    val streamed = got.select("new_doc", "corpus_doc", "start_new",
        "start_corpus", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(streamed.length == streamed.distinct.length,
      "no span may be emitted twice")
    val batch = graft.operators.Dedup.substringIncremental(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed.toSet == batch,
      s"missed=${(batch -- streamed.toSet).take(3)} extra=${(streamed.toSet -- batch).take(3)}")
    assert(batch.nonEmpty, "fixture must contain cross-side spans")
  }

  test("streaming canonical ingest equals the batch map at every prefix, across a restart") {
    import graft.streaming.CorpusStream
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").cache()
    def third(i: Int) = docs.filter(col("doc_id") % 3 === i)
    val land1 = java.nio.file.Files.createTempDirectory("graft-canon1")
    val land2 = java.nio.file.Files.createTempDirectory("graft-canon2")
    def stage(dir: java.nio.file.Path, i: Int, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-canonhalf").toString
      third(i).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, dir.resolve(name))
    }
    def mapOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "canon_id", "n_members", "is_canonical")
        .as[(Long, Long, Long, Long)].collect().toSet
    def batchMapOf(pred: org.apache.spark.sql.Column) =
      mapOf(graft.operators.Dedup.canonicalMapOf(docs.filter(pred)))
    var lastEmit: Set[(Long, Long, Long, Long)] = Set.empty
    // phase 1: two landings into a fresh ingest
    val ingest1 = new CorpusStream.CanonicalIngest(spark)
    stage(land1, 0, "a.parquet")
    val q1 = CorpusStream.canonicalIngestStream(spark, ingest1, land1.toString) {
      (m, _) => lastEmit = mapOf(m)
    }
    val afterA = try {
      q1.processAllAvailable()
      val afterA = lastEmit
      stage(land1, 1, "b.parquet")
      q1.processAllAvailable()
      afterA
    } finally { q1.stop() }
    assert(afterA == batchMapOf(col("doc_id") % 3 === 0),
      "first-prefix stream map must equal the batch operator on that prefix")
    // crash: persist the standing state the way a lake deployment would,
    // tear the ingest down, and rebuild from the snapshots
    val snapDocs = java.nio.file.Files.createTempDirectory("graft-canonsd").toString
    val snapComp = java.nio.file.Files.createTempDirectory("graft-canonsc").toString
    ingest1.corpusDocs.write.mode("overwrite").parquet(snapDocs)
    ingest1.componentMap.write.mode("overwrite").parquet(snapComp)
    ingest1.close()
    val ingest2 = new CorpusStream.CanonicalIngest(spark,
      spark.read.parquet(snapDocs), spark.read.parquet(snapComp))
    stage(land2, 2, "c.parquet")
    val q2 = CorpusStream.canonicalIngestStream(spark, ingest2, land2.toString) {
      (m, _) => lastEmit = mapOf(m)
    }
    try { q2.processAllAvailable() } finally { q2.stop() }
    val want = mapOf(graft.operators.Dedup.canonicalMap(spark, TestSpark.Sf))
    assert(lastEmit == want,
      s"missed=${(want -- lastEmit).take(3)} extra=${(lastEmit -- want).take(3)}")
    // the stream must have actually merged something (non-singleton
    // components exist on the fixture)
    assert(want.exists(_._3 > 1), "fixture must contain near-dup clusters")
    ingest2.close()
    docs.unpersist()
  }

  test("vector ingest crash-recovery: restart encodes only the unseen landing") {
    // The fourth ingest path gets the same kill-and-restart proof as
    // events/media/text: the query dies between landings and a NEW
    // query object restarts from the same checkpoint. VectorStream has
    // no state store (frozen stats ARE the state), so the claim under
    // test is SOURCE-LOG recovery — already-committed landing files
    // must not be re-encoded (a replay would double-insert postings
    // into the serving index) — plus frozen-stats stability across the
    // restart (the rebuilt index must not re-key the first half).
    import graft.streaming.VectorStream
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      .select("vec_id", "embedding")
    val d = java.nio.file.Files.createTempDirectory("graft-vecrec")
    val cp = java.nio.file.Files.createTempDirectory("graft-vecrec-cp").toString
    val out = java.nio.file.Files.createTempDirectory("graft-vecrec-out").toString
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-vecrechalf").toString
      vecs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    def run(): Unit = {
      val q = VectorStream.ivfIngestStream(spark, TestSpark.Sf, d.toString,
        Map("checkpointLocation" -> cp)) { (postings, batchId) =>
        postings.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(out)
      }
      try { q.processAllAvailable() } finally { q.stop() }
    }
    stage(col("vec_id") % 2 === 0, "a.parquet")
    run() // consumes half a, then the query is gone — only cp survives
    stage(col("vec_id") % 2 === 1, "b.parquet")
    run() // NEW query object, same checkpoint
    val got = spark.read.parquet(out)
      .select("vec_id", "cent_id", "codes", "batch_id")
      .as[(Long, Int, Array[Int], Long)].collect()
      .map(r => (r._1, r._2, r._3.toSeq, r._4))
    val maxBatch = got.map(_._4).max
    assert(maxBatch >= 1, "restart must run as a later batch id, not batch 0")
    assert(got.map(_._1).distinct.length == got.length,
      "no vector may be encoded twice across the restart")
    val run2Ids = got.filter(_._4 == maxBatch).map(_._1).toSet
    val halfBIds = vecs.filter(col("vec_id") % 2 === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(run2Ids == halfBIds,
      "restarted batch must encode exactly the half-b vectors (no replay of half a)")
    // the concatenated postings equal the batch encode under the same
    // frozen stats — the restart introduced no re-keying
    val (cents, books) = graft.operators.Similarity.servingIndex(spark, TestSpark.Sf)
    val batchTwin = graft.operators.Similarity.encodeForIndex(vecs, cents, books)
      .as[(Long, Int, Array[Int])].collect()
      .map(r => (r._1, r._2, r._3.toSeq)).toSet
    assert(got.map(r => (r._1, r._2, r._3)).toSet == batchTwin,
      "streamed postings across the crash must equal the batch encode")
  }

  test("canonical ingest: replays of an applied batch id are no-ops") {
    import graft.streaming.CorpusStream
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text")
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    def mapOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "canon_id", "n_members", "is_canonical")
        .as[(Long, Long, Long, Long)].collect().toSet
    val ingest = new CorpusStream.CanonicalIngest(spark)
    try {
      ingest.ingestBatch(b0, 0L)
      val after1 = mapOf(ingest.ingestBatch(b1, 1L))
      // at-least-once replay: a post-failure foreachBatch re-offers
      // already-applied ids — both must leave the standing map untouched
      assert(mapOf(ingest.ingestBatch(b0, 0L)) == after1,
        "replaying batch 0 must be a no-op")
      assert(mapOf(ingest.ingestBatch(b1, 1L)) == after1,
        "replaying batch 1 must be a no-op")
      val m = ingest.componentMap
      assert(m.count() == m.select("doc_id").distinct().count(),
        "replay must not duplicate doc_id rows")
      // a genuinely NEW id still applies after the replays
      val b2 = docs.filter(col("doc_id") % 3 === 2)
      val after2 = mapOf(ingest.ingestBatch(b2, 2L))
      assert(after2 != after1 && after2.size > after1.size)
    } finally ingest.close()
  }

  test("canonical ingest per-batch cost is standing-corpus sub-linear") {
    import graft.streaming.CorpusStream
    // The r16 form re-ran the corpus ∪ batch PPJoin (including the full
    // corpus re-shingle) per micro-batch — per-batch cost ~linear in
    // the standing corpus. With the maintained prefix index, per-batch
    // work is batch-bounded map work plus narrow standing-index probes:
    // ingesting ONE fixed batch against a ~19× standing corpus must
    // cost well under the linear ratio. Bound 4× (generous for probe
    // scans + scheduling noise; the linear form reads ≳ 8× here).
    val docs = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.01").select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 100 >= 95).cache()
    assert(batch.count() > 10)
    def standing(pct: Int) = docs.filter(col("doc_id") % 100 < pct)
    def compOf(c: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.canonicalMapOf(c)
        .select(col("doc_id"), col("canon_id").as("component"))
    def ingestSecs(pct: Int): Double = {
      val c = standing(pct)
      val ingest = new CorpusStream.CanonicalIngest(spark, c, compOf(c))
      try {
        val t0 = System.nanoTime()
        ingest.ingestBatch(batch, 0L).count()
        (System.nanoTime() - t0) / 1e9
      } finally ingest.close()
    }
    // min-of-3 per size, alternating, so a transient stall on either
    // side cannot manufacture or mask a regression
    val small = (1 to 3).map(_ => ingestSecs(5)).min
    val big = (1 to 3).map(_ => ingestSecs(95)).min
    val ratio = big / small
    info(f"per-batch ingest: standing 5%% $small%.2f s, 95%% $big%.2f s, ratio $ratio%.2f")
    assert(ratio < 4.0,
      f"per-batch ingest cost must be standing-corpus sub-linear " +
        f"(small=$small%.3f s big=$big%.3f s ratio=$ratio%.2f)")
    batch.unpersist()
  }

  test("streaming vector ingest: postings equal the batch encode under frozen stats") {
    import graft.streaming.VectorStream
    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      .select("vec_id", "embedding")
    val d = java.nio.file.Files.createTempDirectory("graft-vecingest")
    val out = java.nio.file.Files.createTempDirectory("graft-vecingest-out").toString
    def stage(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-vechalf").toString
      vecs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(d.toString, name))
    }
    stage(col("vec_id") % 2 === 0, "a.parquet")
    val q = VectorStream.ivfIngestStream(spark, TestSpark.Sf, d.toString) {
      (postings, batchId) =>
        postings.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(out)
    }
    try {
      q.processAllAvailable()
      stage(col("vec_id") % 2 === 1, "b.parquet")
      q.processAllAvailable()
    } finally { q.stop() }
    val got = spark.read.parquet(out)
    assert(got.select("batch_id").distinct().count() == 2,
      "both landings must produce a batch")
    val streamed = got.select("vec_id", "cent_id", "codes")
      .as[(Long, Int, Array[Int])].collect().map(r => (r._1, r._2, r._3.toSeq))
    assert(streamed.length == streamed.map(_._1).distinct.length,
      "no vector may be encoded twice")
    // batch twin: the SAME frozen stats encode the whole corpus at once
    val (cents, books) = graft.operators.Similarity.servingIndex(spark, TestSpark.Sf)
    val batch = graft.operators.Similarity.encodeForIndex(vecs, cents, books)
      .as[(Long, Int, Array[Int])].collect().map(r => (r._1, r._2, r._3.toSeq)).toSet
    assert(streamed.toSet == batch,
      s"missed=${(batch -- streamed.toSet).take(3)} extra=${(streamed.toSet -- batch).take(3)}")
    assert(batch.nonEmpty)
    // postings are genuinely spread over cells (an all-one-cell encode
    // would mean the frozen centroids never engaged)
    assert(streamed.map(_._2).distinct.length > 1)
  }
}
