package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two GraftBridge checkpoint calls the iterative graph loops
  * stand on:
  *
  *  1. `checkpoint` — one job materializes the frame and returns its
  *     exact per-partition row counts and fold; the frame's statistics
  *     carry the origin estimate and that row count, so a small
  *     checkpoint broadcasts with no hint; with a hash layout the
  *     re-asserted layout is visible to the planner, an equi-join
  *     between two frames asserted on their join keys plans WITHOUT
  *     exchanging either side, and the results stay correct (the
  *     assertion describes the real layout).
  *  2. `releaseLocalCheckpoint` — actually evicts the pinned RDD.
  *     `Dataset.unpersist()` is a CacheManager call that does NOT touch
  *     checkpoint RDDs on this Spark build; if a future Spark version
  *     changes that, the no-op pin below fails and the helper can be
  *     retired.
  */
class CheckpointLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(flatten)
  }

  test("re-asserted checkpoint layout reaches the planner") {
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    val p = GraftBridge.checkpoint(df, Some((4, Seq("k")))).frame
    assert(p.queryExecution.executedPlan.outputPartitioning.toString
      .startsWith("hashpartitioning(k"))
    GraftBridge.releaseLocalCheckpoint(p)
  }

  test("co-partitioned asserted frames join exchange-free, correctly") {
    val edges = spark.range(20000)
      .select((col("id") % 997).as("src"), (col("id") % 701).as("dst"))
    val e = GraftBridge.checkpoint(edges, Some((4, Seq("src")))).frame
    val state0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), (col("id") * 3 + 1).as("v"))
    val s = GraftBridge.checkpoint(
      state0.withColumnRenamed("id", "src"), Some((4, Seq("src")))).frame
    val j = e.join(
        s.withColumnRenamed("src", "id").hint("shuffle_hash"),
        col("src") === col("id"))
      .select(col("dst"), col("v"))
      .groupBy("dst").agg(sum("v").as("sv"))
    // force execution so AQE finalizes, then walk the final tree: the
    // ONLY exchange is the aggregate's own — neither join input moved
    val got = j.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exchanges = flatten(j.queryExecution.executedPlan)
      .collect { case ex: ShuffleExchangeExec => ex }
    assert(exchanges.length == 1,
      s"join of co-partitioned asserted frames re-exchanged an input:\n" +
        j.queryExecution.executedPlan)
    val want = edges.join(state0, edges("src") === state0("id"))
      .select(col("dst"), col("v")).groupBy("dst").agg(sum("v").as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
    Seq(e, s).foreach(GraftBridge.releaseLocalCheckpoint)
  }

  test("a checkpoint under the broadcast threshold joins as a broadcast with no hint") {
    val small = GraftBridge.checkpoint(
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))).frame
    // estimated at 400 MB, far above the threshold; never executed
    val big = spark.range(50000000L)
    val joins = flatten(big.join(small, "id").queryExecution.sparkPlan)
      .collect { case j: BroadcastHashJoinExec => j }
    assert(joins.map(_.buildSide) == Seq(BuildRight),
      s"checkpoint side not broadcast:\n${big.join(small, "id").queryExecution.sparkPlan}")
    GraftBridge.releaseLocalCheckpoint(small)
  }

  test("checkpoint statistics carry the exact row count, plain and hashed") {
    // the filter's estimate knows no row count; the checkpoint's does
    val df = spark.range(1000).filter(col("id") % 3 === 0)
      .select(col("id"), (col("id") % 7).as("k"))
    for (ck <- Seq(GraftBridge.checkpoint(df),
        GraftBridge.checkpoint(df, Some((4, Seq("k")))))) {
      assert(ck.rows == 334L)
      assert(ck.frame.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(334)))
      assert(ck.frame.count() == 334L)
      GraftBridge.releaseLocalCheckpoint(ck.frame)
    }
  }

  test("a hashed checkpoint with a fold runs one job and counts exactly") {
    // on a round session (AQE off) the repartition's shuffle runs inside
    // the materializing job instead of as a query stage of its own
    val rounds = GraftBridge.roundSession(spark, 4)
    val df = GraftBridge.onSession(rounds,
      spark.range(1000).select(col("id"), (col("id") % 7 === 0).as("chg")))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val ck =
      try {
        val c = GraftBridge.checkpoint(df, Some((4, Seq("id"))),
          fold = r => if (r.getBoolean(1)) 1L else 0L)
        GraftBridge.drainListenerBus(spark)
        c
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 1)
    assert(ck.partitionRows.length == 4 && ck.rows == 1000L && ck.tally == 143L)
    val seen = ck.frame.groupBy(spark_partition_id().as("p")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert((0 until 4).map(p => seen.getOrElse(p, 0L)) == ck.partitionRows.toSeq)
    GraftBridge.releaseLocalCheckpoint(ck.frame)
  }

  test("releaseLocalCheckpoint evicts; Dataset.unpersist does not") {
    val sc = spark.sparkContext
    def pinnedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = pinnedIds
    val ck = spark.range(1000).select(col("id")).localCheckpoint()
    val mine = (pinnedIds -- before)
    assert(mine.nonEmpty, "localCheckpoint pinned nothing")
    ck.unpersist(blocking = true)
    assert((pinnedIds -- before) == mine,
      "Dataset.unpersist released the checkpoint RDD — Spark behavior " +
        "changed; releaseLocalCheckpoint may be retirable")
    GraftBridge.releaseLocalCheckpoint(ck)
    // non-blocking release: poll briefly for the async drop
    val deadline = System.nanoTime() + 10e9.toLong
    while ((pinnedIds -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((pinnedIds -- before).isEmpty,
      "releaseLocalCheckpoint did not evict the checkpoint RDD")
  }
}
