package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion — the
  * standard pattern for Spark extension libraries (cf. public projects
  * like Qbeast/Sedona exposing package-private factories the same way).
  * Keeps the rest of the codebase in the `graft` package. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — `Dataset.ofRows` is
    * private[sql]; needed to surface custom LogicalPlan nodes. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Stable per-session identity (`classic.SparkSession.sessionUUID` is
    * not surfaced on the abstract API class) — keys the per-session
    * cache entries. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** The analyzed logical plan under a DataFrame. */
  def planOf(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `df` as a frame of `spark`: the same analyzed plan, planned and
    * executed under `spark`'s conf from here on. */
  def onSession(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df else ofRows(spark, planOf(df))

  /** A session for iterative round loops, with AQE off and `width`
    * shuffle partitions. `cloneSession` copies the caller's runtime
    * conf, query-execution listeners, extensions and job tags and shares
    * its SparkContext and cache manager; only the clone's conf is
    * written, so queries planned concurrently on the caller's session
    * never see the loop's settings. Frames moved onto it with
    * [[onSession]] plan every round, and every frame derived from them,
    * under that conf.
    *
    * Why AQE off: below the broadcast gate every round join is
    * hint-decided and every width is set here or explicitly, so AQE
    * buys nothing but splits each round's materialization into one job
    * per query stage — pure scheduling floor when the rounds are 1-2
    * task jobs (r17 job profile: ~0.13 s per job). With AQE off nothing
    * coalesces the reduce sides, hence the explicit state-sized `width`
    * ([[stateWidth]]): at the session's nPart the saved jobs were eaten
    * by near-empty tasks (pagerank: 31 → 24 jobs, but 31 → 184 tasks and
    * +0.6 s wall).
    *
    * A clone is reused while the caller's conf, listeners and job tags
    * are what they were when it was made: it is never written after
    * that, so concurrent loops can share it. A fresh clone per loop
    * would recompile every generated class of the loop, because Spark
    * gives each session UUID its own executor class loader and keys
    * its codegen cache by class loader. */
  def roundSession(spark: SparkSession, width: Int): SparkSession = {
    val caller = spark.asInstanceOf[classic.SparkSession]
    val key = (caller.sessionUUID, width, caller.conf.getAll,
      caller.listenerManager.listListeners().toSeq, caller.getTags())
    roundSessions.synchronized(roundSessions.computeIfAbsent(key, _ =>
      cloneWith(caller, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> width.toString)))
  }

  /** A clone of `spark` with `conf` set on the clone only: the caller's
    * runtime conf, listeners, extensions and job tags are copied, its
    * SparkContext and cache manager shared, and its conf never
    * written. */
  def cloneWith(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** The most recently used round sessions, least recent evicted first. */
  private val roundSessions =
    new java.util.LinkedHashMap[AnyRef, SparkSession](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef, SparkSession]): Boolean = size > 16
    }

  /** Shuffle width for a stage over `rows` rows of per-node or per-user
    * state: one partition per 16384 rows, capped at the session's
    * `spark.sql.shuffle.partitions` and never below 8. Tiny state then
    * runs a few tasks instead of nPart near-empty ones, and large state
    * keeps the configured width. The loops that use it are
    * partitioning-independent by design, so the width never changes a
    * result. */
  def stateWidth(spark: SparkSession, rows: Long): Int = math.max(8,
    math.min(spark.sessionState.conf.numShufflePartitions, (rows / 16384L).toInt + 1))

  /** Drain the listener bus — `QueryExecutionListener` callbacks are
    * asynchronous, so plan-capturing tests must flush before
    * asserting (`listenerBus` is `private[spark]`). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** What [[checkpoint]] returns: the pinned frame, the exact row count
    * of each of its partitions (in partition-id order), and the sum of
    * the fold over its rows. */
  final case class Checkpoint(frame: DataFrame, partitionRows: Array[Long],
      tally: Long) {
    def rows: Long = partitionRows.sum
  }

  /** Eager local checkpoint of `df` in ONE job that also counts the
    * rows of every partition and sums `fold` over them.
    *
    * The job executes `df`, persists the copied rows at
    * [[fixpointLevel]], truncates lineage (`RDD.localCheckpoint`, as
    * `Dataset.localCheckpoint` does) and iterates every partition — the
    * iteration both fills the cache and counts. Callers that need a row
    * count (a size gate, a fixpoint test, rank offsets) or a tally (the
    * changed-row count of a label round) read it off this job instead
    * of running a second one against the cached frame. The counts come
    * back as the job RESULT (one value per successful final task
    * attempt), not as an accumulator, so retried or speculative tasks
    * cannot double-count.
    *
    * Statistics: the frame's `LogicalRDD` carries the origin plan's
    * size estimate and the exact row count, as `Dataset.localCheckpoint`
    * keeps the origin estimate. A checkpoint without statistics reports
    * `defaultSizeInBytes` (8 EiB), and no join against it is ever
    * broadcast without a hint.
    *
    * Layout: with `hashed = Some((width, keys))` the frame is first
    * `repartition(width, keys)`ed and the `LogicalRDD` reports
    * `HashPartitioning(keys, width)`, so joins and aggregates keyed on
    * `keys` plan with no exchange on this side (a plain checkpoint
    * reports `UnknownPartitioning`, and an iterative loop would reshuffle
    * its O(|E|) edge frame every round). The assertion cannot lie: the
    * repartition has an explicit count (`REPARTITION_BY_NUM`, which AQE
    * never coalesces), so the materialized RDD is laid out exactly so by
    * construction — this method owns the repartition rather than
    * trusting the caller's, and requires the width it asserts.
    *
    * Release with [[releaseLocalCheckpoint]]. */
  def checkpoint(df: DataFrame, hashed: Option[(Int, Seq[String])] = None,
      fold: catalyst.InternalRow => Long = _ => 0L): Checkpoint = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
    val src = hashed.fold(df) { case (width, keys) =>
      df.repartition(width, keys.map(df.col): _*) }
    val spark = src.sparkSession
    val qe = src.queryExecution
    // map(_.copy()): unsafe-row buffers are reused per partition; a
    // persisted RDD must own its rows (the same copy Dataset.checkpoint
    // makes before persisting)
    val rdd = qe.toRdd.map(_.copy())
    val output = qe.analyzed.output
    val layout = hashed match {
      case None => UnknownPartitioning(0)
      case Some((width, keys)) =>
        require(rdd.getNumPartitions == width, s"checkpoint: asked for $width " +
          s"hash partitions, materialized ${rdd.getNumPartitions}")
        HashPartitioning(keys.map(k => output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"column $k not in ${output.map(_.name).mkString(",")}"))), width)
    }
    rdd.persist(fixpointLevel(spark))
    // the runJob below is the first action, so it materializes AND
    // truncates: without the truncation every fixpoint round's frame
    // keeps a shuffle-dependency chain through all prior rounds
    rdd.localCheckpoint()
    val counted = spark.sparkContext.runJob(rdd,
      (it: Iterator[catalyst.InternalRow]) => {
        var n = 0L
        var t = 0L
        while (it.hasNext) { t += fold(it.next()); n += 1 }
        (n, t)
      })
    val partitionRows = counted.map(_._1)
    val stats = Statistics(sizeInBytes = qe.optimizedPlan.stats.sizeInBytes,
      rowCount = Some(BigInt(partitionRows.sum)))
    val lr = execution.LogicalRDD(output, rdd, layout)(
      spark.asInstanceOf[classic.SparkSession], Some(stats), None)
    Checkpoint(ofRows(spark, lr), partitionRows, counted.map(_._2).sum)
  }

  /** Cluster-grade checkpoint-durability seam for the iterative
    * fixpoint loops (r17 verdict item 7): local checkpoints truncate
    * lineage with NON-REPLICATED blocks, so on a real cluster an
    * executor loss mid-fixpoint kills the job with no recompute path —
    * fine on local[*] (the bench contract; process death loses
    * everything anyway), wrong posture at 100 TB.
    * `spark.graft.fixpoint.replicas` (default 1 — bench behavior
    * bit-identical) raises the storage replication of every working
    * checkpoint the loops pin (`RDD.localCheckpoint` preserves the
    * level's replication), so any single executor loss leaves a live
    * replica. The alternative tier — reliable `Dataset.checkpoint` into
    * a checkpoint dir — trades a full write+read of every round frame
    * for durability against multi-node loss; see SCALE.md §checkpoint
    * posture for when each is the right trade. */
  private def fixpointLevel(spark: SparkSession)
      : org.apache.spark.storage.StorageLevel = {
    val replicas =
      spark.conf.get("spark.graft.fixpoint.replicas", "1").toInt
    if (replicas <= 1) org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    else org.apache.spark.storage.StorageLevel(
      useDisk = true, useMemory = true, deserialized = true,
      replication = replicas)
  }

  /** Whether `df` is already pinned: persisted through the
    * `CacheManager`, or a checkpoint (`Dataset.localCheckpoint` or
    * [[checkpoint]]) — one `LogicalRDD` over a persisted RDD, which
    * `Dataset.storageLevel` never sees. A loop reuses a pinned input
    * instead of pinning a second copy. */
  def isPinned(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
      (df.queryExecution.analyzed match {
        case lr: execution.LogicalRDD =>
          lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
        case _ => false
      })

  /** Actually free a `localCheckpoint`ed frame's pinned blocks.
    *
    * `Dataset.unpersist()` only consults the `CacheManager`, which
    * knows nothing about checkpoint RDDs — measured on this Spark
    * build: after `df.localCheckpoint(); df.unpersist(true)` the RDD
    * still sits in `sc.getPersistentRDDs` at full storage level. The
    * blocks ARE eventually dropped by the ContextCleaner when the JVM
    * garbage-collects the RDD handle, but an iterative loop that pins
    * a shrinking O(|E|) copy per round cannot wait for GC weather —
    * at the ×100 tier that nondeterminism is the difference between
    * fitting and spilling. This walks the plan for `LogicalRDD`
    * leaves and unpersists their RDDs directly (non-blocking; the
    * block manager drops asynchronously).
    *
    * CONTRACT: the checkpoint truncated lineage, so a released frame
    * (and any projection sharing its RDD) must never be read again. */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
