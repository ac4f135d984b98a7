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
    roundSessions.synchronized(roundSessions.computeIfAbsent(key, _ => {
      val clone = caller.cloneSession()
      clone.conf.set("spark.sql.adaptive.enabled", "false")
      clone.conf.set("spark.sql.shuffle.partitions", width)
      clone
    }))
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

  /** `repartition(n, keys).localCheckpoint()` that KEEPS the hash
    * layout visible to the planner.
    *
    * `Dataset.localCheckpoint` wraps the materialized RDD in a
    * `LogicalRDD` whose `outputPartitioning` comes back
    * `UnknownPartitioning` (measured on this Spark build), so every
    * downstream join/aggregate on the very keys the frame is already
    * clustered by replans an ENSURE_REQUIREMENTS exchange — for an
    * iterative graph loop that is a full O(|E|) reshuffle of the edge
    * frame EVERY round. This helper re-asserts what is physically true:
    * it copies the `LogicalRDD` with
    * `HashPartitioning(keys, n)`, after which equi-joins and
    * aggregates keyed on `keys` plan exchange-free against it.
    *
    * Safety argument (why the assertion cannot lie): the frame is
    * materialized by THIS method via `repartition(n, keys)` with an
    * EXPLICIT partition count — a `REPARTITION_BY_NUM` shuffle that AQE
    * never coalesces or re-sizes — so the checkpointed RDD's layout is
    * exactly `hashpartitioning(keys, n)` by construction. Asserting a
    * layout a frame does not have would silently mis-join; that is why
    * this method owns the repartition instead of trusting the caller's.
    *
    * Storage: plain eager `localCheckpoint()` (deserialized) — the
    * working-frame policy for iterative loops (see
    * [[graft.operators.Curation]] storage notes). */
  def localCheckpointHashPartitioned(df: DataFrame, n: Int,
      keys: String*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val ck = df.repartition(n, keys.map(df.col): _*)
      .localCheckpoint(true, fixpointLevel(df.sparkSession))
    val lr = ck.queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other => throw new IllegalStateException(
        s"localCheckpoint did not produce a LogicalRDD: $other")
    }
    val attrs = keys.map { k =>
      lr.output.find(_.name == k).getOrElse(throw new IllegalArgumentException(
        s"column $k not in ${lr.output.map(_.name).mkString(",")}"))
    }
    val fixed = lr.copy(outputPartitioning = HashPartitioning(attrs, n))(
      ck.sparkSession.asInstanceOf[classic.SparkSession], None, None)
    ofRows(ck.sparkSession, fixed)
  }

  /** Eager `localCheckpoint()` that returns the ROW COUNT of the
    * materialized frame from the SAME job that materializes it.
    *
    * `Dataset.localCheckpoint(eager = true)` internally persists the
    * RDD and runs a `count()` to materialize — but discards the count,
    * so every iterative fixpoint loop that needs one (k-core's edge
    * count, connected components' changed-row diff) pays a SECOND
    * whole job against the just-cached frame. On a scheduling-bound
    * round (the sf0.1 graph-family regime: 1-2 task jobs × a ~0.13 s
    * per-job floor) that doubles the round's fixed cost; at cluster
    * scale it is still one fewer driver round trip and cache scan per
    * round. This helper does what the eager checkpoint does — execute,
    * copy rows, persist — and simply keeps the count the materializing
    * action already computes.
    *
    * Same storage (MEMORY_AND_DISK, deserialized) and same release
    * contract ([[releaseLocalCheckpoint]]) as a plain
    * `localCheckpoint()`. */
  def localCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val (out, n) = localCheckpointPartitionCounts(df)
    (out, n.sum)
  }

  /** [[localCheckpointCounted]] keeping the PER-PARTITION tallies (in
    * partition-id order — `runJob` results index by partition): the
    * rank-offset bookkeeping of [[graft.plans.ExactRank]] fused into
    * the materializing job, replacing its separate
    * `groupBy(spark_partition_id).count.collect` pass (one whole job +
    * a width-sized stage per rank pass, r18 optimization round). */
  def localCheckpointPartitionCounts(df: DataFrame): (DataFrame, Array[Long]) =
    checkpointWith(df, (_, it) => { var c = 0L
      while (it.hasNext) { it.next(); c += 1 }; c })

  /** Eager `localCheckpoint()` that additionally counts the rows whose
    * BOOLEAN column `boolCol` is true (nulls count as false), again in
    * the single materializing job — the changed-row convergence probe
    * of the iterative graph loops (LPA / connected components) fused
    * into the checkpoint instead of running as its own job per round.
    *
    * Exactness: the per-partition tallies come back as the job RESULT
    * (one value per successful final task attempt), not as an
    * accumulator, so retried/speculative tasks cannot double-count. */
  def localCheckpointCountIf(df: DataFrame,
      boolCol: String): (DataFrame, Long) = {
    val idx = df.queryExecution.analyzed.output.indexWhere(_.name == boolCol)
    require(idx >= 0, s"localCheckpointCountIf: no column $boolCol in " +
      df.queryExecution.analyzed.output.map(_.name).mkString(","))
    val (out, n) = checkpointWith(df, (_, it) => { var c = 0L
      while (it.hasNext) { val r = it.next()
        if (!r.isNullAt(idx) && r.getBoolean(idx)) c += 1 }
      c })
    (out, n.sum)
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

  /** Shared body: execute `df`, persist the copied-row RDD at the
    * localCheckpoint default storage (replication per [[fixpointLevel]]),
    * run ONE job whose per-partition
    * function both materializes the cache (iterating a persisted RDD
    * populates its blocks — exactly how `count()` materializes an
    * eager checkpoint) and folds `f` over the rows, and wrap the
    * pinned RDD in a [[execution.LogicalRDD]] like
    * `Dataset.localCheckpoint` does. */
  private def checkpointWith[T: scala.reflect.ClassTag](df: DataFrame,
      f: (org.apache.spark.TaskContext,
          Iterator[org.apache.spark.sql.catalyst.InternalRow]) => T)
      : (DataFrame, Array[T]) = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    // map(_.copy()): unsafe-row buffers are reused per partition; a
    // persisted RDD must own its rows (the same copy Dataset.checkpoint
    // makes before persisting)
    val rdd = qe.toRdd.map(_.copy())
    rdd.persist(fixpointLevel(spark))
    // truncate lineage exactly like Dataset.localCheckpoint (which
    // calls persist + RDD.localCheckpoint + count): the runJob below is
    // the first action, so it materializes AND truncates. Without this
    // (ADVICE r17, medium) every fixpoint round's frame kept a strong
    // shuffle-dependency chain through all prior rounds — DAGScheduler
    // re-walked a linearly growing stage graph per round and superseded
    // rounds' shuffle files outlived their release.
    rdd.localCheckpoint()
    val res = spark.sparkContext.runJob(rdd, f)
    val lr = execution.LogicalRDD(qe.analyzed.output, rdd)(
      spark.asInstanceOf[classic.SparkSession], None, None)
    (ofRows(spark, lr), res)
  }

  /** Cached bytes (memory + disk) behind a `localCheckpoint`ed frame,
    * read from driver-side BlockManager metadata — a FREE size probe:
    * deciding a size-gated code path with `df.count()` costs a full
    * scan of the cached frame per invocation (measured seconds per rep
    * on the ×10 co-purchase edge list), while the storage info is
    * already on the driver the moment the eager checkpoint returns. */
  def checkpointStorageBytes(df: DataFrame): Long = {
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    // Fail LOUDLY on the unknown-size cases instead of returning 0:
    // callers size-gate on this value and 0 reads as "small", which is
    // the unsafe direction — a not-yet-checkpointed frame or evicted
    // blocks would arm small-graph levers (chained broadcasts, AQE
    // off) on a graph of unknown size.
    require(rdds.nonEmpty,
      "checkpointStorageBytes: frame has no LogicalRDD — call it on an " +
        "eagerly localCheckpoint()ed frame, not an arbitrary plan")
    val ids = rdds.map(_.id).toSet
    val infos = df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
    // An EMPTY checkpoint (0 partitions, e.g. AQE-coalesced empty
    // frame) legitimately stores no blocks — size 0 is the truth, not
    // an unknown. A checkpoint reporting FEWER cached partitions than
    // the RDDs hold (including zero) is the unknown case: blocks
    // evicted under memory pressure between the eager checkpoint and
    // this probe — a PARTIAL eviction would otherwise under-report and
    // could mis-arm a size-gated caller's small path. Report
    // Long.MaxValue so such callers take the BIG-graph path — same
    // safety direction as failing (small-graph levers never arm on an
    // unknown size) but the job survives, degrading to the all-shuffle
    // plan instead of aborting. The exception above stays reserved for
    // the no-LogicalRDD misuse case.
    val totalParts = rdds.map(_.getNumPartitions.toLong).sum
    val cachedParts = infos.map(_.numCachedPartitions.toLong).sum
    if (cachedParts < totalParts) Long.MaxValue
    else infos.map(i => i.memSize + i.diskSize).sum
  }

  /** [[checkpointStorageBytes]] for seams where the frame may legally
    * be a caller-provided plan that was never eagerly checkpointed
    * (ADVICE r17: a CacheManager-persisted edge frame handed to
    * `pageRankOf` crashed the strict probe's require). No LogicalRDD
    * means the size is simply unknown — report Long.MaxValue so
    * size-gated callers take the big-graph path, the same safety
    * direction as the strict probe's partial-eviction fallback. */
  def checkpointStorageBytesOrUnknown(df: DataFrame): Long = {
    val hasRdd = df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    if (hasRdd) checkpointStorageBytes(df) else Long.MaxValue
  }

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
