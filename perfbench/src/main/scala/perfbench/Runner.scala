package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{PerfbenchBridge, SparkSession}

/** Why an operation did not count as a correct result. */
final case class Failure(kind: String, message: String)

/** One operation: a catalog key, a star CTAS, a Q1 query, or a stream
  * drain. `result` holds what the consume returned until the pass's
  * checks have read it. */
final class OpRec(val name: String, val group: String, val pass: Int,
    val client: Int, val startUs: Long) {
  var endUs = 0L
  var constructS, consumeS = 0.0
  var failure: Option[Failure] = None
  var qeId: Option[Long] = None
  var declared: Option[Map[String, Int]] = None
  var result: Any = null
  var tag = ""
  def consumeTag: String = s"${Trace.ConsumeTagPrefix}$tag"
  def wallS: Double = (endUs - startUs) / 1e6
  def fail(kind: String, msg: String): Unit =
    if (failure.isEmpty) failure = Some(Failure(kind, msg.take(300)))
}

/** One pass over a workload's operations. */
final case class PassRec(index: Int, cold: Boolean, traced: Boolean,
    wallS: Double, ops: Seq[OpRec], samples: Seq[Double], layers: Map[String, Double])

/** What a finished operation hands back from its worker thread. */
private final case class Done(constructS: Double, consumeS: Double, result: Any,
    qeId: Option[Long], declared: Option[Map[String, Int]])

/** Shared state of one benchmark run: the session, the instruments and
  * the operation runner with its per-operation timeout and run budget. */
final class Ctx(val args: Args) {
  /** Past this, an operation counts as failed and the run moves on. */
  val OpTimeoutS: Double = args.opTimeoutS
  /** Epoch time after which no operation starts: `--budget` seconds
    * after JVM start. */
  private val budgetEndMs =
    ManagementFactory.getRuntimeMXBean.getStartTime + (args.budgetS * 1000).toLong
  val spans = new Spans
  val trace = new Trace(spans)
  private val opSeq = new AtomicLong(0)
  var spark: SparkSession = _
  var runSpan = 0L

  /** Build a session the way the program's own mains do, at local[N],
    * and attach the instruments. */
  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${args.work}/checkpoints")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(trace)
    s.listenerManager.register(trace)
    s.streams.addListener(trace.streams)
    spark = s
    s
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  def drain(): Unit = PerfbenchBridge.drain(spark.sparkContext)

  def tracing_=(on: Boolean): Unit = { trace.tracing = on; spans.on = on }
  def tracing: Boolean = trace.tracing

  /** Run one operation: `construct` builds what the program returns
    * (driver-side work), `consume` runs it to completion. Both are timed
    * on a worker thread of their own, so that a hang anywhere, driver
    * side included, is cut off after `OpTimeoutS`: the operation's jobs
    * are cancelled by tag, the worker is interrupted and left behind,
    * and the operation counts as a timeout. An operation due after the
    * run budget is spent is not started and counts as a timeout too. A
    * throw or a timeout is recorded on the returned record, never
    * rethrown. */
  def op[A](name: String, group: String, pass: Int, client: Int, parent: Long)(
      construct: => A)(consume: A => Any): OpRec = {
    val sc = spark.sparkContext
    val tag = s"${Trace.OpTagPrefix}${opSeq.incrementAndGet()}"
    val opId = spans.newId()
    val constructId = spans.newId()
    val consumeId = spans.newId()
    val rec = new OpRec(name, group, pass, client, spans.nowUs())
    rec.tag = tag
    if (System.currentTimeMillis() > budgetEndMs)
      rec.fail("timeout", s"not started: the run's ${args.budgetS} s budget was spent")
    else {
      trace.bindSpan(s"${Trace.ConstructTagPrefix}$tag", constructId)
      trace.bindSpan(rec.consumeTag, consumeId)
      val outcome = new AtomicReference[Either[Throwable, Done]]()
      val worker = new Thread(() => {
        sc.addJobTag(tag)
        try {
          val t0 = System.nanoTime()
          val a = spans.span(opId, s"$name.construct", "construct", constructId)(_ => construct)
          val t1 = System.nanoTime()
          // a second tag marks the query executions the consume itself runs
          sc.addJobTag(rec.consumeTag)
          val result =
            try spans.span(opId, s"$name.consume", "consume", consumeId)(_ => consume(a))
            finally sc.removeJobTag(rec.consumeTag)
          val t2 = System.nanoTime()
          val plan = a match {
            case ds: org.apache.spark.sql.Dataset[_] =>
              (Some(ds.queryExecution.id), Some(Census.of(ds.queryExecution.optimizedPlan)))
            case _ => (None, None)
          }
          outcome.set(Right(Done((t1 - t0) / 1e9, (t2 - t1) / 1e9, result, plan._1, plan._2)))
        } catch {
          case e: Throwable => outcome.set(Left(e))
        } finally sc.removeJobTag(tag)
      }, s"perfbench-$tag")
      worker.setDaemon(true)
      worker.start()
      worker.join((OpTimeoutS * 1000).toLong)
      if (worker.isAlive) {
        sc.cancelJobsWithTag(tag)
        worker.interrupt()
        rec.fail("timeout", s"no result within $OpTimeoutS s")
      } else outcome.get match {
        case Right(d) =>
          rec.constructS = d.constructS
          rec.consumeS = d.consumeS
          rec.result = d.result
          rec.qeId = d.qeId
          rec.declared = d.declared
        case Left(e) => rec.fail("throw", s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    rec.endUs = spans.nowUs()
    spans.add(Span(opId, parent, name, "operation", rec.startUs, rec.endUs,
      Map("key" -> name, "group" -> group, "pass" -> pass,
        "client" -> client, "seed" -> args.seed, "tag" -> tag)))
    rec
  }

  /** The plan-completeness check: a query execution the timed consume
    * ran must keep every Window, Aggregate, Join and Generate node of
    * the declared frame's optimized plan. Call after `drain()`. */
  def checkPlan(rec: OpRec): Unit = if (rec.failure.isEmpty) rec.declared.foreach { declared =>
    val ran = trace.qes.asScala.collect { case (id, q) if trace.tagsOf(id).contains(rec.consumeTag) => q }.toSeq
    if (ran.isEmpty) rec.fail("plan_unseen", "the timed consume reported no query execution")
    else if (!ran.exists(q => Census.lost(declared, q.census).isEmpty)) {
      val q = ran.minBy(q => Census.lost(declared, q.census).size)
      rec.fail("plan_incomplete", s"the timed action lost ${Census.lost(declared, q.census).mkString(",")} " +
        s"nodes: declared $declared, executed ${q.census}")
    }
  }

  /** Per-pass layer numbers read from the instruments, for the passes
    * that ran traced. */
  def layerNumbers(ops: Seq[OpRec], wallS: Double): Map[String, Double] = {
    val ex = new ExecAcc
    ops.foreach(o => ex.add(trace.execFor(o.tag)))
    val tags = ops.map(_.tag).toSet
    val qes = trace.qes.asScala.collect { case (id, q) if trace.tagsOf(id).exists(tags.contains) => q }.toSeq
    // time the pass's operations spent with none of their tasks running
    val idleUs = ops.map { o =>
      val mine = trace.execFor(o.tag).taskIntervals
        .map { case (a, b) => (a * 1000L, b * 1000L) }
        .map { case (a, b) => (math.max(a, o.startUs), math.min(b, o.endUs)) }
        .filter { case (a, b) => b > a }
      (o.endUs - o.startUs) - Trace.unionLength(mine.toSeq)
    }.sum
    Map(
      "construct_s" -> ops.map(_.constructS).sum,
      "consume_s" -> ops.map(_.consumeS).sum,
      "catalyst_analysis_s" -> qes.map(_.analysisS).sum,
      "catalyst_optimization_s" -> qes.map(_.optimizationS).sum,
      "catalyst_planning_s" -> qes.map(_.planningS).sum,
      "exec_jobs" -> ex.jobs.toDouble,
      "exec_stages" -> ex.stages.toDouble,
      "exec_tasks" -> ex.tasks.toDouble,
      "exec_task_s" -> ex.taskS,
      "exec_cpu_s" -> ex.cpuS,
      "exec_gc_s" -> ex.gcS,
      "exec_sched_wait_s" -> ex.schedWaitS,
      "exec_idle_s" -> idleUs / 1e6,
      "exec_tiny_task_frac" -> (if (ex.tasks == 0) 0.0 else ex.tinyTasks.toDouble / ex.tasks),
      "exec_shuffle_write_bytes" -> ex.shuffleWriteBytes.toDouble,
      "exec_shuffle_write_s" -> ex.shuffleWriteS,
      "exec_shuffle_read_bytes" -> ex.shuffleReadBytes.toDouble,
      "exec_fetch_wait_s" -> ex.fetchWaitS,
      "exec_spill_bytes" -> ex.spillBytes.toDouble,
      "exec_input_bytes" -> ex.inputBytes.toDouble,
      "exec_output_bytes" -> ex.outputBytes.toDouble,
      "pass_wall_s" -> wallS)
  }

  /** Bytes held by cached and checkpointed blocks, in MB. */
  def pinnedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Driver heap in use after a forced collection, in MB. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)/n quantile, read as the sample with ten samples above it.
    * Returns (value, percentile, n); with ten or fewer samples there is
    * no such percentile and the median is given as percentile 50. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (median(xs), 50.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** Mean of each key over the given maps. */
  def meanMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    if (ms.isEmpty) Map.empty
    else ms.flatMap(_.keys).distinct.map(k => k -> ms.map(_.getOrElse(k, 0.0)).sum / ms.size).toMap
}

/** Accumulates a run's passes and its failure list. */
final class RunLog {
  val passes = mutable.ArrayBuffer.empty[PassRec]
  def ops: Seq[OpRec] = passes.toSeq.flatMap(_.ops)
  def failures: Seq[OpRec] = ops.filter(_.failure.nonEmpty)
}
