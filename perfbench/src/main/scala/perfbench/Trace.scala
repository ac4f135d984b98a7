package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window}
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Times are epoch
  * microseconds so benchmark-side spans and Spark's listener events
  * (epoch milliseconds) share one clock. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any])

/** In-memory span store, written once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(1)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  @volatile var on = false

  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def newId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = if (on) buf.add(s)

  /** Run `f` inside a span; `f` receives the span id for its children. */
  def span[T](parent: Long, name: String, kind: String, id: Long = newId())(f: Long => T): T = {
    val t0 = nowUs()
    try f(id) finally add(Span(id, parent, name, kind, t0, nowUs(), Map.empty))
  }

  def all: Seq[Span] = buf.asScala.toSeq

  /** Each span's duration minus the part of its interval that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }
      s.id -> ((s.endUs - s.startUs) - Trace.unionLength(iv))
    }.toMap
  }
}

/** Plan-shape census: the node kinds Catalyst may prune under a cheaper
  * action than the declared one. */
object Census {
  val Kinds: Seq[String] = Seq("Window", "Aggregate", "Join", "Generate")

  def of(plan: LogicalPlan): Map[String, Int] = {
    val names = plan.collectWithSubqueries {
      case _: Window => "Window"
      case _: Aggregate => "Aggregate"
      case _: Join => "Join"
      case _: Generate => "Generate"
    }
    Kinds.map(k => k -> names.count(_ == k)).toMap
  }

  /** The kinds whose count dropped from `declared` to `executed`. */
  def lost(declared: Map[String, Int], executed: Map[String, Int]): Seq[String] =
    Kinds.filter(k => executed.getOrElse(k, 0) < declared.getOrElse(k, 0))
}

/** Execution counters for one operation, summed from task metrics. */
final class ExecAcc {
  var jobs, stages, tasks, tinyTasks = 0L
  var taskS, cpuS, gcS, schedWaitS, shuffleWriteS, fetchWaitS = 0.0
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, inputBytes, outputBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: ExecAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tinyTasks += o.tinyTasks
    taskS += o.taskS; cpuS += o.cpuS; gcS += o.gcS; schedWaitS += o.schedWaitS
    shuffleWriteS += o.shuffleWriteS; fetchWaitS += o.fetchWaitS
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    taskIntervals ++= o.taskIntervals
  }
}

/** One finished query execution as Catalyst reported it. */
final case class QeRecord(analysisS: Double, optimizationS: Double, planningS: Double,
    census: Map[String, Int], rules: Map[String, (Long, Long, Long)])

/** Spark's instruments, read from outside the program:
  *  - SQL execution start and end events map each query execution to
  *    the job tags of the thread that ran it;
  *  - a QueryExecutionListener keeps each execution's phase and rule
  *    summaries and its optimized-plan census (always on: the
  *    plan-completeness check reads it);
  *  - when tracing, a SparkListener sums task metrics per operation
  *    (by job tag) and records job and stage spans;
  *  - a StreamingQueryListener keeps every micro-batch's progress. */
final class Trace(val spans: Spans) extends SparkListener with QueryExecutionListener {
  import Trace._

  @volatile var tracing = false
  val qes = new ConcurrentHashMap[Long, QeRecord]()
  private val execTags = new ConcurrentHashMap[Long, Set[String]]()
  private val qeTags = new ConcurrentHashMap[Long, Set[String]]()
  private val exec = new ConcurrentHashMap[String, ExecAcc]()
  private val phaseSpan = new ConcurrentHashMap[String, Long]()
  private val jobOp = new ConcurrentHashMap[Int, (String, Long, Long)]()
  private val stageOp = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, Long]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  /** Tell the listener which span a job tag's jobs belong to. */
  def bindSpan(tag: String, spanId: Long): Unit = phaseSpan.put(tag, spanId)

  def execFor(tag: String): ExecAcc = Option(exec.get(tag)).getOrElse(new ExecAcc)
  /** The job tags of the thread that ran a query execution. */
  def tagsOf(qeId: Long): Set[String] = Option(qeTags.get(qeId)).getOrElse(Set.empty)

  // ---- QueryExecutionListener ----
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def s(p: String) = ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    val census = try Census.of(qe.optimizedPlan) catch { case _: Throwable => Map.empty[String, Int] }
    val rules = qe.tracker.rules.collect {
      case (name, r) if name.contains("graft") =>
        name -> (r.totalTimeNs, r.numInvocations, r.numEffectiveInvocations)
    }
    qes.put(qe.id, QeRecord(s("analysis"), s("optimization"), s("planning"), census, rules))
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  // ---- SparkListener ----
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execTags.put(e.executionId, e.jobTags)
    case e: SparkListenerSQLExecutionEnd =>
      Option(execTags.remove(e.executionId)).foreach { tags =>
        PerfbenchBridge.queryExecutionId(e).foreach(qeTags.put(_, tags))
      }
    case _ =>
  }

  private def tagsOf(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq.flatMap(_.split(","))

  private def acc(tag: String): ExecAcc = exec.computeIfAbsent(tag, _ => new ExecAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
    val tags = tagsOf(e.properties)
    val tag = tags.find(_.startsWith(OpTagPrefix)).getOrElse("untagged")
    // a job the consume ran hangs under the consume span, others under construct
    val phase = tags.find(_.startsWith(ConsumeTagPrefix)).getOrElse(s"$ConstructTagPrefix$tag")
    val id = spans.newId()
    jobOp.put(e.jobId, (phase, id, e.time * 1000L))
    e.stageIds.foreach(s => stageOp.put(s, (tag, id)))
    val a = acc(tag)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobOp.remove(e.jobId)).foreach {
    case (phase, id, startUs) =>
      spans.add(Span(id, Option(phaseSpan.get(phase)).getOrElse(0L), s"job ${e.jobId}", "job",
        startUs, e.time * 1000L, Map("tag" -> phase)))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (tracing)
    stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a: Long, b: Long) => math.min(a, b))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageOp.get(e.stageId)).foreach {
    case (tag, _) =>
      val a = acc(tag)
      val info = e.taskInfo
      val dur = math.max(0L, info.finishTime - info.launchTime)
      a.synchronized {
        a.tasks += 1
        if (dur < 10) a.tinyTasks += 1
        a.taskIntervals += ((info.launchTime, info.finishTime))
        Option(e.taskMetrics).foreach { m =>
          a.taskS += m.executorRunTime / 1000.0
          a.cpuS += m.executorCpuTime / 1e9
          a.gcS += m.jvmGCTime / 1000.0
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleWriteS += m.shuffleWriteMetrics.writeTime / 1e9
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1000.0
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.remove(e.stageInfo.stageId)).foreach { case (tag, jobSpan) =>
      val si = e.stageInfo
      val first = Option(stageFirstLaunch.remove(si.stageId))
      val a = acc(tag)
      a.synchronized {
        a.stages += 1
        for (sub <- si.submissionTime; f <- first) a.schedWaitS += math.max(0L, f - sub) / 1000.0
      }
      for (sub <- si.submissionTime; end <- si.completionTime)
        spans.add(Span(spans.newId(), jobSpan, s"stage ${si.stageId}", "stage",
          sub * 1000L, end * 1000L, Map("tasks" -> si.numTasks)))
    }

  // ---- StreamingQueryListener ----
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Trace {
  val OpTagPrefix = "op-"
  val ConsumeTagPrefix = "consume-"
  val ConstructTagPrefix = "construct-"

  /** Length of the union of [a, b) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curA, curB = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) total += curB - curA
    total
  }
}
