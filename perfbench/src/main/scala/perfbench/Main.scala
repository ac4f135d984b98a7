package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** Command-line arguments; `run.py` supplies every one of them. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: String, out: String, inputs: String, catalog: String,
    fixture: String, commit: String, plant: Set[String], reps: Int, mode: String,
    keys: Seq[String], opTimeoutS: Double, budgetS: Double)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def g(k: String, d: String = null): String =
      m.getOrElse(k, Option(d).getOrElse(sys.error(s"missing --$k")))
    Args(g("workload", ""), g("seed", "0").toLong, g("seconds", "10").toDouble,
      g("trace", "0") == "1", g("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      g("work"), g("out"), g("inputs", ""), g("catalog", ""), g("fixture"),
      g("commit", "unknown"), g("plant", "").split(",").filter(_.nonEmpty).toSet,
      g("reps", "1").toInt, g("mode", "run"), g("keys", "").split(",").filter(_.nonEmpty).toSeq,
      g("op-timeout", "30").toDouble, g("budget", "1e9").toDouble)
  }
}

/** The benchmark's JVM side. One invocation is one run of one workload:
  * set-up (several times), a cold pass, warm passes for `--seconds`,
  * checks after every pass, in-window drift controls, then one record
  * file (and a span file when traced) and one JSON result line. */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Times a `ssb_elt` pass runs the Q1 flight against one written star. */
  val Flights = 4

  /** The end-to-end metrics every workload prints, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "warm_s" -> "s", "query_p50_s" -> "s",
    "throughput_qps" -> "ops/s", "live_heap_mb" -> "MB")

  /** The per-layer metrics every traced run prints, with their units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "construct_s" -> "s", "consume_s" -> "s",
    "catalyst_analysis_s" -> "s", "catalyst_optimization_s" -> "s", "catalyst_planning_s" -> "s",
    "exec_jobs" -> "count", "exec_stages" -> "count", "exec_tasks" -> "count",
    "exec_task_s" -> "s", "exec_cpu_s" -> "s", "exec_gc_s" -> "s",
    "exec_sched_wait_s" -> "s", "exec_idle_s" -> "s", "exec_tiny_task_frac" -> "fraction",
    "exec_shuffle_write_bytes" -> "B", "exec_shuffle_write_s" -> "s",
    "exec_shuffle_read_bytes" -> "B", "exec_spill_bytes" -> "B",
    "exec_input_bytes" -> "B", "exec_output_bytes" -> "B",
    "trace_overhead_s" -> "s")

  /** The full set of fourteen end-to-end metrics, printed on every run;
    * the workload-specific ones read n/a on the other workloads. A
    * query is a catalog key, a Q1 query, or one landed file drained
    * through all three streams. */
  val Fourteen: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "warm_s" -> "s", "query_p50_s" -> "s",
    "query_tail_s" -> "s", "throughput_qps" -> "ops/s", "failed_frac" -> "fraction",
    "star_rows_per_s" -> "rows/s", "star_bytes_ratio" -> "B/B",
    "ingest_rows_per_s" -> "rows/s", "microbatch_p50_s" -> "s", "microbatch_tail_s" -> "s",
    "live_heap_mb" -> "MB", "pinned_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val code = try {
      args.mode match {
        case "run" => run(args)
        case "pin" => Pin.pin(args)
        case "bridge" => Pin.bridge(args)
      }
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def workload(args: Args): Workload = {
    lazy val inputs = Json.read(args.inputs)
    args.workload match {
      case "catalog_serial" | "catalog_concurrent" =>
        val (serial, concurrent, expect) = Catalog.load(args.catalog)
        val serialRun = args.workload == "catalog_serial"
        val keys =
          if (args.keys == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
          else if (args.keys.nonEmpty) args.keys
          else if (serialRun) serial else concurrent
        new Catalog(keys, if (serialRun) 1 else args.cores, args.reps, args.fixture, expect, args.plant)
      case "ssb_elt" =>
        val s = inputs.get("ssb")
        // a query that selects no rows answers NULL on both engines
        val q1 = Seq("q1_1", "q1_2", "q1_3").map { q =>
          val rev = s.get("q1").get(q).get(0)
          q -> (if (rev.isNull) Long.MinValue else rev.asLong())
        }.toMap
        new SsbElt(s.get("dir").asText(), s.get("star_rows").asLong(), q1,
          s.get("tbl_bytes").asLong(), Flights, args.work)
      case "events_ingest" =>
        val e = inputs.get("events")
        new EventsIngest(e.get("files").elements().asScala.map(_.asText()).toSeq,
          e.get("rows").asLong(), args.fixture, args.work)
      case other => sys.error(s"unknown workload '$other'")
    }
  }

  private def failureOf(f: OpRec): Map[String, Any] = Map("key" -> f.name, "pass" -> f.pass,
    "client" -> f.client, "kind" -> f.failure.get.kind, "error" -> f.failure.get.message)

  /** What a record needs to be compared with another one. */
  def env(args: Args): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors, "local_width" -> s"local[${args.cores}]",
    "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION, "commit" -> args.commit, "seed" -> args.seed)

  def run(args: Args): Unit = {
    val wl = workload(args)
    val ctx = new Ctx(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: process start to session ready with sources registered,
    // then the same again on fresh sessions in the warm JVM
    val toMain = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val phases = (0 until Setups).map { i =>
      if (i > 0) ctx.stopSession()
      val n0 = System.nanoTime()
      ctx.newSession()
      val n1 = System.nanoTime()
      wl.registerSources(ctx)
      ((n1 - n0) / 1e9, (System.nanoTime() - n1) / 1e9)
    }
    val setups = phases.map { case (s, r) => s + r }.updated(0, toMain + phases.head._1 + phases.head._2)
    wl.prepare(ctx)

    // each pass's failures are written as soon as its checks are done,
    // so they survive a run that is cut off later
    val out = Paths.get(args.out)
    Files.createDirectories(out)
    val failLog = Files.newBufferedWriter(out.resolve("failures.jsonl"), StandardCharsets.UTF_8)
    val log = new RunLog
    def addPass(p: PassRec): Unit = {
      log.passes += p
      p.ops.filter(_.failure.nonEmpty).foreach(f => failLog.write(Json(failureOf(f)) + "\n"))
      failLog.flush()
    }
    val runStart = ctx.spans.nowUs()
    ctx.runSpan = ctx.spans.newId()
    ctx.tracing = args.trace
    addPass(wl.pass(ctx, 0, cold = true))
    // warm passes for --seconds. A traced run alternates untraced and
    // traced passes, at least untraced-traced-untraced, so that the
    // passes still warming up fall on both sides of the overhead.
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val minPasses = math.max(wl.minWarmPasses, if (args.trace) 3 else 1)
    var i = 1
    while (i <= minPasses || System.nanoTime() < deadline) {
      ctx.tracing = args.trace && i % 2 == 0
      addPass(wl.pass(ctx, i, cold = false))
      i += 1
    }
    ctx.tracing = args.trace
    val extraLayers = if (args.trace) wl.extraLayers(ctx, log) else Map.empty[String, Double]
    val controls = Controls.run(ctx)
    val heap = ctx.liveHeapMb()
    val pinned = ctx.pinnedMb()
    ctx.spans.add(Span(ctx.runSpan, 0, s"run ${args.workload}", "run", runStart, ctx.spans.nowUs(),
      Map("seed" -> args.seed, "workload" -> args.workload)))
    val extraE2e = wl.extraEndToEnd(ctx, log)
    ctx.stopSession()
    failLog.close()

    val warm = log.passes.filter(!_.cold).toSeq
    val untraced = warm.filter(!_.traced)
    val samples = untraced.flatMap(_.samples)
    val (tail, tailPct, nSamples) = Stats.tail(samples)
    val attempted = log.ops.size
    val failures = log.failures
    val opsOk = untraced.map(_.samples.size).sum
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "cold_s" -> log.passes.head.wallS,
      "warm_s" -> Stats.median(untraced.map(_.wallS)),
      "query_p50_s" -> Stats.median(samples),
      "throughput_qps" -> opsOk / untraced.map(_.wallS).sum,
      "live_heap_mb" -> heap)
    val traced = warm.filter(_.traced)
    val layers = Stats.meanMaps(traced.map(_.layers)) ++ (
      if (args.trace) Map("trace_overhead_s" ->
        (Stats.median(traced.map(_.wallS)) - Stats.median(untraced.map(_.wallS))))
      else Map.empty)
    val failedFrac = failures.size.toDouble / attempted
    val fourteen: Map[String, Any] = e2e ++ Map("query_tail_s" -> tail,
      "failed_frac" -> failedFrac, "pinned_mb" -> pinned) ++ extraE2e

    Fourteen.foreach { case (k, u) =>
      println(f"metric ${k}%-20s ${fourteen.get(k).map(v => Json(v)).getOrElse("n/a")}%-24s $u")
    }
    failures.foreach { f =>
      println(s"failed ${f.name} pass ${f.pass} client ${f.client}: ${f.failure.get.kind}: ${f.failure.get.message}")
    }

    val record = Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "seconds" -> args.seconds,
      "env" -> env(args),
      "controls_s" -> controls,
      "setup_s" -> setups,
      "setup_phases_s" -> phases.zipWithIndex.map { case ((sess, reg), i) =>
        Map("jvm_to_main" -> (if (i == 0) toMain else 0.0), "session" -> sess, "sources" -> reg) },
      "end_to_end" -> fourteen,
      "tail_percentile" -> tailPct, "tail_samples" -> nSamples,
      "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.map(failureOf),
      "per_layer" -> (layers ++ extraLayers),
      "cold_layers" -> log.passes.head.layers,
      "passes" -> log.passes.map(p => Map("index" -> p.index, "cold" -> p.cold, "traced" -> p.traced,
        "wall_s" -> p.wallS, "ops" -> p.ops.map(o => Map("key" -> o.name, "group" -> o.group,
          "client" -> o.client, "construct_s" -> o.constructS, "consume_s" -> o.consumeS,
          "wall_s" -> o.wallS, "error" -> o.failure.map(f => s"${f.kind}: ${f.message}")))))) ++
      (if (args.inputs.nonEmpty) Map("inputs" -> Json.Raw(new String(
        Files.readAllBytes(Paths.get(args.inputs)), StandardCharsets.UTF_8).trim)) else Map.empty)
    Files.write(out.resolve("record.json"), Json(record).getBytes(StandardCharsets.UTF_8))
    if (args.trace) {
      val spans = ctx.spans.all
      val self = ctx.spans.selfTimes(spans)
      val lines = spans.sortBy(_.startUs).map { s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
          "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self(s.id), "attrs" -> s.attrs))
      }
      Files.write(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

    val metrics = (if (args.trace) PerLayer.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, u) => k -> (e2e(k), u) })
      .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val wrong = failures.exists(f => f.failure.get.kind != "throw" && f.failure.get.kind != "timeout")
    println(Json(Map("correct" -> !wrong, "attempted" -> attempted,
      "failed" -> failures.size, "metrics" -> metrics)))
  }
}

/** Three fixed jobs whose code never changes — a codegen scan, a shuffle
  * aggregate and a partitioned window — timed once per run in the same
  * window as the workload, so records from different times can be
  * compared net of box drift. */
object Controls {
  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val h = pmod(xxhash64(col("id")), lit(1000000L))
    val jobs: Seq[(String, () => Array[Row])] = Seq(
      "scan" -> (() => spark.range(10L * 1000 * 1000).select(sum(h)).collect()),
      "shuffle" -> (() => spark.range(1000L * 1000)
        .groupBy(pmod(xxhash64(col("id")), lit(4096L))).count().collect()),
      "window" -> (() => spark.range(200L * 1000)
        .select(row_number().over(W.partitionBy(pmod(xxhash64(col("id")), lit(64L)))
          .orderBy(xxhash64(col("id"), lit(7)))).as("r"))
        .agg(sum(col("r"))).collect()))
    jobs.map { case (name, f) =>
      val t0 = System.nanoTime()
      f()
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }
}

/** One-off modes that write files into the benchmark's directory:
  * `pin` records what each catalog key returns (digest, rows, schema)
  * for the expectations file, and `bridge` times `count()` and the full
  * `collect()` consume for every key in the same window. */
object Pin {
  private def session(args: Args) = {
    val ctx = new Ctx(args)
    ctx.newSession()
    ctx
  }

  def pin(args: Args): Unit = {
    val ctx = session(args)
    val oracle = SparkEntry.oracleSql.keySet
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
      val df = fn(ctx.spark, args.fixture)
      val rows = df.collect().toSeq
      val digest = if (oracle.contains(k)) Digest.of(rows) else ""
      s"${Json.str(k)}:${Json(Map("digest" -> digest, "rows" -> rows.size.toLong,
        "schema" -> df.schema.catalogString, "pack" -> Catalog.packOf(k)))}"
    }
    Files.write(Paths.get(args.out), lines.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
    ctx.stopSession()
  }

  def bridge(args: Args): Unit = {
    val ctx = session(args)
    def time(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val reps = args.reps
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
      val cold = time(fn(ctx.spark, args.fixture).collect())
      val counts = Seq.newBuilder[Double]
      val collects = Seq.newBuilder[Double]
      (1 to reps).foreach { _ =>
        counts += time(fn(ctx.spark, args.fixture).count())
        collects += time(fn(ctx.spark, args.fixture).collect())
      }
      k -> Map("cold_collect_s" -> cold, "warm_count_s" -> Stats.median(counts.result()),
        "warm_collect_s" -> Stats.median(collects.result()))
    }
    val controls = Controls.run(ctx)
    val record = Map("fixture" -> new java.io.File(args.fixture).getName,
      "env" -> Main.env(args), "reps" -> reps, "controls_s" -> controls,
      "total_warm_count_s" -> rows.map(_._2("warm_count_s")).sum,
      "total_warm_collect_s" -> rows.map(_._2("warm_collect_s")).sum,
      "keys" -> scala.collection.immutable.ListMap(rows: _*))
    Files.write(Paths.get(args.out), Json(record).getBytes(StandardCharsets.UTF_8))
    ctx.stopSession()
  }
}
