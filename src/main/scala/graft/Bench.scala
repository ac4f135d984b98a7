package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): one warmup pass per query (JIT +
  * whole-stage-codegen compilation + page-cache warm), then
  * SPARK_GRAFT_REPS timed passes (default 3), reported as ONE JSON line
  * with the per-query MEDIAN. A query that throws is reported as -1 in
  * `queries` with its message in `errors`, and excluded from the total
  * — a crash must never masquerade as a fast green run.
  *
  * Output discipline: the driver captures only the TAIL of stdout
  * (round-2 evidence: a ~3.2 KB line was clipped mid-JSON and recorded
  * as unparseable), so the stdout line is kept under [[MaxLine]] bytes —
  * values at millisecond precision, and if the per-query map still
  * overflows, only the slowest queries stay inline (count in
  * `queries_omitted`). The COMPLETE per-query map is always written to
  * `target/BENCH_FULL.json` under the working directory, outside the
  * tracked tree.
  *
  * `floor` is the per-query session overhead (median timed `count()` on
  * a 1-row in-memory plan: planning + job scheduling + task launch), so
  * totals can be compared across engines net of harness cost.
  *
  * `controls` are three fixed synthetic jobs (codegen scan / shuffle
  * aggregate / partitioned window) timed in the same window — their
  * code never changes, so cross-round totals divide out box drift
  * (the clean bench's pinned-worktree arbitration, built in).
  *
  * Set SPARK_GRAFT_BENCH_WARMUP=0 to time cold runs instead. */
object Bench {

  private val MaxLine = 1600

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    val spark = GraftSession.local(GraftSession.cpus,
      // let AQE coalesce below the parallelism floor: at bench SFs the
      // shuffles are far under one advisory partition, and 32 near-empty
      // tasks per stage cost more than the work itself (at production SF
      // partitions hit the advisory size and none of this kicks in)
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    if (warmup) queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def med(run: () => Unit): (Double, Option[String]) = {
      val times = Vector.newBuilder[Double]
      var err: Option[String] = None
      (1 to reps).foreach { _ =>
        if (err.isEmpty) {
          val t0 = System.nanoTime()
          try { run(); times += (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          }
        }
      }
      val ts = times.result().sorted
      (if (ts.isEmpty) -1.0 else ts(ts.size / 2), err)
    }
    // In-window BOX CONTROLS (r15 verdict item 7): three fixed
    // synthetic jobs — codegen scan, shuffle aggregate, partitioned
    // window — whose code never changes round to round, so cross-round
    // BENCH_r{N} totals self-arbitrate box drift the way the clean
    // bench's pinned-worktree controls do, without needing a worktree.
    // INTERLEAVED through the sweep (r16 verdict item 2): a single
    // post-sweep control placement provably missed TRANSIENT
    // interference — BENCH_FULL_r16 carried keys inflated 10× beside
    // nominal controls because the window subsided before the controls
    // ran. The triplet now runs once per [[CtlSegment]] keys (timed
    // once each — medians come from the cross-segment samples), so
    // every ~25-key segment of the sweep has its own drift reading;
    // `controls` stays the per-control MEDIAN (schema-compatible with
    // the r16 series) and BENCH_FULL.json carries the full per-segment
    // matrix as `controls_segments`.
    import org.apache.spark.sql.functions.{col, pmod, row_number, sum => fsum, xxhash64}
    // sizes calibrated to ~0.5-0.8 s each at local[32] (measured via a
    // pyspark twin: 1e9-row scan 2.3 s, 20M shuffle 1.3 s, 10M window
    // 3.7 s, scaled down) — big enough
    // that window drift dominates noise, small enough to add a few
    // seconds total. collect(), NOT count(): count() lets Catalyst
    // prune the aggregate column and constant-fold the row count of a
    // range/aggregate, and the "control" then measures nothing (the
    // first shipped version read a constant 0.09 s at any size).
    val controls: Seq[(String, () => Unit)] = Seq(
      // pmod keeps the ANSI-mode sum inside BIGINT (raw xxhash64 sums
      // overflow after ~2^33 rows)
      "ctl_scan" -> (() => {
        spark.range(200L * 1000 * 1000)
          .select(fsum(pmod(xxhash64(col("id")),
            org.apache.spark.sql.functions.lit(1000000L)))).collect(); () }),
      "ctl_shuffle" -> (() => {
        spark.range(10L * 1000 * 1000)
          .groupBy(pmod(xxhash64(col("id")), org.apache.spark.sql.functions.lit(4096L)))
          .count().collect(); () }),
      "ctl_window" -> (() => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(xxhash64(col("id")), org.apache.spark.sql.functions.lit(64L)))
          .orderBy(xxhash64(col("id"), org.apache.spark.sql.functions.lit(7)))
        spark.range(2L * 1000 * 1000)
          .select(row_number().over(w).as("r"))
          .agg(fsum(col("r"))).collect(); () }))
    val CtlSegment = 25
    val ctlSamples = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    def runControlsOnce(): Unit =
      ctlSamples += controls.map { case (_, run) =>
        val t0 = System.nanoTime()
        try run() catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
    // warm the triplet once (codegen compile) so segment samples are
    // steady-state readings, not first-run compilation
    controls.foreach { case (_, run) => try run() catch { case _: Throwable => () } }
    val results = queries.zipWithIndex.map { case ((name, fn), i) =>
      if (i % CtlSegment == 0) runControlsOnce()
      val (m, err) = med(() => fn(spark, sfDir).count())
      (name, m, err)
    }
    runControlsOnce() // tail segment
    val (floor, _) = med(() => spark.range(1).count())
    val ctl = controls.map(_._1).zipWithIndex.map { case (name, ci) =>
      val ts = ctlSamples.map(_(ci)).sorted
      (name, ts(ts.size / 2))
    }
    // Locale.ROOT: f"" uses the JVM default locale, and a comma-decimal
    // locale would make every number line invalid JSON
    def sec(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qmap(rs: Seq[(String, Double, Option[String])]): String =
      rs.map { case (k, v, _) => s"${jstr(k)}:${sec(v)}" }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val ctlJson = ctl.map { case (k, v) => s"${jstr(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    // full-file only: the per-segment control matrix (segments × the 3
    // controls, in sweep order) — the stdout line stays on budget
    val ctlSegJson = ctlSamples
      .map(s => s.map(sec).mkString("[", ",", "]")).mkString("[", ",", "]")
    def line(rs: Seq[(String, Double, Option[String])], omitted: Int,
        full: Boolean = false): String =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","reps":$reps,""" +
        s""""warmed":$warmup,"floor":${sec(floor)},"controls":$ctlJson,""" +
        (if (full) s""""controls_segments":$ctlSegJson,""" else "") +
        s""""n_queries":${results.size},""" +
        s""""queries_omitted":$omitted,"queries":${qmap(rs)},""" +
        s""""errors":$errs,"sf":${jstr(sfDir)}}"""
    val record = Paths.get("target", "BENCH_FULL.json")
    Files.createDirectories(record.getParent)
    Files.write(record, line(results, 0, full = true).getBytes(StandardCharsets.UTF_8))
    // shrink the stdout line to the tail-capture budget: drop the fastest
    // queries first (the slow ones are the ones worth reading inline)
    val bySlow = results.sortBy { case (_, v, _) => -v }
    var keep = results.size
    while (keep > 0 && line(
        bySlow.take(keep).sortBy(_._1), results.size - keep).length > MaxLine)
      keep -= 1
    println(line(bySlow.take(keep).sortBy(_._1), results.size - keep))
    spark.stop()
  }
}
