package graft.operators

import graft.QueryPack
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Statistical-test operators over the `events` fixture — the
  * hypothesis-test / association / divergence family split out of
  * [[Events]] (r13, pure move): Welch and pooled (Student) t-tests,
  * Kolmogorov–Smirnov, Mann–Whitney U (+ ROC AUC on its rank-sum
  * core), Cramér's V / Pearson's C contingency measures, Theil's U,
  * Shannon entropy, Jensen–Shannon and smoothed KL divergence, and
  * Spearman rank correlation.
  *
  * One determinism architecture across the family (SCALE.md
  * "Statistical tests"): EXACT integer cores — BIGINT/DECIMAL(38,0)
  * moments, doubled average ranks, millionth-quantized χ² terms, and
  * [[graft.functions.FixedLog2]] fixed-point logs — so every
  * data-sized aggregation is order-independent, with a FIXED chain of
  * correctly-rounded IEEE ops at the very end; every key is
  * hash-exact against the DuckDB oracle rather than tolerance-gated.
  * Plans are partial-agg friendly: raw rows collapse to (group,
  * value) counts BEFORE any window, so rank windows run over distinct
  * values only and raw data never globally sorts at any scale.
  * Streaming twins live in `graft.streaming.EventStream`
  * (StreamingSpec pins bit-equality) for every key except Spearman,
  * whose minimal sufficient statistic measures at one state entry PER
  * INPUT ROW (SCALE.md) — batch-only by measurement, not omission. */
object Stats extends QueryPack {
  /** ClickHouse `welchTTest` analogue: Welch's unequal-variance t-test
    * of purchase vs view value distributions per epoch-weekday
    * (`unix_micros div day % 7` — engine-identical integer arithmetic,
    * unlike locale-dependent DOW functions). The moment core is EXACT:
    * per-(weekday, arm) n / Σcents / Σcents² accumulate as BIGINT in
    * one conditional-aggregate pass (headroom: Σc² ≤ 6·10¹⁶ at the
    * ×100 tier < 2⁶³; and i64→double is a single correctly-rounded op
    * in BOTH engines — the int128 split device is only needed above
    * that), and the t statistic + Welch–Satterthwaite df are a FIXED
    * chain of IEEE ops written identically in the oracle, so the key
    * is hash-exact. Degenerate arms (n ≤ 1) or zero pooled variance
    * yield NULL t/df in both engines. One partial-agg-friendly pass,
    * 7 output rows — scale-free. */
  def welchTTest(spark: SparkSession, dir: String): DataFrame =
    welchTTestOf(Tables.events(spark, dir)).orderBy(col("wd"))

  /** Epoch weekday of `ts` (see [[welchTTest]]). */
  private def epochWeekday = expr("unix_micros(ts) div 86400000000 % 7")

  /** `value` in integer cents: `round(value·100)` as BIGINT. */
  private def valueCents = round(col("value") * lit(100)).cast("long")

  /** The two-arm encoding of an event that every purchase-vs-view key
    * and its stream twin reads: `wd` (epoch weekday), `c` (cents) and
    * `is_p` (purchase arm; the other arm is view). Other event types
    * drop. */
  private[graft] def twoArm(ev: DataFrame): DataFrame =
    ev.filter(col("event_type").isin("view", "purchase"))
      .select(epochWeekday.as("wd"), valueCents.as("c"),
        (col("event_type") === "purchase").as("is_p"))

  /** Per-(wd, c) two-arm counts over [[twoArm]]: `p` purchases and `v`
    * views of each cents value — the counts-by-value grain of the KS,
    * divergence and rank-sum keys. */
  private def twoArmCounts(ev: DataFrame, p: String, v: String): DataFrame =
    twoArm(ev).groupBy(col("wd"), col("c"))
      .agg(sum(when(col("is_p"), 1L).otherwise(0L)).as(p),
        sum(when(!col("is_p"), 1L).otherwise(0L)).as(v))

  /** Event type and epoch weekday: the contingency grid's axes, shared
    * by the χ² and Theil's U keys and their stream twins. */
  private[graft] def typeWeekday(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), epochWeekday.as("wd"))

  /** Shared per-weekday two-arm BIGINT moment core (n / Σc / Σc² per
    * arm) of [[welchTTestOf]] and [[studentTTestOf]]. */
  private def tTestMoments(ev: DataFrame): DataFrame =
    twoArm(ev)
      .groupBy(col("wd"))
      .agg(sum(when(col("is_p"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("is_p"), col("c")).otherwise(0L)).as("s11"),
        sum(when(col("is_p"), col("c") * col("c")).otherwise(0L)).as("s21"),
        sum(when(!col("is_p"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("is_p"), col("c")).otherwise(0L)).as("s12"),
        sum(when(!col("is_p"), col("c") * col("c")).otherwise(0L)).as("s22"))

  /** Unordered: its stream twin runs in update mode, which admits no sort. */
  private[graft] def welchTTestOf(ev: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val a = tTestMoments(ev)
    a.withColumn("v1", when(col("n1") > 1,
        (d(col("s21")) - d(col("s11")) * d(col("s11")) / d(col("n1"))) /
          (d(col("n1")) - lit(1.0))))
      .withColumn("v2", when(col("n2") > 1,
        (d(col("s22")) - d(col("s12")) * d(col("s12")) / d(col("n2"))) /
          (d(col("n2")) - lit(1.0))))
      .withColumn("se1", col("v1") / d(col("n1")))
      .withColumn("se2", col("v2") / d(col("n2")))
      .withColumn("se", col("se1") + col("se2"))
      .select(col("wd"), col("n1").as("n_purchase"), col("n2").as("n_view"),
        when(col("n1") > 0, d(col("s11")) / d(col("n1"))).as("mean_purchase"),
        when(col("n2") > 0, d(col("s12")) / d(col("n2"))).as("mean_view"),
        when(col("se") > 0,
          (d(col("s11")) / d(col("n1")) - d(col("s12")) / d(col("n2"))) /
            sqrt(col("se"))).as("t_stat"),
        when(col("se") > 0,
          col("se") * col("se") /
            (col("se1") * col("se1") / (d(col("n1")) - lit(1.0)) +
              col("se2") * col("se2") / (d(col("n2")) - lit(1.0)))).as("df"))
  }

  /** ClickHouse `studentTTest` analogue: the POOLED-variance two-sample
    * t-test over the same purchase-vs-view moment core as
    * [[welchTTest]] — the classical equal-variance form whose degrees
    * of freedom are the exact INTEGER n₁+n₂−2 rather than a
    * Welch–Satterthwaite double. sp² pools the two exact
    * sums-of-squares (each a BIGINT-moment subtraction in doubles, the
    * same cancellation-clean shape as Welch's v₁/v₂) and the t
    * statistic is one fixed correctly-rounded IEEE chain mirrored in
    * the oracle — hash-exact. Degenerate arms (either empty, or
    * n ≤ 2, or zero pooled variance) yield NULL t in both engines.
    * One partial-agg pass, 7 rows — scale-free. */
  def studentTTest(spark: SparkSession, dir: String): DataFrame =
    studentTTestOf(Tables.events(spark, dir)).orderBy(col("wd"))

  /** Unordered: its stream twin runs in update mode, which admits no sort. */
  private[graft] def studentTTestOf(ev: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    tTestMoments(ev)
      .withColumn("ss1", when(col("n1") > 0,
        d(col("s21")) - d(col("s11")) * d(col("s11")) / d(col("n1"))))
      .withColumn("ss2", when(col("n2") > 0,
        d(col("s22")) - d(col("s12")) * d(col("s12")) / d(col("n2"))))
      .withColumn("sp2", when(col("n1") + col("n2") > 2,
        (col("ss1") + col("ss2")) /
          (d(col("n1")) + d(col("n2")) - lit(2.0))))
      .withColumn("se",
        sqrt(col("sp2") * (lit(1.0) / d(col("n1")) + lit(1.0) / d(col("n2")))))
      .select(col("wd"), col("n1").as("n_purchase"), col("n2").as("n_view"),
        when(col("se") > 0,
          (d(col("s11")) / d(col("n1")) - d(col("s12")) / d(col("n2"))) /
            col("se")).as("t_stat"),
        (col("n1") + col("n2") - 2).as("df"))
  }

  /** Two-sample Kolmogorov–Smirnov test (ClickHouse
    * `kolmogorovSmirnovTest`) of purchase vs view value distributions
    * per epoch-weekday, with the D statistic EXACT: over the
    * counts-then-window frame (one row per distinct cents value — raw
    * rows never sort globally), D·n₁·n₂ = max |cum₁·n₂ − cum₂·n₁| is
    * pure BIGINT (headroom: cum·n ≤ n² ≈ 2·10¹⁴ at the ×100 tier
    * < 2⁶³), and only the final D division and the scaled statistic
    * √(n₁n₂/(n₁+n₂))·D are correctly-rounded doubles mirrored in the
    * oracle — hash-exact. The p-value needs the Kolmogorov series
    * (exp — engine-divergent libm), so the key reports the statistics
    * the way [[mannWhitney]] reports z rather than p. */
  def ksTest(spark: SparkSession, dir: String): DataFrame =
    ksTestOf(Tables.events(spark, dir))

  private[graft] def ksTestOf(ev: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val byVal = twoArmCounts(ev, "c1", "c2")
    val cumW = Window.partitionBy(col("wd")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col("wd"))
    byVal
      .withColumn("cum1", sum(col("c1")).over(cumW))
      .withColumn("cum2", sum(col("c2")).over(cumW))
      .withColumn("n1", sum(col("c1")).over(totW))
      .withColumn("n2", sum(col("c2")).over(totW))
      .groupBy(col("wd"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
          .as("dmax"))
      .select(col("wd"), col("n1").as("n_purchase"), col("n2").as("n_view"),
        when(col("n1") > 0 && col("n2") > 0,
          d(col("dmax")) / d(col("n1") * col("n2"))).as("d_stat"),
        when(col("n1") > 0 && col("n2") > 0,
          sqrt(d(col("n1")) * d(col("n2")) / (d(col("n1")) + d(col("n2")))) *
            (d(col("dmax")) / d(col("n1") * col("n2")))).as("ks_stat"))
      .orderBy(col("wd"))
  }

  /** Jensen–Shannon divergence (bits) between the purchase and view
    * value distributions per epoch-weekday — the training-data DRIFT
    * metric (bounded [0,1], symmetric, defined even on disjoint
    * supports, unlike KL) — ORACLE-PAIRED via the
    * [[graft.functions.FixedLog2]] integer log. With per-cents counts
    * a,b and arm totals n₁,n₂, the mixture weight is the exact
    * rational m = (a·n₂ + b·n₁)/(2n₁n₂), so each term of
    * Σ p·log2(p/m) decomposes into L2s OF INTEGERS:
    *
    *   T_P = Σ_{a>0} a·(L2(a) + L2(2n₁n₂) − L2(n₁) − L2(a·n₂ + b·n₁))
    *
    * (T_Q symmetric), both exact BIGINTs (|T| ≤ n·61·2²⁰ ≈ 4·10¹⁶ at
    * the ×100 tier; L2 args peak at 2n₁n₂ ≈ 7·10¹⁷, a ~3× margin
    * under the L2 domain ceiling of 2⁶¹ ≈ 2.3·10¹⁸ — the mantissa
    * normalization needs 61 bits, and the core now REJECTS anything
    * past it rather than wrapping), and
    * JSD = (T_P/n₁ + T_Q/n₂)/2²¹ is a fixed chain of four
    * correctly-rounded IEEE ops — hash-exact. L2 runs on the
    * counts-by-value frame (value-domain-bounded, the [[ksTest]]
    * grain), never per event. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame =
    jsDivergenceOf(Tables.events(spark, dir))

  private[graft] def jsDivergenceOf(ev: DataFrame): DataFrame = {
    import graft.functions.FixedLog2
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val cells = twoArmCounts(ev, "a", "b")
    val tots0 = cells.groupBy(col("wd"))
      .agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
      .withColumn("tw", col("n1") * col("n2") * lit(2L))
    val tots = Seq(("n1", "l2n1"), ("n2", "l2n2"), ("tw", "l2tw"))
      .foldLeft(tots0) { case (df, (in, out)) => FixedLog2.withLog2(df, in, out) }
    val cellsG = cells
      .join(tots.select(col("wd"), col("n1"), col("n2"),
        col("l2n1"), col("l2n2"), col("l2tw")), Seq("wd"))
      .withColumn("ga", greatest(col("a"), lit(1L)))
      .withColumn("gb", greatest(col("b"), lit(1L)))
      .withColumn("marg", col("a") * col("n2") + col("b") * col("n1"))
    val cellsL = Seq(("ga", "l2a"), ("gb", "l2b"), ("marg", "l2m"))
      .foldLeft(cellsG) { case (df, (in, out)) => FixedLog2.withLog2(df, in, out) }
    cellsL
      .groupBy(col("wd"), col("n1"), col("n2"))
      .agg(
        sum(when(col("a") > 0,
          col("a") * (col("l2a") + col("l2tw") - col("l2n1") - col("l2m")))
          .otherwise(0L)).as("tp"),
        sum(when(col("b") > 0,
          col("b") * (col("l2b") + col("l2tw") - col("l2n2") - col("l2m")))
          .otherwise(0L)).as("tq"))
      .select(col("wd"), col("n1").as("n_purchase"), col("n2").as("n_view"),
        when(col("n1") > 0 && col("n2") > 0,
          (d(col("tp")) / d(col("n1")) + d(col("tq")) / d(col("n2"))) /
            lit(2097152.0)).as("jsd_bits"))
      .orderBy(col("wd"))
  }

  /** One-sided drift: KL(P‖Q̃) in bits between the purchase (P) and
    * view (Q) value distributions per weekday, with Laplace-smoothed Q̃
    * over the observed UNION support (Q̃(c) = (b+1)/(n₂+V), V = distinct
    * values either arm hit — a proper distribution, so Gibbs gives
    * KL ≥ 0). The asymmetric complement of [[jsDivergence]]: "how
    * surprised is the view model by purchase data" ≠ the reverse, so
    * both directions are reported. Same [[graft.functions.FixedLog2]]
    * decomposition — every term is a·(L2(a) + L2(n₂+V) − L2(n₁) −
    * L2(b+1)) over exact integers, the sums are exact BIGINTs, and
    * each output is one correctly-rounded division — hash-exact.
    * Counts-by-value grain, like [[ksTest]]. */
  def klDivergence(spark: SparkSession, dir: String): DataFrame =
    klDivergenceOf(Tables.events(spark, dir))

  private[graft] def klDivergenceOf(ev: DataFrame): DataFrame = {
    import graft.functions.FixedLog2
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val cells = twoArmCounts(ev, "a", "b")
    val tots0 = cells.groupBy(col("wd"))
      .agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"),
        count(lit(1)).as("v"))
      .withColumn("n1v", col("n1") + col("v"))
      .withColumn("n2v", col("n2") + col("v"))
    val tots = Seq(("n1", "l2n1"), ("n2", "l2n2"), ("n1v", "l2n1v"),
        ("n2v", "l2n2v"))
      .foldLeft(tots0) { case (df, (in, out)) => FixedLog2.withLog2(df, in, out) }
    val grid0 = cells
      .join(tots.select(col("wd"), col("n1"), col("n2"), col("v"),
        col("l2n1"), col("l2n2"), col("l2n1v"), col("l2n2v")), Seq("wd"))
      .withColumn("ga", greatest(col("a"), lit(1L)))
      .withColumn("gb", greatest(col("b"), lit(1L)))
      .withColumn("ap1", col("a") + lit(1L))
      .withColumn("bp1", col("b") + lit(1L))
    val grid = Seq(("ga", "l2a"), ("gb", "l2b"), ("ap1", "l2ap1"),
        ("bp1", "l2bp1"))
      .foldLeft(grid0) { case (df, (in, out)) => FixedLog2.withLog2(df, in, out) }
    grid
      .groupBy(col("wd"), col("n1"), col("n2"), col("v"))
      .agg(
        sum(when(col("a") > 0,
          col("a") * (col("l2a") + col("l2n2v") - col("l2n1") - col("l2bp1")))
          .otherwise(0L)).as("t"),
        sum(when(col("b") > 0,
          col("b") * (col("l2b") + col("l2n1v") - col("l2n2") - col("l2ap1")))
          .otherwise(0L)).as("t_rev"))
      .select(col("wd"), col("n1").as("n_purchase"), col("n2").as("n_view"),
        col("v").as("n_support"),
        when(col("n1") > 0,
          d(col("t")) / d(col("n1") * lit(FixedLog2.Unit))).as("kl_bits"),
        when(col("n2") > 0,
          d(col("t_rev")) / d(col("n2") * lit(FixedLog2.Unit)))
          .as("kl_rev_bits"))
      .orderBy(col("wd"))
  }

  /** ClickHouse `mannWhitneyUTest` analogue: the rank-sum test of
    * purchase vs view values per epoch-weekday, with an EXACT integer
    * core end to end. Average ranks over ties never materialize as
    * fractions: doubling them makes every quantity integral — a tied
    * value with `less` predecessors and `ct` members contributes
    * `c1·(2·less + ct + 1)` to 2·R₁, so 2·U₁ = 2R₁ − 2·n₁(n₁+1)/2 and
    * the tie-corrected normal approximation's numerator 2(U₁−µ) =
    * 2U₁ − n₁n₂ are BIGINT; only the variance
    * (n₁n₂/12)·((n+1) − Σ(t³−t)/(n(n−1))) and the final z divide in
    * doubles — the same fixed-chain contract as [[welchTTest]], so
    * hash-exact. Plan shape: one (wd, cents) count aggregate collapses
    * the data BEFORE the rank window, which then runs over distinct
    * values only (the quantileTiming counts-then-window device) — the
    * raw rows are never globally sorted. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyOf(Tables.events(spark, dir))

  /** The shared rank-sum core of [[mannWhitney]] and [[rocAuc]]: per
    * weekday, the doubled rank sum 2R₁, 2U₁, group sizes and the tie
    * cubic sum — all exact BIGINT. */
  private def rankSumCore(ev: DataFrame): DataFrame = {
    val byVal = twoArmCounts(ev, "c1", "c2")
      .withColumn("ct", col("c1") + col("c2"))
    val rankW = Window.partitionBy(col("wd")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byVal
      .withColumn("less", coalesce(sum(col("ct")).over(rankW), lit(0L)))
      .groupBy(col("wd"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * (lit(2L) * col("less") + col("ct") + lit(1L)))
          .as("two_r1"),
        sum(col("ct") * col("ct") * col("ct") - col("ct")).as("tiesum"))
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("two_u1", col("two_r1") - col("n1") * (col("n1") + lit(1L)))
  }

  private[graft] def mannWhitneyOf(ev: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val a = rankSumCore(ev)
      .withColumn("varu", when(col("n1") > 0 && col("n2") > 0 && col("n") > 1,
        d(col("n1")) * d(col("n2")) / lit(12.0) *
          ((d(col("n")) + lit(1.0)) -
            d(col("tiesum")) / (d(col("n")) * (d(col("n")) - lit(1.0))))))
    a.select(col("wd"), col("n1").as("n_purchase"), col("n2").as("n_view"),
        (d(col("two_u1")) / lit(2.0)).as("u1"),
        when(col("varu") > 0,
          d(col("two_u1") - col("n1") * col("n2")) /
            (lit(2.0) * sqrt(col("varu")))).as("z"))
      .orderBy(col("wd"))
  }

  /** ClickHouse `arrayAUC` analogue: ROC AUC of "value predicts
    * purchase-vs-view" per epoch-weekday, via the rank identity
    * AUC = U₁/(n₁n₂) = P(score₊ > score₋) + ½P(score₊ = score₋) —
    * the trapezoidal tie convention ClickHouse implements, which over
    * average ranks is EXACT. Rides [[rankSumCore]]'s integer 2U₁
    * unchanged, so the whole statistic is one BIGINT quotient —
    * a single correctly-rounded division, hash-exact; no per-threshold
    * curve materializes and the raw scores never sort globally
    * (counts-then-window, the same plan as [[mannWhitney]]). NULL on
    * an empty class. */
  def rocAuc(spark: SparkSession, dir: String): DataFrame =
    rocAucOf(Tables.events(spark, dir))

  private[graft] def rocAucOf(ev: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    rankSumCore(ev)
      .select(col("wd"), col("n1").as("n_purchase"), col("n2").as("n_view"),
        when(col("n1") > 0 && col("n2") > 0,
          d(col("two_u1")) / (lit(2.0) * d(col("n1") * col("n2"))))
          .as("auc"))
      .orderBy(col("wd"))
  }

  /** ClickHouse `cramersV` analogue: association strength between
    * event type and epoch-weekday from the full contingency table.
    * The χ² sum is where naive parity dies — IEEE addition of per-cell
    * terms is partition-order-dependent — so each cell's term is
    * floor-quantized to millionths in EXACT integer arithmetic first
    * (the `text_lm_bits` determinism policy): with o·n and r·c ≤
    * ~3.6·10¹³ at the ×100 tier, (o·n − r·c)²·10⁶ ≤ 1.3·10³³ rides
    * DECIMAL(38,0)/HUGEINT and the truncating integer division is
    * identical in both engines (all quantities non-negative, so
    * Spark's `div` truncation == DuckDB's `//` floor). The quantized
    * χ² is then an ORDER-INDEPENDENT integer sum, and the double tail
    * (χ², V = √(χ²/(n·(min(r,c)−1)))) is a fixed correctly-rounded
    * chain. Cells the data never hits still contribute their expected
    * count — the grid is completed by a (types × weekdays) cross join
    * of two bounded distinct sets, ≤ a few dozen rows broadcast. */
  def cramersV(spark: SparkSession, dir: String): DataFrame =
    cramersVOf(Tables.events(spark, dir))

  /** Shared χ² core of [[cramersVOf]] and [[contingencyOf]]: the 1-row
    * (n, nr, nc, chi2_micro) frame with the millionth-quantized χ² sum
    * — see [[cramersV]] for the determinism argument. */
  private def chiSqStats(ev: DataFrame): DataFrame = {
    val cells = typeWeekday(ev).groupBy(col("event_type"), col("wd"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val colsT = cells.groupBy(col("wd")).agg(sum(col("o")).as("cc"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("event_type")).as("nr"),
      countDistinct(col("wd")).as("nc"))
    val grid = rows.select(col("event_type"), col("r"))
      .crossJoin(colsT.select(col("wd"), col("cc")))
      .join(cells, Seq("event_type", "wd"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
    val dec0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val num = dec0(col("o") * col("n") - col("r") * col("cc"))
    grid
      .withColumn("num_sq", num * num * dec0(lit(1000000L)))
      .withColumn("den", dec0(col("n")) * dec0(col("r")) * dec0(col("cc")))
      .withColumn("t_micro", expr("CAST((num_sq div den) AS BIGINT)"))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum(col("t_micro")).as("chi2_micro"))
  }

  private[graft] def cramersVOf(ev: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    chiSqStats(ev)
      .select(col("n"),
        (d(col("chi2_micro")) / lit(1e6)).as("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        when(col("n") > 0 && least(col("nr"), col("nc")) > 1,
          sqrt((d(col("chi2_micro")) / lit(1e6)) /
            (d(col("n")) * (d(least(col("nr"), col("nc"))) - lit(1.0)))))
          .as("cramers_v"))
  }

  /** Pearson's contingency coefficient C = √(χ²/(χ²+n)) and the
    * BIAS-CORRECTED Cramér's V (Bergsma 2013 — ClickHouse
    * `cramersVBiasCorrected`): φ²₊ = max(0, φ² − (r−1)(c−1)/(n−1)),
    * r₊ = r − (r−1)²/(n−1), c₊ = c − (c−1)²/(n−1),
    * V₊ = √(φ²₊ / min(r₊−1, c₊−1)). Rides the SAME quantized-χ² core
    * as [[cramersV]] (one extra 1-row tail, no new scan), and every
    * step past the exact integer χ² is a fixed correctly-rounded IEEE
    * chain mirrored in the oracle — hash-exact. */
  def contingency(spark: SparkSession, dir: String): DataFrame =
    contingencyOf(Tables.events(spark, dir))

  private[graft] def contingencyOf(ev: DataFrame): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    chiSqStats(ev)
      .withColumn("chi2", d(col("chi2_micro")) / lit(1e6))
      .withColumn("phi2", col("chi2") / d(col("n")))
      .withColumn("phi2c",
        greatest(lit(0.0), col("phi2") -
          (d(col("nr")) - lit(1.0)) * (d(col("nc")) - lit(1.0)) /
            (d(col("n")) - lit(1.0))))
      .withColumn("nrc",
        d(col("nr")) - (d(col("nr")) - lit(1.0)) * (d(col("nr")) - lit(1.0)) /
          (d(col("n")) - lit(1.0)))
      .withColumn("ncc",
        d(col("nc")) - (d(col("nc")) - lit(1.0)) * (d(col("nc")) - lit(1.0)) /
          (d(col("n")) - lit(1.0)))
      .select(col("n"), col("chi2"),
        when(col("n") > 0,
          sqrt(col("chi2") / (col("chi2") + d(col("n")))))
          .as("contingency_c"),
        when(col("n") > 1 && least(col("nrc"), col("ncc")) > 1,
          sqrt(col("phi2c") / (least(col("nrc"), col("ncc")) - lit(1.0))))
          .as("cramers_v_corr"))
  }

  /** ClickHouse `theilsU` analogue — the uncertainty coefficient
    * U(X|Y) = I(X;Y)/H(X) between event type and epoch-weekday,
    * ORACLE-PAIRED despite being log-based: every log2 is
    * [[graft.functions.FixedLog2]]'s pure-integer shift-and-square
    * fixed-point log (both engines execute identical truncating
    * integer steps — no libm in the statistic at all). The cores are
    * exact integer sums in 2⁻²⁰ units over the shared contingency
    * grid of [[cramersV]]:
    *
    *   S_I  = Σ_cells o·(L2(o) + L2(n) − L2(r) − L2(c))   (≈ n·2²⁰·I)
    *   S_HX = Σ_rows  r·(L2(n) − L2(r))                   (≈ n·2²⁰·H(X))
    *   S_HY = Σ_cols  c·(L2(n) − L2(c))
    *
    * so U(X|Y) = S_I/S_HX and U(Y|X) = S_I/S_HY are each ONE
    * correctly-rounded double division of two exact integers — no
    * quantized-sum boundary risk like [[cramersV]]'s χ² even. Sums
    * accumulate as DECIMAL(38,0) (per-cell o·Δ ≤ n·68·2²⁰ ≈ 2⁸⁶ at
    * petabyte n — far under 10³⁸) and the final BIGINT cast is safe
    * through the ×100 tier (≤ ~10¹⁸); beyond that the oracle's BIGINT
    * cast would need the [[Events.splitToDouble]] device. L2 runs only on the
    * BOUNDED grid frames (≤ r·c + r + c + 1 rows), never per event. */
  def theilsU(spark: SparkSession, dir: String): DataFrame =
    theilsUOf(Tables.events(spark, dir))

  private[graft] def theilsUOf(ev: DataFrame): DataFrame = {
    import graft.functions.FixedLog2
    val dec0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val cells = typeWeekday(ev).groupBy(col("event_type"), col("wd"))
      .agg(count(lit(1)).as("o"))
    val rowsL = FixedLog2.withLog2(
      cells.groupBy(col("event_type")).agg(sum(col("o")).as("r")), "r", "l2r")
    val colsL = FixedLog2.withLog2(
      cells.groupBy(col("wd")).agg(sum(col("o")).as("cc")), "cc", "l2c")
    val totL = FixedLog2.withLog2(cells.agg(sum(col("o")).as("n")), "n", "l2n")
    val cellsL = FixedLog2.withLog2(cells, "o", "l2o")
    val si = cellsL
      .join(rowsL.select(col("event_type"), col("l2r")), Seq("event_type"))
      .join(colsL.select(col("wd"), col("l2c")), Seq("wd"))
      .crossJoin(broadcast(totL.select(col("l2n"))))
      .agg(sum(dec0(col("o")) *
        dec0(col("l2o") + col("l2n") - col("l2r") - col("l2c"))).as("s_i"))
    val shx = rowsL.crossJoin(broadcast(totL.select(col("l2n"))))
      .agg(sum(dec0(col("r")) * dec0(col("l2n") - col("l2r"))).as("s_hx"))
    val shy = colsL.crossJoin(broadcast(totL.select(col("l2n"))))
      .agg(sum(dec0(col("cc")) * dec0(col("l2n") - col("l2c"))).as("s_hy"))
    totL.select(col("n"))
      .crossJoin(broadcast(si)).crossJoin(broadcast(shx))
      .crossJoin(broadcast(shy))
      .withColumn("den", d(col("n") * lit(FixedLog2.Unit)))
      .select(col("n"),
        (d(col("s_hx").cast("long")) / col("den")).as("h_type"),
        (d(col("s_hy").cast("long")) / col("den")).as("h_wd"),
        (d(col("s_i").cast("long")) / col("den")).as("mi_bits"),
        when(col("s_hx") > 0,
          d(col("s_i").cast("long")) / d(col("s_hx").cast("long")))
          .as("theils_u"),
        when(col("s_hy") > 0,
          d(col("s_i").cast("long")) / d(col("s_hy").cast("long")))
          .as("theils_u_rev"))
  }

  /** ClickHouse `entropy` analogue: Shannon entropy (bits) of the
    * `props.k` value distribution per event type — hash-exact via the
    * same [[graft.functions.FixedLog2]] integer-log core as
    * [[theilsU]]: h = Σ c·(L2(n) − L2(c)) / (n·2²⁰) where the sum is
    * an exact DECIMAL(38,0) integer and the tail is two BIGINT→double
    * casts and one division, all correctly rounded in both engines.
    * The per-(type, k) count grid is value-domain-bounded (k is a
    * small JSON enum), so L2's 20 squaring rounds run over ≤ a few
    * hundred rows regardless of fact volume; the only full scan is
    * the map-side count aggregation. */
  def entropy(spark: SparkSession, dir: String): DataFrame =
    entropyOf(Tables.events(spark, dir))

  private[graft] def entropyOf(ev: DataFrame): DataFrame = {
    import graft.functions.FixedLog2
    val dec0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val cells = ev
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("c"))
    val grp = FixedLog2.withLog2(
      cells.groupBy(col("event_type"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_values")),
      "n", "l2n")
    FixedLog2.withLog2(cells, "c", "l2c")
      .join(grp, Seq("event_type"))
      .groupBy(col("event_type"), col("n"), col("n_values"))
      .agg(sum(dec0(col("c")) * dec0(col("l2n") - col("l2c"))).as("s_h"))
      .select(col("event_type"), col("n"), col("n_values"),
        (d(col("s_h").cast("long")) /
          d(col("n") * lit(FixedLog2.Unit))).as("h_bits"))
      .orderBy(col("event_type"))
  }

  /** ClickHouse `rankCorr` analogue: Spearman's ρ per event type
    * between value and time-of-day — "do bigger purchases happen later
    * in the day". Average ranks over ties never materialize as
    * fractions: DOUBLED ranks (the [[mannWhitney]] device — a tied
    * value with `less` predecessors and `ct` members has doubled rank
    * 2·less + ct + 1 for every member) make all five Pearson moments
    * over the rank pairs exact integers, accumulated as DECIMAL(38,0)
    * (per-term cnt·r²ᵣ ≤ 4n³ ≈ 7·10¹⁸ at the ×100 tier — the long
    * boundary — and Σ ≤ 4n⁴ ≈ 10²⁵ ≪ 10³⁸); the doubling cancels in
    * ρ = (n·Sxy − SxSy)/√((n·Sxx − Sx²)(n·Syy − Sy²)). The
    * cancellation-prone subtractions run in EXACT decimal, convert via
    * the 2³² hi/lo split (DuckDB's int128→double cast double-rounds;
    * headroom: hi ≤ 10²⁵/2³² ≈ 2·10¹⁵ < 2⁵³), and the final ρ is one
    * multiply + √ + divide — hash-exact. Plan: both rank tables are
    * counts-then-window (windows run over DISTINCT values per type,
    * raw rows never globally sort), then two equi-joins back to the
    * (type, x, y) pair counts and one partial-agg-friendly moment
    * pass. A constant variable (all ties) zeroes its factor → NULL ρ
    * in both engines. */
  def rankCorr(spark: SparkSession, dir: String): DataFrame =
    rankCorrOf(Tables.events(spark, dir))

  private[graft] def rankCorrOf(ev: DataFrame): DataFrame =
    rankCorrCore(ev.select(col("event_type"), valueCents.as("x"),
      expr("unix_micros(ts) % 86400000000").as("y")))

  /** Spearman's ρ per event type between log-bucketed value and
    * HOUR-of-day — the honest STREAMING-CAPABLE member of the
    * rank-correlation family. `ev_rank_corr`'s axes cannot be bounded:
    * its µs time axis is per-event-unique on the fixtures and even the
    * raw cents axis barely compresses (measured 49k distinct cents at
    * 100k rows — near-continuous values), so SCALE.md closes the exact
    * twin BY MEASUREMENT and names this estimator — ρ over bucketed
    * axes — as the streaming alternative. Stated as its OWN key, not
    * smuggled into the exact one: x = the eighth-octave FixedLog2
    * bucket (L2(cents) div 2¹⁷, the `ev_log_histogram` grain — ≤ 488
    * buckets at ANY data volume, and a monotone transform of value, so
    * only tie-merging separates this ρ from the exact one), y = hour
    * (24 values). The joint grid is ≤ 488·24 cells per type FOREVER —
    * that hard bound is what gives
    * [[graft.streaming.EventStream.rankCorrStream]] a bounded
    * count-map state with bit-equal emissions. Massive tie groups are
    * where this variant earns its keep: the doubled-rank device keeps
    * every moment exact. L2 runs on DISTINCT cents only (the device
    * contract — never per fact row), joined back; the oracle replays
    * the independent HUGEINT chain on the same distinct frame —
    * hash-exact. */
  def rankCorrBucketed(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.FixedLog2
    val rows = bucketAxes(Tables.events(spark, dir))
    val buckets = FixedLog2.withLog2(rows.select(col("c")).distinct(), "c", "l2c")
      .select(col("c"), expr(s"l2c div ${FixedLog2.Unit / 8}").as("x"))
    rankCorrCore(rows.join(buckets, Seq("c"))
      .select(col("event_type"), col("x"), col("y")))
  }

  /** [[rankCorrBucketed]]'s per-event axes before the log bucket:
    * `c` (cents clamped to ≥ 1, the log's domain) and `y` (hour of day),
    * shared with its stream twin. */
  private[graft] def bucketAxes(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), greatest(valueCents, lit(1L)).as("c"),
      expr("(unix_micros(ts) % 86400000000) div 3600000000").as("y"))

  private def rankCorrCore(base: DataFrame): DataFrame = {
    val d0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val pairs = base.groupBy(col("event_type"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
    def ranks(v: String) = {
      val byV = pairs.groupBy(col("event_type"), col(v))
        .agg(sum(col("cnt")).as("cv"))
      val w = Window.partitionBy(col("event_type")).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1)
      byV.withColumn("less", coalesce(sum(col("cv")).over(w), lit(0L)))
        .select(col("event_type"), col(v),
          (lit(2L) * col("less") + col("cv") + lit(1L)).as(s"r2$v"))
    }
    val j = pairs
      .join(ranks("x"), Seq("event_type", "x"))
      .join(ranks("y"), Seq("event_type", "y"))
    val n38 = d0(col("n"))
    j.groupBy(col("event_type")).agg(
        sum(col("cnt")).as("n"),
        sum(d0(col("cnt")) * d0(col("r2x"))).as("sx"),
        sum(d0(col("cnt")) * d0(col("r2y"))).as("sy"),
        sum(d0(col("cnt")) * d0(col("r2x")) * d0(col("r2x"))).as("sxx"),
        sum(d0(col("cnt")) * d0(col("r2y")) * d0(col("r2y"))).as("syy"),
        sum(d0(col("cnt")) * d0(col("r2x")) * d0(col("r2y"))).as("sxy"))
      .withColumn("num", n38 * col("sxy") - col("sx") * col("sy"))
      .withColumn("f1", n38 * col("sxx") - col("sx") * col("sx"))
      .withColumn("f2", n38 * col("syy") - col("sy") * col("sy"))
      .select(col("event_type"), col("n"),
        when(col("f1") > 0 && col("f2") > 0,
          Events.splitToDouble(col("num")) /
            sqrt(Events.splitToDouble(col("f1")) * Events.splitToDouble(col("f2"))))
          .as("rank_corr"))
      .orderBy(col("event_type"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_welch_ttest"  -> welchTTest,
    "ev_student_ttest" -> studentTTest,
    "ev_ks_test"      -> ksTest,
    "ev_js_divergence" -> jsDivergence,
    "ev_kl_divergence" -> klDivergence,
    "ev_mannwhitney"  -> mannWhitney,
    "ev_cramers_v"    -> cramersV,
    "ev_contingency"  -> contingency,
    "ev_theils_u"     -> theilsU,
    "ev_entropy"      -> entropy,
    "ev_roc_auc"      -> rocAuc,
    "ev_rank_corr"    -> rankCorr,
    "ev_rank_corr_bucketed" -> rankCorrBucketed)

  /** The full doubled-rank Spearman oracle with the y axis as a knob —
    * shared by `ev_rank_corr` (µs time-of-day) and
    * `ev_rank_corr_bucketed` (hour grain, the streaming-capable
    * estimator). */
  private def rankCorrOracleSql(basePrefix: String): String =
    s"""WITH $basePrefix,
        |pairs AS (
        |  SELECT event_type, x, y, COUNT(*) AS cnt FROM base GROUP BY 1, 2, 3),
        |rx AS (
        |  SELECT event_type, x,
        |    2 * COALESCE(SUM(cv) OVER (PARTITION BY event_type ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cv + 1
        |      AS r2x
        |  FROM (SELECT event_type, x, SUM(cnt) AS cv FROM pairs GROUP BY 1, 2)),
        |ry AS (
        |  SELECT event_type, y,
        |    2 * COALESCE(SUM(cv) OVER (PARTITION BY event_type ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cv + 1
        |      AS r2y
        |  FROM (SELECT event_type, y, SUM(cnt) AS cv FROM pairs GROUP BY 1, 2)),
        |j AS (
        |  SELECT p.event_type, CAST(p.cnt AS HUGEINT) AS cnt,
        |         CAST(rx.r2x AS HUGEINT) AS r2x, CAST(ry.r2y AS HUGEINT) AS r2y
        |  FROM pairs p
        |  JOIN rx ON rx.event_type = p.event_type AND rx.x = p.x
        |  JOIN ry ON ry.event_type = p.event_type AND ry.y = p.y),
        |s AS (
        |  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n,
        |         SUM(cnt * r2x) AS sx, SUM(cnt * r2y) AS sy,
        |         SUM(cnt * r2x * r2x) AS sxx, SUM(cnt * r2y * r2y) AS syy,
        |         SUM(cnt * r2x * r2y) AS sxy
        |  FROM j GROUP BY 1),
        |f AS (
        |  SELECT event_type, n,
        |         CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |         CAST(n AS HUGEINT) * sxx - sx * sx AS f1,
        |         CAST(n AS HUGEINT) * syy - sy * sy AS f2
        |  FROM s)
        |SELECT event_type, n,
        |  CASE WHEN f1 > 0 AND f2 > 0 THEN
        |    (CAST((num - num % 4294967296) // 4294967296 AS DOUBLE)
        |       * 4294967296.0 + CAST(num % 4294967296 AS DOUBLE))
        |    / sqrt(
        |      (CAST((f1 - f1 % 4294967296) // 4294967296 AS DOUBLE)
        |         * 4294967296.0 + CAST(f1 % 4294967296 AS DOUBLE))
        |      * (CAST((f2 - f2 % 4294967296) // 4294967296 AS DOUBLE)
        |         * 4294967296.0 + CAST(f2 % 4294967296 AS DOUBLE)))
        |  END AS rank_corr
        |FROM f ORDER BY event_type""".stripMargin

  override lazy val oracles: Map[String, String] = Map(
    "ev_welch_ttest" ->
      """WITH m AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd,
        |         CAST(ROUND(value * 100) AS BIGINT) AS c,
        |         event_type = 'purchase' AS is_p
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |a AS (
        |  SELECT wd,
        |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN is_p THEN c ELSE 0 END) AS BIGINT) AS s11,
        |    CAST(SUM(CASE WHEN is_p THEN c*c ELSE 0 END) AS BIGINT) AS s21,
        |    CAST(SUM(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN NOT is_p THEN c ELSE 0 END) AS BIGINT) AS s12,
        |    CAST(SUM(CASE WHEN NOT is_p THEN c*c ELSE 0 END) AS BIGINT) AS s22
        |  FROM m GROUP BY 1),
        |b AS (
        |  SELECT *,
        |    CASE WHEN n1 > 1 THEN
        |      (CAST(s21 AS DOUBLE) -
        |       CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) - 1.0) END AS v1,
        |    CASE WHEN n2 > 1 THEN
        |      (CAST(s22 AS DOUBLE) -
        |       CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |      / (CAST(n2 AS DOUBLE) - 1.0) END AS v2
        |  FROM a),
        |c2 AS (
        |  SELECT *, v1 / CAST(n1 AS DOUBLE) AS se1,
        |            v2 / CAST(n2 AS DOUBLE) AS se2 FROM b),
        |c3 AS (SELECT *, se1 + se2 AS se FROM c2)
        |SELECT wd, n1 AS n_purchase, n2 AS n_view,
        |  CASE WHEN n1 > 0 THEN CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE) END
        |    AS mean_purchase,
        |  CASE WHEN n2 > 0 THEN CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE) END
        |    AS mean_view,
        |  CASE WHEN se > 0 THEN
        |    (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |     CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt(se) END AS t_stat,
        |  CASE WHEN se > 0 THEN
        |    se * se / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0) +
        |               se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) END AS df
        |FROM c3 ORDER BY wd""".stripMargin,
    "ev_student_ttest" ->
      """WITH m AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd,
        |         CAST(ROUND(value * 100) AS BIGINT) AS c,
        |         event_type = 'purchase' AS is_p
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |a AS (
        |  SELECT wd,
        |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN is_p THEN c ELSE 0 END) AS BIGINT) AS s11,
        |    CAST(SUM(CASE WHEN is_p THEN c*c ELSE 0 END) AS BIGINT) AS s21,
        |    CAST(SUM(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN NOT is_p THEN c ELSE 0 END) AS BIGINT) AS s12,
        |    CAST(SUM(CASE WHEN NOT is_p THEN c*c ELSE 0 END) AS BIGINT) AS s22
        |  FROM m GROUP BY 1),
        |b AS (
        |  SELECT *,
        |    CASE WHEN n1 > 0 THEN
        |      CAST(s21 AS DOUBLE) -
        |      CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    END AS ss1,
        |    CASE WHEN n2 > 0 THEN
        |      CAST(s22 AS DOUBLE) -
        |      CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE)
        |    END AS ss2
        |  FROM a),
        |c2 AS (
        |  SELECT *, CASE WHEN n1 + n2 > 2 THEN (ss1 + ss2) /
        |    (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0) END AS sp2 FROM b),
        |c3 AS (
        |  SELECT *, sqrt(sp2 * (1.0 / CAST(n1 AS DOUBLE) +
        |                        1.0 / CAST(n2 AS DOUBLE))) AS se FROM c2)
        |SELECT wd, n1 AS n_purchase, n2 AS n_view,
        |  CASE WHEN se > 0 THEN
        |    (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |     CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE)) / se END AS t_stat,
        |  n1 + n2 - 2 AS df
        |FROM c3 ORDER BY wd""".stripMargin,
    "ev_ks_test" ->
      """WITH m AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd,
        |         CAST(ROUND(value * 100) AS BIGINT) AS c,
        |         event_type = 'purchase' AS is_p
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |v AS (
        |  SELECT wd, c,
        |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM m GROUP BY 1, 2),
        |w AS (
        |  SELECT wd,
        |    SUM(c1) OVER (PARTITION BY wd ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    SUM(c2) OVER (PARTITION BY wd ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
        |    SUM(c1) OVER (PARTITION BY wd) AS n1,
        |    SUM(c2) OVER (PARTITION BY wd) AS n2
        |  FROM v),
        |a AS (
        |  SELECT wd, CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
        |    CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS dmax
        |  FROM w GROUP BY 1)
        |SELECT wd, n1 AS n_purchase, n2 AS n_view,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(dmax AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) END AS d_stat,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) /
        |         (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
        |    (CAST(dmax AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)) END AS ks_stat
        |FROM a ORDER BY wd""".stripMargin,
    "ev_js_divergence" -> {
      import graft.functions.FixedLog2.duckLog2
      val tl = duckLog2(duckLog2(duckLog2(
        "SELECT * FROM t0", "n1", "l2n1"), "n2", "l2n2"), "tw", "l2tw")
      val gl = duckLog2(duckLog2(duckLog2(
        "SELECT * FROM g0", "ga", "l2a"), "gb", "l2b"), "marg", "l2m")
      s"""WITH m0 AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd,
         |         CAST(ROUND(value * 100) AS BIGINT) AS c,
         |         event_type = 'purchase' AS is_p
         |  FROM events WHERE event_type IN ('view', 'purchase')),
         |cells AS (
         |  SELECT wd, c,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS b
         |  FROM m0 GROUP BY 1, 2),
         |t0 AS (SELECT wd, CAST(SUM(a) AS BIGINT) AS n1,
         |              CAST(SUM(b) AS BIGINT) AS n2,
         |              CAST(SUM(a) AS BIGINT) * CAST(SUM(b) AS BIGINT) * 2 AS tw
         |       FROM cells GROUP BY 1),
         |tl AS ($tl),
         |g0 AS (SELECT cells.wd, cells.c, cells.a, cells.b,
         |              tl.n1, tl.n2, tl.l2n1, tl.l2n2, tl.l2tw,
         |              GREATEST(cells.a, 1) AS ga, GREATEST(cells.b, 1) AS gb,
         |              cells.a * tl.n2 + cells.b * tl.n1 AS marg
         |       FROM cells JOIN tl ON cells.wd = tl.wd),
         |gl AS ($gl),
         |agg AS (SELECT wd, n1, n2,
         |  CAST(SUM(CASE WHEN a > 0
         |    THEN a * (l2a + l2tw - l2n1 - l2m) ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN b > 0
         |    THEN b * (l2b + l2tw - l2n2 - l2m) ELSE 0 END) AS BIGINT) AS tq
         |  FROM gl GROUP BY 1, 2, 3)
         |SELECT wd, n1 AS n_purchase, n2 AS n_view,
         |  CASE WHEN n1 > 0 AND n2 > 0 THEN
         |    (CAST(tp AS DOUBLE) / CAST(n1 AS DOUBLE) +
         |     CAST(tq AS DOUBLE) / CAST(n2 AS DOUBLE)) / 2097152.0
         |  END AS jsd_bits
         |FROM agg ORDER BY wd""".stripMargin
    },
    "ev_kl_divergence" -> {
      import graft.functions.FixedLog2.duckLog2
      // eight L2 applications would nest duckLog2 ~170 subqueries deep
      // (the DuckDB PARSER exhausts memory past ~130); instead L2 runs
      // ONCE over the distinct union of every argument and joins back
      s"""WITH m0 AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd,
         |         CAST(ROUND(value * 100) AS BIGINT) AS c,
         |         event_type = 'purchase' AS is_p
         |  FROM events WHERE event_type IN ('view', 'purchase')),
         |cells AS (
         |  SELECT wd, c,
         |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS b
         |  FROM m0 GROUP BY 1, 2),
         |t0 AS (SELECT wd, CAST(SUM(a) AS BIGINT) AS n1,
         |              CAST(SUM(b) AS BIGINT) AS n2,
         |              CAST(COUNT(*) AS BIGINT) AS v,
         |              CAST(SUM(a) AS BIGINT) + CAST(COUNT(*) AS BIGINT) AS n1v,
         |              CAST(SUM(b) AS BIGINT) + CAST(COUNT(*) AS BIGINT) AS n2v
         |       FROM cells GROUP BY 1),
         |vals AS (SELECT DISTINCT val FROM (
         |  SELECT GREATEST(a, 1) AS val FROM cells
         |  UNION SELECT GREATEST(b, 1) FROM cells
         |  UNION SELECT a + 1 FROM cells UNION SELECT b + 1 FROM cells
         |  UNION SELECT n1 FROM t0 UNION SELECT n2 FROM t0
         |  UNION SELECT n1v FROM t0 UNION SELECT n2v FROM t0)),
         |lv AS (${duckLog2("SELECT * FROM vals", "val", "l2")}),
         |agg AS (SELECT cells.wd, t0.n1, t0.n2, t0.v,
         |  CAST(SUM(CASE WHEN a > 0
         |    THEN a * (la.l2 + lnv2.l2 - ln1.l2 - lbp.l2) ELSE 0 END)
         |    AS BIGINT) AS t,
         |  CAST(SUM(CASE WHEN b > 0
         |    THEN b * (lb.l2 + lnv1.l2 - ln2.l2 - lap.l2) ELSE 0 END)
         |    AS BIGINT) AS t_rev
         |  FROM cells
         |  JOIN t0 ON cells.wd = t0.wd
         |  JOIN lv la ON la.val = GREATEST(cells.a, 1)
         |  JOIN lv lb ON lb.val = GREATEST(cells.b, 1)
         |  JOIN lv lap ON lap.val = cells.a + 1
         |  JOIN lv lbp ON lbp.val = cells.b + 1
         |  JOIN lv ln1 ON ln1.val = t0.n1
         |  JOIN lv ln2 ON ln2.val = t0.n2
         |  JOIN lv lnv1 ON lnv1.val = t0.n1v
         |  JOIN lv lnv2 ON lnv2.val = t0.n2v
         |  GROUP BY 1, 2, 3, 4)
         |SELECT wd, n1 AS n_purchase, n2 AS n_view, v AS n_support,
         |  CASE WHEN n1 > 0 THEN
         |    CAST(t AS DOUBLE) / CAST(n1 * 1048576 AS DOUBLE) END AS kl_bits,
         |  CASE WHEN n2 > 0 THEN
         |    CAST(t_rev AS DOUBLE) / CAST(n2 * 1048576 AS DOUBLE)
         |  END AS kl_rev_bits
         |FROM agg ORDER BY wd""".stripMargin
    },
    "ev_contingency" ->
      """WITH base AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd
        |  FROM events),
        |cells AS (SELECT event_type, wd, COUNT(*) AS o FROM base GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |c AS (SELECT wd, CAST(SUM(o) AS BIGINT) AS cc FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |             COUNT(DISTINCT event_type) AS nr,
        |             COUNT(DISTINCT wd) AS nc FROM cells),
        |grid AS (
        |  SELECT r.r, c.cc, COALESCE(cells.o, 0) AS o, t.n, t.nr, t.nc
        |  FROM r CROSS JOIN c
        |  LEFT JOIN cells ON cells.event_type = r.event_type AND cells.wd = c.wd
        |  CROSS JOIN t),
        |q AS (
        |  SELECT n, nr, nc,
        |    CAST((CAST(o*n - r*cc AS HUGEINT) * CAST(o*n - r*cc AS HUGEINT)
        |          * 1000000)
        |         // (CAST(n AS HUGEINT) * CAST(r AS HUGEINT) *
        |            CAST(cc AS HUGEINT)) AS BIGINT) AS t_micro
        |  FROM grid),
        |a AS (SELECT n, nr, nc, CAST(SUM(t_micro) AS BIGINT) AS chi2_micro
        |      FROM q GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT n, nr, nc,
        |    CAST(chi2_micro AS DOUBLE) / 1e6 AS chi2 FROM a),
        |g AS (
        |  SELECT *,
        |    chi2 / CAST(n AS DOUBLE) AS phi2,
        |    GREATEST(0.0, chi2 / CAST(n AS DOUBLE) -
        |      (CAST(nr AS DOUBLE) - 1.0) * (CAST(nc AS DOUBLE) - 1.0) /
        |      (CAST(n AS DOUBLE) - 1.0)) AS phi2c,
        |    CAST(nr AS DOUBLE) -
        |      (CAST(nr AS DOUBLE) - 1.0) * (CAST(nr AS DOUBLE) - 1.0) /
        |      (CAST(n AS DOUBLE) - 1.0) AS nrc,
        |    CAST(nc AS DOUBLE) -
        |      (CAST(nc AS DOUBLE) - 1.0) * (CAST(nc AS DOUBLE) - 1.0) /
        |      (CAST(n AS DOUBLE) - 1.0) AS ncc
        |  FROM f)
        |SELECT n, chi2,
        |  CASE WHEN n > 0 THEN
        |    sqrt(chi2 / (chi2 + CAST(n AS DOUBLE))) END AS contingency_c,
        |  CASE WHEN n > 1 AND LEAST(nrc, ncc) > 1 THEN
        |    sqrt(phi2c / (LEAST(nrc, ncc) - 1.0)) END AS cramers_v_corr
        |FROM g""".stripMargin,
    "ev_theils_u" -> {
      import graft.functions.FixedLog2.duckLog2
      s"""WITH base AS (
         |  SELECT event_type,
         |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd
         |  FROM events),
         |cells AS (SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS o
         |          FROM base GROUP BY 1, 2),
         |r0 AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
         |       FROM cells GROUP BY 1),
         |c0 AS (SELECT wd, CAST(SUM(o) AS BIGINT) AS cc FROM cells GROUP BY 1),
         |t0 AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
         |rl AS (${duckLog2("SELECT * FROM r0", "r", "l2r")}),
         |cl AS (${duckLog2("SELECT * FROM c0", "cc", "l2c")}),
         |tl AS (${duckLog2("SELECT * FROM t0", "n", "l2n")}),
         |ol AS (${duckLog2("SELECT * FROM cells", "o", "l2o")}),
         |si AS (SELECT CAST(SUM(o::HUGEINT *
         |                       (l2o + l2n - l2r - l2c)::HUGEINT) AS BIGINT)
         |         AS s_i
         |       FROM ol JOIN rl USING (event_type) JOIN cl USING (wd)
         |       CROSS JOIN tl),
         |hx AS (SELECT CAST(SUM(r::HUGEINT * (l2n - l2r)::HUGEINT) AS BIGINT)
         |         AS s_hx FROM rl CROSS JOIN tl),
         |hy AS (SELECT CAST(SUM(cc::HUGEINT * (l2n - l2c)::HUGEINT) AS BIGINT)
         |         AS s_hy FROM cl CROSS JOIN tl)
         |SELECT n,
         |  CAST(s_hx AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) AS h_type,
         |  CAST(s_hy AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) AS h_wd,
         |  CAST(s_i AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) AS mi_bits,
         |  CASE WHEN s_hx > 0 THEN
         |    CAST(s_i AS DOUBLE) / CAST(s_hx AS DOUBLE) END AS theils_u,
         |  CASE WHEN s_hy > 0 THEN
         |    CAST(s_i AS DOUBLE) / CAST(s_hy AS DOUBLE) END AS theils_u_rev
         |FROM t0 CROSS JOIN si CROSS JOIN hx CROSS JOIN hy""".stripMargin
    },
    "ev_entropy" -> {
      import graft.functions.FixedLog2.duckLog2
      s"""WITH cells AS (
         |  SELECT event_type,
         |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |         CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |g0 AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
         |              CAST(COUNT(*) AS BIGINT) AS n_values
         |       FROM cells GROUP BY 1),
         |gl AS (${duckLog2("SELECT * FROM g0", "n", "l2n")}),
         |cl AS (${duckLog2("SELECT * FROM cells", "c", "l2c")})
         |SELECT event_type, n, n_values,
         |  CAST(CAST(SUM(c::HUGEINT * (l2n - l2c)::HUGEINT) AS BIGINT)
         |       AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) AS h_bits
         |FROM cl JOIN gl USING (event_type)
         |GROUP BY event_type, n, n_values
         |ORDER BY event_type""".stripMargin
    },
    "ev_roc_auc" ->
      """WITH m AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd,
        |         CAST(ROUND(value * 100) AS BIGINT) AS c,
        |         event_type = 'purchase' AS is_p
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |v AS (
        |  SELECT wd, c,
        |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM m GROUP BY 1, 2),
        |w AS (
        |  SELECT wd, c1, c2, c1 + c2 AS ct,
        |    COALESCE(SUM(c1 + c2) OVER (PARTITION BY wd ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
        |  FROM v),
        |a AS (
        |  SELECT wd, CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * (2 * less + ct + 1)) AS BIGINT) AS two_r1
        |  FROM w GROUP BY 1),
        |b AS (SELECT *, two_r1 - n1 * (n1 + 1) AS two_u1 FROM a)
        |SELECT wd, n1 AS n_purchase, n2 AS n_view,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(two_u1 AS DOUBLE) / (2.0 * CAST(n1 * n2 AS DOUBLE)) END AS auc
        |FROM b ORDER BY wd""".stripMargin,
    "ev_rank_corr" ->
      rankCorrOracleSql(
        """base AS (
          |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS x,
          |         epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000 AS y
          |  FROM events)""".stripMargin),
    "ev_rank_corr_bucketed" ->
      rankCorrOracleSql(
        s"""c0 AS (
          |  SELECT event_type,
          |         GREATEST(CAST(ROUND(value * 100) AS BIGINT), 1) AS c,
          |         (epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000)
          |           // 3600000000 AS y
          |  FROM events),
          |v AS (SELECT DISTINCT c FROM c0),
          |l AS (${graft.functions.FixedLog2.duckLog2("SELECT * FROM v", "c", "l2c")}),
          |base AS (
          |  SELECT c0.event_type, l.l2c // ${graft.functions.FixedLog2.Unit / 8} AS x, c0.y AS y
          |  FROM c0 JOIN l ON l.c = c0.c)""".stripMargin),
    "ev_cramers_v" ->
      """WITH base AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd
        |  FROM events),
        |cells AS (SELECT event_type, wd, COUNT(*) AS o FROM base GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |c AS (SELECT wd, CAST(SUM(o) AS BIGINT) AS cc FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |             COUNT(DISTINCT event_type) AS nr,
        |             COUNT(DISTINCT wd) AS nc FROM cells),
        |grid AS (
        |  SELECT r.r, c.cc, COALESCE(cells.o, 0) AS o, t.n, t.nr, t.nc
        |  FROM r CROSS JOIN c
        |  LEFT JOIN cells ON cells.event_type = r.event_type AND cells.wd = c.wd
        |  CROSS JOIN t),
        |q AS (
        |  SELECT n, nr, nc,
        |    CAST((CAST(o*n - r*cc AS HUGEINT) * CAST(o*n - r*cc AS HUGEINT)
        |          * 1000000)
        |         // (CAST(n AS HUGEINT) * CAST(r AS HUGEINT) *
        |            CAST(cc AS HUGEINT)) AS BIGINT) AS t_micro
        |  FROM grid),
        |a AS (SELECT n, nr, nc, CAST(SUM(t_micro) AS BIGINT) AS chi2_micro
        |      FROM q GROUP BY 1, 2, 3)
        |SELECT n, CAST(chi2_micro AS DOUBLE) / 1e6 AS chi2,
        |  (nr - 1) * (nc - 1) AS dof,
        |  CASE WHEN n > 0 AND LEAST(nr, nc) > 1 THEN
        |    sqrt((CAST(chi2_micro AS DOUBLE) / 1e6) /
        |         (CAST(n AS DOUBLE) * (CAST(LEAST(nr, nc) AS DOUBLE) - 1.0)))
        |  END AS cramers_v
        |FROM a""".stripMargin,
    "ev_mannwhitney" ->
      """WITH m AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS wd,
        |         CAST(ROUND(value * 100) AS BIGINT) AS c,
        |         event_type = 'purchase' AS is_p
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |v AS (
        |  SELECT wd, c,
        |    CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM m GROUP BY 1, 2),
        |w AS (
        |  SELECT wd, c1, c2, c1 + c2 AS ct,
        |    COALESCE(SUM(c1 + c2) OVER (PARTITION BY wd ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
        |  FROM v),
        |a AS (
        |  SELECT wd, CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * (2 * less + ct + 1)) AS BIGINT) AS two_r1,
        |    CAST(SUM(ct*ct*ct - ct) AS BIGINT) AS tiesum
        |  FROM w GROUP BY 1),
        |b AS (
        |  SELECT *, n1 + n2 AS n, two_r1 - n1 * (n1 + 1) AS two_u1 FROM a),
        |c3 AS (
        |  SELECT *,
        |    CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
        |      CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      ((CAST(n AS DOUBLE) + 1.0) -
        |       CAST(tiesum AS DOUBLE) /
        |       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS varu
        |  FROM b)
        |SELECT wd, n1 AS n_purchase, n2 AS n_view,
        |  CAST(two_u1 AS DOUBLE) / 2.0 AS u1,
        |  CASE WHEN varu > 0 THEN
        |    CAST(two_u1 - n1 * n2 AS DOUBLE) / (2.0 * sqrt(varu)) END AS z
        |FROM c3 ORDER BY wd""".stripMargin)
}
