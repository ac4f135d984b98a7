package graft.operators

import graft.QueryPack
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Event-stream operators over the `events` fixture (SURVEY.md §2.3
  * X5–X9), batch-first: JSON property extraction, tumbling and sliding
  * event-time windows, gap-based sessionization, per-group top-k, and
  * per-group distinct stats. `graft.streaming.EventStream` re-expresses
  * the windowed aggregations as Structured Streaming with a watermark,
  * and a ScalaTest pins stream/batch parity.
  *
  * Timestamps are surfaced as epoch integers (`unix_timestamp`/
  * `unix_micros`), never raw timestamps — integer outputs are immune to
  * µs/ns physical-type drift between engines.
  *
  * Scale posture: every aggregate is keyed by (window × type) or
  * user_id — high-cardinality, partial-agg friendly; sessionization
  * shuffles once on user_id; nothing collects to the driver.
  */
object Events extends QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 6))

  /** Deterministic exact-integer→double: engines disagree on rounding
    * a >2^53 integer into a double (DuckDB's int128 cast double-rounds
    * its 64-bit halves; Spark's BigDecimal path rounds correctly), so
    * split at 2^32 — hi/lo are EXACT in integer arithmetic (truncated
    * `%` in both engines, valid for negatives too) and each casts
    * exactly (< 2^53), leaving one correctly-rounded add both engines
    * perform identically. Shared by [[moments]], [[linregDaily]] and [[Stats]]’ rankCorr;
    * the oracle SQL spells out the same split. */
  private[operators] def splitToDouble(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val lo = s % lit(4294967296L)
    val hi = (s - lo) / lit(4294967296L)
    hi.cast(DoubleType) * lit(4294967296.0) + lo.cast(DoubleType)
  }

  /** X5: JSON property extraction from the `props` column. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** X6: 6-hour tumbling event-time windows per event type. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast(DoubleType).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** X6: 1-day windows sliding every 6 hours (each event lands in 4). */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"))

  /** X7: gap-based sessionization (30-minute inactivity) per user via
    * `session_window` — Spark's native merging session operator. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast(DoubleType).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("total_value"))

  /** X7 alternate: the same sessionization built from first principles —
    * lag-gap marking + cumulative session ids + grouping. Shares
    * `ev_session`'s oracle, so DuckDB arbitrates that BOTH Spark
    * implementations (native `session_window` and this manual form)
    * agree exactly. The manual form is also the fallback pattern when a
    * custom gap rule (per-user gap, activity-type resets) outgrows
    * `session_window`. */
  def sessionizeManual(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >= gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        (max(unix_micros(col("ts"))) + gapUs).as("end_us"),
        count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast(DoubleType).as("total_value"))
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("total_value"))
  }

  /** JSON props parsed into a real MapType column, exploded to
    * (key, value) rows and aggregated per key — the dynamic-schema
    * property-bag pattern (map functions + generator), complementing
    * [[jsonExtract]]'s fixed-path form. */
  def propsMapStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(explode(from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
        max(col("value")).as("max_v"), sum(col("value")).as("sum_v"))
      .orderBy(col("key"))

  /** FULL OUTER day-grain join of two event streams (clicks vs
    * purchases): days present on either side survive with zero-filled
    * gaps — the reconciliation join shape (both sides shuffle on the
    * key; no side is privileged). */
  def dailyFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n_clicks"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n_purchases"))
    clicks.join(purchases, Seq("day"), "full_outer")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy(col("day"))
  }

  /** X8: top-3 events by value per user. */
  def topKPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** Per-type engagement stats with exact distinct users. */
  def typeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(dec(col("value"))).cast(DoubleType).as("total_value"))
      .orderBy(col("event_type"))

  /** X9: approximate distinct users per type (HLL) — rows-only. */
  def approxUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .orderBy(col("event_type"))

  private val FunnelWindow = "interval 7 days"

  /** ClickHouse `windowFunnel` analogue: the deepest step of the
    * view → click → purchase chain each user completes, with strict
    * event-time ordering (each step strictly after the previous) and
    * the whole chain inside a 7-day window anchored at the first view.
    * Step times are minima, so the result is deterministic regardless of
    * event arrival order. Reported as the level histogram (level 0 =
    * users who never viewed), the funnel-conversion table every product
    * analytics stack starts from.
    *
    * Scale posture: three user-keyed aggregates (each with map-side
    * partials) and user-keyed joins — the same single shuffle key
    * throughout, no windows over raw events, no per-user event arrays
    * (ClickHouse's windowFunnel buffers a per-user event list; the
    * min-anchored formulation needs only (user, step-time) rows). */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr(FunnelWindow))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t1") + expr(FunnelWindow))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    ev.select(col("user_id")).distinct()
      .join(t1.select(col("user_id"), col("t1")), Seq("user_id"), "left")
      .join(t2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(when(col("t3").isNotNull, 3)
        .when(col("t2").isNotNull, 2)
        .when(col("t1").isNotNull, 1)
        .otherwise(0).cast("long").as("level"))
      .groupBy(col("level")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("level"))
  }

  /** ClickHouse `windowFunnel(strict_order)` analogue: the funnel
    * level when NO intervening event of any type is tolerated —
    * anchored at each user's FIRST view, the chain advances only while
    * the immediately-next events are exactly click then purchase
    * (any other event, including a second view, freezes the level).
    * [[funnelSteps]] is the loose mode; per user strict ≤ loose, so
    * the ≥-level cumulative counts are dominated (EventsTextSpec pins
    * both that and hand-computed fixtures).
    *
    * The adjacency requirement is what makes strict mode WINDOW-
    * expressible (and hence oracle-paired, unlike a general DFA): the
    * level is a function of the two LEAD types at the anchor row.
    * One user-keyed window shuffle; the level-0 band is the distinct-
    * user anti-join, same as the loose form. */
  def funnelStrict(spark: SparkSession, dir: String): DataFrame =
    funnelStrictOf(Tables.events(spark, dir))

  private[graft] def funnelStrictOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withLead = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next1", lead(col("event_type"), 1).over(w))
      .withColumn("next2", lead(col("event_type"), 2).over(w))
    // anchor = the first view row per user (row_number over the
    // view-filtered stream preserves the full-stream LEAD values)
    val wv = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val anchors = withLead.filter(col("event_type") === "view")
      .withColumn("vrn", row_number().over(wv))
      .filter(col("vrn") === 1)
      .select(col("user_id"),
        (lit(1) +
          when(col("next1") === "click",
            lit(1) + when(col("next2") === "purchase", 1).otherwise(0))
            .otherwise(0)).cast("long").as("level"))
    ev.select(col("user_id")).distinct()
      .join(anchors, Seq("user_id"), "left")
      .select(coalesce(col("level"), lit(0L)).as("level"))
      .groupBy(col("level")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("level"))
  }

  /** ClickHouse `sequenceMatch('(?1)(?2)...(?n)')` analogue
    * (`/root/reference/README.md:1-17` — the behavioral-analytics
    * family the reference's engine is the namesake of): for each user,
    * does the ORDERED pattern of event types occur, each step strictly
    * after the previous, arbitrary other events in between, the whole
    * chain inside `window` anchored at the first step's earliest
    * occurrence? Generalizes [[funnelSteps]] from the fixed
    * view→click→purchase chain to any type sequence (repeated types
    * included): on funnel-shaped patterns the matched-user set is
    * exactly funnel level == pattern length (EventsTextSpec pins this).
    *
    * Semantics are the earliest-completion recurrence
    * `t_k = min{ts : type = pattern(k), ts > t_{k-1}, ts ≤ t_1 + window}`
    * — deterministic, and each step is one user-keyed aggregate with
    * map-side partials (the same single shuffle key throughout; no
    * per-user event arrays, unlike ClickHouse's in-memory event list).
    * Output: one row per fully-matched user with the step times as
    * epoch microseconds (exact integers; fractional-second epochs
    * floor vs round differently across engines). */
  def sequenceMatch(spark: SparkSession, dir: String,
      pattern: Seq[String] = Seq("view", "click", "purchase"),
      window: String = FunnelWindow): DataFrame =
    sequenceMatchOf(Tables.events(spark, dir), pattern, window)

  private[graft] def sequenceMatchOf(ev: DataFrame, pattern: Seq[String],
      window: String): DataFrame = {
    require(pattern.nonEmpty, "pattern must name at least one event type")
    var cur = ev.filter(col("event_type") === pattern.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    for (k <- 2 to pattern.length) {
      // carried step times are constant per user; min() is just the
      // cheapest way to keep them through the aggregate
      val carried = (1 until k).map(j => min(col(s"t$j")).as(s"t$j"))
      val aggs = min(col("ts")).as(s"t$k") +: carried
      cur = ev.filter(col("event_type") === pattern(k - 1))
        .join(cur, "user_id")
        .filter(col("ts") > col(s"t${k - 1}") &&
          col("ts") <= col("t1") + expr(window))
        .groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
    }
    val stepCols = (1 to pattern.length)
      .map(k => unix_micros(col(s"t$k")).as(s"t${k}_us"))
    cur.select(col("user_id") +: stepCols: _*).orderBy(col("user_id"))
  }

  /** ClickHouse `sequenceMatch` with gap NEGATIONS —
    * `'(?1)(?!g1)(?2)(?!g2)(?3)'` (`/root/reference/README.md:1-17`,
    * the engine family's behavioral-analytics surface): does an ordered
    * chain of `steps` exist for the user such that NO event of the
    * negated type `negs(k)` falls strictly between the chosen step k
    * and step k+1? Pure existence semantics (no time window), so unlike
    * [[sequenceMatch]]'s earliest-completion chain the witness is
    * chosen adversarially — an early dirty view→click gap must not mask
    * a later clean one.
    *
    * Single-pass formulation (no per-user arrays, no iteration over
    * data): walk events in time order keeping, per prefix length k, the
    * LATEST admissible completion time `v_k`. An event of type
    * `steps(k)` at time t extends the prefix iff the latest `v_{k-1}`
    * strictly before t is later than the last `negs(k-1)` event
    * strictly before t — then and only then is some gap clean (any
    * forbidden event inside (v_{k-1}, t) would itself be a
    * "last-forbidden-before-t" later than `v_{k-1}`). Each level is a
    * running-max window over the SAME (user_id × time) sort, so
    * Catalyst plans ONE exchange and ONE sort for the whole chain —
    * the per-user scan ClickHouse does in memory, expressed as stacked
    * window aggregates that scale out on the user key.
    *
    * Strictness convention: "strictly before" is by microsecond
    * timestamp (RANGE frame to -1µs), making each gap half-open
    * `[step_k, step_{k+1})`: a forbidden event tied at the lower
    * step's exact µs poisons the gap, one tied at the upper step's
    * does not — identical in both engines, deterministic under any
    * event-id tie order (EventsTextSpec pins the convention against a
    * full brute-force enumeration). */
  def sequenceMatchNeg(spark: SparkSession, dir: String,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      negs: Seq[Option[String]] = Seq(Some("purchase"), Some("view"))): DataFrame =
    sequenceMatchNegOf(Tables.events(spark, dir), steps, negs)

  private[graft] def sequenceMatchNegOf(ev: DataFrame, steps: Seq[String],
      negs: Seq[Option[String]]): DataFrame = {
    require(steps.length >= 2 && negs.length == steps.length - 1,
      "each adjacent step pair carries one (possibly absent) negation")
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(Window.unboundedPreceding, -1)
    var cur = ev.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .withColumn("v1",
        when(col("event_type") === steps.head, col("tsu")))
    for (k <- 2 to steps.length) {
      val prev = max(col(s"v${k - 1}")).over(w)
      val clean = negs(k - 2) match {
        case Some(g) =>
          val forb = max(when(col("event_type") === g, col("tsu"))).over(w)
          forb.isNull || prev > forb
        case None => lit(true)
      }
      cur = cur.withColumn(s"v$k",
        when(col("event_type") === steps(k - 1) && prev.isNotNull && clean,
          col("tsu")))
    }
    cur.filter(col(s"v${steps.length}").isNotNull)
      .select(col("user_id")).distinct().orderBy(col("user_id"))
  }

  /** ClickHouse `sequenceMatch` with PAIRWISE time constraints — the
    * `(?1)(?t<=g₁)(?2)(?t<=g₂)(?3)` pattern form: does the user have a
    * view → click → purchase chain where each step lands within its
    * gap of the PREVIOUS step (vs [[funnelSteps]]' single window
    * anchored at step 1). Existence semantics ride the
    * latest-admissible-prefix device of [[sequenceMatchNeg]]: a step-k
    * event is admissible iff the running max over admissible step-(k−1)
    * completion times strictly before it (RANGE to −1µs — the same
    * half-open tie convention) is within gₖ₋₁ — correct because an
    * upper-bound gap constraint is monotone in the prefix time, so if
    * ANY admissible prefix satisfies it, the latest does. One stacked
    * window pass per step over the (user, time) sort — no per-user
    * event buffering, scales on the user key. */
  def sequenceMatchTimed(spark: SparkSession, dir: String,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      gapsUs: Seq[Long] = Seq(3600000000L, 86400000000L)): DataFrame =
    sequenceMatchTimedOf(Tables.events(spark, dir), steps, gapsUs)

  private[graft] def sequenceMatchTimedOf(ev: DataFrame, steps: Seq[String],
      gapsUs: Seq[Long]): DataFrame = {
    require(steps.length >= 2 && gapsUs.length == steps.length - 1,
      "each adjacent step pair carries one max-gap bound")
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(Window.unboundedPreceding, -1)
    var cur = ev.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .withColumn("v1",
        when(col("event_type") === steps.head, col("tsu")))
    for (k <- 2 to steps.length) {
      val prev = max(col(s"v${k - 1}")).over(w)
      cur = cur.withColumn(s"v$k",
        when(col("event_type") === steps(k - 1) && prev.isNotNull &&
          prev >= col("tsu") - lit(gapsUs(k - 2)), col("tsu")))
    }
    cur.filter(col(s"v${steps.length}").isNotNull)
      .select(col("user_id")).distinct().orderBy(col("user_id"))
  }

  /** ClickHouse `sumMap` analogue at day grain: one row per day whose
    * value is the map event_type → (event count, sum of the integer
    * `props.k` metric) — the "aggregate a whole keyed family in one
    * pass" signature sumMap exists for (vs one query per key). The
    * map itself is built by [[sumMapOf]] as a true `map<string,
    * struct<n,sum_k>>` column; this query key serializes it to a
    * canonical sorted `type:n:sum_k` string because the oracle compare
    * hashes scalar cells — map/array cell comparison across engines is
    * not part of the driver contract (no existing oracle-paired key
    * emits one). Both legs are exact integers, so the string is
    * hash-stable by construction.
    *
    * Scale posture: the inner (day × type) aggregate is partial-agg
    * friendly with a small value payload; the outer per-day fold
    * collects at most |event types| entries per group — bounded by the
    * type vocabulary, not the data. */
  def sumMapDaily(spark: SparkSession, dir: String): DataFrame =
    sumMapOf(Tables.events(spark, dir))
      .select(col("day"),
        array_join(array_sort(transform(map_entries(col("kv")),
          e => concat_ws(":", e("key"), e("value")("n"), e("value")("sum_k")))),
          ",").as("kv"))
      .orderBy(col("day"))

  /** ClickHouse `minMap`/`maxMap` analogue at day grain — completing
    * the Map-combinator family next to [[sumMapDaily]]: per day, the
    * per-type (min, max, count) of the `props.k` metric for rows that
    * CARRY the metric (min/max have no null identity, so metric-less
    * rows are excluded — unlike sumMap's COALESCE-0 count-all
    * convention; the spec pins the two keys' reconciliation). Same
    * canonical sorted-string serialization and the same bounded
    * per-day fold: the inner (day × type) aggregate is partial-agg
    * friendly and the row count per day is capped by the type
    * vocabulary. */
  def minMaxMapDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("ts").cast("date").as("d"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("d"), col("event_type"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
        count(lit(1)).as("n"))
      .groupBy(expr("cast(unix_date(d) as bigint)").as("day"))
      .agg(array_join(array_sort(collect_list(
        concat_ws(":", col("event_type"), col("mn"), col("mx"), col("n")))),
        ",").as("kv"))
      .orderBy(col("day"))

  /** The map-typed seam behind [[sumMapDaily]]: day (epoch-day int) →
    * `map<event_type, struct<n, sum_k>>`. `sum_k` is null-guarded to 0
    * so engines that drop vs keep null map entries cannot diverge. */
  private[graft] def sumMapOf(ev: DataFrame): DataFrame =
    ev.select(col("ts").cast("date").as("d"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("k")), lit(0L)).as("sum_k"))
      .groupBy(col("d"))
      .agg(map_from_entries(array_sort(collect_list(
        struct(col("event_type").as("key"),
          struct(col("n"), col("sum_k")).as("value"))))).as("kv"))
      .select(expr("cast(unix_date(d) as bigint)").as("day"), col("kv"))

  /** ClickHouse `sequenceNextNode('forward', 'head')` analogue: for
    * each user completing the view→click chain (earliest-completion
    * semantics and 7-day window identical to [[sequenceMatch]]), the
    * type of the FIRST event strictly after the chain completes —
    * "what do users do right after converting", the behavioral
    * next-step readout ClickHouse ships beside funnels. Output is the
    * distribution (next_type, n_users).
    *
    * Determinism: the successor is chosen by (timestamp µs, event_id)
    * — event_id is unique, so ties at the same microsecond cannot make
    * the pick order-dependent in either engine. One user-keyed window
    * over the already-filtered successor set; the chain itself reuses
    * [[sequenceMatchOf]]'s per-step aggregates (map-side partials on
    * the one user_id shuffle key throughout). */
  def sequenceNextNode(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val base = sequenceMatchOf(ev, Seq("view", "click"), FunnelWindow)
      .select(col("user_id"), col("t2_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    ev.select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id"), col("event_type"))
      .join(base, "user_id")
      .filter(col("tsu") > col("t2_us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("event_type").as("next_type"), col("n_users"))
      .orderBy(col("next_type"))
  }

  /** ClickHouse `retention` analogue: per first-seen-day cohort, how
    * many users come back exactly 1 and exactly 7 days later. One
    * (user, day) distinct pass, a per-user min, and one cohort-keyed
    * aggregate — no per-user arrays. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    cohort.join(days, "user_id")
      .groupBy(col("cohort_day"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(datediff(col("day"), col("cohort_day")) === 1,
          col("user_id"))).as("retained_d1"),
        countDistinct(when(datediff(col("day"), col("cohort_day")) === 7,
          col("user_id"))).as("retained_d7"))
      // epoch-day integer, per the oracle-parity rule: integer outputs
      // are immune to date/timestamp physical-type drift between engines
      .select(expr("cast(unix_date(cohort_day) as bigint)").as("cohort_epoch_day"),
        col("n_users"), col("retained_d1"), col("retained_d7"))
      .orderBy(col("cohort_epoch_day"))
  }

  /** Full cohort-retention triangle generalizing [[retention]]'s
    * d1/d7 columns: active-user counts at EVERY (cohort first-seen day
    * × age-in-days) cell — the complete matrix product analytics heat-
    * maps. Same linear shape as retention: one (user, day) distinct
    * pass, a per-user min, one (cohort, age) aggregate; the output is
    * bounded by days² cells, never user-sized. Age 0 equals the cohort
    * size by construction and the d1/d7 columns of `ev_retention` are
    * exactly the age-1/age-7 cells (EventsTextSpec pins both). */
  def cohortMatrix(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    cohort.join(days, "user_id")
      .groupBy(expr("cast(unix_date(cohort_day) as bigint)").as("cohort_epoch_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_epoch_day"), col("age_days"))
  }

  /** Markov transition matrix of the event stream: counts of adjacent
    * (previous type → next type) steps inside each user's time-ordered
    * event sequence — the first-order behavioral model product
    * analytics derives navigation graphs from.
    *
    * One window shuffle keyed by user_id (the same key every other
    * per-user operator here shuffles on) with a (ts, event_id) sort
    * inside each user — per-user sequences stay partition-local no
    * matter the corpus size, and the final aggregate is 25 rows
    * (|types|²), map-side combinable. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("prev_type"), col("event_type").as("next_type"), col("n"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** ClickHouse `sequenceCount('(?1).*(?2)')` analogue in its
    * overlapping-pair form: per user, the number of ordered
    * (view, click) pairs — every click counts each view that precedes
    * it. A running conditional count over the per-user sequence (rows
    * frame, exclusive of the current row) evaluated at click rows;
    * deterministic under the (ts, event_id) tie-break.
    *
    * Same single user-keyed window shuffle as [[transitions]]; no
    * self-join of the event stream (the naive pair join is quadratic
    * per user — the running count is linear). */
  def sequencePairs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("views_before",
        coalesce(sum(when(col("event_type") === "view", 1L)).over(w), lit(0L)))
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(sum(col("views_before")).as("n_pairs"))
      .filter(col("n_pairs") > 0)
      .orderBy(col("user_id"))
  }

  /** ClickHouse `sequenceCount('(?1)(?2)')` analogue in its
    * MAXIMUM-DISJOINT form: per user, the largest number of disjoint
    * ordered (view, click) pairs — the bracket-matching count (view =
    * open, click = close, each click consuming the earliest available
    * view). Scanning left to right, `matched = total_clicks − max(0,
    * max_prefix(clicks_so_far − views_so_far))` — the classic
    * parenthesis identity — so the whole operator is two running sums
    * and a per-user max: ONE user-keyed window shuffle, no per-user
    * event arrays, no self-join. ClickHouse's own greedy restart
    * semantics (which can undercount: on view,view,click,click it
    * finds 1, the maximum is 2) is [[sequenceCountGreedy]].
    *
    * EventsTextSpec pins the formula against a direct stack simulation
    * and the ≥-greedy dominance; the oracle re-states the identity in
    * DuckDB window SQL. */
  def sequenceCount(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("views", sum(when(col("event_type") === "view", 1L)
        .otherwise(0L)).over(w))
      .withColumn("clicks", sum(when(col("event_type") === "click", 1L)
        .otherwise(0L)).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("clicks")).as("total_clicks"),
        greatest(max(col("clicks") - col("views")), lit(0L)).as("unmatched"))
      .select(col("user_id"),
        (col("total_clicks") - col("unmatched")).as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("user_id"))
  }

  /** ClickHouse `sequenceCount` EXACT semantics: scan each user's
    * ordered stream with a two-state machine (looking-for-view →
    * looking-for-click), restarting after each completed match — the
    * non-overlapping greedy count ClickHouse implements with its
    * in-memory per-user event list. Here the per-user stream is the
    * filtered (view|click) subsequence only, collected and sorted once
    * per user and folded with the `aggregate` higher-order function —
    * array size is bounded by per-user event count, the same bound
    * ClickHouse itself assumes, and the fold is codegen'd per row.
    * ORACLE-PAIRED (r17): the DFA replays as a DuckDB recursive CTE
    * advancing one event per iteration (see the oracle comment for why
    * not list_reduce); EventsTextSpec additionally pins it against a
    * direct Scala simulation and dominance by [[sequenceCount]]'s
    * maximum. */
  def sequenceCountGreedy(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
        when(col("event_type") === "view", 0).otherwise(1).as("sym"))))
        .as("seq"))
      .withColumn("n_matches", expr(
        """aggregate(seq, named_struct('st', 0, 'cnt', 0L),
          |  (a, x) -> if(a.st = 0 and x.sym = 0,
          |              named_struct('st', 1, 'cnt', a.cnt),
          |              if(a.st = 1 and x.sym = 1,
          |                 named_struct('st', 0, 'cnt', a.cnt + 1L),
          |                 a)),
          |  a -> a.cnt)""".stripMargin))
      .filter(col("n_matches") > 0)
      .select(col("user_id"), col("n_matches"))
      .orderBy(col("user_id"))

  /** ClickHouse `windowFunnel(..., 'strict_dedup')` analogue —
    * completing the mode family next to [[funnelSteps]] (default) and
    * [[funnelStrict]] (strict_order): a repeat of an ALREADY-MATCHED
    * step's type interrupts the search, and the user's answer is the
    * level reached at the break ("repeating event interrupts further
    * processing" — the published strict_dedup rule, made precise here
    * as: scanning the user's funnel events in (time, id) order with
    * the chain anchored at its first view, an event whose type equals
    * a matched step ends the scan; the next step must land strictly
    * after the previous and within 7 days of the anchor; types AHEAD
    * of the chain are ignored, as in the default mode). A
    * break-on-condition scan is inherently sequential, so like
    * [[sequenceCountGreedy]] it rides the per-user sorted-array
    * `aggregate` fold — bounded by per-user event count, the same
    * bound ClickHouse's own buffered list assumes. ORACLE-PAIRED
    * (r17): the fold replays as a DuckDB recursive CTE advancing one
    * event per iteration (NOT list_reduce — nondeterministic over many
    * rows on this DuckDB build; see the oracle comment), so the level
    * table is two-engine hash-exact; EventsTextSpec additionally pins
    * a direct Scala simulation, hand-built break cases, and level-wise
    * dominance by the default mode. */
  def funnelDedup(spark: SparkSession, dir: String): DataFrame =
    funnelDedupOf(Tables.events(spark, dir))

  private[graft] def funnelDedupOf(ev: DataFrame): DataFrame = {
    val folded = ev.filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1).otherwise(2).as("sym"))))
        .as("seq"))
      .withColumn("level", expr(
        """aggregate(seq,
          |  named_struct('lv', 0, 'a', 0L, 't', 0L, 'done', false),
          |  (a, x) -> if(a.done or a.lv = 3, a,
          |    if(a.lv = 0,
          |       if(x.sym = 0,
          |          named_struct('lv', 1, 'a', x.us, 't', x.us, 'done', false),
          |          a),
          |       if(x.sym = a.lv and x.us > a.t
          |            and x.us <= a.a + 604800000000L,
          |          named_struct('lv', a.lv + 1, 'a', a.a, 't', x.us,
          |                       'done', false),
          |          if(x.sym < a.lv,
          |             named_struct('lv', a.lv, 'a', a.a, 't', a.t,
          |                          'done', true),
          |             a)))),
          |  a -> cast(a.lv as bigint))""".stripMargin))
      .select(col("user_id"), col("level"))
    ev.select(col("user_id")).distinct()
      .join(folded, Seq("user_id"), "left")
      .select(coalesce(col("level"), lit(0L)).as("level"))
      .groupBy(col("level")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("level"))
  }

  /** ClickHouse `uniqUpTo(25)` analogue at (day × type) grain: exact
    * distinct users while ≤ 25, the sentinel 26 beyond — "has this key
    * crossed the threshold" without carrying full distinct sets. The
    * aggregate is [[graft.functions.UniqUpToAgg]], a bounded-state
    * `TypedImperativeAggregate` whose per-group buffer is AT MOST 26
    * longs regardless of group cardinality (the 100 TB point; exact
    * countDistinct expands every group to its full distinct set first).
    * Exact below the cap by definition, so it oracle-pairs against
    * `LEAST(COUNT(DISTINCT …), 26)` — the approximate tier for
    * unbounded cardinalities stays `ev_hll_daily`. */
  def uniqUpTo(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(expr("cast(unix_date(to_date(ts)) as bigint)").as("day"),
        col("event_type"))
      .agg(graft.functions.UniqUpToAgg.uniqUpTo(col("user_id"), UniqCap)
        .as("uniq_upto"))
      .orderBy(col("day"), col("event_type"))

  private val UniqCap = 25

  /** ClickHouse `uniqTheta`-style distinct-set ALGEBRA across event
    * types via KMV (k-minimum-values) sketches: per type keep the
    * [[KmvK]] smallest `xxhash64(user_id)` values ([[graft.functions
    * .BottomKAgg]] with key = payload — bounded state, ≤ k longs per
    * group regardless of user cardinality), then derive per-pair
    * distinct counts, union and overlap from the sketches ALONE. The
    * union sketch is the k smallest of the merged arrays; the overlap
    * counts union-sketch members present in both sides (the
    * DataSketches intersection estimator c/k · n̂_∪). Sizing policy is
    * [[uniqUpTo]]'s exact-below-cap contract: while a sketch holds
    * fewer than k values it IS the distinct hash set, every figure is
    * exact, and the query oracle-pairs against plain COUNT(DISTINCT)
    * set algebra; past the cap the SAME plan degrades to the ±1/√k
    * KMV estimator with no shape change (estimator branch exercised
    * by EventsTextSpec on an above-cap synthetic corpus). k = 32,768
    * keeps every figure exact through the ×10 scaled gate (15k
    * users/type, 30k per union) — exactness holds strictly BELOW k: a
    * set of exactly k distinct values fills the sketch, which is then
    * indistinguishable from a truncated one, so the estimator branch
    * runs and reports ≈k rather than exactly k (the standard KMV
    * convention; a gate tier sized at or past the cap crosses into
    * the estimator regime and this key becomes rows-only there by
    * design, exactly as an unbounded production cardinality would).
    * Below the cap the buffer cost stays flat: duplicate hashes are
    * O(log k) no-op probes, and only the ≤ k true insertions pay the
    * sorted-array shift.
    *
    * The 100 TB point: set intersection does not distribute over
    * partial aggregation — exact pairwise overlap of 10^9-user types
    * needs a user_id-keyed shuffle of every (type, user) pair, while
    * the sketch answer crosses the wire in 5 × 32 KB. The final
    * type-pair frame is 5×5 rows, so its BroadcastNestedLoopJoin is a
    * bounded product over sketch rows, never events (allowlisted in
    * PlanAuditSpec). */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapOf(
      Tables.events(spark, dir).select(col("event_type"), col("user_id")),
      KmvK)

  private val KmvK = 32768

  /** KMV cardinality read of a sketch array: exact size below capacity
    * (the sketch IS the distinct hash set there), the (k−1)/rank(θ)
    * estimator at it — θ = k-th smallest hash, rank normalized over the
    * unsigned 64-bit space. Double math only ever evaluates above the
    * cap, where answers are estimates by definition. Shared by
    * [[kmvOverlapOf]] and [[kmvDailyRollupOf]]. */
  private[graft] def kmvEstimate(s: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column =
    when(size(s) < k, size(s).cast("long")).otherwise(
      floor(lit((k - 1).toDouble * 1.8446744073709552e19) /
        (element_at(s, k).cast("double") + lit(9.223372036854775808e18)))
        .cast("long"))

  /** Dataset seam for [[kmvOverlap]]: `typedUsers` is (event_type,
    * user_id); `k` the sketch capacity (tests shrink it to force the
    * estimator branch). */
  private[graft] def kmvOverlapOf(typedUsers: DataFrame, k: Int): DataFrame = {
    import graft.functions.BottomKAgg
    val sk = typedUsers
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .groupBy(col("event_type"))
      .agg(BottomKAgg.bottomK(col("h"), col("h"), k).as("sk"))
    def estimate(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      kmvEstimate(s, k)
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .withColumn("u",
        slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, k))
      .withColumn("c",
        size(array_intersect(array_intersect(col("u"), col("sk_a")),
          col("sk_b"))))
      .select(col("type_a"), col("type_b"),
        estimate(col("sk_a")).as("users_a"),
        estimate(col("sk_b")).as("users_b"),
        estimate(col("u")).as("n_union"),
        when(size(col("u")) < k, col("c").cast("long"))
          .otherwise(floor(col("c").cast("double") *
            (lit((k - 1).toDouble * 1.8446744073709552e19) /
              (element_at(col("u"), k).cast("double") +
                lit(9.223372036854775808e18))) / k).cast("long"))
          .as("n_overlap"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Mergeable distinct-sketch ROLLUP — the warehouse sketch-table
    * pattern (ClickHouse `uniqState`/`uniqMerge` over an
    * AggregatingMergeTree, DataSketches' stored-sketch tables): persist
    * ONE bounded KMV sketch per (event_type, day), then answer distinct
    * users for ARBITRARY date ranges by merging the stored sketches —
    * never rescanning events. Merge = bottom-k over the union of
    * member hashes, re-sketched through the SAME
    * [[graft.functions.BottomKAgg]] aggregate (which is the mergeable
    * property, exercised rather than asserted): here weekly rollups
    * (ISO-free integer weeks, day div 7) and the cumulative
    * to-date series per type, both derived purely from the daily
    * sketch table.
    *
    * Exactness contract = [[kmvOverlap]]'s: below capacity a sketch IS
    * the distinct hash set, so every figure is exact and the key
    * oracle-pairs against plain COUNT(DISTINCT) set algebra (holds
    * through ×10: ≤15k users/type vs k = 32,768); past it the SAME
    * plan degrades to the ±1/√k estimator with no shape change — a
    * ×100 tier crosses into that regime and the key becomes rows-only
    * there by design.
    *
    * The 100 TB point: the events scan happens ONCE, at daily grain,
    * with bounded per-group state; every rollup after that moves
    * (types × days) × 32 KB sketches, not user ids. The cumulative
    * stage is a (type, week ≤ week) sketch-member self-join —
    * weeks × k rows, volume-independent. */
  def kmvDailyRollup(spark: SparkSession, dir: String): DataFrame =
    kmvDailyRollupOf(
      Tables.events(spark, dir).select(col("event_type"), col("ts"),
        col("user_id")),
      KmvK)

  private[graft] def kmvDailyRollupOf(ev: DataFrame, k: Int): DataFrame =
    kmvRollupFromDaily(kmvDailySketches(ev, k), k)

  /** The STORED sketch table: one bounded row per (type, day) —
    * (event_type, day, sk: array<bigint> of the ≤k smallest distinct
    * user-id hashes, ascending). [[graft.streaming.EventStream
    * .kmvDailyStream]] maintains the SAME table incrementally; the
    * sketch is a lattice (k smallest distinct hashes — commutative,
    * idempotent merge), so stream and batch agree bit-for-bit, pinned
    * by StreamingSpec. */
  private[graft] def kmvDailySketches(ev: DataFrame, k: Int): DataFrame = {
    import graft.functions.BottomKAgg
    ev.select(col("event_type"),
        expr("cast(unix_date(to_date(ts)) as bigint)").as("day"),
        xxhash64(col("user_id")).as("h"))
      .groupBy(col("event_type"), col("day"))
      .agg(BottomKAgg.bottomK(col("h"), col("h"), k).as("sk"))
  }

  /** Weekly + cumulative rollup over a stored (event_type, day, sk)
    * sketch table — reads sketches ONLY, never events. */
  private[graft] def kmvRollupFromDaily(daily: DataFrame, k: Int): DataFrame = {
    import graft.functions.BottomKAgg
    val weekly = daily
      .select(col("event_type"), expr("day div 7").as("week"), col("day"),
        explode(col("sk")).as("h"))
      .groupBy(col("event_type"), col("week"))
      .agg(count_distinct(col("day")).as("n_days"),
        BottomKAgg.bottomK(col("h"), col("h"), k).as("skw"))
    val cum = weekly.select(col("event_type"), col("week"))
      .join(weekly.select(col("event_type"), col("week").as("w2"),
        col("skw").as("sk2")), Seq("event_type"))
      .filter(col("w2") <= col("week"))
      .select(col("event_type"), col("week"), explode(col("sk2")).as("h"))
      .groupBy(col("event_type"), col("week"))
      .agg(BottomKAgg.bottomK(col("h"), col("h"), k).as("skc"))
    weekly.join(cum, Seq("event_type", "week"))
      .select(col("event_type"), col("week"), col("n_days"),
        kmvEstimate(col("skw"), k).as("users_week"),
        kmvEstimate(col("skc"), k).as("users_cum"))
      .orderBy(col("event_type"), col("week"))
  }

  /** A/B experiment readout — the product-analytics operator a
    * behavioral engine ships next to funnels and retention: users are
    * assigned to arms by a SALTED HASH (md5 first hex digit < '8' ⇒ A
    * — deterministic, engine-independent, no RNG; the same
    * assignment device as `cur_hash_split`), each arm's conversion is
    * the EARLY-ACTIVATION rate — the share of users whose first
    * purchase lands within 24 h of their first event (plain "ever
    * purchased" is 100% on the fixtures: zero pooled variance, no
    * experiment) — and the two-proportion pooled z-score quantifies
    * the difference. One user-keyed aggregate, one single-row
    * conditional aggregate; the float tail (rates, z) is a FIXED
    * chain of IEEE ops written identically in both engines over exact
    * integer counts (the alphaMix determinism policy — division and
    * sqrt are correctly-rounded, so hash-exact). A degenerate pooled
    * rate (0 or 1) yields NULL z in both engines rather than a
    * divide-by-zero, and an EMPTY arm yields NULL rate (and NULL z)
    * instead of the engine-dependent Infinity/NaN of double x/0 —
    * both guards written identically in the oracle SQL. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("first_purchase_us"))
      .withColumn("converted",
        when(col("first_purchase_us") <
          col("first_us") + lit(86400000000L), 1L).otherwise(0L))
      .withColumn("arm",
        when(expr(
          "substr(md5(cast(concat('ab', cast(user_id as string)) as binary)), 1, 1) < '8'"),
          "A").otherwise("B"))
    perUser.agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("users_a"),
        sum(when(col("arm") === "A", col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("users_b"),
        sum(when(col("arm") === "B", col("converted")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a",
        when(col("users_a") > 0,
          col("conv_a").cast("double") / col("users_a").cast("double")))
      .withColumn("rate_b",
        when(col("users_b") > 0,
          col("conv_b").cast("double") / col("users_b").cast("double")))
      .withColumn("z",
        when(col("users_a") > 0 && col("users_b") > 0 &&
             col("conv_a") + col("conv_b") > 0 &&
             col("conv_a") + col("conv_b") < col("users_a") + col("users_b"),
          (col("rate_a") - col("rate_b")) /
            sqrt(((col("conv_a") + col("conv_b")).cast("double") /
              (col("users_a") + col("users_b")).cast("double")) *
              (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") /
                (col("users_a") + col("users_b")).cast("double")) *
              (lit(1.0) / col("users_a").cast("double") +
                lit(1.0) / col("users_b").cast("double")))))
  }


  /** Conversion-latency distribution: per user, the gap between first
    * view and first subsequent purchase; reported as per-hour-bucket
    * counts plus exact quartiles (the product metric behind "how long
    * does conversion take"). Two per-user min-aggregates (single
    * shuffle key), one bounded histogram aggregate, one 1-row exact
    * percentile — integer microsecond gaps end to end, so quartile
    * interpolation is bit-identical across engines. */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t_view"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(unix_micros(col("ts")) > col("t_view"))
      .groupBy(col("user_id"))
      .agg((min(unix_micros(col("ts"))) - min(col("t_view"))).as("gap_us"))
    p.select(expr("gap_us div 3600000000").as("hours"), col("gap_us"))
      .groupBy(col("hours"))
      .agg(count(lit(1)).as("n_users"),
        percentile(col("gap_us"), lit(0.5)).as("median_gap_us"))
      .orderBy(col("hours"))
  }

  /** Fixed-width value histogram (ClickHouse-histogram-style report
    * with deterministic bins): 25-unit buckets, the last bucket open
    * at the top. The bucket id is one floor division per row — exact
    * in IEEE doubles for these magnitudes — and the aggregate is keyed
    * by ≤20 buckets with map-side partials, so the reduce side sees a
    * handful of rows regardless of event count. */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(least(floor(col("value") / 25.0d), lit(19.0d)).cast("long").as("bucket"),
        col("value"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("bucket"), (col("bucket") * 25.0d).as("bucket_lo"),
        col("n"), col("min_value"), col("max_value"))
      .orderBy(col("bucket"))

  /** RFM segmentation (recency / frequency / monetary), the classic
    * marketing-warehouse rollup: per purchasing user, days since last
    * purchase relative to the corpus horizon, purchase count, and
    * decimal-exact spend, each quartiled (1 = best) with a fully
    * tie-broken NTILE so both engines assign identical scores;
    * segment = r·100 + f·10 + m.
    *
    * Scale: the per-user rollup collapses the event stream first (one
    * shuffle); the quartile scores then come from three
    * [[graft.plans.ExactRank]] passes over |purchasing users| rows —
    * distributed exact ranking (range exchange + partitioned window +
    * offset attach) with NTILE's own first-`n mod 4`-buckets-get-one-
    * extra rule recovered from the global rank in integer arithmetic
    * (r17 verdict item 6: the r17 form ran three UNPARTITIONED NTILE
    * windows, each a single-partition sort of every purchasing user —
    * the z-order writer's ExactRank device does the same ranking with
    * no `WindowExec: No Partition Defined` anywhere). Output is
    * hash-identical to the oracle's NTILE; [[rfmScaled]]
    * (`ev_rfm_scaled`) remains the sketch-boundary tier for when even
    * three ranked passes are too many. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val perUser = rfmPerUser(spark, dir)
    val horizon = perUser.agg(max(col("last_day")).as("horizon_day"))
    val base0 = perUser.join(broadcast(horizon))
      .withColumn("recency_days", col("horizon_day") - col("last_day"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"))
    // one fused checkpoint+count job: the three rank passes below then
    // scan this frame instead of re-running the event-stream aggregate
    // inside every range-sampling and shuffle job, and the count sizes
    // the rank width scale-adaptively (GraftBridge.stateWidth — at
    // fixture |users| the passes run 8-wide instead of paying
    // 3 × nPart near-empty tasks per stage)
    import org.apache.spark.sql.GraftBridge
    val baseCk = GraftBridge.checkpoint(base0)
    val base = baseCk.frame
    val w = GraftBridge.stateWidth(spark, baseCk.rows)
    import graft.plans.ExactRank
    val (r1, n) = ExactRank.withRank(base, w,
      Seq(col("recency_days"), col("user_id")), "r_rnk")
    val (r2, _) = ExactRank.withRank(r1, w,
      Seq(col("frequency").desc, col("user_id")), "f_rnk")
    val (r3, _) = ExactRank.withRank(r2, w,
      Seq(col("monetary").desc, col("user_id")), "m_rnk")
    r3.select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        ExactRank.ntileFromRank("r_rnk", n, 4).cast("long").as("r_score"),
        ExactRank.ntileFromRank("f_rnk", n, 4).cast("long").as("f_score"),
        ExactRank.ntileFromRank("m_rnk", n, 4).cast("long").as("m_score"))
      .withColumn("rfm_segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy(col("user_id"))
  }

  /** Shared RFM per-user rollup: one shuffle collapses the purchase
    * stream to (user, last purchase day, count, decimal-exact spend). */
  private def rfmPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        max(expr("cast(unix_date(to_date(ts)) as bigint)")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast(DecimalType(38, 6))).cast(DoubleType)
          .as("monetary"))

  /** [[rfm]]'s 100 TB tier — `ev_rfm_scaled`: quartile scores come
    * from a THRESHOLD JOIN against approx-quantile boundaries instead
    * of a global NTILE. One 1-row aggregate computes the corpus
    * horizon plus the Greenwald–Khanna 25/50/75 boundaries for all
    * three metrics; the row broadcasts (scalar attach) and every score
    * is three comparisons — no WindowExec at all, so the plan has NO
    * global sort and scales embarrassingly in |users|. Semantics
    * differ from NTILE exactly where they should: tied metric values
    * always land in the same quartile (NTILE splits tie runs by
    * user_id to balance buckets), which is the honest answer at scale.
    * r_score thresholds rewrite to `last_day` comparisons
    * (recency > H − Qlast(q) ⟺ last_day < Qlast(q)) so recency never
    * materializes before the sketch. Rows-only — GK boundaries are
    * partitioning-dependent within their rank-error bound;
    * ExtrasAnalyticsSpec pins the threshold plumbing against an
    * independent Scala
    * recompute plus monotonicity/tie-consistency invariants, and
    * PlanAuditSpec asserts the no-global-window shape. */
  def rfmScaled(spark: SparkSession, dir: String): DataFrame = {
    val perUser = rfmPerUser(spark, dir)
    val bounds = perUser.agg(
      max(col("last_day")).as("horizon_day"),
      percentile_approx(col("last_day"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("lq"),
      percentile_approx(col("frequency"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("fq"),
      percentile_approx(col("monetary"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("mq"))
    def scoreDesc(v: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
      lit(1L) + (v < q.getItem(2)).cast("long") +
        (v < q.getItem(1)).cast("long") + (v < q.getItem(0)).cast("long")
    perUser.join(broadcast(bounds))
      .select(col("user_id"),
        (col("horizon_day") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary"),
        scoreDesc(col("last_day"), col("lq")).as("r_score"),
        scoreDesc(col("frequency"), col("fq")).as("f_score"),
        scoreDesc(col("monetary"), col("mq")).as("m_score"))
      .withColumn("rfm_segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy(col("user_id"))
  }

  /** ClickHouse `maxIntersections` / `maxIntersectionsPosition`
    * analogue: the peak number of concurrently-open sessions across
    * ALL users, and the earliest instant it is reached. Intervals are
    * the gap-sessionization's half-open [start_us, end_us) windows, so
    * an end and a start at the same microsecond do NOT overlap — the
    * sweep orders (t, delta) with closes (-1) before opens (+1).
    *
    * The running sum is the classic +1/−1 boundary sweep, computed as
    * a DISTRIBUTED prefix scan rather than one global window: points
    * partition by day (running sum within each day in parallel), and
    * per-day carry-ins come from a cumulative sum over the per-day
    * totals — a window over #days rows, the same two-level exact-scan
    * shape as the z-order exact-ntile writer. At 100 TB the day grain
    * swaps for whatever yields bounded per-partition point counts;
    * only the per-grain totals ever see a global (tiny) window. */
  def maxConcurrency(spark: SparkSession, dir: String): DataFrame =
    maxConcurrencyOf(sessionizeManual(spark, dir))

  private[graft] def maxConcurrencyOf(sessions: DataFrame): DataFrame = {
    val pts = sessions.select(col("start_us").as("t_us"), lit(1L).as("delta"))
      .unionAll(sessions.select(col("end_us").as("t_us"), lit(-1L).as("delta")))
      .withColumn("day", expr("t_us div 86400000000"))
    val dayW = Window.partitionBy(col("day")).orderBy(col("t_us"), col("delta"))
    val within = pts.withColumn("run_in_day",
      sum(col("delta")).over(dayW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val carries = pts.groupBy(col("day")).agg(sum(col("delta")).as("day_total"))
      .withColumn("carry", coalesce(sum(col("day_total")).over(
        Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("carry"))
    val run = within.join(broadcast(carries), "day")
      .withColumn("running", col("carry") + col("run_in_day"))
    // ONE aggregate pass (r17 optimization round): the r16 form computed
    // max(running) as a broadcast scalar and joined it BACK against the
    // running-sum frame — the entire sessionize + sweep + window
    // pipeline executed twice (once inside the broadcast build, once on
    // the probe side; the before plan carries both subtrees). The pair
    // (peak, earliest instant at peak) is one lexicographic argmax:
    // max(struct(running, −t_us)) — max running first, then max(−t_us)
    // = min t_us among its ties. Integer-exact, same result, half the
    // compute, no join, no broadcast build.
    run.agg(max(struct(col("running"), (-col("t_us")).as("nt"))).as("s"))
      // empty input: the global max is NULL — drop it so the empty
      // corpus yields an empty frame, exactly like the join-back form
      .where(col("s").isNotNull)
      .select(col("s.running").as("max_concurrent"),
        (-col("s.nt")).as("at_us"))
  }

  /** ClickHouse `intervalLengthSum` analogue: per user, the union
    * length of overlapping activity windows [ts, ts + 5 min) — the
    * honest "active time" metric (raw per-event sums double-count
    * bursts). Gaps-and-islands: per user in (ts, event_id) order, a
    * window starts a new island iff it opens strictly after the
    * running max of all previous ends (touching intervals merge —
    * [a,b)∪[b,c) is one span); island id is the running count of
    * starts, and the union length is Σ per-island (max end − min
    * start). Everything is user-partitioned windows + one aggregate —
    * no global state, µs-integer arithmetic end to end. */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame =
    intervalUnionOf(Tables.events(spark, dir))

  private[graft] def intervalUnionOf(ev: DataFrame): DataFrame = {
    val winUs = 300000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t0"), col("event_id"))
    ev
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t0"))
      .withColumn("t1", col("t0") + winUs)
      .withColumn("max_prev_end", max(col("t1")).over(
        byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("max_prev_end").isNull || col("t0") > col("max_prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("t0")).as("i0"), max(col("t1")).as("i1"),
        count(lit(1)).as("n_ev"))
      .groupBy(col("user_id"))
      .agg(sum(col("i1") - col("i0")).as("active_us"),
        count(lit(1)).as("n_islands"), sum(col("n_ev")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** ClickHouse `deltaSum` + `boundingRatio` analogue over the daily
    * revenue series per event type: the sum of POSITIVE day-over-day
    * deltas (counter semantics — resets/declines don't subtract) and
    * the end-to-end slope (last − first) / (day span). Deltas are
    * DECIMAL(38,6)-exact; the two doubles at the end are single
    * correctly-rounded casts/divisions from identical exact inputs,
    * so both engines agree bit-for-bit. One (type, day) aggregate,
    * one type-partitioned lag window, one final rollup — fully
    * partial-agg friendly at any scale. */
  def deltaSumDaily(spark: SparkSession, dir: String): DataFrame =
    deltaSumOf(Tables.events(spark, dir))

  private[graft] def deltaSumOf(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(dec(col("value"))).as("rev"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("d", col("rev") - lag(col("rev"), 1).over(byType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("d") > dec(lit(0)), col("d")).otherwise(dec(lit(0))))
          .cast(DoubleType).as("delta_sum"),
        min_by(col("rev"), col("day")).as("first_rev"),
        max_by(col("rev"), col("day")).as("last_rev"),
        (max(col("day")) - min(col("day"))).as("span_days"))
      .withColumn("rate_per_day",
        when(col("span_days") > 0,
          (col("last_rev") - col("first_rev")).cast(DoubleType) /
            col("span_days").cast(DoubleType)))
      .select(col("event_type"), col("n_days"), col("delta_sum"),
        col("first_rev").cast(DoubleType).as("first_rev"),
        col("last_rev").cast(DoubleType).as("last_rev"),
        col("rate_per_day"))
      .orderBy(col("event_type"))
  }

  /** ClickHouse `exponentialMovingAverage` analogue with EXACT dyadic
    * weights: per (type, day), EMA over the trailing 16 observed days
    * with weight 2^−gap — numerator and denominator are pure BIGINT
    * sums (revenue in µ-units × a power-of-two ≤ 2^15), and the final
    * division is one correctly-rounded double op, so the hash matches
    * the oracle without any libm. The trailing band is an EQUI-join:
    * each daily row fans out to the 16 offsets it contributes to
    * (day + 0…15), so the plan is a plain hash join on (type, day) —
    * no range predicate, no BNLJ, linear at any scale. Weight
    * headroom: µ-unit daily revenue × 2^15 × 16 terms stays under
    * 2^63 through the ×100 tier; a larger corpus drops the weight
    * ceiling (2^7) before BIGINT saturates. */
  def emaDaily(spark: SparkSession, dir: String): DataFrame =
    emaOf(Tables.events(spark, dir))

  private[graft] def emaOf(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(dec(col("value"))).as("rev"))
      .withColumn("rev_micros", (col("rev") * lit(1000000)).cast("long"))
    val contrib = daily
      .withColumn("off", explode(sequence(lit(0), lit(15))))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), CAST(15 - off AS INT))"))
      .select(col("event_type"), (col("day") + col("off")).as("day"),
        (col("rev_micros") * col("w")).as("w_rev"), col("w"))
    daily.select(col("event_type"), col("day"))
      .join(contrib, Seq("event_type", "day"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("w_rev")).as("numer"), sum(col("w")).as("denom"),
        count(lit(1)).as("n_terms"))
      .select(col("event_type"), col("day"),
        (col("numer").cast(DoubleType) / col("denom").cast(DoubleType)).as("ema"),
        col("n_terms"))
      .orderBy(col("event_type"), col("day"))
  }

  /** ClickHouse `skewPop` / `kurtPop` analogue with an EXACT core:
    * population skewness and excess kurtosis per event type, computed
    * from integer power sums rather than streaming float moments.
    * Values are 2-decimal currency, so `round(value*100)` recovers the
    * integer cents bit-exactly in both engines; S1..S4 accumulate as
    * DECIMAL (c ≤ decimal(6,0) ⇒ c⁴ ≤ decimal(27,0), sums ≤ (37,0) —
    * no precision cap hit, headroom through the ×100 tier), and only
    * the FINAL central-moment formula runs in doubles — a fixed chain
    * of correctly-rounded IEEE ops from identical exact inputs, so the
    * hash matches DuckDB without trusting either engine's native
    * skewness/kurtosis (which disagree on sample-vs-population and on
    * float summation order). One partial-agg-friendly pass — the
    * scale-out answer to "two-pass variance doesn't fit the data". */
  def moments(spark: SparkSession, dir: String): DataFrame =
    momentsOf(Tables.events(spark, dir))

  private[graft] def momentsOf(ev: DataFrame): DataFrame = {
    val c = round(col("value") * lit(100)).cast(DecimalType(6, 0))
    val d = splitToDouble _
    ev
      .select(col("event_type"), c.as("c"))
      .withColumn("c2", col("c") * col("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1"), sum(col("c2")).as("s2"),
        sum(col("c2") * col("c")).as("s3"),
        sum(col("c2") * col("c2")).as("s4"))
      .withColumn("nd", col("n").cast(DoubleType))
      .withColumn("mean", d(col("s1")) / col("nd"))
      .withColumn("e2", d(col("s2")) / col("nd"))
      .withColumn("e3", d(col("s3")) / col("nd"))
      .withColumn("e4", d(col("s4")) / col("nd"))
      .withColumn("m2", col("e2") - col("mean") * col("mean"))
      .withColumn("m3",
        col("e3") - lit(3.0) * col("mean") * col("e2") +
          lit(2.0) * col("mean") * col("mean") * col("mean"))
      .withColumn("m4",
        col("e4") - lit(4.0) * col("mean") * col("e3") +
          lit(6.0) * col("mean") * col("mean") * col("e2") -
          lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
      .select(col("event_type"), col("n"),
        (col("mean") / lit(100.0)).as("mean_value"),
        when(col("m2") > 0, col("m3") / (col("m2") * sqrt(col("m2"))))
          .as("skewness"),
        when(col("m2") > 0, col("m4") / (col("m2") * col("m2")) - lit(3.0))
          .as("kurtosis"))
      .orderBy(col("event_type"))
  }

  /** ClickHouse `simpleLinearRegression` analogue: OLS slope /
    * intercept / r² of daily revenue vs day, per event type, on the
    * same exact-core discipline as [[moments]]: Σx, Σy, Σxy, Σx², Σy²
    * accumulate as DECIMAL integers (y in µ-units), the normal-equation
    * numerators/denominators (n·Σxy−ΣxΣy etc.) stay exact, and only
    * the final ratios run in doubles via [[splitToDouble]]. One
    * partial-agg pass over the (type, day) rollup — the streaming-sums
    * form of regression that needs no second centered pass, at any
    * scale. Degenerate guards: slope NULL on a single-day series
    * (d1=0), r² NULL when either variance is zero. */
  def linregDaily(spark: SparkSession, dir: String): DataFrame =
    linregOf(Tables.events(spark, dir))

  private[graft] def linregOf(ev: DataFrame): DataFrame = {
    val d = splitToDouble _
    val dl = DecimalType(20, 0)
    val daily = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(dec(col("value"))).as("rev"))
      .select(col("event_type"), col("day").cast(dl).as("x"),
        (col("rev") * lit(1000000)).cast("long").cast(dl).as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("ndec", col("n").cast(dl))
      .withColumn("n1", col("ndec") * col("sxy") - col("sx") * col("sy"))
      .withColumn("d1", col("ndec") * col("sxx") - col("sx") * col("sx"))
      .withColumn("n2", col("ndec") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope_raw", when(col("d1") > 0, d(col("n1")) / d(col("d1"))))
      .select(col("event_type"), col("n").as("n_days"),
        (col("slope_raw") / lit(1000000.0)).as("slope_per_day"),
        (((d(col("sy")) - col("slope_raw") * d(col("sx"))) /
          col("n").cast(DoubleType)) / lit(1000000.0)).as("intercept"),
        when(col("d1") > 0 && col("n2") > 0,
          (d(col("n1")) * d(col("n1"))) / (d(col("d1")) * d(col("n2"))))
          .as("r2"))
      .orderBy(col("event_type"))
  }

  /** ClickHouse `largestTriangleThreeBuckets` analogue: the daily
    * revenue series per event type downsampled to 24 visually-faithful
    * points by the LTTB aggregate ([[graft.functions.LttbAgg]] — whole
    * series buffered per group, like ClickHouse's own implementation;
    * boundedness argument in its scaladoc). ORACLE-PAIRED (r17): the
    * greedy selection is exact, so a recursive CTE carrying the
    * previously-selected point replays it in DuckDB — bucket split,
    * ascending centroid sums, IEEE area order, and strict-> ties all
    * mirrored (oracle comment has the derivations); LttbSpec
    * additionally pins the aggregate against an independent
    * collect-and-run sequential reference plus the structural
    * invariants (endpoints kept, one point per bucket, output ⊆
    * input). */
  def lttbDownsample(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(dec(col("value"))).cast(DoubleType).as("rev"))
    daily.groupBy(col("event_type"))
      .agg(graft.functions.LttbAgg.lttb(col("day"), col("rev"), 24).as("pts"))
      .select(col("event_type"), posexplode(col("pts")).as(Seq("idx", "p")))
      .select(col("event_type"), col("idx").cast("long").as("idx"),
        col("p.t").as("day"), col("p.y").as("rev"))
      .orderBy(col("event_type"), col("idx"))
  }

  /** ClickHouse `quantileTiming` analogue: latency quantiles under the
    * timing sketch's deterministic resolution contract — values below
    * 1024 ms are exact, values in [1024 ms, 30 s) round to the nearest
    * 16 ms (capped at 29984 so rounding never enters the clamp
    * bucket), values ≥ 30 s clamp to 30 s (the published accuracy rules
    * of the ClickHouse aggregate, re-expressed as a closed-form bucket
    * map instead of its three-tier counter array). The measured series
    * is the per-user inter-event gap in ms, keyed by the later event's
    * type; quantiles are the discrete (type-1) kind — the smallest
    * bucketed value whose cumulative count reaches ⌈q·n⌉, evaluated in
    * pure integer arithmetic (`100·cum ≥ q%·n`), so the whole query is
    * integer end to end and hash-exact against the oracle.
    *
    * Scale: the bucket map caps distinct keys at 1024 + 1812 + 1 per
    * type, so after the per-(type, bucket) count the cumulative window
    * runs over a BOUNDED frame regardless of event count — the same
    * counts-then-tiny-window shape as [[conversionLatency]]; the only
    * data-sized shuffles are the per-user lag window and one partial
    * aggregate. This is exactly why ClickHouse's timing sketch buckets
    * at all: the quantile state becomes O(resolution), not O(rows). */
  def quantileTiming(spark: SparkSession, dir: String): DataFrame =
    quantileTimingOf(Tables.events(spark, dir))

  /** Per-user inter-event gaps in ms, keyed by the later event's type —
    * the measured series shared by [[quantileTiming]] and
    * [[hdrQuantiles]]. The per-user lag window is the only data-sized
    * shuffle either consumer pays. */
  private def userGapsOf(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    ev
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .filter(col("t_us").isNotNull) // null ts sorts differently per engine; drop pre-window
      .withColumn("prev_us", lag(col("t_us"), 1).over(byUser))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"), expr("(t_us - prev_us) div 1000").as("gap_ms"))
  }

  private[graft] def quantileTimingOf(ev: DataFrame): DataFrame = {
    val gaps = userGapsOf(ev)
    val bucketed = gaps.select(col("event_type"),
      when(col("gap_ms") < 1024, col("gap_ms"))
        .when(col("gap_ms") >= 30000, lit(30000L))
        // mid-band rounds to nearest 16 ms but must not round INTO the
        // >=30 s clamp bucket: [29992, 30000) stays at 29984
        .otherwise(least(expr("((gap_ms + 8) div 16) * 16"), lit(29984L))).as("b"))
    val counts = bucketed.groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("c"))
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("c")).over(cumW))
    val tot = counts.groupBy(col("event_type")).agg(sum(col("c")).as("n_gaps"))
    cum.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n_gaps")).as("n_gaps"),
        min(when(col("cum") * 100 >= col("n_gaps") * 50, col("b"))).as("p50_ms"),
        min(when(col("cum") * 100 >= col("n_gaps") * 90, col("b"))).as("p90_ms"),
        min(when(col("cum") * 100 >= col("n_gaps") * 99, col("b"))).as("p99_ms"))
      .orderBy(col("event_type"))
  }

  /** HDR-histogram latency quantiles — the relative-error companion to
    * [[quantileTiming]]'s fixed three-tier contract (and the honest,
    * oracle-pairable stand-in for `quantileDD`: DDSketch's log-γ bucket
    * needs libm `log`, whose rounding engines don't agree on; keeping
    * the top 6 significant BITS of each value is the same
    * relative-error guarantee in pure integer arithmetic). Bucket map:
    * values < 32 are exact; otherwise the value rounds DOWN to its top
    * 6 binary digits (floor-log2 via `length(bin(x)) - 1` — engine-
    * identical string-of-bits length, no floats), giving relative
    * error < 2⁻⁵ ≈ 3.1% at EVERY magnitude with ≤ 32 + 32·(63−5)
    * buckets total. Because the bucket map is monotone, the discrete
    * type-1 quantile COMMUTES with it: reported pK is exactly the
    * bucket floor of the true pK-th gap (HdrSpec pins that identity +
    * the relative-error band). Same counts-then-bounded-window plan as
    * [[quantileTiming]]: the per-user lag window is the only
    * data-sized shuffle; the quantile state is O(buckets), not
    * O(rows) — at 100 TB the histogram is a few KB per type. */
  def hdrQuantiles(spark: SparkSession, dir: String): DataFrame =
    hdrQuantilesOf(Tables.events(spark, dir))

  private[graft] def hdrQuantilesOf(ev: DataFrame): DataFrame = {
    val lb = when(col("gap_ms") < 32, col("gap_ms"))
      .otherwise(expr(
        """shiftleft(shiftright(gap_ms, CAST(length(bin(gap_ms)) - 6 AS INT)),
          |          CAST(length(bin(gap_ms)) - 6 AS INT))""".stripMargin))
    val counts = userGapsOf(ev)
      .select(col("event_type"), lb.as("b"), col("gap_ms"))
      .groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("c"), max(col("gap_ms")).as("mx"))
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("c")).over(cumW))
    val tot = counts.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_gaps"), max(col("mx")).as("max_ms"))
    cum.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n_gaps")).as("n_gaps"),
        min(when(col("cum") * 100 >= col("n_gaps") * 50, col("b"))).as("p50_ms"),
        min(when(col("cum") * 100 >= col("n_gaps") * 90, col("b"))).as("p90_ms"),
        min(when(col("cum") * 100 >= col("n_gaps") * 99, col("b"))).as("p99_ms"),
        min(when(col("cum") * 1000 >= col("n_gaps") * 999, col("b"))).as("p999_ms"),
        max(col("max_ms")).as("max_ms"))
      .orderBy(col("event_type"))
  }

  /** ClickHouse `quantileDD` analogue (DDSketch — Masson, Rim, Lee,
    * VLDB 2019): relative-error quantiles of the value column per
    * event type over LOGARITHMIC buckets idx = ceil(32·log2(c)), i.e.
    * γ = 2^(1/32) (relative accuracy α = (γ−1)/(γ+1) ≈ 1.1%, the
    * quantileDD(0.01) regime) — and unlike real DDSketch
    * implementations it is ORACLE-PAIRED, because the bucket index
    * comes from [[graft.functions.FixedLog2]]'s integer log, so bucket
    * assignment is deterministic in both engines by construction
    * (ceil via `(32·L2 + 2²⁰−1) div 2²⁰` — exact at powers of two
    * where frac ≡ 0, and a pure integer step everywhere). Per-quantile
    * output is the bucket index plus its log2 midpoint
    * (2·idx−1)/64 — one exact-integer division, no engine pow().
    * Plan shape: map-side count by (type, cents) — value-domain
    * bounded — then L2 + the cumulative walk run over ≤ ~700 bucket
    * rows per type; sketch state is O(log(max)/log γ) regardless of
    * fact volume, the published DDSketch bound. Sub-cent and
    * non-positive values clamp to the c=1 bucket (DDSketch's zero
    * bucket collapsed into the first index). */
  def quantileDD(spark: SparkSession, dir: String): DataFrame =
    quantileDDOf(Tables.events(spark, dir))

  private[graft] def quantileDDOf(ev: DataFrame): DataFrame = {
    import graft.functions.FixedLog2
    val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
    val cents = greatest(round(col("value") * lit(100)).cast("long"), lit(1L))
    val byVal = ev.select(col("event_type"), cents.as("c"))
      .groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val buckets = FixedLog2.withLog2(byVal, "c", "l2c")
      .withColumn("idx",
        expr(s"(32 * l2c + ${FixedLog2.Unit - 1}) div ${FixedLog2.Unit}"))
      .groupBy(col("event_type"), col("idx"))
      .agg(sum(col("cnt")).as("cnt"), max(col("c")).as("mx"))
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = buckets.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"), max(col("mx")).as("max_cents"))
    def pick(pctNum: Int, pctDen: Int) =
      min(when(col("cum") * pctDen >= col("n") * pctNum, col("idx")))
    def mid(idx: org.apache.spark.sql.Column) =
      d(idx * 2 - 1) / lit(64.0)
    buckets
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .join(broadcast(tot), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        pick(50, 100).as("p50_idx"), pick(90, 100).as("p90_idx"),
        pick(99, 100).as("p99_idx"), max(col("max_cents")).as("max_cents"))
      .select(col("event_type"), col("n"),
        col("p50_idx"), mid(col("p50_idx")).as("p50_log2"),
        col("p90_idx"), mid(col("p90_idx")).as("p90_log2"),
        col("p99_idx"), mid(col("p99_idx")).as("p99_log2"),
        col("max_cents"))
      .orderBy(col("event_type"))
  }

  /** ClickHouse `histogram(n)` analogue: the streaming adaptive
    * equal-ish-mass histogram, per event type over the value column,
    * via [[graft.functions.AdaptiveHistAgg]] (bin state carries EXACT
    * integer cent sums, so mass and total are conserved bit-exactly
    * even though bin BOUNDARIES are admission-order-dependent — the
    * same partitioning-dependence contract as the KLL rollup, and as
    * ClickHouse's own `histogram`). Exact regime: a group with ≤ n
    * distinct values yields the exact (value, count) table in any
    * order. Iterative/adaptive ⇒ rows-only; HistogramSpec pins the
    * conservation laws, the lo-sorted non-collapsing structure, and
    * the exact-below-cap regime against a groupBy recompute. */
  def adaptiveHistogram(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * lit(100)).cast("long")
    Tables.events(spark, dir)
      .select(col("event_type"), cents.as("cents"))
      .groupBy(col("event_type"))
      .agg(graft.functions.AdaptiveHistAgg.histogram(col("cents"), 8).as("bins"))
      .select(col("event_type"), posexplode(col("bins")).as(Seq("bin", "s")))
      .select(col("event_type"), col("bin").cast("long").as("bin"),
        (col("s.lo").cast(DoubleType) / 100.0d).as("lo_value"),
        (col("s.hi").cast(DoubleType) / 100.0d).as("hi_value"),
        col("s.cnt").as("n"),
        (col("s.sum").cast(DoubleType) / 100.0d).as("sum_value"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** Deterministic log-scale value histogram: fixed eighth-octave
    * buckets idx = L2(cents) div 2¹⁷ (8 buckets per power of two —
    * Prometheus-style exponential buckets, the monitoring complement
    * to [[adaptiveHistogram]]'s data-adaptive bins), per event type,
    * each bucket reporting exact count, exact Σcents, min/max cents,
    * and its lower edge in log2 units. Every quantity is pure integer
    * over the counts-by-value frame (the [[quantileDD]] grain — L2
    * runs on DISTINCT cents only, value-domain-bounded, never per
    * event), so the key is hash-exact oracle-paired: the oracle
    * replays the identical 20-round HUGEINT chain
    * ([[graft.functions.FixedLog2.duckLog2]]) against Spark's
    * codegen'd `graft_log2fix`, cross-verifying two implementations.
    * The two log-bucket keys compose rather than overlap: this one
    * RETURNS the distribution; [[quantileDD]] walks its cumulative
    * sum to pick quantile buckets. Scale: ≤ 8·61 buckets per type;
    * one partial-agg-friendly pass; Σcents headroom n·max_cents ≈
    * 10¹³ at ×100 ≪ 2⁶³. */
  def logHistogram(spark: SparkSession, dir: String): DataFrame =
    logHistogramOf(Tables.events(spark, dir))

  private[graft] def logHistogramOf(ev: DataFrame): DataFrame = {
    import graft.functions.FixedLog2
    val cents = greatest(round(col("value") * lit(100)).cast("long"), lit(1L))
    val byVal = ev.select(col("event_type"), cents.as("c"))
      .groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    FixedLog2.withLog2(byVal, "c", "l2c")
      .withColumn("bucket", expr(s"l2c div ${FixedLog2.Unit / 8}"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("cnt")).as("n"),
        min(col("c")).as("min_cents"), max(col("c")).as("max_cents"),
        sum(col("cnt") * col("c")).as("sum_cents"))
      .withColumn("bucket_log2_lo", col("bucket").cast(DoubleType) / lit(8.0))
      .select(col("event_type"), col("bucket"), col("bucket_log2_lo"),
        col("n"), col("min_cents"), col("max_cents"), col("sum_cents"))
      .orderBy(col("event_type"), col("bucket"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_log_histogram" -> logHistogram,
    "ev_quantile_timing" -> quantileTiming,
    "ev_hdr_quantiles" -> hdrQuantiles,
    "ev_quantile_dd"  -> quantileDD,
    "ev_adaptive_histogram" -> adaptiveHistogram,
    "ev_rfm"          -> rfm,
    "ev_rfm_scaled"   -> rfmScaled,
    "ev_transitions"  -> transitions,
    "ev_sequence_pairs" -> sequencePairs,
    "ev_sequence_count" -> sequenceCount,
    "ev_sequence_count_greedy" -> sequenceCountGreedy,
    "ev_histogram"    -> valueHistogram,
    "ev_conversion_latency" -> conversionLatency,
    "ev_uniq_upto"    -> uniqUpTo,
    "ev_kmv_overlap"  -> kmvOverlap,
    "ev_kmv_daily_rollup" -> kmvDailyRollup,
    "ev_ab_test"      -> abTest,
    "ev_funnel_steps" -> funnelSteps,
    "ev_funnel_strict" -> funnelStrict,
    "ev_funnel_dedup" -> funnelDedup,
    "ev_sequence_match" -> ((s: SparkSession, d: String) => sequenceMatch(s, d)),
    "ev_sequence_match_neg" -> ((s: SparkSession, d: String) => sequenceMatchNeg(s, d)),
    "ev_sequence_match_timed" -> ((s: SparkSession, d: String) => sequenceMatchTimed(s, d)),
    "ev_sequence_next_node" -> sequenceNextNode,
    "ev_sum_map"      -> sumMapDaily,
    "ev_minmax_map"   -> minMaxMapDaily,
    "ev_max_concurrency" -> maxConcurrency,
    "ev_interval_union" -> intervalUnion,
    "ev_delta_sum"    -> deltaSumDaily,
    "ev_ema"          -> emaDaily,
    "ev_lttb"         -> lttbDownsample,
    "ev_moments"      -> moments,
    "ev_linreg"       -> linregDaily,
    "ev_retention"    -> retention,
    "ev_cohort_matrix" -> cohortMatrix,
    "ev_json_extract" -> jsonExtract,
    "ev_props_map"    -> propsMapStats,
    "ev_daily_full_outer" -> dailyFullOuter,
    "ev_tumbling"     -> tumbling,
    "ev_sliding"      -> sliding,
    "ev_session"      -> sessionize,
    "ev_session_manual" -> sessionizeManual,
    "ev_topk_user"    -> topKPerUser,
    "ev_type_stats"   -> typeStats,
    "ev_approx_users" -> approxUsers)

  override lazy val oracles: Map[String, String] =
    oraclesBase + ("ev_session_manual" -> oraclesBase("ev_session"))

  private lazy val oraclesBase: Map[String, String] = Map(
    // LTTB is an exact greedy algorithm, so it IS SQL-expressible — as a
    // recursive CTE whose state is the previously selected point (r17;
    // the prior "no SQL oracle" claim conflated sequential with
    // inexpressible). Faithfulness notes: bucket(pos) = ⌈B·pos/K⌉−1 is
    // the exact integer dual of the engine's lo(b) = 1+⌊K·b/B⌋ split;
    // centroids reduce ORDERED lists ascending (list_reduce seed = first
    // element ≡ the engine's 0.0-seeded ascending loop bit-for-bit); the
    // area expression mirrors the engine's IEEE operation order; ORDER BY
    // area DESC, pos ASC LIMIT 1 is exactly strict-> keep-earliest; rev
    // scales through BIGINT micros so the decimal→double conversion is a
    // single IEEE rounding on both engines.
    "ev_lttb" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t,
        |         CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(30,6))
        |              * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS y
        |  FROM events GROUP BY 1, 2),
        |pts AS (
        |  SELECT event_type, t, y,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t, y) - 1 AS pos,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |small AS (
        |  SELECT event_type, pos AS idx, t, y FROM pts WHERE n <= 24),
        |ints AS (
        |  SELECT event_type, t, y, pos, n,
        |         ((22 * pos + (n - 2) - 1) // (n - 2)) - 1 AS bucket
        |  FROM pts WHERE n > 24 AND pos >= 1 AND pos <= n - 2),
        |cent AS (
        |  SELECT event_type, bucket,
        |         list_reduce(list(t::DOUBLE ORDER BY pos), (a, b2) -> a + b2)
        |           / COUNT(*) AS cx,
        |         list_reduce(list(y ORDER BY pos), (a, b2) -> a + b2)
        |           / COUNT(*) AS cy
        |  FROM ints GROUP BY 1, 2),
        |lastp AS (SELECT event_type, t, y, n FROM pts WHERE n > 24 AND pos = n - 1),
        |firstp AS (SELECT event_type, t, y FROM pts WHERE n > 24 AND pos = 0),
        |sel AS (
        |  SELECT event_type, -1 AS b, t AS sel_t, y AS sel_y FROM firstp
        |  UNION ALL
        |  SELECT s.event_type, s.b + 1 AS b, q.t AS sel_t, q.y AS sel_y
        |  FROM sel s
        |  JOIN LATERAL (
        |    SELECT p.t, p.y
        |    FROM ints p
        |    LEFT JOIN cent c ON c.event_type = p.event_type
        |                    AND c.bucket = p.bucket + 1 AND p.bucket + 1 < 22
        |    LEFT JOIN lastp l ON l.event_type = p.event_type
        |    WHERE p.event_type = s.event_type AND p.bucket = s.b + 1
        |    ORDER BY abs((s.sel_t::DOUBLE - coalesce(c.cx, l.t::DOUBLE))
        |                   * (p.y - s.sel_y)
        |               - (s.sel_t::DOUBLE - p.t::DOUBLE)
        |                   * (coalesce(c.cy, l.y) - s.sel_y)) DESC,
        |             p.pos ASC
        |    LIMIT 1) q ON true
        |  WHERE s.b + 1 < 22),
        |big AS (
        |  SELECT event_type, b + 1 AS idx, sel_t AS t, sel_y AS y FROM sel
        |  UNION ALL
        |  SELECT event_type, 23 AS idx, t, y FROM lastp)
        |SELECT event_type, idx::BIGINT AS idx, t AS day, y AS rev
        |FROM (SELECT * FROM small UNION ALL SELECT * FROM big)
        |ORDER BY event_type, idx""".stripMargin,
    // The greedy/funnel folds replay as RECURSIVE CTEs advancing one
    // event per iteration (state threaded through the recursion), NOT
    // via DuckDB list_reduce: list_reduce over MANY rows in one query
    // returned nondeterministic garbage on this DuckDB build (values
    // 10/12/13 across runs where the true fold is 11; single-row and
    // list_transform calls are fine) -- an oracle device that flakes
    // the gate is worse than none. The recursive form is deterministic
    // (4-run hash-stable) and x10 hash-exact.
    "ev_sequence_count_greedy" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id,
        |                      CASE event_type WHEN 'view' THEN 0 ELSE 1 END) AS rn,
        |         CASE event_type WHEN 'view' THEN 0 ELSE 1 END AS sym
        |  FROM events WHERE event_type IN ('view', 'click')),
        |nn AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY 1),
        |rec AS (
        |  SELECT user_id, 0::BIGINT AS rn, 0 AS st, 0::BIGINT AS cnt FROM nn
        |  UNION ALL
        |  SELECT r.user_id, r.rn + 1,
        |         CASE WHEN r.st = 0 AND e.sym = 0 THEN 1
        |              WHEN r.st = 1 AND e.sym = 1 THEN 0
        |              ELSE r.st END,
        |         CASE WHEN r.st = 1 AND e.sym = 1 THEN r.cnt + 1 ELSE r.cnt END
        |  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT r.user_id, r.cnt AS n_matches
        |FROM rec r JOIN nn ON nn.user_id = r.user_id AND nn.n = r.rn
        |WHERE r.cnt > 0 ORDER BY r.user_id""".stripMargin,
    // The strict_dedup funnel fold as the same recursive replay: the
    // nested if-chain decomposes into one CASE per state column (lv, a,
    // t, done), each iteration consuming the user's next (us, eid, sym)
    // event; the 7-day anchor window and break-on-repeat rules carry
    // over verbatim.
    "ev_funnel_dedup" ->
      """WITH RECURSIVE fev AS (
        |  SELECT user_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id,
        |                      CASE event_type WHEN 'view' THEN 0
        |                           WHEN 'click' THEN 1 ELSE 2 END) AS rn,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CASE event_type WHEN 'view' THEN 0
        |              WHEN 'click' THEN 1 ELSE 2 END AS sym
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |fn AS (SELECT user_id, max(rn) AS n FROM fev GROUP BY 1),
        |frec AS (
        |  SELECT user_id, 0::BIGINT AS rn, 0 AS lv, 0::BIGINT AS a,
        |         0::BIGINT AS t, false AS done
        |  FROM fn
        |  UNION ALL
        |  SELECT r.user_id, r.rn + 1,
        |    CASE WHEN r.done OR r.lv = 3 THEN r.lv
        |         WHEN r.lv = 0 THEN (CASE WHEN e.sym = 0 THEN 1 ELSE 0 END)
        |         WHEN e.sym = r.lv AND e.us > r.t
        |              AND e.us <= r.a + 604800000000 THEN r.lv + 1
        |         ELSE r.lv END,
        |    CASE WHEN r.done OR r.lv = 3 THEN r.a
        |         WHEN r.lv = 0 AND e.sym = 0 THEN e.us
        |         ELSE r.a END,
        |    CASE WHEN r.done OR r.lv = 3 THEN r.t
        |         WHEN r.lv = 0 AND e.sym = 0 THEN e.us
        |         WHEN r.lv > 0 AND e.sym = r.lv AND e.us > r.t
        |              AND e.us <= r.a + 604800000000 THEN e.us
        |         ELSE r.t END,
        |    CASE WHEN r.done OR r.lv = 3 THEN r.done
        |         WHEN r.lv > 0 AND NOT (e.sym = r.lv AND e.us > r.t
        |              AND e.us <= r.a + 604800000000)
        |              AND e.sym < r.lv THEN true
        |         ELSE r.done END
        |  FROM frec r JOIN fev e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
        |lvl AS (SELECT r.user_id, r.lv::BIGINT AS level
        |        FROM frec r JOIN fn ON fn.user_id = r.user_id AND fn.n = r.rn),
        |allu AS (SELECT DISTINCT user_id FROM events)
        |SELECT coalesce(l.level, 0)::BIGINT AS level, count(*)::BIGINT AS n_users
        |FROM allu u LEFT JOIN lvl l USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_quantile_timing" ->
      """WITH g AS (
        |  SELECT event_type,
        |         (epoch_us(CAST(ts AS TIMESTAMP)) -
        |          LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |            PARTITION BY user_id
        |            ORDER BY CAST(ts AS TIMESTAMP), event_id)) // 1000 AS gap_ms
        |  FROM events WHERE ts IS NOT NULL),
        |b AS (
        |  SELECT event_type,
        |         CASE WHEN gap_ms < 1024 THEN gap_ms
        |              WHEN gap_ms >= 30000 THEN 30000
        |              ELSE LEAST(((gap_ms + 8) // 16) * 16, 29984) END AS b
        |  FROM g WHERE gap_ms IS NOT NULL),
        |c AS (SELECT event_type, b, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, b,
        |         SUM(c) OVER (PARTITION BY event_type ORDER BY b
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(c) OVER (PARTITION BY event_type) AS n_gaps
        |  FROM c)
        |SELECT event_type, CAST(MAX(n_gaps) AS BIGINT) AS n_gaps,
        |       CAST(MIN(CASE WHEN cum*100 >= n_gaps*50 THEN b END) AS BIGINT)
        |         AS p50_ms,
        |       CAST(MIN(CASE WHEN cum*100 >= n_gaps*90 THEN b END) AS BIGINT)
        |         AS p90_ms,
        |       CAST(MIN(CASE WHEN cum*100 >= n_gaps*99 THEN b END) AS BIGINT)
        |         AS p99_ms
        |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_quantile_dd" -> {
      import graft.functions.FixedLog2.duckLog2
      s"""WITH m AS (
         |  SELECT event_type,
         |         GREATEST(CAST(ROUND(value * 100) AS BIGINT), 1) AS c
         |  FROM events),
         |v AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM m GROUP BY 1, 2),
         |vl AS (${duckLog2("SELECT * FROM v", "c", "l2c")}),
         |b AS (SELECT event_type, (32 * l2c + 1048575) // 1048576 AS idx,
         |             CAST(SUM(cnt) AS BIGINT) AS cnt, MAX(c) AS mx
         |      FROM vl GROUP BY 1, 2),
         |w AS (SELECT event_type, idx, mx,
         |        SUM(cnt) OVER (PARTITION BY event_type ORDER BY idx
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |        SUM(cnt) OVER (PARTITION BY event_type) AS n
         |      FROM b),
         |a AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         |        MIN(CASE WHEN cum * 100 >= n * 50 THEN idx END) AS p50_idx,
         |        MIN(CASE WHEN cum * 100 >= n * 90 THEN idx END) AS p90_idx,
         |        MIN(CASE WHEN cum * 100 >= n * 99 THEN idx END) AS p99_idx,
         |        MAX(mx) AS max_cents
         |      FROM w GROUP BY 1)
         |SELECT event_type, n,
         |  p50_idx, CAST(p50_idx * 2 - 1 AS DOUBLE) / 64.0 AS p50_log2,
         |  p90_idx, CAST(p90_idx * 2 - 1 AS DOUBLE) / 64.0 AS p90_log2,
         |  p99_idx, CAST(p99_idx * 2 - 1 AS DOUBLE) / 64.0 AS p99_log2,
         |  max_cents
         |FROM a ORDER BY event_type""".stripMargin
    },
    "ev_log_histogram" -> {
      import graft.functions.FixedLog2.duckLog2
      s"""WITH c AS (
         |  SELECT event_type,
         |         GREATEST(CAST(ROUND(value * 100) AS BIGINT), 1) AS c
         |  FROM events),
         |v AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM c GROUP BY 1, 2),
         |l AS (${duckLog2("SELECT * FROM v", "c", "l2c")})
         |SELECT event_type, l2c // 131072 AS bucket,
         |  CAST(l2c // 131072 AS DOUBLE) / 8.0 AS bucket_log2_lo,
         |  CAST(SUM(cnt) AS BIGINT) AS n,
         |  MIN(c) AS min_cents, MAX(c) AS max_cents,
         |  CAST(SUM(cnt::HUGEINT * c::HUGEINT) AS BIGINT) AS sum_cents
         |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "ev_hdr_quantiles" ->
      """WITH g AS (
        |  SELECT event_type,
        |         (epoch_us(CAST(ts AS TIMESTAMP)) -
        |          LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |            PARTITION BY user_id
        |            ORDER BY CAST(ts AS TIMESTAMP), event_id)) // 1000 AS gap_ms
        |  FROM events WHERE ts IS NOT NULL),
        |b AS (
        |  SELECT event_type, gap_ms,
        |         CASE WHEN gap_ms < 32 THEN gap_ms
        |              ELSE (gap_ms >> (length(bin(gap_ms)) - 6))
        |                   << (length(bin(gap_ms)) - 6) END AS b
        |  FROM g WHERE gap_ms IS NOT NULL),
        |c AS (SELECT event_type, b, COUNT(*) AS c, MAX(gap_ms) AS mx
        |      FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, b,
        |         SUM(c) OVER (PARTITION BY event_type ORDER BY b
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(c) OVER (PARTITION BY event_type) AS n_gaps,
        |         MAX(mx) OVER (PARTITION BY event_type) AS max_ms
        |  FROM c)
        |SELECT event_type, CAST(MAX(n_gaps) AS BIGINT) AS n_gaps,
        |       CAST(MIN(CASE WHEN cum*100 >= n_gaps*50 THEN b END) AS BIGINT)
        |         AS p50_ms,
        |       CAST(MIN(CASE WHEN cum*100 >= n_gaps*90 THEN b END) AS BIGINT)
        |         AS p90_ms,
        |       CAST(MIN(CASE WHEN cum*100 >= n_gaps*99 THEN b END) AS BIGINT)
        |         AS p99_ms,
        |       CAST(MIN(CASE WHEN cum*1000 >= n_gaps*999 THEN b END) AS BIGINT)
        |         AS p999_ms,
        |       CAST(MAX(max_ms) AS BIGINT) AS max_ms
        |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_rfm" ->
      """WITH pu AS (
        |  SELECT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |         CAST(value AS DECIMAL(38,6)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |agg AS (
        |  SELECT user_id, MAX(day) AS last_day, COUNT(*) AS frequency,
        |         CAST(SUM(v) AS DOUBLE) AS monetary
        |  FROM pu GROUP BY 1),
        |r AS (
        |  SELECT user_id,
        |         (SELECT MAX(last_day) FROM agg) - last_day AS recency_days,
        |         frequency, monetary
        |  FROM agg)
        |SELECT user_id, recency_days, frequency, monetary,
        |       CAST(NTILE(4) OVER (ORDER BY recency_days, user_id) AS BIGINT)
        |         AS r_score,
        |       CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
        |         AS f_score,
        |       CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
        |         AS m_score,
        |       CAST(NTILE(4) OVER (ORDER BY recency_days, user_id) AS BIGINT)
        |         * 100
        |       + CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
        |         * 10
        |       + CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
        |         AS rfm_segment
        |FROM r ORDER BY user_id""".stripMargin,
    "ev_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |FROM o WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_sequence_count" ->
      """WITH o AS (
        |  SELECT user_id,
        |         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id
        |                 ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS views,
        |         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id
        |                 ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS clicks
        |  FROM events),
        |a AS (
        |  SELECT user_id, MAX(clicks) AS total_clicks,
        |         GREATEST(MAX(clicks - views), 0) AS unmatched
        |  FROM o GROUP BY 1)
        |SELECT user_id, CAST(total_clicks - unmatched AS BIGINT) AS n_matches
        |FROM a WHERE total_clicks - unmatched > 0 ORDER BY user_id""".stripMargin,
    "ev_sequence_pairs" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END)
        |           OVER (PARTITION BY user_id
        |                 ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS views_before
        |  FROM events)
        |SELECT user_id, CAST(SUM(views_before) AS BIGINT) AS n_pairs
        |FROM o WHERE event_type = 'click'
        |GROUP BY 1 HAVING SUM(views_before) > 0 ORDER BY 1""".stripMargin,
    "ev_histogram" ->
      """SELECT bucket, bucket * 25.0 AS bucket_lo, COUNT(*) AS n,
        |       MIN(value) AS min_value, MAX(value) AS max_value
        |FROM (SELECT CAST(LEAST(FLOOR(value / 25.0), 19) AS BIGINT) AS bucket,
        |             value FROM events) t
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ev_funnel_steps" ->
      """WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(t1.t1) AS t1
        |       FROM events e JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > t1.t1
        |         AND e.ts <= t1.t1 + INTERVAL 7 DAY
        |       GROUP BY 1),
        |t3 AS (SELECT e.user_id, MIN(e.ts) AS t3
        |       FROM events e JOIN t2 ON e.user_id = t2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        |         AND e.ts <= t2.t1 + INTERVAL 7 DAY
        |       GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
        |                 WHEN t2.user_id IS NOT NULL THEN 2
        |                 WHEN t1.user_id IS NOT NULL THEN 1
        |                 ELSE 0 END AS BIGINT) AS level,
        |       COUNT(*) AS n_users
        |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |       LEFT JOIN t3 USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_funnel_strict" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         LEAD(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next1,
        |         LEAD(event_type, 2) OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next2,
        |         CAST(ts AS TIMESTAMP) AS tss, event_id
        |  FROM events),
        |a AS (
        |  SELECT user_id,
        |         1 + CASE WHEN next1 = 'click'
        |                  THEN 1 + CASE WHEN next2 = 'purchase' THEN 1 ELSE 0 END
        |                  ELSE 0 END AS level
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                    ORDER BY tss, event_id) AS vrn
        |        FROM o WHERE event_type = 'view')
        |  WHERE vrn = 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT CAST(COALESCE(a.level, 0) AS BIGINT) AS level, COUNT(*) AS n_users
        |FROM u LEFT JOIN a USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_sequence_match" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t1) AS t1,
        |              MIN(s2.t2) AS t2
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND e.ts <= s2.t1 + INTERVAL 7 DAY
        |       GROUP BY 1)
        |SELECT user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
        |       epoch_us(t3) AS t3_us
        |FROM s3 ORDER BY user_id""".stripMargin,
    // level-by-level twin of sequenceMatchNegOf: same RANGE -1µs
    // running-max windows, same latest-admissible-prefix rule
    "ev_sequence_match_neg" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |                  event_type FROM events),
        |l1 AS (SELECT *, CASE WHEN event_type = 'view' THEN tsu END AS v1 FROM e),
        |p2 AS (SELECT *,
        |         MAX(v1) OVER w AS pv1,
        |         MAX(CASE WHEN event_type = 'purchase' THEN tsu END) OVER w AS f1
        |       FROM l1
        |       WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |l2 AS (SELECT *, CASE WHEN event_type = 'click' AND pv1 IS NOT NULL
        |         AND (f1 IS NULL OR pv1 > f1) THEN tsu END AS v2 FROM p2),
        |p3 AS (SELECT *,
        |         MAX(v2) OVER w AS pv2,
        |         MAX(CASE WHEN event_type = 'view' THEN tsu END) OVER w AS f2
        |       FROM l2
        |       WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |l3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND pv2 IS NOT NULL
        |         AND (f2 IS NULL OR pv2 > f2) THEN tsu END AS v3 FROM p3)
        |SELECT DISTINCT user_id FROM l3 WHERE v3 IS NOT NULL
        |ORDER BY user_id""".stripMargin,
    "ev_sequence_match_timed" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |                  event_type FROM events),
        |l1 AS (SELECT *, CASE WHEN event_type = 'view' THEN tsu END AS v1 FROM e),
        |p2 AS (SELECT *, MAX(v1) OVER w AS pv1 FROM l1
        |       WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |l2 AS (SELECT *, CASE WHEN event_type = 'click' AND pv1 IS NOT NULL
        |         AND pv1 >= tsu - 3600000000 THEN tsu END AS v2 FROM p2),
        |p3 AS (SELECT *, MAX(v2) OVER w AS pv2 FROM l2
        |       WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |l3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND pv2 IS NOT NULL
        |         AND pv2 >= tsu - 86400000000 THEN tsu END AS v3 FROM p3)
        |SELECT DISTINCT user_id FROM l3 WHERE v3 IS NOT NULL
        |ORDER BY user_id""".stripMargin,
    // same s1/s2 chain as ev_sequence_match (earliest completion inside
    // the 7-day window), then the (ts, event_id)-first successor
    "ev_sequence_next_node" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |       GROUP BY 1),
        |nxt AS (SELECT e.user_id, e.event_type,
        |               ROW_NUMBER() OVER (PARTITION BY e.user_id
        |                 ORDER BY e.ts, e.event_id) AS rn
        |        FROM events e JOIN s2 ON e.user_id = s2.user_id
        |        WHERE e.ts > s2.t2)
        |SELECT event_type AS next_type, COUNT(*) AS n_users
        |FROM nxt WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_sum_map" ->
      """WITH kv AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n,
        |         COALESCE(SUM(CAST(props ->> 'k' AS BIGINT)), 0) AS sum_k
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(d - DATE '1970-01-01' AS BIGINT) AS day,
        |       string_agg(event_type || ':' || n || ':' || sum_k, ','
        |                  ORDER BY event_type) AS kv
        |FROM kv GROUP BY d ORDER BY day""".stripMargin,
    "ev_minmax_map" ->
      """WITH kv AS (
        |  SELECT CAST(ts AS DATE) AS d, event_type,
        |         MIN(CAST(props ->> 'k' AS BIGINT)) AS mn,
        |         MAX(CAST(props ->> 'k' AS BIGINT)) AS mx,
        |         COUNT(*) AS n
        |  FROM events WHERE CAST(props ->> 'k' AS BIGINT) IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT CAST(d - DATE '1970-01-01' AS BIGINT) AS day,
        |       string_agg(event_type || ':' || mn || ':' || mx || ':' || n,
        |                  ',' ORDER BY event_type) AS kv
        |FROM kv GROUP BY d ORDER BY day""".stripMargin,
    "ev_max_concurrency" ->
      """WITH o AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |         CASE WHEN CAST(ts AS TIMESTAMP) >=
        |                   LAG(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM o),
        |iv AS (
        |  SELECT epoch_us(MIN(ts)) AS start_us,
        |         epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS end_us
        |  FROM s GROUP BY user_id, sess_id),
        |p AS (SELECT start_us AS t_us, 1 AS delta FROM iv
        |      UNION ALL SELECT end_us AS t_us, -1 AS delta FROM iv),
        |r AS (SELECT t_us, SUM(delta) OVER (ORDER BY t_us, delta
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running FROM p),
        |m AS (SELECT MAX(running) AS mx FROM r)
        |SELECT CAST(m.mx AS BIGINT) AS max_concurrent,
        |       (SELECT MIN(t_us) FROM r WHERE running = m.mx) AS at_us
        |FROM m""".stripMargin,
    "ev_interval_union" ->
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t0,
        |         epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS t1
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, t0, t1,
        |         MAX(t1) OVER (PARTITION BY user_id ORDER BY t0, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev_end
        |  FROM o),
        |i AS (
        |  SELECT user_id, t0, t1,
        |         SUM(CASE WHEN max_prev_end IS NULL OR t0 > max_prev_end
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY t0, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM m),
        |g AS (SELECT user_id, island, MIN(t0) AS i0, MAX(t1) AS i1,
        |             COUNT(*) AS n_ev
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(i1 - i0) AS BIGINT) AS active_us,
        |       COUNT(*) AS n_islands, CAST(SUM(n_ev) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_delta_sum" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         SUM(CAST(value AS DECIMAL(38,6))) AS rev
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, day, rev,
        |         rev - LAG(rev) OVER (PARTITION BY event_type ORDER BY day) AS d
        |  FROM daily),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |         CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) AS DOUBLE) AS delta_sum,
        |         CAST(arg_min(rev, day) AS DOUBLE) AS first_rev,
        |         CAST(arg_max(rev, day) AS DOUBLE) AS last_rev,
        |         arg_max(rev, day) - arg_min(rev, day) AS diff_rev,
        |         MAX(day) - MIN(day) AS span_days
        |  FROM d GROUP BY 1)
        |SELECT event_type, n_days, delta_sum, first_rev, last_rev,
        |       CASE WHEN span_days > 0
        |            THEN CAST(diff_rev AS DOUBLE) / CAST(span_days AS DOUBLE)
        |       END AS rate_per_day
        |FROM a ORDER BY event_type""".stripMargin,
    "ev_ema" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(30,6))
        |              * 1000000 AS BIGINT) AS rev_micros
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT d.event_type, d.day + o.off AS day,
        |         d.rev_micros * (CAST(1 AS BIGINT) << (15 - o.off)) AS w_rev,
        |         (CAST(1 AS BIGINT) << (15 - o.off)) AS w
        |  FROM daily d
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 15)) AS off) o)
        |SELECT d.event_type, d.day,
        |       CAST(SUM(c.w_rev) AS DOUBLE) / CAST(SUM(c.w) AS DOUBLE) AS ema,
        |       COUNT(*) AS n_terms
        |FROM daily d
        |JOIN c ON c.event_type = d.event_type AND c.day = d.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_linreg" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS x0,
        |         CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(30,6))
        |              * 1000000 AS BIGINT) AS y0
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         SUM(CAST(x0 AS HUGEINT)) AS sx, SUM(CAST(y0 AS HUGEINT)) AS sy,
        |         SUM(CAST(x0 AS HUGEINT) * y0) AS sxy,
        |         SUM(CAST(x0 AS HUGEINT) * x0) AS sxx,
        |         SUM(CAST(y0 AS HUGEINT) * y0) AS syy
        |  FROM daily GROUP BY 1),
        |t AS (
        |  SELECT event_type, n, sx, sy,
        |         CAST(n AS HUGEINT) * sxy - sx * sy AS n1,
        |         CAST(n AS HUGEINT) * sxx - sx * sx AS d1,
        |         CAST(n AS HUGEINT) * syy - sy * sy AS n2
        |  FROM s),
        |u AS (
        |  SELECT event_type, n, d1, n2,
        |         CAST((n1 - n1 % 4294967296) // 4294967296 AS DOUBLE)
        |           * 4294967296.0 + CAST(n1 % 4294967296 AS DOUBLE) AS dn1,
        |         CAST((d1 - d1 % 4294967296) // 4294967296 AS DOUBLE)
        |           * 4294967296.0 + CAST(d1 % 4294967296 AS DOUBLE) AS dd1,
        |         CAST((n2 - n2 % 4294967296) // 4294967296 AS DOUBLE)
        |           * 4294967296.0 + CAST(n2 % 4294967296 AS DOUBLE) AS dn2,
        |         CAST((sx - sx % 4294967296) // 4294967296 AS DOUBLE)
        |           * 4294967296.0 + CAST(sx % 4294967296 AS DOUBLE) AS dsx,
        |         CAST((sy - sy % 4294967296) // 4294967296 AS DOUBLE)
        |           * 4294967296.0 + CAST(sy % 4294967296 AS DOUBLE) AS dsy
        |  FROM t),
        |v AS (
        |  SELECT event_type, n, d1, n2, dn1, dd1, dn2, dsx, dsy,
        |         CASE WHEN d1 > 0 THEN dn1 / dd1 END AS slope_raw
        |  FROM u)
        |SELECT event_type, n AS n_days,
        |       slope_raw / 1000000.0 AS slope_per_day,
        |       ((dsy - slope_raw * dsx) / CAST(n AS DOUBLE)) / 1000000.0
        |         AS intercept,
        |       CASE WHEN d1 > 0 AND n2 > 0
        |            THEN (dn1 * dn1) / (dd1 * dn2) END AS r2
        |FROM v ORDER BY event_type""".stripMargin,
    "ev_moments" ->
      """WITH p AS (
        |  SELECT event_type,
        |         CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT) AS c
        |  FROM events),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         SUM(c) AS s1, SUM(c*c) AS s2,
        |         SUM(c*c*c) AS s3, SUM((c*c)*(c*c)) AS s4
        |  FROM p GROUP BY 1),
        |m AS (
        |  SELECT event_type, n,
        |         CAST(n AS DOUBLE) AS nd,
        |         (CAST((s1 - s1 % 4294967296) // 4294967296 AS DOUBLE)
        |            * 4294967296.0 + CAST(s1 % 4294967296 AS DOUBLE))
        |           / CAST(n AS DOUBLE) AS mean,
        |         (CAST((s2 - s2 % 4294967296) // 4294967296 AS DOUBLE)
        |            * 4294967296.0 + CAST(s2 % 4294967296 AS DOUBLE))
        |           / CAST(n AS DOUBLE) AS e2,
        |         (CAST((s3 - s3 % 4294967296) // 4294967296 AS DOUBLE)
        |            * 4294967296.0 + CAST(s3 % 4294967296 AS DOUBLE))
        |           / CAST(n AS DOUBLE) AS e3,
        |         (CAST((s4 - s4 % 4294967296) // 4294967296 AS DOUBLE)
        |            * 4294967296.0 + CAST(s4 % 4294967296 AS DOUBLE))
        |           / CAST(n AS DOUBLE) AS e4
        |  FROM s),
        |cm AS (
        |  SELECT event_type, n, mean,
        |         e2 - mean * mean AS m2,
        |         e3 - 3.0 * mean * e2 + 2.0 * mean * mean * mean AS m3,
        |         e4 - 4.0 * mean * e3 + 6.0 * mean * mean * e2
        |            - 3.0 * mean * mean * mean * mean AS m4
        |  FROM m)
        |SELECT event_type, n, mean / 100.0 AS mean_value,
        |       CASE WHEN m2 > 0 THEN m3 / (m2 * SQRT(m2)) END AS skewness,
        |       CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS kurtosis
        |FROM cm ORDER BY event_type""".stripMargin,
    "ev_retention" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1)
        |SELECT CAST(cohort_day - DATE '1970-01-01' AS BIGINT) AS cohort_epoch_day,
        |       COUNT(DISTINCT c.user_id) AS n_users,
        |       COUNT(DISTINCT CASE WHEN d.day - c.cohort_day = 1
        |                           THEN c.user_id END) AS retained_d1,
        |       COUNT(DISTINCT CASE WHEN d.day - c.cohort_day = 7
        |                           THEN c.user_id END) AS retained_d7
        |FROM cohort c JOIN days d ON c.user_id = d.user_id
        |GROUP BY cohort_day ORDER BY 1""".stripMargin,
    "ev_conversion_latency" ->
      """WITH v AS (SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t_view
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id,
        |             MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) - MIN(v.t_view) AS gap_us
        |      FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'purchase'
        |        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.t_view
        |      GROUP BY 1)
        |SELECT CAST(gap_us // 3600000000 AS BIGINT) AS hours,
        |       COUNT(*) AS n_users,
        |       quantile_cont(gap_us, 0.5) AS median_gap_us
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_uniq_upto" ->
      """SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |       event_type,
        |       LEAST(COUNT(DISTINCT user_id), 26) AS uniq_upto
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_kmv_daily_rollup" ->
      """WITH e AS (SELECT event_type,
        |             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |               AS day,
        |             user_id
        |           FROM events),
        |wk AS (SELECT event_type, day // 7 AS week,
        |              COUNT(DISTINCT day) AS n_days,
        |              COUNT(DISTINCT user_id) AS users_week
        |       FROM e GROUP BY 1, 2),
        |cu AS (SELECT w.event_type, w.week,
        |              COUNT(DISTINCT e.user_id) AS users_cum
        |       FROM (SELECT DISTINCT event_type, week FROM wk) w
        |       JOIN e ON e.event_type = w.event_type
        |             AND e.day // 7 <= w.week
        |       GROUP BY 1, 2)
        |SELECT wk.event_type, wk.week, wk.n_days, wk.users_week,
        |       cu.users_cum
        |FROM wk JOIN cu USING (event_type, week)
        |ORDER BY event_type, week""".stripMargin,
    "ev_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |         CASE WHEN MIN(CASE WHEN event_type = 'purchase'
        |                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
        |                   < MIN(epoch_us(CAST(ts AS TIMESTAMP))) + 86400000000
        |              THEN 1 ELSE 0 END AS converted,
        |         CASE WHEN substr(md5(concat('ab', CAST(user_id AS VARCHAR))), 1, 1)
        |                   < '8' THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS users_a,
        |         CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT)
        |           AS conv_a,
        |         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |           AS users_b,
        |         CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT)
        |           AS conv_b
        |  FROM pu)
        |SELECT users_a, conv_a, users_b, conv_b,
        |       CASE WHEN users_a > 0
        |         THEN CAST(conv_a AS DOUBLE) / CAST(users_a AS DOUBLE)
        |       END AS rate_a,
        |       CASE WHEN users_b > 0
        |         THEN CAST(conv_b AS DOUBLE) / CAST(users_b AS DOUBLE)
        |       END AS rate_b,
        |       CASE WHEN users_a > 0 AND users_b > 0
        |             AND conv_a + conv_b > 0
        |             AND conv_a + conv_b < users_a + users_b THEN
        |         (CAST(conv_a AS DOUBLE) / CAST(users_a AS DOUBLE)
        |            - CAST(conv_b AS DOUBLE) / CAST(users_b AS DOUBLE))
        |           / sqrt((CAST(conv_a + conv_b AS DOUBLE)
        |                     / CAST(users_a + users_b AS DOUBLE))
        |                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |                             / CAST(users_a + users_b AS DOUBLE))
        |                  * (1.0 / CAST(users_a AS DOUBLE)
        |                       + 1.0 / CAST(users_b AS DOUBLE)))
        |       END AS z
        |FROM c""".stripMargin,
    "ev_kmv_overlap" ->
      """WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, COUNT(*) AS n FROM s GROUP BY 1),
        |ov AS (SELECT sa.event_type AS ta, sb.event_type AS tb,
        |              COUNT(*) AS n_ov
        |       FROM s sa JOIN s sb
        |         ON sa.user_id = sb.user_id AND sa.event_type < sb.event_type
        |       GROUP BY 1, 2)
        |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
        |       ca.n AS users_a, cb.n AS users_b,
        |       ca.n + cb.n - COALESCE(n_ov, 0) AS n_union,
        |       COALESCE(n_ov, 0) AS n_overlap
        |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
        |LEFT JOIN ov ON ta = ca.event_type AND tb = cb.event_type
        |ORDER BY 1, 2""".stripMargin,
    "ev_cohort_matrix" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1)
        |SELECT CAST(cohort_day - DATE '1970-01-01' AS BIGINT) AS cohort_epoch_day,
        |       CAST(d.day - c.cohort_day AS BIGINT) AS age_days,
        |       COUNT(DISTINCT c.user_id) AS n_active
        |FROM cohort c JOIN days d ON c.user_id = d.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_json_extract" ->
      """SELECT event_id, user_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    "ev_props_map" ->
      """WITH kv AS (
        |  SELECT unnest(json_keys(props)) AS key,
        |         CAST(props ->> unnest(json_keys(props)) AS BIGINT) AS value
        |  FROM events)
        |SELECT key, COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v,
        |       CAST(SUM(value) AS BIGINT) AS sum_v
        |FROM kv GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_daily_full_outer" ->
      """WITH c AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT strftime(COALESCE(c.day, p.day), '%Y-%m-%d') AS day,
        |       COALESCE(n_clicks, 0) AS n_clicks,
        |       COALESCE(n_purchases, 0) AS n_purchases
        |FROM c FULL OUTER JOIN p ON c.day = p.day
        |ORDER BY 1""".stripMargin,
    "ev_tumbling" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT)
        |         AS window_start,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ev_sliding" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch(time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT)
        |           - 21600 * k AS window_start
        |  FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
        |SELECT window_start, event_type, COUNT(*) AS n
        |FROM e GROUP BY 1, 2""".stripMargin,
    "ev_session" ->
      """WITH o AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |         CASE WHEN CAST(ts AS TIMESTAMP) >=
        |                   LAG(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM o)
        |SELECT user_id,
        |       epoch_us(MIN(ts)) AS start_us,
        |       epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS end_us,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sess_id""".stripMargin,
    "ev_topk_user" ->
      """SELECT user_id, event_id, event_type, value, rank FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY value DESC, event_id) AS rank
        |  FROM events) t
        |WHERE rank <= 3""".stripMargin,
    "ev_type_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       MIN(value) AS min_value, MAX(value) AS max_value,
        |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
}
