package graft.operators

import graft.QueryPack
import graft.plans.Star
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Operators beyond the survey checklist that a reference user would
  * reach for next: as-of join, pivot/unpivot, exact percentiles,
  * moment-based dispersion stats, the SQL string entry point, and a
  * whole-table parity check of the materialized star.
  *
  * The as-of join ships in two forms arbitrated by one oracle: the
  * union + ordered-window carry-forward composition (below), and the
  * purpose-built physical operator in [[graft.plans.AsOfJoin]] — the
  * two ends of the custom-operator preference ladder.
  */
object Extras extends QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 6))

  /** AS-OF join: for every click, the most recent prior (ts ≤ click.ts)
    * purchase value of the same user. Union both sides tagged, sort each
    * user's timeline once, carry the last purchase value forward — the
    * linear-scale formulation (vs a per-row range probe). */
  def asofLastPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("is_left"),
        lit(null).cast("double").as("pv"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(lit(null).cast("long").as("event_id"), col("user_id"), col("ts"),
        lit(0).as("is_left"), col("value").as("pv"))
    // right rows sort before left at equal ts => ties (ts equal) match
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.union(purchases)
      .withColumn("last_purchase_value", last(col("pv"), ignoreNulls = true).over(w))
      .filter(col("is_left") === 1)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("last_purchase_value"))
  }

  /** AS-OF via the custom physical operator ([[graft.plans.AsOfJoin]]):
    * same semantics and oracle as [[asofLastPurchase]], executed by the
    * purpose-built merge-pass `AsOfJoinExec` instead of window carry-
    * forward — DuckDB arbitrates that all three forms agree. */
  def asofCustomOperator(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("value").as("last_purchase_value"))
    graft.plans.AsOfJoin.join(clicks, purchases, "user_id", "ts", "pts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("last_purchase_value"))
  }

  /** Forward as-of via the custom operator: for every click, the NEXT
    * purchase (smallest purchase ts ≥ click ts) of the same user —
    * attribution's "time-to-conversion" shape. DuckDB's native forward
    * ASOF (`ON c.ts <= p.ts`) arbitrates. */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("value").as("next_purchase_value"))
    graft.plans.AsOfJoin.join(clicks, purchases, "user_id", "ts", "pts",
        direction = graft.plans.AsOfJoin.Forward)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("next_purchase_value"))
  }

  /** Backward as-of with a 1-hour tolerance: purchases older than the
    * window yield the null-padded row (nearest-out-of-window implies
    * nothing in-window). Oracle: unbounded DuckDB ASOF + a CASE mask. */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("value").as("last_purchase_value"))
    graft.plans.AsOfJoin.join(clicks, purchases, "user_id", "ts", "pts",
        toleranceUs = 3600L * 1000 * 1000)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("last_purchase_value"))
  }

  /** PIVOT: order counts, priorities × status columns. */
  def pivotOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"),
        col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** UNPIVOT/melt: part metrics to long form. */
  def unpivotParts(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_partkey")), "metric", "value")

  /** Exact median (linear-interpolated percentile) of quantity per flag —
    * quantity is integer-valued so the interpolation is exact. */
  def quantityMedian(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
        percentile(col("l_quantity"), lit(0.25)).as("q1_qty"),
        percentile(col("l_quantity"), lit(0.75)).as("q3_qty"))
      .orderBy(col("l_returnflag"))

  /** Dispersion stats from exact decimal moments: Σx and Σx² are
    * order-independent decimals, the variance formula is then a fixed
    * IEEE expression — deterministic across engines, unlike streaming
    * Welford aggregates whose merge order varies. */
  def valueStats(spark: SparkSession, dir: String): DataFrame = {
    val n = count(lit(1)).cast(DoubleType)
    val sx = sum(dec(col("value"))).cast(DoubleType)
    val sx2 = sum(dec(col("value") * col("value"))).cast(DoubleType)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), (sx / n).as("mean_value"),
        ((n * sx2 - sx * sx) / (n * (n - lit(1.0)))).as("var_value"))
      .orderBy(col("event_type"))
  }

  /** The SQL-string entry point over the registered source views — the
    * reference's dbt-SQL surface (`README.md:298-326`) verbatim. */
  def sqlEntry(spark: SparkSession, dir: String): DataFrame = {
    // register only the view this query reads — registerAll re-reads all
    // ten tables (incl. the events nanos-conf path) per invocation
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** Correlated scalar subqueries through the SQL front end: each
    * customer's order count and most recent order day, written as two
    * correlated subqueries per row — the surface users migrate in from
    * warehouse SQL. Catalyst decorrelates each into a left outer
    * aggregate join (broadcast at fixture scale — verified in the
    * executed plan), so nothing re-executes per row. Restricted to
    * BUILDING-segment customers so the decorrelated join has a pushed
    * filter to prune on. */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_custkey,
        |       (SELECT COUNT(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |       (SELECT CAST(unix_date(to_date(MAX(o.o_orderdate))) AS BIGINT)
        |        FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS last_order_day
        |FROM customer c
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Whole-star parity: the full denormalized CTAS output hash-compared
    * column-for-column against the oracle join (O4/O5/O6 end-to-end). */
  def starFull(spark: SparkSession, dir: String): DataFrame =
    Star.build(spark, dir)

  /** Materialized-sources flow (reference `sources` layer,
    * `README.md:256-258`): the star is CTAS'd to parquet once per
    * session, READ BACK, and aggregated — the oracle recomputes the
    * same rollup from the raw five-way join, so a pass proves the
    * write→read round trip preserved every contributing column. */
  def starMaterializedRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.open(spark, Star.materializedPath(spark, dir))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast(DoubleType).as("revenue"))
      .orderBy(col("o_year"), col("c_mktsegment"))

  /** Typed-Dataset aggregation path: `groupByKey` + a compile-time-
    * checked [[graft.functions.TypedAggregators.AvgLong]] Aggregator —
    * the `Dataset[T]` API surface (vs the untyped Column agg everywhere
    * else). Integer buffer ⇒ merge-order-free; one final division. */
  def typedAvgQuantity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.TypedAggregators.AvgLong[(String, Double)](_._2.toLong)
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("avg_qty"))
      .toDF("l_returnflag", "avg_qty")
      .orderBy(col("l_returnflag"))
  }

  /** RANGE-frame analytic window: per-day order revenue with a trailing
    * 7-day (6 PRECEDING..CURRENT in day units) rolling sum — the frame
    * type `rel_running_total`'s ROWS frame doesn't cover. The window
    * sums DECIMALS (exact, fold-order-free) and casts to double at the
    * very end: engines disagree on float window-aggregation order
    * (running accumulation vs segment trees), decimals make that
    * irrelevant. */
  def trailingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("rev"))
    val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    daily
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
      .withColumn("trailing", sum(col("rev")).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        col("rev").cast(DoubleType).as("revenue"),
        col("trailing").cast(DoubleType).as("trailing_7d"))
      .orderBy(col("day"))
  }

  /** Incremental-materialization flow (dbt `incremental`, which the
    * reference's P.S. leaves out): history written once, the new date
    * slice appended by a second run, read back and rolled up — the
    * oracle recomputes from the raw join, proving incremental == full. */
  def starIncrementalRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.open(spark, Star.incrementalPath(spark, dir))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast(DoubleType).as("revenue"))
      .orderBy(col("o_year"))

  /** Partition-pruned read-back: the year-partitioned star snapshot
    * queried for ONE year — the scan's PartitionFilters drop every
    * other year's directories before any IO (spec-pinned). Oracle
    * recomputes from the raw join with the same predicate. */
  def starPartitionPruned(spark: SparkSession, dir: String): DataFrame =
    Tables.open(spark, Star.partitionedPath(spark, dir))
      .filter(col("order_year") === 1996)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast(DoubleType).as("revenue"))
      .orderBy(col("c_mktsegment"))

  /** MERGE/upsert re-expressed without a table format (no Delta in this
    * container): updates take priority over the base snapshot through a
    * FULL OUTER join + per-column coalesce, producing the rotated
    * snapshot — updated rows replaced, new rows inserted, untouched
    * rows carried. The update set is derived deterministically from the
    * fixture so the oracle can rebuild the identical merge in SQL. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val updates = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100).as("c_acctbal"),
        col("c_mktsegment"))
      .unionAll(base.filter(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          col("c_acctbal"), col("c_mktsegment")))
    val u = updates.select(col("c_custkey").as("k"), col("c_acctbal").as("u_bal"),
      col("c_mktsegment").as("u_seg"))
    val merged = u.join(base.withColumnRenamed("c_custkey", "k"), Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("u_bal"), col("c_acctbal")).as("bal"),
        coalesce(col("u_seg"), col("c_mktsegment")).as("seg"))
    merged.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("bal"))).cast(DoubleType).as("total_bal"))
      .orderBy(col("seg"))
  }

  /** dbt-style schema tests as one result set: (test_name, n_violations)
    * per declared constraint — not-null, unique, two FK relationships,
    * accepted-values. Values (all zeros on healthy data) are computed,
    * not assumed, and the oracle recomputes each check in SQL, so the
    * gate verifies the CHECKS themselves, not just the happy path. */
  def schemaTests(spark: SparkSession, dir: String): DataFrame = {
    def t(name: String, violations: DataFrame): DataFrame =
      violations.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("test_name"), col("n_violations"))
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    t("customer_nation_fk",
        cust.join(nat, cust("c_nationkey") === nat("n_nationkey"), "left_anti"))
      .unionAll(t("lineitem_orderkey_fk",
        li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")))
      .unionAll(t("lineitem_orderkey_not_null", li.filter(col("l_orderkey").isNull)))
      .unionAll(t("orders_orderkey_unique",
        ord.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c")).filter(col("c") > 1)))
      .unionAll(t("orders_status_accepted",
        ord.filter(!col("o_orderstatus").isin("F", "O", "P"))))
      .orderBy(col("test_name"))
  }

  /** Arbitrary GROUPING SETS (beyond rollup/cube) through the SQL front
    * end: per-nation, per-segment, and grand-total groups in one pass. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    spark.sql(
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment), ())""".stripMargin)
  }

  /** Non-equi range join: events bucketed into value bands via an
    * interval table. The band table is tiny and broadcast, so the range
    * predicate costs one vectorized comparison per row — the pattern for
    * histogram/banding joins at scale. */
  def rangeJoinBands(spark: SparkSession, dir: String): DataFrame = {
    val bands = {
      import spark.implicits._
      (0 until 10).map(i => (i * 50.0, (i + 1) * 50.0, s"band_$i"))
        .toDF("lo", "hi", "band")
    }
    Tables.events(spark, dir)
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast(DoubleType).as("total"))
      .orderBy(col("band"))
  }

  /** Date-dimension build — the reference generates a date dim it never
    * registers (reference `README.md:64` vs `:158-221`; SURVEY documents
    * the inconsistency); this closes the gap: a conformed calendar over
    * the orders span with the join-ready calendar attributes (year,
    * month, day, yyyymm, ISO week, ISO day-of-week, quarter). Keyed by
    * d_date; one row per day, generated distributively from the span
    * aggregate — no driver-side date loop. */
  def dateDim(spark: SparkSession, dir: String): DataFrame = {
    val span = Tables.orders(spark, dir)
      .agg(to_date(min(col("o_orderdate"))).as("d0"),
        to_date(max(col("o_orderdate"))).as("d1"))
    span.select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("d_date"),
        year(col("d")).cast("long").as("d_year"),
        month(col("d")).cast("long").as("d_month"),
        dayofmonth(col("d")).cast("long").as("d_day"),
        (year(col("d")) * 100 + month(col("d"))).cast("long").as("d_yyyymm"),
        weekofyear(col("d")).cast("long").as("d_isoweek"),
        (weekday(col("d")) + 1).cast("long").as("d_isodow"),
        quarter(col("d")).cast("long").as("d_quarter"))
      .orderBy(col("d_date"))
  }

  /** Calendar gap-fill / resample: daily event counts over the full
    * [min, max] date span with zero-filled missing days — the
    * time-series densification every monitoring pipeline needs. */
  def gapFillDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val span = ev.agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val calendar = span
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    calendar.join(daily, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("day"))
  }

  /** Explicit skew-salted fact-dim join as an end-to-end QUERY (the
    * [[Skew.saltedJoin]] mechanics, already pinned row-identical by
    * SkewSpec, exercised over the fixture fact table): lineitem salts
    * its orderkey 8 ways off the line number, orders replicates across
    * the salts, so a hot orderkey's rows spread over 8 reducer
    * partitions instead of one. Semantically identical to the plain
    * join — the oracle computes that — and the replication factor
    * bounds at 8× the DIM side, never the fact side. This is the
    * deterministic, plan-level form of what AQE skew-split does
    * post-hoc, for when the hot key set is known up front. */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    Skew.saltedJoin(li, o, "l_orderkey",
        saltBy = col("l_orderkey") * 10 + col("l_linenumber"), factor = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lineitems"),
        sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast(DoubleType).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Weighted median (ClickHouse `quantileExactWeighted` analogue):
    * the quantity-weighted median of extended price per return flag —
    * cumulative-weight walk over a fully tie-broken in-group order,
    * first row where 2·cumw ≥ total wins. Quantities are integer-valued
    * doubles, so every cumulative sum is exact and the pick is
    * deterministic in both engines. Scale: the window partitions on
    * the 3-value flag — bounded-cardinality partitions of fact-table
    * size, the documented exact-answer tier (the approx path for
    * arbitrary groupings is `x_approx_quantiles`' sketch machinery). */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("l_returnflag"))
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .withColumn("cumw", sum(col("l_quantity")).over(ord))
      .withColumn("total_w", sum(col("l_quantity")).over(whole))
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cumw") * 2 >= col("total_w"), col("l_extendedprice")))
          .as("weighted_median"),
        max(col("total_w")).cast("long").as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  /** Recursive-CTE reachability (SQL-surface parity item): parts within
    * two co-purchase hops of part 1, with minimum hop count, via
    * `WITH RECURSIVE` through the SQL front end (Spark 4's recursion —
    * UNION ALL steps + the outer MIN collapse). The step is
    * frontier-driven BFS: each iteration joins the CURRENT frontier
    * against lineitem twice (partkey equi-join, then orderkey
    * equi-join) — no global edge materialization, no O(E) distinct;
    * path multiplicity is degree-bounded (~deg² rows at hop 2) and the
    * depth bound is a literal. The identical SQL text is the DuckDB
    * oracle. */
  def reachableParts(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(ReachableSql)
  }

  private[operators] val ReachableSql: String =
    """WITH RECURSIVE reach(part, hop) AS (
      |  SELECT CAST(1 AS BIGINT) AS part, 0 AS hop
      |  UNION ALL
      |  SELECT b.l_partkey AS part, r.hop + 1 AS hop
      |  FROM reach r
      |  JOIN lineitem a ON a.l_partkey = r.part
      |  JOIN lineitem b ON b.l_orderkey = a.l_orderkey
      |                 AND b.l_partkey <> r.part
      |  WHERE r.hop < 2)
      |SELECT part, CAST(MIN(hop) AS BIGINT) AS min_hop
      |FROM reach GROUP BY 1 ORDER BY 2, 1""".stripMargin

  /** Z-order (Morton-curve) data layout for multi-dimensional data
    * skipping — the Delta/Iceberg `OPTIMIZE ZORDER BY` shape: interleave
    * the bits of the two filter dimensions a 100 TB orders table is
    * actually probed on (order date, customer), range-partition files by
    * the resulting z-value, and every file's min/max footer stats
    * become tight on BOTH dimensions at once — a single-column sort
    * gives perfect pruning on that column and none on the other.
    *
    * The query materializes the layout's TELEMETRY at a fixed 64-file
    * granularity: per z-bucket — `ntile(64)` in z order, i.e. the
    * equal-frequency file assignment a z-range-partitioning writer
    * makes — the row count and per-dimension min/max, exactly the
    * parquet footer stats a scan planner prunes with. Bit interleaving
    * is pure integer shift/mask arithmetic (codegen'd end to end,
    * identical generated formula in the DuckDB oracle, hash-exact);
    * ZorderSpec measures the pruning the layout buys — a date-window
    * probe AND a customer-range probe each skip most z-buckets, while
    * a custkey-sorted layout prunes nothing for the date probe.
    *
    * Scale shape — the exact ntile assignment computed DISTRIBUTED,
    * with no single-partition window anywhere: range-partition on the
    * sort key (a sampled-boundary exchange, the production writer's
    * own shuffle), `row_number` within each partition (a PARTITIONED
    * window — range partitions are globally ordered, so partition-id
    * order is sort order), add per-partition rank offsets (one count
    * per partition, driver-side bounded bookkeeping — the kcore
    * histogram pattern), and derive the equal-frequency bucket from
    * the global rank with ntile's own first-`n mod 64`-buckets-get-
    * one-extra rule in pure integer arithmetic. Sampled boundaries
    * affect only WHERE partitions split, never the global rank, so
    * the result is bit-identical to the oracle's `NTILE(64)` — and
    * rows tied on (z, d, ck) carry identical stats columns, so
    * tie placement cannot move any bucket's min/max. Measured at
    * ×100 (15M rows): the single-sort ntile window ran 15.5 s; this
    * form 2.6 s with equal pruning power (ZorderSpec).
    *
    * Both dimensions are min/max-scaled onto the full 16-bit grid
    * before interleaving (integer arithmetic, one-row broadcast of the
    * corpus extremes — the scalar-attach shape). This is the
    * normalization real z-writers apply by ranking: interleaving RAW
    * values gives whichever dimension has more significant bits the
    * high z-bits and starves the other (measured on the fixture:
    * unscaled prunes 88% / 20% on date / customer probes; scaled
    * 78% / 75%). Pruning correctness never depends on the scaling —
    * only on the TRUE per-file min/max emitted here. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val nPart = spark.sessionState.conf.numShufflePartitions
    val (ranked, n) = graft.plans.ExactRank.withRank(zorderValues(spark, dir),
      nPart, Seq(col("z"), col("d"), col("ck")), "rnk")
    // ntile(64) exactly: the first (n mod 64) buckets take one row more
    val q = n / 64
    val rem = n % 64
    val big = q + 1
    ranked
      .withColumn("bucket",
        when(col("rnk") <= lit(rem * big),
          expr(s"(rnk - 1) div $big + 1"))
          .otherwise(expr(s"$rem + (rnk - ${rem * big} - 1) div $q + 1")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("d")).as("min_day"), max(col("d")).as("max_day"),
        min(col("ck")).as("min_cust"), max(col("ck")).as("max_cust"))
      .orderBy(col("bucket"))
  }

  /** Shared z-value frame for the layout writers: (d, ck, z) with both
    * dimensions 16-bit min/max-scaled and bit-interleaved. */
  private def zorderValues(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(expr("cast(unix_date(to_date(o_orderdate)) as bigint)").as("d"),
        col("o_custkey").cast("long").as("ck"))
    val s = o.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"),
      min(col("ck")).as("cmin"), max(col("ck")).as("cmax"))
    val x = expr("((d - dmin) * 65535) div greatest(dmax - dmin, 1)")
    val y = expr("((ck - cmin) * 65535) div greatest(cmax - cmin, 1)")
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    o.join(broadcast(s)).withColumn("z", z)
      .select(col("d"), col("ck"), col("z"))
  }

  /** Bloom-filter SEMI-JOIN REDUCTION — the runtime-filter shape Spark
    * injects for selective joins, built explicitly from the engine's
    * own sketch expressions: aggregate the filtered dimension's keys
    * into a Bloom filter ([[org.apache.spark.sql.catalyst.expressions
    * .aggregate.BloomFilterAggregate]], one compact bitmap, mergeable
    * map-side), broadcast the ONE-row bitmap, and drop fact rows whose
    * key `might_contain` rejects BEFORE the fact side reaches the join
    * exchange. The Bloom filter admits false positives only, and the
    * exact equi-join still follows, so the result is IDENTICAL to the
    * plain join — the oracle pairs against straight SQL.
    *
    * The 100 TB economics: when the dimension is too big to broadcast
    * as a hash relation, the shuffle join moves the ENTIRE fact table;
    * an 8 Mbit bitmap broadcast prunes the fact rows at the scan (here:
    * 1/5 of customers survive the segment filter, so ~4/5 of orders
    * never enter the exchange at ~1% false-positive cost). BloomSpec
    * asserts the might_contain filter sits below the join and the
    * result equals the unfiltered plan's. */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bloomAgg = GraftBridge.column(
      BloomFilterAggregate(
        GraftBridge.expression(xxhash64(col("c_custkey"))),
        Literal(1000000L), Literal(8L * 1024 * 1024), 0, 0)
        .toAggregateExpression())
    val bf = cust.agg(bloomAgg.as("bf"))
    // the 1-row bitmap rides as a scalar subquery — might_contain's
    // required shape, and exactly how InjectRuntimeFilter plants it
    val mightContain = GraftBridge.column(
      BloomFilterMightContain(
        ScalarSubquery(GraftBridge.planOf(bf)),
        GraftBridge.expression(xxhash64(col("o_custkey")))))
    Tables.orders(spark, dir)
      .where(mightContain)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast(DoubleType).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** The PRODUCTION z-order write path: `repartitionByRange(64, z)` +
    * `sortWithinPartitions(z)` — the distributed equivalent of
    * [[zorderLayout]]'s ntile assignment (which is a single-partition
    * sort, measured 15.5 s on 15M rows at ×100; this form spreads the
    * sort across the cluster). Bucket boundaries come from Spark's
    * range-partitioner SAMPLE, so exact bucket membership is not
    * engine-reproducible — this variant is therefore a Dataset seam
    * with per-partition footer stats for ZorderSpec (which asserts its
    * pruning power matches the ntile form) and a scale measurement,
    * not an oracle key. Emits one row per physical partition:
    * (bucket = partition id, n_rows, min/max per dimension). */
  private[graft] def zorderLayoutDistributed(spark: SparkSession,
      dir: String): DataFrame =
    zorderValues(spark, dir)
      .repartitionByRange(64, col("z"))
      .sortWithinPartitions(col("z"))
      .withColumn("bucket", spark_partition_id().cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("d")).as("min_day"), max(col("d")).as("max_day"),
        min(col("ck")).as("min_cust"), max(col("ck")).as("max_cust"))
      .orderBy(col("bucket"))

  /** The same 32-term interleave for the DuckDB oracle, generated from
    * one formula so Spark and SQL cannot drift. */
  private def zorderTermsSql: String =
    (0 until 16).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_zorder_layout"      -> zorderLayout,
    "x_bloom_join"         -> bloomJoin,
    "x_weighted_median"    -> weightedMedian,
    "x_reachable_parts"    -> reachableParts,
    "x_salted_join"        -> saltedJoinQuery,
    "x_grouping_sets"      -> groupingSets,
    "x_range_join_bands"   -> rangeJoinBands,
    "x_gap_fill_daily"     -> gapFillDaily,
    "x_date_dim"           -> dateDim,
    "x_trailing_revenue"   -> trailingRevenue,
    "x_typed_avg_qty"      -> typedAvgQuantity,
    "x_asof_last_purchase" -> asofLastPurchase,
    "x_asof_custom_op"     -> asofCustomOperator,
    "x_asof_forward"       -> asofForward,
    "x_asof_tolerance"     -> asofTolerance,
    "x_pivot_orders"       -> pivotOrders,
    "x_unpivot_parts"      -> unpivotParts,
    "x_quantity_median"    -> quantityMedian,
    "x_value_stats"        -> valueStats,
    "x_sql_entry"          -> sqlEntry,
    "x_scalar_subquery"    -> scalarSubquery,
    "x_star_materialized"  -> starMaterializedRollup,
    "x_star_bucketed"      -> ((s: SparkSession, d: String) =>
      graft.plans.Bucketed.orderRevenue(s, d)),
    "x_star_incremental"   -> starIncrementalRollup,
    "x_star_partition_pruned" -> starPartitionPruned,
    "x_merge_upsert"       -> mergeUpsert,
    "x_schema_tests"       -> schemaTests,
    "ssb_star_full"        -> starFull)

  override lazy val oracles: Map[String, String] =
    oraclesBase + ("x_asof_custom_op" -> oraclesBase("x_asof_last_purchase"))

  private lazy val oraclesBase: Map[String, String] = Map(
    "x_zorder_layout" ->
      s"""WITH b AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |           AS d,
        |         o_custkey AS ck
        |  FROM orders),
        |s AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax,
        |             MIN(ck) AS cmin, MAX(ck) AS cmax FROM b),
        |m AS (SELECT d, ck,
        |        (d - dmin) * 65535 // GREATEST(dmax - dmin, 1) AS x,
        |        (ck - cmin) * 65535 // GREATEST(cmax - cmin, 1) AS y
        |      FROM b, s),
        |z AS (SELECT d, ck, ($zorderTermsSql) AS zv FROM m),
        |t AS (SELECT d, ck,
        |             CAST(NTILE(64) OVER (ORDER BY zv, d, ck) AS BIGINT)
        |               AS bucket
        |      FROM z)
        |SELECT bucket, COUNT(*) AS n_rows,
        |       MIN(d) AS min_day, MAX(d) AS max_day,
        |       MIN(ck) AS min_cust, MAX(ck) AS max_cust
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_bloom_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |         AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_weighted_median" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_extendedprice, l_quantity,
        |         SUM(l_quantity) OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |           ROWS UNBOUNDED PRECEDING) AS cumw,
        |         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS total_w
        |  FROM lineitem)
        |SELECT l_returnflag,
        |       MIN(CASE WHEN cumw * 2 >= total_w THEN l_extendedprice END)
        |         AS weighted_median,
        |       CAST(MAX(total_w) AS BIGINT) AS total_weight
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_reachable_parts" -> ReachableSql,
    "x_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lineitems,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |                     AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_grouping_sets" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment), ())""".stripMargin,
    "x_range_join_bands" ->
      """WITH bands AS (
        |  SELECT k * 50.0 AS lo, (k + 1) * 50.0 AS hi, 'band_' || k AS band
        |  FROM (SELECT unnest(generate_series(0, 9)) AS k))
        |SELECT band, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_gap_fill_daily" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |cal AS (
        |  SELECT unnest(generate_series(
        |    (SELECT MIN(day) FROM daily), (SELECT MAX(day) FROM daily),
        |    INTERVAL 1 DAY))::DATE AS day)
        |SELECT strftime(cal.day, '%Y-%m-%d') AS day, COALESCE(daily.n, 0) AS n
        |FROM cal LEFT JOIN daily ON cal.day = daily.day
        |ORDER BY 1""".stripMargin,
    "x_date_dim" ->
      """WITH span AS (
        |  SELECT MIN(CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)) AS d0,
        |         MAX(CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)) AS d1
        |  FROM orders),
        |cal AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        |  FROM span)
        |SELECT strftime(d, '%Y-%m-%d') AS d_date,
        |       EXTRACT(YEAR FROM d) AS d_year,
        |       EXTRACT(MONTH FROM d) AS d_month,
        |       EXTRACT(DAY FROM d) AS d_day,
        |       EXTRACT(YEAR FROM d) * 100 + EXTRACT(MONTH FROM d) AS d_yyyymm,
        |       CAST(weekofyear(d) AS BIGINT) AS d_isoweek,
        |       CAST(isodow(d) AS BIGINT) AS d_isodow,
        |       EXTRACT(QUARTER FROM d) AS d_quarter
        |FROM cal ORDER BY 1""".stripMargin,
    "x_asof_last_purchase" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |       p.value AS last_purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "x_typed_avg_qty" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_trailing_revenue" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS day,
        |         COUNT(*) AS n,
        |         SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n,
        |       CAST(rev AS DOUBLE) AS revenue,
        |       CAST(SUM(rev) OVER (ORDER BY day
        |         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |         AS DOUBLE) AS trailing_7d
        |FROM daily ORDER BY 1""".stripMargin,
    "x_asof_forward" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |       p.value AS next_purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin,
    "x_asof_tolerance" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |       CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN p.value
        |            END AS last_purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "x_pivot_orders" ->
      """SELECT o_orderpriority,
        |       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_unpivot_parts" ->
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part""".stripMargin,
    "x_quantity_median" ->
      """SELECT l_returnflag,
        |       percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS median_qty,
        |       percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q1_qty,
        |       percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS q3_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_value_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS mean_value,
        |       (CAST(COUNT(*) AS DOUBLE)
        |          * CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
        |        - CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |          * CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE))
        |       / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1.0)) AS var_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_sql_entry" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "x_scalar_subquery" ->
      """SELECT c_custkey,
        |       (SELECT COUNT(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |       (SELECT CAST(MAX(CAST(o.o_orderdate AS DATE)) - DATE '1970-01-01'
        |               AS BIGINT)
        |        FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS last_order_day
        |FROM customer c
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,
    "ssb_star_full" -> s"SELECT * FROM ${Star.sql}",
    "x_star_materialized" ->
      s"""SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year, c_mktsegment,
         |       COUNT(*) AS n,
         |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
         |            AS DOUBLE) AS revenue
         |FROM ${Star.sql}
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x_star_bucketed" ->
      """SELECT o_orderkey, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
        |            AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "x_star_incremental" ->
      s"""SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year, COUNT(*) AS n,
         |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
         |            AS DOUBLE) AS revenue
         |FROM ${Star.sql}
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_star_partition_pruned" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
         |            AS DOUBLE) AS revenue
         |FROM ${Star.sql}
         |WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_merge_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |updates AS (
        |  SELECT c_custkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        |  FROM base WHERE c_custkey % 17 = 0),
        |merged AS (
        |  SELECT COALESCE(u.c_custkey, b.c_custkey) AS k,
        |         COALESCE(u.c_acctbal, b.c_acctbal) AS bal,
        |         COALESCE(u.c_mktsegment, b.c_mktsegment) AS seg
        |  FROM updates u FULL OUTER JOIN base b ON u.c_custkey = b.c_custkey)
        |SELECT seg, COUNT(*) AS n,
        |       CAST(SUM(CAST(bal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_schema_tests" ->
      """SELECT 'customer_nation_fk' AS test_name, COUNT(*) AS n_violations
        |FROM customer c WHERE NOT EXISTS
        |  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'lineitem_orderkey_fk', COUNT(*)
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'lineitem_orderkey_not_null', COUNT(*)
        |FROM lineitem WHERE l_orderkey IS NULL
        |UNION ALL
        |SELECT 'orders_orderkey_unique', COUNT(*)
        |FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
        |UNION ALL
        |SELECT 'orders_status_accepted', COUNT(*)
        |FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')
        |ORDER BY 1""".stripMargin)
}
