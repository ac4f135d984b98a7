package graft.plans

import graft.sources.{CacheRegistry, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed materialization of the two fact-side tables — the 100 TB
  * answer to the star build's only unavoidable shuffle.
  *
  * `lineitem ⨝ orders` is fact-to-fact: neither side broadcasts at
  * cluster scale, so a plain join exchanges both sides on every run.
  * Bucketing both tables into the same number of buckets on the join
  * key (and sorting within buckets) makes every downstream orderkey
  * join shuffle-free AND sort-free: the scan's bucket layout already
  * satisfies the join's distribution and ordering requirements —
  * BucketedJoinSpec asserts the plan has zero Exchange operators. The
  * one-time bucketing cost is amortized over every star rebuild and
  * orderkey-grained query after it (the reference's `sources`
  * materialization layer made the same trade, README.md:257-258). */
object Bucketed {

  val NumBuckets = 8

  /** SaveMode.Overwrite only clears the location when the CATALOG knows
    * the table; a fresh session (in-memory catalog) pointed at a
    * warehouse dir where a previous JVM left `<name>_bkt` files fails
    * with LOCATION_ALREADY_EXISTS — exactly the driver's Verify-then-
    * Bench sequence. Drop the stale managed location first (bounded
    * one-time setup IO, not a data path). */
  private def clearStaleLocation(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val p = new org.apache.hadoop.fs.Path(s"$wh/$name")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  /** One-time CTAS of both fact tables, co-bucketed on the order key. */
  def materialize(spark: SparkSession, dir: String): Unit = {
    clearStaleLocation(spark, "lineitem_bkt")
    Tables.lineitem(spark, dir).write
      .mode(SaveMode.Overwrite)
      .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_bkt")
    clearStaleLocation(spark, "orders_bkt")
    Tables.orders(spark, dir).write
      .mode(SaveMode.Overwrite)
      .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_bkt")
  }

  /** The co-located fact join: reads both bucketed tables and joins on
    * the bucket key — planner output has no Exchange. */
  def join(spark: SparkSession): DataFrame =
    spark.table("lineitem_bkt")
      .join(spark.table("orders_bkt"),
        col("l_orderkey") === col("o_orderkey"), "inner")

  /** One-per-session bucketed materialization (same snapshot flow as
    * `Star.materializedPath`). */
  def ensure(spark: SparkSession, dir: String): Unit =
    CacheRegistry.getOrBuild(spark, dir, "bucketed", "lineitem", "orders")(
      materialize(spark, dir))

  /** Order-grained revenue rollup over the co-bucketed fact join — the
    * oracle-paired `x_star_bucketed` query key. Both scans are
    * bucket-aligned on the order key, so the join needs no exchange
    * AND the order-keyed aggregate inherits the join's co-partitioning
    * (`PartitioningCollection` carries both equi-join keys):
    * scan → zipped-bucket join → partial+final agg with ZERO Exchange
    * anywhere in the plan (BucketedJoinSpec asserts it with broadcast
    * disabled; results hash-match the unbucketed oracle). This is the
    * recurring-workload payoff of the one-time bucketing CTAS: at
    * 100 TB every orderkey-grained rebuild/query after it is
    * shuffle-free. No orderBy on purpose — a global sort would
    * reintroduce a range Exchange and the driver gate sorts rows
    * itself. */
  def orderRevenue(spark: SparkSession, dir: String): DataFrame = {
    ensure(spark, dir)
    join(spark)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast(org.apache.spark.sql.types.DoubleType).as("revenue"))
  }
}
