package graft.plans

import graft.sources.{CacheRegistry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The denormalized star fact table — the reference's one materialized
  * model (`/root/reference/README.md:349-395`): lineorder inner-joined to
  * its three dimensions with a wide aliased projection.
  *
  * Fixture mapping (FIXTURES.md §B): customer hangs off `orders`, so the
  * join chain is
  *   lineitem ⨝ orders ⨝ customer ⨝ supplier ⨝ part (all inner equi).
  *
  * Scale posture (100 TB):
  *  - lineitem ⨝ orders is fact-to-fact: both scale with SF, so it must be
  *    a shuffle join on the order key. We leave the strategy to Catalyst +
  *    AQE (sort-merge or shuffled-hash as stats dictate); with bucketed
  *    storage on `*_orderkey` both sides co-locate and the shuffle
  *    disappears entirely — see [[materialize]].
  *  - customer / supplier / part also grow with SF, so they are NOT
  *    hard-broadcast; under the auto-broadcast threshold (any test SF)
  *    Catalyst broadcasts them, at cluster scale AQE falls back to shuffle
  *    joins with skew handling. Only bounded-cardinality dims (nation 25,
  *    region 5 rows) would ever be hint-broadcast, and the star doesn't
  *    need them.
  */
object Star {

  /** Lazy star plan: equivalent of the reference's `star` CTAS select
    * (`README.md:352-395`), 30 aliased columns. */
  def build(spark: SparkSession, dir: String): DataFrame = {
    val li   = Tables.lineitem(spark, dir)
    val ord  = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val prt  = Tables.part(spark, dir)

    li.join(ord, li("l_orderkey") === ord("o_orderkey"), "inner")
      .join(cust, ord("o_custkey") === cust("c_custkey"), "inner")
      .join(supp, li("l_suppkey") === supp("s_suppkey"), "inner")
      .join(prt, li("l_partkey") === prt("p_partkey"), "inner")
      .select(
        li("l_orderkey"), li("l_partkey"), li("l_suppkey"), li("l_linenumber"),
        li("l_quantity"), li("l_extendedprice"), li("l_discount"), li("l_tax"),
        li("l_returnflag"), li("l_linestatus"), li("l_shipdate"),
        ord("o_custkey"), ord("o_orderstatus"), ord("o_totalprice"),
        ord("o_orderdate"), ord("o_orderpriority"),
        cust("c_name"), cust("c_nationkey"), cust("c_acctbal"), cust("c_mktsegment"),
        supp("s_name"), supp("s_nationkey"), supp("s_acctbal"),
        prt("p_name"), prt("p_brand"), prt("p_type"), prt("p_size"),
        prt("p_retailprice"))
  }

  /** ANSI SQL equivalent of [[build]] for the DuckDB oracle (same join
    * chain and aliases). Splice into oracle queries as a FROM subquery. */
  val sql: String =
    """(SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
      |        l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax,
      |        l.l_returnflag, l.l_linestatus, l.l_shipdate,
      |        o.o_custkey, o.o_orderstatus, o.o_totalprice,
      |        o.o_orderdate, o.o_orderpriority,
      |        c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
      |        s.s_name, s.s_nationkey, s.s_acctbal,
      |        p.p_name, p.p_brand, p.p_type, p.p_size, p.p_retailprice
      | FROM lineitem l
      | INNER JOIN orders o ON l.l_orderkey = o.o_orderkey
      | INNER JOIN customer c ON o.o_custkey = c.c_custkey
      | INNER JOIN supplier s ON l.l_suppkey = s.s_suppkey
      | INNER JOIN part p ON l.l_partkey = p.p_partkey) star
      |""".stripMargin

  /** Table materialization — the reference's `materialized='table'` CTAS
    * (`README.md:256-262, 350`). At cluster scale, bucketing both fact
    * sides by order key makes every downstream star query shuffle-free on
    * that key; plain parquet is used for the fixture-scale path. */
  def materialize(spark: SparkSession, dir: String, out: String): Unit =
    build(spark, dir).write.mode("overwrite").parquet(out)

  /** The five tables the star joins — what its snapshots are
    * fingerprinted on in the [[CacheRegistry]]. */
  private val Sources = Seq("lineitem", "orders", "customer", "supplier", "part")

  /** One-per-session materialized star (the reference's `sources`-layer
    * snapshot flow, `README.md:256-258`): first use CTASes the star to a
    * scratch path, every later use reads the parquet back — downstream
    * queries run against the snapshot, not the five-way join. */
  def materializedPath(spark: SparkSession, dir: String): String =
    CacheRegistry.getOrBuild(spark, dir, "star", Sources: _*) {
      val out = s"${sys.props("java.io.tmpdir")}/graft_star_" +
        java.lang.Integer.toHexString(dir.hashCode)
      materialize(spark, dir, out)
      out
    }

  /** Year-partitioned star materialization: the layout that makes every
    * year-ranged downstream query PRUNE whole directories at the source
    * (PartitionFilters in the scan, zero IO for other years) — at
    * 100 TB, partition columns are the first-order data-skipping lever,
    * ahead of row-group stats. */
  def partitionedPath(spark: SparkSession, dir: String): String =
    CacheRegistry.getOrBuild(spark, dir, "starPartitioned", Sources: _*) {
      val out = s"${sys.props("java.io.tmpdir")}/graft_star_part_" +
        java.lang.Integer.toHexString(dir.hashCode)
      build(spark, dir)
        .withColumn("order_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("order_year").parquet(out)
      out
    }

  /** dbt `materialized='incremental'` re-expressed: the initial build
    * writes history (orderdate < split), a later incremental run appends
    * ONLY the new slice (orderdate ≥ split) — never rewriting history.
    * Readers see the union; `x_star_incremental`'s oracle recomputes
    * from the full join, so a pass proves incremental == full rebuild.
    * At 100 TB the append lands as date-partitioned files and each run
    * scans only the new source partitions (partition pruning on the
    * incremental filter). */
  private val IncSplit = "1996-01-01"
  def incrementalPath(spark: SparkSession, dir: String): String =
    CacheRegistry.getOrBuild(spark, dir, "starIncremental", Sources: _*) {
      val out = s"${sys.props("java.io.tmpdir")}/graft_star_inc_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val star = build(spark, dir)
      star.filter(to_date(col("o_orderdate")) < lit(IncSplit))
        .write.mode("overwrite").parquet(out) // initial (historical) build
      star.filter(to_date(col("o_orderdate")) >= lit(IncSplit))
        .write.mode("append").parquet(out)    // incremental run: new slice only
      out
    }
}
