package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global EXACT ascending `row_number` with no single-partition window
  * anywhere — the distributed total-order scan shared by the z-order
  * exact-ntile writer and the Gini/concentration rollups:
  *
  *  1. range-partition on the sort key (sampled-boundary exchange;
  *     partition-id order IS sort order),
  *  2. `row_number` within each partition (a PARTITIONED window),
  *  3. add per-partition rank offsets (one count per partition —
  *     driver-side bounded bookkeeping, the k-core histogram shape).
  *
  * Sampled boundaries decide only WHERE partitions split, never the
  * global rank, so the result is bit-identical to the oracle's global
  * `ROW_NUMBER()`. The input is `localCheckpoint`ed so the count pass
  * and the rank pass see the SAME partition ids (range boundaries are
  * sampled — two plans would disagree). Callers must pass a TOTAL
  * order (include a unique tie-break column), or tied rows would get
  * partition-dependent ranks.
  */
object ExactRank {

  /** Adds `rankCol` (1-based global ascending rank over `sortCols`)
    * to `df`; the result keeps the range partitioning. Also returns
    * the total row count (already known from the offset pass — free
    * for callers that need `n` alongside the ranks).
    *
    * The per-partition counts ride the checkpoint's own materializing
    * job ([[org.apache.spark.sql.GraftBridge.checkpoint]], r18
    * optimization round) — the previous
    * `groupBy(spark_partition_id)` pass cost one more whole job + a
    * width-sized cache scan per rank pass, pure fixed overhead for
    * callers that rank a frame several ways (`ev_rfm`'s three
    * quartiles). */
  def withRank(df: DataFrame, nPart: Int, sortCols: Seq[Column],
      rankCol: String): (DataFrame, Long) = {
    val ck = org.apache.spark.sql.GraftBridge.checkpoint(
      df.repartitionByRange(nPart, sortCols: _*))
    val (parted, pcounts) = (ck.frame, ck.partitionRows)
    val offsets = pcounts.scanLeft(0L)(_ + _).init
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.zipWithIndex
      .map { case (off, pid) => (pid, off) }.toSeq.toDF("pid", "off")
    val ranked = parted.withColumn("pid", spark_partition_id())
      .join(broadcast(offDf), "pid")
      .withColumn(rankCol, row_number()
        .over(Window.partitionBy(col("pid")).orderBy(sortCols: _*))
        .cast("long") + col("off"))
      .drop("pid", "off")
    (ranked, pcounts.sum)
  }

  /** Exact `NTILE(k)` bucket from a 1-based global rank over n rows —
    * the first (n mod k) buckets take one extra row (the SQL NTILE
    * contract), in pure integer arithmetic (`div`, no IEEE ceil — the
    * z-order layout writer's device, factored out for the other
    * exact-quantile consumers). `rankCol` must be a BIGINT column
    * produced by [[withRank]] (or any exact total-order rank). */
  def ntileFromRank(rankCol: String, n: Long, k: Int): Column = {
    val q = n / k
    val rem = n % k
    val big = q + 1
    if (q == 0) col(rankCol) // n < k: NTILE degenerates to the rank
    else when(col(rankCol) <= lit(rem * big),
        expr(s"($rankCol - 1) div $big + 1"))
      .otherwise(expr(s"$rem + ($rankCol - ${rem * big} - 1) div $q + 1"))
  }
}
