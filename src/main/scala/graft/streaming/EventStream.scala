package graft.streaming


import graft.operators.Stats
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType
import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming re-expression of the [[graft.operators.Events]]
  * batch operators: the same event-time windows and sessionization,
  * driven incrementally with watermarks and custom state.
  *
  * The fixture parquet doubles as a one-batch stream (file source), which
  * lets ScalaTest pin stream↔batch parity synchronously via the memory
  * sink — the same plan then runs against a real unbounded source
  * unchanged. Scale posture: windowed aggregation state is bounded by the
  * watermark horizon; session state is per-user and evicted on event-time
  * timeout.
  *
  * Large-state config: at production key cardinality, move keyed state
  * off the default HDFS-backed in-memory map with
  * `spark.sql.streaming.stateStore.providerClass =
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * (+ `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true`
  * for fast checkpoints); StreamingSpec runs the dedup flow under RocksDB
  * to pin provider-independent results. Backlog catch-up runs use
  * `Trigger.AvailableNow` — drain everything, then stop (also pinned).
  */
object EventStream {

  /** Event row as read from the fixture (ts rebuilt to µs precision). */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(startUs: Long, lastUs: Long, n: Long, total: Double)

  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, total_value: Double)

  private val GapUs: Long = 30L * 60 * 1000 * 1000

  /** Full-µs epoch from a Timestamp (getTime alone truncates sub-ms). */
  private def epochUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  /** Streaming scan of a DIRECTORY of event parquet files (the file
    * stream source requires a directory; new files appended to it become
    * new micro-batches — the production shape). */
  def readEvents(spark: SparkSession, eventsDir: String): DataFrame =
    graft.sources.Tables.eventsAt(spark, eventsDir)(
      batch => spark.readStream.schema(batch.schema).parquet(eventsDir))

  /** Streaming 6-hour tumbling windows per event type with a 1-day
    * watermark — the incremental form of `Events.tumbling`. */
  def windowedCounts(spark: SparkSession, eventsDir: String): DataFrame =
    readEvents(spark, eventsDir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"))

  /** Streaming daily approx-distinct users: a DataSketches HLL sketch
    * per day maintained incrementally in the state store — the
    * streaming twin of [[graft.operators.Pipeline.hllDaily]]'s per-day
    * tier. The interesting property (pinned by StreamingSpec): the
    * streamed estimates EQUAL the batch estimates exactly, because HLL
    * state is a register-max lattice — update order and micro-batch
    * partial/merge boundaries cannot change the converged sketch, the
    * same order-independence that makes the batch form deterministic
    * under any shuffle partitioning. At 100 TB the same query shape
    * holds: per-key sketch state is ~KB regardless of cardinality, and
    * the sink reads estimates without ever re-scanning raw events. */
  def dailyApproxUsers(spark: SparkSession, eventsDir: String): DataFrame =
    readEvents(spark, eventsDir)
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("est_users"))
      .select(to_date(col("window.start")).as("day"), col("est_users"))

  case class KmvState(sk: Seq[Long], n: Long)
  case class KmvDailyOut(event_type: String, day: Long, n_seen: Long,
      sk: Seq[Long])

  /** Streaming twin of the STORED KMV sketch table
    * ([[graft.operators.Events.kmvDailySketches]]) — the ingest half of
    * the warehouse sketch-table pattern: one bounded sketch per
    * (event_type, day) maintained incrementally in the state store,
    * emitted on every update; the sink upserts the latest row per key
    * and the batch rollup ([[graft.operators.Events.kmvRollupFromDaily]])
    * reads that table unchanged for arbitrary date-range merges.
    *
    * Bit-equality claim (pinned by StreamingSpec across MULTIPLE
    * micro-batches): the KMV sketch is a LATTICE — the set of the k
    * smallest DISTINCT hashes — so insertion order, duplicate
    * re-arrivals, and micro-batch boundaries cannot change the
    * converged state; the streamed table equals the batch aggregate
    * bit-for-bit, and therefore so does every rollup derived from it.
    * The hash stays Catalyst's `xxhash64`, computed BEFORE groupByKey,
    * so the state handler never re-implements it. State is ≤ k longs
    * per (type, day) key regardless of event volume — the 100 TB
    * property that makes the pattern viable as a stream. */
  def kmvDailyStream(spark: SparkSession, eventsDir: String,
      k: Int = 32768): Dataset[KmvDailyOut] = {
    import spark.implicits._
    val rows = readEvents(spark, eventsDir)
      .select(col("event_type"),
        expr("cast(unix_date(to_date(ts)) as bigint)").as("day"),
        xxhash64(col("user_id")).as("h"))
      .as[(String, Long, Long)]
    rows.groupByKey(r => (r._1, r._2))
      .mapGroupsWithState[KmvState, KmvDailyOut](GroupStateTimeout.NoTimeout()) {
        case ((tpe, day), it, state) =>
          val set = scala.collection.mutable.TreeSet.empty[Long]
          var n = state.getOption.map(_.n).getOrElse(0L)
          state.getOption.foreach(s => set ++= s.sk)
          it.foreach { case (_, _, h) =>
            n += 1
            if (set.size < k) set += h
            // the contains-guard matters: += on a present member is a
            // no-op and the -= would then evict the true max
            else if (h < set.last && !set.contains(h)) {
              set += h; set -= set.last
            }
          }
          val arr = set.toSeq
          state.update(KmvState(arr, n))
          // n_seen is exact processed-row telemetry; its max marks the
          // key's LAST emission in an update-mode sink
          KmvDailyOut(tpe, day, n, arr)
      }
  }

  /** Stream-static enrichment: the event stream joined to a static
    * dimension (broadcast per micro-batch; the static side may be
    * refreshed between batches). Spark plans this with no stream-side
    * state — the standard pattern for attaching slowly-changing
    * dimensions to a firehose. */
  def enriched(spark: SparkSession, eventsDir: String, fixtureDir: String): DataFrame = {
    val dim = graft.sources.Tables.customer(spark, fixtureDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    readEvents(spark, eventsDir).join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"), col("c_mktsegment"))
  }

  /** Parquet sink via foreachBatch: per-micro-batch atomic append with
    * the batch id available for idempotent writes. */
  def sinkToParquet(df: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .start()

  /** Stream-stream interval self-join: each click joined to the same
    * user's purchases landing within the hour after it. Watermarks on
    * BOTH sides plus the two-sided time-range condition let Spark bound
    * the join state — a click's buffered row is evicted once the
    * purchase watermark passes click_ts + 1 h, so state never grows
    * with stream length (the unbounded-join hazard). Inner join ⇒ rows
    * emit as soon as both sides arrive; StreamingSpec pins parity with
    * the identical batch join. */
  def clickPurchaseJoin(spark: SparkSession, eventsDir: String,
      joinType: String = "inner"): DataFrame = {
    val clicks = readEvents(spark, eventsDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = readEvents(spark, eventsDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    // leftOuter: an unmatched click emits its null-padded row only once
    // the purchase watermark proves no match can still arrive — the
    // outer result is watermark-DELAYED, not wrong-then-retracted
    clicks.join(purchases,
        col("user_id") === col("purchase_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select(col("click_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        col("purchase_id"), unix_micros(col("purchase_ts")).as("purchase_us"),
        col("value"))
  }

  /** Streaming dedup: first event per (user_id, event_type) key, with
    * state bounded by the watermark — the incremental form of exact
    * dedup for unbounded ingestion. */
  def dedupFirstPerUserType(spark: SparkSession, eventsDir: String): DataFrame =
    readEvents(spark, eventsDir)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"))

  case class FunnelState(t1: Long, t2: Long, t3: Long)
  case class FunnelOut(user_id: Long, level: Long)

  private val FunnelWindowUs: Long = 7L * 24 * 3600 * 1000 * 1000

  /** Streaming windowFunnel: the incremental twin of
    * [[graft.operators.Events.funnelSteps]]. Per-user state holds the
    * (t1, t2, t3) step minima of the view → click → purchase chain
    * (strict ordering, 7-day window anchored at the first view); each
    * micro-batch folds its new events in event-time order through the
    * same acceptance rules the batch form's min-anchored algebra
    * implies, and emits the user's current deepest level (Update mode).
    * State is three longs per user — bounded, RocksDB-friendly — where
    * ClickHouse's windowFunnel buffers a per-user event list.
    * StreamingSpec pins the final level histogram equal to the batch
    * query's. Late data: events are folded when they arrive; an event
    * older than an already-anchored step cannot retroactively lower it
    * (the batch form would), which is the standard funnel-state trade —
    * bound it with a watermark-sized replay in the landing zone. */
  def funnelLevels(spark: SparkSession, eventsDir: String): Dataset[FunnelOut] = {
    import spark.implicits._
    val evs = readEvents(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[FunnelState]) =>
          var FunnelState(t1, t2, t3) =
            state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          it.toSeq.sortBy(e => (epochUs(e.ts), e.event_id)).foreach { e =>
            val ts = epochUs(e.ts)
            e.event_type match {
              case "view" if t1 < 0 => t1 = ts
              case "click" if t1 >= 0 && t2 < 0 &&
                ts > t1 && ts <= t1 + FunnelWindowUs => t2 = ts
              case "purchase" if t2 >= 0 && t3 < 0 &&
                ts > t2 && ts <= t1 + FunnelWindowUs => t3 = ts
              case _ =>
            }
          }
          state.update(FunnelState(t1, t2, t3))
          FunnelOut(user,
            if (t3 >= 0) 3L else if (t2 >= 0) 2L else if (t1 >= 0) 1L else 0L)
      }
  }

  case class SeqCountState(st: Int, cnt: Long)
  case class SeqCountOut(user_id: Long, n_matches: Long)

  /** Streaming `sequenceCount` (greedy restart semantics): the
    * incremental twin of
    * [[graft.operators.Events.sequenceCountGreedy]]. The whole per-user
    * state is the two-state DFA — ONE int (looking-for-view /
    * looking-for-click) plus the match count — versus ClickHouse's
    * buffered per-user event list; each micro-batch folds its events in
    * event-time order through the same transition rules and emits the
    * user's current count (Update mode). StreamingSpec pins the final
    * counts equal to the batch fold's. Same late-data trade as
    * [[funnelLevels]]: an out-of-order event arriving across
    * micro-batch boundaries folds at arrival position. */
  def sequenceCounts(spark: SparkSession, eventsDir: String): Dataset[SeqCountOut] = {
    import spark.implicits._
    val evs = readEvents(spark, eventsDir)
      .filter(col("event_type").isin("view", "click"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[SeqCountState, SeqCountOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[SeqCountState]) =>
          var SeqCountState(st, cnt) =
            state.getOption.getOrElse(SeqCountState(0, 0L))
          it.toSeq.sortBy(e => (epochUs(e.ts), e.event_id)).foreach { e =>
            if (st == 0 && e.event_type == "view") st = 1
            else if (st == 1 && e.event_type == "click") { st = 0; cnt += 1 }
          }
          state.update(SeqCountState(st, cnt))
          SeqCountOut(user, cnt)
      }
  }

  case class SeqNegState(v1: Long, v2: Long, v3: Long, matched: Boolean)
  case class SeqNegOut(user_id: Long, matched: Boolean)

  /** Streaming `sequenceMatch` with gap negations: the incremental twin
    * of [[graft.operators.Events.sequenceMatchNeg]] (default pattern
    * view (?!purchase) click (?!view) purchase). Per-user state is the
    * LATEST admissible completion time per prefix length — three longs
    * plus the sticky matched bit, versus ClickHouse's buffered per-user
    * event list. The fold applies the batch form's exact rule set:
    * a step event at time T extends prefix k iff prefix k−1 completed
    * strictly before T and was not poisoned; a negated-type event at T
    * invalidates any prefix whose completion is ≤ T (the same half-open
    * `[step, next)` tie convention the batch RANGE(−1µs) windows
    * implement — simultaneous events in one micro-batch are folded per
    * distinct timestamp against the PRE-timestamp state, so intra-batch
    * ties resolve identically to the batch windows). StreamingSpec pins
    * the final matched set equal to the batch query's. Same late-data
    * trade as [[funnelLevels]]: an out-of-order event folds at arrival. */
  def sequenceMatchNeg(spark: SparkSession, eventsDir: String): Dataset[SeqNegOut] = {
    import spark.implicits._
    val evs = readEvents(spark, eventsDir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[SeqNegState, SeqNegOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[SeqNegState]) =>
          var SeqNegState(v1, v2, v3, matched) =
            state.getOption.getOrElse(SeqNegState(-1L, -1L, -1L, false))
          it.toSeq.sortBy(e => (epochUs(e.ts), e.event_id))
            .groupBy(e => epochUs(e.ts)).toSeq.sortBy(_._1)
            .foreach { case (ts, group) =>
              // extensions read the state as of strictly-earlier time
              val (o1, o2, o3) = (v1, v2, v3)
              group.foreach { e =>
                e.event_type match {
                  case "view"     => v1 = ts
                  case "click"    => if (o1 >= 0) v2 = ts
                  case "purchase" => if (o2 >= 0) v3 = ts
                  case _ =>
                }
              }
              // negations poison prefixes completed at or before ts
              group.foreach { e =>
                e.event_type match {
                  case "purchase" => if (v1 >= 0 && v1 <= ts) v1 = -1L
                  case "view"     => if (v2 >= 0 && v2 <= ts) v2 = -1L
                  case _ =>
                }
              }
              if (v3 >= 0) matched = true
            }
          state.update(SeqNegState(v1, v2, v3, matched))
          SeqNegOut(user, matched)
      }
  }

  case class FunnelDedupState(lv: Long, a: Long, t: Long, done: Boolean)
  case class FunnelDedupOut(user_id: Long, level: Long)

  /** Streaming `windowFunnel('strict_dedup')`: the incremental twin of
    * [[graft.operators.Events.funnelDedup]]. The batch form's
    * break-on-repeat DFA state is four scalars per user — level,
    * anchor, last-step time, broken bit — folded with the identical
    * rule set per micro-batch in (time, id) order; emits the user's
    * current level (Update mode). StreamingSpec pins the final level
    * histogram equal to the batch query's. Same late-data trade as
    * [[funnelLevels]]. */
  def funnelDedupLevels(spark: SparkSession, eventsDir: String): Dataset[FunnelDedupOut] = {
    import spark.implicits._
    val W = 7L * 24 * 3600 * 1000000L
    val evs = readEvents(spark, eventsDir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelDedupState, FunnelDedupOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[FunnelDedupState]) =>
          var FunnelDedupState(lv, a, t, done) =
            state.getOption.getOrElse(FunnelDedupState(0L, 0L, 0L, false))
          it.toSeq.sortBy(e => (epochUs(e.ts), e.event_id)).foreach { e =>
            val us = epochUs(e.ts)
            val sym = e.event_type match {
              case "view" => 0L; case "click" => 1L; case _ => 2L
            }
            if (!done && lv < 3) {
              if (lv == 0) { if (sym == 0) { lv = 1; a = us; t = us } }
              else if (sym == lv && us > t && us <= a + W) { lv += 1; t = us }
              else if (sym < lv) done = true
            }
          }
          state.update(FunnelDedupState(lv, a, t, done))
          FunnelDedupOut(user, lv)
      }
  }

  case class SeqTimedState(v1: Long, v2: Long, matched: Boolean)
  case class SeqTimedOut(user_id: Long, matched: Boolean)

  /** Streaming `sequenceMatch` with pairwise time constraints: the
    * incremental twin of
    * [[graft.operators.Events.sequenceMatchTimed]] (default
    * view →(≤1h)→ click →(≤24h)→ purchase). Per-user state is the
    * LATEST admissible completion time per prefix — two longs plus the
    * sticky matched bit — because an upper-bound gap constraint is
    * monotone in the prefix time (the batch form's own argument).
    * Intra-batch simultaneous events fold per distinct timestamp
    * against the PRE-timestamp state, reproducing the batch
    * RANGE(−1µs) strictly-before convention. StreamingSpec pins the
    * matched set equal to the batch query's. Same late-data trade as
    * [[funnelLevels]]. */
  def sequenceMatchTimed(spark: SparkSession, eventsDir: String,
      g1Us: Long = 3600000000L, g2Us: Long = 86400000000L): Dataset[SeqTimedOut] = {
    import spark.implicits._
    val evs = readEvents(spark, eventsDir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[SeqTimedState, SeqTimedOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[SeqTimedState]) =>
          var SeqTimedState(v1, v2, matched) =
            state.getOption.getOrElse(SeqTimedState(-1L, -1L, false))
          it.toSeq.sortBy(e => (epochUs(e.ts), e.event_id))
            .groupBy(e => epochUs(e.ts)).toSeq.sortBy(_._1)
            .foreach { case (ts, group) =>
              // extensions read the state as of strictly-earlier time
              val (o1, o2) = (v1, v2)
              group.foreach { e =>
                e.event_type match {
                  case "view"     => v1 = ts
                  case "click"    => if (o1 >= 0 && o1 >= ts - g1Us) v2 = ts
                  case "purchase" => if (o2 >= 0 && o2 >= ts - g2Us) matched = true
                  case _ =>
                }
              }
            }
          state.update(SeqTimedState(v1, v2, matched))
          SeqTimedOut(user, matched)
      }
  }

  case class IvState(curStart: Long, maxEnd: Long, islands: Long,
      closedUs: Long, n: Long)
  case class IvOut(user_id: Long, active_us: Long, n_islands: Long,
      n_events: Long)

  /** Streaming `intervalLengthSum`: the incremental twin of
    * [[graft.operators.Events.intervalUnion]]. Per-user state is FIVE
    * longs — current island start, running max end, island count,
    * union-µs of CLOSED islands, event count — versus the batch form's
    * full gaps-and-islands window pass. Each emitted row reports the
    * union INCLUDING the still-open island, so the final row equals the
    * batch answer; the batch rule set folds verbatim (a window starting
    * strictly after the running max end opens a new island; touching
    * merges). Same late-data trade as [[funnelLevels]]: an out-of-order
    * event folds at arrival. */
  def intervalUnion(spark: SparkSession, eventsDir: String): Dataset[IvOut] = {
    import spark.implicits._
    val winUs = 300000000L
    val evs = readEvents(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .mapGroupsWithState[IvState, IvOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[IvState]) =>
          var s = state.getOption.getOrElse(IvState(-1L, -1L, 0L, 0L, 0L))
          it.toSeq.sortBy(e => (epochUs(e.ts), e.event_id)).foreach { e =>
            val t0 = epochUs(e.ts)
            val t1 = t0 + winUs
            if (s.islands == 0) s = IvState(t0, t1, 1L, 0L, s.n + 1)
            else if (t0 > s.maxEnd)
              s = IvState(t0, t1, s.islands + 1,
                s.closedUs + (s.maxEnd - s.curStart), s.n + 1)
            else s = s.copy(maxEnd = math.max(s.maxEnd, t1), n = s.n + 1)
          }
          state.update(s)
          val open = if (s.islands == 0) 0L else s.maxEnd - s.curStart
          IvOut(user, s.closedUs + open, s.islands, s.n)
      }
  }

  /** Custom-state sessionization with `flatMapGroupsWithState`: emits a
    * session whenever a ≥30-min gap closes it; the trailing open session
    * per user is held in state and flushed by event-time timeout. */
  def sessionize(spark: SparkSession, eventsDir: String): Dataset[SessionOut] = {
    import spark.implicits._
    val evs = readEvents(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .withWatermark("ts", "1 day")
      .as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.startUs, s.lastUs + GapUs, s.n, s.total))
          } else {
            // per-user batch must be processed in event-time order
            val sorted = it.toSeq.sortBy(e => (epochUs(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val us = epochUs(e.ts)
              cur match {
                case Some(s) if us < s.lastUs + GapUs =>
                  cur = Some(SessionState(s.startUs, us, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += SessionOut(user, s.startUs, s.lastUs + GapUs, s.n, s.total)
                  cur = Some(SessionState(us, us, 1, e.value))
                case None =>
                  cur = Some(SessionState(us, us, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastUs / 1000 + GapUs / 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** An event as the daily folds read it: `us` and `event_id` order the
    * fold; `day` (`unix_micros div day`) and `u` (the batch
    * `DECIMAL(38,6)` value scaled to exact BIGINT µ-units) are the
    * expressions `Events.deltaSumDaily` and `Events.emaDaily` reduce,
    * projected before `groupByKey` so the fold never re-implements them. */
  case class DailyEv(event_type: String, us: Long, event_id: Long, day: Long,
      u: Long)

  private def dailyEvents(spark: SparkSession,
      eventsDir: String): Dataset[DailyEv] = {
    import spark.implicits._
    readEvents(spark, eventsDir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast(DecimalType(38, 6)) * lit(1000000)).cast("long")
          .as("u"))
      .as[DailyEv]
  }

  case class DeltaState(openDay: Long, openRevU: Long, firstDay: Long,
      hasClosed: Boolean, lastClosedRevU: Long, firstRevU: Long,
      deltaSumU: Long, nClosed: Long)
  case class DeltaOut(event_type: String, n_days: Long, delta_sum: Double,
      first_rev: Double, last_rev: Double, rate_per_day: Option[Double])

  /** Streaming `deltaSum` + `boundingRatio`: the incremental twin of
    * [[graft.operators.Events.deltaSumDaily]]. Per-TYPE state is eight
    * longs — the open day's accumulating µ-unit revenue, the last
    * CLOSED day's revenue (the lag the positive-delta rule needs), the
    * first day/revenue, the running positive-delta sum, and the closed
    * day count — versus the batch form's full (type, day) rollup + lag
    * window. A day closes when a later day's first event arrives; each
    * emitted row treats the still-open day as final, so the last update
    * equals the batch answer. All arithmetic is exact µ-unit integers
    * (headroom: Σ|deltas| < 2^53 through the ×100 tier) with the same
    * single correctly-rounded double ops as the batch tail, so parity
    * is bit-exact. Ordered fold ⇒ same late-data trade as
    * [[funnelLevels]]: an event for an already-closed day folds into
    * the OPEN day at arrival; bound it with a watermark-sized replay. */
  def deltaSums(spark: SparkSession, eventsDir: String): Dataset[DeltaOut] = {
    import spark.implicits._
    dailyEvents(spark, eventsDir).groupByKey(_.event_type)
      .mapGroupsWithState[DeltaState, DeltaOut](GroupStateTimeout.NoTimeout()) {
        (tpe: String, it: Iterator[DailyEv], state: GroupState[DeltaState]) =>
          var s = state.getOption.getOrElse(
            DeltaState(Long.MinValue, 0L, 0L, hasClosed = false, 0L, 0L, 0L, 0L))
          def close(): Unit = {
            if (s.hasClosed) {
              val d = s.openRevU - s.lastClosedRevU
              s = s.copy(deltaSumU = s.deltaSumU + math.max(0L, d))
            } else s = s.copy(firstRevU = s.openRevU, hasClosed = true)
            s = s.copy(lastClosedRevU = s.openRevU, nClosed = s.nClosed + 1)
          }
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            if (s.openDay == Long.MinValue)
              s = s.copy(openDay = e.day, openRevU = e.u, firstDay = e.day)
            else if (e.day > s.openDay) {
              close()
              s = s.copy(openDay = e.day, openRevU = e.u)
            } else s = s.copy(openRevU = s.openRevU + e.u) // same or late day
          }
          state.update(s)
          val closingDelta =
            if (s.hasClosed) math.max(0L, s.openRevU - s.lastClosedRevU) else 0L
          val firstU = if (s.hasClosed) s.firstRevU else s.openRevU
          val span = s.openDay - s.firstDay
          DeltaOut(tpe, s.nClosed + 1,
            (s.deltaSumU + closingDelta).toDouble / 1e6,
            firstU.toDouble / 1e6, s.openRevU.toDouble / 1e6,
            if (span > 0)
              Some(((s.openRevU - firstU).toDouble / 1e6) / span.toDouble)
            else None)
      }
  }

  case class EmaDay(day: Long, revU: Long)
  case class EmaState(openDay: Long, openRevU: Long, window: List[EmaDay])
  case class EmaOut(event_type: String, day: Long, ema: Double, n_terms: Long)

  /** Streaming `exponentialMovingAverage`: the incremental twin of
    * [[graft.operators.Events.emaDaily]] with the same EXACT dyadic
    * weights (2^−gap over the trailing 16 observed-or-not calendar
    * days). Per-TYPE state is the open day's accumulating µ-unit
    * revenue plus at most 16 closed (day, revµ) pairs — the trailing
    * band — versus the batch form's 16-offset fan-out join. When a
    * later day's first event closes the open day, the closed day's EMA
    * row is emitted from pure BIGINT numerator/denominator sums and one
    * correctly-rounded double division, bit-equal to the batch row; the
    * final open day per type never closes (its EMA would still move),
    * which is the one row the parity spec excludes. Same late-data
    * trade as [[funnelLevels]]. */
  def emaStream(spark: SparkSession, eventsDir: String): Dataset[EmaOut] = {
    import spark.implicits._
    dailyEvents(spark, eventsDir).groupByKey(_.event_type)
      .flatMapGroupsWithState[EmaState, EmaOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, it: Iterator[DailyEv], state: GroupState[EmaState]) =>
          var s = state.getOption.getOrElse(EmaState(Long.MinValue, 0L, Nil))
          val out = Seq.newBuilder[EmaOut]
          def close(): Unit = {
            val d = s.openDay
            val terms = EmaDay(d, s.openRevU) ::
              s.window.filter(_.day >= d - 15)
            var numer = 0L; var denom = 0L
            terms.foreach { t =>
              val w = 1L << (15 - (d - t.day).toInt)
              numer += t.revU * w; denom += w
            }
            out += EmaOut(tpe, d, numer.toDouble / denom.toDouble, terms.size.toLong)
            s = s.copy(window = EmaDay(d, s.openRevU) :: s.window)
          }
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            if (s.openDay == Long.MinValue) s = s.copy(openDay = e.day, openRevU = e.u)
            else if (e.day > s.openDay) {
              close()
              s = EmaState(e.day, e.u, s.window.filter(_.day >= e.day - 15))
            } else s = s.copy(openRevU = s.openRevU + e.u) // same or late day
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** Streaming EXACT dedup — the incremental twin of `dedup_exact`'s
    * id tier: `dropDuplicatesWithinWatermark` keeps one state row per
    * event id and EVICTS it once the watermark passes, so the dedup
    * state is bounded by the (delay × arrival-rate) window instead of
    * growing with the stream — the production shape for at-least-once
    * ingestion (replayed files, retried producers) where duplicates
    * cluster near each other in event time. Downstream the deduped
    * stream feeds an ordinary per-type count; StreamingSpec replays
    * the fixture TWICE into the landing zone and pins the result equal
    * to the single-copy batch counts. */
  def dedupedTypeCounts(spark: SparkSession, eventsDir: String): DataFrame =
    readEvents(spark, eventsDir)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))

  // ------------------------------------------------------------------
  // Streaming statistical-test twins (incremental forms of the batch
  // Stats keys)
  // ------------------------------------------------------------------

  /** Streaming `welchTTest`: [[graft.operators.Stats.welchTTestOf]] run
    * on the event stream (update mode). Per-weekday state is the six
    * BIGINT moments of its one aggregate — order-free integer addition,
    * so no sort and no event buffering — and every update row goes
    * through the batch tail itself, so the last row per weekday IS the
    * batch answer. The state never grows with the stream — the
    * production shape for a continuously-monitored A/B metric. */
  def welchStream(spark: SparkSession, eventsDir: String): DataFrame =
    Stats.welchTTestOf(readEvents(spark, eventsDir))

  /** Streaming twin of `ev_student_ttest`:
    * [[graft.operators.Stats.studentTTestOf]] run on the event stream,
    * over the same six-BIGINT moment state as [[welchStream]]. */
  def studentStream(spark: SparkSession, eventsDir: String): DataFrame =
    Stats.studentTTestOf(readEvents(spark, eventsDir))

  case class RankState(m: Map[Long, (Long, Long)])

  /** The count-map twin shape shared by the rank-sum, KS and JSD keys.
    * Per-WEEKDAY state is a (cents value → per-arm counts) map over the
    * rows of [[graft.operators.Stats.twoArm]] — the batch keys' own
    * projection, so weekday and cents are never re-typed here — bounded
    * by the VALUE DOMAIN rather than the stream length. That count map
    * is what makes rank statistics incremental at all (ranks themselves
    * are non-mergeable); streaming admits one aggregation per query,
    * so the batch counts-then-window plan cannot run as a stream.
    * Every update hands the weekday and its whole map to `tail`, the
    * key's own exact-integer walk and IEEE chain. */
  private def armCountTwin[O <: Product : TypeTag](spark: SparkSession,
      eventsDir: String)(tail: (Long, Map[Long, (Long, Long)]) => O): Dataset[O] = {
    import spark.implicits._
    Stats.twoArm(readEvents(spark, eventsDir)).as[(Long, Long, Boolean)]
      .groupByKey(_._1)
      .mapGroupsWithState[RankState, O](GroupStateTimeout.NoTimeout()) {
        (wd: Long, it: Iterator[(Long, Long, Boolean)],
            state: GroupState[RankState]) =>
          var m = state.getOption.map(_.m).getOrElse(Map.empty[Long, (Long, Long)])
          it.foreach { case (_, c, isP) =>
            val (a, b) = m.getOrElse(c, (0L, 0L))
            m = m.updated(c, if (isP) (a + 1, b) else (a, b + 1))
          }
          state.update(RankState(m))
          tail(wd, m)
      }
  }

  case class RankOut(wd: Long, n_purchase: Long, n_view: Long,
      u1: Double, z: Option[Double], auc: Option[Double])

  /** Streaming rank-sum core: the incremental twin of the batch
    * `ev_mannwhitney` AND `ev_roc_auc` keys (one state serves both —
    * they share `Stats`' rankSumCore). Every update replays the
    * doubled-rank walk over the sorted map: 2R₁/2U₁/tie cubic sum stay
    * exact BIGINTs and the z / AUC tails are the batch's fixed IEEE
    * chains, so final rows are bit-equal to both batch keys. A value
    * domain too large to bound (true continuous scores) is the
    * documented limit — there the batch counts-then-window form is the
    * scalable path. */
  def rankStatsStream(spark: SparkSession, eventsDir: String): Dataset[RankOut] =
    armCountTwin[RankOut](spark, eventsDir) { (wd, m) =>
      var n1 = 0L; var n2 = 0L; var twoR1 = 0L; var tiesum = 0L
      var less = 0L
      m.toSeq.sortBy(_._1).foreach { case (_, (c1, c2)) =>
        val ct = c1 + c2
        twoR1 += c1 * (2L * less + ct + 1L)
        tiesum += ct * ct * ct - ct
        n1 += c1; n2 += c2; less += ct
      }
      val n = n1 + n2
      val twoU1 = twoR1 - n1 * (n1 + 1L)
      val varu = if (n1 > 0 && n2 > 0 && n > 1)
        Some(n1.toDouble * n2.toDouble / 12.0 *
          ((n.toDouble + 1.0) -
            tiesum.toDouble / (n.toDouble * (n.toDouble - 1.0)))) else None
      RankOut(wd, n1, n2,
        twoU1.toDouble / 2.0,
        varu.filter(_ > 0).map(v =>
          (twoU1 - n1 * n2).toDouble / (2.0 * math.sqrt(v))),
        if (n1 > 0 && n2 > 0)
          Some(twoU1.toDouble / (2.0 * (n1 * n2).toDouble)) else None)
    }

  case class KsOut(wd: Long, n_purchase: Long, n_view: Long,
      d_stat: Option[Double], ks_stat: Option[Double])

  /** Streaming twin of `ev_ks_test` over the shared count map: each
    * update replays the cumulative walk — D·n₁n₂ stays an exact BIGINT
    * max — and the two-double tail lands bit-equal to the batch key. */
  def ksStream(spark: SparkSession, eventsDir: String): Dataset[KsOut] =
    armCountTwin[KsOut](spark, eventsDir) { (wd, m) =>
      val n1 = m.values.map(_._1).sum
      val n2 = m.values.map(_._2).sum
      var cum1 = 0L; var cum2 = 0L; var dmax = 0L
      m.toSeq.sortBy(_._1).foreach { case (_, (a, b)) =>
        cum1 += a; cum2 += b
        dmax = math.max(dmax, math.abs(cum1 * n2 - cum2 * n1))
      }
      val ok = n1 > 0 && n2 > 0
      val dStat = if (ok) Some(dmax.toDouble / (n1 * n2).toDouble) else None
      KsOut(wd, n1, n2, dStat,
        if (ok) Some(
          math.sqrt(n1.toDouble * n2.toDouble / (n1.toDouble + n2.toDouble)) *
            (dmax.toDouble / (n1 * n2).toDouble)) else None)
    }

  case class JsdOut(wd: Long, n_purchase: Long, n_view: Long,
      jsd_bits: Option[Double])

  /** Streaming twin of `ev_js_divergence` over the shared count map:
    * each update replays the exact T_P/T_Q integer cores with
    * [[graft.functions.FixedLog2.l2Long]] and the 4-op IEEE tail —
    * bit-equal to the batch key. */
  def jsdStream(spark: SparkSession, eventsDir: String): Dataset[JsdOut] = {
    import graft.functions.FixedLog2.l2Long
    armCountTwin[JsdOut](spark, eventsDir) { (wd, m) =>
      val n1 = m.values.map(_._1).sum
      val n2 = m.values.map(_._2).sum
      val ok = n1 > 0 && n2 > 0
      val jsd = if (!ok) None else {
        val tw = 2L * n1 * n2
        var tp = BigInt(0); var tq = BigInt(0)
        m.values.foreach { case (a, b) =>
          val marg = a * n2 + b * n1
          if (a > 0)
            tp += BigInt(a) * (l2Long(a) + l2Long(tw) - l2Long(n1) - l2Long(marg))
          if (b > 0)
            tq += BigInt(b) * (l2Long(b) + l2Long(tw) - l2Long(n2) - l2Long(marg))
        }
        Some((tp.toLong.toDouble / n1.toDouble +
          tq.toLong.toDouble / n2.toDouble) / 2097152.0)
      }
      JsdOut(wd, n1, n2, jsd)
    }
  }

  case class TuState(m: Map[String, Long])

  /** The contingency twin shape shared by the χ² and Theil's U keys: ONE
    * global state, the (event type × weekday) count map over the rows of
    * [[graft.operators.Stats.typeWeekday]] — the batch grid's own axes —
    * bounded by both grids' value domains (≤ a few dozen cells). The
    * map key is the encoded "type:wd" string (Spark state encoders don't
    * take tuple map keys). Every update hands the whole map to `tail`. */
  private def contingencyTwin[O <: Product : TypeTag](spark: SparkSession,
      eventsDir: String)(tail: Map[String, Long] => O): Dataset[O] = {
    import spark.implicits._
    Stats.typeWeekday(readEvents(spark, eventsDir)).as[(String, Long)]
      .groupByKey(_ => 0)
      .mapGroupsWithState[TuState, O](GroupStateTimeout.NoTimeout()) {
        (_: Int, it: Iterator[(String, Long)], state: GroupState[TuState]) =>
          var m = state.getOption.map(_.m).getOrElse(Map.empty[String, Long])
          it.foreach { case (tpe, wd) =>
            val key = s"$tpe:$wd"
            m = m.updated(key, m.getOrElse(key, 0L) + 1L)
          }
          state.update(TuState(m))
          tail(m)
      }
  }

  case class CramersOut(n: Long, chi2: Double, dof: Long,
      cramers_v: Option[Double])
  case class ContingencyOut(n: Long, chi2: Double,
      contingency_c: Option[Double], cramers_v_corr: Option[Double])

  /** Shared replay of the batch `chiSqStats` core from the global
    * contingency count map: the quantized-χ² sum over the COMPLETED
    * grid (zero cells included, as the batch cross join does), each
    * term the identical truncating BigInt step. Returns
    * (n, nr, nc, chi2_micro). */
  private def chiSqReplay(m: Map[String, Long]): (Long, Long, Long, Long) = {
    val cells = m.toSeq.map { case (k, o) =>
      val i = k.lastIndexOf(':')
      (k.substring(0, i), k.substring(i + 1), o)
    }
    val r = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val c = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val n = cells.map(_._3).sum
    var chi2Micro = 0L
    r.foreach { case (tk, rv) =>
      c.foreach { case (wk, cv) =>
        val o = m.getOrElse(s"$tk:$wk", 0L)
        // Lift BEFORE multiplying: o·n and rv·cv overflow Long past
        // n ≈ 3·10⁹, and the batch core carries this very product in
        // DECIMAL(38,0) — a Long intermediate would silently break
        // the documented bit-equality at that scale.
        val num = BigInt(o) * n - BigInt(rv) * cv
        chi2Micro += ((num * num * 1000000) /
          (BigInt(n) * rv * cv)).toLong
      }
    }
    (n, r.size.toLong, c.size.toLong, chi2Micro)
  }

  /** Streaming twin of `ev_cramers_v`: the global contingency count
    * map, replaying the quantized-χ² core per update; bit-equal to the
    * batch key. */
  def cramersVStream(spark: SparkSession, eventsDir: String): Dataset[CramersOut] =
    contingencyTwin[CramersOut](spark, eventsDir) { m =>
      val (n, nr, nc, chi2Micro) = chiSqReplay(m)
      CramersOut(n, chi2Micro.toDouble / 1e6, (nr - 1) * (nc - 1),
        if (n > 0 && math.min(nr, nc) > 1)
          Some(math.sqrt((chi2Micro.toDouble / 1e6) /
            (n.toDouble * (math.min(nr, nc).toDouble - 1.0))))
        else None)
    }

  /** Streaming twin of `ev_contingency` (Pearson's C + bias-corrected
    * Cramér's V): same global count-map state, then the Bergsma tail —
    * bit-equal to the batch key. */
  def contingencyStream(spark: SparkSession, eventsDir: String): Dataset[ContingencyOut] =
    contingencyTwin[ContingencyOut](spark, eventsDir) { m =>
      val (n, nr, nc, chi2Micro) = chiSqReplay(m)
      val chi2 = chi2Micro.toDouble / 1e6
      val phi2 = chi2 / n.toDouble
      val phi2c = math.max(0.0, phi2 -
        (nr.toDouble - 1.0) * (nc.toDouble - 1.0) / (n.toDouble - 1.0))
      val nrc = nr.toDouble -
        (nr.toDouble - 1.0) * (nr.toDouble - 1.0) / (n.toDouble - 1.0)
      val ncc = nc.toDouble -
        (nc.toDouble - 1.0) * (nc.toDouble - 1.0) / (n.toDouble - 1.0)
      ContingencyOut(n, chi2,
        if (n > 0) Some(math.sqrt(chi2 / (chi2 + n.toDouble))) else None,
        if (n > 1 && math.min(nrc, ncc) > 1)
          Some(math.sqrt(phi2c / (math.min(nrc, ncc) - 1.0))) else None)
    }

  case class EntEv(event_type: String, k: Option[Long])
  case class EntState(m: Map[Long, Long])
  case class EntOut(event_type: String, n: Long, n_values: Long,
      h_bits: Double)

  /** Null-k sentinel: the batch key groups a NULL extraction as its
    * own cell; no real k collides with MinValue. */
  private val NullK: Long = Long.MinValue

  /** Streaming twin of `ev_entropy`: per-type state is the (k → count)
    * map — bounded by the JSON field's VALUE DOMAIN, the same
    * count-map device as [[rankStatsStream]]. Each update recomputes
    * h = Σ c·(L2(n) − L2(c)) / (n·2²⁰) with
    * [[graft.functions.FixedLog2.l2Long]] — the JVM twin of the SQL
    * integer log — so the final row is BIT-EQUAL to the batch key
    * (integer core + one correctly-rounded division, no libm in
    * either engine). */
  def entropyStream(spark: SparkSession, eventsDir: String): Dataset[EntOut] = {
    import spark.implicits._
    import graft.functions.FixedLog2
    val evs = readEvents(spark, eventsDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .as[EntEv]
    evs.groupByKey(_.event_type)
      .mapGroupsWithState[EntState, EntOut](GroupStateTimeout.NoTimeout()) {
        (t: String, it: Iterator[EntEv], state: GroupState[EntState]) =>
          var m = state.getOption.map(_.m).getOrElse(Map.empty[Long, Long])
          it.foreach { e =>
            val key = e.k.getOrElse(NullK)
            m = m.updated(key, m.getOrElse(key, 0L) + 1L)
          }
          state.update(EntState(m))
          val n = m.values.sum
          val sh = m.values
            .map(c => BigInt(c) * (FixedLog2.l2Long(n) - FixedLog2.l2Long(c)))
            .sum
          EntOut(t, n, m.size.toLong,
            sh.toLong.toDouble / (n * FixedLog2.Unit).toDouble)
      }
  }

  case class TuOut(n: Long, h_type: Double, h_wd: Double, mi_bits: Double,
      theils_u: Option[Double], theils_u_rev: Option[Double])

  /** Streaming twin of `ev_theils_u`: the global contingency count map;
    * each update replays the exact integer cores S_I / S_HX / S_HY with
    * [[graft.functions.FixedLog2.l2Long]] and emits the batch tail's
    * single-division doubles — bit-equal to the batch key. */
  def theilsUStream(spark: SparkSession, eventsDir: String): Dataset[TuOut] = {
    import graft.functions.FixedLog2
    contingencyTwin[TuOut](spark, eventsDir) { m =>
      val cells = m.toSeq.map { case (k, o) =>
        val i = k.lastIndexOf(':')
        (k.substring(0, i), k.substring(i + 1).toLong, o)
      }
      val nn = cells.map(_._3).sum
      val r = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val c = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      def l2(a: Long) = FixedLog2.l2Long(a)
      val sI = cells.map { case (t, w, o) =>
        BigInt(o) * (l2(o) + l2(nn) - l2(r(t)) - l2(c(w))) }.sum
      val sHx = r.values.map(v => BigInt(v) * (l2(nn) - l2(v))).sum
      val sHy = c.values.map(v => BigInt(v) * (l2(nn) - l2(v))).sum
      val den = (nn * FixedLog2.Unit).toDouble
      TuOut(nn,
        sHx.toLong.toDouble / den,
        sHy.toLong.toDouble / den,
        sI.toLong.toDouble / den,
        if (sHx > 0) Some(sI.toLong.toDouble / sHx.toLong.toDouble) else None,
        if (sHy > 0) Some(sI.toLong.toDouble / sHy.toLong.toDouble) else None)
    }
  }

  case class GridState(m: Map[Long, Long])
  case class RankCorrOut(event_type: String, n: Long,
      rank_corr: Option[Double])

  /** Streaming twin of `ev_rank_corr_bucketed` — the key that finally
    * gives the rank-correlation family an incremental form. The EXACT
    * key (`ev_rank_corr`, µs time axis) is batch-only BY MEASUREMENT
    * (SCALE.md: its joint histogram has cardinality = n, 0%
    * compression); the bucketed estimator's joint (log2-bucket × hour)
    * grid is HARD-bounded at ≤ 488·24 cells per type at any data
    * volume, so per-type state is ONE count map keyed by the Euclidean
    * composite bucket·24+hour (floorDiv/floorMod decode; both factors
    * non-negative by construction — cents clamp to ≥ 1 before the
    * log). The cents and hour axes are the batch key's own projection
    * ([[graft.operators.Stats.bucketAxes]]); the bucket comes from
    * [[graft.functions.FixedLog2.l2Long]], the JVM twin of the
    * codegen'd batch log. Every update
    * replays both doubled-rank walks over the sorted marginals and the
    * five Pearson moments as exact BigInts, then the batch tail's
    * 2³²-split → one multiply + √ + divide — emissions bit-equal to
    * the batch key (StreamingSpec). */
  def rankCorrStream(spark: SparkSession,
      eventsDir: String): Dataset[RankCorrOut] = {
    import spark.implicits._
    import graft.functions.FixedLog2
    val B = 4294967296L
    def split(v: BigInt): Double = {
      val lo = v % B // truncated %, the batch/oracle convention
      val hi = (v - lo) / B // < 2^53 by the rankCorr headroom bound
      hi.toDouble * 4294967296.0 + lo.toDouble
    }
    Stats.bucketAxes(readEvents(spark, eventsDir)).as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[GridState, RankCorrOut](GroupStateTimeout.NoTimeout()) {
        (tpe: String, it: Iterator[(String, Long, Long)],
            state: GroupState[GridState]) =>
          var m = state.getOption.map(_.m).getOrElse(Map.empty[Long, Long])
          it.foreach { case (_, c, h) =>
            val b = FixedLog2.l2Long(c) / (FixedLog2.Unit / 8)
            m = m.updated(b * 24L + h, m.getOrElse(b * 24L + h, 0L) + 1L)
          }
          state.update(GridState(m))
          val cells = m.toSeq.map { case (k, cnt) =>
            (Math.floorDiv(k, 24L), Math.floorMod(k, 24L), cnt) }
          def doubledRanks(tot: Seq[(Long, Long)]): Map[Long, Long] = {
            var less = 0L
            tot.sortBy(_._1).map { case (v, cv) =>
              val r = 2L * less + cv + 1L; less += cv; v -> r
            }.toMap
          }
          val r2x = doubledRanks(
            cells.groupMapReduce(_._1)(_._3)(_ + _).toSeq)
          val r2y = doubledRanks(
            cells.groupMapReduce(_._2)(_._3)(_ + _).toSeq)
          var n = 0L
          var sx, sy, sxx, syy, sxy = BigInt(0)
          cells.foreach { case (c, h, cnt) =>
            n += cnt
            val rx = BigInt(r2x(c)); val ry = BigInt(r2y(h))
            val ct = BigInt(cnt)
            sx += ct * rx; sy += ct * ry
            sxx += ct * rx * rx; syy += ct * ry * ry; sxy += ct * rx * ry
          }
          val nB = BigInt(n)
          val num = nB * sxy - sx * sy
          val f1 = nB * sxx - sx * sx
          val f2 = nB * syy - sy * sy
          RankCorrOut(tpe, n,
            if (f1 > 0 && f2 > 0)
              Some(split(num) / math.sqrt(split(f1) * split(f2)))
            else None)
      }
  }
}
