package graft.operators

import graft.QueryPack
import graft.sources.{CacheRegistry, Tables}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.storage.StorageLevel

/** End-to-end corpus curation — the composed LLM-data pipeline the
  * individual operators exist for: quality gating + near-dup clustering
  * + representative selection, as one declarative flow.
  *
  * Near-dup pairs (from [[Dedup.ngramJaccard]]) are only *edges*; proper
  * dedup needs the connected components (a∼b, b∼c ⇒ keep one of
  * {a,b,c}). [[components]] computes them with iterative min-label
  * propagation — each round is one join + aggregate, labels only
  * decrease, and the iteration count is bounded by the component
  * diameter (near-dup clusters are tiny, so 2–3 rounds). The driver-side
  * loop is algorithm control flow (a fixpoint test per round), not data
  * collection; every data-sized structure stays distributed.
  */
object Curation extends QueryPack {

  /** The co-purchase edge table (u < v, distinct) shared by the graph
    * family — [[triangles]], [[kcore]], [[communities]]: derived ONCE
    * per (session, corpus) and held as a localCheckpoint in the
    * [[CacheRegistry]] ([[components]] precedent — a pipeline
    * materializes shared intermediates, it does not re-run them per
    * consumer; measured 6.1 s per derivation at
    * sf0.1, so the third consumer rides for free). The self-join is
    * spread explicitly before joining: its OUTPUT is ~2× the input and
    * AQE coalesces by input size (the triangles wedge lesson), which
    * would otherwise serialize the pair generation. */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.getOrBuild(spark, dir, "coPurchase", "lineitem") {
      val nPart = spark.sessionState.conf.numShufflePartitions
      val items = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid"))
        .distinct()
        .repartition(nPart, col("ok"))
      items.select(col("ok"), col("pid").as("u"))
        .join(items.select(col("ok"), col("pid").as("v")), "ok")
        .filter(col("u") < col("v"))
        .select(col("u"), col("v")).distinct()
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Bytes one (long, long) edge row takes in a deserialized
    * MEMORY_AND_DISK checkpoint, read off the BlockManager at sf0.001,
    * sf0.01 and sf0.1 (83.1-84.8; 42.2 serialized): converts the
    * storage ceilings the edge gates were tuned on into row counts. */
  private val StoredEdgeRowBytes = 84L

  /** Edge-row ceiling for [[componentsOf]]'s driver union-find fast
    * path: below it the verified near-dup pair set is at most ~200
    * thousand rows of two longs — BOUNDED DRIVER BOOKKEEPING in the
    * same sense as the k-means centroid or PQ codebook collects — and
    * the whole iterative fixpoint collapses to one collect plus a
    * broadcast join. Above it the distributed pointer-jumping loop
    * runs. Tests force 0 to pin the loop path. The ceiling was 16 MiB
    * of checkpoint storage; it is converted at [[StoredEdgeRowBytes]]. */
  private[graft] val DriverComponentsMaxEdgeRows = 16L * 1024 * 1024 / StoredEdgeRowBytes

  /** [[GraftBridge.checkpoint]] of a label round that also counts the
    * rows whose BOOLEAN `chg` column is true (nulls count as false) —
    * the fixpoint test of [[componentsOf]] and [[communitiesOf]], read
    * off the materializing job instead of a job of its own. */
  private def checkpointCountingChanged(df: DataFrame): GraftBridge.Checkpoint = {
    val i = df.columns.indexOf("chg")
    require(i >= 0, s"no chg column in ${df.columns.mkString(",")}")
    GraftBridge.checkpoint(df,
      fold = r => if (!r.isNullAt(i) && r.getBoolean(i)) 1L else 0L)
  }

  /** Connected components over arbitrary near-dup edges: (doc_id,
    * component) where component = min doc_id reachable. Nodes with no
    * edges map to themselves.
    *
    * Two regimes, row-gated by the count the edge list's own
    * checkpoint job returns (the LPA lesson — small graphs are
    * SCHEDULING-bound, and a multi-job fixpoint loop over a
    * few-hundred-edge graph is pure driver round-trip overhead):
    *
    *  - edges ≤ [[DriverComponentsMaxEdgeRows]]: collect the pair list
    *    (two longs per edge) and run min-label union-find on the
    *    driver; the result rejoins as ONE broadcast map over the nodes
    *    frame — zero iterative materializations, and the mapping is
    *    bit-identical to the loop's fixpoint (both compute min
    *    reachable; the spec pins their equality on a planted graph).
    *    Near-dup edge sets at any corpus size are dup-density-bounded,
    *    so this is the common production regime too — but it is a fast
    *    path, not the design: the loop below is the 100 TB path.
    *  - above the gate: each round every node adopts the min label
    *    among itself and its neighbors (one join + aggregate), then
    *    compresses pointers (label := label-of-label), so convergence
    *    is O(log diameter) rounds rather than O(diameter) — a single
    *    long chain cannot stretch the fixpoint loop. The hop carries
    *    its input label as `old`, so the changed-count reads off the
    *    round's own checkpoint instead of a join against the previous
    *    round (one fewer O(|V|) shuffle per round than the r13 form).
    *    Superseded label checkpoints are released every round; the
    *    driver only ever sees per-round counts, never data.
    *
    * Rejected alternatives, measured at sf0.1 on dedup_canonical_map:
    * fusing two hops per materialization with AQE off (the LPA batch
    * pattern) triples the join work — the unmaterialized inner hop is
    * referenced by three different-key exchanges, which non-adaptive
    * planning recomputes (task time 23 → 78 s); broadcast-gating the
    * per-hop state adds a collect job per broadcast build regardless of
    * AQE (~8 jobs/round, worse than the shuffles it replaced). The
    * driver union-find deletes the loop instead of tuning it: 33 → 16
    * jobs, BenchOne rep2 4.0 → 2.7 s (with the canonicalMapOf window
    * rewrite; the LSH variant reads 2.2 s). */
  private[graft] def componentsOf(nodes: DataFrame, edges0: DataFrame,
      maxRounds: Int = 25,
      driverMaxEdgeRows: Long = DriverComponentsMaxEdgeRows,
      edgesSubsetOfNodes: Boolean = false): DataFrame = {
    // localCheckpoint (not cache) on the edge list and every round's
    // labels: an iterative plan otherwise GROWS — round k's logical
    // tree contains all k-1 predecessors, and every action re-analyzes
    // the whole thing even when execution hits a cache. Checkpointing
    // truncates the lineage to the materialized RDD; superseded round
    // RDDs are released explicitly below.
    val edgesCk = GraftBridge.checkpoint(edges0.select(col("doc_a"), col("doc_b")))
    val edges = edgesCk.frame
    if (edgesCk.rows <= driverMaxEdgeRows) {
      import nodes.sparkSession.implicits._
      val es0 = edges.as[(Long, Long)].collect()
      GraftBridge.releaseLocalCheckpoint(edges)
      // Drop edges with PHANTOM endpoints (ids absent from `nodes`) —
      // the distributed loop below drops them implicitly at the label
      // join, and without this filter a phantom id could transitively
      // glue two real components on this side of the row gate only.
      // The membership probe is bounded: one semi-join of `nodes`
      // against the (small, already-collected) touched-id set. Callers
      // whose edges are derived FROM the node set (the canonical-map
      // family: pairs run over the semi-joined rep docs) pass
      // `edgesSubsetOfNodes = true` and skip the probe — phantoms are
      // impossible by construction there, and the per-call semi-join +
      // collect was the r15 bench regression on every canonical key.
      val es = if (edgesSubsetOfNodes) es0 else {
        val touchedIds = es0.iterator
          .flatMap(e => Iterator(e._1, e._2)).toSet[Long].toSeq
        val present = nodes.select(col("doc_id"))
          .join(broadcast(touchedIds.toDF("doc_id")), Seq("doc_id"), "leftsemi")
          .as[Long].collect().toSet
        es0.filter(e => present(e._1) && present(e._2))
      }
      // min-label union-find: attaching the larger root under the
      // smaller keeps every root the MIN of its set, independent of
      // edge order — the same labels the distributed fixpoint reaches.
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // one map entry per edge-touched node; untouched nodes fall back
      // to identity through the left join's coalesce
      val touched = es.iterator.flatMap(e => Iterator(e._1, e._2))
        .toSet[Long].toSeq.sorted
      val mapped = touched.map(n => (n, find(n))).toDF("doc_id", "cmp")
      return nodes.select(col("doc_id"))
        .join(broadcast(mapped), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cmp"), col("doc_id")).as("component"))
    }
    // symmetric adjacency; isolated nodes are handled by the left join
    val adj = edges
      .union(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = nodes.select(col("doc_id"), col("doc_id").as("component"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      // min label among self and neighbors
      val viaNeighbors = adj
        .join(labels.select(col("doc_id").as("doc_b"), col("component")),
          Seq("doc_b"))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("component")).as("ncomp"))
      // carries the input label as `old` so the fixpoint diff below
      // reads off this round's own checkpoint, joining nothing
      val propagated = labels.join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"), col("component").as("old"),
          least(col("component"), coalesce(col("ncomp"), col("component")))
            .as("component"))
      // pointer jumping: label := label(label) — halves chain lengths,
      // so convergence is O(log diameter) rounds, not O(diameter)
      // eager checkpoint + fixpoint diff count in ONE job — the
      // separate count was a second scheduling round trip per round
      val ck = checkpointCountingChanged(propagated
        .join(propagated.select(col("doc_id").as("component"),
          col("component").as("cc")), Seq("component"))
        .select(col("doc_id"), col("old"), col("cc").as("component"))
        .withColumn("chg", col("component") =!= col("old")))
      val next = ck.frame
      changed = ck.tally
      // next is materialized and the diff count is done: the superseded
      // round's labels can be dropped NOW, not at ContextCleaner/GC
      // whim — R rounds would otherwise pin R label copies
      GraftBridge.releaseLocalCheckpoint(labels)
      labels = next.select(col("doc_id"), col("component"))
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds")
    GraftBridge.releaseLocalCheckpoint(edges)
    labels
  }

  /** Near-dup connected components over [[Dedup.ngramJaccard]] edges,
    * materialized once per (session, corpus) in the [[CacheRegistry]] —
    * the Spark analogue of a dbt model built once and read by every
    * downstream model: `cur_corpus` consumes the SAME labels
    * `cur_components` produced instead of re-running the edge pipeline.
    * The explicit localCheckpoint keeps the CACHE semantics material: the
    * driver union-find fast path returns a lazy broadcast-join plan,
    * which would re-scan documents on every consumer action
    * (cur_components re-read 0.03 → 0.19 s when this was a plan). */
  def components(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.getOrBuild(spark, dir, "components", "documents")(
      componentsOf(Tables.documents(spark, dir), Dedup.ngramJaccard(spark, dir))
        .localCheckpoint())

  /** The curated corpus: quality-gated docs, one representative (min
    * doc_id) per near-dup component, with audit columns. */
  def curatedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("keep"), col("n_tokens"))
    val comp = components(spark, dir)
    val clusterSize = comp.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    comp.join(quality, "doc_id")
      .join(clusterSize, "component")
      .withColumn("is_representative", col("doc_id") === col("component"))
      .filter(col("keep") && col("is_representative"))
      .select(col("doc_id"), col("component"), col("cluster_size"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val PrDamping = "0.85"
  private val PrIters = 5

  /** Per-round iterative-loop state (ranks, labels, survivor /
    * frontier node sets — id-width rows, |V|-bounded) rides as a
    * BROADCAST hash relation at or below this row count (~30 MB of
    * longs at the cap — executor-safe) and falls back to a
    * SHUFFLE-HASH join above it: the state then crosses the wire
    * partitioned, never resident whole in any executor, and the big
    * checkpointed frame still avoids the per-round sort-merge the
    * planner picked when checkpoints had no statistics. The fixture graphs
    * sit far below the gate; tests force it to 0 to pin the
    * giant-graph path. */
  private[graft] val StateBroadcastMaxRows = 2000000L

  /** Edge-row ceiling for the SMALL-graph latency levers of LPA,
    * pagerank and k-core (multi-hop batching, AQE-off rounds, narrowed
    * stage widths):
    * below it the rounds are scheduling-bound and the levers pay;
    * above it a round is real compute and the single-hop path with
    * adaptive execution wins — sub-gate NODE state alone does not
    * imply a small graph (the ×100 co-purchase graph has |V| = 2M at
    * the gate but 2|E| = 480M rows, where one batched job's chained
    * broadcasts + dual full-graph votes exhaust the heap). The ceiling
    * was 512 MiB of checkpoint storage (~6.4M rows at
    * [[StoredEdgeRowBytes]]); LPA's directed edge copy holds 2.39M rows
    * at sf0.1, 10× that at ×10. */
  private[graft] val SmallGraphEdgeRows = 512L * 1024 * 1024 / StoredEdgeRowBytes

  /** Edge-table broadcast ceiling for the triangle census: the oriented
    * edge set broadcasts below this (the LongHashedRelation fast path —
    * ~30 MB at sf0.1, ~300 MB at ×10, both measured), and above it the
    * wedge/closure joins degrade to shuffle-hash instead of collecting
    * a >1 GiB relation through the driver (the ×100 probe hit
    * `spark.driver.maxResultSize` exactly here). */
  private[graft] val EdgeBroadcastMaxRows = 20000000L

  /** PageRank over the part co-purchase graph (parts sharing an order,
    * via lineitem) — the iterative graph-analytics twin of
    * [[components]], built on the same discipline: a fixed number of
    * rounds, each ONE join + ONE aggregate, labels/ranks
    * `localCheckpoint`ed per round (lineage, not cache), nothing
    * driver-side but loop control.
    *
    * Determinism is the interesting part: float contributions summed
    * across shuffle partitions are order-dependent, so ranks ride
    * LONG fixed-point (×10¹²) end to end — integer division truncates
    * deterministically and long SUM is order-independent, making the
    * whole iteration bit-reproducible under any partitioning
    * (CurationSpec runs it twice). The same determinism was first
    * built on DECIMAL(38,18) and measured 26 s warm at sf0.1 — per-edge
    * BigDecimal division off the codegen fast path; the long form is
    * the [[graft.operators.Similarity.lloydCentroids]] trade and runs
    * ~20× faster with ~1e-12 per-op precision. No overflow: ranks stay
    * O(deg_max) ≈ 10³ → 10¹⁵ at the fixed point, and a contribution
    * sum is bounded by N×avg_rank ≈ 10¹⁶·anything well under 2⁶³ for
    * any realistic graph (a 10¹⁸-mass graph would shard the fixed
    * point down).
    * Per-order pair expansion is bounded by max items per order
    * (TPC-H ≤ 7), so edge building is linear in lineitem at any SF.
    * Isolated parts (no co-purchase) have no edges and are excluded,
    * documented standard practice. Rows-only: 5 rounds of recursive
    * fixed-point arithmetic has no portable SQL form; CurationSpec
    * pins mass conservation, symmetry on a ring, hub dominance on a
    * star, and run-to-run equality. */
  /** The co-purchase MULTIGRAPH (parallel edges per co-occurring
    * order) for [[pageRank]], cached per (session, corpus) like
    * [[coPurchaseEdges]] — the derivation re-ran per bench rep
    * otherwise. Multigraph on purpose: parts co-purchased in k orders
    * contribute k parallel edges — rank flows proportional to
    * co-occurrence strength, and skipping the edge-level distinct
    * deletes the pipeline's largest shuffle (2.4M rows at sf0.1). */
  private def coPurchaseMultiEdges(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.getOrBuild(spark, dir, "multiEdges", "lineitem") {
      val items = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid")).distinct()
      val a = items.select(col("ok"), col("pid").as("src"))
      val b = items.select(col("ok"), col("pid").as("dst"))
      a.join(b, "ok").filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  def pageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankOf(coPurchaseMultiEdges(spark, dir))
      .select(col("id").as("p_partkey"), col("rank"))
      .orderBy(col("rank").desc, col("p_partkey"))

  private[graft] def pageRankOf(edges0: DataFrame,
      stateBroadcastMaxRows: Long = StateBroadcastMaxRows): DataFrame = {
    val Fp = 1000000000000L // fixed point: 1.0 == 10^12
    // Storage policy from the ×100 probes (SCALE.md): the LONG-LIVED
    // shared caches pin SERIALIZED; per-loop WORKING frames stay
    // deserialized (each round re-reads them — serializing withDeg
    // here and the LPA/k-core round frames cost 1.7–3.3× at ×100) but
    // are DEDUPLICATED: reuse an already-pinned input instead of
    // checkpointing a second O(|E|) copy (the duplicate was the ×100
    // OOM, and dropping it alone took pagerank 640→520 s there).
    val spark = edges0.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val edgesOwned = !GraftBridge.isPinned(edges0)
    val edges = if (edgesOwned) GraftBridge.checkpoint(edges0).frame else edges0
    // ONE job pins the out-degree table and counts both gate inputs,
    // whatever the caller passed in (owned, checkpointed or
    // CacheManager-persisted): its rows are the nodes (every node has
    // an out-edge) and its `deg` column sums to |E|
    val degreeCk = GraftBridge.checkpoint(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg")),
      fold = _.getLong(1))
    val degree = degreeCk.frame
    val nNodes = degreeCk.rows
    // ranks/contribs are one (id, long) row per NODE; every state join
    // rides a SHUFFLE-HASH hint against asserted layouts — only the
    // |V|-row state side exchanges per round, and the planner never
    // falls into the per-round sort-merge it picked when checkpoints had
    // no statistics (measured: 15 s SMJ vs 4 s hinted, warm at sf0.1).
    val giant = nNodes > stateBroadcastMaxRows
    // ONE loop shape at every tier (r17 optimization round): both loop
    // inputs pre-partitioned on their join keys ONCE, with the layout
    // RE-ASSERTED on the checkpointed LogicalRDD (the hashed form of
    // GraftBridge.checkpoint) — a plain checkpoint reports
    // UnknownPartitioning, so every round's
    // state join would replan an ENSURE_REQUIREMENTS exchange of the
    // full O(|E|) edge frame (the dominant per-round cost at the giant
    // tier). With the layout visible, withDeg (clustered src) ⋈ ranks
    // (clustered id) is co-partitioned and plans exchange-free on the
    // edge side; the contribution aggregate is the ONLY per-round
    // O(|E|)-input exchange left. What differs by tier is the WIDTH
    // and AQE:
    //  - giant (or big-but-sub-gate edges): production width (nPart),
    //    AQE on (skew splits, runtime re-plans);
    //  - small regime (sub-gate state AND sub-SmallGraphEdgeRows
    //    edges — the r12 ×100 lesson that state rows say nothing about
    //    edge volume): a state-sized width with AQE OFF for the rounds
    //    planned on a session clone
    //    (GraftBridge.roundSession). The r16 form broadcast the state
    //    below the gate instead; that pays 2 broadcast-build jobs + an
    //    AQE job per query stage every round — 31 jobs × 1-2 tasks for
    //    3.0 s of summed task time under a 4.1 s wall at sf0.1, nearly
    //    pure scheduling floor (~0.13 s/job in the r17 job profile). The
    //    co-partitioned loop at narrow width with AQE off runs ONE job
    //    per round: A/B on the same box window (warm, OPTIMIZATION_r17.md
    //    pagerank section) — broadcast/AQE/32: 4.8-5.3 s, 24 jobs;
    //    asserted/aqeOff/8-16: 3.3-3.6 s, 10 jobs.
    //    (The earlier 4.9 → 8.3 s rejection of the asserted form below
    //    the gate measured it at nPart width WITH AQE on — the width
    //    pin and the job-per-stage cut are what flip the trade.)
    val loopSmall = !giant && degreeCk.tally <= SmallGraphEdgeRows
    val loopW = if (loopSmall) GraftBridge.stateWidth(spark, nNodes) else nPart
    val withDeg = GraftBridge.checkpoint(
      edges.join(degree, "src"), Some((loopW, Seq("src")))).frame
    val nodes = GraftBridge.checkpoint(
      degree.select(col("src").as("id")), Some((loopW, Seq("id")))).frame
    GraftBridge.releaseLocalCheckpoint(degree)
    // withDeg and nodes are materialized: an owned edge checkpoint has
    // served its purpose — free it before the rounds run, not after
    if (edgesOwned) GraftBridge.releaseLocalCheckpoint(edges)
    // below the gate the rounds plan on a session clone
    val rounds = if (loopSmall) GraftBridge.roundSession(spark, loopW) else spark
    val roundDeg = GraftBridge.onSession(rounds, withDeg)
    val roundNodes = GraftBridge.onSession(rounds, nodes)
    def gatedState(s: DataFrame): DataFrame = s.hint("shuffle_hash")
    var ranks = roundNodes.select(col("id"), lit(Fp).as("rank"))
    var ranksOwned = false
    for (_ <- 1 to PrIters) {
      val contribs = roundDeg
        .join(gatedState(ranks), col("src") === col("id"))
        .select(col("dst").as("id"), expr("rank div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      // 0.15 + 0.85·s in pure long arithmetic: 85·s div 100 (s ≤ N·Fp —
      // headroom: 85·10¹⁶ ≈ 8.5·10¹⁷ < 2⁶³ even at 10k× the fixture)
      val stepped = roundNodes.join(gatedState(contribs), Seq("id"), "left")
        .select(col("id"),
          (lit(15L * Fp / 100) +
            expr(s"85 * coalesce(s, 0L) div 100")).as("rank"))
      // carry the id-clustering into the next round's state join
      val next = GraftBridge.checkpoint(stepped, Some((loopW, Seq("id")))).frame
      if (ranksOwned) GraftBridge.releaseLocalCheckpoint(ranks)
      ranks = next
      ranksOwned = true
    }
    // the result depends only on the final ranks checkpoint — the loop
    // inputs are dead weight from here; free them deterministically
    // (Dataset.unpersist is a CacheManager no-op for checkpoints)
    GraftBridge.releaseLocalCheckpoint(withDeg)
    GraftBridge.releaseLocalCheckpoint(nodes)
    GraftBridge.onSession(spark, ranks).select(col("id"),
      (col("rank").cast("double") / Fp.toDouble).as("rank"))
  }

  /** `cur_triangles`: triangle census of the part co-purchase graph —
    * node/edge/wedge/triangle counts and the global clustering
    * coefficient 3T/W, the structural summary that distinguishes
    * genuinely clustered co-occurrence (communities) from hub-dominated
    * star shapes at one glance.
    *
    * Algorithm is the degree-oriented "compact-forward" enumeration —
    * the distributed-triangle-counting standard: orient every
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher, so each triangle is emitted exactly once (at its
    * lowest-degree vertex) and, decisively for 100 TB, the out-degree
    * of every node is O(√E) — the wedge self-join that a naive
    * id-ordered enumeration lets explode on hub nodes (a part in k
    * orders would wedge k² ways) stays bounded regardless of skew.
    * Three equi-join shuffles total: wedges on src, closure on the
    * oriented (src, dst) key, plus the edge-distinct. The oracle uses
    * the naive id-ordered SQL form — same count, fixture-sized. */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(coPurchaseEdges(spark, dir))

  /** Core census over a simple undirected edge list (u < v, distinct). */
  private[graft] def trianglesOf(e0: DataFrame): DataFrame = {
    // reuse the shared edge checkpoint when the caller pinned one
    // (coPurchaseEdges) — storage policy note in pageRankOf
    val e = if (GraftBridge.isPinned(e0)) e0 else e0.localCheckpoint()
    val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): src = smaller endpoint in that order
    val withDeg = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    // checkpoint + |E| gate count ride one job
    val orientedCk = GraftBridge.checkpoint(
      withDeg.select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"),
        greatest(col("du"), col("dv")).as("ddeg")))
    val oriented = orientedCk.frame
    val edgeCount = orientedCk.rows
    // wedges at the low vertex: pairs of out-neighbors, ordered by
    // (deg, id) so the closing edge is oriented v -> w by construction.
    // EXPLICIT partition count on the self-join inputs: the edge table
    // is small (~30 MB at sf0.1) so AQE would coalesce the exchange to
    // ~1 post-shuffle partition — but the join OUTPUT is ~34x its
    // input, and the wedge generation would run serial on one task
    // (the pageRank re-spread lesson; AQE sizes by input, not output)
    val nPart = e.sparkSession.sessionState.conf.numShufflePartitions
    // |E|-gate the two edge broadcasts below (scaladoc on the constant)
    def gatedEdges(s: DataFrame): DataFrame =
      if (edgeCount <= EdgeBroadcastMaxRows) broadcast(s)
      else s.hint("shuffle_hash")
    val x = oriented.repartition(nPart, col("src"))
      .select(col("src"), col("dst").as("v"), col("ddeg").as("vd"))
    // broadcast the probe side too (it IS the broadcast-sized edge
    // table): a hash multi-match per x row beats the sort-merge
    // alternative, whose duplicate-key group buffering pays per EMITTED
    // wedge row, not per input row
    val y = oriented
      .select(col("src"), col("dst").as("w"), col("ddeg").as("wd"))
    val wedges = x.join(gatedEdges(y), Seq("src"))
      .filter(col("vd") < col("wd") ||
        (col("vd") === col("wd") && col("v") < col("w")))
      .selectExpr("shiftleft(v, 32) | w as pk")
    // close wedges against a BROADCAST edge set: wedges outnumber edges
    // ~(avg oriented out-degree)× by construction (34× measured at
    // sf0.1: 41M wedges vs 1.2M edges), so shuffling them for a
    // partitioned semi join is the wrong side — broadcast keeps wedge
    // enumeration, membership test, and count partials all map-side.
    // The (src, dst) pair is packed into ONE long so the broadcast
    // builds Spark's LongHashedRelation (dense long-keyed map) instead
    // of a generic row map — the whole chain (partitioned SMJ semi →
    // broadcast BHJs + packed key + explicit re-spread) measured
    // 35 s → ~6 s warm at sf0.1, with the remaining cost split between
    // the edge-build distinct and the 41M-row wedge stream (SCALE.md,
    // "Graph family at ×100 (round 9)").
    // Node ids must fit 32 bits —
    // true of any catalog-keyed graph; a wider id space would pack into
    // two longs. On a graph whose EDGE set outgrows executor memory,
    // drop the hint: same plan, one wedge shuffle.
    val nTri = wedges.join(
        gatedEdges(oriented.selectExpr("shiftleft(src, 32) | dst as pk")),
        Seq("pk"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val sums = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val nE = sums.sparkSession.range(1)
      .select(lit(edgeCount).as("n_edges"))
    sums.crossJoin(nE).crossJoin(nTri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        ((col("n_triangles") * 3).cast("double") /
          col("n_wedges").cast("double")).as("global_cc"))
  }

  private val KCoreMaxRounds = 30

  /** `cur_kcore`: the k-core of the co-purchase graph — the maximal
    * subgraph where every node keeps ≥ k neighbors — by iterative
    * peeling, with k derived from the graph itself — 0.6× the median
    * initial degree. The ratio is measured, not arbitrary: the
    * co-purchase graph's near-uniform random degree regime makes core
    * collapse CASCADE (even the p25-degree core peels to empty at
    * every fixture SF; the degeneracy sits at ≈ 0.71× median), so a
    * quantile threshold is structurally wrong here and 0.6× median is
    * the demanding-but-stable point — nonempty with a real multi-round
    * peel at all three SFs. On a clustered production graph the same
    * rule simply yields a deeper core.
    * The dense-nucleus extraction community detection and
    * influence analysis start from; the k-core is UNIQUE and
    * order-independent, so the result is exactly reproducible under
    * any partitioning (CurationSpec pins it against an independent
    * sequential peel).
    *
    * Scale shape: the threshold comes from a count-of-counts degree
    * HISTOGRAM (bounded by max degree, never |V| rows — the
    * dedup_bucket_stats pattern) folded on the driver as bounded
    * bookkeeping. Each peel round is one endpoint-explode degree
    * aggregate + two semi joins against the |V|-bounded survivor set,
    * broadcast below [[StateBroadcastMaxRows]] and shuffle-hash above
    * it (measured when checkpoints had no statistics: without a hint
    * the planner sorted the full edge table twice per round, the
    * pageRank lesson), all over the HALVED u<v edge list rather
    * than a doubled directed copy; rounds are a driver-side fixpoint
    * test on the edge count (the [[components]] precedent), measured 5
    * on the co-purchase graph and capped at [[KCoreMaxRounds]].
    * Measured at sf0.1: 8.9 s (doubled list, unhinted joins) → 4.3 s. */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(coPurchaseEdges(spark, dir))

  /** Peel over a simple undirected edge list (u < v, distinct).
    * Survivor semi-joins are broadcast below [[StateBroadcastMaxRows]]
    * nodes (the histogram total IS |V|, already on the driver) and
    * shuffled above it — same giant-graph contract as
    * [[pageRankOf]]/[[communitiesOf]]. */
  private[graft] def kcoreOf(e0: DataFrame,
      stateBroadcastMaxRows: Long = StateBroadcastMaxRows): DataFrame = {
    def degrees(edges: DataFrame): DataFrame = edges
      .select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // Round 0 scans the edge set 3× (histogram + two semi-joins), so
    // it gets a PRIVATE deserialized working copy even when the caller
    // hands in the serialized shared cache; each peel round then
    // checkpoints a SHRINKING copy and drops its predecessor — without
    // the unpersist, R rounds pin R copies of O(|E|) (the ×100 OOM).
    val core0 = GraftBridge.checkpoint(e0)
    var core = core0.frame
    // Lower-median initial degree from the count-of-counts histogram.
    // The cumulative walk runs as a WINDOW over the histogram rows and
    // only the 1-row answer reaches the driver: #distinct degree
    // values is O(√|E|) (k distinct degrees need ≥ k(k+1)/2 edge
    // endpoints) — bounded for the single-partition window even on a
    // power-law giant — where collecting the whole histogram would be
    // O(max-degree) driver rows (the r11 verdict's hardening item).
    val histW = Window.orderBy(col("deg"))
    val medRow = degrees(core)
      .groupBy(col("deg")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        histW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("cnt")).over(
        histW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("cum") * 2 >= col("total"))
      .agg(min(col("deg")).as("median"), max(col("total")).as("total"))
      .collect()(0)
    val total = if (medRow.isNullAt(1)) 0L else medRow.getLong(1)
    val median = if (medRow.isNullAt(0)) 0L else medRow.getLong(0)
    val k = median * 3L / 5L
    // survivor sets are ≤ |V| (= the histogram total) and shrink
    // monotonically; gate the per-round semi-join build side on that
    def gatedKeep(s: DataFrame): DataFrame =
      if (total <= stateBroadcastMaxRows) broadcast(s)
      else s.hint("shuffle_hash")
    var nEdges = core0.rows
    var rounds = 0
    var converged = false
    // Round cost at the sub-gate tier is SCHEDULING, not compute (r17
    // job profile: 35 jobs × 1-2 tasks, 2.1 s summed task time under a
    // 3.6 s wall) — three floor cuts, results bit-identical:
    //  - the survivor set broadcasts ONCE per round: both semi joins
    //    reference the SAME `keep` frame through an explicit join
    //    condition (no rename Projects in front of the exchange), so
    //    the two builds canonicalize identically and ReuseExchange
    //    collapses them — the communitiesOf device;
    //  - the shrunken edge list's checkpoint and the fixpoint count
    //    ride ONE job (GraftBridge.checkpoint);
    //  - below the gate the rounds plan on a session clone with
    //    AQE off and a state-sized shuffle width
    //    (GraftBridge.roundSession): every join is hint-decided, so AQE
    //    only added one job per query stage.
    // Measured at sf0.1 (BenchOne warm, same box window): see
    // OPTIMIZATION_r17.md (kcore section).
    val sess = core.sparkSession
    if (total <= stateBroadcastMaxRows && core0.rows <= SmallGraphEdgeRows)
      core = GraftBridge.onSession(
        GraftBridge.roundSession(sess, GraftBridge.stateWidth(sess, total)), core)
    while (!converged && rounds < KCoreMaxRounds) {
      val keep = gatedKeep(
        degrees(core).filter(col("deg") >= k).select(col("id")))
      val next = GraftBridge.checkpoint(core
        .join(keep.as("ku"), col("u") === col("ku.id"), "left_semi")
        .join(keep.as("kv"), col("v") === col("kv.id"), "left_semi"))
      converged = next.rows == nEdges
      nEdges = next.rows
      GraftBridge.releaseLocalCheckpoint(core)
      core = next.frame
      rounds += 1
    }
    degrees(GraftBridge.onSession(sess, core))
      .select(col("id"), col("deg").as("core_deg"), lit(k).as("k"))
      .orderBy(col("core_deg").desc, col("id"))
  }

  private val AssocMinSupport = 2
  private val AssocTopK = 100

  /** `cur_assoc_rules`: market-basket association rules over the order
    * baskets — the top-[[AssocTopK]] directional rules (antecedent →
    * consequent) by lift, with support / confidence / lift, at pair
    * support ≥ [[AssocMinSupport]]. The classic co-occurrence-mining
    * workload (a-priori's 2-itemset tier, which in practice is the tier
    * retail and recommender pipelines actually serve).
    *
    * Scale shape: basket distinct → per-order self-join (the same
    * co-purchase pair stream the triangle census and pageRank read) →
    * one map-side-combined pair aggregate; item supports are a
    * catalog-sized table attached by broadcast; the min-support filter
    * lands BEFORE the join fan-out of the rule expansion, and the
    * final ordering is a TakeOrdered top-k, never a global sort. All
    * measures derive from exact integer counts; lift's single double
    * division is engine-identical (products stay < 2^53).
    *
    * Determinism: ordering is (lift desc, antecedent, consequent) —
    * unique because the id pair is unique per direction. */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    assocRulesOf(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pid")).distinct())

  /** Core rule mining over a distinct (ok, pid) basket-membership df. */
  private[graft] def assocRulesOf(items0: DataFrame): DataFrame = {
    // four consumers (order count, supports, both self-join sides):
    // materialize the basket distinct once
    val items = items0.localCheckpoint()
    val nOrders = items.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val sup = items.groupBy(col("pid")).agg(count(lit(1)).as("sup"))
    // explicit re-spread on the self-join inputs: the basket table is
    // ~10 MB at sf0.1 so AQE would coalesce the join to ~1 task while
    // the pair fan-out is ~2.4x the input (the triangle-census lesson)
    val nPart = items.sparkSession.sessionState.conf.numShufflePartitions
    val pairs = items.repartition(nPart, col("ok"))
      .select(col("ok"), col("pid").as("a"))
      .join(items.repartition(nPart, col("ok"))
        .select(col("ok"), col("pid").as("b")), "ok")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("pair_sup"))
      .filter(col("pair_sup") >= AssocMinSupport)
    // both rule directions from the one undirected pair row
    val rules = pairs.select(
        explode(array(
          struct(col("a").as("antecedent"), col("b").as("consequent"),
            col("pair_sup")),
          struct(col("b").as("antecedent"), col("a").as("consequent"),
            col("pair_sup")))).as("r"))
      .select(col("r.antecedent"), col("r.consequent"), col("r.pair_sup"))
      .join(broadcast(sup.select(col("pid").as("antecedent"),
        col("sup").as("sup_a"))), "antecedent")
      .join(broadcast(sup.select(col("pid").as("consequent"),
        col("sup").as("sup_c"))), "consequent")
      .crossJoin(broadcast(nOrders))
    rules.select(col("antecedent"), col("consequent"), col("pair_sup"),
        col("sup_a"), col("sup_c"), col("n_orders"),
        (col("pair_sup").cast("double") / col("sup_a")).as("confidence"),
        ((col("pair_sup") * col("n_orders")).cast("double") /
          (col("sup_a") * col("sup_c")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(AssocTopK)
  }

  /** Canonical-document selection — keep-BEST instead of keep-first:
    * per near-dup component, the highest-quality member (distinct_ratio
    * desc, doc_id tie-break) among those passing the quality gate.
    * [[curatedCorpus]] keeps the min-id representative only if IT
    * passes quality, silently dropping clusters whose representative is
    * the low-quality copy; production dedup selects the best surviving
    * member instead. Same component labels (session-cached), one extra
    * component-keyed window over one row per doc — no new heavy pass. */
  def canonicalDocs(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("keep"), col("distinct_ratio"))
    val comp = components(spark, dir)
    val clusterSize = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("distinct_ratio").desc, col("doc_id"))
    comp.join(q, "doc_id")
      .filter(col("keep"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(clusterSize, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        col("distinct_ratio"))
      .orderBy(col("doc_id"))
  }

  private val PackBudget = 2048L
  private val PackShardSize = 1000L

  /** Sequence packing (concat-and-chunk): documents are concatenated in
    * stable doc_id order and chunked every `PackBudget` tokens; each doc
    * reports the training sequence its first token lands in plus its
    * offset — the standard pre-training batch-assembly shape.
    *
    * The global prefix sum is computed DISTRIBUTED, two-level: an
    * exclusive cumsum inside each doc_id shard (parallel windows), plus
    * a broadcast of per-shard total offsets (one tiny row per shard —
    * the only global pass, over #shards rows, not #docs). Identical
    * output to a single global window (the oracle computes exactly
    * that), but no single-partition sort of the corpus at 100 TB. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"),
        expr(s"doc_id div $PackShardSize").as("shard"))
    // exclusive cumsum within each shard — fully parallel across shards
    val wIn = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = toks.withColumn("local_offset",
      coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
    // per-shard totals → exclusive cumsum over shards (tiny; broadcast)
    val wShard = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val shardOffsets = toks.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("shard_offset",
        coalesce(sum(col("shard_tokens")).over(wShard), lit(0L)))
      .select(col("shard"), col("shard_offset"))
    local.join(broadcast(shardOffsets), "shard")
      .withColumn("start_offset", col("shard_offset") + col("local_offset"))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset div $PackBudget").as("seq_id"),
        pmod(col("start_offset"), lit(PackBudget)).as("seq_offset"))
  }

  /** Deterministic train/val/test split via Knuth multiplicative
    * hashing on doc_id — pure int64 arithmetic, so ANY engine assigns
    * every document identically (no RNG, no salt drift between runs):
    * bucket = (doc_id · 2654435761) mod 2³² mod 100; <80 train,
    * <90 val, else test. Reported as per-split corpus accounting. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"),
        expr("(doc_id * 2654435761) % 4294967296 % 100").as("bucket"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"))

  /** The curation FUNNEL — per-stage corpus accounting for the whole
    * dedup→quality→sampling chain, the first table any data-curation
    * run reports: how many documents/tokens survive each gate.
    *
    * Stages (cumulative):
    *   0 raw · 1 exact dedup (min doc_id per md5 text group) ·
    *   2 near-dup dedup (component representative — a superset check of
    *   stage 1, since identical texts are Jaccard-1.0 neighbors, so the
    *   component min is also its md5-group min; this identity assumes
    *   docs of ≥3 tokens — shorter texts have no shingles, so identical
    *   short duplicates are exact-dups without being shingle-connected,
    *   and the stage ordering would no longer be a strict funnel on such
    *   a corpus) · 3 quality gate (same
    *   predicate as [[curatedCorpus]]) · 4 stratified sample (same
    *   membership rule as [[Pipeline.stratifiedSample]]).
    *
    * One pass: each doc computes its last surviving stage, explodes
    * `sequence(0, last)`, and a single aggregate yields all stage rows —
    * no per-stage rescans. Components come from the per-(session, dir)
    * cache shared with `cur_components`/`cur_corpus`. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).selectExpr(
      "doc_id", "lang", "text",
      "cast(size(split(text, ' ')) as bigint) as n_tokens",
      "cast(size(array_distinct(split(text, ' '))) as double) / size(split(text, ' ')) as dr")
    val wMd5 = Window.partitionBy(md5(col("text").cast("binary")))
    val flagged = docs
      .withColumn("s1", col("doc_id") === min(col("doc_id")).over(wMd5))
      .join(components(spark, dir), "doc_id")
      .withColumn("s2", col("doc_id") === col("component"))
      .withColumn("s3", expr("n_tokens between 20 and 500 and dr > 0.3"))
      .withColumn("s4", expr(
        """substr(md5(cast(concat('strat', cast(doc_id as string)) as binary)), 1, 4)
          |  < (case when lang = 'en' then '4000' else 'c000' end)""".stripMargin))
      .withColumn("last_stage", expr(
        "case when not s1 then 0 when not s2 then 1 when not s3 then 2 " +
          "when not s4 then 3 else 4 end"))
    flagged
      .select(col("n_tokens"),
        explode(expr("sequence(cast(0 as bigint), cast(last_stage as bigint))")).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("stage_name", expr(
        "case stage when 0 then 'raw' when 1 then 'exact_dedup' " +
          "when 2 then 'neardup_dedup' when 3 then 'quality' " +
          "else 'stratified' end"))
      .select(col("stage"), col("stage_name"), col("n_docs"), col("n_tokens"))
      .orderBy(col("stage"))
  }

  /** Sample size per stratum for [[sampleBottomK]]. */
  val SampleK = 16

  /** `cur_sample_bottomk`: deterministic fixed-size sample — the k
    * docs with the smallest salted-md5 priority per language stratum —
    * via the bounded-state [[graft.functions.BottomKAgg]] sketch. The
    * textbook formulation (`row_number() OVER (PARTITION BY lang ORDER
    * BY priority) <= k`, which the DuckDB oracle runs) shuffles and
    * SORTS every stratum in full — the classic skew trap when one
    * language is 40% of a 100 TB corpus. The sketch replaces it with
    * one ordinary aggregate: per-task state is k (key, id) pairs per
    * stratum regardless of stratum size, partials merge map-side, and
    * only #langs × k longs ever cross the wire. Priorities are a
    * salted md5 prefix (15 hex chars = 60 bits, numeric in Spark /
    * lexicographic hex in DuckDB — same order), doc_id tie-broken, so
    * membership is engine-independent and re-runnable. */
  def sampleBottomK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("lang", "doc_id",
        """cast(conv(substr(md5(cast(concat('samp', cast(doc_id as string)) as binary)),
          |  1, 15), 16, 10) as bigint) as pk""".stripMargin)
      .groupBy(col("lang"))
      .agg(graft.functions.BottomKAgg.bottomK(col("pk"), col("doc_id"), SampleK).as("ids"))
      .select(col("lang"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("sample_rank"), col("doc_id"))
      .orderBy(col("lang"), col("sample_rank"))

  private[graft] val EpochK = 200L // sampled positions (epoch slots) per lang

  /** `cur_epoch_sample`: weighted epoch-quota sampling — for each
    * language stratum, how many copies of each document one training
    * epoch of [[EpochK]] slots draws when documents are sampled
    * proportional to token count (the doc-granular twin of
    * [[alphaMix]]'s source-level quotas). Implemented as DETERMINISTIC
    * SYSTEMATIC PPS SAMPLING (Madow's method): lay the documents on a
    * per-stratum number line of cumulative integer token weights
    * `[lo, lo+w)`, probe it at the k evenly-spaced positions
    * `p_j = ⌊(2j+1)·W / 2k⌋`, and a document's quota is the count of
    * positions falling in its interval — computed CLOSED-FORM per
    * document from (lo, w, W) with pure integer arithmetic (two
    * floor-divisions), so the whole sample is engine-exact: no RNG, no
    * logs/pow (the Efraimidis–Spirakis exponential-race form needs
    * `u^(1/w)`, whose libm rounding differs across engines — the
    * repo's determinism policy admits only correctly-rounded IEEE ops
    * in hash-compared output, so the integer-systematic form IS the
    * distributed-exact answer to weighted sampling). Inclusion
    * probability is exactly min(1, k·w/W) per draw position, the PPS
    * contract.
    *
    * Plan shape: one per-stratum prefix-sum window (doc_id order), the
    * stratum totals riding the SAME lang-hash exchange as a
    * partition-only window, then a pure map-side quota formula — no
    * join against a positions table, no per-stratum top-k, no second
    * shuffle. At 100 TB the prefix sum is the only corpus-wide sort;
    * production would two-level it (bucket subtotals + within-bucket
    * prefix), which changes no output since doc_id order is global
    * either way. */
  def epochSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val k = EpochK
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        expr("cast(size(split(text, ' ')) as bigint)").as("wt"))
      .withColumn("lo", coalesce(sum(col("wt")).over(w), lit(0L)))
      .withColumn("tot", sum(col("wt")).over(Window.partitionBy(col("lang"))))
      // smallest j with (2j+1)·W ≥ 2k·lo, clamped at 0
      .withColumn("j_min",
        greatest(lit(0L), expr(s"(2 * $k * lo + tot - 1) div (2 * tot)")))
      // largest j with (2j+1)·W ≤ 2k·(lo+wt) − 1, clamped at k−1;
      // written as ((q+1) div 2) − 1 ≡ ⌊(q−1)/2⌋ so every division has
      // non-negative operands (Spark `div` truncates, DuckDB `//`
      // floors — they only agree away from negative numerators)
      .withColumn("j_max",
        least(lit(k - 1),
          expr(s"(((2 * $k * (lo + wt) - 1) div tot) + 1) div 2 - 1")))
      .filter(col("j_max") >= col("j_min"))
      .select(col("lang"), col("doc_id"),
        (col("j_max") - col("j_min") + 1).as("n_copies"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Corpus composition report — the training-mix table: documents,
    * tokens, and token share per (lang, source). The share is one IEEE
    * division of exact integer sums; the full-result window runs over
    * #langs × #sources rows (bounded metadata, not corpus). */
  def tokenMix(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(cast(size(split(text, ' ')) as bigint))").as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(Window.partitionBy()).cast("double"))
      .orderBy(col("lang"), col("source"))

  /** Temperature-scaled source mixing (the T5/LLaMA data-mix step):
    * sampling weights ∝ tokens^α with α = 0.5, i.e. upsample the small
    * sources, downsample the big ones. sqrt is IEEE
    * correctly-rounded, so the α-weights — and every derived share and
    * epoch quota — are bit-identical across engines; the epoch quota
    * floor-quantizes expected docs for a 100k-doc epoch. Everything
    * after the one groupBy runs over #(lang, source) metadata rows;
    * the window total is bounded by the source taxonomy, not the
    * corpus. */
  def alphaMix(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(cast(size(split(text, ' ')) as bigint))").as("n_tokens"))
      .withColumn("alpha_w", sqrt(col("n_tokens").cast("double")))
      .withColumn("natural_share",
        col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(Window.partitionBy()).cast("double"))
      // the α-weight total is summed as DECIMAL(38,9): double addition
      // is order-dependent and the window's row order is not — the
      // decimal sum is exact, so the denominator is bit-stable in both
      // engines
      .withColumn("alpha_share",
        col("alpha_w") /
          sum(col("alpha_w").cast(DecimalType(38, 9)))
            .over(Window.partitionBy()).cast("double"))
      .withColumn("upsample_factor", col("alpha_share") / col("natural_share"))
      .withColumn("epoch_quota",
        floor(col("alpha_share") * 100000).cast("long"))
      .drop("alpha_w")
      .orderBy(col("lang"), col("source"))

  private val ChunkSize = 128
  private val ChunkStride = 96 // 32-token overlap between neighbors

  /** Overlapping token-window chunking — the RAG/embedding prep step:
    * each document becomes ceil-strided 128-token windows at stride 96
    * (32-token overlap), the last window clipped at the document end.
    * Emits the window's token count and an md5 content fingerprint
    * rather than the text, so the audit output stays narrow. Pure
    * per-doc map-side transform + explode: embarrassingly parallel,
    * no shuffle before the output sort. */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame =
    chunkWindowsOf(Tables.documents(spark, dir))

  private[graft] def chunkWindowsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr("split(text, ' ')"))
      .withColumn("n", expr("size(toks)"))
      // windows = 1 + ceil((n − size)/stride) = 1 + (n − size + stride − 1) div stride
      .withColumn("n_chunks", expr(
        s"case when n <= $ChunkSize then 1 else 1 + (n - ${ChunkSize - ChunkStride + 1}) div $ChunkStride end"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, n_chunks - 1),
           |  k -> slice(toks, k * $ChunkStride + 1, $ChunkSize))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        expr("cast(size(col) as bigint)").as("n_chunk_tokens"),
        expr("md5(cast(array_join(col, ' ') as binary))").as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_id"))

  private val LpaRounds = 10
  /** Max LPA rounds fused into one below-gate materialization.
    * 2 → 4 in the r18 optimization round (r17 verdict item 4): below
    * the gate a round's cost is its materialization + count round
    * trips, not its votes, so deeper fusion trades more in-job
    * broadcast-build chaining (each hop's ~|V|-row label build is one
    * small driver-side job step) for fewer checkpoint round trips —
    * the co-purchase fixture converges in 2 materializations instead
    * of 4 (OPTIMIZATION_r18.md; job counts from `perfbench/run.py
    * --workload catalog_serial --keys cur_communities --trace 1`; a
    * mid-batch fixpoint is self-healing, so over-shooting the
    * convergence round by up to 3 hops costs only sub-gate-sized in-job
    * votes). The giant path is untouched — there a vote is real work
    * and never batched. */
  private val LpaBatchHops = 4

  /** `cur_communities`: community detection on the co-purchase graph
    * by SYNCHRONOUS label propagation (the GraphFrames/Pregel LPA
    * shape), made fully deterministic: every node starts as its own
    * label; each round every node adopts the most frequent label among
    * its neighbors, ties broken toward the smallest label; fixed
    * [[LpaRounds]] rounds (synchronous LPA can oscillate on bipartite
    * structures — a bounded round count is the standard cap, and
    * determinism holds regardless of convergence). Unlike
    * [[components]] (pure reachability) LPA is density-driven: two
    * cliques joined by one bridge edge stay separate communities
    * because the bridge endpoint is outvoted by its own clique
    * (CommunitySpec pins exactly that, plus full equality with an
    * independent sequential simulation of the same rule).
    *
    * Scale shape — FRONTIER-ONLY propagation behind a state-size
    * gate: a node's vote multiset is its neighbors' round-(r−1)
    * labels, so if no neighbor changed last round the multiset is
    * unchanged and the node provably keeps its label; each round
    * therefore recomputes ONLY the nodes with a changed neighbor. The
    * frontier (last round's changed set) and the affected set it
    * induces are id-only frames that SHRINK every round and ride as
    * semi-join filters. ALL per-round |V|-bounded state — the label
    * table on the vote join, the frontier/affected filters, the label
    * patch — broadcasts below [[StateBroadcastMaxRows]] and falls
    * back to SHUFFLE-HASH joins above it: on a giant graph the state
    * crosses the wire partitioned, never resident whole in one
    * executor, and never sort-merged per round (the edge frame is
    * hash-partitioned on dst once at checkpoint time for that path).
    * The vote itself is `mode(lbl, deterministic = true)` — the exact
    * most-frequent/lowest-on-ties rule as a single partial-aggregating
    * built-in (no (node, label) pre-count, no per-node sort). A
    * fixpoint early-stop (empty frontier ⇒ every later round is a
    * no-op) keeps the run at its actual convergence depth; rounds
    * whose frontier still spans most of the graph skip the filtering
    * and recompute everything in the voted frame directly (no patch
    * join — filtering would cost more than it saves; measured on the
    * co-purchase fixture, >50% of labels churn through round 5, so
    * the frontier arms for the tail rounds: changed counts 20000,
    * 15005, 14588, 13730, 751, 1, 0 at sf0.1). Lineage cut per round
    * ([[components]] precedent); output is the bounded community-size
    * table. Iterative argmax ⇒ not SQL-expressible: rows-only key,
    * pinned by CommunitySpec. */
  def communities(spark: SparkSession, dir: String): DataFrame =
    communitiesOf(coPurchaseEdges(spark, dir))

  /** LPA over a simple undirected edge list (u < v, distinct);
    * returns (community, n_nodes) with community = the shared label.
    * `stateBroadcastMaxRows` gates the node-set broadcasts (tests
    * force 0 to exercise the all-shuffle giant-graph path). */
  private[graft] def communitiesOf(e0: DataFrame,
      stateBroadcastMaxRows: Long = StateBroadcastMaxRows): DataFrame = {
    val nPart = e0.sparkSession.sessionState.conf.numShufflePartitions
    val undCk = GraftBridge.checkpoint(e0.select(col("u").as("src"), col("v").as("dst"))
      .union(e0.select(col("v").as("src"), col("u").as("dst"))))
    var und = undCk.frame
    // checkpoint + gate count ride one job
    val labelsCk = GraftBridge.checkpoint(
      und.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")))
    val nNodes = labelsCk.rows
    var labels = labelsCk.frame
    // giant-graph path only: re-spread the directed copy on dst before
    // the rounds, with the layout RE-ASSERTED on the checkpoint
    // (the hashed form of GraftBridge.checkpoint) so the planner SEES
    // it: the per-round label join (and the tail rounds' dst semi-join)
    // then plans exchange-free on the 2|E| edge side, moving only the
    // |V|-row label frame per round. Without the assertion the
    // checkpointed LogicalRDD reports UnknownPartitioning and every
    // round replans a full 2|E| ENSURE_REQUIREMENTS exchange — the
    // r9-round form paid exactly that. Below the gate the label side
    // broadcasts and the layout is moot — skip the extra exchange +
    // materialization. (dst, not src: the vote's own src re-spread is
    // over the POST-join frame, whose clustering a label join on dst
    // destroys anyway, so src pre-partitioning buys nothing — first
    // measured as the r8 "pre-partition by src" rejection, now
    // structural.)
    // SMALL-graph regime: sub-gate node state AND a sub-[[SmallGraphEdgeRows]]
    // edge list — only then are the rounds scheduling-bound, not
    // compute-bound (job profile at sf0.1: 871 tasks averaging ~38 ms
    // executor time for <1 s of real compute), and only then do the
    // latency levers below arm (multi-hop batching, AQE off, narrowed
    // widths, coalesced edge copy). Keying them on nNodes alone was
    // the r12 ×100 OOM: |V| = 2M sits AT the gate while 2|E| = 480M —
    // sub-gate STATE says nothing about edge volume, and a batched
    // hop's chained 2M-row broadcasts plus full-graph votes in one job
    // exhaust the heap. The big-but-sub-gate regime rides the proven
    // single-hop path (AQE on, broadcast state, full-round re-spread).
    // The edge volume is the row count und's own checkpoint job
    // returned — sizing by df.count() cost a full cached scan per
    // invocation (~4 s/rep at ×10, the r12 sweep's one regression
    // before the count rode the checkpoint)
    val small = nNodes <= stateBroadcastMaxRows && undCk.rows <= SmallGraphEdgeRows
    val votePart = if (small) GraftBridge.stateWidth(e0.sparkSession, nNodes) else nPart
    if (nNodes > stateBroadcastMaxRows) {
      val spread = GraftBridge.checkpoint(und, Some((nPart, Seq("dst")))).frame
      GraftBridge.releaseLocalCheckpoint(und)
      und = spread
    } else if (small && und.rdd.getNumPartitions > 2 * votePart) {
      val slim = und.coalesce(2 * votePart).localCheckpoint()
      GraftBridge.releaseLocalCheckpoint(und)
      und = slim
    }
    def gated(s: DataFrame, n: Long): DataFrame =
      if (n <= stateBroadcastMaxRows) broadcast(s) else s.hint("shuffle_hash")
    // the checkpoints backing the CURRENT state (labels + frontier);
    // on the GIANT path superseded ones are released the moment the
    // round's replacement is materialized — Dataset.unpersist is a
    // CacheManager no-op for checkpoints, so without the explicit RDD
    // release R rounds pin R label copies until the ContextCleaner's
    // GC gets around to them. Below the gate the release is SKIPPED:
    // every per-round frame is O(|V|) ≤ the broadcast gate, so the
    // superseded set is bounded garbage GC can own, and the per-round
    // RemoveRdd traffic measurably contends with the next round's
    // tasks (warm cur_communities 5.1 → 5.9 s at sf0.1 when released
    // eagerly; the one-time O(|E|) releases below stay unconditional)
    val giant = nNodes > stateBroadcastMaxRows
    def releaseSuperseded(dfs: Seq[DataFrame]): Unit =
      if (giant) dfs.foreach(GraftBridge.releaseLocalCheckpoint)
    var owned: Seq[DataFrame] = Seq(labels)
    // frontier = (ids changed last round, count); None = recompute all
    var frontier: Option[(DataFrame, Long)] = None
    var r = 0
    var done = false
    // Below the gate the rounds are SCHEDULING-bound: with AQE on,
    // every exchange materializes as its own job (~6 jobs × ~100 ms
    // driver round trip per round — 54 jobs for <1 s of executor
    // compute at sf0.1, job-count-profiled). AQE buys nothing on
    // sub-gate state (all joins are already hint-decided broadcasts,
    // widths are set explicitly above), so the rounds plan on a
    // session clone with it OFF (GraftBridge.roundSession, at
    // the caller's width: the unrepartitioned tail-round exchanges keep
    // nPart) and each round collapses to checkpoint-job + count-job.
    // The giant path keeps AQE (skew joins, runtime re-plan).
    val sess = und.sparkSession
    if (small) {
      val rounds = GraftBridge.roundSession(sess, nPart)
      und = GraftBridge.onSession(rounds, und)
      labels = GraftBridge.onSession(rounds, labels)
    }
    while (r < LpaRounds && !done) {
      // a round recomputes every node when the frontier spans most of
      // the graph (the semi-join filters would pass nearly everything;
      // measured on the co-purchase fixture: >50% of labels churn
      // through round 5, so the filters only arm for the tail rounds)
      val full = frontier.forall(_._2 * 2 > nNodes)
      if (full && small && LpaRounds - r >= 2) {
        // MULTI-HOP batched full rounds (small-graph regime only): both the
        // compute and the state fit trivially, so the cost of a round
        // is its materialization + count round trips, not its work —
        // fusing up to [[LpaBatchHops]] synchronous LPA applications
        // into ONE checkpoint cuts the co-purchase fixture from 7 to 2
        // materializations. Every hop re-votes EVERY node from the
        // previous hop's unmaterialized label table — the full
        // recompute is correct for any frontier, so no changed-count
        // is needed between hops, and a mid-batch fixpoint is
        // self-healing (l_i == l_{i-1} forces every later hop equal,
        // so the final diff still reads 0). Each hop's label frame
        // broadcasts ONCE (ReuseExchange: the next vote join and the
        // diff join reference identical canonical subplans); the
        // builds chain driver-side but each is one small job. The
        // giant path keeps single rounds — there a vote is real work
        // and duplicating it inside broadcast builds is not free.
        def vote(lbls: Option[DataFrame]): DataFrame = {
          val base = lbls match {
            case None => und.withColumn("lbl", col("dst"))
            case Some(l) => und
              .join(broadcast(l.as("lv")), col("dst") === col("lv.id"))
              .select(col("src"), col("lv.lbl").as("lbl"))
          }
          base.repartition(votePart, col("src"))
            .groupBy(col("src").as("id"))
            .agg(mode(col("lbl"), deterministic = true).as("nlbl"))
        }
        val hops = math.min(LpaBatchHops, LpaRounds - r)
        var prev = if (r == 0) None: Option[DataFrame] else Some(labels)
        var vH: DataFrame = null
        var lPrev: DataFrame = null
        (1 to hops).foreach { _ =>
          vH = vote(prev)
          lPrev = prev.orNull
          prev = Some(vH.select(col("id"), col("nlbl").as("lbl")))
        }
        // diff the LAST two hops (fixpoint ⟺ they agree); hops ≥ 2 so
        // lPrev is hop H−1's frame (or the own-id base when H == 1
        // never happens here)
        val withA = vH.as("vb")
          .join(broadcast(lPrev.as("la")), col("vb.id") === col("la.id"))
          .select(col("vb.id"), col("vb.nlbl"), col("la.lbl").as("lbla"))
        // diff count fused into the materializing job itself — the
        // agg-collect was one more full scheduling round trip per batch
        val ck = checkpointCountingChanged(
          withA.withColumn("chg", col("nlbl") =!= col("lbla")))
        val (next, nB) = (ck.frame, ck.tally)
        releaseSuperseded(owned)
        owned = Seq(next)
        labels = next.select(col("id"), col("nlbl").as("lbl"))
        if (nB == 0) done = true
        else frontier =
          Some((next.filter(col("chg")).select(col("id")), nB))
        r += hops
      } else {
      val scoreEdges =
        if (full) und
        else {
          // only nodes with a changed neighbor can change; score ALL
          // edges of exactly those nodes. The affected set stays an
          // unmaterialized subplan — it fuses into the voting job
          // (computed once, inside its broadcast/shuffle exchange)
          // instead of paying a separate checkpoint + count
          val (f, nf) = frontier.get
          val aff = und
            .join(gated(f.select(col("id").as("dst")), nf),
              Seq("dst"), "left_semi")
            .select(col("src")).distinct()
          und.join(gated(aff, nNodes), Seq("src"), "left_semi")
        }
      // explicit re-spread before the vote: the groupBy's own exchange
      // is ENSURE_REQUIREMENTS, which AQE coalesces under one advisory
      // partition (the bench config sizes by input, and mode's partial
      // map buffers outweigh the raw rows) — a REPARTITION_BY_COL
      // exchange is never coalesced, keeps all nPart tasks on the
      // merge, and lets the aggregate ride it with no second exchange
      // (measured: full rounds 1.8/1.3/1.0/0.85 → 0.7/0.75/0.6/0.45 s
      // at sf0.1 under the bench session)
      // round 1 shortcut: labels start as own-id, so the neighbor's
      // label IS the neighbor — vote over dst directly, no label join.
      // BELOW-GATE tail rounds skip the explicit re-spread: their edge
      // slice is tiny, and the forced fan-out costs more scheduling
      // latency than the coalesced ENSURE_REQUIREMENTS exchange (mode
      // is tie-deterministic, so partitioning never changes the
      // answer). GIANT tail rounds keep it — a sub-half frontier can
      // still be billions of rows, and AQE sizes the merge by raw
      // bytes, under-provisioning mode's partial map buffers (the r8
      // measurement that introduced the re-spread).
      // both label joins this round reference the RAW labels frame and
      // key on `id` via an explicit condition (no rename Project in
      // front of the exchange): the vote join's and the diff join's
      // broadcast plans then CANONICALIZE IDENTICALLY and ReuseExchange
      // collapses them into one broadcast job per round (the renamed
      // forms each built their own — one extra scheduling round trip
      // per full round; job-count-profiled, not wall-profiled)
      val joined =
        if (r == 0) scoreEdges.withColumn("lbl", col("dst"))
        else scoreEdges
          .join(gated(labels.as("lvote"), nNodes),
            col("dst") === col("lvote.id"))
          .select(col("src"), col("lvote.lbl").as("lbl"))
      val voted =
        (if (full || giant) joined.repartition(votePart, col("src")) else joined)
        .groupBy(col("src").as("id"))
        .agg(mode(col("lbl"), deterministic = true).as("nlbl"))
      if (full) {
        // voted covers every node: it IS the next label table — no
        // patch join. The old-label diff is FUSED into the voting job
        // (round 1: the old label is the id itself — no join at all;
        // later rounds: a second labels join keyed on id rides the
        // same job — broadcast below the gate, shuffle-hash above,
        // exactly like the diff join it replaces, but without its own
        // checkpoint + scheduling round trip; measured ~0.3 s/full
        // round at sf0.1). ONE materialization per round carries
        // (id, nlbl, olbl); labels and the changed frontier are narrow
        // projections over that checkpoint
        val ck = checkpointCountingChanged(
          (if (r == 0) voted.withColumn("olbl", col("id"))
           else voted.as("v").hint("shuffle_hash")
             .join(gated(labels.as("ldiff"), nNodes),
               col("v.id") === col("ldiff.id"))
             .select(col("v.id"), col("nlbl"), col("ldiff.lbl").as("olbl")))
          .withColumn("chg", col("nlbl") =!= col("olbl")))
        val (next, nChanged) = (ck.frame, ck.tally)
        val changedIds = next.filter(col("chg")).select(col("id"))
        releaseSuperseded(owned)
        owned = Seq(next)
        labels = next.select(col("id"), col("nlbl").as("lbl"))
        if (nChanged == 0) done = true
        else frontier = Some((changedIds, nChanged))
      } else {
        // voted covers affected nodes only: ONE materialization patches
        // them into the label table, carrying (id, olbl, lbl) — the
        // changed frontier and the next labels are narrow projections
        // over that checkpoint, exactly the full-arm shape. (The r11
        // form checkpointed the small `changed` probe AND the patched
        // labels separately — one extra scheduling round trip per tail
        // round, ~0.3-0.5 s of pure fixed overhead at sf0.1 across the
        // 751→1→0 tail.) The voted side is the hash build — broadcast
        // below the gate, shuffle-hash above it; without statistics the
        // checkpointed labels planned as a per-round sort.
        // voted's true size is unknown pre-count (≤ the affected set,
        // which can approach |V| on a big sub-gate graph), so only the
        // small regime broadcasts it; otherwise hash-build it shuffled
        val ck = checkpointCountingChanged(labels
          .join(if (small) broadcast(voted) else voted.hint("shuffle_hash"),
            Seq("id"), "left")
          .select(col("id"), col("lbl").as("olbl"),
            coalesce(col("nlbl"), col("lbl")).as("lbl"))
          .withColumn("chg", col("lbl") =!= col("olbl")))
        val (next, nChanged) = (ck.frame, ck.tally)
        val changedIds = next.filter(col("chg")).select(col("id"))
        releaseSuperseded(owned)
        owned = Seq(next)
        labels = next.select(col("id"), col("lbl"))
        if (nChanged == 0) done = true
        else frontier = Some((changedIds, nChanged))
      }
      r += 1
      }
    }
    // materialize the bounded (community, n) result, then free the
    // working set — und is 2|E| rows and would otherwise stay pinned
    // for the session; the result is at most one row per community
    val result = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .localCheckpoint()
    (owned :+ und).foreach(GraftBridge.releaseLocalCheckpoint)
    GraftBridge.onSession(sess, result).orderBy(col("community"))
  }

  /** Corpus concentration report: the Gini coefficient of per-doc
    * token counts plus the share held by the largest 1% of documents —
    * the curation diagnostic for "is the token budget dominated by a
    * few giant docs" (feeding chunking/packing policy). Gini comes
    * from the rank identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over
    * ascending-ranked counts, so the whole computation is two integer
    * aggregates over a GLOBAL EXACT rank — computed distributed by
    * [[graft.plans.ExactRank]] (range partition + per-partition
    * row_number + driver offsets; no single-partition window), the
    * same scan the z-order writer uses. (doc_id tie-break makes the
    * rank total, and the identity is tie-order invariant: equal x
    * across a rank run contributes the same Σ i·x either way.)
    * Integer sums stay far below 2^53 at every tier (documents don't
    * scale in the ×N fixtures); a corpus where Σ rank·tokens
    * approaches 2^53 would reuse `ev_moments`' hi/lo split for the
    * final double casts. */
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    val nPart = spark.sessionState.conf.numShufflePartitions
    val counts = Tables.documents(spark, dir)
      .selectExpr("doc_id", "cast(size(split(text, ' ')) as bigint) as x")
    val (ranked, _) = graft.plans.ExactRank.withRank(
      counts, nPart, Seq(col("x"), col("doc_id")), "rnk")
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("rnk")).as("sxr"))
    ranked.join(broadcast(tot))
      .withColumn("k", ceil(col("n") / lit(100.0)).cast("long"))
      .groupBy(col("n"), col("sx"), col("sxr"))
      .agg(sum(when(col("rnk") > col("n") - col("k"), col("x"))
        .otherwise(lit(0L))).as("top_x"))
      .select(col("n"), col("sx").as("total_tokens"),
        ((lit(2.0) * col("sxr").cast(DoubleType) -
          (col("n") + 1).cast(DoubleType) * col("sx").cast(DoubleType)) /
          (col("n").cast(DoubleType) * col("sx").cast(DoubleType))).as("gini"),
        (col("top_x").cast(DoubleType) / col("sx").cast(DoubleType))
          .as("top1_share"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cur_communities" -> communities,
    "cur_token_gini" -> tokenGini,
    "cur_components" -> components,
    "cur_corpus"     -> curatedCorpus,
    "cur_canonical"  -> canonicalDocs,
    "cur_pagerank"   -> pageRank,
    "cur_triangles"  -> triangles,
    "cur_assoc_rules" -> assocRules,
    "cur_kcore"      -> kcore,
    "cur_pack_sequences" -> packSequences,
    "cur_hash_split" -> hashSplit,
    "cur_funnel"     -> funnel,
    "cur_token_mix"  -> tokenMix,
    "cur_chunk_windows" -> chunkWindows,
    "cur_alpha_mix"  -> alphaMix,
    "cur_sample_bottomk" -> sampleBottomK,
    "cur_epoch_sample" -> epochSample)

  /** Components oracle: DuckDB recursive CTE computing min reachable id
    * over the same near-dup edges (same jaccard threshold/shingles). */
  private val dShingles =
    """list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
      |  i -> concat_ws(' ', string_split(text, ' ')[i], string_split(text, ' ')[i + 1],
      |                 string_split(text, ' ')[i + 2])))""".stripMargin

  private val edgesSql =
    s"""WITH RECURSIVE sh AS (SELECT doc_id, $dShingles AS s FROM documents),
       |e AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
       |             any_value(a.n) AS na, any_value(b.n) AS nb
       |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |edges AS (SELECT doc_a, doc_b FROM p
       |          WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.8),
       |sym AS (SELECT doc_a, doc_b FROM edges
       |        UNION ALL SELECT doc_b, doc_a FROM edges)""".stripMargin

  override val oracles: Map[String, String] = Map(
    "cur_token_gini" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, x,
        |         ROW_NUMBER() OVER (ORDER BY x, doc_id) AS rnk
        |  FROM c),
        |t AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |         CAST(SUM(x * rnk) AS BIGINT) AS sxr
        |  FROM r),
        |s AS (
        |  SELECT t.n, t.sx, t.sxr,
        |         (SELECT CAST(SUM(r.x) AS BIGINT) FROM r, t
        |          WHERE r.rnk > t.n - CAST(CEIL(t.n / 100.0) AS BIGINT))
        |           AS top_x
        |  FROM t)
        |SELECT n, sx AS total_tokens,
        |       (2.0 * CAST(sxr AS DOUBLE)
        |          - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini,
        |       CAST(top_x AS DOUBLE) / CAST(sx AS DOUBLE) AS top1_share
        |FROM s""".stripMargin,
    "cur_epoch_sample" ->
      s"""WITH d AS (SELECT lang, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS wt
        |           FROM documents),
        |c AS (SELECT lang, doc_id, wt,
        |        COALESCE(SUM(wt) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
        |        SUM(wt) OVER (PARTITION BY lang) AS tot
        |      FROM d),
        |j AS (SELECT lang, doc_id,
        |        GREATEST(0, (2 * $EpochK * lo + tot - 1) // (2 * tot)) AS j_min,
        |        LEAST($EpochK - 1,
        |          (((2 * $EpochK * (lo + wt) - 1) // tot) + 1) // 2 - 1) AS j_max
        |      FROM c)
        |SELECT lang, doc_id,
        |       CAST(j_max - j_min + 1 AS BIGINT) AS n_copies
        |FROM j WHERE j_max >= j_min
        |ORDER BY lang, doc_id""".stripMargin,
    "cur_sample_bottomk" ->
      s"""WITH keyed AS (
        |  SELECT lang, doc_id,
        |         substr(md5(concat('samp', CAST(doc_id AS VARCHAR))), 1, 15) AS pk
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |                                ORDER BY pk, doc_id) AS sample_rank
        |      FROM keyed)
        |SELECT lang, sample_rank, doc_id FROM r
        |WHERE sample_rank <= $SampleK
        |ORDER BY lang, sample_rank""".stripMargin,
    "cur_assoc_rules" ->
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pid
        |            FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM it),
        |s AS (SELECT pid, COUNT(*) AS sup FROM it GROUP BY 1),
        |p AS (SELECT a.pid AS a, b.pid AS b, COUNT(*) AS pair_sup
        |      FROM it a JOIN it b ON a.ok = b.ok AND a.pid < b.pid
        |      GROUP BY 1, 2 HAVING COUNT(*) >= $AssocMinSupport),
        |r AS (SELECT a AS antecedent, b AS consequent, pair_sup FROM p
        |      UNION ALL
        |      SELECT b, a, pair_sup FROM p)
        |SELECT r.antecedent, r.consequent, r.pair_sup,
        |       sa.sup AS sup_a, sc.sup AS sup_c, n.n_orders,
        |       CAST(r.pair_sup AS DOUBLE) / sa.sup AS confidence,
        |       CAST(r.pair_sup * n.n_orders AS DOUBLE) /
        |         CAST(sa.sup * sc.sup AS DOUBLE) AS lift
        |FROM r
        |JOIN s sa ON sa.pid = r.antecedent
        |JOIN s sc ON sc.pid = r.consequent
        |CROSS JOIN n
        |ORDER BY lift DESC, r.antecedent, r.consequent
        |LIMIT $AssocTopK""".stripMargin,
    "cur_triangles" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pid
        |            FROM lineitem),
        |e AS (SELECT DISTINCT a.pid AS u, b.pid AS v
        |      FROM it a JOIN it b ON a.ok = b.ok AND a.pid < b.pid),
        |d AS (SELECT id, COUNT(*) AS deg FROM (
        |        SELECT u AS id FROM e UNION ALL SELECT v FROM e)
        |      GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n_tri
        |      FROM e e1
        |      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT (SELECT COUNT(*) FROM d) AS n_nodes,
        |       (SELECT COUNT(*) FROM e) AS n_edges,
        |       (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM d)
        |         AS n_wedges,
        |       (SELECT n_tri FROM t) AS n_triangles,
        |       CAST(3 * (SELECT n_tri FROM t) AS DOUBLE) /
        |         CAST((SELECT SUM(deg * (deg - 1) // 2) FROM d) AS DOUBLE)
        |         AS global_cc""".stripMargin,
    "cur_funnel" ->
      s"""$edgesSql,
         |walk(doc_id, target) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.doc_id, s.doc_b FROM walk w JOIN sym s ON w.target = s.doc_a),
         |comp AS (SELECT doc_id, MIN(target) AS component FROM walk GROUP BY 1),
         |base AS (SELECT d.doc_id, d.lang,
         |                CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |                CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
         |                  / len(string_split(d.text, ' ')) AS dr,
         |                d.doc_id = MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) AS s1,
         |                d.doc_id = c.component AS s2
         |         FROM documents d JOIN comp c ON d.doc_id = c.doc_id),
         |flags AS (SELECT n_tokens,
         |                 CASE WHEN NOT s1 THEN 0 WHEN NOT s2 THEN 1
         |                      WHEN NOT (n_tokens BETWEEN 20 AND 500 AND dr > 0.3) THEN 2
         |                      WHEN NOT (substr(md5(concat('strat', CAST(doc_id AS VARCHAR))), 1, 4)
         |                                < (CASE WHEN lang = 'en' THEN '4000' ELSE 'c000' END)) THEN 3
         |                      ELSE 4 END AS last_stage
         |          FROM base),
         |f AS (SELECT unnest(generate_series(0, last_stage)) AS stage, n_tokens FROM flags)
         |SELECT stage,
         |       CASE stage WHEN 0 THEN 'raw' WHEN 1 THEN 'exact_dedup'
         |            WHEN 2 THEN 'neardup_dedup' WHEN 3 THEN 'quality'
         |            ELSE 'stratified' END AS stage_name,
         |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM f GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "cur_alpha_mix" ->
      """WITH g AS (SELECT lang, source, COUNT(*) AS n_docs,
        |                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1, 2)
        |SELECT lang, source, n_docs, n_tokens,
        |       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
        |         AS natural_share,
        |       sqrt(CAST(n_tokens AS DOUBLE))
        |         / CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE))
        |                         AS DECIMAL(38,9))) OVER () AS DOUBLE)
        |         AS alpha_share,
        |       (sqrt(CAST(n_tokens AS DOUBLE))
        |         / CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE))
        |                         AS DECIMAL(38,9))) OVER () AS DOUBLE))
        |         / (CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE))
        |         AS upsample_factor,
        |       CAST(FLOOR((sqrt(CAST(n_tokens AS DOUBLE))
        |         / CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE))
        |                         AS DECIMAL(38,9))) OVER () AS DOUBLE)) * 100000)
        |         AS BIGINT) AS epoch_quota
        |FROM g ORDER BY lang, source""".stripMargin,
    "cur_token_mix" ->
      """WITH g AS (SELECT lang, source, COUNT(*) AS n_docs,
        |                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1, 2)
        |SELECT lang, source, n_docs, n_tokens,
        |       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
        |         AS token_share
        |FROM g ORDER BY lang, source""".stripMargin,
    "cur_chunk_windows" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |                  len(string_split(text, ' ')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id,
        |             CASE WHEN n <= 128 THEN 1 ELSE 1 + (n - 33) // 96 END AS n_chunks,
        |             toks, n
        |      FROM d),
        |w AS (SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS chunk_id,
        |             toks FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(len(list_slice(toks, chunk_id * 96 + 1, chunk_id * 96 + 128)) AS BIGINT)
        |         AS n_chunk_tokens,
        |       md5(array_to_string(list_slice(toks, chunk_id * 96 + 1, chunk_id * 96 + 128), ' '))
        |         AS chunk_fp
        |FROM w ORDER BY doc_id, chunk_id""".stripMargin,
    "cur_pack_sequences" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS BIGINT) AS start_offset
        |      FROM d)
        |SELECT doc_id, n_tokens, start_offset,
        |       start_offset // 2048 AS seq_id,
        |       start_offset % 2048 AS seq_offset
        |FROM c""".stripMargin,
    "cur_hash_split" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |         (doc_id * 2654435761) % 4294967296 % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "cur_components" ->
      s"""$edgesSql,
         |walk(doc_id, target) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.doc_id, s.doc_b FROM walk w JOIN sym s ON w.target = s.doc_a)
         |SELECT doc_id, MIN(target) AS component FROM walk GROUP BY 1""".stripMargin,
    "cur_corpus" ->
      s"""$edgesSql,
         |walk(doc_id, target) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.doc_id, s.doc_b FROM walk w JOIN sym s ON w.target = s.doc_a),
         |comp AS (SELECT doc_id, MIN(target) AS component FROM walk GROUP BY 1),
         |csize AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1),
         |toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |                  / len(string_split(text, ' ')) AS dr
         |         FROM documents)
         |SELECT c.doc_id, c.component, s.cluster_size, t.n_tokens
         |FROM comp c JOIN csize s USING (component) JOIN toks t ON c.doc_id = t.doc_id
         |WHERE c.doc_id = c.component
         |  AND t.n_tokens BETWEEN 20 AND 500 AND t.dr > 0.3
         |ORDER BY c.doc_id""".stripMargin,
    "cur_canonical" ->
      s"""$edgesSql,
         |walk(doc_id, target) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.doc_id, s.doc_b FROM walk w JOIN sym s ON w.target = s.doc_a),
         |comp AS (SELECT doc_id, MIN(target) AS component FROM walk GROUP BY 1),
         |csize AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1),
         |toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |                  / len(string_split(text, ' ')) AS dr
         |         FROM documents),
         |ranked AS (
         |  SELECT c.doc_id, c.component, t.dr,
         |         ROW_NUMBER() OVER (PARTITION BY c.component
         |                            ORDER BY t.dr DESC, c.doc_id) AS rk
         |  FROM comp c JOIN toks t ON c.doc_id = t.doc_id
         |  WHERE t.n_tokens BETWEEN 20 AND 500 AND t.dr > 0.3)
         |SELECT r.doc_id, r.component, s.cluster_size, r.dr AS distinct_ratio
         |FROM ranked r JOIN csize s USING (component)
         |WHERE r.rk = 1
         |ORDER BY r.doc_id""".stripMargin)
}
