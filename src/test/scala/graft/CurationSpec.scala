package graft

import graft.operators.{Curation, Dedup}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("components: every near-dup pair lands in one component, labels are minima") {
    val comp = Curation.components(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toMap
    val pairs = Dedup.ngramJaccard(spark, TestSpark.Sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    // the label is the component's min member
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min)
    }
    // every doc labeled exactly once
    assert(comp.size == graft.sources.Tables.documents(spark, TestSpark.Sf).count())
  }

  test("componentsOf: 200-node chain converges within the round cap (pointer jumping)") {
    val n = 200L
    val nodes = (0L until n).toDF("doc_id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // driverMaxEdgeRows = 0 forces the DISTRIBUTED loop (the tiny edge
    // list would otherwise take the driver union-find fast path);
    // diameter 199 >> maxRounds: pure one-hop propagation would throw
    val comp = Curation.componentsOf(nodes, edges, driverMaxEdgeRows = 0L)
      .as[(Long, Long)].collect()
    assert(comp.length == n)
    assert(comp.forall(_._2 == 0L), "chain collapses to min label 0")
  }

  test("componentsOf: driver union-find fast path equals the distributed loop") {
    // chains (transitivity), a triangle with a redundant edge, self and
    // duplicate edges, isolated nodes — the mapping must be identical
    // on both sides of the row gate.
    val nodes = (0L until 40L).toDF("doc_id")
    val edges = (Seq((3L, 1L), (1L, 2L), (10L, 11L), (11L, 12L), (12L, 10L),
      (10L, 12L), (20L, 20L), (30L, 31L), (30L, 31L), (5L, 7L), (7L, 6L)))
      .toDF("doc_a", "doc_b")
    val fast = Curation.componentsOf(nodes, edges)
      .as[(Long, Long)].collect().toSet
    val loop = Curation.componentsOf(nodes, edges, driverMaxEdgeRows = 0L)
      .as[(Long, Long)].collect().toSet
    assert(fast == loop,
      s"fastOnly=${(fast -- loop).take(5)} loopOnly=${(loop -- fast).take(5)}")
    assert(fast.size == 40 && fast.contains((3L, 1L)) && fast.contains((12L, 10L))
      && fast.contains((6L, 5L)) && fast.contains((20L, 20L)) && fast.contains((39L, 39L)))
  }

  test("componentsOf: phantom edge endpoints glue nothing on either side of the byte gate") {
    // id 100 is absent from `nodes`: the distributed loop drops (2,100)
    // and (100,3) at the label join, so 2 and 3 must NOT merge through
    // the phantom; the driver fast path must filter identically instead
    // of transitively gluing them through the union-find.
    val nodes = (0L until 10L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 100L), (100L, 3L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val fast = Curation.componentsOf(nodes, edges)
      .as[(Long, Long)].collect().toSet
    val loop = Curation.componentsOf(nodes, edges, driverMaxEdgeRows = 0L)
      .as[(Long, Long)].collect().toSet
    assert(fast == loop,
      s"fastOnly=${(fast -- loop).take(5)} loopOnly=${(loop -- fast).take(5)}")
    assert(fast.contains((2L, 1L)) && fast.contains((3L, 3L)) &&
      fast.contains((5L, 4L)), s"got $fast")
  }

  test("curated corpus: representatives only, quality-gated, sizes consistent") {
    val rows = Curation.curatedCorpus(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (docId, component, clusterSize, nTokens) =>
      assert(docId == component, "only representatives survive")
      assert(clusterSize >= 1)
      assert(nTokens >= 20 && nTokens <= 500)
    }
    // strictly fewer docs than the corpus (dupes + low quality removed)
    assert(rows.length < graft.sources.Tables.documents(spark, TestSpark.Sf).count())
  }

  test("canonical selection: one best member per cluster, dominates keep-first") {
    val canonical = Curation.canonicalDocs(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Double)].collect()
    val corpus = Curation.curatedCorpus(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    // one row per component in both
    assert(canonical.map(_._2).distinct.length == canonical.length)
    // every cluster keep-first kept has a canonical pick too (keep-first
    // requires the min-id member to pass quality; keep-best only needs
    // ANY member to pass), and canonical's member really is in-cluster
    val canonByComp = canonical.map(r => r._2 -> r._1).toMap
    corpus.foreach { case (_, compId, _, _) =>
      assert(canonByComp.contains(compId), s"component $compId lost by keep-best")
    }
    assert(canonical.length >= corpus.length)
    // the canonical member maximizes distinct_ratio within its cluster
    // among gate-passing members (re-derived from quality directly)
    val q = graft.operators.TextAnalysis.quality(spark, TestSpark.Sf)
      .select($"doc_id", $"keep", $"distinct_ratio")
      .as[(Long, Boolean, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val comp = Curation.components(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().groupBy(_._2)
    canonical.foreach { case (docId, compId, _, dr) =>
      val members = comp(compId).map(_._1).filter(d => q(d)._1)
      val bestDr = members.map(d => q(d)._2).max
      assert(dr == bestDr, s"component $compId picked $docId with dr $dr < $bestDr")
    }
  }

  test("pagerank: mass conserved, ring symmetric, hub dominates, bit-deterministic") {
    // ring of 6: perfect symmetry → all ranks exactly equal
    val ringEdges = (0L until 6L).flatMap(i =>
      Seq((i, (i + 1) % 6), ((i + 1) % 6, i))).toDF("src", "dst")
    val ring = Curation.pageRankOf(ringEdges).as[(Long, Double)].collect()
    assert(ring.length == 6 && ring.map(_._2).distinct.length == 1,
      s"ring must be rank-uniform: ${ring.toSeq}")
    // star: center co-occurs with every leaf → center must dominate
    val starEdges = (1L to 8L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val star = Curation.pageRankOf(starEdges).as[(Long, Double)].collect().toMap
    assert((1L to 8L).forall(l => star(0L) > star(l)), s"hub must dominate: $star")
    // fixture graph: mass ≈ node count (decimal rounding loss only),
    // and a second full run reproduces every rank bit-exactly
    val pr = Curation.pageRank(spark, TestSpark.Sf)
      .as[(Long, Double)].collect()
    assert(pr.nonEmpty)
    val mass = pr.map(_._2).sum
    assert(math.abs(mass - pr.length) < 1e-6 * pr.length,
      s"mass $mass vs ${pr.length} nodes")
    val again = Curation.pageRank(spark, TestSpark.Sf)
      .as[(Long, Double)].collect()
    assert(pr.toSeq == again.toSeq, "pagerank must be bit-deterministic")
  }

  test("pagerank: a caller-persisted edge frame ranks like an unpinned one") {
    // a CacheManager-persisted frame is no checkpoint: pageRankOf reuses
    // it instead of pinning a second copy, and still reads both gate
    // counts off its degree checkpoint
    val edges = (0L until 200L).map(i => (i % 37, (i * 7 + 3) % 37))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val want = Curation.pageRankOf(edges).as[(Long, Double)].collect().toSet
    val pinned = edges.persist()
    try {
      assert(pinned.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      assert(Curation.pageRankOf(pinned).as[(Long, Double)].collect().toSet == want)
    } finally pinned.unpersist()
  }

  test("pagerank: a checkpointed edge frame is reused, not pinned a second time") {
    // the shared co-purchase caches are localCheckpoints, which
    // Dataset.storageLevel never sees; pageRankOf must reuse one as it
    // reuses a CacheManager-persisted frame, so only an unpinned input
    // pins (and later releases) a copy of its own
    val edges = (0L until 200L).map(i => (i % 37, (i * 7 + 3) % 37))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val sc = spark.sparkContext
    // RDDs one call pins: those still persistent after it, plus those
    // it released on the way (RDD ids grow, so an id below the call's
    // first is an older RDD the cleaner dropped meanwhile)
    def pinnedBy(df: org.apache.spark.sql.DataFrame): Int = {
      val released = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onUnpersistRDD(
            e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
          released.add(e.rddId)
      }
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val first = sc.emptyRDD[Int].id
      sc.addSparkListener(listener)
      val ranks = try {
        val r = Curation.pageRankOf(df)
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        r
      } finally sc.removeSparkListener(listener)
      val pinned = sc.getPersistentRDDs.keySet ++ released.asScala
      org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(ranks)
      pinned.count(_ > first)
    }
    val unpinned = pinnedBy(edges)
    val ck = edges.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // persist() pins `edges` itself, so it comes after the unpinned call
    val persisted = edges.persist()
    try {
      persisted.count()
      val (checkpointed, cached) = (pinnedBy(ck), pinnedBy(persisted))
      assert(unpinned == cached + 1,
        s"an unpinned input pins its own copy: $unpinned vs $cached")
      assert(checkpointed == cached,
        s"a checkpointed input pinned a second copy: $checkpointed vs $cached")
    } finally {
      persisted.unpersist()
      org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(ck)
    }
  }

  test("funnel: monotone stages that reconcile with the standalone queries") {
    val stages = Curation.funnel(spark, TestSpark.Sf)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(stages.map(_._1).toSeq == (0L to 4L),
      "exactly stages 0..4, none empty")
    stages.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4, s"stage ${b._2} grew vs ${a._2}")
    }
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf)
    assert(stages(0)._3 == docs.count(), "stage 0 = raw corpus")
    assert(stages(1)._3 == graft.operators.Dedup.exact(spark, TestSpark.Sf).count(),
      "stage 1 = one representative per distinct text")
    val nComponents = Curation.components(spark, TestSpark.Sf)
      .select("component").distinct().count()
    assert(stages(2)._3 == nComponents, "stage 2 = one doc per near-dup component")
  }

  test("token mix: shares sum to 1 and totals reconcile with the corpus") {
    val rows = Curation.tokenMix(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Double)].collect()
    assert(rows.length > 1)
    val corpusTokens = graft.sources.Tables.documents(spark, TestSpark.Sf)
      .selectExpr("cast(sum(size(split(text, ' '))) as bigint)").as[Long].head()
    assert(rows.map(_._4).sum == corpusTokens)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-9)
  }

  test("chunk windows: stride, overlap, and tail clipping on multi-window docs") {
    // 300 distinct tokens → windows at 0/96/192: 128, 128, 108 tokens
    val toks = (0 until 300).map(i => s"t$i")
    val docs = Seq((1L, toks.mkString(" ")), (2L, "tiny doc")).toDF("doc_id", "text")
    val rows = Curation.chunkWindowsOf(docs)
      .as[(Long, Long, Long, String)].collect()
    val big = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(big.map(r => (r._2, r._3)).toSeq == Seq((0L, 128L), (1L, 128L), (2L, 108L)))
    // neighbor windows share exactly the 32-token overlap: fingerprints
    // must all differ, and the middle window starts at token 96
    assert(big.map(_._4).distinct.length == 3)
    val expectedMid = java.security.MessageDigest.getInstance("MD5")
      .digest(toks.slice(96, 224).mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(big(1)._4 == expectedMid, "window 1 covers tokens [96, 224)")
    assert(rows.filter(_._1 == 2L).map(r => (r._2, r._3)).toSeq == Seq((0L, 2L)),
      "short docs produce one clipped window")
  }

  test("alpha mix: shares sum to 1, temperature compresses the spread") {
    val rows = graft.operators.Curation.alphaMix(spark, TestSpark.Sf).collect()
      .map(r => (r.getAs[Double]("natural_share"),
        r.getAs[Double]("alpha_share"),
        r.getAs[Double]("upsample_factor"), r.getAs[Long]("epoch_quota")))
    assert(math.abs(rows.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)
    rows.foreach { case (nat, alpha, up, quota) =>
      assert(math.abs(up - alpha / nat) < 1e-12)
      assert(quota == math.floor(alpha * 100000).toLong)
    }
    // α = 0.5 compresses the spread: the factor is ∝ 1/√tokens, so it
    // strictly decreases as natural share grows, and since the
    // natural-weighted mean of the factors is exactly 1 the smallest
    // source is upsampled and the largest downsampled.
    val sorted = rows.sortBy(_._1)
    val ups = sorted.map(_._3)
    assert(ups.zip(ups.tail).forall { case (a, b) => a >= b },
      "upsample factor monotone non-increasing in natural share")
    assert(ups.head >= 1.0 && ups.last <= 1.0)
    // Ordering preserved: a bigger corpus never gets a smaller share.
    assert(sorted.map(_._2).sameElements(sorted.map(_._2).sorted))
  }

  test("triangle census: known graphs exact, fixture matches brute force") {
    import spark.implicits._
    def census(edges: Seq[(Long, Long)]) =
      graft.operators.Curation.trianglesOf(edges.toDF("u", "v"))
        .as[(Long, Long, Long, Long, Double)].collect().head
    // K4: 4 nodes, 6 edges, 12 wedges, 4 triangles, cc = 1
    val k4 = census(Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)))
    assert(k4 == ((4L, 6L, 12L, 4L, 1.0)))
    // C4 (square): 4 wedges, no triangles
    val c4 = census(Seq((1L,2L),(2L,3L),(3L,4L),(1L,4L)))
    assert(c4 == ((4L, 4L, 4L, 0L, 0.0)))
    // triangle + pendant tail: hub degree 3 -> 3 wedges + 2 = 5, 1 triangle
    val tail = census(Seq((1L,2L),(2L,3L),(1L,3L),(3L,4L)))
    assert(tail._4 == 1L && tail._3 == 5L)
    // fixture: brute-force recomputation over the co-purchase edge set
    val items: Vector[(Long, Long)] =
      graft.sources.Tables.lineitem(spark, TestSpark.Sf)
        .select("l_orderkey", "l_partkey")
        .as[(Long, Long)].collect().toVector.distinct
    val adj: Set[(Long, Long)] = items.groupBy(_._1).valuesIterator
      .flatMap { g =>
        for { a <- g; b <- g if a._2 < b._2 } yield (a._2, b._2)
      }.toSet
    val nbrs = adj.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val bruteTri = adj.toSeq.map { case (u, v) =>
      (nbrs.getOrElse(u, Set.empty) & nbrs.getOrElse(v, Set.empty)).size.toLong
    }.sum
    val got = graft.operators.Curation.triangles(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(got._2 == adj.size.toLong, "edge count")
    assert(got._4 == bruteTri, s"triangles got ${got._4} want $bruteTri")
  }

  test("association rules: hand-computed support/confidence/lift, both directions") {
    import spark.implicits._
    val items = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L),
      (4L, 3L), (4L, 4L),
      (5L, 1L)).toDF("ok", "pid")
    val rules = graft.operators.Curation.assocRulesOf(items)
      .select("antecedent", "consequent", "pair_sup", "sup_a", "sup_c",
        "n_orders", "confidence", "lift")
      .as[(Long, Long, Long, Long, Long, Long, Double, Double)]
      .collect().toSeq
    // only the (1,2) pair reaches support 2; both directions emitted
    assert(rules.map(r => (r._1, r._2)).toSet == Set((1L, 2L), (2L, 1L)))
    val r12 = rules.find(r => (r._1, r._2) == ((1L, 2L))).get
    assert(r12 == ((1L, 2L, 3L, 4L, 3L, 5L, 0.75, 1.25)))
    val r21 = rules.find(r => (r._1, r._2) == ((2L, 1L))).get
    assert(r21 == ((2L, 1L, 3L, 3L, 4L, 5L, 1.0, 1.25)))
    // fixture run: confidence bounded by 1, lift positive, ordered by lift
    val fx = graft.operators.Curation.assocRules(spark, TestSpark.Sf)
      .select("confidence", "lift").as[(Double, Double)].collect()
    assert(fx.nonEmpty)
    assert(fx.forall { case (c, l) => c > 0 && c <= 1.0 && l > 0 })
    assert(fx.map(_._2).toSeq == fx.map(_._2).sortBy(-(_: Double)).toSeq)
  }

  test("k-core: hand graphs exact, fixture equals an independent sequential peel") {
    import spark.implicits._
    // K6 clique + pendant tail: k = 0.6 x median degree = 3; the tail
    // (degree 1) peels away, the clique survives intact
    val k6 = (for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)) :+ ((6L, 7L))
    val gotK6 = graft.operators.Curation.kcoreOf(k6.toDF("u", "v"))
      .select("id", "core_deg", "k").as[(Long, Long, Long)].collect()
    assert(gotK6.map(_._1).toSet == (1L to 6L).toSet, s"clique must survive: ${gotK6.toSeq}")
    assert(gotK6.forall(_._2 == 5L), "within-core degree is the clique degree")
    // fixture: exact equality with a sequential peel at the same k
    val items: Vector[(Long, Long)] =
      graft.sources.Tables.lineitem(spark, TestSpark.Sf)
        .select("l_orderkey", "l_partkey")
        .as[(Long, Long)].collect().toVector.distinct
    val adj0: Map[Long, Set[Long]] = items.groupBy(_._1).valuesIterator
      .flatMap { g =>
        for { a <- g; b <- g if a._2 != b._2 } yield (a._2, b._2)
      }.toVector.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
    val got = graft.operators.Curation.kcore(spark, TestSpark.Sf)
      .select("id", "core_deg", "k").as[(Long, Long, Long)].collect()
    assert(got.nonEmpty, "fixture core must be nonempty")
    val k = got.head._3
    // sequential peel
    var adj = adj0
    var changed = true
    while (changed) {
      val drop = adj.collect { case (u, ns) if ns.size < k => u }.toSet
      changed = drop.nonEmpty
      if (changed)
        adj = (adj -- drop).map { case (u, ns) => u -> (ns -- drop) }
          .filter(_._2.nonEmpty)
    }
    val want = adj.map { case (u, ns) => u -> ns.size.toLong }
    assert(got.map(r => r._1 -> r._2).toMap == want,
      s"spark core size ${got.length} vs sequential ${want.size}")
  }

  test("incremental dedup: matches cross the split and respect the threshold") {
    def bucket(id: Long) = (id * 2654435761L) % 4294967296L % 100
    val rows = graft.operators.Dedup.incremental(spark, TestSpark.Sf)
      .as[(Long, Long, String, Double)].collect()
    assert(rows.nonEmpty, "fixture dup clusters must straddle the split")
    assert(rows.map(_._1).distinct.length == rows.length, "one best match per doc")
    rows.foreach { case (docId, matchDoc, kind, jaccard) =>
      assert(bucket(docId) >= 80, s"$docId must be in the incoming batch")
      assert(bucket(matchDoc) < 80, s"$matchDoc must be in the existing corpus")
      assert(jaccard >= 0.8)
      if (kind == "exact") assert(jaccard == 1.0)
      else assert(kind == "near")
    }
  }

  test("graph loops: forced shuffle-state path equals broadcast path, no sort-merge rounds") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // every action inside the gated runs goes through the listener;
    // with stateBroadcastMaxRows = 0 the per-round state joins must
    // plan as shuffle-hash (the giant-graph path), never sort-merge.
    // Walk the FINAL physical tree (through AQE wrappers) — the AQE
    // toString also prints the initial plan, which may legitimately
    // show a sort-merge that AQE then replans away
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      p +: kids.flatMap(flatten)
    }
    val cliqueA = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val lpaE = (cliqueA ++ cliqueB :+ (4L, 10L)).toDF("u", "v")
    val prE = (0L until 6L).flatMap(i =>
      Seq((i, (i + 1) % 6), ((i + 1) % 6, i))).toDF("src", "dst")
    val kcE = ((for (i <- 0L to 5L; j <- (i + 1) to 5L) yield (i, j)) ++
      Seq((5L, 6L), (6L, 7L))).toDF("u", "v")
    val want = (Curation.communitiesOf(lpaE).collect().toSeq,
      Curation.pageRankOf(prE).as[(Long, Double)].collect().toSeq.sortBy(_._1),
      Curation.kcoreOf(kcE).collect().toSeq)
    spark.listenerManager.register(listener)
    val got =
      try {
        val g = (
          Curation.communitiesOf(lpaE, stateBroadcastMaxRows = 0)
            .collect().toSeq,
          Curation.pageRankOf(prE, stateBroadcastMaxRows = 0)
            .as[(Long, Double)].collect().toSeq.sortBy(_._1),
          Curation.kcoreOf(kcE, stateBroadcastMaxRows = 0)
            .collect().toSeq)
        GraftBridge.drainListenerBus(spark)
        g
      } finally spark.listenerManager.unregister(listener)
    assert(got == want, "gated shuffle path changed a graph result")
    val all = plans.synchronized(plans.toVector)
    assert(all.nonEmpty, "listener captured no plans")
    val smj = all.filter(p => flatten(p).exists(_.isInstanceOf[SortMergeJoinExec]))
    assert(smj.isEmpty,
      s"iterative round fell into sort-merge:\n${smj.headOption.getOrElse("")}")
  }

  test("epochSample: quotas == direct systematic-PPS simulation, slots conserved") {
    val k = Curation.EpochK
    val got = Curation.epochSample(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect().toSeq
    // independent simulation: walk each stratum's cumulative line and
    // place every probe position by linear search
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf)
      .selectExpr("lang", "doc_id", "cast(size(split(text, ' ')) as bigint)")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val want = docs.toSeq.sortBy(_._1).flatMap { case (lang, ds) =>
      val tot = ds.map(_._3).sum
      val bounds = ds.scanLeft(0L)(_ + _._3) // lo per doc
      val quota = collection.mutable.Map.empty[Long, Long]
      (0L until k).foreach { j =>
        val p = (2 * j + 1) * tot / (2 * k)
        // p ∈ [bounds(i), bounds(i+1)) → doc i covers the position
        val i = bounds.lastIndexWhere(_ <= p)
        val id = ds(i)._2
        quota(id) = quota.getOrElse(id, 0L) + 1
      }
      quota.toSeq.sorted.map { case (id, n) => (lang, id, n) }
    }
    assert(got.sortBy(r => (r._1, r._2)) == want, "quota mismatch vs simulation")
    // every stratum hands out exactly k slots
    got.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.map(_._3).sum == k, s"$lang slots not conserved") }
    // PPS contract: quota never exceeds ceil(k*w/W) + 1 probe spacing
    assert(got.forall(_._3 >= 1))
  }
}
