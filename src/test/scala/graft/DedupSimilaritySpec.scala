package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

  test("MinHash+LSH recovers the exact ngram-Jaccard pair set (recall 1.0 here)") {
    val exact = pairSet(Dedup.ngramJaccard(spark, TestSpark.Sf))
    val lsh = pairSet(Dedup.minhashLsh(spark, TestSpark.Sf))
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // LSH-verified pairs are exactly the exact pairs: verification uses the
    // same threshold, and banding recall at j≈0.99 is ~1.
    assert(lsh == exact)
  }

  test("simhash: identical texts identical sigs; near-dup close; unrelated far") {
    val docs = Seq(
      (1L, "spark shuffles data between stages during wide transformations always"),
      (2L, "spark shuffles data between stages during wide transformations always"),
      (3L, "spark shuffles data between stages during wide transformations often"),
      (4L, "completely unrelated vocabulary about gardening tulips roses soil"))
      .toDF("doc_id", "text")
    val s = Dedup.simhashOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(s(1L) == s(2L), "identical texts must collide")
    assert(ham(s(1L), s(3L)) < ham(s(1L), s(4L)),
      "one-token edit must be closer than unrelated text")
    val again = Dedup.simhashOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s == again, "simhash must be deterministic across runs")
  }

  test("exact dedup: n_copies sums to corpus size, representatives unique") {
    val d = Dedup.exact(spark, TestSpark.Sf)
    val total = d.agg(org.apache.spark.sql.functions.sum("n_copies")).as[Long].head()
    val nDocs = graft.sources.Tables.documents(spark, TestSpark.Sf).count()
    assert(total == nDocs)
    assert(d.select("doc_id").distinct().count() == d.count())
  }

  test("cosine near-dup pairs are symmetric-free and above threshold") {
    val p = Dedup.cosinePairs(spark, TestSpark.Sf)
      .as[(Long, Long, Double)].collect()
    assert(p.forall { case (a, b, c) => a < b && c >= 0.45 })
  }

  test("ANN recall@5 >= 0.9 for both paths (random-vector regime)") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val gt = pairs(Similarity.topKBruteForce(spark, TestSpark.Sf))
    val lsh = pairs(Similarity.topKLsh(spark, TestSpark.Sf))
    val ivf = pairs(Similarity.topKIvf(spark, TestSpark.Sf))
    assert(gt.size == 50)
    val lshRecall = (lsh & gt).size.toDouble / gt.size
    val ivfRecall = (ivf & gt).size.toDouble / gt.size
    assert(lshRecall >= 0.9, s"lsh recall $lshRecall")
    assert(ivfRecall >= 0.9, s"ivf recall $ivfRecall")
  }

  test("containment: planted sub-document found both ways, equals brute force") {
    val para = (1 to 12).map(i => s"w$i").mkString(" ")          // 10 shingles
    val page = para + " " + (13 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, para),                       // contained in 2 (C = 1.0)
      (2L, page),                       // superset; C(2→1) is small
      (3L, para + " w99"),              // 11 shingles, 10 shared → C ≈ 0.909
      (4L, (50 to 90).map(i => s"w$i").mkString(" ")))  // unrelated
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.containmentOf(
        graft.operators.Dedup.hashedShinglesOf(docs))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute force over distinct string shingles
    def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val m = docs.as[(Long, String)].collect().map { case (id, t) => id -> shingles(t) }
    val want = (for {
      (a, sa) <- m; (b, sb) <- m
      if a != b && sa.nonEmpty && (sa & sb).size * 10 >= sa.size * 9
    } yield (a, b)).toSet
    assert(want.contains((1L, 2L)) && want.contains((1L, 3L)) &&
      want.contains((3L, 1L)), s"fixture must plant asymmetric pairs: $want")
    assert(!want.contains((2L, 1L)), "superset must not be 'contained'")
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
  }

  test("PQ ANN: recall@5 >= 0.9 after exact rerank, and deterministic") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSeq
    val gt = Similarity.topKBruteForce(spark, TestSpark.Sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val a = rows(Similarity.topKPq(spark, TestSpark.Sf))
    val pq = a.map(r => (r._1, r._2)).toSet
    val recall = (pq & gt).size.toDouble / gt.size
    assert(recall >= 0.9, s"pq recall $recall")
    // codebook training, encoding, and ADC are all seed-fixed folds —
    // a second full run must reproduce the rows bit-exactly — clear
    // the centroid cache so the rerun genuinely retrains
    graft.sources.CacheRegistry.clear()
    assert(a == rows(Similarity.topKPq(spark, TestSpark.Sf)))
    // reranked cosines bit-match brute force on the shared pairs
    val exact = Similarity.topKBruteForce(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    a.foreach { case (qid, nid, _, cos) =>
      exact.get((qid, nid)).foreach(e => assert(e == cos)) }
  }

  test("IVF-PQ ANN: recall@5 >= 0.9 after exact rerank, and deterministic") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSeq
    val gt = Similarity.topKBruteForce(spark, TestSpark.Sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val a = rows(Similarity.topKIvfPq(spark, TestSpark.Sf))
    val got = a.map(r => (r._1, r._2)).toSet
    val recall = (got & gt).size.toDouble / gt.size
    assert(recall >= 0.9, s"ivfpq recall $recall")
    // both quantizers are seed-fixed: a second full run (fresh Lloyd +
    // fresh codebooks) must reproduce the rows bit-exactly
    graft.sources.CacheRegistry.clear()
    assert(a == rows(Similarity.topKIvfPq(spark, TestSpark.Sf)))
    // reranked cosines bit-match brute force on the shared pairs
    val exact = Similarity.topKBruteForce(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    a.foreach { case (qid, nid, _, cos) =>
      exact.get((qid, nid)).foreach(e => assert(e == cos)) }
  }

  test("residual IVF-PQ (IVFADC): recall@5 >= 0.9 after exact rerank, and deterministic") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSeq
    val gt = Similarity.topKBruteForce(spark, TestSpark.Sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val a = rows(Similarity.topKIvfPqResidual(spark, TestSpark.Sf))
    val got = a.map(r => (r._1, r._2)).toSet
    val recall = (got & gt).size.toDouble / gt.size
    assert(recall >= 0.9, s"ivfpq_res recall $recall")
    // seed-fixed end to end: fresh Lloyd + fresh residual codebooks
    // must reproduce the rows bit-exactly
    graft.sources.CacheRegistry.clear()
    assert(a == rows(Similarity.topKIvfPqResidual(spark, TestSpark.Sf)))
  }

  test("cosine LSH dedup recovers the exact pair set with a bucketed plan") {
    val exact = Dedup.cosinePairs(spark, TestSpark.Sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val lshDf = Dedup.cosineLsh(spark, TestSpark.Sf)
    val lsh = lshDf.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
    val plan = lshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "bucketed path must not plan an all-pairs nested loop")
    // scores bit-match the exact form on the shared pairs
    val exactScores = Dedup.cosinePairs(spark, TestSpark.Sf)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    Dedup.cosineLsh(spark, TestSpark.Sf).as[(Long, Long, Double)].collect()
      .foreach { case (a, b, c) => assert(exactScores((a, b)) == c) }
  }

  test("bucket stats: conservation per band, ordered percentiles, recomputed band") {
    val stats = Dedup.bucketStats(spark, TestSpark.Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // (path, band) -> (n_buckets, n_entries, p50, p99, max)
    assert(stats.keys.count(_._1 == "minhash") == 8)
    assert(stats.keys.count(_._1 == "simhash") == 4)
    assert(stats.keys.count(_._1 == "cosine") == 32)
    stats.values.foreach { case (nb, ne, p50, p99, mx) =>
      assert(nb >= 1 && nb <= ne, "buckets cannot outnumber entries")
      assert(1 <= p50 && p50 <= p99 && p99 <= mx, "percentiles must be ordered")
    }
    // every banding assigns each input to exactly one bucket per band
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf)
    val eligible = docs.filter(expr("size(split(text, ' ')) >= 3")).count()
    (0 until 8).foreach(b => assert(stats(("minhash", b.toLong))._2 == eligible))
    (0 until 4).foreach(b => assert(stats(("simhash", b.toLong))._2 == docs.count()))
    val nVec = graft.sources.Tables.embeddings(spark, TestSpark.Sf).count()
    (0 until 32).foreach(b => assert(stats(("cosine", b.toLong))._2 == nVec))
    // independent driver-side recompute of minhash band 0
    val sizes = Dedup.minhashBandsOf(Dedup.hashedShinglesOf(
        docs.filter(expr("size(split(text, ' ')) >= 3"))))
      .filter(col("band") === 0)
      .groupBy(col("band_sig")).count().select("count").as[Long].collect().sorted
    def rank(q_num: Int, q_den: Int) =
      sizes((q_num * sizes.length + q_den - 1) / q_den - 1)
    assert(stats(("minhash", 0L)) ==
      ((sizes.length.toLong, sizes.sum, rank(1, 2), rank(99, 100), sizes.last)))
  }

  test("range search: threshold respected, consistent with brute-force top-k") {
    val range = Similarity.rangeSearch(spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(range.values.forall(_ >= 0.2), "every returned cosine meets the bar")
    // Agreement on the overlap: any top-k pair at or above the threshold
    // must appear in the range result with the IDENTICAL cosine (same
    // fold contract), and any top-k pair below it must be absent.
    val topk = Similarity.topKBruteForce(spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
    topk.foreach { case (k, cos) =>
      if (cos >= 0.2) assert(range(k) == cos)
      else assert(!range.contains(k))
    }
  }

  test("brute-force top-k ranks are 1..5 per query, cosine non-increasing") {
    val rows = Similarity.topKBruteForce(spark, TestSpark.Sf)
      .select("query_id", "rank", "cosine").as[(Long, Long, Double)]
      .collect().groupBy(_._1)
    rows.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(sorted.sliding(2).forall { case Array(a, b) => a._3 >= b._3 })
    }
  }

  test("canonical map equals an independent union-find over the exact pair set") {
    val pairs = Dedup.ngramJaccard(spark, TestSpark.Sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf)
      .select("doc_id").as[Long].collect()
    // union-find with union-by-min: the final root of every set is its
    // minimum id — a third algorithm, independent of both the Spark
    // pointer-jumping propagation and the oracle's recursive closure
    val parent = scala.collection.mutable.Map(docs.map(d => d -> d): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val canon = docs.map(d => d -> find(d)).toMap
    val sizes = canon.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expect = docs.map(d =>
      (d, canon(d), sizes(canon(d)), if (d == canon(d)) 1L else 0L)).toSet
    val got = Dedup.canonicalMap(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expect,
      s"missed=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    assert(got.forall { case (d, c, n, f) => c <= d && n >= 1 && (f == 1L) == (c == d) })
    assert(got.exists(_._3 > 1), "fixture should contain a non-trivial cluster")
    assert(pairs.forall { case (a, b) => canon(a) == canon(b) },
      "pair endpoints must share a canonical")
  }

  test("canonical map collapses exact duplicates before the pair stage") {
    // 1000 identical docs would feed the PPJoin ~500k J=1 pairs without
    // the digest collapse; with it the near-dup stage sees 3 distinct
    // texts. Result must equal the naive semantics: the identical block
    // plus its near-dup form ONE cluster keyed by the global min id.
    val base = (1 to 30).map(i => s"c$i")
    val t = base.mkString(" ")
    val near = base.updated(14, "zz").mkString(" ") // J = 25/31 ≥ 0.8
    val other = (1 to 30).map(i => s"d$i").mkString(" ")
    val docs = ((1L to 1000L).map(i => (i, t)) ++
      Seq((2000L, near), (3000L, other))).toDF("doc_id", "text")
    val got = Dedup.canonicalMapOf(docs)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == 1002)
    val m = got.map(r => r._1 -> r).toMap
    assert((1L to 1000L).forall(i =>
      m(i) == ((i, 1L, 1001L, if (i == 1L) 1L else 0L))))
    assert(m(2000L) == ((2000L, 1L, 1001L, 0L)))
    assert(m(3000L) == ((3000L, 3000L, 1L, 1L)))
  }

  test("canonical map is transitive: an A~B~C chain shares one keeper though A!~C") {
    // 30 unique words; doc2 edits INTERIOR word 25 of doc1, doc3 further
    // edits interior word 6 (an interior edit kills 3 trigrams; an edge
    // edit only 1). J(1,2)=J(2,3)=25/31 ≈ 0.806 ≥ 0.8 but
    // J(1,3)=22/34 ≈ 0.647 < 0.8 — a true chain.
    val base = (1 to 30).map(i => s"a$i")
    val d1 = base.mkString(" ")
    val d2 = base.updated(24, "zz").mkString(" ")
    val d3 = base.updated(24, "zz").updated(5, "yy").mkString(" ")
    val d4 = (1 to 30).map(i => s"b$i").mkString(" ")
    val docs = Seq((10L, d1), (11L, d2), (12L, d3), (13L, d4))
      .toDF("doc_id", "text")
    val chainPairs = pairSet(Dedup.ngramJaccardOf(Dedup.hashedShinglesOf(docs)))
    assert(chainPairs == Set((10L, 11L), (11L, 12L)),
      s"planted chain must produce exactly the two adjacent pairs, got $chainPairs")
    val got = Dedup.canonicalMapOf(docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 10L, 3L, 1L), (11L, 10L, 3L, 0L),
      (12L, 10L, 3L, 0L), (13L, 13L, 1L, 1L)))
  }

  /** Brute-force Scala re-derivation of the whole SemDeDup decision for
    * the embeddings under `dir` (same left-to-right double fold as the
    * VectorOps contract); asserts equality with the operator plus the
    * structural laws, and returns the dropped count. */
  private def semDedupCheck(dir: String, iters: Int): Int = {
    val raw = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val nrm = raw.map { case (id, e) => id -> math.sqrt(dot(e, e)) }.toMap
    val emb = raw.toMap
    val cDf = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorOps.norm("embedding").as("nrm"))
    val cents = Similarity.semCentroids(spark, cDf, iters)
    val cn = cents.map { case (cid, v) =>
      cid -> math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)) }.toMap
    // map-side argmax replay: strict > keeps the lowest cid on ties
    val asn = raw.map { case (id, e) =>
      var best = Double.MinValue; var bcid = -1
      cents.foreach { case (cid, cv) =>
        val cos = dot(cv, e) / (nrm(id) * cn(cid))
        if (cos > best) { best = cos; bcid = cid }
      }
      (id, bcid.toLong, best)
    }
    val byCluster = asn.groupBy(_._2)
    val dropped: Set[Long] = byCluster.values.flatMap { members =>
      if (members.size > Similarity.SemClusterCap) Nil
      else for {
        (ida, _, ca) <- members.toSeq
        (idb, _, cb) <- members.toSeq
        if (cb < ca || (cb == ca && idb < ida)) &&
          dot(emb(ida), emb(idb)) / (nrm(ida) * nrm(idb)) >= Similarity.SemTau
      } yield ida
    }.toSet
    val expect = asn.filterNot(r => dropped(r._1))
      .map(r => (r._1, r._2, r._3)).toSet
    val got = Similarity.semanticDedupIters(spark, dir, iters)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expect, s"kept set diverged at iters=$iters in $dir")
    // structural invariants of the relational drop rule
    assert(got.map(_._1).intersect(dropped).isEmpty)
    assert(got.size + dropped.size == raw.length, "kept+dropped must partition")
    val keptByCluster = got.toSeq.groupBy(_._2)
    keptByCluster.values.foreach { ks =>
      for { (a, _, _) <- ks; (b, _, _) <- ks if a < b }
        assert(dot(emb(a), emb(b)) / (nrm(a) * nrm(b)) < Similarity.SemTau,
          s"kept pair ($a,$b) within tau at iters=$iters")
    }
    dropped.size
  }

  test("semantic dedup matches a brute-force Scala recompute (exemplar + Lloyd)") {
    val drops0 = semDedupCheck(TestSpark.Sf, 0)
    semDedupCheck(TestSpark.Sf, 2)
    assert(drops0 > 0, "fixture should exercise the drop path")
  }

  test("semantic dedup on a CLUSTERED corpus prunes densely and still equals the recompute") {
    // the near-uniform fixture is the sparse-duplicate regime (4/500
    // dropped); production embeddings are clustered — the regime
    // SemDeDup is FOR. Deterministic mixture-of-Gaussians corpus
    // (sigma 0.15 ⇒ within-Gaussian cosine ≈ 0.9+): the operator must
    // prune most of every dense cluster and still match the
    // brute-force recompute exactly, at both clustering variants.
    val dir = java.nio.file.Files.createTempDirectory("graft-semclu").toString
    graft.sources.SyntheticEmbeddings.writeFixture(spark, dir, 500)
    val drops0 = semDedupCheck(dir, 0)
    val drops2 = semDedupCheck(dir, 2)
    assert(drops0 > 250, s"dense regime should drop most docs, got $drops0")
    assert(drops2 > 250, s"dense regime should drop most docs (Lloyd), got $drops2")
  }

  /** Brute-force Scala re-derivation of the COARSE (two-level) SemDeDup
    * decision — super argmax, within-super centroid argmax (super seeds
    * pinned to their own group), then the shared drop rule + cap —
    * asserting equality with the operator and the structural laws. */
  private def semDedupCoarseCheck(dir: String): Int = {
    val raw = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
    val emb = raw.toMap
    val cDf = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorOps.norm("embedding").as("nrm"))
    val cents = Similarity.semCentroids(spark, cDf, 0)
    val k = cents.size
    val nSup = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val sstride = math.max(1, (k + nSup - 1) / nSup)
    val supers = cents.zipWithIndex.collect {
      case ((_, v), i) if i % sstride == 0 => (i / sstride, v) }
    def argmax(cands: Seq[(Int, Array[Float])], e: Array[Float]): (Int, Double) = {
      var best = Double.MinValue; var b = -1
      cands.foreach { case (id, v) =>
        val cos = dot(v, e) / (nrm(e) * nrm(v))
        if (cos > best) { best = cos; b = id }
      }
      (b, best)
    }
    val bySup = {
      val assigned = cents.zipWithIndex.map { case ((cid, v), i) =>
        val sid = if (i % sstride == 0) i / sstride else argmax(supers, v)._1
        (sid, cid, v)
      }
      supers.map { case (sid, _) =>
        sid -> assigned.filter(_._1 == sid).map(t => (t._2, t._3)) }.toMap
    }
    // per-super fanout telemetry: the worst-case degradation bound
    assert(bySup.values.forall(_.nonEmpty), "no empty super groups")
    val asn = raw.map { case (id, e) =>
      val sid = argmax(supers, e)._1
      val (cid, best) = argmax(bySup(sid), e)
      (id, cid.toLong, best)
    }
    assert(asn.forall(_._2 >= 0), "no row may fall into the -1 bucket")
    val byCluster = asn.groupBy(_._2)
    val dropped: Set[Long] = byCluster.values.flatMap { members =>
      if (members.size > Similarity.SemClusterCap) Nil
      else for {
        (ida, _, ca) <- members.toSeq
        (idb, _, cb) <- members.toSeq
        if (cb < ca || (cb == ca && idb < ida)) &&
          dot(emb(ida), emb(idb)) / (nrm(emb(ida)) * nrm(emb(idb))) >= Similarity.SemTau
      } yield ida
    }.toSet
    val expect = asn.filterNot(r => dropped(r._1)).map(r => (r._1, r._2, r._3)).toSet
    val got = Similarity.semanticDedupCoarse(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"coarse kept set diverged in $dir: missing=${(expect -- got).take(3)} " +
        s"extra=${(got -- expect).take(3)}")
    assert(got.size + dropped.size == raw.length, "kept+dropped must partition")
    dropped.size
  }

  test("coarse semantic dedup equals a brute-force two-level recompute (fixture + clustered)") {
    semDedupCoarseCheck(TestSpark.Sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-semcoarse").toString
    graft.sources.SyntheticEmbeddings.writeFixture(spark, dir, 500)
    val drops = semDedupCoarseCheck(dir)
    assert(drops > 250, s"dense regime should drop most docs, got $drops")
  }

  test("semantic dedup refuses a planted giant cluster bounded; normal clusters still prune") {
    // 2048 EXACTLY identical vectors: every exemplar seed is that same
    // vector, every centroid cosine ties at 1.0, and the strict-> argmax
    // sends ALL of them to cid 0 — one 2048-member cluster over
    // SemClusterCap. Unguarded, the pair stage would evaluate 2048²
    // cosines in one partition; the guard must refuse the cluster (every
    // member KEPT) and surface it via semanticHotClusters. A second
    // exact block in an orthogonal direction at ids 2060..2089
    // (2060 % 20 == 0 ⇒ it owns seed cid 103) stays under the cap and
    // must still prune to its lowest id.
    val a = Array.fill(64)(1.0f)
    val b = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f) // a·b = 0
    val dir = java.nio.file.Files.createTempDirectory("graft-semhot").toString
    val rows = (0L until 2048L).map(i => (i, a.toSeq)) ++
      (2060L until 2090L).map(i => (i, b.toSeq))
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        lit(0).as("label"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val kept = Similarity.semanticDedup(spark, dir)
      .as[(Long, Long, Double)].collect()
    val keptIds = kept.map(_._1).toSet
    assert((0L until 2048L).forall(keptIds), "refused cluster must be kept whole")
    assert(kept.filter(_._1 < 2048L).forall(_._2 == 0L), "identical block lands in cid 0")
    assert(keptIds.filter(_ >= 2060L) == Set(2060L),
      s"sub-cap exact block must prune to its lowest id, kept ${keptIds.filter(_ >= 2060L)}")
    val c = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorOps.norm("embedding").as("nrm"))
    val hot = Similarity.semanticHotClusters(spark, c)
      .as[(Long, Long)].collect().toSeq
    assert(hot == Seq((0L, 2048L)), s"hot-cluster telemetry: $hot")
    // healthy fixture: telemetry is empty (the cap is inert there)
    val cFix = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorOps.norm("embedding").as("nrm"))
    assert(Similarity.semanticHotClusters(spark, cFix).isEmpty)
    // the COARSE two-level partition refuses over its OWN assignment —
    // telemetry must report the hot cluster under that partition too
    // (here the identical block lands in coarse cluster 0 as well)
    val hotCoarse = Similarity.semanticHotClustersCoarse(spark, c)
      .as[(Long, Long)].collect().toSeq
    assert(hotCoarse == Seq((0L, 2048L)), s"coarse hot-cluster telemetry: $hotCoarse")
    assert(Similarity.semanticHotClustersCoarse(spark, cFix).isEmpty)
  }

  test("zero-norm embedding: flat and coarse semantic dedup degrade identically (no crash)") {
    // an all-zero vector has no direction: every cosine is NaN, the
    // argmax fold keeps cid -1, and the coarse path's nested
    // element_at(..., sid + 1) would be a runtime index-0 error without
    // the sid >= 0 guard — both variants must instead keep the row in
    // the -1 bucket
    val a = Array.tabulate(64)(i => (math.sin(i + 1.0) * 0.5).toFloat)
    val dir = java.nio.file.Files.createTempDirectory("graft-zeronorm").toString
    // TWO zero rows: the -1 bucket must also stay out of the pair
    // stage (a 0-norm × 0-norm pair would divide by zero there)
    val rows = (0L until 61L).map { i =>
      if (i == 37L || i == 41L) (i, Array.fill(64)(0.0f).toSeq)
      else (i, a.map(x => x * (1.0f + i * 0.01f)).toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        lit(0).as("label"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val flat = Similarity.semanticDedup(spark, dir)
      .as[(Long, Long, Double)].collect()
    val coarse = Similarity.semanticDedupCoarse(spark, dir)
      .as[(Long, Long, Double)].collect()
    for (id <- Seq(37L, 41L)) {
      assert(flat.exists(r => r._1 == id && r._2 == -1L),
        s"flat must keep zero vector $id in the -1 bucket: ${flat.filter(_._1 == id).toSeq}")
      assert(coarse.exists(r => r._1 == id && r._2 == -1L),
        s"coarse must keep zero vector $id in the -1 bucket: ${coarse.filter(_._1 == id).toSeq}")
    }
  }

  test("canonical embed: keeper is the cosine-to-centroid argmax; partitions match the map") {
    val embMap = graft.operators.Dedup.canonicalEmbed(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    val minMap = graft.operators.Dedup.canonicalMap(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    // identical partition structure, possibly different keeper per group
    val gEmb = embMap.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val gMin = minMap.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(gEmb == gMin, "components must be identical; only the keeper policy differs")
    // brute-force recompute of the keeper on every multi-member group
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    var multi = 0
    embMap.groupBy(_._2).foreach { case (keeper, members) =>
      val ids = members.map(_._1).sorted
      assert(ids.contains(keeper), s"keeper $keeper not in its group")
      if (ids.length > 1) {
        multi += 1
        val vecs = ids.map(id => id -> emb(id).map(_.toDouble))
        val dim = vecs.head._2.length
        // mean via BigDecimal(6) like the DECIMAL(38,6) device
        val cvec = Array.tabulate(dim) { d =>
          val s = vecs.map { case (_, v) =>
            BigDecimal(v(d)).setScale(6, BigDecimal.RoundingMode.HALF_UP) }.sum
          (s.toDouble / vecs.length)
        }
        val cn = math.sqrt(dot(cvec, cvec))
        val best = vecs.map { case (id, v) =>
          (id, dot(v, cvec) / (math.sqrt(dot(v, v)) * cn)) }
          .maxBy { case (id, c) => (c, -id) }._1
        assert(best == keeper,
          s"group $ids: expected centroid-argmax keeper $best, got $keeper")
      }
    }
    assert(multi > 10, s"fixture should contain multi-member clusters, got $multi")
    // keeper differs from min-id somewhere, or the policy is inert
    assert(embMap.toSet != minMap.toSet,
      "embed keeper should differ from min-id keeper on this fixture")
  }

  test("canonical map keeps sub-shingle-width duplicates and NULL texts as singletons") {
    // identical 2-token texts have NO shingles — the pair stage cannot
    // re-derive their duplication, so the digest collapse must not merge
    // them (the oracle's pair-graph closure leaves them as separate
    // singleton components). NULL-text docs must survive to the output
    // instead of vanishing through a NULL md5 equi-join.
    val wide = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "hi there"), (2L, "hi there"),       // dup but sub-width
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]),
      (5L, wide), (6L, wide))                   // dup, collapsible
      .toDF("doc_id", "text")
    val got = Dedup.canonicalMapOf(docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 1L, 1L), (2L, 2L, 1L, 1L),
      (3L, 3L, 1L, 1L), (4L, 4L, 1L, 1L),
      (5L, 5L, 2L, 1L), (6L, 5L, 2L, 0L)), s"got $got")
  }

  test("canonical best: keeper is the quality argmax, not the min id; partitions match the map") {
    // a 3-doc chain where the MIN-id member has the WORST quality: doc
    // 10 duplicates an interior token (dr 29/30) while 11 and 12 are
    // fully distinct (dr 1.0, tie → lowest id 11). The redirect target
    // must be 11 — distinguishable from the min-id policy's 10.
    val base = (1 to 30).map(i => s"a$i")
    val docs = Seq(
      (10L, base.updated(24, "a1").mkString(" ")),
      (11L, base.mkString(" ")),
      (12L, base.updated(5, "zz").mkString(" ")),
      (13L, (1 to 30).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    import org.apache.spark.sql.functions.{col, first, count, lit}
    val comp = Dedup.componentMapOf(docs,
      d => Dedup.ngramJaccardOf(Dedup.hashedShinglesOf(d))
        .select(col("doc_a"), col("doc_b")))
    val dr = docs.selectExpr("doc_id",
      "cast(size(array_distinct(split(text, ' '))) as double) / size(split(text, ' ')) as dr")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
      .orderBy(col("dr").desc_nulls_last, col("doc_id"))
    val got = comp.join(dr, Seq("doc_id"))
      .withColumn("canon_id", first(col("doc_id")).over(w))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("canon_id"), col("n_members"),
        (col("doc_id") === col("canon_id")).cast("long").as("is_canonical"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 11L, 3L, 0L), (11L, 11L, 3L, 1L),
      (12L, 11L, 3L, 0L), (13L, 13L, 1L, 1L)), s"got $got")
    // fixture-level laws: same cluster PARTITION as the min-id map
    // (only labels differ), and every keeper maximizes dr in-cluster
    val best = Dedup.canonicalBest(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    val mapm = Dedup.canonicalMap(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    def parts(rows: Array[(Long, Long, Long, Long)]) =
      rows.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(parts(best) == parts(mapm), "cluster partitions must agree")
    val drFix = graft.sources.Tables.documents(spark, TestSpark.Sf)
      .selectExpr("doc_id",
        "cast(size(array_distinct(split(text, ' '))) as double) / size(split(text, ' ')) as dr")
      .as[(Long, Double)].collect().toMap
    best.groupBy(_._2).foreach { case (canon, members) =>
      val ids = members.map(_._1)
      assert(ids.contains(canon), "keeper must be a member")
      val (bd, bid) = ids.map(i => (drFix(i), i))
        .minBy { case (d, i) => (-d, i) }
      assert(canon == bid, s"keeper $canon vs argmax ($bd, $bid)")
    }
  }

  test("canonical map over LSH edges equals the exact-edge map on the fixture") {
    // the LSH pair set == exact pair set is pinned above, so the whole
    // doc → keeper mapping must agree bit-for-bit.
    val exact = Dedup.canonicalMap(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    val lsh = Dedup.canonicalMapLsh(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(lsh == exact,
      s"missed=${(exact -- lsh).take(3)} extra=${(lsh -- exact).take(3)}")
  }

  test("pca gram: hand-computed on a planted pair; zero vectors filtered") {
    def vec(entries: Map[Int, Float]): Array[Float] =
      Array.tabulate(64)(i => entries.getOrElse(i, 0.0f))
    val emb = Seq(
      (1L, vec(Map(0 -> 2.0f, 1 -> 1.0f))),  // q = [127, 64, 0…]
      (2L, vec(Map(1 -> 3.0f))),             // q = [0, 127, 0…]
      (3L, vec(Map.empty[Int, Float])))      // zero vector: filtered
      .toDF("vec_id", "embedding")
    val g = Similarity.pcaGramOf(emb)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(g.size == 64 * 65 / 2, "full upper triangle emitted")
    assert(g((0L, 0L)) == 127L * 127)
    assert(g((0L, 1L)) == 127L * 64)
    assert(g((1L, 1L)) == 64L * 64 + 127L * 127)
    assert(g.filterNot(kv =>
      Set((0L, 0L), (0L, 1L), (1L, 1L)).contains(kv._1)).values.forall(_ == 0L),
      "all cells off the planted block must be zero (zero vector filtered)")
  }

  test("pca projection: planted anisotropy along dim 7 drives the axis; output deterministic") {
    def vec(entries: Map[Int, Float]): Array[Float] =
      Array.tabulate(64)(i => entries.getOrElse(i, 0.0f))
    // 40 vectors stretched along dim 7 with small cross-talk on dim 2;
    // per-vector max-abs quantization keeps dim 7 at ±127 and dim 2
    // small, so the principal axis of the quantized matrix is ≈ e7
    val emb = (0 until 40).map { i =>
      val a = if (i % 2 == 0) 5.0f else -5.0f
      (i.toLong, vec(Map(7 -> a, 2 -> (0.2f * (i % 5 - 2)))))
    }.toDF("vec_id", "embedding")
    val p = Similarity.pcaProjectOf(emb)
      .as[(Long, Long)].collect().toMap
    assert(p.size == 40)
    // sign convention: axis' largest-|component| coordinate (dim 7) is
    // positive ⇒ projection sign equals the dim-7 sign of each vector
    (0 until 40).foreach { i =>
      val sign = if (i % 2 == 0) 1 else -1
      assert(math.signum(p(i.toLong).toDouble) == sign,
        s"vec $i proj ${p(i.toLong)} must have dim-7 sign $sign")
      assert(math.abs(p(i.toLong)) > (1L << 20) * 100,
        "projection magnitude must be dominated by the ±127 dim-7 component")
    }
    val p2 = Similarity.pcaProjectOf(emb).as[(Long, Long)].collect().toMap
    assert(p2 == p, "projection must be bit-deterministic across runs")
  }

  test("substring spans: planted shared spans recovered with exact offsets and lengths") {
    // doc 1 and doc 2 share a 10-token span (≥ SpanLen = 8): doc 1
    // carries it at token 2, doc 2 at token 0, followed by unrelated
    // tails; doc 3 shares NOTHING long enough (7 common tokens < 8).
    val span = (0 until 10).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"intro words $span tail one two three"),
      (2L, s"$span other ending entirely"),
      (3L, "intro words shared0 shared1 shared2 shared3 shared4 shared5 shared6 done"),
      (4L, s"prefix $span middle gap gap gap $span suffix"))
      .toDF("doc_id", "text")
    val out = Dedup.substringSpansOf(docs, hashed = false)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // (1,2): the 10-token span, exact offsets
    assert(out.contains((1L, 2L, 2L, 0L, 10L)), s"got $out")
    // (1,3) shares only 7 tokens + 'intro words' (9 < SpanLen? 'intro
    // words shared0..shared6' = 9 consecutive tokens ≥ 8 — that IS a
    // span of 9 at offset 0/0)
    assert(out.contains((1L, 3L, 0L, 0L, 9L)))
    // doc 4 contains the span TWICE → two distinct (1,4) spans at
    // different deltas, both length 10, plus the (2,4) pair
    val d14 = out.filter(r => r._1 == 1L && r._2 == 4L)
    assert(d14.map(r => (r._3, r._4, r._5)) ==
      Set((2L, 1L, 10L), (2L, 15L, 10L)),
      s"doc4 twin spans: $d14")
    // every reported span is ≥ SpanLen by construction
    assert(out.forall(_._5 >= 8L))
  }

  test("self-repetition spans: periodic text merges into one maximal run per delta") {
    val span = (0 until 10).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      // doc 1 repeats a 10-token block twice with a 3-token gap:
      // tokens 0-9 and 13-22 → one (delta=13) self-span of 10
      (1L, s"$span gap gap gap $span"),
      // doc 2: period-1 repetition "x"×12 → self-matches at every
      // delta d ∈ [1, 4] (12 − 8 = 4 alignments), each one maximal run
      (2L, (1 to 12).map(_ => "x").mkString(" ")),
      (3L, "no repetition here at all just eight distinct tokens"))
      .toDF("doc_id", "text")
    val out = Dedup.substringSelfOf(docs, hashed = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out.filter(_._1 == 1L) == Set((1L, 0L, 13L, 10L)), out.toString)
    // doc 2: for delta d, matching pa runs 0..(12-8-d) → span length
    // (12-8-d) + 8 = 12 - d at start_a=0, start_b=d
    assert(out.filter(_._1 == 2L) ==
      (1L to 4L).map(d => (2L, 0L, d, 12L - d)).toSet, out.toString)
    assert(!out.exists(_._1 == 3L))
  }

  test("substring removal: doc_b occurrences cut, exact copies empty out, accounting adds up") {
    val span = (0 until 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span tail tokens here"),
      (2L, s"$span completely different ending"),   // loses its s0..s9
      (3L, s"alpha beta $span tail tokens here"),   // exact copy of 1 → fully cut
      (4L, "untouched document with no shared span content at all"))
      .toDF("doc_id", "text")
    val got = Dedup.substringRemovedOf(docs)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // doc 1 is doc_a everywhere: keeps everything
    assert(got(1L) == ((15L, 15L, 0L, s"alpha beta $span tail tokens here")))
    // doc 2 loses exactly the 10 shared tokens
    assert(got(2L) == ((13L, 3L, 10L, "completely different ending")))
    // doc 3 is an exact copy of doc 1: every position covered
    assert(got(3L) == ((15L, 0L, 15L, "")))
    assert(got(4L)._3 == 0L)
    // accounting: n_kept + n_removed == n_tokens for every doc
    got.values.foreach { case (n, k, r, _) => assert(k + r == n) }
  }

  test("incremental substring spans: cross-side pairs only, same spans as the full key restricted") {
    val span = (0 until 10).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, s"corpus one $span trailing words", false),
      (2L, s"$span corpus two tail", false),        // corpus↔corpus: excluded
      (3L, s"fresh start $span new doc", true),     // matches 1 and 2
      (4L, s"another new copy $span here", true))   // new↔new with 3: excluded
      .toDF("doc_id", "text", "is_new")
    val got = Dedup.substringIncrementalOf(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2)) == Set((3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L)),
      s"cross-side pairs only: $got")
    // the reported spans equal the FULL key's spans restricted to
    // cross-side pairs (with its doc_a<doc_b orientation remapped)
    val full = Dedup.substringSpansOf(docs.select("doc_id", "text"), hashed = false)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val newIds = Set(3L, 4L)
    val want = full.collect {
      case (a, b, sa, sb, n) if !newIds(a) && newIds(b) => (b, a, sb, sa, n)
    }
    assert(got == want, s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.forall(_._5 == 10L))
  }

  test("hashed substring spans equal the raw-gram spans on the fixture") {
    val raw = Dedup.substringSpans(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val hashed = Dedup.substringSpansHashed(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(raw.nonEmpty, "fixture should contain shared spans")
    assert(hashed == raw,
      s"missed=${(raw -- hashed).take(3)} extra=${(hashed -- raw).take(3)}")
  }

  test("substring removal: hashed-gram tier equals the raw-gram tier on the fixture") {
    // the SHIPPED removed key rides hashed grams (r15 verdict item 2);
    // its oracle replays the raw tier — this pin is what makes that
    // oracle pairing valid
    val raw = Dedup.substringRemovedOf(
        graft.sources.Tables.documents(spark, TestSpark.Sf), hashed = false)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val hashed = Dedup.substringRemovedOf(
        graft.sources.Tables.documents(spark, TestSpark.Sf), hashed = true)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(raw.exists(_._4 > 0L), "fixture must contain removable spans")
    assert(hashed == raw,
      s"missed=${(raw -- hashed).take(3)} extra=${(hashed -- raw).take(3)}")
  }

  test("derived span length: floor binds on natural-vocab corpora, grows on tiny vocab") {
    // the closed-form derivation at two corpus shapes (r15 verdict
    // item 2): fixture-shaped statistics (large V, Heaps-law growth)
    // clamp to the floor 8; a degenerate tiny-vocab corpus where
    // 8-grams recur by chance derives a longer span
    assert(Dedup.spanLenOf(2500000L, 10000L) == 8)   // sf0.01-ish shape
    assert(Dedup.spanLenOf(25000000L, 30000L) == 8)  // sf0.1-ish shape
    assert(Dedup.spanLenOf(1000000000L, 50L) == 11)  // tiny vocab: 2 ln T / ln V = 10.5
    assert(Dedup.spanLenOf(1000L, 3L) == 10)         // 100 x 10 tokens over {a,b,c}
    // and end-to-end on a real DataFrame: 100 docs x 10 tokens from a
    // 3-word vocab derive L = 10 (T = 1000, V = 3)
    val tiny = (0L until 100L).map { i =>
      (i, (0 until 10).map(j => Seq("a", "b", "c")((i + j).toInt % 3)).mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.deriveSpanLen(tiny) == 10)
    // the fixture word-soup has V = 31 distinct tokens but only
    // T ≈ 28k total, so 2·ln T/ln V ≈ 5.9 and the floor binds; the
    // PLANTED corpus widens V with its zz-group tokens and lands even
    // lower — both gate corpora run at L = 8 (measured at all three
    // driver tiers: raw 5.91/5.89/7.22, planted 3.29/3.28/2.96)
    assert(Dedup.deriveSpanLen(
      graft.sources.Tables.documents(spark, TestSpark.Sf).toDF()) == 8)
    assert(Dedup.deriveSpanLen(Dedup.plantedSubstringDocs(
      graft.sources.Tables.documents(spark, TestSpark.Sf).toDF())) == 8)
  }

  test("planted substring corpus: spans and self keys fire on >0 rows with the planted shapes") {
    // r15 verdict item 1: the driver gate used to pass 0-vs-0 on
    // `_self`. The planted corpus guarantees the machinery fires: every
    // (10g, 10g+1) id pair shares the group phrase; every doc_id % 5
    // doc self-repeats its 9-token prefix.
    val nDocs = graft.sources.Tables.documents(spark, TestSpark.Sf).count()
    val spans = Dedup.substringSpans(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    val planted = spans.filter(r => r._1 % 10 == 0 && r._2 == r._1 + 1)
    assert(planted.length >= (nDocs / 10 * 9 / 10).toInt,
      s"group-phrase pairs must dominate: ${planted.length} of ${nDocs / 10} groups")
    assert(planted.forall(_._5 >= 10L), "the planted phrase is 10 tokens")
    val self = Dedup.substringSelf(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(self.nonEmpty)
    val selfIds = self.map(_._1).toSet
    val expectedSelf = (0L until nDocs by 5L).toSet
    assert((expectedSelf -- selfIds).isEmpty,
      s"every %5 doc must report self-repetition; missing ${(expectedSelf -- selfIds).take(5)}")
  }
}
