package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the OPQ rotation tier (`sim_topk_opq`):
  *
  *  - the learned R is a genuine rotation (orthonormal rows), so the
  *    score decomposition q·r = (Rq)·(Rr) is EXACT, not approximate;
  *  - eigenvalue allocation balances per-subspace variance products
  *    (the Ge et al. objective) where fixed blocking concentrates them;
  *  - on an anisotropic residual corpus — variance deliberately packed
  *    into ONE fixed subspace, the geometry OPQ exists for — rotated
  *    codebooks reconstruct with materially lower distortion than the
  *    unrotated tier at the same bit budget;
  *  - the end-to-end key holds the family recall floor on the fixture
  *    and is bit-deterministic across full re-runs.
  */
class OpqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 64
  private val PqM = 8
  private val SubDim = Dim / PqM

  /** Deterministic anisotropic residual corpus: a splitmix-style hash
    * gives uniform [-1, 1) coordinates; per-dim scales put ~90% of the
    * variance in dims 0..7 — exactly one FIXED subspace — so unrotated
    * PQ spends 7 of its 8 codebooks on near-noise. */
  private lazy val rdf = {
    val scale = (0 until Dim).map(d => if (d < SubDim) 1.0 else 0.12)
    val sc = scale.mkString("array(", ", ", ")")
    spark.range(0, 3000).toDF("vec_id").selectExpr("vec_id",
      s"""transform(sequence(0, ${Dim - 1}), d ->
         |  element_at($sc, d + 1) *
         |  ((pmod(hash(vec_id * 64 + d) * 2654435761, 1048576) / 524288.0d) - 1.0d)
         |) as r""".stripMargin)
  }

  private def mse(frame: org.apache.spark.sql.DataFrame,
      books: Seq[Seq[(Int, Array[Double])]]): Double = {
    val bk = books.map(b => b.sortBy(_._1).map(_._2).toArray).toArray
    val rows = frame
      .withColumn("codes", graft.functions.PqEncode.codesRaw(col("r"), books))
      .select(col("r"), col("codes"))
      .as[(Array[Double], Array[Int])].collect()
    rows.iterator.map { case (r, codes) =>
      var e = 0.0
      (0 until Dim).foreach { d =>
        val s = d / SubDim
        val diff = r(d) - bk(s)(codes(s))(d % SubDim)
        e += diff * diff
      }
      e
    }.sum / rows.length
  }

  test("learned R is orthogonal and preserves inner products exactly") {
    val rot = Similarity.opqRotationOf(rdf)
    assert(rot.length == Dim && rot.forall(_.length == Dim))
    // R·Rᵀ = I to near machine precision
    (0 until Dim).foreach { i =>
      (0 until Dim).foreach { j =>
        val d = (0 until Dim).map(k => rot(i)(k) * rot(j)(k)).sum
        val want = if (i == j) 1.0 else 0.0
        assert(math.abs(d - want) < 1e-8, s"RRt($i,$j) = $d")
      }
    }
    // (Rq)·(Rr) matches q·r on sampled vectors (driver recompute)
    val vs = rdf.limit(4).select("r").as[Array[Double]].collect()
    def matvec(x: Array[Double]) =
      rot.map(row => row.indices.map(k => row(k) * x(k)).sum)
    val (q, r) = (vs(0), vs(1))
    val raw = q.indices.map(k => q(k) * r(k)).sum
    val (rq, rr) = (matvec(q), matvec(r))
    val rotd = rq.indices.map(k => rq(k) * rr(k)).sum
    assert(math.abs(raw - rotd) < 1e-9)
  }

  test("eigenvalue allocation balances per-subspace log-variance products") {
    // spectrum with a heavy head: unbalanced under contiguous blocking
    val eig = (0 until Dim).map(i => math.pow(0.9, i) + 0.001).toArray
    val groups = Similarity.opqAllocate(eig, PqM, SubDim)
    assert(groups.length == PqM && groups.forall(_.size == SubDim))
    assert(groups.flatten.sorted == (0 until Dim), "a permutation of all dims")
    def logProd(g: Seq[Int]) = g.map(i => math.log(eig(i))).sum
    val balanced = groups.map(logProd)
    val contiguous = (0 until PqM)
      .map(s => logProd((s * SubDim) until ((s + 1) * SubDim)))
    assert(balanced.max - balanced.min < contiguous.max - contiguous.min,
      "greedy allocation must beat contiguous blocking on a decaying spectrum")
  }

  test("rotation cuts PQ distortion on an anisotropic corpus at the same bit budget") {
    val booksRaw = Similarity.pqResidualCodebooks(spark, rdf, 2)
    val rawMse = mse(rdf, booksRaw)
    val rot = Similarity.opqRotationOf(rdf)
    val rotated = rdf.select(col("vec_id"),
      graft.functions.MatVec.mul(col("r"), rot).as("r"))
    val booksRot = Similarity.pqResidualCodebooks(spark, rotated, 2)
    val rotMse = mse(rotated, booksRot)
    // R is orthogonal, so ‖·‖² is preserved and the two MSEs compare
    // in the same units; demand a real margin, not a tie
    assert(rotMse < rawMse * 0.8,
      s"opq distortion $rotMse must be < 0.8 x unrotated $rawMse")
  }

  test("sim_topk_opq: recall@5 >= 0.9 after exact rerank, and deterministic") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSeq
    val gt = Similarity.topKBruteForce(spark, TestSpark.Sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val a = rows(Similarity.topKOpq(spark, TestSpark.Sf))
    val got = a.map(r => (r._1, r._2)).toSet
    val recall = (got & gt).size.toDouble / gt.size
    assert(recall >= 0.9, s"opq recall $recall")
    graft.sources.CacheRegistry.clear() // rerun must genuinely retrain
    assert(a == rows(Similarity.topKOpq(spark, TestSpark.Sf)))
  }
}
