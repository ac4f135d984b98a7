package graft

import graft.operators.Similarity
import graft.sources.SyntheticEmbeddings
import org.scalatest.funsuite.AnyFunSuite

/** The ×100 ANN recall decade (r15 verdict item 4): 200 000 vectors —
  * one decade past ScaledAnnSpec's 20k — in BOTH regimes, gating the
  * DEFAULT keys now that their parameters are REGIME-ADAPTIVE
  * ([[Similarity.regimeSignal]] selects the curve): recall@5 ≥ 0.9
  * must hold on uniform data (the adversarial regime, where only the
  * derived near-linear scan fraction can deliver it) AND on clustered
  * data WITHOUT the uniform curve's scan cost — the candidate-fraction
  * assertions are what pin that the detector actually switched curves
  * rather than recall riding a linear scan.
  *
  * Kept separate from ScaledAnnSpec so the 20k gate stays cheap; this
  * suite is the expensive end of the ladder (fixture generation +
  * ground truth ≈ a few million exact dot products, all distributed).
  */
class Ann200kSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val N = 200000L

  private lazy val uniDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ann-x100u").toString
    SyntheticEmbeddings.writeUniformFixture(spark, d, N)
    d
  }
  private lazy val cluDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ann-x100c").toString
    SyntheticEmbeddings.writeFixture(spark, d, N)
    d
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

  private lazy val gtUni: Set[(Long, Long)] =
    pairs(Similarity.topKBruteForce(spark, uniDir))
  private lazy val gtClu: Set[(Long, Long)] =
    pairs(Similarity.topKBruteForce(spark, cluDir))

  private val MaxPairs = 10.0 * (N - 1)

  test("regime signal separates the regimes at 200k with wide margin") {
    val su = Similarity.regimeSignalAt(spark, uniDir)
    val sc = Similarity.regimeSignalAt(spark, cluDir)
    info(f"signal@200k: uniform=$su%.3f clustered=$sc%.3f (threshold 0.6)")
    assert(su < 0.45, s"uniform signal $su must sit well below the threshold")
    assert(sc > 0.75, s"clustered signal $sc must sit well above the threshold")
  }

  test("IVF default at 200k: recall holds in both regimes; clustered scan fraction is small") {
    val ru = (pairs(Similarity.topKIvf(spark, uniDir)) & gtUni).size.toDouble / gtUni.size
    val rc = (pairs(Similarity.topKIvf(spark, cluDir)) & gtClu).size.toDouble / gtClu.size
    info(f"ivf x100: uniform recall=$ru%.3f clustered recall=$rc%.3f")
    assert(ru >= 0.9, s"ivf uniform x100 recall $ru")
    assert(rc >= 0.9, s"ivf clustered x100 recall $rc")
    // the point of the adaptive curve: clustered candidates a fraction
    // of the uniform regime's derived 0.68
    val frac = Similarity.ivfCandidateIds(spark, cluDir).count() / MaxPairs
    info(f"ivf clustered x100 scan_fraction=$frac%.4f")
    assert(frac <= 0.2, s"clustered ivf default scan fraction $frac")
  }

  test("PQ default at 200k: recall holds in both regimes") {
    val ru = (pairs(Similarity.topKPq(spark, uniDir)) & gtUni).size.toDouble / gtUni.size
    val rc = (pairs(Similarity.topKPq(spark, cluDir)) & gtClu).size.toDouble / gtClu.size
    info(f"pq x100: uniform recall=$ru%.3f clustered recall=$rc%.3f")
    assert(ru >= 0.9, s"pq uniform x100 recall $ru")
    assert(rc >= 0.9, s"pq clustered x100 recall $rc")
  }

  test("IVF-PQ default at 200k: recall holds in both regimes") {
    val ru = (pairs(Similarity.topKIvfPq(spark, uniDir)) & gtUni).size.toDouble / gtUni.size
    val rc = (pairs(Similarity.topKIvfPq(spark, cluDir)) & gtClu).size.toDouble / gtClu.size
    info(f"ivfpq x100: uniform recall=$ru%.3f clustered recall=$rc%.3f")
    assert(ru >= 0.9, s"ivfpq uniform x100 recall $ru")
    assert(rc >= 0.9, s"ivfpq clustered x100 recall $rc")
  }
}
