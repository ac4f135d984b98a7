package graft

import graft.operators.Similarity
import graft.sources.SyntheticEmbeddings

/** One-off 2-million-vector ANN decade measurement (dev-only; run via
  * `runMain graft.Ann2m [n]`) — the third rung of the recall ladder
  * (ScaledAnnSpec 20k → Ann200kSpec 200k → here), kept OUT of the
  * permanent suite deliberately: the derived cell count at n = 2M is
  * ~1.4k, and the HOF argmax assignment is interpreted per (row ×
  * cell), so one run is tens of minutes of compute — a measurement,
  * not a gate. Prints recall@5 vs brute force and wall time per key in
  * both regimes; results land in SCALE.md. */
object Ann2m {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    import spark.implicits._
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[ann2m] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    Seq("uniform", "clustered").foreach { regime =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-ann2m-$regime").toString
      time(s"$regime: write n=$n") {
        if (regime == "uniform") SyntheticEmbeddings.writeUniformFixture(spark, dir, n)
        else SyntheticEmbeddings.writeFixture(spark, dir, n)
      }
      val sig = time(s"$regime: regime signal") {
        Similarity.regimeSignalAt(spark, dir)
      }
      println(f"[ann2m] $regime signal=$sig%.3f")
      val gt = time(s"$regime: brute-force GT") {
        pairs(Similarity.topKBruteForce(spark, dir))
      }
      Seq[(String, String => org.apache.spark.sql.DataFrame)](
        ("ivf", Similarity.topKIvf(spark, _)),
        ("ivfpq", Similarity.topKIvfPq(spark, _)),
        ("opq", Similarity.topKOpq(spark, _))
      ).foreach { case (key, run) =>
        val got = time(s"$regime: $key") { pairs(run(dir)) }
        val recall = (got & gt).size.toDouble / gt.size
        println(f"[ann2m] $regime $key recall@5=$recall%.3f")
      }
    }
    spark.stop()
  }
}
