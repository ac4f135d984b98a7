package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: `local[cpus]` with `cpus` shuffle
  * partitions, [[GraftExtensions]], the UTC session time zone and no UI,
  * then the caller's extra conf pairs, log level WARN. `getOrCreate()`
  * hands back the JVM's existing session and rewrites its runtime conf,
  * so call this once per JVM. */
object GraftSession {
  /** The mains' width, from the environment; default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
