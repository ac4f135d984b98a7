package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). Width is a
  * literal 4, not `GraftSession.cpus`, so the suites plan the same on
  * any box. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
  val Sf: String = "/root/testdata/sf0.001"
}
