package graft

/** Dev tool: execute one query key at a given SF dir (default sf0.1) and
  * dump its physical plan — the `.explain` companion to `PlanAuditSpec`'s
  * red-flag sweep, for single-query plan iteration and the
  * per-round `plans/` before/after artifacts.
  *
  * Prints the `.explain("formatted")` rendering (operator list +
  * details: PushedFilters, ReadSchema, join build sides, exchange
  * partitioning) taken AFTER execution so AQE shows the FINAL plan
  * (`isFinalPlan=true`), then the executed-plan tree string (the
  * post-AQE operator tree with reused-exchange markers). */
object Explain1 {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    val df = SparkEntry.queries(args(0))(spark,
      args.lift(1).getOrElse("/root/testdata/sf0.1"))
    df.collect()
    println(s"== explain formatted (post-execution, AQE final) ==")
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    println(s"== executed plan tree ==")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
