package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev-only census: execute every query key once and report plans that
  * contain DUPLICATE canonicalized Generate subtrees — the
  * pruning-vs-ReuseExchange trap (a corpus explode pass that runs more
  * than once per invocation). Companion to PlanAuditSpec's red-flag sweep. */
object PlanScan {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.count()
        val plan = finalPlan(df.queryExecution.executedPlan)
        // collect Generate nodes anywhere in the tree, including inside
        // (reused) query stages and subqueries
        val gens = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
        // dedupe by object identity: a REUSED query stage (or reused
        // exchange) appears at several tree positions but executes once
        val seen = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
        def walk(p: SparkPlan): Unit = {
          if (seen.add(p)) p match {
            case g: org.apache.spark.sql.execution.GenerateExec =>
              gens += g; g.children.foreach(walk)
            case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              walk(s.plan)
            case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
              () // executes once at its original site
            case other => other.children.foreach(walk)
          }
        }
        walk(plan)
        val dupGroups = gens.groupBy(_.canonicalized).filter(_._2.size > 1)
        if (dupGroups.nonEmpty) {
          println(s"DUP $name: ${gens.size} generates, " +
            s"${dupGroups.size} duplicated subtree(s) x" +
            dupGroups.map(_._2.size).toSeq.sorted.reverse.mkString(","))
          dupGroups.foreach { case (_, nodes) =>
            println(s"    x${nodes.size}: " +
              nodes.head.simpleString(200).take(200))
          }
        }
      } catch {
        case e: Throwable =>
          println(s"ERR $name: ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
