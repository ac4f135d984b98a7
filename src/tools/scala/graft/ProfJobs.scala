package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev-only structural profiler: run a query warm and report the job /
  * stage / summed-task-time footprint — deterministic where wall-clock
  * is ±15% box noise (the round-11 A/B lesson). Not part of the
  * library surface; same pattern as ProfIvf. */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm the caches + JIT
      var jobs = 0
      var stages = 0
      var tasks = 0
      var taskMs = 0L
      val verbose = sys.env.contains("SPARK_GRAFT_PROF_VERBOSE")
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          jobs += 1
          if (verbose) {
            val d = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(Option(j.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse("?")
            println(s"  job ${j.jobId}: ${j.stageInfos.map(_.numTasks).sum} tasks  $d")
          }
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          stages += 1
          tasks += s.stageInfo.numTasks
          taskMs += s.stageInfo.taskMetrics.executorRunTime
          if (verbose) {
            val m = s.stageInfo.taskMetrics
            println(f"  stage ${s.stageInfo.stageId}: tasks=${s.stageInfo.numTasks} " +
              f"taskTime=${m.executorRunTime / 1e3}%.2f s " +
              f"shufRead=${m.shuffleReadMetrics.totalBytesRead / 1024}%d KiB " +
              f"shufWrite=${m.shuffleWriteMetrics.bytesWritten / 1024}%d KiB  " +
              s.stageInfo.name.take(90))
          }
        }
      }
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(l)
      println(f"$name: jobs=$jobs stages=$stages tasks=$tasks " +
        f"taskTime=${taskMs / 1e3}%.1f s wall=$wall%.2f s")
    }
    spark.stop()
  }
}
