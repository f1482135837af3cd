package graft.examples

import org.apache.spark.sql.SparkSession

/** Temp perf probe: time named SparkEntry queries (same `.count()`
  * action as graft.Bench) for N rounds under an arbitrary conf, so a
  * config posture can be A/B-measured in isolation.
  * args: sfDir rounds q1 [q2 ...]
  * env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_CONF "k=v;k=v"
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rounds = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.MainUtil.applyConfEnv(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val perJob = sys.env.contains("SPARK_GRAFT_TIMER_JOBS")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (perJob) jobStart.put(e.jobId, (e.time,
            Option(e.properties.getProperty("spark.job.description"))
              .getOrElse("")))
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (perJob) Option(jobStart.remove(e.jobId)).foreach {
            case (t0, d) =>
              println(f"  JOB ${e.jobId}%4d ${(e.time - t0) / 1e3}%7.3f s  $d")
          }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
        }
      })
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to rounds).foreach { r =>
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events are async: count them all before printing
        org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext)
        println(f"TIMER $name round=$r $sec%7.3f s jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
      }
    }
    spark.stop()
  }
}
