package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** The Spark jobs a block launches — the one job listener the harness
  * mains and the specs share. */
private[graft] object JobProbe {

  /** One job. `seconds` runs from its start to its end event (-1 if it
    * had not ended when the block returned); `description` is its
    * `spark.job.description` ("" when unset); `callSite` is its first
    * stage's name; `details` is every stage's name and call-site
    * details (the stack the job was submitted from); `stages` and
    * `tasks` count the stages that ran (skipped stages count in
    * neither). */
  final case class Job(id: Int, seconds: Double, description: String,
      callSite: String, details: String, stages: Int, tasks: Int) {
    def label: String = if (description.nonEmpty) description else callSite
  }

  /** The jobs `body` launches, one entry per job: its stages' call-site
    * details. */
  def apply[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val (out, jobs) = record(spark)(body)
    (out, jobs.map(_.details))
  }

  /** The jobs `body` launches, in start order. */
  def record[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, (Long, Job)]()
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        jobs.put(e.jobId, (e.time, Job(e.jobId, -1.0, desc,
          e.stageInfos.headOption.map(_.name).getOrElse(""),
          e.stageInfos.map(s => s"${s.name}\n${s.details}").mkString("\n"), 0, 0)))
        ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageJob.get(e.stageInfo.stageId).foreach(id => jobs.computeIfPresent(id,
          (_, tj) => (tj._1, tj._2.copy(stages = tj._2.stages + 1,
            tasks = tj._2.tasks + e.stageInfo.numTasks))))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobs.computeIfPresent(e.jobId,
          (_, tj) => (tj._1, tj._2.copy(seconds = (e.time - tj._1) / 1e3)))
        ()
      }
    }
    GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSqlBridge.drainListenerBus(sc)
      (out, jobs.values.asScala.map(_._2).toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(listener)
  }
}
