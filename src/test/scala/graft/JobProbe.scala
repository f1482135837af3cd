package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** The Spark jobs a block launches, one entry per job: its stages'
  * call-site details (the stack the job was submitted from). */
object JobProbe {
  def apply[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos.map(s => s"${s.name}\n${s.details}").mkString("\n")); ()
      }
    }
    GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSqlBridge.drainListenerBus(sc)
      (out, scala.jdk.CollectionConverters.IterableHasAsScala(jobs).asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
