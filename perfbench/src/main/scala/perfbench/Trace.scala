package perfbench

import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.embed.{Embedder, HashEmbedder}

/** Spans recorded around the benchmark's calls into the engine's public
  * functions. Each span has a name, a start, an end, its parent span and
  * the id of the request (one closed-loop operation) it belongs to. Spans
  * stay in memory and are written out when the run ends. With tracing
  * off, [[span]] only runs its body. */
object Trace {
  final case class Span(id: Int, req: Long, parent: Int, module: String,
                        name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  val ModuleProp = "perfbench.module"
  /** Local property naming the kind of request a Spark job runs for. */
  val RequestProp = "perfbench.request"

  @volatile var on = false
  private var sc: SparkContext = _
  val spans = ArrayBuffer[Span]()
  /** Wall-clock start and end (ms) of every request. */
  val windows = ArrayBuffer[(Long, Long)]()
  private var open = List.empty[Int]
  private var nextId = 1
  private var req = 0L

  def start(spark: SparkSession): Unit = { sc = spark.sparkContext; on = true }

  /** Requests issued while tracing was on. */
  def requests: Long = req

  /** A root span for one closed-loop operation; spans opened inside it
    * share its request id, and its Spark jobs carry its kind. */
  def request[A](kind: String)(body: => A): A =
    if (!on) body
    else {
      req += 1
      sc.setLocalProperty(RequestProp, kind)
      val w0 = System.currentTimeMillis()
      try span("bench", kind)(body)
      finally {
        windows += ((w0, System.currentTimeMillis()))
        sc.setLocalProperty(RequestProp, null)
      }
    }

  def span[A](module: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0)
      val prevModule = sc.getLocalProperty(ModuleProp)
      open = id :: open
      sc.setLocalProperty(ModuleProp, module)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(ModuleProp, prevModule)
        spans += Span(id, req, parent, module, s"$module.$name", t0, t1)
      }
    }

  /** Work of the benchmark's own output checks: its Spark jobs count
    * as `bench`, not as any engine module. */
  def check[A](body: => A): A = span("bench", "check")(body)

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq

  /** Per-module self time: each span's duration minus the time its
    * direct children cover (children nest and never overlap, since one
    * client thread issues every call). */
  def selfMs: Map[String, Double] = {
    val childMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent != 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.module).view.mapValues(_.map(s => s.ms - childMs(s.id)).sum).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id, "req" -> s.req, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)) += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** [[HashEmbedder]] behind a timing decorator: every query embedding and
  * every column embedding the store requests becomes an `embed` span. */
final class TimedEmbedder(inner: HashEmbedder) extends Embedder {
  def dim: Int = inner.dim
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame =
    Trace.span("embed", "column")(inner.embed(df, textCol, outCol))
  def embedQuery(text: String): Array[Double] =
    Trace.span("embed", "query")(inner.embedQuery(text))
  override def streamingSafe: Boolean = inner.streamingSafe
}

/** Job and task counters per engine module. A job belongs to the
  * innermost `graft.<module>` frame of the call site Spark recorded for
  * it, or, for a query stage that adaptive execution launched from a
  * pool thread, of the call site of the SQL execution it belongs to. A
  * job launched from the benchmark's own frames (a `collect` of a
  * DataFrame the engine returned) belongs to the module of the span that
  * was open when it started; anything else is `unattributed`. Input
  * records are also summed by the kind of request that read them. */
final class JobMeter extends SparkListener {
  final class Acc {
    var jobs, tasks, wallMs, cpuNs, gcMs, inputBytes, inputRecords,
      shuffleBytes, spillBytes, outputBytes = 0L
    def +=(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; wallMs += o.wallMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; inputBytes += o.inputBytes; inputRecords += o.inputRecords
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; outputBytes += o.outputBytes
    }
  }

  private val frame = """^graft\.(embed|index|functions|store|streaming|ops|plans)\.""".r.unanchored
  private val byModule = mutable.Map[String, Acc]()
  private val byRequest = mutable.Map[String, Long]().withDefaultValue(0L)
  private val executionModule = mutable.Map[String, String]()
  /** Stage id -> (module, request kind or ""). */
  private val stageOwner = mutable.Map[Int, (String, String)]()
  private val jobStarts = mutable.Map[Int, (String, Long)]()

  private def frameModule(details: String): Option[String] =
    Option(details).iterator.flatMap(_.split("\n")).map(_.trim)
      .collectFirst { case frame(m) => m }

  private def prop(props: Properties, k: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(k)))

  def moduleOf(details: String, props: Properties): String =
    frameModule(details)
      .orElse(prop(props, "spark.sql.execution.id").flatMap(executionModule.get))
      .orElse(prop(props, Trace.ModuleProp))
      .getOrElse("unattributed")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      frameModule(s.details).foreach(m => executionModule(s.executionId.toString) = m)
    }
    case _ => ()
  }

  private def acc(m: String) = byModule.getOrElseUpdate(m, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull
    val m = moduleOf(details, e.properties)
    val kind = prop(e.properties, Trace.RequestProp).getOrElse("")
    jobStarts(e.jobId) = (m, e.time)
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (m, kind)))
    acc(m).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (m, t0) => acc(m).wallMs += e.time - t0 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (m, kind) = stageOwner.getOrElse(e.stageId, ("unattributed", ""))
    val a = acc(m)
    a.tasks += 1
    val tm = e.taskMetrics
    if (tm != null) {
      a.cpuNs += tm.executorCpuTime
      a.gcMs += tm.jvmGCTime
      a.inputBytes += tm.inputMetrics.bytesRead
      a.inputRecords += tm.inputMetrics.recordsRead
      a.shuffleBytes += tm.shuffleReadMetrics.totalBytesRead + tm.shuffleWriteMetrics.bytesWritten
      a.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
      a.outputBytes += tm.outputMetrics.bytesWritten
      if (kind.nonEmpty) byRequest(kind) += tm.inputMetrics.recordsRead
    }
  }

  /** Counters per module; read them after [[Meters.stop]]. */
  def modules: Map[String, Acc] = synchronized(byModule.toMap)
  def total: Acc = { val t = new Acc; modules.values.foreach(t += _); t }
  /** Input records read by the jobs of every request of `kind`. */
  def inputRecords(kind: String): Long = synchronized(byRequest(kind))
}

/** Counts the queries executed inside requests and sums their analysis,
  * optimization and planning phases. A query belongs to a request when
  * its analysis started inside the request's wall-clock window (one
  * client thread issues every request, so windows never overlap);
  * queries of the benchmark's own output checks run between requests. */
final class PlanMeter extends QueryExecutionListener {
  private val seen = ArrayBuffer[(Long, Long)]()
  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    seen += ((phases.headOption.map(_.startTimeMs).getOrElse(Long.MinValue),
      phases.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def inRequests: Seq[Long] = synchronized(seen.toSeq).collect {
    case (t, ms) if Trace.windows.exists { case (w0, w1) => t >= w0 && t <= w1 } => ms
  }
  def queries: Long = inRequests.size.toLong
  def planningMs: Long = inRequests.sum
}

/** The traced run's listeners. [[stop]] drains the listener bus, so the
  * counters read after it include every job and query of the pass. */
final class Meters(spark: SparkSession) {
  val jobs = new JobMeter
  val plans = new PlanMeter
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)

  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }
}
