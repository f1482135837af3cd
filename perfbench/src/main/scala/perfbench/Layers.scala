package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.embed.HashEmbedder
import graft.functions.{TextFunctions, VectorFunctions}

/** Per-layer metrics of the traced pass. Every workload reports every
  * name; a layer the workload does not exercise reads 0. Counts and
  * times of Spark jobs are per request (one closed-loop operation); span
  * times are the median of one call. */
object Layers {
  /** Modules whose Spark jobs get the full counter set. */
  val JobModules = Seq("store", "index", "streaming", "ops")
  private val jobFields = Seq("jobs" -> "count", "tasks" -> "count",
    "job_wall_ms" -> "ms", "executor_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "input_bytes" -> "bytes", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes")

  /** Span names whose median call time is reported as `<name>_ms`. */
  val SpanMs = Seq("store.search_call", "store.search_collect",
    "store.batch_call", "store.batch_collect", "store.lookup",
    "store.add", "store.delete", "store.upsert",
    "store.stats", "store.load", "streaming.screen", "streaming.compact",
    "ops.exact", "ops.lsh_pairs", "ops.components", "ops.best", "ops.quality",
    "ops.analyze", "embed.query")
  val SelfModules = Seq("embed", "store", "streaming", "ops")

  val units: Map[String, String] =
    JobModules.flatMap(m => jobFields.map { case (f, u) => s"$m.$f" -> u }).toMap ++
      Seq("other.jobs", "bench.jobs", "unattributed.jobs", "jobs.total").map(_ -> "count") ++
      SpanMs.map(n => s"${n}_ms" -> "ms") ++
      SelfModules.map(m => s"$m.self_ms" -> "ms") ++ Map(
      "store.version_files" -> "count",
      "store.bytes_written_per_user_byte" -> "ratio",
      "store.dedup_drop_ratio" -> "fraction",
      "index.rows_scanned_per_result" -> "ratio",
      "index.probe_fraction" -> "fraction",
      "index.nlist" -> "count",
      "plans.planning_ms" -> "ms",
      "plans.queries_per_request" -> "count",
      "embed.query_calls" -> "count",
      "embed.column_calls" -> "count",
      "streaming.index_files" -> "count",
      "streaming.gate_drop_ratio" -> "fraction",
      "ops.pairs_per_planted_pair" -> "ratio",
      "functions.vector_score_rows_per_s" -> "rows/s",
      "functions.hash_embed_rows_per_s" -> "rows/s",
      "functions.minhash_rows_per_s" -> "rows/s",
      "functions.tokenize_rows_per_s" -> "rows/s",
      "jvm.heap_peak_mb" -> "MB",
      "trace.overhead_frac" -> "fraction")

  val defaults: Map[String, Double] = units.map { case (k, _) => k -> 0.0 }

  def spanMedianMs(name: String): Double = {
    val s = Trace.named(name)
    if (s.isEmpty) 0.0 else Stats.median(s.map(_.ms))
  }

  /** Metrics every workload derives the same way from the meters, the
    * spans and the two passes (A untraced, B traced, same steps). */
  def common(meters: Meters, recA: Rec, recB: Rec, heapPeakMb: Double): Map[String, Double] = {
    val reqs = math.max(1L, Trace.requests).toDouble
    val snap = meters.jobs.modules
    val empty = new meters.jobs.Acc
    val jobMetrics = JobModules.flatMap { m =>
      val a = snap.getOrElse(m, empty)
      Seq(s"$m.jobs" -> a.jobs / reqs, s"$m.tasks" -> a.tasks / reqs,
        s"$m.job_wall_ms" -> a.wallMs / reqs, s"$m.executor_cpu_ms" -> a.cpuNs / 1e6 / reqs,
        s"$m.gc_ms" -> a.gcMs / reqs, s"$m.input_bytes" -> a.inputBytes / reqs,
        s"$m.shuffle_bytes" -> a.shuffleBytes / reqs, s"$m.spill_bytes" -> a.spillBytes / reqs)
    }
    val total = meters.jobs.total.jobs
    val listed = JobModules.map(m => snap.get(m).map(_.jobs).getOrElse(0L)).sum
    val unattributed = snap.get("unattributed").map(_.jobs).getOrElse(0L)
    val bench = snap.get("bench").map(_.jobs).getOrElse(0L)
    val self = Trace.selfMs
    (jobMetrics ++ Seq(
      "other.jobs" -> (total - listed - bench - unattributed) / reqs,
      "bench.jobs" -> bench / reqs,
      "unattributed.jobs" -> unattributed / reqs,
      "jobs.total" -> total / reqs,
      "plans.planning_ms" -> meters.plans.planningMs / reqs,
      "plans.queries_per_request" -> meters.plans.queries / reqs,
      "embed.query_calls" -> Trace.named("embed.query").size / reqs,
      "embed.column_calls" -> Trace.named("embed.column").size / reqs,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.overhead_frac" -> (recB.wallNs.toDouble / math.max(1L, recA.wallNs) - 1.0)) ++
      SpanMs.map(n => s"${n}_ms" -> spanMedianMs(n)) ++
      SelfModules.map(m => s"$m.self_ms" -> self.getOrElse(m, 0.0) / reqs)).toMap
  }
}

/** Kernel probes: the engine's public column functions run directly on
  * the workload's own texts, each written to a noop sink; rows per
  * second is the median of three runs. */
object Probes {
  private def rowsPerS(n: Long)(write: => Unit): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime(); write; n / ((System.nanoTime() - t0) / 1e9)
  })

  def run(spark: SparkSession, texts: Seq[String]): Map[String, Double] = {
    import spark.implicits._
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val n = texts.size.toLong
    val base = texts.toDF("text").repartition(4).cache()
    noop(base)
    val emb = HashEmbedder(128)
    val vecs = base.select(emb.embedCol(col("text")).as("v")).cache()
    noop(vecs)
    val sh = base.select(TextFunctions.shingles(col("text"), 3).as("sh")).cache()
    noop(sh)
    val q = typedLit(emb.embedQuery("probe query").toSeq)
    try Map(
      "functions.tokenize_rows_per_s" ->
        rowsPerS(n)(noop(base.select(TextFunctions.shingles(col("text"), 3)))),
      "functions.minhash_rows_per_s" ->
        rowsPerS(n)(noop(sh.select(TextFunctions.minhashBands(col("sh"), 16, 4)))),
      "functions.hash_embed_rows_per_s" ->
        rowsPerS(n)(noop(base.select(emb.embedCol(col("text"))))),
      "functions.vector_score_rows_per_s" ->
        rowsPerS(n)(noop(vecs.select(VectorFunctions.cosineSimilarity(col("v"), q)))))
    finally { base.unpersist(); vecs.unpersist(); sh.unpersist(); () }
  }
}
