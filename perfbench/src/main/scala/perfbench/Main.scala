package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Paths
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, artifacts: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = get("seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    Opts(get("workload"), get("seed").toLong, seconds, trace, get("work"), get("artifacts"))
  }
}

/** What one pass of a workload recorded: operation latencies by kind,
  * operations attempted and failed, and output checks. */
final class Rec {
  val lat = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** Per-operation values that are not latencies (recall of a search). */
  val values = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  var checks = 0L
  var wallNs = 0L
  private var logged = 0

  def ms(kind: String): Seq[Double] = lat.getOrElse(kind, ArrayBuffer.empty[Double]).toSeq
  def note(kind: String, v: Double): Unit = values.getOrElseUpdate(kind, ArrayBuffer()) += v
  def noted(kind: String): Seq[Double] = values.getOrElse(kind, ArrayBuffer.empty[Double]).toSeq

  /** Runs one operation of `kind`, timing it; a throw is logged and
    * rethrown, and the pass that ran it stops and counts the failure. */
  def op[A](kind: String)(body: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try body catch { case e: Throwable => log(s"$kind failed: $e"); throw e }
    val dt = System.nanoTime() - t0
    lat.getOrElseUpdate(kind, ArrayBuffer()) += dt / 1e6
    wallNs += dt
    out
  }

  /** An output check; each failure counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) { failed += 1; log(s"check failed: $what") }
  }

  def log(msg: String): Unit = if (logged < 30) { logged += 1; Console.err.println(s"perfbench: $msg") }
}

final case class Metric(value: Double, unit: String)

/** One workload: it builds its starting state, warms up, and issues its
  * closed-loop steps one at a time; step `i` is a function of the seed,
  * `i` and the state, so a second pass can replay the first. */
abstract class Workload(val ctx: Ctx) {
  type S
  /** The state is read-only, so every pass may run on the same one. */
  def reusable: Boolean
  /** Timed set-ups per run, after an untimed first one; `setup_s` is
    * their median. */
  def setups: Int
  /** Generates the inputs from the seed and builds the starting state;
    * returns it with the digest of every generated input. */
  def setup(dir: String): (S, String)
  def warmup(s: S): Unit
  def step(s: S, i: Int, rec: Rec): Unit
  /** End-of-run operations (timed into `rec`) and final checks. */
  def finish(s: S, rec: Rec): Unit = ()
  def dispose(s: S): Unit
  /** End-to-end metrics of an untraced pass, plus its detail. */
  def endToEnd(s: S, rec: Rec): (Map[String, Double], Map[String, Any])
  /** Workload-specific per-layer metrics of the traced pass. */
  def layers(s: S, rec: Rec, meters: Meters): Map[String, Double]
  /** Texts of the workload for the kernel probes. */
  def probeTexts(s: S): Seq[String]
}

final class Ctx(val spark: SparkSession, val opts: Opts) {
  def seed: Long = opts.seed
  /** A seeded stream private to `(purpose, i)`. */
  def rng(purpose: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + purpose * 1000003L + i)
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${opts.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, opts) finally spark.stop()
    sys.exit(code)
  }

  def canaryMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 100000000L, 1L, 4).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  /** Seconds since the JVM started. */
  private def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  def run(spark: SparkSession, opts: Opts): Int = {
    val ctx = new Ctx(spark, opts)
    val sparkReadyS = uptimeS
    val w: Workload = opts.workload match {
      case "ingest_churn" => new IngestChurn(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    canaryMs(spark) // first run pays JIT and codegen for the canary itself
    val canaryBefore = canaryMs(spark)

    // Set-up runs 1 + `w.setups` times: the first pays JIT and first
    // file opens of the set-up path and is not timed, and the warm-up
    // (JIT, codegen and first file opens of the timed operations) runs
    // on its state, which no timed pass uses; `setup_s` is the median of
    // the set-ups after it. Each regenerates the inputs, and their
    // digests must agree. A mutating workload keeps three states:
    // warm-up, untraced pass, traced pass.
    require(w.reusable || w.setups >= 2, "a mutating workload needs three states")
    val setupS = ArrayBuffer[Double]()
    val digests = ArrayBuffer[String]()
    val states = ArrayBuffer[w.S]()
    var firstSetupS, warmupS = 0.0
    (0 to w.setups).foreach { r =>
      if (w.reusable) { states.foreach(w.dispose); states.clear() }
      val t0 = System.nanoTime()
      val (s, d) = w.setup(s"${opts.work}/setup$r")
      val dt = (System.nanoTime() - t0) / 1e9
      digests += d
      states += s
      if (r > 0) setupS += dt
      else {
        firstSetupS = dt
        val warm = System.nanoTime()
        w.warmup(s)
        warmupS = (System.nanoTime() - warm) / 1e9
      }
    }
    val runChecks = new Rec
    runChecks.check(digests.distinct.size == 1,
      s"the same seed generated different inputs: ${digests.mkString(", ")}")
    def stateFor(pass: Int): w.S = if (w.reusable) states.last else states(pass)

    def pass(s: w.S, deadlineNs: Long, maxSteps: Int): (Rec, Int) = {
      val rec = new Rec
      var i = 0
      try {
        while (i < maxSteps && (deadlineNs == 0L || System.nanoTime() < deadlineNs || i == 0)) {
          w.step(s, i, rec); i += 1
        }
        w.finish(s, rec)
      } catch { case e: Throwable => rec.failed += 1; rec.log(s"pass stopped at step $i: $e") }
      (rec, i)
    }

    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    val result: (Rec, Map[String, Metric], Map[String, Any]) = if (!opts.trace) {
      resetHeapPeaks()
      val (rec, steps) = pass(stateFor(2), deadline, Int.MaxValue)
      val (e2e, detail) = w.endToEnd(stateFor(2), rec)
      val units = EndToEnd.units
      (rec, e2e.map { case (k, v) => k -> Metric(v, units(k)) } +
        ("setup_s" -> Metric(Stats.median(setupS.toSeq), "s")),
        detail + ("steps" -> steps) + ("heap_peak_mb" -> heapPeakMb) +
          ("latencies_ms" -> rec.lat.map { case (k, v) => k -> v.map(x => math.rint(x * 10) / 10).toSeq }.toMap))
    } else {
      val (recA, steps) = pass(stateFor(1), deadline, Int.MaxValue)
      Trace.start(spark)
      val meters = new Meters(spark)
      resetHeapPeaks()
      val (recB, _) = pass(stateFor(2), 0L, steps)
      meters.stop()
      Trace.on = false
      val heap = heapPeakMb
      val layer = w.layers(stateFor(2), recB, meters)
      val common = Layers.common(meters, recA, recB, heap)
      val probes = Probes.run(spark, w.probeTexts(stateFor(2)))
      Trace.write(Paths.get(opts.artifacts, s"spans-${opts.workload}-seed${opts.seed}.jsonl"))
      w.endToEnd(stateFor(2), recB) // its output checks run in the traced pass too
      recB.attempted += recA.attempted; recB.failed += recA.failed; recB.checks += recA.checks
      val all = Layers.defaults ++ common ++ probes ++ layer
      (recB, all.map { case (k, v) => k -> Metric(v, Layers.units(k)) },
        Map[String, Any]("steps" -> steps))
    }
    val (rec, metrics, detail) = result
    states.foreach(w.dispose)
    val canaryAfter = canaryMs(spark)

    val attempted = rec.attempted + runChecks.checks
    val failed = rec.failed + runChecks.failed
    val correct = failed == 0 && rec.attempted > 0
    println(Json.obj(Seq(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "spark_ready_s" -> sparkReadyS, "elapsed_s" -> uptimeS,
      "canary_ms_before" -> canaryBefore, "canary_ms_after" -> canaryAfter,
      "setup_s_first" -> firstSetupS, "setup_s_each" -> setupS.toSeq, "warmup_s" -> warmupS,
      "input_digest" -> digests.head, "checks" -> (rec.checks + runChecks.checks),
      "error_rate" -> failed.toDouble / math.max(1L, attempted),
      "detail" -> detail)))
    println(Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })))
    if (correct) 0 else 1
  }
}

/** End-to-end metrics every workload reports (see BENCHMARK.json). */
object EndToEnd {
  val units: Map[String, String] = Map(
    "setup_s" -> "s",
    "p50_ms" -> "ms",
    "items_per_s" -> "items/s",
    "dup_recall" -> "fraction",
    "bytes_per_user_byte" -> "ratio")
}
