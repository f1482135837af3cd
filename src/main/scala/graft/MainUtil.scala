package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** Shared helpers for the runnable mains (Verify, Bench, the example
  * harnesses) — one definition each of what every main would otherwise
  * re-implement: JSON string escaping for the one-line driver
  * contracts, the local session, the `SPARK_GRAFT_CONF="k=v;k=v"`
  * adversarial-config hook, the box-noise canary, and the build-once
  * marker for generated corpora. The job listener is [[JobProbe]]. */
private[graft] object MainUtil {

  /** JSON string escape: backslash, quote, and ALL control chars
    * (< 0x20) — a tab or CR in builder-authored SQL or an exception
    * message would otherwise make the driver's json.load fail and
    * silently zero a round's report. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Recursive LOCAL-filesystem delete (scratch/result slots under
    * java.io.tmpdir or a local outDir — the mains' disk contract;
    * remote URIs need Hadoop FileSystem.delete and are not what these
    * paths are). One definition so a future hardening (e.g. symlink
    * handling) lands once. */
  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** The local session every harness main starts from: `cpus` worker
    * threads and as many shuffle partitions, session time zone UTC (the
    * event-time queries' contract), UI off. Callers add their own confs
    * (and [[applyConfEnv]] where they take it) before `getOrCreate`. */
  def localSession(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  /** Parse `SPARK_GRAFT_CONF`'s `k=v;k=v` form. Empty entries (a
    * trailing `;`) are skipped; an entry with no `=` or an empty key
    * raises, naming it — a mistyped regime must fail, not run under the
    * default config and report a pass for a config it never ran. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF: malformed entry '$kv' (expected key=value)")
      }
    }

  /** Apply `SPARK_GRAFT_CONF="k=v;k=v"` to a session builder (the
    * Verify adversarial-config protocol). */
  def applyConfEnv(builder: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach { case (k, v) =>
      builder.config(k, v)
    })
    builder
  }

  /** One execution of the box-noise canary: a codegen'd sum over an
    * in-memory range, 32 partitions of 1M longs. No IO and no scale
    * dependence, and one task per core, so the job briefly OCCUPIES
    * every core: external contention inflates its stragglers roughly
    * linearly with the run-queue depth, where a handful of
    * under-parallelized micro-tasks would ride the scheduler's gaps
    * (measured: 8x512k tasks read ~0.2 s under a 2:1 hog burst that
    * inflates real queries 2-10x). Run once untimed first to pay its
    * own codegen. */
  def canaryRun(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 32L << 20, 1L, 32).agg(sum(col("id"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** A canary reading: the MIN of two back-to-back [[canaryRun]]s. An
    * isolated straggler (the GC tail of the heavy query that just
    * finished, one preempted task) rarely hits both, while genuine box
    * contention — the thing a reading is FOR — slows both. Measured at
    * sf0.1/CPUS=32: single-run quiet readings straggle to ~0.42 s (over
    * [[BenchCanary]]'s 0.3 s floor), min-of-2 quiet readings stay under
    * ~0.18 s. */
  def canaryReading(spark: SparkSession): Double =
    math.min(canaryRun(spark), canaryRun(spark))

  /** Build `dir` once: run `body` unless `dir/_BUILT` exists, then
    * write the marker. An interrupted build leaves no marker, so the
    * next run rebuilds instead of reading a truncated table — a bare
    * dir-exists check would skip the rebuild forever. */
  def buildOnce(dir: String)(body: => Unit): Unit = {
    val done = new java.io.File(s"$dir/_BUILT")
    if (!done.exists()) {
      body
      done.getParentFile.mkdirs()
      done.createNewFile()
      ()
    }
  }
}
