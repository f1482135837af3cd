package graft.examples

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sha2}

import graft.{JobProbe, MainUtil, SparkEntry}

/** Profiles engine work item by item: wall seconds, the box-noise
  * canary reading beside each run, and every Spark job the run launched.
  *
  * Run: sbt "runMain graft.examples.Profile <sfDir> [warm=N] [runs=N] <item>..."
  *
  * Items:
  *  - a [[graft.SparkEntry.queries]] name, timed with `.count()` — the
  *    action [[graft.Bench]] times, so numbers line up with
  *    `bench_out.json`;
  *  - a path ending in `.sql`, run by `spark.sql` over the testdata
  *    views of `sfDir`;
  *  - `in:<n>` — the pushed-`In` probe behind
  *    [[graft.store.DocumentStore.SafeInProbe]]: `n` keys sampled from a
  *    4M-row sha-sorted key table (built once under java.io.tmpdir),
  *    counted through an `isin` with `inFilterThreshold` raised to
  *    `n + 1` (the store's key-probe shape). The pushed In compiles to
  *    an or-chain whose evaluation overflows the task stack — 768 string
  *    equalities overflow a COLD JVM on every run, 512 pass; after JIT
  *    warms the visitor, 1000+ pass. Run ONE size per JVM with `warm=0`:
  *    a warm JVM hides the cliff.
  *
  * Each item runs `warm` untimed times, then `runs` timed ones. The
  * defaults (`warm=0 runs=1`) time an item's first run in the JVM —
  * fits, codegen and scan setup included; profile one item per JVM for
  * a true cold read. `SPARK_GRAFT_CPUS` (default 4) sets the
  * parallelism and `SPARK_GRAFT_CONF="k=v;k=v"` adds session confs.
  *
  * Output: one `PROFILE` line per timed run (item, run, seconds, the
  * min-of-two canary reading taken just before it, rows, jobs, stages,
  * tasks), then one `JOB` line per job (id, seconds, stages, tasks, and
  * its `spark.job.description` or else its first stage's call site).
  *
  * The retired probe mains map onto it as follows:
  *  - `ColdProbe <sfDir> <q>...` → `Profile <sfDir> <q>...`; its
  *    warm-dir mode (cold per-dir cost after a JIT warm-up on another
  *    dir) is what [[graft.Bench]] times after its sf0.001 warm-up pass;
  *  - `PerfProbe <sfDir> runs=N <q>...` → `Profile <sfDir> warm=2 runs=N
  *    <q>...` (each run carries its canary reading in place of the old
  *    `quiet_min` cut-off);
  *  - `QueryTimer <sfDir> N <q>...` → `SPARK_GRAFT_CONF=... Profile
  *    <sfDir> runs=N <q>...`;
  *  - `GateProbe <sfDir> <modality> N` → `Profile <sfDir> runs=N
  *    q_image_gate|q_text_gate|q_audio_gate|q_sem_gate|q_gate_compact`:
  *    the band gates label their jobs `band gate b<N>: ...`, so the
  *    per-job lines give the phase split;
  *  - `SqlProbe <sfDir> <file.sql>` → `Profile <sfDir> <file.sql>`;
  *  - `InProbe <n>` → `Profile <sfDir> in:<n>`.
  */
object Profile {

  /** One timed run of an item. */
  private[graft] final case class Run(item: String, run: Int, seconds: Double,
      canary: Double, rows: Long, jobs: Seq[JobProbe.Job])

  def main(args: Array[String]): Unit = {
    val (opts, items) = args.toSeq.drop(1)
      .partition(a => a.startsWith("warm=") || a.startsWith("runs="))
    if (items.isEmpty) {
      System.err.println("usage: Profile <sfDir> [warm=N] [runs=N] <query | file.sql | in:<n>>...")
      sys.exit(2)
    }
    def opt(k: String, default: Int): Int =
      opts.filter(_.startsWith(s"$k=")).lastOption.fold(default)(_.drop(k.length + 1).toInt)
    val spark = MainUtil.applyConfEnv(MainUtil.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      MainUtil.canaryRun(spark) // pay the canary's own codegen before reading it
      items.foreach(item => profile(spark, args(0), item, opt("warm", 0), opt("runs", 1)).foreach { r =>
        println(f"PROFILE ${r.item}%-24s run=${r.run} ${r.seconds}%8.3f s canary=${r.canary}%.3f " +
          s"rows=${r.rows} jobs=${r.jobs.size} stages=${r.jobs.map(_.stages).sum} " +
          s"tasks=${r.jobs.map(_.tasks).sum}")
        r.jobs.foreach(j => println(f"  JOB ${j.id}%5d ${j.seconds}%8.3f s " +
          s"stages=${j.stages} tasks=${j.tasks}  ${j.label}"))
      })
    } finally spark.stop()
  }

  /** Run `item` against `sfDir` `warm` times untimed, then `runs` timed
    * times, each after a canary reading. */
  private[graft] def profile(spark: SparkSession, sfDir: String, item: String,
                             warm: Int, runs: Int): Seq[Run] = {
    val count = action(spark, sfDir, item)
    (1 to warm).foreach(_ => count())
    (1 to runs).map { r =>
      val canary = MainUtil.canaryReading(spark)
      val t0 = System.nanoTime()
      val (rows, jobs) = JobProbe.record(spark)(count())
      Run(item, r, (System.nanoTime() - t0) / 1e9, canary, rows, jobs)
    }
  }

  /** The counting action an item names; setup (the `in:` key table and
    * its sample) runs here, untimed. */
  private def action(spark: SparkSession, sfDir: String, item: String): () => Long =
    if (item.endsWith(".sql")) {
      val text = new String(Files.readAllBytes(Paths.get(item)), UTF_8)
      () => { SparkEntry.registerViews(spark, sfDir); spark.sql(text).count() }
    } else if (item.startsWith("in:")) {
      val n = item.stripPrefix("in:").toInt
      val dir = s"${System.getProperty("java.io.tmpdir")}/intest_keys"
      MainUtil.buildOnce(dir) {
        spark.range(4000000)
          .select(sha2(col("id").cast("string"), 256).as("k"), col("id"))
          .repartitionByRange(8, col("k")).sortWithinPartitions("k")
          .write.mode("overwrite").parquet(dir)
      }
      val keys = spark.read.parquet(dir).select("k")
        .sample(0.01, 42).limit(n).collect().map(_.getString(0)).toSeq
      // raised on the session for the timed count only
      val threshold = "spark.sql.parquet.pushdown.inFilterThreshold"
      () => {
        val saved = spark.conf.getOption(threshold)
        spark.conf.set(threshold, (n + 1).toString)
        try spark.read.parquet(dir).where(col("k").isin(keys: _*)).count()
        finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
      }
    } else {
      val fn = SparkEntry.queries.getOrElse(item, throw new IllegalArgumentException(
        s"unknown item '$item': not a query name, a .sql path or in:<n>"))
      () => fn(spark, sfDir).count()
    }
}
