package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Temp perf probe for the gate family: phase-level wall-clock + job
  * counts for one end-to-end two-batch gate, so optimization work can
  * target the phase that actually costs (fixture synth vs batch-0
  * screen vs batch-1 screen), and the per-phase Spark job count is on
  * record (tiny-data gates are job-overhead-bound at bench scale).
  * args: sfDir [modality=image|text|audio|sem] [rounds=N]
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val modality = args.lift(1).getOrElse("image")
    val rounds = args.lift(2).map(_.toInt).getOrElse(3)
    if (!(Set("image", "text", "audio", "sem")(modality) || modality.startsWith("entry:"))) {
      System.err.println(s"unknown modality '$modality' — expected image|text|audio|sem|entry:<query>")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet()
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStarts.put(j.jobId, (System.nanoTime(), desc)); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStarts.remove(j.jobId)).foreach { case (t0, desc) =>
          val dt = (System.nanoTime() - t0) / 1e9
          if (sys.env.get("GATE_PROBE_JOBS").contains("1"))
            println(f"  JOB ${j.jobId}%3d ${dt}%7.3f s  $desc")
        }
      }
    })
    def phase[A](name: String)(body: => A): A = {
      val j0 = jobCount.get
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PHASE $name%-28s ${dt}%7.3f s  jobs=${jobCount.get - j0}")
      r
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val scratchRoot = java.nio.file.Files.createTempDirectory("gate-probe").toString
    try (1 to rounds).foreach { round =>
      println(s"--- round $round ($modality) ---")
      val idx = s"$scratchRoot/idx_$round"
      modality match {
        case e if e.startsWith("entry:") =>
          val qn = e.stripPrefix("entry:")
          val fn = graft.SparkEntry.queries(qn)
          phase(s"$qn full builder+count") { fn(spark, sfDir).count() }
        case "image" =>
          val fixture = s"$scratchRoot/assets_$round"
          phase("fixture synth+write") {
            graft.ops.Multimodal.synthesizeCellImageAssets(docs, "doc_id")
              .write.mode("overwrite").parquet(fixture)
          }
          val assets = phase("fixture read") {
            spark.read.parquet(fixture).withColumn("ts", col("asset_id"))
          }
          phase("batch0 screen") {
            graft.streaming.StreamingOps.imageNearDupScreenBatch(
              assets.where(col("asset_id") % 2 === 0), idx, 0L,
              "asset_id", "content", "ts")
          }
          val kept = phase("batch1 screen") {
            graft.streaming.StreamingOps.imageNearDupScreenBatch(
              assets.where(col("asset_id") % 2 === 1), idx, 1L,
              "asset_id", "content", "ts")
          }
          phase("final count") { kept.select("asset_id").count() }
        case "text" =>
          val staged = docs.select(col("doc_id"), col("text"))
            .withColumn("ts", col("doc_id"))
          phase("batch0 screen") {
            graft.streaming.StreamingOps.nearDupScreenBatch(
              staged.where(col("doc_id") % 2 === 0), idx, 0L,
              "doc_id", "text", "ts")
          }
          val kept = phase("batch1 screen") {
            graft.streaming.StreamingOps.nearDupScreenBatch(
              staged.where(col("doc_id") % 2 === 1), idx, 1L,
              "doc_id", "text", "ts")
          }
          phase("final count") { kept.select("doc_id").count() }
        case "audio" =>
          val fixture = s"$scratchRoot/wav_$round"
          phase("fixture synth+write") {
            graft.ops.Multimodal.synthesizeShaAudioAssets(docs, "doc_id")
              .write.mode("overwrite").parquet(fixture)
          }
          val assets = phase("fixture read") {
            spark.read.parquet(fixture).withColumn("ts", col("asset_id"))
          }
          phase("batch0 screen") {
            graft.streaming.StreamingOps.audioNearDupScreenBatch(
              assets.where(col("asset_id") % 2 === 0), idx, 0L,
              "asset_id", "content", "ts")
          }
          val kept = phase("batch1 screen") {
            graft.streaming.StreamingOps.audioNearDupScreenBatch(
              assets.where(col("asset_id") % 2 === 1), idx, 1L,
              "asset_id", "content", "ts")
          }
          phase("final count") { kept.select("asset_id").count() }
        case "sem" =>
          val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          val model = phase("ivf fit (cached)") {
            graft.index.IvfIndex.fitCached(
              s"$sfDir/embeddings", emb, "embedding",
              nlist = 8, maxIter = 2, initMode = "random",
              fitFraction = 0.25)
          }
          val staged = emb.select(col("vec_id"), col("embedding"))
            .withColumn("ts", col("vec_id"))
          phase("batch0 screen") {
            graft.streaming.StreamingOps.semNearDupScreenBatch(
              staged.where(col("vec_id") % 2 === 0), idx, 0L,
              "vec_id", "embedding", "ts", model, threshold = 0.4)
          }
          val kept = phase("batch1 screen") {
            graft.streaming.StreamingOps.semNearDupScreenBatch(
              staged.where(col("vec_id") % 2 === 1), idx, 1L,
              "vec_id", "embedding", "ts", model, threshold = 0.4)
          }
          phase("final count") { kept.select("vec_id").count() }
      }
    } finally {
      // A failing round must still release the temp dir and the session.
      graft.MainUtil.deleteRecursively(new java.io.File(scratchRoot))
      spark.stop()
    }
  }
}

