package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{avg, col}

import graft.{ConcurrentWriteException, JobProbe, SparkSpec, StoreConfig}
import graft.embed.HashEmbedder
import graft.index.IvfIndex

/** The store's write path: the single-writer check, the count audit and
  * the IVF snapshot write (driver-side fit, centroid file, observed
  * baseline). */
class StoreWriteSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-store").toString + "/store"
  private val emb = HashEmbedder(dim = 64)

  /** relative path -> size of every file under `dir`. */
  private def listing(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    finally walk.close()
  }

  test("a stale writer fails before it writes: typed exception, every document survives") {
    for (keep <- Seq(1, 2)) {
      val dir = tmp()
      val cfg = StoreConfig(keepVersions = keep)
      DocumentStore.fromTexts(spark, dir, Seq("alpha one", "beta two", "gamma three"),
        Nil, cfg, emb)
      val a = DocumentStore.load(spark, dir, emb, cfg)
      val b = DocumentStore.load(spark, dir, emb, cfg)
      a.addTexts(Seq("delta four", "epsilon five"))
      val live = s"$dir/v${a.currentManifest.version}"
      val before = listing(live)
      val e = intercept[ConcurrentWriteException](b.addTexts(Seq("zeta six")))
      assert(e.getMessage.contains(dir) && e.getMessage.contains("commit 1") &&
        e.getMessage.contains("commit 0"), e.getMessage)
      intercept[ConcurrentWriteException](b.deleteByIds(Seq(0L)))
      assert(listing(live) == before, s"keepVersions=$keep: the live version changed")
      val reloaded = DocumentStore.load(spark, dir, emb, cfg)
      assert(reloaded.documentCount == 5)
      assert(reloaded.essential.select("text").collect().map(_.getString(0)).toSet ==
        Set("alpha one", "beta two", "gamma three", "delta four", "epsilon five"),
        s"keepVersions=$keep")
      // the fresh instance writes as usual
      reloaded.addTexts(Seq("zeta six"))
      assert(reloaded.documentCount == 6)
    }
  }

  test("a writer that outlived a rebuild at the same path fails before it writes") {
    val dir = tmp()
    val cdir = new Path(s"$dir/_commits")
    def latestCommit() = Commits.latest(
      cdir.getFileSystem(spark.sparkContext.hadoopConfiguration), cdir, "manifest_").get._1
    val old = DocumentStore.fromTexts(spark, dir, Seq("alpha one", "beta two"), Nil,
      StoreConfig(), emb)
    val oldCommit = latestCommit()
    val rebuilt = DocumentStore.fromTexts(spark, dir,
      Seq("gamma three", "delta four", "epsilon five"), Nil, StoreConfig(), emb)
    // the rebuild restarts the numbering: the number alone matches
    assert(latestCommit() == oldCommit)
    val live = s"$dir/v${rebuilt.currentManifest.version}"
    val before = listing(live)
    val e = intercept[ConcurrentWriteException](old.addTexts(Seq("zeta six")))
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(listing(live) == before, "the live version changed")
    val reloaded = DocumentStore.load(spark, dir, emb)
    assert(reloaded.essential.select("text").collect().map(_.getString(0)).toSet ==
      Set("gamma three", "delta four", "epsilon five"))
    rebuilt.addTexts(Seq("zeta six"))
    assert(rebuilt.documentCount == 4)
  }

  test("a stray version dir far below the cutoff goes with the next write of a running instance") {
    val dir = tmp()
    val cfg = StoreConfig(keepVersions = 2)
    val store = DocumentStore.fromTexts(spark, dir, Seq("doc 0"), Nil, cfg, emb)
    (1 to 11).foreach(i => store.addTexts(Seq(s"doc $i")))
    val live = store.currentManifest.version
    // The instance has written; a stray appears 10 versions below the
    // next write's cutoff (live + 1 - keepVersions + 1 = live).
    val stray = new java.io.File(s"$dir/v${live - 10}")
    assert(!stray.exists())
    Files.write(Files.createDirectories(stray.toPath.resolve("essential"))
      .resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val before = listing(s"$dir/v$live")
    store.addTexts(Seq("doc 12"))
    assert(!stray.exists(), s"v${live - 10} leaked")
    assert(listing(s"$dir/v$live") == before, "the kept version changed")
    assert(new java.io.File(s"$dir/v${live + 1}").isDirectory)
    assert(DocumentStore.load(spark, dir, emb, cfg).documentCount == 13)
  }

  test("verifyIntegrity reports a forged manifest count as count_mismatch") {
    val dir = tmp()
    DocumentStore.fromTexts(spark, dir, Seq("one doc", "two doc", "three doc"), Nil,
      StoreConfig(), emb)
    val cdir = new Path(s"$dir/_commits")
    val fs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (n, txt) = Commits.latest(fs, cdir, "manifest_").get
    Commits.publish(fs, cdir, "manifest_", n + 1,
      DocumentStore.renderManifest(DocumentStore.parseManifest(txt).copy(count = 4L)))
    val forged = DocumentStore.load(spark, dir, emb)
    val bad = forged.verifyIntegrity().where(col("status") =!= "ok").collect()
    assert(bad.map(_.getAs[String]("status")).toSeq == Seq("count_mismatch"),
      bad.mkString(", "))
    assert(bad.head.isNullAt(bad.head.fieldIndex("doc_id")))
  }

  test("an IVF addTexts runs no MLlib job; centroids are one file; the baseline is the exact mean") {
    val dir = tmp()
    val docs = (0 until 150).map(i => s"document $i in family ${i % 5} of the corpus")
    val store = DocumentStore.fromTexts(spark, dir, docs, Nil,
      StoreConfig(nlist = 4, nprobe = 2), emb)
    val (_, jobs) = JobProbe(spark)(
      store.addTexts((0 until 20).map(i => s"appended note $i about topic ${i % 3}")))
    val ml = jobs.filter(_.contains("org.apache.spark.ml"))
    assert(ml.isEmpty, s"${ml.length} MLlib jobs, first:\n${ml.headOption.getOrElse("")}")
    assert(jobs.length <= AddTextsJobs,
      s"an IVF addTexts ran ${jobs.length} jobs (bound $AddTextsJobs)")
    val m = store.currentManifest
    assert(m.nlist == 4 && m.count == 170)
    val file = new java.io.File(s"$dir/v${m.version}/centroids")
    assert(file.isFile && file.length == 8L + 8L * 4 * emb.dim)
    // the first search reads that file; the model is then cached
    assert(store.similaritySearch("document 7 in family 2 of the corpus", k = 1)
      .select("text").head.getString(0) == "document 7 in family 2 of the corpus")
    val model = IvfIndex.modelCached(s"$dir#centroids", m.version)(
      fail("the search did not cache the centroids"))
    val exact = store.essential
      .withColumn("__c", model.assignCol(col("vec")))
      .agg(avg(model.distToCol(col("vec"), col("__c")))).head.getDouble(0)
    assert(math.abs(m.ivfBaselineMean - exact) <= 1e-9 * exact,
      s"baseline ${m.ivfBaselineMean} != exact mean $exact")
  }

  test("an addDFIncremental rewrites no file of the live version: the merged Bloom filter gets a new name") {
    import spark.implicits._
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, Seq("alpha one", "beta two", "gamma three"),
      Nil, StoreConfig(), emb)
    val live = s"$dir/v${store.currentManifest.version}"
    def contents(): Map[String, Seq[Byte]] = listing(live).keys
      .map(f => f -> Files.readAllBytes(java.nio.file.Paths.get(live, f)).toSeq).toMap
    def append(texts: String*): Unit =
      store.addDFIncremental(texts.map(t => (t, Map.empty[String, String])).toDF("text", "metadata"))
    for (batch <- Seq(Seq("delta four", "alpha one"), Seq("epsilon five"))) {
      val before = contents()
      append(batch: _*)
      val after = contents()
      val rewritten = (before.keySet & after.keySet).filter(f => before(f) != after(f))
      assert(rewritten.isEmpty, s"files rewritten in place: $rewritten")
      assert(after.keySet.count(_.startsWith("dedup_bloom")) == 1, after.keySet)
    }
    assert(store.documentCount == 5)
    // the filter the last append published screens that append's text
    append("epsilon five")
    assert(store.documentCount == 5)
  }

  /** Bound on the jobs of a 20-doc `addTexts` on a 150-doc nlist=4
    * store: 12 measured on local[4], plus a margin of 7 for incidental
    * jobs (listing, adaptive-execution re-planning) that do not touch
    * the fit. Building the new rows on the executors took the same call
    * to 23, and the fit on MLlib KMeans to 52 (20 of them inside
    * MLlib), so the bound fails a return of either. */
  private val AddTextsJobs = 19
}
