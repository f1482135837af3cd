package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.types.StructType

import graft.{IngestException, JobProbe, SparkSpec, StoreConfig}
import graft.embed.HashEmbedder

/** A batch handed over as a driver `Seq` (addTexts, upsertTexts) is
  * built on the driver; a DataFrame batch (addDF) on the executors. The
  * two paths must publish the same rows, and the driver path must not
  * run Spark jobs over the batch itself. */
class DriverBatchSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-store").toString + "/store"
  private val emb = HashEmbedder(dim = 64)

  private val corpus = (0 until 12).map(i => s"stored document number $i about topic ${i % 3}")
  private val corpusMetas = corpus.indices.map(i =>
    if (i % 4 == 0) Map.empty[String, String]
    else Map("source" -> s"src$i.txt", "category" -> s"cat${i % 3}"))

  /** Intra-batch exact duplicates, two null texts, two texts that differ
    * only in an unpaired surrogate (one stored text), copies of stored
    * texts, and empty metadata. */
  private val batch: Seq[(String, Map[String, String])] = Seq(
    ("fresh note alpha", Map("source" -> "n1.txt", "category" -> "notes")),
    (corpus(2), Map("source" -> "dup.txt")),
    (null, Map("source" -> "null1.txt")),
    ("fresh note beta", Map.empty),
    ("fresh note alpha", Map("source" -> "again.txt")),
    ("a\uD800", Map("source" -> "hi.txt", "category" -> "surrogate")),
    (corpus(7), Map.empty),
    ("a\uDC00", Map("source" -> "lo.txt")),
    (null, Map("source" -> "null2.txt")),
    ("fresh note gamma", Map("category" -> "notes")),
    ("fresh note beta", Map("source" -> "beta2.txt")))

  /** Two stores with the same content: one built, one a copy of its dir. */
  private def twins(cfg: StoreConfig): (DocumentStore, DocumentStore) = {
    val a = tmp()
    DocumentStore.fromTexts(spark, a, corpus, corpusMetas, cfg, emb)
    val b = tmp()
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(a), new java.io.File(b))
    (DocumentStore.load(spark, a, emb, cfg), DocumentStore.load(spark, b, emb, cfg))
  }

  private def batchDF(rows: Seq[(String, Map[String, String])]) = {
    import spark.implicits._
    rows.toDF("text", "metadata")
  }

  private def essentialRows(s: DocumentStore) = s.essential.orderBy("id").collect().map { r =>
    (r.getAs[Long]("id"), r.getAs[String]("text"), r.getAs[String]("source"),
      r.getAs[String]("category"), r.getAs[String]("metadata_hash"),
      Option(r.getAs[scala.collection.Seq[Double]]("vec"))
        .map(_.map(java.lang.Double.doubleToRawLongBits).toSeq))
  }.toSeq

  private def payloadRows(s: DocumentStore) = s.payload.orderBy("doc_id").collect().map { r =>
    (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
      Option(r.getAs[scala.collection.Map[String, String]]("metadata")).map(_.toMap),
      r.getAs[String]("payload_json"))
  }.toSeq

  private def assertSameRows(driver: DocumentStore, frame: DocumentStore, what: String): Unit = {
    assert(driver.documentCount == frame.documentCount, what)
    assert(essentialRows(driver) == essentialRows(frame), s"$what: essential rows differ")
    assert(payloadRows(driver) == payloadRows(frame), s"$what: payload rows differ")
  }

  private val configs = Seq(
    "Bloom" -> StoreConfig(),
    "Bloom fpp 0.9" -> StoreConfig(dedupBloomFpp = 0.9),
    "no Bloom" -> StoreConfig(dedupBloomFpp = 0.0))

  test("addTexts (driver path) and addDF (DataFrame path) publish identical rows") {
    for ((name, cfg) <- configs) {
      val (driver, frame) = twins(cfg)
      val ids = driver.addTexts(batch.map(_._1), batch.map(_._2))
      assert(ids == batch.indices.map(_.toString), name)
      frame.addDF(batchDF(batch))
      assertSameRows(driver, frame, name)
      // 12 stored + alpha, one null, beta, one of the surrogate pair, gamma
      assert(driver.documentCount == corpus.length + 5, name)
      assert(driver.essential.where(col("text") === "a?").count() == 1, name)
      // a second pass is all duplicates: nothing new on either path
      driver.addTexts(batch.map(_._1), batch.map(_._2))
      frame.addDF(batchDF(batch))
      assertSameRows(driver, frame, s"$name, second pass")
    }
  }

  test("upsertTexts equals deleteByIds of the matched first occurrences followed by addDF") {
    for ((name, cfg) <- configs) {
      val (driver, frame) = twins(cfg)
      // seed one stored surrogate text so the upsert replaces it too
      driver.addTexts(Seq("a\uD800"), Seq(Map("source" -> "old.txt")))
      frame.addTexts(Seq("a\uD800"), Seq(Map("source" -> "old.txt")))
      val texts = batch.map(_._1)
      val firstIds = frame.essential
        .where(col("text").isin(texts.filter(_ != null): _*))
        .groupBy("text").agg(min("id")).collect().map(_.getLong(1)).toSeq
      assert(firstIds.length == 3, s"$name: ${firstIds.mkString(",")}")
      driver.upsertTexts(texts, batch.map(_._2))
      frame.deleteByIds(firstIds)
      frame.addDF(batchDF(batch))
      assertSameRows(driver, frame, name)
    }
  }

  test("the driver-side new-row build runs no job on Bloom misses, at most two on hits") {
    val store = DocumentStore.fromTexts(spark, tmp(), corpus, Nil,
      StoreConfig(dedupBloomFpp = 1e-6), emb)
    def buildJobs(texts: Seq[String]): Seq[String] = {
      val (_, jobs) = JobProbe(spark)(store.addTexts(texts))
      jobs.filter(_.contains("buildLocalRows"))
    }
    val misses = buildJobs(Seq("never seen text one", "never seen text two", "never seen text one"))
    assert(misses.isEmpty, s"${misses.length} jobs, first:\n${misses.headOption.getOrElse("")}")
    assert(store.documentCount == corpus.length + 2)
    // stored texts hit: one key probe, one id fetch
    val hits = buildJobs(Seq(corpus(1), "never seen text three", corpus(5)))
    assert(hits.nonEmpty && hits.length <= 2,
      s"${hits.length} jobs:\n${hits.mkString("\n---\n")}")
    assert(store.documentCount == corpus.length + 3)
  }

  test("a texts/metadatas length mismatch raises before any job runs") {
    val store = DocumentStore.fromTexts(spark, tmp(), corpus, Nil, StoreConfig(), emb)
    val (_, jobs) = JobProbe(spark) {
      intercept[IngestException](store.addTexts(Seq("x", "y"), Seq(Map.empty)))
      intercept[IngestException](store.upsertTexts(Seq("x", "y"), Seq(Map.empty)))
    }
    assert(jobs.isEmpty, s"${jobs.length} jobs ran")
    assert(store.documentCount == corpus.length)
  }

  test("store reads keep the inferred schemas on flat and IVF stores") {
    val flatEssential = StructType.fromDDL(
      "id BIGINT, text STRING, source STRING, category STRING, metadata_hash STRING, vec ARRAY<DOUBLE>")
    val payloadSchema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, metadata MAP<STRING, STRING>, payload_json STRING")
    val docs = (0 until 150).map(i => s"schema doc $i in group ${i % 7}")
    for ((name, cfg, essentialSchema) <- Seq(
        ("flat", StoreConfig(), flatEssential),
        ("IVF", StoreConfig(nlist = 4), flatEssential.add("cluster", "int")))) {
      val dir = tmp()
      val store = DocumentStore.fromTexts(spark, dir, docs, Nil, cfg, emb)
      assert((store.currentManifest.nlist > 0) == (name == "IVF"), name)
      val v = store.currentManifest.version
      // the live reads and the time-travel reads of the same version
      val (reads, jobs) = JobProbe(spark)(Seq(
        ("live", store.essential, store.payload),
        ("at", store.essentialAt(v), store.payloadAt(v))))
      assert(jobs.isEmpty, s"$name: ${jobs.length} jobs to open the reads")
      for ((read, essential, payload) <- reads) {
        assert(essential.schema == essentialSchema, s"$name $read: ${essential.schema}")
        assert(payload.schema == payloadSchema, s"$name $read: ${payload.schema}")
        assert(essential.schema == spark.read.parquet(s"$dir/v$v/essential").schema, name)
        assert(payload.schema == spark.read.parquet(s"$dir/v$v/payload").schema, name)
      }
      assert(store.essential.count() == docs.length, name)
      // the PQ index tables, plain on the flat store, rotated on the IVF one
      store.buildPqIndex(m = 8, ksub = 4, rotate = name == "IVF")
      val (hits, pqJobs) = JobProbe.record(spark)(
        store.similaritySearchPq("schema doc 3 in group 3", k = 3, candidates = 6).collect())
      val inferring = pqJobs.filter(_.callSite.startsWith("parquet at "))
      assert(inferring.isEmpty, s"$name: ${inferring.map(_.details).mkString("\n---\n")}")
      assert(hits.length == 3, name)
      // the lexical index tables, through both searches that read them
      store.buildLexicalIndex(numFiles = 2)
      val terms = Seq("schema", "group")
      val (lexHits, lexJobs) = JobProbe.record(spark)((
        store.searchLexical(terms, k = 3).collect(),
        store.hybridSearch("schema doc 3 in group 3", terms, k = 3).collect()))
      val lexInferring = lexJobs.filter(_.callSite.startsWith("parquet at "))
      assert(lexInferring.isEmpty,
        s"$name: ${lexInferring.map(_.details).mkString("\n---\n")}")
      assert(lexHits._1.length == 3 && lexHits._2.length == 3, name)
    }
  }
}
