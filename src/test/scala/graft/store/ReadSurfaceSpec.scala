package graft.store

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.{SearchException, SparkSpec, StoreConfig}
import graft.embed.HashEmbedder

/** The result contract of every public read surface of
  * [[DocumentStore]]: output column names, order and types, on a flat
  * store and on an IVF store (both multi-vector, so the max-sim search
  * runs too), and the one empty-store error each raises. */
class ReadSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private val emb = HashEmbedder(dim = 16)
  private val texts = (0 until 80).map(i =>
    s"note $i on topic ${i % 5} with word${i % 9} and tail ${i % 4}")
  private val metas = texts.indices.map(i =>
    Map("source" -> s"s${i % 3}.txt", "category" -> s"c${i % 2}"))
  private def tmp(): String = Files.createTempDirectory("graft-read").toString + "/store"

  private val Hit = "doc_id BIGINT, text STRING, source STRING, category STRING, " +
    "similarity DOUBLE, metadata_type STRING"
  private val FullHit = "doc_id BIGINT, text STRING, source STRING, category STRING, " +
    "similarity DOUBLE, metadata MAP<STRING, STRING>, metadata_type STRING"

  private def assertColumns(df: DataFrame, ddl: String, what: String): Unit = {
    val got = df.schema.map(f => (f.name, f.dataType))
    val want = StructType.fromDDL(ddl).map(f => (f.name, f.dataType))
    assert(got == want, s"$what: ${df.schema.toDDL}")
  }

  private val configs = Seq(
    "flat" -> StoreConfig(chunkSize = 4, chunkOverlap = 0),
    "IVF" -> StoreConfig(nlist = 2, nprobe = 1, chunkSize = 4, chunkOverlap = 0))

  for ((label, config) <- configs) {
    test(s"$label store: every read surface keeps its result columns") {
      val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, config, emb)
      assert((store.currentManifest.nlist > 0) == (label == "IVF"))
      val q = "note on topic 3 with word4"
      val terms = Seq("topic", "word4")

      assertColumns(store.similaritySearch(q, 3), Hit, "similaritySearch")
      assertColumns(store.similaritySearch(q, 3, includeFullMetadata = true), FullHit,
        "similaritySearch, full metadata")
      val filtered = store.similaritySearch(q, 3, filter = Some(col("category") === "c1"))
      assertColumns(filtered, Hit, "similaritySearch, filter")
      assert(filtered.collect().forall(_.getAs[String]("category") == "c1"))
      val scored = store.similaritySearchWithScore(q, 3)
      assert(scored.length == 3 && scored.forall { case (h, s) => h.similarity == s })

      assertColumns(store.similaritySearchRadius(q, 0.0), Hit, "similaritySearchRadius")
      assertColumns(store.similaritySearchRadius(q, 0.0, includeFullMetadata = true), FullHit,
        "similaritySearchRadius, full metadata")
      assertColumns(store.similaritySearchApprox(q, 3, candidates = 10), Hit,
        "similaritySearchApprox")

      assertColumns(store.similaritySearchPq(q, 3), Hit, "similaritySearchPq, no index")
      store.buildPqIndex(m = 4, ksub = 4)
      assertColumns(store.similaritySearchPq(q, 3, candidates = 10), Hit,
        "similaritySearchPq, built")

      assertColumns(store.similaritySearchBatch(Seq(q, "word7 tail 2"), 3),
        "query STRING, rank INT, " + Hit, "similaritySearchBatch")
      assertColumns(store.maxMarginalRelevanceSearch(q, 3, fetchK = 10),
        "doc_id BIGINT, rank BIGINT, text STRING, source STRING, category STRING, " +
          "similarity DOUBLE, metadata_type STRING", "maxMarginalRelevanceSearch")

      val Lexical = "doc_id BIGINT, text STRING, source STRING, category STRING, " +
        "score DOUBLE, metadata_type STRING"
      assertColumns(store.searchLexical(terms, 3), Lexical, "searchLexical, scan")
      store.buildLexicalIndex(numFiles = 2)
      assert(store.currentManifest.lexicalFor.contains(store.documentCount))
      assertColumns(store.searchLexical(terms, 3), Lexical, "searchLexical, index")

      assertColumns(store.searchMaxSim(q, 3),
        "doc_id BIGINT, text STRING, source STRING, category STRING, " +
          "similarity DOUBLE, n_chunks BIGINT, metadata_type STRING", "searchMaxSim")
      assertColumns(store.searchMaxSim(q, 3, includeFullMetadata = true),
        "doc_id BIGINT, text STRING, source STRING, category STRING, similarity DOUBLE, " +
          "n_chunks BIGINT, metadata MAP<STRING, STRING>, metadata_type STRING",
        "searchMaxSim, full metadata")
      assertColumns(store.hybridSearch(q, terms, 3),
        "doc_id BIGINT, text STRING, source STRING, category STRING, rrf DOUBLE, " +
          "rank_keyword BIGINT, rank_vector BIGINT, metadata_type STRING", "hybridSearch")

      assertColumns(store.getDocumentsByIds(Seq(0L, 5L)), Hit, "getDocumentsByIds")
      assertColumns(store.getDocumentsByIds(Seq(0L, 5L), includeFullMetadata = true), FullHit,
        "getDocumentsByIds, full metadata")
      val one = store.getDocumentById(5L, includeFullMetadata = true)
      assert(one.map(h => (h.docId, h.metadataType)).contains((5L, "full")), one.toString)
      assert(store.getDocumentById(store.documentCount).isEmpty)

      // An incremental append changes the count: the PQ index goes
      // stale and the search falls back to the exact one.
      store.addDFIncremental(Seq(("a late note on topic 3", Map("source" -> "late.txt")))
        .toDF("text", "metadata"))
      assert(!store.currentManifest.pqFor.contains(store.documentCount))
      assertColumns(store.similaritySearchPq(q, 3), Hit, "similaritySearchPq, stale")
    }

    test(s"$label store: every read surface raises the one empty-store error") {
      val store = DocumentStore.fromTexts(spark, tmp(), Nil, Nil, config, emb)
      assert(store.documentCount == 0L)
      val reads: Seq[(String, () => Any)] = Seq(
        "similaritySearch" -> (() => store.similaritySearch("q")),
        "similaritySearchWithScore" -> (() => store.similaritySearchWithScore("q")),
        "similaritySearchRadius" -> (() => store.similaritySearchRadius("q", 0.5)),
        "similaritySearchApprox" -> (() => store.similaritySearchApprox("q")),
        "similaritySearchPq" -> (() => store.similaritySearchPq("q")),
        "similaritySearchBatch" -> (() => store.similaritySearchBatch(Seq("q"))),
        "maxMarginalRelevanceSearch" -> (() => store.maxMarginalRelevanceSearch("q")),
        "searchLexical" -> (() => store.searchLexical(Seq("q"))),
        "searchMaxSim" -> (() => store.searchMaxSim("q")),
        "hybridSearch" -> (() => store.hybridSearch("q", Seq("q"))),
        "getDocumentsByIds" -> (() => store.getDocumentsByIds(Seq(0L))),
        "tuneNprobe" -> (() => store.tuneNprobe()),
        "tunePqCandidates" -> (() => store.tunePqCandidates()))
      reads.foreach { case (what, read) =>
        val e = intercept[SearchException](read())
        assert(e.getMessage == "store is empty or not built", what)
      }
      assert(store.getDocumentById(0L).isEmpty)
    }
  }
}
