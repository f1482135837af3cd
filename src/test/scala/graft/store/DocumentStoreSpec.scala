package graft.store

import java.nio.file.Files
import graft.{SparkSpec, StoreConfig}
import graft.embed.HashEmbedder

/** End-to-end acceptance suite mirroring the reference's quickstart
  * example (reference examples/quickstart.py:31-92 — the FIXTURES.md §1
  * corpus) and its delete/round-trip test matrices
  * (tests/test_index.py:108-261). */
class DocumentStoreSpec extends SparkSpec {

  private val texts = Seq(
    "The quick brown fox jumps over the lazy dog",
    "A fast orange fox leaps across a sleepy canine",
    "The weather is beautiful today",
    "It's raining cats and dogs outside",
    "Python is a popular programming language",
    "JavaScript is widely used for web development")
  private val metas = Seq(
    Map("source" -> "example1.txt", "category" -> "animals"),
    Map("source" -> "example1.txt", "category" -> "animals"),
    Map("source" -> "example2.txt", "category" -> "weather"),
    Map("source" -> "example2.txt", "category" -> "weather"),
    Map("source" -> "example3.txt", "category" -> "programming"),
    Map("source" -> "example3.txt", "category" -> "programming"))

  private def tmp(): String =
    Files.createTempDirectory("graft-store").toString + "/store"
  private val emb = HashEmbedder(dim = 64)

  test("quickstart: fromTexts -> similaritySearch returns k hits with essential projection") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    assert(store.documentCount == 6)
    val hits = store.similaritySearch("Tell me about foxes", k = 2).collect()
    assert(hits.length == 2)
    val cols = Seq("doc_id", "text", "source", "category", "similarity", "metadata_type")
    assert(store.similaritySearch("x", 1).columns.toSeq == cols)
    assert(hits.forall(_.getAs[String]("metadata_type") == "essential"))
    // scores are sorted desc for cosine
    val sims = hits.map(_.getAs[Double]("similarity"))
    assert(sims.sorted.reverse.toSeq == sims.toSeq)
  }

  test("similaritySearchApprox: exact when candidates cover the corpus, k rows always") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val exact = store.similaritySearch("Tell me about foxes", k = 3)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    // candidate pool >= corpus -> the rerank sees every vector -> exact.
    val full = store.similaritySearchApprox("Tell me about foxes", k = 3,
      candidates = 100).select("doc_id", "similarity").collect().map(_.toString).toSeq
    assert(full == exact)
    // tight pool still returns k rows, scored and sorted
    val tight = store.similaritySearchApprox("Tell me about foxes", k = 2,
      candidates = 3).collect()
    assert(tight.length == 2)
    val sims = tight.map(_.getAs[Double]("similarity"))
    assert(sims.sorted.reverse.toSeq == sims.toSeq)
  }

  test("hybridSearch fuses keyword and vector ranks (RRF) over the store") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val hits = store.hybridSearch("programming languages",
      queryTerms = Seq("programming", "language"), k = 3).collect()
    assert(hits.length == 3)
    assert(hits.head.schema.fieldNames.toSeq == Seq("doc_id", "text", "source",
      "category", "rrf", "rank_keyword", "rank_vector", "metadata_type"))
    // The only doc containing both query terms must fuse to the top.
    assert(hits.head.getAs[String]("text").contains("programming language"))
    assert(hits.head.getAs[Long]("rank_keyword") == 1L)
    // rrf sorted desc; every returned doc was ranked by >= 1 source
    val rrfs = hits.map(_.getAs[Double]("rrf"))
    assert(rrfs.sorted.reverse.toSeq == rrfs.toSeq)
    assert(hits.forall(r => r.getAs[Long]("rank_keyword") > 0 ||
      r.getAs[Long]("rank_vector") > 0))
    // deterministic: same call, same rows
    val again = store.hybridSearch("programming languages",
      queryTerms = Seq("programming", "language"), k = 3).collect()
    assert(again.map(_.toString).toSeq == hits.map(_.toString).toSeq)
  }

  test("filtered similaritySearch: pre-filter semantics (top-k AMONG matching docs)") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    import org.apache.spark.sql.functions.col
    val hits = store.similaritySearch("fox", k = 2,
      filter = Some(col("category") === "weather")).collect()
    assert(hits.length == 2)
    assert(hits.forall(_.getAs[String]("category") == "weather"))
    // pre-filter, not post-filter: k slots are filled by matching docs
    // even though the global top-k contains none of them
    val unfiltered = store.similaritySearch("fox", k = 2).collect()
      .map(_.getAs[String]("category")).toSeq
    assert(!unfiltered.contains("weather"))
    // filter composes with full-metadata enrichment
    val full = store.similaritySearch("fox", k = 1, includeFullMetadata = true,
      filter = Some(col("category") === "programming")).collect()
    assert(full.length == 1 &&
      full.head.getAs[String]("metadata_type") == "full")
  }

  test("maxMarginalRelevanceSearch: k diversified hits, rank 1 = top relevance") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val top = store.similaritySearch("fox", k = 1).collect().head
      .getAs[Long]("doc_id")
    val hits = store.maxMarginalRelevanceSearch("fox", k = 3, fetchK = 6).collect()
    assert(hits.length == 3)
    assert(hits.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    assert(hits.head.getAs[Long]("doc_id") == top) // rank 1 = pure relevance
    assert(hits.forall(_.getAs[String]("text").nonEmpty))
    // lambda=1 reduces to plain similarity order
    val pure = store.similaritySearch("fox", k = 3).collect()
      .map(_.getAs[Long]("doc_id")).toSeq
    val l1 = store.maxMarginalRelevanceSearch("fox", k = 3, fetchK = 6,
      lambdaParam = 1.0).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(l1 == pure)
  }

  test("persisted dedup bloom: file exists, ingest dedup identical, fpp=0 disables") {
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, texts.take(3), Nil,
      StoreConfig(), emb)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val v = store.currentManifest.version
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v$v/dedup_bloom_${store.currentManifest.count}.bin")))
    // incremental append screens through the bloom: dups dropped, new kept
    import spark.implicits._
    store.addDFIncremental(Seq(
      (texts.head, Map.empty[String, String]),    // dup of stored row
      ("a genuinely new doc", Map.empty[String, String]))
      .toDF("text", "metadata"))
    assert(store.documentCount == 4)
    // the bloom was updated in place: appending the SAME new doc again dedups
    store.addDFIncremental(Seq(("a genuinely new doc", Map.empty[String, String]))
      .toDF("text", "metadata"))
    assert(store.documentCount == 4)
    // fpp = 0 disables the filter entirely; dedup still holds via anti-join
    val d2 = tmp()
    val s2 = DocumentStore.fromTexts(spark, d2, texts.take(3), Nil,
      StoreConfig(dedupBloomFpp = 0.0), emb)
    val v2 = s2.currentManifest.version
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$d2/v$v2/dedup_bloom_${s2.currentManifest.count}.bin")))
    s2.addTexts(Seq(texts.head, "fresh"))
    assert(s2.documentCount == 4)
  }

  test("dedup key table: incremental dedup exact (incl. null text); phantom keys from a crashed append re-admit") {
    import spark.implicits._
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, texts.take(3), Nil,
      StoreConfig(), emb)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val v = store.currentManifest.version
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v$v/dedup_keys")))
    // Null text dedups CROSS-BATCH through the key-table confirm (null
    // sha rows are real key rows; the final compare is null-safe <=>).
    val nullRow = Seq((null: String, Map.empty[String, String])).toDF("text", "metadata")
    store.addDFIncremental(nullRow)
    val afterNull = store.documentCount
    store.addDFIncremental(nullRow)
    assert(store.documentCount == afterNull, "null-text doc re-ingested")
    // Mixed batch: one stored dup + one new -> exactly one admitted.
    store.addDFIncremental(Seq(
      (texts.head, Map.empty[String, String]),
      ("keytable brand new doc", Map.empty[String, String])).toDF("text", "metadata"))
    assert(store.documentCount == afterNull + 1)
    // PHANTOM: simulate the crash window where the bloom fold and the
    // key append landed but the essential rows never published — the
    // key table then OVERAPPROXIMATES, and a retried batch must be
    // re-admitted (its id fetch finds no essential row), never dropped.
    def dataFiles(sub: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/v$v/$sub"))
      .map(_.getPath).filter(_.getName.startsWith("part-")).toSet
    val essBefore = dataFiles("essential")
    store.addDFIncremental(Seq(("phantom crash doc", Map.empty[String, String]))
      .toDF("text", "metadata"))
    (dataFiles("essential") -- essBefore).foreach(p => fs.delete(p, false))
    assert(store.essential.where($"text" === "phantom crash doc").isEmpty)
    // Retry: bloom says maybe, the key table matches the phantom, but
    // the id never published -> re-admitted with a fresh id.
    store.addDFIncremental(Seq(("phantom crash doc", Map.empty[String, String]))
      .toDF("text", "metadata"))
    assert(store.essential.where($"text" === "phantom crash doc").count() == 1)
    val ids = store.essential.select("id").as[Long].collect().toSeq
    assert(ids.distinct.length == ids.length, s"duplicate ids: $ids")
    // And the retried doc is a normal citizen: ingesting it AGAIN dedups.
    val settled = store.essential.count()
    store.addDFIncremental(Seq(("phantom crash doc", Map.empty[String, String]))
      .toDF("text", "metadata"))
    assert(store.essential.count() == settled)
  }

  test("dedup key table: a maybe set past SafeInProbe confirms via the broadcast-join probe") {
    import spark.implicits._
    // > SafeInProbe distinct dup texts in ONE batch forces the confirm's
    // join-mode probe (and join-mode id fetch) — the In-pushdown form
    // would build an or-chain deep enough to overflow a cold task stack
    // (the measured cliff that motivated the split). Semantics must be
    // identical to the small-probe path: stored dups dropped, new rows
    // and the null text admitted once.
    val n = DocumentStore.SafeInProbe + 44
    val corpus = (0 until n).map(i => s"join-probe doc $i")
    val store = DocumentStore.fromTexts(spark, tmp(), corpus, Nil,
      StoreConfig(), emb)
    val batch = (corpus.map(t => (t, Map.empty[String, String])) ++ Seq(
      ("join-probe brand new A", Map.empty[String, String]),
      (null: String, Map.empty[String, String]),
      ("join-probe brand new B", Map.empty[String, String])))
      .toDF("text", "metadata")
    store.addDFIncremental(batch)
    assert(store.documentCount == n + 3)
    store.addDFIncremental(batch)   // now every row is a stored dup
    assert(store.documentCount == n + 3)
    val ids = store.essential.select("id").as[Long].collect().toSeq
    assert(ids.distinct.length == ids.length)
  }

  test("lexical index: searchLexical == scan-time BM25; stale index bypassed") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val terms = Seq("programming", "language")
    def hitsNow() = store.searchLexical(terms, k = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    val scanHits = hitsNow()   // no index yet -> scan path
    store.buildLexicalIndex()
    val indexHits = hitsNow()  // index path, must be bit-identical
    assert(indexHits == scanHits)
    assert(indexHits.head._2 > 0.0)
    // hybridSearch served from the index gives the same fusion
    val hybrid = store.hybridSearch("programming languages", terms, k = 3)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    // append new docs WITHOUT rebuilding the index -> stats count
    // mismatch -> scan fallback that sees the new doc
    import spark.implicits._
    store.addDFIncremental(Seq(
      ("programming language programming language", Map.empty[String, String]))
      .toDF("text", "metadata"))
    val afterAppend = hitsNow()
    assert(afterAppend.map(_._1).contains(6L)) // the new doc id surfaces
    // rebuilding re-enables the index path with the new doc included
    store.buildLexicalIndex()
    assert(hitsNow() == afterAppend)
    assert(store.hybridSearch("programming languages", terms, k = 3)
      .collect().length == 3)
    assert(hybrid.nonEmpty)
  }

  test("full-metadata enrichment joins payload and tags metadata_type=full") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val hits = store.similaritySearch("foxes", k = 2, includeFullMetadata = true).collect()
    assert(hits.forall(_.getAs[String]("metadata_type") == "full"))
    assert(hits.forall(r => r.getAs[Map[String, String]]("metadata").nonEmpty))
  }

  test("ingest dedups duplicate texts but returns input-length ids (reference surface)") {
    val ids = {
      val store = DocumentStore.fromTexts(spark, tmp(),
        Seq("same", "same", "other"), Nil, StoreConfig(), emb)
      assert(store.documentCount == 2)
      store
    }
  }

  test("save/load round-trip preserves count and search results") {
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, texts, metas, StoreConfig(), emb)
    val before = store.similaritySearch("weather", 3).collect().map(_.toString).toSeq
    val loaded = DocumentStore.load(spark, dir, emb)
    assert(loaded.documentCount == 6)
    val after = loaded.similaritySearch("weather", 3).collect().map(_.toString).toSeq
    assert(before == after)
    intercept[IllegalArgumentException](DocumentStore.load(spark, dir, HashEmbedder(32)))
  }

  test("deleteByIds: removes rows, recompacts ids densely, validates input") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    assert(!store.deleteByIds(Nil))
    intercept[IllegalArgumentException](store.deleteByIds(Seq(99L)))
    assert(store.deleteByIds(Seq(0L, 2L)))
    assert(store.documentCount == 4)
    val ids = store.essential.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(0L, 1L, 2L, 3L))
    // surviving texts are the non-deleted ones
    val kept = store.essential.select("text").collect().map(_.getString(0)).toSet
    assert(kept == Set(texts(1), texts(3), texts(4), texts(5)))
  }

  test("persisted PQ index: exact when candidates cover the corpus; stale index bypassed") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    store.buildPqIndex(m = 8, ksub = 4)
    val exact = store.similaritySearch("Tell me about foxes", k = 3)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    // candidate pool >= corpus -> the exact rerank sees every vector
    val viaPq = store.similaritySearchPq("Tell me about foxes", k = 3,
      candidates = 100)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    assert(viaPq == exact)
    // append WITHOUT rebuilding: index is stale -> exact fallback, and
    // the new doc is searchable immediately
    store.addTexts(Seq("a brand new fox document"), Seq(Map("source" -> "n.txt")))
    val afterAppend = store.similaritySearchPq("fox document", k = 7,
      candidates = 100)
    assert(afterAppend.count() == 7)
    val exactAfter = store.similaritySearch("fox document", k = 7)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    assert(afterAppend.select("doc_id", "similarity").collect()
      .map(_.toString).toSeq == exactAfter)
  }

  test("rotated (OPQ) PQ index: exact when candidates cover the corpus; tuning rotates its probes; plain rebuild clears the rotation") {
    val many = (0 until 80).map(i => s"opq store corpus document number $i about topic ${i % 6}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil, StoreConfig(), emb)
    store.buildPqIndex(m = 8, ksub = 4, rotate = true)
    // Full-depth rotated search == exact search: the rotated ADC only
    // ORDERS candidates; with the corpus-wide pool the original-space
    // rerank sees everything, so OPQ cannot change the answer.
    val exact = store.similaritySearch("topic 2 document", k = 5)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    val viaOpq = store.similaritySearchPq("topic 2 document", k = 5,
      candidates = many.length)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    assert(viaOpq == exact)
    // Tight depth still returns k rows and original-space similarities.
    assert(store.similaritySearchPq("topic 2 document", k = 5,
      candidates = 5).count() == 5)
    // Tuning against the rotated index must rotate its ADC probes —
    // an unrotated probe against rotated codes would rank garbage and
    // the measured recall would collapse; full-depth recall must be 1.
    val curve = store.tunePqCandidates(targetRecall = 0.99, k = 5,
      sampleQueries = 6, depthFactors = Seq(2, many.length / 5))
    assert(curve.map(_.recall).max >= 0.99,
      s"rotated tuning recall collapsed: $curve")
    // A plain (unrotated) rebuild on the same snapshot REMOVES the
    // stale rotation — otherwise searches would rotate queries against
    // unrotated codes.
    store.buildPqIndex(m = 8, ksub = 4)
    val viaPlain = store.similaritySearchPq("topic 2 document", k = 5,
      candidates = many.length)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    assert(viaPlain == exact)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val v = store.currentManifest.version
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"${store.path}/v$v/pq/rotation")))
  }

  test("tuned PQ rerank depth is ADOPTED: no-arg searchPq uses the chosen depth, explicit wins, mutation resets") {
    val many = (0 until 120).map(i => s"pq tuning corpus document number $i about topic ${i % 7}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil, StoreConfig(), emb)
    // No curve yet: the static default applies.
    assert(store.effectivePqCandidates == DocumentStore.DefaultPqCandidates)
    store.buildPqIndex(m = 8, ksub = 4)
    val curve = store.tunePqCandidates(targetRecall = 0.9, k = 5, sampleQueries = 8)
    val chosen = curve.find(_.chosen).get.setting
    // Adoption is symmetric with effectiveNprobe: the measured choice
    // IS what a no-argument search runs with.
    assert(store.effectivePqCandidates == chosen)
    val auto = store.similaritySearchPq("topic 3 document", k = 5)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    val explicit = store.similaritySearchPq("topic 3 document", k = 5,
      candidates = chosen)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    assert(auto == explicit)
    // An explicit argument still wins: corpus-wide depth = exact.
    val exact = store.similaritySearch("topic 3 document", k = 5)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    val full = store.similaritySearchPq("topic 3 document", k = 5,
      candidates = many.length)
      .select("doc_id", "similarity").collect().map(_.toString).toSeq
    assert(full == exact)
    // A mutation bumps the version; the new snapshot has no curve, so
    // the adoption falls back to the static default (no stale reuse).
    store.addTexts(Seq("a freshly appended pq document"))
    assert(store.effectivePqCandidates == DocumentStore.DefaultPqCandidates)
  }

  test("searchPq depth clamps to k: a depth below k (tuned or explicit) still returns k rows") {
    val many = (0 until 60).map(i => s"pq clamp corpus document number $i about topic ${i % 5}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil, StoreConfig(), emb)
    store.buildPqIndex(m = 8, ksub = 4)
    // Explicit candidates < k: the clamp lifts the depth to k instead of
    // silently returning 3 rows.
    val starved = store.similaritySearchPq("topic 3 document", k = 9, candidates = 3)
    assert(starved.count() == 9)
    // Tuned path: a curve measured at a small k must not starve a later
    // larger-k search either.
    store.tunePqCandidates(targetRecall = 0.9, k = 2, sampleQueries = 6,
      depthFactors = Seq(2))
    val bigK = math.min(40, many.length)
    assert(store.similaritySearchPq("topic 1 document", k = bigK).count() == bigK)
  }

  test("no-op re-ingest of existing texts does not churn a new version") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val v = store.currentManifest.version
    store.addTexts(texts.take(3), metas.take(3)) // all dups
    assert(store.currentManifest.version == v, "all-dup batch must be a no-op")
    assert(store.documentCount == 6)
  }

  test("concurrent async mutations serialize: both batches land, count exact") {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val fs = (0 until 3).map { i =>
      store.addTextsAsync(Seq(s"concurrent doc $i"), Seq(Map("source" -> s"c$i")))
    }
    Await.result(Future.sequence(fs), 5.minutes)
    assert(store.documentCount == 9)
    assert(store.essential.select("text").collect()
      .map(_.getString(0)).count(_.startsWith("concurrent doc")) == 3)
  }

  test("load restores stored IVF nlist: a reloaded store keeps its clustering on mutation") {
    val many = (0 until 200).map(i => s"doc $i topic ${i % 11}")
    val dir = tmp()
    val built = DocumentStore.fromTexts(spark, dir, many, Nil,
      StoreConfig(nlist = 4, nprobe = 2), emb)
    assert(built.currentManifest.nlist == 4)
    // reload with DEFAULT config (the Quickstart pattern)
    val reloaded = DocumentStore.load(spark, dir, emb)
    assert(reloaded.config.nlist == 4, "stored nlist must be restored")
    reloaded.deleteByIds(Seq(0L))
    assert(reloaded.currentManifest.nlist == 4,
      "mutation after reload must keep the IVF layout")
  }

  test("auto-nlist store (nlist = -1): fits the derived cluster count, load restores AUTO not the frozen fit") {
    // 300 docs clear the auto activation floor (240); autoNlist(300) =
    // max(8, round(√10)) = 8 — the manifest must record the FITTED
    // value while the flag preserves the auto config across reload.
    val many = (0 until 300).map(i => s"doc $i topic ${i % 13} body words here")
    val dir = tmp()
    val built = DocumentStore.fromTexts(spark, dir, many, Nil,
      StoreConfig(nlist = -1, nprobe = 2), emb)
    assert(built.currentManifest.nlist == graft.index.IvfIndex.autoNlist(300L),
      s"fitted nlist ${built.currentManifest.nlist}")
    assert(built.currentManifest.autoNlist)
    // Reload with the DEFAULT config: the restored config must be the
    // AUTO sentinel (so future refits keep tracking corpus size — the
    // measured r15 ×100 cliff is a reloaded store frozen at its first
    // fit), while search keeps working off the manifest's fitted value.
    val reloaded = DocumentStore.load(spark, dir, emb)
    assert(reloaded.config.nlist == -1, "auto config must survive reload")
    assert(reloaded.similaritySearch("topic 3", k = 3).count() == 3)
    // A mutation refits under auto (corpus size ~unchanged here, so
    // the derived count stays 8 — the point is it derives, not
    // inherits a frozen explicit value).
    reloaded.deleteByIds(Seq(0L))
    assert(reloaded.currentManifest.nlist == graft.index.IvfIndex.autoNlist(299L))
    assert(reloaded.currentManifest.autoNlist)
    // Below the 240-point floor the auto store is simply flat.
    val small = DocumentStore.fromTexts(spark, tmp(),
      (0 until 100).map(i => s"tiny $i"), Nil, StoreConfig(nlist = -1), emb)
    assert(small.currentManifest.nlist == 0)
  }

  test("batch search with duplicated query strings matches the distinct run") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val dup = store.similaritySearchBatch(Seq("foxes", "foxes"), k = 3).collect()
    val single = store.similaritySearchBatch(Seq("foxes"), k = 3).collect()
    assert(dup.map(_.toString).sorted.toSeq == single.map(_.toString).sorted.toSeq)
    assert(dup.map(_.getAs[Long]("doc_id")).distinct.length == 3)
  }

  test("async wrappers: add/search/delete through Futures (reference aadd/asearch parity)") {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val ids = Await.result(
      store.addTextsAsync(Seq("an async document"), Seq(Map("source" -> "a.txt"))),
      2.minutes)
    assert(ids == Seq("0") && store.documentCount == 7)
    val hits = Await.result(store.similaritySearchAsync("foxes", k = 2), 2.minutes)
    assert(hits.length == 2 && hits.forall { case (h, s) => h.similarity == s })
    assert(Await.result(store.deleteByIdsAsync(Seq(6L)), 2.minutes))
    assert(store.documentCount == 6)
  }

  test("async factories build a complete store (reference afrom_texts/afrom_documents parity)") {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val s1 = Await.result(
      DocumentStore.fromTextsAsync(spark, tmp(), texts, metas, StoreConfig(), emb),
      5.minutes)
    assert(s1.documentCount == 6)
    val docs = texts.zip(metas).map { case (t, m) => graft.Doc(t, m) }
    val s2 = Await.result(
      DocumentStore.fromDocumentsAsync(spark, tmp(), docs, StoreConfig(), emb),
      5.minutes)
    assert(s2.documentCount == 6)
    assert(s2.similaritySearch("foxes", k = 1).count() == 1)
  }

  test("upsertTexts publishes exactly ONE new version (no intermediate deleted-state)") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val v = store.currentManifest.version
    store.upsertTexts(
      Seq(texts.head, "an upsert-only new row"),
      Seq(Map("source" -> "patch.txt"), Map("source" -> "fresh.txt")))
    assert(store.currentManifest.version == v + 1,
      "merge must be one copy-on-write version, not delete+add's two")
    assert(store.documentCount == 7)
  }

  test("upsertTexts replaces matching texts (metadata wins) and appends new ones") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    // re-ingest of an existing text would be DROPPED by ingest dedup;
    // upsert must instead replace its metadata and keep one copy.
    store.upsertTexts(
      Seq(texts.head, "An entirely new document about volcanoes"),
      Seq(Map("source" -> "patched.txt", "category" -> "animals-v2"),
        Map("source" -> "new.txt", "category" -> "geology")))
    assert(store.documentCount == 7)
    val e = store.essential.collect()
    val patched = e.filter(_.getAs[String]("text") == texts.head)
    assert(patched.length == 1)
    assert(patched.head.getAs[String]("category") == "animals-v2")
    assert(e.count(_.getAs[String]("category") == "geology") == 1)
    // ids stay dense after the delete+append composition
    assert(e.map(_.getAs[Long]("id")).sorted.toSeq == (0L until 7L))
  }

  test("verifyIntegrity: clean store all ok; corrupted payload metadata flagged") {
    import org.apache.spark.sql.functions.{col, map_concat, map, lit, when}
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, texts, metas, StoreConfig(), emb)
    val audit0 = store.verifyIntegrity()
    assert(audit0.count() == 6)
    assert(audit0.where(col("status") =!= "ok").count() == 0)
    // Out-of-band corruption: rewrite the payload store with doc 2's
    // metadata altered (what a buggy external writer / bit-rot repair
    // tool would do). The stored essential hash no longer matches.
    val v = store.currentManifest.version
    val payloadPath = s"$dir/v$v/payload"
    val corrupted = spark.read.parquet(payloadPath)
      .withColumn("metadata",
        when(col("doc_id") === 2L,
          map_concat(col("metadata"), map(lit("source"), lit("tampered.txt"))))
          .otherwise(col("metadata")))
    val staging = s"$dir/payload_tmp"
    corrupted.write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging).write.mode("overwrite").parquet(payloadPath)
    val bad = store.verifyIntegrity().where(col("status") =!= "ok").collect()
    assert(bad.length == 1)
    assert(bad.head.getAs[Long]("doc_id") == 2L)
    assert(bad.head.getAs[String]("status") == "mismatch")
  }

  test("readManifest treats a partial .tmp with no published manifest as absent") {
    // A crash between creating a manifest commit's temp file and its
    // rename leaves a stray `.manifest_<n>.tmp`. With no earlier commit
    // the store was never published: readers must say absent (None),
    // not parse the garbage.
    val dir = tmp()
    val commits = new java.io.File(dir, "_commits")
    commits.mkdirs()
    java.nio.file.Files.writeString(
      commits.toPath.resolve(".manifest_0.tmp"), """{"ver""")
    assert(DocumentStore.readManifest(spark, dir).isEmpty)
    intercept[graft.StorageException] { DocumentStore.load(spark, dir, emb) }
    // With an earlier commit, a stray temp for the next one is ignored
    // even when it is complete: readers stay on the published commit.
    val store = DocumentStore.fromTexts(spark, dir, Seq("a", "b"), Nil, StoreConfig(), emb)
    val live = store.currentManifest
    java.nio.file.Files.writeString(commits.toPath.resolve(".manifest_1.tmp"),
      DocumentStore.renderManifest(live.copy(version = live.version + 1, count = 99L)))
    assert(DocumentStore.readManifest(spark, dir).contains(live))
    assert(DocumentStore.load(spark, dir, emb).documentCount == 2)
    // The next publish takes the temp name over; the new commit wins.
    store.addTexts(Seq("c"))
    assert(DocumentStore.readManifest(spark, dir).map(_.count).contains(3L))
  }

  test("deleteByTexts deletes only first occurrence and reports misses") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    assert(store.deleteByTexts(Seq(texts(0))))
    assert(store.documentCount == 5)
    assert(!store.deleteByTexts(Seq("not in store")))
  }

  test("deleting everything drops the store") {
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, Seq("a", "b"), Nil, StoreConfig(), emb)
    assert(store.deleteByIds(Seq(0L, 1L)))
    assert(store.documentCount == 0)
    assert(DocumentStore.readManifest(spark, dir).isEmpty)
  }

  test("addTexts appends with dedup against existing store") {
    val store = DocumentStore.fromTexts(spark, tmp(), Seq("one", "two"), Nil, StoreConfig(), emb)
    store.addTexts(Seq("two", "three"))
    assert(store.documentCount == 3)
    val byId = store.essential.select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId == Map(0L -> "one", 1L -> "two", 2L -> "three"))
  }

  test("ingest evaluates the staged plan exactly once (pinned input)") {
    // zipWithIndex runs a size job plus the final compute, and the
    // Bloom confirm both collects keys from and anti-joins against
    // plans over the batch — before the pin, a nondeterministic staged
    // source (unseeded sample(), a directory racing appends) could
    // disagree with itself between the dedup decision and the published
    // rows. An accumulator-instrumented source counts row-passes.
    val store = DocumentStore.fromTexts(spark, tmp(),
      Seq("pin corpus doc a", "pin corpus doc b"), Nil, StoreConfig(), emb)
    val acc = spark.sparkContext.longAccumulator("staged_evals")
    val rows = (0 until 12).map(i =>
      if (i == 0) "pin corpus doc a" else s"pin new doc $i")
    val rdd = spark.sparkContext.parallelize(rows, 3).map { t =>
      acc.add(1L)
      org.apache.spark.sql.Row(t, Map("source" -> "pin"))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("metadata",
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))))
    store.addDF(spark.createDataFrame(rdd, schema))
    assert(store.documentCount == 13) // one duplicate screened, 11 new
    assert(acc.value == rows.length.toLong,
      s"staged plan made ${acc.value} row-passes for ${rows.length} rows — must be exactly one evaluation")
  }

  test("incremental append matches snapshot append exactly; compact preserves data") {
    import spark.implicits._
    def staged(ts: Seq[String]) =
      ts.map(t => (t, Map("source" -> "s.txt", "category" -> "c"))).toDF("text", "metadata")

    val snapDir = tmp(); val incDir = tmp()
    val snap = DocumentStore.fromTexts(spark, snapDir, texts.take(3),
      metas.take(3), StoreConfig(), emb)
    val inc = DocumentStore.fromTexts(spark, incDir, texts.take(3),
      metas.take(3), StoreConfig(), emb)
    // same second batch (with one dup against the store) via both paths
    val batch = Seq(texts(1), texts(3), texts(4))
    snap.addDF(staged(batch))
    inc.addDFIncremental(staged(batch))

    assert(inc.documentCount == snap.documentCount)
    def dump(s: DocumentStore) = s.essential
      .select("id", "text", "source", "category", "metadata_hash")
      .collect().map(_.toSeq).toSet
    assert(dump(inc) == dump(snap))

    // incremental wrote into the SAME version; snapshot bumped it
    assert(inc.currentManifest.version == 1L)
    assert(snap.currentManifest.version == 2L)

    // point lookup + search still correct on the appended store
    assert(inc.getDocumentById(4L).map(_.text).contains(texts(4)))
    val hits = inc.similaritySearch("foxes", k = 2).select("doc_id").collect()
    assert(hits.length == 2)

    // compact: new version, identical data, still searchable
    inc.compact()
    assert(inc.currentManifest.version == 2L)
    assert(dump(inc) == dump(snap))
    assert(inc.getDocumentById(4L).map(_.text).contains(texts(4)))
  }

  test("searchMaxSim: multi-vector store finds the buried passage, survives mutation and reload") {
    import org.apache.spark.sql.functions.{col, explode}
    val q = "quick brown fox jumps high"
    // 40 filler tokens, then the query phrase ALIGNED on a chunk
    // boundary (chunkSize 5, overlap 0): doc 0's last chunk IS the
    // query text, so its hash embedding matches with cosine 1.0 —
    // the buried passage a single doc vector would dilute away.
    val filler = (0 until 40).map(i => s"filler$i").mkString(" ")
    val docsTx = Seq(
      s"$filler $q",
      "completely unrelated words about cooking pasta tonight",
      "another document mentioning fox briefly " + (0 until 30).map(i => s"pad$i").mkString(" "))
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, docsTx, Nil,
      StoreConfig(chunkSize = 5, chunkOverlap = 0), emb)
    // chunk table exists and has more rows than docs
    assert(store.chunkVectors.count() > 3)
    val hits = store.searchMaxSim(q, k = 2)
    val cols = Seq("doc_id", "text", "source", "category", "similarity",
      "n_chunks", "metadata_type")
    assert(hits.columns.toSeq == cols)
    val top = hits.collect()
    assert(top.length == 2)
    // the buried-passage doc wins with an exact-chunk match
    assert(top(0).getAs[Long]("doc_id") == 0L, top(0).toString)
    assert(top(0).getAs[Double]("similarity") == 1.0, top(0).toString)
    assert(top(0).getAs[Long]("n_chunks") == 9L, top(0).toString)
    // parity with the index-level op over scan-derived chunks
    def direct(k: Int) = graft.index.VectorIndex.maxSimTopK(
      emb.embed(store.essential.select(col("id"), explode(
        graft.functions.TextFunctions.chunks(col("text"), 5, 0)).as("c")),
        "c", "v"), "id", "v", emb.embedQuery(q).toSeq, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Double]("similarity"))).toSeq == direct(2))
    // mutation rebuilds the chunk table: doc 0 gone, ids recompacted,
    // and the store result still tracks a fresh scan-time recompute
    store.deleteByIds(Seq(0L))
    val after = store.searchMaxSim(q, k = 1).collect()
    assert(after.head.getAs[Double]("similarity") < 1.0)
    assert((after.head.getAs[Long]("doc_id"),
      after.head.getAs[Double]("similarity")) == direct(1).head)
    // reload restores multi-vector mode from the manifest alone
    val reloaded = DocumentStore.load(spark, dir, emb)
    assert(reloaded.config.chunkSize == 5 && reloaded.config.chunkOverlap == 0)
    assert(reloaded.searchMaxSim(q, k = 1).collect().head
      .getAs[Long]("doc_id") == after.head.getAs[Long]("doc_id"))
    // single-vector stores refuse loudly
    val flat = DocumentStore.fromTexts(spark, tmp(), docsTx, Nil, StoreConfig(), emb)
    intercept[graft.SearchException] { flat.searchMaxSim("fox", 1) }
  }

  test("multi-vector mutations carry chunk vectors: ZERO embed calls on delete, O(batch) on append/upsert") {
    import org.apache.spark.sql.functions.{col, explode}
    // Counts every embed-plan construction: the store's mutation paths
    // are driver-eager, so each chunkRows/buildNewRows invocation calls
    // embedder.embed exactly once — a delete that re-embedded the chunk
    // corpus (the reference's index.py:404-440 artifact, SURVEY §3.3)
    // would increment this.
    final class CountingEmbedder(inner: HashEmbedder) extends graft.embed.Embedder {
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      override def dim: Int = inner.dim
      override def embed(df: org.apache.spark.sql.DataFrame, textCol: String,
                         outCol: String): org.apache.spark.sql.DataFrame = {
        calls.incrementAndGet(); inner.embed(df, textCol, outCol)
      }
      override def embedQuery(text: String): Array[Double] = inner.embedQuery(text)
    }
    val counting = new CountingEmbedder(emb)
    val q = "quick brown fox jumps high"
    val filler = (0 until 40).map(i => s"filler$i").mkString(" ")
    val docsTx = Seq(
      s"$filler $q",
      "completely unrelated words about cooking pasta tonight",
      "another document mentioning fox briefly " + (0 until 30).map(i => s"pad$i").mkString(" "),
      "a fourth document with some more words in it entirely")
    val store = DocumentStore.fromTexts(spark, tmp(), docsTx, Nil,
      StoreConfig(chunkSize = 5, chunkOverlap = 0), counting)
    val afterBuild = counting.calls.get()
    assert(afterBuild >= 2) // doc embed + chunk embed at minimum

    // Fresh-scan recompute oracle for the top hit at any point in time.
    def direct(k: Int) = graft.index.VectorIndex.maxSimTopK(
      emb.embed(store.essential.select(col("id"), explode(
        graft.functions.TextFunctions.chunks(col("text"), 5, 0)).as("c")),
        "c", "v"), "id", "v", emb.embedQuery(q).toSeq, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val chunksBefore = store.chunkVectors.count()
    val doc3Chunks = store.chunkVectors.where(col("id") === 3L).count()

    // DELETE: zero embedding work — survivors carried via the old→new map.
    assert(store.deleteByIds(Seq(3L)))
    assert(counting.calls.get() == afterBuild, "deleteByIds re-embedded chunks")
    assert(store.chunkVectors.count() == chunksBefore - doc3Chunks)
    val hit = store.searchMaxSim(q, k = 1).collect().head
    assert((hit.getAs[Long]("doc_id"), hit.getAs[Double]("similarity")) == direct(1).head)

    // deleteWhere: same carry, still zero.
    assert(store.deleteWhere(col("text").contains("pasta")) == 1L)
    assert(counting.calls.get() == afterBuild, "deleteWhere re-embedded chunks")
    val hit2 = store.searchMaxSim(q, k = 1).collect().head
    assert((hit2.getAs[Long]("doc_id"), hit2.getAs[Double]("similarity")) == direct(1).head)

    // APPEND: exactly the batch's two embed calls (docs + its chunks).
    store.addTexts(Seq("brand new appended document about sailing boats"))
    assert(counting.calls.get() == afterBuild + 2, "append embedded more than the batch")
    assert((hit2.getAs[Long]("doc_id"), hit2.getAs[Double]("similarity")) == direct(1).head)

    // UPSERT of an existing text: batch-sized too (replace + re-add).
    store.upsertTexts(Seq(docsTx(0)), Seq(Map("source" -> "u.txt")))
    assert(counting.calls.get() == afterBuild + 4, "upsert embedded more than the batch")
    val hit3 = store.searchMaxSim(q, k = 1).collect().head
    assert((hit3.getAs[Long]("doc_id"), hit3.getAs[Double]("similarity")) == direct(1).head)
    assert(hit3.getAs[Double]("similarity") == 1.0) // buried passage still exact

    // compact(): the one mutation that rebuilds chunks from text.
    val preCompact = counting.calls.get()
    store.compact()
    assert(counting.calls.get() > preCompact)
    val hit4 = store.searchMaxSim(q, k = 1).collect().head
    assert((hit4.getAs[Long]("doc_id"), hit4.getAs[Double]("similarity")) == direct(1).head)
  }

  test("append carry clips crash-orphaned chunk rows so a new doc can't inherit dead vectors") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir,
      Seq("alpha beta gamma delta epsilon", "one two three four five"), Nil,
      StoreConfig(chunkSize = 5, chunkOverlap = 0), emb)
    val v = store.currentManifest.version
    val n = store.documentCount
    // Simulate addDFIncremental's crash window: chunk rows landed for a
    // batch whose essential rows never published — orphan ids >= n.
    val poison = "secret poison passage tokens here"
    Seq((n, emb.embedQuery(poison).toSeq)).toDF("id", "vec")
      .write.mode("append").parquet(s"$dir/v$v/chunks")
    // The next append mints exactly id n for a NEW document; an
    // unclipped carry would attach the dead batch's vector to it.
    store.addTexts(Seq("innocent appended doc about gardens"))
    val hit = store.searchMaxSim(poison, k = 1).collect().head
    assert(hit.getAs[Double]("similarity") < 0.99, s"poisoned hit: $hit")
    // the new doc's chunk rows are exactly its own text's (one window)
    assert(store.chunkVectors.where(col("id") === n).count() == 1)
  }

  test("mutate-then-search refreshes centroids with NO manual invalidation (versioned cache)") {
    import graft.index.IvfIndex
    val many = (0 until 150).map(i => s"document $i in family ${i % 5}")
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, many, Nil,
      StoreConfig(nlist = 4, nprobe = 4), emb)
    assert(store.currentManifest.nlist > 0)
    val key = s"$dir#centroids"
    // first search populates the versioned centroid cache at v1
    assert(store.similaritySearch("document 7 in family 2", k = 1)
      .select("text").head.getString(0) == "document 7 in family 2")
    assert(IvfIndex.cachedVersion(key).contains(store.currentManifest.version))
    val v1 = store.currentManifest.version
    // mutate: snapshot rewrite re-fits centroids and bumps the version
    store.deleteWhere(org.apache.spark.sql.functions.col("text")
      .endsWith("family 4"))
    assert(store.currentManifest.version > v1)
    // search after the mutation: correct result AND the cache rolled
    // to the new version by itself — the versioned key is the
    // invalidation, nobody called invalidateCached
    assert(store.similaritySearch("document 7 in family 2", k = 1)
      .select("text").head.getString(0) == "document 7 in family 2")
    assert(IvfIndex.cachedVersion(key).contains(store.currentManifest.version))
    // the cache rolled forward: newest cached version is the live one
    // (v1 may legitimately linger as the pinned-reader grace copy —
    // the cache keeps at most the latest two versions per key)
    assert(IvfIndex.cachedVersion(key).get > v1)
  }

  test("rebuilding a store at the same path invalidates the old generation's centroid cache") {
    import graft.index.IvfIndex
    val dir = tmp()
    val corpusA = (0 until 150).map(i => s"gen-A doc $i topic ${i % 5}")
    val a = DocumentStore.fromTexts(spark, dir, corpusA, Nil,
      StoreConfig(nlist = 4, nprobe = 4), emb)
    val key = s"$dir#centroids"
    assert(a.similaritySearch("gen-A doc 3 topic 3", 1).count() == 1)
    assert(IvfIndex.cachedVersion(key).isDefined) // generation 1 cached at v1
    // rebuild at the SAME path: versions restart at 1 — without
    // invalidation the (path, 1) entry would serve generation 1's
    // centroids against generation 2's cluster assignments
    val corpusB = (0 until 150).map(i => s"gen-B fresh $i family ${i % 5}")
    val b = DocumentStore.fromTexts(spark, dir, corpusB, Nil,
      StoreConfig(nlist = 4, nprobe = 4), emb)
    // the factory rebuild evicted generation 1's entry BEFORE any read
    assert(IvfIndex.cachedVersion(key).isEmpty,
      "stale generation-1 centroids survived the rebuild")
    val hit = b.similaritySearch("gen-B fresh 7 family 2", k = 1)
      .select("text").head.getString(0)
    assert(hit == "gen-B fresh 7 family 2")
    // drop() clears it too
    b.drop()
    assert(IvfIndex.cachedVersion(key).isEmpty)
  }

  test("tuneNprobe: measured curve, cheapest setting meeting target chosen, searches use it") {
    val many = (0 until 200).map(i => s"tuning doc $i about theme ${i % 8}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil,
      StoreConfig(nlist = 4, nprobe = 1), emb)
    assert(store.currentManifest.nlist == 4)
    val curve = store.tuneNprobe(targetRecall = 0.99, k = 5, sampleQueries = 8)
    assert(curve.map(_.setting) == Seq(1, 2, 4))  // capped at nlist, deduped
    // probing every cluster IS the exact scan: recall must be 1.0
    assert(curve.last.recall == 1.0, curve.mkString(";"))
    assert(curve.last.costFraction == 1.0)
    // cost grows with probes; recall never decreases along this curve
    assert(curve.map(_.costFraction) == curve.map(_.costFraction).sorted)
    assert(curve.map(_.recall) == curve.map(_.recall).sorted, curve.mkString(";"))
    // exactly one chosen point: the cheapest meeting the target
    val chosen = curve.filter(_.chosen)
    assert(chosen.length == 1)
    assert(chosen.head.setting == curve.find(_.recall >= 0.99).get.setting)
    // searches pick it up; the persisted curve round-trips
    assert(store.effectiveNprobe == chosen.head.setting)
    assert(store.tuningCurve("nprobe").contains(curve))
    assert(store.similaritySearch("tuning doc 7 about theme 7", k = 1)
      .collect().head.getAs[String]("text") == "tuning doc 7 about theme 7")
    // a mutation drops the stale tuning: back to the static config
    store.deleteWhere(org.apache.spark.sql.functions.col("text").endsWith("theme 7"))
    assert(store.tuningCurve("nprobe").isEmpty)
    assert(store.effectiveNprobe == store.config.nprobe)
  }

  test("a null-vec doc never consumes the PQ candidate budget (filter survives optimization)") {
    import spark.implicits._
    // element_at over the literal ADC table claims nullable=false, so
    // before adcMicrosCol's when-guard Catalyst PRUNED the store's
    // `adc IS NOT NULL` screen — the null-vec doc (NULLS FIRST under
    // ASC) then took a candidate slot ahead of every real document.
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    store.addDF(Seq((null: String, Map.empty[String, String])).toDF("text", "metadata"))
    store.buildPqIndex(m = 8, ksub = 4)
    val hits = store.similaritySearchPq("Tell me about foxes", k = 2,
      candidates = 2).collect()
    assert(hits.length == 2)
    assert(hits.forall(_.getAs[String]("text") != null))
    // and the tight-candidates result matches exact top-2: with the
    // null row screened, both slots go to the ADC-best real docs.
    val exact = store.similaritySearch("Tell me about foxes", k = 2)
      .select("doc_id").as[Long].collect().toSet
    val viaPq = store.similaritySearchPq("Tell me about foxes", k = 2,
      candidates = store.documentCount.toInt)
      .select("doc_id").as[Long].collect().toSet
    assert(viaPq == exact)
    // the hamming prescreen path has the same NULLS FIRST exposure —
    // its screen must filter too (binarySign63 is honestly nullable)
    val viaHam = store.similaritySearchApprox("Tell me about foxes", k = 2,
      candidates = 2).collect()
    assert(viaHam.length == 2 && viaHam.forall(_.getAs[String]("text") != null))
  }

  test("a torn tuning commit reads as the last published manifest") {
    val many = (0 until 200).map(i => s"torn doc $i about theme ${i % 8}")
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, many, Nil,
      StoreConfig(nlist = 4, nprobe = 1), emb)
    store.tuneNprobe(targetRecall = 0.99, k = 5, sampleQueries = 8)
    // Simulate a crash between creating the next manifest commit's temp
    // file and its rename: readers stay on the tuned commit.
    val commits = new java.io.File(dir, "_commits")
    val next = commits.list().flatMap(_.stripPrefix("manifest_").toLongOption).max + 1
    java.nio.file.Files.writeString(
      commits.toPath.resolve(s".manifest_$next.tmp"), """{"ver""")
    val reloaded = DocumentStore.load(spark, dir, emb)
    assert(reloaded.currentManifest == store.currentManifest)
    assert(reloaded.tuningStale.isEmpty)
    assert(!reloaded.recommendCompaction().exists(_.startsWith("tuning-stale")))
    reloaded.compact() // must not throw; replays the published params
    assert(reloaded.documentCount == many.length)
    assert(reloaded.tuningCurve("nprobe").exists(_.count(_.chosen) == 1))
    assert(reloaded.tuningStale.isEmpty)
  }

  test("tuning lifecycle: mutations REPORT staleness; compact() replays the recorded tuneNprobe; PQ stays reported until cleared") {
    val many = (0 until 200).map(i => s"lifecycle doc $i about theme ${i % 8}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil,
      StoreConfig(nlist = 4, nprobe = 1), emb)
    assert(store.tuningStale.isEmpty) // never tuned: nothing to report
    store.tuneNprobe(targetRecall = 0.99, k = 5, sampleQueries = 8)
    store.buildPqIndex(m = 8, ksub = 4)
    store.tunePqCandidates(targetRecall = 0.9, k = 5, sampleQueries = 6)
    assert(store.tuningStale.isEmpty) // both tuned ON this snapshot
    // A mutation drops both curves — staleness is now reported, not a
    // silent fallback to static defaults.
    store.deleteWhere(org.apache.spark.sql.functions.col("text").endsWith("theme 7"))
    val stale = store.tuningStale
    assert(stale.exists(_.startsWith("nprobe(")), stale.mkString(";"))
    assert(stale.exists(_.startsWith("pq(")), stale.mkString(";"))
    assert(store.recommendCompaction().exists(_.startsWith("tuning-stale(nprobe")),
      store.recommendCompaction().mkString(";"))
    // compact() replays the recorded tuneNprobe params on the fresh
    // clustering: searches keep a measured-recall choice.
    store.compact()
    val replayed = store.tuningCurve("nprobe")
    assert(replayed.isDefined && replayed.get.count(_.chosen) == 1)
    assert(store.effectiveNprobe == replayed.get.find(_.chosen).get.setting)
    val after = store.tuningStale
    assert(!after.exists(_.startsWith("nprobe(")), after.mkString(";"))
    // PQ stays reported (rebuilding its per-snapshot index is an
    // explicit decision) until re-tuned or opted out.
    assert(after.exists(_.startsWith("pq(")), after.mkString(";"))
    store.clearTuningHistory("pq")
    assert(store.tuningStale.isEmpty)
  }

  test("tuned and indexed state survives load; a delete then reports both kinds stale") {
    val many = (0 until 200).map(i => s"reload doc $i about theme ${i % 8}")
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, many, Nil,
      StoreConfig(nlist = 4, nprobe = 1), emb)
    store.tuneNprobe(targetRecall = 0.99, k = 5, sampleQueries = 8)
    store.buildPqIndex(m = 8, ksub = 4)
    store.tunePqCandidates(targetRecall = 0.9, k = 5, sampleQueries = 6)
    store.buildLexicalIndex()
    val loaded = DocumentStore.load(spark, dir, emb)
    assert(loaded.currentManifest == store.currentManifest)
    assert(loaded.effectiveNprobe == store.effectiveNprobe)
    assert(loaded.effectivePqCandidates == store.effectivePqCandidates)
    Seq("nprobe", "pq").foreach { kind =>
      assert(loaded.tuningCurve(kind).isDefined)
      assert(loaded.tuningCurve(kind) == store.tuningCurve(kind))
    }
    assert(loaded.tuningStale.isEmpty)
    // The manifest is the only record: no per-index sidecar on disk.
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString.stripPrefix(dir))
    assert(!files.exists(f => f.contains("/tuning") || f.contains("built_for") ||
      f.contains("/pq/meta")), files.mkString("\n"))
    loaded.deleteByIds(Seq(0L))
    val stale = loaded.tuningStale
    assert(stale.exists(_.startsWith("nprobe(")) && stale.exists(_.startsWith("pq(")),
      stale.mkString(";"))
  }

  test("tuneTargetRecall in config: IVF build and buildPqIndex write their curves unprompted") {
    val many = (0 until 200).map(i => s"auto doc $i theme ${i % 8}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil,
      StoreConfig(nlist = 4, nprobe = 2, tuneTargetRecall = 0.9), emb)
    val np = store.tuningCurve("nprobe")
    assert(np.isDefined && np.get.count(_.chosen) == 1)
    assert(store.effectiveNprobe == np.get.find(_.chosen).get.setting)
    store.buildPqIndex(m = 8, ksub = 4)
    val pq = store.tuningCurve("pq")
    assert(pq.isDefined && pq.get.count(_.chosen) == 1)
    // rerank depth d = corpus means the rerank IS the exact scan
    assert(pq.get.last.recall == 1.0 || pq.get.last.setting < 200,
      pq.get.mkString(";"))
    // depth curve: recall non-decreasing in depth
    assert(pq.get.map(_.recall) == pq.get.map(_.recall).sorted, pq.get.mkString(";"))
  }

  test("centroid-staleness gate: drifted appends flip needsCompaction, compact clears it and recall recovers") {
    import org.apache.spark.sql.functions.{col, udf}
    import graft.index.IvfIndex
    // Geometric embedder: "c<k> ..." lands near axis k, "far±..." lands
    // in a distant region straddling the axis-0/axis-1 boundary — so
    // frozen centroids assign the far family SPLIT across two clusters.
    val geo = new graft.embed.Embedder {
      val dim = 4
      private def vecOf(text: String): Array[Double] = {
        val v = new Array[Double](4)
        if (text.startsWith("far")) {
          // sits between the axis-0 and axis-1 cells; the ±0.8 decides
          // which frozen centroid claims it (e0 vs e1, margin ~1.5 —
          // well past the fitted-centroid noise), so the family splits
          // across two cells until a re-fit gives it its own
          v(0) = 4.0; v(1) = if (text.contains("+")) 4.8 else 3.2
        } else {
          val k = text.charAt(1) - '0'
          v(k) = 1.0
          v((k + 1) % 4) = 0.05 * (text.length % 3)
        }
        v
      }
      private val vecUdf = udf((t: String) => vecOf(t))
      def embed(df: org.apache.spark.sql.DataFrame, textCol: String,
                outCol: String): org.apache.spark.sql.DataFrame =
        df.withColumn(outCol, vecUdf(col(textCol)))
      def embedQuery(text: String): Array[Double] = vecOf(text)
    }
    val base = (0 until 160).map(i => s"c${i % 4} base doc number $i")
    val store = DocumentStore.fromTexts(spark, tmp(), base, Nil,
      StoreConfig(nlist = 4, nprobe = 1), geo)
    assert(store.currentManifest.nlist == 4)
    assert(store.centroidDriftRatio.isEmpty && !store.needsCompaction())
    import spark.implicits._
    // on-distribution appends: ratio stays near 1, gate stays quiet
    store.addDFIncremental((160 until 180).map(i => (s"c${i % 4} extra doc $i",
      Map.empty[String, String])).toDF("text", "metadata"))
    val calm = store.centroidDriftRatio.get
    assert(calm < 1.25, s"calm ratio $calm")
    assert(!store.needsCompaction())
    // drifted appends: the far family is ~7 away from every centroid;
    // only 4 of 40 are the "+" variant, so the exact top-10 for a "+"
    // query must reach into the "-" half — which the frozen centroids
    // put in the OTHER cell
    val farTexts = (0 until 40).map(i => s"far${if (i < 4) "+" else "-"} doc $i")
    store.addDFIncremental(farTexts.map((_, Map.empty[String, String]))
      .toDF("text", "metadata"))
    val drifted = store.centroidDriftRatio.get
    assert(drifted > 10.0, s"drift ratio $drifted")
    assert(store.needsCompaction())
    // the reason-coded advisory names the drift explicitly
    assert(store.recommendCompaction().exists(_.startsWith("centroid-drift(")),
      store.recommendCompaction().toString)
    // recall at nprobe=1 BEFORE compaction: a far query probes one
    // cluster but the far family is split across two -> misses half
    val farQuery = "far+ doc 0"
    def top10Ids() = store.similaritySearch(farQuery, k = 10)
      .select("doc_id").as[Long].collect().toSet
    def exactTop10() = graft.index.VectorIndex.topK(store.essential, "vec",
        geo.embedQuery(farQuery).toSeq, 10, "cosine", tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSet
    val before = top10Ids(); val exactBefore = exactTop10()
    val recallBefore = before.intersect(exactBefore).size / 10.0
    assert(recallBefore < 1.0, s"expected a recall hole, got $recallBefore")
    // compact(): re-fit on ALL rows -> far region gets its own cell,
    // gate clears itself (fresh baseline, empty ledger)
    store.compact()
    assert(store.centroidDriftRatio.isEmpty && !store.needsCompaction())
    val after = top10Ids(); val exactAfter = exactTop10()
    val recallAfter = after.intersect(exactAfter).size / 10.0
    assert(recallAfter == 1.0, s"recall after compact $recallAfter")
    assert(recallAfter > recallBefore)
  }

  test("recommendCompaction: reason-coded advisory fires on small-files + bloom capacity, compact clears it") {
    import spark.implicits._
    val seedTexts = (0 until 30).map(i => s"advisory corpus doc $i")
    val store = DocumentStore.fromTexts(spark, tmp(), seedTexts, Nil, StoreConfig(), emb)
    // Fresh snapshot: nothing to recommend.
    assert(store.recommendCompaction().isEmpty)
    // 12 incremental appends: each lands new files (layout degrades
    // past the write-time baseline) and grows the count past 2x the
    // Bloom's creation capacity (30).
    (0 until 12).foreach { b =>
      store.addDFIncremental(
        (0 until 3).map(j => (s"appended batch $b doc $j", Map.empty[String, String]))
          .toDF("text", "metadata"))
    }
    val reasons = store.recommendCompaction()
    assert(reasons.exists(_.startsWith("small-files(")), reasons.toString)
    assert(reasons.exists(_.startsWith("bloom-capacity(")), reasons.toString)
    // Flat store: no centroid-drift reason possible.
    assert(!reasons.exists(_.startsWith("centroid-drift(")), reasons.toString)
    // compact() = re-layout + Bloom rebuild at the current count: clean.
    store.compact()
    assert(store.recommendCompaction().isEmpty,
      store.recommendCompaction().toString)
    assert(store.documentCount == 66)
  }

  test("incremental append on an IVF store assigns existing centroids (no re-fit)") {
    import spark.implicits._
    val many = (0 until 120).map(i => s"doc number $i about topic ${i % 6}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil,
      StoreConfig(nlist = 4, nprobe = 4), emb)
    assert(store.currentManifest.nlist > 0)
    val before = store.currentManifest.version
    store.addDFIncremental(
      Seq(("a brand new doc about topic 3", Map.empty[String, String]))
        .toDF("text", "metadata"))
    assert(store.currentManifest.version == before) // no snapshot rewrite
    assert(store.documentCount == 121)
    // the appended row landed in a cluster partition and is searchable
    assert(store.essential.where($"text" === "a brand new doc about topic 3")
      .select("cluster").head.get(0) != null)
    val hit = store.similaritySearch("a brand new doc about topic 3", k = 1)
      .select("text").head.getString(0)
    assert(hit == "a brand new doc about topic 3")
  }

  test("similaritySearchRadius returns exactly the docs above the threshold") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val scored = store.similaritySearch("foxes", k = texts.length)
      .select("doc_id", "similarity").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val t = scored.values.toSeq.sorted.reverse.apply(1) // 2nd-best score as cut
    val radius = store.similaritySearchRadius("foxes", t)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(radius == scored.filter(_._2 >= t).keySet)
    assert(radius.size == 2)
  }

  test("deleteWhere removes matching docs with dense id recompaction") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val n = store.deleteWhere(org.apache.spark.sql.functions.col("category") === "weather")
    assert(n == 2)
    assert(store.documentCount == 4)
    val cats = store.essential.select("category").collect().map(_.getString(0)).toSet
    assert(!cats.contains("weather"))
    // ids recompacted densely 0..3
    val ids = store.essential.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(store.deleteWhere(org.apache.spark.sql.functions.col("category") === "nope") == 0)
  }

  test("keepVersions retains snapshots for in-flight readers, prunes older ones") {
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir, Seq("a", "b"), Nil,
      StoreConfig(keepVersions = 2), emb)
    // hold a reader on v1, then mutate (writes v2)
    val v1Reader = store.essential.select("id", "text")
    store.addTexts(Seq("c"))
    assert(new java.io.File(s"$dir/v1").exists) // retained for the reader
    assert(v1Reader.count() == 2)               // in-flight snapshot still readable
    assert(store.essential.count() == 3)        // current pointer moved on
    store.addTexts(Seq("d"))                    // writes v3 -> v1 pruned
    assert(!new java.io.File(s"$dir/v1").exists)
    assert(new java.io.File(s"$dir/v2").exists)

    // time travel: v2 still readable as of its snapshot, v1 pruned
    assert(store.essentialAt(2).count() == 3)
    assert(store.payloadAt(store.currentManifest.version).count() == 4)
    intercept[IllegalArgumentException] { store.essentialAt(1) }   // pruned
    intercept[IllegalArgumentException] { store.essentialAt(99L) } // future

    // default keepVersions=1 prunes immediately
    val d2 = tmp()
    val s2 = DocumentStore.fromTexts(spark, d2, Seq("a"), Nil, StoreConfig(), emb)
    s2.addTexts(Seq("b"))
    assert(!new java.io.File(s"$d2/v1").exists)
  }

  test("getDocumentsByIds is a set lookup; getDocumentById returns typed hit") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    assert(store.getDocumentsByIds(Seq(1L, 3L)).count() == 2)
    val hit = store.getDocumentById(4L).get
    assert(hit.text == texts(4))
    assert(hit.source.contains("example3.txt"))
    assert(store.getDocumentById(42L).isEmpty)
  }

  test("api parity wrappers: fromDocuments / addDocuments / searchWithScore") {
    import graft.Doc
    val docs = texts.zip(metas).map { case (t, m) => Doc(t, m) }
    val store = DocumentStore.fromDocuments(spark, tmp(), docs.take(4),
      graft.StoreConfig(), emb)
    assert(store.documentCount == 4)
    store.addDocuments(docs.drop(4))
    assert(store.documentCount == 6)
    val scored = store.similaritySearchWithScore("foxes", k = 3)
    assert(scored.length == 3)
    assert(scored.forall { case (h, s) => h.similarity == s })
    assert(scored.map(_._2).sorted.reverse == scored.map(_._2))
  }

  test("stats: counts, sizes, mapping coverage") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val s = store.storageStats
    assert(s.documentCount == 6)
    assert(s.payloadSizeBytes > 0 && s.indexSizeBytes > 0)
    assert(s.mapping.totalMappings == 6)
    assert(s.mapping.minId == 0 && s.mapping.maxId == 5)
    assert(s.mapping.coveragePercent == 100.0)
  }

  test("metric=l2 store: scores are distances, ascending, un-flipped (reference semantics)") {
    val store = DocumentStore.fromTexts(spark, tmp(), texts, metas,
      StoreConfig(metric = "l2"), emb)
    val hits = store.similaritySearch("foxes and dogs", 3).collect()
    val sims = hits.map(_.getAs[Double]("similarity"))
    assert(sims.sorted.toSeq == sims.toSeq)        // ascending = nearest first
    assert(sims.forall(_ >= 0.0))                  // distances, not similarities
    val loaded = DocumentStore.load(spark, store.path, emb)
    assert(loaded.config.metric == "l2")           // metric survives reload
  }

  test("metric=ip store ranks by dot product (== cosine here: unit vectors)") {
    val ip = DocumentStore.fromTexts(spark, tmp(), texts, metas,
      StoreConfig(metric = "ip"), emb)
    val cos = DocumentStore.fromTexts(spark, tmp(), texts, metas, StoreConfig(), emb)
    val q = "programming languages"
    val a = ip.similaritySearch(q, 4).collect().map(_.getAs[Long]("doc_id")).toSeq
    val b = cos.similaritySearch(q, 4).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(a == b)
  }

  test("delete on an IVF store refits clusters and keeps search correct") {
    val many = (0 until 200).map(i => s"entry $i about subject ${i % 9}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil,
      StoreConfig(nlist = 4, nprobe = 4), emb)
    assert(store.currentManifest.nlist == 4)
    assert(store.deleteByIds((0L until 50L).toSeq))
    assert(store.documentCount == 150)
    assert(store.currentManifest.nlist == 4)       // still >= 30*nlist -> clustered
    val flat = DocumentStore.fromTexts(spark, tmp(), many.drop(50), Nil,
      StoreConfig(), emb)
    val q = "entry 100 about subject 1"
    val a = store.similaritySearch(q, 5).collect().map(_.getAs[String]("text")).toSeq
    val b = flat.similaritySearch(q, 5).collect().map(_.getAs[String]("text")).toSeq
    assert(a == b)                                 // nprobe=nlist -> exhaustive
  }

  test("IVF with nprobe < nlist: pruned search trades bounded recall for a fraction of the scan") {
    val many = (0 until 300).map(i => s"doc $i topic ${i % 11} words ${i % 7}")
    val ivf = DocumentStore.fromTexts(spark, tmp(), many, Nil,
      StoreConfig(nlist = 4, nprobe = 2), emb)
    val flat = DocumentStore.fromTexts(spark, tmp(), many, Nil, StoreConfig(), emb)
    val q = "topic 3 words"
    val approx = ivf.similaritySearch(q, 10).select("text").collect().map(_.getString(0)).toSet
    val exact = flat.similaritySearch(q, 10).select("text").collect().map(_.getString(0)).toSet
    assert(approx.size == 10) // pruned store still fills k
    val recall = (approx & exact).size / 10.0
    assert(recall >= 0.3, s"recall@10=$recall too low for nprobe=2/nlist=4")
  }

  test("similaritySearchBatch on an IVF store prunes per query and matches single-query results") {
    val many = (0 until 300).map(i => s"doc $i topic ${i % 11} words ${i % 7}")
    val ivf = DocumentStore.fromTexts(spark, tmp(), many, Nil,
      StoreConfig(nlist = 4, nprobe = 2), emb)
    val qs = Seq("topic 3 words", "topic 7 words", "doc 42")
    val batch = ivf.similaritySearchBatch(qs, k = 5).collect()
      .groupBy(_.getAs[String]("query"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("similarity"))).toSeq
      }
    qs.foreach { q =>
      val single = ivf.similaritySearch(q, 5).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("similarity"))).toSeq
      assert(batch(q) == single, s"batch != single for '$q'")
    }
  }

  test("IVF store: clustered layout, pruned search still finds exact neighbors") {
    // 200 docs >= 30*nlist for nlist=4 -> IVF activates (reference gate).
    val many = (0 until 200).map(i => s"document number $i about topic ${i % 7}")
    val store = DocumentStore.fromTexts(spark, tmp(), many, Nil,
      StoreConfig(nlist = 4, nprobe = 4), emb)
    assert(store.currentManifest.nlist == 4)
    assert(store.essential.columns.contains("cluster"))
    // nprobe = nlist => exhaustive => must match flat search exactly
    val flat = DocumentStore.fromTexts(spark, tmp(), many, Nil, StoreConfig(), emb)
    val q = "document number 13 about topic 6"
    val a = store.similaritySearch(q, 5).collect().map(_.getAs[String]("text")).toSeq
    val b = flat.similaritySearch(q, 5).collect().map(_.getAs[String]("text")).toSeq
    assert(a == b)
  }

  test("verifyIntegrity: a doc with NULL metadata is ok, not orphan/missing") {
    import spark.implicits._
    val store = DocumentStore.fromTexts(spark, tmp(), Seq("seed doc"), Nil,
      StoreConfig(), emb)
    // metadata map NULL -> both stored and computed hashes are null for
    // a doc present in BOTH stores; presence flags must classify it ok
    store.addDF(Seq(("null-meta doc", null: Map[String, String]))
      .toDF("text", "metadata"))
    val statuses = store.verifyIntegrity()
      .select("status").as[String].collect().toSeq
    assert(statuses.length == 2 && statuses.forall(_ == "ok"), statuses)
  }

  test("appendBuild mints ids past crash-orphaned rows instead of duplicating") {
    val dir = tmp()
    val store = DocumentStore.fromTexts(spark, dir,
      Seq("doc zero", "doc one"), Nil, StoreConfig(), emb)
    // Simulate addDFIncremental's crash window: essential rows landed
    // on disk with ids >= manifest.count, but the manifest bump never
    // happened.
    val v = store.currentManifest.version
    val orphan = store.essential.limit(1)
      .withColumn("id", org.apache.spark.sql.functions.lit(7L))
      .withColumn("text", org.apache.spark.sql.functions.lit("orphan row"))
    orphan.write.mode("append").parquet(s"$dir/v$v/essential")
    store.addTexts(Seq("doc two"))
    import spark.implicits._
    val ids = store.essential.select("id").as[Long].collect().sorted.toSeq
    assert(ids.distinct.length == ids.length, s"duplicate ids: $ids")
    assert(ids.contains(8L), s"new id must mint past the orphan: $ids")
  }

  test("every snapshot rewrite drops a crash-orphaned payload row instead of attaching it to a live doc") {
    import org.apache.spark.sql.functions.{lit, map}
    val crashedMeta = Map("source" -> "crashed.txt", "category" -> "dead-batch")
    val cases: Seq[(String, DocumentStore => Unit, Map[String, Map[String, String]])] = Seq(
      ("addTexts", _.addTexts(Seq("a doc appended after the crash"), Seq(Map("source" -> "a.txt"))),
        Map("a doc appended after the crash" -> Map("source" -> "a.txt"))),
      ("deleteByIds then addTexts", { s =>
        s.deleteByIds(Seq(0L))
        s.addTexts(Seq("a doc appended after the delete"), Seq(Map("source" -> "b.txt")))
      }, Map("a doc appended after the delete" -> Map("source" -> "b.txt"))),
      ("upsertTexts", _.upsertTexts(Seq(texts(2)), Seq(Map("source" -> "patched.txt"))),
        Map(texts(2) -> Map("source" -> "patched.txt"))),
      ("compact", _.compact(), Map.empty))
    cases.foreach { case (name, mutate, written) =>
      val dir = tmp()
      val store = DocumentStore.fromTexts(spark, dir, texts, metas, StoreConfig(), emb)
      // Simulate addDFIncremental's crash window: a payload row landed
      // at the next id (doc_id = count), but its essential row never did.
      val v = store.currentManifest.version
      store.payload.limit(1)
        .withColumn("doc_id", lit(store.documentCount))
        .withColumn("text", lit("crashed batch doc"))
        .withColumn("metadata", map(crashedMeta.toSeq.flatMap { case (k, x) => Seq(lit(k), lit(x)) }: _*))
        .write.mode("append").parquet(s"$dir/v$v/payload")
      mutate(store)
      val expected = texts.zip(metas).toMap ++ written
      val bad = store.verifyIntegrity().where("status != 'ok'").collect()
      assert(bad.isEmpty, s"$name: ${bad.mkString(", ")}")
      val n = store.documentCount
      val rows = store.getDocumentsByIds(0L until n, includeFullMetadata = true).collect()
      val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
      assert(ids.sorted == (0L until n), s"$name: one row per id expected, got $ids")
      rows.foreach { r =>
        val text = r.getAs[String]("text")
        assert(r.getAs[scala.collection.Map[String, String]]("metadata").toMap == expected(text),
          s"$name: doc ${r.getAs[Long]("doc_id")} ($text) carries the wrong metadata")
      }
    }
  }

  test("cross-batch dedup treats null text like the intra-batch screen (one kept)") {
    import spark.implicits._
    val store = DocumentStore.fromTexts(spark, tmp(), Seq("seed doc"), Nil,
      StoreConfig(), emb)
    val nullRow = Seq((null: String, Map.empty[String, String])).toDF("text", "metadata")
    store.addDF(nullRow)
    val after1 = store.documentCount
    store.addDF(nullRow) // second batch: the null-text doc is a DUP now
    assert(store.documentCount == after1,
      s"null-text doc re-ingested: ${store.documentCount} != $after1")
  }
}
