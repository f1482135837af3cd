package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence harness: measures per-family runtime ratios between
  * sf0.1 and a synthesized 10× replica of it ("sf1.0-synth"), because
  * the driver ships no sf1.0 tables. The 100 TB claims in SCALE.md rest
  * on plan-shape arguments; this turns them into a measured 10× point.
  *
  * Replication is keyed and salted so the 10× corpus scales the ENGINE
  * work linearly instead of exploding the OUTPUT combinatorially:
  *  - every replica's ids/keys are offset (docs, vectors, users,
  *    orders/customers) so joins and groupings see 10× more groups of
  *    the same size, not 10× bigger groups;
  *  - document text is token-interleaved with a per-replica salt
  *    (`a b c` → `a z3 b z3 c`): the ORIGINAL tokens stay (BM25 terms
  *    still match corpus-wide, tf unchanged, df ×10), but every word
  *    3-gram spans a salt token, so shingle/minhash/band keys are
  *    distinct ACROSS replicas and near-dup candidate pairs grow 10×
  *    (linear), not 100× (all-pairs between identical replicas). The
  *    ×1 corpus gets the SAME transform (replica 0), so the ratio
  *    compares identical per-row work.
  *
  * Output: one line per query with t(×1), t(×10) (best of 2 runs each)
  * and the ratio; ~linear (≤ ~10×) on scan/join/shuffle-bound families
  * and sublinear on TakeOrdered families is the expected posture.
  */
object ScaleBench {

  private val Queries = Seq(
    "q1_lineitem_agg",      // scan + hash agg (partial agg)
    "q18_large_orders",     // 3-way join + HAVING subquery
    "q_topk_cosine",        // zero-shuffle scored scan + TakeOrdered
    "q_knn_self_top1",      // fixed 100 queries × corpus, min_by agg
    "q_dedup_exact",        // one hash-shuffle groupBy
    "q_dedup_minhash_lsh",  // banded LSH equi-join
    "q_dedup_jaccard",      // shingle pair-join floor
    "q_bm25_search",        // tokenize + df/tf join + TakeOrdered
    "q_events_sessionize",  // per-user window (10× users, same size)
    "q_pack_sequences",     // two-phase bucketed cumsum
    "q_lm_bigram",          // bigram/unigram count joins
    // round-4/5 families
    "q_semdedup",           // cluster-pruned pair join + int8 screen
    "q_dsir_weights",       // 2 bucket aggs + broadcast join + TakeOrdered boundary
    "q_integrity_check",    // full-outer hash compare
    "q_ivf_search",         // k-means fit + nprobe-pruned scored scan
    "q_knn_batch",          // k>1 bounded top-k partial aggregate
    "q_rfm",                // 3 distributed ntiles (range-partitioned rank)
    // round-6 families
    "q_dup_span_ranges",    // positional spans + per-doc island merge
    "q_dedup_cut",          // ranges applied as a narrow array filter
    // round-7 families
    "q_ivfpq",              // pinned IVF×PQ: prune + ADC rank + rerank
    "q_hybrid_rrf",         // BM25 + dense top-k fused by RRF
    "q_funnel",             // per-user ordered-step progression
    "q_retention",          // cohort × activity-day semijoin grid
    "q_url_dedup",          // canonical-key hash agg, text never shuffled
    "q_dedup_best",         // dup-graph CC + quality-keeper hash agg
    "q_drift_psi",          // one-pass multi-feature PSI/KL histogram
    "q_split_groups",       // narrow hash projection, no shuffle
    "q_quality_topfrac",    // grouped exact percentile + broadcast gate
    "q_retrieval_metrics",  // bounded top-k lists + decimal DCG aggs
    "q_maxsim",             // chunk-scored scan + per-doc max + TakeOrdered
    // round-8 families
    "q_semdedup2",          // multi-probe cluster-pruned pair join
    "q_tuning_curve",       // 4 batched sample-topk jobs + cluster agg
    // round-11 families
    "q_ngram_repetition",   // narrow per-row O(grams^2) projection, 0 shuffle
    // round-13 families
    "q_sql_surface",        // the graft_* SQL registrations end-to-end, 0 shuffle
    // round-14 families. q_image_neardup is deliberately NOT here: the
    // synthetic gradient family's TRUE near-dup mass grows
    // quadratically with corpus size (ids 256 apart are identical
    // images), so its 10x point measures output combinatorics, not
    // engine scaling — the banded-join engine shape is already the
    // q_dedup_minhash_lsh row.
    "q_image_decode",       // real encode+decode mapPartitions, 0 shuffle
    "q_audio_features",     // RIFF parse + exact feature fold, 0 shuffle
    // round-15 families. q_audio_neardup is excluded for the SAME
    // measured reason as q_image_neardup: the hypothesis that the 10M
    // replica id offset de-correlates the sawtooth hashes was tested
    // and FALSIFIED — true Hamming<=3 pair mass grew 102.7x at x10
    // data (81,708 -> 8,394,692 pairs; the hash space is lumpy, so
    // cross-replica NEAR-collisions scale quadratically even though
    // exact identities don't) while engine time grew only 7.9x. A
    // recurring row would measure output combinatorics; the one-time
    // reading (engine sublinear IN ITS OUTPUT) is in BENCH_NOTES.
    "q_image_rgb",          // color decode + per-channel folds, 0 shuffle
    "q_image_gate",         // two-batch perceptual gate end to end
    // round-16 families
    "q_text_gate",          // two-batch MinHash gate end to end
    "q_audio_gate",         // two-batch audio-fingerprint gate end to end
    // round-17 families
    "q_sem_gate",           // two-batch semantic gate (pinned-fit + int8 screen)
    "q_maxsim_search")      // search over the per-dir memoized store
                            // (build amortized by the memo; best-of-2
                            // keeps the warm search-only reading —
                            // the build path's xN row is mv_store_build)

  /** Shapes that no longer exist in SparkEntry but whose 10× behavior
    * documents WHY the shipped shape replaced them — the before/after
    * evidence the round-4 verdict asked for. */
  private val BeforeShapes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // r4's Dsir.selectTopK: unpartitioned row_number over the corpus —
    // every weighted doc lands on ONE reducer for the rank.
    "dsir_window_BEFORE" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val w = graft.ops.Dsir.importanceWeights(
        docs, docs.where(col("source") === "src0"), "doc_id", "text", 4096)
      w.withColumn("selected",
        (row_number().over(
          Window.orderBy(col("logweight").desc, col("doc_id"))) <= 200).cast("int"))
    }),
    // r4's topKBatch k>1: two ranking windows over every scored
    // (doc, query) pair — the shuffle scales with the corpus. Same
    // workload as q_knn_batch (5 queries, k=5, cosine, rounded) so the
    // pair is directly comparable.
    "knn_window_BEFORE" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
      val docs = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("dv"))
      val scored = docs.crossJoin(broadcast(queries))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("score", round(
          graft.functions.VectorFunctions.cosineSimilarity(col("dv"), col("qv")), 4))
        .withColumn("__part", spark_partition_id())
      val order = Seq(col("score").desc, col("vec_id").asc)
      val local = Window.partitionBy(col("qid"), col("__part")).orderBy(order: _*)
      val global = Window.partitionBy(col("qid")).orderBy(order: _*)
      scored.withColumn("__lr", row_number().over(local)).where(col("__lr") <= 5)
        .withColumn("rank", row_number().over(global)).where(col("rank") <= 5)
        .select("qid", "vec_id", "score", "rank")
    }))

  /** Non-SparkEntry shapes measured alongside: the streaming near-dup
    * gate's batch twin (one micro-batch screened against an empty
    * index — the dominant cost is banding + the in-batch band
    * collision pass, which is what scales with ingest volume; batchId
    * 0 overwrites its own partition, so repeat runs are idempotent). */
  private val ExtraShapes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "neardup_gate_batch" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("id"), col("text"),
          col("doc_id").cast("timestamp").as("ts"))
      graft.streaming.StreamingOps.nearDupScreenBatch(
        docs, s"$dir/_neardup_index", 0L, "id", "text", "ts")
    }),
    // Multi-vector store BUILD at ×N (the r8 verdict's missing write-
    // path row): ingest-dedup + doc embed + chunk explode/embed + dual
    // parquet + chunk-table write. fromDF drops any existing store at
    // the path, so every timed run pays the full build cold.
    "mv_store_build" -> ((s: SparkSession, dir: String) => {
      val store = graft.store.DocumentStore.fromDF(s, s"$dir/_mv_store",
        mvStagedDocs(s, dir),
        graft.StoreConfig(chunkSize = 32, chunkOverlap = 8),
        graft.embed.HashEmbedder(64))
      s.range(1).select(lit(store.documentCount).as("docs"),
        lit(store.chunkVectors.count()).as("chunks"))
    }),
    // Multi-vector store DELETE at ×N: loads the store the build shape
    // left behind (builds on first touch if absent) and deletes 10
    // docs. With chunk-vector carry the cost is survivor IO — two
    // anti-joins, the dense renumber, and the copy-on-write snapshot
    // rewrite — with ZERO embedding calls (DocumentStoreSpec pins the
    // call count); before the carry this path re-embedded every chunk
    // in the corpus.
    "mv_store_delete" -> ((s: SparkSession, dir: String) => {
      val path = s"$dir/_mv_store"
      val emb = graft.embed.HashEmbedder(64)
      val store =
        try graft.store.DocumentStore.load(s, path, emb)
        catch { case _: graft.StorageException =>
          graft.store.DocumentStore.fromDF(s, path, mvStagedDocs(s, dir),
            graft.StoreConfig(chunkSize = 32, chunkOverlap = 8), emb)
        }
      store.deleteByIds(0L until 10L)
      s.range(1).select(lit(store.documentCount).as("docs"))
    }),
    // Incremental-ingest cost vs CORPUS size (r9 verdict #6): a fixed
    // 2000-row all-new batch into a store over the ×1 vs ×10 corpus.
    // With the persisted Bloom (default fpp 0.01), every new row MISSES
    // the filter and skips the corpus anti-join — the ratio column
    // should stay ~flat (residual corpus cost: the max(id) offset scan
    // and the bloom blob load). Without it, every ingest pays the
    // anti-join against the whole corpus — the ratio grows with it.
    // Each call salts its batch texts with a PERSISTED counter (the
    // store's own documentCount) so repeat runs — including fresh JVMs
    // — ingest genuinely new rows rather than hitting the dedup path;
    // the store grows across harness runs (the ×N corpus dominates the
    // ingested few thousand).
    "ingest_bloom" -> ((s: SparkSession, dir: String) =>
      ingestProbe(s, dir, bloom = true)),
    "ingest_nobloom" -> ((s: SparkSession, dir: String) =>
      ingestProbe(s, dir, bloom = false)),
    // Batch-vs-corpus incremental dedup with a batch that GROWS with
    // the corpus (round-11: the forced broadcasts of the per-batch-doc
    // size table and near-dup drop set were removed). At ×10 BOTH
    // sides are 10× bigger: a forced broadcast would ship a 10× build
    // side to every executor — the shape that OOMs at scale — while
    // AQE hash-joins once the side outgrows the threshold, so this
    // family should scale ~linearly like its shingle pair-join floor.
    // The hot-shingle cap is ON here because the harness's own salt
    // interleave (`a b c` -> `a z3 b z3 c`) manufactures corpus-hot
    // `salt X salt` trigrams that explode an UNCAPPED pair join ~35×
    // (measured 46 s at ×1 vs ~1.3 s on the raw corpus) — the
    // web-scale posture knob doing exactly its job on an adversarially
    // hot token distribution.
    "dedup_against_batch" -> ((s: SparkSession, dir: String) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup.dedupAgainst(
        d.where(col("doc_id") % 2 === 1), d.where(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, threshold = 0.5,
        maxShingleFreq = Some(50L))
        .agg(count(lit(1)).as("survivors"))
    }),
    // ×100-decade shapes for the banded-fingerprint + gate families
    // (r15 verdict #5). All three aggregate to ONE row — at ×100 the
    // raw outputs (pair lists, kept batches) are tens of millions of
    // rows, and collecting them would time driver transfer, not the
    // engine. They ride the sha-DIVERSE fixtures, not the gradient/
    // sawtooth ones, for the measured r15 reason: lumpy fixture hash
    // spaces grow TRUE pair mass quadratically, so their decade ratio
    // grades fixture combinatorics (that caveat is on record in
    // BENCH_NOTES r15); the sha fixtures give near-unique hashes with
    // linearly-growing planted duplicate classes, which is the engine
    // posture a real corpus exercises.
    "fp_image_sha" -> ((s: SparkSession, dir: String) => {
      val feats = graft.ops.Multimodal.decodeImageFeatures(
        graft.ops.Multimodal.synthesizeCellImageAssets(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id"))
      graft.ops.Dedup.fingerprintPairs(
        feats.select(col("asset_id"), col("ahash63")),
        "asset_id", "ahash63", maxHamming = 3, bands = 4)
        .agg(count(lit(1)).as("pairs"))
    }),
    "fp_audio_sha" -> ((s: SparkSession, dir: String) => {
      val feats = graft.ops.Multimodal.decodeAudioFeatures(
        graft.ops.Multimodal.synthesizeShaAudioAssets(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id"))
      graft.ops.Dedup.fingerprintPairs(
        feats.select(col("asset_id"), col("audio_hash63")),
        "asset_id", "audio_hash63", maxHamming = 3, bands = 4)
        .agg(count(lit(1)).as("pairs"))
    }),
    "gate_batch_count" -> ((s: SparkSession, dir: String) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("id"), col("text"),
          col("doc_id").cast("timestamp").as("ts"))
      graft.streaming.StreamingOps.nearDupScreenBatch(
          docs, s"$dir/_neardup_index_x", 0L, "id", "text", "ts")
        .agg(count(lit(1)).as("kept"))
    }),
    // The r16 auto-nlist mode ON the shape whose ×100 cliff motivated
    // it: SemDedup over an AUTO-fit coarse quantizer (nlist = 0 →
    // √n-derived cluster count), count-wrapped. The r15 decade check
    // measured the pinned-nlist=8 configuration at 544.8 s on the ×100
    // corpus (quadratic within-cluster pair growth) and the manual
    // nlist=80 fix at ~65× faster; this row shows the DEFAULT now
    // lands on the fixed behavior with no caller arithmetic. Fit cost
    // is included (invalidateCached runs per timed iteration), as in
    // the q_ivf_search convention — the build is part of what must
    // scale.
    "semdedup_auto" -> ((s: SparkSession, dir: String) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val model = graft.index.IvfIndex.fit(emb, "embedding", nlist = 0,
        maxIter = 2, initMode = "random", fitFraction = 0.25)
      graft.ops.SemDedup.flag(emb, "vec_id", "embedding", model,
          threshold = 0.4)
        .agg(count(lit(1)).as("rows"), sum("is_dup").as("dups"))
    }))

  private def ingestProbe(s: SparkSession, dir: String, bloom: Boolean): DataFrame = {
    val tag = if (bloom) "bloom" else "nobloom"
    val path = s"$dir/_ingest_store_$tag"
    val cfg = graft.StoreConfig(dedupBloomFpp = if (bloom) 0.01 else 0.0)
    val emb = graft.embed.HashEmbedder(64)
    val store =
      try graft.store.DocumentStore.load(s, path, emb)
      catch { case _: graft.StorageException =>
        graft.store.DocumentStore.fromDF(s, path, mvStagedDocs(s, dir), cfg, emb)
      }
    // Salt from PERSISTED state, not a per-JVM counter: an in-memory
    // AtomicLong restarts at 1 in every new harness JVM, replaying the
    // exact same texts into the store persisted from the last run —
    // the "all-new batch" would be 100% duplicates and the row would
    // silently time the dedup-confirm path instead of the bloom-miss
    // path. documentCount grows with every successful ingest, so it
    // never repeats.
    val salt = store.documentCount
    import s.implicits._
    val batch = (0 until 2000)
      .map(i => (s"ingest probe $tag batch $salt row $i payload token",
        Map("source" -> "ingest_probe")))
      .toDF("text", "metadata")
    store.addDFIncremental(batch)
    s.range(1).select(lit(store.documentCount).as("docs"))
  }

  /** documents table staged as (text, metadata) for the store shapes. */
  private def mvStagedDocs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("text"), map(lit("source"), col("source")).as("metadata"))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val base = if (args.length > 1) args(1) else "/tmp/graft_scale"
    // Optional comma-separated query filter (3rd arg): re-measure a
    // subset without paying for the whole table again.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = graft.MainUtil.localSession(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val x1 = s"$base/x1"
    val x10 = s"$base/x10"
    build(spark, src, x1, 1)
    build(spark, src, x10, 10)

    println(f"${"query"}%-22s ${"t_x1"}%8s ${"t_x10"}%8s  ratio")
    val all = (Queries.map(n => n -> graft.SparkEntry.queries(n))
        ++ ExtraShapes ++ BeforeShapes)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    all.foreach { case (name, fn) =>
      def best(dir: String): Double =
        (1 to 2).map { _ =>
          // Queries that persist intermediates (qDsirWeights, qRfm)
          // would otherwise serve run 2 from run 1's cache and report
          // a warm number as "best" — clear between timed runs. Model
          // caches too: the k-means FIT is part of what must scale
          // linearly, so every timed IVF run pays it cold.
          spark.catalog.clearCache()
          graft.index.IvfIndex.invalidateCached(s"$dir/embeddings")
          val t0 = System.nanoTime()
          fn(spark, dir).collect()
          (System.nanoTime() - t0) / 1e9
        }.min
      val t1 = best(x1)
      val t10 = best(x10)
      println(f"$name%-22s $t1%8.2f $t10%8.2f  ${t10 / t1}%5.1fx")
    }

    // --- capPerBand observability (r13 verdict #4): the dropped-bucket
    // summary next to the q_dedup_minhash_lsh timing it explains — at
    // the shipped default cap (this corpus is quiet: hot_buckets 0,
    // max_bucket the honest headroom number) and at a probe cap below
    // the corpus's hottest bucket, demonstrating the instrument
    // reporting a BINDING cap end-to-end on real salted data.
    if (only.forall(_.contains("minhash_hot_stats"))) {
      println(f"${"minhash_hot_stats"}%-22s ${"cap"}%6s ${"hot_buckets"}%12s ${"dropped_rows"}%13s ${"max_bucket"}%11s")
      for ((tag, dir) <- Seq("x1" -> x1, "x10" -> x10); cap <- Seq(1024, 8)) {
        val r = graft.ops.Dedup.minhashLshHotBandStats(
          spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          capPerBand = cap).head
        println(f"  $tag%-20s $cap%6d ${r.getLong(0)}%12d ${r.getLong(1)}%13d ${r.getLong(2)}%11d")
      }
    }

    // --- gate-index compaction: the payoff it claims, ON the clock
    // (r16 verdict #3), plus per-trigger cost vs total index size for
    // the leveled design (r16 verdict #1). Opt-in (pass
    // "gate_compaction" in the 3rd-arg filter): section A builds ~1000
    // REAL batch dirs and times the gate's cross-batch probe against
    // them uncompacted vs compacted; section B seeds an L1 blob from
    // the ×1 vs ×10 corpus and times individual triggers, leveled
    // (l0Fraction=0.25) vs monolithic (l0Fraction=0 — the pre-r17
    // whole-blob rewrite), on identical tiny intakes.
    if (only.exists(_.contains("gate_compaction"))) {
      import graft.streaming.StreamingOps
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def del(p: String): Unit = {
        fs.delete(new org.apache.hadoop.fs.Path(p), true); ()
      }
      def bytesOf(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
      }
      def docsOf(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("id"), col("text"),
          col("doc_id").cast("timestamp").as("ts"))
      // Per-micro-batch band dirs written directly in the gate's exact
      // layout (survivor bands, one dir per batch id) — 10 unique
      // bands each, the shape a 1-minute-trigger stream leaves behind.
      // Driving 1000 real screen calls would time the screen, not the
      // accumulation this section measures.
      def tinyDirs(idx: String, from: Long, until: Long): Unit =
        (from until until).foreach { b =>
          spark.range(10).select(
            concat(lit(s"zz$b:"), col("id").cast("string")).as("band"))
            .coalesce(1).write.mode("overwrite").parquet(s"$idx/batch=$b")
        }
      def probe(idx: String, batchId: Long): Double = {
        val batch = spark.range(20).select(
          (col("id") + 900000000L).as("id"),
          concat(lit("probe text payload "), col("id").cast("string"),
            lit(" with enough tokens to shingle properly end")).as("text"),
          col("id").cast("timestamp").as("ts"))
        val t0 = System.nanoTime()
        StreamingOps.nearDupScreenBatch(batch, idx, batchId,
          "id", "text", "ts").collect()
        (System.nanoTime() - t0) / 1e9
      }
      // A: probe latency vs live dir count — twin indexes, one left
      // uncompacted, one compacted to the current mark before probing.
      println(f"${"gate_compaction A"}%-20s ${"dirs"}%6s ${"t_uncompacted"}%14s ${"t_compacted"}%12s")
      val idxU = s"$base/_gatecomp_u"
      val idxC = s"$base/_gatecomp_c"
      del(idxU); del(idxC)
      StreamingOps.nearDupScreenBatch(docsOf(x1), idxU, 0L, "id", "text", "ts").count()
      StreamingOps.nearDupScreenBatch(docsOf(x1), idxC, 0L, "id", "text", "ts").count()
      var built = 1L
      var probeId = 1000000L
      Seq(10L, 50L, 250L, 1000L).foreach { dirs =>
        tinyDirs(idxU, built, dirs + 1)
        tinyDirs(idxC, built, dirs + 1)
        built = dirs + 1
        val tU = probe(idxU, probeId)
        StreamingOps.compactBandIndex(spark, idxC, upToBatch = probeId - 1)
        val tC = probe(idxC, probeId)
        probeId += 1
        println(f"${""}%-20s $dirs%6d $tU%14.2f $tC%12.2f")
      }
      // B: per-trigger cost vs total index size — identical 5-tiny-dir
      // intakes against an L1 seeded from ×1 vs ×10 survivor bands.
      println(f"${"gate_compaction B"}%-20s ${"mode"}%-11s ${"index_bytes"}%12s ${"t_trigger(median of 3)"}%23s")
      Seq("x1" -> x1, "x10" -> x10).foreach { case (tag, srcDir) =>
        Seq("leveled" -> 0.25, "monolithic" -> 0.0).foreach { case (mode, frac) =>
          val idx = s"$base/_gatecomp_b_${tag}_$mode"
          del(idx)
          StreamingOps.nearDupScreenBatch(docsOf(srcDir), idx, 0L,
            "id", "text", "ts").count()
          StreamingOps.compactBandIndex(spark, idx, upToBatch = 0L)
          var b = 1L
          val times = (1 to 3).map { _ =>
            tinyDirs(idx, b, b + 5)
            b += 5
            val t0 = System.nanoTime()
            StreamingOps.compactBandIndex(spark, idx, upToBatch = b - 1,
              l0Fraction = frac)
            (System.nanoTime() - t0) / 1e9
          }
          println(f"  $tag%-18s $mode%-11s ${bytesOf(s"$idx/_compact")}%12d ${times.sorted.apply(1)}%23.2f")
        }
      }
    }

    // --- ingest cost vs corpus size, documents-only ×N (r9 verdict #6)
    // The ×1/×10 corpora are too small to expose corpus-scaled ingest
    // work (50k docs anti-join in milliseconds); replicate documents
    // alone to ×`docReplicas` (4th arg; 0 = skip) and clock a FIXED
    // 2000-row ingest against the ×10 corpus vs the big one. The
    // with-Bloom row's ratio is the corpus-independence claim ON the
    // clock.
    // --- ×100 decade check (r13#4, carried through r14#5): the three
    // shapes whose ×10 ratios ran ahead of linear (q_rfm 6.1×,
    // q_dedup_minhash_lsh 5.1×, q_semdedup2 3.2× in the r13 table) get
    // one more decade so the n·log n story is either confirmed further
    // or the knee gets a name. 5th arg = comma list of queries to
    // measure at ×100 (empty/absent = skip); only the tables those
    // queries read are replicated (full-×100 lineitem would be pure
    // build cost for rows nobody scans).
    val x100Queries: Seq[String] = args.lift(4)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    if (x100Queries.nonEmpty) {
      val x100 = s"$base/x100"
      buildSubset(spark, src, x100, 100,
        Set("documents", "embeddings", "orders"))
      println(f"${"x100 decade"}%-22s ${"t_x1"}%8s ${"t_x10"}%8s ${"t_x100"}%9s  ${"r_10/1"}%7s ${"r_100/10"}%9s")
      // ×100 names resolve from SparkEntry.queries AND ExtraShapes —
      // the fingerprint/gate decade shapes are count-wrapped extras.
      val x100Resolve = graft.SparkEntry.queries ++ ExtraShapes.toMap
      x100Queries.foreach { name =>
        val fn = x100Resolve(name)
        def best(dir: String): Double =
          (1 to 2).map { _ =>
            spark.catalog.clearCache()
            graft.index.IvfIndex.invalidateCached(s"$dir/embeddings")
            val t0 = System.nanoTime()
            fn(spark, dir).collect()
            (System.nanoTime() - t0) / 1e9
          }.min
        val t1 = best(x1)
        val t10 = best(x10)
        val t100 = best(x100)
        println(f"$name%-22s $t1%8.2f $t10%8.2f $t100%9.2f  ${t10 / t1}%6.1fx ${t100 / t10}%8.1fx")
      }
    }

    val docReplicas = args.lift(3).map(_.toInt).getOrElse(0)
    if (docReplicas > 0) {
      val xdoc = s"$base/x${docReplicas}doc"
      buildDocsOnly(spark, src, xdoc, docReplicas)
      println(s"ingest vs corpus size, documents x10 -> x$docReplicas " +
        s"(fixed 2000-row all-new batch)")
      println(f"${"shape"}%-22s ${"t_x10"}%8s ${"t_xN"}%8s  ratio")
      ExtraShapes.filter(_._1.startsWith("ingest")).foreach { case (name, fn) =>
        // Best-of-3: run 1 may pay the one-time store build (first
        // harness run) and JVM warmup; the ingest itself is ~2 s, so
        // warmup asymmetry otherwise dominates the ratio being
        // measured (the r10 probe showed warm ingest flat at ×200
        // while best-of-2 read as 1.3×).
        def best(dir: String): Double =
          (1 to 3).map { _ =>
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            fn(spark, dir).collect()
            (System.nanoTime() - t0) / 1e9
          }.min
        val t10 = best(x10)
        val tN = best(xdoc)
        println(f"$name%-22s $t10%8.2f $tN%8.2f  ${tN / t10}%5.1fx")
      }
    }
    spark.stop()
  }

  /** THE one salt protocol for replicated documents — the ingest
    * section compares a store over [[build]]'s ×10 corpus against
    * [[buildDocsOnly]]'s ×N corpus, so the two MUST replicate
    * identically (same id offset, same ` z$i ` text salt) or the ratio
    * stops measuring corpus size. One definition, used by both (the
    * same one-sided-protocol hazard SkewBench.writeReplicatedEvents
    * closed for the events table). */
  private def replicatedDocuments(srcDf: DataFrame, replicas: Int): DataFrame =
    (0 until replicas).map { i =>
      srcDf.withColumn("doc_id", col("doc_id") + i * 10000000L)
        .withColumn("text", regexp_replace(col("text"), " ", s" z$i "))
    }.reduce(_ unionByName _)

  /** Documents-only replica build for the ingest section — same salt
    * protocol as [[build]]'s documents table, skipping every other
    * table (irrelevant here and expensive at high ×N). */
  private def buildDocsOnly(spark: SparkSession, src: String, out: String,
                            replicas: Int): Unit = graft.MainUtil.buildOnce(out) {
    replicatedDocuments(spark.read.parquet(s"$src/documents.parquet"), replicas)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** Tables-subset replica build for the ×100 decade section — the
    * [[build]] protocol (same id offsets, same document salt) applied
    * only to the tables the measured queries read. */
  private def buildSubset(spark: SparkSession, src: String, out: String,
                          replicas: Int, tables: Set[String]): Unit = graft.MainUtil.buildOnce(out) {
    if (tables("documents"))
      replicatedDocuments(spark.read.parquet(s"$src/documents.parquet"), replicas)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    if (tables("embeddings"))
      (0 until replicas).map(i =>
          spark.read.parquet(s"$src/embeddings.parquet")
            .withColumn("vec_id", col("vec_id") + i * 10000000L))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    if (tables("orders"))
      (0 until replicas).map(i =>
          spark.read.parquet(s"$src/orders.parquet")
            .withColumn("o_orderkey", col("o_orderkey") + i * 100000000L)
            .withColumn("o_custkey", col("o_custkey") + i * 100000000L))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
  }

  /** Write `replicas` key-offset copies of the sf tables into `out`,
    * once. */
  private def build(spark: SparkSession, src: String, out: String,
                    replicas: Int): Unit = graft.MainUtil.buildOnce(out) {
    def rep(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val srcDf = spark.read.parquet(s"$src/$table.parquet")
      (0 until replicas).map(i => f(srcDf, i))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    // Shared with buildDocsOnly — the ingest ratio depends on the two
    // corpora replicating under ONE protocol.
    replicatedDocuments(spark.read.parquet(s"$src/documents.parquet"), replicas)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    rep("embeddings") { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + i * 10000000L)
    }
    rep("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + i * 100000000L)
        .withColumn("user_id", col("user_id") + i * 10000000L)
    }
    rep("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * 100000000L)
        .withColumn("l_partkey", col("l_partkey") + i * 100000000L)
        .withColumn("l_suppkey", col("l_suppkey") + i * 100000000L)
    }
    rep("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + i * 100000000L)
        .withColumn("o_custkey", col("o_custkey") + i * 100000000L)
    }
    rep("customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + i * 100000000L)
    }
    // part/supplier must replicate WITH the lineitem FK offsets, or
    // replicas 1..n-1 of lineitem silently join to nothing and any
    // part/supplier-joining query reads ~1/n of the expected rows.
    rep("part") { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + i * 100000000L)
    }
    rep("supplier") { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + i * 100000000L)
    }
    // region/nation are genuinely global dimensions (customer/supplier
    // nationkeys are unchanged) — they ride along unreplicated.
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }
}
