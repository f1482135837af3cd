package graft

/** Core types — Spark-native equivalents of the reference's data model
  * (reference: src/langchain_memvid/types.py:12-52; SearchResult
  * index.py:28-62; essential record index.py:222-237).
  */

/** A document: text + schemaless metadata (LangChain `Document` analog,
  * reference vectorstore.py:254-270). */
final case class Doc(text: String, metadata: Map[String, String] = Map.empty)

/** The fixed "essential metadata" projection kept alongside vectors in
  * the search store (reference index.py:222-237). `id` is dense and
  * positional — reassigned on delete, exactly like the reference
  * (index.py:433-435). */
final case class Essential(
    id: Long,
    text: String,
    source: Option[String],
    category: Option[String],
    metadataHash: String)

/** One search hit (reference SearchResult, index.py:28-62). For metric
  * l2 `similarity` holds a distance (lower = better), un-flipped —
  * faithful to index.py:331-333. */
final case class SearchHit(
    docId: Long,
    text: String,
    source: Option[String],
    category: Option[String],
    similarity: Double,
    metadataType: String)

/** Build statistics (reference BuildStats, types.py:21-29). */
final case class BuildStats(
    totalChunks: Long,
    totalFrames: Long,
    durationSeconds: Double,
    payloadSizeBytes: Long,
    indexSizeBytes: Long)

/** Storage statistics (reference StorageStats, types.py:32-42 +
  * vectorstore.py:815-879). */
final case class StorageStats(
    documentCount: Long,
    payloadSizeBytes: Long,
    indexSizeBytes: Long,
    mapping: FrameMappingStats)

/** One point of a measured ANN tuning curve (DocumentStore.tuneNprobe /
  * tunePqCandidates): `setting` is the knob value (nprobe, or PQ rerank
  * candidate depth), `recall` the mean measured recall@k over the
  * seeded query sample, `costFraction` the mean fraction of the corpus
  * the setting scans (probed-cluster rows / corpus for IVF; rerank
  * candidates / corpus for PQ), `chosen` marks the cheapest setting
  * meeting the target. */
final case class TuningPoint(
    setting: Int,
    recall: Double,
    costFraction: Double,
    chosen: Boolean)

/** Id↔row mapping stats (reference FrameMappingStats, types.py:12-18,
  * index.py:590-607). Frames are parquet row ordinals here. */
final case class FrameMappingStats(
    totalMappings: Long,
    minId: Long,
    maxId: Long,
    coveragePercent: Double)

/** Store configuration (reference config.py:111-160 minus the video/QR
  * codec params, which are storage-codec concerns replaced by Parquet).
  * Metric domain `cosine | ip | l2` per config.py:119-123. IVF is
  * enabled when nlist > 0 and the corpus has >= 30*nlist points —
  * the reference's activation gate (index.py:152-166). `nlist = -1`
  * (r16) is AUTO: IVF activates once the corpus clears the floor gate
  * (240 points) and every snapshot fit derives its cluster count from
  * the corpus via the √n rule ([[graft.index.IvfIndex.autoNlist]]) —
  * the scale-safe default for growing stores, persisted across
  * save/load (`auto_nlist` in the manifest), so the cluster count
  * keeps tracking corpus size instead of freezing at the first fit.
  *
  * `dim` is read by nothing: the embedder's dimension is authoritative
  * (it is what the manifest records, and `DocumentStore.load` checks
  * the embedder against the manifest). The field stays for source
  * compatibility with callers that pass it by name. */
final case class StoreConfig(
    metric: String = "cosine",
    dim: Int = 64,
    nlist: Int = 0,
    nprobe: Int = 8,
    // Snapshot versions kept on disk, the live one INCLUDED: after
    // publishing version v the store sweeps every version at or below
    // v - keepVersions, strays a crash left behind included (the one
    // publish-and-sweep rule of graft.store.Commits). The default 1
    // keeps the live version only, so the just-replaced version dir
    // goes right after the manifest commit — a reader pinned
    // concurrently with an async mutation can then fail loudly with
    // FileNotFound mid-operation (never wrong rows). Concurrent async
    // mutation + read REQUIRES keepVersions >= 2; keep 1 only for
    // single-writer, no-overlapping-reads usage.
    keepVersions: Int = 1,
    // False-positive rate for the persisted ingest-dedup Bloom filter
    // (~1.2 bytes/doc at 0.01, driver/broadcast-resident). 0 disables —
    // ingest dedup then always pays the full anti-join against the
    // store.
    dedupBloomFpp: Double = 0.01,
    // Measured-recall ANN auto-tuning: > 0 makes every IVF snapshot
    // build (and buildPqIndex) run a recall sweep over a seeded query
    // sample and persist the (setting, recall, cost-fraction) curve
    // next to the manifest; searches then use the cheapest nprobe whose
    // measured recall meets this target instead of the static `nprobe`.
    // 0 (default) = off: builds stay cheap, `nprobe` is used as-is.
    tuneTargetRecall: Double = 0.0,
    // Multi-vector (late-interaction) mode: chunkSize > 0 additionally
    // persists a chunk table per snapshot — every document split into
    // chunkSize-token windows with chunkOverlap-token overlap, each
    // chunk embedded — serving DocumentStore.searchMaxSim (ColBERT-
    // style max-sim over a doc's best chunk). 0 = single-vector only.
    chunkSize: Int = 0,
    chunkOverlap: Int = 8) {
  require(Set("cosine", "ip", "l2")(metric), s"bad metric $metric")
  require(keepVersions >= 1, "keepVersions must be >= 1")
  require(dedupBloomFpp >= 0.0 && dedupBloomFpp < 1.0,
    "dedupBloomFpp must be in [0, 1)")
  require(tuneTargetRecall >= 0.0 && tuneTargetRecall <= 1.0,
    "tuneTargetRecall must be in [0, 1]")
  require(chunkSize >= 0, "chunkSize must be >= 0")
  require(chunkSize == 0 || (chunkOverlap >= 0 && chunkOverlap < chunkSize),
    "chunkOverlap must be in [0, chunkSize)")
}

/** Persisted store manifest (replaces index.faiss + metadata.json
  * sidecar, reference index.py:609-635): current snapshot version plus
  * the config needed to interpret the parquet data, the scalar
  * per-version bookkeeping mutations update in the same commit, and the
  * one record of which derived indexes and tuning curves are live. */
final case class StoreManifest(
    version: Long,
    dim: Int,
    metric: String,
    count: Long,
    nlist: Int,
    // Multi-vector mode persisted with the store (like nlist), so a
    // load() restores chunked search without the caller re-specifying
    // it. 0 = single-vector store.
    chunkSize: Int = 0,
    chunkOverlap: Int = 0,
    // True when this store's IVF was built under the AUTO (√n) nlist
    // mode (r16, StoreConfig.nlist = -1). `nlist` above still records
    // the FITTED cluster count (search/tune need a concrete value);
    // this flag lets load() restore the auto CONFIG, so a reloaded
    // auto store keeps re-deriving its cluster count as the corpus
    // grows instead of freezing at the first fit's value — freezing is
    // exactly the measured r15 ×100 cliff the auto mode exists to
    // prevent.
    autoNlist: Boolean = false,
    // Creation params of the version's dedup Bloom filter
    // (expectedNumItems, fpp); bloomExpected = 0 means no filter.
    // Incremental appends rebuild a batch filter with the same params
    // so the bitwise merge is exact.
    bloomExpected: Long = 0L,
    bloomFpp: Double = 0.0,
    // Data-file count of the version's essential layout as its
    // snapshot write produced it — the small-files advisory baseline.
    layoutFiles: Long = 0L,
    // IVF drift ledger (IVF versions only): the fit-time mean
    // assignment distance, and the count and distance sum of rows
    // appended against the frozen centroids since.
    ivfBaselineMean: Double = 0.0,
    ivfAppendedN: Long = 0L,
    ivfAppendedSum: Double = 0.0,
    // Derived indexes of this version, each live only while its entry
    // is present: the store count the lexical (BM25) index and the PQ
    // index were built at (a count that no longer matches = stale), and
    // whether the PQ index carries an OPQ rotation. A new version has
    // none of them.
    lexicalFor: Option[Long] = None,
    pqFor: Option[Long] = None,
    pqRotated: Boolean = false,
    // This version's measured tuning curves by kind ("nprobe", "pq");
    // a new version has none until re-tuned.
    curves: Map[String, Seq[TuningPoint]] = Map.empty,
    // The params of the last tuning pass of each kind, carried across
    // versions: compact() replays them, tuningStale reports them.
    tuned: Map[String, TuningParams] = Map.empty)

/** The params of one tuning pass ([[graft.store.DocumentStore.tuneNprobe]]
  * / `tunePqCandidates`), recorded in the manifest with the version it
  * ran on; `settings` are the nprobe candidates or PQ depth factors. */
final case class TuningParams(
    version: Long,
    targetRecall: Double,
    k: Int,
    sampleQueries: Int,
    seed: Long,
    settings: Seq[Int])
