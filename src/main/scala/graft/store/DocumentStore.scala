package graft.store

import org.apache.commons.codec.digest.DigestUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter
import org.json4s.{Extraction, JNothing, MappingException}
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft._
import graft.embed.Embedder
import graft.functions.VectorFunctions
import graft.index.{IvfIndex, PqIndex, VectorIndex}
import graft.ops.TextSearch
import graft.store.Commits.fsFor

/** The VectorStore-equivalent facade (reference:
  * src/langchain_memvid/vectorstore.py — `MemVid`): ingest, top-k
  * semantic search with optional full-metadata enrichment, point lookup,
  * deletion with index maintenance, persistence, stats.
  *
  * Dual-store layout on disk (reference's hybrid FAISS dir + video file,
  * vectorstore.py:7-13, index.py:71-84), as copy-on-write snapshot
  * versions under one root:
  *
  * {{{
  * <path>/_commits/manifest_<n>  # manifest commits (newest two kept):
  * #                               version, dim/metric/count/nlist,
  * #                               chunk geometry, Bloom params, layout
  * #                               file count, IVF drift ledger, which
  * #                               derived indexes are live, tuning
  * #                               curves and last tuning params
  * <path>/v<N>/essential/        # parquet: id, text, source, category,
  * #                               metadata_hash, vec [, cluster=...]
  * <path>/v<N>/centroids         # model file (IVF only): the centroid
  * #                               matrix, nlist × dim
  * <path>/v<N>/payload/          # parquet: doc_id, text, metadata,
  * #                               payload_json (full-fidelity record)
  * <path>/v<N>/dedup_bloom_<c>.bin # ingest-dedup Bloom filter over the
  * #                               manifest's `count` c documents; an
  * #                               append writes a new file and sweeps
  * #                               the one it supersedes
  * <path>/v<N>/dedup_keys/       # parquet: sha-sorted (k, id) key table
  * <path>/v<N>/chunks/           # parquet (multi-vector only): id, vec
  * <path>/v<N>/lexical/          # optional BM25 index (postings, terms,
  * #                               stats), live iff the manifest says so
  * <path>/v<N>/pq/model          # optional PQ index: model file (the m
  * #                               codebooks [, the OPQ rotation]) and
  * <path>/v<N>/pq/codes/          # parquet: id, codes; live iff the
  * #                               manifest says so
  * }}}
  *
  * A model file is driver-written binary: a sequence of matrices, each
  * its row and column counts (ints) and then its doubles row by row.
  * One writer lays out a version's tables ([[writeTables]]), for a new
  * version and for an in-place append alike.
  *
  * Reads take one path too, the reference's "rank, then enrich hits by
  * id" (index.py:309-338): every read surface pins one snapshot and
  * refuses an empty store in [[reading]], prunes by the query's
  * [[probeSet]], ranks, and hands its rows out through the one hit
  * projection [[hits]]. A ranking that ends on the driver gets its
  * essential columns by id ([[attachEssential]]); full metadata comes
  * from the payload by id ([[enhanceWithFullMetadata]]).
  *
  * A derived-index build publishes the manifest without the index's
  * entry, writes the index in place, then publishes the entry, so a
  * crash mid-build leaves the index absent, never torn.
  *
  * Every snapshot mutation (add, delete, upsert, compact) goes through
  * ONE copy-on-write rewrite ([[rewrite]]): it writes a NEW version
  * directory, publishes the next manifest commit and sweeps, under the
  * one publish-and-sweep rule of [[Commits]] (which also holds the
  * crash reasoning). `StoreConfig.keepVersions` is the number of
  * versions kept on disk, the live one included (MVCC-style grace for
  * readers still planned against an older version). Only
  * [[addDFIncremental]] appends in place instead.
  *
  * The incoming rows of an add or upsert come either from a driver
  * `Seq` (addTexts, addDocuments, upsertTexts, fromTexts, fromDocuments
  * and their async twins), deduped, keyed and numbered on the driver
  * ([[buildLocalRows]]), or from a DataFrame (addDF, fromDF,
  * addDFIncremental), built on the executors ([[buildNewRows]]). The
  * input type picks the path: a `Seq` is already on the driver, while a
  * DataFrame may be corpus-sized.
  *
  * The essential store owns the ids. A delete renumbers its survivors
  * once, densely 0..n-1 like the reference (index.py:433-435) — ids
  * are positional, not stable keys — and the payload and chunk tables
  * follow that one old → new id map, the role of the reference's
  * doc_id ↔ frame mapping (index.py:130-132). A payload or chunk row
  * whose id names no live document drops out. Nothing is re-embedded:
  * vectors are stored as data, so the reference's O(n) re-embed on
  * delete (index.py:404-440) becomes joins.
  */
final class DocumentStore private (
    val spark: SparkSession,
    val path: String,
    val config: StoreConfig,
    val embedder: Embedder,
    published: Option[(Long, StoreManifest)]) {

  import DocumentStore._

  // Serializes MUTATIONS within this driver: concurrent add/delete
  // Futures (the async API) must not race on the same next-version
  // directory and manifest commit. Reads stay lock-free (snapshot
  // isolation via version dirs + keepVersions). A second writer on the
  // same path (another instance or process) is detected, not
  // serialized: see [[exclusive]].
  private val mutationLock = new Object

  /** Run a mutation under [[mutationLock]]. The outermost call first
    * checks that the latest published commit is this instance's own —
    * the same number AND the same manifest (one listing and one small
    * read of the commit dir; a rebuild at the same path restarts the
    * numbering, so the number alone cannot tell generations apart). A
    * stale instance — a second `load` of the same path, another job,
    * or one that outlived a rebuild — raises a
    * [[ConcurrentWriteException]] before it writes anything, instead of
    * overwriting the version dir the newer manifest points at. Two
    * writers that both pass the check before either publishes still
    * collide; only per-commit version dirs would close that window. */
  private def exclusive[A](body: => A): A =
    if (Thread.holdsLock(mutationLock)) body
    else mutationLock.synchronized {
      val latest = Commits.latest(fsFor(spark, path), commitDir(path), CommitPrefix)
      val latestN = latest.fold(-1L)(_._1)
      if (latestN != commit) throw new ConcurrentWriteException(
        s"store $path is at manifest commit $latestN, this instance at commit $commit: " +
          "another writer published since this instance was loaded; load the store again")
      if (latest.exists { case (_, txt) =>
            renderManifest(parseManifest(txt)) != renderManifest(manifest) })
        throw new ConcurrentWriteException(
          s"store $path was rebuilt: its manifest commit $latestN is not the one this " +
            "instance holds under that number; load the store again")
      body
    }

  private def emptyManifest = StoreManifest(0L, embedder.dim, config.metric, 0L, config.nlist)
  @volatile private var manifest: StoreManifest = published.fold(emptyManifest)(_._2)
  // Number of the manifest commit `manifest` was published as (-1 =
  // none yet). Guarded by mutationLock, like every publish.
  private var commit: Long = published.fold(-1L)(_._1)

  /** Publish `m` as the next manifest commit, then make it live. */
  private def publish(m: StoreManifest): Unit = {
    Commits.publish(fsFor(spark, path), commitDir(path), CommitPrefix, commit + 1,
      renderManifest(m))
    commit += 1
    manifest = m
  }

  /** Step one of a derived-index rebuild: publish `without`, the live
    * manifest minus the index's entry, unless that changes nothing (a
    * first build has no entry yet). The caller then writes the index in
    * place and publishes the entry, so a crash mid-build leaves the
    * index absent, never torn. */
  private def retract(without: StoreManifest): Unit =
    if (without != manifest) publish(without)

  private def versionDir(v: Long) = s"$path/v$v"
  private def essentialDir(v: Long) = s"${versionDir(v)}/essential"
  private def payloadDir(v: Long) = s"${versionDir(v)}/payload"
  private def centroidsPath(v: Long) = s"${versionDir(v)}/centroids"
  private def bloomName(m: StoreManifest) = s"dedup_bloom_${m.count}.bin"
  private def bloomPath(m: StoreManifest) = s"${versionDir(m.version)}/${bloomName(m)}"
  private def dedupKeysDir(v: Long) = s"${versionDir(v)}/dedup_keys"
  private def lexicalDir(v: Long) = s"${versionDir(v)}/lexical"
  private def pqDir(v: Long) = s"${versionDir(v)}/pq"
  private def pqModelPath(v: Long) = s"${pqDir(v)}/model"
  private def chunksDir(v: Long) = s"${versionDir(v)}/chunks"

  // --- snapshot pinning for multi-step reads -------------------------
  // A read operation that touches the store more than once (hits +
  // payload enrichment, fused ranks + text fetch, stats over two dirs)
  // must see ONE version even if a concurrent async mutation swaps
  // `manifest` mid-operation: ids are densely REASSIGNED across
  // versions, so mixing two versions silently attaches wrong rows (or
  // hits a pruned dir). Multi-step read methods wrap their body in
  // [[withSnapshot]]; every read accessor resolves through [[snap]] —
  // the pinned manifest inside such an operation, the live pointer
  // otherwise. Mutations never pin: they hold mutationLock and must see
  // the live pointer.
  // CAVEAT: pinning gives version-CONSISTENCY, not retention. With
  // keepVersions=1 (the default) a concurrent mutation prunes the
  // pinned version's dirs right after its manifest commit, so the pinned
  // reader can still crash loudly with FileNotFound mid-operation.
  // Concurrent async mutation + read requires keepVersions >= 2
  // (see StoreConfig.keepVersions).
  private val pinnedSnapshot = new ThreadLocal[StoreManifest]
  private def snap: StoreManifest = {
    val p = pinnedSnapshot.get(); if (p != null) p else manifest
  }
  private def withSnapshot[A](body: => A): A =
    if (pinnedSnapshot.get() != null) body // nested op: keep the outer pin
    else {
      pinnedSnapshot.set(manifest)
      try body finally pinnedSnapshot.remove()
    }

  // Store tables are read with their known schema: an inferring read
  // runs a footer job before every query. An IVF layout's `cluster`
  // column is not in the schema; partition discovery appends it.

  /** Current essential store (searchable projection + vectors). */
  def essential: DataFrame =
    spark.read.schema(EssentialSchema).parquet(essentialDir(snap.version))

  /** Current full-fidelity payload store. */
  def payload: DataFrame =
    spark.read.schema(PayloadSchema).parquet(payloadDir(snap.version))

  /** Current chunk table (multi-vector mode only): (id, vec[, cluster])
    * — one row per chunkSize-token window of each document. */
  def chunkVectors: DataFrame = {
    if (snap.chunkSize <= 0) throw new SearchException(
      "store is not multi-vector: build with StoreConfig.chunkSize > 0")
    spark.read.schema(ChunkSchema).parquet(chunksDir(snap.version))
  }

  /** Time-travel read: the essential store AS OF snapshot `version`,
    * readable for any version still retained by
    * `StoreConfig.keepVersions` (mutations write new version dirs and
    * keep `keepVersions` of them, the live one included) — the audit/
    * reproducibility read of a versioned store: "what did the store
    * contain when job X ran?". */
  def essentialAt(version: Long): DataFrame =
    versionedRead(version, essentialDir, EssentialSchema)

  /** Time-travel read of the payload store — see [[essentialAt]]. */
  def payloadAt(version: Long): DataFrame = versionedRead(version, payloadDir, PayloadSchema)

  private def versionedRead(version: Long, dirOf: Long => String,
                            schema: StructType): DataFrame = {
    if (!(version >= 1 && version <= manifest.version)) throw new StorageException(
      s"version $version out of range 1..${manifest.version}")
    val dir = dirOf(version)
    if (!fsFor(spark, dir).exists(hadoopPath(dir))) throw new StorageException(
      s"version $version already pruned (keepVersions=${config.keepVersions})")
    spark.read.schema(schema).parquet(dir)
  }

  def documentCount: Long = manifest.count
  def currentManifest: StoreManifest = manifest

  // ------------------------------------------------------------------
  // Ingest (reference I1-I8: vectorstore.py:174-225, encoder.py:90-227,
  // index.py:177-307)
  // ------------------------------------------------------------------

  /** Ingest texts + metadata. Like the reference, duplicate texts (both
    * intra-batch and vs. the existing store) are dropped with
    * first-occurrence-wins (index.py:202-218), yet the returned ids are
    * str(0..len(texts)-1) of the INPUT — a reference surface
    * inconsistency we replicate deliberately (vectorstore.py:221).
    * The batch is already on the driver, so its new rows are built
    * there ([[buildLocalRows]]): before the write, Spark only confirms
    * Bloom hits against the key table and embeds the kept rows. */
  def addTexts(texts: Seq[String], metadatas: Seq[Map[String, String]] = Nil): Seq[String] = {
    rewrite(staged = Some(Right(stage(texts, metadatas))))
    texts.indices.map(_.toString)
  }

  /** Bulk ingest from a DataFrame with columns (text STRING,
    * metadata MAP<STRING,STRING>). The scale path: no driver-side data;
    * the new rows are built on the executors ([[buildNewRows]]). */
  def addDF(staged: DataFrame): Unit = rewrite(staged = Some(Left(staged)))

  /** Document-list adapter over addTexts (reference I2,
    * vectorstore.py:254-270). */
  def addDocuments(docs: Seq[Doc]): Seq[String] =
    addTexts(docs.map(_.text), docs.map(_.metadata))

  /** In-memory texts + metadata as (text, metadata) pairs; a length
    * mismatch raises before any job runs. */
  private def stage(texts: Seq[String], metadatas: Seq[Map[String, String]]): LocalBatch = {
    if (!(metadatas.isEmpty || metadatas.length == texts.length)) throw new IngestException(
      s"texts/metadatas length mismatch: ${texts.length} vs ${metadatas.length}")
    if (metadatas.isEmpty) texts.map((_, Map.empty[String, String])) else texts.zip(metadatas)
  }

  /** The one copy-on-write rewrite behind every snapshot mutation, and
    * so the one place that decides which payload and chunk rows belong
    * to which live document. The essential store owns the ids; the
    * payload and the chunk table follow them:
    *
    *  - `doomed` (an `id` column) given: the survivors are renumbered
    *    ONCE, densely in old-id order (index.py:433-435), and
    *    materialized. The payload and the chunk table are carried
    *    through that `__old_id → id` map, so a row whose id names no
    *    survivor — a deleted document or a crash orphan — drops out of
    *    the join, and chunk vectors travel as data (zero embed calls).
    *  - `compacting`: no renumbering. The payload is carried through
    *    the live essential ids, one row per doc_id; chunks are rebuilt
    *    from text, the heal for duplicate chunk rows a retried
    *    incremental append leaves.
    *  - neither (append): ids are stable, so the payload and the chunk
    *    table keep only ids below the mint offset — a pushed-down filter
    *    that drops exactly the orphans of a crashed incremental append
    *    (see [[addDFIncremental]]), whose ids this batch mints next.
    *
    * Payload rows are carried by doc_id only, never by hash: a corrupted
    * row stays for [[verifyIntegrity]] to report. `staged` builds at the
    * survivor offset and dedups against the survivors — through the
    * persisted Bloom only when nothing is deleted, since the filter
    * still holds deleted texts. A DataFrame (`Left`) is built on the
    * executors ([[buildNewRows]]), a driver batch (`Right`) on the
    * driver ([[buildLocalRows]]). An append batch that dedups to nothing
    * publishes nothing; a rewrite left with no survivor and no incoming
    * row drops the store. */
  private def rewrite(doomed: Option[DataFrame] = None,
                      staged: Option[Either[DataFrame, LocalBatch]] = None,
                      compacting: Boolean = false): Unit = exclusive {
    val live = if (manifest.count > 0) Some(essentialProjection(essential)) else None
    val renumbered = for (ex <- live; d <- doomed) yield withDenseId(
      ex.join(d, Seq("id"), "left_anti").withColumnRenamed("id", "__old_id").orderBy("__old_id"),
      "id").persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Renumbered: the survivor count, which also materializes the
      // map every table reads. Otherwise the offset comes from the DATA,
      // not the manifest: a crashed incremental append can leave
      // essential orphans with ids >= manifest.count on disk, and
      // minting from the stale count would publish duplicate ids.
      val offset = renumbered.fold(live.fold(0L)(nextId))(_.count())
      val survivors = renumbered.orElse(live)
      val idMap = renumbered.map(_.select("__old_id", "id")).orElse(
        if (compacting) live.map(_.select(col("id").as("__old_id"), col("id"))) else None)
      val base = staged.map { s =>
        val bloom = if (doomed.isEmpty) loadBloom() else None
        s.fold(buildNewRows(_, survivors, offset, bloom),
          buildLocalRows(_, survivors, offset, bloom))
      }
      try {
        val nNew = base.fold(0L)(_._2)
        if (nNew == 0L && staged.isDefined && doomed.isEmpty && live.isDefined) return
        // The wipe rule counts SURVIVORS, never manifest.count minus the
        // doomed: crash-orphaned essential rows can inflate a match count
        // past the live total, and a count test would drop live documents.
        if (nNew == 0L && renumbered.isDefined && offset == 0L) { drop(); return }
        def carry(df: DataFrame, key: String, cols: Seq[String]): DataFrame = idMap match {
          case Some(m) => df.withColumnRenamed(key, "__old_id").join(m, "__old_id")
            .withColumnRenamed("id", key).select(cols.head, cols.tail: _*)
          case None => df.where(col(key) < offset)
        }
        def plusNew(kept: Option[DataFrame], rows: DataFrame => DataFrame): DataFrame =
          (kept ++ base.map(b => rows(b._1))).reduce(_.unionByName(_, allowMissingColumns = true))
        val keptPayload = live.map(_ => carry(
          if (compacting) payload.dropDuplicates("doc_id") else payload, "doc_id",
          Seq("doc_id", "text", "metadata", "payload_json")))
        val keptChunks = if (compacting) None
          else live.flatMap(_ => existingChunks()).map(carry(_, "id", Seq("id", "vec")))
        writeVersion(plusNew(survivors, essentialProjection),
          plusNew(keptPayload, payloadProjection),
          keptChunks.map(c => plusNew(Some(c), b => chunkRows(essentialProjection(b)))))
      } finally base.foreach(_._1.unpersist())
    } finally renumbered.foreach(_.unpersist())
  }

  /** The next id to mint past every essential row on disk. */
  private def nextId(ex: DataFrame): Long = ex.agg(max("id")).head.get(0) match {
    case null => 0L
    case m    => m.asInstanceOf[Long] + 1L
  }

  private def essentialProjection(base: DataFrame): DataFrame =
    base.select("id", "text", "source", "category", "metadata_hash", "vec")

  /** Derive the chunk table rows for multi-vector mode: every document
    * split into chunkSize-token windows (chunkOverlap overlap), each
    * window embedded with the SAME embedder as the doc vector. Narrow
    * explode + map — no shuffle; null-text docs produce no chunks
    * (their doc vector is null too, so search behavior is consistent). */
  private def chunkRows(docs: DataFrame): DataFrame = {
    val chunked = docs.select(col("id"), explode(
      graft.functions.TextFunctions.chunks(
        col("text"), config.chunkSize, config.chunkOverlap)).as("__chunk"))
    embedder.embed(chunked, "__chunk", "vec").select(col("id"), col("vec"))
  }

  /** The CURRENT snapshot's chunk table as carry input — Some((id, vec))
    * only when carrying across a mutation is sound: the store is
    * multi-vector, the live config still matches the manifest's chunk
    * geometry (a changed chunkSize/chunkOverlap invalidates every
    * existing window), and the table exists on disk. None ⇒ the caller
    * lets writeVersion rebuild from the essential text. Carrying it
    * through the id map costs one equi-join of (id, vec) pairs —
    * survivor IO — versus model inference over every chunk. */
  private def existingChunks(): Option[DataFrame] = {
    val dir = chunksDir(manifest.version)
    if (manifest.chunkSize > 0 && config.chunkSize == manifest.chunkSize &&
        config.chunkOverlap == manifest.chunkOverlap &&
        fsFor(spark, dir).exists(hadoopPath(dir)))
      Some(spark.read.schema(ChunkSchema).parquet(dir).select("id", "vec"))
    else None
  }

  private def payloadProjection(base: DataFrame): DataFrame =
    base.select(col("id").as("doc_id"), col("text"), col("metadata"),
      to_json(struct(col("text"), col("metadata"))).as("payload_json"))

  /** Dedup + embed + project one staged DataFrame into a CACHED base of
    * new rows with dense ids starting at `offset`, and its row count —
    * the path of [[addDF]], [[addDFIncremental]] and the factories over
    * them, where the batch may be corpus-sized and never reaches the
    * driver: a window for the intra-batch dedup, two `zipWithIndex`
    * passes and an executor-side Bloom probe ([[confirmDups]]). A
    * driver batch takes [[buildLocalRows]] instead. Caching is
    * load-bearing, not an optimization: the essential and payload writes
    * both derive from this plan, and recomputing it from a staged input
    * that changed between the two writes would produce payload rows that
    * do not match the essential rows already written. */
  private def buildNewRows(staged: DataFrame, existing: Option[DataFrame],
                           offset: Long,
                           bloom: Option[BloomFilter] = None): (DataFrame, Long) = {
    // Pin the staged batch ONCE before anything reads it: zipWithIndex
    // alone runs a partition-count job plus the final compute, and the
    // Bloom confirm both COLLECTS maybe-keys from and anti-joins
    // against plans over this input — independent executions all. A
    // nondeterministic source (unseeded sample(), rand()-derived, a
    // directory racing appends) could otherwise disagree with itself
    // between the dedup decision and the published rows — admitting a
    // true duplicate past the screen or shifting ids under the embed.
    // Batch-sized by contract; released in the finally once the result
    // cache is materialized.
    val pinned = staged
      .select(col("text"), col("metadata").cast("map<string,string>"))
      .cache()
    try {
    // Input-order sequence for first-occurrence-wins dedup.
    val withSeq = withDenseId(pinned, "seq")

    // Intra-batch dedup: first occurrence per text (index.py:202-218).
    val firstPerText = Window.partitionBy(col("text")).orderBy(col("seq"))
    var fresh = withSeq
      .withColumn("__rn", row_number().over(firstPerText))
      .where(col("__rn") === 1).drop("__rn")

    // Dedup vs. already-indexed texts. With a persisted store Bloom
    // filter (keyed on sha2(text)), batch rows that MISS it are
    // definitely new; positives (true dups + ~fpp of the batch) are
    // confirmed EXACTLY through the sha-sorted key table + id-pruned
    // point lookups (see confirmDups) — same result as the plain
    // anti-join for any filter contents, and per-ingest cost genuinely
    // stops scaling with the corpus (the r10 witness run caught the
    // previous shape still shuffling the whole corpus for the confirm
    // branch even when every row missed the filter).
    existing.foreach { ex =>
      fresh = bloom match {
        case Some(b) =>
          val bc = spark.sparkContext.broadcast(b)
          // Null-safe: a null text hashes to null — route it to the
          // confirm path (treat as "maybe") instead of NPEing inside
          // the task.
          val probe = udf((h: String) => h == null || bc.value.mightContainString(h))
          confirmDups(fresh.withColumn("__maybe",
            probe(sha2(col("text"), 256))), ex)
        case None =>
          // <=> (null-safe): the intra-batch window already dedupes
          // null texts as equal, so the cross-batch screen must too —
          // a plain equi-anti-join never matches null = null and would
          // append one null-text doc per ingest batch forever.
          fresh.join(ex.select(col("text").as("__ex_text")),
            col("text") <=> col("__ex_text"), "left_anti")
      }
    }

    // Dense id assignment at the append offset (index.py:230):
    // zipWithIndex (no shuffle), input order preserved via sort by seq.
    val base = withDenseId(newRowProjection(fresh).orderBy("seq"), "id", offset).cache()
    // Materialize base's cache (load-bearing — see callers) from the
    // still-pinned input before the finally releases it; otherwise the
    // first downstream action would re-execute the raw staged plan.
    (base, base.count())
    } finally { pinned.unpersist(); () }
  }

  /** Embed (narrow map stage) + the columns derived from the metadata:
    * source, category and the integrity hash (index.py:220-237). Hash =
    * sha256 over key-sorted metadata JSON — an opaque self-consistency
    * token (SURVEY §7.4), recomputable by [[verifyIntegrity]] (same
    * shared expression). Both new-row builders end here. */
  private def newRowProjection(rows: DataFrame): DataFrame =
    embedder.embed(rows, "text", "vec")
      .withColumn("source", col("metadata").getItem("source"))
      .withColumn("category", col("metadata").getItem("category"))
      .withColumn("metadata_hash", DocumentStore.metadataHashCol(col("metadata")))

  /** [[buildNewRows]] for a batch the driver already holds, with the
    * same result — first occurrence wins, dense ids from `offset` in
    * input order — and no Spark job over the batch itself:
    *
    *  1. each text takes its stored form: Spark keeps UTF-8 bytes, so
    *     texts that differ only in unpaired surrogates (each encodes as
    *     '?') are one text to the store, and must be one text here;
    *  2. intra-batch dedup by first occurrence, all null texts one key;
    *  3. with a Bloom, a text's key is the hex sha-256 of its UTF-8
    *     bytes (the function `sha2(text, 256)` calls, so it equals the
    *     key table's), and only the texts the filter flags, and a null
    *     text, are confirmed: the [[keyProbe]] of their keys, then the
    *     [[probe]] of the candidate ids' texts, compared exactly here.
    *     A fetched text is a copy of a batch text (barring a sha
    *     collision or a crash phantom, which the exact compare rejects),
    *     one row per candidate id, so the batch bounds the fetch and no
    *     byte budget or fallback is needed (unlike [[confirmDups]]); a
    *     phantom id that never published fetches nothing. Without a Bloom (a
    *     rewrite that deletes, or `dedupBloomFpp = 0`): one null-safe
    *     semi-join of the survivors' texts against the batch's;
    *  4. ids `offset + i` over the kept rows, in one local frame of one
    *     slice per `advisoryPartitionSizeInBytes` of text: a small batch
    *     is one partition, and so one file per table, as the coalesced
    *     sort of the DataFrame path gives.
    *
    * Like [[buildNewRows]], it returns the rows cached; built from
    * driver values, the cache is filled by the first write. */
  private def buildLocalRows(batch: LocalBatch, existing: Option[DataFrame], offset: Long,
                             bloom: Option[BloomFilter]): (DataFrame, Long) = {
    import java.nio.charset.StandardCharsets.UTF_8
    // (stored text, metadata, its UTF-8 bytes) per first occurrence
    val firsts = batch.map { case (t, m) =>
      val bytes = if (t == null) null else t.getBytes(UTF_8)
      (if (t == null) null else new String(bytes, UTF_8), m, bytes)
    }.distinctBy(r => Option(r._1))
    def texts(df: DataFrame): Set[Option[String]] =
      df.collect().map(r => Option(r.getString(0))).toSet
    val stored = existing.fold(Set.empty[Option[String]]) { ex =>
      bloom match {
        case Some(b) =>
          val flagged = firsts.iterator
            .map(r => if (r._3 == null) null else DigestUtils.sha256Hex(r._3))
            .filter(k => k == null || b.mightContainString(k)).toSeq
          val ids = if (flagged.isEmpty) Array.empty[Long]
            else keyProbe(flagged).select("id").collect().map(_.getLong(0)).distinct
          if (ids.isEmpty) Set.empty
          else texts(probe(ex, "id", ids.toSeq).select("text"))
        case None =>
          import spark.implicits._
          texts(ex.select("text").join(firsts.map(_._1).toDF("__b"),
            col("text") <=> col("__b"), "left_semi"))
      }
    }
    val kept = firsts.filterNot(r => stored(Option(r._1)))
    val textBytes = kept.iterator.map(r => if (r._3 == null) 0L else r._3.length.toLong).sum
    val sliceBytes = JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val slices = math.min(math.max(kept.length, 1).toLong,
      math.max(1L, (textBytes + sliceBytes - 1) / sliceBytes)).toInt
    val rows = kept.zipWithIndex.map { case ((t, m, _), i) => Row(offset + i, t, m) }
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, slices),
      LocalRowSchema)
    (newRowProjection(frame).cache(), rows.length.toLong)
  }

  /** The live version's key-table rows (k, id) whose key is one of
    * `keys` (null: the null text's), through [[probe]] — an action's
    * input only. */
  private def keyProbe(keys: Seq[String]): DataFrame =
    probe(spark.read.schema(KeyTableSchema).parquet(dedupKeysDir(manifest.version)), "k", keys)

  /** The rows of `df` whose column `c` equals one of `values` (a null
    * value matches a null), in the cheaper safe form:
    *  - up to [[DocumentStore.SafeInProbe]] values, an `In` filter
    *    pushed into the parquet scan: min/max statistics skip every row
    *    group without a probed value (the key table is sha-sorted, the
    *    essential store id-laid-out). Above
    *    `pushdown.inFilterThreshold` (default 10) Spark degrades a pushed
    *    In to a [min, max] RANGE filter — random shas span the whole key
    *    space, so every row group would match — so the plan is bound to
    *    a session clone with the threshold raised (cloned-session conf,
    *    the mechanism of withBoundedTopKConf). Callers consume it with
    *    an action, never as the input of a returned plan: the raised
    *    conf must not reach the caller's embed and store writes;
    *  - above that, [[probeJoin]]: the pushed In compiles to an or-CHAIN
    *    whose evaluation overflows a cold-JVM task stack at depth ~768
    *    (measured; JIT'd frames survive 1000+, so warm tests lie; see
    *    SafeInProbe). */
  private def probe(df: DataFrame, c: String, values: Seq[Any]): DataFrame = {
    val nonNull = values.filter(_ != null)
    if (nonNull.length > SafeInProbe) probeJoin(df, c, values)
    else {
      val cond = (if (nonNull.nonEmpty) Some(col(c).isin(nonNull: _*)) else None) ++
        (if (nonNull.length < values.length) Some(col(c).isNull) else None)
      org.apache.spark.sql.GraftSqlBridge.withSessionConfs(df.where(cond.reduce(_ || _)),
        Map("spark.sql.parquet.pushdown.inFilterThreshold" -> (SafeInProbe + 1).toString))
    }
  }

  /** [[probe]]'s join form: broadcast the values and null-safe
    * semi-join `df` — no row-group pruning, but a shuffle-free columnar
    * scan, and a plain plan that may feed other plans. */
  private def probeJoin(df: DataFrame, c: String, values: Seq[Any]): DataFrame = {
    val pv = spark.createDataFrame(values.map(Row(_)).asJava,
      StructType(Seq(StructField("__pv", df.schema(c).dataType))))
    df.join(broadcast(pv), col(c) <=> col("__pv"), "leftsemi")
  }

  /** Exact cross-batch dedup for rows the Bloom flagged `__maybe`,
    * WITHOUT a corpus-sized anti-join. The previous shape unioned a
    * "definitely new" branch with a maybe-rows anti-join against the
    * whole essential store — but that branch executes regardless of
    * how few maybe rows exist, so every ingest still paid a
    * corpus-sized shuffle (caught by ScaleBench's ingest row at ×200).
    * Now the confirm walks bounded, PRUNED reads:
    *
    *  1. collect the distinct maybe shas (≤ batch-sized; driver
    *     decision point);
    *  2. probe the snapshot's sha-SORTED key table ([[keyProbe]]): up
    *     to [[DocumentStore.SafeInProbe]] keys as an `isin` pushdown —
    *     parquet min/max skips every row group not containing a probed
    *     key, so this reads O(|maybe|) row groups, not the corpus;
    *     larger sets as a BROADCAST join against the key table — no
    *     row-group pruning, but a shuffle-free columnar scan of the
    *     2-column table (never of the corpus texts); see [[probe]] for
    *     why the In form is only safe when small;
    *  3. fetch the matched candidate ids' TEXTS from the id-laid-out
    *     essential store (the same pruned point-lookup path as
    *     getDocumentsByIds; the same [[probe]]) and anti-join
    *     the batch against them — driver-collected + broadcast only
    *     while the measured candidate bytes stay under
    *     [[DocumentStore.MaxConfirmTextBytes]] (the row cap bounds
    *     count, not bytes), executor-side join otherwise. The final
    *     compare stays EXACT TEXT equality, so a sha collision can
    *     only cost a wasted fetch, never a wrong drop.
    *
    * Crash safety: the key table is appended BEFORE rows publish (the
    * bloom-fold discipline), so it only ever OVERAPPROXIMATES — a
    * phantom (k, id) from a crashed append matches in step 2, fetches
    * nothing in step 3 (the id never published), and the row is
    * re-admitted. The key table always exists next to the Bloom: the
    * same writeTables writes both before the manifest publishes. More
    * than [[DocumentStore.MaxConfirmKeys]] maybe keys / candidate ids
    * (a batch that is mostly dups — corpus-sized work is then inherent)
    * run the plain anti-join. The key probe and the id fetch are the
    * ones [[buildLocalRows]] runs for a driver batch, whose own bytes
    * bound what it fetches, so it needs neither the byte budget nor
    * the fallback. */
  private def confirmDups(flagged: DataFrame, ex: DataFrame): DataFrame = {
    def plainConfirm(): DataFrame =
      flagged.where(!col("__maybe")).drop("__maybe")
        .unionByName(flagged.where(col("__maybe")).drop("__maybe")
          .join(ex.select(col("text").as("__ex_text")),
            col("text") <=> col("__ex_text"), "left_anti"))
    val cap = DocumentStore.MaxConfirmKeys
    val maybeKeys = flagged.where(col("__maybe"))
      .select(sha2(col("text"), 256).as("__k")).distinct()
      .limit(cap + 1).collect().map(_.getString(0))
    if (maybeKeys.isEmpty) return flagged.drop("__maybe")
    if (maybeKeys.length > cap) return plainConfirm()
    val candIds = keyProbe(maybeKeys.toSeq)
      .select("id").distinct().limit(cap + 1).collect().map(_.getLong(0))
    if (candIds.isEmpty) return flagged.drop("__maybe")
    if (candIds.length > cap) return plainConfirm()
    // Candidate-TEXT fetch + final anti-join. MaxConfirmKeys bounds
    // candidate COUNT, not BYTES — 100k 1 MB documents would be a
    // ~100 GB broadcast/collect — so the broadcast path is gated on a
    // measured byte budget.
    import spark.implicits._
    if (candIds.length <= SafeInProbe) {
      // In-form fetch: row-group-pruned point reads of the candidate
      // texts, executed only here (see probe). The byte probe reads
      // octet lengths through the same pruned path (bounded), then the
      // texts are COLLECTED (the bytes a broadcast would ship to the
      // driver anyway) and rebuilt as a local frame on the caller's
      // session.
      val pruned = probe(ex, "id", candIds.toSeq)
        .select(col("text").as("__ex_text")).distinct()
      // Persist across the two actions (byte probe, then collect):
      // both consume the same pruned point-read. Bounded: <= cap rows,
      // and the collect only proceeds under the byte budget.
      pruned.persist()
      try {
        val approxBytes = pruned
          .agg(coalesce(sum(octet_length(col("__ex_text"))), lit(0L)))
          .head.getLong(0)
        if (approxBytes <= DocumentStore.MaxConfirmTextBytes) {
          val texts = pruned.collect().map(_.getString(0)).toSeq
          return flagged.drop("__maybe")
            .join(broadcast(texts.toDF("__ex_text")),
              col("text") <=> col("__ex_text"), "left_anti")
        }
      } finally { pruned.unpersist(); () }
      // Over budget: fall through to the join-form fetch + a plain
      // (non-broadcast) anti-join — bounded executor-side shuffle of
      // batch vs candidates, no driver collection of GBs of text.
    }
    // Join-form: broadcast the tiny id set into the essential scan
    // (shuffle-free columnar read; no In conf needed), then a plain
    // anti-join — AQE may still broadcast the candidate side at
    // runtime if it measures small, but nothing forces an unbounded
    // byte collection.
    flagged.drop("__maybe").join(
      probeJoin(ex, "id", candIds.toSeq).select(col("text").as("__ex_text")).distinct(),
      col("text") <=> col("__ex_text"), "left_anti")
  }

  /** SCALE-PATH append: write ONLY the new rows into the current
    * version's directories (parquet append) instead of rewriting the
    * whole snapshot. The reference rebuilds the entire store on every
    * add (vectorstore.py:197-212) because FAISS flat indexes cannot be
    * appended persistently; columnar storage can — at 100 TB a per-batch
    * full rewrite is the difference between O(batch) and O(corpus) per
    * ingest. Semantics match [[addDF]] exactly (same dedup-vs-store,
    * same dense ids); only the physical write differs:
    *  - IVF stores assign new rows to the EXISTING centroids (no
    *    re-fit; cluster boundaries drift only as much as the data does),
    *  - appended files are unsorted relative to old ones.
    * Run [[compact]] after heavy append traffic to re-fit/re-layout.
    * First-ever append delegates to the snapshot path (creates v1).
    *
    * Failure atomicity: all appends run off one CACHED row set
    * (identical rows in every store by construction), the tables land
    * in [[writeTables]]' order (essential last), and the manifest count
    * is bumped last — so a crash mid-append never
    * publishes essential rows without their payload; it leaves either
    * nothing or orphan payload/chunk rows at ids >= the live count,
    * which the next snapshot rewrite (any add, delete, upsert or
    * [[compact]]) drops (see [[rewrite]]). One window stays open: a
    * RETRY through this method before such a rewrite re-derives the
    * same id range and mints over the orphans, so a retried document
    * then has a second payload row — [[verifyIntegrity]] lists both (a
    * `mismatch` when the dead batch's metadata differs) and compact()
    * keeps one of them, not necessarily the retried one — and extra
    * chunk rows until compact() rebuilds them. */
  def addDFIncremental(staged: DataFrame): Unit = exclusive {
    if (manifest.count == 0) { rewrite(staged = Some(Left(staged))); return }
    val existing = essentialProjection(essential)
    // Offset from the DATA, not the manifest: if a prior incremental
    // append crashed between the essential write and the manifest bump,
    // manifest.count undercounts and reusing it would hand out ids that
    // already exist on disk.
    val offset = nextId(existing)
    val bloom = loadBloom()
    val (base, nNew) = buildNewRows(staged, Some(existing), offset, bloom)
    try {
      if (nNew > 0) {
        val rows = essentialProjection(base)
        // The batch's assignment distances to the live centroids fold
        // into the drift ledger in the commit that publishes the count.
        val m = manifest.copy(count = offset + nNew)
        val (dn, ds) = writeTables(m, rows, payloadProjection(base),
          if (m.chunkSize > 0) Some(chunkRows(rows)) else None, loadCentroids(), bloom)
        publish(m.copy(ivfAppendedN = m.ivfAppendedN + dn,
          ivfAppendedSum = m.ivfAppendedSum + ds))
        // The merged filter went to the new count's name, so the one the
        // previous commit named was never rewritten; only the writer
        // reads a filter, so it goes now.
        if (m.bloomExpected > 0L)
          Commits.sweep(fsFor(spark, path), hadoopPath(versionDir(m.version)))(n =>
            n.startsWith("dedup_bloom_") && n != bloomName(m))
      }
    } finally base.unpersist()
  }

  /** Re-layout the current snapshot (copy-on-write, same data): re-fit
    * IVF clustering when gated, range-sort the flat layout by id, and
    * merge the small files incremental appends accumulate. Also
    * reconciles after a crashed incremental append: the payload is
    * carried through the live essential ids, so orphan payload rows
    * drop out and duplicate rows of one doc_id (a retried batch)
    * collapse to one, and chunks are rebuilt from text.
    *
    * Tuning lifecycle: if nprobe was ever tuned on this store
    * (manually or via the config gate) and the fresh snapshot didn't
    * get a curve from `tuneTargetRecall`, compact REPLAYS the last
    * recorded tuneNprobe params on the new clustering — a re-layout
    * must not silently demote searches from a measured-recall choice
    * to the static default. PQ is reported stale by [[tuningStale]]
    * instead (rebuilding its per-snapshot index is an explicit
    * [[buildPqIndex]] + [[tunePqCandidates]] decision). */
  def compact(): Unit = exclusive {
    if (manifest.count == 0) throw new IndexException("store is empty or not built")
    rewrite(compacting = true)
    manifest.tuned.get("nprobe").foreach { h =>
      if (manifest.nlist > 0 && !manifest.curves.contains("nprobe"))
        tuneNprobe(h.targetRecall, h.k, h.sampleQueries, h.settings, h.seed)
    }
  }

  /** Write a new snapshot version (optionally IVF-clustered), publish
    * its manifest commit, prune old versions. The new manifest has no
    * derived index and no tuning curve; it carries the last tuning
    * params forward.
    *
    * `carriedChunks` (multi-vector mode): pre-embedded chunk rows
    * (id, vec) — already renumbered to the NEW snapshot's ids — that
    * replace the from-scratch chunk+embed rebuild ([[rewrite]] carries
    * the previous snapshot's table through its id map). Chunk VECTORS
    * are data, not derived state, so a delete or upsert embeds nothing
    * over the standing corpus (the reference re-embeds everything on
    * delete, index.py:404-440). None rebuilds from the essential text:
    * first build, compact() (also the heal for crash-orphaned duplicate
    * chunk rows, as for payload), or a chunk-config change.
    *
    * `essentialDf` may carry extra columns (the renumbering's __old_id);
    * only the essential projection is written. A frame the caller has
    * already persisted (a delete's renumbered survivors) is read as is,
    * not cached a second time. */
  private def writeVersion(essentialDf: DataFrame, payloadDf: DataFrame,
                           carriedChunks: Option[DataFrame]): Unit = {
    val v = manifest.version + 1
    val owned = essentialDf.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cached = if (owned) essentialDf.cache() else essentialDf
    val ess = essentialProjection(cached)
    val count = ess.count()
    // config.nlist = -1 (AUTO) fits with nlist = 0, the IvfIndex auto
    // mode — the cluster count derives from the corpus via the √n rule,
    // and the manifest records the model's ACTUAL nlist, so
    // load/search/tune see a concrete value.
    val model = if (!IvfIndex.shouldUseIvf(config.nlist, count)) None
      else Some(IvfIndex.fit(ess, "vec", if (config.nlist == -1) 0 else config.nlist,
        rowCount = count, dim = embedder.dim))
    val bloomExpected = if (config.dedupBloomFpp > 0.0) math.max(count, 1L) else 0L
    val m = StoreManifest(v, embedder.dim, config.metric, count, model.fold(0)(_.nlist),
      chunkSize = config.chunkSize,
      chunkOverlap = if (config.chunkSize > 0) config.chunkOverlap else 0,
      autoNlist = config.nlist == -1,
      bloomExpected = bloomExpected,
      bloomFpp = if (bloomExpected > 0L) config.dedupBloomFpp else 0.0,
      tuned = manifest.tuned)
    val (n, total) = writeTables(m, ess, payloadDf,
      if (config.chunkSize > 0) Some(carriedChunks.getOrElse(chunkRows(ess))) else None,
      model, None)
    if (owned) cached.unpersist()
    // the small-files advisory's baseline: the data files this write
    // produced (recommendCompaction compares against it); the staleness
    // baseline: the fit-time mean assignment distance (see
    // needsCompaction)
    publish(m.copy(layoutFiles = countDataFiles(essentialDir(v)),
      ivfBaselineMean = if (n > 0L) total / n else 0.0))
    // Retention (see Commits): keepVersions versions stay, the live one
    // included.
    Commits.sweep(fsFor(spark, path), hadoopPath(path))(
      Commits.versionsBelow(v - config.keepVersions + 1))
    // Measured-recall auto-tuning (opt-in): every IVF snapshot build
    // re-measures the nprobe/recall trade-off on the fresh clustering
    // and persists the curve; searches pick up the choice via
    // effectiveNprobe. Sample-sized work, but a real cost per build —
    // hence the explicit config gate.
    if (config.tuneTargetRecall > 0.0 && m.nlist > 0)
      tuneNprobe(config.tuneTargetRecall)
    ()
  }

  /** The one writer of a version's tables: the Bloom filter and the key
    * table, payload, chunks (multi-vector mode), essential, and the
    * centroids, of version `m.version`. `rows` are essential rows,
    * `chunks` their chunk rows.
    *
    *  - A full write (`m` is the next version's manifest) lays the
    *    version out anew: essential range-sorted by id in files of ~250k
    *    rows, the key table range-sorted by sha in files of ≤ 4M keys
    *    (min/max statistics prune the point lookups of both), a Bloom
    *    filter sized by `m`, and the centroids file.
    *  - An append (`m` is the live manifest with the count it will
    *    publish) adds a batch's rows to the live version as new unsorted
    *    files, assigned to the live centroids, and folds the batch's keys
    *    into the live Bloom filter `live` with `m`'s creation params
    *    (identical params give identical bits, so the merge is exact;
    *    sustained appends degrade its fpp until the next full write
    *    sizes a new one). The merged filter goes to `m`'s file name, so
    *    the file the live manifest names is never rewritten.
    *
    * With `model`, essential and chunks are partitioned by cluster
    * (chunk vectors live in the doc vectors' space, so searchMaxSim's
    * nprobe pruning is file-level too), sorted by (cluster, id) on a
    * full write.
    *
    * The order is the append's crash reasoning, and a full write keeps
    * it: the Bloom filter and the key table first, so a crash can only
    * leave them OVERapproximating published texts (a phantom key sends a
    * row to the exact confirm, which fetches no essential row for it and
    * admits the row; an underapproximation would re-ingest published
    * texts); then payload and chunks, so essential rows never publish
    * without them (a crash leaves orphan rows at ids no live document
    * has, which [[rewrite]] drops); essential last.
    *
    * Returns the (count, sum) of the essential rows' assignment
    * distances, observed on the essential write itself ((0, 0) without
    * a model): the fit baseline on a full write, the drift ledger's
    * increment on an append. */
  private def writeTables(m: StoreManifest, rows: DataFrame, payloadRows: DataFrame,
                          chunks: Option[DataFrame], model: Option[IvfIndex.Model],
                          live: Option[BloomFilter]): (Long, Double) = {
    val (v, full) = (m.version, m.version != manifest.version)
    val mode = if (full) "overwrite" else "append"
    def rangeSorted(df: DataFrame, key: String, perFile: Long): DataFrame =
      if (!full) df
      else df.repartitionByRange(math.max(1L, (m.count + perFile - 1) / perFile).toInt, col(key))
        .sortWithinPartitions(key)
    if (m.bloomExpected > 0L) {
      val keys = rows.select(sha2(col("text"), 256).as("k"), col("id"))
      // One executor-side pass; the driver receives one filter-sized
      // blob. With no non-null text the aggregate yields no filter (an
      // NPE) and there is nothing to fold.
      val built = try Some(keys.stat.bloomFilter("k", m.bloomExpected, m.bloomFpp))
        catch { case _: NullPointerException => None }
      val bloom = live.fold(built.getOrElse(BloomFilter.create(m.bloomExpected, m.bloomFpp))) {
        b => built.foreach(b.mergeInPlace); b
      }
      writeFile(bloomPath(m))(bloom.writeTo)
      rangeSorted(keys, "k", 4000000L).write.mode(mode).parquet(dedupKeysDir(v))
    }
    payloadRows.write.mode(mode).parquet(payloadDir(v))
    val distances = org.apache.spark.sql.Observation()
    def layout(df: DataFrame, observed: Boolean)(flat: DataFrame => DataFrame) = model match {
      case Some(ivf) =>
        val clustered = df.withColumn("cluster", ivf.assignCol(col("vec")))
        val d = ivf.distToCol(col("vec"), col("cluster"))
        val o = if (!observed) clustered
          else clustered.observe(distances, count(d).as("n"), sum(coalesce(d, lit(0.0))).as("s"))
        (if (full) o.sortWithinPartitions("cluster", "id") else o).write.partitionBy("cluster")
      case None => flat(df).write
    }
    chunks.foreach(layout(_, observed = false)(identity).mode(mode).parquet(chunksDir(v)))
    layout(rows, observed = true)(rangeSorted(_, "id", 250000L)).mode(mode)
      .parquet(essentialDir(v))
    if (full) model.foreach(ivf => writeModel(centroidsPath(v), Seq(ivf.centroids)))
    model.fold((0L, 0.0)) { _ =>
      val r = distances.get
      (r("n").asInstanceOf[Long], Option(r("s")).fold(0.0)(_.asInstanceOf[Double]))
    }
  }

  // ------------------------------------------------------------------
  // Search (reference Q1-Q10: vectorstore.py:602-684, index.py:309-338,
  // retriever.py:157-316)
  // ------------------------------------------------------------------

  private def hadoopPath(s: String) = new Path(s)

  /** A version's driver-written files: the Bloom filter and the model
    * files. */
  private def writeFile(p: String)(body: java.io.DataOutputStream => Unit): Unit = {
    val out = new java.io.DataOutputStream(fsFor(spark, p).create(hadoopPath(p), true))
    try body(out) finally out.close()
  }

  private def readFile[A](p: String)(body: java.io.DataInputStream => A): A = {
    val in = fsFor(spark, p).open(hadoopPath(p))
    try body(in) finally in.close()
  }

  /** Write a model file: the driver-held models' one format, a
    * sequence of matrices, each its row count and column count (ints)
    * and then its doubles row by row. The centroids file is the
    * centroid matrix; the PQ model file is the m codebooks, then the
    * OPQ rotation when there is one. */
  private def writeModel(p: String, matrices: Seq[IndexedSeq[IndexedSeq[Double]]]): Unit =
    writeFile(p) { out =>
      matrices.foreach { m =>
        out.writeInt(m.length)
        out.writeInt(m.headOption.fold(0)(_.length))
        m.foreach(_.foreach(out.writeDouble))
      }
    }

  /** The matrices of a [[writeModel]] file, in order. */
  private def readModel(p: String): Seq[IndexedSeq[IndexedSeq[Double]]] =
    Seq.unfold(java.nio.ByteBuffer.wrap(
        readFile(p)(org.apache.hadoop.io.IOUtils.readFullyToByteArray))) { b =>
      Option.when(b.hasRemaining) {
        val (rows, cols) = (b.getInt(), b.getInt())
        (IndexedSeq.fill(rows)(IndexedSeq.fill(cols)(b.getDouble())), b)
      }
    }

  private def loadBloom(): Option[BloomFilter] =
    if (manifest.bloomExpected == 0L) None
    else Some(readFile(bloomPath(manifest))(BloomFilter.readFrom))

  /** Count the `part-*` data files under `dir` (recursive — clustered
    * layouts nest them under partition dirs). One listing, no data IO. */
  private def countDataFiles(dir: String): Long = {
    val fs = fsFor(spark, dir)
    if (!fs.exists(hadoopPath(dir))) 0L
    else {
      var files = 0L
      val it = fs.listFiles(hadoopPath(dir), true)
      while (it.hasNext) {
        if (it.next().getPath.getName.startsWith("part-")) files += 1
      }
      files
    }
  }

  // ------------------------------------------------------------------
  // Lexical (BM25) index over the essential store — the keyword
  // complement to the vector index, persisted alongside the snapshot.
  // ------------------------------------------------------------------

  /** Build/refresh the persisted inverted index for the live snapshot
    * version (postings/df/stats under the version dir — see
    * TextSearch.writeIndex), under the mutation lock. A rebuild first
    * publishes the manifest without its `lexicalFor` entry, then writes
    * the index in place, then publishes `lexicalFor` = the store count.
    * Incremental appends after the build change the count and make the
    * index stale; stale or absent indexes are bypassed by the scan
    * path, so building is always safe and never required. */
  def buildLexicalIndex(numFiles: Int = 16): Unit = exclusive {
    if (manifest.count == 0) throw new IndexException("store is empty or not built")
    retract(manifest.copy(lexicalFor = None))
    TextSearch.writeIndex(essential.select(col("id"), col("text")),
      "id", "text", lexicalDir(manifest.version), numFiles)
    publish(manifest.copy(lexicalFor = Some(manifest.count)))
  }

  /** Build/refresh a product-quantization index for the live snapshot,
    * under the mutation lock: fit per-subspace codebooks (PqIndex.fit,
    * m·ksub k-means centroids) on a sample of the stored vectors and persist
    * codebooks + per-doc codes under the version dir — the store-level
    * FAISS IndexPQ artifact. Codes are `m` small ints per doc (vs `dim`
    * floats — 32× smaller at m=8/dim=64), so the ADC prescreen scans a
    * fraction of the bytes the exact scan reads. A rebuild first
    * publishes the manifest without its `pqFor` entry, then writes the
    * index in place, then publishes `pqFor` = the store count with
    * `pqRotated`, so a torn build reads as absent and searches fall
    * back to exact. Incremental appends change the count and make the
    * index stale; stale indexes are bypassed, so building is always
    * safe and never required.
    *
    * `rotate = true` builds the OPQ variant: a PCA rotation is fitted
    * first ([[PqIndex.fitRotation]] — parametric OPQ) and codebooks +
    * codes live in the ROTATED space, which balances per-subspace
    * variance and lifts prescreen recall at the same (m, ksub) budget
    * when corpus variance is concentrated (spec-measured in
    * PqIndexSpec). Search/tuning stay transparent: the persisted
    * rotation rotates only the QUERY for the ADC stage (driver-side,
    * O(d²) once per search); the exact rerank keeps original-space
    * vectors — rotations are orthonormal, so the ranks agree. */
  def buildPqIndex(m: Int = 8, ksub: Int = 16, seed: Long = 42L,
                   rotate: Boolean = false, fitFraction: Double = 1.0): Unit = exclusive {
    // The mutation lock holds ONE version for the whole build: the body
    // reads `essential` three to four times (rotation fit, PQ fit,
    // encode), and a concurrent mutation could otherwise yield a
    // rotation fitted on vN with codes encoded from vN+1.
    // `fitFraction` (FAISS-style sample training) reaches both fits: at
    // corpus scale a full-fraction rotation fit runs PCA over the
    // corpus — the sample knob is the documented scale posture and must
    // be reachable here; the codebook fit collects its capped sample.
    if (manifest.count == 0) throw new IndexException("store is empty or not built")
    if (embedder.dim % m != 0) throw new IndexException(s"dim ${embedder.dim} not divisible by m=$m")
    val rotOpt =
      if (rotate) Some(PqIndex.fitRotation(essential, "vec", m,
        fitFraction = fitFraction, seed = seed))
      else None
    val (model, encodeInput) = rotOpt match {
      case Some(rot) =>
        val rotated = essential.withColumn("__rvec", rot.rotateCol(col("vec")))
        (PqIndex.fit(rotated, "__rvec", m, ksub, seed,
          fitFraction = fitFraction), rotated)
      case None =>
        (PqIndex.fit(essential, "vec", m, ksub, seed,
          fitFraction = fitFraction), essential)
    }
    // A crash mid-rebuild would otherwise pair OLD codes with a NEW
    // model behind a live entry — silently garbage ADC ranks.
    retract(manifest.copy(pqFor = None, pqRotated = false))
    writeModel(pqModelPath(manifest.version), model.codebooks ++ rotOpt.map(_.rows))
    encodeInput.select(col("id"),
        model.encodeCol(
          col(if (rotate) "__rvec" else "vec"), roundScale = 4).as("codes"))
      .write.mode("overwrite").parquet(s"${pqDir(manifest.version)}/codes")
    publish(manifest.copy(pqFor = Some(manifest.count), pqRotated = rotate))
    // Opt-in measured-recall tuning: the PQ build ships with its
    // rerank-depth/recall curve (see tunePqCandidates).
    if (config.tuneTargetRecall > 0.0)
      tunePqCandidates(config.tuneTargetRecall)
    ()
  }

  // ------------------------------------------------------------------
  // Measured-recall ANN auto-tuning (round-8): recall is a measured
  // number, not a hope — completes the Eval story (ops/Eval.scala).
  // ------------------------------------------------------------------

  /** A tuning pass's query sample: (id, vector) pairs. */
  private type Sample = Array[(Long, Seq[Double])]

  /** Deterministic query sample for tuning: every row whose seeded id
    * hash lands on a stride, capped at `n` — stable across runs and
    * partitionings, spread over the id range. */
  private def tuningSample(n: Int, seed: Long): Sample = {
    val stride = math.max(1L, manifest.count / n)
    // Null vectors (null-text docs, which the store supports) can't be
    // queries; and the hash-stride filter can come back empty for tiny
    // n — fall back to the first n embeddable rows rather than NPE
    // inside a snapshot build.
    val base = essential.where(col("vec").isNotNull)
    val picked = base
      .where(pmod(abs(hash(col("id"), lit(seed.toInt))), lit(stride)) === 0)
      .select(col("id"), col("vec")).orderBy("id").limit(n)
      .collect()
    val rows =
      if (picked.nonEmpty) picked
      else base.select(col("id"), col("vec")).orderBy("id").limit(n).collect()
    if (rows.isEmpty) throw new IndexException(
      "tuning: store has no non-null vectors to sample")
    rows.map(r => (r.getLong(0), r.getSeq[Double](1)))
  }

  /** Exact top-k ids per sample query — ONE batched job (the ground
    * truth the approximate settings are scored against). */
  private def exactTopIds(sample: Sample, k: Int): DataFrame = {
    import spark.implicits._
    val queries = sample.toSeq.toDF("qid", "qv")
    VectorIndex.topKBatch(essential, "vec", queries, "qid", "qv", k,
        config.metric, scoreCol = "__s", tieBreak = Seq("id"), roundScale = 4)
      .select(col("qid"), col("id"))
  }

  /** The one skeleton of a tuning pass, run under the mutation lock on
    * a non-empty store: check the target; let `sweep` load its index
    * and name the settings it measures with a `measure` that gives each
    * setting's mean recall and mean cost fraction over a sample; draw
    * the seeded sample ([[tuningSample]]); round each point to 4 dp;
    * mark `chosen` the cheapest setting meeting `targetRecall` (the
    * largest if none does); and publish the curve with the pass's
    * params in one manifest commit. Returns the curve. */
  private def tuningPass(kind: String, targetRecall: Double, k: Int, sampleQueries: Int,
      seed: Long, asked: Seq[Int])(
      sweep: => (Seq[Int], Sample => Seq[(Double, Double)])): Seq[TuningPoint] =
    exclusive(reading {
      require(targetRecall > 0.0 && targetRecall <= 1.0,
        s"targetRecall out of (0,1]: $targetRecall")
      val (settings, measure) = sweep
      require(settings.nonEmpty, s"no usable $kind settings")
      def dp4(x: Double) = math.rint(x * 10000) / 10000.0
      val points = settings.zip(measure(tuningSample(sampleQueries, seed)))
        .map { case (s, (recall, frac)) => (s, dp4(recall), dp4(frac)) }
      val chosen = points.find(_._2 >= targetRecall).getOrElse(points.last)._1
      val curve = points.map { case (s, r, f) => TuningPoint(s, r, f, chosen = s == chosen) }
      publish(manifest.copy(curves = manifest.curves + (kind -> curve),
        tuned = manifest.tuned + (kind ->
          TuningParams(manifest.version, targetRecall, k, sampleQueries, seed, asked))))
      curve
    })

  /** Tune nprobe from a MEASURED recall target: sweep `candidates`
    * nprobe values over a seeded `sampleQueries`-query sample, score
    * each against the exact top-k ([[graft.ops.Eval.recallAtK]]), and
    * publish the (nprobe, mean recall, mean scanned-corpus fraction)
    * curve in the manifest with this pass's params, so the trade-off
    * travels with the store. Runs under the mutation lock. The cheapest
    * setting meeting `targetRecall` is marked `chosen` (the largest
    * candidate if none reaches it) and becomes [[effectiveNprobe]] —
    * every subsequent search on this snapshot uses it automatically.
    *
    * Cost: TWO batched scoring jobs total (exact ground truth, then
    * every (candidate, query) pair as one composite-id batch) plus a
    * cluster-size aggregate — sample-sized driver state only; adding
    * candidates widens the broadcast query side, it does not add jobs.
    * Runs automatically at IVF snapshot build when
    * `StoreConfig.tuneTargetRecall > 0`. */
  def tuneNprobe(targetRecall: Double = 0.95, k: Int = 10,
                 sampleQueries: Int = 20,
                 candidates: Seq[Int] = Seq(1, 2, 4, 8),
                 seed: Long = 42L): Seq[TuningPoint] =
    tuningPass("nprobe", targetRecall, k, sampleQueries, seed, candidates) {
      val model = loadCentroids().getOrElse(throw new IndexException(
        "tuneNprobe requires an IVF store (nlist > 0 and enough rows)"))
      val cands = candidates.filter(_ >= 1).map(math.min(_, model.nlist))
        .distinct.sorted
      (cands, { sample =>
        // Null-vec docs land under the null cluster partition — they are
        // unreachable by any probe, so they don't belong in the scan cost.
        val clusterSizes = essential.groupBy("cluster").count().collect()
          .filter(!_.isNullAt(0)).map(r => r.getInt(0) -> r.getLong(1)).toMap
        // Denominator = REACHABLE rows (sum of non-null cluster sizes), not
        // the store count: null-vec docs are excluded from the numerator's
        // probe sums, and counting them below would make costFraction
        // understate the scan and never reach 1.0 even when every cluster
        // is probed.
        val total = math.max(clusterSizes.values.sum, 1L).toDouble
        import spark.implicits._
        // The WHOLE sweep is ONE batched scoring job: every (candidate
        // nprobe, sample query) pair becomes a composite query id with its
        // own probe set, so the cost is |settings|·|sample| broadcast query
        // rows against one corpus scan — not one job per setting (at a
        // handful of fixed-overhead jobs each, the job count, not the
        // work, dominated the sweep).
        def cqid(np: Int, qid: Long): Long = (np.toLong << 40) | qid
        require(sample.forall(_._1 < (1L << 40)),
          "tuning sample id exceeds the composite-id range (2^40)")
        val exactRows = exactTopIds(sample, k).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val exact2 = cands.flatMap(np =>
          exactRows.map { case (q, id) => (cqid(np, q), id) }).toDF("qid", "id")
        val probedAll = cands.flatMap { np =>
          sample.map { case (qid, qv) =>
            (cqid(np, qid), qv, model.nearestCentroids(qv, np))
          }
        }
        val approx = VectorIndex.topKBatch(essential, "vec",
            probedAll.toDF("qid", "qv", "__probes"),
            "qid", "qv", k, config.metric, scoreCol = "__s",
            tieBreak = Seq("id"), roundScale = 4,
            keep = Some(expr("array_contains(__probes, cluster)")))
          .select(col("qid"), col("id"))
        val perQuery = graft.ops.Eval.recallAtK(exact2, approx, "qid", "id")
          .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
        cands.map { np =>
          val recalls = sample.map { case (qid, _) =>
            perQuery.getOrElse(cqid(np, qid), 0.0) }
          val frac = sample.map { case (qid, qv) =>
            model.nearestCentroids(qv, np)
              .map(p => clusterSizes.getOrElse(p, 0L)).sum / total
          }.sum / sample.length
          (recalls.sum / recalls.length, frac)
        }
      })
    }

  /** Tune the PQ rerank depth the same way: for each depth d =
    * factor·k, approx top-k = exact rerank of the d best ADC
    * candidates; the curve (depth, mean recall, rerank fraction d/N)
    * is published in the manifest like nprobe's. The scan side is the
    * persisted codes table; per query the top max-depth ADC candidates (with
    * their exact vectors) come back to the driver ONCE, so the depth
    * sweep is driver arithmetic — |sample| bounded jobs total. The
    * chosen depth is recorded in the curve AND adopted: a
    * [[similaritySearchPq]] call that doesn't pass `candidates` uses it
    * via [[effectivePqCandidates]], symmetric with [[effectiveNprobe]].
    * Requires [[buildPqIndex]] for the current snapshot. */
  def tunePqCandidates(targetRecall: Double = 0.95, k: Int = 10,
                       sampleQueries: Int = 20,
                       depthFactors: Seq[Int] = Seq(2, 4, 8),
                       seed: Long = 42L): Seq[TuningPoint] =
    tuningPass("pq", targetRecall, k, sampleQueries, seed, depthFactors) {
      val prescreen = pqPrescreen().getOrElse(throw new IndexException(
        "tunePqCandidates requires a fresh buildPqIndex for this snapshot"))
      val depths = depthFactors.filter(_ >= 1).map(f =>
        math.min(f.toLong * k, manifest.count).toInt).distinct.sorted
      (depths, { sample =>
        val exactIds = exactTopIds(sample, k).collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val higherBetter = config.metric != "l2"
        // One job per sample query: top max-depth ADC candidates joined to
        // their exact vectors (depth-bounded collect). The recall ground
        // truth (exactTopIds) and the rerank scores below stay
        // original-space, as in search.
        val perQuery = sample.map { case (qid, qv) =>
          val top = prescreen(qv, depths.max)
            .join(essential.select(col("id"), col("vec")), Seq("id"))
            .where(col("vec").isNotNull)
            .select(col("id"), col("adc"), col("vec")).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
            .sortBy(t => (t._2, t._1))
          (qid, qv, top)
        }
        def scoreOf(a: Seq[Double], b: Seq[Double]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var l2 = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
            val d = a(i) - b(i); l2 += d * d; i += 1
          }
          val raw = config.metric match {
            case "cosine" => dot / math.sqrt(na * nb)
            case "ip"     => dot
            case _        => math.sqrt(l2)
          }
          // A zero-norm vector under cosine gives NaN (BigDecimal(NaN)
          // would throw); rank it strictly worst, mirroring the engine's
          // usable() gate that drops unusable scores from results.
          if (raw.isNaN) { if (higherBetter) Double.NegativeInfinity else Double.PositiveInfinity }
          else BigDecimal(raw).setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        depths.map { d =>
          val recalls = perQuery.map { case (qid, qv, top) =>
            val rerank = top.take(d)
              .map { case (id, _, v) => (id, scoreOf(qv, v)) }
              .sortBy { case (id, s) => (if (higherBetter) -s else s, id) }
              .take(k).map(_._1).toSet
            val truth = exactIds.getOrElse(qid, Set.empty)
            if (truth.isEmpty) 1.0 else rerank.intersect(truth).size.toDouble / truth.size
          }
          (recalls.sum / recalls.length, d / manifest.count.toDouble)
        }
      })
    }

  /** The tuning curve of the current snapshot (`"nprobe"` or `"pq"`),
    * if a tuning pass has published one for it. */
  def tuningCurve(kind: String): Option[Seq[TuningPoint]] = snap.curves.get(kind)

  // ------------------------------------------------------------------
  // Tuning lifecycle across mutations (round-10): a curve belongs to the
  // version it was measured on (a new version has none), but the PARAMS
  // of the last tuning pass of each kind travel with every manifest
  // commit. That is what lets compact() replay the measurement on the
  // fresh layout, and what lets tuningStale REPORT (instead of silently
  // reverting to static defaults) on snapshots whose curve a mutation
  // dropped.
  // ------------------------------------------------------------------

  /** Forget the recorded last-tuning params for `"nprobe"` or `"pq"`
    * — the opt-out for a store that deliberately abandoned a tuned
    * index (otherwise [[tuningStale]] keeps reporting it). */
  def clearTuningHistory(kind: String): Unit = exclusive {
    if (manifest.tuned.contains(kind)) publish(manifest.copy(tuned = manifest.tuned - kind))
  }

  /** Reason-coded tuning staleness — the mutation-side complement of
    * the adoption rule: a tuned nprobe/PQ depth applies only to the
    * snapshot it was measured on, so any mutation silently drops
    * searches back to the static defaults. Each entry names a kind
    * whose LAST tuning pass (params recorded in the manifest) predates
    * the current snapshot and whose current snapshot has no curve:
    * `nprobe(tuned_at=v3, current=v5)`. Fixes: [[compact]] re-tunes
    * nprobe automatically from the recorded params; PQ needs
    * [[buildPqIndex]] + [[tunePqCandidates]] (the index itself is
    * per-snapshot — auto-rebuilding it would silently re-add its full
    * encode cost to every compact, so it stays explicit);
    * [[clearTuningHistory]] opts out. Empty = nothing stale. Flat
    * (non-IVF) snapshots skip the nprobe entry — no probe pruning to
    * tune. Reads the pinned manifest only. */
  def tuningStale: Seq[String] = {
    val m = snap
    Seq("nprobe", "pq").flatMap { kind =>
      m.tuned.get(kind).collect {
        case h if h.version < m.version && (kind != "nprobe" || m.nlist > 0) &&
            !m.curves.contains(kind) =>
          s"$kind(tuned_at=v${h.version}, current=v${m.version})"
      }
    }
  }

  /** The setting a tuning pass on this snapshot chose for `kind`. */
  private def tunedSetting(kind: String): Option[Int] =
    snap.curves.get(kind).flatMap(_.find(_.chosen)).map(_.setting)

  /** The nprobe searches actually use: the measured-recall choice when
    * a tuning pass has run on this snapshot, else the static config. */
  def effectiveNprobe: Int = tunedSetting("nprobe").getOrElse(config.nprobe)

  /** The PQ rerank depth a no-argument [[similaritySearchPq]] uses:
    * the measured-recall choice when [[tunePqCandidates]] has run on
    * this snapshot, else the static default (100) — the adoption twin
    * of [[effectiveNprobe]], so both tuned knobs apply symmetrically. */
  def effectivePqCandidates: Int = tunedSetting("pq").getOrElse(DefaultPqCandidates)

  // ------------------------------------------------------------------
  // Centroid-staleness gate (round-8): incremental appends assign new
  // rows to FROZEN centroids, so the partition layout drifts as the
  // data does. The gate compares appended rows' mean assignment
  // distance to the fit-time baseline — both kept in the manifest.
  // ------------------------------------------------------------------

  /** Appended-rows drift: mean assignment distance of rows added by
    * [[addDFIncremental]] since the last snapshot fit, as a RATIO to
    * the fit-time baseline. None when nothing was appended (or the
    * store is flat). ~1.0 = appends look like the fitted data; growing
    * ratio = the frozen centroids no longer describe what is being
    * ingested. */
  def centroidDriftRatio: Option[Double] = {
    val m = snap
    if (m.nlist == 0 || m.ivfAppendedN == 0L) None
    else {
      val appendedMean = m.ivfAppendedSum / m.ivfAppendedN
      Some(
        if (m.ivfBaselineMean > 0.0) appendedMean / m.ivfBaselineMean
        else if (appendedMean > 0.0) Double.PositiveInfinity
        else 1.0)
    }
  }

  /** The staleness gate: true when incremental ingest has drifted past
    * `driftThreshold` × the fit baseline — time to [[compact]] (which
    * re-fits the centroids on ALL current rows, resetting both the
    * baseline and the appended ledger, so the flag clears itself). */
  def needsCompaction(driftThreshold: Double = 1.25): Boolean = {
    require(driftThreshold > 0.0, "driftThreshold must be positive")
    centroidDriftRatio.exists(_ > driftThreshold)
  }

  /** Reason-coded compaction advisory — the operational superset of
    * [[needsCompaction]] (which gates on centroid drift alone).
    * Incremental appends degrade a snapshot in three independent ways;
    * each returned string names one detected condition:
    *  - `centroid-drift(ratio=r)` — appended rows' mean assignment
    *    distance vs the fit-time baseline exceeds `driftThreshold`
    *    (recall of nprobe-pruned searches erodes);
    *  - `small-files(files=n, baseline=b)` — the essential layout
    *    holds more than max(2×, +8) the data files the snapshot write
    *    itself produced (recorded in the manifest at write time);
    *    every append lands new unsorted files, and scan task count +
    *    footer overhead grow with them;
    *  - `bloom-capacity(count=n, sized_for=m)` — the live count
    *    exceeds `bloomSlack` × the dedup Bloom's creation capacity, so
    *    its fpp has degraded past the design point and ingest batches
    *    pay more confirm anti-join traffic;
    *  - `tuning-stale(kind(tuned_at=vK, current=vN))` — a measured
    *    nprobe/PQ tuning choice was dropped by a mutation and searches
    *    silently run at static defaults (see [[tuningStale]]).
    * Empty = nothing to recommend. [[compact]] resolves the first
    * three (re-fit + re-layout + Bloom rebuild at the current count)
    * and the nprobe half of the fourth (it replays the recorded
    * tuning); a stale PQ curve needs [[buildPqIndex]] +
    * [[tunePqCandidates]]. Cost: ONE recursive directory listing;
    * every other figure (drift, layout baseline, Bloom capacity, tuning
    * state) comes from the pinned manifest — no data scan, safe to poll
    * after every append. */
  def recommendCompaction(driftThreshold: Double = 1.25,
                          bloomSlack: Double = 2.0): Seq[String] = withSnapshot {
    require(driftThreshold > 0.0, "driftThreshold must be positive")
    require(bloomSlack >= 1.0, "bloomSlack must be >= 1.0")
    val reasons = scala.collection.mutable.ArrayBuffer.empty[String]
    centroidDriftRatio.filter(_ > driftThreshold).foreach { r =>
      reasons += f"centroid-drift(ratio=$r%.3f)"
    }
    val files = countDataFiles(essentialDir(snap.version))
    // Baseline = the file count the snapshot write itself produced. The
    // absolute +8 slack keeps tiny stores from flagging after a couple
    // of appends.
    val baseline = snap.layoutFiles
    if (files > math.max(2L * baseline, baseline + 8L))
      reasons += s"small-files(files=$files, baseline=$baseline)"
    val sizedFor = snap.bloomExpected
    if (sizedFor > 0L && snap.count > bloomSlack * sizedFor)
      reasons += s"bloom-capacity(count=${snap.count}, sized_for=$sizedFor)"
    reasons ++= tuningStale.map(s => s"tuning-stale($s)")
    reasons.toSeq
  }

  // ------------------------------------------------------------------
  // The one read path (reference: rank, then enrich hits by id —
  // index.py:309-338, vectorstore.py:602-684, :782-813). Every read
  // surface runs under [[reading]]; a vector search takes its probe set
  // from [[probeSet]]; a ranking ends in [[topHits]] (exact top-k on
  // the executors) or, when the ranked k rows come to the driver, in
  // [[attachEssential]]; every hit leaves through [[hits]], and full
  // metadata through [[enhanceWithFullMetadata]]. A change to what a
  // result row carries is a change here.
  // ------------------------------------------------------------------

  /** Run a read on ONE pinned snapshot ([[withSnapshot]]), refusing an
    * empty store: the one empty-store error of every read surface (an
    * empty store has no version dir to derive even an empty frame's
    * schema from). */
  private def reading[A](body: => A): A = withSnapshot {
    if (snap.count == 0) throw new SearchException("store is empty or not built")
    body
  }

  // Centroids are persisted per snapshot version, so the in-memory copy
  // is memoized under (path, version): search-many reads the file once
  // per snapshot instead of once per query, and a mutation (version
  // bump) gets fresh centroids with NO manual invalidation — the
  // versioned key IS the invalidation.
  private def loadCentroids(): Option[IvfIndex.Model] =
    if (snap.nlist > 0) {
      Some(IvfIndex.modelCached(s"$path#centroids", snap.version)(
        IvfIndex.Model(readModel(centroidsPath(snap.version)).head)))
    } else None

  /** The probe set of a query vector: its [[effectiveNprobe]] nearest
    * clusters on an IVF snapshot (the measured-recall tuning choice
    * when a tuning pass has run on it), None on a flat one. Batch and
    * single-query search both take it from here, so they prune alike. */
  private def probeSet(qv: Seq[Double]): Option[Seq[Int]] =
    loadCentroids().map(_.nearestCentroids(qv, effectiveNprobe))

  /** `table` (essential or chunks) cut to the clusters `probes` names —
    * a `cluster IN (...)` filter that becomes partition pruning; the
    * whole table when there is no probe set. */
  private def probed(table: DataFrame, probes: Option[Seq[Int]]): DataFrame =
    probes.fold(table)(p => table.where(col("cluster").isin(p: _*)))

  /** Search-space DataFrame for a query vector: IVF-pruned when
    * clustered, full scan otherwise. */
  private def searchSpace(qv: Seq[Double]): DataFrame = probed(essential, probeSet(qv))

  /** The one hit projection: `lead` (doc_id, renamed from `id`, plus
    * the batch's query and rank or MMR's rank), text, source, category,
    * the `score` column, any `extras`, and `metadata_type` =
    * "essential" (Q3). */
  private def hits(df: DataFrame, score: Column, extras: Seq[Column] = Nil,
                   lead: Seq[Column] = Seq(col("id").as("doc_id"))): DataFrame =
    df.select(lead ++ Seq(col("text"), col("source"), col("category"), score) ++ extras :+
      lit("essential").as("metadata_type"): _*)

  /** Exact top-k of `space` against `qv` as hits scored `similarity`:
    * the ranking of [[similaritySearch]] and the exact rerank both
    * prescreens ([[similaritySearchPq]], [[similaritySearchApprox]])
    * end in. */
  private def topHits(space: DataFrame, qv: Seq[Double], k: Int): DataFrame =
    hits(VectorIndex.topK(space, "vec", qv, k, config.metric,
      scoreCol = "similarity", tieBreak = Seq("id")), col("similarity"))

  /** Shared k-row enrichment of a ranking that ends on the driver:
    * `ranked` (an `id` column and its scores, k rows) is collected and
    * re-served as a local frame, (text, source, category) attached from
    * the essential store, the rows put in `order` and projected as
    * [[hits]]. The id set pushes into the essential scan as an `isin`
    * filter (parquet pruning reads only the matching row groups) and
    * the k-row result is the broadcast build side. INNER join on
    * purpose: a hit id with no essential row can only be a crash-orphan
    * (e.g. chunk rows whose batch never published — see
    * addDFIncremental), and surfacing it as a null-text result would be
    * worse than one short-of-k response in a crash window. */
  private def attachEssential(ranked: DataFrame, order: Seq[Column], score: Column,
                              extras: Seq[Column] = Nil,
                              lead: Seq[Column] = Seq(col("id").as("doc_id"))): DataFrame = {
    val rows = ranked.collect()
    // Its columns are ids, ranks and scores: none is ever null.
    val local = spark.createDataFrame(rows.toSeq.asJava,
      StructType(ranked.schema.map(_.copy(nullable = false))))
    val matching = essential
      .where(col("id").isin(rows.map(_.getAs[Long]("id")).toSeq: _*))
      .select(col("id"), col("text"), col("source"), col("category"))
    hits(local.join(broadcast(matching), Seq("id"), "inner").orderBy(order: _*),
      score, extras, lead)
  }

  /** Full-metadata enrichment (reference Q6,
    * vectorstore.py:782-813). Scale shape: the hit ids (k rows) are
    * collected driver-side — exactly the reference's positional lookups
    * — and pushed into the payload scan as an `isin` filter (parquet
    * predicate pushdown), so only the k matching payload rows are read;
    * those are then the BUILD side of the broadcast join. (Broadcasting
    * the hits themselves would be ignored: Spark cannot build the
    * stream-preserved left side of a LEFT OUTER join.) */
  private def enhanceWithFullMetadata(hits: DataFrame): DataFrame = {
    // Materialize the k hit rows: an orderBy.limit subquery left under a
    // join is fragile (downstream limit pushdown can compose with it and
    // surface rows outside the top-k — see SparkEntry.qEnrichmentJoin).
    val hitRows = hits.drop("metadata_type").collect()
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(hitRows.toIndexedSeq, 1),
      hits.drop("metadata_type").schema)
    val ids = hitRows.map(_.getAs[Long]("doc_id")).toIndexedSeq
    val matching = payload
      .where(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("metadata"))
    local.join(broadcast(matching), Seq("doc_id"), "left")
      .withColumn("metadata_type",
        when(col("metadata").isNotNull, lit("full")).otherwise(lit("essential")))
  }

  /** The ADC prescreen of the pinned snapshot's PQ index, when the
    * manifest lists it as live (`pqFor` = the current count; None =
    * absent or stale): for a query vector and a depth, the `depth` codes
    * rows (id, adc) first in (ADC distance, id) order. The model file
    * holds the codebooks and, when `pqRotated`, the OPQ rotation, which
    * rotates the QUERY for the ADC against the rotated-space codes;
    * exact reranks stay in the original space (the rotation is
    * orthonormal, so ranks agree). A null ADC is a null-codes
    * (null-vec) doc: never a result, and ASC NULLS FIRST would let such
    * rows consume the whole candidate budget, so they are filtered. */
  private def pqPrescreen(): Option[(Seq[Double], Int) => DataFrame] = {
    val m = snap
    if (!m.pqFor.contains(m.count)) None
    else {
      // Read on every call, not cached under (path, version): a PQ
      // rebuild keeps the version.
      val matrices = readModel(pqModelPath(m.version))
      val (books, rot) =
        if (m.pqRotated) (matrices.init, Some(PqIndex.MatrixRotation(matrices.last)))
        else (matrices, None)
      val model = PqIndex.Model(books.toIndexedSeq)
      val codes = spark.read.schema(PqCodesSchema).parquet(s"${pqDir(m.version)}/codes")
      Some((qv, depth) => codes
        .withColumn("adc", model.adcMicrosCol(col("codes"),
          rot.fold(qv)(_.applyVec(qv).toSeq), roundScale = 4))
        .where(col("adc").isNotNull)
        .orderBy(col("adc"), col("id"))
        .limit(depth))
    }
  }

  /** Approximate top-k served from the persisted PQ index: the ADC
    * prescreen ranks the CODES table (m integer lookups per row, no
    * float math, 32× fewer bytes than the vector scan), the surviving
    * `candidates` ids fetch their exact vectors via the id-sorted
    * layout's min/max pruning, and the exact metric reranks to k —
    * recall < 1 by construction, `candidates` is the knob. Absent or
    * stale index falls back to exact [[similaritySearch]] (same output
    * shape, so callers can't break on staleness).
    *
    * `candidates <= 0` (the default) means AUTO: use the measured
    * rerank depth [[tunePqCandidates]] chose for this snapshot when its
    * curve is fresh, else the static default — the same adoption rule
    * as [[effectiveNprobe]]. An explicit positive value always wins.
    * Either way the depth is clamped to ≥ k: a tuned depth was measured
    * at the TUNING-time k (default 10), so a later search with a larger
    * k must not be starved below k candidates — and its measured recall
    * does not transfer to that larger k (the exact rerank still makes
    * the returned k best-of-depth). */
  def similaritySearchPq(query: String, k: Int = 4,
                         candidates: Int = 0): DataFrame = reading {
    val depth = math.max(k,
      if (candidates > 0) candidates else effectivePqCandidates)
    pqPrescreen() match {
      case None => similaritySearch(query, k)
      case Some(prescreen) =>
        val qv = embedder.embedQuery(query).toSeq
        val candIds = prescreen(qv, depth).select("id").collect().map(_.getLong(0))
        topHits(essential.where(col("id").isin(candIds: _*)), qv, k)
    }
  }

  /** BM25 score set for the query terms: served from the persisted
    * index when the pinned manifest lists it as live for the current
    * document count (`lexicalFor`; incremental appends since the build
    * change the count and force the scan path), from a scan otherwise.
    * Index-backed and scan-time scores are bit-identical, so callers
    * cannot observe which path ran. */
  private def lexicalScores(queryTerms: Seq[String]): DataFrame = {
    val m = snap
    if (m.lexicalFor.contains(m.count))
      TextSearch.indexScores(spark, lexicalDir(m.version), queryTerms, idType = LongType)
    else TextSearch.bm25Scores(essential.select(col("id"), col("text")),
      "id", "text", queryTerms)
  }

  /** Diversified top-k (maximal marginal relevance) — the
    * `max_marginal_relevance_search` of the LangChain VectorStore
    * surface: fetch `fetchK` candidates from the (IVF-prunable) search
    * space, then greedily trade relevance against redundancy with
    * weight `lambdaParam`. Returns the essential projection with the
    * MMR rank and the query similarity. */
  def maxMarginalRelevanceSearch(query: String, k: Int = 4,
                                 fetchK: Int = 20,
                                 lambdaParam: Double = 0.5): DataFrame = reading {
    val qv = embedder.embedQuery(query).toSeq
    attachEssential(VectorIndex.mmr(searchSpace(qv), "vec", qv, k, fetchK,
        lambdaParam, config.metric, idCol = "id"),
      Seq(col("rank")), col("qsim").as("similarity"),
      lead = Seq(col("id").as("doc_id"), col("rank")))
  }

  /** Keyword top-k over the store (BM25), the lexical sibling of
    * [[similaritySearch]]: returns (doc_id, text, source, category,
    * score, metadata_type). Uses the persisted index when fresh. */
  def searchLexical(queryTerms: Seq[String], k: Int = 4): DataFrame = reading {
    val byScore = Seq(col("score").desc, col("id"))
    attachEssential(lexicalScores(queryTerms).orderBy(byScore: _*).limit(k),
      byScore, col("score"))
  }

  /** Late-interaction (ColBERT-style max-sim) top-k over the persisted
    * chunk table: a document scores as its BEST chunk against the
    * query, so long documents whose relevant passage is buried are
    * found where single-vector pooling dilutes them. Multi-vector mode
    * only (StoreConfig.chunkSize > 0).
    *
    * Composition mirrors [[hybridSearch]]'s building blocks: the
    * IVF-prunable chunk space (the query's probe set of the DOC-level
    * coarse quantizer → partition pruning on the chunk table) →
    * [[graft.index.VectorIndex.maxSimTopK]] (per-doc best-chunk partial
    * aggregate + TakeOrdered, no window, no join) → k-row essential
    * enrichment ([[attachEssential]]). Returns (doc_id, text, source,
    * category, similarity, n_chunks, metadata_type); `n_chunks` is the
    * doc's chunk count in the scored space. */
  def searchMaxSim(query: String, k: Int = 4,
                   includeFullMetadata: Boolean = false): DataFrame = reading {
    if (snap.chunkSize <= 0) throw new SearchException(
      "store is not multi-vector: build with StoreConfig.chunkSize > 0")
    val qv = embedder.embedQuery(query).toSeq
    val space = probed(spark.read.schema(ChunkSchema).parquet(chunksDir(snap.version)),
      probeSet(qv))
    val enriched = attachEssential(
      VectorIndex.maxSimTopK(space, "id", "vec", qv, k, config.metric)
        .withColumnRenamed("score", "similarity"),
      VectorIndex.ranking(config.metric, "similarity", Seq("id")),
      col("similarity"), extras = Seq(col("n_chunks")))
    if (includeFullMetadata) enhanceWithFullMetadata(enriched) else enriched
  }

  /** Top-k semantic search (reference Q1/Q4). Returns a DataFrame of
    * (doc_id, text, source, category, similarity, metadata_type
    * [, metadata]); `similarity` follows the reference's raw-score
    * semantics (higher=better for cosine/ip, distance for l2). */
  def similaritySearch(query: String, k: Int = 4,
                       includeFullMetadata: Boolean = false,
                       filter: Option[org.apache.spark.sql.Column] = None): DataFrame = reading {
    val qv = embedder.embedQuery(query).toSeq
    // Metadata-filtered ANN (the `filter` arg of the LangChain
    // similarity_search surface): the predicate lands on the scored
    // scan BEFORE top-k selection — pre-filtering, so the result is
    // exactly "top-k among matching docs", never k minus casualties —
    // and pushes into the parquet read where the columns allow.
    val hits = topHits(filter.foldLeft(searchSpace(qv))((df, f) => df.where(f)), qv, k)
    if (includeFullMetadata) enhanceWithFullMetadata(hits) else hits
  }

  /** Q2 (vectorstore.py:659-684): hits as typed (SearchHit, score)
    * pairs — the score IS the similarity column, single source of
    * truth. */
  def similaritySearchWithScore(query: String, k: Int = 4): Seq[(SearchHit, Double)] =
    similaritySearch(query, k).collect().toSeq
      .map(rowToHit).map(h => (h, h.similarity))

  /** Radius variant of [[similaritySearch]]: every document within the
    * similarity threshold (>= for cosine/ip, distance <= for l2) —
    * result size is data-dependent; pure scan + filter over the
    * (IVF-pruned) search space, no sort or limit. */
  def similaritySearchRadius(query: String, threshold: Double,
                             includeFullMetadata: Boolean = false): DataFrame = reading {
    val qv = embedder.embedQuery(query).toSeq
    val found = hits(VectorIndex.radiusSearch(searchSpace(qv), "vec", qv, threshold,
      config.metric, scoreCol = "similarity"), col("similarity"))
    if (includeFullMetadata) enhanceWithFullMetadata(found) else found
  }

  /** Approximate top-k via a binary sign-bit prescreen: 63-bit codes
    * derived on the (IVF-pruned) scan collapse each vector to one long
    * — a 64× cheaper compare — Hamming-nearest `candidates` survive,
    * and the exact metric reranks them to k. Recall < 1 by
    * construction; raise `candidates` to trade scan cost for recall.
    * Sign codes approximate ANGLE, so this serves cosine/ip; for l2
    * it falls back to exact [[similaritySearch]]. Composable with IVF:
    * the prescreen runs over the nprobe-pruned search space. */
  def similaritySearchApprox(query: String, k: Int = 4,
                             candidates: Int = 100): DataFrame = reading {
    if (!VectorFunctions.higherIsBetter(config.metric))
      similaritySearch(query, k)
    else {
      val qv = embedder.embedQuery(query).toSeq
      val qbits = qv.take(63).zipWithIndex.foldLeft(0L) {
        case (acc, (x, j)) => if (x > 0.0) acc | (1L << j) else acc
      }
      val cand = searchSpace(qv)
        .withColumn("hamming", VectorFunctions.hammingDistance(
          VectorFunctions.binarySign63(col("vec")), lit(qbits)).cast("int"))
        // null hamming = null-vec doc: never a result, and ASC NULLS
        // FIRST would let such rows starve the candidate budget.
        .where(col("hamming").isNotNull)
        .orderBy(col("hamming"), col("id"))
        .limit(candidates)
      topHits(cand, qv, k)
    }
  }

  /** Predicate delete — the Spark-natural generalization of the
    * reference's by-id/by-text deletes: remove every document whose
    * ESSENTIAL row matches `condition` (e.g. `col("category") ===
    * "spam"`), with the same copy-on-write snapshot + dense id
    * recompaction semantics as [[deleteByIds]]. Fully distributed: the
    * matching id set flows through a semijoin, never the driver (a
    * broad predicate can match hundreds of millions of rows). Returns
    * the number of documents removed. */
  def deleteWhere(condition: org.apache.spark.sql.Column): Long = exclusive {
    if (manifest.count == 0) throw new IndexException("store is empty or not built")
    val doomedIds = essential.where(condition).select("id")
    val removed = doomedIds.count()
    if (removed > 0) rewrite(doomed = Some(doomedIds))
    removed
  }

  /** All queries in ONE distributed job (replaces the reference's
    * sequential Retriever.batch loop, retriever.py:110-155). Output adds
    * (query, rank).
    *
    * On an IVF store the batch prunes like single search: the scan is
    * filtered to the UNION of every query's nprobe clusters (partition
    * pruning — files outside any query's probes are never read), and a
    * per-(doc, query) probe-membership predicate restricts each query's
    * ranking to ITS clusters, so batch and single-query results agree
    * exactly. */
  def similaritySearchBatch(queries: Seq[String], k: Int = 4): DataFrame = reading {
    import spark.implicits._
    // Distinct queries: a duplicated query string would score every doc
    // once per copy and interleave duplicate rows inside its own top-k.
    val embedded = queries.distinct.map { q =>
      val qv = embedder.embedQuery(q).toSeq
      (q, qv, probeSet(qv))
    }
    val (docs, qdf, keep) =
      if (snap.nlist > 0)
        (probed(essential, Some(embedded.flatMap(_._3.get).distinct)),
          embedded.map { case (q, qv, p) => (q, qv, p.get) }.toDF("query", "qv", "probes"),
          Some(array_contains(col("probes"), col("cluster"))))
      else (essential, embedded.map { case (q, qv, _) => (q, qv) }.toDF("query", "qv"), None)
    hits(VectorIndex.topKBatch(docs, "vec", qdf, "query", "qv", k,
        config.metric, scoreCol = "similarity", tieBreak = Seq("id"), keep = keep),
      col("similarity"), lead = Seq(col("query"), col("rank"), col("id").as("doc_id")))
  }

  /** Hybrid retrieval over the store: BM25 keyword relevance on the
    * essential text fused with dense vector search by reciprocal-rank
    * fusion (TextSearch.hybridRrf) — the lexical+semantic combination
    * production RAG stacks run. For l2 the vector score is negated
    * before fusion so "higher = better" holds for the rank; the rrf
    * column is the fused score. The k fused ids are materialized
    * driver-side and pushed into the essential scan as an isin filter
    * (same scale shape as full-metadata enrichment: predicate pushdown
    * reads only k rows, which become the broadcast build side). */
  def hybridSearch(query: String, queryTerms: Seq[String], k: Int = 4,
                   perSourceK: Int = 50, rrfK: Int = 60): DataFrame = reading {
    val qv = embedder.embedQuery(query).toSeq
    val vecScores = VectorIndex.topK(searchSpace(qv), "vec", qv,
        perSourceK, config.metric, scoreCol = "score", tieBreak = Seq("id"))
      .select(col("id"), col("score"))
    val vecForFuse =
      if (VectorFunctions.higherIsBetter(config.metric)) vecScores
      else vecScores.withColumn("score", -col("score"))
    val fused = TextSearch.hybridRrf(lexicalScores(queryTerms), vecForFuse, "id",
        perSourceK, rrfK, k)
      .toDF("id", "rank_keyword", "rank_vector", "rrf")
    attachEssential(fused, Seq(col("rrf").desc, col("id")), col("rrf"),
      extras = Seq(col("rank_keyword"), col("rank_vector")))
  }

  /** Point lookup by id (reference Q7, retriever.py:258-316). */
  def getDocumentById(id: Long, includeFullMetadata: Boolean = false): Option[SearchHit] = {
    // An empty store has no v-dir to read: the point lookup answers
    // "not found" (None) instead of leaking a path-not-found error.
    if (currentManifest.count == 0) return None
    val df = getDocumentsByIds(Seq(id), includeFullMetadata)
    df.collect().headOption.map(rowToHit)
  }

  /** Set lookup — one semijoin job, not a loop (reference Q8 loops Q7,
    * retriever.py:372-394). Empty store: the typed SearchException of
    * every DataFrame-returning read ([[reading]]). */
  def getDocumentsByIds(ids: Seq[Long], includeFullMetadata: Boolean = false): DataFrame = reading {
    val base = hits(essential.where(col("id").isin(ids: _*)), lit(0.0).as("similarity"))
    if (includeFullMetadata) enhanceWithFullMetadata(base) else base
  }

  private def rowToHit(r: Row): SearchHit = SearchHit(
    r.getAs[Long]("doc_id"), r.getAs[String]("text"),
    Option(r.getAs[String]("source")), Option(r.getAs[String]("category")),
    r.getAs[Double]("similarity"), r.getAs[String]("metadata_type"))

  // ------------------------------------------------------------------
  // Delete (reference D1-D7: vectorstore.py:290-412, index.py:347-440)
  // ------------------------------------------------------------------

  /** Delete by ids; returns false on empty input, throws on invalid ids
    * (reference delete matrix, tests/test_index.py:162-261). Ids are
    * recompacted to 0..n-1 afterwards (index.py:433-435). Deleting the
    * last document removes the store (vectorstore.py:482-490). */
  def deleteByIds(ids: Seq[Long]): Boolean = exclusive {
    if (ids.isEmpty) return false
    if (manifest.count == 0) throw new IndexException("store is empty or not built")
    val bad = ids.filter(i => i < 0 || i >= manifest.count)
    if (bad.nonEmpty) throw new IndexException(s"invalid ids: ${bad.mkString(",")} (count=${manifest.count})")
    import spark.implicits._
    rewrite(doomed = Some(broadcast(ids.toDF("id"))))
    true
  }

  /** Delete by texts — only the FIRST (lowest-id) occurrence per text is
    * deleted, reference semantics (index.py:389-393). */
  def deleteByTexts(texts: Seq[String]): Boolean = exclusive {
    // The whole resolve-then-delete runs under the (re-entrant)
    // mutation lock: ids are POSITIONAL and densely recompacted by
    // every mutation, so resolving them outside the lock opens a
    // TOCTOU window in which a concurrent delete re-numbers the store
    // and the inner deleteByIds removes the WRONG documents.
    if (texts.isEmpty) return false
    if (manifest.count == 0) throw new IndexException("store is empty or not built")
    val firstIds = firstOccurrences(texts)
    firstIds.nonEmpty && deleteByIds(firstIds)
  }

  /** The lowest id of each of `texts` present in the store — the rows
    * [[deleteByTexts]] deletes and [[upsertTexts]] replaces. The matches
    * are copies of `texts`, so they are collected and reduced here. */
  private def firstOccurrences(texts: Seq[String]): Seq[Long] = {
    import spark.implicits._
    essential.join(broadcast(texts.distinct.toDF("text")), Seq("text"), "left_semi")
      .select("text", "id").as[(String, Long)].collect()
      .groupMapReduce(_._1)(_._2)(math.min).values.toSeq
  }

  // ------------------------------------------------------------------
  // Async API parity (reference I4: aadd_texts / aadd_documents /
  // asimilarity_search / adelete, vectorstore.py:227-252, :272-288,
  // :913-1007 — thread-pool wrappers there, Future wrappers here).
  // Spark job submission is already thread-safe; mutations serialize on
  // the store's own snapshot swap. These exist for surface parity and
  // for interleaving searches with driver-side work.
  // ------------------------------------------------------------------

  def addTextsAsync(texts: Seq[String], metadatas: Seq[Map[String, String]] = Nil)(
      implicit ec: scala.concurrent.ExecutionContext): scala.concurrent.Future[Seq[String]] =
    scala.concurrent.Future(addTexts(texts, metadatas))

  def similaritySearchAsync(query: String, k: Int = 4)(
      implicit ec: scala.concurrent.ExecutionContext)
      : scala.concurrent.Future[Seq[(SearchHit, Double)]] =
    scala.concurrent.Future(similaritySearchWithScore(query, k))

  def deleteByIdsAsync(ids: Seq[Long])(
      implicit ec: scala.concurrent.ExecutionContext): scala.concurrent.Future[Boolean] =
    scala.concurrent.Future(deleteByIds(ids))

  /** Upsert by text identity: documents whose text matches an existing
    * store row are REPLACED (the incoming metadata wins); new texts
    * append. The ingest path's exact-text dedup would silently DROP a
    * re-ingested text (first occurrence wins, index.py:202-218) —
    * upsert is the "latest wins" complement. Only the FIRST (lowest-id)
    * occurrence per matching text is replaced, mirroring
    * [[deleteByTexts]]; ids recompact exactly as any delete does.
    *
    * Atomicity: the whole merge — anti-join out the replaced rows,
    * recompact survivor ids, build the incoming batch at the survivor
    * offset — is ONE copy-on-write version under ONE lock acquisition.
    * There is no intermediate "deleted but not yet re-added" published
    * state for a crash to expose or a concurrent async mutation to
    * interleave into. An upsert that matches no stored text is a plain
    * append. The batch is on the driver, so its rows are built there
    * (see [[addTexts]]); the Spark work before the write is the
    * first-occurrence lookup, the survivor renumbering and one semi-join
    * of the survivors' texts against the batch's. */
  def upsertTexts(texts: Seq[String],
                  metadatas: Seq[Map[String, String]] = Nil): Seq[String] = exclusive {
    val staged = stage(texts, metadatas)
    val firstIds = if (manifest.count == 0) Nil else firstOccurrences(texts)
    import spark.implicits._
    // The incoming batch is built on the driver ([[buildLocalRows]]) and
    // dedups against the survivors without the Bloom (it still holds
    // the replaced texts): a later duplicate copy of a matched text
    // still wins over the incoming row, as in delete+add.
    rewrite(doomed = if (firstIds.isEmpty) None else Some(broadcast(firstIds.toDF("id"))),
      staged = Some(Right(staged)))
    texts.indices.map(_.toString)
  }

  /** Remove the entire store from disk (reference empty-store removal,
    * vectorstore.py:482-490). */
  def drop(): Unit = exclusive {
    deleteDir(spark, path)
    manifest = emptyManifest
    commit = -1L
    // A rebuild at this path restarts versions at 1, so the global
    // centroid cache (keyed (path, version)) must forget the old
    // generation — a collision would prune searches with the DEAD
    // corpus's centroids.
    DocumentStore.invalidateModelCaches(path)
  }

  // ------------------------------------------------------------------
  // Stats (reference S1-S4: vectorstore.py:815-879, index.py:590-607)
  // ------------------------------------------------------------------

  def frameMappingStats: FrameMappingStats = withSnapshot {
    if (snap.count == 0) FrameMappingStats(0, -1, -1, 0.0)
    else {
      val r = payload.agg(
        count(col("doc_id")).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi")
      ).collect()(0)
      val n = r.getAs[Long]("n")
      val span = r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1
      FrameMappingStats(n, r.getAs[Long]("lo"), r.getAs[Long]("hi"),
        if (span > 0) 100.0 * n / span else 0.0)
    }
  }

  def storageStats: StorageStats = withSnapshot {
    StorageStats(
      snap.count,
      dirSize(spark, payloadDir(snap.version)),
      dirSize(spark, essentialDir(snap.version)),
      frameMappingStats)
  }

  /** Integrity audit: recompute each document's `metadata_hash` from
    * the PAYLOAD store's metadata and compare to the token stored in
    * the essential store at ingest. The reference computes and persists
    * this hash (index.py:224-226) but never re-checks it — this is the
    * consumption side. One full-outer hash-join on doc_id; both sides
    * are narrow projections, so the audit cost is one shuffle of
    * (id, hash) pairs, not the corpus payloads.
    *
    * Statuses: `ok` (hashes agree), `mismatch` (payload metadata no
    * longer hashes to the stored token — corruption or out-of-band
    * edit), `missing_payload` (essential row with no payload row —
    * broken store), `orphan_payload` (payload row with no essential
    * row — harmless leftover of a crashed incremental append; compact(),
    * like every snapshot rewrite, removes them), and one
    * `count_mismatch` row (null doc_id) when the manifest's document
    * count differs from the essential row count. Filter
    * `status != 'ok'` for the defect list. */
  def verifyIntegrity(): DataFrame = withSnapshot {
    if (snap.count == 0) throw new StorageException("store is empty or not built")
    // Presence is tracked with explicit side flags, NOT hash nullness:
    // a doc ingested with a null metadata map has a null hash on BOTH
    // sides and is healthy — using the hash as a join-miss sentinel
    // would flag it orphan_payload forever (and compact() would never
    // clear the alarm).
    val stored = essential.select(col("id").as("doc_id"),
      col("metadata_hash").as("stored_hash"))
      .withColumn("__has_essential", lit(true))
    val recomputed = payload.select(col("doc_id"),
      DocumentStore.metadataHashCol(col("metadata")).as("computed_hash"))
      .withColumn("__has_payload", lit(true))
    stored.join(recomputed, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__has_essential").isNull, lit("orphan_payload"))
          .when(col("__has_payload").isNull, lit("missing_payload"))
          .when(col("stored_hash") <=> col("computed_hash"), lit("ok"))
          .otherwise(lit("mismatch")))
      .drop("__has_essential", "__has_payload")
      .unionByName(essential.agg(count(lit(1)).as("__n"))
        .where(col("__n") =!= lit(snap.count))
        .select(lit(null).cast("long").as("doc_id"),
          lit(null).cast("string").as("stored_hash"),
          lit(null).cast("string").as("computed_hash"),
          lit("count_mismatch").as("status")))
  }
}

object DocumentStore {

  /** A mutation's in-memory batch: (text, metadata) pairs. */
  private type LocalBatch = Seq[(String, Map[String, String])]

  // The store tables' data schemas. An IVF layout's `cluster` partition
  // column is not listed: partition discovery appends it.
  private val EssentialSchema = StructType.fromDDL(
    "id BIGINT, text STRING, source STRING, category STRING, metadata_hash STRING, vec ARRAY<DOUBLE>")
  private val PayloadSchema = StructType.fromDDL(
    "doc_id BIGINT, text STRING, metadata MAP<STRING, STRING>, payload_json STRING")
  private val KeyTableSchema = StructType.fromDDL("k STRING, id BIGINT")
  private val ChunkSchema = StructType.fromDDL("id BIGINT, vec ARRAY<DOUBLE>")
  // The PQ index's codes table (its model is a model file).
  private val PqCodesSchema = StructType.fromDDL("id BIGINT, codes ARRAY<INT>")
  /** A driver batch's new rows before the shared embed projection. */
  private val LocalRowSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType), StructField("metadata", MapType(StringType, StringType))))

  /** Static PQ rerank depth when no measured curve exists for the
    * snapshot — see [[DocumentStore.similaritySearchPq]]. */
  val DefaultPqCandidates: Int = 100

  /** Bound on the driver-collected probe sets of the Bloom-confirm
    * path (distinct maybe shas; candidate ids) — ~64 B per sha, so the
    * cap holds the confirm's driver state under ~10 MB. Batches whose
    * maybe set exceeds it are dominated by duplicates, where
    * corpus-sized confirm work is inherent — they fall back to the
    * plain exact anti-join. */
  val MaxConfirmKeys: Int = 100000

  /** Byte budget for driver-collecting (and broadcasting) the
    * Bloom-confirm candidate TEXTS: [[MaxConfirmKeys]] bounds row
    * count, not bytes, and a dup-heavy batch of megabyte documents
    * would otherwise OOM the driver (or trip maxResultSize) through
    * the broadcast's collect. Measured with a bounded pruned
    * octet_length aggregate BEFORE collecting; over-budget confirms
    * use an executor-side join instead. */
  val MaxConfirmTextBytes: Long = 64L << 20

  /** Bound on probe values pushed as a parquet In filter (the
    * Bloom-confirm key probe and id fetch). The pushed In compiles to
    * an or-CHAIN of equalities whose recursive evaluation overflows
    * the task thread's stack once the chain is deep enough — measured
    * on this Spark: 768 string equalities SOE a COLD JVM every run,
    * 512 pass; after JIT compilation shrinks the frames, 1000+ pass,
    * so warm measurements are not evidence of safety. 256 leaves a 2×
    * margin below the worst observed cliff (the margin matters: real
    * confirm plans sit deeper in the call stack than the bare-scan
    * harness that measured it). Probe sets larger than this switch to
    * a broadcast-join probe — no row-group pruning, but a shuffle-free
    * columnar scan bounded by the thin key table, never the corpus.
    * Measure it with `graft.examples.Profile <sfDir> in:<n>`, one size
    * per JVM. */
  val SafeInProbe: Int = 256

  /** The store's metadata integrity token (reference index.py:224-226):
    * sha256 over the key-sorted JSON rendering of the metadata map.
    * ONE definition shared by ingest (buildNewRows), the audit
    * ([[DocumentStore.verifyIntegrity]]), and the oracle-checked
    * q_integrity_check query — the recipe can't drift between the
    * producer and the checker. */
  def metadataHashCol(metadata: Column): Column =
    sha2(to_json(map_from_entries(array_sort(map_entries(metadata)))), 256)

  /** Drop every global version-keyed cache entry for a store path —
    * called whenever a path's version history restarts (drop, factory
    * rebuild), because generation 2's v1 would otherwise alias
    * generation 1's cached centroids. */
  private[store] def invalidateModelCaches(path: String): Unit =
    IvfIndex.invalidateCached(s"$path#centroids")

  /** Factory: construct + ingest (reference from_texts,
    * vectorstore.py:881-911). */
  def fromTexts(
      spark: SparkSession, path: String,
      texts: Seq[String], metadatas: Seq[Map[String, String]] = Nil,
      config: StoreConfig = StoreConfig(), embedder: Embedder): DocumentStore = {
    val store = fresh(spark, path, config, embedder)
    store.addTexts(texts, metadatas)
    store
  }

  /** An empty store at `path`, deleting any store published there. */
  private def fresh(spark: SparkSession, path: String, config: StoreConfig,
                    embedder: Embedder): DocumentStore = {
    if (readManifest(spark, path).isDefined) {
      deleteDir(spark, path)
      // New generation at an existing path: versions restart at 1, so
      // the old generation's (path, version)-keyed centroid cache
      // entries would silently serve the DEAD corpus's centroids.
      invalidateModelCaches(path)
    }
    new DocumentStore(spark, path, config, embedder, None)
  }

  /** Factory from Documents (reference from_documents,
    * vectorstore.py:945-975). */
  def fromDocuments(
      spark: SparkSession, path: String, docs: Seq[Doc],
      config: StoreConfig = StoreConfig(), embedder: Embedder): DocumentStore =
    fromTexts(spark, path, docs.map(_.text), docs.map(_.metadata), config, embedder)

  /** Async factory twins (reference afrom_texts/afrom_documents,
    * vectorstore.py:914-943 — thread-pool wrappers there, Future
    * wrappers here, same posture as the instance async API). The
    * returned Future completes when the store is fully built and
    * published. */
  def fromTextsAsync(
      spark: SparkSession, path: String,
      texts: Seq[String], metadatas: Seq[Map[String, String]] = Nil,
      config: StoreConfig = StoreConfig(), embedder: Embedder)(
      implicit ec: scala.concurrent.ExecutionContext)
      : scala.concurrent.Future[DocumentStore] =
    scala.concurrent.Future(fromTexts(spark, path, texts, metadatas, config, embedder))

  def fromDocumentsAsync(
      spark: SparkSession, path: String, docs: Seq[Doc],
      config: StoreConfig = StoreConfig(), embedder: Embedder)(
      implicit ec: scala.concurrent.ExecutionContext)
      : scala.concurrent.Future[DocumentStore] =
    scala.concurrent.Future(fromDocuments(spark, path, docs, config, embedder))

  /** Factory from a (text, metadata) DataFrame — the 100TB-scale entry
    * point: data never touches the driver. */
  def fromDF(
      spark: SparkSession, path: String, staged: DataFrame,
      config: StoreConfig = StoreConfig(), embedder: Embedder): DocumentStore = {
    val store = fresh(spark, path, config, embedder)
    store.addDF(staged)
    store
  }

  /** Restore a persisted store (reference IndexManager.load,
    * index.py:637-670): manifest carries dim/metric — dim mismatch with
    * the supplied embedder is rejected like the reference's
    * dimension-from-index check (index.py:660-661). */
  def load(spark: SparkSession, path: String, embedder: Embedder,
           config: StoreConfig = StoreConfig()): DocumentStore = {
    val published = readCommit(spark, path).getOrElse(
      throw new StorageException(s"no store manifest at $path"))
    val m = published._2
    if (m.dim != embedder.dim) throw new IndexException(
      s"embedder dim ${embedder.dim} != stored dim ${m.dim}")
    // Restore STORED index parameters, not the caller's defaults: a
    // reloaded IVF store whose config said nlist=0 would silently write
    // its next snapshot flat (searches keep working off manifest.nlist,
    // which makes the clustering loss invisible until it's gone). Same
    // for multi-vector mode: a reloaded chunked store must keep writing
    // its chunk table on mutation.
    new DocumentStore(spark, path,
      // auto_nlist restores the AUTO config (-1), not the fitted count:
      // a reloaded auto store must keep re-deriving its cluster count
      // as the corpus grows (freezing at the first fit's value is the
      // measured r15 x100 cliff). Search still reads the fitted value
      // from the snapshot manifest.
      config.copy(metric = m.metric,
        nlist = if (m.autoNlist) -1 else m.nlist.toInt,
        chunkSize = m.chunkSize, chunkOverlap = m.chunkOverlap), embedder,
      Some(published))
  }

  // ---------------- manifest + fs helpers ----------------

  private val CommitPrefix = "manifest_"
  private def commitDir(path: String) = new Path(s"$path/_commits")

  private[store] def readManifest(spark: SparkSession, path: String): Option[StoreManifest] =
    readCommit(spark, path).map(_._2)

  /** The latest manifest commit: its number and the manifest. */
  private def readCommit(spark: SparkSession, path: String): Option[(Long, StoreManifest)] = {
    Commits.latest(fsFor(spark, path), commitDir(path), CommitPrefix)
      .map { case (n, txt) => n -> parseManifest(txt) }
  }

  // The manifest is the case class rendered field for field under
  // snake_case keys; an absent Option renders as null, so a well-formed
  // manifest names every field.
  private implicit val manifestFormats: org.json4s.Formats = org.json4s.DefaultFormats
    .withEmptyValueStrategy(org.json4s.prefs.EmptyValueStrategy.preserve)
  private val ManifestFields = StoreManifest(0L, 0, "", 0L, 0).productElementNames.toSeq

  private[store] def renderManifest(m: StoreManifest): String =
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(m).snakizeKeys))

  /** Parse a manifest commit; malformed content or a missing field
    * raises a [[StorageException]] naming the content. */
  private[store] def parseManifest(s: String): StoreManifest = {
    def fail(why: String) = new StorageException(s"manifest $why: $s")
    val json = try JsonMethods.parse(s).camelizeKeys
      catch { case NonFatal(e) => throw fail(s"malformed (${e.getMessage})") }
    ManifestFields.find(k => (json \ k) == JNothing).foreach(k => throw fail(s"missing $k"))
    try json.extract[StoreManifest]
    catch { case e: MappingException => throw fail(s"malformed (${e.getMessage})") }
  }

  private[store] def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = fsFor(spark, dir)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private[store] def dirSize(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = fsFor(spark, dir)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Dense sequential id column via zipWithIndex — NOT
    * monotonically_increasing_id, which is sparse (SURVEY §7.4). Costs
    * one extra pass for partition sizes; no shuffle. */
  private[graft] def withDenseId(df: DataFrame, idCol: String, offset: Long = 0L): DataFrame = {
    val schema = df.schema.add(StructField(idCol, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + offset)) }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
