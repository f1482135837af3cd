package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.StoreConfig
import graft.embed.HashEmbedder
import graft.store.DocumentStore
import graft.streaming.StreamingOps

/** A RAG application that keeps writing: a small store grows by seeded
  * batches, each screened by the text near-duplicate gate against the
  * texts it screened before and then added; every step also deletes a
  * few ids and upserts a few texts, and every mutation is followed by
  * one search, one batch search and one lookup (read after write),
  * checked against the benchmark's model of the store. The run ends by
  * reopening the store from disk. The batches plant exact duplicates of
  * already stored texts (the store's own dedup must drop them) and near
  * duplicates of earlier gated texts (the gate should drop them). This
  * stresses the write path: embedding, snapshot writes, manifest swap,
  * retention, bloom dedup, IVF refit and gate compaction, while the
  * searchable store stays small; every mutation invalidates the store's
  * caches. Searches probe fewer IVF lists than the store has once it is
  * past the IVF activation floor, so probe pruning runs and is checked
  * against a recall floor. */
final class IngestChurn(ctx: Ctx) extends Workload(ctx) {
  val Backfill = 200
  val BatchDocs = 200
  val ExactRate = 0.05
  val NearRate = 0.20
  val NearEdits = 1
  val DeletesPer = 3
  val UpsertsPer = 4
  /** Backfill texts the set-up screens through the gate (the rest are
    * the pool of planted exact duplicates the store must drop). */
  val GatedBackfill = 100
  /** The gate index is compacted through every `CompactEvery`-th batch
    * (the set-up's screen is batch 0, so the first timed batch compacts). */
  val CompactEvery = 2
  /** IVF lists a search probes; the store's auto nlist is 8 past the
    * activation floor, so searches scan a fraction of the store. */
  val NProbe = 3
  val Dim = 128
  val K = 10
  /** Distinct queries of each read-after-write batch search; the first
    * is also issued as the single search. */
  val BatchQueries = 16
  /** Floor of the mean recall@k, against the exact top-k, of the
    * read-after-write batch queries made while the store has more IVF
    * lists than it probes (before that each must return the exact
    * ranking). Probing `NProbe` of 8 lists at random would reach about
    * 0.375. */
  val RecallFloor = 0.5

  /** The benchmark's model of the store: live texts in id order (ids are
    * dense and positional), their metadata and vectors, and what was
    * planted and dropped. */
  final class State(val dir: String, var store: DocumentStore, val gate: String) {
    val live = ArrayBuffer[String]()
    val liveSet = mutable.HashSet[String]()
    val metaOf = mutable.HashMap[String, Map[String, String]]()
    val vecOf = mutable.HashMap[String, Array[Double]]()
    val gated = ArrayBuffer[String]()
    val everOffered = mutable.HashSet[String]()
    val unusedBackfill = mutable.Queue[String]()
    var batchId = 0L
    var nextId = 0L
    var offeredDocs, offeredBytes = 0L
    var exactPlanted, exactDropped, nearPlanted, nearDropped, gateOtherDrops = 0L

    def append(t: String, m: Map[String, String]): Unit =
      if (liveSet.add(t)) { live += t; metaOf(t) = m }
    def removeAt(ids: Seq[Int]): Unit = ids.sorted.reverse.foreach { i =>
      liveSet -= live(i); metaOf -= live(i); live.remove(i)
    }
    def vec(t: String): Array[Double] = vecOf.getOrElseUpdate(t, hashEmbedder.embedQuery(t))
  }
  type S = State
  def reusable = false
  def setups = 2

  private val hashEmbedder = HashEmbedder(Dim)
  private def embedder = new TimedEmbedder(hashEmbedder)

  /** The starting state: a store backfilled without the gate (below the
    * IVF activation floor, so its first batch makes the first IVF fit),
    * and a gate index holding the first `GatedBackfill` backfill texts,
    * screened as batch 0. */
  def setup(dir: String): (State, String) = {
    val g = new Gen(ctx.seed)
    val d = new Gen.Digest
    val texts = Array.fill(Backfill)(g.text(30, 50))
    val metas = Array.fill(Backfill)(g.metadata())
    texts.foreach(d.add); metas.foreach(d.add)
    val store = DocumentStore.fromTexts(ctx.spark, s"$dir/store", texts.toSeq, metas.toSeq,
      StoreConfig(metric = "cosine", dim = Dim, nlist = -1, nprobe = NProbe), embedder)
    val s = new State(dir, store, s"$dir/gate")
    texts.zip(metas).foreach { case (t, m) => s.append(t, m); s.everOffered += t }
    val toGate = (0 until GatedBackfill).map(i => Doc(i.toLong, texts(i), metas(i), 'b'))
    s.gated ++= screen(s, toGate).map(_._2)
    s.unusedBackfill ++= texts.drop(GatedBackfill)
    s.nextId = Backfill
    (s, d.hex)
  }

  final case class Doc(id: Long, text: String, meta: Map[String, String], kind: Char)

  /** A batch of planted exact duplicates (kind 'e') of unused backfill
    * texts, planted near duplicates ('n') of gated texts or of fresh
    * texts earlier in the batch, and fresh texts ('f'). */
  private def makeBatch(s: State, g: Gen): Seq[Doc] = {
    val fresh = ArrayBuffer[String]()
    (0 until BatchDocs).map { _ =>
      val u = g.rng.nextDouble()
      val sources = s.gated.size + fresh.size
      val (t, kind) =
        if (u < ExactRate && s.unusedBackfill.nonEmpty) (s.unusedBackfill.dequeue(), 'e')
        else if (u < ExactRate + NearRate && sources > 0) {
          val k = g.rng.nextInt(sources)
          (g.nearDup(if (k < s.gated.size) s.gated(k) else fresh(k - s.gated.size), NearEdits), 'n')
        } else {
          var f = g.text(30, 50)
          while (s.everOffered(f)) f = g.text(30, 50)
          fresh += f
          (f, 'f')
        }
      s.everOffered += t
      val id = s.nextId; s.nextId += 1
      Doc(id, t, g.metadata(), kind)
    }
  }

  private def batchDf(batch: Seq[Doc]): DataFrame = {
    import ctx.spark.implicits._
    batch.map(b => (b.id, b.text, b.id, b.meta)).toDF("id", "text", "ts", "metadata")
  }

  /** Screens `batch` through the gate as the next batch id; returns the
    * rows it kept, in id order. */
  private def screen(s: State, batch: Seq[Doc]): Seq[(Long, String, Map[String, String])] = {
    val b = s.batchId; s.batchId += 1
    Trace.span("streaming", "screen") {
      StreamingOps.nearDupScreenBatch(batchDf(batch), s.gate, b, "id", "text", "ts")
        .select(col("id"), col("text"), col("metadata")).collect()
    }.map(r => (r.getLong(0), r.getString(1), r.getMap[String, String](2).toMap))
      .sortBy(_._1).toSeq
  }

  /** One ingest operation: screens a batch through the gate, adds the
    * survivors, and compacts the gate index through this batch on every
    * `CompactEvery`-th batch; then updates the model with what was
    * planted and what was dropped. */
  private def gateAndAdd(s: State, batch: Seq[Doc], rec: Rec): Unit = {
    val kept = rec.op("add")(Trace.request("add") {
      val kept = screen(s, batch)
      Trace.span("store", "add")(s.store.addTexts(kept.map(_._2), kept.map(_._3)))
      val b = s.batchId - 1
      if ((b + 1) % CompactEvery == 0)
        Trace.span("streaming", "compact")(StreamingOps.compactBandIndex(ctx.spark, s.gate, b))
      kept
    })
    val keptIds = kept.map(_._1).toSet
    val exact = batch.filter(d => d.kind == 'e' && s.liveSet(d.text))
    s.exactPlanted += exact.size
    s.exactDropped += exact.count(d => keptIds(d.id))
    s.nearPlanted += batch.count(_.kind == 'n')
    s.nearDropped += batch.count(d => d.kind == 'n' && !keptIds(d.id))
    s.gateOtherDrops += batch.count(d => d.kind == 'f' && !keptIds(d.id))
    kept.foreach { case (_, t, m) => s.gated += t; s.append(t, m) }
    s.offeredDocs += batch.size
    s.offeredBytes += batch.map(d => Gen.userBytes(d.text, d.meta)).sum
  }

  private def checkModel(s: State, rec: Rec, what: String): Unit =
    rec.check(s.store.documentCount == s.live.size,
      s"after $what the store counts ${s.store.documentCount}, the model ${s.live.size}")

  private def exactTopK(s: State, q: String): Seq[(Long, Double)] = {
    val qv = hashEmbedder.embedQuery(q)
    s.live.indices.map { i =>
      val v = s.vec(s.live(i))
      var dot = 0.0; var qq = 0.0; var vv = 0.0; var j = 0
      while (j < Dim) { dot += qv(j) * v(j); qq += qv(j) * qv(j); vv += v(j) * v(j); j += 1 }
      (i.toLong, dot / (math.sqrt(qq) * math.sqrt(vv)))
    }.sortBy { case (id, sc) => (-sc, id) }.take(K)
  }

  /** Same ids in the same order, or, where scores tie to 1e-9, the same
    * scores rank by rank (float summation order may swap exact ties). */
  private def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
      math.abs(gs - ws) <= 1e-9 && (gi == wi || got.exists(_._1 == wi))
    }

  /** One search, one batch search and one full-metadata lookup after a
    * mutation, all checked against the model: the batch's row for the
    * single search's query must equal the single search (the store's
    * batch == single parity), every batch query's top-k is scored
    * against the exact top-k over the live texts, and the lookup must
    * return the text and metadata last written for that id. */
  private def readAfterWrite(s: State, rec: Rec, r: java.util.SplittableRandom): Unit = {
    val qs = Iterator.continually(Iterator.fill(5)(Vocab.word(r)).mkString(" "))
      .distinct.take(BatchQueries).toSeq
    val q = qs.head
    val rows = rec.op("rw_search")(Trace.request("rw_search") {
      val df = Trace.span("store", "search_call")(s.store.similaritySearch(q, K))
      Trace.span("store", "search_collect")(df.collect())
    })
    val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("similarity"))).toSeq
    rec.note("live_at_search", s.live.size)
    val batch = rec.op("rw_batch")(Trace.request("rw_batch") {
      val df = Trace.span("store", "batch_call")(s.store.similaritySearchBatch(qs, K))
      Trace.span("store", "batch_collect")(df.collect())
    })
    val byQuery = batch.groupBy(_.getAs[String]("query")).map { case (bq, rs) =>
      bq -> rs.sortBy(_.getAs[Int]("rank")).toSeq
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("similarity")))
    }
    val single = byQuery.getOrElse(q, Nil)
    rec.check(single.map(_._1) == got.map(_._1) &&
      single.zip(got).forall { case (a, b) => math.abs(a._2 - b._2) <= 1e-9 },
      s"batch search of '$q' differs from its single search")
    val pruned = s.store.currentManifest.nlist > s.store.effectiveNprobe
    qs.foreach { bq =>
      val hits = byQuery.getOrElse(bq, Nil)
      val exact = exactTopK(s, bq)
      val recall = hits.count(h => exact.exists(_._1 == h._1)).toDouble / exact.size
      rec.note("recall_at_10", recall)
      if (pruned) rec.note("probed_recall_at_10", recall)
      else rec.check(sameRanking(hits, exact), s"search '$bq' after a write is not the exact top-$K")
    }
    val id = r.nextInt(s.live.size)
    val hit = rec.op("rw_lookup")(Trace.request("rw_lookup") {
      Trace.span("store", "lookup") {
        s.store.getDocumentsByIds(Seq(id.toLong), includeFullMetadata = true).collect()
      }
    })
    rec.check(hit.length == 1 && hit(0).getAs[String]("text") == s.live(id) &&
      hit(0).getAs[scala.collection.Map[String, String]]("metadata").toMap == s.metaOf(s.live(id)),
      s"lookup of id $id after a write did not return the model's text and metadata")
  }

  /** Pays JIT and code generation for the timed ingest operation (gate
    * screen, add with IVF fit, compaction). The other operations feed no
    * end-to-end metric, and a traced run's second pass replays a first. */
  def warmup(s: State): Unit =
    gateAndAdd(s, makeBatch(s, new Gen(ctx.rng(2, -1).nextLong())), new Rec)

  /** One ingest batch, a delete and an upsert, each mutation followed
    * by a checked read. */
  def step(s: State, i: Int, rec: Rec): Unit = {
    val r = ctx.rng(2, i)
    val g = new Gen(r.nextLong())
    gateAndAdd(s, makeBatch(s, g), rec)
    checkModel(s, rec, s"batch $i")
    readAfterWrite(s, rec, r)
    delete(s, rec, r, i)
    upsert(s, rec, r, g, i)
  }

  private def delete(s: State, rec: Rec, r: java.util.SplittableRandom, i: Int): Unit = {
    val ids = Iterator.continually(r.nextInt(s.live.size)).distinct.take(DeletesPer).toSeq
    rec.op("delete")(Trace.request("delete") {
      Trace.span("store", "delete")(s.store.deleteByIds(ids.map(_.toLong)))
    })
    s.removeAt(ids)
    checkModel(s, rec, s"delete $i")
    readAfterWrite(s, rec, r)
  }

  /** Upserts texts already stored (replaced, with new metadata) and
    * fresh ones (appended). */
  private def upsert(s: State, rec: Rec, r: java.util.SplittableRandom, g: Gen, i: Int): Unit = {
    val replaced = Iterator.continually(s.live(r.nextInt(s.live.size))).distinct
      .take(UpsertsPer / 2).toSeq
    val fresh = Iterator.continually(g.text(30, 50)).filterNot(s.everOffered)
      .take(UpsertsPer - replaced.size).toSeq
    val texts = replaced ++ fresh
    val metas = texts.map(_ => g.metadata())
    fresh.foreach(s.everOffered += _)
    rec.op("upsert")(Trace.request("upsert") {
      Trace.span("store", "upsert")(s.store.upsertTexts(texts, metas))
    })
    s.removeAt(replaced.map(t => s.live.indexOf(t)))
    texts.zip(metas).foreach { case (t, m) => s.append(t, m) }
    s.offeredBytes += texts.zip(metas).map { case (t, m) => Gen.userBytes(t, m) }.sum
    checkModel(s, rec, s"upsert $i")
    readAfterWrite(s, rec, r)
  }

  override def finish(s: State, rec: Rec): Unit = {
    val r = ctx.rng(3, 0)
    val q = Iterator.fill(5)(Vocab.word(r)).mkString(" ")
    val reopened = rec.op("reopen")(Trace.request("reopen") {
      val st = Trace.span("store", "load")(DocumentStore.load(ctx.spark, s.store.path, embedder))
      Trace.span("store", "search_collect")(st.similaritySearch(q, K).collect())
      st
    })
    s.store = reopened
    rec.op("stats")(Trace.request("stats")(Trace.span("store", "stats")(reopened.storageStats)))
    val bad = Trace.check(reopened.verifyIntegrity().where(col("status") =!= "ok").collect())
    rec.check(bad.isEmpty, s"verifyIntegrity after load reported ${bad.length} rows")
    checkModel(s, rec, "reopen")
  }

  def dispose(s: State): Unit = Fs.delete(s.dir)

  private def liveUserBytes(s: State): Long =
    s.live.iterator.map(t => Gen.userBytes(t, s.metaOf(t))).sum

  /** Share of planted duplicates kept out of the store: every planted
    * exact duplicate is (the model check proves it), plus the near
    * duplicates the gate dropped. */
  private def dupRecall(s: State): Double =
    (s.exactPlanted + s.nearDropped).toDouble / math.max(1L, s.exactPlanted + s.nearPlanted)

  def endToEnd(s: State, rec: Rec): (Map[String, Double], Map[String, Any]) = {
    val add = rec.ms("add")
    rec.check(add.nonEmpty && rec.ms("reopen").nonEmpty, "the pass added and reopened")
    val probed = rec.noted("probed_recall_at_10")
    rec.check(probed.nonEmpty && Stats.mean(probed) >= RecallFloor,
      f"batch queries that probed part of the IVF lists: ${probed.size}, mean recall " +
        f"${Stats.mean(probed)}%.2f, floor $RecallFloor")
    val docsPerS = s.offeredDocs.toDouble / math.max(1e-9, add.sum / 1000.0)
    val bpub = (Fs.bytesUnder(s.store.path) + Fs.bytesUnder(s.gate)).toDouble / liveUserBytes(s)
    def p50(k: String) = if (rec.ms(k).isEmpty) 0.0 else Stats.median(rec.ms(k))
    (Map("p50_ms" -> p50("add"), "items_per_s" -> docsPerS, "dup_recall" -> dupRecall(s),
      "bytes_per_user_byte" -> bpub),
      Map("add_p50_ms" -> p50("add"), "ingest_docs_per_s" -> docsPerS,
        "delete_p50_ms" -> p50("delete"), "rw_search_p50_ms" -> p50("rw_search"),
        "rw_lookup_p50_ms" -> p50("rw_lookup"), "rw_batch_p50_ms" -> p50("rw_batch"),
        "recall_at_10" -> Stats.mean(rec.noted("recall_at_10")),
        "recall_at_10_min" -> rec.noted("recall_at_10").minOption,
        "probed_recall_at_10" -> Stats.mean(probed), "probed_queries" -> probed.size,
        "upsert_p50_ms" -> p50("upsert"), "reopen_ms" -> p50("reopen"),
        "bytes_per_user_byte" -> bpub, "dup_recall" -> dupRecall(s),
        "exact_planted" -> s.exactPlanted, "exact_dropped" -> s.exactDropped,
        "near_planted" -> s.nearPlanted, "near_dropped" -> s.nearDropped,
        "gate_other_drops" -> s.gateOtherDrops, "docs_offered" -> s.offeredDocs,
        "live_docs" -> s.live.size,
        "samples" -> rec.lat.map { case (k, v) => k -> v.size }.toMap))
  }

  def layers(s: State, rec: Rec, meters: Meters): Map[String, Double] = {
    val fs = new Path(s.store.path).getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    var files = 0L
    val it = fs.listFiles(new Path(s"${s.store.path}/v${s.store.currentManifest.version}"), true)
    while (it.hasNext) { it.next(); files += 1 }
    val written = meters.jobs.total.outputBytes.toDouble
    val scanned = meters.jobs.inputRecords("rw_search").toDouble
    Map(
      "index.rows_scanned_per_result" -> scanned / math.max(1, rec.ms("rw_search").size * K),
      "index.probe_fraction" -> scanned / math.max(1.0, rec.noted("live_at_search").sum),
      "store.version_files" -> files.toDouble,
      "store.bytes_written_per_user_byte" -> written / math.max(1L, s.offeredBytes),
      "store.dedup_drop_ratio" -> s.exactDropped.toDouble / math.max(1L, s.exactPlanted),
      "streaming.index_files" -> Fs.filesUnder(s.gate, _.toString.endsWith(".parquet")).toDouble,
      "streaming.gate_drop_ratio" -> s.nearDropped.toDouble / math.max(1L, s.nearPlanted),
      "index.nlist" -> s.store.currentManifest.nlist.toDouble)
  }

  def probeTexts(s: State): Seq[String] = s.live.toSeq
}
