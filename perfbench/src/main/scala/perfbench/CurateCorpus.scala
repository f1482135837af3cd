package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, QualitySignals, TextAnalysis}

/** A data-pipeline engineer curating one corpus in batch: exact dedup,
  * MinHash-LSH near-duplicate pairs, connected components, the best
  * member of each duplicate family, the Gopher quality filter and text
  * analysis, each stage written out before the next reads it, the last
  * to a noop sink. The corpus plants exact-duplicate families,
  * near-duplicate families and low-quality documents at fixed rates.
  * This stresses the `ops` operators, the text kernels of `functions`
  * (shingles, MinHash, tokenize) and shuffle-heavy joins, and never
  * touches the store: a store change should predict no move here. */
final class CurateCorpus(ctx: Ctx) extends Workload(ctx) {
  val Docs = 6000
  val WarmDocs = 2000
  val ExactFamilyRate = 0.03
  val NearFamilyRate = 0.06
  val SpamRate = 0.02
  val NearEdits = 2
  val Stages = Seq("exact", "lsh_pairs", "components", "best", "quality", "analyze")

  /** role: 's' single, 'e' exact family, 'n' near family, 'x' low quality. */
  final case class Planted(family: Int, role: Char)

  final class State(val dir: String, val corpus: String, val texts: Array[String],
                    val planted: Array[Planted], val userBytes: Long) {
    var lastPass: Option[String] = None
    var passes = 0
  }
  type S = State
  def reusable = true
  def setups = 4

  def setup(dir: String): (State, String) = {
    val g = new Gen(ctx.seed)
    val d = new Gen.Digest
    val docs = ArrayBuffer[(String, Planted)]()
    var family = 0
    while (docs.size < Docs) {
      val u = g.rng.nextDouble()
      family += 1
      if (u < SpamRate) docs += g.spam() -> Planted(family, 'x')
      else if (u < SpamRate + ExactFamilyRate) {
        val t = g.text(40, 80)
        (0 to 1 + g.rng.nextInt(2)).foreach(_ => docs += t -> Planted(family, 'e'))
      } else if (u < SpamRate + ExactFamilyRate + NearFamilyRate) {
        val t = g.text(40, 80)
        docs += t -> Planted(family, 'n')
        (0 to g.rng.nextInt(2)).foreach(_ => docs += g.nearDup(t, NearEdits) -> Planted(family, 'n'))
      } else docs += g.text(40, 80) -> Planted(family, 's')
    }
    // ids in a seeded shuffled order, so family members are not adjacent
    val order = docs.indices.toArray
    (order.length - 1 to 1 by -1).foreach { i =>
      val j = g.rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val texts = order.map(docs(_)._1)
    val planted = order.map(docs(_)._2)
    val metas = texts.map(_ => g.metadata())
    texts.indices.foreach { i => d.add(i.toLong); d.add(texts(i)); d.add(metas(i)) }
    import ctx.spark.implicits._
    val corpus = s"$dir/corpus"
    texts.indices.map(i => (i.toLong, texts(i), metas(i)("source"), metas(i)("category")))
      .toDF("id", "text", "source", "category")
      .repartition(4).write.parquet(corpus)
    val bytes = texts.indices.iterator.map(i => Gen.userBytes(texts(i), metas(i))).sum
    (new State(dir, corpus, texts, planted, bytes), d.hex)
  }

  /** Pays JIT and code generation for every stage with one pass over
    * the first `WarmDocs` documents (what a pass costs beyond its
    * first-run compilation scales with the corpus, so a part warms as
    * well as the whole). */
  def warmup(s: State): Unit = {
    val warm = s"${s.dir}/warm-corpus"
    ctx.spark.read.parquet(s.corpus).where(col("id") < WarmDocs).write.parquet(warm)
    pass(s, "warm", new Rec, warm)
  }

  /** One pipeline pass over `input`; each stage ends at a
    * materialization point and is timed there. A pass over the corpus
    * is checked against the planted ground truth. */
  private def pass(s: State, name: String, rec: Rec, input: String): Unit = {
    val spark = ctx.spark
    val out = s"${s.dir}/$name"
    def stage(st: String)(body: => Unit): Unit =
      rec.op(s"stage_$st")(Trace.span("ops", st)(body))
    def read(p: String): DataFrame = spark.read.parquet(s"$out/$p")
    val analyzed = new Observation("analyzed")
    val t0 = System.nanoTime()
    Trace.request("pass") {
      val corpus = spark.read.parquet(input)
      stage("exact")(Dedup.exact(corpus, "id", "text").write.parquet(s"$out/exact"))
      val survivors = corpus.join(read("exact").select("id"), Seq("id"), "left_semi")
      stage("lsh_pairs") {
        val (pairs, _) = Dedup.minhashLshPairsWithStats(survivors, "id", "text")
        pairs.write.parquet(s"$out/pairs")
      }
      stage("components")(Dedup.connectedComponents(read("pairs")).write.parquet(s"$out/components"))
      stage("best") {
        Dedup.bestRepresentative(read("components"),
          survivors.select(col("id"), length(col("text")).as("n_chars")), "id", "n_chars")
          .write.parquet(s"$out/best")
      }
      val losers = read("components").join(read("best"), "component")
        .where(col("node") =!= col("keeper_id")).select(col("node").as("id"))
      val deduped = survivors.join(losers, Seq("id"), "left_anti")
      stage("quality") {
        QualitySignals.signals(deduped, "text").where(col("gopher_keep"))
          .select("id", "text", "source", "category").write.parquet(s"$out/filtered")
      }
      stage("analyze") {
        TextAnalysis.analyze(read("filtered"), "text")
          .observe(analyzed, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    rec.lat.getOrElseUpdate("pass", ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
    if (input == s.corpus) Trace.check {
      check(s, rec, read("filtered").select("id").collect().map(_.getLong(0)),
        analyzed.get("rows").asInstanceOf[Long], read("pairs").select("id_a").collect().length)
    }
    s.lastPass.foreach(p => if (p != out) Fs.delete(p))
    s.lastPass = Some(out)
  }

  /** Output checks against the planted ground truth. */
  private def check(s: State, rec: Rec, kept: Array[Long], analyzedRows: Long,
                    pairs: Long): Unit = {
    val keptSet = kept.toSet
    val byFamily = s.planted.indices.groupBy(i => s.planted(i).family)
    var plantedDups, removedDups, plantedPairs = 0L
    var ok = kept.length == keptSet.size && analyzedRows == kept.length
    byFamily.values.foreach { members =>
      val survivors = members.count(i => keptSet(i.toLong))
      s.planted(members.head).role match {
        case 'x' => ok &&= survivors == 0
        case 's' => ok &&= survivors == 1
        case 'e' =>
          ok &&= survivors == 1 && keptSet(members.min.toLong)
          plantedDups += members.size - 1; removedDups += members.size - 1
        case 'n' =>
          ok &&= survivors >= 1
          plantedDups += members.size - 1; removedDups += members.size - survivors
          plantedPairs += members.size * (members.size - 1) / 2
      }
    }
    rec.check(ok, "curated output does not match the planted families " +
      "(a low-quality or exact copy survived, or a family lost every member)")
    rec.note("dup_recall", removedDups.toDouble / math.max(1L, plantedDups))
    rec.note("pairs_per_planted_pair", pairs.toDouble / math.max(1L, plantedPairs))
    rec.note("kept", kept.length)
  }

  /** Every pass writes its stages under a fresh directory, so a traced
    * pass replaying the untraced one on the same corpus never collides. */
  def step(s: State, i: Int, rec: Rec): Unit = {
    s.passes += 1
    pass(s, s"pass${s.passes}", rec, s.corpus)
  }

  def dispose(s: State): Unit = Fs.delete(s.dir)

  def endToEnd(s: State, rec: Rec): (Map[String, Double], Map[String, Any]) = {
    val passMs = rec.ms("pass")
    rec.check(passMs.nonEmpty, "the pass ran the pipeline")
    val p50 = if (passMs.isEmpty) 0.0 else Stats.median(passMs)
    val recall = Stats.mean(rec.noted("dup_recall"))
    val bpub = (Fs.bytesUnder(s.corpus) + s.lastPass.map(Fs.bytesUnder).getOrElse(0L)).toDouble /
      s.userBytes
    (Map("p50_ms" -> p50, "items_per_s" -> s.texts.length / (p50 / 1000.0),
      "dup_recall" -> recall, "bytes_per_user_byte" -> bpub),
      Map("pass_p50_ms" -> p50, "curate_docs_per_s" -> s.texts.length / (p50 / 1000.0),
        "curate_dup_recall" -> recall, "bytes_per_user_byte" -> bpub,
        "docs" -> s.texts.length, "kept" -> rec.noted("kept").headOption,
        "stage_p50_ms" -> Stages.map(st => st -> rec.ms(s"stage_$st"))
          .collect { case (st, ms) if ms.nonEmpty => st -> Stats.median(ms) }.toMap,
        "passes" -> passMs.size))
  }

  def layers(s: State, rec: Rec, meters: Meters): Map[String, Double] =
    Map("ops.pairs_per_planted_pair" -> Stats.mean(rec.noted("pairs_per_planted_pair")))

  def probeTexts(s: State): Seq[String] = s.texts.take(20000).toSeq
}
