package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructType}

import graft.functions.TextFunctions

/** Keyword relevance search over a document corpus — the lexical
  * complement to the vector search the reference provides
  * (reference: src/langchain_memvid/index.py:327 dense-only retrieval;
  * production RAG pipelines pair it with BM25 — Robertson & Zaragoza
  * 2009, see PAPERS.md).
  *
  * Scale shape: tf is an explode + partial-agg (map-side combine
  * applies), df is a tiny per-term aggregate (broadcast), corpus stats
  * are one scalar row (broadcast cross join) — the only full shuffle is
  * the tf groupBy, keyed by (doc, term), which is near-uniform. Top-k
  * goes through TakeOrderedAndProject (bounded per-partition heaps, no
  * global sort).
  */
object TextSearch {

  /** BM25 top-k: score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the standard
    * Robertson/Sparck-Jones formulation with non-negative idf.
    *
    * Determinism across engines/partitionings: per-(doc,term) weights
    * are computed in double with one fixed expression shape, rounded to
    * 6 dp, and summed through exact DECIMAL(18,6) — so the per-doc sum
    * cannot depend on term order — then rounded to 4 dp BEFORE ranking
    * with a doc-id tie-break. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], topK: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(docs, idCol, textCol, queryTerms, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)

  /** Full BM25 score set (every doc with >= 1 query-term hit), no
    * truncation — the building block [[bm25]] top-k's and
    * [[hybridRrf]] rank-fuses. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // Null-text docs are excluded from the corpus model (they cannot
    // score anyway); writeIndex applies the SAME filter, keeping index
    // stats bit-identical to these scan-time stats.
    val toks = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
    val stats = toks.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(col("toks")).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    // Prune to query terms BEFORE exploding: the scan emits only hits
    // (a few per doc), not every token of the corpus. tf and df both
    // derive from this narrow projection INDEPENDENTLY — deriving df
    // from the tf aggregate would execute tf's shuffle subtree twice
    // (it appears under the broadcast AND in the main join).
    val termSet = typedlit(queryTerms.distinct)
    val hits = toks.select(col("id"), size(col("toks")).cast("double").as("dl"),
      filter(col("toks"), t => array_contains(termSet, t)).as("hits"))
    val tf = hits
      .select(col("id"), col("dl"), explode(col("hits")).as("term"))
      .groupBy("id", "dl", "term").agg(count(lit(1)).cast("double").as("tf"))
    // df = docs whose (distinct) hit set contains the term — same value
    // as count_distinct(id) over tf, one narrow pass + tiny shuffle.
    // The limit is an exact NO-OP bound made visible in the plan: the
    // group keys are a subset of the literal query-term list, so the
    // aggregate can never exceed queryTerms.distinct.size rows — but a
    // grouped aggregate alone doesn't show boundedness to the plan
    // audit (r13: grouped aggs stopped counting as barriers), and this
    // broadcast must never be mistaken for a corpus-growing one. The
    // broadcast hint itself is load-bearing: shuffle-joining tf on a
    // handful of term keys would funnel the corpus into <= |terms|
    // partitions.
    val dfreq = hits
      .select(explode(array_distinct(col("hits"))).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .limit(queryTerms.distinct.size)
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("id")
      .agg(round(sum(round(col("w"), 6).cast("decimal(18,6)")).cast("double"), 4).as("score"))
      .select(col("id").as(idCol), col("score"))
  }

  /** Write a persisted lexical (inverted) index for [[searchIndex]]:
    * the build-once/query-many shape that replaces [[bm25Scores]]'s
    * per-query corpus scan at scale. Layout under `dir`:
    *
    *   - `postings/` — (term, id, dl, tf), range-partitioned AND sorted
    *     by term: a query for a handful of terms prunes to the files
    *     (and row groups, via parquet min/max on the sort key) that
    *     contain them — the inverted-index seek, expressed as columnar
    *     layout + predicate pushdown. dl is denormalized into the
    *     postings row so scoring never joins a corpus-sized side.
    *   - `terms/`    — (term, df): per-term document frequency.
    *   - `stats/`    — one row (n_docs, avgdl).
    *
    * All three derive from the same tokenization and aggregate shapes
    * as [[bm25Scores]], so index-backed scores are bit-identical to the
    * scan-time ones. PRECONDITION (both paths): `idCol` is unique — the
    * index merges duplicate-(term, id, dl) rows in its tf aggregate
    * while the scan path counts each row as a document, so duplicate
    * ids would give the two paths different df/n_docs and silently
    * break the bit-identity contract.
    *
    * Crash atomicity: the three dirs are written in sequence, so a
    * crash mid-rebuild leaves a TORN index (new postings with stale
    * df/stats — silently wrong scores, not an error). A `_complete`
    * marker is therefore removed FIRST and rewritten only after the
    * last write: readers gate on [[indexComplete]] and treat a
    * marker-less index as absent, falling back to the scan path
    * instead of mixing epochs. (DocumentStore gates on its manifest
    * entry instead, published after this call returns.) */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 dir: String, numFiles: Int = 16): Unit = {
    val spark = docs.sparkSession
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_complete")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) fs.delete(marker, false)
    // ONE tokenize+explode+aggregate pass over the corpus; df and
    // corpus stats then derive from the (already aggregated, smaller)
    // written postings instead of re-scanning the raw text.
    val postings = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      // HASH-partition by term BEFORE the tf aggregate: partitioning on
      // [term] already clusters [term, id, dl], so the aggregate runs
      // on the repartition exchange with NO second shuffle of the token
      // stream (tf is mostly 1, so the map-side combine this forgoes
      // compacts almost nothing). Each term then lives in exactly one
      // file and row-group min/max stats on the sorted term column
      // prune within it. Range partitioning would add file-level
      // pruning but costs a sampling pass that re-executes the whole
      // tokenize subtree — row-group pruning after cheap footer reads
      // is the same seek at half the build cost.
      .repartition(numFiles, col("term"))
      .groupBy("term", "id", "dl").agg(count(lit(1)).cast("double").as("tf"))
      .sortWithinPartitions("term", "id")
    postings.write.mode("overwrite").parquet(s"$dir/postings")
    // df = postings rows per term (one row per doc containing it), over
    // the written postings (read with their known schema: no footer job)
    val written = spark.read.schema(postings.schema).parquet(s"$dir/postings")
    written.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .repartition(math.max(numFiles / 4, 1), col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/terms")
    // every NON-NULL-text doc has >= 1 token (split("") = [""]), so
    // postings cover exactly the docs bm25Scores models (both paths
    // filter null text); dl is constant per doc and integral, so the
    // long-sum keeps n_docs/avgdl bit-identical to the scan-time
    // aggregate.
    written.groupBy("id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl").cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("avgdl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    fs.create(marker, true).close()
  }

  /** True when `dir` holds a fully-written index ([[writeIndex]]'s
    * `_complete` marker present). A rebuild removes the marker before
    * touching any data dir, so a torn (crashed-mid-rebuild) index reads
    * as absent rather than as silently wrong scores. */
  def indexComplete(spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_complete")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Full BM25 score set from a persisted [[writeIndex]] index — the
    * index-backed twin of [[bm25Scores]], bit-identical scores. The
    * postings scan carries `term IN (...)` into parquet (row-group
    * pruning on the sort key); df and corpus stats broadcast. */
  def searchIndexScores(spark: org.apache.spark.sql.SparkSession, dir: String,
                        queryTerms: Seq[String],
                        k1: Double = 1.2, b: Double = 0.75,
                        idCol: String = "id"): DataFrame =
    indexScores(spark, dir, queryTerms, k1, b, idCol,
      spark.read.parquet(s"$dir/postings").schema("id").dataType)

  /** [[searchIndexScores]] over an index whose ids are of `idType`:
    * every table is read with its known schema (an inferring read runs
    * a footer job per table). */
  private[graft] def indexScores(spark: org.apache.spark.sql.SparkSession, dir: String,
                                 queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                                 idCol: String = "id", idType: DataType): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.distinct
    val postings = spark.read.schema(new StructType()
        .add("term", StringType).add("id", idType).add("dl", DoubleType).add("tf", DoubleType))
      .parquet(s"$dir/postings")
      .where(col("term").isin(terms: _*))
    val dfreq = spark.read.schema("term STRING, df DOUBLE").parquet(s"$dir/terms")
      .where(col("term").isin(terms: _*))
    val stats = spark.read.schema("n_docs DOUBLE, avgdl DOUBLE").parquet(s"$dir/stats")
    postings.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("id")
      .agg(round(sum(round(col("w"), 6).cast("decimal(18,6)")).cast("double"), 4).as("score"))
      .select(col("id").as(idCol), col("score"))
  }

  /** BM25 top-k over a persisted [[writeIndex]] index — bit-identical
    * to [[bm25]] over the original corpus. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  queryTerms: Seq[String], topK: Int = 10,
                  k1: Double = 1.2, b: Double = 0.75,
                  idCol: String = "id"): DataFrame =
    searchIndexScores(spark, dir, queryTerms, k1, b, idCol)
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    * rrf(d) = Σ_sources 1/(rrfK + rank_source(d)), over the top
    * `perSourceK` of each source; absent-from-a-source contributes 0.
    * The standard way production RAG stacks combine BM25 with dense
    * vector search — scores from incomparable scales fuse by RANK, so
    * no calibration is needed.
    *
    * Scale shape: each source is truncated FIRST with orderBy+limit
    * (TakeOrderedAndProject — bounded per-partition heaps over
    * arbitrarily large score sets), and ranks are then assigned by a
    * window over those <= perSourceK rows (single tiny partition by
    * construction). The fuse join touches at most 2·perSourceK rows.
    * Both source rankings must already be deterministic (rounded
    * scores, id tie-breaks) — every graft scorer is.
    *
    * Inputs are (idCol, score) DataFrames; returns (idCol, rank_a,
    * rank_b, rrf) — ranks as nullable longs (-1 = absent), rrf rounded
    * to 6 dp, ordered by (rrf DESC, id), limited to topK. */
  def hybridRrf(scoresA: DataFrame, scoresB: DataFrame, idCol: String,
                perSourceK: Int = 50, rrfK: Int = 60, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ranked(scores: DataFrame, rankCol: String): DataFrame =
      scores.orderBy(col("score").desc, col(idCol)).limit(perSourceK)
        .withColumn(rankCol,
          row_number().over(Window.orderBy(col("score").desc, col(idCol))).cast("long"))
        .select(col(idCol), col(rankCol))
    val a = ranked(scoresA, "rank_a")
    val b = ranked(scoresB, "rank_b")
    val contrib = (r: Column) =>
      when(r.isNotNull, lit(1.0) / (lit(rrfK.toDouble) + r.cast("double")))
        .otherwise(lit(0.0))
    a.join(b, Seq(idCol), "full_outer")
      .withColumn("rrf", round(contrib(col("rank_a")) + contrib(col("rank_b")), 6))
      .select(col(idCol),
        coalesce(col("rank_a"), lit(-1L)).as("rank_a"),
        coalesce(col("rank_b"), lit(-1L)).as("rank_b"),
        col("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topK)
  }
}
