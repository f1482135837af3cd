package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** IVF-style clustered index — the Spark-native counterpart of the
  * reference's FAISS IndexIVFFlat (reference:
  * src/langchain_memvid/index.py:239-291 conversion/training; activation
  * gate index.py:152-166; nprobe pruning implicit in faiss).
  *
  * Spark mapping (SURVEY §4): k-means coarse quantization = a
  * driver-side [[LocalKMeans]] fit on a collected sample of at most
  * 256 points per list (FAISS's cap); the inverted lists = a
  * `cluster` partition column on the essential store
  * (`write.partitionBy("cluster")`); nprobe = a driver-side "N
  * nearest centroids" computation (centroids are tiny)
  * feeding a `WHERE cluster IN (...)` filter that Catalyst turns into
  * partition pruning — only ~nprobe/nlist of the data is read at all.
  */
object IvfIndex {

  /** Trained coarse quantizer: just the centroids. */
  final case class Model(centroids: IndexedSeq[IndexedSeq[Double]]) {
    def nlist: Int = centroids.length

    /** Cluster-assignment expression: argmin_c ||vec - centroid_c||²
      * (ties -> lowest cluster id). Runs the fused
      * [[graft.functions.NearestCentroidExpr]] kernel — one primitive
      * loop per row instead of an interpreted lambda per element per
      * centroid (at ingest scale the assignment IS the narrow map over
      * the corpus, so the kernel constant matters). `roundScale >= 0`
      * rounds each distance first — use it when an external engine must
      * reproduce the assignment exactly (float fold order then can't
      * flip the argmin; see q_ivf_flat's oracle). Bit-identical to
      * [[assignColSql]] (asserted in IvfIndexSpec). */
    def assignCol(vec: Column, roundScale: Int = -1): Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.NearestCentroidExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(asDouble(vec)),
          centroids, 0, Int.MaxValue, roundScale))

    /** HOF reference twin of [[assignCol]] (pure built-ins: fold over a
      * centroid array literal, argmin via array_position of the min) —
      * kept as the replayable specification of the assignment. */
    def assignColSql(vec: Column, roundScale: Int = -1): Column = {
      val cents = typedlit(centroids)
      val dists = transform(cents, c => {
        val d = aggregate(
          zip_with(asDouble(vec), c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
        if (roundScale >= 0) round(d, roundScale) else d
      })
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }

    /** Squared L2 distance from `vec` to centroid `cluster` (HOF
      * built-ins over the centroid literal). With `cluster` =
      * [[assignCol]]'s output this is the row's ASSIGNMENT distance —
      * the per-row term of the k-means cost, which DocumentStore's
      * centroid-staleness gate aggregates to detect frozen-centroid
      * drift under incremental ingest. */
    def distToCol(vec: Column, cluster: Column): Column =
      aggregate(
        zip_with(asDouble(vec), element_at(typedlit(centroids), cluster + 1),
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)

    /** Multi-probe assignment: the `nProbes` nearest centroid ids per
      * row, probe-rank ordered (element 0 == [[assignCol]]'s answer —
      * asserted in IvfIndexSpec). SemDeDup's boundary-miss closer: a
      * near-dup pair straddling a cluster boundary meets in at least
      * one shared probe when both members carry their 2 nearest cells.
      *
      * Ties break to the LOWEST cluster id at every rank (distances
      * rounded first when `roundScale >= 0`), so an external engine
      * reproduces the whole probe list with a row_number over
      * (dist, cid) — the same contract as [[assignCol]]. Runs the
      * fused [[graft.functions.NearestCentroidsExpr]] kernel (the same
      * one the batch IVF prune rule projects): one primitive distance
      * loop per row — at ingest scale the multi-probe assignment is
      * the narrow map over the corpus, exactly like [[assignCol]].
      * Bit-identical to [[assignProbesColSql]] (IvfIndexSpec). */
    def assignProbesCol(vec: Column, nProbes: Int, roundScale: Int = -1): Column = {
      require(nProbes >= 1 && nProbes <= nlist,
        s"nProbes $nProbes out of 1..$nlist")
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.NearestCentroidsExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(asDouble(vec)),
          centroids, nProbes, roundScale))
    }

    /** HOF reference twin of [[assignProbesCol]] (pure built-ins: one
      * distance array per row, then argmin-and-mask `nProbes` times) —
      * kept as the replayable specification of the probe list, like
      * [[assignColSql]] for the single-probe kernel. */
    def assignProbesColSql(vec: Column, nProbes: Int, roundScale: Int = -1): Column = {
      require(nProbes >= 1 && nProbes <= nlist,
        s"nProbes $nProbes out of 1..$nlist")
      val cents = typedlit(centroids)
      val dists = transform(cents, c => {
        val d = aggregate(
          zip_with(asDouble(vec), c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
        if (roundScale >= 0) round(d, roundScale) else d
      })
      // Iteratively: pick the argmin (array_position returns the FIRST
      // occurrence of the min -> lowest-id tie-break), mask it to +inf,
      // repeat. nProbes is tiny, so the expression tree stays small.
      val picks = Seq.iterate(
        (dists, (array_position(dists, array_min(dists)) - 1).cast("int")),
        nProbes) { case (d, p) =>
        val masked = transform(d, (x, i) =>
          when(i === p, lit(Double.PositiveInfinity)).otherwise(x))
        (masked, (array_position(masked, array_min(masked)) - 1).cast("int"))
      }.map(_._2)
      array(picks: _*)
    }

    /** Driver-side nprobe: indices of the nprobe centroids nearest to
      * the query vector (L2 — equivalent ranking to cosine on the
      * normalized vectors the store holds). `roundScale >= 0` rounds
      * each squared distance (HALF_UP, matching Spark/DuckDB round())
      * before ranking, with an index tie-break — same convention as
      * [[assignCol]], so an external oracle reproduces the probe set. */
    def nearestCentroids(query: Seq[Double], nprobe: Int,
                         roundScale: Int = -1): Seq[Int] = {
      // Fail fast on dimension mismatch like NearestCentroidExpr and
      // PqIndex.adcTable do: a longer query would silently compute
      // prefix-only distances — a plausible but WRONG probe set that
      // prunes away the true neighbors; a shorter one would throw a
      // bare IndexOutOfBounds mid-loop.
      require(centroids.isEmpty || query.length == centroids.head.length,
        s"query dim ${query.length} != centroid dim ${centroids.head.length}")
      centroids.zipWithIndex
        .map { case (c, i) =>
          var d = 0.0; var j = 0
          while (j < c.length) { val t = c(j) - query(j); d += t * t; j += 1 }
          val dr = if (roundScale >= 0)
            BigDecimal(d).setScale(roundScale, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
          else d
          (dr, i)
        }
        .sortBy { case (d, i) => (d, i) }
        .take(math.min(nprobe, centroids.length))
        .map(_._2)
    }
  }

  /** FAISS's `max_points_per_centroid`: a fit trains on at most this
    * many points per list, however large the corpus. */
  val MaxPointsPerCentroid: Int = 256

  /** Driver memory bound of a fit's training sample: at most this many
    * bytes of vectors (8 per element) are collected. It binds once
    * 256·k·dim·8 exceeds it — k ≥ 342 at dim 384, a corpus of about
    * 3.5M rows under the auto nlist — and the fit then trains on fewer
    * points per list (64 at k = 1 366, dim 384). */
  val MaxSampleBytes: Long = 256L << 20

  /** Train a coarse quantizer on the driver: one seeded sample of at
    * most [[MaxPointsPerCentroid]]·k non-null vectors (and at most
    * [[MaxSampleBytes]]) is collected in one Spark job and
    * [[LocalKMeans]] fits it — the reference's in-process faiss
    * training on a capped sample (index.py:239-291, 274).
    * An unsampled fit is a function of the rows and the seed alone (see
    * [[trainingSet]]); a sampled one also of the partitioning.
    *
    * Coarse quantizers don't need polished centroids — recall comes
    * from nprobe — so `initMode = "random"` and a low `maxIter` are the
    * cheap settings, and `fitFraction` < 1 trains on a seeded sample of
    * the corpus (the caps apply on top of it).
    *
    * `rowCount` and `dim` are the row count of `df` and the length of
    * its vectors when the caller already has them (a store write counts
    * its rows anyway and knows its dim): the fit is then the one
    * collect job. Otherwise a count and a one-row read come first. They
    * size the caps and, for the auto nlist, the corpus estimate. */
  def fit(df: DataFrame, vecCol: String, nlist: Int, seed: Long = 42L,
          maxIter: Int = 20, initMode: String = "k-means||",
          fitFraction: Double = 1.0, rowCount: Long = -1L, dim: Int = -1): Model = {
    // Sentinel unification (r16 ADVICE): StoreConfig documents -1 as
    // AUTO while fit's native auto sentinel is 0 — a caller passing the
    // documented -1 straight in must not hit a runtime error, so both
    // mean "derive nlist from the data via the √n rule" here.
    // (shouldUseIvf keeps its distinct meanings: -1 = auto activation,
    // 0 = IVF off — an ACTIVATION question this fit call has already
    // answered by being made at all.)
    require(nlist >= -1,
      s"nlist $nlist must be > 0, or 0/-1 for auto (√n rule)")
    val (points, k) = trainingSet(df, vecCol, nlist, seed, fitFraction, rowCount, dim)
    Model(LocalKMeans.train(points, k, seed, maxIter, initMode)
      .map(_.toIndexedSeq).toIndexedSeq)
  }

  /** The fit's training points and cluster count k. AUTO-NLIST (r15
    * verdict #1): nlist 0 (or -1) derives k via [[autoNlist]] instead
    * of trusting a caller's fixed config — a pinned nlist=8 while the
    * corpus grew ×100 measured 544.8 s vs ~8.5 s with the √n value
    * (BENCH_NOTES r15). When the sample fits under the cap, k comes
    * from the exact sample size; a capped sample uses the count.
    *
    * The points are sorted (lexicographically) before the seeded
    * k-means sees them: the collect returns them in scan order, which
    * follows file listing and split packing, so without the sort the
    * same rows in another layout would fit other centroids. An
    * unsampled fit is so a function of the rows alone; a sampled one
    * (`fitFraction` < 1, or a corpus over the cap) still depends on
    * how `df.sample` meets the partitions. */
  private[index] def trainingSet(df: DataFrame, vecCol: String, nlist: Int,
      seed: Long, fitFraction: Double, rowCount: Long,
      dim: Int): (Array[Array[Double]], Int) = {
    val (n, d) = shape(df, vecCol, rowCount, dim)
    val kEst = if (nlist > 0) nlist else autoNlist(n)
    val (points, capped) = cappedSample(df, vecCol, n, d, fitFraction,
      MaxPointsPerCentroid.toLong * kEst, seed, "IvfIndex.fit")
    val k = if (nlist > 0) nlist else if (capped) kEst else autoNlist(points.length, fitFraction)
    (capSample(points.sortWith(java.util.Arrays.compare(_, _) < 0),
      MaxPointsPerCentroid * k, seed), k)
  }

  /** The scale-safe cluster count for a corpus of (estimated) size n:
    * `max(8, round(√(n/30)))`, the √n rule the within-cluster pair
    * join needs to stay O(n^1.5) (see [[graft.ops.SemDedup]] — pair
    * candidates are Σ_c (n_c choose 2), so fixed nlist under corpus
    * growth turns quadratic; the r15 ScaleBench decade check measured
    * exactly that cliff). The /30 inside the square root makes the
    * derived nlist consistent with [[shouldUseIvf]]'s 30·nlist
    * activation gate for every n >= 30·8² = 1920; below that the floor
    * of 8 keeps tiny fits from degenerating to one or two clusters.
    *
    * `sampleCount` is the TRAINING-SAMPLE size; `fitFraction` scales it
    * back to the corpus estimate (the rule sizes clusters for the data
    * the model will assign, not the subsample it trained on). The
    * result is clamped to sampleCount — k-means cannot fit more
    * clusters than it has points. */
  def autoNlist(sampleCount: Long, fitFraction: Double = 1.0): Int = {
    val est = math.ceil(sampleCount / math.min(math.max(fitFraction, 1e-9), 1.0)).toLong
    val k = math.max(8L, math.round(math.sqrt(est / 30.0)))
    math.min(k, math.max(sampleCount, 1L)).toInt
  }

  /** The row count of `df` and the length of its vectors: the given
    * values, else a count job and a job that reads the first vector
    * (the vector column may be computed, e.g. rotated: only that row
    * evaluates it). */
  private[index] def shape(df: DataFrame, vecCol: String, rowCount: Long,
                           dim: Int): (Long, Int) = {
    val n = if (rowCount >= 0L) rowCount else df.count()
    val d = if (dim > 0) dim else df.select(size(col(vecCol)).as("__d"))
      .where(col("__d") > 0).limit(1).collect().headOption.fold(0)(_.getInt(0))
    (n, d)
  }

  /** The training sample shared by [[fit]] and [[PqIndex.fit]]: a
    * seeded sample of at most `maxPoints` non-null vectors of `df` (`n`
    * rows of `dim` elements), and at most [[MaxSampleBytes]], collected
    * in ONE job. Returns it with whether a cap sized the sample (else
    * it is the plain `fitFraction` sample). */
  private[index] def cappedSample(df: DataFrame, vecCol: String, n: Long, dim: Int,
      fitFraction: Double, maxPoints: Long, seed: Long,
      who: String): (Array[Array[Double]], Boolean) = {
    val cap = math.max(1L,
      math.min(maxPoints, MaxSampleBytes / (8L * math.max(dim, 1)))).toInt
    val capped = n * fitFraction > cap
    val fraction = if (capped) cap.toDouble / n else fitFraction
    val points = sampleFrame(df, vecCol, fraction, seed)
      .collect().map(_.getSeq[Double](0).toArray)
    if (points.isEmpty) throw emptySample(who)
    (capSample(points, cap, seed), capped)
  }

  /** Seeded sample (when `fraction` < 1) → NULL-vector drop (nulls
    * carry no training signal), the raw double vectors as `__v`. */
  private[index] def sampleFrame(df: DataFrame, vecCol: String, fraction: Double,
                                 seed: Long): DataFrame = {
    val base =
      if (fraction < 1.0) df.sample(withReplacement = false, fraction, seed) else df
    base.select(asDouble(col(vecCol)).as("__v")).where(col("__v").isNotNull)
  }

  /** The loud guard for a fit with nothing to train on, instead of an
    * opaque k-means failure. */
  private[index] def emptySample(who: String): IllegalArgumentException =
    new IllegalArgumentException(
      s"$who: empty (or all-null) training sample — raise fitFraction or check the vector column")

  /** At most `max` of `points`: a seeded subset, kept in sample order
    * (a Bernoulli sample can overshoot its expected size). */
  private def capSample(points: Array[Array[Double]], max: Int,
                        seed: Long): Array[Array[Double]] =
    if (points.length <= max) points
    else new scala.util.Random(seed).shuffle(points.indices.toVector)
      .take(max).sorted.map(points(_)).toArray

  // (logical key, data version) -> model. Versioned so mutable stores
  // get correctness by construction: a mutation bumps the version, the
  // next read misses, and the stale entry for the SAME logical key is
  // evicted on insert (bounded memory over any number of mutations).
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Model]

  /** Memoize an arbitrary model load/build under (key, version) —
    * [[fitCached]] for k-means fits, DocumentStore's persisted-centroid
    * read for versioned stores. On insert, versions older than
    * (newest cached for the key) − 1 are evicted: the cache keeps the
    * latest TWO versions per key, so the supported concurrent pattern
    * (a reader pinned one snapshot behind a live mutator,
    * keepVersions >= 2) doesn't thrash the memoization by alternately
    * evicting each other's entry. */
  def modelCached(key: String, version: Long)(load: => Model): Model =
    modelCache.get((key, version)).getOrElse {
      val m = modelCache.getOrElseUpdate((key, version), load)
      // maxOption, not max: a concurrent invalidateCached (factory
      // rebuild / drop at the same path) can empty this key's entries
      // between the insert above and this scan — eviction then has
      // nothing to do, and .max would crash the reader instead.
      modelCache.keys.collect { case (k1, v) if k1 == key => v }
        .maxOption.foreach { newest =>
          modelCache.keys.foreach { case k @ (k1, v) =>
            if (k1 == key && v < newest - 1) modelCache.remove(k)
          }
        }
      m
    }

  /** Build-once/search-many: the reference trains IVF at ingest and
    * reuses it for every search (index.py:239-291); `fitCached` is that
    * lifecycle for callers that address a store by key (e.g. its path).
    *
    * `version` is the DATA version of whatever `key` addresses: pass
    * the store's snapshot version for mutable inputs and staleness is
    * impossible by construction — a mutation bumps the version, the
    * cache misses, and the old entry is evicted. The default 0 is for
    * genuinely immutable inputs (benchmark/test corpora); for those,
    * [[invalidateCached]] remains as the manual hatch. */
  def fitCached(key: String, df: => DataFrame, vecCol: String, nlist: Int,
                seed: Long = 42L, maxIter: Int = 20,
                initMode: String = "k-means||", fitFraction: Double = 1.0,
                version: Long = 0L): Model = {
    // Normalize the auto sentinel BEFORE keying: -1 and 0 are the same
    // fit (see [[fit]]), so they must share one cache entry — two keys
    // would double-fit and double-cache identical models.
    val nl = if (nlist == -1) 0 else nlist
    modelCached(s"$key|$vecCol|$nl|$seed|$maxIter|$initMode|$fitFraction", version)(
      fit(df, vecCol, nl, seed, maxIter, initMode, fitFraction))
  }

  /** Drop every cached model whose logical key starts with `keyPrefix`
    * — the manual hatch for unversioned (version = 0) [[fitCached]]
    * callers that mutate their data in place. */
  def invalidateCached(keyPrefix: String): Unit =
    modelCache.keys.filter(_._1.startsWith(keyPrefix)).foreach(modelCache.remove)

  /** The NEWEST version currently cached under `key` (None if not
    * cached) — observability for tests/ops: lets a caller assert the
    * cache tracks its data version without exposing the model map.
    * (The cache may also hold version newest−1 for a pinned reader —
    * see [[modelCached]].) */
  def cachedVersion(key: String): Option[Long] = {
    val vs = modelCache.keys.collect { case (k, v) if k == key => v }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** The reference's IVF activation gate: IVF only pays off with
    * >= 30·nlist points (index.py:152-166, config.py:125-129).
    * `nlist = -1` is the AUTO sentinel (r16, [[autoNlist]]): activate
    * once the corpus clears 30·(the floor of 8) = 240 points — the
    * derived nlist then satisfies the 30·nlist rule by construction
    * (autoNlist(n) = 8 up to n < 1920, and the √(n/30) branch keeps
    * 30·k <= n for every larger n). `nlist = 0` stays "IVF off". */
  def shouldUseIvf(nlist: Int, count: Long): Boolean =
    if (nlist == -1) count >= 240L
    else nlist > 0 && count >= 30L * nlist
}
