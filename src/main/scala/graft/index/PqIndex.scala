package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Product quantization — the Spark-native counterpart of FAISS
  * IndexPQ / the PQ residual stage of IndexIVFPQ (the reference exposes
  * faiss index types through its config, reference
  * src/langchain_memvid/config.py:119-133; PQ is the standard
  * memory-bound scale path the reference reaches for above IVFFlat).
  *
  * Model = `m` independent codebooks, one per contiguous subspace of
  * `dsub = dim/m` components; each codebook holds `ksub` centroids.
  * Encoding maps a vector to `m` small codes (argmin per subspace) —
  * 64 floats (256 B) become e.g. 4 bytes, a 64× compression that is
  * what makes billion-vector ANN fit a cluster's memory at 100 TB.
  *
  * Search is ADC (asymmetric distance computation): the query stays
  * un-quantized; a tiny `m × ksub` lookup table of exact
  * query-slice→centroid distances is computed once on the driver and
  * shipped as a literal, so the per-row work is `m` array lookups + a
  * sum — no float vector math at all, fully codegen'd, zero shuffle up
  * to the final TakeOrderedAndProject heap.
  *
  * Everything is deterministic/engine-reproducible under `roundScale`
  * (same convention as [[IvfIndex]]): distances are rounded before any
  * argmin, and ADC totals are summed in exact fixed-point micros.
  */
object PqIndex {

  /** Trained product quantizer: codebooks(sub)(code) is a centroid of
    * length dsub. All codebooks must be rectangular. */
  final case class Model(codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) {
    require(codebooks.nonEmpty, "need at least one subspace")
    require(codebooks.forall(_.length == codebooks.head.length),
      "ragged codebooks: every subspace needs the same ksub")
    require(codebooks.forall(_.forall(_.length == codebooks.head.head.length)),
      "ragged centroids: every centroid needs the same dsub")

    def m: Int = codebooks.length
    def ksub: Int = codebooks.head.length
    def dsub: Int = codebooks.head.head.length
    def dim: Int = m * dsub

    /** Encode expression: `array<int>` of `m` codes — per subspace, the
      * index of the L2-nearest centroid (ties -> lowest code, matching
      * [[IvfIndex.Model.assignCol]]). Each subspace runs the fused
      * [[graft.functions.NearestCentroidExpr]] kernel over its slice
      * (one primitive loop/row/subspace); the codebooks travel inside
      * the expression (tiny: m·ksub·dsub doubles). Bit-identical to
      * [[encodeColSql]] (asserted in PqIndexSpec). */
    def encodeCol(vec: Column, roundScale: Int = -1): Column = {
      val ve = org.apache.spark.sql.GraftSqlBridge.expression(asDouble(vec))
      // totalDim closes the overlong-vector hole: every subspace slice
      // of a 72-dim vector "fits" a 64-dim model (avail >= dsub in all
      // of them), so only the whole-vector length check can reject it.
      array((0 until m).map { sub =>
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.NearestCentroidExpr(
            ve, codebooks(sub), sub * dsub, dsub, roundScale, totalDim = dim))
      }: _*)
    }

    /** HOF reference twin of [[encodeCol]] (pure built-ins) — the
      * replayable specification of the encoding. */
    def encodeColSql(vec: Column, roundScale: Int = -1): Column = {
      val v = asDouble(vec)
      val codes = (0 until m).map { sub =>
        val cb = typedlit(codebooks(sub))
        val sl = slice(v, sub * dsub + 1, dsub)
        val dists = transform(cb, c => {
          val d = aggregate(
            zip_with(sl, c, (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x)
          if (roundScale >= 0) round(d, roundScale) else d
        })
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }
      array(codes: _*)
    }

    /** Driver-side ADC lookup table in fixed-point micros-style units:
      * table(sub)(code) = round(||query_sub - centroid||², roundScale)
      * · 10^roundScale, exact in a Long. HALF_UP rounding matches Spark
      * and DuckDB `round()`, so an external oracle reproduces every
      * entry. */
    def adcTable(query: Seq[Double], roundScale: Int = 4): IndexedSeq[IndexedSeq[Long]] = {
      require(query.length == dim, s"query dim ${query.length} != $dim")
      val pow = BigDecimal(10).pow(roundScale)
      codebooks.zipWithIndex.map { case (cb, sub) =>
        cb.map { c =>
          var d = 0.0; var j = 0
          while (j < dsub) {
            val t = query(sub * dsub + j) - c(j); d += t * t; j += 1
          }
          (BigDecimal(d).setScale(roundScale,
            scala.math.BigDecimal.RoundingMode.HALF_UP) * pow).toLongExact
        }
      }
    }

    /** ADC distance expression over a codes column: sum of `m` literal
      * table lookups, in exact integer fixed point (no float fold —
      * merge/row order can't matter). Lower = closer.
      *
      * The explicit when-guard is LOAD-BEARING for nullability, not
      * style: `element_at` over a foldable all-non-null literal array
      * reports nullable=false even though a NULL index (a null-vec
      * doc's null code) still evaluates to NULL — so without the
      * guard the whole sum claimed non-nullable and Catalyst PRUNED
      * every downstream `adc IS NOT NULL` filter, letting null-vec
      * rows (NULLS FIRST under ASC) silently consume the entire
      * candidate budget in every ADC consumer. Codes are all-null or
      * all-non-null per row (one fused kernel per subspace over the
      * same input), so guarding element 1 covers the row. */
    def adcMicrosCol(codes: Column, query: Seq[Double], roundScale: Int = 4): Column = {
      val table = adcTable(query, roundScale)
      val total = (0 until m).map { sub =>
        element_at(typedlit(table(sub)), element_at(codes, sub + 1) + 1)
      }.reduce(_ + _)
      when(codes.isNull || element_at(codes, 1).isNull,
        lit(null).cast("long")).otherwise(total)
    }
  }

  /** Train: `m` independent [[LocalKMeans]] fits, one per subspace
    * slice (seeded `seed + sub`), all on ONE collected sample of at
    * most [[IvfIndex.MaxPointsPerCentroid]]·ksub vectors — the same
    * sampling posture as [[IvfIndex.fit]] (FAISS trains PQ codebooks on
    * a capped sample too). Three Spark jobs: a count and a one-row read
    * that size the cap, then the collect. */
  def fit(df: DataFrame, vecCol: String, m: Int, ksub: Int, seed: Long = 42L,
          maxIter: Int = 20, fitFraction: Double = 1.0): Model = {
    val (n, d) = IvfIndex.shape(df, vecCol, -1L, -1)
    val (points, _) = IvfIndex.cappedSample(df, vecCol, n, d, fitFraction,
      IvfIndex.MaxPointsPerCentroid.toLong * ksub, seed, "PqIndex.fit")
    val dim = points.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Model((0 until m).map { sub =>
      LocalKMeans.train(points.map(_.slice(sub * dsub, (sub + 1) * dsub)),
        ksub, seed + sub, maxIter).map(_.toIndexedSeq).toIndexedSeq
    })
  }

  /** ADC top-k candidates + exact rerank: rank all rows by quantized
    * distance (a heap over `m` integer lookups per row), keep
    * `candidates`, then score only those with the exact metric and keep
    * `k`. Recall < 1 by construction; `candidates` is the knob. Both
    * stages are TakeOrderedAndProject — no join, no window, no full
    * sort. At real scale the `encodeCol` input is a persisted codes
    * column written at ingest; computing it inline here keeps the op
    * self-contained. */
  def search(docs: DataFrame, vecCol: String, model: Model,
             query: Seq[Double], k: Int, candidates: Int,
             metric: String = "cosine", idCol: String = "vec_id",
             roundScale: Int = 4,
             exposeInternals: Boolean = false): DataFrame = {
    // Working columns use collision-proof __ names so a docs frame that
    // legitimately carries a `pq_codes`/`adc_micros` column is never
    // overwritten or silently dropped; the public names appear only in
    // the exposeInternals verification schema (renamed at the end).
    val coded = docs.withColumn("__pq_codes",
      model.encodeCol(col(vecCol), roundScale))
    val cand = coded
      .withColumn("__adc_micros", model.adcMicrosCol(col("__pq_codes"), query, roundScale))
      // Null ADC = null/dim-mismatched vector = never a result — and
      // ASC ordering puts NULLS FIRST, so without this screen null-vec
      // rows would fill the ENTIRE candidate budget ahead of every
      // real document (the store's search paths carry the same guard).
      .where(col("__adc_micros").isNotNull)
      .orderBy(col("__adc_micros"), col(idCol))
      .limit(candidates)
    val ranked = VectorIndex.topK(cand, vecCol, query, k, metric,
      scoreCol = "score", tieBreak = Seq(idCol), roundScale = roundScale)
    // Internal working columns must not leak into the result schema by
    // default (callers write these frames out). exposeInternals keeps
    // them for verification harnesses that hash-check the ADC math.
    // Expose mode CLAIMS the public names (verification harnesses
    // select them): drop any caller columns with those names first, or
    // the rename would produce a duplicate-column schema that fails on
    // the next select.
    if (exposeInternals)
      ranked.drop("pq_codes", "adc_micros")
        .withColumnRenamed("__pq_codes", "pq_codes")
        .withColumnRenamed("__adc_micros", "adc_micros")
    else ranked.drop("__pq_codes", "__adc_micros")
  }

  // ------------------------------------------------------------------
  // OPQ — rotated product quantization (Ge et al., "Optimized Product
  // Quantization", CVPR 2013; FAISS OPQMatrix is the same idea). Plain
  // PQ quantizes FIXED contiguous subspaces, so when the corpus's
  // variance concentrates in a few correlated dimensions one codebook
  // carries all the signal and the other m−1 quantize noise. An
  // orthonormal rotation R applied before encoding decorrelates and
  // BALANCES the subspaces (cosine/L2/IP are rotation-invariant, so
  // search semantics are unchanged); recall at the same (m, ksub) code
  // budget goes up — measured in PqIndexSpec on a variance-concentrated
  // corpus. Scale posture: training reads a sample (covariance is a
  // d² aggregate — one pass, no shuffle of the corpus); encoding adds
  // a d² multiply-add per row at ingest; search rotates only the QUERY
  // on the driver — the ADC scan cost is identical to plain PQ.
  // ------------------------------------------------------------------

  /** An orthonormal rotation with bit-pinned arithmetic: every
    * implementation defines `applyVec` (driver), `rotateCol` (engine)
    * and — for the Householder form — a DuckDB-replayable SQL twin,
    * all evaluating the SAME operations in the SAME order, with each
    * output component rounded HALF_UP at `roundScale` so the three
    * agree bit-for-bit (the determinism convention of [[IvfIndex]]). */
  sealed trait Rotation {
    def dim: Int
    /** Driver-side rotation (for queries), component-rounded. */
    def applyVec(v: Seq[Double], roundScale: Int = RotationScale): IndexedSeq[Double]
    /** Engine-side rotation over an `array<double>` column,
      * component-rounded identically to [[applyVec]]. */
    def rotateCol(vec: Column, roundScale: Int = RotationScale): Column
  }

  /** Component rounding scale shared by every [[Rotation]] path:
    * rotated coordinates carry 6 decimal places. Coarse enough that
    * driver/codegen/DuckDB float-fold ulp differences can't surface,
    * fine enough that downstream distance rounding (4 dp) dominates. */
  val RotationScale: Int = 6

  private def roundHalfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Dense orthonormal rotation (rows of R), the PCA-trained form from
    * [[fitRotation]]. rotated(i) = Σ_j rows(i)(j)·v(j), summed in
    * ascending j — the engine HOF fold and the driver loop are the
    * same left fold, so outputs match bitwise before the shared
    * component round. */
  final case class MatrixRotation(rows: IndexedSeq[IndexedSeq[Double]])
    extends Rotation {
    require(rows.nonEmpty && rows.forall(_.length == rows.length),
      "rotation matrix must be square")
    def dim: Int = rows.length

    def applyVec(v: Seq[Double], roundScale: Int = RotationScale): IndexedSeq[Double] = {
      require(v.length == dim, s"vector dim ${v.length} != $dim")
      val in = v.toIndexedSeq
      rows.map { r =>
        var s = 0.0; var j = 0
        while (j < dim) { s += r(j) * in(j); j += 1 }
        if (roundScale >= 0) roundHalfUp(s, roundScale) else s
      }
    }

    def rotateCol(vec: Column, roundScale: Int = RotationScale): Column = {
      val v = asDouble(vec)
      // NULL/dim screen FIRST: transform maps over the rows LITERAL,
      // not the input, so a null vector used to come out as a non-null
      // array of d null elements — which passed NearestCentroidExpr's
      // length gate and unboxed to 0.0 per component, silently giving
      // every null-vec doc real zero-vector codes (and a wrong-length
      // vector was null-padded past the totalDim check the same way).
      // NULL-on-mismatch is the fused-kernel convention (dimGuard).
      when(v.isNull || size(v) =!= lit(dim),
          lit(null).cast("array<double>"))
        .otherwise(transform(typedlit(rows), r => {
          val d = aggregate(zip_with(r, v, (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x)
          if (roundScale >= 0) round(d, roundScale) else d
        }))
    }
  }

  /** Householder reflection R = I − 2·u·uᵀ/(uᵀu): orthonormal by
    * CONSTRUCTION for any non-zero `u`, and applied in closed form —
    * rotated(i) = v(i) − c·u(i) with c = 2·(u·v)/(u·u) — which is
    * O(d) per row and exactly replayable as DuckDB list arithmetic.
    * That makes it the ORACLE-CHECKABLE rotation: `q_opq_adc` drives
    * the full rotated-PQ path (engine-side rotateCol, rotated
    * codebooks, rotated query, ADC, exact rerank) against a DuckDB
    * twin with `u` taken from a data row. The PCA-trained
    * [[MatrixRotation]] is the quality path; this is the proof
    * harness for the shared plumbing. */
  final case class HouseholderRotation(u: IndexedSeq[Double]) extends Rotation {
    require(u.nonEmpty && u.exists(_ != 0.0), "u must be non-zero")
    def dim: Int = u.length
    // Left fold of squares in ascending order — the same order DuckDB's
    // list_sum(list_transform(uv, x -> x*x)) folds.
    private val duu: Double = {
      var s = 0.0; var j = 0
      while (j < dim) { s += u(j) * u(j); j += 1 }
      s
    }

    def applyVec(v: Seq[Double], roundScale: Int = RotationScale): IndexedSeq[Double] = {
      require(v.length == dim, s"vector dim ${v.length} != $dim")
      val in = v.toIndexedSeq
      var duv = 0.0; var j = 0
      while (j < dim) { duv += u(j) * in(j); j += 1 }
      val c = 2.0 * duv / duu
      IndexedSeq.tabulate(dim) { i =>
        val x = in(i) - c * u(i)
        if (roundScale >= 0) roundHalfUp(x, roundScale) else x
      }
    }

    def rotateCol(vec: Column, roundScale: Int = RotationScale): Column = {
      val v = asDouble(vec)
      val uLit = typedlit(u)
      val c = lit(2.0) * aggregate(zip_with(uLit, v, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) / lit(duu)
      // Bind c ONCE per row via a one-element transform: embedding the
      // O(d) dot-product expression directly in the zip_with lambda
      // made the interpreted HOF re-evaluate the full fold per output
      // element — O(d²)/row against the closed form's documented O(d).
      // The bound lambda variable is an O(1) lookup per element; the
      // arithmetic and its order are unchanged, so driver/engine/DuckDB
      // parity holds bitwise. Same NULL/dim screen as MatrixRotation:
      // zip_with null-pads a short vector past the length gate (each
      // padded slot unboxes to 0.0 in the encode kernel) — mismatches
      // must come out NULL, not as silently-wrong codes.
      when(v.isNull || size(v) =!= lit(dim),
          lit(null).cast("array<double>"))
        .otherwise(element_at(transform(array(c), cv =>
          zip_with(v, uLit, (x, ux) => {
            val r = x - cv * ux
            if (roundScale >= 0) round(r, roundScale) else r
          })), 1))
    }
  }

  /** Train the parametric-OPQ rotation: PCA of a corpus sample, with
    * the principal components dealt ROUND-ROBIN across the `m`
    * subspaces (component t goes to subspace t mod m) so every
    * subspace receives an even share of high-variance directions —
    * the eigenvalue-allocation heuristic of parametric OPQ (Ge et al.
    * §4.1; FAISS OPQMatrix's PCA+random-rotation init is the same
    * family). Deterministic for a given sample: covariance + symmetric
    * eigendecomposition have no seed, and `seed` pins the sample.
    *
    * Scale: covariance is ONE distributed pass producing a d×d driver
    * matrix (fine for embedding dims; this is the standard OPQ
    * training shape), the eigendecomposition is driver-side d³. */
  def fitRotation(df: DataFrame, vecCol: String, m: Int,
                  fitFraction: Double = 1.0, seed: Long = 42L): MatrixRotation = {
    // The covariance pass runs several jobs over the sample: persisted
    // and FORCED up front, so they read a cached table instead of
    // re-executing scan → sample each time.
    val prepared = IvfIndex.sampleFrame(df, vecCol, fitFraction, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (prepared.count() == 0L) throw IvfIndex.emptySample("PqIndex.fitRotation")
      val dim = prepared.select(size(col("__v"))).head.getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val dsub = dim / m
      val mat = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
        prepared.select("__v").rdd.map(r =>
          org.apache.spark.mllib.linalg.Vectors.dense(
            r.getSeq[Double](0).toArray)))
      // Columns of `pc` are the principal components, ordered by
      // decreasing explained variance.
      val (pc, _) = mat.computePrincipalComponentsAndExplainedVariance(dim)
      val rows = IndexedSeq.tabulate(dim) { ri =>
        val sub = ri / dsub
        val slot = ri % dsub
        val comp = slot * m + sub   // round-robin deal over sorted components
        IndexedSeq.tabulate(dim)(i => pc(i, comp))
      }
      MatrixRotation(rows)
    } finally { prepared.unpersist(); () }
  }

  /** Train rotation + codebooks together: fit the rotation on a
    * sample, rotate, fit PQ in the rotated space (where the codebooks
    * actually live). This is the OPQ training pipeline — use the
    * returned pair with [[searchRotated]]. */
  def fitRotated(df: DataFrame, vecCol: String, m: Int, ksub: Int,
                 seed: Long = 42L, maxIter: Int = 20,
                 fitFraction: Double = 1.0): (MatrixRotation, Model) = {
    val rot = fitRotation(df, vecCol, m, fitFraction, seed)
    val rotated = df.withColumn("__rvec", rot.rotateCol(col(vecCol)))
    val model = fit(rotated, "__rvec", m, ksub, seed, maxIter, fitFraction)
    (rot, model)
  }

  /** Rotated-PQ search: rotate the corpus column in the plan (a narrow
    * map — at real scale the rotated/encoded columns are written at
    * ingest, as with plain PQ), rotate the QUERY once on the driver,
    * and run the standard ADC + exact-rerank search in the rotated
    * space. Rotation is orthonormal, so cosine/IP/L2 ranks there are
    * the original-space ranks (up to the shared component rounding,
    * which both the engine and the oracle apply identically). */
  def searchRotated(docs: DataFrame, vecCol: String, rot: Rotation,
                    model: Model, query: Seq[Double], k: Int,
                    candidates: Int, metric: String = "cosine",
                    idCol: String = "vec_id", roundScale: Int = 4,
                    exposeInternals: Boolean = false): DataFrame = {
    require(!graft.Cols.has(docs, "__rvec"),
      "searchRotated uses internal column `__rvec` — the input already has " +
        "a column of that name (as the session resolver matches it); " +
        "rename it first")
    val rdocs = docs.withColumn("__rvec", rot.rotateCol(col(vecCol)))
    search(rdocs, "__rvec", model, rot.applyVec(query), k, candidates,
      metric, idCol, roundScale, exposeInternals)
      .drop("__rvec")
  }

  /** IVF×PQ composition — FAISS IndexIVFPQ, Spark-first: the coarse
    * quantizer prunes the search space to `nprobe` clusters (partition
    * pruning when the store is written `partitionBy("cluster")`), and
    * PQ-ADC ranks only the surviving rows. The two prunings multiply:
    * nprobe/nlist of the data is read, and each surviving row costs
    * `m` integer lookups instead of a d-dim float dot. Unlike FAISS
    * this encodes full vectors, not residuals — residual encoding
    * needs per-cluster ADC tables (nlist·m·ksub driver work), a
    * refinement the rerank stage makes unnecessary at these ksub. */
  def searchIvf(docs: DataFrame, vecCol: String, ivf: IvfIndex.Model,
                pq: Model, query: Seq[Double], k: Int, candidates: Int,
                nprobe: Int = 8, metric: String = "cosine",
                idCol: String = "vec_id", roundScale: Int = 4,
                exposeInternals: Boolean = false): DataFrame = {
    val probes = ivf.nearestCentroids(query, nprobe, roundScale)
    // Reuse a stored cluster column when the docs come from an
    // IVF-partitioned layout — filtering the PARTITION column is what
    // makes the pruning file-level; recomputing the assignment over it
    // would force a full-corpus scan AND pay the kernel per row.
    // Resolver-aware: `col("cluster")` below would resolve to a stored
    // `Cluster` just the same, and exact-case detection would instead
    // silently REPLACE (then drop) that user column via withColumn.
    val hasStoredCluster = graft.Cols.has(docs, "cluster")
    val assigned =
      if (hasStoredCluster) docs
      else docs.withColumn("cluster", ivf.assignCol(col(vecCol), roundScale))
    val pruned = assigned.where(col("cluster").isin(probes: _*))
    val out = search(pruned, vecCol, pq, query, k, candidates, metric, idCol,
      roundScale, exposeInternals)
    // A COMPUTED cluster column is internal (drop unless exposed); a
    // stored one is a real doc column and stays — so the schema never
    // differs between the two paths by accident.
    if (exposeInternals || hasStoredCluster) out else out.drop("cluster")
  }
}
