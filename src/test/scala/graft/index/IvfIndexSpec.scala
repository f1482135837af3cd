package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private val model = IvfIndex.Model(IndexedSeq(
    IndexedSeq(1.0, 0.0, 0.0),
    IndexedSeq(0.0, 1.0, 0.0),
    IndexedSeq(0.0, 0.0, 1.0)))

  test("fit tolerates null vectors and fails LOUDLY on an all-null sample (shared scaffolding)") {
    // Null vectors carry no training signal and used to NPE inside
    // MLlib's feature conversion on the IVF side (the PQ side already
    // guarded — the shared trainingSample helper makes both uniform).
    val withNull = (Seq.tabulate(60)(i =>
        Some(Seq((i % 5).toDouble, ((i * 7) % 11).toDouble, (i % 3) * 0.5))) :+
        Option.empty[Seq[Double]])
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val m = IvfIndex.fit(withNull, "vec", nlist = 3, maxIter = 2,
      initMode = "random")
    assert(m.nlist == 3)
    // all-null: the clear require message, not an opaque KMeans crash
    val allNull = Seq((1L, Option.empty[Seq[Double]])).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.fit(allNull, "vec", nlist = 2)
    }
    assert(e.getMessage.contains("training sample"))
  }

  test("assignCol: hand-checked assignments, ties to lowest cluster") {
    val docs = Seq(
      (0L, Seq(0.9, 0.1, 0.0)),   // -> 0
      (1L, Seq(0.1, 0.8, 0.2)),   // -> 1
      (2L, Seq(0.0, 0.1, 1.1)),   // -> 2
      (3L, Seq(0.5, 0.5, 0.0))    // equidistant to 0 and 1 -> 0
    ).toDF("id", "vec")
    val got = docs.withColumn("c", model.assignCol(col("vec"), roundScale = 4))
      .orderBy("id").select("c").as[Int].collect().toSeq
    assert(got == Seq(0, 1, 2, 0))
  }

  test("fused assignCol == HOF assignColSql on random vectors (rounded and raw)") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(3)(rnd.nextDouble() * 2 - 1))).toDF("id", "vec")
    for (rs <- Seq(-1, 4)) {
      val fused = vecs.withColumn("c", model.assignCol(col("vec"), rs))
        .orderBy("id").select("c").as[Int].collect().toSeq
      val hof = vecs.withColumn("c", model.assignColSql(col("vec"), rs))
        .orderBy("id").select("c").as[Int].collect().toSeq
      assert(fused == hof, s"mismatch at roundScale=$rs")
    }
  }

  test("assignProbesCol: element 0 == assignCol; full list == per-row nearestCentroids") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 200).map(i =>
      (i.toLong, Seq.fill(3)(rnd.nextDouble() * 2 - 1)))
    val vecs = rows.toDF("id", "vec")
    for (rs <- Seq(-1, 4)) {
      val got = vecs
        .withColumn("p", model.assignProbesCol(col("vec"), 2, rs))
        .withColumn("ps", model.assignProbesColSql(col("vec"), 2, rs))
        .withColumn("c", model.assignCol(col("vec"), rs))
        .orderBy("id").select("p", "ps", "c")
        .collect().map(r =>
          (r.getSeq[Int](0).toSeq, r.getSeq[Int](1).toSeq, r.getInt(2)))
      got.zip(rows).foreach { case ((probes, probesSql, primary), (_, v)) =>
        assert(probes.head == primary, s"probe 0 != assignCol at rs=$rs")
        assert(probes == probesSql, s"fused kernel != HOF twin at rs=$rs")
        assert(probes == model.nearestCentroids(v, 2, rs),
          s"probe list != nearestCentroids at rs=$rs")
      }
    }
    intercept[IllegalArgumentException] {
      model.assignProbesCol(col("vec"), 99)
    }
  }

  test("nearestCentroids fails fast on query/centroid dim mismatch") {
    // A longer query would silently rank prefix-only distances (a
    // plausible but wrong probe set); a shorter one would throw a bare
    // IndexOutOfBounds mid-loop. Both must be a clear require instead.
    intercept[IllegalArgumentException] {
      model.nearestCentroids(Seq(1.0, 0.0), 1)
    }
    intercept[IllegalArgumentException] {
      model.nearestCentroids(Seq(1.0, 0.0, 0.0, 0.0), 1)
    }
  }

  test("nearestCentroids agrees with assignCol's nearest at nprobe=1") {
    val rnd = new scala.util.Random(3)
    (0 until 50).foreach { _ =>
      val q = Seq.fill(3)(rnd.nextDouble() * 2 - 1)
      val viaExpr = Seq((0L, q)).toDF("id", "vec")
        .withColumn("c", model.assignCol(col("vec"), roundScale = 4))
        .select("c").as[Int].head
      assert(model.nearestCentroids(q, 1, roundScale = 4).head == viaExpr)
    }
  }

  test("autoNlist: the √(n/30) rule with the floor-8 and sample clamps") {
    // Exact formula values — the rule itself is the contract (r15
    // verdict #1: the measured cliff was a caller pinning nlist while
    // the corpus grew; this function is the default that prevents it).
    assert(IvfIndex.autoNlist(240000L) == 89)    // round(√8000) = 89
    assert(IvfIndex.autoNlist(192000L) == 80)    // the r15 ×100 fix value
    assert(IvfIndex.autoNlist(2000L) == 8)       // √(2000/30) ≈ 8.2 → 8
    assert(IvfIndex.autoNlist(100L) == 8)        // floor 8 below the knee
    assert(IvfIndex.autoNlist(5L) == 5)          // clamp: k <= points
    // fitFraction scales the SAMPLE count back to the corpus estimate:
    // a 10% sample of 240k rows must size clusters for 240k, not 24k.
    assert(IvfIndex.autoNlist(24000L, fitFraction = 0.1) == 89)
    // Consistency with the 30·nlist activation gate at scale: for any
    // corpus past the floor knee, the derived nlist passes the gate.
    for (n <- Seq(2000L, 10000L, 1000000L, 100000000L))
      assert(IvfIndex.shouldUseIvf(IvfIndex.autoNlist(n), n),
        s"gate fails at n=$n nlist=${IvfIndex.autoNlist(n)}")
  }

  test("fit with nlist = 0 derives the cluster count; explicit nlist still wins") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 120).map(i =>
      (i.toLong, Seq.fill(3)(rnd.nextDouble() * 2 - 1))).toDF("id", "vec")
    // 120 points → autoNlist = max(8, round(√4)) = 8 clusters.
    val auto = IvfIndex.fit(vecs, "vec", nlist = 0, maxIter = 2,
      initMode = "random")
    assert(auto.nlist == IvfIndex.autoNlist(120L),
      s"auto fit produced ${auto.nlist}")
    // Explicit nlist is untouched by the auto path (the oracle-pinned
    // queries replay fixed fits and must stay bit-stable).
    val explicit = IvfIndex.fit(vecs, "vec", nlist = 3, maxIter = 2,
      initMode = "random")
    assert(explicit.nlist == 3)
    // Tiny corpus: the sample clamp keeps KMeans satisfiable (k <= n).
    val tiny = (0 until 5).map(i =>
      (i.toLong, Seq(i.toDouble, 0.0, 0.0))).toDF("id", "vec")
    assert(IvfIndex.fit(tiny, "vec", nlist = 0, maxIter = 2,
      initMode = "random").nlist == 5)
    // Sentinel unification (r16 ADVICE): StoreConfig documents -1 as
    // AUTO, so fit(-1) must be an alias for fit(0), not a runtime
    // error — identical centroids, one code path.
    val autoAlias = IvfIndex.fit(vecs, "vec", nlist = -1, maxIter = 2,
      initMode = "random")
    assert(autoAlias.centroids == auto.centroids,
      "fit(-1) must alias fit(0) bit-for-bit")
    intercept[IllegalArgumentException] {
      IvfIndex.fit(vecs, "vec", nlist = -2)
    }
  }

  test("fit is a function of the rows: scan order and partitioning do not move the centroids") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 400).map(i => (i.toLong, Seq.fill(4)(rnd.nextDouble() * 2 - 1)))
    // 400 points under the 256·nlist cap: every row trains, unsampled.
    val onePartition = rows.toDF("id", "vec").repartition(1)
    val fourShuffled = new scala.util.Random(9).shuffle(rows).toDF("id", "vec").repartition(4)
    for (init <- Seq("k-means||", "random")) {
      val a = IvfIndex.fit(onePartition, "vec", nlist = 4, initMode = init, rowCount = 400L, dim = 4)
      val b = IvfIndex.fit(fourShuffled, "vec", nlist = 4, initMode = init, rowCount = 400L, dim = 4)
      assert(a.centroids == b.centroids, s"initMode $init")
    }
  }

  test("fitCached: -1 and 0 share ONE cache entry (normalized key)") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Seq.fill(3)(rnd.nextDouble()))).toDF("id", "vec")
    val key = s"sentinel-unify-${System.nanoTime()}"
    val a = IvfIndex.fitCached(key, vecs, "vec", nlist = 0, maxIter = 2,
      initMode = "random")
    val b = IvfIndex.fitCached(key, vecs, "vec", nlist = -1, maxIter = 2,
      initMode = "random")
    // Same MODEL INSTANCE proves the second call was a cache hit, not a
    // second fit under a distinct-sentinel key.
    assert(a eq b, "fitCached(-1) must hit the fitCached(0) entry")
    IvfIndex.invalidateCached(key)
  }
}
