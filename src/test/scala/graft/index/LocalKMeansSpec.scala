package graft.index

import java.nio.file.Files

import graft.{JobProbe, SparkSpec}

class LocalKMeansSpec extends SparkSpec {
  import spark.implicits._

  private def cloud(n: Int, dim: Int, seed: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def bits(cs: Array[Array[Double]]): Seq[Seq[Long]] =
    cs.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  test("same points and seed give bit-identical centroids") {
    val pts = cloud(500, 6, 3)
    for (mode <- Seq("k-means||", "random")) {
      val a = LocalKMeans.train(pts, 7, seed = 11L, maxIter = 20, initMode = mode)
      val b = LocalKMeans.train(pts.map(_.clone), 7, seed = 11L, maxIter = 20, initMode = mode)
      assert(bits(a) == bits(b), s"$mode: two fits of the same input differ")
      // One iteration: the means of the first assignment, so a new seed
      // (a new init) shows even where both runs would converge alike.
      assert(bits(LocalKMeans.train(pts, 7, 11L, 1, mode)) !=
        bits(LocalKMeans.train(pts, 7, 12L, 1, mode)), s"$mode: the seed does not reach the fit")
    }
  }

  test("both init modes return exactly k centroids, or one per distinct point when fewer") {
    val pts = cloud(300, 4, 5)
    // Heavy duplication: 300 rows over 40 distinct points.
    val dup = Array.tabulate(300)(i => pts(i % 40).clone)
    val three = Array.tabulate(90)(i => Array(i % 3 * 1.0, 0.0))
    for (mode <- Seq("k-means||", "random"); k <- Seq(1, 8, 40)) {
      assert(LocalKMeans.train(pts, k, 1L, 20, mode).length == k, s"$mode k=$k")
      assert(LocalKMeans.train(dup, k, 1L, 20, mode).length == k, s"$mode k=$k (dups)")
    }
    for (mode <- Seq("k-means||", "random")) {
      val got = LocalKMeans.train(three, 5, 1L, 20, mode)
      assert(got.map(_.toSeq).toSet == Set(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(2.0, 0.0)),
        s"$mode: ${got.map(_.toSeq).toSeq}")
    }
  }

  test("an empty list keeps its centroid") {
    val pts = Array(Array(0.0), Array(1.0), Array(2.0))
    val out = LocalKMeans.lloyd(pts, Array(Array(0.5), Array(100.0)), maxIter = 10)
    assert(out(1).toSeq == Seq(100.0))
    assert(out(0).toSeq == Seq(1.0))
  }

  test("a frame over 256·k rows trains on at most 256·k points") {
    val df = cloud(6000, 3, 9).toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "vec")
    val (pts, k) = IvfIndex.trainingSet(df, "vec", nlist = 4, seed = 42L,
      fitFraction = 1.0, rowCount = -1L, dim = -1)
    assert(k == 4 && pts.nonEmpty && pts.length <= 256 * 4, s"k=$k n=${pts.length}")
    // auto nlist: 6000 rows -> autoNlist = 14, capped at 256·14 = 3584
    val (autoPts, autoK) = IvfIndex.trainingSet(df, "vec", nlist = 0, seed = 42L,
      fitFraction = 1.0, rowCount = 6000L, dim = 3)
    assert(autoK == IvfIndex.autoNlist(6000L))
    assert(autoPts.length <= 256 * autoK && autoPts.length > 256 * autoK / 2,
      s"k=$autoK n=${autoPts.length}")
    assert(IvfIndex.fit(df, "vec", nlist = 0, rowCount = 6000L, dim = 3).nlist == autoK)
  }

  test("the training sample stays under the driver byte budget") {
    val df = cloud(3000, 3, 2).toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "vec")
    // As if each vector had 2^20 elements: the 256 MiB budget holds 32
    // of them, fewer than 256·nlist = 1 024.
    val (pts, _) = IvfIndex.cappedSample(df, "vec", 3000L, 1 << 20, 1.0,
      maxPoints = 256L * 4, seed = 42L, who = "spec")
    assert(pts.nonEmpty && pts.length <= 32, s"${pts.length} points")
  }

  test("fit with a known row count and dim runs exactly one Spark job") {
    val dir = Files.createTempDirectory("graft-kmeans").toString + "/vecs"
    cloud(3000, 8, 4).toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "vec")
      .write.parquet(dir)
    val df = spark.read.parquet(dir)
    val (known, knownJobs) = JobProbe(spark)(
      IvfIndex.fit(df, "vec", nlist = 0, rowCount = 3000L, dim = 8))
    assert(knownJobs.length == 1, s"fit with a known shape ran ${knownJobs.length} jobs")
    val (counted, countedJobs) = JobProbe(spark)(IvfIndex.fit(df, "vec", nlist = 0))
    assert(countedJobs.length > 1, s"fit without a count ran ${countedJobs.length} jobs")
    assert(known.centroids == counted.centroids)
  }
}
