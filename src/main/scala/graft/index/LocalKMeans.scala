package graft.index

import scala.collection.mutable.ArrayBuffer

/** Deterministic k-means over a driver-held sample (squared L2) — the
  * training kernel behind [[IvfIndex.fit]] and [[PqIndex.fit]]. The
  * reference trains its FAISS quantizer in-process on a sample capped
  * at 256 points per list (index.py:239-291); a coarse quantizer needs
  * rough cells, not a distributed fit over the whole corpus.
  *
  * Output is a function of the points (in order), k, the seed,
  * `maxIter` and `initMode` only: one seeded RNG, fixed loop orders,
  * nearest-centroid ties to the lowest index.
  *
  *  - `"k-means||"` (the default) is MLlib's scalable init run locally:
  *    one seeded random point, [[InitRounds]] rounds that keep each
  *    point with probability min(1, 2k·d²/cost), each candidate
  *    weighted by the points nearest it, then weighted k-means++ and at
  *    most [[InitLloydIters]] weighted Lloyd iterations down to k. If
  *    the rounds leave fewer than k distinct candidates, k-means++
  *    draws from the points top them up. (Plain k-means++ init gives
  *    more balanced lists, and so a lower recall at a fixed nprobe.)
  *  - `"random"` takes k distinct points chosen with the seed.
  *
  * Either way a sample with at least k distinct points yields exactly
  * k centroids; one with fewer yields one per distinct point. Lloyd's
  * algorithm then runs at most `maxIter` iterations and stops once no
  * centroid moves more than [[Tol]] (MLlib's default); an empty list
  * keeps its centroid. */
private[graft] object LocalKMeans {

  /** Convergence tolerance on a centroid's move (L2), as MLlib's. */
  val Tol: Double = 1e-4
  /** Oversampling rounds of the k-means|| init, as MLlib's default. */
  val InitRounds: Int = 2
  /** Weighted Lloyd iterations that reduce the init candidates to k. */
  val InitLloydIters: Int = 30

  def train(points: Array[Array[Double]], k: Int, seed: Long, maxIter: Int,
            initMode: String = "k-means||"): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs at least one point")
    require(k >= 1, s"k $k must be >= 1")
    val dim = points.head.length
    require(points.forall(_.length == dim), "k-means points must share one dimension")
    val rnd = new scala.util.Random(seed)
    val init = initMode match {
      case "k-means||" => parallelInit(points, k, rnd)
      case "random" => randomInit(points, k, rnd)
      case other => throw new IllegalArgumentException(
        s"initMode $other must be k-means|| or random")
    }
    lloyd(points, init, maxIter)
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { val t = a(j) - b(j); s += t * t; j += 1 }
    s
  }

  /** Index of the nearest centroid (lowest index on ties). A partial
    * sum that already reaches the best distance is abandoned; the sums
    * that finish are computed in full, in order, so the answer is the
    * exhaustive one. */
  private def nearest(p: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity; var c = 0
    while (c < cs.length) {
      val cc = cs(c)
      var s = 0.0; var j = 0
      while (j < p.length && s < bestD) { val t = p(j) - cc(j); s += t * t; j += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  private def minDist(p: Array[Double], cs: Array[Array[Double]]): Double =
    if (cs.isEmpty) Double.PositiveInfinity else sqDist(p, cs(nearest(p, cs)))

  /** Distinct points, first occurrence order. */
  private def distinct(points: Array[Array[Double]]): Array[Array[Double]] = {
    val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
    points.filter(p => seen.add(p.toSeq))
  }

  private def randomInit(points: Array[Array[Double]], k: Int,
                         rnd: scala.util.Random): Array[Array[Double]] = {
    val ds = distinct(points)
    if (ds.length <= k) ds
    else rnd.shuffle(ds.indices.toVector).take(k).map(ds(_)).toArray
  }

  /** Index drawn with probability weight(i) / Σ weight; only positive
    * weights can be drawn. None when every weight is zero. */
  private def draw(weight: Array[Double], rnd: scala.util.Random): Option[Int] = {
    val total = weight.sum
    if (!(total > 0.0)) None
    else {
      val r = rnd.nextDouble() * total
      var acc = 0.0; var i = 0; var last = -1; var hit = -1
      while (i < weight.length && hit < 0) {
        if (weight(i) > 0.0) { acc += weight(i); last = i; if (acc > r) hit = i }
        i += 1
      }
      Some(if (hit >= 0) hit else last)
    }
  }

  private def parallelInit(points: Array[Array[Double]], k: Int,
                           rnd: scala.util.Random): Array[Array[Double]] = {
    val n = points.length
    val cands = ArrayBuffer(points(rnd.nextInt(n)))
    val cost = Array.fill(n)(Double.PositiveInfinity)
    var fresh = cands.toArray
    var round = 0
    while (round < InitRounds && fresh.nonEmpty) {
      var i = 0
      while (i < n) { cost(i) = math.min(cost(i), minDist(points(i), fresh)); i += 1 }
      val total = cost.sum
      fresh =
        if (!(total > 0.0)) Array.empty
        else points.indices.filter(i => rnd.nextDouble() < 2.0 * k * cost(i) / total)
          .map(points(_)).toArray
      cands ++= fresh
      round += 1
    }
    val dc = ArrayBuffer.from(distinct(cands.toArray))
    if (dc.length < k) {
      // Top-up: k-means++ draws from the points. A point equal to a
      // candidate has cost 0 and is never drawn, so every draw is new.
      val seeds = dc.toArray
      val c = points.map(minDist(_, seeds))
      var next = draw(c, rnd)
      while (dc.length < k && next.isDefined) {
        val p = points(next.get)
        dc += p
        var i = 0
        while (i < n) { c(i) = math.min(c(i), sqDist(points(i), p)); i += 1 }
        next = draw(c, rnd)
      }
    }
    if (dc.length <= k) dc.toArray
    else {
      val cs = dc.toArray
      val weight = new Array[Double](cs.length)
      points.foreach(p => weight(nearest(p, cs)) += 1.0)
      weightedKMeansPlusPlus(cs, weight, k, rnd)
    }
  }

  /** Weighted k-means++ over the candidates, then weighted Lloyd
    * iterations until no assignment changes (at most
    * [[InitLloydIters]]). Every candidate is a distinct point with
    * weight >= 1 (it is nearest to itself), so the k seeds are
    * distinct. */
  private def weightedKMeansPlusPlus(cs: Array[Array[Double]], weight: Array[Double],
                                     k: Int, rnd: scala.util.Random): Array[Array[Double]] = {
    val centers = ArrayBuffer(cs(draw(weight, rnd).get))
    val cost = cs.map(sqDist(_, centers.head))
    while (centers.length < k) {
      val pick = cs(draw(Array.tabulate(cs.length)(i => weight(i) * cost(i)), rnd).get)
      centers += pick
      var i = 0
      while (i < cs.length) { cost(i) = math.min(cost(i), sqDist(cs(i), pick)); i += 1 }
    }
    val out = centers.toArray
    val assigned = Array.fill(cs.length)(-1)
    var moved = true; var iter = 0
    while (moved && iter < InitLloydIters) {
      moved = false
      var i = 0
      while (i < cs.length) {
        val c = nearest(cs(i), out)
        if (c != assigned(i)) { assigned(i) = c; moved = true }
        i += 1
      }
      recenter(cs, weight, assigned, out)
      iter += 1
    }
    out
  }

  /** Weighted means of each list in place; an empty list keeps its
    * centroid. Returns the largest squared move. */
  private def recenter(points: Array[Array[Double]], weight: Array[Double],
                       assigned: Array[Int], centers: Array[Array[Double]]): Double = {
    val dim = centers.head.length
    val sums = Array.fill(centers.length)(new Array[Double](dim))
    val mass = new Array[Double](centers.length)
    var i = 0
    while (i < points.length) {
      val s = sums(assigned(i)); val p = points(i); val w = weight(i)
      var j = 0
      while (j < dim) { s(j) += w * p(j); j += 1 }
      mass(assigned(i)) += w
      i += 1
    }
    var maxMove = 0.0
    var c = 0
    while (c < centers.length) {
      if (mass(c) > 0.0) {
        val s = sums(c)
        var j = 0
        while (j < dim) { s(j) /= mass(c); j += 1 }
        maxMove = math.max(maxMove, sqDist(s, centers(c)))
        centers(c) = s
      }
      c += 1
    }
    maxMove
  }

  private[index] def lloyd(points: Array[Array[Double]], init: Array[Array[Double]],
                    maxIter: Int): Array[Array[Double]] = {
    val centers = init.map(_.clone)
    val unit = Array.fill(points.length)(1.0)
    val assigned = new Array[Int](points.length)
    var converged = false; var iter = 0
    while (!converged && iter < maxIter) {
      var i = 0
      while (i < points.length) { assigned(i) = nearest(points(i), centers); i += 1 }
      converged = recenter(points, unit, assigned, centers) <= Tol * Tol
      iter += 1
    }
    centers
  }
}
