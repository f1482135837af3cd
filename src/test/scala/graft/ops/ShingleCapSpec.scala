package graft.ops

import scala.math.BigDecimal.RoundingMode

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The values the exact set-similarity pairs return when the hot-shingle
  * cap binds. With `maxShingleFreq = Some(f)`, [[Dedup.ngramJaccardPairs]]
  * and [[Dedup.ngramContainmentPairs]] score the REDUCED shingle sets:
  * every shingle in more than `f` documents is removed from both the
  * intersection and the set sizes. The expected maps below do that
  * arithmetic on the driver over the collected shingle sets, and the
  * operators must return exactly those pairs with exactly those
  * (4-dp, HALF_UP) values. */
class ShingleCapSpec extends SparkSpec {
  import spark.implicits._

  // Six families of three docs (a base, a one-token variant, a prefix)
  // of different lengths; phrase P0 on every even doc (df 9) and P1 on
  // docs 3, 9 and 15 (df 3), so caps 2, 3 and 5 each drop a different
  // shingle set and leave docs with different reduced sizes.
  private val docs: DataFrame = {
    val families = (0 until 6).flatMap { i =>
      val base = (0 until 10 + i).map(t => s"w${i}_$t")
      Seq(base, base.dropRight(2) :+ s"x$i", base.take(6 + i / 2))
    }
    val phrases = Seq("click here to subscribe now", "all rights reserved by the author")
    families.zipWithIndex.map { case (toks, j) =>
      val extra = if (j % 2 == 0) phrases(0) else if (j % 3 == 0) phrases(1) else ""
      (j.toLong, (toks.mkString(" ") + " " + extra).trim)
    }.toDF("id", "text")
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, RoundingMode.HALF_UP).toDouble

  /** Pairs with >= 1 shared kept shingle whose rounded ratio over the
    * kept sets reaches `threshold`. */
  private def expected(n: Int, cap: Long, threshold: Double)
                      (ratio: (Int, Int, Int) => Double): Map[(Long, Long), Double] = {
    val sets = docs.select(col("id"), TextFunctions.shingles(col("text"), n))
      .as[(Long, Seq[String])].collect().map { case (id, s) => id -> s.toSet }.toMap
    val df = sets.values.toSeq.flatMap(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
    val kept = sets.map { case (id, s) => id -> s.filter(df(_) <= cap) }
    (for {
      (a, sa) <- kept.toSeq
      (b, sb) <- kept.toSeq
      if a < b
      common = (sa & sb).size
      if common > 0
      r = round4(ratio(common, sa.size, sb.size))
      if r >= threshold
    } yield (a, b) -> r).toMap
  }

  private def got(pairs: DataFrame): Map[(Long, Long), Double] =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private val jaccard = (c: Int, a: Int, b: Int) => c.toDouble / (a + b - c).toDouble
  private val containment = (c: Int, a: Int, b: Int) => c.toDouble / math.min(a, b).toDouble

  for (cap <- Seq(2L, 3L, 5L)) {
    test(s"ngramJaccardPairs scores the kept shingle sets when maxShingleFreq = $cap binds") {
      val want = expected(3, cap, 0.1)(jaccard)
      assert(want.nonEmpty)
      // the cap binds: uncapped arithmetic gives other pairs or values
      assert(want != expected(3, Long.MaxValue, 0.1)(jaccard))
      assert(got(Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.1, Some(cap))) == want)
    }

    test(s"ngramContainmentPairs scores the kept shingle sets when maxShingleFreq = $cap binds") {
      val want = expected(3, cap, 0.2)(containment)
      assert(want.nonEmpty)
      assert(want != expected(3, Long.MaxValue, 0.2)(containment))
      assert(got(Dedup.ngramContainmentPairs(docs, "id", "text", 3, 0.2, Some(cap))) == want)
    }
  }
}
