package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** The fixed vocabulary every seed draws from: English stopwords at the
  * top Zipf ranks (so the quality filters see ordinary prose statistics),
  * then synthetic lowercase content words. It is built from a constant
  * seed, so only the workload seed varies the inputs. */
object Vocab {
  private val stop = Vector("the", "of", "and", "to", "in", "a", "is", "that",
    "for", "it", "as", "was", "with", "be", "by", "on", "not", "he", "this",
    "are", "or", "his", "from", "at", "which", "but", "have", "an", "had",
    "they", "you", "were", "their", "one", "all", "we", "can", "her", "has",
    "there", "been", "if", "more", "when", "will", "would", "who", "so", "no")

  val words: Vector[String] = {
    val rng = new SplittableRandom(20240601L)
    val onsets = Vector("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n",
      "p", "r", "s", "t", "v", "w", "z", "br", "cr", "dr", "gr", "pl", "st",
      "tr", "sh", "ch", "th")
    val vowels = Vector("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
    val codas = Vector("", "n", "r", "s", "t", "l", "m", "nd", "st", "rk")
    def pick(v: Vector[String]) = v(rng.nextInt(v.size))
    val seen = mutable.LinkedHashSet[String]() ++= stop
    while (seen.size < 8000) {
      val syl = 1 + rng.nextInt(3)
      seen += (0 until syl).map(_ => pick(onsets) + pick(vowels) + pick(codas)).mkString
    }
    seen.toVector
  }

  /** Zipf exponent of word frequencies (rank 1 = "the"). */
  val zipfS = 0.9
  private val wordCdf = Zipf.cdf(words.size, zipfS)
  def word(rng: SplittableRandom): String = words(Zipf.draw(wordCdf, rng))
}

object Zipf {
  def cdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  /** Index of the first cdf entry >= u (u uniform in [0, 1)). */
  def draw(cdf: Array[Double], rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    lo
  }
}

/** Text and metadata generation from one seeded stream. */
final class Gen(seed: Long) {
  val rng = new SplittableRandom(seed)

  /** A document that stays well inside the Gopher quality rules the
    * curation pipeline applies, so a clean document is never dropped by
    * the filter: regenerated until it clears [[Gen.clean]]. */
  def text(minWords: Int, maxWords: Int): String = {
    var t: String = null
    while (t == null || !Gen.clean(t)) {
      val n = minWords + rng.nextInt(maxWords - minWords + 1)
      t = Iterator.fill(n)(Vocab.word(rng)).mkString(" ")
    }
    t
  }

  /** A near duplicate of `t`: `edits` word positions replaced by other
    * vocabulary words (word 3-shingle Jaccard stays high). */
  def nearDup(t: String, edits: Int): String = {
    val toks = t.split(" ")
    var out: String = null
    while (out == null || out == t || !Gen.clean(out)) {
      val c = toks.clone()
      (0 until edits).foreach { _ =>
        val i = rng.nextInt(c.length)
        var w = Vocab.word(rng)
        while (w == c(i)) w = Vocab.word(rng)
        c(i) = w
      }
      out = c.mkString(" ")
    }
    out
  }

  /** A low-quality document: one short phrase repeated, which fails the
    * repetition rules of the quality filter. */
  def spam(): String = {
    val phrase = Iterator.fill(3)(Vocab.words(60 + rng.nextInt(Vocab.words.size - 60)))
      .mkString(" ")
    Iterator.fill(6 + rng.nextInt(6))(phrase).mkString(" ")
  }

  def metadata(): Map[String, String] = Map(
    "source" -> Gen.Sources(rng.nextInt(Gen.Sources.size)),
    "category" -> Gen.Categories(rng.nextInt(Gen.Categories.size)),
    "rev" -> rng.nextInt(1000).toString)
}

object Gen {
  val Sources = Vector("web", "wiki", "news", "forum", "books", "code")
  val Categories = Vector("science", "sports", "arts", "tech", "health",
    "travel", "food", "history")

  /** Driver-side mirror of the Gopher repetition rules, with margins:
    * at least 10 tokens, distinct-token ratio >= 0.4, most frequent token
    * share <= 0.15, duplicated-bigram share <= 0.03 (the filter's own
    * limits are 0.3, 0.2 and 0.05); texts are lowercase letters and
    * single spaces, so the symbol rule holds by construction. */
  def clean(t: String): Boolean = {
    val toks = t.split(" ")
    val n = toks.length
    if (n < 10) return false
    val counts = toks.groupBy(identity).view.mapValues(_.length)
    val bigrams = toks.sliding(2).map(_.mkString(" ")).toSeq
    counts.size.toDouble / n >= 0.4 &&
      counts.values.max.toDouble / n <= 0.15 &&
      (bigrams.size - bigrams.distinct.size).toDouble / bigrams.size <= 0.03
  }

  /** Running SHA-256 over every generated input, fed in generation
    * order; two generations from one seed must produce the same digest. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    def add(m: Map[String, String]): Unit = m.toSeq.sorted.foreach { case (k, v) => add(k); add(v) }
    def add(x: Long): Unit = add(x.toString)
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def utf8Bytes(s: String): Long = s.getBytes(UTF_8).length.toLong
  def userBytes(text: String, meta: Map[String, String]): Long =
    utf8Bytes(text) + meta.iterator.map { case (k, v) => utf8Bytes(k) + utf8Bytes(v) }.sum
}
