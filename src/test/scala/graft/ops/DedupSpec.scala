package graft.ops

import graft.SparkSpec
import graft.embed.HashEmbedder

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 0/1 exact dups; 2/3 near-dups (one word changed); 4 unrelated.
  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "pack my box with five dozen liquor jugs for the long journey home"),
    (3L, "pack my box with five dozen liquor jugs for the long voyage home"),
    (4L, "completely different text with no overlap whatsoever in any way")
  ).toDF("id", "text")

  test("exact dedup keeps lowest id and counts dups") {
    val r = Dedup.exact(docs, "id", "text").collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("dup_count")).toMap
    assert(r(0L) == 2)          // 0 survives for {0,1}
    assert(!r.contains(1L))
    assert(r(2L) == 1 && r(3L) == 1 && r(4L) == 1)
  }

  test("exact dedup: null-text rows are each their OWN group, never dups of each other") {
    // Failed decodes are distinct documents that merely lack text —
    // groupBy groups nulls together, so pre-fix every null-text doc
    // but one was silently deleted as a "duplicate".
    val withNulls = docs.unionByName(Seq(
      (10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]),
      (12L, null.asInstanceOf[String])).toDF("id", "text"))
    val r = Dedup.exact(withNulls, "id", "text").collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("dup_count")).toMap
    assert(r.keySet.intersect(Set(10L, 11L, 12L)) == Set(10L, 11L, 12L),
      s"every null-text doc must survive: ${r.keySet}")
    assert(Seq(10L, 11L, 12L).forall(r(_) == 1L))
    assert(r(0L) == 2 && !r.contains(1L)) // real dups unchanged
    // normalized form has the same contract (fingerprint(null) is null)
    val rn = Dedup.exact(withNulls, "id", "text", normalize = true).collect()
      .map(x => x.getAs[Long]("id")).toSet
    assert(rn.intersect(Set(10L, 11L, 12L)) == Set(10L, 11L, 12L))
  }

  test("simhashPairs screens token-less docs (no quadratic null/empty band collisions)") {
    // Null texts' null simhash made concat_ws SKIP the hash in every
    // band key — ALL null-text docs collided in bands "0".."3" and the
    // self-join went quadratic; empty texts all simhash to 0L with the
    // same blow-up. Both are screened like minhashLshPairs' size>0.
    val withNulls = docs.unionByName(Seq(
      (10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]),
      (12L, ""), (13L, "   ")).toDF("id", "text"))
    val pairs = Dedup.simhashPairs(withNulls, "id", "text", maxHamming = 63)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(!pairs.exists { case (a, b) => a >= 10L || b >= 10L },
      s"token-less docs must produce no candidate pairs: ${pairs.toSeq}")
    assert(pairs.contains((0L, 1L))) // real pairs unchanged
  }

  test("ngram Jaccard finds exact and near dup pairs, not unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard")))
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 1L)) == 1.0)
    assert(m.contains((2L, 3L)) && m((2L, 3L)) > 0.3 && m((2L, 3L)) < 1.0)
    assert(!m.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containment flags an excerpt its Jaccard misses") {
    // doc 11 is a verbatim excerpt of doc 10: every shingle of 11 is in
    // 10, so containment = 1.0 while jaccard = |B|/|A| stays low.
    val d = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (11L, "alpha beta gamma delta epsilon"),
      (12L, "totally unrelated words nothing shared here at all")
    ).toDF("id", "text")
    val cont = Dedup.ngramContainmentPairs(d, "id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("containment")).toMap
    assert(cont((10L, 11L)) == 1.0)
    assert(cont.size == 1)
    // the same pair under jaccard: 3 common shingles, 18 + 3 distinct
    //   -> j = 3/18 = 0.1667, far below any dup threshold
    val jac = Dedup.ngramJaccardPairs(d, "id", "text", n = 3, threshold = 0.0001)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(jac((10L, 11L)) < 0.2)
  }

  test("prefixJaccardPairs is value-identical to ngramJaccardPairs") {
    for (t <- Seq(0.3, 0.5, 0.9)) {
      val naive = Dedup.ngramJaccardPairs(docs, "id", "text", n = 3, threshold = t)
        .collect().map(_.toSeq).toSet
      val prefixed = Dedup.prefixJaccardPairs(docs, "id", "text", n = 3, threshold = t)
        .collect().map(_.toSeq).toSet
      assert(prefixed == naive, s"mismatch at threshold $t")
    }
    // sanity: the 0.3 threshold actually produces pairs on this fixture
    assert(Dedup.prefixJaccardPairs(docs, "id", "text", n = 3, threshold = 0.3)
      .count() == 2)
  }

  test("minhash LSH finds the same dup pairs as exact Jaccard at high threshold") {
    val pairs = Dedup.minhashLshPairs(docs, "id", "text",
      n = 3, numHashes = 16, bands = 8, threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash capPerBand: never binds on a normal corpus (parity); drops hot buckets when it does") {
    // Parity pin: on the fixture (buckets of 2-3 docs) the default cap
    // and an effectively-off cap produce identical pairs.
    def run(cap: Int) = Dedup.minhashLshPairs(docs, "id", "text",
        n = 3, numHashes = 16, bands = 8, threshold = 0.3, capPerBand = cap)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(run(1024) == run(Int.MaxValue))
    // Adversarial shape: 40 near-identical docs collide in every band —
    // uncapped, that bucket alone enumerates C(40,2)=780 pairs PER BAND.
    // A binding cap drops the hot buckets (documented recall contract:
    // mass-identical docs are exact-dedup's job) while a disjoint
    // normal near-dup pair, whose buckets stay small, survives.
    val hotDocs = (0L until 40L).map(i => (i, "the same document text repeated verbatim"))
    val normal = Seq(
      (100L, "rare alpha beta gamma delta epsilon zeta"),
      (101L, "rare alpha beta gamma delta epsilon eta"))
    val d = (hotDocs ++ normal).toDF("id", "text")
    val capped = Dedup.minhashLshPairs(d, "id", "text",
        n = 3, numHashes = 16, bands = 8, threshold = 0.3, capPerBand = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(capped.contains((100L, 101L)), capped)
    assert(!capped.exists { case (a, b) => a < 40L || b < 40L }, capped)
  }

  test("minhashLshHotBandStats: zeros when the cap never binds, counts exactly the dropped buckets") {
    // No-silent-caps observability (r13): the quiet fixture reports
    // all-zero; the adversarial fixture's counts agree with what the
    // pair run actually dropped.
    val quiet = Dedup.minhashLshHotBandStats(docs, "id", "text",
      n = 3, numHashes = 16, bands = 8, capPerBand = 1024).head
    assert((quiet.getLong(0), quiet.getLong(1)) == ((0L, 0L)))
    // max_bucket reports the hottest bucket EVEN when nothing is hot
    // (headroom): the fixture's exact-dup pair shares all its bands.
    assert(quiet.getLong(2) >= 2L && quiet.getLong(2) <= 1024L)
    // 40 identical docs share every band: 8 bands => 8 hot buckets of
    // 40 members each at cap 8; the two rare docs' buckets stay cold.
    val hotDocs = (0L until 40L).map(i => (i, "the same document text repeated verbatim"))
    val normal = Seq(
      (100L, "rare alpha beta gamma delta epsilon zeta"),
      (101L, "rare alpha beta gamma delta epsilon eta"))
    val d = (hotDocs ++ normal).toDF("id", "text")
    val hot = Dedup.minhashLshHotBandStats(d, "id", "text",
      n = 3, numHashes = 16, bands = 8, capPerBand = 8).head
    assert(hot.getLong(0) == 8L, s"hot_buckets=${hot.getLong(0)}")
    assert(hot.getLong(1) == 320L, s"dropped_rows=${hot.getLong(1)}")
    assert(hot.getLong(2) == 40L, s"max_bucket=${hot.getLong(2)}")
  }

  test("minhashLshPairsWithStats: pairs + stats from ONE pass — parity with both standalone forms, zero extra jobs") {
    // The one-pass (pairs, stats) form (carried r13#2): stats ride the
    // pairs plan's own band-count subtree as observed metrics, so the
    // shingle+minhash front half runs ONCE — the standalone stats
    // method pays it a second time.
    val hotDocs = (0L until 40L).map(i => (i, "the same document text repeated verbatim"))
    val normal = Seq(
      (100L, "rare alpha beta gamma delta epsilon zeta"),
      (101L, "rare alpha beta gamma delta epsilon eta"))
    val d = (hotDocs ++ normal).toDF("id", "text")

    val tracker = spark.sparkContext.statusTracker
    // The status store is listener-fed (async): poll until the count
    // holds still. The 10 s ceiling is deliberate headroom — this
    // suite also runs on the driver's loaded box, where a 2 s ceiling
    // would turn listener lag into a phantom job-count flake.
    def stableJobCount(group: String): Int = {
      var last = -1
      var same = 0
      var spins = 0
      while (same < 3 && spins < 500) {
        val n = tracker.getJobIdsForGroup(group).length
        if (n == last) same += 1 else { same = 0; last = n }
        Thread.sleep(20)
        spins += 1
      }
      last
    }

    for ((fixture, cap) <- Seq((docs, 1024), (d, 8))) {
      val plain = Dedup.minhashLshPairs(fixture, "id", "text",
        n = 3, numHashes = 16, bands = 8, threshold = 0.3, capPerBand = cap)
      val (wsPairs, obs) = Dedup.minhashLshPairsWithStats(fixture, "id", "text",
        n = 3, numHashes = 16, bands = 8, threshold = 0.3, capPerBand = cap)

      // PLAN: observation adds zero reads of the INPUT — same count of
      // input-relation leaves. (The observed variant adds one Range
      // leaf: the one-row sentinel that keeps AQE's empty-relation
      // prune off the CollectMetrics subtree; that is not a scan of
      // the corpus.)
      def inputScans(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collectLeaves().count(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(inputScans(wsPairs) == inputScans(plain),
        s"observe must not add an input scan: ${inputScans(wsPairs)} vs ${inputScans(plain)}")

      // PAIRS PARITY with the plain path, both fixtures.
      val expected = plain.collect().map(_.toSeq).toSet
      val gObs = s"lsh-obs-$cap"
      spark.sparkContext.setJobGroup(gObs, gObs)
      val got = wsPairs.collect().map(_.toSeq).toSet
      val afterCollect = stableJobCount(gObs)
      // STATS FOR FREE: obs.get is served from the collect's own
      // metrics — zero additional jobs (counted in the same job group,
      // which stays set across the get).
      val m = obs.get
      val afterGet = stableJobCount(gObs)
      spark.sparkContext.clearJobGroup()
      assert(got == expected, s"pairs parity failed at cap=$cap")
      assert(afterCollect > 0, "job-group accounting must have seen the run")
      assert(afterGet == afterCollect,
        s"obs.get must launch no jobs: $afterCollect -> $afterGet (cap=$cap)")

      // STATS PARITY with the standalone diagnostic.
      val standalone = Dedup.minhashLshHotBandStats(fixture, "id", "text",
        n = 3, numHashes = 16, bands = 8, capPerBand = cap).head
      assert(m("hot_buckets") == standalone.getLong(0), m)
      assert(m("dropped_rows") == standalone.getLong(1), m)
      assert(m("max_bucket") == standalone.getLong(2), m)
    }
  }

  test("simhash: identical texts hamming 0; near dups small; unrelated large") {
    val pairs = Dedup.simhashPairs(docs, "id", "text", maxHamming = 63).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(pairs((0L, 1L)) == 0)
    // near-dup pair collides in some band and has small distance
    pairs.get((2L, 3L)).foreach(h => assert(h <= 16))
  }

  test("embedding near-dup: brute force finds identical-embedding pair") {
    val emb = HashEmbedder(32)
    val withVec = emb.embed(docs, "text", "vec")
    val pairs = Dedup.embeddingNearDupBrute(withVec, "id", "vec", threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 1L))) // only the exact-dup texts share an embedding
  }

  test("broadcast-block near-dup is value-identical to the brute join") {
    val emb = HashEmbedder(32)
    val many = (0L until 80L).map(i => (i, s"text number ${i % 40} variant"))
      .toDF("id", "text")
    val withVec = emb.embed(many, "text", "vec")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = norm(Dedup.embeddingNearDupBrute(withVec, "id", "vec", 0.2))
    val block = norm(Dedup.embeddingNearDupBroadcastBlock(withVec, "id", "vec", 0.2))
    assert(brute.nonEmpty)
    assert(block == brute)
  }

  test("broadcast-block near-dup tolerates null ids/vectors like brute (drop, not driver NPE)") {
    val emb = HashEmbedder(16)
    val some = emb.embed(
      Seq((0L, "alpha beta"), (1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "text"),
      "text", "vec")
    import org.apache.spark.sql.functions.{col, lit, when}
    val dirty = some.withColumn("vec",
        when(col("id") === 2L, lit(null)).otherwise(col("vec")))
      .unionByName(some.limit(1).withColumn("id", lit(null).cast("long")))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val block = norm(Dedup.embeddingNearDupBroadcastBlock(dirty, "id", "vec", 0.9))
    val brute = norm(Dedup.embeddingNearDupBrute(
      dirty.where(col("id").isNotNull), "id", "vec", 0.9))
    assert(block == brute && block.map(p => (p._1, p._2)) == Set((0L, 1L)))
  }

  test("connectedComponents / bestRepresentative RAISE on non-numeric ids instead of silent no-op") {
    // UUID-style string ids: every pair detector accepts them, so the
    // component pipeline must fail LOUD — cast-to-null either NPE'd the
    // union-find or silently deleted nothing on the distributed path.
    val uuidPairs = Seq(("a-1", "b-2"), ("b-2", "c-3")).toDF("id_a", "id_b")
    def rootMsgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ rootMsgs(e.getCause))
    val e1 = intercept[Exception] { Dedup.connectedComponents(uuidPairs).collect() }
    assert(rootMsgs(e1).exists(_.contains("not castable to long")), rootMsgs(e1).mkString("|"))
    val e2 = intercept[Exception] {
      Dedup.connectedComponents(uuidPairs, smallGraphThreshold = 0).collect()
    }
    assert(rootMsgs(e2).exists(_.contains("not castable to long")), rootMsgs(e2).mkString("|"))
  }

  test("connected components: chains collapse to min id, components stay separate") {
    val edges = Seq(
      (5L, 3L), (3L, 9L),           // chain -> component 3
      (20L, 21L),                   // pair  -> component 20
      (30L, 31L), (31L, 30L)        // duplicate/reversed edges tolerated
    ).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(cc == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("connected components converge on a long path (label must propagate end-to-end)") {
    val n = 12
    val edges = (0 until n).map(i => (i.toLong + 1, i.toLong)).toDF("id_a", "id_b")
    // threshold 0 forces the distributed (large-star/small-star) path
    val cc = Dedup.connectedComponents(edges, smallGraphThreshold = 0).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(cc.size == n + 1)
    assert(cc.values.forall(_ == 0L))
  }

  test("large-star/small-star CC == driver union-find on random graphs and a long chain") {
    val rnd = new scala.util.Random(19)
    // random graphs of varying density
    for (trial <- 0 until 3) {
      val n = 60
      val edges = (0 until 80).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
      val viaUnionFind = Dedup.connectedComponents(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStar = Dedup.connectedComponents(edges, smallGraphThreshold = 0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == viaUnionFind, s"trial $trial")
    }
    // a 60-node path: diameter 60, but star rounds are O(log n) — a
    // maxIter far below the diameter must still converge exactly
    val chain = (0 until 60).map(i => (i.toLong + 1, i.toLong)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, maxIter = 10, smallGraphThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 61 && cc.values.forall(_ == 0L))
    // self-pair-only nodes stay in the output (parity with union-find)
    val withSelf = Seq((5L, 5L), (1L, 2L)).toDF("id_a", "id_b")
    val ccSelf = Dedup.connectedComponents(withSelf, smallGraphThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccSelf == Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
  }

  test("attributeOverlap rolls duplicate pairs up to unordered attribute combinations") {
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val attrs = Seq((1L, "web"), (2L, "wiki"), (3L, "web"), (4L, "wiki"),
      (5L, "web"), (6L, "books"), (7L, "books")).toDF("doc_id", "source")
    val got = Dedup.attributeOverlap(pairs, attrs, "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("web", "wiki") -> 2L,    // (1,2) and (4,5), order-normalized
      ("web", "web") -> 1L,     // (1,3) intra-source
      ("books", "books") -> 1L))
  }

  test("attributeOverlap: a null-attribute side surfaces as (null, attr), never a confident diagonal") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val attrs = Seq((1L, Some("en")), (2L, Option.empty[String]),
      (3L, Option.empty[String]), (4L, Option.empty[String])).toDF("doc_id", "lang")
    val got = Dedup.attributeOverlap(pairs, attrs, "doc_id", "lang")
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) -> r.getLong(2)).toMap
    // least/greatest skip nulls — unguarded, (null,'en') counted as ('en','en')
    assert(got == Map(
      (None, Some("en")) -> 1L,
      (None, None) -> 1L))
  }

  test("editDistancePairs blockOn=char reaches single-token fields the word blocking is blind to") {
    // URLs: no spaces, so word 2-grams are EMPTY and the default
    // blocking proposes zero candidates — the documented use case was
    // unreachable. Character 3-grams share plenty across a 1-edit pair.
    val urls = Seq(
      (0L, "https://example.com/page"),
      (1L, "https://example.com/paga"),   // 1 edit
      (2L, "https://other.org/entirely")
    ).toDF("id", "text")
    val word = Dedup.editDistancePairs(urls, "id", "text", maxDist = 1, n = 2)
    assert(word.isEmpty) // honest: word blocking can't see these
    val char = Dedup.editDistancePairs(urls, "id", "text", maxDist = 1, n = 3,
        blockOn = "char")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(char == Map((0L, 1L) -> 1L))
  }

  test("keepCanonical drops every family member but the min id") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", n = 3, threshold = 0.3)
    val kept = Dedup.keepCanonical(docs, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 4L)) // 1 dups 0; 3 near-dups 2; 4 unrelated
  }

  test("connected components: driver union-find and distributed propagation agree") {
    // random-ish multi-component graph (deterministic construction)
    val edges = (0 until 200).map { i =>
      val grp = i % 7
      (grp * 1000L + (i * 13 % 50), grp * 1000L + (i * 29 % 50))
    }.toDF("id_a", "id_b")
    def run(threshold: Long) =
      Dedup.connectedComponents(edges, smallGraphThreshold = threshold).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    val fast = run(Long.MaxValue >> 40) // driver path (threshold >> edge count)
    val dist = run(0)                   // distributed path
    assert(fast == dist)
    assert(fast.nonEmpty)
  }

  test("embedding near-dup LSH is a subset of brute force and finds exact dups") {
    val emb = HashEmbedder(32)
    val withVec = emb.embed(docs, "text", "vec")
    val brute = Dedup.embeddingNearDupBrute(withVec, "id", "vec", 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = Dedup.embeddingNearDupLsh(withVec, "id", "vec", dim = 32,
      threshold = 0.9, nBits = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.contains((0L, 1L)))
  }

  test("editDistancePairs: blocking finds typo pairs, distance exact, bounds hold") {
    val rows = Seq(
      (0L, "the quick brown fox"),
      (1L, "the quikc brown fox"),   // transposition-ish: 2 edits from 0
      (2L, "the quick brown fax"),   // 1 sub from 0
      (3L, "completely different words here"),
      (4L, "the quick")              // shares "the quick" 2-gram with 0/1/2
    ).toDF("id", "text")
    val pairs = Dedup.editDistancePairs(rows, "id", "text", maxDist = 3, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 2L)) == 1L) // fox -> fax
    assert(pairs((0L, 1L)) == 2L) // ck -> kc
    // (1,2) is within distance 3 but shares NO word 2-gram — blocking
    // deliberately trades that recall for never doing all-pairs
    assert(!pairs.contains((1L, 2L)))
    // doc 3 shares no 2-gram -> never a candidate; doc 4 is a candidate
    // but 9 edits away -> filtered by distance
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
    // ordering invariant
    assert(pairs.keys.forall { case (a, b) => a < b })
    // hot-shingle cap: capping "the quick" (freq 4) out removes pairs
    // that ONLY shared it
    val capped = Dedup.editDistancePairs(rows, "id", "text", maxDist = 9,
      n = 2, maxShingleFreq = Some(3L))
    assert(capped.collect().forall(r => r.getLong(0) != 4L && r.getLong(1) != 4L))
  }

  test("exactAgainst drops batch rows whose text exists in the corpus (incl. normalized)") {
    val corpus = Seq((10L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("id", "text")
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup
      (21L, "THE  Quick brown fox jumps over the lazy dog again and again"), // dup only after normalize
      (22L, "something else entirely")
    ).toDF("id", "text")
    val raw = Dedup.exactAgainst(batch, corpus, "text")
      .select("id").as[Long].collect().sorted.toSeq
    assert(raw == Seq(21L, 22L))
    val norm = Dedup.exactAgainst(batch, corpus, "text", normalize = true)
      .select("id").as[Long].collect().sorted.toSeq
    assert(norm == Seq(22L))
  }

  test("ngramJaccardAgainst scores batch-vs-corpus only, never within a side") {
    val corpus = docs // ids 0..4; 0 and 1 are identical texts
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"), // == 0,1
      (21L, "pack my box with five dozen liquor jugs for the long journey away"), // near 2
      (22L, "nothing in common with anything at all here truly")
    ).toDF("id", "text")
    val pairs = Dedup.ngramJaccardAgainst(batch, corpus, "id", "text",
        n = 3, threshold = 0.3).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(pairs((20L, 0L)) == 1.0 && pairs((20L, 1L)) == 1.0)
    assert(pairs.contains((21L, 2L)) && pairs((21L, 2L)) < 1.0)
    assert(!pairs.keys.exists(_._1 == 22L))
    // corpus-internal dup pair (0,1) must NOT appear
    assert(pairs.keys.forall { case (b, _) => Seq(20L, 21L).contains(b) })
  }

  test("dedupAgainst = exact screen + near screen; survivors keep their rows") {
    val corpus = docs
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
      (21L, "pack my box with five dozen liquor jugs for the long journey away"), // near-dup of 2
      (22L, "nothing in common with anything at all here truly")
    ).toDF("id", "text")
    val kept = Dedup.dedupAgainst(batch, corpus, "id", "text",
        n = 3, threshold = 0.3)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(22L))
    // with a high threshold the near-dup survives, the exact dup still dies
    val keptHigh = Dedup.dedupAgainst(batch, corpus, "id", "text",
        n = 3, threshold = 0.99)
      .select("id").as[Long].collect().sorted.toSeq
    assert(keptHigh == Seq(21L, 22L))
  }

  // "corpus-covering" is the exactness precondition (see the op's
  // scaladoc): false POSITIVES are confirmed away at any rate, but a
  // prebuilt filter MISSING corpus keys would produce false negatives
  // that skip the confirm join entirely.
  test("bloomExactAgainst == exactAgainst for any corpus-covering filter (incl. tiny, FP-heavy, prebuilt)") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "pack my box with five dozen liquor jugs for the long journey"))
      .toDF("id", "text")
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"), // dup
      (21L, "something else entirely"),
      (22L, "and a third thing too")
    ).toDF("id", "text")
    val want = Dedup.exactAgainst(batch, corpus, "text")
      .select("id").as[Long].collect().sorted.toSeq
    assert(want == Seq(21L, 22L))
    val got = Dedup.bloomExactAgainst(batch, corpus, "text", fpp = 0.01)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want)
    // an undersized, high-fpp prebuilt filter (false positives likely)
    // must still produce the exact result — positives are confirmed
    val tiny = Dedup.buildTextBloom(corpus, "text", expectedItems = 1L, fpp = 0.5)
    val gotTiny = Dedup.bloomExactAgainst(batch, corpus, "text",
        prebuilt = Some(tiny))
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotTiny == want)
    // normalized variant shares the key derivation with exactAgainst
    val normBatch = Seq(
      (30L, "THE  Quick brown fox jumps over the lazy dog again and again"),
      (31L, "fresh content")).toDF("id", "text")
    val gotNorm = Dedup.bloomExactAgainst(normBatch, corpus, "text",
        normalize = true)
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotNorm == Seq(31L))
  }

  test("ngramJaccardAgainst hot-shingle cap computes sizes from kept shingles") {
    val corpus = Seq(
      (0L, "aa bb cc dd ee ff gg"),
      (1L, "aa bb cc xx yy zz ww")).toDF("id", "text")
    val batch = Seq((20L, "aa bb cc dd ee ff gg")).toDF("id", "text")
    // "aa bb cc" occurs 3x across sides -> dropped at cap 2; the pair
    // (20, 0) must still score with REDUCED sets on both sides: 4/4 = 1.
    val capped = Dedup.ngramJaccardAgainst(batch, corpus, "id", "text",
        n = 3, threshold = 0.5, maxShingleFreq = Some(2L)).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(capped((20L, 0L)) == 1.0)
    assert(!capped.contains((20L, 1L)))
  }

  test("duplicateSpans finds cross-doc shared windows; fraction is per-doc") {
    import spark.implicits._
    // 3-token windows: docs 1 and 2 share "p q r" and "q r s";
    // doc 3 shares nothing; doc 4 repeats doc 1's span too.
    val spanDocs = Seq(
      (1L, "p q r s x"),
      (2L, "a p q r s"),
      (3L, "u v w y z"),
      (4L, "m p q r n")).toDF("id", "text")
    val spans = Dedup.duplicateSpans(spanDocs, "id", "text", window = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spans == Map("p q r" -> 3L, "q r s" -> 2L))
    val frac = Dedup.duplicateSpanFraction(spanDocs, "id", "text", window = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // docs 1/2 have 3 windows, 2 duplicated; doc 4 has 3 windows, 1 dup.
    assert(frac(1L) == ((3L, 2L, 0.6667)))
    assert(frac(2L) == ((3L, 2L, 0.6667)))
    assert(frac(4L) == ((3L, 1L, 0.3333)))
    assert(!frac.contains(3L))
  }

  test("duplicateSpanRanges merges overlapping/adjacent spans into maximal intervals") {
    import spark.implicits._
    // window=3. Docs 1/2 share "p q r" (doc1 pos 2, doc2 pos 1) and
    // "q r s" (doc1 pos 3, doc2 pos 2): overlapping hits merge into one
    // interval per doc. Docs 1/3 also share "x y z" at doc1 pos 7 —
    // separated from pos 2-3 by a gap, so doc 1 gets TWO intervals.
    // A span repeated only WITHIN one doc (doc 4's "k k k" twice) is
    // not cross-doc duplicated and produces nothing.
    val docs = Seq(
      (1L, "a p q r s m x y z"),   // 9 tokens
      (2L, "p q r s n"),
      (3L, "u x y z w"),
      (4L, "k k k k k")).toDF("id", "text")
    val got = Dedup.duplicateSpanRanges(docs, "id", "text", window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 2L, 5L),   // "p q r"@2 + "q r s"@3 -> tokens 2..5
      (1L, 7L, 9L),   // "x y z"@7
      (2L, 1L, 4L),   // "p q r"@1 + "q r s"@2
      (3L, 2L, 4L)),  // "x y z"@2
      s"got $got")
  }

  test("removeSpanRanges cuts exactly the listed intervals; full cut keeps an empty doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a p q r s m x y z"),
      (2L, "p q r s n"),
      (5L, "entirely duplicated"),   // fully covered by its range below
      (9L, "untouched doc here")).toDF("id", "text")
    val ranges = Seq(
      (1L, 2L, 5L), (1L, 7L, 9L),
      (2L, 1L, 4L),
      (5L, 1L, 2L)).toDF("id", "start_tok", "end_tok")
    val got = Dedup.removeSpanRanges(docs, ranges, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, "a m", 7L),
      (2L, "n", 4L),
      (5L, "", 2L),
      (9L, "untouched doc here", 0L)),
      s"got $got")
  }

  test("duplicateSpanRanges minDocs raises the boilerplate threshold") {
    import spark.implicits._
    // "p q r s" (4-token window) appears in 3 docs; "w x y z" in only 2
    val docs = Seq(
      (1L, "p q r s a w x y z"),
      (2L, "b p q r s c"),
      (3L, "p q r s d"),
      (4L, "e w x y z")).toDF("id", "text")
    def ranges(minDocs: Int) =
      Dedup.duplicateSpanRanges(docs, "id", "text", window = 4, minDocs = minDocs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val atTwo = ranges(2)
    assert(atTwo.contains((4L, 2L, 5L)) && atTwo.exists(_._1 == 1L), atTwo)
    val atThree = ranges(3)
    // the 2-doc span drops everywhere; the 3-doc span stays
    assert(atThree === Set((1L, 1L, 4L), (2L, 2L, 5L), (3L, 1L, 4L)), atThree)
    intercept[IllegalArgumentException] {
      Dedup.duplicateSpanRanges(docs, "id", "text", window = 4, minDocs = 1)
    }
  }

  test("bestRepresentative keeps max quality per cluster, ties to smallest id") {
    import spark.implicits._
    // components: {1,2,3} labeled 1, {7,8} labeled 7
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("node", "component")
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L),   // tie at 30 -> keeper 2
      (7L, 5L), (8L, 9L),                 // keeper 8
      (42L, 99L))                         // not in any cluster -> no row
      .toDF("doc_id", "quality")
    val got = Dedup.bestRepresentative(comps, docs, "doc_id", "quality")
      .orderBy("component")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === Seq((1L, 3L, 30L, 2L), (7L, 2L, 9L, 8L)), s"got $got")
  }

  test("bestRepresentative keeps fractional quality intact (no long truncation)") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L)).toDF("node", "component")
    val docs = Seq((1L, 0.45), (2L, 0.87)).toDF("doc_id", "lm")
    val r = Dedup.bestRepresentative(comps, docs, "doc_id", "lm").head()
    // a long cast would truncate both to 0, tie, and pick doc 1
    assert(r.getDouble(2) == 0.87 && r.getLong(3) == 2L, r.toString)
  }

  test("bestRepresentative never crowns a NaN-scored member over a real score") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L), (10L, 9L))
      .toDF("node", "component")
    val docs = Seq(
      (1L, 0.4), (2L, Double.NaN), (3L, 0.6), // NaN would out-order 0.6 raw
      (9L, Double.NaN), (10L, Double.NaN))    // all-NaN cluster -> null best
      .toDF("doc_id", "lm")
    val rows = Dedup.bestRepresentative(comps, docs, "doc_id", "lm")
      .orderBy("component").collect()
    assert(rows(0).getDouble(2) == 0.6 && rows(0).getLong(3) == 3L, rows(0).toString)
    // whole cluster NaN: best is null, keeper still deterministic (smallest id)
    assert(rows(1).isNullAt(2) && rows(1).getLong(3) == 9L, rows(1).toString)
  }

  test("fingerprintPairs: exact Hamming verify over a raw fingerprint column") {
    import spark.implicits._
    // 0x0F and 0x0E differ in 1 bit; 0x0F vs 0xF0 differ in 8 (banded
    // out AND over maxHamming); ids 4/5 share a full hash (hamming 0)
    val df = Seq((1L, 0x0FL), (2L, 0x0EL), (3L, 0xF0L), (4L, 0x77L),
      (5L, 0x77L)).toDF("id", "h")
    val got = Dedup.fingerprintPairs(df, "id", "h", maxHamming = 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 2L, 1), (4L, 5L, 0)))
  }

  test("fingerprintPairs screens null fingerprints and rejects non-bigint ones") {
    import spark.implicits._
    // two null hashes must NOT pair with each other via a shared null band
    val withNulls = Seq((1L, Some(3L)), (2L, None), (3L, None),
      (4L, Some(3L))).toDF("id", "h")
    val got = Dedup.fingerprintPairs(withNulls, "id", "h").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 4L)))
    // a string fingerprint would silently band on coerced garbage —
    // rejected at the driver
    val e = intercept[IllegalArgumentException] {
      Dedup.fingerprintPairs(Seq((1L, "0F")).toDF("id", "h"), "id", "h")
    }
    assert(e.getMessage.contains("bigint"))
    // the type check resolves names like the session does: a
    // case-variant column name must pass under the default
    // case-insensitive resolution (exact-case schema() would throw)
    val caseVariant = Dedup.fingerprintPairs(
      Seq((1L, 3L), (2L, 3L)).toDF("id", "AHash"), "id", "ahash").collect()
    assert(caseVariant.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("simhashPairs == fingerprintPairs over the computed simhash (delegation pin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, trim}
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma epsilon"), (4L, "totally different content here"))
      .toDF("id", "text")
    val viaText = Dedup.simhashPairs(docs, "id", "text", maxHamming = 10)
      .orderBy("id_a", "id_b").collect().toSeq
    val viaPrint = Dedup.fingerprintPairs(
      docs.where(trim(col("text")) =!= "").select(col("id"),
        graft.functions.TextFunctions.simhash63(col("text")).as("h")),
      "id", "h", maxHamming = 10).orderBy("id_a", "id_b").collect().toSeq
    assert(viaText == viaPrint && viaText.nonEmpty)
  }
}
