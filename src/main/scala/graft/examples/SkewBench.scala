package graft.examples

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Zipf-skew corpus builder — derived from the driver
  * testdata (like the partsupp CTE: no new data asked of the driver, a
  * pure function of what exists, identical everywhere it runs).
  *
  * The driver documents corpus is FLAT by construction (max shingle df
  * 25/5000, p99 = 18 — BENCH_NOTES round-2), so every dedup floor
  * measured on it exercises the skew machinery's PARITY but never its
  * REASON TO EXIST: on a flat profile a hot-shingle cap removes
  * nothing and prefix filtering saves only ~2-3×. Real web corpora are
  * Zipf: boilerplate phrases ("all rights reserved …") appear in large
  * document fractions, and a shingle with document frequency d
  * contributes ~d²/2 joined rows to the naive shingle equi-join —
  * the quadratic blowup caps and prefix filtering exist to bound.
  *
  * [[withBoilerplate]] plants that profile deterministically: phrase j
  * (5 fixed tokens, giving 3 full-df shingles) is appended to every
  * document whose id ≡ 0 (mod period_j), so its df is ~N/period_j —
  * a discrete Zipf ladder whose ABSOLUTE df grows with the corpus,
  * exactly like boilerplate in a growing crawl (the flat corpus's df
  * stays ≤25 at any scale, so naive-join cost from content is linear).
  */
object SkewCorpus {

  /** Default Zipf ladder: dfs of N/6, N/12, N/24, N/48 (at sf0.1 ×1,
    * N = 5000: 833 / 416 / 208 / 104) — all far above the content df
    * ceiling (~25), so a cap of [[CapFreq]] separates boilerplate from
    * content cleanly AT EVERY SCALE. The head is deliberately heavy:
    * at ×10 the hottest shingle alone (df 8333) contributes ~35M
    * joined rows, so the naive path's cost is DOMINATED by the planted
    * skew — as on a real crawl — not by the flat content background. */
  val DefaultPeriods: Seq[Int] = Seq(6, 12, 24, 48)

  /** Hot-shingle cap that keeps all content (df ≤ ~25 at any corpus
    * size — content shingles are replica-distinct) and drops every
    * planted boilerplate shingle (df ≥ N/64). */
  val CapFreq: Long = 40L

  /** Append boilerplate phrase j (tokens `bp<j>w0 .. bp<j>w4`) to every
    * row with `idCol % periods(j) == 0`. Pure projection — no shuffle,
    * no data read twice. */
  def withBoilerplate(df: DataFrame, idCol: String, textCol: String,
                      periods: Seq[Int] = DefaultPeriods): DataFrame = {
    val phrases = periods.zipWithIndex.map { case (p, j) =>
      when(pmod(col(idCol), lit(p.toLong)) === 0,
        lit((0 until 5).map(t => s"bp${j}w$t").mkString(" ")))
    }
    // concat_ws skips null args, so a doc gets exactly the phrases its
    // id selects, space-joined after its original text.
    df.withColumn(textCol,
      concat_ws(" ", (col(textCol) +: phrases): _*))
  }

  /** Zipf-skewed categorical key: one hot key holding half the rows
    * (`hot.example.com`), the rest spread over ~997 uniform keys — the
    * domain profile of a crawl dominated by one site. Deterministic in
    * `idCol`. */
  def zipfDomain(idCol: Column): Column =
    when(pmod(idCol, lit(2L)) === 0, lit("hot.example.com"))
      // (id·c) mod 997 computed as ((id mod 997)·(c mod 997)) mod 997 —
      // the SAME spread (mod-multiplication is homomorphic) without the
      // long overflow `id * c` hits once replicated ids pass ~3.5e9.
      .otherwise(concat(lit("dom-"),
        pmod(pmod(idCol, lit(997L)) * lit(2654435761L % 997L), lit(997L))))

  /** Replicate documents `replicas`× with ids offset and every content
    * token PREFIXED per replica (`quick fox` → `r3_quick r3_fox`), so
    * content shingles stay replica-distinct (content df does NOT grow
    * with replication — unlike ScaleBench's salt-INTERLEAVE, which
    * manufactures hot (salt, w, salt) shingles keyed by single tokens
    * and would drown the controlled skew this corpus exists to plant).
    * Boilerplate must be applied AFTER this, on the offset ids, so its
    * df DOES grow ×replicas. */
  def replicateTokenPrefixed(docs: DataFrame, replicas: Int): DataFrame =
    (0 until replicas).map { i =>
      docs.withColumn("doc_id", col("doc_id") + i * 10000000L)
        .withColumn("text",
          regexp_replace(concat(lit(" "), col("text")), " ", s" r${i}_"))
    }.reduce(_ unionByName _)
}

/** Skew-evidence harness (round-8, verdict item 1): measures the skew
  * machinery WINNING on the corpus shape it exists for, at ×1 and ×10.
  *
  * Rows (all timed as `count()` — outputs can be tens of millions of
  * pairs, collect would be a driver loop):
  *  - `jaccard_naive`     — [[graft.ops.Dedup.ngramJaccardPairs]] with
  *                          no cap: pays ~Σ d²/2 joined rows over the
  *                          planted hot shingles → QUADRATIC in corpus
  *                          size (expect ratio ≫ 10 at ×10).
  *  - `jaccard_capped`    — same with maxShingleFreq = CapFreq: hot
  *                          shingles dropped before the join → linear.
  *  - `jaccard_prefix`    — [[graft.ops.Dedup.prefixJaccardPairs]]:
  *                          EXACT (same pairs as naive, spec-pinned)
  *                          yet near-linear, because hot shingles sort
  *                          last in the ascending-df prefix order and
  *                          almost never enter a prefix.
  *  - `capperkey_agg`     — [[graft.ops.Sampling.capPerKey]] top-5 per
  *                          Zipf domain: bounded partial aggregate,
  *                          the hot key combines map-side.
  *  - `capperkey_window_BEFORE` — the window row_number shape it
  *                          replaced: every hot-domain row sorts on ONE
  *                          reducer task.
  *
  * Also prints the ×1 candidate-pair counts (naive / capped / prefix)
  * — the mechanism, not just the clock.
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val base = if (args.length > 1) args(1) else "/tmp/graft_skew"
    // Extra confs, Verify-protocol style (`SPARK_GRAFT_CONF="k=v;k=v"`)
    // — used to A/B e.g. the ObjectHashAggregate sort fallback below.
    val spark = graft.MainUtil.applyConfEnv(graft.MainUtil.localSession(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.{Dedup, Sampling}

    val x1 = s"$base/x1"
    val x10 = s"$base/x10"
    build(spark, src, x1, 1)
    build(spark, src, x10, 10)

    // SPARK_GRAFT_SKEW_ONLY=hotkey skips the shingle sections (A/B
    // debugging of the hot-key clock section, never set by the driver).
    val hotkeyOnly = sys.env.get("SPARK_GRAFT_SKEW_ONLY").contains("hotkey")

    // The mechanism: candidate pairs admitted by each path at ×1.
    if (!hotkeyOnly) {
      val d1 = spark.read.parquet(s"$x1/documents.parquet")
      val nNaive = Dedup.candidatePairs(d1, "doc_id", "text", 3, None).count()
      val nCapped = Dedup.candidatePairs(d1, "doc_id", "text", 3,
        Some(SkewCorpus.CapFreq)).count()
      val nPrefix = Dedup.prefixCandidatePairs(d1, "doc_id", "text", 3, 0.5).count()
      println(s"candidate pairs at x1: naive=$nNaive capped=$nCapped prefix=$nPrefix")
    }

    val shapes: Seq[(String, String => DataFrame)] = Seq(
      "jaccard_naive" -> (dir => Dedup.ngramJaccardPairs(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleFreq = None)),
      "jaccard_capped" -> (dir => Dedup.ngramJaccardPairs(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleFreq = Some(SkewCorpus.CapFreq))),
      "jaccard_prefix" -> (dir => Dedup.prefixJaccardPairs(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        n = 3, threshold = 0.5)),
      "capperkey_agg" -> (dir => Sampling.capPerKey(
        spark.read.parquet(s"$dir/events.parquet"), Seq("domain"), 5,
        priority = Seq(-col("value"), col("event_id")))),
      "capperkey_window_BEFORE" -> (dir => {
        import org.apache.spark.sql.expressions.Window
        val ev = spark.read.parquet(s"$dir/events.parquet")
        ev.withColumn("rank", row_number().over(
            Window.partitionBy("domain")
              .orderBy(col("value").desc, col("event_id"))))
          .where(col("rank") <= 5)
      }))

    if (!hotkeyOnly) {
      println(f"${"shape"}%-24s ${"t_x1"}%8s ${"t_x10"}%8s  ratio")
      shapes.foreach { case (name, fn) =>
        def timeOn(dir: String, runs: Int): Double =
          (1 to runs).map { _ =>
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            fn(dir).count()
            (System.nanoTime() - t0) / 1e9
          }.min
        val t1 = timeOn(x1, 2)
        // the naive path at ×10 is the deliberately-exploding row — run
        // it once (it is its own demonstration; best-of-2 would double a
        // multi-minute cost to shave noise that can't change the verdict)
        val t10 = timeOn(x10, if (name == "jaccard_naive") 1 else 2)
        println(f"$name%-24s $t1%8.2f $t10%8.2f  ${t10 / t1}%5.1fx")
      }
    }

    // --- capPerKey hot-key pile-up ON THE CLOCK (round-9) -------------
    // At ×10 the hot domain sorts in one reducer in well under a second
    // — the shapes don't separate locally (r8 BENCH_NOTES; the evidence
    // was SkewSpec's boundedness pin). Events replicate far cheaper
    // than documents (no shingle explosion), so push the SAME Zipf
    // domain to ×`evReplicas` events-only: the window form must shuffle
    // the hot key's half of the corpus to ONE task and sort it there,
    // while capPerKey's bounded partial aggregate keeps 5 rows per map
    // task per key and stays scan-bound.
    //
    // Three agg rows clock the round-10 change (capPerKey now applies
    // the raised ObjectHashAggregate fallback threshold ITSELF, scoped
    // to its own plan via a cloned-session conf):
    //  - capperkey_agg           the shipped operator — hash mode, no
    //                            conf set anywhere in this harness;
    //  - capperkey_agg_hashmode  the same fn under a MANUALLY raised
    //                            session threshold (the r9 knob) — must
    //                            MATCH capperkey_agg, proving the
    //                            scoped conf equals the manual one;
    //  - capperkey_agg_sortmode  the raw plan (capPerKeyPlan) at the
    //                            stock 128 threshold — the silent sort
    //                            fallback the default used to pay
    //                            (~3× slower at ×2000).
    // Default 2000 (200M events, hot key 100M rows): the scale the
    // BENCH_NOTES round-9 table was measured at — smaller corpora
    // (×40 = 4M events) do NOT separate the shapes on this box, the
    // hot key must outgrow what one task sorts sub-second.
    val evReplicas = args.lift(2).map(_.toInt).getOrElse(2000)
    val xev = s"$base/x${evReplicas}ev"
    buildEventsOnly(spark, src, xev, evReplicas)
    val FallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val fallback0 = spark.conf.get(FallbackKey)
    val hotShapes: Seq[(String, String => DataFrame)] =
      shapes.filter(_._1.startsWith("capperkey")) ++ Seq(
        "capperkey_agg_hashmode" -> shapes.toMap.apply("capperkey_agg"),
        "capperkey_agg_sortmode" -> ((dir: String) => Sampling.capPerKeyPlan(
          spark.read.parquet(s"$dir/events.parquet"), Seq("domain"), 5,
          priority = Seq(-col("value"), col("event_id")))))
    println(s"hot-key pile-up, events x10 -> x$evReplicas " +
      s"(hot domain = half the rows; data grows ${evReplicas / 10.0}x)")
    println(f"${"shape"}%-24s ${"t_x10"}%8s ${"t_xN"}%8s  ratio")
    hotShapes.foreach { case (name, fn) =>
      // The SAME threshold the shipped operator scopes in — a drifted
      // literal here would make the "shipped == manual" equality row
      // vacuous (the clone would override a mismatched manual value).
      if (name.endsWith("_hashmode")) spark.conf.set(FallbackKey,
        graft.functions.VectorFunctions.BoundedTopKFallbackThreshold.toString)
      def timeOn(dir: String): Double =
        (1 to 2).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          fn(dir).count()
          (System.nanoTime() - t0) / 1e9
        }.min
      try {
        val t10 = timeOn(x10)
        val tN = timeOn(xev)
        println(f"$name%-24s $t10%8.2f $tN%8.2f  ${tN / t10}%5.1fx")
      } finally if (name.endsWith("_hashmode")) spark.conf.set(FallbackKey, fallback0)
    }
    spark.stop()
  }

  /** The ONE definition of the replicated Zipf-domain events table —
    * shared by [[build]] and [[buildEventsOnly]] so the ×10 and ×N
    * corpora can never drift apart (the hot-key table compares them
    * directly; a one-sided protocol change would invalidate it). */
  private def writeReplicatedEvents(spark: SparkSession, src: String,
                                    out: String, replicas: Int): Unit = {
    val events = spark.read.parquet(s"$src/events.parquet")
    (0 until replicas).map { i =>
      events.withColumn("event_id", col("event_id") + i * 100000000L)
        .withColumn("user_id", col("user_id") + i * 10000000L)
    }.reduce(_ unionByName _)
      .withColumn("domain", SkewCorpus.zipfDomain(col("event_id")))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** Events-only replica build for the hot-key clock section — same
    * protocol as [[build]], skipping the documents table (whose planted
    * shingle skew would make a large corpus needlessly expensive to
    * write and is irrelevant here). */
  private def buildEventsOnly(spark: SparkSession, src: String, out: String,
                              replicas: Int): Unit = graft.MainUtil.buildOnce(out) {
    writeReplicatedEvents(spark, src, out, replicas)
  }

  /** Write the ×`replicas` skewed corpus (documents + events) —
    * once (`MainUtil.buildOnce`). */
  private def build(spark: SparkSession, src: String, out: String,
                    replicas: Int): Unit = graft.MainUtil.buildOnce(out) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    SkewCorpus.withBoilerplate(
        SkewCorpus.replicateTokenPrefixed(docs, replicas), "doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    writeReplicatedEvents(spark, src, out, replicas)
  }
}
