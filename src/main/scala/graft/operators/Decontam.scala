package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SmallSide
import graft.dedup.Dedup
import graft.expressions.GraftFunctions

/** Train/test contamination check: how much of each corpus document is
  * covered by a benchmark (evaluation-set) corpus.
  *
  * The standard decontamination primitive for pretraining pipelines:
  * flag training documents whose n-gram overlap with any benchmark
  * text is high enough that keeping them would leak the test set.
  *
  * Scale contract: the benchmark side is SMALL by definition (eval
  * sets, not corpora) — its distinct shingles broadcast; the corpus
  * side explodes shingles scan-side (codegen kernel), probes the
  * broadcast set with an existence join (no shuffle of text or
  * shingles), and only (id, hit-count) pairs — partially aggregated
  * map-side — reach the one shuffle. A 100 TB corpus streams through
  * at scan speed.
  */
object Decontam {

  /** Per-document containment: (id, n_sh, n_hits, containment) where
    * `containment` = |distinct n-grams ∩ benchmark n-grams| /
    * |distinct n-grams|, 0.0 for unshingleable docs.
    *
    * ONE corpus scan: the shingle kernel runs once, `explode_outer`
    * keeps unshingleable docs (null shingle row), the broadcast probe
    * marks hits, and a single partial-aggregated groupBy yields both
    * the total and the hit count.
    */
  def containment(corpus: DataFrame, bench: DataFrame,
                  idCol: String, textCol: String,
                  shingleN: Int = 5): DataFrame = {
    val probe = bench
      .select(explode(GraftFunctions.graft_word_shingles(col(textCol), shingleN)).as("sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    val docSh = corpus
      .select(col(idCol), GraftFunctions.graft_word_shingles(col(textCol), shingleN).as("shs"))
      // coalesce: under ANSI (Spark 4 default) size(null) is null, not
      // -1 — a null-text doc must report containment 0.0 per the
      // contract, not a null that poisons downstream comparisons
      .select(col(idCol), coalesce(size(col("shs")), lit(0)).as("__n"),
        explode_outer(col("shs")).as("sh"))
    docSh.join(broadcast(probe), Seq("sh"), "left")
      .groupBy(idCol)
      .agg(max(col("__n")).as("n_sh"), count(col("__hit")).as("n_hits"))
      .select(col(idCol), col("n_sh"), col("n_hits"),
        when(col("n_sh") <= 0, lit(0.0))
          .otherwise(col("n_hits").cast("double")
            / col("n_sh").cast("double")).as("containment"))
  }

  /** Documents whose containment meets `threshold` — the rows a
    * decontamination pass would drop. */
  def contaminated(corpus: DataFrame, bench: DataFrame,
                   idCol: String, textCol: String,
                   threshold: Double, shingleN: Int = 5): DataFrame =
    containment(corpus, bench, idCol, textCol, shingleN)
      .filter(col("containment") >= threshold)

  /** [[containment]] for benchmark sets too large to broadcast raw.
    *
    * [[containment]] broadcasts the benchmark's distinct shingles as
    * strings — fine for eval sets, wrong once the probe side is itself
    * large (decontaminating against a whole held-out corpus, or
    * thousands of benchmarks): a multi-GB broadcast of strings, and a
    * per-row hash probe of a giant set. This variant keeps the result
    * EXACT while shrinking what ships and what shuffles:
    *
    *  1. a Bloom filter of the benchmark shingles' xxhash64s is built
    *     DISTRIBUTED (`BloomFilterAggregate`: per-partition blooms
    *     OR-merge map-side; only the final fixed-size sketch reaches
    *     the driver — MBs for billions of shingles, vs GBs raw);
    *  2. corpus shingles probe the sketch scan-side in codegen
    *     (`BloomFilterMightContain`) — ~(fpp + true-hit rate) of them
    *     survive;
    *  3. survivors are verified with an exact join against the
    *     benchmark shingles, so Bloom false positives NEVER reach the
    *     hit counts — the one shuffle carries only bloom-surviving
    *     (id, shingle) pairs.
    *
    * The sketch is built as an uncorrelated SCALAR SUBQUERY — the same
    * idiom Spark's own `InjectRuntimeFilter` uses — so constructing
    * this DataFrame launches no job (the operator keeps the library's
    * construction-is-lazy contract), the bloom build executes once as
    * part of the main query (both `might_contain` sites share one
    * subquery instance), and no multi-MB bloom literal is baked into
    * the plan. The probe side is still computed twice — once feeding
    * the subquery's aggregate, once as the exact-verify join input —
    * the same documented recompute-vs-materialize tradeoff as the
    * corpus shingle kernel below (executed plan verified: the two
    * probe exchanges do not ReuseExchange across the subquery
    * boundary).
    *
    * Output is row-identical to [[containment]] (duplicate `idCol`
    * values fold into one row per id, as there); `fpp` trades shuffle
    * volume, not correctness.
    */
  def containmentBloom(corpus: DataFrame, bench: DataFrame,
                       idCol: String, textCol: String,
                       shingleN: Int = 5,
                       expectedItems: Long = 4L * 1000 * 1000,
                       fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    val probe = bench
      .select(explode(GraftFunctions.graft_word_shingles(col(textCol), shingleN)).as("sh"))
      .distinct()
    // optimal bit count for the target fpp: -n ln(p) / (ln 2)^2,
    // capped at 2^26 bits (8 MB) — the engine's own runtime-filter cap
    val numBits = math.min(1L << 26,
      math.max(64L, (-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
    val buildAgg = new BloomFilterAggregate(
      Bridge.expression(xxhash64(col("sh"))),
      Literal(expectedItems), Literal(numBits), 0, 0).toAggregateExpression()
    val bloomSub = ScalarSubquery(
      Bridge.analyzed(probe.select(Bridge.column(buildAgg).as("bf"))))
    def mightContain(c: Column): Column = Bridge.column(
      BloomFilterMightContain(bloomSub, Bridge.expression(xxhash64(c))))

    // totals scan-side then folded per id (duplicate ids collapse to
    // max, matching [[containment]]'s grouped totals — without the
    // groupBy, duplicate-id inputs would emit duplicate output rows);
    // the shingle kernel runs twice (totals + explode) — same
    // documented recompute-vs-materialize tradeoff as minHashLshPairs
    val totals = corpus.select(col(idCol),
      coalesce(size(GraftFunctions.graft_word_shingles(col(textCol), shingleN)),
        lit(0)).as("n_sh"))
      .groupBy(idCol).agg(max(col("n_sh")).as("n_sh"))
    val survivors = corpus
      .select(col(idCol),
        explode(GraftFunctions.graft_word_shingles(col(textCol), shingleN)).as("sh"))
      .filter(mightContain(col("sh")))
    val hits = survivors.join(probe, Seq("sh"))
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_sh"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_sh") <= 0, lit(0.0))
          .otherwise(coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_sh").cast("double")).as("containment"))
  }

  /** [[contaminated]] on the Bloom-prefiltered scale path. */
  def contaminatedBloom(corpus: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        threshold: Double, shingleN: Int = 5,
                        expectedItems: Long = 4L * 1000 * 1000,
                        fpp: Double = 0.01): DataFrame =
    containmentBloom(corpus, bench, idCol, textCol, shingleN, expectedItems, fpp)
      .filter(col("containment") >= threshold)

  // ---- span-level contamination (scrub the leak, keep the doc) --------

  /** WHERE each document leaks the benchmark: every `windowWords`-word
    * sliding window (stride 1, whitespace-normalized words) whose text
    * occurs anywhere in `bench` marks its word range as contaminated;
    * overlapping/adjacent ranges merge to maximal spans. This is the
    * span-LOCALIZED view of decontamination that [[containment]]'s
    * per-doc ratio cannot express — the production remedy for a long
    * document quoting one benchmark question is to cut the quoted
    * window, not to drop (or keep!) the whole doc on a global ratio.
    *
    * Output: (idCol, span_start, span_end, span_words) — 0-based word
    * index into the normalized split, end exclusive; spans per doc are
    * disjoint and sorted. Feed to [[scrubContaminatedSpans]] for the
    * rewrite, or threshold `span_words` for audit listings.
    *
    * Scale shape: the benchmark side is SMALL by definition — its
    * distinct window digests broadcast (same contract as
    * [[containment]]'s shingle probe). Corpus text never shuffles:
    * windows exist only as the 128-bit digest pair of
    * `Dedup.windowDigests` computed scan-side (two independent
    * xxhash64s keep the corpus-wide false-hit expectation ≈
    * n·m/2^128); the broadcast hash join ships no corpus bytes, and
    * the interval merge is a per-document window — bounded by max doc
    * length, never a global sort. A 100 TB corpus streams through at
    * scan speed.
    */
  def contaminatedSpans(corpus: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        windowWords: Int = 8): DataFrame = {
    require(windowWords >= 2,
      s"contaminatedSpans: windowWords must be >= 2, got $windowWords")
    val W = windowWords
    val probe = Dedup.windowDigests(
        bench.select(monotonically_increasing_id().as("__bid"), col(textCol)),
        "__bid", textCol, W)
      .select("__h1", "__h2").distinct()
    val hits = Dedup.windowDigests(corpus, idCol, textCol, W)
      .join(broadcast(probe), Seq("__h1", "__h2"))
      .select(col(idCol), col("__s"), (col("__s") + lit(W.toLong)).as("__e"))
    Dedup.mergeWordSpans(hits, idCol)
  }

  /** The rewrite counterpart of [[contaminatedSpans]]: the corpus with
    * every benchmark-contaminated span's words removed (surviving
    * words rejoined with single spaces in original order). Surviving
    * text is the doc's NORMALIZED form — `textfns.normalizeText`'s
    * full contract, i.e. LOWERCASED as well as whitespace-collapsed
    * (word offsets only align against the normalization the window
    * digests were computed over); callers that must preserve casing
    * should treat [[contaminatedSpans]] as a mask source and re-slice
    * the original text themselves. A doc that is entirely benchmark
    * coverage becomes the empty string — deletion is a separate
    * policy decision, as in `Dedup.dropDuplicatedSpans`. */
  def scrubContaminatedSpans(corpus: DataFrame, bench: DataFrame,
                             idCol: String, textCol: String,
                             windowWords: Int = 8): DataFrame =
    Dedup.removeWordSpans(corpus, idCol, textCol,
      contaminatedSpans(corpus, bench, idCol, textCol, windowWords))

  /** EMBEDDING-level decontamination — the semantic sibling of the
    * n-gram probes above: flag corpus rows whose best cosine against
    * any benchmark embedding reaches `threshold` (paraphrased or
    * re-worded test questions leak PAST every n-gram screen; their
    * embeddings do not). Output: (idCol, bench_id, score) for flagged
    * rows only — score is the QUANTIZED signed-cos² of the exact ANN
    * tiers (×1000 BigDecimal HALF_UP integer vectors, integer dots,
    * sign(d)·d²/(na·nb) in double — `Ann.bruteForceTopK`'s
    * `quantized=true` arithmetic to the bit), bench_id the argmax
    * with min-id tie-break, so DuckDB replays every row. Note the
    * scale: cos² 0.25 ≈ |cos| 0.5.
    *
    * Scale shape: the benchmark side is SMALL by definition (eval
    * sets) — it collects and broadcasts under the same small-side
    * contract as the exact ANN query side (past 65,536 rows the call
    * fails, naming the n-gram screens that join instead); the corpus
    * streams through ONE scan with zero shuffles (the flag is
    * scan-side, the output already filtered). Null ids/vectors on
    * either side are excluded (the trainSample discipline); an empty
    * benchmark returns the empty frame, not a crash. Mixed dimensions
    * fail fast. */
  def semantic(corpus: DataFrame, bench: DataFrame, threshold: Double,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import graft.similarity.Ann.{longDot, quantize1000, quantizedScore}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = corpus.sparkSession
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("bench_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val benchRows: Array[(Long, Array[Long], Double)] = SmallSide.orFail(bench
        .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
        .select(col(idCol).cast("long"), col(vecCol).cast("array<float>")),
      "Decontam.semantic", "benchmark", "split the benchmark, or screen " +
        "n-grams with Decontam.contaminated or contaminatedBloom, which " +
        "join the benchmark without a driver collect")
      .map { r =>
        val q = quantize1000(r.getSeq[Float](1).toArray)
        (r.getLong(0), q, longDot(q, q).toDouble)
      }
    if (benchRows.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val bc = spark.sparkContext.broadcast(benchRows)
    val out = corpus
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>")).rdd
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { r =>
          val id = r.getLong(0)
          val qv = quantize1000(r.getSeq[Float](1).toArray)
          val na = longDot(qv, qv).toDouble
          var best = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var i = 0
          while (i < qs.length) {
            val (bid, bq, nb) = qs(i)
            val s = quantizedScore("semantic", "benchmark", qv, na, bq, nb)
            if (s > best || (s == best && bid < bestId)) { best = s; bestId = bid }
            i += 1
          }
          if (best >= threshold) Some(Row(id, bestId, best)) else None
        }
      }
    spark.createDataFrame(out, schema)
  }
}
