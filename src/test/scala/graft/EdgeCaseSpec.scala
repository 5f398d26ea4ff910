package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.operators.{Freq, Shuffle, Skew}

/** Degenerate-input robustness: empty corpora and all-null columns are
  * routine at scale (empty partitions, filtered-out shards, corrupt
  * upstream batches) — every operator must return an empty/neutral
  * result, never throw. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  private def emptyDocs: DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def nullTextDocs: DataFrame = {
    import spark.implicits._
    Seq((1L, null: String), (2L, null: String), (3L, "real text here okay"))
      .toDF("doc_id", "text")
  }

  test("dedup family returns empty results on an empty corpus") {
    assert(Dedup.exact(emptyDocs, "text", "doc_id").count() == 0)
    assert(Dedup.minHashLshPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minHashLshPairs(emptyDocs, "doc_id", "text",
      threshold = 1.0, spanning = true).count() == 0)
    assert(Dedup.simHashPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.crossDedup(emptyDocs, emptyDocs, "doc_id", "text",
      threshold = 1.0, spanning = true).count() == 0)
    assert(Dedup.dedupNear(emptyDocs, "doc_id",
      Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text")).count() == 0)
  }

  test("null text never pairs, never throws; non-null rows still process") {
    val pairs = Dedup.minHashLshPairs(nullTextDocs, "doc_id", "text",
      threshold = 1.0, spanning = true)
    // null texts have no shingles: jaccard(∅,∅)=0 < 1.0 — no pairs
    assert(pairs.count() == 0)
    val kept = Dedup.exact(nullTextDocs, "text", "doc_id")
    // null != null in SQL semantics: two null-text documents are NOT
    // duplicates of each other, so ALL rows survive exact dedup
    assert(kept.count() == 3,
      s"null-text rows must not collapse into one group: ${kept.collect().toSeq}")
    // and the dup map reports no null-text row as anyone's duplicate
    assert(Dedup.exactDupMap(nullTextDocs, "text", "doc_id").count() == 0)
  }

  test("heavyHitters on an empty stream returns no hitters") {
    assert(Freq.heavyHitters(emptyDocs.select(col("text")), "text", 0.01)
      .count() == 0)
  }

  test("epochShuffle of an empty frame is empty; single row is itself") {
    import spark.implicits._
    assert(Shuffle.epochShuffle(emptyDocs, "doc_id", 1).count() == 0)
    val one = Seq((42L, "x")).toDF("doc_id", "text")
    assert(Shuffle.epochShuffle(one, "doc_id", 9).collect()
      .map(_.getLong(0)).toSeq == Seq(42L))
  }

  test("saltedSummarise and skewAwareJoin handle empty inputs") {
    import spark.implicits._
    val empty = emptyDocs.select(col("doc_id"),
      lit(1.0).as("v")).filter(lit(false))
    assert(Skew.saltedSummarise(empty, Seq("doc_id"), salts = 4,
      ("s", "v", "sum")).count() == 0)
    val right = Seq((1L, "a")).toDF("doc_id", "tag")
    assert(Skew.skewAwareJoin(emptyDocs, right, "doc_id",
      hotThreshold = 10, sampleFraction = 0.2).count() == 0)
  }

  test("hamming64Pairs: empty input is empty; >63 maxHamming refused") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id", "sig")
    assert(Dedup.hamming64Pairs(empty, maxHamming = 4).count() == 0)
    // maxHamming+1 pigeonhole blocks must fit in 64 bits — 64+ would
    // silently produce zero-width block keys instead of a guarantee
    intercept[IllegalArgumentException] {
      Dedup.hamming64Pairs(empty, maxHamming = 64)
    }
  }

  test("decisionHash raises on null and negative ids — no silent routing") {
    // a null id must NOT hash to null (downstream threshold CaseWhens
    // would silently route the row to their otherwise-branch, e.g.
    // every bad row into the "test" split) — it must raise
    import spark.implicits._
    val nulls = Seq[(java.lang.Long, String)]((null, "x")).toDF("doc_id", "t")
    val eN = intercept[Exception] {
      nulls.select(Shuffle.decisionHash(col("doc_id"), 48271L, 11213L)).collect()
    }
    assert(eN.getMessage != null)
    val negs = Seq((-1L, "x")).toDF("doc_id", "t")
    intercept[Exception] {
      negs.select(Shuffle.decisionHash(col("doc_id"), 48271L, 11213L)).collect()
    }
  }

  test("leakageSafeSplit: empty pairs = per-doc behavior, empty docs = empty") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val split = Dedup.leakageSafeSplit(docs, "doc_id", noPairs)
    assert(split.count() == 2)
    // with no pairs, every doc is its own cluster representative
    assert(split.filter(col("rep") =!= col("doc_id")).count() == 0)
    val emptyDocs2 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.leakageSafeSplit(emptyDocs2, "doc_id", noPairs).count() == 0)
  }

  // ---- round-13 second-session operators ------------------------------

  test("duplicatedSpans: single doc, exact-window doc, high minOccurrences") {
    import spark.implicits._
    // one doc alone: intra-doc windows occur once each — no spans
    val solo = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(solo, "doc_id", "text", 8).count() == 0)
    // doc of EXACTLY windowWords words duplicated: one window, one
    // full-width span per copy
    val exact8 = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(exact8, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(spans.toSeq == Seq((1L, 0L, 8L), (2L, 0L, 8L)))
    // raising minOccurrences above the corpus count empties the result
    assert(Dedup.duplicatedSpans(exact8, "doc_id", "text", 8,
      minOccurrences = 3L).count() == 0)
    // empty corpus: no spans, no crash
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(none, "doc_id", "text", 8).count() == 0)
  }

  test("stratifiedSample: empty frame and null stratum values") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(Shuffle.stratifiedSample(empty, Seq("source"), "doc_id", 3).count() == 0)
    // a NULL stratum is a stratum (GROUP BY semantics): sampled like
    // any other, never silently dropped
    val d = Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "source")
    val out = Shuffle.stratifiedSample(d, Seq("source"), "doc_id", 2)
    assert(out.filter(col("source").isNull).count() == 2)
    assert(out.count() == 4)
  }

  test("zOrderKey: constant column degrades gracefully, not divergently") {
    import spark.implicits._
    val d = (1 to 100).map(i => (7, i)).toDF("x", "y")
    // x is constant: every cut equals 7, all rows land in x-bucket 0 —
    // the key still spreads on y and stays deterministic
    val keys = d.select(graft.operators.Layout.zOrderKey(d, Seq("x", "y"), 4).as("z"))
      .distinct().count()
    assert(keys > 1)
  }

  test("FuzzyJoin: empty frame, and unicode strings compare by content") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    assert(graft.operators.FuzzyJoin.selfPairs(empty, "id", "s", 2).count() == 0)
    val uni = Seq((1L, "café noir"), (2L, "café noirs"), (3L, "tea"))
      .toDF("id", "s")
    val pairs = graft.operators.FuzzyJoin.selfPairs(uni, "id", "s", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1)))
  }

  test("Bpe: empty and degenerate corpora train to empty merge tables") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Bpe.train(empty, "text", 5).isEmpty)
    // a single 1-char word: only (char, </w>) exists once — below the
    // min pair count, nothing merges
    val one = Seq((1L, "x")).toDF("doc_id", "text")
    assert(graft.operators.Bpe.train(one, "text", 5).isEmpty)
    // encode with the empty table still round-trips to char tokens
    val enc = graft.operators.Bpe.encode(one, "doc_id", "text", Seq.empty)
      .collect()(0).getSeq[String](1)
    assert(enc == Seq("x", graft.operators.Bpe.EndOfWord))
  }

  test("contentSignature: null text yields null signature (dedup groups nulls once)") {
    import spark.implicits._
    val d = Seq((1L, null.asInstanceOf[String]), (2L, "a b c d e f"))
      .toDF("doc_id", "text")
    val sigs = d.select(col("doc_id"),
      Dedup.contentSignature(col("text"), 3).as("sig")).collect()
    assert(sigs.find(_.getLong(0) == 1L).get.isNullAt(1))
    assert(!sigs.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("linkPairs: either side empty or all-null yields an empty result") {
    import spark.implicits._
    val some = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "s")
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    val nulls = Seq((9L, null.asInstanceOf[String])).toDF("id", "s")
    assert(graft.operators.FuzzyJoin.linkPairs(
      empty, "id", "s", some, "id", "s", 2).count() == 0)
    assert(graft.operators.FuzzyJoin.linkPairs(
      some, "id", "s", empty, "id", "s", 2).count() == 0)
    assert(graft.operators.FuzzyJoin.linkPairs(
      some, "id", "s", nulls, "id", "s", 2).count() == 0)
  }

  test("groupedHeavyHitters and trendingAgg: empty inputs are empty, not errors") {
    import spark.implicits._
    val emptyGw = Seq.empty[(String, String)].toDF("g", "w")
    assert(graft.operators.Freq.groupedHeavyHitters(
      emptyGw, Seq("g"), "w", minFraction = 0.1).count() == 0)
    val emptyEvents = spark.read.parquet(s"${SparkT.sfDir}/events.parquet")
      .filter(lit(false))
    assert(graft.streaming.Streams.trendingAgg(
      emptyEvents, "1 hour", 0.25).count() == 0)
  }

  test("Search: empty corpus, no-hit terms, and null text degrade to empty") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Search.invertedIndex(emptyDocs, "doc_id", "text").count() == 0)
    assert(graft.operators.Search.bm25TopDocs(
      emptyDocs, "doc_id", "text", Seq("x"), 5).count() == 0)
    val nullDocs = Seq((1L, null.asInstanceOf[String]), (2L, "real text here"))
      .toDF("doc_id", "text")
    assert(graft.operators.Search.bm25TopDocs(
      nullDocs, "doc_id", "text", Seq("zzz_absent"), 5).count() == 0)
    val idx = graft.operators.Search.invertedIndex(nullDocs, "doc_id", "text")
    assert(graft.operators.Search.andSearch(idx, Seq("zzz_absent")).count() == 0)
  }

  test("ivfPqTopKIndexed: empty query batch returns empty, reads no cells") {
    val emb = SparkT.table("embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_annidx").toString
    graft.similarity.Ann.buildIvfPqIndex(emb, dir, nCells = 4, m = 8, ksub = 16)
    val noQueries = emb.filter(lit(false))
    assert(graft.similarity.Ann.ivfPqTopKIndexed(
      spark, dir, noQueries, emb, k = 5, nCells = 4, m = 8, ksub = 16).count() == 0)
  }

  test("videoSignatures: empty frame empty; zero-length payload takes the stub arm") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Array[Byte], String, Long)]
      .toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
    assert(graft.multimodal.Multimodal.videoSignatures(empty).count() == 0)
    val zero = Seq((1L, "video", Array.emptyByteArray, "video/x-gvid", 0L))
      .toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
    val r = graft.multimodal.Multimodal.videoSignatures(zero).collect()(0)
    assert(r.getString(2) == "stub")
  }

  test("columnStats on an empty frame: zero counts, null ranges — not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    val rows = graft.operators.Profiler.columnStats(empty, Seq("id", "s"))
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L &&
        r.getLong(3) == 0L && r.getLong(4) == 0L)
      assert(r.isNullAt(5) && r.isNullAt(6))
    }
  }

  /** A small side one row past [[SmallSide.MaxRows]] (every row the
    * same 2-d vector), the two-row corpus it runs against, and the
    * failure it must raise: naming the caller, the limit and the
    * distributed alternative — not a driver heap full of rows. */
  private def oneOverLimit: DataFrame =
    spark.range(SmallSide.MaxRows + 1L).select(col("id").as("vec_id"),
      typedLit(Array(1.0f, 0.0f)).as("embedding"))

  private def twoRowCorpus: DataFrame = {
    import spark.implicits._
    Seq((-1L, Array(1.0f, 0.0f)), (-2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
  }

  private def assertRefused(call: => Any, caller: String,
                            alternative: String): Unit = {
    val msg = intercept[IllegalArgumentException](call).getMessage
    Seq(caller, s"more than ${SmallSide.MaxRows} rows", alternative)
      .foreach(w => assert(msg.contains(w), s"'$w' missing from: $msg"))
  }

  test("bruteForceTopK refuses a query side one row past the driver limit") {
    assertRefused(graft.similarity.Ann.bruteForceTopK(twoRowCorpus,
      oneOverLimit, k = 1), "bruteForceTopK", "lshTopK or ivfTopK")
  }

  test("marginMine refuses a query side one row past the driver limit") {
    assertRefused(graft.similarity.Ann.marginMine(twoRowCorpus,
      oneOverLimit, k = 1), "marginMine", "split the query batch")
  }

  test("Decontam.semantic refuses a benchmark one row past the driver limit") {
    assertRefused(graft.operators.Decontam.semantic(twoRowCorpus,
      oneOverLimit, threshold = 0.5), "Decontam.semantic",
      "Decontam.contaminated or contaminatedBloom")
  }
}
