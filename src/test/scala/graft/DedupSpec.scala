package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

/** Planted-duplicate recall specs — the correctness pin for the
  * hash-seeded operators the DuckDB oracle can't replay. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  private def docs: DataFrame =
    SparkT.table("documents").select(col("doc_id"), col("text"))

  /** originals ∪ exact copies at doc_id+10000 */
  private def withExact = docs.unionByName(
    docs.select((col("doc_id") + 10000L).as("doc_id"), col("text")))

  /** originals ∪ tail-padded near-copies of every 10th doc */
  private def withNear = docs.unionByName(
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"),
        concat(col("text"), lit(" graft dedup pad tail")).as("text")))

  private def plantedPairs(result: DataFrame): Long =
    result.filter(col("id_b") === col("id_a") + 10000L).count()

  private val nPlanted = docs.filter(col("doc_id") % 10 === 0).count()

  test("exact dedup keeps exactly one survivor per text, lowest id") {
    val kept = Dedup.exact(withExact, "text", "doc_id")
    assert(kept.count() == docs.count())
    assert(kept.agg(max(col("doc_id"))).collect()(0).getLong(0) < 10000L)
  }

  test("exactDupMap maps every duplicate to its lowest-id survivor") {
    val m = Dedup.exactDupMap(withExact, "text", "doc_id")
    assert(m.count() == docs.count())
    assert(m.filter(col("dup_id") =!= col("keep_id") + 10000L).count() == 0)
  }

  test("minhash LSH finds every planted near-duplicate pair") {
    val pairs = Dedup.minHashLshPairs(withNear, "doc_id", "text",
      shingleN = 3, k = 128, bands = 32, threshold = 0.5)
    assert(plantedPairs(pairs) == nPlanted)
    // and verification keeps jaccard honest: no pair below threshold
    assert(pairs.filter(col("jaccard") < 0.5).count() == 0)
  }

  test("LSH pair path end-to-end (dd8): threshold=1.0 recovers exactly the exact-dup survivors") {
    // the dd8 oracle contract: at threshold=1.0 the LSH path keeps
    // precisely the jaccard==1 pairs (identical shingle sets →
    // identical signatures → candidates in every band; recall 1.0 by
    // construction, independent of hash seeds), so the survivor set
    // must equal exact-text dedup's on a corpus of exact copies
    val pairs = Dedup.minHashLshPairs(withExact, "doc_id", "text",
      shingleN = 7, k = 128, bands = 32, threshold = 1.0,
      spanning = true)
    val survivors = Dedup.dedupNear(withExact, "doc_id", pairs)
      .select("doc_id")
    // exact-text dedup is the independent reference; docs too short to
    // shingle (<7 words) pair with nothing and keep both copies
    val shortDocs = withExact
      .filter(size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")) < 7)
      .select("doc_id")
    val exactSurvivors = Dedup.exact(withExact, "text", "doc_id")
      .select("doc_id").unionByName(shortDocs).distinct()
    assert(survivors.exceptAll(exactSurvivors).count() == 0,
      "LSH path kept a doc exact dedup dropped (beyond short-doc exemption)")
    assert(exactSurvivors.exceptAll(survivors).count() == 0,
      "LSH path dropped a doc it should have kept")
  }

  test("spanning pairs are linear in duplicate multiplicity: m copies → m−1 pairs") {
    // the scale contract that replaced bucketCap=Int.MaxValue: a doc
    // duplicated m times yields exactly m−1 spanning pairs (one
    // contiguous run per bucket, deduped across bands), where the
    // clique path yields m(m−1)/2 — the quadratic bucket the verdict
    // flagged. 100 copies: 99 vs 4950.
    import spark.implicits._
    val m = 100
    val copies = (1L to m.toLong)
      .map(i => (i, "the same boilerplate sentence repeated across the corpus forever and ever"))
      .toDF("doc_id", "text")
    val distinctDocs = Seq(
      (1000L, "a completely different document about spark partitioning at scale"),
      (1001L, "yet another unrelated text concerning catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(copies.unionByName(distinctDocs),
      "doc_id", "text", shingleN = 3, k = 32, bands = 8, threshold = 1.0,
      spanning = true)
    assert(pairs.count() == m - 1, s"expected ${m - 1} spanning pairs")
    // and they connect the whole class: one cluster of all m copies
    val clusters = Dedup.duplicateClusters(pairs)
    assert(clusters.select("cluster_id").distinct().count() == 1)
    assert(clusters.count() == m)
  }

  test("spanning connected components equal the clique path's") {
    val spanningPairs = Dedup.minHashLshPairs(withExact, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0, spanning = true)
    val cliquePairs = Dedup.minHashLshPairs(withExact, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0, bucketCap = 100000)
    val a = Dedup.duplicateClusters(spanningPairs)
      .groupBy("cluster_id").agg(sort_array(collect_list("id")).as("members"))
      .select("members")
    val b = Dedup.duplicateClusters(cliquePairs)
      .groupBy("cluster_id").agg(sort_array(collect_list("id")).as("members"))
      .select("members")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "spanning and clique paths must produce identical duplicate clusters")
  }

  test("spanning mode refuses threshold below 1.0 (non-transitive similarity)") {
    intercept[IllegalArgumentException] {
      Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.5,
        spanning = true)
    }
    intercept[IllegalArgumentException] {
      Dedup.crossNearDupPairs(docs, docs, "doc_id", "text", threshold = 0.9,
        spanning = true)
    }
  }

  test("cross-corpus spanning matches the capped path's matched-id set") {
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val viaSpanning = Dedup.crossDedup(withExact, ref, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0, spanning = true)
      .select("doc_id")
    val viaCapped = Dedup.crossDedup(withExact, ref, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0, bucketCap = 100000)
      .select("doc_id")
    assert(viaSpanning.exceptAll(viaCapped).count() == 0 &&
      viaCapped.exceptAll(viaSpanning).count() == 0)
  }

  test("crossDedup drops corpus docs the reference corpus already contains") {
    // corpus = originals ∪ exact copies; reference = the originals'
    // every-10th docs. Copies of reference docs (and the reference
    // docs themselves) must go; everything else survives.
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val survivors = Dedup.crossDedup(withExact, ref, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0,
      spanning = true)
    val gone = withExact.join(survivors.select("doc_id"), Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    // dropped ids = every %10 original and its +10000 copy (modulo
    // docs too short to shingle, which can never match)
    val shingleable = docs
      .filter(size(graft.expressions.GraftFunctions.graft_word_shingles(col("text"), 7)) > 0)
      .filter(col("doc_id") % 10 === 0).collect().map(_.getLong(0)).toSet
    assert(gone == shingleable ++ shingleable.map(_ + 10000L),
      s"unexpected drop set diff: ${(gone diff (shingleable ++ shingleable.map(_ + 10000L))).take(5)}")
  }

  test("crossNearDupPairs finds cross-corpus near-duplicates below jaccard 1") {
    // tail-padded variants of reference docs: near (not exact) matches
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val near = ref.select((col("doc_id") + 10000L).as("doc_id"),
      concat(col("text"), lit(" graft dedup pad tail")).as("text"))
    val pairs = Dedup.crossNearDupPairs(near, ref, "doc_id", "text",
      shingleN = 3, k = 128, bands = 32, threshold = 0.5)
    // every planted near-variant matches its source reference doc
    val matched = pairs.filter(col("corpus_id") === col("ref_id") + 10000L).count()
    assert(matched == nPlanted, s"found $matched of $nPlanted planted cross pairs")
    assert(pairs.filter(col("jaccard") < 0.5).count() == 0)
  }

  test("simhash: exact copies at hamming 0 are all found; bound respected") {
    // identical shingle sets → identical simhash → pigeonhole blocks
    // guarantee discovery; that's the hard recall contract
    val pairs = Dedup.simHashPairs(withExact, "doc_id", "text",
      shingleN = 3, maxHamming = 3)
    assert(plantedPairs(pairs) == docs.count())
    assert(pairs.filter(col("hamming") > 3).count() == 0)
  }

  test("simhash near-duplicates: some planted pairs within hamming 3") {
    // tail-padding shifts ~bits proportionally to the edit, so hamming<=3
    // is intentionally conservative — a lossier signal than minhash.
    val pairs = Dedup.simHashPairs(withNear, "doc_id", "text",
      shingleN = 3, maxHamming = 3)
    assert(plantedPairs(pairs) > 0)
  }

  test("ngram jaccard (hash-free audit path) finds every planted pair") {
    val pairs = Dedup.ngramJaccardPairs(withNear, "doc_id", "text",
      shingleN = 5, threshold = 0.5)
    assert(plantedPairs(pairs) == nPlanted)
  }

  test("char-level minhash finds CJK near-dups where word-level cannot") {
    import spark.implicits._
    // boundary-less text: word shingling sees each doc as one token
    val base = "深度学习模型需要大规模高质量的训练数据才能取得良好效果而数据去重是保证质量的关键步骤之一"
    val cjk = (0L until 20L).map(i => (i, base + ("附加段落" * i.toInt))).toDF("doc_id", "text")
    val near = cjk.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), concat(col("text"), lit("结尾")).as("text"))
    val corpus = cjk.unionByName(near)
    val charPairs = Dedup.minHashLshPairs(corpus, "doc_id", "text",
      shingleN = 4, threshold = 0.5, charLevel = true)
    assert(charPairs.filter(col("id_b") === col("id_a") + 1000L).count() == 4)
    val wordPairs = Dedup.minHashLshPairs(corpus, "doc_id", "text",
      shingleN = 3, threshold = 0.5, charLevel = false)
    // word-level: every doc is a single "word" → < 3 shingles → nothing
    assert(wordPairs.count() == 0)
  }

  test("embedding dedup finds planted identical vectors") {
    val emb = SparkT.table("embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(planted)
    val pairs = Dedup.embeddingDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.999, nBits = 10, tables = 2)
    // identical vectors share every SRP bucket → all 50 pairs found
    assert(pairs.filter(col("id_b") === col("id_a") + 10000L).count() == 50)
  }

  test("paragraphDedup drops corpus-recurring paragraphs, keeps document order") {
    import spark.implicits._
    val sep = "\n\n"
    val docs = Seq(
      (1L, Seq("Boiler", "alpha beta", "gamma").mkString(sep)),
      (2L, Seq("Boiler", "delta").mkString(sep)),
      (3L, Seq("Boiler", "alpha beta").mkString(sep)), // "alpha beta" ×2 ≤ t: kept
      (4L, " boiler ")                                 // normalization-equal to Boiler; all paragraphs banned
    ).toDF("doc_id", "text")
    // fingerprints are whitespace/case-normalized, so Boiler/" boiler "
    // count as ONE paragraph occurring 4 > 3 times
    val out = Dedup.paragraphDedup(docs, "doc_id", "text",
        sep = sep, maxOccurrences = 3L)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq(
      1L -> ("alpha beta" + sep + "gamma"),
      2L -> "delta",
      3L -> "alpha beta",
      4L -> ""))
    // below threshold nothing is banned — documents pass unchanged
    val loose = Dedup.paragraphDedup(docs, "doc_id", "text",
        sep = sep, maxOccurrences = 10L)
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(loose == docs.orderBy("doc_id").collect().map(_.getString(1)).toSeq)
  }

  test("paragraphDedup preserves null text (does not rewrite it to empty)") {
    import spark.implicits._
    val docs = Seq((1L, Some("keep me")), (2L, None))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "keep me")
    assert(out(1).isNullAt(1), "null text must stay null, not become \"\"")
  }

  test("paragraphDedup join route is row-identical to the broadcast route") {
    import spark.implicits._
    val sep = "\n\n"
    // 60 docs × 4 paragraphs: a corpus-wide header (banned), a
    // per-group chorus repeating 6× (banned at t=3), a unique body,
    // plus edge rows: null text, empty text, all-paragraphs-banned
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq("Header", s"chorus ${i % 10}", s"body unique $i", "Header")
        .mkString(sep))
    }.toDF("doc_id", "text")
      .unionByName(Seq(
        (100L, Some("Header" + sep + "chorus 0")), // every paragraph banned
        (101L, Some("")),                          // empty text
        (102L, Option.empty[String])               // null text
      ).toDF("doc_id", "text"))
    val viaBroadcast = Dedup.paragraphDedupBroadcast(docs, "text",
      sep = sep, maxOccurrences = 3L)
    val viaJoin = Dedup.paragraphDedupJoin(docs, "doc_id", "text",
      sep = sep, maxOccurrences = 3L)
    val diff = viaBroadcast.except(viaJoin).count() +
      viaJoin.except(viaBroadcast).count()
    assert(diff == 0, "routes must be row-identical")
    // spot-check semantics on the join route directly
    val got = viaJoin.orderBy("doc_id").collect()
    assert(got(0).getString(1) == "body unique 0")
    assert(got(60).getString(1) == "")
    assert(got(61).getString(1) == "")
    assert(got(62).isNullAt(1))
  }

  test("paragraphDedup falls back to the join route past the broadcast budget") {
    import spark.implicits._
    val sep = "\n\n"
    val docs = (0 until 40).map { i =>
      (i.toLong, Seq("Boiler", s"keep $i").mkString(sep))
    }.toDF("doc_id", "text")
    // a 1-byte budget forces the fallback through the PUBLIC guarded
    // entry point (1 banned fingerprint × 48 bytes > 1); result must
    // match the broadcast route exactly
    val guarded = Dedup.paragraphDedup(docs, "doc_id", "text",
      sep = sep, maxOccurrences = 1L, maxBannedBroadcastBytes = 1L)
    val reference = Dedup.paragraphDedupBroadcast(docs, "text",
      sep = sep, maxOccurrences = 1L)
    val diff = guarded.except(reference).count() +
      reference.except(guarded).count()
    assert(diff == 0, "over-budget fallback must be row-identical")
    assert(guarded.orderBy("doc_id").collect().map(_.getString(1)).toSeq ==
      (0 until 40).map(i => s"keep $i"))
  }

  test("paragraphDedup route edge: a budget at the banned-set size and one byte below agree") {
    import spark.implicits._
    val sep = "\n\n"
    val docs = (0 until 40).map { i =>
      (i.toLong, Seq("Boiler", s"keep $i").mkString(sep))
    }.toDF("doc_id", "text")
    // one banned fingerprint ("Boiler"): a budget of exactly its 48
    // bytes keeps the broadcast route, one byte less takes the join
    def run(budget: Long) = {
      val df = Dedup.paragraphDedup(docs, "doc_id", "text", sep = sep,
        maxOccurrences = 1L, maxBannedBroadcastBytes = budget)
      // the join route probes banned paragraph positions (`__bpos`)
      val joined = df.queryExecution.analyzed.exists(
        _.output.exists(_.name == "__bpos"))
      (joined, df.orderBy("doc_id").collect().map(_.getString(1)).toSeq)
    }
    val (atJoined, atSize) = run(48L)
    val (belowJoined, belowSize) = run(47L)
    assert(!atJoined, "a budget equal to the banned-set size takes the broadcast route")
    assert(belowJoined, "a budget one byte below it takes the join route")
    assert(atSize == belowSize)
    assert(atSize == (0 until 40).map(i => s"keep $i"))
  }

  test("declared sub-threshold LSH recall gate (dd11): floor vs exact pairs") {
    // the measured number the dd11 query puts in every correctness
    // dump; theory at k=128/b=32 (r=4): P(candidate) = 1-(1-s^4)^32
    // ≈ 0.87 at jaccard exactly 0.5, →1 above — and the fixture's
    // planted pairs sit well above 0.5, so the measured recall runs
    // higher. Floor leaves regression margin below the measurement.
    val r = SparkEntry.queries("dd11_lsh_recall")(spark, SparkT.sfDir).collect()(0)
    val (nExact, recall) = (r.getLong(1), r.getDouble(3))
    assert(nExact > 0, "fixture must contain exact pairs to measure against")
    assert(recall >= 0.8, s"sub-threshold LSH pair recall = $recall (n_exact=$nExact)")
  }

  test("minHashLshPairs rejects k not a positive multiple of bands") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minHashLshPairs(d, "doc_id", "text", k = 16, bands = 32)
    }
    intercept[IllegalArgumentException] {
      Dedup.minHashLshPairs(d, "doc_id", "text", k = 100, bands = 32)
    }
  }

  test("leakageSafeSplit: no duplicate class straddles train/eval; singletons match per-doc split") {
    // exact route (the declared cur6 query shape): every same-text
    // class must land in exactly ONE split — a straddling class makes
    // the eval number score memorization
    val pairs = Dedup.exactDupMap(withExact, "text", "doc_id")
      .select(col("keep_id").as("id_a"), col("dup_id").as("id_b"))
    val split = Dedup.leakageSafeSplit(withExact, "doc_id", pairs)
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val straddle = split.groupBy(norm.as("t"))
      .agg(countDistinct(col("split")).as("ns")).filter(col("ns") > 1).count()
    assert(straddle == 0, s"$straddle duplicate classes straddle splits")
    // proportions stay near 80/10/10 (hash uniformity sanity band)
    val frac = split.filter(col("split") === "train").count().toDouble / split.count()
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
    // a duplicate-free corpus splits EXACTLY like the per-doc hash
    // (same constants) — leakage safety costs nothing without dups
    val solo = Dedup.leakageSafeSplit(docs, "doc_id",
      Dedup.exactDupMap(docs, "text", "doc_id")
        .select(col("keep_id").as("id_a"), col("dup_id").as("id_b")))
    val perDoc = docs
      .withColumn("__h",
        graft.operators.Shuffle.decisionHash(col("doc_id"), 48271L, 11213L))
      .withColumn("split_pd",
        when(col("__h") < 1717986917L, "train")
          .when(col("__h") < 1932735282L, "valid").otherwise("test"))
      .select(col("doc_id"), col("split_pd"))
    assert(solo.join(perDoc, "doc_id")
      .filter(col("split") =!= col("split_pd")).count() == 0)
    // LSH route: LSH pairs plug into the same split — every planted
    // (i, i+10000) copy pair must co-split. Threshold-1.0 spanning
    // mode on EXACT copies, where candidate recall is a theorem
    // (identical shingle sets ⇒ identical signatures ⇒ same bucket);
    // a sub-1.0 threshold would sit this assert on the LSH recall
    // cliff — fixture docs near the verify boundary (jaccard exactly
    // (w−6)/(w−2) = 0.5 at the 10-word minimum) could drop a pair on
    // any seed/fixture change with no product regression behind it.
    val lshPairs = Dedup.minHashLshPairs(withExact, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0, spanning = true)
    val lshSplit = Dedup.leakageSafeSplit(withExact, "doc_id", lshPairs)
      .select(col("doc_id"), col("split"))
    val coSplit = lshSplit.as("a")
      .join(lshSplit.select((col("doc_id") - 10000L).as("doc_id"),
        col("split").as("split_b")), "doc_id")
    assert(coSplit.filter(col("split") =!= col("split_b")).count() == 0,
      "a planted duplicate pair straddles splits via the LSH route")
  }

  // ---- duplicated-span detection --------------------------------------

  /** Synthetic corpus with word-exactly-known duplication: unique
    * filler words everywhere except a planted 10-word passage shared
    * by docs 1 and 2 (doc 2 at a different offset), and doc 3
    * repeating an 8-word run inside itself. Unique fillers (`u<id>`)
    * guarantee no accidental window collisions. */
  private def spanDocs = {
    import spark.implicits._
    def u(d: Int, n: Int) = (0 until n).map(i => s"u${d}x$i").mkString(" ")
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val run8 = "r1 r2 r3 r4 r5 r6 r7 r8"
    Seq(
      (1L, s"${u(1, 6)} $passage ${u(1, 5).replace("u1x", "v1x")}"),
      (2L, s"$passage ${u(2, 9)}"),
      (3L, s"${u(3, 4)} $run8 ${u(3, 3).replace("u3x", "w3x")} $run8 ${u(3, 2).replace("u3x", "y3x")}"),
      (4L, u(4, 12)),
      (5L, "short doc"), // < windowWords ⇒ no windows at all
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
  }

  test("duplicatedSpans finds exactly the planted cross-doc passage, merged maximal") {
    val spans = Dedup.duplicatedSpans(spanDocs, "doc_id", "text",
        windowWords = 8, minOccurrences = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    // doc 1: passage at words 6..16; doc 2: words 0..10 — the three
    // 8-windows inside a 10-word passage merge to ONE maximal span
    assert(spans.count(_._1 == 1L) == 1)
    assert(spans.find(_._1 == 1L).get == ((1L, 6L, 16L)))
    assert(spans.find(_._1 == 2L).get == ((2L, 0L, 10L)))
    // doc 3: the 8-word run occurs twice WITHIN the doc (positions 4
    // and 15) — intra-doc repetition counts; spans don't bridge the
    // 3 unique words between them
    assert(spans.filter(_._1 == 3L).toSeq == Seq((3L, 4L, 12L), (3L, 15L, 23L)))
    // unique-filler docs, short docs, null docs: no spans
    assert(!spans.exists(s => s._1 >= 4L))
  }

  test("duplicatedSpans span_words column equals end-start; disjoint per doc") {
    val spans = Dedup.duplicatedSpans(spanDocs, "doc_id", "text", 8, 2L)
    assert(spans.filter(col("span_words") =!= col("span_end") - col("span_start"))
      .count() == 0)
    // disjointness: spans per doc never overlap (merge correctness)
    val overlaps = spans.as("a").join(spans.as("b"),
      col("a.doc_id") === col("b.doc_id") &&
        col("a.span_start") < col("b.span_start") &&
        col("b.span_start") < col("a.span_end"))
    assert(overlaps.count() == 0)
  }

  test("dropDuplicatedSpans removes exactly the duplicated words, keeps order") {
    val cleaned = Dedup.dropDuplicatedSpans(spanDocs, "doc_id", "text", 8, 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 2: passage stripped, unique tail survives verbatim
    assert(cleaned(2L) == (0 until 9).map(i => s"u2x$i").mkString(" "))
    // doc 1: fillers on both sides survive in order
    assert(cleaned(1L) ==
      (0 until 6).map(i => s"u1x$i").mkString(" ") + " " +
      (0 until 5).map(i => s"v1x$i").mkString(" "))
    // doc 4 untouched (normalized form); doc 5 too short; doc 6 null-preserved
    assert(cleaned(4L) == (0 until 12).map(i => s"u4x$i").mkString(" "))
    assert(cleaned(5L) == "short doc")
    assert(cleaned(6L) == null)
  }

  test("duplicatedSpans on the fixture corpus matches a window-count lower bound") {
    // the fixture generator plants recurring phrases: the span set
    // must be non-empty and every span at least windowWords wide
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", 8, 2L)
    assert(spans.count() > 0)
    assert(spans.filter(col("span_words") < 8).count() == 0)
  }

  // ---- persisted signature index (incremental cross-corpus) -----------

  test("indexed cross-dedup pairs equal the text-side path below threshold 1.0 too") {
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val direct = Dedup.crossNearDupPairs(withNear, ref, "doc_id", "text",
      shingleN = 7, threshold = 0.5)
    val index = Dedup.buildSignatureIndex(ref, "doc_id", "text", shingleN = 7)
    val viaIndex = Dedup.crossNearDupPairsIndexed(withNear, index,
      "doc_id", "text", shingleN = 7, threshold = 0.5)
    assert(direct.exceptAll(viaIndex).count() == 0)
    assert(viaIndex.exceptAll(direct).count() == 0)
    assert(direct.count() > 0)
  }

  test("index round-trips through parquet row-identically") {
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_index").toString
    Dedup.buildSignatureIndex(ref, "doc_id", "text", shingleN = 7, k = 32)
      .write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val deduped = Dedup.crossDedupWithIndex(withExact, index, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0, spanning = true)
    val direct = Dedup.crossDedup(withExact, ref, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0, spanning = true)
    assert(deduped.select("doc_id").exceptAll(direct.select("doc_id")).count() == 0)
    assert(direct.select("doc_id").exceptAll(deduped.select("doc_id")).count() == 0)
  }

  test("index parameter drift fails loudly instead of matching nothing") {
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val index = Dedup.buildSignatureIndex(ref, "doc_id", "text", shingleN = 7)
    val e = intercept[Exception] {
      Dedup.crossNearDupPairsIndexed(docs, index, "doc_id", "text",
        shingleN = 3, threshold = 0.5).count()
    }
    assert(e.getMessage.contains("params") ||
      Option(e.getCause).exists(_.getMessage.contains("params")), e.getMessage)
    // an index frame lacking the params column is refused at plan time
    intercept[IllegalArgumentException] {
      Dedup.crossNearDupPairsIndexed(docs, index.drop("params"),
        "doc_id", "text", shingleN = 7, threshold = 0.5)
    }
  }

  // ---- semantic (cluster-scoped) dedup --------------------------------

  private def embeddings = SparkT.table("embeddings")
    .select(col("vec_id"), col("embedding"))

  test("semanticDupPairs recovers every planted identical twin") {
    val twins = embeddings.filter(col("vec_id") < 100)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val pairs = Dedup.semanticDupPairs(embeddings.unionByName(twins),
      "vec_id", "embedding", nCells = 16, threshold = 0.99, windowSize = 6)
    val planted = pairs.filter(col("id_b") === col("id_a") + 10000L).count()
    val nTwins = twins.count()
    assert(planted == nTwins, s"found $planted of $nTwins planted twins")
    // verification honest: nothing below threshold leaks out
    assert(pairs.filter(col("cosine") < 0.99).count() == 0)
  }

  test("semanticDupPairs finds noised near-twins SRP bucketing could straddle") {
    // copies with one dim nudged by 1e-3: cosine ≈ 0.999998 — still a
    // near-duplicate; a hyperplane through the nudge direction could
    // split an SRP bucket, but the k-means cell assignment cannot move
    val noised = embeddings.filter(col("vec_id") < 50)
      .select((col("vec_id") + 20000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x)).as("embedding"))
    val pairs = Dedup.semanticDupPairs(embeddings.unionByName(noised),
      "vec_id", "embedding", nCells = 16, threshold = 0.999, windowSize = 6)
    val planted = pairs.filter(col("id_b") === col("id_a") + 20000L).count()
    assert(planted == 50L, s"found $planted of 50 noised near-twins")
  }

  test("semanticDupPairs: no false pairs on the natural corpus (max cosine 0.48)") {
    val pairs = Dedup.semanticDupPairs(embeddings, "vec_id", "embedding",
      nCells = 16, threshold = 0.9, windowSize = 6)
    assert(pairs.count() == 0)
  }

  test("semanticDupPairs pairs plug into the shared cluster machinery") {
    val twins = embeddings.filter(col("vec_id") < 30)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val all = embeddings.unionByName(twins)
    val pairs = Dedup.semanticDupPairs(all, "vec_id", "embedding",
      nCells = 16, threshold = 0.99, windowSize = 6)
    val survivors = Dedup.dedupNear(all, "vec_id", pairs)
    assert(survivors.count() == all.count() - 30)
  }

  test("embeddingOutliers (baseline-trained) flags exactly the planted corrupt vectors") {
    val corrupt = embeddings.filter(col("vec_id") < 10)
      .select((col("vec_id") + 50000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))
    val out = Dedup.embeddingOutliers(embeddings.unionByName(corrupt),
      "vec_id", "embedding", nCells = 16, zThreshold = 3.0,
      trainOn = embeddings)
    val flagged = out.filter(col("is_outlier"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(flagged == (0L until 10L).map(_ + 50000L).toSet,
      s"flagged=$flagged")
    // every row gets a verdict; z never null/NaN
    assert(out.count() == embeddings.count() + 10)
    assert(out.filter(col("z").isNull || isnan(col("z"))).count() == 0)
  }

  test("embeddingOutliers: SELF-trained scoring masks a coherent corrupt batch (documented)") {
    // the failure mode the trainOn parameter exists for: a clustered
    // batch of corruption captures its own k-means cell when the
    // quantizer trains on the scored frame, and scores z ≈ 0 against
    // itself. If this ever starts flagging, the masking caveat in the
    // scaladoc (and the baseline-training advice) needs rewriting.
    val corrupt = embeddings.filter(col("vec_id") < 10)
      .select((col("vec_id") + 50000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))
    val selfTrained = Dedup.embeddingOutliers(embeddings.unionByName(corrupt),
      "vec_id", "embedding", nCells = 16, zThreshold = 3.0)
    val flagged = selfTrained.filter(col("is_outlier") && col("id") >= 50000L).count()
    assert(flagged == 0, "self-training unexpectedly defeated masking")
  }

  test("embeddingOutliers: clean corpus at z>4 flags nothing") {
    val out = Dedup.embeddingOutliers(embeddings, "vec_id", "embedding",
      nCells = 16, zThreshold = 4.0)
    assert(out.filter(col("is_outlier")).count() == 0)
  }

  test("k-means-backed operators return empty results on empty/all-null input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val allNull = Seq((1L, null.asInstanceOf[Seq[Float]]),
      (2L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    for (d <- Seq(empty, allNull)) {
      val pairs = Dedup.semanticDupPairs(d, "vec_id", "embedding")
      assert(pairs.count() == 0)
      assert(pairs.columns.toSeq == Seq("id_a", "id_b", "cosine"))
      val out = Dedup.embeddingOutliers(d, "vec_id", "embedding")
      assert(out.count() == 0)
      assert(out.columns.toSeq == Seq("id", "cell", "dist", "z", "is_outlier"))
    }
    // an EXPLICIT vector-less baseline over a scored frame with
    // vectors is a caller bug — named error, not an empty verdict
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingOutliers(embeddings.limit(10), "vec_id", "embedding",
        trainOn = empty)
    }
    assert(e.getMessage.contains("embeddingOutliers"))
  }

  test("duplicatedSpans validates its parameters") {
    intercept[IllegalArgumentException] {
      Dedup.duplicatedSpans(spanDocs, "doc_id", "text", windowWords = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.duplicatedSpans(spanDocs, "doc_id", "text", minOccurrences = 1L)
    }
  }

  test("containmentPairs: quote→source is 1.0 where Jaccard is blind; orientation; threshold") {
    import SparkT.spark.implicits._
    val source = (1 to 40).map(i => s"w$i").mkString(" ") // 40 distinct words
    val quote = (1 to 10).map(i => s"w$i").mkString(" ")  // its first 10
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val d = Seq((1L, source), (2L, quote), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text", shingleN = 5,
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // quote: 6 5-shingles, all inside source's 36 → containment 1.0,
    // sub = the smaller set (doc 2) even though its id is larger
    assert(got.toSeq == Seq((2L, 1L, 6L, 6L, 1.0)))
    // Jaccard on the same pair: 6/36 — far below any useful threshold
    val j = Dedup.ngramJaccardPairs(d, "doc_id", "text", shingleN = 5,
      threshold = 0.5).count()
    assert(j == 0L, "the symmetric measure must NOT see the quote (that's the point)")
    // equal sizes tie → lower id is sub
    val eq = Seq((7L, quote), (4L, quote)).toDF("doc_id", "text")
    val eg = Dedup.containmentPairs(eq, "doc_id", "text", shingleN = 5,
      threshold = 0.9).collect()(0)
    assert(eg.getLong(0) == 4L && eg.getLong(1) == 7L && eg.getDouble(4) == 1.0)
    // threshold excludes partial containment: quote2 = half in, half out
    val quote2 = ((6 to 10).map(i => s"w$i") ++ (200 to 204).map(i => s"u$i"))
      .mkString(" ")
    val d2 = Seq((1L, source), (2L, quote2)).toDF("doc_id", "text")
    val g2 = Dedup.containmentPairs(d2, "doc_id", "text", shingleN = 5,
      threshold = 0.9)
    assert(g2.count() == 0L)
    val g3 = Dedup.containmentPairs(d2, "doc_id", "text", shingleN = 5,
      threshold = 0.1).collect()(0)
    assert(g3.getLong(2) == 1L && g3.getLong(3) == 6L) // only "w6..w10" survives
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(d, "doc_id", "text", threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(d, "doc_id", "text", maxShingleDf = -1L)
    }
  }

  test("containmentPairs: maxShingleDf drops boilerplate fan-out, keeps true pairs, lower-bounds") {
    import SparkT.spark.implicits._
    val boiler = (1 to 5).map(i => s"b$i").mkString(" ") // one shared 5-shingle
    // 20 docs sharing ONLY the boilerplate shingle + one true quote pair
    val noise = (1 to 20).map { i =>
      (i.toLong, s"$boiler x${i}a x${i}b x${i}c x${i}d x${i}e")
    }
    val source = (1 to 40).map(i => s"q$i").mkString(" ")
    val quote = (1 to 10).map(i => s"q$i").mkString(" ")
    val d = (noise ++ Seq((100L, source), (101L, quote))).toDF("doc_id", "text")
    // exact mode: the boilerplate shingle alone links all 20 noise
    // docs pairwise at full containment? No — each noise doc has 6
    // shingles, 1 shared → 1/6 < 0.5; at a LOW threshold the 190
    // noise pairs all appear
    val loose = Dedup.containmentPairs(d, "doc_id", "text", shingleN = 5,
      threshold = 0.1)
    assert(loose.count() == 190L + 1L)
    // capped: shingles in > 3 docs leave the index — the 190-pair
    // fan-out vanishes, the quote pair (unique shingles) is untouched
    val capped = Dedup.containmentPairs(d, "doc_id", "text", shingleN = 5,
        threshold = 0.1, maxShingleDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(capped.toSeq == Seq((101L, 100L, 1.0)))
  }
}
