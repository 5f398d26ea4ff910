package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Shuffle

/** Epoch-shuffle contracts: permutation, epoch decorrelation,
  * partition-layout independence (the property `rand(seed)` lacks),
  * and the single-range-exchange plan shape. */
class ShuffleSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  private def docs = SparkT.table("documents").select(col("doc_id"))

  test("epochShuffle is a permutation: same multiset of ids, new order") {
    val shuffled = Shuffle.epochShuffle(docs, "doc_id", epoch = 1)
    val ids = shuffled.collect().map(_.getLong(0))
    assert(ids.length == docs.count())
    assert(ids.toSet == docs.collect().map(_.getLong(0)).toSet)
    // and it actually shuffles: the order is not the sorted-id order
    assert(!(ids sameElements ids.sorted))
    // avalanche contract — the reason for the xorshift rounds: a pure
    // affine (LCG) key is MONOTONE for small consecutive ids, leaving
    // the corpus in id order. Require near-total adjacency destruction.
    val pos = ids.zipWithIndex.toMap
    val adjacentSurvivors = ids.sorted.sliding(2).count {
      case Array(a, b) => pos.get(b).exists(pb => (pos(a) - pb).abs == 1)
      case _ => false
    }
    assert(adjacentSurvivors <= 5,
      s"$adjacentSurvivors adjacent-id pairs still adjacent — key is not mixing")
  }

  test("different epochs give different orders; same epoch reproduces exactly") {
    val e1 = Shuffle.epochShuffle(docs, "doc_id", 1).collect().map(_.getLong(0))
    val e2 = Shuffle.epochShuffle(docs, "doc_id", 2).collect().map(_.getLong(0))
    val e1again = Shuffle.epochShuffle(docs, "doc_id", 1).collect().map(_.getLong(0))
    assert(!(e1 sameElements e2), "epochs must decorrelate")
    assert(e1 sameElements e1again, "same epoch must reproduce exactly")
  }

  test("order is independent of partition layout (rand(seed) is not)") {
    val base = Shuffle.epochShuffle(docs, "doc_id", 5).collect().map(_.getLong(0))
    val relaid = Shuffle.epochShuffle(docs.repartition(7), "doc_id", 5)
      .collect().map(_.getLong(0))
    assert(base sameElements relaid,
      "the permutation must not depend on how the input happens to be partitioned")
  }

  test("plan: one range exchange, no hash exchange, no single-partition window") {
    // the documents fixture is small enough to sort in one task
    // (SmallSortInOneTask); 2M ids estimate 16 MB, over that limit
    val large = Shuffle.epochShuffle(spark.range(0, 2000000).toDF("doc_id"), "doc_id", 3)
    val small = Shuffle.epochShuffle(docs, "doc_id", 3)
    small.collect()
    val Seq(pl, ps) = Seq(large, small).map(_.queryExecution.executedPlan.toString)
    assert(pl.contains("rangepartitioning"), pl.take(800))
    for (p <- Seq(pl, ps)) {
      assert(!p.contains("Exchange hashpartitioning"), p.take(800))
      assert(!p.contains("Window"), "no global window allowed:\n" + p.take(800))
    }
  }

  test("epochShuffle rejects negative epochs") {
    intercept[IllegalArgumentException] {
      Shuffle.epochShuffle(docs, "doc_id", -1)
    }
  }

  test("shuffleKey raises on a negative id (engine >>/% divergence guard)") {
    import spark.implicits._
    val bad = Seq(3L, -1L, 7L).toDF("doc_id")
    val e = intercept[Exception] {
      Shuffle.epochShuffle(bad, "doc_id", 0).collect()
    }
    assert(e.getMessage.contains("non-negative"), e.getMessage)
  }

  // ---- stratified fixed-size sampling ---------------------------------

  test("stratifiedSample: exactly min(n, stratum size) rows per stratum") {
    val d = SparkT.table("documents").select("doc_id", "source", "lang")
    val sizes = Shuffle.stratifiedSample(d, Seq("source"), "doc_id", 3)
      .groupBy("source").count().collect()
    val strata = d.select("source").distinct().count()
    assert(sizes.length == strata)
    val perStratum = d.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { r =>
      assert(r.getLong(1) == math.min(3L, perStratum(r.getString(0))))
    }
  }

  test("stratifiedSample: n larger than every stratum returns the whole frame") {
    val d = SparkT.table("documents").select("doc_id", "source")
    val out = Shuffle.stratifiedSample(d, Seq("source"), "doc_id", 1000000)
    assert(out.count() == d.count())
  }

  test("stratifiedSample membership is partition-layout independent") {
    val d = SparkT.table("documents").select("doc_id", "source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      Shuffle.stratifiedSample(df, Seq("source"), "doc_id", 4)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(d) == ids(d.repartition(13)))
    assert(ids(d) == ids(d.repartition(1)))
  }

  test("stratifiedSample keeps all input columns and no helper column") {
    val d = SparkT.table("documents").select("doc_id", "source", "lang")
    val out = Shuffle.stratifiedSample(d, Seq("source"), "doc_id", 2)
    assert(out.columns.toSeq == Seq("doc_id", "source", "lang"))
  }

  test("stratifiedSample decorrelates from the split hash (independent constants)") {
    // if the sample hash reused cur4's split constants, the sampled
    // set would be exactly the lowest-hash head of the TRAIN split —
    // per-stratum samples must instead spread across splits roughly
    // like the 80/10/10 base rates. Weak-form check: at 20 strata × 5
    // docs the sample must NOT be 100% train.
    val d = SparkT.table("documents").select("doc_id", "source")
    val sampled = Shuffle.stratifiedSample(d, Seq("source"), "doc_id", 5)
      .withColumn("h", Shuffle.decisionHash(col("doc_id"), 48271L, 11213L))
      .withColumn("split",
        when(col("h") < 1717986917L, "train")
          .when(col("h") < 1932735282L, "valid").otherwise("test"))
    val nonTrain = sampled.filter(col("split") =!= "train").count()
    assert(nonTrain > 0, "stratified sample is the low head of the split hash")
  }

  test("stratifiedSample plan: bounded partial aggregate, no window sort") {
    val d = SparkT.table("documents").select("doc_id", "source")
    val q = Shuffle.stratifiedSample(d, Seq("source"), "doc_id", 5)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("graft_bounded_topk"), p.take(800))
    assert(!p.contains("Window"), "no window sort allowed:\n" + p.take(800))
  }

  import org.apache.spark.sql.functions.{col, lit}

  private def weighted(n: Int, heavyEvery: Int) = {
    import SparkT.spark.implicits._
    (1 to n).map(i => (i.toLong, if (i % heavyEvery == 0) 10.0 else 1.0))
      .toDF("id", "w")
  }

  test("prioritySample: deterministic, partition-layout independent, exact size") {
    val d = weighted(1000, 3)
    val a = Shuffle.prioritySample(d, "id", "w", 100)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Shuffle.prioritySample(d.repartition(13), "id", "w", 100)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a.size == 100)
  }

  test("prioritySample: weights bias inclusion ~proportionally") {
    // 500 heavy (w=10) + 500 light (w=1): heavy mass is 10/11 of the
    // total, so a 100-draw sample should be dominated by heavy ids
    val d = weighted(1000, 2) // even ids heavy
    val ids = Shuffle.prioritySample(d, "id", "w", 100)
      .select("id").collect().map(_.getLong(0))
    val heavy = ids.count(_ % 2 == 0)
    assert(heavy >= 75, s"heavy=$heavy of 100 — weighting not biasing inclusion")
  }

  test("prioritySample: est_weight >= weight and subset-sum ~unbiased") {
    val d = weighted(1000, 2)
    val got = Shuffle.prioritySample(d, "id", "w", 100)
      .select(col("w"), col("est_weight")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.forall { case (w, e) => e >= w })
    // DLT: Σ est_weight over the sample estimates total weight
    // (5500); one deterministic draw at k=100 should sit well within
    // ±30% (rel. stderr ~ 1/sqrt(k) ≈ 10%)
    val est = got.map(_._2).sum
    assert(est > 5500.0 * 0.7 && est < 5500.0 * 1.3, s"est=$est vs 5500")
  }

  test("prioritySample: strata — exactly n per big stratum; small stratum whole with est==w") {
    import SparkT.spark.implicits._
    val d = (1 to 300).map(i =>
      (i.toLong, if (i <= 290) "big" else "small", 1.0 + (i % 7)))
      .toDF("id", "g", "w")
    val got = Shuffle.prioritySample(d, "id", "w", 15, Seq("g"))
    val byG = got.collect().groupBy(_.getString(1))
    assert(byG("big").length == 15)
    assert(byG("small").length == 10, "stratum smaller than n returns all rows")
    // small stratum: tau = 0 → est_weight == weight exactly
    byG("small").foreach(r => assert(r.getDouble(2) == r.getDouble(4)))
  }

  test("prioritySample: strata plan rides the bounded partial aggregate") {
    val d = SparkT.table("documents")
      .select(col("doc_id"), col("source"),
        (col("n_chars") + 1).cast("double").as("w"))
    val q = Shuffle.prioritySample(d, "doc_id", "w", 5, Seq("source"), scale = 1L)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("graft_bounded_topk"), p.take(800))
  }

  test("prioritySample split-key encoding: >2^53 priorities order exactly through the bounded aggregate") {
    // 50 longs 2^62 + i all round to the SAME double (granularity at
    // 2^62 is 2^10), so a raw double-encoded key would tie them all
    // and tie-break by id — returning the BOTTOM ids. The split
    // (p DIV 2^31 desc, p MOD 2^31 desc via negated tiebreak) that
    // prioritySample uses must recover the exact BIGINT descending
    // order: ids 49..40.
    import SparkT.spark.implicits._
    import org.apache.spark.sql.functions.{expr, negate}
    val base = 1L << 62
    val d = (0 until 50).map(i => (i.toLong, base + i)).toDF("id", "p")
      .withColumn("g", lit("x"))
    val got = graft.api.GraftFrame(d).groupBy("g")
      .sliceMaxAgg(expr("p DIV 2147483648L"), 10,
        negate(expr("p % 2147483648L")), col("id"))
      .df.select("id").collect().map(_.getLong(0)).toSet
    assert(got == (40L to 49L).toSet, s"got $got")
    // and the raw-key form really would have gotten it wrong — the
    // scenario this regression test exists for
    val raw = graft.api.GraftFrame(d).groupBy("g")
      .sliceMaxAgg(col("p"), 10, col("id"))
      .df.select("id").collect().map(_.getLong(0)).toSet
    assert(raw == (0L to 9L).toSet, s"double encoding unexpectedly exact: $raw")
  }

  test("prioritySample: strata route == exact ungrouped route at max-range weights") {
    // wq = 2^32 − 1 (the contract ceiling) makes priorities up to
    // ~2^63; the BoundedTopK strata path must select the same rows
    // and est_weights as the exact-BIGINT global sort path.
    import SparkT.spark.implicits._
    val d = (1 to 500).map(i => (i.toLong, 4294967295.0, "x"))
      .toDF("id", "w", "g")
    val viaAgg = Shuffle.prioritySample(d, "id", "w", 50, Seq("g"), scale = 1L)
      .select("id", "est_weight").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val viaSort = Shuffle.prioritySample(d, "id", "w", 50, scale = 1L)
      .select("id", "est_weight").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(viaAgg == viaSort)
    assert(viaAgg.size == 50)
  }

  test("prioritySample: refusals — bad n/scale, missing cols, nonpositive and oversized weights") {
    val d = weighted(10, 2)
    intercept[IllegalArgumentException] {
      Shuffle.prioritySample(d, "id", "w", 0)
    }
    intercept[IllegalArgumentException] {
      Shuffle.prioritySample(d, "id", "w", 5, scale = 0L)
    }
    intercept[IllegalArgumentException] {
      Shuffle.prioritySample(d, "id", "nope", 5)
    }
    import SparkT.spark.implicits._
    val zero = Seq((1L, 1.0), (2L, 0.0)).toDF("id", "w")
    val e = intercept[Exception] {
      Shuffle.prioritySample(zero, "id", "w", 1).collect()
    }
    assert(e.getMessage.contains("prioritySample"), e.getMessage.take(200))
    val nullW = Seq((1L, Some(1.0)), (2L, None)).toDF("id", "w")
    intercept[Exception] {
      Shuffle.prioritySample(nullW, "id", "w", 1).collect()
    }
    val huge = Seq((1L, 5e9)).toDF("id", "w")
    val e2 = intercept[Exception] {
      Shuffle.prioritySample(huge, "id", "w", 1, scale = 1L).collect()
    }
    assert(e2.getMessage.contains("2^32"), e2.getMessage.take(200))
  }
}
