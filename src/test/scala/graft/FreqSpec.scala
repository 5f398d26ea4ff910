package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Freq

class FreqSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark
  import spark.implicits._

  // skewed stream: 3 planted heavy items over a 20k-distinct singleton
  // tail — the shape where a naive groupBy shuffles 20k rows to
  // discard them and a too-small sketch would lose the heavy items
  private def skewed = {
    val heavy = Seq.fill(500)("hot1") ++ Seq.fill(300)("hot2") ++ Seq.fill(120)("warm")
    val tail = (0 until 20000).map(i => s"tail_$i")
    (heavy ++ tail).toDF("w")
  }

  test("heavyHitters equals exact GROUP BY ... HAVING on a skewed stream") {
    val df = skewed
    val total = df.count()
    val thresh = math.ceil(total * 0.005).toLong
    val exact = df.groupBy("w").agg(count(lit(1)).as("n"))
      .filter(col("n") >= thresh)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Freq.heavyHitters(df, "w", minFraction = 0.005)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
    assert(got.keySet == Set("hot1", "hot2", "warm"))
  }

  test("sketch keeps candidates bounded; recall survives a forced tight capacity") {
    // capacity explicitly 400 (< distinct count / 50): candidates must
    // stay ≤ 2·capacity while still recalling every item above
    // N/capacity — the Misra-Gries superset guarantee under pruning
    import org.apache.spark.sql.graftbridge.Bridge
    val cap = 400
    val sketch = graft.expressions.FreqSketch(
      Bridge.expression(col("w")), cap).toAggregateExpression()
    val cands = skewed.agg(Bridge.column(sketch).as("c"))
      .collect()(0).getSeq[String](0)
    assert(cands.size <= 2 * cap, s"unbounded sketch: ${cands.size}")
    assert(Set("hot1", "hot2", "warm").subsetOf(cands.toSet),
      "sketch lost a guaranteed-heavy item")
  }

  test("declared txt16 plan: ONE sketch scan, broadcast candidates, join verify") {
    val q = SparkEntry.queries("txt16_heavy_hitters")(spark, SparkT.sfDir)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("graft_freq_sketch"), "sketch aggregate missing from plan")
    // the dominant stage must execute exactly once: one partial
    // (map-side) sketch aggregate in the whole plan
    assert("partial_graft_freq_sketch".r.findAllIn(p).length == 1,
      "sketch scan must appear exactly once:\n" + p.take(1200))
    assert(p.contains("BroadcastHashJoin"), "exact verify must be a broadcast join")
    assert(p.contains("BroadcastExchange"), "candidate set must broadcast")
  }

  test("heavyHitters rejects a capacity that cannot guarantee recall") {
    intercept[IllegalArgumentException] {
      Freq.heavyHitters(skewed, "w", minFraction = 0.001, capacity = 10)
    }
  }

  test("heavyHitters refuses a candidate broadcast estimated over the byte budget") {
    // the counter ceiling alone (2^24) would admit a multi-GB
    // broadcast; the byte guard must catch it before any job runs.
    // 2^22 counters x 2 x (64+48)B ≈ 896 MB >> 64 MB
    val e1 = intercept[IllegalArgumentException] {
      Freq.heavyHitters(skewed, "w", minFraction = 1e-6, capacity = 1 << 22)
    }
    assert(e1.getMessage.contains("broadcast"))
    // long items blow the budget at a capacity short strings survive:
    // 300k counters x 2 x (4096+48)B ≈ 2.3 GB
    val e2 = intercept[IllegalArgumentException] {
      Freq.heavyHitters(skewed, "w", minFraction = 1e-5, capacity = 300000,
        estimatedItemBytes = 4096)
    }
    assert(e2.getMessage.contains("estimatedItemBytes"))
    // and the same capacity with honest small items is admissible —
    // the guard keys on bytes, not counter count
    Freq.heavyHitters(skewed, "w", minFraction = 1e-5, capacity = 262144)
  }

  // two groups with very different sizes and different heavy sets —
  // a globally-rare item ("niche") dominates the SMALL group, so any
  // global-threshold shortcut fails this fixture
  private def groupedSkewed = {
    val big = (Seq.fill(400)("common") ++ Seq.fill(90)("bigonly") ++
      (0 until 8000).map(i => s"bt_$i")).map(("big", _))
    val small = (Seq.fill(30)("common") ++ Seq.fill(12)("niche") ++
      (0 until 300).map(i => s"st_$i")).map(("small", _))
    (big ++ small).toDF("g", "w")
  }

  test("groupedHeavyHitters equals the exact per-group HAVING ground truth") {
    val df = groupedSkewed
    val exact = df.groupBy("g").agg(count(lit(1)).as("ng"))
      .join(df.groupBy("g", "w").agg(count(lit(1)).as("n")), Seq("g"))
      .filter(col("n") >= ceil(col("ng") * lit(java.math.BigDecimal.valueOf(0.02))))
      .select("g", "w", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val got = Freq.groupedHeavyHitters(df, Seq("g"), "w", minFraction = 0.02)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == exact)
    // the small group's private hitter is found at its OWN threshold
    // (12/342 ≈ 3.5% of the small group, invisible globally at 2%)
    assert(got.exists { case (g, w, _) => g == "small" && w == "niche" })
    assert(!got.exists { case (g, w, _) => g == "big" && w == "niche" })
    // over one constant group the grouped form is the ungrouped one
    val one = df.withColumn("g", lit("all"))
    val grouped = Freq.groupedHeavyHitters(one, Seq("g"), "w", minFraction = 0.02)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    val ungrouped = Freq.heavyHitters(one, "w", minFraction = 0.02)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(grouped.nonEmpty && grouped == ungrouped)
  }

  test("groupedHeavyHitters: a null group key is its own group") {
    val df = (Seq.fill(20)((null.asInstanceOf[String], "hot")) ++
      (0 until 50).map(i => (null.asInstanceOf[String], s"t_$i")) ++
      Seq.fill(30)(("a", "hot"))).toDF("g", "w")
    val got = Freq.groupedHeavyHitters(df, Seq("g"), "w", minFraction = 0.2)
      .collect().map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((None, "hot", 20L), (Some("a"), "hot", 30L)))
  }

  test("groupedHeavyHitters plan: ONE grouped sketch scan + broadcast verify") {
    val q = Freq.groupedHeavyHitters(groupedSkewed, Seq("g"), "w", minFraction = 0.02)
    val p = q.queryExecution.executedPlan.toString
    assert("partial_graft_freq_sketch".r.findAllIn(p).length == 1,
      "grouped sketch scan must appear exactly once:\n" + p.take(1200))
    assert(p.contains("BroadcastHashJoin"), "exact verify must be a broadcast join")
  }

  test("groupedHeavyHitters guards: group-scaled broadcast budget, empty groupCols") {
    val e = intercept[IllegalArgumentException] {
      Freq.groupedHeavyHitters(groupedSkewed, Seq("g"), "w",
        minFraction = 0.01, estimatedGroups = 1000000)
    }
    assert(e.getMessage.contains("broadcast"))
    intercept[IllegalArgumentException] {
      Freq.groupedHeavyHitters(groupedSkewed, Seq.empty, "w", minFraction = 0.01)
    }
    intercept[IllegalArgumentException] {
      Freq.groupedHeavyHitters(groupedSkewed, Seq("g"), "w",
        minFraction = 0.001, capacity = 10)
    }
  }

  test("collocations: hand-counted bigrams, marginals and lift") {
    import SparkT.spark.implicits._
    val docs = Seq("a b a b", "a b c").toDF("text")
    val got = Freq.collocations(docs, "text", minCount = 1L)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // bigrams: (a,b)×3, (b,a)×1, (b,c)×1 → N=5
    assert(got.keySet == Set(("a", "b"), ("b", "a"), ("b", "c")))
    assert(got(("a", "b")) == ((3L, 3L, 3L, 3.0 * 5.0 / 9.0)))
    assert(got(("b", "a")) == ((1L, 2L, 1L, 5.0 / 2.0)))
    assert(got(("b", "c")) == ((1L, 2L, 1L, 5.0 / 2.0)))
    // minCount prunes candidates but NOT the marginals
    val pruned = Freq.collocations(docs, "text", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    assert(pruned.toSeq == Seq(("a", "b", 3L)))
  }

  test("collocations: normalization, degenerate docs, planted phrase wins on lift") {
    import SparkT.spark.implicits._
    val docs = Seq(
      Some("  A   b "), // normalizes to "a b"
      Some("single"), // no bigrams
      Some(""), // nothing
      None, // null text: contributes nothing
      Some("a b")).toDF("text")
    val got = Freq.collocations(docs, "text", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", "b", 2L)))
    // a planted phrase in word soup: "neural network" always adjacent
    // while every soup word takes MIXED left/right contexts (the two
    // index streams i%7 and i/7%7 are independent over 50 docs), so
    // the phrase's lift (4.0 = N/n, perfect association) strictly
    // tops every soup pair (~2, half-mixed contexts)
    val soup = (1 to 50).map { i =>
      s"p${i % 7} neural network p${(i / 7) % 7} p${i % 7}"
    }.toDF("text")
    val top = Freq.collocations(soup, "text", minCount = 2L)
      .orderBy(col("lift").desc, col("w1").asc).limit(1)
      .collect()(0)
    assert((top.getString(0), top.getString(1)) == (("neural", "network")))
    assert(top.getDouble(5) == 4.0) // 50·200/(50·50) exactly
    intercept[IllegalArgumentException] {
      Freq.collocations(docs, "text", minCount = 0L)
    }
    intercept[IllegalArgumentException] {
      Freq.collocations(docs, "nope")
    }
  }
}
