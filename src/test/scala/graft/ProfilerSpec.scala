package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Profiler

/** One-pass column profiling: exact ground truth on a null-bearing
  * heterogeneous fixture, the approximate-distinct scale mode, and
  * the argument contracts. */
class ProfilerSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark
  import spark.implicits._

  private def fixture = Seq(
    (1L, Some("a"), Some(1.5)),
    (2L, Some("b"), None),
    (3L, None, Some(2.5)),
    (4L, Some("a"), Some(1.5)),
    (5L, None, None))
    .toDF("id", "s", "v")

  test("columnStats: exact counts, null splits, ranges; caller column order") {
    val got = Profiler.columnStats(fixture, Seq("v", "s", "id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getString(6)))
    assert(got.map(_._1).toSeq == Seq("v", "s", "id"), "caller order lost")
    val byName = got.map(t => t._1 -> t).toMap
    assert(byName("id") == ("id", 5L, 5L, 0L, 5L, "1", "5"))
    assert(byName("s") == ("s", 5L, 3L, 2L, 2L, "a", "b"))
    assert(byName("v") == ("v", 5L, 3L, 2L, 2L, "1.5", "2.5"))
  }

  test("columnStats: one aggregate pass (single scan in the plan)") {
    val plan = Profiler.columnStats(fixture, Seq("id", "s"),
      approxDistinct = true).queryExecution.executedPlan.toString
    // approx mode must NOT plan the Expand replication the exact
    // multi-distinct needs — the whole profile is one scan-side agg
    assert(!plan.contains("Expand"), plan.take(800))
  }

  test("columnStats: approximate distinct stays within HLL tolerance") {
    val wide = (1L to 2000L).toDF("id")
    val exact = Profiler.columnStats(wide, Seq("id"))
      .collect()(0).getLong(4)
    val approx = Profiler.columnStats(wide, Seq("id"), approxDistinct = true)
      .collect()(0).getLong(4)
    assert(exact == 2000L)
    assert(math.abs(approx - 2000L) <= 200L, s"approx=$approx")
  }

  test("columnStats: refusals — empty cols, unknown column") {
    intercept[IllegalArgumentException] {
      Profiler.columnStats(fixture, Seq.empty)
    }
    val e = intercept[IllegalArgumentException] {
      Profiler.columnStats(fixture, Seq("id", "nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("psiDrift: zero on identical snapshots, detects a planted shift, exact on a hand case") {
    val base = (1 to 1000).map(_.toDouble / 10.0).toDF("v")
    val same = Profiler.psiDrift(base, base, "v").collect()(0)
    assert(same.getDouble(0) == 0.0 && same.getLong(1) == 1000L)
    // planted shift: +30% pushes mass rightward across bins
    val shifted = base.select((col("v") * 1.3).as("v"))
    val psi = Profiler.psiDrift(base, shifted, "v").collect()(0).getDouble(0)
    assert(psi > 0.1, s"planted shift not detected: psi=$psi")
    // hand-computable case: 2 bins, base uniform {1,1,2,2}, cur all-low
    // {1,1,1,1}: lo=1 hi=2 w=0.5 → base bins (0,0,1,1), cur (0,0,0,0)
    // pb=(.5,.5) pc=(1,eps) → psi = (.5-1)ln(.5) + (.5-eps)ln(.5/eps)
    val b2 = Seq(1.0, 1.0, 2.0, 2.0).toDF("v")
    val c2 = Seq(1.0, 1.0, 1.0, 1.0).toDF("v")
    val eps = 1e-4
    val want = BigDecimal((0.5 - 1.0) * math.log(0.5) +
      (0.5 - eps) * math.log(0.5 / eps))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Profiler.psiDrift(b2, c2, "v", nBins = 2).collect()(0).getDouble(0)
    assert(got == want, s"got=$got want=$want")
    // nulls excluded; degenerate constant base defined (all bin 0)
    val withNull = Seq(Some(1.0), None, Some(2.0)).toDF("v")
    assert(Profiler.psiDrift(withNull, withNull, "v").collect()(0).getLong(1) == 2L)
    val const = Seq(5.0, 5.0).toDF("v")
    assert(Profiler.psiDrift(const, const, "v").collect()(0).getDouble(0) == 0.0)
    intercept[IllegalArgumentException] { Profiler.psiDrift(base, base, "v", nBins = 1) }
    intercept[IllegalArgumentException] { Profiler.psiDrift(base, base, "v", epsilon = 0.7) }
  }

  test("ksDrift: exact endpoints, hand case, brute-force parity, nulls, refusals") {
    val base = (1 to 1000).map(_.toDouble / 10.0).toDF("v")
    val same = Profiler.ksDrift(base, base, "v").collect()(0)
    assert(same.getDouble(0) == 0.0 && same.getLong(1) == 1000L
      && same.getLong(2) == 1000L)
    // disjoint value ranges: every base value precedes every cur value,
    // so the CDF gap reaches exactly 1 at the base max
    val hi = base.select((col("v") + 1000.0).as("v"))
    assert(Profiler.ksDrift(base, hi, "v").collect()(0).getDouble(0) == 1.0)
    // hand case: base {1,2,3,4}, cur {3,4,5,6} — gaps at the distinct
    // values are .25,.5,.5,.5,.25,0 → D = 0.5 exactly
    val b4 = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val c4 = Seq(3.0, 4.0, 5.0, 6.0).toDF("v")
    assert(Profiler.ksDrift(b4, c4, "v").collect()(0).getDouble(0) == 0.5)
    // brute-force parity on a ties-heavy unequal-size mix: the
    // distributed prefix-sum must agree with a local sort to 6dp
    val bv = (1 to 500).map(i => (i * 37 % 97).toDouble)
    val cv = (1 to 400).map(i => (i * 53 % 89).toDouble + 3.0)
    val want = {
      val xs = (bv ++ cv).distinct.sorted
      val d = xs.map { x =>
        math.abs(bv.count(_ <= x).toDouble / bv.size
          - cv.count(_ <= x).toDouble / cv.size)
      }.max
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Profiler.ksDrift(
      bv.toDF("v").repartition(7), cv.toDF("v").repartition(5), "v")
      .collect()(0)
    assert(got.getDouble(0) == want, s"got=${got.getDouble(0)} want=$want")
    assert(got.getLong(1) == 500L && got.getLong(2) == 400L)
    // nulls excluded; an all-null/empty side refuses with a named error
    val withNull = Seq(Some(1.0), None, Some(2.0)).toDF("v")
    assert(Profiler.ksDrift(withNull, withNull, "v").collect()(0).getLong(1) == 2L)
    val e = intercept[IllegalArgumentException] {
      Profiler.ksDrift(base.filter(col("v") < 0), base, "v")
    }
    assert(e.getMessage.contains("base snapshot"))
    // a missing column is named with its snapshot, as in ksDriftBy
    val eCol = intercept[IllegalArgumentException] {
      Profiler.ksDrift(base, base, "nope")
    }
    assert(eCol.getMessage.contains("base snapshot") && eCol.getMessage.contains("nope"))
  }

  test("categoricalDrift: zero/ln2 endpoints, other-fold conservation, tie-break, refusals") {
    val base = (1 to 100).map(i => s"cat${i % 5}").toDF("lang")
    val same = Profiler.categoricalDrift(base, base, "lang").collect()
    assert(same.length == 5)
    same.foreach { r =>
      assert(r.getDouble(5) == 0.0 && r.getDouble(3) == r.getDouble(4))
    }
    // disjoint single-category snapshots: JSD = ln 2, split as one
    // 0.5*ln2 term per side
    val a = Seq.fill(10)("only_a").toDF("lang")
    val b = Seq.fill(20)("only_b").toDF("lang")
    val halfLn2 = BigDecimal(0.5 * math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dis = Profiler.categoricalDrift(a, b, "lang").collect()
    assert(dis.map(_.getString(0)).toSeq == Seq("only_a", "only_b"))
    assert(dis.forall(_.getDouble(5) == halfLn2))
    // topK fold: 5 categories, keep 2 → 3 rows, counts conserved, and
    // the kept set is the top-2 by BASE-side count (bins defined on
    // base, the psiDrift convention)
    val skewed = (Seq.fill(50)("big") ++ Seq.fill(30)("mid") ++
      Seq.fill(10)("s1") ++ Seq.fill(6)("s2") ++ Seq.fill(4)("s3")).toDF("lang")
    val folded = Profiler.categoricalDrift(skewed, skewed, "lang", topK = 2)
      .collect()
    assert(folded.map(_.getString(0)).toSeq == Seq("__other__", "big", "mid"))
    assert(folded.map(_.getLong(1)).sum == 100L)
    assert(folded.find(_.getString(0) == "__other__").get.getLong(1) == 20L)
    // count ties break lexically: three equal categories, keep 2
    val tied = (Seq.fill(5)("zz") ++ Seq.fill(5)("aa") ++ Seq.fill(5)("mm"))
      .toDF("lang")
    val keptTied = Profiler.categoricalDrift(tied, tied, "lang", topK = 2)
      .collect().map(_.getString(0)).toSeq
    assert(keptTied == Seq("__other__", "aa", "mm"))
    // planted remap registers: a fifth of the mass moves to one class
    val cur = base.select(
      when(expr("substring(lang, 4, 1) = '0'"), lit("cat1"))
        .otherwise(col("lang")).as("lang"))
    val jsd = Profiler.categoricalDrift(base, cur, "lang").collect()
      .map(_.getDouble(5)).sum
    assert(jsd > 0.01, s"planted remap not detected: jsd=$jsd")
    // nulls excluded; empty side refuses with a named error
    val withNull = Seq(Some("x"), None, Some("y")).toDF("lang")
    assert(Profiler.categoricalDrift(withNull, withNull, "lang")
      .collect().map(_.getLong(1)).sum == 2L)
    val e2 = intercept[IllegalArgumentException] {
      Profiler.categoricalDrift(base.filter(col("lang") === "nope"), base, "lang")
    }
    assert(e2.getMessage.contains("base snapshot"))
    val eCol = intercept[IllegalArgumentException] {
      Profiler.categoricalDrift(base, base, "nope")
    }
    assert(eCol.getMessage.contains("base snapshot") && eCol.getMessage.contains("nope"))
    intercept[IllegalArgumentException] {
      Profiler.categoricalDrift(base, base, "lang", topK = 0)
    }
  }

  test("ungrouped drift checks both snapshots for rows with one build job") {
    // seven and five partitions, no exchange: each side's check stops at
    // its first row, and both sides run in one job
    val base = spark.range(0, 1000, 1, 7).select((col("id") % 97).cast("double").as("v"))
    val cur = spark.range(0, 800, 1, 5).select((col("id") % 89).cast("double").as("v"))
    assert(SparkT.jobsLaunchedBy(Profiler.ksDrift(base, cur, "v")) == 1)
    val lang = (df: org.apache.spark.sql.DataFrame) =>
      df.select(concat(lit("cat"), (col("v") % 5).cast("int").cast("string")).as("lang"))
    assert(SparkT.jobsLaunchedBy(Profiler.categoricalDrift(lang(base), lang(cur), "lang")) == 1)
    // the cur side is refused by name too
    val e = intercept[IllegalArgumentException] {
      Profiler.ksDrift(base, cur.filter(col("v") < 0), "v")
    }
    assert(e.getMessage.contains("cur snapshot has no non-null 'v' values"))
  }

  test("cusum: hand case, recurrence equivalence, group isolation, refusals") {
    // target 12, slack 1 → dev = v-13: [1,1,-3,7]; P=[1,2,-1,6];
    // min(0,minP)=[0,0,-1,-1]; S=[1,2,0,7]; threshold 5 → last alarms
    val series = Seq(("a", 1L, 14.0), ("a", 2L, 14.0), ("a", 3L, 10.0),
      ("a", 4L, 20.0)).toDF("g", "t", "v")
    val got = Profiler.cusum(series, "t", "v", Seq("g"),
        target = 12.0, threshold = 5.0, slack = 1.0)
      .orderBy("t").collect()
    assert(got.map(_.getDouble(3)).toSeq == Seq(1.0, 2.0, 0.0, 7.0))
    assert(got.map(_.getBoolean(4)).toSeq == Seq(false, false, false, true))
    // random series: prefix-sum form == the textbook recurrence
    // S_t = max(0, S_{t-1} + d_t), in exact micro-units
    val rnd = (1 to 200).map(i =>
      ("s", i.toLong, ((i * 7919) % 23 - 11).toDouble))
    val gotR = Profiler.cusum(rnd.toDF("g", "t", "v"), "t", "v", Seq("g"),
        target = 0.5, threshold = 30.0)
      .orderBy("t").collect().map(_.getDouble(3))
    var sQ = 0L
    val expR = rnd.map { case (_, _, v) =>
      val dq = math.floor((v - 0.5 - 0.0) * 1000000.0 + 0.5).toLong
      sQ = math.max(0L, sQ + dq)
      sQ.toDouble / 1000000.0
    }
    assert(gotR.toSeq == expR)
    // groups are independent series
    val two = Seq(("a", 1L, 100.0), ("b", 1L, 0.0), ("b", 2L, 0.0))
      .toDF("g", "t", "v")
    val byG = Profiler.cusum(two, "t", "v", Seq("g"),
        target = 0.0, threshold = 50.0)
      .collect().map(r => (r.getString(0), r.getBoolean(4)))
    assert(byG.toSet == Set(("a", true), ("b", false)))
    // null period/value rows are excluded
    val withNull = Seq(("a", Some(1L), Some(1.0)), ("a", None, Some(2.0)),
      ("a", Some(3L), None)).toDF("g", "t", "v")
    assert(Profiler.cusum(withNull, "t", "v", Seq("g"),
      target = 0.0, threshold = 1.0).count() == 1L)
    intercept[IllegalArgumentException] {
      Profiler.cusum(series, "t", "v", Seq("g"), target = 0.0, threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Profiler.cusum(series, "t", "v", Seq("g"), target = 0.0,
        threshold = 1.0, slack = -1.0)
    }
    intercept[IllegalArgumentException] {
      Profiler.cusum(series, "t", "nope", Seq("g"), target = 0.0, threshold = 1.0)
    }
  }

  test("ksDriftBy: per-group isolation, ungrouped agreement, exclusions, null group") {
    val base = (1 to 60).map(i => (s"g${i % 2}", i.toDouble)).toDF("src", "v")
    // +100 shift confined to g1: disjoint supports there (ks = 1.0),
    // identical in g0 (ks = 0.0) — the shift a global KS dilutes
    val cur = base.select(col("src"),
      when(col("src") === "g1", col("v") + 100.0).otherwise(col("v")).as("v"))
    val by = Profiler.ksDriftBy(base, cur, "v", Seq("src")).collect()
    assert(by.map(_.getString(0)).toSeq == Seq("g0", "g1"))
    assert(by.find(_.getString(0) == "g0").get.getDouble(1) == 0.0)
    assert(by.find(_.getString(0) == "g1").get.getDouble(1) == 1.0)
    // each group equals the ungrouped twin computed on it alone
    for (g <- Seq("g0", "g1")) {
      val solo = Profiler.ksDrift(
        base.filter(col("src") === g).select("v"),
        cur.filter(col("src") === g).select("v"), "v").collect()(0)
      val row = by.find(_.getString(0) == g).get
      assert((row.getDouble(1), row.getLong(2), row.getLong(3)) ==
        (solo.getDouble(0), solo.getLong(1), solo.getLong(2)),
        s"group $g disagrees with the ungrouped twin")
    }
    // groups with values on only one side are excluded, both ways
    val curPlus = cur.unionByName(Seq(("gnew", 1.0)).toDF("src", "v"))
    val basePlus = base.unionByName(Seq(("ggone", 1.0)).toDF("src", "v"))
    val excl = Profiler.ksDriftBy(basePlus, curPlus, "v", Seq("src"))
      .collect().map(_.getString(0)).toSet
    assert(excl == Set("g0", "g1"))
    // a null group key is a group
    val withNullG = base.select(
      when(col("src") === "g0", lit(null).cast("string"))
        .otherwise(col("src")).as("src"), col("v"))
    val ng = Profiler.ksDriftBy(withNullG, withNullG, "v", Seq("src")).collect()
    assert(ng.exists(_.isNullAt(0)), "null group dropped")
    assert(ng.forall(_.getDouble(1) == 0.0))
    intercept[IllegalArgumentException] {
      Profiler.ksDriftBy(base, base, "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Profiler.ksDriftBy(base, base, "nope", Seq("src"))
    }
  }

  test("categoricalDriftBy: per-group isolation, ungrouped agreement, exclusions, null group") {
    val base = (1 to 100).map(i => (s"g${i % 2}", s"cat${i % 5}"))
      .toDF("src", "lang")
    // planted remap confined to group g1 — g0's terms must ALL be zero
    // and g1's must sum positive (the shift a global JSD averages away)
    val cur = base.select(col("src"),
      when(col("src") === "g1" && col("lang") === "cat0", lit("xx"))
        .otherwise(col("lang")).as("lang"))
    val by = Profiler.categoricalDriftBy(base, cur, "lang", Seq("src"))
      .collect()
    val g0 = by.filter(_.getString(0) == "g0")
    val g1 = by.filter(_.getString(0) == "g1")
    assert(g0.nonEmpty && g0.forall(_.getDouble(6) == 0.0))
    assert(g1.map(_.getDouble(6)).sum > 0.01)
    // each group's rows must equal the ungrouped drift computed on
    // that group alone — the grouped plan is a partitioned twin
    for (g <- Seq("g0", "g1")) {
      val solo = Profiler.categoricalDrift(
        base.filter(col("src") === g).select("lang"),
        cur.filter(col("src") === g).select("lang"), "lang")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
      val grouped = by.filter(_.getString(0) == g)
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
      assert(grouped == solo, s"group $g disagrees with the ungrouped twin")
    }
    // a group present in only one snapshot is excluded, both ways
    val curPlus = cur.unionByName(
      Seq(("gnew", "en")).toDF("src", "lang"))
    val basePlus = base.unionByName(
      Seq(("ggone", "en")).toDF("src", "lang"))
    val excl = Profiler.categoricalDriftBy(basePlus, curPlus, "lang", Seq("src"))
      .select("src").distinct().collect().map(_.getString(0)).toSet
    assert(excl == Set("g0", "g1"))
    // a null group key is a group (null-safe joins throughout)
    val withNullG = base.select(
      when(col("src") === "g0", lit(null).cast("string"))
        .otherwise(col("src")).as("src"), col("lang"))
    val ng = Profiler.categoricalDriftBy(withNullG, withNullG, "lang", Seq("src"))
      .collect()
    assert(ng.exists(_.isNullAt(0)), "null group dropped")
    assert(ng.forall(_.getDouble(6) == 0.0))
    // per-group fold: topK=2 keeps each group's own top-2 + __other__
    val fold = Profiler.categoricalDriftBy(base, base, "lang", Seq("src"),
      topK = 2).collect()
    assert(fold.count(_.getString(1) == "__other__") == 2)
    intercept[IllegalArgumentException] {
      Profiler.categoricalDriftBy(base, base, "lang", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Profiler.categoricalDriftBy(base, base, "nope", Seq("src"))
    }
  }

  test("madOutliers: hand case, mad=0 degenerate, group isolation, nulls") {
    import spark.implicits._
    // g1 = {1..7, 100}: med interpolates to 4.5; deviations sorted are
    // {0.5,0.5,1.5,1.5,2.5,2.5,3.5,95.5} → MAD interpolates to 2.0;
    // only the spike's dev 95.5 clears 3·2.0
    val g1 = (1 to 7).map(v => ("g1", v.toDouble)) :+ (("g1", 100.0))
    // g2: over half identical → mad 0: ANY deviation flags
    val g2 = Seq(("g2", 5.0), ("g2", 5.0), ("g2", 5.0), ("g2", 5.01))
    val d = (g1 ++ g2).toDF("g", "v")
      .withColumn("id", monotonically_increasing_id())
    val got = Profiler.madOutliers(d, "v", Seq("g"), k = 3.0)
    val flagged = got.filter(col("outlier")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._2)
    assert(flagged.toSeq == Seq(("g2", 5.01), ("g1", 100.0)),
      "exactly the spike and the mad=0 deviator flag")
    val g1row = got.filter(col("g") === "g1" && col("v") === 1.0).collect()(0)
    assert(g1row.getDouble(g1row.fieldIndex("med")) == 4.5)
    assert(g1row.getDouble(g1row.fieldIndex("mad")) == 2.0)
    // null metric rows excluded; output row count = non-null rows
    val withNull = d.unionByName(Seq(("g1", Double.NaN)).toDF("g", "v")
      .select(col("g"), lit(null).cast("double").as("v"))
      .withColumn("id", lit(999L)))
    assert(Profiler.madOutliers(withNull, "v", Seq("g")).count() == d.count())
    // refusals
    intercept[IllegalArgumentException] { Profiler.madOutliers(d, "v", Seq.empty) }
    intercept[IllegalArgumentException] { Profiler.madOutliers(d, "v", Seq("g"), k = 0.0) }
    intercept[IllegalArgumentException] { Profiler.madOutliers(d, "nope", Seq("g")) }
  }

  test("linearFitBy: exact fit, noisy fit, degenerate groups, nulls, scales") {
    import spark.implicits._
    val d = Seq(
      // g "exact": y = 1 + 2x exactly → slope 2, intercept 1, r² 1
      ("exact", 1.0, 3.0), ("exact", 2.0, 5.0), ("exact", 3.0, 7.0),
      // g "noisy": (0,0), (1,1), (2,1) → slope 0.5, r² = 0.75
      ("noisy", 0.0, 0.0), ("noisy", 1.0, 1.0), ("noisy", 2.0, 1.0),
      // g "constx": x constant → null slope/intercept/r²
      ("constx", 4.0, 1.0), ("constx", 4.0, 9.0),
      // g "consty": y constant → slope 0, intercept = y, r² null
      ("consty", 1.0, 5.0), ("consty", 3.0, 5.0),
      // a null y row must be excluded, not poison the group
      ("exact", 9.0, Double.NaN)).toDF("g", "x", "y")
      .select(col("g"), col("x"),
        when(isnan(col("y")), lit(null)).otherwise(col("y")).as("y"))
    val got = Profiler.linearFitBy(d, "x", "y", Seq("g"))
      .orderBy("g").collect()
    val m = got.map(r => r.getString(0) ->
      ((r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(m("exact") == ((3L, Some(2.0), Some(1.0), Some(1.0))))
    assert(m("noisy")._2 == Some(0.5) && m("noisy")._4 == Some(0.75))
    assert(m("constx") == ((2L, None, None, None)))
    assert(m("consty") == ((2L, Some(0.0), Some(5.0), None)))
    // scales: y in fractional units quantizes exactly at scaleY
    val frac = Seq(("s", 1.0, 0.25), ("s", 2.0, 0.45), ("s", 3.0, 0.65))
      .toDF("g", "x", "y")
    val f = Profiler.linearFitBy(frac, "x", "y", Seq("g"), scaleY = 100L)
      .collect()(0)
    assert(math.abs(f.getDouble(2) - 0.2) < 1e-12 && f.getDouble(4) == 1.0)
    intercept[IllegalArgumentException] {
      Profiler.linearFitBy(d, "x", "y", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Profiler.linearFitBy(d, "nope", "y", Seq("g"))
    }
  }

  test("winsorizeBy: hand case, brute-force parity, small-n no-op, nulls, refusals") {
    // 0..99 plus two extreme outliers in group a; alpha=0.05 over
    // n=102 → k=5 → bounds are the 0-based rank-5 and rank-96 values
    val a = ((0 until 100).map(_.toDouble) ++ Seq(-1e6, 1e6))
      .zipWithIndex.map { case (v, i) => ("a", i.toLong, v) }
    val df = a.toDF("g", "id", "v")
    val got = Profiler.winsorizeBy(df, "v", Seq("g"), alpha = 0.05)
      .collect().map(r => (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    val sorted = a.map(_._3).sorted
    val (lo, hi) = (sorted(5), sorted(96)) // 4.0 and 95.0
    assert(got.forall(t => t._3 == lo && t._4 == hi))
    got.foreach { case (_, v, _, _, w) =>
      assert(w == math.min(math.max(v, lo), hi), s"v=$v w=$w")
    }
    // brute-force parity on two hash-scattered groups with duplicates
    val rnd = (1 to 400).map { i =>
      (if (i % 2 == 0) "x" else "y", i.toLong,
        ((i * 7919) % 97).toDouble / 4.0)
    }
    val rdf = rnd.toDF("g", "id", "v")
    val rgot = Profiler.winsorizeBy(rdf, "v", Seq("g"), alpha = 0.1,
        scale = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(5)))
      .sortBy(t => (t._1, t._2))
    val expect = rnd.groupBy(_._1).flatMap { case (g, rows) =>
      val vq = rows.map(t => math.floor(t._3 * 100.0 + 0.5).toLong)
      val s = vq.sorted
      val k = math.floor(0.1 * s.size).toInt
      val (lq, hq) = (s(k), s(s.size - 1 - k))
      rows.map(t => (g, t._2,
        math.min(math.max(math.floor(t._3 * 100.0 + 0.5).toLong, lq), hq)
          .toDouble / 100.0))
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(rgot.toSeq == expect)
    // tiny group: k=0 → bounds are min/max, nothing clamps
    val tiny = Seq(("t", 1L, 5.0), ("t", 2L, 50.0), ("t", 3L, 500.0))
      .toDF("g", "id", "v")
    val tg = Profiler.winsorizeBy(tiny, "v", Seq("g"), alpha = 0.01)
      .collect().map(r => (r.getDouble(3), r.getDouble(5))).sortBy(_._2)
    assert(tg.map(_._1).distinct.toSeq == Seq(5.0))
    assert(tg.map(_._2).toSeq == Seq(5.0, 50.0, 500.0))
    // null value: passes through with null value_w, group bounds intact
    val withNull = Seq(("n", 1L, Some(1.0)), ("n", 2L, Some(2.0)),
      ("n", 3L, None)).toDF("g", "id", "v")
    val ng = Profiler.winsorizeBy(withNull, "v", Seq("g"), alpha = 0.1)
      .collect().map(r => (r.getLong(1), Option(r.get(5)))).sortBy(_._1)
    assert(ng(2)._2.isEmpty && ng(0)._2.contains(1.0))
    intercept[IllegalArgumentException] {
      Profiler.winsorizeBy(df, "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Profiler.winsorizeBy(df, "v", Seq("g"), alpha = 0.5)
    }
    intercept[IllegalArgumentException] {
      Profiler.winsorizeBy(df, "nope", Seq("g"))
    }
  }

  test("quantileNormalizeBy: hand grid, group mapping, singleton, ties, refusals") {
    // global sorted (scale 1): [1,2,3,4,10,20], N=6; nGrid=5 → grid
    // ranks ⌊j·5/4⌋ = [0,1,2,3,5] → grid values [1,2,3,4,20]
    val d = Seq(("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0),
      ("A", 4L, 4.0), ("B", 5L, 10.0), ("B", 6L, 20.0))
      .toDF("g", "id", "v")
    val got = Profiler.quantileNormalizeBy(d, "id", "v", Seq("g"),
        nGrid = 5, scale = 1L)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // A (n=4): j = (r·4) div 3 = [0,1,2,4]; B (n=2): j = [0,4] —
    // every group's max lands on the global max, the QN contract
    assert(got == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 20.0,
      5L -> 1.0, 6L -> 20.0))
    // singleton group maps to the median grid index g/2
    val d2 = Seq(("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0),
      ("C", 7L, 7.0)).toDF("g", "id", "v")
    val g2 = Profiler.quantileNormalizeBy(d2, "id", "v", Seq("g"),
        nGrid = 5, scale = 1L)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // global [1,2,3,7]: grid ranks ⌊j·3/4⌋=[0,0,1,2,3] → [1,1,2,3,7]
    assert(g2 == Map(1L -> 1.0, 2L -> 2.0, 3L -> 7.0, 7L -> 2.0))
    // two identically-distributed groups normalize identically, and
    // within-group ties order deterministically by id
    val d3 = Seq(("A", 1L, 1.0), ("A", 2L, 1.0), ("A", 3L, 2.0),
      ("B", 4L, 5.0), ("B", 5L, 6.0)).toDF("g", "id", "v")
    val g3 = Profiler.quantileNormalizeBy(d3, "id", "v", Seq("g"),
        nGrid = 3, scale = 1L)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // global [1,1,2,5,6], grid ranks [0,2,4] → [1,2,6]
    assert(g3 == Map(1L -> 1.0, 2L -> 2.0, 3L -> 6.0, 4L -> 1.0, 5L -> 6.0))
    intercept[IllegalArgumentException] {
      Profiler.quantileNormalizeBy(d, "id", "v", Seq("g"), nGrid = 1)
    }
    intercept[IllegalArgumentException] {
      Profiler.quantileNormalizeBy(d.limit(1), "id", "v", Seq("g"))
    }
    intercept[IllegalArgumentException] {
      Profiler.quantileNormalizeBy(d, "id", "nope", Seq("g"))
    }
  }

  test("standardizeBy: hand case, constant group, nulls, group isolation, refusals") {
    val d = Seq(
      ("a", 1L, Some(1.0)), ("a", 2L, Some(2.0)), ("a", 3L, Some(3.0)),
      ("b", 4L, Some(5.0)), ("b", 5L, Some(5.0)), // constant group
      ("a", 6L, None)) // null value
      .toDF("g", "id", "v")
    val got = Profiler.standardizeBy(d, "v", Seq("g"), scale = 1L)
      .collect().map(r => (r.getLong(1), Option(r.get(3)), Option(r.get(4)),
        Option(r.get(5)))).sortBy(_._1).toSeq
    // group a: n=3, Σx=6, Σx²=14 → mean 2, σ = sqrt(6/9)
    val sdA = math.sqrt((3.0 * 14 - 36).toDouble / 9.0)
    def zA(x: Double) = (x - 6.0 / 3.0) / sdA
    assert(got(0) == ((1L, Some(2.0), Some(sdA), Some(zA(1.0)))))
    assert(got(1) == ((2L, Some(2.0), Some(sdA), Some(zA(2.0)))))
    assert(got(2) == ((3L, Some(2.0), Some(sdA), Some(zA(3.0)))))
    // constant group: sd exactly 0.0, z null by contract
    assert(got(3) == ((4L, Some(5.0), Some(0.0), None)))
    assert(got(4) == ((5L, Some(5.0), Some(0.0), None)))
    // null value: stats still attach, z null
    assert(got(5) == ((6L, Some(2.0), Some(sdA), None)))
    intercept[IllegalArgumentException] {
      Profiler.standardizeBy(d, "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Profiler.standardizeBy(d, "nope", Seq("g"))
    }
  }

  test("w1DriftBy: endpoints, hand case, shift, sorted-parity, exclusions") {
    // identical snapshots → exactly 0 (integer numerator is 0)
    val base = (1 to 50).map(i => ("g", i.toDouble)).toDF("g", "v")
    val z = Profiler.w1DriftBy(base, base, "v", Seq("g")).collect()(0)
    assert(z.getDouble(1) == 0.0 && z.getLong(2) == 50L && z.getLong(3) == 50L)
    // hand case: point masses at 0 and 10 → W1 = 10 exactly
    val p0 = Seq(("g", 0.0)).toDF("g", "v")
    val p10 = Seq(("g", 10.0)).toDF("g", "v")
    assert(Profiler.w1DriftBy(p0, p10, "v", Seq("g"))
      .collect()(0).getDouble(1) == 10.0)
    // constant +5 shift of a 100-point sample → W1 = 5 exactly
    val cur5 = base.select(col("g"), (col("v") + 5.0).as("v"))
    assert(Profiler.w1DriftBy(base, cur5, "v", Seq("g"))
      .collect()(0).getDouble(1) == 5.0)
    // equal-n parity with the sorted-coupling formula:
    // W1 = (1/n)·Σ|b_(i) − c_(i)| on the quantized grid
    val bs = (1 to 97).map(i => ("p", ((i * 31) % 89).toDouble / 2.0))
    val cs = (1 to 97).map(i => ("p", ((i * 57) % 101).toDouble / 2.0))
    val got = Profiler.w1DriftBy(bs.toDF("g", "v"), cs.toDF("g", "v"),
      "v", Seq("g"), scale = 2L).collect()(0).getDouble(1)
    val exp = bs.map(t => math.floor(t._2 * 2.0 + 0.5).toLong).sorted
      .zip(cs.map(t => math.floor(t._2 * 2.0 + 0.5).toLong).sorted)
      .map { case (x, y) => math.abs(x - y) }.sum.toDouble / (97.0 * 2.0)
    assert(got == exp, s"got=$got exp=$exp")
    // group present on one side only → excluded; common group kept
    val b2 = Seq(("both", 1.0), ("only_b", 1.0)).toDF("g", "v")
    val c2 = Seq(("both", 2.0), ("only_c", 1.0)).toDF("g", "v")
    val rows = Profiler.w1DriftBy(b2, c2, "v", Seq("g")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("both"))
    assert(rows(0).getDouble(1) == 1.0)
    intercept[IllegalArgumentException] {
      Profiler.w1DriftBy(b2, c2, "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Profiler.w1DriftBy(b2, c2, "nope", Seq("g"))
    }
  }
}
