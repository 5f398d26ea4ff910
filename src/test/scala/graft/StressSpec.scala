package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.stress.StressFixture
import graft.stress.StressFixture.StressPlan
import graft.tools.StressGate

/** Pins the scale-stress gate's invariants in `sbt test` by driving
  * the EXACT StressGate.runScale logic at mini scale (20k docs, 400-
  * fold boilerplate class, 4.1k embeddings, 120k lineitem rows). The
  * full-scale measurement (5M docs / 100k-fold class / 1M embeddings /
  * 30M lineitem) runs via `runMain graft.tools.StressGate`; its
  * recorded numbers live in SURVEY §5 and STRESS_r{N}.json.
  *
  * Every invariant is closed-form or trivially relational (see
  * StressFixture): exact spanning-pair counts, exact survivor counts
  * through BOTH connected-component tiers, planted decontamination id
  * sets, planted ANN twins, and bit-equality of the skew-mitigation
  * paths against their plain-plan twins. Wall-time ratios are NOT
  * asserted here — timing belongs to the tool, where reps and scale
  * make it meaningful (±50% single-run host noise).
  */
class StressSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  test("stress gate invariants hold at mini scale (all paths)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stress-spec").toString
    val results = StressGate.runScale(spark, dir, scale = 1, reps = 1,
      docsPerScale = 20000L)
    val failures = results.filterNot(_.ok)
    assert(failures.isEmpty, s"failed stress invariants: " +
      failures.map(r => s"${r.path} value=${r.value} expected=${r.expected}").mkString("; "))
    // the fixture's closed-form expectations, restated independently so
    // a bug in StressPlan's arithmetic can't silently weaken the gate
    val p = StressPlan(20000L)
    assert(p.expectedSpanningPairs == 1600 - 151) // dupRows − dupClasses
    assert(p.nClasses == 151 + 18400) // dupClasses + singletons
    assert(p.singletons == 18400)
    assert(p.blobSize == 80) // nEmb/50 — dd13 hot-cell run length
    val fp = StressFixture.FuzzyPlan(8000L) // docsPerScale·2/5
    assert(fp.dupN == 400 && fp.nPlanted == 76)
    assert(fp.spanningPairs == 399 + 76)
    assert(fp.nClusters == 1 + 7600 - 76)
    assert(fp.completePairs == 400L * 399 / 2 + 76)
  }

  test("fuzzy stress corpus: structural distance guarantees hold (sampled ground truth)") {
    // the FuzzyPlan invariants rest on two structural claims — (a)
    // distinct base strings (permuted digits + mod-11 check char) are
    // ≥ 2 edits apart, (b) a planted 'x'-variant is within 1 of
    // exactly its base — verify them against brute-force levenshtein
    // on a sample × all-strings basis (full all-pairs at fixture
    // scale is 29M lev calls)
    val fp = StressFixture.FuzzyPlan(2000L)
    val rows = StressFixture.fuzzyStrings(spark, fp)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(identity)
      for (i <- 1 to b.length) {
        var prev = d(0); d(0) = i
        for (j <- 1 to a.length) {
          val t = d(j)
          d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
            prev + (if (a(j - 1) == b(i - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    val sample = rows.filter(r => r._1 % 17 == 0 || r._1 % 100 == (fp.dupN + 1) % 100)
    val found = scala.collection.mutable.Set[(Long, Long)]()
    for ((ia, sa) <- sample; (ib, sb) <- rows if ia != ib) {
      if (math.abs(sa.length - sb.length) <= 1 && sa != sb && lev(sa, sb) <= 1)
        found += ((math.min(ia, ib), math.max(ia, ib)))
    }
    // expected: exactly the planted (base, variant) pairs with either
    // endpoint in the sample — nothing else within distance 1
    val sampleIds = sample.map(_._1).toSet
    val expect = rows.collect { case (id, _)
        if id - fp.dupN >= 1 && (id - fp.dupN) % 100 == 1 &&
          (sampleIds(id) || sampleIds(id - 1)) =>
      (id - 1, id)
    }.toSet
    assert(expect.nonEmpty, "sample missed every planted pair — vacuous")
    assert(found.toSet == expect,
      s"extra=${(found.toSet -- expect).take(5)} missing=${(expect -- found).take(5)}")
  }

  test("distributed CC converges past the old 32k-diameter ceiling at default maxIter") {
    // The spanning-pair path turns an m-fold duplicate class into an
    // m-diameter chain, so CC convergence must cover chain diameters
    // far beyond 2^15 = 32768 — the old maxIter=15 default silently
    // split a 100k-fold boilerplate class's component (the shortcutting
    // loop reaches distance ~2^rounds). 33k sits just past that
    // ceiling: ~16 rounds required, well under the new default of 30.
    val n = 33000L
    val chain = spark.range(n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val labels = Dedup.duplicateClusters(chain, driverThreshold = 0L)
    val agg = labels.agg(
      countDistinct(col("cluster_id")).as("k"),
      min(col("cluster_id")).as("mn"),
      max(col("cluster_id")).as("mx"),
      count(lit(1)).as("n")).collect()(0)
    assert(agg.getLong(0) == 1L, "chain must collapse to ONE component")
    assert(agg.getLong(1) == 0L && agg.getLong(2) == 0L)
    assert(agg.getLong(3) == n)
  }
}
