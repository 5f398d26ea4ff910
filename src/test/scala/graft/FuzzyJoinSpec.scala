package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.FuzzyJoin

/** PassJoin fuzzy self-join: pinned EQUAL to the all-pairs levenshtein
  * ground truth (sound + complete, not just high recall), including
  * duplicated-string expansion, spanning-mode component equivalence
  * and supplementary-plane (code-point) inputs. */
class FuzzyJoinSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  /** Distinct part names + planted one/two-edit variants + shorts. */
  private def names = {
    val base = SparkT.table("part")
      .select(lower(col("p_name")).as("s")).distinct()
      .collect().map(_.getString(0)).toSeq
    val planted = base.take(20).zipWithIndex.flatMap { case (s, i) =>
      Seq(
        s.updated(s.length / 2, 'z'),              // 1 substitution
        s.drop(1),                                 // 1 deletion
        "x" + s.updated(0, 'q'))                   // distance 2
        .map(v => s"$v#$i") // suffix keeps planted variants distinct
        .map(v => v.dropRight(2 + (i / 10))) // vary lengths a bit
    }
    val shorts = Seq("a", "ab", "b", "xy", "", "abc")
    (base ++ planted ++ shorts).distinct
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
  }

  private def groundTruth(local: Seq[(Long, String)], k: Int) =
    (for {
      (ia, sa) <- local; (ib, sb) <- local if ia < ib
      d = levenshteinRef(sa, sb) if d <= k
    } yield (ia, ib, d)).toSet

  test("selfPairs equals the all-pairs levenshtein ground truth (k=2)") {
    import spark.implicits._
    val df = names.toDF("id", "s")
    val got = FuzzyJoin.selfPairs(df, "id", "s", maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = groundTruth(names, 2)
    assert(want.nonEmpty, "fixture produced no close pairs — test is vacuous")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("duplicated strings: complete mode restores the full pair relation") {
    import spark.implicits._
    // a 5-fold and a 3-fold duplicate class one edit apart, plus
    // singletons near and far — exercises the representative collapse,
    // the within-group expansion AND the cross-group expansion
    val local = Seq(
      "alpha", "alpha", "alpha", "alpha", "alpha",
      "alphx", "alphx", "alphx",
      "alpXa", "gamma", "delta", "alphabet")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = local.toDF("id", "s")
    val got = FuzzyJoin.selfPairs(df, "id", "s", maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = groundTruth(local, 2)
    assert(want.exists(_._3 == 0) && want.exists(_._3 > 0))
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("spanning mode: linear pair count, identical connected components") {
    import spark.implicits._
    val local = Seq(
      "alpha", "alpha", "alpha", "alpha", "alpha",
      "alphx", "alphx", "alphx",
      "alpXa", "gamma", "delta", "gamm")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = local.toDF("id", "s")
    val spanning = FuzzyJoin.selfPairs(df, "id", "s", 2, spanning = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // linear closed form: (members − groups) star edges + close
    // distinct-string pairs (ground truth over the distinct strings)
    val distinct = local.groupBy(_._2).map { case (s, ms) => (ms.map(_._1).min, s) }.toSeq
    val repPairs = groundTruth(distinct, 2)
    assert(spanning.size == (local.size - distinct.size) + repPairs.size)
    // same components as the complete relation
    def components(edges: Set[(Long, Long)]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        parent.getOrElseUpdate(x, x)
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      }
      local.foreach { case (i, _) => find(i) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      local.map { case (i, _) => find(i) }.zip(local.map(_._1))
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    }
    val complete = groundTruth(local, 2).map { case (a, b, _) => (a, b) }
    assert(components(spanning) == components(complete))
  }

  test("fuzzyDedup keeps the min-id representative per component") {
    import spark.implicits._
    val local = Seq(
      "alpha", "alpha", "alphx", "gamma", "gamm", "zzzzzz",
      null.asInstanceOf[String], null.asInstanceOf[String])
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = local.toDF("id", "s")
    val got = FuzzyJoin.fuzzyDedup(df, "id", "s", maxDistance = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    // components: {0,1,2} -> 0, {3,4} -> 3, {5} -> 5; null rows 6,7
    // match nothing and both survive
    assert(got == Set(0L, 3L, 5L, 6L, 7L))
  }

  test("supplementary-plane strings segment by code points (k=1 and k=2)") {
    import spark.implicits._
    // U+1F600 (😀) and U+1D11E (𝄞) are 2 UTF-16 units but ONE edit
    // unit for levenshtein — substitutions/insertions around them must
    // still be found. Include emoji at segment boundaries and
    // emoji-only strings.
    val local = Seq(
      "ab😀cdef",      // a😀 base
      "ab😀cdxf",      // 1 substitution (ascii)
      "abXcdef",                 // 1 substitution (of the emoji)
      "ab😀cdef𝄞", // 1 insertion (astral)
      "b😀cdef",       // 1 deletion
      "😀😀😀😀", // 😀×4
      "😀😀𝄞😀", // 1 sub inside
      "𝄞𝄞", // short arm (2 code points)
      "𝄞",             // short arm (1 code point)
      "unrelated string")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = local.toDF("id", "s")
    for (k <- 1 to 2) {
      val got = FuzzyJoin.selfPairs(df, "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = groundTruth(local, k)
      assert(want.nonEmpty)
      assert(got == want,
        s"k=$k missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("segmentCap: sound under cap (subset of truth), complete without") {
    import spark.implicits._
    // shared-prefix hot key: equal-length strings sharing their first
    // segment — the residual quadratic case after identical-string
    // collapse. Cap bounds the candidate bucket; result must stay a
    // SUBSET of ground truth (verify only discards) and must retain
    // pairs among the lowest representative ids (deterministic cap).
    val local = (0 until 60).map { i =>
      (i.toLong, f"shared boilerplate prefix item $i%04d")
    } ++ Seq((60L, "shared boilerplate prefix item 0000x")) // near 0
    val df = local.toDF("id", "s")
    val want = groundTruth(local, 2)
    val full = FuzzyJoin.selfPairs(df, "id", "s", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == want)
    val capped = FuzzyJoin.selfPairs(df, "id", "s", 2, segmentCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped.subsetOf(want), s"cap invented pairs: ${(capped -- want).take(5)}")
    // low-id pairs survive the deterministic cap
    val lowIdPairs = want.filter { case (a, b, _) => a < 5 && b < 5 }
    assert(lowIdPairs.nonEmpty && lowIdPairs.subsetOf(capped))
    intercept[IllegalArgumentException] {
      FuzzyJoin.selfPairs(df, "id", "s", 2, segmentCap = 0)
    }
  }

  test("selfPairs k=0 finds exactly the duplicate strings") {
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"), (4L, "alphA"))
      .toDF("id", "s")
    val got = FuzzyJoin.selfPairs(df, "id", "s", maxDistance = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("null strings never match; negative k refused") {
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "x")).toDF("id", "s")
    assert(FuzzyJoin.selfPairs(df, "id", "s", 2).count() == 0)
    intercept[IllegalArgumentException] {
      FuzzyJoin.selfPairs(df, "id", "s", -1)
    }
  }

  private def crossTruth(l: Seq[(Long, String)], r: Seq[(Long, String)], k: Int) =
    (for {
      (ia, sa) <- l if sa != null
      (ib, sb) <- r if sb != null
      d = levenshteinRef(sa, sb) if d <= k
    } yield (ia, ib, d)).toSet

  test("linkPairs equals the cross-table all-pairs ground truth (k=2)") {
    import spark.implicits._
    val l = names.toDF("id", "s")
    // right catalog: truncation drift (first 2 chars lost) + shorts —
    // exercises asymmetric lengths in BOTH directions
    val rLocal = names.map { case (i, s) => (i + 100000L, s.drop(2)) } ++
      Seq((200001L, "a"), (200002L, ""), (200003L, "zz"))
    val r = rLocal.toDF("id", "s")
    val got = FuzzyJoin.linkPairs(l, "id", "s", r, "id", "s", maxDistance = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val want = crossTruth(names, rLocal, 2)
    assert(want.exists(_._3 == 0) && want.exists(_._3 == 2),
      "fixture must exercise distance 0 and the k boundary")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("linkPairs: duplicated strings expand to the full m x n block") {
    import spark.implicits._
    val lLocal = Seq("alpha", "alpha", "alpha", "beta", "alphx", null.asInstanceOf[String])
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val rLocal = Seq("alpha", "alpha", "alpXa", "gamma", null.asInstanceOf[String])
      .zipWithIndex.map { case (s, i) => (100L + i, s) }
    val got = FuzzyJoin.linkPairs(lLocal.toDF("id", "s"), "id", "s",
        rLocal.toDF("id", "s"), "id", "s", maxDistance = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val want = crossTruth(lLocal, rLocal, 2)
    // "alpha"(3x left) x "alpha"(2x right) alone is a 6-pair block at
    // distance 0 — the collapse must not lose the expansion
    assert(want.count(_._3 == 0) >= 6)
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("linkPairs supplementary-plane + k=0 equality semantics") {
    import spark.implicits._
    val lLocal = Seq((1L, "ab😀cd"), (2L, "𝄞"), (3L, "plain"))
    val rLocal = Seq((10L, "ab😀cd"), (11L, "abXcd"), (12L, "𝄞𝄞"), (13L, "plain"))
    for (k <- 0 to 2) {
      val got = FuzzyJoin.linkPairs(lLocal.toDF("id", "s"), "id", "s",
          rLocal.toDF("id", "s"), "id", "s", k)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      assert(got == crossTruth(lLocal, rLocal, k), s"k=$k")
    }
  }

  test("linkPairs segmentCap: sound under cap, refusals match selfPairs") {
    import spark.implicits._
    val lLocal = (0 until 40).map(i => (i.toLong, f"shared boilerplate prefix item $i%04d"))
    val rLocal = (0 until 40).map(i => (1000L + i, f"shared boilerplate prefix item $i%04dx"))
    val want = crossTruth(lLocal, rLocal, 2)
    val full = FuzzyJoin.linkPairs(lLocal.toDF("id", "s"), "id", "s",
        rLocal.toDF("id", "s"), "id", "s", 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(full == want)
    val capped = FuzzyJoin.linkPairs(lLocal.toDF("id", "s"), "id", "s",
        rLocal.toDF("id", "s"), "id", "s", 2, segmentCap = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(capped.subsetOf(want), s"cap invented pairs: ${(capped -- want).take(5)}")
    intercept[IllegalArgumentException] {
      FuzzyJoin.linkPairs(lLocal.toDF("id", "s"), "id", "s",
        rLocal.toDF("id", "s"), "id", "s", -1)
    }
    intercept[IllegalArgumentException] {
      FuzzyJoin.linkPairs(lLocal.toDF("id", "s"), "id", "s",
        rLocal.toDF("id", "s"), "id", "s", 2, segmentCap = 0)
    }
  }

  test("segments: contiguous, exhaustive, deterministic") {
    for (m <- 0 to 40; k <- 0 to 4) {
      val segs = FuzzyJoin.segments(m, k)
      assert(segs.length == k + 1)
      assert(segs.map(_._2).sum == m)
      segs.sliding(2).foreach {
        case Seq((s1, l1), (s2, _)) => assert(s2 == s1 + l1)
        case _ =>
      }
    }
  }

  /** Code-point levenshtein — the semantics Spark's `levenshtein`
    * implements (UTF8String counts code points, not UTF-16 units). */
  private def levenshteinRef(a: String, b: String): Int = {
    val ac = a.codePoints.toArray
    val bc = b.codePoints.toArray
    val d = Array.tabulate(ac.length + 1, bc.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to ac.length; j <- 1 to bc.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (ac(i - 1) == bc(j - 1)) 0 else 1))
    d(ac.length)(bc.length)
  }
}
