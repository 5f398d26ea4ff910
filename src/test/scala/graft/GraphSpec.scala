package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark
  import spark.implicits._

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two-node cycle is the stationary point, exactly") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    // r0 = 5e11 each; inflow = 5e11; r' = 75e9 + (5e11·85)//100 = 5e11
    val got = ranksOf(Graph.pageRankFp(e, "src", "dst", numIter = 4))
    assert(got == Map(1L -> 500000000000L, 2L -> 500000000000L))
  }

  test("dangling node redistributes its mass; hand-computed iteration") {
    val e = Seq((1L, 2L)).toDF("src", "dst") // 2 has no out-edges
    // N=2, r0 = 5e11 each. dang = 5e11, dangShare = 25e10.
    // r1(1) = 75e9 + (0 + 25e10)·85//100    = 287500000000
    // r1(2) = 75e9 + (5e11 + 25e10)·85//100 = 712500000000
    val got = ranksOf(Graph.pageRankFp(e, "src", "dst", numIter = 1))
    assert(got == Map(1L -> 287500000000L, 2L -> 712500000000L))
  }

  test("duplicate edges, self-loops, and nulls are cleaned before ranking") {
    val dirty = Seq(
      (Some(1L), Some(2L)), (Some(1L), Some(2L)), // dup
      (Some(2L), Some(2L)),                       // self-loop
      (Some(2L), Some(1L)),
      (None, Some(1L)), (Some(1L), None)          // null endpoints
    ).toDF("src", "dst")
    val clean = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(ranksOf(Graph.pageRankFp(dirty, "src", "dst", numIter = 3)) ==
      ranksOf(Graph.pageRankFp(clean, "src", "dst", numIter = 3)))
  }

  test("bit-identical across partitionings — the fixed-point claim") {
    val e = (0L until 400L).map(i => (i % 37, (i * 13 + 5) % 41)).toDF("src", "dst")
    val a = ranksOf(Graph.pageRankFp(e.repartition(1), "src", "dst", numIter = 5))
    val b = ranksOf(Graph.pageRankFp(e.repartition(13), "src", "dst", numIter = 5))
    assert(a == b)
  }

  test("tracks a double-precision reference within the floor-bias bound") {
    val edges = (0L until 300L).map(i => (i % 23, (i * 7 + 3) % 29))
      .map { case (s, d) => (s, d) }.distinct.filter { case (s, d) => s != d }
    val e = edges.toDF("src", "dst")
    val got = Graph.pageRankFp(e, "src", "dst", numIter = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // local reference in doubles
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val dang = nodes.filterNot(deg.contains).map(r).sum
      val inflow = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(x => r(x._1) / deg(x._1)).sum
      }
      r = nodes.map(v => v ->
        (0.15 / n + 0.85 * (inflow.getOrElse(v, 0.0) + dang / n))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - r(v)) < 1e-6,
        s"node $v: fp=${got(v)} ref=${r(v)}")
    }
  }

  test("empty graph and refusals") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRankFp(none, "src", "dst").isEmpty)
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.pageRankFp(e, "src", "dst", numIter = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankFp(e, "src", "dst", dampNum = 100, dampDen = 100)
    }
  }

  private def trianglesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangleCounts: K4 clique, star, disconnected zero nodes") {
    // K4: C(4,3)=4 triangles, every node in exactly 3
    val k4 = (for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j))
      .toDF("src", "dst")
    assert(trianglesOf(Graph.triangleCounts(k4, "src", "dst")) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // star: the hot center closes nothing
    val star = (2L to 11L).map(i => (1L, i)).toDF("src", "dst")
    val st = trianglesOf(Graph.triangleCounts(star, "src", "dst"))
    assert(st.size == 11 && st.values.forall(_ == 0L))
  }

  test("triangleCounts: brute-force parity on a scrambled graph") {
    val edges = (0L until 30L).flatMap { i =>
      Seq((i, (i * 7 + 3) % 30), (i, (i * 11 + 5) % 30), (i, (i + 1) % 30))
    }
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2))
    val expected = nodes.map { n =>
      n -> (for {
        x <- nodes; y <- nodes
        if x < y && x != n && y != n
        if canon(( math.min(n, x), math.max(n, x)))
        if canon((math.min(n, y), math.max(n, y)))
        if canon((x, y))
      } yield 1).size.toLong
    }.toMap
    val got = trianglesOf(
      Graph.triangleCounts(edges.toDF("src", "dst"), "src", "dst"))
    assert(got == expected)
  }

  test("triangleCounts: duplicate/reversed edges, self-loops and nulls are contract-cleaned") {
    val messy = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (1L, 2L), // dup + reverse
      (2L, 3L), (3L, 1L),
      (1L, 1L), // self loop
      (null, 5L), (5L, null)) // null endpoints
      .toDF("src", "dst")
    assert(trianglesOf(Graph.triangleCounts(messy, "src", "dst")) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
