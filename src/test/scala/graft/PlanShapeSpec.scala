package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.GraftFrame

/** Scale-behavior assertions: the optimizations cuplyr implements as
  * explicit AST passes (reference: R/optimizer.R) must appear in the
  * physical plan Catalyst produces for the equivalent GraftFrame chain —
  * plus the plan properties that matter at 100 TB (scan-level pushdown,
  * broadcast dimension joins, whole-stage codegen coverage).
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("filter pushdown reaches the parquet scan (PushedFilters)") {
    val q = SparkEntry.queries("q01_filter")(spark, SparkT.sfDir)
    val p = plan(q)
    // (display string truncates the full filter list; the leading
    // entries prove the scan-level pushdown happened)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p.take(800))
    assert(p.contains("DataFilters: [isnotnull(l_quantity"))
  }

  test("projection pruning: scan reads only referenced columns") {
    val q = SparkEntry.queries("q02_select")(spark, SparkT.sfDir)
    val p = plan(q)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>")
      || p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_custkey:bigint>"),
      "scan must not read unprojected columns:\n" + p.take(800))
  }

  test("mutate fusion: independent chained mutates collapse to one Project") {
    // (dependent mutates deliberately stay split: Catalyst's
    // CollapseProject refuses to duplicate non-trivial expressions —
    // a cost-aware refinement over the reference's unconditional fusion)
    val li = GraftFrame(SparkT.table("lineitem"))
      .mutate("a" -> (col("l_quantity") * 2))
      .mutate("b" -> (col("l_quantity") + 1))
      .mutate("c" -> (col("l_extendedprice") * 3))
      .select("a", "b", "c")
    val projects = "Project".r.findAllIn(optimized(li.df)).length
    assert(projects <= 1, s"expected fused Project, got:\n${optimized(li.df)}")
  }

  test("dead column pruning: unused mutate output vanishes from the plan") {
    val li = GraftFrame(SparkT.table("lineitem"))
      .mutate("dead" -> (col("l_quantity") * 99))
      .select("l_orderkey")
    assert(!optimized(li.df).contains("dead"))
  }

  test("filter fusion + pushdown across mutate") {
    val li = GraftFrame(SparkT.table("lineitem"))
      .mutate("rev" -> (col("l_extendedprice") * 2))
      .filter(col("l_quantity") > 10)
      .filter(col("l_discount") < 0.05)
    val o = optimized(li.df)
    val filters = "(?m)Filter".r.findAllIn(o).length
    assert(filters <= 1, s"filters should fuse into one conjunction:\n$o")
  }

  test("dimension joins broadcast (TPC-H Q5 shape)") {
    val q = SparkEntry.queries("q17_tpch_q5")(spark, SparkT.sfDir)
    assert(plan(q).contains("BroadcastHashJoin"))
  }

  test("QueryPlan.executed returns q17_tpch_q5's final adaptive plan") {
    // a noop save plans its own QueryExecution and leaves the frame's
    // plan at isFinalPlan=false; the tool must show what AQE ran
    val q = SparkEntry.queries("q17_tpch_q5")(spark, SparkT.sfDir)
    tools.QueryPlan.executed(q) match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        assert(a.isFinalPlan, a.toString.take(1200))
        assert(a.toString.contains("BroadcastHashJoin"), a.toString.take(1200))
      case p => fail(s"q17_tpch_q5 did not plan adaptively:\n$p")
    }
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val q = SparkEntry.queries("q15_tpch_q1")(spark, SparkT.sfDir)
    val p = plan(q)
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("partial aggregation")
      || "HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial+final aggregate pair:\n" + p.take(1200))
  }

  test("verb chains stay inside whole-stage codegen") {
    val q = SparkEntry.queries("q15_tpch_q1")(spark, SparkT.sfDir)
    q.collect() // AQE finalizes stages only on execution
    // the *(n) markers are the WholeStageCodegen span ids; scan→filter→
    // project→partial-agg must share span *(1)
    val p = plan(q)
    assert(p.contains("*(1) HashAggregate") && p.contains("*(1) Filter"), p.take(1500))
  }

  test("exact dedup shuffles fingerprints, not text") {
    val q = SparkEntry.queries("dd1_exact")(spark, SparkT.sfDir)
    val p = plan(q)
    // the exchange feeding the window must carry the md5 fingerprint key
    assert(p.contains("hashpartitioning(__graft_fp"))
  }

  test("semi/anti joins plan as existence joins") {
    val q = SparkEntry.queries("q19_semi_anti")(spark, SparkT.sfDir)
    val p = plan(q)
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("pivot_longer plans as Expand with no exchange before it") {
    val q = GraftFrame(SparkT.table("lineitem"))
      .select("l_orderkey", "l_quantity", "l_discount")
      .mutate("l_quantity" -> col("l_quantity").cast("double"),
        "l_discount" -> col("l_discount").cast("double"))
      .pivotLonger(Seq("l_quantity", "l_discount")).df
    val p = plan(q)
    assert(p.contains("Expand"), p.take(800))
    assert(!p.contains("Exchange"), "unpivot must not shuffle:\n" + p.take(800))
  }

  test("grouped mutate shares ONE exchange across all its aggregates") {
    val q = GraftFrame(SparkT.table("customer"))
      .select("c_custkey", "c_mktsegment", "c_acctbal")
      .groupBy("c_mktsegment")
      .mutateGrouped("t" -> sum(col("c_acctbal")), "n" -> count(lit(1)),
        "mx" -> max(col("c_acctbal"))).df
    q.collect()
    // AQE renders Final + Initial plans; count only the final one
    val p = plan(q).split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "all grouped-mutate aggregates must share one shuffle:\n" + p.take(1500))
    // one Window node carrying all three aggregates, not one per pair
    assert("Window \\[".r.findAllIn(p).length == 1, p.take(1500))
  }

  test("near-dedup survivors anti-join without shuffling corpus text") {
    val docs = SparkT.table("documents").select(col("doc_id"), col("text"))
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 7, threshold = 0.5)
    val q = graft.dedup.Dedup.dedupNear(docs, "doc_id", pairs)
    q.collect()
    val p = plan(q)
    // loser ids broadcast to the corpus scan: no exchange on the
    // corpus side of the final anti join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(1500))
  }

  test("cross-corpus dedup: text never partitions an exchange; anti join broadcasts") {
    val q = SparkEntry.queries("dd9_cross_dedup")(spark, SparkT.sfDir)
    val p = plan(q)
    assert(p.contains("LeftAnti"), p.take(800))
    // every hashpartitioning key list must be id/band keys, never text
    p.split("Exchange hashpartitioning\\(").drop(1).foreach { s =>
      assert(!s.takeWhile(_ != ')').contains("text"),
        "an exchange partitions on the text column")
    }
  }

  test("fused text stats: one kernel call per row under CSE") {
    // langId + qualityScore + wsTokenCount expand to dozens of
    // textStats field reads in the expression tree; whole-stage
    // codegen's common-subexpression elimination must collapse them to
    // a SINGLE kernel invocation per row — the entire point of the
    // fused kernel
    val d = SparkT.table("documents")
      .select(col("doc_id"), col("text"))
      .withColumn("lang", graft.functions.textfns.langId(col("text")))
      .withColumn("quality", graft.functions.textfns.qualityScore(col("text")))
      .withColumn("n", graft.functions.textfns.wsTokenCount(col("text")))
    val codegen = org.apache.spark.sql.execution.debug.codegenString(
      d.queryExecution.executedPlan)
    val calls = "Kernels\\.textStats".r.findAllIn(codegen).length
    assert(calls == 1, s"expected 1 textStats call site in generated code, got $calls")
  }

  test("mixture sampling: rate table broadcasts to a scan-side filter") {
    val q = SparkEntry.queries("cur3_mixture")(spark, SparkT.sfDir)
    val p = plan(q)
    // the per-source rate dimension joins by broadcast — the corpus
    // side is filtered at scan speed, never repartitioned by source
    // for the keep-filter (the only aggregations are count shapes)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }
}
