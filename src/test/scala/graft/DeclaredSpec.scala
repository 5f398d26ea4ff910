package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries._

/** Invariants of the declared-query list every other view derives from. */
class DeclaredSpec extends AnyFunSuite {

  test("declared records: unique names, 150 oracles, shared oracles equal") {
    import SparkEntry.{declared, oracleSql, queries}
    val names = declared.map(_.name)
    assert(names.size == 170 && names.distinct.size == names.size,
      names.diff(names.distinct))

    assert(oracleSql.keySet.subsetOf(queries.keySet))
    assert(oracleSql.size == 150)
    // the rows-only queries: hash-, LSH- and seed-dependent results,
    // pinned by planted-duplicate and measured-floor specs instead
    // (dd11, ann6 and q28b put the measured numbers in the dump)
    assert(queries.keySet.diff(oracleSql.keySet) == Set(
      "ann2_lsh_topk", "ann3_ivf", "ann4_pq", "ann5_ivfpq", "ann6_recall",
      "ann7_pq_hi", "ann9_ivfpq_index", "ann13_pca_recall",
      "cur8_embed_outliers", "dd2_minhash_lsh", "dd3_simhash",
      "dd5_embed_dup", "dd11_lsh_recall", "dd13_semantic_dedup",
      "mm3_perceptual_dedup", "mm4_audio_dedup", "mm5_video_dedup",
      "q28_approx", "q28b_sketch_error", "txt17_bpe"))

    Seq("q04_arrange" -> "q37_arrange_bygroup", "q27_asof" -> "q38_asof_native",
      "q30_slice_max" -> "q34_topn_agg", "q49_text_ingest" -> "txt1_tokens",
      "dd9_cross_dedup" -> "dd14_index_dedup",
      "txt10_decontam" -> "txt15_decontam_bloom",
      "ev1_tumbling" -> "ev5_tumbling_stream",
      "ev7_dedup_stream" -> "ev10_dedup_rocksdb",
      "cur24_pipeline" -> "cur24b_pipeline_persisted").foreach { case (a, b) =>
      assert(oracleSql(a) == oracleSql(b), s"$a and $b must share one oracle")
    }
  }

  test("area objects partition the declared names by family; gates are ev5-ev15") {
    val areas = Seq("q" -> VerbQueries.declared, "q" -> AnalyticsQueries.declared,
      "dd" -> DedupQueries.declared, "ann" -> VectorQueries.declared,
      "txt" -> TextQueries.declared, "mm" -> MediaQueries.declared,
      "ev" -> EventQueries.declared, "ev" -> GateQueries.declared,
      "cur" -> CurationQueries.declared)
    val family = "([a-z]+)[0-9].*".r
    areas.foreach { case (prefix, records) =>
      assert(records.nonEmpty)
      records.foreach(d => d.name match {
        case family(f) => assert(f == prefix, d.name)
        case other => fail(s"no family prefix: $other")
      })
    }
    // every declared name in exactly one area, in the order declared
    assert(areas.flatMap(_._2).map(_.name) == SparkEntry.declared.map(_.name))

    val gates = (5 to 15).map(i => s"ev${i}_")
    val gateNames = GateQueries.declared.map(_.name).toSet
    assert(gateNames.size == 11)
    assert(gateNames == SparkEntry.queries.keySet.filter(n => gates.exists(n.startsWith)))
    assert(Bench.streamingNames == gateNames)
  }

  test("each planted fixture's SQL twin returns its Scala builder's rows") {
    // the twins read `documents` and `orders` by name, as the DuckDB
    // oracles do; run them over views of their own so no other suite's
    // view is touched
    val spark = SparkT.spark
    val tables = Seq("documents", "orders")
    tables.foreach(n => SparkT.table(n).createOrReplaceTempView(s"declared_spec_$n"))
    try {
      val twins = Fixtures.plantedTwins ++ DedupQueries.plantedTwins ++
        TextQueries.plantedTwins ++ CurationQueries.plantedTwins ++
        AnalyticsQueries.plantedTwins
      assert(twins.size == 6)
      twins.foreach { case (name, build, sql) =>
        val built = build(spark, SparkT.sfDir)
        val twin = spark.sql(tables.foldLeft(sql)((q, n) =>
          q.replaceAll(s"\\b$n\\b", s"declared_spec_$n")))
        assert(twin.count() == built.count(), name)
        assert(twin.exceptAll(built).isEmpty, s"$name: twin rows its builder lacks")
        assert(built.exceptAll(twin).isEmpty, s"$name: builder rows its twin lacks")
      }
    } finally tables.foreach(n => spark.catalog.dropTempView(s"declared_spec_$n"))
  }
}
