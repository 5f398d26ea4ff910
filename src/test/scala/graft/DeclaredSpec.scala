package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the declared-query list every other view derives from. */
class DeclaredSpec extends AnyFunSuite {

  test("declared records: unique names, ev5-ev15 streaming, 150 oracles, shared oracles equal") {
    import SparkEntry.{declared, oracleSql, queries}
    val names = declared.map(_.name)
    assert(names.size == 170 && names.distinct.size == names.size,
      names.diff(names.distinct))

    val gates = (5 to 15).map(i => s"ev${i}_")
    assert(declared.filter(_.streaming).map(_.name).toSet ==
      names.filter(n => gates.exists(n.startsWith)).toSet)
    assert(declared.count(_.streaming) == 11)

    assert(oracleSql.keySet.subsetOf(queries.keySet))
    assert(oracleSql.size == 150)
    // the rows-only list in SparkEntry.declared's scaladoc
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

  test("each planted fixture's SQL twin returns its Scala builder's rows") {
    // the twins read `documents` by name, as the DuckDB oracles do; run
    // them over a view of their own so no other suite's view is touched
    val spark = SparkT.spark
    val view = "declared_spec_documents"
    SparkT.table("documents").createOrReplaceTempView(view)
    try {
      assert(SparkEntry.plantedTwins.size == 5)
      SparkEntry.plantedTwins.foreach { case (name, build, sql) =>
        val built = build(spark, SparkT.sfDir)
        val twin = spark.sql(sql.replaceAll("\\bdocuments\\b", view))
        assert(twin.count() == built.count(), name)
        assert(twin.exceptAll(built).isEmpty, s"$name: twin rows its builder lacks")
        assert(built.exceptAll(twin).isEmpty, s"$name: builder rows its twin lacks")
      }
    } finally spark.catalog.dropTempView(view)
  }
}
