package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.{FreqSketch, GraftFunctions => G}

/** Times each of graft's native expressions and aggregates over a
  * fixed input whose rows are sampled by the seed.
  *
  * Inputs are documents and embeddings drawn from the data directory,
  * plus the hash arrays, signatures and vectors the kernels consume.
  * Each scalar kernel runs through a generated UnsafeProjection (the
  * whole-stage codegen path) and each aggregate through its typed
  * `update`, in a tight loop on the calling thread, so the figure is the
  * kernel's own cost per row with no scheduling around it. */
object KernelProbe {
  val rowsSampled = 256

  def input(spark: SparkSession, dir: String, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val docs = rnd.shuffle(spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect().toSeq).take(rowsSampled)
    val vecs = rnd.shuffle(spark.read.parquet(s"$dir/embeddings.parquet")
      .select("embedding").collect().toSeq).take(rowsSampled)
    val n = math.min(docs.size, vecs.size)
    val rows = (0 until n).map { i =>
      val j = (i + 1) % n
      Row(docs(i).getLong(0), docs(i).getString(1), docs(j).getString(1),
        vecs(i).getSeq[Float](0), vecs(j).getSeq[Float](0))
    }
    val base = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, text STRING, text2 STRING, v ARRAY<FLOAT>, v2 ARRAY<FLOAT>"))
    val derived = base
      .withColumn("h", G.graft_shingle_hashes(col("text"), 5))
      .withColumn("h2", G.graft_shingle_hashes(col("text2"), 5))
      .withColumn("sorted", array_sort(col("h")))
      .withColumn("sorted2", array_sort(col("h2")))
      .withColumn("sorted_d", array_sort(col("h").cast("array<double>")))
      .withColumn("sig", G.graft_minhash(col("h"), 128, 1L))
      .withColumn("sig2", G.graft_minhash(col("h2"), 128, 1L))
      .withColumn("s", G.graft_simhash64(col("h")))
      .withColumn("s2", G.graft_simhash64(col("h2")))
      .withColumn("qv", transform(col("v"), x => floor(x * 1000 + 0.5).cast("long")))
      .withColumn("key", col("s").cast("double"))
      .withColumn("probe", coalesce(element_at(col("sorted2"), 1), lit(0L)))
      .withColumn("words", array_sort(G.graft_word_shingles(col("text"), 1)))
      .withColumn("probe_str", coalesce(element_at(split(col("text2"), " "), 1), lit("")))
    // re-materialise as local data so every probe reads plain columns
    spark.createDataFrame(java.util.Arrays.asList(derived.collect(): _*), derived.schema)
  }

  def scalarProbes: Seq[(String, Column)] = Seq(
    "graft_cosine" -> G.graft_cosine(col("v"), col("v2")),
    "graft_dot" -> G.graft_dot(col("v"), col("v2")),
    "graft_hamming64" -> G.graft_hamming64(col("s"), col("s2")),
    "graft_minhash" -> G.graft_minhash(col("h"), 128, 1L),
    "graft_lsh_bands" -> G.graft_lsh_bands(col("sig"), 16, 8),
    "graft_simhash64" -> G.graft_simhash64(col("h")),
    "graft_srp_bucket" -> G.graft_srp_bucket(col("v"), 16, 7L),
    "graft_srp_probes" -> G.graft_srp_probes(col("v"), 16, 7L, 4),
    "graft_minhash_agreement" -> G.graft_minhash_agreement(col("sig"), col("sig2")),
    "graft_shingle_hashes" -> G.graft_shingle_hashes(col("text"), 5),
    "graft_char_shingle_hashes" -> G.graft_char_shingle_hashes(col("text"), 5),
    "graft_word_shingles" -> G.graft_word_shingles(col("text"), 3),
    "graft_word_shingles_all" -> G.graft_word_shingles_all(col("text"), 3),
    "graft_text_stats" -> G.graft_text_stats(col("text")),
    "graft_gopher_stats" -> G.graft_gopher_stats(col("text")),
    "graft_fingerprint64" -> G.graft_fingerprint64(col("text")),
    "graft_sorted_contains" -> G.graft_sorted_contains(col("sorted"), col("probe")),
    "graft_sorted_contains_str" -> G.graft_sorted_contains_str(col("words"), col("probe_str")),
    "graft_sorted_rank" -> G.graft_sorted_rank(col("sorted_d"), col("key")),
    "graft_sorted_intersect" -> G.graft_sorted_intersect(col("sorted"), col("sorted2")),
    "graft_window_digests" -> G.graft_window_digests(col("text"), 8))

  def aggregateProbes: Seq[(String, Column)] = Seq(
    "graft_gram" -> G.graft_gram(col("qv"), 64),
    "graft_bounded_topk" -> G.graft_bounded_topk(struct(col("id")), Seq(col("key")), 10),
    "graft_freq_sketch" -> Bridge.column(
      FreqSketch(Bridge.expression(col("probe_str")), 64).toAggregateExpression()))

  /** ns per input row for every probe, in declaration order. */
  def run(spark: SparkSession, dir: String, seed: Long): Seq[(String, Double)] = {
    val inp = input(spark, dir, seed)
    val rows: Array[InternalRow] = inp.queryExecution.toRdd.collect().map(_.copy())
    val scalars = scalarProbes.map { case (name, c) =>
      val Project(list, child) = inp.select(c).queryExecution.analyzed: @unchecked
      val proj = UnsafeProjection.create(Seq(BindReferences.bindReference(list.head, child.output)))
      name -> timePerRow(rows.length)(rows.foreach(r => proj(r)))
    }
    val aggs = aggregateProbes.map { case (name, c) =>
      val Aggregate(_, list, child, _) = inp.agg(c).queryExecution.analyzed: @unchecked
      val fn = list.head.collectFirst { case a: AggregateExpression => a.aggregateFunction }.get
      val bound = BindReferences.bindReference(fn, child.output)
        .asInstanceOf[TypedImperativeAggregate[Any]]
      name -> timePerRow(rows.length) {
        var buf = bound.createAggregationBuffer()
        rows.foreach(r => buf = bound.update(buf, r))
        bound.eval(buf)
      }
    }
    scalars ++ aggs
  }

  /** Warm the loop for 50 ms, then time whole passes for at least
    * 150 ms; returns ns per row. */
  private def timePerRow(n: Int)(pass: => Any): Double = {
    def loop(minNs: Long): (Long, Long) = {
      val t0 = System.nanoTime()
      var passes = 0L
      while (System.nanoTime() - t0 < minNs) { pass; passes += 1 }
      (System.nanoTime() - t0, passes)
    }
    loop(50000000L)
    val (ns, passes) = loop(150000000L)
    ns.toDouble / (passes * n)
  }
}
