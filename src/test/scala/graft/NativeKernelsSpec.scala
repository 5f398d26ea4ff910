package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{Native, NativeCall, GraftFunctions => G}

/** Every declared native kernel, checked from its declaration: the
  * Column builder, the SQL name, codegen versus interpreted
  * evaluation, and the analysis-time type check. */
class NativeKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  /** The input shapes perfbench's kernel probe builds — documents,
    * the next document's text, embeddings and the hashes, signatures
    * and sorted arrays the kernels consume — over sf0.001, plus one
    * row whose every input is null. Read through an RDD, so each
    * projection is planned rather than folded on the driver. */
  lazy val input: DataFrame = {
    val docs = SparkT.table("documents").select("doc_id", "text")
      .orderBy("doc_id").limit(64).collect()
    val vecs = SparkT.table("embeddings").select("embedding")
      .orderBy("vec_id").limit(64).collect()
    val n = math.min(docs.length, vecs.length)
    val rows = (0 until n).map { i =>
      val j = (i + 1) % n
      Row(docs(i).getLong(0), docs(i).getString(1), docs(j).getString(1),
        vecs(i).getSeq[Float](0), vecs(j).getSeq[Float](0))
    } :+ Row(-1L, null, null, null, null)
    val base = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType.fromDDL("id BIGINT, text STRING, text2 STRING, v ARRAY<FLOAT>, v2 ARRAY<FLOAT>"))
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
      .withColumn("key", col("s").cast("double"))
      .withColumn("probe", coalesce(element_at(col("sorted2"), 1), lit(0L)))
      .withColumn("words", array_sort(G.graft_word_shingles(col("text"), 1)))
      .withColumn("probe_str", coalesce(element_at(split(col("text2"), " "), 1), lit("")))
    spark.createDataFrame(spark.sparkContext.parallelize(derived.collect().toSeq, 2),
      derived.schema)
  }

  /** One call of every public builder, keyed by SQL name. */
  val probes: Map[String, Column] = Map(
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

  private def run(k: Native): (Seq[Row], Boolean) = {
    val q = input.select(col("id"), probes(k.name).as("r"))
    val rows = q.orderBy("id").collect().toSeq
    val codegen = q.queryExecution.executedPlan.collectFirst {
      case w: WholeStageCodegenExec if w.toString.contains(k.prettyName) => w
    }.nonEmpty
    (rows, codegen)
  }

  test("one declaration, one builder and one SQL name per kernel") {
    val declared = Native.all.map(_.name)
    assert(declared.distinct.size == declared.size, declared)
    val builders = G.getClass.getMethods.map(_.getName)
      .filter(n => n.startsWith("graft_") && !n.contains("$")).toSet -
      "graft_gram" - "graft_bounded_topk"
    assert(builders == declared.toSet)
    assert(probes.keySet == declared.toSet)
    Native.all.foreach { k =>
      val e = Bridge.expression(probes(k.name))
      assert(e.isInstanceOf[NativeCall] && e.asInstanceOf[NativeCall].kernel == k,
        s"${k.name}'s builder does not build its declaration: $e")
    }
  }

  test("every kernel gives equal rows under codegen and interpreted evaluation") {
    Native.all.foreach { k =>
      val (compiled, inStage) = run(k)
      assert(inStage, s"${k.name} ran outside whole-stage codegen")
      assert(compiled.size == input.count() && compiled.head.isNullAt(1),
        s"${k.name}: null row")
      val (interpreted, stillInStage) = SparkT.interpreted(run(k))
      assert(!stillInStage, s"${k.name} was not evaluated interpreted")
      assert(compiled == interpreted, s"${k.name}: codegen and interpreted rows differ")
    }
  }

  test("every kernel's SQL name returns its builder's rows") {
    graft.expressions.GraftFunctions.register(spark)
    input.createOrReplaceTempView("graft_native_probe")
    try Native.all.foreach { k =>
      val e = Bridge.expression(probes(k.name)).asInstanceOf[NativeCall]
      val args = e.children.map { case c: Cast => c.child.sql } ++
        e.params.map(Literal(_).sql)
      val sql = spark.sql(s"SELECT id, ${k.name}(${args.mkString(", ")}) AS r " +
        "FROM graft_native_probe ORDER BY id").collect().toSeq
      assert(sql == run(k)._1, s"${k.name}: SQL and builder rows differ")
    } finally spark.catalog.dropTempView("graft_native_probe")
    // constants are checked where they are bound, for SQL as for builders
    def refusal(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" / ")
    }
    assert(refusal("SELECT graft_window_digests('a b c', 0)").contains("w must be >= 1"))
    assert(refusal("SELECT graft_minhash(array(1L), CAST(NULL AS INT), 1)")
      .contains("k must be a non-null constant"))
    assert(refusal("SELECT graft_minhash(array(1L))").contains("missing parameter k"))
  }

  test("each kernel built raw over mistyped inputs fails analysis naming it") {
    val d = spark.createDataFrame(java.util.Arrays.asList(Row(Seq(1, 5, 9), 5)),
      StructType.fromDDL("ai ARRAY<INT>, i INT"))
    Native.all.foreach { k =>
      val children = k.inputs.map {
        case _: ArrayType => Bridge.expression(col("ai"))
        case _ => Bridge.expression(col("i"))
      }
      val values = k.params.map(p => p.default.getOrElse(p.dataType match {
        case IntegerType => 1
        case LongType => 1L
      }))
      val e = intercept[AnalysisException] {
        d.select(Bridge.column(k.node(children, values))).collect()
      }
      assert(e.getMessage.contains(k.name), s"${k.name}: ${e.getMessage}")
    }
  }
}
