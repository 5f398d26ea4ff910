package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.GraftFunctions
import graft.similarity.Ann

class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  private def emb = SparkT.table("embeddings")
  private def queries = emb.filter(col("vec_id") < 5)

  /** Naive reference: full cross join + global window sort (self
    * excluded, like every Ann tier). */
  private def naiveTopK(k: Int) = {
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", GraftFunctions.graft_cosine(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  test("bruteForceTopK (partition heaps) matches the naive full sort") {
    val got = Ann.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id", "rank")
    val want = naiveTopK(10)
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }

  test("bruteForceTopKSql ranking agrees with cosine ranking") {
    // quantized-integer scoring must induce (near-)identical rank order;
    // demand ≥9/10 overlap per query to absorb quantization ties
    val sqlTop = Ann.bruteForceTopKSql(emb, queries, k = 10)
      .select("query_id", "neighbor_id")
    val cosTop = naiveTopK(10).select("query_id", "neighbor_id")
    val overlap = sqlTop.intersect(cosTop).groupBy("query_id").count()
      .collect().map(_.getLong(1))
    assert(overlap.length == 5 && overlap.forall(_ >= 9))
  }

  test("lshTopK finds planted identical twins as top-1") {
    val twins = queries.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    val top1 = Ann.lshTopK(corpus, queries, k = 3, nBits = 8, tables = 4)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 5L).foreach { q =>
      assert(top1(q) == q + 10000L, s"query $q top-1 should be its twin")
    }
  }

  test("ivfTopK finds planted identical twins as top-1") {
    val twins = queries.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    val top1 = Ann.ivfTopK(corpus, queries, k = 3, nCells = 8, nProbe = 2)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 5L).foreach { q =>
      assert(top1(q) == q + 10000L, s"query $q top-1 should be its twin")
    }
  }

  test("ivfTopK recall vs brute force is high at nProbe=4/16") {
    val ivf = Ann.ivfTopK(emb, queries, k = 10, nCells = 16, nProbe = 4)
      .select("query_id", "neighbor_id")
    val brute = naiveTopK(10).select("query_id", "neighbor_id")
    val recall = ivf.intersect(brute).count().toDouble / brute.count().toDouble
    assert(recall >= 0.5, s"recall $recall")
  }

  test("pqTopK finds planted identical twins as top-1") {
    // ADC distance is query-to-reconstructed-code, so an identical twin
    // attains the MINIMUM possible distance (the query's own
    // quantization residual), not 0 — top-1 rank is the invariant.
    val twins = queries.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    val top1 = Ann.pqTopK(corpus, queries, k = 3, m = 8, ksub = 16)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 5L).foreach { q =>
      assert(top1(q) == q + 10000L, s"query $q top-1 should be its twin")
    }
  }

  test("pqTopK tie eviction keeps the smallest ids (bottom-k by dist, id)") {
    // all-identical vectors → identical codes → every ADC distance
    // ties; bottom-k must keep the smallest neighbor ids
    val vec = Array.fill(64)(0.5f)
    val corpus = spark.createDataFrame(
      (0L until 10L).map(i => (i, vec.toSeq))).toDF("vec_id", "embedding")
    val q = spark.createDataFrame(Seq((100L, vec.toSeq))).toDF("vec_id", "embedding")
    val got = Ann.pqTopK(corpus, q, k = 3, m = 8, ksub = 4)
      .orderBy(col("rank")).collect().map(_.getLong(2)).toSeq
    assert(got == Seq(0L, 1L, 2L), s"got $got")
  }

  test("pqTopK is well-formed and beats random ranking") {
    val out = Ann.pqTopK(emb, queries, k = 10, m = 8, ksub = 16)
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.size == 5)
    byQ.values.foreach { rows =>
      assert(rows.length == 10)
      val dists = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
    }
    // coarse quality: PQ top-10 should overlap the exact L2^... cosine
    // top-50 far above chance (50/1000 ≈ 0.05 expected at random)
    val brute = Ann.bruteForceTopK(emb, queries, k = 50)
      .select("query_id", "neighbor_id")
    val overlap = out.select("query_id", "neighbor_id").intersect(brute).count()
    assert(overlap >= 10, s"PQ∩brute-50 overlap $overlap of 50")
  }

  test("quantized heap path is bit-identical to the SQL twin (the ann1 oracle)") {
    // the declared ann1 query runs the heap/broadcast SCALE path in
    // quantized mode; its DuckDB oracle is the SQL twin — the two must
    // agree on every column, score doubles included
    val heap = Ann.bruteForceTopK(emb, queries, k = 10, quantized = true)
      .select("query_id", "rank", "neighbor_id", "score")
    val sql = Ann.bruteForceTopKSql(emb, queries, k = 10)
      .select("query_id", "rank", "neighbor_id", "score")
    assert(heap.exceptAll(sql).count() == 0)
    assert(sql.exceptAll(heap).count() == 0)
  }

  test("heap path plan never joins corpus×queries (no N×Q materialization)") {
    val plan = Ann.bruteForceTopK(emb, queries, k = 10, quantized = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "N×Q BNL join in plan")
    assert(!plan.contains("CartesianProduct"), "N×Q cartesian in plan")
    assert(plan.contains("ExistingRDD"), "expected the heap-candidates RDD scan")
  }

  test("ivfPqTopK finds planted identical twins as top-1") {
    val twins = queries.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    val top1 = Ann.ivfPqTopK(corpus, queries, k = 3, nCells = 8, nProbe = 2,
        m = 8, ksub = 16)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 5L).foreach { q =>
      assert(top1(q) == q + 10000L, s"query $q top-1 should be its twin")
    }
  }

  test("ivfPqTopK twin recall ≥ IVF-alone at equal probe budget") {
    val twins = queries.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    def twinRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val top1 = df.filter(col("rank") === 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      (0L until 5L).count(q => top1.get(q).contains(q + 10000L)) / 5.0
    }
    val pq = twinRecall(Ann.ivfPqTopK(corpus, queries, k = 3,
      nCells = 16, nProbe = 4, m = 8, ksub = 16))
    val ivf = twinRecall(Ann.ivfTopK(corpus, queries, k = 3,
      nCells = 16, nProbe = 4))
    assert(pq >= ivf, s"ivfpq twin recall $pq < ivf $ivf")
    assert(pq == 1.0, s"identical twins must always be recalled, got $pq")
  }

  test("ivfPqTopK is well-formed and beats random ranking") {
    val out = Ann.ivfPqTopK(emb, queries, k = 10, nCells = 16, nProbe = 4,
      m = 8, ksub = 16)
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.size == 5)
    byQ.values.foreach { rows =>
      assert(rows.length == 10)
      val dists = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
    }
    val brute = Ann.bruteForceTopK(emb, queries, k = 50)
      .select("query_id", "neighbor_id")
    val overlap = out.select("query_id", "neighbor_id").intersect(brute).count()
    assert(overlap >= 10, s"IVF-PQ∩brute-50 overlap $overlap of 50")
  }

  test("lshTopK output is well-formed: ≤k rows per query, scores descending") {
    val out = Ann.lshTopK(emb, queries, k = 10).collect()
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.length <= 10)
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("srpProbes: base code first, distinct single-bit flips, srpBucket-compatible") {
    val nBits = 8
    val rows = emb.limit(50).select(
        GraftFunctions.graft_srp_bucket(col("embedding"), nBits, seed = 42L).as("base"),
        GraftFunctions.graft_srp_probes(col("embedding"), nBits, seed = 42L, probes = 1).as("p1"),
        GraftFunctions.graft_srp_probes(col("embedding"), nBits, seed = 42L, probes = 5).as("p5"),
        GraftFunctions.graft_srp_probes(col("embedding"), nBits, seed = 42L, probes = 99)
          .as("pAll"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val base = r.getLong(0)
      // probes=1 reproduces srpBucket exactly (same hyperplanes)
      assert(r.getSeq[Long](1) == Seq(base))
      val p5 = r.getSeq[Long](2)
      assert(p5.length == 5 && p5.head == base && p5.distinct.length == 5)
      // every probe beyond the base is a single-bit flip of it
      p5.tail.foreach(c => assert(java.lang.Long.bitCount(c ^ base) == 1))
      // requesting more probes than nBits+1 distinct codes exist caps out
      assert(r.getSeq[Long](3).length == nBits + 1)
    }
  }

  test("lshTopK multiprobe: twins stay top-1, recall monotone in probes") {
    // probing only ADDS query-side buckets, so the candidate set is a
    // superset and scoring is exact cosine within candidates — recall
    // vs the exact top-k is monotone by construction (an exact-top-10
    // member can only be displaced by ≤9 higher-scored vectors, all
    // themselves exact-top-10). Pin both the theorem and the planted
    // twins surviving the probe expansion.
    val twins = queries.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    val top1 = Ann.lshTopK(corpus, queries, k = 3, nBits = 8,
        tables = 4, probes = 6)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 5L).foreach { q =>
      assert(top1(q) == q + 10000L, s"query $q top-1 should be its twin")
    }
    val brute = naiveTopK(10).select("query_id", "neighbor_id")
    def hits(probes: Int): Long =
      Ann.lshTopK(emb, queries, k = 10, nBits = 8, tables = 4,
          probes = probes)
        .select("query_id", "neighbor_id").intersect(brute).count()
    val h1 = hits(1); val h4 = hits(4); val h8 = hits(8)
    assert(h1 <= h4 && h4 <= h8, s"recall not monotone: $h1, $h4, $h8")
    assert(h8 > h1, s"probes=8 should strictly beat single-probe ($h8 vs $h1)")
  }

  test("lshTopK refuses out-of-range probe counts") {
    intercept[IllegalArgumentException] {
      Ann.lshTopK(emb, queries, k = 3, nBits = 8, probes = 0)
    }
    intercept[IllegalArgumentException] {
      Ann.lshTopK(emb, queries, k = 3, nBits = 8, probes = 10)
    }
  }

  test("bruteForceTopK accepts array<double> input like the other tiers") {
    import spark.implicits._
    val rows = (0L until 30L).map(i =>
      (i, Array.fill(8)(((i % 7) + 1).toDouble / 7.0)))
    val d = rows.toDF("vec_id", "embedding") // array<double>, not float
    val out = graft.similarity.Ann.bruteForceTopK(d, d.filter(col("vec_id") < 2), k = 3)
    assert(out.count() == 6, "2 queries x top-3 expected")
  }

  test("declared recall gate (ann6): per-method floors vs exact top-k") {
    // the synthetic embeddings are near-isotropic (random directions),
    // the hardest case for bucketed ANN — organic top-10 recall is
    // legitimately modest there, while planted-duplicate recall (the
    // dedup workload) is 1.0 and pinned by the twin specs above. The
    // floors pin the measured numbers against silent regression.
    val r = SparkEntry.queries("ann6_recall")(spark, SparkT.sfDir)
      .collect().map(row => row.getString(0) -> row.getDouble(2)).toMap
    // measured at sf0.001 with the swept params (every tier clears the
    // 0.5 line at both sf0.001 and sf0.01): lsh 0.615 (7-bit codes × 8
    // tables × 8 probes), ivf 0.740 (nProbe=6), pq 0.870 (10·k exact
    // rerank), ivfpq 0.725 (nProbe=6 + 10·k rerank). Deterministic seeds/data —
    // floors leave regression margin below the weaker sf0.01
    // measurements (0.600 / 0.660 / 0.870 / 0.645).
    assert(r("ann2_lsh") >= 0.50, s"lsh recall@10 = ${r("ann2_lsh")}")
    assert(r("ann3_ivf") >= 0.55, s"ivf recall@10 = ${r("ann3_ivf")}")
    assert(r("ann4_pq") >= 0.60, s"pq recall@10 = ${r("ann4_pq")}")
    assert(r("ann5_ivfpq") >= 0.50, s"ivfpq recall@10 = ${r("ann5_ivfpq")}")
    // the RETRIEVAL-GRADE tier (r13): PQ m=16 + 25·k exact rerank —
    // swept 1.000 / 0.995 / 0.960 at sf0.001 / 0.01 / 0.1, so the 0.9
    // floor holds at every fixture scale, not just this one
    assert(r("ann7_pq_hi") >= 0.90, s"pq-hi recall@10 = ${r("ann7_pq_hi")}")
  }

  test("pq exact rerank: recall never below plain ADC, distances exact") {
    // the top-`rerank` ADC shortlist contains the ADC top-k, so the
    // reranked top-k's true-neighbor overlap is monotonically >= the
    // plain path's — assert the monotonicity AND that reported
    // distances equal exact squared L2 against the raw vectors
    val exact = Ann.bruteForceTopK(emb, queries, k = 10)
      .select(col("query_id"), col("neighbor_id"))
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("query_id"), col("neighbor_id")).intersect(exact).count()
    val plain = Ann.pqTopK(emb, queries, k = 10, m = 8, ksub = 16)
    val rr = Ann.pqTopK(emb, queries, k = 10, m = 8, ksub = 16, rerank = 50)
    assert(hits(rr) >= hits(plain),
      s"rerank hits ${hits(rr)} < plain ${hits(plain)}")

    // distances: reranked approx_dist must equal the true squared L2
    import graft.expressions.GraftFunctions.graft_dot
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val checked = rr
      .join(vecs.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")), "neighbor_id")
      .select(col("approx_dist"),
        (graft_dot(col("nv"), col("nv")) - lit(2.0) * graft_dot(col("nv"), col("qv"))
          + graft_dot(col("qv"), col("qv"))).as("true_d"))
      .collect()
    checked.foreach { r0 =>
      assert(math.abs(r0.getDouble(0) - math.max(0.0, r0.getDouble(1))) < 1e-9,
        s"reranked dist ${r0.getDouble(0)} != exact ${r0.getDouble(1)}")
    }
  }

  test("rerank join broadcasts the shortlist — no corpus shuffle, no N×Q") {
    val plan = Ann.pqTopK(emb, queries, k = 10, m = 8, ksub = 16, rerank = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "shortlist/query joins must broadcast: " + plan.take(1500))
    assert(!plan.contains("SortMergeJoin"),
      "corpus must not shuffle for the rerank scan: " + plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "N×Q join in rerank plan")
  }

  test("pq/ivfpq rerank below k is refused") {
    val e1 = intercept[IllegalArgumentException] {
      Ann.pqTopK(emb, queries, k = 10, rerank = 5)
    }
    assert(e1.getMessage.contains("rerank"))
    val e2 = intercept[IllegalArgumentException] {
      Ann.ivfPqTopK(emb, queries, k = 10, rerank = 5)
    }
    assert(e2.getMessage.contains("rerank"))
  }

  test("mixed-dimension vectors fail fast instead of silent prefix scores") {
    import spark.implicits._
    val corpus = Seq((1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((10L, Array.fill(4)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[org.apache.spark.SparkException] {
      Ann.bruteForceTopK(corpus, queries, k = 1).collect()
    }
    assert(e.getMessage.contains("dim") || Option(e.getCause).exists(
      _.getMessage.contains("dim")), s"unexpected: ${e.getMessage.take(200)}")
    val eq = intercept[org.apache.spark.SparkException] {
      Ann.bruteForceTopK(corpus, queries, k = 1, quantized = true).collect()
    }
    assert(eq.getMessage.contains("dim") || Option(eq.getCause).exists(
      _.getMessage.contains("dim")))
  }

  test("pq/ivfpq refuse ksub beyond the byte-code range") {
    val emb = SparkT.table("embeddings")
    intercept[IllegalArgumentException] {
      Ann.pqTopK(emb, emb.limit(2), k = 1, m = 8, ksub = 300)
    }
    intercept[IllegalArgumentException] {
      Ann.ivfPqTopK(emb, emb.limit(2), k = 1, nCells = 4, nProbe = 1,
        m = 8, ksub = 257)
    }
  }

  test("filteredTopK: every neighbor shares the query's label; rare class keeps its k") {
    val emb = SparkT.table("embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val got = Ann.filteredTopK(emb, queries, k = 5,
      matchCols = Seq("label"), quantized = true)
    // membership: join back both sides' labels — zero mismatches
    val lbl = emb.select(col("vec_id"), col("label"))
    val mismatches = got
      .join(lbl.select(col("vec_id").as("query_id"), col("label").as("ql")), "query_id")
      .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), "neighbor_id")
      .filter(col("ql") =!= col("nl")).count()
    assert(mismatches == 0)
    // every query with >= 5 in-class candidates gets exactly 5 rows
    val classSizes = emb.groupBy("label").count()
    val expected = queries.select(col("vec_id").as("query_id"), col("label"))
      .join(classSizes, "label")
      .select(col("query_id"), least(lit(5L), col("count") - 1).as("want"))
    val short = got.groupBy("query_id").count()
      .join(expected, "query_id").filter(col("count") =!= col("want")).count()
    assert(short == 0)
    // the filtered result is NOT the post-filtered global top-k: for
    // at least one query, global top-5 contains an out-of-class
    // neighbor (otherwise this test proves nothing)
    val global = Ann.bruteForceTopK(emb, queries, k = 5, quantized = true)
    val crossClass = global
      .join(lbl.select(col("vec_id").as("query_id"), col("label").as("ql")), "query_id")
      .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("nl")), "neighbor_id")
      .filter(col("ql") =!= col("nl")).count()
    assert(crossClass > 0, "fixture too easy: global top-k never leaves the class")
  }

  test("filteredTopK validates matchCols") {
    val emb = SparkT.table("embeddings")
    intercept[IllegalArgumentException] {
      Ann.filteredTopK(emb, emb.limit(2), k = 1, matchCols = Seq.empty)
    }
  }

  test("filteredTopK drops null embeddings on both sides (no NPE, result unchanged)") {
    import spark.implicits._
    val emb = SparkT.table("embeddings")
    val clean = Ann.filteredTopK(emb, emb.filter(col("vec_id") < 10), k = 3,
      matchCols = Seq("label"), quantized = true)
    // null-vector rows in corpus AND queries must behave like the
    // oracle join (a NULL vector matches no rank filter): identical
    // result, no NullPointerException from getSeq(...).toArray
    val nullRows = Seq((900001L, null.asInstanceOf[Seq[Float]], 0))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label").cast(emb.schema("label").dataType))
    val polluted = Ann.filteredTopK(
      emb.select("vec_id", "embedding", "label").unionByName(nullRows),
      emb.filter(col("vec_id") < 10).select("vec_id", "embedding", "label")
        .unionByName(nullRows),
      k = 3, matchCols = Seq("label"), quantized = true)
    assert(polluted.select("query_id", "neighbor_id").except(
      clean.select("query_id", "neighbor_id")).count() == 0)
    assert(clean.select("query_id", "neighbor_id").except(
      polluted.select("query_id", "neighbor_id")).count() == 0)
  }

  test("every tier drops null vectors on both sides (no NPE, rows unchanged)") {
    import spark.implicits._
    def nullVec(id: Long) = Seq((id, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
      .select(col("vec_id").cast(emb.schema("vec_id").dataType),
        col("embedding").cast(emb.schema("embedding").dataType))
    val corpus = emb.select("vec_id", "embedding")
    val qs = queries.select("vec_id", "embedding")
    def indexed(c: org.apache.spark.sql.DataFrame, q: org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ann_null").toString
      Ann.buildIvfPqIndex(c, dir, nCells = 8)
      Ann.ivfPqTopKIndexed(spark, dir, q, c, k = 5, nCells = 8, nProbe = 3)
    }
    val tiers = Seq[(String, (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)](
      "bruteForceTopK" -> ((c, q) => Ann.bruteForceTopK(c, q, k = 5)),
      "pqTopK" -> ((c, q) => Ann.pqTopK(c, q, k = 5)),
      "ivfTopK" -> ((c, q) => Ann.ivfTopK(c, q, k = 5, nCells = 8, nProbe = 3)),
      "ivfPqTopK" -> ((c, q) => Ann.ivfPqTopK(c, q, k = 5, nCells = 8, nProbe = 3)),
      "ivfPqTopKIndexed" -> indexed)
    for ((name, tier) <- tiers) {
      val clean = tier(corpus, qs)
      val polluted = tier(corpus.unionByName(nullVec(900001L)),
        qs.unionByName(nullVec(900002L)))
      assert(clean.exceptAll(polluted).count() == 0 &&
        polluted.exceptAll(clean).count() == 0, s"$name: rows changed")
    }
  }

  test("persisted IVF-PQ index reproduces the inline path row-for-row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    Ann.buildIvfPqIndex(emb, dir, nCells = 8, m = 8, ksub = 16)
    for (rerank <- Seq(0, 30)) {
      val fresh = Ann.ivfPqTopK(emb, queries, k = 5,
        nCells = 8, nProbe = 3, m = 8, ksub = 16, rerank = rerank)
      val indexed = Ann.ivfPqTopKIndexed(spark, dir, queries, emb, k = 5,
        nCells = 8, nProbe = 3, m = 8, ksub = 16, rerank = rerank)
      assert(indexed.exceptAll(fresh).count() == 0 &&
        fresh.exceptAll(indexed).count() == 0,
        s"indexed != fresh at rerank=$rerank")
    }
  }

  test("index layout: codes partitioned by cell, probe filter prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx2").toString
    Ann.buildIvfPqIndex(emb, dir, nCells = 8, m = 8, ksub = 16)
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length > 1 && cellDirs.length <= 8,
      s"expected cell=* partition dirs, got ${cellDirs.map(_.getName).toSeq}")
    // the probe filter the indexed path applies must reach the scan as
    // a partition filter: fewer partitions than the full table
    val pruned = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(0, 1))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan.take(800))
    val full = spark.read.parquet(s"$dir/codes")
    assert(pruned.count() < full.count(),
      "probe filter did not restrict the codes scan")
  }

  test("indexed path refuses parameter drift against the stored params") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx3").toString
    Ann.buildIvfPqIndex(emb, dir, nCells = 8, m = 8, ksub = 16)
    val e = intercept[IllegalArgumentException] {
      Ann.ivfPqTopKIndexed(spark, dir, queries, emb, k = 5,
        nCells = 16, nProbe = 3, m = 8, ksub = 16)
    }
    assert(e.getMessage.contains("params"))
    intercept[IllegalArgumentException] {
      Ann.ivfPqTopKIndexed(spark, dir, queries, emb, k = 5,
        nCells = 8, nProbe = 3, m = 8, ksub = 16, seed = 7L)
    }
  }

  // ---- margin-based mining (ann10) -------------------------------------

  test("marginMine equals a declarative window-rank replay of the definition") {
    val k = 3
    val q = emb.filter(col("vec_id") < 10)
    // replay: micro-quantized cosq matrix → fwd/bwd top-k sums → the
    // same exact-integer margin — the declarative twin of the heap path
    def quant(c: org.apache.spark.sql.Column) =
      transform(c, x => round(x.cast("double") * 1000.0, 0).cast("long"))
    def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val c = emb.select(col("vec_id").as("cid"), quant(col("embedding")).as("cv"))
    val qq = q.select(col("vec_id").as("qid"), quant(col("embedding")).as("qv"))
    val cosq = c.join(qq, col("cid") =!= col("qid"))
      .withColumn("d", idot(col("cv"), col("qv")))
      .withColumn("na", idot(col("cv"), col("cv")))
      .withColumn("nb", idot(col("qv"), col("qv")))
      .withColumn("cq",
        when(col("na") === 0 || col("nb") === 0, lit(0L))
          .otherwise(floor(col("d").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
            * lit(1000000.0) + lit(0.5)).cast("long")))
      .select("qid", "cid", "cq")
    val wF = Window.partitionBy("qid").orderBy(col("cq").desc, col("cid").asc)
    val topk = cosq.withColumn("r", row_number().over(wF)).filter(col("r") <= k)
    val fs = topk.groupBy("qid")
      .agg(sum("cq").as("fwd_sum"), count(lit(1)).as("fwd_cnt"))
    val wB = Window.partitionBy("cid").orderBy(col("cq").desc, col("qid").asc)
    val bs = cosq.withColumn("r", row_number().over(wB)).filter(col("r") <= k)
      .groupBy("cid").agg(sum("cq").as("bwd_sum"), count(lit(1)).as("bwd_cnt"))
    val den = col("bwd_cnt") * col("fwd_sum") + col("fwd_cnt") * col("bwd_sum")
    val wBest = Window.partitionBy("qid").orderBy(col("margin").desc, col("cid").asc)
    val expected = topk.join(fs, "qid").join(bs, "cid")
      .filter(den > 0L)
      .withColumn("margin",
        (lit(2L) * col("fwd_cnt") * col("bwd_cnt") * col("cq")).cast("double")
          / den.cast("double"))
      .withColumn("b", row_number().over(wBest))
      .filter(col("b") === 1 && col("margin") >= 1.0)
      .select(col("qid").as("query_id"), col("cid").as("match_id"),
        (col("cq").cast("double") / lit(1000000.0)).as("cos"), col("margin"))
      .orderBy("query_id")
    val got = Ann.marginMine(emb, q, k = k, minMargin = 1.0).orderBy("query_id")
    assert(got.collect().toSeq == expected.collect().toSeq)
  }

  test("marginMine suppresses hub matches that raw cosine ranks first") {
    import spark.implicits._
    // dim 5: queries on axes 0-3; the hub leans toward ALL queries
    // (cos 0.8 to q0, 0.346 to the rest), the specific match s0 points
    // at q0 only (cos 0.75, residual in dim 4). Raw cosine picks the
    // hub for q0; the margin denominates by both endpoints' k-NN
    // neighborhoods and flips the choice.
    val qs = Seq(
      (0L, Array(1f, 0f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, Array(0.8f, 0.3464f, 0.3464f, 0.3464f, 0f)), // hub
      (101L, Array(0.75f, 0f, 0f, 0f, 0.6614f))           // q0-specific
    ).toDF("vec_id", "embedding")
    val rawBest = Ann.bruteForceTopK(corpus, qs, k = 1, quantized = true)
      .filter(col("query_id") === 0).select("neighbor_id").head().getLong(0)
    assert(rawBest == 100L, "fixture: raw cosine must prefer the hub")
    val mined = Ann.marginMine(corpus, qs, k = 2, minMargin = 0.0)
      .filter(col("query_id") === 0).select("match_id").head().getLong(0)
    assert(mined == 101L, "margin must prefer the specific match")
  }

  test("marginMine edges: self-exclusion, null vectors, tiny corpus, empty inputs") {
    import spark.implicits._
    // ids shared across sides never match themselves; null vectors drop
    // (non-orthogonal pair: a zero cosine would zero the margin
    // denominator, which drops the candidate by contract)
    val side = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.6f, 0.8f)),
      (2L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val got = Ann.marginMine(side, side, k = 5, minMargin = -10.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L) == 1L && got(1L) == 0L) // the only non-self candidate
    // corpus smaller than k: counts weight the margin, no crash
    assert(Ann.marginMine(side.filter(col("vec_id") === 0),
      side.filter(col("vec_id") === 1), k = 50, minMargin = -10.0).count() == 1L)
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Ann.marginMine(empty, side, k = 3).isEmpty)
    assert(Ann.marginMine(side, empty, k = 3).isEmpty)
  }

  test("knnClassify: cluster labels propagate; rank tie-break; null labels; refusals") {
    import spark.implicits._
    // two tight clusters around e1 and e2; labels follow the cluster
    val rows = (
      (0 until 6).map(i => (100L + i, Array(1.0f, 0.01f * i), Some(7))) ++
      (0 until 6).map(i => (200L + i, Array(0.01f * i, 1.0f), Some(9))))
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val q = Seq(
      (1L, Array(0.99f, 0.0f)), // cluster A → 7
      (2L, Array(0.0f, 0.99f))) // cluster B → 9
      .toDF("vec_id", "embedding")
    val got = Ann.knnClassify(corpus, q, k = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 7, 2L -> 9))
    // 2-2 vote split resolves to the label owning the NEAREST neighbor
    val tieCorpus = Seq(
      (1L, Array(1.0f, 0.0f), Some(1)),   // nearest to the query
      (2L, Array(0.9f, 0.1f), Some(2)),
      (3L, Array(0.9f, -0.1f), Some(1)),
      (4L, Array(0.95f, 0.05f), Some(2))) // 2nd nearest
      .toDF("vec_id", "embedding", "label")
    val tq = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val tied = Ann.knnClassify(tieCorpus, tq, k = 4).collect()(0)
    assert(tied.getInt(1) == 1 && tied.getLong(2) == 2L && tied.getInt(3) == 1)
    // null-labeled rows teach nothing: with the nearest vector
    // unlabeled, the vote falls to the labeled rest
    val nullCorpus = Seq(
      (1L, Array(1.0f, 0.0f), None),
      (2L, Array(0.8f, 0.2f), Some(5)),
      (3L, Array(0.8f, -0.2f), Some(5)))
      .toDF("vec_id", "embedding", "label")
    val ng = Ann.knnClassify(nullCorpus, tq, k = 2).collect()(0)
    assert(ng.getInt(1) == 5)
    intercept[IllegalArgumentException] {
      Ann.knnClassify(corpus, q, k = 0)
    }
    intercept[IllegalArgumentException] {
      Ann.knnClassify(q, q, k = 2) // no label column
    }
  }
}
