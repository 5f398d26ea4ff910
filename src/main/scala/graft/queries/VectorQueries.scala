package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.Declared
import graft.expressions.GraftFunctions
import graft.operators.Decontam
import graft.similarity.Ann
import Fixtures._

/** The vector-search family (ann): exact, LSH, IVF, PQ and persisted
  * top-k tiers with their measured recall, filtered search, k-NN
  * labels, semantic decontamination and margin mining. */
private[graft] object VectorQueries {

  /** The query vectors of the exact-search queries: `vec_id < AnnQueries`. */
  private val AnnQueries = 20

  /** An embedding quantized to a BIGINT list at 1e-3, as Ann's
    * quantized scoring mode does. */
  private val quantizedEmbedding =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"

  /** The quantized exact-cosine scoring: CTEs `q` (the query vectors,
    * `qKeys` and quantized `qq`), `c` (the corpus rows `cWhere` picks,
    * `cKeys` and quantized `qv`) and `scored` (`pairKeys` and the dot
    * products d, na, nb of each pair `pairs` yields); [[cosineScore]]
    * turns a `scored` row into its score. */
  private def cosineCtes(qKeys: String, cKeys: String, pairKeys: String, pairs: String,
                         cWhere: String = ""): String =
    s"""q AS (
           SELECT $qKeys
             $quantizedEmbedding AS qq
           FROM embeddings WHERE vec_id < $AnnQueries),
         c AS (
           SELECT $cKeys
             $quantizedEmbedding AS qv
           FROM embeddings$cWhere),
         scored AS (
           SELECT $pairKeys
             CAST(list_dot_product(qv, qq) AS DOUBLE) AS d,
             CAST(list_dot_product(qv, qv) AS DOUBLE) AS na,
             CAST(list_dot_product(qq, qq) AS DOUBLE) AS nb
           FROM $pairs)"""

  /** The oracle of Ann's quantized exact top-k over the query and
    * neighbor pairs of `cosine` (a [[cosineCtes]]): each query's `k`
    * best neighbors by score, ties to the lower neighbor id. */
  private def quantizedTopKOracle(cosine: String, k: Int): String =
    s"""WITH $cosine,
         ranked AS (
           SELECT query_id, neighbor_id,
             $cosineScore AS score
           FROM scored),
         top AS (
           SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
           FROM ranked)
         SELECT query_id, rank, neighbor_id, score FROM top
         WHERE rank <= $k ORDER BY query_id, rank"""

  /** Sign-preserving squared cosine of a [[cosineCtes]] `scored` row,
    * 0 for a zero vector. */
  private val cosineScore = """CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE sign(d) * d * d / (na * nb) END"""

  /** `search(corpus, queries)` over the embeddings, the first
    * [[AnnQueries]] vectors as the queries, ordered by query and rank. */
  private def topK(s: SparkSession, dir: String)(
      search: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    search(emb, emb.filter(col("vec_id") < AnnQueries))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  // the approximate top-10 tiers at their declared parameters: ann2-ann7
  // run them, ann6 measures their recall
  private def lsh(emb: DataFrame, qs: DataFrame): DataFrame =
    Ann.lshTopK(emb, qs, k = 10, nBits = 7, tables = 8, probes = 8)
  private def ivf(emb: DataFrame, qs: DataFrame): DataFrame =
    Ann.ivfTopK(emb, qs, k = 10, nCells = 16, nProbe = 6)
  private def pq(emb: DataFrame, qs: DataFrame): DataFrame =
    Ann.pqTopK(emb, qs, k = 10, m = 8, ksub = 16, rerank = 100)
  private def ivfPq(emb: DataFrame, qs: DataFrame): DataFrame =
    Ann.ivfPqTopK(emb, qs, k = 10, nCells = 16, nProbe = 6, m = 8, ksub = 16, rerank = 100)
  private def pqHi(emb: DataFrame, qs: DataFrame): DataFrame =
    Ann.pqTopK(emb, qs, k = 10, m = 16, ksub = 16, rerank = 250)

  /** The exact top-10 (query_id, neighbor_id) lists the recall gates
    * measure against. */
  private def exactTop10(emb: DataFrame, qs: DataFrame): DataFrame =
    Ann.bruteForceTopK(emb, qs, k = 10, quantized = true)
      .select(col("query_id"), col("neighbor_id"))

  /** (n_queries, recall_at_10): the fraction of each [[exactTop10]]
    * list that `approx` recovers, averaged over the queries. The
    * denominator is the exact list's actual size per query (= 10 when
    * the corpus has ≥ 10 eligible neighbors), so the number stays
    * honest if k or the fixture ever changes. */
  private def recallAt10(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg((count(col("__hit")).cast("double") / count(lit(1))).as("recall"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("recall")), 4).as("recall_at_10"))

  val declared: Seq[Declared] = Seq(

    Declared("ann1_topk", (s, dir) => {
      // the SCALE path: broadcast queries + per-partition bounded heaps
      // (no N×Q score matrix is ever sorted or shuffled), in quantized
      // scoring mode so results are bit-identical to the window-rank
      // SQL twin that serves as the DuckDB oracle. AnnSpec additionally
      // asserts heap-path == SQL-twin equality and that the plan has no
      // corpus×queries join node.
      topK(s, dir)(Ann.bruteForceTopK(_, _, k = 10, quantized = true)
        .select("query_id", "rank", "neighbor_id", "score"))
    },
      Some(quantizedTopKOracle(cosineCtes("vec_id AS query_id,", "vec_id AS neighbor_id,",
        "query_id, neighbor_id,", "c, q WHERE neighbor_id <> query_id"), k = 10))),

    // SRP-LSH with query-directed multiprobe (8 probes/table: base
    // bucket + 7 lowest-margin bit flips) — query-side only, the
    // corpus index stays one bucket per table
    // sweep of bits × tables × probes: 7-bit codes × 8
    // tables × 8 probes clears the 0.5 recall line at BOTH sf0.001
    // (0.615) and sf0.01 (0.600) for the SAME wall cost as the old
    // 8×4×8 config (wider buckets + more tables trade code selectivity
    // for table diversity; candidates stay bucket-bounded)
    Declared("ann2_lsh_topk", (s, dir) => topK(s, dir)(lsh), None),

    // nProbe=6 of 16 cells (sweep: recall 0.545 → 0.660 at sf0.01 for
    // +50% probe volume — the documented recall/cost knob)
    Declared("ann3_ivf", (s, dir) => topK(s, dir)(ivf), None),

    // PQ/ADC with exact rerank of the 10·k ADC shortlist (IVFADC+R —
    // codebook-seeded → rows-only; planted-twin recall and ranking
    // quality are pinned by AnnSpec, measured recall lands in ann6).
    // rerank 50 → 100 (sweep): recall 0.675 → 0.870 at sf0.01; the
    // rerank scan is broadcast-driven and column-pruned, so doubling
    // the shortlist costs ~nothing at any scale
    Declared("ann4_pq", (s, dir) => topK(s, dir)(pq), None),

    // IVF-PQ combined tier: nProbe=6 + 10·k exact rerank (sweep:
    // 0.495 → 0.645 at sf0.01; codebook-seeded → rows-only;
    // planted-twin recall ≥ IVF-alone at equal probe budget is pinned
    // by AnnSpec)
    Declared("ann5_ivfpq", (s, dir) => topK(s, dir)(ivfPq), None),

    // PERSISTED IVF-PQ index (the dd14 incremental pattern for vector
    // search): train + encode + write ONCE, then every query batch
    // reads codebooks (KBs) and ONLY the probed cell partitions of
    // the codes table — partition pruning turns probe selectivity
    // into I/O selectivity, which the inline tier cannot offer. Same
    // parameters as ann5, so the result is row-identical to it by
    // shared-trainer construction (spec-pinned; codebook-seeded →
    // rows-only, like every approximate tier).
    Declared("ann9_ivfpq_index", (s, dir) => topK(s, dir) { (emb, qs) =>
      val index = scratchPath("graft_ann9", dir)
      Ann.buildIvfPqIndex(emb, index, nCells = 16, m = 8, ksub = 16)
      Ann.ivfPqTopKIndexed(s, index, qs,
        emb, k = 10, nCells = 16, nProbe = 6, m = 8, ksub = 16, rerank = 100)
    },
      None),

    // RETRIEVAL-GRADE tier (r10 task #4): the ≥0.9-recall config the
    // cost curve actually supports — PQ m=16 (finer codes halve the
    // per-subspace quantization error) + 25·k exact rerank. Swept
    // recall@10: 1.000 / 0.995 / 0.960 at sf0.001 / 0.01 / 0.1 for
    // 0.71 s at sf0.1 — ~flat vs the 0.870 m=8/rerank=100 tier,
    // because both the ADC scan and the broadcast-driven rerank scan
    // are corpus-linear and the doubled code size only grows the
    // shuffled candidate rows (k·10 per query), not the scan. At a
    // growing corpus the knob that preserves recall is rerank ∝
    // shortlist error, not m — documented in ann6's floor spec.
    // Codebook-seeded → rows-only, like every approximate tier.
    Declared("ann7_pq_hi", (s, dir) => topK(s, dir)(pqHi), None),

    Declared("ann6_recall", (s, dir) => {
      // MEASURED recall gate for the approximate ANN tiers: fraction
      // of ann1's exact top-10 recovered per query (fixed seeds, same
      // params as the declared ann2/ann5 queries), averaged over the
      // query set. Declared so the recall number lands in the
      // driver's correctness dump each round instead of only inside
      // ScalaTest; rows-only because the LSH/codebook seeds are
      // engine-specific (AnnSpec pins per-method floors).
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < AnnQueries)
      // the exact list is consumed by all five recall branches; left
      // LAZY deliberately — measured: an eager localCheckpoint here
      // serializes the brute-force scan in front of the tiers' own
      // driver-side training phases, while the lazy branches overlap
      // with them (3.14 s → 3.56 s when checkpointed)
      val exact = exactTop10(emb, qs)
      Seq[(String, (DataFrame, DataFrame) => DataFrame)]("ann2_lsh" -> lsh, "ann3_ivf" -> ivf,
          "ann4_pq" -> pq, "ann5_ivfpq" -> ivfPq, "ann7_pq_hi" -> pqHi)
        .map { case (name, tier) => recallAt10(exact, tier(emb, qs))
          .select(lit(name).as("method"), col("n_queries"), col("recall_at_10")) }
        .reduce(_ unionByName _)
        .orderBy(col("method").asc)
    },
      None),

    Declared("ann8_filtered", (s, dir) => {
      // metadata-FILTERED exact vector search: each query retrieves
      // only within its own label class (the "nearest neighbors in
      // this language/license/source" shape). Post-filtering a global
      // top-k loses neighbors for rare classes; this is one corpus
      // scan with per-class query buckets + bounded heaps. Quantized
      // scoring ⇒ bit-identical to the SQL twin, so the oracle is
      // ann1's replay with the label join predicate added.
      topK(s, dir)(Ann.filteredTopK(_, _, k = 5, matchCols = Seq("label"), quantized = true)
        .select("query_id", "rank", "neighbor_id", "score"))
    },
      Some(quantizedTopKOracle(cosineCtes("vec_id AS query_id, label,",
        "vec_id AS neighbor_id, label,", "query_id, neighbor_id,",
        "c JOIN q ON c.label = q.label WHERE neighbor_id <> query_id"), k = 5))),

    Declared("ann12_knn_classify", (s, dir) => {
      // k-NN label propagation: each query labeled by majority vote
      // of its 10 nearest corpus neighbors — the semi-supervised
      // curation baseline (hand labels fan out through embedding
      // space). Quantized scoring (the ann1 bit-parity contract)
      // makes neighbor sets engine-identical; ties resolve by
      // (votes desc, best-rank asc, label asc), all deterministic,
      // so the oracle replays membership AND the vote.
      val emb = t(s, dir, "embeddings")
      graft.similarity.Ann.knnClassify(emb,
          emb.filter(col("vec_id") < AnnQueries).select("vec_id", "embedding"),
          k = 10)
        .orderBy(col("query_id").asc)
    },
      // the ann1 quantized-scoring replay + labeled vote: membership,
      // votes, best rank and the three-key tie-break are all exact
      Some(raw"""WITH ${cosineCtes("vec_id AS query_id,", "vec_id AS neighbor_id, label,",
             "query_id, neighbor_id, label,", "c, q WHERE neighbor_id <> query_id")},
         ranked AS (
           SELECT query_id, neighbor_id, label,
             $cosineScore AS score
           FROM scored),
         top AS (
           SELECT query_id, neighbor_id, label,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id ASC) AS rank
           FROM ranked),
         votes AS (
           SELECT query_id, label,
             CAST(count(*) AS BIGINT) AS votes,
             CAST(min(rank) AS INTEGER) AS best_rank
           FROM top WHERE rank <= 10 AND label IS NOT NULL
           GROUP BY 1, 2),
         win AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY votes DESC, best_rank ASC, label ASC) AS rn
           FROM votes)
         SELECT query_id, label, votes, best_rank FROM win
         WHERE rn = 1 ORDER BY query_id""")),

    Declared("ann11_sem_decontam", (s, dir) => {
      // EMBEDDING-level decontamination: training vectors whose best
      // quantized cosine against the benchmark set (vec_id < 20)
      // clears the threshold — the semantic screen that catches
      // paraphrased test leakage n-gram probes (txt10/txt15/txt22)
      // cannot see. Benchmark broadcasts, corpus streams through one
      // shuffle-free scan, output is flagged-only; the ann1 quantized
      // arithmetic makes every (id, best bench, score) row replay.
      val emb = t(s, dir, "embeddings")
      Decontam.semantic(emb.filter(col("vec_id") >= AnnQueries),
          emb.filter(col("vec_id") < AnnQueries), threshold = 0.1)
        .orderBy(col("vec_id").asc)
    },
      // margin mining: the full cosq matrix is quadratic HERE (the
      // oracle's job is the definition, not the plan); cq is
      // floor(cos·1e6 + 0.5) — floor, not round, because round-half
      // semantics differ across engines at negative halves — and the
      // margin is one double division of exact BIGINTs, so value AND
      // best-benchmark-match per corpus vector (score DESC, bench ASC
      // row_number), threshold filter — the ann1 quantized arithmetic
      Some(raw"""WITH ${cosineCtes("vec_id AS bench_id,", "vec_id,", "c.vec_id, q.bench_id,", "c, q",
             cWhere = s" WHERE vec_id >= $AnnQueries")},
         ranked AS (
           SELECT vec_id, bench_id,
             $cosineScore AS score,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY $cosineScore DESC,
                 bench_id ASC) AS rn
           FROM scored)
         SELECT vec_id, bench_id, score FROM ranked
         WHERE rn = 1 AND score >= 0.1 ORDER BY vec_id""")),

    Declared("ann10_margin_mine", (s, dir) => {
      // margin-based nearest-match mining (ratio margin, Artetxe &
      // Schwenk 2019): best corpus match per query by cosine
      // normalized against BOTH endpoints' k-NN neighborhoods — the
      // hub-suppressing pair miner (bitext mining, cross-dump record
      // matching) that a raw cosine threshold gets wrong. One corpus
      // scan: micro-quantized cosines feed per-query forward heaps
      // AND the per-row backward top-k statistic; the margin is one
      // double division of exact integers, so DuckDB replays value
      // and rank order bit-for-bit.
      val emb = t(s, dir, "embeddings")
      Ann.marginMine(emb, emb.filter(col("vec_id") < AnnQueries), k = 4,
          minMargin = 1.0)
        .orderBy(col("query_id").asc)
    },
      // rank order replay bit-for-bit
      Some(raw"""WITH q AS (
           SELECT vec_id AS qid,
             $quantizedEmbedding AS qv
           FROM embeddings WHERE vec_id < $AnnQueries),
         c AS (
           SELECT vec_id AS cid,
             $quantizedEmbedding AS cv
           FROM embeddings),
         cosq AS (
           SELECT qid, cid,
             CASE WHEN list_dot_product(cv, cv) = 0 OR list_dot_product(qv, qv) = 0
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(CAST(list_dot_product(cv, qv) AS DOUBLE)
                    / (sqrt(CAST(list_dot_product(cv, cv) AS DOUBLE))
                       * sqrt(CAST(list_dot_product(qv, qv) AS DOUBLE)))
                    * 1000000.0 + 0.5) AS BIGINT) END AS cq
           FROM c, q WHERE cid <> qid),
         fwd AS (
           SELECT qid, cid, cq,
             row_number() OVER (PARTITION BY qid ORDER BY cq DESC, cid ASC) AS r
           FROM cosq),
         topk AS (SELECT qid, cid, cq FROM fwd WHERE r <= 4),
         fs AS (SELECT qid, sum(cq) AS fwd_sum, count(*) AS fwd_cnt
                FROM topk GROUP BY qid),
         bwd AS (
           SELECT cid, cq,
             row_number() OVER (PARTITION BY cid ORDER BY cq DESC, qid ASC) AS r
           FROM cosq),
         bs AS (SELECT cid, sum(cq) AS bwd_sum, count(*) AS bwd_cnt
                FROM bwd WHERE r <= 4 GROUP BY cid),
         cand AS (
           SELECT t.qid, t.cid, t.cq,
             CAST(2 * fs.fwd_cnt * bs.bwd_cnt * t.cq AS DOUBLE)
               / CAST(bs.bwd_cnt * fs.fwd_sum + fs.fwd_cnt * bs.bwd_sum AS DOUBLE) AS margin
           FROM topk t
           JOIN fs ON t.qid = fs.qid
           JOIN bs ON t.cid = bs.cid
           WHERE bs.bwd_cnt * fs.fwd_sum + fs.fwd_cnt * bs.bwd_sum > 0),
         best AS (
           SELECT qid, cid, cq, margin,
             row_number() OVER (PARTITION BY qid ORDER BY margin DESC, cid ASC) AS b
           FROM cand)
         SELECT qid AS query_id, cid AS match_id,
           CAST(cq AS DOUBLE) / 1000000.0 AS cos, margin
         FROM best WHERE b = 1 AND margin >= 1.0
         ORDER BY query_id""")),

    Declared("ann13_pca_recall", (s, dir) => {
      // MEASURED recall gate for PCA-accelerated search (the FAISS
      // PCA/OPQ preprocessing, deployed the production way: a COARSE
      // shortlist in the reduced space + exact rerank in the original
      // space — the repo's sketch-then-exact-verify discipline, so
      // recall depends on shortlist MEMBERSHIP, not on 16 dims
      // ordering the top-10 correctly). Fit = exact integer Gram pass
      // + deterministic driver Jacobi; projection scan-side; the
      // rerank joins the ≤100·Q shortlist back to raw vectors by id
      // (one broadcast, one column-pruned scan — nothing quadratic).
      // Also reports the captured-variance fraction (the fixture's
      // flat spectrum: ~0.38 at 16/64 — which is exactly why the
      // rerank deployment is the one that works). Rows-only by
      // design (eigenvectors are engine-internal; PcaSpec pins the
      // floor).
      val emb = t(s, dir, "embeddings")
      val full = graft.similarity.Pca.fit(emb, "embedding", d = 64, k = 64)
      val model = graft.similarity.Pca.PcaModel(full.means,
        full.components.take(16), full.variances.take(16))
      val varCaptured = model.variances.sum / full.variances.sum
      val proj = graft.similarity.Pca.project(emb, "embedding", model, "pca")
        .select(col("vec_id"), col("pca").cast("array<float>").as("embedding"))
      val short = Ann.bruteForceTopK(proj, proj.filter(col("vec_id") < AnnQueries),
          k = 100)
        .select(col("query_id"), col("neighbor_id"))
      val qv = emb.filter(col("vec_id") < AnnQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      val reranked = emb
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("__nv"))
        .join(broadcast(short), Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("score",
          GraftFunctions.graft_cosine(col("__nv"), col("__qv")))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("score").desc, col("neighbor_id").asc)))
        .filter(col("rank") <= 10)
      recallAt10(exactTop10(emb, emb.filter(col("vec_id") < AnnQueries)), reranked)
        .select(lit("pca16_short100_rerank").as("method"), col("n_queries"),
          col("recall_at_10"),
          round(lit(varCaptured), 4).as("var_captured"))
    },
      None)
  )
}
