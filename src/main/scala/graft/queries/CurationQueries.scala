package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftFrame
import graft.api.GraftFrame.asc
import graft.SparkEntry.Declared
import graft.dedup.Dedup
import graft.functions.textfns
import graft.operators.{Decontam, Shuffle}
import graft.streaming.Streams
import Fixtures._

/** The curation family (cur): scoring, mixing, splitting and sampling
  * a corpus, profiling and drift gates, robust statistics, graph rank,
  * covariance, and the composed pretraining pipeline (cur24). */
private[graft] object CurationQueries {

  /** cur24's corpus: documents with every stage's work planted — exact
    * copies of the odd docs at [[AltOffset]], [[nearDupCopies]] and
    * [[benchSplices]]; `source` carried. */
  private def pipelineCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir, PipelineCols)
    d.unionByName(plantAt(d.filter(col("doc_id") % 2 === 1), PipelineCols, AltOffset))
      .unionByName(nearDupCopies(d))
      .unionByName(benchSplices(d))
  }

  private val PipelineCols = Seq("doc_id", "source", "text")

  private val pipelineCorpusSql = unionAll(docsSql(PipelineCols),
    plantAtSql(PipelineCols, AltOffset, where = " WHERE doc_id % 2 = 1"),
    nearDupCopiesSql(PipelineCols), benchSplicesSql(PipelineCols))

  /** This area's planted fixture, as (name, builder, twin) —
    * DeclaredSpec's parity check. */
  private[graft] val plantedTwins: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(("pipeline corpus", pipelineCorpus, pipelineCorpusSql))

  /** cur1's scoring stage: each doc's language, quality and token
    * count, keeping the docs of quality ≥ 0.5 in a known language. */
  private def scored(docs: DataFrame): DataFrame =
    docs.withColumn("lang", textfns.langId(col("text")))
      .withColumn("quality", textfns.qualityScore(col("text")))
      .withColumn("n_tokens", textfns.wsTokenCount(col("text")))
      .filter(col("quality") >= 0.5 && col("lang") =!= "und")

  /** SQL twin of [[scored]] over the `keys` columns of `from`: CTEs
    * `sc`, `scored` and `f`, the docs kept. */
  private def scoredCtes(from: String, keys: String): String =
    s"""sc AS (
           SELECT $keys,
             $langHits,
             $wsTokens AS n_tokens,
             $qualityHits
           FROM $from),
         scored AS (
           SELECT $keys, n_tokens,
             $langCase AS lang,
             ${qualitySql("n_tokens")} AS quality
           FROM sc),
         f AS (SELECT * FROM scored WHERE quality >= 0.5 AND lang <> 'und')"""

  /** cur3's temperature mixing rates: each source's doc count `n` in
    * `docs` and its keep rate, least(1, sqrt(smallest count / n)). */
  private def mixRates(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    counts.crossJoin(broadcast(counts.agg(min(col("n")).as("c_min"))))
      .withColumn("rate", least(lit(1.0),
        sqrt(col("c_min").cast("double") / col("n").cast("double"))))
  }

  /** cur3's deterministic keep test of a doc against its source's
    * `rate`: an affine hash of doc_id mod the Mersenne prime 2^31-1,
    * uniform in [0, p), below the rate's share of p. OVERFLOW-SAFE by
    * construction: (id % p) < 2^31 times the 2^30-ish multiplier stays
    * under 2^63 — a raw 64-bit Knuth multiply would silently wrap in
    * Spark and raise in DuckDB for ids past ~3.5e9, exactly the 100 TB
    * regime. Ids p apart share a decision; p ≈ 2.1e9 makes that
    * statistically inert. SQL twin: [[mixKeepSql]]. */
  private def mixKeep: Column =
    ((col("doc_id") % lit(2147483647L)) * lit(1103515245L) + lit(12345L)) % lit(2147483647L) <
      floor(col("rate") * lit(2147483647.0)).cast("long")

  /** `d` with cur4's reproducible 80/10/10 `split` of its doc_id:
    * Shuffle.decisionHash at the split constants, then the thresholds
    * floor(0.8p) and floor(0.9p) for p = 2^31-1. SQL twin:
    * [[splitCase]]. */
  private def withSplit(d: DataFrame): DataFrame =
    d.withColumn("__sh", Shuffle.decisionHash(col("doc_id"), 48271L, 11213L))
      .withColumn("split",
        when(col("__sh") < lit(1717986917L), lit("train"))
          .when(col("__sh") < lit(1932735282L), lit("valid"))
          .otherwise(lit("test")))

  /** The leakage-safe split of `d` with `pairs` as its duplicate
    * clusters: docs and clusters per split (cur6, cur6b). */
  private def clusterSplit(d: DataFrame, pairs: DataFrame): DataFrame =
    Dedup.leakageSafeSplit(d, "doc_id", pairs)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"))
      .orderBy(col("split").asc)

  /** The oracle of [[clusterSplit]] over a CTE `rep` (doc_id, rep):
    * cur4's hash chain on rep. */
  private val clusterSplitSql =
    s"""${decisionHashCtes("rep", "rep", "rep", "h")}
         SELECT ${splitCase("hv")} AS split,
           count(*) AS n_docs, count(DISTINCT rep) AS n_clusters
         FROM h GROUP BY 1 ORDER BY 1"""

  /** cur15/cur21's snapshots: (source, n_chars) of the documents, and
    * the current one with src5's n_chars inflated by 10%. */
  private def src5Inflated(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents").select(col("source"), col("n_chars"))
    (d, d.select(col("source"),
      when(col("source") === "src5", col("n_chars") * 1.1)
        .otherwise(col("n_chars").cast("double")).as("n_chars")))
  }

  /** The oracle CTEs of [[src5Inflated]]'s per-source digests: `u`
    * (each snapshot's n_chars through `digest` as column `v`, flagged
    * b for base and c for current), `d` (the counts cb and cc per
    * source and value) and `t` (the totals nb and nc of each source
    * both snapshots hold). */
  private def src5DigestCtes(v: String, digest: String => String): String = {
    val raw = "CAST(n_chars AS DOUBLE)"
    s"""u AS (
           SELECT source, ${digest(raw)} AS $v, 1 AS b, 0 AS c
           FROM documents WHERE n_chars IS NOT NULL
           UNION ALL
           SELECT source,
             ${digest(s"(CASE WHEN source = 'src5' THEN $raw * 1.1 ELSE $raw END)")}, 0, 1
           FROM documents WHERE n_chars IS NOT NULL),
         d AS (SELECT source, $v, sum(b) AS cb, sum(c) AS cc
               FROM u GROUP BY 1, 2),
         t AS (SELECT source, CAST(sum(cb) AS BIGINT) AS nb,
                 CAST(sum(cc) AS BIGINT) AS nc
               FROM d GROUP BY 1 HAVING sum(cb) > 0 AND sum(cc) > 0)"""
  }

  /** The cur24/cur24b integration pipeline — the full pretraining-
    * data build over documents. `materialize = false` is the declared
    * ONE-lazy-plan composition gate (cur24); `true` applies the
    * production persist points USAGE documents: every frame consumed
    * by more than one downstream stage (exact-dedup output, near-dedup
    * survivors, decontaminated frame) localCheckpoints once, removing
    * the shared-subtree recompute while keeping rows bit-identical
    * (cur24b shares cur24's oracle). */
  private def pipelineIntegration(s: SparkSession, dir: String,
                                  materialize: Boolean): DataFrame = {
    def mat(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(true) else df
    // THE integration query: the full pretraining-data build as ONE
    // lazy plan over documents — score (txt3/cur1 kernels) → exact
    // dedup (dd1) → near dedup (dd7's 7-gram Jaccard pairs →
    // clusters → min-id survivors) → decontaminate (txt10's 5-gram
    // containment vs a benchmark set) → temperature mixing (cur3's
    // deterministic per-source downsample) → reproducible split
    // (cur4/cur6 constants). Each stage is individually declared
    // elsewhere; composing them catches cross-operator contract
    // drift (column carrying, null conventions, naming) that no
    // per-operator query can. The fixture (pipelineCorpus) plants
    // work for every stage: exact copies, padded near-dups and
    // benchmark splices — the established dd/txt fixtures. Scale
    // shape: scoring is scan-side, exact dedup shuffles fingerprints,
    // the pair graph shuffles shingle digests, decontamination probes
    // a broadcast benchmark, mixing joins a broadcast rate table,
    // and the split is scan-side hashing — text itself crosses an
    // exchange only in the pair-generation stage. Post-dedup, every survivor IS
    // its cluster's min-id representative, so the leakage-safe
    // cluster split degenerates to the per-doc hash with the cur4
    // constants — a whole duplicate class still lands in one split
    // because only its representative remains.
    val exs = mat(Dedup.exact(scored(pipelineCorpus(s, dir)), "text", "doc_id"))
    val pairs = Dedup.ngramJaccardPairs(exs, "doc_id", "text",
      shingleN = 7, threshold = 0.5)
    val nd = mat(Dedup.dedupNear(exs, "doc_id", pairs))
    val bench = docs(s, dir, PipelineCols).filter(col("doc_id") < BenchDocs)
    val flagged = Decontam.contaminated(nd, bench, "doc_id", "text",
        threshold = 0.25, shingleN = 5)
      .select("doc_id")
    val clean = mat(nd.join(flagged, Seq("doc_id"), "left_anti"))
    val mixed = clean.join(broadcast(mixRates(clean).select("source", "rate")), "source")
      .filter(mixKeep)
    withSplit(mixed)
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy(col("source").asc, col("split").asc)
  }

  /** textfns.qualityScore over [[qualityHits]] and the token count
    * column `nTok`. */
  private def qualitySql(nTok: String): String =
    s"""least(CAST($nTok AS DOUBLE) / 100.0, 1.0) * 0.5
               + least(CAST(stop_hits AS DOUBLE) / CAST(greatest($nTok, 1) AS DOUBLE) * 5.0, 1.0) * 0.3
               + (1.0 - least(CAST(punct_hits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) * 10.0, 1.0)) * 0.2"""

  /** cur3's deterministic keep test ([[mixKeep]]) for the doc `alias`, against its
    * source's rate `r.rate`: an affine hash mod 2^31-1 below the rate's
    * share of it. */
  private def mixKeepSql(alias: String): String =
    s"""(($alias.doc_id % 2147483647) * 1103515245 + 12345) % 2147483647
                 < CAST(floor(r.rate * 2147483647.0) AS BIGINT)"""

  /** The split of [[withSplit]] from the hash column `h`. */
  private def splitCase(h: String): String =
    s"""CASE WHEN $h < 1717986917 THEN 'train'
                WHEN $h < 1932735282 THEN 'valid'
                ELSE 'test' END"""

  /** cur25/cur26's scale: each embedding value quantized at
    * 1/GramScale. */
  private val GramScale = 10000L

  /** cur25/cur26's exact integer Gram statistics by the quadratic
    * definition (an index explode and a per-vector self-join): CTEs `q`
    * (each non-null embedding floor-quantized at 1/[[GramScale]]), `e`
    * (one row per vector and dimension), `m` (the sum `mi` of each
    * dimension i), `p` (the product sum `s` of each pair i ≤ j) and
    * `nn` (the vector count `n`). */
  private val gramCtes =
    s"""q AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * ${GramScale.toDouble} + 0.5) AS BIGINT)) AS qv
           FROM embeddings WHERE embedding IS NOT NULL),
         e AS (
           SELECT vec_id, ix.i AS i, qv[ix.i + 1] AS qval
           FROM q, (SELECT unnest(range(0, 64)) AS i) ix),
         m AS (SELECT i, CAST(sum(qval) AS BIGINT) AS mi FROM e GROUP BY 1),
         p AS (
           SELECT a.i AS i, b.i AS j, CAST(sum(a.qval * b.qval) AS BIGINT) AS s
           FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
           GROUP BY 1, 2),
         nn AS (SELECT count(*) AS n FROM q)"""

  /** The oracle of cur24 and cur24b. */
  // the COMPOSED pipeline oracle: every stage (cur1 scoring, dd1
  // exact dedup, dd7 near-dedup CC, txt10 containment, cur3 mixing,
  // cur6's split hash chain) replayed back to back over cur24's
  // planted corpus, composed from the fragments the per-stage
  // oracles use, so a divergence localizes to the stage whose
  // fragment it is
  private val pipelineOracle =
    raw"""WITH RECURSIVE all_docs AS (
           $pipelineCorpusSql),
         ${scoredCtes("all_docs", "doc_id, source, text")},
         exs AS (
           SELECT * FROM (
             SELECT *, min(doc_id) OVER (
               PARTITION BY $normText) AS keep
             FROM f)
           WHERE doc_id = keep),
         ${wordJaccardCtes(7, "exs")},
         ${jaccardPairsCte(0.5, "prs")},
         ${closureCtes("prs")},
         nd AS (SELECT * FROM exs
                WHERE $survivor),
         bw AS (
           ${wordsSql(s"documents WHERE doc_id < $BenchDocs", "")}),
         bsh AS (
           ${shinglesSql(5, "bw", key = "")}),
         nw AS (
           ${wordsSql("nd")}),
         d5 AS (
           ${shinglesSql(5, "nw")}),
         tot5 AS (SELECT doc_id, count(*) AS n_sh5 FROM d5 GROUP BY 1),
         hit5 AS (SELECT doc_id, count(*) AS n_hits FROM d5
                  WHERE s IN (SELECT s FROM bsh) GROUP BY 1),
         contam AS (
           SELECT t.doc_id FROM tot5 t LEFT JOIN hit5 h USING (doc_id)
           WHERE ${containment("n_sh5")} >= 0.25),
         clean AS (SELECT * FROM nd
                   WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         counts AS (SELECT source, count(*) AS c FROM clean GROUP BY 1),
         cmin AS (SELECT min(c) AS m FROM counts),
         rates AS (SELECT source,
             least(1.0, sqrt(CAST((SELECT m FROM cmin) AS DOUBLE) / CAST(c AS DOUBLE))) AS rate
           FROM counts),
         mixed AS (
           SELECT cl.doc_id, cl.source, cl.n_tokens, cl.quality
           FROM clean cl JOIN rates r USING (source)
           WHERE ${mixKeepSql("cl")}),
         ${decisionHashCtes("mixed", "doc_id", "*", "hh")}
         SELECT source,
           ${splitCase("hv")} AS split,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           round(avg(quality), 4) AS avg_quality
         FROM hh GROUP BY 1, 2 ORDER BY 1, 2"""

  val declared: Seq[Declared] = Seq(

    Declared("cur1_curation", (s, dir) => {
      // end-to-end corpus curation: score → filter → exact-dedup →
      // per-language stats. The whole pipeline is ONE Catalyst plan:
      // scoring runs scan-side in codegen, the filter prunes before the
      // dedup shuffle, and the dedup window + final aggregate are the
      // only two shuffles.
      GraftFrame(Dedup.exact(scored(t(s, dir, "documents").select(col("doc_id"), col("text"))),
          "text", "doc_id"))
        .groupBy("lang")
        .summarise(
          "n_docs" -> count(lit(1)),
          "sum_tokens" -> sum(col("n_tokens")).cast("bigint"),
          "avg_quality" -> round(avg(col("quality")), 4))
        .arrange(asc("lang"))
        .df
    },
      Some(raw"""WITH ${scoredCtes("documents", "doc_id, text")},
         dedup AS (
           SELECT min(doc_id) AS doc_id,
             min_by(lang, doc_id) AS lang,
             min_by(n_tokens, doc_id) AS n_tokens,
             min_by(quality, doc_id) AS quality
           FROM f GROUP BY $normText)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           round(avg(quality), 4) AS avg_quality
         FROM dedup GROUP BY lang ORDER BY lang""")),

    Declared("cur2_source_stats", (s, dir) =>
      // domain-level curation stats (source ≈ domain): volume, token
      // mass, quality, and dedup rate per source — the aggregates a
      // domain allowlist/blocklist decision reads. Scoring and
      // fingerprinting run scan-side; one shuffle for the aggregate
      // (count-distinct expands to a two-phase partial aggregate).
      t(s, dir, "documents")
        .withColumn("quality", textfns.qualityScore(col("text")))
        .withColumn("fp", textfns.contentFingerprint(col("text")))
        .withColumn("n_tokens", textfns.wsTokenCount(col("text")))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
          round(avg(col("quality")), 4).as("avg_quality"))
        .withColumn("unique_ratio",
          round(col("n_unique").cast("double") / col("n_docs").cast("double"), 4))
        .orderBy(col("source").asc),
      Some(raw"""WITH s AS (
           SELECT doc_id, text, source,
             $wsTokens AS n_words,
             $qualityHits
           FROM documents),
         scored AS (
           SELECT source, text,  n_words,
             ${qualitySql("n_words")} AS quality
           FROM s)
         SELECT source,
           count(*) AS n_docs,
           count(DISTINCT $normText) AS n_unique,
           CAST(sum(n_words) AS BIGINT) AS sum_tokens,
           round(avg(quality), 4) AS avg_quality,
           round(CAST(count(DISTINCT $normText) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 4) AS unique_ratio
         FROM scored GROUP BY source ORDER BY source""")),

    Declared("cur3_mixture", (s, dir) => {
      // temperature-style data mixing: downsample each source toward
      // the smallest one with rate (c_min/c_s)^0.5, selecting rows by
      // a DETERMINISTIC multiplicative hash of doc_id — reproducible
      // across engines and runs (seeded RNG samplers are not), so the
      // kept subset is itself oracle-checkable. Rates come from one
      // aggregate; the keep-filter is scan-side arithmetic against a
      // broadcast rate table.
      val docs = t(s, dir, "documents")
      val rates = mixRates(docs)
      val kept = docs.select("doc_id", "source")
        .join(broadcast(rates.select("source", "rate")), "source")
        .filter(mixKeep)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n").as("n_before"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          round(col("rate"), 4).as("rate"))
        .orderBy(col("source").asc)
    },
      Some(raw"""WITH counts AS (
           SELECT source, count(*) AS n_before FROM documents GROUP BY 1),
         cmin AS (SELECT min(n_before) AS c_min FROM counts),
         rates AS (
           SELECT source, n_before,
             least(1.0, sqrt(CAST(c_min AS DOUBLE) / CAST(n_before AS DOUBLE))) AS rate
           FROM counts, cmin),
         kept AS (
           SELECT d.source, count(*) AS n_kept
           FROM documents d JOIN rates r USING (source)
           WHERE ${mixKeepSql("d")}
           GROUP BY 1)
         SELECT r.source, r.n_before,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           round(r.rate, 4) AS rate
         FROM rates r LEFT JOIN kept k USING (source)
         ORDER BY source""")),

    Declared("cur4_split", (s, dir) =>
      // reproducible 80/10/10 train/valid/test split: assignment by an
      // overflow-safe avalanche hash (Shuffle.decisionHash — one
      // affine step is monotone below id ~35590 and put 100% of every
      // fixture corpus in "train"; the xorshift
      // rounds make threshold decisions uniform at every id range), so
      // any engine (and any rerun) reproduces the exact membership —
      // a seeded randomSplit cannot cross engines. The constants
      // (MINSTD 48271 / 11213) deliberately DIFFER from cur3's sampler
      // hash: with the same constants the split would be perfectly
      // correlated with the mixture keep-filter. Thresholds are
      // floor(0.8p)/floor(0.9p) for p = 2^31-1, hardcoded so both
      // sides agree to the integer.
      withSplit(t(s, dir, "documents"))
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source").asc, col("split").asc),
      // the avalanche chain replays q47's proven xor/shift syntax with
      // the splitter's own constants
      Some(s"""WITH ${decisionHashCtes("documents", "doc_id", "source", "h")}
         SELECT source,
           ${splitCase("hv")} AS split,
           count(*) AS n_docs
         FROM h GROUP BY 1, 2 ORDER BY source, split""")),

    Declared("cur5_resample", (s, dir) => {
      // quality-weighted importance resampling: each doc survives with
      // probability equal to its quality score — the per-ROW-rate
      // counterpart to cur3's per-source rates (upweights clean text
      // without a hard threshold). Same deterministic avalanche-hash
      // sampler discipline (decisionHash: the pre-r13 single affine
      // step with the 69069 multiplier was monotone over the whole
      // fixture id range, making the keep decision correlate with
      // doc_id instead of being uniform); constants (69069/362437)
      // differ from BOTH cur3's sampler and cur4's splitter so the
      // three decisions are pairwise independent. Scan-side end to
      // end: score (fused kernel), hash, and keep-filter all fold
      // into the scan; only (source, counts) reach the one aggregate
      // shuffle.
      val docs = t(s, dir, "documents")
        .withColumn("q", textfns.qualityScore(col("text")))
        .withColumn("h", Shuffle.decisionHash(col("doc_id"), 69069L, 362437L))
      val kept = docs
        .filter(col("h") < floor(col("q") * lit(2147483647.0)).cast("long"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"),
          round(avg(col("q")), 4).as("avg_q_kept"))
      docs.groupBy("source").agg(count(lit(1)).as("n_before"),
          round(avg(col("q")), 4).as("avg_q_before"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_before"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          col("avg_q_before"), col("avg_q_kept"))
        .orderBy(col("source").asc)
    },
      Some(raw"""WITH s AS (
           SELECT doc_id, source,
             $wsTokens AS n_words,
             $qualityHits
           FROM documents),
         scored0 AS (
           SELECT doc_id, source,
             ${qualitySql("n_words")} AS q
           FROM s),
         ${decisionHashCtes("scored0", "doc_id", "doc_id, source, q", "scored", 69069L, 362437L)},
         kept AS (
           SELECT source, count(*) AS n_kept, round(avg(q), 4) AS avg_q_kept
           FROM scored WHERE hv < CAST(floor(q * 2147483647.0) AS BIGINT)
           GROUP BY 1),
         base AS (
           SELECT source, count(*) AS n_before, round(avg(q), 4) AS avg_q_before
           FROM scored GROUP BY 1)
         SELECT b.source, b.n_before,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           b.avg_q_before, k.avg_q_kept
         FROM base b LEFT JOIN kept k USING (source)
         ORDER BY b.source""")),

    Declared("cur6_cluster_split", (s, dir) => {
      // LEAKAGE-PROOF split: cur4 hashes each doc_id, so two copies of
      // the same text can straddle train and eval — the eval number
      // then scores memorization. Here the assignment unit is the
      // duplicate CLUSTER: every doc hashes its cluster representative
      // (min id over the exact-dup component), so a whole duplicate
      // class lands in one split by construction; singletons use the
      // SAME constants as cur4 and split identically. The oracle
      // replays rep = min(doc_id) OVER (PARTITION BY normalized text)
      // — exact-dup clusters are SQL-expressible, which is why the
      // declared query uses them; LSH near-dup pairs plug into the
      // same leakageSafeSplit for the sub-1.0 tiers (spec-pinned).
      val d = docsWithExactDups(s, dir)
      clusterSplit(d, Dedup.exactDupMap(d, "text", "doc_id")
        .select(col("keep_id").as("id_a"), col("dup_id").as("id_b")))
    },
      // exact-dup clusters are SQL-expressible (normalized-text groups,
      // the dd1 equivalence), so the leakage-proof split replays fully:
      // rep = min id over the text group, then cur4's affine hash on rep
      Some(raw"""WITH all_docs AS (
           $exactDupsSql),
         rep AS (
           -- null-text rows are each their OWN cluster (the Spark side
           -- keys them by their own id via fpOrOwnId); the 't:'/'id:'
           -- tags keep the two key spaces disjoint — a bare PARTITION
           -- BY would pool every NULL text into one cluster
           SELECT doc_id,
             min(doc_id) OVER (
               PARTITION BY CASE WHEN text IS NULL THEN 'id:' || doc_id
                 ELSE 't:' || $normText END) AS rep
           FROM all_docs),
         $clusterSplitSql""")),

    Declared("cur6b_lsh_split", (s, dir) => {
      // the PRODUCTION route of the leakage-proof split: the cluster
      // pairs come from the LSH scale path (signatures shuffle, text
      // never does) instead of exact fingerprints. At threshold=1.0
      // the pair set is hash-seed-INDEPENDENT (the dd8 discipline:
      // identical shingle sets collide in every band and exact-Jaccard
      // verification keeps only set-equal pairs), so the split gets a
      // full oracle: DuckDB groups docs by their canonical shingle-SET
      // string — no class structure is assumed, the oracle computes
      // the same equivalence the engine does. Docs under shingleN
      // words have EMPTY sets, pair with nothing (Jaccard 0-on-empty
      // convention) and split as singletons on both sides; null-text
      // docs likewise. Sub-1.0 thresholds stay spec-pinned (LSH
      // recall is seeded there; a declared oracle would be flaky).
      val d = docsWithExactDups(s, dir)
      val pairs = Dedup.minHashLshPairs(d, "doc_id", "text",
        shingleN = 7, k = 32, bands = 8, threshold = 1.0,
        spanning = true)
        .select(col("id_a"), col("id_b"))
      clusterSplit(d, pairs)
    },
      // LSH route at threshold 1.0: the cluster unit is the shingle-SET
      // equality class — the oracle canonicalizes each doc's distinct
      // 7-gram set to one sorted chr(1)-joined string and groups on it;
      // short (< 7 words) and null-text docs have no key and stay
      // singletons, exactly the engine's Jaccard-0-on-empty behavior
      Some(raw"""WITH all_docs AS (
           $exactDupsSql),
         words AS (
           ${wordsSql("all_docs")}),
         sh AS (
           ${shinglesSql(7, "words")}),
         keys AS (
           SELECT doc_id, string_agg(s, chr(1) ORDER BY s) AS key
           FROM sh GROUP BY doc_id),
         rep AS (
           SELECT a.doc_id,
             min(a.doc_id) OVER (
               PARTITION BY CASE WHEN k.key IS NULL THEN 'id:' || a.doc_id
                 ELSE 'k:' || k.key END) AS rep
           FROM all_docs a LEFT JOIN keys k ON a.doc_id = k.doc_id),
         $clusterSplitSql""")),

    Declared("cur8_embed_outliers", (s, dir) => {
      // embedding data-quality gate: plant 10 corrupt vectors (a far
      // constant offset — a broken encoder emitting saturated values)
      // among the natural corpus; per-CELL distance z-scores against
      // the BASELINE-trained quantizer must flag exactly the planted
      // rows at z>3. Baseline training is the point: a coherent batch
      // of corruption in the scored frame is big enough to capture
      // its own k-means cell and score z≈0 against itself (the
      // masking failure, spec-pinned) — centroids AND moments here
      // come from the clean corpus. Rows-only (centroid seeds);
      // DedupSpec pins planted precision/recall = 1.0.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corrupt = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 50000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))
      Dedup.embeddingOutliers(emb.unionByName(corrupt), "vec_id", "embedding",
          nCells = 16, zThreshold = 3.0, trainOn = emb)
        .filter(col("is_outlier"))
        .select(col("id"))
        .orderBy(col("id").asc)
    },
      None),

    Declared("cur7_stratified", (s, dir) =>
      // deterministic stratified fixed-size sample: exactly
      // min(5, |source|) docs per source, membership = the 5 smallest
      // avalanche-hash values (own constants 16807/49297, pairwise
      // independent of the cur3/cur4/cur5/q47 hashes) with id
      // tiebreak. Rides the BoundedTopK partial aggregate — ≤5
      // candidate rows per (task, stratum) shuffle, never a
      // stratum-wide window sort. The oracle replays the xor-chain
      // hash and row_number()s per stratum.
      Shuffle.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "source", "lang"),
          Seq("source"), "doc_id", n = 5)
        .select("source", "doc_id", "lang")
        .orderBy(col("source").asc, col("doc_id").asc),
      Some(s"""WITH ${decisionHashCtes("documents", "doc_id", "doc_id, source, lang", "h",
             16807L, 49297L)},
         r AS (
           SELECT doc_id, source, lang,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
           FROM h)
         SELECT source, doc_id, lang FROM r WHERE rk <= 5
         ORDER BY source, doc_id""")),

    Declared("cur9_profile", (s, dir) =>
      // column-level data profiling (the pre-training data-quality
      // gate): null rates, exact cardinalities and value ranges for
      // six heterogeneous orders columns in ONE aggregate pass, tidied
      // to a row per column. Exact-distinct mode here (oracle-
      // replayable; Spark plans it via Expand) — the approxDistinct
      // flag keeps the 100 TB form single-scan with HLL++.
      graft.operators.Profiler.columnStats(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name").asc),
      Some("""WITH s AS (
           SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             count(o_orderkey) AS n_nonnull,
             count(*) - count(o_orderkey) AS n_null,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS min_value,
             CAST(max(o_orderkey) AS VARCHAR) AS max_value
           FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*), count(o_custkey),
             count(*) - count(o_custkey), count(DISTINCT o_custkey),
             CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*), count(o_orderstatus),
             count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
             CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_totalprice', count(*), count(o_totalprice),
             count(*) - count(o_totalprice), count(DISTINCT o_totalprice),
             CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderdate', count(*), count(o_orderdate),
             count(*) - count(o_orderdate), count(DISTINCT o_orderdate),
             CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderpriority', count(*), count(o_orderpriority),
             count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority),
             CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
           FROM orders)
         SELECT * FROM s ORDER BY col_name""")),

    Declared("cur10_drift", (s, dir) => {
      // distribution drift (PSI) between a base snapshot and a
      // planted 15%-inflated current snapshot of o_totalprice — the
      // production "did the new shard shift the distribution" gate.
      // Equi-width bins over the BASE range by pure floor arithmetic
      // (identical IEEE ops both engines), epsilon-floored
      // proportions, one-row output. The planted shift must register
      // (psi > 0.1, spec-pinned); identical snapshots give ~0.
      val orders = t(s, dir, "orders")
      graft.operators.Profiler.psiDrift(
          orders.select(col("o_totalprice")),
          orders.select((col("o_totalprice") * 1.15).as("o_totalprice")),
          "o_totalprice", nBins = 10)
    },
      Some("""WITH bounds AS (
           SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
         bb AS (
           SELECT least(greatest(CAST(floor(
             (o_totalprice - lo) / ((hi - lo) / 10)) AS INTEGER), 0), 9) AS bin
           FROM orders, bounds),
         cc AS (
           SELECT least(greatest(CAST(floor(
             (o_totalprice * 1.15 - lo) / ((hi - lo) / 10)) AS INTEGER), 0), 9) AS bin
           FROM orders, bounds),
         bins AS (SELECT CAST(unnest(range(10)) AS INTEGER) AS bin),
         bcnt AS (SELECT bin, count(*) AS n_base FROM bb GROUP BY 1),
         ccnt AS (SELECT bin, count(*) AS n_cur FROM cc GROUP BY 1),
         j AS (
           SELECT bins.bin, coalesce(n_base, 0) AS n_base,
             coalesce(n_cur, 0) AS n_cur
           FROM bins LEFT JOIN bcnt USING (bin) LEFT JOIN ccnt USING (bin)),
         t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
         SELECT round(sum((pb - pc) * ln(pb / pc)), 6) AS psi,
           CAST(sum(n_base) AS BIGINT) AS n_base,
           CAST(sum(n_cur) AS BIGINT) AS n_cur
         FROM (SELECT greatest(n_base / tb, 0.0001) AS pb,
                 greatest(n_cur / tc, 0.0001) AS pc, n_base, n_cur
               FROM j, t)""")),

    Declared("cur11_ks", (s, dir) => {
      // exact two-sample Kolmogorov-Smirnov drift between the base
      // order-price snapshot and a planted 5%-inflated one — the
      // binning-free companion gate to cur10. The statistic is a max
      // over |k/n - j/m| with exact integer cumulative counts from
      // the distributed range-partitioned prefix-sum CDF, so the
      // oracle replays it bit-for-bit (only the final 6dp round
      // touches float formatting).
      val orders = t(s, dir, "orders")
      graft.operators.Profiler.ksDrift(
          orders.select(col("o_totalprice")),
          orders.select((col("o_totalprice") * 1.05).as("o_totalprice")),
          "o_totalprice")
    },
      Some("""WITH d AS (
           SELECT v, sum(b) AS cb, sum(c) AS cc FROM (
             SELECT o_totalprice AS v, 1 AS b, 0 AS c FROM orders
             UNION ALL
             SELECT o_totalprice * 1.05 AS v, 0 AS b, 1 AS c FROM orders) u
           GROUP BY v),
         r AS (
           SELECT
             sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
             sum(cc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc
           FROM d),
         t AS (SELECT sum(cb) AS nb, sum(cc) AS nc FROM d)
         SELECT round(max(abs(cumb / nb - cumc / nc)), 6) AS ks,
           CAST(max(nb) AS BIGINT) AS n_base, CAST(max(nc) AS BIGINT) AS n_cur
         FROM r, t""")),

    Declared("cur12_cat_drift", (s, dir) => {
      // categorical drift on the order-priority mix: the current
      // snapshot deterministically remaps every orderkey % 5 == 0 row
      // to 1-URGENT (~20% of the mass migrates). topK=3 exercises the
      // __other__ fold over the remaining two priorities; sum of
      // jsd_term is the Jensen-Shannon divergence between the mixes.
      val orders = t(s, dir, "orders")
      graft.operators.Profiler.categoricalDrift(
          orders.select(col("o_orderpriority")),
          orders.select(
            when(col("o_orderkey") % 5 === 0, lit("1-URGENT"))
              .otherwise(col("o_orderpriority")).as("o_orderpriority")),
          "o_orderpriority", topK = 3)
    },
      Some(s"""WITH d AS (
           SELECT cat, sum(b) AS cb, sum(c) AS cc FROM (
             SELECT o_orderpriority AS cat, 1 AS b, 0 AS c FROM orders
             UNION ALL
             SELECT CASE WHEN o_orderkey % 5 = 0 THEN '1-URGENT'
                         ELSE o_orderpriority END, 0, 1 FROM orders) u
           GROUP BY cat),
         top AS (SELECT cat FROM d ORDER BY cb DESC, cat ASC LIMIT 3),
         m AS (
           SELECT CASE WHEN cat IN (SELECT cat FROM top) THEN cat
                       ELSE '__other__' END AS category,
             sum(cb) AS nb, sum(cc) AS nc
           FROM d GROUP BY 1),
         t AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM m)
         SELECT category,
           CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur,
           ${jsdSql("nb", "tb", "nc", "tc")}
         FROM m, t ORDER BY category""")),

    Declared("cur22_standardize", (s, dir) => {
      // per-type z-scoring: every event value annotated with its
      // type's mean, population σ and z — the cross-group
      // comparability step. Exact decimal sufficient statistics +
      // a FIXED sequence of IEEE steps (one division, one sqrt —
      // correctly rounded by both engines — one subtraction, one
      // division), so mean/sd/z replay bit-for-bit.
      graft.operators.Profiler.standardizeBy(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "value", Seq("event_type"))
        .orderBy(col("event_id").asc)
    },
      // exact HUGEINT sufficient statistics, then the identical IEEE
      // step sequence: mean = Σx/(n·scale); σ = √((nΣx²−(Σx)²)/n²)/scale;
      // z on the quantized grid — replays bit-for-bit (sqrt is
      // correctly rounded on both engines)
      Some("""WITH q AS (
           SELECT event_id, event_type, value,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
           FROM events),
         s AS (
           SELECT event_type, count(*) AS n, sum(vq) AS sx,
             sum(vq * vq) AS sxx
           FROM q WHERE value IS NOT NULL GROUP BY 1)
         SELECT q.event_id, q.event_type, q.value,
           CAST(sx AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS mean,
           sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             / CAST(n * n AS DOUBLE)) / 100.0 AS sd,
           CASE WHEN q.value IS NULL OR n * sxx - sx * sx = 0 THEN NULL
                ELSE (CAST(vq AS DOUBLE)
                    - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    / CAST(n * n AS DOUBLE))
           END AS z
         FROM q LEFT JOIN s USING (event_type)
         ORDER BY q.event_id""")),

    Declared("cur13_group_drift", (s, dir) => {
      // per-SOURCE language-mix drift: the planted shift (lang → 'xx'
      // for every 4th doc) is confined to src3 — a corpus-wide JSD
      // (cur12) averages it away; the grouped gate isolates it.
      // topK=3 exercises the per-group __other__ fold; the extra
      // 'srcnew' rows exist ONLY in the current snapshot, so that
      // group is excluded by the defined-on-both-sides contract (a
      // newborn source is a cur9 profiling event, not a drift score).
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("source"), col("lang"))
      val cur = d.select(col("source"),
          when(col("doc_id") % 4 === 0 && col("source") === "src3", lit("xx"))
            .otherwise(col("lang")).as("lang"))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select(lit("srcnew").as("source"), col("lang")))
      graft.operators.Profiler.categoricalDriftBy(
          d.select("source", "lang"), cur, "lang",
          groupCols = Seq("source"), topK = 3)
    },
      // the grouped replay of cur12's arithmetic: per-group top-K via
      // window rank, per-group totals, same ln-chain and 6dp rounds;
      // the cur-only 'srcnew' group drops at the HAVING (the
      // defined-on-both-snapshots contract)
      Some(s"""WITH d AS (
           SELECT source, cat, sum(b) AS cb, sum(c) AS cc FROM (
             SELECT source, lang AS cat, 1 AS b, 0 AS c FROM documents
             UNION ALL
             SELECT source,
               CASE WHEN doc_id % 4 = 0 AND source = 'src3' THEN 'xx'
                    ELSE lang END, 0, 1 FROM documents
             UNION ALL
             SELECT 'srcnew', lang, 0, 1 FROM documents
             WHERE doc_id % 7 = 0) u
           WHERE cat IS NOT NULL
           GROUP BY source, cat),
         top AS (
           SELECT source, cat FROM (
             SELECT source, cat,
               row_number() OVER (PARTITION BY source
                 ORDER BY cb DESC, cat ASC) AS rk
             FROM d)
           WHERE rk <= 3),
         m AS (
           SELECT d.source,
             CASE WHEN t.cat IS NOT NULL THEN d.cat
                  ELSE '__other__' END AS category,
             sum(cb) AS nb, sum(cc) AS nc
           FROM d LEFT JOIN top t ON d.source = t.source AND d.cat = t.cat
           GROUP BY 1, 2),
         tt AS (
           SELECT source, sum(nb) AS tb, sum(nc) AS tc FROM m GROUP BY 1
           HAVING sum(nb) > 0 AND sum(nc) > 0)
         SELECT m.source, category,
           CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur,
           ${jsdSql("nb", "tb", "nc", "tc")}
         FROM m JOIN tt ON m.source = tt.source
         ORDER BY m.source, category""")),

    Declared("cur23_quantile_norm", (s, dir) => {
      // quantile normalization: every event value replaced by the
      // GLOBAL order statistic at its type-relative rank, so all
      // event types end up on one distribution (the microarray-
      // normalization standard applied to corpus metrics — "top
      // decile" means the same thing in every type). NO
      // interpolation anywhere: grid ranks, group ranks and the
      // index mapping are exact integer arithmetic; the oracle
      // replays the grid from the covers-definition and the mapping
      // from window ranks.
      graft.operators.Profiler.quantileNormalizeBy(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "event_id", "value", Seq("event_type"), nGrid = 101)
        .orderBy(col("event_id").asc)
    },
      // the grid from the covers DEFINITION (t_j inside the digest's
      // rank range), the row mapping from window ranks — both pure
      // integer arithmetic, independent of the engine's sequence-emit
      // formulation
      Some("""WITH base AS (
           SELECT event_id, event_type, value,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
           FROM events WHERE value IS NOT NULL),
         nn AS (SELECT count(*) AS n FROM base),
         dg AS (SELECT vq, count(*) AS c FROM base GROUP BY 1),
         rk AS (SELECT vq, c, sum(c) OVER (ORDER BY vq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
           FROM dg),
         grid AS (
           SELECT j, vq AS grid_vq
           FROM (SELECT unnest(range(0, 101)) AS j), rk, nn
           WHERE (j * (n - 1)) // 100 >= hi - c
             AND (j * (n - 1)) // 100 < hi),
         rr AS (
           SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY vq, event_id) - 1 AS r,
             count(*) OVER (PARTITION BY event_type) AS ng
           FROM base),
         jj AS (
           SELECT *, CASE WHEN ng = 1 THEN 50
                          ELSE (r * 100) // (ng - 1) END AS j
           FROM rr)
         SELECT jj.event_id, jj.event_type, jj.value,
           CAST(grid_vq AS DOUBLE) / 100.0 AS value_qn
         FROM jj JOIN grid USING (j)
         ORDER BY jj.event_id""")),

    Declared("cur24_pipeline", (s, dir) =>
      // see pipelineIntegration — the single-lazy-plan form
      pipelineIntegration(s, dir, materialize = false),
      Some(pipelineOracle)),

    Declared("cur24b_pipeline_persisted", (s, dir) =>
      // cur24 with the USAGE-documented production persist points
      // applied: every multi-consumer frame (exact-dedup output, near-
      // dedup survivors, decontaminated frame) materializes once via
      // localCheckpoint, so the score→dedup subtrees execute once
      // instead of re-running through each downstream consumer.
      // Row-identical to cur24 BY CONTRACT (same oracle hash): a
      // checkpoint materializes exact rows and every stage is
      // deterministic, so the only difference is the physical
      // recompute — whose cost delta the bench pins (cur24 is the
      // suite's most expensive query; this is the txt13/dd14 two-
      // routes discipline applied to the integration pipeline)
      pipelineIntegration(s, dir, materialize = true),
      // cur24 with the production persist points applied: a
      // localCheckpoint materializes exact rows, so the persisted route
      // must hash-match the one-lazy-plan route bit-for-bit
      Some(pipelineOracle)),

    Declared("cur25_gram", (s, dir) => {
      // distributed covariance sufficient statistics (the XᵀX pass
      // behind PCA/whitening): ONE GramMatrix aggregate over
      // scan-side micro-quantized vectors — each task ships a fixed
      // ~17 KB buffer (never N·d²/2 product rows), and the integer
      // sums make the result bit-identical at any partitioning and
      // DuckDB-replayable (the oracle rebuilds the same sums from an
      // index explode + self-join — the quadratic definition is the
      // ORACLE's job, the engine never runs it).
      graft.similarity.Pca.gram(t(s, dir, "embeddings"), "embedding",
          d = 64, scale = GramScale)
        .orderBy(col("i").asc, col("j").asc)
    },
      // the oracle rebuilds the exact integer Gram sums by the
      // quadratic definition (index explode + per-vector self-join) —
      // the formulation the engine's fixed-buffer aggregate exists to
      // avoid at scale, which is exactly what makes it an independent
      // check
      Some(s"""WITH $gramCtes
         SELECT p.i, p.j, (SELECT n FROM nn) AS n,
           ma.mi AS m_i, mb.mi AS m_j, p.s AS s_ij
         FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
         ORDER BY p.i, p.j""")),

    Declared("cur26_corr", (s, dir) => {
      // Pearson correlation matrix from cur25's exact integer
      // statistics — the feature-redundancy report (|corr|≈1 pairs
      // are drop candidates before PCA/indexing). Fixed DOUBLE
      // operation order over BIGINT-exact sums, so DuckDB replays
      // bit-for-bit pre-rounding; 6dp on both sides per §4.
      graft.similarity.Pca.correlation(t(s, dir, "embeddings"),
          "embedding", d = 64, scale = GramScale)
        .select(col("i"), col("j"), round(col("corr"), 6).as("corr"))
        .orderBy(col("i").asc, col("j").asc)
    },
      // same statistics as cur25, pushed through the fixed-order
      // Pearson formula in DOUBLE — bit-identical pre-rounding
      Some(s"""WITH $gramCtes,
         dg AS (SELECT i AS dk, s AS ds FROM p WHERE i = j),
         c AS (
           SELECT p.i, p.j,
             CAST((SELECT n FROM nn) AS DOUBLE) * CAST(p.s AS DOUBLE)
               - CAST(ma.mi AS DOUBLE) * CAST(mb.mi AS DOUBLE) AS numer,
             CAST((SELECT n FROM nn) AS DOUBLE) * CAST(da.ds AS DOUBLE)
               - CAST(ma.mi AS DOUBLE) * CAST(ma.mi AS DOUBLE) AS vi,
             CAST((SELECT n FROM nn) AS DOUBLE) * CAST(db.ds AS DOUBLE)
               - CAST(mb.mi AS DOUBLE) * CAST(mb.mi AS DOUBLE) AS vj
           FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
           JOIN dg da ON da.dk = p.i JOIN dg db ON db.dk = p.j)
         SELECT i, j,
           CASE WHEN vi <= 0.0 OR vj <= 0.0 THEN NULL
                ELSE round(numer / sqrt(vi * vj), 6) END AS corr
         FROM c ORDER BY i, j""")),

    Declared("cur19_winsorize", (s, dir) => {
      // per-type metric winsorization: clamp every event value into
      // its type's [k-th smallest, k-th largest] order statistics
      // with k = ⌊α·n⌋ — outlier CAPPING where cur18 is outlier
      // FLAGGING. Rank-based bounds are pure selections over exact
      // integer ranks (an interpolated p02 is a product of doubles
      // whose formula differs across engines in the last ulp), so
      // bounds and clamped values replay bit-for-bit via a
      // row_number window in the oracle; the engine side runs the
      // q20 histogram-digest plan, never a per-group row sort.
      graft.operators.Profiler.winsorizeBy(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "value", Seq("event_type"), alpha = 0.02)
        .orderBy(col("event_id").asc)
    },
      // rank-based bounds are order statistics — replayed by an explicit
      // row_number selection, no quantile interpolation anywhere
      Some("""WITH q AS (
           SELECT event_id, event_type, value,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vq
           FROM events),
         nn AS (
           SELECT event_type, vq,
             row_number() OVER (PARTITION BY event_type ORDER BY vq) - 1 AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM q WHERE value IS NOT NULL),
         b AS (
           SELECT event_type,
             max(CASE WHEN rk = CAST(floor(0.02 * n) AS BIGINT)
                 THEN vq END) AS loq,
             max(CASE WHEN rk = n - 1 - CAST(floor(0.02 * n) AS BIGINT)
                 THEN vq END) AS hiq
           FROM nn GROUP BY 1)
         SELECT q.event_id, q.event_type, q.value,
           CAST(loq AS DOUBLE) / 100.0 AS lo,
           CAST(hiq AS DOUBLE) / 100.0 AS hi,
           CASE WHEN q.value IS NULL THEN NULL
                ELSE CAST(least(greatest(q.vq, loq), hiq) AS DOUBLE) / 100.0
           END AS value_w
         FROM q LEFT JOIN b USING (event_type)
         ORDER BY q.event_id""")),

    Declared("cur20_priority_sample", (s, dir) => {
      // deterministic WEIGHTED sampling without replacement —
      // priority sampling (Duffield–Lund–Thorup, JACM 2007): 40 docs
      // per source with inclusion biased by document length, each
      // sampled row carrying the estimation weight max(w, τ) that
      // keeps downstream subset sums unbiased (τ = the stratum's
      // 41st priority). Priorities are exact BIGINT
      // ⌊w·2³¹ ÷ (h+1)⌋ over the avalanche decisionHash (own
      // constants), so rank order, membership and τ replay
      // bit-for-bit in DuckDB — a float w/u ranking would tie-break
      // on libm ulps. Rides the BoundedTopK partial aggregate, the
      // cur7 physical path.
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        (col("n_chars") + lit(1)).cast("double").as("w"))
      graft.operators.Shuffle.prioritySample(d, "doc_id", "w", 40,
          Seq("source"), scale = 1L)
        .orderBy(col("doc_id").asc)
    },
      // the full decisionHash replay (the cur4 discipline, own
      // constants 40692/52361), then exact BIGINT priorities — rank,
      // membership and the 41st-priority threshold all integer
      Some(s"""WITH d AS (
           SELECT doc_id, source, CAST(n_chars + 1 AS DOUBLE) AS w,
             CAST(floor(CAST(n_chars + 1 AS DOUBLE) * 1.0 + 0.5) AS BIGINT) AS wq
           FROM documents),
         ${decisionHashCtes("d", "doc_id", "*", "h", 40692L, 52361L)},
         p AS (SELECT doc_id, source, w, wq,
             (wq * 2147483648) // (hv + 1) AS pri FROM h),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY source ORDER BY pri DESC, doc_id) AS rk FROM p),
         tau AS (SELECT source, max(CASE WHEN rk = 41 THEN pri END) AS tau
           FROM r GROUP BY 1)
         SELECT r.doc_id, r.source, r.w, CAST(r.pri AS BIGINT) AS priority,
           CAST(greatest(r.wq, coalesce(tau.tau, 0)) AS DOUBLE) / 1.0
             AS est_weight
         FROM r JOIN tau USING (source)
         WHERE rk <= 40
         ORDER BY r.doc_id""")),

    Declared("cur21_w1_drift", (s, dir) => {
      // per-source Wasserstein-1 drift on n_chars, +10% inflation
      // confined to src5 (the cur15 fixture): where KS reports the
      // largest CDF gap, W₁ reports how FAR the mass moved, in
      // character units — src5 reads ≈ 0.1·mean(n_chars), every
      // other source exactly 0.0. On the 0.1-char quantized grid the
      // numerator is an order-free exact integer sum (decimal(38,0)
      // here, HUGEINT in the oracle) and ONE double division closes
      // it — bit-replayable, unlike any float Σ|F−G|·Δx.
      val (d, cur) = src5Inflated(s, dir)
      graft.operators.Profiler.w1DriftBy(d, cur, "n_chars", Seq("source"),
        scale = 10L)
    },
      // the exact-integer W1: HUGEINT numerator (window sums of BIGINT
      // are HUGEINT in DuckDB, decimal(38,0) in the engine), one double
      // division at the end
      Some(s"""WITH ${src5DigestCtes("vq", v => s"CAST(floor($v * 10.0 + 0.5) AS BIGINT)")},
         r AS (SELECT source, vq,
                 sum(cb) OVER w AS rb, sum(cc) OVER w AS rc,
                 lead(vq) OVER (PARTITION BY source ORDER BY vq) AS nvq
               FROM d
               WINDOW w AS (PARTITION BY source ORDER BY vq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         s AS (SELECT r.source,
                 sum(CASE WHEN nvq IS NULL THEN 0
                     ELSE abs(rb * nc - rc * nb) * (nvq - vq) END) AS num,
                 max(nb) AS nb, max(nc) AS nc
               FROM r JOIN t USING (source) GROUP BY 1)
         SELECT source,
           CAST(num AS DOUBLE) / CAST(nb * nc * 10 AS DOUBLE) AS w1,
           nb AS n_base, nc AS n_cur
         FROM s ORDER BY source""")),

    Declared("cur18_mad_outliers", (s, dir) => {
      // robust per-type metric anomaly gate: median/MAD flags (Hampel
      // identifier) that heavy tails cannot hijack — one pathological
      // batch inflates a z-score's σ enough to hide itself, the MAD
      // barely moves. Quantized-integer medians interpolate to exact
      // dyadic steps, so the flag comparison and both quantile passes
      // replay bit-for-bit through DuckDB's quantile_cont.
      graft.operators.Profiler.madOutliers(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "value", Seq("event_type"), k = 3.0)
        .orderBy(col("event_id").asc)
    },
      // median and MAD over cents-quantized integers via quantile_cont
      // (the q20 bit-parity precedent); the outlier comparison runs on
      // the quantized scale where every term is exact dyadic
      Some("""WITH e AS (
           SELECT event_id, event_type, value,
             CAST(CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS DOUBLE) AS vq
           FROM events WHERE value IS NOT NULL),
         m AS (
           SELECT event_type, quantile_cont(vq, 0.5) AS medq
           FROM e GROUP BY 1),
         d AS (
           SELECT e.event_id, e.event_type, e.value, e.vq, m.medq,
             abs(e.vq - m.medq) AS dev
           FROM e JOIN m ON e.event_type IS NOT DISTINCT FROM m.event_type),
         m2 AS (
           SELECT event_type, quantile_cont(dev, 0.5) AS madq
           FROM d GROUP BY 1)
         SELECT d.event_id, d.event_type, d.value,
           d.medq / 100.0 AS med, m2.madq / 100.0 AS mad,
           d.dev > 3.0 * m2.madq AS outlier
         FROM d JOIN m2 ON d.event_type IS NOT DISTINCT FROM m2.event_type
         ORDER BY d.event_id""")),

    Declared("cur17_linfit", (s, dir) => {
      // corpus-scale calibration fit: price ~ quantity per return
      // flag — the chars→tokens / rows→bytes cost-model shape, ONE
      // aggregate pass over exact integer sufficient statistics (no
      // solver, no iteration). slope/intercept/r² are single IEEE
      // steps over exact integers, so DuckDB replays every bit.
      graft.operators.Profiler.linearFitBy(
          t(s, dir, "lineitem"), "l_quantity", "l_extendedprice",
          Seq("l_returnflag"))
        .orderBy(col("l_returnflag").asc)
    },
      // exact integer sufficient statistics (HUGEINT in DuckDB,
      // decimal(38,0) in the engine), routed through BIGINT before the
      // double casts; slope/intercept/r² replay as single IEEE steps
      Some("""WITH q AS (
           SELECT l_returnflag,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS xi,
             CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS yi
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         a AS (
           SELECT l_returnflag, count(*) AS n, sum(xi) AS sx, sum(yi) AS sy,
             sum(xi*xi) AS sxx, sum(yi*yi) AS syy, sum(xi*yi) AS sxy
           FROM q GROUP BY 1),
         s AS (
           SELECT l_returnflag, n,
             CAST(n*sxy - sx*sy AS BIGINT) AS cov,
             CAST(n*sxx - sx*sx AS BIGINT) AS varx,
             CAST(n*syy - sy*sy AS BIGINT) AS vary,
             CAST(sx AS BIGINT) AS sxl, CAST(sy AS BIGINT) AS syl
           FROM a)
         SELECT l_returnflag, n,
           CASE WHEN varx = 0 THEN NULL
                ELSE CAST(cov AS DOUBLE) / CAST(varx AS DOUBLE) END AS slope,
           CASE WHEN varx = 0 THEN NULL
                ELSE (CAST(syl AS DOUBLE) / CAST(n AS DOUBLE))
                   - (CAST(cov AS DOUBLE) / CAST(varx AS DOUBLE))
                   * (CAST(sxl AS DOUBLE) / CAST(n AS DOUBLE)) END AS intercept,
           CASE WHEN varx = 0 OR vary = 0 THEN NULL
                ELSE (CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE))
                   / (CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)) END AS r2
         FROM s ORDER BY l_returnflag""")),

    Declared("cur16_cusum", (s, dir) => {
      // CUSUM changepoint monitoring on the hourly event-rate series
      // per event type — the sequential shift detector the drift
      // gates feed (a small persistent rate change crosses the CUSUM
      // threshold long before any single hour looks anomalous).
      // Metric = per-(type, hour) counts; micro-quantized integer
      // prefix sums make every cusum value bit-replayable.
      val ev = t(s, dir, "events")
      val metric = ev
        .select(col("event_type"), Streams.eventTsMs(ev, "ts").as("__ms"))
        .groupBy(col("event_type"),
          (expr("__ms DIV 3600000") * 3600L).as("hour"))
        .agg(count(lit(1)).cast("double").as("n"))
      graft.operators.Profiler.cusum(metric, "hour", "n",
          Seq("event_type"), target = 12.0, threshold = 40.0, slack = 1.0)
        .orderBy(col("event_type").asc, col("hour").asc)
    },
      // CUSUM via the prefix-sum identity S_t = P_t − min(0, min P_j):
      // micro-quantized BIGINT deviations make both running windows
      // order-free exact; the dq secondary sort pins duplicate periods
      Some("""WITH m AS (
           SELECT event_type,
             ((epoch_ns(ts) // 1000000) // 3600000) * 3600 AS hour,
             CAST(count(*) AS DOUBLE) AS n
           FROM events GROUP BY 1, 2),
         q AS (
           SELECT event_type, hour, n,
             CAST(floor((n - 12.0 - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS dq
           FROM m),
         p1 AS (
           SELECT event_type, hour, n, dq,
             sum(dq) OVER (PARTITION BY event_type ORDER BY hour, dq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
           FROM q),
         p2 AS (
           SELECT event_type, hour, n, pp,
             min(pp) OVER (PARTITION BY event_type ORDER BY hour, dq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
           FROM p1)
         SELECT event_type, hour, n,
           CAST(pp - least(CAST(0 AS BIGINT), mn) AS DOUBLE) / 1000000.0 AS cusum,
           pp - least(CAST(0 AS BIGINT), mn) > 40000000 AS alarm
         FROM p2 ORDER BY event_type, hour""")),

    Declared("cur15_group_ks", (s, dir) => {
      // per-SOURCE numeric drift: +10% n_chars inflation confined to
      // src5 — a corpus-wide KS dilutes the shift ~20x; the grouped
      // gate reads it at full strength in src5 and exactly 0.0 in
      // every other source (identical sides per group). Exact
      // integer-ratio CDF gaps per group, so the oracle replays
      // bit-for-bit.
      val (d, cur) = src5Inflated(s, dir)
      graft.operators.Profiler.ksDriftBy(d, cur, "n_chars", Seq("source"))
    },
      // per-group KS: cumulative BIGINT counts over the per-group value
      // digests divided by per-group totals — the cur11 integer-ratio
      // discipline, windowed per source instead of range-partitioned
      Some(s"""WITH ${src5DigestCtes("v", identity)},
         r AS (SELECT source, v,
                 sum(cb) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rb,
                 sum(cc) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
               FROM d)
         SELECT r.source,
           round(max(abs(CAST(rb AS DOUBLE) / CAST(nb AS DOUBLE)
             - CAST(rc AS DOUBLE) / CAST(nc AS DOUBLE))), 6) AS ks,
           max(nb) AS n_base, max(nc) AS n_cur
         FROM r JOIN t ON r.source = t.source
         GROUP BY r.source ORDER BY r.source""")),

    Declared("cur14_pagerank", (s, dir) => {
      // domain-authority ranking over a 1000-node citation graph
      // derived from orders (orderkey-bucket → custkey-bucket):
      // FIXED-POINT integer PageRank, 3 iterations. The scaled-
      // integer recursion is deterministic to the last bit at any
      // partitioning — integer sums are order-free where float sums
      // are not — which is exactly what lets DuckDB replay all three
      // iterations and hash-compare (float PageRank cannot be
      // hash-compared across engines, or even across reruns).
      graft.operators.Graph.pageRankFp(citationEdges(s, dir), "src", "dst", numIter = 3)
        .orderBy(col("id").asc)
    },
      // three unrolled iterations of the exact integer recursion —
      // every DIV floors a positive BIGINT, so the replay is bit-exact
      // by construction (the fixed-point design exists FOR this)
      Some("""WITH e AS (
           SELECT DISTINCT o_orderkey % 1000 AS src, o_custkey % 1000 AS dst
           FROM orders WHERE o_orderkey % 1000 <> o_custkey % 1000),
         n AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
         dg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         p AS (SELECT count(*) AS nn FROM n),
         r0 AS (SELECT id, 1000000000000 // (SELECT nn FROM p) AS r FROM n),
         d1 AS (SELECT coalesce(sum(r), 0) AS dang
                FROM r0 LEFT JOIN dg USING (id) WHERE deg IS NULL),
         i1 AS (SELECT e.dst AS id, sum(r0.r // dg.deg) AS inflow
                FROM e JOIN r0 ON e.src = r0.id JOIN dg ON dg.id = e.src
                GROUP BY 1),
         r1 AS (SELECT n.id,
                  CAST(((1000000000000 // (SELECT nn FROM p)) * 15) // 100
                  + ((coalesce(i1.inflow, 0)
                      + ((SELECT dang FROM d1) // (SELECT nn FROM p))) * 85) // 100
                    AS BIGINT) AS r
                FROM n LEFT JOIN i1 ON n.id = i1.id),
         d2 AS (SELECT coalesce(sum(r), 0) AS dang
                FROM r1 LEFT JOIN dg USING (id) WHERE deg IS NULL),
         i2 AS (SELECT e.dst AS id, sum(r1.r // dg.deg) AS inflow
                FROM e JOIN r1 ON e.src = r1.id JOIN dg ON dg.id = e.src
                GROUP BY 1),
         r2 AS (SELECT n.id,
                  CAST(((1000000000000 // (SELECT nn FROM p)) * 15) // 100
                  + ((coalesce(i2.inflow, 0)
                      + ((SELECT dang FROM d2) // (SELECT nn FROM p))) * 85) // 100
                    AS BIGINT) AS r
                FROM n LEFT JOIN i2 ON n.id = i2.id),
         d3 AS (SELECT coalesce(sum(r), 0) AS dang
                FROM r2 LEFT JOIN dg USING (id) WHERE deg IS NULL),
         i3 AS (SELECT e.dst AS id, sum(r2.r // dg.deg) AS inflow
                FROM e JOIN r2 ON e.src = r2.id JOIN dg ON dg.id = e.src
                GROUP BY 1),
         r3 AS (SELECT n.id,
                  CAST(((1000000000000 // (SELECT nn FROM p)) * 15) // 100
                  + ((coalesce(i3.inflow, 0)
                      + ((SELECT dang FROM d3) // (SELECT nn FROM p))) * 85) // 100
                    AS BIGINT) AS r
                FROM n LEFT JOIN i3 ON n.id = i3.id)
         SELECT id, r AS rank_fp,
           round(CAST(r AS DOUBLE) / 1000000000000.0, 6) AS rank
         FROM r3 ORDER BY id"""))
  )
}
