package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.Declared
import graft.dedup.Dedup
import Fixtures._

/** The dedup family (dd): exact, LSH, SimHash, Jaccard, containment,
  * cross-corpus, character-level, span and embedding dedup, over the
  * planted near-duplicate, quote and CJK fixtures. */
private[graft] object DedupQueries {

  /** documents ∪ [[nearDupCopies]] — planted near-duplicates. */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = guardedDupBase(docs(s, dir, DocText))
    d.unionByName(nearDupCopies(d))
  }

  private val nearDupsSql = unionAll(docsSql(DocText), nearDupCopiesSql(DocText))

  /** This area's planted fixture, as (name, builder, twin) —
    * DeclaredSpec's parity check. */
  private[graft] val plantedTwins: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(("near dups", docsWithNearDups, nearDupsSql))

  /** The 7-word shingle pairs of Jaccard at least 0.5 (dd4's exact
    * audit path, and the pair set of dd6, dd7 and dd11). */
  private def jaccardPairs(docs: DataFrame): DataFrame =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 7, threshold = 0.5)

  /** The oracle CTEs of the duplicate clusters of the docs of `all`
    * (WITH RECURSIVE, `all_docs` and [[closureCtes]] over the 7-word
    * shingle pairs of Jaccard at least `threshold`). */
  private def clusterCtes(all: String, threshold: Double): String =
    s"""WITH RECURSIVE all_docs AS (
           $all),
         ${wordJaccardCtes(7, "all_docs")},
         ${jaccardPairsCte(threshold)},
         ${closureCtes()}"""

  /** The ids of `docs` that dedupNear keeps under `pairs`, ordered. */
  private def survivors(docs: DataFrame, pairs: DataFrame): DataFrame =
    Dedup.dedupNear(docs, "doc_id", pairs).select(col("doc_id")).orderBy(col("doc_id").asc)

  /** The oracle of [[survivors]] over [[clusterCtes]]. */
  private def survivorsOracle(all: String, threshold: Double): String =
    s"""${clusterCtes(all, threshold)}
         SELECT doc_id FROM all_docs
         WHERE $survivor
         ORDER BY doc_id"""

  /** The embeddings with an identical twin of each of the first 100 at
    * [[DupOffset]] (dd5, dd13). */
  private def embeddingsWithTwins(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    emb.unionByName(emb.filter(col("vec_id") < 100)
      .select((col("vec_id") + DupOffset).as("vec_id"), col("embedding")))
  }

  /** dd9/dd14's crawl: documents, and its reference corpus, every 10th
    * doc. */
  private def crawlAndReference(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    (d, d.filter(col("doc_id") % 10 === 0))
  }

  /** documents ∪ a head quote of every doc at 3 modulo 7 — its first
    * 12 normalized words — at [[AltOffset]] (dd15). */
  private def docsWithQuotes(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir, DocText)
    val norm = split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
    d.unionByName(plantAt(d.filter(col("doc_id") % 7 === 3), DocText, AltOffset,
      Some(array_join(slice(norm, 1, 12), " "))))
  }

  /** SQL twin of [[docsWithQuotes]]. */
  private val quotesDocsSql = unionAll(docsSql(DocText),
    plantAtSql(DocText, AltOffset, s"array_to_string(($wordArray)[1:12], ' ')",
      " WHERE doc_id % 7 = 3"))

  /** The digits of the CJK corpus, 0-9. */
  private val CjkDigits = "零一二三四五六七八九"

  /** Deterministic CJK corpus for the charLevel dedup gate (dd10): 40
    * duplicate classes × 10 members; members differ only in whitespace
    * the normalizer collapses (leading/trailing runs, a doubled
    * internal space), so char-shingle sets are class-equal. Built from
    * range(), not `documents`: whitespace-variant CJK is exactly what
    * the word-level path cannot see (a CJK text is ONE "word", zero
    * word-shingles), so the fixture must be constructed — and a
    * range-based construction replays verbatim in the DuckDB oracle. */
  private def cjkDocs(s: SparkSession): DataFrame = {
    val cls = pmod(col("id"), lit(40L))
    val p1 = translate(lpad(cls.cast("string"), 4, "0"), "0123456789", CjkDigits)
    val p2 = translate(lpad((cls * 7 + 1).cast("string"), 4, "0"), "0123456789", CjkDigits)
    val variant = pmod(floor(col("id") / 40).cast("long"), lit(3L))
    val text = when(variant === 1, concat(p1, lit("  "), p2))
      .when(variant === 2, concat(lit("  "), p1, lit(" "), p2, lit(" ")))
      .otherwise(concat(p1, lit(" "), p2))
    s.range(400).select((col("id") + AltOffset).as("doc_id"), text.as("text"))
  }

  /** SQL twin of [[cjkDocs]]: CTEs `ids`, `parts` and `docs`. */
  private val cjkDocsSql =
    s"""ids AS (SELECT range AS i FROM range(400)),
         parts AS (
           SELECT i,
             translate(lpad(CAST(i % 40 AS VARCHAR), 4, '0'),
               '0123456789', '$CjkDigits') AS p1,
             translate(lpad(CAST((i % 40) * 7 + 1 AS VARCHAR), 4, '0'),
               '0123456789', '$CjkDigits') AS p2
           FROM ids),
         docs AS (
           SELECT i + $AltOffset AS doc_id,
             CASE ((i // 40) % 3)
               WHEN 1 THEN p1 || '  ' || p2
               WHEN 2 THEN '  ' || p1 || ' ' || p2 || ' '
               ELSE p1 || ' ' || p2 END AS text
           FROM parts)"""

  /** The oracle of dd9 and dd14: one contract, two physical paths. */
  private val crossDedupOracle =
    raw"""WITH words AS (
           ${wordsSql("documents")}),
         sh AS (
           ${shinglesSql(7, "words")}),
         $sizesCte,
         ref AS (SELECT doc_id AS rid, s FROM sh WHERE doc_id % 10 = 0),
         inter AS (
           SELECT c.doc_id AS cid, r.rid, count(*) AS n_i
           FROM sh c JOIN ref r ON c.s = r.s
           GROUP BY 1, 2),
         matched AS (
           SELECT DISTINCT cid FROM inter
           JOIN sizes sc ON sc.doc_id = cid
           JOIN sizes sr ON sr.doc_id = rid
           WHERE CAST(n_i AS DOUBLE) / CAST(sc.n_sh + sr.n_sh - n_i AS DOUBLE) >= 1.0)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT cid FROM matched)
         ORDER BY doc_id"""

  val declared: Seq[Declared] = Seq(

    Declared("dd1_exact", (s, dir) =>
      Dedup.exact(docsWithExactDups(s, dir), "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id").asc),
      Some(raw"""WITH all_docs AS (
           $exactDupsSql)
         SELECT min(doc_id) AS doc_id FROM all_docs
         GROUP BY $normText
         ORDER BY doc_id""")),

    Declared("dd2_minhash_lsh", (s, dir) =>
      Dedup.minHashLshPairs(docsWithNearDups(s, dir), "doc_id", "text",
          shingleN = 3, k = 128, bands = 32, threshold = 0.5)
        .orderBy(col("id_a").asc, col("id_b").asc),
      None),

    Declared("dd3_simhash", (s, dir) =>
      // same-vocabulary docs legitimately cluster in simhash space;
      // the per-bucket cap bounds the quadratic candidate blowup
      // (documented recall tradeoff in Dedup.boundedPairs)
      Dedup.simHashPairs(docsWithNearDups(s, dir), "doc_id", "text",
          shingleN = 3, maxHamming = 3, bucketCap = 300)
        .orderBy(col("id_a").asc, col("id_b").asc),
      None),

    Declared("dd4_ngram_jaccard", (s, dir) =>
      // 7-gram shingles: the synthetic vocabulary is ~30 words, so
      // 5-grams collide across unrelated docs at a quadratic rate
      // (millions of accidental shared-shingle pairs at sf0.1);
      // 7-grams keep the exact-join audit path near-linear.
      jaccardPairs(docsWithNearDups(s, dir)).orderBy(col("id_a").asc, col("id_b").asc),
      Some(raw"""WITH all_docs AS (
           $nearDupsSql),
         ${wordJaccardCtes(7, "all_docs")}
         SELECT id_a, id_b, $jaccard AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE $jaccard >= 0.5
         ORDER BY id_a, id_b""")),

    Declared("dd6_components", (s, dir) =>
      Dedup.duplicateClusters(jaccardPairs(docsWithNearDups(s, dir)))
        .orderBy(col("id").asc),
      Some(s"""${clusterCtes(nearDupsSql, 0.5)}
         SELECT id, cluster_id FROM cc ORDER BY id""")),

    Declared("dd7_dedup_near", (s, dir) => {
      // end-to-end near-dedup: survivors = min-id member per cluster +
      // all unclustered docs; corpus text never shuffles (anti-join on id)
      val docs = docsWithNearDups(s, dir)
      survivors(docs, jaccardPairs(docs))
    },
      Some(survivorsOracle(nearDupsSql, 0.5))),

    Declared("dd8_dedup_near_lsh", (s, dir) => {
      // end-to-end near-dedup through the LSH SCALE path, oracle-exact:
      // at threshold=1.0 the surviving pair set is precisely the pairs
      // with shingle-set Jaccard == 1 — identical shingle sets give
      // identical minhash signatures, hence identical keys in EVERY
      // band, so LSH recall for them is 1.0 by construction and the
      // result is hash-seed-independent; DuckDB replays it as
      // shingle-set equality. spanning=true keeps exact recall WITHOUT
      // lifting bucketCap: each bucket emits occupancy−1 consecutive
      // pairs under the set-fingerprint order (a duplicate class is
      // contiguous, so its spanning pairs all verify), and the
      // connected components — all dedupNear consumes — equal the
      // clique path's. A boilerplate doc duplicated a million times
      // costs 10^6−1 pairs, not 10^12/2.
      // k/bands are free knobs here: at threshold=1.0 the final pair
      // set is signature-size-INDEPENDENT (exact-Jaccard verification
      // keeps only set-equal pairs, and those collide in every band at
      // any k), so a small signature minimizes the signature/band work
      // without touching the result. DedupSpec pins the same contract
      // at the production k=128.
      val docs = docsWithExactDups(s, dir)
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
        shingleN = 7, k = 32, bands = 8, threshold = 1.0,
        spanning = true)
      survivors(docs, pairs)
    },
      Some(survivorsOracle(exactDupsSql, 1.0))),

    Declared("dd5_embed_dup", (s, dir) => {
      // the synthetic embeddings have no natural pairs above 0.9 cosine
      // (measured max 0.48), so plant identical twins like dd1/dd4 do —
      // the operator must recover exactly those.
      Dedup.embeddingDupPairs(embeddingsWithTwins(s, dir), "vec_id", "embedding",
          threshold = 0.99, nBits = 10, tables = 2)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None),

    Declared("dd9_cross_dedup", (s, dir) => {
      // incremental-crawl dedup: drop from the corpus whatever a
      // reference corpus (here: every 10th doc, standing in for "the
      // existing training set") already contains. threshold=1.0 makes
      // the LSH path oracle-exact, as in dd8: shingle-set-equal pairs
      // are recalled with probability 1 at any signature size.
      // spanning=true collapses the reference side to one
      // representative per (bucket, set-fingerprint) — candidates stay
      // linear in corpus occupancy with NO bucketCap lift, and every
      // matched corpus id is still found (a match shares the
      // representative's fingerprint group by construction).
      val (d, ref) = crawlAndReference(s, dir)
      Dedup.crossDedup(d, ref, "doc_id", "text",
          shingleN = 7, k = 32, bands = 8, threshold = 1.0,
          spanning = true)
        .select(col("doc_id")).orderBy(col("doc_id").asc)
    },
      Some(crossDedupOracle)),

    Declared("dd14_index_dedup", (s, dir) => {
      // dd9 through a PERSISTED signature index — the incremental
      // pipeline: the reference snapshot's signatures + fingerprints
      // + shingle sets are built once, written to parquet, read back,
      // and the crawl dedups against the index without ever touching
      // reference TEXT. Same parameters and SAME ORACLE as dd9: the
      // round-trip through parquet must be row-identical to the
      // text-side computation (the index path IS the text path
      // applied to a freshly built index — this query proves the
      // persisted round trip preserves that).
      val (d, ref) = crawlAndReference(s, dir)
      val tmp = scratchPath("graft_dd14", dir)
      Dedup.buildSignatureIndex(ref, "doc_id", "text", shingleN = 7, k = 32)
        .write.mode("overwrite").parquet(s"$tmp/ref_index")
      val index = s.read.parquet(s"$tmp/ref_index")
      Dedup.crossDedupWithIndex(d, index, "doc_id", "text",
          shingleN = 7, k = 32, bands = 8, threshold = 1.0,
          spanning = true)
        .select(col("doc_id")).orderBy(col("doc_id").asc)
    },
      // dd9 through the persisted signature index: same inputs, same
      // parameters, same contract: one oracle, two physical paths
      Some(crossDedupOracle)),

    Declared("dd15_containment", (s, dir) => {
      // asymmetric containment (quote/excerpt detection): every
      // doc_id%7==3 doc contributes a 12-word head QUOTE (AltOffset
      // ids) whose shingle set is a strict subset of its source —
      // containment 1.0 where Jaccard reads ~6/(n+6) and every
      // symmetric gate is blind by design (Broder's
      // resemblance-vs-containment distinction). Exact inverted-
      // index audit path (same join as dd4, hash-free, replayed
      // verbatim); the maxShingleDf cap is the 100 TB knob
      // (boilerplate shingles leave the index, containment becomes
      // a documented lower bound — spec-pinned, off here).
      Dedup.containmentPairs(docsWithQuotes(s, dir), "doc_id", "text",
          shingleN = 7, threshold = 0.9)
        .orderBy(col("id_sub").asc, col("id_sup").asc)
    },
      // the dd4 shingle machinery with the containment formula and the
      // min-set orientation; quotes are the head-12-word slices
      Some(raw"""WITH all_docs AS (
           $quotesDocsSql),
         ${wordJaccardCtes(7, "all_docs")},
         j AS (
           SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
           FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b)
         SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS id_sub,
           CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS id_sup,
           n_inter, least(n_a, n_b) AS n_sub,
           CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)
             AS containment
         FROM j
         WHERE CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.9
         ORDER BY id_sub, id_sup""")),

    Declared("dd10_char_dedup", (s, _) => {
      // charLevel (CJK) dedup gate: whitespace shingling sees a CJK
      // doc as ONE word (zero shingles, recall silently zero) —
      // charLevel=true switches the whole pipeline to code-point
      // n-grams. threshold=1.0 + spanning keeps dd8's oracle-exactness
      // argument intact at the char granularity: equal char-shingle
      // SETS are recalled with probability 1 at any signature size,
      // and DuckDB replays set equality as distinct-substring sets
      // over the same lower/trim/collapse normalization — the result
      // is hash-seed-independent.
      val docs = cjkDocs(s)
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 1.0,
        charLevel = true, spanning = true)
      survivors(docs, pairs)
    },
      // charLevel dedup: the corpus is range()-constructed (see cjkDocs),
      // so the oracle rebuilds the identical CJK texts and replays
      // char-shingle-set equality as distinct-substring sets over the
      // same lower/trim/collapse-whitespace normalization, then the same
      // recursive-CC + min-id-survivor replay as dd8.
      Some(raw"""WITH RECURSIVE $cjkDocsSql,
         norm AS (
           SELECT doc_id,
             $normText AS t
           FROM docs),
         sh AS (
           SELECT DISTINCT doc_id, substr(t, CAST(i AS INTEGER), 3) AS s
           FROM (SELECT doc_id, t, unnest(range(1, length(t) - 1)) AS i
                 FROM norm WHERE length(t) >= 3)),
         $jaccardCtes,
         ${jaccardPairsCte(1.0)},
         ${closureCtes()}
         SELECT doc_id FROM docs
         WHERE $survivor
         ORDER BY doc_id""")),

    Declared("dd11_lsh_recall", (s, dir) => {
      // MEASURED sub-threshold LSH recall gate (ann6 discipline applied
      // to dedup): dd2's planted-recall specs never put a recall NUMBER
      // in the correctness dump. Both sides use the SAME shingle
      // definition (7-grams — the near-linear exact-audit configuration,
      // see dd4) so the exact ngram-Jaccard pair set is a true oracle
      // for the LSH pair set at the same threshold; LSH output is a
      // SUBSET of it (candidates are exact-Jaccard-verified), so
      // pair_recall = |LSH| / |exact| measures exactly the band-collision
      // misses. k=128/bands=32 = dd2's production signature: r=4 rows
      // per band gives P(candidate) = 1-(1-s^4)^32 ≈ 0.87 at s=0.5,
      // →1 above. Rows-only: the number is seed-dependent; DedupSpec
      // pins the floor.
      val docs = docsWithNearDups(s, dir)
      val exact = jaccardPairs(docs).select("id_a", "id_b")
      val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text",
          shingleN = 7, k = 128, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1).as("__hit"))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact_pairs"),
          count(col("__hit")).as("n_lsh_pairs"),
          round(count(col("__hit")).cast("double") / count(lit(1)), 4)
            .as("pair_recall"))
        .select(lit("minhash_lsh_t05").as("method"),
          col("n_exact_pairs"), col("n_lsh_pairs"), col("pair_recall"))
    },
      None),

    Declared("dd12_dup_spans", (s, dir) =>
      // substring-LEVEL exact dedup (the repeated-passage view of
      // "deduplicating training data"): every 8-word sliding window
      // occurring ≥2 times corpus-wide marks its range; overlapping
      // ranges merge to maximal spans per doc. Document-level dedup
      // cannot see these — a doc sharing one boilerplate passage with
      // a thousand others is a near-duplicate of none of them. Text
      // never shuffles: windows travel as a 128-bit digest pair, the
      // interval merge is a per-doc window. Oracle replays windows via
      // the txt11 list-slice idiom, grouping on the raw window TEXT —
      // digest-vs-text grouping agreement is exactly the collision-
      // freedom claim, so a digest collision would fail the hash gate.
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
          windowWords = 8, minOccurrences = 2L)
        .orderBy(col("doc_id").asc, col("span_start").asc),
      // windows replayed via the txt11 list-slice idiom; duplicate test
      // groups on the raw window TEXT where graft groups on a 128-bit
      // digest pair — agreement IS the collision-freedom claim. Interval
      // merge = textbook gaps-and-islands over running max end.
      Some(raw"""WITH ${windowCtes("documents")},
         dup AS (SELECT g FROM win GROUP BY g HAVING count(*) >= 2),
         ${islandCtes("dup")}
         $spansSql""")),

    Declared("dd13_semantic_dedup", (s, dir) => {
      // SemDeDup-style cluster-scoped semantic dedup: k-means cells +
      // within-cell distance-ordered window verify. Same planted-twin
      // shape as dd5 — but where dd5's SRP buckets can split a pair
      // straddling a random hyperplane, identical twins ALWAYS share
      // a k-means cell at identical centroid distance. Rows-only
      // (centroid seeds); planted recall + no-false-positive floor
      // pinned in DedupSpec.
      Dedup.semanticDupPairs(embeddingsWithTwins(s, dir), "vec_id", "embedding",
          nCells = 16, threshold = 0.99, windowSize = 6)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None)
  )
}
