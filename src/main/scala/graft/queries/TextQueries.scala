package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftFrame
import graft.api.GraftFrame.{asc, desc}
import graft.SparkEntry.Declared
import graft.dedup.Dedup
import graft.expressions.GraftFunctions
import graft.functions.textfns
import graft.operators.{Bpe, Decontam, Freq, Search}
import Fixtures._

/** The text family (txt): token statistics, language and quality
  * scores, cleaning, n-gram and LM statistics, chunking and packing,
  * decontamination, frequent words, search, BPE and the published
  * Gopher and C4 filters. */
private[graft] object TextQueries {

  /** Every doc at `PrependAt` modulo [[SpliceEvery]] gets bench doc
    * `PrependBench`'s text prepended (txt22). */
  private val PrependAt = 7
  private val PrependBench = 1

  /** documents ∪ [[benchSplices]] — planted contamination (txt10,
    * txt15); `prepends` adds bench doc [[PrependBench]]'s text before
    * every doc at [[PrependAt]] modulo [[SpliceEvery]], at [[AltOffset]]
    * (txt22). */
  private def docsWithBenchSplices(s: SparkSession, dir: String,
                                   prepends: Boolean = false): DataFrame = {
    val d = docs(s, dir, DocText)
    val spliced = d.unionByName(benchSplices(d))
    if (!prepends) spliced
    else spliced.unionByName(spliceAt(d, col("doc_id") % SpliceEvery === PrependAt,
      PrependBench, AltOffset, prepend = true))
  }

  private def benchSplicesDocsSql(prepends: Boolean = false): String = {
    val spliced = unionAll(docsSql(DocText), benchSplicesSql(DocText))
    if (!prepends) spliced
    else unionAll(spliced, spliceAtSql(DocText, s"d.doc_id % $SpliceEvery = $PrependAt",
      PrependBench, AltOffset, prepend = true))
  }

  /** This area's planted fixtures, as (name, builder, twin) —
    * DeclaredSpec's parity check. */
  private[graft] val plantedTwins: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(("bench splices", docsWithBenchSplices(_, _), benchSplicesDocsSql()),
      ("bench splices and prepends", docsWithBenchSplices(_, _, prepends = true),
        benchSplicesDocsSql(prepends = true)))

  /** The non-empty normalized words of `docs`, one row each as `word`,
    * beside `keys`. */
  private def words(docs: DataFrame, keys: String*): DataFrame =
    docs.select(keys.map(col) :+ explode(split(
        lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")).as("word"): _*)
      .filter(col("word") =!= "")

  /** The decontamination queries' benchmark set. */
  private def benchDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir, DocText).filter(col("doc_id") < BenchDocs)

  /** The oracle of txt10 and txt15 (txt15's Bloom path is exact). */
  private val decontamOracle =
    raw"""WITH all_docs AS (
           ${benchSplicesDocsSql()}),
         words AS (
           ${wordsSql("all_docs")}),
         sh AS (
           ${shinglesSql(5, "words")}),
         probe AS (SELECT DISTINCT s FROM sh WHERE doc_id < $BenchDocs),
         tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         hit AS (SELECT doc_id, count(*) AS n_hits FROM sh
                 WHERE s IN (SELECT s FROM probe) GROUP BY 1)
         SELECT t.doc_id,
           CAST(t.n_sh AS INTEGER) AS n_sh,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           ${containment("n_sh")} AS containment
         FROM tot t LEFT JOIN hit h USING (doc_id)
         WHERE ${containment("n_sh")} >= 0.25
         ORDER BY doc_id"""

  val declared: Seq[Declared] = Seq(

    Declared("txt1_tokens", (s, dir) => tokenCounts(t(s, dir, "documents")),
      Some(tokensOracle)),

    Declared("txt2_langid", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        textfns.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id").asc),
      Some(raw"""WITH s AS (
           SELECT doc_id,
             $langHits
           FROM documents)
         SELECT doc_id,
           $langCase AS lang_pred
         FROM s ORDER BY doc_id""")),

    Declared("txt3_quality", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        textfns.wsTokenCount(col("text")).as("n_words"),
        textfns.stopwordRatio(col("text")).as("stop_ratio"),
        textfns.punctRatio(col("text")).as("punct_ratio"),
        textfns.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id").asc),
      Some(raw"""WITH base AS (
           SELECT doc_id,
             $wsTokens AS n_words,
             $qualityHits
           FROM documents),
         ratios AS (
           SELECT doc_id, n_words,
             CAST(stop_hits AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS stop_ratio,
             CAST(punct_hits AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio
           FROM base)
         SELECT doc_id, n_words, stop_ratio, punct_ratio,
           least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
             + least(stop_ratio * 5.0, 1.0) * 0.3
             + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2 AS quality
         FROM ratios ORDER BY doc_id""")),

    Declared("txt4_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        textfns.contentFingerprint(col("text")).as("fp_md5"))
        .orderBy(col("doc_id").asc),
      Some(raw"""SELECT doc_id,
           md5($normText) AS fp_md5
         FROM documents ORDER BY doc_id""")),

    Declared("txt9_repetition", (s, dir) =>
      // within-doc duplicated-trigram ratio — the boilerplate/looping
      // quality signal. Total = word-count arithmetic; distinct via
      // the one-pass codegen shingle kernel; all scan-side.
      t(s, dir, "documents").select(
          col("doc_id"),
          greatest(size(split(textfns.normalizeText(col("text")), " ")) - 2,
            lit(0)).as("n_grams"),
          size(GraftFunctions.graft_word_shingles(col("text"), 3)).as("n_distinct"),
          textfns.repetitionRatio(col("text"), 3).as("repetition"))
        .orderBy(col("doc_id").asc),
      Some(raw"""WITH words AS (
           ${wordsSql("documents")}),
         sh AS (
           ${shinglesSql(3, "words")}),
         dist AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY 1)
         SELECT w.doc_id,
           CAST(greatest(len(w.w) - 2, 0) AS INTEGER) AS n_grams,
           CAST(coalesce(d.n_distinct, 0) AS INTEGER) AS n_distinct,
           CASE WHEN len(w.w) - 2 <= 0 THEN 0.0
                ELSE 1.0 - CAST(coalesce(d.n_distinct, 0) AS DOUBLE)
                           / CAST(len(w.w) - 2 AS DOUBLE) END AS repetition
         FROM words w LEFT JOIN dist d USING (doc_id)
         ORDER BY doc_id""")),

    Declared("txt10_decontam", (s, dir) => {
      // train/test decontamination: flag corpus docs whose 5-gram
      // containment against a benchmark set (docs 0–4) crosses 0.25.
      // Planted contamination: every 20th doc re-spliced with
      // benchmark doc 0's text (containment ≥ 0.33 by construction;
      // natural ceiling measured 0.125) — the flagged set is exactly
      // bench docs themselves + the planted splices.
      Decontam.contaminated(docsWithBenchSplices(s, dir), benchDocs(s, dir),
          "doc_id", "text",
          threshold = 0.25, shingleN = 5)
        .orderBy(col("doc_id").asc)
    },
      Some(decontamOracle)),

    Declared("txt12_lm_score", (s, dir) => {
      // corpus-bigram LM scoring (KenLM-style familiarity signal):
      // score each doc by the mean log conditional probability of its
      // bigrams under the corpus's own bigram model, p(w2|w1) =
      // c(w1 w2) / c(w1 ·). Low scores flag gibberish/outliers.
      // Scale shape: one aggregate builds the model (bigram counts +
      // prefix counts from the same table), doc bigrams join the model
      // by key — the standard shuffle-on-token shape; text itself
      // never shuffles. ln over exact-integer ratios is engine-stable;
      // the per-doc mean rounds to 4dp (summation-order jitter sits
      // ~1e-12 below the grid).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bi = docs.select(col("doc_id"),
        explode(GraftFunctions.graft_word_shingles_all(col("text"), 2)).as("bigram"))
      val bigramCounts = bi.groupBy("bigram").agg(count(lit(1)).as("cb"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
      val prefixCounts = bigramCounts.groupBy("w1").agg(sum("cb").as("cw"))
      val model = bigramCounts.join(prefixCounts, "w1")
      bi.join(model, "bigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(col("cb").cast("double") / col("cw").cast("double"))), 4)
            .as("avg_ll"))
        .orderBy(col("doc_id").asc)
    },
      Some(raw"""WITH words AS (
           ${wordsSql("documents")}),
         bi AS (
           ${shinglesSql(2, "words", distinct = false, as = "bigram")}),
         bc AS (
           SELECT bigram, count(*) AS cb,
             string_split(bigram, ' ')[1] AS w1
           FROM bi GROUP BY 1),
         pc AS (SELECT w1, sum(cb) AS cw FROM bc GROUP BY 1),
         model AS (SELECT bigram, cb, cw FROM bc JOIN pc USING (w1))
         SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(CAST(cb AS DOUBLE) / CAST(cw AS DOUBLE))), 4) AS avg_ll
         FROM bi JOIN model USING (bigram)
         GROUP BY doc_id ORDER BY doc_id""")),

    Declared("txt11_chunks", (s, dir) => {
      // sequence packing: split each doc into 50-word windows with
      // stride 40 (10-word overlap) — the context-chunking step before
      // tokenization. One scan, no shuffle before the output sort:
      // chunk windows materialize scan-side from the split array.
      val W = 50; val S = 40
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          split(textfns.normalizeText(col("text")), " ").as("w"))
        .withColumn("nw", size(col("w")))
      val nChunks = when(col("nw") <= W, lit(1L))
        .otherwise(ceil((col("nw") - lit(W)).cast("double") / S).cast("long") + 1L)
      d.withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
        .withColumn("ws", slice(col("w"), col("chunk_id").cast("int") * S + 1, lit(W)))
        .select(col("doc_id"), col("chunk_id"),
          size(col("ws")).as("n_words"),
          concat_ws(" ", col("ws")).as("chunk"))
        .orderBy(col("doc_id").asc, col("chunk_id").asc)
    },
      Some(raw"""WITH words AS (
           ${wordsSql("documents")}),
         c AS (
           SELECT doc_id, w,
             CASE WHEN len(w) <= 50 THEN 1
                  ELSE CAST(ceil((len(w) - 50) / 40.0) AS BIGINT) + 1 END AS n_chunks
           FROM words)
         SELECT doc_id, i AS chunk_id,
           CAST(len(w[(i*40+1):(i*40+50)]) AS INTEGER) AS n_words,
           array_to_string(w[(i*40+1):(i*40+50)], ' ') AS chunk
         FROM (SELECT doc_id, w, unnest(range(0, n_chunks)) AS i FROM c)
         ORDER BY doc_id, chunk_id""")),

    Declared("txt13_paragraph_dedup", (s, dir) => {
      // paragraph-level dedup over a paragraph-structured corpus built
      // deterministically from `documents`: a per-source header
      // paragraph (the boilerplate that repeats across distinct docs)
      // + the doc's words in 12-word paragraphs. The header recurs
      // once per doc of its source (≫5), so dedup strips it; unique
      // body paragraphs survive in order. Only (fingerprint, count)
      // pairs shuffle; the rewrite is a scan-side higher-order filter
      // against one broadcast banned-set row.
      val P = 12
      val sep = "\n\n"
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          split(textfns.normalizeText(col("text")), " ").as("w"))
        .withColumn("nw", size(col("w")))
      val nPar = when(col("nw") <= P, lit(1L))
        .otherwise(ceil(col("nw").cast("double") / P).cast("long"))
      val docs = d
        .withColumn("ptext",
          concat_ws(sep,
            concat(array(col("source")),
              transform(sequence(lit(0L), nPar - 1),
                i => concat_ws(" ", slice(col("w"), (i.cast("int") * P) + 1, lit(P)))))))
        .select(col("doc_id"), col("ptext"))
      graft.dedup.Dedup.paragraphDedup(docs, "doc_id", "ptext",
          sep = sep, maxOccurrences = 5L)
        .select(col("doc_id"), col("ptext").as("text"))
        .orderBy(col("doc_id").asc)
    },
      Some(raw"""WITH d AS (
           ${wordsSql("documents", "doc_id, source,")}),
         pd AS (
           SELECT doc_id,
             source || chr(10) || chr(10) ||
             array_to_string(
               list_transform(
                 range(0, CASE WHEN len(w) <= 12 THEN 1
                               ELSE CAST(ceil(len(w) / 12.0) AS BIGINT) END),
                 i -> array_to_string(w[(i*12+1):(i*12+12)], ' ')),
               chr(10) || chr(10)) AS ptext
           FROM d),
         paras AS (
           SELECT unnest(string_split(ptext, chr(10) || chr(10))) AS p FROM pd),
         banned AS (
           SELECT coalesce(list(fp), CAST([] AS VARCHAR[])) AS bl FROM (
             SELECT md5(lower(trim(regexp_replace(p, '\s+', ' ', 'g')))) AS fp,
                    count(*) AS c
             FROM paras GROUP BY 1) WHERE c > 5)
         SELECT pd.doc_id,
           array_to_string(
             list_filter(string_split(pd.ptext, chr(10) || chr(10)),
               x -> NOT list_contains(b.bl,
                 md5(lower(trim(regexp_replace(x, '\s+', ' ', 'g')))))),
             chr(10) || chr(10)) AS text
         FROM pd CROSS JOIN banned b
         ORDER BY doc_id""")),

    Declared("txt16_heavy_hitters", (s, dir) =>
      // exact heavy hitters over the word stream via the
      // sketch-then-verify scale path: Misra-Gries candidates (fixed
      // 2000 counters, guaranteed superset at this threshold) →
      // broadcast semi-join → exact count → threshold. Oracle replays
      // it as plain GROUP BY ... HAVING — sketch error never reaches
      // the output, so the result is exact at any corpus size while
      // the plan never shuffles the long-tail vocabulary.
      Freq.heavyHitters(words(t(s, dir, "documents")),
          itemCol = "word", minFraction = 0.002)
        .orderBy(col("n").desc, col("word").asc),
      Some(raw"""WITH words AS (
           SELECT unnest($wordArray) AS word
           FROM documents),
         w AS (SELECT word FROM words WHERE word <> ''),
         t AS (SELECT count(*) AS n_total FROM w)
         SELECT word, CAST(count(*) AS BIGINT) AS n
         FROM w GROUP BY word
         HAVING count(*) >= (SELECT ceil(n_total * 0.002) FROM t)
         ORDER BY n DESC, word""")),

    Declared("txt8_tfidf", (s, dir) => {
      // TF-IDF: tf from one explode+count, df from the distinct
      // doc-word pairs of the SAME aggregate, N broadcast as a scalar.
      // ln() over integer-derived doubles, rounded 4dp (libm ulp
      // differences sit far below the grid step)
      val tf = words(t(s, dir, "documents"), "doc_id").groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "word")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"), col("tf"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 4)
            .as("tfidf"))
        .orderBy(col("doc_id").asc, col("word").asc)
    },
      Some(raw"""WITH words AS (
           SELECT doc_id,
             unnest($wordArray) AS word
           FROM documents),
         tf AS (
           SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
           FROM words WHERE word <> '' GROUP BY doc_id, word),
         dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         SELECT doc_id, word, tf,
           round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 4) AS tfidf
         FROM tf JOIN dfreq USING (word) CROSS JOIN n
         ORDER BY doc_id, word""")),

    Declared("txt7_vocab", (s, dir) =>
      // corpus vocabulary: top-100 words by frequency. explode →
      // two-level aggregate (partial map-side combine on word), then
      // TakeOrderedAndProject for the top-k — no global sort
      GraftFrame(words(t(s, dir, "documents")))
        .countBy(Seq("word")) // summarise drops groups → ungrouped top-k
        .sliceMax(col("n"), 100, col("word"))
        .arrange(desc("n"), asc("word"))
        .df,
      Some(raw"""SELECT word, CAST(count(*) AS BIGINT) AS n
         FROM (
           SELECT unnest($wordArray) AS word
           FROM documents)
         WHERE word <> ''
         GROUP BY word
         ORDER BY n DESC, word
         LIMIT 100""")),

    Declared("txt5_clean", (s, dir) =>
      // plant markup/URLs on every 5th doc, then clean — the operator
      // must strip exactly the planted noise and leave other docs at
      // their whitespace-collapsed form
      t(s, dir, "documents").select(
          col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("<p>"), col("text"),
              lit("</p> see https://ex.am/x?q=1 now")))
            .otherwise(col("text")).as("dirty"))
        .select(col("doc_id"), textfns.cleanText(col("dirty")).as("clean_text"))
        .orderBy(col("doc_id").asc),
      Some("""WITH dirty AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN '<p>' || text || '</p> see https://ex.am/x?q=1 now'
               ELSE text END AS dirty
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(dirty, '<[^>]+>', ' ', 'g'),
               'https?://[^\s]+', ' ', 'g'),
             '\s+', ' ', 'g')) AS clean_text
         FROM dirty ORDER BY doc_id""")),

    Declared("txt6_scrub", (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          concat(col("text"), lit(" contact: u"), col("doc_id").cast("string"),
            lit("@ex.com or 555-1234")).as("dirty"))
        .select(col("doc_id"), textfns.scrubPii(col("dirty")).as("scrubbed"))
        .orderBy(col("doc_id").asc),
      Some("""SELECT doc_id,
           regexp_replace(
             regexp_replace(
               text || ' contact: u' || CAST(doc_id AS VARCHAR) || '@ex.com or 555-1234',
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\d{3}[-. ]\d{4}', '<PHONE>', 'g') AS scrubbed
         FROM documents ORDER BY doc_id""")),

    Declared("txt14_pack", (s, dir) => {
      // sequence packing: docs concatenate in deterministic order
      // within their source shard and split at a fixed token budget; a
      // doc belongs to the sequence its FIRST token lands in (greedy
      // concat-then-split — the standard pretraining packing shape,
      // complementing txt11's per-doc chunking). Scale: embarrassingly
      // parallel per shard — ONE hash exchange on source, an in-shard
      // ordered cumsum window, no global order anywhere; at 100 TB
      // "source" is the shard key and shards pack independently.
      val budget = 256L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          textfns.wsTokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        // cum - n_tok < 2^53 ⇒ the double floor is exact
        .withColumn("seq_id",
          floor((col("cum") - col("n_tok")).cast("double") / budget).cast("long"))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source").asc, col("seq_id").asc)
    },
      Some(raw"""WITH d AS (
           SELECT doc_id, source,
             $wsTokens AS n_tok
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
           FROM d)
         SELECT source,
           CAST(floor(CAST(cum - n_tok AS DOUBLE) / 256.0) AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY source, seq_id""")),

    Declared("txt15_decontam_bloom", (s, dir) => {
      // txt10's decontamination on the Bloom scale path: the benchmark
      // shingle sketch is built DISTRIBUTED (partial blooms OR-merge
      // map-side), corpus shingles probe it scan-side in codegen, and
      // survivors are exact-verified — so the output (and the oracle)
      // is row-identical to txt10 while the shuffle carries only the
      // bloom-surviving (id, shingle) pairs. Same planted fixture.
      Decontam.contaminatedBloom(docsWithBenchSplices(s, dir), benchDocs(s, dir),
          "doc_id", "text",
          threshold = 0.25, shingleN = 5, expectedItems = 1L << 20)
        .orderBy(col("doc_id").asc)
    },
      // the Bloom scale path is exact by construction (survivors are
      // verified against the true shingle set), so its oracle is
      // txt10's, verbatim
      Some(decontamOracle)),

    Declared("txt18_dup_profile", (s, dir) => {
      // per-document duplication PROFILE: the curation metric on top
      // of dd12 — what fraction of each doc's words sit inside a
      // corpus-duplicated span (the "how boilerplate is this page"
      // score used to rank docs for pruning, vs dd12's span listing).
      // One extra aggregate over the span set; same digest-only scale
      // shape.
      val docs = t(s, dir, "documents")
      val spans = Dedup.duplicatedSpans(docs, "doc_id", "text",
          windowWords = 8, minOccurrences = 2L)
        .groupBy("doc_id").agg(sum(col("span_words")).as("dup_words"))
      val words = docs.select(col("doc_id"),
        size(split(textfns.normalizeText(col("text")), " ")).cast("long")
          .as("n_words"))
      words.join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          coalesce(col("dup_words"), lit(0L)).as("dup_words"),
          round(coalesce(col("dup_words"), lit(0L)).cast("double") /
            col("n_words"), 4).as("dup_ratio"))
        .orderBy(col("doc_id").asc)
    },
      Some(raw"""WITH ${windowCtes("documents")},
         dup AS (SELECT g FROM win GROUP BY g HAVING count(*) >= 2),
         ${islandCtes("dup")},
         spans AS (
           SELECT doc_id, min(s) AS s0, max(e) AS e0
           FROM isl GROUP BY doc_id, gid),
         agg AS (
           SELECT doc_id, CAST(sum(e0 - s0) AS BIGINT) AS dup_words
           FROM spans GROUP BY 1),
         wc AS (
           SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM d)
         SELECT wc.doc_id, n_words,
           coalesce(dup_words, 0) AS dup_words,
           round(coalesce(dup_words, 0) / CAST(n_words AS DOUBLE), 4) AS dup_ratio
         FROM wc LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id""")),

    Declared("txt17_bpe", (s, dir) => {
      // real subword tokenization: train 20 BPE merges on the corpus
      // (deterministic — count argmax with lexicographic tie-break, no
      // seeds), tokenize scan-side with the broadcast merge table,
      // return the token frequency head. Rows-only: replaying 20
      // rounds of distributed pair-merge training in SQL is not a
      // reasonable oracle; BpeSpec instead pins the distributed
      // trainer EQUAL to a local reference implementation, plus
      // encode round-trip and determinism contracts.
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, "text", numMerges = 20)
      Bpe.encode(docs, "doc_id", "text", merges)
        .select(explode(col("tokens")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100)
    },
      None),

    Declared("txt20_bm25", (s, dir) =>
      // BM25 ranked retrieval (corpus-inspection search): top 20 docs
      // for a 3-term query — one rare term ('dup') for IDF spread.
      // One corpus scan feeds the term-filtered tf aggregate (the
      // scan-side term filter cuts the explode stream to query terms
      // before anything shuffles); (N, avgdl) is a scalar map-side
      // aggregate; df derives from the query-sized tf frame. Rounded
      // 4dp then ranked, so boundary ties are deterministic across
      // engines (the txt8 ln-parity discipline).
      Search.bm25TopDocs(t(s, dir, "documents"), "doc_id", "text",
          Seq("dup", "spark", "window"), topN = 20)
        .orderBy(col("score").desc, col("doc_id").asc),
      Some(raw"""WITH d AS (
           SELECT doc_id, list_filter($wordArray,
             x -> x <> '') AS w
           FROM documents),
         dl AS (SELECT doc_id, len(w) AS len FROM d WHERE len(w) > 0),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     avg(len) AS avgdl FROM dl),
         toks AS (SELECT doc_id, unnest(w) AS term FROM d),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('dup', 'spark', 'window') GROUP BY 1, 2),
         df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         sc AS (
           SELECT tf.doc_id,
             round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
               (tf * 2.2) /
               (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / avgdl))), 4) AS score
           FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats
           GROUP BY tf.doc_id)
         SELECT doc_id, score FROM sc
         ORDER BY score DESC, doc_id LIMIT 20""")),

    Declared("txt21_term_search", (s, dir) => {
      // boolean AND search through a PERSISTED inverted index: posting
      // ROWS (term, doc_id) round-trip parquet (never per-term arrays
      // — a stopword's postings are billions of rows at scale, fine
      // as rows, fatal as one array), term predicate pushed to the
      // index scan, then one query-sized count-distinct-terms filter.
      val d = t(s, dir, "documents")
      val tmp = scratchPath("graft_txt21", dir)
      Search.invertedIndex(d, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/index")
      Search.andSearch(s.read.parquet(s"$tmp/index"),
          Seq("dup", "spark", "window"))
        .orderBy(col("doc_id").asc)
    },
      Some(raw"""WITH w AS (
           SELECT doc_id, unnest($wordArray) AS term
           FROM documents),
         w2 AS (SELECT DISTINCT doc_id, term FROM w WHERE term <> '')
         SELECT doc_id FROM w2
         WHERE term IN ('dup', 'spark', 'window')
         GROUP BY doc_id HAVING count(*) = 3
         ORDER BY doc_id""")),

    Declared("txt19_grouped_hh", (s, dir) =>
      // per-SOURCE heavy hitters: each source's own frequent words at
      // its own threshold (0.5% of the source's word count) — the
      // per-domain boilerplate-candidate primitive. Same
      // sketch-then-verify exactness as txt16, sketch keyed per
      // group: one grouped Misra-Gries aggregate (long tail never
      // shuffles), candidates + group totals broadcast back, exact
      // counts thresholded per group. Oracle replays it as a plain
      // grouped HAVING against the per-source totals.
      Freq.groupedHeavyHitters(words(t(s, dir, "documents"), "source"),
          groupCols = Seq("source"), itemCol = "word",
          minFraction = 0.005, estimatedGroups = 64)
        .orderBy(col("source").asc, col("n").desc, col("word").asc),
      Some(raw"""WITH words AS (
           SELECT source, unnest($wordArray) AS word
           FROM documents),
         w AS (SELECT source, word FROM words WHERE word <> ''),
         t AS (SELECT source, count(*) AS n_grp FROM w GROUP BY source)
         SELECT w.source AS source, w.word AS word,
           CAST(count(*) AS BIGINT) AS n
         FROM w JOIN t ON w.source IS NOT DISTINCT FROM t.source
         GROUP BY w.source, w.word, t.n_grp
         HAVING count(*) >= ceil(t.n_grp * 0.005)
         ORDER BY source, n DESC, word""")),

    Declared("txt23_collocations", (s, dir) =>
      // corpus collocation mining: adjacent pairs co-occurring beyond
      // their unigram expectation, ranked by LIFT (= e^PMI — monotone
      // with PMI, but exact: integer counts, decimal products, ONE
      // double division, no transcendental anywhere the oracle could
      // diverge on). Bigrams assemble scan-side via zip_with — no
      // posexplode self-join — and the only corpus-cardinality work
      // is one map-side-combined groupBy(w1, w2); marginals and N
      // re-aggregate the distinct-bigram digest table.
      graft.operators.Freq.collocations(t(s, dir, "documents"), "text",
          minCount = 20L)
        .orderBy(col("w1").asc, col("w2").asc),
      // exact integer lift: DuckDB's sums are HUGEINT (the engine's are
      // decimal(38,0)); one double division closes it — marginals from
      // the UNFILTERED bigram table, cast to BIGINT for schema parity
      Some(raw"""WITH w AS (
           ${wordsSql("documents", "")}),
         b0 AS (
           SELECT w[i] AS w1, w[i + 1] AS w2
           FROM (SELECT w, unnest(range(1, len(w))) AS i
                 FROM w WHERE len(w) >= 2)),
         bg AS (SELECT w1, w2, count(*) AS n_ab FROM b0
                WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2),
         nn AS (SELECT sum(n_ab) AS n FROM bg),
         lm AS (SELECT w1, sum(n_ab) AS n_a FROM bg GROUP BY 1),
         rm AS (SELECT w2, sum(n_ab) AS n_b FROM bg GROUP BY 1)
         SELECT bg.w1, bg.w2, bg.n_ab,
           CAST(lm.n_a AS BIGINT) AS n_a, CAST(rm.n_b AS BIGINT) AS n_b,
           CAST(bg.n_ab * (SELECT n FROM nn) AS DOUBLE)
             / CAST(lm.n_a * rm.n_b AS DOUBLE) AS lift
         FROM bg JOIN lm USING (w1) JOIN rm USING (w2)
         WHERE bg.n_ab >= 20
         ORDER BY bg.w1, bg.w2""")),

    Declared("txt24_keywords", (s, dir) =>
      // per-document keyword extraction: top-3 TF-IDF terms per doc
      // (txt8's scoring, rounded 4dp BEFORE ranking so boundary ranks
      // are engine-deterministic), window-ranked PARTITIONED BY DOC —
      // each partition is one doc's vocabulary, so the sort
      // parallelizes across docs with no hot-group risk.
      graft.operators.Search.tfidfKeywords(t(s, dir, "documents"),
          "doc_id", "text", k = 3)
        .orderBy(col("doc_id").asc, col("kw_rank").asc),
      // txt8's scoring replayed per doc, ranked on the ROUNDED score
      // (identical 4dp grids on both engines) with the term tie-break
      Some(raw"""WITH words AS (
           SELECT doc_id, unnest($wordArray) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM words
                WHERE term <> '' GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
               / CAST(dfq.df AS DOUBLE)), 4) AS tfidf
           FROM tf JOIN dfq USING (term)),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term ASC) AS INTEGER) AS kw_rank
           FROM sc)
         SELECT doc_id, term, tf, tfidf, kw_rank FROM r
         WHERE kw_rank <= 3
         ORDER BY doc_id, kw_rank""")),

    Declared("txt22_contam_spans", (s, dir) => {
      // span-LOCALIZED decontamination: WHERE each doc leaks the
      // benchmark (docs 0-4), as maximal merged 8-word-window spans —
      // the production remedy cuts the quoted window, not the whole
      // doc (txt10's doc-level ratio can neither keep the clean 95%
      // of a long doc nor find the leak to cut). Planted leaks: bench
      // doc 0's text APPENDED to every 20th doc (SpliceOffset ids)
      // and bench doc 1's PREPENDED to every doc_id%20==7 (AltOffset
      // ids) —
      // spans must land at the tail resp. head word offsets; bench
      // docs themselves (they are corpus members) must come back as
      // one full-coverage span. Text never shuffles: bench window
      // digests broadcast, corpus windows travel as the dd12 digest
      // pair, the interval merge is a per-doc window. The oracle
      // groups on raw window TEXT — digest-vs-text agreement is the
      // 128-bit collision-freedom claim, as in dd12.
      Decontam.contaminatedSpans(
          docsWithBenchSplices(s, dir, prepends = true), benchDocs(s, dir),
          "doc_id", "text", windowWords = 8)
        .orderBy(col("doc_id").asc, col("span_start").asc)
    },
      // span-level decontamination replays the dd12 window/islands
      // idiom with the probe side swapped from "≥2 occurrences
      // corpus-wide" to "occurs in the benchmark docs" — grouping on
      // raw window text vs the engine's digest pair is the same
      // collision-freedom claim dd12 makes
      Some(raw"""WITH all_docs AS (
           ${benchSplicesDocsSql(prepends = true)}),
         ${windowCtes("all_docs")},
         bw AS (SELECT DISTINCT g FROM win WHERE doc_id < $BenchDocs),
         ${islandCtes("bw")}
         $spansSql""")),

    Declared("txt25_gopher", (s, dir) => {
      // the PUBLISHED hard quality heuristics (Rae et al. 2021,
      // Gopher §A1.1; C4 shares the shape) applied verbatim — the
      // rule set production corpus filters run before any soft score:
      // word-count bounds, mean-word-length bounds, symbol-to-word
      // ratio, bullet/ellipsis line ratios, alpha-word ratio,
      // required-stopword evidence. Every metric reads ONE fused
      // scan-side kernel call per row (gopherStats — the textStats
      // fusion discipline; the composed form re-read the text seven
      // times) whose ratios are exact integer-derived divisions, so
      // every threshold comparison replays bit-for-bit in DuckDB
      // (which recomputes them with its regex engine). Planted docs
      // (+40000) each violate exactly ONE rule family — engineered so
      // the other six rules pass (e.g. the ellipsis doc carries 10
      // words per line so one '...' stays AT the 0.1 symbol boundary)
      // — plus one doc that passes all seven; the oracle thus pins
      // each rule's firing, not just the conjunction. (40000 bullet
      // lines sit at 10/11 ≈ 0.909, just over the 0.9 gate.)
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = Seq(
        40000L -> (("• the point of and with list\n" * 10) + "end"),
        40001L -> ("# tagging often the and " * 20),
        40002L -> "too short to keep the and",
        40003L -> ("pneumonoultramicroscopicsilicovolcanoconiosis of the to " * 15),
        40004L -> (("now then we watch and wait for the next part...\n" * 12)
          + "end"),
        40005L -> ("12345 6789 of the " * 25),
        40006L -> (("the quick brown fox jumps over a lazy dog with zeal " +
          "and grace to be of good cheer that day have fun ") * 5)
      ).toDF("doc_id", "text")
      d.unionByName(planted)
        .select(col("doc_id"),
          textfns.gopherWordCount(col("text")).as("n_words"),
          round(textfns.meanWordLen(col("text")), 4).as("mean_word_len"),
          round(textfns.symbolWordRatio(col("text")), 4).as("symbol_ratio"),
          round(textfns.bulletLineRatio(col("text")), 4).as("bullet_ratio"),
          round(textfns.ellipsisLineRatio(col("text")), 4).as("ellipsis_ratio"),
          round(textfns.alphaWordRatio(col("text")), 4).as("alpha_ratio"),
          textfns.stopwordDistinct(col("text")).as("stop_distinct"),
          textfns.gopherKeep(col("text")).as("keep"))
        .orderBy(col("doc_id").asc)
    },
      // every ratio is an exact division of integer-derived counts, so
      // the threshold comparisons in `keep` replay bit-for-bit; planted
      // docs are rebuilt verbatim with repeat()/chr(10)
      Some(raw"""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT 40000,
             repeat('• the point of and with list' || chr(10), 10) || 'end'
           UNION ALL SELECT 40001, repeat('# tagging often the and ', 20)
           UNION ALL SELECT 40002, 'too short to keep the and'
           UNION ALL SELECT 40003,
             repeat('pneumonoultramicroscopicsilicovolcanoconiosis of the to ', 15)
           UNION ALL SELECT 40004,
             repeat('now then we watch and wait for the next part...' || chr(10), 12) || 'end'
           UNION ALL SELECT 40005, repeat('12345 6789 of the ', 25)
           UNION ALL SELECT 40006,
             repeat('the quick brown fox jumps over a lazy dog with zeal '
               || 'and grace to be of good cheer that day have fun ', 5)),
         nn AS (SELECT doc_id, coalesce(text, '') AS text FROM all_docs),
         sc AS (
           SELECT doc_id, text,
             $wsTokens AS n_words,
             length(regexp_replace(text, '\s+', '', 'g')) AS n_wchars,
             len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_sym,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> regexp_matches(x, '[A-Za-z]'))) END AS n_alpha,
             string_split(text, chr(10)) AS ls
           FROM nn),
         m AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words <= 0 THEN 0.0
                  ELSE CAST(n_wchars AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mwl,
             CASE WHEN n_words <= 0 THEN 0.0
                  ELSE CAST(n_sym AS DOUBLE) / CAST(n_words AS DOUBLE) END AS symr,
             CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '^[-*•‣▪]'))) AS DOUBLE)
               / CAST(greatest(len(ls), 1) AS DOUBLE) AS bulr,
             CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '(\.\.\.|…)$$'))) AS DOUBLE)
               / CAST(greatest(len(ls), 1) AS DOUBLE) AS ellr,
             CASE WHEN n_words <= 0 THEN 0.0
                  ELSE CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) END AS alpr,
             (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END) AS sd
           FROM sc)
         SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
           round(mwl, 4) AS mean_word_len, round(symr, 4) AS symbol_ratio,
           round(bulr, 4) AS bullet_ratio, round(ellr, 4) AS ellipsis_ratio,
           round(alpr, 4) AS alpha_ratio, CAST(sd AS INTEGER) AS stop_distinct,
           (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
             AND symr <= 0.1 AND bulr <= 0.9 AND ellr <= 0.3
             AND alpr >= 0.8 AND sd >= 2 AS keep
         FROM m ORDER BY doc_id""")),

    Declared("txt26_c4", (s, dir) => {
      // the C4 cleaner (Raffel et al. 2020 §2.2) — the OTHER published
      // pipeline next to txt25's Gopher gates, and a REWRITE rather
      // than a gate: keep only prose-shaped lines (terminal
      // punctuation + ≥5 words), then gate pages on ≥3 sentences and
      // the lorem-ipsum / curly-brace markers. The cleaned text is
      // compared by md5 fingerprint (the txt4 discipline — DuckDB
      // recomputes the digest of ITS OWN rewrite, so the transform is
      // verified byte-exactly without shipping megabytes through the
      // hash compare). Planted docs (+50000) pin each rule.
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = Seq(
        50000L -> ("This is a good first sentence with many words.\n" +
          "short line\n" +
          "Another proper sentence is here again today."),
        50001L -> "Lorem Ipsum dolor sit amet consectetur adipiscing elit sed.",
        50002L -> ("function foo() { return 1; }\n" +
          "A code page example here with prose words."),
        50003L -> "One sentence only lives here today.",
        50004L -> ("A first proper sentence stands here.\n" +
          "A second proper sentence stands here!\n" +
          "Does a third proper sentence stand here?")
      ).toDF("doc_id", "text")
      d.unionByName(planted)
        .select(col("doc_id"),
          size(split(coalesce(col("text"), lit("")), "\n")).as("n_lines"),
          textfns.c4KeptLineCount(col("text")).as("n_kept"),
          textfns.c4SentenceCount(col("text")).as("n_sentences"),
          textfns.c4Keep(col("text")).as("keep"),
          md5(encode(textfns.c4CleanLines(col("text")), "UTF-8")).as("clean_fp"))
        .orderBy(col("doc_id").asc)
    },
      // the oracle performs the SAME rewrite and digests its own output
      // — the transform is verified byte-exactly via the fingerprint
      Some(raw"""WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT 50000,
             'This is a good first sentence with many words.' || chr(10)
             || 'short line' || chr(10)
             || 'Another proper sentence is here again today.'
           UNION ALL SELECT 50001,
             'Lorem Ipsum dolor sit amet consectetur adipiscing elit sed.'
           UNION ALL SELECT 50002,
             'function foo() { return 1; }' || chr(10)
             || 'A code page example here with prose words.'
           UNION ALL SELECT 50003, 'One sentence only lives here today.'
           UNION ALL SELECT 50004,
             'A first proper sentence stands here.' || chr(10)
             || 'A second proper sentence stands here!' || chr(10)
             || 'Does a third proper sentence stand here?'),
         base AS (
           SELECT doc_id, coalesce(text, '') AS t,
             string_split(coalesce(text, ''), chr(10)) AS ls
           FROM all_docs),
         m AS (
           SELECT doc_id, len(ls) AS n_lines,
             list_filter(ls, x -> regexp_matches(trim(x), '[.!?]$$')
               AND len(regexp_split_to_array(trim(x), '\s+')) >= 5
               AND length(trim(x)) > 0) AS kept,
             len(regexp_extract_all(t, '[.!?]+')) AS n_sentences,
             t
           FROM base)
         SELECT doc_id, CAST(n_lines AS INTEGER) AS n_lines,
           CAST(len(kept) AS INTEGER) AS n_kept,
           CAST(n_sentences AS INTEGER) AS n_sentences,
           n_sentences >= 3 AND NOT contains(lower(t), 'lorem ipsum')
             AND NOT contains(t, '{') AS keep,
           md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_fp
         FROM m ORDER BY doc_id"""))
  )
}
