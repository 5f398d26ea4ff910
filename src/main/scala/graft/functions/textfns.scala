package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines.
  *
  * All are pure compositions of `org.apache.spark.sql.functions._` —
  * codegen'd, no UDFs — so they run inside whole-stage codegen directly
  * over the parquet scan. Every definition is deliberately replicable
  * in portable SQL (see SparkEntry.oracleSql) so correctness can be
  * cross-checked by an independent engine.
  */
object textfns {

  /** One-pass text statistics struct (stopword hits per language,
    * token/punct/char counts) — the fused scan kernel behind langId /
    * qualityScore / wsTokenCount. Repeated uses of the same field set
    * collapse to ONE kernel call per row under Catalyst common-
    * subexpression elimination in whole-stage codegen. */
  def textStats(text: Column): Column =
    graft.expressions.GraftFunctions.graft_text_stats(text)

  /** Whitespace token count; 0 for empty/blank strings. Kernel twin of
    * `size(split(trim(text), "\\s+"))` (exact semantics, including the
    * blank case). */
  def wsTokenCount(text: Column): Column =
    textStats(text).getField("n_words")

  /** BPE-ish token count: alphabetic runs count 1 per run, digits 1
    * each, any other non-space symbol 1 each — the pre-tokenizer split
    * most BPE vocabularies start from. */
  val BpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Count whole-word occurrences of any of `words` (ASCII word
    * boundaries — identical semantics in Java regex and RE2). Words
    * are regex-quoted (\Q…\E, supported by both engines): an unquoted
    * "c++" would throw at execution and "a.b" would silently match
    * "axb". */
  def wordHits(text: Column, words: Seq[String]): Column =
    // lowercase the WORDS too: the text is lower()-ed, so a pattern
    // containing an uppercase letter could never match anything
    size(regexp_extract_all(lower(text),
      lit("\\b(" + words.map(w =>
        java.util.regex.Pattern.quote(w.toLowerCase)).mkString("|") + ")\\b"),
      lit(0)))

  /** Language-ID stopword tables. Deliberately small, disjoint,
    * ASCII-word-boundary-safe marker sets; zh uses raw substring counts
    * (CJK has no \b boundary in either regex engine). Derived from the
    * kernel's canonical arrays so the one-pass kernel and these regex
    * formulations share one source of truth. */
  val stopwords: Seq[(String, Seq[String])] = {
    import graft.expressions.Kernels
    Seq(
      "en" -> Kernels.StopEn.toSeq,
      "de" -> Kernels.StopDe.toSeq,
      "fr" -> Kernels.StopFr.toSeq,
      "es" -> Kernels.StopEs.toSeq,
      "zh" -> Kernels.ZhChars.map(_.toString).toSeq
    )
  }

  /** Per-language stopword-hit score — kernel field; semantically
    * `wordHits(text, words)` (resp. zh substring counts), pinned equal
    * by TextFnsSpec. */
  def langScore(text: Column, lang: String): Column =
    textStats(text).getField(s"s_$lang")

  /** Heuristic language ID: the first language (in `stopwords` order)
    * whose score is >= every other language's score. Ties resolve to
    * the earlier entry (en first) — deterministic by construction. */
  def langId(text: Column): Column = {
    val scores = stopwords.map { case (l, _) => l -> langScore(text, l) }
    val cascade = scores.zipWithIndex.foldRight(lit("und")) {
      case (((lang, score), _), elseCol) =>
        val geAll = scores.filter(_._1 != lang).map(score >= _._2).reduce(_ && _)
        when(geAll && score > 0, lit(lang)).otherwise(elseCol)
    }
    cascade
  }

  val PunctPattern = "[.,;:!?]"

  /** Punctuation character ratio over total characters. */
  def punctRatio(text: Column): Column =
    textStats(text).getField("n_punct").cast("double") /
      greatest(textStats(text).getField("n_chars"), lit(1)).cast("double")

  /** English stopword density — a standard fluency proxy. */
  def stopwordRatio(text: Column): Column =
    textStats(text).getField("s_en").cast("double") /
      greatest(textStats(text).getField("n_words"), lit(1)).cast("double")

  /** Composite quality score in [0,1]:
    * 0.5·min(words/100,1) + 0.3·min(stopword_ratio·5,1) +
    * 0.2·(1-min(punct_ratio·10,1)). The components (length, fluency,
    * symbol noise) follow published web-corpus filtering heuristics;
    * the exact weights are graft's own, chosen to be SQL-replicable.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(wsTokenCount(text).cast("double") / 100.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    // Deliberately unrounded: every term is an IEEE-exact op over
    // integer-derived doubles, so any engine replaying the formula
    // computes the bit-identical result (decimal rounding would
    // reintroduce engine-specific midpoint tie rules).
    lenScore * 0.5 + stopScore * 0.3 + punctPenalty * 0.2
  }

  /** Whitespace/case-normalized text: the canonical form fed to exact
    * dedup and fingerprinting. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Content fingerprint: md5 of the normalized text (hex string).
    * Engine-independent by construction — any system can recompute it.
    * For a cheaper 8-byte engine-local fingerprint, use
    * [[graft.expressions.GraftFunctions.graft_fingerprint64]]. */
  def contentFingerprint(text: Column): Column =
    md5(encode(normalizeText(text), "UTF-8"))

  /** Pretraining-style text cleaning: strip markup tags, drop URLs,
    * collapse whitespace. Pure regexp chain — runs scan-side in
    * codegen and replays identically in any regex engine (patterns
    * stay within the Java∩RE2 common subset: no backrefs, no
    * lookaround). */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(text, "<[^>]+>", " "),
        "https?://[^\\s]+", " "),
      "\\s+", " "))

  /** PII scrubbing: mask email addresses and phone-shaped digit runs.
    * Same regex-subset discipline as [[cleanText]]. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
      "\\d{3}[-. ]\\d{4}", "<PHONE>")

  /** Within-document repetition ratio: 1 − distinct/total word
    * n-grams — the standard duplicated-n-gram quality signal for
    * pretraining corpora (high ratio ⇒ boilerplate/looping text).
    * 0.0 for documents too short to form a single n-gram. Total count
    * is arithmetic on the word count (no shingle materialization);
    * the distinct count reuses the one-pass codegen shingle kernel —
    * both scan-side. */
  def repetitionRatio(text: Column, n: Int): Column = {
    val total = size(split(normalizeText(text), " ")) - (n - 1)
    val dist = size(graft.expressions.GraftFunctions.graft_word_shingles(text, n))
    // dist === 0 with total > 0 is the blank-document artifact: split
    // of an empty normalized string yields [""] (one phantom token),
    // so n=1 would score a zero-n-gram document as maximally
    // repetitive (1.0) instead of the documented 0.0
    when(total <= 0 || dist === 0, lit(0.0))
      .otherwise(lit(1.0) - dist.cast("double") / total.cast("double"))
  }

  // --- Gopher-style repetition-free quality RULES (Rae et al. 2021,
  // "Scaling Language Models" §A1.1; the C4 pipeline of Raffel et al.
  // 2020 shares the shape). Unlike [[qualityScore]]'s soft composite,
  // these are the published HARD heuristics production corpus filters
  // apply verbatim. Every metric reads a field of the ONE-PASS
  // [[gopherStats]] kernel (the textStats fusion discipline — the
  // previous seven separate regex pipelines each re-read every byte
  // of text); the ratios stay exact divisions of integer-derived
  // counts, so threshold comparisons agree bit-for-bit across
  // engines. The regex formulations survive as private `...Regex`
  // twins that TextFnsSpec pins equal to the kernel per rule.
  //
  // Null contract (the C4 family's): null text coalesces to empty
  // INSIDE gopherStats, so every Gopher metric reports 0/0.0/false
  // for a null document, never null.

  /** One-pass Gopher rule statistics struct — the fused scan kernel
    * behind the whole hard-rule family. Repeated uses of the same
    * field set collapse to ONE kernel call per row under Catalyst
    * common-subexpression elimination in whole-stage codegen. */
  def gopherStats(text: Column): Column =
    graft.expressions.GraftFunctions.graft_gopher_stats(
      coalesce(text, lit("")))

  /** Whitespace word count via the fused kernel — identical to
    * [[wsTokenCount]] except null text reports 0, not null. */
  def gopherWordCount(text: Column): Column =
    gopherStats(text).getField("n_words")

  /** Whitespace-split word array; empty for blank/null text (a bare
    * `split` of an empty string yields one phantom "" token). */
  private def wsWords(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Newline-split lines (no trimming — a document IS its lines). */
  private def nlLines(text: Column): Column = split(text, "\n")

  /** Mean characters per whitespace word (0.0 for empty text):
    * total non-whitespace chars / word count. Gopher keeps documents
    * with mean word length in [3, 10]. */
  def meanWordLen(text: Column): Column = {
    val g = gopherStats(text)
    when(g.getField("n_words") <= 0, lit(0.0)).otherwise(
      g.getField("n_wchars").cast("double")
        / g.getField("n_words").cast("double"))
  }

  private[graft] def meanWordLenRegex(text: Column): Column = {
    val n = wsTokenCount(text)
    when(n <= 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "\\s+", "")).cast("double")
        / n.cast("double"))
  }

  /** Hash-symbol / ellipsis occurrences per word (Gopher's
    * symbol-to-word ratio; keep ≤ 0.1). Counts '#', '...' and '…';
    * left-to-right non-overlapping matching is identical in Java
    * regex and RE2. */
  def symbolWordRatio(text: Column): Column = {
    val g = gopherStats(text)
    when(g.getField("n_words") <= 0, lit(0.0)).otherwise(
      g.getField("n_sym").cast("double")
        / g.getField("n_words").cast("double"))
  }

  private[graft] def symbolWordRatioRegex(text: Column): Column = {
    val n = wsTokenCount(text)
    when(n <= 0, lit(0.0)).otherwise(
      size(regexp_extract_all(text, lit("#|\\.\\.\\.|…"), lit(0)))
        .cast("double") / n.cast("double"))
  }

  /** Fraction of words containing at least one ASCII alphabetic
    * character (Gopher keeps ≥ 0.8 — filters digit soup and
    * separator-art). */
  def alphaWordRatio(text: Column): Column = {
    val g = gopherStats(text)
    when(g.getField("n_words") <= 0, lit(0.0)).otherwise(
      g.getField("n_alpha").cast("double")
        / g.getField("n_words").cast("double"))
  }

  private[graft] def alphaWordRatioRegex(text: Column): Column = {
    val ws = wsWords(text)
    when(size(ws) <= 0, lit(0.0)).otherwise(
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double")
        / size(ws).cast("double"))
  }

  /** Fraction of lines starting with a bullet glyph (Gopher keeps
    * ≤ 0.9). */
  def bulletLineRatio(text: Column): Column = {
    val g = gopherStats(text)
    g.getField("n_bullet").cast("double") /
      greatest(g.getField("n_lines"), lit(1)).cast("double")
  }

  private[graft] def bulletLineRatioRegex(text: Column): Column = {
    val ls = nlLines(text)
    size(filter(ls, l => trim(l).rlike("^[-*•‣▪]"))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  /** Fraction of lines ending with an ellipsis (Gopher keeps ≤ 0.3).
    * Anchored with \z, not $: Java's $ also matches BEFORE a final
    * line terminator (\r survives a \n split and ASCII trim) where
    * RE2's — the oracle engine's — matches end-of-text only; \z means
    * end-of-text in both. */
  def ellipsisLineRatio(text: Column): Column = {
    val g = gopherStats(text)
    g.getField("n_ellipsis").cast("double") /
      greatest(g.getField("n_lines"), lit(1)).cast("double")
  }

  private[graft] def ellipsisLineRatioRegex(text: Column): Column = {
    val ls = nlLines(text)
    size(filter(ls, l => trim(l).rlike("(\\.\\.\\.|…)\\z"))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  /** Gopher's required-stopword list — derived from the kernel's
    * canonical array so the one-pass kernel and the regex twin share
    * one source of truth. */
  val GopherStops: Seq[String] =
    graft.expressions.Kernels.GopherStopWords.toSeq

  /** How many DISTINCT [[GopherStops]] words the text contains as
    * whole words (Gopher keeps ≥ 2 — the minimal running-English
    * evidence). */
  def stopwordDistinct(text: Column): Column =
    gopherStats(text).getField("n_stop")

  private[graft] def stopwordDistinctRegex(text: Column): Column =
    GopherStops.map(w =>
      when(lower(text).rlike("\\b" + w + "\\b"), 1).otherwise(0))
      .reduce(_ + _)

  // --- C4-style LINE-level cleaning (Raffel et al. 2020 §2.2): where
  // Gopher gates whole documents, C4 first REWRITES them — keep only
  // lines that read like prose (terminal punctuation + ≥5 words),
  // then gate on sentence count and page-level artifacts. Null text
  // is treated as empty on every path (metrics 0/false, never null).

  /** Line-keep predicate of the C4 cleaner: trimmed line ends in
    * terminal punctuation and carries ≥ 5 whitespace words. \z, not
    * $ — see [[ellipsisLineRatio]] (a CRLF corpus would otherwise
    * keep lines in Spark that the oracle engine drops). */
  private def c4LineKeep(l: Column): Column =
    trim(l).rlike("[.!?]\\z") &&
      size(split(trim(l), "\\s+")) >= 5 && length(trim(l)) > 0

  /** The C4 line-cleaning REWRITE: only prose-shaped lines survive,
    * re-joined with newlines (empty string when nothing survives). */
  def c4CleanLines(text: Column): Column =
    array_join(filter(nlLines(coalesce(text, lit(""))), c4LineKeep _), "\n")

  /** Lines the cleaner keeps (the rewrite's row-count twin). */
  def c4KeptLineCount(text: Column): Column =
    size(filter(nlLines(coalesce(text, lit(""))), c4LineKeep _))

  /** Sentence count ≈ terminal-punctuation runs — the C4 "at least 3
    * sentences" page gate's counter. */
  def c4SentenceCount(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")), lit("[.!?]+"), lit(0)))

  /** The composed C4 page gate: ≥ 3 sentences, no boilerplate-
    * placeholder marker ("lorem ipsum"), no code-page marker ('{'). */
  def c4Keep(text: Column): Column = {
    val t = coalesce(text, lit(""))
    c4SentenceCount(text) >= 3 &&
      !lower(t).contains("lorem ipsum") && !t.contains("{")
  }

  /** The composed Gopher keep decision at the published defaults:
    * 50 ≤ words ≤ 100000, 3 ≤ mean word length ≤ 10, symbol ratio
    * ≤ 0.1, bullet lines ≤ 0.9, ellipsis lines ≤ 0.3, alpha-word
    * ratio ≥ 0.8, ≥ 2 distinct required stopwords. All seven rules
    * read the ONE fused [[gopherStats]] kernel call (null text →
    * false, the word-count floor fails). Compose with
    * [[repetitionRatio]] for the duplicated-n-gram family (declared
    * separately as txt9). */
  def gopherKeep(text: Column): Column =
    gopherWordCount(text).between(50, 100000) &&
      meanWordLen(text).between(3.0, 10.0) &&
      symbolWordRatio(text) <= 0.1 &&
      bulletLineRatio(text) <= 0.9 &&
      ellipsisLineRatio(text) <= 0.3 &&
      alphaWordRatio(text) >= 0.8 &&
      stopwordDistinct(text) >= 2
}
