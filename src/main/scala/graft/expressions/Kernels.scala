package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernels invoked from generated code (static forwarders give
  * them stable Java names, so `doGenCode` can emit direct calls —
  * the same pattern Spark's own complex expressions use). Keeping the
  * loops here means one JIT-compiled body shared by interpreted eval
  * and whole-stage codegen.
  */
object Kernels {

  /** Cosine similarity of two float vectors. Returns 0.0 when lengths
    * differ or either norm is zero (callers filter those upstream).
    * Single fused pass: dot + both norms in one loop over the unsafe
    * array data — the hot inner loop of ANN scoring at 100 TB.
    */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements() || n == 0) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Dot product of two float vectors (0.0 on length mismatch). */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return 0.0
    var dot = 0.0; var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    dot
  }

  /** Hamming distance of two 64-bit hashes: popcount of their XOR. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Java/RE2 regex `\s`: [ \t\n\x0B\f\r] — the EXACT whitespace
    * set the oracle-replayed `regexp_replace(text, '\s+', ' ')`
    * formulations split on. Character.isWhitespace and String.trim
    * accept supersets (Unicode spaces; all control chars <= 0x20) and
    * would silently diverge on adversarial corpus bytes. */
  @inline private[expressions] def isJavaWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private final val MersennePrime = (1L << 61) - 1

  /** Reduce x (any non-negative 64-bit value) mod 2^61-1. */
  @inline private def mod61(x: Long): Long = {
    val r = (x & MersennePrime) + (x >>> 61)
    if (r >= MersennePrime) r - MersennePrime else r
  }

  /** (a * b) mod 2^61-1 without overflow, for 0 <= a, b < 2^61.
    * Uses the 128-bit product (multiplyHigh) and the Mersenne identity
    * 2^64 ≡ 8 (mod 2^61-1): hi·2^64 + lo ≡ hi·8 + lo. A plain `a * b`
    * wraps at 2^63 and silently breaks the universal-hash property the
    * minhash permutation family depends on. */
  @inline private def mulmod61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    mod61(((hi << 3) | (lo >>> 61)) + (lo & MersennePrime))
  }

  /** Distinct 64-bit hashes of the word n-gram shingle set of a
    * document, in one pass: lowercase → whitespace-split → per-word
    * FNV-1a 64 → windowed mix over n consecutive word hashes →
    * sort+dedup. Replaces a Catalyst chain of
    * transform(sequence)+slice+concat_ws+array_distinct+xxhash64 whose
    * per-element interpreted lambdas and intermediate string arrays
    * cost ~20µs/shingle — this kernel is ~100ns/shingle and allocates
    * one long array. Scan-side signature computation is the single
    * hottest loop of corpus dedup at 100 TB.
    */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    // Locale.ROOT: default-locale lowercasing is machine-dependent
    // (tr_TR dotless-i) and must match wordShingleStrings exactly —
    // the two are the estimate/verify halves of the same pipeline
    val text = s.toString.toLowerCase(java.util.Locale.ROOT)
    // split on whitespace runs without regex
    val len = text.length
    var wordCount = 0
    var inWord = false
    var i = 0
    while (i < len) {
      val ws = isJavaWs(text.charAt(i))
      if (!ws && !inWord) { wordCount += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    if (wordCount < n) return new GenericArrayData(Array.emptyLongArray)
    val wordHash = new Array[Long](wordCount)
    var w = 0; i = 0; inWord = false
    var h = 0xcbf29ce484222325L // FNV offset
    while (i < len) {
      val c = text.charAt(i)
      if (!isJavaWs(c)) {
        if (!inWord) { h = 0xcbf29ce484222325L; inWord = true }
        h = (h ^ c.toLong) * 0x100000001b3L // FNV prime
      } else if (inWord) {
        wordHash(w) = h; w += 1; inWord = false
      }
      i += 1
    }
    if (inWord) { wordHash(w) = h; w += 1 }
    val nSh = wordCount - n + 1
    val out = new Array[Long](nSh)
    var j = 0
    while (j < nSh) {
      var acc = 0x9e3779b97f4a7c15L
      var k2 = 0
      while (k2 < n) {
        acc = java.lang.Long.rotateLeft(acc ^ wordHash(j + k2), 27) * 0x100000001b3L
        k2 += 1
      }
      out(j) = acc
      j += 1
    }
    java.util.Arrays.sort(out)
    var uniq = 1
    j = 1
    while (j < nSh) { if (out(j) != out(j - 1)) { out(uniq) = out(j); uniq += 1 }; j += 1 }
    new GenericArrayData(java.util.Arrays.copyOf(out, uniq))
  }

  /** k-permutation MinHash signature over an array of 64-bit element
    * hashes. Permutations h_i(x) = (a_i*x + b_i) mod (2^61-1) with
    * (a_i, b_i) derived deterministically from `seed` — every row and
    * every executor derives the same coefficients, so signatures are
    * reproducible cluster-wide with no broadcast state.
    */
  // (k, seed) → packed coefficient pairs [a0,b0,a1,b1,…]. The family
  // is a pure function of (k, seed), so derive it ONCE per executor
  // instead of once per ROW — the per-row SplittableRandom spin-up
  // (2k nextLong calls) and two array allocations otherwise rival the
  // O(n·k) permutation loop itself for short documents.
  private val minHashCoeffs =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), Array[Long]]()
  private def coeffsFor(k: Int, seed: Long): Array[Long] =
    minHashCoeffs.computeIfAbsent((k, seed), { case (kk, s) =>
      val rnd = new java.util.SplittableRandom(s)
      val cs = new Array[Long](2 * kk)
      var j = 0
      while (j < kk) {
        cs(2 * j) = (rnd.nextLong() & Long.MaxValue) % (MersennePrime - 1) + 1
        cs(2 * j + 1) = (rnd.nextLong() & Long.MaxValue) % MersennePrime
        j += 1
      }
      cs
    })

  def minHashSignature(hashes: ArrayData, k: Int, seed: Long): ArrayData = {
    val cs = coeffsFor(k, seed)
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = mod61(hashes.getLong(i) & Long.MaxValue)
      j = 0
      while (j < k) {
        val v = mod61(mulmod61(cs(2 * j), h) + cs(2 * j + 1))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    if (n == 0) java.util.Arrays.fill(sig, 0L)
    new GenericArrayData(sig)
  }

  /** LSH band keys from a minhash signature: one 64-bit mixed hash per
    * band over that band's `r` signature values (+ the band index, so
    * equal slices in different bands never co-bucket). Replaces the
    * composed slice→cast-to-string→concat_ws→xxhash64 Column chain,
    * which allocated ~bands slices and ~80 chars of decimal strings
    * per ROW and dominated the whole LSH pipeline. Key values differ
    * from the old derivation but bucketing semantics are identical:
    * rows co-bucket iff their band slices are equal (64-bit mix
    * collisions only ever ADD candidates, which exact verification
    * then removes — never drop them).
    */
  def lshBandKeys(sig: ArrayData, bands: Int, r: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x9e3779b97f4a7c15L ^ b.toLong
      var i = 0
      // clamp to the signature's actual length: a sig shorter than
      // bands*r (public-API misuse) mixes only the available elements
      // — like the old slice()-based chain, which truncated past-end
      // slices — instead of reading out of bounds (silent garbage on
      // UnsafeArrayData, throw on GenericArrayData)
      val end = math.min(r, n - b * r)
      while (i < end) {
        var x = sig.getLong(b * r + i)
        x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
        h = (h ^ x) * 0xc4ceb9fe1a85ec53L
        h ^= h >>> 29
        i += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct 64-bit hashes of CHARACTER n-gram shingles — the dedup
    * input for scripts without word boundaries (CJK, Thai) where
    * whitespace shingling degenerates to one giant token. Operates on
    * Unicode code points (not UTF-16 units) so astral-plane characters
    * hash as single symbols; whitespace runs collapse to one space so
    * formatting differences don't change the shingle set. */
  def charShingleHashes(s: UTF8String, n: Int): ArrayData = {
    val raw = s.toString.toLowerCase(java.util.Locale.ROOT).trim
    // collapse whitespace runs + convert to code points in one pass
    val cps = new Array[Int](raw.length)
    var m = 0
    var i = 0
    var lastWs = false
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      if (Character.isWhitespace(cp)) {
        if (!lastWs && m > 0) { cps(m) = ' '; m += 1 }
        lastWs = true
      } else {
        cps(m) = cp; m += 1; lastWs = false
      }
      i += Character.charCount(cp)
    }
    while (m > 0 && cps(m - 1) == ' ') m -= 1
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val nSh = m - n + 1
    val out = new Array[Long](nSh)
    var j = 0
    while (j < nSh) {
      var acc = 0x9e3779b97f4a7c15L
      var k2 = 0
      while (k2 < n) {
        acc = java.lang.Long.rotateLeft(acc ^ cps(j + k2).toLong, 27) * 0x100000001b3L
        k2 += 1
      }
      out(j) = acc
      j += 1
    }
    java.util.Arrays.sort(out)
    var uniq = 1
    j = 1
    while (j < nSh) { if (out(j) != out(j - 1)) { out(uniq) = out(j); uniq += 1 }; j += 1 }
    new GenericArrayData(java.util.Arrays.copyOf(out, uniq))
  }

  /** Distinct word n-gram shingle STRINGS (space-joined, lowercased,
    * whitespace-normalized) in one pass — the string twin of
    * [[shingleHashes]] for operators that need exact set semantics
    * (n-gram Jaccard audit). Output order is first-occurrence; set
    * consumers (explode→group, intersect) are order-insensitive. */
  def wordShingleStrings(s: UTF8String, n: Int): ArrayData =
    wordShingleStrings(s, n, keepDuplicates = false)

  /** Every word n-gram shingle occurrence, in order. */
  def wordShinglesAll(s: UTF8String, n: Int): ArrayData =
    wordShingleStrings(s, n, keepDuplicates = true)

  /** As above; `keepDuplicates = true` emits EVERY shingle occurrence
    * in order — the multiset consumers (bigram language models,
    * repetition measures) need, where the dedup variant would skew
    * counts. */
  def wordShingleStrings(s: UTF8String, n: Int, keepDuplicates: Boolean): ArrayData = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    // tokenize on the strict regex \s set, matching the oracle-replayed
    // lower/collapse/trim/split normalization — String.trim would also
    // strip non-\s control chars and shift token boundaries
    val words = new java.util.ArrayList[String]()
    var ti = 0; var start = -1
    val slen = str.length
    while (ti < slen) {
      if (isJavaWs(str.charAt(ti))) {
        if (start >= 0) { words.add(str.substring(start, ti)); start = -1 }
      } else if (start < 0) start = ti
      ti += 1
    }
    if (start >= 0) words.add(str.substring(start, slen))
    if (words.size < n) return new GenericArrayData(Array.empty[Any])
    val seen: java.util.Collection[String] =
      if (keepDuplicates) new java.util.ArrayList[String](words.size)
      else new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.size - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words.get(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k2 = 0
    while (it.hasNext) { out(k2) = UTF8String.fromString(it.next()); k2 += 1 }
    new GenericArrayData(out)
  }

  // CANONICAL stopword tables — graft.functions.textfns.stopwords (the
  // regex twin the oracles replay) derives from these, so the kernel
  // and the regex formulations cannot drift apart. All entries are
  // <= 3 ASCII chars by design (the run-buffer match depends on it).
  val StopEn = Array("the", "of", "and", "to", "in")
  val StopDe = Array("der", "die", "das", "und", "ist")
  val StopFr = Array("le", "les", "une", "et", "est")
  val StopEs = Array("el", "los", "las", "una", "es")
  val ZhChars = Array('的', '是', '了', '在', '和')

  /** Gopher's required-stopword list (Rae et al. 2021 §A1.1) —
    * graft.functions.textfns.GopherStops derives from this. All
    * entries are <= 4 ASCII chars ([[gopherStats]]'s run buffer
    * depends on it). */
  val GopherStopWords: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** One-pass corpus text statistics — the fused scan-side kernel
    * behind langId / qualityScore / wsTokenCount. Replaces ~25
    * separate regex passes per document (5 stopword alternations × 4
    * languages + zh substrings + token/punct counts) with a single
    * traversal; at corpus scale that is the difference between one
    * and twenty-five reads of every byte of text.
    *
    * Exact semantic twins of the regex formulations (which the DuckDB
    * oracles replay):
    *   - s_xx = count of `\b(w1|..|w5)\b` matches on lower(text):
    *     a match occurs iff a MAXIMAL word-char run equals a stopword
    *     — tracked here by buffering runs up to 3 lowercased chars.
    *     Word chars are the ASCII set [a-zA-Z0-9_] — RE2's `\b`
    *     flavor, which the DuckDB oracles replay. (Java's `\b` is
    *     Unicode-aware: a non-ASCII letter like σ EXTENDS a run there
    *     instead of breaking it, so a Spark regexp formulation
    *     diverges from both this kernel and RE2 on inputs where an
    *     ASCII run abuts a non-ASCII letter.)
    *   - s_zh = total occurrences of the five CJK marker chars.
    *   - n_words = `length(trim(s))==0 ? 0 : size(split(trim(s),"\s+"))`
    *     with Spark's space-only trim and split(limit=-1) semantics
    *     (leading/trailing non-space whitespace yields phantom empty
    *     fields — reproduced bug-for-bug).
    *   - n_punct = count of [.,;:!?]; n_chars = code points.
    *
    * Lowercasing here is per-char, with the one structural exception
    * handled explicitly: U+0130 (İ, Unicode's only unconditional
    * one-to-many lowercase mapping) full-lowercases to "i"+U+0307, so
    * under lower()-then-regex the i extends a word run and the
    * combining mark then breaks it — reproduced below. Context-
    * sensitive mappings (final sigma) never map into [a-zA-Z0-9_], so
    * they cannot alter run structure.
    *
    * Output: struct(s_en, s_de, s_fr, s_es, s_zh, n_words, n_punct,
    * n_chars) — all ints. */
  def textStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val len = str.length
    var sEn = 0; var sDe = 0; var sFr = 0; var sEs = 0; var sZh = 0
    var nPunct = 0; var nChars = 0
    // word-run state: buffered lowercased chars (runs > 3 can't match)
    var runLen = 0
    var r0 = ' '; var r1 = ' '; var r2 = ' '
    def isWordChar(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'
    def matchIn(tbl: Array[String]): Boolean = {
      var i = 0
      while (i < tbl.length) {
        val w = tbl(i)
        if (w.length == runLen &&
            w.charAt(0) == r0 &&
            (runLen < 2 || w.charAt(1) == r1) &&
            (runLen < 3 || w.charAt(2) == r2)) return true
        i += 1
      }
      false
    }
    def endRun(): Unit = {
      if (runLen >= 1 && runLen <= 3) {
        if (matchIn(StopEn)) sEn += 1
        if (matchIn(StopDe)) sDe += 1
        if (matchIn(StopFr)) sFr += 1
        if (matchIn(StopEs)) sEs += 1
      }
      runLen = 0
    }
    // n_words state (over the space-only-trimmed string)
    var firstNonSpace = 0
    while (firstNonSpace < len && str.charAt(firstNonSpace) == ' ') firstNonSpace += 1
    var lastNonSpace = len - 1
    while (lastNonSpace >= firstNonSpace && str.charAt(lastNonSpace) == ' ') lastNonSpace -= 1
    // the shared regex-\s set — one definition (isJavaWs) so the
    // token-count semantics can never silently desynchronize from the
    // shingling/normalization kernels
    def isWs(c: Char): Boolean = isJavaWs(c)
    var nTokens = 0
    var inToken = false
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      val cc = Character.charCount(cp)
      nChars += 1
      if (cc == 1) {
        val c = str.charAt(i)
        // stopword runs (on the lowercased view)
        if (c == 'İ') {
          // İ full-lowercases to "i" + combining dot above: the i
          // extends the current run, the combining mark ends it
          runLen += 1
          if (runLen == 1) r0 = 'i' else if (runLen == 2) r1 = 'i'
          else if (runLen == 3) r2 = 'i'
          endRun()
        } else {
          val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else Character.toLowerCase(c)
          if (isWordChar(lc)) {
            runLen += 1
            if (runLen == 1) r0 = lc else if (runLen == 2) r1 = lc
            else if (runLen == 3) r2 = lc
          } else endRun()
        }
        // zh markers
        var z = 0
        while (z < ZhChars.length) { if (c == ZhChars(z)) sZh += 1; z += 1 }
        // punctuation
        if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?')
          nPunct += 1
        // tokens within the space-trimmed window
        if (i >= firstNonSpace && i <= lastNonSpace) {
          if (!isWs(c)) { if (!inToken) { nTokens += 1; inToken = true } }
          else inToken = false
        }
      } else {
        // supplementary code point: non-word, non-ws, not a marker
        endRun()
        if (i >= firstNonSpace && i <= lastNonSpace && !inToken) {
          nTokens += 1; inToken = true
        }
      }
      i += cc
    }
    endRun()
    val nWords =
      if (lastNonSpace < firstNonSpace) 0 // blank after space-trim
      else {
        // Spark split = Java split with limit -1: a leading \s char in
        // the trimmed string yields a phantom empty LEADING field, and
        // (unlike Java's default limit 0) a trailing \s char yields a
        // phantom empty TRAILING field — reproduced bug-for-bug
        val leading = if (isWs(str.charAt(firstNonSpace))) 1 else 0
        val trailing = if (isWs(str.charAt(lastNonSpace))) 1 else 0
        nTokens + leading + trailing
      }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](sEn, sDe, sFr, sEs, sZh, nWords, nPunct, nChars))
  }

  /** One-pass Gopher hard-rule statistics — the fused scan-side kernel
    * behind the whole published-rule family (meanWordLen /
    * symbolWordRatio / alphaWordRatio / bulletLineRatio /
    * ellipsisLineRatio / stopwordDistinct / gopherKeep). The composed
    * formulation evaluated seven separate regex pipelines per
    * document, each re-reading every byte; this is the [[textStats]]
    * discipline applied to the Gopher rules: one traversal (plus a
    * short second pass for the non-overlapping symbol scan).
    *
    * Exact semantic twins of the regex formulations the DuckDB oracle
    * replays:
    *   - n_words: [[textStats]]'s token count to the bit — space-only
    *     trim, `\s`-run tokens, split(limit=-1) phantom-field
    *     semantics reproduced bug-for-bug.
    *   - n_wchars = `length(regexp_replace(s, "\s+", ""))` — CODE
    *     POINTS that are not regex-\s, over the untrimmed string.
    *   - n_sym = count of left-to-right NON-OVERLAPPING matches of
    *     `#|\.\.\.|…` ("...." counts once: the fourth dot has no two
    *     followers).
    *   - n_alpha = tokens containing >= 1 ASCII letter (the `[A-Za-z]`
    *     class is identical in Java regex and RE2); phantom empty
    *     tokens count in n_words but never in n_alpha, exactly like
    *     `filter(ws, _.rlike("[A-Za-z]"))`.
    *   - n_lines = count('\n') + 1 (split keeps the trailing empty
    *     field); n_bullet = lines whose space-trimmed form STARTS
    *     with one of -*•‣▪; n_ellipsis = lines whose space-trimmed
    *     form ENDS (\z, end-of-text — a surviving \r blocks it, the
    *     CRLF contract) with "..." or '…'.
    *   - n_stop = DISTINCT [[GopherStopWords]] present as maximal
    *     lowercased word-char runs — RE2's ASCII `\b` flavor (the
    *     oracle's), with [[textStats]]'s İ one-to-many lowercase
    *     exception reproduced. (Java's Unicode-aware \b diverges when
    *     an ASCII run abuts a non-ASCII letter — same documented
    *     divergence as textStats' s_xx scores.)
    *
    * Output: struct(n_words, n_wchars, n_sym, n_alpha, n_lines,
    * n_bullet, n_ellipsis, n_stop) — all ints. */
  def gopherStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val len = str.length
    val stops = GopherStopWords
    var nWchars = 0; var nAlpha = 0
    var nLines = 0; var nBullet = 0; var nEllipsis = 0
    var stopMask = 0
    // stopword word-run state: buffered lowercased chars (runs > 4
    // cannot match any Gopher stopword)
    var runLen = 0
    var r0 = ' '; var r1 = ' '; var r2 = ' '; var r3 = ' '
    def isWordChar(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'
    def endRun(): Unit = {
      if (runLen >= 2 && runLen <= 4) {
        var w = 0
        while (w < stops.length) {
          val sw = stops(w)
          if (sw.length == runLen &&
              sw.charAt(0) == r0 && sw.charAt(1) == r1 &&
              (runLen < 3 || sw.charAt(2) == r2) &&
              (runLen < 4 || sw.charAt(3) == r3)) stopMask |= 1 << w
          w += 1
        }
      }
      runLen = 0
    }
    def finishLine(ls: Int, le: Int): Unit = {
      nLines += 1
      var a = ls
      while (a < le && str.charAt(a) == ' ') a += 1
      var b = le
      while (b > a && str.charAt(b - 1) == ' ') b -= 1
      if (b > a) {
        val c0 = str.charAt(a)
        if (c0 == '-' || c0 == '*' || c0 == '•' || c0 == '‣' || c0 == '▪')
          nBullet += 1
        if (str.charAt(b - 1) == '…' ||
            (b - a >= 3 && str.charAt(b - 1) == '.' &&
             str.charAt(b - 2) == '.' && str.charAt(b - 3) == '.'))
          nEllipsis += 1
      }
    }
    // n_words state over the space-only-trimmed window (textStats)
    var firstNonSpace = 0
    while (firstNonSpace < len && str.charAt(firstNonSpace) == ' ') firstNonSpace += 1
    var lastNonSpace = len - 1
    while (lastNonSpace >= firstNonSpace && str.charAt(lastNonSpace) == ' ') lastNonSpace -= 1
    def isWs(c: Char): Boolean = isJavaWs(c)
    var nTokens = 0
    var inToken = false
    var tokenAlpha = false
    var lineStart = 0
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      val cc = Character.charCount(cp)
      if (cc == 1) {
        val c = str.charAt(i)
        // stopword runs (on the lowercased view) — textStats' İ rule
        if (c == 'İ') {
          runLen += 1
          if (runLen == 1) r0 = 'i' else if (runLen == 2) r1 = 'i'
          else if (runLen == 3) r2 = 'i' else if (runLen == 4) r3 = 'i'
          endRun()
        } else {
          val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else Character.toLowerCase(c)
          if (isWordChar(lc)) {
            runLen += 1
            if (runLen == 1) r0 = lc else if (runLen == 2) r1 = lc
            else if (runLen == 3) r2 = lc else if (runLen == 4) r3 = lc
          } else endRun()
        }
        if (!isWs(c)) nWchars += 1
        if (c == '\n') { finishLine(lineStart, i); lineStart = i + 1 }
        if (i >= firstNonSpace && i <= lastNonSpace) {
          if (!isWs(c)) {
            if (!inToken) { nTokens += 1; inToken = true; tokenAlpha = false }
            if (!tokenAlpha && ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))) {
              nAlpha += 1; tokenAlpha = true
            }
          } else inToken = false
        }
      } else {
        // supplementary code point: non-word, non-ws, not a letter
        endRun()
        nWchars += 1
        if (i >= firstNonSpace && i <= lastNonSpace && !inToken) {
          nTokens += 1; inToken = true; tokenAlpha = false
        }
      }
      i += cc
    }
    endRun()
    finishLine(lineStart, len)
    val nWords =
      if (lastNonSpace < firstNonSpace) 0 // blank after space-trim
      else {
        // split(limit=-1) phantom leading/trailing empty fields —
        // see textStats
        val leading = if (isWs(str.charAt(firstNonSpace))) 1 else 0
        val trailing = if (isWs(str.charAt(lastNonSpace))) 1 else 0
        nTokens + leading + trailing
      }
    // non-overlapping symbol scan: alternation order #, ..., … — each
    // arm starts with a distinct char, so a simple first-match walk
    // reproduces regex find() exactly
    var nSym = 0
    var j = 0
    while (j < len) {
      val c = str.charAt(j)
      if (c == '#') { nSym += 1; j += 1 }
      else if (c == '.' && j + 2 < len &&
               str.charAt(j + 1) == '.' && str.charAt(j + 2) == '.') {
        nSym += 1; j += 3
      }
      else if (c == '…') { nSym += 1; j += 1 }
      else j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, nWchars, nSym, nAlpha, nLines, nBullet,
        nEllipsis, Integer.bitCount(stopMask)))
  }

  /** Fraction of positions on which two MinHash signatures agree — an
    * unbiased estimate of the Jaccard similarity. Used as a cheap
    * prefilter so exact shingle-set verification only runs on
    * candidates whose estimated similarity is near the threshold. */
  def minHashAgreement(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n == 0 || n != b.numElements()) return 0.0
    var eq = 0; var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n.toDouble
  }

  /** 64-bit SimHash over an array of element hashes: per bit, sum +1/-1
    * votes across elements; the sign of each sum is the output bit. */
  def simHash64(hashes: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L; var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Signed-random-projection (SRP) LSH bucket of a float vector:
    * `nBits` sign bits of dot products with pseudo-random hyperplanes,
    * packed into one long. Hyperplane coefficient (b, i) derives from
    * byteswap-mixing (seed, b, i) — reproducible on every executor with
    * zero broadcast state. One fused O(nBits·dim) loop; replaces a
    * composed per-element expression tree that overflowed janino's
    * method-size limit and fell back to interpretation.
    */
  def srpBucket(vec: ArrayData, nBits: Int, seed: Long): Long = {
    val n = vec.numElements()
    var out = 0L
    var b = 0
    while (b < nBits) {
      val base = seed + b.toLong * 131071L
      var dot = 0.0
      var i = 0
      while (i < n) {
        val h = java.lang.Long.reverseBytes((base + i.toLong * 524287L) * 0x9e3779b97f4a7c15L)
        dot += vec.getFloat(i).toDouble * (h.toDouble / Long.MaxValue.toDouble)
        i += 1
      }
      if (dot >= 0.0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Polynomial rolling-hash fingerprint of a UTF-8 string:
    * h = sum(byte_i * base^i) mod (2^61-1). Order-sensitive (unlike a
    * bag-of-bytes hash) and incremental — the building block for
    * content-defined chunking / winnowing at scale.
    */
  def polyFingerprint(s: UTF8String, base: Long): Long = {
    val bytes = s.getBytes
    var h = 0L; var pow = 1L; var i = 0
    while (i < bytes.length) {
      val b = (bytes(i) & 0xffL) + 1L
      h = mod61(h + mulmod61(b, pow))
      pow = mulmod61(pow, base)
      i += 1
    }
    h
  }

  /** Binary search over a SORTED-ascending array<bigint> — the O(log B)
    * membership probe behind [[graft.expressions.Native.sortedContains]].
    * Empty arrays return false. */
  def sortedContains(arr: ArrayData, v: Long): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val x = arr.getLong(mid)
      if (x == v) return true
      if (x < v) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  /** Query-directed multiprobe SRP buckets: the base [[srpBucket]]
    * code plus the codes reached by flipping the lowest-|margin|
    * hyperplane bits, in increasing-margin order (the bits most likely
    * to disagree for a true near neighbor are those whose projection
    * is closest to the hyperplane). Returns `min(probes, nBits+1)`
    * DISTINCT codes; element 0 is always the base bucket, so
    * probes = 1 reproduces [[srpBucket]] exactly. Hyperplane
    * derivation is bit-identical to [[srpBucket]] — multiprobe query
    * codes join the same corpus buckets. */
  def srpProbes(vec: ArrayData, nBits: Int, seed: Long, probes: Int): ArrayData = {
    val n = vec.numElements()
    val dots = new Array[Double](nBits)
    var base0 = 0L
    var b = 0
    while (b < nBits) {
      val base = seed + b.toLong * 131071L
      var dot = 0.0
      var i = 0
      while (i < n) {
        val h = java.lang.Long.reverseBytes((base + i.toLong * 524287L) * 0x9e3779b97f4a7c15L)
        dot += vec.getFloat(i).toDouble * (h.toDouble / Long.MaxValue.toDouble)
        i += 1
      }
      dots(b) = dot
      if (dot >= 0.0) base0 |= (1L << b)
      b += 1
    }
    val order = Array.range(0, nBits).sortBy(i => math.abs(dots(i)))
    val np = math.max(1, math.min(probes, nBits + 1))
    val out = new Array[Long](np)
    out(0) = base0
    var p = 1
    while (p < np) { out(p) = base0 ^ (1L << order(p - 1)); p += 1 }
    new GenericArrayData(out)
  }

  /** Rank of `v` in a SORTED-ascending array<double>: the number of
    * elements strictly below `v` (lower bound) — the O(log B)
    * equi-depth bucket map behind [[graft.operators.Layout.zOrderKey]],
    * replacing a 2^bits−1-term chained comparison fold. Exact
    * semantic twin of `cuts.count(_ < v)` including duplicate cuts
    * (a run of equal cuts collapses to one boundary), NaN probes
    * (every comparison false → rank 0) and empty arrays (rank 0). */
  def sortedRankD(arr: ArrayData, v: Double): Long = {
    var lo = 0
    var hi = arr.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getDouble(mid) < v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  /** String flavor of [[sortedContains]]: binary search over a
    * SORTED-ascending array<string> with no null elements.
    * `UTF8String.compareTo` is binary-lexicographic, matching the
    * ordering `sort_array` applies to strings. */
  def sortedContainsUtf8(arr: ArrayData, v: UTF8String): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val cmp = arr.getUTF8String(mid).compareTo(v)
      if (cmp == 0) return true
      if (cmp < 0) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  /** ALL sliding `w`-word windows of the normalized text as
    * (start, h1, h2) rows — the fused duplicated-spans primitive.
    * Replaces the composed split → explode(sequence) → slice →
    * concat_ws → xxhash64×2 chain, which re-built every window STRING
    * (array slice + string alloc + two UTF8 hashes per window, the
    * whole-doc char data copied w times over). One pass here: words
    * are segmented once (same \s-run segmentation as
    * `split(normalizeText(text), " ")` — the shingleHashes contract),
    * each word gets TWO independent 64-bit FNV streams, and each
    * window combines w word-hashes per stream with rotate-multiply
    * mixing — O(chars + windows·w) with no per-window allocation
    * beyond the output row.
    *
    * Digest semantics: equal window word-sequences ⇒ equal (h1, h2);
    * unequal sequences collide only if BOTH independent 64-bit streams
    * collide (~2^-128) — the same dual-fingerprint standard as
    * [[Dedup]]'s spanningPairs/duplicatedSpans, whose oracles group on
    * the raw window text and so pin digest-vs-text agreement per run.
    * Docs under w words yield an empty array. Start indices are
    * 0-based word offsets into the normalized split, the span
    * contract's coordinate system.
    *
    * Lowercasing goes through UTF8String.toLowerCase — the exact code
    * path of Spark's `lower()`, which the composed formulation this
    * kernel replaces (and the window-TEXT oracle replay the span
    * consumers group on) uses. Neither a bare `String.toLowerCase`
    * nor `Locale.ROOT` matches it under a Turkish or Azeri JVM default
    * locale, where `I` lowercases to dotless `ı`: `lower()` maps an
    * all-ASCII string locale-free but a string with any non-ASCII char
    * through the default locale, so a bare call diverges on ASCII text
    * and `Locale.ROOT` on mixed text. Kernel-digest vs lower()-text
    * normalizations must agree byte-for-byte — the
    * [[graft.operators.Bpe.encode]] discipline. */
  def windowDigestPairs(s: UTF8String, w: Int): ArrayData = {
    val text = s.toLowerCase.toString
    val len = text.length
    var wordCount = 0
    var inWord = false
    var i = 0
    while (i < len) {
      val ws = isJavaWs(text.charAt(i))
      if (!ws && !inWord) { wordCount += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    if (wordCount < w) return new GenericArrayData(Array.empty[Any])
    val wh1 = new Array[Long](wordCount)
    val wh2 = new Array[Long](wordCount)
    var k = 0; i = 0; inWord = false
    var h1 = 0xcbf29ce484222325L
    var h2 = 0x84222325cbf29ce4L
    while (i < len) {
      val c = text.charAt(i)
      if (!isJavaWs(c)) {
        if (!inWord) {
          h1 = 0xcbf29ce484222325L; h2 = 0x84222325cbf29ce4L; inWord = true
        }
        h1 = (h1 ^ c.toLong) * 0x100000001b3L
        h2 = (h2 ^ (c.toLong * 0x9E3779B97F4A7C15L)) * 0x100000001b3L
      } else if (inWord) {
        wh1(k) = h1; wh2(k) = h2; k += 1; inWord = false
      }
      i += 1
    }
    if (inWord) { wh1(k) = h1; wh2(k) = h2; k += 1 }
    val nWin = wordCount - w + 1
    val rows = new Array[Any](nWin)
    var j = 0
    while (j < nWin) {
      var a1 = 0x9e3779b97f4a7c15L
      var a2 = 0xc2b2ae3d27d4eb4fL
      var q = 0
      while (q < w) {
        a1 = java.lang.Long.rotateLeft(a1 ^ wh1(j + q), 27) * 0x100000001b3L
        a2 = java.lang.Long.rotateLeft(a2 ^ wh2(j + q), 31) * 0x100000001b3L
        q += 1
      }
      rows(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](j.toLong, a1, a2))
      j += 1
    }
    new GenericArrayData(rows)
  }

  /** Two-pointer intersection of two ASC-sorted distinct long arrays —
    * O(|a|+|b|) on primitive slots. Spark's `array_intersect` builds a
    * BOXED OpenHashSet per evaluation (one per row), which dominated
    * the q64 adjacency-intersection stage (measured ~3 s for 33M
    * elements; this kernel does the same work in ~0.3 s). The caller
    * owns the sorted+distinct contract (build inputs with
    * `sort_array(collect_list(...))` over distinct pairs). Output is
    * ASC-sorted — the same SET as array_intersect. */
  def sortedIntersectL(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val out = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var k = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { out(k) = x; k += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }
}
