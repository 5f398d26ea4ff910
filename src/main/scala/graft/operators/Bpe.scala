package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SmallSide

/** Distributed byte-pair-encoding: the real subword tokenizer of a
  * pretraining pipeline (txt1's token COUNTS estimate cost; training
  * itself needs the actual merge table and token ids).
  *
  * Classic Sennrich-style BPE over word frequencies, restructured for
  * the corpus-vs-vocabulary split that makes it scale:
  *
  *  - The ONLY corpus-scale pass is the word-frequency aggregate
  *    (map-side combined; words, not documents, shuffle).
  *  - Every training iteration runs over the VOCABULARY table
  *    (distinct words × frequency — orders of magnitude smaller than
  *    the corpus and independent of corpus growth once saturated):
  *    adjacent-pair counts from a scan-side transform+explode, one
  *    aggregate, a 1-row argmax to the driver, one merge rewrite.
  *    Lineage is truncated per round (the duplicateClusters
  *    discipline — persist alone re-analyzes a superlinearly growing
  *    plan; `reliableCheckpoint` switches truncation to durable
  *    checkpoints for preemptible clusters).
  *  - Encoding is scan-side: the merge table broadcasts (numMerges
  *    entries), each document tokenizes in place inside one UDF pass
  *    — no join, no shuffle, corpus never moves.
  *
  * Ties in pair counts break lexicographically, so training is fully
  * deterministic — same corpus, same merges, any cluster size (the
  * BpeSpec pins distributed == local-reference equality).
  */
object Bpe {

  /** End-of-word sentinel symbol (never merges across word
    * boundaries; lets a trailing subword differ from the same
    * characters mid-word, as in the original BPE formulation). */
  val EndOfWord = "</w>"

  /** Word → initial symbol sequence, split by CODE POINT (a per-
    * UTF-16-unit split would break surrogate pairs into lone
    * surrogates, which UTF8String replaces with '?' on the
    * distributed path while JVM strings keep them distinct locally —
    * divergent merge tables on emoji corpora). */
  private def symbolizeWord(w: String): Seq[String] =
    w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toSeq :+ EndOfWord

  /** Unsigned UTF-8 byte-order comparison — Spark's string ordering.
    * localTrain's tie-break must use it: UTF-16 code-unit order
    * disagrees with UTF-8 order for supplementary-plane symbols vs
    * U+E000..U+FFFF, which would break the spec-pinned
    * distributed == local merge-table equality. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  private def normWords(docs: DataFrame, textCol: String) =
    docs.filter(col(textCol).isNotNull)
      .select(explode(split(graft.functions.textfns.normalizeText(col(textCol)), " "))
        .as("word"))
      .filter(col("word") =!= "")

  /** Ordered merge table learned from the corpus: `numMerges` pairs,
    * most-frequent first. Stops early when no pair occurs twice.
    *
    * Hybrid cutover (the duplicateClusters discipline): the word-freq
    * aggregate is the only corpus-scale step; when the resulting
    * VOCABULARY is at most `driverThreshold` rows, one bounded collect
    * ships it (ids + counts, a few MB) and the merge loop runs
    * locally — numMerges iterations of in-memory counting, versus
    * ~2 distributed jobs per merge whose scheduling overhead dwarfs
    * the arithmetic. Past the threshold the distributed loop runs
    * with per-round lineage truncation. Both paths are
    * count-argmax + lexicographic-tie deterministic and spec-pinned
    * equal (set driverThreshold = 0 to force the distributed path).
    *
    * Cost warning for the forced-distributed path: BPE's merges are
    * inherently SEQUENTIAL, and each distributed merge iteration is
    * ~2 Spark jobs (pair argmax + vocabulary rewrite) — a production
    * 32k-merge vocabulary at driverThreshold = 0 is ~64k scheduled
    * jobs of pure overhead. Real corpora should keep the cutover: the
    * distinct-word vocabulary saturates as the corpus grows, so even
    * a 100 TB corpus typically collects a few-MB frequency table
    * after the one corpus-scale aggregate and trains the merge loop
    * locally. Force driverThreshold = 0 only for vocabularies that
    * genuinely exceed driver memory, and budget wall-clock per merge
    * count accordingly. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            reliableCheckpoint: Boolean = false,
            driverThreshold: Long = 1L << 16): Seq[(String, String)] = {
    require(numMerges >= 1, s"Bpe.train: numMerges must be positive, got $numMerges")
    def trunc(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(eager = true)
      else df.localCheckpoint(true)

    // ONE corpus pass: the aggregate materializes via the lineage
    // truncation, so neither the bounded collect (the size probe)
    // nor the distributed path re-scans the corpus
    val freqDf = trunc(normWords(docs, textCol)
      .groupBy("word").agg(count(lit(1)).as("freq")))
    val small = SmallSide.atMost(freqDf, driverThreshold)
    if (small.isDefined)
      return localTrain(
        small.get.map(r => r.getString(0) -> r.getLong(1)).toMap, numMerges)

    val symbolize = udf { (w: String) => symbolizeWord(w) }
    var vocab = trunc(freqDf
      .select(symbolize(col("word")).as("syms"), col("freq")))

    val merges = ArrayBuffer.empty[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      // adjacent pairs, weighted by word frequency — scan-side
      // transform over the syms array, one aggregate, 1-row argmax
      // guard the single-symbol arm: sequence(a, b) DESCENDS when
      // b < a (the dd12 lesson), so a fully-merged word would
      // otherwise enumerate negative indices into element_at
      val pairs = vocab
        .select(explode(transform(
          when(size(col("syms")) >= 2, sequence(lit(0), size(col("syms")) - 2))
            .otherwise(array().cast("array<int>")),
          i => struct(element_at(col("syms"), i + 1).as("a"),
            element_at(col("syms"), i + 2).as("b")))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
      val best = pairs
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < 2L) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        val mergeUdf = udf { (syms: Seq[String]) =>
          val out = ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          out.toSeq
        }
        val prev = vocab
        vocab = trunc(prev.select(mergeUdf(col("syms")).as("syms"), col("freq")))
        prev.unpersist(false)
        m += 1
      }
    }
    merges.toSeq
  }

  /** Driver-side merge loop over a collected word-frequency map —
    * exact same counting (overlapping adjacent pairs, frequency
    * weighted) and exact same argmax (count desc, then lexicographic
    * (a, b)) as the distributed loop; BpeSpec pins the equality. */
  private def localTrain(freqs: Map[String, Long],
                         numMerges: Int): Seq[(String, String)] = {
    var vocab: Array[(Array[String], Long)] =
      freqs.toArray.sortBy(_._1) // deterministic iteration order
        .map { case (w, f) => symbolizeWord(w).toArray -> f }
    val out = Seq.newBuilder[(String, String)]
    var m = 0
    var stop = false
    while (m < numMerges && !stop) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) stop = true
      else {
        // count desc, then lexicographic (a, b) in UTF-8 BYTE order —
        // the same total order the distributed orderBy uses
        val (pair, n) = counts.foldLeft(Option.empty[((String, String), Long)]) {
          case (None, kv) => Some(kv)
          case (Some(best @ ((ba, bb), bc)), cand @ ((ca, cb), cc)) =>
            val candWins = cc > bc ||
              (cc == bc && (utf8Lt(ca, ba) ||
                (ca == ba && utf8Lt(cb, bb))))
            Some(if (candWins) cand else best)
        }.get
        if (n < 2L) stop = true
        else {
          out += pair
          vocab = vocab.map { case (syms, f) =>
            val nb = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == pair._1 && syms(i + 1) == pair._2) {
                nb += pair._1 + pair._2; i += 2
              } else { nb += syms(i); i += 1 }
            }
            nb.result() -> f
          }
          m += 1
        }
      }
    }
    out.result()
  }

  /** Apply an ordered merge table to one word — the canonical greedy
    * loop: repeatedly merge every occurrence of the lowest-rank pair
    * present. Local and pure; the spec uses it as the reference for
    * train()'s distributed rewrite too. */
  private[graft] def encodeWord(w: String,
                                rank: Map[(String, String), Int],
                                mergeArr: IndexedSeq[(String, String)]): Seq[String] = {
    var syms: Vector[String] = symbolizeWord(w).toVector
    var continue = syms.length >= 2
    while (continue) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        // O(1): the pair AT bestRank is mergeArr(bestRank) — a
        // collectFirst scan over the whole map per merge step would
        // multiply the hot scan-side cost by the merge-table size
        val (a, b) = mergeArr(bestRank)
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
        if (syms.length < 2) continue = false
      }
    }
    syms
  }

  /** Tokenize documents with a trained merge table: (idCol, tokens
    * array, n_tokens). Scan-side — the merge table broadcasts inside
    * the UDF closure, documents never shuffle. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    val mergeArr = merges.toIndexedSeq
    val rank = merges.zipWithIndex.toMap
    val tokenize = udf { (text: String) =>
      if (text == null) null
      // lowercase through UTF8String — the exact code path of Spark's
      // lower(), which train's normalizeText uses. Neither a bare
      // toLowerCase (JVM default locale) nor Locale.ROOT matches it
      // for every non-ASCII string, and train/encode normalizations
      // must agree byte-for-byte
      else org.apache.spark.unsafe.types.UTF8String
        .fromString(text).toLowerCase.toString
        .split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap(w => encodeWord(w, rank, mergeArr))
    }
    docs.select(col(idCol), tokenize(col(textCol)).as("tokens"))
      .withColumn("n_tokens",
        when(col("tokens").isNull, lit(null).cast("int"))
          .otherwise(size(col("tokens"))))
  }
}
