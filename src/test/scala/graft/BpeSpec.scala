package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe

/** BPE: the distributed trainer is pinned EQUAL to a local reference
  * implementation of Sennrich-style BPE (the strongest oracle a
  * SQL-inexpressible iterative algorithm can have), plus encode
  * round-trip / determinism / collapse contracts. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  /** Local reference BPE trainer over a word-frequency map. */
  private def refTrain(freqs: Map[String, Long], numMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] =
      freqs.map { case (w, f) => (w.map(_.toString).toVector :+ Bpe.EndOfWord) -> f }
    val out = Seq.newBuilder[(String, String)]
    var m = 0
    var stop = false
    while (m < numMerges && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (counts.isEmpty) stop = true
      else {
        val (pair, n) = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        if (n < 2L) stop = true
        else {
          out += pair
          vocab = vocab.map { case (syms, f) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == pair._1 && syms(i + 1) == pair._2) {
                nb += pair._1 + pair._2; i += 2
              } else { nb += syms(i); i += 1 }
            }
            nb.result() -> f
          }.groupMapReduce(_._1)(_._2)(_ + _)
          m += 1
        }
      }
    }
    out.result()
  }

  private def corpusDf(words: Seq[String]) = {
    import spark.implicits._
    words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
  }

  test("distributed trainer equals the local reference on a mixed corpus") {
    // the classic BPE example family: shared stems and suffixes
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++ Seq.fill(4)("lowest")
    val freqs = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = refTrain(freqs, numMerges = 12)
    // default = driver cutover path; driverThreshold=0 forces the
    // distributed loop — both must equal the reference exactly
    val local = Bpe.train(corpusDf(words), "text", numMerges = 12)
    val dist = Bpe.train(corpusDf(words), "text", numMerges = 12,
      driverThreshold = 0L)
    assert(local == want, s"\nlocal: $local\nwant:  $want")
    assert(dist == want, s"\ndist: $dist\nwant: $want")
  }

  test("driver cutover edge: a threshold at the vocabulary size and one below agree") {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++ Seq.fill(4)("lowest")
    val vocab = words.distinct.size.toLong
    val want = refTrain(words.groupBy(identity).view.mapValues(_.size.toLong).toMap,
      numMerges = 12)
    // vocab rows fit a threshold of vocab (driver route); one more row
    // than a threshold of vocab − 1 takes the distributed route
    val atSize = Bpe.train(corpusDf(words), "text", numMerges = 12,
      driverThreshold = vocab)
    val belowSize = Bpe.train(corpusDf(words), "text", numMerges = 12,
      driverThreshold = vocab - 1)
    assert(atSize == want, s"\nat size: $atSize\nwant:    $want")
    assert(belowSize == want, s"\nbelow size: $belowSize\nwant:       $want")
  }

  test("distributed trainer equals the reference on the fixture corpus head") {
    val docs = SparkT.table("documents").limit(50)
    val freqs = docs
      .select(explode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
        .as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Bpe.train(docs, "text", numMerges = 15, driverThreshold = 0L)
    assert(got == refTrain(freqs, 15))
  }

  test("training is deterministic across runs and partition layouts") {
    val docs = SparkT.table("documents").limit(80)
    val a = Bpe.train(docs, "text", 10)
    val b = Bpe.train(docs.repartition(7), "text", 10)
    assert(a == b)
  }

  test("encode round-trips: tokens concatenate back to the normalized words") {
    val docs = SparkT.table("documents").limit(30)
    val merges = Bpe.train(docs, "text", 15)
    val enc = Bpe.encode(docs, "doc_id", "text", merges)
    val joined = docs.select(col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("norm"))
      .join(enc, "doc_id")
    val bad = joined.filter(
      regexp_replace(concat_ws("", col("tokens")), java.util.regex.Pattern.quote(Bpe.EndOfWord), " ")
        =!= concat(col("norm"), lit(" ")))
    assert(bad.count() == 0, "token concatenation diverged from the normalized text")
  }

  test("a dominant word collapses to a single token") {
    val words = Seq.fill(50)("spark") ++ Seq("a", "b", "cd")
    val merges = Bpe.train(corpusDf(words), "text", numMerges = 10)
    val enc = Bpe.encode(corpusDf(Seq("spark")), "doc_id", "text", merges)
      .select(col("tokens")).collect()(0).getSeq[String](0)
    assert(enc == Seq("spark" + Bpe.EndOfWord) || enc == Seq("spark", Bpe.EndOfWord),
      s"dominant word did not collapse: $enc")
  }

  test("empty merge table yields character tokens; null text preserved") {
    import spark.implicits._
    val d = Seq((1L, "ab c"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val rows = Bpe.encode(d, "doc_id", "text", Seq.empty)
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(rows(1L).get == Seq("a", "b", Bpe.EndOfWord, "c", Bpe.EndOfWord))
    assert(rows(2L).isEmpty)
  }

  test("train validates parameters and stops when pairs exhaust") {
    intercept[IllegalArgumentException] { Bpe.train(corpusDf(Seq("x")), "text", 0) }
    // single-char words: only (char, </w>) pairs exist; after merging
    // them nothing repeats — the trainer must stop early, not loop
    val merges = Bpe.train(corpusDf(Seq.fill(3)("a") ++ Seq.fill(2)("b")), "text", 50)
    assert(merges.length <= 3, s"trainer failed to stop early: $merges")
  }
}
