package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.GraftFunctions._
import graft.functions.{hashfns, vecfns}

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark
  import spark.implicits._

  test("graft_cosine: identity, orthogonality, and HOF agreement") {
    val d = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(2f, 4f))
    ).toDF("a", "b")
    val r = d.select(graft_cosine(col("a"), col("b")).as("c")).collect().map(_.getDouble(0))
    assert(math.abs(r(0) - 1.0) < 1e-12)
    assert(math.abs(r(1)) < 1e-12)
    assert(math.abs(r(2) - 1.0) < 1e-12)

    // kernel vs pure-built-in fallback on real embeddings
    val emb = SparkT.table("embeddings").limit(50)
    val both = emb.crossJoin(emb.select(col("embedding").as("e2")).limit(3))
      .select(graft_cosine(col("embedding"), col("e2")).as("k"),
        vecfns.cosineHof(col("embedding"), col("e2")).as("h"))
      .collect()
    both.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("graft_cosine returns 0.0 on length mismatch or zero norm") {
    val d = Seq(
      (Array(1f, 2f), Array(1f, 2f, 3f)),
      (Array(0f, 0f), Array(1f, 2f))
    ).toDF("a", "b")
    val r = d.select(graft_cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(r.toSeq == Seq(0.0, 0.0))
  }

  test("graft_hamming64 is popcount of xor") {
    val d = Seq((0L, 0L), (0L, -1L), (5L, 6L)).toDF("a", "b")
    val r = d.select(graft_hamming64(col("a"), col("b"))).collect().map(_.getInt(0))
    assert(r.toSeq == Seq(0, 64, 2))
  }

  test("minhash signatures: deterministic, k-length, similarity-preserving") {
    val d = Seq(
      Tuple1("the quick brown fox jumps over the lazy dog again and again today"),
      Tuple1("the quick brown fox jumps over the lazy dog again and again tomorrow"),
      Tuple1("completely different words nothing shared at all here whatsoever truly")
    ).toDF("text")
    val sigs = d.select(hashfns.minHashSig(col("text"), 3, 64, 42L).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs.forall(_.length == 64))
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sigs(0), sigs(1)) > agree(sigs(0), sigs(2)))
    // determinism across evaluations
    val again = d.select(hashfns.minHashSig(col("text"), 3, 64, 42L).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs.zip(again).forall { case (a, b) => a == b })
  }

  test("simhash: identical texts → identical hash; near → small hamming") {
    val d = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again today ok"),
      ("b", "the quick brown fox jumps over the lazy dog again and again today ok"),
      ("c", "the quick brown fox jumps over the lazy dog again and again today no")
    ).toDF("id", "text")
    val h = d.select(col("id"), hashfns.simHashSig(col("text"), 3).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h("a") == h("b"))
    assert(java.lang.Long.bitCount(h("a") ^ h("c")) < 16)
  }

  test("srp bucket: equal vectors always collide; deterministic") {
    val d = Seq(
      (Array(0.5f, -1f, 2f), Array(0.5f, -1f, 2f)),
      (Array(1f, 1f, 1f), Array(-1f, -1f, -1f))
    ).toDF("a", "b")
    val r = d.select(graft_srp_bucket(col("a"), 16, 7L).as("ha"),
      graft_srp_bucket(col("b"), 16, 7L).as("hb")).collect()
    assert(r(0).getLong(0) == r(0).getLong(1))
    // opposite vectors flip every sign bit
    assert((r(1).getLong(0) ^ r(1).getLong(1)) == 0xffffL)
  }

  test("fingerprint64 matches the documented formula (BigInteger reference)") {
    import java.math.BigInteger
    val p = BigInteger.TWO.pow(61).subtract(BigInteger.ONE)
    def ref(s: String, base: Long): Long = {
      val bytes = s.getBytes("UTF-8")
      var h = BigInteger.ZERO
      var pow = BigInteger.ONE
      val b = BigInteger.valueOf(base)
      bytes.foreach { by =>
        h = h.add(BigInteger.valueOf((by & 0xff) + 1L).multiply(pow)).mod(p)
        pow = pow.multiply(b).mod(p)
      }
      h.longValueExact()
    }
    val samples = Seq("hello world this is a longer string to push pow past 2^55",
      "a", "", "key agg row scan slow fast table value part hash")
    val d = samples.map(Tuple1(_)).toDF("t")
    val got = d.select(graft_fingerprint64(col("t")).as("f")).collect().map(_.getLong(0))
    samples.zip(got).foreach { case (s, g) =>
      assert(g == ref(s, 257L), s"fingerprint mismatch for '${s.take(20)}'")
      assert(g >= 0L && g < (1L << 61))
    }
  }

  test("minhash values stay within [0, 2^61): no overflow artifacts") {
    val d = SparkT.table("documents").limit(100)
    val bad = d.select(hashfns.minHashSig(col("text"), 3, 128, 42L).as("s"))
      .selectExpr("size(filter(s, x -> x < 0 OR x >= 2305843009213693951)) AS bad")
      .agg(sum(col("bad"))).collect()(0).getLong(0)
    assert(bad == 0L)
  }

  test("fingerprint64 is order-sensitive and deterministic") {
    val d = Seq(("ab", "ba"), ("ab", "ab")).toDF("x", "y")
    val r = d.select(graft_fingerprint64(col("x")).as("fx"),
      graft_fingerprint64(col("y")).as("fy")).collect()
    assert(r(0).getLong(0) != r(0).getLong(1))
    assert(r(1).getLong(0) == r(1).getLong(1))
  }

  test("SQL registration exposes the native functions") {
    val one = spark.sql("SELECT graft_hamming64(1L, 3L) AS h").collect()(0).getInt(0)
    assert(one == 1)
    val c = spark.sql(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c"
    ).collect()(0).getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val st = spark.sql(
      """SELECT s.st.s_en, s.st.n_words, s.st.n_punct
         FROM (SELECT graft_text_stats('the cat, to be!') AS st) s""").collect()(0)
    assert(st.getInt(0) == 2 && st.getInt(1) == 4 && st.getInt(2) == 2)
  }

  test("SQL registry casts arguments to kernel element types") {
    // array<double> literals: without the registry-side Cast the kernel
    // would read doubles as floats and return garbage silently
    val c = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(0.6D, 0.8D)) AS c"
    ).collect()(0).getDouble(0)
    assert(math.abs(c - 0.6) < 1e-6)
    // int args to hamming64 get cast to bigint
    val h = spark.sql("SELECT graft_hamming64(1, 3) AS h").collect()(0).getInt(0)
    assert(h == 1)
    // array<int> element-hashes to simhash64 get cast to array<bigint>
    val s = spark.sql("SELECT graft_simhash64(array(7, 7)) AS s").collect()(0)
    assert(!s.isNullAt(0))
  }

  test("shingles: correct n-grams, empty below n words") {
    val d = Seq(Tuple1("a b c d"), Tuple1("a b")).toDF("t")
    val r = d.select(graft_word_shingles_all(col("t"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(r(0) == Seq("a b c", "b c d"))
    assert(r(1).isEmpty)
  }

  test("wordHits treats caller words literally (regex metacharacters quoted)") {
    import graft.functions.textfns
    val d = Seq(Tuple1("use c++ not a.b or axb today")).toDF("t")
    // unquoted, "c++" threw PatternSyntaxException at execution and
    // "a.b" counted "axb" as a hit. (A trailing metachar like "+" can
    // still never satisfy the \b word-boundary contract — the fix is
    // about not crashing and not over-matching, not about redefining
    // word boundaries.)
    val hits = d.select(
        textfns.wordHits(col("t"), Seq("c++")).as("cpp"),
        textfns.wordHits(col("t"), Seq("a.b")).as("adotb"))
      .collect()(0)
    assert(hits.getInt(0) == 0, "quoted c++ must evaluate without throwing")
    assert(hits.getInt(1) == 1, "a.b must match only itself, not axb")
  }

  test("lsh band keys: equal band slices co-bucket, unequal/cross-band never") {
    // sig2 agrees with sig1 on band 0 ([1,2,3,4]) and differs on band 1;
    // sig3's band-1 slice equals sig1's band-0 slice — the band index is
    // mixed into the key, so equal values in DIFFERENT bands must not
    // collide
    val d = Seq(
      (1L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)),
      (2L, Seq(1L, 2L, 3L, 4L, 9L, 9L, 9L, 9L)),
      (3L, Seq(0L, 0L, 0L, 0L, 1L, 2L, 3L, 4L))
    ).toDF("id", "sig")
    val keys = d.select(col("id"), graft_lsh_bands(col("sig"), 2, 4).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(keys(1L)(0) == keys(2L)(0), "equal band-0 slices must share a key")
    assert(keys(1L)(1) != keys(2L)(1), "differing band-1 slices must not")
    assert(keys(1L)(0) != keys(3L)(1), "band index must be part of the key")
    assert(keys.values.forall(_.size == 2))
  }

  test("graft_sorted_contains: long and string flavors agree with array_contains") {
    // long flavor — exhaustive probe over a sorted set incl. negatives
    val set = Seq(-7L, -1L, 0L, 3L, 9L, 42L, 1000L)
    val probes = (-10L to 1010L).toSeq
    val d = probes.toDF("v").withColumn("s", typedLit(set))
    val got = d.select(col("v"),
        graft_sorted_contains(col("s"), col("v")).as("g"),
        array_contains(col("s"), col("v")).as("e"))
      .collect()
    got.foreach(r => assert(r.getBoolean(1) == r.getBoolean(2),
      s"long probe ${r.getLong(0)} diverged from array_contains"))
    assert(got.count(_.getBoolean(1)) == set.size)

    // string flavor — sort_array ordering must agree with the probe's
    // UTF8String.compareTo (binary-lexicographic incl. multi-byte)
    val strs = Seq("b", "aa", "", "z", "é", "日本", "a")
    val sd = Seq("a", "aa", "ab", "é", "日本", "nope", "", "zz")
      .toDF("v").withColumn("s", sort_array(typedLit(strs)))
    val sg = sd.select(col("v"),
        graft_sorted_contains_str(col("s"), col("v")).as("g"),
        array_contains(col("s"), col("v")).as("e"))
      .collect()
    sg.foreach(r => assert(r.getBoolean(1) == r.getBoolean(2),
      s"string probe '${r.getString(0)}' diverged from array_contains"))

    // empty set, null probe, null set
    val e = Seq((Seq.empty[Long], Option(5L)), (Seq(1L, 2L), None))
      .toDF("s", "v")
      .select(graft_sorted_contains(col("s"), col("v"))).collect()
    assert(e(0).getBoolean(0) == false)
    assert(e(1).isNullAt(0))
  }

  test("graft_sorted_intersect: set-equal to array_intersect on sorted distinct inputs") {
    // randomized-but-deterministic fixtures spanning the edge shapes:
    // empty×any, disjoint, subset, interleaved, full overlap, negatives
    val rng = new scala.util.Random(42)
    val cases = Seq(
      (Seq.empty[Long], Seq(1L, 2L, 3L)),
      (Seq(1L, 2L, 3L), Seq.empty[Long]),
      (Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L, 4L, 5L), Seq(2L, 4L)),
      (Seq(Long.MinValue, -1L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue))
    ) ++ (1 to 20).map { _ =>
      def gen = (0 until rng.nextInt(50)).map(_ => rng.nextInt(40).toLong)
        .distinct.sorted
      (gen, gen)
    }
    val d = cases.toDF("a", "b")
    val rows = d.select(
        graft_sorted_intersect(col("a"), col("b")).as("k"),
        sort_array(array_intersect(col("a"), col("b"))).as("e"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"kernel ${r.getSeq[Long](0)} != array_intersect ${r.getSeq[Long](1)}")
    }
    // null propagation (nullIntolerant)
    val n = Seq((Some(Seq(1L)), Option.empty[Seq[Long]]))
      .toDF("a", "b")
      .select(graft_sorted_intersect(col("a"), col("b"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("graft_window_digests: starts and digest-grouping match the composed slice formulation") {
    import graft.functions.textfns
    val docs = SparkT.table("documents").limit(300)
      .select(col("doc_id"), col("text"))
      // edge shapes the corpus may not cover: short doc, empty,
      // whitespace-only, exact-length doc, planted duplicate passage
      .unionByName(Seq(
        (90001L, "one two three"),
        (90002L, ""),
        (90003L, "   \t  "),
        (90004L, "a b c d e f g h"),
        (90005L, "XX shared eight word run of planted text YY"),
        (90006L, "ZZ shared eight word run of planted text QQ"),
        // non-ASCII lowercase parity: U+0130 İ (1:N mapping under
        // java.lang.String), Greek final-sigma Σ (position-dependent),
        // ẞ (U+1E9E). The kernel must normalize through the SAME code
        // path as lower() (UTF8String.toLowerCase) — a Locale.ROOT
        // String.toLowerCase diverges on such bytes and silently breaks
        // digest-vs-window-text grouping parity
        (90007L, "İstanbul ŞİŞLİ Kİ İİ gets eight word runs here today"),
        (90008L, "ΣΟΦΟΣ ΟΔΥΣΣΕΥΣ gets eight word runs here today also"),
        (90009L, "STRASSE ẞoft gets eight word runs here today as well")
      ).toDF("doc_id", "text"))
    val w = 8
    // composed formulation (the pre-kernel implementation, verbatim)
    val words = split(textfns.normalizeText(col("text")), " ")
    val composed = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), words.as("__w"))
      .withColumn("__s", explode(
        when(size(col("__w")) >= w,
          sequence(lit(0L), size(col("__w")).cast("long") - lit(w.toLong)))
          .otherwise(array().cast("array<long>"))))
      .select(col("doc_id"), col("__s"),
        concat_ws(" ", slice(col("__w"), col("__s").cast("int") + 1, lit(w)))
          .as("__g"))
    val kernel = docs
      .select(col("doc_id"),
        explode(graft_window_digests(col("text"), w)).as("__wd"))
      .select(col("doc_id"), col("__wd.s").as("__s"),
        col("__wd.h1").as("__h1"), col("__wd.h2").as("__h2"))
    // identical (doc, start) window sets
    val starts = composed.select("doc_id", "__s")
      .exceptAll(kernel.select("doc_id", "__s"))
      .unionAll(kernel.select("doc_id", "__s")
        .exceptAll(composed.select("doc_id", "__s")))
    assert(starts.isEmpty, "window (doc, start) sets diverge")
    // digest-grouping ⟺ window-text-grouping: joining kernel digests
    // back to the composed window TEXT, every digest group must map to
    // exactly one distinct text and vice versa (collision-freedom on
    // the fixture, incl. the planted cross-doc repeat)
    val joined = kernel.join(composed, Seq("doc_id", "__s"))
    val g1 = joined.groupBy("__h1", "__h2")
      .agg(countDistinct(col("__g")).as("n")).filter(col("n") =!= 1)
    val g2 = joined.groupBy("__g")
      .agg(countDistinct(struct(col("__h1"), col("__h2"))).as("n"))
      .filter(col("n") =!= 1)
    assert(g1.isEmpty, "one digest covers two different window texts")
    assert(g2.isEmpty, "one window text got two digests")
  }

  test("graft_sorted_contains: raw-expression misuse fails at ANALYSIS, not execution") {
    // the Column/SQL wrappers cast their inputs; a raw sorted_contains
    // over array<int> used to pass analysis and read garbage via
    // getLong at execution — checkInputDataTypes closes that hole
    import org.apache.spark.sql.graftbridge.Bridge
    val d = Seq((Seq(1, 5, 9), 5)).toDF("arr", "v") // array<int>, int
    val raw = Bridge.column(graft.expressions.Native.sortedContains.node(
      Seq(Bridge.expression(col("arr")), Bridge.expression(col("v"))), Nil))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      d.select(raw).collect()
    }
    assert(e.getMessage.contains("graft_sorted_contains"),
      s"analysis error should name the function: ${e.getMessage}")
  }

  test("builders cast inputs narrower than the declared type, codegen and interpreted") {
    // array<int> hashes into graft_simhash64 / graft_minhash_agreement
    // and int columns into graft_hamming64: the kernels read bigint
    // slots, so an uncast input read the wrong bytes under codegen and
    // threw ClassCastException when evaluated interpreted. Each must
    // return the rows of the same call over inputs cast to bigint.
    val rows = Seq(
      Row(1, Seq(7, -3, 12), Seq(7, 5, 12), 5, -6),
      Row(2, Seq(0, 1 << 30, -9), Seq(-1, 1 << 30, -9), Int.MinValue, 3),
      Row(3, Seq.empty[Int], Seq(4), -1, -1))
    // through an RDD, so the projection is planned and not folded on
    // the driver
    val narrow = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType.fromDDL("id INT, a ARRAY<INT>, b ARRAY<INT>, x INT, y INT"))
    val wide = narrow.select(col("id"), col("a").cast("array<bigint>").as("a"),
      col("b").cast("array<bigint>").as("b"), col("x").cast("bigint").as("x"),
      col("y").cast("bigint").as("y"))
    def run(d: DataFrame) = d.select(col("id"),
        graft_simhash64(col("a")).as("s"),
        graft_minhash_agreement(col("a"), col("b")).as("m"),
        graft_hamming64(col("x"), col("y")).as("h"))
      .orderBy("id").collect().toSeq
    val expected = run(wide)
    assert(expected.map(_.getDouble(2)) == Seq(2.0 / 3, 2.0 / 3, 0.0))
    assert(expected.map(_.getInt(3)) == Seq(
      java.lang.Long.bitCount(5L ^ -6L), java.lang.Long.bitCount(Int.MinValue.toLong ^ 3L), 0))
    assert(run(narrow) == expected, "codegen")
    assert(SparkT.interpreted(run(narrow)) == expected, "interpreted")
  }

  test("graft_sorted_contains registered in SQL (both flavors)") {
    graft.expressions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_sorted_contains(array(1L, 5L, 9L), 5L) AS a,
                graft_sorted_contains(array(1L, 5L, 9L), 4L) AS b,
                graft_sorted_contains_str(array('x','y'), 'y') AS c,
                graft_sorted_contains_str(array('x','y'), 'q') AS d""").collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2) && !r.getBoolean(3))
  }

  test("graft_sorted_rank equals the strict-< count fold (duplicates, NaN, edges)") {
    // the zOrderKey bucket map: rank = |{cuts strictly below v}|. The
    // binary search must be BIT-identical to the chained-when fold it
    // replaced, including duplicate cuts (equi-depth arrays from
    // low-cardinality columns repeat values), probes equal to a cut,
    // NaN probes (rank 0) and the empty cut array (rank 0).
    val cuts = Seq(1.0, 2.0, 2.0, 2.0, 5.5, 9.0, 9.0)
    val probes = Seq(-3.0, 1.0, 1.5, 2.0, 2.1, 5.5, 8.9, 9.0, 100.0,
      Double.NaN, Double.NegativeInfinity, Double.PositiveInfinity)
    val d = probes.toDF("v").withColumn("s", typedLit(cuts))
    d.select(col("v"), graft_sorted_rank(col("s"), col("v")).as("g"))
      .collect().foreach { r =>
        val v = r.getDouble(0)
        assert(r.getLong(1) == cuts.count(_ < v).toLong,
          s"probe $v: got ${r.getLong(1)}, fold says ${cuts.count(_ < v)}")
      }
    val e = Seq((Seq.empty[Double], Option(5.0)), (Seq(1.0), None))
      .toDF("s", "v").select(graft_sorted_rank(col("s"), col("v"))).collect()
    assert(e(0).getLong(0) == 0L)
    assert(e(1).isNullAt(0))
    graft.expressions.GraftFunctions.register(spark)
    val sq = spark.sql(
      "SELECT graft_sorted_rank(array(1.0D, 2.0D, 9.0D), 2.5D) AS r").collect()(0)
    assert(sq.getLong(0) == 2L)
  }

  test("wordShingles keeps duplicate occurrences; distinctWordShingles dedups") {
    val d = Seq(Tuple1("a b a b a")).toDF("t")
    val all = d.select(graft_word_shingles_all(col("t"), 2).as("s"))
      .collect()(0).getSeq[String](0)
    assert(all == Seq("a b", "b a", "a b", "b a")) // multiset, in order
    val dist = d.select(graft_word_shingles(col("t"), 2).as("s"))
      .collect()(0).getSeq[String](0).toSet
    assert(dist == Set("a b", "b a"))
  }
}
