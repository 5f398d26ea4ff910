package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, DoubleType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import graft.SmallSide
import graft.expressions.GraftFunctions
import graft.functions.{hashfns, textfns}

/** Deduplication operators for document corpora.
  *
  * Scale contract (100 TB, ~1000 executors): no stage ever shuffles
  * document text. Signatures (16–32 byte fingerprints, k×8-byte minhash
  * signatures, 8-byte simhashes) are computed scan-side inside
  * whole-stage codegen; shuffles move only (id, signature) pairs;
  * text is re-joined by id strictly for candidate verification, and
  * candidate sets are bounded per bucket (`bucketCap`) so a degenerate
  * key (boilerplate page, empty doc) cannot produce a quadratic bucket.
  */
object Dedup {

  /** Null-text rows get a per-row group key: SQL semantics say
    * null != null, so two null-text documents are NOT duplicates of
    * each other (Window.partitionBy would group all null fingerprints
    * into ONE bucket and silently drop every null-text row but one) —
    * the same null-preservation paragraphDedup applies. */
  private def fpOrOwnId(fp: Column, id: Column): Column =
    struct(fp.isNull.as("n"), coalesce(fp.cast("string"), id.cast("string")).as("k"))

  /** Exact dedup: keep the lowest-id row per normalized-text group.
    *
    * Groups on the 16-byte md5 fingerprint, not the text itself, so the
    * single shuffle carries ids + fingerprints only. One window over
    * the fingerprint (vs groupBy + self-join: two shuffles).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = fpOrOwnId(textfns.contentFingerprint(col(textCol)), col(idCol))
    val w = Window.partitionBy("__graft_fp").orderBy(col(idCol).asc)
    df.withColumn("__graft_fp", fp)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_fp", "__graft_rn")
  }

  /** Rows that would be dropped by [[exact]] — (kept_id, dropped_id). */
  def exactDupMap(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = df.select(col(idCol),
      fpOrOwnId(textfns.contentFingerprint(col(textCol)), col(idCol)).as("fp"))
    val w = Window.partitionBy("fp").orderBy(col(idCol).asc)
    withFp.withColumn("keep_id", min(col(idCol)).over(w))
      .filter(col(idCol) =!= col("keep_id"))
      .select(col("keep_id"), col(idCol).as("dup_id"))
  }

  /** Leakage-proof reproducible train/valid/test split: the unit of
    * assignment is the duplicate CLUSTER, not the document.
    *
    * A per-document split (the cur4 shape) lets two copies of the same
    * text straddle train and eval — the eval number then scores
    * memorization, the quiet contamination every dedup pipeline
    * exists to prevent. Here every document hashes its CLUSTER
    * representative (min id over the component of `pairs`, via
    * [[duplicateClusters]] — exact-dup pairs from [[exactDupMap]] or
    * LSH near-dup pairs both plug in), so a whole duplicate class
    * lands in exactly one split by construction. Singletons hash
    * their own id with the SAME affine constants as the per-doc
    * split, so a duplicate-free corpus splits identically to it.
    * Output: `docs` + `rep` (cluster representative) + `split`
    * (train/valid/test at 80/10/10, MINSTD thresholds, engine- and
    * rerun-reproducible like every graft sampler). */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
      .select(col("id").as(idCol), col("cluster_id"))
    docs.join(clusters, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col(idCol)))
      // the splitter's avalanche hash (48271/11213 — the constants are
      // the split's identity; see Shuffle.decisionHash for why one
      // affine step is NOT enough for threshold decisions)
      .withColumn("__h",
        graft.operators.Shuffle.decisionHash(col("rep"), 48271L, 11213L, "leakageSafeSplit"))
      .withColumn("split",
        when(col("__h") < 1717986917L, "train")
          .when(col("__h") < 1932735282L, "valid")
          .otherwise("test"))
      .drop("cluster_id", "__h")
  }

  /** Zero-row frame with the operator's declared output schema — the
    * graceful empty-input return shape shared by the k-means-backed
    * operators (whose training step would otherwise fail opaquely). */
  private def emptyResult(spark: org.apache.spark.sql.SparkSession,
                          fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private def boundedPairs(exploded: DataFrame, bucketCap: Int): DataFrame = {
    // Cap each bucket before the self-join: a bucket of B rows yields
    // B^2/2 pairs, so a handful of degenerate buckets would dominate
    // the stage. The cap is a documented recall tradeoff, applied
    // deterministically (lowest ids kept).
    val w = Window.partitionBy("bk").orderBy(col("id").asc)
    val capped = exploded.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= bucketCap).drop("__rn")
    val a = capped.alias("a"); val b = capped.alias("b")
    a.join(b, col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Linear (spanning) candidate pairs for threshold=1.0 dedup: each
    * bucket emits CONSECUTIVE pairs under the order (fp1, fp2, id)
    * instead of the full clique — occupancy−1 pairs per bucket, so no
    * `bucketCap` is needed and a heavily duplicated document can never
    * produce a quadratic bucket.
    *
    * Why consecutive-by-set-fingerprint rather than star-to-bucket-min:
    * a duplicate class (identical shingle sets) has identical
    * fingerprints, so its members form one CONTIGUOUS run in every
    * bucket and the run's consecutive pairs — all of which pass exact
    * verification — connect the whole class. A star to the bucket's
    * minimum id has no such guarantee: near-identical sets share full
    * minhash signatures at rate J^k (≈0.72 for J=0.99 at k=32), so a
    * near-miss hub with the smallest id would fail verification against
    * every true duplicate and disconnect the class. Boundary pairs
    * between different fingerprint runs simply fail the exact-Jaccard
    * verify and drop out. The only failure mode left is two DIFFERENT
    * shingle sets colliding on both independent 64-bit fingerprints
    * (2^-128), interleaving a run — negligible by the same standard as
    * every other 128-bit content hash in this module.
    */
  private def spanningPairs(exploded: DataFrame): DataFrame = {
    val w = Window.partitionBy("bk")
      .orderBy(col("fp1").asc, col("fp2").asc, col("id").asc)
    exploded
      .withColumn("__prev", lag(col("id"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(least(col("__prev"), col("id")).as("id_a"),
        greatest(col("__prev"), col("id")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** Salt for the second, independent set fingerprint (golden-ratio
    * odd constant; any fixed odd 64-bit value works). */
  private val FpSalt = 0x9E3779B97F4A7C15L

  /** Two independent 64-bit fingerprints of the canonical (sorted)
    * shingle-hash set — the spanning-pair sort key. Equal sets always
    * get equal fingerprints; unequal sets collide on BOTH with
    * probability 2^-128. */
  private def setFingerprints(shingleHashes: Column): Seq[Column] = {
    val canon = sort_array(shingleHashes)
    Seq(xxhash64(canon).as("fp1"), xxhash64(lit(FpSalt), canon).as("fp2"))
  }

  /** Content signature for threshold-1.0 near-dedup as ONE column:
    * both independent 64-bit set fingerprints of the doc's distinct
    * shingle-hash set, as a (fp1, fp2) struct. Equal shingle SETS
    * (whitespace/case perturbations, word repetitions — everything
    * word-order-set-preserving) always get equal signatures; unequal
    * sets collide on both with probability 2^-128. This is the
    * spanning-pair sort key packaged for key-equality consumers —
    * e.g. streaming `dropDuplicatesWithinWatermark` (ev11), where the
    * pair-based batch machinery cannot run. Computed scan-side by the
    * fused shingle kernel; only the 16-byte struct reaches state. */
  def contentSignature(text: Column, shingleN: Int,
                       charLevel: Boolean = false): Column = {
    val sh =
      if (charLevel) GraftFunctions.graft_char_shingle_hashes(text, shingleN)
      else GraftFunctions.graft_shingle_hashes(text, shingleN)
    // sub-shingle fallback: a doc under shingleN words has an EMPTY
    // shingle set, and "equal empty sets" would give every short doc
    // the same signature — streaming dedup would then silently
    // collapse all short docs into one survivor. Short docs fall back
    // to fingerprints of the exact normalized text: identical short
    // texts still dedup, different ones never co-sign.
    val norm = textfns.normalizeText(text)
    val fp1 = when(size(sh) > 0, xxhash64(sort_array(sh)))
      .otherwise(xxhash64(norm))
    val fp2 = when(size(sh) > 0, xxhash64(lit(FpSalt), sort_array(sh)))
      .otherwise(xxhash64(lit(FpSalt), norm))
    // null text → null signature, the [[exact]]-dedup convention:
    // xxhash64 SKIPS null inputs and returns its seed constant, so
    // without this guard every null-text doc would share one
    // signature and silently merge
    when(text.isNotNull, struct(fp1.as("fp1"), fp2.as("fp2")))
  }

  /** A text column's shingles, as (the hashes a MinHash signature and
    * the set fingerprints read, the set the exact Jaccard verification
    * compares): word `shingleN`-grams, or code-point n-grams under
    * `charLevel`, whose hash set serves as both. */
  private def shinglesOf(text: Column, shingleN: Int,
                         charLevel: Boolean): (Column, Column) =
    if (charLevel) {
      val h = GraftFunctions.graft_char_shingle_hashes(text, shingleN)
      (h, h)
    } else
      (GraftFunctions.graft_shingle_hashes(text, shingleN),
        GraftFunctions.graft_word_shingles(text, shingleN))

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle → k-minhash signature → `bands` band keys → bucket
    * self-join → exact-Jaccard verification of candidates only.
    * Collision probability for Jaccard s is 1-(1-s^r)^b (r = k/bands);
    * defaults (k=128, b=32, r=4) put the S-curve knee near s≈0.4.
    *
    * @param materializeSigs checkpoint the (id, signature) projection
    *        once instead of re-running the shingle+minhash kernel for
    *        each of its three uses. At benchmark scale recompute wins
    *        (the eager materialization job costs more than two extra
    *        kernel passes over small text); at corpus scale the flag
    *        should be ON — it converts three full text scans into one
    *        scan plus k×8 bytes/doc of executor storage.
    * @param spanning threshold=1.0 only: emit a SPANNING subset of the
    *        duplicate-pair relation (consecutive pairs per bucket under
    *        the set-fingerprint order — see [[spanningPairs]]) instead
    *        of the per-bucket clique. Linear in bucket occupancy, no
    *        `bucketCap` applied (none is needed), and the connected
    *        components of the returned pairs equal the clique path's —
    *        exactly what cluster-based dedup ([[duplicateClusters]] /
    *        [[dedupNear]]) consumes. NOT the complete pair list: a
    *        duplicate class of m docs yields m−1 pairs, not m(m−1)/2.
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                      threshold: Double = 0.5, seed: Long = 42L,
                      bucketCap: Int = 1000,
                      charLevel: Boolean = false,
                      materializeSigs: Boolean = false,
                      spanning: Boolean = false): DataFrame = {
    require(!spanning || threshold == 1.0,
      s"minHashLshPairs: spanning pair generation is only sound at threshold=1.0 " +
        s"(got $threshold) — duplicate-of is an equivalence relation there, so a " +
        "spanning subset preserves connected components; below 1.0 similarity is " +
        "not transitive and consecutive pairs would silently miss true pairs")
    require(bands > 0 && k % bands == 0,
      s"minHashLshPairs: k ($k) must be a positive multiple of bands ($bands) — " +
        "bands > k would give every row the same constant band keys (one giant " +
        "bucket, recall silently truncated at bucketCap); a non-multiple would " +
        "silently ignore the signature tail")
    val rowsPerBand = k / bands
    // charLevel: code-point n-grams for scripts without word boundaries
    // (whitespace shingling sees CJK text as ONE word → zero shingles);
    // verification then compares hash SETS instead of string sets —
    // 64-bit collisions are negligible against a >= threshold test.
    val (shingleHashes, shingleSet) = shinglesOf(col(textCol), shingleN, charLevel)
    // signatures feed band keys AND both sides of the estimate
    // prefilter. Checkpoint blocks (unlike persist) are released by
    // the ContextCleaner once the returned plan is GC'd — no
    // cross-call storage leak — and this is a plain projection (no
    // self-join), the shape that is safe to checkpoint (see
    // duplicateClusters).
    // spanning mode additionally carries the two set fingerprints —
    // computed scan-side in the same projection (the shingle-hash
    // kernel output is CSE'd with the minhash input, no extra text
    // pass), 16 bytes/doc of extra shuffle.
    val sigCols = col(idCol).as("id") +:
      GraftFunctions
        .graft_minhash(shingleHashes, k, seed).as("sig") +:
      (if (spanning) setFingerprints(shingleHashes) else Nil)
    val sigPlan = df.select(sigCols: _*)
    val docs = if (materializeSigs) sigPlan.localCheckpoint(true) else sigPlan
    val explodedCols = (col("id") +:
      (if (spanning) Seq(col("fp1"), col("fp2")) else Nil)) :+
      explode(GraftFunctions.graft_lsh_bands(col("sig"), bands, rowsPerBand)).as("bk")
    val exploded = docs.select(explodedCols: _*)
    val candidates =
      if (spanning) spanningPairs(exploded) else boundedPairs(exploded, bucketCap)

    // verification pyramid: the signature-agreement estimate (a k-long
    // compare in codegen) kills the bulk of low-similarity bucket
    // collisions before the exact shingle-set Jaccard (array intersect
    // over ~100-element arrays) runs. 0.15 margin keeps the estimate's
    // sampling error (~1/sqrt(k)) from dropping true positives.
    val estimated = candidates
      .join(docs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est",
        GraftFunctions.graft_minhash_agreement(col("sig_a"), col("sig_b")))
      .filter(col("est") >= math.max(0.0, threshold - 0.15))
      .select("id_a", "id_b")

    val shingled = df.select(col(idCol).as("id"),
      shingleSet.as("sh"))
    estimated
      .join(shingled.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(shingled.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", hashfns.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash near-duplicate pairs: 64-bit signatures, pigeonhole block
    * index (hamming <= blocks-1 guaranteed found), codegen'd popcount
    * verification. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, maxHamming: Int = 3,
                   bucketCap: Int = 1000): DataFrame =
    hamming64Pairs(
      df.select(col(idCol).as("id"),
        hashfns.simHashSig(col(textCol), shingleN).as("sig")),
      maxHamming, bucketCap)

  /** Near-duplicate pairs over ANY 64-bit signature column — the
    * signature-agnostic core of [[simHashPairs]], also driving
    * perceptual-hash media dedup ([[graft.multimodal.Multimodal]]'s
    * dHash). Input: `(id: long, sig: long)`. Pigeonhole block index
    * (splitting the signature into `maxHamming+1` blocks guarantees
    * any pair within `maxHamming` shares at least one block — never
    * an all-pairs scan), capped buckets, codegen'd popcount
    * verification. */
  def hamming64Pairs(sigs: DataFrame, maxHamming: Int = 3,
                     bucketCap: Int = 1000): DataFrame = {
    val blocks = maxHamming + 1
    require(blocks <= 64, s"maxHamming $maxHamming needs $blocks blocks > 64 bits")
    val docs = sigs.select(col("id"), col("sig"))
    val exploded = docs.select(col("id"),
      explode(hashfns.simHashBlockKeys(col("sig"), blocks)).as("bk"))
    val candidates = boundedPairs(exploded, bucketCap)
    candidates
      .join(docs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("hamming",
        GraftFunctions.graft_hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Asymmetric CONTAINMENT detection — pairs where the SMALLER
    * document's shingle set is mostly inside the larger's:
    * C(sub → sup) = |sh(sub) ∩ sh(sup)| / |sh(sub)| ≥ `threshold`.
    * The quote/excerpt/subset case every symmetric measure misses: a
    * 50-word excerpt of a 5000-word article has Jaccard ≈ 0.01 (both
    * [[ngramJaccardPairs]] and the LSH path are blind to it by
    * design) but containment 1.0 — and excerpt-vs-source is exactly
    * the redundancy a training corpus wants findable (Broder's
    * resemblance-vs-containment distinction, SEQUENCES 1997).
    *
    * Same exploded-shingle equi-join audit shape as
    * [[ngramJaccardPairs]] (hash-free, SQL-replayable verbatim):
    * intersections count via the inverted shingle index, sizes from
    * the per-doc distinct-shingle count, containment = ONE double
    * division of exact longs. The pair orients sub = the smaller
    * shingle set (tie → lower id); each unordered pair appears at
    * most once.
    *
    * `maxShingleDf` > 0 drops shingles whose DOCUMENT FREQUENCY
    * exceeds it from the INTERSECTION side only (sizes stay full-set,
    * so reported containment is a LOWER BOUND — boilerplate shingles
    * shared by millions of docs never fan out quadratically; the
    * documented recall tradeoff of the boundedPairs discipline, and
    * the knob the 100 TB run sets). 0 = exact (the audit/oracle
    * mode).
    *
    * Output: (id_sub, id_sup, n_inter, n_sub, containment). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 7, threshold: Double = 0.8,
                       maxShingleDf: Long = 0L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentPairs: threshold must be in (0, 1], got $threshold")
    require(maxShingleDf >= 0L,
      s"containmentPairs: maxShingleDf must be >= 0, got $maxShingleDf")
    val toks = df.select(col(idCol).as("id"),
      explode(GraftFunctions.graft_word_shingles(col(textCol), shingleN)).as("sh"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val joinable =
      if (maxShingleDf > 0L) {
        // the hot-shingle blocklist is tiny by construction (shingles
        // in > maxShingleDf docs); anti-join it off the index
        val hot = toks.groupBy("sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf).select("sh")
        toks.join(hot, Seq("sh"), "left_anti")
      } else toks
    val a = joinable.alias("a"); val b = joinable.alias("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val sub = when(col("n_a") <= col("n_b"), col("id_a")).otherwise(col("id_b"))
    val sup = when(col("n_a") <= col("n_b"), col("id_b")).otherwise(col("id_a"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(sub.as("id_sub"), sup.as("id_sup"), col("n_inter"),
        least(col("n_a"), col("n_b")).as("n_sub"),
        (col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Exact n-gram Jaccard pairs via exploded-shingle equi-join.
    * Quadratic only within shared-shingle groups; intended as the
    * verification/audit path, with [[minHashLshPairs]] as the scale
    * path. The DEFINITION is hash-free (string-shingle equality, which
    * an independent SQL engine replays verbatim); the implementation
    * joins on a 128-bit digest PAIR of each shingle — the
    * [[duplicatedSpans]] discipline — so the per-shingle exchange
    * carries 24 bytes/row instead of an n-word string, and the
    * equi-join compares longs. Two different shingles colliding on
    * both independent 64-bit digests (2^-128, birthday-safe past 10^10
    * distinct shingles) is the only way the two formulations can
    * disagree, and every oracle-backed consumer (dd4/dd6/dd7, cur24)
    * hash-compares against the string replay — digest-vs-text
    * agreement is pinned per run, exactly as for duplicatedSpans.
    * Per-doc set sizes come from the scan-side kernel (`size` of the
    * distinct-shingle array), not from re-shuffling every shingle row.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 5, threshold: Double = 0.5): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(GraftFunctions.graft_word_shingles(col(textCol), shingleN)).as("sh"))
      .select(col("id"), xxhash64(col("sh")).as("__h1"),
        xxhash64(lit(FpSalt), col("sh")).as("__h2"))
    // one tiny row per doc reaches the exchange (sum of scan-side
    // array sizes ≡ the old per-shingle-row count, including under
    // duplicate-id inputs)
    val sizes = df.select(col(idCol).as("id"),
        coalesce(size(GraftFunctions.graft_word_shingles(col(textCol), shingleN)),
          lit(0)).as("__n"))
      .groupBy("id").agg(sum(col("__n")).as("n_sh"))
    // merge hint: left to estimates the planner BROADCASTS one side of
    // the self-join (the digest projection is narrow enough to fall
    // under the threshold) — a per-executor hash build of every
    // exploded shingle row, which is both slower here and exactly what
    // must not happen at corpus scale. Sort-merge makes the two
    // identical sides share ONE exchange (ReuseExchange).
    val a = toks.hint("merge").alias("a"); val b = toks.alias("b")
    val inter = a.join(b, col("a.__h1") === col("b.__h1") &&
        col("a.__h2") === col("b.__h2") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over a near-duplicate pair graph →
    * (id, cluster_id = min id in the component).
    *
    * Min-label propagation, driver-coordinated iterations over
    * distributed joins (the standard Spark shape for iterative graph
    * algorithms; each step is one shuffle join + aggregate). Converges
    * in O(diameter) rounds — near-dup graphs are shallow (chains of
    * transitively-similar docs), so the bound is small; `maxIter` and
    * the convergence count guard the pathological case. Each round
    * persists its labels and unpersists the previous round so lineage
    * doesn't grow unboundedly at scale.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 30,
                        reliableCheckpoint: Boolean = false,
                        driverThreshold: Long = 1L << 20): DataFrame = {
    // Iterative plans must have their lineage TRUNCATED each round, not
    // merely cached: persist() keeps the full logical plan, so round i
    // re-analyzes a plan embedding rounds 0..i-1 and driver-side
    // planning cost grows superlinearly (measured: 27s for an 819-edge
    // graph — pure planning, no data). `localCheckpoint(eager)` cuts
    // the plan to the materialized blocks; the ContextCleaner frees
    // blocks of dropped rounds once their RDDs are GC'd.
    //
    // localCheckpoint blocks live on executors and die with them — fine
    // in local mode, NOT fault-tolerant under preemption on a cluster.
    // `reliableCheckpoint = true` switches every truncation to a
    // checkpoint-directory write (caller must have called
    // `sparkContext.setCheckpointDir` on durable storage, e.g. an
    // object store); each round then survives executor loss at the
    // cost of one distributed write per round. That is the setting the
    // 100 TB claim rests on; the default keeps benchmark-scale runs
    // free of filesystem traffic.
    def trunc(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    val edges = trunc(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // Hybrid cutover: a near-dup pair graph is typically MINUTE next to
    // its corpus (edges ≈ duplicates, ids only — 16 bytes each), and
    // below `driverThreshold` edges a driver union-find beats ~8
    // distributed jobs of iteration by orders of magnitude. One bounded
    // collect of the checkpointed edges sizes and ships the graph. The
    // distributed loop below remains the path for graphs that outgrow
    // the driver (set driverThreshold=0 to force it; specs pin both).
    // driver union-find casts ids to long — route only INTEGRAL id
    // types through it (a string/decimal id would cast to null and NPE
    // at collect); the distributed loop below handles any orderable id
    val idIsIntegral = edges.schema("src").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val small =
      if (idIsIntegral) SmallSide.atMost(
        edges.select(col("src").cast("long"), col("dst").cast("long")), driverThreshold)
      else None
    if (small.isDefined) return driverClusters(edges.sparkSession, small.get)
    var labels = trunc(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      // min over {own label} ∪ {neighbors' labels}: union + one
      // hash-aggregate (2 shuffles), instead of join-then-left-join.
      // Checkpoint HERE (an aggregate with unique output attrs), not
      // after the self-join below: localCheckpoint of a self-joined
      // plan records origin constraints over deduplicated attribute
      // ids, which InferFiltersFromConstraints later fails to resolve
      // (NoSuchElementException) when the caller adds e.g. an orderBy.
      val minLabels = trunc(edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"))
        .unionByName(labels)
        .groupBy("id").agg(min("label").as("label")))
      // pointer jumping (shortcutting): adopt the label OF the label.
      // Plain one-hop propagation needs O(diameter) rounds — a chain of
      // d incrementally-edited near-dups needs d rounds and silently
      // mislabels past maxIter; with shortcutting convergence is
      // O(log diameter). maxIter=30 covers diameters past 10^9 — the
      // spanning-pair output turns an m-fold duplicate class into an
      // m-diameter CHAIN, so a 100k-fold boilerplate page needs ~17
      // rounds (the old default of 15 silently split it; StressSpec
      // pins a >32k chain through this path). Iterations after
      // convergence never run (the changed==0 check exits the loop),
      // so the higher ceiling costs nothing on shallow graphs.
      // Left un-checkpointed: a 1-shuffle join over the cached blocks.
      val next = minLabels.alias("p")
        .join(minLabels.select(col("id").as("label"),
          col("label").as("label2")).alias("g"), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("label2"), col("label"))).as("label"))
      // round 0 always changes labels (every non-minimal node adopts a
      // neighbor's smaller id) — skip its convergence action
      val changed =
        if (i == 0) 1L
        else next.join(labels.withColumnRenamed("label", "old"), "id")
          .filter(col("label") =!= col("old")).count()
      labels = next
      done = changed == 0
      i += 1
    }
    if (!done) log.warn(
      s"duplicateClusters hit maxIter=$maxIter before convergence — " +
        "labels may split components; raise maxIter")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Driver-side union-find over a bounded (src, dst) long edge list —
    * exact same (id, min-id-of-component) contract as the distributed
    * loop. */
  private def driverClusters(spark: org.apache.spark.sql.SparkSession,
                             edges: Array[Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { e =>
      val (a, b) = (e.getLong(0), e.getLong(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      // union by MIN id so every root is its component's minimum —
      // the invariant the distributed min-label loop guarantees
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keys.toArray.sorted.map(id => Row(id, find(id)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("cluster_id", LongType, nullable = false))))
  }

  /** End-to-end near-dedup: keep ONE representative (the min-id member)
    * per near-duplicate cluster, plus every row in no cluster.
    *
    * Composition of the scale pieces: pair generation shuffles
    * signatures only, clustering iterates over the (small) pair graph,
    * and the final filter is an ANTI-join of the corpus against the
    * non-representative ids — corpus text never shuffles.
    */
  def dedupNear(df: DataFrame, idCol: String, pairs: DataFrame,
                maxIter: Int = 30,
                reliableCheckpoint: Boolean = false,
                driverThreshold: Long = 1L << 20): DataFrame = {
    val clusters = duplicateClusters(pairs, maxIter, reliableCheckpoint,
      driverThreshold)
    val losers = clusters.filter(col("cluster_id") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cross-corpus near-duplicate pairs: corpus docs similar to any
    * REFERENCE-corpus doc — the primitive behind incremental-crawl
    * dedup ("drop from the new crawl whatever the training set already
    * contains") and benchmark-overlap removal.
    *
    * Same scale shape as [[minHashLshPairs]], asymmetric: signatures
    * shuffle on band keys, the reference side is bucket-capped, the
    * agreement prefilter runs before exact Jaccard, and text joins
    * back by id only for verification. No within-corpus or
    * within-reference pairs are produced.
    *
    * @param spanning threshold=1.0 only: collapse the reference side to
    *        ONE representative (min ref_id) per (bucket, set-fingerprint)
    *        group and join the corpus side on (bucket, fingerprint) —
    *        candidates become linear in corpus bucket occupancy, so a
    *        reference document duplicated a million times costs one
    *        representative instead of a million join partners, and no
    *        `bucketCap` is applied (none is needed). Every matched
    *        corpus_id is still returned (a matching corpus/ref pair has
    *        identical sets, hence identical signatures, band keys AND
    *        fingerprints), but paired with the representative ref_id
    *        only — the full (corpus × matching refs) pair list is not
    *        produced. Exactly what [[crossDedup]] consumes.
    * @return (corpus_id, ref_id, jaccard) with jaccard >= threshold.
    */
  def crossNearDupPairs(corpus: DataFrame, reference: DataFrame,
                        idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                        threshold: Double = 0.5, seed: Long = 42L,
                        bucketCap: Int = 1000,
                        charLevel: Boolean = false,
                        materializeSigs: Boolean = false,
                        spanning: Boolean = false): DataFrame = {
    require(!spanning || threshold == 1.0,
      s"crossNearDupPairs: spanning (representative-per-set) matching is only " +
        s"sound at threshold=1.0 (got $threshold) — only there does 'matches the " +
        "representative' imply 'matches every member of its fingerprint group'")
    require(bands > 0 && k % bands == 0,
      s"crossNearDupPairs: k ($k) must be a positive multiple of bands ($bands)")
    // the index stays a LAZY plan here: materializeSigs applies to the
    // signature projection inside the indexed core (the pre-refactor
    // contract) — checkpointing the whole index would also materialize
    // the reference-text-sized shingle-set arrays and the fingerprints
    // the non-spanning path never reads
    crossNearDupPairsIndexed(corpus,
      buildSignatureIndex(reference, idCol, textCol, shingleN, k, seed, charLevel),
      idCol, textCol, shingleN, k, bands, threshold, seed, bucketCap,
      charLevel, materializeSigs, spanning)
  }

  /** Reference-side signature INDEX for incremental cross-corpus
    * dedup: (ref_id, sig, fp1, fp2, sh) — exactly the projections
    * [[crossNearDupPairs]] derives from reference text, factored out
    * so they can be computed ONCE per reference snapshot, written to
    * parquet, and reused by every subsequent crawl
    * ([[crossNearDupPairsIndexed]] / [[crossDedupWithIndex]]). The
    * daily incremental pipeline then never reads reference TEXT
    * again — it scans an index whose size is signatures + shingle
    * sets, and a 100-crawl month pays the reference shingling cost
    * once instead of 100 times.
    *
    * The index embeds its construction parameters: consumers must
    * pass the SAME (shingleN, k, seed, charLevel) on the corpus side
    * — [[crossNearDupPairsIndexed]] cross-checks k against the stored
    * signature width at plan time and the rest via the `params`
    * column, failing loudly instead of silently matching nothing. */
  def buildSignatureIndex(reference: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, k: Int = 128, seed: Long = 42L,
                          charLevel: Boolean = false): DataFrame = {
    val (shingleHashes, shingleSet) = shinglesOf(col(textCol), shingleN, charLevel)
    val cols = Seq(
      col(idCol).as("ref_id"),
      GraftFunctions.graft_minhash(
        shingleHashes, k, seed).as("sig")) ++
      setFingerprints(shingleHashes) ++
      Seq(shingleSet.as("sh"),
        lit(s"$shingleN/$k/$seed/$charLevel").as("params"))
    reference.select(cols: _*)
  }

  /** [[crossNearDupPairs]] with the reference side supplied as a
    * prebuilt [[buildSignatureIndex]] frame (typically read back from
    * parquet) — the incremental-crawl path. Row-identical to the
    * text-side computation by construction: the text path IS this
    * function applied to a freshly built index. */
  def crossNearDupPairsIndexed(corpus: DataFrame, index: DataFrame,
                               idCol: String, textCol: String,
                               shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                               threshold: Double = 0.5, seed: Long = 42L,
                               bucketCap: Int = 1000,
                               charLevel: Boolean = false,
                               materializeSigs: Boolean = false,
                               spanning: Boolean = false): DataFrame = {
    require(!spanning || threshold == 1.0,
      s"crossNearDupPairsIndexed: spanning matching is only sound at " +
        s"threshold=1.0 (got $threshold)")
    require(bands > 0 && k % bands == 0,
      s"crossNearDupPairsIndexed: k ($k) must be a positive multiple of bands ($bands)")
    // parameter drift = silent zero recall (different seeds never
    // collide): the embedded params column makes it a loud error
    require(index.columns.contains("params"),
      "crossNearDupPairsIndexed: index lacks the params column — build it " +
        "with Dedup.buildSignatureIndex")
    val want = s"$shingleN/$k/$seed/$charLevel"
    val rowsPerBand = k / bands
    val (shingleHashes, shingleSet) = shinglesOf(col(textCol), shingleN, charLevel)
    // the guard must ride a column every downstream path CONSUMES:
    // a raise_error left on `params` itself gets column-pruned away
    // (no consumer ⇒ never evaluated ⇒ silent zero recall after all)
    val checkedIndex = index.withColumn("ref_id",
      when(col("params") =!= want, raise_error(concat(
        lit(s"crossNearDupPairsIndexed: index built with params "),
        col("params"), lit(s", query side uses $want — rebuild the index or " +
          "match the parameters"))))
        .otherwise(col("ref_id")))
    val sigC = {
      val cols = col(idCol).as("corpus_id") +:
        GraftFunctions.graft_minhash(
          shingleHashes, k, seed).as("sig_corpus_id") +:
        (if (spanning) setFingerprints(shingleHashes) else Nil)
      val plan = corpus.select(cols: _*)
      if (materializeSigs) plan.localCheckpoint(true) else plan
    }
    val sigR = {
      val plan = checkedIndex.select(
        (col("ref_id") +: col("sig").as("sig_ref_id") +:
          (if (spanning) Seq(col("fp1"), col("fp2")) else Nil)): _*)
      // materialize the SIGNATURE projection only (band keys + the
      // agreement estimate both read it; column pruning keeps the
      // shingle-set arrays out of the checkpoint)
      if (materializeSigs) plan.localCheckpoint(true) else plan
    }
    def bandsOf(sig: DataFrame, as: String) = {
      val cols = (col(as) +:
        (if (spanning) Seq(col("fp1"), col("fp2")) else Nil)) :+
        explode(GraftFunctions.graft_lsh_bands(col(s"sig_$as"), bands, rowsPerBand)).as("bk")
      sig.select(cols: _*)
    }
    val candidates = if (spanning) {
      // one representative per (bucket, set-fingerprint) on the
      // reference side; corpus rows join their OWN fingerprint group
      // only — a candidate per (corpus row, band), never per ref copy
      val repsR = bandsOf(sigR, "ref_id")
        .groupBy("bk", "fp1", "fp2").agg(min(col("ref_id")).as("ref_id"))
      bandsOf(sigC, "corpus_id")
        .join(repsR, Seq("bk", "fp1", "fp2"))
        .select("corpus_id", "ref_id").distinct()
    } else {
      // cap the REFERENCE side per bucket (deterministic lowest ids):
      // a degenerate reference bucket (boilerplate) would otherwise
      // multiply against every matching corpus row
      val w = Window.partitionBy("bk").orderBy(col("ref_id").asc)
      val bandsR = bandsOf(sigR, "ref_id")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= bucketCap).drop("__rn")
      bandsOf(sigC, "corpus_id")
        .join(bandsR, "bk")
        .select("corpus_id", "ref_id").distinct()
    }
    val estimated = candidates
      .join(sigC, "corpus_id").join(sigR, "ref_id")
      .withColumn("est", GraftFunctions
        .graft_minhash_agreement(col("sig_corpus_id"), col("sig_ref_id")))
      .filter(col("est") >= math.max(0.0, threshold - 0.15))
      .select("corpus_id", "ref_id")
    val shC = corpus.select(col(idCol).as("corpus_id"),
      shingleSet.as("sh_corpus_id"))
    val shR = checkedIndex.select(col("ref_id"), col("sh").as("sh_ref_id"))
    estimated
      .join(shC, "corpus_id")
      .join(shR, "ref_id")
      .withColumn("jaccard", hashfns.jaccard(col("sh_corpus_id"), col("sh_ref_id")))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("ref_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-corpus dedup: `corpus` minus every doc near-duplicate of a
    * `reference` corpus doc. Anti-join on matched ids — corpus text
    * never shuffles. */
  def crossDedup(corpus: DataFrame, reference: DataFrame,
                 idCol: String, textCol: String,
                 shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                 threshold: Double = 0.5, seed: Long = 42L,
                 bucketCap: Int = 1000,
                 charLevel: Boolean = false,
                 materializeSigs: Boolean = false,
                 spanning: Boolean = false): DataFrame = {
    val matched = crossNearDupPairs(corpus, reference, idCol, textCol,
      shingleN, k, bands, threshold, seed, bucketCap, charLevel,
      materializeSigs, spanning)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(matched, Seq(idCol), "left_anti")
  }

  /** [[crossDedup]] against a prebuilt signature index — the
    * incremental-crawl entry point: build + persist the index once
    * per reference snapshot, then each new crawl pays only its own
    * shingling plus an index scan. */
  def crossDedupWithIndex(corpus: DataFrame, index: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                          threshold: Double = 0.5, seed: Long = 42L,
                          bucketCap: Int = 1000,
                          charLevel: Boolean = false,
                          materializeSigs: Boolean = false,
                          spanning: Boolean = false): DataFrame = {
    val matched = crossNearDupPairsIndexed(corpus, index, idCol, textCol,
      shingleN, k, bands, threshold, seed, bucketCap, charLevel,
      materializeSigs, spanning)
      .select(col("corpus_id").as(idCol)).distinct()
    corpus.join(matched, Seq(idCol), "left_anti")
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Embedding near-duplicate pairs: seeded random-hyperplane (SRP)
    * buckets restrict the candidate space; the codegen'd cosine kernel
    * verifies. Multiple independent bucket tables (`tables`) trade
    * compute for recall, as in classic LSH. */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95, nBits: Int = 12,
                        tables: Int = 2, seed: Long = 42L,
                        bucketCap: Int = 2000): DataFrame = {
    val buckets = (0 until tables).map { t =>
      struct(lit(t).as("t"),
        GraftFunctions.graft_srp_bucket(col(vecCol), nBits, seed + t * 7919L).as("h"))
    }
    val exploded = df.select(col(idCol).as("id"),
      explode(array(buckets: _*)).as("bk"))
    val candidates = boundedPairs(exploded, bucketCap)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cosine", GraftFunctions.graft_cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Per vector: its nearest centroid of `centers` and the squared
    * distance to it — the k-means cell assignment of
    * [[semanticDupPairs]] and [[embeddingOutliers]], through Ann's one
    * nearest-centroid kernel. */
  private def nearestCellOf(spark: org.apache.spark.sql.SparkSession,
                            centers: Array[Array[Float]]) = {
    val bc = spark.sparkContext.broadcast(centers)
    udf { (v: Seq[Float]) =>
      val a = v.toArray
      val c = graft.similarity.Ann.nearestCell(a, 0, bc.value)
      (c, graft.similarity.Ann.d2(a, 0, bc.value(c)))
    }
  }

  /** SemDeDup-style cluster-scoped semantic near-duplicate pairs:
    * k-means centroids (driver-side Lloyd's over a bounded uniform
    * sample — the Ann coarse-quantizer discipline) partition the
    * embedding space; within each cell, members sort by distance to
    * their centroid and each compares to its next `windowSize`
    * neighbors in that order; cosine ≥ `threshold` emits a pair.
    *
    * Complements [[embeddingDupPairs]] (SRP-LSH): random-hyperplane
    * buckets can split a near-identical pair that straddles a
    * hyperplane, while near-identical vectors ALWAYS land in the same
    * k-means cell at near-identical centroid distance — adjacent in
    * the sort, inside any window. The approximation is the converse
    * edge: a pair straddling a cell boundary is missed (the classic
    * SemDeDup trade, recall pinned on planted fixtures in DedupSpec).
    *
    * Scale shape: N·nCells distance evaluations scan-side (one
    * broadcast centroid array), ONE hash exchange on cell id, a
    * per-cell sort bounded by cell occupancy (size nCells ∝ √N to
    * keep cells bounded), then N·windowSize cosine verifications —
    * never the Σ|cell|² all-pairs blow-up of the original SemDeDup
    * formulation, and never an N² join. Embedding vectors shuffle
    * once (to their cell) — unavoidable for the verify step.
    */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
                       nCells: Int = 16, threshold: Double = 0.95,
                       windowSize: Int = 6, seed: Long = 42L): DataFrame = {
    require(nCells >= 1, s"semanticDupPairs: nCells must be positive, got $nCells")
    require(windowSize >= 1, s"semanticDupPairs: windowSize must be positive, got $windowSize")
    val spark = df.sparkSession
    val train = graft.similarity.Ann.trainSample(df, vecCol, seed)
    // empty or all-null-vector input: nothing to train on and nothing
    // to pair — return the empty pair frame like the other dedup
    // operators, instead of surfacing lloydKMeans' misleading
    // "empty training sample" failure
    if (train.isEmpty) return emptyResult(spark,
      "id_a" -> df.schema(idCol).dataType,
      "id_b" -> df.schema(idCol).dataType,
      "cosine" -> DoubleType)
    val cellDist = nearestCellOf(spark,
      graft.similarity.Ann.lloydKMeans(train, nCells, iters = 15, seed))
    val assigned = df
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).cast("array<float>").as("v"))
      .withColumn("__cd", cellDist(col("v")))
      .select(col("id"), col("v"),
        col("__cd._1").as("cell"), col("__cd._2").as("dist"))
    val byCell = Window.partitionBy("cell")
      .orderBy(col("dist").asc, col("id").asc)
    // each row's window partners are its next `windowSize` neighbors
    // in the (dist, id) cell order — taken as lead() columns over ONE
    // window pass, not a rank self-join: the join form recomputed the
    // whole assignment pipeline for its right side and sort-merged
    // N·windowSize vector-carrying rows (measured 52x for 10x data at
    // 1M vectors — the shuffled vector bytes fell out of page cache);
    // lead() reads the partners out of the already-sorted window
    // buffer, so the vectors cross exactly one exchange (to their
    // cell) and nothing is recomputed or re-sorted.
    val withPartners = assigned.select(
      col("id") +: col("v") +:
        (1 to windowSize).map(i =>
          struct(lead(col("id"), i).over(byCell).as("id_r"),
            lead(col("v"), i).over(byCell).as("v_r")).as(s"__p$i")): _*)
    withPartners
      .withColumn("__p",
        explode(array((1 to windowSize).map(i => col(s"__p$i")): _*)))
      .filter(col("__p.id_r").isNotNull)
      .withColumn("cosine", GraftFunctions.graft_cosine(col("v"), col("__p.v_r")))
      .filter(col("cosine") >= threshold)
      .select(least(col("id"), col("__p.id_r")).as("id_a"),
        greatest(col("id"), col("__p.id_r")).as("id_b"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Embedding OUTLIER detection — the vector-side data-quality gate
    * (corrupt encoders, zero vectors, wrong-modality rows): assign
    * each vector to its nearest k-means centroid (the semanticDupPairs
    * coarse quantizer), then flag rows whose distance-to-centroid
    * z-score WITHIN their cell exceeds `zThreshold`. Per-cell
    * normalization matters: a tight cluster's mild outlier and a
    * diffuse cluster's normal member can sit at the same absolute
    * distance — global thresholds flag whole diffuse clusters.
    *
    * Output: (id, cell, dist, z, is_outlier) for every row — the
    * caller decides drop vs audit. Scale shape: N·nCells distance
    * evaluations scan-side, one aggregate for the per-cell moments
    * (broadcast back), one more scan — never a sort, never a window
    * over an unpartitioned frame.
    *
    * `trainOn` (default: `df` itself) is the distribution the
    * centroids AND moments learn from. Pass a trusted baseline (the
    * previous vetted snapshot, a clean sample) when corruption may be
    * CLUSTERED: a coherent batch of corrupt vectors in the scored
    * frame is big enough to capture its own k-means cell and score
    * z ≈ 0 against itself — the classic masking failure, pinned by
    * the spec. Self-training remains right for scattered one-off
    * anomalies.
    */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
                        nCells: Int = 16, zThreshold: Double = 3.0,
                        seed: Long = 42L,
                        trainOn: DataFrame = null): DataFrame = {
    require(nCells >= 1, s"embeddingOutliers: nCells must be positive, got $nCells")
    require(zThreshold > 0, s"embeddingOutliers: zThreshold must be positive, got $zThreshold")
    val spark = df.sparkSession
    val trainDf = Option(trainOn).getOrElse(df)
    val train = graft.similarity.Ann.trainSample(trainDf, vecCol, seed)
    if (train.isEmpty) {
      // self-training on a frame with no usable vectors: nothing to
      // score either — the empty result, like the other dedup ops.
      // An EXPLICIT baseline with no vectors while the scored frame
      // has some is a caller bug (every row would flag on zero
      // evidence) — fail with the operator's own name, not
      // lloydKMeans' internals.
      if (trainOn != null &&
          !df.filter(col(vecCol).isNotNull).isEmpty)
        throw new IllegalArgumentException(
          "embeddingOutliers: trainOn baseline has no non-null vectors " +
            "but the scored frame does — pass a non-empty baseline or " +
            "omit trainOn to self-train")
      return emptyResult(spark,
        "id" -> df.schema(idCol).dataType,
        "cell" -> IntegerType, "dist" -> DoubleType,
        "z" -> DoubleType, "is_outlier" -> BooleanType)
    }
    val cellDist = nearestCellOf(spark,
      graft.similarity.Ann.lloydKMeans(train, nCells, iters = 15, seed))
    def assign(d: DataFrame) = d
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).cast("array<float>").as("v"))
      .withColumn("__cd", cellDist(col("v")))
      .select(col("id"), col("__cd._1").as("cell"), sqrt(col("__cd._2")).as("dist"))
    val assigned = assign(df)
    // moments from the TRAIN distribution too: corrupt rows in the
    // scored frame would otherwise inflate their cell's spread and
    // mask themselves even under baseline-trained centroids
    val moments = (if (trainOn == null) assigned else assign(trainDf))
      .groupBy("cell").agg(
        avg(col("dist")).as("__mu"), stddev_samp(col("dist")).as("__sd"))
    // left join: under baseline training a scored row can land in a
    // cell with NO train members (an empty cluster kept its previous
    // center) — no train support means no evidence the row is normal,
    // so it flags (z = +Inf). A 1-member or zero-variance train cell
    // has a mean but no spread — z 0, nothing to be an outlier
    // against.
    assigned.join(broadcast(moments), Seq("cell"), "left")
      .withColumn("z",
        when(col("__mu").isNull, lit(Double.PositiveInfinity))
          .when(col("__sd").isNull || col("__sd") === 0.0, lit(0.0))
          .otherwise((col("dist") - col("__mu")) / col("__sd")))
      .withColumn("is_outlier", col("z") > zThreshold)
      .select(col("id"), col("cell"), col("dist"),
        round(col("z"), 4).as("z"), col("is_outlier"))
  }

  /** Per-element cost of one banned md5-hex fingerprint inside the
    * folded broadcast array: 32 UTF-8 bytes of hex + the UnsafeArray
    * offset-and-size slot, rounded up to cover task-side copies. */
  private val BannedFingerprintBytes = 48L

  /** Hard ceiling on the ESTIMATED banned-set broadcast of
    * [[paragraphDedup]] — the same 64 MB comfort zone as
    * [[graft.operators.Freq.MaxCandidateBroadcastBytes]] (~1.4M banned
    * fingerprints). Above it the operator switches to the row-identical
    * shuffle-join route instead of OOMing the driver: unlike
    * heavyHitters' capacity-bounded candidates, the banned set GROWS
    * with the corpus (every paragraph recurring > t times), so a
    * boilerplate-heavy crawl at 100 TB can push it past single-row /
    * broadcast limits. */
  val MaxBannedBroadcastBytes: Long = 64L << 20

  /** Paragraph-level dedup: drop every paragraph whose normalized
    * fingerprint occurs more than `maxOccurrences` times corpus-wide,
    * keeping each document's surviving paragraphs in original order.
    * The curation granularity document-level near-dedup misses:
    * boilerplate blocks (navigation, cookie banners, license headers)
    * repeat across DISTINCT pages, so no whole-document comparison
    * ever flags them.
    *
    * Route selection — the banned set grows with the corpus, so its
    * size is measured, not assumed: one bounded collect ships at most
    * `maxBannedBroadcastBytes / 48` + 1 banned fingerprints (only
    * (16-byte md5, count) digests shuffle; document text never moves).
    * When they all fit, the broadcast route runs
    * ([[paragraphDedupBroadcast]] — scan-side binary-search probe, no
    * join touches the corpus); past that, the shuffle-join route runs
    * ([[paragraphDedupJoin]] — positions join on digests,
    * text moves through exactly one join). Both routes are
    * row-identical by construction; the stress gate and DedupSpec pin
    * that equality.
    *
    * `sep` is treated literally (regex-quoted for the split). A
    * document whose every paragraph is banned becomes the empty
    * string — callers drop or re-score as policy dictates.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n",
                     maxOccurrences: Long = 1,
                     maxBannedBroadcastBytes: Long = MaxBannedBroadcastBytes): DataFrame = {
    // EAGER-JOB SEMANTICS: this entry point runs one bounded collect
    // at call time (the route decision needs the banned-set size). The
    // digest DataFrame is persisted (MEMORY_AND_DISK, (16-byte md5)
    // rows only — never text) so that collect and the join route share
    // ONE corpus fingerprint scan+shuffle; the broadcast route drops
    // the cache at once.
    val banned = bannedFingerprints(docs, textCol, sep, maxOccurrences)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val maxBanned = Math.floorDiv(maxBannedBroadcastBytes, BannedFingerprintBytes)
    SmallSide.atMost(banned, maxBanned) match {
      case Some(rows) =>
        // under budget ⇒ the whole digest set is on the driver by the
        // same bound the broadcast relies on: free the cache, and feed
        // the broadcast route a pre-materialized one-row local set —
        // zero recomputation, no cache left behind
        val sorted = rows.map(_.getString(0)).sortWith(_ < _)
        banned.unpersist(blocking = false)
        broadcastRouteFrom(docs, textCol, sep,
          docs.sparkSession.createDataFrame(
            java.util.List.of(Row(sorted.toSeq)),
            StructType(Seq(StructField("__banned",
              ArrayType(StringType, containsNull = false))))))
      case None =>
        log.info(s"paragraphDedup: more than $maxBanned banned fingerprints " +
          "exceed the broadcast budget — switching to the shuffle-join route")
        // over budget ⇒ the join route reads the persisted digests (one
        // scan total when the result is materialized while the cache is
        // warm). The cache stays until the session evicts it or the
        // caller clears it — digests only, disk-backed, bounded by the
        // banned-set size the route shuffles anyway.
        joinRouteFrom(docs, idCol, textCol, sep, banned)
    }
  }

  /** Corpus-wide banned paragraph fingerprints: one `__fp` column of
    * md5-hex digests occurring more than `maxOccurrences` times. */
  private def bannedFingerprints(docs: DataFrame, textCol: String,
                                 sep: String, maxOccurrences: Long): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    docs
      .select(explode(split(col(textCol), sepRe)).as("__p"))
      .select(textfns.contentFingerprint(col("__p")).as("__fp"))
      .groupBy("__fp").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > maxOccurrences)
      .select("__fp")
  }

  /** Broadcast route (visible to the specs and the stress gate, which
    * pin route equality — use [[paragraphDedup]] for the guarded entry
    * point):
    * the banned fingerprints fold into ONE broadcast row sorted
    * ascending, and each document is rewritten scan-side by a
    * higher-order filter probing that set with a binary search
    * (`graft_sorted_contains_str`, O(log B) per paragraph — an
    * `array_contains` scan is O(B) and the stress gate measured it
    * going super-linear once the banned set grows with the corpus).
    * No join touches the corpus, no driver collect: the whole operator
    * is one lazy Catalyst plan. Caller owns the banned-set size
    * contract; the guarded entry point measures it. */
  private[graft] def paragraphDedupBroadcast(docs: DataFrame, textCol: String,
                                             sep: String = "\n\n",
                                             maxOccurrences: Long = 1): DataFrame =
    broadcastRouteFrom(docs, textCol, sep,
      bannedFingerprints(docs, textCol, sep, maxOccurrences)
        // one row, even when empty; sorted ASC for the binary-search probe
        .agg(sort_array(collect_list(col("__fp"))).as("__banned")))

  /** Shared rewrite of the broadcast route: `bannedList` is ONE row
    * holding the ascending-sorted banned digests as `__banned` —
    * either the lazy distributed agg (unguarded route, recomputes) or a
    * driver-materialized local relation (the guarded entry point,
    * which already paid the fingerprint job for its size pre-flight).
    * Identical plan shape either way: corpus ⨯ broadcast(1 row),
    * scan-side binary-search probe. */
  private def broadcastRouteFrom(docs: DataFrame,
                                 textCol: String, sep: String,
                                 bannedList: DataFrame): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val fpOf = (p: Column) => textfns.contentFingerprint(p)
    docs.crossJoin(broadcast(bannedList))
      .withColumn(textCol,
        // preserve null text: concat_ws(null_array) returns "" (non-null),
        // which would silently merge 'never had text' into 'all
        // paragraphs banned' — two states the contract distinguishes
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(sep, filter(split(col(textCol), sepRe),
            p => !GraftFunctions
              .graft_sorted_contains_str(col("__banned"), fpOf(p))))))
      .drop("__banned")
  }

  /** Shuffle-join route, row-identical to [[paragraphDedupBroadcast]]
    * (visible to the same route-equality gates): when the banned set is
    * too large to broadcast, each document's BANNED PARAGRAPH POSITIONS
    * are computed by a digest-only shuffle join — (id, position,
    * 16-byte md5) triples against the banned digests, never text —
    * then folded to one sorted position array per affected document.
    * Document text moves through exactly one shuffle (the final id
    * join) and the rewrite stays the same scan-side binary-search
    * filter, probing positions instead of fingerprints. Per-document
    * arrays are bounded by the document's own paragraph count, so no
    * single row can outgrow a task. */
  private[graft] def paragraphDedupJoin(docs: DataFrame, idCol: String,
                                        textCol: String,
                                        sep: String = "\n\n",
                                        maxOccurrences: Long = 1): DataFrame =
    joinRouteFrom(docs, idCol, textCol, sep,
      bannedFingerprints(docs, textCol, sep, maxOccurrences))

  /** Shared rewrite of the shuffle-join route; `banned` is the digest
    * DataFrame (`__fp`), lazy (unguarded route) or persisted (guarded
    * entry point — its pre-flight count already materialized it). */
  private def joinRouteFrom(docs: DataFrame, idCol: String,
                            textCol: String, sep: String,
                            banned: DataFrame): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val bannedPos = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), sepRe)).as(Seq("__pos", "__p")))
      .select(col(idCol), col("__pos"),
        textfns.contentFingerprint(col("__p")).as("__fp"))
      .join(banned, Seq("__fp"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos").cast("long"))).as("__bpos"))
    val noBanned = lit(Array.empty[Long]) // docs absent from bannedPos keep everything
    docs.join(bannedPos, Seq(idCol), "left")
      .withColumn(textCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(sep, filter(split(col(textCol), sepRe),
            (_, i) => !GraftFunctions
              .graft_sorted_contains(coalesce(col("__bpos"), noBanned), i)))))
      .drop("__bpos")
  }

  // ---- duplicated-span detection (substring-level exact dedup) ---------

  /** Maximal duplicated word spans per document: every `windowWords`-
    * word sliding window (stride 1, whitespace-normalized words) whose
    * text occurs at least `minOccurrences` times ANYWHERE in the corpus
    * (another doc or the same doc again) marks its word range as
    * duplicated; overlapping/adjacent marked ranges merge into maximal
    * spans. This is the window-hash formulation of substring-level
    * exact dedup — the repeated-passage remover that document-level
    * dedup (dd1) and near-dedup (dd7/dd8) cannot express, because a
    * doc that shares one boilerplate paragraph with a thousand others
    * is NOT a near-duplicate of any of them.
    *
    * Output: (idCol, span_start, span_end, span_words) — 0-based word
    * index, end exclusive; spans per doc are disjoint and sorted.
    *
    * Scale shape: text never shuffles. Windows exist only as a pair of
    * independent 64-bit digests computed scan-side from the split
    * array (grouping on the 128-bit pair keeps the corpus-wide false
    * merge expectation ≈ n²/2^129 — a single xxhash64 would see
    * birthday collisions near 10^10 windows, well inside a 100 TB
    * corpus); the duplicate-digest aggregate gets map-side combine;
    * the join back to window positions is digest-only. The interval
    * merge is a per-document window (partitioned by id — bounded by
    * max doc length, never a global sort).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      windowWords: Int = 8,
                      minOccurrences: Long = 2L): DataFrame = {
    require(windowWords >= 2, s"duplicatedSpans: windowWords must be >= 2, got $windowWords")
    require(minOccurrences >= 2L,
      s"duplicatedSpans: minOccurrences must be >= 2, got $minOccurrences")
    val W = windowWords
    val win = windowDigests(docs, idCol, textCol, W)
    // total occurrence count per window text (both digests agree ⇒
    // same 128-bit key); only digests + a long count shuffle
    val dup = win.groupBy("__h1", "__h2")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minOccurrences)
      .select("__h1", "__h2")
    val hits = win.join(dup, Seq("__h1", "__h2"))
      .select(col(idCol), col("__s"), (col("__s") + lit(W)).as("__e"))
    mergeWordSpans(hits, idCol)
  }

  /** Gaps-and-islands interval merge over (idCol, __s, __e) hit rows:
    * a window starting at or before the running max end extends the
    * current span (adjacent coverage is contiguous word coverage, so
    * it merges too). Per-doc window — bounded by max doc length,
    * never a global sort. Shared by [[duplicatedSpans]] and
    * `Decontam.contaminatedSpans`. */
  private[graft] def mergeWordSpans(hits: DataFrame, idCol: String): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__s").asc)
    val prevMax = max(col("__e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val island = when(prevMax.isNull || col("__s") > prevMax, 1L).otherwise(0L)
    hits
      .withColumn("__isl", sum(island)
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__s")).as("span_start"), max(col("__e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_words"))
  }

  /** Sliding windows of `w` normalized words as (id, start, digest
    * pair): one scan-side projection through the fused
    * `graft_window_digests` kernel — words are segmented once and each
    * window combines precomputed dual word-hashes, instead of the
    * composed split/sequence/slice/concat_ws/xxhash64 chain that
    * re-built every window STRING (the document's chars copied w times
    * over; measured ~2× on the dd12/txt18/txt22 shapes). Equal window
    * texts still get equal digests and unequal ones collide at ~2^-128
    * (dual independent 64-bit streams — Kernels.windowDigestPairs),
    * the same standard the previous two-seed xxhash64 pair carried;
    * the consumers' oracles group on raw window TEXT, so digest-vs-
    * text agreement stays pinned per run. Docs shorter than `w` words
    * produce no windows. */
  private[graft] def windowDigests(docs: DataFrame, idCol: String,
                                   textCol: String, w: Int): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(GraftFunctions
          .graft_window_digests(col(textCol), w)).as("__wd"))
      .select(col(idCol), col("__wd.s").as("__s"),
        col("__wd.h1").as("__h1"), col("__wd.h2").as("__h2"))

  /** The rewrite counterpart of [[duplicatedSpans]]: documents with
    * every duplicated span's words removed (surviving words rejoined
    * with single spaces in original order). Surviving text is the
    * doc's NORMALIZED form — `textfns.normalizeText`'s full contract,
    * i.e. LOWERCASED as well as whitespace-collapsed (word offsets
    * only align against the same normalization the span digests were
    * computed over, and span detection is case-insensitive by
    * design). A corpus rewrite through this operator therefore loses
    * casing; callers that must preserve it should treat the output as
    * a mask source and re-slice the original text themselves. Docs
    * with no duplicated span pass through at that same normalized
    * form; a doc that is entirely duplicated coverage becomes the
    * empty string — deletion is a separate policy decision, like
    * [[paragraphDedup]].
    *
    * The span list joins back by id (spans per doc are tiny — bounded
    * by words/windowWords intervals) and the rewrite is one
    * higher-order filter over the split array; text still never
    * shuffles (the join moves only (id, start, end) triples to the
    * doc's partition).
    */
  def dropDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          windowWords: Int = 8,
                          minOccurrences: Long = 2L): DataFrame =
    removeWordSpans(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, windowWords, minOccurrences))

  /** Rewrite `docs` with every word range in `spans` (rows of idCol,
    * span_start, span_end — 0-based, end exclusive, over the
    * normalized word split) removed; surviving words rejoin with
    * single spaces in original order. Same normalization contract as
    * [[dropDuplicatedSpans]]: output text is `textfns.normalizeText`'s
    * form (lowercased + whitespace-collapsed). The span list joins
    * back by id (spans per doc are tiny — bounded interval counts)
    * and the rewrite is one higher-order filter over the split array;
    * text never shuffles (the join moves only (id, start, end)
    * triples to the doc's partition). Shared by
    * [[dropDuplicatedSpans]] and `Decontam.scrubContaminatedSpans`. */
  private[graft] def removeWordSpans(docs: DataFrame, idCol: String,
                                     textCol: String,
                                     spans: DataFrame): DataFrame = {
    val spanSets = spans
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__spans"))
    docs.join(spanSets, Seq(idCol), "left")
      .withColumn(textCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ",
            filter(split(textfns.normalizeText(col(textCol)), " "),
              (_, i) => !exists(coalesce(col("__spans"),
                  array().cast("array<struct<s:long,e:long>>")),
                sp => i >= sp.getField("s") && i < sp.getField("e"))))))
      .drop("__spans")
  }
}
