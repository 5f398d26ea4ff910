package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.expressions.FreqSketch

/** Heavy-hitter (frequent-items) analysis for high-cardinality
  * columns — the curation primitive behind domain/boilerplate
  * blocklist candidates, hot-key detection, and vocabulary heads.
  *
  * The naive plan (groupBy item → count → filter) shuffles ONE ROW
  * PER DISTINCT ITEM — at 100 TB a URL or shingle column has billions
  * of distinct values, almost all of them singletons that exist only
  * to be discarded by the threshold. The sketch-then-verify plan
  * never shuffles the long tail:
  *
  *  1. a Misra–Gries sketch ([[FreqSketch]], fixed `capacity`
  *     counters) aggregates partially per task and merges to ONE row
  *     — candidates are a guaranteed SUPERSET of every item with
  *     frequency > N/capacity;
  *  2. candidates (≤ 2·capacity strings — the amortized-prune buffer
  *     runs up to twice the nominal counter budget) broadcast back,
  *     and a broadcast join keeps only candidate rows — the exact
  *     count aggregate then shuffles ≤ 2·capacity distinct keys
  *     instead of the full item cardinality. The broadcast therefore
  *     carries up to 2·capacity·(item bytes) — bounded by
  *     [[Freq.MaxCandidateBroadcastBytes]] via an up-front estimate,
  *     since the counter-count ceiling alone
  *     ([[FreqSketch.MaxCapacity]], 2^24) would admit a multi-GB
  *     broadcast of long items;
  *  3. the exact counts are thresholded, so sketch error NEVER
  *     reaches the output: same exactness discipline as the Bloom
  *     decontamination path (the sketch trades shuffle volume, not
  *     correctness).
  *
  * Whole pipeline is one lazy Catalyst plan; no driver collect.
  */
object Freq {

  /** Hard ceiling on the ESTIMATED candidate broadcast:
    * 2·capacity·(estimatedItemBytes + per-row overhead) must stay
    * under this, or [[heavyHitters]] refuses up front. 64 MB — within
    * every production broadcast-size comfort zone (Spark warns at 1 GB,
    * OOMs follow); a legitimate larger need should shrink `capacity`
    * (raising `minFraction`'s guaranteed floor) rather than ship a
    * multi-GB table to every executor. */
  val MaxCandidateBroadcastBytes: Long = 64L << 20

  /** Conservative per-candidate row overhead (UnsafeRow header + offset
    * + broadcast hash-relation slot) added to `estimatedItemBytes`. */
  private val RowOverheadBytes = 48L

  /** Items occurring at least `ceil(minFraction · N)` times, with
    * their EXACT counts: (itemCol, n). Correctness needs
    * `capacity ≥ 1/minFraction`; the default 4/minFraction keeps the
    * sketch's N/capacity error at a 4× margin below the threshold.
    * The threshold is DECIMAL arithmetic (double would round e.g.
    * 0.07 × 100 to 7.000000000000001 and ceil it to 8, excluding an
    * item exactly at the boundary; `BigDecimal.valueOf` matches how
    * SQL engines, and the DuckDB oracle, parse the fraction), and a
    * null item is never a heavy hitter. [[groupedHeavyHitters]] is the
    * same body per group; this contract is theirs.
    *
    * @param estimatedItemBytes expected size of ONE item value (UTF-8
    *        bytes for strings). Sizes the candidate-broadcast guard:
    *        2·capacity·(estimatedItemBytes + 48) must stay under
    *        [[MaxCandidateBroadcastBytes]]. Callers with long items
    *        (URLs, shingles, paragraphs) must raise this to their real
    *        size — understating it undersizes the check, not the
    *        result (correctness never depends on it).
    */
  def heavyHitters(df: DataFrame, itemCol: String, minFraction: Double,
                   capacity: Int = 0,
                   estimatedItemBytes: Int = 64): DataFrame =
    hitters("heavyHitters", df, Nil, itemCol, minFraction, capacity, 1L,
      estimatedItemBytes, 0)

  /** Per-GROUP heavy hitters: items occurring at least
    * `ceil(minFraction · groupN)` times WITHIN their group, with exact
    * counts — (groupCols*, itemCol, n). The per-domain/per-language
    * curation primitive (a source's boilerplate shingles, a
    * language's hot URLs): each group gets its own N and its own
    * threshold, so a globally-rare item that dominates one small
    * source still surfaces. Same sketch-then-verify body and contract
    * as [[heavyHitters]], with the sketch and the total keyed per
    * group: only sketch summaries, one per (task, group), reach the
    * exchange, and the exact per-(group, item) count shuffles
    * ≤ 2·capacity·G keys. Null group keys are a group.
    *
    * The candidate broadcast now scales with the GROUP COUNT:
    * 2·capacity·`estimatedGroups`·(item + group + overhead bytes)
    * must clear [[MaxCandidateBroadcastBytes]] up front. This
    * operator is for bounded group cardinality (sources, languages,
    * buckets — thousands); per-USER or per-URL grouping belongs to a
    * plain two-level groupBy, where the group key itself is the long
    * tail. As with `estimatedItemBytes`, understating
    * `estimatedGroups` undersizes the guard, never the result.
    *
    * Cost honesty (stress-measured): when the distinct-ITEM universe
    * is small enough that a two-level groupBy's hash map fits memory,
    * the plain aggregate is FASTER — the sketch's per-row update isn't
    * free, and it buys nothing without a long tail to avoid
    * shuffling. Reach for this operator when distinct items per
    * group are huge (shingles, URLs); profile first if unsure.
    */
  def groupedHeavyHitters(df: DataFrame, groupCols: Seq[String],
                          itemCol: String, minFraction: Double,
                          capacity: Int = 0,
                          estimatedGroups: Long = 1024,
                          estimatedItemBytes: Int = 64,
                          estimatedGroupBytes: Int = 32): DataFrame = {
    require(groupCols.nonEmpty,
      "groupedHeavyHitters: groupCols must be non-empty — use heavyHitters for the ungrouped form")
    require(estimatedGroups > 0 && estimatedGroupBytes > 0,
      "groupedHeavyHitters: size estimates must be positive")
    hitters("groupedHeavyHitters", df, groupCols, itemCol, minFraction, capacity,
      estimatedGroups, estimatedItemBytes, estimatedGroupBytes)
  }

  private def hitters(caller: String, df: DataFrame, groupCols: Seq[String],
                      itemCol: String, minFraction: Double, capacity: Int,
                      groups: Long, itemBytes: Int, groupBytes: Int): DataFrame = {
    require(minFraction > 0.0 && minFraction <= 1.0,
      s"$caller: minFraction must be in (0,1], got $minFraction")
    require(itemBytes > 0, s"$caller: estimatedItemBytes must be positive, got $itemBytes")
    // Long math before narrowing: a tiny minFraction would saturate
    // .toInt at Int.MaxValue and sail past every guard
    val want = math.ceil(4.0 / minFraction).toLong
    require(want <= FreqSketch.MaxCapacity || capacity > 0,
      s"$caller: minFraction $minFraction needs $want counters " +
        s"(max ${FreqSketch.MaxCapacity}) — pass an explicit capacity to override")
    val cap =
      if (capacity > 0) capacity
      else math.max(16L, want).toInt
    require(cap.toLong >= math.ceil(1.0 / minFraction).toLong,
      s"$caller: capacity $cap cannot guarantee recall at minFraction $minFraction")
    // refuse a plan that would ship tens of MBs to every executor
    // before any job runs (the counter ceiling alone allows 2^24
    // counters — GBs of broadcast for long items). Overflow-safe:
    // `groups` is caller-supplied, so compare against the DIVIDED
    // budget instead of multiplying up past 2^63
    val perGroupBytes = 2L * cap * (itemBytes + groupBytes + RowOverheadBytes)
    require(groups <= MaxCandidateBroadcastBytes / perGroupBytes,
      s"$caller: estimated candidate broadcast ${(BigInt(perGroupBytes) * groups) >> 20} MB " +
        s"(2 x $cap candidates x $groups group(s) x " +
        s"($itemBytes + $groupBytes + $RowOverheadBytes) bytes) exceeds " +
        s"${MaxCandidateBroadcastBytes >> 20} MB — lower capacity or raise minFraction, " +
        "or correct the size estimates (estimatedItemBytes, estimatedGroups)")
    val sketch = FreqSketch(Bridge.expression(col(itemCol)), cap)
      .toAggregateExpression()
    // ONE summary aggregate (sketch + total in the same scan), consumed
    // by ONE downstream projection: attaching the total to every
    // exploded candidate row lets the whole operator run in two scans
    // of `df` (summary + verify join). Splitting the two outputs into
    // separate consumers would embed the sketch scan twice — the
    // differing parent projections defeat ReuseExchange.
    val summary = df.groupBy(groupCols.map(col): _*)
      .agg(Bridge.column(sketch).as("__cands"), count(lit(1)).as("__n_grp"))
    val cands = summary.select(
      groupCols.zipWithIndex.map { case (c, i) => col(c).as(s"__g$i") } :+
        explode(col("__cands")).as("__citem") :+ col("__n_grp"): _*)
    // candidates are distinct per group (sketch map keys), so the
    // broadcast inner join is the semi-join plus the carried total;
    // group keys match NULL-SAFELY (a null group is a group, exactly
    // as groupBy binned it), the item with SQL equality
    val cond = (groupCols.zipWithIndex.map { case (c, i) => df(c) <=> col(s"__g$i") }
      :+ (df(itemCol) === col("__citem"))).reduce(_ && _)
    df.join(broadcast(cands), cond, "inner")
      .groupBy(groupCols.map(df(_)) :+ df(itemCol): _*)
      .agg(count(lit(1)).as("n"), max(col("__n_grp")).as("__ng"))
      .filter(col("n") >=
        ceil(col("__ng") * lit(java.math.BigDecimal.valueOf(minFraction))))
      .select(groupCols.map(df(_)) :+ df(itemCol) :+ col("n"): _*)
  }

  /** Corpus-level COLLOCATION mining: adjacent word pairs that
    * co-occur far more than their unigram frequencies predict —
    * multiword expressions ("new york", "machine learning"), the
    * building block of phrase-aware tokenizers, boilerplate
    * detectors and vocabulary induction (Manning & Schütze ch. 5's
    * association-measure discipline).
    *
    * The association score is LIFT, the exact-arithmetic core of PMI
    * (PMI = ln lift — monotone, so ranking and thresholding by lift
    * IS ranking by PMI, without putting a transcendental into the
    * comparison): lift = n_ab·N / (n_a·n_b) with N the total bigram
    * count and n_a/n_b the bigram table's own left/right marginals —
    * every factor an exact integer, the quotient ONE double division
    * (decimal(38,0) products here, HUGEINT in an oracle), so the
    * whole output replays bit-for-bit.
    *
    * Scale shape: bigrams assemble SCAN-SIDE (zip_with over the
    * token array — no posexplode self-join), and the only
    * corpus-cardinality work is one `groupBy(w1, w2)` with map-side
    * combine. Marginals and N re-aggregate the (already distinct)
    * bigram DIGEST table; `minCount` prunes the candidate set before
    * the marginal joins (the marginals themselves come from the
    * unfiltered digests — a pruned marginal would inflate lift).
    * A hot bigram ("of the" a billion times) is one digest row.
    *
    * Output: (w1, w2, n_ab, n_a, n_b, lift), pairs with
    * n_ab ≥ minCount. Empty/whitespace-only docs contribute nothing;
    * single-word docs have no bigrams. */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long = 5L): DataFrame = {
    require(minCount >= 1L, s"collocations: minCount must be >= 1, got $minCount")
    require(docs.columns.contains(textCol),
      s"collocations: no column '$textCol' in the frame")
    val ws = split(lower(trim(regexp_replace(col(textCol), "\\s+", " "))), " ")
    val pairs = zip_with(
      slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bg = docs.select(explode(pairs).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val total = bg.agg(sum(col("n_ab")).as("__nn"))
    val leftM = bg.groupBy("w1").agg(sum(col("n_ab")).as("n_a"))
    val rightM = bg.groupBy("w2").agg(sum(col("n_ab")).as("n_b"))
    val dec = "decimal(38,0)"
    bg.filter(col("n_ab") >= minCount)
      .join(leftM, "w1").join(rightM, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast(dec) * col("__nn").cast(dec)).cast("double")
          / (col("n_a").cast(dec) * col("n_b").cast(dec)).cast("double"))
          .as("lift"))
  }
}
