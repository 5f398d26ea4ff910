package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SmallSide

/** Data-quality operators: column profiles, the drift family
  * (PSI, KS, JSD, W₁ between two snapshots), changepoints, robust
  * outlier gates and per-group rescaling.
  *
  * The drift family shares its stages, each defined once here:
  *  - [[snapshotDigest]]: the two-snapshot digest — `base` and `cur`
  *    tag-unioned into (groups…, value, n_base, n_cur), each side's
  *    columns checked first;
  *  - [[withCommonTotals]]: the per-group totals of two count columns,
  *    attached to every row of the groups with rows on both sides
  *    (null-safe; with no groups, the one global total);
  *  - [[rangeRunningSums]]: range-partitioned global running sums, so
  *    one ordered distribution never collapses into a single task;
  *  - [[jsdColumns]]: one category's Jensen–Shannon term (also the
  *    streaming drift gate's arithmetic);
  *  - [[quantize]]: the library-wide `floor(v·scale + ½)` → BIGINT
  *    rule behind every exact integer statistic (also [[Roll]]'s).
  * Each grouped/ungrouped pair (`ksDrift`/`ksDriftBy`,
  * `categoricalDrift`/`categoricalDriftBy`) is one body over zero or
  * more group columns, the dplyr `group_by()` contract.
  */
object Profiler {

  /** Column-level data profiling — the data-quality gate a pipeline
    * runs before pointing a training job at a new table: null rates,
    * cardinalities and value ranges per column, in ONE pass over the
    * data, as a small tidy frame (one row per column) instead of a
    * one-row-of-many-columns summary nobody can filter.
    *
    * Scale shape: a single global aggregate — partial per task,
    * map-side combined, one row reaches the driver side of the plan.
    * The only scale-sensitive choice is DISTINCT counting:
    *  - `approxDistinct = true` (the 100 TB default): HLL++
    *    `approx_count_distinct` folds into the same single scan-side
    *    aggregate — no expansion, no extra shuffle;
    *  - `approxDistinct = false` (exact): Spark plans multi-column
    *    `count(DISTINCT …)` via Expand — the input is replicated once
    *    per profiled column before the shuffle. Exact and
    *    oracle-replayable, the right choice for validation scales;
    *    at corpus scale prefer the approximate form.
    *
    * Output, one row per profiled column, ordered as given:
    * (col_name, n_rows, n_nonnull, n_null, n_distinct, min_value,
    * max_value) — min/max cast to strings so heterogeneous column
    * types share one schema (the tidy-profile convention). */
  def columnStats(df: DataFrame, cols: Seq[String],
                  approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "columnStats: cols must be non-empty")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"columnStats: columns not in the frame: ${missing.mkString(", ")}")
    val summary =
      if (approxDistinct) {
        // HLL++ folds into the one scan-side aggregate — single pass
        val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
          Seq(count(col(c)).as(s"__n_$c"),
            approx_count_distinct(col(c)).as(s"__d_$c"),
            min(col(c)).cast("string").as(s"__min_$c"),
            max(col(c)).cast("string").as(s"__max_$c"))
        }
        df.agg(aggs.head, aggs.tail: _*)
      } else {
        // Exact mode. NOT one aggregate with k countDistincts: Spark
        // plans that via Expand (input replicated k+1 times), and the
        // min/max(string) buffers disqualify HashAggregate, so the
        // whole expanded stream is SORTED on a (k+1)-column key twice
        // (measured: 3.5 s vs 0.9 s on the cur9 shape). Instead:
        // count/min/max in ONE keyless pass (keyless aggregates never
        // sort), plus one narrow two-phase hash-aggregate per column
        // for its exact distinct count, attached by 1-row broadcast
        // joins. Same exact results; each distinct branch shuffles
        // only that column's per-partition-distinct values.
        val baseAggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
          Seq(count(col(c)).as(s"__n_$c"),
            min(col(c)).cast("string").as(s"__min_$c"),
            max(col(c)).cast("string").as(s"__max_$c"))
        }
        val base = df.agg(baseAggs.head, baseAggs.tail: _*)
        cols.foldLeft(base) { (acc, c) =>
          acc.crossJoin(broadcast(df.agg(countDistinct(col(c)).as(s"__d_$c"))))
        }
      }
    // one summary row → one tidy row per column (stateless explode of
    // a struct array; ordering column keeps the caller's column order
    // without relying on the sort being stable across engines)
    val packed = summary.select(explode(array(cols.zipWithIndex.map {
      case (c, i) => struct(
        lit(i).as("ord"), lit(c).as("col_name"), col("__rows").as("n_rows"),
        col(s"__n_$c").as("n_nonnull"),
        (col("__rows") - col(s"__n_$c")).as("n_null"),
        col(s"__d_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"), col(s"__max_$c").as("max_value"))
    }: _*)).as("r"))
    packed.select(col("r.ord").as("ord"), col("r.col_name").as("col_name"),
        col("r.n_rows").as("n_rows"), col("r.n_nonnull").as("n_nonnull"),
        col("r.n_null").as("n_null"), col("r.n_distinct").as("n_distinct"),
        col("r.min_value").as("min_value"), col("r.max_value").as("max_value"))
      .orderBy(col("ord").asc).drop("ord")
  }

  /** Distribution drift between two snapshots of one numeric column —
    * the Population Stability Index, the standard production metric
    * for "did the new crawl/shard shift the data a model was tuned
    * on" (rule of thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25
    * shifted).
    *
    * Binning: `nBins` EQUI-WIDTH bins over the BASE snapshot's
    * [min, max] (one scalar aggregate on base); values are assigned
    * by pure floor arithmetic `⌊(x − min)/w⌋` clamped into
    * [0, nBins−1], so out-of-range current-snapshot values land in
    * the edge bins (drift SHOULD count them) and the whole assignment
    * is identical-IEEE-ops replayable by the oracle. Nulls are
    * excluded on both sides (they are [[columnStats]]'s department).
    * Equi-width is deliberate: the cut points are two numbers, not a
    * quantile sketch — cheap, deterministic, engine-neutral; for
    * heavy-tailed columns bin on a transformed column (log) instead.
    *
    * PSI = Σ_bins (pBase − pCur) · ln(pBase / pCur), with both
    * proportions floored at `epsilon` (an empty bin on either side
    * would make the term infinite; the floor is the standard
    * practice and is part of the declared semantics, not a fudge —
    * identical on both engines).
    *
    * Two scans of base (min/max + counts) and one of cur; everything
    * aggregates map-side to nBins rows. Output: one row —
    * (psi, n_base, n_cur), psi rounded 6dp (sum of ≤ nBins ln terms;
    * the grid step is far above summation-order error). */
  def psiDrift(base: DataFrame, cur: DataFrame, valueCol: String,
               nBins: Int = 10, epsilon: Double = 1e-4): DataFrame = {
    require(nBins >= 2, s"psiDrift: nBins must be >= 2, got $nBins")
    require(epsilon > 0.0 && epsilon < 0.5,
      s"psiDrift: epsilon must be in (0, 0.5), got $epsilon")
    val v = col(valueCol).cast("double")
    val bounds = base.filter(v.isNotNull)
      .agg(min(v).as("lo"), max(v).as("hi"))
    def binned(df: DataFrame, as: String) = {
      val w = (col("hi") - col("lo")) / nBins
      // degenerate base (constant column or single row): width 0 puts
      // everything in bin 0 — defined, and PSI then measures only
      // mass escaping the constant
      val raw = when(col("hi") === col("lo"), lit(0))
        .otherwise(floor((v - col("lo")) / w).cast("int"))
      df.filter(v.isNotNull)
        .crossJoin(broadcast(bounds))
        .select(least(greatest(raw, lit(0)), lit(nBins - 1)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(as))
    }
    val b = binned(base, "n_base")
    val c = binned(cur, "n_cur")
    // all nBins bins present even when empty on both sides: the
    // epsilon floor applies per bin, so missing rows must not
    // silently drop terms
    val spark = base.sparkSession
    val allBins = spark.range(nBins).select(col("id").cast("int").as("bin"))
    val joined = allBins
      .join(b, Seq("bin"), "left").join(c, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"))
    joined.crossJoin(broadcast(totals))
      .select(
        greatest(col("n_base") / col("tb"), lit(epsilon)).as("pb"),
        greatest(col("n_cur") / col("tc"), lit(epsilon)).as("pc"),
        col("n_base"), col("n_cur"))
      .agg(round(sum((col("pb") - col("pc")) * log(col("pb") / col("pc"))), 6).as("psi"),
        sum(col("n_base")).as("n_base"), sum(col("n_cur")).as("n_cur"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between two
    * snapshots of one numeric column — the binning-free complement to
    * [[psiDrift]]: D = sup_x |F_base(x) − F_cur(x)|, the largest gap
    * between the two empirical CDFs. No bins, no epsilon — the
    * statistic is a max over |k/n − j/m| with k, j, n, m exact
    * integer counts, so the whole computation is bit-replayable by
    * the oracle (one integer division and one subtraction per
    * distinct value; only the final 6dp round touches float
    * formatting). The KS gap only needs evaluating at distinct values
    * (the CDF gap is constant between them and both CDFs step AT a
    * value — evaluating |F_b − F_c| at every digest after both
    * cumulative sums include that value's own counts covers every sup
    * candidate).
    *
    * This contract is shared with [[ksDriftBy]], the same body over
    * group columns: nulls are excluded on both sides; a snapshot
    * without the named columns refuses with an
    * IllegalArgumentException naming the snapshot and the columns;
    * ks is in [0, 1] rounded 6dp, next to the exact (n_base, n_cur);
    * identical snapshots give exactly 0, disjoint value ranges
    * exactly 1.
    *
    * Scale shape — a distributed exact CDF, never a single-task sort:
    * the [[snapshotDigest]] of distinct (value, n_base, n_cur) rows
    * (the only pass that touches every row — a near-unique column at
    * corpus scale still counts in parallel because the exchange key
    * is the value itself), then [[rangeRunningSums]] for both
    * cumulative counts.
    *
    * An empty (all-null) side makes KS undefined and raises an
    * IllegalArgumentException naming the side (a drift gate fed an
    * empty snapshot is a pipeline bug, not a zero-drift corpus).
    * Output: one row — (ks, n_base, n_cur). */
  def ksDrift(base: DataFrame, cur: DataFrame, valueCol: String): DataFrame =
    ks("ksDrift", base, cur, valueCol, Nil)

  /** Per-GROUP [[ksDrift]]: one exact two-sample KS statistic per
    * group key — WHICH source's length/score distribution moved, not
    * just whether the global one did (the numeric companion of
    * [[categoricalDriftBy]]). Same statistic and contract as
    * [[ksDrift]], per group.
    *
    * The PLAN differs, deliberately: [[ksDrift]]'s range-partitioned
    * running sums exist because ONE distribution's running sums must
    * never collapse into a single task; here the group IS the
    * parallelism unit, so the running sums are one window partitioned
    * by group over the AGGREGATED (group, value) digest table —
    * bounded by per-group distinct values, the q20 histogram
    * discipline, spillable and shard-parallel. Groups with non-null
    * values on only one side are EXCLUDED ([[withCommonTotals]]: KS
    * against an absent sample is undefined); null group keys are a
    * group.
    *
    * Output: groupCols ++ (ks, n_base, n_cur), one row per common
    * group, ordered by group. */
  def ksDriftBy(base: DataFrame, cur: DataFrame, valueCol: String,
                groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "ksDriftBy: groupCols must be non-empty (use ksDrift)")
    ks("ksDriftBy", base, cur, valueCol, groupCols)
  }

  private def ks(caller: String, base: DataFrame, cur: DataFrame,
                 valueCol: String, groupCols: Seq[String]): DataFrame = {
    val v = col(valueCol).cast("double")
    val gs = groupCols.map(col)
    val digests = snapshotDigest(caller, base, cur, groupCols, valueCol, v, "__v")
    val gaps =
      if (groupCols.isEmpty) {
        val (run, pidTotals) = rangeRunningSums(digests, "__v", Seq("b", "c"))
        run.crossJoin(broadcast(pidTotals
            .agg(sum(col("__tb")).as("__nb"), sum(col("__tc")).as("__nc"))))
          .select(abs((col("__rb") + col("__ob")) / col("__nb")
              - (col("__rc") + col("__oc")) / col("__nc")).as("__gap"),
            col("__nb"), col("__nc"))
      } else {
        val wRun = Window.partitionBy(gs: _*).orderBy(col("__v").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val run = digests
          .withColumn("__rb", sum(col("__cb")).over(wRun))
          .withColumn("__rc", sum(col("__cc")).over(wRun))
        withCommonTotals(run, groupCols, ("__cb", "__cc"), ("__nb", "__nc"))
          .select(gs :+ abs(col("__rb") / col("__nb") - col("__rc") / col("__nc"))
            .as("__gap") :+ col("__nb") :+ col("__nc"): _*)
      }
    gaps.groupBy(gs: _*)
      .agg(round(max(col("__gap")), 6).as("ks"),
        first(col("__nb")).as("n_base"), first(col("__nc")).as("n_cur"))
      .orderBy(gs: _*)
  }

  /** CUSUM changepoint detection (Page 1954, one-sided upper chart)
    * over an ordered metric series: S_t = max(0, S_{t-1} + x_t − μ −
    * k), alarm when S_t crosses `threshold` — the sequential shift
    * detector that catches a small persistent level change long
    * before any per-point rule fires (the monitoring layer the drift
    * gates feed: run it on per-batch quality means, per-hour event
    * rates, per-crawl containment ratios).
    *
    * The recurrence looks inherently sequential, but has the exact
    * prefix-sum form S_t = P_t − min(0, min_{j≤t} P_j) with P the
    * running sum of deviations — two per-series windows, shard-
    * parallel by group. Deviations are micro-quantized
    * (floor((x−μ−k)·10⁶ + 0.5), one independent per-row op) so every
    * running sum is an order-free BIGINT and the result replays
    * bit-for-bit in any engine — a float cumulative sum would differ
    * between Spark's sequential frame accumulation and a
    * segment-tree windowed sum in the last ulp. 10⁻⁶ metric
    * resolution is the documented quantization contract.
    *
    * Input is a METRIC table (one row per group per period — already
    * aggregated from the corpus by the caller), so per-group windows
    * over it are bounded by the series length, never corpus size.
    * Duplicate periods within a group order deterministically by
    * (period, deviation); null period/value rows are excluded
    * ([[columnStats]] reports them). `target`/`slack` come from the
    * in-control baseline (e.g. a [[columnStats]] profile of it).
    *
    * Output: groupCols ++ (orderCol, valueCol, cusum, alarm), one
    * row per input point. */
  def cusum(df: DataFrame, orderCol: String, valueCol: String,
            groupCols: Seq[String], target: Double, threshold: Double,
            slack: Double = 0.0): DataFrame = {
    require(threshold > 0, s"cusum: threshold must be > 0, got $threshold")
    require(slack >= 0, s"cusum: slack must be >= 0, got $slack")
    val missing = (groupCols ++ Seq(orderCol, valueCol))
      .filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"cusum: input is missing column(s): ${missing.mkString(", ")}")
    val gs = groupCols.map(col)
    val dq = floor((col(valueCol).cast("double") - lit(target) - lit(slack))
      * lit(1000000.0) + lit(0.5)).cast("long")
    val base = df.filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(gs ++ Seq(col(orderCol), col(valueCol), dq.as("__dq")): _*)
    val w = Window.partitionBy(gs: _*)
      .orderBy(col(orderCol).asc, col("__dq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thrQ = math.floor(threshold * 1000000.0 + 0.5).toLong
    val s = col("__p") - least(lit(0L), col("__m"))
    base.withColumn("__p", sum(col("__dq")).over(w))
      .withColumn("__m", min(col("__p")).over(w))
      .select(gs ++ Seq(col(orderCol), col(valueCol),
        (s.cast("double") / lit(1000000.0)).as("cusum"),
        (s > lit(thrQ)).as("alarm")): _*)
  }

  /** Categorical frequency drift between two snapshots of a discrete
    * column — the Jensen–Shannon decomposition over the top-`topK`
    * categories plus an `__other__` bucket, the companion to
    * [[psiDrift]]/[[ksDrift]] for string-typed columns (language mix,
    * source domain, license tag — the distributions an LLM data
    * pipeline actually tracks between crawls).
    *
    * This contract is shared with [[categoricalDriftBy]], the same
    * body over group columns:
    *  - top-K categories by BASE-side count (categories defined on the
    *    base snapshot, the [[psiDrift]] bin convention — a category
    *    newborn in `cur` shows up as `__other__` mass), count ties
    *    broken by category ascending;
    *  - jsd_term = ½(p_b·ln(p_b/m) + p_c·ln(p_c/m)) with
    *    m = (p_b+p_c)/2 and 0·ln 0 = 0 ([[jsdColumns]]) — no epsilon
    *    floor needed (a kept category has mass on at least one side,
    *    so m > 0); `sum(jsd_term)` is the Jensen–Shannon divergence
    *    (natural log: 0 = identical mixes, ln 2 ≈ 0.693 = disjoint);
    *    p/term are rounded 6dp, counts are exact;
    *  - nulls are excluded on both sides ([[columnStats]] reports
    *    them); a real category literally named `__other__` would merge
    *    with the fold bucket; a snapshot without the named columns
    *    refuses with an IllegalArgumentException naming the snapshot
    *    and the columns.
    *
    * Scale shape: the [[snapshotDigest]] by category (the only
    * full-data scan); top-K is a bounded
    * `orderBy(base count desc, category asc).limit(K)` over the already
    * aggregated digests (TakeOrdered: per-partition partial top-K,
    * K·partitions rows to the driver side of the plan — never a
    * global sort); the kept set broadcasts back and the `__other__`
    * fold re-aggregates to ≤ K+1 rows with map-side combine, so an
    * unbounded-cardinality column (URLs, domains) stays safe. Empty
    * sides refuse with a named error, as in [[ksDrift]].
    *
    * Output: one tidy row per kept category plus `__other__`
    * (category, n_base, n_cur, p_base, p_cur, jsd_term), ordered by
    * category. */
  def categoricalDrift(base: DataFrame, cur: DataFrame, catCol: String,
                       topK: Int = 20): DataFrame =
    categorical("categoricalDrift", base, cur, catCol, Nil, topK)

  /** Per-GROUP [[categoricalDrift]]: one JSD decomposition per group
    * key — "which SOURCE's language mix moved", not just whether the
    * global mix did (a 5-point shift confined to one domain vanishes
    * into a corpus-wide average; segment-level drift is the gate that
    * catches it). Same arithmetic and contract as [[categoricalDrift]]
    * per group (top-K by the group's BASE counts), so Σ jsd_term
    * within a group is that group's JSD. Differences forced by the
    * grouping:
    *  - top-K runs as a per-group window rank over the AGGREGATED
    *    (group, category) digests (the ungrouped TakeOrdered cannot
    *    express per-group limits); digest cardinality = distinct
    *    pairs, so the window never sees raw rows;
    *  - the kept set joins back by (group, category) — Spark
    *    broadcasts it when small, and it is ≤ groups·(K+1) rows;
    *  - groups present in only ONE snapshot are EXCLUDED
    *    ([[withCommonTotals]]: JSD against an absent distribution is
    *    undefined; a newborn/vanished group is a schema-level event —
    *    catch it with [[columnStats]] counts, not a drift score). Null
    *    group keys are a group (the groupedHeavyHitters contract).
    *
    * Output: groupCols ++ (category, n_base, n_cur, p_base, p_cur,
    * jsd_term), ≤ K+1 category rows per group. */
  def categoricalDriftBy(base: DataFrame, cur: DataFrame, catCol: String,
                         groupCols: Seq[String],
                         topK: Int = 20): DataFrame = {
    require(groupCols.nonEmpty,
      "categoricalDriftBy: groupCols must be non-empty (use categoricalDrift)")
    categorical("categoricalDriftBy", base, cur, catCol, groupCols, topK)
  }

  private def categorical(caller: String, base: DataFrame, cur: DataFrame,
                          catCol: String, groupCols: Seq[String],
                          topK: Int): DataFrame = {
    require(topK >= 1, s"$caller: topK must be >= 1, got $topK")
    val cc = col(catCol).cast("string")
    val gs = groupCols.map(col)
    val digests = snapshotDigest(caller, base, cur, groupCols, catCol, cc, "__cat")
    val order = Seq(col("__cb").desc, col("__cat").asc)
    // null-safe group joins: a null group key is a group — a plain
    // equi-join would silently fold its kept categories
    val kept =
      if (groupCols.isEmpty)
        digests.join(broadcast(digests.orderBy(order: _*).limit(topK)
          .select(col("__cat"), lit(true).as("__keep"))), Seq("__cat"), "left")
      else {
        val top = digests
          .withColumn("__rk", row_number().over(Window.partitionBy(gs: _*).orderBy(order: _*)))
          .filter(col("__rk") <= topK)
          .select(groupCols.map(c => col(c).as(s"__tg_$c"))
            :+ col("__cat").as("__tcat") :+ lit(true).as("__keep"): _*)
        digests.join(top, groupCols.map(c => col(c) <=> col(s"__tg_$c"))
          .reduce(_ && _) && col("__cat") === col("__tcat"), "left")
      }
    val mapped = kept
      .select(gs :+
        when(col("__keep"), col("__cat")).otherwise(lit("__other__"))
          .as("category") :+ col("__cb") :+ col("__cc"): _*)
      .groupBy(gs :+ col("category"): _*)
      .agg(sum(col("__cb")).as("__nb"), sum(col("__cc")).as("__nc"))
    withCommonTotals(mapped, groupCols, ("__nb", "__nc"), ("__tb", "__tc"))
      .select(gs ++ Seq(col("category"),
        col("__nb").as("n_base"), col("__nc").as("n_cur")) ++
        jsdColumns(col("__nb"), col("__nc"), col("__tb"), col("__tc")): _*)
      .orderBy(gs :+ col("category").asc: _*)
  }

  /** The two-snapshot digest every drift statistic starts from: the
    * rows of each side where `value` is not null, tagged by side and
    * tag-unioned, aggregated by (groups…, `value` as `as`) into
    * per-value counts — `__cb` from base, `__cc` from cur. It is the
    * only stage that touches every row, a hash aggregate with
    * map-side combine whose exchange key includes the value, so a
    * skewed group still counts in parallel. Each side must hold the
    * group columns and `valueCol` (an IllegalArgumentException names
    * the snapshot and the missing columns); with no groups each side
    * must also have a row left, since an ungrouped statistic of an
    * empty sample is undefined (grouped statistics drop such groups
    * instead, [[withCommonTotals]]). That refusal costs one job for
    * both sides: each side, coalesced to one partition, stops at its
    * first row with no exchange, and the two run as one task. */
  private[graft] def snapshotDigest(caller: String, base: DataFrame, cur: DataFrame,
                                    groupCols: Seq[String], valueCol: String,
                                    value: Column, as: String): DataFrame = {
    val gs = groupCols.map(col)
    val sides = Seq(("base", base, 1L), ("cur", cur, 0L)).map { case (name, df, b) =>
      val missing = (groupCols :+ valueCol).filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"$caller: $name snapshot is missing column(s): ${missing.mkString(", ")}")
      (name, df.filter(value.isNotNull), b)
    }
    if (groupCols.isEmpty) {
      val firsts = sides.map { case (name, f, _) =>
        f.select(lit(name).as("__side")).coalesce(1).limit(1)
      }
      val seen = SmallSide.atMost(firsts.reduce(_ unionAll _).coalesce(1), sides.size)
        .fold(Set.empty[String])(_.map(_.getString(0)).toSet)
      sides.foreach { case (name, _, _) =>
        require(seen(name), s"$caller: $name snapshot has no non-null '$valueCol' values")
      }
    }
    sides.map { case (_, f, b) =>
      f.select(gs :+ value.as(as) :+ lit(b).as("__b") :+ lit(1L - b).as("__c"): _*)
    }.reduce(_ unionAll _)
      .groupBy(gs :+ col(as): _*)
      .agg(sum(col("__b")).as("__cb"), sum(col("__c")).as("__cc"))
  }

  /** `df` with the per-group sums of its two count columns `counts`
    * attached as `totals`, keeping only the groups whose totals are
    * both positive: a statistic against an absent sample is undefined,
    * so a group seen in one snapshot only drops out. Null group keys
    * are a group (null-safe join). With no groups the one global total
    * rides a broadcast cross join and nothing is dropped (ungrouped
    * statistics refuse an empty side up front, [[snapshotDigest]]). */
  private[graft] def withCommonTotals(df: DataFrame, groupCols: Seq[String],
                                      counts: (String, String),
                                      totals: (String, String)): DataFrame = {
    val aggs = Seq(sum(col(counts._1)).as(totals._1), sum(col(counts._2)).as(totals._2))
    if (groupCols.isEmpty) df.crossJoin(broadcast(df.agg(aggs.head, aggs.tail: _*)))
    else {
      val t = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .filter(col(totals._1) > 0L && col(totals._2) > 0L)
        .select(groupCols.map(c => col(c).as(s"__gg_$c"))
          :+ col(totals._1) :+ col(totals._2): _*)
      df.join(t, groupCols.map(c => col(c) <=> col(s"__gg_$c")).reduce(_ && _))
    }
  }

  /** One category's Jensen–Shannon term from exact integer counts
    * (`nb` of `tb` base rows, `nc` of `tc` current rows):
    * (p_base, p_cur, jsd_term), each rounded 6dp, with
    * jsd_term = ½(p_b·ln(p_b/m) + p_c·ln(p_c/m)), m = (p_b+p_c)/2 and
    * 0·ln 0 = 0. Every step is one IEEE operation over exact
    * integers, so DuckDB replays each term bit-for-bit. */
  private[graft] def jsdColumns(nb: Column, nc: Column, tb: Column,
                                tc: Column): Seq[Column] = {
    val pb = nb / tb
    val pc = nc / tc
    val m = (pb + pc) / 2
    val term = (when(nb === 0L, lit(0.0)).otherwise(pb * log(pb / m))
      + when(nc === 0L, lit(0.0)).otherwise(pc * log(pc / m))) * 0.5
    Seq(round(pb, 6).as("p_base"), round(pc, 6).as("p_cur"),
      round(term, 6).as("jsd_term"))
  }

  /** Global running sums of the count columns `__c<s>`, one per
    * suffix s, over `df` ordered by `orderCol` — never in a single
    * task. The rows are range-partitioned by the order key and
    * prefix-summed WITHIN each (globally ordered) partition into
    * `__r<s>`, a per-partition window, parallel across partitions.
    * The per-partition totals `__t<s>` (one row per partition, from
    * the pre-window branch so the shuffle is shared via ReuseExchange
    * — the GraftFrame.fillDown discipline) become exclusive prefix
    * offsets `__o<s>` through a partition-count-sized window,
    * broadcast back: the global inclusive running sum is
    * `__r<s> + __o<s>`. Returns those rows and the per-partition
    * totals. */
  private[graft] def rangeRunningSums(df: DataFrame, orderCol: String,
                                      suffixes: Seq[String]): (DataFrame, DataFrame) = {
    val ranged = df.repartitionByRange(col(orderCol).asc)
      .sortWithinPartitions(col(orderCol).asc)
      .withColumn("__pid", spark_partition_id())
    val wRun = Window.partitionBy("__pid").orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = suffixes.foldLeft(ranged) { (d, s) =>
      d.withColumn(s"__r$s", sum(col(s"__c$s")).over(wRun))
    }
    val sums = suffixes.map(s => sum(col(s"__c$s")).as(s"__t$s"))
    val pidTotals = ranged.groupBy("__pid").agg(sums.head, sums.tail: _*)
    val wOff = Window.orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = pidTotals.select(col("__pid") +: suffixes.map(s =>
      coalesce(sum(col(s"__t$s")).over(wOff), lit(0L)).as(s"__o$s")): _*)
    (run.join(broadcast(offsets), Seq("__pid")), pidTotals)
  }

  /** The library-wide quantization rule: `floor(v·scale + ½)` as a
    * BIGINT — floor, not round (round-half differs across engines at
    * negative halves) — so every sum over it is an exact, order-free
    * integer that DuckDB replays bit-for-bit. Resolution 1/`scale` is
    * each caller's documented contract. */
  private[graft] def quantize(v: Column, scale: Long): Column =
    floor(v.cast("double") * lit(scale.toDouble) + lit(0.5)).cast("long")

  /** Per-group ROBUST outlier gate: median/MAD instead of mean/σ —
    * the metric-anomaly screen that heavy tails cannot hijack (one
    * pathological batch inflates a z-score's σ enough to hide
    * itself; the median absolute deviation barely moves — Hampel's
    * identifier, the robust-statistics standard).
    *
    * Every input row returns annotated with its group's med, mad and
    * an `outlier` flag (|v − med| > k·mad, evaluated on the QUANTIZED
    * integer scale where medians interpolate to exact dyadic steps —
    * the comparison is bit-deterministic and DuckDB-replayable via
    * `quantile_cont`, the q20 bit-parity precedent; reported med/mad
    * convert to user units by one double division each). A group
    * with mad = 0 (over half its values identical) flags ANY
    * deviation — the sensible degenerate reading, pinned in the
    * spec. Null metric rows are excluded; null group keys are a
    * group (null-safe joins).
    *
    * Scale shape: two `Quantile.exactGrouped` passes (bounded
    * per-row state, the histogram-digest plan — no per-group value
    * buffering) plus two broadcast-size joins of the per-group med/
    * mad tables back to the rows; the raw rows shuffle once per
    * annotate join at most, and a skewed group is as safe as q20's
    * 15M-distinct hot group. */
  def madOutliers(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  k: Double = 3.0, scale: Long = 100L): DataFrame = {
    require(groupCols.nonEmpty, "madOutliers: need at least one group column")
    require(k > 0, s"madOutliers: k must be > 0, got $k")
    require(scale >= 1, s"madOutliers: scale must be >= 1, got $scale")
    val missing = (groupCols :+ valueCol).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"madOutliers: input is missing column(s): ${missing.mkString(", ")}")
    val in = df.filter(col(valueCol).isNotNull)
      .withColumn("__vq", quantize(col(valueCol), scale).cast("double"))
    val med = Quantile.exactGrouped(in, groupCols, "__vq",
        Seq(("__medq", 0.5)))
      .select(groupCols.map(c => col(c).as(s"__mg_$c")) :+ col("__medq"): _*)
    val medCond = groupCols.map(c => in(c) <=> med(s"__mg_$c")).reduce(_ && _)
    val withMed = in.join(med, medCond, "left")
      .select(in.columns.map(in(_)) ++ Seq(col("__medq"),
        abs(in("__vq") - col("__medq")).as("__dev")): _*)
    val mad = Quantile.exactGrouped(withMed, groupCols, "__dev",
        Seq(("__madq", 0.5)))
      .select(groupCols.map(c => col(c).as(s"__ag_$c")) :+ col("__madq"): _*)
    val madCond = groupCols.map(c => withMed(c) <=> mad(s"__ag_$c")).reduce(_ && _)
    val outCols = df.columns.map(withMed(_))
    withMed.join(mad, madCond, "left")
      .select(outCols ++ Seq(
        (col("__medq") / lit(scale.toDouble)).as("med"),
        (col("__madq") / lit(scale.toDouble)).as("mad"),
        (col("__dev") > lit(k) * col("__madq")).as("outlier")): _*)
  }

  /** Per-group rank-based WINSORIZATION — clamp each value into its
    * group's [k-th smallest, k-th largest] with k = ⌊alpha·n⌋: the
    * outlier-capping step between raw metrics and anything that
    * averages them (a feature table with one 10⁹ glitch row poisons
    * every mean downstream; clipping at the 1% order statistics
    * bounds the damage without dropping rows, which is
    * [[madOutliers]]'s department).
    *
    * RANK-based (trim-count) bounds, not interpolated percentiles, by
    * design: the bound IS an order statistic — a pure selection over
    * exact integer ranks, so the whole operator replays bit-for-bit
    * in any engine (an interpolated p01 is a product of doubles whose
    * formula differs across engines in the last ulp). k = ⌊alpha·n⌋
    * is evaluated in IEEE doubles — identical on both engines — and
    * clamping happens on the quantized-integer scale (resolution
    * 1/`scale`, the library-wide discipline); bounds and clamped
    * values convert to user units by one double division each.
    *
    * Scale shape: the q20 histogram-digest plan — `groupBy(group,
    * value)` compresses to distinct digests (the only full-data pass,
    * map-side combined, skew-proof because the exchange key includes
    * the value), one window over the DIGESTS finds both order
    * statistics, and the bounds broadcast back onto the rows (null-
    * safe group join). No per-group sort of raw rows anywhere.
    *
    * Null values pass through unclamped with null bounds (they carry
    * no magnitude to cap; [[columnStats]] counts them). Output: df
    * columns ++ (lo, hi, value_w). */
  def winsorizeBy(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  alpha: Double = 0.01, scale: Long = 100L): DataFrame = {
    require(groupCols.nonEmpty, "winsorizeBy: need at least one group column")
    require(alpha > 0.0 && alpha < 0.5,
      s"winsorizeBy: alpha must be in (0, 0.5), got $alpha")
    require(scale >= 1, s"winsorizeBy: scale must be >= 1, got $scale")
    val missing = (groupCols :+ valueCol).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"winsorizeBy: input is missing column(s): ${missing.mkString(", ")}")
    val gs = groupCols.map(col)
    val ranked = Quantile.rankDigests(df.filter(col(valueCol).isNotNull), gs,
      quantize(col(valueCol), scale), "__vq")
    val k = floor(lit(alpha) * col("__n").cast("double")).cast("long")
    val bounds = ranked.groupBy(gs: _*)
      .agg(max(when(Quantile.rankCovers(k), col("__vq"))).as("__loq"),
        max(when(Quantile.rankCovers(col("__n") - 1L - k), col("__vq"))).as("__hiq"))
      .select(groupCols.map(c => col(c).as(s"__wg_$c"))
        :+ col("__loq") :+ col("__hiq"): _*)
    val cond = groupCols.map(c => df(c) <=> bounds(s"__wg_$c")).reduce(_ && _)
    val rowVq = quantize(df(valueCol), scale)
    df.join(bounds, cond, "left")
      .select(df.columns.map(df(_)) ++ Seq(
        (col("__loq").cast("double") / lit(scale.toDouble)).as("lo"),
        (col("__hiq").cast("double") / lit(scale.toDouble)).as("hi"),
        when(df(valueCol).isNull, lit(null).cast("double"))
          .otherwise(least(greatest(rowVq, col("__loq")), col("__hiq"))
            .cast("double") / lit(scale.toDouble)).as("value_w")): _*)
  }

  /** Per-group EXACT Wasserstein-1 distance (earth-mover's) between
    * two snapshots of one numeric column — the magnitude-aware member
    * of the drift family: KS reports the largest CDF gap but not how
    * far the mass moved; W₁ = ∫|F_base − F_cur| dx is the average
    * distance a unit of probability mass travels, in the column's own
    * units (a +10ms latency shift scores 10·mass; KS scores the same
    * whether the shift is 10ms or 10s).
    *
    * Exactness: values quantize to the integer grid at 1/`scale`
    * (resolution is the documented contract, as in [[cusum]]); on the
    * grid, W₁ · n_b · n_c · scale = Σ_segments |rb·n_c − rc·n_b| · Δv
    * with rb/rc the cumulative integer counts at each distinct value
    * and Δv the integer gap to the next — every term an exact
    * decimal(38,0) product, the sum order-free, and ONE double
    * division at the end. DuckDB replays it bit-for-bit through
    * HUGEINT arithmetic (a float Σ|F−G|·Δx would differ across
    * engines in summation order alone).
    *
    * Scale shape = [[ksDriftBy]]: tag-union → one hash-aggregated
    * (group, value) digest pass (the only full-data scan) → per-group
    * window over the DIGESTS (running sums + one lead) → per-group
    * fold. Groups with non-null values on only one side are EXCLUDED
    * (W₁ against an absent sample is undefined — the drift-family
    * contract); null group keys are a group.
    *
    * Output: groupCols ++ (w1, n_base, n_cur), w1 in user units,
    * one row per common group, ordered by group. */
  def w1DriftBy(base: DataFrame, cur: DataFrame, valueCol: String,
                groupCols: Seq[String], scale: Long = 100L): DataFrame = {
    require(groupCols.nonEmpty,
      "w1DriftBy: groupCols must be non-empty")
    require(scale >= 1, s"w1DriftBy: scale must be >= 1, got $scale")
    val gs = groupCols.map(col)
    val digests = snapshotDigest("w1DriftBy", base, cur, groupCols, valueCol,
      quantize(col(valueCol), scale), "__vq")
    val wOrd = Window.partitionBy(gs: _*).orderBy(col("__vq").asc)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = "decimal(38,0)"
    val run = digests
      .withColumn("__rb", sum(col("__cb")).over(wRun))
      .withColumn("__rc", sum(col("__cc")).over(wRun))
      .withColumn("__dv", (lead(col("__vq"), 1).over(wOrd) - col("__vq"))
        .cast(dec))
    val term = abs(col("__rb").cast(dec) * col("__nc").cast(dec)
      - col("__rc").cast(dec) * col("__nb").cast(dec)) * col("__dv")
    withCommonTotals(run, groupCols, ("__cb", "__cc"), ("__nb", "__nc"))
      .groupBy(gs: _*)
      .agg(coalesce(sum(when(col("__dv").isNotNull, term)), lit(0).cast(dec))
          .as("__num"),
        first(col("__nb")).as("n_base"), first(col("__nc")).as("n_cur"))
      .select(gs ++ Seq(
        (col("__num").cast("double")
          / (col("n_base").cast(dec) * col("n_cur").cast(dec)
            * lit(scale).cast(dec)).cast("double")).as("w1"),
        col("n_base"), col("n_cur")): _*)
      .orderBy(gs: _*)
  }

  /** QUANTILE NORMALIZATION: replace every value with the GLOBAL
    * order statistic at its group-relative rank, so all groups end
    * up with (a grid approximation of) the same distribution — the
    * cross-source calibration move when sources score on
    * incompatible scales (one crawler's quality model is generous,
    * another's is harsh; after normalization "top decile" means the
    * same thing everywhere — the microarray-normalization standard,
    * Bolstad et al. 2003, applied to corpus metrics).
    *
    * Exact and engine-replayable throughout — NO interpolation:
    *  1. the global reference is `nGrid` ORDER STATISTICS at ranks
    *     t_j = ⌊j·(N−1)/(nGrid−1)⌋ (quantized values, exact integer
    *     arithmetic), extracted from the distinct-value digest table
    *     by pure rank-range arithmetic: each digest row EMITS the
    *     grid indices it covers via an integer sequence — scan-side,
    *     nGrid rows total, no nGrid-way conditional aggregate and no
    *     digest×grid theta join;
    *  2. each row's group rank r (row_number by (value, id) — the id
    *     tie-break makes ranks deterministic) maps to grid index
    *     j = ⌊r·(nGrid−1)/(n_g−1)⌋ (single-member groups map to the
    *     median index), and the normalized value is the grid value
    *     at j — a broadcast join on the index.
    *
    * Scale shape: one `groupBy(value)` digest pass (map-side
    * combined), [[rangeRunningSums]] for global ranks (never a
    * single-task sort over digests), one per-GROUP
    * window over raw rows (groups are the parallelism unit — the
    * grouped-mutate contract), one broadcast join of the nGrid-row
    * reference. The operator materializes N at build time (one count
    * job — the pageRankFp eager precedent) to keep the rank
    * arithmetic in literals.
    *
    * Null values are EXCLUDED (ranking them is undefined;
    * [[columnStats]] reports them). Requires N ≥ 2. Keep
    * nGrid·N below ~10¹⁸ (the documented integer-overflow headroom —
    * at 10¹² rows use nGrid ≤ 10⁴).
    *
    * Output: df columns ++ (value_qn), non-null-value rows. */
  def quantileNormalizeBy(df: DataFrame, idCol: String, valueCol: String,
                          groupCols: Seq[String], nGrid: Int = 1001,
                          scale: Long = 100L): DataFrame = {
    require(groupCols.nonEmpty,
      "quantileNormalizeBy: need at least one group column")
    require(nGrid >= 2, s"quantileNormalizeBy: nGrid must be >= 2, got $nGrid")
    require(scale >= 1, s"quantileNormalizeBy: scale must be >= 1, got $scale")
    val missing = (groupCols ++ Seq(idCol, valueCol))
      .filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"quantileNormalizeBy: input is missing column(s): ${missing.mkString(", ")}")
    val gs = groupCols.map(col)
    val vq = quantize(col(valueCol), scale)
    val base = df.filter(col(valueCol).isNotNull)
    val n = base.count()
    require(n >= 2, s"quantileNormalizeBy: need >= 2 non-null values, got $n")
    val g = (nGrid - 1).toLong

    // global digests with running ranks (never one sort task); a
    // digest covers global 0-based ranks [hi − c, hi)
    val digests = base.select(vq.as("__vq"))
      .groupBy("__vq").agg(count(lit(1)).as("__c"))
    val withRanks = rangeRunningSums(digests, "__vq", Seq(""))._1
      .select(col("__vq"), (col("__r") + col("__o")).as("__hi"), col("__c"))
    // grid indices this digest's rank range covers: t_j ∈ [lo, hi)
    // ⟺ j ∈ [⌈lo·g/(N−1)⌉, ⌈hi·g/(N−1)⌉ − 1], clamped to [0, g];
    // sequence() DESCENDS on an inverted range (the Bpe/dd12 lesson),
    // so the empty case must short-circuit to an empty array
    val jmin = greatest(
      expr(s"((__hi - __c) * $g + ${n - 2}L) DIV ${n - 1}L"), lit(0L))
    val jmax = least(
      expr(s"(__hi * $g + ${n - 2}L) DIV ${n - 1}L") - 1L, lit(g))
    val grid = withRanks
      .select(col("__vq"), when(jmin <= jmax, sequence(jmin, jmax))
        .otherwise(array().cast("array<bigint>")).as("__js"))
      .select(explode(col("__js")).as("__j"), col("__vq").as("__grid_vq"))

    // per-row group rank → grid index → broadcast lookup
    val wGrp = Window.partitionBy(gs: _*)
      .orderBy(vq.asc, col(idCol).asc)
    val wAll = Window.partitionBy(gs: _*)
    val ranked = base
      .withColumn("__rk", row_number().over(wGrp).cast("long") - 1L)
      .withColumn("__ng", count(lit(1)).over(wAll))
      .withColumn("__j", when(col("__ng") === 1L, lit(g / 2))
        .otherwise(expr(s"(__rk * $g) DIV (__ng - 1)")))
    ranked.join(broadcast(grid), Seq("__j"))
      .select(df.columns.map(col) :+
        (col("__grid_vq").cast("double") / lit(scale.toDouble))
          .as("value_qn"): _*)
  }

  /** Per-group STANDARDIZATION (z-scoring) — the feature-scaling
    * step between raw metrics and anything comparing across groups
    * (a 0.9 quality score means nothing until it's "2.3 σ above this
    * source's mean"): every row returns annotated with its group's
    * mean, population sd and z = (x − μ)/σ.
    *
    * Replayable by construction: values quantize to integers at
    * 1/`scale`, the three sufficient statistics (n, Σx, Σx²)
    * accumulate as decimal(38,0) (order-free exact), and every
    * output is a FIXED sequence of IEEE steps over those exact
    * integers — one division for the mean, (n·Σx² − (Σx)²)/n² then
    * a correctly-rounded sqrt for σ, one subtraction and one
    * division for z. DuckDB replays the identical expression tree
    * bit-for-bit (the linearFitBy discipline; population σ, i.e.
    * divide-by-n, is the documented contract — at corpus scale the
    * n/(n−1) distinction is noise, and it keeps σ a two-step
    * expression).
    *
    * Degenerate groups by contract: constant value (σ = 0) → null z,
    * mean/sd still reported (sd exactly 0.0). Null values pass
    * through with null z; null group keys are a group.
    *
    * Scale shape: ONE hash aggregate with map-side combine computes
    * the per-group statistics (a handful of decimal columns per
    * group), broadcast-size join back to the rows — the rows shuffle
    * once at most, skew-immune like [[linearFitBy]].
    *
    * Output: df columns ++ (mean, sd, z). */
  def standardizeBy(df: DataFrame, valueCol: String, groupCols: Seq[String],
                    scale: Long = 100L): DataFrame = {
    require(groupCols.nonEmpty, "standardizeBy: need at least one group column")
    require(scale >= 1, s"standardizeBy: scale must be >= 1, got $scale")
    val missing = (groupCols :+ valueCol).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"standardizeBy: input is missing column(s): ${missing.mkString(", ")}")
    val dec = "decimal(38,0)"
    val gs = groupCols.map(col)
    val vq = quantize(col(valueCol), scale).cast(dec)
    val stats = df.filter(col(valueCol).isNotNull)
      .select(gs :+ vq.as("__xq"): _*)
      .groupBy(gs: _*)
      .agg(count(lit(1)).cast(dec).as("__n"), sum(col("__xq")).as("__sx"),
        sum(col("__xq") * col("__xq")).as("__sxx"))
      .select(groupCols.map(c => col(c).as(s"__sg_$c"))
        ++ Seq(col("__n"), col("__sx"),
          (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
            .as("__varnum")): _*)
    val cond = groupCols.map(c => df(c) <=> stats(s"__sg_$c")).reduce(_ && _)
    val rowVq = quantize(df(valueCol), scale)
    val meanQ = col("__sx").cast("double") / col("__n").cast("double")
    val sdQ = sqrt(col("__varnum").cast("double")
      / (col("__n") * col("__n")).cast("double"))
    df.join(stats, cond, "left")
      .select(df.columns.map(df(_)) ++ Seq(
        (col("__sx").cast("double")
          / (col("__n") * lit(scale).cast(dec)).cast("double")).as("mean"),
        (sdQ / lit(scale.toDouble)).as("sd"),
        when(df(valueCol).isNull || col("__varnum") === 0, lit(null).cast("double"))
          .otherwise((rowVq.cast("double") - meanQ) / sdQ).as("z")): _*)
  }

  /** Per-group simple linear regression y ≈ intercept + slope·x via
    * EXACT sufficient statistics — the corpus-scale calibration fit
    * (tokens ~ chars for budget models, bytes ~ rows, price ~
    * quantity) in ONE aggregate pass: no solver, no iteration, no
    * per-group collect.
    *
    * Exactness: x and y quantize to integers at 1/scaleX, 1/scaleY
    * (`floor(v·scale+½)` — the library-wide discipline) and the five
    * sufficient statistics accumulate as decimal(38,0) — integer
    * sums, order-free exact where float sums are not. slope =
    * cov·scaleX / (varx·scaleY) and the r² factors are each ONE
    * IEEE-double step over exact integers, so DuckDB replays every
    * output bit (route the oracle casts through BIGINT; statistics
    * stay far under 10³⁸ — n·Σxy at 10¹² rows × 10⁸-scale products
    * is ~10³², and both engines' integer→double casts are
    * round-to-nearest).
    *
    * Degenerate groups by contract: constant x (varx = 0) → null
    * slope/intercept/r²; constant y (vary = 0) → slope 0 exactly
    * (cov is 0), r² null. Null x/y rows are excluded; null group
    * keys are a group. Output: groupCols ++ (n, slope, intercept,
    * r2), one row per group.
    *
    * Scale shape: one hash aggregate with map-side partial combine —
    * the only pass over the data; a handful of decimal columns per
    * group reach the final projection. Skewed group sizes are
    * irrelevant (partial aggregation), and 10⁶ groups are as cheap
    * as 3. */
  def linearFitBy(df: DataFrame, xCol: String, yCol: String,
                  groupCols: Seq[String], scaleX: Long = 1L,
                  scaleY: Long = 1L): DataFrame = {
    require(groupCols.nonEmpty, "linearFitBy: need at least one group column")
    require(scaleX >= 1 && scaleY >= 1,
      s"linearFitBy: scales must be >= 1, got ($scaleX, $scaleY)")
    val missing = (groupCols ++ Seq(xCol, yCol)).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"linearFitBy: input is missing column(s): ${missing.mkString(", ")}")
    val dec = "decimal(38,0)"
    val gs = groupCols.map(col)
    val xi = quantize(col(xCol), scaleX).cast(dec)
    val yi = quantize(col(yCol), scaleY).cast(dec)
    val agg = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(gs ++ Seq(xi.as("__x"), yi.as("__y")): _*)
      .groupBy(gs: _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
    val nD = col("__n").cast(dec)
    val cov = nD * col("__sxy") - col("__sx") * col("__sy")
    val varx = nD * col("__sxx") - col("__sx") * col("__sx")
    val vary = nD * col("__syy") - col("__sy") * col("__sy")
    val slope = (cov * lit(scaleX).cast(dec)).cast("double") /
      (varx * lit(scaleY).cast(dec)).cast("double")
    val meanX = col("__sx").cast("double") /
      (col("__n") * lit(scaleX)).cast("double")
    val meanY = col("__sy").cast("double") /
      (col("__n") * lit(scaleY)).cast("double")
    val intercept = meanY - slope * meanX
    val r2 = (cov.cast("double") * cov.cast("double")) /
      (varx.cast("double") * vary.cast("double"))
    agg.select(gs ++ Seq(col("__n").as("n"),
      when(varx === 0, lit(null)).otherwise(slope).as("slope"),
      when(varx === 0, lit(null)).otherwise(intercept).as("intercept"),
      when(varx === 0 || vary === 0, lit(null)).otherwise(r2).as("r2")): _*)
  }
}
