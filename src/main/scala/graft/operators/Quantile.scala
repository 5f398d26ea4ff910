package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact grouped continuous quantiles with BOUNDED per-row state —
  * the corpus-scale replacement for `percentile(...)`, whose
  * aggregation buffer holds EVERY value of a group in one in-memory
  * array (over a near-unique column that is ~rowcount values in one
  * buffer — an OOM at 100 TB; cuplyr's grouped quantile verb is
  * reference R/verbs-summarise.R).
  *
  * Shape — selection over a VALUE HISTOGRAM, not a row sort:
  *  1. `groupBy(group, value).count` compresses the input to distinct
  *     (group, value, count) digests. This is a hash aggregate:
  *     partial map-side combine, fully parallel, spillable — and the
  *     only pass that touches every row. Few huge groups (the skew
  *     case that serializes any per-group sort: a window over 3
  *     groups runs 3 tasks no matter how many cores exist) still
  *     count in parallel because the exchange key is (group, value).
  *  2. One window pass over the DIGESTS per group: a running
  *     `sum(count)` (streaming frame, no buffer) gives each distinct
  *     value its 0-based rank range [lo_rank, hi_rank); an
  *     unbounded-frame `sum(count)` over the SAME window spec gives
  *     the group size n — both frames plan into a single WindowExec
  *     (same partition+order key), whose spillable buffer holds the
  *     group's distinct values, not its rows.
  *  3. The k-th / (k+1)-th order statistics each percentile needs are
  *     the digests whose rank range contains floor/ceil(p·(n−1)) —
  *     picked by a plain conditional aggregate; the final projection
  *     interpolates. Steps 1–2 ([[rankDigests]]) and step 3's test
  *     ([[rankCovers]]) are shared with `Profiler.winsorizeBy`.
  *
  * Two exchanges: one hash exchange on (group, value) for the
  * parallel count, one on the group keys carrying ONLY the distinct
  * digests into the window. That second exchange is the point — a
  * single-exchange row-rank plan (the previous shape here) funnels
  * every raw row of a group through one sort task, which is exactly
  * the skew bottleneck this operator exists to avoid.
  *
  * Interpolation follows Spark's `percentile` exactly — 0-based
  * position p·(n−1), result (hi−pos)·x_lo + (pos−lo)·x_hi with the
  * degenerate lo==hi case short-circuited — so results are
  * bit-identical to the built-in (and to DuckDB's `quantile_cont`
  * wherever the built-in already matches it). Null values are ignored,
  * as in SQL; a group with zero non-null values is absent from the
  * output (the built-in would return null — callers needing that row
  * can left-join groups back). One delta vs the built-in at the bit
  * level: grouping normalizes −0.0 to 0.0 (and all NaN bit patterns to
  * one NaN), so a quantile that lands exactly on a −0.0 value returns
  * 0.0 — numerically equal (`==`), different sign bit.
  */
object Quantile {

  /** @param ps (outputColumn, percentile) pairs, each p in [0,1].
    * Output: one row per group, groupCols ++ ps.map(_._1). */
  def exactGrouped(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   ps: Seq[(String, Double)]): DataFrame = {
    require(groupCols.nonEmpty, "exactGrouped: need at least one group column")
    require(ps.nonEmpty, "exactGrouped: need at least one percentile")
    ps.foreach { case (n, p) =>
      require(p >= 0.0 && p <= 1.0, s"exactGrouped: percentile $n=$p outside [0,1]")
    }
    val gcols = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val ranked = rankDigests(df.filter(v.isNotNull), gcols, v, "__v")
    val aggs = ps.flatMap { case (name, p) =>
      val pos = lit(p) * (col("__n") - 1L).cast("double") // 0-based position
      Seq(
        max(when(rankCovers(floor(pos)), col("__v"))).as(s"__lo_$name"),
        max(when(rankCovers(ceil(pos)), col("__v"))).as(s"__hi_$name"),
        // pos is constant within a group; max() just carries it through
        max(pos).as(s"__pos_$name"))
    }
    val outs = ps.map { case (name, _) =>
      val pos = col(s"__pos_$name")
      val lo = floor(pos); val hi = ceil(pos)
      when(lo === hi, col(s"__lo_$name"))
        .otherwise((hi - pos) * col(s"__lo_$name") + (pos - lo) * col(s"__hi_$name"))
        .as(name)
    }
    ranked.groupBy(gcols: _*).agg(aggs.head, aggs.tail: _*)
      .select(gcols ++ outs: _*)
  }

  /** Steps 1–2 over `df`'s (already filtered) rows: (groups…, `value`
    * as `as`) digests with `__c`, `__hi_rank` and group size `__n`. */
  private[graft] def rankDigests(df: DataFrame, gs: Seq[Column], value: Column,
                                 as: String): DataFrame = {
    val w = Window.partitionBy(gs: _*).orderBy(col(as).asc)
      .rowsBetween(Window.unboundedPreceding, _: Long)
    df.select(gs :+ value.as(as): _*).groupBy(gs :+ col(as): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__hi_rank", sum(col("__c")).over(w(Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(w(Window.unboundedFollowing)))
  }

  /** Whether a [[rankDigests]] row covers 0-based rank `k` (step 3). */
  private[graft] def rankCovers(k: Column): Column =
    col("__hi_rank") - col("__c") <= k && k < col("__hi_rank")
}
