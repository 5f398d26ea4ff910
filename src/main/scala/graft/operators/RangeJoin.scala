package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval range join, bucketed.
  *
  * Spark plans `l.point BETWEEN r.lo AND r.hi` as a broadcast-nested-
  * loop (or worse, cartesian) join — O(N·M) comparisons. Bucketing
  * turns it into an equi-join: quantize the domain into `bucketWidth`
  * cells, explode each interval to the cells it overlaps, map each
  * point to its cell, hash-join on cell, and re-check the exact
  * predicate. Cost becomes O(N + M·spans + matches) with one ordinary
  * shuffle — the same trick production engines use for interval/
  * geospatial joins.
  *
  * Pick `bucketWidth` near the typical interval length: much smaller
  * multiplies `spans` (interval replication), much larger multiplies
  * false candidates. Degenerate giant intervals replicate across many
  * cells — cap or split them upstream.
  */
object RangeJoin {

  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointCol: String, loCol: String, hiCol: String,
                      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pBucket = floor(col(pointCol) / bucketWidth).cast("long")
    val loB = floor(col(loCol) / bucketWidth).cast("long")
    val hiB = floor(col(hiCol) / bucketWidth).cast("long")
    val p = points.withColumn("__cell", pBucket)
    val iv = intervals
      .filter(col(loCol) <= col(hiCol))
      .withColumn("__cell", explode(sequence(loB, hiB)))
    p.join(iv, Seq("__cell"), "inner")
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__cell")
  }

  /** Interval×interval OVERLAP join (closed intervals: a pair matches
    * iff `l.lo <= r.hi && r.lo <= l.hi`) — concurrent sessions,
    * overlapping validity windows, time-range conflict detection.
    *
    * Same bucketing idea as [[pointInInterval]], with the standard
    * exactly-once refinement: both sides explode to their covered
    * cells, the hash join runs on the cell, and a pair is emitted
    * ONLY from the cell containing `max(l.lo, r.lo)` — every
    * overlapping pair shares that cell (the later start lies inside
    * both intervals), so the output needs no `distinct()` and no
    * row ever shuffles twice. Cost O(N·spans + M·spans + matches),
    * one ordinary shuffle.
    *
    * The two inputs must have DISJOINT column names (fail-fast
    * require — a silent name collision would corrupt the join
    * output). Intervals wider than `maxCellsPerInterval` buckets
    * raise at execution rather than silently exploding the
    * replication factor — raise `bucketWidth`, or split degenerate
    * giant intervals upstream (the [[pointInInterval]] contract made
    * loud).
    */
  def intervalOverlap(left: DataFrame, right: DataFrame,
                      lLoCol: String, lHiCol: String,
                      rLoCol: String, rHiCol: String,
                      bucketWidth: Double,
                      maxCellsPerInterval: Long = 1024L): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(maxCellsPerInterval >= 1, "maxCellsPerInterval must be >= 1")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"intervalOverlap: inputs share column name(s) ${overlap.mkString(", ")} — rename one side")

    def cells(df: DataFrame, loCol: String, hiCol: String): DataFrame = {
      val loB = floor(col(loCol) / bucketWidth).cast("long")
      val hiB = floor(col(hiCol) / bucketWidth).cast("long")
      val spans = hiB - loB + 1L
      // the guard rides the sequence START, which the explode consumes
      // — a raise_error on a dead column never fires
      val guard = when(spans <= maxCellsPerInterval, lit(0L))
        .otherwise(raise_error(concat(
          lit(s"intervalOverlap: an interval covers more than " +
            s"$maxCellsPerInterval buckets ("), spans.cast("string"),
          lit(") — raise bucketWidth or split giant intervals upstream")))
          .cast("long"))
      df.filter(col(loCol) <= col(hiCol))
        .withColumn("__cell", explode(sequence(loB + guard, hiB)))
    }
    val l = cells(left, lLoCol, lHiCol)
    val r = cells(right, rLoCol, rHiCol).withColumnRenamed("__cell", "__rcell")
    l.join(r, col("__cell") === col("__rcell"))
      .filter(col(lLoCol) <= col(rHiCol) && col(rLoCol) <= col(lHiCol) &&
        floor(greatest(col(lLoCol), col(rLoCol)) / bucketWidth).cast("long")
          === col("__cell"))
      .drop("__cell", "__rcell")
  }

  /** Gaps-and-islands: merge each group's CLOSED intervals into
    * maximal covered ISLANDS (overlapping-or-touching intervals fuse:
    * `lo ≤ running_hi` — touching at an endpoint counts as covered) —
    * the coverage primitive behind "when was this host actually
    * monitored", validity-window consolidation, and session stitching
    * (the dd12 span merge generalized from word offsets to any
    * integer-ordered domain).
    *
    * Pure integer window arithmetic, bit-replayable: sort each
    * group's intervals by (lo, hi), a running `max(hi)` over STRICTLY
    * PRECEDING rows marks island starts (`lo > running_hi`), a
    * running sum of starts numbers the islands, one grouped aggregate
    * folds each island to (island_lo = min lo, island_hi = max hi,
    * n_intervals).
    *
    * Scale shape: ONE exchange on the group keys, two window passes
    * over the same sort (Spark reuses it), one aggregate — per-group
    * work bounded by the group's interval count (the q35
    * grouped-window contract: groups are the parallelism unit). Null
    * lo/hi rows are excluded; inverted intervals (lo > hi) raise
    * through a consumed guard rather than silently vanishing.
    *
    * Output: groupCols ++ (island_lo, island_hi, n_intervals). */
  def mergeIntervals(df: DataFrame, groupCols: Seq[String],
                     loCol: String, hiCol: String): DataFrame = {
    require(groupCols.nonEmpty, "mergeIntervals: need at least one group column")
    val missing = (groupCols ++ Seq(loCol, hiCol)).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"mergeIntervals: input is missing column(s): ${missing.mkString(", ")}")
    val gs = groupCols.map(col)
    val lo = col(loCol).cast("long"); val hi = col(hiCol).cast("long")
    // inverted intervals raise through the kept lo column (consumed by
    // the window sort and the island min — never prunable)
    val loGuarded = when(lo > hi, raise_error(concat(
        lit(s"mergeIntervals: inverted interval ($loCol > $hiCol): "),
        lo.cast("string"), lit(" > "), hi.cast("string"))))
      .otherwise(lo)
    val base = df.filter(lo.isNotNull && hi.isNotNull)
      .select(gs :+ loGuarded.as("__lo") :+ hi.as("__hi"): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gs: _*).orderBy(col("__lo").asc, col("__hi").asc)
    val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, -1)
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, 0)
    base
      .withColumn("__prev_hi", max(col("__hi")).over(wPrev))
      .withColumn("__new", when(col("__prev_hi").isNull ||
        col("__lo") > col("__prev_hi"), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wRun))
      .groupBy(gs :+ col("__isl"): _*)
      .agg(min(col("__lo")).as("island_lo"), max(col("__hi")).as("island_hi"),
        count(lit(1)).as("n_intervals"))
      .select(gs ++ Seq(col("island_lo"), col("island_hi"),
        col("n_intervals")): _*)
  }
}
