package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Rolling (sliding-window) statistics over a time series — the
  * feature-engineering step between raw event tables and any model
  * that consumes trailing-window features ("requests in the last
  * hour", "mean spend over the trailing 30 days"). The dplyr-world
  * analog is `slider::slide_index_*` / `zoo::rollapply`; cuplyr's
  * window verbs (reference R/verbs-mutate.R) stop at rank/lag.
  *
  * Exactness contract (the CUSUM/q58 micro-quantization discipline):
  * values are quantized to integers at `1/scale` by
  * [[Profiler.quantize]] (`floor(v·scale+½)`), the rolling sum runs
  * over exact BIGINTs (integer sums are order-free where float sums
  * are not), and the user-facing
  * sum/mean are produced by ONE double division each — so every
  * output bit replays in DuckDB. Callers pick `scale` to cover their
  * value precision (100 for 2-decimal amounts); values needing more
  * precision than `1/scale` lose it, by documented design.
  */
object Roll {

  /** Trailing TIME-window stats: for each observation, aggregates
    * over the key's rows with `ts ∈ [row.ts − windowSeconds + 1,
    * row.ts]` (a RANGE frame — same-timestamp peers are always
    * in-frame together, so ties cannot make the result order-
    * dependent).
    *
    * Output: keyCols ++ (tsCol, valueCol, roll_n, roll_sum,
    * roll_mean, roll_min, roll_max). `tsCol` is integral epoch
    * seconds (callers convert — an integral order key keeps frame
    * bounds exact). Rows with null ts or value are excluded; null
    * keys form their own series.
    *
    * Scale shape: ONE exchange on the key columns; all five
    * aggregates share one frame, so they plan into a single
    * WindowExec whose buffer holds only the rows inside the trailing
    * window (bounded by the key's event rate × windowSeconds, never
    * the key's history). A pathologically hot key serializes into one
    * task — that is inherent to per-key ordered semantics; split such
    * keys upstream (the q43/q44 salting patterns do not apply to
    * order-dependent frames). */
  def timeStats(df: DataFrame, keyCols: Seq[String], tsCol: String,
                valueCol: String, windowSeconds: Long,
                scale: Long = 100L): DataFrame = {
    require(windowSeconds >= 1, s"timeStats: windowSeconds must be >= 1, got $windowSeconds")
    rolling("timeStats", df, keyCols, tsCol, valueCol, scale)(
      _.orderBy(col("__t").asc).rangeBetween(-(windowSeconds - 1), Window.currentRow))
  }

  /** Trailing ROW-count stats: aggregates over the previous
    * `nRows − 1` rows plus the current one, ordered by (ts, value) —
    * the value tie-break makes the order total wherever rows differ,
    * and fully-duplicate rows have identical frames either way, so
    * the output is deterministic at any partitioning. Same output
    * shape and exactness contract as [[timeStats]]. */
  def rowStats(df: DataFrame, keyCols: Seq[String], tsCol: String,
               valueCol: String, nRows: Int,
               scale: Long = 100L): DataFrame = {
    require(nRows >= 1, s"rowStats: nRows must be >= 1, got $nRows")
    rolling("rowStats", df, keyCols, tsCol, valueCol, scale)(
      _.orderBy(col("__t").asc, col("__vc").asc)
        .rowsBetween(-(nRows - 1).toLong, Window.currentRow))
  }

  /** The one body of [[timeStats]] and [[rowStats]]: `frame` orders and
    * bounds the per-key window (`__t` is the integral ts, `__vc` the
    * quantized value). */
  private def rolling(caller: String, df: DataFrame, keyCols: Seq[String],
                      tsCol: String, valueCol: String, scale: Long)
                     (frame: WindowSpec => WindowSpec): DataFrame = {
    require(scale >= 1, s"$caller: scale must be >= 1, got $scale")
    val missing = (keyCols ++ Seq(tsCol, valueCol)).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$caller: input is missing column(s): ${missing.mkString(", ")}")
    val gs = keyCols.map(col)
    val ts = col(tsCol).cast("long")
    val v = col(valueCol).cast("double")
    val in = df.filter(ts.isNotNull && v.isNotNull)
      .select(gs ++ Seq(ts.as("__t"), v.as("__v"),
        Profiler.quantize(col(valueCol), scale).as("__vc")): _*)
    val w = frame(Window.partitionBy(gs: _*))
    val n = count(lit(1)).over(w)
    val sc = sum(col("__vc")).over(w)
    in.select(gs ++ Seq(
      col("__t").as(tsCol), col("__v").as(valueCol),
      n.as("roll_n"),
      (sc.cast("double") / lit(scale.toDouble)).as("roll_sum"),
      (sc.cast("double") / (n * lit(scale)).cast("double")).as("roll_mean"),
      min(col("__v")).over(w).as("roll_min"),
      max(col("__v")).over(w).as("roll_max")): _*)
  }
}
