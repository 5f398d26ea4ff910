package graft

import org.apache.spark.sql.{DataFrame, Row}

/** THE rule for how many rows of a frame may reach the driver, and
  * what happens past that.
  *
  * Every data-sized driver collect in graft goes through here, as one
  * `limit(max + 1)` action: a frame larger than the bound ships at
  * most one row more than it, and no `count()` job runs first. Two
  * kinds of caller use it:
  *  - the hybrid cutovers (`Bpe.train`, `Dedup.duplicateClusters`,
  *    `Dedup.paragraphDedup`) take the rows with [[atMost]] and run
  *    their driver route, or take their distributed route when the
  *    frame is larger than their threshold;
  *  - the small sides that have no distributed route (the ANN query
  *    sides, `Decontam.semantic`'s benchmark) take them with
  *    [[orFail]], which fails loudly past [[MaxRows]] — naming the
  *    caller, the limit and the distributed alternative — instead of
  *    filling the driver heap with no message. */
private[graft] object SmallSide {

  /** The row limit of a side that must be collected to the driver.
    * Not a parameter: declared query sets hold at most 100 rows, and
    * a side past this size belongs to a join, not to a broadcast
    * variable. */
  val MaxRows = 65536

  /** The rows of `df` when it has at most `max` of them, else None
    * (always None for a negative `max`, with no job). One action. */
  def atMost(df: DataFrame, max: Long): Option[Array[Row]] =
    if (max < 0) None
    else {
      val rows = df.limit(math.min(max, Int.MaxValue - 1L).toInt + 1).collect()
      if (rows.length > max) None else Some(rows)
    }

  /** The rows of the small `side` of `caller`, or an
    * IllegalArgumentException naming the caller, [[MaxRows]] and
    * `alternative` when the side holds more. */
  def orFail(df: DataFrame, caller: String, side: String,
             alternative: String): Array[Row] =
    atMost(df, MaxRows).getOrElse(throw new IllegalArgumentException(
      s"$caller: the $side has more than $MaxRows rows, the limit of a " +
        s"side collected to the driver — $alternative"))
}
