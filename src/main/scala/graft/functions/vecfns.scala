package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector column functions over `array<float>` embedding columns.
  *
  * The codegen'd expressions in [[graft.expressions]] are the hot
  * path; `cosineHof` is the pure-built-in fallback kept for plan
  * comparison in the bench suite (higher-order functions are
  * interpreted per element — measurably slower at corpus scale).
  */
object vecfns {

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** cosine via zip_with + aggregate built-ins (no custom expression). */
  def cosineHof(a: Column, b: Column): Column = {
    val d = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)
    val na = norm(a); val nb = norm(b)
    when(na === 0 || nb === 0, lit(0.0)).otherwise(d / (na * nb))
  }
}
