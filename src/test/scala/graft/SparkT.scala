package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.GraftSession

/** One shared session for the whole forked test JVM. */
object SparkT {
  lazy val spark: SparkSession = GraftSession.local(8, "graft-test")
  val sfDir = "/root/testdata/sf0.001"
  def table(name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** `body` with whole-stage codegen off and every expression
    * evaluated interpreted; both settings are restored after. */
  def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
