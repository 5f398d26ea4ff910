package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.SparkEntry
import graft.api.GraftSession

/** The executed plan of declared queries: what AQE finally ran, with
  * its exchange and stage reuse, coalesced shuffle reads and runtime
  * join-strategy changes.
  *
  * Usage: runMain graft.tools.QueryPlan <sfDir> <outDir> <query> [query...]
  * Each query runs once over every row; its final plan (followed by
  * the initial one) lands in `outDir/<query>.txt`.
  */
object QueryPlan {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QueryPlan <sfDir> <outDir> <query> [query...]")
    val Array(sfDir, outDir) = args.take(2)
    val names = SparkEntry.requireDeclared(args.drop(2).toSeq, "QueryPlan")
    val spark = GraftSession.local(GraftSession.envCores)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val txt = executed(SparkEntry.queries(name)(spark, sfDir)).toString
      val out = Paths.get(outDir, s"$name.txt")
      Files.writeString(out, txt)
      println(s"[plan] $name -> $out")
    }
    spark.stop()
  }

  /** Runs `df`'s own QueryExecution over every row and returns its
    * executed plan. An action such as a `noop` save plans a NEW
    * QueryExecution, after which `df.queryExecution.executedPlan` is
    * still the initial adaptive plan (`isFinalPlan=false`). */
  def executed(df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("QueryPlan.executed")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
    val plan = qe.executedPlan
    plan match {
      case a: AdaptiveSparkPlanExec =>
        require(a.isFinalPlan, s"adaptive plan not final after execution:\n$a")
      case _ =>
    }
    plan
  }
}
