package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.GraftSession
import graft.queries._

/** Driver contract — see SURVEY.md §2 (query keys) + §7.
  *
  * The records live in one object per query area under
  * [[graft.queries]]; the oracle-parity rules they follow are
  * documented on [[graft.queries.Fixtures]].
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (TPC-H Q1 shape); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.init(spark)
    queries("q15_tpch_q1")(spark, "/root/testdata/sf0.001")
  }

  /** One declared query: its name, its build over `(session, sfDir)`
    * and the DuckDB SQL that must reproduce its rows (`None`: only its
    * rows are checked; DeclaredSpec lists those). The object a record
    * lives in is its area: Bench's streaming group is
    * [[graft.queries.GateQueries]]. */
  final case class Declared(name: String,
                            build: (SparkSession, String) => DataFrame,
                            oracle: Option[String])

  /** One record per implemented operator from SURVEY.md §2, area by
    * area. [[queries]], [[oracleSql]] and Bench's batch/streaming split
    * are views of this list. */
  val declared: Seq[Declared] = VerbQueries.declared ++ AnalyticsQueries.declared ++
    DedupQueries.declared ++ VectorQueries.declared ++ TextQueries.declared ++
    MediaQueries.declared ++ EventQueries.declared ++ GateQueries.declared ++
    CurationQueries.declared
  require(declared.map(_.name).distinct.size == declared.size,
    "declared query names repeat: " + declared.groupBy(_.name).collect {
      case (n, ds) if ds.size > 1 => n }.mkString(", "))

  /** Name → build. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(d => d.name -> d.build).toMap

  /** Name → DuckDB SQL, for every query that has an oracle. */
  val oracleSql: Map[String, String] =
    declared.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** `names` as given, when it is non-empty and every name is declared.
    * `what` names the caller in the error: an empty or misspelt list
    * would otherwise run nothing and report that as healthy. */
  def requireDeclared(names: Seq[String], what: String): Seq[String] = {
    require(names.nonEmpty, s"$what names no queries")
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty,
      s"$what names undeclared queries: ${unknown.mkString(", ")}")
    names
  }
}
