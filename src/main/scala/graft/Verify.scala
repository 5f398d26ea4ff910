package graft

import java.nio.file.{Files, Paths}
import graft.api.GraftSession

/** Correctness dump: each declared query's result to `outDir/<name>/`
  * parquet plus its oracle SQL in `outDir/oracle_sql.json`, which
  * `tools/oracle_check.py` replays in DuckDB.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query...]
  * With no query names it dumps every declared query; with names, only
  * those (the dev loop on one operator), each timed on stdout.
  * Then:  python3 tools/oracle_check.py <outDir> <sfDir>
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val Array(sfDir, outDir) = args.take(2)
    val subset = args.length > 2
    val picked = if (!subset) SparkEntry.declared else {
      val names = SparkEntry.requireDeclared(args.drop(2).toSeq, "Verify").toSet
      SparkEntry.declared.filter(d => names(d.name))
    }
    val spark = GraftSession.local(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    picked.foreach { d =>
      val t0 = System.nanoTime()
      try {
        d.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${d.name}")
        if (subset)
          println(f"[verify] ${d.name}%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
    }
    val json = picked.flatMap(d => d.oracle.map(sql => s"${jsonStr(d.name)}: ${jsonStr(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal of `s`. Quote, backslash and every control
    * character are escaped (a tab or CR left raw would make a strict
    * reader reject the file), and so is every non-ASCII character, as
    * `\uXXXX`: a string cut inside a surrogate pair stays valid JSON. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
