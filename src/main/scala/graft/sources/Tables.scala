package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table loaders for the test corpus layout (`<sfDir>/<name>.parquet`)
  * plus generic readers. Parquet is the primary source — columnar,
  * splittable, predicate-pushdown-capable — matching how the reference
  * ingests Arrow-backed columnar data (reference: R/tbl-gpu.R,
  * src/transfer_io.cpp).
  */
object Tables {
  val tpchTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val allTables: Seq[String] = tpchTables ++ Seq("events", "documents", "embeddings")

  /** Read a source table with its memoized schema ([[schemaOf]]): the
    * scan plans without the footer-reading job that schema inference
    * launches. The file listing still runs on every call and every
    * call gets fresh attribute ids, so self-joins and double reads
    * resolve exactly as with a plain `spark.read.parquet`. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private final case class Inferred(confs: Seq[(String, String)], modTime: Long,
                                    length: Long, schema: StructType)
  private val inferred = new ConcurrentHashMap[String, Inferred]()

  /** The session conf values parquet schema inference depends on
    * (binaryAsString, int96AsTimestamp, nanosAsLong, mergeSchema, case
    * sensitivity, ...); only explicitly set values are listed, so an
    * unset key reads as its fixed default. */
  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * qualified path and then reused. Each call revalidates the entry
    * with one `getFileStatus`: a changed modification time or length,
    * or a changed inference conf ([[inferenceConfs]]), re-infers and
    * replaces it. A file rewritten within the same millisecond at the
    * same length is not seen as changed — read paths rewritten that
    * way with plain `spark.read`. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p).toString
    val status = fs.getFileStatus(p)
    val confs = inferenceConfs(spark)
    Option(inferred.get(key)) match {
      case Some(e) if e.modTime == status.getModificationTime &&
          e.length == status.getLen && e.confs == confs =>
        e.schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        inferred.put(key,
          Inferred(confs, status.getModificationTime, status.getLen, schema))
        schema
    }
  }

  /** Register every table as a temp view for `spark.sql` use. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    allTables.foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))

  /** Write a table bucketed+sorted by join key. Two tables bucketed the
    * same way on their join keys co-locate: Spark plans their join with
    * NO exchange on either side (sort-merge over pre-bucketed files) —
    * at 100 TB this converts every recurring fact-fact join on the
    * bucket key from a full shuffle into a local merge. Requires a
    * catalog table (`saveAsTable`), not a bare path. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC reader — the other mainstream columnar format (Hive-ecosystem
    * warehouses); same pushdown/pruning properties as parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Line-oriented text reader: one row per line, column `value` —
    * the raw-corpus ingestion shape (one document per line / JSONL
    * pre-parse). `wholetext = true` flips to one row per FILE for
    * document-per-file layouts. */
  def text(spark: SparkSession, path: String,
           wholetext: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholetext.toString).text(path)

  /** Raw-file reader for multimodal ingestion: one row per file with
    * (path, modificationTime, length, content BINARY) — the shape
    * [[graft.multimodal.Multimodal]] consumes (content = payload).
    * `pathGlob` prunes by filename pattern (e.g. "*.png") at LISTING
    * time, before any bytes are read. Files stream straight into
    * binary rows: sized partitions via maxPartitionBytes apply, so a
    * directory of millions of images scans in parallel without a
    * driver-side file list. */
  def binaryFiles(spark: SparkSession, path: String,
                  pathGlob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob).load(path)

  // ---- sinks --------------------------------------------------------------
  // Every sink writes a DIRECTORY of part files (one per partition) —
  // the only write shape that scales: N executors stream their
  // partitions concurrently, no driver funnel. `repartition` before a
  // sink only to control file count, never to 1 at scale.

  /** Parquet sink — the default interchange format (columnar,
    * compressed, schema'd, splittable). */
  def writeParquet(df: DataFrame, path: String,
                   mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(path)

  /** CSV sink with header; nulls as empty, RFC-ish quoting. CSV is for
    * export/interop only — it drops types and nested structure. */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  /** JSON-lines sink — one object per line, splittable on read. */
  def writeJson(df: DataFrame, path: String,
                mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** ORC sink — for Hive-ecosystem consumers; columnar, compressed,
    * splittable, predicate-pushdown-capable on read. */
  def writeOrc(df: DataFrame, path: String,
               mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  /** Partitioned parquet sink: `partitionBy` columns become directory
    * keys (hive layout), so downstream reads with a filter on those
    * columns prune entire directories before any I/O — the 100 TB
    * pattern for time- or category-partitioned corpora. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
}
