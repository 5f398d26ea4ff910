package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning — the write-side
  * lever that decides how much of a 100 TB table a two-predicate
  * query has to read.
  *
  * A table sorted by one column prunes scans on that column only: the
  * parquet row-group min/max envelopes of every OTHER column stay
  * full-width, so `WHERE part = p AND supp = s` still reads the whole
  * table when it is laid out by order key. Interleaving the bits of
  * several columns (a Morton / Z-order curve) gives every involved
  * column partial locality: each written file covers a small
  * hyper-rectangle of the key space, and any box predicate intersects
  * few of them. This is the same layout idea the lakehouse engines
  * expose as `OPTIMIZE ... ZORDER BY` — here as a plain DataFrame
  * transform + write, with the locality claim MEASURED in LayoutSpec
  * (sum of per-file bounding-box areas, z-order vs linear sort).
  *
  * Scale shape: rank normalization is one Greenwald-Khanna sketch
  * pass per column (a 2^bits-point cut array to the driver, ~KBs);
  * the z-key itself is a scan-side bit-interleave expression inside
  * whole-stage codegen; the write is ONE range exchange on the key —
  * exactly the sorted-write shape, no extra shuffle versus any
  * clustered write.
  */
object Layout {

  /** Raw Morton interleave of two non-negative ints, `bits` low bits
    * each: bit j of `a` lands at position 2j, bit j of `b` at 2j+1.
    * Values must sit in [0, 2^bits) — out-of-range bits would
    * silently alias distant keys onto nearby curve positions, so the
    * preconditions raise instead. For arbitrary (skewed, unbounded,
    * non-integer) columns use [[zOrderKey]], which rank-normalizes
    * first.
    *
    * The expression is a static 2·bits-term bitwise sum — fully
    * codegen'd, no UDF, engine-replayable (the q51 oracle rebuilds
    * the identical term list in DuckDB).
    */
  def mortonKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"mortonKey: bits must be in [1,31], got $bits")
    val lim = 1L << bits
    def checked(c: Column, name: String) = {
      val v = c.cast("long")
      when(v.isNull || v < 0 || v >= lim,
        raise_error(concat(lit(s"mortonKey: $name must be in [0, $lim), got "),
          coalesce(v.cast("string"), lit("NULL")))))
        .otherwise(v)
    }
    val av = checked(a, "a"); val bv = checked(b, "b")
    val terms = (0 until bits).flatMap { j =>
      Seq(
        shiftleft(shiftright(av, j).bitwiseAND(lit(1L)), 2 * j),
        shiftleft(shiftright(bv, j).bitwiseAND(lit(1L)), 2 * j + 1))
    }
    terms.reduce(_ bitwiseOR _)
  }

  /** Equi-depth cut points for ALL columns in ONE sketch pass (the
    * multi-column approxQuantile overload — a per-column call would
    * scan the table once per clustered column before the write even
    * starts): 2^bits − 1 interior quantiles each. Duplicate cuts
    * (low-cardinality columns) are fine — the rank map counts
    * strictly-smaller cuts, so a run of equal cuts collapses to one
    * bucket boundary. */
  private def cuts(df: DataFrame, colNames: Seq[String],
                   bits: Int): Array[Array[Double]] = {
    val n = (1 << bits) - 1
    val probs = (1 to n).map(_.toDouble / (1 << bits)).toArray
    df.stat.approxQuantile(colNames.toArray, probs, 0.001)
  }

  /** Z-order key over arbitrary numeric columns: each column is
    * rank-normalized to [0, 2^bits) buckets by its own equi-depth cut
    * array (skew-proof where equi-width bucketing is not — a heavy
    * hitter occupies one bucket instead of dragging the whole range),
    * then bucket bits interleave round-robin (bit j of column i at
    * position j·k + i).
    *
    * The cut arrays are tiny driver-side literals folded into the
    * scan-side expression; nulls rank below every value (bucket 0),
    * keeping them clustered rather than scattered.
    *
    * The rank is ONE binary-search call per column per row
    * ([[graft.expressions.Native.sortedRank]], O(bits) comparisons) — the
    * composed `when(v > q, 1)` fold it replaced evaluated all
    * 2^bits − 1 cut comparisons per row (255 × k branches inside
    * codegen at the default bits = 8) for bit-identical output.
    */
  def zOrderKey(df: DataFrame, colNames: Seq[String], bits: Int = 8): Column = {
    require(colNames.size >= 2, "zOrderKey: need at least two columns to interleave")
    val k = colNames.size
    require(k * bits <= 62, s"zOrderKey: $k cols x $bits bits exceeds a long key")
    val allCuts = cuts(df, colNames, bits)
    val bucketCols = colNames.zipWithIndex.map { case (c, i) =>
      val cut = allCuts(i)
      // rank = number of cuts strictly below the value; null → 0
      val v = col(c).cast("double")
      val rank = graft.expressions.GraftFunctions.graft_sorted_rank(lit(cut), v)
      (when(v.isNull, lit(0L)).otherwise(rank), i)
    }
    val terms = bucketCols.flatMap { case (bucket, i) =>
      (0 until bits).map { j =>
        shiftleft(shiftright(bucket, j).bitwiseAND(lit(1L)), j * k + i)
      }
    }
    terms.reduce(_ bitwiseOR _)
  }

  /** Write `df` z-order-clustered on `colNames` into `nFiles` files:
    * ONE range exchange on the interleaved key, sort within
    * partitions, drop the key. Each output file then covers a small
    * hyper-rectangle of the column space — any box predicate touches
    * few files, and parquet row-group min/max pruning inside each
    * file gets tight envelopes for EVERY clustered column. */
  def zOrderWrite(df: DataFrame, colNames: Seq[String], path: String,
                  nFiles: Int, bits: Int = 8): Unit = {
    require(nFiles >= 1, s"zOrderWrite: nFiles must be positive, got $nFiles")
    df.withColumn("__zkey", zOrderKey(df, colNames, bits))
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Before/after accounting of a [[compact]] run. `filesBefore`/
    * `bytesBefore` count only DATA files (hidden/metadata excluded). */
  final case class CompactStats(filesBefore: Long, bytesBefore: Long,
                                filesAfter: Long)

  /** Small-file compaction — the table-maintenance pass every
    * long-lived dataset needs: streaming sinks, incremental CDC
    * merges and per-task writers leave thousands of KB-scale files
    * whose per-file open/footer/listing overhead eventually dominates
    * scan cost at 100 TB (the lakehouse engines expose this as
    * `OPTIMIZE`/`rewrite_data_files`). Rewrites `inDir` (parquet)
    * into `outDir` with files sized toward `targetFileBytes`,
    * preserving content exactly and, when `partitionCols` is given,
    * preserving the hive partition layout.
    *
    *  - Unpartitioned: output file count = ceil(input data bytes /
    *    target) — ONE round-robin exchange, no skew risk.
    *  - Partitioned: each partition directory gets its OWN file
    *    count from its OWN bytes (a skewed partition compacts to
    *    many files, a tiny one to exactly one — a global average
    *    would do neither). The per-partition counts come from the
    *    driver-side file listing (pure metadata, no data read); each
    *    row gets a global file index = its partition's offset + a
    *    deterministic xxhash64 salt modulo its partition's count,
    *    and ONE exchange under an IDENTITY partitioner routes index
    *    i to task i — exactly one output file per (directory, salt),
    *    each ~targetFileBytes. (A plain hash `repartition` cannot
    *    express identity routing: two salt groups of one directory
    *    colliding into a task would merge into a double-size file —
    *    this is the narrow case where dropping to an RDD partitioner
    *    is the right tool, for one IO-bound write exchange.)
    *
    * Compression can change written sizes (target governs INPUT bytes
    * per file, the scan-cost unit); null partition values follow
    * hive's default-partition convention through the listing parse.
    * Output overwrites `outDir`. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, targetFileBytes: Long,
              partitionCols: Seq[String] = Seq.empty): CompactStats = {
    require(targetFileBytes >= 1,
      s"compact: targetFileBytes must be >= 1, got $targetFileBytes")
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    def dataFiles(dir: String): Seq[(String, Long)] = {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return Seq.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.isFile && f.getLen > 0 && !name.startsWith("_") && !name.startsWith("."))
          out += ((f.getPath.toUri.getPath, f.getLen))
      }
      out.toSeq
    }
    val before = dataFiles(inDir)
    require(before.nonEmpty, s"compact: no data files under $inDir")
    val bytes = before.map(_._2).sum
    def nFilesFor(b: Long) = math.max(1L, (b + targetFileBytes - 1) / targetFileBytes)

    if (partitionCols.isEmpty) {
      val n = nFilesFor(bytes).toInt
      spark.read.parquet(inDir)
        .repartition(n)
        .write.mode("overwrite").parquet(outDir)
    } else {
      // per-partition byte totals from the listing's col=value path
      // segments (hive layout; URI-unescaped, so escaped values and
      // the null-partition default round-trip)
      val baseLen = new Path(inDir).toUri.getPath.stripSuffix("/").length
      val byPart: Map[Seq[String], Long] = before.groupBy { case (path, _) =>
        val rel = path.substring(math.min(baseLen + 1, path.length))
        val segs = rel.split('/').dropRight(1).filter(_.contains('='))
        require(segs.length == partitionCols.length,
          s"compact: file $path has ${segs.length} partition segment(s), " +
            s"expected ${partitionCols.length} (${partitionCols.mkString(", ")})")
        segs.toSeq.map(s => java.net.URLDecoder.decode(
          s.substring(s.indexOf('=') + 1), "UTF-8"))
      }.map { case (k, fs0) => k -> fs0.map(_._2).sum }
      // (partition values, file count, global file-index offset)
      // NUL separator written as an escape (not a raw byte) so the
      // source stays text to grep-based audit tooling
      val parts = byPart.toSeq.sortBy(_._1.mkString("\u0000"))
      val offsets = parts.map(p => nFilesFor(p._2)).scanLeft(0L)(_ + _)
      val totalFiles = offsets.last
      require(totalFiles <= Int.MaxValue,
        s"compact: $totalFiles output files — raise targetFileBytes")
      val kRows = parts.zip(offsets).map { case ((vals, b), off) =>
        org.apache.spark.sql.Row.fromSeq(vals ++ Seq(nFilesFor(b), off))
      }
      val kSchema = org.apache.spark.sql.types.StructType(
        partitionCols.map(c => org.apache.spark.sql.types.StructField(
          s"__pv_$c", org.apache.spark.sql.types.StringType)) ++ Seq(
          org.apache.spark.sql.types.StructField("__k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("__off",
            org.apache.spark.sql.types.LongType)))
      val kDf = spark.createDataFrame(
        spark.sparkContext.parallelize(kRows, 1), kSchema)
      val df = spark.read.parquet(inDir)
      val missing = partitionCols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"compact: partition column(s) not in the data: ${missing.mkString(", ")}")
      val hiveDefault = "__HIVE_DEFAULT_PARTITION__"
      val joinCond = partitionCols.map { c =>
        coalesce(col(c).cast("string"), lit(hiveDefault)) <=> col(s"__pv_$c")
      }.reduce(_ && _)
      val dataCols = df.columns.filterNot(partitionCols.contains)
      val fidx = col("__off") + pmod(xxhash64(dataCols.map(col): _*), col("__k"))
      val routed = df.join(broadcast(kDf), joinCond)
        .select(df.columns.map(col) :+ fidx.as("__fidx"): _*)
      val width = routed.schema.length - 1
      val rdd = routed.rdd
        .map(r => (r.getLong(width), org.apache.spark.sql.Row.fromSeq(
          r.toSeq.take(width))))
        .partitionBy(new org.apache.spark.Partitioner {
          override def numPartitions: Int = totalFiles.toInt
          override def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
        })
        .map(_._2)
      spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(
          df.schema.fields))
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)
    }
    CompactStats(before.length.toLong, bytes, dataFiles(outDir).length.toLong)
  }
}
