package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Tables.load infers a source schema once: a second load launches no job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_schema_memo").toString
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(SparkT.jobsLaunchedBy(Tables.load(spark, dir, "t")) >= 1,
      "the first load must infer the schema (else the 0 below is vacuous)")
    var second: org.apache.spark.sql.DataFrame = null
    assert(SparkT.jobsLaunchedBy { second = Tables.load(spark, dir, "t") } == 0)
    // every read still gets fresh attribute ids: a self-join resolves
    val first = Tables.load(spark, dir, "t")
    val ids = (first.queryExecution.analyzed.output ++ second.queryExecution.analyzed.output)
      .map(_.exprId)
    assert(ids.distinct.size == ids.size)
    assert(first.as("x").join(second.as("y"), col("x.k") === col("y.k")).count() == 2)
  }

  test("Tables.load sees a table rewritten at the same path with a new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_schema_rewrite").toString
    Seq(1, 2, 3).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.map(_.dataType) == Seq(IntegerType))
    Seq(("x", 1L)).toDF("name", "n").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.load(spark, dir, "t")
    assert(back.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(back.columns.toSeq == Seq("name", "n"))
    assert(back.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 1L)))
  }

  test("Tables.schemaOf re-infers when a parquet inference conf changes") {
    import spark.implicits._
    // two part files with disjoint columns: one file's schema without
    // mergeSchema, the union with it
    val path = Files.createTempDirectory("graft_schema_conf").toString + "/m.parquet"
    Seq(1).toDF("a").write.parquet(path)
    Seq(2L).toDF("b").write.mode("append").parquet(path)
    val single = Tables.schemaOf(spark, path)
    assert(single.size == 1 && single == spark.read.parquet(path).schema)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val merged = Tables.schemaOf(spark, path)
      assert(merged.fieldNames.sorted.toSeq == Seq("a", "b"))
      assert(merged == spark.read.parquet(path).schema)
    }
    assert(Tables.schemaOf(spark, path) == single)
    // a footer with no Spark schema in it, so the binaryAsString and
    // nanosAsLong confs decide the inferred types
    val raw = Files.createTempDirectory("graft_schema_raw").toString + "/raw.parquet"
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required binary payload; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(raw)).withType(msg).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg).newGroup()
      .append("payload", org.apache.parquet.io.api.Binary.fromString("hi"))
      .append("ts", 1700000000000000000L))
    finally w.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val base = Tables.schemaOf(spark, raw)
    assert(base.map(_.dataType) == Seq(BinaryType, LongType))
    withConf("spark.sql.parquet.binaryAsString", "true") {
      assert(Tables.schemaOf(spark, raw).map(_.dataType) == Seq(StringType, LongType))
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      val fresh = scala.util.Try(spark.read.parquet(raw).schema)
      assert(scala.util.Try(Tables.schemaOf(spark, raw)).toOption == fresh.toOption,
        s"memo must not serve the nanosAsLong=true schema; fresh inference gave $fresh")
    }
    assert(Tables.schemaOf(spark, raw) == base)
  }

  test("Tables.load schemas equal spark.read.parquet's for every source table") {
    Tables.allTables.foreach { t =>
      val path = s"${SparkT.sfDir}/$t.parquet"
      assert(Tables.load(spark, SparkT.sfDir, t).schema == spark.read.parquet(path).schema, t)
    }
  }

  test("csv round-trips a table with header + inferred schema") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/nation"
    val nation = SparkT.table("nation")
    nation.write.option("header", "true").csv(dir)
    val back = Tables.csv(spark, dir)
    assert(back.count() == nation.count())
    assert(back.columns.toSeq == nation.columns.toSeq)
    // full row equality after re-casting inferred types — checksums
    // alone would let a quoting/escaping bug slip through on the
    // comment column (it contains commas)
    val cast = back.select(nation.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    assert(cast.except(nation).count() == 0 && nation.except(cast).count() == 0)
  }

  test("json round-trips a table") {
    val dir = Files.createTempDirectory("graft_json").toString + "/region"
    val region = SparkT.table("region")
    region.write.json(dir)
    val back = Tables.json(spark, dir)
    assert(back.count() == region.count())
    // full row equality (JSON-lines reorders columns alphabetically —
    // select back into the original order)
    val ordered = back.select(region.columns.map(col): _*)
    assert(ordered.except(region).count() == 0 && region.except(ordered).count() == 0)
  }

  test("bucketed tables join without any exchange") {
    // a managed table's location survives the (in-memory) catalog across
    // JVMs — drop both the entry and any stale directory first
    Seq("orders_b", "lineitem_b", "orders_b4").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Tables.writeBucketed(SparkT.table("orders"), "orders_b", "o_orderkey", 8)
    Tables.writeBucketed(
      SparkT.table("lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 8)
    // broadcast would hide the exchange question entirely (and Spark
    // disables bucketed scans under it) — force the sort-merge path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(1200))
      assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
      // AQE renders initial+final plans, so each side's bucketed scan
      // can appear twice — require at least both sides once
      assert("Bucketed: true".r.findAllIn(p).length >= 2, p.take(1200))
      val lineitemRows = SparkT.table("lineitem").count()
      assert(j.count() == lineitemRows)
      // rewriting an existing bucketed table succeeds, and a join of
      // mismatched bucket counts (8 vs 4: one side must shuffle) still
      // returns every row
      Tables.writeBucketed(SparkT.table("orders"), "orders_b", "o_orderkey", 8)
      Tables.writeBucketed(SparkT.table("orders"), "orders_b4", "o_orderkey", 4)
      assert(spark.table("lineitem_b").join(spark.table("orders_b4"), "o_orderkey")
        .count() == lineitemRows)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("declared q45_bucketed_join plan: sort-merge on bucketed scans, no hash exchange") {
    // the declared-query version of the contract above: the join AND
    // the follow-on aggregate ride the bucket partitioning (group key
    // = bucket key), so the only exchange in the whole plan is the
    // output ORDER BY's range partitioning
    val q = SparkEntry.queries("q45_bucketed_join")(spark, SparkT.sfDir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join/agg must not shuffle:\n" + p.take(1200))
    assert("Bucketed: true".r.findAllIn(p).length >= 2, p.take(1200))
  }

  test("declared q44_skew_join plan: broadcast hot path + shuffle tail, result = plain join") {
    val q = SparkEntry.queries("q44_skew_join")(spark, SparkT.sfDir)
    val n = q.count()
    val plain = SparkT.table("lineitem")
      .join(SparkT.table("orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(n == plain, s"skew join produced $n rows, plain join $plain")
    q.collect()
    val exec = q.queryExecution.executedPlan
    val finalPlan = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val p = finalPlan.toString
    // both routes must exist: a broadcast join for the hot slice and
    // an ordinary join for the tail, unioned
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("Union"), p.take(1500))
    // ...and both must CARRY rows at runtime — with a threshold the
    // data never crosses, the hot route would be empty and the gate
    // vacuous (a duplication/loss bug in either route invisible).
    // AQE wraps materialized subtrees in QueryStageExec whose plan is
    // not a child — traverse through them explicitly.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def allNodes(pl: SparkPlan): Seq[SparkPlan] = {
      val kids = pl match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      pl +: kids.flatMap(allNodes)
    }
    val joinRows = allNodes(finalPlan).collect {
      case j if j.nodeName.contains("Join") =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    assert(joinRows.count(_ > 0) >= 2,
      s"both skew-join routes must process rows, got join row counts: $joinRows")
  }

  test("text and binaryFile sources feed the corpus/multimodal paths") {
    val dir = Files.createTempDirectory("graft_raw_src")
    Files.writeString(dir.resolve("a.txt"), "first line\nsecond line\n")
    Files.writeString(dir.resolve("b.txt"), "third line\n")
    // one row per line — the raw-corpus shape
    val lines = Tables.text(spark, dir.toString)
    assert(lines.count() == 3)
    assert(lines.columns.toSeq == Seq("value"))
    // one row per FILE (document-per-file layouts)
    val whole = Tables.text(spark, dir.toString, wholetext = true)
    assert(whole.count() == 2)
    // binaryFile: (path, modificationTime, length, content) — content
    // must round-trip bytes exactly and glob-prune at listing time
    Files.write(dir.resolve("img.bin"), Array[Byte](1, 2, 3, -1))
    val bin = Tables.binaryFiles(spark, dir.toString, pathGlob = "*.bin")
    val row = bin.select("length", "content").collect()
    assert(row.length == 1, "glob must prune the .txt files at listing")
    assert(row(0).getLong(0) == 4L)
    assert(row(0).getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, 3, -1))
    // and the payload flows into the multimodal decode plumbing
    val media = bin.select(
      monotonically_increasing_id().as("doc_id"),
      lit("image").as("modality"), col("content").as("payload"),
      lit("application/octet-stream").as("media_type"),
      col("length").as("n_bytes"))
    val feats = graft.multimodal.Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 1 && feats(0).codec == "stub")
  }

  test("sinks round-trip: csv and json preserve values, parquet/orc preserve schema") {
    val d = SparkT.table("nation")
    val base = java.nio.file.Files.createTempDirectory("graft_sinks").toString
    Tables.writeCsv(d, s"$base/csv")
    Tables.writeJson(d, s"$base/json")
    Tables.writeParquet(d, s"$base/parquet")
    Tables.writeOrc(d, s"$base/orc")
    val fromCsv = Tables.csv(spark, s"$base/csv")
    val fromJson = Tables.json(spark, s"$base/json")
    val fromParquet = spark.read.parquet(s"$base/parquet")
    val fromOrc = Tables.orc(spark, s"$base/orc")
    assert(fromCsv.count() == d.count() && fromJson.count() == d.count())
    assert(fromParquet.schema == d.schema)
    assert(fromOrc.schema == d.schema)
    // values survive the typed round-trips (parquet, orc)
    assert(fromParquet.exceptAll(d).count() == 0)
    assert(fromOrc.exceptAll(d).count() == 0)
  }

  test("orc scans push filters down like parquet") {
    val d = SparkT.table("lineitem")
    val base = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Tables.writeOrc(d, s"$base/li")
    val q = Tables.orc(spark, s"$base/li")
      .filter(col("l_quantity") >= 30).select("l_orderkey", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_quantity"),
      "filter must reach the ORC scan:\n" + scan.take(800))
    assert(q.count() == d.filter(col("l_quantity") >= 30).count())
  }

  test("partitioned sink lays out hive directories that prune on read") {
    val d = SparkT.table("customer")
    val base = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.writePartitioned(d, s"$base/c", Seq("c_mktsegment"))
    val dirs = new java.io.File(s"$base/c").listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("c_mktsegment=")) && dirs.length >= 2)
    val one = spark.read.parquet(s"$base/c").filter(col("c_mktsegment") === "MACHINERY")
    val scan = one.queryExecution.executedPlan.toString
    // partition filter reaches the scan (directory pruning, no data read
    // outside the matching partition) — the filter must be INSIDE the
    // PartitionFilters bracket; an empty "PartitionFilters: []" with the
    // column name elsewhere in the plan (ReadSchema, a post-scan Filter)
    // would mean pruning regressed to a full read
    assert("PartitionFilters: \\[[^\\]]*c_mktsegment".r.findFirstIn(scan).isDefined,
      "c_mktsegment must appear inside PartitionFilters:\n" + scan.take(800))
    assert(one.count() == d.filter(col("c_mktsegment") === "MACHINERY").count())
  }

  test("declared q48 plan prunes partitions; q49 text round-trip is byte-exact") {
    // q48: the partition-column filter must land in PartitionFilters
    // (directory pruning before any I/O), not PushedFilters
    val q48 = SparkEntry.queries("q48_partitioned_prune")(spark, SparkT.sfDir)
    val plan = q48.queryExecution.executedPlan.toString
    // non-vacuous: the filter must sit INSIDE the PartitionFilters
    // bracket (FileSourceScanExec always prints the key, even empty)
    assert("PartitionFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(plan).isDefined,
      "partition filter must prune directories at the scan:\n" + plan.take(800))
    // and the scan must actually select ONE directory (l_returnflag=R)
    // out of the three written — the pruned partition count itself
    // sparkPlan, not executedPlan: AQE wraps the executed tree in an
    // AdaptiveSparkPlanExec whose collectLeaves() hides the scan node
    val scans = q48.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scans.map(_.selectedPartitions.partitionCount).mkString(",")}")
    // q49 reconstructs (doc_id, text) from the tab-joined lines — the
    // token stats only match the parquet oracle if text survives
    // byte-for-byte, but pin the reconstruction directly too
    val path = SparkEntry.ensureTextWritten(spark, SparkT.sfDir)
    val tabAt = instr(col("value"), "\t")
    val back = Tables.text(spark, path).select(
      substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
      col("value").substr(tabAt + 1, length(col("value"))).as("text"))
    val orig = SparkT.table("documents").select("doc_id", "text")
    assert(back.except(orig).count() == 0 && orig.except(back).count() == 0)
  }

  test("registerAll exposes every table to spark.sql") {
    Tables.registerAll(spark, SparkT.sfDir)
    // the session is shared by every suite: leave no view behind
    try {
      val n = spark.sql(
        "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
      ).collect()(0).getLong(0)
      assert(n > 0)
    } finally Tables.allTables.foreach(spark.catalog.dropTempView)
  }
}
