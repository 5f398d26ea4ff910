package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

class StreamsSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  /** Run `f` on a fresh temp dir, deleted afterwards. */
  private def withTempDir[T](prefix: String)(f: String => T): T = {
    val d = Files.createTempDirectory(prefix)
    try f(d.toString) finally Streams.rmTree(d)
  }

  test("sessionize: gap splits sessions, epochs bound them") {
    import spark.implicits._
    val base = 1700000000000L // ms
    val rows = Seq(
      (1L, 1L, base),
      (2L, 1L, base + 60000L),          // same session (1 min later)
      (3L, 1L, base + 60000L + 31 * 60000L), // new session (31 min gap)
      (4L, 2L, base)                     // other user
    ).toDF("event_id", "user_id", "ts_ms_in")
      .withColumn("ts", timestamp_millis(col("ts_ms_in")))
      .withColumn("value", lit(1.0))
      .drop("ts_ms_in")
    val s = Streams.sessionize(rows, gapMinutes = 30)
      .orderBy("user_id", "session_seq").collect()
    assert(s.length == 3)
    assert(s(0).getAs[Long]("n_events") == 2)
    assert(s(1).getAs[Long]("n_events") == 1)
    assert(s(2).getAs[Long]("user_id") == 2L)
  }

  test("funnel: stage entry strictly after prior stage; one hash exchange total") {
    import spark.implicits._
    val rows = Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L), // full funnel
      (2L, "click", 50L), (2L, "view", 100L), (2L, "purchase", 150L),  // click precedes view: stage 2 never entered
      (3L, "view", 10L),                                               // stage 1 only
      (4L, "click", 10L),                                              // no view: no stages
      (5L, "view", 100L), (5L, "purchase", 200L), (5L, "click", 400L), // purchase precedes click: stage 3 not reached
      (6L, "view", 100L), (6L, "click", 100L),                         // simultaneous: strict > excludes
      (7L, "browse", 10L)                                              // non-funnel event type ignored
    ).toDF("user_id", "event_type", "ts")
    val f = Streams.funnel(rows, Seq("view", "click", "purchase"))
    val got = f.orderBy("stage").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((1, 5L), (2, 2L), (3, 1L)))
    // the whole point of this formulation: the fact table shuffles
    // ONCE (hash on user_id); the only other exchange is the final
    // single-row count
    val plan = f.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "funnel must shuffle the events side exactly once:\n" + plan.take(1500))
  }

  test("stateful streaming sessionize emits exactly the closed sessions") {
    import org.apache.spark.sql.expressions.Window
    // materialize (user_id, event_id, ts_ms, value) and replay as a stream
    val ev = graft.streaming.Streams.runningTotals(SparkT.table("events"))
      .select("user_id", "event_id", "ts_ms", "value")
    withTempDir("graft_sessions") { dir =>
      ev.write.mode("overwrite").parquet(dir)

      val stream = Streams.sessionizeStateful(spark, dir,
        spark.read.parquet(dir).schema, gapMinutes = 30)
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName("graft_sessions_test").start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_sessions_test")
          .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
            col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        // expected: batch sessions minus each user's last (still-open) one
        val batch = Streams.sessionize(spark.read.parquet(dir)
            .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms"), 30)
        val wmax = Window.partitionBy("user_id")
        val closedBatch = batch
          .withColumn("max_seq", max(col("session_seq")).over(wmax))
          .filter(col("session_seq") < col("max_seq"))
          .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
            col("n_events"), col("sum_value"))
        assert(got.exceptAll(closedBatch).count() == 0)
        assert(closedBatch.exceptAll(got).count() == 0)
      } finally q.stop()
    }
  }

  test("streaming dedup drops redelivered events, keeps state within watermark") {
    // simulate an at-least-once source: every event delivered twice
    val raw = SparkT.table("events")
    val ev = raw
      .withColumn("ts", Streams.eventTs(raw, "ts"))
      .select("ts", "event_id", "event_type", "value")
    val doubled = ev.unionAll(ev)
    withTempDir("graft_dedup_stream") { dir =>
      doubled.write.mode("overwrite").parquet(dir)

      val stream = Streams.dedupStream(spark, dir,
        spark.read.parquet(dir).schema, keyCols = Seq("event_id"),
        tsCol = "ts", watermark = "2 hours")
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName("graft_dedup_stream_test").start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_dedup_stream_test")
        assert(got.count() == ev.count())
        assert(got.select("event_id").distinct().count() == got.count())
      } finally q.stop()
    }
  }

  test("streaming near-dedup collapses whitespace variants AND redeliveries") {
    import spark.implicits._
    import graft.functions.textfns
    // three distinct texts; one also arrives as a whitespace-mangled
    // variant (different bytes, same shingle SET) — plus the helper's
    // built-in double delivery. Survivors: one per content class.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red green blue cyan magenta yellow"),
      (11L, "  alpha  beta gamma   delta epsilon  zeta "),
      // sub-shingle docs (< 3 words): their shingle sets are all
      // EMPTY, so without the normalized-text fallback every short
      // doc would share one signature and two unrelated ones would
      // silently collapse — these two must BOTH survive, while the
      // whitespace variant of the first must still dedup
      (20L, "hi there"),
      (21L, "buy pills"),
      (22L, "  hi   there ")
    ).toDF("doc_id", "text")
    withTempDir("graft_neardedup_stream") { tmp =>
      docs.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head.getAbsolutePath

      val got = Streams.nearDedupStreamOnce(spark, part, textCol = "text",
        shingleN = 3)
      assert(got.count() == 5, "one survivor per content class expected")
      // class-invariant projection: the survivor fingerprints equal the
      // batch distinct set exactly
      val gotFps = got.select(textfns.contentFingerprint(col("text")).as("fp"))
        .collect().map(_.getString(0)).toSet
      val wantFps = docs.select(textfns.contentFingerprint(col("text")).as("fp"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(gotFps == wantFps)
    }
  }

  test("RocksDB state store: same dedup rows as the default provider") {
    // the provider changes WHERE state lives (native memtables + SST
    // files instead of the in-heap map — the only store shape that
    // survives billions of dedup keys per watermark window), never the
    // result. The helper itself requires rocksdb* metrics in the
    // progress events, so this test failing with "provider did not
    // take effect" means silent fallback, and a row diff means a
    // provider-dependent result — both gate-worthy defects.
    val src = s"${SparkT.sfDir}/events.parquet"
    val default = Streams.dedupStreamOnce(spark, src,
      keyCols = Seq("event_id"), watermark = "2 hours")
    val rocks = Streams.dedupStreamOnce(spark, src,
      keyCols = Seq("event_id"), watermark = "2 hours",
      stateStore = Some(Streams.RocksDbStateStore))
    // count equality FIRST: except() is distinct-based, so on its own
    // it would pass even if one provider failed to dedup entirely
    // (every row present twice) — multiplicity must match too
    assert(rocks.count() == default.count())
    assert(default.except(rocks).count() == 0)
    assert(rocks.except(default).count() == 0)
    // the conf was restored: the session isn't left running RocksDB
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").forall(!_.contains("RocksDB")))
  }

  test("checkpointed restart: only new files processed, totals exactly-once") {
    // the production shape for scheduled incremental backfills: the
    // SAME query restarted against the SAME checkpoint must (a) skip
    // every file already committed — proved by the restart run's
    // numInputRows — and (b) merge restored aggregate state with the
    // new data into EXACTLY the batch result over the full input.
    // This is the engine's exactly-once bookkeeping contract, the
    // reason the *Once gates are also the scheduled-backfill story.
    import org.apache.spark.sql.streaming.Trigger
    val raw = SparkT.table("events")
    val ev = raw.withColumn("ts", Streams.eventTs(raw, "ts"))
      .select("ts", "event_type", "value")
    val half1 = ev.filter(col("event_type") =!= lit("purchase"))
    val half2 = ev.filter(col("event_type") === lit("purchase"))
    withTempDir("graft_restart_src") { srcDir =>
      withTempDir("graft_restart_ckpt") { ckpt =>
        half1.write.mode("append").parquet(srcDir)

        def runOnce(): Long = {
          spark.catalog.dropTempView("graft_restart_test")
          val src = spark.readStream
            .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
          val q = Streams.tumblingAgg(src, "1 hour")
            .writeStream.format("memory").queryName("graft_restart_test")
            .option("checkpointLocation", ckpt)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          try {
            q.awaitTermination()
            q.recentProgress.map(_.numInputRows).sum
          } finally if (q.isActive) q.stop()
        }

        runOnce()
        half2.write.mode("append").parquet(srcDir)
        val restartRows = runOnce()
        assert(restartRows == half2.count(),
          s"restart reprocessed committed files: read $restartRows rows, " +
            s"expected only the ${half2.count()} new ones")
        val got = spark.table("graft_restart_test")
        val want = Streams.tumblingAgg(ev, "1 hour")
        assert(got.except(want).count() == 0 && want.except(got).count() == 0,
          "restarted backfill result differs from the batch oracle")
      }
    }
  }

  test("streaming tumbling agg equals the batch form on the same data") {
    // materialize events with a proper timestamp column, then replay it
    // through readStream — Structured Streaming's batch-equivalence
    // contract makes the two paths comparable row-for-row.
    val raw = SparkT.table("events")
    val ev = raw
      .withColumn("ts", Streams.eventTs(raw, "ts"))
      .select("ts", "event_type", "value")
    withTempDir("graft_stream") { dir =>
      ev.write.mode("overwrite").parquet(dir)

      val batch = Streams.tumblingAgg(spark.read.parquet(dir), "1 hour")

      val stream = Streams.tumblingAggStream(spark, dir,
        spark.read.parquet(dir).schema, "1 hour", "2 hours")
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName("graft_tumbling_test").start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_tumbling_test")
          .select(unix_timestamp(col("window.start")).as("window_start"),
            col("event_type"), col("n_events"),
            round(col("sum_value"), 4).as("sum_value"))
        assert(got.exceptAll(batch).count() == 0)
        assert(batch.exceptAll(got).count() == 0)
      } finally q.stop()
    }
  }

  test("hopping agg: 4 overlapping windows per event; stream equals batch") {
    val raw = SparkT.table("events")
    val ev = raw
      .withColumn("ts", Streams.eventTs(raw, "ts"))
      .select("ts", "event_type", "value")
    withTempDir("graft_hopping") { dir =>
      ev.write.mode("overwrite").parquet(dir)
      val batch = Streams.hoppingAgg(spark.read.parquet(dir),
        "1 hour", "15 minutes")
      // len/slide = 4: every event counts in exactly 4 windows
      val totalCounted = batch.agg(sum(col("n_events"))).collect()(0).getLong(0)
      assert(totalCounted == 4L * ev.count())
      // window starts align to the slide, not the window length
      assert(batch.filter(pmod(col("window_start"), lit(900L)) =!= 0L).count() == 0)
      // the engine-executed form agrees row-for-row
      val got = Streams.hoppingAggStreamOnce(spark, dir, "1 hour", "15 minutes")
      assert(got.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(got).count() == 0)
    }
  }

  test("session_window agg: boundary semantics pinned vs sessionize; stream equals batch") {
    import spark.implicits._
    // exact-boundary fixture in whole seconds: user 1 has gaps of
    // exactly 30 min (MERGES — session_window merges adjacent
    // windows, the same rule as sessionize's >-split) and 30 min
    // + 1 s (splits under both); user 2 one lone event
    val gapS = 1800L
    val rows = Seq(
      (1L, 1L, 1000L, 1.0),
      (1L, 2L, 1000L + gapS, 2.0), // exactly gap after #1 → same session
      (1L, 3L, 1000L + 2 * gapS + 1, 4.0), // gap+1 after #2 → new session
      (2L, 4L, 5000L, 8.0))
    val ev = rows.toDF("user_id", "event_id", "sec", "value")
      .select(col("user_id"), col("event_id"),
        timestamp_seconds(col("sec")).as("ts"), col("value"))
    val got = Streams.sessionWindowAgg(ev, gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, 1000000L, (1000L + gapS) * 1000, 2L, 3.0),
      (1L, (1000L + 2 * gapS + 1) * 1000, (1000L + 2 * gapS + 1) * 1000, 1L, 4.0),
      (2L, 5000000L, 5000000L, 1L, 8.0)))
    // the lag-based form draws the SAME boundaries: 2 sessions for user 1
    val lagForm = Streams.sessionize(ev, gapMinutes = 30)
      .filter(col("user_id") === 1L)
    assert(lagForm.count() == 2L,
      "sessionize and session_window must agree on the exact-boundary split")
    // the engine-executed native form agrees row-for-row with batch
    val raw = SparkT.table("events")
    val full = raw
      .withColumn("ts", Streams.eventTs(raw, "ts"))
      .select("ts", "user_id", "event_id", "value")
    withTempDir("graft_sesswin") { dir =>
      full.write.mode("overwrite").parquet(dir)
      val batch = Streams.sessionWindowAgg(spark.read.parquet(dir), 30)
      val streamed = Streams.sessionWindowStreamOnce(spark, dir, 30)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
      assert(streamed.count() > 0)
    }
  }

  test("stream-static join equals the batch join+aggregate; no state store") {
    // the enrichment shape: streaming facts x broadcast static dim —
    // results must equal the all-batch formulation, and the plan must
    // not involve stateful-join machinery (the dimension re-plans as a
    // batch relation per micro-batch)
    val dim = SparkT.table("events").groupBy("event_type")
      .agg(count(lit(1)).as("type_total"))
    val got = Streams.streamStaticJoinOnce(spark,
      s"${SparkT.sfDir}/events.parquet", dim, "event_type", Seq("type_total"))
    val batch = SparkT.table("events").join(dim, "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        max(col("type_total")).as("type_total"))
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("stream-stream interval join equals the batch self-join; state plan asserted") {
    // two live watermarked streams (views ⋈ same-user clicks within 30
    // minutes) through the engine — must equal the all-batch interval
    // self-join row for row. The helper itself asserts the engine
    // planned StreamingSymmetricHashJoin with eviction thresholds (a
    // require on the executed plan), so reaching the comparison at all
    // means the state-bound contract held.
    val got = Streams.intervalJoinStreamOnce(spark,
      s"${SparkT.sfDir}/events.parquet", "view", "click", withinMinutes = 30)
    val evRaw = SparkT.table("events")
    val ev = evRaw
      .withColumn("ts_t", Streams.eventTs(evRaw, "ts"))
    def side(tp: String, p: String) = ev.filter(col("event_type") === tp)
      .select(col("user_id").as(s"${p}_user"), col("event_id").as(s"${p}_id"),
        col("ts_t").as(s"${p}_ts"), col("value").as(s"${p}_value"))
    val batch = side("view", "l").join(side("click", "r"),
        col("l_user") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("l_user").as("user_id"),
        col("l_id").as("left_id"), col("r_id").as("right_id"),
        (unix_millis(col("r_ts")) - unix_millis(col("l_ts"))).as("delta_ms"),
        col("l_value").as("left_value"), col("r_value").as("right_value"))
    assert(got.count() > 0, "fixture must produce at least one view→click pair")
    assert(got.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(got).count() == 0)
  }

  test("scan-side curation (quality/langid/repetition filter) runs unchanged on a stream") {
    // the curation scoring path is stateless scan-side codegen, so the
    // SAME column expressions drive readStream with no operator changes
    // — the property that makes the batch curation pipeline reusable
    // for streaming ingestion
    import graft.functions.textfns
    val docs = SparkT.table("documents").select(col("doc_id"), col("text"))
    withTempDir("graft_stream_docs") { dir =>
      docs.write.mode("overwrite").parquet(dir)
      def curate(d: org.apache.spark.sql.DataFrame) = d
        .withColumn("lang", textfns.langId(col("text")))
        .withColumn("quality", textfns.qualityScore(col("text")))
        .withColumn("repetition", textfns.repetitionRatio(col("text"), 3))
        .filter(col("quality") >= 0.5 && col("lang") =!= "und" &&
          col("repetition") < 0.5)
        .select("doc_id", "lang")
      val batch = curate(spark.read.parquet(dir))
      val stream = curate(spark.readStream
        .schema(spark.read.parquet(dir).schema).parquet(dir))
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName("graft_stream_curate_test").start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_stream_curate_test")
        assert(got.count() > 0)
        assert(got.exceptAll(batch).count() == 0)
        assert(batch.exceptAll(got).count() == 0)
      } finally q.stop()
    }
  }

  test("trending: chained stateful aggs equal batch trendingAgg on sealed windows") {
    val src = s"${SparkT.sfDir}/events.parquet"
    val events = spark.read.parquet(src)
    val batch = graft.streaming.Streams.trendingAgg(events, "1 hour",
      minFraction = 0.25)
    // append-mode finalization: only windows whose END is at or before
    // the final watermark (max event time floor-ms − 2 h) may emit
    val maxMs = events
      .select(max(graft.streaming.Streams.eventTsMs(events, "ts")))
      .collect()(0).getLong(0)
    val sealedBatch = batch
      .filter((col("window_start") + 3600) * 1000 <= maxMs - 7200000L)
    val got = graft.streaming.Streams.trendingStreamOnce(spark, src,
      "1 hour", minFraction = 0.25)
    assert(got.count() > 0, "no sealed trending windows — fixture too short")
    assert(got.exceptAll(sealedBatch).count() == 0 &&
      sealedBatch.exceptAll(got).count() == 0,
      "stream != batch on sealed windows")
    // batch form sanity: every window's trending shares sum ≤ 1/frac
    // rows and each row clears its own window's threshold
    val bad = batch.filter(col("n_events") <
      ceil(col("window_total") * lit(java.math.BigDecimal.valueOf(0.25))))
    assert(bad.count() == 0)
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.trendingAgg(events, "1 hour", minFraction = 0.0)
    }
  }

  test("streaming drift: per-window JSD structure, absent-category rows, refusals") {
    val src = s"${SparkT.sfDir}/events.parquet"
    val events = spark.read.parquet(src)
    val got = graft.streaming.Streams.categoricalDriftStreamOnce(spark, src,
      baseline = events.select("event_type"), catCol = "event_type",
      windowLen = "1 hour", topK = 2)
    val rows = got.collect()
    assert(rows.nonEmpty, "no sealed windows — fixture too short")
    // exactly topK kept + __other__ rows per sealed window (5 types
    // at topK=2 ⇒ folded baseline mass is always > 0)
    val byWindow = rows.groupBy(_.getLong(0))
    byWindow.foreach { case (ws, rs) =>
      assert(rs.length == 3, s"window $ws: ${rs.length} rows")
      assert(rs.count(_.getString(1) == "__other__") == 1)
      // per-window counts reconcile: sum of n_cur = window_total
      assert(rs.map(_.getLong(3)).sum == rs.head.getLong(4), s"window $ws")
      // a kept category absent from the window still emits (n_cur=0
      // rows are legal and meaningful — vanishing IS drift)
      rs.foreach(r => assert(r.getLong(2) > 0 || r.getString(1) == "__other__"))
    }
    // all terms finite and >= 0 up to the 6dp round
    assert(rows.forall(r => !r.getDouble(7).isNaN && r.getDouble(7) >= -1e-9))
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.categoricalDriftStreamOnce(spark, src,
        baseline = events.select("event_type").limit(0),
        catCol = "event_type")
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.categoricalDriftStreamOnce(spark, src,
        baseline = events.select("event_type"), catCol = "event_type",
        topK = 0)
    }
  }

  test("streaming drift: each sealed window equals batch categoricalDrift over its events") {
    // the gate's first 12 event hours as the stream (a handful of
    // sealed windows keeps the per-window batch runs cheap); the
    // baseline is the whole fixture, 5 event types >= topK
    val events = spark.read.parquet(s"${SparkT.sfDir}/events.parquet")
    val evMs = Streams.eventTsMs(events, "ts")
    val t0 = events.select(min(evMs)).collect()(0).getLong(0)
    val baseline = events.select("event_type")
    withTempDir("graft_drift_src") { src =>
      events.filter(evMs < t0 + 12 * 3600000L).write.mode("append").parquet(src)
      for (topK <- Seq(2, 3)) {
        val rows = Streams.categoricalDriftStreamOnce(spark, src, baseline,
          "event_type", windowLen = "1 hour", topK = topK).collect()
        assert(rows.nonEmpty, "no sealed windows")
        rows.groupBy(_.getLong(0)).foreach { case (ws, rs) =>
          val window = events.filter(evMs >= ws * 1000L && evMs < (ws + 3600L) * 1000L)
          val batch = graft.operators.Profiler.categoricalDrift(baseline, window, "event_type", topK)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
          val stream = rs.map(r => (r.getString(1), r.getLong(2), r.getLong(3),
            r.getDouble(5), r.getDouble(6), r.getDouble(7))).toSeq.sortBy(_._1)
          assert(stream == batch, s"topK=$topK window $ws")
        }
      }
    }
  }

  test("gateCheckpointDir: tmpfs only for single-JVM masters with capacity") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_shm_test").toFile
    try {
      // non-local master: NEVER tmpfs, regardless of the dir — a local
      // checkpoint path on a cluster scatters state-store files across
      // executors' own filesystems (cross-executor visibility breaks)
      assert(graft.streaming.Streams.gateCheckpointDir("yarn", tmp).isEmpty)
      assert(graft.streaming.Streams.gateCheckpointDir(
        "spark://host:7077", tmp).isEmpty)
      assert(graft.streaming.Streams.gateCheckpointDir("k8s://api", tmp).isEmpty)
      // missing / unusable dir: engine default
      assert(graft.streaming.Streams.gateCheckpointDir(
        "local[4]", new java.io.File(tmp, "nope")).isEmpty)
      // local master + real dir with capacity: tmpfs chosen, dir created
      val chosen = graft.streaming.Streams.gateCheckpointDir("local[4]", tmp)
      // (skip the positive assertion if the host tmp fs is under the
      // 256 MB capacity floor — the floor itself is then what's tested)
      if (tmp.getUsableSpace >= 256L * 1024 * 1024) {
        assert(chosen.nonEmpty)
        assert(chosen.get.toFile.getParentFile.getCanonicalPath ==
          tmp.getCanonicalPath)
        chosen.foreach(p => p.toFile.delete())
      } else assert(chosen.isEmpty)
    } finally Streams.rmTree(tmp.toPath)
  }

  private def runDeclared(name: String): Unit =
    SparkEntry.queries(name)(spark, SparkT.sfDir)
      .write.format("noop").mode("overwrite").save()

  /** Classes Janino compiles while `f` runs (the executors of a local
    * master share this JVM, so their compiles count too). */
  private def compiledBy(f: => Unit): Long = {
    val metric = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = metric.getCount
    f
    metric.getCount - before
  }

  test("a warm re-run of ev5_tumbling_stream compiles no class") {
    // each gate runs in a session clone; with artifact isolation on,
    // every clone has its own executor class loader and misses the
    // codegen cache, so this was about 12 compiles per run
    runDeclared("ev5_tumbling_stream")
    assert(compiledBy(runDeclared("ev5_tumbling_stream")) == 0)
  }

  test("a third warm pass over the benchmark's pipeline queries compiles no class") {
    import scala.jdk.CollectionConverters._
    val workloads = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("perfbench/workloads.json"))
    val pipeline = workloads.path("workloads").path("pipeline").path("queries")
      .elements.asScala.map(_.asText).toSeq
    assert(pipeline.size == 7, pipeline)
    // their working set (about 120 classes) outgrows Spark's default
    // 100-entry codegen cache, which evicted and recompiled every pass
    for (_ <- 1 to 2) pipeline.foreach(runDeclared)
    val perQuery = pipeline.map(n => n -> compiledBy(runDeclared(n)))
    assert(perQuery.forall(_._2 == 0), perQuery)
  }

  private def tmpEntries(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten

  test("a streaming gate leaves no source wrapper dir behind") {
    def wrappers(): Set[String] = tmpEntries().filter(_.startsWith("graft_stream"))
    val before = wrappers()
    // ev5 links events.parquet once, ev7 twice (simulated redelivery)
    Seq("ev5_tumbling_stream", "ev7_dedup_stream").foreach(runDeclared)
    assert(wrappers() -- before == Set.empty)
    // queries whose build writes a file (an index, ev11's corpus) reuse
    // one path per JVM and sf dir: a second build adds no temp entry
    val writers = Seq("ann9_ivfpq_index", "dd14_index_dedup",
      "txt21_term_search", "ev11_neardedup_stream")
    writers.foreach(runDeclared)
    val warm = tmpEntries()
    writers.foreach(runDeclared)
    assert(tmpEntries() -- warm == Set.empty)
  }

  private val shm = new java.io.File("/dev/shm")

  /** The backfill checkpoints now on tmpfs. */
  private def ckpts(): Set[String] =
    Option(shm.list()).toSet.flatten.filter(_.startsWith("graft_ckpt_"))

  test("backfill: a failing check restores the conf and leaves nothing behind") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.checkpointFileManagerClass")
    def conf() = keys.map(k => k -> spark.conf.getOption(k))
    def views(): Set[String] = spark.catalog.listTables().collect().toSet
      .filter(t => t.isTemporary && t.name.startsWith("graft_")).map(_.name)
    val (confBefore, viewsBefore) = (conf(), views())
    val (ckptsBefore, tmpBefore) = (ckpts(), tmpEntries())
    // two deliveries: the events file is wrapped in a temp dir of links
    val err = intercept[IllegalStateException] {
      Streams.backfill(spark, s"${SparkT.sfDir}/events.parquet", "complete",
        deliveries = 2, stateStore = Some(Streams.RocksDbStateStore),
        check = _ => throw new IllegalStateException("check failed"))(
        Streams.tumblingAgg(_, "1 hour"))
    }
    assert(err.getMessage == "check failed")
    assert(conf() == confBefore)
    assert(spark.streams.active.isEmpty)
    assert(views() -- viewsBefore == Set.empty)
    assert(ckpts() -- ckptsBefore == Set.empty)
    assert(tmpEntries() -- tmpBefore == Set.empty)
  }

  test("backfill: a tmpfs checkpoint is written through LocalCheckpointFiles") {
    import scala.jdk.CollectionConverters._
    val probe = Streams.gateCheckpointDir(spark.sparkContext.master, shm)
    probe.foreach(Streams.rmTree)
    assume(probe.nonEmpty, "this host gives a backfill no tmpfs checkpoint")
    val before = ckpts()
    var manager = Option.empty[String]
    var files = Seq.empty[String]
    Streams.backfill(spark, s"${SparkT.sfDir}/events.parquet", "complete", check = _ => {
      manager = spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
      val mine = (ckpts() -- before).toSeq
      assert(mine.size == 1, mine)
      val root = shm.toPath.resolve(mine.head)
      val walk = Files.walk(root)
      try files = walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(root.relativize(_).toString).toSeq
      finally walk.close()
    })(Streams.tumblingAgg(_, "1 hour"))
    assert(manager.contains(classOf[graft.streaming.LocalCheckpointFiles].getName))
    // the offset log and the state deltas were written, with Spark's
    // checkpoint checksums beside them (`1.delta.crc`), and Hadoop's
    // checksummed local file system, which leaves a hidden `.<name>.crc`
    // beside each file it writes, wrote none of them
    def name(f: String) = f.substring(f.lastIndexOf('/') + 1)
    assert(files.exists(_.startsWith("offsets/")) && files.exists(_.startsWith("state/")), files)
    assert(files.exists(f => f.startsWith("state/") && f.endsWith(".delta.crc")), files)
    assert(!files.exists(f => name(f).startsWith(".") && f.endsWith(".crc")), files)
  }

  test("Bench.streamingNames is exactly the eleven streaming gates ev5-ev15") {
    val gatePrefixes = (5 to 15).map(i => s"ev${i}_")
    val gates = SparkEntry.queries.keySet.filter(n => gatePrefixes.exists(n.startsWith))
    assert(gates.size == 11, gates)
    assert(Bench.streamingNames == gates)
  }
}
