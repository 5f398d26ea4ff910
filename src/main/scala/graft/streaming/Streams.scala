package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Profiler
import graft.sources.Tables
import java.nio.file.Files

/** Event-time analytics over the `events` table, batch + streaming.
  *
  * The batch forms are the oracle-checkable definitions; the streaming
  * forms are the same logical transforms lifted onto `readStream` with
  * watermarks bounding state — per Structured Streaming's contract the
  * two produce the same results for the same input data.
  */
object Streams {

  case class SessionEvent(user_id: Long, event_id: Long, ts_ms: Long, value: Double)
  case class OpenSession(seq: Long, start_ms: Long, last_ms: Long, n: Long, sum: Double)
  case class ClosedSession(user_id: Long, session_seq: Long, session_start_ms: Long,
                           session_end_ms: Long, n_events: Long, sum_value: Double)

  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Event-time column as a proper TIMESTAMP regardless of how the
    * source stored it. Raw-nanos longs (parquet TIMESTAMP(NANOS) read
    * under `nanosAsLong`) are floor-divided with INTEGER arithmetic —
    * epoch-nanos exceed 2^53, so any route through double would lose
    * precision. NTZ casts are instant-preserving under the UTC session.
    *
    * Public: callers (and specs) that need the same normalization as
    * the streaming gates should use this rather than hardcoding one
    * storage type's conversion.
    *
    * @note the NTZ arm is instant-preserving ONLY under a UTC session
    *       (`spark.sql.session.timeZone=UTC`, which [[graft.api.GraftSession]]
    *       always pins). A pre-built non-UTC session would silently
    *       shift NTZ event times, so that arm `require`s UTC.
    */
  def eventTs(events: DataFrame, tsCol: String): Column =
    events.schema(tsCol).dataType match {
      // (x - pmod(x, d)) div d is true FLOOR division — bare `div`
      // truncates toward zero, which rounds pre-epoch (negative)
      // nanos the wrong way and could shift such an event across a
      // window/gap boundary; identical for the non-negative common
      // case, still pure integer arithmetic
      case LongType =>
        timestamp_micros(expr(s"($tsCol - pmod($tsCol, 1000)) div 1000"))
      case TimestampType => col(tsCol)
      // NTZ → TIMESTAMP is instant-preserving under the UTC session
      // the library always runs with (GraftSession pins UTC); on a
      // pre-built non-UTC session the cast would silently SHIFT event
      // times — fail loudly instead. Read the conf WITHOUT a default
      // (the entry always resolves — passing a default would make
      // Spark validate it as a timezone) and compare the normalized
      // ZONE, not the string: "Etc/UTC", "GMT", "+00:00" and "Z" are
      // all instant-preserving too.
      case TimestampNTZType =>
        val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
        val isUtc = scala.util.Try(
          java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).normalized() ==
            java.time.ZoneOffset.UTC).getOrElse(false)
        require(isUtc,
          s"eventTs($tsCol): TIMESTAMP_NTZ → TIMESTAMP is instant-preserving " +
            s"only under a UTC session, but spark.sql.session.timeZone=$tz. " +
            "Use GraftSession.init (pins UTC) or set the session timezone to UTC.")
        col(tsCol).cast(TimestampType)
      case _ => col(tsCol).cast("timestamp")
    }

  /** Event-time as epoch millis (BIGINT, engine-neutral). */
  def eventTsMs(events: DataFrame, tsCol: String): Column =
    events.schema(tsCol).dataType match {
      case LongType =>
        expr(s"($tsCol - pmod($tsCol, 1000000)) div 1000000")
      case _ => unix_millis(eventTs(events, tsCol))
    }

  /** Tumbling event-time window aggregate (batch form).
    * Output key is the window start as epoch seconds — engine-neutral.
    */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(eventTs(events, "ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** HOPPING (sliding) event-time window aggregate, batch form: each
    * event lands in len/slide overlapping windows (4 for 1 h / 15 min)
    * — the dashboard/rate-monitor shape where a metric refreshes
    * every slide but smooths over a full window, which a tumbling
    * window cannot express (it refreshes only once per window).
    * Same engine-neutral output contract as [[tumblingAgg]]. */
  def hoppingAgg(events: DataFrame, windowLen: String = "1 hour",
                 slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(eventTs(events, "ts"), windowLen, slide).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sessionization through Spark's NATIVE `session_window` aggregate
    * (batch form) — the third route to sessions, complementing the
    * window-function form ([[sessionize]]) and the custom-state form
    * (sessionizeStatefulDs): this one is a plain GROUPED AGGREGATE,
    * so it needs no per-user sort (hash aggregate with session-merge
    * on the window key) and is the only form the streaming engine
    * runs with built-in state management (no user state code at
    * all — the production default when per-session custom logic
    * isn't needed).
    *
    * Boundary semantics MATCH [[sessionize]] exactly, measured and
    * spec-pinned: `session_window` merges overlapping-or-ADJACENT
    * windows, so a gap-EQUAL event stays in the session (split only
    * at diff > gap — the same rule the lag-based form implements).
    * The exact-boundary fixture in the spec keeps either route from
    * silently drifting.
    *
    * Output (engine-neutral integer millis, the ev2 contract):
    * (user_id, session_start_ms, session_end_ms, n_events,
    * sum_value) — start/end are the session's min/max EVENT times
    * (aggregated directly; the native window's `end` adds the gap). */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      // millisecond-truncated session time: the gap comparison must
      // happen on the SAME grid the engine-neutral ms outputs use —
      // grouping at µs while an oracle replays at ms would let a
      // sub-ms component flip an exact-boundary merge
      .withColumn("__swms", eventTsMs(events, "ts"))
      .withColumn("__swts", timestamp_millis(col("__swms")))
      .groupBy(session_window(col("__swts"), s"$gapMinutes minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("__swms")).as("session_start_ms"),
        max(col("__swms")).as("session_end_ms"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("session_start_ms"),
        col("session_end_ms"), col("n_events"), col("sum_value"))

  /** [[sessionWindowAgg]] executed end-to-end BY the streaming
    * engine — the built-in-state sessionization gate (ev6 proves the
    * CUSTOM state route; this proves the engine's own session-merge
    * state, which is what production uses when no per-session logic
    * is needed). Complete-mode/AvailableNow gate shape as ev5/ev14;
    * production sinks run append + watermark, where closed sessions
    * emit exactly once and state stays bounded by open sessions. */
  def sessionWindowStreamOnce(spark: SparkSession, sourcePath: String,
                              gapMinutes: Int = 30): DataFrame =
    backfill(spark, sourcePath, "complete")(sessionWindowAgg(_, gapMinutes))

  /** Gap-based sessionization (batch form): a new session starts when a
    * user is idle longer than `gapMinutes`. One shuffle (by user), then
    * two windows over the same partitioning — Spark reuses the sort.
    * All time arithmetic in epoch millis (integer, engine-neutral).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapMs = gapMinutes * 60L * 1000L
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms").asc, col("event_id").asc)
    events
      .withColumn("ts_ms", eventTsMs(events, "ts"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** Staged conversion funnel (e.g. view → click → purchase): stage 1's
    * entry time is the user's first stage-1 event; stage i's is the
    * user's first stage-i event STRICTLY after their stage-(i-1) entry.
    * Returns (stage, n_users), one row per stage with ≥1 user — the
    * same contract as the per-stage filter→join→agg SQL definition.
    *
    * Plan shape: ONE exchange on `userCol`. A single grouped aggregate
    * collects the first-stage min plus a sorted timestamp array per
    * later stage (only funnel event types survive the scan filter);
    * each later entry time is then a per-user array probe — first
    * element greater than the previous entry. The join formulation
    * scans and shuffles the fact table once PER STAGE; at scale the
    * repeated exchanges of the dominant table are the whole cost.
    * Per-user state is bounded by that user's later-stage activity
    * (the heavy first stage folds to one min), not by table size.
    *
    * Timestamps are compared raw (any ordered type) — never rescaled,
    * so nanosecond inputs keep strict-inequality semantics.
    */
  def funnel(events: DataFrame, stages: Seq[String],
             typeCol: String = "event_type", tsCol: String = "ts",
             userCol: String = "user_id"): DataFrame = {
    require(stages.nonEmpty, "funnel: need at least one stage")
    val ev = events
      .filter(col(typeCol).isin(stages.map(s => s: Any): _*))
      .select(col(userCol), col(typeCol), col(tsCol).as("__ts"))
    val firstAgg = min(when(col(typeCol) === stages.head, col("__ts"))).as("t0")
    val laterAggs = stages.tail.zipWithIndex.map { case (st, i) =>
      sort_array(collect_list(when(col(typeCol) === st, col("__ts"))))
        .as(s"__a${i + 1}")
    }
    var perUser = ev.groupBy(col(userCol)).agg(firstAgg, laterAggs: _*)
    stages.tail.indices.foreach { i =>
      val prev = col(s"t$i")
      // null prev ⇒ predicate null ⇒ empty array ⇒ null entry: a user
      // can't reach stage i without stage i-1
      perUser = perUser.withColumn(s"t${i + 1}",
        get(filter(col(s"__a${i + 1}"), x => x > prev), lit(0)))
    }
    val countCols = stages.indices.map(i => count(col(s"t$i")).as(s"__c$i"))
    perUser.agg(countCols.head, countCols.tail: _*)
      .select(explode(array(stages.indices.map(i =>
        struct(lit(i + 1).as("stage"), col(s"__c$i").as("n_users"))): _*)).as("r"))
      .select(col("r.stage"), col("r.n_users"))
      .filter(col("n_users") > 0)
  }

  /** Streaming twin of [[tumblingAgg]]: watermark bounds the window
    * state store; late data beyond the watermark is dropped. Returns
    * the streaming DataFrame — callers attach a sink. */
  def tumblingAggStream(spark: SparkSession, sourceDir: String,
                        schema: org.apache.spark.sql.types.StructType,
                        windowLen: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Run the tumbling-window aggregate end-to-end THROUGH the
    * Structured Streaming engine as a bounded backfill — AvailableNow
    * trigger over the parquet source, complete-mode memory sink — and
    * return the final result as a batch DataFrame.
    *
    * This is the batch/stream equivalence contract made executable:
    * the transform is literally [[tumblingAgg]] lifted onto
    * `readStream`, so its output must match the batch oracle row for
    * row. AvailableNow processes everything currently in the source
    * and stops, which is also the production shape for scheduled
    * incremental backfills (state + exactly-once bookkeeping handled
    * by the engine, unbounded runs just swap the trigger).
    */
  def tumblingAggStreamOnce(spark: SparkSession, sourcePath: String,
                            windowLen: String = "1 hour"): DataFrame =
    backfill(spark, sourcePath, "complete")(tumblingAgg(_, windowLen))

  /** [[hoppingAgg]] executed end-to-end BY the streaming engine —
    * the sliding-window sibling of [[tumblingAggStreamOnce]], same
    * complete-mode/AvailableNow gate shape. The state multiplier is
    * the point to know: every event updates len/slide window states
    * (4× for 1 h / 15 min), so at 100 TB the slide ratio is a direct
    * state-size knob; complete mode here is the GATE's sink choice,
    * production sinks run append + watermark like ev6/ev12. */
  def hoppingAggStreamOnce(spark: SparkSession, sourcePath: String,
                           windowLen: String = "1 hour",
                           slide: String = "15 minutes"): DataFrame =
    backfill(spark, sourcePath, "complete")(hoppingAgg(_, windowLen, slide))

  /** Stream–static enrichment join, executed by the streaming engine
    * end-to-end: a streaming fact source joined to a STATIC dimension
    * frame on `joinKey`, then aggregated per key — the standard
    * streaming enrichment shape (facts stream in, reference data sits
    * in a table). The static side re-plans per micro-batch as an
    * ordinary batch relation and broadcasts when small, so NO state
    * store is involved — the cheapest streaming join there is; reach
    * for stream-stream joins (watermarked state both sides) only when
    * the dimension itself is a stream. At 100 TB the dimension
    * refreshes by swapping the underlying table between micro-batches;
    * the aggregate state is per (joinKey) only.
    *
    * Output: one row per key — n_events, sum_value (rounded 4dp, the
    * engine-neutral float discipline), and each `dimCols` carried via
    * max() (constant within a key; max makes the aggregate explicit).
    */
  def streamStaticJoinOnce(spark: SparkSession, sourcePath: String,
                           dim: DataFrame, joinKey: String,
                           dimCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_events") +:
      round(sum(col("value")), 4).as("sum_value") +:
      dimCols.map(c => max(col(c)).as(c))
    backfill(spark, sourcePath, "complete")(_
      .join(broadcast(dim), Seq(joinKey))
      .groupBy(col(joinKey))
      .agg(aggs.head, aggs.tail: _*))
  }

  /** Stream–stream windowed (interval) join, executed by the streaming
    * engine end-to-end: two LIVE event streams — `leftType` rows joined
    * to `rightType` rows of the same user arriving within
    * `withinMinutes` after them (the standard telemetry-enrichment
    * shape: impressions ⋈ clicks). This is the join tier ABOVE
    * [[streamStaticJoinOnce]]: both sides are streams, so the engine
    * plans a symmetric-hash join with a state store on each side.
    *
    * State is bounded by construction, not by hope: both sides carry a
    * watermark and the join predicate carries an event-time RANGE
    * (r_ts ∈ [l_ts, l_ts + within]), which is exactly what Spark needs
    * to derive state-eviction thresholds — each side holds only
    * rows within the watermark horizon, never the stream's history.
    * The method ASSERTS the engine actually planned
    * `StreamingSymmetricHashJoin` (via the post-run executed plan), so
    * a silent fallback to an unbounded shape can't pass the gate.
    * Inner-join matches emit as soon as both rows have arrived
    * (append mode), so the AvailableNow backfill emits the complete
    * batch-equivalent result — the DuckDB oracle replays it as a plain
    * self-join with the same range predicate.
    */
  def intervalJoinStreamOnce(spark: SparkSession, sourcePath: String,
                             leftType: String, rightType: String,
                             withinMinutes: Int = 30,
                             watermark: String = "2 hours"): DataFrame =
    backfill(spark, sourcePath, "append", check = requirePlan(_,
      "intervalJoinStreamOnce", "StreamingSymmetricHashJoin", 1)) { raw =>
      def side(tp: String, p: String): DataFrame = raw
        // a null event time can't satisfy the range predicate (batch
        // semantics) but would reach the watermark operator — drop it
        // scan-side so both engines agree by construction
        .filter(col("event_type") === tp && col("ts").isNotNull)
        .select(col("user_id").as(s"${p}_user"),
          col("event_id").as(s"${p}_id"),
          eventTs(raw, "ts").as(s"${p}_ts"),
          col("value").as(s"${p}_value"))
        .withWatermark(s"${p}_ts", watermark)
      side(leftType, "l").join(side(rightType, "r"),
          col("l_user") === col("r_user") &&
            col("r_ts") >= col("l_ts") &&
            col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
        .select(
          col("l_user").as("user_id"),
          col("l_id").as("left_id"), col("r_id").as("right_id"),
          (unix_millis(col("r_ts")) - unix_millis(col("l_ts"))).as("delta_ms"),
          col("l_value").as("left_value"), col("r_value").as("right_value"))
    }

  /** Fully-qualified class name of Spark's RocksDB state store
    * provider (ships in the Spark distribution, no extra dependency).
    * This is the store for state that outgrows executor heap: the
    * default HDFS-backed provider keeps every key in an in-heap map,
    * so streaming dedup over billions of keys per watermark window
    * OOMs at 100 TB/day ingest — RocksDB keeps state in native
    * memtables + SST files (disk-bounded, not heap-bounded) for ~µs
    * JNI lookup cost. Pass to [[dedupStreamOnce]]'s `stateStore` (or
    * set `spark.sql.streaming.stateStore.providerClass` session-wide)
    * to switch; results are provider-independent by contract and the
    * ev10 gate pins that equality against ev7's oracle every round. */
  val RocksDbStateStore: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `build` over `sourcePath` as a one-shot bounded backfill
    * through the Structured Streaming engine and return the sink's rows
    * as a batch DataFrame. Every `*StreamOnce` gate is this runner plus
    * its transform. In order:
    *
    *  1. the source schema comes from [[Tables.schemaOf]]'s memo;
    *  2. a directory source passes through. A single parquet FILE (the
    *     test fixture layout) is linked `deliveries` times into a new
    *     temp dir, so the file source has a valid basePath; two links
    *     simulate an at-least-once source that delivers every record
    *     twice, with no write job. `deliveries > 1` requires a file;
    *  3. `build` gets `spark.readStream` over that input;
    *  4. `spark.sql.shuffle.partitions` is clamped to min(current, 4)
    *     and, when given, `stateStore` becomes the state-store provider;
    *     both are restored after, or unset when they had no value. A
    *     stateful streaming query opens one state store per shuffle
    *     partition, and every micro-batch pays per-store setup plus a
    *     delta commit to the checkpoint: with 32 partitions (64 stores
    *     for a stream-stream join) that fixed cost dwarfs the work on a
    *     bounded fixture. Results do not depend on the partition count,
    *     and a NEW checkpoint bakes it in at first start, so a one-shot
    *     query may pick it freely. The unbounded forms
    *     ([[tumblingAggStream]], [[dedupStream]], ...) keep the
    *     session's own setting, which at real scale is sized to the
    *     data. A non-integer value (e.g. "auto" under a vendor fork)
    *     cannot be clamped and is left alone. The read/set/restore of
    *     session-GLOBAL conf is not reentrant, so it is serialized on
    *     this object: two concurrent gates on one session could
    *     otherwise interleave read(200) read(4) restore(200) restore(4)
    *     and leave the session clamped forever;
    *  5. the checkpoint goes on tmpfs when [[gateCheckpointDir]] finds
    *     that sound, else to the engine's temp checkpoint. That one lands
    *     under java.io.tmpdir on DISK, and every stateful gate pays
    *     per-commit file I/O there (state-store delta files; RocksDB SST
    *     and changelog uploads — measured 2.77 s → 1.97 s for the ev10
    *     gate on /dev/shm). A bounded backfill's checkpoint has no value
    *     past the returned rows, so deleting it is correct; the
    *     unbounded forms keep durable checkpoint storage, where
    *     exactly-once recovery lives. A tmpfs checkpoint's files (offset
    *     and commit logs, metadata, state deltas) go through
    *     [[LocalCheckpointFiles]], set as the checkpoint file manager
    *     with the conf of step 4 and restored with it; it halved ev5's
    *     cost where Hadoop's local file system starts a process per
    *     file. The engine's own temp checkpoint keeps Spark's manager;
    *  6. the query writes to a memory sink under AvailableNow, which
    *     processes everything in the source and stops. `start()` runs
    *     inside the `try`, so a start-time failure cannot leak the
    *     checkpoint. After `awaitTermination`, `check` inspects the
    *     finished query, and a requested RocksDB provider must show its
    *     own metrics;
    *  7. whatever happened, the query stops, the checkpoint and wrapper
    *     dirs are deleted (never following a symlink), the conf is
    *     restored and the sink's temp view is dropped. The returned,
    *     already-analyzed DataFrame holds the sink plan directly, so
    *     repeated runs (bench reps) do not pile up registered tables
    *     for the session's lifetime, and the rows are freed once the
    *     caller drops the DataFrame. */
  private[graft] def backfill(spark: SparkSession, sourcePath: String, outputMode: String,
                              deliveries: Int = 1, stateStore: Option[String] = None,
                              check: StreamingQuery => Unit = _ => ())
                             (build: DataFrame => DataFrame): DataFrame = {
    val schema = Tables.schemaOf(spark, sourcePath)
    val file = new java.io.File(sourcePath)
    require(deliveries == 1 || file.isFile,
      s"a gate delivering each record $deliveries times expects a parquet file, got $sourcePath")
    val qn = "graft_gate_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val wrapper = if (file.isFile) Some(Files.createTempDirectory("graft_stream_src")) else None
    try {
      val inputPath = wrapper.fold(sourcePath) { d =>
        (1 to deliveries).foreach(i => Files.createSymbolicLink(
          d.resolve(s"delivery$i.parquet"), file.toPath.toAbsolutePath))
        d.toString
      }
      val out = build(spark.readStream.schema(schema).parquet(inputPath))
      Streams.synchronized {
        val partitions = "spark.sql.shuffle.partitions"
        val ckpt = gateCheckpointDir(spark.sparkContext.master, new java.io.File("/dev/shm"))
        val changes = Seq(
          scala.util.Try(spark.conf.get(partitions).toInt).toOption
            .map(p => partitions -> math.min(p, 4).toString),
          stateStore.map("spark.sql.streaming.stateStore.providerClass" -> _),
          ckpt.map(_ => "spark.sql.streaming.checkpointFileManagerClass" ->
            classOf[LocalCheckpointFiles].getName)).flatten
        val prev = changes.map { case (k, _) => k -> spark.conf.getOption(k) }
        var q: StreamingQuery = null
        try {
          changes.foreach { case (k, v) => spark.conf.set(k, v) }
          val w = out.writeStream.format("memory").queryName(qn)
            .outputMode(outputMode).trigger(Trigger.AvailableNow())
          q = ckpt.fold(w)(p => w.option("checkpointLocation", p.toString)).start()
          q.awaitTermination()
          check(q)
          // the requested provider must have actually RUN, not been
          // silently ignored: RocksDB reports its own custom state
          // metrics in the progress events, and their absence means the
          // engine fell back to the in-heap store
          if (stateStore.exists(_.contains("RocksDB"))) {
            import scala.jdk.CollectionConverters._
            require(q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
                .exists(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))),
              "RocksDB state store requested but no rocksdb* custom metrics " +
                "appeared in any progress event — the provider did not take effect")
          }
        } finally {
          if (q != null && q.isActive) q.stop()
          ckpt.foreach(rmTree)
          prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        }
      }
      spark.table(qn) // analysis resolves and captures the sink plan
    } finally {
      spark.catalog.dropTempView(qn)
      wrapper.foreach(rmTree)
    }
  }

  /** Require at least `atLeast` `op` operators in the finished query's
    * executed plan: a gate whose point is a plan shape (a stateful
    * stream-stream join, chained stateful aggregates) must not pass on
    * a silent fallback to another shape. */
  private def requirePlan(q: StreamingQuery, caller: String, op: String, atLeast: Int): Unit = {
    val plan = org.apache.spark.sql.graftbridge.Bridge
      .lastStreamingExecutedPlan(q).map(_.toString).getOrElse("")
    require(op.r.findAllIn(plan).length >= atLeast,
      s"$caller: engine planned fewer than $atLeast $op:\n${plan.take(1500)}")
  }

  /** Where a ONE-SHOT gate's checkpoint goes: tmpfs when that is sound,
    * else None (= the engine's default temp checkpoint on disk).
    *
    * Tmpfs is only sound when the whole query runs in ONE JVM: a
    * `checkpointLocation` on a non-shared local path "works" on a
    * cluster too, but state-store files then land on each executor's
    * OWN tmpfs, and any cross-batch partition migration or executor
    * loss during a multi-batch AvailableNow backfill reads MISSING
    * state — the bounded-backfill argument covers recovery-value, not
    * cross-executor visibility. So the fast path is gated on
    * `spark.master` being local[*].
    *
    * Capacity guard: containers commonly mount /dev/shm at 64 MB;
    * RocksDB SST/changelog uploads and HDFS-provider deltas filling it
    * would fail gates that succeed on disk. Require 256 MB usable —
    * an order of magnitude above any gate's observed state — and fall
    * back to the engine default below it. Exposed package-private for
    * the StreamsSpec fallback cases. */
  private[graft] def gateCheckpointDir(
      master: String, shm: java.io.File): Option[java.nio.file.Path] =
    if (master.startsWith("local") && shm.isDirectory && shm.canWrite
        && shm.getUsableSpace >= 256L * 1024 * 1024)
      Some(java.nio.file.Files.createTempDirectory(shm.toPath, "graft_ckpt_"))
    else None

  /** Delete a tree without following symlinks: a link is removed,
    * never the file or directory it points at. */
  private[graft] def rmTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, LinkOption}
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.iterator.asScala.foreach(rmTree) finally children.close()
    }
    Files.deleteIfExists(p); ()
  }

  /** Custom streaming state: gap-based sessionization via
    * `flatMapGroupsWithState` — the arbitrary-state path for semantics
    * windowed aggregates can't express (cuplyr has no streaming story;
    * this is the Spark-native answer for continuous pipelines).
    *
    * Emits CLOSED sessions only (append mode); the open tail session
    * per user stays in the state store. State is O(1) per user (one
    * open-session record carrying its session sequence number), so a
    * 100 TB stream's state is bounded by cardinality of active users,
    * not event volume. Events inside a micro-batch arrive unsorted —
    * the group handler sorts its batch slice; cross-batch ordering is
    * the caller's watermark contract.
    *
    * `events` must be a streaming DataFrame projected to
    * (user_id, event_id, ts_ms, value).
    */
  def sessionizeStatefulDs(events: DataFrame, gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[Streams.ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def handle(userId: Long, evs: Iterator[SessionEvent],
               state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      val sorted = evs.toSeq.sortBy(e => (e.ts_ms, e.event_id))
      var open = state.getOption
      val closed = scala.collection.mutable.ListBuffer[ClosedSession]()
      sorted.foreach { e =>
        open = open match {
          case Some(s) if e.ts_ms - s.last_ms <= gapMs =>
            Some(s.copy(last_ms = e.ts_ms, n = s.n + 1, sum = s.sum + e.value))
          case Some(s) =>
            closed += ClosedSession(userId, s.seq, s.start_ms, s.last_ms, s.n, s.sum)
            Some(OpenSession(s.seq + 1, e.ts_ms, e.ts_ms, 1L, e.value))
          case None =>
            Some(OpenSession(1L, e.ts_ms, e.ts_ms, 1L, e.value))
        }
      }
      open.foreach(state.update)
      closed.iterator
    }

    events.as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(handle)
  }

  /** [[sessionizeStatefulDs]] over a parquet directory of
    * (user_id, event_id, ts_ms, value) rows. */
  def sessionizeStateful(spark: SparkSession, sourceDir: String,
                         schema: org.apache.spark.sql.types.StructType,
                         gapMinutes: Int = 30): org.apache.spark.sql.Dataset[Streams.ClosedSession] =
    sessionizeStatefulDs(
      spark.readStream.schema(schema).parquet(sourceDir)
        .selectExpr("user_id", "event_id", "ts_ms", "value"), gapMinutes)

  /** Run stateful sessionization end-to-end THROUGH the Structured
    * Streaming engine as a bounded backfill (AvailableNow + memory
    * sink) over the raw events table and return the emitted CLOSED
    * sessions as a batch DataFrame — the arbitrary-state analogue of
    * [[tumblingAggStreamOnce]]'s batch/stream equivalence contract:
    * the emitted rows must equal the batch [[sessionize]] result MINUS
    * each user's last session (which is still open in the state store
    * when the bounded input ends).
    */
  def sessionizeStatefulOnce(spark: SparkSession, sourcePath: String,
                             gapMinutes: Int = 30): DataFrame =
    backfill(spark, sourcePath, "append") { raw =>
      sessionizeStatefulDs(raw.select(col("user_id"), col("event_id"),
        eventTsMs(raw, "ts").as("ts_ms"), col("value")), gapMinutes).toDF()
    }

  /** Per-window TRENDING event types (batch form): types taking at
    * least `minFraction` of their window's events — the windowed
    * heavy-hitter alert (a spike detector: a type that dominates one
    * window surfaces even if globally rare). Output: (window_start,
    * event_type, n_events, window_total), BigDecimal threshold
    * arithmetic like the heavy-hitter family. */
  def trendingAgg(events: DataFrame, windowLen: String = "1 hour",
                  minFraction: Double = 0.25): DataFrame = {
    require(minFraction > 0.0 && minFraction <= 1.0,
      s"trendingAgg: minFraction must be in (0,1], got $minFraction")
    val counts = events
      .groupBy(window(eventTs(events, "ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val totals = counts.groupBy(col("w"))
      .agg(sum(col("n_events")).as("window_total"))
    counts.join(totals, Seq("w"))
      .filter(col("n_events") >=
        ceil(col("window_total") * lit(java.math.BigDecimal.valueOf(minFraction))))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("window_total"))
  }

  /** [[trendingAgg]] executed end-to-end BY the streaming engine as a
    * bounded backfill — and the library's CHAINED-stateful-operator
    * gate: the per-(window, type) count aggregate feeds a SECOND
    * stateful windowed aggregate (per-window totals + the type list,
    * re-windowed via `window_time`), both in append mode, then a
    * stateless explode + threshold. State is O(windows × types) in
    * the first operator and O(windows) in the second — never
    * per-event — and the watermark bounds both stores.
    *
    * Append-mode finalization contract (the ev6 discipline): a window
    * emits only once the watermark passes it, so on a BOUNDED input
    * the emitted set is the batch [[trendingAgg]] result restricted
    * to windows whose end lies at or before the final watermark
    * (max event time − `watermark`); the tail windows are still open
    * in state when the input ends — exactly what an unbounded run
    * would emit later, and exactly what the declared oracle encodes.
    */
  def trendingStreamOnce(spark: SparkSession, sourcePath: String,
                         windowLen: String = "1 hour",
                         minFraction: Double = 0.25,
                         watermark: String = "2 hours"): DataFrame = {
    require(minFraction > 0.0 && minFraction <= 1.0,
      s"trendingStreamOnce: minFraction must be in (0,1], got $minFraction")
    // the whole point is the chained-stateful shape: require BOTH
    // stateful aggregates in the executed streaming plan
    backfill(spark, sourcePath, "append",
        check = requirePlan(_, "trendingStreamOnce", "StateStoreSave", 2)) { raw =>
      val src = raw.withColumn("__evt", eventTs(raw, "ts"))
        .withWatermark("__evt", watermark)
      val counts = src
        .groupBy(window(col("__evt"), windowLen).as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val perWindow = counts
        .groupBy(window(window_time(col("w")), windowLen).as("w2"))
        .agg(sum(col("n")).as("window_total"),
          collect_list(struct(col("event_type"), col("n"))).as("types"))
      perWindow
        .select(unix_timestamp(col("w2.start")).as("window_start"),
          col("window_total"), explode(col("types")).as("t"))
        .filter(col("t.n") >=
          ceil(col("window_total") * lit(java.math.BigDecimal.valueOf(minFraction))))
        .select(col("window_start"), col("t.event_type").as("event_type"),
          col("t.n").as("n_events"), col("window_total"))
    }
  }

  /** CONTINUOUS categorical drift: per event-time window, the
    * Jensen–Shannon decomposition of the window's category mix
    * against a STATIC baseline distribution — the streaming form of
    * `Profiler.categoricalDrift`, alerting "this hour's event mix
    * shifted from history" while the data is still arriving, instead
    * of after the next batch profile run.
    *
    * Shape: the ev12 chained-stateful discipline — a per-(window,
    * category) count aggregate feeds a SECOND stateful windowed
    * aggregate (category list re-windowed via `window_time`), both
    * append-mode with watermark-bounded O(windows × categories)
    * state — then the whole JSD is ONE STATELESS projection: the
    * baseline's top-K categories and total ship as a literal array
    * (one action of K + 1 rows, whatever the cardinality),
    * per-category window counts come from higher-order functions over
    * the collected list, and each term is `categoricalDrift`'s own
    * ([[Profiler.jsdColumns]]: integer counts, pb·ln(pb/m) with zero
    * guards, 6 dp), so a sealed window's rows equal
    * `categoricalDrift(baseline, that window's events, catCol, topK)`
    * whenever the baseline has at least `topK` categories, and the
    * DuckDB oracle replays every term bit-for-bit under the
    * append-mode finalization cutoff.
    *
    * Output per SEALED window: one row per kept baseline category
    * (plus `__other__` when either side has folded mass):
    * (window_start, category, n_base, n_cur, window_total, p_base,
    * p_cur, jsd_term). A baseline category ABSENT from a window
    * still emits (p_cur = 0 — a vanishing category is drift); Σ
    * jsd_term over a window = that window's JSD vs baseline.
    */
  def categoricalDriftStreamOnce(spark: SparkSession, sourcePath: String,
                                 baseline: DataFrame, catCol: String,
                                 windowLen: String = "1 hour",
                                 topK: Int = 20,
                                 watermark: String = "2 hours"): DataFrame = {
    require(topK >= 1, s"categoricalDriftStreamOnce: topK must be >= 1, got $topK")
    // the baseline's total (the rollup row, first by grouping id) and
    // top K categories by (nb desc, c asc): one action, topK + 1 rows
    val base = baseline.filter(col(catCol).isNotNull)
      .rollup(col(catCol).cast("string").as("c"))
      .agg(count(lit(1)).as("nb"), grouping_id().as("g"))
      .orderBy(col("g").desc, col("nb").desc, col("c").asc)
      .limit(topK + 1)
      .collect()
    require(base.length > 1,
      s"categoricalDriftStreamOnce: baseline has no non-null '$catCol' values")
    val tb = base(0).getLong(1)
    val kept = base.tail.map(r => (r.getString(0), r.getLong(1)))
    val nbOther = tb - kept.map(_._2).sum

    backfill(spark, sourcePath, "append", check = requirePlan(_,
        "categoricalDriftStreamOnce", "StateStoreSave", 2)) { raw =>
      val src = raw.withColumn("__evt", eventTs(raw, "ts"))
        .withWatermark("__evt", watermark)
        .filter(col(catCol).isNotNull)
      val counts = src
        .groupBy(window(col("__evt"), windowLen).as("w"),
          col(catCol).cast("string").as("__cat"))
        .agg(count(lit(1)).as("n"))
      val perWindow = counts
        .groupBy(window(window_time(col("w")), windowLen).as("w2"))
        .agg(collect_list(struct(col("__cat"), col("n"))).as("types"))

      val keptLit = array(kept.map { case (c, nb) =>
        struct(lit(c).as("category"), lit(nb).as("n_base")) }: _*)
      val withTerms = perWindow
        .select(unix_timestamp(col("w2.start")).as("window_start"), col("types"))
        .withColumn("window_total",
          aggregate(col("types"), lit(0L), (a, t) => a + t.getField("n")))
        .withColumn("terms", transform(keptLit, k => struct(
          k.getField("category").as("category"),
          k.getField("n_base").as("n_base"),
          aggregate(filter(col("types"),
              t => t.getField("__cat") === k.getField("category")),
            lit(0L), (a, t) => a + t.getField("n")).as("n_cur"))))
        .withColumn("__nck",
          aggregate(col("terms"), lit(0L), (a, x) => a + x.getField("n_cur")))
        .withColumn("terms",
          when(lit(nbOther) > 0L || col("window_total") - col("__nck") > 0L,
            concat(col("terms"), array(struct(
              lit("__other__").as("category"), lit(nbOther).as("n_base"),
              (col("window_total") - col("__nck")).as("n_cur")))))
            .otherwise(col("terms")))
      withTerms
        .select(col("window_start"), col("window_total"),
          explode(col("terms")).as("t"))
        .select(col("window_start"), col("t.category").as("category"),
          col("t.n_base").as("n_base"), col("t.n_cur").as("n_cur"),
          col("window_total"))
        .select(Seq(col("window_start"), col("category"), col("n_base"),
          col("n_cur"), col("window_total")) ++ Profiler.jsdColumns(col("n_base"),
          col("n_cur"), lit(tb), col("window_total")): _*)
    }
  }

  /** Streaming exact dedup — the continuous form of [[graft.dedup.Dedup.exact]]
    * for at-least-once sources that redeliver records.
    * `dropDuplicatesWithinWatermark` keeps the first arrival per key and
    * expires dedup state once the watermark passes it, so state is
    * bounded by keys-per-watermark-window, not stream length — the only
    * viable contract for an unbounded 100 TB/day ingest (a plain
    * `dropDuplicates` on a stream grows state forever).
    */
  def dedupStream(spark: SparkSession, sourceDir: String,
                  schema: org.apache.spark.sql.types.StructType,
                  keyCols: Seq[String],
                  tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Run streaming dedup end-to-end THROUGH the engine against a
    * simulated at-least-once source and return the surviving rows as
    * a batch DataFrame. Redelivery costs no write job: the source dir
    * holds TWO symlinks to the same parquet file, so every record is
    * delivered exactly twice. Duplicates are bit-identical copies, so
    * whichever arrival the state store keeps, the output row set is
    * deterministic — it must equal the source's distinct rows (= the
    * source itself when `keyCols` is a unique key), which is the
    * oracle the gate replays.
    */
  def dedupStreamOnce(spark: SparkSession, sourcePath: String,
                      keyCols: Seq[String],
                      watermark: String = "2 hours",
                      stateStore: Option[String] = None): DataFrame =
    backfill(spark, sourcePath, "append", deliveries = 2, stateStore = stateStore) { raw =>
      raw
        .withColumn("__ts_t", eventTs(raw, "ts"))
        .withWatermark("__ts_t", watermark)
        .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    }

  /** Streaming NEAR-dedup — the crawl-ingestion shape: documents
    * arrive as a stream (no event-time column of their own; ingestion
    * time is the event time, the standard crawl contract), each is
    * reduced scan-side to its 128-bit content signature
    * ([[graft.dedup.Dedup.contentSignature]]: equal shingle SETS ⇒
    * equal signatures — whitespace/case/repetition variants dedup,
    * not just byte-identical redeliveries), and
    * `dropDuplicatesWithinWatermark` keeps the first arrival per
    * signature. State holds only (16-byte signature, timestamp) pairs
    * and expires with the watermark — bounded regardless of corpus
    * rate, and the document text itself never enters the state store.
    *
    * Same simulated at-least-once source as [[dedupStreamOnce]]
    * (two symlink deliveries of one parquet file, no write job).
    * Determinism note: which ARRIVAL survives a signature class is
    * race-dependent, so callers must project survivor columns that
    * are CLASS-invariant (the ev11 gate projects the normalized-text
    * md5, identical across every member of a class by construction).
    *
    * Oracle-equivalence caveat (ev11): the gate's DISTINCT-md5 oracle
    * additionally assumes the CONVERSE on its fixture — that equal
    * shingle SETS imply equal normalized text. Signature classes are
    * coarser in general: degenerate docs with identical shingle sets
    * but different normalized text (pure word repetitions like
    * "x x x x x" vs "x x x x x x", or a doc vs its own doubling)
    * would merge here while staying distinct under the md5
    * projection. The testdata corpus contains no such pair (distinct
    * normalized texts there always differ in some shingle), which is
    * what gives ev11 a FULL oracle; a fixture with repetition-only
    * variants needs a rows-only gate or a set-aware projection.
    */
  def nearDedupStreamOnce(spark: SparkSession, sourcePath: String,
                          textCol: String = "text", shingleN: Int = 5,
                          watermark: String = "2 hours"): DataFrame =
    // null-text rows drop from the dedup stream rather than silently
    // merging: their content signature is null (the exact-dedup null
    // convention) and dropDuplicates groups nulls TOGETHER — callers
    // route null-text rows separately
    backfill(spark, sourcePath, "append", deliveries = 2)(_
      .filter(col(textCol).isNotNull)
      .withColumn("__sig", graft.dedup.Dedup.contentSignature(col(textCol), shingleN))
      .withColumn("__ingest_ts", current_timestamp())
      .withWatermark("__ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("__sig"))

  /** Rolling per-user running totals (batch window-function form used
    * by the q18_window oracle query). */
  def runningTotals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms").asc, col("event_id").asc)
    events.withColumn("ts_ms", eventTsMs(events, "ts"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_value",
        round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
  }
}
