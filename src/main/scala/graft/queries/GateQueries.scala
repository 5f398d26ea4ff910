package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.Declared
import graft.functions.textfns
import graft.streaming.Streams
import Fixtures._

/** The one-shot streaming gates (ev5-ev15): each runs its transform
  * through Structured Streaming as a bounded backfill and must return
  * its batch twin's rows. Bench reports them as their own group. */
private[graft] object GateQueries {

  /** The events streamed twice, deduplicated on event_id within a
    * 2-hour watermark in `stateStore` (ev7, ev10: one oracle). */
  private def dedupEvents(s: SparkSession, dir: String, stateStore: Option[String]): DataFrame =
    Streams.dedupStreamOnce(s, s"$dir/events.parquet",
        keyCols = Seq("event_id"), watermark = "2 hours", stateStore = stateStore)
      .select(col("event_id"), col("event_type"),
        unix_millis(col("__ts_t")).as("ts_ms"), col("value"))
      .orderBy(col("event_id").asc)

  /** The oracle of [[dedupEvents]]. */
  private val dedupEventsOracle =
    """SELECT event_id, event_type,
           CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms,
           value
         FROM events ORDER BY event_id"""

  val declared: Seq[Declared] = Seq(

    Declared("ev15_session_window_stream", (s, dir) =>
      // sessionization through the engine's NATIVE session_window
      // state (ev6 proves the CUSTOM-state route; this proves the
      // built-in session-merge, the production default when no
      // per-session logic is needed). Merge rule is overlap-or-
      // adjacent: a new session starts only at diff > gap, so an
      // exactly-gap event MERGES — identical to ev2's lag form and
      // to this oracle's `> 1800000` split; the spec pins the
      // exact-boundary fixture. Engine-neutral integer-millis
      // output; no watermark in the gate (complete mode), so the
      // result is the FULL session set, oracle-exact.
      Streams.sessionWindowStreamOnce(s, s"$dir/events.parquet",
          gapMinutes = 30)
        .orderBy(col("user_id").asc, col("session_start_ms").asc),
      // the gap-based replay: session_window merges overlapping-or-
      // ADJACENT windows, so its boundary rule is exactly ev2's
      // (> gap splits, = gap merges) — spec-pinned on the boundary
      Some(s"""WITH $sessionCtes
         SELECT user_id,
           min(ts_ms) AS session_start_ms,
           max(ts_ms) AS session_end_ms,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
         FROM x GROUP BY user_id, session_seq
         ORDER BY user_id, session_start_ms""")),

    Declared("ev14_hopping_stream", (s, dir) =>
      // SLIDING windows through the engine: each event lands in 4
      // overlapping (1 h window / 15 min slide) states — the
      // dashboard/rate-monitor refresh shape a tumbling window cannot
      // express. Oracle expands each event to its 4 aligned window
      // starts and replays the aggregate; integer-second window
      // membership is exact (window starts are whole 900 s multiples).
      Streams.hoppingAggStreamOnce(s, s"$dir/events.parquet",
          windowLen = "1 hour", slide = "15 minutes")
        .orderBy(col("window_start").asc, col("event_type").asc),
      // each event expands to its 4 overlapping window starts (aligned
      // 900 s multiples; membership over integer seconds is exact)
      Some("""WITH e AS (
           SELECT epoch_ns(ts) // 1000000000 AS tsec, event_type, value
           FROM events),
         w AS (
           SELECT tsec - (tsec % 900) - 900 * j AS window_start,
             event_type, value
           FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j))
         SELECT window_start, event_type, count(*) AS n_events,
           round(sum(value), 4) AS sum_value
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("ev5_tumbling_stream", (s, dir) =>
      // ev1's transform executed end-to-end BY the Structured
      // Streaming engine (readStream → window agg → AvailableNow
      // backfill → memory sink); same oracle as ev1 — the
      // batch/stream equivalence contract, checked by the gate
      Streams.tumblingAggStreamOnce(s, s"$dir/events.parquet", "1 hour")
        .orderBy(col("window_start").asc, col("event_type").asc),
      Some(tumblingOracle)),

    Declared("ev12_trending_stream", (s, dir) =>
      // per-window TRENDING types through the engine's CHAINED
      // stateful operators: per-(window, type) counts feed a SECOND
      // stateful windowed aggregate (totals + type list re-windowed
      // via window_time), both append-mode — the multi-stateful
      // capability none of ev1–ev11 exercises (plan-asserted: two
      // StateStoreSaves). State is O(windows × types), never
      // per-event. Append finalization (the ev6 discipline): only
      // windows sealed by the final watermark (max event time − 2 h)
      // emit on a bounded input — the oracle encodes exactly that
      // cutoff in ms (Spark tracks event time in floor-ms).
      Streams.trendingStreamOnce(s, s"$dir/events.parquet",
          windowLen = "1 hour", minFraction = 0.25)
        .orderBy(col("window_start").asc, col("event_type").asc),
      Some("""WITH e AS (
           SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws,
             event_type
           FROM events),
         wm AS (
           SELECT (max(epoch_ns(ts)) // 1000000) - 7200000 AS wm_ms
           FROM events),
         c AS (SELECT ws, event_type, count(*) AS n_events FROM e GROUP BY 1, 2),
         t AS (SELECT ws, CAST(sum(n_events) AS BIGINT) AS window_total
               FROM c GROUP BY 1)
         SELECT c.ws AS window_start, c.event_type,
           c.n_events, t.window_total
         FROM c JOIN t USING (ws), wm
         WHERE c.n_events >= ceil(t.window_total * 0.25)
           AND (c.ws + 3600) * 1000 <= wm.wm_ms
         ORDER BY window_start, event_type""")),

    Declared("ev13_drift_stream", (s, dir) =>
      // CONTINUOUS data-quality: per-window categorical drift vs the
      // static full-history baseline, through the engine's chained
      // stateful aggregates (the ev12 shape) with the whole JSD as a
      // stateless projection over the collected category list —
      // cur12's exact arithmetic per sealed window, so the oracle
      // replays every term under the append-mode cutoff. topK=3 over
      // ~5 event types keeps a live __other__ fold.
      Streams.categoricalDriftStreamOnce(s, s"$dir/events.parquet",
          baseline = t(s, dir, "events").select("event_type"),
          catCol = "event_type", windowLen = "1 hour", topK = 3)
        .orderBy(col("window_start").asc, col("category").asc),
      // the ev12 sealed-window cutoff + cur12's JSD arithmetic, per
      // window: kept categories cross-join every sealed window (a
      // baseline category absent from a window emits with n_cur = 0),
      // the __other__ fold rides the per-window kept sum
      Some(s"""WITH bc AS (
           SELECT event_type AS c, count(*) AS nb FROM events
           WHERE event_type IS NOT NULL GROUP BY 1),
         tbq AS (SELECT sum(nb) AS tb FROM bc),
         kept AS (SELECT c, nb FROM bc ORDER BY nb DESC, c ASC LIMIT 3),
         oth AS (SELECT (SELECT sum(nb) FROM bc)
                      - (SELECT sum(nb) FROM kept) AS nbo),
         wm AS (SELECT (max(epoch_ns(ts)) // 1000000) - 7200000 AS wm_ms
                FROM events),
         e AS (
           SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws,
             event_type
           FROM events WHERE event_type IS NOT NULL),
         wc AS (SELECT ws, event_type, count(*) AS n FROM e GROUP BY 1, 2),
         wt AS (SELECT ws, CAST(sum(n) AS BIGINT) AS window_total
                FROM wc GROUP BY 1),
         sealed AS (
           SELECT wt.ws, wt.window_total FROM wt, wm
           WHERE (wt.ws + 3600) * 1000 <= wm.wm_ms),
         keptrows AS (
           SELECT s.ws, k.c AS category, k.nb AS n_base,
             coalesce(wc.n, 0) AS n_cur, s.window_total
           FROM sealed s CROSS JOIN kept k
           LEFT JOIN wc ON wc.ws = s.ws AND wc.event_type = k.c),
         ko AS (SELECT ws, sum(n_cur) AS nck FROM keptrows GROUP BY 1),
         otherrows AS (
           SELECT k.ws, '__other__' AS category, o.nbo AS n_base,
             s.window_total - k.nck AS n_cur, s.window_total
           FROM ko k JOIN sealed s ON s.ws = k.ws, oth o
           WHERE o.nbo > 0 OR s.window_total - k.nck > 0),
         allrows AS (
           SELECT * FROM keptrows UNION ALL SELECT * FROM otherrows)
         SELECT ws AS window_start, category,
           CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
           window_total,
           ${jsdSql("n_base", "(SELECT tb FROM tbq)", "n_cur", "window_total")}
         FROM allrows ORDER BY window_start, category""")),

    Declared("ev8_stream_static_join", (s, dir) => {
      // stream-static enrichment executed BY the streaming engine:
      // events stream in, a static per-type dimension (derived from
      // the batch read — stands in for any reference table) broadcasts
      // into every micro-batch, no state store touched. Oracle replays
      // it as a plain join+aggregate — batch/stream equivalence for
      // the enrichment shape, completing the streaming family
      // (ev5 stateless transform, ev6 custom state, ev7 dedup).
      val dim = t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("type_total"))
      Streams.streamStaticJoinOnce(s, s"$dir/events.parquet", dim,
          "event_type", Seq("type_total"))
        .orderBy(col("event_type").asc)
    },
      Some("""WITH dim AS (
           SELECT event_type, count(*) AS type_total
           FROM events GROUP BY 1)
         SELECT e.event_type,
           count(*) AS n_events,
           round(sum(e.value), 4) AS sum_value,
           max(d.type_total) AS type_total
         FROM events e JOIN dim d USING (event_type)
         GROUP BY 1 ORDER BY 1""")),

    Declared("ev9_stream_stream_join", (s, dir) =>
      // TWO live watermarked streams joined on (user, event-time range)
      // — views matched to the same user's clicks within 30 minutes,
      // executed end-to-end by the streaming engine (symmetric-hash
      // join with state-eviction thresholds derived from the range
      // predicate; the helper ASSERTS that plan shape post-run). The
      // oracle replays it as a batch self-join with the identical
      // range predicate — batch/stream equivalence for the last
      // missing streaming tier (ev5 stateless, ev6 custom state,
      // ev7 dedup, ev8 stream-static).
      Streams.intervalJoinStreamOnce(s, s"$dir/events.parquet",
          "view", "click", withinMinutes = 30)
        .orderBy(col("user_id").asc, col("left_id").asc, col("right_id").asc),
      Some("""SELECT v.user_id AS user_id,
           v.event_id AS left_id, c.event_id AS right_id,
           epoch_ms(CAST(c.ts AS TIMESTAMP)) - epoch_ms(CAST(v.ts AS TIMESTAMP)) AS delta_ms,
           v.value AS left_value, c.value AS right_value
         FROM events v JOIN events c
           ON v.user_id = c.user_id
          AND v.event_type = 'view' AND c.event_type = 'click'
          AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
          AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
         ORDER BY user_id, left_id, right_id""")),

    Declared("ev6_sessionize_stateful", (s, dir) =>
      // ev2's sessionization THROUGH the streaming engine's
      // arbitrary-state path (flatMapGroupsWithState, AvailableNow
      // backfill, memory sink). Append mode emits CLOSED sessions
      // only — each user's tail session is still open in the state
      // store when the bounded input ends — so the oracle is ev2's
      // SQL minus each user's max session_seq row: the batch/stream
      // equivalence contract for custom state, checked by the gate.
      Streams.sessionizeStatefulOnce(s, s"$dir/events.parquet", gapMinutes = 30)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("session_start_ms"), col("session_end_ms"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy(col("user_id").asc, col("session_seq").asc),
      Some(s"""WITH $sessionCtes,
         g AS (
           $sessionsSql),
         w AS (
           SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS mx FROM g)
         SELECT user_id, session_seq, n_events, session_start_ms,
           session_end_ms, sum_value
         FROM w WHERE session_seq < mx ORDER BY 1, 2""")),

    Declared("ev7_dedup_stream", (s, dir) =>
      // streaming exact dedup through the engine against a simulated
      // at-least-once source (every record delivered twice via two
      // symlinks — no write job): dropDuplicatesWithinWatermark must
      // reduce the doubled delivery back to the source's distinct
      // rows, which the oracle replays as a plain SELECT (event_id is
      // a unique key in the fixture). State expires with the
      // watermark, so the gate exercises the bounded-state contract,
      // not an ever-growing dropDuplicates.
      dedupEvents(s, dir, stateStore = None),
      Some(dedupEventsOracle)),

    Declared("ev10_dedup_rocksdb", (s, dir) =>
      // ev7's streaming dedup with the state store that survives
      // 100 TB/day: RocksDBStateStoreProvider keeps dedup keys in
      // native memtables + SST files (disk-bounded) instead of the
      // default in-heap map (which OOMs when keys-per-watermark-window
      // outgrow executor heap). Results are provider-independent by
      // contract — this gate PROVES it by replaying ev7's exact oracle
      // through RocksDB; the helper additionally requires rocksdb*
      // metrics in the progress events, so a silent fallback to the
      // default store cannot pass.
      dedupEvents(s, dir, Some(Streams.RocksDbStateStore)),
      // same transform, same oracle — the gate's claim is that the
      // RocksDB provider changes WHERE state lives, never the result
      Some(dedupEventsOracle)),

    Declared("ev11_neardedup_stream", (s, dir) => {
      // streaming NEAR-dedup (crawl ingestion): every 5th doc also
      // arrives as a whitespace-mangled variant (raw bytes differ —
      // byte-level dedup keeps both), PLUS the at-least-once double
      // delivery. The content-signature state (equal shingle sets ⇒
      // equal 128-bit signature) must reduce all of it to one survivor
      // per normalized-text class. Output projects the class-invariant
      // normalized md5 (which ARRIVAL survives is race-dependent; its
      // class fingerprint is not), so DuckDB replays the whole gate as
      // DISTINCT md5(normalized text) over the same planted union.
      val corpus = ensureWrittenOnce("graft_ev11_corpus", dir) { path =>
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val variants = base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("  "), regexp_replace(col("text"), " ", "  ")).as("text"))
        base.unionByName(variants).coalesce(1)
          .write.mode("overwrite").parquet(path)
      }
      val part = new java.io.File(corpus).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head.getAbsolutePath
      Streams.nearDedupStreamOnce(s, part, textCol = "text", shingleN = 5)
        .select(textfns.contentFingerprint(col("text")).as("content_fp"))
        .orderBy(col("content_fp").asc)
    },
      Some(raw"""WITH all_docs AS (
           SELECT text FROM documents
           UNION ALL
           SELECT '  ' || regexp_replace(text, ' ', '  ', 'g')
           FROM documents WHERE doc_id % 5 = 0)
         SELECT DISTINCT md5($normText)
           AS content_fp
         FROM all_docs ORDER BY content_fp"""))
  )
}
