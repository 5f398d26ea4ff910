package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry.Declared
import graft.streaming.Streams
import Fixtures._

/** The batch event family (ev1-ev4): tumbling windows, sessions, a
  * funnel and JSON properties. Their streaming twins are
  * [[GateQueries]]. */
private[graft] object EventQueries {



  val declared: Seq[Declared] = Seq(

    Declared("ev1_tumbling", (s, dir) =>
      Streams.tumblingAgg(t(s, dir, "events"), "1 hour")
        .orderBy(col("window_start").asc, col("event_type").asc),
      Some(tumblingOracle)),

    Declared("ev2_sessionize", (s, dir) =>
      Streams.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .orderBy(col("user_id").asc, col("session_seq").asc),
      Some(s"""WITH $sessionCtes
         $sessionsSql ORDER BY 1, 2""")),

    Declared("ev3_funnel", (s, dir) => {
      // staged funnel view → click → purchase: each stage's entry time
      // is the user's first qualifying event strictly after the prior
      // stage. Timestamps compared internally only (raw nanos order ==
      // timestamp order), output is engine-neutral counts.
      //
      // ONE exchange on user_id: a single grouped aggregate collects
      // min view time plus the (sorted) click/purchase times per user;
      // the stage-2/3 entry times are then array lookups — the first
      // element strictly after the prior stage. The join formulation
      // (filter→join→agg per stage) scans and shuffles the fact table
      // three times; this shuffles it once, and only view/click/
      // purchase rows at that.
      Streams.funnel(t(s, dir, "events"),
          Seq("view", "click", "purchase"))
        .orderBy(col("stage").asc)
    },
      Some("""WITH v AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c AS (
           SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
         p AS (
           SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
         staged AS (
           SELECT user_id, 1 AS stage FROM v
           UNION ALL SELECT user_id, 2 FROM c
           UNION ALL SELECT user_id, 3 FROM p)
         SELECT stage, CAST(count(*) AS BIGINT) AS n_users
         FROM staged GROUP BY stage ORDER BY stage""")),

    Declared("ev4_json_props", (s, dir) =>
      // semi-structured props: JSON-path extraction scan-side (the
      // oracle replays it with a regex — same values, no JSON
      // dependency on the oracle engine)
      t(s, dir, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        // % (not pmod): DuckDB's % keeps the dividend's sign, pmod is
        // always non-negative — they diverge on negative k
        .withColumn("k_bucket", col("k") % 10)
        .orderBy(col("event_id").asc),
      Some("""SELECT event_id,
           CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k,
           CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) % 10 AS k_bucket
         FROM events ORDER BY event_id"""))
  )
}
