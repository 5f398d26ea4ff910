package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftFrame
import graft.api.GraftFrame.{asc, desc}
import graft.SparkEntry.Declared
import graft.operators.Layout
import graft.streaming.Streams
import Fixtures._

/** The rest of the q family: TPC-H shapes, windows, grouping sets,
  * scalar function suites, as-of/range/interval joins, skew, the
  * source and layout gates, sketches, fuzzy matching, time series and
  * snapshots. */
private[graft] object AnalyticsQueries {

  // pid-suffixed: the warehouse directory is shared host-wide (cwd
  // relative), so concurrent JVMs must not overwrite each other's
  // managed-table locations mid-read
  private val Q45LineitemTable =
    s"graft_q45_lineitem_b_${ProcessHandle.current().pid()}"
  private val Q45OrdersTable =
    s"graft_q45_orders_b_${ProcessHandle.current().pid()}"
  private val bucketedWrittenFor = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Write the q45 bucketed tables once per (JVM, sf dir): 16 buckets
    * on the join key both sides, so the sort-merge join and the
    * follow-on aggregate need no exchange. Re-runs only when the sf
    * dir changes (the memo prevents Bench's reps from re-writing, and
    * a dir switch from reading stale data). */
  private def ensureBucketedTables(s: SparkSession, dir: String): Unit =
    synchronized {
      if (bucketedWrittenFor.get() != dir) {
        // a managed table's DIRECTORY survives the in-memory catalog
        // across JVMs; saveAsTable would then fail on the orphaned
        // location — drop both the catalog entry and the stale dir
        Seq(Q45LineitemTable, Q45OrdersTable).foreach { tbl =>
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          Streams.rmTree(java.nio.file.Paths.get(
            s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl))
        }
        graft.sources.Tables.writeBucketed(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          Q45LineitemTable, "l_orderkey", 16)
        graft.sources.Tables.writeBucketed(
          t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
            col("o_totalprice")),
          Q45OrdersTable, "l_orderkey", 16)
        bucketedWrittenFor.set(dir)
      }
    }

  /** Write lineitem as ORC once per (JVM, sf dir) — the q46 setup.
    * Returns the ORC directory. */
  private def ensureOrcWritten(s: SparkSession, dir: String): String =
    ensureWrittenOnce("graft_q46_orc", dir) { path =>
      graft.sources.Tables.writeOrc(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")),
        path)
    }

  /** Write lineitem hive-partitioned by l_returnflag once per (JVM, sf
    * dir) — the q48 setup. Returns the partitioned directory. */
  private def ensurePartitionedWritten(s: SparkSession, dir: String): String =
    ensureWrittenOnce("graft_q48_part", dir) { path =>
      graft.sources.Tables.writePartitioned(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice")),
        path, Seq("l_returnflag"))
    }

  /** q63 setup, once per (JVM, sf dir): events written partitioned by
    * event_type with 16 files per partition directory (the small-file
    * mess a streaming sink or per-task writer leaves behind), then
    * compacted per-directory toward 64 MB files — every directory
    * collapses to one file at these sizes. Returns the COMPACTED
    * directory; the declared query aggregates it against the
    * original-table oracle (content must survive both rewrites
    * exactly). */
  private def ensureCompactedWritten(s: SparkSession, dir: String): String = {
    val small = ensureWrittenOnce("graft_q63_small", dir) { path =>
      t(s, dir, "events").select("event_id", "event_type", "value")
        .repartition(16)
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
    }
    ensureWrittenOnce("graft_q63_compact", dir) { path =>
      graft.operators.Layout.compact(s, small, path,
        targetFileBytes = 1L << 26, partitionCols = Seq("event_type"))
    }
  }

  /** Write `documents` as line-oriented text (`doc_id \t text`, one doc
    * per line — the raw-corpus/JSONL-ish ingestion layout) once per
    * (JVM, sf dir) — the q49 setup. The corpus text contains no tabs
    * or newlines (TESTDATA), and the reader splits on the FIRST tab
    * only, so the round-trip is exact byte-for-byte. */
  private[graft] def ensureTextWritten(s: SparkSession, dir: String): String =
    ensureWrittenOnce("graft_q49_text", dir) { path =>
      t(s, dir, "documents")
        .select(concat(col("doc_id").cast("string"), lit("\t"), col("text"))
          .as("value"))
        .write.mode("overwrite").text(path)
    }

  /** Each purchase's most recent earlier click by the same user,
    * through `asof` (q27 composes it, q38 runs the native operator; one
    * oracle). */
  private def lastClickBefore(s: SparkSession, dir: String)(
      asof: (DataFrame, DataFrame, String, String, String, Seq[(String, String)]) => DataFrame)
      : DataFrame = {
    val ev = GraftFrame(Streams.runningTotals(t(s, dir, "events")))
      .select("event_id", "user_id", "ts_ms", "event_type").df
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_ms")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts_ms")
    asof(purchases, clicks, "user_id", "ts_ms", "ts_ms", Seq("ts_ms" -> "last_click_ms"))
      .orderBy(col("event_id").asc)
  }

  /** The oracle of [[lastClickBefore]]. */
  private val asofOracle =
    """WITH e AS (
           SELECT event_id, user_id, event_type,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events)
         SELECT p.event_id, p.user_id, p.ts_ms, c.ts_ms AS last_click_ms
         FROM (SELECT event_id, user_id, ts_ms FROM e WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, ts_ms FROM e WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
         ORDER BY p.event_id"""

  /** An order line's revenue in whole cents, half up: exact integers
    * to sum, so no float summation order shows (q66, q67). */
  private def revenueCents: Column =
    floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5).cast("long")

  /** The summed [[revenueCents]] of an oracle's lineitem rows, back in
    * currency units, as `revenue`. */
  private val revenueSql =
    """CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue"""

  /** (user_id, tsec, value) of the events of users below `users`, tsec
    * in epoch seconds (q58, q61). */
  private def eventSeconds(s: SparkSession, dir: String, users: Int): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") < users)
    ev.select(col("user_id"), Streams.eventTsMs(ev, "ts").as("__ms"), col("value"))
      .select(col("user_id"), expr("__ms DIV 1000").as("tsec"), col("value"))
  }

  // ---- the orders snapshot edit (q56, q59) ---------------------------
  //
  // A planted fixture with its SQL twin, like the documents fixtures:
  // the next snapshot drops every key at 0 modulo 10, reprices every
  // key at 5 by +1000 and adds a fresh key, +100000000, for every key
  // at 3.

  /** The orders snapshot the edit starts from. */
  private def ordersSnapshot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), col("o_orderstatus"))

  private val ordersSnapshotSql =
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders"

  /** The edit of `base`: its deleted rows, its repriced rows and the
    * inserted rows. */
  private def snapshotEdit(base: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    base.filter(col("o_orderkey") % 10 === 0),
    base.filter(col("o_orderkey") % 10 === 5)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
    base.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L))

  /** `base` with [[snapshotEdit]] applied: the next snapshot. */
  private def editedSnapshot(base: DataFrame): DataFrame = {
    val (_, repriced, inserted) = snapshotEdit(base)
    base.filter(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 10 =!= 5)
      .unionByName(repriced).unionByName(inserted)
  }

  /** SQL twin of [[editedSnapshot]] over [[ordersSnapshot]]. */
  private val editedSnapshotSql = unionAll(
    s"$ordersSnapshotSql WHERE o_orderkey % 10 NOT IN (0, 5)",
    "SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, o_orderstatus FROM orders" +
      " WHERE o_orderkey % 10 = 5",
    "SELECT o_orderkey + 100000000, o_custkey, o_totalprice, o_orderstatus FROM orders" +
      " WHERE o_orderkey % 10 = 3")

  /** This area's planted fixture, as (name, builder, twin) —
    * DeclaredSpec's parity check. */
  private[graft] val plantedTwins: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(("orders snapshot edit", (s, dir) => editedSnapshot(ordersSnapshot(s, dir)),
      editedSnapshotSql))

  val declared: Seq[Declared] = Seq(

    Declared("q15_tpch_q1", (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .mutate(
          "disc_price" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          "charge" -> col("disc_price") * (lit(1.0) + col("l_tax")))
        .groupBy("l_returnflag", "l_linestatus")
        .summarise(
          "sum_qty" -> sum(col("l_quantity")),
          "sum_base_price" -> round(sum(col("l_extendedprice")), 2),
          "sum_disc_price" -> round(sum(col("disc_price")), 2),
          "sum_charge" -> round(sum(col("charge")), 2),
          "avg_qty" -> round(avg(col("l_quantity")), 4),
          "avg_price" -> round(avg(col("l_extendedprice")), 4),
          "avg_disc" -> round(avg(col("l_discount")), 4),
          "count_order" -> count(lit(1)))
        .arrange(asc("l_returnflag"), asc("l_linestatus"))
        .df,
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
           round(sum((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q16_tpch_q3", (s, dir) => {
      val cust = g(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = g(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
      val li = g(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
        .mutate("rev" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      li.join(ord, Seq("l_orderkey" -> "o_orderkey"), "inner")
        .join(cust, Seq("o_custkey" -> "c_custkey"), "inner")
        .mutate("o_orderdate_ms" -> unix_millis(col("o_orderdate").cast("timestamp")))
        .groupBy("l_orderkey", "o_orderdate_ms", "o_orderpriority")
        .summarise("revenue" -> round(sum(col("rev")), 2))
        .arrange(desc("revenue"), asc("l_orderkey"))
        .headN(10)
        .df
    },
      Some("""SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15'
           AND l_shipdate > TIMESTAMP '1995-03-15'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    Declared("q17_tpch_q5", (s, dir) => {
      // 6-way star join; dimensions broadcast (region/nation tiny).
      val li = g(s, dir, "lineitem")
        .mutate("rev" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      val joined = li
        .join(g(s, dir, "orders"), Seq("l_orderkey" -> "o_orderkey"), "inner")
        .join(g(s, dir, "customer"), Seq("o_custkey" -> "c_custkey"), "inner")
        .join(g(s, dir, "supplier"), Seq("l_suppkey" -> "s_suppkey"), "inner")
        .filter(col("s_nationkey") === col("c_nationkey"))
        .join(GraftFrame(broadcast(t(s, dir, "nation"))),
          Seq("c_nationkey" -> "n_nationkey"), "inner")
        .join(GraftFrame(broadcast(t(s, dir, "region"))),
          Seq("n_regionkey" -> "r_regionkey"), "inner")
      joined
        .groupBy("r_name", "n_name")
        .summarise("revenue" -> round(sum(col("rev")), 2), "n_items" -> count(lit(1)))
        .arrange(asc("r_name"), asc("n_name"))
        .df
    },
      Some("""SELECT r_name, n_name,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q18_window", (s, dir) =>
      GraftFrame(Streams.runningTotals(t(s, dir, "events")))
        .select("user_id", "event_id", "ts_ms", "rn", "running_value")
        .arrange(asc("user_id"), asc("rn"))
        .df,
      Some("""SELECT user_id, event_id, ts_ms,
           CAST(row_number() OVER w AS INT) AS rn,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS UNBOUNDED PRECEDING), 4) AS running_value
         FROM (SELECT user_id, event_id, value,
                 epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
         ORDER BY user_id, rn""")),

    Declared("q53_window2", (s, dir) => {
      // the full analytic-window family in one declared query:
      // lag/lead (offset), ntile (equi-depth bucketing),
      // percent_rank/cume_dist (relative position), first/last value
      // over a running frame — one window spec, one exchange, no
      // spill risk (per-user partitions). Ties broken by o_orderkey
      // so both engines agree on the total order.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g(s, dir, "orders").df
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .withColumn("first_price", first(col("o_totalprice")).over(run))
        .orderBy(col("o_custkey").asc, col("o_totalprice").asc,
          col("o_orderkey").asc)
    },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_custkey, o_totalprice, o_orderkey""")),

    Declared("q20_quantiles", (s, dir) =>
      // exact grouped quantiles through the bounded-state rank path
      // (Quantile.exactGrouped): one exchange + spillable window, never
      // a whole group in one aggregation buffer — interpolation is
      // bit-identical to the `percentile` built-in the DuckDB oracle
      // already matched
      graft.operators.Quantile.exactGrouped(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        .orderBy(col("l_returnflag").asc),
      Some("""SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
         FROM lineitem GROUP BY 1 ORDER BY 1""")),

    Declared("q21_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last),
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(1, 2)
         ORDER BY 1 NULLS LAST, 2 NULLS LAST""")),

    Declared("q41_cube", (s, dir) =>
      // full grouping-set lattice (cube): every (flag, status) subtotal
      // combination — one Expand + one aggregate, like rollup
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_last,
          col("l_linestatus").asc_nulls_last),
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY CUBE(1, 2)
         ORDER BY 1 NULLS LAST, 2 NULLS LAST""")),

    Declared("q22_pivot", (s, dir) =>
      t(s, dir, "orders")
        .withColumn("y", year(col("o_orderdate").cast("timestamp")))
        .groupBy("y")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .orderBy(col("y").asc),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS y,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
         FROM orders GROUP BY 1 ORDER BY 1""")),

    Declared("q23_strings", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_pfx"),
        regexp_replace(col("p_name"), "a", "@").as("name_sub"),
        instr(col("p_name"), "gizmo").as("gizmo_at"),
        levenshtein(col("p_brand"), lit("brand#1")).as("brand_dist"))
        .orderBy(col("p_partkey").asc),
      Some("""SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substr(p_name, 1, 5) AS name_pfx,
           regexp_replace(p_name, 'a', '@', 'g') AS name_sub,
           CAST(instr(p_name, 'gizmo') AS INT) AS gizmo_at,
           CAST(levenshtein(p_brand, 'brand#1') AS INT) AS brand_dist
         FROM part ORDER BY p_partkey""")),

    Declared("q24_dates", (s, dir) => {
      val od = col("o_orderdate").cast("date")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(od).as("y"),
        month(od).as("m"),
        dayofmonth(od).as("d"),
        quarter(od).as("q"),
        dayofweek(od).as("dow_sun1"),
        datediff(od, lit("1970-01-01").cast("date")).as("epoch_days"),
        month(date_add(od, 30)).as("month_plus30"))
        .orderBy(col("o_orderkey").asc)
    },
      Some("""SELECT o_orderkey,
           CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS y,
           CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS m,
           CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS d,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow_sun1,
           CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS epoch_days,
           CAST(month(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY) AS INT) AS month_plus30
         FROM orders ORDER BY o_orderkey""")),

    Declared("q25_case", (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 1000, "low")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("tier"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg2"),
        (col("c_acctbal") > 0 && col("c_nationkey") < 10).as("flag"))
        .orderBy(col("c_custkey").asc),
      Some("""SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 1000 THEN 'low'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg2,
           (c_acctbal > 0 AND c_nationkey < 10) AS flag
         FROM customer ORDER BY c_custkey""")),

    Declared("q26_setops", (s, dir) => {
      val managed = t(s, dir, "nation").select(col("n_regionkey").as("k"))
      val regions = t(s, dir, "region").select(col("r_regionkey").as("k"))
      val both = managed.intersect(regions).withColumn("op", lit("both"))
      val extra = regions.exceptAll(managed.distinct()).withColumn("op", lit("region_only"))
      both.unionByName(extra).orderBy(col("op").asc, col("k").asc)
    },
      Some("""SELECT k, 'both' AS op FROM
           (SELECT n_regionkey AS k FROM nation INTERSECT SELECT r_regionkey FROM region)
         UNION ALL
         SELECT k, 'region_only' AS op FROM
           (SELECT r_regionkey AS k FROM region
            EXCEPT ALL SELECT DISTINCT n_regionkey FROM nation)
         ORDER BY op, k""")),

    Declared("q27_asof", (s, dir) =>
      lastClickBefore(s, dir)(graft.operators.AsofJoin.asofBackward),
      Some(asofOracle)),

    Declared("q43_skew_agg", (s, dir) =>
      // q05's aggregate through the SALTED two-phase path — the
      // mitigation for single-key aggregation skew AQE cannot split
      // (one hot key still lands on one reducer). The deterministic
      // row salt spreads each key over `salts` partial reducers; the
      // final phase merges `salts` rows per key. Same oracle as the
      // plain groupBy: the salted plan is an algebraic identity, and
      // sum(l_quantity) is exact (integer-valued doubles), so the
      // result is bit-equal to the direct aggregation. Plan shape
      // (exactly two hash exchanges) is spec-asserted.
      graft.operators.Skew.saltedSummarise(
          t(s, dir, "lineitem")
            .select("l_returnflag", "l_linestatus", "l_quantity", "l_discount"),
          keys = Seq("l_returnflag", "l_linestatus"), salts = 32,
          ("sum_qty", "l_quantity", "sum"),
          ("n", "l_quantity", "count"),
          ("min_disc", "l_discount", "min"),
          ("max_disc", "l_discount", "max"))
        .orderBy(col("l_returnflag").asc, col("l_linestatus").asc),
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(l_quantity) AS n,
           min(l_discount) AS min_disc,
           max(l_discount) AS max_disc
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q44_skew_join", (s, dir) => {
      // lineitem ⋈ orders through the split-route skew join: keys the
      // deterministic sample classifies as hot take a broadcast of the
      // right side's matching slice, the tail takes the ordinary
      // shuffle join, one union at the end — the mitigation for the
      // case AQE's skew-join can't fix (the right side still shuffles
      // under AQE). Oracle-safe BY CONSTRUCTION, not by seed: hot and
      // tail paths PARTITION the left rows, so the union equals the
      // plain inner join no matter which keys the sample flags —
      // classification moves rows between physical strategies, never
      // in or out of the result.
      //
      // hotThreshold = 40: at 5% sampling the hot cutoff is two
      // sampled occurrences, so ~4% of orderkeys (≤7 lineitems each,
      // P[Binom(7, .05) ≥ 2] ≈ 0.044) classify hot — BOTH routes carry
      // real rows (SourcesSpec asserts both routes' runtime row counts
      // are nonzero) while the broadcast slice stays a few percent of
      // the right side, unlike a cutoff of one sampled hit, which
      // would flag ~30% of keys and broadcast a third of the table.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"),
          col("o_totalprice"))
      graft.operators.Skew.skewAwareJoin(li, ord, "l_orderkey",
          hotThreshold = 40)
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
    },
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           o.o_custkey, o.o_totalprice
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         ORDER BY l.l_orderkey, l.l_linenumber""")),

    Declared("q45_bucketed_join", (s, dir) => {
      // co-located join gate: both sides written bucketed on the join
      // key (Tables.writeBucketed), read back, sort-merge joined and
      // aggregated on the bucket key — at scale this is the
      // pre-partitioning that removes the per-query shuffle of a
      // repeatedly-joined fact table entirely (SourcesSpec asserts the
      // exchange-free plan; the declared query gates row correctness
      // against the plain-parquet oracle). The bucketed write runs
      // once per (JVM, sf dir) — it is setup, like the parquet scan's
      // existence, not part of the measured join.
      ensureBucketedTables(s, dir)
      s.table(Q45LineitemTable).hint("merge")
        .join(s.table(Q45OrdersTable), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          max(col("o_totalprice")).as("price"))
        .orderBy(col("l_orderkey").asc)
    },
      Some("""SELECT l.l_orderkey,
           sum(l.l_quantity) AS sum_qty,
           count(*) AS n,
           max(o.o_totalprice) AS price
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1 ORDER BY 1""")),

    Declared("q47_epoch_shuffle", (s, dir) =>
      // deterministic epoch-stable corpus shuffle — the data-order
      // primitive of a pretraining pipeline: a different but exactly
      // reproducible permutation per epoch, independent of partition
      // layout and executor count (ORDER BY rand(seed) is neither).
      // Cost = ONE range exchange, the same shape as any sorted write.
      // Epoch 3's permutation, key exposed so the oracle checks the
      // hash values bit-for-bit, not just the ordering.
      graft.operators.Shuffle.epochShuffle(
        t(s, dir, "documents").select(col("doc_id"),
          graft.operators.Shuffle.shuffleKey(col("doc_id"), 3)
            .as("shuffle_key")),
        "doc_id", 3),
      // epoch 3's constants: Shuffle's Mult and Add + 3 · EpochStride
      Some(s"""WITH ${decisionHashCtes("documents", "doc_id", "doc_id", "h", 69621L, 344198L)}
         SELECT doc_id, hv AS shuffle_key FROM h
         ORDER BY shuffle_key, doc_id""")),

    Declared("q46_orc_roundtrip", (s, dir) => {
      // ORC round-trip gate: lineitem written as ORC (once per JVM/sf
      // dir — setup, not the measured read), read back through the ORC
      // source with the filter pushed to the scan (SourcesSpec asserts
      // ORC PushedFilters), aggregated. Oracle replays the same
      // pipeline from the original parquet — values must survive the
      // typed round-trip bit-exactly.
      graft.sources.Tables.orc(s, ensureOrcWritten(s, dir))
        .filter(col("l_quantity") >= 30)
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc)
    },
      Some("""SELECT l_returnflag,
           sum(l_quantity) AS sum_qty,
           count(*) AS n
         FROM lineitem WHERE l_quantity >= 30
         GROUP BY 1 ORDER BY 1""")),

    Declared("q48_partitioned_prune", (s, dir) => {
      // Hive-partitioned parquet gate: lineitem written partitionBy
      // l_returnflag (setup, once per JVM/sf dir), read back with a
      // partition-column filter — Spark prunes whole directories at
      // LISTING time (PartitionFilters in the scan node; SourcesSpec
      // asserts the pruned partition count), so only ~1/3 of the data
      // is ever opened. The 100 TB pattern for time/category-
      // partitioned corpora. Oracle replays from the original parquet:
      // values must survive the partitioned round-trip exactly
      // (sum(l_quantity) is integer-valued; min/max are order-free).
      s.read.parquet(ensurePartitionedWritten(s, dir))
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy(col("l_linestatus").asc)
    },
      Some("""SELECT l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(*) AS n,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
         FROM lineitem WHERE l_returnflag = 'R'
         GROUP BY 1 ORDER BY 1""")),

    Declared("q49_text_ingest", (s, dir) => {
      // Raw-text ingestion gate: documents written one-per-line as
      // `doc_id \t text` (setup), read back through the line-oriented
      // text() source, split on the FIRST tab, and fed into the txt1
      // token-statistics pipeline — the standard raw-corpus entry
      // path. Oracle = txt1's replay from the parquet table: the text
      // must survive the round-trip byte-for-byte.
      val lines = graft.sources.Tables.text(s, ensureTextWritten(s, dir))
      val tabAt = instr(col("value"), "\t")
      tokenCounts(lines.select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        col("value").substr(tabAt + 1, length(col("value"))).as("text")))
    },
      Some(tokensOracle)),

    Declared("q38_asof_native", (s, dir) => {
      // q27's as-of join on the NATIVE sorted-merge physical operator
      // (AsofJoinExec via SparkSessionExtensions) — same oracle; the
      // spec additionally pins native == composed row-for-row
      lastClickBefore(s, dir)(graft.operators.AsofJoin.asofBackwardNative)
    },
      Some(asofOracle)),

    Declared("q29_range_join", (s, dir) => {
      val points = GraftFrame(Streams.runningTotals(t(s, dir, "events")))
        .select("event_id", "value").df
      val intervals = t(s, dir, "part").filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("lo"),
          (col("p_size").cast("double") + 2.5).as("hi"))
      graft.operators.RangeJoin.pointInInterval(points, intervals,
          "value", "lo", "hi", bucketWidth = 2.5)
        .select("event_id", "p_partkey", "value", "lo", "hi")
        .orderBy(col("event_id").asc, col("p_partkey").asc)
    },
      Some("""WITH iv AS (
           SELECT p_partkey, CAST(p_size AS DOUBLE) AS lo,
             CAST(p_size AS DOUBLE) + 2.5 AS hi
           FROM part WHERE p_partkey < 100)
         SELECT event_id, p_partkey, value, lo, hi
         FROM events JOIN iv ON value >= lo AND value <= hi
         ORDER BY event_id, p_partkey""")),

    // sketch aggregates for 100 TB profiling — rows-only (HLL/KLL
    // estimates are engine-specific by construction)
    Declared("q28_approx", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(100)).as("p99_price"))
        .orderBy(col("l_returnflag").asc),
      None),

    Declared("q28b_sketch_error", (s, dir) => {
      // MEASURED estimator-quality gate for q28's sketches — the q28
      // analogue of ann6_recall: the same HLL / approximate-percentile
      // aggregates computed next to their exact twins, emitting
      // relative error per group so the sketch quality number lands in
      // the driver's correctness dump each round. Rows-only because
      // HLL values are engine-specific (hash-seeded); ApproxGateSpec
      // pins the error ceilings (HLL default rsd 0.05; rsd=0.02
      // variant; percentile at accuracy=100).
      //
      // Shape: FOUR independent two-phase aggregates joined on the
      // 3-row group key — NOT one aggregate. Two countDistincts in one
      // aggregate make Spark Expand the input once per distinct clause
      // (3x the rows), and the exact percentile then buffers values
      // through that expanded stream: measured 29 s vs ~2 s split.
      // Splitting is also the 100 TB shape — each exact distinct is a
      // partial-combining (group, key) dedup, never an Expand.
      //
      // Every exact twin is scale-true: the distinct-counts are
      // partial-combining dedups, and the exact p99 runs through
      // Quantile.exactGrouped — one exchange + spillable window with
      // bounded per-row state, never a whole group in one aggregation
      // buffer — so this harness (unlike a `percentile`-based twin)
      // could itself run at corpus scale.
      val li = t(s, dir, "lineitem")
      val approx = li.groupBy("l_returnflag").agg(
        approx_count_distinct(col("l_partkey")).as("__ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("__ao"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(100)).as("__aq"))
      val exactParts = li.select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("__ep"))
      val exactOrders = li.select("l_returnflag", "l_orderkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("__eo"))
      val exactP99 = graft.operators.Quantile.exactGrouped(
        li, Seq("l_returnflag"), "l_extendedprice", Seq("__eq" -> 0.99))
      approx
        .join(exactParts, "l_returnflag")
        .join(exactOrders, "l_returnflag")
        .join(exactP99, "l_returnflag")
        .select(col("l_returnflag"),
          round(abs(col("__ap") - col("__ep")) / col("__ep"), 4).as("hll_parts_relerr"),
          round(abs(col("__ao") - col("__eo")) / col("__eo"), 4).as("hll_orders_relerr"),
          round(abs(col("__aq") - col("__eq")) / col("__eq"), 4).as("p99_relerr"))
        .orderBy(col("l_returnflag").asc)
    },
      None),

    Declared("q51_zorder", (s, dir) =>
      // Z-order (Morton) layout key: the write-side data-skipping
      // lever — interleaving the bits of two predicate columns gives
      // every written file a small bounding BOX of both, where a
      // linear sort leaves the second column's min/max envelope
      // full-width in every file (LayoutSpec measures the areas; this
      // query pins the raw bit-interleave math engine-for-engine —
      // the oracle rebuilds the identical 32-term expression).
      g(s, dir, "lineitem")
        .mutate(
          "p" -> col("l_partkey") % 256,
          "sm" -> col("l_suppkey") % 256)
        .mutate("zkey" -> Layout.mortonKey(col("p"), col("sm"), 8))
        .select("l_orderkey", "l_linenumber", "p", "sm", "zkey")
        .arrange(asc("zkey"), asc("l_orderkey"), asc("l_linenumber"),
          asc("p"), asc("sm"))
        .df,
      // the 32-term interleave is generated from the same (j → positions
      // 2j / 2j+1) rule the engine expression uses — one source of truth
      // per engine, agreement pinned per row by the hash gate
      Some {
        val terms = (0 until 8).flatMap(j => Seq(
          s"(((p >> $j) & 1) << ${2 * j})",
          s"(((sm >> $j) & 1) << ${2 * j + 1})")).mkString(" | ")
        s"""WITH m AS (
           SELECT l_orderkey, l_linenumber,
             l_partkey % 256 AS p, l_suppkey % 256 AS sm
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, p, sm,
           ($terms) AS zkey
         FROM m
         ORDER BY zkey, l_orderkey, l_linenumber, p, sm"""
      }),

    Declared("q52_fuzzy_join", (s, dir) => {
      // edit-distance similarity self-join on the part-name vocabulary
      // (entity resolution): all name pairs within levenshtein 2, via
      // PassJoin segment filtering — k+1 segments, pigeonhole says a
      // within-k pair agrees exactly on one segment, so candidates
      // come from ONE equi-join on (segment index, length, gram) keys
      // instead of the name cross-product; exact verify then only
      // discards. Sound + complete (spec pins equality with all-pairs
      // ground truth); DuckDB replays the quadratic definition.
      val names = g(s, dir, "part")
        .selectExpr2("name" -> lower(col("p_name"))).distinct_().df
      graft.operators.FuzzyJoin.selfPairs(names, "name", "name", maxDistance = 2)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
          col("distance"))
        .orderBy(col("name_a").asc, col("name_b").asc)
    },
      Some("""WITH nm AS (SELECT DISTINCT lower(p_name) AS name FROM part)
         SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
         FROM nm a JOIN nm b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 2
         ORDER BY name_a, name_b""")),

    Declared("q54_fuzzy_dedup", (s, dir) => {
      // entity-resolution dedup (the q52 pairs made actionable): one
      // surviving representative — the min-id member — per connected
      // component of the within-2-levenshtein name graph, the dd7
      // pairs → clusters → survivors shape over FuzzyJoin's SPANNING
      // pair subset (linear in duplication: identical strings collapse
      // to one representative before segment emission, so a
      // boilerplate name repeated 10k times costs one probe row, not
      // 10k² candidate pairs). The oracle replays the quadratic pair
      // definition and min-label reachability in a recursive CTE.
      val names = t(s, dir, "part")
        .groupBy(lower(col("p_name")).as("name"))
        .agg(min(col("p_partkey")).as("id"))
      graft.operators.FuzzyJoin.fuzzyDedup(names, "id", "name", maxDistance = 2)
        .select(col("id"), col("name"))
        .orderBy(col("id").asc)
    },
      // connected components are SQL-expressible via recursive min-label
      // reachability: r enumerates (node, reachable id) over the
      // symmetric close-pair edge set, min(lab) is the component minimum
      // — a survivor is a name whose component minimum is its own id
      Some("""WITH RECURSIVE nm AS (
           SELECT lower(p_name) AS name, min(p_partkey) AS id
           FROM part GROUP BY 1),
         e AS (
           SELECT a.id AS src, b.id AS dst FROM nm a JOIN nm b
           ON a.id <> b.id AND levenshtein(a.name, b.name) <= 2),
         r(id, lab) AS (
           SELECT id, id FROM nm
           UNION
           SELECT e.dst, r.lab FROM r JOIN e ON r.id = e.src),
         cc AS (SELECT id, min(lab) AS lab FROM r GROUP BY id)
         SELECT nm.id AS id, nm.name AS name
         FROM nm JOIN cc ON nm.id = cc.id
         WHERE cc.lab = nm.id
         ORDER BY id""")),

    Declared("q55_fuzzy_link", (s, dir) => {
      // record linkage ACROSS catalogs: the part names vs a second
      // catalog whose keys lost their two leading characters
      // (truncation/OCR drift) — every (left, right) pair within
      // levenshtein 2, via the asymmetric PassJoin plan (left = probe
      // segments, right = candidate windows; pigeonhole on the LEFT
      // segmentation covers every pair — see FuzzyJoin.linkPairs).
      // Each side collapses to distinct strings pre-join; equal
      // strings across tables match at distance 0. DuckDB replays the
      // quadratic cross-table definition.
      val l = t(s, dir, "part")
        .groupBy(lower(col("p_name")).as("name"))
        .agg(min(col("p_partkey")).as("id"))
      val r = t(s, dir, "part")
        .groupBy(expr("substring(lower(p_name), 3)").as("name"))
        .agg((min(col("p_partkey")) + 100000L).as("id"))
      graft.operators.FuzzyJoin.linkPairs(
          l, "id", "name", r, "id", "name", maxDistance = 2)
        .orderBy(col("id_l").asc, col("id_r").asc)
    },
      Some("""WITH l AS (
           SELECT lower(p_name) AS name, min(p_partkey) AS id
           FROM part GROUP BY 1),
         r AS (
           SELECT substring(lower(p_name), 3) AS name,
             min(p_partkey) + 100000 AS id
           FROM part GROUP BY 1)
         SELECT l.id AS id_l, r.id AS id_r,
           CAST(levenshtein(l.name, r.name) AS INTEGER) AS distance
         FROM l JOIN r ON levenshtein(l.name, r.name) <= 2
         ORDER BY id_l, id_r""")),

    Declared("q65_merge_intervals", (s, dir) => {
      // gaps-and-islands coverage: per-host validity intervals fused
      // into maximal covered islands (overlap OR touch merges) — the
      // "when was this actually covered" primitive. Interval lengths
      // cycle 0..12 against a stride of 7 within each group, so some
      // chains fuse and some isolate — a non-trivial island
      // structure the oracle replays with the classic two-window
      // gaps-and-islands SQL. Pure integer arithmetic throughout.
      val o = t(s, dir, "orders")
      val iv = o.select((col("o_orderkey") % 7).as("g"),
        col("o_orderkey").as("lo"),
        (col("o_orderkey") + (col("o_orderkey") % 13)).as("hi"))
      graft.operators.RangeJoin.mergeIntervals(iv, Seq("g"), "lo", "hi")
        .orderBy(col("g").asc, col("island_lo").asc)
    },
      // the classic two-window gaps-and-islands replay
      Some("""WITH iv AS (
           SELECT o_orderkey % 7 AS g, o_orderkey AS lo,
             o_orderkey + (o_orderkey % 13) AS hi
           FROM orders),
         m AS (
           SELECT *, max(hi) OVER (PARTITION BY g ORDER BY lo, hi
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_hi
           FROM iv),
         s AS (
           SELECT *, CASE WHEN prev_hi IS NULL OR lo > prev_hi
                          THEN 1 ELSE 0 END AS nw
           FROM m),
         x AS (
           SELECT *, sum(nw) OVER (PARTITION BY g ORDER BY lo, hi
             ROWS UNBOUNDED PRECEDING) AS isl
           FROM s)
         SELECT g, min(lo) AS island_lo, max(hi) AS island_hi,
           count(*) AS n_intervals
         FROM x GROUP BY g, isl
         ORDER BY g, island_lo""")),

    Declared("q66_tpch_q10", (s, dir) => {
      // TPC-H Q10 (returned-item revenue by customer over one
      // quarter), adapted to the fixture's columns and 1995–2001 date
      // range. The nation dimension broadcasts; revenue sums are
      // CENTS-QUANTIZED (exact integer sum — no float summation-order
      // dependence, the q63 discipline) then scaled back; the LIMIT
      // rides a total order (revenue desc, custkey asc).
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .withColumn("rev_c", revenueCents)
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1995-07-01")) &&
          col("o_orderdate") < to_timestamp(lit("1995-10-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg((sum(col("rev_c")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
           $revenueSql
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1995-07-01'
           AND o_orderdate < TIMESTAMP '1995-10-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    Declared("q67_tpch_q7", (s, dir) => {
      // TPC-H Q7 (bilateral shipping volume between two nations by
      // year): the two nation dimensions broadcast PRE-FILTERED to
      // the pair, so the join fan-in shrinks scan-side before the
      // cross-pair predicate; revenue cents-quantized as in q66.
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") <= to_timestamp(lit("1996-12-31")))
        .withColumn("vol_c", revenueCents)
        .withColumn("l_year", year(col("l_shipdate")))
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((sum(col("vol_c")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("supp_nation").asc, col("cust_nation").asc,
          col("l_year").asc)
    },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           $revenueSql
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name IN ('NATION_1', 'NATION_2')
           AND n2.n_name IN ('NATION_1', 'NATION_2')
           AND n1.n_name <> n2.n_name
           AND l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate <= TIMESTAMP '1996-12-31'
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""")),

    Declared("q64_triangles", (s, dir) => {
      // per-node triangle counts on the cur14 citation graph — the
      // local-clustering companion to PageRank's global authority
      // (organic communities close triangles; link farms don't).
      // Degree-oriented enumeration (Cohen / Suri–Vassilvitskii):
      // each triangle is ONE wedge at its lowest-(deg,id) corner plus
      // one closing equi-join, so wedge fan-out is bounded by the
      // oriented out-degree ≤ O(√m) — a degree-10⁸ hub emits zero
      // wedges. Pure integer counting; the oracle replays the
      // quadratic id-ordered definition, which must enumerate the
      // identical triangle set.
      graft.operators.Graph.triangleCounts(citationEdges(s, dir), "src", "dst")
        .orderBy(col("id").asc)
    },
      // the quadratic id-ordered triangle definition IS the oracle's
      // job; the engine's degree-oriented plan must enumerate the
      // identical set
      Some("""WITH raw AS (
           SELECT o_orderkey % 1000 AS src, o_custkey % 1000 AS dst
           FROM orders),
         e AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM raw WHERE src <> dst),
         tr AS (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM e e1
           JOIN e e2 ON e2.u = e1.v
           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         n AS (SELECT u AS id FROM e UNION SELECT v FROM e),
         cnt AS (
           SELECT id, count(*) AS t FROM (
             SELECT a AS id FROM tr
             UNION ALL SELECT b FROM tr
             UNION ALL SELECT c FROM tr)
           GROUP BY 1)
         SELECT n.id, coalesce(cnt.t, 0) AS triangles
         FROM n LEFT JOIN cnt USING (id)
         ORDER BY n.id""")),

    Declared("q63_compact", (s, dir) => {
      // small-file compaction gate: events → 16-files-per-partition
      // mess → per-directory byte-targeted rewrite (the lakehouse
      // OPTIMIZE pass), then aggregated FROM THE COMPACTED COPY
      // against the original-table oracle — content must survive both
      // rewrites exactly. LayoutSpec pins the file-count mechanics
      // (per-directory counts incl. the skewed case, identity-routed
      // exchange); cents-quantized sum keeps the replay exact.
      s.read.parquet(ensureCompactedWritten(s, dir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100.0 + 0.5).cast("long")).cast("double")
            / 100.0).as("value_sum"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type").asc)
    },
      // the compacted copy must agree with the ORIGINAL table on every
      // aggregate — the round-trip-exactness claim of the compaction
      Some("""SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS value_sum,
           min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY 1 ORDER BY 1""")),

    Declared("q61_rolling", (s, dir) => {
      // trailing-window feature engineering: every event carries its
      // user's LAST-HOUR count/sum/mean/min/max as of that instant —
      // the slider/rollapply step between raw events and any model
      // consuming trailing features. RANGE frame (same-second peers
      // always share a frame), cents-quantized BIGINT rolling sums,
      // sum/mean produced by one double division each — bit-replayable.
      graft.operators.Roll.timeStats(eventSeconds(s, dir, 20), Seq("user_id"), "tsec", "value",
          windowSeconds = 3600L)
        .orderBy(col("user_id").asc, col("tsec").asc, col("value").asc)
    },
      // trailing-hour RANGE frame per user: cents-quantized BIGINT
      // rolling sum (order-free exact), count/min/max exact, sum/mean
      // via one double division each — the Roll.timeStats contract
      Some("""WITH e AS (
           SELECT user_id, (epoch_ns(ts) // 1000000) // 1000 AS tsec, value,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc
           FROM events
           WHERE user_id < 20 AND ts IS NOT NULL AND value IS NOT NULL),
         r AS (
           SELECT user_id, tsec, value,
             count(*) OVER w AS roll_n,
             sum(vc) OVER w AS sc,
             min(value) OVER w AS roll_min,
             max(value) OVER w AS roll_max
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY tsec
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW))
         SELECT user_id, tsec, value, roll_n,
           CAST(sc AS DOUBLE) / 100.0 AS roll_sum,
           CAST(sc AS DOUBLE) / CAST(roll_n * 100 AS DOUBLE) AS roll_mean,
           roll_min, roll_max
         FROM r ORDER BY user_id, tsec, value""")),

    Declared("q59_snapshot_diff", (s, dir) => {
      // the inverse of q56: recover the minimal CDC batch between two
      // snapshots — upserts for repriced and fresh keys, tombstones
      // for vanished ones, NOTHING for the untouched 70% (a
      // mostly-unchanged snapshot ships a diff proportional to the
      // change, not the table). merge(base, diff(base, next)) == next
      // is the SnapshotSpec round-trip law.
      val base = ordersSnapshot(s, dir)
      graft.operators.Snapshot.diff(base, editedSnapshot(base), keyCols = Seq("o_orderkey"))
        .orderBy(col("o_orderkey").asc, col("op").asc)
    },
      // upserts = next rows new-or-changed vs base (null-safe per-column
      // compare), deletes = vanished base keys; the untouched majority
      // emits nothing
      Some(s"""WITH base AS (
           $ordersSnapshotSql),
         nxt AS (
           $editedSnapshotSql)
         SELECT n.o_orderkey, n.o_custkey, n.o_totalprice, n.o_orderstatus,
           'upsert' AS op
         FROM nxt n LEFT JOIN base b ON n.o_orderkey = b.o_orderkey
         WHERE b.o_orderkey IS NULL
            OR NOT (n.o_custkey IS NOT DISTINCT FROM b.o_custkey
                AND n.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                AND n.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus)
         UNION ALL
         SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, b.o_orderstatus,
           'delete' AS op
         FROM base b LEFT JOIN nxt n ON b.o_orderkey = n.o_orderkey
         WHERE n.o_orderkey IS NULL
         ORDER BY o_orderkey, op""")),

    Declared("q58_resample", (s, dir) => {
      // time-grid resampling with forward fill: each user's irregular
      // event series projected onto a 15-minute grid, latest value
      // carried forward — the regularization step between raw event
      // tables and anything assuming aligned periods (drift gates,
      // CUSUM charts, feature windows). Bucket floor, latest-per-
      // bucket tie-break, and the per-key fill window all replay
      // exactly in the oracle.
      graft.operators.Resample.timeGrid(eventSeconds(s, dir, 5), Seq("user_id"), "tsec",
          "value", stepSeconds = 900L)
        .orderBy(col("user_id").asc, col("grid_ts").asc)
    },
      // latest-per-bucket via row_number (tsec DESC, value DESC) — the
      // deterministic twin of the engine's max(struct(ts, value));
      // forward fill via last_value IGNORE NULLS over the grid
      Some("""WITH e AS (
           SELECT user_id, (epoch_ns(ts) // 1000000) // 1000 AS tsec, value
           FROM events WHERE user_id < 5 AND value IS NOT NULL),
         eb AS (
           SELECT user_id, tsec - ((tsec % 900) + 900) % 900 AS b,
             tsec, value
           FROM e),
         o AS (
           SELECT user_id, b, value FROM (
             SELECT user_id, b, value,
               row_number() OVER (PARTITION BY user_id, b
                 ORDER BY tsec DESC, value DESC) AS rn
             FROM eb)
           WHERE rn = 1),
         g AS (
           SELECT user_id, unnest(generate_series(lo, hi, 900)) AS gts
           FROM (SELECT user_id, min(b) AS lo, max(b) AS hi
                 FROM o GROUP BY 1)),
         f AS (
           SELECT g.user_id, g.gts, o.value AS vraw
           FROM g LEFT JOIN o ON o.user_id = g.user_id AND o.b = g.gts)
         SELECT user_id, gts AS grid_ts,
           last_value(vraw IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY gts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           vraw IS NOT NULL AS observed
         FROM f ORDER BY user_id, grid_ts""")),

    Declared("q57_interval_join", (s, dir) => {
      // interval×interval OVERLAP join (concurrent validity windows):
      // bucketed equi-join with exactly-once emission from the cell
      // containing max(lo_l, lo_r) — no distinct pass, no BNL or
      // cartesian (plan spec-asserted). Windows: left [100k, 100k+149],
      // right [100k+120, 100k+260] — each left window overlaps its own
      // and the two preceding right windows.
      val o = t(s, dir, "orders")
      val l = o.select(col("o_orderkey").as("l_id"),
        (col("o_orderkey") * 100L).as("l_lo"),
        (col("o_orderkey") * 100L + 149L).as("l_hi"))
      val r = o.select(col("o_orderkey").as("r_id"),
        (col("o_orderkey") * 100L + 120L).as("r_lo"),
        (col("o_orderkey") * 100L + 260L).as("r_hi"))
      graft.operators.RangeJoin.intervalOverlap(l, r, "l_lo", "l_hi",
          "r_lo", "r_hi", bucketWidth = 100.0)
        .select("l_id", "l_lo", "l_hi", "r_id", "r_lo", "r_hi")
        .orderBy(col("l_id").asc, col("r_id").asc)
    },
      // the quadratic definition IS the oracle's job (DuckDB plans it
      // as an IEJoin); the engine's bucketed exactly-once plan must
      // reproduce it row-for-row
      Some("""WITH l AS (
           SELECT o_orderkey AS l_id, o_orderkey * 100 AS l_lo,
             o_orderkey * 100 + 149 AS l_hi FROM orders),
         r AS (
           SELECT o_orderkey AS r_id, o_orderkey * 100 + 120 AS r_lo,
             o_orderkey * 100 + 260 AS r_hi FROM orders)
         SELECT l_id, l_lo, l_hi, r_id, r_lo, r_hi
         FROM l, r
         WHERE l_lo <= r_hi AND r_lo <= l_hi
         ORDER BY l_id, r_id""")),

    Declared("q56_merge_snapshot", (s, dir) => {
      // incremental snapshot maintenance (the crawl-refresh merge):
      // base = orders snapshot; batch tombstones every %10==0 key,
      // re-prices every %10==5 key (+1000), inserts fresh keys
      // (%10==3, shifted +100000000). ONE key-shuffle: left-anti join
      // against the changed-key set + union of upserts; a typical
      // small batch broadcasts (AQE), a full-size one degrades to one
      // sort-merge join — never more.
      val base = ordersSnapshot(s, dir)
      val (deleted, repriced, inserted) = snapshotEdit(base)
      graft.operators.Snapshot.merge(base,
          deleted.withColumn("op", lit("delete"))
            .unionByName(repriced.unionByName(inserted).withColumn("op", lit("upsert"))),
          keyCols = Seq("o_orderkey"))
        .orderBy(col("o_orderkey").asc)
    },
      Some(s"""WITH nxt AS (
           $editedSnapshotSql)
         SELECT * FROM nxt ORDER BY o_orderkey"""))
  )
}
