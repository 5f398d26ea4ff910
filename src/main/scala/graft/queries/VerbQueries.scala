package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftFrame
import graft.api.GraftFrame.{asc, desc}
import graft.SparkEntry.Declared
import Fixtures._

/** The dplyr/tidyr verb surface on GraftFrame: SURVEY §2.1 (filter
  * through distinct) and §2.2's verb rows (semi/anti join, slice_max,
  * pivot_longer, count, separate/unite, grouped mutate, fill, nest,
  * complete, rows_*, nest_join). */
private[graft] object VerbQueries {

  /** Shared by q04_arrange and q37_arrange_bygroup. */
  private val arrangeOracle =
    """SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber
         FROM lineitem
         ORDER BY l_returnflag ASC, l_quantity DESC, l_orderkey, l_linenumber"""

  /** The top 3 orders by price per market segment, `top` taking them
    * from the orders ⋈ customers join grouped by segment (q30 and q34:
    * two physical paths, one result). */
  private def top3PerSegment(s: SparkSession, dir: String)(
      top: GraftFrame => GraftFrame): DataFrame =
    top(g(s, dir, "orders")
        .join(g(s, dir, "customer"), Seq("o_custkey" -> "c_custkey"), "inner")
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .groupBy("c_mktsegment"))
      .arrange(asc("c_mktsegment"), desc("o_totalprice"), asc("o_orderkey"))
      .df

  /** The oracle of [[top3PerSegment]]. */
  private val sliceMaxOracle =
    """SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders JOIN customer ON o_custkey = c_custkey)
         WHERE rn <= 3
         ORDER BY c_mktsegment, o_totalprice DESC, o_orderkey"""

  val declared: Seq[Declared] = Seq(

    Declared("q01_filter", (s, dir) =>
      g(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30, col("l_discount") <= 0.02,
          col("l_linenumber") =!= 3, col("l_tax") > col("l_discount"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
        // sort by every output column so the order is total up to
        // identical rows (which hash the same in any order).
        .arrange(asc("l_orderkey"), asc("l_linenumber"), asc("l_quantity"),
          asc("l_discount"), asc("l_tax"))
        .df,
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
         FROM lineitem
         WHERE l_quantity >= 30 AND l_discount <= 0.02 AND l_linenumber <> 3
           AND l_tax > l_discount
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax""")),

    Declared("q02_select", (s, dir) =>
      g(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_custkey")
        .arrange(asc("o_orderkey"))
        .df,
      Some("SELECT o_orderkey, o_totalprice, o_custkey FROM orders ORDER BY o_orderkey")),

    Declared("q03_mutate", (s, dir) =>
      g(s, dir, "lineitem")
        .mutate(
          "revenue" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          "charged" -> col("revenue") * (lit(1.0) + col("l_tax")),
          "qty_sq" -> col("l_quantity") * col("l_quantity"))
        .select("l_orderkey", "l_linenumber", "revenue", "charged", "qty_sq")
        .arrange(asc("l_orderkey"), asc("l_linenumber"), asc("revenue"),
          asc("charged"), asc("qty_sq"))
        .df,
      Some("""SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS revenue,
           (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS charged,
           l_quantity * l_quantity AS qty_sq
         FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, charged, qty_sq""")),

    Declared("q04_arrange", (s, dir) =>
      g(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
        .arrange(asc("l_returnflag"), desc("l_quantity"),
          asc("l_orderkey"), asc("l_linenumber"))
        .df,
      Some(arrangeOracle)),

    Declared("q37_arrange_bygroup", (s, dir) =>
      // arrange(.by_group = TRUE): group cols prepend to the sort spec
      // (reference R/arrange.R). Unique trailing keys make the total
      // order deterministic for the oracle hash.
      g(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
        .groupBy("l_returnflag")
        .arrangeByGroup(desc("l_quantity"), asc("l_orderkey"),
          asc("l_linenumber"))
        .df,
      Some(arrangeOracle)),

    Declared("q05_groupby_agg", (s, dir) =>
      g(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .summarise(
          "sum_qty" -> sum(col("l_quantity")),
          "n" -> count(lit(1)),
          "avg_price" -> round(avg(col("l_extendedprice")), 4),
          "min_disc" -> min(col("l_discount")),
          "max_disc" -> max(col("l_discount")))
        .arrange(asc("l_returnflag"), asc("l_linestatus"))
        .df,
      Some("""SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(*) AS n,
           round(avg(l_extendedprice), 4) AS avg_price,
           min(l_discount) AS min_disc,
           max(l_discount) AS max_disc
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    Declared("q06_summarise_stats", (s, dir) =>
      g(s, dir, "customer")
        .groupBy("c_mktsegment")
        .summarise(
          "n" -> count(lit(1)),
          "mean_bal" -> round(avg(col("c_acctbal")), 4),
          "sd_bal" -> round(stddev_samp(col("c_acctbal")), 2),
          "var_bal" -> round(var_samp(col("c_acctbal")), 0),
          "min_bal" -> min(col("c_acctbal")),
          "max_bal" -> max(col("c_acctbal")))
        .arrange(asc("c_mktsegment"))
        .df,
      Some("""SELECT c_mktsegment,
           count(*) AS n,
           round(avg(c_acctbal), 4) AS mean_bal,
           round(stddev_samp(c_acctbal), 2) AS sd_bal,
           round(var_samp(c_acctbal), 0) AS var_bal,
           min(c_acctbal) AS min_bal,
           max(c_acctbal) AS max_bal
         FROM customer GROUP BY 1 ORDER BY 1""")),

    Declared("q07_inner_join", (s, dir) =>
      g(s, dir, "orders")
        .join(g(s, dir, "customer"), Seq("o_custkey" -> "c_custkey"), "inner")
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")
        .arrange(asc("o_orderkey"))
        .df,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""")),

    Declared("q08_left_join", (s, dir) =>
      g(s, dir, "lineitem")
        .join(g(s, dir, "part").filter(col("p_size") > 25),
          Seq("l_partkey" -> "p_partkey"), "left")
        .select("l_orderkey", "l_linenumber", "l_partkey", "p_name", "p_size")
        .arrange(asc("l_orderkey"), asc("l_linenumber"), asc("l_partkey"))
        .df,
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, p_name, p_size
         FROM lineitem LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p
           ON l_partkey = p_partkey
         ORDER BY l_orderkey, l_linenumber, l_partkey""")),

    Declared("q09_right_join", (s, dir) =>
      g(s, dir, "customer")
        .join(g(s, dir, "nation"), Seq("c_nationkey" -> "n_nationkey"), "right")
        .select("c_nationkey", "c_name", "n_name")
        .arrange(asc("n_name"), asc("c_name"))
        .df,
      Some("""SELECT c_nationkey, c_name, n_name
         FROM (SELECT n_nationkey AS c_nationkey, n_name FROM nation) n
         LEFT JOIN customer USING (c_nationkey)
         ORDER BY n_name ASC, c_name ASC NULLS LAST""")),

    Declared("q10_full_join", (s, dir) => {
      val demand = g(s, dir, "lineitem")
        .groupBy("l_partkey")
        .summarise("demand" -> sum(col("l_quantity")))
        .filter(col("demand") > 100)
      val smallParts = g(s, dir, "part").filter(col("p_size") <= 10)
        .select("p_partkey", "p_name")
      demand.join(smallParts, Seq("l_partkey" -> "p_partkey"), "full")
        .arrange(asc("l_partkey"))
        .df
    },
      Some("""WITH demand AS (
           SELECT l_partkey, sum(l_quantity) AS demand
           FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 100),
         sp AS (SELECT p_partkey, p_name FROM part WHERE p_size <= 10)
         SELECT coalesce(l_partkey, p_partkey) AS l_partkey, demand, p_name
         FROM demand FULL JOIN sp ON l_partkey = p_partkey
         ORDER BY 1 ASC NULLS LAST""")),

    Declared("q11_bind_rows", (s, dir) => {
      val f = g(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val o = g(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_totalprice")
      f.bindRows(o).arrange(asc("o_orderkey")).df
    },
      Some("""SELECT o_orderkey, o_totalprice, o_orderstatus
         FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, o_totalprice, NULL
         FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_orderkey""")),

    Declared("q12_bind_cols", (s, dir) => {
      val a = g(s, dir, "nation").arrange(asc("n_nationkey"))
        .select("n_nationkey", "n_name")
      val b = g(s, dir, "nation").arrange(desc("n_nationkey"))
        .selectExpr2("rk" -> col("n_regionkey"))
      a.bindCols(b).arrange(asc("n_nationkey")).df
    },
      Some("""SELECT a.n_nationkey, a.n_name, b.rk
         FROM (SELECT n_nationkey, n_name,
                 row_number() OVER (ORDER BY n_nationkey ASC) AS rn FROM nation) a
         JOIN (SELECT n_regionkey AS rk,
                 row_number() OVER (ORDER BY n_nationkey DESC) AS rn FROM nation) b
           USING (rn)
         ORDER BY a.n_nationkey""")),

    Declared("q13_head", (s, dir) =>
      g(s, dir, "orders")
        .arrange(desc("o_totalprice"), asc("o_orderkey"))
        .headN(10)
        .select("o_orderkey", "o_totalprice")
        .df,
      Some("""SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),

    Declared("q14_distinct", (s, dir) =>
      g(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct_()
        .arrange(asc("l_returnflag"), asc("l_linestatus"))
        .df,
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2""")),

    Declared("q19_semi_anti", (s, dir) => {
      val bigOrders = g(s, dir, "orders").filter(col("o_totalprice") > 3000.0)
      val cust = g(s, dir, "customer")
      val has = cust.semiJoin(bigOrders.selectExpr2("c_custkey" -> col("o_custkey")), Seq("c_custkey"))
        .mutate("tag" -> lit("has"))
      val none = cust.antiJoin(bigOrders.selectExpr2("c_custkey" -> col("o_custkey")), Seq("c_custkey"))
        .mutate("tag" -> lit("none"))
      has.bindRows(none).select("c_custkey", "c_name", "tag")
        .arrange(asc("c_custkey")).df
    },
      Some("""SELECT c_custkey, c_name, 'has' AS tag FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 3000.0)
         UNION ALL
         SELECT c_custkey, c_name, 'none' AS tag FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 3000.0)
         ORDER BY c_custkey""")),

    Declared("q39_nest_unnest", (s, dir) =>
      // tidyr nest → unnest round trip: grouped rows collapse to one
      // array-of-struct row per group and explode back losslessly —
      // the oracle is simply the original projection
      g(s, dir, "customer")
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .groupBy("c_mktsegment")
        .nest("data", Seq("c_custkey", "c_acctbal"))
        .unnest("data")
        .arrange(asc("c_mktsegment"), asc("c_custkey"))
        .df,
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal
         FROM customer ORDER BY c_mktsegment, c_custkey""")),

    Declared("q40_complete", (s, dir) =>
      // tidyr complete: the (returnflag × linestatus) grid over
      // grouped counts — combinations absent from the data appear
      // with n = 0
      GraftFrame(
        g(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .summarise("n" -> count(lit(1))).df)
        .complete(Seq("l_returnflag", "l_linestatus"),
          fill = Map("n" -> lit(0L)))
        .arrange(asc("l_returnflag"), asc("l_linestatus"))
        .df,
      Some("""WITH counts AS (
           SELECT l_returnflag, l_linestatus, count(*) AS n
           FROM lineitem GROUP BY 1, 2),
         grid AS (
           SELECT f.l_returnflag, s.l_linestatus
           FROM (SELECT DISTINCT l_returnflag FROM lineitem) f,
                (SELECT DISTINCT l_linestatus FROM lineitem) s)
         SELECT g.l_returnflag, g.l_linestatus,
           coalesce(c.n, 0) AS n
         FROM grid g LEFT JOIN counts c USING (l_returnflag, l_linestatus)
         ORDER BY l_returnflag, l_linestatus""")),

    Declared("q42_complete_grouped", (s, dir) =>
      // tidyr GROUPED complete: with the frame grouped by returnflag,
      // the (linestatus × shipmode) grid is built WITHIN each group
      // from that group's own observed values — q40's ungrouped twin
      // builds one global grid
      GraftFrame(t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            month(col("l_shipdate")).as("ship_month")))
        .groupBy("l_returnflag", "l_linestatus", "ship_month")
        .summarise("n" -> count(lit(1)))
        .groupBy("l_returnflag")
        .complete(Seq("l_linestatus", "ship_month"),
          fill = Map("n" -> lit(0L)))
        .arrange(asc("l_returnflag"), asc("l_linestatus"), asc("ship_month"))
        .df,
      Some("""WITH base AS (
           SELECT l_returnflag, l_linestatus,
             CAST(month(l_shipdate) AS INTEGER) AS ship_month
           FROM lineitem),
         counts AS (
           SELECT l_returnflag, l_linestatus, ship_month, count(*) AS n
           FROM base GROUP BY 1, 2, 3),
         grid AS (
           SELECT s.l_returnflag, s.l_linestatus, m.ship_month
           FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM base) s
           JOIN (SELECT DISTINCT l_returnflag, ship_month FROM base) m
             USING (l_returnflag))
         SELECT g.l_returnflag, g.l_linestatus, g.ship_month,
           coalesce(c.n, 0) AS n
         FROM grid g
         LEFT JOIN counts c USING (l_returnflag, l_linestatus, ship_month)
         ORDER BY l_returnflag, l_linestatus, ship_month""")),

    Declared("q30_slice_max", (s, dir) =>
      // top-3 orders per market segment by total price — grouped
      // slice_max (one shuffle on the group key, windowed rank)
      top3PerSegment(s, dir)(_.sliceMax(col("o_totalprice"), 3, col("o_orderkey"))),
      Some(sliceMaxOracle)),

    Declared("q35_grouped_mutate", (s, dir) =>
      // dplyr grouped mutate: per-segment totals joined back to rows;
      // one shuffle on the group key, aggregates share the window
      g(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .mutateGrouped(
          "seg_total" -> round(sum(col("c_acctbal")), 2),
          "seg_n" -> count(lit(1)))
        .ungroup
        .mutate("bal_share" -> col("c_acctbal") / col("seg_total"))
        .arrange(asc("c_custkey"))
        .df,
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
           round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment), 2) AS seg_total,
           count(*) OVER (PARTITION BY c_mktsegment) AS seg_n,
           c_acctbal / round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment), 2) AS bal_share
         FROM customer ORDER BY c_custkey""")),

    Declared("q36_fill", (s, dir) =>
      // tidyr fill(.direction="down"): clicks have no value — carry the
      // last non-click value forward per user in event-time order
      GraftFrame(t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            when(col("event_type") === "click", lit(null))
              .otherwise(col("value")).as("v")))
        .groupBy("user_id")
        .fillDown(Seq(col("ts"), col("event_id")), "v")
        .select("user_id", "event_id", "v")
        .arrange(asc("event_id"), asc("user_id"), asc("v"))
        .df,
      Some("""SELECT user_id, event_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
         FROM (SELECT user_id, event_id, ts,
                 CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
               FROM events)
         ORDER BY event_id, user_id, v""")),

    Declared("q50_global_fill", (s, dir) =>
      // tidyr fill with NO grouping — the global carry-forward path:
      // range-partition by the order key, carry forward within each
      // partition, then stitch partition boundaries with a broadcast
      // of per-partition last-non-null carries (one range exchange +
      // one partition-count-sized broadcast; a single global Window
      // would serialize the corpus through ONE task at 100 TB). q36
      // gates the grouped branch; this gates the boundary-carry logic
      // against the same IGNORE NULLS window oracle, unpartitioned.
      GraftFrame(t(s, dir, "events")
          .select(col("event_id"), col("ts"),
            when(col("event_type") === "click", lit(null))
              .otherwise(col("value")).as("v")))
        .fillDown(Seq(col("ts"), col("event_id")), "v")
        .select("event_id", "v")
        .arrange(asc("event_id"), asc("v"))
        .df,
      Some("""SELECT event_id,
           last_value(v IGNORE NULLS) OVER (
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
         FROM (SELECT event_id, ts,
                 CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
               FROM events)
         ORDER BY event_id, v""")),

    Declared("q34_topn_agg", (s, dir) =>
      // same result contract as q30, different physical path: the
      // BoundedTopK partial aggregate shuffles ≤3 rows per (task,
      // segment) instead of window-sorting every joined row
      top3PerSegment(s, dir)(_.sliceMaxAgg(col("o_totalprice"), 3, col("o_orderkey"))),
      Some(sliceMaxOracle)),

    Declared("q31_pivot_longer", (s, dir) =>
      // tidyr pivot_longer: Catalyst Expand — one scan, zero shuffle,
      // rows × 3 output
      g(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount")
        .mutate(
          "l_quantity" -> col("l_quantity").cast("double"),
          "l_extendedprice" -> col("l_extendedprice").cast("double"),
          "l_discount" -> col("l_discount").cast("double"))
        .pivotLonger(Seq("l_quantity", "l_extendedprice", "l_discount"),
          namesTo = "metric", valuesTo = "value")
        .arrange(asc("l_orderkey"), asc("l_linenumber"), asc("metric"),
          asc("value"))
        .df,
      Some("""WITH longf AS (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             CAST(l_quantity AS DOUBLE) AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_extendedprice',
             CAST(l_extendedprice AS DOUBLE) FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount',
             CAST(l_discount AS DOUBLE) FROM lineitem)
         SELECT l_orderkey, l_linenumber, metric, value FROM longf
         ORDER BY l_orderkey, l_linenumber, metric, value""")),

    Declared("q32_count", (s, dir) =>
      g(s, dir, "events")
        .countBy(Seq("event_type"), sort = true)
        .df,
      Some("""SELECT event_type, count(*) AS n FROM events
         GROUP BY event_type ORDER BY n DESC, event_type""")),

    Declared("q33_separate_unite", (s, dir) =>
      g(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
        .separate("c_name", Seq("cust_label", "cust_num"), "#")
        .unite("seg_label", Seq("c_mktsegment", "cust_label"), "/")
        .arrange(asc("c_custkey"))
        .df,
      Some("""SELECT c_custkey,
           concat_ws('/', coalesce(c_mktsegment, 'NA'),
             coalesce(split_part(c_name, '#', 1), 'NA')) AS seg_label,
           split_part(c_name, '#', 2) AS cust_num
         FROM customer ORDER BY c_custkey""")),

    Declared("q62_nest_join", (s, dir) => {
      // dplyr nest_join: each order carries its lineitems as a nested
      // list-column (sorted structs, key dropped from them, unmatched
      // = EMPTY array). The declared projection reduces the array to
      // scalars — match count, first struct's line number, cents-exact
      // quantity total via functions.aggregate — so the oracle replays
      // as a left-join aggregate; the nesting structure itself is
      // spec-pinned (sorted order, empty-array unmatched, the
      // unnest∘nestJoin ≡ innerJoin law).
      val o = GraftFrame(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")))
      val li = GraftFrame(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_quantity")))
      val nested = o.nestJoin(li, Seq("o_orderkey"), "items")
      nested.df.select(col("o_orderkey"), col("o_custkey"),
          size(col("items")).cast("long").as("n_items"),
          when(size(col("items")) > 0,
            element_at(col("items"), 1).getField("l_linenumber"))
            .as("first_line"),
          (aggregate(col("items"), lit(0L), (acc, x) =>
            acc + floor(x.getField("l_quantity") * 100.0 + 0.5).cast("long"))
            .cast("double") / 100.0).as("qty_sum"))
        .orderBy(col("o_orderkey").asc)
    },
      // nest_join reduced to scalars = a left-join aggregate: count,
      // min line number (the sorted array's first struct), cents-exact
      // quantity sum; unmatched orders coalesce to 0 matches
      Some("""WITH li AS (
           SELECT l_orderkey, l_linenumber,
             CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qc
           FROM lineitem),
         a AS (
           SELECT l_orderkey, count(*) AS n_items,
             min(l_linenumber) AS first_line, sum(qc) AS sqc
           FROM li GROUP BY 1)
         SELECT o.o_orderkey, o.o_custkey,
           coalesce(a.n_items, 0) AS n_items,
           a.first_line AS first_line,
           CAST(coalesce(a.sqc, 0) AS DOUBLE) / 100.0 AS qty_sum
         FROM orders o LEFT JOIN a ON a.l_orderkey = o.o_orderkey
         ORDER BY o.o_orderkey""")),

    Declared("q60_rows_verbs", (s, dir) => {
      // the dplyr rows_* verb family over a keyed frame, composed:
      // PATCH fills planted-null statuses from a reference (fill-only
      // — existing values win), UPDATE reprices with a PARTIAL
      // payload (only o_totalprice travels), UPSERT appends fresh
      // keys with full payload, DELETE drops a tranche. Null-safe
      // keys throughout; the oracle replays each verb as its CASE /
      // UNION / filter definition in sequence.
      val base0 = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      val base = GraftFrame(base0.withColumn("o_orderstatus",
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus"))))
      val patch = GraftFrame(base0.filter(col("o_orderkey") % 14 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus")))
      val upd = GraftFrame(base0.filter(col("o_orderkey") % 10 === 5)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice")))
      val ups = GraftFrame(base0.filter(col("o_orderkey") % 10 === 3)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderstatus")))
      val del = GraftFrame(base0.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey")))
      base.rowsPatch(patch, Seq("o_orderkey"))
        .rowsUpdate(upd, Seq("o_orderkey"))
        .rowsUpsert(ups, Seq("o_orderkey"))
        .rowsDelete(del, Seq("o_orderkey"))
        .arrange(asc("o_orderkey"))
        .df
    },
      // each rows_* verb replayed in sequence: patch = fill-only CASE,
      // update = overwrite CASE from the partial payload, upsert = pure
      // insert here (fresh keys), delete = tranche filter (inserted
      // keys end in 3, so %10<>0 removes exactly the original tranche)
      Some("""WITH base0 AS (
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           FROM orders),
         base AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderstatus END AS o_orderstatus
           FROM base0),
         p1 AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_orderkey % 14 = 0 AND o_orderstatus IS NULL
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus
           FROM base),
         p2 AS (
           SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 5 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
           FROM p1),
         p3 AS (
           SELECT * FROM p2
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, o_totalprice,
             o_orderstatus
           FROM base0 WHERE o_orderkey % 10 = 3)
         SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
         FROM p3 WHERE o_orderkey % 10 <> 0
         ORDER BY o_orderkey"""))
  )
}
