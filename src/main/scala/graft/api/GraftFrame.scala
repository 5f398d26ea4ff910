package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fluent dplyr-verb layer over Spark DataFrames — the graft analogue of
  * cuplyr's `tbl_gpu` (reference: R/tbl-gpu.R).
  *
  * cuplyr captures dplyr verbs into a lazy AST (reference: R/ast.R),
  * optimizes it (reference: R/optimizer.R — projection pruning, mutate
  * fusion, dead-column pruning, filter pushdown/reorder/fusion) and
  * lowers to cuDF kernels (reference: R/lower.R, src/ops_*.cpp).
  * On Spark every one of those passes is a built-in Catalyst rule
  * (`ColumnPruning`, `CollapseProject`, `PushDownPredicates`,
  * `CombineFilters`), so `GraftFrame` stays a thin veneer: it only adds
  * the dplyr *semantics* Spark does not default to —
  *
  *   - `arrange`: ascending sorts place nulls LAST, descending sorts
  *     place nulls FIRST (reference: R/arrange.R "NA handling");
  *     Spark's defaults are the opposite for ascending.
  *   - `mutate`: sequential evaluation (later expressions may use
  *     columns defined earlier in the same call) and replace-in-place
  *     column positioning (reference: R/mutate.R).
  *   - joins: `na_matches = "na"` — null keys compare equal
  *     (reference: R/join.R line ~170), i.e. `<=>` not `=`.
  *   - `summarise`: result is ungrouped (`.groups = "drop"`,
  *     reference: R/summarise.R) and `n()`/`sd()`/`var()` map to
  *     count/stddev_samp/var_samp (R sample statistics).
  *
  * Everything stays a single Catalyst plan (DataFrame-in/DataFrame-out,
  * no RDD hops), so filter/projection pushdown reach the parquet scan
  * and whole-stage codegen spans the verb chain.
  */
final case class GraftFrame(df: DataFrame, groupCols: Seq[String] = Nil) {

  // ---- friendly error boundary ------------------------------------------

  /** The graft analogue of the reference's `wrap_gpu_call` (R/gpu.R;
    * tests/testthat/test-gpu-error-wrapper.R): a raw Catalyst
    * `AnalysisException` names plan fragments but not WHICH verb in a
    * long fluent chain was being built — the fact the user needs first.
    * Verbs run their body through this boundary; an analysis failure
    * rethrows as [[GraftVerbError]] carrying the verb name, the columns
    * the verb referenced, which of them are missing from the frame, and
    * the frame's available columns — with the original exception as the
    * cause (classic Spark analyzes each transformation eagerly, so the
    * catch fires at verb-call time, not at the distant action). */
  private def wrapVerb[A](verb: String, referenced: => Seq[String])(body: => A): A =
    try body catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw GraftVerbError(verb, referenced, df.columns.toSeq, e)
    }

  /** Column names an expression tree references — unresolved attributes
    * only, i.e. exactly the names analysis will try to bind. */
  private def refNames(cs: Seq[Column]): Seq[String] =
    cs.flatMap(c => org.apache.spark.sql.graftbridge.Bridge.expression(c).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }).distinct

  /** Name presence check that resolves the way Catalyst will: honoring
    * the session's `spark.sql.caseSensitive` (default false →
    * case-insensitive). The eager verb pre-checks (group_by, join keys)
    * must agree with analysis — a case-sensitive `contains` here would
    * reject `groupBy("ID")` on column `id` that every OTHER verb
    * happily resolves. */
  private def resolves(available: Seq[String], name: String): Boolean = {
    val cs = df.sparkSession.conf.get("spark.sql.caseSensitive", "false")
      .equalsIgnoreCase("true")
    if (cs) available.contains(name)
    else available.exists(_.equalsIgnoreCase(name))
  }

  // ---- construction / introspection -------------------------------------

  /** Column names — cuplyr `names()` (reference: R/utils.R). */
  def names: Seq[String] = df.columns.toSeq

  /** (rows, cols) — cuplyr `dim()`. Row count is an action. */
  def dims: (Long, Int) = (df.count(), df.columns.length)

  /** Schema — cuplyr `infer_schema()` (reference: R/ast.R). Free here:
    * Catalyst analysis resolves the schema without executing. */
  def schema: StructType = df.schema

  /** cuplyr `show_query()` — render the (optimized) plan. */
  def showQuery(): Unit = df.explain("formatted")

  /** cuplyr `group_vars()`. */
  def groupVars: Seq[String] = groupCols

  /** cuplyr `is_lazy()` — always true on Spark: every verb builds
    * plan, nothing executes before an action. cuplyr's eager mode
    * (execute each verb immediately) differs only in WHEN work
    * happens, never in results; on Spark per-verb eagerness would
    * just forfeit cross-verb optimization. */
  def isLazy: Boolean = true

  /** cuplyr `has_pending_ops()` — true when the plan holds unexecuted
    * verbs: anything beyond a bare or cashed-in relation. Matches the
    * reference, where ANY verb (even a select, or a filter the
    * optimizer would fold away entirely) is a pending AST node until
    * collect/compute — so this consults the ANALYZED plan, not the
    * optimized one: optimization can collapse a verb chain back to a
    * bare relation and would under-report. Analysis-only is also
    * cheaper than running the optimizer on every introspection call.
    *
    * A persisted frame (compute/asEager/collapse) reports NO pending
    * ops: its exact plan resolves to the cache, which is the Spark
    * meaning of the reference's "cashed in" state (`as_eager`
    * executed it; `collapse` made it an opaque barrier node). */
  def hasPendingOps: Boolean = {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) return false
    @annotation.tailrec
    def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      // catalog lookups wrap the relation; an alias is not a verb
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => strip(s.child)
      case other => other
    }
    strip(df.queryExecution.analyzed).children.nonEmpty
  }

  /** cuplyr `as_eager()` — "cash in" pending ops now: materialize the
    * current plan into the engine (persist + count), so later verbs
    * start from the computed result. */
  def asEager: GraftFrame = compute()

  /** cuplyr `as_lazy()` — identity: Spark frames are always lazy. */
  def asLazy: GraftFrame = this

  /** cuplyr `names<-`: rename all columns positionally. */
  def renameAll(newNames: Seq[String]): GraftFrame = {
    require(newNames.length == df.columns.length,
      s"names<- expects ${df.columns.length} names, got ${newNames.length}")
    copy(df = df.toDF(newNames: _*))
  }

  // ---- core verbs -------------------------------------------------------

  /** `filter(...)` — conditions AND-combined (reference: R/filter.R).
    * Conditions are arbitrary Column predicates; Catalyst pushes them
    * to the source scan (the reference implements this as an explicit
    * filter-pushdown AST pass).
    */
  def filter(conds: Column*): GraftFrame =
    if (conds.isEmpty) this
    else wrapVerb("filter", refNames(conds)) {
      copy(df = df.filter(conds.reduce(_ && _)))
    }

  /** `select(...)` — selection + reordering (reference: R/select.R).
    * Grouping columns survive only if still selected, matching cuplyr's
    * `intersect(groups, new_schema$names)`.
    */
  def select(cols: String*): GraftFrame =
    wrapVerb("select", cols) {
      GraftFrame(df.select(cols.map(col): _*), groupCols.intersect(cols))
    }

  /** `select` with rename: `(newName -> expr)` pairs, dplyr
    * `select(new = old)` form. */
  def selectExpr2(cols: (String, Column)*): GraftFrame =
    wrapVerb("select", refNames(cols.map(_._2))) {
      GraftFrame(df.select(cols.map { case (n, c) => c.as(n) }: _*),
        groupCols.intersect(cols.map(_._1)))
    }

  /** `mutate(...)` — sequential, replace-in-place (reference:
    * R/mutate.R). Later pairs can reference columns created by earlier
    * pairs, as in dplyr. Consecutive Projects collapse in Catalyst
    * (the reference's "mutate fusion" pass).
    */
  def mutate(pairs: (String, Column)*): GraftFrame =
    // wrapped per PAIR, not per call: the available-columns set in the
    // error must be the accumulated frame at the failing pair, so a
    // column created by an earlier pair ("a" -> ..., "b" -> col("a")+x)
    // is never misreported as "Missing from the frame" alongside the
    // real culprit
    copy(df = pairs.foldLeft(df) { case (d, (name, expr)) =>
      try d.withColumn(name, expr) catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw GraftVerbError("mutate", refNames(Seq(expr)), d.columns.toSeq, e)
      }
    })

  /** `transmute(...)` — mutate then keep only the new columns, PLUS
    * the grouping variables: dplyr's transmute always retains them
    * (dropping them would silently turn the next summarise global). */
  def transmute(pairs: (String, Column)*): GraftFrame = {
    val newNames = pairs.map(_._1)
    val keep = groupCols.filterNot(newNames.contains) ++ newNames
    copy(df = mutate(pairs: _*).df.select(keep.map(col): _*))
  }

  /** `arrange(...)` — dplyr NA placement: nulls last when ascending,
    * nulls first when descending (reference: R/arrange.R). Build sort
    * keys with [[GraftFrame.asc]] / [[GraftFrame.desc]]; bare strings
    * mean ascending.
    *
    * NOT stable on ties (Spark's distributed sort gives no stability
    * guarantee); the reference guarantees stability (R/arrange.R "ties
    * preserve their original relative order", cuDF stable sort in
    * src/ops_arrange.cpp). Use [[arrangeStable]] when that matters —
    * kept separate because the index tiebreak adds an 8-byte sort key
    * per row, a real cost on a 100 TB sort you shouldn't pay unless
    * tie order is load-bearing.
    */
  def arrange(sortKeys: Column*): GraftFrame =
    arrangeImpl(byGroup = false, stable = false, sortKeys)

  /** `arrange(...)` with the reference's stability guarantee: ties
    * preserve the frame's current row order (reference:
    * test-arrange.R "arrange() is stable"). Implemented as an
    * appended `monotonically_increasing_id` tiebreak — the id encodes
    * (partition index, offset), so "current order" means the order a
    * collect() would have returned before sorting; computed scan-side
    * in codegen, no extra job or shuffle beyond the sort itself. */
  def arrangeStable(sortKeys: Column*): GraftFrame =
    arrangeImpl(byGroup = false, stable = true, sortKeys)

  /** `arrange(..., .by_group = TRUE)` (reference: R/arrange.R): sort
    * within groups by prepending the group columns to the sort spec.
    * Matches the reference's overlap rule: a group column that also
    * appears as a user sort key keeps the USER's direction and is not
    * sorted twice. */
  def arrangeByGroup(sortKeys: Column*): GraftFrame =
    arrangeImpl(byGroup = true, stable = false, sortKeys)

  private def arrangeImpl(byGroup: Boolean, stable: Boolean,
                          sortKeys: Seq[Column]): GraftFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, Descending, Expression, SortOrder}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None // computed key: can never shadow a group column
    }
    def exprOf(c: Column): Expression =
      org.apache.spark.sql.graftbridge.Bridge.expression(c)
    def keyName(c: Column): Option[String] = exprOf(c) match {
      case SortOrder(child, _, _, _) => attrName(child)
      case e => attrName(e)
    }
    def isDesc(c: Column): Boolean = exprOf(c) match {
      case SortOrder(_, Descending, _, _) => true
      case _ => false
    }
    val keys: Seq[Column] =
      if (!byGroup || groupCols.isEmpty) sortKeys
      else {
        // reference R/arrange.R: group cols prepend in group order; a
        // group col named as a user key adopts that key's direction
        // and the duplicate user key is dropped
        val userNames = sortKeys.map(keyName)
        val groupKeys = groupCols.map { gName =>
          val i = userNames.indexOf(Some(gName))
          if (i >= 0 && isDesc(sortKeys(i))) GraftFrame.desc(gName)
          else GraftFrame.asc(gName)
        }
        val kept = sortKeys.zip(userNames).collect {
          case (k, n) if !n.exists(groupCols.contains) => k
        }
        groupKeys ++ kept
      }
    if (keys.isEmpty) this // reference: arrange() with no keys is identity
    else wrapVerb("arrange", refNames(keys)) {
      if (!stable) copy(df = df.orderBy(keys: _*))
      else {
        val idx = "__graft_stable_idx"
        copy(df = df.withColumn(idx, monotonically_increasing_id())
          .orderBy(keys :+ col(idx).asc: _*)
          .drop(idx))
      }
    }
  }

  def arrangeBy(cols: String*): GraftFrame = arrange(cols.map(GraftFrame.asc): _*)

  /** `group_by(...)` — accumulates grouping state like dplyr's
    * `group_by(.add = TRUE)` keeps prior groups (reference:
    * R/group-by.R). No execution happens; grouping only shapes the next
    * `summarise`.
    */
  def groupBy(cols: String*): GraftFrame = {
    // dplyr errors on an unknown grouping column at group_by() time —
    // without this, the typo would surface verbs later at summarise
    // with no hint of where it entered the chain
    val missing = cols.filterNot(resolves(df.columns.toSeq, _))
    if (missing.nonEmpty)
      throw GraftVerbError("group_by", cols, df.columns.toSeq,
        new org.apache.spark.sql.AnalysisException(
          errorClass = "UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
          messageParameters = Map("objectName" -> missing.head)))
    copy(groupCols = (groupCols ++ cols).distinct)
  }

  /** `ungroup()`. */
  def ungroup: GraftFrame = copy(groupCols = Nil)

  /** `summarise(...)` — named aggregations over current groups
    * (reference: R/summarise.R, src/ops_groupby.cpp). Result drops
    * grouping (`.groups = "drop"`). Spark plans this as partial
    * (map-side) + final aggregate: at 100 TB the shuffle carries one
    * row per (partition, group), not per input row.
    */
  def summarise(aggs: (String, Column)*): GraftFrame = {
    require(aggs.nonEmpty, "summarise() requires at least one aggregation expression.")
    wrapVerb("summarise", refNames(aggs.map(_._2)) ++ groupCols) {
      val named = aggs.map { case (n, c) => c.as(n) }
      val out =
        if (groupCols.isEmpty) df.agg(named.head, named.tail: _*)
        else df.groupBy(groupCols.map(col): _*).agg(named.head, named.tail: _*)
      GraftFrame(out)
    }
  }

  /** dplyr `slice_max(order_by, n)` — top-n rows per current group by
    * `orderBy` descending, ties broken by `tieBreak` ascending for
    * determinism. Grouped: one shuffle on the group keys, windowed
    * rank. Ungrouped: lowers to sort+limit, which Spark executes as
    * TakeOrderedAndProject (per-partition top-n then merge) — an empty
    * window partition spec would instead funnel EVERY row through one
    * task. */
  def sliceMax(orderBy: Column, n: Int, tieBreak: Column*): GraftFrame =
    sliceBy(orderBy.desc_nulls_last, n, tieBreak)

  /** dplyr `slice_min(order_by, n)`. */
  def sliceMin(orderBy: Column, n: Int, tieBreak: Column*): GraftFrame =
    sliceBy(orderBy.asc_nulls_last, n, tieBreak)

  /** Grouped top-n via the bounded partial aggregate
    * ([[graft.expressions.BoundedTopK]]) instead of a window rank.
    * Same result as [[sliceMax]], different shuffle contract: each map
    * task sends at most n rows PER GROUP into the exchange, where the
    * window form shuffles and sorts every input row — the scale path
    * for small n over very large groups. `orderBy`/`tieBreak` must be
    * numeric (exactly double-representable for exact ties, e.g. ids
    * < 2^53). */
  def sliceMaxAgg(orderBy: Column, n: Int, tieBreak: Column*): GraftFrame =
    sliceAgg(orderBy, descending = true, n, tieBreak)

  /** Bottom-n twin of [[sliceMaxAgg]]. */
  def sliceMinAgg(orderBy: Column, n: Int, tieBreak: Column*): GraftFrame =
    sliceAgg(orderBy, descending = false, n, tieBreak)

  /** Encode one ordering key as (class, value) double slots so the
    * bounded aggregate's plain lexicographic-ascending compare
    * reproduces the window twins' ordering exactly:
    *   - null → class 2 (strictly last, both directions — the
    *     *_nulls_last contract — and distinct from a real ±Infinity)
    *   - NaN  → class 1 ascending (after +Inf, Spark's NaN-greatest),
    *            class -1 descending (before +Inf: largest first)
    *   - else → class 0, value v (ascending) or -v (descending)
    */
  private def encodeKey(k: Column, desc: Boolean): Seq[Column] = {
    val kd = k.cast("double")
    val cls = when(kd.isNull, lit(2.0))
      .when(isnan(kd), lit(if (desc) -1.0 else 1.0))
      .otherwise(lit(0.0))
    val v = coalesce(nanvl(if (desc) negate(kd) else kd, lit(0.0)), lit(0.0))
    Seq(cls, v)
  }

  private def sliceAgg(orderBy: Column, descending: Boolean, n: Int,
                       tieBreak: Seq[Column]): GraftFrame = {
    require(groupCols.nonEmpty,
      "sliceMaxAgg/sliceMinAgg need group context; ungrouped top-n is sort+limit (sliceMax)")
    // encodeKey's cast("double") turns a non-castable key into null for
    // EVERY row (all rows tie as class 2) — the aggregate would then
    // silently keep arbitrary rows. Enforce the documented numeric
    // contract up front; one analysis-only projection, no job.
    (orderBy +: tieBreak).foreach { k =>
      val dt = df.select(k).schema.head.dataType
      val ok = dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.BooleanType ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType
      require(ok, s"sliceMaxAgg/sliceMinAgg: ordering key has type $dt — " +
        "keys must be numeric (or boolean/date/timestamp); use the window " +
        "twin sliceMax for arbitrary orderable types")
    }
    val payload = struct(df.columns.map(col): _*)
    val keys = encodeKey(orderBy, descending) ++
      tieBreak.flatMap(encodeKey(_, desc = false))
    val agged = df.groupBy(groupCols.map(col): _*)
      .agg(graft.expressions.GraftFunctions
        .graft_bounded_topk(payload, keys, n).as("__graft_topk"))
      .select(explode(col("__graft_topk")).as("__graft_row"))
      .select(col("__graft_row.*"))
    copy(df = agged) // keep group context, like sliceMax/sliceMin
  }

  private def sliceBy(primary: Column, n: Int, tieBreak: Seq[Column]): GraftFrame = {
    val order = primary +: tieBreak.map(_.asc_nulls_last)
    if (groupCols.isEmpty)
      copy(df = df.orderBy(order: _*).limit(n))
    else {
      val spec = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(order: _*)
      copy(df = df.withColumn("__graft_rank", row_number().over(spec))
        .filter(col("__graft_rank") <= n).drop("__graft_rank"))
    }
  }

  /** dplyr `rename(new = old)` — rename a subset, keep positions. */
  def rename(pairs: (String, String)*): GraftFrame = {
    val m = pairs.map { case (nw, old) => old -> nw }.toMap
    copy(df = df.toDF(df.columns.map(c => m.getOrElse(c, c)): _*),
      groupCols = groupCols.map(c => m.getOrElse(c, c)))
  }

  /** dplyr `relocate(cols, .before everything())` — move columns to
    * the front, preserving relative order of the rest. */
  def relocate(cols: String*): GraftFrame = {
    val rest = df.columns.filterNot(cols.contains)
    copy(df = df.select((cols ++ rest).map(col): _*))
  }

  /** dplyr grouped `mutate(...)` — aggregate expressions evaluated PER
    * GROUP and joined back to every row, dplyr's semantics for
    * `group_by(g) |> mutate(share = x / sum(x))`. Grouped: each pair's
    * aggregate nodes are wrapped in a window over the current groups —
    * one shuffle on the group keys regardless of how many pairs.
    * Ungrouped (dplyr: whole-frame aggregates): the aggregates are
    * computed ONCE in a scalar aggregate and broadcast-cross-joined
    * back — an empty window partition spec would instead funnel every
    * row through one task. */
  def mutateGrouped(pairs: (String, Column)*): GraftFrame = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Expression, RowFrame, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
    import org.apache.spark.sql.graftbridge.Bridge
    // dplyr allows aggregates anywhere inside a grouped-mutate
    // expression (`x / sum(x)`), so rewrite exactly the aggregate
    // NODES — `.over` on the composite would try to window the
    // arithmetic too and fail analysis. Column-built aggregates are
    // still UnresolvedFunction here (analysis hasn't run), so "is this
    // an aggregate" asks the function registry what the name resolves
    // to. transformUp everywhere: a top-down pass would re-visit the
    // node we just rewrote forever.
    val registry = Bridge.sessionState(df.sparkSession).functionRegistry
    def isAggregateName(name: String, args: Seq[Expression]): Boolean =
      try registry.lookupFunction(FunctionIdentifier(name), args)
        .isInstanceOf[AggregateFunction]
      catch { case _: Exception => false }
    def isAgg(e: Expression): Boolean = e match {
      case _: AggregateExpression => true
      case uf: UnresolvedFunction =>
        uf.nameParts.length == 1 && isAggregateName(uf.nameParts.head, uf.arguments)
      case _ => false
    }

    if (groupCols.isEmpty) {
      // pairs evaluate SEQUENTIALLY (each may reference columns the
      // previous pair defined, and its aggregates must see replaced
      // values), so each aggregate-bearing pair gets its own scalar
      // aggregate over the CURRENT frame + broadcast cross-join
      var tempId = 0
      val out = pairs.foldLeft(df) { case (d, (name, expr)) =>
        val aggCols = scala.collection.mutable.ArrayBuffer[Column]()
        val names = scala.collection.mutable.ArrayBuffer[String]()
        // explicit recursion, not transformUp: a subtree the USER
        // already windowed (`sum(x).over(...)`) must be left whole —
        // hoisting its inner aggregate into a scalar agg would move a
        // window function into an aggregate context and fail analysis
        def hoist(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : org.apache.spark.sql.catalyst.expressions.Expression = e match {
          case w: WindowExpression => w
          case a if isAgg(a) =>
            val nm = s"__graft_agg_$tempId"
            tempId += 1
            aggCols += Bridge.column(a).as(nm)
            names += nm
            UnresolvedAttribute(nm)
          case other => other.mapChildren(hoist)
        }
        val e2 = hoist(Bridge.expression(expr))
        if (aggCols.isEmpty) d.withColumn(name, expr)
        else {
          d.crossJoin(broadcast(d.agg(aggCols.head, aggCols.tail.toSeq: _*)))
            .withColumn(name, Bridge.column(e2))
            .drop(names.toSeq: _*)
        }
      }
      copy(df = out)
    } else {
      val spec = WindowSpecDefinition(
        groupCols.map(c => Bridge.expression(col(c))),
        Nil,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))
      copy(df = pairs.foldLeft(df) { case (d, (name, expr)) =>
        // explicit recursion: an aggregate the user already windowed
        // keeps its own spec — wrapping it again would nest window
        // expressions, which analysis rejects
        def wrap(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : org.apache.spark.sql.catalyst.expressions.Expression = e match {
          case w: WindowExpression => w
          case a if isAgg(a) => WindowExpression(a, spec)
          case other => other.mapChildren(wrap)
        }
        d.withColumn(name, Bridge.column(wrap(Bridge.expression(expr))))
      })
    }
  }

  /** tidyr `fill(cols, .direction = "down")` — replace nulls with the
    * most recent non-null value in `orderBy` order within the current
    * groups. Grouped: one shuffle + one sort; all filled columns share
    * the window. Ungrouped: an empty window partition spec would
    * funnel the entire dataset through ONE task (the hazard sliceMax
    * documents), so the ungrouped form is a scalable two-phase
    * carry-forward instead — range-partition by the sort key, fill
    * within each (globally ordered) partition, then propagate each
    * partition's last filled value forward via a tiny
    * one-row-per-partition boundary table broadcast back. Equal sort
    * keys land in one range partition, so tie behavior matches the
    * single-window form (arbitrary within ties, as there). */
  def fillDown(orderBy: Seq[Column], cols: String*): GraftFrame = {
    import org.apache.spark.sql.expressions.Window
    if (groupCols.nonEmpty) {
      val base = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(orderBy: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      copy(df = cols.foldLeft(df) { (d, c) =>
        d.withColumn(c, last(col(c), ignoreNulls = true).over(base))
      })
    } else {
      require(orderBy.nonEmpty, "fillDown: need at least one ordering column")
      val originalCols = df.columns.toSeq
      val ranged = df.repartitionByRange(orderBy: _*)
        .sortWithinPartitions(orderBy: _*)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__rid", monotonically_increasing_id())
      val w = Window.partitionBy("__pid").orderBy(col("__rid"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val filled = cols.foldLeft(ranged)((d, c) =>
        d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
      // carry-out per partition = the last NON-NULL value per column in
      // __rid order — computed from `ranged` (pre-fill), NOT `filled`:
      // carry-forward's last row per partition IS its last non-null,
      // so the values are identical, but aggregating the pre-window
      // branch means the expensive carry-forward window runs ONCE (the
      // output branch) instead of once per branch; the bounds branch
      // costs one partial max-aggregate over the ReuseExchange-shared
      // shuffle. One row per partition either way, so everything
      // downstream of this aggregate is sized by partition COUNT.
      val lastNonNull = cols.map(c => max(when(col(c).isNotNull,
        struct(col("__rid"), col(c)))).as(s"__s_$c"))
      val lastRow = ranged.groupBy("__pid")
        .agg(lastNonNull.head, lastNonNull.tail: _*)
      val bounds = cols.foldLeft(lastRow)((d, c) =>
        d.withColumn(c, col(s"__s_$c").getField(c)))
        .drop(cols.map(c => s"__s_$c"): _*)
      val wp = Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
      val carries = cols.foldLeft(bounds)((d, c) =>
          d.withColumn(c, last(col(c), ignoreNulls = true).over(wp)))
        .select(col("__pid") +: cols.map(c => col(c).as(s"__carry_$c")): _*)
      val out = cols.foldLeft(
          filled.join(broadcast(carries), Seq("__pid"), "left"))((d, c) =>
        d.withColumn(c, coalesce(col(c), col(s"__carry_$c"))))
      copy(df = out.select(originalCols.map(col): _*))
    }
  }

  /** dplyr/tidyr `drop_na(cols)` — drop rows with nulls in `cols` (all
    * columns when empty). */
  def dropNa(cols: String*): GraftFrame =
    copy(df = if (cols.isEmpty) df.na.drop() else df.na.drop(cols))

  /** tidyr `replace_na(value, cols)` — fills columns whose type matches
    * the value (Spark `na.fill` semantics). */
  def replaceNa(value: Any, cols: String*): GraftFrame = {
    val filled = value match {
      case d: Double => if (cols.isEmpty) df.na.fill(d) else df.na.fill(d, cols)
      case l: Long => if (cols.isEmpty) df.na.fill(l) else df.na.fill(l, cols)
      case i: Int => if (cols.isEmpty) df.na.fill(i.toLong) else df.na.fill(i.toLong, cols)
      case s: String => if (cols.isEmpty) df.na.fill(s) else df.na.fill(s, cols)
      case other => throw new IllegalArgumentException(
        s"replace_na: unsupported fill value type ${other.getClass.getName}")
    }
    copy(df = filled)
  }

  /** dplyr `count(...)` — group by `cols` (added to any current
    * groups, as dplyr does), tally, optionally sort descending by the
    * count. */
  def countBy(cols: Seq[String], sort: Boolean = false,
              name: String = "n"): GraftFrame = {
    val counted = groupBy(cols: _*).summarise(name -> count(lit(1)))
    if (sort)
      counted.arrange(col(name).desc_nulls_first +: cols.map(GraftFrame.asc): _*)
    else counted
  }

  /** dplyr `pull(col)` — collect a single column to the driver. */
  def pull(c: String): Array[Any] = df.select(c).collect().map(_.get(0))

  /** dplyr `slice_sample(n)` — n uniformly-sampled rows, deterministic
    * for a given seed; honors group context (n rows PER GROUP when
    * grouped, like dplyr). Ungrouped lowers to sort-by-rand + limit =
    * TakeOrderedAndProject (per-partition top-n, driver merge of
    * n×parts candidates — no global sort); grouped is one shuffle on
    * the group keys + windowed rank over rand. */
  def sliceSample(n: Int, seed: Long = 42L): GraftFrame =
    if (groupCols.isEmpty) copy(df = df.orderBy(rand(seed)).limit(n))
    else {
      val spec = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(rand(seed))
      copy(df = df.withColumn("__graft_rs", row_number().over(spec))
        .filter(col("__graft_rs") <= n).drop("__graft_rs"))
    }

  /** tidyr `separate(col, into, sep)` — split a string column into
    * fixed parts, replacing it in place (missing parts become empty
    * strings, split_part semantics). */
  def separate(c: String, into: Seq[String], sep: String = "-"): GraftFrame = {
    require(df.columns.contains(c), s"separate: no column '$c'")
    val parts = into.zipWithIndex.map { case (n2, i) =>
      split_part(col(c), lit(sep), lit(i + 1)).as(n2)
    }
    val out = df.columns.toSeq.flatMap { cc =>
      if (cc == c) parts else Seq(col(cc))
    }
    copy(df = df.select(out: _*))
  }

  /** tidyr `unite(newCol, cols, sep)` — concatenate string columns into
    * one, placed at the first source's position; sources are dropped.
    * Nulls render as "NA" (tidyr's na.rm = FALSE default) — concat_ws
    * alone would silently skip them AND their separator, making
    * ("x", null) and ("x",) indistinguishable. */
  def unite(newCol: String, cols: Seq[String], sep: String = "_"): GraftFrame = {
    require(cols.nonEmpty,
      "unite: need at least one source column (an empty list would silently not create the output column)")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"unite: no column(s) ${missing.mkString(", ")}")
    val united = concat_ws(sep,
      cols.map(c => coalesce(col(c).cast("string"), lit("NA"))): _*).as(newCol)
    val first = df.columns.indexWhere(cols.contains)
    val out = df.columns.toSeq.zipWithIndex.flatMap { case (cc, i) =>
      if (i == first) Seq(united)
      else if (cols.contains(cc)) Nil
      else Seq(col(cc))
    }
    copy(df = df.select(out: _*))
  }

  /** tidyr `pivot_longer` — unpivot `valueCols` into (name, value)
    * rows; all other columns become id columns. Catalyst `Expand`:
    * one scan, no shuffle, output = rows × |valueCols|. */
  def pivotLonger(valueCols: Seq[String], namesTo: String = "name",
                  valuesTo: String = "value"): GraftFrame = {
    val ids = df.columns.filterNot(valueCols.contains)
    copy(df = df.unpivot(ids.map(col).toArray, valueCols.map(col).toArray,
      namesTo, valuesTo))
  }

  /** tidyr `nest` — collapse `dataCols` into one array-of-struct
    * column per group (the Spark shape of a list-column). One
    * partial-aggregated shuffle on the group keys; `sorted` orders
    * each nested array by the struct's field order so results are
    * deterministic (Spark's collect_list order is not). Result is
    * ungrouped, one row per group, like tidyr; columns that are
    * neither group nor data columns are dropped (name the ones to
    * keep in `dataCols`). */
  def nest(as: String, dataCols: Seq[String], sorted: Boolean = true): GraftFrame = {
    require(groupCols.nonEmpty, "nest: call groupBy first (tidyr nests by grouping)")
    require(!groupCols.contains(as),
      s"nest: output column '$as' collides with a group column")
    val arr = collect_list(struct(dataCols.map(col): _*))
    GraftFrame(df.groupBy(groupCols.map(col): _*)
      .agg((if (sorted) sort_array(arr) else arr).as(as)))
  }

  /** tidyr `unnest` — explode an array-of-struct column back to rows
    * and columns. `inline` is a Catalyst generator: one scan, no
    * shuffle; empty arrays produce no rows (tidyr default). Grouping
    * survives, as in tidyr. */
  def unnest(nested: String): GraftFrame = {
    val keep = df.columns.filterNot(_ == nested)
    copy(df = df.select(keep.map(col) :+ inline(col(nested)): _*))
  }

  /** tidyr `expand` — the observed-value grid of `cols`: the cross
    * product of each column's distinct values, computed WITHIN each
    * group when the frame is grouped (tidyr's grouped expand).
    *
    * Shape: one aggregate collects each column's distinct values per
    * group (null values included — they are grid values in tidyr, so
    * they ride wrapped in structs, which collect_set keeps where bare
    * nulls would vanish), then generators multiply them out. The big
    * frame is touched once, by the partial-aggregated collect. */
  def expand(cols: Seq[String]): GraftFrame = {
    require(cols.nonEmpty, "expand: at least one column required")
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      collect_set(struct(col(cols.head).as("v"))).as(s"__s_${cols.head}"),
      cols.tail.map(c => collect_set(struct(col(c).as("v"))).as(s"__s_$c")): _*)
    val grid = cols.foldLeft(agg) { (d, c) =>
      // a generator must be a top-level projection item — explode
      // first, unwrap the struct field second
      d.withColumn(s"__e_$c", explode(col(s"__s_$c")))
        .withColumn(c, col(s"__e_$c").getField("v"))
        .drop(s"__s_$c", s"__e_$c")
    }
    GraftFrame(grid.select((groupCols ++ cols).map(col): _*), groupCols)
  }

  /** tidyr `complete` — make missing grid combinations explicit: the
    * original rows, plus one row per [[expand]] combination absent
    * from the data, with `fill` values (or nulls) in the remaining
    * columns. Pre-existing nulls in data rows are NOT overwritten —
    * fills apply only to the rows this verb creates, as in tidyr.
    *
    * Scale shape: the data side is never joined or shuffled — it
    * streams into a union. Only key-column aggregates (the grid and
    * the observed-combination set, both small) join, null-safely, to
    * find what's missing. */
  def complete(cols: Seq[String], fill: Map[String, Column] = Map.empty): GraftFrame = {
    val keys = groupCols ++ cols
    val grid = expand(cols).df.alias("__grid")
    val observed = df.select(keys.map(col): _*).distinct().alias("__obs")
    val miss = grid.join(observed,
      keys.map(k => col(s"__grid.$k") <=> col(s"__obs.$k")).reduce(_ && _),
      "left_anti")
    val missFilled = fill.foldLeft(miss) { case (d, (c, v)) =>
      d.withColumn(c, v)
    }
    copy(df = df.unionByName(missFilled, allowMissingColumns = true))
  }

  /** `head(n)` (reference: R/ast.R ast_head) → Catalyst Limit. */
  def headN(n: Int): GraftFrame = copy(df = df.limit(n))

  /** `distinct()` over all or named columns. */
  def distinct_(cols: String*): GraftFrame =
    if (cols.isEmpty) copy(df = df.distinct())
    else copy(df = df.dropDuplicates(cols))

  // ---- joins ------------------------------------------------------------

  /** dplyr-style join core (reference: R/join.R, src/ops_join.cpp).
    *
    * @param by        (leftKey, rightKey) pairs (dplyr `by = c(a = b)`)
    * @param how       inner | left | right | full
    * @param naMatches cuplyr supports only `na_matches = "na"`: null
    *                  keys match, so the default condition is `<=>`.
    * @param suffix    appended to non-key columns present on both sides
    *                  (dplyr's `suffix = c(".x",".y")`; underscores here
    *                  to stay Spark-identifier-safe).
    *
    * Key columns appear once in the output (coalesced for full joins).
    * Catalyst picks broadcast-hash when one side is under the
    * autoBroadcastJoinThreshold; callers can force it with
    * `broadcast(other.df)`.
    */
  def join(other: GraftFrame, by: Seq[(String, String)], how: String,
           naMatches: Boolean = true,
           suffix: (String, String) = ("_x", "_y")): GraftFrame = {
    // normalize Spark's join-type spellings so the key-column selection
    // below can't silently mis-handle "right_outer"/"fullouter"/etc.
    val howNorm = how.toLowerCase.replace("_", "") match {
      case "right" | "rightouter" => "right"
      case "full" | "outer" | "fullouter" => "full"
      case "left" | "leftouter" => "left"
      case "inner" => "inner"
      case other0 => throw new IllegalArgumentException(
        s"join type '$other0' — use inner/left/right/full (semi/anti have dedicated verbs)")
    }
    validateJoinKeys(s"${howNorm}_join", other, by)
    val l = df.alias("l")
    val r = other.df.alias("r")
    val cond = by.map { case (lk, rk) =>
      if (naMatches) l(lk) <=> r(rk) else l(lk) === r(rk)
    }.reduce(_ && _)
    val joined = l.join(r, cond, howNorm)

    val leftKeys = by.map(_._1)
    val rightKeys = by.map(_._2)
    val leftNonKey = df.columns.filterNot(leftKeys.contains)
    val rightNonKey = other.df.columns.filterNot(rightKeys.contains)
    // a left non-key column collides with a right non-key column of the
    // same name; a right non-key column ALSO collides with an output key
    // name (output keys are named after the left keys)
    val leftClash = leftNonKey.toSet.intersect(rightNonKey.toSet)
    val rightClash = rightNonKey.toSet.intersect(leftNonKey.toSet ++ leftKeys)

    val keyCols = by.map { case (lk, rk) =>
      howNorm match {
        case "full"  => coalesce(l(lk), r(rk)).as(lk)
        case "right" => r(rk).as(lk)
        case _       => l(lk).as(lk)
      }
    }
    val leftCols = leftNonKey.map { c =>
      l(c).as(if (leftClash(c)) c + suffix._1 else c)
    }
    val rightCols = rightNonKey.map { c =>
      r(c).as(if (rightClash(c)) c + suffix._2 else c)
    }
    // dplyr: mutating joins take the grouping from x. A grouping
    // column that clashed follows its rename (dplyr regroups on the
    // new name); key-named groups keep the left-key output name.
    val regrouped = groupCols.map { c =>
      if (leftNonKey.contains(c) && leftClash(c)) c + suffix._1 else c
    }
    copy(df = joined.select(keyCols ++ leftCols ++ rightCols: _*),
      groupCols = regrouped)
  }

  private def sameName(keys: Seq[String]) = keys.map(k => (k, k))

  /** Join-key presence check at the verb boundary: a missing key raised
    * by Catalyst names an attribute and a plan, but not which SIDE of
    * which join — the first thing to know. Mirrors the reference's
    * wrapped-error contract for joins (R/join.R via R/gpu.R). */
  private def validateJoinKeys(verb: String, other: GraftFrame,
                               by: Seq[(String, String)]): Unit = {
    def fail(side: String, missing: Seq[String], avail: Seq[String]): Nothing =
      throw new GraftVerbError(verb,
        s"graft verb '$verb' failed. Join key${if (missing.size > 1) "s" else ""} " +
          s"${missing.mkString(", ")} missing from the $side frame." +
          s" Available $side columns: ${avail.mkString(", ")}.",
        new org.apache.spark.sql.AnalysisException(
          errorClass = "UNRESOLVED_COLUMN.WITHOUT_SUGGESTION",
          messageParameters = Map("objectName" -> missing.head)))
    val missL = by.map(_._1).filterNot(resolves(df.columns.toSeq, _)).distinct
    if (missL.nonEmpty) fail("left", missL, df.columns.toSeq)
    val missR = by.map(_._2).filterNot(resolves(other.df.columns.toSeq, _)).distinct
    if (missR.nonEmpty) fail("right", missR, other.df.columns.toSeq)
  }

  def innerJoin(other: GraftFrame, by: Seq[String]): GraftFrame =
    join(other, sameName(by), "inner")
  def leftJoin(other: GraftFrame, by: Seq[String]): GraftFrame =
    join(other, sameName(by), "left")
  def rightJoin(other: GraftFrame, by: Seq[String]): GraftFrame =
    join(other, sameName(by), "right")
  def fullJoin(other: GraftFrame, by: Seq[String]): GraftFrame =
    join(other, sameName(by), "full")

  /** dplyr `nest_join` — every left row, plus one array-of-struct
    * column holding the matching right rows (key columns dropped from
    * the nested structs, dplyr's `keep = FALSE`); an unmatched left
    * row gets an EMPTY array, dplyr's 0-row tibble. Null keys match
    * null keys, the library's join contract.
    *
    * Shape: the right side aggregates to one (key, sorted array) row
    * per key FIRST — one shuffle on the right keys, partial
    * map-side combine — then a plain left equi-join attaches the
    * array; matching left rows share one nested value, and no row of
    * the left ever fans out. A key's whole match set becomes one
    * array value, so a pathologically hot right key must fit its
    * matches in one aggregation buffer — same contract as `nest`;
    * cap or pre-filter such keys upstream. `sorted` orders each
    * array by the struct's field order (collect_list order is not
    * deterministic); keep it on anywhere results are compared. */
  def nestJoin(other: GraftFrame, by: Seq[String], as: String,
               sorted: Boolean = true): GraftFrame = {
    validateJoinKeys("nest_join", other, sameName(by))
    require(!df.columns.contains(as),
      s"nest_join: output column '$as' collides with an existing column")
    val rightNonKey = other.df.columns.filterNot(by.contains)
    require(rightNonKey.nonEmpty,
      "nest_join: right frame has no non-key columns to nest")
    val arr = collect_list(struct(rightNonKey.map(col): _*))
    val nested = other.df.groupBy(by.map(col): _*)
      .agg((if (sorted) sort_array(arr) else arr).as(as))
      .select(by.map(k => col(k).as(s"__nk_$k")) :+ col(as): _*)
    val arrType = nested.schema(as).dataType
    val cond = by.map(k => df(k) <=> nested(s"__nk_$k")).reduce(_ && _)
    val joined = df.join(nested, cond, "left")
    copy(df = joined.select(df.columns.map(df(_)) :+
      coalesce(nested(as), array().cast(arrType)).as(as): _*))
  }

  /** dplyr `semi_join` / `anti_join` — existence joins; Spark plans
    * these without materializing right-side columns. Conditions use
    * `<=>` so null keys match, consistent with join()'s
    * na_matches="na" semantics (a null-keyed left row is "present" iff
    * the right side has a null-keyed row). */
  private def existenceJoin(other: GraftFrame, by: Seq[String], how: String): GraftFrame = {
    validateJoinKeys(if (how == "left_semi") "semi_join" else "anti_join",
      other, sameName(by))
    val l = df.alias("l")
    val r = other.df.select(by.map(col): _*).alias("r")
    val cond = by.map(k => l(k) <=> r(k)).reduce(_ && _)
    copy(df = l.join(r, cond, how))
  }
  def semiJoin(other: GraftFrame, by: Seq[String]): GraftFrame =
    existenceJoin(other, by, "left_semi")
  def antiJoin(other: GraftFrame, by: Seq[String]): GraftFrame =
    existenceJoin(other, by, "left_anti")

  // ---- dplyr rows_* family (keyed row modification) ---------------------

  /** Shared machinery of the `rows_*` verbs: left join `other` by key
    * (null-safe, the join contract) with a match marker; `other` may
    * carry a SUBSET of this frame's columns (dplyr allows partial
    * payloads) but nothing outside it. At most one `other` row per
    * key is the dplyr contract — duplicate patch keys fan out, a
    * data error on the caller. */
  private def rowsJoined(verb: String, other: GraftFrame,
                         by: Seq[String]): (DataFrame, Seq[String]) = {
    require(by.nonEmpty, s"$verb: 'by' must be non-empty")
    val missing = by.filterNot(df.columns.contains) ++
      by.filterNot(other.df.columns.contains)
    require(missing.isEmpty,
      s"$verb: key column(s) ${missing.distinct.mkString(", ")} missing")
    val extra = other.df.columns.filterNot(df.columns.contains)
    require(extra.isEmpty,
      s"$verb: column(s) ${extra.mkString(", ")} do not exist in the target frame")
    val yCols = other.df.columns.toSeq
    val r = other.df.select(yCols.map(c => col(c).as(s"__y_$c"))
      :+ lit(true).as("__m"): _*)
    val cond = by.map(k => col(k) <=> col(s"__y_$k")).reduce(_ && _)
    (df.join(r, cond, "left"), yCols.filterNot(by.contains))
  }

  /** dplyr `rows_insert(conflict = "ignore")` — append `other` rows
    * whose keys are absent here; same-key rows are left untouched. */
  def rowsInsert(other: GraftFrame, by: Seq[String]): GraftFrame = {
    require(by.nonEmpty, "rows_insert: 'by' must be non-empty")
    val fresh = other.antiJoin(GraftFrame(df.select(by.map(col): _*)), by)
    bindRows(fresh)
  }

  /** dplyr `rows_update(unmatched = "ignore")` — for keys present in
    * `other`, its payload values REPLACE this frame's (nulls
    * included: an explicit null in the patch overwrites — use
    * [[rowsPatch]] for fill-only); keys absent here are dropped. */
  def rowsUpdate(other: GraftFrame, by: Seq[String]): GraftFrame = {
    val (joined, payload) = rowsJoined("rows_update", other, by)
    finishRows(joined, payload, patchOnly = false)
  }

  /** dplyr `rows_patch(unmatched = "ignore")` — like [[rowsUpdate]]
    * but a patch value only fills where this frame is NULL; existing
    * values win. */
  def rowsPatch(other: GraftFrame, by: Seq[String]): GraftFrame = {
    val (joined, payload) = rowsJoined("rows_patch", other, by)
    finishRows(joined, payload, patchOnly = true)
  }

  /** dplyr `rows_upsert` — [[rowsUpdate]] for existing keys plus
    * [[rowsInsert]] for new ones; columns `other` lacks stay
    * untouched on updates and null on inserts, as in dplyr. */
  def rowsUpsert(other: GraftFrame, by: Seq[String]): GraftFrame =
    rowsUpdate(other, by).rowsInsert(other, by)

  /** dplyr `rows_delete(unmatched = "ignore")` — drop rows whose key
    * appears in `other`. */
  def rowsDelete(other: GraftFrame, by: Seq[String]): GraftFrame =
    antiJoin(GraftFrame(other.df.select(by.map(col): _*)), by)

  private def finishRows(joined: DataFrame, payload: Seq[String],
                         patchOnly: Boolean): GraftFrame =
    copy(df = joined.select(df.columns.toSeq.map { c =>
      if (payload.contains(c)) {
        val pick =
          if (patchOnly) col("__m").isNotNull && col(c).isNull
          else col("__m").isNotNull
        when(pick, col(s"__y_$c")).otherwise(col(c)).as(c)
      } else col(c)
    }: _*))

  // ---- binds ------------------------------------------------------------

  /** `bind_rows` (reference: R/bind.R, src/ops_bind.cpp) — by-name
    * union; columns missing on one side become nulls, as in dplyr. */
  def bindRows(others: GraftFrame*): GraftFrame =
    GraftFrame(others.foldLeft(df)((a, b) =>
      a.unionByName(b.df, allowMissingColumns = true)))

  /** `bind_cols` — positional zip of equal-length frames (reference:
    * R/bind.R). Row order is the frames' current order; implemented
    * with `zipWithIndex` (deterministic, one extra pass) + join on the
    * synthetic index. Duplicate names get dplyr-style suffix disambig.
    *
    * dplyr errors on unequal lengths; we match that with a full outer
    * join on the index plus a per-row `assert_true` on presence markers
    * — unmatched indexes on either side fail the job instead of being
    * silently truncated, and validation stays lazy (no extra count
    * jobs over each input, which matters when inputs are large).
    */
  def bindCols(other: GraftFrame): GraftFrame = {
    val leftNames = df.columns
    // the rename target must be fresh against left names, right names
    // that stay, AND previously assigned renames — "x" → "x_rhs" when
    // the right side already has an "x_rhs" column would emit two
    // columns with one name (ambiguous-reference errors downstream)
    val used = scala.collection.mutable.Set((leftNames ++ other.df.columns): _*)
    val rightNames = other.df.columns.map { c =>
      if (!leftNames.contains(c)) c
      else {
        var n2 = c + "_rhs"
        while (used.contains(n2)) n2 += "_rhs"
        used += n2
        n2
      }
    }
    val l = GraftFrame.withRowIndex(df, "__graft_idx")
      .withColumn("__graft_l", lit(true))
    val r = GraftFrame.withRowIndex(other.df.toDF(rightNames: _*), "__graft_idx")
      .withColumn("__graft_r", lit(true))
    val joined = l.join(r, Seq("__graft_idx"), "full_outer")
    val bothPresent = col("__graft_l").isNotNull && col("__graft_r").isNotNull
    // keep-all filter that throws on an unmatched index; written as
    // when/otherwise(raise_error) — a form Catalyst cannot constant-fold
    val checked = joined.where(
      when(bothPresent, lit(true)).otherwise(
        raise_error(lit("bind_cols: frames have unequal row counts"))
          .cast("boolean")))
    GraftFrame(checked.drop("__graft_idx", "__graft_l", "__graft_r"))
  }

  // ---- materialization --------------------------------------------------

  /** `collect()` (reference: R/collect.R) — pull to the driver. */
  def collect(): Array[Row] = df.collect()

  /** `compute()` (reference: R/compute.R) — execute and keep the result
    * "on the engine": persist + materialize. Registered with
    * [[GraftSession.gc]] so the cache is reclaimed once this handle is
    * dropped. */
  def compute(): GraftFrame = {
    df.persist(); df.count(); GraftSession.trackPersist(this); this
  }

  /** `collapse()` — optimization barrier (reference: R/ast.R
    * ast_barrier, R/optimizer.R optimize_with_barriers): downstream
    * optimization must not cross this point. Spark analogue: a lazy
    * cache boundary — Catalyst will not push predicates through the
    * InMemoryRelation once materialized. */
  def collapse(): GraftFrame = {
    df.persist(); GraftSession.trackPersist(this); this
  }

  def unpersist(): GraftFrame = { df.unpersist(); this }
}

object GraftFrame {

  /** cuplyr `tbl_gpu(df)` analogue. */
  def apply(df: DataFrame): GraftFrame = new GraftFrame(df, Nil)

  /** Ascending with nulls LAST (dplyr/cuplyr arrange semantics). */
  def asc(c: String): Column = col(c).asc_nulls_last
  def asc(c: Column): Column = c.asc_nulls_last

  /** `desc()` with nulls FIRST (reference: R/arrange.R NA handling). */
  def desc(c: String): Column = col(c).desc_nulls_first
  def desc(c: Column): Column = c.desc_nulls_first

  /** Attach a 0-based dense row index. zipWithIndex is deterministic
    * for a given partition layout and does one lightweight extra job to
    * count per-partition sizes — unlike `monotonically_increasing_id`,
    * indexes are contiguous so two equal-length frames align. */
  private[graft] def withRowIndex(df: DataFrame, name: String): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(name, org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ idx)
    }
    spark.createDataFrame(rdd, schema)
  }
}

/** Verb-level analysis error — the graft analogue of the reference's
  * wrapped GPU errors ("GPU operation 'x' failed ... Original error:
  * ...", R/gpu.R): names the verb, the columns it referenced, which of
  * them the frame doesn't have, and what IS available; the underlying
  * `AnalysisException` rides along as the cause for anyone who wants
  * the raw Catalyst view. */
final class GraftVerbError(val verb: String, message: String, cause: Throwable)
    extends RuntimeException(message, cause)

object GraftVerbError {
  def apply(verb: String, referenced: Seq[String], available: Seq[String],
            cause: Throwable): GraftVerbError = {
    val missing = referenced.filterNot(available.contains)
    val refTxt =
      if (referenced.isEmpty) ""
      else s" Referenced columns: ${referenced.mkString(", ")}."
    val missTxt =
      if (missing.isEmpty) ""
      else s" Missing from the frame: ${missing.mkString(", ")}."
    new GraftVerbError(verb,
      s"graft verb '$verb' failed.$refTxt$missTxt" +
        s" Available columns: ${available.mkString(", ")}." +
        s" Original error: ${Option(cause).flatMap(c => Option(c.getMessage)).getOrElse("(none)")}",
      cause)
  }
}
