package graft.api

import org.apache.spark.sql.SparkSession

/** Session factory with scale-oriented defaults.
  *
  * Mirrors the role of cuplyr's GPU context bootstrap
  * (reference: R/zzz.R, R/gpu.R) — one place that owns engine
  * configuration — but the knobs here are the ones that matter on a
  * multi-executor Spark cluster: AQE (runtime re-planning, skew-join
  * splitting, partition coalescing), broadcast thresholds, and a
  * shuffle-partition count sized to the cluster rather than the
  * 200-partition default.
  */
object GraftSession {

  /** Build a tuned local session. `cores` drives shuffle parallelism so
    * local runs don't pay 200-partition overhead; on a real cluster the
    * same builder is used with AQE coalescing partitions at runtime.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expressions.GraftFunctions.register(spark)
    // getOrCreate may have returned a PRE-EXISTING session built
    // without graft's extensions — withExtensions only applies at
    // creation time, so the native strategies (as-of join) and the
    // optimizer rule would silently be missing. init() is idempotent
    // (contains-guards on both experimental lists), so run it
    // UNCONDITIONALLY: a presence probe on the planner strategies
    // alone would skip sessions that got ensureStrategies() from a
    // lazy native-as-of call but never received the optimizer rule.
    // (On a fresh withExtensions session the rule then sits in both
    // the injected batch and extraOptimizations — it is an idempotent
    // single-pattern transform, so the double pass is noise.)
    init(spark)
    spark
  }

  /** Core count of the command-line mains' sessions:
    * `SPARK_GRAFT_CPUS`, else every available processor. */
  private[graft] def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  /** Register graft SQL functions + optimizer rules on an externally
    * built session (extensions can't be injected post-creation, but
    * `experimental.extraOptimizations` can). */
  def init(spark: SparkSession): SparkSession = {
    graft.expressions.GraftFunctions.register(spark)
    val exp = org.apache.spark.sql.graftbridge.Bridge.experimental(spark)
    if (!exp.extraOptimizations.contains(graft.plans.SimplifyGraftExpressions))
      exp.extraOptimizations ++= Seq(graft.plans.SimplifyGraftExpressions)
    graft.plans.GraftExtensions.ensureStrategies(spark)
    spark
  }

  /** JVM/executor memory introspection — the Spark-side analogue of
    * cuplyr's gpu_memory_usage()/gpu_details() (reference:
    * R/gpu-memory.R). Reports driver heap and block-manager storage.
    */
  def memoryState(spark: SparkSession): Map[String, Long] = {
    val rt = Runtime.getRuntime
    val status = spark.sparkContext.getExecutorMemoryStatus
    Map(
      "driver_heap_used" -> (rt.totalMemory() - rt.freeMemory()),
      "driver_heap_max" -> rt.maxMemory(),
      "executors" -> status.size.toLong,
      "storage_remaining" -> status.values.map(_._2).sum,
      "storage_max" -> status.values.map(_._1).sum
    )
  }

  /** Per-executor detail rows — cuplyr `gpu_details()` analogue:
    * (executorId, host, total storage, free storage, cached blocks
    * live on it implicitly via used = total - free). */
  def details(spark: SparkSession): Seq[Map[String, String]] =
    spark.sparkContext.getExecutorMemoryStatus.toSeq.map {
      case (hostPort, (total, free)) => Map(
        "executor" -> hostPort,
        "storage_total" -> total.toString,
        "storage_free" -> free.toString,
        "storage_used" -> (total - free).toString)
    }

  /** Frames graft itself persisted (compute/collapse/asEager), keyed by
    * a weak reference to the user-facing handle: once the handle is
    * unreachable the cached blocks are garbage by definition, exactly
    * the reference's "unreferenced GPU memory". The DataFrame is held
    * strongly — it is a small plan object and is what unpersist needs;
    * it does not keep the GraftFrame handle alive. */
  private val trackedPersists =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (java.lang.ref.WeakReference[GraftFrame], org.apache.spark.sql.DataFrame)]

  private[api] def trackPersist(handle: GraftFrame): Unit = {
    // opportunistic sweep so the registry stays bounded even in
    // sessions that persist many frames but never call gc(): entries
    // whose frame was unpersisted by the caller (or whose handle is
    // already gone AND whose cache is gone) carry no obligation
    val it = trackedPersists.iterator()
    while (it.hasNext) {
      val (_, df) = it.next()
      if (!df.storageLevel.useMemory && !df.storageLevel.useDisk)
        it.remove() // unpersisted (by caller or gc): no obligation left
    }
    trackedPersists.add((new java.lang.ref.WeakReference(handle), handle.df))
  }

  /** cuplyr `gpu_gc()` analogue: free cached storage whose graft handle
    * is no longer reachable — like the reference, gc() only collects
    * UNREFERENCED memory; frames the caller still holds (a deliberate
    * `compute()`/`asEager`) keep their cache. Runs a JVM collection
    * first so recently-dropped handles are observed (best-effort, as
    * with R's gc()). Returns storage freed (bytes, estimate). For the
    * drop-everything hammer, see [[gcAll]]. */
  def gc(spark: SparkSession): Long = {
    val before = memoryState(spark)("storage_remaining")
    System.gc()
    val it = trackedPersists.iterator()
    while (it.hasNext) {
      val (ref, df) = it.next()
      // blocking: unpersist() defaults to async block removal, so the
      // after-measurement below would run before anything was actually
      // freed and report ~0 bytes reclaimed
      if (ref.get == null) { df.unpersist(blocking = true); it.remove() }
      else if (!df.storageLevel.useMemory && !df.storageLevel.useDisk)
        it.remove() // caller unpersisted it themselves; stop tracking
    }
    memoryState(spark)("storage_remaining") - before
  }

  /** Drop EVERY cached plan in the session — broader than the
    * reference's gpu_gc (this invalidates caches the caller created
    * deliberately, graft-owned or not). Kept as an explicit separate
    * verb so a routine gc() can never silently clear unrelated
    * frames' cached state. */
  def gcAll(spark: SparkSession): Long = {
    val before = memoryState(spark)("storage_remaining")
    // tracked frames first, BLOCKING, so their bytes are observably
    // freed before the after-measurement; catalog.clearCache() has no
    // blocking variant, so non-graft caches may free asynchronously
    // and the returned estimate is a lower bound for those
    val it = trackedPersists.iterator()
    while (it.hasNext) { it.next()._2.unpersist(blocking = true) }
    trackedPersists.clear()
    spark.catalog.clearCache()
    System.gc()
    memoryState(spark)("storage_remaining") - before
  }

  /** cuplyr `gpu_object_info()` analogue: schema plus the optimizer's
    * size estimate for a plan (bytes; from Catalyst statistics —
    * exact for file scans with stats, an upper bound for transforms).
    */
  def objectInfo(df: org.apache.spark.sql.DataFrame): Map[String, String] = Map(
    "columns" -> df.columns.length.toString,
    "schema" -> df.schema.simpleString,
    "est_size_bytes" -> df.queryExecution.optimizedPlan.stats.sizeInBytes.toString,
    "is_cached" -> df.storageLevel.useMemory.toString)

  /** cuplyr `gpu_size_comparison()` analogue: optimizer size estimate
    * vs actual cached size after materialization (both bytes). Caches
    * and materializes the frame — caller owns unpersist.
    *
    * The cached size must come from a FRESH plan: `df.queryExecution`
    * is fixed per Dataset and its lazy stats were already forced for
    * the estimate, so re-reading it would return the pre-cache number.
    * A derived Dataset re-plans and resolves to the InMemoryRelation,
    * whose stats are the materialized bytes. */
  def sizeComparison(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    df.persist()
    df.count()
    val cached = df.filter(org.apache.spark.sql.functions.lit(true))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    Map("estimated_bytes" -> est.min(BigInt(Long.MaxValue)).toLong,
      "cached_bytes" -> cached.min(BigInt(Long.MaxValue)).toLong)
  }

  /** cuplyr `verify_gpu_data()` analogue: force materialization and
    * check the frame is computable and row-stable (two actions agree).
    */
  def verifyData(df: org.apache.spark.sql.DataFrame): Boolean =
    df.count() == df.count()

  /** cuplyr `has_gpu()` analogue: is the engine up and schedulable. */
  def hasEngine(spark: SparkSession): Boolean =
    !spark.sparkContext.isStopped

  /** cuplyr `show_gpu()` analogue: one-line engine description. */
  def engineInfo(spark: SparkSession): String = {
    val sc = spark.sparkContext
    s"Spark ${sc.version} master=${sc.master} " +
      s"executors=${sc.getExecutorMemoryStatus.size} " +
      s"defaultParallelism=${sc.defaultParallelism}"
  }
}
