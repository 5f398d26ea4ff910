package graft

import graft.api.GraftSession

object Bench {
  /** The streaming gates (ev5–ev15) each pay the streaming engine's
    * multi-second fixed backfill cost per rep — legitimate work, but
    * enough of the suite to mask batch regressions in the tracked
    * total. They are reported in the same file under their own group
    * so the BATCH total stays a clean round-over-round signal. */
  private[graft] val streamingNames: Set[String] =
    SparkEntry.declared.filter(_.streaming).map(_.name).toSet

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the session production code and Verify run: the benchmark must
    // time the engine configuration whose results are verified
    val spark = GraftSession.local(GraftSession.envCores)
    // JIT/codegen framework warmup so the first timed query doesn't
    // absorb session initialization cost
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100).count()
    spark.range(100000L).selectExpr("sum(id)").collect()
    // a failing query must NOT masquerade as a normal timing: its slot
    // is null in "queries" and its name + error go to "failed".
    //
    // Each rep materializes EVERY output row+column through the noop
    // sink. Under the previous `.count()` harness Catalyst pruned
    // unreferenced final projections (ColumnPruning) and dropped
    // top-level sorts (EliminateSorts), so map-shaped queries were
    // timed without the expression/sort work they claim to measure.
    //
    // Per-query host-contention noise on a shared box is ±50% on any
    // single run, so report the MEDIAN over `reps` runs (min would
    // understate; mean lets one stall dominate) — AND the MIN and the
    // relative spread per query, so a reviewer can separate contention
    // from regression mechanically: a real regression moves the MIN
    // (the query is never fast again); contention leaves the min at
    // the old value and blows up the spread. Two rounds of driver runs
    // swung unchanged-query medians >2x with zero code diff behind
    // them (r5→r6: 14 queries), which median-of-3 cannot adjudicate —
    // hence 5 reps default and the spread in the output.
    //
    // Reps are ROUND-ROBIN over the whole suite (run every query once,
    // then repeat), not back-to-back per query: a multi-minute
    // contention window on a shared box covers all back-to-back reps
    // of a contiguous block of queries and garbages their medians
    // (observed: a 24x phantom "regression" on queries whose code
    // hadn't changed), whereas round-robin spreads each query's reps
    // minutes apart so the window inflates at most one rep per query
    // and the median survives.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    // fixed alphabetical order: run-to-run and round-to-round
    // comparability. SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts to a subset
    // (dev loop); names are trimmed and must all be declared — a typo,
    // stray space or empty list failing silently would bench the wrong
    // set and report it as healthy.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(v => SparkEntry.requireDeclared(
      v.split(",").map(_.trim).filter(_.nonEmpty).toSeq, "SPARK_GRAFT_BENCH_ONLY").toSet)
    val named = SparkEntry.declared.sortBy(_.name)
      .filter(d => only.forall(_.contains(d.name)))
    // The FIRST round-robin pass is a warmup: it absorbs each query's
    // whole-stage-codegen compile + JIT cost, which otherwise lands in
    // exactly one rep per query and masquerades as host noise in the
    // spread. Warmup timings are excluded from med/min/spread (errors
    // still count); with reps=N that leaves N−1 measured samples.
    // queries_compiles checks the compile half of that claim: the
    // classes Janino compiled during each measured rep (all of them on
    // a local master, where executors share the driver's JVM).
    val samples = scala.collection.mutable.Map.empty[String, List[Either[String, Double]]]
    // rep-aligned raw wall times (WARMUP INCLUDED at index 0): a host
    // contention window inflates a wall-clock-contiguous stripe of
    // (rep, query) cells, and because reps are round-robin that stripe
    // is visible as a run of inflated cells at the same rep index
    // across adjacent queries — exactly the evidence two rounds of
    // noise_indicator ≥1.0 lacked. null = that rep errored.
    val repTimes = scala.collection.mutable.Map.empty[String, Array[Option[Double]]]
    val compiles = scala.collection.mutable.Map.empty[String, List[Long]]
    val compileCount = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    for (rep <- 1 to reps; SparkEntry.Declared(name, build, _, _) <- named) {
      val warmup = rep == 1 && reps > 1
      val c0 = compileCount.getCount
      val t0 = System.nanoTime()
      val sample = try {
        build(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case t: Throwable => Left(Option(t.getMessage).getOrElse(t.getClass.getName))
      }
      if (!warmup)
        compiles(name) = compiles.getOrElse(name, Nil) :+ (compileCount.getCount - c0)
      val arr = repTimes.getOrElseUpdate(name, Array.fill[Option[Double]](reps)(None))
      sample.foreach(t => arr(rep - 1) = Some(t))
      sample match {
        case Right(_) if warmup => () // recorded in repTimes, excluded from stats
        case s => samples(name) = samples.getOrElse(name, Nil) :+ s
      }
    }
    case class Stat(name: String, med: Option[Double], min: Option[Double],
                    spread: Option[Double], firstErr: Option[String])
    val results = named.map { d =>
      val times = samples(d.name)
      val firstErr = times.collectFirst { case Left(e) => e }
      val ok = times.collect { case Right(v) => v }.sorted
      // median: middle element (odd n) or lower-middle (even n — the
      // conservative pick on a noisy box)
      val med = if (ok.isEmpty) None else Some(ok((ok.size - 1) / 2))
      val min = ok.headOption
      // relative spread (max-min)/median: ~0 on a quiet host, >1 when
      // a contention window ate one rep — the per-query noise gauge.
      // With <2 measured samples the spread is unmeasurable, not zero:
      // emitting 0.0 would read as "quiet host" regardless of actual
      // contention, so emit null instead
      val spread =
        if (ok.size < 2) None
        else med.filter(_ > 0).map(m => (ok.last - ok.head) / m)
      Stat(d.name, med, min, spread, firstErr)
    }
    def r4(d: Double): String = BigDecimal(d)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def numMap(f: Stat => Option[Double]): String = results.map { s =>
      "\"" + s.name + "\":" + f(s).map(r4).getOrElse("null")
    }.mkString("{", ",", "}")
    val qs = numMap(_.med)
    val qsMin = numMap(_.min)
    val qsSpread = numMap(_.spread)
    // per-rep raw times, rep-aligned (index 0 = the warmup pass)
    val qsReps = results.map { s =>
      "\"" + s.name + "\":" + repTimes(s.name)
        .map(_.map(r4).getOrElse("null")).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // classes compiled per measured rep (warmup excluded): 0 everywhere
    // means the warmup pass really did absorb every compile
    val qsCompiles = results.map { s =>
      "\"" + s.name + "\":" + compiles(s.name).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // "failed" = no rep succeeded (null timing, nonzero exit);
    // "flaky" = some rep failed but a timing exists — the two signals
    // must not contradict each other
    val failed = results.collect { case Stat(k, None, _, _, Some(e)) =>
      s"""{"query":"$k","error":${Verify.jsonStr(e.take(200))}}"""
    }.mkString("[", ",", "]")
    val flaky = results.collect { case Stat(k, Some(_), _, _, Some(e)) =>
      s"""{"query":"$k","error":${Verify.jsonStr(e.take(200))}}"""
    }.mkString("[", ",", "]")
    // headline follows the SAME coverage rule as sum_of_min and the
    // group sums: a query whose every rep failed must not silently
    // lower the total into a phantom speedup — the whole headline goes
    // null (the "failed" array says why)
    val totalJson =
      if (results.exists(_.med.isEmpty)) "null"
      else r4(results.flatMap(_.med).sum)
    // per-group sums follow the same coverage rule as sum_of_min: a
    // query whose every rep failed contributes nothing to its group's
    // sum, so the group would silently report a LOWER number that
    // masquerades as a speedup — emit null for any group with an
    // uncovered member instead (SURVEY cross-round comparisons cite
    // batch_min/streaming_min directly)
    def groupSum(pred: Stat => Boolean, f: Stat => Option[Double]): String = {
      val g = results.filter(pred)
      if (g.exists(s => f(s).isEmpty)) "null" else r4(g.flatMap(f).sum)
    }
    val batchTotal = groupSum(s => !streamingNames(s.name), _.med)
    val streamingTotal = groupSum(s => streamingNames(s.name), _.med)
    // suite-level noise indicator: the median query's relative spread.
    // <0.2 = quiet host, medians adjudicable; >0.5 = contended window,
    // compare MINs instead of medians for any regression verdict.
    val spreads = results.flatMap(_.spread).sorted
    // null (not 0.0) when no query had >=2 measured samples: an
    // unmeasurable noise level must not masquerade as a quiet host;
    // noiseMed is the ONE definition of the suite noise level — the
    // JSON field and the contended-host warning both derive from it
    val noiseMed: Option[Double] =
      if (spreads.isEmpty) None else Some(spreads((spreads.size - 1) / 2))
    val noiseJson = noiseMed.map(r4).getOrElse("null")
    // sum-of-min: the noise-robust headline — a contended window can
    // inflate the median sum 2x, but the per-query minimum is the
    // repeatable floor (see round-7 adjudication). A query whose every
    // rep failed contributes NOTHING to the sum, so a round with a new
    // hard failure would report a LOWER headline that masquerades as a
    // speedup — mirror the noise_indicator convention and emit null
    // when any query is uncovered; sum_of_min_n states the covered
    // query count so cross-round comparisons are made over identical
    // query sets only.
    val minCovered = results.count(_.min.nonEmpty)
    val sumOfMinJson =
      if (minCovered < results.size) "null" else r4(results.flatMap(_.min).sum)
    val batchMin = groupSum(s => !streamingNames(s.name), _.min)
    val streamingMin = groupSum(s => streamingNames(s.name), _.min)
    val groups = s"""{"batch":$batchTotal,"streaming":$streamingTotal,"batch_min":$batchMin,"streaming_min":$streamingMin}"""
    // medians stop being adjudicable past ~0.5 (r11/r12 both exceeded
    // 1.0 and their medians carried no signal) — say so at run time,
    // naming the only valid read, instead of leaving it to the reviewer
    noiseMed.filter(_ > 0.5).foreach(m =>
      System.err.println(
        f"[bench] WARNING: noise_indicator $m%.2f > 0.5 — " +
          "host was contended; medians (value/queries/groups batch+streaming) are " +
          "noise, min-of-N (sum_of_min/queries_min/batch_min/streaming_min) is the " +
          "only valid cross-round read. Per-rep times are in queries_reps — a " +
          "rep-aligned stripe of inflated cells marks the contention window."))
    val full = s"""{"metric":"total","value":$totalJson,"unit":"sec","sum_of_min":$sumOfMinJson,"sum_of_min_n":$minCovered,"queries":$qs,"queries_min":$qsMin,"queries_spread":$qsSpread,"queries_reps":$qsReps,"queries_compiles":$qsCompiles,"groups":$groups,"noise_indicator":$noiseJson,"failed":$failed,"flaky":$flaky,"reps":$reps,"warmup_reps":${if (reps > 1) 1 else 0},"sf":"$sfDir"}"""
    // The harness capturing this output keeps only a bounded tail; with
    // ~80 queries the one-line detail object outgrows it and the front
    // of the line (including "total") is cut, leaving nothing parseable.
    // So: full detail goes to a file AND to stdout first (for logs),
    // then a short self-contained summary line goes LAST — it fits the
    // tail window whole and parses on its own.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    // bench_detail.json is OVERWRITTEN every run, which destroyed the
    // r8 per-query medians the r9 regression attribution needed — so a
    // full-suite run ALSO archives to a round-keyed copy that is never
    // overwritten by later rounds. Round = SPARK_GRAFT_BENCH_ROUND, or
    // inferred as (max existing BENCH_r*.json)+1: the driver writes
    // BENCH_rN AFTER this main exits, so at run time max is N−1.
    // Subset runs (SPARK_GRAFT_BENCH_ONLY) never archive — a dev loop
    // must not overwrite the round's full-suite record.
    val archivePath: Option[String] = if (only.nonEmpty) None else {
      // a malformed round value must not throw at the END of a full run
      // (that would lose the detail files AND the summary line): warn
      // and fall back to inference instead
      val round = sys.env.get("SPARK_GRAFT_BENCH_ROUND").flatMap { s =>
        val parsed = scala.util.Try(s.trim.toInt).toOption
        if (parsed.isEmpty) System.err.println(
          s"[bench] WARNING: SPARK_GRAFT_BENCH_ROUND='$s' is not an integer — " +
            "inferring the round from existing BENCH_r*.json instead")
        parsed
      }.orElse {
        val seen = java.nio.file.Paths.get(".").toAbsolutePath
        val re = "BENCH_r(\\d+)\\.json".r
        val existing = Option(seen.toFile.list()).toList.flatten.collect {
          case re(n) => n.toInt
        }
        Some(if (existing.isEmpty) 1 else existing.max + 1)
      }
      round.map(n => f"bench_detail_r$n%02d.json")
    }
    (Seq(detailPath) ++ archivePath).foreach { p =>
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (full + "\n").getBytes("UTF-8"))
      } catch {
        case e: Throwable => System.err.println(
          s"[bench] WARNING: failed to write detail file $p — " +
            s"any existing file there is STALE (${e.getClass.getSimpleName}: ${e.getMessage})")
      }
    }
    println(full)
    val failedN = results.count(r => r.firstErr.isDefined && r.med.isEmpty)
    val flakyN = results.count(r => r.firstErr.isDefined && r.med.nonEmpty)
    // names only (no error text) and capped at 8 so the summary line
    // stays well under the tail window even in a pathological run
    val failedNames = results.collect { case Stat(k, None, _, _, Some(_)) => "\"" + k + "\"" }
      .take(8).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$totalJson,"unit":"sec","sum_of_min":$sumOfMinJson,"sum_of_min_n":$minCovered,"queries_n":${results.size},"groups":$groups,"noise_indicator":$noiseJson,"failed_n":$failedN,"flaky_n":$flakyN,"failed":$failedNames,"reps":$reps,"sf":"$sfDir","detail":"$detailPath"}""")
    spark.stop()
    if (results.exists(r => r.firstErr.isDefined && r.med.isEmpty)) sys.exit(1)
  }
}
