package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftFrame
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.Ann
import graft.sources.Tables
import graft.streaming.Streams
import graft.functions.textfns

/** USAGE.md's executable twin: every code snippet in the guide is
  * reproduced here verbatim (same calls, same argument names) and run
  * against the bundled sf0.001 fixtures. If the API drifts from the
  * document, this spec stops compiling — the doc cannot silently rot.
  * Keep the two in sync: a change here must be mirrored in USAGE.md
  * and vice versa.
  */
class UsageSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark
  private val sfDir = SparkT.sfDir

  test("usage §1: session + table loading") {
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val orders = Tables.load(spark, sfDir, "orders")
    assert(lineitem.count() > 0 && orders.count() > 0)
  }

  test("usage §2: verb pipeline") {
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val top = GraftFrame(lineitem)
      .filter(col("l_quantity") > 10)
      .mutate("revenue" -> col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy("l_returnflag")
      .summarise("total" -> sum(col("revenue")), "n" -> count(lit(1)))
      .arrange(GraftFrame.desc("total"))
    val rows = top.collect()
    assert(rows.nonEmpty)
    // arranged descending by total
    val totals = rows.map(_.getDouble(rows.head.fieldIndex("total"))).toSeq
    assert(totals == totals.sortBy(-_))
    // nest_join row of the mapping table: matches nest as an array
    // column, unmatched rows carry an empty array
    import spark.implicits._
    val x = Seq(("a", 1), ("c", 2)).toDF("key", "v")
    val y = Seq(("a", 9.0)).toDF("key", "w")
    val nj = GraftFrame(x).nestJoin(GraftFrame(y), Seq("key"), "items")
      .df.orderBy("key").collect()
    assert(nj(0).getSeq[org.apache.spark.sql.Row](2).length == 1 &&
      nj(1).getSeq[org.apache.spark.sql.Row](2).isEmpty)
  }

  test("usage §3: dedup pipeline") {
    val docs = Tables.load(spark, sfDir, "documents")
    val unique = Dedup.exact(docs, "text", "doc_id")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      shingleN = 7, k = 128, bands = 32, threshold = 0.8)
    val deduped = Dedup.dedupNear(docs, "doc_id", pairs)
    assert(unique.count() > 0)
    // near-dedup can only remove rows relative to exact dedup
    assert(deduped.count() <= unique.count())
  }

  test("usage §3b: the full pipeline, end to end") {
    import graft.operators.{Decontam, Shuffle}
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "text")
    val bench = docs.filter(col("doc_id") < 5)
    // 1. score scan-side, gate on quality and language
    val scored = GraftFrame(docs)
      .mutate(
        "lang" -> textfns.langId(col("text")),
        "quality" -> textfns.qualityScore(col("text")),
        "n_tokens" -> textfns.wsTokenCount(col("text")))
      .filter(col("quality") >= 0.5 && col("lang") =!= "und")
      .df
    // 2. exact dedup
    val unique = Dedup.exact(scored, "text", "doc_id")
    // 3. near dedup
    val pairs = Dedup.ngramJaccardPairs(unique, "doc_id", "text",
      shingleN = 7, threshold = 0.5)
    val deduped = Dedup.dedupNear(unique, "doc_id", pairs)
    // 4. decontaminate
    val flagged = Decontam.contaminated(deduped, bench, "doc_id", "text",
      threshold = 0.25, shingleN = 5).select("doc_id")
    val clean = deduped.join(flagged, Seq("doc_id"), "left_anti")
    // 5. temperature mixing
    val counts = clean.groupBy("source").agg(count(lit(1)).as("c"))
    val rates = counts.crossJoin(broadcast(counts.agg(min(col("c")).as("m"))))
      .select(col("source"), least(lit(1.0),
        sqrt(col("m").cast("double") / col("c").cast("double"))).as("rate"))
    val mixed = clean.join(broadcast(rates), "source")
      .withColumn("h", ((col("doc_id") % lit(2147483647L)) * lit(1103515245L)
        + lit(12345L)) % lit(2147483647L))
      .filter(col("h") < floor(col("rate") * lit(2147483647.0)).cast("long"))
    // 6. reproducible 80/10/10 split
    val split = mixed.withColumn("h2",
        Shuffle.decisionHash(col("doc_id"), 48271L, 11213L))
      .withColumn("split", when(col("h2") < lit(1717986917L), lit("train"))
        .when(col("h2") < lit(1932735282L), lit("valid"))
        .otherwise(lit("test")))
    val rows = split.collect()
    // stage monotonicity: each gate can only remove rows, and the
    // final frame carries every stage's columns (the cross-operator
    // contract the composed cur24 oracle pins value-exactly)
    assert(rows.nonEmpty)
    assert(rows.length <= clean.count())
    val splits = rows.map(_.getString(rows.head.fieldIndex("split"))).toSet
    assert(splits.subsetOf(Set("train", "valid", "test")))
    Seq("doc_id", "source", "lang", "quality", "n_tokens", "split")
      .foreach(c => assert(split.columns.contains(c), s"missing column $c"))
    // the benchmark docs themselves can never reach the training mix
    val benchIds = bench.collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => !benchIds.contains(
      r.getLong(r.fieldIndex("doc_id")))))
  }

  test("cur24b persisted pipeline is row-identical to the lazy-plan cur24") {
    // the localCheckpoint points materialize exact rows, so the two
    // physical routes must agree value-for-value — the oracle pins
    // this at sf0.01 against DuckDB; this pins it engine-internally
    // at the spec fixture scale too
    val lazyRows = SparkEntry.queries("cur24_pipeline")(spark, sfDir)
      .collect().map(_.toSeq)
    val persisted = SparkEntry.queries("cur24b_pipeline_persisted")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(lazyRows.nonEmpty)
    assert(lazyRows.toSeq == persisted.toSeq)
  }

  test("usage §5 gopher rules snippet") {
    val docs = Tables.load(spark, sfDir, "documents")
    val gated = docs.select(col("doc_id"),
      textfns.meanWordLen(col("text")).as("mean_word_len"),
      textfns.symbolWordRatio(col("text")).as("symbol_ratio"),
      textfns.alphaWordRatio(col("text")).as("alpha_ratio"),
      textfns.bulletLineRatio(col("text")).as("bullet_ratio"),
      textfns.ellipsisLineRatio(col("text")).as("ellipsis_ratio"),
      textfns.stopwordDistinct(col("text")).as("stop_distinct"),
      textfns.gopherKeep(col("text")).as("keep"))
    val rows = gated.collect()
    assert(rows.length == docs.count())
    // ratios are ratios
    rows.filter(!_.anyNull).foreach { r =>
      Seq(1, 2, 3, 4, 5).foreach(i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= (if (i == 1) 1e9 else 1.0)))
    }
  }

  test("usage §4d: PCA fit + project snippet") {
    import graft.similarity.Pca
    val emb = Tables.load(spark, sfDir, "embeddings")
    val model = Pca.fit(emb, "embedding", d = 64, k = 16)
    val proj = Pca.project(emb, "embedding", model, outCol = "pca")
    val r = proj.select(col("pca")).collect()
    assert(r.nonEmpty && r.forall(_.getSeq[Double](0).length == 16))
    assert(model.variances.length == 16 &&
      model.variances.zip(model.variances.tail).forall { case (a, b) => a >= b })
  }

  test("usage §4: ANN exact + IVF-PQ") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.limit(8)
    val exact = Ann.bruteForceTopK(emb, queries, k = 10)
    val approx = Ann.ivfPqTopK(emb, queries, k = 10,
      nCells = 16, nProbe = 4, m = 8, ksub = 16, rerank = 50)
    assert(exact.count() == 8 * 10)
    assert(approx.count() == 8 * 10)
  }

  test("usage §3a2: fuzzy string self-join") {
    val df = Tables.load(spark, sfDir, "part")
      .select(col("p_partkey").as("id"), lower(col("p_name")).as("name"))
    val pairs = graft.operators.FuzzyJoin.selfPairs(df, "id", "name",
      maxDistance = 2)
    assert(pairs.count() > 0)
  }

  test("usage §3d: persisted signature index round trip") {
    val docs = Tables.load(spark, sfDir, "documents")
    val trainingSet = docs.filter(col("doc_id") % 10 === 0)
    val crawl = docs
    val dir = java.nio.file.Files.createTempDirectory("graft_usage_idx").toString
    Dedup.buildSignatureIndex(trainingSet, "doc_id", "text", shingleN = 7)
      .write.mode("overwrite").parquet(s"$dir/train_sig_index")
    val fresh = Dedup.crossDedupWithIndex(crawl,
      spark.read.parquet(s"$dir/train_sig_index"),
      "doc_id", "text", shingleN = 7, threshold = 0.8)
    assert(fresh.count() < crawl.count())
  }

  test("usage §4b: filtered vector search") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.limit(8)
    val filtered = Ann.filteredTopK(emb, queries, k = 10,
      matchCols = Seq("label"))
    assert(filtered.count() > 0)
  }

  test("usage §5: text kernels") {
    val docs = Tables.load(spark, sfDir, "documents")
    val scored = docs.select(col("doc_id"),
      textfns.wsTokenCount(col("text")).as("n_tokens"),
      textfns.langId(col("text")).as("lang"),
      textfns.qualityScore(col("text")).as("quality"))
    assert(scored.filter(col("n_tokens") > 0).count() > 0)
  }

  test("usage §6: batch/stream equivalence") {
    val events = Tables.load(spark, sfDir, "events")
    val hourly = Streams.tumblingAgg(events, "1 hour")
    val streamed = Streams.tumblingAggStreamOnce(spark,
      s"$sfDir/events.parquet", "1 hour")
    // the equivalence contract from the guide, checked literally
    assert(hourly.except(streamed).count() == 0)
    assert(streamed.except(hourly).count() == 0)
    // sliding windows: 4 overlapping states per event (1 h / 15 min)
    val sliding = Streams.hoppingAggStreamOnce(spark,
      s"$sfDir/events.parquet", "1 hour", "15 minutes")
    assert(sliding.agg(sum(col("n_events"))).collect()(0).getLong(0)
      == 4L * events.count())
  }

  test("usage §7: multimodal plumbing") {
    val docs = Tables.load(spark, sfDir, "documents")
    val media = Multimodal.asMediaTable(docs)
    val feats = Multimodal.decodeFeatures(media)
    val small = Multimodal.resizeBatch(media, 64, 48)
    val nearDups = Multimodal.perceptualDupPairs(media, maxHamming = 8)
    assert(feats.count() == media.count())
    assert(small.count() == media.count())
    // schema contract: (id_a, id_b, hamming)
    assert(nearDups.columns.toSeq == Seq("id_a", "id_b", "hamming"))
  }

  test("usage §7a: audio features + gain-invariant dedup") {
    val docs = Tables.load(spark, sfDir, "documents")
    val media = Multimodal.syntheticAudioTable(docs.filter(col("doc_id") < 50))
    val audio = Multimodal.audioFeatures(media)
    val audioDups = Multimodal.audioDupPairs(media, maxHamming = 4)
    assert(audio.filter(col("codec") === "javasound").count() == 50)
    assert(audioDups.count() == 0) // distinct recordings: no pairs
  }

  test("usage §3b: duplicated spans + rewrite") {
    val docs = Tables.load(spark, sfDir, "documents")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", windowWords = 8)
    val scrubbed = Dedup.dropDuplicatedSpans(docs, "doc_id", "text", windowWords = 8)
    assert(spans.columns.toSeq ==
      Seq("doc_id", "span_start", "span_end", "span_words"))
    assert(scrubbed.count() == docs.count())
  }

  test("usage §3c: semantic dedup pairs") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val pairs = Dedup.semanticDupPairs(emb, "vec_id", "embedding",
      nCells = 16, threshold = 0.9, windowSize = 6)
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "cosine"))
  }

  test("usage §5b: BPE train + encode") {
    val docs = Tables.load(spark, sfDir, "documents")
    val merges = graft.operators.Bpe.train(docs, "text", numMerges = 10)
    val tokens = graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
    assert(merges.nonEmpty)
    assert(tokens.filter(col("n_tokens") <= 0).count() == 0)
  }

  test("usage §6b: streaming near-dedup by content signature") {
    val docs = Tables.load(spark, sfDir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft_usage_ev11").toString
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head.getAbsolutePath
    val survivors = Streams.nearDedupStreamOnce(spark, part, textCol = "text")
    // fixture docs are content-distinct: double delivery collapses back
    assert(survivors.count() == docs.count())
  }

  test("usage §7b: curation, sampling, layout") {
    val docs = Tables.load(spark, sfDir, "documents")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val sample = graft.operators.Shuffle.stratifiedSample(
      docs, Seq("source"), "doc_id", n = 5)
    val epoch3 = graft.operators.Shuffle.epochShuffle(docs, "doc_id", epoch = 3)
    val zdir = java.nio.file.Files.createTempDirectory("graft_usage_z").toString
    graft.operators.Layout.zOrderWrite(lineitem, Seq("l_partkey", "l_suppkey"),
      s"$zdir/lineitem_z", nFiles = 32)
    assert(sample.groupBy("source").count()
      .filter(col("count") > 5).count() == 0)
    assert(epoch3.count() == docs.count())
    assert(spark.read.parquet(s"$zdir/lineitem_z").count() == lineitem.count())
    // compaction: the 32 z-order files merge toward the byte target,
    // content preserved exactly
    val stats = graft.operators.Layout.compact(spark, s"$zdir/lineitem_z",
      s"$zdir/lineitem_opt", targetFileBytes = 128L << 20)
    assert(stats.filesBefore == 32 && stats.filesAfter < 32)
    assert(spark.read.parquet(s"$zdir/lineitem_opt").count() == lineitem.count())
    // weighted sampling WOR: ≤ n per stratum, est_weight ≥ weight
    val weighted = graft.operators.Shuffle.prioritySample(
      docs.select(col("doc_id"), col("source"),
        (col("n_chars") + 1).cast("double").as("quality")),
      "doc_id", weightCol = "quality", n = 5, strataCols = Seq("source"),
      scale = 1L)
    assert(weighted.groupBy("source").count()
      .filter(col("count") > 5).count() == 0)
    assert(weighted.filter(col("est_weight") < col("quality")).count() == 0)
  }

  test("usage §7d: profiling and drift gates") {
    val orders = Tables.load(spark, sfDir, "orders")
    val lastWeek = orders.select(col("o_totalprice"), col("o_orderpriority"))
    val thisWeek = lastWeek
    val profile = graft.operators.Profiler.columnStats(orders,
      Seq("o_orderkey", "o_totalprice", "o_orderdate"), approxDistinct = true)
    val psi = graft.operators.Profiler.psiDrift(lastWeek, thisWeek, "o_totalprice")
    val ks = graft.operators.Profiler.ksDrift(lastWeek, thisWeek, "o_totalprice")
    val jsd = graft.operators.Profiler.categoricalDrift(lastWeek, thisWeek,
      "o_orderpriority", topK = 10)
    assert(profile.count() == 3L)
    // identical snapshots: all three drift gates read exactly zero
    assert(psi.collect()(0).getDouble(0) == 0.0)
    assert(ks.collect()(0).getDouble(0) == 0.0)
    assert(jsd.collect().map(_.getDouble(5)).sum == 0.0)
    // calibration fit: one aggregate pass, (n, slope, intercept, r2)
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("n_chars"),
        (col("n_chars") * 0.25).as("n_tokens"))
    val fit = graft.operators.Profiler.linearFitBy(docs, "n_chars",
      "n_tokens", groupCols = Seq("source"), scaleY = 100L)
    val rows = fit.collect()
    assert(rows.nonEmpty &&
      fit.columns.toSeq.drop(1) == Seq("n", "slope", "intercept", "r2"))
    assert(rows.forall(r => math.abs(r.getDouble(2) - 0.25) < 0.01))
    // robust outlier gate: identical values → nothing flags
    val metrics = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), lit(1.0).as("value"))
    val gated = graft.operators.Profiler.madOutliers(metrics, "value",
      groupCols = Seq("event_type"), k = 3.0)
    assert(gated.filter(col("outlier")).count() == 0L)
    // winsorize: constant column → bounds equal the value, no clamps
    val capped = graft.operators.Profiler.winsorizeBy(metrics, "value",
      groupCols = Seq("event_type"), alpha = 0.01)
    assert(capped.filter(col("value_w") =!= col("value")).count() == 0L)
    // W1 drift: a constant +3 shift reads exactly 3.0 per source
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("n_chars"))
    val shifted = base.select(col("source"),
      (col("n_chars") + 3.0).as("n_chars"))
    val w1 = graft.operators.Profiler.w1DriftBy(base, shifted,
      "n_chars", groupCols = Seq("source"))
    assert(w1.collect().forall(_.getDouble(1) == 3.0))
    // quantile normalization: rows preserved, outputs inside the
    // global range
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val qn = graft.operators.Profiler.quantileNormalizeBy(ev, "event_id",
      "value", groupCols = Seq("event_type"), nGrid = 101)
    assert(qn.count() == ev.filter(col("value").isNotNull).count())
    // interval islands: overlap or touch fuses
    val validity = Tables.load(spark, sfDir, "orders")
      .select((col("o_orderkey") % 5).as("host"),
        col("o_orderkey").as("valid_from"),
        (col("o_orderkey") + 3).as("valid_to"))
    val islands = graft.operators.RangeJoin.mergeIntervals(
      validity, Seq("host"), "valid_from", "valid_to")
    assert(islands.count() > 0)
  }

  test("usage §5c: collocations, keywords, containment, triangles") {
    val docs = Tables.load(spark, sfDir, "documents")
    val phrases = graft.operators.Freq.collocations(docs, "text",
      minCount = 50L).orderBy(col("lift").desc)
    assert(phrases.count() > 0)
    val keywords = graft.operators.Search.tfidfKeywords(docs, "doc_id",
      "text", k = 5)
    assert(keywords.groupBy("doc_id").count()
      .filter(col("count") > 5).count() == 0)
    val excerpts = graft.dedup.Dedup.containmentPairs(docs, "doc_id",
      "text", shingleN = 7, threshold = 0.9, maxShingleDf = 100000L)
    excerpts.count() // shape check: runs with the cap engaged
    val edges = Tables.load(spark, sfDir, "orders")
      .select((col("o_orderkey") % 100).as("src_host"),
        (col("o_custkey") % 100).as("dst_host"))
    val triangles = graft.operators.Graph.triangleCounts(edges,
      "src_host", "dst_host")
    assert(triangles.count() > 0)
  }

  test("usage §9a: the documented plan-reading checklist holds on the example") {
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val q = GraftFrame(lineitem)
      .filter(col("l_quantity") > 45)
      .select("l_returnflag", "l_quantity")
    q.showQuery() // the documented call — must keep printing, not throw
    val plan = q.df.queryExecution.executedPlan.toString
    // 1. predicate reached the parquet scan
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity,45.0)"), plan.take(900))
    // 1b. projection pruned to exactly the used columns
    assert(plan.contains("l_returnflag") && !plan.contains("l_extendedprice"),
      plan.take(900))
    // 2. a scan-side filter+project has NO Exchange
    assert(!plan.contains("Exchange"), plan.take(900))
    // 4. and runs inside whole-stage codegen (the "*(n)" span marker
    // in the tree string; explain("formatted") prints it verbosely)
    assert(plan.contains("*(1)"), plan.take(900))
  }

  test("usage §9b: the broadcast example produces a BroadcastHashJoin") {
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val orders = Tables.load(spark, sfDir, "orders")
    val dim = orders.limit(1000)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val enriched = lineitem.join(broadcast(dim), Seq("l_orderkey"))
    val plan = enriched.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(900))
    assert(enriched.count() > 0)
  }

  test("usage §9c: clique and spanning pair modes give identical dedup survivors") {
    val docs = Tables.load(spark, sfDir, "documents")
    val clique = Dedup.minHashLshPairs(docs, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0)
    val span = Dedup.minHashLshPairs(docs, "doc_id", "text",
      shingleN = 7, k = 32, bands = 8, threshold = 1.0, spanning = true)
    // same connected components ⇒ identical survivors; spanning never
    // emits MORE pairs than the clique
    val a = Dedup.dedupNear(docs, "doc_id", clique)
    val b = Dedup.dedupNear(docs, "doc_id", span)
    assert(a.select("doc_id").except(b.select("doc_id")).count() == 0)
    assert(b.select("doc_id").except(a.select("doc_id")).count() == 0)
    assert(span.count() <= clique.count())
  }

  test("usage §3a3: fuzzy record linkage across two tables") {
    import graft.operators.FuzzyJoin
    val part = Tables.load(spark, sfDir, "part")
    val catalogA = part.select(col("p_partkey").as("id"),
      lower(col("p_name")).as("name"))
    val catalogB = part.select((col("p_partkey") + 100000L).as("id"),
      expr("substring(lower(p_name), 3)").as("name"))
    val links = FuzzyJoin.linkPairs(
      catalogA, "id", "name", catalogB, "id", "name", maxDistance = 2)
    assert(links.count() > 0)
  }

  test("usage §4c: persisted IVF-PQ index round trip") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.limit(8)
    val indexDir = java.nio.file.Files.createTempDirectory("graft_usage_annidx").toString
    Ann.buildIvfPqIndex(emb, indexDir, nCells = 16, m = 8, ksub = 16)
    val hits = Ann.ivfPqTopKIndexed(spark, indexDir, queries, emb, k = 10,
      nCells = 16, nProbe = 4, m = 8, ksub = 16, rerank = 50)
    assert(hits.count() > 0)
  }

  test("usage §5c: inverted-index search + BM25") {
    import graft.operators.Search
    val docs = Tables.load(spark, sfDir, "documents")
    val idxDir = java.nio.file.Files.createTempDirectory("graft_usage_idx").toString
    Search.invertedIndex(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(idxDir)
    val index = spark.read.parquet(idxDir)
    val hits = Search.andSearch(index, Seq("spark", "window"))
    val any = Search.orSearch(index, Seq("spark", "window"))
    val ranked = Search.bm25TopDocs(docs, "doc_id", "text",
      Seq("spark", "window"), topN = 20)
    assert(hits.count() > 0 && any.count() >= hits.count())
    assert(ranked.count() <= 20 && ranked.count() > 0)
  }

  test("usage §5d: per-group heavy hitters") {
    import graft.operators.Freq
    val docs = Tables.load(spark, sfDir, "documents")
    val words = docs.select(col("source"),
      explode(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
        .as("word"))
      .filter(col("word") =!= "")
    val perSource = Freq.groupedHeavyHitters(
      words,
      groupCols = Seq("source"), itemCol = "word",
      minFraction = 0.005,
      estimatedGroups = 64)
    assert(perSource.count() > 0)
  }

  test("usage §7c: video near-dedup") {
    import spark.implicits._
    val media = Multimodal.syntheticVideoTable((0L until 10L).toDF("doc_id"))
    val videoDups = Multimodal.videoDupPairs(media, maxHamming = 4)
    // distinct synthetic videos: pipeline runs, no spurious pairs
    assert(videoDups.count() == 0)
  }

  test("usage §3e: span-level decontamination + scrub") {
    val docs = Tables.load(spark, sfDir, "documents")
    val bench = docs.filter(col("doc_id") < 5)
    val leaks = graft.operators.Decontam.contaminatedSpans(
      docs, bench, "doc_id", "text", windowWords = 8)
    val cleaned = graft.operators.Decontam.scrubContaminatedSpans(
      docs, bench, "doc_id", "text", windowWords = 8)
    assert(leaks.columns.toSeq ==
      Seq("doc_id", "span_start", "span_end", "span_words"))
    assert(leaks.count() > 0) // the bench docs themselves, at least
    assert(cleaned.count() == docs.count())
    // semantic sibling: benchmark embeddings broadcast, one scan
    val emb = Tables.load(spark, sfDir, "embeddings")
    val semLeaks = graft.operators.Decontam.semantic(
      emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
      threshold = 0.25)
    assert(semLeaks.columns.toSeq == Seq("vec_id", "bench_id", "score"))
    assert(semLeaks.filter(col("score") < 0.25).count() == 0L)
  }

  test("usage §3f: CDC snapshot merge") {
    import spark.implicits._
    val snapshot = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val changes = Seq(
      (0L, "recrawled page", "upsert", 2L),
      (1L, null.asInstanceOf[String], "delete", 2L))
      .toDF("doc_id", "text", "op", "crawl_version")
    val next = graft.operators.Snapshot.merge(snapshot, changes,
      keyCols = Seq("doc_id"), versionCol = Some("crawl_version"))
    assert(next.columns.toSeq == snapshot.columns.toSeq)
    assert(next.count() == snapshot.count() - 1)
    val batch = graft.operators.Snapshot.diff(snapshot, next,
      keyCols = Seq("doc_id"))
    assert(batch.count() == 2L) // one re-crawl, one tombstone — nothing else
    val statusFixes = Seq((2L, "fixed text")).toDF("doc_id", "text")
    val takedownKeys = Seq(Tuple1(3L)).toDF("doc_id")
    val corrected = GraftFrame(snapshot)
      .rowsPatch(GraftFrame(statusFixes), by = Seq("doc_id"))
      .rowsDelete(GraftFrame(takedownKeys), by = Seq("doc_id"))
    assert(corrected.df.count() == snapshot.count() - 1)
  }

  test("usage §7d2: per-group categorical drift") {
    val docs = Tables.load(spark, sfDir, "documents")
    val lastWeek = docs.select("source", "lang")
    val thisWeek = docs.select("source", "lang")
    val bySource = graft.operators.Profiler.categoricalDriftBy(
      lastWeek, thisWeek, "lang", groupCols = Seq("source"), topK = 10)
    val rows = bySource.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(6) == 0.0)) // identical snapshots
    val docs2 = Tables.load(spark, sfDir, "documents")
    val ksBySource = graft.operators.Profiler.ksDriftBy(
      docs2.select("source", "n_chars"), docs2.select("source", "n_chars"),
      "n_chars", groupCols = Seq("source"))
    assert(ksBySource.collect().forall(_.getDouble(1) == 0.0))
    import spark.implicits._
    val hourlyRates = Seq(("click", 1L, 12.0), ("click", 2L, 60.0))
      .toDF("event_type", "hour", "n")
    val chart = graft.operators.Profiler.cusum(hourlyRates, "hour", "n",
      groupCols = Seq("event_type"), target = 12.0, threshold = 40.0,
      slack = 1.0)
    assert(chart.filter(col("alarm")).count() == 1L)
    val readings = Seq((1L, 0L, 20.5), (1L, 1850L, 21.0))
      .toDF("sensor_id", "ts_seconds", "reading")
    val aligned = graft.operators.Resample.timeGrid(readings,
      Seq("sensor_id"), "ts_seconds", "reading", stepSeconds = 900L)
    assert(aligned.count() == 3L) // cells 0, 900 (carried), 1800
    assert(aligned.filter(!col("observed")).count() == 1L)
    val events6c = Seq((7L, 100L, 1.25), (7L, 3000L, 2.50), (7L, 9000L, 4.00))
      .toDF("user_id", "ts_seconds", "amount")
    val feats = graft.operators.Roll.timeStats(events6c, Seq("user_id"),
      "ts_seconds", "amount", windowSeconds = 3600L)
    val at3000 = feats.filter(col("ts_seconds") === 3000L).collect()(0)
    assert(at3000.getLong(3) == 2L && at3000.getDouble(4) == 3.75)
  }

  test("usage §6c: streaming categorical drift vs static baseline") {
    val events = Tables.load(spark, sfDir, "events")
    val drift = Streams.categoricalDriftStreamOnce(spark,
      s"$sfDir/events.parquet",
      baseline = events.select("event_type"), catCol = "event_type",
      windowLen = "1 hour", topK = 5)
    val rows = drift.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => !r.getDouble(7).isNaN))
  }

  test("usage §7d3: fixed-point PageRank authority") {
    import spark.implicits._
    val hostEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src_host", "dst_host")
    val authority = graft.operators.Graph.pageRankFp(
      hostEdges, "src_host", "dst_host", numIter = 10)
    val rows = authority.collect()
    assert(rows.length == 3)
    // mass stays ~1 (floor losses only shrink it)
    val mass = rows.map(_.getDouble(2)).sum
    assert(mass > 0.99 && mass <= 1.000001)
  }

  test("usage §2b: interval overlap join") {
    val o = Tables.load(spark, sfDir, "orders")
    val l = o.select(col("o_orderkey").as("l_id"),
      (col("o_orderkey") * 100L).as("l_lo"),
      (col("o_orderkey") * 100L + 149L).as("l_hi"))
    val r = o.select(col("o_orderkey").as("r_id"),
      (col("o_orderkey") * 100L + 120L).as("r_lo"),
      (col("o_orderkey") * 100L + 260L).as("r_hi"))
    val overlaps = graft.operators.RangeJoin.intervalOverlap(
      l, r, "l_lo", "l_hi", "r_lo", "r_hi", bucketWidth = 100.0)
    assert(overlaps.count() > o.count()) // ~3 matches per window
  }

  test("usage §4d: margin-based pair mining") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.limit(8)
    val mined = graft.similarity.Ann.marginMine(emb, queries, k = 4,
      minMargin = 1.0)
    assert(mined.columns.toSeq == Seq("query_id", "match_id", "cos", "margin"))
    assert(mined.count() <= 8) // at most one row per query
  }

  test("usage §9d: native kernels from SQL") {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.createOrReplaceTempView("docs")
    try {
      val sigs = spark.sql("""SELECT doc_id,
    graft_minhash(graft_shingle_hashes(text, 5), 128, 42) AS sig
  FROM docs""")
      val viaBuilder = docs.select(col("doc_id"),
        graft.expressions.GraftFunctions.graft_minhash(
          graft.expressions.GraftFunctions.graft_shingle_hashes(col("text"), 5), 128, 42L)
          .as("sig"))
      assert(sigs.count() == docs.count())
      assert(sigs.exceptAll(viaBuilder).isEmpty && viaBuilder.exceptAll(sigs).isEmpty)
    } finally spark.catalog.dropTempView("docs")
  }
}
