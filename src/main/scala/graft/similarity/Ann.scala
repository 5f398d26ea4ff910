package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SmallSide
import graft.expressions.GraftFunctions

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Tiers, exact to approximate:
  *   - [[bruteForceTopK]] — exact cosine top-k, the scale path: queries
  *     broadcast to every partition, per-partition bounded heaps, then a
  *     final top-k over parts × Q × k candidate rows. Never materializes
  *     or sorts the N×Q score matrix. [[filteredTopK]] is the same scan
  *     restricted to corpus rows sharing the query's match key.
  *   - [[bruteForceTopKSql]] — exact, declarative (window rank): the
  *     oracle-matched twin of the quantized heap path; the full score
  *     set shuffles, so it is the sf-small correctness twin, not the
  *     scale path.
  *   - [[lshTopK]] — SRP-LSH buckets restrict candidates before exact
  *     scoring.
  *   - [[ivfTopK]] — a k-means coarse quantizer restricts each query to
  *     its `nProbe` nearest cells.
  *   - [[pqTopK]] — product-quantized codes scored by asymmetric
  *     distance (ADC), optionally exact-reranked.
  *   - [[ivfPqTopK]] / [[ivfPqTopKIndexed]] — IVF cells plus residual PQ
  *     codes, inline or from a persisted [[buildIvfPqIndex]].
  *
  * The exact, filtered, PQ and IVF-PQ tiers share ONE top-k scan
  * ([[topKScan]]) and differ only in the per-row score they hand it;
  * every nearest-centroid decision (IVF cells, probe lists, k-means,
  * PQ sub-codes, the Dedup cells) goes through ONE kernel, [[d2]] via
  * [[nearestCell]] / [[probeCells]], so a vector's cell is the same at
  * encode time and at probe time. [[knnClassify]] and [[marginMine]]
  * build on the exact path.
  *
  * Null vectors drop on both sides in the exact, filtered, IVF, PQ and
  * IVF-PQ tiers and in [[marginMine]]: a null embedding neither scores
  * nor is scored, and the other rows' results do not change.
  */
object Ann {

  /** The quantized score of one corpus vector `qv` against one
    * `other`-side vector `q` (their self-dots `na`, `nb`): EXACTLY the
    * SQL twin's arithmetic and operation order — integer dots cast to
    * double, then sign(d)·d²/(na·nb). Shared by the exact tiers and
    * `Decontam.semantic`; a dimension mismatch fails naming `caller`. */
  private[graft] def quantizedScore(caller: String, other: String, qv: Array[Long],
                                    na: Double, q: Array[Long], nb: Double): Double = {
    require(qv.length == q.length,
      s"$caller: corpus vector dim ${qv.length} != $other vector dim " +
        s"${q.length} — mixed-dimension data is a pipeline bug; " +
        "failing fast beats a silent prefix dot product")
    val d = longDot(qv, q).toDouble
    if (na == 0 || nb == 0) 0.0
    else math.signum(d) * d * d / (na * nb)
  }

  /** One candidate's score — THE shared kernel of the exact heap
    * tiers (bruteForceTopK + filteredTopK): the bit-identical-to-SQL
    * quantized arithmetic and the float cosine live in exactly one
    * place, so the exact twins cannot drift apart. */
  private def scorePair(caller: String, vec: Array[Float], qv: Array[Long],
                        na: Double, q: Array[Float], qQuantI: Array[Long],
                        qNbI: Double, quantized: Boolean): Double =
    if (quantized) quantizedScore(caller, "query", qv, na, qQuantI, qNbI)
    else {
      require(vec.length == q.length,
        s"$caller: corpus vector dim ${vec.length} != query vector dim " +
          s"${q.length} — mixed-dimension data is a pipeline bug; failing " +
          "fast beats a silent prefix dot product (or an out-of-bounds crash)")
      var dot = 0.0; var sna = 0.0; var snb = 0.0; var i = 0
      while (i < vec.length) {
        val x = vec(i).toDouble; val y = q(i).toDouble
        dot += x * y; sna += x * x; snb += y * y; i += 1
      }
      if (sna == 0 || snb == 0) 0.0
      else dot / (math.sqrt(sna) * math.sqrt(snb))
    }

  /** A broadcast query of [[topKScan]]: id, vector, and match key
    * (null for an unfiltered scan). */
  private final case class Query(id: Long, vec: Array[Float], key: String)

  /** One tier's scoring inside [[topKScan]], built once per partition
    * from the broadcast queries. `load` reads one corpus row (its id in
    * column 0, then the tier's own columns) and returns the indices of
    * the queries that may see it, or null when none do; `score(qi)` is
    * the loaded row's score against query `qi`, higher is nearer. */
  private abstract class RowScorer {
    def load(r: Row): Array[Int]
    def score(qi: Int): Double
  }

  /** The non-null query vectors (with `queryKey`) of [[topKScan]]:
    * the small side of `caller`, which fails past SmallSide.MaxRows. */
  private def queryRows(caller: String, queries: DataFrame,
      idCol: String, vecCol: String,
      queryKey: Column = lit(null).cast("string")): Array[Query] =
    // cast to array<float> like every tier's corpus side: an uncast
    // array<double> input would ClassCastException in getSeq[Float]
    SmallSide.orFail(queries
        .filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
          queryKey),
      caller, "query side", "split the query batch, or use lshTopK or " +
        "ivfTopK, which join the queries without a driver collect")
      .map(r => Query(r.getLong(0), r.getSeq[Float](1).toArray, r.getString(2)))

  /** THE top-k scan of the exact, filtered, PQ and IVF-PQ tiers.
    *
    * The [[queryRows]] are shipped once per executor via a broadcast
    * variable. `rows` streams partition-by-partition through per-query
    * bounded heaps that keep the top `k` by (score desc, id asc); a row
    * never scores against a query with its own id (every tier's
    * self-exclusion rule). The final rank sorts ONLY the parts × Q × k
    * surviving candidates, never the N×Q score matrix.
    *
    * Output: (query_id, neighbor_id, score, rank), rank ≤ k. */
  private def topKScan(rows: DataFrame, qRows: Array[Query], k: Int)(
      scorerFor: Array[Query] => RowScorer): DataFrame = {
    val spark = rows.sparkSession
    val bc = spark.sparkContext.broadcast(qRows)

    val candidates = rows.rdd.mapPartitions { it =>
      val qs = bc.value
      val scorer = scorerFor(qs)
      // per-query bounded worst-first ordering: (score asc, id desc)
      // so the head is the entry to evict
      val heaps = qs.map(_ => new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
        Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }))
      it.foreach { r =>
        val qIdx = scorer.load(r)
        if (qIdx != null) {
          val id = r.getLong(0)
          var j = 0
          while (j < qIdx.length) {
            val qi = qIdx(j)
            if (qs(qi).id != id) {
              val s = scorer.score(qi)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((s, id))
              else {
                val (ws, wid) = h.head
                if (s > ws || (s == ws && id < wid)) { h.dequeue(); h.enqueue((s, id)) }
              }
            }
            j += 1
          }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (s, id) => Row(qs(qi).id, id, s) }
      }
    }
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    spark.createDataFrame(candidates, schema)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact top-k neighbors per query by cosine.
    *
    * `queries` is collected to the driver (the small side: past
    * 65,536 rows the call fails, naming [[lshTopK]] and [[ivfTopK]],
    * which join instead) and shipped once per executor via a broadcast
    * variable; the corpus is streamed partition-by-partition through
    * per-query bounded heaps ([[topKScan]]). Output: (query_id,
    * neighbor_id, score, rank).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     quantized: Boolean = false): DataFrame =
    exactTopK("bruteForceTopK", corpus, queries, k, Nil, idCol, vecCol,
      quantized)

  /** FILTERED exact top-k: each query searches only corpus rows whose
    * `matchCols` values equal its own — the metadata-constrained
    * vector search every retrieval stack needs ("nearest neighbors
    * within this language / license / source"). Post-filtering a
    * global top-k is WRONG at any k (a query whose match class is
    * rare can lose every neighbor to the filter); pre-filtering with
    * one scan per distinct value re-reads the corpus per class. This
    * runs ONE corpus scan: query descriptors broadcast grouped by
    * match key, each corpus row consults only the hash bucket of its
    * own key, per-(query) bounded heaps as in [[bruteForceTopK]] — no
    * N×Q matrix, no per-class rescan, match classes of any skew.
    *
    * Keys compare as canonical strings (both sides cast DF-side), so
    * an int32 label on one side and int64 on the other cannot
    * silently never-match. Same quantized scoring / rank contract as
    * [[bruteForceTopK]] — the DuckDB oracle replays it with a join
    * predicate added. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   matchCols: Seq[String],
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   quantized: Boolean = false): DataFrame = {
    require(matchCols.nonEmpty,
      "filteredTopK: matchCols must be non-empty (use bruteForceTopK for unfiltered)")
    exactTopK("filteredTopK", corpus, queries, k, matchCols, idCol, vecCol,
      quantized)
  }

  /** The exact tiers over [[topKScan]]: [[bruteForceTopK]] is the
    * unfiltered case (no `matchCols`, every query sees every row, no
    * per-row key hashing) of [[filteredTopK]]'s match-key grouping. */
  private def exactTopK(caller: String, corpus: DataFrame,
      queries: DataFrame, k: Int, matchCols: Seq[String],
      idCol: String, vecCol: String, quantized: Boolean): DataFrame = {
    val keyed = matchCols.nonEmpty
    // SQL equality semantics: a NULL match value matches NOTHING (the
    // oracle's join predicate never matches NULL) — and concat_ws
    // SKIPS null arguments, so without this filter (NULL,'mit') and
    // ('mit',NULL) would collide into one key despite the separator.
    // Null-keyed rows drop on both sides, and so do null vectors.
    def nonNull(df: DataFrame) =
      df.filter(matchCols.map(col(_).isNotNull).foldLeft(col(vecCol).isNotNull)(_ && _))
    // NUL separator (escaped, not a raw byte): a space would make
    // ("a b", "c") and ("a", "b c") collide into one match class for
    // multi-column keys
    val mkey =
      concat_ws("\u0000", matchCols.map(c => col(c).cast("string")): _*)
    val rows = nonNull(corpus).select(
      Seq(col(idCol).cast("long"), col(vecCol).cast("array<float>")) ++
        (if (keyed) Seq(mkey) else Nil): _*)
    val qRows = queryRows(caller, nonNull(queries), idCol, vecCol,
      if (keyed) mkey else lit(null).cast("string"))
    topKScan(rows, qRows, k) { qs =>
      val all = qs.indices.toArray
      val byKey: Map[String, Array[Int]] =
        if (keyed) all.groupBy(qs(_).key) else Map.empty
      // quantized mode pre-derives each query's integer vector and
      // self-dot once per partition
      val qQuant: Array[Array[Long]] =
        if (quantized) qs.map(q => quantize1000(q.vec)) else null
      val qNb: Array[Double] =
        if (quantized) qQuant.map(q => longDot(q, q).toDouble) else null
      new RowScorer {
        private var vec: Array[Float] = _
        private var qv: Array[Long] = _
        private var na = 0.0
        def load(r: Row): Array[Int] = {
          val qIdx = if (keyed) byKey.getOrElse(r.getString(2), null) else all
          if (qIdx != null) {
            vec = r.getSeq[Float](1).toArray
            if (quantized) {
              qv = quantize1000(vec)
              na = longDot(qv, qv).toDouble
            }
          }
          qIdx
        }
        def score(qi: Int): Double =
          scorePair(caller, vec, qv, na, qs(qi).vec,
            if (quantized) qQuant(qi) else null,
            if (quantized) qNb(qi) else 0.0, quantized)
      }
    }
  }

  /** k-NN LABEL PROPAGATION: predict a label for every query vector
    * by majority vote among its `k` nearest corpus neighbors — the
    * standard semi-supervised curation move (a few thousand
    * hand-labeled quality/topic/language examples fan out to the
    * whole corpus through embedding space; cheap, strong baseline
    * before any trained classifier).
    *
    * Determinism end to end: neighbors come from [[bruteForceTopK]]
    * in QUANTIZED scoring mode (bit-identical to the SQL window-rank
    * twin — the ann1 oracle contract), and the vote resolves ties by
    * (votes desc, best-neighbor rank asc, label asc): a 2–2 split
    * goes to the label owning the NEAREST neighbor, engines agree
    * because rank itself is deterministic. Null-labeled corpus rows
    * are excluded from voting (they can teach nothing), so a query
    * may resolve from fewer than k votes; queries are classified
    * from the corpus EXCLUDING themselves (bruteForceTopK's own
    * self-match rule — classify-the-training-set stays honest).
    *
    * Scale shape = [[bruteForceTopK]]'s: queries broadcast under the
    * ANN small-side contract (at most 65,536 rows), one corpus scan
    * with per-partition bounded heaps; the vote is a ≤ Q·k-row
    * aggregate plus a per-query window over ≤ distinct-label rows.
    *
    * Output: (query_id, label, votes, best_rank) — one row per query
    * with ≥ 1 labeled neighbor. */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    require(k > 0, s"knnClassify: k must be positive, got $k")
    require(corpus.columns.contains(labelCol),
      s"knnClassify: no label column '$labelCol' in the corpus frame")
    val top = exactTopK("knnClassify", corpus, queries, k, Nil, idCol,
      vecCol, quantized = true)
    val labels = corpus
      .filter(col(labelCol).isNotNull)
      .select(col(idCol).cast("long").as("neighbor_id"),
        col(labelCol).as("__knn_lbl"))
    val votes = top.join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("__knn_lbl"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("best_rank").asc, col("__knn_lbl").asc)
    votes.withColumn("__knn_rn", row_number().over(w))
      .filter(col("__knn_rn") === 1)
      .select(col("query_id"), col("__knn_lbl").as(labelCol),
        col("votes"), col("best_rank"))
  }

  /** Spark's `round(x*1000.0, 0)` for doubles, scalar twin:
    * BigDecimal.valueOf (Double.toString repr) + HALF_UP — the exact
    * semantics of Catalyst's Round, so quantized heap scores match the
    * SQL twin bit-for-bit. */
  private[graft] def quantize1000(v: Array[Float]): Array[Long] = {
    val out = new Array[Long](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = java.math.BigDecimal.valueOf(v(i).toDouble * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      i += 1
    }
    out
  }

  private[graft] def longDot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Micro-quantized cosine: floor(cos·10⁶ + 0.5) over the ×1000
    * integer dots, cos = d / (√na·√nb). Every step (integer dots →
    * double, sqrt, divide, multiply, +0.5, floor) is one correctly-
    * rounded IEEE op, so any engine replays the value bit-for-bit —
    * floor(x+0.5), NOT round(), because round-half semantics differ
    * across engines at negative halves while floor never does.
    * Zero-norm vectors score 0 by contract. */
  private def microCos(d: Long, na: Long, nb: Long): Long =
    if (na == 0L || nb == 0L) 0L
    else math.floor(
      d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
        * 1000000.0 + 0.5).toLong

  /** Margin-based nearest-match mining (the ratio margin of Artetxe &
    * Schwenk, "Margin-based Parallel Corpus Mining", ACL 2019): for
    * each query x, the best corpus match y by
    *
    *   margin(x,y) = cos(x,y) / ((avgFwd(x) + avgBwd(y)) / 2)
    *
    * where avgFwd(x) = mean cosine over x's k nearest corpus rows and
    * avgBwd(y) = mean cosine over y's k nearest QUERY rows; matches
    * with margin below `minMargin` (or a non-positive denominator —
    * an anti-correlated neighborhood has no meaningful margin) are
    * dropped. The margin normalizes each pair by how "hubby" both
    * endpoints are: raw cosine thresholds over-select hub vectors
    * that are near everything, the classic failure of
    * cosine-threshold bitext/pair mining.
    *
    * Output: (query_id, match_id, cos, margin) — at most one row per
    * query. Rows whose ids collide across the two sides never match
    * themselves (the [[bruteForceTopK]] self-exclusion contract).
    *
    * Scale shape: `queries` is the SMALL side (the contract of
    * [[bruteForceTopK]]: past 65,536 rows the call fails) — collected
    * once and shipped per executor; the corpus streams through ONE
    * scan that computes the Q micro-quantized cosines per row and
    * feeds (a) per-query forward bounded heaps and (b) that same
    * row's backward top-k statistic over the query set — the backward
    * pass costs nothing extra because the Q cosines are in hand. Only
    * parts × Q × k candidate tuples ever leave the scan; no N×Q
    * matrix, no corpus shuffle. For corpus×corpus mining at 100 TB,
    * run per query-shard — each shard is one scan — or feed ANN
    * shortlists ([[ivfPqTopK]]) as the candidate source and rescore.
    *
    * Exactness: cosines are micro-quantized ([[microCos]]) and the
    * margin is ONE double division of exactly-represented integers —
    * margin = 2·nF·nB·cosq / (nB·sumF + nF·sumB), the paper's formula
    * when both neighbor lists are full (nF = nB = k) and the
    * count-weighted generalization when the corpus or query side has
    * fewer than k rows — so a SQL oracle replays result AND rank
    * order bit-for-bit. */
  def marginMine(corpus: DataFrame, queries: DataFrame, k: Int,
                 minMargin: Double = 1.0,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"marginMine: k must be >= 1, got $k")
    val spark = corpus.sparkSession
    val qRows: Array[(Long, Array[Long])] = SmallSide.orFail(queries
        .filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long"), col(vecCol).cast("array<float>")),
      "marginMine", "query side",
      "split the query batch into shards; each shard is one corpus scan")
      .map(r => (r.getLong(0), quantize1000(r.getSeq[Float](1).toArray)))
    val bc = spark.sparkContext.broadcast(qRows)

    val candidates = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>")).rdd
      .mapPartitions { it =>
        val qs = bc.value
        val qNb: Array[Long] = qs.map(q => longDot(q._2, q._2))
        // forward heaps: worst-first (lowest cosq, then largest id at
        // the head) per query; entries carry the candidate's backward
        // statistic so it never needs a second corpus pass
        val heaps = qs.map(_ => new scala.collection.mutable.PriorityQueue[(Long, Long, Long, Long)]()(
          Ordering.by[(Long, Long, Long, Long), (Long, Long)] {
            case (cq, id, _, _) => (-cq, id)
          }))
        val cosRow = new Array[Long](qs.length)
        it.foreach { r =>
          val id = r.getLong(0)
          val qv = quantize1000(r.getSeq[Float](1).toArray)
          val na = longDot(qv, qv)
          var qi = 0
          while (qi < qs.length) {
            cosRow(qi) =
              if (qs(qi)._1 == id) Long.MinValue // self: excluded both directions
              else microCos(longDot(qv, qs(qi)._2), na, qNb(qi))
            qi += 1
          }
          // backward top-k over this row's query cosines (selection by
          // partial sort of a copy — Q is broadcast-small by contract)
          val sorted = cosRow.filter(_ != Long.MinValue).sorted(Ordering[Long].reverse)
          val bCnt = math.min(k, sorted.length)
          var bSum = 0L; var bi = 0
          while (bi < bCnt) { bSum += sorted(bi); bi += 1 }
          qi = 0
          while (qi < qs.length) {
            val cq = cosRow(qi)
            if (cq != Long.MinValue) {
              val h = heaps(qi)
              if (h.size < k) h.enqueue((cq, id, bSum, bCnt.toLong))
              else {
                val (wc, wid, _, _) = h.head
                if (cq > wc || (cq == wc && id < wid)) {
                  h.dequeue(); h.enqueue((cq, id, bSum, bCnt.toLong))
                }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (cq, id, bSum, bCnt) =>
            Row(qs(qi)._1, id, cq, bSum, bCnt)
          }
        }
      }
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("match_id", LongType, nullable = false),
      StructField("cosq", LongType, nullable = false),
      StructField("bwd_sum", LongType, nullable = false),
      StructField("bwd_cnt", LongType, nullable = false)))
    val candDf = spark.createDataFrame(candidates, schema)

    // global forward top-k (merges the per-partition heaps), then the
    // forward sums as a window over the same query_id partition — no
    // join, so no build side for AQE to pick; everything below operates
    // on ≤ parts·Q·k rows
    val byQuery = Window.partitionBy("query_id")
    val topk = candDf
      .withColumn("__r", row_number().over(
        byQuery.orderBy(col("cosq").desc, col("match_id").asc)))
      .filter(col("__r") <= k)
      .withColumn("fwd_sum", sum(col("cosq")).over(byQuery))
      .withColumn("fwd_cnt", count(lit(1)).over(byQuery))
    val num = lit(2L) * col("fwd_cnt") * col("bwd_cnt") * col("cosq")
    val den = col("bwd_cnt") * col("fwd_sum") + col("fwd_cnt") * col("bwd_sum")
    val wBest = byQuery.orderBy(col("margin").desc, col("match_id").asc)
    topk
      .filter(den > 0L)
      .withColumn("margin", num.cast("double") / den.cast("double"))
      .withColumn("__b", row_number().over(wBest))
      .filter(col("__b") === 1 && col("margin") >= minMargin)
      .select(col("query_id"), col("match_id"),
        (col("cosq").cast("double") / lit(1000000.0)).as("cos"),
        col("margin"))
  }

  /** Exact top-k, fully declarative: broadcast-nested-loop score +
    * window rank. Scores are computed on integer-quantized vectors
    * (x→round(1000x)) so the ranking key sign(d)·d²/(|a|²|b|²) is an
    * exact-integer-derived double — bit-identical in any IEEE engine,
    * which makes the result independently verifiable by SQL oracle.
    */
  def bruteForceTopKSql(corpus: DataFrame, queries: DataFrame, k: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def quant(c: org.apache.spark.sql.Column) =
      transform(c, x => round(x.cast("double") * 1000.0, 0).cast("long"))
    def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

    val c = corpus.select(col(idCol).as("neighbor_id"), quant(col(vecCol)).as("qv"))
    val q = queries.select(col(idCol).as("query_id"), quant(col(vecCol)).as("qq"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("d", idot(col("qv"), col("qq")).cast("double"))
      .withColumn("na", idot(col("qv"), col("qv")).cast("double"))
      .withColumn("nb", idot(col("qq"), col("qq")).cast("double"))
      .withColumn("score",
        when(col("na") === 0 || col("nb") === 0, lit(0.0))
          .otherwise(signum(col("d")) * col("d") * col("d") / (col("na") * col("nb"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** IVF (inverted-file) top-k: a seeded KMeans coarse quantizer
    * partitions the corpus into `nCells` cells; each query probes only
    * its `nProbe` nearest cells, then exact cosine + rank within those
    * candidates. The classic trade: recall grows with nProbe, compute
    * shrinks by ~nCells/nProbe versus brute force.
    *
    * Scale: training samples the corpus (KMeans on the full 100 TB is
    * pointless — centroids converge on a sample); assignment is one
    * scan with a broadcast centroid array; the search side shuffles
    * only (query, cell) candidates. Identical vectors always share a
    * cell, so exact-duplicate recall is 1.0 by construction.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession

    // Coarse-quantizer training runs DRIVER-side on a bounded sample:
    // a 16–256-centroid Lloyd's over ≤16k vectors is milliseconds of
    // local compute, versus ~25 distributed jobs (k-means|| init + 20
    // iterations) for spark.ml KMeans whose per-job overhead dwarfs
    // the arithmetic at any scale — centroids converge on a sample
    // regardless of corpus size.
    val train = trainSample(corpus, vecCol, seed)
    val centers = lloydKMeans(train, nCells, iters = 15, seed)
    val bc = spark.sparkContext.broadcast(centers)

    val cellOf = udf((v: Seq[Float]) => nearestCell(v.toArray, 0, bc.value))
    val probesOf = udf((v: Seq[Float]) => probeCells(v.toArray, bc.value, nProbe))

    val cells = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell", cellOf(col("cv")))
    val probed = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probesOf(col("qv"))))
    val cand = cells.join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", GraftFunctions.graft_cosine(col("cv"), col("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Rows in every driver-side training sample ([[trainSample]]): a
    * 16–256-centroid Lloyd's over this many vectors converges at any
    * corpus size. */
  private val MaxTrainRows = 16384

  /** Bounded driver-side training sample for codebook/centroid
    * estimation: at most [[MaxTrainRows]] vectors, drawn uniformly.
    *
    * A bare `limit` would take the first rows in file order, and on a
    * corpus sorted or clustered by content that trains biased
    * codebooks (unbalanced IVF cells, poor PQ quantization). So the
    * corpus is counted first — one count() over the id-only
    * projection, parquet-metadata cheap — and, past the cap, sampled
    * at 4× the cap over its size, so the draw reaches the cap with
    * near-certainty. The count stays because it sizes that fraction:
    * without it the only uniform draw is `orderBy(rand).limit` over
    * the whole corpus, which funnels partitions × the cap vectors
    * into one task. */
  private[graft] def trainSample(corpus: DataFrame, vecCol: String,
                                 seed: Long): Array[Array[Float]] = {
    val n = corpus.count()
    val base =
      if (n <= MaxTrainRows) corpus
      else corpus.sample(withReplacement = false,
        math.min(1.0, MaxTrainRows * 4.0 / n), seed)
    // shuffle BEFORE the limit: CollectLimit drains partitions in
    // order, so `sample.limit(max)` would keep only the sampled rows
    // from the FIRST partitions — reintroducing the head-of-table bias
    // the uniform sample exists to remove. The rand sort touches only
    // the ~4×MaxTrainRows sampled rows, not the corpus.
    // null vectors are unscoreable rows, not training signal — without
    // this filter a single null landing in the sample NPEs the
    // driver-side toArray below before any caller-side null handling
    base.select(col(vecCol).cast("array<float>"))
      .filter(col(vecCol).isNotNull)
      .orderBy(rand(seed + 1)).limit(MaxTrainRows)
      .collect().map(_.getSeq[Float](0).toArray)
  }

  /** Squared L2 distance between `a(off until off + b.length)` and `b`,
    * in double arithmetic — THE distance of every nearest-centroid
    * decision (k-means, IVF cells and probes, PQ sub-codes, the Dedup
    * cells). Bounded: it stops accumulating once the partial sum
    * reaches `bound`. EXACT for argmin/under-bound tests — terms are
    * non-negative, so a partial ≥ bound implies the total is too, and
    * a completed sum is the full IEEE-identical value. Halves the
    * assignment work at k=16 without moving a single centroid bit. */
  private[graft] def d2(a: Array[Float], off: Int, b: Array[Float],
                        bound: Double = Double.MaxValue): Double = {
    var s = 0.0; var i = 0
    while (i < b.length && s < bound) {
      val t = a(off + i).toDouble - b(i); s += t * t; i += 1
    }
    s
  }

  /** Index of the centroid of `cs` nearest to `v(off until off + dim)`
    * by [[d2]], ties to the lowest index. The winner's sum always runs
    * to completion, so the choice is the same as with unbounded sums. */
  private[graft] def nearestCell(v: Array[Float], off: Int,
                                 cs: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val d = d2(v, off, cs(c), bestD)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `n` centroids of `cs` nearest to `v` by [[d2]], nearest first,
    * ties to the lower index — an IVF query's probe list. */
  private def probeCells(v: Array[Float], cs: Array[Array[Float]],
                         n: Int): Array[Int] = {
    val ds = cs.map(d2(v, 0, _))
    cs.indices.sortBy(ds(_)).take(n).toArray
  }

  /** Deterministic k-means++ seeding + Lloyd's iterations, local.
    * Empty clusters keep their previous center. Double accumulation,
    * float centroids (matching the stored embedding precision). */
  private[graft] def lloydKMeans(points: Array[Array[Float]], k: Int,
                                      iters: Int, seed: Long): Array[Array[Float]] = {
    require(points.nonEmpty, "ivf: empty training sample")
    val dim = points(0).length
    val rnd = new java.util.Random(seed)
    // k-means++: first center uniform, then proportional to d² to the
    // nearest chosen center
    val kk = math.min(k, points.length)
    val centers = Array.ofDim[Array[Float]](kk)
    centers(0) = points(rnd.nextInt(points.length)).clone()
    val minD2 = points.map(d2(_, 0, centers(0)))
    var c = 1
    while (c < kk) {
      val total = minD2.sum
      var pick = points.length - 1
      if (total > 0) {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < points.length && r >= 0) { r -= minD2(i); if (r < 0) pick = i; i += 1 }
      }
      centers(c) = points(pick).clone()
      var i = 0
      while (i < points.length) {
        val d = d2(points(i), 0, centers(c), minD2(i))
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
      c += 1
    }
    // Lloyd's
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var i = 0
      while (i < points.length) {
        val p = points(i)
        val best = nearestCell(p, 0, centers)
        counts(best) += 1
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        i += 1
      }
      var ci = 0
      while (ci < kk) {
        if (counts(ci) > 0) {
          val s = sums(ci); val n = counts(ci).toDouble
          val nc = new Array[Float](dim)
          var j = 0
          while (j < dim) { nc(j) = (s(j) / n).toFloat; j += 1 }
          centers(ci) = nc
        }
        ci += 1
      }
      it += 1
    }
    centers
  }

  /** ADC lookup table of `v` (a query, or a query's residual in an
    * IVF cell): `lut(j*ksub + c) = ||v_sub_j − cb(j)(c)||²`, m·ksub
    * partial distances built once per partition and amortized over
    * every row in it. Float differences and products, double sums:
    * the table's sums ARE the `approx_dist` output, so this arithmetic
    * is pinned by the recorded results. */
  private def adcLut(v: Array[Float], cb: Array[Array[Array[Float]]],
                     ksub: Int): Array[Double] = {
    val m = cb.length; val sub = cb(0)(0).length
    val lut = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      val cbj = cb(j)
      var c = 0
      while (c < cbj.length) {
        var d = 0.0; var i = 0
        val e = cbj(c)
        while (i < sub) { val t = v(j * sub + i) - e(i); d += t * t; i += 1 }
        lut(j * ksub + c) = d
        c += 1
      }
      j += 1
    }
    lut
  }

  /** Asymmetric distance of one code row: the sum of its m LUT entries. */
  private def adcDist(lut: Array[Double], codes: Array[Byte], ksub: Int): Double = {
    var d = 0.0; var j = 0
    while (j < codes.length) { d += lut(j * ksub + (codes(j) & 0xFF)); j += 1 }
    d
  }

  /** PQ sub-codes of `v` (a vector, or its IVF residual): per subspace
    * j, the nearest of the `cb(j)` sub-centroids ([[nearestCell]]). */
  private def subCodes(v: Array[Float], cb: Array[Array[Array[Float]]]): Array[Byte] = {
    val sub = cb(0)(0).length
    Array.tabulate(cb.length)(j => nearestCell(v, j * sub, cb(j)).toByte)
  }

  /** `v − c`, in float: the quantity IVF-PQ encodes and probes. */
  private def residual(v: Array[Float], c: Array[Float]): Array[Float] =
    Array.tabulate(v.length)(i => v(i) - c(i))

  /** Final ranking shared by the PQ tiers, over a [[topKScan]] of
    * negated ADC distances (IEEE negation is exact, so `approx_dist`
    * is the ADC sum bit for bit and (score desc, id asc) is
    * (dist asc, id asc)). Either rank the ADC candidates directly
    * (`rerank` = 0), or exact-rerank refinement (the IVFADC+R shape):
    * the scan kept the top-`rerank` ADC shortlist per query; re-score
    * it EXACTLY (squared L2 against the raw vectors) and re-rank.
    * Recall then depends on shortlist MEMBERSHIP (did the true
    * neighbor survive into the top-`rerank` by code distance — much
    * weaker than needing codes to order the top-k correctly), not on
    * code granularity. Cost at scale: the ≤ `rerank`·Q-row shortlist
    * broadcasts into ONE extra column-pruned (id, vector) corpus scan
    * — the raw vectors stay in storage, exactly the IVFADC+R storage
    * discipline; nothing quadratic, no corpus shuffle. After a rerank,
    * `approx_dist` holds the EXACT squared L2 of the surviving
    * candidates (the column name is the stable schema contract across
    * the ANN tiers; clamped at 0 against float cancellation on
    * near-identical vectors). */
  private def rankPqCandidates(corpus: DataFrame, queries: DataFrame,
      scanned: DataFrame, k: Int, rerank: Int,
      idCol: String, vecCol: String): DataFrame =
    if (rerank <= 0) {
      scanned.select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("score")).as("approx_dist"))
    } else {
      val short = scanned.select("query_id", "neighbor_id")
      val qv = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<float>").as("__qv"))
      val exact = corpus
        .select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).cast("array<float>").as("__nv"))
        .join(broadcast(short), Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("approx_dist", greatest(lit(0.0),
          GraftFunctions.graft_dot(col("__nv"), col("__nv"))
            - lit(2.0) * GraftFunctions.graft_dot(col("__nv"), col("__qv"))
            + GraftFunctions.graft_dot(col("__qv"), col("__qv"))))
      val w = Window.partitionBy("query_id")
        .orderBy(col("approx_dist").asc, col("neighbor_id").asc)
      exact.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "approx_dist")
    }

  /** Product-quantization top-k by asymmetric distance (ADC).
    *
    * The memory-bound scale path: the corpus is held as m sub-codes
    * (m bytes/vector vs 4·dim — a 32× compression at dim=64/m=8), so a
    * 100 TB float corpus becomes ~3 TB of codes that fit executor
    * memory where raw vectors cannot. Sub-codebooks (m × ksub × dim/m)
    * train driver-side on a bounded sample — see [[lloydKMeans]];
    * encoding is one scan; search builds per-query lookup tables ONCE
    * per partition (the ADC trick: m·ksub partial distances per query,
    * amortized over every row in the partition) and streams codes
    * through the bounded per-query heaps of [[topKScan]].
    *
    * Output: (query_id, rank, neighbor_id, approx_dist) — approximate
    * squared L2, ascending. Identical vectors share codes, so an exact
    * duplicate attains the minimal ADC distance (the query's own
    * quantization residual) and ranks first.
    *
    * `rerank > 0` enables the exact-rerank refinement (IVFADC+R
    * shape): the ADC pass keeps a shortlist of `rerank` ≥ k candidates
    * per query, which is then re-scored EXACTLY against the raw
    * vectors and re-ranked — recall becomes bounded by shortlist
    * membership rather than code granularity, for one extra targeted
    * (id, vector) corpus scan. See [[rankPqCandidates]].
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, rerank: Int = 0, seed: Long = 42L,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    require(rerank == 0 || rerank >= k,
      s"pq: rerank=$rerank must be 0 (off) or >= k=$k — a shortlist smaller " +
        "than k cannot produce k reranked results")
    val shortK = if (rerank > 0) rerank else k
    val train = trainSample(corpus, vecCol, seed)
    require(train.nonEmpty, "pq: empty training sample")
    require(ksub >= 2 && ksub <= 256,
      s"pq: ksub=$ksub — codes are stored as one byte per subspace, so at " +
        "most 256 sub-centroids (values past 255 would silently wrap and " +
        "score against the wrong LUT entries)")
    val dim = train(0).length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val sub = dim / m
    // per-subspace codebooks over the sample's subvectors
    val codebooks: Array[Array[Array[Float]]] = Array.tabulate(m) { j =>
      val subVecs = train.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      lloydKMeans(subVecs, ksub, iters = 15, seed + j)
    }
    val bcCb = spark.sparkContext.broadcast(codebooks)
    val encode = udf((v: Seq[Float]) => subCodes(v.toArray, bcCb.value))
    val encoded = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        encode(col(vecCol).cast("array<float>")).as("codes"))
    val qRows = queryRows("pqTopK", queries, idCol, vecCol)
    val scanned = topKScan(encoded, qRows, shortK) { qs =>
      val cb = bcCb.value
      val luts = qs.map(q => adcLut(q.vec, cb, ksub))
      val all = qs.indices.toArray
      new RowScorer {
        private var codes: Array[Byte] = _
        def load(r: Row): Array[Int] = {
          codes = r.getAs[Array[Byte]](1)
          all
        }
        def score(qi: Int): Double = -adcDist(luts(qi), codes, ksub)
      }
    }
    rankPqCandidates(corpus, queries, scanned, k, rerank, idCol, vecCol)
  }

  /** Trained IVF-PQ model: coarse centroids + per-subspace RESIDUAL
    * codebooks. Deterministic for (corpus, params, seed) — both the
    * inline [[ivfPqTopK]] and the persisted-index pair
    * [[buildIvfPqIndex]]/[[ivfPqTopKIndexed]] go through this one
    * trainer and one encoder, so indexed ≡ fresh by construction. */
  private[graft] final case class IvfPqModel(
      centers: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]) {
    val dim: Int = centers(0).length
  }

  private def trainIvfPqModel(corpus: DataFrame, nCells: Int, m: Int,
      ksub: Int, seed: Long, vecCol: String): IvfPqModel = {
    val train = trainSample(corpus, vecCol, seed)
    require(train.nonEmpty, "ivfpq: empty training sample")
    require(ksub >= 2 && ksub <= 256,
      s"ivfpq: ksub=$ksub — byte codes cap sub-centroids at 256 (wrap would " +
        "silently score against the wrong LUT entries)")
    val dim = train(0).length
    require(dim % m == 0, s"ivfpq: dim $dim not divisible by m=$m")
    val sub = dim / m
    val centers = lloydKMeans(train, nCells, iters = 15, seed)
    // sub-codebooks over training RESIDUALS (the quantities encoded)
    val residuals = train.map(v => residual(v, centers(nearestCell(v, 0, centers))))
    val codebooks: Array[Array[Array[Float]]] = Array.tabulate(m) { j =>
      val subVecs = residuals.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      lloydKMeans(subVecs, ksub, iters = 15, seed + j)
    }
    IvfPqModel(centers, codebooks)
  }

  /** The model's two broadcast handles — created ONCE per operator
    * call and passed to every stage that needs them (encode + search
    * in the inline path), not re-broadcast per stage: broadcasts live
    * until context shutdown, so duplicates pin doubled driver/
    * BlockManager bookkeeping for the whole session. */
  private def broadcastModel(spark: SparkSession, model: IvfPqModel):
      (org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
       org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]]) =
    (spark.sparkContext.broadcast(model.centers),
      spark.sparkContext.broadcast(model.codebooks))

  /** One scan: cell assignment + residual PQ encoding together →
    * (id, cell, codes). Null vectors drop. */
  private def ivfPqEncode(corpus: DataFrame,
      bc: (org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
           org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]]),
      idCol: String, vecCol: String): DataFrame = {
    val (bcCenters, bcCb) = bc
    val encode = udf { (v: Seq[Float]) =>
      val cs = bcCenters.value
      val vv = v.toArray
      val cell = nearestCell(vv, 0, cs)
      (cell, subCodes(residual(vv, cs(cell)), bcCb.value))
    }
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        encode(col(vecCol).cast("array<float>")).as("cc"))
      .select(col("id"), col("cc._1").as("cell"), col("cc._2").as("codes"))
  }

  /** IVF-PQ top-k: the combined billion-scale tier — IVF's candidate
    * restriction (probe `nProbe` of `nCells` cells) AND PQ's memory
    * compression (m-byte residual codes instead of 4·dim-byte
    * vectors), completing the ladder flat → LSH → IVF → PQ → IVF-PQ.
    *
    * Classic residual quantization: each corpus vector stores (cell,
    * PQ codes of v − centroid[cell]); a query probing cell c builds an
    * ADC lookup table against (q − centroid[c]) — one table per
    * (query, probed cell), m·ksub entries, built once per partition
    * and amortized over every row in it. Scan-side work per row is
    * m LUT adds for the queries probing that row's cell; rows in
    * unprobed cells cost one array lookup. Bounded per-query heaps as
    * in [[pqTopK]]; the final rank sorts only parts × Q × k
    * candidates. `rerank > 0` adds the exact-rerank refinement
    * (IVFADC+R) — see [[rankPqCandidates]].
    *
    * Output: (query_id, rank, neighbor_id, approx_dist) — approximate
    * squared L2 ascending. An exact duplicate of the query lands in
    * the query's nearest cell with the query's own residual codes
    * (encode and probe pick cells with the same [[nearestCell]] /
    * [[probeCells]] kernel), so it attains the minimal ADC distance
    * and ranks first — recall on identical twins is ≥ the IVF-alone
    * tier at equal probe budget (pinned by AnnSpec).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 16, rerank: Int = 0, seed: Long = 42L,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank == 0 || rerank >= k,
      s"ivfpq: rerank=$rerank must be 0 (off) or >= k=$k — a shortlist " +
        "smaller than k cannot produce k reranked results")
    val model = trainIvfPqModel(corpus, nCells, m, ksub, seed, vecCol)
    val bc = broadcastModel(corpus.sparkSession, model)
    val encoded = ivfPqEncode(corpus, bc, idCol, vecCol)
    ivfPqSearchStage(encoded, corpus, queries,
      queryRows("ivfPqTopK", queries, idCol, vecCol), bc, ksub, k, nProbe,
      rerank, idCol, vecCol)
  }

  /** ADC scan + rank over a pre-encoded (id, cell, codes) frame —
    * shared by the inline and persisted-index paths. A row is scored
    * only against the queries probing its cell, which is why the
    * indexed path may prune unprobed cells from the scan entirely. */
  private def ivfPqSearchStage(encoded: DataFrame, corpus: DataFrame,
      queries: DataFrame, qRows: Array[Query],
      bc: (org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
           org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]]),
      ksub: Int, k: Int, nProbe: Int, rerank: Int,
      idCol: String, vecCol: String): DataFrame = {
    val shortK = if (rerank > 0) rerank else k
    val (bcCenters, bcCb) = bc
    val scanned = topKScan(encoded, qRows, shortK) { qs =>
      val cs = bcCenters.value
      val cb = bcCb.value
      // lutOf(qi)(cell): query qi's ADC LUT against its residual in a
      // cell it probes; null for the cells it skips
      val lutOf: Array[Array[Array[Double]]] = qs.map { q =>
        val l = new Array[Array[Double]](cs.length)
        probeCells(q.vec, cs, nProbe).foreach { c =>
          l(c) = adcLut(residual(q.vec, cs(c)), cb, ksub)
        }
        l
      }
      // probers(cell): the queries probing that cell, ascending
      val probers: Array[Array[Int]] = Array.tabulate(cs.length) { c =>
        qs.indices.filter(lutOf(_)(c) != null).toArray
      }
      new RowScorer {
        private var cell = 0
        private var codes: Array[Byte] = _
        def load(r: Row): Array[Int] = {
          cell = r.getInt(1)
          codes = r.getAs[Array[Byte]](2)
          probers(cell)
        }
        def score(qi: Int): Double = -adcDist(lutOf(qi)(cell), codes, ksub)
      }
    }
    rankPqCandidates(corpus, queries, scanned, k, rerank, idCol, vecCol)
  }

  /** Build and PERSIST an IVF-PQ index: train once, encode once,
    * write once — every later query batch pays an index scan instead
    * of retraining codebooks and re-encoding the corpus (the dd14
    * incremental pattern applied to vector search; at 100 TB the
    * encode pass is the dominant cost and amortizing it across query
    * batches is the production deployment shape).
    *
    * Layout under `dir`:
    *  - `codes/` — (id, codes) parquet PARTITIONED BY the IVF cell:
    *    a query batch probing p of nCells cells reads only those
    *    partition directories (Spark partition pruning on the scan —
    *    plan-asserted in AnnSpec), so probe selectivity becomes I/O
    *    selectivity, which the inline path cannot offer;
    *  - `codebooks/` — the model, a few KB: one row per coarse
    *    centroid (kind 0) and per sub-codebook entry (kind 1), plus
    *    the params string `nCells/m/ksub/seed/dim` on every row —
    *    [[ivfPqTopKIndexed]] refuses parameter drift loudly, the
    *    params-guard discipline of the dedup signature index.
    *
    * Training and encoding are the SAME code as [[ivfPqTopK]]
    * (one trainer, one encoder), so querying the index reproduces the
    * inline result row-for-row at equal parameters — spec-pinned. */
  def buildIvfPqIndex(corpus: DataFrame, dir: String,
                      nCells: Int = 16, m: Int = 8, ksub: Int = 16,
                      seed: Long = 42L,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val model = trainIvfPqModel(corpus, nCells, m, ksub, seed, vecCol)
    val params = s"$nCells/$m/$ksub/$seed/${model.dim}"
    val cbRows =
      model.centers.zipWithIndex.map { case (v, c) =>
        (0, c, 0, v.toSeq, params)
      } ++
      model.codebooks.zipWithIndex.flatMap { case (cbj, j) =>
        cbj.zipWithIndex.map { case (v, ci) => (1, j, ci, v.toSeq, params) }
      }
    import spark.implicits._
    cbRows.toSeq.toDF("kind", "idx1", "idx2", "vec", "params")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    ivfPqEncode(corpus, broadcastModel(spark, model), idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
  }

  /** [[ivfPqTopK]] against a prebuilt [[buildIvfPqIndex]] directory —
    * no training, no encode pass: the model loads from `codebooks/`
    * (KBs), the query batch's probe-cell UNION is computed
    * driver-side against the loaded centroids, and the `codes/` scan
    * is FILTERED to those cells — partition pruning turns probe
    * selectivity into I/O selectivity (rows in unprobed cells would
    * score nothing anyway, so pruning them is result-invariant).
    * `corpus` supplies raw vectors for the exact rerank stage only
    * (`rerank = 0` never reads it). Row-identical to the inline path
    * at equal (params, seed) by shared-trainer construction;
    * parameter drift against the stored params string fails loudly. */
  def ivfPqTopKIndexed(spark: SparkSession, dir: String,
                       queries: DataFrame, corpus: DataFrame, k: Int,
                       nCells: Int = 16, nProbe: Int = 4,
                       m: Int = 8, ksub: Int = 16, rerank: Int = 0,
                       seed: Long = 42L,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(rerank == 0 || rerank >= k,
      s"ivfpq-indexed: rerank=$rerank must be 0 (off) or >= k=$k")
    val cbDf = spark.read.parquet(s"$dir/codebooks")
    val rows = cbDf.select("kind", "idx1", "idx2", "vec", "params").collect()
    require(rows.nonEmpty, s"ivfpq-indexed: empty codebooks at $dir")
    val storedParams = rows(0).getString(4)
    val centers = rows.filter(_.getInt(0) == 0).sortBy(_.getInt(1))
      .map(_.getSeq[Float](3).toArray)
    val dim = centers(0).length
    val want = s"$nCells/$m/$ksub/$seed/$dim"
    require(storedParams == want,
      s"ivfpq-indexed: index at $dir was built with params $storedParams, " +
        s"query side uses $want — rebuild the index or match the parameters")
    val codebooks = Array.tabulate(m) { j =>
      rows.filter(r => r.getInt(0) == 1 && r.getInt(1) == j)
        .sortBy(_.getInt(2)).map(_.getSeq[Float](3).toArray)
    }
    // union of every query's probe set, computed driver-side against
    // the loaded centroids from the scan's own query rows (one
    // collect) — the codes scan reads ONLY these cells
    val qRows = queryRows("ivfPqTopKIndexed", queries, idCol, vecCol)
    val probedCells: Array[Int] = qRows
      .flatMap(q => probeCells(q.vec, centers, nProbe))
      .distinct.sorted
    val encoded = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
      .select("id", "cell", "codes")
    ivfPqSearchStage(encoded, corpus, queries, qRows,
      broadcastModel(spark, IvfPqModel(centers, codebooks)), ksub,
      k, nProbe, rerank, idCol, vecCol)
  }

  /** Approximate top-k: SRP-LSH bucket join (multi-table for recall)
    * restricts candidates, then exact cosine + rank within candidates.
    *
    * `probes > 1` enables query-directed multiprobe: each query also
    * joins the buckets reached by flipping its `probes − 1`
    * lowest-|margin| hyperplane bits per table. Probing is strictly
    * QUERY-side — the corpus index stays one bucket per table, so
    * recall grows (candidate superset ⇒ monotone, spec-pinned)
    * without any extra corpus-side replication, the multiprobe
    * alternative to adding tables at 100 TB.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 8, tables: Int = 4, probes: Int = 1, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probes >= 1 && probes <= nBits + 1,
      s"lsh: probes=$probes must be in [1, nBits+1=${nBits + 1}] — single-bit " +
        "flips of an nBits code reach at most nBits+1 distinct buckets")
    def bucketed(df: DataFrame, idAs: String, vecAs: String) = {
      val buckets = (0 until tables).map { t =>
        struct(lit(t).as("t"),
          GraftFunctions.graft_srp_bucket(col(vecCol), nBits, seed + t * 7919L).as("h"))
      }
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        explode(array(buckets: _*)).as("bk"))
    }
    val c = bucketed(corpus, "neighbor_id", "cv")
    val q =
      if (probes == 1) bucketed(queries, "query_id", "qv")
      else {
        val perTable = (0 until tables).map { t =>
          transform(
            GraftFunctions.graft_srp_probes(col(vecCol), nBits, seed + t * 7919L, probes),
            h => struct(lit(t).as("t"), h.as("h")))
        }
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          explode(flatten(array(perTable: _*))).as("bk"))
      }
    val cand = c.join(broadcast(q), Seq("bk"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "cv", "qv")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("score", GraftFunctions.graft_cosine(col("cv"), col("qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }
}
