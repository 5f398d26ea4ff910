package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation.
  *
  * The production use: rank DOMAINS/HOSTS by link authority to
  * prioritize crawling and weight training data (the CommonCrawl
  * harmonic-centrality/PageRank discipline) — a quality signal no
  * per-document score can provide, because it lives in the graph
  * structure between sources.
  */
object Graph {

  /** FIXED-POINT PageRank: the classic damped recursion evaluated in
    * scaled INTEGER arithmetic, so the result is deterministic to the
    * last bit at any partitioning, any cluster size, and any engine —
    * integer sums are order-free where float sums are not, which is
    * what makes this variant independently verifiable (a DuckDB
    * oracle replays every iteration exactly) and reproducible across
    * reruns of a 1000-executor job.
    *
    * Ranks are maintained as `r_fp = r · scale` (BIGINT). Per
    * iteration, with N = node count and damping d = dampNum/dampDen:
    *
    *   contrib(u→v) = r_fp(u) DIV outdeg(u)
    *   dangShare    = (Σ_{outdeg(u)=0} r_fp(u)) DIV N
    *   r_fp'(v)     = ((scale DIV N) · (dampDen − dampNum)) DIV dampDen
    *                + ((inflow(v) + dangShare) · dampNum) DIV dampDen
    *
    * Every DIV floors a positive value, so each iteration's result is
    * within numIter·N/scale of the real-valued recursion (≤ 1e-9·N
    * rank units at the default scale 10¹²) — bias, not noise: the
    * same everywhere, every time. Total mass shrinks by the dropped
    * remainders instead of drifting randomly.
    *
    * Graph contract: edges de-duplicate, self-loops and null
    * endpoints drop, the node set is src ∪ dst. Output: (id, rank_fp,
    * rank) with rank = rank_fp/scale rounded to 6dp for human eyes
    * and rank_fp the exact value (the cross-engine comparison key —
    * BIGINT on both sides; a raw double in oracle output would be
    * the only one in the query set and serves no purpose).
    *
    * Scale shape: the canonical distributed PageRank — one shuffle
    * per iteration keyed on the destination (inflow aggregate,
    * map-side combined) plus a scalar dangling-mass aggregate; the
    * edge table (id, deg) is computed once. Like `Bpe.train`, this is
    * an ITERATIVE operator: it runs ~2 jobs per iteration and
    * truncates lineage each round (the duplicateClusters discipline),
    * so construction is NOT lazy. Host graphs are small relative to
    * the corpora they rank (10⁸ hosts vs 10¹¹ pages), and iterations
    * are O(edges). */
  def pageRankFp(edges: DataFrame, srcCol: String, dstCol: String,
                 numIter: Int = 3, scale: Long = 1000000000000L,
                 dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(numIter >= 1, s"pageRankFp: numIter must be >= 1, got $numIter")
    require(scale >= 1000000L, s"pageRankFp: scale must be >= 1e6, got $scale")
    require(dampNum > 0 && dampDen > dampNum,
      s"pageRankFp: need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    val spark = edges.sparkSession
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    // eT/deg are multi-consumer (every iteration's inflow join + the
    // dangling anti-join) so their lineage truncates, but LAZILY —
    // blocks materialize inside the final job on first use. nodes
    // stays eager: the count() below forces it regardless.
    val eT = e.localCheckpoint(false)
    val nodes = trunc(
      eT.select(col("src").as("id")).union(eT.select(col("dst").as("id"))).distinct())
    val deg = eT.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val n = nodes.count()
    if (n == 0L)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rank_fp",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.DoubleType))))

    val base = ((scale / n) * (dampDen - dampNum)) / dampDen
    var ranks = nodes.select(col("id"), lit(scale / n).as("r"))
    for (_ <- 1 to numIter) {
      // dangling mass stays a LAZY 1-row aggregate attached by a
      // broadcast cross join (the cur24 rate-table idiom) instead of a
      // per-iteration collect(): same exact BIGINT value feeds the
      // same DIV, but the whole recursion now plans as one query —
      // numIter collect-jobs and numIter eager-checkpoint jobs down
      // to the caller's single action (measured 2.3 s → one job at
      // bench scale). SQL `x DIV y` on non-negative longs floors like
      // the collected Scala `/` did, so the recursion is bit-identical.
      val dang = ranks.join(deg, Seq("id"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("__dang"))
      val inflow = ranks.join(deg, "id")
        .join(eT, col("id") === col("src"))
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("c")).as("inflow"))
      // Column `/` is DOUBLE division — the integer recursion must go
      // through SQL DIV or the whole determinism claim dies here.
      // Lineage still truncates every round (each ranks_i is consumed
      // by BOTH next-round branches, and the plan would double per
      // iteration), but LAZILY: localCheckpoint(eager=false) cuts the
      // logical plan now and materializes blocks on first use inside
      // the one final job.
      ranks = nodes.join(inflow, Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .withColumn("__in",
          coalesce(col("inflow"), lit(0L)) + expr(s"__dang DIV ${n}L"))
        .select(col("id"),
          (lit(base) + expr(s"(__in * ${dampNum}L) DIV ${dampDen}L")).as("r"))
        .localCheckpoint(false)
    }
    ranks.select(col("id"), col("r").as("rank_fp"),
      round(col("r").cast("double") / scale.toDouble, 6).as("rank"))
  }

  /** Per-node TRIANGLE counts over the undirected simple graph —
    * the local-clustering signal of link analysis: organic
    * communities close triangles, link farms and spam rings mostly
    * do not, so triangles-per-degree separates embedded hosts from
    * bolted-on ones (the companion metric to [[pageRankFp]]'s global
    * authority).
    *
    * Exact and deterministic (pure integer counting — no float
    * anywhere), enumerated ONCE per triangle via DEGREE ORIENTATION
    * (Cohen's MapReduce scheme / Suri–Vassilvitskii): every edge
    * points from its lower (degree, id) endpoint to the higher, each
    * triangle becomes exactly one wedge at its lowest corner plus
    * one closing edge, and the wedge fan-out per node is bounded by
    * its ORIENTED out-degree ≤ O(√m) on any graph — the hot node of
    * a star graph (degree 10⁸, zero triangles) emits ZERO wedges
    * because every edge points INTO it; an id-ordered or unoriented
    * wedge join would fan it out quadratically. That bound is the
    * whole point at 100 TB: wedge volume is Σ out-deg² ≤ O(m^1.5)
    * worst-case, linear-ish on real power-law link graphs.
    *
    * Graph contract = [[pageRankFp]]'s: edges de-duplicate (after
    * canonicalizing direction), self-loops and null endpoints drop,
    * the node set is src ∪ dst; nodes in no triangle report 0.
    * Plan: two joins build the oriented adjacency with the target's
    * degree attached; one self-join on the source makes wedges; one
    * equi-join on (b, c) closes them; explode + count per corner.
    * All equi-joins, no BNL, no iteration, no driver state.
    *
    * Output: (id, triangles), one row per node. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // The canonical edge list, the degree table and the oriented
    // adjacency are each consumed by MULTIPLE downstream branches
    // (deg + orientation; nodes + two degree-attach joins; wedge x,
    // wedge y, closing edge). Left lazy, every branch re-runs the
    // dedup/degree/orientation pipeline from the scan — the executed
    // plan carried 54 Exchanges. Truncate each once (the pageRankFp
    // discipline): three small eager jobs, then wedges/closing/count
    // run over materialized blocks. Counts are exact integers either
    // way — this changes physical reuse only.
    val e0 = trunc(edges
      .select(col(srcCol).cast("long").as("__a"), col(dstCol).cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("u"),
        greatest(col("__a"), col("__b")).as("v"))
      .distinct())
    val deg = trunc(e0.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg")))
    val nodes = deg.select("id")
    // orient u↔v from the lower (deg, id) endpoint; carry the
    // target's degree so wedge ordering uses the SAME total order
    // (the closing edge exists iff (deg_b, b) < (deg_c, c))
    val withDeg = e0
      .join(deg.select(col("id").as("u"), col("deg").as("__du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("__dv")), "v")
    val uFirst = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("u") < col("v"))
    val oriented = trunc(withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t")))
    // EDGE-ITERATOR enumeration (Latapy's formulation of the same
    // degree-oriented algorithm): a triangle {a<b<c in (deg,id) order}
    // is found exactly once, at its a→b edge, as c ∈ N⁺(a) ∩ N⁺(b) —
    // both a→c and b→c are oriented edges by transitivity of the
    // total order. Replaces the wedge self-join + closing equi-join,
    // which MATERIALIZED Σ out-deg² wedge rows through an exchange
    // (~10M rows on the bench graph, most of which never close); the
    // intersection inspects the same wedges inside one codegen'd
    // array_intersect without shuffling them, and the only data-scaled
    // rows after it are the triangles themselves. Per-node adjacency
    // arrays are bounded by the oriented out-degree ≤ O(√m) — the same
    // bound the wedge fan-out relied on — and the adjacency JOIN is a
    // plain equi-join: broadcast when the oriented adjacency fits
    // (link-graph node tables are small next to their corpora),
    // shuffle otherwise, where moving Σ deg·√m array bytes is the same
    // volume the wedge exchange moved. Counting stays pure integer:
    // the a/b corners take |C| each, every c ∈ C takes 1.
    // adjacency arrays SORTED at build so the intersection below runs
    // as the two-pointer primitive kernel (array_intersect hashes with
    // boxing per row — measured 3 s vs 0.3 s on the bench graph)
    val adjPlan = oriented.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t"))).as("__ts"))
    // hybrid attach (the duplicateClusters cutover discipline): below
    // the threshold the adjacency table broadcasts — the edge stream
    // then never shuffles and the two attaches share one build — and
    // past it the joins degrade to plain shuffle joins whose moved
    // bytes (Σ deg·√m array cells) match what the wedge exchange would
    // have moved. The count is free: e0 is already materialized.
    // Estimates alone chose sort-merge here, which SORTED the
    // array-laden edge rows through an extra exchange (measured 4.3 s
    // vs 2.5 s on the bench graph).
    val adj = if (e0.count() <= 8L * 1000 * 1000) broadcast(adjPlan) else adjPlan
    // tri is consumed by BOTH corner branches below — truncate so the
    // intersections compute once (cs arrays are triangle-sized: tiny)
    val tri = trunc(oriented
      .join(adj.select(col("s"), col("__ts").as("__ta")), "s")
      .join(adj.select(col("s").as("t"), col("__ts").as("__tb")), "t")
      .select(col("s"), col("t"),
        graft.expressions.GraftFunctions
          .graft_sorted_intersect(col("__ta"), col("__tb")).as("__cs"))
      .filter(size(col("__cs")) > 0))
    // per-corner counts: c-corners arrive exploded (one row per
    // triangle), the a/b corners as |C|-weighted rows — a duplicate-
    // free integer sum either way
    val weighted = tri.select(explode(array(
        struct(col("s").as("id"), size(col("__cs")).cast("long").as("__c")),
        struct(col("t").as("id"), size(col("__cs")).cast("long").as("__c"))))
        .as("__x"))
      .select(col("__x.id").as("id"), col("__x.__c").as("__c"))
      .unionByName(tri.select(explode(col("__cs")).as("id"), lit(1L).as("__c")))
    val counts = weighted.groupBy("id").agg(sum(col("__c")).as("__t"))
    nodes.join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("__t"), lit(0L)).as("triangles"))
  }

  /** Lineage truncation between iterations (the duplicateClusters
    * discipline): localCheckpoint keeps executor-resident blocks —
    * right for iterative refinement. */
  private def trunc(df: DataFrame): DataFrame = df.localCheckpoint()
}
