package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

class DedupClusterSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark
  import spark.implicits._

  test("duplicateClusters: chains collapse to min-id components") {
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    // default: hybrid picks the driver union-find for a tiny graph
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // driverThreshold=0 forces the distributed label-propagation loop —
    // both paths must produce identical labels
    val distributed = Dedup.duplicateClusters(pairs, driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == want)
  }

  test("duplicateClusters cutover edge: a threshold at the edge count and one below agree") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("id_a", "id_b")
    // the cutover sizes the symmetric edge list: both directions of each pair
    val edges = 2L * pairs.count()
    def labels(threshold: Long) = {
      val df = Dedup.duplicateClusters(pairs, driverThreshold = threshold)
      val joined = df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])
      (joined, df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val (atJoined, atSize) = labels(edges)
    val (belowJoined, belowSize) = labels(edges - 1)
    assert(!atJoined, "a threshold equal to the edge count takes the driver union-find")
    assert(belowJoined, "a threshold one below the edge count takes the distributed loop")
    assert(atSize == belowSize)
  }

  test("dedupNear keeps exactly one representative per cluster plus loners") {
    val docs = Seq(
      (1L, "x"), (2L, "x"), (3L, "x"),   // cluster {1,2,3}
      (10L, "y"), (11L, "y"),            // cluster {10,11}
      (50L, "solo")                      // no pairs
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupNear(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 10L, 50L))
  }

  test("duplicateClusters with reliableCheckpoint: same result, truncated plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      // driverThreshold=0: this spec pins the DISTRIBUTED iteration's
      // checkpointing behavior, so the hybrid must not short-circuit
      val reliable = Dedup.duplicateClusters(pairs,
        reliableCheckpoint = true, driverThreshold = 0L)
      val local = Dedup.duplicateClusters(pairs, driverThreshold = 0L)
      assert(reliable.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      // both modes must truncate lineage: the result plan roots in
      // checkpointed RDD leaves, not the full iteration history
      Seq(reliable, local).foreach { df =>
        val leaves = df.queryExecution.optimizedPlan.collectLeaves()
        assert(leaves.forall(
          _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
          s"expected checkpoint-truncated leaves, got:\n${df.queryExecution.optimizedPlan}")
      }
      // reliable blocks really hit the checkpoint dir (survives executor
      // death, unlike localCheckpoint)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "no files written to the reliable checkpoint dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("duplicateClusters on planted near-dups: every twin joins its original") {
    val docs = SparkT.table("documents").select(col("doc_id"), col("text"))
    val near = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"),
        concat(col("text"), lit(" graft dedup pad tail")).as("text"))
    val pairs = Dedup.ngramJaccardPairs(docs.unionByName(near), "doc_id", "text",
      shingleN = 7, threshold = 0.5)
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.filter(col("doc_id") % 10 === 0).collect().map(_.getLong(0)).foreach { id =>
      assert(clusters.get(id + 10000L).contains(clusters(id)),
        s"twin of $id should share its cluster")
    }
  }

  test("duplicateClusters handles STRING ids (routes around the driver long-cast)") {
    import spark.implicits._
    // the driver union-find casts ids to long; string ids must take
    // the distributed min-label path instead of NPE-ing at collect
    val pairs = Seq(
      ("url_a", "url_b"), ("url_b", "url_c"), ("url_x", "url_y")
    ).toDF("id_a", "id_b")
    val clusters = graft.dedup.Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters("url_a") == "url_a" && clusters("url_b") == "url_a"
      && clusters("url_c") == "url_a")
    assert(clusters("url_x") == "url_x" && clusters("url_y") == "url_x")
  }
}
