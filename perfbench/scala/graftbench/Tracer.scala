package graftbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, InputAdapter,
  QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2ExistingTableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced query execution, filled from the listeners. */
final class QueryStats {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageSkews = mutable.ArrayBuffer.empty[Double]
  val batchMs = mutable.ArrayBuffer.empty[Double]
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = c(k) = math.max(c.getOrElse(k, 0.0), v)
}

/** Spans and layer counters for traced passes.
  *
  * Jobs are attributed to a query execution through the local property
  * `graftbench.qid` (inherited by streaming and broadcast threads), and
  * to its build or execute phase through `graftbench.phase`; stages and
  * tasks follow their job. Executed plans come from the
  * QueryExecutionListener of the digest write, matched by its token.
  * Streaming progress has no properties; it is attributed to the
  * execution during which it was delivered, which holds because each
  * traced execution drains the listener bus before the next starts. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val stats = mutable.HashMap.empty[String, QueryStats]
  private val stageOf = mutable.HashMap.empty[Int, String]
  private val jobOf = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val lastState = mutable.HashMap.empty[java.util.UUID, (String, Long, Long)]
  @volatile private var streamingQid: String = null

  private def get(qid: String): QueryStats =
    synchronized(stats.getOrElseUpdate(qid, new QueryStats))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("graftbench.qid"))).foreach { qid =>
        val phase = props.flatMap(p => Option(p.getProperty("graftbench.phase"))).getOrElse("exec")
        jobOf(e.jobId) = qid
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(s => stageOf(s) = qid)
        val s = get(qid)
        s.add("jobs", 1)
        if (phase == "build") s.add("build_jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOf.remove(e.jobId).foreach { qid =>
        get(qid).jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      stageOf.get(id).foreach { qid =>
        get(qid).add("stages", 1)
        stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      stageSubmit.remove(id)
      for (qid <- stageOf.get(id); ts <- stageTaskMs.remove(id) if ts.size >= 2) {
        val sorted = ts.sorted
        val med = sorted((sorted.size - 1) / 2).max(1L)
        get(qid).stageSkews += sorted.last.toDouble / med
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOf.get(e.stageId).foreach { qid =>
        val s = get(qid)
        val info = e.taskInfo
        s.add("tasks", 1)
        if (e.reason != Success) s.add("task_failures", 1)
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
        stageSubmit.get(e.stageId)
          .foreach(t => s.add("queue_wait_ms", math.max(0L, info.launchTime - t)))
        val m = e.taskMetrics
        if (m != null) {
          val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          s.add("task_ms", info.duration)
          s.add("run_ms", m.executorRunTime)
          s.add("cpu_ns", m.executorCpuTime)
          s.add("gc_ms", m.jvmGCTime)
          s.add("launch_ms", m.executorDeserializeTime + delay)
          s.max("peak_mem_bytes", m.peakExecutionMemory)
          s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          s.add("scan_bytes", m.inputMetrics.bytesRead)
          s.add("scan_rows", m.inputMetrics.recordsRead)
          val r = m.shuffleReadMetrics
          val w = m.shuffleWriteMetrics
          s.add("shuffle_read_bytes", r.localBytesRead + r.remoteBytesRead)
          s.add("shuffle_fetch_wait_ms", r.fetchWaitTime)
          s.add("shuffle_write_bytes", w.bytesWritten)
          s.add("shuffle_records", w.recordsWritten)
          s.add("shuffle_write_ns", w.writeTime)
          if (m.inputMetrics.recordsRead == 0 && r.recordsRead == 0) s.add("empty_tasks", 1)
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPlan(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val qid = streamingQid
        if (qid != null) {
          val p = e.progress
          val s = get(qid)
          val d = p.durationMs
          def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          s.add("batches", 1)
          s.batchMs += p.batchDuration.toDouble
          s.add("batch_ms", p.batchDuration)
          s.add("input_rows", p.numInputRows)
          s.add("trigger_overhead_ms", math.max(0L, dur("triggerExecution") - dur("addBatch")))
          s.add("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
          lastState(p.runId) = (qid, p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
        }
      }
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val root = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val token = root.collectFirst {
      case w: V2ExistingTableWriteExec if w.write.isInstanceOf[DigestWrite] =>
        w.write.asInstanceOf[DigestWrite].token
    }
    token.foreach { qid =>
      val s = get(qid)
      synchronized {
        s.add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
        walkPlan(root, inCodegen = false, s)
      }
    }
  }

  private def walkPlan(p: SparkPlan, inCodegen: Boolean, s: QueryStats): Unit = {
    val graftExprs = p.expressions.map(_.collect {
      case e if e.getClass.getName.startsWith("graft.") => 1
    }.size).sum
    s.add("graft_native_ops", graftExprs + (if (p.getClass.getName.startsWith("graft.")) 1 else 0))
    p match {
      case a: AdaptiveSparkPlanExec =>
        s.add(if (a.isFinalPlan) "final_plans" else "non_final_plans", 1)
        walkPlan(a.executedPlan, inCodegen = false, s)
      case q: QueryStageExec => walkPlan(q.plan, inCodegen = false, s)
      case _: ReusedExchangeExec => s.add("reused_exchanges", 1)
      case w: WholeStageCodegenExec =>
        s.add("codegen_stages", 1)
        walkPlan(w.child, inCodegen = true, s)
      case i: InputAdapter => walkPlan(i.child, inCodegen = false, s)
      case e: ShuffleExchangeExec =>
        s.add("exchanges", 1)
        walkPlan(e.child, inCodegen = false, s)
      case b: BroadcastExchangeExec =>
        s.add("broadcasts", 1)
        s.add("broadcast_bytes", b.metrics.get("dataSize").map(_.value.toDouble).getOrElse(0.0))
        walkPlan(b.child, inCodegen = false, s)
      case f: FileSourceScanExec =>
        s.add("scan_time_ms", f.metrics.get("scanTime").map(_.value.toDouble).getOrElse(0.0))
      case other =>
        val wrapper = other.isInstanceOf[V2ExistingTableWriteExec] ||
          other.isInstanceOf[AQEShuffleReadExec] || other.nodeName.contains("Scan")
        if (!inCodegen && !wrapper) s.add("non_codegen_ops", 1)
        other.children.foreach(walkPlan(_, inCodegen, s))
    }
    p.subqueries.foreach(walkPlan(_, inCodegen = false, s))
  }

  private var installed = false

  def install(): Unit = if (!installed) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }

  /** Tag the client thread so jobs it (or threads it starts) launches
    * are charged to `qid` in `phase`. */
  def tag(qid: String, phase: String): Unit = {
    streamingQid = qid
    sc.setLocalProperty("graftbench.qid", qid)
    sc.setLocalProperty("graftbench.phase", phase)
  }

  def untag(): Unit = {
    sc.setLocalProperty("graftbench.qid", null)
    sc.setLocalProperty("graftbench.phase", null)
  }

  /** Wait until every event of the finished execution is delivered,
    * then close its streaming attribution and return its counters. */
  def finish(qid: String): QueryStats = {
    org.apache.spark.graftbench.Bus.drain(sc)
    synchronized {
      streamingQid = null
      val s = get(qid)
      lastState.filter(_._2._1 == qid).foreach { case (run, (_, rows, mem)) =>
        s.add("state_rows", rows)
        s.add("state_mem_bytes", mem)
        lastState.remove(run)
      }
      stats.remove(qid)
      s
    }
  }
}
