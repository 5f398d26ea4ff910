package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.GraftSession

/** One shared session for the whole forked test JVM. */
object SparkT {
  lazy val spark: SparkSession = GraftSession.local(8, "graft-test")
  val sfDir = "/root/testdata/sf0.001"
  def table(name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** `body` with the session confs `kvs` set; each is restored after. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body` with whole-stage codegen off and every expression
    * evaluated interpreted; both settings are restored after. */
  def interpreted[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** Spark jobs `f` launches on this thread. `f` runs under a job group
    * of its own; a sentinel job in a second group, run after it, flushes
    * the asynchronous (per-queue ordered) listener bus. */
  def jobsLaunchedBy(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft-test-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == tag => jobs.incrementAndGet()
          case Some(g) if g == tag + "-sentinel" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "measured")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(tag + "-sentinel", "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
