package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up graft's production session,
  * runs the passes it is given in a closed loop with one client, and
  * writes raw samples as JSON. Policy (orders, metrics, checks) lives
  * in `run.py`.
  *
  * Usage: Main --data DIR --plan FILE --out FILE --seconds N --settle N
  *             --min-passes N --trace 0|1 --seed N --launch-epoch-ns N
  *
  * Set-up is timed once, cold, from `launch-epoch-ns` (the wall-clock
  * time at which the caller started this process) until graft's session
  * is ready and the warm-up probe is done.
  *
  * The plan file holds one pass per line, query names comma-separated;
  * line 1 is the cold pass. Then `settle` unmeasured passes let JIT and
  * codegen caches settle, and measured passes run until `seconds` have
  * passed and at least `min-passes` are done, always ending on a whole
  * pass. With `--trace 1` measured passes alternate traced and untraced
  * (at least half of `min-passes` each), and the kernel probe runs at the
  * end. */
object Main {
  private final case class Exec(pass: Int, query: String, buildS: Double, wallS: Double,
                                digest: Option[Digest], error: Option[String],
                                trace: Option[QueryStats])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("data")
    val plan = Files.readAllLines(Paths.get(opt("plan"))).toArray(Array.empty[String])
      .toSeq.filter(_.nonEmpty).map(_.split(",").toSeq)
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val traced = opt("trace") == "1"
    val settle = opt("settle").toInt
    val seed = opt("seed").toLong

    // --- set-up, cold, from process launch ------------------------------
    val launchNs = opt("launch-epoch-ns").toLong
    val spark: SparkSession = graft.api.GraftSession.local()
    val t1 = epochNs()
    spark.read.parquet(s"$dir/lineitem.parquet").limit(100).count()
    spark.range(100000L).selectExpr("sum(id)").collect()
    val t2 = epochNs()
    val (startS, warmupS) = ((t1 - launchNs) / 1e9, (t2 - t1) / 1e9)

    val queries = graft.SparkEntry.queries
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]

    def runPass(p: Int, names: Seq[String], traceOn: Boolean): Double = {
      val tr = tracer.filter(_ => traceOn)
      tr.foreach(_.install())
      var sum = 0.0
      for (q <- names) {
        val qid = s"$p:$q"
        tr.foreach(_.tag(qid, "build"))
        val t0 = System.nanoTime()
        var tb = t0
        val res: Either[String, Digest] = try {
          val df = queries.getOrElse(q, sys.error(s"no declared query named $q"))(spark, dir)
          tb = System.nanoTime()
          tr.foreach(_.tag(qid, "exec"))
          df.write.format(classOf[DigestSink].getName).mode("overwrite")
            .option("token", qid).save()
          DigestSink.take(qid).toRight("the digest sink committed nothing")
        } catch {
          case t: Throwable => Left(s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}")
        }
        val t1 = System.nanoTime()
        tr.foreach(_.untag())
        val stats = tr.map(_.finish(qid))
        sum += (t1 - t0) / 1e9
        execs += Exec(p, q, (tb - t0) / 1e9, (t1 - t0) / 1e9, res.toOption, res.left.toOption,
          stats)
      }
      tr.foreach(_.uninstall())
      passes += ((p, traceOn, sum))
      sum
    }

    for (p <- 0 to settle) runPass(p, plan(p), traceOn = false)
    val warmStart = System.nanoTime()
    var p = settle + 1
    def enough: Boolean = {
      val warm = passes.drop(settle + 1)
      val half = (minPasses + 1) / 2
      val need = if (traced) warm.count(_._2) >= half && warm.count(!_._2) >= half
                 else warm.size >= minPasses
      need && (System.nanoTime() - warmStart) / 1e9 >= seconds
    }
    while (!enough && p < plan.size) {
      runPass(p, plan(p), traceOn = traced && (p - settle) % 2 == 1)
      p += 1
    }
    require(enough, s"the plan holds ${plan.size} passes, too few for the run")

    val kernels = if (traced) KernelProbe.run(spark, dir, seed) else Nil
    val cores = spark.sparkContext.defaultParallelism
    spark.stop()

    val out = new StringBuilder
    out ++= "{\"names\":" ++= Json.arr(queries.keys.toSeq.sorted.map(Json.str))
    out ++= ",\"cores\":" ++= cores.toString
    out ++= ",\"peak_rss_kib\":" ++= Json.num(peakRssKib())
    out ++= ",\"setup\":" ++=
      s"""{"start_s":${Json.num(startS)},"warmup_s":${Json.num(warmupS)}}"""
    out ++= ",\"passes\":" ++= Json.arr(passes.toSeq.map { case (i, t, w) =>
      s"""{"pass":$i,"settle":${i >= 1 && i <= settle},"traced":$t,"wall_s":${Json.num(w)}}""" })
    out ++= ",\"kernels\":" ++= Json.obj(kernels.map { case (k, v) => k -> Json.num(v) })
    out ++= ",\"executions\":" ++= Json.arr(execs.toSeq.map(execJson))
    out ++= "}\n"
    Files.write(Paths.get(opt("out")), out.toString.getBytes(StandardCharsets.UTF_8))
    sys.exit(0)
  }

  private def execJson(e: Exec): String = {
    val fields = Seq(
      "pass" -> e.pass.toString, "query" -> Json.str(e.query),
      "build_s" -> Json.num(e.buildS), "wall_s" -> Json.num(e.wallS),
      "error" -> e.error.map(Json.str).getOrElse("null"),
      "schema" -> e.digest.map(d => Json.str(d.schema)).getOrElse("null"),
      "rows" -> e.digest.map(_.rows.toString).getOrElse("null"),
      "hash" -> e.digest.map(d => Json.str(d.hash)).getOrElse("null")) ++
      e.trace.map(s => "trace" -> Json.obj(
        s.c.toSeq.map { case (k, v) => k -> Json.num(v) } ++ Seq(
          "job_ms" -> Json.num(unionMs(s.jobIntervals.toSeq)),
          "stage_skews" -> Json.arr(s.stageSkews.toSeq.map(Json.num)),
          "batch_ms_list" -> Json.arr(s.batchMs.toSeq.map(Json.num)))))
    Json.obj(fields)
  }

  /** Length of the union of [start, end] intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + math.max(0L, curE - curS)).toDouble
  }

  /** Wall-clock time in nanoseconds since the epoch, the clock the
    * caller's launch time is on. */
  private def epochNs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  /** Peak resident set size of this JVM (VmHWM), in KiB. */
  private def peakRssKib(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
      .getOrElse(sys.error("VmHWM missing from the process status"))
  }
}

private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Prints the declared query names, one a line, without a session. */
object Names {
  def main(args: Array[String]): Unit =
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
}
