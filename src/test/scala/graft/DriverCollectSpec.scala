package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every driver collect in `src/main/scala` (outside the dev mains
  * under `tools/`) goes through [[SmallSide]], or is listed here with
  * the reason its size is bounded without it. A new data-sized
  * `.collect()` fails this spec instead of filling the driver heap on
  * the first large input. */
class DriverCollectSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  /** (file under `root`, a fragment of the collecting line, reason). */
  private val allowed = Seq(
    ("api/GraftFrame.scala", "def pull(c: String)",
      "user-facing: dplyr pull() brings the column to the driver"),
    ("api/GraftFrame.scala", "def collect(): Array[Row]",
      "user-facing: dplyr collect() brings the frame to the driver"),
    ("Bench.scala", "selectExpr(\"sum(id)\")",
      "the warmup's one-row sum"),
    ("operators/Bpe.scala", ".limit(1).collect()",
      "the merge loop's argmax: one row"),
    ("similarity/Ann.scala", ".collect().map(_.getSeq[Float](0).toArray)",
      "trainSample: limit(MaxTrainRows) rows"),
    ("similarity/Ann.scala", "cbDf.select(",
      "ivfPqTopKIndexed's codebook read: nCells + m * ksub rows"),
    ("similarity/Pca.scala", ".collect()(0)",
      "a one-row aggregate"),
    ("stress/StressFixture.scala", ".collect()(0).getLong(0)",
      "a one-row sum"),
    ("streaming/Streams.scala", ".collect()",
      "categoricalDriftStreamOnce: limit(topK + 1) rows"))

  private val collectCall = """\.(collect|collectAsList|toLocalIterator)\(\)""".r

  /** (file, line number, line) of each driver collect outside SmallSide. */
  private def collects: Seq[(String, Int, String)] = {
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => root.relativize(p).startsWith("tools"))
      .filterNot(_.getFileName.toString == "SmallSide.scala")
      .toSeq.sortBy(_.toString)
    for {
      f <- files
      rel = root.relativize(f).toString
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*")
      if collectCall.findFirstIn(code).isDefined
    } yield (rel, i + 1, code)
  }

  private def allows(file: String, code: String)(a: (String, String, String)) =
    a._1 == file && code.contains(a._2)

  test("every driver collect goes through SmallSide or the allowlist") {
    val found = collects
    assert(found.nonEmpty, s"no collect found under $root — is the path right?")
    val unlisted = found.filterNot { case (f, _, code) =>
      allowed.exists(allows(f, code))
    }
    assert(unlisted.isEmpty, "unbounded driver collects — route them " +
      "through graft.SmallSide:\n" +
      unlisted.map { case (f, n, c) => s"  $f:$n  $c" }.mkString("\n"))
    // each entry matches exactly one collect, so no entry outlives its site
    allowed.foreach { a =>
      val hits = found.count { case (f, _, code) => allows(f, code)(a) }
      assert(hits == 1, s"allowlist entry $a matches $hits collects, not 1")
    }
  }
}
