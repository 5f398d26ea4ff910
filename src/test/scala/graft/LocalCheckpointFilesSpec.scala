package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{LocalCheckpointFiles, Streams}

class LocalCheckpointFilesSpec extends AnyFunSuite {

  test("LocalCheckpointFiles: atomic create, cancel, no overwrite, nested mkdirs, local only") {
    val dir = Files.createTempDirectory("graft_ckpt_files")
    try {
      val conf = new Configuration()
      val fm = new LocalCheckpointFiles(new Path(dir.toUri), conf)
      def names(): Set[String] =
        Option(dir.resolve("a/b/c").toFile.list()).toSet.flatten
      def write(target: Path, text: String, overwrite: Boolean) = {
        val out = fm.createAtomic(target, overwriteIfPossible = overwrite)
        out.write(text.getBytes(UTF_8))
        out
      }
      // nested mkdirs
      val nested = new Path(new Path(dir.toUri), "a/b/c")
      fm.mkdirs(nested)
      assert(Files.isDirectory(dir.resolve("a/b/c")))
      // the output is invisible until close, then complete
      val target = new Path(nested, "1")
      val out = write(target, "one", overwrite = false)
      assert(!fm.exists(target))
      out.close()
      assert(fm.exists(target) && names() == Set("1"))
      assert(new String(Files.readAllBytes(dir.resolve("a/b/c/1")), UTF_8) == "one")
      // cancel leaves neither the file nor its temp file
      write(new Path(nested, "2"), "two", overwrite = false).cancel()
      assert(names() == Set("1"))
      // no overwrite of an existing file unless asked
      intercept[FileAlreadyExistsException](write(target, "two", overwrite = false).close())
      assert(new String(Files.readAllBytes(dir.resolve("a/b/c/1")), UTF_8) == "one")
      // asked to overwrite, it does not fail and leaves one complete
      // file: the overwrite is best effort (Spark's contract), and a
      // local file system whose rename refuses an existing target keeps
      // the first
      write(target, "three", overwrite = true).close()
      assert(Set("one", "three")(new String(Files.readAllBytes(dir.resolve("a/b/c/1")), UTF_8)))
      // only a local file: path, refused before its file system is made
      val e = intercept[IllegalArgumentException](
        new LocalCheckpointFiles(new Path("s3a://bucket/ckpt"), conf))
      assert(e.getMessage.contains("LocalCheckpointFiles") && e.getMessage.contains("s3a://bucket/ckpt"))
    } finally Streams.rmTree(dir)
  }
}
