package graft.streaming

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The checkpoint file manager of a bounded backfill's local
  * checkpoint ([[Streams.backfill]]). Without the native Hadoop
  * library, Hadoop's local file system starts a `chmod` process for
  * every file create and mkdir, and the FileContext rename behind
  * Spark's default manager starts `readlink` processes: dozens per
  * micro-batch across the offset log, commit log, metadata and state
  * deltas. This manager creates directories and temp files (with any
  * missing parent, as `FileSystem.create` does) through java.nio and
  * java.io instead. Everything else stays Spark's: temp file
  * plus `rename(2)` (atomic on a local file system), `cancel` deletes
  * the temp file, an existing file is refused unless the caller asks
  * to overwrite (then best effort, as Spark's contract says), and
  * Spark's checkpoint checksum files stay on. */
class LocalCheckpointFiles(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(LocalCheckpointFiles.local(path, conf), conf) {

  override def mkdirs(p: Path): Unit = { Files.createDirectories(file(p).toPath); () }

  override def createTempFile(p: Path): FSDataOutputStream = {
    val f = file(p)
    Files.createDirectories(f.getParentFile.toPath)
    new FSDataOutputStream(new FileOutputStream(f), null)
  }

  private def file(p: Path): File = new File(fs.makeQualified(p).toUri)
}

object LocalCheckpointFiles {

  /** `path` when it is on the local file system, else an
    * IllegalArgumentException: refused before any file system for it
    * is created. */
  private def local(path: Path, conf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == "file",
      s"LocalCheckpointFiles manages only local file: checkpoints, got $path")
    path
  }
}
