package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Output digest of one query execution: schema, row count and an
  * order-insensitive content hash (two independent 64-bit sums of
  * per-row XXH64 over the row's UnsafeRow bytes). */
final case class Digest(schema: String, rows: Long, hash: String)

/** A noop sink that also digests what it is given.
  *
  * It takes the same V2 write path as Spark's `noop` format (truncate
  * mode, any schema), so a query materialises every output row and
  * column exactly as it would through `noop`; each writer task hashes
  * its rows and the job's commit sums the task digests. Results
  * are handed back by the `token` write option. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = DigestTable
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, Digest]()

  /** The digest committed under `token`, removed from the registry. */
  def take(token: String): Option[Digest] = Option(results.remove(token))

  private[graftbench] def put(token: String, d: Digest): Unit = results.put(token, d)
}

object DigestTable extends Table with SupportsWrite {
  override def name(): String = "graftbench_digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] = Set(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write =
        new DigestWrite(info.options.get("token"), info.schema)
    }
}

class DigestWrite(val token: String, schema: StructType) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case c: DigestCommit => c }
    val h = f"${parts.map(_.h1).sum}%016x${parts.map(_.h2).sum}%016x"
    DigestSink.put(token, Digest(schema.catalogString, parts.map(_.rows).sum, h))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class DigestCommit(rows: Long, h1: Long, h2: Long) extends WriterCommitMessage

class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DigestWriter(schema)
}

class DigestWriter(schema: StructType) extends DataWriter[InternalRow] {
  private val proj = UnsafeProjection.create(schema)
  private var rows = 0L
  private var h1 = 0L
  private var h2 = 0L

  override def write(record: InternalRow): Unit = {
    val u = proj(record)
    h1 += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5eedL)
    h2 += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x9e3779b9L)
    rows += 1
  }
  override def commit(): WriterCommitMessage = DigestCommit(rows, h1, h2)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
