package graftbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A fingerprinting stand-in for Spark's `noop` sink, with the same plan
  * shape: a DataSource V2 batch write that accepts any schema and
  * supports truncate, so `mode("overwrite")` plans as
  * `OverwriteByExpressionExec` exactly as `noop` does. Each task folds
  * its rows into (row count, wrapping sum of per-row xxHash64); the
  * driver-side commit adds the task parts and publishes the total under
  * the write's `id` option. The sum is order-free, so the fingerprint is
  * independent of partitioning and task order.
  *
  * {{{
  * df.write.format(HashSink.Format).option("id", id).mode("overwrite").save()
  * HashSink.take(id)  // Some(Fingerprint(rows, hash))
  * }}}
  */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = HashSink.SinkTable
}

final case class Fingerprint(rows: Long, hash: Long)

object HashSink {
  val Format: String = classOf[HashSink].getName

  private val results = new java.util.concurrent.ConcurrentHashMap[String, Fingerprint]()

  /** Remove and return the fingerprint committed under `id`. */
  def take(id: String): Option[Fingerprint] = Option(results.remove(id))

  /** Hash of one row: xxHash64 chained over the fields in order. */
  def rowHash(row: InternalRow, types: Array[DataType]): Long = {
    var h = 42L
    var i = 0
    while (i < types.length) {
      h = XxHash64Function.hash(row.get(i, types(i)), types(i), h)
      i += 1
    }
    h
  }

  private object SinkTable extends Table with SupportsWrite {
    override def name(): String = "graftbench-hash"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val id = info.options().get("id")
      val types = info.schema().fields.map(_.dataType)
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new HashBatch(id, types)
        }
      }
    }
  }

  private final case class Part(rows: Long, hash: Long) extends WriterCommitMessage

  private final class HashBatch(id: String, types: Array[DataType]) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new HashWriterFactory(types)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      var rows = 0L
      var hash = 0L
      messages.foreach { case Part(r, h) => rows += r; hash += h }
      if (id != null) results.put(id, Fingerprint(rows, hash)): Unit
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class HashWriterFactory(types: Array[DataType]) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var rows = 0L
        private var hash = 0L
        override def write(record: InternalRow): Unit = {
          rows += 1
          hash += rowHash(record, types)
        }
        override def commit(): WriterCommitMessage = Part(rows, hash)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
