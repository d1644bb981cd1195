package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Order-independent digest of a frame's rows: the row count and the
  * wrapping sum and xor of a 64-bit hash of each row's UnsafeRow bytes.
  * Two frames with the same schema and the same multiset of rows have
  * equal digests. */
final case class Digest(rows: Long, sum: Long, xor: Long)
    extends WriterCommitMessage {
  def merge(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
}

/** A `noop`-style sink that consumes every row of the complete plan and
  * records the rows' [[Digest]] under the `id` write option. Used for
  * every lane op, so each op's output is checked without a second
  * execution: hashing costs a few nanoseconds per output row.
  *
  * `df.write.format(classOf[HashSink].getName).mode("overwrite")
  *   .option("id", key).save()`, then [[HashSink.take]]`(key)`.
  */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = HashTable
  override def supportsExternalMetadata(): Boolean = true
}

object HashSink {
  private val digests = new ConcurrentHashMap[String, Digest]()

  /** The digest committed under `id`, removed from the registry. */
  def take(id: String): Option[Digest] = Option(digests.remove(id))

  private[perfbench] def put(id: String, d: Digest): Unit = digests.put(id, d)
}

private object HashTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-hash"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new HashBatchWrite(info.options().get("id"), info.schema())
      }
    }
}

private class HashBatchWrite(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new HashWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    HashSink.put(id, messages.collect { case d: Digest => d }
      .foldLeft(Digest(0, 0, 0))(_ merge _))
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class HashWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val proj = UnsafeProjection.create(schema)
      private var rows, sum, xor = 0L
      override def write(row: InternalRow): Unit = {
        val u = proj(row)
        val lo = Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
        val hi = Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995)
        val h = (hi.toLong << 32) | (lo & 0xffffffffL)
        rows += 1; sum += h; xor ^= h
      }
      override def commit(): WriterCommitMessage = Digest(rows, sum, xor)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
