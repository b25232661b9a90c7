package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that keeps nothing but an order-independent content hash.
  *
  * It takes the place of Bench's `noop` sink: the same DataSource V2 write
  * path evaluates every column of every row, and each row's binary form is
  * hashed, so two runs of a query can be compared without collecting
  * them. The result (rows, hash) is the sum over partitions, read back
  * with [[HashSink.result]] under the `key` write option.
  *
  * `df.write.format(classOf[HashSink].getName).mode("overwrite").option("key", k).save()`
  */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = HashSink.HashTable
}

object HashSink {
  final case class Content(rows: Long, hash: Long)

  private val results = new java.util.concurrent.ConcurrentHashMap[String, Content]()

  /** The content written under `key`, removing it from the registry. */
  def result(key: String): Content =
    Option(results.remove(key)).getOrElse(throw new IllegalStateException(s"no hash-sink write under key $key"))

  private final case class Partial(rows: Long, hash: Long) extends WriterCommitMessage

  private object HashTable extends Table with SupportsWrite {
    override def name(): String = "perfbench_hash"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new HashBatchWrite(info.schema(), info.options().get("key"))
      }
    }
  }

  private final class HashBatchWrite(schema: StructType, key: String) extends BatchWrite {
    require(key != null, "hash sink needs a key option")
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new HashWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Partial => p }
      // wrapping addition is commutative, so partition order does not matter
      results.put(key, Content(parts.map(_.rows).sum, parts.map(_.hash).sum))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class HashWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
      private val toUnsafe = UnsafeProjection.create(schema)
      private var rows = 0L
      private var hash = 0L
      override def write(row: InternalRow): Unit = {
        val u = toUnsafe(row)
        hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        rows += 1
      }
      override def commit(): WriterCommitMessage = Partial(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }
}
