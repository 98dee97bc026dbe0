package perfbench

import java.security.MessageDigest
import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Write-only source that forces a query the way Spark's noop sink does
  * (every row of every partition is consumed and nothing is stored) and
  * reduces the rows to a [[Fingerprint]] on the way. The evaluation an op
  * times is therefore the one its result check reads: every call of every
  * query is checked, with no second evaluation. */
final class CheckSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = CheckSink.CheckTable
}

object CheckSink {
  private val results = new ConcurrentHashMap[String, (Long, Long)]()
  private val nextKey = new AtomicLong()

  /** Evaluate `df` through the sink (overwrite mode, as `graft.Bench`
    * forces queries with noop) and return its result's fingerprint. */
  def run(df: DataFrame): Fingerprint = {
    val key = nextKey.incrementAndGet().toString
    df.write.format(classOf[CheckSink].getName).mode("overwrite").option("key", key).save()
    val (n, h) = Option(results.remove(key)).getOrElse(throw new IllegalStateException("sink did not commit"))
    Fingerprint(n, Fingerprint.schemaString(df.schema), f"$h%016x")
  }

  private object CheckTable extends Table with SupportsWrite {
    override def name(): String = "perfbench-check"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new CheckBatch(info.options().get("key"), info.schema())
      }
    }
  }

  private final class CheckBatch(key: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = new CheckWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: PartFingerprint => p }
      results.put(key, (parts.map(_.rows).sum, parts.map(_.hash).sum))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    // as Spark's noop write: no driver round trip per task commit
    override def useCommitCoordinator(): Boolean = false
  }

  private final case class PartFingerprint(rows: Long, hash: Long) extends WriterCommitMessage

  private final class CheckWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
      private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      private val sha = MessageDigest.getInstance("SHA-256")
      private var rows = 0L
      private var hash = 0L
      override def write(r: InternalRow): Unit = {
        rows += 1
        hash += Fingerprint.rowHash(toRow(r).asInstanceOf[Row], sha)
      }
      override def commit(): WriterCommitMessage = PartFingerprint(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }
}
