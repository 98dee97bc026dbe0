package perfbench

import java.util
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.v2.EdfDataSource

/** graft's `edf` source as traced passes read it: every call goes to
  * `graft.sources.v2.EdfDataSource`, and building the scan's input
  * partitions (`planInputPartitions`, where the header read, record-window
  * and sidecar pruning happen) is timed where the query itself does it, so
  * nothing is planned twice. */
final class TimedEdfSource extends TableProvider {
  private val inner = new EdfDataSource
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = inner.inferSchema(options)
  override def supportsExternalMetadata(): Boolean = inner.supportsExternalMetadata()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TimedEdf.TimedTable(inner.getTable(schema, partitioning, properties).asInstanceOf[Table with SupportsRead])
}

object TimedEdf {
  /** The format name a traced pass reads EDF with. */
  val format: String = classOf[TimedEdfSource].getName

  /** One input-partition build: start and end on the tracer's clock, and
    * how many partitions it built. */
  final case class Plan(startMs: Double, endMs: Double, splits: Int)

  private val plans = new ConcurrentLinkedQueue[Plan]()

  /** Every partition build since the last call. */
  def drain(): Seq[Plan] = Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq

  final class TimedTable(t: Table with SupportsRead) extends Table with SupportsRead {
    override def name(): String = t.name()
    override def schema(): StructType = t.schema()
    override def capabilities(): util.Set[TableCapability] = t.capabilities()
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new TimedScanBuilder(t.newScanBuilder(options))
  }

  private final class TimedScanBuilder(b: ScanBuilder)
      extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
    override def pruneColumns(required: StructType): Unit = b match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(required)
      case _ =>
    }
    override def pushFilters(filters: Array[Filter]): Array[Filter] = b match {
      case p: SupportsPushDownFilters => p.pushFilters(filters)
      case _ => filters
    }
    override def pushedFilters(): Array[Filter] = b match {
      case p: SupportsPushDownFilters => p.pushedFilters()
      case _ => Array.empty
    }
    override def build(): Scan = new TimedScan(b.build())
  }

  private final class TimedScan(s: Scan) extends Scan with Batch {
    private lazy val batch = s.toBatch
    override def readSchema(): StructType = s.readSchema()
    override def description(): String = s.description()
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = {
      val start = Tracer.nowMs
      val parts = batch.planInputPartitions()
      plans.add(Plan(start, Tracer.nowMs, parts.length))
      parts
    }
    override def createReaderFactory(): PartitionReaderFactory = batch.createReaderFactory()
  }
}
