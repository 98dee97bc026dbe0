package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision so they line up with listener events. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double)

/** Per-op counters gathered from Spark's listener events. */
final class OpCounters {
  var jobs = 0L; var buildJobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var shuffleRecordsWritten = 0L
  var fetchWaitMs = 0L; var spillMemBytes = 0L; var spillDiskBytes = 0L
  var inputBytes = 0L; var inputRecords = 0L; var sinkMergeSpills = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
}

/** Records spans kept in memory, and attributes Spark listener events to
  * the op that caused them: every job carries the op id as a local
  * property, and each query execution is matched to the op whose window
  * holds its planning start. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1

  import Tracer.nowMs

  /** Run `body` inside a span; the span nests under the open one. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, currentOp, name, nowMs, Double.NaN)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endMs = nowMs)
    }
  }

  /** Run op `op`: tag every job started inside `body` with its id and
    * remember its time window for query-execution attribution. */
  def op[T](op: Int, name: String)(body: => T): T = {
    currentOp = op
    sc.setLocalProperty(Tracer.OpKey, op.toString)
    val start = nowMs
    try span(name)(body)
    finally {
      recordOpWindow(op, start, nowMs)
      sc.setLocalProperty(Tracer.OpKey, null); currentOp = -1
    }
  }

  /** Record an interval another layer timed during op `op` (on any
    * thread) as a span of that op, nested under the innermost of its
    * spans that covers it. */
  def addSpan(op: Int, name: String, startMs: Double, endMs: Double): Unit = {
    val parent = spans.reverseIterator.takeWhile(_.op == op)
      .find(s => s.startMs <= startMs && s.endMs >= endMs).map(_.id).getOrElse(-1)
    spans += Span(spans.size, parent, op, name, startMs, endMs)
  }

  def allSpans: Seq[Span] = spans.toSeq

  // ------------------------------------------------------ listener side
  private val counters = mutable.HashMap.empty[Int, OpCounters]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val opWindows = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  private val pendingQe = mutable.ArrayBuffer.empty[(Double, Long, Long, Long)]
  private val fenceJobs = mutable.Set.empty[Int]
  @volatile private var fenceSeen = false

  def countersFor(op: Int): OpCounters = synchronized(counters.getOrElseUpdate(op, new OpCounters))
  def recordOpWindow(op: Int, startMs: Double, endMs: Double): Unit =
    synchronized(opWindows += ((op, startMs, endMs)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(Tracer.FenceKey) != null)) { fenceJobs += e.jobId; return }
    props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).map(_.toInt).foreach { op =>
      synchronized {
        val c = countersFor(op)
        c.jobs += 1
        if (props.exists(_.getProperty(Tracer.BuildKey) != null)) c.buildJobs += 1
        e.stageIds.foreach(s => stageOp(s) = op)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (fenceJobs.contains(e.jobId)) fenceSeen = true

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val c = countersFor(op)
      c.stages += 1
      for (s <- e.stageInfo.submissionTime; t <- e.stageInfo.completionTime) c.stageIntervals += ((s, t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = countersFor(op)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime; c.taskCpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecordsWritten += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillMemBytes += m.memoryBytesSpilled; c.spillDiskBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead; c.inputRecords += m.inputMetrics.recordsRead
      }
      e.taskInfo.accumulables.foreach { a =>
        if (a.name.contains(Tracer.SinkSpillAccumulator))
          a.update.foreach { case n: java.lang.Long => c.sinkMergeSpills += n.longValue; case _ => }
      }
    }
  }

  // QueryExecutionListener: planning phases of every finished query
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L).toDouble
    synchronized(pendingQe += ((start, ms("analysis"), ms("optimization"), ms("planning"))))
  }

  /** Wait until every event posted so far has reached this listener (a
    * fence job's end event is queued behind all earlier events), then
    * attribute query executions to ops by their planning start time. */
  def drain(timeoutMs: Long = 60000): Unit = {
    fenceSeen = false
    sc.setLocalProperty(Tracer.FenceKey, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tracer.FenceKey, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!fenceSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    synchronized {
      pendingQe.foreach { case (start, a, o, pl) =>
        opWindows.find { case (_, lo, hi) => start >= lo - 1 && start <= hi + 1 }.foreach { case (op, _, _) =>
          val c = countersFor(op)
          c.analysisMs += a; c.optimizationMs += o; c.planningMs += pl
        }
      }
      pendingQe.clear()
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val FenceKey = "perfbench.fence"
  /** Set while a query's DataFrame is being built (`SparkEntry.queries`):
    * jobs started then are run eagerly by the operator. */
  val BuildKey = "perfbench.build"
  val SinkSpillAccumulator = "graft.sink.mergeSpills"

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond precision. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Start listening: Spark's listener bus and the session's query
    * execution listeners both call `t`. */
  def attach(spark: org.apache.spark.sql.SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  /** Stop listening, after every event posted so far has reached `t`, so
    * untraced passes run with no benchmark listener at all. */
  def detach(spark: org.apache.spark.sql.SparkSession, t: Tracer): Unit = {
    t.drain()
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }
}
