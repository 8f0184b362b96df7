package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: an operation or a call it makes
  * into one layer. `op` is the index of the operation it belongs to (-1
  * outside the timed phase). Wall-clock milliseconds tie Spark's
  * listener events, which carry only those, to the span they ran in.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L)

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int], callSite: String)
final case class StageRec(id: Int, submitMs: Long, endMs: Long, tasks: Int)
final case class TaskRec(stage: Int, ms: Long, cpuNs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** What the final (post-AQE) physical plan of one Spark action showed. */
final case class PlanRec(startMs: Long, endMs: Long, func: String,
    exchanges: Int, smj: Int, bhj: Int, scans: Int, nonCodegen: Int,
    scanRows: Long, scanFiles: Long, scanBytes: Long, bandsRows: Long,
    writeTable: String, writeFiles: Long, writeBytes: Long, writeMs: Double)

/** Streaming progress durations of one micro-batch. */
final case class Progress(batchId: Long, triggerMs: Long, addBatchMs: Long)

/** Spans plus the Spark events needed to break them into layers.
  *
  * The benchmark runs one client in a closed loop, so spans never overlap
  * except by nesting; a global stack (not a thread-local one) is right
  * because a micro-batch's sink callbacks run on the stream's thread
  * while the main thread waits for them. With tracing off every call is
  * a pass-through and no listener is registered.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var op: Int = -1

  def open(name: String): Span = synchronized {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, op,
      System.nanoTime(), System.currentTimeMillis())
    if (enabled) spans += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = synchronized {
    s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
    stack = stack.dropWhile(_ ne s) match { case _ :: rest => rest; case Nil => Nil }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else { val s = open(name); try body finally close(s) }

  // --- listener records (filled only when enabled) ---
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val progress = ArrayBuffer.empty[Progress]
  @volatile var rddBlocksBuilt = 0L

  object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      jobs += JobRec(e.jobId, e.time, -1L, e.stageIds, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (e.blockUpdatedInfo.blockId.isRDD && e.blockUpdatedInfo.storageLevel.isValid)
        Tracer.this.synchronized { rddBlocksBuilt += 1 }
  }

  object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def get(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      if (e.progress.numInputRows > 0) Tracer.this.synchronized {
        progress += Progress(e.progress.batchId, get("triggerExecution"), get("addBatch"))
      }
    }
  }

  object queryListener extends QueryExecutionListener {
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.currentTimeMillis()
      val rec = Plans.analyze(qe.executedPlan, f, end - durationNs / 1000000L, end, durationNs / 1e6)
      Tracer.this.synchronized { plans += rec }
    }
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(queryListener)
  }

  /** Spark posts listener events asynchronously; wait until the bus has
    * delivered everything submitted so far before reading the records.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    Thread.sleep(200)
  }
}

object Plans {
  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).fold(0L)(_.value)

  /** Walk the executed plan, descending into AQE's final plan and its
    * query stages, and count the plan's shape: exchanges, joins by
    * kind, scans and what they read, operators left outside whole-stage
    * codegen, and writes.
    */
  def analyze(root: SparkPlan, func: String, startMs: Long, endMs: Long, ms: Double): PlanRec = {
    var exchanges, smj, bhj, scans, nonCodegen = 0
    var scanRows, scanFiles, scanBytes, bandsRows = 0L
    var writeTable = ""; var writeFiles, writeBytes = 0L
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case _: Exchange => exchanges += 1
        case _: SortMergeJoinExec => smj += 1
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => bhj += 1
        case s: FileSourceScanExec =>
          scans += 1
          val rows = metric(s, "numOutputRows")
          scanRows += rows; scanFiles += metric(s, "numFiles"); scanBytes += metric(s, "filesSize")
          if (s.tableIdentifier.exists(_.table.endsWith("_bands"))) bandsRows += rows
        case _: InMemoryTableScanExec | _: RDDScanExec | _: LocalTableScanExec =>
          scans += 1
        case w: DataWritingCommandExec =>
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              writeTable = i.catalogTable.fold(i.outputPath.getName)(_.identifier.table)
            case _ =>
          }
          writeFiles += w.cmd.metrics.get("numFiles").fold(0L)(_.value)
          writeBytes += w.cmd.metrics.get("numOutputBytes").fold(0L)(_.value)
        case _ =>
      }
      val structural = p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: WholeStageCodegenExec |
             _: InputAdapter | _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec |
             _: DataWritingCommandExec | _: FileSourceScanExec | _: InMemoryTableScanExec |
             _: RDDScanExec | _: LocalTableScanExec => true
        case _ => false
      }
      if (!inCodegen && !structural) nonCodegen += 1
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, false)
        case q: QueryStageExec => walk(q.plan, false)
        case _: ReusedExchangeExec => ()
        case w: WholeStageCodegenExec => walk(w.child, true)
        case i: InputAdapter => walk(i.child, false)
        case other => other.children.foreach(walk(_, inCodegen))
      }
      p.subqueries.foreach(walk(_, false))
    }
    walk(root, false)
    PlanRec(startMs, endMs, func, exchanges, smj, bhj, scans, nonCodegen,
      scanRows, scanFiles, scanBytes, bandsRows, writeTable, writeFiles, writeBytes, ms)
  }

}
