package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Census of one physical plan: scans, exchanges, reused exchanges and
  * nodes, counted through AQE query stages and subqueries. */
final case class Census(scans: Long, exchanges: Long, reused: Long, nodes: Long) {
  def +(o: Census): Census =
    Census(scans + o.scans, exchanges + o.exchanges, reused + o.reused, nodes + o.nodes)
}

object Census extends AdaptiveSparkPlanHelper {
  val zero: Census = Census(0, 0, 0, 0)

  def of(plan: SparkPlan): Census = {
    val all = collectWithSubqueries(plan) { case p => p }
    Census(
      all.count {
        case _: org.apache.spark.sql.execution.DataSourceScanExec | _: BatchScanExec => true
        case _ => false
      },
      all.count { case _: Exchange => true; case _ => false },
      all.count { case _: ReusedExchangeExec => true; case _ => false },
      all.size)
  }
}

/** Engine counters summed since the tracer was attached. */
final case class Engine(jobs: Long, stages: Long, tasks: Long, taskMs: Long, cpuNs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        input: Long, output: Long, filesWritten: Long, sqlExecs: Long,
                        census: Census, gcMs: Long, jobBusyMs: Long) {
  def -(o: Engine): Engine = Engine(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, cpuNs - o.cpuNs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, input - o.input, output - o.output,
    filesWritten - o.filesWritten, sqlExecs - o.sqlExecs,
    Census(census.scans - o.census.scans, census.exchanges - o.census.exchanges,
      census.reused - o.census.reused, census.nodes - o.census.nodes),
    gcMs - o.gcMs, jobBusyMs - o.jobBusyMs)
}

/** The traced run's instruments: a SparkListener for jobs, stages and
  * task metrics, a QueryExecutionListener for the plan census of every
  * SQL execution, and a StreamingQueryListener for micro-batch
  * progress. None of them is attached in an untraced run. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private var jobs, stages, tasks, taskMs, cpuNs = 0L
  private var shuffleWrite, shuffleRead, spill, input, output, filesWritten = 0L
  private var sqlExecs = 0L
  private var census = Census.zero
  // time with at least one job running, from the events' own stamps
  // (listener delivery is asynchronous): a counter of running jobs and
  // the instant it last rose from zero
  private var running = 0
  private var busySince = 0L
  private var busyMs = 0L
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (running == 0) busySince = e.time
    running += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) busyMs += e.time - busySince
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
      // a write task writes one file per partition it holds rows for
      if (m.outputMetrics.recordsWritten > 0) filesWritten += 1
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = Census.of(qe.executedPlan)
      Tracer.this.synchronized { sqlExecs += 1; census = census + c }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(sqlListener)
  spark.streams.addListener(streamListener)

  /** Counters as of now, after every event posted so far has landed.
    * A job still running is counted busy up to this instant. */
  def snapshot(): Engine = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    synchronized {
      val busy = busyMs + (if (running > 0) System.currentTimeMillis() - busySince else 0L)
      Engine(jobs, stages, tasks, taskMs, cpuNs, shuffleWrite, shuffleRead, spill,
        input, output, filesWritten, sqlExecs, census, Tracer.gcMs(), busy)
    }
  }

  /** Progress events posted so far (drained first), then cleared. */
  def takeProgress(): Seq[StreamingQueryProgress] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    synchronized { val p = progress.toList; progress.clear(); p }
  }
}

object Tracer {
  /** Collection time of every JVM collector, summed. In local mode the
    * executors are threads of this JVM, so this is the engine's GC. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
