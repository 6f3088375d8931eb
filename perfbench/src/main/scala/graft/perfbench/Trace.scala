package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of the timed phase, gathered only from Spark's
  * public listener interfaces: a `SparkListener` (jobs, stages, tasks,
  * shuffle, spill, GC, scan input, results sent to the driver, AQE
  * re-plans), a `QueryExecutionListener` (the `QueryPlanningTracker`
  * phases and the files each scan read) and a `StreamingQueryListener`
  * (micro-batch durations and input rows).
  *
  * Work is attributed to the operation whose Spark job group issued it
  * (the loop runs each operation in its own group, named
  * `pb:<operation>:<seq>`); jobs with no group, such as a streaming
  * query's micro-batches, count under "stream". Only work whose job or
  * SQL execution started inside the recording window counts, so set-up
  * never leaks into the figures.
  */
final class Trace extends SparkListener {

  /** Sums of one operation kind's work. */
  final class Counters {
    var jobs, stages, tasks, aqeUpdates, filesRead = 0L
    var taskNs, cpuNs, gcMs, spill, shuffleWrite, shuffleRead = 0L
    var bytesRead, rowsRead, resultBytes = 0L
    var analysisMs, optimizationMs, planningMs = 0L
  }

  @volatile private var windowStart = Long.MaxValue
  @volatile private var windowEnd = Long.MaxValue
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val openJobs = mutable.Set.empty[Int]
  private val execGroup = mutable.Map.empty[Long, String]
  private val openExecs = mutable.Set.empty[Long]
  private var worstSkew = 1.0
  private val batchMs = Map("triggerExecution" -> mutable.ArrayBuffer.empty[Long],
    "latestOffset" -> mutable.ArrayBuffer.empty[Long],
    "addBatch" -> mutable.ArrayBuffer.empty[Long],
    "commitOffsets" -> mutable.ArrayBuffer.empty[Long])
  private var streamRows = 0L

  def start(): Unit = synchronized { windowStart = System.currentTimeMillis() }
  def stop(): Unit = synchronized { windowEnd = System.currentTimeMillis() }

  private def inWindow(t: Long) = t >= windowStart && t <= windowEnd
  private def kind(group: String): String =
    if (group == null || !group.startsWith("pb:")) "stream"
    else group.split(':')(1)
  private def counters(k: String) = byGroup.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (inWindow(e.time)) {
      val k = kind(e.properties.getProperty("spark.jobGroup.id"))
      counters(k).jobs += 1
      openJobs += e.jobId
      e.stageIds.foreach(s => stageGroup(s) = k)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (k <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(k)
      c.tasks += 1
      c.taskNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.bytesRead += m.inputMetrics.bytesRead
      c.rowsRead += m.inputMetrics.recordsRead
      c.resultBytes += m.resultSize
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      for (k <- stageGroup.get(id)) {
        counters(k).stages += 1
        // max/median task time; stages of one task have no skew, and a
        // 1 ms floor keeps near-empty stages from dividing by zero
        stageTaskMs.remove(id).filter(_.size > 1).foreach { ts =>
          val s = ts.sorted
          worstSkew = math.max(worstSkew,
            s.last.toDouble / math.max(1L, s(s.size / 2)))
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart if inWindow(s.time) =>
        execGroup(s.executionId) = kind(s.jobGroupId.orNull)
        openExecs += s.executionId
      case s: SparkListenerSQLExecutionEnd => openExecs -= s.executionId
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execGroup.get(u.executionId).foreach(k => counters(k).aqeUpdates += 1)
      case _ =>
    }
  }

  /** Planning phases and files scanned of every finished query. */
  val queries: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    // Called from the execution-end event, before this class's own
    // listener sees that event: the ending execution is still open, and
    // with one client thread every open execution belongs to one group.
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Trace.this.synchronized {
      execGroup.get(qe.id).orElse(openExecs.maxOption.flatMap(execGroup.get)).foreach { k =>
        val c = counters(k)
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        c.filesRead += collectWithSubqueries(qe.executedPlan) {
          case p if p.metrics.contains("numFiles") && p.children.isEmpty =>
            p.metrics("numFiles").value
        }.sum
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Micro-batch progress of the streaming queries. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        if (inWindow(t) && p.numInputRows > 0) {
          streamRows += p.numInputRows
          batchMs.foreach { case (k, buf) =>
            Option(p.durationMs.get(k)).foreach(v => buf += v.longValue)
          }
        }
      }
  }

  /** Wait until the listener bus has delivered the window's events: every
    * job and SQL execution started in the window has ended.
    */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(openJobs.nonEmpty || openExecs.nonEmpty) &&
      System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(200)
  }

  /** The per-layer figures, each per counted operation unless it is a
    * ratio, a median or a maximum; `wallS` is the timed wall time.
    */
  def figures(nOps: Int, wallS: Double,
      cores: Int): Map[String, Double] = synchronized {
    val all = byGroup.values
    def per(f: Counters => Long) = all.map(f).sum.toDouble / math.max(1, nOps)
    def med(xs: Seq[Long]) =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2).toDouble
    val taskS = all.map(_.taskNs).sum / 1e9
    Map(
      "planning.analysis_ms" -> per(_.analysisMs),
      "planning.optimization_ms" -> per(_.optimizationMs),
      "planning.physical_ms" -> per(_.planningMs),
      "planning.aqe_updates" -> per(_.aqeUpdates),
      "exec.jobs" -> per(_.jobs),
      "exec.stages" -> per(_.stages),
      "exec.tasks" -> per(_.tasks),
      "exec.task_s" -> per(_.taskNs) / 1e9,
      "exec.task_cpu_s" -> per(_.cpuNs) / 1e9,
      "exec.gc_s" -> per(_.gcMs) / 1e3,
      "exec.spill_bytes" -> per(_.spill),
      "exec.idle_share" -> math.max(0.0, 1.0 - taskS / (wallS * cores)),
      "exchange.shuffle_write_bytes" -> per(_.shuffleWrite),
      "exchange.shuffle_read_bytes" -> per(_.shuffleRead),
      "exchange.stage_skew" -> worstSkew,
      "scan.files_read" -> per(_.filesRead),
      "scan.bytes_read" -> per(_.bytesRead),
      "scan.rows_read" -> per(_.rowsRead),
      "collect.result_bytes" -> per(_.resultBytes),
      "stream.batch_ms" -> med(batchMs("triggerExecution").toSeq),
      "stream.latest_offset_ms" -> med(batchMs("latestOffset").toSeq),
      "stream.add_batch_ms" -> med(batchMs("addBatch").toSeq),
      "stream.commit_ms" -> med(batchMs("commitOffsets").toSeq),
      "stream.input_rows" -> streamRows.toDouble / math.max(1, nOps)
    )
  }

  /** One counter of one operation kind, summed over all its runs. */
  def total(kind: String, f: Counters => Long): Long = synchronized {
    byGroup.get(kind).map(f).getOrElse(0L)
  }
}
