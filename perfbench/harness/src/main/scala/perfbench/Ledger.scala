package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one operation in one pass. Times are seconds unless the
  * name says otherwise; sizes are bytes. */
final class Tally {
  var jobs, stages, tasks = 0L
  var runS, cpuS, gcS, fetchWaitS = 0.0
  var shuffleWriteB, shuffleReadB, shuffleRecords, spillB = 0L
  var peakExecB, inputB, inputRows = 0L
  var analysisMs, optimizerMs, planningMs = 0.0
  var batches = 0L
  var addBatchMs, queryPlanningMs, walCommitMs, stateCommitMs = 0.0
  var stateRows = 0L

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "run_s" -> runS, "cpu_s" -> cpuS, "gc_s" -> gcS, "fetch_wait_s" -> fetchWaitS,
    "shuffle_write_b" -> shuffleWriteB.toDouble, "shuffle_read_b" -> shuffleReadB.toDouble,
    "shuffle_records" -> shuffleRecords.toDouble, "spill_b" -> spillB.toDouble,
    "peak_exec_b" -> peakExecB.toDouble, "input_b" -> inputB.toDouble,
    "input_rows" -> inputRows.toDouble,
    "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs, "planning_ms" -> planningMs,
    "batches" -> batches.toDouble, "add_batch_ms" -> addBatchMs,
    "query_planning_ms" -> queryPlanningMs, "wal_commit_ms" -> walCommitMs,
    "state_commit_ms" -> stateCommitMs, "state_rows" -> stateRows.toDouble)
}

/** The benchmark's own listeners. Jobs are attributed to the operation
  * and pass named in the job's local properties; SQL and streaming events
  * carry no such properties, so they go to the operation that is current
  * when they are delivered — the harness drains the listener bus after
  * every operation, so that is the operation that caused them. */
final class Ledger(traced: Boolean) extends SparkListener {
  type Key = (Int, String)
  @volatile var current: Key = (-1, "setup")
  private val tallies = mutable.HashMap.empty[Key, Tally]
  /** (pass, op, job id, start ms, end ms) — traced runs only. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Int, Long, Long)]
  /** (pass, op, stage id, submitted ms, completed ms, tasks) — traced runs only. */
  val stageSpans = mutable.ArrayBuffer.empty[(Int, String, Int, Long, Long, Int)]
  /** (pass, op, query name, batch id, start ms, duration ms) — traced runs only. */
  val batchSpans = mutable.ArrayBuffer.empty[(Int, String, String, Long, Long, Long)]
  private val stageKey = mutable.HashMap.empty[Int, Key]
  private val jobKey = mutable.HashMap.empty[Int, (Key, Long)]
  private val lastStateRows = mutable.HashMap.empty[java.util.UUID, Long]
  var taskCpuTotalS = 0.0

  def tally(k: Key): Tally = synchronized(tallies.getOrElseUpdate(k, new Tally))

  private def keyOf(props: java.util.Properties): Key =
    Option(props).flatMap(p => Option(p.getProperty(Harness.OpProp)))
      .map { v => val i = v.indexOf(':'); (v.take(i).toInt, v.drop(i + 1)) }
      .getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    e.stageIds.foreach(stageKey(_) = k)
    if (traced) jobKey(e.jobId) = (k, e.time)
    tally(k).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case ((pass, op), start) =>
      jobSpans += ((pass, op, e.jobId, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val k = stageKey.getOrElse(info.stageId, current)
    tally(k).stages += 1
    if (traced) stageSpans += ((k._1, k._2, info.stageId,
      info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L), info.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val t = tally(stageKey.getOrElse(e.stageId, current))
    t.tasks += 1
    t.runS += m.executorRunTime / 1e3
    t.cpuS += m.executorCpuTime / 1e9
    taskCpuTotalS += m.executorCpuTime / 1e9
    t.gcS += m.jvmGCTime / 1e3
    t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
    t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
    t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
    t.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
    t.spillB += m.diskBytesSpilled
    t.peakExecB = math.max(t.peakExecB, m.peakExecutionMemory)
    t.inputB += m.inputMetrics.bytesRead
    t.inputRows += m.inputMetrics.recordsRead
  }

  /** Catalyst phase times of every query the operations run. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Ledger.this.synchronized {
        val t = tally(current)
        val ph = qe.tracker.phases
        ph.get("analysis").foreach(p => t.analysisMs += p.durationMs)
        ph.get("optimization").foreach(p => t.optimizerMs += p.durationMs)
        ph.get("planning").foreach(p => t.planningMs += p.durationMs)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Microbatch phases of every streaming query the operations run. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Ledger.this.synchronized {
        val p = e.progress
        val t = tally(current)
        def ms(phase: String): Double =
          Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)
        t.batches += 1
        t.addBatchMs += ms("addBatch")
        t.queryPlanningMs += ms("queryPlanning")
        t.walCommitMs += ms("walCommit")
        t.stateCommitMs += p.stateOperators.map(_.commitTimeMs.toDouble).sum
        lastStateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
        if (traced) batchSpans += ((current._1, current._2, String.valueOf(p.name), p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, ms("triggerExecution").toLong))
      }
  }

  /** Closes the current operation: the state rows its streaming queries
    * ended with are added to its tally. */
  def closeOp(): Unit = synchronized {
    if (lastStateRows.nonEmpty) {
      tally(current).stateRows += lastStateRows.values.sum
      lastStateRows.clear()
    }
  }
}
