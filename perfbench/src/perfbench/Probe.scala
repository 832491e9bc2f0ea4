package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine counters summed over the tasks, queries and stream batches of one
  * step (or of a whole iteration when untraced). Times keep Spark's units:
  * CPU in ns, the rest in ms.
  */
final class Counters {
  var jobs, stages, tasks, failedTasks         = 0L
  var cpuNs, runMs, durationMs, gcMs           = 0L
  var peakMem, heapPeak                        = 0L
  var inputBytes, inputRecords                 = 0L
  var outputBytes, outputRecords               = 0L
  var shuffleWriteBytes, fetchWaitMs, spillBytes = 0L
  var maxPairRows                              = 0L
  var streamBatches, streamRows                = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; runMs += o.runMs; durationMs += o.durationMs; gcMs += o.gcMs
    peakMem = math.max(peakMem, o.peakMem); heapPeak = math.max(heapPeak, o.heapPeak)
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    shuffleWriteBytes += o.shuffleWriteBytes; fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    maxPairRows = math.max(maxPairRows, o.maxPairRows)
    streamBatches += o.streamBatches; streamRows += o.streamRows
  }

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "cpu_ns" -> cpuNs, "run_ms" -> runMs, "duration_ms" -> durationMs, "gc_ms" -> gcMs,
    "peak_mem_bytes" -> peakMem, "heap_peak_bytes" -> heapPeak,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes, "fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spillBytes, "max_pair_rows" -> maxPairRows,
    "stream_batches" -> streamBatches, "stream_rows" -> streamRows,
  ).map { case (k, v) => k -> v.toDouble }
}

/** Attributes Spark's own counters to the step that caused them.
  *
  * Tasks are attributed through the job group the harness sets per step
  * (a streaming query runs its batches under its run id, which is mapped to
  * the step that started it). Query and stream-progress events carry no
  * group; they are attributed to the step that is current when they are
  * delivered, which is exact because the harness drains the listener bus
  * at the end of every step.
  */
final class Probe(spark: SparkSession) {
  @volatile private var current = "-"
  private val byKey      = mutable.LinkedHashMap[String, Counters]()
  private val stageKey   = mutable.HashMap[Int, String]()
  private val groupAlias = mutable.HashMap[String, String]()

  private def counters(key: String): Counters = byKey.getOrElseUpdate(key, new Counters)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val key   = group.map(g => groupAlias.getOrElse(g, g)).filter(byKey.contains).getOrElse(current)
      e.stageIds.foreach(stageKey(_) = key)
      counters(key).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      counters(stageKey.getOrElse(e.stageInfo.stageId, current)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val c = counters(stageKey.getOrElse(e.stageId, current))
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
      c.durationMs += e.taskInfo.duration
      if (e.taskExecutorMetrics != null)
        c.heapPeak = math.max(c.heapPeak, e.taskExecutorMetrics.getMetricValue("JVMHeapMemory"))
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probe.this.synchronized {
        val c = counters(current)
        c.maxPairRows = math.max(c.maxPairRows, Probe.maxPairRows(qe.executedPlan))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Probe.this.synchronized { groupAlias(e.runId.toString) = current }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val c = counters(groupAlias.getOrElse(e.progress.runId.toString, current))
        c.streamBatches += 1
        c.streamRows += e.progress.numInputRows
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(taskListener)

  /** Query and stream listeners are attached only while a traced
    * iteration runs, so untraced iterations pay for the task listener alone.
    */
  def traced(on: Boolean): Unit =
    if (on) {
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Drains earlier events, then attributes what follows to `key`. */
  def enter(key: String, group: Boolean): Unit = {
    drain()
    synchronized { current = key; counters(key) }
    if (group) spark.sparkContext.setJobGroup(key, key, interruptOnCancel = false)
  }

  def leave(group: Boolean): Unit = {
    if (group) spark.sparkContext.clearJobGroup()
    drain()
  }

  /** Removes and returns everything counted so far, by key. */
  def take(): Map[String, Counters] = {
    drain()
    synchronized {
      val out = byKey.toMap
      byKey.clear(); stageKey.clear(); groupAlias.clear()
      out
    }
  }
}

object Probe {

  /** Largest `numOutputRows` of any join or generate operator in an
    * executed plan, descending through adaptive query stages.
    */
  def maxPairRows(plan: SparkPlan): Long = {
    val here =
      if (plan.nodeName.contains("Join") || plan.nodeName.contains("Generate") ||
          plan.nodeName.contains("CartesianProduct"))
        plan.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      else 0L
    val inner: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case p                        => p.children ++ p.subqueries
    }
    (here +: inner.map(maxPairRows)).max
  }
}
