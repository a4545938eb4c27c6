package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced interval. `parent` is -1 for spans reported by Spark
  * listeners (jobs, stream triggers): their parent is the innermost
  * harness span containing them, resolved when the spans are folded
  * (perfbench/stats.py). Spans of one attempt share `attempt`.
  */
final case class Span(id: Int, name: String, layer: String, attempt: String,
    startNs: Long, endNs: Long, parent: Int)

/** Span recorder. Disabled in timed runs: `span` then only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String, layer: String, attempt: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val i = nextId; nextId += 1
        val p = stack.headOption.getOrElse(-1)
        stack.push(i); (i, p)
      }
      val t0 = Clock.nowNs
      try body finally synchronized {
        stack.pop()
        spans += Span(id, name, layer, attempt, t0, Clock.nowNs, parent)
      }
    }

  /** A span timed elsewhere (listener events carry their own times). */
  def external(name: String, layer: String, attempt: String,
      startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      spans += Span(nextId, name, layer, attempt, startNs, endNs, -1)
      nextId += 1
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Per-layer totals from Spark's public listeners: scheduling and
  * executor task metrics (SparkListener), driver planning phases
  * (QueryExecutionListener over `QueryExecution.tracker`), and
  * micro-batch phases plus state-store figures (StreamingQueryListener).
  * Attached only in traced runs.
  */
final class Layers(tracer: Tracer) {
  private val totals = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.HashMap.empty[Int, (Long, String)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit =
    synchronized(totals(k) = totals.getOrElse(k, 0.0) + v)
  private def peak(k: String, v: Double): Unit =
    synchronized(totals(k) = math.max(totals.getOrElse(k, 0.0), v))

  def snapshot: Map[String, Double] = synchronized(totals.toMap)
  def jobIntervals: Seq[(Long, Long)] = synchronized(jobSpans.toList)

  private val msNs = 1000000L

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("sched.jobs", 1)
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      Layers.this.synchronized(jobStarts(e.jobId) = (e.time * msNs, group))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Layers.this.synchronized(jobStarts.remove(e.jobId)).foreach { case (s, g) =>
        val end = math.max(s, e.time * msNs)
        Layers.this.synchronized(jobSpans += ((s, end)))
        tracer.external("job", "job", g, s, end)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      add("plan.executions", 1)
      qe.tracker.phases.foreach { case (phase, summary) =>
        phase match {
          case "analysis" => add("plan.analysis_s", summary.durationMs / 1e3)
          case "optimization" => add("plan.optimization_s", summary.durationMs / 1e3)
          case "planning" => add("plan.planning_s", summary.durationMs / 1e3)
          case _ =>
        }
      }
    }
  }

  private val phaseKeys = Seq(
    "triggerExecution" -> "stream.trigger_s",
    "latestOffset" -> "stream.latest_offset_s",
    "getBatch" -> "stream.get_batch_s",
    "queryPlanning" -> "stream.query_planning_s",
    "addBatch" -> "stream.add_batch_s",
    "walCommit" -> "stream.wal_commit_s",
    "commitOffsets" -> "stream.commit_offsets_s")

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add("stream.starts", 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("stream.batches", 1)
      if (p.numInputRows == 0) add("stream.empty_batches", 1)
      val d = p.durationMs
      phaseKeys.foreach { case (k, name) =>
        Option(d.get(k)).foreach(v => add(name, v.longValue / 1e3))
      }
      val ops = p.stateOperators.toSeq
      if (ops.nonEmpty) {
        peak("state.rows_total", ops.map(_.numRowsTotal).sum.toDouble)
        peak("state.memory_bytes", ops.map(_.memoryUsedBytes).sum.toDouble)
        add("state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble)
        add("state.update_ms", ops.map(_.allUpdatesTimeMs).sum.toDouble)
        add("state.commit_ms", ops.map(_.commitTimeMs).sum.toDouble)
      }
      Option(d.get("triggerExecution")).foreach { t =>
        val start = java.time.Instant.parse(p.timestamp)
        val s = start.getEpochSecond * 1000000000L + start.getNano
        tracer.external("trigger", "trigger", "", s, s + t.longValue * msNs)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
  }

  def detach(s: SparkSession): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(s.sparkContext)
    s.streams.removeListener(streamListener)
    s.listenerManager.unregister(planListener)
    s.sparkContext.removeSparkListener(sparkListener)
  }
}

object Layers {
  /** Wall time inside `windows` covered by no interval of `busy` —
    * `sched.driver_only_s`, the driver-side time with no job running.
    */
  def uncovered(windows: Seq[(Long, Long)], busy: Seq[(Long, Long)]): Long = {
    val merged = busy.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }
    windows.map { case (ws, we) =>
      val covered = merged.map { case (s, e) =>
        math.max(0L, math.min(e, we) - math.max(s, ws))
      }.sum
      (we - ws) - covered
    }.sum
  }
}
