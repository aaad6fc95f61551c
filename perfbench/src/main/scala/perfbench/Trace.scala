package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Client-side spans for the traced run. A span is opened by the benchmark
  * around one call into a layer; spans are kept in memory and written out
  * once, when the run ends. `on` gates recording, so a traced run can
  * alternate traced and untraced slices and report the difference. */
final class Tracer(enabled: Boolean) {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]
  private val parents = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled || !on) body
    else {
      val id = ids.incrementAndGet()
      val stack = parents.get()
      parents.set(id :: stack)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        parents.set(stack)
        spans.add(Map("id" -> id, "parent" -> stack.headOption.getOrElse(0L),
          "name" -> name, "req" -> req, "start_ns" -> start, "end_ns" -> end))
      }
    }

  def write(f: File): Unit = if (enabled) Json.writeLines(f, spans.iterator.asScala)
}

/** Task-level totals for one scope (a query name, or the streaming layer). */
final class TaskTotals {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill =
    new LongAdder
  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "run_ms" -> runMs.sum, "cpu_ns" -> cpuNs.sum, "gc_ms" -> gcMs.sum,
    "shuffle_read_bytes" -> shuffleRead.sum, "shuffle_write_bytes" -> shuffleWrite.sum,
    "spill_bytes" -> spill.sum)
}

/** The three engine listeners of a traced run, registered on the
  * benchmark's own session. Jobs are attributed to the `perfbench.scope`
  * local property of the thread that submitted them (streaming threads
  * inherit it from the thread that started the query). */
final class EngineRecorder(tracer: Tracer) {
  val totals = new ConcurrentHashMap[String, TaskTotals]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** Scope for plan-phase events, which arrive on the listener bus thread
    * and so cannot read the submitter's local properties: set it before an
    * action and [[drain]] after it. */
  @volatile var scope: String = "other"

  private def agg(scope: String): TaskTotals = totals.computeIfAbsent(scope, _ => new TaskTotals)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracer.on) {
      val scope = Option(e.properties).flatMap(p => Option(p.getProperty(Scope.Key)))
        .getOrElse("other")
      agg(scope).jobs.increment()
      e.stageInfos.foreach(s => stageScope.put(s.stageId, scope))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageScope.get(e.stageInfo.stageId)).foreach(agg(_).stages.increment())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageScope.get(e.stageId)).foreach { scope =>
        val t = agg(scope)
        t.tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          t.runMs.add(m.executorRunTime); t.cpuNs.add(m.executorCpuTime)
          t.gcMs.add(m.jvmGCTime)
          t.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          t.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          t.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracer.on) {
        val p = e.progress
        val state = p.stateOperators.toSeq
        progress.add(Map(
          "query" -> p.id.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "state_bytes" -> state.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> state.map(_.commitTimeMs).sum))
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracer.on) {
        phases.add(Map("scope" -> scope, "func" -> funcName, "duration_ns" -> durationNs,
          "phases_ms" -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  /** Wait for the asynchronous listener bus to deliver what is queued. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def toMap: Map[String, Any] = Map(
    "tasks" -> totals.asScala.map { case (k, v) => k -> v.toMap }.toMap,
    "progress" -> progress.asScala.toSeq,
    "phases" -> phases.asScala.toSeq)
}

object Scope {
  val Key = "perfbench.scope"
  def set(spark: SparkSession, scope: String): Unit =
    spark.sparkContext.setLocalProperty(Key, scope)
}
