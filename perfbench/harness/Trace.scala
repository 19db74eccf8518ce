package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is -1 at a root; `query` is "" outside
  * a query. Times are epoch seconds.
  */
final case class Span(id: Int, name: String, layer: String,
    start: Double, end: Double, parent: Int, query: String) {
  def toJson: String = Json.obj(Seq(
    "id" -> id, "name" -> name, "layer" -> layer, "start" -> start,
    "end" -> end, "parent" -> (if (parent < 0) null else parent),
    "query" -> (if (query.isEmpty) null else query)))
}

/** Epoch seconds at nanosecond resolution, on the same base as the
  * epoch-millisecond times Spark stamps on listener events.
  */
object Clock {
  private val base =
    System.currentTimeMillis() / 1e3 - System.nanoTime() / 1e9
  def now(): Double = base + System.nanoTime() / 1e9
}

/** In-memory trace: spans plus the counters of the current pass. */
object Trace {
  /** Local properties that tie a Spark job to the query that ran it. */
  val SpanKey = "perfbench.span"
  val QueryKey = "perfbench.query"

  @volatile var plansOn = false
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  def newId(): Int = ids.incrementAndGet()
  def record(s: Span): Unit = spans.synchronized { spans += s }
  def allSpans: Seq[Span] = spans.synchronized { spans.toList }

  def add(k: String, v: Double): Unit = counts.synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = counts.synchronized {
    counts(k) = math.max(counts.getOrElse(k, 0.0), v)
  }
  /** Counters since the last call, then zero them. */
  def takeCounts(): Map[String, Double] = counts.synchronized {
    val m = counts.toMap
    counts.clear()
    m
  }
}

/** Sums `QueryPlanningTracker` phases of every query execution on any
  * session of the context. Registered through the static
  * `spark.sql.queryExecutionListeners` conf so that child sessions,
  * which the engine creates per store build, get it too.
  */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = count(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = count(qe)

  private def count(qe: QueryExecution): Unit = if (Trace.plansOn) {
    val phases = qe.tracker.phases
    for (p <- Seq("analysis", "optimization", "planning"))
      Trace.add(s"plans.${p}_s",
        phases.get(p).map(_.durationMs).getOrElse(0L) / 1e3)
    Trace.add("plans.executions", 1)
  }
}

/** Job spans and substrate counts from Spark's listener events. */
class JobProbe(passSpan: () => Int) extends SparkListener {
  private case class Open(start: Double, stages: Seq[Int], parent: Int,
      query: String)
  private val open = mutable.Map.empty[Int, Open]
  private val submitted = mutable.Set.empty[Int]
  private val MB = 1024.0 * 1024.0

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val props = Option(ev.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    open(ev.jobId) = Open(ev.time / 1e3, ev.stageIds,
      prop(Trace.SpanKey).map(_.toInt).getOrElse(passSpan()),
      prop(Trace.QueryKey).getOrElse(""))
    Trace.add("spark.jobs", 1)
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = synchronized {
    open.remove(ev.jobId).foreach { o =>
      Trace.record(Span(Trace.newId(), s"job ${ev.jobId}", "spark",
        o.start, ev.time / 1e3, o.parent, o.query))
      Trace.add("spark.stages_skipped",
        o.stages.count(id => !submitted.contains(id)))
      o.stages.foreach(submitted.remove)
    }
  }

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
    synchronized { submitted += ev.stageInfo.stageId }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val n = ev.stageInfo.numTasks
    Trace.add("spark.stages", 1)
    if (n == 1) Trace.add("spark.single_task_stages", 1)
    Trace.max("spark.max_stage_tasks", n)
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    Trace.add("spark.tasks", 1)
    if (ev.taskInfo.attemptNumber > 0) Trace.add("spark.task_retries", 1)
    Option(ev.taskMetrics).foreach { m =>
      Trace.add("spark.task_run_s", m.executorRunTime / 1e3)
      Trace.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      Trace.add("spark.gc_s", m.jvmGCTime / 1e3)
      Trace.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      Trace.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      Trace.add("spark.spill_mb", m.diskBytesSpilled / MB)
      Trace.add("spark.input_mb", m.inputMetrics.bytesRead / MB)
    }
  }
}
