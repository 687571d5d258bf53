package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One call into a layer, timed with `System.nanoTime`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, t0: Long, t1: Long)

/** In-memory span recorder for one benchmark pass.
  *
  * A span is opened around each call the benchmark makes into a layer
  * (`Parser.parse`, `Engine.run`, the action, each `Dedup` call). While a
  * span is open, its id is the thread's `perfbench.span` local property,
  * so every Spark job submitted inside it carries the id and the
  * listener below can attribute the job to the span. Catalyst phases are
  * attributed afterwards by time, from the `QueryExecution.tracker`
  * phase intervals the execution listener captures. Everything stays in
  * memory until the pass ends; `run.py` derives the per-layer self times.
  *
  * When `enabled` is false the recorder only runs the bodies: no spans,
  * no local property, no listeners.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** nanoTime → epoch milliseconds, the clock Spark's events use. */
  def epochMs(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  var currentOp: Int = -1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, currentOp, name, layer, t0, t1)
      }
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Per-job record built from scheduler events. */
final class JobRecord(val jobId: Int, val span: Int, val start: Long) {
  var end: Long = -1L
  var stages: Int = 0
  var tasks: Int = 0
  var firstLaunch: Long = Long.MaxValue
  var runMs: Long = 0L
  var cpuNs: Long = 0L
  var inputBytes: Long = 0L
  var shuffleWrite: Long = 0L
  var shuffleRead: Long = 0L
  var spill: Long = 0L
  var outputBytes: Long = 0L
}

/** SparkListener: jobs, stages and task metrics, keyed by span. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    val r = new JobRecord(e.jobId, span, e.time)
    r.stages = e.stageIds.size
    e.stageIds.foreach(s => stageJob(s) = r)
    jobs(e.jobId) = r
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { r =>
      r.firstLaunch = math.min(r.firstLaunch, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.inputBytes += m.inputMetrics.bytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** A Catalyst phase interval in epoch milliseconds. */
final case class Phase(name: String, start: Long, end: Long)

/** QueryExecutionListener: the Catalyst phase intervals of every action.
  * An action re-run on the same QueryExecution reports the same phases
  * again; those repeats are dropped. */
final class PhaseListener extends QueryExecutionListener {
  val phases = mutable.ArrayBuffer.empty[Phase]
  private val seen = mutable.Set.empty[(Int, String, Long)]

  private def record(qe: QueryExecution): Unit = synchronized {
    val id = System.identityHashCode(qe)
    qe.tracker.phases.foreach { case (name, p) =>
      if (seen.add((id, name, p.startTimeMs)))
        phases += Phase(name, p.startTimeMs, p.endTimeMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
