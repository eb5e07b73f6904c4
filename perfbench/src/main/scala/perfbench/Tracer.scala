package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the scheduler's event times (System.currentTimeMillis).
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory trace of one run: spans at the harness's layer boundaries,
  * plus every Spark job, stage and query planning seen by the listeners
  * the benchmark registers. Listener events carry their own times and are
  * charged to spans by time afterwards, so they are recorded whether or not
  * a span is open. Nothing is written until the run ends; the arithmetic
  * over these records (self time, attribution, busy fraction) lives in
  * arith.py.
  */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double)
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitted: Long, completed: Long,
      tasks: Int)
  final class TaskTotals {
    var tasks = 0; var durationMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
    var inputB = 0L; var outputB = 0L
  }
  final case class Planning(start: Long, end: Long, funcName: String,
      phasesMs: Map[String, Long], bandRewrite: Boolean)

  /** Plannings seen by [[PlanListener]], which Spark instantiates by name. */
  val plannings = new ConcurrentLinkedQueue[Planning]()
}

/** Planning time of every query execution, with the start and end of its
  * planning phases. Registered through `spark.sql.queryExecutionListeners`,
  * so that it also sees the child sessions (`newSession()`) some queries
  * plan in.
  */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val band = qe.optimizedPlan.exists(_.expressions.exists(_.exists {
        case n: NamedExpression => n.name.startsWith("graft_band_bin")
        case _ => false
      }))
      Tracer.plannings.add(Tracer.Planning(phases.values.map(_.startTimeMs).min,
        phases.values.map(_.endTimeMs).max, funcName,
        phases.map { case (k, v) => k -> v.durationMs }, band))
    }
  }
}

final class Tracer {
  import Tracer._

  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)

  /** Whether spans are being recorded right now. */
  var on = false

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.head, name, Clock.nowMs, Double.NaN)
      spans += s
      stack = s.id :: stack
      try body
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
      }
    }

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  val taskTotals = new ConcurrentHashMap[(Int, Int), TaskTotals]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.put((i.stageId, i.attemptNumber()), Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L), i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = taskTotals.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskTotals)
      t.synchronized {
        t.tasks += 1
        t.durationMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputB += m.inputMetrics.bytesRead
          t.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end)),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "stages" -> j.stages)),
    "stages" -> stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map { s =>
      val t = Option(taskTotals.get((s.id, s.attempt))).getOrElse(new TaskTotals)
      Map("id" -> s.id, "attempt" -> s.attempt, "submitted" -> s.submitted,
        "completed" -> s.completed, "tasks" -> t.tasks, "duration_ms" -> t.durationMs,
        "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
        "shuffle_read_b" -> t.shuffleReadB, "shuffle_write_b" -> t.shuffleWriteB,
        "spill_b" -> t.spillB, "input_b" -> t.inputB, "output_b" -> t.outputB)
    },
    "plannings" -> plannings.asScala.toSeq.map(p => Map("start" -> p.start,
      "end" -> p.end, "func" -> p.funcName, "phases_ms" -> p.phasesMs,
      "band_rewrite" -> p.bandRewrite)))
}
