package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for spans, ops and Spark's own event times: epoch
  * nanoseconds, advanced by `System.nanoTime` so it is monotonic
  * within the process and comparable with listener timestamps (ms). */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, end: Long)

final case class Op(id: Int, kind: String, phase: String, start: Long,
    end: Long, ok: Boolean, note: String, info: Map[String, Any])

/** Records ops (always) and spans (traced runs only). There is a single
  * client thread, so the open-span stack is a plain list. */
final class Recorder(val traced: Boolean) {
  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var currentOp = -1

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = Clock.now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, currentOp, start, Clock.now())
      }
    }

  /** Time one op. `body` returns (ok, note, info); an exception counts
    * as a failed op and is recorded, not rethrown. */
  def op(kind: String, phase: String)(
      body: => (Boolean, String, Map[String, Any])): Op = {
    val id = ops.size
    currentOp = id
    val start = Clock.now()
    val (ok, note, info) =
      try span(s"op.$kind")(body)
      catch {
        case scala.util.control.NonFatal(e) =>
          (false, s"${e.getClass.getSimpleName}: ${e.getMessage}", Map.empty[String, Any])
      }
    val o = Op(id, kind, phase, start, Clock.now(), ok,
      Option(note).getOrElse("").take(300), info)
    currentOp = -1
    ops += o
    o
  }
}

/** Per-job totals from Spark's scheduler events. Tasks are folded into
  * their job as they end, so memory stays flat however long the run. */
final class JobRec(val jobId: Int, val group: String, val submitMs: Long) {
  var endMs = 0L
  var stages = 0
  var tasks = 0
  var emptyTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

final case class PlanRec(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long)

/** The benchmark's own view of what Spark did: a SparkListener for
  * jobs/stages/tasks and a QueryExecutionListener for Catalyst's phase
  * clocks. Both run on Spark's listener bus; the time spent in their
  * handlers is kept so the trace's own cost can be reported. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer[JobRec]()
  val plans = ArrayBuffer[PlanRec]()
  private val stageJob = scala.collection.mutable.Map[Int, JobRec]()
  @volatile var handlerNs = 0L
  @volatile var markerSeen = Set.empty[String]

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    synchronized(f)
    handlerNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    jobs += j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.find(_.jobId == e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.group.startsWith("perfbench-marker-")) markerSeen += j.group
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      if (m.inputMetrics.recordsRead == 0 &&
          m.shuffleReadMetrics.recordsRead == 0) j.emptyTasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def phases(qe: QueryExecution): Unit = timed {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      plans += PlanRec(ph.values.map(_.startTimeMs).min, d("analysis"),
        d("optimization"), d("planning"))
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
}
