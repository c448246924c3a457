package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans nest on the benchmark's thread (a pass,
  * then each public call into the program); job spans from the
  * listener hang under the call that was running when the job started.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startMs: Long, endMs: Long)

/** Spans around the benchmark's own calls into the program, held in
  * memory and written out when the run ends. Only the traced run keeps
  * them; in the untraced run `apply` just runs its body.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var pass: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val start = System.currentTimeMillis()
      spans += Span(id, name, stack.headOption.getOrElse(-1), pass, start, -1)
      stack = id :: stack
      try body
      finally {
        spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
        stack = stack.tail
      }
    }

  /** Innermost span open at `t` (epoch ms), or -1. */
  def at(t: Long): Int = {
    var best = -1
    var i = 0
    while (i < spans.length) {
      val s = spans(i)
      if (s.startMs <= t && (s.endMs < 0 || t <= s.endMs)) best = i
      i += 1
    }
    best
  }
}

/** Per-job record from the listener bus. Task metrics are summed into
  * the job whose stage ran the task; a shuffle stage shared by several
  * jobs runs once and is charged to the first.
  */
final class JobRec(val id: Int, val callSite: String, val startMs: Long) {
  var endMs: Long = -1
  var stages, tasks = 0
  var runMs, gcMs, cpuNs, shuffleWrite, shuffleRead, spill, result, outBytes = 0L
}

/** Records every job's call site and interval (both modes: the DBN
  * workloads split a call into layers by its job boundaries) and, when
  * `full`, the stage and task metrics of the traced run.
  */
final class JobLog(full: Boolean) extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  private val byId = scala.collection.mutable.HashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is created after its parents: the highest id
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new JobRec(e.jobId, site, e.time)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (full) synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full && e.taskMetrics != null) {
    synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val m = e.taskMetrics
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.result += m.resultSize
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def between(startMs: Long, endMs: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
  }
}

/** Analysis, optimization and planning phases of every SQL execution's
  * planning tracker, as (phase start epoch ms, duration ms).
  */
final class PlanLog extends QueryExecutionListener {
  val phases = ArrayBuffer.empty[(Long, Long)]
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def between(startMs: Long, endMs: Long): Seq[(Long, Long)] = synchronized {
    phases.filter { case (t, _) => t >= startMs && t <= endMs }.toSeq
  }
}
