package perfbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark execution as seen from outside: every job, stage and task event,
  * kept raw and attributed to ops afterwards by time window. All callbacks
  * run on the listener-bus thread; readers drain the bus first
  * (`GraftListenerBridge.flushListeners`) and then read under the lock.
  */
final class ExecListener extends SparkListener {
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var schedDelayMs = 0L
    var inputBytes = 0L; var inputRows = 0L; var shuffleWriteBytes = 0L
    var spillBytes = 0L; var failures = 0L
  }
  final case class JobRec(id: Int, startMs: Long, stages: Seq[Int]) {
    var endMs: Long = startMs
  }

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.Map.empty[Int, Int]
  val stageTasks = mutable.Map.empty[Int, TaskAgg]
  val stagesRun = mutable.ArrayBuffer.empty[Int]
  val sqlStartsMs = mutable.ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.numTasks > 0) stagesRun += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageTasks.getOrElseUpdate(e.stageId, new TaskAgg)
    a.tasks += 1
    if (e.reason != TaskSuccess) a.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      val info = e.taskInfo
      if (info != null && info.finished) {
        // the Spark UI's definition of scheduler delay
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStartsMs += s.time }
    case _ =>
  }
}

/** One closed span: a named call the benchmark made, inside op `opSeq`. */
final case class Span(id: Int, name: String, opSeq: Int, parent: Int,
                      startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Span recorder for the traced run. Spans come only from the benchmark's
  * own calls into the engine (one client thread, so a plain stack). When
  * disabled, `span` just runs its body.
  */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var opSeq: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, opSeq, parent, t0, System.nanoTime())
      }
    }

  /** Self time of each span: its length minus what its child spans cover. */
  def selfNs(of: Seq[Span]): Map[Int, Long] = {
    val childNs = of.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.ns).sum }
    of.map(s => s.id -> math.max(0L, s.ns - childNs.getOrElse(s.id, 0L))).toMap
  }
}
