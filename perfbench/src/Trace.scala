package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a layer of graft. `parent` is the
  * enclosing span's id (-1 at the root); `phase` is setup, warmup, measure,
  * probe or check; `traced` says whether the job-attributing listener was on. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      phase: String, pass: Int, traced: Boolean,
                      t0: Long, t1: Long, ok: Boolean, error: String,
                      attrs: scala.collection.Map[String, Any])

/** Records spans in memory; `Report` writes them out when the run ends.
  *
  * With tracing on, each span sets the Spark job group to its own id so the
  * [[JobListener]] can attribute jobs and stages to it, and drains the
  * listener bus at both boundaries so every event of the span's jobs has
  * been applied before the next span starts. With tracing off a span is
  * two clock reads. */
final class Tracer(origin: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var sc: Option[SparkContext] = None
  var tracing = false
  var phase = "setup"
  var pass = -1
  private var nextId = 0
  private var stack: List[Int] = Nil

  def now(): Long = System.nanoTime() - origin

  /** Run `body` as a span; a failure is recorded and rethrown. `attrs` is
    * kept by reference, so the body and the code after the span may fill
    * it (result digests, returned counts, bookkeeping). */
  def span[T](name: String, layer: String,
              attrs: mutable.Map[String, Any] = mutable.Map.empty)
             (body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val traced = tracing
    val sc0 = sc.filter(_ => traced)
    sc0.foreach { c =>
      org.apache.spark.perfbench.Bus.drain(c)
      c.setJobGroup(s"pb-$id", name)
    }
    stack = id :: stack
    val t0 = now()
    var ok = false
    var err = ""
    try {
      val r = body
      ok = true
      r
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        throw e
    } finally {
      val t1 = now()
      stack = stack.tail
      sc0.foreach { c =>
        org.apache.spark.perfbench.Bus.drain(c)
        stack.headOption match {
          case Some(p) => c.setJobGroup(s"pb-$p", "")
          case None => c.clearJobGroup()
        }
      }
      spans += Span(id, parent, name, layer, phase, pass, traced, t0, t1,
        ok, err, attrs)
    }
  }
}

/** Per-stage task aggregates, filled from task-end events. */
final class StageAgg(val stageId: Int) {
  var name = ""
  var submitted = -1L
  var completed = -1L
  var tasks = 0
  var tasksFailed = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(jobId: Int, group: String, start: Long,
                        var end: Long, stageIds: Seq[Int])

/** Attributes jobs to spans by job group and aggregates task metrics per
  * stage. Times are wall-clock millis as Spark reports them; `Report`
  * shifts them onto the span clock. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]

  private def stage(id: Int): StageAgg =
    stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.name = i.name
      s.submitted = i.submissionTime.getOrElse(-1L)
      s.completed = i.completionTime.getOrElse(-1L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.tasksFailed += 1
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
