package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the id shared by an op's spans
  * (its Spark job group); `parent` is the enclosing span's id, -1 at
  * the top. Times are epoch milliseconds as fractional doubles, so they
  * line up with the listener's job and task timestamps.
  */
final case class Span(id: Int, parent: Int, op: String, unit: Int,
    name: String, kind: String, start: Double, end: Double) {
  def secs: Double = (end - start) / 1000.0
}

final case class JobRec(id: Int, group: String, site: String,
    start: Long, var end: Long, stages: Seq[Int])

final case class TaskRec(stage: Int, durMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, schedDelayMs: Long, inBytes: Long,
    shWrite: Long, shRead: Long, spill: Long, empty: Boolean)

/** Records spans around the harness's calls into the program and, when
  * enabled, every Spark job and task as a child of the op whose job
  * group it ran under. Everything stays in memory until the run ends.
  */
final class Tracer extends SparkListener {
  @volatile var enabled = false
  private val lock = new Object
  val spans = ArrayBuffer.empty[Span]
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private var nextId = 0

  def nowMs: Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  /** Times `body` as a span; the span is recorded in every mode, since
    * the untraced metrics are computed from the same spans.
    */
  def span[A](op: String, unit: Int, name: String, kind: String,
      parent: Int = -1)(body: Int => A): A = {
    val id = lock.synchronized { nextId += 1; nextId }
    val t0 = nowMs
    try body(id)
    finally {
      val t1 = nowMs
      lock.synchronized { spans += Span(id, parent, op, unit, name, kind, t0, t1) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    lock.synchronized {
      // the call site: stage names carry the short form, details the
      // user-code stack
      val site = e.stageInfos.map(s => s"${s.name}\n${s.details}").mkString("\n")
      jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id"), site, e.time, -1L, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val dur = i.finishTime - i.launchTime
      val runMs = m.executorRunTime
      val delay = math.max(0L, dur - runMs - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      val inRecs = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      lock.synchronized {
        tasks += TaskRec(e.stageId, dur, runMs, m.executorCpuTime,
          m.jvmGCTime, delay, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
          inRecs == 0)
      }
    }
  }

  def reset(): Unit = lock.synchronized {
    spans.clear(); jobs.clear(); tasks.clear()
  }
}

object Tracer {
  /** Converts System.nanoTime to epoch milliseconds once, so span
    * times share the listener's clock without per-call wall reads.
    */
  val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
}
