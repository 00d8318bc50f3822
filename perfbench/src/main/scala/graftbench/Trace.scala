package graftbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Job tags name the call a Spark job belongs to: `op:<key or verb>`,
  * `phase:<construct|action>` and `req:<n>`. They are set in every run
  * (they cost nothing); only a traced run attaches the [[Recorder]].
  */
final class Tags(sc: SparkContext) {
  private var last = 0L

  /** A fresh request id. */
  def next(): Long = { last += 1; last }

  def around[T](req: Long, op: String, phase: String)(body: => T): T = {
    sc.clearJobTags()
    sc.addJobTag(s"op:$op")
    sc.addJobTag(s"phase:$phase")
    sc.addJobTag(s"req:$req")
    try body finally sc.clearJobTags()
  }
}

/** One harness span: an op's phase, timed by the harness itself. Job and
  * stage spans from the [[Recorder]] nest under these by tag and time.
  */
final case class Span(req: Long, op: String, kind: String, phase: String,
                      startMs: Long, endMs: Long)

/** Records job and stage spans in memory; written out when the run ends. */
final class Recorder extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, tags: String,
                       stages: Seq[Int], var ok: Boolean)
  final case class Stage(id: Int, attempt: Int, tags: String, submit: Long,
                         end: Long, tasks: Int, failed: Boolean, runMs: Long, cpuNs: Long,
                         gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
                         input: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  private val stageTags = mutable.Map.empty[Int, String]
  var failedTasks = 0L

  private def tagsOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(org.apache.spark.BenchAccess.JobTagsKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, tagsOf(e.properties),
      e.stageInfos.map(_.stageId), ok = false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTags(e.stageInfo.stageId) = tagsOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val has = m != null
    stages += Stage(i.stageId, i.attemptNumber(), stageTags.getOrElse(i.stageId, ""),
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L), i.numTasks,
      i.failureReason.isDefined,
      if (has) m.executorRunTime else 0L, if (has) m.executorCpuTime else 0L,
      if (has) m.jvmGCTime else 0L,
      if (has) m.shuffleReadMetrics.totalBytesRead else 0L,
      if (has) m.shuffleWriteMetrics.bytesWritten else 0L,
      if (has) m.memoryBytesSpilled + m.diskBytesSpilled else 0L,
      if (has) m.inputMetrics.bytesRead else 0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failedTasks += 1
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "failed_tasks" -> failedTasks,
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
        "tags" -> j.tags, "stages" -> j.stages, "ok" -> j.ok)).toSeq,
      "stages" -> stages.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "tags" -> s.tags, "submit" -> s.submit, "end" -> s.end, "tasks" -> s.tasks,
        "failed" -> s.failed, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "input" -> s.input)).toSeq)
  }
}
