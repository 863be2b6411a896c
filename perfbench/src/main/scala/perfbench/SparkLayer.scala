package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** The `spark` layer: jobs, stages and task totals from Spark's public
  * listener API. Installed only in the traced run; the untraced run
  * counts jobs through the status tracker instead.
  */
final class SparkLayer extends SparkListener {
  final case class Job(id: Int, submitMs: Long, var endMs: Long,
                       group: Option[String], batchId: Option[String])
  final case class Stage(id: Int, jobId: Int, submitMs: Long, endMs: Long,
                         tasks: Int, cpuNs: Long, runMs: Long, gcMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId")))
    e.stageIds.foreach(stageToJob.put(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val stage =
      if (m == null) Stage(i.stageId, stageToJob.getOrDefault(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, 0, 0, 0, 0, 0, 0)
      else Stage(i.stageId, stageToJob.getOrDefault(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.add(stage)
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values().asScala.toSeq.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs)
      .sortBy(_.id)

  /** Tasks of the completed stages of `js`. */
  def tasksOf(js: Seq[Job]): Long = {
    val ids = js.map(_.id).toSet
    stages.asScala.filter(s => ids.contains(s.jobId)).map(_.tasks.toLong).sum
  }

  /** spark.* totals over the jobs submitted in [fromMs, toMs]. */
  def totals(fromMs: Long, toMs: Long): Map[String, Double] = {
    val js = jobsIn(fromMs, toMs)
    val ids = js.map(_.id).toSet
    val ss = stages.asScala.toSeq.filter(s => ids.contains(s.jobId))
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks.toLong).sum.toDouble,
      "spark.executor_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.executor_run_s" -> ss.map(_.runMs).sum / 1e3,
      "spark.gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> ss.map(_.spill).sum / mb)
  }

  /** Add a span per job and per stage under the span that caused it:
    * the job group's span, else the micro-batch span of
    * `streaming.sql.batchId`, else the innermost candidate span whose
    * interval contains the job's submission.
    */
  def emitSpans(tracer: Tracer, byGroup: Map[String, Long],
                byBatch: Map[String, Long], candidates: Seq[Tracer#Span],
                fromMs: Long, toMs: Long): Unit = {
    val byJob = stages.asScala.toSeq.groupBy(_.jobId)
    jobsIn(fromMs, toMs).foreach { j =>
      val startNs = tracer.nanosOfEpochMs(j.submitMs)
      val parent = j.group.flatMap(byGroup.get)
        .orElse(j.batchId.flatMap(byBatch.get))
        .getOrElse(candidates
          .filter(s => s.startNs <= startNs && s.endNs >= startNs)
          .sortBy(-_.startNs).headOption.map(_.id).getOrElse(0L))
      val endMs = if (j.endMs > 0) j.endMs else j.submitMs
      val jobSpan = tracer.record(parent, "spark.job", startNs,
        tracer.nanosOfEpochMs(endMs), Map("job_id" -> j.id.toString))
      byJob.getOrElse(j.id, Nil).foreach { s =>
        tracer.record(jobSpan, "spark.stage", tracer.nanosOfEpochMs(s.submitMs),
          tracer.nanosOfEpochMs(s.endMs),
          Map("stage_id" -> s.id.toString, "tasks" -> s.tasks.toString))
      }
    }
  }
}
