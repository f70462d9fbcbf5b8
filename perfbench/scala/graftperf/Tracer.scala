package graftperf

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task counters summed over a set of tasks. */
final case class TaskSums(tasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0,
    gcMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0, recordsRead: Long = 0, bytesRead: Long = 0,
    bytesWritten: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(tasks + o.tasks, cpuNs + o.cpuNs,
    runMs + o.runMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill,
    recordsRead + o.recordsRead, bytesRead + o.bytesRead,
    bytesWritten + o.bytesWritten)
}

final case class JobRec(id: Int, group: String, timeMs: Long,
    stageIds: Seq[Int], callSite: String)

final case class BatchRec(runId: String, timeMs: Long, batchMs: Long,
    commitMs: Long, stateRows: Long, stateBytes: Long)

/** The traced run's listeners. They only record events; [[Attribution]]
  * maps them onto spans once the listener bus is drained. */
final class Tracer extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stageSums = new java.util.concurrent.ConcurrentHashMap[Int, TaskSums]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  /** Physical plan texts of SQL executions: they name the files scanned. */
  val plans = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val result = e.stageInfos.maxByOption(_.stageId)
    jobs.add(JobRec(e.jobId, group, e.time, e.stageIds,
      result.fold("")(_.name)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val s = TaskSums(1, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
      stageSums.merge(e.stageId, s, (a, b) => a + b)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
    case _ =>
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(BatchRec(p.runId.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L),
        d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.graftperf.SparkInternals
      .drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }
}

/** Per-span job, stage, task and micro-batch attribution for one traced
  * pass. A job belongs to the span whose job group it ran under; a job or
  * micro-batch without one belongs to the innermost span open when it
  * started. */
final class Attribution(tracer: Tracer, spans: Spans) {
  private val byGroup: Map[String, Span] =
    spans.all.map(s => spans.groupOf(s.id) -> s).toMap

  val jobSpan: Map[JobRec, Option[Span]] =
    tracer.jobs.asScala.toSeq.map { j =>
      j -> byGroup.get(j.group).orElse(spans.at(j.timeMs))
    }.toMap

  private val stageJob: Map[Int, JobRec] =
    jobSpan.keys.toSeq.sortBy(_.id).reverse
      .flatMap(j => j.stageIds.map(_ -> j)).toMap

  private val done: Set[Int] = tracer.stagesDone.asScala.toSet

  /** Jobs whose span is `s` or one of its descendants. */
  def jobsUnder(roots: Seq[Span]): Seq[JobRec] = {
    val ids = roots.flatMap(r => r +: spans.descendants(r)).map(_.id).toSet
    jobSpan.collect { case (j, Some(s)) if ids(s.id) => j }.toSeq
  }

  def stagesOf(jobs: Seq[JobRec]): Seq[Int] = {
    val mine = jobs.toSet
    stageJob.collect { case (st, j) if mine(j) && done(st) => st }.toSeq
  }

  def sums(jobs: Seq[JobRec]): TaskSums =
    stagesOf(jobs).flatMap(st => Option(tracer.stageSums.get(st)))
      .foldLeft(TaskSums())(_ + _)

  def batchesUnder(roots: Seq[Span]): Seq[BatchRec] = {
    val ids = roots.flatMap(r => r +: spans.descendants(r)).map(_.id).toSet
    tracer.batches.asScala.toSeq.filter(b => spans.at(b.timeMs)
      .exists(s => ids(s.id)))
  }
}
