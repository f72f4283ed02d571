package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span: the jobs, stages and tasks that ran under it. */
final class Counts {
  var jobs, stages, tasks, tasksFailed = 0L
  var taskCpuNs, taskRunMs, schedWaitMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputRows, bytesWritten = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; taskCpuNs += o.taskCpuNs
    taskRunMs += o.taskRunMs; schedWaitMs += o.schedWaitMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputRows += o.inputRows
    bytesWritten += o.bytesWritten
  }
}

/** One Spark job seen by the recorder: the child span of an op phase. */
final case class JobSpan(jobId: Int, span: String, startMs: Long,
    var endMs: Long = -1L, var ok: Boolean = false)

/** Stream activity attributed to the op that started the stream. */
final class StreamCounts {
  var batches = 0L
  var triggerMs = 0L
}

/** The benchmark's own listeners. Every job an op runs carries the
  * [[Recorder.SpanKey]] local property (`<op seq>:<phase>`), set by the
  * benchmark around each phase — not the job group, which the library's
  * `accel.MeasuredTimes` owns. The recorder folds task metrics into
  * per-span [[Counts]], keeps job spans, counts streaming micro-batches
  * per op, and captures the noop write's QueryExecution so the planning
  * time of the write can be read from its tracker. */
final class Recorder extends SparkListener {
  import Recorder._

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val counts = new ConcurrentHashMap[String, Counts]()
  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val streams = new ConcurrentHashMap[String, StreamCounts]()
  private val streamOp = new ConcurrentHashMap[java.util.UUID, String]()
  @volatile var currentOp: String = ""
  @volatile private var lastWrite: QueryExecution = _

  private def countsOf(span: String): Counts =
    counts.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanKey))).getOrElse("")
    if (span.nonEmpty) {
      jobs.put(e.jobId, JobSpan(e.jobId, span, e.time))
      e.stageIds.foreach(sid => stageSpan.put(sid, span))
      countsOf(span).synchronized { countsOf(span).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val c = countsOf(span)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = countsOf(span)
      c.synchronized {
        c.tasks += 1
        if (e.reason != org.apache.spark.Success) c.tasksFailed += 1
        Option(stageSubmitMs.get(e.stageId)).foreach(sub =>
          c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub))
        val m = e.taskMetrics
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.taskRunMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRows += m.inputMetrics.recordsRead
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Counters of one span (`<seq>:<phase>`); zero when nothing ran. */
  def spanCounts(span: String): Counts =
    Option(counts.get(span)).getOrElse(new Counts)

  /** Job spans of one op, in job-id order. */
  def jobsOf(seq: Long): Seq[JobSpan] =
    jobs.values().asScala.filter(_.span.startsWith(s"$seq:")).toSeq
      .sortBy(_.jobId)

  def streamsOf(seq: Long): Option[StreamCounts] =
    Option(streams.get(seq.toString))

  /** The QueryExecution of the last noop write (traced runs only). */
  def takeWrite(): Option[QueryExecution] = {
    val q = Option(lastWrite); lastWrite = null; q
  }

  /** Forget everything recorded for ops before `seq` (keeps memory flat
    * over a long run). */
  def forgetBefore(seq: Long): Unit = {
    def old(span: String): Boolean =
      span.takeWhile(_ != ':').toLongOption.exists(_ < seq)
    counts.keySet().removeIf(old _)
    jobs.values().removeIf(j => old(j.span))
    stageSpan.values().removeIf(old _)
    streams.keySet().removeIf(k => k.toLongOption.exists(_ < seq))
  }

  val writeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      if (isNoopWrite(qe)) lastWrite = qe
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val op = currentOp
      if (op.nonEmpty) streamOp.put(e.runId, op)
    }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(streamOp.get(e.progress.runId)).foreach { op =>
        val s = streams.computeIfAbsent(op, _ => new StreamCounts)
        val trig = Option(e.progress.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        s.synchronized {
          if (e.progress.numInputRows > 0) s.batches += 1
          s.triggerMs += trig
        }
      }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(writeListener)
    spark.streams.addListener(streamListener)
  }
}

object Recorder {
  /** The local property that tags each op phase's jobs. */
  val SpanKey = "graft.perfbench.span"

  /** True for a write into the `noop` sink. */
  def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation =>
        r.table.getClass.getName.endsWith("NoopTable$")
      case _ => false
    }
    case _ => false
  }

  /** Planning seconds a QueryExecution's tracker recorded, as
    * (phase -> ms). */
  def phasesMs(qe: QueryExecution): Map[String, Long] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs }

  def sumMs(m: Map[String, Long]): Long = m.values.sum

  /** Per-phase delta `after - before`, for a tracker that two
    * QueryExecutions share. */
  def deltaMs(after: Map[String, Long], before: Map[String, Long])
      : Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}
