package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by spans and listener events: epoch nanoseconds advanced by
  * a monotonic source, so span arithmetic is exact. */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  /** A recent epoch-millisecond time from Spark's wall clock on this clock.
    * The two drift apart when the system clock is adjusted during a run,
    * so the offset is taken now, as the event arrives, not at start-up. */
  def ofEpochMs(ms: Long): Long = ms * 1000000L + (now() - System.currentTimeMillis() * 1000000L)
}

final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

/** Spans recorded in memory around the benchmark's calls into each layer.
  * One client thread makes every call, so the open-span stack needs no
  * lock. The innermost open span is published as a Spark local property:
  * jobs carry it (threads a call starts inherit it), and [[JobListener]]
  * charges their tasks to that span. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, Long)] = Nil // (span id, start), innermost first
  private var nextId = 1
  private var op = 0
  var on = false

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      if (parent == 0) {
        op = id
        sc.setJobGroup(s"perfbench-op-$id", name)
      }
      val outer = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      open = (id, Clock.now()) :: open
      try f
      finally {
        val start = open.head._2
        open = open.tail
        spans += Span(id, parent, op, name, start, Clock.now())
        sc.setLocalProperty(Tracer.SpanKey, outer)
        if (parent == 0) sc.clearJobGroup()
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Task-level counts charged to one span. */
final class Counts {
  var jobs, stages, singleTaskStages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
}

final case class PlanRecord(executionId: Long, func: String, phases: Seq[(String, Long, Long)])

final case class ProgressRecord(runId: String, batchId: Long, startNs: Long,
    durationsMs: Map[String, Long], inputRows: Long, stateRows: Long, stateCommitMs: Long)

/** What the listeners saw while tracing was on. Listener callbacks run on
  * Spark's bus threads, hence the lock. */
object Recorder {
  @volatile var on = false
  val counts = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val plans = mutable.ArrayBuffer.empty[PlanRecord]
  val progress = mutable.ArrayBuffer.empty[ProgressRecord]

  def countsOf(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

  def jobStarted(span: Int, stageIds: Seq[Int]): Unit = synchronized {
    countsOf(span).jobs += 1
    stageIds.foreach(stageSpan(_) = span)
  }

  def spanOfStage(stageId: Int): Option[Int] = stageSpan.get(stageId)
}

/** Job, stage and task counts, tagged by the span property each job carries. */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Recorder.on)
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .flatMap(_.toIntOption)
        .foreach(Recorder.jobStarted(_, e.stageIds))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Recorder.synchronized {
      Recorder.spanOfStage(e.stageInfo.stageId).foreach { s =>
        val c = Recorder.countsOf(s)
        c.stages += 1
        if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Recorder.synchronized {
      for (s <- Recorder.spanOfStage(e.stageId); m <- Option(e.taskMetrics)) {
        val c = Recorder.countsOf(s)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** Planning phases (analysis, optimization, planning) of every query
  * execution. Loaded through `spark.sql.queryExecutionListeners`, so the
  * sessions a streaming drain creates report too. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)

  private def record(func: String, qe: QueryExecution): Unit =
    if (Recorder.on) {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, Clock.ofEpochMs(p.startTimeMs), Clock.ofEpochMs(p.endTimeMs)) }
      Recorder.synchronized(Recorder.plans += PlanRecord(qe.id, func, phases))
    }
}

/** Per-micro-batch progress of every streaming drain. Loaded through the
  * static conf `spark.sql.streaming.streamingQueryListeners`, because each
  * drain runs in its own `spark.newSession()`. */
final class DrainListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Recorder.on) {
      val p = e.progress
      val durations = p.durationMs.entrySet().toArray(Array.empty[java.util.Map.Entry[String, java.lang.Long]])
        .map(en => en.getKey -> en.getValue.longValue).toMap
      val rec = ProgressRecord(p.runId.toString, p.batchId,
        Clock.ofEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli), durations, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.commitTimeMs).sum)
      Recorder.synchronized(Recorder.progress += rec)
    }
}
