package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import scala.collection.mutable.ArrayBuffer

/** One timed call from the benchmark into a layer of graft. `pass` is the
  * timed pass the span belongs to (0 for set-up), `parent` the enclosing
  * span's id (-1 at top level). Times are nanoTime for durations and
  * epoch millis for matching Spark events, which carry epoch millis. */
final case class Span(id: Int, name: String, layer: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run and written out at the end.
  * When tracing is off `span` only runs its body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var pass = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, layer, parent, pass, s0, System.nanoTime(), m0, System.currentTimeMillis())
      }
    }

  /** Span duration minus the time its direct children cover (children run
    * one after another on the single client thread). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

final case class TaskRec(stageId: Int, stageAttempt: Int, ok: Boolean, runMs: Long, cpuNs: Long,
                         gcMs: Long, schedDelayMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
                         outputBytes: Long)
final case class JobRec(jobId: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int])
final case class Progress(timeMs: Long, batchMs: Long, rows: Long)

/** The one listener. Untraced runs keep only running sums (executor CPU
  * and the streaming progress events); traced runs keep every job and task
  * so each can be attributed to the span that was open when it started. */
final class Collector(detailed: Boolean) extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val progress = ArrayBuffer.empty[Progress]
  @volatile var cpuNs = 0L
  private val jobById = scala.collection.mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (detailed) {
      val j = JobRec(e.jobId, e.time, -1L, e.stageIds)
      jobs += j
      jobById(e.jobId) = j
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    if (m != null) {
      cpuNs += m.executorCpuTime
      if (detailed) {
        val info = e.taskInfo
        val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        tasks += TaskRec(e.stageId, e.stageAttemptId, ok, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, sched,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
      }
    } else if (detailed)
      tasks += TaskRec(e.stageId, e.stageAttemptId, ok, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      progress += Progress(java.time.Instant.parse(p.progress.timestamp).toEpochMilli,
        p.progress.batchDuration, p.progress.numInputRows)
    }
    case _ =>
  }

  def progressCount: Int = synchronized(progress.size)

  /** Epoch durations (seconds) of the data-carrying micro-batches that
    * completed after `fromIndex` in the progress list. */
  def epochSecondsSince(fromIndex: Int): Seq[Double] = synchronized {
    progress.drop(fromIndex).filter(_.rows > 0).map(_.batchMs / 1e3).toSeq
  }
}

/** Job and task metrics of a group of spans, summed over the group. */
final case class SpanCost(wallS: Double, jobs: Int, tasks: Int, taskS: Double, cpuS: Double,
                          gcS: Double, schedDelayS: Double, shuffleReadBytes: Long,
                          shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
                          outputBytes: Long, failures: Int, skew: Double, jobMs: Seq[Double])

/** Attributes each Spark job to the innermost span open at the job's
  * submission time, and each task to its stage's job. */
final class Attribution(tracer: Tracer, c: Collector) {
  private val spans = tracer.spans.toIndexedSeq
  private val depth: Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = if (s.parent < 0) 0 else 1 + byId.get(s.parent).map(d).getOrElse(0)
    spans.map(s => s.id -> d(s)).toMap
  }
  private val jobSpan: Map[Int, Int] = c.jobs.iterator.flatMap { j =>
    spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .maxByOption(s => (depth(s.id), s.startNs)).map(s => j.jobId -> s.id)
  }.toMap
  // a shuffle stage listed by several jobs runs in the first of them
  private val stageJob: Map[Int, Int] =
    c.jobs.reverseIterator.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
  private val tasksBySpan: Map[Int, Seq[TaskRec]] =
    c.tasks.toSeq.flatMap(t => stageJob.get(t.stageId).flatMap(jobSpan.get).map(_ -> t))
      .groupMap(_._1)(_._2)

  /** Cost of `group`, counting jobs in the spans themselves and in every
    * span nested below them. */
  def cost(group: Seq[Span]): SpanCost = {
    val ids = spans.iterator.map(_.id).filter(i => group.exists(g => isUnder(i, g.id))).toSet
    val ts = ids.toSeq.flatMap(tasksBySpan.getOrElse(_, Nil))
    val js = c.jobs.filter(j => jobSpan.get(j.jobId).exists(ids.contains))
    val skews = group.map(g =>
      worstStageSkew(ids.toSeq.filter(isUnder(_, g.id)).flatMap(tasksBySpan.getOrElse(_, Nil))))
    SpanCost(
      wallS = group.map(_.seconds).sum,
      jobs = js.size,
      tasks = ts.size,
      taskS = ts.map(_.runMs).sum / 1e3,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      schedDelayS = ts.map(_.schedDelayMs).sum / 1e3,
      shuffleReadBytes = ts.map(_.shuffleReadBytes).sum,
      shuffleWriteBytes = ts.map(_.shuffleWriteBytes).sum,
      spillBytes = ts.map(_.spillBytes).sum,
      inputBytes = ts.map(_.inputBytes).sum,
      outputBytes = ts.map(_.outputBytes).sum,
      failures = ts.count(!_.ok),
      skew = if (skews.isEmpty) 0.0 else Stats.medianOf(skews),
      jobMs = js.toSeq.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble))
  }

  /** Max over stages (2+ tasks) of max/median task run time; 1 when no
    * stage qualifies. */
  private def worstStageSkew(ts: Seq[TaskRec]): Double =
    ts.groupBy(t => (t.stageId, t.stageAttempt)).values.filter(_.size >= 2).map { st =>
      val runs = st.map(_.runMs.toDouble).sorted
      val med = Stats.median(runs)
      if (med > 0) runs.last / med else 1.0
    }.maxOption.getOrElse(1.0)

  private val parentOf: Map[Int, Int] = spans.map(s => s.id -> s.parent).toMap
  private def isUnder(id: Int, ancestor: Int): Boolean =
    id == ancestor || (parentOf.getOrElse(id, -1) match {
      case -1 => false
      case p => isUnder(p, ancestor)
    })
}

object Stats {
  def median(sorted: Seq[Double]): Double =
    if (sorted.isEmpty) Double.NaN
    else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
  def medianOf(xs: Iterable[Double]): Double = median(xs.toSeq.sorted)
}
