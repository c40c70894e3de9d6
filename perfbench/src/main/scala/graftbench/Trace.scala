package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed region: a public call into a layer, or a benchmark operation
  * grouping such calls. `parent` is -1 at the top; spans of one request
  * share `requestId` (-1 outside requests).
  */
final case class Span(id: Int, name: String, parent: Int, requestId: Long,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

final case class JobRec(jobId: Int, span: Int, startMs: Long)
final case class StageRec(stageId: Int, submitMs: Long)
final case class TaskRec(stageId: Int, launchMs: Long, durationMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         inputBytes: Long, records: Long, outputBytes: Long)

/** Records every Spark job, stage and task. A job belongs to the span that
  * was active on the thread that submitted it: [[Tracer]] puts the span id
  * in a Spark local property, which threads started inside the call
  * inherit. Stages and tasks follow their job. Mutated only on the
  * listener-bus thread; read after [[ListenerDrain]].
  */
final class SpanListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val jobEndMs = mutable.HashMap.empty[Int, Long]
  /** stage id -> span of the first job that listed it. */
  val stageJobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  /** (receipt time ms, bytes of all cached RDD blocks) after each change. */
  val cachedTimeline = ArrayBuffer.empty[(Long, Long)]
  private val blockBytes = mutable.HashMap.empty[org.apache.spark.storage.BlockId, Long]
  private var cachedTotal = 0L
  /** Time spent inside this listener's callbacks. */
  var callbackNs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobs += JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(s => stageJobSpan.getOrElseUpdate(s, (span, e.time)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobEndMs(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    stages += StageRec(si.stageId, si.submissionTime.getOrElse(-1L))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedTotal += now - blockBytes.getOrElse(b.blockId, 0L)
      if (now > 0) blockBytes(b.blockId) = now else blockBytes.remove(b.blockId)
      cachedTimeline += ((System.currentTimeMillis(), cachedTotal))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m == null)
      tasks += TaskRec(e.stageId, ti.launchTime, ti.duration, 0, 0, 0, 0, 0, 0)
    else
      tasks += TaskRec(e.stageId, ti.launchTime, ti.duration,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.outputMetrics.bytesWritten)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Span recorder for the traced run. Spans live in memory until the run
  * ends. While inactive, `span` only runs its body and the listener is
  * detached, which is how the traced run times its untraced operations
  * for the overhead figure.
  */
final class Tracer(sc: SparkContext) {
  val listener = new SpanListener
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long)] = Nil // (span id, request id)
  private var nextId = 0
  private var attached = false

  def setActive(on: Boolean): Unit =
    if (on && !attached) {
      sc.addSparkListener(listener)
      attached = true
    } else if (!on && attached) {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
      attached = false
    }

  def span[T](name: String, requestId: Long = -1L)(f: => T): T =
    if (!attached) f
    else {
      val id = nextId
      nextId += 1
      val (parent, req) = stack match {
        case (p, r) :: _ => (p, if (requestId >= 0) requestId else r)
        case Nil => (-1, requestId)
      }
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      stack = (id, req) :: stack
      val m0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try f
      finally {
        val n1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, prev)
        recorded += Span(id, name, parent, req, n0, n1, m0, m1)
      }
    }

  def spans: Seq[Span] = recorded.toSeq.sortBy(_.id)
}

/** Spark work attributed to one span and its descendants. */
final case class SpanWork(jobs: Int, stages: Int, tasks: Int,
                          taskMs: Double, shuffleWrite: Long, shuffleRead: Long,
                          spill: Long, inputBytes: Long, outputBytes: Long,
                          emptyTasks: Int, schedWaitMs: Double, cachedBytes: Long,
                          largestStageSkew: Double, driverMs: Double)

/** Joins the recorded spans with the listener's jobs, stages and tasks. */
final class TraceView(spans: Seq[Span], l: SpanListener) {
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  /** A job without the span property (submitted from a thread that did not
    * inherit it) goes to the latest-starting span that was open when it was
    * submitted.
    */
  private def spanAt(ms: Long): Int = {
    val open = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
    if (open.isEmpty) -1 else open.maxBy(s => (s.startNs, s.id)).id
  }

  private val jobSpan: Map[Int, Int] =
    l.jobs.iterator.map(j => j.jobId -> (if (j.span >= 0) j.span else spanAt(j.startMs))).toMap
  private val stageSpan: Map[Int, Int] = l.stageJobSpan.iterator.map {
    case (st, (sp, t)) => st -> (if (sp >= 0) sp else spanAt(t))
  }.toMap
  private val stagesBySpan = l.stages.toSeq.groupBy(s => stageSpan.getOrElse(s.stageId, -1))
  private val tasksByStage = l.tasks.toSeq.groupBy(_.stageId)
  private val jobsBySpan = l.jobs.toSeq.groupBy(j => jobSpan(j.jobId))

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def subtree(id: Int): Seq[Int] =
    id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))

  def selfMs(s: Span): Double =
    Stats.selfTime(s.startNs, s.endNs,
      children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))) / 1e6

  def work(s: Span): SpanWork = {
    val ids = subtree(s.id)
    val jobs = ids.flatMap(i => jobsBySpan.getOrElse(i, Nil))
    val stages = ids.flatMap(i => stagesBySpan.getOrElse(i, Nil))
    val tasksOf = stages.map(st => st -> tasksByStage.getOrElse(st.stageId, Nil))
    val tasks = tasksOf.flatMap(_._2)
    val schedWait = tasksOf.collect {
      case (st, ts) if ts.nonEmpty && st.submitMs > 0 =>
        math.max(0L, ts.map(_.launchMs).min - st.submitMs).toDouble
    }.sum
    val skew = if (tasksOf.isEmpty) 0.0 else {
      val (_, ts) = tasksOf.maxBy { case (st, ts) => (ts.map(_.durationMs).sum, st.stageId) }
      Stats.skew(ts.map(_.durationMs.toDouble))
    }
    // peak of the RDD bytes cached during the span, above what was cached
    // when it started
    val before = l.cachedTimeline.takeWhile(_._1 < s.startMs).lastOption.map(_._2).getOrElse(0L)
    val during = l.cachedTimeline.iterator.filter { case (t, _) => t >= s.startMs && t <= s.endMs }
      .map(_._2).foldLeft(before)(math.max)
    val jobIntervals = jobs.map(j => (j.startMs, l.jobEndMs.getOrElse(j.jobId, s.endMs)))
    SpanWork(jobs.size, stages.size, tasks.size,
      tasks.map(_.durationMs).sum.toDouble,
      tasks.map(_.shuffleWrite).sum, tasks.map(_.shuffleRead).sum,
      tasks.map(_.spill).sum, tasks.map(_.inputBytes).sum,
      tasks.map(_.outputBytes).sum, tasks.count(_.records == 0),
      schedWait, during - before,
      skew,
      (s.endMs - s.startMs) - Stats.coveredLength(s.startMs, s.endMs, jobIntervals).toDouble)
  }

  /** Self time summed per span name (one entry per layer boundary). */
  def selfTimeByName: Seq[(String, Double)] =
    spans.groupBy(_.name).toSeq.map { case (n, ss) => n -> ss.map(selfMs).sum }.sortBy(_._1)
}
