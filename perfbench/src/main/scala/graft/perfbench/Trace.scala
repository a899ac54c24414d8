package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Where an operation's time goes. An operation body calls [[span]]
  * around each call into a layer; the untraced run records nothing. */
trait Tracer {
  def span[T](name: String)(body: => T): T
  /** Runs one whole operation; `kind` groups operations for the
    * per-layer totals (query, search, mutate, trigger). */
  def op[T](name: String, kind: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
  def op[T](name: String, kind: String)(body: => T): T = body
}

/** One span: a timed call, its parent, and wall-clock bounds (ms, to line
  * up with Spark's task and job timestamps). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class Work {
  var jobs, checkpointJobs, stages, tasks, taskFailures = 0L
  var taskBusyMs, taskCpuNs, scanRows, scanBytes, writeBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleWaitMs, spillBytes, peakTaskMem = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val callSites = mutable.ArrayBuffer.empty[String]
}

/** The traced run's recorder: nested spans kept in memory, and a
  * [[SparkListener]] that attaches every job, stage and task to the span
  * that was innermost when the job was submitted. Batch and index work
  * carries the span id as a thread-local job property; streaming
  * micro-batches run on their query's own thread, so their jobs are
  * attached by submission time to the span then open (the loop is closed:
  * one operation at a time). */
final class SpanTracer(sc: SparkContext) extends SparkListener with Tracer {
  private val spanKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val work = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val endedJobs = mutable.Set.empty[Int]
  private val jobGroup = "perfbench"

  sc.addSparkListener(this)

  private def open(name: String, kind: String): Span = {
    val parent = stack.headOption
    val s = Span(spans.size, parent.fold(-1)(_.id), name, parent.fold(kind)(_.kind),
      System.nanoTime(), System.currentTimeMillis())
    synchronized(spans += s)
    stack.push(s)
    sc.setLocalProperty(spanKey, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack.pop()
    sc.setLocalProperty(spanKey, stack.headOption.map(_.id.toString).orNull)
  }

  def span[T](name: String)(body: => T): T = {
    val s = open(name, "")
    try body finally close(s)
  }

  def op[T](name: String, kind: String)(body: => T): T = {
    sc.setJobGroup(jobGroup, "perfbench traced operation", interruptOnCancel = false)
    val s = open(name, kind)
    try body finally {
      close(s)
      sc.clearJobGroup()
    }
  }

  /** The innermost span open at wall time `ms`, for jobs that carry no
    * span property (streaming micro-batches). */
  private def spanAt(ms: Long): Option[Int] =
    spans.reverseIterator.find(s => s.startMs <= ms && (s.endMs == 0L || ms <= s.endMs)).map(_.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = Option(e.properties).flatMap(p => Option(p.getProperty(spanKey))).map(_.toInt)
    val streaming = Option(e.properties)
      .exists(_.getProperty("sql.streaming.queryId") != null)
    own.orElse(if (streaming) spanAt(e.time) else None).foreach { id =>
      jobSpan(e.jobId) = id
      e.stageIds.foreach(stageSpan(_) = id)
      val w = work.getOrElseUpdate(id, new Work)
      w.jobs += 1
      // the final stage's name is the job's short call site
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      w.callSites += site
      if (site.contains("Materialize.scala")) w.checkpointJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(endedJobs += e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(id => work(id).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val w = work(id)
      val i = e.taskInfo
      w.tasks += 1
      if (!i.successful) w.taskFailures += 1
      w.taskBusyMs += i.finishTime - i.launchTime
      w.taskIntervals += ((i.launchTime, i.finishTime))
      Option(e.taskMetrics).foreach { m =>
        w.taskCpuNs += m.executorCpuTime
        w.scanRows += m.inputMetrics.recordsRead
        w.scanBytes += m.inputMetrics.bytesRead
        w.writeBytes += m.outputMetrics.bytesWritten
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.spillBytes += m.diskBytesSpilled
        w.peakTaskMem = math.max(w.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  /** Waits until the listener has seen the end of every job submitted
    * under a traced operation (listener events arrive asynchronously). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def pending: Boolean = {
      val started = sc.statusTracker.getJobIdsForGroup(jobGroup).toSet
      synchronized(!(started.subsetOf(endedJobs) && jobSpan.keySet.subsetOf(endedJobs)))
    }
    while (pending && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // stage/task events of the last jobs
  }

  def detach(): Unit = sc.removeSparkListener(this)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Work attached to a span and all its descendants. */
  def workUnder(root: Span): Seq[Work] = synchronized {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSeq.flatMap(work.get)
  }
}

object Intervals {
  /** Milliseconds of [lo, hi] covered by the union of `xs`. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
