package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer entry point (or, with layer "op", one whole
  * benchmark operation). Spans of one operation share `opId`; `parent` is
  * the span that was open on the calling thread when this one started.
  */
final case class Span(
    id: Long,
    parent: Long,
    opId: Long,
    layer: String,
    fn: String,
    startNs: Long,
    var endNs: Long = 0L,
    var error: Boolean = false)

/** Spark work seen by the listener, summed per span (or per run). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var spill = 0L
  var runMs = 0L
  var deserMs = 0L
  var schedMs = 0L
  var gcMs = 0L
}

/** Spans kept in memory while the benchmark runs, written out at the end.
  *
  * Job attribution: [[span]] stores its id in a Spark local property of the
  * calling thread, and the listener reads it back from the job-start
  * event, so a job counts against the innermost span open on the thread
  * that submitted it. A job submitted from a thread that carries no span
  * (a graft-internal pool, the HTTP server's dispatcher) counts against
  * the most recently opened span still open anywhere. The listener drops
  * events while tracing is off; [[drain]] before switching it keeps each
  * event on the side of the switch its job ran on.
  */
final class Tracer(@volatile var enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0L)
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val lastOpened = new AtomicReference[Span](null)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  @volatile private var sc: SparkContext = _

  // listener state: stage → span, per-span work, job intervals
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStartNs = new ConcurrentHashMap[Int, Long]()
  // listener events arrive late and carry wall-clock times: map them onto
  // the spans' System.nanoTime scale
  private val nanoAtWall0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private def nanoOf(wallMs: Long): Long = nanoAtWall0 + (wallMs - wall0) * 1000000L
  val work = new ConcurrentHashMap[Long, Work]()
  val total = new Work
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  /** Start listening to `context`'s jobs and tasks. */
  def attach(context: SparkContext): Unit = if (sc == null) {
    sc = context
    context.addSparkListener(listener)
  }

  /** Drop every span and count recorded so far (the timed phase starts
    * clean).
    */
  def reset(): Unit = {
    all.clear(); work.clear(); jobIntervals.clear(); stageSpan.clear()
    total.synchronized(resetWork(total))
  }

  def spans: Seq[Span] = all.asScala.toSeq

  def attached: Boolean = sc != null

  /** Wait until the listener has seen every job and task so far. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `body` as a span of `layer`.`fn`; a no-op wrapper when disabled. */
  def span[T](layer: String, fn: String)(body: => T): T =
    if (!enabled) body
    else {
      val parentList = stack.get()
      val parent = parentList.headOption
      val s = Span(
        ids.incrementAndGet(),
        parent.map(_.id).getOrElse(0L),
        parent.map(_.opId).getOrElse(0L),
        layer,
        fn,
        System.nanoTime())
      val sp = if (s.opId == 0L && layer == OpLayer) s.copy(opId = s.id) else s
      all.add(sp)
      lastOpened.set(sp)
      stack.set(sp :: parentList)
      val ctx = sc
      val prevProp = if (ctx != null) ctx.getLocalProperty(SpanProp) else null
      if (ctx != null) ctx.setLocalProperty(SpanProp, sp.id.toString)
      try body
      catch {
        case e: Throwable =>
          sp.error = true
          throw e
      } finally {
        sp.endNs = System.nanoTime()
        if (ctx != null) ctx.setLocalProperty(SpanProp, prevProp)
        stack.set(parentList)
        lastOpened.compareAndSet(sp, parentList.headOption.orNull)
      }
    }

  /** The innermost span open on this thread. */
  def current: Option[Span] = stack.get().headOption

  /** Run `body` on this thread as if `parent` were open here: spans a graft
    * callback opens on another thread (a streaming sink) join the tree of
    * the operation that triggered it.
    */
  def within[T](parent: Option[Span])(body: => T): T =
    if (!enabled || parent.isEmpty) body
    else {
      val saved = stack.get()
      stack.set(parent.toList)
      try body
      finally stack.set(saved)
    }

  /** A span that starts a new operation tree on this thread. */
  def op[T](name: String)(body: => T): T = span(OpLayer, name)(body)

  private def resetWork(w: Work): Unit = {
    w.jobs = 0; w.stages = 0; w.tasks = 0; w.failedTasks = 0; w.shuffleRead = 0
    w.shuffleWrite = 0; w.input = 0; w.spill = 0; w.runMs = 0; w.deserMs = 0
    w.schedMs = 0; w.gcMs = 0
  }

  private def workOf(spanId: Long): Work = work.computeIfAbsent(spanId, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = if (enabled) {
      val fromProp = Option(ev.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
      val id = fromProp.orElse(Option(lastOpened.get()).map(_.id)).getOrElse(0L)
      jobStartNs.put(ev.jobId, nanoOf(ev.time))
      ev.stageIds.foreach(st => stageSpan.put(st, id))
      val w = workOf(id)
      w.synchronized { w.jobs += 1; w.stages += ev.stageIds.size }
      total.synchronized { total.jobs += 1; total.stages += ev.stageIds.size }
    }

    override def onJobEnd(ev: SparkListenerJobEnd): Unit = if (enabled) {
      Option(jobStartNs.remove(ev.jobId)).foreach(t0 => jobIntervals.add((t0, nanoOf(ev.time))))
    }

    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = if (enabled) {
      val id = Option(stageSpan.get(ev.stageId)).map(_.longValue).getOrElse(0L)
      def add(w: Work): Unit = w.synchronized {
        w.tasks += 1
        if (!ev.taskInfo.successful) w.failedTasks += 1
        val m = ev.taskMetrics
        if (m != null) {
          w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.input += m.inputMetrics.bytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.runMs += m.executorRunTime
          w.deserMs += m.executorDeserializeTime
          w.gcMs += m.jvmGCTime
          // scheduler delay as the UI derives it: task duration not spent
          // deserializing, running or returning the result
          w.schedMs += math.max(0L, ev.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - ev.taskInfo.gettingResultTime)
        }
      }
      add(workOf(id))
      add(total)
    }
  }
}

object Tracer {
  val OpLayer = "op"
  val SpanProp = "perfbench.span"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var sum = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) sum += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) sum += curB - curA
    sum
  }

  /** Self time of every span: its duration minus its children's coverage. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered(ch, s.startNs, s.endNs))
    }.toMap
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"layer":"${s.layer}",""" +
      s""""fn":"${Json.esc(s.fn)}","start_ns":${s.startNs},"end_ns":${s.endNs},"error":${s.error}}"""

  def write(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.id).foreach { s => w.write(toJson(s)); w.newLine() }
    finally w.close()
  }
}
