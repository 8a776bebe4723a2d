package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` is the id of the client
  * call the span belongs to; a root span has `parent == -1`.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: counted from job and stage events. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var inputRecords = 0L
  /** (start, end) of each finished job, in listener-clock milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A Spark listener that attributes jobs, stages, tasks, shuffle, spill,
  * GC time and input records to the innermost open span, through the
  * `perfbench.span` local property the tracer sets around each span.
  */
final class SpanListener extends SparkListener {
  private val byJob = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val work = mutable.Map.empty[Int, SparkWork]

  private def workOf(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .map(_.toInt).getOrElse(-1)
    byJob(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    workOf(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.remove(e.jobId).foreach { case (span, start) =>
      workOf(span).jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val w = workOf(stageSpan.getOrElse(info.stageId, -1))
    w.stages += 1
    w.tasks += info.numTasks
    Option(info.taskMetrics).foreach { m =>
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.gcMs += m.jvmGCTime
      w.inputRecords += m.inputMetrics.recordsRead
    }
  }
}

object SpanListener {
  val Key = "perfbench.span"
}

/** Span recorder for the traced run. Spans stay in memory and are written
  * out when the run ends. When disabled, `op` and `span` only run their
  * body, so untraced calls pay nothing.
  */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0

  /** A root span: one client call. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else { nextOp += 1; open("op", name, nextOp)(body) }

  /** A layer span inside the current traced client call; outside one it
    * only runs its body.
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (stack.isEmpty) body
    else open(layer, name, stack.head.op)(body)

  private def open[T](layer: String, name: String, op: Int)(body: => T): T = {
    val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), op,
      layer, name, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.foreach(_.setLocalProperty(SpanListener.Key, s.id.toString))
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.foreach(_.setLocalProperty(SpanListener.Key, stack.headOption.map(_.id.toString).orNull))
    }
  }

  /** Duration minus the time the span's children cover. */
  def selfSeconds: Map[Int, Double] = {
    val childTime = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }
}

/** Per-call summary of one traced root span: its layer self times and the
  * Spark work of the span and all its children.
  */
final case class OpTrace(root: Span, layerSelf: Map[String, Double],
    spanSelf: Map[String, Double], spanJobs: Map[String, Int], spark: SparkWork,
    driverGapS: Double)

object OpTrace {
  /** Summarize each root span. Job intervals come from the listener clock
    * (epoch ms) and spans from nanoTime; the driver gap maps one onto the
    * other through the current offset between the two clocks.
    */
  def summarize(tracer: Tracer, listener: SpanListener): Seq[OpTrace] = {
    val self = tracer.selfSeconds
    val byOp = tracer.spans.groupBy(_.op)
    val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    tracer.spans.filter(_.parent < 0).map { root =>
      val members = byOp.getOrElse(root.op, Nil)
      val children = members.filter(_.parent >= 0)
      val layerSelf = children.groupMapReduce(_.layer)(s => self(s.id))(_ + _)
      val spanSelf = children.groupMapReduce(s => s"${s.layer}.${s.name}")(s => self(s.id))(_ + _)
      val spanJobs = children.groupMapReduce(s => s"${s.layer}.${s.name}")(s =>
        listener.work.get(s.id).map(_.jobs).getOrElse(0))(_ + _)
      val w = new SparkWork
      members.flatMap(m => listener.work.get(m.id)).foreach { x =>
        w.jobs += x.jobs; w.stages += x.stages; w.tasks += x.tasks
        w.shuffleWrite += x.shuffleWrite; w.shuffleRead += x.shuffleRead
        w.spill += x.spill; w.gcMs += x.gcMs; w.inputRecords += x.inputRecords
        w.jobIntervals ++= x.jobIntervals
      }
      val startMs = (root.startNs + offsetNs) / 1e6
      val endMs = (root.endNs + offsetNs) / 1e6
      val covered = union(w.jobIntervals.toSeq.map { case (a, b) =>
        (math.max(a.toDouble, startMs), math.min(b.toDouble, endMs)) }.filter(p => p._2 > p._1))
      OpTrace(root, layerSelf, spanSelf, spanJobs, w, math.max(0.0, root.seconds - covered / 1e3))
    }.toSeq
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
