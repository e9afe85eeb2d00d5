package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. Times are taken from
  * the same wall clock Spark stamps its job events with, so job
  * intervals can be laid over spans.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans recorded from the benchmark side around each public call into
  * a layer. Spans live in memory and are written out once, at the end.
  *
  * The open span's id travels to Spark as a thread-local job property,
  * so [[SpanListener]] can attribute every job, stage and task to the
  * span whose call submitted it.
  */
final class Tracer(sc: SparkContext) {
  val Property = "perfbench.span"
  private var nextId = 0
  private val open = mutable.Map.empty[Int, (String, Int, String, Double)]
  private val done = mutable.ArrayBuffer.empty[Span]
  // one closed-loop client: the stack is shared by the caller thread and
  // the streaming thread it waits on, never touched by both at once
  private var stack: List[Int] = Nil
  private var runId = ""

  /** Start a new traced operation; spans opened until the next call
    * share its run id.
    */
  def beginRun(id: String): Unit = synchronized { runId = id }

  def span[T](name: String)(body: => T): T = {
    val (id, prevProp) = synchronized {
      val id = nextId
      nextId += 1
      open(id) = (name, stack.headOption.getOrElse(-1), runId, Clock.ms())
      stack = id :: stack
      (id, sc.getLocalProperty(Property))
    }
    sc.setLocalProperty(Property, id.toString)
    try body
    finally {
      sc.setLocalProperty(Property, prevProp)
      synchronized {
        val (n, parent, run, start) = open.remove(id).get
        done += Span(id, n, parent, run, start, Clock.ms())
        stack = stack.dropWhile(_ != id).drop(1)
      }
    }
  }

  def spans: Seq[Span] = synchronized(done.toSeq)
}

object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds with nanosecond-timer resolution. */
  def ms(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Task-level totals for one span (own jobs only, not children's). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
  }
}

/** Attributes Spark jobs, stages and tasks to the span whose thread
  * submitted them (the [[Tracer.Property]] job property), and keeps each
  * job's interval for the driver-time computation. Read only after the
  * listener bus has drained (after `SparkContext.stop`).
  */
final class SpanListener(property: String) extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(property)))
      .map(_.toInt).getOrElse(-1)

  private def counts(span: Int) = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s
    jobStart(e.jobId) = e.time
    counts(s).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (s <- jobSpan.get(e.jobId); t0 <- jobStart.remove(e.jobId))
      jobIntervals += ((s, t0, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      counts(s).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
  }

  def countsOf(span: Int): Counts = synchronized(bySpan.getOrElse(span, new Counts))
  def jobsOf(spans: Set[Int]): Seq[(Long, Long)] = synchronized(
    jobIntervals.toSeq.collect { case (s, a, b) if spans(s) => (a, b) })
}

/** Per-layer measures computed from the spans and the listener. */
object Attribution {

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  final case class Measures(var s: Double = 0, var selfS: Double = 0,
      var calls: Long = 0, var driverS: Double = 0,
      counts: Counts = new Counts)

  /** Sum of each measure over every instance of each span name. `s`,
    * the counts and the driver time are inclusive of child spans.
    */
  def byName(spans: Seq[Span], listener: SpanListener): Map[String, Measures] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val out = mutable.Map.empty[String, Measures]
    spans.foreach { sp =>
      val m = out.getOrElseUpdate(sp.name, Measures())
      val sub = subtree(sp)
      val kids = children.getOrElse(sp.id, Nil).map(k => (k.startMs, k.endMs))
      val jobs = listener.jobsOf(sub.map(_.id).toSet)
        .map { case (a, b) => (a.toDouble, b.toDouble) }
      m.s += sp.durMs / 1e3
      m.selfS += (sp.durMs - covered(kids, sp.startMs, sp.endMs)) / 1e3
      m.calls += 1
      m.driverS += (sp.durMs - covered(jobs, sp.startMs, sp.endMs)) / 1e3
      sub.foreach(x => m.counts.add(listener.countsOf(x.id)))
    }
    out.toMap
  }
}
