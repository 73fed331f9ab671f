package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `<layer>.<call>`, its parent span and the
  * request it belongs to. Spark work is attributed to the innermost open
  * span through the job group the benchmark thread sets on entry.
  */
final class Span(val id: Int, val name: String, val parent: Int, val request: Int,
                 val startNs: Long) {
  var endNs: Long = -1L
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work of one span, summed from listener events. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var taskNs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Listener that keys Spark jobs, stages and task metrics by the job
  * group ("span-<id>") of the thread that launched them.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  val work = new ConcurrentHashMap[Int, SparkWork]()

  private def of(span: Int): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith("span-")).foreach { s =>
      val span = s.stripPrefix("span-").toInt
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.putIfAbsent(st, span))
      val w = of(span)
      w.synchronized(w.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { span =>
      val w = of(span)
      w.synchronized(w.jobIntervals += ((jobStart.get(e.jobId), e.time)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val w = of(span); w.synchronized(w.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      if (m != null) {
        val w = of(span)
        w.synchronized {
          w.taskNs += m.executorRunTime * 1000000L
          w.cpuNs += m.executorCpuTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
}

/** Span recorder. Disabled, `span` is a plain call; enabled, it records
  * start/end and sets the job group so Spark work lands on the span.
  * Spans stay in memory until the run writes them out.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private val stack = ArrayBuffer.empty[Span]
  private var nextRequest = 0
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  private def enter(name: String, newRequest: Boolean): Span = {
    val parent = stack.lastOption
    val req = if (newRequest || parent.isEmpty) { nextRequest += 1; nextRequest }
              else parent.get.request
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), req, System.nanoTime())
    spans += s
    stack += s
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    s
  }

  private def exit(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack.remove(stack.size - 1)
    stack.lastOption match {
      case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
      case None    => sc.clearJobGroup()
    }
  }

  /** Time `body` as a child of the open span (or a new request). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = enter(name, newRequest = false)
      try body finally exit(s)
    }

  /** Time `body` as a new top-level request. */
  def request[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = enter(name, newRequest = true)
      try body finally exit(s)
    }

  /** Attach a count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.lastOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def work(s: Span): SparkWork =
    listener.flatMap(l => Option(l.work.get(s.id))).getOrElse(new SparkWork)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = s.seconds - unionNs(children(s).map(c => (c.startNs, c.endNs))) / 1e9

  /** Request wall time minus the union of its own and descendants' job
    * intervals: time the Spark driver spent planning, collecting and waiting.
    */
  def driverGapMs(s: Span): Double = {
    val ivs = subtree(s).flatMap(d => work(d).jobIntervals)
    (s.endNs - s.startNs) / 1e6 - unionNs(ivs.map { case (a, b) => (a * 1000000L, b * 1000000L) }) / 1e6
  }

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Spark work of a span and all its descendants. */
  def totalWork(s: Span): SparkWork = {
    val t = new SparkWork
    subtree(s).map(work).foreach { w =>
      t.jobs += w.jobs; t.stages += w.stages; t.taskNs += w.taskNs; t.cpuNs += w.cpuNs
      t.shuffleWrite += w.shuffleWrite; t.shuffleRead += w.shuffleRead; t.spill += w.spill
      t.inputBytes += w.inputBytes; t.inputRecords += w.inputRecords
      t.jobIntervals ++= w.jobIntervals
    }
    t
  }

  private def unionNs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val w = work(s)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
      "self_ms" -> selfSeconds(s) * 1e3, "jobs" -> w.jobs, "stages" -> w.stages,
      "task_ms" -> w.taskNs / 1e6, "task_cpu_ms" -> w.cpuNs / 1e6,
      "shuffle_write_bytes" -> w.shuffleWrite, "shuffle_read_bytes" -> w.shuffleRead,
      "spill_bytes" -> w.spill, "input_bytes" -> w.inputBytes,
      "input_records" -> w.inputRecords, "counts" -> s.counts.toMap)
  }
}

/** Minimal JSON writer for the result line and the run record: a
  * non-finite number (a metric with no samples) becomes null, so the
  * output always parses as strict JSON.
  */
object Json {
  def write(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => write(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case it: Iterable[_]     => it.map(write).mkString("[", ",", "]")
    case a: Array[_]         => write(a.toSeq)
    case o: Option[_]        => o.map(write).getOrElse("null")
    case other               => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Order statistics over measured samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The p-quantile only when at least 10 samples lie beyond it. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.size * (1 - q) >= 10) Some(quantile(xs, q)) else None

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
