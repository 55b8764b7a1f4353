package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work attributed to one span (one call into the engine). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** One timed call: name, start and end (ns since the run started), the span
  * that caused it, and an optional free-form tag (e.g. the query text).
  */
final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long,
                      tag: String) {
  def ms: Double = (end - start) / 1e6
}

/** Attributes jobs, stages, tasks, shuffle, spill, GC and input bytes to the
  * job group of the thread that submitted them. The client thread sets the
  * group to the current span before each call; threads the engine starts
  * inside the call inherit it with the other local properties.
  */
final class GroupListener(counters: String => Counters) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    counters(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Option(group(e.properties)).filter(_.nonEmpty)
      .getOrElse(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    stageGroup(e.stageInfo.stageId) = g
    counters(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.busyMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Spans and per-span Spark counters, kept in memory and written as JSON
  * lines when the run ends. With tracing off, `call` only times: no
  * listener is installed and no job group is set.
  */
final class Tracer(t0: Long) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byGroup = mutable.Map.empty[String, Counters]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var listener: Option[(SparkContext, GroupListener)] = None

  def on: Boolean = listener.isDefined

  private def counters(g: String): Counters = byGroup.synchronized(byGroup.getOrElseUpdate(g, new Counters))

  /** Starts attributing Spark work on `sc` to spans. */
  def attach(sc: SparkContext): Unit = {
    detach()
    val l = new GroupListener(counters)
    sc.addSparkListener(l)
    listener = Some((sc, l))
  }

  def detach(): Unit = {
    listener.foreach { case (sc, l) =>
      if (!sc.isStopped) {
        org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
        sc.removeSparkListener(l)
      }
    }
    listener = None
  }

  /** Runs `f` as span `name`; returns its result and wall time in ms. */
  def call[T](name: String, tag: String = "")(f: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val sc = listener.map(_._1)
    sc.foreach(_.setJobGroup(group(id), name))
    stack = id :: stack
    val s = System.nanoTime()
    try {
      val r = f
      val e = System.nanoTime()
      if (on) spans += Span(id, name, parent, s - t0, e - t0, tag)
      (r, (e - s) / 1e6)
    } finally {
      stack = stack.tail
      sc.foreach { c =>
        if (!c.isStopped) {
          if (parent == 0L) c.clearJobGroup() else c.setJobGroup(group(parent), "")
        }
      }
    }
  }

  private def group(id: Long): String = s"perfbench-$id"

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  /** Spark work of a span. Read after the SparkContext stopped: stopping
    * drains the listener bus.
    */
  def of(s: Span): Counters = byGroup.getOrElse(group(s.id), new Counters)

  def sum(ss: Seq[Span])(f: Counters => Long): Long = ss.map(s => f(of(s))).sum

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = of(s)
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "tag" -> s.tag, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks, "busy_ms" -> c.busyMs,
        "gc_ms" -> c.gcMs, "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill, "input_bytes" -> c.inputBytes,
        "input_records" -> c.inputRecords, "output_bytes" -> c.outputBytes)))
    } finally w.close()
  }
}

/** Minimal JSON writer for objects of strings, numbers and objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
