package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}
import scala.collection.mutable
import org.apache.spark.{SparkContext, PerfbenchBus}
import org.apache.spark.scheduler._

/** One recorded span: a call into a library layer, or a phase (setup,
  * solve) that holds such calls. `parent` is -1 for a phase. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long, driverCpuNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Counters a [[SpanListener]] attributes to one span id. */
final class SpanCounters {
  val jobs = new AtomicInteger
  val shuffleBytes = new AtomicLong
  val execCpuNs = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Attributes jobs, shuffle writes, executor CPU and spills to the span
  * that was active on the submitting thread. The span id travels as a
  * Spark local property, which Spark copies onto every job and stage the
  * thread submits (broadcast builds included), so attribution happens at
  * event time and never races the listener bus. */
final class SpanListener extends SparkListener {
  val counters = new ConcurrentHashMap[Int, SpanCounters]
  private val stageSpan = new ConcurrentHashMap[Int, Int]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Property))).map(_.toInt)
  private def of(span: Int): SpanCounters =
    counters.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(s => of(s).jobs.incrementAndGet())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stageSpan.getOrDefault(e.stageId, -1)
    if (m != null && s >= 0) {
      val c = of(s)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.execCpuNs.addAndGet(m.executorCpuTime)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }
}

/** In-memory span recorder. Disabled, [[span]] only runs its body; enabled,
  * it tags the body's jobs with the span id and records wall and
  * calling-thread CPU time. Spans are kept in memory and written out by
  * [[write]] when the run ends. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private val threads = ManagementFactory.getThreadMXBean
  val listener = new SpanListener
  sc.addSparkListener(listener)

  var enabled = false
  var pass = 0
  private val notes = mutable.Map[(Int, String), Double]()

  /** Records a count the library returned (rounds, levels) for this pass. */
  def note(key: String, value: Double): Unit =
    if (enabled) notes((pass, key)) = notes.getOrElse((pass, key), 0.0) + value

  def span[A](name: String)(body: => A): A =
    if (!enabled) body else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.Property, id.toString)
      val c0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, pass, t0, t1, threads.getCurrentThreadCpuTime - c0)
        stack = stack.tail
        sc.setLocalProperty(Tracer.Property, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Per-layer metrics of one traced pass: for every span name the summed
    * self wall time (the span's wall minus its children's), jobs, shuffle
    * bytes, executor CPU and self driver CPU over its spans, plus the
    * pass's spill bytes and the share of the setup and solve phases their
    * direct children cover. Waits for the listener bus to deliver the pass's events first. */
  def passMetrics(p: Int): Map[String, Double] = {
    PerfbenchBus.drain(sc)
    val mine = spans.filter(_.pass == p)
    val children = mine.groupBy(_.parent)
    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val zero = new SpanCounters
    mine.filter(_.parent >= 0).foreach { s =>
      val c = Option(listener.counters.get(s.id)).getOrElse(zero)
      val kids = children.getOrElse(s.id, Nil)
      add(s"${s.name}.wall_s", s.wallS - kids.map(_.wallS).sum)
      add(s"${s.name}.jobs", c.jobs.get)
      add(s"${s.name}.shuffle_bytes", c.shuffleBytes.get.toDouble)
      add(s"${s.name}.exec_cpu_s", c.execCpuNs.get / 1e9)
      add(s"${s.name}.driver_cpu_s", (s.driverCpuNs - kids.map(_.driverCpuNs).sum) / 1e9)
    }
    notes.foreach { case ((p0, k), v) => if (p0 == p) add(k, v) }
    add("spill_bytes", mine.flatMap(s => Option(listener.counters.get(s.id)))
      .map(_.spillBytes.get.toDouble).sum)
    mine.filter(s => s.parent < 0 && s.name != "pieces").foreach { ph =>
      val covered = children.getOrElse(ph.id, Nil).map(_.wallS).sum
      out(s"trace.${ph.name}_coverage") = covered / math.max(ph.wallS, 1e-9)
    }
    out.toMap
  }

  /** Writes every recorded span as one JSON line each. */
  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = Option(listener.counters.get(s.id))
      w.println(s"""{"run":"$runId","pass":${s.pass},"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""driver_cpu_ns":${s.driverCpuNs},"jobs":${c.map(_.jobs.get).getOrElse(0)},""" +
        s""""shuffle_bytes":${c.map(_.shuffleBytes.get).getOrElse(0L)},""" +
        s""""exec_cpu_ns":${c.map(_.execCpuNs.get).getOrElse(0L)}}""")
    } finally w.close()
  }
}

object Tracer {
  val Property = "perfbench.span"
}
