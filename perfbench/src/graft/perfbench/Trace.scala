package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One call into a layer. Driver-side counters (codegen, JVM GC) are
  * inclusive deltas over the span; task counters come from the listener
  * and belong to the innermost span that was open when the job started.
  */
final class Span(
    val id: Int,
    val parent: Int,
    val name: String,
    val pass: Int,
    val start: Long,
) {
  var end: Long = 0L
  var codegenCompiles: Long = 0L
  var codegenMs: Double = 0.0
  var jvmGcMs: Long = 0L
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val cpuNs = new AtomicLong
  val taskGcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleWriteRecords = new AtomicLong
  val spillBytes = new AtomicLong
  val taskDurations = new ArrayBuffer[Long]
  val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (end - start) / 1e9
}

/** Outside-in span recorder. Off by default; when on, every call the
  * benchmark makes into a layer opens a span, tags the Spark jobs it
  * starts through a local property, and keeps the span in memory until
  * the run writes them out.
  */
object Trace {
  val SpanProperty = "graft.bench.span"

  @volatile var on: Boolean = false
  var pass: Int = 0
  val spans = new ArrayBuffer[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  /** Every task the listener saw, attributed to a span or not. */
  val allTasks = new AtomicLong
  val allSpillBytes = new AtomicLong
  private var sc: SparkContext = _

  private val codegen =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Registers the listener on a fresh context (once per session). */
  def install(context: SparkContext): Unit = {
    sc = context
    stageSpan.clear()
    context.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val id = Option(j.properties)
          .flatMap(p => Option(p.getProperty(SpanProperty)))
        id.map(_.toInt).filter(_ < spans.length).foreach { i =>
          val s = spans.synchronized(spans(i))
          s.jobs.incrementAndGet()
          j.stageIds.foreach(st => stageSpan.put(st, s))
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        allTasks.incrementAndGet()
        if (t.taskMetrics != null) allSpillBytes.addAndGet(
          t.taskMetrics.memoryBytesSpilled + t.taskMetrics.diskBytesSpilled)
        val s = stageSpan.get(t.stageId)
        if (s != null && t.taskInfo != null) {
          val d = t.taskInfo.duration
          s.tasks.incrementAndGet()
          s.taskMs.addAndGet(d)
          s.taskDurations.synchronized { s.taskDurations += d }
          val m = t.taskMetrics
          if (m != null) {
            s.cpuNs.addAndGet(m.executorCpuTime)
            s.taskGcMs.addAndGet(m.jvmGCTime)
            s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            s.shuffleWriteRecords
              .addAndGet(m.shuffleWriteMetrics.recordsWritten)
            s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      }
    })
  }

  /** Runs `body` inside a span named `name` (a no-op wrapper when off). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = open(name)
      try body
      finally close(s)
    }

  private var cg0 = Map.empty[Int, (Long, Long)]

  /** Opens a span as the child of the innermost open one. */
  def open(name: String): Span = {
    val parent = stack.headOption
    val s = spans.synchronized {
      val s = new Span(spans.length, parent.map(_.id).getOrElse(-1), name,
        pass, System.nanoTime())
      spans += s
      s
    }
    stack = s :: stack
    tag(Some(s))
    cg0 += s.id -> ((codegen.getCount, gcMs))
    s
  }

  /** Closes `s` and every span opened inside it that is still open. */
  def close(s: Span): Unit = if (stack.contains(s)) {
    while (stack.head ne s) close(stack.head)
    s.end = System.nanoTime()
    val (c0, g0) = cg0(s.id)
    val dc = codegen.getCount - c0
    s.codegenCompiles = dc
    // the histogram keeps a sample reservoir, not a running sum: the
    // compile time of a span is its compile count times the sample mean
    s.codegenMs = if (dc > 0) dc * codegen.getSnapshot.getMean else 0.0
    s.jvmGcMs = gcMs - g0
    cg0 -= s.id
    stack = stack.tail
    tag(stack.headOption)
  }

  private def tag(s: Option[Span]): Unit = s match {
    case Some(x) =>
      sc.setLocalProperty(SpanProperty, x.id.toString)
      sc.setJobGroup(s"graft-bench-${x.id}", x.name, interruptOnCancel = false)
    case None =>
      sc.setLocalProperty(SpanProperty, null)
      sc.clearJobGroup()
  }

  /** Adds a named quantity to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = value)

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (sc != null) org.apache.spark.graftbench.Bus.drain(sc)

  /** Self time of each span: its duration minus the union of its
    * children's intervals (children never overlap: spans open and close
    * on one thread).
    */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }

  /** Spans as JSON lines, for the trace file written at the end. */
  def toJson: String = {
    val self = selfSeconds
    spans.map { s =>
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_s":${Json.num(self(s.id))},"jobs":${s.jobs.get},""" +
        s""""tasks":${s.tasks.get},"task_ms":${s.taskMs.get},""" +
        s""""cpu_ms":${s.cpuNs.get / 1000000},"task_gc_ms":${s.taskGcMs.get},""" +
        s""""jvm_gc_ms":${s.jvmGcMs},"codegen_compiles":${s.codegenCompiles},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes.get},""" +
        s""""spill_bytes":${s.spillBytes.get},"attrs":{$a}}"""
    }.mkString("\n")
  }
}
