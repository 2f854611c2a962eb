package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Process CPU seconds (all threads: the Spark driver, task threads, GC). */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
}

/** Task counters of every job run while a span was open. Jobs are tied to
  * the open span through the `graftbench.span` local property, which
  * Spark copies into each job's properties. */
final class SpanCounters {
  val tasks = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[String, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()

  def counters(span: String): SpanCounters =
    bySpan.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).foreach { s =>
      e.stageIds.foreach(stageSpan.put(_, s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val c = counters(span)
      c.tasks.incrementAndGet()
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One closed span: inclusive wall and process CPU, and the wall its
  * child spans covered (self time = wall - childWall). */
final case class Span(id: String, name: String, wall: Double, cpu: Double, childWall: Double) {
  def self: Double = wall - childWall
}

/** Spans kept in memory for the whole run; read out when it ends. The
  * benchmark opens spans around calls into graft's public functions, on
  * the calling thread. */
final class Tracer(sc: SparkContext) {
  private val listener = new SpanListener
  sc.addSparkListener(listener)
  private val closed = scala.collection.mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(String, String, Long, Double, Array[Double])]
  private var next = 0

  def span[T](name: String)(body: => T): T = {
    next += 1
    val id = s"$name#$next"
    val childWall = Array(0.0)
    val prev = sc.getLocalProperty(Tracer.Prop)
    stack = (id, name, System.nanoTime(), Cpu.seconds, childWall) :: stack
    sc.setLocalProperty(Tracer.Prop, id)
    try body
    finally {
      val (_, _, t0, c0, cw) = stack.head
      stack = stack.tail
      sc.setLocalProperty(Tracer.Prop, prev)
      val wall = (System.nanoTime() - t0) / 1e9
      closed += Span(id, name, wall, Cpu.seconds - c0, cw(0))
      stack.headOption.foreach(_._5(0) += wall)
    }
  }

  /** Drains the listener bus, so every task of a closed span is counted. */
  def flush(): Unit = sc.listenerBus.waitUntilEmpty()

  def spans: Seq[Span] = closed.toSeq
  def counters(span: Span): SpanCounters = listener.counters(span.id)
  def lastOf(name: String): Option[Span] = closed.reverseIterator.find(_.name == name)
}

object Tracer {
  val Prop = "graftbench.span"
}
