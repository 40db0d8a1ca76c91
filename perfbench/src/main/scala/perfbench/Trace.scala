package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: summed from listener events whose
  * job carried the span's id as a local property. */
final class Counters {
  val jobs, stages, tasks, executorRunMs, gcMs, shuffleBytes, spillBytes =
    new AtomicLong
  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "executor_run_ms" -> executorRunMs.get, "gc_ms" -> gcMs.get,
    "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get)
}

/** One recorded span. `op` is shared by every span of one slice or pass. */
final case class Span(id: Long, parent: Long, op: Int, name: String,
    startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the benchmark's own calls into the engine. Spans are
  * kept in memory and written out once the run ends. While a span is open
  * its id is set as a Spark local property, so the listener can charge
  * every job, stage and task to the innermost open span. Recording is off
  * for an op unless `begin(op, traced = true)` turned it on; untraced ops
  * pay one branch per span. A disabled tracer attaches no listener. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  import Tracer.SpanKey

  val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Counters]()
  private val nextId = new AtomicLong(1)
  private var stack: List[Long] = Nil
  private var op = 0
  private var on = false
  @volatile private var sentinelSeen = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      if (prop.contains("sentinel")) sentinelSeen = true
      prop.filter(_ != "sentinel").flatMap(s => Option(byId.get(s.toLong))).foreach { c =>
        c.jobs.incrementAndGet()
        c.stages.addAndGet(e.stageInfos.size)
        e.stageIds.foreach(stageSpan.put(_, c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { c =>
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.executorRunMs.addAndGet(m.executorRunTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  def begin(opId: Int, traced: Boolean): Unit = { op = opId; on = enabled && traced }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val c = new Counters
      byId.put(id, c)
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime(), c)
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far: the bus
    * is FIFO, so once a job submitted now is seen, all earlier task ends
    * have been counted. */
  def drain(): Unit = if (enabled) {
    sc.setLocalProperty(SpanKey, "sentinel")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(listener)
  }

  /** Spans as JSON lines: name, start, end, parent span, op id, counters. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val cs = s.counters.toMap.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},$cs}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
