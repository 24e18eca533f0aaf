package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Engine counters summed from task-end events. */
final class Counters {
  val tasks, stages, cpuNs, gcMs, inputBytes, outputBytes, shuffleRead, shuffleWrite,
    spill = new AtomicLong

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.incrementAndGet()
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
  }
}

/** The benchmark's own listener. Each op runs under job group `pb-<op>`;
  * jobs submitted from threads that do not carry the group (the streaming
  * source's own thread) are assigned to the op whose time window holds
  * their submission time — the client is single and sequential, so at
  * most one op is open at a time. */
final class EngineListener extends SparkListener {
  val total = new Counters
  private val perOp = new ConcurrentHashMap[Int, Counters]
  private val stageOp = new ConcurrentHashMap[Int, Int]
  // op start time (ms) -> (op id, end time or Long.MaxValue while open)
  private val windows = new ConcurrentSkipListMap[java.lang.Long, (Int, Long)]
  @volatile var measuring = false

  def open(op: Int, startMs: Long): Unit = windows.put(startMs, (op, Long.MaxValue))
  def close(op: Int, startMs: Long, endMs: Long): Unit = windows.put(startMs, (op, endMs))
  def of(op: Int): Counters = perOp.computeIfAbsent(op, _ => new Counters)

  private def opAt(t: Long): Int =
    Option(windows.floorEntry(t)).map(_.getValue)
      .collect { case (op, end) if t <= end => op }.getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val op = group.filter(_.startsWith("pb-")).map(_.drop(3).toInt).getOrElse(opAt(e.time))
    if (op >= 0) e.stageIds.foreach(stageOp.put(_, op))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    if (measuring) total.stages.incrementAndGet()
    val op = stageOp.getOrDefault(e.stageInfo.stageId, -1)
    if (op >= 0) of(op).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    if (measuring) total.add(m)
    val op = stageOp.getOrDefault(e.stageId, -1)
    if (op >= 0) of(op).add(m)
  }
}

/** One span: a timed call across a layer boundary. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder, written out once at the end of the run. */
final class Tracer {
  private val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  private var next = 0

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = next
    next += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, op, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def write(path: String, origin: Long): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ms":${(s.startNs - origin) / 1e6},"end_ms":${(s.endNs - origin) / 1e6}}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
