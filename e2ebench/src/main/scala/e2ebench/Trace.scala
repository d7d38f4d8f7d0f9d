package e2ebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** A closed interval of one op's work inside one layer. Times are
  * `System.nanoTime`; `parent` is 0 for an op's root span. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest per thread: a span opened while
  * another is open on the same thread becomes its child. With `on` false
  * [[span]] only runs its body, so untraced runs pay nothing. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial(() => List.empty[Long])

  def span[T](op: Long, layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, stack.headOption.getOrElse(0L), op, layer, name,
          t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq
  def nextId(): Long = ids.incrementAndGet()
}

/** Per-op execution counters, read from Spark's listener bus and keyed by
  * the job group each op sets on its thread (`setJobGroup` is thread
  * local, so concurrent clients' jobs never mix). */
final class OpCounters {
  val c = new ConcurrentHashMap[String, Double]()
  /** (start, end) epoch ms of each job and of each task. */
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
  def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)
  def get(k: String): Double = c.getOrDefault(k, 0.0)
}

final class OpListener extends SparkListener {
  val ops = new ConcurrentHashMap[String, OpCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()

  private def counters(group: String): OpCounters =
    ops.computeIfAbsent(group, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      jobGroup.put(e.jobId, (group, e.time))
      e.stageIds.foreach(stageGroup.put(_, group))
      counters(group).add("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (group, t0) =>
      counters(group).jobs.add((t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId))
      .foreach(counters(_).add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val c = counters(group)
      val info = e.taskInfo
      c.add("tasks", 1)
      c.tasks.add((info.launchTime, info.finishTime))
      c.add("task_s", info.duration / 1e3)
      if (e.reason != Success) c.add("failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        c.add("cpu_s", m.executorCpuTime / 1e9)
        c.add("task_gc_s", m.jvmGCTime / 1e3)
        c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        c.add("input_rows", m.inputMetrics.recordsRead.toDouble)
        c.add("shuffle_write_bytes",
          m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("shuffle_read_bytes",
          m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("shuffle_fetch_wait_s",
          m.shuffleReadMetrics.fetchWaitTime / 1e3)
        c.add("spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        c.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
}

object Intervals {
  /** Union of intervals, as disjoint intervals in ascending order. */
  def merge(xs: Iterable[(Double, Double)]): Seq[(Double, Double)] =
    xs.toSeq.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  /** Length of the part of [lo, hi] covered by the union of `xs`. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double =
    merge(xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })
      .map { case (a, b) => b - a }.sum
}
