package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** In-memory span recorder for the traced run. The benchmark opens a
  * span around each call it makes into a layer; Spark jobs are attributed
  * to the innermost open span through the job group, which `open` sets
  * and `close` restores, and a listener this class owns. Nothing is
  * written until [[Trace.dump]] at the end of the run.
  *
  * When `enabled` is false every call is a no-op apart from running the
  * body, so the untraced run pays nothing but a branch. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(GroupProp)))
        .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
      val j = Job(e.jobId, group.getOrElse(-1), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Runs `body` inside a span named `layer`, child of the open span. */
  def span[T](layer: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), layer, tag,
        System.nanoTime())
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(GroupPrefix + s.id, layer, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(GroupPrefix + p.id, p.layer, false)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** Attaches a count or a measured value to the innermost open span. */
  def count(name: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.counts(name) = v)

  /** Attaches a value to a finished span (values read after the call). */
  def countOn(id: Int, name: String, v: Double): Unit =
    if (enabled) spans(id).counts(name) = v

  def lastRootId: Int = spans.lastIndexWhere(_.parent == -1)
  def all: Seq[Span] = spans.toSeq

  /** Waits until the listener has seen every started job end, so the job
    * table is complete before it is read. */
  def settle(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    import scala.jdk.CollectionConverters._
    while (jobs.values.asScala.exists(_.end < 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // task-end events trail the job end on the bus
  }

  /** Jobs attributed to each span id. */
  def jobsBySpan: Map[Int, Seq[Job]] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.groupBy(_.span)
  }

  def close(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)
}

object Trace {
  private val GroupProp = "spark.jobGroup.id"
  private val GroupPrefix = "graftbench-span-"

  final case class Span(id: Int, parent: Int, layer: String, tag: String, start: Long) {
    var end: Long = -1L
    val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    def ms: Double = (end - start) / 1e6
  }

  final case class Job(id: Int, span: Int, start: Long) {
    var end: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
  }

  /** Milliseconds of [start, end) covered by the union of the intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
