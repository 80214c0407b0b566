package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so spans the
  * harness times and the epoch-millisecond stamps Spark puts on its events
  * share one time axis. */
object Clock {
  private val offset =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = offset + System.nanoTime()
}

/** One timed interval. `parent` is the id of the span that caused it, or 0;
  * `key` carries the job group of an `exec.job` span, and on `wire_point`
  * the server connection id of an op span (a statement round trip). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, key: String = "")

/** In-memory span recorder; the spans are written out when the run ends.
  * When off, `span` only runs its body. */
final class Tracer {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def currentId: Long = current.get

  def span[T](name: String, key: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val t0 = Clock.nowNs
      current.set(id)
      try body
      finally {
        current.set(parent)
        spans.add(Span(id, parent, name, t0, Clock.nowNs, key))
      }
    }

  /** Record an interval timed elsewhere (Spark events); the probes that
    * call this are attached only while tracing. */
  def add(name: String, parent: Long, startNs: Long, endNs: Long,
      key: String = ""): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs, key))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Spark-side probes of the traced run: Catalyst phases from each
  * `QueryExecution.tracker`, and job / stage / task accounting from the
  * listener bus. Every job carries the job group the harness set for its
  * op, so `exec.job` spans link back to the op that ran them. */
final class SparkProbe(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {

  import SparkProbe.Job

  private final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var scan = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
    var peak = 0L
  }

  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val open = new java.util.concurrent.ConcurrentHashMap[
    Int, (String, Long, Int, Acc)]
  private val done = new ConcurrentLinkedQueue[Job]()

  def jobs: Seq[Job] = done.asScala.toSeq.sortBy(_.startNs)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    open.put(e.jobId, (group, e.time * 1000000L, e.stageIds.size, new Acc))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageToJob.get(e.stageId)
    val o = open.get(job)
    if (o != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = o._4
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.scan += m.inputMetrics.bytesRead
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peak = math.max(a.peak, m.peakExecutionMemory)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = open.remove(e.jobId)
    if (o != null) {
      val (group, startNs, stages, a) = o
      val endNs = e.time * 1000000L
      done.add(Job(e.jobId, group, startNs, endNs, stages, a.tasks, a.runMs,
        a.cpuNs, a.gcMs, a.scan, a.shRead, a.shWrite, a.spill, a.peak))
      tracer.add("exec.job", SparkProbe.opOf(group), startNs, endNs, group)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      tracer.add(s"plan.$phase", 0L, p.startTimeMs * 1000000L,
        p.endTimeMs * 1000000L)
    }
}

object SparkProbe {
  /** Accounting of one finished job, summed over its tasks. */
  final case class Job(id: Int, group: String, startNs: Long, endNs: Long,
      stages: Int, tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      scanBytes: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      peakMem: Long)

  /** Job group the harness sets around op `id`. */
  def group(id: Long): String = s"perfbench-op-$id"

  def opOf(group: String): Long =
    if (group.startsWith("perfbench-op-"))
      group.stripPrefix("perfbench-op-").toLong
    else 0L
}
