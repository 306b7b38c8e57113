package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import com.sun.management.GarbageCollectionNotificationInfo

/** One timed interval. Times are epoch milliseconds; the parent and the
  * operation a span belongs to are derived afterwards from interval
  * nesting, so spans recorded on other threads (the stream thread, the
  * listener bus) need no hand-off.
  */
final case class Span(name: String, start: Double, end: Double, attrs: Map[String, Any])

/** In-memory span recorder. Operation spans (`op.*`) are always kept:
  * the end-to-end metrics are computed from them. Layer spans and the
  * listener-derived spans are kept only when `layers` is on, which is the
  * traced run.
  */
final class Tracer(val layers: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def record(name: String, start: Double, end: Double, attrs: Map[String, Any] = Map.empty): Unit =
    spans.synchronized { spans += Span(name, start, end, attrs) }

  private def timed[T](name: String, attrs: Map[String, Any])(body: => T): T = {
    val t0 = now()
    val r = body
    record(name, t0, now(), attrs)
    r
  }

  /** A measured operation. */
  def op[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    timed(name, attrs)(body)

  /** A layer span inside an operation (recorded in the traced run only). */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (layers) timed(name, attrs)(body) else body

  /** A fact observed at one instant, such as a count read after an operation. */
  def note(name: String, attrs: Map[String, Any]): Unit = {
    val t = now()
    record(name, t, t, attrs)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Spark job and task totals as `spark.job` spans, and streaming trigger
  * phases as `streaming.trigger` spans, both from the public listener
  * interfaces.
  */
final class RuntimeListener(tr: Tracer) extends SparkListener {
  private final class Job(val start: Long) {
    var cpuNs, runMs, gcMs, shuffleWrite, spill, tasks = 0L
    val stages = ConcurrentHashMap.newKeySet[Int]()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile var started, ended = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.time))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    started += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        j.stages.add(e.stageId)
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.remove(e.jobId)).foreach { j =>
      tr.record("spark.job", j.start.toDouble, e.time.toDouble, j.synchronized(Map(
        "job" -> e.jobId, "stages" -> j.stages.size, "tasks" -> j.tasks,
        "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill)))
    }
    ended += 1
  }

  /** Waits (bounded) until every started job's end event was handled. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while ((ended < started || started == 0) && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200) // trailing task and progress events
  }
}

final class ProgressListener(tr: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    tr.record("streaming.trigger", start, start + d.getOrElse("triggerExecution", 0L),
      d.toMap ++ Map("rows" -> p.numInputRows, "batch" -> p.batchId))
  }
}

/** The most heap in use right after any collection since construction,
  * from the collectors' notifications.
  */
final class GcPeak {
  @volatile var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _                      =>
  }
}
