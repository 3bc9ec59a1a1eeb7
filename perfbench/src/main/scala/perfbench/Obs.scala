package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.{CompositeData, TabularData}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters over the listener bus: jobs, tasks, task and GC time,
  * shuffle bytes, plus the intervals during which at least one job was
  * running (their complement is driver-side time: planning, collects,
  * file commits). Registered only in traced passes. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  private val running = new AtomicInteger
  // wall nanos during which >= 1 job ran; the open interval starts at busySince
  private val busyNs = new AtomicLong
  @volatile private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    if (running.getAndIncrement() == 0) busySince = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (running.decrementAndGet() == 0)
      busyNs.addAndGet(System.nanoTime() - busySince)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Busy nanos up to `now`, counting a still-open busy interval. */
  def busyNanos(now: Long): Long = synchronized {
    busyNs.get + (if (running.get > 0) now - busySince else 0L)
  }

  def snapshot(now: Long): Counts = Counts(jobs.get, tasks.get, taskMs.get,
    gcMs.get, shuffleWrite.get, shuffleRead.get, busyNanos(now))
}

final case class Counts(jobs: Long, tasks: Long, taskMs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, busyNs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, busyNs - o.busyNs)
}

/** One closed span: a layer call made from the benchmark. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counts: Counts) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call structure; each carries the
  * Spark counters of its own interval (the listener bus is drained before
  * each reading). */
final class Tracer(sc: SparkContext, val runId: String) {
  private val counters = new SparkCounters
  sc.addSparkListener(counters)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  private def reading(): Counts = {
    org.apache.spark.graft.ListenerBridge.drain(sc, 60000)
    counters.snapshot(System.nanoTime())
  }

  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.head
    stack = id :: stack
    val c0 = reading()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val c1 = reading()
      stack = stack.tail
      spans += Span(id, parent, name, t0, t1, c1 - c0)
    }
  }

  def all: Seq[Span] = spans.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self time: the span's wall minus the time its direct children cover. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  def close(): Unit = sc.removeSparkListener(counters)

  def toJsonLines: Seq[String] = all.map { s =>
    val c = s.counts
    Json.obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "wall_s" -> s.wallS, "self_s" -> selfS(s), "jobs" -> c.jobs,
      "tasks" -> c.tasks, "task_s" -> c.taskMs / 1e3, "gc_s" -> c.gcMs / 1e3,
      "shuffle_write_b" -> c.shuffleWrite, "shuffle_read_b" -> c.shuffleRead,
      "job_busy_s" -> c.busyNs / 1e9))
  }
}

/** Old-generation occupancy after garbage collection, from the GC
  * notifications of the platform MXBeans. `peakMb` is the largest old-gen
  * figure any collection (young, mixed or full) left behind since the last
  * `reset()`: in local mode the driver and the executors share this heap,
  * so it includes what driver-side collects held while a collection ran,
  * and tenured task garbage that no old-gen collection has examined yet.
  * `retainedMb()` forces full collections and returns what the old
  * generation still holds: collected results, broadcast relations and
  * pinned blocks kept past the pass. */
final class OldGenMonitor {
  private val lastFull = new AtomicLong
  private val peak = new AtomicLong
  private val fulls = new AtomicLong
  private val oldPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
    .map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = n.getUserData.asInstanceOf[CompositeData]
        val after = info.get("gcInfo").asInstanceOf[CompositeData]
          .get("memoryUsageAfterGc").asInstanceOf[TabularData]
        val used = after.values().asScala.map(_.asInstanceOf[CompositeData])
          .filter(r => oldPools(r.get("key").asInstanceOf[String]))
          .map(_.get("value").asInstanceOf[CompositeData].get("used")
            .asInstanceOf[Long]).sum
        peak.accumulateAndGet(used, math.max)
        if (info.get("gcAction") == "end of major GC") {
          lastFull.set(used)
          fulls.incrementAndGet()
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0L)

  def peakMb: Double = peak.get / 1048576.0

  private def fullGc(): Unit = {
    val before = fulls.get
    System.gc()
    // notifications are delivered asynchronously
    val deadline = System.nanoTime() + 5000000000L
    while (fulls.get == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Two full collections apart. */
  def collect(): Unit = {
    fullGc()
    Thread.sleep(300)
    fullGc()
  }

  /** Full collections, 300 ms apart, at least four and then until the old
    * generation stops shrinking (at most eight): each lets Spark's
    * ContextCleaner release the blocks of datasets the one before found
    * unreachable. On cc_graph the old generation read 336, 333, then
    * 139 MB: two collections often, but not always, read the blocks of
    * PageRank's loop tables that the cleaner was still releasing. */
  def retainedMb(): Double = {
    fullGc()
    var prev = Long.MaxValue
    var rounds = 1
    while (rounds < 4 || (prev - lastFull.get > 1048576L && rounds < 8)) {
      prev = lastFull.get
      Thread.sleep(300)
      fullGc()
      rounds += 1
    }
    lastFull.get / 1048576.0
  }
}
