package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Cumulative Spark counters at one instant; spans report differences. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, runMs: Long,
    snapshotJobs: Long, snapshotJobMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, runMs - o.runMs,
    snapshotJobs - o.snapshotJobs, snapshotJobMs - o.snapshotJobMs)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, runMs + o.runMs,
    snapshotJobs + o.snapshotJobs, snapshotJobMs + o.snapshotJobMs)
}
object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** What the traced run learns about one span from the listener. */
final case class SpanStats(c: Counts, driverGapFrac: Double,
    execBusyFrac: Double, taskSkew: Double)

/**
 * Listener registered by the benchmark in traced runs only. It counts jobs,
 * stages, tasks, shuffle and spill bytes and executor run time, keeps each
 * job's wall interval (for the time no job was running) and each stage's
 * max/median task time (skew). A job belongs to the snapshot layer when
 * any of its stages was called from `SnapshotStore`.
 */
final class Counters(cores: Int) extends SparkListener {
  private var c = Counts.Zero
  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageSkew = mutable.ArrayBuffer.empty[(Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).map(_.getProperty("callSite.short", ""))
      .getOrElse("")
    val snap = site.contains("SnapshotStore") ||
      e.stageInfos.exists(_.details.contains("graft.plans.SnapshotStore"))
    jobStart(e.jobId) = (e.time, snap)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (t0, snap) = jobStart.remove(e.jobId).getOrElse((e.time, false))
    jobSpans += ((t0, e.time))
    c = c.copy(jobs = c.jobs + 1,
      snapshotJobs = c.snapshotJobs + (if (snap) 1 else 0),
      snapshotJobMs = c.snapshotJobMs + (if (snap) e.time - t0 else 0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c = c.copy(tasks = c.tasks + 1,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        runMs = c.runMs + m.executorRunTime)
    } else c = c.copy(tasks = c.tasks + 1)
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      c = c.copy(stages = c.stages + 1)
      taskMs.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) stageSkew += ((System.currentTimeMillis(), ts.max / med))
      }
    }

  def snapshot(): Counts = synchronized(c)

  /** Listener view of the wall interval [t0, t1] (epoch ms). */
  def stats(before: Counts, t0: Long, t1: Long): SpanStats = synchronized {
    val wall = math.max(1L, t1 - t0).toDouble
    val clipped = jobSpans.iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    val d = c - before
    val skews = stageSkew.collect { case (t, s) if t >= t0 && t <= t1 => s }
    SpanStats(d, 1.0 - covered / wall, d.runMs / (wall * cores),
      if (skews.isEmpty) 0.0 else Stats.median(skews.toSeq))
  }
}

/** One timed call, in the shape of SnapshotStore's metrics.jsonl rows.
  * `cpuSeconds` is the CPU time of the whole JVM over the call. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, seconds: Double, cpuSeconds: Double, ok: Boolean,
    error: String, stats: Option[SpanStats])

/**
 * Spans recorded by the benchmark around each call into the engine. They
 * are kept in memory and written out when the run ends. `counters` is set
 * only in traced runs.
 */
final class Recorder(val counters: Option[Counters],
    drainListeners: () => Unit) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(0)
  private var nextId = 1
  private def drain(): Unit = if (counters.nonEmpty) drainListeners()

  /** Time `body`; an exception is recorded with its class and rethrown. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.head
    open = id :: open
    drain()
    val before = counters.map(_.snapshot())
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val c0 = Jvm.cpuNanos()
    def close(ok: Boolean, err: String): Span = {
      val secs = (System.nanoTime() - n0) / 1e9
      val cpu = (Jvm.cpuNanos() - c0) / 1e9
      val t1 = System.currentTimeMillis()
      open = open.tail
      drain()
      val st = for (cs <- counters; b <- before) yield cs.stats(b, t0, t1)
      val s = Span(id, parent, name, t0, t1, secs, cpu, ok, err, st)
      spans += s
      s
    }
    val out = try body catch {
      case e: Throwable =>
        close(ok = false, e.getClass.getName)
        throw e
    }
    (out, close(ok = true, ""))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** Process-level readings the run reports beside the spans. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  /** CPU time of this JVM, all threads; time stolen from the VM by its
    * host is not counted. */
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this JVM: its peak resident set. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }

  def loadAvg(): String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim finally src.close()
  }

  def maxHeapMb(): Long = Runtime.getRuntime.maxMemory / 1048576

  def startMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
