package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Cumulative task-level counters of one session. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    executorRunMs: Long = 0, executorCpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0, outputBytes: Long = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    executorRunMs - o.executorRunMs, executorCpuNs - o.executorCpuNs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes)

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    executorRunMs + o.executorRunMs, executorCpuNs + o.executorCpuNs,
    gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes)
}

/** What the listener saw during one measured window. */
final case class WindowStats(wallS: Double, inJobS: Double,
    storagePeakBytes: Long, c: Counters) {
  def driverGapS: Double = math.max(0.0, wallS - inJobS)

  def +(o: WindowStats): WindowStats = WindowStats(wallS + o.wallS,
    inJobS + o.inJobS, math.max(storagePeakBytes, o.storagePeakBytes), c + o.c)
}

object WindowStats {
  val zero: WindowStats = WindowStats(0, 0, 0, Counters())
}

/** The benchmark's own listener: job, stage and task counters, the wall
  * intervals covered by jobs, and the memory held by stored blocks. It is
  * registered only in traced runs, so untraced timings carry none of its
  * cost.
  */
final class SparkMetrics extends SparkListener {
  private var counters = Counters()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blockMem = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    counters = counters.copy(jobs = counters.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { counters = counters.copy(stages = counters.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) counters = counters.copy(
      tasks = counters.tasks + 1,
      executorRunMs = counters.executorRunMs + m.executorRunTime,
      executorCpuNs = counters.executorCpuNs + m.executorCpuTime,
      gcMs = counters.gcMs + m.jvmGCTime,
      shuffleWriteBytes = counters.shuffleWriteBytes +
        m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = counters.shuffleReadBytes +
        m.shuffleReadMetrics.totalBytesRead,
      spillBytes = counters.spillBytes + m.memoryBytesSpilled +
        m.diskBytesSpilled,
      inputBytes = counters.inputBytes + m.inputMetrics.bytesRead,
      outputBytes = counters.outputBytes + m.outputMetrics.bytesWritten)
    else counters = counters.copy(tasks = counters.tasks + 1)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      storageNow += now - blockMem.getOrElse(key, 0L)
      if (now == 0L) blockMem.remove(key) else blockMem(key) = now
      storagePeak = math.max(storagePeak, storageNow)
    }

  private def snapshot(): (Counters, Long) = synchronized {
    storagePeak = storageNow
    (counters, System.currentTimeMillis())
  }

  private def close(c0: Counters, t0: Long, t1: Long): WindowStats =
    synchronized {
      val covered = jobSpans.iterator
        .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
      var inJob = 0L; var end = Long.MinValue
      covered.foreach { case (s, e) =>
        val from = math.max(s, end)
        if (e > from) { inJob += e - from; end = e }
      }
      WindowStats((t1 - t0) / 1e3, inJob / 1e3, storagePeak, counters - c0)
    }

  /** Runs `body` as one window: listener events of earlier work are
    * drained first, and the window closes only after its own events have
    * arrived. Returns the window's stats and the body's value.
    */
  def window[A](sc: SparkContext)(body: => A): (WindowStats, A) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val (c0, t0) = snapshot()
    val v = body
    val t1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(sc)
    (close(c0, t0, t1), v)
  }
}
