package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}

/** Cumulative task-level counters behind [[Profile]]'s per-query records:
  * executor run time, JVM GC time, scheduler delay, task count, shuffle
  * bytes written and bytes spilled to disk, summed over every task end
  * the listener bus delivers, and the number of jobs that ended. A
  * caller snapshots the counters around a rep (after draining the bus)
  * and records the deltas — the wall/task split that separates a
  * driver-side single-thread stall (wall ≫ Δtask-time) from a
  * distributed-stage slowdown (Δtask-time ∝ wall).
  *
  * Scheduler delay uses the web-UI formula: task wall (finish − launch)
  * minus executor run + deserialize + result-serialize time, floored at
  * zero — the portion of a task's life spent queued or in transit
  * rather than executing.
  */
object TaskCounters {
  final case class Snap(runMs: Long, gcMs: Long, schedDelayMs: Long,
      tasks: Long, shuffleWriteBytes: Long, spillBytes: Long, jobs: Long) {
    def minus(o: Snap): Snap =
      Snap(runMs - o.runMs, gcMs - o.gcMs, schedDelayMs - o.schedDelayMs,
        tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
        spillBytes - o.spillBytes, jobs - o.jobs)
  }
}

final class TaskCounters extends SparkListener {
  import TaskCounters.Snap

  val runMs = new AtomicLong(0L)
  val gcMs = new AtomicLong(0L)
  val schedDelayMs = new AtomicLong(0L)
  val tasks = new AtomicLong(0L)
  val shuffleWriteBytes = new AtomicLong(0L)
  val spillBytes = new AtomicLong(0L)
  val jobs = new AtomicLong(0L)

  def snapshot(): Snap =
    Snap(runMs.get(), gcMs.get(), schedDelayMs.get(), tasks.get(),
      shuffleWriteBytes.get(), spillBytes.get(), jobs.get())

  override def onJobEnd(end: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(end: SparkListenerTaskEnd): Unit = {
    val info = end.taskInfo
    val m = end.taskMetrics
    if (info != null && m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      val delay = info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      schedDelayMs.addAndGet(math.max(0L, delay))
      tasks.incrementAndGet()
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }
}
