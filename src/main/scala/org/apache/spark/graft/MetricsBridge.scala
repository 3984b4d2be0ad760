package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Cumulative task-metric counters for graft.Bench's self-adjudication
  * record: wall time alone cannot distinguish a shared-box contention
  * burst from a real plan regression, but (shuffle bytes, spill, GC)
  * can — identical shuffle volume with inflated wall time is
  * contention; grown shuffle volume is a regression.
  *
  * Counters are cumulative across the app; callers [[measure]] a block,
  * which diffs two snapshots. Listener delivery is asynchronous, so a
  * caller that snapshots by hand must [[MetricsBridge.drain]] first.
  */
class TaskMetricsTap extends SparkListener {
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val memorySpillBytes = new AtomicLong
  val diskSpillBytes = new AtomicLong
  val gcTimeMs = new AtomicLong
  val cpuTimeNs = new AtomicLong

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memorySpillBytes.addAndGet(m.memoryBytesSpilled)
      diskSpillBytes.addAndGet(m.diskBytesSpilled)
      gcTimeMs.addAndGet(m.jvmGCTime)
      cpuTimeNs.addAndGet(m.executorCpuTime)
    }
  }

  /** (shuffle_read, shuffle_write, spill_mem, spill_disk, gc_ms, cpu_ns) */
  def snapshot(): Array[Long] = Array(
    shuffleReadBytes.get, shuffleWriteBytes.get,
    memorySpillBytes.get, diskSpillBytes.get, gcTimeMs.get, cpuTimeNs.get)

  /** Run `f` between two drained snapshots of `sc`'s bus: (result, wall
    * seconds of `f`, counter deltas in [[snapshot]] order). */
  def measure[T](sc: SparkContext)(f: => T): (T, Double, Array[Long]) = {
    MetricsBridge.drain(sc)
    val before = snapshot()
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    MetricsBridge.drain(sc)
    (r, sec, snapshot().zip(before).map { case (a, b) => a - b })
  }
}

object TaskMetricsTap {
  /** One measured cell as the scale/capstone/stream-twin records carry
    * it; the Python checkers under tools/ parse these keys. */
  def cellJson(sec: Double, d: Array[Long]): String =
    f"""{"sec":$sec%.3f,"shuffle_read_b":${d(0)},"shuffle_write_b":${d(1)},""" +
      f""""spill_mem_b":${d(2)},"spill_disk_b":${d(3)},"gc_ms":${d(4)},""" +
      f""""cpu_sec":${d(5) / 1e9}%.2f}"""
}

/** Per-task duration capture for straggler attribution (the skew-cure
  * scale cells): a funneled hot key shows up as ONE task whose duration
  * dwarfs the stage median — aggregate counters (TaskMetricsTap) cannot
  * see it. Callers [[reset]] before a measured block, [[MetricsBridge
  * .drain]] the listener bus, then read [[stats]]. Durations are held
  * in memory — fine for the contrast blocks' thousands of tasks, not
  * meant to stay installed across a long benchmark. */
class TaskDurationTap extends SparkListener {
  private val durs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
    if (taskEnd.taskInfo != null) durs.add(taskEnd.taskInfo.duration)
  def reset(): Unit = durs.clear()
  /** (task count, p50 ms, max ms) of task durations since [[reset]]. */
  def stats(): (Int, Long, Long) = {
    val a = durs.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
    if (a.isEmpty) (0, 0L, 0L) else (a.length, a(a.length / 2), a.last)
  }
}

/** Hosted inside the spark namespace for ONE private[spark] member:
  * `LiveListenerBus.waitUntilEmpty`, the only reliable way to fence the
  * asynchronous listener queue before a metrics snapshot (the
  * [[org.apache.spark.sql.graft.ExprBridge]] reasoning). */
object MetricsBridge {
  def install(sc: SparkContext): TaskMetricsTap = {
    val tap = new TaskMetricsTap
    sc.addSparkListener(tap)
    tap
  }

  def installDurations(sc: SparkContext): TaskDurationTap = {
    val tap = new TaskDurationTap
    sc.addSparkListener(tap)
    tap
  }

  def remove(sc: SparkContext, tap: SparkListener): Unit =
    sc.removeSparkListener(tap)

  /** Block until every queued listener event has been delivered (or
    * 10 s — a bench snapshot must never hang the run). */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: Throwable => () }
}
