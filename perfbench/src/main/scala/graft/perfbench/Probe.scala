package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Cumulative Spark scheduler counters. The benchmark reads them at the
  * boundaries of its own calls into graft (after draining the listener
  * bus) and attributes the difference to the call in between. */
final class Counters extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, schedMs, shuffleB, spillB, peakB, records = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      records.addAndGet(m.inputMetrics.recordsRead)
      // Spark UI's scheduler delay: task wall minus what the executor
      // spent deserializing, running and serializing the result
      schedMs.addAndGet(math.max(0L, t.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      shuffleB.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakB.getAndAccumulate(m.peakExecutionMemory, math.max)
    }
  }

  def snap(): Snap = Snap(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
    schedMs.get, shuffleB.get, spillB.get, peakB.getAndSet(0L), records.get, Host.gcS())
}

final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long, cpuNs: Long,
    schedMs: Long, shuffleB: Long, spillB: Long, peakB: Long, records: Long, gcS: Double) {
  /** Counters accrued since `before`; the peak is the max seen since then. */
  def since(before: Snap): Map[String, Any] = Map(
    "jobs" -> (jobs - before.jobs), "stages" -> (stages - before.stages),
    "tasks" -> (tasks - before.tasks), "task_run_s" -> (runMs - before.runMs) / 1e3,
    "task_cpu_s" -> (cpuNs - before.cpuNs) / 1e9, "gc_s" -> (gcS - before.gcS),
    "input_rows" -> (records - before.records),
    "sched_delay_s" -> (schedMs - before.schedMs) / 1e3,
    "shuffle_mb" -> (shuffleB - before.shuffleB) / 1048576.0,
    "spill_mb" -> (spillB - before.spillB) / 1048576.0, "peak_mem_mb" -> peakB / 1048576.0)
}

/** Process and host readings taken from outside Spark. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this JVM: driver, executor, JIT and GC threads. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** Collection time of every garbage collector in this JVM, seconds. */
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  // JVM uptime (milliseconds) when this object loads, carried on with
  // the monotonic clock
  private val (upMs, upNs) = (ManagementFactory.getRuntimeMXBean.getUptime, System.nanoTime())

  /** Seconds since the JVM started. */
  def uptimeS(): Double = upMs / 1e3 + (System.nanoTime() - upNs) / 1e9

  /** Restart the peak resident set (VmHWM) from the current one, so
    * the peak read at the end is the window's. */
  def resetRssPeak(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: Exception => () }

  /** Memory the program holds: the live heap after a full collection,
    * and the window's peak resident set (VmHWM) minus the committed
    * heap. The heap is fixed and touched at start, so the second is the
    * peak of everything outside it: native and off-heap buffers,
    * RocksDB, code cache, metaspace, thread stacks. */
  def memory(): Map[String, Double] = {
    // a collection lets Spark's ContextCleaner drop the broadcast and
    // shuffle blocks of frames no longer referenced; the later ones
    // collect what it freed
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    Map("heap_live_mb" -> heap.getUsed / 1048576.0,
      "native_peak_mb" -> (status("VmHWM:") / 1024.0 - heap.getCommitted / 1048576.0))
  }

  private def status(key: String): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith(key))
      .map(_.drop(key.length).trim.takeWhile(_.isDigit).toDouble).getOrElse(-1.0)

  /** Machine-wide jiffies: (busy = user+nice+system+irq+softirq, total, steal). */
  def jiffies(): (Long, Long, Long) = {
    val f = read("/proc/stat").linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f.take(8).sum, f(7))
  }

  def load1(): Double = read("/proc/loadavg").split(" ")(0).toDouble

  /** Host witnesses over a window: steal, and CPU time the machine
    * spent on anything but this JVM, as percentages of machine
    * capacity. Recorded only; nothing reacts to them. */
  def witnesses(j0: (Long, Long, Long), j1: (Long, Long, Long), ownCpuS: Double): Map[String, Any] = {
    val total = math.max(1L, j1._2 - j0._2).toDouble
    val hz = 100.0 // USER_HZ on Linux
    val other = math.max(0.0, (j1._1 - j0._1) - ownCpuS * hz)
    Map("host.steal_pct" -> 100.0 * (j1._3 - j0._3) / total,
      "host.other_cpu_pct" -> 100.0 * other / total,
      "host.load1" -> load1())
  }

  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Exception => "" }
}
