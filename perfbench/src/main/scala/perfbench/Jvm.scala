package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** JVM-level counters: GC, JIT and heap, read through the platform
  * MXBeans. */
object Jvm {
  final case class Snap(gcMs: Long, gcCount: Long, jitMs: Long)

  def snapshot(): Snap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Snap(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  /** Heap in use after a full collection. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  /** jvm.* since `before`. */
  def layerMetrics(before: Snap, out: Metrics): Unit = {
    val now = snapshot()
    out.put("jvm.gc_ms", (now.gcMs - before.gcMs).toDouble, "ms")
    out.put("jvm.gc_count", (now.gcCount - before.gcCount).toDouble, "count")
    out.put("jvm.jit_ms", (now.jitMs - before.jitMs).toDouble, "ms")
    out.put("jvm.peak_heap_mb", peakHeapMb(), "MB")
  }

  /** spark.* over every job the workload ran while the listener was on. */
  def sparkMetrics(t: Trace, out: Metrics): Unit = {
    val c = t.total
    out.put("spark.jobs", c.jobs.get.toDouble, "count")
    out.put("spark.stages", c.stages.get.toDouble, "count")
    out.put("spark.tasks", c.tasks.get.toDouble, "count")
    out.put("spark.task_s", c.taskNs.get / 1e9, "s")
    out.put("spark.shuffle_mb", c.shuffleBytes.get / 1e6, "MB")
    out.put("spark.spill_mb", c.spillBytes.get / 1e6, "MB")
  }
}
