package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Host and JVM readings that tell a slow run from a slow program: CPU
  * steal, JIT compile time, code-cache peak, GC time, and the live heap.
  */
object Noise {

  /** (total, steal) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuStat(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.sum, if (f.length > 7) f(7) else 0L))
      } finally src.close()
    } catch { case _: Exception => None }

  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => 100.0 * (s1 - s0) / (t1 - t0)
      case _ => 0.0
    }

  def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def codeCachePeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.NON_HEAP && p.getName.contains("Code"))
      .map(_.getPeakUsage.getUsed).sum / 1e6

  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory() / 1e6

  /** Heap in use after two full collections with a pause between them, so
    * that what the first one let Spark's context cleaner release is gone:
    * the live set.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
