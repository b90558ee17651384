package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.metrics.source.CodegenMetrics

import scala.jdk.CollectionConverters._

/** JVM-wide counters read at phase boundaries: JIT and GC time, the
  * process's CPU time, Janino compilations, and the CPU time of single
  * threads. */
object Jvm {

  /** Cumulative counters at one instant. `codegenMs` is the compile
    * count times the mean of Spark's compile-time histogram (a sample
    * reservoir, so it is an estimate; the count is exact). */
  final case class Snap(jitMs: Long, gcMs: Long, processCpuNs: Long,
      compiles: Long, codegenMs: Double) {
    def -(o: Snap): Snap = Snap(jitMs - o.jitMs, gcMs - o.gcMs,
      processCpuNs - o.processCpuNs, compiles - o.compiles, codegenMs - o.codegenMs)
  }

  def snap(): Snap = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Snap(jit, gc, cpu, h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of the calling thread, ns. */
  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime

  /** CPU time of the live thread whose name starts with `prefix`
    * (summed over every such thread), ns. */
  def threadCpuNs(prefix: String): Long =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith(prefix))
      .map(t => math.max(threads.getThreadCpuTime(t.getId), 0L)).sum

  /** Live heap after full collections, MB: the least heap in use over
    * three collections spaced 200 ms apart, which gives Spark's
    * ContextCleaner time to drop the blocks and broadcasts whose
    * references the previous collection cleared. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Wall-clock start of this JVM, epoch ms. */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A fixed pure-JVM loop (integer mixing over a small array, no
    * allocation and no I/O), timed in seconds. Run at the start and the
    * end of a run, it tells a change of host speed from a change of
    * code: the loop's code never changes. */
  def calibrate(): Double = {
    val a = new Array[Long](4096)
    var h = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 30000000) {
      h ^= h >>> 33
      h *= 0xff51afd7ed558ccdL
      val j = (h & 4095L).toInt
      a(j) += h
      h += a((j * 7 + 1) & 4095)
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (a.sum == 42L) println("") // keep the loop's result live
    s
  }
}
