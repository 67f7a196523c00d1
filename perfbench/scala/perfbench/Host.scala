package perfbench

import java.lang.management.ManagementFactory

/** Host and process probes read around each sample: steal and ambient
  * CPU from /proc/stat, this process's CPU time and peak RSS. */
object Host {

  /** Aggregate "cpu" line of /proc/stat: user nice system idle iowait
    * irq softirq steal guest guest_nice, in jiffies. */
  final case class CpuStat(fields: Vector[Long]) {
    def total: Long = fields.sum
    def steal: Long = if (fields.length > 7) fields(7) else 0L
    /** Busy jiffies: all but idle/iowait, and without guest time, which
      * the kernel already folds into user/nice. */
    def busy: Long = fields.zipWithIndex.collect {
      case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v
    }.sum
  }

  def cpuStat(): CpuStat =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try CpuStat(src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong).toVector)
      finally src.close()
    } catch { case _: Exception => CpuStat(Vector.empty) }

  /** CPU nanoseconds of this JVM, all threads (driver, executors, GC). */
  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  /** Noise of one sample window. */
  final case class Noise(stealPct: Double, ambientPct: Double)

  /** Opens a window; `close()` returns the steal share of all jiffies
    * and the share of machine capacity that other processes burned
    * (system busy minus this process's own CPU, at USER_HZ = 100). */
  final class Window {
    private val s0 = cpuStat()
    private val p0 = processCpuNs()
    def close(): Noise = {
      val s1 = cpuStat(); val p1 = processCpuNs()
      val dt = s1.total - s0.total
      if (dt <= 0) Noise(0.0, 0.0)
      else {
        val ours = (p1 - p0) / 1e9 * 100.0
        Noise(100.0 * (s1.steal - s0.steal) / dt,
          math.max(0.0, 100.0 * ((s1.busy - s0.busy) - ours) / dt))
      }
    }
  }
}
