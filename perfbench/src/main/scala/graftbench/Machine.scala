package graftbench

import java.nio.file.{Files, Paths}

/** How quiet the machine was during a window: CPU the rest of the
  * machine used (busy jiffies minus this process's own CPU), CPU
  * throttling of this process's cgroup, and the processors the JVM
  * sees. Sources that do not exist read as zero. */
object Machine {
  final case class Sample(nanos: Long, busyJiffies: Long, ownCpuNs: Long,
      throttledUsec: Long)

  final case class Record(externalCores: Double, throttledS: Double,
      processors: Int) {
    /** More than half a core of outside work, or any throttling. */
    def contended: Boolean = externalCores > 0.5 || throttledS > 0.0
  }

  private def read(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path))))
    catch { case _: Exception => None }

  private def busyJiffies(): Long =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      // user nice system idle iowait irq softirq steal (guest time is
      // already inside user); steal counts as busy: another tenant ran
      val f = l.trim.split("\\s+").slice(1, 9).map(_.toLong)
      f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
    }.getOrElse(0L)

  private def throttledUsec(): Long =
    read("/sys/fs/cgroup/cpu.stat").flatMap(_.linesIterator
      .find(_.startsWith("throttled_usec")).map(_.split("\\s+")(1).toLong))
      .getOrElse(0L)

  private def ownCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
      case _ => 0L
    }

  def sample(): Sample = Sample(System.nanoTime(), busyJiffies(), ownCpuNs(), throttledUsec())

  def between(a: Sample, b: Sample): Record = {
    val wallS = math.max(1e-9, (b.nanos - a.nanos) / 1e9)
    val hz = 100.0 // USER_HZ
    val externalS = (b.busyJiffies - a.busyJiffies) / hz - (b.ownCpuNs - a.ownCpuNs) / 1e9
    Record(math.max(0.0, externalS / wallS), (b.throttledUsec - a.throttledUsec) / 1e6,
      Runtime.getRuntime.availableProcessors())
  }
}
