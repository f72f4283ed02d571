package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

/** Host readings every run records: its core count, hypervisor steal
  * over its window, the highest 1-min load average seen, and the
  * process's CPU time and peak RSS. Steal and load come from procfs and
  * read as zero where it is absent. */
object Host {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  private def read(path: String): String =
    Try(new String(Files.readAllBytes(Paths.get(path)))).getOrElse("")

  /** Cumulative steal seconds of all CPUs (the `cpu` line of /proc/stat,
    * 8th field, in USER_HZ = 100 ticks per second). */
  def stealSeconds(): Double =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .flatMap(l => Try(l.trim.split("\\s+")(8).toLong / 100.0).toOption)
      .getOrElse(0.0)

  def load1(): Double =
    Try(read("/proc/loadavg").trim.split("\\s+")(0).toDouble)
      .getOrElse(0.0)

  /** Peak resident set size of this process, MB (VmHWM). */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .flatMap(l => Try(l.split("\\s+")(1).toLong / 1024.0).toOption)
      .getOrElse(0.0)

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** User + system CPU seconds of this process so far. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Steal and load over a window: open it, sample at op boundaries,
    * close it. */
  final class Window {
    private val steal0 = stealSeconds()
    private var maxLoad = load1()
    def sample(): Unit = maxLoad = math.max(maxLoad, load1())
    def stealS: Double = stealSeconds() - steal0
    def load1Max: Double = { sample(); maxLoad }
  }
}
