package kgbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and host readings from procfs: CPU time, peak RSS, the host
  * fingerprint and co-tenant samples every result carries. */
object Host {

  private def read(path: String): String =
    Try(new String(Files.readAllBytes(Paths.get(path)))).getOrElse("")

  /** utime + stime of this JVM, in seconds (all threads). */
  def cpuSeconds(): Double = {
    val stat = read("/proc/self/stat")
    // fields after the parenthesised command name; utime/stime are 14/15
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    val ticks = rest(11).toLong + rest(12).toLong
    ticks / 100.0
  }

  private def statusKb(key: String): Long =
    read("/proc/self/status").linesIterator.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  def loadavg1(): Double =
    Try(read("/proc/loadavg").split(' ')(0).toDouble).getOrElse(-1.0)

  /** Other JVMs on the host (by /proc cmdline), excluding this one. */
  def coTenantJvms(): Int = {
    val self = ProcessHandle.current().pid().toString
    Try(Files.list(Paths.get("/proc")).iterator().asScala.count { p =>
      val name = p.getFileName.toString
      name.forall(_.isDigit) && name != self && {
        val cmd = read(s"/proc/$name/cmdline")
        cmd.startsWith("java") || cmd.contains("/java\u0000")
      }
    }).getOrElse(-1)
  }

  def memTotalMb(): Long =
    read("/proc/meminfo").linesIterator.find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong / 1024).getOrElse(0L)

  def fingerprint(cores: Int, sparkVersion: String): Map[String, Any] = Map(
    "nproc" -> cores,
    "available_processors" -> Runtime.getRuntime.availableProcessors(),
    "mem_total_mb" -> memTotalMb(),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> sparkVersion,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024))
}
