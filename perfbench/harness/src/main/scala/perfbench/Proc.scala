package perfbench

import java.nio.file.{Files, Paths}

/** Process-level figures a harness main hands back to `run.py` as a flat
  * JSON object of numbers. */
object Proc {

  /** User plus system CPU seconds of this JVM so far. */
  def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The end-of-work figures every main reports. */
  def endFigures(readyMs: Long): Map[String, Double] = Map(
    "ready_ms" -> readyMs.toDouble,
    "end_ms" -> System.currentTimeMillis().toDouble,
    "cpu_s" -> cpuSeconds,
    "peak_rss_mb" -> peakRssMb)

  def writeJson(path: String, figures: Map[String, Double]): Unit =
    Files.writeString(Paths.get(path), figures.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\": " + v }
      .mkString("{", ", ", "}\n"))
}
