package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Host-load markers and process memory, read from /proc. Every read
  * is best-effort: a missing file yields -1, never a failed run. The
  * PSI and steal totals are cumulative, so the before/after delta is
  * the contention during the run (graft.Bench's markers, plus steal).
  */
object Host {
  private def readAll(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
    catch { case _: Exception => "" }

  private def psiSomeTotalUs(res: String): Long =
    readAll(s"/proc/pressure/$res").linesIterator
      .find(_.startsWith("some"))
      .flatMap(_.split("total=").lift(1))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(-1L)

  private def statusKb(key: String): Long =
    readAll("/proc/self/status").linesIterator
      .find(_.startsWith(key + ":"))
      .flatMap(_.split("\\s+").lift(1))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(-1L)

  /** CPU time the hypervisor gave to other guests, summed over CPUs, in
    * clock ticks (the `steal` column of /proc/stat). Load average and
    * PSI inside a virtual machine do not see this contention.
    */
  private def stealTicks: Long =
    readAll("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .flatMap(_.trim.split("\\s+").lift(8))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(-1L)

  def state: Map[String, Any] = Map(
    "steal_ticks" -> stealTicks,
    "load" -> readAll("/proc/loadavg").split("\\s+").take(3).filter(_.nonEmpty)
      .flatMap(s => scala.util.Try(s.toDouble).toOption).toSeq,
    "psi_some_us" -> Map("cpu" -> psiSomeTotalUs("cpu"), "io" -> psiSomeTotalUs("io"),
      "memory" -> psiSomeTotalUs("memory")),
    "mem_avail_mb" -> readAll("/proc/meminfo").linesIterator
      .find(_.startsWith("MemAvailable"))
      .flatMap(_.split("\\s+").lift(1))
      .flatMap(s => scala.util.Try(s.toLong / 1024).toOption)
      .getOrElse(-1L))

  /** Peak resident set of this process (VmHWM), in KiB. */
  def peakRssKb: Long = statusKb("VmHWM")
}

/** File accounting done from outside the library. */
object Disk {
  /** Parquet files under `root` (data and sidecar) with their sizes. */
  def parquetSizes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val st = Files.walk(p)
    try st.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => f.toString -> Files.size(f)).toMap
    finally st.close()
  }

  def totalBytes(root: String): Long = parquetSizes(root).values.sum

  def deleteRecursively(root: String): Unit = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.deleteIfExists(f))
    finally st.close()
  }
}
