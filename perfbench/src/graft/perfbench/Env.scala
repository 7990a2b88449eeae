package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The machine's state during a run, so that an unsteady run can be
  * explained from its own output.
  */
object Env {

  private val probeData: Array[Long] = Array.tabulate(1 << 16)(i => i * 0x9E3779B97F4A7C15L)

  /** Fixed-work load probe: the same single-threaded hashing loop every
    * call, so its time depends only on how much CPU the client thread gets.
    */
  def sentinel(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var r = 0
    while (r < 8) {
      var i = 0
      while (i < probeData.length) {
        acc = (acc ^ probeData(i)) * 0x100000001B3L
        i += 1
      }
      r += 1
    }
    if (acc == 42L) System.err.print("") // keeps the loop from being elided
    (System.nanoTime() - t0) / 1e9
  }

  private def read(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
    catch { case _: Exception => None }

  /** cumulative CFS throttled seconds of this cgroup (v2, else v1); None
    * when neither file is readable */
  def throttledSeconds(): Option[Double] = {
    def field(txt: String, key: String): Option[Double] =
      txt.linesIterator.map(_.trim.split("\\s+")).collectFirst {
        case Array(k, v) if k == key => v.toDouble
      }
    read("/sys/fs/cgroup/cpu.stat").flatMap(field(_, "throttled_usec")).map(_ / 1e6)
      .orElse(read("/sys/fs/cgroup/cpu/cpu.stat").flatMap(field(_, "throttled_time"))
        .map(_ / 1e9))
  }

  /** MemTotal in bytes, from /proc/meminfo */
  def memTotalBytes(): Long =
    read("/proc/meminfo").flatMap(_.linesIterator.collectFirst {
      case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong * 1024L
    }).getOrElse(0L)
}
