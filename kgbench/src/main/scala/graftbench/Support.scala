package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A finite number, all digits kept; NaN and infinities become -1. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "-1" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object FileTree {
  private def walk(p: Path): Vector[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector finally s.close()
  }

  def bytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else walk(root).filter(Files.isRegularFile(_)).map(Files.size).sum

  def delete(root: Path): Unit =
    if (Files.exists(root)) walk(root).reverse.foreach(Files.delete)

  def copy(from: Path, to: Path): Unit =
    walk(from).foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }
}

/** Host-noise stamp: load average and a single-thread memcpy probe, the
  * method of `graft.Bench` (fresh-destination 80 MB copies, five of them,
  * so allocation and page faults are billed as a plain array copy bills
  * them). A low memcpy reading marks a window in which a co-tenant loads
  * the memory bus. */
object HostProbe {
  def memcpyMbs(): Double =
    try {
      val mb = 80
      val n = mb * 1000000 / 8
      val src = new Array[Long](n)
      java.util.Arrays.fill(src, 0x9e3779b97f4a7c15L)
      var sink = 0L
      sink ^= src.clone()(n - 1)
      val reps = 5
      val t = System.nanoTime()
      var i = 0
      while (i < reps) { sink ^= src.clone()(i); i += 1 }
      val dt = (System.nanoTime() - t) / 1e9
      if (sink == 42L) System.err.println("")
      reps * mb / dt
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** CPU seconds this JVM has used, all threads. */
  def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Seconds the JIT compilers have spent compiling, summed over their
    * threads. */
  def jitSec(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1e3

  /** (steal, total) jiffies of all CPUs from /proc/stat; (0, 0) where it
    * is unreadable. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Share of host CPU time stolen by the hypervisor between two readings. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else Double.NaN

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def stamp(): String = Json.obj(Seq(
    "loadavg" -> Json.num(loadAvg()), "memcpy_mbs" -> Json.num(memcpyMbs())))
}
