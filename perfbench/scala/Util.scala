package perfbench

import java.io.File
import java.lang.management.ManagementFactory

/** Timing, statistics, file-size and JSON helpers shared by the workloads. */
object Util {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time in nanoseconds (all threads, user + system). */
  def cpuNs(): Long = osBean.getProcessCpuTime

  /** Wall and process-CPU cost of one call; for builds also the CPU time
    * of the Spark tasks it ran.
    */
  final case class Cost(wallMs: Double, cpuMs: Double, taskCpuMs: Double = 0.0)

  def timed[A](f: => A): (A, Cost) = {
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e6
    (a, Cost(wall, (cpuNs() - c0) / 1e6))
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The smallest value at which the weights, summed in value order,
    * reach half their total.
    */
  def weightedMedian(xs: Seq[(Double, Double)]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sortBy(_._1)
    val half = s.map(_._2).sum / 2
    s.iterator.scanLeft((0.0, Double.NaN)) { case ((acc, _), (v, w)) => (acc + w, v) }
      .drop(1).find(_._1 >= half).map(_._2).getOrElse(s.last._1)
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else org.apache.commons.io.FileUtils.sizeOfDirectory(f)
  }

  def deleteDir(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** Steal jiffies and total jiffies from the aggregate `cpu` line of
    * /proc/stat, or (0, 0) where it does not exist.
    */
  def stealAndTotal(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.exists()) return (0L, 0L)
    val src = scala.io.Source.fromFile(f)
    try {
      val cpu = src.getLines().find(_.startsWith("cpu ")).getOrElse("")
      val xs = cpu.split("\\s+").drop(1).map(_.toLong)
      if (xs.length < 8) (0L, 0L) else (xs(7), xs.sum)
    } finally src.close()
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
