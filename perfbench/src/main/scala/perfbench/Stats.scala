package perfbench

/** Small numeric and file helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile (the sample value, never an interpolation). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** The highest of p50/p90/p99 that has at least ten samples beyond it,
    * as (label, value); p50 when the sample is smaller than that. */
  def highestSupported(xs: Seq[Double]): (String, Double) =
    Seq(99.0 -> "p99", 90.0 -> "p90")
      .collectFirst { case (p, l) if xs.size * (100 - p) / 100 >= 10 => l -> percentile(xs, p) }
      .getOrElse("p50" -> percentile(xs, 50))

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** (number, total bytes) of parquet files under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L)
    val st = java.nio.file.Files.walk(p)
    try {
      var n, b = 0L
      st.iterator().forEachRemaining { f =>
        if (f.toString.endsWith(".parquet")) { n += 1; b += java.nio.file.Files.size(f) }
      }
      (n, b)
    } finally st.close()
  }

  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally st.close()
    }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time this process has used, in seconds (all threads). */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** (busy, steal) CPU time counters of the whole machine, from /proc/stat. */
  def machineJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val c = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (c(0) + c(1) + c(2) + c(5) + c(6), c(7))
    } finally f.close()
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Order-free digest of a set of strings. */
  def digest(xs: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.toVector.sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

/**
 * Wall time of one operation and the share of it the hypervisor withheld.
 * `stealShare` is steal / (busy + steal) over the machine's CPU time counters
 * (/proc/stat) for the interval; `netMs` = wall × (1 − stealShare) estimates
 * the wall time on an unshared machine. On a shared VM, steal swings between
 * 5% and 40% from minute to minute and moves raw wall time with it.
 */
final case class Timing(startMs: Double, wallMs: Double, stealShare: Double, cpuS: Double) {
  def endMs: Double = startMs + wallMs
  def netMs: Double = wallMs * (1 - stealShare)
}

object Timing {
  def apply[A](f: => A): (A, Timing) = {
    val j0 = Stats.machineJiffies()
    val cpu0 = Stats.processCpuS()
    val t0 = Clock.nowMs
    val a = f
    val t1 = Clock.nowMs
    val cpu1 = Stats.processCpuS()
    (a, Timing(t0, t1 - t0, stealShare(j0, Stats.machineJiffies()), cpu1 - cpu0))
  }

  /** steal / (busy + steal) between two (busy, steal) readings. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val steal = to._2 - from._2
    steal.toDouble / math.max(1L, to._1 - from._1 + steal)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
