package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/**
 * State of one benchmark run: the session, the operation ledger (every
 * crawl, request, poll and curation step counts as attempted; a throw or a
 * failed output check counts it as failed), the metrics, and the notes
 * printed ahead of the result line.
 */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val traced: Boolean, val workDir: java.nio.file.Path) {
  val tracer = new Tracer
  val jobs = new JobCollector
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val perLayer = mutable.LinkedHashMap.empty[String, Metric]
  val notes = mutable.ArrayBuffer.empty[String]
  private var attemptedOps = 0L
  private var failedOps = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedOps)
  def failed: Long = synchronized(failedOps)
  def failureMessages: Seq[String] = synchronized(failures.toVector)

  /** Runs one operation; `check` returns the problems found in its output. */
  def op[A](what: String)(f: => A)(check: A => Seq[String]): Option[A] = {
    val r = try Right(f) catch { case e: Throwable => Left(s"$what threw $e") }
    val problems = r.fold(Seq(_), a => try check(a) catch {
      case e: Throwable => Seq(s"$what: check threw $e")
    })
    synchronized {
      attemptedOps += 1
      if (problems.nonEmpty) { failedOps += 1; failures ++= problems.map(p => s"$what: $p") }
    }
    r.toOption
  }

  /** Records a failure that is not tied to one timed operation. */
  def fail(msg: String): Unit = synchronized {
    attemptedOps += 1; failedOps += 1; failures += msg
  }

  def note(line: String): Unit = notes += line

  /** Sets the Spark job description of this thread's jobs. */
  def describe(desc: String): Unit = spark.sparkContext.setJobDescription(desc)

  def dir(name: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(workDir.resolve(name))

  /** Repeats `sample` (at least `minSamples` times) while the next one,
    * taking as long as the last, still ends within `seconds`. */
  def timedLoop(minSamples: Int = 1)(sample: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var last = 0L
    var i = 0
    while (i < minSamples || System.nanoTime() - t0 + last <= seconds * 1000000000L) {
      val s0 = System.nanoTime()
      sample(i)
      last = System.nanoTime() - s0
      i += 1
    }
    i
  }

  def layer(name: String, value: Double): Unit =
    perLayer(name) = Metric(value, Units.of(name))

  /** Times `f` as a per-layer metric in seconds (set-up work included). */
  def timeLayer[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally layer(name, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-layer metrics as the median over several traced samples. */
  def layersFrom(samples: Seq[Map[String, Double]]): Unit =
    samples.flatMap(_.keys).distinct.foreach { k =>
      layer(k, Stats.median(samples.flatMap(_.get(k))))
    }

  /** Runs `f` with the job collector attached, and waits for its events. */
  def withJobs[A](f: => A): A = {
    spark.sparkContext.addSparkListener(jobs)
    try f
    finally { jobs.drain(); spark.sparkContext.removeSparkListener(jobs) }
  }
}

/** One workload: untimed set-up (counted in `setup_s`), then the timed phase. */
trait Workload {
  def setup(run: Run): Unit
  def measure(run: Run): Unit
}

/** Units of the per-layer metrics, by name suffix. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_mb_per_s")) "MB/s"
    else if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s") || name.endsWith("_s_per_round")) "s"
    else if (name.endsWith("_mb") || name.endsWith("_mb_per_round")) "MB"
    else if (name.endsWith("_kb")) "kB"
    else if (name.endsWith("_ratio") || name.endsWith("_share") || name.endsWith("_coverage")) "ratio"
    else "count"
}

object Run {
  /** Note line with the raw, net and CPU times of a workload's operations. */
  def describeTimings(what: String, ts: Seq[Timing]): String = {
    def col(f: Timing => Double, fmt: String) = ts.map(t => fmt.format(f(t))).mkString(" ")
    s"$what: n=${ts.size}; wall s ${col(_.wallMs / 1e3, "%.2f")}; steal share ${col(_.stealShare, "%.3f")}; " +
      s"net s ${col(_.netMs / 1e3, "%.2f")}; process cpu s ${col(_.cpuS, "%.1f")}"
  }
}
