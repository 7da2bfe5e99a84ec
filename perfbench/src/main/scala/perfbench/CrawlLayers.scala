package perfbench

/**
 * Per-round crawl metrics derived from the Spark jobs the engine ran. The
 * engine describes every job of a round as `crawl round=N seeds=S
 * frontier=F …`, so jobs group into rounds without touching the engine.
 */
object CrawlLayers {
  private val RoundDesc = """crawl round=(\d+) seeds=\d+ frontier=(\d+)""".r.unanchored

  final case class RoundStat(round: Int, frontier: Long, startMs: Double, endMs: Double,
                             jobs: Seq[JobRecord]) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  /** Rounds of the jobs that started inside [fromMs, toMs]. Untagged jobs
    * ahead of the first round (robots lookup, the round-0 commit of the
    * seeds) form round 0. */
  def rounds(jobs: Seq[JobRecord], fromMs: Double, toMs: Double): Vector[RoundStat] = {
    val in = jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).sortBy(_.startMs)
    val tagged = in.flatMap(j => j.description match {
      case RoundDesc(r, f) => Some((r.toInt, f.toLong, j))
      case _ => None
    })
    val firstTagged = tagged.map(_._3.startMs).minOption.getOrElse(Double.MaxValue)
    val prelude = in.filter(j => j.startMs < firstTagged && RoundDesc.findFirstIn(j.description).isEmpty)
      .map(j => (0, 0L, j))
    (prelude ++ tagged).groupBy(_._1).toVector.sortBy(_._1)
      .map { case (r, js) =>
        val recs = js.map(_._3)
        RoundStat(r, js.head._2, recs.map(_.startMs).min, recs.map(_.endMs).max, recs)
      }
  }

  /** Spark-side metrics per crawl-loop round (round 0, the seeds' set-up,
    * is left out). */
  def roundMetrics(all: Seq[RoundStat]): Map[String, Double] = {
    val rs = all.filter(_.round > 0)
    val n = math.max(1, rs.size).toDouble
    val jobs = rs.flatMap(_.jobs)
    val small = rs.filter(_.frontier <= 2048)
    Map(
      "crawl_engine.rounds" -> rs.size.toDouble,
      "crawl_engine.jobs_per_round" -> jobs.size / n,
      "crawl_engine.stages_per_round" -> jobs.map(_.stages).sum / n,
      "crawl_engine.input_mb_per_round" -> jobs.map(_.inputBytes).sum / 1e6 / n,
      "crawl_engine.round_s" -> rs.map(_.wallS).sum / n,
      "crawl_engine.small_round_s" ->
        (if (small.isEmpty) 0.0 else small.map(_.wallS).sum / small.size),
      "crawl_engine.task_s_per_round" -> jobs.map(_.taskMs).sum / 1e3 / n,
      "crawl_engine.shuffle_mb_per_round" ->
        jobs.map(j => j.shuffleReadBytes + j.shuffleWriteBytes).sum / 1e6 / n)
  }

  /** GC and spill of every job in a window. */
  def sparkMetrics(jobs: Seq[JobRecord]): Map[String, Double] = Map(
    "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
    "spark.spill_mb" -> jobs.map(_.spillBytes).sum / 1e6)

  def within(jobs: Seq[JobRecord], fromMs: Double, toMs: Double): Vector[JobRecord] =
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toVector
}
