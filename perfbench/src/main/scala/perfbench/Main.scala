package perfbench

import org.apache.spark.sql.SparkSession

/**
 * The benchmark of record (see BENCHMARK.json). One process runs one
 * workload for a given seed, checks every output, and prints the metrics as
 * one JSON object on the last line of standard output:
 *
 *   perfbench.Main --workload bulk_crawl|curate --seed N
 *                  --seconds S --trace 0|1 --work-dir DIR --trace-out FILE
 *
 * `--trace 0` reports the end-to-end metrics with no tracing attached:
 * set-up time, and the time of one operation (a whole crawl, a whole
 * curation pass) and the throughput it gives, both net of the CPU time the
 * hypervisor withheld during the operation (see [[Timing]]); raw wall,
 * steal and CPU time are printed beside them.
 * `--trace 1` reports the per-layer metrics: it alternates plain and traced
 * operations (a SparkListener grouping jobs by description, a tracing
 * TableCatalog, timed steps) and replays the kernels single-threaded.
 * Layers a workload does not run read 0 and are named in a note line.
 */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "net_throughput_per_s" -> "1/s", "net_op_p50_s" -> "s")

  /** Per-layer metrics, reported by `--trace 1`. The end-to-end metric
    * each group should move, and the workload where that shows:
    *  - kernel replays (httpkit, htmlkit, urlkit, robotskit):
    *    net_throughput_per_s on bulk_crawl;
    *  - crawl_engine rounds, jobs, stages, input per round, small-round
    *    time: net_op_p50_s on bulk_crawl, through its small first rounds;
    *  - crawl_engine round time, task time, shuffle, dedup ratio, Bloom
    *    insert and the exact counters: net_throughput_per_s on bulk_crawl;
    *  - table_io commit, re-read, snapshot and latest-round reads: both
    *    bulk_crawl metrics, and the `/status` latency;
    *  - crawl_api jobs, response size, Spark share and `/status` latency:
    *    per-request latency of the HTTP API (bulk_crawl's traced runs);
    *  - curate steps and their task time: curate only;
    *  - spark GC and spill, peak RSS, steal share, tracing overhead:
    *    every workload. */
  val PerLayer: Seq[String] = Seq(
    "sources.gen_s",
    "httpkit.classify_mb_per_s", "htmlkit.extract_mb_per_s", "htmlkit.links_per_page",
    "urlkit.strip_fragment_per_s", "robotskit.allowed_checks_per_s",
    "crawl_engine.rounds", "crawl_engine.jobs_per_round", "crawl_engine.stages_per_round",
    "crawl_engine.input_mb_per_round", "crawl_engine.small_round_s", "crawl_engine.round_s",
    "crawl_engine.task_s_per_round", "crawl_engine.shuffle_mb_per_round",
    "crawl_engine.round_span_coverage", "crawl_engine.dedup_new_ratio",
    "crawl_engine.bloom_insert_s", "crawl_engine.fetched", "crawl_engine.deduped",
    "crawl_engine.robots_denied",
    "table_io.commit_s", "table_io.commit_output_mb", "table_io.files_per_commit",
    "table_io.read_tables_s", "table_io.read_snapshot_ms", "table_io.latest_round_ms",
    "crawl_api.jobs_per_request", "crawl_api.response_kb", "crawl_api.spark_share",
    "crawl_api.status_p50_ms", "crawl_api.status_late_max_ms") ++
    Curate.Steps.flatMap(s => Seq(s"curate.${s}_s", s"curate.${s}_task_s")) ++
    Seq("spark.gc_s", "spark.spill_mb", "process.peak_rss_mb", "process.steal_share",
      "tracing_overhead_ratio")

  val Workloads: Map[String, Workload] =
    Map("bulk_crawl" -> BulkCrawl, "curate" -> Curate)

  def session(workDir: java.nio.file.Path): SparkSession = {
    // pinned here, never read from the environment
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    s
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1 " +
      "--work-dir DIR --trace-out FILE")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val jiffies0 = Stats.machineJiffies()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opts.size * 2 != args.length) usage("arguments come in --key value pairs")
    def req(k: String) = opts.getOrElse(k, usage(s"--$k is required"))
    val workload = Workloads.getOrElse(req("workload"), usage(s"unknown workload ${req("workload")}"))
    val seed = req("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = req("seconds").toIntOption.filter(_ >= 1).getOrElse(usage("--seconds must be >= 1"))
    val traced = req("trace") match {
      case "0" => false; case "1" => true; case t => usage(s"--trace must be 0 or 1, got $t")
    }
    val workDir = java.nio.file.Paths.get(req("work-dir")).toAbsolutePath
    val traceOut = java.nio.file.Paths.get(req("trace-out")).toAbsolutePath
    // the program reads SPARK_GRAFT_* variables ad hoc (one inside a
    // CrawlConfig default); a run under any of them measures another program
    val knobs = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    if (knobs.nonEmpty) usage(s"refusing to run with ${knobs.mkString(", ")} set")

    val spark = session(workDir)
    val run = new Run(spark, seed, seconds, traced, workDir)
    try {
      val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      val t0 = System.nanoTime()
      workload.setup(run)
      val setupS = sessionS + (System.nanoTime() - t0) / 1e9
      // net of steal, like the operations' times (see Timing)
      val steal = Timing.stealShare(jiffies0, Stats.machineJiffies())
      run.endToEnd("setup_s") = Metric(setupS * (1 - steal), "s")
      run.note(f"setup: wall $setupS%.2f s (JVM and Spark session $sessionS%.2f s, " +
        f"inputs and warm-up ${setupS - sessionS}%.2f s), steal share $steal%.3f")
      workload.measure(run)
    } catch {
      case e: Throwable => run.fail(s"${req("workload")} aborted: $e")
    }
    // VmHWM varies by a fifth between runs of one seed, so it is a
    // per-layer figure, not a bounded end-to-end one
    run.layer("process.peak_rss_mb", Stats.peakRssMb())
    if (traced) writeTrace(run, traceOut)
    spark.stop()

    val missing = PerLayer.filterNot(run.perLayer.contains)
    if (traced && missing.nonEmpty) run.note(s"layers not run by this workload (reported as 0): ${missing.mkString(" ")}")
    run.note(s"ops_failed_ratio: ${run.failed} / ${run.attempted}")
    run.failureMessages.take(20).foreach(m => run.note(s"FAILED $m"))
    run.notes.foreach(n => println(s"# $n"))
    if (!traced) EndToEnd.foreach { case (k, u) =>
      run.endToEnd.get(k).foreach(m => println(s"# $k = ${m.value} ${m.unit}"))
    }
    val metrics =
      if (traced) PerLayer.map(k => k -> run.perLayer.getOrElse(k, Metric(0.0, Units.of(k))))
      else EndToEnd.flatMap { case (k, _) => run.endToEnd.get(k).map(k -> _) }
    val correct = run.failed == 0 && run.attempted > 0 &&
      (traced || EndToEnd.forall(e => run.endToEnd.contains(e._1)))
    val body = metrics.map { case (k, m) =>
      s"${Json.str(k)}: {${Json.str("value")}: ${Json.num(m.value)}, ${Json.str("unit")}: ${Json.str(m.unit)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, run.attempted)}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Spans and Spark jobs of a traced run, one JSON object per line. */
  private def writeTrace(run: Run, out: java.nio.file.Path): Unit = {
    run.jobs.records.foreach { j =>
      run.tracer.add(s"spark.job ${j.description}", 0, j.startMs, j.endMs, Map(
        "job_id" -> j.jobId.toDouble, "stages" -> j.stages.toDouble, "task_ms" -> j.taskMs,
        "input_bytes" -> j.inputBytes, "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "output_bytes" -> j.outputBytes,
        "gc_ms" -> j.gcMs, "spill_bytes" -> j.spillBytes))
    }
    run.tracer.writeJsonLines(out)
  }
}
