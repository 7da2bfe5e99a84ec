package perfbench

import graft.operators.{CrawlConfig, CrawlEngine, CrawlRun}
import graft.sources.{PagesGen, TableCatalog, TableIO}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * `bulk_crawl`: one `CrawlEngine.crawlAll` over the 8 seeds of the scale
 * graph, repeated for the measured seconds. Frontiers grow from 8 urls to
 * tens of thousands, so the kernel, the fetch join, Bloom and anti-join
 * dedup and the round commits all carry real work, while the small first
 * rounds show the crawl's fixed per-round cost. The workload seed orders
 * the seed list (and picks the sites the traced run's [[ApiProbe]]
 * requests); the graph, and so every counter, is the same for every seed.
 */
object BulkCrawl extends Workload {
  val Pages = 10000L
  val Hosts = 8
  /** The untimed warm-up crawls the first round of a small graph of the
    * same shape: the same plans and kernels get compiled at a fraction of
    * the cost. */
  val WarmupPages = 800L
  /** Pinned: the default of this field reads an environment variable. */
  val Cfg = CrawlConfig(broadcastFrontierMaxRows = 200L * 1000)

  /** Counters of a complete crawl of the graph (independent of the seed):
    * every page fetched once, every `/excluded/` link denied once. */
  val Expected: Map[String, Long] =
    Map("fetched" -> 10000L, "deduped" -> 711L, "robots_denied" -> 403L, "rounds" -> 4L)

  private var pages: DataFrame = _
  private var seeds: Seq[String] = Nil
  private var reference: Option[CrawlSummary] = None

  def setup(run: Run): Unit = {
    def generate(name: String, n: Long): DataFrame = {
      val dir = run.dir(name).toString
      PagesGen.scale(run.spark, n, Hosts, 8).write.mode("overwrite").parquet(dir)
      run.spark.read.parquet(dir)
    }
    val warm = generate("bulk-warmup-pages", WarmupPages)
    crawlOnce(run, "warm-up", warm, PagesGen.ScaleSpec(WarmupPages, Hosts).seeds, TableIO,
        Cfg.copy(maxRounds = 1)).foreach { c =>
      run.note(f"bulk_crawl warm-up crawl: ${c.t.wallMs / 1e3}%.2f s")
      Stats.deleteRecursively(java.nio.file.Paths.get(c.dir))
    }
    pages = run.timeLayer("sources.gen_s")(generate("bulk-pages", Pages))
    seeds = new scala.util.Random(run.seed).shuffle(PagesGen.ScaleSpec(Pages, Hosts).seeds)
    run.note(s"bulk_crawl: pages=$Pages hosts=$Hosts seeds=${seeds.size} warm-up pages=$WarmupPages " +
      s"config=$Cfg")
  }

  def measure(run: Run): Unit = {
    val plain = Seq.newBuilder[Timing]
    val traced = Seq.newBuilder[Timing]
    val layers = Seq.newBuilder[Map[String, Double]]
    run.timedLoop(minSamples = if (run.traced) 2 else 1) { i =>
      // traced runs alternate plain and traced crawls: the difference
      // between the two is the tracing overhead
      val isTraced = run.traced && i % 2 == 1
      val out =
        if (isTraced) run.withJobs(crawl(run, s"crawl $i", new TracingCatalog(run.tracer)))
        else crawl(run, s"crawl $i", TableIO)
      out.foreach { c =>
        if (isTraced) { traced += c.t; layers += perLayer(run, c) } else plain += c.t
        Stats.deleteRecursively(java.nio.file.Paths.get(c.dir))
      }
    }
    val ts = plain.result()
    reference.foreach(r => run.note(s"bulk_crawl counters: ${r.counters} discovered=${r.discovered} " +
      s"digest=${r.digest}"))
    run.note(Run.describeTimings("bulk_crawl crawl", ts))
    if (ts.isEmpty) return
    val netS = Stats.median(ts.map(_.netMs / 1e3))
    if (!run.traced) {
      run.endToEnd("net_op_p50_s") = Metric(netS, "s")
      reference.foreach(r => run.endToEnd("net_throughput_per_s") = Metric(r.processed / netS, "1/s"))
    } else {
      run.layersFrom(layers.result())
      run.layer("tracing_overhead_ratio", Stats.median(traced.result().map(_.netMs / 1e3)) / netS - 1)
      run.layer("process.steal_share", Stats.median(ts.map(_.stealShare)))
      val sample = pages.filter(pmod(xxhash64(col("url"), lit(run.seed)), lit(8)) === 0)
        .select("url", "html").limit(3000).collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
      val spec = PagesGen.ScaleSpec(Pages, Hosts)
      Kernels.replay(sample.toSeq, Kernels.robotsRules(spec, 0, Cfg.userAgent))
        .foreach { case (k, v) => run.layer(k, v) }
      new ApiProbe(run, pages, spec, Cfg).measure()
    }
  }

  final case class CrawlOut(dir: String, t: Timing, summary: CrawlSummary)

  private def crawl(run: Run, what: String, catalog: TableCatalog): Option[CrawlOut] =
    crawlOnce(run, what, pages, seeds, catalog, Cfg, c => {
      val s = c.summary
      val ref = reference.getOrElse { reference = Some(s); s }
      (if (s != ref) Seq(s"differs from the first crawl of this run: $s vs $ref") else Nil) ++
        Expected.collect { case (k, v) if s.counters(k) != v =>
          s"counter $k = ${s.counters(k)}, recorded $v" }
    })

  private def crawlOnce(run: Run, what: String, in: DataFrame, seedUrls: Seq[String], catalog: TableCatalog,
                        cfg: CrawlConfig, check: CrawlOut => Seq[String] = _ => Nil): Option[CrawlOut] = {
    val dir = run.dir(s"bulk-ckpt-${what.replace(' ', '-')}").toString
    run.describe(null)
    run.op(s"bulk_crawl $what") {
      val (r, t) = Timing(new CrawlEngine(run.spark, in, cfg, dir, catalog).crawlAll(seedUrls))
      run.describe("perfbench check")
      CrawlOut(dir, t, CrawlSummary(r))
    }(c => c.summary.problems ++ check(c))
  }

  private def perLayer(run: Run, c: CrawlOut): Map[String, Double] = {
    val from = c.t.startMs
    val to = c.t.endMs
    val jobs = CrawlLayers.within(run.jobs.records, from, to)
    val rounds = CrawlLayers.rounds(jobs, from, to)
    val spans = run.tracer.all.filter(s => s.startMs >= from && s.endMs <= to)
    def sumS(name: String) = spans.filter(_.name == name).map(_.durMs).sum / 1e3
    val commits = spans.filter(_.name == "table_io.commit")
    val files = spans.filter(_.name == "table_io.commit_files")
    // jobs a round runs after its commit returns: the Bloom filter insert
    // of the round's new urls (the re-reads that follow the commit only
    // build DataFrames and run no job)
    val bloomMs = rounds.map { r =>
      commits.find(_.attrs.get("round").contains(r.round.toDouble)).map { cs =>
        r.jobs.filter(_.startMs >= cs.endMs).map(j => j.endMs - j.startMs).sum
      }.getOrElse(0.0)
    }.sum
    val replays = (1 to 20).map { _ =>
      val t0 = System.nanoTime(); TableIO.latestRound(c.dir); (System.nanoTime() - t0) / 1e6
    }
    // a round spans its jobs and the storage calls it makes: its commit,
    // and the re-reads that follow until the next round starts
    val io = spans.filter(s => s.name.startsWith("table_io.") && s.name != "table_io.commit_files")
    val roundSpans = rounds.zipWithIndex.map { case (r, i) =>
      val start = (r.startMs +: commits.filter(_.attrs.get("round").contains(r.round.toDouble)).map(_.startMs)).min
      val next = if (i + 1 < rounds.size) rounds(i + 1).startMs else to
      (start, (r.endMs +: io.filter(x => x.startMs >= start && x.startMs < next).map(_.endMs)).max)
    }
    run.tracer.add("crawl_engine.crawl_all", 0, from, to)
    rounds.zip(roundSpans).foreach { case (r, (a, b)) =>
      run.tracer.add("crawl_engine.round", 0, a, b, Map("round" -> r.round.toDouble, "frontier" -> r.frontier.toDouble))
    }
    val s = c.summary
    CrawlLayers.roundMetrics(rounds) ++ CrawlLayers.sparkMetrics(jobs) ++ Map(
      "crawl_engine.round_span_coverage" -> Stats.unionMs(roundSpans) / c.t.wallMs,
      "crawl_engine.dedup_new_ratio" ->
        (if (s.discovered == 0) 0.0 else (s.discovered - s.counters("deduped")).toDouble / s.discovered),
      "crawl_engine.bloom_insert_s" -> bloomMs / 1e3,
      "crawl_engine.fetched" -> s.counters("fetched").toDouble,
      "crawl_engine.deduped" -> s.counters("deduped").toDouble,
      "crawl_engine.robots_denied" -> s.counters("robots_denied").toDouble,
      "table_io.commit_s" -> sumS("table_io.commit"),
      "table_io.commit_output_mb" -> files.map(_.attrs("bytes")).sum / 1e6,
      "table_io.files_per_commit" ->
        (if (files.isEmpty) 0.0 else files.map(_.attrs("files")).sum / files.size),
      "table_io.read_tables_s" -> sumS("table_io.read_tables"),
      "table_io.read_snapshot_ms" -> Stats.median(spans.filter(_.name == "table_io.read_snapshot").map(_.durMs)),
      "table_io.latest_round_ms" -> Stats.median(replays))
  }
}

/** Order-free summary of a finished crawl, and its exactly-once checks. */
final case class CrawlSummary(counters: Map[String, Long], discovered: Long,
                              distinctResults: Long, duplicateResults: Long, digest: Long) {
  def processed: Long = counters("fetched") + counters("robots_denied") + counters("deduped")

  def problems: Seq[String] =
    (if (duplicateResults != 0) Seq(s"$duplicateResults (seed, url) pairs recorded twice") else Nil) ++
      (if (counters("fetched") + counters("robots_denied") != distinctResults)
        Seq(s"fetched + robots_denied = ${counters("fetched") + counters("robots_denied")}" +
          s" but the result holds $distinctResults distinct urls")
      else Nil)
}

object CrawlSummary {
  def apply(r: CrawlRun): CrawlSummary = {
    val counters = Map(
      "fetched" -> r.rounds.map(_.fetched).sum,
      "deduped" -> r.rounds.map(_.deduped).sum,
      "robots_denied" -> r.rounds.map(_.robotsDenied).sum,
      "rounds" -> r.rounds.size.toLong)
    val perKey = r.results.groupBy("seed", "url")
      .agg(count(lit(1)).as("n"), bit_xor(xxhash64(col("seed"), col("url"), col("result_type"))).as("h"))
    val row = perKey.agg(count(lit(1)), coalesce(sum(when(col("n") > 1, 1).otherwise(0)), lit(0L)),
      coalesce(bit_xor(col("h")), lit(0L))).head()
    CrawlSummary(counters, r.rounds.map(_.discovered).sum, row.getLong(0), row.getLong(1), row.getLong(2))
  }
}
