package perfbench

import graft.operators.{CrawlConfig, CrawlEngine}
import graft.sources.{PagesGen, TableIO}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Tracing must not change what a crawl does: the traced catalog and the
  * job collector observe the same crawl the plain catalog runs. */
class TracingCatalogSpec extends AnyFunSuite {

  test("traced and untraced crawls give identical counters and result digest") {
    val tmp = java.nio.file.Files.createTempDirectory("perfbench-spec-")
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val dir = tmp.resolve("pages").toString
      PagesGen.scale(spark, 3000, 4, 4).write.parquet(dir)
      val pages = spark.read.parquet(dir)
      val seeds = PagesGen.ScaleSpec(3000, 4).seeds
      val cfg = CrawlConfig(bloomMinSeen = 100) // exercise the Bloom path too

      val plain = CrawlSummary(
        new CrawlEngine(spark, pages, cfg, tmp.resolve("plain").toString, TableIO).crawlAll(seeds))

      val tracer = new Tracer
      val jobs = new JobCollector
      spark.sparkContext.addSparkListener(jobs)
      // the engine leaves its last round's description on the thread
      spark.sparkContext.setJobDescription(null)
      val tracedRun =
        new CrawlEngine(spark, pages, cfg, tmp.resolve("traced").toString, new TracingCatalog(tracer))
          .crawlAll(seeds)
      val traced = CrawlSummary(tracedRun)
      jobs.drain()
      spark.sparkContext.removeSparkListener(jobs)

      assert(plain.problems.isEmpty)
      assert(traced == plain)
      // the Spark-free oracle the api_crawl checks rely on agrees with the engine
      val spec = PagesGen.ScaleSpec(3000, 4)
      assert((0 until 4).map(h => CrawlOracle.expectedUrls(spec, h, cfg.userAgent).size.toLong).sum ==
        plain.distinctResults)
      // every committed round (0..last) went through the traced commit
      assert(tracer.named("table_io.commit").map(_.attrs("round").toInt).sorted ==
        (0 to tracedRun.lastRound))
      assert(tracer.named("table_io.read_tables").nonEmpty)
      val rounds = CrawlLayers.rounds(jobs.records, Double.MinValue, Double.MaxValue)
      assert(rounds.map(_.round) == (0 to tracedRun.rounds.size))
    } finally {
      spark.stop()
      Stats.deleteRecursively(tmp)
    }
  }
}
