package graft

import graft.operators.{CrawlConfig, CrawlEngine}
import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point for the crawl engine (the north rule's
 * "runs via spark-submit ... resumable from checkpoint" contract):
 *
 *   spark-submit --class graft.CrawlMain <jar> \
 *     --pages <parquet dir> --seeds <url,url,...> --checkpoint <dir> \
 *     [--resume] [--budget N] [--round-seconds S] [--max-rounds N] \
 *     [--bloom-expected N] [--cpus N]
 *
 *  - `--budget`: per-host fetches per round (default: unlimited);
 *  - `--round-seconds`: wall seconds a round stands for when robots
 *    Crawl-delay shrinks the budget (default 30);
 *  - `--bloom-expected`: sizing of the seen-set Bloom pre-filter (default
 *    4M urls). Dedup stays exact whatever the size: the filter only routes
 *    definitely-new urls around the anti-join against the seen set;
 *  - `--cpus`: local cores when no master is given (default: all).
 * Any other flag is rejected.
 *
 * On a cluster nothing changes but the master/executor configs: the engine
 * is partition-parallel throughout (fetch join, tokenization, dedup
 * anti-join, host-shard-partitioned frontier commits). Exit code 0 on a
 * completed crawl; counters echoed per round as JSON lines.
 */
object CrawlMain {

  private val Flags = Set("pages", "seeds", "checkpoint", "budget", "round-seconds",
    "max-rounds", "bloom-expected", "cpus")

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--resume" => m += "resume" -> "true"; i += 1
        case flag if Flags(flag.drop(2)) && i + 1 < args.length =>
          m += flag.drop(2) -> args(i + 1); i += 2
        case other => sys.error(s"unexpected argument: $other")
      }
    }
    m.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val pagesDir = a.getOrElse("pages", sys.error("--pages <dir> required"))
    val ckpt = a.getOrElse("checkpoint", sys.error("--checkpoint <dir> required"))
    val resume = a.contains("resume")
    val seeds = a.get("seeds").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(if (resume) Seq.empty else sys.error("--seeds required unless --resume"))

    // under spark-submit the master comes from the launcher; standalone
    // runs fall back to all local cores
    val builder = SparkSession.builder()
      .appName("graft-crawl")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    if (sys.props.get("spark.master").isEmpty && sys.env.get("MASTER").isEmpty)
      builder.master(s"local[${a.getOrElse("cpus", "*")}]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = CrawlConfig(
      perHostBudgetPerRound = a.get("budget").map(_.toInt).getOrElse(Int.MaxValue),
      roundSeconds = a.get("round-seconds").map(_.toDouble).getOrElse(30.0),
      maxRounds = a.get("max-rounds").map(_.toInt).getOrElse(10000),
      bloomExpectedInsertions = a.get("bloom-expected").map(_.toLong).getOrElse(4L * 1000 * 1000))

    val pages = spark.read.parquet(pagesDir)
    val engine = new CrawlEngine(spark, pages, cfg, ckpt)
    val run = if (resume) engine.resume() else engine.crawlAll(seeds)

    run.rounds.foreach { c =>
      println(s"""{"round":${c.round},"fetched":${c.fetched},"discovered":${c.discovered},""" +
        s""""deduped":${c.deduped},"robots_denied":${c.robotsDenied},"deferred":${c.deferred},""" +
        s""""done":${c.done},"todo":${c.todo}}""")
    }
    run.failures.foreach { case (seed, msg) =>
      System.err.println(s"""{"failed_seed":"$seed","error":"$msg"}""")
    }
    println(s"""{"crawl":"complete","seeds":${run.seeds.size},"results":${run.results.count()},"checkpoint":"$ckpt"}""")
    spark.stop()
  }
}
