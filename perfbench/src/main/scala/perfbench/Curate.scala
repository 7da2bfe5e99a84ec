package perfbench

import graft.operators.{Dedup, LinkGraph, Packing, Search, TextAnalysis}
import graft.sources.DocsGen
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * `curate`: a planted-near-duplicate corpus through the curation chain —
 * quality rules, MinHash-LSH pairs and near-dup clusters, the exact n-gram
 * prefix join, PageRank over synthetic links, token shards, then an
 * inverted index and a search served from it. No crawl layer runs, so this
 * is the control workload for crawl changes. The workload seed chooses
 * which window of the generator's document ids forms the corpus.
 */
object Curate extends Workload {
  val Docs = 600L
  /** The untimed warm-up runs the chain over a small corpus of the same kind. */
  val WarmupDocs = 100L
  val ShardTokens = 2048L
  val TopK = 50
  val Steps = Seq("quality", "minhash", "clusters", "prefix_join", "pagerank", "shards", "index", "search")

  private var docs: DataFrame = _
  /** Per-step result sizes of the first pipeline; every later one must match. */
  private var reference = Map.empty[String, Long]

  def setup(run: Run): Unit = {
    def generate(name: String, first: Long, n: Long): DataFrame = {
      val dir = run.dir(name).toString
      import run.spark.implicits._
      run.spark.range(first, first + n, 1, 8).map(id => (id, DocsGen.text(id)))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
      run.spark.read.parquet(dir)
    }
    // blocks of 20 ids hold a base document and its planted mutants, so a
    // block-aligned window keeps every planted cluster whole
    val offset = java.lang.Math.floorMod(run.seed, 100000L) * DocsGen.blockSize * 1000L
    val t0 = System.nanoTime()
    warmUp(run, generate("curate-warmup-docs", offset + Docs, WarmupDocs))
    run.note(f"curate warm-up: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    docs = run.timeLayer("sources.gen_s")(generate("curate-docs", offset, Docs))
    run.note(s"curate: docs=$Docs first_id=$offset warm-up docs=$WarmupDocs " +
      s"shard_tokens=$ShardTokens top_k=$TopK")
  }

  def measure(run: Run): Unit = {
    val plain = Seq.newBuilder[Timing]
    val traced = Seq.newBuilder[Timing]
    val layers = Seq.newBuilder[Map[String, Double]]
    run.timedLoop(minSamples = if (run.traced) 2 else 1) { i =>
      val isTraced = run.traced && i % 2 == 1
      val steps = if (isTraced) run.withJobs(pipeline(run, s"pipeline $i")) else pipeline(run, s"pipeline $i")
      steps.foreach { st =>
        // one pipeline's timing: the sum over its steps
        val t = Timing(st.head._2.startMs, st.map(_._2.wallMs).sum,
          1 - st.map(_._2.netMs).sum / st.map(_._2.wallMs).sum, st.map(_._2.cpuS).sum)
        if (!isTraced) plain += t
        else {
          traced += t
          val jobs = run.jobs.records
          layers += st.flatMap { case (name, s) =>
            run.tracer.add(s"curate.$name", 0, s.startMs, s.endMs)
            Seq(s"curate.${name}_s" -> s.wallMs / 1e3,
              s"curate.${name}_task_s" -> CrawlLayers.within(jobs, s.startMs, s.endMs).map(_.taskMs).sum / 1e3)
          }.toMap ++ CrawlLayers.sparkMetrics(CrawlLayers.within(jobs, t.startMs, st.last._2.endMs))
        }
      }
    }
    val ts = plain.result()
    run.note(Run.describeTimings("curate pipeline", ts))
    if (ts.isEmpty) return
    val netS = Stats.median(ts.map(_.netMs / 1e3))
    if (!run.traced) {
      run.endToEnd("net_throughput_per_s") = Metric(Docs / netS, "1/s")
      run.endToEnd("net_op_p50_s") = Metric(netS, "s")
    } else {
      run.layersFrom(layers.result())
      run.layer("tracing_overhead_ratio", Stats.median(traced.result().map(_.netMs / 1e3)) / netS - 1)
      run.layer("process.steal_share", Stats.median(ts.map(_.stealShare)))
    }
  }

  private val Lvl = StorageLevel.MEMORY_AND_DISK

  // the chain's steps, each forced to completion
  private def quality(d: DataFrame): DataFrame = {
    val g = TextAnalysis.gopherRules(d, minWords = 30)
    val k = d.join(g.filter(col("ok_words") && col("ok_mean_len") && col("ok_symbol") &&
      col("ok_alpha")).select("doc_id"), "doc_id").persist(Lvl)
    k.count(); k
  }
  private def minhash(kept: DataFrame): DataFrame = {
    val p = Dedup.minhashLshPairs(kept, threshold = 0.3).persist(Lvl)
    p.count(); p
  }
  /** Survivors: the kept documents minus every non-canonical cluster member. */
  private def clusters(kept: DataFrame, pairs: DataFrame): DataFrame = {
    val nonCanon = Dedup.nearDupClusters(pairs).filter(!col("is_canonical")).select(col("id").as("doc_id"))
    val s = kept.join(nonCanon, Seq("doc_id"), "left_anti").persist(Lvl)
    s.count(); s
  }
  private def prefixJoin(s: DataFrame): Long = Dedup.ngramJaccardPrefixJoin(s, threshold = 0.8).count()
  private def pagerank(s: DataFrame): Row =
    LinkGraph.pageRank(s, LinkGraph.syntheticEdges(s), iters = 2).agg(count(lit(1)), sum("rank_fp")).head()
  /** (shard count, total tokens). */
  private def shards(s: DataFrame): (Long, Long) = {
    val row = Packing.tokenShards(s, capacity = ShardTokens).agg(max("shard_last"), sum("n_tokens")).head()
    (row.getLong(0) + 1, row.getLong(1))
  }
  private def queryTerms(s: DataFrame): Seq[String] =
    s.orderBy("doc_id").head().getString(1).split("\\s+").take(4).toSeq
  private def search(s: DataFrame, idx: String, terms: Seq[String]): Seq[Row] =
    Search.indexSearch(s.sparkSession, idx, terms, k = TopK).collect().toSeq
  /** Problems of a search served from the index, against the from-scratch operator. */
  private def searchProblems(s: DataFrame, terms: Seq[String], top: Seq[Row]): Seq[String] = {
    val direct = Search.tfidfTopK(s, terms, k = TopK).collect().toSeq
    if (top.map(r => (r.getLong(0), r.getLong(2))) == direct.map(r => (r.getLong(0), r.getLong(2)))) Nil
    else Seq("search served from the index differs from tfidfTopK over the same survivors")
  }

  /** Untimed warm-up over a small corpus: four independent groups of the
    * chain run at once, so their one-time costs (code generation, JIT,
    * first jobs) overlap instead of adding up. */
  private def warmUp(run: Run, d: DataFrame): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val idx = run.dir("curate-index-warm-up").toString
    val groups: Seq[() => Any] = Seq(
      () => { val k = quality(d); clusters(k, minhash(k)) },
      () => prefixJoin(d),
      () => pagerank(d),
      () => { shards(d); Search.indexAppend(d, idx); val t = queryTerms(d); searchProblems(d, t, search(d, idx, t)) })
    try run.op("curate warm-up")(Await.result(Future.traverse(groups)(g => Future(g())),
      scala.concurrent.duration.Duration.Inf))(_ => Nil)
    finally {
      pool.shutdown()
      run.spark.catalog.clearCache()
      Stats.deleteRecursively(java.nio.file.Paths.get(idx))
    }
  }

  /** One pass of the chain; returns each step's timing, or None when a
    * step failed. */
  private def pipeline(run: Run, what: String): Option[Seq[(String, Timing)]] = {
    val times = Seq.newBuilder[(String, Timing)]
    val idx = run.dir(s"curate-index-${what.replace(' ', '-')}").toString
    var ok = true
    /** One curation step: `f` is timed, `size` (untimed) must repeat across
      * pipelines, `check` (untimed) holds the step's exactness assertions. */
    def step[A](name: String)(f: => A)(size: A => Long, check: A => Seq[String] = (_: A) => Nil): Option[A] =
      if (!ok) None
      else {
        run.describe(s"perfbench curate $name")
        val r = run.op(s"curate $what $name")(Timing(f)) { case (a, _) =>
          val n = size(a)
          val ref = reference.getOrElse(name, { reference += name -> n; n })
          (if (n != ref) Seq(s"size $n, first pipeline had $ref") else Nil) ++ check(a)
        }
        r match {
          case Some((_, t)) => times += name -> t
          case None => ok = false
        }
        r.map(_._1)
      }
    try {
      val kept = step("quality")(quality(docs))(_.count())
      val pairs = kept.flatMap(k => step("minhash")(minhash(k))(_.count()))
      val surv = kept.zip(pairs).flatMap { case (k, p) => step("clusters")(clusters(k, p))(_.count()) }
      surv.foreach { s =>
        step("prefix_join")(prefixJoin(s))(identity)
        step("pagerank")(pagerank(s))(_.getLong(0), r =>
          if (r.getLong(0) == s.count()) Nil else Seq(s"ranked ${r.getLong(0)} of ${s.count()} survivors"))
        step("shards")(shards(s))(_._1, { case (n, tokens) =>
          if (n == (tokens + ShardTokens - 1) / ShardTokens) Nil
          else Seq(s"$n shards for $tokens tokens at capacity $ShardTokens")
        })
        step("index")(Search.indexAppend(s, idx))(_ => Stats.parquetFiles(idx)._1)
        val terms = queryTerms(s)
        step("search")(search(s, idx, terms))(_.size.toLong, top => searchProblems(s, terms, top))
      }
      if (ok) Some(times.result()) else None
    } finally {
      run.spark.catalog.clearCache()
      Stats.deleteRecursively(java.nio.file.Paths.get(idx))
    }
  }
}
