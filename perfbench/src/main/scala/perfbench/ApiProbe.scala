package perfbench

import graft.operators.{CrawlApi, CrawlConfig, CrawlHttpApi}
import graft.sources.PagesGen
import org.apache.spark.sql.DataFrame

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/**
 * The HTTP layer, measured in bulk_crawl's traced runs: one closed-loop
 * client sends `GET /crawl/{seed}` through `CrawlHttpApi` for single sites
 * of the bulk graph, while a second client polls `GET /status` open-loop at
 * a fixed rate. Each `/status` reads the manifest of every crawl registered
 * so far, beside the running crawl's commits. Every response is checked
 * against the Spark-free [[CrawlOracle]].
 */
final class ApiProbe(run: Run, pages: DataFrame, spec: PagesGen.ScaleSpec, cfg: CrawlConfig) {
  import ApiProbe._

  private val http = new CrawlHttpApi(new CrawlApi(run.spark, pages, cfg))
  private val started = new AtomicLong()
  private val completed = new AtomicLong()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def measure(): Unit = {
    http.start()
    val poller = new StatusPoller
    poller.start()
    // the seed chooses the sites; host 0 is the heavy one, the rest are alike
    val hosts = new scala.util.Random(run.seed).shuffle((1 until spec.hosts).toVector).take(Requests)
    val reqs =
      try run.withJobs(hosts.flatMap(crawlRequest))
      finally { poller.stop(); http.stop() }
    poller.report()
    if (reqs.isEmpty) return
    val lat = reqs.map(r => (r.endMs - r.startMs) / 1e3)
    run.note(f"api_crawl_p50_s: ${Stats.median(lat)}%.4f s over ${lat.size} requests " +
      f"(${lat.map(l => f"$l%.2f").mkString(" ")})")
    reqs.foreach(r => run.tracer.add("crawl_api.request", 0, r.startMs, r.endMs, Map("bytes" -> r.bytes.toDouble)))
    val jobs = run.jobs.records
    val perReq = reqs.map { r =>
      val js = CrawlLayers.within(jobs, r.startMs, r.endMs)
      Map(
        "crawl_api.jobs_per_request" -> js.size.toDouble,
        "crawl_api.response_kb" -> r.bytes / 1e3,
        "crawl_api.spark_share" -> Stats.unionMs(js.map(j => (j.startMs, j.endMs))) / (r.endMs - r.startMs))
    }
    perReq.flatMap(_.keys).distinct.foreach(k => run.layer(k, Stats.median(perReq.map(_(k)))))
  }

  private def get(path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:${http.boundPort}$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setReadTimeout(120000)
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      (code, body)
    } finally c.disconnect()
  }

  private def crawlRequest(host: Int): Option[Req] = {
    val seed = s"${spec.hostName(host)}/page${spec.blockStart(host)}"
    started.incrementAndGet()
    run.op(s"GET /crawl $seed") {
      val startMs = Clock.nowMs
      val (code, body) = get("/crawl/" + URLEncoder.encode(seed, StandardCharsets.UTF_8))
      val endMs = Clock.nowMs
      completed.incrementAndGet()
      (code, body, Req(startMs, endMs, body.getBytes(StandardCharsets.UTF_8).length.toLong))
    } { case (code, body, _) =>
      if (code != 200) Seq(s"status $code: ${body.take(200)}")
      else {
        val urls = mapper.readTree(body).get("pages").fieldNames().asScala.toSet
        val want = CrawlOracle.expectedUrls(spec, host, cfg.userAgent)
        if (urls == want) Nil
        else Seq(s"${urls.size} pages (digest ${Stats.digest(urls)}), " +
          s"expected ${want.size} (digest ${Stats.digest(want)})")
      }
    }.map(_._3)
  }

  /** Open-loop `/status` client: poll k is due at start + k / rate and is
    * timed from when it was due, so a stall also delays the polls behind it. */
  private final class StatusPoller {
    private val latMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    private val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile private var running = true
    private val thread = new Thread(() => {
      val periodMs = 1000.0 / StatusPerS
      val t0 = Clock.nowMs
      var k = 0L
      while (running) {
        val due = t0 + k * periodMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (running) {
          lateMs.add(Clock.nowMs - due)
          val doneBefore = completed.get()
          run.op(s"GET /status $k") {
            val r = get("/status")
            latMs.add(Clock.nowMs - due)
            r
          } { case (code, body) =>
            val startedAfter = started.get()
            if (code != 200) Seq(s"status $code")
            else {
              val n = mapper.readTree(body).get("crawls").size().toLong
              if (n >= doneBefore && n <= startedAfter) Nil
              else Seq(s"lists $n crawls, expected $doneBefore..$startedAfter")
            }
          }
        }
        k += 1
      }
    }, "perfbench-status")

    def start(): Unit = thread.start()
    def stop(): Unit = { running = false; thread.join() }

    def report(): Unit = {
      val lat = latMs.asScala.toSeq
      val late = lateMs.asScala.toSeq
      if (lat.isEmpty) { run.fail("no status poll completed"); return }
      val (label, high) = Stats.highestSupported(lat)
      run.note(f"status_p50_ms: ${Stats.median(lat)}%.3f ms, $label ${high}%.3f ms over ${lat.size} polls " +
        f"at $StatusPerS%.0f/s; generator late p50 ${Stats.median(late)}%.3f ms, max ${late.max}%.3f ms")
      run.layer("crawl_api.status_p50_ms", Stats.median(lat))
      run.layer("crawl_api.status_late_max_ms", late.max)
    }
  }
}

object ApiProbe {
  private final case class Req(startMs: Double, endMs: Double, bytes: Long)

  val Requests = 1
  /** Open-loop status poll rate. */
  val StatusPerS = 10.0
}
