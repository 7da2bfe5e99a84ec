package perfbench

import graft.htmlkit.HtmlKit
import graft.httpkit.HttpKit
import graft.robotskit.RobotsKit
import graft.urlkit.UrlKit

/**
 * Single-threaded replays of the crawl kernel over a sample of the
 * workload's own pages: the same public calls the engine's per-url step
 * makes (classify the raw HTTP bytes, extract links, strip fragments from
 * internal links, check each candidate against robots rules), timed in
 * isolation so their throughput is known apart from Spark.
 */
object Kernels {

  /** Effective robots rules of one host of the scale graph. */
  def robotsRules(spec: graft.sources.PagesGen.ScaleSpec, host: Int, userAgent: String): Vector[RobotsKit.Rule] =
    HttpKit.parseResponse(graft.sources.PagesGen.robotsRows(spec)(host).html)
      .map(r => RobotsKit.parse(r.bodyString, userAgent).effectiveRules).getOrElse(Vector.empty)

  /** Runs `pass` repeatedly for at least `minMs`; returns (passes, ms). */
  private def repeat(minMs: Double)(pass: => Long): (Long, Double, Long) = {
    var sink = 0L
    var n = 0L
    val t0 = System.nanoTime()
    var ms = 0.0
    while (n == 0 || ms < minMs) {
      sink += pass
      n += 1
      ms = (System.nanoTime() - t0) / 1e6
    }
    (n, ms, sink)
  }

  def replay(pages: Seq[(String, Array[Byte])], rules: Vector[RobotsKit.Rule],
             minMs: Double = 400): Map[String, Double] = {
    val rawBytes = pages.map(p => Option(p._2).map(_.length.toLong).getOrElse(0L)).sum
    val (cn, cms, _) = repeat(minMs) {
      var k = 0L
      pages.foreach { case (u, b) => k += HttpKit.classify(u, b).kind.hashCode }
      k
    }
    val html = pages.flatMap { case (u, b) =>
      val c = HttpKit.classify(u, b)
      if (c.kind == HttpKit.Kind.Html) Some(u -> c.body.getOrElse("")) else None
    }
    val htmlBytes = html.map(_._2.getBytes("UTF-8").length.toLong).sum
    val (en, ems, _) = repeat(minMs) {
      var k = 0L
      html.foreach { case (u, body) => k += HtmlKit.extractLinksStr(u, body).size }
      k
    }
    val links = html.flatMap { case (u, body) => HtmlKit.extractLinksStr(u, body) }
    val internal = links.filter(_.internal).map(_.url)
    val (sn, sms, _) = repeat(minMs) {
      var k = 0L
      internal.foreach(u => k += UrlKit.stripFragmentStr(u).length)
      k
    }
    val candidates = internal.map(UrlKit.stripFragmentStr)
    val (rn, rms, _) = repeat(minMs) {
      var k = 0L
      candidates.foreach(u => if (RobotsKit.allowedByRules(rules, RobotsKit.pathParamsQuery(u))) k += 1)
      k
    }
    Map(
      "httpkit.classify_mb_per_s" -> cn * rawBytes / 1e6 / (cms / 1e3),
      "htmlkit.extract_mb_per_s" -> en * htmlBytes / 1e6 / (ems / 1e3),
      "htmlkit.links_per_page" -> (if (html.isEmpty) 0.0 else links.size.toDouble / html.size),
      "urlkit.strip_fragment_per_s" -> sn * internal.size / (sms / 1e3),
      "robotskit.allowed_checks_per_s" -> rn * candidates.size / (rms / 1e3))
  }
}

/**
 * Expected result of one crawl, computed without Spark: a breadth-first
 * walk over the generator's own rows for one host, with the reference's
 * enqueue rules (fragment-stripped internal links, same-domain redirect
 * targets, every new url recorded once, robots-denied urls recorded but
 * never fetched). The url set of a crawl is exactly the urls it saw.
 */
object CrawlOracle {
  import graft.sources.PagesGen

  def expectedUrls(spec: PagesGen.ScaleSpec, host: Int, userAgent: String): Set[String] = {
    val hostUrl = spec.hostName(host)
    val rules = Kernels.robotsRules(spec, host, userAgent)
    val PageUrl = (java.util.regex.Pattern.quote(hostUrl) + "/page(\\d+)").r
    def fetch(url: String): Option[Array[Byte]] = url match {
      case PageUrl(id) if id.length < 18 && spec.hostOf(id.toLong) == host && id.toLong < spec.n =>
        PagesGen.scaleRow(spec, id.toLong).headOption.map(_.html)
      case _ => None
    }
    val seed = s"$hostUrl/page${spec.blockStart(host)}"
    val seen = scala.collection.mutable.LinkedHashSet(seed)
    val queue = scala.collection.mutable.Queue(seed)
    while (queue.nonEmpty) {
      val url = queue.dequeue()
      val cands = fetch(UrlKit.stripFragmentStr(url)).toSeq.flatMap { bytes =>
        val c = HttpKit.classify(url, bytes)
        c.kind match {
          case HttpKit.Kind.Html =>
            HtmlKit.extractLinksStr(url, c.body.getOrElse(""))
              .filter(_.internal).map(l => UrlKit.stripFragmentStr(l.url))
          case HttpKit.Kind.Redirect if UrlKit.sameDomain(url, c.location.get) => c.location.toSeq
          case _ => Nil
        }
      }
      cands.foreach { u =>
        if (seen.add(u) && RobotsKit.allowedByRules(rules, RobotsKit.pathParamsQuery(u)))
          queue.enqueue(u)
      }
    }
    seen.toSet
  }
}
