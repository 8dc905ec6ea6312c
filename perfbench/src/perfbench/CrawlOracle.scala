package perfbench

import scala.collection.mutable
import graft.crawl.CrawlConfig
import graft.fetch.{FetchClient, SyntheticInternet}
import graft.handlers.Handlers
import graft.http.{ContentTypes, Statuses}
import graft.links.LinkExtractor
import graft.model.FetchRequest
import graft.parse.PageFactory
import graft.robots.Robots
import graft.url.UrlKit

/** Expected outputs of a crawl, derived without Spark: a sequential walk
  * over the same synthetic internet with plain queues, sets and sorts. It
  * shares only the row-level primitives (fetch, parse, URL canonicalization,
  * robots matcher) with the engine and re-derives the distributed state
  * logic — per-host budgeted dequeue in (discovered_at, url_hash, url)
  * order, robots gate, two-tier dedup, redirect credit, retries — from the
  * crawl loop's documented semantics. Valid while no robots-cache eviction
  * happens (the benchmark's host count stays under the cache size). */
object CrawlOracle {

  final case class Expected(logRows: Long, seenRows: Long, hash: BigInt)

  /** Spark's xxhash64 (seed 42) evaluated on one row. */
  def xxh(values: Any*): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(values.map {
      case s: String => org.apache.spark.sql.catalyst.expressions.Literal
        .create(s, org.apache.spark.sql.types.StringType)
      case v => org.apache.spark.sql.catalyst.expressions.Literal(v)
    }, 42L).eval(null).asInstanceOf[Long]

  private final case class Pending(url: String, urlHash: Long, host: String,
      discoveredMs: Long, tries: Int, notBeforeMs: Option[Long])

  private def admitUrl(raw: String): Option[String] =
    UrlKit.cleanedLink(raw).filter(u => u.nonEmpty && UrlKit.isWebLink(u) &&
      !UrlKit.isAnalytics(u) && !UrlKit.isLinkService(u))

  def walk(internet: SyntheticInternet, seeds: Seq[String],
      cfg: CrawlConfig): Expected = {
    val startMs = cfg.startTime.toEpochMilli
    def batchMs(b: Int): Long = startMs + 60000L * b
    var pending = Vector[Pending]()
    val seen = mutable.Set[String]()
    val rules = mutable.Map[String, String]()
    var logRows = 0L
    var hash = BigInt(0)

    def admitWave(raws: Seq[String], ms: Long): Seq[Pending] =
      mutable.LinkedHashSet.from(raws.flatMap(admitUrl)).toSeq.map(u =>
        Pending(u, xxh(u), UrlKit.domainOnly(u).orNull, ms, 0, None))

    pending ++= admitWave(seeds, batchMs(0))
    seen ++= pending.map(_.url)

    for (batch <- 0 until cfg.maxBatches) {
      val ms = batchMs(batch)
      val order = (p: Pending) => (p.discoveredMs, p.urlHash, p.url)
      val dequeued = pending.filter(_.notBeforeMs.forall(_ <= ms))
        .groupBy(_.host).values
        .flatMap(_.sortBy(order).take(cfg.perHostBudget)).toVector
      if (dequeued.nonEmpty) {
        val links = mutable.ArrayBuffer[String]()
        for (host <- dequeued.map(_.host).distinct if !rules.contains(host)) {
          val resp = FetchClient.fetchOne(
            FetchRequest.default(s"https://$host/robots.txt")
              .copy(timeoutS = cfg.timeoutS, userAgent = cfg.userAgent),
            internet)
          val txt = if (resp.status == 200) resp.text.getOrElse("") else ""
          rules(host) = txt
          if (resp.status == 200 && cfg.expandSitemaps)
            links ++= Robots.sitemapLines(txt)
        }
        val redirects = mutable.ArrayBuffer[String]()
        val retries = mutable.ArrayBuffer[Pending]()
        for (p <- dequeued) {
          val txt = rules.getOrElse(p.host, "")
          if (!cfg.respectRobots || txt.isEmpty ||
              Robots.allows(txt, cfg.userAgent, p.url)) {
            val (status, finalUrl, found) = fetchAndLinks(internet, p.url, cfg)
            links ++= found
            if (finalUrl != p.url) redirects += finalUrl
            logRows += 1
            hash += xxh(p.url, status)
            if (Statuses.isRetrySuggested(status) && p.tries + 1 < cfg.maxTries)
              retries += p.copy(tries = p.tries + 1,
                notBeforeMs = Some(batchMs(batch + 1)))
          }
        }
        // redirect targets outrank same-batch discoveries and tombstone
        // any pending row for them
        val targets = redirects.flatMap(UrlKit.cleanedLink).toSet
        val fresh = admitWave(links.toSeq, ms)
          .filter(p => !seen(p.url) && !targets(p.url))
        val done = dequeued.map(p => (p.urlHash, p.url)).toSet
        pending = pending.filterNot(p => done((p.urlHash, p.url)) ||
          targets(p.url)) ++ retries ++ fresh
        seen ++= fresh.map(_.url)
        seen ++= targets
      }
    }
    Expected(logRows, seen.size.toLong, hash)
  }

  /** fetch + parse one URL exactly as a crawl partition does; returns
    * (status, final url, every outgoing link the page contributes) */
  private def fetchAndLinks(internet: SyntheticInternet, url: String,
      cfg: CrawlConfig): (Int, String, Seq[String]) = {
    val dispatched = Handlers.dispatch(url)
    val req = FetchRequest.default(dispatched.map(_.url).getOrElse(url))
      .copy(bytesLimit = cfg.bytesLimit, timeoutS = cfg.timeoutS,
        userAgent = cfg.userAgent)
    val resp = FetchClient.fetchOne(req, internet)
    val parsed =
      if (Statuses.isValid(resp.status) && !ContentTypes.isImage(resp.headers))
        PageFactory.recognize(resp.url, resp.headers, resp.text)
      else None
    val meta = PageFactory.toPageMeta(resp.url, parsed)
    val entries = parsed match {
      case Some(PageFactory.ParsedRss(m)) => m.entries(cfg.startTime).map(_.link)
      case Some(PageFactory.ParsedOpml(es, _)) => es.map(_.url)
      case _ => Seq.empty
    }
    val isSitemap = resp.text.exists(t =>
      t.contains("<urlset") || t.contains("<sitemapindex"))
    val pageLinks = parsed match {
      case Some(PageFactory.ParsedHtml(m)) =>
        LinkExtractor.extractLinksSorted(resp.url, m.contents).toSeq
      case _ if isSitemap && Statuses.isValid(resp.status) =>
        LinkExtractor.extractLinksSorted(resp.url, resp.text.get).toSeq
      case _ => Seq.empty
    }
    (resp.status, resp.url, pageLinks ++ meta.feeds ++
      dispatched.map(_.feeds).getOrElse(Seq.empty) ++ entries)
  }
}
