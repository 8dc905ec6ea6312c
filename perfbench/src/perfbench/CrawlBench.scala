package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl.{CrawlConfig, CrawlLoop, CrawlResult}
import graft.fetch.{FetchClient, SyntheticConfig, SyntheticInternet}
import graft.frontier.{Frontier, SeenSet}
import graft.http.{ContentTypes, Statuses}
import graft.links.LinkExtractor
import graft.model.FetchRequest
import graft.parse.PageFactory
import graft.robots.Robots
import graft.store.SnapshotStore
import graft.url.UrlKit

/** The durable crawl workload: one synthetic internet of 24 sites × 60
  * pages whose every site root and page is a seed (so the per-host budget
  * binds from the first batch and the frontier starts large), one
  * single-batch `CrawlLoop.run` per rep into a fresh `SnapshotStore`. */
object CrawlBench extends Workload {
  val name = "crawl_durable"
  val Sites = 24
  val PagesPerSite = 60
  val PerHostBudget = 8

  def internet(seed: Long): SyntheticInternet =
    SyntheticInternet(SyntheticConfig(seed = seed, nSites = Sites,
      pagesPerSite = PagesPerSite, imagesPerSite = 2, itemsPerFeed = 3))

  /** production shape (as graft.Bench crawls): no crawl-seq artifact,
    * Bloom over 16 url_hash ranges, robots cache above the host count so
    * no eviction happens (the oracle does not model eviction). One batch,
    * so the store's base compaction is never reached. */
  def config(nproc: Int): CrawlConfig = CrawlConfig(maxBatches = 1,
    perHostBudget = PerHostBudget, fetchPartitions = nproc, useBloom = true,
    bloomRanges = 16, emitCrawlSeq = false, robotsCacheSize = 1024,
    durableDeltas = true)

  def settings: Seq[(String, String)] = Seq(
    "sites" -> Sites.toString, "pages_per_site" -> PagesPerSite.toString,
    "seeds" -> "every site root and page", "body_paragraphs" -> "0",
    "max_batches" -> "1", "per_host_budget" -> PerHostBudget.toString,
    "state" -> ("SnapshotStore, durableDeltas (one batch: no base " +
      "compaction), Spark default Parquet writes, no fsync"),
    "bloom" -> "on, 16 ranges")

  def prepare(ctx: Ctx): Prepared = new CrawlRun(ctx)

  /** `[crawl] b<N> <stage>: <s>s`, printed by CrawlLoop when verbose */
  private val StageLine = """\[crawl\] b(\d+) (\S+): ([0-9.]+)s""".r
  val Stages: Seq[(String, String)] = Seq("dequeue" -> "dequeue",
    "robots-fetch" -> "robots_fetch", "fetch+parse" -> "fetch_parse",
    "links-dedup" -> "links_dedup", "rules-evict" -> "rules_evict",
    "compact" -> "compact", "delta-commit" -> "delta_commit",
    "base-compact" -> "base_compact")
  val Counters = Seq("dequeued", "robots_fetched", "links_seen_delta",
    "bloom_inserted_total")

  final case class StageMark(batch: Int, stage: String, startMs: Double,
      endMs: Double, secs: Double)

  def stageMarks(lines: Seq[(Long, String)]): Seq[StageMark] =
    lines.collect { case (ms, StageLine(b, raw, s)) =>
      val stage = Stages.toMap.getOrElse(raw, raw.replace('-', '_'))
      StageMark(b.toInt, stage, ms - s.toDouble * 1000, ms.toDouble, s.toDouble)
    }

  def dirBytesAndFiles(root: Path): (Long, Long) = {
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

final class CrawlRun(ctx: Ctx) extends Prepared {
  import CrawlBench._
  private val spark = ctx.spark
  import spark.implicits._

  private val internet = CrawlBench.internet(ctx.seed)
  private val config = CrawlBench.config(ctx.nproc)
  private val seeds = (0 until Sites).flatMap(k => s"https://site-$k.test/" +:
    (0 until PagesPerSite).map(j => s"https://site-$k.test/page/$j"))
  private var repNo = 0
  private var last: Option[(CrawlResult, Path)] = None
  private val extrasBuf = mutable.ArrayBuffer[(String, Double, String)]()
  private val storeLayers = mutable.Map[String, Double]()

  private def storeDir(n: Int): Path = ctx.workDir.resolve(s"store-$n")

  override def release(): Unit = {
    super.release()
    last.foreach(l => deleteTree(l._2))
    last = None
  }

  def rep(tracing: Option[Tracing]): Rep = {
    repNo += 1
    val dir = storeDir(repNo)
    val loop = new CrawlLoop(spark, internet,
      config.copy(verbose = tracing.nonEmpty),
      Some(new SnapshotStore(dir.toString)))
    val capture = new LineCapture
    tracing.foreach(_.listener.reset())
    val t0 = System.nanoTime()
    val (result, logRows) = capture.around {
      val r = loop.run(seeds)
      (r, r.crawlLog.count())
    }
    val wall = (System.nanoTime() - t0) / 1e9
    last = Some((result, dir))
    val outputs = CrawlRun.outputs(logRows, result.seen.count(),
      CrawlRun.logHash(result.crawlLog))
    val layers = tracing.map(t =>
      traceLayers(t, capture.lines, wall, result)).getOrElse(Map.empty)
    Rep(wall, logRows, outputs, layers)
  }

  private def traceLayers(t: Tracing, lines: Seq[(Long, String)],
      wall: Double, result: CrawlResult): Map[String, Double] = {
    val snap = t.listener.snapshot()
    val marks = stageMarks(lines)
    val stageSpans = marks.map(m =>
      m -> t.spans.add(s"b${m.batch}.${m.stage}", m.startMs, m.endMs, t.parent))
    // each Spark job hangs off the stage line whose interval holds it
    for (j <- snap.jobs) {
      val owner = stageSpans.collectFirst {
        case (m, id) if j.startMs >= m.startMs - 5 && j.startMs <= m.endMs + 5 => id
      }.getOrElse(t.parent)
      t.spans.add(s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble, owner)
    }
    val stageS = Stages.map { case (_, s) =>
      s"crawl.stage_s.$s" -> marks.filter(_.stage == s).map(_.secs).sum }
    val fetchWindows = marks.filter(_.stage == "fetch_parse").map(m =>
      snap.jobsIn(m.startMs.toLong - 5, m.endMs.toLong + 5))
    val fetchSkew = if (fetchWindows.isEmpty) 0.0
      else fetchWindows.maxBy(_.busyS).heaviestStageSkew
    val counters = result.counters.collect().map(r =>
      (r.getAs[String]("counter"), r.getAs[Long]("value"))).toSeq
    def counter(n: String): Double =
      if (n == "bloom_inserted_total")
        counters.filter(_._1 == n).map(_._2).maxOption.getOrElse(0L).toDouble
      else counters.filter(_._1 == n).map(_._2).sum.toDouble
    (stageS ++ Seq(
      "crawl.attributed_share" -> Stats.ratio(stageS.map(_._2).sum, wall),
      // one batch per rep: the batch is the rep
      "crawl.batch_s.p50" -> wall,
      "crawl.batch_s.p90" -> wall,
      "crawl.jobs" -> snap.jobs.size.toDouble,
      "crawl.tasks" -> snap.tasks.toDouble,
      "crawl.task_busy_s" -> snap.busyS,
      "crawl.core_util" -> Stats.ratio(snap.busyS, wall * ctx.nproc),
      "crawl.shuffle_write_bytes" -> snap.shuffleWrite.toDouble,
      "crawl.shuffle_read_bytes" -> snap.shuffleRead.toDouble,
      "crawl.spill_bytes" -> snap.spill.toDouble,
      "crawl.fetch_task_skew" -> fetchSkew,
      "store.commit_s" -> snap.jobWallS("SnapshotStore.scala")) ++
      Counters.map(c => s"frontier.counters.$c" -> counter(c))).toMap
  }

  def expected(): String = {
    val e = CrawlOracle.walk(internet, seeds, config)
    CrawlRun.outputs(e.logRows, e.seenRows, e.hash)
  }

  def finalChecks(): Seq[String] = {
    val (result, dir) = last.getOrElse(return Seq("no rep completed"))
    val failures = mutable.ArrayBuffer[String]()
    val logUrls = result.crawlLog.select("url").as[String].collect()
    if (logUrls.distinct.length != logUrls.length)
      failures += "crawl log fetched a URL twice"
    val seenSet = result.seen.select("url").as[String].collect().toSet
    if (!logUrls.forall(seenSet))
      failures += "a fetched URL is missing from the seen set"
    val store = new SnapshotStore(dir.toString)
    val runState = CrawlRun.state(result)
    // resume with no further batches: the reloaded state must be the run's,
    // and the reload time is resume_s
    val t0 = System.nanoTime()
    val resumed = new CrawlLoop(spark, internet, config.copy(maxBatches = 0),
      Some(store)).resume()
    resumed.seen.count(); resumed.crawlLog.count()
    val resumeS = (System.nanoTime() - t0) / 1e9
    val resumedState = CrawlRun.state(resumed)
    if (resumedState != runState)
      failures += s"resume() state $resumedState differs from the run's $runState"
    val tables = Files.list(dir).iterator().asScala.toVector
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
    val t1 = System.nanoTime()
    for (table <- tables; sn <- store.snapshots(table)) {
      val bad = store.verify(table, sn)
      if (bad.nonEmpty) failures += s"verify $table/$sn: ${bad.mkString("; ")}"
    }
    val verifyS = (System.nanoTime() - t1) / 1e9
    val (bytes, files) = dirBytesAndFiles(dir)
    val bytesPerUrl = Stats.ratio(bytes.toDouble, logUrls.length)
    extrasBuf ++= Seq(("resume_s", resumeS, "s"),
      ("store_bytes_per_url", bytesPerUrl, "B"))
    storeLayers ++= Seq("store.resume_s" -> resumeS,
      "store.bytes_per_url" -> bytesPerUrl,
      "store.bytes" -> bytes.toDouble, "store.files" -> files.toDouble,
      "store.verify_s" -> verifyS)
    failures.toSeq
  }

  override def extras: Seq[(String, Double, String)] = extrasBuf.toSeq

  /** Layer replays on this run's own crawl: the fetched URL list through
    * each row-level layer on one thread, the same list through the fused
    * fetch+parse on nproc plain threads (the Spark-free floor), and the
    * frontier operators on the crawl's raw links. */
  override def replay(t: Tracing): Map[String, Double] = {
    val (result, _) = last.getOrElse(return Map.empty)
    val rows = result.crawlLog.select(col("url"), xxhash64(col("url")),
      col("host")).as[(String, Long, String)].collect().sortBy(_._1)
    val out = mutable.Map[String, Double]() ++ storeLayers

    // ---- Spark-free floor: CrawlLoop.fetchAndParse on nproc threads ----
    val byThread = rows.groupBy(r => Math.floorMod(r._3.hashCode, ctx.nproc))
      .values.map(_.sortBy(r => (r._3, r._1)).toVector).toVector
    val floorS = (1 to 3).map { i =>
      t.spans.span(s"replay.floor.$i", t.parent) { _ =>
        val pool = Executors.newFixedThreadPool(ctx.nproc)
        try {
          byThread.map(part => pool.submit(new Runnable {
            def run(): Unit = CrawlLoop.fetchAndParse(
              part.iterator.zipWithIndex.map { case ((u, h, host), i) =>
                (u, h, host, 0L, i.toLong) }, internet, config).foreach(_ => ())
          })).foreach(_.get())
        } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
      }._2
    }
    out("crawl.floor_pages_per_s") = Stats.ratio(rows.length, Stats.median(floorS))

    // ---- row-level layers, one thread, per-layer clocks ----------------
    val clocks = mutable.Map[String, Long]().withDefaultValue(0L)
    def clock[T](layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally clocks(layer) += System.nanoTime() - t0
    }
    val rawLinks = mutable.ArrayBuffer[String]()
    val robots = mutable.Map[String, String]()
    var calls, errors, bytes, pages = 0L
    def fetch(url: String) = {
      val resp = clock("fetch")(FetchClient.fetchOne(FetchRequest.default(url)
        .copy(bytesLimit = config.bytesLimit, timeoutS = config.timeoutS,
          userAgent = config.userAgent), internet))
      calls += 1; bytes += resp.body.length
      if (!Statuses.isValid(resp.status)) errors += 1
      resp
    }
    t.spans.span("replay.layers", t.parent) { _ =>
      for ((url, _, host) <- rows) {
        robots.getOrElseUpdate(host, {
          val r = fetch(s"https://$host/robots.txt")
          if (r.status == 200) r.text.getOrElse("") else ""
        })
        val resp = fetch(url)
        if (Statuses.isValid(resp.status) && !ContentTypes.isImage(resp.headers)) {
          val parsed = clock("parse")(
            PageFactory.recognize(resp.url, resp.headers, resp.text))
          val meta = clock("parse")(PageFactory.toPageMeta(resp.url, parsed))
          pages += parsed.size
          rawLinks ++= meta.feeds
          parsed match {
            case Some(PageFactory.ParsedHtml(m)) => rawLinks ++= clock("links")(
              LinkExtractor.extractLinksSorted(resp.url, m.contents))
            case Some(PageFactory.ParsedRss(m)) =>
              rawLinks ++= m.entries(config.startTime).map(_.link)
            case _ =>
          }
        }
      }
    }
    val cleaned = t.spans.span("replay.url", t.parent) { _ =>
      clock("url")(rawLinks.flatMap(UrlKit.cleanedLink).distinct.toVector)
    }._1
    val allowed = t.spans.span("replay.robots", t.parent) { _ =>
      clock("robots")(cleaned.count { u =>
        val txt = UrlKit.domainOnly(u).flatMap(robots.get).getOrElse("")
        txt.isEmpty || Robots.allows(txt, config.userAgent, u)
      })
    }._1
    def secs(layer: String) = clocks(layer) / 1e9
    out ++= Seq("fetch.s" -> secs("fetch"), "fetch.calls" -> calls.toDouble,
      "fetch.bytes" -> bytes.toDouble,
      "fetch.error_ratio" -> Stats.ratio(errors.toDouble, calls.toDouble),
      "parse.recognize_s" -> secs("parse"), "parse.pages" -> pages.toDouble,
      "links.extract_s" -> secs("links"),
      "links.emitted" -> rawLinks.size.toDouble, "url.clean_s" -> secs("url"),
      "robots.allows_s" -> secs("robots"),
      "robots.excluded_ratio" -> Stats.ratio(cleaned.size - allowed, cleaned.size))

    // ---- frontier operators on the crawl's own raw links ---------------
    // seen = the URLs this crawl fetched, so "fresh" = discovered, unfetched
    val bt = lit(java.sql.Timestamp.from(config.startTime))
    val raw = rawLinks.toSeq.toDF("url").localCheckpoint(true)
    val seen = SeenSet.withHash(rows.map(_._1).toSeq.toDF("url"))
      .localCheckpoint(true)
    val bloomAcc = new SeenSet.PartitionedBloomAccumulator(16, config.bloomExpected)
    rows.foreach(r => bloomAcc.add(r._2))
    val bloom = bloomAcc.value
    def timedCount(name: String)(df: => DataFrame): (Long, Double) = {
      val (n, s) = (1 to 3).map(i =>
        t.spans.span(s"replay.$name.$i", t.parent)(_ => df.count())).unzip
      (n.head, Stats.median(s))
    }
    val admitted = Frontier.admit(raw, lit(1), bt, config.saltBuckets)
    val (nAdmitted, admitS) = timedCount("frontier.admit")(admitted)
    val admittedCp = admitted.localCheckpoint(true)
    val (_, dequeueS) = timedCount("frontier.dequeue")(
      Frontier.dequeue(admittedCp, bt, config.perHostBudget))
    val (fresh, exactS) = timedCount("frontier.seen_exact")(
      SeenSet.filterNewExact(admittedCp, seen))
    val (freshBloom, bloomS) = timedCount("frontier.seen_bloom")(
      SeenSet.filterNewWithPartitionedBloom(admittedCp, seen, bloom))
    if (fresh != freshBloom)
      throw new IllegalStateException(
        s"seen filters disagree: exact $fresh, bloom $freshBloom")
    out ++= Seq("frontier.admit_s" -> admitS,
      "frontier.admit_ratio" -> Stats.ratio(nAdmitted.toDouble, rawLinks.size),
      "frontier.dequeue_s" -> dequeueS,
      "frontier.seen_filter_s.exact" -> exactS,
      "frontier.seen_filter_s.bloom" -> bloomS,
      "frontier.fresh_ratio" -> Stats.ratio(fresh.toDouble, nAdmitted.toDouble))
    out.toMap
  }
}

object CrawlRun {
  def outputs(logRows: Long, seenRows: Long, hash: BigInt): String =
    s"log_rows=$logRows seen_rows=$seenRows log_hash=$hash"

  /** order-independent hash of the crawl log: Σ xxhash64(url, status) */
  def logHash(log: DataFrame): BigInt = countAndHash(log, col("url"), col("status"))._2

  /** (rows, Σ xxhash64(cols)) in one aggregation */
  private def countAndHash(df: DataFrame,
      cols: org.apache.spark.sql.Column*): (Long, BigInt) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigInt(0)
      else BigInt(r.getDecimal(1).toBigInteger))
  }

  /** what resume() must reproduce: crawl log, seen set and frontier */
  def state(r: CrawlResult): String = {
    def show(p: (Long, BigInt)) = s"${p._1}/${p._2}"
    s"log=${show(countAndHash(r.crawlLog, col("url"), col("status")))} " +
      s"seen=${show(countAndHash(r.seen, col("url")))} " +
      s"frontier=${show(countAndHash(r.frontier, col("url"), col("state"), col("tries")))}"
  }
}
