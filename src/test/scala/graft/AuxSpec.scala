package graft

import graft.fetch.ProxyManager
import graft.query.{ConfigStore, ExtractionConfig}
import graft.parse.PageParser
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Config store (S9/P7), proxy rotation (R4/A5), sinks (K1/K2) and the
  * remaining parser extractors (F8). */
class AuxSpec extends AnyFunSuite {

  test("config store: save/load round-trip, list filters, stats (S9/P7)") {
    val store = new ConfigStore(Files.createTempDirectory("cfg").toString)
    val a = ExtractionConfig("siteA", "a.test", Seq("gov", "html"),
      Map("title" -> "h1.main", "price" -> "td.amount"),
      Map("title" -> 0.9, "price" -> 0.7), createdAtMs = 1000L)
    val b = ExtractionConfig("siteB", "b.test", Seq("gov"),
      Map("title" -> "h2"), Map("title" -> 0.5), createdAtMs = 2000L)
    store.save(a); store.save(b)
    assert(store.load("siteA").contains(a))
    assert(store.load("missing").isEmpty)
    // P7: filter + newest-first ordering
    assert(store.list(domain = Some("a.test")).map(_.name) == Seq("siteA"))
    assert(store.list(tag = Some("gov")).map(_.name) == Seq("siteB", "siteA"))
    val (domains, tags, recent) = store.stats()
    assert(domains == Set("a.test", "b.test") && tags == Set("gov", "html"))
    assert(recent == Seq("siteB", "siteA"))
    assert(store.delete("siteA") && store.load("siteA").isEmpty)
  }

  test("config store: filename sanitization (F15)") {
    val store = new ConfigStore(Files.createTempDirectory("cfg2").toString)
    assert(store.sanitize("a/b:c d*e") == "a_b_c_d_e")
  }

  test("proxy manager: rotation, blocking after 5 errors, reset-all, stats (R4/A5)") {
    val pm = new ProxyManager(Seq("p1", "p2", "p3"), maxErrors = 5)
    // deterministic pick
    assert(pm.pick(42L, 1) == pm.pick(42L, 1).intern())
    val first = pm.pick(100L, 1)
    (1 to 5).foreach(_ => pm.record(first, ok = false))
    assert(pm.isBlocked(first))
    // picks now avoid the blocked proxy
    (1 to 20).foreach { i => assert(pm.pick(i.toLong, 1) != first) }
    // success resets the consecutive streak
    val second = pm.pick(7L, 1)
    (1 to 4).foreach(_ => pm.record(second, ok = false))
    pm.record(second, ok = true)
    (1 to 4).foreach(_ => pm.record(second, ok = false))
    assert(!pm.isBlocked(second))
    // block everything -> reset-all fallback un-blocks
    val others = Seq("p1", "p2", "p3").filterNot(_ == first)
    others.foreach(p => (1 to 5).foreach(_ => pm.record(p, ok = false)))
    val picked = pm.pick(1L, 2)
    assert(Seq("p1", "p2", "p3").contains(picked))
    assert(!pm.isBlocked(picked))
    val stats = pm.stats
    assert(stats.values.map(_.requests).sum > 0)
    assert(stats(first).errors == 5)
  }

  test("sinks: CSV/JSON exports with sorted headers (K1/K2)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((2L, "b", Array[Byte](1, 2)), (1L, "a", Array[Byte](3)))
      .toDF("zeta", "alpha", "payload").coalesce(1)
    val base = Files.createTempDirectory("sinks").toString
    val csvDir = graft.sinks.Sinks.exportCsv(df, base, "run", 123L)
    assert(csvDir.endsWith("run_123"))
    val lines = spark.read.textFile(csvDir).collect()
    assert(lines.head == "alpha,payload,zeta") // sorted header
    assert(lines.length == 3)
    val jsonDir = graft.sinks.Sinks.exportJson(df, base, "runj", 124L)
    assert(spark.read.json(jsonDir).count() == 2)
  }

  test("CrawlManager status/metrics/logs over a crawled root (manager CLI analogue)") {
    import graft.crawl.{CrawlConfig, CrawlEngine}
    import graft.fetch.SyntheticFetcher
    import graft.frontier.Politeness
    import graft.web.{SyntheticWeb, WebConfig}
    val webCfg = WebConfig(nHosts = 3, pagesPerHost = 8, hotFactor = 1,
      failPct = 0, imagesPerPage = 1, linksPerPage = 3)
    val web = new SyntheticWeb(webCfg)
    val root = java.nio.file.Files.createTempDirectory("mgr").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = 6), bloomBuckets = 4),
      new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    val stats = e.crawlAll()
    assert(stats.nonEmpty)
    val totalScheduled = stats.map(_.scheduled).sum
    // everything below is metadata-only: no SparkSession touch
    val status = graft.tools.CrawlManager.status(root)
    assert(status.contains(s"Completed runs: ${stats.size}"))
    assert(status.contains("Dedup plan: exact anti-join (no URL index)"))
    assert(status.contains("URL index geometry"))
    assert(status.contains("fetchlog"))
    val metrics = graft.tools.CrawlManager.metrics(root)
    assert(metrics.contains(f"Fetches: ${totalScheduled}%,d"), metrics)
    assert(metrics.contains("New images"))
    assert(metrics.contains("Storage:"))
    val logs = graft.tools.CrawlManager.logs(root, 2)
    assert(logs.linesIterator.size == 2)
    assert(logs.contains("scheduled="))
    // empty/missing roots degrade, never throw
    assert(graft.tools.CrawlManager.status("/no/such/root").contains("no such root"))
  }

  test("meta tags and headings extraction (F8)") {
    val html =
      """<meta name="Description" content="fpds search results">
        |<meta name="keywords" content="contracts,awards">
        |<h1>Main <b>Title</b></h1><h2>Sub</h2>""".stripMargin
    val metas = PageParser.metaTags(html)
    assert(metas("description") == "fpds search results")
    assert(metas("keywords") == "contracts,awards")
    assert(PageParser.headings(html) == Seq(1 -> "Main Title", 2 -> "Sub"))
  }
}
