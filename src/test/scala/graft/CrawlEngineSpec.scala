package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.fetch.{Fetcher, SyntheticFetcher}
import graft.frontier.Politeness
import graft.images.ImageKit
import graft.oracle.OracleCrawler
import graft.table.SnapshotTable
import graft.web.{FetchResponse, SyntheticWeb, WebConfig}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, concat, lit, row_number, xxhash64}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end engine ⇄ oracle equality (FIXTURES.md §4, SURVEY.md §5):
  * same seed list + politeness budget ⇒ identical URL-seen set, identical
  * canonical per-run order, identical payload table, per-row PSNR/caption
  * invariants, resume-from-snapshot equality. */
class CrawlEngineSpec extends AnyFunSuite {

  private val webCfg = WebConfig(nHosts = 6, pagesPerHost = 10, hotFactor = 4,
    failPct = 5, imagesPerPage = 3, linksPerPage = 4)
  private val web = new SyntheticWeb(webCfg)
  private val budget = 8
  private val maxRetries = 3

  private def newEngine(root: String,
                        scanProbeMinSeen: Long = CrawlConfig("").scanProbeMinSeen): CrawlEngine =
    new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries, bloomBuckets = 8,
        scanProbeMinSeen = scanProbeMinSeen),
      new SyntheticFetcher(webCfg), web.robots)

  private def runOracle(): OracleCrawler = {
    val o = new OracleCrawler(web, budget, maxRetries)
    o.seed(web.seeds)
    o.crawlAll()
    o
  }

  private lazy val oracle = runOracle()

  private lazy val engineRoot: String = {
    val root = Files.createTempDirectory("crawl-e2e").toString
    val e = newEngine(root)
    e.seed(web.seeds)
    val stats = e.crawlAll()
    assert(stats.nonEmpty)
    root
  }
  private def engine: CrawlEngine = newEngine(engineRoot)

  test("URL-seen set equals the oracle's") {
    val got = engine.seenSet()
    val exp = oracle.seenSet
    assert((got -- exp).isEmpty, s"engine fetched extra: ${(got -- exp).take(5)}")
    assert((exp -- got).isEmpty, s"engine missed: ${(exp -- got).take(5)}")
    assert(got.size == exp.size)
    assert(got.nonEmpty)
  }

  test("per-run canonical order matches the oracle (same politeness budget)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val log = engine.fetchlog.read().get
    val engineRuns = log.select(col("run"), col("url"), col("seq").cast("string"))
      .as[(Long, String, String)]
      .collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(r => (r._2, BigInt(r._3))).sortBy(_._2).toSeq }
    assert(engineRuns.size == oracle.runOrders.size,
      s"run count: engine=${engineRuns.size} oracle=${oracle.runOrders.size}")
    engineRuns.zip(oracle.runOrders).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got == exp, s"run $i order mismatch: got=${got.take(3)} exp=${exp.take(3)}")
    }
  }

  test("payload table matches the oracle: ids, captions byte-equal, phash, PSNR>=40") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the payload table carries the internal bucket-cluster column (the
    // dedup probe's file-skipping key); the PUBLIC schema stays input_hint
    assert(engine.images.read().get.columns.contains("bucket"))
    assert(engine.imageTable().get.columns.toSeq ==
      Seq("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    val imgs = engine.imageTable().get
      .select("image_id", "caption", "phash", "bytes", "fmt", "w", "h")
      .as[(String, String, Long, Array[Byte], String, Int, Int)].collect()
    val byId = imgs.map(r => r._1 -> r).toMap
    assert(byId.keySet == oracle.imagesCaptions.keySet.toSet)
    assert(imgs.length == byId.size, "duplicate image_id rows in payload table")
    oracle.imagesCaptions.foreach { case (id, caption) =>
      val row = byId(id)
      assert(row._2 == caption, s"caption mismatch for $id")
      // per-row invariant vs independently regenerated reference payload
      val (refBytes, w, h, fmt) = ImageKit.generate(id)
      assert(row._5 == fmt && row._6 == w && row._7 == h)
      assert(row._3 == ImageKit.phash(refBytes), s"phash mismatch for $id")
      val got = ImageKit.decode(row._4)
      val ref = ImageKit.decode(refBytes)
      val p = ImageKit.psnr(got.rgb, ref.rgb)
      assert(p >= 40.0, s"PSNR $p < 40 for $id ($fmt)")
    }
  }

  test("politeness: no host exceeds its per-run budget; robots respected; retries bounded") {
    val spark = TestSpark.spark
    import spark.implicits._
    val log = engine.fetchlog.read().get
    val maxPerHostRun = log.groupBy("run", "host").count()
      .agg(org.apache.spark.sql.functions.max("count")).as[Long].collect().head
    assert(maxPerHostRun <= budget, s"host budget exceeded: $maxPerHostRun > $budget")

    val disallowed = web.robots.filter(_.disallow.nonEmpty).map(_.host).toSet
    assert(disallowed.nonEmpty, "test web has no disallowing hosts — tighten cfg")
    val badFetches = log.filter(org.apache.spark.sql.functions.col("host").isin(disallowed.toSeq: _*))
      .select("url").as[String].collect()
      .filter(u => web.robots.find(_.host == graft.urlkit.UrlKit.host(u)).get
        .disallow.exists(p => graft.urlkit.UrlKit.path(u).startsWith(p)))
    assert(badFetches.isEmpty, s"robots violated: ${badFetches.take(3)}")

    val maxAttempt = log.agg(org.apache.spark.sql.functions.max("attempt")).as[Int].collect().head
    assert(maxAttempt <= maxRetries)
    assert(maxAttempt >= 2, "no retry ever happened — failPct too low to exercise R6")
  }

  test("host-salted fetch (hostSalts=4, hot-host skew split) produces identical state") {
    val root = Files.createTempDirectory("crawl-salted").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget, hostSalts = 4),
        maxRetries, bloomBuckets = 8),
      new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    e.crawlAll()
    assert(e.seenSet() == engine.seenSet(), "salting changed the seen set")
    val spark = TestSpark.spark
    import spark.implicits._
    val imgs = e.imageTable().get.select("image_id", "phash")
      .as[(String, Long)].collect().toMap
    val ref = engine.imageTable().get.select("image_id", "phash")
      .as[(String, Long)].collect().toMap
    assert(imgs == ref, "salting changed the payload table")
  }

  test("engine state is invariant to shuffle-partition count (N vs 4N determinism proxy)") {
    // same job at a different parallelism must produce the identical
    // seen set and payload table (north rule: same results at N and 4N
    // executors; here the session-level shuffle partitioning changes)
    val spark2 = TestSpark.spark.newSession()
    spark2.conf.set("spark.sql.shuffle.partitions", "7")
    val root = Files.createTempDirectory("crawl-partinv").toString
    val e = new CrawlEngine(spark2,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries, bloomBuckets = 8),
      new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    e.crawlAll()
    assert(e.seenSet() == engine.seenSet(), "partitioning changed the seen set")
  }

  test("below scanProbeMinSeen both seen sets hold no Bloom state: no index snapshots, state exact") {
    // the toy crawl never leaves the small regime at the default
    // threshold: its exact anti-join needs no blocks, so neither index
    // table may be written
    assert(engine.bloomidx.snapshots.isEmpty,
      s"bloomidx written below scanProbeMinSeen: ${engine.bloomidx.snapshots}")
    assert(engine.imgidx.snapshots.isEmpty,
      s"imgidx written below scanProbeMinSeen: ${engine.imgidx.snapshots}")
    assert(engine.seenSet() == oracle.seenSet)
  }

  test("bloom and exact-only dedup paths produce identical state") {
    val root2 = Files.createTempDirectory("crawl-nobloom").toString
    val e2 = newEngine(root2, scanProbeMinSeen = 0L)
    e2.seed(web.seeds)
    e2.crawlAll()
    assert(e2.seenSet() == engine.seenSet())
  }

  test("sliced (beyond-broadcast) dedup regime produces identical state") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-sliced").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
        bloomBuckets = 8, maxBroadcastBytes = 400L * 1024, scanProbeMinSeen = 0L),
      new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    e.crawlAll()
    // 8 × 65,536-key blocks (~78.5 KB each) need 2 slices of a 400 KB budget
    assert(e.urlIndexSlices == 2)
    assert(e.seenSet() == engine.seenSet(), "sliced dedup changed the seen set")
    val imgs = e.imageTable().get.select("image_id", "phash")
      .as[(String, Long)].collect().toMap
    val ref = engine.imageTable().get.select("image_id", "phash")
      .as[(String, Long)].collect().toMap
    assert(imgs == ref, "sliced dedup changed the payload table")
    // the slice restriction must reach the parquet scan as a PUSHED
    // filter — bucket is a clustered data column (the fetchlog's cluster
    // spec: each file spans 1-2 bucket values), so the IN skips whole
    // files via footer min/max stats while the read stays one multi-path
    // relation (the dir-per-commit partitioned layout pruned harder but cost more
    // in per-micro-run union planning than it saved — measured e2e)
    val slicePlan = e.fetchlog.read().get
      .filter(org.apache.spark.sql.functions.col("bucket").isin(0, 2, 4, 6))
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(bucket".r.findFirstIn(slicePlan).isDefined,
      s"bucket restriction not pushed to the scan:\n$slicePlan")
    // resume inside the sliced regime (fresh engine, same root) drains
    // cleanly without refetching
    val before = e.fetchlog.read().get.count()
    val e2 = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
        bloomBuckets = 8, maxBroadcastBytes = 400L * 1024, scanProbeMinSeen = 0L),
      new SyntheticFetcher(webCfg), web.robots)
    e2.crawlAll()
    assert(e2.fetchlog.read().get.count() == before, "sliced resume refetched")
  }

  test("one bucket per slice (1 KB budget): URL and image indexes exact, resume clean") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-tinybudget").toString
    // a 1 KB budget no ~78 KB block fits: both indexes broadcast one
    // bucket per slice. scanProbeMinSeen = 0 puts the URL frontier and
    // the image-id payload dedup on the scan-probe plan from first use
    def cfg = CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
      bloomBuckets = 8, maxBroadcastBytes = 1024L, scanProbeMinSeen = 0L)
    val e = new CrawlEngine(TestSpark.spark, cfg, new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    e.crawlAll()
    assert(e.urlIndexSlices == 8)
    assert(e.seenSet() == engine.seenSet(), "auto-flip diverged the seen set")
    val ids = e.imageTable().get.select("image_id").as[String].collect()
    assert(ids.length == ids.distinct.length, "sliced image dedup duplicated rows")
    assert(ids.toSet == oracle.imagesCaptions.keySet.toSet)
    // both indexes live in their tables as covers-marked bases only
    for (idx <- Seq(e.bloomidx, e.imgidx)) {
      val head = idx.latestSnapshot.get
      assert(idx.kindOf(head) == "base" && idx.coversOf(head).nonEmpty,
        s"index head v$head is not a covers-marked base")
    }
    // a FRESH engine on the crawled root trusts both bases: it drains
    // without refetching and without rebuilding either index
    val before = e.fetchlog.read().get.count()
    val rebuilds = () => Seq(e.bloomidx, e.imgidx).map(idx =>
      idx.snapshots.count(n => idx.metricOf(n, "rebuild").contains(1.0)))
    val rebuildsBefore = rebuilds()
    val resumed = new CrawlEngine(TestSpark.spark, cfg, new SyntheticFetcher(webCfg), web.robots)
    resumed.crawlAll()
    assert(resumed.fetchlog.read().get.count() == before, "resume refetched")
    // a dedup pass reads the URL index whatever the drain derived
    val probe = spark.range(16)
      .select(concat(lit("http://fresh.test/"), col("id").cast("string")).as("url"))
      .withColumn("url_hash", xxhash64(col("url")))
    val (out, cleanup) = resumed.dedupFrontier(probe)
    assert(out.count() == 16, "fresh keys dropped by the resumed dedup")
    cleanup()
    assert(rebuilds() == rebuildsBefore, "resume rebuilt an index it should have trusted")
    assert(resumed.seenSet() == engine.seenSet(), "flipped-root resume diverged")
  }

  test("the URL index is table-resident from first use; covers-less index snapshots are never trusted") {
    val root = Files.createTempDirectory("crawl-idxbase").toString
    val e1 = newEngine(root, scanProbeMinSeen = 0L)
    e1.seed(web.seeds)
    // run 1 dedups against an empty fetchlog; run 2's dedup is the
    // index's first use and writes it as a covers-marked base
    assert(e1.runOnce().isDefined && e1.runOnce().isDefined)
    val first = e1.bloomidx.latestSnapshot.get
    assert(e1.bloomidx.kindOf(first) == "base", s"bloomidx v$first is not a base")
    val covers = e1.bloomidx.coversOf(first)
    assert(covers.isDefined, s"bloomidx v$first has no covers marker")
    assert(graft.tools.CrawlManager.status(root).contains(
      s"Dedup plan: Bloom scan-probe (URL index covers fetchlog v${covers.get})"))
    // plant a covers-less append shaped like an old block-map checkpoint:
    // the head snapshot as `covers_fetchlog_snapshot` and geometry as
    // metrics, but no covers marker in the manifest
    val head = e1.fetchlog.latestDataSnapshot.get
    val planted = e1.bloomidx.read().get.select("bucket", "bloom")
    e1.bloomidx.commit(planted.coalesce(1), Map("covers_fetchlog_snapshot" -> head.toDouble,
      "index_buckets" -> e1.urlIndexGeometry.indexBuckets.toDouble,
      "expected_per_bucket" -> e1.urlIndexGeometry.capacityPerBucket.toDouble))
    assert(e1.bloomidx.latestCovers.isEmpty)
    assert(graft.tools.CrawlManager.status(root).contains(
      "Dedup plan: exact anti-join (no URL index)"))
    val plantedV = e1.bloomidx.latestSnapshot.get
    // a fresh engine must rebuild rather than read the planted blocks
    val e2 = newEngine(root, scanProbeMinSeen = 0L)
    e2.crawlAll()
    val rebuilt = e2.bloomidx.snapshots.filter(n => n > plantedV &&
      e2.bloomidx.metricOf(n, "rebuild").contains(1.0))
    assert(rebuilt.nonEmpty, s"no rebuild after the covers-less snapshot v$plantedV")
    rebuilt.foreach(n =>
      assert(e2.bloomidx.kindOf(n) == "base" && e2.bloomidx.coversOf(n).nonEmpty))
    assert(e2.seenSet() == oracle.seenSet, "covers-less index resume diverged")
  }

  test("bin-pack merges during the crawl: state exact, sliced covers survive, resume clean") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-binpack").toString
    // compactEvery = 2 → several merge passes over a short crawl, in the
    // sliced regime (covers markers must survive merge commits because
    // they compare against latestDataSnapshot, not latestSnapshot)
    def cfg = CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
      bloomBuckets = 8, maxBroadcastBytes = 400L * 1024, compactEvery = 2,
      scanProbeMinSeen = 0L)
    val e = new CrawlEngine(TestSpark.spark, cfg, new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    e.crawlAll()
    assert(e.urlIndexSlices == 2)
    assert(e.fetchlog.snapshots.exists(id => e.fetchlog.kindOf(id) == "merge"),
      "no merge commit ever happened — cadence broken")
    assert(e.seenSet() == engine.seenSet(), "bin-packing diverged the seen set")
    val imgs = e.imageTable().get.select("image_id", "phash")
      .as[(String, Long)].collect().toMap
    val ref = engine.imageTable().get.select("image_id", "phash")
      .as[(String, Long)].collect().toMap
    assert(imgs == ref, "bin-packing diverged the payload table")
    // fresh engine on the merged root: drains without refetching — the
    // index covers markers must still match the (data) head
    val before = e.fetchlog.read().get.count()
    val e2 = new CrawlEngine(TestSpark.spark, cfg, new SyntheticFetcher(webCfg), web.robots)
    e2.crawlAll()
    assert(e2.fetchlog.read().get.count() == before, "merged-root resume refetched")
    assert(e2.seenSet() == engine.seenSet())
  }

  test("stale bloom index (crash between fetchlog and bloomidx commits) forces rebuild, state still exact") {
    val root = Files.createTempDirectory("crawl-stalebloom").toString
    // compactEvery = 1 so run 2 definitely folded its keys into the
    // index — the crash we simulate is losing that fold commit; the
    // older base then covers an earlier snapshot and the lost keys ride
    // the exact recent-delta anti-join. scanProbeMinSeen = 0: only the
    // scan-probe regime keeps a Bloom index at all
    val e1 = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
        bloomBuckets = 8, compactEvery = 1, scanProbeMinSeen = 0L),
      new SyntheticFetcher(webCfg), web.robots)
    e1.seed(web.seeds)
    assert(e1.runOnce().isDefined && e1.runOnce().isDefined)
    // simulate the crash: drop the bloom index commit that covers run 2
    val lastBloom = e1.bloomidx.latestSnapshot.get
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      root, "bloomidx", "commits", f"v$lastBloom%06d.json"))
    val e2 = newEngine(root, scanProbeMinSeen = 0L) // must detect the mismatch and rebuild
    e2.crawlAll()
    assert(e2.seenSet() == engine.seenSet(), "stale-bloom resume diverged")
  }

  test("stale pending table (crash before the fetchlog completion marker) forces rebuild, state still exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-stalepending").toString
    val e1 = newEngine(root)
    e1.seed(web.seeds)
    assert(e1.runOnce().isDefined && e1.runOnce().isDefined)
    // simulate a crash INSIDE run 2, after the pending delta but before the
    // fetchlog completion marker: drop the last fetchlog manifest. The
    // pending table now covers snapshot 2 while the fetchlog head is 1 —
    // the covers mismatch must force a rebuild, and the replayed run's
    // image/frontier commits must be idempotent.
    val lastLog = e1.fetchlog.latestSnapshot.get
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      root, "fetchlog", "commits", f"v$lastLog%06d.json"))
    val e2 = newEngine(root)
    e2.crawlAll()
    assert(e2.seenSet() == engine.seenSet(), "stale-pending resume diverged")
    val imgs = e2.imageTable().get.select("image_id").as[String].collect()
    assert(imgs.length == imgs.distinct.length, "replayed run duplicated image rows")
    assert(imgs.toSet == oracle.imagesCaptions.keySet.toSet)
  }

  test("depth > 9 crawl (seq code past long overflow) still matches the oracle exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    // deep binary-tree web: page p sits at depth ~log2(p), so 4200 pages
    // reach depth 12 — where the old long code (64^d) overflowed at d=9
    val deepCfg = WebConfig(nHosts = 1, pagesPerHost = 4200, hotFactor = 1,
      failPct = 2, imagesPerPage = 1, linksPerPage = 2)
    val deepWeb = new SyntheticWeb(deepCfg)
    val deepBudget = 4000
    val o = new OracleCrawler(deepWeb, deepBudget, maxRetries)
    o.seed(deepWeb.seeds)
    o.crawlAll()
    val root = Files.createTempDirectory("crawl-deep").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = deepBudget), maxRetries,
        bloomBuckets = 8),
      new SyntheticFetcher(deepCfg), deepWeb.robots)
    e.seed(deepWeb.seeds)
    e.crawlAll()

    val maxDepth = e.fetchlog.read().get
      .agg(org.apache.spark.sql.functions.max("depth")).as[Int].collect().head
    assert(maxDepth > 9, s"web too shallow (depth $maxDepth) — widen pagesPerHost")
    val maxSeq = e.fetchlog.read().get
      .agg(org.apache.spark.sql.functions.max(col("seq")).cast("string")).as[String]
      .collect().head
    assert(BigInt(maxSeq) > BigInt(Long.MaxValue),
      s"seq $maxSeq never exceeded long range — the widening is untested")

    assert(e.seenSet() == o.seenSet, "deep crawl seen-set diverged from oracle")
    val engineRuns = e.fetchlog.read().get
      .select(col("run"), col("url"), col("seq").cast("string"))
      .as[(Long, String, String)].collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(r => (r._2, BigInt(r._3))).sortBy(_._2).toSeq }
    assert(engineRuns.size == o.runOrders.size)
    engineRuns.zip(o.runOrders).foreach { case (got, exp) => assert(got == exp) }
  }

  test("geometry resize: crawling past the index capacity rebuilds bigger blocks, fpp stays at target, state exact (VERDICT r03 #1)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a low capacity floor scales the resize schedule down to spec size:
    // 4 buckets × 64 keys = 256-key initial capacity, crossed within the
    // first runs of a ~1400-attempt crawl → several doubling rebuilds
    val floor = 64L
    val buckets = 4
    val wideCfg = WebConfig(nHosts = 2, pagesPerHost = 700, hotFactor = 1,
      failPct = 0, imagesPerPage = 1, linksPerPage = 6)
    val wideWeb = new SyntheticWeb(wideCfg)
    val wideBudget = 400
    val o = new OracleCrawler(wideWeb, wideBudget, maxRetries)
    o.seed(wideWeb.seeds)
    o.crawlAll()
    val root = Files.createTempDirectory("crawl-resize").toString
    // windowsPerRun = 1 pins the per-run resize SCHEDULE the assertions
    // below are calibrated on: resize fires at the next run's geometry
    // check, so end-of-crawl capacity covers the history within ONE
    // window's intake. Batched windows widen that (documented) lag to
    // one batch — the catch-up contract under batching has its own test.
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = buckets, scanProbeMinSeen = 0L,
        bloomCapacityFloor = floor, windowsPerRun = 1),
      new SyntheticFetcher(wideCfg), wideWeb.robots)
    e.seed(wideWeb.seeds)
    e.crawlAll()

    assert(e.seenSet() == o.seenSet, "resize diverged the seen set")
    val attempts = e.fetchlog.read().get.count()
    assert(attempts > buckets * floor * 2,
      s"crawl too small ($attempts attempts) to cross the resize point — widen the web")
    // the standing geometry grew past the floor and covers the history
    assert(e.urlIndexGeometry.totalCapacity >= attempts,
      s"geometry ${e.urlIndexGeometry} never resized past $attempts attempts")
    val lastIdx = e.bloomidx.latestSnapshot.get
    val storedCap = e.bloomidx.metricOf(lastIdx, "expected_per_bucket").get.toLong
    assert(storedCap > floor, s"persisted capacity $storedCap never grew past the floor")

    // fpp evidence (the saturation this fixes was fpp→1): fresh keys
    // against the ENGINE-built blocks of the latest index base must read
    // "maybe seen" at ~the 1% build target, not ≈ 100%
    val idxBuckets = e.bloomidx.metricOf(lastIdx, "index_buckets").get.toInt
    // the latest base is the standing index, and the read anchors there
    val blocks = e.bloomidx.read().get
      .select("bucket", "bloom").collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val filters = blocks.map { case (b, bytes) =>
      b -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    }
    val rnd = new scala.util.Random(2024)
    val fresh = Array.fill(20000)(rnd.nextLong())
    val fp = fresh.count { h =>
      filters.get(java.lang.Math.floorMod(h, idxBuckets.toLong).toInt)
        .exists(_.mightContainLong(h))
    }
    val fppObserved = fp.toDouble / fresh.length
    assert(fppObserved < 0.05,
      f"observed fpp $fppObserved%.3f — blocks saturated despite $attempts attempts " +
        f"(capacity $storedCap×$idxBuckets)")

    // a fresh engine resumes with the persisted geometry and drains clean
    val e2 = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = buckets, scanProbeMinSeen = 0L,
        bloomCapacityFloor = floor),
      new SyntheticFetcher(wideCfg), wideWeb.robots)
    assert(e2.urlIndexGeometry.capacityPerBucket == storedCap,
      "resume did not read the persisted geometry back")
    e2.crawlAll()
    assert(e2.seenSet() == o.seenSet, "post-resize resume diverged")
  }

  test("geometry resize under BATCHED windows: lag bounded by one batch, next dedup catches up") {
    val spark = TestSpark.spark
    import spark.implicits._
    // same wide web as the schedule test, crawled with windowsPerRun=3:
    // the estimate updates per COMMIT, so end-of-crawl capacity may lag
    // the history by up to one batch's intake — but never more, and the
    // next dedup pass's geometry check must resize to cover everything
    val floor = 64L
    val buckets = 4
    val wideCfg = WebConfig(nHosts = 2, pagesPerHost = 700, hotFactor = 1,
      failPct = 0, imagesPerPage = 1, linksPerPage = 6)
    val wideWeb = new SyntheticWeb(wideCfg)
    val wideBudget = 400
    val root = Files.createTempDirectory("crawl-resize-batched").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = buckets, scanProbeMinSeen = 0L,
        bloomCapacityFloor = floor, windowsPerRun = 3),
      new SyntheticFetcher(wideCfg), wideWeb.robots)
    e.seed(wideWeb.seeds)
    e.crawlAll()
    val attempts = e.fetchlog.read().get.count()
    assert(attempts > buckets * floor * 2, s"crawl too small ($attempts)")
    // lag bound: one batch = windowsPerRun × (hosts × budget) schedulable
    val maxBatch = 3L * 2 * wideBudget
    assert(e.urlIndexGeometry.totalCapacity + maxBatch >= attempts,
      s"geometry ${e.urlIndexGeometry} lags $attempts attempts by more than one batch")
    // catch-up: the next dedup pass re-derives geometry from the
    // post-crawl estimate and rebuilds — capacity then covers history
    val probe = spark.range(64)
      .select(concat(lit("http://fresh.test/"), col("id").cast("string")).as("url"))
      .withColumn("url_hash", xxhash64(col("url")))
    val (out, cleanup) = e.dedupFrontier(probe)
    assert(out.count() == 64, "fresh keys dropped by the catch-up dedup")
    cleanup()
    assert(e.urlIndexGeometry.totalCapacity >= attempts,
      s"post-crawl dedup left geometry ${e.urlIndexGeometry} below $attempts attempts")
  }

  test("geometry resize in the SLICED regime: distributed rebuild + delta-fold compaction, state exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val wideCfg = WebConfig(nHosts = 2, pagesPerHost = 700, hotFactor = 1,
      failPct = 0, imagesPerPage = 1, linksPerPage = 6)
    val wideWeb = new SyntheticWeb(wideCfg)
    val wideBudget = 400
    val o = new OracleCrawler(wideWeb, wideBudget, maxRetries)
    o.seed(wideWeb.seeds)
    o.crawlAll()
    val root = Files.createTempDirectory("crawl-resize-sliced").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = 4, compactEvery = 2,
        scanProbeMinSeen = 0L, bloomCapacityFloor = 64L),
      new SyntheticFetcher(wideCfg), wideWeb.robots)
    e.seed(wideWeb.seeds)
    e.crawlAll()
    assert(e.seenSet() == o.seenSet, "sliced resize diverged the seen set")
    val manifests = e.bloomidx.snapshots.map(n =>
      (e.bloomidx.metricOf(n, "expected_per_bucket").map(_.toLong),
        e.bloomidx.kindOf(n)))
    // growth visible in the persisted geometry trail…
    assert(manifests.flatMap(_._1).distinct.size >= 2,
      s"no geometry growth across bloomidx commits: $manifests")
    // …and the recent-delta fold compaction ran (per-run appends are gone)
    assert(e.bloomidx.snapshots.exists(n =>
        e.bloomidx.metricOf(n, "compaction").contains(1.0)),
      "no fold compaction commit — maintenance cadence broken")
    assert(!e.bloomidx.snapshots.exists(n => e.bloomidx.kindOf(n) == "append"),
      "sliced regime still appends per-run index deltas")
    // the image-id index runs the same schedule over ~1400 ids against
    // the same 4 × 64-key floor: growth, no appends. (A maintaining run
    // whose ids outgrew the geometry, or that added none, skips its fold —
    // the next test pins the image fold cadence.)
    val imgGeoms = e.imgidx.snapshots.flatMap(n =>
      e.imgidx.metricOf(n, "expected_per_bucket").map(_.toLong))
    assert(imgGeoms.distinct.size >= 2,
      s"no geometry growth across imgidx commits: $imgGeoms")
    assert(!e.imgidx.snapshots.exists(n => e.imgidx.kindOf(n) == "append"),
      "sliced image regime appends per-run index deltas")
    // image payload table exact under the sliced image index too
    val ids = e.imageTable().get.select("image_id").as[String].collect()
    assert(ids.length == ids.distinct.length)
    assert(ids.toSet == o.imagesCaptions.keySet.toSet)
  }

  test("image-id index in the SLICED regime: delta-fold compaction at the maintenance cadence, no appends, payloads exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the resize test's web, with a floor (4 × 512 keys) that already
    // holds its ~1400 ids: no resize pre-empts the fold, so every
    // maintaining run with new ids since the base's covers marker folds
    // them in
    val wideCfg = WebConfig(nHosts = 2, pagesPerHost = 700, hotFactor = 1,
      failPct = 0, imagesPerPage = 1, linksPerPage = 6)
    val wideWeb = new SyntheticWeb(wideCfg)
    val wideBudget = 400
    val o = new OracleCrawler(wideWeb, wideBudget, maxRetries)
    o.seed(wideWeb.seeds)
    o.crawlAll()
    val root = Files.createTempDirectory("crawl-imgfold").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = 4, compactEvery = 2,
        scanProbeMinSeen = 0L, bloomCapacityFloor = 512L),
      new SyntheticFetcher(wideCfg), wideWeb.robots)
    e.seed(wideWeb.seeds)
    e.crawlAll()
    val kinds = e.imgidx.snapshots.map(n =>
      (e.imgidx.kindOf(n), e.imgidx.metricOf(n, "compaction"), e.imgidx.coversOf(n)))
    val folds = e.imgidx.snapshots.filter(n =>
      e.imgidx.metricOf(n, "compaction").contains(1.0))
    assert(folds.nonEmpty, s"no imgidx fold compaction commit: $kinds")
    // each fold is a covers-marked base at a run after which the
    // fetchlog's data-commit count is even
    val evenRuns = e.fetchlog.dataSnapshots.zipWithIndex
      .collect { case (r, i) if (i + 1) % 2 == 0 => r }.toSet
    folds.foreach { n =>
      assert(e.imgidx.kindOf(n) == "base" && e.imgidx.coversOf(n).nonEmpty, s"fold $n: $kinds")
      assert(e.imgidx.metricOf(n, "run").exists(r => evenRuns(r.toLong)),
        s"fold $n off cadence: $kinds")
    }
    assert(!e.imgidx.snapshots.exists(n => e.imgidx.kindOf(n) == "append"),
      s"sliced image regime appends per-run index deltas: $kinds")
    val imgs = e.imageTable().get.select("image_id", "caption")
      .as[(String, String)].collect()
    assert(imgs.length == imgs.map(_._1).distinct.length, "image fold duplicated rows")
    assert(imgs.toMap == o.imagesCaptions.toMap, "image fold diverged the payload table")
  }

  test("maintenance rewrites land together, on the run-count cadence") {
    val spark = TestSpark.spark
    import spark.implicits._
    val wideCfg = WebConfig(nHosts = 2, pagesPerHost = 700, hotFactor = 1,
      failPct = 0, imagesPerPage = 1, linksPerPage = 6)
    val wideWeb = new SyntheticWeb(wideCfg)
    val wideBudget = 150
    val o = new OracleCrawler(wideWeb, wideBudget, maxRetries)
    o.seed(wideWeb.seeds)
    o.crawlAll()
    val root = Files.createTempDirectory("crawl-cadence").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = 4, compactEvery = 3, scanProbeMinSeen = 0L, windowsPerRun = 1),
      new SyntheticFetcher(wideCfg), wideWeb.robots)
    e.seed(wideWeb.seeds)
    e.crawlAll()
    // the runs at which the fetchlog's data-commit count is a multiple of 3
    val due = e.fetchlog.dataSnapshots.zipWithIndex
      .collect { case (r, i) if (i + 1) % 3 == 0 => r }.toSet
    // the `run` metric of every commit `pick` selects; each must carry one
    def runs(t: SnapshotTable, pick: Long => Boolean): Set[Long] =
      t.snapshots.filter(pick).map { n =>
        t.metricOf(n, "run").getOrElse(fail(s"maintenance commit v$n carries no run")).toLong
      }.toSet
    def compactions(t: SnapshotTable) =
      runs(t, n => t.metricOf(n, "compaction").contains(1.0))
    val pendingRuns = compactions(e.pending)
    val foldRuns = compactions(e.bloomidx) ++ compactions(e.imgidx)
    val mergeRuns = Seq(e.fetchlog, e.images, e.frontier)
      .flatMap(t => runs(t, t.kindOf(_) == "merge")).toSet
    assert(due.size >= 2, s"too short a crawl to see the cadence: ${e.fetchlog.dataSnapshots}")
    assert(foldRuns.nonEmpty && mergeRuns.nonEmpty,
      s"no fold ($foldRuns) or no merge ($mergeRuns) to check the cadence on")
    // one set of runs: every maintaining run compacts the pending table,
    // and no fold or merge lands at any other run
    assert(pendingRuns == due, s"pending compactions at $pendingRuns, due at $due")
    assert(foldRuns.subsetOf(due) && mergeRuns.subsetOf(due),
      s"folds at $foldRuns, merges at $mergeRuns, due at $due")
    assert(e.seenSet() == o.seenSet, "the maintenance cadence diverged the seen set")
    val imgs = e.imageTable().get.select("image_id", "caption")
      .as[(String, String)].collect()
    assert(imgs.length == imgs.map(_._1).distinct.length)
    assert(imgs.toMap == o.imagesCaptions.toMap, "the maintenance cadence diverged payloads")
  }

  test("image dedup entering the scan-probe regime at a commit stays exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    // scanProbeMinSeen = 1: the first payload commit moves the image-id
    // set from the plain anti-join into the Bloom regime with no index
    // yet. The next dedup must build its index from the committed table —
    // an index missing those ids would call them definitely-new, and ids
    // reused across pages would be stored twice. The URL set crosses the
    // same way at the first fetchlog commit.
    val root = Files.createTempDirectory("crawl-imgcross").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
        bloomBuckets = 8, scanProbeMinSeen = 1L),
      new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    e.crawlAll()
    val ids = e.imageTable().get.select("image_id").as[String].collect()
    val dups = ids.length - ids.distinct.length
    assert(dups == 0, s"regime crossover stored $dups image rows twice")
    assert(ids.toSet == oracle.imagesCaptions.keySet.toSet)
    assert(e.seenSet() == oracle.seenSet, "URL regime crossover diverged the seen set")
  }

  test("pending rebuild over a history with retryable latest attempts stays exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-rebuild-retry").toString
    val e1 = newEngine(root)
    e1.seed(web.seeds)
    assert(e1.runOnce().isDefined && e1.runOnce().isDefined)
    // the cut must hold a hash whose latest attempt is retryable, or the
    // rebuild's retry term has nothing to find
    val latest = Window.partitionBy(col("url_hash")).orderBy(col("attempt").desc)
    val retryableLatest = e1.fetchlog.read().get
      .withColumn("rn", row_number().over(latest)).filter(col("rn") === 1)
      .filter(col("status").isin(0, 500) && col("attempt") < maxRetries).count()
    assert(retryableLatest > 0, "no retryable latest attempt at the cut — raise failPct")
    // lose every pending base: the next run must rebuild from first principles
    e1.pending.snapshots.foreach { n =>
      Files.delete(java.nio.file.Paths.get(root, "pending", "commits", f"v$n%06d.json"))
    }
    val e2 = newEngine(root)
    e2.crawlAll()
    assert(e2.pending.snapshots.exists(e2.pending.metricOf(_, "rebuild").contains(1.0)),
      "no rebuild base was committed")
    assert(e2.seenSet() == oracle.seenSet, "rebuilt pending set diverged from the oracle")
    def maxAttempts(e: CrawlEngine): Map[String, Int] =
      e.fetchlog.read().get.groupBy("url").agg(org.apache.spark.sql.functions.max("attempt"))
        .as[(String, Int)].collect().toMap
    assert(maxAttempts(e2) == maxAttempts(engine), "rebuild changed the retry history")
  }

  test("warm micro-runs compile no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = Files.createTempDirectory("crawl-nocodegen").toString
    // one window per run: enough runs to see warm ones. compactEvery = 2:
    // run 2 compacts, so by then every run path has run once, and the
    // warm runs below include compacting and bin-packing ones
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries, bloomBuckets = 8,
        windowsPerRun = 1, compactEvery = 2),
      new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    assert(e.runOnce().isDefined && e.runOnce().isDefined)
    val compiledAfterRun2 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var runs = 2
    while (e.runOnce().isDefined) runs += 1
    assert(runs >= 4, s"crawl drained after $runs runs")
    val compiledAtDrain = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(compiledAtDrain == compiledAfterRun2,
      s"runs 3..$runs compiled ${compiledAtDrain - compiledAfterRun2} classes")
    assert(e.pending.snapshots.count(e.pending.metricOf(_, "compaction").contains(1.0)) >= 2,
      "no compacting run among the warm ones")
    assert(e.seenSet() == oracle.seenSet)
  }

  test("seed and runOnce restore the caller's SQL conf, also when the fetcher throws") {
    val spark = TestSpark.spark
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode", "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.parquet.pushdown.inFilterThreshold")
    def explicitNow = keys.map(k => k -> spark.conf.getAll.get(k)).toMap
    def shownNow = keys.map(k => k -> spark.conf.get(k)).toMap
    val failing = new Fetcher {
      override def fetch(url: String, attempt: Int): FetchResponse =
        throw new IllegalStateException("fetcher down")
    }
    val saved = explicitNow
    try {
      // a caller that set explicit values (none of them the engine's), then
      // one that left every key at its default
      for (explicit <- Seq(Some(Seq("true", "true", "CODEGEN_ONLY", "true", "10")), None)) {
        explicit match {
          case Some(vs) => keys.zip(vs).foreach { case (k, v) => spark.conf.set(k, v) }
          case None => keys.foreach(spark.conf.unset)
        }
        val (explicitBefore, shownBefore) = (explicitNow, shownNow)
        def unchanged(step: String): Unit = {
          assert(explicitNow == explicitBefore, s"after $step ($explicit)")
          assert(shownNow == shownBefore, s"after $step ($explicit)")
        }
        val e = newEngine(Files.createTempDirectory("crawl-conf").toString)
        unchanged("construct")
        e.seed(web.seeds)
        unchanged("seed")
        assert(e.runOnce().isDefined)
        unchanged("runOnce")
        val broken = new CrawlEngine(spark,
          CrawlConfig(Files.createTempDirectory("crawl-conf-fail").toString,
            Politeness(perHostBudget = budget), maxRetries, bloomBuckets = 8),
          failing, web.robots)
        broken.seed(web.seeds)
        intercept[Exception](broken.runOnce())
        unchanged("a throwing runOnce")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a throwing runOnce leaves none of its frames persisted in the session") {
    val sc = TestSpark.spark.sparkContext
    val failing = new Fetcher {
      override def fetch(url: String, attempt: Int): FetchResponse =
        throw new IllegalStateException("fetcher down")
    }
    val broken = new CrawlEngine(TestSpark.spark,
      CrawlConfig(Files.createTempDirectory("crawl-leak").toString,
        Politeness(perHostBudget = budget), maxRetries, bloomBuckets = 8),
      failing, web.robots)
    broken.seed(web.seeds)
    val before = sc.getPersistentRDDs.keySet
    intercept[Exception](broken.runOnce())
    // no RDD the run persisted survives it (the ContextCleaner may free
    // older, unrelated ones meanwhile, so only additions count)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"the failed run left RDDs ${leaked.mkString(", ")} persisted")
  }

  test("a failed commit prepare returns only after the other prepares end; the repaired root drains exactly") {
    val sc = TestSpark.spark.sparkContext
    val root = Files.createTempDirectory("crawl-prepfail").toString
    val e1 = newEngine(root)
    e1.seed(web.seeds)
    // a regular file where the images table keeps its data dirs: the
    // images prepare throws while the frontier and fetchlog prepares run
    val blocker = java.nio.file.Paths.get(root, "images", "data")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, Array[Byte](0))
    intercept[Exception](e1.runOnce())
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"the failed run left jobs ${sc.statusTracker.getActiveJobIds.mkString(", ")} running")
    // nothing published, and the other two prepares ran to the end: their
    // unpublished dirs are complete orphans
    assert(e1.images.snapshots.isEmpty && e1.fetchlog.snapshots.isEmpty)
    for (dir <- Seq("frontier/data/commit-000002", "fetchlog/data/commit-000001"))
      assert(Files.exists(java.nio.file.Paths.get(root, dir, "_SUCCESS")), s"$dir unfinished")
    Files.delete(blocker)
    val e2 = newEngine(root)
    assert(e2.crawlAll().nonEmpty)
    assert(e2.seenSet() == oracle.seenSet, "the repaired root diverged the seen set")
  }

  test("resume from last committed snapshot equals uninterrupted run") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-resume").toString
    val e1 = newEngine(root)
    e1.seed(web.seeds)
    // partial crawl: 2 runs, then "crash" (also leave an orphan data dir)
    assert(e1.runOnce().isDefined && e1.runOnce().isDefined)
    e1.fetchlog.writeOrphan(Seq(("ghost", 0L, "h", 0L, 0, 1, 200, "", 99L))
      .toDF("url", "url_hash", "host", "seq", "depth", "attempt", "status", "error", "run"))
    // fresh engine on the same root (restart) — delay controller state is
    // recomputed, so re-derive it the same way the crashed run did
    val e2 = newEngine(root)
    e2.crawlAll()
    assert(e2.seenSet() == engine.seenSet(), "resumed seen-set differs")
    val imgsResumed = e2.imageTable().get.select("image_id", "phash")
      .as[(String, Long)].collect().toMap
    val imgsFull = engine.imageTable().get.select("image_id", "phash")
      .as[(String, Long)].collect().toMap
    assert(imgsResumed == imgsFull, "resumed payload table differs")
  }

  test("window-batched runs (windowsPerRun=3) ≡ oracle: seen set, per-WINDOW order, payloads, budget") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-waves").toString
    val e = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
        bloomBuckets = 8, windowsPerRun = 3),
      new SyntheticFetcher(webCfg), web.robots)
    e.seed(web.seeds)
    val stats = e.crawlAll()
    assert(stats.nonEmpty)
    // batching amortized the per-run commit machinery: strictly fewer
    // fetchlog commits than politeness windows executed
    val log = e.fetchlog.read().get
    val windowIds = log.select("run").distinct().as[Long].collect().sorted
    assert(e.fetchlog.snapshots.size < windowIds.size,
      "windowsPerRun=3 produced one commit per window — batching inert")
    // the fetchlog `run` column carries the GLOBAL WINDOW id: the oracle's
    // per-run canonical order must match 1:1, window for window
    assert(windowIds.toSeq == (1L to windowIds.size), "window ids not contiguous")
    val engineWindows = log.select(col("run"), col("url"), col("seq").cast("string"))
      .as[(Long, String, String)]
      .collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(r => (r._2, BigInt(r._3))).sortBy(_._2).toSeq }
    assert(engineWindows.size == oracle.runOrders.size,
      s"window count: engine=${engineWindows.size} oracle=${oracle.runOrders.size}")
    engineWindows.zip(oracle.runOrders).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got == exp, s"window $i order mismatch: got=${got.take(3)} exp=${exp.take(3)}")
    }
    // per-host politeness budget holds PER WINDOW, not per commit
    val maxPerHostWindow = log.groupBy("run", "host").count()
      .agg(org.apache.spark.sql.functions.max("count")).as[Long].collect().head
    assert(maxPerHostWindow <= budget, s"window host budget exceeded: $maxPerHostWindow")
    assert(e.seenSet() == oracle.seenSet, "window-batched seen set diverged")
    val imgs = e.imageTable().get.select("image_id", "caption")
      .as[(String, String)].collect().toMap
    assert(imgs == oracle.imagesCaptions.toMap, "window-batched payloads diverged")
  }

  test("resume right after a compacting run stays exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("crawl-compact-resume").toString
    def mk() = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
        bloomBuckets = 8, compactEvery = 2, windowsPerRun = 3),
      new SyntheticFetcher(webCfg), web.robots)
    val e1 = mk()
    e1.seed(web.seeds)
    assert(e1.runOnce().isDefined && e1.runOnce().isDefined)
    val head = e1.pending.latestSnapshot.get
    assert(e1.pending.metricOf(head, "compaction").contains(1.0),
      s"pending v$head after run 2 is not a compaction base")
    // a fresh engine starts from that base alone and still has work
    val e2 = mk()
    assert(e2.crawlAll().nonEmpty, "nothing was pending after the compacting run")
    assert(e2.seenSet() == oracle.seenSet, "resume after compaction diverged the seen set")
    val engineWindows = e2.fetchlog.read().get
      .select(col("run"), col("url"), col("seq").cast("string"))
      .as[(Long, String, String)]
      .collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(r => (r._2, BigInt(r._3))).sortBy(_._2).toSeq }
    assert(engineWindows.size == oracle.runOrders.size)
    engineWindows.zip(oracle.runOrders).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got == exp, s"window $i order mismatch after the compaction resume")
    }
    val imgs = e2.imageTable().get.select("image_id", "caption")
      .as[(String, String)].collect()
    assert(imgs.length == imgs.map(_._1).distinct.length)
    assert(imgs.toMap == oracle.imagesCaptions.toMap, "resume after compaction diverged payloads")
    // the seed commit and every pending base are small: one file each
    def parquetFiles(table: String, id: Long): Int = {
      val st = Files.list(java.nio.file.Paths.get(root, table, "data", f"commit-$id%06d"))
      try st.iterator().asScala.count(_.toString.endsWith(".parquet")) finally st.close()
    }
    assert(parquetFiles("frontier", e2.frontier.snapshots.head) == 1, "seed commit files")
    e2.pending.snapshots.foreach(n =>
      assert(parquetFiles("pending", n) == 1, s"pending base v$n files"))
  }

  test("window-batched resume (mixed batch sizes across restarts) stays exact, window ids monotone") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-waves-resume").toString
    def mk(k: Int) = new CrawlEngine(TestSpark.spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries,
        bloomBuckets = 8, windowsPerRun = k),
      new SyntheticFetcher(webCfg), web.robots)
    val e1 = mk(2)
    e1.seed(web.seeds)
    assert(e1.runOnce().isDefined) // windows 1-2 in one commit
    // restart with a DIFFERENT batch size: windowCount resumes from the
    // windows_total manifest metric, so ids stay contiguous + monotone
    val e2 = mk(3)
    e2.crawlAll()
    val log = e2.fetchlog.read().get
    val windowIds = log.select("run").distinct().as[Long].collect().sorted
    assert(windowIds.toSeq == (1L to windowIds.size),
      s"resumed window ids not contiguous: ${windowIds.take(6).toSeq}")
    assert(windowIds.size.toLong == oracle.runOrders.size)
    val engineWindows = log.select(col("run"), col("url"), col("seq").cast("string"))
      .as[(Long, String, String)]
      .collect().groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(r => (r._2, BigInt(r._3))).sortBy(_._2).toSeq }
    engineWindows.zip(oracle.runOrders).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got == exp, s"resumed window $i order mismatch")
    }
    assert(e2.seenSet() == oracle.seenSet, "mixed-batch resume seen set diverged")
    val imgs = e2.imageTable().get.select("image_id").as[String].collect()
    assert(imgs.length == imgs.distinct.length, "batched resume duplicated image rows")
    assert(imgs.toSet == oracle.imagesCaptions.keySet.toSet)
  }
}
