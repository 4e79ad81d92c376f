package graft

import graft.CrawlInvarianceSpec.{Outcome, SpecWeb, example, isCompaction, urlSlices}
import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.fetch.{Fetcher, SyntheticFetcher}
import graft.frontier.Politeness
import graft.images.ImageKit
import graft.oracle.OracleCrawler
import graft.web.{FetchResponse, SyntheticWeb, WebConfig}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, concat, lit, row_number, xxhash64}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Try

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

  private def runOracle(w: SyntheticWeb, budget: Int): OracleCrawler = {
    val o = new OracleCrawler(w, budget, maxRetries)
    o.seed(w.seeds)
    o.crawlAll()
    o
  }

  private lazy val oracle = runOracle(web, budget)

  // the index-geometry specs' web: ~1,400 attempts cross toy-scale
  // capacity floors several times
  private val wideCfg = WebConfig(nHosts = 2, pagesPerHost = 700, hotFactor = 1,
    failPct = 0, imagesPerPage = 1, linksPerPage = 6)
  private val wideWeb = new SyntheticWeb(wideCfg)
  private val wideBudget = 400
  private lazy val wideOracle = runOracle(wideWeb, wideBudget)
  private def wideEngine(cfg: CrawlConfig): CrawlEngine =
    new CrawlEngine(TestSpark.spark, cfg, new SyntheticFetcher(wideCfg), wideWeb.robots)

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
    CrawlChecks.assertWindowOrders(CrawlChecks.windowRows(engine.fetchlog.read().get), oracle)
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

  // ---- config invariance at listed examples ---------------------------
  // Each crawl below is one CrawlInvarianceSpec example: the property's
  // oracle checks (seen set, per-window order, payloads, politeness,
  // index state, cadence, a drained-root resume) at one config off the
  // defaults. The tests after them assert the regime each config pins,
  // from the manifests. A failed crawl fails every test that shares it.
  private lazy val oneBucketSalted = Try(example(SpecWeb.copy(maxBroadcastBytes = 1024L,
    scanProbeMinSeen = 0L, compactEvery = 2, bloomBuckets = 8, hostSalts = 4, restartAfter = Some(2))))
  private lazy val twoSlices = Try(example(SpecWeb.copy(maxBroadcastBytes = 400L * 1024,
    scanProbeMinSeen = 0L, compactEvery = 2, bloomBuckets = 8, shufflePartitions = 7)))
  private lazy val scanProbeMixedBatches = Try(example(SpecWeb.copy(windowsPerRun = 2,
    scanProbeMinSeen = 1L, restartAfter = Some(1), restartWindows = 3)))
  private lazy val compactingResume = Try(example(SpecWeb.copy(compactEvery = 2,
    restartAfter = Some(2))))
  private def indexesBuilt(o: Outcome): Boolean =
    o.engine.bloomidx.log.nonEmpty && o.engine.imgidx.log.nonEmpty

  test("host-salted fetch (hostSalts=4, hot-host skew split) produces identical state") {
    assert(oneBucketSalted.get.c.hostSalts == 4)
  }

  test("engine state is invariant to shuffle-partition count (N vs 4N determinism proxy)") {
    assert(twoSlices.get.c.shufflePartitions == 7)
  }

  test("below scanProbeMinSeen both seen sets hold no Bloom state: no index snapshots, state exact") {
    val e = compactingResume.get.engine
    assert(e.bloomidx.log.isEmpty && e.imgidx.log.isEmpty)
  }

  test("bloom and exact-only dedup paths produce identical state") {
    // scan-probe from first use vs the default threshold's anti-join
    assert(indexesBuilt(oneBucketSalted.get), "an index never built")
    assert(!indexesBuilt(compactingResume.get), "an index built below the threshold")
  }

  test("sliced (beyond-broadcast) dedup regime produces identical state") {
    // 8 × 65,536-key blocks (~78.5 KB each) need 2 slices of 400 KB
    assert(urlSlices(twoSlices.get) == 2)
  }

  test("one bucket per slice (1 KB budget): URL and image indexes exact, resume clean") {
    val o = oneBucketSalted.get
    assert(urlSlices(o) == 8)
    assert(indexesBuilt(o), "an index never built")
    assert(!o.resumeRebuilt, "a fresh engine rebuilt the URL index")
  }

  test("bin-pack merges during the crawl: state exact, sliced covers survive, resume clean") {
    for (o <- Seq(oneBucketSalted.get, twoSlices.get)) {
      assert(urlSlices(o) >= 2)
      assert(o.engine.fetchlog.log.exists(_.kind == "merge"), s"no fetchlog merge: ${o.c}")
    }
  }

  test("image dedup entering the scan-probe regime at a commit stays exact") {
    assert(indexesBuilt(scanProbeMixedBatches.get), "an index never built")
  }

  test("resume from last committed snapshot equals uninterrupted run") {
    // restarted after run 2 over an unpublished fetchlog prepare
    assert(oneBucketSalted.get.resumedRuns > 0, "nothing was left after run 2")
  }

  test("window-batched runs (windowsPerRun=3) ≡ oracle: seen set, per-WINDOW order, payloads, budget") {
    val log = compactingResume.get.engine.fetchlog
    assert(log.dataSnapshots.size < log.log.filter(_.kind == "append").map(_.metrics("windows")).sum,
      "windowsPerRun = 3 produced one fetchlog commit per window")
  }

  test("resume right after a compacting run stays exact") {
    val o = compactingResume.get
    assert(o.pendingAtRestart.exists(isCompaction), s"pending head ${o.pendingAtRestart}")
    assert(o.resumedRuns > 0, "nothing was pending after the compacting run")
  }

  test("window-batched resume (mixed batch sizes across restarts) stays exact, window ids monotone") {
    val o = scanProbeMixedBatches.get
    assert(o.engine.fetchlog.log.head.metrics.get("windows").contains(2.0))
    assert(o.resumedRuns > 0, "nothing was left after run 1")
  }

  test("the URL index is table-resident from first use; covers-less index snapshots are never trusted") {
    val root = Files.createTempDirectory("crawl-idxbase").toString
    val e1 = newEngine(root, scanProbeMinSeen = 0L)
    e1.seed(web.seeds)
    // run 1 dedups against an empty fetchlog; run 2's dedup is the
    // index's first use and writes it as a covers-marked base
    assert(e1.runOnce().isDefined && e1.runOnce().isDefined)
    val first = e1.bloomidx.latestSnapshot.get
    assert(e1.bloomidx.manifest(first).kind == "base", s"bloomidx v$first is not a base")
    val covers = e1.bloomidx.manifest(first).covers
    assert(covers.isDefined, s"bloomidx v$first has no covers marker")
    assert(graft.tools.CrawlManager.status(root).contains(
      s"Dedup plan: Bloom scan-probe (URL index covers fetchlog v${covers.get})"))
    // plant a covers-less append shaped like an old block-map checkpoint:
    // the head snapshot as `covers_fetchlog_snapshot` and geometry as
    // metrics, but no covers marker in the manifest
    val head = e1.fetchlog.latestDataSnapshot.get
    val planted = e1.bloomidx.read().get.select("bucket", "bloom")
    val geometry = CrawlChecks.storedGeometry(e1.bloomidx)
      .getOrElse(fail(s"bloomidx v$first stores no geometry"))
    e1.bloomidx.commit(planted.coalesce(1),
      geometry.metrics + ("covers_fetchlog_snapshot" -> head.toDouble))
    assert(e1.bloomidx.log.lastOption.flatMap(_.covers).isEmpty)
    assert(graft.tools.CrawlManager.status(root).contains(
      "Dedup plan: exact anti-join (no URL index)"))
    val plantedV = e1.bloomidx.latestSnapshot.get
    // a fresh engine must rebuild rather than read the planted blocks
    val e2 = newEngine(root, scanProbeMinSeen = 0L)
    e2.crawlAll()
    val rebuilt = e2.bloomidx.snapshots.filter(n => n > plantedV &&
      e2.bloomidx.manifest(n).metrics.get("rebuild").contains(1.0))
    assert(rebuilt.nonEmpty, s"no rebuild after the covers-less snapshot v$plantedV")
    rebuilt.foreach(n =>
      assert(e2.bloomidx.manifest(n).kind == "base" && e2.bloomidx.manifest(n).covers.nonEmpty))
    assert(e2.seenSet() == oracle.seenSet, "covers-less index resume diverged")
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
    val o = runOracle(deepWeb, deepBudget)
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
    CrawlChecks.assertWindowOrders(CrawlChecks.windowRows(e.fetchlog.read().get), o)
  }

  test("geometry resize: crawling past the index capacity rebuilds bigger blocks, fpp stays at target, state exact (VERDICT r03 #1)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a low capacity floor scales the resize schedule down to spec size:
    // 4 buckets × 64 keys = 256-key initial capacity, crossed within the
    // first runs of a ~1400-attempt crawl → several doubling rebuilds
    val floor = 64L
    val buckets = 4
    val root = Files.createTempDirectory("crawl-resize").toString
    // windowsPerRun = 1 pins the per-run resize SCHEDULE the assertions
    // below are calibrated on: resize fires at the next run's geometry
    // check, so end-of-crawl capacity covers the history within ONE
    // window's intake. Batched windows widen that (documented) lag to
    // one batch — the catch-up contract under batching has its own test.
    val e = wideEngine(
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = buckets, scanProbeMinSeen = 0L,
        bloomCapacityFloor = floor, windowsPerRun = 1))
    e.seed(wideWeb.seeds)
    e.crawlAll()

    assert(e.seenSet() == wideOracle.seenSet, "resize diverged the seen set")
    val attempts = e.fetchlog.read().get.count()
    assert(attempts > buckets * floor * 2,
      s"crawl too small ($attempts attempts) to cross the resize point — widen the web")
    // the standing geometry grew past the floor and covers the history
    val geometry = CrawlChecks.storedGeometry(e.bloomidx).get
    assert(geometry.totalCapacity >= attempts,
      s"geometry $geometry never resized past $attempts attempts")
    val lastIdx = e.bloomidx.latestSnapshot.get
    val storedCap = geometry.capacityPerBucket
    assert(storedCap > floor, s"persisted capacity $storedCap never grew past the floor")

    // fpp evidence (the saturation this fixes was fpp→1): fresh keys
    // against the ENGINE-built blocks of the latest index base must read
    // "maybe seen" at ~the 1% build target, not ≈ 100%
    val idxBuckets = geometry.indexBuckets
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

    // a fresh engine drains clean and probes the persisted blocks: their
    // capacity covers the rows, so its dedup commits no rebuild
    val e2 = wideEngine(
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = buckets, scanProbeMinSeen = 0L,
        bloomCapacityFloor = floor))
    e2.crawlAll()
    val (out, cleanup) = e2.dedupFrontier(CrawlChecks.freshUrls(spark, 16))
    assert(out.count() == 16, "fresh keys dropped by the resumed dedup")
    cleanup()
    val rebuilt = e2.bloomidx.log.filter(m =>
      m.id > lastIdx && m.metrics.get("rebuild").contains(1.0)).map(_.id)
    assert(rebuilt.isEmpty, s"resume rebuilt the index (v${rebuilt.mkString(", v")}) " +
      s"though $geometry holds ${e2.fetchlog.totalRows} rows")
    assert(e2.seenSet() == wideOracle.seenSet, "post-resize resume diverged")
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
    val root = Files.createTempDirectory("crawl-resize-batched").toString
    val e = wideEngine(
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = buckets, scanProbeMinSeen = 0L,
        bloomCapacityFloor = floor, windowsPerRun = 3))
    e.seed(wideWeb.seeds)
    e.crawlAll()
    val attempts = e.fetchlog.read().get.count()
    assert(attempts > buckets * floor * 2, s"crawl too small ($attempts)")
    // lag bound: one batch = windowsPerRun × (hosts × budget) schedulable
    val maxBatch = 3L * 2 * wideBudget
    val lagging = CrawlChecks.storedGeometry(e.bloomidx).get
    assert(lagging.totalCapacity + maxBatch >= attempts,
      s"geometry $lagging lags $attempts attempts by more than one batch")
    // catch-up: the next dedup pass re-derives geometry from the
    // post-crawl estimate and rebuilds — capacity then covers history
    val (out, cleanup) = e.dedupFrontier(CrawlChecks.freshUrls(spark, 64))
    assert(out.count() == 64, "fresh keys dropped by the catch-up dedup")
    cleanup()
    val caughtUp = CrawlChecks.storedGeometry(e.bloomidx).get
    assert(caughtUp.totalCapacity >= attempts,
      s"post-crawl dedup left geometry $caughtUp below $attempts attempts")
  }

  test("geometry resize in the SLICED regime: distributed rebuild + delta-fold compaction, state exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-resize-sliced").toString
    val e = wideEngine(
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = 4, compactEvery = 2,
        scanProbeMinSeen = 0L, bloomCapacityFloor = 64L))
    e.seed(wideWeb.seeds)
    e.crawlAll()
    assert(e.seenSet() == wideOracle.seenSet, "sliced resize diverged the seen set")
    val manifests = e.bloomidx.snapshots.map(n =>
      (e.bloomidx.manifest(n).metrics.get("expected_per_bucket").map(_.toLong),
        e.bloomidx.manifest(n).kind))
    // growth visible in the persisted geometry trail…
    assert(manifests.flatMap(_._1).distinct.size >= 2,
      s"no geometry growth across bloomidx commits: $manifests")
    // …and the recent-delta fold compaction ran (per-run appends are gone)
    assert(e.bloomidx.snapshots.exists(n =>
        e.bloomidx.manifest(n).metrics.get("compaction").contains(1.0)),
      "no fold compaction commit — maintenance cadence broken")
    assert(!e.bloomidx.snapshots.exists(n => e.bloomidx.manifest(n).kind == "append"),
      "sliced regime still appends per-run index deltas")
    // the image-id index runs the same schedule over ~1400 ids against
    // the same 4 × 64-key floor: growth, no appends. (A maintaining run
    // whose ids outgrew the geometry, or that added none, skips its fold —
    // the next test pins the image fold cadence.)
    val imgGeoms = e.imgidx.snapshots.flatMap(n =>
      e.imgidx.manifest(n).metrics.get("expected_per_bucket").map(_.toLong))
    assert(imgGeoms.distinct.size >= 2,
      s"no geometry growth across imgidx commits: $imgGeoms")
    assert(!e.imgidx.snapshots.exists(n => e.imgidx.manifest(n).kind == "append"),
      "sliced image regime appends per-run index deltas")
    // image payload table exact under the sliced image index too
    val ids = e.imageTable().get.select("image_id").as[String].collect()
    assert(ids.length == ids.distinct.length)
    assert(ids.toSet == wideOracle.imagesCaptions.keySet.toSet)
  }

  test("image-id index in the SLICED regime: delta-fold compaction at the maintenance cadence, no appends, payloads exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the resize test's web, with a floor (4 × 512 keys) that already
    // holds its ~1400 ids: no resize pre-empts the fold, so every
    // maintaining run with new ids since the base's covers marker folds
    // them in
    val root = Files.createTempDirectory("crawl-imgfold").toString
    val e = wideEngine(
      CrawlConfig(root, Politeness(perHostBudget = wideBudget), maxRetries,
        bloomBuckets = 4, compactEvery = 2,
        scanProbeMinSeen = 0L, bloomCapacityFloor = 512L))
    e.seed(wideWeb.seeds)
    e.crawlAll()
    val kinds = e.imgidx.snapshots.map(n =>
      (e.imgidx.manifest(n).kind, e.imgidx.manifest(n).metrics.get("compaction"),
        e.imgidx.manifest(n).covers))
    val folds = e.imgidx.snapshots.filter(n =>
      e.imgidx.manifest(n).metrics.get("compaction").contains(1.0))
    assert(folds.nonEmpty, s"no imgidx fold compaction commit: $kinds")
    // each fold is a covers-marked base at a run after which the
    // fetchlog's data-commit count is even
    val evenRuns = e.fetchlog.dataSnapshots.zipWithIndex
      .collect { case (r, i) if (i + 1) % 2 == 0 => r }.toSet
    folds.foreach { n =>
      assert(e.imgidx.manifest(n).kind == "base" && e.imgidx.manifest(n).covers.nonEmpty,
        s"fold $n: $kinds")
      assert(e.imgidx.manifest(n).metrics.get("run").exists(r => evenRuns(r.toLong)),
        s"fold $n off cadence: $kinds")
    }
    assert(!e.imgidx.snapshots.exists(n => e.imgidx.manifest(n).kind == "append"),
      s"sliced image regime appends per-run index deltas: $kinds")
    val imgs = e.imageTable().get.select("image_id", "caption")
      .as[(String, String)].collect()
    assert(imgs.length == imgs.map(_._1).distinct.length, "image fold duplicated rows")
    assert(imgs.toMap == wideOracle.imagesCaptions.toMap, "image fold diverged the payload table")
  }

  test("a history exactly at a capacity step rebuilds no index in run 2") {
    val spark = TestSpark.spark
    // 4 buckets × 64 keys: the floor geometry holds exactly the history
    val (buckets, floor) = (4, 64L)
    val root = Files.createTempDirectory("crawl-capstep").toString
    val e = new CrawlEngine(spark,
      CrawlConfig(root, Politeness(perHostBudget = budget), maxRetries, bloomBuckets = buckets,
        scanProbeMinSeen = 0L, bloomCapacityFloor = floor, windowsPerRun = 1),
      new SyntheticFetcher(webCfg), web.robots)
    // buckets × floor fetched attempts on a host the web never links to
    e.fetchlog.commit(spark.range(buckets * floor).select(
        concat(lit("http://history.test/u/"), col("id").cast("string")).as("url"),
        col("id").cast("decimal(38,0)").as("seq"))
      .select(col("url"), xxhash64(col("url")).as("url_hash"), lit("history.test").as("host"),
        col("seq"), lit(0).as("depth"), lit(1).as("attempt"), lit(200).as("status"),
        lit(null).cast("string").as("error"), lit(0L).as("run")), Map.empty)
    e.seed(web.seeds)
    def rebuilds = e.bloomidx.log.filter(_.metrics.get("rebuild").contains(1.0)).map(_.id)
    // run 1's pending rebuild builds the index over the history
    assert(e.runOnce().isDefined)
    assert(rebuilds.size == 1, s"run 1 built the URL index ${rebuilds.size} times")
    val afterRun1 = e.bloomidx.latestSnapshot.get
    // run 2 adds run 1's attempts to the history: the index must still hold them
    assert(e.runOnce().isDefined)
    val run2 = rebuilds.filter(_ > afterRun1)
    assert(run2.isEmpty, s"run 2 rebuilt the URL index (v${run2.mkString(", v")}): " +
      s"${CrawlChecks.storedGeometry(e.bloomidx)} for ${e.fetchlog.totalRows} rows")
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
    assert(e2.pending.snapshots.exists(e2.pending.manifest(_).metrics.get("rebuild").contains(1.0)),
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
    assert(e.pending.snapshots.count(
        e.pending.manifest(_).metrics.get("compaction").contains(1.0)) >= 2,
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

  test("retrying runOnce on the same engine after a failed commit keeps window ids 1..K") {
    val root = Files.createTempDirectory("crawl-retry").toString
    val e = newEngine(root)
    e.seed(web.seeds)
    // the images prepare throws after the run's windows have executed
    val blocker = java.nio.file.Paths.get(root, "images", "data")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, Array[Byte](0))
    intercept[Exception](e.runOnce())
    Files.delete(blocker)
    assert(e.crawlAll().nonEmpty)
    CrawlChecks.assertWindowOrders(CrawlChecks.windowRows(e.fetchlog.read().get), oracle)
    assert(e.seenSet() == oracle.seenSet, "the retried engine diverged the seen set")
  }
}
