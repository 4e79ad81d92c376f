package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.fetch.SyntheticFetcher
import graft.frontier.{BloomGeometry, Politeness}
import graft.images.ImageKit
import graft.oracle.OracleCrawler
import graft.table.SnapshotTable
import graft.urlkit.UrlKit
import graft.web.{SyntheticWeb, WebConfig}
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Config invariance (SURVEY.md §5: "same" means equal to the
  * single-threaded oracle): whatever the engine's performance knobs and
  * wherever a crawl restarts, it fetches, orders, stores and maintains
  * exactly what the oracle's crawl of the same web does. One ScalaCheck
  * property over small webs, run through `Test.check` with a fixed seed
  * and case count.
  *
  * Listed examples run first and count toward the cases: the one here and
  * the CrawlEngineSpec tests built on [[CrawlInvarianceSpec.example]].
  * Each pins a regime (a sliced index, the maintenance cadence, a restart
  * right after a compaction, …) and asserts from the manifests that its
  * crawl reached it. A failing case shrinks by resetting one knob at a
  * time to its default, and the failure prints the shrunk case as a
  * `Case(...)` expression: pass it to `example` to re-run it alone. */
class CrawlInvarianceSpec extends AnyFunSuite {
  import CrawlInvarianceSpec._

  test("example: one window per run, maintenance every 3 runs, adaptive execution") {
    val e = example(SpecWeb.copy(windowsPerRun = 1, compactEvery = 3, scanProbeMinSeen = 0L,
      bloomBuckets = 4, adaptivePerRun = true)).engine
    assert(e.fetchlog.dataSnapshots.size >= 6, "too short a crawl to see the cadence")
    assert(Seq(e.bloomidx, e.imgidx).exists(_.log.exists(isCompaction)), "no index fold")
    assert(Seq(e.fetchlog, e.images, e.frontier).exists(_.log.exists(_.kind == "merge")),
      "no merge")
  }

  test(s"$DrawnCases drawn configs and restart points equal the oracle") {
    check(gen, DrawnCases)(_ => _ => ())
  }
}

object CrawlInvarianceSpec extends Assertions {
  val MaxRetries = 3
  val PropertySeed = 16L
  /** With the examples, 16 cases. */
  val DrawnCases = 11
  private val Defaults = CrawlConfig("")

  val isCompaction = (m: SnapshotTable.Manifest) => m.metrics.get("compaction").contains(1.0)

  /** Crawl `c` and check it against the oracle. */
  private def verify(c: Case): Outcome = {
    val web = new SyntheticWeb(c.web)
    val oracle = new OracleCrawler(web, c.budget, MaxRetries)
    oracle.seed(web.seeds)
    oracle.crawlAll()
    val spark = TestSpark.spark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", c.shufflePartitions.toString)
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-inv").toString
    def engine(windows: Int) =
      new CrawlEngine(spark, c.config(root, windows), new SyntheticFetcher(c.web), web.robots)

    // ---- the crawl: up to r runs, a crash, then a fresh engine ----------
    val first = engine(c.windowsPerRun)
    first.seed(web.seeds)
    val restart = c.restartAfter.map { r =>
      var runs = 0
      while (runs < r && first.runOnce().isDefined) runs += 1
      // the crash leaves a prepared, never published fetchlog commit
      first.fetchlog.prepare(Seq(("http://ghost.test/", 0L, "ghost.test", 0, 1, 200, "", 99L))
        .toDF("url", "url_hash", "host", "depth", "attempt", "status", "error", "run")
        .withColumn("seq", lit(0).cast("decimal(38,0)")), Some("seq"))
      (first.fetchlog.latestSnapshot.getOrElse(0L), first.pending.log.lastOption)
    }
    val e = if (restart.isEmpty) first else engine(c.restartWindows)
    val resumedRuns = e.crawlAll().size
    def windowsInForce(commit: Long): Int =
      if (restart.exists(commit > _._1)) c.restartWindows else c.windowsPerRun

    // ---- the fetchlog, collected once: seen set, windows, politeness ---
    val log = e.fetchlog.read().get
      .select(col("run"), col("url"), col("host"), col("seq").cast("string"), col("attempt"))
      .as[(Long, String, String, String, Int)].collect().toSeq
    val seen = log.map(_._2).toSet
    if (seen != oracle.seenSet) fail(s"seen set: extra ${(seen -- oracle.seenSet).take(3)}, " +
      s"missing ${(oracle.seenSet -- seen).take(3)}")
    CrawlChecks.assertWindowOrders(log.map(r => (r._1, r._2, BigInt(r._4))), oracle)
    val windows = e.fetchlog.log.filter(_.kind == "append").map(m =>
      m.id -> m.metrics.getOrElse("windows", fail(s"fetchlog v${m.id} has no windows")).toInt)
    assert(windows.map(_._2).sum == oracle.runOrders.size, s"windows per commit $windows")
    windows.foreach { case (id, w) =>
      assert(w <= windowsInForce(id), s"fetchlog v$id ran $w windows, over ${windowsInForce(id)}")
    }
    log.groupBy(r => (r._1, r._3)).foreach { case ((w, host), rows) =>
      assert(rows.size <= c.budget, s"window $w fetched $host ${rows.size} times")
    }
    val disallowed = web.robots.map(r => r.host -> r.disallow).toMap
    log.foreach { case (_, url, host, _, attempt) =>
      assert(!disallowed.getOrElse(host, Nil).exists(UrlKit.path(url).startsWith(_)),
        s"robots.txt of $host disallows $url")
      assert(attempt <= MaxRetries, s"$url attempted $attempt times")
    }

    // ---- payloads ------------------------------------------------------
    val imgs = e.imageTable().toSeq.flatMap(_.select("image_id", "caption", "phash")
      .as[(String, String, Long)].collect())
    val dups = imgs.groupBy(_._1).collect { case (id, rs) if rs.size > 1 => id }
    if (dups.nonEmpty) fail(s"${dups.size} image ids stored twice: ${dups.take(3)}")
    val captions = imgs.map(r => r._1 -> r._2).toMap
    if (captions != oracle.imagesCaptions.toMap) fail("payloads: " +
      s"extra ${(captions.toSet -- oracle.imagesCaptions).take(3)}, " +
      s"missing ${(oracle.imagesCaptions.toSet -- captions).take(3)}")
    imgs.foreach { case (id, _, phash) =>
      assert(phash == ImageKit.phash(ImageKit.generate(id)._1), s"phash of $id")
    }

    // ---- index state and the maintenance cadence, from the manifests ---
    for ((name, table, idx) <- Seq(("bloomidx", e.fetchlog, e.bloomidx),
                                   ("imgidx", e.images, e.imgidx))) {
      if (table.totalRows < c.scanProbeMinSeen)
        assert(idx.log.isEmpty, s"$name written below scanProbeMinSeen")
      idx.log.lastOption.foreach(m => assert(m.kind == "base" && m.covers.nonEmpty,
        s"$name head v${m.id} is not a covers-marked base"))
      assert(!idx.log.exists(_.kind == "append"), s"$name holds an append")
    }
    val due = e.fetchlog.dataSnapshots.zipWithIndex
      .collect { case (r, i) if (i + 1) % c.compactEvery == 0 => r }.toSet
    def runsOf(t: SnapshotTable)(pick: SnapshotTable.Manifest => Boolean): Set[Long] =
      t.log.filter(pick).map(m => m.metrics.getOrElse("run",
        fail(s"maintenance commit v${m.id} carries no run")).toLong).toSet
    val pendingRuns = runsOf(e.pending)(isCompaction)
    val foldRuns = runsOf(e.bloomidx)(isCompaction) ++ runsOf(e.imgidx)(isCompaction)
    val mergeRuns = Seq(e.fetchlog, e.images, e.frontier).flatMap(t => runsOf(t)(_.kind == "merge"))
    assert(pendingRuns == due, s"pending compactions at $pendingRuns, due at $due")
    assert(foldRuns.subsetOf(due) && mergeRuns.forall(due),
      s"folds at $foldRuns, merges at $mergeRuns, due at $due")
    def parquetFiles(table: String, id: Long): Int = {
      val st = Files.list(Paths.get(root, table, "data", f"commit-$id%06d"))
      try st.iterator().asScala.count(_.toString.endsWith(".parquet")) finally st.close()
    }
    assert(parquetFiles("frontier", e.frontier.snapshots.head) == 1, "seed commit files")
    e.pending.snapshots.foreach(n => assert(parquetFiles("pending", n) == 1, s"pending v$n files"))

    // ---- a fresh engine on the drained root ----------------------------
    val rows = e.fetchlog.totalRows
    val stored = CrawlChecks.storedGeometry(e.bloomidx)
    val (logHead, idxHead, imgHead) =
      (e.fetchlog.latestSnapshot, e.bloomidx.latestSnapshot, e.imgidx.latestSnapshot)
    val fresh = engine(if (restart.isEmpty) c.windowsPerRun else c.restartWindows)
    assert(fresh.crawlAll().isEmpty && fresh.fetchlog.latestSnapshot == logHead,
      "a fresh engine on the drained root fetched")
    val (out, cleanup) = fresh.dedupFrontier(CrawlChecks.freshUrls(spark, 16))
    try assert(out.count() == 16, "fresh URLs dropped by the resumed dedup") finally cleanup()
    val rebuilt = fresh.bloomidx.log.exists(m =>
      idxHead.forall(m.id > _) && m.metrics.get("rebuild").contains(1.0))
    assert(rebuilt == (rows >= c.scanProbeMinSeen && stored.forall(_.totalCapacity < rows)),
      s"resume rebuilt the URL index: $rebuilt, stored $stored, $rows rows")
    assert(fresh.imgidx.latestSnapshot == imgHead, "resume wrote the image index")
    Outcome(c, e, restart.flatMap(_._2), resumedRuns, rebuilt)
  }

  /** The slices the URL index's stored geometry needs at the case's
    * broadcast budget. */
  def urlSlices(o: Outcome): Int = BloomGeometry.slicesFitting(
    CrawlChecks.storedGeometry(o.engine.bloomidx).getOrElse(fail("no URL index")),
    o.c.maxBroadcastBytes)

  /** `cases` cases of `gen` through `Test.check`; `extra` adds a case's
    * regime assertions. */
  def check(gen: Gen[Case], cases: Int)(extra: Case => Outcome => Unit): Unit = {
    implicit val shrink: Shrink[Case] = Shrink.withLazyList(_.shrinks)
    val params = Test.Parameters.default.withMinSuccessfulTests(cases).withWorkers(1)
      .withInitialSeed(PropertySeed)
    val res = Test.check(params, Prop.forAll(gen) { c => extra(c)(verify(c)); true })
    def failing(args: List[Prop.Arg[Any]]) = args.headOption.fold("?")(a =>
      s"${a.arg} (shrunk in ${a.shrinks} steps from ${a.origArg}), property seed $PropertySeed")
    res.status match {
      case Test.Passed | Test.Proved(_) => assert(res.succeeded == cases)
      case Test.PropException(args, e, _) => fail(s"${failing(args)}: ${e.getMessage}", e)
      case Test.Failed(args, labels) => fail(s"${failing(args)} ${labels.mkString(", ")}")
      case other => fail(s"property ended $other")
    }
  }

  /** `ex` through the property as a one-case check: the outcome of its
    * crawl, or a failure naming the case it shrank to. */
  def example(ex: Case): Outcome = {
    var out = Option.empty[Outcome]
    // mapped, so shrinking is not sieved to the constant itself
    check(Gen.const(()).map(_ => ex), 1)(c => o => if (c == ex) out = Some(o))
    out.getOrElse(fail(s"$ex was never crawled"))
  }

  /** The web CrawlEngineSpec crawls. */
  val SpecWeb = Case(webSeed = 42L, hosts = 6, hotFactor = 4, failPct = 5, budget = 8)

  /** A crawled case: the engine that finished it, the pending head at the
    * restart, the runs after the restart, and whether a fresh engine on
    * the drained root rebuilt the URL index. */
  final case class Outcome(c: Case, engine: CrawlEngine,
                           pendingAtRestart: Option[SnapshotTable.Manifest],
                           resumedRuns: Int, resumeRebuilt: Boolean)

  /** One case: a small web, a budget, the engine's performance knobs and
    * an optional restart after run `restartAfter` with `restartWindows`
    * windows per run. A knob at its default is the engine's default (the
    * shuffle partitions: the test session's). */
  final case class Case(webSeed: Long, hosts: Int, hotFactor: Int, failPct: Int, budget: Int,
                        windowsPerRun: Int = Defaults.windowsPerRun,
                        compactEvery: Int = Defaults.compactEvery,
                        scanProbeMinSeen: Long = Defaults.scanProbeMinSeen,
                        bloomBuckets: Int = Defaults.bloomBuckets,
                        maxBroadcastBytes: Long = Defaults.maxBroadcastBytes,
                        capacityFloor: Long = Defaults.bloomCapacityFloor,
                        hostSalts: Int = 1,
                        shufflePartitions: Int = 4,
                        adaptivePerRun: Boolean = Defaults.adaptivePerRun,
                        restartAfter: Option[Int] = None,
                        restartWindows: Int = Defaults.windowsPerRun) {
    def web: WebConfig = WebConfig(seed = webSeed, nHosts = hosts, pagesPerHost = 10,
      hotFactor = hotFactor, failPct = failPct, imagesPerPage = 3, linksPerPage = 4)

    def config(root: String, windows: Int): CrawlConfig =
      CrawlConfig(root, Politeness(perHostBudget = budget, hostSalts = hostSalts), MaxRetries,
        bloomBuckets = bloomBuckets, compactEvery = compactEvery,
        maxBroadcastBytes = maxBroadcastBytes, scanProbeMinSeen = scanProbeMinSeen,
        bloomCapacityFloor = capacityFloor, adaptivePerRun = adaptivePerRun,
        windowsPerRun = windows)

    private def defaults = Case(webSeed, hosts, hotFactor, failPct, budget)

    /** This case with one knob reset to its default, for each knob off it. */
    def shrinks: LazyList[Case] = {
      val d = defaults
      LazyList(copy(windowsPerRun = d.windowsPerRun), copy(compactEvery = d.compactEvery),
        copy(scanProbeMinSeen = d.scanProbeMinSeen), copy(bloomBuckets = d.bloomBuckets),
        copy(maxBroadcastBytes = d.maxBroadcastBytes), copy(capacityFloor = d.capacityFloor),
        copy(hostSalts = d.hostSalts), copy(shufflePartitions = d.shufflePartitions),
        copy(adaptivePerRun = d.adaptivePerRun),
        copy(restartAfter = None, restartWindows = d.restartWindows),
        copy(restartWindows = d.restartWindows)).filter(_ != this).distinct
    }

    /** The web, then each knob off its default, as a pasteable expression. */
    override def toString: String =
      productElementNames.zip(productIterator).zip(defaults.productIterator).zipWithIndex
        .collect { case (((n, v), d), i) if i < 5 || v != d =>
          s"$n = ${v match { case l: Long => s"${l}L"; case x => x }}"
        }.mkString("Case(", ", ", ")")
  }

  val gen: Gen[Case] = for {
    seed <- Gen.choose(0L, 1L << 40)
    hosts <- Gen.choose(4, 6)
    hotFactor <- Gen.choose(1, 4)
    failPct <- Gen.choose(0, 15)
    budget <- Gen.choose(4, 8)
    windowsPerRun <- Gen.choose(1, 3)
    compactEvery <- Gen.oneOf(1, 2, 3, 8)
    scanProbeMinSeen <- Gen.oneOf(0L, 1L, Defaults.scanProbeMinSeen)
    bloomBuckets <- Gen.oneOf(2, 4, 8, 16)
    maxBroadcastBytes <- Gen.oneOf(1024L, 400L * 1024, Defaults.maxBroadcastBytes)
    capacityFloor <- Gen.oneOf(4L, 16L, 64L, Defaults.bloomCapacityFloor)
    hostSalts <- Gen.choose(1, 4)
    shufflePartitions <- Gen.oneOf(1, 4, 7)
    adaptivePerRun <- Gen.oneOf(false, true)
    restartAfter <- Gen.oneOf(Gen.const(Option.empty[Int]), Gen.choose(1, 3).map(Option(_)))
    restartWindows <- if (restartAfter.isEmpty) Gen.const(Defaults.windowsPerRun) else Gen.choose(1, 3)
  } yield Case(seed, hosts, hotFactor, failPct, budget, windowsPerRun, compactEvery,
    scanProbeMinSeen, bloomBuckets, maxBroadcastBytes, capacityFloor, hostSalts,
    shufflePartitions, adaptivePerRun, restartAfter, restartWindows)
}
