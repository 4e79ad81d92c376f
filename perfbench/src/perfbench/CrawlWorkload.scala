package perfbench

import graft.crawl.{CrawlConfig, CrawlEngine, RunStats}
import graft.fetch.{FetchStage, SyntheticFetcher}
import graft.frontier.{Politeness, Scheduler}
import graft.images.ImageKit
import graft.oracle.OracleCrawler
import graft.table.SnapshotTable
import graft.urlkit.UrlKit
import graft.web.{SyntheticWeb, WebConfig}
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** A crawl workload: the synthetic web (`hosts` × `pages`, host 0 four
  * times larger), the per-host budget per politeness window, and the
  * size of the fetchlog history the root starts with (0 = fresh root). */
final case class CrawlSpec(name: String, hosts: Int, pages: Int, budget: Int,
                           historyLog2: Int = 0) {
  def historyRows: Long = if (historyLog2 > 0) 1L << historyLog2 else 0L
}

object CrawlWorkload {
  val specs: Map[String, CrawlSpec] = Seq(
    CrawlSpec("crawl-toy", hosts = 16, pages = 100, budget = 150),
    CrawlSpec("crawl-wide", hosts = 64, pages = 300, budget = 1000),
    CrawlSpec("crawl-deep", hosts = 16, pages = 100, budget = 150, historyLog2 = 19)
  ).map(s => s.name -> s).toMap

  /** History rows live on a host the synthetic web never links to. */
  val HistoryHost = "seeded-history.test"
  private val HostSalts = 4
  private val MaxRetries = CrawlConfig("").maxRetries
  private val StorageBuckets = CrawlConfig("").bloomBuckets
  private val MiB = 1024.0 * 1024.0
  /** Repetitions of each set-up step and direct layer call; the median
    * is reported. */
  private val Reps = 3
}

/** Closed loop, one driver thread: construct an engine on a prepared
  * root, seed it, `crawlAll` to drain, and repeat until `--seconds` have
  * passed (at least one crawl). Each crawl is one operation. It fails if
  * it throws, or if the URLs it attempted differ from those of the
  * single-threaded [[OracleCrawler]] on the same web, budget and retries. */
final class CrawlWorkload(spark: SparkSession, spec: CrawlSpec, args: Main.Args,
                          tracer: Option[JobTracer]) {
  import CrawlWorkload._
  import spark.implicits._

  private val webCfg = WebConfig(seed = args.seed, nHosts = spec.hosts,
    pagesPerHost = spec.pages, hotFactor = 4)
  private val web = new SyntheticWeb(webCfg)
  private val calls = new CallSpans
  private val notes = mutable.ArrayBuffer.empty[String]

  /** The shipped defaults, except the per-host budget and host salting
    * of the workload; a history root lowers the scan-probe threshold to
    * half its history so the mature-crawl dedup regime governs. */
  private def config(root: Path): CrawlConfig = {
    val c = CrawlConfig(root.toString, Politeness(perHostBudget = spec.budget, hostSalts = HostSalts))
    if (spec.historyRows > 0) c.copy(scanProbeMinSeen = spec.historyRows / 2) else c
  }

  private def newEngine(root: Path): CrawlEngine =
    new CrawlEngine(spark, config(root), new SyntheticFetcher(webCfg), web.robots)

  private final case class Crawl(root: Path, engine: CrawlEngine, stats: Seq[RunStats],
                                 runS: Seq[Double], crawlS: Double, firstCommitS: Double)

  // ---- fixtures --------------------------------------------------------

  private val fixtureDir = args.work.resolve("fixtures").resolve(s"history-${spec.historyLog2}")
  private val fixtureStamp = fixtureDir.resolve("fingerprint.json")
  private val fixtureFingerprint =
    s"""{"rows":${spec.historyRows},"buckets":$StorageBuckets,""" +
      s""""host":"$HistoryHost","layout":"fetchlog-v1","build":"${args.buildId}"}"""

  /** Builds the history root unless the one on disk has this fingerprint
    * (rows, layout, program build); returns whether it built one. The
    * caller then exits, so the measuring JVM never carries the build's
    * set-up time or JIT warmth. */
  def buildFixture(): Boolean =
    spec.historyRows > 0 &&
      !(Files.exists(fixtureStamp) && Files.readString(fixtureStamp) == fixtureFingerprint) && {
        Main.deleteTree(fixtureDir)
        val (_, s) = Main.timedS(writeHistory(fixtureDir.resolve("root")))
        Files.writeString(fixtureStamp, fixtureFingerprint) // last: a crashed build is redone
        System.err.println(f"history fixture built: ${spec.historyRows} rows in $s%.1f s")
        true
      }

  /** The history root for a history workload (built by [[buildFixture]]). */
  private def historyFixture(): Option[Path] =
    if (spec.historyRows == 0) None else Some(fixtureDir.resolve("root"))

  /** Fetchlog-schema attempt rows in the engine's layout (bucket-range
    * clustered, hash-sorted, parquet Bloom filter on url_hash), all on
    * [[HistoryHost]], committed as one snapshot. */
  private def writeHistory(root: Path): Unit = {
    val log = new SnapshotTable(spark, root.resolve("fetchlog").toString,
      SnapshotTable.bloomFilterFor("url_hash"))
    val rows = spark.range(spec.historyRows)
      .select(concat(lit(s"http://$HistoryHost/u/"), col("id").cast("string")).as("url"))
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("host", lit(HistoryHost))
      .withColumn("seq", (col("url_hash") % 1000000000L).cast("decimal(38,0)"))
      .withColumn("depth", lit(0))
      .withColumn("attempt", lit(1))
      .withColumn("status", lit(200))
      .withColumn("error", lit(null).cast("string"))
      .withColumn("run", lit(0L))
      .withColumn("bucket", pmod(col("url_hash"), lit(StorageBuckets)).cast("int"))
      .repartitionByRange(StorageBuckets * 2, col("bucket"), col("url_hash"))
      .sortWithinPartitions(col("bucket"), col("url_hash"))
    log.commit(rows, Map("n_seed_history" -> spec.historyRows.toDouble))
  }

  /** A fresh crawl root (with a copy of the history, if any); returns
    * the root and the seconds the preparation took. */
  private def prepareRoot(i: Int, fixture: Option[Path]): (Path, Double) = {
    val root = args.work.resolve("roots").resolve(s"${spec.name}-$i")
    Main.deleteTree(root)
    val (_, s) = Main.timedS {
      Files.createDirectories(root)
      fixture.foreach(Main.copyTree(_, root))
    }
    (root, s)
  }

  // ---- the measured operation ------------------------------------------

  private def crawl(root: Path): Crawl = calls("crawl") {
    val t0 = System.nanoTime()
    val engine = calls("engine.construct")(newEngine(root))
    calls("engine.seed")(engine.seed(web.seeds))
    var firstCommitS = Double.NaN
    val runS = mutable.ArrayBuffer.empty[Double]
    val stats = calls("engine.crawlAll")(engine.crawlAll { (_, secs) =>
      val end = Clock.nowMs
      calls.record("runOnce", end - secs * 1000, end)
      if (firstCommitS.isNaN) firstCommitS = (System.nanoTime() - t0) / 1e9
      runS += secs
    })
    Crawl(root, engine, stats, runS.toSeq, (System.nanoTime() - t0) / 1e9, firstCommitS)
  }

  /** The URLs a crawl attempted (history rows excluded). */
  private def crawledUrls(c: Crawl): Set[String] =
    if (spec.historyRows == 0) c.engine.seenSet()
    else c.engine.fetchlog.read().get.filter(col("run") > 0)
      .select("url").distinct().as[String].collect().toSet

  def run(): Main.Outcome = {
    // set-up: the session (once per JVM, measured from the launch) plus
    // the median of three root preparations — the roots the crawls use
    val sessionS = (Main.nowEpochNs() - args.launchedNs) / 1e9
    val fixture = historyFixture()
    val prepared = (0 until Reps).map(prepareRoot(_, fixture))
    val setupS = sessionS + Main.median(prepared.map(_._2))

    val crawls = mutable.ArrayBuffer.empty[Crawl]
    var thrown = 0L
    val t0 = System.nanoTime()
    while (thrown == 0 && (crawls.isEmpty || (System.nanoTime() - t0) / 1e9 < args.seconds)) {
      val i = crawls.size
      val root = if (i < prepared.size) prepared(i)._1 else prepareRoot(i, fixture)._1
      try crawls += crawl(root)
      catch { case e: Exception => thrown += 1; notes += s"crawl $i threw: $e" }
    }
    val tracedMs = tracer.map(_.overheadMs).getOrElse(0.0)
    val rssMb = Main.rssPeakMb()
    val heapMb = Main.liveHeapMb() // the last crawl's engine is still referenced
    if (crawls.isEmpty) sys.error(notes.mkString("; "))

    // output check, untimed
    val (oracleSeen, oracleS) = Main.timedS {
      val o = new OracleCrawler(web, spec.budget, MaxRetries)
      o.seed(web.seeds)
      o.crawlAll()
      o.seenSet
    }
    val bad = crawls.count { c =>
      val got = crawledUrls(c)
      if (got != oracleSeen) notes += s"${c.root.getFileName}: ${got.size} urls vs oracle " +
        s"${oracleSeen.size} (${(got diff oracleSeen).size} extra, ${(oracleSeen diff got).size} missing)"
      got != oracleSeen
    }

    val fetched = crawls.map(_.stats.map(_.scheduled).sum).sum
    val runS = crawls.flatMap(_.runS).toSeq
    notes += f"${spec.name} seed ${args.seed}: ${crawls.size} crawl(s), $fetched fetches, " +
      f"${runS.size} runs (" + runS.map(r => f"$r%.2f").mkString(", ") + " s), " +
      f"run_s_p50 ${Main.median(runS)}%.3f s, first_commit_s " +
      crawls.map(c => f"${c.firstCommitS}%.3f").mkString(", ") + " s, " +
      f"oracle ${oracleSeen.size} urls in $oracleS%.2f s, VmHWM $rssMb%.0f MB"

    val metrics =
      if (tracer.isEmpty) Seq(
        ("setup_s", setupS, "s"),
        ("urls_per_s", fetched / crawls.map(_.crawlS).sum, "1/s"),
        ("heap_live_mb", heapMb, "MB"))
      else layerMetrics(crawls.last, crawls.flatMap(_.stats).toSeq, fixture, oracleS,
        tracedMs / (crawls.map(_.crawlS).sum * 1000) * 100, oracleSeen,
        runS, crawls.map(_.firstCommitS).toSeq)
    Main.Outcome(crawls.size + thrown + probeChecks, bad + thrown + probeFailures,
      metrics, notes.toSeq)
  }

  // ---- traced run: direct layer calls + job attribution -----------------

  private var probeChecks = 0L
  private var probeFailures = 0L

  private def check(what: String, ok: Boolean): Unit = {
    probeChecks += 1
    if (!ok) { probeFailures += 1; notes += s"probe check failed: $what" }
  }

  /** Median milliseconds of `Reps` timed calls, each in a span. */
  private def probeMs(name: String)(f: => Unit): Double =
    Main.median((1 to Reps).map(_ => calls(name)(Main.timedS(f)._2 * 1000)))

  /** Per-layer metrics of a traced run. Job-derived figures are means
    * per micro-run; the direct layer calls run after the crawl, on its
    * finished root, frontier, URLs and image ids. */
  private def layerMetrics(last: Crawl, stats: Seq[RunStats], fixture: Option[Path],
                           oracleS: Double, overheadPct: Double, crawled: Set[String],
                           runS: Seq[Double], firstCommitS: Seq[Double]): Seq[(String, Double, String)] = {
    val engine = last.engine
    val tables = Seq(engine.frontier, engine.pending, engine.fetchlog, engine.images,
      engine.bloomidx, engine.imgidx)
    val resumeMs = probeMs("probe.resume")(newEngine(last.root))
    val readMs = probeMs("probe.read")(tables.foreach(_.read().foreach(_.count())))

    // one politeness window's worth of candidates: half already crawled,
    // half never seen — dedup must keep exactly the unseen half
    val batch = math.max(2, spec.hosts * spec.budget)
    val seenHalf = crawled.toSeq.sorted.take(batch / 2)
    val freshHalf = (0 until batch - seenHalf.size).map(i => s"http://host-000.test/unseen/$i")
    val cand = (seenHalf ++ freshHalf).map(u => (u, UrlKit.xxhash64(u))).toDF("url", "url_hash")
      .persist()
    cand.count()
    var kept = 0L
    val dedupMs = probeMs("probe.dedupFrontier") {
      val (out, cleanup) = engine.dedupFrontier(cand)
      try kept = out.count() finally cleanup()
    }
    check(s"dedupFrontier kept $kept of ${seenHalf.size + freshHalf.size}, expected ${freshHalf.size}",
      kept == freshHalf.size)
    cand.unpersist()

    // the crawl's frontier in the scheduler's pending shape
    val pending = engine.frontier.read().get
      .select("url", "url_hash", "host", "path", "priority", "depth", "seq")
      .withColumn("attempt", lit(1)).persist()
    val nPending = pending.count()
    val robots = web.robots.toDF()
    val pol = Politeness(perHostBudget = spec.budget, hostSalts = HostSalts)
    val scheduleMs = probeMs("probe.schedule")(Scheduler.schedule(pending, robots, pol).count())

    // fetch + link extraction over every URL the crawl discovered
    val scheduled = pending.withColumn("rank", lit(1)).withColumn("sched_offset_ms", lit(0.0))
    var links = 0L
    val fetchMs = probeMs("probe.fetchParse") {
      links = FetchStage.run(scheduled, new SyntheticFetcher(webCfg), HostSalts)
        .select(size(expr("regexp_extract_all(body, '<a href=\"([^\"]*)\"', 1)")).as("n"))
        .agg(sum("n")).as[Long].head()
    }
    check(s"fetch+parse found $links links", links > 0)
    pending.unpersist()

    // image payload: generate + phash, single-threaded on the driver
    val imageIds = engine.imageTable().get.select("image_id").as[String].limit(400).collect()
    val payloadMs = probeMs("probe.imagePayload")(imageIds.foreach { id =>
      ImageKit.phash(ImageKit.generate(id)._1)
    })

    BenchBus.drain(spark.sparkContext)
    val callSpans = calls.all
    val jobs = tracer.get.jobSpans(callSpans, calls.idBase)
    Main.writeSpans(args.work.resolve("trace")
      .resolve(s"${spec.name}-seed${args.seed}.spans.jsonl"), callSpans ++ jobs)

    val runs = callSpans.filter(_.name == "runOnce")
    val runIds = runs.map(_.id).toSet
    val runJobs = jobs.filter(j => runIds.contains(j.parent))
    val n = runs.size.toDouble
    val runMs = runs.map(_.ms).sum / n
    val busyMs = runs.map(r => Span.unionMs(runJobs.filter(_.parent == r.id).map(j => (j.start, j.end)),
      r.start, r.end)).sum / n
    val runActions = tracer.get.actions.filter(a => runs.exists(_.contains(a.startMs)))
    def layer(l: String) = runJobs.filter(_.layer == l)
    def attr(js: Seq[Span], k: String) = js.map(_.attrs(k)).sum
    val historyCommits = fixture.map(f =>
      new SnapshotTable(spark, f.resolve("fetchlog").toString).snapshots.size).getOrElse(0)
    val commits = tables.map(_.snapshots.size).sum - historyCommits
    val links0 = stats.map(s => s.newCandidates + s.dedupDropped).sum
    val fetched = stats.map(_.scheduled).sum
    notes += s"trace: ${callSpans.size + jobs.size} spans; micro-run jobs by layer " +
      runJobs.groupBy(_.layer).map { case (l, js) => s"$l=${js.size}" }.toSeq.sorted.mkString(" ")

    Seq(
      ("crawl.run_ms", runMs, "ms"),
      ("crawl.run_ms_p50", Main.median(runS) * 1000, "ms"),
      ("crawl.first_commit_ms", Main.median(firstCommitS) * 1000, "ms"),
      ("crawl.jobs_per_run", runJobs.size / n, "count"),
      ("crawl.actions_per_run", runActions.size / n, "count"),
      ("crawl.job_busy_ms", busyMs, "ms"),
      ("crawl.driver_only_ms", runMs - busyMs, "ms"),
      ("crawl.catalyst_ms", runActions.map(_.catalystMs).sum / n, "ms"),
      ("crawl.resume_ms", resumeMs, "ms"),
      ("table.jobs", layer("table").size / n, "count"),
      ("table.job_ms", layer("table").map(_.ms).sum / n, "ms"),
      ("table.task_ms", attr(layer("table"), "task_ms") / n, "ms"),
      ("table.output_mb", attr(layer("table"), "output_bytes") / MiB / n, "MB"),
      ("table.commits", commits.toDouble / last.stats.size, "count"),
      ("table.read_ms", readMs, "ms"),
      // frontier job time is in the span file only: on a fresh root the
      // dedup is fused into the crawl layer's jobs and the figure is 0
      ("frontier.jobs", layer("frontier").size / n, "count"),
      ("frontier.schedule_ms", scheduleMs, "ms"),
      ("frontier.dedup_ms", dedupMs, "ms"),
      ("frontier.links_seen", links0 / n, "count"),
      ("frontier.dedup_drop_ratio", stats.map(_.dedupDropped).sum.toDouble / math.max(1, links0), "ratio"),
      ("fetch.scheduled", fetched / n, "count"),
      ("fetch.ok_ratio", stats.map(_.fetchedOk).sum.toDouble / math.max(1, fetched), "ratio"),
      ("fetch.fetch_parse_us_per_url", fetchMs * 1000 / math.max(1, nPending), "us"),
      ("images.new", stats.map(_.newImages).sum / n, "count"),
      ("images.payload_us_per_image", payloadMs * 1000 / math.max(1, imageIds.length), "us"),
      ("spark.shuffle_write_mb", attr(runJobs, "shuffle_write_bytes") / MiB / n, "MB"),
      ("spark.input_mb", attr(runJobs, "input_bytes") / MiB / n, "MB"),
      ("oracle.crawl_ms", oracleS * 1000, "ms"),
      ("trace.overhead_pct", overheadPct, "%"))
  }
}
