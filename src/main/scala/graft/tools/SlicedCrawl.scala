package graft.tools

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.fetch.SyntheticFetcher
import graft.frontier.Politeness
import graft.table.SnapshotTable
import graft.web.{SyntheticWeb, WebConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** FULL `crawlAll` loop with a MULTI-SLICE URL index at bench scale
  * (VERDICT r04 #5: `dedupeng9` proved `dedupFrontier` at 10^9, but no
  * complete fetch → parse → payload → fold → compaction loop had run
  * with the index split into several broadcast slices).
  *
  * Setup: a root pre-seeded with a 1.34×10^8-attempt fetchlog HISTORY
  * (full engine schema + layout, built once and reused), crawled with a
  * 32 MB per-slice broadcast budget so the engine's own estimate
  * (~160 MB of index) splits the index into several slices — the same
  * estimated-bytes slice count as at 10^9 keys under the default budget,
  * at a scale one box can crawl end-to-end in minutes. The engine then:
  * rebuilds the table-resident index DISTRIBUTIVELY at its own geometry,
  * crawls the synthetic web through per-slice probe scans, FOLDS the
  * accumulated fetchlog delta into the index base every
  * `bloomCommitEvery` runs (SeenSet's delta fold), and
  * bin-packs commit dirs at `compactEvery` cadence.
  *
  * Invariant check: the same web crawled on a FRESH root (default
  * config, exact anti-join) must fetch EXACTLY the same distinct URL
  * set — the seeded history is disjoint from the web, so the sliced
  * machinery must not change one scheduling or dedup decision.
  *
  * Usage: runMain graft.tools.SlicedCrawl [cores] [nSeenLog2] [nHosts] [pages] [budget]
  */
object SlicedCrawl {
  private def session(cores: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-sliced-crawl")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "2048")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seed `root/fetchlog` with nSeen full-schema attempt rows in the
    * engine's production layout (bucket-range-clustered, hash-sorted,
    * parquet Bloom on url_hash). Reused across runs via a params
    * fingerprint, like the dedupeng bench tables. */
  private def ensureSeededRoot(spark: SparkSession, root: String, nSeen: Long,
                               buckets: Int): Unit = {
    val fpFile = Paths.get(root, "seed_params.json")
    // v2: seed carries the engine's current write options (Bloom filter +
    // 128 KB pages); a bumped layout also resets the crawled root, so a
    // re-run crawls fresh instead of draining on the previous session's
    // completed web
    val fp = s"""{"nSeen":$nSeen,"buckets":$buckets,"layout":"crawl-seed-v2"}"""
    if (Files.exists(fpFile) && Files.readString(fpFile) == fp) return
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().forEachRemaining(rm) finally s.close()
      }
      Files.deleteIfExists(p)
    }
    rm(Paths.get(root))
    Files.createDirectories(Paths.get(root))
    val log = new SnapshotTable(spark, s"$root/fetchlog",
      SnapshotTable.bloomFilterFor("url_hash"))
    // disjoint host from the crawled web; url_hash is the real hash of
    // the url so every engine invariant over the column holds
    val rows = spark.range(nSeen).select(
        concat(lit("http://seeded-history.test/u/"), col("id").cast("string")).as("url"))
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("host", lit("seeded-history.test"))
      .withColumn("seq", (col("url_hash") % 1000000000L).cast("decimal(38,0)"))
      .withColumn("depth", lit(0))
      .withColumn("attempt", lit(1))
      .withColumn("status", lit(200))
      .withColumn("error", lit(null).cast("string"))
      .withColumn("run", lit(0L))
      .withColumn("bucket", pmod(col("url_hash"), lit(buckets)).cast("int"))
      .repartitionByRange(buckets * 2, col("bucket"), col("url_hash"))
      .sortWithinPartitions(col("bucket"), col("url_hash"))
    log.commit(rows, Map("n_seed_history" -> nSeen.toDouble))
    Files.writeString(fpFile, fp)
  }

  def main(args: Array[String]): Unit = {
    val cores = args.lift(0).getOrElse("32")
    val nSeen = 1L << args.lift(1).map(_.toInt).getOrElse(27) // 1.34e8 default
    val nHosts = args.lift(2).map(_.toInt).getOrElse(16)
    val pages = args.lift(3).map(_.toInt).getOrElse(100)
    val budget = args.lift(4).map(_.toInt).getOrElse(200)
    val root = "target/bench_slicedcrawl"
    val spark = session(cores)
    val webCfg = WebConfig(nHosts = nHosts, pagesPerHost = pages, hotFactor = 4)
    val web = new SyntheticWeb(webCfg)

    ensureSeededRoot(spark, root, nSeen, buckets = 16)

    // 32 MB budget: geomFor(1.34e8) estimates ~160 MB of index, so the
    // engine broadcasts it in several slices — the same slice planning
    // as 10^9 keys under the default 512 MB
    val cfg = CrawlConfig(root, Politeness(perHostBudget = budget, hostSalts = 4),
      maxBroadcastBytes = 32L * 1024 * 1024, bloomCommitEvery = 4, compactEvery = 8)
    val engine = new CrawlEngine(spark, cfg, new SyntheticFetcher(webCfg), web.robots)
    engine.seed(web.seeds)

    // one-time distributed index rebuild at the engine's own geometry —
    // untimed, exactly like the steady-state index the dedupeng rows warm
    // (a real crawl maintains it incrementally; this is the resume path)
    val warm0 = System.nanoTime()
    val (warmOut, warmCleanup) = engine.dedupFrontier(
      spark.range(1).select(lit("http://warm.test/x").as("url"))
        .withColumn("url_hash", xxhash64(col("url"))))
    warmOut.count(); warmCleanup()
    println(f"SLICED_CRAWL index ready in ${(System.nanoTime() - warm0) / 1e9}%.1f s " +
      s"(urlIndexSlices=${engine.urlIndexSlices}, geom=${engine.urlIndexGeometry})")

    val t0 = System.nanoTime()
    val stats = engine.crawlAll()
    val secs = (System.nanoTime() - t0) / 1e9
    val fetched = stats.map(_.scheduled).sum
    println(f"SLICED_CRAWL runs=${stats.size} fetched=$fetched " +
      f"rate=${fetched / secs}%.1f urls/s wall=$secs%.1f s " +
      s"urlIndexSlices=${engine.urlIndexSlices}")

    // fold/covers evidence: the bloomidx manifest trail
    val idx = engine.bloomidx
    idx.snapshots.foreach { n =>
      println(s"SLICED_CRAWL bloomidx v$n kind=${idx.kindOf(n)} " +
        s"covers=${idx.coversOf(n)} rebuild=${idx.metricOf(n, "rebuild")} " +
        s"compaction=${idx.metricOf(n, "compaction")} " +
        s"buckets=${idx.metricOf(n, "index_buckets")}")
    }

    // invariant: same web on a fresh root (default config) must
    // fetch the same distinct URL set — seeded history is disjoint
    import spark.implicits._
    val crawled = engine.fetchlog.read().get.filter(col("run") > 0)
      .select("url").distinct().as[String].collect().toSet
    val freshRoot = Files.createTempDirectory("sliced-crawl-fresh").toString
    val fresh = new CrawlEngine(spark,
      CrawlConfig(freshRoot, Politeness(perHostBudget = budget, hostSalts = 4)),
      new SyntheticFetcher(webCfg), web.robots)
    fresh.seed(web.seeds)
    fresh.crawlAll()
    val freshSet = fresh.seenSet()
    val diff = (crawled diff freshSet).size + (freshSet diff crawled).size
    println(s"SLICED_CRAWL invariant crawled=${crawled.size} fresh=${freshSet.size} " +
      s"symmetric_diff=$diff ${if (diff == 0) "OK" else "MISMATCH"}")
    spark.stop()
  }
}
