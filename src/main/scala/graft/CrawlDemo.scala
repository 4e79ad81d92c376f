package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.fetch.SyntheticFetcher
import graft.frontier.Politeness
import graft.web.{SyntheticWeb, WebConfig}
import org.apache.spark.sql.SparkSession

/** Drive the crawl engine end-to-end from the CLI:
  * {{{ sbt "runMain graft.CrawlDemo [nHosts] [pagesPerHost] [cores]" }}}
  * Crawls the deterministic synthetic web, prints per-run stats and the
  * final table summaries. The bench harness reuses this path.
  */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val nHosts = args.lift(0).map(_.toInt).getOrElse(8)
    val pages = args.lift(1).map(_.toInt).getOrElse(12)
    val cores = args.lift(2).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val budget = args.lift(3).map(_.toInt).getOrElse(16)
    val salts = args.lift(4).map(_.toInt).getOrElse(1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-crawl-demo")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val webCfg = WebConfig(nHosts = nHosts, pagesPerHost = pages)
    val web = new SyntheticWeb(webCfg)
    val root = java.nio.file.Files.createTempDirectory("crawl-demo").toString
    val engine = new CrawlEngine(spark,
      CrawlConfig(root, Politeness(perHostBudget = budget, hostSalts = salts),
        // per-run AQE stays OFF unless explicitly requested (CrawlConfig
        // default; SPARK_GRAFT_AQE=true turns it back on for A/Bs)
        adaptivePerRun = sys.env.get("SPARK_GRAFT_AQE").contains("true")),
      new SyntheticFetcher(webCfg), web.robots)

    engine.seed(web.seeds)
    // per-run wall via crawlAll's hook; `perfbench/run.py --trace 1`
    // attributes a crawl's jobs per call site and layer
    val t0 = System.nanoTime()
    val stats = scala.collection.mutable.ArrayBuffer.empty[(graft.crawl.RunStats, Double)]
    engine.crawlAll((s, wall) => stats += ((s, wall)))
    val secs = (System.nanoTime() - t0) / 1e9
    stats.foreach { case (s, w) =>
      println(f"run ${s.run}%2d: scheduled=${s.scheduled}%5d ok=${s.fetchedOk}%5d " +
        f"fail=${s.failed}%3d newImages=${s.newImages}%5d newCand=${s.newCandidates}%5d " +
        f"dedupDropped=${s.dedupDropped}%5d delay=${s.delayMsAfter}%6.1fms wall=${w}%5.2fs")
    }
    val fetched = stats.map(_._1.scheduled).sum
    println(f"TOTAL: $fetched fetches, ${engine.seenSet().size} distinct URLs, " +
      f"${engine.imageTable().map(_.count()).getOrElse(0L)} images in $secs%.1fs " +
      f"(${fetched / secs}%.1f urls/s) tables at $root")
    spark.stop()
  }
}
