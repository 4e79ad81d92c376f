package graft.tools

import graft.frontier.BloomGeometry
import graft.table.SnapshotTable

import java.nio.file.{Files, Path, Paths}

/** Service-lifecycle analogue of the reference's manager CLI
  * (fpds-crawler-manager.py:236-337 — status / metrics / logs over a
  * systemd unit). A Spark deployment's PROCESS lifecycle belongs to
  * spark-submit / YARN / K8s, so the data-plane equivalents read the
  * crawl root's durable state instead: the snapshot-table manifests ARE
  * the journal. Everything here is a driver-side file read — no
  * SparkSession, no job.
  *
  * {{{
  *   sbt "runMain graft.tools.CrawlManager status  <tableRoot>"
  *   sbt "runMain graft.tools.CrawlManager metrics <tableRoot>"
  *   sbt "runMain graft.tools.CrawlManager logs    <tableRoot> [n]"
  * }}}
  */
object CrawlManager {

  private val Tables = Seq("frontier", "pending", "fetchlog", "images", "bloomidx", "imgidx")

  /** Table `name`'s manifest log, read once per report. */
  private def log(root: String, name: String): Seq[SnapshotTable.Manifest] =
    new SnapshotTable(sys.error("CrawlManager is metadata-only"), s"$root/$name").log

  private def appends(root: String): Seq[SnapshotTable.Manifest] =
    log(root, "fetchlog").filter(_.kind == "append")

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum()
      finally s.close()
    }

  private def mb(bytes: Long): String = f"${bytes / 1024.0 / 1024.0}%.1f MB"

  /** `systemctl status` analogue: liveness is the manifest trail. */
  def status(root: String): String = {
    val sb = new StringBuilder
    sb ++= s"=== Crawl status: $root ===\n"
    if (!Files.isDirectory(Paths.get(root))) return sb.append("no such root\n").toString
    val logs = Tables.map(t => t -> log(root, t)).toMap
    val runs = logs("fetchlog").filter(_.kind == "append")
    val state =
      if (runs.isEmpty) "seeded (no completed run)"
      else "idle/crashed-or-drained (resume-safe: last committed snapshot is the checkpoint)"
    sb ++= s"State: $state\n"
    runs.lastOption.foreach { last =>
      sb ++= s"Completed runs: ${runs.size} (last snapshot ${last.id}" + last.committedAtMs
        .map(t => s", committed at ${java.time.Instant.ofEpochMilli(t)}").getOrElse("") + ")\n"
    }
    val bloomHead = logs("bloomidx").lastOption
    // only covers-marked bases are a usable index; below scanProbeMinSeen
    // the URL set writes none
    val plan = bloomHead.flatMap(_.covers)
      .map(c => s"Bloom scan-probe (URL index covers fetchlog v$c)")
      .getOrElse("exact anti-join (no URL index)")
    sb ++= s"Dedup plan: $plan\n"
    val geometry = bloomHead.flatMap(m => BloomGeometry.stored(m.metrics)).map(g =>
      f"${g.indexBuckets} buckets x ${g.capacityPerBucket} keys (capacity ${g.totalCapacity}%,d)")
    sb ++= s"URL index geometry: ${geometry.getOrElse("none")}\n"
    Tables.foreach { t =>
      val head = logs(t).lastOption
      val covers = head.flatMap(_.covers).map(c => s" covers=$c").getOrElse("")
      sb ++= f"  $t%-9s head=${head.fold("-")(_.id.toString)}%-6s " +
        f"kind=${head.fold("-")(_.kind)}$covers rows~${SnapshotTable.totalRows(logs(t))}%,d " +
        s"size=${mb(dirBytes(Paths.get(root, t, "data")))}\n"
    }
    sb.toString
  }

  /** `show_metrics` analogue (manager:306-337): totals from the run
    * manifests instead of systemd properties. */
  def metrics(root: String): String = {
    val sb = new StringBuilder
    sb ++= s"=== Crawl metrics: $root ===\n"
    val runs = appends(root)
    if (runs.isEmpty) return sb.append("no completed runs\n").toString
    def sumMetric(key: String): Double = runs.flatMap(_.metrics.get(key)).sum
    val scheduled = sumMetric("scheduled")
    val ok = sumMetric("fetched_ok")
    val failed = sumMetric("failed")
    sb ++= f"Runs: ${runs.size}%,d\n"
    sb ++= f"Fetches: ${scheduled.toLong}%,d (ok ${ok.toLong}%,d, failed ${failed.toLong}%,d)\n"
    sb ++= f"New images: ${sumMetric("new_images").toLong}%,d\n"
    sb ++= f"New candidates: ${sumMetric("new_candidates").toLong}%,d  " +
      f"(links seen ${sumMetric("links_seen").toLong}%,d, dedup-dropped ${sumMetric("dedup_dropped").toLong}%,d)\n"
    val times = runs.flatMap(_.committedAtMs)
    if (times.size >= 2) {
      val secs = (times.max - times.min) / 1000.0
      if (secs > 0)
        sb ++= f"Throughput (run-1..run-N wall): ${scheduled / secs}%.1f urls/s over $secs%.0f s\n"
    }
    sb ++= s"Storage: " + Tables.map(t =>
      s"$t=${mb(dirBytes(Paths.get(root, t)))}").mkString(", ") + "\n"
    sb.toString
  }

  /** `journalctl -n` analogue: the last `n` runs' metric lines. */
  def logs(root: String, n: Int): String =
    appends(root).takeRight(n).map { m =>
      val line = Seq("scheduled", "fetched_ok", "failed", "new_images",
        "new_candidates", "delay_ms")
        .flatMap(k => m.metrics.get(k).map(v => f"$k=${v}%.0f"))
        .mkString(" ")
      f"run ${m.id}%-5d $line"
    }.mkString("\n") + "\n"

  def main(args: Array[String]): Unit = args.toList match {
    case "status" :: root :: Nil => print(status(root))
    case "metrics" :: root :: Nil => print(metrics(root))
    case "logs" :: root :: rest =>
      print(logs(root, rest.headOption.map(_.toInt).getOrElse(20)))
    case _ => println("usage: CrawlManager <status|metrics|logs> <tableRoot> [n]")
  }
}
