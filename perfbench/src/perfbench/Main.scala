package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** One benchmark invocation in a fresh JVM: start a session, run one
  * workload for the requested seconds, check its outputs, and write the
  * measurements as JSON to `--out` (run.py prints the result line).
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR
  *       --out FILE --launched-ns EPOCH_NS --build-id ID [--data-dir DIR] */
object Main {
  /** Exit code of a JVM that only built a fixture; run.py starts a fresh
    * one to measure. */
  val FixtureBuilt = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path, launchedNs: Long, buildId: String,
                        dataDir: Option[String])

  /** What a workload hands back: operations attempted/failed, metrics
    * (name → value, unit), and human-readable notes for stdout. */
  final case class Outcome(attempted: Long, failed: Long,
                           metrics: Seq[(String, Double, String)], notes: Seq[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("out")), m("launched-ns").toLong, m("build-id"),
      m.get("data-dir"))
  }

  /** The session every workload runs in: local[N] over all cores, the
    * same settings as the repository's bench harness. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "2048")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(Runtime.getRuntime.availableProcessors())
    val tracer = if (a.trace) Some(new JobTracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val outcome = a.workload match {
      case w if CrawlWorkload.specs.contains(w) =>
        val crawl = new CrawlWorkload(spark, CrawlWorkload.specs(w), a, tracer)
        if (crawl.buildFixture()) {
          spark.stop()
          sys.exit(FixtureBuilt)
        }
        crawl.run()
      case "query-sf0.1" => new QueryWorkload(spark, a, tracer).run()
      case w => sys.error(s"unknown workload $w")
    }
    spark.stop()
    val metrics = outcome.metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val notes = outcome.notes.map(quote).mkString("[", ",", "]")
    Files.writeString(a.out,
      s"""{"attempted":${outcome.attempted},"failed":${outcome.failed},"metrics":$metrics,"notes":$notes}""")
  }

  // ---- helpers shared by the workloads --------------------------------

  def nowEpochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** A JSON string literal. */
  def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timedS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap still in use after a full collection, in MB: the memory the
    * program retains (engine state, caches, broadcasts), steadier than
    * the resident-set peak, which moves with the collector's timing. */
  def liveHeapMb(): Double = {
    // twice: the first collection lets Spark's cleaner release the
    // broadcasts and shuffles whose handles it finds unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Writes all spans, one JSON object per line. */
  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.start).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
      val children = spans.filter(_.parent == s.id).map(c => (c.start, c.end))
      val self = s.ms - Span.unionMs(children, s.start, s.end)
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","kind":"${s.kind}",""" +
        s""""layer":"${s.layer}","file":"${s.file}","start_ms":${num(s.start)},""" +
        s""""end_ms":${num(s.end)},"dur_ms":${num(s.ms)},"self_ms":${num(self)},"attrs":$attrs}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
