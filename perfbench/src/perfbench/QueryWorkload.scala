package perfbench

import graft.{Bench, SparkEntry, Tables}
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The ten headline queries over a parquet data set (`--data-dir`).
  * Closed loop: passes over the ten queries, each collected to the
  * driver, in an order permuted per pass from the seed, until
  * `--seconds` have passed (at least one pass). The results are then
  * written once, untimed, for run.py's DuckDB / python-oracle check. */
final class QueryWorkload(spark: SparkSession, args: Main.Args,
                          tracer: Option[JobTracer]) {
  private val dir = args.dataDir.getOrElse(sys.error("query-sf0.1 needs --data-dir"))
  private val calls = new CallSpans
  private val MiB = 1024.0 * 1024.0

  def run(): Main.Outcome = {
    // set-up: session, every table opened, and one untimed pass (the
    // first pass of a fresh JVM pays class loading, JIT and codegen)
    Tables.names.filter(t => Files.exists(Paths.get(dir, s"$t.parquet")))
      .foreach(t => Tables.load(spark, dir, t).count())
    calls("pass.warmup")(Bench.headline.foreach(q => SparkEntry.queries(q)(spark, dir).collect()))
    val setupS = (Main.nowEpochNs() - args.launchedNs) / 1e9

    val rng = new scala.util.Random(args.seed)
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      passes += calls("pass") {
        rng.shuffle(Bench.headline).map { q =>
          q -> calls(q)(Main.timedS(SparkEntry.queries(q)(spark, dir).collect())._2)
        }.toMap
      }
    }
    val rssMb = Main.rssPeakMb()
    val heapMb = Main.liveHeapMb()
    val tracedMs = tracer.map(_.overheadMs)

    val out = args.work.resolve("query_out")
    Main.deleteTree(out)
    Bench.headline.foreach(q =>
      SparkEntry.queries(q)(spark, dir).write.parquet(out.resolve(q).toString))
    val sql = Bench.headline.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
      .map { case (q, s) => Main.quote(q) + ":" + Main.quote(s) }.mkString("{", ",", "}")
    Files.writeString(out.resolve("oracle_sql.json"), sql)

    val passS = passes.map(_.values.sum).toSeq
    val perQuery = Bench.headline.map(q => q -> Main.median(passes.map(_(q)).toSeq))
    val notes = Seq(f"query seed ${args.seed}: ${passes.size} pass(es), pass_s p50 " +
      f"${Main.median(passS)}%.3f, VmHWM $rssMb%.0f MB; " + perQuery.map { case (q, s) => f"$q=$s%.3f" }.mkString(" "))
    val metrics =
      if (tracer.isEmpty) Seq(
        ("setup_s", setupS, "s"),
        ("query_pass_s", Main.median(passS), "s"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        BenchBus.drain(spark.sparkContext)
        val callSpans = calls.all
        val allJobs = tracer.get.jobSpans(callSpans, calls.idBase)
        Main.writeSpans(args.work.resolve("trace").resolve(s"query-sf0.1-seed${args.seed}.spans.jsonl"),
          callSpans ++ allJobs)
        val timedQueries = callSpans.filter(q => callSpans.exists(p => p.id == q.parent && p.name == "pass"))
          .map(_.id).toSet
        val jobs = allJobs.filter(j => timedQueries.contains(j.parent))
        val n = passes.size.toDouble
        val passWallMs = passS.sum * 1000
        perQuery.map { case (q, s) => (s"queries.${q}_ms", s * 1000, "ms") } ++ Seq(
          // every job under a timed query call: the collect is the
          // benchmark's own call, so attribution by graft frame misses it
          ("queries.jobs", jobs.size / n, "count"),
          ("queries.shuffle_write_mb", jobs.map(_.attrs("shuffle_write_bytes")).sum / MiB / n, "MB"),
          ("spark.input_mb", jobs.map(_.attrs("input_bytes")).sum / MiB / n, "MB"),
          ("trace.overhead_pct", tracedMs.get / passWallMs * 100, "%"))
      }
    Main.Outcome(passes.size * Bench.headline.size.toLong, 0L, metrics, notes)
  }
}
