package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall clock in epoch milliseconds with nanoTime resolution, so the
  * benchmark's own spans line up with Spark's epoch-ms event times. */
object Clock {
  private val epochMs0 = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval. `kind` is "call" for a benchmark call into the
  * engine and "job" for a Spark job; `parent` is -1 at the top. A job
  * carries the layer and source file it was attributed to. */
final case class Span(id: Int, parent: Int, name: String, kind: String, layer: String,
                      start: Double, end: Double, attrs: Map[String, Double] = Map.empty,
                      file: String = "") {
  def ms: Double = end - start
  def contains(t: Double): Boolean = t >= start && t <= end
}

object Span {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}

/** Spans around the benchmark's calls into the engine. Single-threaded:
  * the benchmark is a closed loop driven from one thread. */
final class CallSpans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def apply[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = Clock.nowMs
    try f
    finally {
      open = open.tail
      done += Span(id, parent, name, "call", "bench", t0, Clock.nowMs)
    }
  }

  /** Records an already finished call under the innermost open span. */
  def record(name: String, start: Double, end: Double): Unit = {
    done += Span(nextId, open.headOption.getOrElse(-1), name, "call", "bench", start, end)
    nextId += 1
  }

  def all: Seq[Span] = done.sortBy(_.id).toSeq
  def idBase: Int = nextId
}

/** Records every Spark job (start, end, task time, bytes) and every
  * Dataset action's Catalyst phases. Each job is attributed to a layer
  * through the call-site stack of the SQL execution that ran it: the
  * first `graft.` frame names the module whose code issued the job. Jobs
  * with no execution id fall back to their first stage's call site. */
final class JobTracer extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val startMs: Long, val execId: Long, val stageSite: String) {
    var endMs: Long = -1L
    var taskMs: Long = 0L
    var shuffleWriteBytes: Long = 0L
    var inputBytes: Long = 0L
    var outputBytes: Long = 0L
  }
  /** One Dataset action: when Catalyst started on it and the summed
    * analysis/optimization/planning time. */
  final case class Action(startMs: Double, catalystMs: Double)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val actionBuf = mutable.ArrayBuffer.empty[Action]
  private var callbackNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    try f finally callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new Job(e.jobId, e.time, exec, e.stageInfos.headOption.map(_.details).getOrElse(""))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.taskMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed { execSite(s.executionId) = s.details }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(record(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    timed(record(qe))

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      actionBuf += Action(phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum.toDouble)
  }

  /** Milliseconds spent inside this tracer's callbacks so far. */
  def overheadMs: Double = synchronized(callbackNs / 1e6)

  def actions: Seq[Action] = synchronized(actionBuf.toSeq)

  /** Finished jobs as spans, each parented to the innermost call span
    * that contains its start. */
  def jobSpans(calls: Seq[Span], firstId: Int): Seq[Span] = synchronized {
    jobs.values.toSeq.filter(_.endMs >= 0).zipWithIndex.map { case (j, i) =>
      val site = execSite.get(j.execId).filter(Layers.hasGraftFrame).getOrElse(j.stageSite)
      val (layer, file) = Layers.of(site)
      val start = j.startMs.toDouble
      val parent = calls.filter(_.contains(start)).sortBy(_.ms).headOption.map(_.id).getOrElse(-1)
      Span(firstId + i, parent, s"job ${j.id}", "job", layer, start, j.endMs.toDouble,
        Map("task_ms" -> j.taskMs.toDouble,
          "shuffle_write_bytes" -> j.shuffleWriteBytes.toDouble,
          "input_bytes" -> j.inputBytes.toDouble,
          "output_bytes" -> j.outputBytes.toDouble),
        file)
    }
  }
}

/** Module → layer names. A call-site stack is attributed by its first
  * `graft.` frame: `graft.<module>.…` maps through [[modules]], the
  * top-level query helpers map to `queries`. */
object Layers {
  private val modules = Map(
    "crawl" -> "crawl", "table" -> "table", "frontier" -> "frontier",
    "fetch" -> "fetch", "parse" -> "fetch", "web" -> "fetch",
    "images" -> "images", "queries" -> "queries",
    "Tables" -> "queries", "SparkEntry" -> "queries")

  private def graftFrame(site: String): Option[String] =
    site.split("\n").iterator.map(_.trim).find(_.startsWith("graft."))

  def hasGraftFrame(site: String): Boolean = graftFrame(site).nonEmpty

  /** (layer, source file) of the first `graft.` frame in a call site. */
  def of(site: String): (String, String) = graftFrame(site) match {
    case Some(frame) =>
      val module = frame.split('.')(1).takeWhile(_ != '$')
      val file = frame.substring(frame.lastIndexOf('(') + 1).takeWhile(c => c != ':' && c != ')')
      (modules.getOrElse(module, "other"), file)
    case None => ("unattributed", "")
  }
}
