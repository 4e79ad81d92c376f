package graft.tools

import org.apache.spark.sql.SparkSession

/** Re-runnable plan audit behind COVERAGE.md's "Plan audit" section:
  * prints the formatted executed plan of each audited query and PASS/FAIL
  * for the structural claims the audit makes (pushed filters, broadcast
  * joins, no unexpected exchanges). Run:
  * {{{ sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.01" }}}
  */
object PlanAudit {

  final case class Check(query: String, claim: String, pattern: String,
                         mustMatch: Boolean = true)

  /** The structural claims. Patterns are regexes over the FORMATTED
    * explain output of the query's final plan. */
  val checks: Seq[Check] = Seq(
    Check("q02_filter_revenue",
      "all range predicates reach the parquet scan",
      "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_shipdate"),
    Check("q02_filter_revenue",
      "quantity bound pushed too",
      "PushedFilters: \\[[^\\]]*LessThan\\(l_quantity"),
    Check("q04_top_customers",
      "dimension joins broadcast (no shuffle join)",
      "BroadcastHashJoin"),
    Check("q04_top_customers",
      "no sort-merge join anywhere",
      "SortMergeJoin", mustMatch = false),
    Check("q17_frontier_dedup",
      "exact probe is a broadcast LeftAnti",
      "BroadcastHashJoin [^\\n]*LeftAnti"),
    Check("q17_frontier_dedup",
      "seen side fits a broadcast: exact anti-join, no Bloom test",
      "bloom_might_contain", mustMatch = false),
    Check("q26_cosine_topk",
      "1-row query vector broadcast (nested-loop, no shuffle)",
      "BroadcastNestedLoopJoin"),
    Check("q09b_keyed_window",
      "window partitioned by user_id (no global single-partition sort)",
      "hashpartitioning\\(user_id"),
    Check("q09b_keyed_window",
      "no SinglePartition window exchange",
      "Exchange SinglePartition", mustMatch = false),
    Check("q44_config_extract",
      "scan pruned to the page-synthesis columns (no html readthrough)",
      "ReadSchema[^\\n]*p_partkey"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-plan-audit")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var failed = 0
    checks.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, cs) =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.collect() // materialize so AQE finalizes the executed plan
      // formatted mode: full PushedFilters/ReadSchema (plain toString
      // truncates scan metadata, hiding exactly what this audit checks)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"\n===== $q =====")
      cs.foreach { c =>
        val hit = c.pattern.r.findFirstIn(plan).isDefined
        val ok = hit == c.mustMatch
        if (!ok) failed += 1
        println(f"${if (ok) "PASS" else "FAIL"}%-4s ${c.claim} [${c.pattern}]")
      }
    }
    println(s"\nPLAN_AUDIT ${if (failed == 0) "OK" else s"FAILED ($failed)"}")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
