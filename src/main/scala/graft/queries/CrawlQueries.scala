package graft.queries

import graft.Tables
import graft.frontier.{BloomDedup, Politeness, Scheduler}
import graft.functions.UrlFunctions._
import graft.model.RobotsRule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-operator coverage expressed over the TESTDATA tables so the
  * DuckDB oracle can check the exact same computation (SURVEY.md §2.9,
  * §7.1). The Spark side reuses the engine's REAL operators
  * ([[BloomDedup]], [[Scheduler]], the canonical_url expression); the
  * oracle replays the semantics in plain SQL over independently
  * constructed inputs.
  */
object CrawlQueries {

  /** Deterministic URL synthesis shared by several queries: a URL table
    * derived from lineitem rows (host from partkey, page from orderkey). */
  private def candidateUrls(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.select(
      concat(lit("http://host-"), lpad((col("l_partkey") % 20).cast("string"), 3, "0"),
        lit(".test/page/"), col("l_orderkey").cast("string")).as("url"),
      concat(lit("host-"), lpad((col("l_partkey") % 20).cast("string"), 3, "0"),
        lit(".test")).as("host"),
      col("l_orderkey"), col("l_partkey"))
  }

  /** F6/urlkit: canonicalization of noisy URLs via the custom Catalyst
    * expression; the oracle constructs the canonical form independently. */
  def q16UrlCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val noisy = o.select(
      concat(
        when(col("o_orderkey") % 3 === 0, "http://HOST-").otherwise("http://host-"),
        lpad((col("o_custkey") % 50).cast("string"), 3, "0"),
        when(col("o_orderkey") % 3 === 0, ".TEST:80").otherwise(".test"),
        lit("/page/"), col("o_orderkey").cast("string"),
        when(col("o_orderkey") % 3 === 1, "#frag").otherwise("")
      ).as("noisy_url"))
    noisy.select(canonical_url(col("noisy_url")).as("url"))
      .select(url_host(col("url")).as("host"), col("url"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"), min(col("url")).as("first_url"))
      .orderBy("host")
  }

  val q16Sql: String =
    """SELECT host, COUNT(*) AS n_urls, MIN(url) AS first_url FROM (
      |  SELECT 'host-' || lpad(CAST(o_custkey % 50 AS VARCHAR), 3, '0') || '.test' AS host,
      |         'http://host-' || lpad(CAST(o_custkey % 50 AS VARCHAR), 3, '0') || '.test/page/'
      |           || CAST(o_orderkey AS VARCHAR) AS url
      |  FROM orders)
      |GROUP BY host ORDER BY host""".stripMargin

  /** J4/north-rule dedup: candidates ∖ seen through the library's
    * [[BloomDedup.dedup]]; oracle = NOT EXISTS. The library's exact
    * anti-join never reads the Bloom index, and at this seen size the
    * key-only seen side fits a broadcast. */
  def q17FrontierDedup(spark: SparkSession, dir: String): DataFrame = {
    // distinct on the two SOURCE integers, not the synthesized strings
    // (guide §2.3, shuffle fewer bytes): the URL is a bijection of
    // (l_partkey % 20, l_orderkey), so distinct'ing the 16 B/row key
    // pair shuffles ~4x fewer bytes than the ~70 B/row (url, host)
    // strings, hashes longs instead of strings on both aggregate
    // passes, and synthesizes each distinct URL exactly once, after the
    // exchange (parallel) instead of 600k times on the one-task scan.
    // The distinct row set — and everything downstream — is identical.
    // spreadBy pre-partitions BY the distinct keys: the one-task scan's
    // map-side partial distinct hashed all 600k ~unique pairs for zero
    // reduction; hash-repartitioning first moves that work past the
    // exchange where it runs full-width, and the distinct reuses the
    // partitioning (no second exchange; measured 0.83 s → 0.51 s).
    val li = Tables.load(spark, dir, "lineitem")
    val cand = Tables.spreadBy(
        li.select((col("l_partkey") % 20).as("hk"), col("l_orderkey")),
        col("hk"), col("l_orderkey")).distinct()
      .select(
        concat(lit("http://host-"), lpad(col("hk").cast("string"), 3, "0"),
          lit(".test/page/"), col("l_orderkey").cast("string")).as("url"),
        concat(lit("host-"), lpad(col("hk").cast("string"), 3, "0"),
          lit(".test")).as("host"))
      .withColumn("url_hash", xxhash64(col("url")))
    val o = Tables.load(spark, dir, "orders")
    // same source-integer distinct as the candidate side (the seen URL
    // is a bijection of (o_custkey % 20, o_orderkey))
    val seen = o.filter(col("o_orderkey") % 5 === 0)
      .select((col("o_custkey") % 20).as("hk"), col("o_orderkey")).distinct()
      .select(concat(lit("http://host-"), lpad(col("hk").cast("string"), 3, "0"),
        lit(".test/page/"), col("o_orderkey").cast("string")).as("url"))
      .withColumn("url_hash", xxhash64(col("url")))
    BloomDedup.dedup(cand, seen, None, numBuckets = 16)
      .groupBy("host").agg(count(lit(1)).as("n_new"))
      .orderBy("host")
  }

  val q17Sql: String =
    """WITH cand AS (
      |  SELECT DISTINCT
      |    'http://host-' || lpad(CAST(l_partkey % 20 AS VARCHAR), 3, '0') || '.test/page/'
      |      || CAST(l_orderkey AS VARCHAR) AS url,
      |    'host-' || lpad(CAST(l_partkey % 20 AS VARCHAR), 3, '0') || '.test' AS host
      |  FROM lineitem),
      |seen AS (
      |  SELECT DISTINCT
      |    'http://host-' || lpad(CAST(o_custkey % 20 AS VARCHAR), 3, '0') || '.test/page/'
      |      || CAST(o_orderkey AS VARCHAR) AS url
      |  FROM orders WHERE o_orderkey % 5 = 0)
      |SELECT host, COUNT(*) AS n_new FROM cand
      |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.url = cand.url)
      |GROUP BY host ORDER BY host""".stripMargin

  /** W3/R1-R3: per-host priority-queue scheduling through the REAL
    * Scheduler (robots + budget + politeness plan); the politeness
    * offsets are engine-internal (seeded jitter), so the oracle checks
    * the selection + ranking. */
  def q18HostSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "events")
    val pending = e.select(
      concat(lit("http://host-"), lpad((col("user_id") % 20).cast("string"), 3, "0"),
        lit(".test/page/"), col("event_id").cast("string")).as("url"),
      concat(lit("host-"), lpad((col("user_id") % 20).cast("string"), 3, "0"),
        lit(".test")).as("host"),
      concat(lit("/page/"), col("event_id").cast("string")).as("path"),
      (-(col("event_id") % 7)).cast("double").as("priority"),
      col("event_id").as("seq"),
      lit(0).as("depth"),
      lit(1).as("attempt"))
      .withColumn("url_hash", xxhash64(col("url")))
    val robots = Seq.empty[RobotsRule].toDF()
    Scheduler.schedule(pending, robots, Politeness(perHostBudget = 5))
      .select(col("host"), col("seq"), col("rank"))
      .orderBy("host", "rank")
  }

  val q18Sql: String =
    """SELECT host, seq, rank FROM (
      |  SELECT 'host-' || lpad(CAST(user_id % 20 AS VARCHAR), 3, '0') || '.test' AS host,
      |    event_id AS seq,
      |    CAST(ROW_NUMBER() OVER (
      |      PARTITION BY user_id % 20
      |      ORDER BY CAST(-(event_id % 7) AS DOUBLE) DESC, event_id) AS INTEGER) AS rank
      |  FROM events)
      |WHERE rank <= 5 ORDER BY host, rank""".stripMargin

  /** North-rule robots gate: prefix-disallow filtering with the same
    * array `exists` expression the scheduler uses. */
  def q19RobotsFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.load(spark, dir, "part")
    val pending = p.select(
      concat(lit("host-"), lpad((col("p_partkey") % 10).cast("string"), 3, "0"),
        lit(".test")).as("host"),
      when(col("p_partkey") % 4 === 0,
        concat(lit("/private/"), col("p_partkey").cast("string")))
        .otherwise(concat(lit("/page/"), col("p_partkey").cast("string"))).as("path"))
    val robots = Seq(
      RobotsRule("host-001.test", Seq("/private/")),
      RobotsRule("host-006.test", Seq("/private/"))).toDF()
    pending.join(broadcast(robots), Seq("host"), "left_outer")
      .filter(col("disallow").isNull ||
        !exists(col("disallow"), pre => col("path").startsWith(pre)))
      .groupBy("host").agg(count(lit(1)).as("n_allowed"))
      .orderBy("host")
  }

  val q19Sql: String =
    """SELECT host, COUNT(*) AS n_allowed FROM (
      |  SELECT 'host-' || lpad(CAST(p_partkey % 10 AS VARCHAR), 3, '0') || '.test' AS host,
      |    CASE WHEN p_partkey % 4 = 0 THEN '/private/' || CAST(p_partkey AS VARCHAR)
      |         ELSE '/page/' || CAST(p_partkey AS VARCHAR) END AS path
      |  FROM part)
      |WHERE NOT (host IN ('host-001.test', 'host-006.test') AND path LIKE '/private/%')
      |GROUP BY host ORDER BY host""".stripMargin

  /** R6: typed retry state — latest attempt per key decides
    * succeeded / retryable / dead (engine pendingRetry semantics). */
  def q20RetryState(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val wAtt = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val attempts = e.select(col("user_id"), col("ts"), col("event_id"),
        (col("value") > 5.0).as("ok"))
      .withColumn("attempt", row_number().over(wAtt))
    val wLatest = Window.partitionBy(col("user_id")).orderBy(desc("attempt"))
    attempts.withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1)
      .select(col("user_id"),
        when(col("ok"), "succeeded")
          .when(col("attempt") < 3, "retryable")
          .otherwise("dead").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  val q20Sql: String =
    """SELECT status, COUNT(*) AS n FROM (
      |  SELECT user_id,
      |    CASE WHEN ok THEN 'succeeded'
      |         WHEN attempt < 3 THEN 'retryable'
      |         ELSE 'dead' END AS status
      |  FROM (
      |    SELECT user_id, value > 5.0 AS ok,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS attempt,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn = 1)
      |GROUP BY status ORDER BY status""".stripMargin

  /** §3.1 canonical crawl order: global (priority desc, seq asc) with a
    * deterministic top-100 (the reference's page-asc/row-asc total order). */
  def q21CrawlOrder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val frontier = o.select(
      (-(col("o_orderkey") % 5)).cast("double").as("priority"),
      col("o_orderkey").as("seq"))
    frontier.orderBy(desc("priority"), asc("seq")).limit(100)
      // partition-less Window is safe ONLY because it runs on the 100-row
      // post-limit result; on an unbounded input it would single-task the
      // whole sort — do not copy this shape without the limit upstream
      .withColumn("pos", row_number().over(
        Window.orderBy(desc("priority"), asc("seq"))))
      .select(col("pos"), col("seq"))
      .orderBy("pos")
  }

  val q21Sql: String =
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, seq) AS INTEGER) AS pos, seq FROM (
      |  SELECT CAST(-(o_orderkey % 5) AS DOUBLE) AS pr, o_orderkey AS seq
      |  FROM orders ORDER BY pr DESC, seq LIMIT 100)
      |ORDER BY pos""".stripMargin
}
