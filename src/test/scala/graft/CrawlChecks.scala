package graft

import graft.frontier.BloomGeometry
import graft.oracle.OracleCrawler
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, xxhash64}
import org.scalatest.Assertions

/** The crawl checks the engine specs share: the per-window oracle
  * comparison, a fresh-URL probe and the index geometry a table's
  * manifests store. */
object CrawlChecks extends Assertions {

  /** A fetchlog's (window, url, seq) rows, collected once. */
  def windowRows(log: DataFrame): Seq[(Long, String, BigInt)] = {
    val spark = log.sparkSession
    import spark.implicits._
    log.select(col("run"), col("url"), col("seq").cast("string"))
      .as[(Long, String, String)].collect().toSeq.map(r => (r._1, r._2, BigInt(r._3)))
  }

  /** Window ids are exactly 1..K for the oracle's K windows, and each
    * window's (url, seq) rows in seq order equal the oracle's canonical
    * order for that window. */
  def assertWindowOrders(rows: Seq[(Long, String, BigInt)], oracle: OracleCrawler): Unit = {
    val byWindow = rows.groupBy(_._1)
    val ids = byWindow.keys.toSeq.sorted
    if (ids != (1L to oracle.runOrders.size))
      fail(s"window ids ${ids.take(6)}…${ids.lastOption}, oracle windows 1..${oracle.runOrders.size}")
    oracle.runOrders.zipWithIndex.foreach { case (exp, i) =>
      val got = byWindow(i + 1L).map(r => (r._2, r._3)).sortBy(_._2)
      if (got != exp) fail(s"window ${i + 1} order: got ${got.take(3)}…, oracle ${exp.take(3)}…")
    }
  }

  /** `n` URLs on a host no synthetic web links to, with their url_hash. */
  def freshUrls(spark: SparkSession, n: Int): DataFrame =
    spark.range(n).select(concat(lit("http://fresh.test/"), col("id").cast("string")).as("url"))
      .withColumn("url_hash", xxhash64(col("url")))

  /** The geometry stored with an index table's latest commit. */
  def storedGeometry(idx: SnapshotTable): Option[BloomGeometry] =
    idx.log.lastOption.flatMap(m => BloomGeometry.stored(m.metrics))
}
