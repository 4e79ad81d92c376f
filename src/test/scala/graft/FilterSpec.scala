package graft

import graft.frontier.BloomDedup
import org.scalatest.funsuite.AnyFunSuite

class FilterSpec extends AnyFunSuite {

  test("bucket-sliced dedup == exact anti-join on an index exceeding the per-slice budget") {
    // The 10^10 regime in miniature: the FULL block map is bigger than the
    // (scaled-down) broadcast budget, but every slice fits it. The index is
    // fed as per-run APPENDED rows (two rows per bucket) so the slice path
    // also exercises the distributed merge.
    val spark = TestSpark.spark
    import spark.implicits._
    val numBuckets = 64
    val numSlices = 8
    val rnd = new scala.util.Random(101)
    val seenHashes = (1 to 60000).map(_ => rnd.nextLong()).distinct
    val candHashes = (seenHashes.take(20000) ++ (1 to 40000).map(_ => rnd.nextLong())).distinct
    val (seenA, seenB) = seenHashes.splitAt(seenHashes.size / 2)
    val seen = seenHashes.toDF("url_hash")
    val cand = candHashes.map(h => (h, s"u$h")).toDF("url_hash", "url")

    // index appended in two "runs" — mergeIndex must fold them per bucket
    val idxRows = BloomDedup.buildIndex(seenA.toDF("url_hash"), numBuckets,
        expectedPerBucket = 2048)
      .union(BloomDedup.buildIndex(seenB.toDF("url_hash"), numBuckets,
        expectedPerBucket = 2048))

    val fullBytes = BloomDedup.collectBlocks(BloomDedup.mergeIndex(idxRows))
      .values.map(_.length.toLong).sum
    val budget = fullBytes / 4 // a budget the full index exceeds
    assert(fullBytes > budget)

    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    BloomDedup.dedupSliced(cand, seen, idxRows, numBuckets, numSlices) { (s, df) =>
      // per-slice block map must fit the budget (the whole point)
      val sliceIdx = BloomDedup.mergeIndex(
        idxRows.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("bucket"),
          org.apache.spark.sql.functions.lit(numSlices)) === s))
      val sliceBytes = BloomDedup.collectBlocks(sliceIdx).values.map(_.length.toLong).sum
      assert(sliceBytes <= budget, s"slice $s blocks $sliceBytes exceed budget $budget")
      got ++= df.select("url_hash").as[Long].collect()
    }
    val exact = cand.join(seen, Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect()
    assert(got.sorted.toSeq == exact.sorted.toSeq,
      s"sliced dedup diverged: got ${got.size}, exact ${exact.length}")

    // scanProbe mode: per-slice broadcasts still destroyed in-loop, but
    // the probe frames stay lazy — union them and consume in ONE action
    val parts = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val cleanup = BloomDedup.dedupSliced(cand, seen, idxRows, numBuckets, numSlices,
      scanProbe = true) { (_, df) => parts += df }
    val gotScan =
      try parts.reduce(_.unionByName(_)).select("url_hash").as[Long].collect().sorted.toSeq
      finally cleanup()
    assert(gotScan == exact.sorted.toSeq,
      s"scan-probe sliced dedup diverged: got ${gotScan.size}, exact ${exact.length}")
  }

  test("standing slice handles: == exact, index loaded once across runs, invalidate reloads") {
    // the micro-run steady state (VERDICT r04): the index is immutable
    // between fold commits, so its slice blocks are collected+broadcast
    // ONCE and reused by every pass — not re-read per pass
    val spark = TestSpark.spark
    import spark.implicits._
    val numBuckets = 64
    val numSlices = 8
    val rnd = new scala.util.Random(211)
    val seenHashes = (1 to 40000).map(_ => rnd.nextLong()).distinct
    val candHashes = (seenHashes.take(12000) ++ (1 to 30000).map(_ => rnd.nextLong())).distinct
    val seen = seenHashes.toDF("url_hash")
    val cand = candHashes.map(h => (h, s"u$h")).toDF("url_hash", "url")
    val idxRows = BloomDedup.buildIndex(seen, numBuckets, expectedPerBucket = 2048)
      .cache()
    idxRows.count()

    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val cache = new BloomDedup.SliceBlockCache(spark, s => {
      loads.incrementAndGet()
      BloomDedup.collectBlocks(BloomDedup.mergeIndex(
        idxRows.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("bucket"),
          org.apache.spark.sql.functions.lit(numSlices)) === s)))
    })
    val exact = cand.join(seen, Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect().sorted.toSeq

    def onePass(): Seq[Long] = {
      val parts = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      val cleanup = BloomDedup.dedupSliced(cand, seen, idxRows, numBuckets, numSlices,
        scanProbe = true, sliceBlocks = cache.get) { (_, df) => parts += df }
      try parts.reduce(_.unionByName(_)).select("url_hash").as[Long].collect().sorted.toSeq
      finally cleanup()
    }
    assert(onePass() == exact, "standing-handle pass 1 diverged from exact")
    assert(loads.get() == numSlices, s"expected one load per slice, got ${loads.get()}")
    assert(onePass() == exact, "standing-handle pass 2 diverged from exact")
    assert(loads.get() == numSlices,
      s"second pass must reuse the standing handles, loads=${loads.get()}")
    // index "changed": invalidate destroys the broadcasts and rotates the
    // epoch base — the next pass reloads and stays exact (stale executor
    // cache entries keyed by the old epochs can never serve the new ones)
    cache.invalidate()
    assert(onePass() == exact, "post-invalidate pass diverged from exact")
    assert(loads.get() == 2 * numSlices,
      s"invalidate must force a reload, loads=${loads.get()}")
    idxRows.unpersist()
  }

  test("scan-probe dedup == exact: broadcast probe, bucket pruning, fallback, zipf multiplicity") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val rnd = new scala.util.Random(77)
    val seenHashes = (1 to 5000).map(_ => rnd.nextLong()).distinct
    // zipf-ish candidate batch: a hot SEEN key repeated 2000×, a hot NEW
    // key repeated 500×, plus a mixed tail — left-anti multiplicity (dup
    // candidate rows stay duplicated) must survive every probe plan
    val hotSeen = seenHashes.head
    val hotNew = 424242L
    val tail = seenHashes.take(800) ++ (1 to 1500).map(_ => rnd.nextLong())
    val candHashes = Seq.fill(2000)(hotSeen) ++ Seq.fill(500)(hotNew) ++ tail
    val seen = seenHashes.toDF("url_hash")
    val cand = candHashes.zipWithIndex.map { case (h, i) => (h, s"u$i") }
      .toDF("url_hash", "url")
    val exact = cand.join(seen, Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(exact.size == exact.distinct.size + 499, "zipf setup lost the hot-new dups")
    val blocks = BloomDedup.collectBlocks(
      BloomDedup.buildIndex(seen, 16, expectedPerBucket = 1024))

    def run(seenDf: org.apache.spark.sql.DataFrame, maxRows: Long): Seq[Long] = {
      val (out, cleanup) = BloomDedup.dedupScan(cand, seenDf, blocks, 16, maxRows)
      try out.select("url_hash").as[Long].collect().sorted.toSeq
      finally cleanup()
    }
    assert(run(seen, 4L << 20) == exact) // broadcast scan-probe
    assert(run(seen, 1L) == exact)       // shuffle fallback (survivors > cap)
    // bucket-bearing seen side: the probe prunes to the survivors' buckets
    val seenB = seen.withColumn("bucket", pmod(col("url_hash"), lit(16)).cast("int"))
    assert(run(seenB, 4L << 20) == exact)
    // zero-survivor batch: the seen set must never be probed, result = input
    val fresh = Seq((111L, "a"), (222L, "b")).toDF("url_hash", "url")
    val (out0, c0) = BloomDedup.dedupScan(fresh, seen, blocks, 16)
    try assert(out0.select("url_hash").as[Long].collect().sorted.toSeq == Seq(111L, 222L))
    finally c0()
  }

  test("scan-probe with a string joinKey == exact: identity is the key, the hash only prefilters") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // ids engineered so two DISTINCT ids share a url_hash (a planted
    // 64-bit collision): joinKey-exact dedup must keep the new one
    val seenIds = (1 to 300).map(i => s"img-$i")
    val seen0 = seenIds.toDF("image_id")
      .withColumn("url_hash", xxhash64(col("image_id")))
    // candidate "clone-of-img-5" forced onto img-5's hash via a seen side
    // that carries img-5's hash for BOTH ids
    val cand = (Seq("img-5", "img-7", "new-1", "new-2", "clone-of-img-5")
      .map(id => (id, "payload")))
      .toDF("image_id", "caption")
      .withColumn("url_hash",
        org.apache.spark.sql.functions.when(col("image_id") === "clone-of-img-5",
          xxhash64(lit("img-5"))).otherwise(xxhash64(col("image_id"))))
    val exact = cand.join(seen0.select("image_id"), Seq("image_id"), "left_anti")
      .select("image_id").as[String].collect().sorted.toSeq
    assert(exact == Seq("clone-of-img-5", "new-1", "new-2"))
    val blocks = BloomDedup.collectBlocks(BloomDedup.buildIndex(
      seen0.select("url_hash"), 16, expectedPerBucket = 1024))
    def run(seenDf: org.apache.spark.sql.DataFrame, maxRows: Long): Seq[String] = {
      val (out, cleanup) = BloomDedup.dedupScan(cand, seenDf, blocks, 16, maxRows,
        joinKey = "image_id")
      try out.select("image_id").as[String].collect().sorted.toSeq
      finally cleanup()
    }
    assert(run(seen0.select("image_id"), 4L << 20) == exact,
      "broadcast probe: hash-colliding new id must survive")
    assert(run(seen0.select("image_id"), 1L) == exact, "shuffle fallback")
    val seenB = seen0.withColumn("bucket", pmod(col("url_hash"), lit(16)).cast("int"))
      .select("image_id", "bucket")
    assert(run(seenB, 4L << 20) == exact, "bucket-pruned probe")
  }

  test("point-lookup probe == exact; survivor IN pushes to the sorted parquet scan") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // the probe's IN(url_hash,…) must reach parquet as a real In filter,
    // not a min/max range — the engine sets the same threshold
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "2048")
    val rnd = new scala.util.Random(99)
    val seenHashes = (1 to 50000).map(_ => rnd.nextLong()).distinct
    // small-survivor batch: ~60 true dups + fpp — well inside the 1024
    // point-lookup cap, so plan 2 (collected keys pushed into the scan)
    // is the one being exercised
    val candHashes = (seenHashes.take(60) ++ (1 to 4000).map(_ => rnd.nextLong())).distinct
    // the seen side lives ON DISK in the engine's layout: bucket-range
    // clustered AND hash-sorted within files (SnapshotTable.Cluster), which is
    // what makes page-level column indexes tight on url_hash
    val dir = java.nio.file.Files.createTempDirectory("pointlookup").toString
    seenHashes.toDF("url_hash")
      .withColumn("bucket", pmod(col("url_hash"), lit(16)).cast("int"))
      .repartitionByRange(16, col("bucket"), col("url_hash"))
      .sortWithinPartitions(col("bucket"), col("url_hash"))
      .write.mode("overwrite").parquet(dir)
    val seenDisk = spark.read.parquet(dir)
    val cand = candHashes.map(h => (h, s"u$h")).toDF("url_hash", "url")
    val exact = cand.join(seenDisk.select("url_hash"), Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect().sorted.toSeq
    val blocks = BloomDedup.collectBlocks(
      BloomDedup.buildIndex(seenDisk.select("url_hash"), 16, expectedPerBucket = 65536))
    val (out, cleanup) = BloomDedup.dedupScan(cand, seenDisk, blocks, 16)
    try assert(out.select("url_hash").as[Long].collect().sorted.toSeq == exact)
    finally cleanup()
    // plan evidence: a literal IN over survivors pushes to the scan
    val probePlan = seenDisk
      .filter(col("url_hash").isin(seenHashes.take(60).map(java.lang.Long.valueOf): _*))
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(url_hash".r.findFirstIn(probePlan).isDefined,
      s"survivor IN not pushed to the parquet scan:\n$probePlan")
  }

  test("index buckets decoupled from storage buckets: scan-probe and sliced dedup == exact") {
    // the geometry schedule grows INDEX buckets past the fixed storage
    // layout (BloomGeometry): blocks keyed at 64 buckets, the seen
    // table's materialized bucket column at 16 — every probe plan must
    // still equal the exact anti-join
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val rnd = new scala.util.Random(55)
    val seenHashes = (1 to 20000).map(_ => rnd.nextLong()).distinct
    val candHashes = (seenHashes.take(5000) ++ (1 to 9000).map(_ => rnd.nextLong())).distinct
    val seenB = seenHashes.toDF("url_hash")
      .withColumn("bucket", pmod(col("url_hash"), lit(16)).cast("int"))
    val cand = candHashes.map(h => (h, s"u$h")).toDF("url_hash", "url")
    val exact = cand.join(seenB.select("url_hash"), Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect().sorted.toSeq

    val idxRows = BloomDedup.buildIndex(seenB.select("url_hash"), 64,
      expectedPerBucket = 2048)
    val blocks = BloomDedup.collectBlocks(idxRows)
    val (out, cleanup) = BloomDedup.dedupScan(cand, seenB, blocks, 64,
      storageBuckets = 16)
    try assert(out.select("url_hash").as[Long].collect().sorted.toSeq == exact,
      "scan-probe with 64 index / 16 storage buckets diverged")
    finally cleanup()

    // numSlices divides storage buckets (8 | 16): pushable IN per slice
    for (slices <- Seq(8, 32)) { // 32 > 16 exercises the superset branch
      val parts = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
      val cl = BloomDedup.dedupSliced(cand, seenB, idxRows, 64, slices,
        scanProbe = true, storageBuckets = 16) { (_, df) => parts += df }
      val got =
        try parts.reduce(_.unionByName(_)).select("url_hash").as[Long].collect().sorted.toSeq
        finally cl()
      assert(got == exact, s"sliced dedup at $slices slices / 16 storage buckets diverged")
    }
  }

  test("bloom dedup equals exact anti-join") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val seenHashes = (1 to 2000).map(_ => rnd.nextLong()).distinct
    val candHashes = (seenHashes.take(800) ++ (1 to 1500).map(_ => rnd.nextLong())).distinct
    val seen = seenHashes.toDF("url_hash")
    val cand = candHashes.map(h => (h, s"u$h")).toDF("url_hash", "url")

    val exact = cand.join(seen, Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect().sorted
    val idx = BloomDedup.buildIndex(seen, numBuckets = 8, expectedPerBucket = 1024)
    assert(idx.count() <= 8)
    val viaBloom = BloomDedup.dedup(cand, seen, Some(idx), numBuckets = 8)
      .select("url_hash").as[Long].collect().sorted
    assert(viaBloom.toSeq == exact.toSeq)
  }

  test("bloom dedup honours autoBroadcastJoinThreshold = -1: exact, no broadcast anti-join") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val seenHashes = (1 to 2000).map(_ => rnd.nextLong()).distinct
    val candHashes = (seenHashes.take(800) ++ (1 to 1500).map(_ => rnd.nextLong())).distinct
    val seen = seenHashes.toDF("url_hash")
    val cand = candHashes.map(h => (h, s"u$h")).toDF("url_hash", "url")
    val exact = cand.join(seen, Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect().sorted
    val idx = BloomDedup.buildIndex(seen, numBuckets = 8, expectedPerBucket = 1024)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val out = BloomDedup.dedup(cand, seen, Some(idx), numBuckets = 8)
      assert(out.select("url_hash").as[Long].collect().sorted.toSeq == exact.toSeq)
      val plan = out.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin[^\n]*LeftAnti".r.findFirstIn(plan).isEmpty,
        s"broadcast anti-join forced with broadcasts disabled:\n$plan")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("bloom dedup past the broadcast bound stays exact: index unread, nothing persisted") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, xxhash64}
    def key(c: org.apache.spark.sql.Column) = xxhash64(concat(lit("u"), c.cast("string")))
    // 2,000 seen keys under a ~75.5 MB optimizer estimate: without CBO a
    // Filter keeps its child's size, so the 9M-row range sets the
    // estimate past the 64 MB bound under which the seen keys broadcast
    val seen = spark.range(0, 9L << 20).filter(col("id") < 2000)
      .select(key(col("id")).as("url_hash"))
    assert(seen.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(64L << 20))
    val cand = spark.range(0, 3000)
      .select(key(col("id")).as("url_hash"), concat(lit("u"), col("id").cast("string")).as("url"))
    val exact = cand.join(seen, Seq("url_hash"), "left_anti")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(exact.size == 1000)
    // not an index at all: reading it (collectBlocks) would fail
    val notAnIndex = spark.range(1).toDF("x")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs
    val out = BloomDedup.dedup(cand, seen, Some(notAnIndex), numBuckets = 8)
    assert(out.select("url_hash").as[Long].collect().sorted.toSeq == exact)
    assert(!out.queryExecution.executedPlan.toString.contains("bloom_might_contain"))
    assert(sc.getPersistentRDDs == before, "dedup left a persisted frame behind")
  }

  test("dedupSliced with scanProbe = false releases every slice's checkpoint before returning") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val seenHashes = (1 to 4000).map(_ => rnd.nextLong()).distinct
    val candHashes = (seenHashes.take(1500) ++ (1 to 3000).map(_ => rnd.nextLong())).distinct
    val seen = seenHashes.toDF("url_hash")
    val cand = candHashes.map(h => (h, s"u$h")).toDF("url_hash", "url")
    val exact = cand.join(seen, Seq("url_hash"), "left_anti").count()
    val idxRows = BloomDedup.buildIndex(seen, 16, expectedPerBucket = 1024)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs
    var kept = 0L
    val cleanup = BloomDedup.dedupSliced(cand, seen, idxRows, 16, 4) { (_, df) =>
      kept += df.count()
    }
    assert(sc.getPersistentRDDs == before, "a slice checkpoint outlived dedupSliced")
    assert(kept == exact)
    cleanup()
  }
}
