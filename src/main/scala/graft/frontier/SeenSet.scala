package graft.frontier

import graft.crawl.CrawlConfig
import graft.table.SnapshotTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One key's seen set: the committed `table` of keys, its Bloom index
  * table `idx`, and the regime state machine that dedups candidates
  * against them — small-table exact anti-join, broadcast Bloom
  * scan-probe, or sliced beyond-broadcast scan-probe (NOTES.md r01 #1).
  * [[graft.crawl.CrawlEngine]] holds one per key: URL hashes
  * (fetchlog/bloomidx) and image ids (images/imgidx).
  *
  * `key` is the EXACT join identity. `url_hash` is its own prefilter hash;
  * any other key is prefiltered on `xxhash64(key)` and still joins on the
  * key itself, so a 64-bit collision can never drop a genuinely-new row.
  * Below `scanProbeMinSeen` (outside the sliced regime) both keys take a
  * plain exact anti-join and hold NO Bloom state — a prefilter saves no
  * probe while the seen side is broadcast or sort-merged anyway; a set
  * crossing the threshold builds its blocks from the committed table.
  *
  * `snapshotCol` names the index column recording the `table` snapshot a
  * block covers. `checkpoint`: broadcast-regime blocks are written to
  * `idx` every `bloomCommitEvery` runs and on [[flush]], and loaded back
  * on start; without it the blocks live for the session and a restart
  * rebuilds them with one key-column scan. */
final class SeenSet(spark: SparkSession, cfg: CrawlConfig, table: SnapshotTable,
                    idx: SnapshotTable, key: String, snapshotCol: String,
                    checkpoint: Boolean) {
  import spark.implicits._

  private val keyIsHash = key == "url_hash"
  private val hash: Column = if (keyIsHash) col(key) else xxhash64(col(key))

  // standing Bloom index, maintained incrementally per run — O(batch)
  // per micro-run instead of rebuilding over the whole seen history
  private var blocks: Option[Map[Int, Array[Byte]]] = None
  private var lastCheckpoint: Long = -1L
  // manifest-derived cardinality estimate (read once at startup, then
  // maintained from the runs' own counts): the regime switch for the
  // adaptive dedup plan — single-shuffle plans while the table is small,
  // scan-probe once a history exchange would dominate
  private var rowsEst: Long = table.totalRows
  private def scanProbeRegime: Boolean = rowsEst >= cfg.scanProbeMinSeen

  // true once the sliced (beyond-broadcast) regime governs dedup + index
  // maintenance — configured up front, auto-flipped when the broadcast
  // block map outgrows cfg.maxBroadcastBytes, or DETECTED FROM DURABLE
  // STATE: only sliced-regime index commits carry a covers marker, so a
  // fresh engine resuming a flipped root goes straight to the sliced
  // path instead of re-entering the broadcast guard and pulling the full
  // index onto the driver (a driver OOM at the scale that caused the flip)
  private var sliced: Boolean = cfg.bloomSlices > 1 || idx.latestCovers.nonEmpty

  // ---- Bloom index GEOMETRY (VERDICT r03 #1/#2) -----------------------
  // derived from the manifest-based estimate on BloomGeometry's doubling
  // schedule (why: see its scaladoc). The standing geometry persists in
  // the index manifests so a resumed engine probes with the blocks it
  // actually finds.
  private val maxBlockBytes: Long =
    math.min(128L * 1024 * 1024, math.max(1L, cfg.maxBroadcastBytes / 4))
  private def geomFor(rows: Long): BloomGeometry =
    BloomGeometry.forEstimate(rows, cfg.bloomBuckets, maxBlockBytes, cfg.bloomCapacityFloor)
  private def minimalGeom: BloomGeometry =
    BloomGeometry(cfg.bloomBuckets, cfg.bloomCapacityFloor)
  private def storedGeom: Option[BloomGeometry] =
    idx.latestSnapshot.map { n =>
      BloomGeometry(
        idx.metricOf(n, "index_buckets").map(_.toInt).getOrElse(cfg.bloomBuckets),
        idx.metricOf(n, "expected_per_bucket").map(_.toLong)
          .getOrElse(BloomGeometry.MinCapacity))
    }
  private def geomMetrics: Map[String, Double] = Map(
    "index_buckets" -> geom.indexBuckets.toDouble,
    "expected_per_bucket" -> geom.capacityPerBucket.toDouble)
  private var geom: BloomGeometry = storedGeom.getOrElse(geomFor(rowsEst))

  /** The index geometry in force (test/observability hook). */
  def geometry: BloomGeometry = geom

  /** Which dedup regime governs (test/observability hook). */
  def slicedActive: Boolean = sliced

  /** Slice count for a sliced-regime index at the current geometry. An
    * explicit bloomSlices wins; otherwise ADAPTIVE in the ESTIMATED index
    * size: the smallest divisor of the geometry's bucket count (≥2) whose
    * per-slice block share fits maxBroadcastBytes, falling back to one
    * bucket per slice — which ALWAYS fits, because the geometry schedule
    * caps a single block at maxBlockBytes ≤ maxBroadcastBytes/4 (VERDICT
    * r03 #2: at fixed buckets a 10^10-key index left ~750 MB per bucket
    * with nothing to subdivide). A fixed cap (the old autoSlices ≤8)
    * silently reintroduced the broadcast memory bound as the seen set
    * kept growing past the flip point. */
  private def sliceCount: Int =
    if (cfg.bloomSlices > 1) cfg.bloomSlices
    else BloomGeometry.slicesFitting(geom, cfg.maxBroadcastBytes)

  /** STANDING per-slice block broadcasts for the sliced-regime index
    * (VERDICT r04 follow-up to r03 #1): without them, every micro-run
    * re-read, re-shuffled (mergeIndex), re-collected and re-broadcast
    * the UNCHANGED table-resident index — O(|index|) driver traffic per
    * run (~1.3 GB at 10^9 seen keys), dwarfing the probe it fed; the
    * point-lookup bench read a ~4x history-growth ratio on a pass whose
    * probe is ~flat. The index only changes at fold/rebuild/flip
    * commits, so the collected slice broadcasts (and their stable
    * epochs — the executor-side deserialized filters stay warm too) are
    * keyed on (snapshot, geometry, slices) and destroyed when any
    * moves. Serialized bytes live in the block store (memory+disk,
    * spillable); the |index|/slices bound still governs the
    * DESERIALIZED working set via the executor cache budget. */
  private var sliceCache: Option[BloomDedup.SliceBlockCache] = None
  private var sliceCacheKey: (Long, Int, Int) = (-2L, 0, 0)
  private def standingSlices(indexBuckets: Int, numSlices: Int): Int => Option[BloomDedup.SliceBlocks] = {
    val now = (idx.latestSnapshot.getOrElse(-1L), indexBuckets, numSlices)
    if (sliceCache.isEmpty || sliceCacheKey != now) {
      sliceCache.foreach(_.invalidate())
      sliceCacheKey = now
      sliceCache = Some(new BloomDedup.SliceBlockCache(spark, s => {
        val bs = (s until indexBuckets by numSlices).map(Integer.valueOf)
        BloomDedup.collectBlocks(BloomDedup.mergeIndex(
          idx.read().get.select("bucket", "bloom")
            .filter(col("bucket").isin(bs: _*))))
      }))
    }
    sliceCache.get.get
  }

  /** Slice-clustered FULL-index write (NOTES r3 #3): block rows grouped
    * into files by the slice their bucket belongs to (range on
    * pmod(bucket, slices), then bucket), so a slice's pushed
    * IN(bucket,…) read needs only its own files — parquet skips the
    * rest via dictionary/stats filtering on the bucket column (at 10^9+
    * scale each block is its own row group, making footer min/max exact
    * per row) — and the one-time flip/rebuild/compaction write
    * parallelizes across slices instead of one serial driver-sized file. */
  private def sliceClustered(df: DataFrame): DataFrame = {
    val slices = sliceCount
    df.repartitionByRange(slices, pmod(col("bucket"), lit(slices)), col("bucket"))
  }

  private def blockRows(bs: Map[Int, Array[Byte]], snap: Long): DataFrame =
    bs.toSeq.map { case (b, bytes) => (b, bytes, snap) }.toDF("bucket", "bloom", snapshotCol)

  private def totalBytes(bs: Map[Int, Array[Byte]]): Long =
    bs.valuesIterator.map(_.length.toLong).sum

  // no distinct: every consumer is an anti-join probe (set semantics on
  // the probe side already) or a Bloom build (idempotent under dups).
  // The materialized `bucket` column rides along so the sliced regime's
  // probe restriction pushes to the parquet scan as a plain IN filter.
  private def seenKeys: Option[DataFrame] =
    table.read().map(df => df.select((key +: Seq("bucket").filter(df.columns.contains)).map(col): _*))

  private def buildIndex(seen: DataFrame): DataFrame =
    BloomDedup.buildIndex(seen.select(hash.as("url_hash")), geom.indexBuckets,
      geom.capacityPerBucket)

  /** Flip broadcast → sliced, CARRYING the already-correct in-memory
    * block map into the index table as the sliced regime's initial
    * base — the flip costs one O(blocks) write, not an O(seen-set) index
    * rebuild (a multi-minute stall at the ~10^9-key flip point). The
    * carried blocks cover the current table head in every caller:
    * loadBlocks validated (or rebuilt) them against it, and
    * [[afterCommit]] folds the just-committed run's keys in before
    * flipping. */
  private def flipToSliced(bs: Map[Int, Array[Byte]]): Unit = {
    val head = table.latestDataSnapshot.getOrElse(0L)
    idx.commitBase(sliceClustered(blockRows(bs, head)),
      Map("carried" -> 1.0) ++ geomMetrics, covers = Some(head))
    sliced = true
    blocks = None
  }

  /** Load (or recover) the standing Bloom blocks. A checkpoint carries
    * the table snapshot it covers; a mismatch (crash between batch
    * points, or a fresh engine on an old root) forces a full rebuild
    * from the seen table — a stale index would mark recently-seen keys
    * "definitely new" and admit them again. */
  private def loadBlocks(seen: DataFrame): Map[Int, Array[Byte]] =
    blocks.getOrElse {
      val head = table.latestDataSnapshot.getOrElse(0L)
      // sliced-mode commits carry covers markers and hold sliced-geometry
      // bases — not trustworthy as a broadcast block map; also reject
      // checkpoints built at a geometry other than the one in force (a
      // resize rebuild just advanced geom past the stored blocks)
      val fromCheckpoint =
        if (!checkpoint || idx.latestCovers.nonEmpty || !storedGeom.contains(geom)) None
        else idx.read().flatMap { df =>
          val rows = df.filter(col(snapshotCol) === head).select("bucket", "bloom").collect()
          if (rows.isEmpty) None
          else Some(rows.map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap)
        }
      val bs = fromCheckpoint.getOrElse(BloomDedup.collectBlocks(buildIndex(seen)))
      blocks = Some(bs)
      bs
    }

  /** Broadcast-regime blocks — or None when this call flipped to the
    * sliced regime. Growth is checked FIRST: once the estimate outgrows
    * the standing geometry's capacity, the blocks rebuild one geometry
    * step up (the doubling schedule — O(log seen) rebuilds per crawl,
    * each keeping the prefilter at its 1% fpp target instead of
    * saturating). If the resized index could no longer broadcast, the
    * set flips instead and the sliced side rebuilds DISTRIBUTEDLY at the
    * right geometry — the index must not transit the driver at exactly
    * the size that caused the flip. */
  private def broadcastBlocksOrFlip(seen: DataFrame): Option[Map[Int, Array[Byte]]] = {
    if (rowsEst > geom.totalCapacity) {
      geom = geomFor(rowsEst)
      blocks = None // resize: rebuild below (or distributively after the flip)
    }
    // flip BEFORE building when the schedule already knows the index
    // cannot broadcast (estimated bytes — VERDICT r03 #1: the flip fires
    // from the estimate, not from bit arrays that never grow). The
    // MINIMAL geometry is exempt: it is the smallest possible index (a
    // few hundred KB at default buckets), and building it first keeps
    // the carried-blocks flip for artificially tiny budgets.
    if (blocks.isEmpty && geom != minimalGeom && geom.totalBytes > cfg.maxBroadcastBytes) {
      sliced = true
      return None
    }
    val bs = loadBlocks(seen)
    if (totalBytes(bs) <= cfg.maxBroadcastBytes) Some(bs)
    else { flipToSliced(bs); None }
  }

  /** The sliced-mode index rows `(bucket, bloom)`. The base need only
    * cover SOME table snapshot ≤ the head — keys committed since are
    * caught exactly by the recent-delta anti-join in [[slicedDedup]].
    * Rebuild (DISTRIBUTED — the index never transits the driver in this
    * regime) fires only when no usable base exists (fresh sliced root;
    * covers > head after a lost table manifest) or the estimate outgrew
    * the stored geometry (the doubling schedule at sliced scale). */
  private def slicedIndexRows(seen: DataFrame): DataFrame = {
    val head = table.latestDataSnapshot.getOrElse(0L)
    val stored = storedGeom
    val coversOk = idx.latestCovers.exists(_ <= head)
    val geomOk = stored.exists(_.totalCapacity >= rowsEst)
    if (!coversOk || !geomOk) {
      geom = geomFor(rowsEst)
      idx.commitBase(sliceClustered(buildIndex(seen).withColumn(snapshotCol, lit(head))),
        Map("rebuild" -> 1.0) ++ geomMetrics, covers = Some(head))
    } else stored.foreach(g => geom = g)
    idx.read().get.select("bucket", "bloom")
  }

  /** Sliced regime: each hash-range slice's blocks broadcast, used for
    * its checkpoint, destroyed (peak index memory |index|/slices); the
    * slices' lazy probe frames union into one consumable result. The
    * table-resident base covers the table up to its covers marker; keys
    * committed SINCE are caught by an exact anti-join against the recent
    * delta (bounded: ≤ bloomCommitEvery runs of batches — folded into the
    * base at compaction cadence). Per-run index appends are gone (VERDICT
    * r03 #5: one fewer commit per run, and no mergeInPlace between
    * geometry-sized base blocks and batch-sized deltas). */
  private def slicedDedup(df: DataFrame, seen: DataFrame): (DataFrame, () => Unit) = {
    val idxRows = slicedIndexRows(seen)
    val c0 = idx.latestCovers.getOrElse(0L)
    val head = table.latestDataSnapshot.getOrElse(0L)
    val cand = table.readBetween(c0, head) match {
      case Some(recent) => df.join(recent.select(key), Seq(key), "left_anti")
      case None => df
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cleanup = BloomDedup.dedupSliced(cand, seen, idxRows,
      geom.indexBuckets, sliceCount, scanProbe = true, joinKey = key,
      storageBuckets = cfg.bloomBuckets,
      sliceBlocks = standingSlices(geom.indexBuckets, sliceCount)) {
      (_, out) => parts += out
    }
    (parts.reduce(_.unionByName(_)), cleanup)
  }

  /** Anti-join `df` (which carries `key`) against the seen set; exact in
    * every regime. Returns the result plus a cleanup thunk the caller runs
    * once done.
    *
    * Both Bloom regimes route the exact probe through the SCAN-PROBE
    * plan (BloomDedup.dedupScan): the Bloom verdicts checkpoint eagerly,
    * survivors broadcast, and the seen side is a column-pruned,
    * bucket-partition-pruned SCAN — never shuffled. Per-run dedup cost
    * stops scaling with the shuffle of history (VERDICT r02 #1). Below
    * scanProbeMinSeen the exact anti-join embeds in the consumers' own
    * actions — zero extra jobs. */
  def dedup(df: DataFrame): (DataFrame, () => Unit) = seenKeys match {
    case None => (df, () => ())
    case Some(seen) if !sliced && !scanProbeRegime =>
      (df.join(BloomDedup.antiJoinSide(seen.select(key)), Seq(key), "left_anti"), () => ())
    case Some(seen) =>
      val cand = if (keyIsHash) df else df.withColumn("url_hash", hash)
      val viaBroadcast =
        if (sliced) None
        else broadcastBlocksOrFlip(seen).map(bs =>
          BloomDedup.dedupScan(cand, seen, bs, geom.indexBuckets, joinKey = key,
            storageBuckets = cfg.bloomBuckets))
      val (out, cleanup) = viaBroadcast.getOrElse(slicedDedup(cand, seen))
      (if (keyIsHash) out else out.drop("url_hash"), cleanup)
  }

  /** Whether [[afterCommit]] folds driver-side key hashes: the broadcast
    * scan-probe regime's standing blocks are maintained from each run's
    * batch, which the caller must collect BEFORE the commit. */
  def wantsHashes: Boolean = !sliced && scanProbeRegime

  /** Index maintenance right after `table`'s commit of run `runId`, which
    * added `added` rows whose prefilter hashes are `hashes` (empty unless
    * [[wantsHashes]] held when the batch was collected).
    *
    * Broadcast regime: the hashes fold into the standing blocks on the
    * driver — O(batch) and zero Spark jobs, so nothing fallible runs
    * between the manifest and the fold (a failure there would leave
    * blocks that call a just-committed key definitely-new on a
    * same-session retry). With no hashes there is nothing to fold, and
    * blocks never loaded stay unloaded: their first load builds from the
    * committed table. If the folded blocks outgrow the broadcast budget
    * the set flips, carrying them.
    *
    * Sliced regime: keys since the base's covers marker ride
    * [[slicedDedup]]'s recent-delta anti-join (crash-safe by
    * construction). Every bloomCommitEvery runs that delta FOLDS into the
    * base distributively (raw hashes, never a driver transit;
    * geometry-sized per-run delta blocks would each be full-index-sized
    * and refuse mergeInPlace across geometries); skipped when the
    * geometry is due to grow — the next dedup's rebuild subsumes it. */
  def afterCommit(runId: Long, added: Long, hashes: Iterable[Long]): Unit = {
    // estimate BEFORE the maintenance: the fold/resize gates must see the
    // post-commit cardinality — a stale estimate let a fold pack hashes
    // into blocks the very next dedup's geometry check would discard
    rowsEst += added
    if (sliced) {
      if (runId % cfg.bloomCommitEvery == 0 && idx.read().nonEmpty &&
          storedGeom.exists(_.totalCapacity >= rowsEst)) {
        val c0 = idx.latestCovers.getOrElse(0L)
        val head = table.latestDataSnapshot.getOrElse(0L)
        table.readBetween(c0, head).foreach { recent =>
          val folded = BloomDedup.foldHashes(
            BloomDedup.mergeIndex(idx.read().get.select("bucket", "bloom")),
            recent.select(hash.as("url_hash")), geom.indexBuckets, geom.capacityPerBucket)
          idx.commitBase(sliceClustered(folded.withColumn(snapshotCol, lit(head))),
            Map("compaction" -> 1.0, "run" -> runId.toDouble) ++ geomMetrics,
            covers = Some(head))
        }
      }
    } else if (hashes.nonEmpty) {
      val merged = BloomDedup.addHashes(blocks.getOrElse(Map.empty), hashes,
        geom.indexBuckets, geom.capacityPerBucket)
      if (totalBytes(merged) > cfg.maxBroadcastBytes) flipToSliced(merged)
      else {
        blocks = Some(merged)
        if (checkpoint && runId % cfg.bloomCommitEvery == 0) commitCheckpoint(merged, runId)
      }
    }
  }

  /** Checkpoint the standing blocks if the last checkpoint is behind the
    * table head, so a later resume skips the rebuild. */
  def flush(): Unit = {
    val head = table.latestDataSnapshot.getOrElse(0L)
    if (checkpoint && !sliced && lastCheckpoint != head)
      blocks.foreach(commitCheckpoint(_, head))
  }

  private def commitCheckpoint(bs: Map[Int, Array[Byte]], snap: Long): Unit = {
    idx.commit(blockRows(bs, snap),
      Map(s"covers_$snapshotCol" -> snap.toDouble) ++ geomMetrics, None, coalesceTo = 1)
    lastCheckpoint = snap
  }
}
