package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-committed Parquet table: the offline stand-in for an Iceberg
  * table (SURVEY.md §7.4 — no Iceberg jar ships in /opt/spark/jars).
  *
  * Layout:
  * {{{
  *   <root>/data/commit-<N>/part-*.parquet     // data files per commit
  *   <root>/deletes/commit-<N>/part-*.parquet  // equality-delete keys (optional)
  *   <root>/commits/v<N>.json                  // manifest (atomic rename)
  * }}}
  *
  * Commit protocol: data (and delete) files are fully written first, then
  * the manifest is staged to `commits/.tmp-v<N>.json` and atomically renamed
  * to `v<N>.json`. A crash between the two leaves orphan data dirs that no
  * manifest references — readers only union data dirs of committed
  * manifests, so reads are snapshot-isolated and resume is "read the last
  * committed snapshot" (north rule: resumable from checkpoint). Each
  * manifest carries per-partition lineage rows plus the run's metrics
  * (north rule: per-partition lineage + metrics per commit), computed from
  * the written files' parquet FOOTERS on the driver — a metadata-only read,
  * no Spark job per commit (real Iceberg records the same stats in its
  * manifests the same way).
  *
  * Three commit kinds (Iceberg merge-on-read emulation):
  *  - '''append''' — adds rows; a snapshot is the union of appends.
  *  - '''delta''' — append + equality-delete keys in one manifest
  *    (Iceberg v2 equality deletes). A delete key row removes every earlier
  *    appended row matching it on ALL key columns. Callers must key deletes
  *    so a deleted row is never re-appended under the same key — then
  *    global set semantics (∪appends ∖ ∪deletes) equal the per-commit
  *    fold. This is the general-purpose API (pinned by the spec's model
  *    check); the crawl engine's pending table goes one step further and
  *    never writes deletes at all — its `(url_hash, attempt)` delete keys
  *    are derivable from the fetchlog, so the read side anti-joins that
  *    instead (CrawlEngine.pendingMaterialized).
  *  - '''base''' — a compaction: rewrites the full table state; readers
  *    anchor at the latest base ≤ the requested snapshot and apply only
  *    later deltas. Bounds merge-on-read cost to O(base + deltas-since).
  */
class SnapshotTable(spark: => SparkSession, root: String,
                    writeOptions: Map[String, String] = Map.empty) {
  // `spark` is BY-NAME: the manifest-metadata methods (snapshots, kindOf,
  // coversOf, metricOf, totalRows, …) are pure file reads, so metadata
  // tooling (graft.CrawlManager) can construct a table without a session.
  // `writeOptions` ride every data write (e.g. parquet column bloom
  // filters for point-probed key columns — SnapshotTable.bloomFilterFor)

  import SnapshotTable.{CommitResult, Prepared}

  private def commitsDir: Path = Paths.get(root, "commits")
  private def dataDir(n: Long): Path = Paths.get(root, "data", f"commit-$n%06d")
  private def deleteDir(n: Long): Path = Paths.get(root, "deletes", f"commit-$n%06d")

  private val ManifestRe = "^v([0-9]{6})\\.json$".r
  private val KindRe = "\"kind\":\"([a-z]+)\"".r
  private val CoversRe = "\"covers\":(-?[0-9]+)".r
  private val HasDeletesRe = "\"delete_dir\":".r
  private val PartitionByRe = "\"partition_by\":\\[([^\\]]*)\\]".r
  private val MergesRe = "\"merges\":\\[([^\\]]*)\\]".r
  private val MergeLevelRe = "\"level\":([0-9]+)".r

  /** Ids of committed snapshots, ascending. */
  def snapshots: Seq[Long] = {
    if (!Files.isDirectory(commitsDir)) return Seq.empty
    val stream = Files.list(commitsDir)
    try {
      stream.iterator().asScala
        .flatMap(p => ManifestRe.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toLong))
        .toSeq.sorted
    } finally stream.close()
  }

  def latestSnapshot: Option[Long] = snapshots.lastOption

  /** Latest snapshot that ADDED data (append/delta) — merge and base
    * commits rewrite existing rows without changing table content, so
    * staleness markers (`covers`) that certify content coverage compare
    * against THIS head: an index covering the last data commit still
    * covers the table after a bin-pack merge. */
  def latestDataSnapshot: Option[Long] =
    snapshots.filter(id => { val k = kindOf(id); k == "append" || k == "delta" }).lastOption

  /** Data-dir ids superseded by a merge commit ≤ n (their rows live in
    * the merge commit's dir from n on; originals stay on disk for time
    * travel — a production table service would expire them). */
  private def mergedAway(n: Long): Set[Long] =
    snapshots.filter(id => id <= n && kindOf(id) == "merge")
      .flatMap(id => MergesRe.findFirstMatchIn(manifestText(id)).map(_.group(1)))
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong)).toSet

  private def manifestText(n: Long): String =
    new String(Files.readAllBytes(commitsDir.resolve(f"v$n%06d.json")), StandardCharsets.UTF_8)

  /** Commit kind of snapshot `n` ("append" when the field is absent —
    * pre-v2 manifests). */
  def kindOf(n: Long): String =
    KindRe.findFirstMatchIn(manifestText(n)).map(_.group(1)).getOrElse("append")

  /** The `covers` staleness marker of snapshot `n`, when recorded. */
  def coversOf(n: Long): Option[Long] =
    CoversRe.findFirstMatchIn(manifestText(n)).map(_.group(1).toLong)

  /** `covers` of the latest snapshot (None when the table is empty or the
    * latest commit carries no marker). */
  def latestCovers: Option[Long] = latestSnapshot.flatMap(coversOf)

  /** A metric recorded in snapshot `n`'s manifest (None when absent).
    * Metric names must not collide with top-level manifest fields —
    * callers use distinctive keys (e.g. "expected_per_bucket"). */
  def metricOf(n: Long, key: String): Option[Double] =
    // a full JSON-number pattern: the old char-class ([0-9.eE+]) had no
    // '-' INSIDE it, so a negative exponent (4.9E-4) matched as "4.9E"
    // and .toDouble threw (ADVICE r04 — latent for any sub-1e-3 metric)
    s""""$key":(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)""".r
      .findFirstMatchIn(manifestText(n))
      .map(_.group(1).toDouble)

  /** Hive-style partition columns of snapshot `n`'s data layout (empty =
    * flat). */
  def partitionSchemeOf(n: Long): Seq[String] =
    PartitionByRe.findFirstMatchIn(manifestText(n))
      .map(_.group(1).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** The table's partition layout (from the latest commit; empty = flat).
    * Spark cannot union flat and `col=value/` dirs in one read, so the
    * layout is a TABLE property: the first commit fixes it and later
    * commits follow it regardless of what the caller requests (a resume
    * on an old flat-layout root keeps writing flat). */
  def partitionScheme: Seq[String] =
    latestSnapshot.map(partitionSchemeOf).getOrElse(Seq.empty)

  /** Read the table at the latest committed snapshot (None when empty). */
  def read(): Option[DataFrame] = readAt(latestSnapshot.getOrElse(-1L))

  // known data schema (from the last write or first read): passing it to
  // the reader skips parquet's footer-sampling SCHEMA-INFERENCE JOB — at
  // micro-run cadence those were ~5 jobs per run, a measured slice of the
  // fixed-cost floor. KEYED on the table head snapshot (ADVICE r04): a
  // commit by ANOTHER SnapshotTable instance or process on the same root
  // advances the head, which invalidates this instance's cached shape on
  // its next read instead of pinning the first-seen schema for the
  // instance's lifetime. Flat layouts only.
  private var cachedSchema: Option[(Long, org.apache.spark.sql.types.StructType)] = None
  // all-nullable: a commit's tight nullability must not reject older
  // commits' null cells when the cached shape is applied to a union read
  private def nullable(s: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))

  /** One frame over `dirs`: a single multi-path scan for flat layouts;
    * per-dir scans unioned for partitioned ones (Spark refuses sibling
    * base paths that each carry `col=value/` subdirs in one scan —
    * CONFLICTING_DIRECTORY_STRUCTURES). Partition pruning still applies
    * inside every member scan of the union. */
  private def readDirs(dirs: Seq[String], head: Long): DataFrame =
    if (partitionScheme.isEmpty) cachedSchema match {
      case Some((h, s)) if h == head => spark.read.schema(s).parquet(dirs: _*)
      case _ =>
        val df = spark.read.parquet(dirs: _*)
        cachedSchema = Some((head, nullable(df.schema)))
        df
    }
    else dirs.map(d => spark.read.parquet(d)).reduce(_.unionByName(_))

  /** Read the table as of snapshot `n` (time travel): anchor at the latest
    * base ≤ n, union data dirs in [anchor, n], anti-join delete keys in
    * (anchor, n]. */
  def readAt(n: Long): Option[DataFrame] = {
    val all = snapshots
    val head = all.lastOption.getOrElse(-1L)
    val ids = all.filter(_ <= n)
    if (ids.isEmpty) return None
    val anchor = ids.filter(kindOf(_) == "base").lastOption.getOrElse(Long.MinValue)
    // bin-packed dirs are replaced by their merge commit's dir as of the
    // merge; reading at an earlier snapshot still sees the originals
    val packed = mergedAway(n)
    val live = ids.filter(id => id >= anchor && !packed.contains(id))
    val dataDirs = live.map(dataDir).filter(Files.isDirectory(_)).map(_.toString)
    if (dataDirs.isEmpty) return None
    val data = readDirs(dataDirs, head)
    val delDirs = live.filter(_ > anchor)
      .filter(id => HasDeletesRe.findFirstIn(manifestText(id)).isDefined)
      .map(deleteDir).filter(Files.isDirectory(_)).map(_.toString)
    if (delDirs.isEmpty) Some(data)
    else {
      val dels = spark.read.parquet(delDirs: _*)
      Some(data.join(dels, dels.columns.toSeq, "left_anti"))
    }
  }

  /** Append `df` as a new snapshot; returns the snapshot id (compat API). */
  def commit(df: DataFrame, metrics: Map[String, Double], seqCol: Option[String] = None,
             coalesceTo: Int = 0, partitionBy: Seq[String] = Nil): Long =
    commitKind(df, metrics, seqCol, coalesceTo, "append", None, None,
      partitionBy = partitionBy).id

  /** Append + equality-deletes under ONE manifest (Iceberg v2 delta). */
  def commitDelta(append: DataFrame, deleteKeys: DataFrame, metrics: Map[String, Double],
                  seqCol: Option[String] = None, coalesceTo: Int = 0,
                  covers: Option[Long] = None): CommitResult =
    commitKind(append, metrics, seqCol, coalesceTo, "delta", Some(deleteKeys), covers)

  /** Compaction: rewrite the full table state as a new base snapshot. */
  def commitBase(df: DataFrame, metrics: Map[String, Double], seqCol: Option[String] = None,
                 coalesceTo: Int = 0, covers: Option[Long] = None,
                 partitionBy: Seq[String] = Nil): CommitResult =
    commitKind(df, metrics, seqCol, coalesceTo, "base", None, covers,
      partitionBy = partitionBy)

  /** Bin-pack compaction (the Iceberg rewrite-data-files analogue): the
    * OLDEST ≥2 (≤ maxDirs) unmerged append dirs since the last base are
    * rewritten into ONE merge commit, which supersedes them for reads at
    * or after it. Unlike a base commit this is INCREMENTAL — this method
    * never re-merges a merge dir, so it alone rewrites every data row at
    * most once over the table's lifetime, and the live dir count after M
    * appends stays O(M / maxDirs + maxDirs) instead of O(M) (a further
    * level — [[mergeMerges]] — packs full batches of level-1 merges to
    * O(M / maxDirs² + 2·maxDirs) at a rewrite bound of 2). Time travel to
    * pre-merge snapshots still sees the original dirs; `transform`
    * re-clusters the rewritten rows (e.g. by bucket). Returns the merge
    * snapshot id, or None when fewer than two dirs qualify. */
  def mergeAppends(maxDirs: Int, transform: DataFrame => DataFrame = identity,
                   metrics: Map[String, Double] = Map.empty): Option[Long] = {
    val anchor = latestBase.getOrElse(Long.MinValue)
    val packed = mergedAway(latestSnapshot.getOrElse(0L))
    val candidates = snapshots
      .filter(id => id >= anchor && !packed.contains(id) && kindOf(id) == "append")
      .filter(id => Files.isDirectory(dataDir(id)))
      .take(maxDirs)
    if (candidates.size < 2) return None
    val df = transform(readDirs(candidates.map(dataDir(_).toString),
      latestSnapshot.getOrElse(-1L)))
    Some(commitKind(df, metrics, None, 0, "merge", None, None,
      merges = Some(candidates)).id)
  }

  /** Bin-pack level of merge snapshot `n` (1 when the field is absent —
    * pre-level manifests; 0 for non-merge commits). */
  def mergeLevelOf(n: Long): Int =
    if (kindOf(n) != "merge") 0
    else MergeLevelRe.findFirstMatchIn(manifestText(n)).map(_.group(1).toInt).getOrElse(1)

  /** HIGHER-level bin-pack: rewrite the oldest `maxDirs` un-packed
    * level-(`level`−1) merge dirs into ONE level-`level` merge commit.
    * Fires only on a FULL batch (exactly `maxDirs` candidates qualify)
    * and a level-L merge is only ever consumed by a level-(L+1) pack —
    * so with a top level of L every data row is rewritten at most L
    * times over the table's lifetime, and the live dir count after M
    * appends packed K-at-a-time drops from O(M/K + K) to
    * O(M/K^L + L·K) (at 10^8 micro-runs and K=16, L=3 holds the live
    * dir count in the thousands where L=2 leaves ~24k). `mergedAway` is
    * already transitive (a level-L manifest supersedes its level-(L−1)
    * dirs, whose own manifests supersede theirs, down to the original
    * appends), so reads/time-travel/readBetween need no changes.
    * Returns the merge snapshot id, or None below a full batch. */
  def mergeMerges(maxDirs: Int, transform: DataFrame => DataFrame = identity,
                  metrics: Map[String, Double] = Map.empty,
                  level: Int = 2): Option[Long] = {
    require(maxDirs >= 2, s"maxDirs $maxDirs must be >= 2")
    require(level >= 2, s"level $level must be >= 2")
    val anchor = latestBase.getOrElse(Long.MinValue)
    val packed = mergedAway(latestSnapshot.getOrElse(0L))
    val candidates = snapshots
      .filter(id => id >= anchor && !packed.contains(id) && mergeLevelOf(id) == level - 1)
      .filter(id => Files.isDirectory(dataDir(id)))
      .take(maxDirs)
    if (candidates.size < maxDirs) return None
    val df = transform(readDirs(candidates.map(dataDir(_).toString),
      latestSnapshot.getOrElse(-1L)))
    Some(commitKind(df, metrics, None, 0, "merge", None, None,
      merges = Some(candidates), mergeLevel = level).id)
  }

  /** Write `df`'s data files for the next snapshot id, without the
    * manifest. Returns footer-derived row count + lineage; pair with
    * [[commitPrepared]] to publish. */
  def prepare(df: DataFrame, seqCol: Option[String] = None, coalesceTo: Int = 0,
              partitionBy: Seq[String] = Nil): Prepared = {
    val id = latestSnapshot.getOrElse(0L) + 1L
    val out = dataDir(id)
    // the table's existing layout wins over the caller's request — one
    // read unions every live data dir, and Spark cannot mix flat and
    // partitioned dirs in a single scan (see partitionScheme)
    val scheme = if (id == 1L) partitionBy else partitionSchemeOf(latestSnapshot.get)
    val toWrite = if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    // "overwrite": a dir at this id can only be a crashed run's orphan
    // (no manifest references it — see class doc), so reclaiming it is safe
    val writer = toWrite.write.options(writeOptions).mode("overwrite")
    if (scheme.nonEmpty) writer.partitionBy(scheme: _*).parquet(out.toString)
    else writer.parquet(out.toString)
    // lineage from the committed files' footers (metadata only — no job)
    val stats = ParquetFooters.stats(out, seqCol)
    Prepared(id, stats.map(_.rows).sum, scheme, stats,
      if (scheme.isEmpty) Some(nullable(toWrite.schema)) else None)
  }

  /** Publish the manifest of a [[prepare]]d snapshot. `skipIfEmpty` with
    * zero rows reclaims the data dir and commits nothing. */
  def commitPrepared(p: Prepared, metrics: Map[String, Double],
                     covers: Option[Long] = None, skipIfEmpty: Boolean = false): CommitResult =
    publish(p, metrics, "append", None, covers, skipIfEmpty, None, 1)

  private def commitKind(df: DataFrame, metrics: Map[String, Double], seqCol: Option[String],
                         coalesceTo: Int, kind: String, deleteKeys: Option[DataFrame],
                         covers: Option[Long],
                         partitionBy: Seq[String] = Nil,
                         merges: Option[Seq[Long]] = None,
                         mergeLevel: Int = 1): CommitResult =
    publish(prepare(df, seqCol, coalesceTo, partitionBy), metrics, kind, deleteKeys,
      covers, skipIfEmpty = false, merges, mergeLevel)

  private def publish(p: Prepared, metrics: Map[String, Double], kind: String,
                      deleteKeys: Option[DataFrame], covers: Option[Long],
                      skipIfEmpty: Boolean, merges: Option[Seq[Long]],
                      mergeLevel: Int): CommitResult = {
    val id = p.id
    val out = dataDir(id)
    val scheme = p.scheme
    val stats = p.stats
    val rows = p.rows
    if (rows == 0 && skipIfEmpty && deleteKeys.isEmpty) {
      deleteRecursively(out)
      return CommitResult(latestSnapshot.getOrElse(0L), 0L)
    }
    // the write defines the current shape — cached only once the
    // manifest is certain to land (a SKIPPED empty commit must not key
    // the cache to an id that never becomes the head)
    p.schema.foreach(s => cachedSchema = Some((id, s)))
    val delDirJson = deleteKeys.map { dk =>
      val dd = deleteDir(id)
      dk.coalesce(1).write.mode("overwrite").parquet(dd.toString)
      s""","delete_dir":"${dd.toString}""""
    }.getOrElse("")
    val lineage = stats.zipWithIndex.map { case (s, i) =>
      val mn = s.minSeq.map(_.toString).getOrElse("null")
      val mx = s.maxSeq.map(_.toString).getOrElse("null")
      s"""{"partition_id":$i,"n_rows":${s.rows},"min_seq":$mn,"max_seq":$mx}"""
    }

    val metricsJson = (metrics + ("n_rows" -> rows.toDouble)).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${k}":$v""" }.mkString("{", ",", "}")
    val coversJson = covers.map(c => s""","covers":$c""").getOrElse("")
    val mergesJson = merges
      .map(ids => s""","merges":[${ids.mkString(",")}],"level":$mergeLevel""").getOrElse("")
    val partJson =
      if (scheme.isEmpty) ""
      else scheme.map(c => s""""$c"""").mkString(""","partition_by":[""", ",", "]")
    val manifest =
      s"""{"snapshot_id":$id,
         |"kind":"$kind",
         |"data_dir":"${out.toString}"$delDirJson$coversJson$partJson$mergesJson,
         |"committed_at_ms":${System.currentTimeMillis()},
         |"metrics":$metricsJson,
         |"lineage":[${lineage.mkString(",")}]}""".stripMargin

    Files.createDirectories(commitsDir)
    val tmp = commitsDir.resolve(f".tmp-v$id%06d.json")
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, commitsDir.resolve(f"v$id%06d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    CommitResult(id, rows)
  }

  /** All committed manifests as a DataFrame (metrics + lineage queryable). */
  def manifests(): Option[DataFrame] = {
    if (snapshots.isEmpty) None
    else Some(spark.read.option("multiLine", true)
      .json(commitsDir.resolve("v*.json").toString))
  }

  /** Data appended in snapshots (a, b] only — the incremental read for
    * callers tracking their own watermark (e.g. attempts since the last
    * pending compaction). Only append/delta commits qualify: merge and
    * base commits rewrite EXISTING rows (counting their dirs would
    * duplicate appends already seen); their originals stay on disk, so
    * the incremental contract is unaffected by bin-packing. None when
    * no data dirs exist in the range. */
  def readBetween(a: Long, b: Long): Option[DataFrame] = {
    val all = snapshots
    val dirs = all.filter(id => id > a && id <= b)
      .filter(id => { val k = kindOf(id); k == "append" || k == "delta" })
      .map(dataDir).filter(Files.isDirectory(_)).map(_.toString)
    if (dirs.isEmpty) None
    else Some(readDirs(dirs, all.lastOption.getOrElse(-1L)))
  }

  /** Latest base (compaction) snapshot id ≤ the head, when one exists. */
  def latestBase: Option[Long] = snapshots.filter(kindOf(_) == "base").lastOption

  private val NRowsRe = "\"n_rows\":(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)".r

  /** Total committed rows since the last base — a manifest-derived
    * cardinality estimate (metadata only, no job). Merge commits rewrite
    * rows already counted by their sources, so they are skipped.
    * Slightly OVER-counts live rows when delta deletes exist; callers
    * use it as a regime threshold, where over-counting errs toward the
    * scale-safe plan. */
  def totalRows: Long = {
    val anchor = latestBase.getOrElse(Long.MinValue)
    snapshots.filter(id => id >= anchor && kindOf(id) != "merge").map(id =>
      NRowsRe.findFirstMatchIn(manifestText(id))
        .map(_.group(1).toDouble.toLong).getOrElse(0L)).sum
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Simulate a crash: write data files for a would-be snapshot but no
    * manifest (test hook for resume semantics). */
  def writeOrphan(df: DataFrame): Unit = {
    val id = latestSnapshot.getOrElse(0L) + 1L
    df.write.mode("overwrite").parquet(dataDir(id).toString)
  }
}

object SnapshotTable {
  final case class CommitResult(id: Long, rows: Long)

  /** A PREPARED snapshot: data files fully written under the allocated
    * id's dir, manifest NOT yet published — readers still ignore the dir
    * (until `commitPrepared` it is indistinguishable from a crashed
    * run's orphan, which is exactly the crash contract). The split lets
    * INDEPENDENT tables' data writes — the expensive Spark jobs — run
    * concurrently while their manifests still publish in dependency
    * order (CrawlEngine: images → frontier → fetchlog, the completion
    * marker last). At most one prepare may be outstanding per table:
    * the snapshot id is allocated at prepare time. */
  final case class Prepared(id: Long, rows: Long, scheme: Seq[String],
                            stats: Seq[ParquetFooters.FileStats],
                            schema: Option[org.apache.spark.sql.types.StructType])

  /** Parquet write options for POINT-PROBED key tables (VERDICT r04 #3).
    *
    * Two mechanisms, for the two probe shapes:
    *
    * - A row-group Bloom filter on `column`, ADAPTIVE-sized (parquet-mr
    *   ≥1.14) so micro-run commits (hundreds of rows) don't pay a fixed
    *   max-bytes filter. This skips whole row groups — but only for
    *   probes with FEW keys: a row group is skipped when NO key
    *   might-match, so at the 1% filter fpp a 1024-key IN keeps every
    *   row group alive with probability ≈ 1 − 0.99^1024 ≈ 1. It earns
    *   its bytes on small-survivor probes and single-key lookups.
    * - SMALL DATA PAGES (128 KB vs the 1 MB default). The large-IN
    *   probe's real history term is PAGE reads: the page-level column
    *   index selects ~one page per key, and as history grows the keys
    *   scatter across more DISTINCT pages until pages ≈ keys — so the
    *   per-probe bytes grow with history at fixed page size (measured
    *   r5: ~2.0× per 8× history at 1 MB pages). Smaller pages make the
    *   per-key read O(pageSize) and history-independent once the table
    *   outgrows keys × pageSize. The sequential-scan cost is page-header
    *   decode only (~8× more headers, same bytes), measured in the
    *   dedupxxl row. */
  def bloomFilterFor(column: String): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$column" -> "true",
    "parquet.bloom.filter.adaptive.enabled" -> "true",
    "parquet.page.size" -> (128 * 1024).toString,
    // keep page-size checks frequent enough that 128 KB is honored for
    // narrow int64 columns (parquet-mr checks every N records)
    "parquet.page.size.row.check.min" -> "1000")
}
