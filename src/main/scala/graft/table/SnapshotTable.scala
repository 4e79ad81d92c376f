package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.UUID
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, shiftright}
import org.apache.spark.sql.types.StructType

/** Snapshot-committed Parquet table: the offline stand-in for an Iceberg
  * table (SURVEY.md §7.4 — no Iceberg jar ships in /opt/spark/jars).
  *
  * Layout:
  * {{{
  *   <root>/data/commit-<N>/part-*.parquet     // data files per commit
  *   <root>/commits/v<N>.json                  // manifest (create-if-absent)
  * }}}
  *
  * Commit protocol: data files are fully written first, then the manifest
  * is staged under a unique `commits/.tmp-v<N>-*.json` name and hard-linked
  * to `v<N>.json`, which fails when the id is taken, so a published
  * manifest is never replaced. A crash between the two leaves orphan data
  * dirs that no manifest references — readers only union data dirs of
  * committed manifests, so reads are snapshot-isolated and resume is "read
  * the last committed snapshot" (north rule: resumable from checkpoint).
  * Each manifest carries per-partition lineage rows plus the run's metrics
  * (north rule: per-partition lineage + metrics per commit), computed from
  * the written files' parquet FOOTERS on the driver — a metadata-only read,
  * no Spark job per commit (real Iceberg records the same stats in its
  * manifests the same way). Every metadata method is a view over one
  * [[log]] read, which parses a manifest again only when its file changed.
  *
  * Three commit kinds:
  *  - '''append''' — adds rows; a snapshot is the union of appends.
  *  - '''base''' — a compaction: rewrites the full table state; readers
  *    anchor at the latest base ≤ the requested snapshot and union only
  *    the commits after it. Bounds read cost to O(base + appends-since).
  *  - '''merge''' — a bin-pack: rewrites older data dirs into one without
  *    changing the table's content ([[binpack]]).
  *
  * A table declared with a [[SnapshotTable.Cluster]] spec applies that
  * bucket layout on every data write, commits and merges alike.
  */
class SnapshotTable(spark: => SparkSession, root: String,
                    writeOptions: Map[String, String] = Map.empty,
                    val cluster: Option[SnapshotTable.Cluster] = None) {
  // `spark` is BY-NAME: the manifest-metadata methods (log, snapshots,
  // manifest, totalRows, …) are pure file reads, so metadata tooling
  // (graft.CrawlManager) can construct a table without a session.
  // `writeOptions` ride every data write (e.g. parquet column bloom
  // filters for point-probed key columns — SnapshotTable.bloomFilterFor)

  import SnapshotTable.{CommitResult, Manifest, Prepared, sinceBase}

  private def commitsDir: Path = Paths.get(root, "commits")
  private def dataDir(n: Long): Path = Paths.get(root, "data", f"commit-$n%06d")

  private val ManifestRe = "^v([0-9]{6})\\.json$".r

  // snapshot id -> ((size, mtime, file key), its parsed manifest), swapped
  // whole per `log` call, so a racing caller costs a re-parse, never a
  // stale record
  private val parsed = new AtomicReference(Map.empty[Long, ((Long, FileTime, AnyRef), Manifest)])

  /** The committed manifests, ascending by id, from one listing of
    * `commits/`. A manifest is parsed again only when its file's size,
    * last-modified time or file key changed, so another instance's commit,
    * a deleted manifest and one rewritten in place all show up. */
  def log: Seq[Manifest] = {
    if (!Files.isDirectory(commitsDir)) return Seq.empty
    val stream = Files.list(commitsDir)
    val files = try {
      stream.iterator().asScala
        .flatMap(p => ManifestRe.findFirstMatchIn(p.getFileName.toString)
          .map(_.group(1).toLong -> p))
        .toSeq.sortBy(_._1)
    } finally stream.close()
    val cache = parsed.get
    val next = files.map { case (n, p) =>
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      val stamp = (a.size, a.lastModifiedTime, a.fileKey)
      n -> cache.get(n).filter(_._1 == stamp).getOrElse(stamp -> SnapshotTable.readManifest(n, p))
    }
    parsed.set(next.toMap)
    next.map(_._2._2)
  }

  /** Ids of committed snapshots, ascending. */
  def snapshots: Seq[Long] = log.map(_.id)

  def latestSnapshot: Option[Long] = log.lastOption.map(_.id)

  /** Snapshot `n`'s manifest. */
  def manifest(n: Long): Manifest = log.find(_.id == n)
    .getOrElse(throw new NoSuchElementException(s"table $root has no snapshot $n"))

  /** Ids of the snapshots that ADDED data (append commits), ascending. */
  def dataSnapshots: Seq[Long] = log.filter(_.kind == "append").map(_.id)

  /** Latest snapshot that ADDED data — merge and base commits rewrite
    * existing rows without changing table content, so staleness markers
    * (`covers`) that certify content coverage compare against THIS head:
    * an index covering the last data commit still covers the table after
    * a bin-pack merge. */
  def latestDataSnapshot: Option[Long] = dataSnapshots.lastOption

  /** Data-dir ids superseded by the merge commits among `ms` (their rows
    * live in the merge commit's dir from then on; originals stay on disk
    * for time travel — a production table service would expire them). */
  private def mergedAway(ms: Seq[Manifest]): Set[Long] =
    ms.filter(_.kind == "merge").flatMap(_.merges).toSet

  /** Read the table at the latest committed snapshot (None when empty). */
  def read(): Option[DataFrame] = readAt(Long.MaxValue)

  // known data schema (from the last write or first read): passing it to
  // the reader skips parquet's footer-sampling SCHEMA-INFERENCE JOB — at
  // micro-run cadence those were ~5 jobs per run, a measured slice of the
  // fixed-cost floor. KEYED on the table head snapshot (ADVICE r04): a
  // commit by ANOTHER SnapshotTable instance or process on the same root
  // advances the head, which invalidates this instance's cached shape on
  // its next read instead of pinning the first-seen schema for the
  // instance's lifetime.
  private var cachedSchema: Option[(Long, StructType)] = None
  // all-nullable: a commit's tight nullability must not reject older
  // commits' null cells when the cached shape is applied to a union read
  private def nullable(s: StructType) = StructType(s.fields.map(_.copy(nullable = true)))

  /** One multi-path scan over `dirs`. */
  private def readDirs(dirs: Seq[String], head: Long): DataFrame = cachedSchema match {
    case Some((h, s)) if h == head => spark.read.schema(s).parquet(dirs: _*)
    case _ =>
      val df = spark.read.parquet(dirs: _*)
      cachedSchema = Some((head, nullable(df.schema)))
      df
  }

  /** Read the table as of snapshot `n` (time travel): anchor at the latest
    * base ≤ n and union the live data dirs in [anchor, n]. */
  def readAt(n: Long): Option[DataFrame] = {
    val all = log
    val head = all.lastOption.fold(-1L)(_.id)
    val ms = all.filter(_.id <= n)
    // bin-packed dirs are replaced by their merge commit's dir as of the
    // merge; reading at an earlier snapshot still sees the originals
    val packed = mergedAway(ms)
    val dataDirs = sinceBase(ms).map(_.id).filterNot(packed)
      .map(dataDir).filter(Files.isDirectory(_)).map(_.toString)
    if (dataDirs.isEmpty) None else Some(readDirs(dataDirs, head))
  }

  /** Append `df` as a new snapshot; returns the snapshot id (compat API). */
  def commit(df: DataFrame, metrics: Map[String, Double], seqCol: Option[String] = None): Long =
    publish(prepare(df, seqCol), metrics, "append", None).id

  /** Compaction: rewrite the full table state as a new base snapshot. */
  def commitBase(df: DataFrame, metrics: Map[String, Double], seqCol: Option[String] = None,
                 covers: Option[Long] = None): CommitResult =
    publish(prepare(df, seqCol), metrics, "base", covers)

  /** Bin-pack compaction (the Iceberg rewrite-data-files analogue), one
    * pass over every level: the OLDEST ≥2 (≤ `maxDirs`) unmerged append
    * dirs since the last base are rewritten into ONE level-1 merge commit;
    * then, level by level up to [[SnapshotTable.TopLevel]], a FULL batch
    * of exactly `maxDirs` un-packed merges of the level below packs into
    * one merge of the next level. A merge supersedes its sources for reads
    * at or after it and is only ever consumed by the level above, so every
    * data row is rewritten at most `TopLevel` times over the table's
    * lifetime, and the live dir count after M appends packed K-at-a-time
    * stays O(M/K^TopLevel + TopLevel·K) instead of O(M) (at K=16 a 10^8-
    * append table holds ~25k live dirs where two levels leave ~400k).
    * `mergedAway` is transitive, so reads, time travel to pre-merge
    * snapshots and `readBetween` see the same rows. Returns the merge
    * snapshot ids committed, lowest level first. */
  def binpack(maxDirs: Int, metrics: Map[String, Double] = Map.empty): Seq[Long] = {
    require(maxDirs >= 2, s"maxDirs $maxDirs must be >= 2")
    (1 to SnapshotTable.TopLevel).flatMap(level =>
      pack(level, if (level == 1) 2 else maxDirs, maxDirs, metrics))
  }

  /** Rewrite the oldest ≤ `maxDirs` un-packed dirs of the level below
    * `level` (appends for level 1) since the last base into one
    * level-`level` merge commit, when at least `minDirs` qualify. A
    * clustered table re-clusters the rows at its bucket count; any other
    * writes one file. */
  private def pack(level: Int, minDirs: Int, maxDirs: Int,
                   metrics: Map[String, Double]): Option[Long] = {
    val ms = log
    val packed = mergedAway(ms)
    def isSource(m: Manifest): Boolean =
      if (level == 1) m.kind == "append" else m.kind == "merge" && m.level == level - 1
    val candidates = sinceBase(ms).filter(m => !packed(m.id) && isSource(m)).map(_.id)
      .filter(id => Files.isDirectory(dataDir(id))).take(maxDirs)
    if (candidates.size < minDirs) return None
    val df = readDirs(candidates.map(dataDir(_).toString), ms.last.id)
    Some(publish(prepare(df, tasks = cluster.fold(1)(_.buckets)), metrics, "merge", None,
      merges = candidates, mergeLevel = level).id)
  }

  /** Write `df`'s data files for the next snapshot id, without the
    * manifest. `tasks` is how many files the write targets: a clustered
    * table lays the rows out by [[SnapshotTable.Cluster]]; any other
    * coalesces to `tasks` when positive. Returns footer-derived row count
    * + lineage; pair with [[commitPrepared]] to publish. The write
    * "overwrite"s the id's dir: a crashed run's orphan (no manifest
    * references it — see class doc), or a second writer's prepare at the
    * same id. Only the publish is fenced against a second writer; fencing
    * the prepare needs one writer per root (ROADMAP direction 1). */
  def prepare(df: DataFrame, seqCol: Option[String] = None, tasks: Int = 0): Prepared = {
    val id = latestSnapshot.getOrElse(0L) + 1L
    val out = dataDir(id)
    val toWrite = cluster match {
      case Some(c) => c.layout(df, tasks)
      case None => if (tasks > 0) df.coalesce(tasks) else df
    }
    toWrite.write.options(writeOptions).mode("overwrite").parquet(out.toString)
    // lineage from the committed files' footers (metadata only — no job)
    val stats = ParquetFooters.stats(out, seqCol)
    Prepared(id, stats.map(_.rows).sum, stats, nullable(toWrite.schema))
  }

  /** Publish the manifest of a [[prepare]]d snapshot. `skipIfEmpty` with
    * zero rows reclaims the data dir and commits nothing. */
  def commitPrepared(p: Prepared, metrics: Map[String, Double],
                     covers: Option[Long] = None, skipIfEmpty: Boolean = false): CommitResult =
    publish(p, metrics, "append", covers, skipIfEmpty)

  private def publish(p: Prepared, metrics: Map[String, Double], kind: String,
                      covers: Option[Long], skipIfEmpty: Boolean = false,
                      merges: Seq[Long] = Nil, mergeLevel: Int = 1): CommitResult = {
    val id = p.id
    val out = dataDir(id)
    val rows = p.rows
    if (rows == 0 && skipIfEmpty) {
      deleteRecursively(out)
      return CommitResult(latestSnapshot.getOrElse(0L), 0L)
    }
    val lineage = p.stats.zipWithIndex.map { case (s, i) =>
      val mn = s.minSeq.map(_.toString).getOrElse("null")
      val mx = s.maxSeq.map(_.toString).getOrElse("null")
      s"""{"partition_id":$i,"n_rows":${s.rows},"min_seq":$mn,"max_seq":$mx}"""
    }

    val metricsJson = (metrics + ("n_rows" -> rows.toDouble)).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${k}":$v""" }.mkString("{", ",", "}")
    val coversJson = covers.map(c => s""","covers":$c""").getOrElse("")
    val mergesJson =
      if (kind != "merge") ""
      else s""","merges":[${merges.mkString(",")}],"level":$mergeLevel"""
    val manifest =
      s"""{"snapshot_id":$id,
         |"kind":"$kind",
         |"data_dir":"${out.toString}"$coversJson$mergesJson,
         |"committed_at_ms":${System.currentTimeMillis()},
         |"metrics":$metricsJson,
         |"lineage":[${lineage.mkString(",")}]}""".stripMargin

    Files.createDirectories(commitsDir)
    val tmp = commitsDir.resolve(f".tmp-v$id%06d-${UUID.randomUUID}.json")
    try {
      Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
      try Files.createLink(commitsDir.resolve(f"v$id%06d.json"), tmp)
      catch { case e: FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"table $root: snapshot $id was already published by another writer", e)
      }
    } finally Files.deleteIfExists(tmp)
    // the write defines the current shape — cached only once the manifest
    // landed (a skipped or lost commit must not key the cache to its id)
    cachedSchema = Some((id, p.schema))
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
    * pending compaction). Only append commits qualify: merge and base
    * commits rewrite EXISTING rows (counting their dirs would duplicate
    * appends already seen); their originals stay on disk, so the
    * incremental contract is unaffected by bin-packing. None when no
    * data dirs exist in the range. */
  def readBetween(a: Long, b: Long): Option[DataFrame] = {
    val ms = log
    val dirs = ms.filter(m => m.kind == "append" && m.id > a && m.id <= b)
      .map(m => dataDir(m.id)).filter(Files.isDirectory(_)).map(_.toString)
    if (dirs.isEmpty) None
    else Some(readDirs(dirs, ms.last.id))
  }

  /** Latest base (compaction) manifest, when one exists. */
  def latestBase: Option[Manifest] = log.filter(_.kind == "base").lastOption

  /** [[SnapshotTable.totalRows]] of this table's log. */
  def totalRows: Long = SnapshotTable.totalRows(log)

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

  /** The highest bin-pack level: a level-`TopLevel` merge is terminal. */
  val TopLevel = 3

  /** The manifests from the latest base among `ms` on (all of them when
    * there is no base): the commits a read at the last of `ms` unions. */
  private def sinceBase(ms: Seq[Manifest]): Seq[Manifest] =
    ms.drop(math.max(0, ms.lastIndexWhere(_.kind == "base")))

  /** Total committed rows since the last base of `log` — a manifest-
    * derived cardinality estimate (metadata only, no job). Merge commits
    * rewrite rows already counted by their sources, so they are skipped. */
  def totalRows(log: Seq[Manifest]): Long =
    sinceBase(log).filter(_.kind != "merge")
      .map(_.metrics.get("n_rows").fold(0L)(_.toLong)).sum

  /** A table's bucket layout: every write sets the data column
    * `bucket = pmod(hash, buckets)` and clusters on it (NOTES r02 #3), so
    * each written file spans a narrow CONTIGUOUS bucket range (usually
    * one bucket) and a pushed IN(bucket,…) filter skips whole files via
    * footer min/max stats. Reads stay ONE multi-path parquet relation (a
    * dir-per-commit Hive layout was measured ~2× e2e in per-micro-run
    * planning).
    *
    * A row's file is COMPUTED, not sampled: `n` files cut the
    * (bucket, signed hash) order into equal spans, so a hot bucket splits
    * across files by its hashes. A uniform 64-bit hash fills every span
    * alike, so range sampling bought nothing but a job per write and a
    * layout that depended on the session's RDD history.
    *
    * Rows are SORTED within each file on (bucket, hash), so parquet's
    * per-page column indexes turn the point-lookup probe's pushed
    * IN(url_hash,…) into page-level point reads (VERDICT r03 #3).
    *
    * Small writes (`tasks ≤ 1` — micro-run commits) write one file that
    * spans all buckets; the bin-pack merges re-cluster at ≥ `buckets`
    * files — Iceberg's write-optimized-commit / read-optimized-after-
    * rewrite split.
    *
    * `buckets` is a power of two, so it divides or is divided by every
    * power-of-two slice and index-bucket count a probe restricts to. */
  final case class Cluster(hash: Column, buckets: Int) {
    require(buckets > 0 && Integer.bitCount(buckets) == 1,
      s"bucket count $buckets must be a power of two")

    private[table] def layout(df: DataFrame, tasks: Int): DataFrame = {
      val keys = Seq(col("bucket"), hash)
      val n = if (tasks <= 1) 1 else math.max(buckets, tasks)
      // sub ∈ [0, n) scales the hash's top 32 bits (signed order), so
      // (bucket·n + sub) / buckets ∈ [0, n) grows with (bucket, hash).
      // Long arithmetic (< 2^63), so no rounding can reach n
      val sub = shiftright((shiftright(hash, 32) + lit(1L << 31)) * lit(n.toLong), 32)
      val id = shiftright(col("bucket").cast("long") * lit(n.toLong) + sub,
        Integer.numberOfTrailingZeros(buckets)).cast("int")
      df.withColumn("bucket", pmod(hash, lit(buckets)).cast("int"))
        .repartitionById(n, id)
        .sortWithinPartitions(keys: _*)
    }
  }

  /** A PREPARED snapshot: data files fully written under the allocated
    * id's dir, manifest NOT yet published — readers still ignore the dir
    * (until `commitPrepared` it is indistinguishable from a crashed
    * run's orphan, which is exactly the crash contract). The split lets
    * INDEPENDENT tables' data writes — the expensive Spark jobs — run
    * concurrently while their manifests still publish in dependency
    * order (CrawlEngine: images → frontier → fetchlog, the completion
    * marker last). At most one prepare may be outstanding per table:
    * the snapshot id is allocated at prepare time. */
  final case class Prepared(id: Long, rows: Long, stats: Seq[ParquetFooters.FileStats],
                            schema: StructType)

  /** One snapshot's manifest as a record. `kind` reads "append" and a
    * merge's `level` reads 1 when the field is absent (manifests written
    * before either existed); `level` is 0 for every kind but merge. */
  final case class Manifest(id: Long, kind: String, covers: Option[Long], merges: Seq[Long],
                            level: Int, committedAtMs: Option[Long],
                            metrics: Map[String, Double])

  // metrics are rendered with Double.toString, which writes NaN and
  // Infinity for non-finite values
  private val Json = JsonMapper.builder().enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  private val Fields = Set("snapshot_id", "kind", "data_dir", "covers", "merges", "level",
    "committed_at_ms", "metrics", "lineage")

  /** Parse snapshot `n`'s manifest `file`. Fails, naming the file, on a
    * field outside [[Fields]] and on an unknown kind: the retired
    * equality-delete and partitioned layouts each wrote a field of their
    * own, and reading those manifests as plain appends would return wrong
    * rows. */
  private def readManifest(n: Long, file: Path): Manifest = {
    def fail(why: String, cause: Throwable = null): Nothing =
      throw new IllegalStateException(s"manifest $file: $why", cause)
    val node = try Json.readTree(Files.readAllBytes(file))
    catch { case e: JsonProcessingException => fail("not valid JSON", e) }
    node.properties.asScala.map(_.getKey).find(!Fields(_))
      .foreach(f => fail(s"unsupported field $f"))
    val kind = Option(node.get("kind")).fold("append")(_.asText)
    if (!Set("append", "base", "merge")(kind)) fail(s"unsupported kind $kind")
    def long(field: String): Option[Long] = Option(node.get(field)).map(_.asLong)
    Manifest(n, kind, long("covers"),
      Option(node.get("merges")).toSeq.flatMap(_.asScala.map(_.asLong)),
      if (kind == "merge") long("level").fold(1)(_.toInt) else 0,
      long("committed_at_ms"),
      Option(node.get("metrics")).toSeq.flatMap(_.properties.asScala)
        .filter(_.getValue.isNumber).map(e => e.getKey -> e.getValue.asDouble).toMap)
  }

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
