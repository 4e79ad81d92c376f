package graft

import graft.table.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SnapshotTableSpec extends AnyFunSuite {
  private def tmpDir(): String =
    Files.createTempDirectory("snaptest").toString

  test("commit/read round-trip, append semantics, time travel") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    assert(t.read().isEmpty && t.latestSnapshot.isEmpty)

    val s1 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("seq", "v"), Map("n" -> 2.0), Some("seq"))
    val s2 = t.commit(Seq((3L, "c")).toDF("seq", "v"), Map("n" -> 1.0), Some("seq"))
    assert(s1 == 1 && s2 == 2)
    assert(t.read().get.count() == 3)
    assert(t.readAt(1).get.count() == 2) // time travel
    assert(t.snapshots == Seq(1L, 2L))
  }

  test("orphan data files (crash before manifest) are invisible; next commit resumes cleanly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    t.commit(Seq((1L, "a")).toDF("seq", "v"), Map.empty, Some("seq"))
    t.writeOrphan(Seq((99L, "ghost")).toDF("seq", "v")) // crash simulation
    assert(t.read().get.count() == 1, "orphan leaked into a read")
    assert(t.latestSnapshot.contains(1L))
  }

  test("base commit (compaction) anchors reads; later deltas still apply; time travel preserved") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    t.commit(Seq((1L, 1, "a"), (2L, 1, "b")).toDF("url_hash", "attempt", "v"), Map.empty)
    t.commit(Seq((3L, 1, "c")).toDF("url_hash", "attempt", "v"), Map.empty)
    // compact: state should now be {(1,1),(2,1),(3,1)} in a single base
    val state = t.read().get
    val base = t.commitBase(state, Map.empty, covers = Some(2L))
    assert(base.rows == 3 && t.manifest(base.id).kind == "base")
    assert(t.read().get.count() == 3)
    // an append after the base applies on top of it
    t.commit(Seq((4L, 1, "d")).toDF("url_hash", "attempt", "v"), Map.empty)
    assert(t.read().get.select("url_hash").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // time travel to snapshot 2 (pre-base) replays the original fold
    assert(t.readAt(2).get.select("url_hash").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("footer-based lineage matches data for multi-file commits") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    t.commit((1L to 1000L).map(i => (i, s"v$i")).toDF("seq", "v").repartition(4),
      Map.empty, Some("seq"))
    val m = t.manifests().get
    val l = m.selectExpr("explode(lineage) as l")
      .selectExpr("sum(l.n_rows) as n", "min(l.min_seq) as mn", "max(l.max_seq) as mx")
      .collect().head
    assert(l.getLong(0) == 1000L)
    assert(l.getLong(1) == 1L && l.getLong(2) == 1000L)
  }

  test("model check: random append/delta/base sequences always read back the model state") {
    // seeded-random op sequence against an in-memory set model — pins the
    // read fold (appends ∪, base anchors, bin-pack supersession) beyond
    // the handwritten cases. Keys are (url_hash, attempt) like the
    // engine's pending rows.
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    val rnd = new scala.util.Random(20260816L)
    val model = scala.collection.mutable.LinkedHashMap.empty[(Long, Int), String]
    var nextKey = 0L
    def freshRows(n: Int): Seq[(Long, Int, String)] =
      (1 to n).map { _ => nextKey += 1; (nextKey, 1 + rnd.nextInt(3), s"v$nextKey") }
        .map { case (h, a, v) => model((h, a)) = v; (h, a, v) }

    freshRows(5) // initial append
    t.commit(model.toSeq.map { case ((h, a), v) => (h, a, v) }.toDF("url_hash", "attempt", "v"),
      Map.empty)
    for (step <- 1 to 12) {
      rnd.nextInt(3) match {
        case 0 => // plain append
          val rows = freshRows(1 + rnd.nextInt(4))
          t.commit(rows.toDF("url_hash", "attempt", "v"), Map.empty)
        case 1 => // compaction
          t.commitBase(t.read().get, Map.empty)
        case 2 => // bin-pack merges (all levels): must NEVER change content
          t.binpack(2 + rnd.nextInt(3))
      }
      val got = t.read().get.select("url_hash", "attempt", "v")
        .as[(Long, Int, String)].collect().toSet
      val exp = model.toSet.map { kv: ((Long, Int), String) => (kv._1._1, kv._1._2, kv._2) }
      assert(got == exp, s"divergence at step $step: got ${got.size}, exp ${exp.size}")
    }
  }

  test("bin-pack merge commits: state preserved, sources superseded, time travel + incremental reads intact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    for (i <- 1 to 5)
      t.commit(Seq((i.toLong, s"v$i")).toDF("url_hash", "v"), Map.empty)
    val before = t.read().get.as[(Long, String)].collect().toSet
    val dataHead = t.latestSnapshot.get
    // the oldest 3 appends pack; 1 level-1 merge is below a level-2 batch
    val m1 = t.binpack(3, Map("binpack" -> 1.0))
    assert(m1.size == 1 && t.manifest(m1.head).kind == "merge" && t.manifest(m1.head).level == 1)
    assert(t.manifest(m1.head).metrics.get("binpack").contains(1.0))
    assert(t.read().get.as[(Long, String)].collect().toSet == before,
      "merge changed table content")
    assert(t.latestDataSnapshot.contains(dataHead),
      "merge must not advance the DATA head (covers markers depend on it)")
    assert(t.readAt(3).get.count() == 3, "time travel to pre-merge broken")
    assert(t.readBetween(0, t.latestSnapshot.get).get.count() == 5,
      "readBetween double-counted merged rows")
    assert(t.totalRows == 5, "totalRows double-counted the merge rewrite")
    // second pass packs the remainder; merge dirs are never re-merged
    val m2 = t.binpack(10)
    assert(m2.size == 1 && t.manifest(m2.head).level == 1)
    assert(t.read().get.as[(Long, String)].collect().toSet == before)
    assert(t.binpack(10).isEmpty, "re-merged already-packed dirs")
    // appends after merges fold in normally
    t.commit(Seq((6L, "v6")).toDF("url_hash", "v"), Map.empty)
    assert(t.read().get.count() == 6)
    // the live read now plans over merged dirs: 2 merge dirs + 1 append
    assert(t.read().get.inputFiles.length <= 3,
      "bin-packing did not shrink the read's file set")
  }

  test("second-level bin-pack: a full batch of level-1 merges packs into level 2; content/time-travel intact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    def append(i: Int): Unit =
      t.commit(Seq((i.toLong, s"v$i")).toDF("url_hash", "v"), Map.empty)
    // four rounds of two appends, each bin-packed at a batch size of 4:
    // every round packs its two appends into one level-1 merge, and level
    // 2 stays idle until the fourth round completes a full batch
    val rounds = (0 until 4).map { r =>
      append(2 * r + 1); append(2 * r + 2)
      t.binpack(4)
    }
    rounds.take(3).foreach(ids =>
      assert(ids.map(t.manifest(_).level) == Seq(1), s"level 2 fired below a full batch: $ids"))
    val l1 = rounds.flatten.filter(t.manifest(_).level == 1)
    val l2 = rounds.last.filter(t.manifest(_).level == 2)
    assert(rounds.last.map(t.manifest(_).level) == Seq(1, 2) && l1.size == 4,
      "level 2 did not fire at a full batch")
    assert(t.manifest(l2.head).merges == l1, "the level-2 merge did not pack the level-1 batch")
    // time travel between the level-1 packs and the level-2 pack sees
    // the level-1 dirs
    val before = t.readAt(l1.last).get.as[(Long, String)].collect().toSet
    assert(before == (1 to 8).map(i => (i.toLong, s"v$i")).toSet)
    assert(t.read().get.as[(Long, String)].collect().toSet == before,
      "level-2 merge changed table content")
    // the live read plans over ONE dir now
    assert(t.read().get.inputFiles.length == 1,
      "level-2 pack did not collapse the read's file set")
    // nothing left to pack at any level; level 3 is below a full batch
    assert(t.binpack(4).isEmpty, "re-packed superseded dirs")
    // time travel before any merge sees the originals
    assert(t.readAt(2).get.count() == 2)
    // incremental/cardinality contracts ignore rewrites at every level
    assert(t.readBetween(0, t.latestSnapshot.get).get.count() == 8)
    assert(t.totalRows == 8)
    // appends after a level-2 pack fold in and can start a new cycle
    append(9)
    assert(t.read().get.count() == 9)
    assert(t.binpack(4).isEmpty, "a single new append must not pack alone")
  }

  test("third-level bin-pack: full level-2 batches pack into level-3; rewrite bound and content hold") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    def append(i: Int): Unit =
      t.commit(Seq((i.toLong, s"v$i")).toDF("url_hash", "v"), Map.empty)
    // at a batch size of 2, every round of two appends makes one level-1
    // merge, every second round a level-2 merge, every fourth a level-3
    def round(r: Int): Seq[Long] = { append(2 * r + 1); append(2 * r + 2); t.binpack(2) }
    val rounds = (0 until 4).map(round)
    assert(rounds.map(_.map(t.manifest(_).level)) == Seq(Seq(1), Seq(1, 2), Seq(1), Seq(1, 2, 3)),
      s"level 3 fired below, or idled at, a full level-2 batch: $rounds")
    val merges = rounds.flatten
    val l3 = merges.filter(t.manifest(_).level == 3)
    val l2 = merges.filter(t.manifest(_).level == 2)
    assert(t.manifest(l3.head).merges == l2)
    val before = (1 to 8).map(i => (i.toLong, s"v$i")).toSet
    assert(t.read().get.as[(Long, String)].collect().toSet == before,
      "level-3 merge changed table content")
    assert(t.read().get.inputFiles.length == 1,
      "level-3 pack did not collapse the read's file set")
    assert(t.binpack(2).isEmpty, "re-packed superseded dirs")
    // time-travel / incremental / cardinality contracts hold through 3 levels
    assert(t.readAt(l2.last).get.as[(Long, String)].collect().toSet == before)
    assert(t.readAt(2).get.count() == 2)
    assert(t.readBetween(0, t.latestSnapshot.get).get.count() == 8)
    assert(t.totalRows == 8)
    // rewrite bound: every original row's bytes were rewritten exactly
    // 3 times (once per level) — count data dirs ever created
    assert(merges.size == 7, s"expected 4+2+1 merge commits, got ${merges.size}")
    // terminal at the top level: a second full batch of level-3 merges
    // never packs further
    val next = (4 until 8).map(round)
    assert(next.last.map(t.manifest(_).level) == Seq(1, 2, 3) && SnapshotTable.TopLevel == 3)
    assert(t.binpack(2).isEmpty, "packed level-3 merges past the top level")
    assert(t.snapshots.forall(n => t.manifest(n).level <= 3))
    assert(t.read().get.count() == 16 && t.read().get.inputFiles.length == 2)
  }

  test("a clustered table writes bucket = pmod(hash, buckets) sorted on (bucket, hash); merges re-cluster") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    import scala.jdk.CollectionConverters._
    val buckets = 4
    val cluster = SnapshotTable.Cluster(col("h"), buckets)
    assert(intercept[IllegalArgumentException](SnapshotTable.Cluster(col("h"), 12))
      .getMessage.contains("power of two"))
    val root = tmpDir()
    def rows(from: Long, n: Long) =
      spark.range(from, from + n).select(xxhash64(col("id")).as("h"), col("id").as("v"))
    // two commits a plain table writes on the same root: no bucket column
    val plain = new SnapshotTable(spark, root)
    plain.commit(rows(0, 50).repartition(3), Map.empty)
    plain.commit(rows(50, 50), Map.empty)
    val t = new SnapshotTable(spark, root, cluster = Some(cluster))
    val single = t.commitPrepared(t.prepare(rows(100, 200).repartition(4), tasks = 1), Map.empty)
    val ranged = t.commitPrepared(t.prepare(rows(300, 400), tasks = 8), Map.empty)

    // the (bucket, hash) keys of each data file of snapshot `id`, in file
    // order; every row's bucket is pmod(hash, buckets) and every file is
    // sorted on (bucket, hash)
    def clusteredFiles(id: Long): Seq[Seq[(Int, Long)]] = {
      val s = Files.list(java.nio.file.Paths.get(root, "data", f"commit-$id%06d"))
      val files = try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        finally s.close()
      val keys = files.map(f => spark.read.parquet(f.toString).select("bucket", "h")
        .as[(Int, Long)].collect().toSeq).filter(_.nonEmpty)
      keys.flatten.foreach { case (b, h) =>
        assert(b == java.lang.Math.floorMod(h, buckets.toLong), s"v$id: bucket $b for hash $h")
      }
      keys.foreach(k => assert(k == k.sorted, s"v$id: a file is not sorted on (bucket, hash)"))
      keys
    }
    def keyOrder = Ordering[(Int, Long)]
    // range-clustered files hold disjoint, contiguous (bucket, hash) ranges
    def assertRanged(files: Seq[Seq[(Int, Long)]]): Unit =
      files.sortBy(_.head)(keyOrder).sliding(2).foreach {
        case Seq(a, b) => assert(keyOrder.lt(a.last, b.head), "file key ranges overlap")
        case _ =>
      }

    assert(clusteredFiles(single.id).size == 1)
    assert(single.rows == 200)
    val rangedFiles = clusteredFiles(ranged.id)
    assert(rangedFiles.size > 1 && rangedFiles.size <= 8 && rangedFiles.map(_.size).sum == 400)
    assertRanged(rangedFiles)

    // a fresh clustered instance merges all four appends, the bucket-less
    // ones included, into files laid out at `buckets` tasks
    val t2 = new SnapshotTable(spark, root, cluster = Some(cluster))
    val merged = t2.binpack(10).head
    val mergedFiles = clusteredFiles(merged)
    assert(mergedFiles.size > 1 && mergedFiles.size <= buckets && mergedFiles.map(_.size).sum == 700)
    assertRanged(mergedFiles)
    assert(t2.read().get.select("h", "v").as[(Long, Long)].collect().toSet ==
      rows(0, 700).as[(Long, Long)].collect().toSet)
  }

  test("a clustered merge writes the same files whatever RDDs the session allocated before it") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, min, count, xxhash64}
    import scala.jdk.CollectionConverters._
    val cluster = SnapshotTable.Cluster(col("h"), 4)
    val rootA = tmpDir()
    val a = new SnapshotTable(spark, rootA, cluster = Some(cluster))
    for (k <- 0 until 4)
      a.commit(spark.range(k * 2000L, (k + 1) * 2000L)
        .select(xxhash64(col("id")).as("h"), col("id").as("v")), Map.empty)
    val rootB = tmpDir()
    val src = java.nio.file.Paths.get(rootA)
    val walk = Files.walk(src)
    try walk.iterator().asScala.toSeq.foreach { p =>
      val to = java.nio.file.Paths.get(rootB).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    // per written file: (rows, min/max bucket, min/max hash)
    def mergedFiles(root: String): Seq[(Long, Int, Int, Long, Long)] = {
      val t = new SnapshotTable(spark, root, cluster = Some(cluster))
      val id = t.binpack(10).head
      val st = Files.list(java.nio.file.Paths.get(root, "data", f"commit-$id%06d"))
      val files = try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        finally st.close()
      files.map(f => spark.read.parquet(f.toString)
          .agg(count(col("h")), min("bucket"), max("bucket"), min("h"), max("h"))
          .as[(Long, Int, Int, Long, Long)].head())
        .filter(_._1 > 0).sorted
    }
    val filesA = mergedFiles(rootA)
    (1 to 5).foreach(i => spark.sparkContext.parallelize(1 to i).count())
    val filesB = mergedFiles(rootB)
    assert(filesA.map(_._1).sum == 8000 && filesA.size > 1)
    assert(filesA == filesB, s"merge layout depends on the session: $filesA vs $filesB")
  }

  test("manifests expose metrics and per-partition lineage") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    t.commit((1L to 100L).map(i => (i, s"v$i")).toDF("seq", "v"),
      Map("fetched_ok" -> 100.0, "failed" -> 0.0), Some("seq"))
    val m = t.manifests().get
    val row = m.selectExpr("snapshot_id", "metrics.fetched_ok",
      "size(lineage) as nparts").collect().head
    assert(row.getLong(0) == 1L)
    assert(row.getDouble(1) == 100.0)
    assert(row.getInt(2) >= 1)
    // lineage row counts sum to the committed row count
    val total = m.selectExpr("explode(lineage) as l").selectExpr("sum(l.n_rows)")
      .collect().head.getLong(0)
    assert(total == 100L)
  }

  test("metrics named like manifest fields stay metrics: no covers marker, kind append") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(spark, tmpDir())
    val id = t.commit(Seq((1L, "a")).toDF("seq", "v"), Map("covers" -> 7.0, "kind" -> 3.0))
    assert(t.log.lastOption.flatMap(_.covers).isEmpty && t.manifest(id).covers.isEmpty)
    assert(t.manifest(id).kind == "append")
    assert(t.manifest(id).metrics.get("covers").contains(7.0) &&
      t.manifest(id).metrics.get("kind").contains(3.0))
  }

  test("legacy manifests: a missing kind reads append, a merge's missing level reads 1") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmpDir()
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("seq", "v"), Map.empty)
    t.commit(Seq((2L, "b")).toDF("seq", "v"), Map.empty)
    val commits = java.nio.file.Paths.get(root, "commits")
    Files.write(commits.resolve("v000001.json"), ("""{"snapshot_id":1,"data_dir":"d",""" +
      """"committed_at_ms":5,"metrics":{"n_rows":1.0},"lineage":[]}""").getBytes("UTF-8"))
    Files.write(commits.resolve("v000003.json"), ("""{"snapshot_id":3,"kind":"merge",""" +
      """"data_dir":"d","merges":[1,2],"committed_at_ms":6,"metrics":{"n_rows":2.0},""" +
      """"lineage":[]}""").getBytes("UTF-8"))
    assert(t.manifest(1).kind == "append" && t.manifest(1).committedAtMs.contains(5L))
    assert(t.manifest(3).level == 1 && t.dataSnapshots == Seq(1L, 2L) && t.totalRows == 2)
  }

  test("each manifest is parsed once: an unchanged file is never read again") {
    val spark = TestSpark.spark
    val root = tmpDir()
    val commits = java.nio.file.Paths.get(root, "commits")
    Files.createDirectories(commits)
    (1 to 5).foreach(n => Files.write(commits.resolve(f"v$n%06d.json"),
      (s"""{"snapshot_id":$n,"kind":"append","data_dir":"d","committed_at_ms":$n,""" +
        s""""metrics":{"n_rows":$n.0},"lineage":[]}""").getBytes("UTF-8")))
    val t = new SnapshotTable(spark, root)
    assert(t.dataSnapshots == (1L to 5L) && t.totalRows == 15)
    // same length, same last-modified time, same file: the cached record
    // stands, so the invalid bytes are never parsed
    val v3 = commits.resolve("v000003.json")
    val mtime = Files.getLastModifiedTime(v3)
    Files.write(v3, Array.fill(Files.size(v3).toInt)('x'.toByte))
    Files.setLastModifiedTime(v3, mtime)
    assert(t.dataSnapshots == (1L to 5L) && t.totalRows == 15)
    assert(t.manifest(3).metrics.get("n_rows").contains(3.0))
  }

  test("the log shows another instance's commit and a manifest deleted by hand") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmpDir()
    val a = new SnapshotTable(spark, root)
    val b = new SnapshotTable(spark, root)
    a.commit(Seq((1L, "a")).toDF("seq", "v"), Map.empty)
    a.commit(Seq((2L, "b")).toDF("seq", "v"), Map.empty)
    assert(a.log.map(_.id) == Seq(1L, 2L))
    b.commit(Seq((3L, "c")).toDF("seq", "v"), Map("by" -> 2.0))
    assert(a.log.map(_.id) == Seq(1L, 2L, 3L) && a.manifest(3).metrics.get("by").contains(2.0))
    Files.delete(java.nio.file.Paths.get(root, "commits", "v000002.json"))
    assert(a.log.map(_.id) == Seq(1L, 3L) && a.totalRows == 2)
  }

  test("a second writer cannot replace a published manifest") {
    val spark = TestSpark.spark
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = tmpDir()
    val a = new SnapshotTable(spark, root)
    val b = new SnapshotTable(spark, root)
    val pa = a.prepare(Seq((1L, "a")).toDF("seq", "v"))
    val pb = b.prepare(Seq((2L, "b")).toDF("seq", "v"))
    assert(pa.id == 1 && pb.id == 1)
    a.commitPrepared(pa, Map("writer" -> 1.0))
    val commits = java.nio.file.Paths.get(root, "commits")
    val published = Files.readAllBytes(commits.resolve("v000001.json"))
    val e = intercept[IllegalStateException](b.commitPrepared(pb, Map("writer" -> 2.0)))
    assert(e.getMessage.contains(root) && e.getMessage.contains("snapshot 1"), e.getMessage)
    assert(Files.readAllBytes(commits.resolve("v000001.json")).sameElements(published))
    val names = {
      val st = Files.list(commits)
      try st.iterator().asScala.map(_.getFileName.toString).toSeq finally st.close()
    }
    assert(names == Seq("v000001.json"), s"left in commits/: $names")
    assert(b.manifest(1).metrics.get("writer").contains(1.0))
  }

  test("a legacy equality-delete manifest fails the read, naming the file") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmpDir()
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("seq", "v"), Map.empty)
    // reading a delta commit as an append would return the deleted rows
    val delta = Files.write(java.nio.file.Paths.get(root, "commits", "v000002.json"),
      ("""{"snapshot_id":2,"kind":"delta","data_dir":"d","delete_dir":"e",""" +
        """"committed_at_ms":7,"metrics":{"n_rows":0.0},"lineage":[]}""").getBytes("UTF-8"))
    val e = intercept[IllegalStateException](t.read())
    assert(e.getMessage.contains(delta.toString))
  }
}
