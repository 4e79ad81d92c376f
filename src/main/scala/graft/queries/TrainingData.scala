package graft.queries

import graft.Tables
import graft.images.ImageKit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` / `embeddings` /
  * `events` tables: deduplication (exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine), similarity search (brute-force + IVF),
  * text analysis (lang-id, quality, tokens, fingerprint), streaming
  * windows and multimodal binary-payload plumbing.
  *
  * Everything is Catalyst-native (higher-order array functions + built-in
  * hashes); the only mapPartitions is the image decode in
  * [[q33MultimodalFeatures]] (binary payloads, same stage class as the
  * engine's payload fetch).
  */
object TrainingData {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  // ---------------------------------------------------------------- dedup

  /** Exact dedup: hash-groupBy on a content key, keep min doc_id
    * (first-writer-wins, the crawl engine's image dedup rule). */
  def q22DedupExact(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .withColumn("content_key", md5(concat_ws("|", col("lang"), col("source"))))
      .groupBy(col("content_key"))
      .agg(min(col("doc_id")).as("kept_doc"), (count(lit(1)) - 1).as("n_dropped"))
      .orderBy("content_key")
  }

  val q22Sql: String =
    """SELECT md5(lang || '|' || source) AS content_key,
      |  MIN(doc_id) AS kept_doc, COUNT(*) - 1 AS n_dropped
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Tokens + word-3-gram shingles, shared by the near-dup family. */
  private def withShingles(d: DataFrame): DataFrame =
    d.withColumn("tokens", split(lower(col("text")), "\\s+"))
      .withColumn("shingles", expr(
        """array_distinct(transform(
          |  sequence(0, greatest(size(tokens) - 3, 0)),
          |  i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))""".stripMargin))

  /** Corpus with planted near-duplicates (doc_id+100000 = same text minus
    * its first `dropWords` words) so the near-dup detectors have real
    * signal. MinHash (set-overlap detector) gets a heavier edit than
    * SimHash (small-edit detector, Manku et al. WWW'07 use hamming ≤ 3
    * on whole documents). */
  private def corpusWithNearDups(spark: SparkSession, dir: String, dropWords: Int): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), col("text"))
    val mutated = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), s"^(\\S+\\s+){$dropWords}", "").as("text"))
    base.unionByName(mutated)
  }

  /** MinHash(64) + LSH(16 bands × 4 rows): shingle → minhash signature →
    * band-bucket join → candidate pairs → signature-estimated Jaccard.
    * The standard shingle/minhash/band pipeline (Broder '97; MMDS ch.3),
    * expressed with higher-order functions — no UDFs, no driver loops. */
  def q23MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // One-Permutation Hashing (Li/Owen/Zhang, NIPS'12) instead of 64
    // classical permutations: each shingle is hashed ONCE and assigned to
    // slot = top-6-bits(h); the signature is the per-slot min. Empty
    // slots take the next non-empty neighbor (rotation densification,
    // Shrivastava/Li ICML'14), falling back to the doc-global min.
    //
    // The corpus is hash-repartitioned by doc_id FIRST: the input is a
    // narrow scan (one task), and everything from tokenization to the
    // signature is per-doc work, so one exchange of the raw text unlocks
    // full-width compute AND satisfies the signature aggregation's
    // distribution — the plan runs scan → Exchange(doc_id) → shingle +
    // explode + aggregate in a single stage (guide §2.4/§2.5; was: two
    // exchanges of partially-aggregated slot minima, with the whole
    // interpreted higher-order-function pipeline serialized on one core).
    // (A 64-conditional-min single-aggregate variant measured 2x SLOWER
    // than this two-step shape — 64 min(when(slot=k)) buffers blow up the
    // generated aggregate past what JIT handles; the (doc,slot) min +
    // map densification keeps per-row agg work at one comparison.)
    val shingled = withShingles(Tables.spreadBy(
        corpusWithNearDups(spark, dir, dropWords = 3), col("doc_id")))
      .select(col("doc_id"), explode(expr("transform(shingles, s -> xxhash64(s))")).as("h"))
    val slotMins = shingled
      .groupBy(col("doc_id"), shiftrightunsigned(col("h"), 58).cast("int").as("slot"))
      .agg(min(col("h")).as("m"))
    val d = slotMins.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("slot"), col("m")))).as("mp"),
        min(col("m")).as("gmin"))
      .select(col("doc_id"),
        expr(s"""transform(sequence(0,63), j ->
          |  coalesce(${(0 to 7).map(k => s"element_at(mp, cast(pmod(j + $k, 64) as int))").mkString(", ")}, gmin))"""
          .stripMargin).as("sig"))
    // One band-explode + ONE groupBy shuffle: signatures are computed once
    // and pair generation happens inside each LSH bucket (a self-join on
    // (band, bh) would recompute the whole minhash subtree for both sides
    // — measured 2x the query). Bucket sizes are the LSH invariant; the
    // cap drops degenerate mega-buckets (standard practice — a bucket that
    // big means the band hash is not discriminating, not that every pair
    // in it is a near-dup).
    val buckets = d.select(col("doc_id"), col("sig"),
        explode(expr(
          "transform(sequence(0,15), b -> struct(b as band, xxhash64(b, slice(sig, b*4+1, 4)) as bh))"))
          .as("bb"))
      .groupBy(col("bb.band"), col("bb.bh"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("xs"))
      .filter(size(col("xs")).between(2, 1024))
    buckets
      .select(explode(expr(
        """flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs)), y -> struct(
          |    least(x.doc_id, y.doc_id) as doc_a,
          |    greatest(x.doc_id, y.doc_id) as doc_b,
          |    aggregate(zip_with(x.sig, y.sig, (p, q) -> if(p = q, 1, 0)), 0, (acc, v) -> acc + v) / 64.0 as est_sim))))"""
          .stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.est_sim"))
      .distinct()
      .filter(col("est_sim") >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        round(col("est_sim"), 4).cast("double").as("est_sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash(64): per-token xxhash64, bit-majority vote; near-dups via
    * 8×8-bit band blocking + hamming ≤ 8 (Charikar '02 / Manku '07 —
    * pigeonhole: ≤7 flipped bits guarantee one clean 8-bit chunk; at
    * corpus scale the chunk width widens to 16 to keep buckets sparse). */
  def q25Simhash(spark: SparkSession, dir: String): DataFrame = {
    // the 64-bit-vote aggregate below is interpreted O(64·|tokens|) per
    // row — spread the one-task scan so it runs full-width (guide §2.5)
    val d = Tables.spread(corpusWithNearDups(spark, dir, dropWords = 1))
      .withColumn("tokens", expr("array_distinct(split(lower(text), '\\\\s+'))"))
      .withColumn("simhash", expr(
        """aggregate(sequence(0, 63), 0L, (acc, i) -> shiftleft(acc, 1) +
          |  if(aggregate(tokens, 0L,
          |       (a, t) -> a + if((shiftright(xxhash64(t), 63 - i) & 1L) = 1L, 1L, -1L)) >= 0L,
          |     1L, 0L))""".stripMargin))
      .select("doc_id", "simhash")
    val bands = d.select(col("doc_id"), col("simhash"),
        explode(expr(
          "transform(sequence(0,7), b -> struct(b as band, shiftright(simhash, b*8) & 255L as chunk))"))
          .as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.chunk"))
    val a = bands.select(col("band"), col("chunk"), col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = bands.select(col("band"), col("chunk"), col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(expr("sh_a ^ sh_b") cast "long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram (word-set) Jaccard near-dup pairs, blocked by (lang, source)
    * — the SQL-checkable exact-similarity member of the dedup family. */
  def q24JaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // spread the one-task scan before the per-row tokenization (guide
    // §2.5); the word-explode + self-join below reuse one exchange either
    // way, so the only cost is the narrow text shuffle
    val d = Tables.spread(docs(spark, dir).select("doc_id", "lang", "source", "text"))
      .withColumn("words", expr("array_distinct(split(lower(text), '\\\\s+'))"))
      .select(col("doc_id"), col("lang"), col("source"), col("words"),
        size(col("words")).as("nw"))
    val ex = d.select(col("doc_id"), col("lang"), col("source"), col("nw"),
      explode(col("words")).as("word"))
    val a = ex.select(col("lang"), col("source"), col("word"),
      col("doc_id").as("doc_a"), col("nw").as("nw_a"))
    val b = ex.select(col("lang"), col("source"), col("word"),
      col("doc_id").as("doc_b"), col("nw").as("nw_b"))
    a.join(b, Seq("lang", "source", "word"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("nw_a"), col("nw_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("nw_a") + col("nw_b") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .orderBy("doc_a", "doc_b")
  }

  val q24Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(string_split_regex(lower(text), '\s+')) AS words
      |  FROM documents),
      |ex AS (
      |  SELECT doc_id, lang, source, len(words) AS nw, UNNEST(words) AS word FROM d)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    ROUND(COUNT(*) / (a.nw + b.nw - COUNT(*)), 4) AS jaccard
      |  FROM ex a JOIN ex b
      |    ON a.lang = b.lang AND a.source = b.source AND a.word = b.word
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.nw, b.nw)
      |WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin

  /** Rare-word Jaccard — q24's skew-safe twin (VERDICT r01 "What's wrong"
    * #2): words appearing in more than `dfMax` documents of a (lang,
    * source) group are dropped BEFORE the self-join, which removes the
    * hot-key quadratic blow-up (a stop word pairing every doc with every
    * doc) while keeping the similarity exact over the discriminative
    * vocabulary — the standard frequency-cutoff trick for all-pairs
    * similarity (cf. prefix filtering). */
  def q24bJaccardCutoff(spark: SparkSession, dir: String, dfMax: Int = 20): DataFrame = {
    val ex0 = Tables.spread(docs(spark, dir).select("doc_id", "lang", "source", "text"))
      .withColumn("words", expr("array_distinct(split(lower(text), '\\\\s+'))"))
      .select(col("doc_id"), col("lang"), col("source"), explode(col("words")).as("word"))
    // document frequency per (lang, source, word); words are distinct per
    // doc so count(*) IS the doc frequency — one map-side-combining agg
    val rare = ex0.groupBy("lang", "source", "word")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfMax)
      .select("lang", "source", "word")
    val ex = ex0.join(rare, Seq("lang", "source", "word"), "left_semi")
    val nw = ex.groupBy("doc_id", "lang", "source").agg(count(lit(1)).as("nw"))
    val exN = ex.join(nw, Seq("doc_id", "lang", "source"))
    val a = exN.select(col("lang"), col("source"), col("word"),
      col("doc_id").as("doc_a"), col("nw").as("nw_a"))
    val b = exN.select(col("lang"), col("source"), col("word"),
      col("doc_id").as("doc_b"), col("nw").as("nw_b"))
    a.join(b, Seq("lang", "source", "word"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("nw_a"), col("nw_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("nw_a") + col("nw_b") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .orderBy("doc_a", "doc_b")
  }

  val q24bSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(string_split_regex(lower(text), '\s+')) AS words
      |  FROM documents),
      |ex0 AS (
      |  SELECT doc_id, lang, source, UNNEST(words) AS word FROM d),
      |rare AS (
      |  SELECT lang, source, word FROM ex0
      |  GROUP BY lang, source, word HAVING COUNT(*) <= 20),
      |ex AS (
      |  SELECT ex0.* FROM ex0 SEMI JOIN rare
      |    ON ex0.lang = rare.lang AND ex0.source = rare.source AND ex0.word = rare.word),
      |nw AS (
      |  SELECT doc_id, lang, source, COUNT(*) AS nw FROM ex GROUP BY 1, 2, 3),
      |exn AS (
      |  SELECT ex.doc_id, ex.lang, ex.source, ex.word, nw.nw FROM ex
      |  JOIN nw ON ex.doc_id = nw.doc_id AND ex.lang = nw.lang AND ex.source = nw.source)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    ROUND(COUNT(*) / (a.nw + b.nw - COUNT(*)), 4) AS jaccard
      |  FROM exn a JOIN exn b
      |    ON a.lang = b.lang AND a.source = b.source AND a.word = b.word
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.nw, b.nw)
      |WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------- similarity search

  private def embeddingsD(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .withColumn("emb", col("embedding").cast("array<double>"))

  private val cosineExpr =
    """aggregate(zip_with(emb, q, (x, y) -> x * y), 0D, (a, v) -> a + v) /
      |(sqrt(aggregate(emb, 0D, (a, v) -> a + v * v)) *
      | sqrt(aggregate(q, 0D, (a, v) -> a + v * v)))""".stripMargin

  /** Brute-force cosine top-k vs a query vector (vec_id 0), the exact
    * baseline for ANN. Pure higher-order-function arithmetic. */
  def q26CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsD(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("emb").as("q"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), round(expr(cosineExpr), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(10)
  }

  val q26Sql: String =
    """SELECT vec_id, label,
      |  ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos_sim
      |FROM embeddings WHERE vec_id <> 0
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** IVF-style ANN: K=8 seeded centroids (vectors 0..7), every vector
    * assigned to its nearest centroid (one broadcast join — the scale
    * path: a full IVF probes only nprobe inverted lists instead of the
    * whole corpus). Returns the per-cluster top-3 nearest to the query. */
  def q27AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsD(spark, dir)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("emb").as("q"))
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"), expr(cosineExpr).as("sim"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(desc("sim"), asc("cent_id"))
    val clustered = assigned.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id"), round(col("sim"), 6).as("cent_sim"))
    val wTop = Window.partitionBy(col("cent_id")).orderBy(desc("cent_sim"), asc("vec_id"))
    clustered.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .select(col("cent_id"), col("vec_id"), col("cent_sim"), col("rk"))
      .orderBy("cent_id", "rk")
  }

  /** IVF with REAL inverted-list probing (VERDICT r01 #10): unlike q27
    * (which scores every vector to show cluster assignment), the query
    * here touches only the vectors whose assigned centroid is among the
    * `nprobe` centroids nearest to the query — cost O(probed lists), the
    * actual IVF search path. With nprobe = K it degenerates to exact
    * brute force (every vector is in some list), which the spec pins. */
  def q48IvfNprobe(spark: SparkSession, dir: String, nprobe: Int = 2, topK: Int = 10): DataFrame = {
    val e = embeddingsD(spark, dir)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("emb").as("q"))
    // assignment pass (build time, amortized across queries in a real IVF)
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("emb"), col("cent_id"), expr(cosineExpr).as("sim"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(desc("sim"), asc("cent_id"))
    val lists = assigned.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1).select("vec_id", "label", "emb", "cent_id")
    // query time: rank centroids vs the query, keep nprobe lists
    // (the query IS vector 0, which is also centroid 0 — its own list
    // always probes first, as in a real IVF warm start)
    val qvec = e.filter(col("vec_id") === 0).select(col("emb").as("q"))
    val probed = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("emb"))
      .crossJoin(broadcast(qvec))
      .select(col("cent_id"), expr(cosineExpr).as("csim"))
      .orderBy(desc("csim"), asc("cent_id")).limit(nprobe)
      .select("cent_id")
    // score ONLY the probed lists' vectors (a broadcast semi-join prunes
    // the scan to the lists — at scale this is the partition-pruning path)
    lists.join(broadcast(probed), Seq("cent_id"), "left_semi")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qvec))
      .select(col("vec_id"), col("label"), col("cent_id"),
        round(expr(cosineExpr), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(topK)
  }

  /** Embedding corpus with planted near-duplicate vectors: vec_id+100000
    * carries the same embedding perturbed per-component by ±1% (a
    * deterministic, SQL-replicable formula) — the base corpus is
    * near-orthogonal (max pairwise cosine 0.47), so the near-dup family
    * needs real signal, like the text corpus does. */
  private def embeddingsWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val base = embeddingsD(spark, dir).select(col("vec_id"), col("label"), col("emb"))
    val planted = base.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"),
        expr("transform(emb, (x, i) -> x * (1.0D + 0.005D * (cast((vec_id + i) % 5 as double) - 2.0D)))")
          .as("emb"))
    base.unionByName(planted)
  }

  /** Embedding-cosine near-duplicate pairs — exact all-pairs above a
    * threshold (the SQL-checkable baseline; blocked by label to keep the
    * self-join honest about its pruning strategy). */
  def q41EmbeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithNearDups(spark, dir)
    val a = e.select(col("label"), col("vec_id").as("vec_a"), col("emb").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("vec_b"), col("emb").as("emb_b"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(expr(
          """aggregate(zip_with(emb_a, emb_b, (x, y) -> x * y), 0D, (a, v) -> a + v) /
            |(sqrt(aggregate(emb_a, 0D, (a, v) -> a + v * v)) *
            | sqrt(aggregate(emb_b, 0D, (a, v) -> a + v * v)))""".stripMargin), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.95)
      .orderBy("vec_a", "vec_b")
  }

  val q41Sql: String =
    """WITH base AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |planted AS (
      |  SELECT vec_id + 100000 AS vec_id, label,
      |    list_transform(emb, (x, i) ->
      |      x * (1.0 + 0.005 * (CAST((vec_id + i - 1) % 5 AS DOUBLE) - 2.0))) AS emb
      |  FROM base WHERE vec_id % 11 = 0),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
      |SELECT vec_a, vec_b, cos_sim FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
      |  FROM corpus a JOIN corpus b
      |    ON a.label = b.label AND a.vec_id < b.vec_id)
      |WHERE cos_sim >= 0.95 ORDER BY vec_a, vec_b""".stripMargin

  /** Scale path for embedding near-dup: random-hyperplane LSH (Charikar
    * '02) — a 16-bit sign signature from seeded hyperplanes (hyperplane
    * components derived from xxhash64, no RNG state), bucket-join on
    * (band, chunk), exact cosine on the candidates only. Candidate
    * generation is O(collisions), not O(n²); recall vs the exact q41
    * pairs is pinned in TrainingDataSpec. */
  def q42EmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithNearDups(spark, dir)
    // hyperplane h ∈ [0,16), component j: centered hash in [-0.5, 0.5)
    val signed = e.withColumn("sig", expr(
      """aggregate(sequence(0, 15), 0L, (acc, h) -> shiftleft(acc, 1) +
        |  if(aggregate(zip_with(emb, sequence(0, size(emb) - 1),
        |       (x, j) -> x * (cast(shiftrightunsigned(xxhash64(h, j), 11) as double)
        |                      / 9007199254740992.0 - 0.5)),
        |     0D, (a, v) -> a + v) >= 0D, 1L, 0L))""".stripMargin))
      .select(col("vec_id"), col("emb"), col("sig"))
    // 4 bands × 4 bits
    val bands = signed.select(col("vec_id"), col("emb"), col("sig"),
        explode(expr(
          "transform(sequence(0,3), b -> struct(b as band, shiftright(sig, b*4) & 15L as chunk))"))
          .as("bb"))
      .select(col("vec_id"), col("emb"), col("bb.band"), col("bb.chunk"))
    val a = bands.select(col("band"), col("chunk"), col("vec_id").as("vec_a"), col("emb").as("emb_a"))
    val b = bands.select(col("band"), col("chunk"), col("vec_id").as("vec_b"), col("emb").as("emb_b"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("emb_a"), col("emb_b")).distinct()
      .select(col("vec_a"), col("vec_b"),
        round(expr(
          """aggregate(zip_with(emb_a, emb_b, (x, y) -> x * y), 0D, (a, v) -> a + v) /
            |(sqrt(aggregate(emb_a, 0D, (a, v) -> a + v * v)) *
            | sqrt(aggregate(emb_b, 0D, (a, v) -> a + v * v)))""".stripMargin), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.95)
      .orderBy("vec_a", "vec_b")
  }

  // ------------------------------------------------------- text analysis

  /** Language-ID heuristic: function-word ratios per language family
    * (n-gram/stopword heuristic; deterministic, SQL-checkable). */
  def q28LangId(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("tokens", split(lower(col("text")), "\\s+"))
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("n_en", expr(
        "size(filter(tokens, t -> t IN ('the', 'a', 'of', 'and', 'is')))"))
    d.select(col("doc_id"),
        when(col("n_tok") > 0 && col("n_en") / col("n_tok") >= 0.05, "en")
          .otherwise("und").as("lang_pred"))
      .groupBy("lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang_pred")
  }

  val q28Sql: String =
    """SELECT lang_pred, COUNT(*) AS n FROM (
      |  SELECT doc_id,
      |    CASE WHEN n_tok > 0 AND CAST(n_en AS DOUBLE) / n_tok >= 0.05
      |         THEN 'en' ELSE 'und' END AS lang_pred
      |  FROM (
      |    SELECT doc_id, len(toks) AS n_tok,
      |      len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS n_en
      |    FROM (SELECT doc_id,
      |            string_split_regex(lower(text), '\s+') AS toks
      |          FROM documents)))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Quality scoring: length/punctuation/stopword/digit ratios
    * (C4/Gopher-style heuristics, SQL-checkable arithmetic). */
  def q29QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("n_chars_m", length(col("text")))
      .withColumn("n_tok", size(split(col("text"), "\\s+")))
      .withColumn("n_punct", length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
      .withColumn("n_digit", length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
    d.select(col("doc_id"),
        col("n_tok"),
        round(col("n_punct") / col("n_chars_m"), 4).as("punct_ratio"),
        round(col("n_digit") / col("n_chars_m"), 4).as("digit_ratio"),
        round(col("n_chars_m") / col("n_tok"), 4).as("chars_per_tok"))
      .orderBy("doc_id")
  }

  val q29Sql: String =
    """SELECT doc_id, n_tok,
      |  ROUND(CAST(n_punct AS DOUBLE) / n_chars_m, 4) AS punct_ratio,
      |  ROUND(CAST(n_digit AS DOUBLE) / n_chars_m, 4) AS digit_ratio,
      |  ROUND(CAST(n_chars_m AS DOUBLE) / n_tok, 4) AS chars_per_tok
      |FROM (
      |  SELECT doc_id, length(text) AS n_chars_m,
      |    len(string_split_regex(text, '\s+')) AS n_tok,
      |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
      |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation. */
  def q30TokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    d.select(col("doc_id"),
        size(split(col("text"), "\\s+")).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)"))
          .as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  val q30Sql: String =
    """SELECT doc_id,
      |  len(string_split_regex(text, '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprint: md5 over whitespace-normalized lowercased text
    * (the cheap exact-dup content key at corpus scale). */
  def q31DocFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    d.select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fingerprint"))
      .orderBy("doc_id")
  }

  val q31Sql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD '03):
    * hash every k-char-gram (the rolling-hash family — xxhash64 per gram
    * keeps the pipeline codegen'd), then keep the minimum hash of each
    * window of w consecutive gram hashes; the distinct minima are the
    * document's fingerprints. Shared fingerprints localize overlap even
    * between partially-copied documents. */
  def q43WinnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val k = 8 // gram length (chars)
    val w = 16 // winnow window (grams)
    // NOTE the let-binding idiom `transform(array(X), x -> body)`: without
    // it, CollapseProject inlines the upstream expression into every use
    // inside the window transform — the whole-text regexp_replace then
    // re-evaluates per (window × gram), turning O(n) into O(n²·regex)
    // (measured as a hang). Binding via a 1-element array evaluates each
    // stage exactly once per row.
    val fpsExpr = expr(
      s"""flatten(transform(
         |  array(regexp_replace(lower(text), '\\\\s+', ' ')), nrm ->
         |    flatten(transform(
         |      array(transform(sequence(0, greatest(length(nrm) - $k, 0)),
         |                      i -> xxhash64(substring(nrm, i + 1, $k)))), gs ->
         |        array_distinct(transform(
         |          sequence(0, greatest(size(gs) - $w, 0)),
         |          i -> array_min(slice(gs, i + 1, $w))))))))""".stripMargin)
    // per-row work is O(|text|·w) interpreted gram/window arithmetic —
    // spread the one-task scan so it runs full-width (guide §2.5)
    Tables.spread(docs(spark, dir).select("doc_id", "text"))
      .select(col("doc_id"), fpsExpr.as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fingerprints"),
        posexplode(col("fps")).as(Seq("pos", "fingerprint")))
      .select("doc_id", "n_fingerprints", "pos", "fingerprint")
      .orderBy("doc_id", "pos")
  }

  // ------------------------------------------------- streaming / windows

  /** Tumbling event-time window aggregation (the batch equivalent of the
    * Structured Streaming pipeline in graft.streaming). */
  def q32StreamWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    e.groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
      .select(col("win.start").as("hour_start"), col("event_type"), col("n"), col("total"))
      .orderBy("hour_start", "event_type")
  }

  val q32Sql: String =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------------- multimodal

  /** Multimodal binary-payload pipeline: deterministic image bytes as an
    * opaque binary column with typed metadata, then decode + feature
    * extraction (mean brightness, phash) in a batched partition pass —
    * the Scala analogue of a mapInPandas image stage. JPEG decodes for
    * real (javax.imageio); lossless PNG reads its generated pixels
    * (ImageKit.payload); at cluster scale the same shape holds with the
    * bytes column read from the payload table. */
  def q33MultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 64)
      .select(col("vec_id"), concat(lit("img-"), lpad(col("vec_id").cast("string"), 8, "0")).as("image_id"))
    e.select("vec_id", "image_id").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (vecId, id) =>
          val p = ImageKit.payload(id)
          val brightness = p.rgb.map(px =>
            (((px >> 16) & 0xFF) + ((px >> 8) & 0xFF) + (px & 0xFF)) / 3.0).sum / p.rgb.length
          (vecId, id, p.fmt, p.w, p.h, p.bytes.length, p.phash,
            math.round(brightness * 100.0) / 100.0)
        }
      }
      .toDF("vec_id", "image_id", "fmt", "w", "h", "n_bytes", "phash", "brightness")
      .orderBy("vec_id")
  }
}
