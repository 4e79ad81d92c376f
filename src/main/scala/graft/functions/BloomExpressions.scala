package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.LongAccumulator
import org.apache.spark.util.sketch.BloomFilter

import java.io.ByteArrayInputStream
import java.lang.ref.SoftReference

/** Executor-side runtime for [[BloomMightContain]]: an EXECUTOR-GLOBAL
  * cache of deserialized Bloom blocks, fed from a broadcast of the
  * serialized block map. In its own object so generated Java calls it
  * through the static forwarders.
  *
  * Why executor-global, not per-thread: a candidate partition carries
  * MIXED buckets, so every task thread eventually touches every bucket
  * of the active map/slice. A per-thread budget smaller than that
  * working set degenerates to a deserialization PER ROW once its
  * overflow wipe starts cycling — harmless at 10^6-key blocks (tens of
  * KB), a bench-stalling pathology at 10^9-key blocks (tens of MB each;
  * observed: every task thread pinned inside BloomFilter.readFrom). One
  * shared map caps memory at ONE working set total instead of one per
  * thread, and the working set always fits the budget by construction:
  * the engine sizes broadcast maps and slices against
  * `maxBroadcastBytes` (512 MB default) < this budget.
  *
  * Entries are held through [[SoftReference]]s: blocks from DEAD epochs
  * (destroyed broadcasts, finished slices) stay reusable while the heap
  * is comfortable but are reclaimable under pressure instead of pinning
  * up to a full budget of stale filters (ADVICE r03). The byte budget is
  * the hard backstop for the live working set; it defaults to a quarter
  * of the JVM's max heap (this object lives in the EXECUTOR JVM — on a
  * real cluster set `-Dgraft.bloom.cacheBytes` via
  * `spark.executor.extraJavaOptions`, not on the driver). */
object BloomRuntime {
  private val cache = new java.util.concurrent.ConcurrentHashMap[Long, SoftReference[BloomFilter]]()
  private val sizes = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  // executor-wide budget in BYTES: overflow means either the active epoch
  // ROTATED (new index build / next slice — stale entries wiped once per
  // rotation, never per row) or GC already cleared soft refs we still
  // account for (reconciled below)
  val MaxCacheBytes: Long =
    sys.props.get("graft.bloom.cacheBytes").map(_.toLong)
      .getOrElse(math.max(64L * 1024 * 1024, Runtime.getRuntime.maxMemory / 4))

  private def deref(key: Long): BloomFilter = {
    val ref = cache.get(key)
    if (ref == null) null
    else {
      val bf = ref.get()
      if (bf == null) { // GC cleared it: drop the entry and its accounting
        cache.remove(key)
        val sz = sizes.remove(key)
        if (sz != null) cachedBytes.addAndGet(-sz.longValue())
      }
      bf
    }
  }

  /** Membership test against a broadcast block map. A block is
    * deserialized once per (executor, epoch, bucket) — concurrent first
    * touches queue behind one deserialization (miss path below). The serialized
    * bytes live once per executor in the broadcast — they never flow
    * through a join (a joined binary column is re-copied out of its
    * UnsafeRow for EVERY candidate row, which costs more than the exact
    * anti-join Bloom is meant to save — measured, not theory). */
  // SplitMix64 finalizer: cache keys are mix(epoch) ^ bucket, so two live
  // epochs can never collide across buckets by a small additive offset
  // (epoch + bucket allowed it structurally; callers' epochs are random
  // 64-bit so the probability was ~2^-40, but one mix makes it impossible)
  private def mixEpoch(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def test(epoch: Long, bucket: Int, hash: Long,
           bc: Broadcast[Map[Int, Array[Byte]]]): Boolean = {
    val key = mixEpoch(epoch) ^ bucket
    var bf = deref(key)
    if (bf == null) {
      bc.value.get(bucket) match {
        case None => return false // no block for this bucket → definitely unseen
        case Some(bytes) =>
          // the MISS path is serialized: misses happen once per (epoch,
          // bucket) by design, and an unsynchronized check-then-act here
          // both overshoots the budget by threads × blockSize (32 threads
          // racing distinct 32 MB blocks ≈ +1 GB before any accounting
          // lands) and lets a racing clear() corrupt the byte counter
          // into premature per-row wipes. The hot path above stays
          // lock-free; first-touch threads briefly queue behind one
          // deserialization instead of all paying their own.
          this.synchronized {
            bf = deref(key)
            if (bf == null) {
              if (cachedBytes.get() + bytes.length > MaxCacheBytes) {
                // stale-epoch overflow: rare by construction (class doc)
                cache.clear(); sizes.clear(); cachedBytes.set(0L)
              }
              bf = BloomFilter.readFrom(new ByteArrayInputStream(bytes))
              cache.put(key, new SoftReference(bf))
              sizes.put(key, java.lang.Long.valueOf(bytes.length.toLong))
              cachedBytes.addAndGet(bytes.length.toLong)
            }
          }
      }
    }
    bf.mightContainLong(hash)
  }

  /** [[test]] that also counts positive verdicts into `acc` — lets the
    * scan-probe plan read its survivor count off the eager checkpoint's
    * own job instead of paying a separate count action. Advisory only:
    * accumulator semantics under task retries may overcount, which at
    * worst routes the probe to a more conservative plan. */
  def testCounting(epoch: Long, bucket: Int, hash: Long,
                   bc: Broadcast[Map[Int, Array[Byte]]], acc: LongAccumulator): Boolean = {
    val r = test(epoch, bucket, hash, bc)
    if (r) acc.add(1L)
    r
  }
}

/** `bloom_might_contain(bucket, hash)` over a broadcast Bloom-block map —
  * a native, whole-stage-codegen Catalyst expression. The candidate side
  * stays a single narrow codegen'd stage: no join with the index, no
  * per-row byte movement; the generated code calls
  * [[BloomRuntime.testCounting]], which counts each positive verdict into
  * `survivorAcc` (the scan-probe's survivor count).
  *
  * `epoch` uniquely identifies the built index: it keys the executor-side
  * cache (stale blocks across rebuilds would cause false negatives ⇒
  * duplicate fetches) and reaches the generated code via the references
  * array, NOT as a spliced literal — a changing literal would change the
  * generated source on every rebuild and pay a fresh janino compile.
  *
  * Both paths are live: engine runs execute with code generation off
  * (CrawlEngine.runOnce) and take `eval`; benches and queries take the
  * generated code.
  */
case class BloomMightContain(
    epoch: Long,
    blocks: Broadcast[Map[Int, Array[Byte]]],
    survivorAcc: LongAccumulator,
    left: Expression,
    right: Expression) extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_might_contain"

  // Null semantics: a null bucket/hash means "definitely unseen" (false) —
  // identically in the interpreted and generated paths (the expression
  // itself stays nullable=false so the surrounding filter never re-checks).
  override def eval(input: InternalRow): Any = {
    val b = left.eval(input)
    val h = right.eval(input)
    if (b == null || h == null) false
    else BloomRuntime.testCounting(epoch, b.asInstanceOf[Int], h.asInstanceOf[Long], blocks,
      survivorAcc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bucketGen = left.genCode(ctx)
    val hashGen = right.genCode(ctx)
    val epochRef = ctx.addReferenceObj("bloomEpoch", java.lang.Long.valueOf(epoch),
      "java.lang.Long")
    val bcRef = ctx.addReferenceObj("bloomBlocks", blocks,
      "org.apache.spark.broadcast.Broadcast")
    val accRef = ctx.addReferenceObj("bloomAcc", survivorAcc,
      "org.apache.spark.util.LongAccumulator")
    val call = s"graft.functions.BloomRuntime.testCounting(" +
      s"$epochRef.longValue(), ${bucketGen.value}, ${hashGen.value}, $bcRef, $accRef)"
    ev.copy(
      code = code"""
        ${bucketGen.code}
        ${hashGen.code}
        final boolean ${ev.value} = !(${bucketGen.isNull} || ${hashGen.isNull}) &&
          $call;
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BloomMightContain = copy(left = l, right = r)
}

object BloomMightContain {
  def counting(epoch: Long, blocks: Broadcast[Map[Int, Array[Byte]]],
               acc: LongAccumulator, bucket: Column, hash: Column): Column =
    Bridge.column(BloomMightContain(epoch, blocks, acc,
      Bridge.expression(bucket), Bridge.expression(hash)))
}
