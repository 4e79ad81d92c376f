package graft

import graft.frontier.BloomGeometry
import org.scalatest.funsuite.AnyFunSuite

/** The Bloom index sizing schedule (VERDICT r03 #1/#2): geometry derived
  * from the seen-set estimate must (a) hold the keys at target fpp —
  * capacity ≥ estimate, (b) keep single blocks individually
  * broadcastable, and (c) always admit a slice plan that fits the
  * broadcast budget, up to the north rule's 10^10-frontier scale and a
  * decade beyond — with NO data, just the arithmetic the engine plans
  * with. */
class GeometrySpec extends AnyFunSuite {

  private val budget = 512L * 1024 * 1024
  private val maxBlock = budget / 4

  test("geometry covers the estimate, blocks stay broadcastable, 10^10 slices fit (VERDICT r03 #2 done-bar)") {
    for (est <- Seq(0L, 100000L, 100L * 1000 * 1000, 1000L * 1000 * 1000,
      10L * 1000 * 1000 * 1000, 100L * 1000 * 1000 * 1000)) {
      val g = BloomGeometry.forEstimate(est, storageBuckets = 16, maxBlockBytes = maxBlock)
      assert(g.totalCapacity >= est, s"est=$est: capacity ${g.totalCapacity} too small")
      assert(g.blockBytes <= math.max(maxBlock, BloomGeometry.blockBytesFor(BloomGeometry.MinCapacity)),
        s"est=$est: block ${g.blockBytes} exceeds per-block cap")
      assert(g.indexBuckets % 16 == 0, "index buckets must stay a multiple of storage buckets")
      val slices = BloomGeometry.slicesFitting(g, budget)
      assert(g.indexBuckets % slices == 0, s"est=$est: $slices does not divide ${g.indexBuckets}")
      assert(g.totalBytes / slices <= budget,
        s"est=$est: per-slice ${g.totalBytes / slices} exceeds budget $budget " +
          s"(geometry $g, $slices slices)")
    }
    // an index that fits the budget whole broadcasts as ONE slice
    assert(BloomGeometry.slicesFitting(BloomGeometry.forEstimate(100000L, 16, maxBlock), budget) == 1)
  }

  test("doubling schedule: growth rebuild count is logarithmic in the seen set") {
    // replay the engine's resize trigger (est > totalCapacity → new
    // geometry) over a crawl growing to 10^10: the number of distinct
    // geometries must be O(log), not O(runs)
    var g = BloomGeometry.forEstimate(0L, 16, maxBlock)
    var rebuilds = 0
    var est = 0L
    while (est < 10L * 1000 * 1000 * 1000) {
      est = math.max(est * 2, 100000L) // crawl doubling its history
      if (est > g.totalCapacity) {
        g = BloomGeometry.forEstimate(est, 16, maxBlock)
        rebuilds += 1
      }
    }
    assert(rebuilds <= 20, s"$rebuilds rebuilds to reach 10^10 — schedule not geometric")
    assert(g.totalCapacity >= 10L * 1000 * 1000 * 1000)
  }

  test("blockBytesFor matches spark-sketch's actual serialized size") {
    import org.apache.spark.util.sketch.BloomFilter
    for (cap <- Seq(1L << 16, 1L << 20, 1L << 24)) {
      val bf = BloomFilter.create(cap, BloomGeometry.TargetFpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val actual = bos.size().toLong
      val est = BloomGeometry.blockBytesFor(cap)
      // the estimate drives broadcast/slice planning: it must bound the
      // real size from above within a few percent, never undercount
      assert(est >= actual, s"cap=$cap: estimate $est under-counts actual $actual")
      assert(est <= actual * 1.05 + 64, s"cap=$cap: estimate $est too loose vs $actual")
    }
  }
}
