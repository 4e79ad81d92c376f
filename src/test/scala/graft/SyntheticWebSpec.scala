package graft

import graft.web.{SyntheticWeb, WebConfig}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the hand-rolled hot-path formatting in [[SyntheticWeb]] to the
  * java.util.Formatter forms it replaced — captions, image ids and host
  * names must stay byte-identical across the optimization. */
class SyntheticWebSpec extends AnyFunSuite {

  private val web = new SyntheticWeb(WebConfig(nHosts = 16, pagesPerHost = 20))

  test("hostName matches the %03d reference") {
    (0 until 16).foreach(i => assert(web.hostName(i) == f"host-$i%03d.test"))
    // out-of-range fallback keeps the %03d form (no truncation past 3 digits)
    assert(web.hostName(1234) == f"host-${1234}%03d.test")
    // negative indices: the sign counts toward the width, zeros follow it
    Seq(-5, -1234).foreach(i => assert(web.hostName(i) == f"host-$i%03d.test"))
  }

  test("imageIdsOf matches the %08d reference") {
    for (h <- 0 until 4; p <- 0 until 8) {
      val ids = web.imageIdsOf(h, p)
      ids.foreach { id =>
        val n = id.stripPrefix("img-")
        assert(id == f"img-${n.toLong}%08d", s"id $id")
      }
    }
  }

  test("captionOf matches the Formatter reference byte-for-byte") {
    val ids = (0 until 64).map(i => f"img-$i%08d") ++
      web.imageIdsOf(0, 0) ++ web.imageIdsOf(3, 7)
    ids.foreach { id =>
      val h = graft.urlkit.UrlKit.xxhash64(s"42:cap:$id")
      val nouns = Array("contract", "award", "vessel", "bridge", "façade", "depot", "übersicht", "naïve plan")
      val noun = nouns(math.floorMod(h, nouns.length.toLong).toInt)
      val cents = math.floorMod(h >>> 7, 100L)
      val dollars = math.floorMod(h >>> 17, 10000000L)
      val month = 1 + math.floorMod(h >>> 37, 12L)
      val day = 1 + math.floorMod(h >>> 42, 28L)
      val year = 2015 + math.floorMod(h >>> 47, 10L)
      val ref = f"Photo of $noun $id — obligation $$$dollars%,d.$cents%02d signed $month%02d/$day%02d/$year%d"
      assert(web.captionOf(id) == ref, s"caption mismatch for $id")
    }
  }
}
