package graft

import graft.images.ImageKit
import org.scalatest.funsuite.AnyFunSuite

class ImageKitSpec extends AnyFunSuite {

  private val ids = (0 until 40).map(i => f"img-$i%08d")

  test("generation is deterministic") {
    ids.foreach { id =>
      val (b1, w1, h1, f1) = ImageKit.generate(id)
      val (b2, w2, h2, f2) = ImageKit.generate(id)
      assert(java.util.Arrays.equals(b1, b2) && w1 == w2 && h1 == h2 && f1 == f2)
    }
  }

  test("dims within [8,64]; both png and jpeg occur") {
    val fmts = ids.map { id =>
      val (w, h) = ImageKit.dims(id)
      assert(w >= 8 && w <= 64 && h >= 8 && h <= 64)
      ImageKit.fmt(id)
    }
    assert(fmts.contains("png") && fmts.contains("jpeg"))
  }

  test("png roundtrip is lossless; jpeg roundtrip PSNR >= 40 dB") {
    ids.foreach { id =>
      val (w, h) = ImageKit.dims(id)
      val src = ImageKit.pixels(id, w, h)
      val f = ImageKit.fmt(id)
      val decoded = ImageKit.decode(ImageKit.encode(src, w, h, f))
      assert(decoded.w == w && decoded.h == h)
      val p = ImageKit.psnr(src, decoded.rgb)
      if (f == "png") assert(p == 999.0, s"png not lossless for $id (psnr=$p)")
      else assert(p >= 40.0, s"jpeg psnr $p < 40 for $id")
    }
  }

  test("hoisted pixel loop is bit-identical with the per-pixel reference") {
    // reference = the pre-optimization per-pixel formula, verbatim
    def refPixels(imageId: String, w: Int, h: Int): Array[Int] = {
      val seed = graft.urlkit.UrlKit.xxhash64(s"px:$imageId")
      val p0 = (seed & 0xFF).toInt
      val p1 = ((seed >>> 8) & 0xFF).toInt
      val p2 = ((seed >>> 16) & 0xFF).toInt
      val fx = 1 + ((seed >>> 24) & 3).toInt
      val fy = 1 + ((seed >>> 26) & 3).toInt
      def clamp(v: Int) = if (v < 0) 0 else if (v > 255) 255 else v
      val out = new Array[Int](w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val gx = (x * 255) / math.max(1, w - 1)
        val gy = (y * 255) / math.max(1, h - 1)
        val ripple = (16 * math.sin(fx * math.Pi * x / w) * math.cos(fy * math.Pi * y / h)).toInt
        val luma = clamp(64 + (gx + gy) / 4 + ripple)
        out(y * w + x) = (clamp(luma + (p0 & 15)) << 16) |
          (clamp(luma + (p1 & 15)) << 8) | clamp(luma + (p2 & 15))
      }
      out
    }
    ids.foreach { id =>
      val (w, h) = ImageKit.dims(id)
      assert(java.util.Arrays.equals(ImageKit.pixels(id, w, h), refPixels(id, w, h)),
        s"pixel mismatch for $id")
    }
  }

  test("raster fast-path decode matches the getRGB reference exactly") {
    ids.foreach { id =>
      val (bytes, w, h, _) = ImageKit.generate(id)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val ref = img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xFFFFFF)
      val got = ImageKit.decode(bytes)
      assert(got.w == w && got.h == h)
      assert(java.util.Arrays.equals(got.rgb, ref), s"decode mismatch for $id")
    }
  }

  test("a padded 3BYTE_BGR raster (sub-image) decodes to the getRGB pixels") {
    val bgr = java.awt.image.BufferedImage.TYPE_3BYTE_BGR
    val img = ids.iterator
      .map(id => javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ImageKit.generate(id)._1)))
      .find(_.getType == bgr).get
    val (w, h) = (img.getWidth - 2, img.getHeight - 2)
    // shares the parent's buffer: rows are 3*(w+2) bytes apart, starting 1 row + 1 pixel in
    val sub = img.getSubimage(1, 1, w, h)
    assert(sub.getType == bgr)
    val ref = sub.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xFFFFFF)
    val got = ImageKit.rgbOf(sub)
    assert(got.w == w && got.h == h)
    assert(java.util.Arrays.equals(got.rgb, ref), "padded raster read as if packed")
  }

  test("payload equals generate byte for byte and its phash equals phash(bytes) bit for bit") {
    val many = (0 until 2000).map(i => f"img-$i%08d")
    val fmts = many.map { id =>
      val (bytes, w, h, f) = ImageKit.generate(id)
      val p = ImageKit.payload(id)
      assert(java.util.Arrays.equals(p.bytes, bytes) && p.w == w && p.h == h && p.fmt == f,
        s"payload differs from generate for $id")
      assert(p.phash == ImageKit.phash(bytes), s"phash differs for $id ($f)")
      f
    }
    assert(fmts.contains("png") && fmts.contains("jpeg"))
  }

  test("phash is stable under jpeg re-encode and separates distinct images") {
    val id = ids.find(ImageKit.fmt(_) == "jpeg").get
    val (bytes, w, h, _) = ImageKit.generate(id)
    val d = ImageKit.decode(bytes)
    // re-encode the decoded pixels: hash must survive the lossy trip
    val reenc = ImageKit.encode(d.rgb, w, h, "jpeg")
    val h1 = ImageKit.phash(bytes)
    val h2 = ImageKit.phash(reenc)
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 4, "phash unstable under re-encode")
    // distinct ids should rarely collide exactly; check a handful differ
    val hashes = ids.take(10).map(i => ImageKit.phash(ImageKit.generate(i)._1))
    assert(hashes.distinct.size >= 8, s"phash collapsing: $hashes")
  }
}
