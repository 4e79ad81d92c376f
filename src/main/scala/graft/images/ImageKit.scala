package graft.images

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import graft.urlkit.UrlKit

/** Deterministic image payload kit (FIXTURES.md §1; north-rule image axis).
  *
  * Every image is a pure function of its `image_id`: dimensions, format and
  * pixels all derive from xxhash64 of the id, so the synthetic web can
  * "serve" petabytes of image bytes without storing any of them — the
  * 10^10-frontier scale path (SURVEY.md §7.4).
  *
  * JPEG is encoded at quality 0.95 over smooth low-frequency content so the
  * decode→re-encode path keeps PSNR well above the 40 dB gate
  * (`BASELINE.json.input_hint` per-row invariant).
  *
  * Uses only JDK built-in codecs (javax.imageio: PNG/JPEG), no external jars.
  */
object ImageKit {

  // javax.imageio defaults to DISK-backed stream caches (temp files) —
  // 32 concurrent encoder threads then serialize on temp-file creation
  // and scaling inverts (measured). Keep the caches in memory.
  javax.imageio.ImageIO.setUseCache(false)

  final case class Decoded(w: Int, h: Int, rgb: Array[Int])

  /** Width/height in [8, 64], deterministic in the id. */
  def dims(imageId: String): (Int, Int) = {
    val h = UrlKit.xxhash64(s"dims:$imageId")
    val w = 8 + ((h >>> 8) % 57).toInt
    val ht = 8 + ((h >>> 32) % 57).toInt
    (w, ht)
  }

  /** "png" (lossless) ~3/4, "jpeg" (lossy, exercises PSNR path) ~1/4. */
  def fmt(imageId: String): String =
    if ((UrlKit.xxhash64(s"fmt:$imageId") & 3) == 0) "jpeg" else "png"

  /** Smooth deterministic RGB content: per-image phase-shifted gradients
    * plus mild low-frequency ripple (JPEG-friendly). */
  def pixels(imageId: String, w: Int, h: Int): Array[Int] = {
    val seed = UrlKit.xxhash64(s"px:$imageId")
    val p0 = (seed & 0xFF).toInt
    val p1 = ((seed >>> 8) & 0xFF).toInt
    val p2 = ((seed >>> 16) & 0xFF).toInt
    val fx = 1 + ((seed >>> 24) & 3).toInt
    val fy = 1 + ((seed >>> 26) & 3).toInt
    val out = new Array[Int](w * h)
    // hoist the trig out of the pixel loop: sin depends only on x, cos
    // only on y, so w+h evaluations replace w*h — the expressions (and
    // the (16*sin)*cos association) are kept verbatim, so every pixel is
    // bit-identical with the per-pixel form
    val sx = new Array[Double](w)
    val gxs = new Array[Int](w)
    var x = 0
    while (x < w) {
      sx(x) = 16 * math.sin(fx * math.Pi * x / w)
      gxs(x) = (x * 255) / math.max(1, w - 1)
      x += 1
    }
    var y = 0
    while (y < h) {
      val cy = math.cos(fy * math.Pi * y / h)
      val gy = (y * 255) / math.max(1, h - 1)
      x = 0
      while (x < w) {
        val ripple = (sx(x) * cy).toInt
        // low-chroma content: one luma pattern + small constant per-channel
        // offsets, so JPEG's 4:2:0 chroma subsampling stays above the
        // 40 dB PSNR gate at q=0.98
        val luma = clamp(64 + (gxs(x) + gy) / 4 + ripple)
        val r = clamp(luma + (p0 & 15))
        val g = clamp(luma + (p1 & 15))
        val b = clamp(luma + (p2 & 15))
        out(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    out
  }

  private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Encode RGB pixels to PNG or JPEG(q=0.95) bytes. */
  def encode(rgb: Array[Int], w: Int, h: Int, format: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, rgb, 0, w)
    val bos = new ByteArrayOutputStream()
    if (format == "jpeg") {
      val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(0.98f)
      val ios = new MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), param)
      ios.flush(); writer.dispose()
    } else {
      ImageIO.write(img, "png", bos)
    }
    bos.toByteArray
  }

  /** Full deterministic payload for an image id. */
  def generate(imageId: String): (Array[Byte], Int, Int, String) = {
    val (w, h) = dims(imageId)
    val f = fmt(imageId)
    (encode(pixels(imageId, w, h), w, h, f), w, h, f)
  }

  /** A stored payload: `generate`'s bytes, dims and format, plus `rgb`,
    * the pixels a decoder reads back from `bytes`. */
  final case class Payload(bytes: Array[Byte], w: Int, h: Int, fmt: String, rgb: Array[Int]) {
    /** Equals `ImageKit.phash(bytes)`. */
    def phash: Long = phashOfPixels(rgb, w, h)
  }

  /** `generate` plus the decoded pixels. PNG is lossless, so its decoded
    * pixels are the generated ones and only JPEG pays a decode. */
  def payload(imageId: String): Payload = {
    val (w, h) = dims(imageId)
    val f = fmt(imageId)
    val px = pixels(imageId, w, h)
    val bytes = encode(px, w, h, f)
    Payload(bytes, w, h, f, if (f == "png") px else decode(bytes).rgb)
  }

  /** Decode any supported byte payload back to RGB. */
  def decode(bytes: Array[Byte]): Decoded = rgbOf(ImageIO.read(new ByteArrayInputStream(bytes)))

  /** Packed `0xRRGGBB` pixels of `img`, row-major. */
  private[graft] def rgbOf(img: BufferedImage): Decoded = {
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    def bytes = raster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte].getData
    img.getType match {
      // fast path for the two layouts the JDK codecs actually produce
      // here (PNG/JPEG RGB → 3BYTE_BGR): read the backing byte raster
      // directly instead of per-pixel ColorModel conversion via getRGB.
      // sRGB, no alpha, so the packed value is the same (r<<16|g<<8|b).
      // PACKED rasters only: a sub-image or padded scanline shares a
      // larger buffer whose rows do not start at 3*w*y.
      case BufferedImage.TYPE_3BYTE_BGR if bytes.length == 3 * w * h &&
          raster.getMinX == 0 && raster.getMinY == 0 &&
          raster.getSampleModel.asInstanceOf[java.awt.image.ComponentSampleModel]
            .getScanlineStride == 3 * w =>
        val data = bytes
        val out = new Array[Int](w * h)
        var i = 0
        var j = 0
        while (i < out.length) {
          out(i) = ((data(j + 2) & 0xFF) << 16) | ((data(j + 1) & 0xFF) << 8) | (data(j) & 0xFF)
          i += 1; j += 3
        }
        Decoded(w, h, out)
      case _ =>
        Decoded(w, h, img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xFFFFFF))
    }
  }

  /** 64-bit average hash: grayscale → 8×8 area mean → above-mean bits,
    * row-major MSB-first. Stable under high-quality lossy re-encoding. */
  def phash(bytes: Array[Byte]): Long = {
    val d = decode(bytes)
    phashOfPixels(d.rgb, d.w, d.h)
  }

  def phashOfPixels(rgb: Array[Int], w: Int, h: Int): Long = {
    val cell = new Array[Double](64)
    val cnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val cx = math.min(7, x * 8 / w)
        val p = rgb(y * w + x)
        val gray = 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
        cell(cy * 8 + cx) += gray
        cnt(cy * 8 + cx) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    var mean = 0.0
    while (i < 64) { if (cnt(i) > 0) cell(i) /= cnt(i); mean += cell(i); i += 1 }
    mean /= 64
    var bits = 0L
    i = 0
    while (i < 64) { if (cell(i) > mean) bits |= (1L << (63 - i)); i += 1 }
    bits
  }

  /** PSNR in dB between two equally-sized RGB images; infinity → 999.0. */
  def psnr(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length, s"size mismatch: ${a.length} vs ${b.length}")
    var se = 0.0
    var i = 0
    while (i < a.length) {
      var c = 0
      while (c < 3) {
        val d = ((a(i) >> (8 * c)) & 0xFF) - ((b(i) >> (8 * c)) & 0xFF)
        se += d.toDouble * d
        c += 1
      }
      i += 1
    }
    val mse = se / (3.0 * a.length)
    if (mse == 0.0) 999.0 else 10.0 * math.log10(255.0 * 255.0 / mse)
  }
}
