package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import java.awt.image.BufferedImage
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** The baseline JPEG decoder: exact round trip on the DC-only synthetic
  * corpus (closed-form pixels), tolerance cross-check against files
  * written AND read by ImageIO (a foreign encoder with optimized
  * huffman tables and a foreign IDCT — the spec-sanctioned ±slop),
  * restart-marker handling, and malformed-input rejection.
  */
class JpegSpec extends AnyFunSuite {

  private def expectedPixels(id: Long): Array[Int] = {
    val gray = id % 2 != 0
    if (gray) {
      val out = new Array[Int](256)
      var k = 0
      while (k < 256) {
        val x = k % 16; val y = k / 16
        out(k) = Jpeg.synthGray(id, (y / 8) * 2 + (x / 8))
        k += 1
      }
      out
    } else {
      val out = new Array[Int](768)
      var px = 0
      while (px < 256) {
        val x = px % 16; val y = px / 16
        val bi = (y / 8) * 2 + (x / 8)
        val yv = Jpeg.synthY(id, bi)
        val cb = Jpeg.synthCb(id, bi)
        val cr = Jpeg.synthCr(id, bi)
        out(px * 3) = Jpeg.ycc2r(yv, cr)
        out(px * 3 + 1) = Jpeg.ycc2g(yv, cb, cr)
        out(px * 3 + 2) = Jpeg.ycc2b(yv, cb)
        px += 1
      }
      out
    }
  }

  test("synthetic DC-only corpus decodes to the closed form exactly (gray + color)") {
    for (id <- 0L to 25L) {
      val img = Jpeg.decode(Jpeg.synthJpegPayload(id))
        .getOrElse(fail(s"decode failed for id=$id"))
      assert(img.width == 16 && img.height == 16)
      assert(img.nComp == (if (id % 2 != 0) 1 else 3))
      val exp = expectedPixels(id)
      assert(img.pixels.length == exp.length)
      var k = 0
      while (k < exp.length) {
        assert((img.pixels(k) & 0xff) == exp(k),
          s"id=$id byte $k: got ${img.pixels(k) & 0xff}, want ${exp(k)}")
        k += 1
      }
    }
  }

  test("restart markers: RSTn every MCU realigns and resets DPCM, same pixels") {
    for (id <- Seq(2L, 3L, 6L, 9L); ri <- Seq(1, 2, 3)) {
      val img = Jpeg.decode(Jpeg.synthJpegPayload(id, restartInterval = ri))
        .getOrElse(fail(s"RST decode failed for id=$id ri=$ri"))
      val exp = expectedPixels(id)
      assert(img.pixels.map(_ & 0xff).toSeq == exp.toSeq, s"id=$id ri=$ri")
    }
  }

  private def expected420Pixels(id: Long): Array[Int] = {
    val out = new Array[Int](3072)
    var px = 0
    while (px < 1024) {
      val x = px % 32; val y = px / 32
      val yv = Jpeg.synthY(id, (y / 8) * 4 + (x / 8))
      val cb = Jpeg.synthCb(id, (y / 16) * 2 + (x / 16))
      val cr = Jpeg.synthCr(id, (y / 16) * 2 + (x / 16))
      out(px * 3) = Jpeg.ycc2r(yv, cr)
      out(px * 3 + 1) = Jpeg.ycc2g(yv, cb, cr)
      out(px * 3 + 2) = Jpeg.ycc2b(yv, cb)
      px += 1
    }
    out
  }

  test("synthetic 4:2:0 corpus decodes to the closed form exactly (± restart markers)") {
    for (id <- 0L to 20L; ri <- Seq(0, 1, 2, 3)) {
      val img = Jpeg.decode(Jpeg.synthJpeg420Payload(id, restartInterval = ri))
        .getOrElse(fail(s"4:2:0 decode failed for id=$id ri=$ri"))
      assert(img.width == 32 && img.height == 32 && img.nComp == 3)
      val exp = expected420Pixels(id)
      assert(img.pixels.length == exp.length)
      var k = 0
      while (k < exp.length) {
        assert((img.pixels(k) & 0xff) == exp(k),
          s"id=$id ri=$ri byte $k: got ${img.pixels(k) & 0xff}, want ${exp(k)}")
        k += 1
      }
    }
  }

  /** ImageIO-write; `lumaSampling` rewrites the writer metadata's
    * component-0 sampling factors (chroma pinned 1×1): None keeps the
    * writer default — 4:2:0 for color at EVERY quality, measured, so the
    * DEFAULT output is the foreign 4:2:0 corpus; Some((1,1)) forces
    * 4:4:4; Some((2,1))/Some((1,2)) force 4:2:2/4:4:0 — the asymmetric
    * layouts (hMax ≠ vMax) that pin the generalized plane/upsample
    * indexing. */
  private def writeJpeg(img: BufferedImage, quality: Float,
                        lumaSampling: Option[(Int, Int)] = None,
                        progressive: Boolean = false): Array[Byte] = {
    val w = ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val meta = lumaSampling match {
      case None => null
      case Some((lh, lv)) =>
        val m = w.getDefaultImageMetadata(
          new javax.imageio.ImageTypeSpecifier(img), p)
        val fmt = "javax_imageio_jpeg_image_1.0"
        val tree = m.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
        val sofs = tree.getElementsByTagName("sof")
        var i = 0
        while (i < sofs.getLength) {
          val comps = sofs.item(i).getChildNodes
          var j = 0
          var ci = 0
          while (j < comps.getLength) {
            comps.item(j) match {
              case e: org.w3c.dom.Element if e.getTagName == "componentSpec" =>
                val (h, v) = if (ci == 0) (lh, lv) else (1, 1)
                e.setAttribute("HsamplingFactor", h.toString)
                e.setAttribute("VsamplingFactor", v.toString)
                ci += 1
              case _ => ()
            }
            j += 1
          }
          i += 1
        }
        m.setFromTree(fmt, tree)
        m
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new IIOImage(img, null, meta), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  test("foreign encoder: ImageIO-written color JPEG (quality .98, 4:4:4, optimized tables) decodes within IDCT slop of ImageIO's own read") {
    val rnd = new scala.util.Random(42)
    val src = new BufferedImage(24, 17, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 17; x <- 0 until 24)
      src.setRGB(x, y, rnd.nextInt(1 << 24))
    val bytes = writeJpeg(src, 0.98f, lumaSampling = Some((1, 1)))
    val mine = Jpeg.decode(bytes)
      .getOrElse(fail("decoder rejected an ImageIO baseline 4:4:4 file"))
    assert(mine.width == 24 && mine.height == 17 && mine.nComp == 3)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until 17; x <- 0 until 24) {
      val rgb = ref.getRGB(x, y)
      val o = (y * 24 + x) * 3
      val dr = math.abs(((rgb >> 16) & 0xff) - (mine.pixels(o) & 0xff))
      val dg = math.abs(((rgb >> 8) & 0xff) - (mine.pixels(o + 1) & 0xff))
      val db = math.abs((rgb & 0xff) - (mine.pixels(o + 2) & 0xff))
      maxDiff = math.max(maxDiff, math.max(dr, math.max(dg, db)))
    }
    // two independent IDCT + color-convert implementations: T.81 allows
    // ±1 per IDCT sample; color convert adds at most ±1 more
    assert(maxDiff <= 2, s"max per-sample diff $maxDiff")
  }

  test("foreign encoder: ImageIO's DEFAULT color output IS 4:2:0 and decodes within slop (constant chroma)") {
    // R=G=B input ⇒ Cb=Cr=128 exactly, so chroma blocks are constant and
    // the upsampler choice (our replication vs libjpeg's triangle filter)
    // cannot matter — what's exercised is the interleaved 6-block MCU
    // walk, the per-component DPCM chains, and the half-res planes.
    // 48×33: non-multiple-of-16 height exercises MCU cropping.
    val src = new BufferedImage(48, 33, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 33; x <- 0 until 48) {
      val v = 40 + x * 2 + y * 3 // smooth, no wraparound
      src.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bytes = writeJpeg(src, 0.95f) // default metadata = subsampled
    val mine = Jpeg.decode(bytes)
      .getOrElse(fail("decoder rejected ImageIO's default (4:2:0) output"))
    assert(mine.width == 48 && mine.height == 33 && mine.nComp == 3)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until 33; x <- 0 until 48) {
      val rgb = ref.getRGB(x, y)
      val o = (y * 48 + x) * 3
      val dr = math.abs(((rgb >> 16) & 0xff) - (mine.pixels(o) & 0xff))
      val dg = math.abs(((rgb >> 8) & 0xff) - (mine.pixels(o + 1) & 0xff))
      val db = math.abs((rgb & 0xff) - (mine.pixels(o + 2) & 0xff))
      maxDiff = math.max(maxDiff, math.max(dr, math.max(dg, db)))
    }
    assert(maxDiff <= 2, s"max per-sample diff $maxDiff")
  }

  test("foreign encoder: 4:2:0 with VARYING chroma agrees away from tile edges") {
    // piecewise-constant 16×16 tiles: inside a tile every chroma sample
    // is equal, so replication and libjpeg's triangle upsampler agree on
    // the interior; only boundary pixels may differ between upsamplers —
    // excluded from the comparison (4-px margin).
    val colors = Array(0x3060a0, 0xa03060, 0x60a030, 0x806040,
      0x2080a0, 0xa08020, 0x5050b0, 0xb05050, 0x408060, 0x604080,
      0x907030, 0x309070)
    val src = new BufferedImage(64, 48, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 48; x <- 0 until 64)
      src.setRGB(x, y, colors((y / 16) * 4 + (x / 16)))
    val bytes = writeJpeg(src, 0.95f)
    val mine = Jpeg.decode(bytes)
      .getOrElse(fail("decoder rejected ImageIO's default (4:2:0) output"))
    assert(mine.width == 64 && mine.height == 48 && mine.nComp == 3)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until 48; x <- 0 until 64
         if x % 16 >= 4 && x % 16 < 12 && y % 16 >= 4 && y % 16 < 12) {
      val rgb = ref.getRGB(x, y)
      val o = (y * 64 + x) * 3
      val dr = math.abs(((rgb >> 16) & 0xff) - (mine.pixels(o) & 0xff))
      val dg = math.abs(((rgb >> 8) & 0xff) - (mine.pixels(o + 1) & 0xff))
      val db = math.abs((rgb & 0xff) - (mine.pixels(o + 2) & 0xff))
      maxDiff = math.max(maxDiff, math.max(dr, math.max(dg, db)))
    }
    assert(maxDiff <= 2, s"max interior per-sample diff $maxDiff")
  }

  test("foreign encoder: asymmetric 4:2:2 and 4:4:0 layouts (hMax ≠ vMax) decode within slop") {
    // constant chroma (R=G=B) keeps the upsampler choice irrelevant; what
    // these layouts uniquely pin is the generalized plane geometry — a
    // swapped h/v index in planeW or the y-scaling would scramble exactly
    // one of the two (and never show under 4:4:4 or symmetric 4:2:0).
    // 40×26: non-multiple of both MCU dims (16×8 and 8×16).
    for ((lh, lv) <- Seq((2, 1), (1, 2))) {
      val src = new BufferedImage(40, 26, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 26; x <- 0 until 40) {
        val v = 30 + x * 3 + y * 2
        src.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bytes = writeJpeg(src, 0.95f, lumaSampling = Some((lh, lv)))
      val mine = Jpeg.decode(bytes)
        .getOrElse(fail(s"decoder rejected an ImageIO ${lh}x$lv file"))
      assert(mine.width == 40 && mine.height == 26 && mine.nComp == 3)
      val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var maxDiff = 0
      for (y <- 0 until 26; x <- 0 until 40) {
        val rgb = ref.getRGB(x, y)
        val o = (y * 40 + x) * 3
        val dr = math.abs(((rgb >> 16) & 0xff) - (mine.pixels(o) & 0xff))
        val dg = math.abs(((rgb >> 8) & 0xff) - (mine.pixels(o + 1) & 0xff))
        val db = math.abs((rgb & 0xff) - (mine.pixels(o + 2) & 0xff))
        maxDiff = math.max(maxDiff, math.max(dr, math.max(dg, db)))
      }
      assert(maxDiff <= 2, s"${lh}x$lv max per-sample diff $maxDiff")
    }
  }

  private def expectedProgressivePixels(id: Long): Array[Int] = {
    if (id % 2 != 0) {
      val out = new Array[Int](1024)
      var k = 0
      while (k < 1024) {
        val x = k % 32; val y = k / 32
        out(k) = Jpeg.synthGray(id, (y / 8) * 4 + (x / 8))
        k += 1
      }
      out
    } else expected420Pixels(id) // same plane constants as the 4:2:0 corpus
  }

  test("synthetic progressive corpus decodes to the closed form exactly (gray non-interleaved + 4:2:0 interleaved, ± restarts)") {
    // ids 0..40 cover both parities and the % 5 == 0 restart-marker
    // variants (DRI=2 threaded through every scan)
    for (id <- 0L to 40L) {
      val img = Jpeg.decode(Jpeg.synthJpegProgressivePayload(id))
        .getOrElse(fail(s"progressive decode failed for id=$id"))
      assert(img.width == 32 && img.height == 32)
      assert(img.nComp == (if (id % 2 != 0) 1 else 3))
      val exp = expectedProgressivePixels(id)
      assert(img.pixels.length == exp.length)
      var k = 0
      while (k < exp.length) {
        assert((img.pixels(k) & 0xff) == exp(k),
          s"id=$id byte $k: got ${img.pixels(k) & 0xff}, want ${exp(k)}")
        k += 1
      }
    }
  }

  test("foreign encoder: ImageIO progressive color (default 4:2:0 script with AC refinement) decodes within slop") {
    // ImageIO's MODE_DEFAULT progressive script uses spectral selection
    // AND successive approximation — the AC-refine correction-bit path
    // no synthetic stream reaches. Constant chroma (R=G=B) keeps the
    // upsampler choice irrelevant; 48×33 exercises MCU cropping.
    val src = new BufferedImage(48, 33, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 33; x <- 0 until 48) {
      val v = 40 + x * 2 + y * 3
      src.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bytes = writeJpeg(src, 0.95f, progressive = true)
    // really progressive: the stream must carry SOF2
    assert(bytes.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc2), "writer emitted no SOF2")
    val mine = Jpeg.decode(bytes)
      .getOrElse(fail("decoder rejected ImageIO's progressive output"))
    assert(mine.width == 48 && mine.height == 33 && mine.nComp == 3)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until 33; x <- 0 until 48) {
      val rgb = ref.getRGB(x, y)
      val o = (y * 48 + x) * 3
      val dr = math.abs(((rgb >> 16) & 0xff) - (mine.pixels(o) & 0xff))
      val dg = math.abs(((rgb >> 8) & 0xff) - (mine.pixels(o + 1) & 0xff))
      val db = math.abs((rgb & 0xff) - (mine.pixels(o + 2) & 0xff))
      maxDiff = math.max(maxDiff, math.max(dr, math.max(dg, db)))
    }
    assert(maxDiff <= 2, s"max per-sample diff $maxDiff")
  }

  test("foreign encoder: ImageIO progressive 4:4:4 with random content decodes within slop") {
    val rnd = new scala.util.Random(1234)
    val src = new BufferedImage(24, 17, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 17; x <- 0 until 24)
      src.setRGB(x, y, rnd.nextInt(1 << 24))
    val bytes = writeJpeg(src, 0.98f, lumaSampling = Some((1, 1)),
      progressive = true)
    val mine = Jpeg.decode(bytes)
      .getOrElse(fail("decoder rejected an ImageIO progressive 4:4:4 file"))
    assert(mine.width == 24 && mine.height == 17 && mine.nComp == 3)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until 17; x <- 0 until 24) {
      val rgb = ref.getRGB(x, y)
      val o = (y * 24 + x) * 3
      val dr = math.abs(((rgb >> 16) & 0xff) - (mine.pixels(o) & 0xff))
      val dg = math.abs(((rgb >> 8) & 0xff) - (mine.pixels(o + 1) & 0xff))
      val db = math.abs((rgb & 0xff) - (mine.pixels(o + 2) & 0xff))
      maxDiff = math.max(maxDiff, math.max(dr, math.max(dg, db)))
    }
    assert(maxDiff <= 2, s"max per-sample diff $maxDiff")
  }

  test("foreign encoder: ImageIO progressive grayscale decodes within slop") {
    val rnd = new scala.util.Random(99)
    val src = new BufferedImage(19, 21, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 21; x <- 0 until 19) {
      val v = rnd.nextInt(256)
      src.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bytes = writeJpeg(src, 0.98f, progressive = true)
    val mine = Jpeg.decode(bytes)
      .getOrElse(fail("decoder rejected an ImageIO progressive grayscale file"))
    assert(mine.width == 19 && mine.height == 21 && mine.nComp == 1)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until 21; x <- 0 until 19) {
      val d = math.abs(ref.getRaster.getSample(x, y, 0) -
        (mine.pixels(y * 19 + x) & 0xff))
      maxDiff = math.max(maxDiff, d)
    }
    assert(maxDiff <= 1, s"max per-sample diff $maxDiff")
  }

  test("foreign encoder: ImageIO-written grayscale JPEG decodes within slop") {
    val rnd = new scala.util.Random(7)
    val src = new BufferedImage(19, 21, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 21; x <- 0 until 19) {
      val v = rnd.nextInt(256)
      src.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bytes = writeJpeg(src, 0.98f)
    val mine = Jpeg.decode(bytes)
      .getOrElse(fail("decoder rejected an ImageIO grayscale file"))
    assert(mine.width == 19 && mine.height == 21 && mine.nComp == 1)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    // raster samples, NOT getRGB: on TYPE_BYTE_GRAY getRGB applies a
    // linear-gray -> sRGB gamma transform (128 reads as 188)
    var maxDiff = 0
    for (y <- 0 until 21; x <- 0 until 19) {
      val d = math.abs(ref.getRaster.getSample(x, y, 0) -
        (mine.pixels(y * 19 + x) & 0xff))
      maxDiff = math.max(maxDiff, d)
    }
    assert(maxDiff <= 1, s"max per-sample diff $maxDiff")
  }

  test("malformed and out-of-scope inputs return None (StubCodec posture)") {
    val good = Jpeg.synthJpegPayload(4L)
    assert(Jpeg.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(Jpeg.decode(good.take(good.length / 2)).isEmpty) // truncated scan
    assert(Jpeg.decode(good.take(20)).isEmpty) // truncated header
    // flip SOF0 -> SOF2: the frame becomes progressive but the baseline
    // SOS header (Ss=0, Se=63) is illegal for ANY progressive scan kind
    // (a DC scan needs Se=0, an AC scan Ss>=1) — must reject, not decode
    val prog = good.clone()
    val sof = {
      var i = 2
      while (!((prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0)) i += 1
      i
    }
    prog(sof + 1) = 0xc2.toByte
    assert(Jpeg.decode(prog).isEmpty)
    // corrupt a huffman-coded scan byte far enough to break a code
    val bad = good.clone()
    bad(bad.length - 4) = 0x55
    // either cleanly None or a decode that differs — must not throw
    Jpeg.decode(bad)
    // adversarial dims: a 32768x32768 3-component SOF0 would demand
    // ~12 GiB of plane storage — must degrade to None at the header,
    // not OutOfMemoryError in the scan
    val huge = good.clone()
    val sof2 = {
      var i = 2
      while (!((huge(i) & 0xff) == 0xff && (huge(i + 1) & 0xff) == 0xc0)) i += 1
      i
    }
    huge(sof2 + 5) = 0x80.toByte; huge(sof2 + 6) = 0x00 // height = 32768
    huge(sof2 + 7) = 0x80.toByte; huge(sof2 + 8) = 0x00 // width  = 32768
    assert(Jpeg.decode(huge).isEmpty)
  }

  test("quality estimation: scaled Annex-K DQTs round-trip through the byte stream (8- and 16-bit)") {
    for (id <- 0L to 30L) {
      val q = (5 + (id % 94) * 7 % 94).toInt
      val qt = Jpeg.quantTables(Jpeg.synthJpegQualityPayload(id))
        .getOrElse(fail(s"DQT parse failed for id=$id"))
      assert(qt(0).toSeq == Jpeg.scaledTable(Jpeg.AnnexKLum, q).toSeq, s"id=$id lum")
      assert(qt(1).toSeq == Jpeg.scaledTable(Jpeg.AnnexKChr, q).toSeq, s"id=$id chr")
      assert(Jpeg.estimateQuality(qt(0), Jpeg.AnnexKLum) ==
        Jpeg.estimateQuality(Jpeg.scaledTable(Jpeg.AnnexKLum, q), Jpeg.AnnexKLum))
    }
    // exact-match inputs recover their quality across the whole knob
    for (q <- Seq(1, 10, 49, 50, 51, 75, 90, 99, 100)) {
      val got = Jpeg.estimateQuality(Jpeg.scaledTable(Jpeg.AnnexKLum, q), Jpeg.AnnexKLum)
      // distinct qualities can share a table at the clamped extremes; the
      // estimate must reproduce the observed table exactly either way
      assert(Jpeg.scaledTable(Jpeg.AnnexKLum, got).toSeq ==
        Jpeg.scaledTable(Jpeg.AnnexKLum, q).toSeq, s"q=$q got=$got")
    }
  }

  test("quality estimation: ImageIO-written files rank by their requested quality") {
    val src = new BufferedImage(32, 32, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 32; x <- 0 until 32)
      src.setRGB(x, y, ((x * 8) << 16) | ((y * 8) << 8) | ((x + y) * 4))
    val est = Seq(0.2f, 0.5f, 0.9f).map { qf =>
      val qt = Jpeg.quantTables(writeJpeg(src, qf))
        .getOrElse(fail(s"DQT parse failed for foreign quality $qf"))
      Jpeg.estimateQuality(qt(0), Jpeg.AnnexKLum)
    }
    // a foreign encoder need not sit exactly on the IJG rungs, but the
    // recovered qualities must order with the requested knob
    assert(est(0) < est(1) && est(1) < est(2), s"est=$est")
  }

  test("jpegPixelStats: engine stats equal closed-form recomputation") {
    val spark = graft.SparkTestSession.spark
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val docs = (0L to 19L).toDF("doc_id")
    val got = Jpeg.jpegPixelStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- 0L to 19L) {
      val exp = expectedPixels(id)
      var sum = 0L; var wsum = 0L
      val ch = new Array[Long](3)
      var k = 0
      while (k < exp.length) {
        sum += exp(k); wsum += k.toLong * exp(k); ch(k % 3) += exp(k)
        k += 1
      }
      val r = got(id)
      assert(r.getInt(1) == 16 && r.getInt(2) == 16)
      assert(r.getInt(4) == exp.length)
      assert(r.getLong(5) == sum && r.getLong(6) == wsum)
      assert(r.getLong(7) == ch(0) && r.getLong(8) == ch(1) &&
        r.getLong(9) == ch(2))
    }
  }

  test("jpegProgressivePixelStats: engine stats equal closed-form recomputation") {
    val spark = graft.SparkTestSession.spark
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val docs = (0L to 19L).toDF("doc_id")
    val got = Jpeg.jpegProgressivePixelStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- 0L to 19L) {
      val exp = expectedProgressivePixels(id)
      var sum = 0L; var wsum = 0L
      val ch = new Array[Long](3)
      var k = 0
      while (k < exp.length) {
        sum += exp(k); wsum += k.toLong * exp(k); ch(k % 3) += exp(k)
        k += 1
      }
      val r = got(id)
      assert(r.getInt(1) == 32 && r.getInt(2) == 32)
      assert(r.getInt(3) == (if (id % 2 != 0) 1 else 3))
      assert(r.getInt(4) == exp.length)
      assert(r.getLong(5) == sum && r.getLong(6) == wsum)
      assert(r.getLong(7) == ch(0) && r.getLong(8) == ch(1) &&
        r.getLong(9) == ch(2))
    }
  }

  test("synthetic payload bytes are pinned: one SHA-256 per encoder over ids 0..39") {
    // the decode tests compare pixels against the closed form, so a
    // reordered DHT or a changed APP0 would still pass them; q383 and
    // q388 read these bytes, not only the decoded pixels
    def digest(payload: Long => Array[Byte]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (0L until 40L).foreach(id => md.update(payload(id)))
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    val got = Seq(
      "baseline" -> digest(Jpeg.synthJpegPayload(_)),
      "baseline, restart every 2 MCUs" -> digest(Jpeg.synthJpegPayload(_, restartInterval = 2)),
      "4:2:0" -> digest(Jpeg.synthJpeg420Payload(_)),
      "4:2:0, restart every 2 MCUs" -> digest(Jpeg.synthJpeg420Payload(_, restartInterval = 2)),
      "progressive" -> digest(Jpeg.synthJpegProgressivePayload),
      "quality-scaled DQT" -> digest(Jpeg.synthJpegQualityPayload))
    val want = Seq(
      "baseline" ->
        "400402f3e075d42ad32eaf18107ad92af663fd2bc0cf802bd777a04bb6d843b7",
      "baseline, restart every 2 MCUs" ->
        "a5729bf9c4dd912bfb7f7587bb56a0a5a3d740059664268b093c00933f2d17cb",
      "4:2:0" ->
        "0e990e8b5e91d51ccea51ff71dae0ee83c8f94263b49e350fb50829778fc43ae",
      "4:2:0, restart every 2 MCUs" ->
        "bbf9afa7aca62dcfae1a53c447a362e1a495d71f8d54b50b3a2d08a3ab7b6144",
      "progressive" ->
        "a35d3b7968675b1ef4a8e528a57cd1cfec82c84d33218de49716ce2a2366496c",
      "quality-scaled DQT" ->
        "b7e296db825fab68c6b079a635551f57b697de7ad363c3582cccad2bfb197188")
    assert(got == want)
  }
}
