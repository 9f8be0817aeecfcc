package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PNG codec: one decoder ([[decodeFull]]) and one writer
  * ([[writePng]]) for every PNG the engine reads or builds. The decoder
  * covers bit depths 8/16, every standard color type, and ADAM7
  * INTERLACING (the PNG sibling of progressive JPEG — seven sub-images
  * on power-of-two grids, each filtered independently, scattered into
  * the final raster); INDEXED COLOR resolves through the CRC-verified
  * PLTE chunk to RGB8, and 16-bit samples stay big-endian pairs
  * (filters operate on BYTES with bpp = bytes-per-complete-pixel, per
  * the spec). [[Multimodal.HeaderCodec]], q244 and q365 decode through
  * it as q390 does, and [[Multimodal.synthPngPayload]] writes through
  * the same writer as [[synthPngFullPayload]].
  *
  * Zero-dependency posture (zlib via `java.util.zip`), degrade-to-None
  * contract for malformed/out-of-scope payloads (bit depths < 8,
  * private color types, dimension bombs).
  */
object Png {

  private[ext] def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def putBe32(b: Array[Byte], o: Int, v: Long): Unit = {
    var i = 0
    while (i < 4) { b(o + i) = ((v >> (8 * (3 - i))) & 0xff).toByte; i += 1 }
  }

  private val Signature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  // Adam7 pass grids: xStart, yStart, xStep, yStep (PNG spec §8.2)
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Each pass's grid and its width × height in pixels: the whole
    * raster as one pass, or Adam7's seven (small images leave some
    * EMPTY — no scanlines, not even filter bytes).
    */
  private def passes(w: Int, h: Int, interlaced: Boolean)
      : Array[((Int, Int, Int, Int), (Int, Int))] =
    if (!interlaced) Array(((0, 0, 1, 1), (w, h)))
    else Adam7.map { case g @ (x0, y0, dx, dy) =>
      (g, ((w - x0 + dx - 1) / dx, (h - y0 + dy - 1) / dy))
    }

  /** Samples per pixel of a color type, -1 for a private one. */
  private def channelsOf(colorType: Int): Int = colorType match {
    case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    case _ => -1
  }

  final case class PngFull(width: Int, height: Int, channels: Int,
                           bitDepth: Int, pixels: Array[Byte])

  /** The scanline filter predictor (PNG spec §9.2) for filter `f` from
    * the byte's reconstructed neighbours: `a` left, `up` above, `c`
    * upper-left (0 off the pass's edge). The writer subtracts it, the
    * decoder adds it back.
    */
  private def predict(f: Int, a: Int, up: Int, c: Int): Int = f match {
    case 0 => 0
    case 1 => a
    case 2 => up
    case 3 => (a + up) / 2
    case _ =>
      val p = a + up - c
      val pa = math.abs(p - a); val pb = math.abs(p - up)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
  }

  /** Reverse one pass's scanline filters in place into `dst` (tightly
    * packed passW×passH), reading filtered bytes from `raw` at
    * `rawOff`. Returns bytes consumed, or -1 on a bad filter id.
    */
  private def unfilterPass(raw: Array[Byte], rawOff: Int, dst: Array[Byte],
                           passW: Int, passH: Int, bpp: Int): Int = {
    val stride = passW * bpp
    var r = 0
    var off = rawOff
    while (r < passH) {
      val f = raw(off) & 0xff
      if (f > 4) return -1
      var i = 0
      while (i < stride) {
        val x = raw(off + 1 + i) & 0xff
        val a = if (i >= bpp) dst(r * stride + i - bpp) & 0xff else 0
        val up = if (r > 0) dst((r - 1) * stride + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp) dst((r - 1) * stride + i - bpp) & 0xff
                else 0
        dst(r * stride + i) = ((x + predict(f, a, up, c)) & 0xff).toByte
        i += 1
      }
      off += 1 + stride
      r += 1
    }
    off - rawOff
  }

  /** Decode the full supported repertoire: bit depths 8/16, color types
    * 0/2/3/4/6, interlace 0/1. Palette images resolve to RGB8 (3
    * channels, depth 8 in the result); 16-bit output keeps big-endian
    * byte pairs. None on anything malformed or out of scope — bad
    * signature or IHDR/IDAT/PLTE CRC, dimensions past the 2^24 per-axis
    * bound or the 1 GiB raw-size guard (the axis bound is checked FIRST
    * so the raw-size product cannot wrap on adversarial u32 dims), a
    * chunk length past the end, a truncated or over-long zlib stream —
    * with the same defensive catch as [[Jpeg.decode]] so a residual
    * out-of-bounds read on an adversarial stream degrades instead of
    * crashing the task.
    */
  private[ext] def decodeFull(b: Array[Byte]): Option[PngFull] =
    try decodeFullImpl(b)
    catch {
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException =>
        None
    }

  private def decodeFullImpl(b: Array[Byte]): Option[PngFull] = {
    val sigOk = b.length >= 45 &&
      Signature.indices.forall(i => b(i) == Signature(i)) &&
      be32(b, 8) == 13L &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'
    if (!sigOk) return None
    val ihdrCrc = new java.util.zip.CRC32()
    ihdrCrc.update(b, 12, 17)
    if (ihdrCrc.getValue != be32(b, 29)) return None
    val w = be32(b, 16); val h = be32(b, 20)
    val bitDepth = b(24) & 0xff; val colorType = b(25) & 0xff
    val interlace = b(28) & 0xff
    val channels = channelsOf(colorType)
    if (channels < 0 || (b(26) & 0xff) != 0 || (b(27) & 0xff) != 0 ||
        interlace > 1) return None
    if (bitDepth != 8 && !(bitDepth == 16 && colorType != 3)) return None
    if (w <= 0 || h <= 0 || w > (1L << 24) || h > (1L << 24)) return None
    val bpp = channels * (bitDepth / 8)
    val wi = w.toInt; val hi = h.toInt
    val passList = passes(wi, hi, interlace == 1)
    val rawLen = passList.map { case (_, (pw, ph)) =>
      if (pw <= 0 || ph <= 0) 0L else ph.toLong * (1L + pw.toLong * bpp)
    }.sum
    if (rawLen <= 0 || rawLen > (1L << 30)) return None
    // chunk walk: PLTE + concatenated IDAT, both CRC-verified
    val idat = new java.io.ByteArrayOutputStream()
    var palette: Array[Byte] = null
    var off = 33L
    var sawEnd = false
    while (!sawEnd && off + 8 <= b.length) {
      val io = off.toInt
      val len = be32(b, io)
      if (off + 12 + len > b.length) return None
      val name = new String(b, io + 4, 4, "US-ASCII")
      if (name == "IDAT" || name == "PLTE") {
        val c = new java.util.zip.CRC32()
        c.update(b, io + 4, 4 + len.toInt)
        if (c.getValue != be32(b, io + 8 + len.toInt)) return None
        if (name == "IDAT") idat.write(b, io + 8, len.toInt)
        else {
          if (len % 3 != 0 || len == 0 || len > 768) return None
          palette = java.util.Arrays.copyOfRange(b, io + 8, io + 8 + len.toInt)
        }
      } else if (name == "IEND") sawEnd = true
      off += 12 + len
    }
    if (idat.size() == 0 || (colorType == 3 && palette == null)) return None
    // inflate to exactly rawLen bytes
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0; var stalled = false
    try {
      while (got < raw.length && !inf.finished() && !stalled) {
        val m = inf.inflate(raw, got, raw.length - got)
        if (m == 0 && (inf.needsInput() || inf.needsDictionary()))
          stalled = true
        got += m
      }
      if (!stalled && got == raw.length && !inf.finished() &&
          inf.inflate(new Array[Byte](1)) > 0) stalled = true
    } catch { case _: java.util.zip.DataFormatException => stalled = true }
    finally inf.end()
    if (stalled || got != raw.length) return None
    // unfilter each pass, scatter to the final raster
    val stride = wi * bpp
    val px = new Array[Byte](hi * stride)
    var rawOff = 0
    var p = 0
    while (p < passList.length) {
      val ((x0, y0, dx, dy), (pw, ph)) = passList(p)
      if (pw > 0 && ph > 0) {
        if (interlace == 0) {
          // the single pass IS the raster — unfilter straight into px
          val used = unfilterPass(raw, rawOff, px, pw, ph, bpp)
          if (used < 0) return None
          rawOff += used
        } else {
          val dst = new Array[Byte](pw * ph * bpp)
          val used = unfilterPass(raw, rawOff, dst, pw, ph, bpp)
          if (used < 0) return None
          rawOff += used
          var j = 0
          while (j < ph) {
            var i = 0
            while (i < pw) {
              System.arraycopy(dst, (j * pw + i) * bpp, px,
                (y0 + j * dy) * stride + (x0 + i * dx) * bpp, bpp)
              i += 1
            }
            j += 1
          }
        }
      }
      p += 1
    }
    if (colorType != 3) Some(PngFull(wi, hi, channels, bitDepth, px))
    else { // resolve indices through the palette to RGB8
      // the rawLen guard bounds INDEX bytes (1/px); expansion is 3x and
      // can wrap Int on dims that passed it — compute in Long, degrade
      if (wi.toLong * hi * 3 > (1L << 30)) return None
      val n = palette.length / 3
      val out = new Array[Byte](wi * hi * 3)
      var k = 0
      while (k < wi * hi) {
        val idx = px(k) & 0xff
        if (idx >= n) return None
        out(k * 3) = palette(idx * 3)
        out(k * 3 + 1) = palette(idx * 3 + 1)
        out(k * 3 + 2) = palette(idx * 3 + 2)
        k += 1
      }
      Some(PngFull(wi, hi, 3, 8, out))
    }
  }

  // ------------------------------------------------------------ synth

  /** Deterministic sample formulas shared with the oracle. */
  private[ext] def rgbSample(id: Long, x: Int, y: Int, c: Int, w: Int): Int =
    (((id * 5 + (y * w + x) * 3 + c * 17) % 256 + 256) % 256).toInt
  private[ext] def palEntry(id: Long, j: Int, c: Int): Int = c match {
    case 0 => (((id * 29 + j * 31) % 256 + 256) % 256).toInt
    case 1 => (((id * 31 + j * 37) % 256 + 256) % 256).toInt
    case _ => (((id * 37 + j * 41) % 256 + 256) % 256).toInt
  }
  private[ext] def palIndex(id: Long, x: Int, y: Int, w: Int): Int =
    (((id * 13 + y * w + x) % 32 + 32) % 32).toInt
  private[ext] def gray16(id: Long, x: Int, y: Int, w: Int): Int =
    (((id * 257 + (y * w + x) * 101) % 65536 + 65536) % 65536).toInt

  /** One chunk: big-endian body length, type, body, CRC32 of type+body. */
  private def chunk(out: java.io.ByteArrayOutputStream, name: String,
                    body: Array[Byte]): Unit = {
    val c = new Array[Byte](12 + body.length)
    putBe32(c, 0, body.length)
    System.arraycopy(name.getBytes("US-ASCII"), 0, c, 4, 4)
    System.arraycopy(body, 0, c, 8, body.length)
    val crc = new java.util.zip.CRC32()
    crc.update(c, 4, 4 + body.length)
    putBe32(c, 8 + body.length, crc.getValue)
    out.write(c, 0, c.length)
  }

  /** Forward-filter a pass's raw samples with filter id (globalRow % 5)
    * per scanline — every filter type appears in every corpus slice, so
    * the decode replays the full reconstruction repertoire.
    */
  private def filterPass(samples: Array[Byte], passW: Int, passH: Int,
                         bpp: Int, rowBase: Int,
                         out: java.io.ByteArrayOutputStream): Unit = {
    val stride = passW * bpp
    var r = 0
    while (r < passH) {
      val f = (rowBase + r) % 5
      out.write(f)
      var i = 0
      while (i < stride) {
        val x = samples(r * stride + i) & 0xff
        val a = if (i >= bpp) samples(r * stride + i - bpp) & 0xff else 0
        val up = if (r > 0) samples((r - 1) * stride + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp) samples((r - 1) * stride + i - bpp) & 0xff
                else 0
        out.write((x - predict(f, a, up, c)) & 0xff)
        i += 1
      }
      r += 1
    }
  }

  /** The one PNG writer: signature, CRC32-correct IHDR, PLTE when
    * `palette` is non-empty, the image's GENUINE zlib stream split
    * across TWO IDAT chunks at its midpoint (spec: the zlib stream may
    * span chunks, so decoders must concatenate before inflating), and
    * IEND. `sample(x, y)` gives pixel (x, y)'s bytes (bpp of them); each
    * pass (one, or Adam7's seven when `interlaced`) is filtered with
    * filter id (scanline number across passes) mod 5, so every filter
    * type appears, and deflated with the JDK's Deflater (deterministic
    * for fixed input and default settings).
    */
  private[ext] def writePng(w: Int, h: Int, colorType: Int, bitDepth: Int,
                            interlaced: Boolean, palette: Array[Byte],
                            sample: (Int, Int) => Array[Byte]): Array[Byte] = {
    val bpp = channelsOf(colorType) * (bitDepth / 8)
    val rawOut = new java.io.ByteArrayOutputStream()
    var rowBase = 0
    for (((x0, y0, dx, dy), (pw, ph)) <- passes(w, h, interlaced)
         if pw > 0 && ph > 0) {
      val samples = new Array[Byte](pw * ph * bpp)
      for (j <- 0 until ph; i <- 0 until pw)
        System.arraycopy(sample(x0 + i * dx, y0 + j * dy), 0, samples,
          (j * pw + i) * bpp, bpp)
      filterPass(samples, pw, ph, bpp, rowBase, rawOut)
      rowBase += ph
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(rawOut.toByteArray); d.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
      d.end()
      buf.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature, 0, 8)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = bitDepth.toByte; ihdr(9) = colorType.toByte
    ihdr(12) = if (interlaced) 1 else 0 // compression, filter stay 0
    chunk(out, "IHDR", ihdr)
    if (palette.nonEmpty) chunk(out, "PLTE", palette)
    val split = deflated.length / 2
    chunk(out, "IDAT", java.util.Arrays.copyOfRange(deflated, 0, split))
    chunk(out, "IDAT",
      java.util.Arrays.copyOfRange(deflated, split, deflated.length))
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** A REAL PNG covering the decoder's repertoire, variant id % 4:
    *   0 — Adam7 interlaced truecolor 8-bit, 21×13 (odd dims: partial
    *       passes of every shape)
    *   1 — indexed color (PLTE, 32 entries), 16×16 non-interlaced
    *   2 — 16-bit grayscale, 12×9 non-interlaced (big-endian pairs)
    *   3 — Adam7 interlaced PALETTE, 3×3 (several EMPTY passes — the
    *       zero-scanline edge every interlace implementation gets wrong
    *       first)
    */
  private[ext] def synthPngFullPayload(id: Long): Array[Byte] = {
    val variant = (((id % 4) + 4) % 4).toInt
    val (w, h, colorType, bitDepth) = variant match {
      case 0 => (21, 13, 2, 8)
      case 1 => (16, 16, 3, 8)
      case 2 => (12, 9, 0, 16)
      case _ => (3, 3, 3, 8)
    }
    val palette =
      if (colorType != 3) Array.emptyByteArray
      else Array.tabulate(96)(i => palEntry(id, i / 3, i % 3).toByte)
    writePng(w, h, colorType, bitDepth, variant == 0 || variant == 3,
      palette, (x, y) => variant match {
        case 0 => Array.tabulate(3)(c => rgbSample(id, x, y, c, w).toByte)
        case 1 | 3 => Array(palIndex(id, x, y, w).toByte)
        case _ =>
          val v = gray16(id, x, y, w)
          Array((v >> 8).toByte, (v & 0xff).toByte)
      })
  }

  final case class PngFullStats(media_id: Long, variant: Int, width: Int,
                                height: Int, channels: Int, bit_depth: Int,
                                n_px_bytes: Int, px_sum: Long, px_wsum: Long)

  /** q390: generalized PNG decode — every doc rides signature/IHDR/CRC
    * validation, split-IDAT inflation, the five-filter reconstruction,
    * and (by variant) Adam7 deinterlacing, palette resolution, or
    * 16-bit samples. Position-weighted sums pin the deinterlace
    * scatter and byte order exactly. Narrow mapPartitions; payloads
    * never shuffle.
    */
  def pngFullStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    Multimodal.perDoc(docs) { id =>
      decodeFull(synthPngFullPayload(id)) match {
        case Some(img) =>
          val Array(sum, wsum, _, _, _) = Jpeg.pixelSums(img.pixels)
          PngFullStats(id, (((id % 4) + 4) % 4).toInt, img.width,
            img.height, img.channels, img.bitDepth, img.pixels.length,
            sum, wsum)
        case None => PngFullStats(id, -1, 0, 0, 0, 0, 0, 0L, 0L)
      }
    }
  }
}
