package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EXIF metadata extraction — the cheap profiling path real image
  * pipelines run BEFORE any pixel decode (orientation fixes, dedup by
  * capture dims, ISO-based quality gates). The payload is a JPEG APP1
  * segment carrying a genuine TIFF structure (public specs: EXIF 2.x
  * over TIFF 6.0): byte-order mark (II little-endian / MM big-endian —
  * BOTH occur in the wild and in this corpus), IFD0 entry walk
  * (tag / type / count / inline-value-or-offset), and the Exif
  * sub-IFD reached through the 0x8769 pointer tag. No pixel decode —
  * the marker walk stops at SOS.
  *
  * Same degrade-to-None posture as the other media parsers: truncated
  * segments, out-of-bounds IFD offsets, or a missing Exif marker fall
  * back to the StubCodec path.
  */
object Exif {

  final case class ExifMeta(endianBig: Boolean, orientation: Int,
                            width: Int, height: Int, pixelX: Int, iso: Int)

  private def u16(b: Array[Byte], o: Int, big: Boolean): Int =
    if (big) ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    else ((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)
  private def u32(b: Array[Byte], o: Int, big: Boolean): Long =
    if (big)
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    else
      ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
        ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)

  /** Walk one IFD at `tiff + off`, returning (tag → value) for SHORT
    * and LONG scalar entries plus the raw offset value of pointer tags;
    * None on structural damage. `tiff` is the byte offset of the TIFF
    * header (all IFD offsets are relative to it).
    */
  private def readIfd(b: Array[Byte], tiff: Int, off: Long,
                      big: Boolean): Option[Map[Int, Long]] = {
    val base = tiff + off
    if (off < 8 || base + 2 > b.length) return None
    val n = u16(b, base.toInt, big)
    if (n > 256 || base + 2 + 12L * n + 4 > b.length) return None
    var m = Map.empty[Int, Long]
    var i = 0
    while (i < n) {
      val e = base.toInt + 2 + 12 * i
      val tag = u16(b, e, big)
      val typ = u16(b, e + 2, big)
      val count = u32(b, e + 4, big)
      // scalar SHORT (3) / LONG (4) with count 1 fit inline; the value
      // occupies the FIRST bytes of the 4-byte field in stream order
      if (count == 1 && (typ == 3 || typ == 4)) {
        val v = if (typ == 3) u16(b, e + 8, big).toLong else u32(b, e + 8, big)
        m += tag -> v
      }
      i += 1
    }
    Some(m)
  }

  /** JPEG marker walk to APP1/"Exif\0\0", then the TIFF parse: byte
    * order, magic 42, IFD0, and the 0x8769 Exif sub-IFD. Extracted:
    * orientation (0x0112), image width/length (0x0100/0x0101),
    * PixelXDimension (0xA002), ISO (0x8827).
    */
  private[ext] def parseExif(b: Array[Byte]): Option[ExifMeta] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    var p = 2
    while (p + 4 <= b.length) {
      if ((b(p) & 0xff) != 0xff) return None
      val m = b(p + 1) & 0xff
      if (m == 0xd9 || m == 0xda) return None // no APP1 before scan/end
      val len = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      if (len < 2 || p + 2 + len > b.length) return None
      if (m == 0xe1 && len >= 10 &&
          b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
          b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
        val tiff = p + 10
        if (tiff + 8 > b.length) return None
        val big =
          if (b(tiff) == 'M' && b(tiff + 1) == 'M') true
          else if (b(tiff) == 'I' && b(tiff + 1) == 'I') false
          else return None
        if (u16(b, tiff + 2, big) != 42) return None
        val ifd0Off = u32(b, tiff + 4, big)
        return readIfd(b, tiff, ifd0Off, big).flatMap { ifd0 =>
          val sub = ifd0.get(0x8769) match {
            case Some(off) => readIfd(b, tiff, off, big).getOrElse(return None)
            case None => Map.empty[Int, Long]
          }
          Some(ExifMeta(big,
            ifd0.getOrElse(0x0112, 0L).toInt,
            ifd0.getOrElse(0x0100, 0L).toInt,
            ifd0.getOrElse(0x0101, 0L).toInt,
            sub.getOrElse(0xa002, 0L).toInt,
            sub.getOrElse(0x8827, 0L).toInt))
        }
      }
      p += 2 + len
    }
    None
  }

  // ------------------------------------------------------------ synth

  /** A REAL JPEG prefix carrying an EXIF APP1: SOI, APP1 with a full
    * TIFF structure — byte order II for even ids / MM for odd (both
    * endiannesses exercised), IFD0 {ImageWidth LONG, ImageLength LONG,
    * Orientation SHORT, ExifIFD pointer}, Exif sub-IFD {PixelXDimension
    * LONG, ISO SHORT} — then a minimal DQT/SOF0/SOS tail so the stream
    * is a structurally plausible JPEG (the parser must stop at APP1,
    * never reaching the scan). Values are deterministic in id:
    * orientation 1..8, width/height/pixelX affine, ISO from the
    * standard {100..6400} doubling ladder.
    */
  private[ext] def synthExifPayload(id: Long): Array[Byte] = {
    val big = id % 2 != 0
    val out = new java.io.ByteArrayOutputStream()
    def w(vs: Int*): Unit = vs.foreach(v => out.write(v & 0xff))
    def w16be(v: Int): Unit = { w(v >> 8); w(v & 0xff) }
    // TIFF-side writers honoring the chosen byte order
    def t16(v: Int): Array[Int] =
      if (big) Array(v >> 8, v & 0xff) else Array(v & 0xff, v >> 8)
    def t32(v: Long): Array[Int] =
      if (big) Array(((v >> 24) & 0xff).toInt, ((v >> 16) & 0xff).toInt,
        ((v >> 8) & 0xff).toInt, (v & 0xff).toInt)
      else Array((v & 0xff).toInt, ((v >> 8) & 0xff).toInt,
        ((v >> 16) & 0xff).toInt, ((v >> 24) & 0xff).toInt)
    val orientation = (((id % 8) + 8) % 8 + 1).toInt
    val width = (640 + ((id * 7) % 3200 + 3200) % 3200).toInt
    val height = (480 + ((id * 11) % 2400 + 2400) % 2400).toInt
    val pixelX = width - (((id % 16) + 16) % 16).toInt
    val iso = (100 << (((id % 7) + 7) % 7).toInt) // 100..6400
    val tiff = new java.io.ByteArrayOutputStream()
    def tw(a: Array[Int]): Unit = a.foreach(v => tiff.write(v & 0xff))
    tw(if (big) Array('M', 'M') else Array('I', 'I'))
    tw(t16(42)); tw(t32(8L)) // IFD0 directly after the header
    // IFD0: 4 entries, then next-IFD offset 0
    tw(t16(4))
    def entry(tag: Int, typ: Int, value: Long): Unit = {
      tw(t16(tag)); tw(t16(typ)); tw(t32(1L))
      if (typ == 3) { tw(t16(value.toInt)); tw(Array(0, 0)) }
      else tw(t32(value))
    }
    val exifIfdOff = 8 + 2 + 4 * 12 + 4 // right after IFD0
    entry(0x0100, 4, width)
    entry(0x0101, 4, height)
    entry(0x0112, 3, orientation)
    entry(0x8769, 4, exifIfdOff)
    tw(t32(0L))
    // Exif sub-IFD: 2 entries
    tw(t16(2))
    entry(0x8827, 3, iso)
    entry(0xa002, 4, pixelX)
    tw(t32(0L))
    val tb = tiff.toByteArray
    w(0xff, 0xd8) // SOI
    w(0xff, 0xe1); w16be(2 + 6 + tb.length) // APP1
    w('E', 'x', 'i', 'f', 0, 0)
    out.write(tb, 0, tb.length)
    // plausible tail: DQT + SOF0 + SOS header (never parsed past APP1)
    w(0xff, 0xdb); w16be(67); w(0); (0 until 64).foreach(_ => w(1))
    w(0xff, 0xc0); w16be(11); w(8); w16be(8); w16be(8); w(1); w(1, 0x11, 0)
    w(0xff, 0xd9)
    out.toByteArray
  }

  final case class ExifStats(media_id: Long, endian: String, orientation: Int,
                             width: Int, height: Int, pixel_x: Int, iso: Int)

  /** q391: EXIF profiling over the corpus — one narrow pass, no pixel
    * work; the closed-form oracle recomputes every field from id.
    */
  def exifStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    Multimodal.perDoc(docs) { id =>
      parseExif(synthExifPayload(id)) match {
        case Some(e) =>
          ExifStats(id, if (e.endianBig) "MM" else "II", e.orientation,
            e.width, e.height, e.pixelX, e.iso)
        case None => ExifStats(id, "none", 0, 0, 0, 0, 0)
      }
    }
  }
}
