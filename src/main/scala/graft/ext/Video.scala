package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Motion-JPEG video in an AVI container — the first VIDEO decode path
  * past the container wall (reference: juliusmeinl4/Portfolio1-ETL has
  * no media surface; this is extension surface for the 100 TB pipeline
  * tier). MJPEG is a genuine, still-ubiquitous video codec (every frame
  * is an independent baseline/progressive JPEG — webcams, capture
  * cards, DVRs), and AVI is a RIFF form (public Microsoft spec), so the
  * whole path composes two parsers the engine already proves out:
  * the RIFF chunk discipline ([[Audio.parseWav]]'s sibling walk, here
  * with nested LISTs) and the full T.81 decoder ([[Jpeg.decode]]).
  *
  * Scope (honest): single video stream, frame chunks `NNdc`/`NNdb`
  * inside the `movi` LIST, frames decoded per [[Jpeg.decode]]'s scope
  * (baseline + progressive, subsampled layouts). Audio streams,
  * OpenDML extensions (`AVIX`), and frames in other codecs degrade to
  * None / skipped frames — the StubCodec posture throughout.
  */
object Video {

  import Riff.{u32le, fourcc}

  final case class AviInfo(declaredFrames: Int, width: Int, height: Int,
                           frames: Seq[Array[Byte]])

  /** AVI walk: RIFF/'AVI ', the `avih` main header (total frames +
    * dims) found inside the `hdrl` LIST, then every `NNdc`/`NNdb` chunk
    * inside the `movi` LIST in stream order. Word-aligned chunk
    * skipping throughout; `idx1` and unknown chunks ignored. None on
    * anything structurally off.
    */
  private[ext] def parseAvi(b: Array[Byte]): Option[AviInfo] = {
    if (b.length < 24 || !fourcc(b, 0, "RIFF") || !fourcc(b, 8, "AVI "))
      return None
    var declared = -1; var w = 0; var h = 0
    val frames = Seq.newBuilder[Array[Byte]]
    def walk(from: Int, to: Int, inMovi: Boolean, depth: Int): Boolean = {
      // real AVIs nest at most hdrl→strl (+odml); a crafted stream of
      // back-to-back LIST headers must not blow the JVM stack
      if (depth > 16) return false
      var p = from
      while (p + 8 <= to) {
        val sz = u32le(b, p + 4)
        val body = p + 8
        if (sz < 0 || body + sz > to) return false
        if (fourcc(b, p, "LIST")) {
          if (sz < 4) return false
          val isMovi = fourcc(b, body, "movi")
          // hdrl/strl/movi all nest plain chunks — recurse past the type
          if (!walk(body + 4, body + sz.toInt, inMovi || isMovi, depth + 1))
            return false
        } else if (fourcc(b, p, "avih")) {
          if (sz < 40) return false
          declared = u32le(b, body + 16).toInt
          w = u32le(b, body + 32).toInt
          h = u32le(b, body + 36).toInt
        } else if (inMovi && sz >= 0 &&
            (b(p + 2) & 0xff) == 'd' &&
            ((b(p + 3) & 0xff) == 'c' || (b(p + 3) & 0xff) == 'b')) {
          val f = new Array[Byte](sz.toInt)
          System.arraycopy(b, body, f, 0, sz.toInt)
          frames += f
        }
        p = body + sz.toInt + (sz.toInt & 1) // word alignment
      }
      true
    }
    if (!walk(12, b.length, inMovi = false, depth = 0) || declared < 0) None
    else Some(AviInfo(declared, w, h, frames.result()))
  }

  /** A REAL MJPEG AVI: RIFF('AVI '), hdrl LIST with a full `avih` main
    * header and a `strl` LIST (`strh` 'vids'/'MJPG' + `strf`
    * BITMAPINFOHEADER), a `movi` LIST of four `00dc` frames — each a
    * genuine JFIF stream from [[Jpeg.synthJpegPayload]] with frame id
    * 4·id + f (mixing the gray/color parities WITHIN one video, and
    * odd JPEG byte lengths exercising chunk padding) — and a
    * keyframe `idx1`. Decoded pixels stay closed-form per frame.
    */
  private[ext] def synthMjpegPayload(id: Long): Array[Byte] = {
    val frames = (0 until 4).map(f => Jpeg.synthJpegPayload(4 * id + f))
    def pad(n: Int): Int = n + (n & 1)
    val strlSize = 4 + 8 + 56 + 8 + 40
    val hdrlSize = 4 + 8 + 56 + 8 + strlSize
    val moviSize = 4 + frames.map(f => 8 + pad(f.length)).sum
    val idx1Size = 16 * frames.length
    val riffSize = 4 + 8 + hdrlSize + 8 + moviSize + 8 + idx1Size
    // written at a cursor into the sized buffer; a frame's word-alignment
    // pad byte is skipped over and stays zero
    val b = new Array[Byte](riffSize + 8)
    var o = 0
    def w32(v: Long): Unit = { Riff.put32le(b, o, v); o += 4 }
    def w16(v: Int): Unit = { Riff.put16le(b, o, v); o += 2 }
    def tag(s: String): Unit = { Riff.putTag(b, o, s); o += 4 }
    tag("RIFF"); w32(riffSize); tag("AVI ")
    tag("LIST"); w32(hdrlSize); tag("hdrl")
    tag("avih"); w32(56)
    w32(33333); w32(0); w32(0); w32(0x10) // µs/frame, maxBps, pad, HASINDEX
    w32(frames.length); w32(0); w32(1); w32(0) // totalFrames, init, streams
    w32(16); w32(16) // width, height
    (0 until 4).foreach(_ => w32(0)) // reserved
    tag("LIST"); w32(strlSize); tag("strl")
    tag("strh"); w32(56)
    tag("vids"); tag("MJPG"); w32(0); w32(0) // type, handler, flags, prio+lang
    w32(0); w32(1); w32(30) // initialFrames, scale, rate (30 fps)
    w32(0); w32(frames.length); w32(0) // start, length, bufSize
    w32(0); w32(0) // quality, sampleSize
    w32(0); w32(0) // rcFrame
    tag("strf"); w32(40)
    w32(40); w32(16); w32(16) // biSize, width, height
    w16(1); w16(24) // planes, bitCount
    tag("MJPG"); w32(0); w32(0); w32(0); w32(0); w32(0) // biCompression...
    tag("LIST"); w32(moviSize); tag("movi")
    frames.foreach { f =>
      tag("00dc"); w32(f.length)
      System.arraycopy(f, 0, b, o, f.length)
      o += pad(f.length) // word alignment
    }
    tag("idx1"); w32(idx1Size)
    var off = 4 // offsets are relative to the 'movi' type fourcc
    frames.foreach { f =>
      tag("00dc"); w32(0x10); w32(off); w32(f.length) // AVIIF_KEYFRAME
      off += 8 + pad(f.length)
    }
    b
  }

  final case class MjpegStats(media_id: Long, n_frames: Int,
                              n_frames_declared: Int, width: Int, height: Int,
                              f0_sum: Long, f1_sum: Long, f2_sum: Long,
                              f3_sum: Long, px_sum: Long)

  /** q388: MJPEG video decode — every doc gets a real AVI whose four
    * frames ride the FULL JPEG pipeline independently; per-frame pixel
    * sums pin each frame's decode (a swapped or skipped frame cannot
    * cancel), declared-vs-decoded frame counts pin the container walk.
    * Narrow mapPartitions; payloads never shuffle — the media scale
    * shape (scale = partitions, no exchange, frame loop in-task).
    */
  def mjpegStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    Multimodal.perDoc(docs) { id =>
      parseAvi(synthMjpegPayload(id)) match {
        case Some(avi) =>
          val sums = new Array[Long](4)
          var total = 0L
          var n = 0
          avi.frames.zipWithIndex.foreach { case (fb, fi) =>
            Jpeg.decode(fb).foreach { img =>
              val s = Jpeg.pixelSum(img.pixels)
              if (fi < 4) sums(fi) = s
              total += s
              n += 1
            }
          }
          MjpegStats(id, n, avi.declaredFrames, avi.width, avi.height,
            sums(0), sums(1), sums(2), sums(3), total)
        case None => MjpegStats(id, 0, -1, 0, 0, 0L, 0L, 0L, 0L, 0L)
      }
    }
  }
}
