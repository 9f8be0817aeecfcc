package graft.ext

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Multimodal-column plumbing (extension surface): image/audio/video travel
  * as opaque `binary` columns with typed metadata; decode/feature-extract
  * run per-partition so one task amortizes (real-world) codec init across
  * its whole batch.
  *
  * The actual codecs are NOT available in this environment, so the decode
  * step is a clearly-marked deterministic stub ([[StubCodec]]); everything
  * around it — schema, batch shape, partition-parallel execution, feature
  * schema — is real and tested. Swapping StubCodec for a JNI/ffmpeg-backed
  * codec changes no plumbing.
  *
  * Scale notes: media rows are large → keep
  * `spark.sql.files.maxPartitionBytes` low for these tables, never collect,
  * and carry only (id, features) forward after extraction so the binary
  * payload is pruned from downstream shuffles.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                            width: Int, height: Int, sample_rate: Int)

  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                                 checksum: Long, mean_byte: Double,
                                 frames_sampled: Int)

  /** The pluggable decode seam: one task-local instance per partition
    * (see [[extractFeatures]]); implementations must be Serializable
    * because the closure ships the chosen codec to executors. Swapping
    * implementations changes no plumbing — schema, batch shape,
    * partitioning are fixed by the surrounding operators.
    */
  trait MediaCodec extends Serializable {
    def decodeAndFeaturize(r: MediaRow, frameEvery: Int): MediaFeatures
  }

  /** Deterministic stand-in for the decode libraries that are not
    * installed here. Real implementation would decode `payload` with a
    * codec; the stub derives stable pseudo-features from the raw bytes so
    * the pipeline is testable end-to-end. [[HeaderCodec]] is the real
    * pure-JVM sibling for container formats whose headers parse without a
    * decoder library (BMP, RIFF/WAV) and for PNG, whose pixels it decodes
    * with [[Png.decodeFull]] (8/16-bit, palette, Adam7), and
    * [[Jpeg.decode]] the full baseline-JPEG pixel decode (q375) — the
    * stub's remaining honest scope is progressive JPEG, subsampled
    * chroma, and video/audio codecs.
    */
  object StubCodec extends MediaCodec {
    /** ??? in spirit: replace with a real decode when codecs exist. */
    def decodeAndFeaturize(r: MediaRow, frameEvery: Int): MediaFeatures = {
      val n = r.payload.length
      val frames = if (frameEvery <= 0) 0 else (n + frameEvery - 1) / frameEvery
      featuresOver(r, r.kind, r.payload, 0, n, frames)
    }
  }

  /** The features of `len` content bytes of `b` from `off`: their count,
    * FNV-1a checksum and mean, with `frames` as given.
    */
  private def featuresOver(r: MediaRow, kind: String, b: Array[Byte],
                           off: Int, len: Int, frames: Int): MediaFeatures = {
    var sum = 0L; var checksum = 1469598103934665603L // FNV-1a offset
    var i = off
    while (i < off + len) {
      sum += b(i) & 0xff
      checksum = (checksum ^ (b(i) & 0xff)) * 1099511628211L
      i += 1
    }
    MediaFeatures(r.media_id, kind, len, checksum,
      if (len == 0) 0.0 else sum.toDouble / len, frames)
  }

  /** Real pure-JVM header/content parsing for the three container formats
    * whose structure needs no decoder library: BMP (BITMAPINFOHEADER),
    * RIFF/WAV PCM, and PNG (big-endian chunk stream with CRC32-validated
    * IHDR). Genuine format logic — magic validation, endian-correct field
    * extraction, chunk walking, bounds checks, checksum verification —
    * with features computed over the CONTENT bytes the header locates
    * (the pixel array / the data chunk), not the whole file. PNG goes
    * further: [[Png.decodeFull]] is a FULL pure-JVM decode — zlib inflate
    * via the JDK's `Inflater`, complete scanline filter reconstruction,
    * Adam7 deinterlacing, palette resolution, 16-bit samples — so PNG
    * features are computed over REAL reconstructed pixels (palette
    * images as their RGB8 expansion, 16-bit ones as big-endian pairs).
    * Anything that fails validation falls back to [[StubCodec]]'s
    * whole-payload features, the production posture for an unknown
    * container; a PNG whose header parses but whose pixels don't decode
    * (a truncated or corrupt IDAT stream) gets the located-span features.
    *
    * frames: BMP/PNG → 1 (stills); WAV → ceil(samples / frameEvery) where
    * a sample is one blockAlign-sized PCM frame — frameEvery plays the
    * "samples per analysis window" role.
    */
  object HeaderCodec extends MediaCodec {
    import Riff.{u16le, u32le}
    import Png.be32

    final case class ProbedHeader(fmt: String, width: Int, height: Int,
                                  sampleRate: Int, channels: Int,
                                  blockAlign: Int, contentOff: Int,
                                  contentLen: Int)

    /** Parsed container header, or None if the payload is not a
      * well-formed BMP/WAV.
      */
    private[ext] def probe(b: Array[Byte]): Option[ProbedHeader] = {
      if (b.length >= 54 && b(0) == 'B' && b(1) == 'M') {
        val pixelOff = u32le(b, 10)
        val dibSize = u32le(b, 14)
        val w = u32le(b, 18).toInt
        val h = u32le(b, 22).toInt
        val bpp = u16le(b, 28)
        // height may be negative (top-down rows); magnitude is the dim
        if (dibSize >= 40 && w > 0 && h != 0 && bpp > 0 &&
            pixelOff >= 54 && pixelOff <= b.length) {
          val rowBytes = ((w.toLong * bpp + 31) / 32 * 4).toInt // 4-byte padded
          val len = math.min(rowBytes.toLong * math.abs(h),
            (b.length - pixelOff)).toInt
          Some(ProbedHeader("bmp", w, math.abs(h), 0, 0, 0, pixelOff.toInt, len))
        } else None
      } else if (b.length >= 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
                 b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
                 b(11) == 'E') {
        // chunk walk: fmt must precede data per spec, but walk defensively.
        // Chunk sizes are UNTRUSTED u32 fields: kept as Long end-to-end — a
        // crafted size >= 2^31 truncated via .toInt wraps negative, which
        // stalled the walk forever at size == -8 (off stops advancing) or
        // walked off backwards into a StringIndexOutOfBounds that escaped
        // probe. With Long arithmetic `off += 8 + size + (size & 1)` is
        // strictly increasing (size >= 0 always) and the `off + 8 <=
        // b.length` guard bounds every read, so malformed containers fall
        // through to the stub fallback instead of hanging the task.
        var off = 12L
        var rate = 0L; var channels = 0; var blockAlign = 0
        var dataOff = -1; var dataLen = 0
        while (off + 8 <= b.length && (dataOff < 0 || rate == 0)) {
          val io = off.toInt // safe: off + 8 <= b.length <= Int.MaxValue
          val id = new String(b, io, 4, "US-ASCII")
          val size = u32le(b, io + 4) // Long in [0, 2^32-1] — never negative
          if (id == "fmt " && off + 8 + 16 <= b.length) {
            channels = u16le(b, io + 10)
            rate = u32le(b, io + 12)
            blockAlign = u16le(b, io + 20)
          } else if (id == "data") {
            dataOff = io + 8
            // size >= 0 and dataOff <= b.length here, so dataLen >= 0:
            // a negative length can no longer masquerade as valid content
            dataLen = math.min(size, (b.length - dataOff).toLong).toInt
          }
          off += 8 + size + (size & 1) // chunks are word-aligned
        }
        // rate stays Long: a crafted sample-rate field >= 2^31 must fail
        // the > 0 gate below rather than wrap negative and pass
        if (rate > 0 && rate <= Int.MaxValue && channels > 0 &&
            blockAlign > 0 && dataOff >= 0)
          Some(ProbedHeader("wav", 0, 0, rate.toInt, channels, blockAlign,
            dataOff, dataLen))
        else None
      } else if (b.length >= 41 &&
                 (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
                 b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a &&
                 b(6) == 0x1a && b(7) == 0x0a) {
        // PNG: signature, then big-endian chunks (len, type, data, crc).
        // IHDR must be first per spec, 13-byte payload; its CRC32 (over
        // type+data, the standard definition) is VERIFIED — a corrupted
        // header is rejected rather than parsed into garbage dimensions.
        if (be32(b, 8) != 13L || b(12) != 'I' || b(13) != 'H' ||
            b(14) != 'D' || b(15) != 'R') None
        else {
          val w = be32(b, 16); val h = be32(b, 20)
          val crc = new java.util.zip.CRC32()
          crc.update(b, 12, 17)
          // spec caps dims at 2^31-1; anything above is malformed (and
          // would wrap .toInt below)
          if (crc.getValue != be32(b, 29) || w <= 0 || h <= 0 ||
              w > Int.MaxValue || h > Int.MaxValue) None
          else {
            // walk to the first IDAT. Same untrusted-length posture as the
            // WAV walk: lengths stay Long (be32 is in [0, 2^32-1], never
            // negative) so `off += 12 + len` is strictly increasing and
            // the `off + 8 <= b.length` guard bounds every read.
            var off = 33L // 8 sig + 4 len + 4 type + 13 data + 4 crc
            var dataOff = -1; var dataLen = 0
            while (dataOff < 0 && off + 8 <= b.length) {
              val io = off.toInt
              val len = be32(b, io)
              if (b(io + 4) == 'I' && b(io + 5) == 'D' &&
                  b(io + 6) == 'A' && b(io + 7) == 'T') {
                dataOff = io + 8
                dataLen = math.min(len, (b.length - dataOff).toLong).toInt
              } else off += 12 + len
            }
            if (dataOff < 0) None
            else Some(ProbedHeader("png", w.toInt, h.toInt, 0, 0, 0,
              dataOff, dataLen))
          }
        }
      } else None
    }

    /** A PNG is decoded first ([[Png.decodeFull]] declines any payload
      * without the PNG signature at once), so its IHDR is parsed once;
      * header-span features only if there is no pixel decode (a BMP, a
      * WAV, or a truncated or corrupt PNG stream).
      */
    def decodeAndFeaturize(r: MediaRow, frameEvery: Int): MediaFeatures =
      Png.decodeFull(r.payload) match {
        case Some(img) => featuresOver(r, "png", img.pixels, 0, img.pixels.length, 1)
        case None => probe(r.payload) match {
          case Some(h) => spanFeatures(r, h, frameEvery)
          case None => StubCodec.decodeAndFeaturize(r, frameEvery)
        }
      }

    private def spanFeatures(r: MediaRow, h: ProbedHeader,
                             frameEvery: Int): MediaFeatures = {
      val frames =
        if (h.fmt != "wav") 1 // stills: bmp, undecodable png
        else {
          val samples = h.contentLen / h.blockAlign
          if (frameEvery <= 0) 0 else (samples + frameEvery - 1) / frameEvery
        }
      featuresOver(r, h.fmt, r.payload, h.contentOff, h.contentLen, frames)
    }
  }

  /** Per-partition decode + feature extraction. mapPartitions (not map) so
    * a real codec is initialized once per task, not once per row — the
    * JVM-side equivalent of batched pandas-UDF execution. `codec` is the
    * pluggable seam: [[StubCodec]] (default, no format assumptions) or
    * [[HeaderCodec]] (real BMP/WAV parsing, stub fallback).
    */
  def extractFeatures(media: Dataset[MediaRow], frameEvery: Int = 1024,
                      codec: MediaCodec = StubCodec)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      // real impl: codec.open(...) here, once per partition
      rows.map(r => codec.decodeAndFeaturize(r, frameEvery))
    }
  }

  /** Builds a deterministic fake media table from the documents corpus
    * (text bytes as payload) — exercises the binary-column path with real
    * Spark binary data without any codec dependency.
    */
  def fakeMediaFromDocuments(docs: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, lit("image")).otherwise(lit("audio")).as("kind"),
      // NULL text → empty payload: the codec contract takes non-null bytes
      coalesce(encode(col("text"), "UTF-8"), lit(Array.empty[Byte])).as("payload"),
      (col("doc_id") % 640 + 1).cast("int").as("width"),
      (col("doc_id") % 480 + 1).cast("int").as("height"),
      lit(16000).as("sample_rate")
    ).as[MediaRow]
  }

  /** The registered query shape: features per media row, binary pruned. */
  def mediaFeatures(docs: DataFrame)(implicit spark: SparkSession): DataFrame =
    extractFeatures(fakeMediaFromDocuments(docs)).toDF()

  final case class MediaHash(media_id: Long, phash: Long)

  /** 64-bit average-hash perceptual fingerprint: the payload is cut into
    * `chunks` byte ranges (the stub's stand-in for an 8×8 luma grid — a
    * real codec would decode + downsample first, changing nothing below),
    * bit j = 1 iff chunk j's mean byte exceeds the whole-payload mean.
    * The compare is an integer cross-multiply (`cs·n > total·len`) — no
    * division, no floats, so the fingerprint is bit-identical in any
    * engine and SQL-derivable for the oracle.
    *
    * Near-identical payloads (a re-encode, a few changed bytes) flip few
    * chunk means → small Hamming distance; pairs come from
    * [[Dedup.nearDupPairsFromHashes]], the same banded machinery SimHash
    * uses. mapPartitions for the same codec-amortization reason as
    * [[extractFeatures]].
    */
  def perceptualHash(media: Dataset[MediaRow], chunks: Int = 64)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(chunks >= 1 && chunks <= 64, "chunks must fit a 64-bit hash")
    media.mapPartitions { rows =>
      rows.map { r =>
        val bs = r.payload
        val n = bs.length
        var phash = 0L
        if (n > 0) {
          var total = 0L
          var i = 0
          while (i < n) { total += bs(i) & 0xff; i += 1 }
          var j = 0
          while (j < chunks) {
            val lo = (j.toLong * n / chunks).toInt
            val hi = ((j + 1).toLong * n / chunks).toInt
            var cs = 0L
            var k = lo
            while (k < hi) { cs += bs(k) & 0xff; k += 1 }
            if (cs * n > total * (hi - lo)) phash |= (1L << j)
            j += 1
          }
        }
        MediaHash(r.media_id, phash)
      }
    }.toDF()
  }

  final case class Frame(media_id: Long, frame_idx: Int, byte_off: Int,
                         frame_bytes: Int, frame_ts_us: Long, checksum: Long)

  /** Frame sampling: each media payload expands to one row per sampled
    * frame — the row-explosion step a video/audio pipeline runs before
    * per-frame featurization. The stub "frame" is a fixed `stride`-byte
    * slice of the payload (a real codec would seek keyframes; the
    * surrounding plumbing — fan-out schema, per-frame offsets/timestamps,
    * per-partition codec amortization, `maxFrames` cap — is the real
    * contract and identical either way). `frame_ts_us` stamps frames on a
    * 25 fps clock; `checksum` is the FNV-1a of the frame's own bytes, the
    * per-frame content fingerprint downstream dedup joins on.
    *
    * Scale shape: a narrow mapPartitions fan-out — no shuffle, no state;
    * output rows carry only offsets + fingerprints (the payload slice is
    * consumed inside the task and NOT emitted), so a 100 TB video corpus
    * fans out to frame rows of a few dozen bytes each. `maxFrames` bounds
    * the per-row expansion (a 4-hour stream cannot 10⁶× one task's
    * output); real decoders plug in at the marked slice without touching
    * the plan.
    */
  def sampleFrames(media: Dataset[MediaRow], stride: Int = 256,
                   maxFrames: Int = 16)(
      implicit spark: SparkSession): Dataset[Frame] = {
    import spark.implicits._
    require(stride >= 1, "stride must be >= 1")
    media.mapPartitions { rows =>
      // real impl: codec init here, once per task
      rows.flatMap { r =>
        val n = r.payload.length
        val nFrames = math.min(((n + stride - 1) / stride).toLong, maxFrames.toLong).toInt
        (0 until nFrames).iterator.map { i =>
          val off = i * stride
          val len = math.min(stride, n - off)
          // stub decode: the frame IS the byte slice; FNV-1a fingerprints it
          var cs = 1469598103934665603L
          var j = off
          while (j < off + len) {
            cs = (cs ^ (r.payload(j) & 0xff)) * 1099511628211L
            j += 1
          }
          Frame(r.media_id, i, off, len, i * 40000L, cs)
        }
      }
    }
  }

  /** The registered query shape: frames sampled from the fake media
    * corpus, payloads pruned.
    */
  def mediaFrames(docs: DataFrame)(implicit spark: SparkSession): DataFrame =
    sampleFrames(fakeMediaFromDocuments(docs)).toDF()

  /** Cross-media duplicate-frame report: per media, its sampled-frame
    * count, distinct-fingerprint count (n_frames − n_distinct = INTERNAL
    * repetition — static/looping content), and how many of its frames
    * carry a fingerprint seen in at least one OTHER media (cross-media
    * sharing — re-encoded copies, intro/outro templates, contamination).
    * The frame-level complement of [[mediaNearDupPairs]]: that dedups
    * whole assets by one global hash, this localizes WHICH slices repeat.
    *
    * Scale shape: frames are fanned out once (narrow mapPartitions,
    * pinned so the fingerprint aggregate and the join-back don't decode
    * twice), the fingerprint-keyed distinct-media aggregate and the
    * equi-join back both shuffle on checksum (64-bit key, no skew
    * magnet), then one media-keyed aggregate. Payload bytes never cross
    * the wire — only (media_id, checksum) pairs.
    */
  def frameDupStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val f = mediaFrames(docs).select(col("media_id"), col("checksum"))
      .pin() // one-shot: fp totals AND per-media rollup share it
    val byFp = f.groupBy("checksum")
      .agg(count_distinct(col("media_id")).as("n_media"))
    f.join(byFp, "checksum")
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        count_distinct(col("checksum")).as("n_distinct"),
        sum(when(col("n_media") >= 2, lit(1L)).otherwise(lit(0L))).as("n_shared"))
  }

  /** Media near-duplicate pairs: perceptual hash → banded Hamming pairs.
    * The multimodal analogue of text SimHash dedup — candidate discovery
    * never touches payloads pairwise, only 64-bit fingerprints.
    */
  def mediaNearDupPairs(docs: DataFrame, maxHamming: Int = 3)(
      implicit spark: SparkSession): DataFrame =
    Dedup.nearDupPairsFromHashes(
      perceptualHash(fakeMediaFromDocuments(docs)),
      bits = 64, maxHamming = maxHamming, idCol = "media_id",
      hashCol = "phash")

  // ---- real-container path: genuine format logic, oracle-verifiable ----

  /** Builds REAL container bytes from an id: even ids → an 8×8 24-bpp BMP
    * (54-byte header + 192 unpadded pixel bytes), odd ids → a 16-bit mono
    * 16 kHz RIFF/WAV of 64 PCM samples (44-byte header + 128 data bytes).
    * Content bytes are a CLOSED-FORM function of the id — pixel k is
    * `(id·31 + k·7) mod 251`, sample s is the 16-bit LE of
    * `(id·13 + s·5) mod 65536` — so an external oracle can compute every
    * parsed feature analytically, which turns the whole
    * encode → header-parse → featurize chain into an exact-hash check.
    */
  private[ext] def synthPayload(mediaId: Long, kind: String): Array[Byte] = {
    import Riff.{put16le, put32le, putTag}
    if (kind == "image") {
      val px = 192 // 8 rows × 24 row-bytes (8 px × 3 B, already 4-aligned)
      val b = new Array[Byte](54 + px)
      b(0) = 'B'; b(1) = 'M'
      put32le(b, 2, 54L + px)  // file size
      put32le(b, 10, 54L)      // pixel-array offset
      put32le(b, 14, 40L)      // BITMAPINFOHEADER size
      put32le(b, 18, 8L)       // width
      put32le(b, 22, 8L)       // height (bottom-up)
      put16le(b, 26, 1)        // planes
      put16le(b, 28, 24)       // bpp
      var k = 0
      while (k < px) {
        b(54 + k) = ((mediaId * 31 + k * 7) % 251).toByte
        k += 1
      }
      b
    } else {
      val dataLen = 128 // 64 samples × 2 B
      val b = new Array[Byte](44 + dataLen)
      putTag(b, 0, "RIFF"); put32le(b, 4, 36L + dataLen)
      putTag(b, 8, "WAVE"); putTag(b, 12, "fmt ")
      put32le(b, 16, 16L)      // fmt chunk size
      put16le(b, 20, 1)        // PCM
      put16le(b, 22, 1)        // mono
      put32le(b, 24, 16000L)   // sample rate
      put32le(b, 28, 32000L)   // byte rate
      put16le(b, 32, 2)        // block align
      put16le(b, 34, 16)       // bits per sample
      putTag(b, 36, "data"); put32le(b, 40, dataLen.toLong)
      var s = 0
      while (s < 64) {
        put16le(b, 44 + 2 * s, ((mediaId * 13 + s * 5) % 65536).toInt)
        s += 1
      }
      b
    }
  }

  /** The closed-form pixel byte grid behind [[synthPngPayload]]: byte k
    * (row-major over w·h·bpp reconstructed scanline bytes) is
    * `(id·17 + k·11) mod 251` — what an external oracle computes
    * analytically, and what [[Png.decodeFull]] must reproduce
    * through the full deflate→filter→inflate→unfilter round trip.
    */
  private[ext] def synthPngPixel(mediaId: Long, k: Int): Int =
    ((mediaId * 17 + k * 11) % 251).toInt

  /** A REAL decodable PNG written by [[Png.writePng]]: 16×16, 8-bit
    * truecolor, non-interlaced — row r uses filter r mod 5, so None / Sub
    * / Up / Average / Paeth are ALL exercised — with the zlib stream
    * split across TWO IDAT chunks. The reconstructed pixel bytes are the
    * closed form [[synthPngPixel]], so the oracle never touches zlib:
    * decode ∘ encode = identity is exactly what the exact-hash check
    * proves.
    */
  private[ext] def synthPngPayload(mediaId: Long): Array[Byte] =
    Png.writePng(16, 16, colorType = 2, bitDepth = 8, interlaced = false,
      palette = Array.emptyByteArray, (x, y) => Array.tabulate(3)(c =>
        synthPngPixel(mediaId, (y * 16 + x) * 3 + c).toByte))

  /** The PNG face of [[probeMedia]] (q244): build a real PNG per doc and
    * FULLY DECODE it back with [[Png.decodeFull]] — inflate the
    * two-chunk zlib stream, reconstruct every scanline through all five
    * filters — emitting the decoded dimensions and PIXEL statistics. The
    * oracle recomputes every field from the closed-form pixel definition
    * ([[synthPngPixel]]) without touching zlib, so a hash match proves
    * the encode(filter→deflate) → decode(inflate→unfilter) round trip is
    * the identity on real pixel data. Narrow mapPartitions, payloads
    * consumed in-task.
    */
  def probePng(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    perDoc(docs) { id =>
      val p = synthPngPayload(id)
      Png.decodeFull(p) match {
        case Some(img) =>
          ProbedMedia(id, "png", img.width, img.height, 0, 0,
            img.pixels.length, Jpeg.pixelSum(img.pixels))
        case None => ProbedMedia(id, "unknown", 0, 0, 0, 0, p.length, 0L)
      }
    }
  }

  final case class PngPixelStats(media_id: Long, width: Int, height: Int,
                                 n_px_bytes: Int, px_sum: Long, px_wsum: Long,
                                 r_sum: Long, g_sum: Long, b_sum: Long)

  /** Decoded-pixel statistics per synthetic PNG (q365): total byte sum,
    * the POSITION-WEIGHTED sum Σ k·px[k] (order-sensitive — any scanline
    * or filter-reconstruction mix-up that happens to preserve the
    * multiset of bytes still breaks this), and per-channel sums (byte k
    * belongs to channel k mod 3 in truecolor scanline order). All fields
    * have closed forms over [[synthPngPixel]], so the oracle stays
    * analytic while the engine exercises the full real decode.
    */
  def pngPixelStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    perDoc(docs) { id =>
      val p = synthPngPayload(id)
      Png.decodeFull(p) match {
        case Some(img) =>
          val Array(sum, wsum, c0, c1, c2) = Jpeg.pixelSums(img.pixels)
          PngPixelStats(id, img.width, img.height, img.pixels.length,
            sum, wsum, c0, c1, c2)
        case None => PngPixelStats(id, 0, 0, 0, 0L, 0L, 0L, 0L, 0L)
      }
    }
  }

  /** One row `f(id)` per doc id of `docs`, in one narrow mapPartitions:
    * the shape of every synthetic-media query, which builds and decodes
    * each payload in the task that owns its id, so no payload ever
    * shuffles and the scale is the partition count.
    */
  private[ext] def perDoc[T <: Product : TypeTag](docs: DataFrame)(f: Long => T)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions(_.map(f)).toDF()
  }

  /** A media table whose payloads are REAL BMP/WAV containers (by id
    * parity), built executor-side in one narrow pass — the corpus the
    * [[HeaderCodec]] path is verified against.
    */
  def synthMedia(docs: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val kind = if (id % 2 == 0) "image" else "audio"
        MediaRow(id, kind, synthPayload(id, kind), 8, 8, 16000)
      }
    }
  }

  final case class ProbedMedia(media_id: Long, fmt: String, width: Int,
                               height: Int, sample_rate: Int, channels: Int,
                               n_content_bytes: Int, content_sum: Long)

  /** The registered real-decode query shape: parse each payload's
    * container header with [[HeaderCodec]] and emit the DECODED metadata
    * (dimensions / rate / channels, located-content length, content byte
    * sum) — the declared-vs-actual validation a production media pipeline
    * runs at intake, and here an exact oracle check of the parser itself
    * (the oracle recomputes every field from the closed-form corpus
    * definition without parsing anything). Narrow mapPartitions, payloads
    * consumed in-task, only scalar metadata emitted.
    */
  def probeMedia(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    synthMedia(docs).mapPartitions { rows =>
      rows.map { r =>
        HeaderCodec.probe(r.payload) match {
          case Some(h) =>
            var sum = 0L
            var i = h.contentOff
            while (i < h.contentOff + h.contentLen) {
              sum += r.payload(i) & 0xff; i += 1
            }
            ProbedMedia(r.media_id, h.fmt, h.width, h.height, h.sampleRate,
              h.channels, h.contentLen, sum)
          case None =>
            ProbedMedia(r.media_id, "unknown", 0, 0, 0, 0,
              r.payload.length, 0L)
        }
      }
    }.toDF()
  }
}
