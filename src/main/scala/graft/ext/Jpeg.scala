package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Baseline JPEG (ITU-T T.81 / ISO 10918-1 sequential DCT, public spec)
  * decode in pure JVM — closing the next-most-common container after
  * PNG ([[Png.decodeFull]]) (reference: juliusmeinl4/Portfolio1-ETL has no
  * media path at all; this is extension surface for the 100 TB training-
  * data pipeline tier, where JPEG is the dominant image payload).
  *
  * Decoder scope (honest): baseline sequential SOF0, 8-bit samples, 1 or
  * 3 components, per-component sampling factors h,v ∈ {1,2} — which
  * covers 4:4:4 (all 1×1), 4:2:0 (Y 2×2, the dominant real-world form:
  * Java's own ImageIO writer emits it at EVERY quality unless forced),
  * 4:2:2 (Y 2×1) and 4:4:0 (Y 1×2) — with interleaved multi-block MCUs
  * per T.81 A.2.3 and pixel-replication chroma upsampling (sample
  * (x·h/hMax, y·v/vMax); a constant chroma block upsamples to the same
  * constant, which is what keeps the synthetic oracle closed-form).
  * 8- or 16-bit DQT entries, arbitrary DHT tables (nothing hardcoded —
  * canonical code reconstruction per spec Annex C), restart markers
  * (DRI/RSTn with predictor + bit-alignment reset), 0xFF00 byte
  * unstuffing, run-length AC with EOB/ZRL, double-precision IDCT,
  * libjpeg-style fixed-point YCbCr→RGB. PROGRESSIVE (SOF2) is decoded
  * too: multi-scan coefficient accumulation with spectral selection
  * (Ss/Se bands, EOBRUN band-end runs) and successive approximation
  * (Ah/Al point transforms, DC/AC first+refine scans), per-scan DHT/DRI
  * updates, one dequantize+IDCT at EOI. Arithmetic coding, 12-bit, and
  * sampling factors > 2 (4:1:1) return None — the documented remaining
  * seam (the caller's StubCodec posture, same as
  * [[Multimodal.HeaderCodec]] for foreign containers).
  *
  * Encoder scope ([[synthJpegPayload]]): a REAL JFIF stream whose blocks
  * are per-block constants — the one family whose decoded pixels have a
  * CLOSED FORM (a constant block's DCT is DC-only and exactly rational:
  * F(0,0) = 8·(v−128); with an all-1s quant table the huffman-coded
  * DPCM round trip is lossless), so the q375 oracle recomputes every
  * decoded pixel analytically in SQL while the engine runs the full
  * marker-walk → huffman → dequantize → IDCT → color-convert pipeline.
  * AC coefficients, foreign optimized tables, and byte stuffing beyond
  * the synthetic corpus are exercised in the spec against ImageIO-
  * written files (JPEG IDCTs may legally differ by ±1 per sample, so
  * the foreign cross-check is tolerance-based; the closed-form oracle
  * is exact because both sides of it are DC-only).
  */
object Jpeg {

  final case class JpegImage(width: Int, height: Int, nComp: Int,
                             pixels: Array[Byte])

  // zigzag scan order: zigzag(k) = raster index of the k-th coefficient
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private val CosTab: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        u += 1
      }
      x += 1
    }
    t
  }
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  /** Canonical Huffman decode tables per T.81 Annex C/F: for each code
    * length, the smallest/largest code and the HUFFVAL offset.
    */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l) == 0) { maxCode(l) = -1 }
        else {
          valPtr(l) = k; minCode(l) = code
          code += bits(l); k += bits(l); maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def value(len: Int, code: Int): Int =
      vals(valPtr(len) + code - minCode(len)) & 0xff
  }

  /** Entropy-coded-segment bit reader: MSB-first, 0xFF00 unstuffed; a
    * bare 0xFF marker inside the scan stops the stream (RSTn handled by
    * the caller via [[atMarker]]/[[resync]]).
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var hitMarker = false
    var marker = 0

    def readBit(): Int = {
      if (nbits == 0) {
        if (hitMarker || pos >= b.length) { hitMarker = true; return -1 }
        var v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          val nxt = if (pos < b.length) b(pos) & 0xff else -1
          if (nxt == 0x00) pos += 1 // stuffed data byte
          else { hitMarker = true; marker = nxt; pos -= 1; return -1 }
          v = 0xff
        }
        acc = v; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }

    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val bit = readBit()
        if (bit < 0) return Int.MinValue
        v = (v << 1) | bit
        i += 1
      }
      v
    }

    def decodeHuff(t: HuffTable): Int = {
      var code = readBit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (t.maxCode(l) >= 0 && code <= t.maxCode(l) && code >= t.minCode(l))
          return t.value(l, code)
        val bit = readBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        l += 1
      }
      -1
    }

    /** At a restart boundary: discard padding bits still buffered from
      * the previous entropy segment (the encoder pads with 1s to a byte
      * boundary before RSTn), expect FF D0-D7 next, consume it, and
      * realign. Predictor reset is the caller's job. */
    def resyncRst(): Boolean = {
      if (!hitMarker) {
        nbits = 0 // drop pad bits; the marker must be next in the stream
        if (pos + 1 < b.length && (b(pos) & 0xff) == 0xff) {
          marker = b(pos + 1) & 0xff; hitMarker = true
        } else return false
      }
      if (marker < 0xd0 || marker > 0xd7) return false
      pos += 2 // consume FF Dx
      hitMarker = false; marker = 0; acc = 0; nbits = 0
      true
    }
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def idctBlock(coef: Array[Int], out: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            val c = coef(v * 8 + u)
            if (c != 0) {
              val cu = if (u == 0) InvSqrt2 else 1.0
              val cv = if (v == 0) InvSqrt2 else 1.0
              s += cu * cv * c * CosTab(x * 8 + u) * CosTab(y * 8 + v)
            }
            v += 1
          }
          u += 1
        }
        val px = math.round(s / 4.0).toInt + 128
        out(y * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        x += 1
      }
      y += 1
    }
  }

  /** libjpeg-style fixed-point YCbCr→RGB; `>> 16` is an arithmetic
    * (floor) shift — the oracle mirrors it with the +2^24 bias trick so
    * truncating SQL division agrees (operands made non-negative).
    */
  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  private[ext] def ycc2r(y: Int, cr: Int): Int =
    clamp255(y + ((91881 * (cr - 128) + 32768) >> 16))
  private[ext] def ycc2g(y: Int, cb: Int, cr: Int): Int =
    clamp255(y - ((22554 * (cb - 128) + 46802 * (cr - 128) + 32768) >> 16))
  private[ext] def ycc2b(y: Int, cb: Int): Int =
    clamp255(y + ((116130 * (cb - 128) + 32768) >> 16))

  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  /** Reads the tables of one DQT segment body `b[from, end)` into their
    * slots of `qt`, each as 64 NATURAL-order entries (8- or 16-bit
    * precision). False when a table names a slot or precision outside
    * the spec or overruns the segment. The full decoder and the
    * quality-estimation walk ([[quantTables]]) read tables through it, so
    * both agree on what a stream's tables are.
    */
  private def readDqt(b: Array[Byte], from: Int, end: Int,
                      qt: Array[Array[Int]]): Boolean = {
    var o = from
    while (o < end) {
      val pq = (b(o) & 0xff) >> 4
      val tq = b(o) & 0x0f
      if (tq > 3 || pq > 1) return false
      val n = if (pq == 0) 64 else 128
      if (o + 1 + n > end) return false
      val t = new Array[Int](64)
      var k = 0
      while (k < 64) {
        t(Zigzag(k)) =
          if (pq == 0) b(o + 1 + k) & 0xff else be16(b, o + 1 + 2 * k)
        k += 1
      }
      qt(tq) = t
      o += 1 + n
    }
    true
  }

  /** Full baseline decode. None for anything outside the documented
    * scope or structurally malformed — the StubCodec fallback posture.
    * The marker walk bounds-checks each segment's declared length, and a
    * defensive catch converts any residual out-of-bounds read on a
    * truncated/adversarial stream into None instead of crashing the
    * task (payloads are untrusted input; the contract is degrade, not
    * throw).
    */
  def decode(b: Array[Byte]): Option[JpegImage] =
    try decodeImpl(b)
    catch {
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException =>
        None
    }

  private def decodeImpl(b: Array[Byte]): Option[JpegImage] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    val qt = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var width = 0; var height = 0; var nComp = 0
    // per component: id, qtable idx, dc tab, ac tab, sampling factors
    var compQ: Array[Int] = null
    var compId: Array[Int] = null
    var compDc: Array[Int] = null
    var compAc: Array[Int] = null
    var sampH: Array[Int] = null
    var sampV: Array[Int] = null
    var restartInterval = 0
    var p = 2
    var sofSeen = false
    var progressive = false
    // progressive state, allocated at the first SOS: per-component
    // coefficient arrays in the QUANTIZED domain (successive-approximation
    // refinement operates on quantized values; dequantize+IDCT happen once
    // at EOI), one 64-entry slot per block over the padded MCU grid
    var pCoef: Array[Array[Int]] = null
    var pBlocksW: Array[Int] = null
    var pMcusX = 0; var pMcusY = 0
    var pHMax = 1; var pVMax = 1
    var pHs: Array[Int] = null; var pVs: Array[Int] = null
    var pScans = 0
    while (p + 2 <= b.length) { // EOI is a bare 2-byte marker at the end
      if ((b(p) & 0xff) != 0xff) return None
      val m = b(p + 1) & 0xff
      if (m == 0xff) { p += 1 } // legal fill byte before a marker
      else {
      if (m == 0xd9) { // EOI: ends a progressive stream; premature otherwise
        return if (progressive && pScans > 0)
          finishProgressive(width, height, nComp, compQ, pHs, pVs, pHMax,
            pVMax, pMcusX, pMcusY, pBlocksW, pCoef, qt)
        else None
      }
      if (p + 4 > b.length) return None // all other markers carry a length
      val len = be16(b, p + 2)
      if (len < 2 || p + 2 + len > b.length) return None
      val seg = p + 4
      m match {
        case 0xdb => // DQT: one or more tables
          if (!readDqt(b, seg, p + 2 + len, qt)) return None
        case 0xc4 => // DHT: one or more tables
          var o = seg
          while (o < p + 2 + len) {
            if (o + 17 > p + 2 + len) return None // BITS must fit the segment
            val tc = (b(o) & 0xff) >> 4
            val th = b(o) & 0x0f
            if (tc > 1 || th > 3) return None
            val bits = new Array[Int](17)
            var total = 0
            var l = 1
            while (l <= 16) { bits(l) = b(o + l) & 0xff; total += bits(l); l += 1 }
            if (total > 256 || o + 17 + total > p + 2 + len) return None
            val vals = new Array[Byte](total)
            System.arraycopy(b, o + 17, vals, 0, total)
            val tab = new HuffTable(bits, vals)
            if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
            o += 17 + total
          }
        case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
          if (sofSeen) return None // one frame per stream
          progressive = m == 0xc2
          if (len < 8) return None // fixed fields must fit the segment
          if ((b(seg) & 0xff) != 8) return None // precision
          height = be16(b, seg + 1); width = be16(b, seg + 3)
          nComp = b(seg + 5) & 0xff
          if (len < 8 + 3 * nComp) return None // component specs must fit
          if (width <= 0 || height <= 0 || (nComp != 1 && nComp != 3))
            return None
          if (width > (1 << 16) || height > (1 << 16)) return None
          // Adversarial-dims guard (Png.decodeFull's 1 GiB posture): the scan
          // allocates per-plane Int arrays at padded-MCU resolution, so a
          // crafted 32768x32768x3 SOF0 would demand ~12 GiB and kill the
          // task with OutOfMemoryError instead of degrading to None.
          // Compute in Long — 65536x65536 wraps Int. Pad by 16 (the
          // widest MCU this decoder accepts) so the bound covers every
          // sampling layout's padding.
          if (((width + 15L) / 16 * 16) * ((height + 15L) / 16 * 16) *
              nComp * 4L > (if (progressive) 1L << 29 else 1L << 30))
            return None // progressive holds coef grids AND planes at EOI
          compId = new Array[Int](nComp); compQ = new Array[Int](nComp)
          sampH = new Array[Int](nComp); sampV = new Array[Int](nComp)
          var c = 0
          var blocksPerMcu = 0
          while (c < nComp) {
            compId(c) = b(seg + 6 + 3 * c) & 0xff
            val hv = b(seg + 7 + 3 * c) & 0xff
            sampH(c) = hv >> 4; sampV(c) = hv & 0x0f
            // h,v ∈ {1,2}: 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0. Factors of 4
            // (4:1:1) are the documented remaining seam.
            if (sampH(c) < 1 || sampH(c) > 2 || sampV(c) < 1 || sampV(c) > 2)
              return None
            blocksPerMcu += sampH(c) * sampV(c)
            compQ(c) = b(seg + 8 + 3 * c) & 0x0f
            c += 1
          }
          // T.81 B.2.2: Σ Hi·Vi ≤ 10 for interleaved scans (also bounds
          // the per-MCU decode work on adversarial streams)
          if (nComp > 1 && blocksPerMcu > 10) return None
          sofSeen = true
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          return None // extended/lossless/arithmetic SOF — out of scope
        case 0xdd => // DRI
          restartInterval = be16(b, seg)
        case 0xda if !progressive => // SOS — decode the scan and finish
          if (!sofSeen || len < 3) return None
          val ns = b(seg) & 0xff
          if (ns != nComp || len < 6 + 2 * ns) return None
          compDc = new Array[Int](nComp); compAc = new Array[Int](nComp)
          var c = 0
          while (c < ns) {
            val cs = b(seg + 1 + 2 * c) & 0xff
            val ci = compId.indexOf(cs)
            if (ci < 0) return None
            compDc(ci) = (b(seg + 2 + 2 * c) & 0xff) >> 4
            compAc(ci) = b(seg + 2 + 2 * c) & 0x0f
            c += 1
          }
          return decodeScan(b, p + 2 + len, width, height, nComp,
            compQ, compDc, compAc, sampH, sampV, qt, dcTabs, acTabs,
            restartInterval)
        case 0xda => // progressive SOS: accumulate coefficients, keep walking
          if (!sofSeen || len < 3) return None
          val ns = b(seg) & 0xff
          if (ns < 1 || ns > nComp || len < 6 + 2 * ns) return None
          if (pCoef == null) { // first scan: size the coefficient grids
            // single-component frames are non-interleaved throughout:
            // declared factors don't shape the grid (T.81 A.2.2)
            pHs = if (nComp == 1) Array(1) else sampH
            pVs = if (nComp == 1) Array(1) else sampV
            var ci = 0
            while (ci < nComp) {
              if (pHs(ci) > pHMax) pHMax = pHs(ci)
              if (pVs(ci) > pVMax) pVMax = pVs(ci)
              ci += 1
            }
            pMcusX = (width + 8 * pHMax - 1) / (8 * pHMax)
            pMcusY = (height + 8 * pVMax - 1) / (8 * pVMax)
            pBlocksW = Array.tabulate(nComp)(i => pMcusX * pHs(i))
            pCoef = Array.tabulate(nComp)(i =>
              new Array[Int](pBlocksW(i) * pMcusY * pVs(i) * 64))
          }
          val scomp = new Array[Int](ns)
          val sdc = new Array[Int](ns); val sac = new Array[Int](ns)
          var c = 0
          while (c < ns) {
            val cs = b(seg + 1 + 2 * c) & 0xff
            val ci = compId.indexOf(cs)
            if (ci < 0) return None
            var j = 0
            while (j < c) { if (scomp(j) == ci) return None; j += 1 }
            scomp(c) = ci
            sdc(c) = (b(seg + 2 + 2 * c) & 0xff) >> 4
            sac(c) = b(seg + 2 + 2 * c) & 0x0f
            c += 1
          }
          val ss = b(seg + 1 + 2 * ns) & 0xff
          val se = b(seg + 2 + 2 * ns) & 0xff
          val ah = (b(seg + 3 + 2 * ns) & 0xff) >> 4
          val al = b(seg + 3 + 2 * ns) & 0x0f
          // spec bounds (G.1.1.1.1): DC scans are the only interleaved
          // kind; AC scans are single-component with 1 <= Ss <= Se <= 63
          if (al > 13 || ah > 13) return None
          if (ss == 0) { if (se != 0) return None }
          else if (ns != 1 || ss > se || se > 63) return None
          val end = decodeProgScan(b, p + 2 + len, width, height,
            ns, scomp, sdc, sac, ss, se, ah, al,
            pHs, pVs, pHMax, pVMax, pMcusX, pMcusY, pBlocksW, pCoef,
            dcTabs, acTabs, restartInterval)
          if (end < 0) return None
          pScans += 1
          p = end
        case _ => () // APPn / COM / others: skip
      }
      if (m != 0xda || !progressive) p += 2 + len
      }
    }
    None
  }

  private def decodeScan(b: Array[Byte], start: Int, width: Int, height: Int,
                         nComp: Int, compQ: Array[Int], compDc: Array[Int],
                         compAc: Array[Int], sampH: Array[Int],
                         sampV: Array[Int], qt: Array[Array[Int]],
                         dcTabs: Array[HuffTable], acTabs: Array[HuffTable],
                         restartInterval: Int): Option[JpegImage] = {
    // a single-component scan is non-interleaved (T.81 A.2.2): the MCU is
    // ONE data unit regardless of declared factors, so decode it as 1×1
    val hS = if (nComp == 1) Array(1) else sampH
    val vS = if (nComp == 1) Array(1) else sampV
    var hMax = 1; var vMax = 1
    var c = 0
    while (c < nComp) {
      if (hS(c) > hMax) hMax = hS(c)
      if (vS(c) > vMax) vMax = vS(c)
      if (qt(compQ(c)) == null || dcTabs(compDc(c)) == null ||
          acTabs(compAc(c)) == null) return None
      c += 1
    }
    // MCU grid covers the image at full resolution (hMax·8 × vMax·8 px
    // per MCU); each component's plane holds its OWN sampling grid,
    // padded to whole MCUs (T.81 A.2.3)
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val planeW = Array.tabulate(nComp)(ci => mcusX * hS(ci) * 8)
    val planes = Array.tabulate(nComp)(ci =>
      new Array[Int](planeW(ci) * mcusY * vS(ci) * 8))
    val rd = new BitReader(b, start)
    val pred = new Array[Int](nComp)
    val coef = new Array[Int](64)
    val blk = new Array[Int](64)
    var mcu = 0
    val nMcu = mcusX * mcusY
    while (mcu < nMcu) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // the encoder must have emitted RSTn here; realign + reset DPCM
        if (!rd.resyncRst()) return None
        java.util.Arrays.fill(pred, 0)
      }
      val my = mcu / mcusX; val mx = mcu % mcusX
      var ci = 0
      while (ci < nComp) {
        // in-MCU block order per T.81 A.2.3: left-to-right, top-to-bottom
        // within the component's sampling grid
        var vb = 0
        while (vb < vS(ci)) {
          var hb = 0
          while (hb < hS(ci)) {
            java.util.Arrays.fill(coef, 0)
            val t = rd.decodeHuff(dcTabs(compDc(ci)))
            if (t < 0 || t > 11) return None
            val diff = if (t == 0) 0 else {
              val v = rd.receive(t)
              if (v == Int.MinValue) return None
              extend(v, t)
            }
            pred(ci) += diff
            val q = qt(compQ(ci))
            coef(0) = pred(ci) * q(0)
            var k = 1
            while (k < 64) {
              val rs = rd.decodeHuff(acTabs(compAc(ci)))
              if (rs < 0) return None
              val r = rs >> 4; val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63) return None
                val v = rd.receive(s)
                if (v == Int.MinValue) return None
                coef(Zigzag(k)) = extend(v, s) * q(Zigzag(k))
                k += 1
              }
            }
            idctBlock(coef, blk)
            // place block into the component plane
            val plane = planes(ci)
            val row0 = (my * vS(ci) + vb) * 8
            val col0 = (mx * hS(ci) + hb) * 8
            var yy = 0
            while (yy < 8) {
              System.arraycopy(blk, yy * 8, plane,
                (row0 + yy) * planeW(ci) + col0, 8)
              yy += 1
            }
            hb += 1
          }
          vb += 1
        }
        ci += 1
      }
      mcu += 1
    }
    assemble(width, height, nComp, hS, vS, hMax, vMax, planeW, planes)
  }

  /** Planes → output image: crop MCU padding to (width, height);
    * subsampled components upsample by replication: sample (x·h/hMax,
    * y·v/vMax) — exact on constant blocks, which is the closed-form seam.
    * Shared by the sequential scan and the progressive finisher.
    */
  private def assemble(width: Int, height: Int, nComp: Int,
                       hS: Array[Int], vS: Array[Int], hMax: Int, vMax: Int,
                       planeW: Array[Int],
                       planes: Array[Array[Int]]): Option[JpegImage] = {
    if (nComp == 1) {
      val stride = planeW(0)
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          out(y * width + x) = planes(0)(y * stride + x).toByte
          x += 1
        }
        y += 1
      }
      Some(JpegImage(width, height, 1, out))
    } else {
      val out = new Array[Byte](width * height * 3)
      val w0 = planeW(0); val w1 = planeW(1); val w2 = planeW(2)
      var y = 0
      while (y < height) {
        val y0 = y * vS(0) / vMax; val y1 = y * vS(1) / vMax
        val y2 = y * vS(2) / vMax
        var x = 0
        while (x < width) {
          val yv = planes(0)(y0 * w0 + x * hS(0) / hMax)
          val cb = planes(1)(y1 * w1 + x * hS(1) / hMax)
          val cr = planes(2)(y2 * w2 + x * hS(2) / hMax)
          val o = (y * width + x) * 3
          out(o) = ycc2r(yv, cr).toByte
          out(o + 1) = ycc2g(yv, cb, cr).toByte
          out(o + 2) = ycc2b(yv, cb).toByte
          x += 1
        }
        y += 1
      }
      Some(JpegImage(width, height, 3, out))
    }
  }

  /** One progressive scan (T.81 G.1.2, the IJG-lineage control flow):
    * DC first/refine (interleaved over the scan's components or
    * single-component non-interleaved), AC first/refine
    * (single-component only, with EOBRUN band-end runs). Coefficients
    * accumulate in the QUANTIZED domain under the successive-
    * approximation point transform: first scans store values `<< Al`,
    * refine scans append one magnitude bit at position Al (two's-
    * complement OR for DC, the sign-directed `±1 << Al` nudge for AC —
    * exact because partial values are multiples of `1 << Ah`). Restart
    * markers reset DPCM predictors, EOBRUN, and bit alignment. Returns
    * the position of the marker terminating the scan's entropy data, or
    * -1 on any structural/entropy failure (the caller degrades to None).
    */
  private def decodeProgScan(b: Array[Byte], start: Int,
      width: Int, height: Int, ns: Int, scomp: Array[Int],
      sdc: Array[Int], sac: Array[Int], ss: Int, se: Int, ah: Int, al: Int,
      hS: Array[Int], vS: Array[Int], hMax: Int, vMax: Int,
      mcusX: Int, mcusY: Int, blocksW: Array[Int],
      coefs: Array[Array[Int]], dcTabs: Array[HuffTable],
      acTabs: Array[HuffTable], restartInterval: Int): Int = {
    val rd = new BitReader(b, start)
    val pred = new Array[Int](ns)
    var eobrun = 0
    val p1 = 1 << al
    val m1 = -1 << al
    // table availability per scan kind (DC refine scans read raw bits
    // only — no table requirement at all)
    if (ss == 0 && ah == 0) {
      var c = 0
      while (c < ns) { if (dcTabs(sdc(c)) == null) return -1; c += 1 }
    }
    if (ss > 0 && acTabs(sac(0)) == null) return -1

    def dcFirst(ci: Int, c: Int, off: Int): Boolean = {
      val t = rd.decodeHuff(dcTabs(sdc(c)))
      if (t < 0 || t > 11) return false
      val diff =
        if (t == 0) 0
        else {
          val v = rd.receive(t)
          if (v == Int.MinValue) return false
          extend(v, t)
        }
      pred(c) += diff
      coefs(ci)(off) = pred(c) << al
      true
    }
    def dcRefine(ci: Int, off: Int): Boolean = {
      val bit = rd.readBit()
      if (bit < 0) return false
      if (bit == 1) coefs(ci)(off) |= p1
      true
    }
    def acFirst(coef: Array[Int], off: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      val ac = acTabs(sac(0))
      var k = ss
      while (k <= se) {
        val rs = rd.decodeHuff(ac)
        if (rs < 0) return false
        val r = rs >> 4; val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else { // EOBn: run of (1 << r) + extra band-ends incl. this block
            val extra = if (r == 0) 0 else rd.receive(r)
            if (extra == Int.MinValue) return false
            eobrun = (1 << r) + extra - 1
            return true
          }
        } else {
          k += r
          if (k > 63) return false
          val v = rd.receive(s)
          if (v == Int.MinValue) return false
          coef(off + Zigzag(k)) = extend(v, s) << al
          k += 1
        }
      }
      true
    }
    // refinement correction bit for an already-nonzero coefficient:
    // a 1-bit nudges the magnitude by 1<<Al toward its sign, skipped if
    // that bit is already set (two's-complement AND is exact here
    // because partial magnitudes are multiples of 1<<(Al+1) or carry
    // the Al bit itself)
    def correct(coef: Array[Int], idx: Int): Boolean = {
      val bit = rd.readBit()
      if (bit < 0) return false
      if (bit == 1 && (coef(idx) & p1) == 0) {
        if (coef(idx) >= 0) coef(idx) += p1 else coef(idx) += m1
      }
      true
    }
    def acRefine(coef: Array[Int], off: Int): Boolean = {
      val ac = acTabs(sac(0))
      var k = ss
      if (eobrun == 0) {
        var done = false
        while (k <= se && !done) {
          val rs = rd.decodeHuff(ac)
          if (rs < 0) return false
          var r = rs >> 4; val s = rs & 0x0f
          var newVal = 0
          if (s == 0) {
            if (r != 15) { // EOBn: rest of band gets corrections only
              val extra = if (r == 0) 0 else rd.receive(r)
              if (extra == Int.MinValue) return false
              eobrun = (1 << r) + extra
              done = true
            }
            // r == 15 (ZRL): skip 16 zero-history slots, correcting
            // nonzero-history coefficients passed over
          } else {
            if (s != 1) return false // refine codes only ±1 magnitudes
            val bit = rd.readBit()
            if (bit < 0) return false
            newVal = if (bit == 1) p1 else m1
          }
          if (!done) {
            var placed = false
            while (k <= se && !placed) {
              val idx = off + Zigzag(k)
              if (coef(idx) != 0) { if (!correct(coef, idx)) return false }
              else if (r == 0) { if (s != 0) coef(idx) = newVal; placed = true }
              else r -= 1
              k += 1
            }
          }
        }
      }
      if (eobrun > 0) { // band end: corrections for the remaining positions
        while (k <= se) {
          val idx = off + Zigzag(k)
          if (coef(idx) != 0) { if (!correct(coef, idx)) return false }
          k += 1
        }
        eobrun -= 1
      }
      true
    }

    if (ns == 1) {
      // non-interleaved: the component's own (un-padded) block grid,
      // ceil(ceil(dim·f/fMax)/8) per axis (T.81 A.2.2); restart interval
      // counts single-block MCUs
      val ci = scomp(0)
      val bw = (width * hS(ci) + 8 * hMax - 1) / (8 * hMax)
      val bh = (height * vS(ci) + 8 * vMax - 1) / (8 * vMax)
      val stride = blocksW(ci)
      val total = bw * bh
      var mcu = 0
      while (mcu < total) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          if (!rd.resyncRst()) return -1
          java.util.Arrays.fill(pred, 0); eobrun = 0
        }
        val off = ((mcu / bw) * stride + mcu % bw) * 64
        val ok =
          if (ss == 0 && ah == 0) dcFirst(ci, 0, off)
          else if (ss == 0) dcRefine(ci, off)
          else if (ah == 0) acFirst(coefs(ci), off)
          else acRefine(coefs(ci), off)
        if (!ok) return -1
        mcu += 1
      }
    } else {
      // interleaved DC scan over the frame MCU grid (AC scans were
      // rejected above when ns > 1)
      val nMcu = mcusX * mcusY
      var mcu = 0
      while (mcu < nMcu) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          if (!rd.resyncRst()) return -1
          java.util.Arrays.fill(pred, 0); eobrun = 0
        }
        val my = mcu / mcusX; val mx = mcu % mcusX
        var c = 0
        while (c < ns) {
          val ci = scomp(c)
          var vb = 0
          while (vb < vS(ci)) {
            var hb = 0
            while (hb < hS(ci)) {
              val off =
                ((my * vS(ci) + vb) * blocksW(ci) + mx * hS(ci) + hb) * 64
              val ok = if (ah == 0) dcFirst(ci, c, off) else dcRefine(ci, off)
              if (!ok) return -1
              hb += 1
            }
            vb += 1
          }
          c += 1
        }
        mcu += 1
      }
    }
    // entropy data ends at the next real marker: skip residual entropy
    // bytes, stuffed 0xFF00 pairs, stray RSTn, and fill bytes
    var q = rd.pos
    while (q + 1 < b.length) {
      if ((b(q) & 0xff) == 0xff) {
        val nx = b(q + 1) & 0xff
        if (nx == 0x00) q += 2
        else if (nx >= 0xd0 && nx <= 0xd7) q += 2
        else if (nx == 0xff) q += 1
        else return q
      } else q += 1
    }
    -1 // ran off the stream without a terminating marker
  }

  /** EOI in a progressive stream: dequantize every accumulated block,
    * IDCT, and assemble planes exactly like the sequential path.
    */
  private def finishProgressive(width: Int, height: Int, nComp: Int,
      compQ: Array[Int], hS: Array[Int], vS: Array[Int],
      hMax: Int, vMax: Int, mcusX: Int, mcusY: Int, blocksW: Array[Int],
      coefs: Array[Array[Int]],
      qt: Array[Array[Int]]): Option[JpegImage] = {
    if (coefs == null) return None
    var ci = 0
    while (ci < nComp) {
      if (qt(compQ(ci)) == null) return None
      ci += 1
    }
    val planeW = Array.tabulate(nComp)(i => blocksW(i) * 8)
    val planes = Array.tabulate(nComp)(i =>
      new Array[Int](planeW(i) * mcusY * vS(i) * 8))
    val dq = new Array[Int](64)
    val blk = new Array[Int](64)
    ci = 0
    while (ci < nComp) {
      val q = qt(compQ(ci))
      val coef = coefs(ci)
      val bw = blocksW(ci)
      val plane = planes(ci)
      val nb = bw * mcusY * vS(ci)
      var bi = 0
      while (bi < nb) {
        val off = bi * 64
        var k = 0
        while (k < 64) { dq(k) = coef(off + k) * q(k); k += 1 }
        idctBlock(dq, blk)
        val by = bi / bw; val bx = bi % bw
        var yy = 0
        while (yy < 8) {
          System.arraycopy(blk, yy * 8, plane,
            (by * 8 + yy) * planeW(ci) + bx * 8, 8)
          yy += 1
        }
        bi += 1
      }
      ci += 1
    }
    assemble(width, height, nComp, hS, vS, hMax, vMax, planeW, planes)
  }

  // ---------------------------------------------------------------- synth

  /** Closed-form per-block plane constants behind [[synthJpegPayload]]:
    * 16×16 images, 2×2 blocks, block index bi = (y/8)*2 + (x/8). Odd ids
    * are grayscale (1 component), even ids color (3 components). The
    * oracle recomputes decoded pixels from these (DC-only blocks round-
    * trip exactly; YCbCr→RGB is the fixed-point formula above).
    */
  private[ext] def synthY(id: Long, bi: Int): Int =
    (((id * 29 + bi * 37) % 256 + 256) % 256).toInt
  private[ext] def synthCb(id: Long, bi: Int): Int =
    (((id * 31 + bi * 41) % 256 + 256) % 256).toInt
  private[ext] def synthCr(id: Long, bi: Int): Int =
    (((id * 37 + bi * 43) % 256 + 256) % 256).toInt
  private[ext] def synthGray(id: Long, bi: Int): Int =
    (((id * 23 + bi * 53) % 256 + 256) % 256).toInt

  // Annex K DC Huffman specs (public spec tables)
  private val DcLumBits =
    Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals: Array[Byte] =
    Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11).map(_.toByte)
  private val DcChrBits =
    Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChrVals: Array[Byte] = DcLumVals
  // minimal AC table: the single code needed by a DC-only scan (EOB),
  // one 1-bit code '0' — legal per Annex C, decoder rebuilds it from DHT
  private val AcEobBits =
    Array(0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcEobVals: Array[Byte] = Array(0x00)
  // minimal AC table for progressive EOB-run scans: the four EOBn
  // symbols an all-zero-AC corpus needs (EOB1/EOB2/EOB4/EOB16), all
  // 2-bit codes — legal per Annex C, decoder rebuilds from DHT
  private val AcEobRunBits =
    Array(0, 0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcEobRunVals: Array[Byte] =
    Array(0x00, 0x10, 0x20, 0x40).map(_.toByte)
  // the all-1s quantization table: DC-only blocks round-trip exactly
  private val DqtOnes: Array[Int] = Array.fill(64)(1)

  /** Canonical codes for an encoder-side table: value -> (code, len). */
  private def encTable(bits: Array[Int], vals: Array[Byte]): Array[(Int, Int)] = {
    val m = new Array[(Int, Int)](256)
    var code = 0; var k = 0; var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l)) {
        m(vals(k) & 0xff) = (code, l)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    m
  }
  private val DcLumCodes = encTable(DcLumBits, DcLumVals)
  private val DcChrCodes = encTable(DcChrBits, DcChrVals)
  private val AcEobCodes = encTable(AcEobBits, AcEobVals)
  private val AcEobRunCodes = encTable(AcEobRunBits, AcEobRunVals)

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        n += 1
        if (n == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    def flushOnes(): Unit = if (n > 0) put(0xff, 8 - n) // pad with 1s
  }

  private def category(v: Int): Int = {
    var t = 0; var a = math.abs(v)
    while (a != 0) { a >>= 1; t += 1 }
    t
  }

  /** The one JFIF writer behind the four synthetic encoders
    * ([[synthJpegPayload]], [[synthJpeg420Payload]],
    * [[synthJpegProgressivePayload]], [[synthJpegQualityPayload]]), so
    * their marker segments and DC coding have one spelling and the
    * encoders differ only in the frame and scans they declare. SOI and
    * APP0 are written on construction, EOI by [[finish]]. Component `c`
    * (0-based) is id c+1, uses DQT and DC table 0 for luma (c = 0) and 1
    * for chroma. Each SOS resets the DPCM predictors and the RSTn index
    * (B.2.1.2); each restart marker resets the predictors too.
    */
  private final class JfifWriter {
    private val out = new java.io.ByteArrayOutputStream()
    val bw = new BitWriter(out)
    private val pred = new Array[Int](3)
    private var ri = 0
    private var rstN = 0
    private def w(vs: Int*): Unit = vs.foreach(v => out.write(v & 0xff))
    private def w16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    w(0xff, 0xd8) // SOI
    w(0xff, 0xe0); w16(16) // APP0 JFIF
    w('J', 'F', 'I', 'F', 0, 1, 1, 0); w16(1); w16(1); w(0, 0)

    /** DQT: table i in slot i, entries in zigzag order, 16-bit when wide. */
    def dqt(tables: Seq[Array[Int]], wide: Boolean = false): Unit = {
      w(0xff, 0xdb); w16(2 + tables.length * (1 + 64 * (if (wide) 2 else 1)))
      tables.zipWithIndex.foreach { case (t, slot) =>
        w(((if (wide) 1 else 0) << 4) | slot)
        (0 until 64).foreach(k => if (wide) w16(t(Zigzag(k))) else w(t(Zigzag(k))))
      }
    }
    /** SOF0 (baseline) or SOF2 (progressive), square, one sampling byte
      * per component. */
    def sof(marker: Int, size: Int, sampling: Seq[Int]): Unit = {
      w(0xff, marker); w16(8 + 3 * sampling.length)
      w(8); w16(size); w16(size); w(sampling.length)
      sampling.zipWithIndex.foreach { case (hv, c) => w(c + 1, hv, if (c == 0) 0 else 1) }
    }
    def dht(tc: Int, th: Int, bits: Array[Int], vals: Array[Byte]): Unit = {
      w(0xff, 0xc4); w16(2 + 17 + vals.length)
      w((tc << 4) | th)
      (1 to 16).foreach(l => w(bits(l)))
      vals.foreach(v => w(v))
    }
    /** DHTs of a baseline DC-only scan: DC lum (0), AC eob (0); for color
      * also DC chr (1), AC eob (1). */
    def dcOnlyTables(color: Boolean): Unit = {
      dht(0, 0, DcLumBits, DcLumVals)
      dht(1, 0, AcEobBits, AcEobVals)
      if (color) {
        dht(0, 1, DcChrBits, DcChrVals)
        dht(1, 1, AcEobBits, AcEobVals)
      }
    }
    /** DRI, written only for a positive interval. */
    def dri(interval: Int): Unit = {
      ri = interval
      if (ri > 0) { w(0xff, 0xdd); w16(4); w16(ri) }
    }
    /** SOS over `comps`: DC table 0 for luma, 1 for chroma; the AC table
      * follows the DC one when `acPerClass`, else every component uses
      * AC table 0. */
    def sos(comps: Seq[Int], acPerClass: Boolean, ss: Int, se: Int, ah: Int, al: Int): Unit = {
      w(0xff, 0xda); w16(6 + 2 * comps.length)
      w(comps.length)
      comps.foreach { c =>
        val td = if (c == 0) 0 else 1
        w(c + 1, (td << 4) | (if (acPerClass) td else 0))
      }
      w(ss, se, (ah << 4) | al)
      rstN = 0
      java.util.Arrays.fill(pred, 0)
    }
    /** Before MCU (or block run) `i` of a scan: RSTn when `i` is a
      * positive multiple of the DRI interval — byte-align, marker, DPCM
      * reset. */
    def restartAt(i: Int): Unit =
      if (ri > 0 && i > 0 && i % ri == 0) {
        bw.flushOnes() // leaves the writer byte-aligned and empty
        w(0xff, 0xd0 + rstN)
        rstN = (rstN + 1) % 8
        java.util.Arrays.fill(pred, 0)
      }
    /** DPCM-coded DC value: huffman category, then its magnitude bits. */
    def dc(comp: Int, v: Int): Unit = {
      val diff = v - pred(comp)
      pred(comp) = v
      val cat = category(diff)
      val (hc, hl) = if (comp == 0) DcLumCodes(cat) else DcChrCodes(cat)
      bw.put(hc, hl)
      if (cat > 0) {
        val bitsV = if (diff < 0) diff - 1 else diff
        bw.put(bitsV & ((1 << cat) - 1), cat)
      }
    }
    /** A baseline DC-only block: the DC value, then EOB (all 63 ACs zero). */
    def dcBlock(comp: Int, v: Int): Unit = {
      dc(comp, v)
      val (ec, el) = AcEobCodes(0)
      bw.put(ec, el)
    }
    /** EOBn run over `n` blocks (n = 2^r + extra) — progressive AC scans. */
    def eobRun(n: Int): Unit = {
      var r = 0
      while ((2 << r) <= n) r += 1
      val (hc, hl) = AcEobRunCodes(r << 4)
      bw.put(hc, hl)
      if (r > 0) bw.put(n - (1 << r), r)
    }
    def finish(): Array[Byte] = {
      bw.flushOnes()
      w(0xff, 0xd9) // EOI
      out.toByteArray
    }
  }

  /** Plane constant of block `bi` of component `comp`: odd ids are
    * grayscale, even ids color (Y, Cb, Cr). */
  private def synthBlock(id: Long, comp: Int, bi: Int): Int =
    if (id % 2 != 0) synthGray(id, bi) else synthColor(id, comp, bi)
  private def synthColor(id: Long, comp: Int, bi: Int): Int =
    if (comp == 0) synthY(id, bi) else if (comp == 1) synthCb(id, bi) else synthCr(id, bi)

  /** The 6 blocks of 4:2:0 MCU `mcu` on a 2×2 MCU grid, in T.81 A.2.3
    * order — 4 Y blocks (raster within the MCU) on the 4×4 Y block grid,
    * then Cb, then Cr — as (component, block index). */
  private def mcu420(mcu: Int)(f: (Int, Int) => Unit): Unit = {
    val my = mcu / 2; val mx = mcu % 2
    var vb = 0
    while (vb < 2) {
      var hb = 0
      while (hb < 2) { f(0, (my * 2 + vb) * 4 + mx * 2 + hb); hb += 1 }
      vb += 1
    }
    f(1, my * 2 + mx); f(2, my * 2 + mx)
  }

  /** A REAL baseline JFIF stream: SOI, APP0, all-1s DQT(s), SOF0
    * (16×16, 4:4:4), Annex-K DC + minimal-EOB AC DHTs, SOS, a genuinely
    * huffman/DPCM-coded DC-only scan (with 0xFF byte stuffing live),
    * EOI. Odd ids grayscale, even ids 3-component color.
    */
  private[ext] def synthJpegPayload(id: Long, restartInterval: Int = 0): Array[Byte] = {
    val gray = id % 2 != 0
    val nComp = if (gray) 1 else 3
    val jw = new JfifWriter
    jw.dqt(Seq.fill(if (gray) 1 else 2)(DqtOnes))
    jw.sof(0xc0, 16, Seq.fill(nComp)(0x11))
    jw.dcOnlyTables(color = !gray)
    jw.dri(restartInterval)
    jw.sos(0 until nComp, acPerClass = true, 0, 63, 0, 0)
    // entropy-coded DC-only scan: 4 MCUs (2×2 blocks), DPCM per component
    for (bi <- 0 until 4) {
      jw.restartAt(bi)
      for (c <- 0 until nComp) jw.dcBlock(c, 8 * (synthBlock(id, c, bi) - 128))
    }
    jw.finish()
  }

  /** A REAL 4:2:0 JFIF stream: 32×32, Y sampled 2×2 (table 0), Cb/Cr
    * 1×1 (table 1) — FOUR interleaved MCUs (2×2 grid of 16×16-pixel
    * MCUs), each carrying 4 Y blocks + 1 Cb + 1 Cr in T.81 A.2.3 order,
    * genuinely huffman/DPCM-coded with live byte stuffing. All blocks
    * are per-block constants, so the DC-exact closed form extends: a
    * constant chroma block upsamples (by replication) to the same
    * constant over its 16×16 pixel footprint, and the q380 oracle
    * recomputes every decoded pixel analytically — Y from block
    * (y div 8)·4 + (x div 8), chroma from block (y div 16)·2 + (x div 16).
    */
  private[ext] def synthJpeg420Payload(id: Long,
                                       restartInterval: Int = 0): Array[Byte] = {
    val jw = new JfifWriter
    jw.dqt(Seq.fill(2)(DqtOnes))
    jw.sof(0xc0, 32, Seq(0x22, 0x11, 0x11))
    jw.dcOnlyTables(color = true)
    jw.dri(restartInterval)
    jw.sos(0 until 3, acPerClass = true, 0, 63, 0, 0)
    for (mcu <- 0 until 4) {
      jw.restartAt(mcu)
      mcu420(mcu)((c, bi) => jw.dcBlock(c, 8 * (synthColor(id, c, bi) - 128)))
    }
    jw.finish()
  }

  /** A REAL progressive (SOF2) JFIF stream with spectral selection AND
    * successive approximation, all blocks per-block constants so the
    * DC-exact closed form carries over. Odd ids: grayscale 32×32, three
    * non-interleaved scans. Even ids: color 4:2:0 32×32 (Y 2×2, Cb/Cr
    * 1×1 — the dominant real-world JPEG shape), five scans with an
    * interleaved DC pass. Scan script (G.1.1.1.1-legal):
    *   1. DC first, Al=4 — DPCM of (dc >> 4), codes all but dc's bit 3
    *   2. AC first per component, Ss=1..63, Al=0 — pure EOBn runs
    *      (every AC is zero in this corpus)
    *   3. DC refine, Ah=4 Al=3 — ONE raw bit per block = (v−128) & 1,
    *      which genuinely varies across blocks (dc = 8·(v−128) keeps
    *      bits 2..0 zero, so the value is EXACT after this single
    *      refinement: dc = ((dc>>4)<<4) | (((v−128)&1)<<3))
    * ids % 5 == 0 add DRI=2: every scan restarts each 2 MCUs (EOB runs
    * split at the boundary, DPCM/EOBRUN/alignment reset — the
    * progressive restart path the decoder must replay).
    */
  private[ext] def synthJpegProgressivePayload(id: Long): Array[Byte] = {
    val gray = id % 2 != 0
    val nComp = if (gray) 1 else 3
    val jw = new JfifWriter
    jw.dqt(Seq.fill(if (gray) 1 else 2)(DqtOnes))
    // SOF2: 32×32; gray 1×1, color Y 2×2 / Cb 1×1 / Cr 1×1
    jw.sof(0xc2, 32, if (gray) Seq(0x11) else Seq(0x22, 0x11, 0x11))
    jw.dht(0, 0, DcLumBits, DcLumVals)
    if (!gray) jw.dht(0, 1, DcChrBits, DcChrVals)
    jw.dht(1, 0, AcEobRunBits, AcEobRunVals)
    val ri = if (((id % 5) + 5) % 5 == 0) 2 else 0
    jw.dri(ri)
    // every block of the DC scans, MCU by MCU: gray 16 single-block MCUs,
    // color 4 MCUs of 16 Y + 4 Cb + 4 Cr blocks in all
    def dcScan(f: (Int, Int) => Unit): Unit = {
      for (mcu <- 0 until (if (gray) 16 else 4)) {
        jw.restartAt(mcu)
        if (gray) f(0, mcu) else mcu420(mcu)(f)
      }
      jw.bw.flushOnes()
    }
    // scan 1: DC first, Al=4 — interleaved for color, single-comp for gray
    jw.sos(0 until nComp, acPerClass = false, 0, 0, 0, 4)
    dcScan((c, bi) => jw.dc(c, (8 * (synthBlock(id, c, bi) - 128)) >> 4))
    // scans 2..: AC first per component — EOB runs only (restart-split)
    for (comp <- 0 until nComp) {
      jw.sos(Seq(comp), acPerClass = false, 1, 63, 0, 0)
      val nBlocks = if (gray || comp == 0) 16 else 4
      val run = if (ri > 0) ri else nBlocks
      for (b <- 0 until nBlocks by run) {
        jw.restartAt(b)
        jw.eobRun(math.min(run, nBlocks - b))
      }
      jw.bw.flushOnes()
    }
    // final scan: DC refine, Ah=4 Al=3 — one raw bit per block
    jw.sos(0 until nComp, acPerClass = false, 0, 0, 4, 3)
    dcScan((c, bi) => jw.bw.put((synthBlock(id, c, bi) - 128) & 1, 1))
    jw.finish()
  }

  final case class JpegPixelStats(media_id: Long, width: Int, height: Int,
                                  n_comp: Int, n_px_bytes: Int, px_sum: Long,
                                  px_wsum: Long, c0_sum: Long, c1_sum: Long,
                                  c2_sum: Long)

  /** The pixel statistics every decoded-image query registers (q244,
    * q365, q375 and its siblings): the unsigned byte sum, the
    * position-weighted sum Σ k·px[k], which breaks on any reordering that
    * keeps the multiset of bytes, and the sums of channels k mod 3. One
    * loop, so that the JPEG and PNG queries and their closed-form oracles
    * read the same fields the same way.
    */
  private[ext] def pixelSums(px: Array[Byte]): Array[Long] = {
    var sum = 0L; var wsum = 0L
    val ch = new Array[Long](3)
    var i = 0
    while (i < px.length) {
      val v = px(i) & 0xff
      sum += v; wsum += i.toLong * v; ch(i % 3) += v
      i += 1
    }
    Array(sum, wsum, ch(0), ch(1), ch(2))
  }

  /** The unsigned byte sum alone, for the callers that read nothing else
    * (the MJPEG frame sums, [[Multimodal.probePng]]): it spares them
    * [[pixelSums]]' weighted and per-channel work on every pixel.
    */
  private[ext] def pixelSum(px: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < px.length) { sum += px(i) & 0xff; i += 1 }
    sum
  }

  /** The body of the three pixel-stats queries ([[jpegPixelStats]],
    * [[jpegProgressivePixelStats]], [[jpeg420PixelStats]]), which differ
    * only in the encoder that makes each doc's payload: decode it and
    * emit the q375 statistics. Narrow mapPartitions; payloads never
    * shuffle.
    */
  private def pixelStats(docs: DataFrame)(payload: Long => Array[Byte])(
      implicit spark: SparkSession): DataFrame = {
    Multimodal.perDoc(docs) { id =>
      decode(payload(id)) match {
        case Some(img) =>
          val Array(sum, wsum, c0, c1, c2) = pixelSums(img.pixels)
          JpegPixelStats(id, img.width, img.height, img.nComp,
            img.pixels.length, sum, wsum, c0, c1, c2)
        case None =>
          JpegPixelStats(id, 0, 0, 0, 0, 0L, 0L, 0L, 0L, 0L)
      }
    }
  }

  /** q375: build a real JFIF per doc and FULLY DECODE it — marker walk,
    * DHT reconstruction, huffman + DPCM, dequantize, IDCT, fixed-point
    * color convert — emitting order-sensitive pixel statistics (total,
    * position-weighted, and byte-position-class sums; classes are RGB
    * channels for color ids, positional thirds for grayscale ids). All
    * fields have closed forms over the per-block constants, so the
    * oracle is analytic while the engine exercises the full decoder.
    * Body: [[pixelStats]].
    */
  def jpegPixelStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame =
    pixelStats(docs)(synthJpegPayload(_))

  /** q385: [[jpegPixelStats]] over the PROGRESSIVE corpus — every doc
    * gets a real SOF2 stream ([[synthJpegProgressivePayload]]) and rides
    * the full multi-scan decode: interleaved DC-first pass at Al=4,
    * per-component spectral-selection AC scans (EOBn runs), a raw-bit
    * DC refinement whose bits genuinely vary per block, coefficient
    * accumulation across scans, one dequantize+IDCT at EOI. Odd ids are
    * 32×32 grayscale (non-interleaved scans), even ids 32×32 color at
    * 4:2:0 (the dominant real-world progressive shape); ids % 5 == 0
    * thread restart markers through every scan. Stats are the q375
    * shape. Body: [[pixelStats]].
    */
  def jpegProgressivePixelStats(docs: DataFrame)(
      implicit spark: SparkSession): DataFrame =
    pixelStats(docs)(synthJpegProgressivePayload)

  // ------------------------------------------------- quality estimation

  /** T.81 Annex K.1 example luminance/chrominance quantization tables
    * (natural raster order) — the base every IJG-lineage encoder scales
    * by its quality knob, making them the reference for estimating what
    * quality a foreign JPEG was written at.
    */
  private[ext] val AnnexKLum: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private[ext] val AnnexKChr: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** The IJG quality→table scaling (jcparam.c, public source): integer
    * scale = 5000/q below 50 else 200−2q; entry = (K·scale + 50)/100
    * clamped to [1, 255]. Integer division throughout — the oracle
    * mirrors it with `//` on non-negative operands.
    */
  private[ext] def scaledTable(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    base.map(k => math.max(1, math.min(255, (k * scale + 50) / 100)))
  }

  /** Lightweight marker walk extracting the quantization tables (slot →
    * 64 NATURAL-order entries) without decoding any scan — the profiling
    * path for quality estimation over corpora too large to pixel-decode.
    * Same bounds discipline as [[decodeImpl]]; None on malformed input.
    */
  private[ext] def quantTables(b: Array[Byte]): Option[Array[Array[Int]]] =
    try {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return None
      val qt = new Array[Array[Int]](4)
      var p = 2
      while (p + 4 <= b.length) {
        if ((b(p) & 0xff) != 0xff) return None
        val m = b(p + 1) & 0xff
        if (m == 0xff) { p += 1 }
        else if (m == 0xd9 || m == 0xda) { // EOI or SOS: tables are final
          return if (qt.exists(_ != null)) Some(qt) else None
        } else {
          val len = be16(b, p + 2)
          if (len < 2 || p + 2 + len > b.length) return None
          if (m == 0xdb && !readDqt(b, p + 4, p + 2 + len, qt)) return None
          p += 2 + len
        }
      }
      None
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException =>
        None
    }

  /** Estimated IJG quality for an observed table against a scaled Annex-K
    * base: argmin over q ∈ [1, 100] of the L1 distance to
    * [[scaledTable]](base, q), ties to the LOWEST q (a deterministic
    * total rule both engines replay). Exact-match inputs recover their
    * quality; foreign tables get the nearest IJG rung.
    */
  private[ext] def estimateQuality(obs: Array[Int], base: Array[Int]): Int = {
    var bestQ = 1; var bestD = Long.MaxValue
    var q = 1
    while (q <= 100) {
      val t = scaledTable(base, q)
      var d = 0L; var i = 0
      while (i < 64) { d += math.abs(t(i) - obs(i)); i += 1 }
      if (d < bestD) { bestD = d; bestQ = q }
      q += 1
    }
    bestQ
  }

  /** A real JFIF whose DQTs are Annex-K tables scaled to quality
    * q(id) = 5 + (id·7 mod 94) — 16-bit (Pq=1) entries when id % 5 == 0
    * to exercise both DQT precisions. The scan is a genuine DC-only
    * huffman stream in the QUANTIZED domain (values arbitrary — q383
    * audits table parsing, not pixels).
    */
  private[ext] def synthJpegQualityPayload(id: Long): Array[Byte] = {
    val q = (5 + ((id % 94) + 94) % 94 * 7 % 94).toInt
    val jw = new JfifWriter
    // DQT in zigzag order (the wire format [[quantTables]] must undo)
    jw.dqt(Seq(scaledTable(AnnexKLum, q), scaledTable(AnnexKChr, q)), wide = id % 5 == 0)
    jw.sof(0xc0, 16, Seq.fill(3)(0x11))
    jw.dcOnlyTables(color = true)
    jw.sos(0 until 3, acPerClass = true, 0, 63, 0, 0)
    for (bi <- 0 until 4; c <- 0 until 3)
      jw.dcBlock(c, ((id * 13 + c * 5 + bi * 3) % 21).toInt - 10)
    jw.finish()
  }

  final case class JpegQualityStats(media_id: Long, q_lum: Int, q_chr: Int,
                                    lum_sum: Long, lum_wsum: Long,
                                    chr_sum: Long, chr_wsum: Long)

  /** q383: corpus-profiling quality estimation — each doc's quality-
    * scaled JFIF is PARSED (marker walk + zigzag undo, no pixel decode)
    * and its luma/chroma qualities recovered by the deterministic
    * argmin-L1 rule; position-weighted table sums pin the de-zigzag in
    * the exact-hash oracle. Narrow mapPartitions; payloads in-task.
    */
  def jpegQualityStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    Multimodal.perDoc(docs) { id =>
      quantTables(synthJpegQualityPayload(id)) match {
        case Some(qt) if qt(0) != null && qt(1) != null =>
          val lum = qt(0); val chr = qt(1)
          var ls = 0L; var lw = 0L; var cs = 0L; var cw = 0L
          var i = 0
          while (i < 64) {
            ls += lum(i); lw += i.toLong * lum(i)
            cs += chr(i); cw += i.toLong * chr(i)
            i += 1
          }
          JpegQualityStats(id, estimateQuality(lum, AnnexKLum),
            estimateQuality(chr, AnnexKChr), ls, lw, cs, cw)
        case _ => JpegQualityStats(id, 0, 0, 0L, 0L, 0L, 0L)
      }
    }
  }

  /** q380: [[jpegPixelStats]] over the 4:2:0 corpus — every doc gets a
    * real subsampled stream ([[synthJpeg420Payload]]) and rides the FULL
    * interleaved-MCU decode: 6 blocks per MCU, per-component DPCM chains,
    * chroma planes at half resolution, replication upsampling, then the
    * same fixed-point color convert. Restart markers every other MCU for
    * ids divisible by 3 (the DRI/RSTn path under subsampling). Stats are
    * the q375 shape; c0/c1/c2 are the RGB channel sums. Body:
    * [[pixelStats]].
    */
  def jpeg420PixelStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame =
    pixelStats(docs)(id => synthJpeg420Payload(id, restartInterval = if (id % 3 == 0) 2 else 0))
}
