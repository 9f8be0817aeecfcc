package graft.ext

import org.apache.spark.sql.Row
import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  /** A one-IDAT PNG encoded by hand, independent of [[Png]] so the
    * decoder is checked against code it does not share: `h` rows of `w`
    * pixels of `bpp` 8-bit samples (`px`, row-major), row r filtered with
    * `filters(r)`, IHDR/IDAT/IEND with their CRC32s.
    */
  private def handPng(w: Int, h: Int, colorType: Int, bpp: Int,
                      px: Array[Int], filters: Seq[Int]): Array[Byte] = {
    val stride = w * bpp
    val raw = new Array[Byte](h * (1 + stride))
    for (r <- 0 until h) {
      val f = filters(r)
      raw(r * (1 + stride)) = f.toByte
      for (i <- 0 until stride) {
        val x = px(r * stride + i)
        val a = if (i >= bpp) px(r * stride + i - bpp) else 0
        val b = if (r > 0) px((r - 1) * stride + i) else 0
        val c = if (r > 0 && i >= bpp) px((r - 1) * stride + i - bpp) else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b)
            val pc = math.abs(pp - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw(r * (1 + stride) + 1 + i) = ((x - pred) & 0xff).toByte
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val z = new Array[Byte](raw.length + 64)
    var zn = 0
    while (!defl.finished()) zn += defl.deflate(z, zn, z.length - zn)
    defl.end()
    val out = new Array[Byte](8 + 25 + 12 + zn + 12)
    def pbe32(o: Int, v: Long): Unit =
      for (i <- 0 until 4) out(o + i) = ((v >> (8 * (3 - i))) & 0xff).toByte
    def ptype(o: Int, t: String): Unit =
      for (i <- 0 until 4) out(o + i) = t.charAt(i).toByte
    def crcAt(o: Int, from: Int, len: Int): Unit = {
      val cc = new java.util.zip.CRC32(); cc.update(out, from, len)
      pbe32(o, cc.getValue)
    }
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      .zipWithIndex.foreach { case (v, i) => out(i) = v.toByte }
    pbe32(8, 13L); ptype(12, "IHDR")
    pbe32(16, w.toLong); pbe32(20, h.toLong)
    out(24) = 8; out(25) = colorType.toByte
    crcAt(29, 12, 17)
    pbe32(33, zn.toLong); ptype(37, "IDAT")
    System.arraycopy(z, 0, out, 41, zn)
    crcAt(41 + zn, 37, 4 + zn)
    pbe32(45 + zn, 0L); ptype(49 + zn, "IEND")
    crcAt(53 + zn, 49 + zn, 4)
    out
  }

  test("binary payload plumbing: features are deterministic and binary is pruned") {
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(0L, "hello world"), Row(1L, "abc")))
    val out1 = Multimodal.mediaFeatures(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
    val out2 = Multimodal.mediaFeatures(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
    assert(out1 == out2)                       // deterministic stub codec
    assert(out1(0L)._1 == "hello world".length) // n_bytes from real binary column
    val cols = Multimodal.mediaFeatures(docs).columns.toSeq
    assert(!cols.contains("payload"))          // binary pruned from output
    assert(cols == Seq("media_id", "kind", "n_bytes", "checksum", "mean_byte", "frames_sampled"))
  }

  test("frameDupStats: identical payloads share every frame; unique payloads share none") {
    // ids 0 and 2 carry the same (multi-frame) payload → every frame of
    // each is cross-media shared; id 4 is unique → zero shared
    val long = ("x" * 300) + ("y" * 300) // 600 bytes → 3 frames at stride 256
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(0L, long), Row(2L, long), Row(4L, "unique payload")))
    val out = Multimodal.frameDupStats(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((3L, 3L, 3L)))
    assert(out(2L) == ((3L, 3L, 3L)))
    assert(out(4L) == ((1L, 1L, 0L)))
  }

  test("NULL text becomes an empty payload, not a crash") {
    val docs = df("doc_id BIGINT, text STRING", Seq(Row(0L, null), Row(1L, "ok")))
    val out = Multimodal.mediaFeatures(docs).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out == Map(0L -> 0, 1L -> 2))
  }

  test("kind split and frame sampling shape") {
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(0L, "x" * 3000), Row(1L, "y" * 10)))
    val out = Multimodal.mediaFeatures(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(5))).toMap
    assert(out(0L)._1 == "image" && out(1L)._1 == "audio") // even/odd split
    assert(out(0L)._2 == 3)  // ceil(3000/1024) frames sampled
    assert(out(1L)._2 == 1)
  }

  test("sampleFrames: per-frame offsets, lengths, clock, and fingerprints") {
    val docs = df("doc_id BIGINT, text STRING", Seq(Row(0L, "a" * 10)))
    val out = Multimodal.sampleFrames(
      Multimodal.fakeMediaFromDocuments(docs), stride = 4, maxFrames = 16)
      .collect().sortBy(_.frame_idx)
    assert(out.map(f => (f.frame_idx, f.byte_off, f.frame_bytes, f.frame_ts_us))
      .toSeq == Seq((0, 0, 4, 0L), (1, 4, 4, 40000L), (2, 8, 2, 80000L)))
    // frames 0 and 1 are both "aaaa" → identical content fingerprint;
    // the short tail "aa" differs
    assert(out(0).checksum == out(1).checksum)
    assert(out(0).checksum != out(2).checksum)
  }

  test("sampleFrames: maxFrames caps the fan-out; empty payload yields no frames") {
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(0L, "z" * 1000), Row(1L, null)))
    val out = Multimodal.sampleFrames(
      Multimodal.fakeMediaFromDocuments(docs), stride = 100, maxFrames = 3)
      .collect()
    assert(out.count(_.media_id == 0L) == 3) // 10 natural frames, capped at 3
    assert(!out.exists(_.media_id == 1L))    // NULL text → empty payload → none
  }

  test("perceptualHash: hand-computed bits, empty payload is 0") {
    // 4 chunks over 8 bytes "AAAAyyyy" = [65*4, 121*4]: total=744
    // chunk sums (len 2): 130,130,242,242
    // bits (cs*8 > 744*2): 1040<1488,1040<1488,1936>1488,1936>1488 -> 0b1100 = 12
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(0L, "AAAAyyyy"), Row(1L, null)))
    val out = Multimodal.perceptualHash(
      Multimodal.fakeMediaFromDocuments(docs), chunks = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 12L, 1L -> 0L))
  }

  test("mediaNearDupPairs: identical payloads pair at hamming 0, distant don't") {
    val base = "abcdefgh" * 32 // alternating chunk means -> odd bits set
    val far = "a" * 128 + "z" * 128 // low half / high half -> high 32 bits set
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, base), Row(2L, base), Row(3L, far)))
    val pairs = Multimodal.mediaNearDupPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(pairs.forall(p => !(p._1 == 3L || p._2 == 3L)))
  }

  test("HeaderCodec.probe: parses the synthetic BMP header fields") {
    val h = Multimodal.HeaderCodec.probe(
      Multimodal.synthPayload(4L, "image")).get
    assert((h.fmt, h.width, h.height, h.contentOff, h.contentLen) ==
      ("bmp", 8, 8, 54, 192))
  }

  test("HeaderCodec.probe: walks RIFF chunks to fmt + data on the synthetic WAV") {
    val h = Multimodal.HeaderCodec.probe(
      Multimodal.synthPayload(5L, "audio")).get
    assert((h.fmt, h.sampleRate, h.channels, h.blockAlign,
      h.contentOff, h.contentLen) == ("wav", 16000, 1, 2, 44, 128))
  }

  test("HeaderCodec.probe: rejects corrupted magic and truncated headers") {
    val bmp = Multimodal.synthPayload(2L, "image")
    bmp(0) = 'X'
    assert(Multimodal.HeaderCodec.probe(bmp).isEmpty)
    val wav = Multimodal.synthPayload(3L, "audio")
    assert(Multimodal.HeaderCodec.probe(wav.take(30)).isEmpty)
    assert(Multimodal.HeaderCodec.probe("not media at all".getBytes).isEmpty)
  }

  test("HeaderCodec featurizes over the LOCATED content, not the whole file") {
    // hand-check: features must cover exactly the pixel array / data chunk
    val row = Multimodal.MediaRow(6L, "image",
      Multimodal.synthPayload(6L, "image"), 8, 8, 16000)
    val f = Multimodal.HeaderCodec.decodeAndFeaturize(row, frameEvery = 16)
    val expectedSum = (0 until 192).map(k => (6L * 31 + k * 7) % 251).sum
    assert(f.n_bytes == 192) // not 246: header excluded
    assert(math.abs(f.mean_byte - expectedSum.toDouble / 192) < 1e-12)
    assert(f.frames_sampled == 1)
    val wavRow = Multimodal.MediaRow(7L, "audio",
      Multimodal.synthPayload(7L, "audio"), 0, 0, 16000)
    val g = Multimodal.HeaderCodec.decodeAndFeaturize(wavRow, frameEvery = 16)
    assert(g.n_bytes == 128 && g.frames_sampled == 4) // ceil(64 samples / 16)
  }

  test("HeaderCodec.probe: crafted RIFF chunk sizes terminate and fall to None") {
    // chunk size is an UNTRUSTED u32 — before the Long-arithmetic fix a
    // size of 0xFFFFFFF8 wrapped to -8 via .toInt, `off` stopped
    // advancing, and the executor task spun forever; 0x80000000 walked
    // `off` backwards into a StringIndexOutOfBounds that escaped probe
    def riff(chunkSize: Long): Array[Byte] = {
      val b = new Array[Byte](64)
      Array[Byte]('R', 'I', 'F', 'F').copyToArray(b, 0)
      Array[Byte]('W', 'A', 'V', 'E').copyToArray(b, 8)
      Array[Byte]('J', 'U', 'N', 'K').copyToArray(b, 12)
      var i = 0
      while (i < 4) { b(16 + i) = ((chunkSize >> (8 * i)) & 0xff).toByte; i += 1 }
      b
    }
    for (sz <- Seq(0xFFFFFFF8L, 0x80000000L, 0xFFFFFFFFL, 0x7FFFFFFFL))
      assert(Multimodal.HeaderCodec.probe(riff(sz)).isEmpty, s"size=$sz")
  }

  test("HeaderCodec.probe: oversized data-chunk size clamps to remaining bytes, never negative") {
    // a valid fmt chunk followed by a data chunk CLAIMING 2^31+1 bytes:
    // dataLen must clamp to the bytes physically present (not wrap
    // negative and ship garbage features with frames < 0)
    val wav = Multimodal.synthPayload(9L, "audio")
    // synthetic layout: fmt at 12, data header at 36 (size field at 40)
    val forged = wav.clone()
    val huge = 0x80000001L
    var i = 0
    while (i < 4) { forged(40 + i) = ((huge >> (8 * i)) & 0xff).toByte; i += 1 }
    val h = Multimodal.HeaderCodec.probe(forged)
    assert(h.isDefined)
    assert(h.get.contentLen == forged.length - h.get.contentOff)
    assert(h.get.contentLen >= 0)
    val feats = Multimodal.HeaderCodec.decodeAndFeaturize(
      Multimodal.MediaRow(9L, "audio", forged, 0, 0, 16000), 16)
    assert(feats.frames_sampled >= 0 && feats.n_bytes >= 0)
  }

  test("HeaderCodec.probe: parses the synthetic PNG IHDR; decodeAndFeaturize uses real pixels") {
    val p = Multimodal.synthPngPayload(12L)
    val h = Multimodal.HeaderCodec.probe(p).get
    assert((h.fmt, h.width, h.height) == (("png", 16, 16)))
    // featurize path: real decode → 768 reconstructed pixel bytes, FNV
    // over the closed-form pixel grid
    val f = Multimodal.HeaderCodec.decodeAndFeaturize(
      Multimodal.MediaRow(12L, "image", p, 16, 16, 0), 16)
    assert(f.n_bytes == 768 && f.frames_sampled == 1)
    var expFnv = 1469598103934665603L
    var expSum = 0L
    for (k <- 0 until 768) {
      val v = Multimodal.synthPngPixel(12L, k)
      expSum += v
      expFnv = (expFnv ^ v) * 1099511628211L
    }
    assert(f.checksum == expFnv)
    assert(math.abs(f.mean_byte - expSum.toDouble / 768) < 1e-12)
  }

  test("decodePng: inflate + all-five-filter reconstruction reproduces the closed-form pixels") {
    for (id <- Seq(0L, 3L, 12L, 251L)) {
      val img = Png.decodeFull(Multimodal.synthPngPayload(id)).get
      assert((img.width, img.height, img.channels) == ((16, 16, 3)))
      assert((0 until 768).forall(k =>
        (img.pixels(k) & 0xff) == Multimodal.synthPngPixel(id, k)))
    }
  }

  test("decodePng: agrees with the JDK's own ImageIO decoder pixel-for-pixel") {
    val p = Multimodal.synthPngPayload(77L)
    val ours = Png.decodeFull(p).get
    val theirs = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
    assert(theirs.getWidth == 16 && theirs.getHeight == 16)
    for (y <- 0 until 16; x <- 0 until 16) {
      val rgb = theirs.getRGB(x, y)
      val o = (y * 16 + x) * 3
      assert(((rgb >> 16) & 0xff) == (ours.pixels(o) & 0xff))
      assert(((rgb >> 8) & 0xff) == (ours.pixels(o + 1) & 0xff))
      assert((rgb & 0xff) == (ours.pixels(o + 2) & 0xff))
    }
  }

  test("decodePng: known-pixel grayscale fixture exercising one filter per row") {
    // 3×5 gray-8: row r uses filter r (None/Sub/Up/Average/Paeth), pixels
    // chosen to include wrap-around deltas (mod-256 arithmetic)
    val w = 3; val h = 5
    val px = Array(
      10, 250, 7,
      9, 200, 3,
      0, 255, 128,
      77, 78, 80,
      5, 4, 200)
    val img = Png.decodeFull(handPng(w, h, 0, 1, px, 0 until h)).get
    assert((img.width, img.height, img.channels) == ((w, h, 1)))
    assert(img.pixels.map(_ & 0xff).toSeq == px.toSeq)
  }

  test("decodePng: RGBA and gray+alpha color types reconstruct exactly (ImageIO cross-check)") {
    // hand-encode a 2×3 image in each remaining 8-bit color type, one
    // filter per row, and require both our decoder and the JDK's to read
    // back the exact channel bytes
    val rnd = new scala.util.Random(5)
    // RGBA (color type 6, bpp 4): alpha varies to catch channel swaps
    val rgba = Array.fill(2 * 3 * 4)(rnd.nextInt(256))
    val pRgba = handPng(2, 3, 6, 4, rgba, Seq(4, 1, 2))
    val dRgba = Png.decodeFull(pRgba).get
    assert((dRgba.width, dRgba.height, dRgba.channels) == ((2, 3, 4)))
    assert(dRgba.pixels.map(_ & 0xff).toSeq == rgba.toSeq)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pRgba))
    for (y <- 0 until 3; x <- 0 until 2) {
      val argb = img.getRGB(x, y) // NOT premultiplied for TYPE_INT_ARGB reads
      val o = (y * 2 + x) * 4
      assert(((argb >> 24) & 0xff) == rgba(o + 3), "alpha")
      assert(((argb >> 16) & 0xff) == rgba(o), "red")
      assert(((argb >> 8) & 0xff) == rgba(o + 1), "green")
      assert((argb & 0xff) == rgba(o + 2), "blue")
    }
    // gray+alpha (color type 4, bpp 2)
    val ga = Array.fill(2 * 3 * 2)(rnd.nextInt(256))
    val dGa = Png.decodeFull(handPng(2, 3, 4, 2, ga, Seq(0, 3, 4))).get
    assert((dGa.width, dGa.height, dGa.channels) == ((2, 3, 2)))
    assert(dGa.pixels.map(_ & 0xff).toSeq == ga.toSeq)
    // palette (type 3) with no PLTE chunk to resolve the indices through
    // must decline, not mis-decode
    assert(Png.decodeFull(
      handPng(2, 3, 3, 1, Array.fill(6)(1), Seq(0, 0, 0))).isEmpty)
  }

  test("decodePng/probe: corrupted CRC, huge dims, forged chunk length all rejected safely") {
    val good = Multimodal.synthPngPayload(3L)
    val badCrc = good.clone()
    badCrc(30) = (badCrc(30) ^ 0xff).toByte // flip an IHDR CRC byte
    assert(Multimodal.HeaderCodec.probe(badCrc).isEmpty)
    assert(Png.decodeFull(badCrc).isEmpty)
    val badDim = good.clone()
    badDim(16) = 0x80.toByte // width bit 31 set -> > Int.MaxValue
    assert(Multimodal.HeaderCodec.probe(badDim).isEmpty)
    assert(Png.decodeFull(badDim).isEmpty)
    // IDAT length forged to 2^32-1: the Long walk must terminate (clamp,
    // not wrap) and the decoder must reject the truncated chunk
    val badLen = good.clone()
    for (i <- 0 until 4) badLen(33 + i) = 0xff.toByte
    val h = Multimodal.HeaderCodec.probe(badLen)
    assert(h.isDefined && h.get.contentLen == badLen.length - 41)
    assert(Png.decodeFull(badLen).isEmpty)
    // truncated zlib stream (first IDAT only, second dropped) → reject;
    // the featurize path then falls back to located-span features
    val h1 = Multimodal.HeaderCodec.probe(good).get
    val truncated = java.util.Arrays.copyOfRange(good, 0,
      41 + h1.contentLen + 4) // sig+IHDR+IDAT1+its CRC, no IDAT2/IEND
    assert(Png.decodeFull(truncated).isEmpty)
    val f = Multimodal.HeaderCodec.decodeAndFeaturize(
      Multimodal.MediaRow(3L, "image", truncated, 16, 16, 0), 16)
    assert(f.kind == "png" && f.n_bytes == h1.contentLen)
  }

  test("HeaderCodec featurizes the decoded pixels of Adam7, palette and 16-bit PNGs") {
    // ids 0-3 of the q390 corpus: Adam7 RGB8, palette, 16-bit gray,
    // Adam7 palette — none of them a plain 8-bit non-interlaced image
    for (id <- 0L to 3L) {
      val p = Png.synthPngFullPayload(id)
      val px = Png.decodeFull(p).get.pixels
      var sum = 0L; var fnv = 1469598103934665603L
      px.foreach { b => sum += b & 0xff; fnv = (fnv ^ (b & 0xff)) * 1099511628211L }
      val f = Multimodal.HeaderCodec.decodeAndFeaturize(
        Multimodal.MediaRow(id, "image", p, 0, 0, 0), 16)
      assert((f.kind, f.frames_sampled) == (("png", 1)), s"id $id")
      assert((f.n_bytes, f.checksum) == ((px.length, fnv)), s"id $id")
      assert(math.abs(f.mean_byte - sum.toDouble / px.length) < 1e-12)
    }
  }

  test("synthetic payload writers: CRC32 and length of ids 0-7 are pinned") {
    // (length, CRC32) per id 0..7, taken before the PNG writers and the
    // RIFF/BMP byte helpers were shared (the MJPEG AVI's before its writer
    // moved onto the Riff helpers); any change to a payload byte
    // moves the oracle-checked queries that read these corpora
    val pinned: Seq[(String, Long => Array[Byte], Seq[(Int, Long)])] = Seq(
      ("synthPngPayload", Multimodal.synthPngPayload, Seq(
        (281, 643459334L), (282, 1673203762L), (284, 410840106L), (282, 1205717754L),
        (282, 3235127069L), (283, 4286609936L), (280, 1477834633L), (283, 3686954103L))),
      ("synthPngFullPayload", Png.synthPngFullPayload, Seq(
        (452, 2256028508L), (270, 3336779855L), (197, 324559106L), (200, 2463730056L),
        (454, 2256957223L), (260, 1418072941L), (199, 1509164680L), (200, 1046812112L))),
      ("synthPayload image", Multimodal.synthPayload(_, "image"), Seq(
        (246, 1185796542L), (246, 379041294L), (246, 1376465920L), (246, 534542482L),
        (246, 1366624163L), (246, 2711780616L), (246, 1049214748L), (246, 2571244949L))),
      ("synthPayload audio", Multimodal.synthPayload(_, "audio"), Seq(
        (172, 1556393655L), (172, 777154421L), (172, 1357271522L), (172, 3452979867L),
        (172, 2835678698L), (172, 3820439435L), (172, 1613718831L), (172, 2200892043L))),
      ("synthG711Payload", Audio.synthG711Payload, Seq(
        (108, 2299242959L), (108, 3117932739L), (108, 3514199722L), (108, 2770892680L),
        (108, 1717701288L), (108, 4215476829L), (108, 2900203025L), (108, 3589366273L))),
      ("synthAdpcmPayload", Audio.synthAdpcmPayload, Seq(
        (96, 3711979039L), (96, 299780850L), (96, 2866205406L), (96, 3635769320L),
        (96, 2463231182L), (96, 2907950748L), (96, 1790441999L), (96, 1489936785L))),
      ("synthMjpegPayload", Video.synthMjpegPayload, Seq(
        (1342, 4238673833L), (1340, 1359313482L), (1348, 1925607403L), (1344, 832187132L),
        (1344, 1763054671L), (1342, 4037419763L), (1346, 4245132049L), (1344, 4022487115L))))
    for ((name, write, pins) <- pinned; id <- 0 until 8) {
      val b = write(id.toLong)
      val crc = new java.util.zip.CRC32(); crc.update(b)
      assert((b.length, crc.getValue) == pins(id), s"$name($id)")
    }
  }

  test("HeaderCodec falls back to StubCodec whole-payload features on unknown bytes") {
    val junk = Multimodal.MediaRow(8L, "image",
      "definitely not a container".getBytes, 0, 0, 0)
    assert(Multimodal.HeaderCodec.decodeAndFeaturize(junk, 1024) ==
      Multimodal.StubCodec.decodeAndFeaturize(junk, 1024))
  }

  test("probeMedia: parsed metadata matches the closed-form corpus definition") {
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(10L, "x"), Row(11L, "y")))
    val out = Multimodal.probeMedia(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val bmp = out(10L)
    assert((bmp.getString(1), bmp.getInt(2), bmp.getInt(3), bmp.getInt(6)) ==
      ("bmp", 8, 8, 192))
    assert(bmp.getLong(7) == (0 until 192).map(k => (10L * 31 + k * 7) % 251).sum)
    val wav = out(11L)
    assert((wav.getString(1), wav.getInt(4), wav.getInt(5), wav.getInt(6)) ==
      ("wav", 16000, 1, 128))
    assert(wav.getLong(7) == (0 until 64).map { s =>
      val v = (11L * 13 + s * 5) % 65536
      v % 256 + v / 256
    }.sum)
  }
}
