package graft.ext

/** Shared RIFF primitives (little-endian scalars + fourcc match) for
  * the RIFF-family container walks — WAV ([[Audio.parseWav]], the
  * [[Multimodal.HeaderCodec]] probe) and AVI ([[Video.parseAvi]]) read
  * these identically, and the synthetic WAV/BMP/AVI payload writers
  * write through the `put` side; one definition keeps a future bounds tweak
  * from silently missing a copy.
  */
private[ext] object Riff {
  def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  def fourcc(b: Array[Byte], o: Int, s: String): Boolean =
    (b(o) & 0xff) == s.charAt(0) && (b(o + 1) & 0xff) == s.charAt(1) &&
      (b(o + 2) & 0xff) == s.charAt(2) && (b(o + 3) & 0xff) == s.charAt(3)

  def put16le(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
  }
  def put32le(b: Array[Byte], o: Int, v: Long): Unit = {
    var i = 0
    while (i < 4) { b(o + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
  }
  def putTag(b: Array[Byte], o: Int, s: String): Unit = {
    var i = 0
    while (i < 4) { b(o + i) = s.charAt(i).toByte; i += 1 }
  }
}
