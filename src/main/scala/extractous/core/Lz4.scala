package extractous.core

/** From-scratch LZ4 decoder — frame format (lz4 Frame Format spec v1.6.x,
  * magic 0x184D2204), the legacy frame (0x184C2102, fixed 8 MiB blocks) and
  * skippable frames (0x184D2A5x), over the public LZ4 block format (token
  * nibbles + 255-extension lengths + 16-bit match offsets, min-match 4).
  * Crawl strata store `.tar.lz4` sidecars and lz4-wrapped payloads the same
  * way they store `.tar.zst` — the Tika-backed reference descends these via
  * commons-compress (format breadth claim /root/reference/README.md:269-273).
  * Same posture as [[Zstd]]: every structural checksum (header HC byte,
  * optional block checksums, content checksum) is XXH32-verified, bombs hit
  * the global `maxOut` budget of one [[LayerBuffer]], valid-but-out-of-scope
  * features (dictionary IDs) refuse with [[UnsupportedArchiveException]]
  * (−8), and structural damage throws plain exceptions that map to −4 —
  * never silent garbage.
  * Validated against real `lz4` CLI goldens (Lz4Spec) and the CLI accepts
  * the fixture writer's frames back, the two-implementation proof pattern
  * ZstdSpec established.
  */
object Lz4 {

  final val FrameMagic = 0x184D2204
  final val LegacyMagic = 0x184C2102
  private final val SkippableMin = 0x184D2A50
  private final val SkippableMax = 0x184D2A5F
  private final val LegacyBlockSize = 8 * 1024 * 1024

  def looksLikeLz4(b: Array[Byte]): Boolean =
    b.length >= 7 && {
      val m = readIntLE(b, 0)
      m == FrameMagic || m == LegacyMagic
    }

  private def bad(msg: String): Nothing = throw new IllegalArgumentException(s"lz4: $msg")

  private def readIntLE(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  /** Decode a whole `.lz4` payload — concatenated frames share one global
    * `maxOut` budget, so N frames can't multiply a bomb.
    */
  def decode(bytes: Array[Byte], maxOut: Long = Extract.MaxLayerBytes): Array[Byte] = {
    val out = new LayerBuffer("lz4", maxOut, bytes.length)
    var p = 0
    while (p < bytes.length) {
      if (p + 4 > bytes.length) {
        // trailing garbage shorter than a magic: only legal if nothing at all
        if (out.size == 0) bad("truncated magic") else return out.result()
      }
      val magic = readIntLE(bytes, p)
      if (magic == FrameMagic) p = decodeFrame(bytes, p + 4, out)
      else if (magic == LegacyMagic) p = decodeLegacy(bytes, p + 4, out)
      else if (magic >= SkippableMin && magic <= SkippableMax) {
        if (p + 8 > bytes.length) bad("truncated skippable frame")
        val sz = readIntLE(bytes, p + 4)
        if (sz < 0 || p + 8 + sz.toLong > bytes.length) bad("skippable frame overruns input")
        p = p + 8 + sz
      } else if (out.size > 0) return out.result() // trailing non-lz4 bytes after ≥1 frame
      else bad(f"bad magic 0x$magic%08x")
    }
    out.result()
  }

  /** One general frame starting just after the magic; returns the offset
    * past the frame. Frames are independent: no match reaches before the
    * frame's first byte.
    */
  private def decodeFrame(b: Array[Byte], start: Int, out: LayerBuffer): Int = {
    var p = start
    if (p + 3 > b.length) bad("truncated frame descriptor")
    val flg = b(p) & 0xff
    if ((flg >>> 6) != 1) bad(s"unsupported frame version ${flg >>> 6}")
    if ((flg & 0x02) != 0) bad("reserved FLG bit set")
    val blockChecksum = (flg & 0x10) != 0
    val contentSizeFlag = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    if ((flg & 0x01) != 0)
      throw new UnsupportedArchiveException("lz4: dictionary frames not supported")
    val bd = b(p + 1) & 0xff
    val bmax = (bd >>> 4) & 0x07
    if (bmax < 4 || bmax > 7) bad(s"invalid block-max-size code $bmax")
    if ((bd & 0x8f) != 0) bad("reserved BD bits set")
    val descLen = 2 + (if (contentSizeFlag) 8 else 0)
    if (p + descLen + 1 > b.length) bad("truncated frame descriptor")
    val declaredSize: Long =
      if (contentSizeFlag)
        (readIntLE(b, p + 2).toLong & 0xFFFFFFFFL) | ((readIntLE(b, p + 6).toLong & 0xFFFFFFFFL) << 32)
      else -1L
    val hc = b(p + descLen) & 0xff
    val want = (Xxh32.hash(b, p, descLen, 0) >>> 8) & 0xff
    if (hc != want) bad(f"frame header checksum mismatch (got $hc%02x want $want%02x)")
    p += descLen + 1
    val maxBlock = 1 << (8 + 2 * bmax) // 4→64 KiB … 7→4 MiB
    val frameStart = out.size
    var done = false
    while (!done) {
      if (p + 4 > b.length) bad("truncated block size word")
      val word = readIntLE(b, p); p += 4
      if (word == 0) done = true
      else {
        val stored = (word & 0x80000000) != 0
        val len = word & 0x7FFFFFFF
        if (len > maxBlock) bad(s"block size $len exceeds declared max $maxBlock")
        if (p + len.toLong > b.length) bad("block overruns input")
        if (blockChecksum) {
          if (p + len + 4 > b.length) bad("truncated block checksum")
          val got = readIntLE(b, p + len)
          if (got != Xxh32.hash(b, p, len, 0)) bad("block checksum mismatch")
        }
        if (stored) out.append(b, p, len)
        else decompressBlock(b, p, len, out, frameStart)
        p += len + (if (blockChecksum) 4 else 0)
      }
    }
    val produced = out.size - frameStart
    if (declaredSize >= 0 && produced != declaredSize)
      bad(s"content size mismatch (declared $declaredSize got $produced)")
    if (contentChecksum) {
      if (p + 4 > b.length) bad("truncated content checksum")
      val got = readIntLE(b, p); p += 4
      val want2 = out.read(frameStart)(Xxh32.hash(_, _, _, 0))
      if (got != want2) bad("content checksum mismatch")
    }
    p
  }

  /** Legacy frame (lz4 ≤ r90 / `lz4 -l`): raw 8 MiB-block stream, no
    * terminator — runs to EOF or the next magic number.
    */
  private def decodeLegacy(b: Array[Byte], start: Int, out: LayerBuffer): Int = {
    var p = start
    val frameStart = out.size
    var done = false
    while (!done) {
      if (p + 4 > b.length) { done = true }
      else {
        val word = readIntLE(b, p)
        // a new frame magic ends the legacy stream (concatenation)
        if (word == FrameMagic || word == LegacyMagic ||
            (word >= SkippableMin && word <= SkippableMax)) done = true
        else {
          p += 4
          if (word < 0 || p + word.toLong > b.length) bad("legacy block overruns input")
          val before = out.size
          decompressBlock(b, p, word, out, frameStart)
          if (out.size - before > LegacyBlockSize) bad("legacy block exceeds 8 MiB")
          p += word
        }
      }
    }
    p
  }

  /** The LZ4 block format: token nibbles, 255-extension lengths, 16-bit LE
    * match offsets, min-match 4, overlap-capable copies. Matches may reach
    * back across block boundaries to `frameStart` (blocks here are decoded
    * into one contiguous buffer, which covers both linked and independent
    * encoder modes).
    */
  private def decompressBlock(b: Array[Byte], start: Int, len: Int, out: LayerBuffer, frameStart: Int): Unit = {
    var p = start
    val end = start + len
    while (p < end) {
      val token = b(p) & 0xff; p += 1
      var litLen = token >>> 4
      if (litLen == 15) {
        var x = 255
        while (x == 255) {
          if (p >= end) bad("truncated literal length")
          x = b(p) & 0xff; p += 1
          litLen += x
        }
      }
      if (p + litLen > end) bad("literals overrun block")
      out.append(b, p, litLen)
      p += litLen
      if (p < end) {
        if (p + 2 > end) bad("truncated match offset")
        val offset = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8); p += 2
        if (offset == 0) bad("zero match offset")
        var matchLen = (token & 0x0f) + 4
        if ((token & 0x0f) == 15) {
          var x = 255
          while (x == 255) {
            if (p >= end) bad("truncated match length")
            x = b(p) & 0xff; p += 1
            matchLen += x
          }
        }
        out.copy(offset, matchLen, frameStart)
      }
    }
  }
}

/** XXH32 (public xxHash spec) — LZ4 frame checksums are all XXH32 where
  * zstd's are XXH64; same shipped-constant style as [[Zstd]]'s Xxh64.
  */
private[core] object Xxh32 {
  private final val P1 = 0x9E3779B1
  private final val P2 = 0x85EBCA77
  private final val P3 = 0xC2B2AE3D
  private final val P4 = 0x27D4EB2F
  private final val P5 = 0x165667B1

  private def rotl(x: Int, r: Int): Int = Integer.rotateLeft(x, r)
  private def readLE(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  def hash(b: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    var p = off
    val end = off + len
    var h: Int =
      if (len >= 16) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        val limit = end - 16
        while (p <= limit) {
          v1 = rotl(v1 + readLE(b, p) * P2, 13) * P1; p += 4
          v2 = rotl(v2 + readLE(b, p) * P2, 13) * P1; p += 4
          v3 = rotl(v3 + readLE(b, p) * P2, 13) * P1; p += 4
          v4 = rotl(v4 + readLE(b, p) * P2, 13) * P1; p += 4
        }
        rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
      } else seed + P5
    h += len
    while (p + 4 <= end) {
      h = rotl(h + readLE(b, p) * P3, 17) * P4
      p += 4
    }
    while (p < end) {
      h = rotl(h + (b(p) & 0xff) * P5, 11) * P1
      p += 1
    }
    h ^= h >>> 15
    h *= P2
    h ^= h >>> 13
    h *= P3
    h ^= h >>> 16
    h
  }
}
