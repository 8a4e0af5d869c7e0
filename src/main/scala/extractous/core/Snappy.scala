package extractous.core

import java.io.ByteArrayOutputStream

/** From-scratch Snappy decoder — the raw block format (google/snappy
  * format_description.txt: varint preamble + literal / 1-, 2-, 4-byte-offset
  * copy elements) under the public framing format (framing_format.txt:
  * "sNaPpY" stream identifier, compressed/uncompressed chunks with MASKED
  * CRC32C). Hadoop-adjacent crawl strata ship `.sz` sidecars; the
  * Tika-backed reference descends them via commons-compress (format breadth
  * claim /root/reference/README.md:269-273). Same honesty posture as
  * [[Lz4]]/[[Zstd]]: every chunk CRC is verified, unskippable reserved
  * chunks refuse, bombs hit the `maxOut` budget, damage throws (→ −4),
  * never silent garbage. Only the FRAMED format is sniffable (raw snappy
  * has no magic); `rawDecode` is public for the framing layer and tests.
  * Validated against the Apache commons-compress reference implementation
  * in SnappySpec (golden frames both directions).
  */
object Snappy {

  private val StreamId: Array[Byte] =
    Array(0xff, 0x06, 0x00, 0x00, 's', 'N', 'a', 'P', 'p', 'Y').map(_.toByte)

  def looksLikeFramedSnappy(b: Array[Byte]): Boolean =
    b.length >= 10 && (0 until 10).forall(i => b(i) == StreamId(i))

  private def bad(msg: String): Nothing = throw new IllegalArgumentException(s"snappy: $msg")

  /** framing_format.txt §3: masked CRC32C of the uncompressed chunk data. */
  def maskedCrc32c(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C
    c.update(b, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  private def readIntLE3(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16)

  private def readIntLE4(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  /** Decode a framed `.sz` payload. */
  def decodeFramed(bytes: Array[Byte], maxOut: Long = Extract.MaxLayerBytes): Array[Byte] = {
    if (!looksLikeFramedSnappy(bytes)) bad("missing sNaPpY stream identifier")
    val out = new ByteArrayOutputStream(math.min(bytes.length.toLong * 3, 1 << 20).toInt)
    var p = 10
    while (p < bytes.length) {
      if (p + 4 > bytes.length) bad("truncated chunk header")
      val typ = bytes(p) & 0xff
      val len = readIntLE3(bytes, p + 1)
      p += 4
      if (p + len > bytes.length) bad("chunk overruns input")
      typ match {
        case 0x00 => // compressed data: masked CRC + raw-snappy block
          if (len < 4) bad("compressed chunk shorter than its CRC")
          // decode the chunk standalone (chunks are ≤64 KiB by spec) so the
          // CRC verifies without re-copying the whole accumulated output
          val chunk = rawDecode(bytes, p + 4, len - 4, maxOut = 65536)
          if (out.size().toLong + chunk.length > maxOut) bad("decoded size exceeds budget")
          if (maskedCrc32c(chunk, 0, chunk.length) != readIntLE4(bytes, p))
            bad("compressed chunk CRC mismatch")
          out.write(chunk, 0, chunk.length)
        case 0x01 => // uncompressed data
          if (len < 4) bad("uncompressed chunk shorter than its CRC")
          if (out.size().toLong + (len - 4) > maxOut) bad("decoded size exceeds budget")
          if (maskedCrc32c(bytes, p + 4, len - 4) != readIntLE4(bytes, p))
            bad("uncompressed chunk CRC mismatch")
          out.write(bytes, p + 4, len - 4)
        case 0xff => // stream identifier may legally repeat (concatenation)
          if (len != 6) bad("stream identifier chunk must be 6 bytes")
        case t if t >= 0x80 => // skippable reserved + padding (0xfe)
        case t =>
          throw new UnsupportedArchiveException(f"snappy: unskippable reserved chunk 0x$t%02x")
      }
      p += len
    }
    out.toByteArray
  }

  /** Decode one raw snappy block (varint preamble + elements). */
  def rawDecode(bytes: Array[Byte], off: Int, len: Int, maxOut: Long = Extract.MaxLayerBytes): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.min(len.toLong * 3, 1 << 20).toInt)
    rawDecodeInto(bytes, off, len, out, maxOut)
    out.toByteArray
  }

  private def rawDecodeInto(b: Array[Byte], off: Int, len: Int,
      out: ByteArrayOutputStream, maxOut: Long): Unit = {
    var p = off
    val end = off + len
    // varint uncompressed length
    var expected = 0L
    var shift = 0
    var cont = true
    while (cont) {
      if (p >= end || shift > 35) bad("bad varint preamble")
      val x = b(p) & 0xff; p += 1
      expected |= (x & 0x7fL) << shift
      shift += 7
      cont = (x & 0x80) != 0
    }
    if (out.size().toLong + expected > maxOut) bad("decoded size exceeds budget")
    val dst = new Array[Byte](expected.toInt)
    var d = 0
    while (p < end) {
      val tag = b(p) & 0xff; p += 1
      (tag & 0x03) match {
        case 0 => // literal; length codes 60..63 carry 1..4 extra LE bytes
          val code = tag >>> 2
          var n = code + 1
          if (code >= 60) {
            val extra = code - 59 // 1..4 length bytes
            if (p + extra > end) bad("truncated literal length")
            var v = 0L
            var i = 0
            while (i < extra) { v |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
            p += extra
            if (v >= Int.MaxValue) bad("literal length overflow")
            n = v.toInt + 1
          }
          if (p + n > end || d + n > dst.length) bad("literal overruns")
          System.arraycopy(b, p, dst, d, n)
          p += n; d += n
        case 1 => // copy, 1-byte offset, len 4..11
          if (p >= end) bad("truncated copy-1")
          val n = ((tag >>> 2) & 0x07) + 4
          val o = ((tag >>> 5) << 8) | (b(p) & 0xff); p += 1
          copy(dst, d, o, n); d += n
        case 2 => // copy, 2-byte offset, len 1..64
          if (p + 2 > end) bad("truncated copy-2")
          val n = (tag >>> 2) + 1
          val o = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8); p += 2
          copy(dst, d, o, n); d += n
        case _ => // copy, 4-byte offset
          if (p + 4 > end) bad("truncated copy-4")
          val n = (tag >>> 2) + 1
          val o = readIntLE4(b, p); p += 4
          copy(dst, d, o, n); d += n
      }
    }
    if (d != dst.length) bad(s"decoded ${d} bytes, preamble declared ${dst.length}")
    out.write(dst, 0, dst.length)
  }

  private def copy(dst: Array[Byte], d: Int, offset: Int, n: Int): Unit = {
    if (offset <= 0 || offset > d) bad(s"copy offset $offset outside decoded prefix $d")
    if (d + n > dst.length) bad("copy overruns declared length")
    var src = d - offset
    var to = d
    var i = 0
    while (i < n) { dst(to) = dst(src); src += 1; to += 1; i += 1 }
  }
}
