package extractous.core

/** XZ (.xz) container decoder, from the published XZ file-format spec
  * (tukaani.org "The .xz File Format" v1.0.4) over the from-scratch
  * [[Lzma]] LZMA2 decoder. Crawl file strata carry `.xz`/`.tar.xz`
  * alongside gzip; Tika (the reference's engine) descends them via
  * Commons Compress (/root/reference/README.md:271-273).
  *
  * Scope: one stream; filter chains of Delta and/or BCJ x86 ([[Bra]])
  * in front of LZMA2 decode (validated against real `xz --x86`/`--delta`
  * CLI goldens in XzSpec); other BCJ architectures refuse with
  * [[UnsupportedArchiveException]] → status −8, never garbage.
  * Block sizes come from the index (the `xz` CLI's default layout omits
  * them from block headers), so decode parses footer → index → blocks.
  * All four spec check types verify over the DECODED bytes: None, CRC32,
  * CRC64 (ECMA-182 reflected) and SHA-256. Every structural CRC (stream
  * flags, block headers, index, footer) is verified; damage throws
  * IllegalArgumentException → status −4. Output is bomb-capped.
  */
object Xz {
  val Magic: Array[Byte] =
    Array(0xFD.toByte, '7'.toByte, 'z'.toByte, 'X'.toByte, 'Z'.toByte, 0x00.toByte)

  def looksLikeXz(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && (0 until 6).forall(i => bytes(i) == Magic(i))

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = BinUtil.crc32(b, off, len)

  // CRC64/ECMA-182 in the reflected form the XZ spec mandates
  // (poly 0xC96C5795D7870F42, init/xorout all-ones), table built once.
  private val crc64Table: Array[Long] = {
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var crc = i.toLong
      var k = 0
      while (k < 8) {
        crc = if ((crc & 1L) != 0) (crc >>> 1) ^ 0xC96C5795D7870F42L else crc >>> 1
        k += 1
      }
      t(i) = crc
      i += 1
    }
    t
  }

  private[extractous] def crc64(b: Array[Byte]): Long = {
    var crc = -1L
    var i = 0
    while (i < b.length) {
      crc = crc64Table(((crc ^ b(i)) & 0xff).toInt) ^ (crc >>> 8)
      i += 1
    }
    ~crc
  }

  private def u32le(b: Array[Byte], off: Int): Long = BinUtil.u32le(b, off)

  /** Byte cursor with the spec's multibyte (7-bits-per-byte LE) integers. */
  private final class Rd(val b: Array[Byte], var pos: Int, val limit: Int) {
    def byte(): Int = {
      if (pos >= limit) throw new IllegalArgumentException("xz: truncated")
      val v = b(pos) & 0xff; pos += 1; v
    }
    def varint(): Long = {
      var v = 0L
      var i = 0
      while (i < 9) {
        val x = byte()
        v |= (x & 0x7fL) << (7 * i)
        if ((x & 0x80) == 0) {
          if (x == 0 && i > 0) throw new IllegalArgumentException("xz: non-minimal integer")
          return v
        }
        i += 1
      }
      throw new IllegalArgumentException("xz: integer too long")
    }
  }

  private def checkSize(checkType: Int): Int = checkType match {
    case 0x00 => 0  // None
    case 0x01 => 4  // CRC32
    case 0x04 => 8  // CRC64
    case 0x0A => 32 // SHA-256
    case other =>
      throw new UnsupportedArchiveException(f"xz: reserved check type 0x$other%02x")
  }

  private def verifyCheck(checkType: Int, stored: Array[Byte], decoded: Array[Byte]): Unit = {
    val ok = checkType match {
      case 0x00 => true
      case 0x01 =>
        val c = crc32(decoded, 0, decoded.length)
        (0 until 4).forall(i => ((c >>> (8 * i)) & 0xff).toByte == stored(i))
      case 0x04 =>
        val c = crc64(decoded)
        (0 until 8).forall(i => ((c >>> (8 * i)) & 0xff).toByte == stored(i))
      case 0x0A =>
        val d = java.security.MessageDigest.getInstance("SHA-256").digest(decoded)
        java.util.Arrays.equals(d, stored)
      case _ => false
    }
    if (!ok) throw new IllegalArgumentException("xz: block check mismatch")
  }

  private final val FilterLzma2 = 0x21L
  private final val FilterDelta = 0x03L
  private final val FilterX86 = 0x04L

  /** Decompress a whole `.xz` payload; total output bomb-capped at `cap`.
    * Concatenated streams (`cat a.xz b.xz` — legal per spec §2, `xz -d`
    * decodes them all) are walked back-to-front: each footer's backward
    * size locates its index, the index's unpadded sizes give the blocks
    * region, and the stream header must sit exactly where that arithmetic
    * says — so a corrupt boundary fails loudly instead of mis-framing.
    */
  def decode(bytes: Array[Byte], cap: Int = Extract.MaxLayerBytes): Array[Byte] = {
    if (!looksLikeXz(bytes)) throw new IllegalArgumentException("xz: bad magic")
    var limit = bytes.length
    var parts: List[Array[Byte]] = Nil
    var total = 0L
    while (limit > 0) {
      // stream padding between/after streams: zeros, multiple of 4
      var e = limit
      while (e - 4 >= 0 && bytes(e - 1) == 0 && bytes(e - 2) == 0 &&
             bytes(e - 3) == 0 && bytes(e - 4) == 0) e -= 4
      if (e == 0) {
        if (parts.isEmpty) throw new IllegalArgumentException("xz: padding with no stream")
        limit = 0
      } else {
        val (part, streamStart) = decodeStream(bytes, e, cap - total)
        total += part.length
        parts = part :: parts
        limit = streamStart
      }
    }
    if (parts.lengthCompare(1) == 0) parts.head
    else {
      val out = new Array[Byte](total.toInt)
      var off = 0
      parts.foreach { p => System.arraycopy(p, 0, out, off, p.length); off += p.length }
      out
    }
  }

  /** Decode the single stream whose footer ends at `end`; returns the
    * decoded bytes and the stream's start offset.
    */
  private def decodeStream(bytes: Array[Byte], end: Int, cap: Long): (Array[Byte], Int) = {
    if (end < 12 + 12) throw new IllegalArgumentException("xz: truncated")
    if (bytes(end - 2) != 'Y'.toByte || bytes(end - 1) != 'Z'.toByte)
      throw new IllegalArgumentException("xz: bad footer magic")
    if (crc32(bytes, end - 8, 6) != u32le(bytes, end - 12))
      throw new IllegalArgumentException("xz: footer CRC mismatch")
    if (bytes(end - 4) != 0)
      throw new IllegalArgumentException("xz: reserved stream flag byte")
    val checkType = bytes(end - 3) & 0xff
    val chkSize = checkSize(checkType)
    val backward = (u32le(bytes, end - 8) + 1L) * 4L
    val indexStart = end - 12 - backward
    if (indexStart < 12 || backward > Int.MaxValue)
      throw new IllegalArgumentException("xz: index out of bounds")

    // index: 0x00 indicator, record count, (unpadded, uncompressed)*,
    // zero-padding to 4, crc32 of everything before it
    val ir = new Rd(bytes, indexStart.toInt, end - 12)
    if (ir.byte() != 0x00) throw new IllegalArgumentException("xz: bad index indicator")
    val numRec = ir.varint()
    if (numRec < 0 || numRec > (1 << 20))
      throw new IllegalArgumentException(s"xz: record count out of range ($numRec)")
    val unpadded = new Array[Long](numRec.toInt)
    val unpacked = new Array[Long](numRec.toInt)
    var i = 0
    while (i < numRec) {
      unpadded(i) = ir.varint()
      unpacked(i) = ir.varint()
      if (unpadded(i) < 8 || unpadded(i) > end)
        throw new IllegalArgumentException("xz: index record size out of range")
      i += 1
    }
    while (((ir.pos - indexStart) & 3) != 0)
      if (ir.byte() != 0) throw new IllegalArgumentException("xz: nonzero index padding")
    if (crc32(bytes, indexStart.toInt, (ir.pos - indexStart).toInt) != u32le(bytes, ir.pos))
      throw new IllegalArgumentException("xz: index CRC mismatch")
    if (ir.pos + 4 != end - 12)
      throw new IllegalArgumentException("xz: index size disagrees with footer")

    val totalOut = unpacked.sum
    if (totalOut < 0 || totalOut > cap)
      throw new IllegalStateException(s"xz: declared output $totalOut exceeds cap $cap")

    // locate the stream header from the index arithmetic: the blocks region
    // is Σ ceil4(unpadded) (check sizes are 4-aligned, so block padding
    // rounds each record to a multiple of 4)
    var blocksRegion = 0L
    i = 0
    while (i < numRec) { blocksRegion += (unpadded(i) + 3L) & ~3L; i += 1 }
    val streamStart = indexStart - 12 - blocksRegion
    if (streamStart < 0 || blocksRegion > Int.MaxValue)
      throw new IllegalArgumentException("xz: blocks region overruns file")
    val ss = streamStart.toInt
    if (!(0 until 6).forall(j => bytes(ss + j) == Magic(j)))
      throw new IllegalArgumentException("xz: stream header magic not at computed start")
    if (bytes(ss + 6) != 0) throw new IllegalArgumentException("xz: reserved stream flag byte")
    if (crc32(bytes, ss + 6, 2) != u32le(bytes, ss + 8))
      throw new IllegalArgumentException("xz: stream header CRC mismatch")
    if (bytes(ss + 6) != bytes(end - 4) || bytes(ss + 7) != bytes(end - 3))
      throw new IllegalArgumentException("xz: footer stream flags disagree with header")

    // blocks, sizes driven by the index records
    val out = new java.io.ByteArrayOutputStream(math.min(totalOut, 1 << 20).toInt)
    var off = ss + 12
    i = 0
    while (i < numRec) {
      val blockStart = off
      val r = new Rd(bytes, off, indexStart.toInt)
      val bhs = r.byte()
      if (bhs == 0) throw new IllegalArgumentException("xz: block expected, found index")
      val headerLen = (bhs + 1) * 4
      if (blockStart + headerLen > indexStart)
        throw new IllegalArgumentException("xz: block header overruns index")
      val flags = r.byte()
      if ((flags & 0x3c) != 0) throw new IllegalArgumentException("xz: reserved block flags")
      val numFilters = (flags & 0x03) + 1
      val declComp = if ((flags & 0x40) != 0) r.varint() else -1L
      val declUnc = if ((flags & 0x80) != 0) r.varint() else -1L
      // filter chain: the non-last filters may be Delta (0x03) or BCJ x86
      // (0x04) — both length-preserving [[Bra]] transforms applied in
      // REVERSE order after LZMA2 decodes; the last filter must be LZMA2.
      // Anything else (other BCJ architectures, unknown ids) refuses with
      // −8, never garbage.
      val preFilters = Seq.newBuilder[Array[Byte] => Unit]
      var fi = 0
      while (fi < numFilters) {
        val filterId = r.varint()
        val last = fi == numFilters - 1
        if (last) {
          if (filterId != FilterLzma2)
            throw new UnsupportedArchiveException(f"xz: last filter 0x$filterId%x (LZMA2 required)")
          if (r.varint() != 1) throw new IllegalArgumentException("xz: bad LZMA2 props length")
          r.byte() // dictionary-size byte; LZMA2 chunks carry their own resets
        } else filterId match {
          case FilterDelta =>
            if (r.varint() != 1) throw new IllegalArgumentException("xz: bad delta props length")
            val dist = r.byte() + 1
            preFilters += (b => Bra.deltaDecode(b, dist))
          case FilterX86 =>
            val pl = r.varint()
            if (pl == 4) {
              // a nonzero start offset changes every displacement; honest
              // refusal beats silently wrong addresses (encoders don't set it)
              if ((0 until 4).map(_ => r.byte()).exists(_ != 0))
                throw new UnsupportedArchiveException("xz: x86 filter with nonzero start offset")
            } else if (pl != 0)
              throw new IllegalArgumentException("xz: bad x86 props length")
            preFilters += (b => Bra.x86(b, encoding = false))
          case other =>
            throw new UnsupportedArchiveException(f"xz: filter 0x$other%x (Delta/x86/LZMA2 only)")
        }
        fi += 1
      }
      while (r.pos < blockStart + headerLen - 4)
        if (r.byte() != 0) throw new IllegalArgumentException("xz: nonzero block header padding")
      if (crc32(bytes, blockStart, headerLen - 4) != u32le(bytes, blockStart + headerLen - 4))
        throw new IllegalArgumentException("xz: block header CRC mismatch")

      val compLen = unpadded(i) - headerLen - chkSize
      if (compLen <= 0 || blockStart + headerLen + compLen > indexStart)
        throw new IllegalArgumentException("xz: block data overruns index")
      if (declComp >= 0 && declComp != compLen)
        throw new IllegalArgumentException("xz: declared compressed size disagrees with index")
      if (declUnc >= 0 && declUnc != unpacked(i))
        throw new IllegalArgumentException("xz: declared uncompressed size disagrees with index")
      val packed = java.util.Arrays.copyOfRange(
        bytes, blockStart + headerLen, (blockStart + headerLen + compLen).toInt)
      val decoded = Lzma.decodeLzma2(packed, unpacked(i), math.min(cap, Int.MaxValue.toLong).toInt)
      // undo the pre-filters in reverse encoding order (both are in-place
      // and length-preserving, so sizes/checks are unaffected)
      preFilters.result().reverse.foreach(f => f(decoded))
      var p = blockStart + headerLen + compLen
      while ((p & 3) != 0) {
        if (p >= indexStart || bytes(p.toInt) != 0)
          throw new IllegalArgumentException("xz: nonzero block padding")
        p += 1
      }
      if (p + chkSize > indexStart)
        throw new IllegalArgumentException("xz: block check overruns index")
      verifyCheck(checkType,
        java.util.Arrays.copyOfRange(bytes, p.toInt, (p + chkSize).toInt), decoded)
      out.write(decoded)
      off = (p + chkSize).toInt
      i += 1
    }
    if (off != indexStart)
      throw new IllegalArgumentException("xz: trailing bytes between blocks and index")
    (out.toByteArray, ss)
  }
}
