package extractous.core

/** bzip2 (.bz2) decoder, from the publicly documented BZh stream format
  * (magic + 48-bit block magics at bit granularity, symbol map, MTF'd
  * selectors, delta-coded Huffman lengths, MTF+RLE2 symbol stream, BWT
  * inverse, final RLE1, per-block and combined stream CRCs). `.bz2` /
  * `.tar.bz2` sit alongside gzip and xz in file-heavy crawl strata;
  * Tika (the reference's engine) descends them via Commons Compress
  * (/root/reference/README.md:271-273).
  *
  * Every integrity field is verified: per-block CRC over the fully
  * decoded (post-RLE1) block bytes and the footer's combined CRC —
  * damage throws IllegalArgumentException → status −4, never garbage.
  * The deprecated "randomized" block flag (nothing since bzip2 0.9.5
  * emits it) refuses with [[UnsupportedArchiveException]] → status −8.
  * Output is bomb-capped. Validated against a CPython `bz2`-produced
  * golden fixture in Bzip2Spec, plus round-trips against the
  * independent [[extractous.gen.BzipWriter]].
  */
object Bzip2 {

  def looksLikeBzip2(bytes: Array[Byte]): Boolean =
    bytes.length >= 10 && bytes(0) == 'B' && bytes(1) == 'Z' && bytes(2) == 'h' &&
      bytes(3) >= '1' && bytes(3) <= '9'

  // bzip2's CRC-32: same polynomial as zlib but MSB-first (non-reflected),
  // init all-ones, final complement.
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private[extractous] final class Crc {
    private var crc = 0xffffffff
    def update(b: Int): Unit =
      crc = (crc << 8) ^ crcTable(((crc >>> 24) ^ (b & 0xff)) & 0xff)
    def value: Int = ~crc
  }

  /** MSB-first bit cursor over the whole stream (blocks are NOT byte-aligned). */
  private final class Br(b: Array[Byte]) {
    var pos: Long = 0L
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val idx = (pos >>> 3).toInt
        if (idx >= b.length) throw new IllegalArgumentException("bzip2: truncated")
        v = (v << 1) | ((b(idx) >> (7 - (pos & 7L).toInt)) & 1)
        pos += 1
        i += 1
      }
      v
    }
  }

  private final val MaxGroups = 6
  private final val GroupRun = 50
  private final val MaxCodeLen = 23

  /** Decompress a whole `.bz2` payload; total output bomb-capped at `cap`.
    * Concatenated streams (what `cat a.bz2 b.bz2` and pbzip2 produce — each
    * worker emits its own BZh stream) decode in sequence: each stream's
    * footer is byte-aligned, then the next "BZh" magic continues. Trailing
    * NON-stream bytes throw — truncating to the first stream would be
    * silent data loss.
    */
  def decode(bytes: Array[Byte], cap: Int = Extract.MaxLayerBytes): Array[Byte] = {
    if (!looksLikeBzip2(bytes)) throw new IllegalArgumentException("bzip2: bad magic")
    val out = new LayerBuffer("bzip2", cap, bytes.length)
    var streamStart = 0
    while (streamStart < bytes.length) {
      if (bytes.length - streamStart < 10 ||
          bytes(streamStart) != 'B' || bytes(streamStart + 1) != 'Z' ||
          bytes(streamStart + 2) != 'h' ||
          bytes(streamStart + 3) < '1' || bytes(streamStart + 3) > '9')
        throw new IllegalArgumentException(
          s"bzip2: trailing bytes after stream end are not a bzip2 stream (offset $streamStart)")
      val level = bytes(streamStart + 3) - '0'
      val maxBlock = level * 100000
      val br = new Br(bytes)
      br.pos = streamStart.toLong * 8 + 32
      var combined = 0
      var done = false
      while (!done) {
        val hi = br.bits(24)
        val lo = br.bits(24)
        if (hi == 0x177245 && lo == 0x385090) {
          val stored = (br.bits(16) << 16) | br.bits(16)
          if (stored != combined)
            throw new IllegalArgumentException("bzip2: combined CRC mismatch")
          done = true
        } else if (hi == 0x314159 && lo == 0x265359) {
          val blockCrc = decodeBlock(br, maxBlock, out)
          combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
        } else throw new IllegalArgumentException("bzip2: bad block magic")
      }
      streamStart = ((br.pos + 7) >>> 3).toInt // footer is bit-packed; next stream is byte-aligned
    }
    out.result()
  }

  /** One block: header → Huffman symbol stream → BWT⁻¹ → RLE1 → `out`.
    * Returns the verified block CRC.
    */
  private def decodeBlock(br: Br, maxBlock: Int, out: LayerBuffer): Int = {
    val storedCrc = (br.bits(16) << 16) | br.bits(16)
    if (br.bits(1) != 0)
      throw new UnsupportedArchiveException(
        "bzip2: randomized block (deprecated, pre-0.9.5)")
    val origPtr = br.bits(24)

    // symbol map: 16-bit coarse map, then 16 bits per used 16-symbol run
    val used16 = br.bits(16)
    val seqToUnseq = new Array[Int](256)
    var nInUse = 0
    var i = 0
    while (i < 16) {
      if ((used16 & (0x8000 >>> i)) != 0) {
        val m = br.bits(16)
        var j = 0
        while (j < 16) {
          if ((m & (0x8000 >>> j)) != 0) { seqToUnseq(nInUse) = i * 16 + j; nInUse += 1 }
          j += 1
        }
      }
      i += 1
    }
    if (nInUse == 0) throw new IllegalArgumentException("bzip2: empty symbol map")
    val alphaSize = nInUse + 2

    val nGroups = br.bits(3)
    if (nGroups < 2 || nGroups > MaxGroups)
      throw new IllegalArgumentException(s"bzip2: group count $nGroups")
    val nSelectors = br.bits(15)
    if (nSelectors < 1) throw new IllegalArgumentException("bzip2: no selectors")

    // selectors arrive MTF'd over the group ids
    val selectors = new Array[Int](nSelectors)
    val gMtf = Array.tabulate(nGroups)(identity)
    i = 0
    while (i < nSelectors) {
      var j = 0
      while (br.bits(1) == 1) {
        j += 1
        if (j >= nGroups) throw new IllegalArgumentException("bzip2: selector out of range")
      }
      val v = gMtf(j)
      while (j > 0) { gMtf(j) = gMtf(j - 1); j -= 1 }
      gMtf(0) = v
      selectors(i) = v
      i += 1
    }

    // delta-coded code lengths, then canonical decode tables per group
    val lens = Array.ofDim[Int](nGroups, alphaSize)
    var g = 0
    while (g < nGroups) {
      var curr = br.bits(5)
      var s = 0
      while (s < alphaSize) {
        var cont = true
        while (cont) {
          if (curr < 1 || curr > 20)
            throw new IllegalArgumentException("bzip2: code length out of range")
          if (br.bits(1) == 0) cont = false
          else if (br.bits(1) == 0) curr += 1
          else curr -= 1
        }
        lens(g)(s) = curr
        s += 1
      }
      g += 1
    }
    val limit = Array.ofDim[Int](nGroups, MaxCodeLen + 2)
    val base = Array.ofDim[Int](nGroups, MaxCodeLen + 2)
    val perm = Array.ofDim[Int](nGroups, alphaSize)
    val minLens = new Array[Int](nGroups)
    g = 0
    while (g < nGroups) {
      var minLen = 32; var maxLen = 0
      var s = 0
      while (s < alphaSize) {
        if (lens(g)(s) < minLen) minLen = lens(g)(s)
        if (lens(g)(s) > maxLen) maxLen = lens(g)(s)
        s += 1
      }
      minLens(g) = minLen
      // hbCreateDecodeTables (public bzlib layout)
      var pp = 0
      var l = minLen
      while (l <= maxLen) {
        s = 0
        while (s < alphaSize) { if (lens(g)(s) == l) { perm(g)(pp) = s; pp += 1 }; s += 1 }
        l += 1
      }
      java.util.Arrays.fill(base(g), 0)
      java.util.Arrays.fill(limit(g), 0)
      s = 0
      while (s < alphaSize) { base(g)(lens(g)(s) + 1) += 1; s += 1 }
      l = 1
      while (l < MaxCodeLen + 2) { base(g)(l) += base(g)(l - 1); l += 1 }
      var vec = 0
      l = minLen
      while (l <= maxLen) {
        vec += base(g)(l + 1) - base(g)(l)
        limit(g)(l) = vec - 1
        vec <<= 1
        l += 1
      }
      l = minLen + 1
      while (l <= maxLen) {
        base(g)(l) = ((limit(g)(l - 1) + 1) << 1) - base(g)(l)
        l += 1
      }
      g += 1
    }

    def readSym(grp: Int): Int = {
      var l = minLens(grp)
      var v = br.bits(l)
      while (v > limit(grp)(l)) {
        l += 1
        if (l > MaxCodeLen) throw new IllegalArgumentException("bzip2: bad Huffman code")
        v = (v << 1) | br.bits(1)
      }
      val idx = v - base(grp)(l)
      if (idx < 0 || idx >= alphaSize)
        throw new IllegalArgumentException("bzip2: bad Huffman code")
      perm(grp)(idx)
    }

    // MTF + RLE2 symbol stream → BWT column
    val bwt = new Array[Byte](maxBlock)
    var n = 0
    val mtf = new Array[Int](nInUse)
    System.arraycopy(seqToUnseq, 0, mtf, 0, nInUse)
    var groupPos = 0
    var selIdx = 0
    var grp = 0
    def nextSym(): Int = {
      if (groupPos == 0) {
        if (selIdx >= nSelectors)
          throw new IllegalArgumentException("bzip2: selectors exhausted")
        grp = selectors(selIdx); selIdx += 1; groupPos = GroupRun
      }
      groupPos -= 1
      readSym(grp)
    }
    var run = 0L
    var runBit = 0
    var eob = false
    while (!eob) {
      val sym = nextSym()
      if (sym <= 1) {
        // bijective base-2 zero-run accumulation (RUNA=1, RUNB=2 at 2^k)
        run += (sym + 1).toLong << runBit
        runBit += 1
        if (run > maxBlock) throw new IllegalArgumentException("bzip2: run overruns block")
      } else {
        if (run > 0) {
          if (n + run > maxBlock) throw new IllegalArgumentException("bzip2: block overrun")
          val b = mtf(0).toByte
          var k = 0L
          while (k < run) { bwt(n) = b; n += 1; k += 1 }
          run = 0; runBit = 0
        }
        if (sym == alphaSize - 1) eob = true
        else {
          var j = sym - 1
          val v = mtf(j)
          while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
          mtf(0) = v
          if (n >= maxBlock) throw new IllegalArgumentException("bzip2: block overrun")
          bwt(n) = v.toByte; n += 1
        }
      }
    }
    if (n == 0) throw new IllegalArgumentException("bzip2: empty block")
    if (origPtr >= n) throw new IllegalArgumentException("bzip2: origPtr out of range")

    // BWT inverse: counting sort builds the successor vector, walk from origPtr
    val cftab = new Array[Int](257)
    i = 0
    while (i < n) { cftab((bwt(i) & 0xff) + 1) += 1; i += 1 }
    i = 1
    while (i <= 256) { cftab(i) += cftab(i - 1); i += 1 }
    val tt = new Array[Int](n)
    i = 0
    while (i < n) {
      val c = bwt(i) & 0xff
      tt(cftab(c)) = i
      cftab(c) += 1
      i += 1
    }

    // final RLE1 (4 equal bytes + count) fused with the BWT walk + CRC
    val crc = new Crc
    var p = tt(origPtr)
    var prev = -1
    var rle = 0
    i = 0
    while (i < n) {
      val b = bwt(p) & 0xff
      p = tt(p)
      if (rle == 4) {
        // the 5th stream byte after 4 equal ones is a repeat count, not data
        var k = 0
        while (k < b) { out.append(prev); crc.update(prev); k += 1 }
        rle = 0; prev = -1
      } else {
        if (b == prev) rle += 1 else { rle = 1; prev = b }
        out.append(b); crc.update(b)
      }
      i += 1
    }
    if (rle == 4) throw new IllegalArgumentException("bzip2: block ends inside an RLE run")
    if (crc.value != storedCrc)
      throw new IllegalArgumentException("bzip2: block CRC mismatch")
    storedCrc
  }
}
