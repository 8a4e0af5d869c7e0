package extractous.core

import java.io.ByteArrayOutputStream

/** Zstandard (RFC 8878) decoder, from scratch — frame parsing, raw/RLE/
  * compressed blocks, Huffman-coded literals (direct and FSE-compressed
  * weights, 1- and 4-stream), interleaved-FSE sequence decoding with the
  * three-slot repeat-offset history, window/content-size enforcement, and
  * XXH64 content checksums. Validated byte-for-byte against real `zstd` CLI
  * output across levels 1–19 and shapes that exercise every section type
  * (ZstdSpec embeds the goldens), so the reader is proven against the
  * reference implementation, not a co-written encoder.
  *
  * Scope: dictionaries are refused (a crawl corpus ships self-contained
  * frames); skippable frames are skipped; concatenated frames decode in
  * sequence. All structural failures throw — callers surface them as typed
  * error rows, never silent garbage.
  */
object Zstd {

  private val Magic = 0xFD2FB528L
  private val SkippableMin = 0x184D2A50L
  private val MaxWindow = 1L << 27 // 128 MiB — plenty above CLI levels ≤ 22

  def looksLikeZstd(b: Array[Byte]): Boolean =
    b.length >= 4 && (u32(b, 0) == Magic ||
      (u32(b, 0) >= SkippableMin && u32(b, 0) <= SkippableMin + 15))

  private def u32(b: Array[Byte], off: Int): Long = BinUtil.u32le(b, off)

  private def bad(msg: String): Nothing = throw new IllegalArgumentException(s"zstd: $msg")

  // ---------------------------------------------------------------- bits --

  /** Forward LSB-first bit reader (FSE table descriptions, §4.1.1). */
  private final class FwdBits(buf: Array[Byte], off: Int, end: Int) {
    private var bitPos = 0L
    private val limit = (end - off).toLong * 8
    def read(n: Int): Int = {
      if (bitPos + n > limit) bad("fse: table description overruns")
      var v = 0
      var i = 0
      while (i < n) {
        val p = bitPos + i
        v |= (((buf(off + (p >> 3).toInt) >> (p & 7).toInt) & 1)) << i
        i += 1
      }
      bitPos += n
      v
    }
    def peek(n: Int): Int = { val p = bitPos; val v = read(n); bitPos = p; v }
    def skip(n: Int): Unit = { bitPos += n; if (bitPos > limit) bad("fse: skip overruns") }
    def bytesConsumed: Int = ((bitPos + 7) / 8).toInt
  }

  /** Backward bitstream (§3.1.1.2): written LSB-first forward, read from the
    * end; the last byte's highest set bit is the padding sentinel.
    */
  private final class BackBits(buf: Array[Byte], off: Int, len: Int) {
    if (len <= 0) bad("bitstream: empty")
    private var bitsLeft: Long = len.toLong * 8
    locally {
      val last = buf(off + len - 1) & 0xFF
      if (last == 0) bad("bitstream: missing sentinel")
      var pad = 1
      var m = 0x80
      while ((last & m) == 0) { pad += 1; m >>= 1 }
      bitsLeft -= pad
    }
    def remaining: Long = bitsLeft
    /** Next n bits below the cursor, first-read bit most significant. */
    def read(n: Int): Long = {
      if (n == 0) return 0L
      if (bitsLeft < n) bad("bitstream: underflow")
      var v = 0L
      var i = 0
      while (i < n) {
        bitsLeft -= 1
        v = (v << 1) | ((buf(off + (bitsLeft >> 3).toInt) >> (bitsLeft & 7).toInt) & 1)
        i += 1
      }
      v
    }
    /** Read n bits, zero-padding on the LOW side once the stream is
      * exhausted (the reference decoder's end-of-stream container
      * semantics); returns true when padding was used.
      */
    def readPad(n: Int): (Long, Boolean) = {
      if (n <= bitsLeft) (read(n), false)
      else {
        val have = bitsLeft.toInt
        val v = read(have) << (n - have)
        (v, true)
      }
    }
  }

  // ----------------------------------------------------------------- fse --

  private final class FseTable(val accuracyLog: Int, size: Int) {
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
    val baseline = new Array[Int](size)
  }

  /** Build the decode table from normalized frequencies (−1 = "less than
    * one", one slot at the table's top).
    */
  private def buildFse(freq: Array[Int], al: Int): FseTable = {
    val size = 1 << al
    val t = new FseTable(al, size)
    var highThreshold = size - 1
    var s = 0
    while (s < freq.length) {
      if (freq(s) == -1) { t.symbol(highThreshold) = s; highThreshold -= 1 }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < freq.length) {
      var c = freq(s)
      while (c > 0) {
        t.symbol(pos) = s
        do pos = (pos + step) & mask while (pos > highThreshold)
        c -= 1
      }
      s += 1
    }
    if (pos != 0) bad("fse: table spread incomplete")
    val next = new Array[Int](freq.length)
    s = 0
    while (s < freq.length) { next(s) = math.abs(freq(s)); s += 1 }
    var state = 0
    while (state < size) {
      val sym = t.symbol(state)
      val x = next(sym); next(sym) += 1
      val nb = al - (31 - Integer.numberOfLeadingZeros(x))
      t.nbBits(state) = nb
      t.baseline(state) = (x << nb) - size
      state += 1
    }
    t
  }

  /** FSE table description (§4.1.1), forward bitstream. Returns the table
    * and the byte count consumed.
    */
  private def readFseTable(buf: Array[Byte], off: Int, end: Int, maxSym: Int, maxAl: Int): (FseTable, Int) = {
    val fb = new FwdBits(buf, off, end)
    val al = fb.read(4) + 5
    if (al > maxAl) bad(s"fse: accuracy log $al exceeds $maxAl")
    var remaining = (1 << al) + 1
    var threshold = 1 << al
    var nb = al + 1
    val freq = new Array[Int](maxSym + 1)
    var charnum = 0
    var previous0 = false
    while (remaining > 1 && charnum <= maxSym) {
      if (previous0) {
        var rep = fb.read(2)
        var zeros = rep
        while (rep == 3) { rep = fb.read(2); zeros += rep }
        var i = 0
        while (i < zeros) {
          if (charnum > maxSym) bad("fse: zero run overruns alphabet")
          freq(charnum) = 0; charnum += 1; i += 1
        }
        previous0 = false
      } else {
        val max = (2 * threshold - 1) - remaining
        val small = fb.peek(nb - 1)
        var count =
          if (small < max) { fb.skip(nb - 1); small }
          else {
            val v = fb.peek(nb); fb.skip(nb)
            if (v >= threshold) v - max else v
          }
        count -= 1 // shifted encoding: −1 means "less than one"
        remaining -= math.abs(count)
        freq(charnum) = count
        charnum += 1
        previous0 = count == 0
        while (remaining > 1 && remaining < threshold) { nb -= 1; threshold >>= 1 }
      }
    }
    if (remaining != 1) bad("fse: probabilities do not sum to table size")
    (buildFse(java.util.Arrays.copyOf(freq, charnum), al), fb.bytesConsumed)
  }

  /** Predefined distributions (§3.1.1.4). */
  private val LLDefault = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MLDefault = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OFDefault = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)
  private lazy val LLDefaultTable = buildFse(LLDefault, 6)
  private lazy val MLDefaultTable = buildFse(MLDefault, 6)
  private lazy val OFDefaultTable = buildFse(OFDefault, 5)

  /** Baseline/extra-bit expansions for literal-length and match-length codes
    * (§3.1.1.3.2.1).
    */
  private val LLBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048, 4096,
    8192, 16384, 32768, 65536)
  private val LLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MLBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
    19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027, 2051,
    4099, 8195, 16387, 32771, 65539)
  private val MLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // ------------------------------------------------------------- huffman --

  private final class HufTable(val maxBits: Int, size: Int) {
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
  }

  /** Huffman tree description (§4.2.1): direct 4-bit weights or
    * FSE-compressed weights (two interleaved states over a backward stream).
    * Returns (table, bytesConsumed).
    */
  private def readHuffman(buf: Array[Byte], off: Int, end: Int): (HufTable, Int) = {
    if (off >= end) bad("huffman: empty description")
    val h = buf(off) & 0xFF
    val weights = new Array[Int](256)
    var nw = 0
    var consumed = 0
    if (h >= 128) {
      nw = h - 127
      val nbytes = (nw + 1) / 2
      if (off + 1 + nbytes > end) bad("huffman: weights overrun")
      var i = 0
      while (i < nw) {
        val b = buf(off + 1 + i / 2) & 0xFF
        weights(i) = if (i % 2 == 0) b >> 4 else b & 0xF
        i += 1
      }
      consumed = 1 + nbytes
    } else {
      val csize = h
      if (off + 1 + csize > end) bad("huffman: fse weights overrun")
      val (tab, hdr) = readFseTable(buf, off + 1, off + 1 + csize, maxSym = 255, maxAl = 6)
      val bb = new BackBits(buf, off + 1 + hdr, csize - hdr)
      var s1 = bb.read(tab.accuracyLog).toInt
      var s2 = bb.read(tab.accuracyLog).toInt
      // two interleaved states; a state update that needs padding ends the
      // stream — the OTHER state then emits the final weight (the reference
      // decoder's FSE_decompress tail-loop semantics)
      def push(w: Int): Unit = {
        if (nw >= 255) bad("huffman: too many weights")
        weights(nw) = w; nw += 1
      }
      var done = false
      while (!done) {
        push(tab.symbol(s1))
        val (v1, of1) = bb.readPad(tab.nbBits(s1))
        s1 = tab.baseline(s1) + v1.toInt
        if (of1) { push(tab.symbol(s2)); done = true }
        else {
          push(tab.symbol(s2))
          val (v2, of2) = bb.readPad(tab.nbBits(s2))
          s2 = tab.baseline(s2) + v2.toInt
          if (of2) { push(tab.symbol(s1)); done = true }
        }
      }
      consumed = 1 + csize
    }
    // implied last weight: total must reach a power of two
    var sum = 0L
    var i = 0
    while (i < nw) {
      if (weights(i) > 11) bad("huffman: weight out of range")
      if (weights(i) > 0) sum += 1L << (weights(i) - 1)
      i += 1
    }
    if (sum == 0) bad("huffman: no weighted symbols")
    val maxBits = 64 - java.lang.Long.numberOfLeadingZeros(sum)
    val target = 1L << maxBits
    val leftover = target - sum
    if (leftover <= 0 || (leftover & (leftover - 1)) != 0) bad("huffman: weights not normalizable")
    val lastW = 64 - java.lang.Long.numberOfLeadingZeros(leftover) // log2+1
    weights(nw) = lastW.toInt
    nw += 1
    if (maxBits > 11) bad("huffman: max code length exceeds 11")
    // canonical decode table: weight-1 (longest) codes first, symbols in
    // natural order within a weight (the zstd X1 layout)
    val t = new HufTable(maxBits.toInt, 1 << maxBits.toInt)
    val rankVal = new Array[Int](13)
    var w = 1
    var acc = 0
    while (w <= 12) {
      rankVal(w) = acc
      var cnt = 0
      var j = 0
      while (j < nw) { if (weights(j) == w) cnt += 1; j += 1 }
      acc += cnt << (w - 1)
      w += 1
    }
    if (acc != (1 << maxBits.toInt)) bad("huffman: table does not fill")
    var sIdx = 0
    while (sIdx < nw) {
      val wv = weights(sIdx)
      if (wv > 0) {
        val len = 1 << (wv - 1)
        val nb = maxBits.toInt + 1 - wv
        var p = rankVal(wv)
        val endP = p + len
        while (p < endP) { t.symbol(p) = sIdx; t.nbBits(p) = nb; p += 1 }
        rankVal(wv) = endP
      }
      sIdx += 1
    }
    (t, consumed)
  }

  /** One Huffman-coded stream into `out` at [pos, pos+outLen): peek maxBits
    * below the cursor (zero-padded past the stream start), table lookup,
    * consume the entry's code length. The encoder sizes the stream so the
    * cursor lands EXACTLY on 0 with the last symbol — enforced.
    */
  private def hufStream(t: HufTable, buf: Array[Byte], off: Int, len: Int,
      out: Array[Byte], pos: Int, outLen: Int): Unit = {
    if (len <= 0) bad("huffman: empty stream")
    val last = buf(off + len - 1) & 0xFF
    if (last == 0) bad("huffman: missing sentinel")
    var padBits = 1
    var m = 0x80
    while ((last & m) == 0) { padBits += 1; m >>= 1 }
    var cursor = len.toLong * 8 - padBits
    @inline def bitAt(b: Long): Int =
      if (b < 0) 0 else (buf(off + (b >> 3).toInt) >> (b & 7).toInt) & 1
    var p = pos
    val end = pos + outLen
    while (p < end) {
      var idx = 0
      var j = 1
      while (j <= t.maxBits) { idx = (idx << 1) | bitAt(cursor - j); j += 1 }
      val nb = t.nbBits(idx)
      if (nb == 0) bad("huffman: invalid code")
      out(p) = t.symbol(idx).toByte
      p += 1
      cursor -= nb
      if (cursor < 0) bad("huffman: bitstream underflow")
    }
    if (cursor != 0) bad("huffman: stream not consumed exactly")
  }

  // --------------------------------------------------------------- xxh64 --

  /** Low 32 bits of XXH64(seed 0) — the frame content-checksum function
    * (exposed for the fixture writer).
    */
  def xxh64low32(b: Array[Byte]): Long = Xxh64.hash(b, b.length, 0L) & 0xFFFFFFFFL

  private object Xxh64 {
    private val P1 = 0x9E3779B185EBCA87L
    private val P2 = 0xC2B2AE3D27D4EB4FL
    private val P3 = 0x165667B19E3779F9L
    private val P4 = 0x85EBCA77C2B2AE63L
    private val P5 = 0x27D4EB2F165667C5L
    private def r(x: Long, n: Int): Long = java.lang.Long.rotateLeft(x, n)
    private def u64(b: Array[Byte], i: Int): Long = {
      var v = 0L
      var k = 7
      while (k >= 0) { v = (v << 8) | (b(i + k) & 0xFFL); k -= 1 }
      v
    }
    private def u32l(b: Array[Byte], i: Int): Long = BinUtil.u32le(b, i)
    def hash(b: Array[Byte], len: Int, seed: Long): Long = {
      var i = 0
      var acc =
        if (len >= 32) {
          var v1 = seed + P1 + P2; var v2 = seed + P2; var v3 = seed; var v4 = seed - P1
          while (i + 32 <= len) {
            v1 = r(v1 + u64(b, i) * P2, 31) * P1
            v2 = r(v2 + u64(b, i + 8) * P2, 31) * P1
            v3 = r(v3 + u64(b, i + 16) * P2, 31) * P1
            v4 = r(v4 + u64(b, i + 24) * P2, 31) * P1
            i += 32
          }
          var a = r(v1, 1) + r(v2, 7) + r(v3, 12) + r(v4, 18)
          def merge(acc0: Long, v: Long): Long = (acc0 ^ (r(v * P2, 31) * P1)) * P1 + P4
          a = merge(a, v1); a = merge(a, v2); a = merge(a, v3); a = merge(a, v4)
          a
        } else seed + P5
      acc += len
      while (i + 8 <= len) { acc = r(acc ^ (r(u64(b, i) * P2, 31) * P1), 27) * P1 + P4; i += 8 }
      if (i + 4 <= len) { acc = r(acc ^ (u32l(b, i) * P1), 23) * P2 + P3; i += 4 }
      while (i < len) { acc = r(acc ^ ((b(i) & 0xFFL) * P5), 11) * P1; i += 1 }
      acc ^= acc >>> 33; acc *= P2; acc ^= acc >>> 29; acc *= P3; acc ^= acc >>> 32
      acc
    }
  }

  // --------------------------------------------------------------- frame --

  /** Per-frame decoder state persisting across blocks. */
  /** Growable frame-output buffer that exposes its backing array, so match
    * copies index the history in place — a ByteArrayOutputStream here would
    * force a full `toByteArray` snapshot per block (quadratic in frame size).
    */
  private final class Hist(initial: Int) {
    var a = new Array[Byte](math.max(initial, 64))
    var len = 0
    private def ensure(n: Int): Unit = {
      if (len.toLong + n > a.length) {
        var cap = a.length.toLong * 2
        while (cap < len.toLong + n) cap *= 2
        if (cap > Int.MaxValue - 8) cap = Int.MaxValue - 8
        if (cap < len.toLong + n) bad("frame output exceeds array limit")
        a = java.util.Arrays.copyOf(a, cap.toInt)
      }
    }
    def write(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, off, a, len, n); len += n
    }
  }

  private final class FrameState {
    var huffman: HufTable = null
    var llTable: FseTable = null
    var mlTable: FseTable = null
    var ofTable: FseTable = null
    var rep1 = 1L
    var rep2 = 4L
    var rep3 = 8L
  }

  /** Decode a (possibly multi-frame) zstd payload. */
  def decode(bytes: Array[Byte], maxOut: Long = Extract.MaxLayerBytes): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.min(bytes.length.toLong * 4, 1L << 20).toInt)
    var p = 0
    var sawFrame = false
    while (p < bytes.length) {
      if (p + 4 > bytes.length) bad("truncated magic")
      val magic = u32(bytes, p)
      if (magic >= SkippableMin && magic <= SkippableMin + 15) {
        if (p + 8 > bytes.length) bad("truncated skippable frame")
        val sz = u32(bytes, p + 4)
        if (sz > bytes.length - p - 8) bad("skippable frame overruns")
        p += 8 + sz.toInt
      } else if (magic == Magic) {
        sawFrame = true
        p = decodeFrame(bytes, p + 4, out, maxOut)
      } else bad("bad magic")
    }
    if (!sawFrame) bad("no zstd frame present")
    out.toByteArray
  }

  private def decodeFrame(bytes: Array[Byte], start: Int, out: ByteArrayOutputStream, maxOut: Long): Int = {
    var p = start
    if (p >= bytes.length) bad("truncated frame header")
    val fhd = bytes(p) & 0xFF; p += 1
    if ((fhd & 0x08) != 0) bad("reserved frame header bit set")
    val singleSegment = (fhd & 0x20) != 0
    val checksum = (fhd & 0x04) != 0
    val didSize = Array(0, 1, 2, 4)(fhd & 0x03)
    val fcsFlag = fhd >> 6
    var windowSize = 0L
    if (!singleSegment) {
      if (p >= bytes.length) bad("truncated window descriptor")
      val wd = bytes(p) & 0xFF; p += 1
      val base = 1L << (10 + (wd >> 3))
      windowSize = base + (base / 8) * (wd & 7)
    }
    // a dictionary frame is VALID zstd that is out of scope, not corruption:
    // refuse with -8 like xz filter chains / bzip2 randomized blocks / RAR
    // compressed members, so corpus status_counts keep the taxonomy honest
    if (didSize > 0) throw new UnsupportedArchiveException("zstd: dictionaries not supported")
    var contentSize = -1L
    val fcsBytes = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2
      case 2 => 4
      case 3 => 8
    }
    if (fcsBytes > 0) {
      if (p + fcsBytes > bytes.length) bad("truncated content size")
      var v = 0L
      var i = fcsBytes - 1
      while (i >= 0) { v = (v << 8) | (bytes(p + i) & 0xFFL); i -= 1 }
      if (fcsBytes == 2) v += 256
      contentSize = v
      p += fcsBytes
    }
    if (singleSegment) windowSize = if (contentSize >= 0) contentSize else 0
    if (windowSize > MaxWindow) bad("window size exceeds decoder limit")
    // the budget is GLOBAL: concatenated frames share one maxOut, so N
    // frames each just under the cap cannot multiply it (the bomb gate the
    // bzip2 and xz decoders also enforce across streams)
    val budget = maxOut - out.size()
    if (contentSize > budget) bad("content size exceeds budget")

    val st = new FrameState
    // frame history buffer: we keep the whole frame output (bounded by the
    // budget) in one growable array — simpler than a ring, correct for our
    // in-memory use, and match copies index it directly with zero per-block
    // snapshot copies
    val hist = new Hist(math.min(1 << 16, math.max(budget, 64L)).toInt)

    var last = false
    while (!last) {
      if (p + 3 > bytes.length) bad("truncated block header")
      val bh = (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8) | ((bytes(p + 2) & 0xFF) << 16)
      p += 3
      last = (bh & 1) != 0
      val btype = (bh >> 1) & 3
      val bsize = bh >>> 3
      btype match {
        case 0 =>
          if (p + bsize > bytes.length) bad("raw block overruns")
          if (hist.len.toLong + bsize > budget) bad("output budget exceeded")
          hist.write(bytes, p, bsize)
          p += bsize
        case 1 =>
          if (p >= bytes.length) bad("rle block overruns")
          if (hist.len.toLong + bsize > budget) bad("output budget exceeded")
          val fill = new Array[Byte](bsize)
          java.util.Arrays.fill(fill, bytes(p))
          hist.write(fill, 0, bsize)
          p += 1
        case 2 =>
          if (p + bsize > bytes.length) bad("compressed block overruns")
          decodeBlock(bytes, p, p + bsize, st, hist, budget)
          p += bsize
        case _ => bad("reserved block type")
      }
    }
    if (contentSize >= 0 && hist.len != contentSize) bad("content size mismatch")
    out.write(hist.a, 0, hist.len)
    if (checksum) {
      if (p + 4 > bytes.length) bad("truncated checksum")
      val want = u32(bytes, p)
      val got = Xxh64.hash(hist.a, hist.len, 0L) & 0xFFFFFFFFL
      if (want != got) bad("content checksum mismatch")
      p += 4
    }
    p
  }

  // --------------------------------------------------------------- block --

  private def decodeBlock(buf: Array[Byte], start: Int, end: Int, st: FrameState,
      hist: Hist, maxOut: Long): Unit = {
    var p = start
    // ---- literals section (§3.1.1.3.1) ----
    if (p >= end) bad("literals: empty block")
    val b0 = buf(p) & 0xFF
    val litType = b0 & 3
    val sizeFormat = (b0 >> 2) & 3
    var literals: Array[Byte] = null
    litType match {
      case 0 | 1 => // Raw | RLE
        val regen = sizeFormat match {
          case 0 | 2 => p += 1; b0 >> 3
          case 1 =>
            if (p + 2 > end) bad("literals: header overruns")
            val v = (b0 >> 4) | ((buf(p + 1) & 0xFF) << 4); p += 2; v
          case _ =>
            if (p + 3 > end) bad("literals: header overruns")
            val v = (b0 >> 4) | ((buf(p + 1) & 0xFF) << 4) | ((buf(p + 2) & 0xFF) << 12); p += 3; v
        }
        if (regen > maxOut) bad("literals exceed budget")
        literals = new Array[Byte](regen)
        if (litType == 0) {
          if (p + regen > end) bad("raw literals overrun")
          System.arraycopy(buf, p, literals, 0, regen)
          p += regen
        } else {
          if (p >= end) bad("rle literal overruns")
          java.util.Arrays.fill(literals, buf(p))
          p += 1
        }
      case _ => // Compressed | Treeless
        var regen = 0
        var csize = 0
        var fourStreams = true
        sizeFormat match {
          case 0 | 1 =>
            if (p + 3 > end) bad("literals: header overruns")
            fourStreams = sizeFormat == 1
            val v = b0 | ((buf(p + 1) & 0xFF) << 8) | ((buf(p + 2) & 0xFF) << 16)
            regen = (v >> 4) & 0x3FF
            csize = (v >> 14) & 0x3FF
            p += 3
          case 2 =>
            if (p + 4 > end) bad("literals: header overruns")
            val v = (b0.toLong) | ((buf(p + 1) & 0xFFL) << 8) | ((buf(p + 2) & 0xFFL) << 16) | ((buf(p + 3) & 0xFFL) << 24)
            regen = ((v >> 4) & 0x3FFF).toInt
            csize = ((v >> 18) & 0x3FFF).toInt
            p += 4
          case _ =>
            if (p + 5 > end) bad("literals: header overruns")
            val v = (b0.toLong) | ((buf(p + 1) & 0xFFL) << 8) | ((buf(p + 2) & 0xFFL) << 16) |
              ((buf(p + 3) & 0xFFL) << 24) | ((buf(p + 4) & 0xFFL) << 32)
            regen = ((v >> 4) & 0x3FFFF).toInt
            csize = ((v >> 22) & 0x3FFFF).toInt
            p += 5
        }
        if (p + csize > end) bad("compressed literals overrun")
        var q = p
        val qEnd = p + csize
        if (litType == 2) {
          val (tab, used) = readHuffman(buf, q, qEnd)
          st.huffman = tab
          q += used
        } else if (st.huffman == null) bad("treeless literals with no previous tree")
        if (regen > maxOut) bad("literals exceed budget")
        literals = new Array[Byte](regen)
        if (!fourStreams) {
          hufStream(st.huffman, buf, q, qEnd - q, literals, 0, regen)
        } else {
          if (q + 6 > qEnd) bad("literals: jump table overruns")
          val s1 = (buf(q) & 0xFF) | ((buf(q + 1) & 0xFF) << 8)
          val s2 = (buf(q + 2) & 0xFF) | ((buf(q + 3) & 0xFF) << 8)
          val s3 = (buf(q + 4) & 0xFF) | ((buf(q + 5) & 0xFF) << 8)
          q += 6
          val s4 = qEnd - q - s1 - s2 - s3
          if (s4 <= 0) bad("literals: stream sizes overrun")
          val part = (regen + 3) / 4
          val lastPart = regen - 3 * part
          if (lastPart < 0) bad("literals: regenerated size too small for 4 streams")
          hufStream(st.huffman, buf, q, s1, literals, 0, part)
          hufStream(st.huffman, buf, q + s1, s2, literals, part, part)
          hufStream(st.huffman, buf, q + s1 + s2, s3, literals, 2 * part, part)
          hufStream(st.huffman, buf, q + s1 + s2 + s3, s4, literals, 3 * part, lastPart)
        }
        p += csize
    }

    // ---- sequences section (§3.1.1.3.2) ----
    if (p >= end) bad("sequences: missing header")
    var nSeq = 0
    val s0 = buf(p) & 0xFF
    if (s0 < 128) { nSeq = s0; p += 1 }
    else if (s0 < 255) {
      if (p + 2 > end) bad("sequences: header overruns")
      nSeq = ((s0 - 128) << 8) + (buf(p + 1) & 0xFF); p += 2
    } else {
      if (p + 3 > end) bad("sequences: header overruns")
      nSeq = (buf(p + 1) & 0xFF) + ((buf(p + 2) & 0xFF) << 8) + 0x7F00; p += 3
    }
    if (nSeq == 0) {
      if (hist.len.toLong + literals.length > maxOut) bad("output budget exceeded")
      hist.write(literals, 0, literals.length)
      if (p != end) bad("sequences: trailing bytes after empty section")
      return
    }
    if (p >= end) bad("sequences: missing modes")
    val modes = buf(p) & 0xFF; p += 1
    if ((modes & 3) != 0) bad("sequences: reserved mode bits set")

    def loadTable(mode: Int, prev: FseTable, default: FseTable, maxSym: Int, maxAl: Int,
        label: String): FseTable = mode match {
      case 0 => default
      case 1 => // RLE: single symbol, a 0-bit table
        if (p >= end) bad(s"$label: rle symbol overruns")
        val sym = buf(p) & 0xFF; p += 1
        if (sym > maxSym) bad(s"$label: rle symbol out of range")
        val t = new FseTable(0, 1)
        t.symbol(0) = sym; t.nbBits(0) = 0; t.baseline(0) = 0
        t
      case 2 =>
        val (t, used) = readFseTable(buf, p, end, maxSym, maxAl)
        p += used
        t
      case _ =>
        if (prev == null) bad(s"$label: repeat mode with no previous table")
        prev
    }
    val llT = loadTable((modes >> 6) & 3, st.llTable, LLDefaultTable, 35, 9, "ll")
    val ofT = loadTable((modes >> 4) & 3, st.ofTable, OFDefaultTable, 31, 8, "of")
    val mlT = loadTable((modes >> 2) & 3, st.mlTable, MLDefaultTable, 52, 9, "ml")
    st.llTable = llT; st.ofTable = ofT; st.mlTable = mlT

    val bb = new BackBits(buf, p, end - p)
    var llState = bb.read(llT.accuracyLog).toInt
    var ofState = bb.read(ofT.accuracyLog).toInt
    var mlState = bb.read(mlT.accuracyLog).toInt

    val histLen = hist.len // frame history length so far (the match window)
    var litPos = 0
    var cur = new Array[Byte](math.max(literals.length * 2, 1024))
    var curLen = 0
    def ensure(n: Int): Unit = {
      if (curLen + n > cur.length) {
        var cap = cur.length * 2
        while (cap < curLen + n) cap *= 2
        cur = java.util.Arrays.copyOf(cur, cap)
      }
    }
    def emit(b: Byte): Unit = { ensure(1); cur(curLen) = b; curLen += 1 }

    var seq = 0
    while (seq < nSeq) {
      val ofCode = ofT.symbol(ofState)
      val mlCode = mlT.symbol(mlState)
      val llCode = llT.symbol(llState)
      if (ofCode > 31) bad("offset code out of range")
      if (mlCode > 52) bad("match length code out of range")
      if (llCode > 35) bad("literal length code out of range")
      val ofValue = (1L << ofCode) + bb.read(ofCode)
      val matchLen = MLBase(mlCode) + bb.read(MLBits(mlCode)).toInt
      val litLen = LLBase(llCode) + bb.read(LLBits(llCode)).toInt
      // resolve repeat offsets (§3.1.1.5)
      var offset = 0L
      if (ofValue > 3) {
        offset = ofValue - 3
        st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
      } else {
        val idx = ofValue.toInt - 1 + (if (litLen == 0) 1 else 0)
        idx match {
          case 0 => offset = st.rep1
          case 1 => offset = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
          case 2 => offset = st.rep3; st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
          case _ =>
            offset = st.rep1 - 1
            if (offset <= 0) bad("repeat offset underflow")
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
        }
      }
      if (litLen > literals.length - litPos) bad("literal run overruns literals")
      if (histLen.toLong + curLen + litLen + matchLen > maxOut) bad("output budget exceeded")
      ensure(litLen)
      System.arraycopy(literals, litPos, cur, curLen, litLen)
      curLen += litLen
      litPos += litLen
      // match copy, byte-by-byte (overlap is the normal case)
      val total = histLen.toLong + curLen
      var src = total - offset
      if (src < 0) bad("match offset beyond frame start")
      var k = 0
      while (k < matchLen) {
        val b = if (src < histLen) hist.a(src.toInt) else cur((src - histLen).toInt)
        emit(b)
        src += 1
        k += 1
      }
      seq += 1
      if (seq < nSeq) {
        llState = llT.baseline(llState) + bb.read(llT.nbBits(llState)).toInt
        mlState = mlT.baseline(mlState) + bb.read(mlT.nbBits(mlState)).toInt
        ofState = ofT.baseline(ofState) + bb.read(ofT.nbBits(ofState)).toInt
      }
    }
    // trailing literals
    val rest = literals.length - litPos
    if (histLen.toLong + curLen + rest > maxOut) bad("output budget exceeded")
    ensure(rest)
    System.arraycopy(literals, litPos, cur, curLen, rest)
    curLen += rest
    if (bb.remaining != 0) bad("sequences: bitstream not fully consumed")
    hist.write(cur, 0, curLen)
  }
}
