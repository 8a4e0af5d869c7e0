package extractous.core

/** Brotli (RFC 7932) decoder, from scratch — stream/meta-block framing,
  * simple and complex canonical prefix codes, block-type switching for all
  * three symbol categories, literal context modeling (LSB6/MSB6/UTF8/Signed),
  * RLE-coded context maps with inverse-MTF, the four-slot distance ring with
  * ±1..3 short codes, postfix/direct distance decomposition, uncompressed
  * and metadata meta-blocks, and the 122,784-byte static dictionary with all
  * 121 word transforms (omit-first/last 1-9, UTF-8-aware uppercase-first/all,
  * prefix/suffix affixes). Validated byte-for-byte against the reference
  * Google encoder at qualities 0–11 over shapes that exercise every path
  * (BrotliSpec reads the goldens from src/test/resources/golden/brotli).
  *
  * Why it exists: `Content-Encoding: br` is on the order of a quarter of
  * modern web responses, so WARC response records of any recent crawl are
  * full of it — until this decoder, those rows were ACCOUNTED
  * `response_error` losses ([[WarcExtractor.httpBody]]); now the text is
  * recovered. The reference engine gets brotli transparently through Tika's
  * compress support (format breadth claim, /root/reference/README.md:269-273).
  *
  * Spec data: the static dictionary and the §7.1 context lookup tables are
  * normative DATA published with RFC 7932 (the dictionary's sha256 is the
  * RFC-published 20e42eb1…53c70); they ship as classpath resources
  * `extractous/brotli-dict.bin` / `brotli-ctx.bin` (see
  * tools/gen_brotli_fixtures.py for provenance). The 121 transforms
  * (Appendix B) are embedded below as literal data.
  *
  * All structural failures throw IllegalArgumentException — callers surface
  * them as typed error rows, never silent garbage. One-shot byte-array API
  * (crawl entities are bounded by the HTTP layer's caps); `maxOut` bounds
  * decompression bombs.
  */
object Brotli {

  private def bad(msg: String): Nothing = throw new IllegalArgumentException(s"brotli: $msg")

  // -------------------------------------------------------------- spec data

  /** RFC 7932 Appendix A static dictionary (122,784 bytes). */
  private lazy val dict: Array[Byte] = resource("/extractous/brotli-dict.bin", 122784)

  /** RFC 7932 §7.1 context lookup tables: 4 modes × (256-byte lut0 for the
    * last byte + 256-byte lut1 for the second-last), combined with bitwise OR.
    */
  private lazy val ctxLut: Array[Byte] = resource("/extractous/brotli-ctx.bin", 2048)

  private def resource(path: String, expect: Int): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    if (in == null) bad(s"missing spec-data resource $path")
    try {
      val b = in.readAllBytes()
      if (b.length != expect) bad(s"spec-data resource $path has ${b.length} bytes, want $expect")
      b
    } finally in.close()
  }

  /** Word counts per length 4..24 are 2^NDBITS (RFC 7932 Appendix A). */
  private val NDBITS = Array(10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7, 8, 7, 7, 6, 6, 5, 5)
  private val DOFFSET: Array[Int] = {
    val o = new Array[Int](22)
    var off = 0
    var len = 4
    while (len <= 24) { o(len - 4) = off; off += len * (1 << NDBITS(len - 4)); len += 1 }
    require(off == 122784)
    o
  }

  // RFC 7932 Appendix B: the 121 transforms as (prefix, operation, suffix).
  // Ops: 0 = identity, 1..9 = omit last N, 10 = uppercase first (UTF-8-aware
  // ferment), 11 = uppercase all, 12..20 = omit first N-11.
  private val T_ID = 0; private val T_UPF = 10; private val T_UPA = 11
  private def ol(n: Int) = n           // omit last n (1..9)
  private def of(n: Int) = 11 + n      // omit first n (1..9)
  private val transforms: Array[(String, Int, String)] = Array(
    ("", T_ID, ""), ("", T_ID, " "), (" ", T_ID, " "), ("", of(1), ""),
    ("", T_UPF, " "), ("", T_ID, " the "), (" ", T_ID, ""), ("s ", T_ID, " "),
    ("", T_ID, " of "), ("", T_UPF, ""), ("", T_ID, " and "), ("", of(2), ""),
    ("", ol(1), ""), (", ", T_ID, " "), ("", T_ID, ", "), (" ", T_UPF, " "),
    ("", T_ID, " in "), ("", T_ID, " to "), ("e ", T_ID, " "), ("", T_ID, "\""),
    ("", T_ID, "."), ("", T_ID, "\">"), ("", T_ID, "\n"), ("", ol(3), ""),
    ("", T_ID, "]"), ("", T_ID, " for "), ("", of(3), ""), ("", ol(2), ""),
    ("", T_ID, " a "), ("", T_ID, " that "), (" ", T_UPF, ""), ("", T_ID, ". "),
    (".", T_ID, ""), (" ", T_ID, ", "), ("", of(4), ""), ("", T_ID, " with "),
    ("", T_ID, "'"), ("", T_ID, " from "), ("", T_ID, " by "), ("", of(5), ""),
    ("", of(6), ""), (" the ", T_ID, ""), ("", ol(4), ""), ("", T_ID, ". The "),
    ("", T_UPA, ""), ("", T_ID, " on "), ("", T_ID, " as "), ("", T_ID, " is "),
    ("", ol(7), ""), ("", ol(1), "ing "), ("", T_ID, "\n\t"), ("", T_ID, ":"),
    (" ", T_ID, ". "), ("", T_ID, "ed "), ("", of(9), ""), ("", of(7), ""),
    ("", ol(6), ""), ("", T_ID, "("), ("", T_UPF, ", "), ("", ol(8), ""),
    ("", T_ID, " at "), ("", T_ID, "ly "), (" the ", T_ID, " of "), ("", ol(5), ""),
    ("", ol(9), ""), (" ", T_UPF, ", "), ("", T_UPF, "\""), (".", T_ID, "("),
    ("", T_UPA, " "), ("", T_UPF, "\">"), ("", T_ID, "=\""), (" ", T_ID, "."),
    (".com/", T_ID, ""), (" the ", T_ID, " of the "), ("", T_UPF, "'"),
    ("", T_ID, ". This "), ("", T_ID, ","), (".", T_ID, " "), ("", T_UPF, "("),
    ("", T_UPF, "."), ("", T_ID, " not "), (" ", T_ID, "=\""), ("", T_ID, "er "),
    (" ", T_UPA, " "), ("", T_ID, "al "), (" ", T_UPA, ""), ("", T_ID, "='"),
    ("", T_UPA, "\""), ("", T_UPF, ". "), (" ", T_ID, "("), ("", T_ID, "ful "),
    (" ", T_UPF, ". "), ("", T_ID, "ive "), ("", T_ID, "less "), ("", T_UPA, "'"),
    ("", T_ID, "est "), (" ", T_UPF, "."), ("", T_UPA, "\">"), (" ", T_ID, "='"),
    ("", T_UPF, ","), ("", T_ID, "ize "), ("", T_UPA, "."), ("\u00C2\u00A0", T_ID, ""),
    (" ", T_ID, ","), ("", T_UPF, "=\""), ("", T_UPA, "=\""), ("", T_ID, "ous "),
    ("", T_UPA, ", "), ("", T_UPF, "='"), (" ", T_UPF, ","), (" ", T_UPA, "=\""),
    (" ", T_UPA, ", "), ("", T_UPA, ","), ("", T_UPA, "("), ("", T_UPA, ". "),
    (" ", T_UPA, "."), ("", T_UPA, "='"), (" ", T_UPA, ". "), (" ", T_UPF, "=\""),
    (" ", T_UPA, "='"), (" ", T_UPF, "='"))
  // affix bytes are raw latin-1 (the Â  prefix above IS the two
  // UTF-8 bytes of U+00A0, kept as-is)
  private val tPrefix: Array[Array[Byte]] =
    transforms.map(_._1.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
  private val tOp: Array[Int] = transforms.map(_._2)
  private val tSuffix: Array[Array[Byte]] =
    transforms.map(_._3.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  // insert-and-copy length code decomposition (RFC 7932 §5)
  private val InsLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CpyLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)
  private val InsBase = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50, 66, 98,
    130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
    6, 7, 8, 9, 10, 12, 14, 24)
  private val CpyBase = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30, 38, 54,
    70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CpyExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 24)
  // block count code (RFC 7932 §6)
  private val BlkBase = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81, 97, 113, 145,
    177, 209, 241, 305, 369, 497, 753, 1265, 2289, 4337, 8433, 16625)
  private val BlkExtra = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5,
    6, 6, 7, 8, 9, 10, 11, 12, 13, 24)
  // code-length-code symbol order and its fixed prefix code (RFC 7932 §3.5)
  private val ClcOrder = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)
  private val ClcLens = Array(2, 4, 3, 2, 2, 4) // code lengths of symbols 0..5

  // ------------------------------------------------------------------ bits

  private final class Bits(in: Array[Byte]) {
    private val limit = in.length.toLong * 8
    var pos = 0L
    def bit(): Int = {
      if (pos >= limit) bad("bitstream underflow")
      val b = (in((pos >> 3).toInt) >> (pos & 7).toInt) & 1
      pos += 1
      b
    }
    /** n ≤ 24 bits, LSB-first. */
    def read(n: Int): Int = {
      if (n == 0) return 0
      if (pos + n > limit) bad("bitstream underflow")
      val byteIdx = (pos >> 3).toInt
      val bitOff = (pos & 7).toInt
      var acc = 0L
      var shift = 0
      var i = 0
      while (shift < n + bitOff) {
        acc |= (in(byteIdx + i) & 0xFFL) << shift
        shift += 8
        i += 1
      }
      pos += n
      ((acc >>> bitOff) & ((1L << n) - 1)).toInt
    }
    /** Skip to the next byte boundary; padding bits must be zero (§9.1). */
    def align(): Unit =
      while ((pos & 7) != 0) if (bit() != 0) bad("nonzero padding bits")
    def byteIndex: Int = { require((pos & 7) == 0); (pos >> 3).toInt }
    def atEnd: Boolean = pos >= limit
    def bitsLeft: Long = limit - pos
    def skipBytes(n: Int): Unit = {
      if ((pos & 7) != 0) bad("unaligned byte skip")
      if (pos + n.toLong * 8 > limit) bad("metadata skip overruns")
      pos += n.toLong * 8
    }
  }

  // --------------------------------------------------------------- huffman

  /** Canonical prefix code; codes are packed starting with the MSB of the
    * canonical code into the LSB-first bit stream (the DEFLATE convention,
    * RFC 7932 §3.1).
    */
  private final class Tree {
    private val counts = new Array[Int](16)
    private var symbols: Array[Int] = null
    private var single = -1
    def buildSingle(sym: Int): Unit = single = sym
    def build(lens: Array[Int]): Unit = {
      var nz = 0
      var last = -1
      var i = 0
      while (i < lens.length) {
        val l = lens(i)
        if (l < 0 || l > 15) bad("huffman: bad code length")
        if (l > 0) { counts(l) += 1; nz += 1; last = i }
        i += 1
      }
      if (nz == 1) { single = last; return }
      if (nz == 0) bad("huffman: empty code")
      // Kraft check: lengths must describe a COMPLETE code
      var space = 1 << 15
      i = 1
      while (i <= 15) { space -= counts(i) << (15 - i); i += 1 }
      if (space != 0) bad("huffman: incomplete or oversubscribed code")
      val offs = new Array[Int](16)
      var acc = 0
      i = 1
      while (i <= 15) { offs(i) = acc; acc += counts(i); i += 1 }
      symbols = new Array[Int](acc)
      i = 0
      while (i < lens.length) {
        if (lens(i) > 0) { symbols(offs(lens(i))) = i; offs(lens(i)) += 1 }
        i += 1
      }
    }
    def decode(b: Bits): Int = {
      if (single >= 0) return single
      var code = 0
      var first = 0
      var idx = 0
      var len = 1
      while (len <= 15) {
        code = (code << 1) | b.bit()
        val cnt = counts(len)
        if (code - first < cnt) return symbols(idx + code - first)
        idx += cnt
        first = (first + cnt) << 1
        len += 1
      }
      bad("huffman: code overruns 15 bits")
    }
  }

  /** Read one prefix code over `alphabet` symbols (§3.4/§3.5). */
  private def readTree(b: Bits, alphabet: Int): Tree = {
    val t = new Tree
    val sel = b.read(2)
    if (sel == 1) {
      // simple code: 1..4 explicit symbols
      val abits = 32 - Integer.numberOfLeadingZeros(math.max(1, alphabet - 1))
      val nsym = b.read(2) + 1
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        val s = if (abits == 0) 0 else b.read(abits)
        if (s >= alphabet) bad("simple code: symbol out of alphabet")
        var j = 0
        while (j < i) { if (syms(j) == s) bad("simple code: duplicate symbol"); j += 1 }
        syms(i) = s
        i += 1
      }
      if (nsym == 1) { t.buildSingle(syms(0)); return t }
      val lens = new Array[Int](alphabet)
      nsym match {
        case 2 => lens(syms(0)) = 1; lens(syms(1)) = 1
        case 3 => lens(syms(0)) = 1; lens(syms(1)) = 2; lens(syms(2)) = 2
        case 4 =>
          if (b.bit() == 0) { var k = 0; while (k < 4) { lens(syms(k)) = 2; k += 1 } }
          else { lens(syms(0)) = 1; lens(syms(1)) = 2; lens(syms(2)) = 3; lens(syms(3)) = 3 }
      }
      t.build(lens)
      t
    } else {
      // complex code: code-length code first (18 symbols, fixed prefix code)
      val hskip = sel // 0, 2 or 3 leading entries of ClcOrder are skipped
      val clcLens = new Array[Int](18)
      var space = 32
      var numCodes = 0
      var i = hskip
      while (i < 18 && space > 0) {
        // fixed code over {0..5}: lengths 2,4,3,2,2,4 — decoded canonically
        val v = decodeClcSym(b)
        clcLens(ClcOrder(i)) = v
        if (v != 0) {
          space -= 32 >> v
          numCodes += 1
        }
        i += 1
      }
      if (space < 0) bad("code-length code oversubscribed")
      if (space != 0 && numCodes != 1) bad("code-length code incomplete")
      val clc = new Tree
      clc.build(clcLens)
      // now the symbol code lengths, with 16/17 repeat coding
      val lens = new Array[Int](alphabet)
      var symSpace = 1 << 15
      var prevLen = 8
      var repeat = 0
      var repeatLen = 0
      var n = 0
      while (n < alphabet && symSpace > 0) {
        val v = clc.decode(b)
        if (v < 16) {
          lens(n) = v
          n += 1
          repeat = 0
          if (v != 0) { prevLen = v; symSpace -= (1 << 15) >> v }
        } else {
          val extraBits = if (v == 16) 2 else 3
          val newLen = if (v == 16) prevLen else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val old = repeat
          if (repeat > 0) { repeat -= 2; repeat <<= extraBits }
          repeat += b.read(extraBits) + 3
          val delta = repeat - old
          if (n + delta > alphabet) bad("code lengths: repeat overruns alphabet")
          var k = 0
          while (k < delta) { lens(n) = repeatLen; n += 1; k += 1 }
          if (repeatLen != 0) symSpace -= delta << (15 - repeatLen)
        }
      }
      if (symSpace < 0) bad("symbol code oversubscribed")
      if (symSpace != 0) bad("symbol code incomplete")
      t.build(lens)
      t
    }
  }

  /** The fixed prefix code for code-length-code lengths: symbols 0..5 with
    * canonical lengths {2,4,3,2,2,4} (§3.5).
    */
  private def decodeClcSym(b: Bits): Int = {
    // canonical codes: len2: 0→00 3→01 4→10; len3: 2→110; len4: 1→1110 5→1111
    var code = (b.bit() << 1) | b.bit()
    if (code < 3) return Array(0, 3, 4)(code)
    code = b.bit()
    if (code == 0) return 2
    if (b.bit() == 0) 1 else 5
  }

  /** Variable-length count code for NBLTYPES / NTREES (§6): 1..256. */
  private def readCount(b: Bits): Int =
    if (b.bit() == 0) 1
    else {
      val n = b.read(3)
      if (n == 0) 2 else (1 << n) + 1 + b.read(n)
    }

  /** Context map (§7.3): RLE of zeros + inverse move-to-front. */
  private def readContextMap(b: Bits, size: Int, ntrees: Int): Array[Byte] = {
    val map = new Array[Byte](size)
    if (ntrees == 1) return map
    val rleMax = if (b.bit() == 1) b.read(4) + 1 else 0
    val tree = readTree(b, ntrees + rleMax)
    var i = 0
    while (i < size) {
      val v = tree.decode(b)
      if (v == 0) { map(i) = 0; i += 1 }
      else if (v <= rleMax) {
        val reps = (1 << v) + b.read(v)
        if (i + reps > size) bad("context map: zero run overruns")
        i += reps // zeros already there
      } else {
        map(i) = (v - rleMax).toByte
        i += 1
      }
    }
    if (b.bit() == 1) {
      // inverse move-to-front over the map values
      val mtf = new Array[Byte](256)
      var k = 0
      while (k < 256) { mtf(k) = k.toByte; k += 1 }
      i = 0
      while (i < size) {
        val idx = map(i) & 0xFF
        val v = mtf(idx)
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        map(i) = v
        i += 1
      }
    }
    var k = 0
    while (k < size) { if ((map(k) & 0xFF) >= ntrees) bad("context map: tree out of range"); k += 1 }
    map
  }

  // --------------------------------------------------------------- decode

  /** Per-category block-switching state (§6). */
  private final class BlockState(b: Bits, val ntypes: Int) {
    var btype = 0
    private var prev = 1
    var blen: Long = 1L << 60
    private var typeTree: Tree = null
    private var lenTree: Tree = null
    if (ntypes >= 2) {
      typeTree = readTree(b, ntypes + 2)
      lenTree = readTree(b, 26)
      blen = readBlockLen(b, lenTree)
    }
    private def readBlockLen(b: Bits, t: Tree): Long = {
      val s = t.decode(b)
      if (s >= 26) bad("block length symbol out of range")
      BlkBase(s).toLong + b.read(BlkExtra(s))
    }
    /** Call before consuming one symbol of this category. */
    def tick(b: Bits): Unit = {
      if (blen == 0) {
        if (ntypes < 2) bad("block length exhausted with a single block type")
        val s = typeTree.decode(b)
        val nt = s match {
          case 0 => prev
          case 1 => (btype + 1) % ntypes
          case _ => s - 2
        }
        prev = btype
        btype = nt
        blen = readBlockLen(b, lenTree)
      }
      blen -= 1
    }
  }

  /** Decode a complete brotli stream. */
  def decode(in: Array[Byte], maxOut: Int = Extract.MaxLayerBytes): Array[Byte] = {
    val b = new Bits(in)
    // WBITS (§9.1)
    val wbits =
      if (b.bit() == 0) 16
      else {
        val n = b.read(3)
        if (n != 0) 17 + n
        else {
          val m = b.read(3)
          if (m == 0) 17
          else if (m == 1) bad("reserved WBITS pattern")
          else 8 + m
        }
      }
    val windowSize = (1L << wbits) - 16
    val out = new LayerBuffer("brotli", maxOut, in.length)
    // last four distances, most recent first; §4's initial values with the
    // LAST distance being 4 (then 11, 15, 16)
    val ring = new Array[Int](4)
    ring(0) = 4; ring(1) = 11; ring(2) = 15; ring(3) = 16

    var last = false
    while (!last) {
      last = b.bit() == 1
      if (last && b.bit() == 1) {
        // ISLASTEMPTY
      } else {
        val nibbles = b.read(2) match {
          case 3 => 0
          case k => k + 4
        }
        if (nibbles == 0) {
          // metadata meta-block (§9.2): skipped, structure verified
          if (last) bad("metadata meta-block cannot be last")
          if (b.bit() != 0) bad("metadata reserved bit set")
          val skipBytes = b.read(2)
          val skipLen =
            if (skipBytes == 0) 0
            else {
              val v = b.read(skipBytes * 8)
              if (skipBytes > 1 && (v >>> ((skipBytes - 1) * 8)) == 0)
                bad("metadata length not minimally encoded")
              v + 1
            }
          b.align()
          b.skipBytes(skipLen)
        } else {
          var mlen = b.read(nibbles * 4) + 1
          if (nibbles > 4 && (mlen - 1) >>> ((nibbles - 1) * 4) == 0)
            bad("MLEN not minimally encoded")
          val uncompressed = !last && b.bit() == 1
          if (uncompressed) {
            b.align()
            val start = b.byteIndex
            b.skipBytes(mlen)
            out.append(in, start, mlen)
          } else {
            decodeCompressedBlock(b, out, ring, mlen, windowSize)
          }
        }
      }
    }
    b.align()
    if (!b.atEnd) bad("trailing bytes after the last meta-block")
    out.result()
  }

  private def decodeCompressedBlock(b: Bits, out: LayerBuffer, ring: Array[Int],
      mlenIn: Int, windowSize: Long): Unit = {
    var mlen = mlenIn
    // block types / counts for the three categories (§9.2)
    val lit = new BlockState(b, readCount(b))
    val cmd = new BlockState(b, readCount(b))
    val dst = new BlockState(b, readCount(b))
    val npostfix = b.read(2)
    val ndirect = b.read(4) << npostfix
    val postfixMask = (1 << npostfix) - 1
    // context modes: 2 bits per literal block type
    val cmodes = new Array[Int](lit.ntypes)
    var i = 0
    while (i < lit.ntypes) { cmodes(i) = b.read(2); i += 1 }
    // context maps
    val ntreesL = readCount(b)
    val cmapL = readContextMap(b, 64 * lit.ntypes, ntreesL)
    val ntreesD = readCount(b)
    val cmapD = readContextMap(b, 4 * dst.ntypes, ntreesD)
    // prefix code arrays
    val litTrees = Array.fill(ntreesL)(readTree(b, 256))
    val cmdTrees = Array.fill(cmd.ntypes)(readTree(b, 704))
    val distAlphabet = 16 + ndirect + (48 << npostfix)
    val dstTrees = Array.fill(ntreesD)(readTree(b, distAlphabet))

    while (mlen > 0) {
      cmd.tick(b)
      val sym = cmdTrees(cmd.btype).decode(b)
      var rangeIdx = sym >> 6
      val implicitDist = rangeIdx < 2
      if (!implicitDist) rangeIdx -= 2
      val insCode = InsLut(rangeIdx) + ((sym >> 3) & 7)
      val cpyCode = CpyLut(rangeIdx) + (sym & 7)
      var insLen = InsBase(insCode) + b.read(InsExtra(insCode))
      val cpyLen = CpyBase(cpyCode) + b.read(CpyExtra(cpyCode))
      // literals
      if (insLen > mlen) bad("insert length exceeds meta-block")
      mlen -= insLen
      while (insLen > 0) {
        lit.tick(b)
        val mode = cmodes(lit.btype)
        // context from the last two output bytes (0 before the stream start)
        val n = out.size
        val p1 = if (n > 0) out(n - 1) else 0
        val p2 = if (n > 1) out(n - 2) else 0
        val ctx = (ctxLut(mode * 512 + p1) | ctxLut(mode * 512 + 256 + p2)) & 0xFF
        val tree = litTrees(cmapL(lit.btype * 64 + ctx) & 0xFF)
        out.append(tree.decode(b))
        insLen -= 1
      }
      if (mlen == 0) return // copy part of the last command is absent
      // distance
      var distance = 0
      var pushToRing = false
      if (implicitDist) {
        distance = ring(0)
      } else {
        dst.tick(b)
        val dctx = math.min(cpyLen, 5) - 2
        val dtree = dstTrees(cmapD(dst.btype * 4 + dctx) & 0xFF)
        val dcode = dtree.decode(b)
        if (dcode < 16) {
          if (dcode < 4) distance = ring(dcode)
          else {
            val base = ring(if (dcode < 10) 0 else 1)
            val d = if (dcode < 10) dcode - 4 else dcode - 10
            // deltas in symbol order: -1, +1, -2, +2, -3, +3
            val delta = (d / 2 + 1) * (if ((d & 1) == 0) -1 else 1)
            distance = base + delta
            if (distance <= 0) bad("short-code distance is non-positive")
          }
          pushToRing = dcode != 0
        } else if (dcode < 16 + ndirect) {
          distance = dcode - 16 + 1
          pushToRing = true
        } else {
          val d = dcode - ndirect - 16
          val ndistbits = 1 + (d >> (npostfix + 1))
          if (ndistbits > 24) bad("distance extra bits out of range")
          val hcode = d >> npostfix
          val lcode = d & postfixMask
          val offset = ((2 + (hcode & 1)) << ndistbits) - 4
          val dextra = b.read(ndistbits)
          val dl = ((offset.toLong + dextra) << npostfix) + lcode + ndirect + 1
          if (dl > Int.MaxValue) bad("distance overflows")
          distance = dl.toInt
          pushToRing = true
        }
      }
      val maxDistance = math.min(out.size.toLong, windowSize)
      if (distance <= maxDistance) {
        if (cpyLen > mlen) bad("copy length exceeds meta-block")
        out.copy(distance, cpyLen, floor = 0)
        mlen -= cpyLen
        // pushed for every decoded symbol except 0 ("last distance"); never
        // for implicit distances or dictionary references
        if (pushToRing) {
          ring(3) = ring(2); ring(2) = ring(1); ring(1) = ring(0); ring(0) = distance
        }
      } else {
        // static dictionary reference (§8) — never pushed to the ring
        if (cpyLen < 4 || cpyLen > 24) bad(s"dictionary copy length $cpyLen out of 4..24")
        val wordId = distance - maxDistance.toInt - 1
        val ndbits = NDBITS(cpyLen - 4)
        val index = wordId & ((1 << ndbits) - 1)
        val tId = wordId >>> ndbits
        if (tId >= 121) bad(s"dictionary transform $tId out of range")
        val emitted = emitTransformedWord(out, DOFFSET(cpyLen - 4) + index * cpyLen, cpyLen, tId)
        if (emitted > mlen) bad("dictionary word exceeds meta-block")
        mlen -= emitted
      }
    }
  }

  /** Copy dictionary word `len`@`off` through transform `tId`; returns the
    * emitted byte count (§8: prefix + transformed word + suffix).
    */
  private def emitTransformedWord(out: LayerBuffer, off: Int, len: Int, tId: Int): Int = {
    val pre = tPrefix(tId)
    val suf = tSuffix(tId)
    val op = tOp(tId)
    out.append(pre, 0, pre.length)
    var start = off
    var n = len
    if (op >= 12) { val omit = math.min(op - 11, n); start += omit; n -= omit }
    else if (op >= 1 && op <= 9) n -= math.min(op, n)
    val wordStart = out.size
    out.append(dict, start, n)
    if (op == T_UPF || op == T_UPA) ferment(out, wordStart, op == T_UPA)
    out.append(suf, 0, suf.length)
    pre.length + n + suf.length
  }

  /** RFC 7932 §8 "ferment" uppercasing over the word emitted at [from, pos):
    * ASCII a-z flip bit 5; 2-byte UTF-8 sequences flip bit 5 of byte 2;
    * 3-byte sequences XOR byte 3 with 5. First char only, or the whole word.
    */
  private def ferment(out: LayerBuffer, from: Int, all: Boolean): Unit = {
    var i = from
    var done = false
    while (i < out.size && !done) {
      val c = out(i)
      if (c < 0xC0) {
        if (c >= 'a' && c <= 'z') out(i) = c ^ 32
        i += 1
      } else if (c < 0xE0) {
        if (i + 1 < out.size) out(i + 1) = out(i + 1) ^ 32
        i += 2
      } else {
        if (i + 2 < out.size) out(i + 2) = out(i + 2) ^ 5
        i += 3
      }
      if (!all) done = true
    }
  }
}
