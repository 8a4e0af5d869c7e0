package extractous.core

/** From-scratch LZMA1 + LZMA2 decoder, implemented from the published LZMA
  * specification (Igor Pavlov's public-domain `lzma-specification.txt` /
  * `LzmaDec.c` reference semantics). This is what lets the 7z walker
  * ([[SevenZip]]) descend COMPRESSED folders and compressed (kEncodedHeader)
  * metadata — real-world `7z a` output — instead of refusing everything but
  * store mode. The reference reaches the same formats through Tika's
  * Commons-Compress (/root/reference/README.md:271-273).
  *
  * Everything here is bounded: output size is declared by the container and
  * capped by the caller (decompression-bomb gate, same policy as
  * `PdfExtractor.inflate`), and exhausted/corrupt input throws
  * IllegalArgumentException (→ status −4 upstream), never hangs or OOMs.
  *
  * The range-coder state is `Long`-masked 32-bit arithmetic (hot enough for
  * archive members, not worth unsigned-int tricks); probability models are
  * 11-bit adaptive counters exactly as specified.
  */
object Lzma {

  private[core] final val TopValue = 1L << 24
  private[core] final val ProbInit: Short = 1024 // 2048 / 2

  /** Decode one raw LZMA1 stream.
    *
    * @param props   the 5-byte coder properties (lc/lp/pb byte + LE dict size)
    * @param data    packed bytes (range-coder init included)
    * @param outSize declared unpacked size
    * @param cap     decompression-bomb cap on outSize
    */
  def decode(props: Array[Byte], data: Array[Byte], outSize: Long, cap: Int = Extract.MaxLayerBytes): Array[Byte] = {
    if (props.length < 5) throw new IllegalArgumentException("lzma: short properties")
    if (outSize < 0 || outSize > cap)
      throw new IllegalArgumentException(s"lzma: declared output $outSize exceeds $cap-byte cap")
    val out = new Array[Byte](outSize.toInt)
    val dec = new LzmaDecoder(out)
    dec.setProps(props(0) & 0xff)
    dec.resetState()
    dec.decodeChunk(data, 0, data.length, outSize.toInt)
    out
  }

  /** Decode an LZMA2 stream (the chunked LZMA wrapper 7-Zip defaults to):
    * control byte per chunk — 0x00 end, 0x01/0x02 uncompressed chunk
    * (with/without dict reset), ≥0x80 compressed chunk carrying reset bits
    * and 21-bit unpack / 16-bit pack sizes.
    */
  def decodeLzma2(data: Array[Byte], outSize: Long, cap: Int = Extract.MaxLayerBytes): Array[Byte] = {
    if (outSize < 0 || outSize > cap)
      throw new IllegalArgumentException(s"lzma2: declared output $outSize exceeds $cap-byte cap")
    val out = new Array[Byte](outSize.toInt)
    val dec = new LzmaDecoder(out)
    var pos = 0
    var havePropsEver = false
    def byteAt(i: Int): Int = {
      if (i >= data.length) throw new IllegalArgumentException("lzma2: truncated chunk header")
      data(i) & 0xff
    }
    var done = false
    while (!done) {
      val control = byteAt(pos); pos += 1
      if (control == 0x00) done = true
      else if (control <= 0x02) {
        // uncompressed chunk: 2-byte BE (size-1), raw copy
        val size = ((byteAt(pos) << 8) | byteAt(pos + 1)) + 1
        pos += 2
        if (pos + size > data.length) throw new IllegalArgumentException("lzma2: truncated uncompressed chunk")
        if (dec.outPos + size > out.length) throw new IllegalArgumentException("lzma2: chunk overruns output")
        System.arraycopy(data, pos, out, dec.outPos, size)
        dec.outPos += size
        pos += size
        dec.resetState() // spec: uncompressed chunks reset the LZMA state
      } else if (control >= 0x80) {
        val unpackSize = (((control & 0x1f) << 16) | (byteAt(pos) << 8) | byteAt(pos + 1)) + 1
        val packSize = ((byteAt(pos + 2) << 8) | byteAt(pos + 3)) + 1
        pos += 4
        val reset = (control >> 5) & 0x03
        if (reset >= 2) {
          dec.setProps(byteAt(pos)); pos += 1
          havePropsEver = true
        }
        if (!havePropsEver) throw new IllegalArgumentException("lzma2: compressed chunk before any props")
        if (reset >= 1) dec.resetState()
        if (pos + packSize > data.length) throw new IllegalArgumentException("lzma2: truncated compressed chunk")
        if (dec.outPos + unpackSize > out.length) throw new IllegalArgumentException("lzma2: chunk overruns output")
        dec.decodeChunk(data, pos, packSize, dec.outPos + unpackSize)
        pos += packSize
      } else throw new IllegalArgumentException(f"lzma2: bad control byte 0x$control%02x")
    }
    if (dec.outPos != out.length)
      throw new IllegalArgumentException(s"lzma2: decoded ${dec.outPos} of ${out.length} declared bytes")
    out
  }
}

/** LZMA1 decoder state over a shared output buffer (the buffer doubles as
  * the dictionary — 7z folders are decoded whole). LZMA2 reuses one
  * instance across chunks so the dictionary and probability state persist
  * per the chunk-control reset bits.
  */
private[core] final class LzmaDecoder(out: Array[Byte]) {
  import Lzma.{TopValue, ProbInit}

  var outPos = 0

  private var lc = 3
  private var lp = 0
  private var pb = 2

  // probability models (11-bit adaptive)
  private var litProbs: Array[Short] = _
  private val isMatch = new Array[Short](12 << 4)
  private val isRep = new Array[Short](12)
  private val isRepG0 = new Array[Short](12)
  private val isRepG1 = new Array[Short](12)
  private val isRepG2 = new Array[Short](12)
  private val isRep0Long = new Array[Short](12 << 4)
  private val posSlot = Array.ofDim[Short](4, 64)
  private val specPos = new Array[Short](115)
  private val align = new Array[Short](16)
  // len coders: [choice, choice2, low(16*8), mid(16*8), high(256)]
  private val lenLow = Array.ofDim[Short](16, 8)
  private val lenMid = Array.ofDim[Short](16, 8)
  private val lenHigh = new Array[Short](256)
  private val lenChoice = new Array[Short](2) // [choice, choice2]
  private val repLenLow = Array.ofDim[Short](16, 8)
  private val repLenMid = Array.ofDim[Short](16, 8)
  private val repLenHigh = new Array[Short](256)
  private val repLenChoice = new Array[Short](2)

  private var state = 0
  private var rep0 = 0
  private var rep1 = 0
  private var rep2 = 0
  private var rep3 = 0

  def setProps(b: Int): Unit = {
    if (b >= 9 * 5 * 5) throw new IllegalArgumentException(f"lzma: bad properties byte 0x$b%02x")
    lc = b % 9
    val rest = b / 9
    lp = rest % 5
    pb = rest / 5
    litProbs = new Array[Short](0x300 << (lc + lp))
  }

  def resetState(): Unit = {
    state = 0; rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
    // legal before any props (LZMA2 uncompressed chunks reset state; the
    // literal model is allocated by the first compressed chunk's props)
    if (litProbs != null) java.util.Arrays.fill(litProbs, ProbInit)
    def fill(a: Array[Short]): Unit = java.util.Arrays.fill(a, ProbInit)
    fill(isMatch); fill(isRep); fill(isRepG0); fill(isRepG1); fill(isRepG2); fill(isRep0Long)
    posSlot.foreach(fill); fill(specPos); fill(align)
    lenLow.foreach(fill); lenMid.foreach(fill); fill(lenHigh)
    repLenLow.foreach(fill); repLenMid.foreach(fill); fill(repLenHigh)
    fill(lenChoice); fill(repLenChoice)
  }

  // ---- range decoder (per-chunk lifetime) ----
  private var rRange = 0L
  private var rCode = 0L
  private var rData: Array[Byte] = _
  private var rPos = 0
  private var rEnd = 0

  private def nextByte(): Int = {
    if (rPos >= rEnd) throw new IllegalArgumentException("lzma: packed stream exhausted mid-decode")
    val b = rData(rPos) & 0xff; rPos += 1; b
  }

  private def rcInit(): Unit = {
    nextByte() // spec: first packed byte is 0 and is skipped
    rRange = 0xffffffffL
    rCode = 0L
    var i = 0
    while (i < 4) { rCode = (rCode << 8) | nextByte(); i += 1 }
  }

  private def normalize(): Unit =
    if (rRange < TopValue) {
      rRange <<= 8
      rCode = ((rCode << 8) | nextByte()) & 0xffffffffL
    }

  private def decodeBit(probs: Array[Short], i: Int): Int = {
    val p = probs(i) & 0xffff
    val bound = (rRange >>> 11) * p
    if (rCode < bound) {
      rRange = bound
      probs(i) = (p + ((2048 - p) >> 5)).toShort
      normalize()
      0
    } else {
      rRange -= bound
      rCode -= bound
      probs(i) = (p - (p >> 5)).toShort
      normalize()
      1
    }
  }

  private def decodeDirectBits(count: Int): Int = {
    var res = 0
    var i = count
    while (i > 0) {
      rRange >>>= 1
      res <<= 1
      if (rCode >= rRange) { rCode -= rRange; res |= 1 }
      normalize()
      i -= 1
    }
    res
  }

  private def bitTree(probs: Array[Short], numBits: Int): Int = {
    var m = 1
    var i = 0
    while (i < numBits) { m = (m << 1) | decodeBit(probs, m); i += 1 }
    m - (1 << numBits)
  }

  /** Reverse bit-tree over probs[base + m], m starting at 1 (LzmaDec.c's
    * `prob + SpecPos + dist - posSlot - 1` indexing convention).
    */
  private def reverseBitTree(probs: Array[Short], base: Int, numBits: Int): Int = {
    var m = 1
    var sym = 0
    var i = 0
    while (i < numBits) {
      val bit = decodeBit(probs, base + m)
      m = (m << 1) | bit
      sym |= bit << i
      i += 1
    }
    sym
  }

  /** 0-based match length (add 2 for bytes). */
  private def decodeLen(rep: Boolean, posState: Int): Int = {
    val (low, mid, high, choice) =
      if (rep) (repLenLow, repLenMid, repLenHigh, repLenChoice)
      else (lenLow, lenMid, lenHigh, lenChoice)
    if (decodeBit(choice, 0) == 0) bitTree(low(posState), 3)
    else if (decodeBit(choice, 1) == 0) 8 + bitTree(mid(posState), 3)
    else 16 + bitTree(high, 8)
  }

  /** Decode from `data[off, off+len)` until `outPos == limit`. Throws on any
    * structural damage; an end-marker before `limit` is also damage (7z
    * folder sizes are declared, so a short stream is a lie).
    */
  def decodeChunk(data: Array[Byte], off: Int, len: Int, limit: Int): Unit = {
    if (litProbs == null) throw new IllegalArgumentException("lzma: decode before props")
    rData = data; rPos = off; rEnd = off + len
    rcInit()
    val pbMask = (1 << pb) - 1
    val lpMask = (1 << lp) - 1
    while (outPos < limit) {
      val posState = outPos & pbMask
      if (decodeBit(isMatch, (state << 4) + posState) == 0) {
        // literal
        val prevByte = if (outPos == 0) 0 else out(outPos - 1) & 0xff
        val litState = ((outPos & lpMask) << lc) + (prevByte >>> (8 - lc))
        val base = 0x300 * litState
        var symbol = 1
        if (state < 7) {
          while (symbol < 0x100) symbol = (symbol << 1) | decodeBit(litProbs, base + symbol)
        } else {
          if (rep0.toLong + 1 > outPos) throw new IllegalArgumentException("lzma: matched literal before any data")
          var matchByte = out(outPos - rep0 - 1) & 0xff
          var break = false
          while (!break && symbol < 0x100) {
            val matchBit = (matchByte >> 7) & 1
            matchByte = (matchByte << 1) & 0xff
            val bit = decodeBit(litProbs, base + ((1 + matchBit) << 8) + symbol)
            symbol = (symbol << 1) | bit
            if (matchBit != bit) {
              while (symbol < 0x100) symbol = (symbol << 1) | decodeBit(litProbs, base + symbol)
              break = true
            }
          }
        }
        out(outPos) = (symbol & 0xff).toByte
        outPos += 1
        state = if (state < 4) 0 else if (state < 10) state - 3 else state - 6
      } else {
        var len0: Int = 0
        if (decodeBit(isRep, state) != 0) {
          // repeated-distance match
          if (outPos == 0) throw new IllegalArgumentException("lzma: rep match at stream start")
          if (decodeBit(isRepG0, state) == 0) {
            if (decodeBit(isRep0Long, (state << 4) + posState) == 0) {
              // short rep: one byte at rep0
              state = if (state < 7) 9 else 11
              if (rep0.toLong + 1 > outPos) throw new IllegalArgumentException("lzma: short-rep distance overruns")
              out(outPos) = out(outPos - rep0 - 1)
              outPos += 1
              // continue main loop
              len0 = -1
            }
          } else {
            var dist = 0
            if (decodeBit(isRepG1, state) == 0) dist = rep1
            else {
              if (decodeBit(isRepG2, state) == 0) dist = rep2
              else { dist = rep3; rep3 = rep2 }
              rep2 = rep1
            }
            rep1 = rep0
            rep0 = dist
          }
          if (len0 != -1) {
            len0 = decodeLen(rep = true, posState)
            state = if (state < 7) 8 else 11
          }
        } else {
          // new match
          rep3 = rep2; rep2 = rep1; rep1 = rep0
          len0 = decodeLen(rep = false, posState)
          state = if (state < 7) 7 else 10
          val lenToPosState = math.min(len0, 3)
          val slot = bitTree(posSlot(lenToPosState), 6)
          if (slot < 4) rep0 = slot
          else {
            val numDirect = (slot >> 1) - 1
            var dist = (2 | (slot & 1)) << numDirect
            if (slot < 14) dist += reverseBitTree(specPos, dist - slot - 1, numDirect)
            else {
              dist += decodeDirectBits(numDirect - 4) << 4
              dist += reverseBitTree(align, 0, 4)
            }
            if (dist == -1) {
              // end marker: only legal exactly at the declared size
              if (outPos == limit) return
              throw new IllegalArgumentException(s"lzma: end marker at $outPos of $limit declared bytes")
            }
            rep0 = dist
          }
        }
        if (len0 >= 0) {
          val matchLen = len0 + 2
          if (rep0 < 0 || rep0.toLong + 1 > outPos)
            throw new IllegalArgumentException("lzma: match distance overruns dictionary")
          if (outPos + matchLen > limit)
            throw new IllegalArgumentException("lzma: match overruns declared output size")
          var i = 0
          val src = outPos - rep0 - 1
          while (i < matchLen) { out(outPos + i) = out(src + i); i += 1 }
          outPos += matchLen
        }
      }
    }
  }
}
