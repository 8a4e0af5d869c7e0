package extractous.ocr

import extractous.config.OcrConfig

/** OCR subsystem. The reference shells out to a Tesseract process with a
  * timeout (/root/reference/config.go:429-446, ffi/src/config.rs:234-243). This
  * sandbox has no tesseract binary, so the engine ships:
  *   - [[GlyphTemplateOcr]]: a deterministic from-scratch recognizer over the
  *     fixed 8x12 glyph alphabet the corpus generator renders with (template
  *     nearest-match by Hamming distance — noise-tolerant);
  *   - [[TesseractCli]]: the production path, used automatically when a
  *     `tesseract` binary is present, with the reference's timeout semantics
  *     (breach ⇒ OCR-failed status, never a hung executor task).
  */
trait Ocr extends Serializable {
  /** Recognize text in an encoded image (BMP or PNG). Throws on failure. */
  def recognize(image: Array[Byte], cfg: OcrConfig): String
}

/** Grayscale bitmap: `0` = white, `1` = ink. */
final case class Gray(width: Int, height: Int, pixels: Array[Byte]) {
  def apply(x: Int, y: Int): Int = pixels(y * width + x)
}

/** Minimal 24-bit uncompressed BMP codec (bottom-up rows, BGR, row padding). */
object Bmp {
  def encode(g: Gray): Array[Byte] = {
    val rowBytes = (g.width * 3 + 3) / 4 * 4
    val dataSize = rowBytes * g.height
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(54)
    b.putInt(40).putInt(g.width).putInt(g.height).putShort(1).putShort(24)
    b.putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = g.height - 1
    while (y >= 0) {
      var x = 0
      while (x < g.width) {
        val v: Byte = if (g(x, y) != 0) 0 else 0xff.toByte
        b.put(v).put(v).put(v)
        x += 1
      }
      var p = g.width * 3
      while (p < rowBytes) { b.put(0: Byte); p += 1 }
      y -= 1
    }
    b.array()
  }

  def decode(bytes: Array[Byte]): Gray = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length > 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
    val dataOffset = b.getInt(10)
    val width = b.getInt(18)
    val height = b.getInt(22)
    val bpp = b.getShort(28).toInt
    require(bpp == 24, s"unsupported BMP bpp=$bpp")
    // long math: 65536×65536 overflows Int to 0 and would bypass the guard
    require(width > 0 && height > 0 && width.toLong * height <= 64L * 1024 * 1024, "BMP dims out of range")
    val rowBytes = (width * 3 + 3) / 4 * 4
    require(bytes.length >= dataOffset.toLong + rowBytes.toLong * height, "truncated BMP")
    val px = new Array[Byte](width * height)
    var y = 0
    while (y < height) {
      val row = dataOffset + (height - 1 - y) * rowBytes
      var x = 0
      while (x < width) {
        val lum = (bytes(row + x * 3) & 0xff) // blue channel suffices for grayscale
        px(y * width + x) = if (lum < 128) 1 else 0
        x += 1
      }
      y += 1
    }
    Gray(width, height, px)
  }
}

/** Minimal PNG codec: 8-bit grayscale, filter type 0 per scanline, one IDAT. */
object Png {
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n
      var k = 0
      while (k < 8) { c = if ((c & 1) != 0) 0xedb88320 ^ (c >>> 1) else c >>> 1; k += 1 }
      t(n) = c; n += 1
    }
    t
  }
  private def crc32(data: Array[Byte], off: Int, len: Int): Int = {
    var c = 0xffffffff
    var i = off
    while (i < off + len) { c = crcTable((c ^ data(i)) & 0xff) ^ (c >>> 8); i += 1 }
    c ^ 0xffffffff
  }

  def encode(g: Gray): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n'))
    def chunk(typ: String, payload: Array[Byte]): Unit = {
      val len = payload.length
      val buf = new Array[Byte](8 + len)
      buf(0) = ((len >>> 24) & 0xff).toByte; buf(1) = ((len >>> 16) & 0xff).toByte
      buf(2) = ((len >>> 8) & 0xff).toByte; buf(3) = (len & 0xff).toByte
      typ.getBytes("US-ASCII").copyToArray(buf, 4)
      payload.copyToArray(buf, 8)
      out.write(buf)
      val crc = crc32(buf, 4, 4 + len)
      out.write(Array[Byte](((crc >>> 24) & 0xff).toByte, ((crc >>> 16) & 0xff).toByte, ((crc >>> 8) & 0xff).toByte, (crc & 0xff).toByte))
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(g.width).putInt(g.height).put(8: Byte).put(0: Byte).put(0: Byte).put(0: Byte).put(0: Byte)
    chunk("IHDR", ihdr.array())
    val raw = new Array[Byte]((g.width + 1) * g.height)
    var y = 0
    while (y < g.height) {
      raw(y * (g.width + 1)) = 0
      var x = 0
      while (x < g.width) {
        raw(y * (g.width + 1) + 1 + x) = if (g(x, y) != 0) 0 else 0xff.toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    deflater.setInput(raw); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) { val n = deflater.deflate(tmp); comp.write(tmp, 0, n) }
    deflater.end()
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  def decode(bytes: Array[Byte]): Gray = {
    require(bytes.length > 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P', "not a PNG")
    var pos = 8
    var width = 0; var height = 0; var bitDepth = 0; var colorType = 0
    val idat = new java.io.ByteArrayOutputStream()
    while (pos + 8 <= bytes.length) {
      val len = ((bytes(pos) & 0xff) << 24) | ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      val dataOff = pos + 8
      typ match {
        case "IHDR" =>
          val b = java.nio.ByteBuffer.wrap(bytes, dataOff, len)
          width = b.getInt(); height = b.getInt(); bitDepth = b.get() & 0xff; colorType = b.get() & 0xff
        case "IDAT" => idat.write(bytes, dataOff, len)
        case _ =>
      }
      pos = dataOff + len + 4
      if (typ == "IEND") pos = bytes.length
    }
    // same 64-megapixel cap as BMP/GIF/TIFF (long math — crafted headers
    // must hit the guard, not a multi-GB allocation)
    require(width > 0 && height > 0 && width.toLong * height <= 64L * 1024 * 1024,
      "PNG dims out of range")
    require(bitDepth == 8 && colorType == 0, s"unsupported PNG depth=$bitDepth color=$colorType")
    val inf = new java.util.zip.Inflater()
    val raw = new Array[Byte]((width + 1) * height)
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (!inf.finished() && off < raw.length) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && inf.needsInput()) throw new IllegalArgumentException("truncated PNG IDAT")
        // FDICT zlib streams return 0 with needsInput()==false forever — an
        // exception maps to status -4; an unbroken loop pins an executor core
        if (n == 0 && inf.needsDictionary()) throw new IllegalArgumentException("PNG IDAT needs preset dictionary")
        off += n
      }
    } finally inf.end()
    val px = new Array[Byte](width * height)
    var y = 0
    var prevRow = new Array[Int](width)
    while (y < height) {
      val filter = raw(y * (width + 1)) & 0xff
      val row = new Array[Int](width)
      var x = 0
      while (x < width) {
        val v = raw(y * (width + 1) + 1 + x) & 0xff
        val left = if (x > 0) row(x - 1) else 0
        val up = prevRow(x)
        val ul = if (x > 0) prevRow(x - 1) else 0
        val recon = filter match {
          case 0 => v
          case 1 => (v + left) & 0xff
          case 2 => (v + up) & 0xff
          case 3 => (v + (left + up) / 2) & 0xff
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
            (v + pred) & 0xff
          case f => throw new IllegalArgumentException(s"bad PNG filter $f")
        }
        row(x) = recon
        px(y * width + x) = if (recon < 128) 1 else 0
        x += 1
      }
      prevRow = row
      y += 1
    }
    Gray(width, height, px)
  }
}

/** Deterministic 8x12 glyph alphabet over printable ASCII. Each glyph is a
  * 96-bit pattern derived from the character code by a splitmix64 stream —
  * visually meaningless but mutually distant (random 96-bit codes), which is
  * exactly what template OCR needs. Shared by the corpus generator (render) and
  * the recognizer (match); a real font could be dropped in without code change.
  */
object GlyphFont {
  val GlyphW = 8
  val GlyphH = 12
  val Margin = 4
  val FirstChar = 0x20
  val LastChar = 0x7e

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 96 bits as two longs (hi 32 of second unused beyond 96). Space is blank. */
  val templates: Array[Array[Long]] = {
    (FirstChar to LastChar).map { c =>
      if (c == ' ') Array(0L, 0L)
      else {
        val a = splitmix64(c.toLong * 0x100000001b3L + 0x9e37L)
        val b = splitmix64(a ^ (c.toLong << 17) ^ 0x5bf03635L)
        Array(a, b & 0xffffffffL) // 64 + 32 = 96 bits
      }
    }.toArray
  }

  def bit(tpl: Array[Long], i: Int): Boolean =
    if (i < 64) ((tpl(0) >>> i) & 1L) != 0 else ((tpl(1) >>> (i - 64)) & 1L) != 0

  /** Render lines of text into a Gray bitmap on the fixed grid. Characters
    * outside the alphabet render as '?'. `scale` renders every logical pixel
    * as a scale×scale block (a higher-DPI scan of the same page — the OCR
    * density knob's input side).
    */
  def render(lines: Seq[String], noiseSeed: Long = 0L, scale: Int = 1): Gray = {
    val safe = lines.map(_.map(c => if (c >= FirstChar && c <= LastChar) c else '?'))
    val cols = math.max(1, if (safe.isEmpty) 1 else safe.map(_.length).max)
    val rows = math.max(1, safe.length)
    val w = Margin * 2 + cols * GlyphW
    val h = Margin * 2 + rows * GlyphH
    val px = new Array[Byte](w * h)
    for ((line, r) <- safe.zipWithIndex; (ch, cIdx) <- line.zipWithIndex) {
      val tpl = templates(ch - FirstChar)
      var i = 0
      while (i < GlyphW * GlyphH) {
        if (bit(tpl, i)) {
          val x = Margin + cIdx * GlyphW + (i % GlyphW)
          val y = Margin + r * GlyphH + (i / GlyphW)
          px(y * w + x) = 1
        }
        i += 1
      }
    }
    if (noiseSeed != 0L) {
      // deterministic sparse salt noise (~0.5% of pixels flipped)
      var s = noiseSeed
      var k = 0
      val flips = px.length / 200
      while (k < flips) {
        s = splitmix64(s)
        val idx = java.lang.Math.floorMod(s, px.length.toLong).toInt
        px(idx) = (1 - px(idx)).toByte
        k += 1
      }
    }
    if (scale <= 1) Gray(w, h, px)
    else {
      val sw = w * scale; val sh = h * scale
      val spx = new Array[Byte](sw * sh)
      var y = 0
      while (y < sh) {
        var x = 0
        while (x < sw) {
          spx(y * sw + x) = px((y / scale) * w + (x / scale))
          x += 1
        }
        y += 1
      }
      Gray(sw, sh, spx)
    }
  }

  /** 16 mutually-isolated speckle pixels (8-neighborhood-clear, and clear of
    * the cell's top pixel row so glyphs in the row above cannot touch them):
    * enough ink that a cell is NOT blank (distance 16 > RejectDist to every
    * template — random templates are ~48 pixels, so the closest glyph is ≥ 32
    * away), yet every pixel is isolated, so despeckling erases the cell
    * completely. The recognizer reads it as the reject marker '?' raw and as
    * blank after preprocessing — a closed-form probe for the despeckle toggle.
    */
  val baitPixels: Seq[Int] =
    (for (y <- 1 until GlyphH by 2; x <- 0 until GlyphW by 2) yield y * GlyphW + x).take(16)

  /** Render `lines` plus one extra row holding [[baitPixels]] in its first
    * cell.
    */
  def renderWithBait(lines: Seq[String]): Gray = {
    val g = render(lines :+ "")
    val baitRow = lines.length
    val px = g.pixels.clone()
    baitPixels.foreach { i =>
      val x = Margin + (i % GlyphW)
      val y = Margin + baitRow * GlyphH + (i / GlyphW)
      px(y * g.width + x) = 1
    }
    Gray(g.width, g.height, px)
  }
}

/** Template-matching recognizer over the fixed grid: segment into 8x12 cells,
  * pick the template with minimum Hamming distance (noise-tolerant), emit lines.
  * `enableImagePreprocessing` additionally despeckles isolated pixels first.
  */
object GlyphTemplateOcr extends Ocr {
  import GlyphFont._

  /** Confidence floor: a cell farther than this from every candidate template
    * is unrecognizable ink → reject marker '?'. Min pairwise template distance
    * is ~30+ (random 96-bit codes); corpus salt noise is ≤ a handful of pixels
    * per cell.
    */
  val RejectDist = 12

  /** Character sets per OCR language model (the reference forwards `-l` to
    * tesseract, whose traineddata fixes the recognizable alphabet —
    * /root/reference/config.go:521-529). Restricting the candidate template
    * set is the template-OCR equivalent. Unknown codes fall back to the full
    * alphabet; space is always recognizable.
    */
  val langCharsets: Map[String, Set[Char]] = {
    val full = (FirstChar to LastChar).map(_.toChar).toSet
    Map(
      "eng" -> full, "deu" -> full, "fra" -> full, "spa" -> full,
      "num" -> "0123456789 .,:-".toSet)
  }

  /** Majority-vote k× block downsample — inverts a k×-DPI scan of the base
    * grid (the density knob: cfg.density=300·k means glyphs are k× larger).
    */
  private def downsample(g: Gray, k: Int): Gray = {
    val w = g.width / k; val h = g.height / k
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var cnt = 0
        var dy = 0
        while (dy < k) {
          var dx = 0
          while (dx < k) { if (g(x * k + dx, y * k + dy) != 0) cnt += 1; dx += 1 }
          dy += 1
        }
        px(y * w + x) = if (2 * cnt >= k * k) 1 else 0
        x += 1
      }
      y += 1
    }
    Gray(w, h, px)
  }

  private def despeckle(g: Gray): Gray = {
    val out = g.pixels.clone()
    var y = 0
    while (y < g.height) {
      var x = 0
      while (x < g.width) {
        if (g(x, y) != 0) {
          var neighbors = 0
          var dy = -1
          while (dy <= 1) {
            var dx = -1
            while (dx <= 1) {
              if ((dx != 0 || dy != 0) && x + dx >= 0 && x + dx < g.width && y + dy >= 0 && y + dy < g.height && g(x + dx, y + dy) != 0)
                neighbors += 1
              dx += 1
            }
            dy += 1
          }
          if (neighbors == 0) out(y * g.width + x) = 0
        }
        x += 1
      }
      y += 1
    }
    Gray(g.width, g.height, out)
  }

  def recognizeGray(g1: Gray, cfg: OcrConfig): String = {
    // deadline already expired ⇒ OCR timeout (the reference destroys the
    // process and surfaces status -10, /root/reference/config.go:662-694)
    if (cfg.timeoutSeconds <= 0)
      throw new IllegalStateException(s"OCR timeout after ${cfg.timeoutSeconds}s")
    val scale = math.max(1, cfg.density / 300)
    val g0 = if (scale > 1) downsample(g1, scale) else g1
    val g = if (cfg.enableImagePreprocessing) despeckle(g0) else g0
    val allowed = langCharsets.getOrElse(cfg.language,
      (FirstChar to LastChar).map(_.toChar).toSet)
    // hoist the charset filter out of the per-cell loop: the boxed Char set
    // lookup ran templates×cells times; the candidate list is fixed per call.
    // Same ascending template order and strict-< tie-break as before.
    val candidates: Array[Int] =
      Array.range(0, templates.length).filter(t => allowed.contains((t + FirstChar).toChar))
    val cols = (g.width - Margin * 2) / GlyphW
    val rows = (g.height - Margin * 2) / GlyphH
    if (cols <= 0 || rows <= 0) return ""
    val sb = new StringBuilder
    var r = 0
    while (r < rows) {
      val line = new StringBuilder
      var c = 0
      while (c < cols) {
        // extract 96-bit cell (row-major bit order i = dy*GlyphW+dx, as before)
        var cell0 = 0L; var cell1 = 0L
        val x0 = Margin + c * GlyphW
        val y0 = Margin + r * GlyphH
        var i = 0
        var dy = 0
        while (dy < GlyphH) {
          val y = y0 + dy
          var dx = 0
          while (dx < GlyphW) {
            val x = x0 + dx
            if (x < g.width && y < g.height && g(x, y) != 0) {
              if (i < 64) cell0 |= (1L << i) else cell1 |= (1L << (i - 64))
            }
            dx += 1; i += 1
          }
          dy += 1
        }
        // nearest template among the language's charset; cells too far from
        // every candidate reject to '?' (the confidence floor real OCR engines
        // apply — random templates are ≥ ~30 apart, clean noise ≤ a few pixels,
        // so the threshold never fires on legible glyphs)
        var best = ' '
        var bestDist = Integer.MAX_VALUE
        var ti = 0
        while (ti < candidates.length) {
          val t = candidates(ti)
          val d = java.lang.Long.bitCount(cell0 ^ templates(t)(0)) + java.lang.Long.bitCount(cell1 ^ templates(t)(1))
          if (d < bestDist) { bestDist = d; best = (t + FirstChar).toChar }
          ti += 1
        }
        line.append(if (bestDist > RejectDist) '?' else best)
        c += 1
      }
      val trimmed = line.toString.reverse.dropWhile(_ == ' ').reverse
      if (r > 0) sb.append('\n')
      sb.append(trimmed)
      r += 1
    }
    sb.toString
  }

  override def recognize(image: Array[Byte], cfg: OcrConfig): String = {
    val g =
      if (image.length >= 2 && image(0) == 'B' && image(1) == 'M') Bmp.decode(image)
      else if (image.length >= 3 && (image(0) & 0xff) == 0xff && (image(1) & 0xff) == 0xd8) Jpeg.decode(image)
      else if (image.length >= 6 && new String(image, 0, 3, "US-ASCII") == "GIF") Gif.decode(image)
      else if (image.length >= 4 && ((image(0) == 'I' && image(1) == 'I') ||
        (image(0) == 'M' && image(1) == 'M'))) Tiff.decode(image)
      else Png.decode(image)
    recognizeGray(g, cfg)
  }
}

/** Production OCR via an external `tesseract` process with the reference's
  * timeout semantics (/root/reference/config.go:662-694): on deadline breach the
  * process is destroyed and an exception raised (mapped to status -10 upstream).
  */
final class TesseractCli(binary: String = "tesseract") extends Ocr {
  override def recognize(image: Array[Byte], cfg: OcrConfig): String = {
    val tmp = java.io.File.createTempFile("ocr-", ".png")
    try {
      java.nio.file.Files.write(tmp.toPath, image)
      val pb = new ProcessBuilder(binary, tmp.getAbsolutePath, "stdout", "-l", cfg.language, "--dpi", cfg.density.toString)
      pb.redirectErrorStream(false)
      val proc = pb.start()
      val out = new java.io.ByteArrayOutputStream()
      val reader = new Thread(() => {
        val is = proc.getInputStream
        val buf = new Array[Byte](8192)
        var n = is.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
      })
      reader.start()
      if (!proc.waitFor(cfg.timeoutSeconds.toLong, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        throw new RuntimeException(s"tesseract timeout after ${cfg.timeoutSeconds}s")
      }
      reader.join(5000)
      if (proc.exitValue() != 0) throw new RuntimeException(s"tesseract exit ${proc.exitValue()}")
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally { val _ = tmp.delete() }
  }
}

object Ocr {
  /** Pick the best available backend: a real tesseract binary if present on the
    * executor, else the deterministic glyph-template recognizer.
    */
  lazy val default: Ocr =
    if (tesseractAvailable) new TesseractCli() else GlyphTemplateOcr

  private def tesseractAvailable: Boolean =
    sys.env.getOrElse("PATH", "").split(':').exists(dir => new java.io.File(dir, "tesseract").canExecute)
}
