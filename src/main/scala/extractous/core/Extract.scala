package extractous.core

import extractous.config.{CharSet, ExtractorConfig, PdfOcrStrategy}
import extractous.html.HtmlExtractor
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.ocr.{GlyphTemplateOcr, Ocr}
import extractous.office.OfficeExtractor
import extractous.pdf.PdfExtractor
import extractous.sniff.MimeSniffer
import extractous.text.{Encoding, Normalize, TextEmitter, XmlEmitter}

/** The flagship pure function: `(payload bytes, config) → ExtractResult` —
  * the Spark-native replacement for the reference's stateful Extractor handle
  * (/root/reference/extractor.go:452-481 ExtractBytesToString). Per-row,
  * side-effect-free, broadcast-safe: the unit of parallelism is the Spark task,
  * exactly as the reference's unit is one extractor per thread
  * (/root/reference/extractor.go:18-40).
  *
  * A poison document NEVER throws out of this function — failures map to the
  * reference status-code space (status column, /root/reference/ffi/src/errors.rs:8-18).
  */
object Extract {

  def apply(bytes: Array[Byte], cfg: ExtractorConfig = ExtractorConfig.default, ocr: Ocr = GlyphTemplateOcr): ExtractResult = {
    val encoded = dispatchSafe(bytes, cfg, ocr, depth = 0)
    if (cfg.encoding == CharSet.Utf8) encoded
    else encoded.copy(text = Encoding(encoded.text, cfg.encoding))
  }

  /** [[dispatch]] with the poison-document guarantee applied: any per-row
    * failure maps to a status, never an escaping throw. This is the
    * top-level entry's catch, the per-MEMBER catch inside container loops
    * (zip/tar/7z/rar/WARC) AND the catch around every codec layer's inner
    * payload: a corrupt gzip member must be skipped with a `" <- "` frame
    * like any other failing member, and a payload that throws inside a codec
    * layer keeps that layer's frame.
    */
  private[core] def dispatchSafe(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult =
    try dispatch(bytes, cfg, ocr, depth)
    catch {
      case e: StackOverflowError =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, "extraction failed: deep recursion")
      case e: OutOfMemoryError =>
        ExtractResult.fail(ExtractStatus.OutOfMemory, "out of memory")
      // fatal deployment/control conditions must NOT become per-row -4:
      // a missing class would otherwise fail 100% of rows "successfully",
      // and a task-kill interrupt would be swallowed mid-cancellation
      case e: InterruptedException => throw e
      case e: LinkageError         => throw e
      case e: VirtualMachineError  => throw e
      case e: Throwable =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, trim(s"extraction failed: ${e.getMessage}"))
    }

  private def trim(s: String): String = if (s == null) "" else if (s.length > 500) s.substring(0, 500) else s

  /** Decoded-output budget of one wrapper layer (a codec stream or a
    * compressed HTTP body): a decompression bomb hits it and fails the row,
    * never the executor.
    */
  private[extractous] val MaxLayerBytes: Int = 256 * 1024 * 1024

  /** Wrapper and container layers (codecs, zip/tar/7z/rar, WARC) share one
    * nesting budget: a payload `MaxDepth` layers down is refused.
    */
  private[extractous] val MaxDepth: Int = 3

  /** THE nesting gate for every codec and container. It runs before any
    * decoding or member walk, so a nested bomb never buys a full inflate per
    * layer before it is refused with -8.
    */
  private[core] def nestingGate(mime: String, label: String, depth: Int)(body: => ExtractResult): ExtractResult =
    if (depth >= MaxDepth)
      ExtractResult.fail(ExtractStatus.UnsupportedFormat, s"$label: nesting too deep", mime)
    else body

  /** Every single-stream codec: sniffed MIME → (frame label, bounded decoder). */
  private val codecs: Map[String, (String, Array[Byte] => Array[Byte])] = Map(
    MimeSniffer.Gzip -> ("gzip", gunzip(_, MaxLayerBytes)),
    MimeSniffer.Xz -> ("xz", Xz.decode(_, MaxLayerBytes)),
    MimeSniffer.Bzip2 -> ("bzip2", Bzip2.decode(_, MaxLayerBytes)),
    MimeSniffer.Zstd -> ("zstd", Zstd.decode(_, MaxLayerBytes)),
    MimeSniffer.Lz4 -> ("lz4", Lz4.decode(_, MaxLayerBytes)),
    MimeSniffer.Snappy -> ("snappy", Snappy.decodeFramed(_, MaxLayerBytes)))

  /** Decode one codec layer and re-dispatch the inner bytes poison-safe, the
    * same entry container members use. Failures inside the payload carry the
    * decoding context as a `" <- <label> layer N"` frame (the reference's
    * debug chain, errors.go:301-316), and the result is tagged with its
    * `Content-Encoding`. A valid but out-of-scope stream (filter chains,
    * dictionaries, randomized or reserved blocks) refuses with -8; structural
    * damage in the codec stream itself throws, surfacing as -4 upstream.
    */
  private def unwrap(mime: String, bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult = {
    val (label, decode) = codecs(mime)
    nestingGate(mime, label, depth) {
      // dispatchSafe never throws, so the catch sees only the decoder's refusals
      try {
        val r = dispatchSafe(decode(bytes), cfg, ocr, depth + 1)
        val framed =
          if (r.status != ExtractStatus.Ok && r.error.nonEmpty) r.copy(error = s"${r.error} <- $label layer ${depth + 1}")
          else r
        framed.copy(metadata = framed.metadata + ("Content-Encoding" -> Seq(label)))
      } catch {
        case e: UnsupportedArchiveException =>
          ExtractResult.fail(ExtractStatus.UnsupportedFormat, trim(e.getMessage), mime)
      }
    }
  }

  private[core] def dispatch(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult = {
    // Empty/null fast path: empty text, non-null metadata, status OK
    // (/root/reference/extractor.go:457-459, integration_test.go:317-339).
    if (bytes == null || bytes.isEmpty)
      return ExtractResult.ok("", if (cfg.xmlOutput) "<doc>\n</doc>" else "",
        Map("Content-Type" -> Seq(MimeSniffer.Empty)), MimeSniffer.Empty)

    MimeSniffer.sniff(bytes) match {
      case MimeSniffer.Html => HtmlExtractor.extract(bytes, cfg)
      case MimeSniffer.Xml => xmlDoc(bytes, cfg)
      case MimeSniffer.Rtf => extractous.rtf.RtfExtractor.extract(bytes, cfg)
      case MimeSniffer.Eml => extractous.mail.MailExtractor.extract(bytes, cfg)
      case MimeSniffer.Ics | MimeSniffer.Vcf =>
        extractous.mail.CalendarExtractor.extract(bytes, cfg)
      case MimeSniffer.Mbox => extractous.mail.MboxExtractor.extract(bytes, cfg)
      case MimeSniffer.Csv => extractous.mail.CsvExtractor.extract(bytes, cfg)
      case MimeSniffer.Markdown => extractous.mail.MarkdownExtractor.extract(bytes, cfg)
      case MimeSniffer.Epub => extractous.epub.EpubExtractor.extract(bytes, cfg)
      case m if codecs.contains(m) => unwrap(m, bytes, cfg, ocr, depth)
      case MimeSniffer.Plain => plain(bytes, cfg)
      case MimeSniffer.Pdf => PdfExtractor.extract(bytes, cfg, ocr)
      case m @ (MimeSniffer.Docx | MimeSniffer.Xlsx | MimeSniffer.Pptx |
                MimeSniffer.Odt | MimeSniffer.Ods | MimeSniffer.Odp) =>
        OfficeExtractor.extract(bytes, m, cfg)
      case MimeSniffer.Zip => ArchiveExtractor.zip(bytes, cfg, ocr, depth)
      case MimeSniffer.Tar => ArchiveExtractor.tar(bytes, cfg, ocr, depth)
      case MimeSniffer.SevenZ => ArchiveExtractor.sevenZ(bytes, cfg, ocr, depth)
      case MimeSniffer.Rar => ArchiveExtractor.rar(bytes, cfg, ocr, depth)
      case MimeSniffer.Warc => WarcExtractor.extract(bytes, cfg, ocr, depth)
      case MimeSniffer.Iwork => extractous.iwork.IworkExtractor.extract(bytes, cfg)
      case MimeSniffer.Cfb => extractous.office.CfbExtractor.extract(bytes, cfg)
      case m @ (MimeSniffer.Bmp | MimeSniffer.Png | MimeSniffer.Jpeg |
                MimeSniffer.Gif | MimeSniffer.Tiff) => image(bytes, m, cfg, ocr)
      case _ =>
        // Distinguish text-like payloads with broken encoding from plain
        // binary (the charset-detection rungs — UTF-16 BOMs, windows-1252 —
        // live in MimeSniffer and route to Plain before this fallthrough):
        // mostly-printable ⇒ invalid-UTF-8 (-2), else unsupported (-8).
        val printable = bytes.count { b0 =>
          val b = b0 & 0xff
          (b >= 0x20 && b < 0x7f) || b == '\n' || b == '\r' || b == '\t' || b >= 0x80
        }
        if (printable.toDouble / bytes.length >= 0.9)
          ExtractResult.fail(ExtractStatus.InvalidUtf8, "invalid UTF-8 in text payload", MimeSniffer.Plain)
        else
          ExtractResult.fail(ExtractStatus.UnsupportedFormat, "unsupported format: application/octet-stream")
    }
  }

  /** Stream analogue of the reference's ExtractBytesToStream + chunked Read
    * loop (/root/reference/extractor.go ExtractBytesToStream, stream.go Read):
    * the extraction result's UTF-8 bytes exposed as bounded chunks through a
    * real InputStream — partial reads allowed, EOF = -1, every chunk at most
    * `chunkSize` bytes. Bounded memory per consumer step regardless of
    * document size.
    */
  def stream(result: ExtractResult, chunkSize: Int): Iterator[Array[Byte]] = {
    require(chunkSize > 0, "chunkSize must be positive")
    val in = new java.io.ByteArrayInputStream(result.text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Iterator.continually {
      val buf = new Array[Byte](chunkSize)
      val n = in.read(buf) // -1 at EOF — the chunk-read contract
      if (n < 0) null else java.util.Arrays.copyOf(buf, n)
    }.takeWhile(_ != null)
  }

  /** Bounded gunzip — a decompression bomb hits the cap and fails the row,
    * never the executor.
    */
  private[extractous] def gunzip(bytes: Array[Byte], maxOut: Int): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    // Long math: bytes.length * 4 overflows Int at >= 512 MB inputs (crawl
    // .warc.gz files are that big) and a negative initial size throws
    val out = new java.io.ByteArrayOutputStream(math.min(bytes.length.toLong * 4, 1L << 20).toInt)
    val buf = new Array[Byte](65536)
    var total = 0
    var n = in.read(buf)
    while (n >= 0) {
      total += n
      if (total > maxOut) throw new IllegalStateException(s"gzip output exceeds $maxOut bytes")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    in.close()
    out.toByteArray
  }

  /** Plain text: charset-aware decode (UTF-16 BOMs, UTF-8 default) +
    * canonical normalization.
    */
  private def plain(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    val (decoded, charset) =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
        (new String(bytes, 2, bytes.length - 2, java.nio.charset.StandardCharsets.UTF_16LE), "UTF-16LE")
      else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
        (new String(bytes, 2, bytes.length - 2, java.nio.charset.StandardCharsets.UTF_16BE), "UTF-16BE")
      else if (MimeSniffer.isValidUtf8(bytes)) {
        var s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        if (s.nonEmpty && s.charAt(0) == '﻿') s = s.substring(1) // BOM
        (s, "UTF-8")
      } else if (MimeSniffer.looksLikeShiftJis(bytes))
        // CJK rungs: byte-distribution detection (must run BEFORE the cp1252
        // catch-all, which would accept almost any byte). SJIS before GBK —
        // see looksLikeGbk for why the order disambiguates. Unlabeled
        // ISO-8859-1 deliberately lands on the windows-1252 rung below —
        // cp1252 is a superset of latin-1 on every printable byte, which is
        // why real detectors (ICU/Tika) label western 8-bit text cp1252.
        (new String(bytes, java.nio.charset.Charset.forName("Shift_JIS")), "Shift_JIS")
      else MimeSniffer.cyrillicCharset(bytes) match {
        // Russian-web rungs: cp1251 vs KOI8-R by case-band majority — both
        // would "decode" on the cp1252 rung below, as mojibake. This rung
        // runs BEFORE GBK: short-word Cyrillic whose high-byte runs all have
        // even length forms valid GBK lead/trail pairs (and would misroute
        // to GBK mojibake), while the Cyrillic gate — every high byte in the
        // letter zone, ≥8 of them, clustered runs — rejects real GBK text,
        // whose lead bytes routinely fall in 0x81–0xBF outside the zone
        // (Round3FormatsSpec asserts both directions). The match binds the
        // Option once — the detector is a full byte scan per call.
        case Some(cs) => (new String(bytes, java.nio.charset.Charset.forName(cs)), cs)
        case None =>
          if (MimeSniffer.looksLikeGbk(bytes))
            (new String(bytes, java.nio.charset.Charset.forName("GBK")), "GBK")
          else
            (new String(bytes, java.nio.charset.Charset.forName("windows-1252")), "windows-1252")
      }
    plainDecoded(decoded, charset, cfg)
  }

  private def plainDecoded(s: String, charset: String, cfg: ExtractorConfig): ExtractResult = {
    val emitter = new TextEmitter(cfg.maxStringLength)
    val xe = new XmlEmitter(cfg.maxStringLength, cfg.xmlOutput)
    s.split("\n", -1).iterator.takeWhile(_ => !emitter.isFull).foreach { line =>
      emitter.addBlock(line)
      if (cfg.xmlOutput) xe.addElement("p", line)
    }
    ExtractResult.ok(emitter.result(), if (cfg.xmlOutput) xe.result() else "",
      Map("Content-Type" -> Seq(s"text/plain; charset=$charset")), MimeSniffer.Plain)
  }

  /** Generic XML document: every element is a block boundary, character data
    * becomes blocks in document order (Tika-style XML-to-text semantics).
    */
  private def xmlDoc(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    val root = extractous.html.HtmlDom.parse(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    val emitter = new TextEmitter(cfg.maxStringLength)
    val xe = new XmlEmitter(cfg.maxStringLength, cfg.xmlOutput)
    def walk(n: extractous.html.HNode): Unit = n match {
      case extractous.html.HText(t) =>
        if (!emitter.isFull && Normalize.line(t).nonEmpty) { emitter.addBlock(t); xe.addElement("p", t) }
      case e: extractous.html.HElem => e.children.foreach(walk)
    }
    walk(root)
    ExtractResult.ok(emitter.result(), if (cfg.xmlOutput) xe.result() else "",
      Map("Content-Type" -> Seq(MimeSniffer.Xml)), MimeSniffer.Xml)
  }

  /** Standalone scanned image → OCR. OCR failures map to status -10 and never
    * propagate (/root/reference/config.go:687).
    */
  private def image(bytes: Array[Byte], mime: String, cfg: ExtractorConfig, ocr: Ocr): ExtractResult = {
    try {
      val text = ocr.recognize(bytes, cfg.ocr)
      val emitter = new TextEmitter(cfg.maxStringLength)
      val xe = new XmlEmitter(cfg.maxStringLength, cfg.xmlOutput)
      text.split("\n", -1).iterator.takeWhile(_ => !emitter.isFull).foreach { line =>
        emitter.addBlock(line)
        if (cfg.xmlOutput) xe.addElement("p", line)
      }
      // record the effective OCR parameters (Tika-style parser provenance) —
      // the config knobs are observable downstream per document
      val meta = Map(
        "Content-Type" -> Seq(mime),
        "X-OCR-Language" -> Seq(cfg.ocr.language),
        "X-OCR-Density" -> Seq(cfg.ocr.density.toString),
        "X-OCR-Depth" -> Seq(cfg.ocr.depth.toString),
        "X-OCR-Preprocessing" -> Seq(cfg.ocr.enableImagePreprocessing.toString))
      ExtractResult.ok(emitter.result(), if (cfg.xmlOutput) xe.result() else "", meta, mime)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.OcrFailed, trim(s"OCR failed: ${e.getMessage}"), mime)
    }
  }
}
