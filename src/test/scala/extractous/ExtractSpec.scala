package extractous

import extractous.config._
import extractous.core.Extract
import extractous.gen.{BzipWriter, CorpusGen, Lz4Writer, SnappyWriter, TarWriter, XzWriter, ZstdWriter}
import extractous.model.ExtractStatus
import org.scalatest.funsuite.AnyFunSuite

class ExtractSpec extends AnyFunSuite {
  test("empty input: empty text, non-null metadata, status 0 (ref integration_test.go:317-339)") {
    val r = Extract(Array.emptyByteArray)
    assert(r.text == "" && r.status == 0)
    assert(r.metadata.contains("Content-Type"))
  }
  test("null input same as empty") {
    val r = Extract(null)
    assert(r.text == "" && r.status == 0)
  }
  test("plain utf8 cjk roundtrip (ref integration_test.go:160-179)") {
    val s = "こんにちは、世界！ This is UTF-8: héllo wörld"
    val r = Extract(s.getBytes("UTF-8"))
    assert(r.text == s)
    assert(r.metadata("Content-Type").head.contains("text/plain"))
  }
  test("bom stripped from plain text") {
    val r = Extract(Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "hello".getBytes("UTF-8"))
    assert(r.text == "hello")
  }
  test("max length truncation (ref integration_test.go:136-158)") {
    val body = "word " * 2000
    val r = Extract(body.getBytes("UTF-8"), ExtractorConfig(maxStringLength = 100))
    assert(r.text.length <= 100)
    assert(r.text.nonEmpty)
  }
  test("us-ascii encoding folds") {
    val r = Extract("héllo".getBytes("UTF-8"), ExtractorConfig(encoding = CharSet.UsAscii))
    assert(r.text == "h?llo")
  }
  test("valid jpeg extracts via OCR; truncated jpeg fails the row with -10") {
    val ok = Extract(extractous.ocr.Jpeg.encode(extractous.ocr.GlyphFont.render(Seq("JPG 7"))))
    assert(ok.status == ExtractStatus.Ok && ok.text == "JPG 7" && ok.contentType == "image/jpeg")
    val bad = Extract(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 1, 2, 3))
    assert(bad.status == ExtractStatus.OcrFailed)
  }
  test("clean single-byte non-UTF-8 text decodes as windows-1252") {
    val r = Extract(("looks like text " * 4).getBytes("US-ASCII") ++ Array[Byte](0xff.toByte))
    assert(r.status == ExtractStatus.Ok)
    assert(r.text.endsWith("ÿ")) // 0xFF in cp1252
    assert(r.metadata("Content-Type").head.contains("windows-1252"))
  }
  test("mostly-printable with cp1252-undefined bytes stays invalid utf8 -2") {
    val r = Extract(("looks like text " * 4).getBytes("US-ASCII") ++ Array[Byte](0x81.toByte, 0x8d.toByte))
    assert(r.status == ExtractStatus.InvalidUtf8)
  }
  test("utf-16 BOM payloads decode") {
    val le = Extract(Array[Byte](0xff.toByte, 0xfe.toByte) ++ "hello utf16".getBytes("UTF-16LE"))
    assert(le.status == ExtractStatus.Ok && le.text == "hello utf16")
    assert(le.metadata("Content-Type").head.contains("UTF-16LE"))
    val be = Extract(Array[Byte](0xfe.toByte, 0xff.toByte) ++ "hello utf16".getBytes("UTF-16BE"))
    assert(be.status == ExtractStatus.Ok && be.text == "hello utf16")
  }
  test("binary garbage -8") {
    val r = Extract(Array.tabulate[Byte](256)(i => i.toByte))
    assert(r.status == ExtractStatus.UnsupportedFormat)
  }
  test("fuzz: mutated VALID jpeg/doc/odt payloads never throw (600 mutants)") {
    val rnd = new scala.util.Random(777)
    val seeds: Seq[Array[Byte]] = Seq(
      extractous.ocr.Jpeg.encode(extractous.ocr.GlyphFont.render(Seq("mutant bait", "row two"))),
      extractous.gen.DocWriter.doc(Seq("Document 9", "legacy body text here")),
      extractous.gen.OdfWriter.odt("Heading", Seq("odt body"), "t"))
    (1 to 600).foreach { i =>
      val base = seeds(i % seeds.length)
      val m = base.clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      val payload = if (rnd.nextBoolean()) m.take(1 + rnd.nextInt(m.length)) else m
      val r = Extract(payload) // must not throw; any status is acceptable
      assert(r.status <= 0)
      assert(r.metadata != null)
    }
  }

  test("fuzz: mutated round-3 formats (gif/tiff/xls/ppt/eml/epub/restart-jpeg) never throw (1400 mutants)") {
    val rnd = new scala.util.Random(31337)
    val g = extractous.ocr.GlyphFont.render(Seq("fuzz bait row", "second row !!"))
    val seeds: Seq[Array[Byte]] = Seq(
      extractous.ocr.Gif.encode(g),
      extractous.ocr.Tiff.encode(g, packBits = false),
      extractous.ocr.Tiff.encode(g, packBits = true),
      extractous.ocr.Jpeg.encode(g, 2), // DRI/RSTn stream
      extractous.gen.XlsWriter.xls(Seq("Document 1", "sheet body")),
      extractous.gen.PptWriter.ppt(Seq("Document 2", "slide body")),
      CorpusGen.emlPayload(52, "mail body text"),
      CorpusGen.emlPayload(153, "single part body"),
      extractous.gen.EpubWriter.epub("H", Seq("chapter body"), "S", "T"))
    (1 to 1400).foreach { i =>
      val base = seeds(i % seeds.length)
      val m = base.clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      val payload = if (rnd.nextBoolean()) m.take(1 + rnd.nextInt(m.length)) else m
      val r = Extract(payload) // must not throw; any status is acceptable
      assert(r.status <= 0, s"mutant $i status ${r.status}")
      assert(r.metadata != null)
    }
  }

  test("fuzz: mutated msg/archive/csv/mbox payloads never throw (1200 mutants)") {
    val rnd = new scala.util.Random(90210)
    val seeds: Seq[Array[Byte]] = Seq(
      extractous.gen.MsgWriter.msg("Subject X", "Sender Y", "mail body text", unicode = true),
      extractous.gen.MsgWriter.msg("Subject X", "Sender Y", "mail body text", unicode = false),
      CorpusGen.archivePayload(0, "archived body text here", "en"),   // zip
      CorpusGen.archivePayload(100, "archived body text here", "en"), // tar
      CorpusGen.archivePayload(200, "archived body text here", "en"), // 7z
      CorpusGen.encryptedPdfPayload(0, "encrypted body text"),        // RC4-40
      CorpusGen.encryptedPdfPayload(1, "encrypted body text"),        // RC4-128
      CorpusGen.encryptedPdfPayload(2, "encrypted body text"),        // AES-128 (AESV2)
      CorpusGen.encryptedPdfPayload(3, "encrypted body text"),        // AES-256 (AESV3/R6)
      CorpusGen.csvPayload(0, "comma separated value body"),
      CorpusGen.csvPayload(100, "tab separated value body"),
      CorpusGen.mboxPayload(3, "mailbox body text"))
    (1 to 1200).foreach { i =>
      val base = seeds(i % seeds.length)
      val m = base.clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      val payload = if (rnd.nextBoolean()) m.take(1 + rnd.nextInt(m.length)) else m
      val r = Extract(payload) // must not throw; any status is acceptable
      assert(r.status <= 0, s"mutant $i status ${r.status}")
      assert(r.metadata != null)
    }
  }

  test("fuzz: random byte payloads never throw — always a status row (1000 seeds)") {
    val rnd = new scala.util.Random(4242)
    (1 to 1000).foreach { i =>
      val len = rnd.nextInt(2048)
      val bytes = new Array[Byte](len)
      rnd.nextBytes(bytes)
      // occasionally prefix a real magic to drive parsers into garbage bodies
      val payload = (i % 10) match {
        case 0 => "%PDF-1.4\n".getBytes("US-ASCII") ++ bytes
        case 1 => Array[Byte]('P', 'K', 3, 4) ++ bytes
        case 2 => "BM".getBytes("US-ASCII") ++ bytes
        case 3 => Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n') ++ bytes
        case 4 => "<html><body>".getBytes("US-ASCII") ++ bytes
        case 5 => Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte) ++ bytes // JPEG
        case 6 => Array[Byte](0xd0.toByte, 0xcf.toByte, 0x11, 0xe0.toByte, 0xa1.toByte, 0xb1.toByte, 0x1a, 0xe1.toByte) ++ bytes // CFB
        case 7 => Array[Byte](0xff.toByte, 0xfe.toByte) ++ bytes // UTF-16LE BOM
        case _ => bytes
      }
      val r = Extract(payload) // must not throw
      assert(r.status <= 0 && r.status >= -10, s"seed $i status ${r.status}")
      assert(r.metadata.contains("Content-Type"))
    }
  }

  test("fuzz: random tag soup html never throws and emits sane text (200 seeds)") {
    val rnd = new scala.util.Random(777)
    val bits = Seq("<div>", "</div>", "<p ", "class='x'>", "<a href='/y'>", "</a>", "&amp;", "&#65;", "&bogus;", "plain words here ", "<br>", "<<<", ">>>", "<!---->", "<script>x</script>")
    (1 to 200).foreach { _ =>
      val html = "<html><body>" + Seq.fill(40)(bits(rnd.nextInt(bits.length))).mkString + "</body></html>"
      val r = Extract(html.getBytes("UTF-8"))
      assert(r.status == 0)
      assert(!r.text.contains(' '))
    }
  }

  test("status message map covers the 11 reference codes") {
    assert(ExtractStatus.message.size == 11)
    assert(ExtractStatus.message(ExtractStatus.OcrFailed) == "OCR failed")
  }
  test("rtf control words stripped, escapes decoded, destinations skipped") {
    val rtf = """{\rtf1\ansi{\fonttbl{\f0 Helvetica;}}{\info{\author Nobody}}
      |\f0\fs24 First paragraph with \b bold\b0  words.\par
      |Second line uses a caf\'e9 escape.\par}""".stripMargin
    val r = Extract(rtf.getBytes("ISO-8859-1"))
    assert(r.contentType == "application/rtf")
    assert(r.text == "First paragraph with bold words.\nSecond line uses a café escape.")
    assert(!r.text.contains("Helvetica") && !r.text.contains("Nobody"))
  }

  test("gzip-wrapped payload is inflated and re-dispatched") {
    val html = "<html><body><article><p>wrapped content with plenty of words to keep here</p></article></body></html>"
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(html.getBytes("UTF-8")); gz.close()
    val r = Extract(bos.toByteArray)
    assert(r.text == "wrapped content with plenty of words to keep here")
    assert(r.contentType == "text/html")
    assert(r.metadata("Content-Encoding") == Seq("gzip"))
  }

  test("truncated gzip fails the row, not the task") {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(("x" * 10000).getBytes("UTF-8")); gz.close()
    val r = Extract(bos.toByteArray.take(40))
    assert(r.status < 0)
  }

  // ---- one unwrap policy for every single-stream codec ----
  // Each codec wraps through its in-repo writer; Extract must give every one
  // the same Content-Encoding tag, " <- <codec> layer N" frame and depth cap.
  private val codecWriters: Seq[(String, Array[Byte] => Array[Byte])] = Seq(
    "gzip" -> CorpusGen.gzMember,
    "xz" -> (XzWriter.xz(_)),
    "bzip2" -> (BzipWriter.bz2(_)),
    "zstd" -> ZstdWriter.zst,
    "lz4" -> Lz4Writer.lz4,
    "snappy" -> SnappyWriter.sz)

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** A well-framed .xz whose footer magic is broken: it sniffs as xz and its
    * decoder throws, so the failure happens one layer inside the wrapper.
    */
  private def corruptXz: Array[Byte] = {
    val x = XzWriter.xz(utf8("inner payload"))
    x(x.length - 1) = 0
    x
  }

  for ((label, wrap) <- codecWriters) {
    test(s"$label layer: tags Content-Encoding and frames a corrupt payload with ' <- $label layer 1'") {
      val ok = Extract(wrap(utf8("codec wrapped body")))
      assert(ok.status == ExtractStatus.Ok, ok.error)
      assert(ok.text == "codec wrapped body")
      assert(ok.metadata("Content-Encoding") == Seq(label))

      val bad = Extract(wrap(corruptXz))
      assert(bad.status == ExtractStatus.ExtractionFailed)
      assert(bad.error == s"extraction failed: xz: bad footer magic <- $label layer 1")
      assert(bad.metadata("Content-Encoding") == Seq(label))
    }

    test(s"$label layer: nesting past the shared cap refuses with -8") {
      def nest(n: Int): Array[Byte] = (1 to n).foldLeft(utf8("deep body"))((b, _) => wrap(b))
      val atCap = Extract(nest(Extract.MaxDepth))
      assert(atCap.status == ExtractStatus.Ok, atCap.error)
      assert(atCap.text == "deep body")

      val past = Extract(nest(Extract.MaxDepth + 1))
      assert(past.status == ExtractStatus.UnsupportedFormat)
      val frames = (Extract.MaxDepth to 1 by -1).map(n => s" <- $label layer $n").mkString
      assert(past.error == s"$label: nesting too deep$frames")
    }
  }

  test("codecs and containers share one depth budget: gzip(tar(xz(text))) decodes, one more layer is refused") {
    def gzTarXz(inner: Array[Byte]) =
      CorpusGen.gzMember(TarWriter.tar(Seq("a.xz" -> XzWriter.xz(inner))))
    val ok = Extract(gzTarXz(utf8("mixed nest body")))
    assert(ok.status == ExtractStatus.Ok, ok.error)
    assert(ok.text == "mixed nest body")
    assert(ok.metadata("Content-Encoding") == Seq("gzip"))

    val deep = Extract(gzTarXz(SnappyWriter.sz(utf8("mixed nest body"))))
    assert(deep.status == ExtractStatus.ExtractionFailed && deep.text == "")
    assert(deep.error == "tar: no extractable members: snappy: nesting too deep" +
      " <- xz layer 3 <- tar member 'a.xz' <- gzip layer 1")
  }

  test("generic xml document extracts character data in order") {
    val xml = """<?xml version="1.0"?><catalog><item><name>Widget</name><price>9 dollars</price></item><item><name>Gadget</name></item></catalog>"""
    val r = Extract(xml.getBytes("UTF-8"))
    assert(r.contentType == "application/xml")
    assert(r.text == "Widget\n9 dollars\nGadget")
  }

  test("xml output mode flips per config (ref integration_test.go:181-218)") {
    val html = "<html><body><article><p>structured mode check with sufficient words in it</p></article></body></html>".getBytes("UTF-8")
    val plainR = Extract(html)
    val xmlR = Extract(html, ExtractorConfig(xmlOutput = true))
    assert(plainR.xml == "")
    assert(xmlR.xml.startsWith("<doc>") && xmlR.xml.contains("<p>"))
  }
}
