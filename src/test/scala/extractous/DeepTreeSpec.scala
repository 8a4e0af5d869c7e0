package extractous

import extractous.config.ExtractorConfig
import extractous.core.Extract
import extractous.gen.{DocxWriter, OdfWriter, PdfWriter}
import extractous.html.HtmlDom
import extractous.model.ExtractStatus
import extractous.sniff.MimeSniffer
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

/** A document's status is a property of the document, not of the thread
  * that extracts it: deeply nested markup extracts the same on any stack.
  */
class DeepTreeSpec extends AnyFunSuite {
  private val cfg = ExtractorConfig()

  /** `f` on a fresh thread with a `stackSize`-byte stack. */
  private def onStack[T](stackSize: Long)(f: => T): T = {
    var out: Either[Throwable, T] = null
    val t = new Thread(null, () => out = try Right(f) catch { case e: Throwable => Left(e) }, "deep-tree", stackSize)
    t.start()
    t.join()
    out.fold(e => throw e, identity)
  }

  private def stream(content: String): String =
    s"<< /Length ${content.length} >>\nstream\n$content\nendstream"

  private def nest(open: String, close: String, n: Int, inner: String): String =
    open * n + inner + close * n

  private def docx(body: String): Array[Byte] = DocxWriter.zip(Seq(
    "[Content_Types].xml" -> "<Types/>".getBytes(UTF_8),
    "word/document.xml" ->
      s"""<?xml version="1.0"?><w:document xmlns:w="w"><w:body>$body</w:body></w:document>""".getBytes(UTF_8)))

  private def odt(text: String): Array[Byte] = DocxWriter.zip(Seq(
    "mimetype" -> OdfWriter.OdtMime.getBytes(UTF_8),
    "content.xml" -> s"""<?xml version="1.0"?><office:document-content><office:body><office:text>$text</office:text></office:body></office:document-content>""".getBytes(UTF_8)),
    storedNames = Set("mimetype"))

  private def epub(chapter: String): Array[Byte] = DocxWriter.zip(Seq(
    "mimetype" -> "application/epub+zip".getBytes(UTF_8),
    "META-INF/container.xml" -> """<container><rootfiles><rootfile full-path="c.opf"/></rootfiles></container>""".getBytes(UTF_8),
    "c.opf" -> """<package><manifest><item id="c1" href="c1.xhtml"/></manifest><spine><itemref idref="c1"/></spine></package>""".getBytes(UTF_8),
    "c1.xhtml" -> s"<html><body>$chapter</body></html>".getBytes(UTF_8)),
    storedNames = Set("mimetype"))

  private def htmlMail(html: String): Array[Byte] =
    ("From: a@example.com\r\nSubject: deep\r\nMIME-Version: 1.0\r\nContent-Type: multipart/alternative; boundary=\"b\"\r\n\r\n" +
      s"--b\r\nContent-Type: text/html\r\n\r\n$html\r\n--b--\r\n").getBytes(UTF_8)

  /** A text/plain part wrapped in `n` nested multipart/mixed parts. */
  private def nestedMail(n: Int): Array[Byte] = {
    val mail = (1 to n).foldLeft("Content-Type: text/plain\r\n\r\nmime marker\r\n") { (part, i) =>
      s"Content-Type: multipart/mixed; boundary=\"b$i\"\r\n\r\n--b$i\r\n$part--b$i--\r\n"
    }
    ("From: a@example.com\r\nSubject: nested\r\nMIME-Version: 1.0\r\n" + mail).getBytes(UTF_8)
  }

  /** 100k stray `}`, which the COS lexer skips, between the catalog's
    * entries and inside the page's content stream.
    */
  private val strayBracesPdf: Array[Byte] = {
    val braces = "}" * 100000
    PdfWriter.assembleObjects(Seq(
      s"<< /Type /Catalog $braces /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
      stream(s"BT /F1 12 Tf 72 720 Td $braces (Hello braces) Tj ET")).map(_.getBytes(UTF_8)), "/Root 1 0 R")
  }

  // enough words to count as main content
  private val para = "a deep paragraph marker with more than ten words in it"

  /** (name, payload, a text its extraction must contain) */
  private val hostile: Seq[(String, Array[Byte], String)] =
    Seq(500, 1000, 5000, 20000, 100000).map { d =>
      (s"html div x$d", ("<html><body>" + nest("<div>", "</div>", d, s"<p>$para</p>") + "</body></html>").getBytes(UTF_8), para)
    } ++ Seq(
      ("html unclosed b x100k", ("<html><body><p>" + "<b>" * 100000 + s"$para</p></body></html>").getBytes(UTF_8), para),
      ("xml 20k deep", ("<?xml version=\"1.0\"?>" + nest("<n>", "</n>", 20000, "xml marker")).getBytes(UTF_8), "xml marker"),
      ("docx sdt x20k", docx(nest("<w:sdt><w:sdtContent>", "</w:sdtContent></w:sdt>", 20000,
        "<w:p><w:r><w:t>docx marker</w:t></w:r></w:p>")), "docx marker"),
      ("docx text boxes x5k", docx(nest("<w:p><w:r><w:pict><w:txbxContent>", "</w:txbxContent></w:pict></w:r></w:p>", 5000,
        "<w:p><w:r><w:t>box marker</w:t></w:r></w:p>")), "box marker"),
      ("html mail 20k deep", htmlMail(nest("<div>", "</div>", 20000, "mail marker")), "mail marker"),
      ("multipart mail 1000 deep", nestedMail(1000), "mime marker"),
      ("epub div x20k", epub(nest("<div>", "</div>", 20000, "<p>epub marker</p>")), "epub marker"),
      ("odt section x20k", odt(nest("<text:section>", "</text:section>", 20000, "<text:p>odt marker</text:p>")), "odt marker"),
      ("odt span x20k", odt("<text:p>" + nest("<text:span>", "</text:span>", 20000, "span marker") + "</text:p>"), "span marker"),
      ("pdf stray } x100k", strayBracesPdf, "Hello braces"))

  test("hostile nesting extracts byte-identically on 256 KB, 1 MB and 8 MB thread stacks, with status 0 and its type") {
    val failures = hostile.flatMap { case (name, bytes, marker) =>
      val rows = Seq(256L << 10, 1L << 20, 8L << 20).map(s => s -> onStack(s)(Extract(bytes, cfg)))
      val (_, first) = rows.head
      val sniffed = MimeSniffer.sniff(bytes)
      rows.collect {
        case (s, r) if r != first => s"$name: row at ${s >> 10} KB differs from the row at 256 KB"
        case (s, r) if r.status != ExtractStatus.Ok => s"$name at ${s >> 10} KB: status ${r.status} ${r.error}"
        case (s, r) if r.contentType != sniffed => s"$name at ${s >> 10} KB: content type ${r.contentType}, sniffed $sniffed"
        case (s, r) if !r.text.contains(marker) => s"$name at ${s >> 10} KB: '$marker' missing"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("nested multipart: the first text part in preorder wins, and a level's own text part beats its nested ones") {
    def multi(b: String, parts: String*) =
      s"Content-Type: multipart/mixed; boundary=\"$b\"\r\n\r\n" + parts.map(p => s"--$b\r\n$p\r\n").mkString + s"--$b--"
    def plain(t: String) = s"Content-Type: text/plain\r\n\r\n$t"
    val pdf = "Content-Type: application/pdf\r\n\r\n%PDF-"
    def text(body: String) = {
      val r = Extract(("From: a@example.com\r\nSubject: pick\r\nMIME-Version: 1.0\r\n" + body).getBytes(UTF_8), cfg)
      assert(r.status == ExtractStatus.Ok, r.error)
      assert(r.contentType == MimeSniffer.Eml)
      r.text
    }
    assert(text(multi("a", pdf, multi("b", pdf, multi("c", plain("deep first"))), multi("d", plain("second")))) ==
      "pick\ndeep first")
    assert(text(multi("a", multi("b", plain("nested")), "Content-Type: text/html\r\n\r\n<p>direct html</p>")) ==
      "pick\ndirect html")
  }

  test("an unmatched end tag costs O(1): n open <b> then n </i> parses in time linear in n") {
    def doc(n: Int) = "<b>" * n + "</i>" * n
    // the best of three runs of each size, so one GC pause or busy neighbour
    // does not decide the ratio
    def secs(page: String): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      assert(HtmlDom.parse(page).children.size == 1)
      (System.nanoTime() - t0) / 1e9
    }.min
    secs(doc(10000)) // warm-up
    val (small, large) = (secs(doc(10000)), secs(doc(80000)))
    // 8x the input: linear time reads about 8x, a scan per end tag 64x
    assert(large / small < 24, f"10k: $small%.4f s, 80k: $large%.4f s")
    assert(large < 10, f"80k: $large%.2f s")
  }

  test("nested multipart mail extracts in time linear in its depth") {
    def secs(mail: Array[Byte]): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val r = Extract(mail, cfg)
      assert(r.status == ExtractStatus.Ok && r.text.contains("mime marker"), r.error)
      (System.nanoTime() - t0) / 1e9
    }.min
    val (shallow, deep) = (nestedMail(1000), nestedMail(8000))
    secs(shallow) // warm-up
    val (small, large) = (secs(shallow), secs(deep))
    // 8x the depth and about 8x the bytes: linear time reads about 8x, a
    // copy or a scan of each level's whole body 64x
    assert(large / small < 12, f"1000 levels: $small%.4f s, 8000 levels: $large%.4f s")
    assert(large < 10, f"8000 levels: $large%.2f s")
  }

  test("a PDF page tree whose /Kids lists its own node still yields its page") {
    val pdf = PdfWriter.assembleObjects(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
      stream("BT /F1 12 Tf 72 720 Td (Hello cycle) Tj ET")).map(_.getBytes(UTF_8)), "/Root 1 0 R")
    val r = Extract(pdf, cfg)
    assert(r.status == ExtractStatus.Ok, r.error)
    assert(r.contentType == MimeSniffer.Pdf)
    assert(r.text == "Hello cycle")
  }

  test("a PDF page node listed twice under one /Kids yields its page once") {
    // each node of the page tree is visited once, so a shared subtree cannot
    // multiply the pages
    val pdf = PdfWriter.assembleObjects(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R 3 0 R 5 0 R] /Count 3 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
      stream("BT /F1 12 Tf 72 720 Td (Hello twice) Tj ET"),
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 6 0 R >>",
      stream("BT /F1 12 Tf 72 720 Td (Hello after) Tj ET")).map(_.getBytes(UTF_8)), "/Root 1 0 R")
    val r = Extract(pdf, cfg)
    assert(r.status == ExtractStatus.Ok, r.error)
    assert(r.text.split("\n").filter(_.nonEmpty).toSeq == Seq("Hello twice", "Hello after"))
  }

  test("the deep-recursion backstop keeps the sniffed content type and its message") {
    // arrays nested 100k deep in a PDF object: the COS lexer still recurses
    // per nesting level
    val deepArray = PdfWriter.assembleObjects(Seq(
      "<< /Type /Catalog /Pages 2 0 R /X " + "[" * 100000 + " >>").map(_.getBytes(UTF_8)), "/Root 1 0 R")
    val r = onStack(256L << 10)(Extract(deepArray, cfg))
    assert(r.status == ExtractStatus.ExtractionFailed)
    assert(r.error == "extraction failed: deep recursion")
    assert(r.contentType == MimeSniffer.Pdf)
    assert(r.metadata("Content-Type") == Seq(MimeSniffer.Pdf))
  }

  test("Dublin Core: the last non-empty dc:title and dc:creator at any depth win (DOCX core.xml, ODF meta.xml)") {
    val props = "<dc:title></dc:title><x><dc:title> Deep <b>title</b> </dc:title></x><dc:creator>first</dc:creator>" +
      "<y><z><dc:creator>second</dc:creator></z></y><dc:title>  </dc:title>"
    val d = DocxWriter.zip(Seq(
      "[Content_Types].xml" -> "<Types/>".getBytes(UTF_8),
      "word/document.xml" -> "<w:document><w:body><w:p><w:r><w:t>x</w:t></w:r></w:p></w:body></w:document>".getBytes(UTF_8),
      "docProps/core.xml" -> s"<cp:coreProperties>$props</cp:coreProperties>".getBytes(UTF_8)))
    val o = DocxWriter.zip(Seq(
      "mimetype" -> OdfWriter.OdtMime.getBytes(UTF_8),
      "content.xml" -> "<office:text><text:p>x</text:p></office:text>".getBytes(UTF_8),
      "meta.xml" -> s"<office:document-meta><office:meta>$props</office:meta></office:document-meta>".getBytes(UTF_8)),
      storedNames = Set("mimetype"))
    Seq(d, o).foreach { bytes =>
      val r = Extract(bytes, cfg)
      assert(r.status == ExtractStatus.Ok, r.error)
      assert(r.metadata("dc:title") == Seq("Deep title"))
      assert(r.metadata("dc:creator") == Seq("second"))
    }
  }
}
