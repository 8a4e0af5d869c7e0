package extractous

import extractous.config.{ExtractorConfig, HtmlMode, PdfConfig}
import extractous.core.Extract
import extractous.gen._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** Characterization of the two output switches every extractor shares —
  * structured XML and the text-length cap. Each case is one payload under one
  * output config; the pinned value is a digest of (text, xml, status,
  * content type) recorded in `src/test/resources/golden/output_modes.tsv`.
  * Regenerate with `sbt "Test/runMain extractous.OutputModeDigests <file>"`
  * (FIXTURES.md §3).
  */
object OutputModeDigests {
  /** The output configs every payload runs under. */
  val configs: Seq[(String, ExtractorConfig)] = Seq(
    "text" -> CorpusGen.flagshipConfig,
    "xml" -> CorpusGen.flagshipConfig.copy(xmlOutput = true),
    "xml64" -> CorpusGen.flagshipConfig.copy(xmlOutput = true, maxStringLength = 64))

  /** A payload plus the non-output settings it needs (HTML mode, PDF tags). */
  final case class Case(name: String, bytes: Array[Byte], tweak: ExtractorConfig => ExtractorConfig = identity)

  private val text = "the quick brown fox jumps over the lazy dog, a < b & c > d, " +
    "café 😀 emoji and こんにちは"

  /** Every document of the golden corpus (all kinds of `CorpusGen.payload`). */
  private def corpus: Seq[Case] = {
    val dec = Base64.getDecoder
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden/corpus_sf0001.tsv"), "UTF-8")
    try src.getLines().map { line =>
      val f = line.split('\t')
      val id = f(0).toLong
      Case(s"corpus/$id/${CorpusGen.kindOf(id)}", CorpusGen.payload(id, new String(dec.decode(f(2)), UTF_8), f(1)))
    }.toVector
    finally src.close()
  }

  /** The formats the golden corpus lacks, and the per-site variants. */
  private def extras: Seq[Case] = {
    val members = Seq(
      "a.html" -> CorpusGen.htmlPayload(7, text, "en"),
      "b.txt" -> s"first line\n$text\nlast line".getBytes(UTF_8),
      "c.txt.gz" -> CorpusGen.gzMember(text.getBytes(UTF_8)))
    val ids = Seq(0L, 1L, 3L, 100L, 101L, 102L, 103L, 104L, 105L, 200L, 201L, 300L)
    Seq(
      Case("html_alltext", CorpusGen.htmlPayload(11, text, "en"), _.copy(htmlMode = HtmlMode.AllText)),
      Case("pdf_marked", CorpusGen.markedPdfPayload(12, text), c => c.copy(pdf = c.pdf.copy(extractMarkedContent = true))),
      Case("pdf_marked_plain", CorpusGen.markedPdfPayload(13, text)),
      Case("pdf_no_ocr", CorpusGen.payload(96, text, "en"), _.copy(pdf = PdfConfig())),
      Case("xlsx", CorpusGen.xlsxPayload(14, text)),
      Case("pptx", CorpusGen.pptxPayload(15, text)),
      Case("ods", OdfWriter.ods(Seq(Seq("Name", "Value"), Seq(text, "<x> & y"), Seq("", "")), "Sheet")),
      Case("pages", PagesWriter.pages(Seq("Heading one", text, "  spaced   out  "))),
      Case("msg_unicode", MsgWriter.msg("Subject é", "Sender", text, unicode = true)),
      Case("msg_ansi", MsgWriter.msg("Subject", "Sender", text.filter(_ < 256), unicode = false)),
      Case("rtf", ("{\\rtf1\\ansi{\\fonttbl{\\f0 Arial;}}\\f0 Hello \\'e9 world\\par " +
        "Second < & > paragraph\\tab tabbed\\line third line " + text.filter(_ < 128) + "\\par}").getBytes(UTF_8)),
      Case("xml", ("<?xml version=\"1.0\"?><root><a>one &amp; two</a><b>  three \n four </b>" +
        s"<c><d>${DocxWriter.xmlEsc(text)}</d></c></root>").getBytes(UTF_8)),
      Case("plain_long", (text + "\n\n" + ("x" * 61 + "😀") + "\n" + text * 3).getBytes(UTF_8)),
      // under xml64 the XML cut (59 chars of room after "<doc>") and the text
      // cut (1 char of room after a 62-char line) each land on a high surrogate
      Case("surrogate_xml_cut", ("a" * 58 + "😀zzz").getBytes(UTF_8)),
      Case("surrogate_text_cut", ("b" * 62 + "\n😀").getBytes(UTF_8)),
      Case("tar", TarWriter.tar(members)),
      Case("7z", SevenZWriter.sevenZ(members)),
      Case("gz", CorpusGen.gzMember(text.getBytes(UTF_8))),
      Case("gz_html", CorpusGen.gzMember(CorpusGen.htmlPayload(16, text, "en")))
    ) ++ Seq(0L, 1L, 100L, 101L).map(id => Case(s"csv/$id", CorpusGen.csvPayload(id, text))) ++
      Seq(0L, 100L).map(id => Case(s"csv_words/$id", CorpusGen.csvPayload(id, "plain cell words"))) ++
      Seq(0L, 100L).map(id => Case(s"cal/$id", CorpusGen.calPayload(id, text))) ++
      Seq(0L, 1L).map(id => Case(s"mbox/$id", CorpusGen.mboxPayload(id, text))) ++
      ids.map(id => Case(s"archive/$id", CorpusGen.archivePayload(id, text, "en"))) ++
      Seq(0L, 3L, 100L, 200L).map(id => Case(s"warc/$id", CorpusGen.warcPayload(id, text, "en")))
  }

  private def docx(body: String): Array[Byte] = DocxWriter.zip(Seq(
    "[Content_Types].xml" -> "<Types/>".getBytes(UTF_8),
    "word/document.xml" ->
      s"""<?xml version="1.0"?><w:document xmlns:w="w"><w:body>$body</w:body></w:document>""".getBytes(UTF_8)))

  private def epub(chapter: String): Array[Byte] = DocxWriter.zip(Seq(
    "mimetype" -> "application/epub+zip".getBytes(UTF_8),
    "META-INF/container.xml" ->
      """<?xml version="1.0"?><container><rootfiles><rootfile full-path="c.opf"/></rootfiles></container>""".getBytes(UTF_8),
    "c.opf" -> ("""<?xml version="1.0"?><package><metadata><dc:title>Nested <b>blocks</b></dc:title></metadata>""" +
      """<manifest><item id="c1" href="c1.xhtml"/></manifest><spine><itemref idref="c1"/></spine></package>""").getBytes(UTF_8),
    "c1.xhtml" -> s"""<?xml version="1.0"?><html><body>$chapter</body></html>""".getBytes(UTF_8)),
    storedNames = Set("mimetype"))

  /** Tree shapes each markup extractor walks: nested, empty and mixed
    * content, elements in odd places. Nesting stays at most 100 deep.
    */
  private def domShapes: Seq[Case] = {
    def run(t: String) = s"<w:r><w:t>$t</w:t></w:r>"
    def para(inner: String) = s"<w:p>$inner</w:p>"
    def box(paras: String*) = s"<w:r><w:pict><w:txbxContent>${paras.mkString}</w:txbxContent></w:pict></w:r>"
    val docxBoxes = docx(
      para(run("Host before") + box(para(run("box one")), para(""), para(run("box two") + "<w:r><w:tab/></w:r>" + run("tabbed"))) +
        run(" host after")) +
      para(box(para(run("only box")))) +
      para(box(para(run("outer box") + box(para(run("inner box"))) + run("outer tail")), "<w:t>stray in box</w:t>")) +
      para(box(para(""), para(""))) +
      para(box(para(box(para(box(para(run("three deep")))))))) +
      para("<w:del>" + box(para(run("deleted box"))) + "</w:del>" + run("kept")) +
      para("<w:ins>" + run("inserted") + "</w:ins><w:del><w:r><w:delText>deleted</w:delText></w:r></w:del>" +
        "<w:moveFrom>" + run("moved") + "</w:moveFrom><w:r><w:br/><w:t>after break</w:t><w:cr/></w:r>") +
      "<w:tbl><w:tr><w:tc>" + para(run("cell para")) + "</w:tc></w:tr></w:tbl>" +
      "<w:sdt><w:sdtContent>" + para(run("in sdt")) + "</w:sdtContent></w:sdt>" +
      para(run("direct") + para(run("nested p"))) +
      "<w:t>body text outside paragraphs</w:t>" + para(""))
    val odt = DocxWriter.zip(Seq(
      "mimetype" -> OdfWriter.OdtMime.getBytes(UTF_8),
      "content.xml" -> ("""<?xml version="1.0"?><office:document-content><office:body><office:text>""" +
        """<text:h>Head<text:tab/>ing</text:h><text:p>one<text:s/>two<text:s text:c="3"/>three<text:line-break/>four</text:p>""" +
        """<text:p>span <text:span>inner <text:span>deeper<text:tab/></text:span></text:span>tail</text:p>""" +
        """<text:list><text:list-item><text:p>list item</text:p></text:list-item></text:list>""" +
        """<text:p>outer <text:note><text:note-body><text:p>note para</text:p></text:note-body></text:note> after</text:p>""" +
        """<text:section><text:section><text:p>in sections</text:p></text:section></text:section>""" +
        """<table:table><table:table-row><table:table-cell><text:p>c1</text:p></table:table-cell>""" +
        """<table:table-cell></table:table-cell><table:table-cell><text:p> c<text:s/>3 </text:p><text:p>more</text:p></table:table-cell>""" +
        """<table:covered-table-cell><text:p>covered</text:p></table:covered-table-cell></table:table-row>""" +
        """<table:table-row><table:table-cell/></table:table-row></table:table>loose text""" +
        """</office:text></office:body></office:document-content>""").getBytes(UTF_8),
      "meta.xml" -> ("""<?xml version="1.0"?><office:document-meta><office:meta><dc:title></dc:title>""" +
        """<x><dc:title>Odd <b>title</b></dc:title></x><dc:creator> maker </dc:creator></office:meta></office:document-meta>""").getBytes(UTF_8)),
      storedNames = Set("mimetype"))
    val xlsx = DocxWriter.zip(Seq(
      "[Content_Types].xml" -> "<Types/>".getBytes(UTF_8),
      "xl/sharedStrings.xml" -> ("""<?xml version="1.0"?><sst><si><t>plain</t></si><si><r><t>rich </t></r><r><t>runs</t></r></si>""" +
        """<si><t></t></si><si><t> padded </t><rPh><t>phonetic</t></rPh></si></sst>""").getBytes(UTF_8),
      "xl/worksheets/sheet2.xml" -> ("""<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row><c t="s"><v>0</v></c><c t="inlineStr"><is><t>inline</t></is></c><c><v> 42 </v></c><c/><c t="s"><v>1</v></c></row>""" +
        """<row><c t="s"><v>2</v></c><c></c></row><row><c t="s"><v>99</v></c><c t="s"><v>x</v></c><c t="s"><v>3</v></c></row>""" +
        """<row><c><f>SUM(A1)</f><v>7</v></c><c t="str"><v>text formula</v></c></row></sheetData></worksheet>""").getBytes(UTF_8),
      "xl/worksheets/sheet10.xml" -> """<?xml version="1.0"?><worksheet><sheetData><row><c><v>ten</v></c></row></sheetData></worksheet>""".getBytes(UTF_8),
      "xl/worksheets/sheet1.xml" -> """<?xml version="1.0"?><worksheet><sheetData><row><c><v>one</v></c></row></sheetData></worksheet>""".getBytes(UTF_8)))
    def slide(body: String) = s"""<?xml version="1.0"?><p:sld><p:cSld><p:spTree>$body</p:spTree></p:cSld></p:sld>""".getBytes(UTF_8)
    val pptx = DocxWriter.zip(Seq(
      "[Content_Types].xml" -> "<Types/>".getBytes(UTF_8),
      "ppt/slides/slide1.xml" -> slide(
        """<p:sp><p:txBody><a:p><a:r><a:t>Hello </a:t></a:r><a:r><a:rPr b="1"/><a:t>bold</a:t></a:r><a:br/><a:r><a:t> world</a:t></a:r></a:p>""" +
        """<a:p></a:p><a:p><a:fld><a:t>field 1</a:t></a:fld><a:endParaRPr/></a:p></p:txBody></p:sp>"""),
      "ppt/slides/slide2.xml" -> slide(
        """<p:grpSp><p:sp><p:txBody><a:p><a:r><a:t>grouped</a:t></a:r></a:p></p:txBody></p:sp></p:grpSp>""" +
        """<p:graphicFrame><a:tbl><a:tr><a:tc><a:txBody><a:p><a:r><a:t>cell</a:t></a:r></a:p></a:txBody></a:tc></a:tr></a:tbl></p:graphicFrame>""" +
        """<a:t>stray run</a:t>""")))
    val epubNested = epub(
      "<ul><li><p>item para</p></li><li>plain item <b>bold</b></li><li><ol><li>inner item</li></ol></li></ul>" +
      "<div><p>div para</p><h2>Sub <i>heading</i></h2></div><p>outer <span><p>inner p</p></span> tail</p>" +
      "<blockquote>quote text</blockquote><table><tr><td><p>cell para</p></td></tr></table>" +
      "<section><h1>Deep</h1>" + "<div>" * 90 + "<p>ninety divs</p>" + "</div>" * 90 + "</section>")
    val xmlMixed = ("""<?xml version="1.0"?><doc>lead <b>bold</b> tail<empty/><list><item>one</item>""" +
      """<item>two &amp; three</item></list>mixed <i>in<u>ner</u></i>end<!-- comment --><x/>  <y>  </y>last</doc>""").getBytes(UTF_8)
    val htmlOnly = "<html><body><p>Para one</p><div>a<b>b</b>c</div>x &lt; y<br>line<ul><li>i1<li>i2</ul></body></html>"
    def alt(b: String, html: String) =
      s"Content-Type: multipart/alternative; boundary=\"$b\"\r\n\r\n--$b\r\nContent-Type: text/html; charset=utf-8\r\n\r\n$html\r\n--$b--\r\n"
    val mailHtml = ("From: a@example.com\r\nSubject: Html only\r\nMIME-Version: 1.0\r\n" + alt("alt1", htmlOnly)).getBytes(UTF_8)
    val mailNested = ("From: a@example.com\r\nSubject: Nested html\r\nMIME-Version: 1.0\r\n" +
      "Content-Type: multipart/mixed; boundary=\"mix\"\r\n\r\n--mix\r\n" + alt("alt2", "<div><p>nested</p>" + "<span>" * 50 +
        "deep" + "</span>" * 50 + "<i>x</i><i></i><i>y</i></div>") + "\r\n--mix--\r\n").getBytes(UTF_8)
    val html = ("""<html><head><meta name="Description" content="desc &amp; more"><noscript><meta property="og:title" content="OG">""" +
      """</noscript><title>Main <b>title</b> here</title><title>Second title</title><meta name="empty" content=""></head>""" +
      """<body><title>body title</title><meta name="late" content="body meta">""" +
      """<nav><div class="content">nav content scope <a href="/x">link</a></div><p>plain nav para with enough words to count</p></nav>""" +
      """<article><div class="sidebar"><p>Sidebar inside article one two three four five six</p></div>""" +
      """<p>Para with <a href="/a">an anchor <b>bold anchor</b></a> and trailing text words here to pass</p></article>""" +
      """<div class="main-content"><aside><p>aside inside content scope words words words</p></aside></div>""" +
      """<div class="menu"><div id="post"><div class="footer-links"><p>three scopes deep with a few words</p></div></div></div>""" +
      """<div><p>Block <a href="/1">one</a><br>after br <a>no href</a> text words words words words</p>""" +
      """<p><a href="/2">all <a href="/3">nested links</a> here</a></p></div>""" +
      """<table><tr><td>a cell with five words<td>b cell with five words<tr><td>c row two with words</table>""" +
      """<footer><p>Footer words one two three four five six seven eight nine ten</p></footer>""" +
      """<head><title>late head title</title><meta name="description" content="second description"></head>""" +
      """<h2>A heading with <em>several</em> words</h2><script>var x = "<p>not text</p>";</script>""" +
      """<p>Unclosed <b>bold <i>italic</p><p>next para after unclosed tags with words</p>""" +
      "<div>" * 90 + "<p>ninety divs deep with several more words</p>" + "</div>" * 90 +
      """</body></html>""").getBytes(UTF_8)
    Seq(
      Case("dom/docx_textbox", docxBoxes),
      Case("dom/docx_textbox_toggles", docxBoxes, c => c.copy(office = c.office.copy(
        includeDeletedContent = true, includeMoveFromContent = true, includeShapeBasedContent = false))),
      Case("dom/docx_textbox_deleted", docxBoxes, c => c.copy(office = c.office.copy(includeDeletedContent = true))),
      Case("dom/odt_whitespace", odt),
      Case("dom/xlsx_cells", xlsx),
      Case("dom/pptx_runs", pptx),
      Case("dom/epub_nested", epubNested),
      Case("dom/xml_mixed", xmlMixed),
      Case("dom/eml_html_only", mailHtml),
      Case("dom/eml_nested_html", mailNested),
      Case("dom/html_odd", html),
      Case("dom/html_odd_alltext", html, _.copy(htmlMode = HtmlMode.AllText)))
  }

  def cases: Seq[Case] = corpus ++ extras ++ domShapes

  def digest(c: Case, cfg: ExtractorConfig): String = {
    val r = Extract(c.bytes, c.tweak(cfg))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Seq(r.text, r.xml, r.status.toString, r.contentType).foreach { s =>
      md.update(s.getBytes(UTF_8)); md.update(0.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** `(case, config) → digest` for every case under every config. */
  def all: Seq[(String, String, String)] =
    for (c <- cases; (cn, cfg) <- configs) yield (c.name, cn, digest(c, cfg))

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    try all.foreach { case (c, cn, d) => out.println(s"$c\t$cn\t$d") }
    finally out.close()
  }
}

class OutputModeSpec extends AnyFunSuite {
  private def pinned: Seq[(String, String, String)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden/output_modes.tsv"), "UTF-8")
    try src.getLines().map { l => val f = l.split('\t'); (f(0), f(1), f(2)) }.toVector
    finally src.close()
  }

  test("text, xml, status and content type are pinned for every case under every output config") {
    val want = pinned
    val got = OutputModeDigests.all
    assert(got.map(g => (g._1, g._2)) == want.map(w => (w._1, w._2)), "case list differs from the pinned resource")
    val diff = got.zip(want).collect { case (g, w) if g._3 != w._3 => s"${g._1} [${g._2}]" }
    assert(diff.isEmpty, diff.mkString("changed: ", ", ", ""))
  }

  test("xml64: the document before the last element's markup, with its text unescaped, fits the cap") {
    val cap = 64
    val cfg = OutputModeDigests.configs.collectFirst { case ("xml64", c) => c }.get
    assert(cfg.maxStringLength == cap)
    val over = OutputModeDigests.cases.flatMap { c =>
      val xml = Extract(c.bytes, c.tweak(cfg)).xml
      if (xml.isEmpty) None
      else {
        assert(xml.startsWith("<doc>") && xml.endsWith("\n</doc>"), c.name)
        val body = xml.dropRight("\n</doc>".length)
        if (body == "<doc>") None
        else {
          val tag = body.substring(body.lastIndexOf("</") + 2, body.length - 1)
          val open = body.lastIndexOf(s"\n<$tag>")
          val text = body.substring(open + tag.length + 3, body.length - tag.length - 3)
          val growth = 4 * "&amp;".r.findAllIn(text).size + 3 * "&(lt|gt);".r.findAllIn(text).size
          val counted = open + text.length - growth
          assert(xml.length == counted + 2 * tag.length + 13 + growth, c.name)
          Some(c.name -> counted)
        }
      }
    }
    assert(over.nonEmpty)
    val beyond = over.filter(_._2 > cap)
    assert(beyond.isEmpty, beyond.mkString("over the cap: ", ", ", ""))
    // the bound is reached, not just respected: cut elements fill the cap
    assert(over.count(_._2 == cap) > 0)
  }

  test("the pinned cases reach every extractor and both output modes") {
    val names = pinned.map(_._1).toSet
    Seq("html", "pdf", "scanned_pdf", "docx", "odt", "odp", "xls", "ppt", "doc", "eml", "markdown",
      "epub", "plain", "image", "empty").foreach { k =>
      assert(names.exists(_.endsWith(s"/$k")), s"corpus kind $k missing")
    }
    Seq("html_alltext", "pdf_marked", "xlsx", "pptx", "ods", "pages", "msg_unicode", "rtf", "xml", "tar", "7z",
      "gz", "csv/100", "cal/0", "mbox/0", "archive/0", "warc/0", "dom/docx_textbox", "dom/odt_whitespace",
      "dom/xlsx_cells", "dom/pptx_runs", "dom/epub_nested", "dom/xml_mixed", "dom/eml_html_only",
      "dom/html_odd").foreach(n => assert(names(n), n))
    assert(pinned.map(_._2).toSet == OutputModeDigests.configs.map(_._1).toSet)
  }
}
