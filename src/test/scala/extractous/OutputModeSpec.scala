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

  def cases: Seq[Case] = corpus ++ extras

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

  test("the pinned cases reach every extractor and both output modes") {
    val names = pinned.map(_._1).toSet
    Seq("html", "pdf", "scanned_pdf", "docx", "odt", "odp", "xls", "ppt", "doc", "eml", "markdown",
      "epub", "plain", "image", "empty").foreach { k =>
      assert(names.exists(_.endsWith(s"/$k")), s"corpus kind $k missing")
    }
    Seq("html_alltext", "pdf_marked", "xlsx", "pptx", "ods", "pages", "msg_unicode", "rtf", "xml", "tar", "7z",
      "gz", "csv/100", "cal/0", "mbox/0", "archive/0", "warc/0").foreach(n => assert(names(n), n))
    assert(pinned.map(_._2).toSet == OutputModeDigests.configs.map(_._1).toSet)
  }
}
