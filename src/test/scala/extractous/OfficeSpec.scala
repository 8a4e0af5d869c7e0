package extractous

import extractous.config.{ExtractorConfig, OfficeConfig}
import extractous.core.BudgetExceededException
import extractous.gen.DocxWriter
import extractous.model.ExtractStatus
import extractous.office.{OfficeExtractor, ZipUtil}
import extractous.sniff.MimeSniffer
import org.scalatest.funsuite.AnyFunSuite

class OfficeSpec extends AnyFunSuite {
  private val cfg = ExtractorConfig()
  private val docxBytes = DocxWriter.docx(Seq("Heading", "Body text"), "TheTitle", "GONE", "MOVED", "BOXED")

  test("docx default: deletions and move-from excluded, shapes included") {
    val r = OfficeExtractor.extract(docxBytes, MimeSniffer.Docx, cfg)
    assert(r.status == 0)
    assert(r.text == "Heading\nBody text\nBOXED")
    assert(r.metadata("dc:title") == Seq("TheTitle"))
  }
  test("docx includeDeletedContent") {
    val c = cfg.copy(office = OfficeConfig(includeDeletedContent = true))
    val r = OfficeExtractor.extract(docxBytes, MimeSniffer.Docx, c)
    assert(r.text == "Heading\nBody text\nGONE\nBOXED")
  }
  test("docx includeMoveFromContent") {
    val c = cfg.copy(office = OfficeConfig(includeMoveFromContent = true))
    val r = OfficeExtractor.extract(docxBytes, MimeSniffer.Docx, c)
    assert(r.text == "Heading\nBody text\nMOVED\nBOXED")
  }
  test("docx excludeShapeBasedContent") {
    val c = cfg.copy(office = OfficeConfig(includeShapeBasedContent = false))
    val r = OfficeExtractor.extract(docxBytes, MimeSniffer.Docx, c)
    assert(r.text == "Heading\nBody text")
  }
  test("config order independence (flags are plain data)") {
    val a = OfficeConfig(includeDeletedContent = true, includeMoveFromContent = true)
    val b = OfficeConfig(includeMoveFromContent = true, includeDeletedContent = true)
    assert(OfficeExtractor.extract(docxBytes, MimeSniffer.Docx, cfg.copy(office = a)).text ==
      OfficeExtractor.extract(docxBytes, MimeSniffer.Docx, cfg.copy(office = b)).text)
  }
  test("docx xml escaping roundtrip") {
    val d = DocxWriter.docx(Seq("a < b & c"), "t", "d", "m", "s")
    val r = OfficeExtractor.extract(d, MimeSniffer.Docx, cfg)
    assert(r.text.startsWith("a < b & c"))
  }
  test("corrupt zip yields -4") {
    val bad = Array[Byte]('P', 'K', 3, 4) ++ Array.tabulate[Byte](32)(i => (i * 7).toByte)
    val r = OfficeExtractor.extract(bad, MimeSniffer.Zip, cfg)
    assert(r.status == ExtractStatus.ExtractionFailed)
  }
  test("xlsx shared strings and inline values") {
    val shared = """<?xml version="1.0"?><sst xmlns="x"><si><t>alpha</t></si><si><t>beta</t></si></sst>"""
    val sheet = """<?xml version="1.0"?><worksheet xmlns="x"><sheetData>
      <row><c r="A1" t="s"><v>0</v></c><c r="B1"><v>42</v></c></row>
      <row><c r="A2" t="s"><v>1</v></c></row>
      </sheetData></worksheet>"""
    val zipb = DocxWriter.zip(Seq(
      "[Content_Types].xml" -> "<Types/>".getBytes("UTF-8"),
      "xl/sharedStrings.xml" -> shared.getBytes("UTF-8"),
      "xl/worksheets/sheet1.xml" -> sheet.getBytes("UTF-8")))
    val r = OfficeExtractor.extract(zipb, MimeSniffer.Xlsx, cfg)
    assert(r.text == "alpha 42\nbeta")
  }
  test("xlsx inline-string cells keep their text, plain or in rich runs") {
    val sheet = """<?xml version="1.0"?><worksheet xmlns="x"><sheetData>
      <row><c r="A1" t="inlineStr"><is><t>inline</t></is></c><c r="B1"><v> 7 </v></c></row>
      <row><c r="A2" t="inlineStr"><is><r><t>rich </t></r><r><t>runs</t></r></is></c><c r="B2" t="inlineStr"/></row>
      </sheetData></worksheet>"""
    val zipb = DocxWriter.zip(Seq(
      "[Content_Types].xml" -> "<Types/>".getBytes("UTF-8"),
      "xl/worksheets/sheet1.xml" -> sheet.getBytes("UTF-8")))
    assert(OfficeExtractor.extract(zipb, MimeSniffer.Xlsx, cfg).text == "inline 7\nrich runs")
  }
  test("xlsx sheets in numeric order (sheet10 after sheet2, not lexicographic)") {
    def sheet(v: String) =
      s"""<?xml version="1.0"?><worksheet xmlns="x"><sheetData><row><c r="A1"><v>$v</v></c></row></sheetData></worksheet>"""
    val zipb = DocxWriter.zip(Seq(
      "[Content_Types].xml" -> "<Types/>".getBytes("UTF-8"),
      "xl/worksheets/sheet10.xml" -> sheet("ten").getBytes("UTF-8"),
      "xl/worksheets/sheet1.xml" -> sheet("one").getBytes("UTF-8"),
      "xl/worksheets/sheet2.xml" -> sheet("two").getBytes("UTF-8")))
    val r = OfficeExtractor.extract(zipb, MimeSniffer.Xlsx, cfg)
    assert(r.text == "one\ntwo\nten")
  }
  test("pptx slide text in order") {
    def slide(ts: String*) =
      s"""<?xml version="1.0"?><p:sld xmlns:p="p" xmlns:a="a"><p:txBody>${ts.map(t => s"<a:p><a:r><a:t>$t</a:t></a:r></a:p>").mkString}</p:txBody></p:sld>"""
    val zipb = DocxWriter.zip(Seq(
      "[Content_Types].xml" -> "<Types/>".getBytes("UTF-8"),
      "ppt/slides/slide1.xml" -> slide("one", "two").getBytes("UTF-8"),
      "ppt/slides/slide2.xml" -> slide("three").getBytes("UTF-8"),
      "ppt/slides/slide10.xml" -> slide("ten").getBytes("UTF-8")))
    val r = OfficeExtractor.extract(zipb, MimeSniffer.Pptx, cfg)
    assert(r.text == "one\ntwo\nthree\nten") // numeric slide ordering, not lexicographic
  }

  test("zip walk: an entry past the per-entry inflate budget throws, without inflating it whole") {
    val MB = 1024 * 1024
    val bomb = DocxWriter.zip(Seq("zeros.bin" -> new Array[Byte](4 * MB)))
    assert(bomb.length < 64 * 1024) // deflated zeros: the budget, not the input size, is what bounds memory
    assert(ZipUtil.members(bomb, maxEntry = 4 * MB).map(_._2.length) == Seq(4 * MB))
    Seq[Array[Byte] => Any](ZipUtil.members(_, maxEntry = MB), ZipUtil.entries(_, maxEntry = MB)).foreach { walk =>
      val e = intercept[BudgetExceededException](walk(bomb))
      assert(e.getMessage == s"zip entry 'zeros.bin': output exceeds $MB-byte budget")
    }
  }

  test("zip walk: entries that together pass the whole-archive budget throw") {
    val KB = 1024
    val zip = DocxWriter.zip((1 to 5).map(i => s"part$i.bin" -> new Array[Byte](300 * KB)))
    assert(ZipUtil.members(zip, maxTotal = 1500 * KB).map(_._1) == (1 to 5).map(i => s"part$i.bin"))
    Seq[Array[Byte] => Any](ZipUtil.members(_, maxTotal = 1000 * KB), ZipUtil.entries(_, maxTotal = 1000 * KB)).foreach { walk =>
      val e = intercept[BudgetExceededException](walk(zip))
      // the entry's budget is what the first three entries left of the archive's
      assert(e.getMessage == s"zip entry 'part4.bin': output exceeds ${100 * KB}-byte budget")
    }
  }

  test("zip walk: entries keeps the later of two same-named entries, members keeps both in order") {
    // the writer refuses duplicate names: write "x.txt", then rename it in place
    val zip = new String(DocxWriter.zip(Seq("a.txt" -> "one".getBytes, "b.txt" -> "two".getBytes,
      "x.txt" -> "three".getBytes)), "ISO-8859-1").replace("x.txt", "a.txt").getBytes("ISO-8859-1")
    assert(ZipUtil.members(zip).map { case (n, b) => n -> new String(b) } == Seq("a.txt" -> "one", "b.txt" -> "two", "a.txt" -> "three"))
    assert(new String(ZipUtil.entries(zip)("a.txt")) == "three")
  }
}
