package extractous.office

import extractous.config.ExtractorConfig
import extractous.core.Extract
import extractous.html.{HElem, HtmlDom}
import extractous.html.HtmlDom.{outermost, textOf}
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.sniff.MimeSniffer
import extractous.text.BlockSink
import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

/** OOXML (DOCX/XLSX/PPTX) extraction: `java.util.zip` unzip + lightweight XML
  * walk. Reproduces the reference's Office toggles
  * (/root/reference/config.go:244-415): tracked-change deletions (`w:del`),
  * move-from content (`w:moveFrom`), shape/text-box content (`w:txbxContent`),
  * and the VBA-macro flag (presence marker — we do not decode vbaProject.bin).
  */
object ZipUtil {
  /** Whole-archive inflated-output budget. With the per-entry budget
    * (default [[Extract.MaxLayerBytes]]) it makes a zip bomb fail the row
    * with an exception (status -4 upstream), never the executor JVM.
    */
  val MaxTotalBytes: Long = 512L * 1024 * 1024

  /** The one zip walk: file entries in archive order (directories skipped),
    * and the number of entries seen, directories included. Throws on
    * malformed zip data and on an entry past either budget.
    */
  private def walk(bytes: Array[Byte], maxEntry: Long, maxTotal: Long): (Seq[(String, Array[Byte])], Int) = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Seq.newBuilder[(String, Array[Byte])]
    var seen = 0
    var total = 0L
    try {
      var entry = zis.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var entryTotal = 0L
          var n = zis.read(buf)
          while (n >= 0) {
            entryTotal += n; total += n
            if (entryTotal > maxEntry || total > maxTotal)
              throw new IllegalStateException(s"zip entry '${entry.getName}' exceeds inflate budget")
            bos.write(buf, 0, n)
            n = zis.read(buf)
          }
          out += (entry.getName -> bos.toByteArray)
        }
        seen += 1
        entry = zis.getNextEntry
      }
    } finally zis.close()
    (out.result(), seen)
  }

  /** File entries in archive order — the archive walk, where member order is
    * the emission order.
    */
  def members(bytes: Array[Byte], maxEntry: Long = Extract.MaxLayerBytes,
      maxTotal: Long = MaxTotalBytes): Seq[(String, Array[Byte])] =
    walk(bytes, maxEntry, maxTotal)._1

  /** File entries by name (a later duplicate wins) — the package lookup of
    * OOXML, ODF, EPUB and iWork. Throws when the archive has no entries at all.
    */
  def entries(bytes: Array[Byte], maxEntry: Long = Extract.MaxLayerBytes,
      maxTotal: Long = MaxTotalBytes): Map[String, Array[Byte]] = {
    val (files, seen) = walk(bytes, maxEntry, maxTotal)
    if (seen == 0) throw new IllegalArgumentException("zip: no entries")
    files.toMap
  }
}

object OfficeExtractor {
  private val OdfBlocks = Set("text:h", "text:p", "table:table-row")

  /** dc:title / dc:creator at any depth; the last non-empty one of each wins. */
  private def dublinCore(root: HElem): Map[String, Seq[String]] =
    outermost(root)(e => e.name == "dc:title" || e.name == "dc:creator")
      .foldLeft(Map.empty[String, Seq[String]]) { (m, e) =>
        val t = textOf(e).trim
        if (t.nonEmpty) m + (e.name -> Seq(t)) else m
      }

  /** The parts `<prefix><N>.xml` in N order (lexicographic puts 10 before 2). */
  private def numbered(entries: Map[String, Array[Byte]], prefix: String): Seq[Array[Byte]] =
    entries.keys.filter(k => k.startsWith(prefix) && k.endsWith(".xml")).toSeq
      .sortBy(k => k.stripPrefix(prefix).stripSuffix(".xml").toIntOption.getOrElse(0)).map(entries)

  /** Dublin Core from docProps/core.xml when present. */
  private def coreProps(entries: Map[String, Array[Byte]]): Map[String, Seq[String]] =
    entries.get("docProps/core.xml").map(b => dublinCore(HtmlDom.parse(b))).getOrElse(Map.empty)

  /** Printable-ASCII runs of at least `minLen` chars in a binary stream — the
    * macro-source recovery a strings-scan of vbaProject.bin yields (the
    * reference surfaces macro text via Tika's VBAMacroExtractor,
    * /root/reference/config.go:323-327).
    */
  def printableStrings(bin: Array[Byte], minLen: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    def flush(): Unit = { if (sb.length >= minLen) out += sb.toString; sb.clear() }
    bin.foreach { b =>
      if (b >= 0x20 && b < 0x7f) sb.append(b.toChar) else flush()
    }
    flush()
    out.result()
  }

  def extract(bytes: Array[Byte], mime: String, cfg: ExtractorConfig): ExtractResult = {
    val entries =
      try ZipUtil.entries(bytes)
      catch {
        case e: Exception =>
          return ExtractResult.fail(ExtractStatus.ExtractionFailed, s"zip: ${e.getMessage}", mime)
      }
    mime match {
      case MimeSniffer.Docx => docx(entries, cfg)
      case MimeSniffer.Xlsx => xlsx(entries, cfg)
      case MimeSniffer.Pptx => pptx(entries, cfg)
      case MimeSniffer.Odt | MimeSniffer.Ods | MimeSniffer.Odp => odf(entries, mime, cfg)
      case _ =>
        ExtractResult.fail(ExtractStatus.UnsupportedFormat, "zip: not an OOXML package", MimeSniffer.Zip)
    }
  }

  /** OpenDocument text/spreadsheet/presentation: `content.xml` walk — every
    * `text:h`/`text:p` is a block, every `table:table-row` is one block of its
    * cells joined by spaces; `meta.xml` supplies Dublin Core metadata.
    */
  private def odf(entries: Map[String, Array[Byte]], mime: String, cfg: ExtractorConfig): ExtractResult = {
    val content = entries.getOrElse("content.xml",
      return ExtractResult.fail(ExtractStatus.ExtractionFailed, "odf: missing content.xml", mime))
    val sink = new BlockSink(cfg)

    // all descendant character data of one paragraph-ish node, ODF whitespace
    // elements (text:tab, text:s, text:line-break) folded to spaces
    def paraText(e: HElem): String = {
      val sb = new StringBuilder
      HtmlDom.walk(e)(sb.append(_), el => el.name match {
        case "text:tab" | "text:s" | "text:line-break" => sb.append(' '); false
        case _                                         => true
      })
      sb.toString
    }

    outermost(HtmlDom.parse(content))(e => OdfBlocks(e.name)).foreach { el =>
      el.name match {
        case "text:h" => sink.add("h1", paraText(el))
        case "text:p" => sink.add("p", paraText(el))
        case _ =>
          val cells = el.children.collect {
            case c: HElem if c.name == "table:table-cell" => paraText(c).trim
          }.filter(_.nonEmpty)
          sink.add("p", cells.mkString(" "))
      }
    }

    val meta = Map("Content-Type" -> Seq(mime)) ++
      entries.get("meta.xml").map(b => dublinCore(HtmlDom.parse(b))).getOrElse(Map.empty)
    sink.ok(meta, mime)
  }

  private def docx(entries: Map[String, Array[Byte]], cfg: ExtractorConfig): ExtractResult = {
    val doc = entries.getOrElse("word/document.xml",
      return ExtractResult.fail(ExtractStatus.ExtractionFailed, "docx: missing word/document.xml", MimeSniffer.Docx))
    val sink = new BlockSink(cfg)
    val o = cfg.office

    // Text of one w:p paragraph honoring the include/skip predicates; raw text
    // outside w:t is formatting noise. A text box's non-empty paragraphs join
    // the paragraph holding the box, space-separated. `bufs`, innermost first:
    // a buffer per open paragraph, null inside a text box but outside its
    // paragraphs; `openers`: the element that opened each entry but the last.
    def paragraphText(p: HElem): String = {
      var bufs = List(new StringBuilder)
      var openers = List.empty[HElem]
      def open(el: HElem, buf: StringBuilder): Boolean = { bufs ::= buf; openers ::= el; true }
      HtmlDom.walk(p)(_ => (), { el =>
        val sb = bufs.head
        if (sb == null) el.name != "w:p" || open(el, new StringBuilder)
        else el.name match {
          case "w:t"                     => sb.append(textOf(el)); false
          case "w:tab" | "w:br" | "w:cr" => sb.append(' '); false
          case "w:del"                   => o.includeDeletedContent
          case "w:deltext"               => if (o.includeDeletedContent) sb.append(textOf(el)); false
          case "w:movefrom"              => o.includeMoveFromContent
          case "w:txbxcontent"           => o.includeShapeBasedContent && open(el, null)
          case _                         => true // w:ins and the rest: walk through
        }
      }, { el =>
        if (openers.nonEmpty && (openers.head eq el)) {
          val done = bufs.head
          openers = openers.tail
          bufs = bufs.tail
          if (done != null && done.nonEmpty) {
            val host = bufs.tail.head // below the text box this paragraph sits in
            if (host.nonEmpty) host.append(' ')
            host.append(done)
          }
        }
      })
      bufs.head.toString
    }

    outermost(HtmlDom.parse(doc))(_.name == "w:p").foreach(p => sink.add("p", paragraphText(p)))

    var meta: Map[String, Seq[String]] = coreProps(entries) +
      ("Content-Type" -> Seq(MimeSniffer.Docx))
    if (o.extractMacros) entries.get("word/vbaProject.bin").foreach { bin =>
      meta += ("X-Has-Macros" -> Seq("true"))
      val sources = printableStrings(bin, minLen = 8)
      if (sources.nonEmpty) meta += ("X-VBA-Macros" -> sources)
    }
    sink.ok(meta, MimeSniffer.Docx)
  }

  private def xlsx(entries: Map[String, Array[Byte]], cfg: ExtractorConfig): ExtractResult = {
    // shared strings
    val shared: Vector[String] = entries.get("xl/sharedStrings.xml")
      .map(b => outermost(HtmlDom.parse(b))(_.name == "si").iterator.map(textOf).toVector).getOrElse(Vector.empty)

    val sink = new BlockSink(cfg)
    numbered(entries, "xl/worksheets/sheet").foreach { sheet =>
      def child(c: HElem, name: String): String =
        c.children.collectFirst { case el: HElem if el.name == name => textOf(el) }.getOrElse("")
      def cellValue(c: HElem): String = c.attrs.get("t") match {
        case Some("s") => shared.lift(child(c, "v").trim.toIntOption.getOrElse(-1)).getOrElse("")
        // an inline string holds its text in <is> (plain <t> or rich runs),
        // read like a shared-string item
        case Some("inlineStr") => child(c, "is")
        case _ => child(c, "v").trim
      }
      outermost(HtmlDom.parse(sheet))(_.name == "row").foreach { row =>
        val cells = row.children.collect { case c: HElem if c.name == "c" => cellValue(c) }.filter(_.nonEmpty)
        sink.add("p", cells.mkString(" "))
      }
    }
    val meta = coreProps(entries) + ("Content-Type" -> Seq(MimeSniffer.Xlsx))
    sink.ok(meta, MimeSniffer.Xlsx)
  }

  private def pptx(entries: Map[String, Array[Byte]], cfg: ExtractorConfig): ExtractResult = {
    val sink = new BlockSink(cfg)
    numbered(entries, "ppt/slides/slide").foreach { slide =>
      outermost(HtmlDom.parse(slide))(_.name == "a:p").foreach { p =>
        sink.add("p", outermost(p)(_.name == "a:t").iterator.map(textOf).mkString)
      }
    }
    val meta = coreProps(entries) + ("Content-Type" -> Seq(MimeSniffer.Pptx))
    sink.ok(meta, MimeSniffer.Pptx)
  }
}
