package extractous.office

import extractous.config.ExtractorConfig
import extractous.core.Extract
import extractous.html.{HElem, HNode, HText, HtmlDom}
import extractous.html.HtmlDom.textOf
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
  private def xml(bytes: Array[Byte]): HElem =
    HtmlDom.parse(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))

  /** Collect dc:title / dc:creator from docProps/core.xml when present. */
  private def coreProps(entries: Map[String, Array[Byte]]): Map[String, Seq[String]] = {
    entries.get("docProps/core.xml").map { b =>
      val root = xml(b)
      var m = Map.empty[String, Seq[String]]
      def walk(e: HElem): Unit = e.children.foreach {
        case el: HElem =>
          el.name match {
            case "dc:title"   => val t = textOf(el).trim; if (t.nonEmpty) m += ("dc:title" -> Seq(t))
            case "dc:creator" => val t = textOf(el).trim; if (t.nonEmpty) m += ("dc:creator" -> Seq(t))
            case _            => walk(el)
          }
        case _ =>
      }
      walk(root)
      m
    }.getOrElse(Map.empty)
  }

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
    val root = xml(content)
    val sink = new BlockSink(cfg)

    // all descendant character data of one paragraph-ish node, ODF whitespace
    // elements (text:tab, text:s, text:line-break) folded to spaces
    def paraText(e: HElem): String = {
      val sb = new StringBuilder
      def walk(n: HNode): Unit = n match {
        case HText(t) => sb.append(t)
        case el: HElem =>
          el.name match {
            case "text:tab" | "text:s" | "text:line-break" => sb.append(' ')
            case _                                         => el.children.foreach(walk)
          }
      }
      walk(e)
      sb.toString
    }

    def walk(e: HElem): Unit = e.children.foreach {
      case el: HElem =>
        el.name match {
          case "text:h" => sink.add("h1", paraText(el))
          case "text:p" => sink.add("p", paraText(el))
          case "table:table-row" =>
            val cells = el.children.collect {
              case c: HElem if c.name == "table:table-cell" => paraText(c).trim
            }.filter(_.nonEmpty)
            sink.add("p", cells.mkString(" "))
          case _ => walk(el)
        }
      case _ =>
    }
    walk(root)

    // meta.xml Dublin Core
    var meta: Map[String, Seq[String]] = Map("Content-Type" -> Seq(mime))
    entries.get("meta.xml").foreach { b =>
      val m = xml(b)
      def find(e: HElem): Unit = e.children.foreach {
        case el: HElem =>
          el.name match {
            case "dc:title"   => val t = textOf(el).trim; if (t.nonEmpty) meta += ("dc:title" -> Seq(t))
            case "dc:creator" => val t = textOf(el).trim; if (t.nonEmpty) meta += ("dc:creator" -> Seq(t))
            case _            => find(el)
          }
        case _ =>
      }
      find(m)
    }
    sink.ok(meta, mime)
  }

  private def docx(entries: Map[String, Array[Byte]], cfg: ExtractorConfig): ExtractResult = {
    val doc = entries.getOrElse("word/document.xml",
      return ExtractResult.fail(ExtractStatus.ExtractionFailed, "docx: missing word/document.xml", MimeSniffer.Docx))
    val root = xml(doc)
    val sink = new BlockSink(cfg)
    val o = cfg.office

    // Collect text of one w:p paragraph honoring the include/skip predicates.
    def paragraphText(p: HElem): String = {
      val sb = new StringBuilder
      def walk(e: HElem): Unit = e.children.foreach {
        case HText(_) => // raw text outside w:t is formatting noise
        case el: HElem =>
          el.name match {
            case "w:t"            => sb.append(textOf(el))
            case "w:tab"          => sb.append(' ')
            case "w:br" | "w:cr"  => sb.append(' ')
            case "w:del"          => if (o.includeDeletedContent) walk(el)
            case "w:deltext"      => if (o.includeDeletedContent) sb.append(textOf(el))
            case "w:movefrom"     => if (o.includeMoveFromContent) walk(el)
            case "w:txbxcontent"  => if (o.includeShapeBasedContent) walkBlocks(el)
            case "w:ins"          => walk(el) // insertions always included
            case _                => walk(el)
          }
      }
      def walkBlocks(e: HElem): Unit = e.children.foreach {
        case el: HElem if el.name == "w:p" =>
          val t = paragraphText(el)
          if (t.nonEmpty) { if (sb.nonEmpty) sb.append(' '); sb.append(t) }
        case el: HElem => walkBlocks(el)
        case _ =>
      }
      walk(p)
      sb.toString
    }

    def walkBody(e: HElem): Unit = e.children.foreach {
      case el: HElem if el.name == "w:p" => sink.add("p", paragraphText(el))
      case el: HElem => walkBody(el)
      case _ =>
    }
    walkBody(root)

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
    val shared: Vector[String] = entries.get("xl/sharedStrings.xml").map { b =>
      val root = xml(b)
      val out = Vector.newBuilder[String]
      def walk(e: HElem): Unit = e.children.foreach {
        case el: HElem if el.name == "si" => out += textOf(el)
        case el: HElem                    => walk(el)
        case _                            =>
      }
      walk(root)
      out.result()
    }.getOrElse(Vector.empty)

    val sink = new BlockSink(cfg)
    // numeric order: lexicographic would put sheet10 before sheet2 (pptx idiom)
    val sheets = entries.keys.filter(k => k.startsWith("xl/worksheets/sheet") && k.endsWith(".xml")).toSeq
      .sortBy(k => k.stripPrefix("xl/worksheets/sheet").stripSuffix(".xml").toIntOption.getOrElse(0))
    sheets.foreach { name =>
      val root = xml(entries(name))
      def cellValue(c: HElem): String = {
        val isShared = c.attrs.get("t").contains("s")
        val v = c.children.collectFirst { case el: HElem if el.name == "v" => textOf(el) }.getOrElse("")
        if (isShared) shared.lift(v.trim.toIntOption.getOrElse(-1)).getOrElse("")
        else v.trim
      }
      def walkRows(e: HElem): Unit = e.children.foreach {
        case el: HElem if el.name == "row" =>
          val cells = el.children.collect { case c: HElem if c.name == "c" => cellValue(c) }.filter(_.nonEmpty)
          sink.add("p", cells.mkString(" "))
        case el: HElem => walkRows(el)
        case _ =>
      }
      walkRows(root)
    }
    val meta = coreProps(entries) + ("Content-Type" -> Seq(MimeSniffer.Xlsx))
    sink.ok(meta, MimeSniffer.Xlsx)
  }

  private def pptx(entries: Map[String, Array[Byte]], cfg: ExtractorConfig): ExtractResult = {
    val sink = new BlockSink(cfg)
    val slides = entries.keys.filter(k => k.startsWith("ppt/slides/slide") && k.endsWith(".xml")).toSeq
      .sortBy(k => k.stripPrefix("ppt/slides/slide").stripSuffix(".xml").toIntOption.getOrElse(0))
    slides.foreach { name =>
      val root = xml(entries(name))
      def walkParas(e: HElem): Unit = e.children.foreach {
        case el: HElem if el.name == "a:p" =>
          val sb = new StringBuilder
          def collect(x: HElem): Unit = x.children.foreach {
            case t: HElem if t.name == "a:t" => sb.append(textOf(t))
            case t: HElem                    => collect(t)
            case _                           =>
          }
          collect(el)
          sink.add("p", sb.toString)
        case el: HElem => walkParas(el)
        case _ =>
      }
      walkParas(root)
    }
    val meta = coreProps(entries) + ("Content-Type" -> Seq(MimeSniffer.Pptx))
    sink.ok(meta, MimeSniffer.Pptx)
  }
}
