package extractous.epub

import extractous.config.ExtractorConfig
import extractous.html.HtmlDom
import extractous.html.HtmlDom.{attr, findAll, outermost, textOf}
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.office.ZipUtil
import extractous.text.{BlockSink, Normalize}

/** EPUB extraction — zip + OPF + XHTML, all on existing plumbing (the
  * reference covers EPUB through Tika, /root/reference/README.md:14).
  *
  * Real spine handling, not an alphabetical entry walk: META-INF/container.xml
  * names the OPF, the OPF's manifest maps ids → hrefs and its spine fixes the
  * reading order — chapters emit in SPINE order even when the zip stores them
  * otherwise (the fixture deliberately stores them reversed). dc:title lands
  * in metadata. Structural violations fail the row with a status.
  */
object EpubExtractor {
  val Mime = "application/epub+zip"

  private val BlockTags = Set("h1", "h2", "h3", "h4", "h5", "h6", "p", "li")

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    try {
      val entries = ZipUtil.entries(bytes)
      val container = entries.getOrElse("META-INF/container.xml",
        throw new IllegalArgumentException("no META-INF/container.xml"))
      val containerDom = HtmlDom.parse(container)
      val opfPath = findAll(containerDom, "rootfile").headOption.flatMap(attr(_, "full-path"))
        .getOrElse(throw new IllegalArgumentException("container.xml names no rootfile"))
      val opfDir = opfPath.lastIndexOf('/') match {
        case -1 => ""
        case i  => opfPath.substring(0, i + 1)
      }
      val opf = HtmlDom.parse(entries.getOrElse(opfPath, throw new IllegalArgumentException(s"missing OPF $opfPath")))
      val hrefById = findAll(opf, "item").flatMap(i =>
        for (id <- attr(i, "id"); href <- attr(i, "href")) yield id -> href).toMap
      val spine = findAll(opf, "itemref").flatMap(attr(_, "idref"))
      if (spine.isEmpty) throw new IllegalArgumentException("OPF has no spine")
      val title = findAll(opf, "title").headOption.map(t => Normalize.line(textOf(t)))

      val sink = new BlockSink(cfg)
      spine.iterator.takeWhile(_ => !sink.isFull).foreach { idref =>
        val href = hrefById.getOrElse(idref,
          throw new IllegalArgumentException(s"spine idref '$idref' not in manifest"))
        val chapter = entries.getOrElse(opfDir + href,
          throw new IllegalArgumentException(s"missing chapter ${opfDir + href}"))
        outermost(HtmlDom.parse(chapter))(e => BlockTags(e.name)).iterator.takeWhile(_ => !sink.isFull).foreach { e =>
          sink.add(if (e.name.startsWith("h")) e.name else "p", textOf(e))
        }
      }
      val meta = Map("Content-Type" -> Seq(Mime)) ++ title.map("dc:title" -> Seq(_))
      sink.ok(meta, Mime)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, s"epub: ${e.getMessage}", Mime)
    }
  }
}
