package extractous.iwork

import extractous.config.ExtractorConfig
import extractous.html.HtmlDom
import extractous.html.HtmlDom.{findAll, textOf}
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.office.ZipUtil
import extractous.text.{BlockSink, Normalize}

/** iWork '09 extraction (Pages) — the last named format of the reference's
  * Tika long tail (/root/reference/README.md:14 "60+ formats" defers to Tika;
  * Tika's IWorkPackageParser handles the '09 package shape). An iWork '09
  * document is a zip whose `index.xml` carries the content as namespaced XML:
  * Pages text lives in `sf:p` paragraphs under `sf:text-body`, in document
  * order. The modern (post-2013) IWA/protobuf shape is NOT parsed — it is
  * rejected with a status (no index.xml ⇒ UnsupportedFormat), never guessed
  * at ("wrong text never").
  */
object IworkExtractor {
  /** Family sentinel lives in [[extractous.sniff.MimeSniffer.Iwork]]; the
    * specific application is only knowable from index.xml's root element,
    * which is this parser's job (same split as CFB vs .doc/.xls/.ppt).
    */
  val Iwork = extractous.sniff.MimeSniffer.Iwork
  val Pages = "application/vnd.apple.pages"

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    try {
      val entries = ZipUtil.entries(bytes)
      val xml = entries.getOrElse("index.xml",
        return ExtractResult.fail(ExtractStatus.UnsupportedFormat,
          "iwork: no index.xml (post-2013 IWA packages are not supported)", Iwork))
      val dom = HtmlDom.parse(xml)
      val isPages = findAll(dom, "document").exists(e => Normalize.lowerAscii(e.name).startsWith("sl:"))
      if (!isPages)
        return ExtractResult.fail(ExtractStatus.UnsupportedFormat,
          "iwork: index.xml root is not a Pages sl:document", Iwork)
      val sink = new BlockSink(cfg)
      var nPara = 0
      findAll(dom, "p").iterator
        .filter(_.name.equalsIgnoreCase("sf:p"))
        .takeWhile(_ => !sink.isFull)
        .foreach { p =>
          val t = Normalize.line(textOf(p))
          if (t.nonEmpty) {
            nPara += 1
            sink.addNormalized("p", t)
          }
        }
      if (nPara == 0)
        ExtractResult.fail(ExtractStatus.ExtractionFailed, "iwork: no sf:p paragraphs", Pages)
      else
        sink.ok(Map("Content-Type" -> Seq(Pages), "iwork:paragraph-count" -> Seq(nPara.toString)), Pages)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, s"iwork: ${e.getMessage}", Iwork)
    }
  }
}
