package extractous.perfbench

import extractous.config.ExtractorConfig
import extractous.core._
import extractous.html.{HtmlDom, HtmlExtractor}
import extractous.model.ExtractStatus
import extractous.ocr._
import extractous.office.{CfbExtractor, OfficeExtractor, ZipUtil}
import extractous.pdf.{Cos, PdfExtractor}
import extractous.sniff.MimeSniffer
import extractous.spark.ExtractDocExpr

import java.nio.charset.StandardCharsets.UTF_8

/** Per-document layer decomposition, timed from outside the program: each
  * document goes once through `Extract.apply` (span `apply`) and once through
  * the same route called layer by layer. The route spans (`sniff`, the format
  * kernel, `core.wrap` for codec unwraps, `core.container` for archives and
  * WARC) add up to the work `apply` does; their sum is reconciled against it.
  * Spans under `*.stages`, `core.members` and `spark.encode` are extra probe
  * calls into a layer's own public functions and are not part of that sum.
  */
final class Layers(t: Tracer, cfg: ExtractorConfig) {
  /** Route spans: the ones whose top-level sum is reconciled with `apply`. */
  val RouteNames = Set("sniff", "html", "pdf", "ocr", "office", "text", "core.wrap", "core.container")

  var blocksSeen = 0L
  var blocksKept = 0L
  var membersSeen = 0L
  var membersOk = 0L

  def doc(id: String, bytes: Array[Byte]): Unit = {
    t.doc = id
    // an untimed call first, so `apply` and the route below both meet this
    // document's bytes and code in warm caches
    Extract(bytes, cfg)
    val r = t.span("apply")(Extract(bytes, cfg))
    t.span("spark.encode")(ExtractDocExpr.toInternalRow(r))
    route(bytes)
    stages(bytes)
  }

  private def route(bytes: Array[Byte]): Unit = {
    val mime = t.span("sniff")(MimeSniffer.sniff(bytes))
    mime match {
      case MimeSniffer.Html => t.span("html")(HtmlExtractor.extract(bytes, cfg))
      case MimeSniffer.Pdf => t.span("pdf")(PdfExtractor.extract(bytes, cfg, GlyphTemplateOcr))
      case m @ (MimeSniffer.Docx | MimeSniffer.Xlsx | MimeSniffer.Pptx |
                MimeSniffer.Odt | MimeSniffer.Ods | MimeSniffer.Odp) =>
        t.span("office")(OfficeExtractor.extract(bytes, m, cfg))
      case MimeSniffer.Cfb => t.span("office")(CfbExtractor.extract(bytes, cfg))
      case MimeSniffer.Epub => t.span("office")(extractous.epub.EpubExtractor.extract(bytes, cfg))
      case MimeSniffer.Eml => t.span("office")(extractous.mail.MailExtractor.extract(bytes, cfg))
      case MimeSniffer.Bmp | MimeSniffer.Png | MimeSniffer.Jpeg | MimeSniffer.Gif | MimeSniffer.Tiff =>
        t.span("ocr")(GlyphTemplateOcr.recognize(bytes, cfg.ocr))
      case MimeSniffer.Zip => t.span("core.container")(ArchiveExtractor.zip(bytes, cfg, GlyphTemplateOcr, 0))
      case MimeSniffer.Tar => t.span("core.container")(ArchiveExtractor.tar(bytes, cfg, GlyphTemplateOcr, 0))
      case MimeSniffer.SevenZ => t.span("core.container")(ArchiveExtractor.sevenZ(bytes, cfg, GlyphTemplateOcr, 0))
      case MimeSniffer.Rar => t.span("core.container")(ArchiveExtractor.rar(bytes, cfg, GlyphTemplateOcr, 0))
      case MimeSniffer.Warc => t.span("core.container")(WarcExtractor.extract(bytes, cfg, GlyphTemplateOcr, 0))
      case codec if unwrap.isDefinedAt(codec) =>
        t.span("core.wrap") { route(unwrap(codec)(bytes)) }
      case _ =>
        // plain text and the rest have no public kernel below `Extract`: the
        // layer is what `apply` does beyond the sniff
        t.span("text")(Extract(bytes, cfg))
        t.spans(t.spans.size - 1) = {
          val s = t.spans.last
          val sniff = t.spans(t.spans.size - 2)
          s.copy(cpuNs = math.max(0L, s.cpuNs - sniff.cpuNs), allocBytes = math.max(0L, s.allocBytes - sniff.allocBytes))
        }
    }
  }

  private val unwrap: PartialFunction[String, Array[Byte] => Array[Byte]] = {
    case MimeSniffer.Gzip   => b => Extract.gunzip(b, maxOut = 256 * 1024 * 1024)
    case MimeSniffer.Xz     => b => Xz.decode(b)
    case MimeSniffer.Bzip2  => b => Bzip2.decode(b)
    case MimeSniffer.Zstd   => b => Zstd.decode(b)
    case MimeSniffer.Lz4    => b => Lz4.decode(b)
    case MimeSniffer.Snappy => b => Snappy.decodeFramed(b)
  }

  /** Probe calls into each layer's own stage functions. */
  private def stages(bytes: Array[Byte]): Unit = MimeSniffer.sniff(bytes) match {
    case MimeSniffer.Html =>
      t.span("html.stages") {
        val dom = t.span("html.dom")(HtmlDom.parse(new String(bytes, UTF_8)))
        val (blocks, _) = t.span("html.blocks")(HtmlExtractor.blocks(dom))
        blocksSeen += blocks.size
        blocksKept += blocks.count(HtmlExtractor.isContent)
      }
    case MimeSniffer.Pdf => pdfStages(bytes)
    case MimeSniffer.Bmp | MimeSniffer.Png | MimeSniffer.Jpeg | MimeSniffer.Gif | MimeSniffer.Tiff =>
      t.span("ocr.stages")(t.span("ocr.decode")(decodeImage(bytes)))
    case MimeSniffer.Docx | MimeSniffer.Odt | MimeSniffer.Odp | MimeSniffer.Epub =>
      t.span("office.stages")(t.span("office.unzip")(ZipUtil.entries(bytes)))
    case MimeSniffer.Zip | MimeSniffer.Tar | MimeSniffer.SevenZ | MimeSniffer.Rar | MimeSniffer.Warc |
         MimeSniffer.Gzip | MimeSniffer.Xz | MimeSniffer.Bzip2 | MimeSniffer.Zstd | MimeSniffer.Lz4 |
         MimeSniffer.Snappy =>
      members(bytes).foreach { ms =>
        t.span("core.members") {
          ms.foreach { m =>
            membersSeen += 1
            if (Extract(m, cfg).status == ExtractStatus.Ok) membersOk += 1
          }
        }
      }
    case _ =>
  }

  /** The same magic-byte choice `GlyphTemplateOcr.recognize` makes. */
  private def decodeImage(b: Array[Byte]): Gray =
    MimeSniffer.sniff(b) match {
      case MimeSniffer.Bmp  => Bmp.decode(b)
      case MimeSniffer.Jpeg => Jpeg.decode(b)
      case MimeSniffer.Gif  => Gif.decode(b)
      case MimeSniffer.Tiff => Tiff.decode(b)
      case _                => Png.decode(b)
    }

  private def pdfStages(bytes: Array[Byte]): Unit = {
    import Cos._
    def resolve(v: V, objs: Map[Int, V]): V = v match {
      case Ref(n, _) => objs.getOrElse(n, Null)
      case x         => x
    }
    def flate(d: Dict, objs: Map[Int, V]): Boolean = resolve(d.m.getOrElse("Filter", Null), objs) match {
      case Name("FlateDecode") => true
      case Arr(fs) => fs.contains(Name("FlateDecode"))
      case _ => false
    }
    val (objs, trailer) = PdfExtractor.scanObjects(bytes)
    val pages = PdfExtractor.pages(objs, trailer)
    val pageDicts = objs.values.collect { case d: Dict if d.m.get("Type").contains(Name("Page")) => d }.toSeq
    t.span("pdf.stages") {
      t.span("pdf.scan")(PdfExtractor.scanObjects(bytes))
      val contents = t.span("pdf.inflate") {
        pageDicts.map { d =>
          val streams = resolve(d.m.getOrElse("Contents", Null), objs) match {
            case s: StreamObj => Seq(s)
            case Arr(items)   => items.map(resolve(_, objs)).collect { case s: StreamObj => s }
            case _            => Nil
          }
          val data = streams.map(s => if (flate(s.dict, objs)) PdfExtractor.inflate(s.data) else s.data)
          val res = resolve(d.m.getOrElse("Resources", Null), objs) match { case r: Dict => r; case _ => Dict(Map.empty) }
          (data, res)
        }
      }
      t.span("pdf.content") {
        contents.foreach { case (data, res) =>
          data.foreach(c => if (c.nonEmpty) PdfExtractor.parseContent(c, res, objs))
        }
      }
      t.span("pdf.assemble")(pages.foreach(p => PdfExtractor.assembleTagged(p.runs)))
    }
  }

  /** Container members as `Extract` would see them (codec layers undone). */
  private def members(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = MimeSniffer.sniff(bytes) match {
    case MimeSniffer.Zip    => Some(ZipUtil.entries(bytes).values.toSeq)
    case MimeSniffer.SevenZ => Some(SevenZip.members(bytes).map(_._2))
    case MimeSniffer.Rar    => Some(Rar.members(bytes).map(_._2))
    case MimeSniffer.Tar    => Some(ustar(bytes))
    case MimeSniffer.Warc =>
      Some(WarcExtractor.records(bytes).flatMap { r =>
        r.warcType match {
          case "response" if r.contentType.startsWith("application/http") => Some(WarcExtractor.httpBody(r.block))
          case "resource" | "conversion" => Some(r.block)
          case _ => None
        }
      })
    case codec if unwrap.isDefinedAt(codec) => members(unwrap(codec)(bytes))
    case _ => None
  }

  /** Regular-file members of a ustar archive. */
  private def ustar(b: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var off = 0
    while (off + 512 <= b.length && b(off) != 0) {
      val size = java.lang.Long.parseLong(new String(b, off + 124, 11, "US-ASCII").trim, 8).toInt
      val typ = b(off + 156)
      if (typ == '0' || typ == 0) out += java.util.Arrays.copyOfRange(b, off + 512, off + 512 + size)
      off += 512 + (size + 511) / 512 * 512
    }
    out.result()
  }
}
