package extractous.office

import extractous.config.ExtractorConfig
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.text.{BlockSink, Normalize}

/** CFB application dispatch + the legacy .xls/.ppt stream walkers.
  *
  * The reference covers the full legacy Office set through Tika
  * (/root/reference/README.md:269-273; the Office config applies to all,
  * /root/reference/config.go:240-251). The container walk lives in [[Cfb]];
  * this file routes a parsed container to the right application extractor by
  * its directory streams — exactly how real detectors subtype OLE2 — and
  * implements the two remaining walkers: BIFF8 `Workbook` (SST/LABELSST
  * subset) and `PowerPoint Document` (TextHeaderAtom/TextBytesAtom/
  * TextCharsAtom). Structures outside the stated subset fail the row with a
  * status, never wrong text.
  */
object CfbExtractor {
  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    val container =
      try Cfb.parse(bytes)
      catch {
        case e: Exception =>
          return ExtractResult.fail(ExtractStatus.ExtractionFailed,
            s"cfb: ${e.getMessage}", DocExtractor.CfbMime)
      }
    def has(name: String) = container.dir.exists(e => e.objType == 2 && e.name.equalsIgnoreCase(name))
    if (has("WordDocument")) DocExtractor.extract(container, cfg)
    else if (has("Workbook") || has("Book")) XlsExtractor.extract(container, cfg)
    else if (has("PowerPoint Document")) PptExtractor.extract(container, cfg)
    else if (container.dir.exists(e => e.objType == 2 && e.name.startsWith("__substg1.0_")) ||
             container.dir.exists(e => e.name.equalsIgnoreCase("__properties_version1.0")))
      MsgExtractor.extract(container, cfg)
    else ExtractResult.fail(ExtractStatus.UnsupportedFormat,
      "cfb: no known application stream (.doc/.xls/.ppt/.msg)", DocExtractor.CfbMime)
  }
}

/** Outlook MSG (MS-OXMSG): the mail properties live in root-level
  * `__substg1.0_PPPPTTTT` streams, one per property — PPPP is the MAPI
  * property id (subject 0x0037, sender name 0x0C1A, plain-text body 0x1000),
  * TTTT the type (001F = UTF-16LE, 001E = 8-bit code page, cp1252 here).
  * Emitted in reading order: subject, sender, body. Unknown property types
  * and attachments/recipient substorages are skipped structurally; a .msg
  * with none of the three text properties fails the row with a status.
  */
object MsgExtractor {
  val Mime = "application/vnd.ms-outlook"

  def extract(container: Cfb.Container, cfg: ExtractorConfig): ExtractResult = {
    try {
      def prop(pid: String): Option[String] =
        // root-level streams only: an attached message's identically-named
        // property streams live in a substorage and must not shadow the
        // mail's own subject/body
        container.rootDir.collectFirst {
          case e if e.objType == 2 &&
              Normalize.upperAscii(e.name).startsWith(s"__SUBSTG1.0_$pid") &&
              (Normalize.upperAscii(e.name).endsWith("001F") || Normalize.upperAscii(e.name).endsWith("001E")) =>
            val raw = container.streamOf(e) // NOT stream(name): the flat scan could re-find the attachment's twin
            if (Normalize.upperAscii(e.name).endsWith("001F"))
              new String(raw, java.nio.charset.StandardCharsets.UTF_16LE)
            else new String(raw, java.nio.charset.Charset.forName("windows-1252"))
        }
      val subject = prop("0037")
      val sender = prop("0C1A")
      val body = prop("1000")
      val parts = Seq(subject, sender, body).flatten
      if (parts.isEmpty)
        return ExtractResult.fail(ExtractStatus.UnsupportedFormat,
          "msg: no subject/sender/body property streams", Mime)
      val sink = new BlockSink(cfg)
      sink.addAll("p", parts.iterator)
      val meta = Map("Content-Type" -> Seq(Mime)) ++
        subject.map(s => "subject" -> Seq(s)) ++
        sender.map(s => "message:from-name" -> Seq(s))
      sink.ok(meta, Mime)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, s"msg: ${e.getMessage}", Mime)
    }
  }
}

/** Excel-97 binary (.xls): BIFF8 record walk — SST shared strings + LABELSST
  * cell references, emitted in cell encounter order (row-major, the order
  * BIFF writers emit). Covers text content, which is what a crawl pipeline
  * extracts; numeric/formula records are skipped structurally.
  */
object XlsExtractor {
  val Mime = "application/vnd.ms-excel"

  def extract(container: Cfb.Container, cfg: ExtractorConfig): ExtractResult = {
    val wb = container.stream("Workbook").orElse(container.stream("Book")).get
    try {
      val sst = Vector.newBuilder[String]
      val refs = Vector.newBuilder[Int]
      var pos = 0
      def u16(p: Int): Int = (wb(p) & 0xff) | ((wb(p + 1) & 0xff) << 8)
      def i32(p: Int): Int = u16(p) | (u16(p + 2) << 16)
      while (pos + 4 <= wb.length) {
        val typ = u16(pos)
        val len = u16(pos + 2)
        if (pos + 4 + len > wb.length)
          throw new IllegalArgumentException("xls: truncated record")
        typ match {
          case 0x00fc => // SST
            val unique = i32(pos + 8)
            var p = pos + 12
            var k = 0
            while (k < unique) {
              if (p + 3 > pos + 4 + len)
                throw new IllegalArgumentException("xls: SST spans CONTINUE records (unsupported subset)")
              val cch = u16(p)
              val flags = wb(p + 2) & 0xff
              if ((flags & 0x0c) != 0)
                throw new IllegalArgumentException("xls: rich-text/phonetic SST strings unsupported")
              val wide = (flags & 0x01) != 0
              val nBytes = if (wide) cch * 2 else cch
              if (p + 3 + nBytes > pos + 4 + len)
                throw new IllegalArgumentException("xls: SST string overruns record")
              val s =
                if (wide) new String(wb, p + 3, nBytes, java.nio.charset.StandardCharsets.UTF_16LE)
                else new String(wb, p + 3, nBytes, java.nio.charset.StandardCharsets.ISO_8859_1)
              sst += s
              p += 3 + nBytes
              k += 1
            }
          case 0x00fd => // LABELSST: row(2) col(2) ixfe(2) isst(4)
            refs += i32(pos + 4 + 6)
          case _ => // BOF/EOF/anything else: structurally skipped
        }
        pos += 4 + len
      }
      val strings = sst.result()
      val sink = new BlockSink(cfg)
      refs.result().iterator.takeWhile(_ => !sink.isFull).foreach { i =>
        if (i < 0 || i >= strings.length)
          throw new IllegalArgumentException(s"xls: LABELSST index $i out of SST range")
        sink.add("p", strings(i))
      }
      sink.ok(Map("Content-Type" -> Seq(Mime)), Mime)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, s"xls: ${e.getMessage}", Mime)
    }
  }
}

/** PowerPoint-97 binary (.ppt): record-header walk over the `PowerPoint
  * Document` stream. Containers (recVer 0xF) are descended into (their
  * children are contiguous); TextBytesAtom (latin-1) and TextCharsAtom
  * (UTF-16LE) become blocks in document order.
  */
object PptExtractor {
  val Mime = "application/vnd.ms-powerpoint"

  def extract(container: Cfb.Container, cfg: ExtractorConfig): ExtractResult = {
    val st = container.stream("PowerPoint Document").get
    try {
      val sink = new BlockSink(cfg)
      def u16(p: Int): Int = (st(p) & 0xff) | ((st(p + 1) & 0xff) << 8)
      def i32(p: Int): Int = u16(p) | (u16(p + 2) << 16)
      def walk(from: Int, to: Int): Unit = {
        var pos = from
        while (pos + 8 <= to && !sink.isFull) {
          val verInstance = u16(pos)
          val typ = u16(pos + 2)
          val len = i32(pos + 4)
          if (len < 0 || pos + 8 + len > to)
            throw new IllegalArgumentException("ppt: record overruns stream")
          if ((verInstance & 0x000f) == 0x000f) {
            walk(pos + 8, pos + 8 + len) // container: children are contiguous
          } else typ match {
            case 0x0fa8 => // TextBytesAtom (8-bit latin-1)
              sink.add("p", new String(st, pos + 8, len, java.nio.charset.StandardCharsets.ISO_8859_1))
            case 0x0fa0 => // TextCharsAtom (UTF-16LE)
              sink.add("p", new String(st, pos + 8, len, java.nio.charset.StandardCharsets.UTF_16LE))
            case _ => // atom we don't consume
          }
          pos += 8 + len
        }
      }
      walk(0, st.length)
      sink.ok(Map("Content-Type" -> Seq(Mime)), Mime)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, s"ppt: ${e.getMessage}", Mime)
    }
  }
}
