package extractous.mail

import extractous.config.ExtractorConfig
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.text.{BlockSink, Normalize}

/** iCalendar (RFC 5545) and vCard (RFC 6350) — both are folded-line
  * `NAME;PARAMS:VALUE` formats, so they share one content-line reader:
  * unfolding (CRLF + SPACE/HTAB continuation), parameter stripping, and the
  * TEXT escape set (`\\n` newline, `\\,` `\\;` literals, `\\\\`). The
  * reference reads both through Tika (ICalParser / VCardParser under its
  * "60+ formats", /root/reference/README.md:14).
  *
  * iCalendar emits SUMMARY / DESCRIPTION / LOCATION per VEVENT in document
  * order; vCard emits FN / ORG / TITLE / NOTE per card. Components nested
  * inside a collected one (VALARM in a VEVENT) are skipped wholly. Empty
  * lines inside a multi-line TEXT value collapse — block emission matches
  * every other parser's canonical-text policy. A payload with no emittable
  * property fails the row with a status — never silent empties.
  */
object CalendarExtractor {
  val IcsMime = "text/calendar"
  val VcfMime = "text/vcard"

  /** Unfold and split into (NAME, value) content lines; parameters after the
    * first ';' in the name part are dropped (their values may contain ':').
    */
  private[mail] def contentLines(s: String): Seq[(String, String)] = {
    val unfolded = s.replace("\r\n ", "").replace("\r\n\t", "")
      .replace("\n ", "").replace("\n\t", "")
    unfolded.split("\r\n|\n", -1).toSeq.filter(_.nonEmpty).flatMap { line =>
      // the NAME:VALUE separator is the first ':' NOT inside a DQUOTE'd
      // parameter value (RFC 5545 §3.2 ALTREP="CID:...": the quoted colon is
      // part of the parameter, not the separator)
      var colon = -1
      var inQuote = false
      var i = 0
      while (colon < 0 && i < line.length) {
        line.charAt(i) match {
          case '"'              => inQuote = !inQuote
          case ':' if !inQuote  => colon = i
          case _                => ()
        }
        i += 1
      }
      if (colon <= 0) None
      else {
        val name = line.substring(0, colon)
        val base = { val semi = name.indexOf(';'); if (semi >= 0) name.substring(0, semi) else name }
        Some(Normalize.upperAscii(base) -> line.substring(colon + 1))
      }
    }
  }

  private[mail] def unescape(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'n' | 'N' => sb.append('\n')
          case other     => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val lines = contentLines(s)
    val isVcf = lines.headOption.exists(_._2.equalsIgnoreCase("VCARD"))
    val mime = if (isVcf) VcfMime else IcsMime
    val wanted = if (isVcf) Seq("FN", "ORG", "TITLE", "NOTE")
                 else Seq("SUMMARY", "DESCRIPTION", "LOCATION")
    // per-component emission order: group lines into BEGIN..END components,
    // emit wanted properties in the fixed order within each component
    val sink = new BlockSink(cfg)
    var emitted = 0
    var comp = List.empty[(String, String)]
    var inComponent = false
    var events = 0
    def flush(): Unit = {
      wanted.foreach { w =>
        comp.reverse.collect { case (n, v) if n == w => v }.foreach { v =>
          unescape(v).split("\n", -1).foreach { l =>
            if (!sink.isFull && l.nonEmpty) {
              sink.add("p", l)
              emitted += 1
            }
          }
        }
      }
      comp = Nil
    }
    val componentNames = Set("VEVENT", "VTODO", "VJOURNAL", "VCARD")
    // skipDepth tracks components NESTED inside the one being collected
    // (VALARM inside VEVENT is the everyday case): their properties must
    // not leak into the parent's text
    var skipDepth = 0
    lines.foreach {
      case ("BEGIN", v) =>
        if (inComponent) skipDepth += 1
        else if (componentNames(Normalize.upperAscii(v))) { inComponent = true; events += 1; comp = Nil }
      case ("END", v) =>
        if (skipDepth > 0) skipDepth -= 1
        else if (inComponent && componentNames(Normalize.upperAscii(v))) { flush(); inComponent = false }
      case (n, v) if inComponent && skipDepth == 0 => comp = (n, v) :: comp
      case _ => ()
    }
    if (events == 0 || emitted == 0)
      ExtractResult.fail(ExtractStatus.ExtractionFailed,
        s"calendar: no extractable components", mime)
    else
      sink.ok(Map("Content-Type" -> Seq(mime), "calendar:component-count" -> Seq(events.toString)), mime)
  }
}
