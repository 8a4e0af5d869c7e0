package extractous.mail

import extractous.config.ExtractorConfig
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.sniff.MimeSniffer
import extractous.text.{BlockSink, Normalize}

/** RFC-822 / MIME email (.eml) extraction — the reference covers email through
  * Tika (/root/reference/README.md:14 "60+ formats"; crawls carry mailing-list
  * archives). Scope: header block with folding, multipart bodies split on
  * the declared boundary, Content-Transfer-Encoding 7bit/8bit/quoted-printable/
  * base64, best-body selection (first text/plain part, else first text/html
  * part's text, else the raw body). Subject emits as the first block;
  * Subject/From/To land in metadata. Structural violations fail the row.
  */
object MailExtractor {
  val Mime = "message/rfc822"

  // compiled once: a part's headers and parameters are parsed per part at
  // every nesting level
  private val Folding = java.util.regex.Pattern.compile("\n[ \t]+")
  private val CharsetParam = "(?i)charset=\"?([^\";\\s]+)\"?".r
  // RFC 2045 parameter names are case-insensitive (Boundary=…)
  private val BoundaryParam = "(?i)boundary=\"?([^\";]+)\"?".r

  private def splitHeadersBody(s: String): (Map[String, String], String) = {
    val norm = s.replace("\r\n", "\n")
    val at = norm.indexOf("\n\n")
    val (head, body) = if (at < 0) (norm, "") else (norm.substring(0, at), norm.substring(at + 2))
    // unfold continuation lines, then split on first ':'
    val unfolded = Folding.matcher(head).replaceAll(" ")
    val headers = unfolded.split("\n").iterator.flatMap { line =>
      val c = line.indexOf(':')
      if (c <= 0) None else Some(Normalize.lowerAscii(line.substring(0, c).trim) -> line.substring(c + 1).trim)
    }.toMap
    (headers, body)
  }

  /** The part's declared charset, honoring it during byte decode — an
    * ISO-8859-1 base64 body decoded as UTF-8 would silently emit U+FFFD
    * mojibake with status 0 ("wrong text never"). Unknown labels fall back
    * to UTF-8 (the least-wrong default for a crawl).
    */
  private def charsetOf(headers: Map[String, String]): java.nio.charset.Charset = {
    val ct = headers.getOrElse("content-type", "")
    CharsetParam.findFirstMatchIn(ct).map(_.group(1)) match {
      case Some(label) =>
        try java.nio.charset.Charset.forName(label)
        catch { case _: Exception => java.nio.charset.StandardCharsets.UTF_8 }
      case None => java.nio.charset.StandardCharsets.UTF_8
    }
  }

  private def decodeBody(body: String, cte: String,
      charset: java.nio.charset.Charset): String = Normalize.lowerAscii(cte) match {
    case "base64" =>
      new String(java.util.Base64.getMimeDecoder.decode(body), charset)
    case "quoted-printable" =>
      val sb = new java.lang.StringBuilder(body.length)
      val bytes = new java.io.ByteArrayOutputStream()
      var i = 0
      def flushBytes(): Unit = {
        if (bytes.size > 0) { sb.append(new String(bytes.toByteArray, charset)); bytes.reset() }
      }
      while (i < body.length) {
        val c = body.charAt(i)
        if (c == '=') {
          if (i + 1 < body.length && body.charAt(i + 1) == '\n') i += 2 // soft break
          else if (i + 2 < body.length) {
            bytes.write(Integer.parseInt(body.substring(i + 1, i + 3), 16))
            i += 3
          } else throw new IllegalArgumentException("eml: truncated quoted-printable escape")
        } else { flushBytes(); sb.append(c); i += 1 }
      }
      flushBytes()
      sb.toString
    case _ => body // 7bit / 8bit / binary
  }

  private def isMultipart(headers: Map[String, String]): Boolean =
    Normalize.lowerAscii(headers.getOrElse("content-type", "")).startsWith("multipart/")

  /** The parts of a multipart body: the pieces between `--boundary` lines
    * after the preamble, up to the close delimiter, as (headers, body).
    */
  private def partsOf(headers: Map[String, String], body: String): Seq[(Map[String, String], String)] = {
    val delim = "--" + BoundaryParam.findFirstMatchIn(headers.getOrElse("content-type", ""))
      .getOrElse(throw new IllegalArgumentException("eml: multipart without boundary"))
      .group(1)
    // the pieces between delimiters, trailing empty ones dropped (what
    // String.split returns)
    val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = 0
    var at = body.indexOf(delim)
    while (at >= 0) {
      pieces += body.substring(from, at)
      from = at + delim.length
      at = body.indexOf(delim, from)
    }
    pieces += body.substring(from)
    while (pieces.nonEmpty && pieces.last.isEmpty) pieces.remove(pieces.length - 1)
    pieces.iterator.drop(1).takeWhile(p => !p.startsWith("--"))
      // strip ONLY the boundary line's own newline — eating every leading
      // newline would consume a headerless part's header/body separator
      // and feed its first paragraph to the header parser. A part whose
      // next line is blank has NO headers (RFC 2046 allows it; defaults
      // apply): empty header map, rest is body.
      .map { p0 =>
        val p = if (p0.startsWith("\r\n")) p0.substring(2) else if (p0.startsWith("\n")) p0.substring(1) else p0
        if (p.startsWith("\r\n")) (Map.empty[String, String], p.substring(2))
        else if (p.startsWith("\n")) (Map.empty[String, String], p.substring(1))
        else splitHeadersBody(p)
      }.toVector
  }

  /** Decoded text of the best body part. Nested multiparts
    * (multipart/mixed wrapping multipart/alternative is the STANDARD shape
    * of any email with an attachment) are walked in preorder on an explicit
    * stack, so nesting depth costs heap, never thread stack. Preference at
    * every level: first text/plain, else first text/html (as text), else
    * the first nested multipart that yields either.
    */
  private def bestBody(headers: Map[String, String], body: String): String = {
    if (!isMultipart(headers))
      return decodeBody(body, headers.getOrElse("content-transfer-encoding", "7bit"), charsetOf(headers))
    val pending = new java.util.ArrayDeque[(Map[String, String], String)]()
    pending.push((headers, body))
    while (!pending.isEmpty) {
      val (h, b) = pending.pop()
      val parts = partsOf(h, b)
      // RFC 2046 default for a part without Content-Type is text/plain
      def partOf(typ: String) = parts.find(p => Normalize.lowerAscii(p._1.getOrElse("content-type", "text/plain")).startsWith(typ))
      partOf("text/plain").orElse(partOf("text/html")) match {
        case Some((ph, pb)) =>
          val decoded = decodeBody(pb, ph.getOrElse("content-transfer-encoding", "7bit"), charsetOf(ph))
          return if (Normalize.lowerAscii(ph.getOrElse("content-type", "")).startsWith("text/html")) htmlText(decoded)
            else decoded
        case None =>
          // no direct text part at this level: its nested multiparts, the
          // first on top
          parts.reverseIterator.filter(p => isMultipart(p._1)).foreach(pending.push)
      }
    }
    throw new IllegalArgumentException("eml: no text part in multipart body")
  }

  /** All character data of an HTML body, one space between siblings. */
  private def htmlText(s: String): String = {
    val sb = new java.lang.StringBuilder
    var first = true // the next node is the first child of its parent
    extractous.html.HtmlDom.walk(extractous.html.HtmlDom.parse(s))(
      { t => if (!first) sb.append(' '); sb.append(t); first = false },
      { _ => if (!first) sb.append(' '); first = true; true },
      { _ => first = false })
    sb.toString
  }

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    try {
      val (headers, body) = splitHeadersBody(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      val text = bestBody(headers, body)
      val sink = new BlockSink(cfg)
      headers.get("subject").foreach(sink.add("h1", _))
      sink.addLines("p", text)
      val meta = Map("Content-Type" -> Seq(Mime)) ++
        headers.get("subject").map("subject" -> Seq(_)) ++
        headers.get("from").map("from" -> Seq(_)) ++
        headers.get("to").map("to" -> Seq(_))
      sink.ok(meta, Mime)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, s"eml: ${e.getMessage}", Mime)
    }
  }
}

/** Markdown text extraction: syntax stripped to the canonical block policy —
  * headings/paragraphs/list items become blocks; emphasis, inline code,
  * links ([text](url) keeps text), and code fences are unwrapped.
  */
object MarkdownExtractor {
  val Mime = "text/markdown"

  private val LinkRe = """\[([^\]]*)\]\([^)]*\)""".r

  def stripInline(s: String): String = {
    val noLinks = LinkRe.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(m.group(1)))
    noLinks.replace("**", "").replace("__", "")
      .replace("`", "").replace("*", "").trim
  }

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val sink = new BlockSink(cfg)
    var inFence = false
    s.split("\n", -1).iterator.takeWhile(_ => !sink.isFull).foreach { raw =>
      val line = raw.stripLineEnd
      if (line.trim.startsWith("```")) inFence = !inFence
      else if (inFence) sink.add("pre", line)
      else {
        val t = line.trim
        if (t.startsWith("#"))
          sink.add(s"h${math.min(6, t.takeWhile(_ == '#').length)}", stripInline(t.dropWhile(_ == '#')))
        else if (t.startsWith("- ") || t.startsWith("* ") || t.matches("""\d+\. .*"""))
          sink.add("p", stripInline(t.replaceFirst("""^([-*]|\d+\.) """, "")))
        else if (t.nonEmpty) sink.add("p", stripInline(t))
      }
    }
    sink.ok(Map("Content-Type" -> Seq(Mime)), Mime)
  }
}
