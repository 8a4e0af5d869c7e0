package extractous.mail

import extractous.config.ExtractorConfig
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.sniff.MimeSniffer
import extractous.text.{BlockSink, Normalize}

import scala.collection.mutable

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

  /** The headers of the part `s[start, end)` and where its body starts: the
    * headers end at the part's first blank line; without one the whole part
    * is headers and the body is empty.
    */
  private def splitHeadersBody(s: String, start: Int, end: Int): (Map[String, String], Int) = {
    var at = start
    while (at + 1 < end && !(s.charAt(at) == '\n' && s.charAt(at + 1) == '\n')) at += 1
    val (headEnd, bodyStart) = if (at + 1 < end) (at, at + 2) else (end, end)
    // unfold continuation lines, then split on first ':'
    val unfolded = Folding.matcher(s.substring(start, headEnd)).replaceAll(" ")
    val headers = unfolded.split("\n").iterator.flatMap { line =>
      val c = line.indexOf(':')
      if (c <= 0) None else Some(Normalize.lowerAscii(line.substring(0, c).trim) -> line.substring(c + 1).trim)
    }.toMap
    (headers, bodyStart)
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

  /** Where the multipart delimiters occur in one normalized message. A
    * delimiter starts with `--`, so only the positions that do are indexed,
    * grouped by a rolling hash of the `len` chars there; each distinct
    * delimiter length costs one pass over the message. A level's
    * delimiters are then found without rescanning the levels nested in it,
    * which `indexOf` over the level's range would do at every depth.
    */
  private final class Delimiters(s: String) {
    private val M = 0x01000193
    private val byLength = mutable.HashMap.empty[Int, Map[Int, Array[Int]]]

    private def hash(t: String, from: Int, len: Int): Int = {
      var h = 0
      var k = 0
      while (k < len) { h = h * M + t.charAt(from + k); k += 1 }
      h
    }

    private def positions(len: Int) = byLength.getOrElseUpdate(len, {
      val at = mutable.HashMap.empty[Int, mutable.ArrayBuilder.ofInt]
      if (len <= s.length) {
        var top = 1 // M^(len-1): the weight of the char leaving the window
        (1 until len).foreach(_ => top *= M)
        var h = hash(s, 0, len)
        var p = 0
        while (p + len <= s.length) {
          if (s.charAt(p) == '-' && s.charAt(p + 1) == '-')
            at.getOrElseUpdate(h, new mutable.ArrayBuilder.ofInt) += p
          if (p + len < s.length) h = (h - s.charAt(p) * top) * M + s.charAt(p + len)
          p += 1
        }
      }
      at.iterator.map { case (h, ps) => h -> ps.result() }.toMap
    })

    /** The first position `p >= from` where `d` occurs with `p + d.length <=
      * end`, or -1 — `indexOf` confined to `[from, end)`.
      */
    def next(d: String, from: Int, end: Int): Int = {
      val ps = positions(d.length).getOrElse(hash(d, 0, d.length), Array.emptyIntArray)
      var i = java.util.Arrays.binarySearch(ps, from)
      if (i < 0) i = -i - 1
      while (i < ps.length && ps(i) + d.length <= end) {
        if (s.startsWith(d, ps(i))) return ps(i)
        i += 1
      }
      -1
    }
  }

  /** The parts of the multipart body `s[start, end)`: the pieces between
    * `--boundary` delimiters after the preamble, up to the close delimiter,
    * as (headers, body start, body end).
    */
  private def partsOf(headers: Map[String, String], s: String, start: Int, end: Int,
      delims: Delimiters): Seq[(Map[String, String], Int, Int)] = {
    val delim = "--" + BoundaryParam.findFirstMatchIn(headers.getOrElse("content-type", ""))
      .getOrElse(throw new IllegalArgumentException("eml: multipart without boundary"))
      .group(1)
    // the pieces between delimiters, trailing empty ones dropped (what
    // String.split returns)
    val pieces = mutable.ArrayBuffer.empty[(Int, Int)]
    var from = start
    var at = delims.next(delim, from, end)
    while (at >= 0) {
      pieces += ((from, at))
      from = at + delim.length
      at = delims.next(delim, from, end)
    }
    pieces += ((from, end))
    while (pieces.nonEmpty && pieces.last._1 == pieces.last._2) pieces.remove(pieces.length - 1)
    def startsWith(prefix: String, a: Int, b: Int) = b - a >= prefix.length && s.startsWith(prefix, a)
    pieces.iterator.drop(1).takeWhile { case (a, b) => !startsWith("--", a, b) }
      // strip ONLY the boundary line's own newline — eating every leading
      // newline would consume a headerless part's header/body separator
      // and feed its first paragraph to the header parser. A part whose
      // next line is blank has NO headers (RFC 2046 allows it; defaults
      // apply): empty header map, rest is body.
      .map { case (a0, b) =>
        val a = if (startsWith("\r\n", a0, b)) a0 + 2 else if (startsWith("\n", a0, b)) a0 + 1 else a0
        if (startsWith("\r\n", a, b)) (Map.empty[String, String], a + 2, b)
        else if (startsWith("\n", a, b)) (Map.empty[String, String], a + 1, b)
        else {
          val (h, bodyStart) = splitHeadersBody(s, a, b)
          (h, bodyStart, b)
        }
      }.toVector
  }

  /** Decoded text of the best body part of the message `s` whose top-level
    * body is `s[start, end)`. Nested multiparts (multipart/mixed wrapping
    * multipart/alternative is the STANDARD shape of any email with an
    * attachment) are walked in preorder on an explicit stack, so nesting
    * depth costs heap, never thread stack; every part is a range of `s`,
    * and only the chosen body is copied out, so nesting costs no copies of
    * the levels below it either. Preference at every level: first
    * text/plain, else first text/html (as text), else the first nested
    * multipart that yields either.
    */
  private def bestBody(headers: Map[String, String], s: String, start: Int, end: Int): String = {
    def decoded(h: Map[String, String], a: Int, b: Int) =
      decodeBody(s.substring(a, b), h.getOrElse("content-transfer-encoding", "7bit"), charsetOf(h))
    if (!isMultipart(headers)) return decoded(headers, start, end)
    val delims = new Delimiters(s)
    val pending = new java.util.ArrayDeque[(Map[String, String], Int, Int)]()
    pending.push((headers, start, end))
    while (!pending.isEmpty) {
      val (h, a, b) = pending.pop()
      val parts = partsOf(h, s, a, b, delims)
      // RFC 2046 default for a part without Content-Type is text/plain
      def partOf(typ: String) = parts.find(p => Normalize.lowerAscii(p._1.getOrElse("content-type", "text/plain")).startsWith(typ))
      partOf("text/plain").orElse(partOf("text/html")) match {
        case Some((ph, pa, pb)) =>
          val text = decoded(ph, pa, pb)
          return if (Normalize.lowerAscii(ph.getOrElse("content-type", "")).startsWith("text/html")) htmlText(text)
            else text
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
      // CRLF is normalized once per message; every part is a range of `s`
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8).replace("\r\n", "\n")
      val (headers, bodyStart) = splitHeadersBody(s, 0, s.length)
      val text = bestBody(headers, s, bodyStart, s.length)
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
