package extractous.text

import extractous.config.{CharSet, ExtractorConfig}
import extractous.model.ExtractResult

/** The single canonical whitespace/block policy shared by ALL format parsers
  * (SURVEY.md §7.4: one policy, frozen by golden files):
  *   - a document is a sequence of blocks (paragraph, heading, table row, line);
  *   - within a block, whitespace runs collapse to a single space and the block
  *    is trimmed;
  *   - empty blocks are dropped;
  *   - blocks are joined with a single '\n'; no trailing newline.
  */
object Normalize {
  /** Collapse internal whitespace runs to one space and trim.
    *
    * Fast path: a string already in canonical form (no leading/trailing
    * whitespace, every whitespace char a single ' ') is returned as-is —
    * the extraction hot path normalizes some blocks twice (a parser's own
    * flush and the sink's normalize), and the second pass would otherwise
    * copy the full document again.
    */
  def line(s: String): String = {
    var i = 0
    var prevSpace = true // true at index 0 ⇒ a leading ' ' needs the slow path
    while (i < s.length) {
      val c = s.charAt(i)
      // ASCII printable (the overwhelmingly common case) is never whitespace
      if (c > ' ' && c < 127) prevSpace = false
      else if (c == ' ') {
        if (prevSpace) return lineSlow(s)
        prevSpace = true
      } else if (Character.isWhitespace(c)) return lineSlow(s)
      else prevSpace = false
      i += 1
    }
    if (prevSpace && s.nonEmpty) lineSlow(s) else s
  }


  private def lineSlow(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c); started = true
      }
      i += 1
    }
    sb.toString
  }

  /** Canonical form of multi-line raw text: normalize each line, drop empties,
    * join with '\n'.
    */
  def text(s: String): String =
    s.split("\n", -1).iterator.map(line).filter(_.nonEmpty).mkString("\n")

  /** ASCII-only lowercase: locale-independent and length-preserving.
    * `String.toLowerCase()` uses the JVM default locale ("TITLE" → "tıtle"
    * under tr_TR, silently breaking every ASCII-keyword comparison on such
    * executors) and can change string LENGTH for some Unicode points
    * (U+0130 → "i" + combining dot), which would desynchronize a lowercased
    * shadow copy from the original's indices. Every parser here compares
    * against ASCII keywords (tag names, header names, MIME tokens), so the
    * ASCII map is both the correct semantics and the fast path.
    */
  def lowerAscii(s: String): String = {
    var i = 0
    while (i < s.length && !(s.charAt(i) >= 'A' && s.charAt(i) <= 'Z')) i += 1
    if (i == s.length) return s
    val b = new Array[Char](s.length)
    s.getChars(0, s.length, b, 0)
    while (i < b.length) {
      val c = b(i)
      if (c >= 'A' && c <= 'Z') b(i) = (c + 32).toChar
      i += 1
    }
    new String(b)
  }

  /** ASCII-only uppercase twin of [[lowerAscii]]. */
  def upperAscii(s: String): String = {
    var i = 0
    while (i < s.length && !(s.charAt(i) >= 'a' && s.charAt(i) <= 'z')) i += 1
    if (i == s.length) return s
    val b = new Array[Char](s.length)
    s.getChars(0, s.length, b, 0)
    while (i < b.length) {
      val c = b(i)
      if (c >= 'a' && c <= 'z') b(i) = (c - 32).toChar
      i += 1
    }
    new String(b)
  }
}

/** The per-document output sink every extractor writes its blocks to, and
  * the only code that reads the two output switches all formats share:
  * `cfg.xmlOutput` (the reference's SetXmlOutput, extractor.go:299-305)
  * and `cfg.maxStringLength` (extract-string-max-length, extractor.go:144-151).
  *
  * One policy for every format:
  *   - each block is normalized once ([[Normalize.line]]); empty blocks are
  *     dropped;
  *   - text: blocks joined by '\n', cut DURING emission at `maxStringLength`
  *     characters of the joined text; the block that crosses the cap keeps
  *     its prefix, never ending between the halves of a surrogate pair;
  *   - XML, only when `xmlOutput` (the column is "" otherwise): a `<doc>`
  *     root with one escaped `<tag>` element per block, '\n'-separated. An
  *     element is added only while the serialized document is shorter than
  *     the cap, and its text, counted unescaped, is cut to the room left
  *     (surrogate-safe). So the document up to the last element's opening
  *     markup, plus that element's unescaped text, is at most the cap. The
  *     last element's markup (`\n<tag>`, `</tag>`), the growth from escaping
  *     its `&`, `<` and `>`, and the closing `\n</doc>` come on top: the
  *     column holds at most cap + 2·|tag| + 13 characters plus that growth
  *     (79 at cap 64 for a `p` element with nothing to escape). The cut
  *     element is still closed, so the output stays well-formed.
  *
  * The XML always holds at least as many characters as the text it mirrors,
  * so once the text is full the XML is too: [[isFull]] (the text at its cap)
  * is the one stop signal for every feeding loop.
  */
final class BlockSink(cfg: ExtractorConfig) {
  private val maxLen = cfg.maxStringLength
  // text blocks are kept by REFERENCE and joined once in ok(): `len` is the
  // joined length (blocks + '\n' separators) the cap is measured against
  private val parts = new java.util.ArrayList[String]()
  private var len = 0
  private var full = false
  private val xml = if (cfg.xmlOutput) new java.lang.StringBuilder("<doc>") else null
  private var xmlFull = false

  /** The text has reached the length cap; further blocks are dropped. */
  def isFull: Boolean = full

  /** No text block has been kept yet. */
  def isEmpty: Boolean = parts.isEmpty

  /** One block: normalized, appended to the text and, in XML mode, as a
    * `tag` element.
    */
  def add(tag: String, raw: String): Unit =
    if (!full || (xml != null && !xmlFull)) addNormalized(tag, Normalize.line(raw))

  /** [[add]] for a block the CALLER guarantees is already in
    * [[Normalize.line]] canonical form (e.g. the HTML extractor's blocks,
    * normalized at flush) — skips the normalize scan. Only use where the
    * invariant is structural.
    */
  def addNormalized(tag: String, t: String): Unit =
    if (t.nonEmpty) {
      if (!full) appendText(t)
      if (xml != null && !xmlFull) appendXml(tag, t)
    }

  /** An element for the XML only (HTML's `<title>` outside AllText mode). */
  def addElement(tag: String, raw: String): Unit =
    if (xml != null && !xmlFull) {
      val t = Normalize.line(raw)
      if (t.nonEmpty) appendXml(tag, t)
    }

  /** `blocks` in order, each as a `tag` element, while the text has room. */
  def addAll(tag: String, blocks: Iterator[String]): Unit =
    blocks.takeWhile(_ => !full).foreach(add(tag, _))

  /** Raw text split on '\n', one block per line, while the text has room. */
  def addLines(tag: String, raw: String): Unit = addAll(tag, raw.split("\n", -1).iterator)

  /** A member document's extracted text (archive, WARC and mbox members):
    * line by line into the text, as ONE whole `tag` element into the XML.
    */
  def addMember(tag: String, text: String): Unit =
    if (text.nonEmpty) {
      text.split("\n", -1).iterator.takeWhile(_ => !full).foreach { l =>
        val t = Normalize.line(l)
        if (t.nonEmpty) appendText(t)
      }
      addElement(tag, text)
    }

  /** The document's result: the joined text, and the closed XML document
    * (or "" when XML mode is off).
    */
  def ok(meta: Map[String, Seq[String]], mime: String): ExtractResult =
    ExtractResult.ok(text(), if (xml == null) "" else xml.append("\n</doc>").toString, meta, mime)

  private def appendText(t: String): Unit = {
    val sep = if (len > 0) 1 else 0
    if (len + sep + t.length > maxLen) {
      var room = maxLen - len - sep
      // never cut between the halves of a surrogate pair: a dangling high
      // surrogate would turn into U+FFFD/'?' at every downstream UTF-8
      // encode (parquet write, stream getBytes), corrupting the output and
      // desynchronizing byte-count columns from the closed-form oracles
      if (room > 0 && room < t.length && Character.isHighSurrogate(t.charAt(room - 1))) room -= 1
      // a room <= 0 cut would strand the separator: drop the block instead
      if (room > 0) {
        parts.add(t.substring(0, room))
        len += sep + room
      }
      full = true
    } else {
      parts.add(t)
      len += sep + t.length
    }
  }

  private def appendXml(tag: String, block: String): Unit = {
    // a single oversized block (e.g. a paragraph inflated from a 256 MB-capped
    // decompression) must not be appended whole before the cap is checked
    var t = block
    val room = maxLen - xml.length()
    if (t.length > room) {
      var cut = math.max(room, 0)
      if (cut > 0 && cut < t.length && Character.isHighSurrogate(t.charAt(cut - 1))) cut -= 1
      t = t.substring(0, cut)
      xmlFull = true
    }
    if (t.nonEmpty) {
      xml.append('\n').append('<').append(tag).append('>')
      escapeInto(t)
      xml.append("</").append(tag).append('>')
    }
    if (xml.length() >= maxLen) xmlFull = true
  }

  private def escapeInto(s: String): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => xml.append("&amp;")
        case '<' => xml.append("&lt;")
        case '>' => xml.append("&gt;")
        case c   => xml.append(c)
      }
      i += 1
    }
  }

  private def text(): String = {
    val n = parts.size
    if (n == 0) ""
    else if (n == 1) parts.get(0)
    else {
      val out = new java.lang.StringBuilder(len)
      var i = 0
      while (i < n) {
        if (i > 0) out.append('\n')
        out.append(parts.get(i))
        i += 1
      }
      out.toString
    }
  }
}

object Encoding {
  /** Apply the configured output charset. In a String-column world this is a
    * lossy fold for non-representable characters (US-ASCII → '?'), a no-op for
    * UTF-8/UTF-16BE round trips — semantics of the reference's SetEncoding
    * (/root/reference/extractor.go:186-190) without its byte-level surface.
    */
  def apply(s: String, cs: CharSet): String = cs match {
    case CharSet.Utf8 => s
    case other =>
      val charset = java.nio.charset.Charset.forName(other.charsetName)
      new String(s.getBytes(charset), charset)
  }
}
