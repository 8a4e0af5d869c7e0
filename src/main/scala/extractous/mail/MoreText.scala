package extractous.mail

import extractous.config.ExtractorConfig
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.text.BlockSink

/** Delimited text (CSV/TSV, RFC 4180): quote-aware row/cell split — quoted
  * fields may contain the delimiter, doubled quotes, and embedded newlines —
  * each row emitted as one block with cells joined by a single space, the
  * same text shape Tika's TextAndCSVParser hands downstream. Detection is
  * statistical (uniform out-of-quote delimiter count across sampled lines,
  * tab > comma > semicolon priority), mirroring how Tika subtypes bare text
  * as csv without a filename.
  */
object CsvExtractor {
  val Mime = "text/csv"
  private val Delims = Seq('\t', ',', ';')

  /** Uniform nonzero out-of-quote delimiter count over ≥2 sampled lines. */
  def looksLikeDelimited(s: String): Boolean = detectDelim(s).isDefined

  def detectDelim(s: String): Option[Char] =
    Delims.find { d =>
      // a text with NO occurrence of d yields all-zero row counts, which the
      // uniformity test rejects regardless of quoting — so the quote-aware
      // state machine only needs to run when d appears at all (indexOf is an
      // intrinsified scan; prose without delimiters skips 3 full passes)
      s.indexOf(d) >= 0 && {
        val counts = rowDelimCounts(s, d, maxRows = 20)
        counts.length >= 2 && counts.head > 0 && counts.forall(_ == counts.head)
      }
    }

  /** Per-LOGICAL-row out-of-quote delimiter counts — same state machine as
    * [[parse]] (a quoted cell may span physical lines), counting only.
    */
  private def rowDelimCounts(s: String, d: Char, maxRows: Int): Vector[Int] = {
    val counts = Vector.newBuilder[Int]
    var rows = 0
    var n = 0
    var sawChar = false
    var inQ = false
    var cellEmpty = true
    var i = 0
    while (i < s.length && rows < maxRows) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') i += 1
          else inQ = false
        }
      } else c match {
        case '"' if cellEmpty => inQ = true; sawChar = true; cellEmpty = false
        case `d` => n += 1; sawChar = true; cellEmpty = true
        case '\n' =>
          if (sawChar) { counts += n; rows += 1 }
          n = 0; sawChar = false; cellEmpty = true
        case '\r' => // row end handled at \n; bare \r treated the same
          if (!(i + 1 < s.length && s.charAt(i + 1) == '\n')) {
            if (sawChar) { counts += n; rows += 1 }
            n = 0; sawChar = false; cellEmpty = true
          }
        case _ => sawChar = true; cellEmpty = false
      }
      i += 1
    }
    if (sawChar && rows < maxRows) counts += n
    counts.result()
  }

  /** RFC 4180 state machine over the whole document (quoted fields may span
    * lines); rows of cells, no trailing phantom row.
    */
  def parse(s: String, delim: Char): Vector[Vector[String]] = {
    val rows = Vector.newBuilder[Vector[String]]
    var row = Vector.empty[String]
    val cell = new StringBuilder
    var inQ = false
    var hasContent = false // current row saw any char, quote, or delimiter
    var i = 0
    def endCell(): Unit = { row = row :+ cell.toString; cell.clear() }
    def endRow(): Unit = { endCell(); rows += row; row = Vector.empty; hasContent = false }
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { cell.append('"'); i += 1 }
          else inQ = false
        } else cell.append(c)
      } else c match {
        // a quote is only special at cell start (RFC 4180); mid-cell quotes
        // are literal characters
        case '"' if cell.isEmpty => inQ = true; hasContent = true
        case '"' => cell.append(c); hasContent = true
        case `delim` => endCell(); hasContent = true
        case '\r' => // bare \r ends the row; \r\n is consumed by the \n case
          if (!(i + 1 < s.length && s.charAt(i + 1) == '\n')) endRow()
        case '\n' => endRow()
        case other => cell.append(other); hasContent = true
      }
      i += 1
    }
    if (hasContent || cell.nonEmpty || row.nonEmpty) endRow()
    rows.result().filter(_.exists(_.nonEmpty))
  }

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    try {
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      val delim = detectDelim(s).getOrElse(
        return ExtractResult.fail(ExtractStatus.ExtractionFailed, "csv: no uniform delimiter", Mime))
      val rows = parse(s, delim)
      val sink = new BlockSink(cfg)
      sink.addAll("row", rows.iterator.map(_.mkString(" ")))
      sink.ok(Map("Content-Type" -> Seq(Mime),
        "csv:delimiter" -> Seq(if (delim == '\t') "tab" else delim.toString),
        "csv:row-count" -> Seq(rows.length.toString)), Mime)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, s"csv: ${e.getMessage}", Mime)
    }
  }
}

/** Unix mbox (RFC 4155): messages separated by `From ` envelope lines; each
  * message body is `>From`-unstuffed and handed to [[MailExtractor]], with
  * the per-message blocks concatenated in mailbox order — the multi-document
  * analogue of the archive walk.
  */
object MboxExtractor {
  val Mime = "application/mbox"

  def looksLikeMbox(bytes: Array[Byte]): Boolean = {
    val head = new String(bytes, 0, math.min(512, bytes.length),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!head.startsWith("From ")) return false
    // the envelope line must be followed by an RFC-822 header line
    val nl = head.indexOf('\n')
    nl > 0 && head.substring(nl + 1).matches("(?s)^[A-Za-z][A-Za-z0-9-]*: .*")
  }

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    try {
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      if (!s.startsWith("From "))
        return ExtractResult.fail(ExtractStatus.UnsupportedFormat, "mbox: no envelope line", Mime)
      val messages = Vector.newBuilder[String]
      val cur = new StringBuilder
      var first = true
      s.split("\r?\n", -1).foreach { line =>
        if (line.startsWith("From ")) {
          if (!first && cur.nonEmpty) { messages += cur.toString; cur.clear() }
          first = false // drop the envelope line itself
        } else if (!first) {
          // >From-unstuffing: a body line quoted by the mbox writer
          cur.append(if (line.startsWith(">From")) line.substring(1) else line).append("\r\n")
        }
      }
      if (cur.nonEmpty) messages += cur.toString
      val msgs = messages.result()
      if (msgs.isEmpty)
        return ExtractResult.fail(ExtractStatus.ExtractionFailed, "mbox: no messages", Mime)
      val sink = new BlockSink(cfg)
      var ok = 0
      var firstErr = ""
      msgs.iterator.takeWhile(_ => !sink.isFull).zipWithIndex.foreach { case (m, k) =>
        val r = MailExtractor.extract(m.getBytes(java.nio.charset.StandardCharsets.UTF_8), cfg)
        if (r.status == ExtractStatus.Ok) {
          ok += 1
          sink.addMember("message", r.text)
        } else if (firstErr.isEmpty) firstErr = s"${r.error} <- mbox message ${k + 1}"
      }
      if (ok == 0)
        ExtractResult.fail(ExtractStatus.ExtractionFailed,
          s"mbox: no extractable messages: $firstErr", Mime)
      else
        sink.ok(Map("Content-Type" -> Seq(Mime),
          "mbox:message-count" -> Seq(msgs.length.toString)), Mime)
    } catch {
      case e: Exception =>
        ExtractResult.fail(ExtractStatus.ExtractionFailed, s"mbox: ${e.getMessage}", Mime)
    }
  }
}
