package extractous.core

import extractous.config.ExtractorConfig
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.ocr.Ocr
import extractous.sniff.MimeSniffer
import extractous.text.Normalize

/** WARC (ISO 28500) — the container Common-Crawl-style corpora actually ship
  * in, and therefore the native ingest format for this engine (north rule:
  * "Iceberg table of Common-Crawl-style web pages"; the reference reads the
  * same pages one file at a time, /root/reference/extractor.go:452-481 —
  * container handling is delegated to Tika there).
  *
  * Semantics mirror [[ArchiveExtractor]]: extractable records re-enter the
  * full sniff→dispatch pipeline in file order and the result is their
  * extracted texts concatenated, under the one nesting budget of every
  * codec and container ([[Extract.nestingGate]]). Extractable records are:
  *   - `response` records carrying `application/http; msgtype=response`:
  *     the HTTP message is parsed (status line + headers), `Transfer-Encoding:
  *     chunked` is de-chunked and `Content-Encoding: gzip` inflated (crawls
  *     store the raw wire bytes), and the entity body is dispatched;
  *   - `resource` / `conversion` records: the block is dispatched directly.
  * `warcinfo`, `request`, `metadata`, `revisit` records are skipped
  * structurally. A record whose payload fails to extract is skipped with the
  * first failure kept as a `" <- "` context frame; a WARC with zero
  * extractable records fails the row — "wrong text never", like every other
  * parser here. Structural corruption (bad version line, missing
  * Content-Length, a block overrunning the file) throws, surfacing as status
  * −4 upstream.
  *
  * `.warc.gz` needs no code here: Common Crawl gzips each record as its own
  * member and concatenates, and the gzip codec layer inflates ALL members
  * ([[Extract.gunzip]] via GZIPInputStream's concatenated-member support)
  * before re-sniffing the inner bytes as WARC.
  */
object WarcExtractor {

  final case class Record(warcType: String, targetUri: String, date: String,
      contentType: String, block: Array[Byte])

  /** [[Extract.nestingGate]] runs FIRST — it is free, and a deeply-nested
    * bomb must not buy a full structural walk + block copies before it is
    * refused.
    */
  def extract(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult =
    Extract.nestingGate(MimeSniffer.Warc, "warc", depth)(extractRecords(bytes, cfg, ocr, depth))

  private def extractRecords(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult = {
    val recs =
      try records(bytes)
      catch {
        case e: Exception =>
          return ExtractResult.fail(ExtractStatus.ExtractionFailed, s"warc: ${e.getMessage}", MimeSniffer.Warc)
      }
    if (recs.isEmpty)
      return ExtractResult.fail(ExtractStatus.ExtractionFailed, "warc: no records", MimeSniffer.Warc)

    // member-emission policy is the shared [[MemberEmitter]] — identical to
    // zip/tar/7z/rar, so a policy fix lands once for both container families
    val me = new MemberEmitter(cfg)
    var responses = 0
    val uris = Seq.newBuilder[String]
    recs.iterator.takeWhile(_ => !me.isFull).foreach { rec =>
      val payload: Option[Array[Byte]] = rec.warcType match {
        case "response" if rec.contentType.startsWith("application/http") =>
          responses += 1
          if (rec.targetUri.nonEmpty) uris += rec.targetUri
          try Some(httpBody(rec.block))
          catch {
            case e: Exception =>
              me.recordError(s"${e.getMessage} <- warc response '${rec.targetUri}'")
              None
          }
        case "resource" | "conversion" =>
          if (rec.targetUri.nonEmpty) uris += rec.targetUri
          Some(rec.block)
        case _ => None // warcinfo / request / metadata / revisit
      }
      payload.foreach(body => me.add(body, "record", s"warc record '${rec.targetUri}'", ocr, depth))
    }
    if (me.ok == 0)
      ExtractResult.fail(ExtractStatus.ExtractionFailed,
        s"warc: no extractable records: ${me.firstErr}", MimeSniffer.Warc)
    else
      me.sink.ok(Map("Content-Type" -> Seq(MimeSniffer.Warc),
        "warc:record-count" -> Seq(recs.length.toString),
        "warc:response-count" -> Seq(responses.toString),
        "WARC-Target-URI" -> uris.result()), MimeSniffer.Warc)
  }

  /** Structural record walk. Each record: `WARC/1.0|1.1` CRLF, header lines
    * to an empty line, `Content-Length` block bytes, CRLF CRLF separator
    * (tolerated absent at EOF). Anything else throws — never a guess.
    */
  def records(bytes: Array[Byte]): Seq[Record] = {
    val (recs, err) = recordsLenient(bytes)
    err.foreach(e => throw new IllegalArgumentException(e))
    recs
  }

  /** Like [[records]] but a structural error TRUNCATES instead of throwing:
    * returns every record parsed before the corruption plus the error text.
    * This is the ingest posture — one torn record at the tail of a crawl
    * file must not discard the gigabyte of good pages before it, but the
    * loss must be ACCOUNTED, not silent.
    */
  def recordsLenient(bytes: Array[Byte]): (Seq[Record], Option[String]) = {
    val out = Seq.newBuilder[Record]
    var off = 0
    try {
      while (off < bytes.length) {
        // tolerate extra blank separators between records
        while (off < bytes.length && (bytes(off) == '\r' || bytes(off) == '\n')) off += 1
        if (off >= bytes.length) return (out.result(), None)
        val vEnd = lineEnd(bytes, off)
        val version = ascii(bytes, off, vEnd)
        if (!(version == "WARC/1.0" || version == "WARC/1.1"))
          throw new IllegalArgumentException(s"bad version line at $off")
        var p = skipEol(bytes, vEnd)
        var warcType = ""; var uri = ""; var date = ""; var ctype = ""; var len = -1L
        var blank = false
        while (!blank) {
          // a file cut mid-header must NOT synthesize a blank line at EOF:
          // with Content-Length: 0 already parsed, the torn record would be
          // accepted silently — the loss must be accounted, not swallowed
          if (p >= bytes.length)
            throw new IllegalArgumentException(s"header at $off truncated at EOF")
          val e = lineEnd(bytes, p)
          val line = ascii(bytes, p, e)
          if (line.isEmpty) blank = true
          else {
            val c = line.indexOf(':')
            if (c > 0) {
              val name = Normalize.lowerAscii(line.substring(0, c).trim)
              val value = line.substring(c + 1).trim
              name match {
                case "warc-type" => warcType = value
                case "warc-target-uri" => uri = stripAngles(value)
                case "warc-date" => date = value
                case "content-type" => ctype = value
                case "content-length" => len = java.lang.Long.parseLong(value)
                case _ => ()
              }
            }
          }
          p = skipEol(bytes, e)
          if (p > bytes.length) throw new IllegalArgumentException("header overruns file")
        }
        if (len < 0) throw new IllegalArgumentException(s"record at $off missing Content-Length")
        if (len > Int.MaxValue || p + len > bytes.length)
          throw new IllegalArgumentException(s"record block at $off overruns file")
        out += Record(warcType, uri, date, ctype,
          java.util.Arrays.copyOfRange(bytes, p, p + len.toInt))
        off = p + len.toInt
      }
      (out.result(), None)
    } catch {
      case e: Exception => (out.result(), Some(if (e.getMessage == null) e.toString else e.getMessage))
    }
  }

  /** HTTP response message → entity body: status line verified, headers
    * consumed, `Transfer-Encoding: chunked` de-chunked, then
    * `Content-Encoding: gzip` inflated (that order — chunking frames the
    * wire, compression encodes the entity).
    */
  def httpBody(block: Array[Byte]): Array[Byte] = {
    val sEnd = lineEnd(block, 0)
    if (!ascii(block, 0, sEnd).startsWith("HTTP/"))
      throw new IllegalArgumentException("http: bad status line")
    var p = skipEol(block, sEnd)
    var chunked = false
    var encoding = ""
    var blank = false
    while (!blank) {
      if (p >= block.length) throw new IllegalArgumentException("http: headers overrun block")
      val e = lineEnd(block, p)
      val line = ascii(block, p, e)
      if (line.isEmpty) blank = true
      else {
        val c = line.indexOf(':')
        if (c > 0) {
          val name = Normalize.lowerAscii(line.substring(0, c).trim)
          val value = Normalize.lowerAscii(line.substring(c + 1).trim)
          if (name == "transfer-encoding" && value.contains("chunked")) chunked = true
          if (name == "content-encoding") encoding = value
        }
      }
      p = skipEol(block, e)
    }
    var body = java.util.Arrays.copyOfRange(block, p, block.length)
    if (chunked) body = dechunk(body)
    // single-coding values only; anything else (compress, coding stacks)
    // throws so the row becomes an ACCOUNTED response_error — a compressed
    // body emitted as raw bytes would be silent mojibake. The big four
    // modern codings (gzip, deflate, br, zstd) all decode.
    encoding match {
      case "" | "identity"       =>
      case "gzip" | "x-gzip"     => body = Extract.gunzip(body, maxOut = Extract.MaxLayerBytes)
      case "deflate"             => body = inflate(body)
      case "zstd"                => body = Zstd.decode(body, maxOut = Extract.MaxLayerBytes)
      case "br"                  => body = Brotli.decode(body, maxOut = Extract.MaxLayerBytes)
      case other                 =>
        throw new IllegalArgumentException(s"http: unsupported content-encoding '$other'")
    }
    body
  }

  /** `Content-Encoding: deflate` is zlib-wrapped (RFC 9110 §8.4.1.2), but a
    * long tail of historical servers sent raw DEFLATE under the same name —
    * try zlib first, fall back to raw, exactly as browsers do.
    */
  private[extractous] def inflate(b: Array[Byte], maxOut: Int = Extract.MaxLayerBytes): Array[Byte] = {
    def run(nowrap: Boolean): Array[Byte] = {
      val inf = new java.util.zip.Inflater(nowrap)
      try {
        inf.setInput(b)
        val out = new LayerBuffer("deflate", maxOut, b.length)
        out.drain(inf)
        if (!inf.finished()) throw new IllegalArgumentException("http: truncated deflate body")
        out.result()
      } finally inf.end()
    }
    // a budget breach is an IllegalStateException: a bomb is never run twice
    try run(nowrap = false)
    catch { case _: java.util.zip.DataFormatException | _: IllegalArgumentException =>
      run(nowrap = true)
    }
  }

  /** RFC 9112 §7.1 chunked framing: hex size line (extensions after ';'
    * ignored), data, CRLF, …, `0` terminator; trailers ignored.
    */
  private def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var p = 0
    var done = false
    while (!done) {
      if (p >= b.length) throw new IllegalArgumentException("http: truncated chunked body")
      val e = lineEnd(b, p)
      val sizeLine = ascii(b, p, e)
      val hex = { val s = sizeLine.indexOf(';'); if (s >= 0) sizeLine.substring(0, s) else sizeLine }.trim
      val n = java.lang.Integer.parseInt(hex, 16)
      p = skipEol(b, e)
      if (n == 0) done = true
      else {
        if (p + n > b.length) throw new IllegalArgumentException("http: chunk overruns body")
        out.write(b, p, n)
        p += n
        if (p < b.length && b(p) != '\r' && b(p) != '\n')
          throw new IllegalArgumentException("http: chunk not followed by CRLF")
        p = skipEol(b, p)
      }
    }
    out.toByteArray
  }

  private def stripAngles(s: String): String =
    if (s.length >= 2 && s.charAt(0) == '<' && s.charAt(s.length - 1) == '>') s.substring(1, s.length - 1) else s

  private def ascii(b: Array[Byte], from: Int, to: Int): String =
    new String(b, from, to - from, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Index of the first CR or LF at/after `from` (or length). */
  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && b(i) != '\r' && b(i) != '\n') i += 1
    i
  }

  /** Skip one line terminator (CRLF or lone LF) at `at`. */
  private def skipEol(b: Array[Byte], at: Int): Int = {
    var i = at
    if (i < b.length && b(i) == '\r') i += 1
    if (i < b.length && b(i) == '\n') i += 1
    i
  }
}
