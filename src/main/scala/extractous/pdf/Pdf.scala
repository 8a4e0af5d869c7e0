package extractous.pdf

import extractous.config.{ExtractorConfig, PdfOcrStrategy}
import extractous.core.{Extract, LayerBuffer}
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.ocr.Ocr
import extractous.text.{BlockSink, Normalize}
import scala.collection.mutable.ArrayBuffer

/** From-scratch PDF layout parser per the north rule: COS object lexer,
  * object-graph walk (catalog → pages → content streams), content-stream
  * tokenizer with text-matrix tracking, glyph-run ordering with line grouping and
  * column detection, annotation text, marked content, and the four OCR
  * strategies of the reference (/root/reference/types.go:177-276).
  *
  * Scope: classic xref or object-scan recovery, FlateDecode, WinAnsi/ASCII
  * text — honest on minimal spec-conformant PDFs (SURVEY.md §7.4).
  */
object Cos {
  sealed trait V
  final case class Num(d: Double) extends V
  final case class Str(bytes: Array[Byte]) extends V
  final case class Name(n: String) extends V
  final case class Arr(items: Vector[V]) extends V
  final case class Dict(m: Map[String, V]) extends V
  final case class Ref(num: Int, gen: Int) extends V
  final case class Bool(b: Boolean) extends V
  case object Null extends V
  final case class StreamObj(dict: Dict, data: Array[Byte]) extends V
  final case class Op(name: String) extends V // content-stream operator
}

final class CosLexer(buf: Array[Byte], var pos: Int, val end: Int) {
  import Cos._
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  private def isWs(c: Int) = c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  private def isDelim(c: Int) = c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' || c == '{' || c == '}' || c == '/' || c == '%'
  def skipWs(): Unit = {
    while (pos < end) {
      val c = buf(pos) & 0xff
      if (isWs(c)) pos += 1
      else if (c == '%') { while (pos < end && buf(pos) != '\n' && buf(pos) != '\r') pos += 1 }
      else return
    }
  }
  def peek: Int = if (pos < end) buf(pos) & 0xff else -1

  /** Next COS token/value. Operators (content streams) come back as Op. */
  def next(): V = {
    var v = token()
    while (v eq null) v = token()
    v
  }

  /** One COS token/value, or null after skipping a stray `)`, `{` or `}`.
    * [[next]] skips a run of them in an explicit loop, so its length never
    * reaches the thread's stack whether or not the compiler turns a
    * self-call in tail position into a jump.
    */
  private def token(): V = {
    skipWs()
    if (pos >= end) return Null
    val c = peek
    c match {
      case '/' =>
        pos += 1
        // names without '#' escapes (the universal case) decode as one
        // ASCII String; the escaped loop only runs when a '#' is present
        val st = pos
        var hasHash = false
        while (pos < end && !isWs(peek) && !isDelim(peek)) {
          if (peek == '#') hasHash = true
          pos += 1
        }
        if (!hasHash) Name(new String(buf, st, pos - st, "US-ASCII"))
        else {
          pos = st
          val sb = new StringBuilder
          while (pos < end && !isWs(peek) && !isDelim(peek)) {
            if (peek == '#' && pos + 2 < end) {
              val h = Integer.parseInt(new String(buf, pos + 1, 2, "US-ASCII"), 16)
              sb.append(h.toChar); pos += 3
            } else { sb.append(peek.toChar); pos += 1 }
          }
          Name(sb.toString)
        }
      case '(' => readLiteralString()
      case '<' =>
        if (pos + 1 < end && buf(pos + 1) == '<') { pos += 2; readDict() }
        else readHexString()
      case '[' =>
        pos += 1
        val items = Vector.newBuilder[V]
        var done = false
        while (!done) {
          skipWs()
          if (pos >= end || peek == ']') { if (pos < end) pos += 1; done = true }
          else items += next()
        }
        Arr(resolveRefs(items.result()))
      case ']' => pos += 1; Op("]")
      case '>' =>
        if (pos + 1 < end && buf(pos + 1) == '>') { pos += 2; Op(">>") } else { pos += 1; Op(">") }
      case d if (d >= '0' && d <= '9') || d == '+' || d == '-' || d == '.' =>
        val st = pos
        pos += 1
        while (pos < end && ((peek >= '0' && peek <= '9') || peek == '.' || peek == '-' || peek == '+')) pos += 1
        Num(parseNum(st, pos))
      case _ =>
        val st = pos
        while (pos < end && !isWs(peek) && !isDelim(peek)) pos += 1
        val w = new String(buf, st, pos - st, "US-ASCII")
        w match {
          case "true"  => Bool(true)
          case "false" => Bool(false)
          case "null"  => Null
          case ""      => pos += 1; null
          case other   => Op(other)
        }
    }
  }

  /** Exact fast path for the plain `[sign] digits [. digits]` numbers that
    * fill content streams: a ≤15-digit mantissa fits a long exactly and
    * 10^frac (frac ≤ 15) is an exact double, so mant/10^frac is the
    * correctly-rounded value — bit-identical to Double.parseDouble. Any other
    * shape (second sign/dot, >15 digits, no digits) falls back to parseDouble,
    * including its exception behavior on malformed input like `1-2`.
    */
  private def parseNum(st: Int, en: Int): Double = {
    var i = st
    var neg = false
    if (i < en && (buf(i) == '+' || buf(i) == '-')) { neg = buf(i) == '-'; i += 1 }
    var mant = 0L
    var digits = 0
    var frac = -1
    var bad = false
    while (!bad && i < en) {
      val c = buf(i)
      if (c >= '0' && c <= '9') {
        mant = mant * 10 + (c - '0'); digits += 1
        if (frac >= 0) frac += 1
        i += 1
      } else if (c == '.' && frac < 0) { frac = 0; i += 1 }
      else bad = true
    }
    if (!bad && digits > 0 && digits <= 15) {
      val v = if (frac <= 0) mant.toDouble else mant / CosLexer.Pow10(frac)
      if (neg) -v else v
    } else java.lang.Double.parseDouble(new String(buf, st, en - st, "US-ASCII"))
  }

  /** Rewrites trailing `Num Num Op(R)` triples inside arrays into Ref. */
  private def resolveRefs(items: Vector[V]): Vector[V] = {
    val out = ArrayBuffer.empty[V]
    var i = 0
    while (i < items.length) {
      if (i + 2 < items.length) (items(i), items(i + 1), items(i + 2)) match {
        case (Num(a), Num(b), Op("R")) if a == a.toInt && b == b.toInt =>
          out += Ref(a.toInt, b.toInt); i += 3
        case _ => out += items(i); i += 1
      }
      else { out += items(i); i += 1 }
    }
    out.toVector
  }

  private def readDict(): V = {
    var m = Map.empty[String, V]
    var done = false
    while (!done) {
      skipWs()
      if (pos >= end) done = true
      else if (peek == '>' && pos + 1 < end && buf(pos + 1) == '>') { pos += 2; done = true }
      else next() match {
        case Name(key) => m += (key -> nextValueResolvingRef())
        case _         => // tolerate junk between entries
      }
    }
    Dict(m)
  }

  /** Read one dict value, folding the `Num Num R` indirect-reference triple. */
  private def nextValueResolvingRef(): V = {
    next() match {
      case Num(a) if a == math.floor(a) && a >= 0 =>
        val save = pos
        next() match {
          case Num(b) if b == math.floor(b) && b >= 0 =>
            val save2 = pos
            next() match {
              case Op("R") => Ref(a.toInt, b.toInt)
              case _       => pos = save; Num(a)
            }
          case _ => pos = save; Num(a)
        }
      case other => other
    }
  }

  private def readLiteralString(): V = {
    pos += 1
    // fast path: a string with no escapes and no nested parens is the raw
    // bytes up to the next ')' — one bounds-checked copy, no per-byte
    // synchronized stream writes
    var p = pos
    while (p < end && { val c = buf(p); c != '\\' && c != '(' && c != ')' }) p += 1
    if (p < end && buf(p) == ')') {
      val s = Str(java.util.Arrays.copyOfRange(buf, pos, p))
      pos = p + 1
      return s
    }
    val out = new java.io.ByteArrayOutputStream()
    var depth = 1
    while (pos < end && depth > 0) {
      val c = buf(pos) & 0xff
      c match {
        case '\\' if pos + 1 < end =>
          pos += 1
          val e = buf(pos) & 0xff
          e match {
            case 'n' => out.write('\n'); pos += 1
            case 'r' => out.write('\r'); pos += 1
            case 't' => out.write('\t'); pos += 1
            case 'b' => out.write('\b'); pos += 1
            case 'f' => out.write('\f'); pos += 1
            case '(' => out.write('('); pos += 1
            case ')' => out.write(')'); pos += 1
            case '\\' => out.write('\\'); pos += 1
            case d if d >= '0' && d <= '7' =>
              var oct = 0; var n = 0
              while (n < 3 && pos < end && buf(pos) >= '0' && buf(pos) <= '7') { oct = oct * 8 + (buf(pos) - '0'); pos += 1; n += 1 }
              out.write(oct)
            case '\n' => pos += 1 // line continuation
            case _ => out.write(e); pos += 1
          }
        case '(' => depth += 1; out.write(c); pos += 1
        case ')' =>
          depth -= 1
          if (depth > 0) out.write(c)
          pos += 1
        case _ => out.write(c); pos += 1
      }
    }
    Str(out.toByteArray)
  }

  private def readHexString(): V = {
    pos += 1
    val out = new java.io.ByteArrayOutputStream()
    var hi = -1
    var done = false
    while (pos < end && !done) {
      val c = buf(pos) & 0xff
      if (c == '>') { done = true; pos += 1 }
      else {
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
        }
        pos += 1
      }
    }
    if (hi >= 0) out.write(hi * 16)
    Str(out.toByteArray)
  }
}

object CosLexer {
  /** 10^0..10^15, all exactly representable; built by repeated multiplication
    * (each product of exact values < 2^53 is exact).
    */
  private[pdf] val Pow10: Array[Double] = {
    val a = new Array[Double](16)
    a(0) = 1.0
    var i = 1
    while (i < a.length) { a(i) = a(i - 1) * 10.0; i += 1 }
    a
  }
}

final case class GlyphRun(x: Double, y: Double, text: String, mcTag: Option[String])

object PdfExtractor {
  import Cos._

  /** WinAnsiEncoding for the non-ASCII range we may meet; ASCII maps 1:1. */
  private val winAnsiHigh: Map[Int, Char] = Map(
    0x80 -> '€', 0x82 -> '‚', 0x84 -> '„', 0x85 -> '…', 0x91 -> '‘', 0x92 -> '’',
    0x93 -> '“', 0x94 -> '”', 0x95 -> '•', 0x96 -> '–', 0x97 -> '—', 0xA0 -> ' ',
    0xA9 -> '©', 0xAE -> '®', 0xB0 -> '°', 0xE9 -> 'é', 0xE8 -> 'è', 0xFC -> 'ü',
    0xF6 -> 'ö', 0xE4 -> 'ä', 0xDF -> 'ß', 0xE7 -> 'ç', 0xF1 -> 'ñ')

  private def decodeWinAnsi(b: Array[Byte]): String = {
    var i = 0
    while (i < b.length && (b(i) & 0xff) < 0x80) i += 1
    if (i == b.length) return new String(b, java.nio.charset.StandardCharsets.US_ASCII)
    val sb = new java.lang.StringBuilder(b.length)
    i = 0
    while (i < b.length) {
      val c = b(i) & 0xff
      if (c < 0x80) sb.append(c.toChar)
      else sb.append(winAnsiHigh.getOrElse(c, '?'))
      i += 1
    }
    sb.toString
  }

  /** Scan the whole file for `N G obj ... endobj` — robust against broken or
    * absent xref tables (recovery mode; classic readers do the same on damaged
    * files). Returns object map and trailer dict.
    */
  def scanObjects(buf: Array[Byte]): (Map[Int, V], Option[Dict]) = {
    val objs = scala.collection.mutable.Map.empty[Int, V]
    val s = new String(buf, java.nio.charset.StandardCharsets.ISO_8859_1)
    var idx = 0
    while (idx >= 0 && idx < s.length) {
      val objIdx = s.indexOf(" obj", idx)
      if (objIdx < 0) idx = -1
      else {
        // walk back over "N G"
        var k = objIdx - 1
        while (k >= 0 && Character.isDigit(s.charAt(k))) k -= 1
        val genStart = k + 1
        if (genStart < objIdx && k >= 1 && s.charAt(k) == ' ') {
          var k2 = k - 1
          while (k2 >= 0 && Character.isDigit(s.charAt(k2))) k2 -= 1
          val numStart = k2 + 1
          if (numStart < k) {
            val num = s.substring(numStart, k).toInt
            val bodyStart = objIdx + 4
            val endObj = s.indexOf("endobj", bodyStart)
            val bodyEnd = if (endObj < 0) s.length else endObj
            val lex = new CosLexer(buf, bodyStart, bodyEnd)
            var v = lex.next()
            // stream?
            v match {
              case d: Dict =>
                lex.skipWs()
                val streamKw = s.indexOf("stream", lex.pos)
                if (streamKw >= 0 && streamKw < bodyEnd && s.substring(lex.pos, math.min(bodyEnd, lex.pos + 7)).startsWith("stream")) {
                  var dataStart = lex.pos + 6
                  if (dataStart < buf.length && buf(dataStart) == '\r') dataStart += 1
                  if (dataStart < buf.length && buf(dataStart) == '\n') dataStart += 1
                  // Prefer a DIRECT /Length that lands on an endstream
                  // marker — the spec's source of truth. The marker-scan
                  // fallback's trailing-EOL strip eats a real data byte when
                  // binary stream data (AES ciphertext, image bytes) happens
                  // to END with 0x0D/0x0A — fatal for block ciphers where
                  // (len-16)%16 must be 0. (Indirect /Length refs can't be
                  // resolved mid-scan; they take the fallback.)
                  val byLength: Option[Int] = d.m.get("Length") match {
                    case Some(Num(x)) if x >= 0 && dataStart + x.toLong <= bodyEnd =>
                      val e = dataStart + x.toInt
                      var p = e
                      if (p < buf.length && buf(p) == '\r') p += 1
                      if (p < buf.length && buf(p) == '\n') p += 1
                      if (s.startsWith("endstream", p)) Some(e) else None
                    case _ => None
                  }
                  val dataEnd = byLength.getOrElse {
                    val endStream = s.indexOf("endstream", dataStart)
                    val dataEnd0 = if (endStream < 0) bodyEnd else endStream
                    // strip trailing EOL before endstream
                    var de = dataEnd0
                    if (de > dataStart && buf(de - 1) == '\n') de -= 1
                    if (de > dataStart && buf(de - 1) == '\r') de -= 1
                    de
                  }
                  v = StreamObj(d, java.util.Arrays.copyOfRange(buf, dataStart, dataEnd))
                }
              case _ =>
            }
            objs(num) = v
          }
        }
        idx = objIdx + 4
      }
    }
    // expand object streams (PDF 1.5 /Type /ObjStm): compressed objects would
    // otherwise be invisible to the raw scan
    objs.values.toSeq.foreach {
      case st @ StreamObj(d, _) if d.m.get("Type").contains(Name("ObjStm")) =>
        try {
          val data = d.m.get("Filter") match {
            case Some(Name("FlateDecode")) => inflate(st.data)
            case _                         => st.data
          }
          val n = d.m.get("N") match { case Some(Num(v)) => v.toInt; case _ => 0 }
          val first = d.m.get("First") match { case Some(Num(v)) => v.toInt; case _ => 0 }
          val headerLex = new CosLexer(data, 0, first)
          val pairs = (0 until n).flatMap { _ =>
            (headerLex.next(), headerLex.next()) match {
              case (Num(num), Num(off)) => Some((num.toInt, off.toInt))
              case _                    => None
            }
          }
          pairs.foreach { case (num, off) =>
            val lex = new CosLexer(data, first + off, data.length)
            objs.getOrElseUpdate(num, lex.next())
            ()
          }
        } catch { case _: Exception => () } // tolerate broken object streams
      case _ =>
    }
    // trailer
    val trailerIdx = s.lastIndexOf("trailer")
    val trailer =
      if (trailerIdx >= 0) {
        val lex = new CosLexer(buf, trailerIdx + 7, buf.length)
        lex.next() match { case d: Dict => Some(d); case _ => None }
      } else {
        // PDF 1.5+ cross-reference streams: no `trailer` keyword exists — the
        // trailer entries (/Root /Encrypt /ID) live in the XRef stream's own
        // dict. Without this fallback an encrypted xref-stream file would
        // silently skip decryption and emit RC4 ciphertext as text (violating
        // the decryptIfNeeded "never mojibake" contract). Prefer the dict
        // that names /Encrypt, then /Root (incremental updates can leave
        // several XRef streams; the scan-order Map gives no file order).
        val xrefDicts = objs.values.collect {
          case StreamObj(d, _) if d.m.get("Type").contains(Name("XRef")) => d
        }.toSeq
        xrefDicts.find(_.m.contains("Encrypt"))
          .orElse(xrefDicts.find(_.m.contains("Root")))
          .orElse(xrefDicts.headOption)
      }
    (objs.toMap, trailer)
  }

  private def resolve(v: V, objs: Map[Int, V]): V = v match {
    case Ref(n, _) => objs.get(n).map(resolve(_, objs)).getOrElse(Null)
    case other     => other
  }

  private def dictGet(d: Dict, key: String, objs: Map[Int, V]): V = resolve(d.m.getOrElse(key, Null), objs)

  /** Output-bounded FlateDecode — a decompression bomb hits the cap and fails
    * the row with an exception (mapped to status -4 upstream), never the
    * executor JVM. A truncated stream yields what it decoded.
    */
  def inflate(data: Array[Byte], maxOut: Int = Extract.MaxLayerBytes): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new LayerBuffer("FlateDecode", maxOut, data.length)
      out.drain(inf)
      if (inf.needsDictionary()) throw new java.util.zip.DataFormatException("needs dict")
      out.result()
    } finally inf.end()
  }

  private def streamData(st: StreamObj, objs: Map[Int, V]): Array[Byte] = {
    dictGet(st.dict, "Filter", objs) match {
      case Name("FlateDecode") => inflate(st.data)
      case Arr(fs) if fs.exists { case Name("FlateDecode") => true; case _ => false } => inflate(st.data)
      case _ => st.data
    }
  }

  final case class Page(dict: Dict, runs: Vector[GlyphRun], images: Vector[Array[Byte]], annots: Vector[String])

  /** Tokenize one content stream tracking the text matrix; emit glyph runs and
    * collect image XObject payloads referenced by `Do`.
    */
  def parseContent(content: Array[Byte], resources: Dict, objs: Map[Int, V]): (Vector[GlyphRun], Vector[Array[Byte]]) = {
    val runs = Vector.newBuilder[GlyphRun]
    val images = Vector.newBuilder[Array[Byte]]
    val lex = new CosLexer(content)
    val stack = ArrayBuffer.empty[V]
    var tx = 0.0; var ty = 0.0 // current text-line origin
    var cx = 0.0; var cy = 0.0 // current position
    var leading = 12.0
    var mcStack = List.empty[String]

    def num(v: V): Double = v match { case Num(d) => d; case _ => 0.0 }

    def show(bytes: Array[Byte]): Unit = {
      val t = decodeWinAnsi(bytes)
      if (t.nonEmpty) { runs += GlyphRun(cx, cy, t, mcStack.headOption); cx += t.length * 5.0 }
    }

    var continue = true
    while (continue) {
      lex.skipWs()
      if (lex.pos >= lex.end) { continue = false }
      else lex.next() match {
        case Op(op) =>
          op match {
            case "BT" => tx = 0; ty = 0; cx = 0; cy = 0
            case "ET" =>
            case "Td" =>
              if (stack.length >= 2) { tx += num(stack(stack.length - 2)); ty += num(stack(stack.length - 1)) }
              cx = tx; cy = ty
            case "TD" =>
              if (stack.length >= 2) {
                leading = -num(stack(stack.length - 1))
                tx += num(stack(stack.length - 2)); ty += num(stack(stack.length - 1))
              }
              cx = tx; cy = ty
            case "Tm" =>
              if (stack.length >= 6) { tx = num(stack(stack.length - 2)); ty = num(stack(stack.length - 1)) }
              cx = tx; cy = ty
            case "T*" => ty -= leading; tx = tx; cx = tx; cy = ty
            case "TL" => if (stack.nonEmpty) leading = num(stack.last)
            case "Tj" => stack.lastOption.foreach { case Str(b) => show(b); case _ => () }
            case "'" =>
              ty -= leading; cx = tx; cy = ty
              stack.lastOption.foreach { case Str(b) => show(b); case _ => () }
            case "\"" =>
              ty -= leading; cx = tx; cy = ty
              stack.lastOption.foreach { case Str(b) => show(b); case _ => () }
            case "TJ" =>
              stack.lastOption.foreach {
                case Arr(items) =>
                  items.foreach {
                    case Str(b) => show(b)
                    case Num(adj) => if (adj <= -180) { runs += GlyphRun(cx, cy, " ", mcStack.headOption); cx += 5.0 }
                    case _ =>
                  }
                case _ => ()
              }
            case "BDC" | "BMC" =>
              val tag = stack.collectFirst { case Name(n) => n }.getOrElse("")
              mcStack = tag :: mcStack
            case "EMC" => if (mcStack.nonEmpty) mcStack = mcStack.tail
            case "Do" =>
              stack.lastOption.foreach {
                case Name(xn) =>
                  dictGet(resources, "XObject", objs) match {
                    case xd: Dict =>
                      resolve(xd.m.getOrElse(xn, Null), objs) match {
                        case so: StreamObj =>
                          dictGet(so.dict, "Subtype", objs) match {
                            case Name("Image") => images += streamData(so, objs)
                            case _ =>
                          }
                        case _ =>
                      }
                    case _ =>
                  }
                case _ => ()
              }
            case _ => // ignore colors, paths, fonts, state
          }
          stack.clear()
        case v => stack += v
      }
    }
    (runs.result(), images.result())
  }

  /** Walk the page tree. */
  def pages(objs: Map[Int, V], trailer: Option[Dict]): Vector[Page] = {
    val root: Option[Dict] = trailer.flatMap(t => dictGet(t, "Root", objs) match { case d: Dict => Some(d); case _ => None })
      .orElse(objs.values.collectFirst { case d: Dict if d.m.get("Type").contains(Name("Catalog")) => d })
    val pagesRoot = root.flatMap(r => dictGet(r, "Pages", objs) match { case d: Dict => Some(d); case _ => None })
    val out = Vector.newBuilder[Page]

    // pre-order on an explicit stack, each node once: a /Kids entry that
    // points back up the tree (or at itself) is skipped, not walked forever
    var todo = pagesRoot.toList
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[Dict, java.lang.Boolean](4))
    while (todo.nonEmpty) {
      val node = todo.head
      todo = todo.tail
      if (seen.add(node)) dictGet(node, "Type", objs) match {
        case Name("Pages") =>
          dictGet(node, "Kids", objs) match {
            case Arr(kids) => kids.reverseIterator.foreach(k => resolve(k, objs) match { case d: Dict => todo ::= d; case _ => })
            case _ =>
          }
        case _ =>
          // a leaf Page
          val resources = dictGet(node, "Resources", objs) match { case d: Dict => d; case _ => Dict(Map.empty) }
          val contentBytes: Array[Byte] = dictGet(node, "Contents", objs) match {
            case so: StreamObj => streamData(so, objs)
            case Arr(items) =>
              val bos = new java.io.ByteArrayOutputStream()
              items.foreach(i => resolve(i, objs) match {
                case so: StreamObj => bos.write(streamData(so, objs)); bos.write('\n')
                case _ =>
              })
              bos.toByteArray
            case _ => Array.emptyByteArray
          }
          val (runs, images) = if (contentBytes.nonEmpty) parseContent(contentBytes, resources, objs) else (Vector.empty, Vector.empty)
          val annots: Vector[String] = dictGet(node, "Annots", objs) match {
            case Arr(items) => items.flatMap(i => resolve(i, objs) match {
              case d: Dict => dictGet(d, "Contents", objs) match {
                case Str(b) => Some(decodeWinAnsi(b)); case _ => None
              }
              case _ => None
            }).toVector
            case _ => Vector.empty
          }
          out += Page(node, runs, images, annots)
      }
    }
    out.result()
  }

  /** Order glyph runs into reading order: detect column split (bimodal x-starts
    * separated by a wide gap), then per column group lines by y proximity (desc)
    * and sort by x within a line.
    */
  def assemble(runs: Vector[GlyphRun]): Vector[String] =
    assembleTagged(runs).map(_._1)

  /** Reading-order lines paired with their marked-content tag (the tag of the
    * line's first run — PER LINE, so /H1 heading + /P body pages keep distinct
    * structural tags in XML mode).
    */
  def assembleTagged(runs: Vector[GlyphRun]): Vector[(String, Option[String])] = {
    if (runs.isEmpty) return Vector.empty
    val minX = runs.map(_.x).min
    val maxX = runs.map(_.x).max
    val width = maxX - minX
    // column detection: split where a gap in x-start histogram exceeds 40% of width
    val xs = runs.map(_.x).distinct.sorted
    var splitAt: Option[Double] = None
    if (width > 100) {
      var i = 1
      while (i < xs.length && splitAt.isEmpty) {
        val gap = xs(i) - xs(i - 1)
        if (gap > width * 0.4 && xs(i - 1) > minX - 1 && runs.count(_.x >= xs(i)) >= 3 && runs.count(_.x < xs(i)) >= 3)
          splitAt = Some(xs(i))
        i += 1
      }
    }
    val columns: Vector[Vector[GlyphRun]] = splitAt match {
      case Some(s) => Vector(runs.filter(_.x < s), runs.filter(_.x >= s))
      case None    => Vector(runs)
    }
    columns.flatMap { col =>
      // group by y with tolerance 2. Equivalent to scanning byLine.keys in
      // insertion order for the first key within ±2 of round(y) — but O(1)
      // per run: only keys in [round(y)-2, round(y)+2] can match, so probe
      // those five and take the earliest-inserted (insertIdx ties the order).
      val byLine = scala.collection.mutable.LinkedHashMap.empty[Long, ArrayBuffer[GlyphRun]]
      val insertIdx = scala.collection.mutable.HashMap.empty[Long, Int]
      col.sortBy(r => (-r.y, r.x)).foreach { r =>
        val ry = math.round(r.y)
        var key = ry
        var bestIdx = Int.MaxValue
        var d = -2
        while (d <= 2) {
          insertIdx.get(ry + d) match {
            case Some(ix) if ix < bestIdx => bestIdx = ix; key = ry + d
            case _ =>
          }
          d += 1
        }
        if (bestIdx == Int.MaxValue) insertIdx(key) = insertIdx.size
        byLine.getOrElseUpdate(key, ArrayBuffer.empty) += r
      }
      byLine.toVector.sortBy(-_._1).map { case (_, rs) =>
        val sorted = rs.sortBy(_.x)
        (Normalize.line(sorted.map(_.text).mkString), sorted.head.mcTag)
      }.filter(_._1.nonEmpty)
    }
  }

  /** Decrypt every string and stream of a standard-security document:
    * RC4 (V1/V2), V4 crypt filters (/V2 RC4 or /AESV2 AES-128-CBC), and V5
    * /AESV3 AES-256 (R5/R6). The empty user password is tried first (the
    * openable-by-anyone stratum); when `password` is non-empty it is then
    * tried as the USER password and as the OWNER password (Algorithm 7 /
    * V5 Algorithm 12) — the caller-supplied credential path a corpus with
    * known passwords needs. Returns Left(failure) for handlers we don't
    * speak — unknown crypt-filter methods, split StmF/StrF, passwords that
    * open nothing — never mojibake text. The /Encrypt dictionary's own strings (O/U) and the
    * trailer /ID are NOT encrypted per spec and are skipped by object
    * number. Generation numbers are 0 throughout recovery-scan parsing
    * (matching real-world gen-0 dominance); objects inside /ObjStm of an
    * encrypted file stay unreadable (the ObjStm expansion ran over
    * ciphertext) — a documented scope bound, not a crash.
    */
  private def decryptIfNeeded(objs: Map[Int, V], trailer: Option[Dict],
      password: String = ""): Either[ExtractResult, Map[Int, V]] = {
    val encRef = trailer.flatMap(_.m.get("Encrypt"))
    if (encRef.isEmpty) return Right(objs)
    val encNum = encRef match { case Some(Ref(n, _)) => Some(n); case _ => None }
    val encDict = encRef.map(resolve(_, objs)) match {
      case Some(d: Dict) => d
      case _ => return Left(ExtractResult.fail(ExtractStatus.ExtractionFailed,
        "pdf: /Encrypt present but unresolvable", "application/pdf"))
    }
    def num(k: String, dflt: Int): Int = encDict.m.get(k) match { case Some(Num(d)) => d.toInt; case _ => dflt }
    val filterOk = encDict.m.get("Filter").contains(Name("Standard"))
    val v = num("V", 0)
    val r = num("R", 0)
    val supported = filterOk &&
      ((v >= 1 && v <= 2 && r >= 2 && r <= 3) || (v == 4 && r == 4) || (v == 5 && (r == 5 || r == 6)))
    if (!supported)
      return Left(ExtractResult.fail(ExtractStatus.UnsupportedFormat,
        s"pdf: unsupported encryption (filter=${encDict.m.get("Filter")} V=$v R=$r)",
        "application/pdf"))
    val minU = if (v == 5) 48 else 32
    val (o, u) = (encDict.m.get("O"), encDict.m.get("U")) match {
      case (Some(Str(ob)), Some(Str(ub))) if ob.length >= 32 && ub.length >= minU => (ob, ub)
      case _ => return Left(ExtractResult.fail(ExtractStatus.ExtractionFailed,
        "pdf: malformed /Encrypt O/U entries", "application/pdf"))
    }
    val id0 = trailer.flatMap(_.m.get("ID")) match {
      case Some(Arr(Str(b) +: _)) => b
      case _ => Array.emptyByteArray // spec allows missing ID; key just omits it
    }
    // V4/V5 name their string+stream ciphers through crypt filters (§7.6.5);
    // resolve /StmF + /StrF to a method. V<4 is plain RC4 with Algorithm-1
    // per-object keys.
    sealed trait Cfm
    case object CfmRc4 extends Cfm; case object CfmAes2 extends Cfm
    case object CfmAes3 extends Cfm; case object CfmIdentity extends Cfm
    val encryptMetadata = encDict.m.get("EncryptMetadata") match {
      case Some(Bool(b)) => b
      case _             => true
    }
    val (cfm, keyLenBits): (Cfm, Int) =
      if (v < 4) (CfmRc4, num("Length", 40))
      else {
        def cfName(k: String): String = encDict.m.get(k) match {
          case Some(Name(n)) => n
          case _             => "Identity"
        }
        val stmF = cfName("StmF"); val strF = cfName("StrF")
        if (stmF != strF)
          return Left(ExtractResult.fail(ExtractStatus.UnsupportedFormat,
            s"pdf: split crypt filters (StmF=$stmF StrF=$strF) not supported", "application/pdf"))
        if (stmF == "Identity") (CfmIdentity, num("Length", 128))
        else {
          val cf = encDict.m.get("CF").map(resolve(_, objs)) match {
            case Some(Dict(m)) => m.get(stmF).map(resolve(_, objs))
            case _             => None
          }
          cf match {
            case Some(Dict(cfe)) =>
              val method = cfe.get("CFM") match { case Some(Name(n)) => n; case _ => "" }
              // /CF /Length is in BYTES per spec (common writers emit bits;
              // accept both), falling back to the top-level bits entry
              val cfLen = cfe.get("Length") match {
                case Some(Num(d)) if d.toInt > 40 => d.toInt      // bits
                case Some(Num(d))                 => d.toInt * 8  // bytes
                case _                            => num("Length", if (v == 5) 256 else 128)
              }
              method match {
                case "V2"    => (CfmRc4, cfLen)
                case "AESV2" => (CfmAes2, cfLen)
                case "AESV3" => (CfmAes3, cfLen)
                case other => return Left(ExtractResult.fail(ExtractStatus.UnsupportedFormat,
                  s"pdf: unsupported crypt-filter method /$other", "application/pdf"))
              }
            case _ => return Left(ExtractResult.fail(ExtractStatus.ExtractionFailed,
              s"pdf: /StmF names /$stmF but /CF has no such filter", "application/pdf"))
          }
        }
      }
    if (v == 5 && cfm != CfmAes3 && cfm != CfmIdentity)
      return Left(ExtractResult.fail(ExtractStatus.UnsupportedFormat,
        "pdf: V5 encryption requires an /AESV3 crypt filter", "application/pdf"))
    // Password check + per-object byte cipher, by handler generation
    val pwdBytes = password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val wrongPwdMsg =
      if (password.isEmpty) "pdf: document requires a user password"
      else "pdf: supplied password opens neither user nor owner slot"
    val decBytes: (Int, Array[Byte]) => Array[Byte] =
      if (v == 5) {
        val ue = encDict.m.get("UE") match {
          case Some(Str(b)) if b.length >= 32 => b
          case _ => return Left(ExtractResult.fail(ExtractStatus.ExtractionFailed,
            "pdf: V5 /Encrypt missing /UE", "application/pdf"))
        }
        // password attempts, cheapest viable first: empty user → supplied
        // user → supplied owner (needs the 48-byte /O and /OE)
        val key: Array[Byte] =
          if (PdfCrypt.v5UserPasswordMatches(r, u)) PdfCrypt.v5FileKey(r, u, ue)
          else if (pwdBytes.nonEmpty && PdfCrypt.v5UserPasswordMatches(r, u, pwdBytes))
            PdfCrypt.v5FileKey(r, u, ue, pwdBytes)
          else if (pwdBytes.nonEmpty && o.length >= 48 &&
              PdfCrypt.v5OwnerPasswordMatches(r, o, u, pwdBytes)) {
            val oe = encDict.m.get("OE") match {
              case Some(Str(b)) if b.length >= 32 => b
              case _ => return Left(ExtractResult.fail(ExtractStatus.ExtractionFailed,
                "pdf: owner password matches but /OE is missing", "application/pdf"))
            }
            PdfCrypt.v5FileKeyFromOwner(r, o, u, oe, pwdBytes)
          } else return Left(ExtractResult.fail(ExtractStatus.ExtractionFailed,
            wrongPwdMsg, "application/pdf"))
        // V5 uses the FILE key directly for every object (§7.6.2 note)
        (_, b) => PdfCrypt.aesCbcDecrypt(key, b)
      } else {
        val sec = PdfCrypt.StdSecurity(v, r, keyLenBits, o, u, num("P", -1), id0, encryptMetadata)
        val candidates = Iterator(
          () => Some(PdfCrypt.fileKey(sec)),
          () => if (pwdBytes.nonEmpty) Some(PdfCrypt.fileKey(sec, pwdBytes)) else None,
          () => if (pwdBytes.nonEmpty) Some(PdfCrypt.fileKeyFromOwner(sec, pwdBytes)) else None)
        val key = candidates.flatMap(_.apply())
          .find(PdfCrypt.userPasswordMatches(sec, _)) match {
          case Some(k) => k
          case None => return Left(ExtractResult.fail(ExtractStatus.ExtractionFailed,
            wrongPwdMsg, "application/pdf"))
        }
        cfm match {
          case CfmAes2 => (n, b) => PdfCrypt.aesCbcDecrypt(PdfCrypt.objKeyAes(key, n, 0), b)
          case _       => (n, b) => PdfCrypt.rc4(PdfCrypt.objKey(key, n, 0), b)
        }
      }
    if (cfm == CfmIdentity) return Right(objs) // named Identity: nothing is encrypted
    def dec(value: V, n: Int): V = value match {
      case Str(b)          => Str(decBytes(n, b))
      case Arr(items)      => Arr(items.map(dec(_, n)))
      case Dict(m)         => Dict(m.map { case (kk, vv) => kk -> dec(vv, n) })
      case StreamObj(d, b) => StreamObj(dec(d, n).asInstanceOf[Dict], decBytes(n, b))
      case other           => other
    }
    // XRef streams are never encrypted (ISO 32000 §7.5.8.2) — "decrypting"
    // one would garble the dict that may be serving as our trailer fallback
    def isXrefStream(value: V): Boolean = value match {
      case StreamObj(d, _) => d.m.get("Type").contains(Name("XRef"))
      case _               => false
    }
    Right(objs.map { case (n, value) =>
      if (encNum.contains(n) || isXrefStream(value)) n -> value
      else n -> dec(value, n)
    })
  }

  def extract(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr): ExtractResult = {
    val (objs0, trailer) = scanObjects(bytes)
    if (objs0.isEmpty) return ExtractResult.fail(ExtractStatus.ExtractionFailed, "pdf: no objects parsed", "application/pdf")
    val objs = decryptIfNeeded(objs0, trailer, cfg.pdf.password) match {
      case Left(fail)      => return fail
      case Right(decrypted) => decrypted
    }
    val pgs = pages(objs, trailer)
    if (pgs.isEmpty) return ExtractResult.fail(ExtractStatus.ExtractionFailed, "pdf: no page tree", "application/pdf")

    val strategy = cfg.pdf.ocrStrategy
    val sink = new BlockSink(cfg)
    val seenImageDigests = scala.collection.mutable.HashSet.empty[String]
    var imageCount = 0
    var ocrFailure: Option[String] = None

    pgs.foreach { page =>
      val hasText = page.runs.nonEmpty
      val useText = strategy match {
        case PdfOcrStrategy.NoOcr | PdfOcrStrategy.OcrAndText => true
        case PdfOcrStrategy.OcrOnly => false
        case PdfOcrStrategy.Auto => hasText
      }
      val useOcr = strategy match {
        case PdfOcrStrategy.NoOcr => false
        case PdfOcrStrategy.OcrOnly | PdfOcrStrategy.OcrAndText => true
        case PdfOcrStrategy.Auto => !hasText
      }
      // assembleTagged lines are already Normalize.line canonical (applied at
      // line build) — skip the sink's normalize scan
      if (useText) assembleTagged(page.runs).foreach { case (line, mcTag) =>
        val tag = mcTag.filter(_ => cfg.pdf.extractMarkedContent)
          .map(Normalize.lowerAscii).filter(t => t.matches("h[1-6]|p")).getOrElse("p")
        sink.addNormalized(tag, line)
      }
      if (useOcr && page.images.nonEmpty) {
        page.images.foreach { img =>
          try {
            sink.addLines("p", ocr.recognize(img, cfg.ocr))
          } catch {
            case e: Exception => ocrFailure = Some(s"ocr: ${e.getMessage}")
          }
        }
      }
      if (cfg.pdf.extractInlineImages) {
        page.images.foreach { img =>
          val digest = java.security.MessageDigest.getInstance("MD5").digest(img)
            .take(4).map(b => f"${b & 0xff}%02x").mkString
          if (!cfg.pdf.extractUniqueInlineImagesOnly || seenImageDigests.add(digest)) imageCount += 1
        }
      }
      if (cfg.pdf.extractAnnotationText) page.annots.foreach(sink.add("p", _))
    }

    if (ocrFailure.isDefined && sink.isEmpty)
      return ExtractResult.fail(ExtractStatus.OcrFailed, ocrFailure.get, "application/pdf")

    // document info metadata
    val info = trailer.flatMap(t => dictGet(t, "Info", objs) match { case d: Dict => Some(d); case _ => None })
      .orElse(objs.values.collectFirst { case d: Dict if d.m.contains("Producer") || (d.m.contains("Title") && !d.m.contains("Type")) => d })
    def infoStr(k: String): Option[String] = info.flatMap(d => dictGet(d, k, objs) match { case Str(b) => Some(decodeWinAnsi(b)); case _ => None })
    var meta = Map[String, Seq[String]](
      "Content-Type" -> Seq("application/pdf"),
      "xmpTPg:NPages" -> Seq(pgs.length.toString))
    infoStr("Title").foreach(t => meta += ("dc:title" -> Seq(t)))
    infoStr("Author").foreach(t => meta += ("dc:creator" -> Seq(t)))
    infoStr("Subject").foreach(t => meta += ("dc:subject" -> Seq(t)))
    infoStr("Producer").foreach(t => meta += ("pdf:producer" -> Seq(t)))
    if (cfg.pdf.extractInlineImages) meta += ("X-Image-Count" -> Seq(imageCount.toString))

    sink.ok(meta, "application/pdf")
  }
}
