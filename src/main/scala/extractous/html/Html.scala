package extractous.html

import extractous.config.{ExtractorConfig, HtmlMode}
import extractous.model.ExtractResult
import extractous.text.{BlockSink, Normalize}
import scala.collection.mutable.ArrayBuffer

/** From-scratch streaming HTML pipeline: single-pass tokenizer → permissive DOM
  * → boilerplate classification by text-density + link-density heuristics (in the
  * spirit of the published boilerpipe/readability algorithms, per the north rule)
  * → canonical text emission.
  *
  * The reference gets HTML handling from Tika (extract-everything); our default
  * mode is main-content extraction, with `HtmlMode.AllText` reproducing the
  * reference-style behavior.
  */
object HtmlTokenizer {
  private val rawTextTags = Set("script", "style", "textarea")

  /** Attributes any downstream consumer reads (HTML pipeline: class/id/href +
    * head metadata; office XML: cell type `t`). Values of other attributes are
    * skipped without allocation.
    */
  val keptAttrs: Set[String] = Set("class", "id", "href", "name", "property", "content", "charset", "t",
    // EPUB packaging attributes (container.xml rootfile + OPF manifest/spine)
    "full-path", "idref")

  /** THE tokenizer: text, start-tag and end-tag callbacks in document order.
    * Every consumer ([[HtmlDom.parse]], the link kernels) uses it directly, so
    * a document tokenizes without allocating a wrapper per token.
    */
  def foreachTok(s: String)(onText: String => Unit,
      onStart: (String, Map[String, String], Boolean) => Unit,
      onEnd: String => Unit): Unit = {
    var i = 0
    var lowerCache: String = null
    // ASCII-only: locale-independent AND length-preserving, so indices in
    // the lowered shadow stay aligned with `s` (String.toLowerCase can
    // change length for some Unicode points and is locale-sensitive)
    def lower(): String = {
      if (lowerCache == null) lowerCache = Normalize.lowerAscii(s)
      lowerCache
    }

    def readTag(): Unit = {
      val closing = s.charAt(i + 1) == '/'
      var j = i + (if (closing) 2 else 1)
      val nameStart = j
      // letters/digits plus ':', '-', '_' so the same tokenizer serves XML (w:p)
      while (j < s.length && (Character.isLetterOrDigit(s.charAt(j)) || s.charAt(j) == ':' || s.charAt(j) == '-' || s.charAt(j) == '_')) j += 1
      val name = Normalize.lowerAscii(s.substring(nameStart, j))
      // attributes
      var attrs = Map.empty[String, String]
      var selfClosing = false
      var done = false
      while (!done && j < s.length) {
        val c = s.charAt(j)
        if (c == '>') { j += 1; done = true }
        else if (c == '/' && j + 1 < s.length && s.charAt(j + 1) == '>') { selfClosing = true; j += 2; done = true }
        else if (Character.isWhitespace(c)) j += 1
        else {
          val an = j
          while (j < s.length && !Character.isWhitespace(s.charAt(j)) && s.charAt(j) != '=' && s.charAt(j) != '>' && s.charAt(j) != '/') j += 1
          if (j == an) { j += 1 } // stray '/' (not '/>') or junk: must advance — found by fuzzing, a non-advancing loop would hang the executor on a poison document
          val aname = Normalize.lowerAscii(s.substring(an, j))
          while (j < s.length && Character.isWhitespace(s.charAt(j))) j += 1
          // only materialize values for attributes the pipeline reads —
          // everything else is scanned past without allocation
          val wanted = HtmlTokenizer.keptAttrs(aname)
          var avalue = ""
          if (j < s.length && s.charAt(j) == '=') {
            j += 1
            while (j < s.length && Character.isWhitespace(s.charAt(j))) j += 1
            if (j < s.length && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
              val q = s.charAt(j); j += 1
              val vs = j
              while (j < s.length && s.charAt(j) != q) j += 1
              if (wanted) avalue = s.substring(vs, j)
              if (j < s.length) j += 1
            } else {
              val vs = j
              while (j < s.length && !Character.isWhitespace(s.charAt(j)) && s.charAt(j) != '>') j += 1
              if (wanted) avalue = s.substring(vs, j)
            }
          }
          if (wanted && aname.nonEmpty) attrs += (aname -> avalue)
        }
      }
      i = j
      if (closing) onEnd(name)
      else if (!selfClosing && rawTextTags(name)) {
        // consume raw text through the matching close tag (case-insensitive) and
        // emit as self-closing so the DOM never keeps a raw-text element open
        val close = "</" + name
        val idx = lower().indexOf(close, i)
        i = if (idx < 0) s.length
        else {
          val gt = s.indexOf('>', idx)
          if (gt < 0) s.length else gt + 1
        }
        onStart(name, attrs, true)
      } else onStart(name, attrs, selfClosing)
    }

    while (i < s.length) {
      if (s.charAt(i) == '<') {
        if (s.startsWith("<!--", i)) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) s.length else end + 3
        } else if (i + 1 < s.length && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          val end = s.indexOf('>', i)
          i = if (end < 0) s.length else end + 1
        } else if (i + 1 < s.length && (Character.isLetter(s.charAt(i + 1)) || s.charAt(i + 1) == '/')) {
          readTag()
        } else {
          // stray '<' — treat as text up to next '<'
          val next = s.indexOf('<', i + 1)
          val end = if (next < 0) s.length else next
          onText(s.substring(i, end)); i = end
        }
      } else {
        val next = s.indexOf('<', i)
        val end = if (next < 0) s.length else next
        onText(s.substring(i, end)); i = end
      }
    }
  }

  private val named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "rsquo" -> "’", "lsquo" -> "‘", "rdquo" -> "”", "ldquo" -> "“")

  /** Decode character references; unknown entities pass through verbatim. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try { sb.appendCodePoint(Integer.parseInt(body.substring(2), 16)); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            try { sb.appendCodePoint(Integer.parseInt(body.substring(1))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else named.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None      => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** Minimal permissive DOM. */
sealed trait HNode
final case class HText(text: String) extends HNode
final case class HElem(name: String, attrs: Map[String, String], children: ArrayBuffer[HNode]) extends HNode

object HtmlDom {
  import HtmlTokenizer._
  private val voidTags = Set("br", "img", "hr", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr")
  // tags whose open implicitly closes a same-name or listed open element
  private val impliedClose: Map[String, Set[String]] = Map(
    "p" -> Set("p"), "li" -> Set("li"), "tr" -> Set("tr", "td", "th"),
    "td" -> Set("td", "th"), "th" -> Set("td", "th"), "option" -> Set("option"))

  def parse(html: String): HElem = {
    val root = HElem("#root", Map.empty, ArrayBuffer.empty)
    var stack = List(root)
    HtmlTokenizer.foreachTok(html)(
      raw => if (raw.nonEmpty) stack.head.children += HText(decodeEntities(raw)),
      (name, attrs, selfClosing) => {
        impliedClose.get(name).foreach { closes =>
          // pop WHILE the head matches, not once: a new <tr> after an open
          // <td> must close the td AND the enclosing tr, or the new row
          // nests inside the old one and inherits its boiler/content scope
          while (stack.head.name != "#root" && closes(stack.head.name)) stack = stack.tail
        }
        val el = HElem(name, attrs, ArrayBuffer.empty)
        stack.head.children += el
        if (!selfClosing && !voidTags(name)) stack = el :: stack
      },
      name =>
        // pop to the matching open tag if present anywhere on the stack
        if (stack.exists(_.name == name)) {
          while (stack.head.name != name) stack = stack.tail
          if (stack.head.name != "#root") stack = stack.tail
        })
    root
  }

  /** All character data under `n`, concatenated in document order. */
  def textOf(n: HNode): String = n match {
    case HText(t) => t
    case e: HElem => e.children.map(textOf).mkString
  }

  /** `n` and its descendants named `tag` (ASCII case-insensitive, with or
    * without a namespace prefix), in document order.
    */
  def findAll(n: HNode, tag: String): Seq[HElem] = n match {
    case e: HElem =>
      val self = if (e.name.equalsIgnoreCase(tag) || Normalize.lowerAscii(e.name).endsWith(":" + tag)) Seq(e) else Seq.empty
      self ++ e.children.flatMap(findAll(_, tag))
    case _ => Seq.empty
  }

  /** The value of attribute `name`, case-insensitively. */
  def attr(e: HElem, name: String): Option[String] =
    e.attrs.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
}

/** One emitted candidate block with the features the classifier needs. */
final case class Block(tag: String, text: String, linkChars: Int, totalChars: Int,
    inBoilerplateScope: Boolean, inContentScope: Boolean) {
  /** `text` is Normalize.line output (single spaces, trimmed), so the word
    * count is space-count + 1 — same value as `text.split(" ").length`
    * without allocating a String per word (isContent reads this twice per
    * block on the extraction hot path).
    */
  lazy val words: Int = {
    if (text.isEmpty) 0
    else {
      var n = 1
      var i = 0
      while (i < text.length) { if (text.charAt(i) == ' ') n += 1; i += 1 }
      n
    }
  }
  def linkDensity: Double = if (totalChars == 0) 0.0 else linkChars.toDouble / totalChars
}

object HtmlExtractor {
  private val blockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th", "caption",
    "blockquote", "pre", "article", "section", "main", "header", "footer", "nav",
    "aside", "ul", "ol", "table", "tr", "thead", "tbody", "figure", "figcaption",
    "form", "fieldset", "address", "dd", "dt", "dl", "body", "html", "#root")
  private val skipTags = Set("script", "style", "noscript", "template", "head", "iframe", "svg", "select", "button")
  private val boilerTags = Set("nav", "footer", "aside", "header")
  private val contentTags = Set("article", "main")
  private val boilerHints = Seq("nav", "menu", "footer", "sidebar", "banner", "advert", "ads", "ad-", "-ad", "promo", "cookie", "breadcrumb", "share", "social", "comment", "related", "widget", "masthead")
  private val contentHints = Seq("content", "article", "main", "post", "story", "body-text", "entry")

  private def classHint(attrs: Map[String, String], hints: Seq[String]): Boolean = {
    // the old `class + " " + id` join was never empty (the separator), so
    // every element — most have neither attribute — paid the lowercase
    // allocation and all |hints| substring scans; no hint contains a space,
    // so the attribute-absent verdict is identical
    val c0 = attrs.getOrElse("class", "")
    val i0 = attrs.getOrElse("id", "")
    if (c0.isEmpty && i0.isEmpty) false
    else {
      val cls = Normalize.lowerAscii(c0 + " " + i0)
      hints.exists(cls.contains)
    }
  }

  /** Flatten DOM into candidate blocks, tracking anchor-text chars and
    * boilerplate/content ancestor scope.
    */
  def blocks(root: HElem): (Vector[Block], Map[String, Seq[String]]) = {
    val out = Vector.newBuilder[Block]
    val meta = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    val cur = new java.lang.StringBuilder
    // single-text-node fast path: most blocks are exactly one HText (the
    // dominant page shape is one big <p>), and routing that one string
    // through the StringBuilder costs two full-document char copies
    // (append + toString). `single` holds the sole appended string until a
    // second append forces the builder; flush sees identical characters.
    var single: String = null
    var curLink = 0
    var curTag = "p"
    var anchorDepth = 0

    def appendText(t: String): Unit = {
      if (single == null && cur.length() == 0) single = t
      else {
        if (single != null) { cur.append(single); single = null }
        cur.append(t)
      }
    }

    def flush(scopeBoiler: Boolean, scopeContent: Boolean): Unit = {
      val raw = if (single != null) single else cur.toString
      val text = Normalize.line(raw)
      if (text.nonEmpty) out += Block(curTag, text, math.min(curLink, raw.length), raw.length, scopeBoiler, scopeContent)
      cur.setLength(0); single = null; curLink = 0; curTag = "p"
    }

    def headingTag(n: String): String = if (n.length == 2 && n.charAt(0) == 'h' && n.charAt(1).isDigit) n else "p"

    def walk(el: HElem, inBoiler: Boolean, inContent: Boolean): Unit = {
      el.children.foreach {
        case HText(t) =>
          appendText(t)
          if (anchorDepth > 0) curLink += t.count(!Character.isWhitespace(_))
        case e: HElem if skipTags(e.name) =>
          if (e.name == "head") collectHead(e, meta)
        case e: HElem =>
          val b = inBoiler || boilerTags(e.name) || classHint(e.attrs, boilerHints)
          val c = inContent || contentTags(e.name) || classHint(e.attrs, contentHints)
          if (e.name == "br") {
            flush(inBoiler, inContent)
          } else if (blockTags(e.name)) {
            flush(inBoiler, inContent)
            val saveTag = headingTag(e.name)
            curTag = saveTag
            walk(e, b, c)
            flush(b, c)
          } else {
            // inline element: no whitespace injected — HTML joins inline
            // content exactly as written ("a<b>b</b>c" renders "abc")
            val wasAnchor = e.name == "a" && e.attrs.contains("href")
            if (wasAnchor) anchorDepth += 1
            walk(e, b, c)
            if (wasAnchor) anchorDepth -= 1
          }
      }
    }

    def collectHead(head: HElem, m: scala.collection.mutable.LinkedHashMap[String, Vector[String]]): Unit = {
      head.children.foreach {
        case e: HElem if e.name == "title" =>
          val t = Normalize.line(e.children.collect { case HText(x) => x }.mkString)
          if (t.nonEmpty) m("dc:title") = m.getOrElse("dc:title", Vector.empty) :+ t
        case e: HElem if e.name == "meta" =>
          val n = Normalize.lowerAscii(e.attrs.getOrElse("name", e.attrs.getOrElse("property", "")))
          val v = HtmlTokenizer.decodeEntities(e.attrs.getOrElse("content", ""))
          if (n.nonEmpty && v.nonEmpty) m(n) = m.getOrElse(n, Vector.empty) :+ v
        case e: HElem => collectHead(e, m)
        case _ =>
      }
    }

    walk(root, inBoiler = false, inContent = false)
    flush(scopeBoiler = false, scopeContent = false)
    (out.result(), meta.map { case (k, v) => k -> (v: Seq[String]) }.toMap)
  }

  /** Boilerpipe-style shallow-feature decision: explicit content scope wins,
    * explicit boilerplate scope loses, otherwise text-density (word count) and
    * link-density thresholds decide. Thresholds follow the published
    * NumWordsRules/densitometric classifiers (Kohlschütter et al., WSDM 2010).
    */
  def isContent(b: Block): Boolean = {
    if (b.inBoilerplateScope && !b.inContentScope) false
    else if (b.inContentScope) true
    else if (b.linkDensity > 0.33) false
    else if (b.words >= 10) true
    // blocks carry only "p" or "h1".."h6" tags (headingTag collapses every
    // other block element to "p"), so a finer tag restriction here would be
    // dead code — the 4-9-word rule keys on link density alone
    else b.words >= 4 && b.linkDensity == 0.0
  }

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    val html = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val dom = HtmlDom.parse(html)
    val (all, headMeta) = blocks(dom)
    val kept = cfg.htmlMode match {
      case HtmlMode.MainContent => all.filter(isContent)
      case HtmlMode.AllText     => all
    }
    val sink = new BlockSink(cfg)
    // the title is always an XML element, but text only in AllText mode
    headMeta.getOrElse("dc:title", Seq.empty).headOption.foreach { t =>
      if (cfg.htmlMode == HtmlMode.AllText) sink.add("title", t) else sink.addElement("title", t)
    }
    // block text is Normalize.line output (flush) — skip the re-normalize
    kept.iterator.takeWhile(_ => !sink.isFull).foreach { b =>
      sink.addNormalized(if (b.tag.startsWith("h") && b.tag.length == 2) b.tag else "p", b.text)
    }
    sink.ok(headMeta + ("Content-Type" -> Seq("text/html; charset=UTF-8")), "text/html")
  }
}
