package extractous.html

import extractous.config.{ExtractorConfig, HtmlMode}
import extractous.model.ExtractResult
import extractous.text.{BlockSink, Normalize}
import java.util.Arrays.copyOf
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

/** The parsed tree and THE one traversal over it: [[walk]], a pre-order walk
  * on an explicit stack. [[textOf]], [[findAll]] and [[outermost]] are built
  * on it, and every reader of a parsed document (HTML, XML, OOXML, ODF, EPUB,
  * iWork, HTML mail) calls these; nothing recurses over `HNode`. So a
  * document's status never depends on its depth or on the thread's stack
  * size, and no depth cap is needed: a tree is bounded by its input.
  */
object HtmlDom {
  import HtmlTokenizer._
  private val voidTags = Set("br", "img", "hr", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr")
  // tags whose open implicitly closes a same-name or listed open element
  private val impliedClose: Map[String, Set[String]] = Map(
    "p" -> Set("p"), "li" -> Set("li"), "tr" -> Set("tr", "td", "th"),
    "td" -> Set("td", "th"), "th" -> Set("td", "th"), "option" -> Set("option"))

  def parse(bytes: Array[Byte]): HElem = parse(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))

  /** Open elements of one name. */
  private final class Count { var n = 0 }

  def parse(html: String): HElem = {
    val root = HElem("#root", Map.empty, ArrayBuffer.empty)
    // the open elements, root first, and the open count of each one's name,
    // kept on every push and pop: an end tag with no open element of its
    // name costs O(1), not a scan of the stack
    var open = new Array[HElem](16)
    var counts = new Array[Count](16)
    var top = 0
    open(0) = root
    val byName = new java.util.HashMap[String, Count]
    def pop(): Unit = { counts(top).n -= 1; top -= 1 }
    HtmlTokenizer.foreachTok(html)(
      raw => if (raw.nonEmpty) open(top).children += HText(decodeEntities(raw)),
      (name, attrs, selfClosing) => {
        impliedClose.get(name).foreach { closes =>
          // pop WHILE the head matches, not once: a new <tr> after an open
          // <td> must close the td AND the enclosing tr, or the new row
          // nests inside the old one and inherits its boiler/content scope
          while (top > 0 && closes(open(top).name)) pop()
        }
        val el = HElem(name, attrs, ArrayBuffer.empty)
        open(top).children += el
        if (!selfClosing && !voidTags(name)) {
          top += 1
          if (top == open.length) { open = copyOf(open, top * 2); counts = copyOf(counts, top * 2) }
          open(top) = el
          counts(top) = byName.computeIfAbsent(name, _ => new Count)
          counts(top).n += 1
        }
      },
      name => {
        // pop to the matching open tag if present anywhere on the stack
        val c = byName.get(name)
        if (c != null && c.n > 0) {
          while (open(top).name != name) pop()
          pop()
        }
      })
    root
  }

  /** THE traversal of `n` and its descendants in document order. Character
    * data goes to `text`; an element goes to `enter`, which returns whether
    * to walk its children, and after them to `exit`. Callers keep
    * per-element state in their own LIFO: push on enter, pop on exit.
    */
  def walk(n: HNode)(text: String => Unit, enter: HElem => Boolean = _ => true,
      exit: HElem => Unit = _ => ()): Unit = n match {
    case HText(t) => text(t)
    case root: HElem if enter(root) =>
      var open = new Array[HElem](8) // the entered elements, innermost last
      var next = new Array[Int](8) // the index of each one's next child
      var top = 0
      open(0) = root
      while (top >= 0) {
        val e = open(top)
        if (next(top) == e.children.length) { exit(e); top -= 1 }
        else {
          next(top) += 1
          e.children(next(top) - 1) match {
            case HText(t) => text(t)
            case c: HElem if enter(c) =>
              top += 1
              if (top == open.length) { open = copyOf(open, top * 2); next = copyOf(next, top * 2) }
              open(top) = c
              next(top) = 0
            case _ =>
          }
        }
      }
    case _ =>
  }

  /** All character data under `n`, concatenated in document order. */
  def textOf(n: HNode): String = n match {
    case HElem(_, _, ArrayBuffer(HText(t))) => t // one text child (w:t, a:t, v): no copy
    case _ =>
      val sb = new java.lang.StringBuilder
      walk(n)(sb.append(_))
      sb.toString
  }

  private def collect(n: HNode, pred: HElem => Boolean, inside: Boolean): Seq[HElem] = {
    val out = Vector.newBuilder[HElem]
    walk(n)(_ => (), e => if (pred(e)) { out += e; inside } else true)
    out.result()
  }

  /** `n` and its descendants named `tag` (ASCII case-insensitive, with or
    * without a namespace prefix), in document order.
    */
  def findAll(n: HNode, tag: String): Seq[HElem] =
    collect(n, e => e.name.equalsIgnoreCase(tag) || Normalize.lowerAscii(e.name).endsWith(":" + tag), inside = true)

  /** `n` and its descendants that match `pred`, in document order, without
    * looking inside a match: the outermost matches only.
    */
  def outermost(n: HNode)(pred: HElem => Boolean): Seq[HElem] = collect(n, pred, inside = false)

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
  // scope and kind bits of one open element in `blocks`
  private final val Boiler = 1
  private final val Content = 2
  private final val IsBlock = 4
  private final val IsAnchor = 8

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
    * boilerplate/content ancestor scope. The `#root` of [[HtmlDom.parse]] is
    * the outermost block.
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

    // `scope`: the Boiler/Content bits of the element that holds the block
    def flush(scope: Int): Unit = {
      val raw = if (single != null) single else cur.toString
      val text = Normalize.line(raw)
      if (text.nonEmpty)
        out += Block(curTag, text, math.min(curLink, raw.length), raw.length, (scope & Boiler) != 0, (scope & Content) != 0)
      cur.setLength(0); single = null; curLink = 0; curTag = "p"
    }

    def headingTag(n: String): String = if (n.length == 2 && n.charAt(0) == 'h' && n.charAt(1).isDigit) n else "p"

    // title and meta anywhere in a head; a title's own text only
    def collectHead(head: HElem): Unit =
      HtmlDom.outermost(head)(e => e.name == "title" || e.name == "meta").foreach { e =>
        val (k, v) =
          if (e.name == "title") ("dc:title", Normalize.line(e.children.collect { case HText(x) => x }.mkString))
          else (Normalize.lowerAscii(e.attrs.getOrElse("name", e.attrs.getOrElse("property", ""))),
            HtmlTokenizer.decodeEntities(e.attrs.getOrElse("content", "")))
        if (k.nonEmpty && v.nonEmpty) meta(k) = meta.getOrElse(k, Vector.empty) :+ v
      }

    // caller-side LIFO, one entry per entered element: its scope and kind bits
    var scopes = new Array[Int](64)
    var depth = 0
    HtmlDom.walk(root)(
      { t =>
        appendText(t)
        if (anchorDepth > 0) curLink += t.count(!Character.isWhitespace(_))
      },
      { e =>
        val parent = if (depth == 0) 0 else scopes(depth - 1)
        val bits =
          if (skipTags(e.name)) { if (e.name == "head") collectHead(e); -1 }
          else if (e.name == "br") { flush(parent); -1 }
          else {
            val scope =
              (if ((parent & Boiler) != 0 || boilerTags(e.name) || classHint(e.attrs, boilerHints)) Boiler else 0) |
              (if ((parent & Content) != 0 || contentTags(e.name) || classHint(e.attrs, contentHints)) Content else 0)
            if (blockTags(e.name)) { flush(parent); curTag = headingTag(e.name); scope | IsBlock }
            else if (e.name == "a" && e.attrs.contains("href")) { anchorDepth += 1; scope | IsAnchor }
            else scope // inline: no whitespace injected, "a<b>b</b>c" renders "abc"
          }
        if (bits >= 0) {
          if (depth == scopes.length) scopes = copyOf(scopes, depth * 2)
          scopes(depth) = bits
          depth += 1
        }
        bits >= 0
      },
      { _ =>
        depth -= 1
        val bits = scopes(depth)
        if ((bits & IsBlock) != 0) flush(bits)
        else if ((bits & IsAnchor) != 0) anchorDepth -= 1
      })
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
    val dom = HtmlDom.parse(bytes)
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
