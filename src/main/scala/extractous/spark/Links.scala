package extractous.spark

import extractous.html.HtmlTokenizer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Outlink extraction — the crawl-frontier/link-graph source every crawl
  * pipeline derives from its pages. One pass of the in-repo HTML tokenizer
  * (same machinery as extraction, so `<script>`/comments/quoting are handled
  * identically) collects `<a href>` values in document order and resolves
  * them against the page URL:
  *
  *  - absolute `http(s)://…` kept as-is; `//host/…` adopts the base scheme;
  *  - `/path` is host-absolute; other values resolve against the base
  *    directory (RFC 3986 merge; dot-segments are NOT normalized — the
  *    canonical-URL pass owns normalization);
  *  - `javascript:`/`mailto:`/`tel:`/`data:` and fragment-only hrefs are
  *    dropped; fragments are stripped from kept links.
  *
  * Narrow per-row kernel (one `StaticInvoke` column like the other kernels):
  * the link GRAPH then aggregates `(host, host)` pairs — short keys, never
  * page payloads — so frontier/in-degree analytics shuffle bytes, not HTML.
  */
object LinkKernel {

  private def skipScheme(h: String): Boolean = {
    val c = h.indexOf(':')
    if (c < 0) false
    else {
      val s = extractous.text.Normalize.lowerAscii(h.substring(0, c))
      // a path like "a:b" only forms a scheme if it looks like one
      s.nonEmpty && s.forall(ch => ch.isLetterOrDigit || ch == '+' || ch == '-' || ch == '.') &&
        s != "http" && s != "https"
    }
  }

  /** Base decomposition (RFC 3986 §3): (origin, path-for-merge, scheme).
    * The authority ends at the first of '/', '?', '#'; the base PATH used
    * for merging (§5.2.3) excludes query and fragment — a '/' inside
    * "?redirect=/login" must not become the merge directory.
    */
  private def baseParts(base: String): (String, String, String) = {
    val schemeEnd = base.indexOf("://")
    val (origin, path) =
      if (schemeEnd < 0) ("", "")
      else {
        var i = schemeEnd + 3
        while (i < base.length && base.charAt(i) != '/' && base.charAt(i) != '?' && base.charAt(i) != '#') i += 1
        var j = i
        while (j < base.length && base.charAt(j) != '?' && base.charAt(j) != '#') j += 1
        (base.substring(0, i), base.substring(i, j))
      }
    val scheme = if (schemeEnd < 0) "https" else base.substring(0, schemeEnd)
    (origin, path, scheme)
  }

  /** Resolve one raw href against the decomposed base; "" means dropped
    * (non-web scheme, fragment-only, or relative against a schemeless base).
    */
  private def resolve(raw0: String, origin: String, path: String, scheme: String): String = {
    val raw = extractous.html.HtmlTokenizer.decodeEntities(raw0).trim
    val noFrag = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }
    if (noFrag.isEmpty || skipScheme(noFrag)) return ""
    val dir = {
      val cut = path.lastIndexOf('/')
      if (cut < 0) "/" else path.substring(0, cut + 1)
    }
    // schemes are case-insensitive (RFC 3986 §3.1): recognize HTTP:// etc.
    // as absolute and normalize the scheme to lower
    val httpAt = noFrag.regionMatches(true, 0, "http://", 0, 7)
    val httpsAt = noFrag.regionMatches(true, 0, "https://", 0, 8)
    if (httpAt) "http://" + noFrag.substring(7)
    else if (httpsAt) "https://" + noFrag.substring(8)
    else if (noFrag.startsWith("//")) scheme + ":" + noFrag
    else if (origin.isEmpty) "" // schemeless base cannot anchor relatives
    else if (noFrag.startsWith("/")) origin + noFrag
    else if (noFrag.startsWith("?")) origin + path + noFrag // RFC 3986 §5.3: keep the FULL base path
    else origin + dir + noFrag
  }

  def compute(html0: UTF8String, base0: UTF8String): GenericArrayData = {
    val html = html0.toString
    val (origin, path, scheme) = baseParts(base0.toString)
    val out = Vector.newBuilder[UTF8String]
    HtmlTokenizer.foreachTok(html)(
      onText = _ => (),
      onStart = (name, attrs, _) =>
        if (name == "a") attrs.get("href").foreach { raw0 =>
          val abs = resolve(raw0, origin, path, scheme)
          if (abs.nonEmpty) out += UTF8String.fromString(abs)
        },
      onEnd = _ => ())
    new GenericArrayData(out.result().toArray[Any])
  }

  /** Whitespace-normalize an accumulated anchor: collapse runs, trim. */
  private def normAnchor(sb: java.lang.StringBuilder): UTF8String = {
    val s = sb.toString
    val out = new java.lang.StringBuilder(s.length)
    var pending = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) pending = true
      else {
        if (pending && out.length > 0) out.append(' ')
        pending = false
        out.append(c)
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }

  /** (url, anchor-text) pairs in document order — anchor text is every text
    * node between `<a href>` and its `</a>` (nested inline markup included,
    * entities decoded), whitespace-normalized. A new `<a>` implicitly closes
    * an unclosed one (HTML anchors cannot nest); EOF flushes an open anchor.
    * Links whose href is dropped by [[resolve]] collect no anchor.
    */
  def computeAnchors(html0: UTF8String, base0: UTF8String): GenericArrayData = {
    val html = html0.toString
    val (origin, path, scheme) = baseParts(base0.toString)
    val out = Vector.newBuilder[Any]
    var openUrl: String = null
    var acc: java.lang.StringBuilder = null
    def flush(): Unit = {
      if (openUrl != null) {
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](UTF8String.fromString(openUrl), normAnchor(acc)))
        openUrl = null; acc = null
      }
    }
    HtmlTokenizer.foreachTok(html)(
      onText = raw => if (acc != null) acc.append(HtmlTokenizer.decodeEntities(raw)),
      onStart = (name, attrs, _) =>
        if (name == "a") {
          flush()
          val abs = attrs.get("href").map(resolve(_, origin, path, scheme)).getOrElse("")
          if (abs.nonEmpty) { openUrl = abs; acc = new java.lang.StringBuilder }
        },
      onEnd = name => if (name == "a") flush())
    flush()
    new GenericArrayData(out.result().toArray)
  }
}

object links {
  /** `extract_links(html, baseUrl)` → array<string> of absolute outlinks in
    * document order.
    */
  def extract_links(html: Column, base: Column): Column =
    ColumnBridge.invoke(LinkKernel, "compute", ArrayType(StringType, containsNull = false))(html, base)

  /** `extract_anchors(html, baseUrl)` → array<struct<url, anchor>> in
    * document order — see [[LinkKernel.computeAnchors]].
    */
  def extract_anchors(html: Column, base: Column): Column =
    ColumnBridge.invoke(LinkKernel, "computeAnchors", ArrayType(StructType(Seq(
      StructField("url", StringType, nullable = false),
      StructField("anchor", StringType, nullable = false))), containsNull = false))(html, base)
}
