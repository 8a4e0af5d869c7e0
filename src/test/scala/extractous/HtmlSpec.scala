package extractous

import extractous.config.{ExtractorConfig, HtmlMode}
import extractous.html.{HtmlDom, HtmlExtractor, HtmlTokenizer}
import org.scalatest.funsuite.AnyFunSuite

class HtmlSpec extends AnyFunSuite {
  private val cfg = ExtractorConfig()
  private def extract(html: String, c: ExtractorConfig = cfg) =
    HtmlExtractor.extract(html.getBytes("UTF-8"), c)

  test("entities decode") {
    assert(HtmlTokenizer.decodeEntities("a &amp; b &lt;x&gt; &#65;&#x42; &nbsp;done") == "a & b <x> AB  done")
    assert(HtmlTokenizer.decodeEntities("no entities") == "no entities")
    assert(HtmlTokenizer.decodeEntities("&bogus; stays") == "&bogus; stays")
  }

  test("main content kept, boilerplate dropped") {
    val html =
      """<html><head><title>T</title></head><body>
        |<nav><a href="/a">AAA</a> <a href="/b">BBB</a></nav>
        |<div class="sidebar">Buy our product now great deal</div>
        |<article><h1>Heading One</h1><p>This is the real article body with many interesting words to read.</p></article>
        |<footer>Copyright Notice <a href="/t">Terms</a></footer>
        |</body></html>""".stripMargin
    val r = extract(html)
    assert(r.text == "Heading One\nThis is the real article body with many interesting words to read.")
    assert(r.metadata("dc:title") == Seq("T"))
    assert(r.metadata("Content-Type").head.startsWith("text/html"))
  }

  test("alltext mode keeps everything incl title") {
    val html = "<html><head><title>T</title></head><body><nav><a href='/a'>NavLink</a></nav><p>Body words here</p></body></html>"
    val r = extract(html, cfg.copy(htmlMode = HtmlMode.AllText))
    assert(r.text == "T\nNavLink\nBody words here")
  }

  test("link-density heuristic drops linky blocks outside explicit scopes") {
    val html = "<html><body><div><a href='/1'>one two three four five</a> six</div>" +
      "<div>plain words spread over more than ten tokens to stay well clear of thresholds</div></body></html>"
    val r = extract(html)
    assert(r.text == "plain words spread over more than ten tokens to stay well clear of thresholds")
  }

  test("malformed html tolerated") {
    val html = "<html><body><p>unclosed paragraph <b>bold run <p>second para with plenty of additional words to keep</p></body>"
    val r = extract(html, cfg.copy(htmlMode = HtmlMode.AllText))
    assert(r.text.contains("unclosed paragraph bold run"))
    assert(r.text.contains("second para with plenty of additional words to keep"))
  }

  test("script/style/comments excluded") {
    val html = "<html><body><script>var x = 'scripttext';</script><style>.c{}</style><!-- comment -->" +
      "<p>visible content words that definitely pass the density threshold okay</p></body></html>"
    val r = extract(html)
    assert(!r.text.contains("scripttext"))
    assert(!r.text.contains(".c{}"))
    assert(!r.text.contains("comment"))
    assert(r.text.startsWith("visible content"))
  }

  test("cjk content survives") {
    val html = "<html><body><article><p>こんにちは世界 これはテストです 日本語のコンテンツ ですます調 確認 完了 です ね 十分 単語</p></article></body></html>"
    val r = extract(html)
    assert(r.text.contains("こんにちは世界"))
  }

  test("xml mode emits structural tags; plain mode does not") {
    val html = "<html><head><title>T</title></head><body><article><h1>Head</h1><p>Paragraph with enough words to be kept around here</p></article></body></html>"
    val r = extract(html, cfg.copy(xmlOutput = true))
    assert(r.xml == "<doc>\n<title>T</title>\n<h1>Head</h1>\n<p>Paragraph with enough words to be kept around here</p>\n</doc>")
    assert(!r.text.contains("<"))
  }

  test("extract_links: resolution rules — absolute, host-absolute, relative, protocol-relative, skips") {
    import org.apache.spark.unsafe.types.UTF8String
    def links(html: String, base: String): Seq[String] =
      extractous.spark.LinkKernel.compute(UTF8String.fromString(html), UTF8String.fromString(base))
        .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    val base = "https://a.example/dir/page.html"
    val html =
      """<a href="https://b.example/x">1</a>
        |<a href="/root.html">2</a>
        |<a href="sib.html">3</a>
        |<a href="//c.example/p">4</a>
        |<a href="mailto:u@h">skip</a>
        |<a href="javascript:void(0)">skip</a>
        |<a href="#frag">skip</a>
        |<a href="q.html#sec">5</a>
        |<a href="b&amp;w.html">6</a>
        |<a name="anchor-no-href">skip</a>""".stripMargin
    assert(links(html, base) == Seq(
      "https://b.example/x",
      "https://a.example/root.html",
      "https://a.example/dir/sib.html",
      "https://c.example/p",
      "https://a.example/dir/q.html",
      "https://a.example/dir/b&w.html"))
    // base with no path: directory is "/"
    assert(links("""<a href="r">x</a>""", "https://a.example") == Seq("https://a.example/r"))
    // schemeless base anchors only absolute links
    assert(links("""<a href="r">x</a><a href="http://b.example/y">y</a>""", "page.html") ==
      Seq("http://b.example/y"))
  }

  test("extract_links: base query strings, ?-only hrefs, uppercase schemes (RFC 3986 §5)") {
    import org.apache.spark.unsafe.types.UTF8String
    def links(html: String, base: String): Seq[String] =
      extractous.spark.LinkKernel.compute(UTF8String.fromString(html), UTF8String.fromString(base))
        .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    // a '/' inside the base's query must not become the merge directory (§5.2.3)
    assert(links("""<a href="next.html">n</a>""", "http://h.example/a/b?redirect=/login") ==
      Seq("http://h.example/a/next.html"))
    // base fragment likewise excluded from the merge path
    assert(links("""<a href="next.html">n</a>""", "http://h.example/a/b#frag/x") ==
      Seq("http://h.example/a/next.html"))
    // query-only base: origin stays clean
    assert(links("""<a href="/r">n</a>""", "http://h.example?x=1") ==
      Seq("http://h.example/r"))
    // ?-only href keeps the FULL base path (§5.3) — pagination links
    assert(links("""<a href="?page=2">n</a>""", "http://h.example/a/b?page=1") ==
      Seq("http://h.example/a/b?page=2"))
    // schemes are case-insensitive (§3.1); normalized to lowercase
    assert(links("""<a href="HTTP://B.EXAMPLE/p">n</a><a href="HTTPS://c.example/q">m</a>""",
      "http://h.example/") ==
      Seq("http://B.EXAMPLE/p", "https://c.example/q"))
  }

  test("extract_anchors: text accumulation, nesting, entities, implicit close, EOF flush") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def anchors(html: String, base: String): Seq[(String, String)] =
      extractous.spark.LinkKernel.computeAnchors(
        UTF8String.fromString(html), UTF8String.fromString(base))
        .array.map { r =>
          val row = r.asInstanceOf[GenericInternalRow]
          (row.getUTF8String(0).toString, row.getUTF8String(1).toString)
        }.toSeq
    val base = "https://a.example/dir/page.html"
    // nested inline markup + entities + whitespace runs normalize
    assert(anchors("""<a href="/x"> <b>Read</b> &amp;&#9;more </a>""", base) ==
      Seq(("https://a.example/x", "Read & more")))
    // a second <a> implicitly closes the first; EOF flushes an open anchor
    assert(anchors("""<a href="/p">one<a href="/q">two""", base) ==
      Seq(("https://a.example/p", "one"), ("https://a.example/q", "two")))
    // dropped hrefs collect nothing; their inner text leaks to no anchor
    assert(anchors("""<a href="javascript:void(0)">skip</a><a href="/k">kept</a>""", base) ==
      Seq(("https://a.example/k", "kept")))
    // empty anchor (image link) is an empty string, not a dropped row
    assert(anchors("""<a href="/img"><img src="i.png"/></a>""", base) ==
      Seq(("https://a.example/img", "")))
    assert(anchors("no links at all", base).isEmpty)
  }

  test("extract_links: the generator page's boilerplate anchors in document order") {
    import org.apache.spark.unsafe.types.UTF8String
    val html = new String(extractous.gen.CorpusGen.htmlPayload(3, "the quick brown fox", "en"), "UTF-8")
    val got = extractous.spark.LinkKernel.compute(
      UTF8String.fromString(html), UTF8String.fromString("https://host-3.example/doc/3"))
      .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    assert(got.take(4) == Seq("https://host-3.example/", "https://host-3.example/about",
      "https://host-3.example/section-a", "https://host-3.example/section-b"))
    assert(got.forall(_.startsWith("https://host-3.example/")))
  }

  test("br splits blocks; meta collected multi-valued") {
    val html = "<html><head><meta name='k' content='v1'><meta name='k' content='v2'></head>" +
      "<body><article><p>first segment of words here<br>second segment of words here</p></article></body></html>"
    val r = extract(html)
    assert(r.text == "first segment of words here\nsecond segment of words here")
    assert(r.metadata("k") == Seq("v1", "v2"))
  }

  test("uppercase tags parse identically under a Turkish default locale") {
    // tr_TR: "TITLE".toLowerCase == "tıtle", and "</SCRIPT>" would never match
    // the raw-text close-tag search — swallowing the rest of the document
    val html = "<HTML><HEAD><TITLE>T</TITLE><SCRIPT>var x=1;</SCRIPT></HEAD>" +
      "<BODY><DIV>real text stays here after the script block</DIV></BODY></HTML>"
    val before = extract(html)
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      val after = extract(html)
      assert(after.text == before.text)
      assert(after.text.contains("real text stays here"))
      assert(!after.text.contains("var x=1"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("HtmlDom.walk: pre-order text, enter and exit; a refused element is neither walked nor exited") {
    val dom = HtmlDom.parse("<a>1<b>2<c>3</c></b><skip>4<d>5</d></skip>6</a>7")
    val events = Vector.newBuilder[String]
    HtmlDom.walk(dom)(t => events += t, { e => events += s"<${e.name}>"; e.name != "skip" }, e => events += s"</${e.name}>")
    assert(events.result() == Vector("<#root>", "<a>", "1", "<b>", "2", "<c>", "3", "</c>", "</b>", "<skip>", "6", "</a>", "7", "</#root>"))
  }

  test("HtmlDom queries: textOf, findAll descends into matches, outermost does not") {
    val dom = HtmlDom.parse("<x:p>a<p>b<p2>c</p2></p><q><x:P>d</x:P></q></x:p>")
    assert(HtmlDom.textOf(dom) == "abcd")
    assert(HtmlDom.findAll(dom, "p").map(HtmlDom.textOf) == Seq("abcd", "bc", "d"))
    assert(HtmlDom.outermost(dom)(_.name.endsWith("p")).map(HtmlDom.textOf) == Seq("abcd"))
    assert(HtmlDom.outermost(dom)(_.name == "p").map(HtmlDom.textOf) == Seq("bc"))
    val deep = HtmlDom.parse("<i>" * 200000 + "leaf")
    assert(HtmlDom.textOf(deep) == "leaf")
    assert(HtmlDom.findAll(deep, "i").size == 200000)
    assert(HtmlDom.outermost(deep)(_.name == "i").map(_.name) == Seq("i"))
  }

  test("HtmlDom.parse: end tags close through to the nearest open element of their name, or do nothing") {
    def shape(html: String): String = {
      val sb = new StringBuilder
      HtmlDom.walk(HtmlDom.parse(html))(t => sb.append(t), { e => if (e.name != "#root") sb.append(s"(${e.name}"); true },
        e => if (e.name != "#root") sb.append(")"))
      sb.toString
    }
    assert(shape("<b>1<i>2</b>3</i>4") == "(b1(i2))34")
    assert(shape("<b>1</i>2</b>3") == "(b12)3")
    assert(shape("<p>1<p>2<b>3<p>4</b>5") == "(p1)(p2(b3(p4))5)")
    assert(shape("<tr><td>1<td>2<tr><td>3</tr>4") == "(tr(td1)(td2))(tr(td3))4")
    assert(shape("<div><b>x</div></b>y") == "(div(bx))y")
  }
}
