package extractous

import extractous.config.{CharSet, ExtractorConfig}
import extractous.text.{BlockSink, Encoding, Normalize}
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite {
  private def sink(maxLen: Int, xml: Boolean = false) =
    new BlockSink(ExtractorConfig(maxStringLength = maxLen, xmlOutput = xml))
  private def textOf(s: BlockSink): String = s.ok(Map.empty, "text/plain").text
  private def xmlOf(s: BlockSink): String = s.ok(Map.empty, "text/plain").xml

  test("normalize collapses runs and trims") {
    assert(Normalize.line("  a\t\tb   c  ") == "a b c")
    assert(Normalize.line("\n\r x  y ") == "x y")
    assert(Normalize.line("") == "")
    assert(Normalize.line("   ") == "")
  }
  test("normalize text drops empty lines") {
    assert(Normalize.text("a\n\n  \nb\nc  ") == "a\nb\nc")
  }
  test("emitter joins blocks with single newline, no trailing") {
    val e = sink(1000)
    e.add("p", " one "); e.add("p", ""); e.add("p", "two")
    assert(textOf(e) == "one\ntwo")
  }
  test("emitter truncates at exactly maxLen chars") {
    val e = sink(5)
    e.add("p", "abcdefgh")
    assert(e.isFull)
    e.add("p", "more")
    assert(textOf(e) == "abcde")
  }
  test("emitter truncation across blocks counts separator") {
    val e = sink(5)
    e.add("p", "abc"); e.add("p", "def")
    // "abc\nd" = 5 chars
    assert(textOf(e) == "abc\nd")
  }
  test("emitter never ends on separator") {
    val e = sink(4)
    e.add("p", "abcd"); e.add("p", "x")
    assert(textOf(e) == "abcd")
  }
  test("truncation property: length <= maxLen (seeded random)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(200)
      val blocks = List.fill(rnd.nextInt(8))(rnd.alphanumeric.take(rnd.nextInt(120)).mkString(" "))
      val e = sink(n)
      blocks.foreach(e.add("p", _))
      val r = textOf(e)
      assert(r.length <= n, s"n=$n got ${r.length}")
      assert(!r.endsWith("\n"))
    }
  }
  test("xml emitter escapes") {
    val x = sink(1000, xml = true)
    x.add("p", "a < b & c > d")
    assert(xmlOf(x) == "<doc>\n<p>a &lt; b &amp; c &gt; d</p>\n</doc>")
    assert(xmlOf(sink(1000)) == "", "the xml column is empty when XML mode is off")
  }
  test("ascii encoding folds non-ascii") {
    assert(Encoding("héllo", CharSet.UsAscii) == "h?llo")
    assert(Encoding("héllo", CharSet.Utf8) == "héllo")
    assert(Encoding("héllo こんにちは", CharSet.Utf16Be) == "héllo こんにちは")
  }

  test("truncation never splits a surrogate pair") {
    val e = sink(4)
    e.add("p", "abc😀z")
    assert(textOf(e) == "abc") // cutting at 4 would strand the high surrogate
    val e2 = sink(5)
    e2.add("p", "abc😀z")
    assert(textOf(e2) == "abc😀") // whole pair fits
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val s = (1 to 20).map(_ => if (rnd.nextBoolean()) "😀" else "ab").mkString
      val e3 = sink(1 + rnd.nextInt(12))
      e3.add("p", s)
      val r = textOf(e3)
      if (r.nonEmpty) assert(!Character.isHighSurrogate(r.charAt(r.length - 1)), s"input=$s")
    }
  }

  test("xml emitter caps an oversized element during emission, not after") {
    val x = sink(10, xml = true)
    x.addElement("p", "a" * 1000)
    x.addElement("p", "more") // the cap was hit: nothing further is appended
    val xml = xmlOf(x)
    assert(!xml.contains("more"), xml)
    assert(xml.length < 40, xml) // text budget + tag overhead, never the full element
    // maxLen 9 minus the 5-char "<doc>" prefix leaves a 4-char text budget;
    // cutting at 4 would strand the high surrogate → backs off to "abc"
    val x2 = sink(9, xml = true)
    x2.addElement("p", "abc😀zzz")
    assert(xmlOf(x2) == "<doc>\n<p>abc</p>\n</doc>")
  }

  test("lowerAscii/upperAscii: locale-independent, length-preserving, non-ASCII untouched") {
    assert(Normalize.lowerAscii("TITLE-Ä9") == "title-Ä9")
    assert(Normalize.upperAscii("div9ß") == "DIV9ß")
    // U+0130: String.toLowerCase would GROW this to two chars and desync indices
    assert(Normalize.lowerAscii("İI") == "İi")
    assert(Normalize.lowerAscii("already lower") eq "already lower") // no-copy fast path
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      assert(Normalize.lowerAscii("TITLE") == "title") // not "tıtle"
      assert(Normalize.upperAscii("i") == "I")         // not "İ"
    } finally java.util.Locale.setDefault(saved)
  }
}
