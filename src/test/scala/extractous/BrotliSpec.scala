package extractous

import extractous.core.{Brotli, BudgetExceededException}
import org.scalatest.funsuite.AnyFunSuite

/** Brotli decoder vs the REAL Google encoder: the goldens under
  * src/test/resources/golden/brotli were produced by the reference brotli
  * implementation (via the locally installed Arrow build) at qualities
  * 0/1/2/5/6/9/11 over shapes that exercise every format path — uncompressed
  * meta-blocks (incompressible random bytes), simple and complex prefix
  * codes, block-type switching (large mixed input), all literal context
  * modes (ASCII, UTF-8 multilingual, binary), static-dictionary references
  * with transforms (quality 11 English/dictionary-word text compresses well
  * below entropy only via the dictionary), long LZ77 copies and the distance
  * ring (repetitive input). The decoder is proven against the reference
  * implementation, not a co-written encoder (same construction as
  * ZstdSpec/XzSpec/Bzip2Spec). See tools/gen_brotli_fixtures.py.
  */
class BrotliSpec extends AnyFunSuite {

  private def gold(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/golden/brotli/$name")
    assert(in != null, s"missing golden $name")
    try in.readAllBytes() finally in.close()
  }

  private val cases = Seq(
    "empty" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "fox" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "dictwords" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "english" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "html" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "repeat" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "random" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "allbytes" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "utf8" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "lines" -> Seq(0, 1, 2, 5, 6, 9, 11),
    "big" -> Seq(1, 5, 11))

  for ((name, qs) <- cases; q <- qs)
    test(s"golden: $name at quality $q decodes byte-identically") {
      val raw = gold(s"$name.raw")
      val got = Brotli.decode(gold(s"${name}_q$q.br"))
      assert(got.length == raw.length, s"length ${got.length} vs ${raw.length}")
      assert(java.util.Arrays.equals(got, raw))
    }

  test("quality-11 dictionary text really exercises the static dictionary") {
    // 350 raw bytes → 148 compressed: impossible without dictionary+transform
    // references, so a silent dictionary bug cannot hide behind literals
    assert(gold("dictwords_q11.br").length < gold("dictwords.raw").length / 2)
  }

  test("output cap: a decodable stream refuses to exceed maxOut") {
    val e = intercept[BudgetExceededException](Brotli.decode(gold("repeat_q5.br"), maxOut = 1000))
    assert(e.getMessage.contains("budget"))
  }

  test("truncation: every golden prefix throws cleanly, never hangs or crashes") {
    for (name <- Seq("english_q5", "big_q11", "dictwords_q11", "random_q1")) {
      val full = gold(s"$name.br")
      for (cut <- Seq(1, 2, 3, full.length / 4, full.length / 2, full.length - 1)) {
        val sliced = java.util.Arrays.copyOf(full, cut)
        try { Brotli.decode(sliced); () }
        catch { case _: IllegalArgumentException => () }
      }
    }
  }

  test("bit-flip fuzz: corrupted streams throw or decode, never crash the JVM") {
    val rnd = new scala.util.Random(20260818)
    val full = gold("english_q9.br")
    var threw = 0
    for (_ <- 1 to 500) {
      val b = full.clone()
      val i = rnd.nextInt(b.length)
      b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
      try { Brotli.decode(b, maxOut = 4 << 20); () }
      catch {
        case _: IllegalArgumentException => threw += 1
        case _: ArrayIndexOutOfBoundsException =>
          fail("index crash escaped the structured validation")
      }
    }
    assert(threw > 100, s"only $threw/500 flips detected — validation too loose")
  }

  test("random garbage: arbitrary bytes never hang and never return silently wrong 'success' at scale") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 300) {
      val b = new Array[Byte](rnd.nextInt(200) + 1)
      rnd.nextBytes(b)
      try { Brotli.decode(b, maxOut = 1 << 20); () }
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("empty input throws (zero bytes is not a brotli stream)") {
    intercept[IllegalArgumentException](Brotli.decode(Array.emptyByteArray))
  }
}
