package extractous

import org.scalatest.funsuite.AnyFunSuite
import extractous.core.{BudgetExceededException, Bzip2, Extract}
import extractous.gen.{BzipWriter, CorpusGen, TarWriter}
import extractous.model.ExtractStatus
import extractous.sniff.MimeSniffer

/** bzip2: the from-scratch reader (core.Bzip2) against the independent
  * from-scratch compressor (gen.BzipWriter) — plus golden fixtures
  * produced by CPython's `bz2` module (real bzip2 output), so the pair
  * can't share a misreading of the format: the reader is proven against
  * a third implementation, and the writer round-trips through the
  * so-proven reader.
  */
class Bzip2Spec extends AnyFunSuite {

  private def b64(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)

  private val sample =
    ("the quick brown fox jumps over the lazy dog. " * 40).getBytes("UTF-8")

  // bz2.compress(sample, 9) — CPython stdlib (libbzip2)
  private val golden1 = b64(
    "QlpoOTFBWSZTWeHm0vMAAveRgEABP///8DAAuAo0NAAAAUaGgAAAClUmppgmCM1NtR+CYE7CYE4i" +
    "aCZCaCbxOgn6JxE7iZCdwmomwTyJ6CaiZifwmQmwTAnkTMTmJoJ6EzE7Cf4momYTAmBOgq9iexPg" +
    "u5IpwoSHDzaXmA==")

  // bz2.compress(b"Document 7\n..." * 3, 1)
  private val golden2Text = "Document 7\nthe and of to in\nmixed bzip2 payload\n" * 3
  private val golden2 = b64(
    "QlpoMTFBWSZTWanLBd0AABNdgAAQQAAQgAQAP2fGcCAAQd/+qinqep+o01PUaafqhQAYjTTRpDTw" +
    "5YWfFEMuW7ddV3UVcIYadPq7KErJSy/MstkumF1GkKpWbJfxdyRThQkKnLBd0A==")

  // bz2.compress(b"A"*300 + b"xyz" + b"B"*4 + b"q", 9) — RLE1 run units
  private val golden3 = b64(
    "QlpoOTFBWSZTWdECxgoAAANUgMAAACAwACBwAAggACGRpo0IMmISAjsox703xdyRThQkNECxgoA=")
  private val golden3Text =
    Array.fill(300)('A'.toByte) ++ "xyz".getBytes("UTF-8") ++ Array.fill(4)('B'.toByte) :+ 'q'.toByte

  test("decodes real libbzip2 output (CPython bz2 goldens) byte-identically") {
    assert(java.util.Arrays.equals(Bzip2.decode(golden1), sample))
    assert(new String(Bzip2.decode(golden2), "UTF-8") == golden2Text)
    assert(java.util.Arrays.equals(Bzip2.decode(golden3), golden3Text))
  }

  test("writer round-trips, compresses, and survives empty/1-byte inputs") {
    assert(BzipWriter.bz2(sample).length < sample.length / 2)
    for (d <- Seq(Array.emptyByteArray, Array[Byte](7), sample, golden3Text)) {
      assert(java.util.Arrays.equals(Bzip2.decode(BzipWriter.bz2(d)), d))
    }
  }

  test("property: 50 random mixed-entropy payloads round-trip at rotating levels") {
    val rnd = new scala.util.Random(47)
    for (i <- 0 until 50) {
      val n = rnd.nextInt(30000)
      val d = new Array[Byte](n)
      var j = 0
      while (j < n) {
        // mixed entropy: 4-letter alphabet runs + random bytes + long runs
        // (run-heavy every 7th payload exercises RLE1 unit boundaries)
        d(j) =
          if (i % 7 == 0 && j % 600 < 280) 'R'.toByte
          else if (rnd.nextInt(4) == 0) rnd.nextInt(256).toByte
          else ('a' + rnd.nextInt(4)).toByte
        j += 1
      }
      val lvl = Seq(1, 5, 9)(i % 3)
      assert(java.util.Arrays.equals(Bzip2.decode(BzipWriter.bz2(d, lvl)), d), s"seed $i")
    }
  }

  test("multi-block streams (input above the level-1 block budget) round-trip") {
    val rnd = new scala.util.Random(48)
    val big = Array.fill(250000)(('a' + rnd.nextInt(4)).toByte)
    val packed = BzipWriter.bz2(big, 1)
    assert(java.util.Arrays.equals(Bzip2.decode(packed), big))
  }

  test("extract dispatch: .bz2 text decodes and records the wrapper; .tar.bz2 recurses") {
    val txt = BzipWriter.bz2("hello from bzip2".getBytes("UTF-8"))
    assert(MimeSniffer.sniff(txt) == "application/x-bzip2")
    val r = Extract(txt)
    assert(r.status == ExtractStatus.Ok, r.error)
    assert(r.text == "hello from bzip2")
    assert(r.metadata("Content-Encoding") == Seq("bzip2"))

    val html = CorpusGen.htmlPayload(5, "bzip2 tar body", "en")
    val tarBz = BzipWriter.bz2(TarWriter.tar(Seq(
      "a.html" -> html, "b.txt" -> "note".getBytes("UTF-8"))), level = 1)
    val rt = Extract(tarBz)
    assert(rt.status == ExtractStatus.Ok, rt.error)
    assert(rt.text == "Document 5\nthe and of to in\nbzip2 tar body\nnote")
    assert(rt.metadata("tar:member-count") == Seq("2"))
  }

  test("damage anywhere → typed failure, never garbage text") {
    val packed = BzipWriter.bz2(sample)
    // header level digit, block header, symbol data, footer CRC
    for (pos <- Seq(3, 12, packed.length / 2, packed.length - 2)) {
      val mut = packed.clone()
      mut(pos) = (mut(pos) ^ 0x40).toByte
      val r = Extract(mut)
      assert(r.status != ExtractStatus.Ok && r.text == "", s"pos $pos: ${r.status} ${r.error}")
    }
    val cut = java.util.Arrays.copyOf(packed, packed.length - 10)
    val rc = Extract(cut)
    assert(rc.status == ExtractStatus.ExtractionFailed && rc.text == "")
  }

  test("deprecated randomized blocks refuse with -8, never -4 garbage") {
    // flip the 1-bit randomized flag (bit 80 of the stream: after 32-bit
    // header + 48-bit block magic + 32-bit CRC); CRCs cover DECODED bytes,
    // so the refusal fires before any integrity check can mask it
    val packed = BzipWriter.bz2(sample)
    val mut = packed.clone()
    val bitPos = 32 + 48 + 32
    mut(bitPos / 8) = (mut(bitPos / 8) | (0x80 >>> (bitPos % 8))).toByte
    val r = Extract(mut)
    assert(r.status == ExtractStatus.UnsupportedFormat, s"${r.status} ${r.error}")
    assert(r.error.contains("randomized"))
  }

  test("concatenated streams (pbzip2 / cat a.bz2 b.bz2) decode in sequence") {
    // real libbzip2 goldens back-to-back — each carries its own footer CRC
    val cat = golden1 ++ golden2
    assert(new String(Bzip2.decode(cat), "UTF-8") ==
      new String(sample, "UTF-8") + golden2Text)
    // writer-produced three-way concat round-trips too
    val parts = Seq("first ".getBytes("UTF-8"), "second ".getBytes("UTF-8"),
      Array.fill(5000)('z'.toByte))
    val packed = parts.map(BzipWriter.bz2(_)).reduce(_ ++ _)
    assert(java.util.Arrays.equals(Bzip2.decode(packed), parts.reduce(_ ++ _)))
    // trailing garbage after a valid stream is a loud error, not silent loss
    val e = intercept[IllegalArgumentException](
      Bzip2.decode(golden1 ++ "not a stream".getBytes("UTF-8")))
    assert(e.getMessage.contains("trailing"))
  }

  test("bomb cap: output beyond the cap is refused mid-emit") {
    val packed = BzipWriter.bz2(sample)
    val e = intercept[BudgetExceededException](Bzip2.decode(packed, cap = 16))
    assert(e.getMessage.contains("budget"))
  }
}
