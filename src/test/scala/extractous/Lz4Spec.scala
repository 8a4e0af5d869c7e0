package extractous

import extractous.core.{BudgetExceededException, Extract, Lz4, UnsupportedArchiveException}
import extractous.gen.Lz4Writer
import org.scalatest.funsuite.AnyFunSuite

/** LZ4 decoder vs the REAL `lz4` CLI (v1.9.x): embedded goldens cover the
  * default frame (content checksum), block checksums + content size,
  * multi-block 64 KiB frames, and the legacy format; live-CLI tests (skipped
  * when no binary is present) round-trip both directions — the CLI must
  * accept the fixture writer's frames and the decoder must accept the CLI's.
  * The decoder is proven against the reference implementation, not a
  * co-written encoder (the ZstdSpec construction).
  */
class Lz4Spec extends AnyFunSuite {
  private def b64(s: String*): Array[Byte] =
    java.util.Base64.getDecoder.decode(s.mkString)

  private val t1 = ("the quick brown fox jumps over the lazy dog. " * 40).getBytes("UTF-8")
  private val t3 = ("Document 7\nspark filter join order\n" * 3000).getBytes("UTF-8")

  // lz4 -z -c (frame, content checksum, 64 KiB blocks via default -B4 at this size)
  private val g1 = b64(
    "BCJNGGRApz8AAADwEHRoZSBxdWljayBicm93biBmb3gganVtcHMgb3ZlciAfAJFsYXp5IGRvZy4O" +
    "AA8tAP///////8VQZG9nLiAAAAAAKS599A==")
  // lz4 -z -BX --content-size (block checksums + declared content size)
  private val g2 = b64(
    "BCJNGHxACAcAAAAAAAB3PwAAAPAQdGhlIHF1aWNrIGJyb3duIGZveCBqdW1wcyBvdmVyIB8AkWxh" +
    "enkgZG9nLg4ADy0A////////xVBkb2cuIFIOJ0YAAAAAKS599A==")
  // lz4 -z -l (legacy frame)
  private val g3 = b64(
    "AiFMGD8AAADwEHRoZSBxdWljayBicm93biBmb3gganVtcHMgb3ZlciAfAJFsYXp5IGRvZy4OAA8t" +
    "AP///////8VQZG9nLiA=")
  // lz4 -z -B4 over 105 kB (two 64 KiB blocks; matches span sequences)
  private val g4 = b64(
    "BCJNGGRApy4BAAD/FERvY3VtZW50IDcKc3BhcmsgZmlsdGVyIGpvaW4gb3JkZXIKIwD/////////" +
    "////////////////////////////////////////////////////////////////////////////" +
    "////////////////////////////////////////////////////////////////////////////" +
    "////////////////////////////////////////////////////////////////////////////" +
    "////////////////////////////////////////////////////////////////////////////" +
    "////////////////////////////xVBzcGFya8gAAAD/FCBmaWx0ZXIgam9pbiBvcmRlcgpEb2N1" +
    "bWVudCA3CnNwYXJrIwD/////////////////////////////////////////////////////////" +
    "////////////////////////////////////////////////////////////////////////////" +
    "////////////////////////////////////////////////////////////////////////h1By" +
    "ZGVyCgAAAACoT7JC")

  test("CLI golden: default frame with content checksum") {
    assert(java.util.Arrays.equals(Lz4.decode(g1), t1))
  }

  test("CLI golden: block checksums + declared content size verify") {
    assert(java.util.Arrays.equals(Lz4.decode(g2), t1))
  }

  test("CLI golden: legacy frame (0x184C2102)") {
    assert(java.util.Arrays.equals(Lz4.decode(g3), t1))
  }

  test("CLI golden: multi-block 64 KiB frame") {
    assert(java.util.Arrays.equals(Lz4.decode(g4), t3))
  }

  test("corrupting any checksum is caught (header, block, content)") {
    // header checksum byte
    val h = g1.clone(); h(6) = (h(6) ^ 0x01).toByte
    assertThrows[IllegalArgumentException](Lz4.decode(h))
    // content checksum (last 4 bytes of g1)
    val c = g1.clone(); c(c.length - 1) = (c(c.length - 1) ^ 0x01).toByte
    assertThrows[IllegalArgumentException](Lz4.decode(c))
    // block checksum in g2: flip a byte inside the compressed block region
    val b = g2.clone(); b(20) = (b(20) ^ 0x01).toByte
    assertThrows[IllegalArgumentException](Lz4.decode(b))
  }

  test("skippable frames are skipped; concatenated frames share the output") {
    val skip = Array[Byte](0x50, 0x2A, 0x4D, 0x18, 3, 0, 0, 0, 9, 9, 9)
    val got = Lz4.decode(skip ++ g1 ++ skip ++ g1)
    assert(java.util.Arrays.equals(got, t1 ++ t1))
  }

  test("dictionary frames refuse with the typed unsupported exception") {
    val d = g1.clone(); d(4) = (d(4) | 0x01).toByte // DictID flag
    assertThrows[UnsupportedArchiveException](Lz4.decode(d))
  }

  test("decompression bomb hits the budget, never OOM") {
    val bomb = Lz4Writer.lz4(new Array[Byte](4 * 1024 * 1024))
    assert(bomb.length < 20000) // zeros compress hard
    assertThrows[BudgetExceededException](Lz4.decode(bomb, maxOut = 1024 * 1024))
  }

  test("frames are independent: a match never reaches into the previous frame") {
    // FLG 0x40 / BD 0x40: no checksums, 64 KiB blocks; 0xC0 is the header checksum
    def frame(block: Int*): Array[Byte] =
      Array(0x04, 0x22, 0x4D, 0x18, 0x40, 0x40, 0xC0).map(_.toByte) ++ block.map(_.toByte) ++ new Array[Byte](4)
    val f1 = frame(Seq(0x08, 0x00, 0x00, 0x80) ++ "abcdefgh".map(_.toInt): _*) // stored block
    val f2 = frame(0x03, 0x00, 0x00, 0x00, 0x00, 0x08, 0x00) // no literals, a 4-byte match at offset 8
    assert(new String(Lz4.decode(f1), "UTF-8") == "abcdefgh")
    val e = intercept[IllegalArgumentException](Lz4.decode(f1 ++ f2))
    assert(e.getMessage == "lz4: match offset 8 reaches before frame start")
    assert(Extract(f1 ++ f2).status == extractous.model.ExtractStatus.ExtractionFailed)
  }

  test("writer frames round-trip through the independent decoder (shapes incl. stored blocks)") {
    val shapes = Seq(
      Array.emptyByteArray,
      "x".getBytes("UTF-8"),
      t1, t3,
      ("abc" * 100000).getBytes("UTF-8"),
      { val r = new scala.util.Random(7); val a = new Array[Byte](70000); r.nextBytes(a); a }, // stored blocks
      (0 until 300).map(i => s"line $i of mixed content ${i % 7}").mkString("\n").getBytes("UTF-8"))
    shapes.zipWithIndex.foreach { case (s, i) =>
      val enc = Lz4Writer.lz4(s)
      assert(java.util.Arrays.equals(Lz4.decode(enc), s), s"shape $i")
    }
  }

  test("fuzz: random corruption throws or returns, never hangs/OOMs") {
    val rnd = new scala.util.Random(42)
    val base = Lz4Writer.lz4(t1)
    for (_ <- 0 until 300) {
      val m = base.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try { Lz4.decode(m, maxOut = 1 << 20); () }
      catch { case _: Exception => () }
    }
  }

  private val cli = Seq("/root/miniconda/bin/lz4", "/usr/bin/lz4").find(p => new java.io.File(p).exists)

  test("live CLI accepts the fixture writer's frames byte-identically") {
    assume(cli.isDefined, "lz4 CLI not present on this host")
    for ((data, i) <- Seq(t1, t3, new Array[Byte](100000)).zipWithIndex) {
      val f = java.nio.file.Files.createTempFile("wlz4", ".lz4")
      java.nio.file.Files.write(f, Lz4Writer.lz4(data))
      val pb = new ProcessBuilder(cli.get, "-d", "-c", f.toString)
      val pr = pb.start()
      val got = pr.getInputStream.readAllBytes()
      assert(pr.waitFor() == 0, s"CLI must accept writer frame $i")
      assert(java.util.Arrays.equals(got, data), s"CLI decode of writer frame $i differs")
      java.nio.file.Files.delete(f)
    }
  }

  test("live CLI output decodes (fresh frames, several levels)") {
    assume(cli.isDefined, "lz4 CLI not present on this host")
    for (lvl <- Seq("-1", "-9", "-12")) {
      val f = java.nio.file.Files.createTempFile("clz4", ".bin")
      java.nio.file.Files.write(f, t3)
      val pb = new ProcessBuilder(cli.get, "-z", lvl, "-c", f.toString)
      val pr = pb.start()
      val enc = pr.getInputStream.readAllBytes()
      assert(pr.waitFor() == 0)
      assert(java.util.Arrays.equals(Lz4.decode(enc), t3), s"level $lvl")
      java.nio.file.Files.delete(f)
    }
  }

  test("Extract: .tar.lz4 descends to members and reports Content-Encoding") {
    val tar = extractous.gen.TarWriter.tar(Seq(
      "a.txt" -> "alpha body".getBytes("UTF-8"),
      "b.txt" -> "beta body".getBytes("UTF-8")))
    val r = Extract(Lz4Writer.lz4(tar))
    assert(r.status == 0, r.error)
    assert(r.text.contains("alpha body") && r.text.contains("beta body"))
    assert(r.metadata("Content-Encoding") == Seq("lz4"))
  }
}
