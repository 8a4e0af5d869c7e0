package extractous

import extractous.core.{BudgetExceededException, Extract, Snappy, UnsupportedArchiveException}
import extractous.gen.SnappyWriter
import org.scalatest.funsuite.AnyFunSuite

/** Snappy decoder vs the Apache commons-compress REFERENCE implementation
  * (already on the Spark classpath): commons-compress frames must decode
  * through our from-scratch reader, and the fixture writer's frames must
  * decode through commons-compress — the same two-independent-implementation
  * proof pattern as Lz4Spec/ZstdSpec, with the reference library in place of
  * a CLI.
  */
class SnappySpec extends AnyFunSuite {

  private val t1 = ("the quick brown fox jumps over the lazy dog. " * 40).getBytes("UTF-8")
  private val t3 = ("Document 7\nspark filter join order\n" * 3000).getBytes("UTF-8")
  private val rnd70k = { val r = new scala.util.Random(7); val a = new Array[Byte](70000); r.nextBytes(a); a }

  private def ccCompress(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new org.apache.commons.compress.compressors.snappy.FramedSnappyCompressorOutputStream(bos)
    o.write(data); o.finish(); o.close()
    bos.toByteArray
  }

  private def ccDecompress(data: Array[Byte]): Array[Byte] = {
    val i = new org.apache.commons.compress.compressors.snappy.FramedSnappyCompressorInputStream(
      new java.io.ByteArrayInputStream(data))
    val out = i.readAllBytes(); i.close(); out
  }

  test("commons-compress frames decode through the from-scratch reader") {
    for ((data, i) <- Seq(Array.emptyByteArray, t1, t3, rnd70k).zipWithIndex)
      assert(java.util.Arrays.equals(Snappy.decodeFramed(ccCompress(data)), data), s"shape $i")
  }

  test("fixture writer frames decode through commons-compress (reference accepts our output)") {
    for ((data, i) <- Seq(Array.emptyByteArray, t1, t3, rnd70k).zipWithIndex)
      assert(java.util.Arrays.equals(ccDecompress(SnappyWriter.sz(data)), data), s"shape $i")
  }

  test("writer → reader round-trip on mixed shapes (incl. stored chunks for random data)") {
    val shapes = Seq(
      "x".getBytes("UTF-8"),
      ("abc" * 100000).getBytes("UTF-8"),
      (0 until 300).map(i => s"line $i of mixed content ${i % 7}").mkString("\n").getBytes("UTF-8"),
      rnd70k)
    shapes.zipWithIndex.foreach { case (s, i) =>
      assert(java.util.Arrays.equals(Snappy.decodeFramed(SnappyWriter.sz(s)), s), s"shape $i")
    }
  }

  test("masked CRC32C mismatch is caught in both chunk types") {
    val enc = SnappyWriter.sz(t1)
    val m = enc.clone(); m(14) = (m(14) ^ 0x01).toByte // first chunk's CRC field
    assertThrows[IllegalArgumentException](Snappy.decodeFramed(m))
  }

  test("unskippable reserved chunk refuses typed; skippable is skipped") {
    val head = SnappyWriter.sz(Array.emptyByteArray) // bare stream identifier
    val body = SnappyWriter.sz(t1).drop(10)
    val skippable = Array[Byte](0x90.toByte, 2, 0, 0, 1, 2)
    assert(java.util.Arrays.equals(Snappy.decodeFramed(head ++ skippable ++ body), t1))
    val unskippable = Array[Byte](0x40, 2, 0, 0, 1, 2)
    assertThrows[UnsupportedArchiveException](Snappy.decodeFramed(head ++ unskippable ++ body))
  }

  test("decompression bomb hits the budget, never OOM") {
    val bomb = SnappyWriter.sz(new Array[Byte](4 * 1024 * 1024))
    assertThrows[BudgetExceededException](Snappy.decodeFramed(bomb, maxOut = 1024 * 1024))
  }

  test("fuzz: random corruption throws or returns, never hangs/OOMs") {
    val rnd = new scala.util.Random(42)
    val base = SnappyWriter.sz(t1)
    for (_ <- 0 until 300) {
      val m = base.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try { Snappy.decodeFramed(m, maxOut = 1 << 20); () }
      catch { case _: Exception => () }
    }
  }

  test("Extract: .tar.sz descends to members and reports Content-Encoding") {
    val tar = extractous.gen.TarWriter.tar(Seq(
      "a.txt" -> "alpha body".getBytes("UTF-8"),
      "b.txt" -> "beta body".getBytes("UTF-8")))
    val r = Extract(SnappyWriter.sz(tar))
    assert(r.status == 0, r.error)
    assert(r.text.contains("alpha body") && r.text.contains("beta body"))
    assert(r.metadata("Content-Encoding") == Seq("snappy"))
  }
}
