package extractous

import extractous.core.{Brotli, BudgetExceededException, Bzip2, Extract, LayerBuffer, Lz4, Snappy, WarcExtractor, Zstd}
import extractous.gen.{BrotliWriter, BzipWriter, DocxWriter, Lz4Writer, SnappyWriter, ZstdWriter}
import extractous.office.ZipUtil
import extractous.pdf.PdfExtractor
import org.scalatest.funsuite.AnyFunSuite

/** The one output budget of every streaming decoder: each writes through a
  * [[LayerBuffer]], so an output of exactly `cap` bytes decodes, one byte
  * more throws [[BudgetExceededException]] with one message, and concatenated
  * frames or members share the budget.
  */
class BudgetSpec extends AnyFunSuite {
  private val data = (0 until 300).map(i => s"row $i of the budget table ${i % 7}\n").mkString.getBytes("UTF-8")
  private val n = data.length

  private def gzip(d: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(d); gz.close()
    bos.toByteArray
  }

  private def zlib(d: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(bos)
    z.write(d); z.close()
    bos.toByteArray
  }

  /** Site label, encoder, and decoder under a budget. */
  private val sites: Seq[(String, Array[Byte] => Array[Byte], (Array[Byte], Int) => Array[Byte])] = Seq(
    ("gzip", gzip, (b, cap) => Extract.gunzip(b, cap)),
    ("deflate", zlib, (b, cap) => WarcExtractor.inflate(b, cap)),
    ("FlateDecode", zlib, (b, cap) => PdfExtractor.inflate(b, cap)),
    ("zip entry 'a.bin'", d => DocxWriter.zip(Seq("a.bin" -> d)), (b, cap) => ZipUtil.members(b, maxEntry = cap).head._2),
    ("bzip2", BzipWriter.bz2(_), (b, cap) => Bzip2.decode(b, cap)),
    ("zstd", ZstdWriter.zst, (b, cap) => Zstd.decode(b, cap)),
    ("lz4", Lz4Writer.lz4, (b, cap) => Lz4.decode(b, cap)),
    ("snappy", SnappyWriter.sz, (b, cap) => Snappy.decodeFramed(b, cap)),
    ("brotli", BrotliWriter.br, (b, cap) => Brotli.decode(b, cap)))

  for ((label, encode, decode) <- sites)
    test(s"$label: exactly cap bytes decode, cap + 1 bytes breach the one budget") {
      val enc = encode(data)
      assert(decode(enc, n).sameElements(data))
      val e = intercept[BudgetExceededException](decode(enc, n - 1))
      assert(e.getMessage == s"$label: output exceeds ${n - 1}-byte budget")
    }

  for ((label, encode, decode) <- sites if Set("lz4", "zstd", "snappy", "bzip2", "gzip")(label))
    test(s"$label: concatenated frames share one budget") {
      val two = encode(data) ++ encode(data)
      assert(decode(two, 2 * n).sameElements(data ++ data))
      // each frame alone fits; together they pass the budget
      val e = intercept[BudgetExceededException](decode(two, 2 * n - 1))
      assert(e.getMessage == s"$label: output exceeds ${2 * n - 1}-byte budget")
    }

  test("zip: entries share the archive budget; an entry gets what is left of it") {
    val zip = DocxWriter.zip(Seq("a.bin" -> data, "b.bin" -> data))
    assert(ZipUtil.members(zip, maxTotal = 2L * n).map(_._2.length) == Seq(n, n))
    val e = intercept[BudgetExceededException](ZipUtil.members(zip, maxTotal = 2L * n - 1))
    assert(e.getMessage == s"zip entry 'b.bin': output exceeds ${n - 1}-byte budget")
  }

  test("a budget breach is an IllegalStateException: the deflate raw retry never reruns a bomb") {
    val e = intercept[IllegalStateException](WarcExtractor.inflate(zlib(data), n - 1))
    assert(e.isInstanceOf[BudgetExceededException])
  }

  test("the first array is sized in Long: a 2^29-byte input hint allocates at most 1 MiB") {
    val out = new LayerBuffer("t", 1L << 30, 1L << 29)
    out.append(data, 0, n)
    assert(out.result().sameElements(data))
  }

  test("back-references copy overlapping runs and stop at the frame floor") {
    val out = new LayerBuffer("t", 16, 0)
    "xab".foreach(c => out.append(c.toInt))
    out.copy(2, 5, floor = 1)
    assert(new String(out.result(), "UTF-8") == "xabababa")
    val e = intercept[IllegalArgumentException](out.copy(8, 1, floor = 1))
    assert(e.getMessage == "t: match offset 8 reaches before frame start")
    val f = intercept[BudgetExceededException](out.copy(2, 9, floor = 1))
    assert(f.getMessage == "t: output exceeds 16-byte budget")
  }

  test("a zero budget holds empty output and refuses the first byte") {
    val out = new LayerBuffer("t", 0, 100)
    assert(out.result().isEmpty)
    assert(intercept[BudgetExceededException](out.append(1)).getMessage == "t: output exceeds 0-byte budget")
  }
}
