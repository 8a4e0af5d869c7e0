package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Per-row term-frequency scan for keyword retrieval (BM25).
  *
  * `term_freqs(text, terms)` → struct(dl, tfs): the document's whitespace
  * token count and, per query term, its occurrence count — ONE pass over
  * the UTF-8 bytes, no token materialization, no explode. The classic
  * formulation (explode tokens → filter to query terms → groupBy) shuffles
  * a row per matched token; at 10^11 documents the map side should reduce
  * each document to a handful of counters before anything moves. The query
  * terms' UTF-8 bytes are a plan constant (query metadata, like the IVF
  * centroid table of [[vectors.nearest_cells]]).
  *
  * Tokenization matches [[extractous.pipeline.TextStats.tokens]] (`\s+`
  * split, empties dropped): ASCII whitespace only, multi-byte UTF-8 units
  * are never token breaks. Terms are matched as whole tokens, byte-exact.
  */
object TermFreqsKernel {
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0B

  def compute(s: UTF8String, terms: Array[Array[Byte]]): InternalRow = {
    val b = s.getBytes
    val n = b.length
    val tfs = new Array[Long](terms.length)
    var dl = 0L
    var i = 0
    while (i < n) {
      while (i < n && isWs(b(i))) i += 1
      if (i < n) {
        val st = i
        while (i < n && !isWs(b(i))) i += 1
        dl += 1
        val len = i - st
        var t = 0
        var matched = false
        while (t < terms.length && !matched) {
          val tm = terms(t)
          if (tm.length == len) {
            var j = 0
            while (j < len && tm(j) == b(st + j)) j += 1
            if (j == len) { tfs(t) += 1; matched = true }
          }
          t += 1
        }
      }
    }
    new GenericInternalRow(Array[Any](
      dl,
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(tfs)))
  }
}

object retrieval {
  /** `term_freqs(text, terms)` → struct(dl, tfs) — see [[TermFreqsKernel]]. */
  def term_freqs(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty && terms.forall(_.nonEmpty), "query terms must be non-empty")
    require(terms.distinct == terms, "query terms must be distinct")
    ColumnBridge.invoke(TermFreqsKernel, "compute", StructType(Seq(
      StructField("dl", LongType, nullable = false),
      StructField("tfs", ArrayType(LongType, containsNull = false), nullable = false))))(
      text, terms.map(_.getBytes("UTF-8")).toArray)
  }
}
