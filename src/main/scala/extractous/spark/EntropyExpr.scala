package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Character-distribution entropy — the information-theoretic gibberish
  * signal (near-zero entropy = one-character spam / padding; near-8-bits =
  * random bytes or encrypted junk that leaked past extraction; prose sits
  * in a narrow band between). Complements the rule-based gates
  * ([[GopherKernel]], [[C4Kernel]]) with a distribution-shape test neither
  * expresses.
  *
  * Exact fixed-point arithmetic, zero floats across engine boundaries:
  * codepoints bucket to 256 classes (cp mod 256 — exact for ASCII/Latin-1,
  * deterministic aliasing above), and per-bucket surprise uses the repo's
  * ⅓-bit log ([[DsirKernel.flog2cube]], L(x) ≈ 3·log₂(x+1)):
  *
  *   ent_sum = Σ_buckets k·(L(n) − L(k)),  ent_mean_x3 = ent_sum / n
  *
  * so ent_mean_x3 ≈ 3·H bits/char (English prose ≈ 12–13, single-char
  * spam = 0, uniform random bytes ≈ 24). Counts ≥ 2¹⁷ saturate L — both
  * engines alike — so documents beyond ~131 k chars degrade gracefully
  * instead of overflowing. One pass per row, no tokenization, no regex;
  * the DuckDB oracle replays buckets, logs, and the truncating mean.
  */
object EntropyKernel {
  final val Fields: Seq[String] = Seq("n_chars", "ent_sum", "ent_mean_x3")

  def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    val counts = new Array[Long](256)
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts(cp % 256) += 1
      n += 1
      i += Character.charCount(cp)
    }
    val ln = DsirKernel.flog2cube(n)
    var sum = 0L
    var b = 0
    while (b < 256) {
      val k = counts(b)
      if (k > 0) sum += k * (ln - DsirKernel.flog2cube(k))
      b += 1
    }
    val mean = if (n > 0) sum / n else 0L
    new GenericInternalRow(Array[Any](n, sum, mean))
  }
}

object entropy {
  /** `char_entropy(text)` → struct(n_chars, ent_sum, ent_mean_x3). */
  def char_entropy(text: Column): Column =
    ColumnBridge.invoke(EntropyKernel, "compute",
      StructType(EntropyKernel.Fields.map(StructField(_, LongType, nullable = false))))(text)
}
