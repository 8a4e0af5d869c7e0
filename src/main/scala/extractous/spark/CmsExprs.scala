package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge

/** Kernels for Count–Min phrase-frequency sketching (Cormode &
  * Muthukrishnan, J. Algorithms 2005) — the scale path for corpus-wide
  * n-gram frequency queries ("how often does this phrase occur across the
  * crawl?") where the textbook explode + groupBy must shuffle every gram of
  * every document (~10¹⁴ rows at the 100 TB corpus).
  *
  * The sketch is D = 4 rows of W counters; gram g increments counter
  * [j][p_j(g)] for each row j, and a point query answers
  * min_j counter[j][p_j(g)] — an upper bound on the true count (one-sided:
  * never an undercount), with overestimate ≤ 2·N/W at probability
  * 1 − 2⁻⁴ per query.
  *
  * Everything is exact integer arithmetic shared with the repo's other
  * sketches, so the DuckDB oracle replays the ENTIRE sketch — collisions
  * and all — rather than rows-only checking:
  *
  *  - token hash = the SQL-twin polynomial ([[FingerprintHash]]);
  *  - bigram combine = (h_i·131 + h_{i+1}) mod 1e9+7
  *    ([[DsirKernel.BigramMix]], same as the LM/DSIR gram spaces);
  *  - row positions = the K = 4 affine probe maps the Bloom filter already
  *    uses ([[BloomKernel.position]]), flattened to one slot id
  *    j·W + p_j(g) so the builder is a single bounded aggregation.
  *
  * Build shape (mirrors [[BloomKernel]]'s): explode the 4·(n−1) slot ids
  * per document, ONE count aggregation whose key space is bounded by 4·W
  * (map-side partial combine ⇒ ≤ 4·W rows per partition through the
  * exchange no matter the corpus size), collect the ≤ 4·W (slot, count)
  * rows, pack driver-side. Probing is a narrow zero-exchange projection
  * against the embedded counter array (ships with the plan like the IVF
  * centroids and the Bloom bitset).
  */
object CmsKernel {
  final val Mod = 1000000007L
  /** Sketch depth — reuses the Bloom filter's K affine maps. */
  final val D: Int = BloomKernel.K

  /** SQL-twin bigram gram hash of adjacent token pairs, in document order:
    * (n−1) entries, empty for n < 2.
    */
  def gramHashes(tokens: ArrayData): Array[Long] = {
    val n = tokens.numElements()
    if (n < 2) return Array.emptyLongArray
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = FingerprintHash.compute(tokens.getUTF8String(i)); i += 1 }
    val out = new Array[Long](n - 1)
    i = 0
    while (i < n - 1) {
      out(i) = (hs(i) * DsirKernel.BigramMix + hs(i + 1)) % Mod
      i += 1
    }
    out
  }

  /** Flat slot ids j·w + p_j(g) of every adjacent-bigram gram of a token
    * array, all D rows per gram — the build side's explode input.
    */
  def slots(tokens: ArrayData, w: Int): GenericArrayData = {
    val gs = gramHashes(tokens)
    val out = new Array[Long](gs.length * D)
    var i = 0
    while (i < gs.length) {
      var j = 0
      while (j < D) {
        out(i * D + j) = j.toLong * w + BloomKernel.position(gs(i), j, w)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Point query: min over the D rows — ≥ the gram's true count. */
  def estimate(gramHash: Long, counters: Array[Long], w: Int): Long = {
    var best = Long.MaxValue
    var j = 0
    while (j < D) {
      val c = counters(j * w + BloomKernel.position(gramHash, j, w).toInt)
      if (c < best) best = c
      j += 1
    }
    best
  }
}

object cms {
  /** `cms_slots(tokens, w)` → array<bigint> of D·(n−1) flat slot ids (the
    * build side's explode input).
    */
  def cms_slots(tokens: Column, w: Int): Column = {
    require(w > 0, "sketch width must be positive")
    ColumnBridge.invoke(CmsKernel, "slots", ArrayType(LongType, containsNull = false))(tokens, w)
  }

  /** `cms_estimate(gram_hash)` → bigint count estimate against a prebuilt
    * counter array (D·w longs — 32 KB at the default w = 1024), a plan
    * constant like the Bloom bitset.
    */
  def cms_estimate(gramHash: Column, counters: Array[Long], w: Int): Column = {
    require(w > 0 && counters.length == CmsKernel.D * w, "counter array must be D*w")
    ColumnBridge.invoke(CmsKernel, "estimate", LongType)(gramHash, counters, w)
  }
}
