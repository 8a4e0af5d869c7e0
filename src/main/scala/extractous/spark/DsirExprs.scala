package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge

/** Kernels for DSIR-style importance scoring (Xie et al., "Data Selection
  * for Language Models via Importance Resampling", NeurIPS 2023): documents
  * are featurized as hashed word uni+bigrams, and each document's score is
  * the mean per-gram log-likelihood ratio between a target and a source
  * bucket profile.
  *
  * Everything here is EXACT integer arithmetic so the DuckDB oracle replays
  * the whole operator bit-identically:
  *
  *  - token hash = the repo's SQL-twin polynomial (fold h·31+codepoint mod
  *    1e9+7 — [[FingerprintHash.compute]], the same fold the `t_fingerprint`
  *    oracle replays with `ascii`/`substr`);
  *  - bigram combine = (h₁·131 + h₂) mod 1e9+7; bucket = hash mod B;
  *  - the log is fixed-point base-2 at ⅓-bit resolution via an exactness
  *    trick: flog2cube(x) = floor(log2(min(x+1, 2¹⁷)³)) = 63 − nlz(m³).
  *    The cube stays < 2⁵³, so a DOUBLE holds it exactly and DuckDB's
  *    `floor(log2(...))` cannot straddle a boundary: m³ for non-power-of-two
  *    m is ≥ ~10⁻⁵ in relative distance from any power of two, dwarfing the
  *    ~10⁻¹⁶ log2 rounding error. Counts above 2¹⁷ saturate (documented —
  *    hashed-bucket profiles saturate in fixed-point DSIR implementations
  *    too);
  *  - the per-document mean uses truncating integer division, which Scala's
  *    `Long./` and DuckDB's `//` define identically (toward zero).
  */
object DsirKernel {
  final val Mod = 1000000007L
  final val BigramMix = 131L
  final val SatCap = 131072L // 2^17 — cube stays exactly representable in a double

  /** floor(log2(min(x+1, 2¹⁷)³)) — the fixed-point log both engines compute
    * exactly (⅓-bit resolution).
    */
  def flog2cube(x: Long): Long = {
    val m = math.min(x + 1, SatCap)
    val c = m * m * m
    63L - java.lang.Long.numberOfLeadingZeros(c)
  }

  /** Hashed uni+bigram buckets of a token array, in document order:
    * n unigram buckets then n−1 bigram buckets (2n−1 total).
    */
  def buckets(tokens: ArrayData, b: Int): GenericArrayData = {
    val n = tokens.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = FingerprintHash.compute(tokens.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](if (n == 0) 0 else 2 * n - 1)
    i = 0
    while (i < n) { out(i) = hs(i) % b; i += 1 }
    i = 0
    while (i < n - 1) {
      out(n + i) = ((hs(i) * BigramMix + hs(i + 1)) % Mod) % b
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Mean per-gram fixed-point log-likelihood ratio:
    * trunc(64 · Σ λ(bucket) / nGrams), 0 for a gramless document. `lambda`
    * is the precomputed per-bucket weight table (flog2cube(target) −
    * flog2cube(source)).
    */
  def score(tokens: ArrayData, lambda: Array[Long]): Long = {
    val b = lambda.length
    val n = tokens.numElements()
    if (n == 0) return 0L
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = FingerprintHash.compute(tokens.getUTF8String(i))
      i += 1
    }
    var sum = 0L
    i = 0
    while (i < n) { sum += lambda((hs(i) % b).toInt); i += 1 }
    i = 0
    while (i < n - 1) {
      sum += lambda((((hs(i) * BigramMix + hs(i + 1)) % Mod) % b).toInt)
      i += 1
    }
    64L * sum / (2L * n - 1L)
  }
}

object dsir {
  /** `dsir_buckets(tokens, b)` → array<bigint> of hashed uni+bigram buckets
    * (the profile build's explode input).
    */
  def dsir_buckets(tokens: Column, b: Int): Column = {
    require(b > 0, "bucket count must be positive")
    ColumnBridge.invoke(DsirKernel, "buckets", ArrayType(LongType, containsNull = false))(tokens, b)
  }

  /** `dsir_score(tokens)` → fixed-point importance score under a
    * precomputed per-bucket weight table (a plan constant like the IVF
    * centroids; B longs ≈ 64 KB at the default 8192 buckets).
    */
  def dsir_score(tokens: Column, lambda: Array[Long]): Column = {
    require(lambda.nonEmpty, "weight table must be non-empty")
    ColumnBridge.invoke(DsirKernel, "score", LongType)(tokens, lambda)
  }
}
