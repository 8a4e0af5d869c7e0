package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge

/** Kernels for the CCNet-style language-model quality filter (Wenzek et
  * al., "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  * Data", LREC 2020): score every document by its mean per-token surprise
  * under a bigram LM trained on a TRUSTED reference subset, then bucket the
  * corpus into head / middle / tail perplexity terciles (CCNet §4.4 keeps
  * the head+middle for training).
  *
  * CCNet uses a 5-gram KenLM; this is the hashed-bigram analog, sized so
  * the model is metadata (2·B longs ≈ 128 KB at B=8192) and ships with the plan
  * like the IVF centroids ([[vectors.nearest_cells]]) and the DSIR weight
  * table ([[dsir.dsir_score]]).
  *
  * Everything is EXACT integer arithmetic so the DuckDB oracle replays the
  * whole operator — model counts, per-document scores, and the tercile
  * boundary — bit-identically:
  *
  *  - token hash = the repo's SQL-twin polynomial ([[FingerprintHash]]);
  *    bigram combine and bucketing reuse the DSIR constants
  *    ([[DsirKernel.BigramMix]], mod 1e9+7);
  *  - the model is ONE array of 2·B counts: context (prev-token) unigram
  *    occurrences in [0, B), bigram occurrences in [B, 2·B) — both counted
  *    over the trusted subset only;
  *  - per-position surprise ≈ −log2 P(w | prev) in ⅓-bit fixed point:
  *    flog2cube(count(prev)) − flog2cube(count(prev, w))
  *    ([[DsirKernel.flog2cube]]). An unseen CONTEXT (count(prev) = 0) takes
  *    the saturation surprise flog2cube(2¹⁷−1) = 51 — the analog of
  *    KenLM's unknown-word penalty; without it an all-OOV document would
  *    score 0, i.e. read as perfectly predictable. Cross-space hash
  *    collisions can make a bigram count exceed its context count (a
  *    slightly negative term) — a documented hashed-LM artifact that is
  *    deterministic and replayed by the oracle;
  *  - the per-document mean is truncating integer division (Scala `Long./`
  *    ≡ DuckDB `//`), scaled by 64 like [[DsirKernel.score]].
  */
object LmKernel {
  /** Saturation surprise for an unseen context: flog2cube(SatCap − 1) = 51. */
  final val OovSurprise = 51L

  /** Hashed gram buckets of a token array for model building, in document
    * order: for each adjacent pair i → (context bucket of token i, then
    * B + bigram bucket of (i, i+1)) — 2·(n−1) entries, empty for n < 2.
    */
  def buckets(tokens: ArrayData, b: Int): GenericArrayData = {
    val n = tokens.numElements()
    if (n < 2) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = FingerprintHash.compute(tokens.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](2 * (n - 1))
    i = 0
    while (i < n - 1) {
      out(2 * i) = hs(i) % b
      out(2 * i + 1) = b + ((hs(i) * DsirKernel.BigramMix + hs(i + 1)) % DsirKernel.Mod) % b
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Mean per-position fixed-point surprise under an embedded count table
    * of length 2·B: trunc(64 · Σ term / (n−1)), 0 for a document with
    * fewer than two tokens.
    */
  def surprise(tokens: ArrayData, model: Array[Long]): Long = {
    val b = model.length / 2
    val n = tokens.numElements()
    if (n < 2) return 0L
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = FingerprintHash.compute(tokens.getUTF8String(i))
      i += 1
    }
    var sum = 0L
    i = 0
    while (i < n - 1) {
      val cu = model((hs(i) % b).toInt)
      val cb = model(b + (((hs(i) * DsirKernel.BigramMix + hs(i + 1)) % DsirKernel.Mod) % b).toInt)
      sum += (if (cu == 0L) OovSurprise
              else DsirKernel.flog2cube(cu) - DsirKernel.flog2cube(cb))
      i += 1
    }
    64L * sum / (n - 1L)
  }
}

object lm {
  /** `lm_buckets(tokens, b)` → array<bigint> of (context, B + bigram)
    * buckets (the model build's explode input).
    */
  def lm_buckets(tokens: Column, b: Int): Column = {
    require(b > 0, "bucket count must be positive")
    ColumnBridge.invoke(LmKernel, "buckets", ArrayType(LongType, containsNull = false))(tokens, b)
  }

  /** `lm_surprise(tokens)` → fixed-point mean surprise under a precomputed
    * 2·B count table, a plan constant.
    */
  def lm_surprise(tokens: Column, model: Array[Long]): Column = {
    require(model.length >= 2 && model.length % 2 == 0, "model must hold 2*B counts")
    ColumnBridge.invoke(LmKernel, "surprise", LongType)(tokens, model)
  }
}
