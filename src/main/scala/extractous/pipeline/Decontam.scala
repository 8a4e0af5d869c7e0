package extractous.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data pipeline stage that flags
  * corpus documents overlapping an evaluation set (the GPT-3/Llama-style
  * n-gram filter: a document is contaminated when a sufficient fraction of
  * its word n-grams appear verbatim in any benchmark document).
  *
  * 100 TB shape: the benchmark side is tiny (eval suites are a few hundred
  * thousand n-grams) and the corpus side is the 10^12-row table, so the plan
  * must be a broadcast semi-join keyed on 8-byte gram hashes — never a
  * shuffle of corpus text:
  *   1. tokenize + n-gram both sides with codegen'd HOFs
  *      (`split`/`filter`/`transform(sequence(...))` — no UDFs);
  *   2. key each gram by a 64-bit hash (xxhash64 per TOKEN, polynomial
  *      combine per gram — see [[ngramKeys]]; the broadcast map carries
  *      longs, not strings — ~8 B/gram instead of ~50 B/gram);
  *   3. `broadcast()` the distinct benchmark gram hashes, left-join the
  *      exploded corpus grams, and partial-aggregate matches per doc_id
  *      map-side (the only exchange carries `(doc_id, counts)` longs).
  * The xxhash64 keying trades exact string equality for 64-bit hash equality;
  * a false match needs an xxhash64 collision between a corpus gram and a
  * benchmark gram (~2^-64 per pair — negligible against 10^12 docs, and the
  * driver oracle joins on gram STRINGS, so any collision would fail the
  * correctness gate rather than hide).
  */
object Decontam {

  /** Lowercased alphanumeric word tokens (the normalization both sides must
    * share — decontamination is defined up to this normalizer).
    */
  def normTokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9\\u4e00-\\u9fff]+"), t => t =!= "")

  /** 64-bit keys of all word n-grams, WITHOUT materializing gram strings:
    * each token is xxhash64'd once and gram keys combine the token hashes
    * with rotate-21-XOR — order-sensitive ("a b" ≠ "b a"), full 64-bit key
    * space. For a corpus-scale document this does 1 hash per token instead
    * of 1 hash over ~n·tokenLen bytes per gram — the dominant cost of the
    * exploded side. Key equality ⟺ gram equality up to 64-bit collisions,
    * same contract as hashing the gram string.
    *
    * Implementation is the imperative one-pass
    * [[extractous.spark.NgramKeys]] — bit-identical to the HOF
    * formulation below (QualitySpec property-tests the equality), which
    * cost ~38 µs PER GRAM in interpreted lambda overhead and made the
    * gram stage the slowest part of decontamination and substring dedup.
    */
  def ngramKeys(c: Column, n: Int): Column =
    extractous.spark.signatures.ngram_keys(c, n)

  /** The original HOF formulation, kept as the spec-side reference the
    * imperative kernel is property-tested against (same role as the
    * brute-force twins elsewhere). Not on any wired query path.
    */
  private[extractous] def ngramKeysHof(c: Column, n: Int): Column = {
    val hs = transform(normTokens(c), t => xxhash64(t))
    def rot21(x: Column): Column =
      shiftleft(x, 21).bitwiseOR(shiftrightunsigned(x, 43))
    when(size(hs) < n, array().cast("array<long>"))
      .otherwise(transform(sequence(lit(1), size(hs) - (n - 1)),
        i => aggregate(slice(hs, i, lit(n)), lit(1125899906842597L),
          (acc, h) => rot21(acc).bitwiseXOR(h))))
  }

  /** Per-document contamination report against `bench`.
    *
    * @param docs     corpus frame with (`idCol`, `textCol`); `idCol` is a key
    * @param bench    benchmark frame with a `textCol` column
    * @param n        n-gram order (real runs: 8–13; small corpora: 3)
    * @param pctThreshold contaminated iff matched-gram instances × 100 ≥
    *                 threshold × total-gram instances (integer arithmetic —
    *                 oracle-exact, no floats)
    * @return (`idCol`, n_grams, n_matched, contaminated) — one row per
    *         distinct id, zero-gram and null-text docs reported clean
    *
    * `docs` is read once: `explode_outer` keeps a gram-less document as one
    * null-gram row, which the aggregate counts as zero grams and zero hits.
    * Joining the counts back to `docs.select(idCol)` would put a second copy
    * of the whole upstream plan into every caller's query.
    */
  def flag(docs: DataFrame, bench: DataFrame, textCol: String, idCol: String,
      n: Int = 8, pctThreshold: Int = 30): DataFrame = {
    val benchGrams = bench
      .select(explode(ngramKeys(col(textCol), n)).as("gh"))
      .distinct()
    docs
      .select(col(idCol), explode_outer(ngramKeys(col(textCol), n)).as("gh"))
      .join(broadcast(benchGrams.withColumn("hit", lit(1))), Seq("gh"), "left")
      .groupBy(col(idCol))
      .agg(count(col("gh")).as("n_grams"), count(col("hit")).as("n_matched"))
      .withColumn("contaminated",
        (col("n_matched") * 100 >= col("n_grams") * pctThreshold && col("n_grams") > 0).cast("long"))
  }
}
