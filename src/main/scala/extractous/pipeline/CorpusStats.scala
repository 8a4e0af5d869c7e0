package extractous.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus distribution statistics — the "know your data" report every
  * training-data pipeline runs before fixing sequence lengths, packing
  * budgets, and truncation points (doc-length percentiles at minimum).
  *
  * 100 TB shape: the textbook exact quantile — `percentile` or a global
  * sort — shuffles every row; `approx_percentile` avoids that but its
  * t-digest answer is engine- and merge-order-dependent, so no independent
  * engine can replay it. This takes the exact-histogram path the repo's LM
  * terciles use ([[LmQuality]]): document LENGTH is integer-valued and
  * bounded (a crawl pipeline caps extraction at maxLen anyway —
  * [[extractous.config.ExtractorConfig]]), so ONE bounded-key count
  * aggregation (map-side combined, ≤ #distinct-lengths rows through the
  * exchange) yields the full distribution, and the quantile boundary walk
  * happens on the metadata-sized histogram driver-side. Exact, RNG-free,
  * bit-identical across engines and parallelism — the DuckDB oracle
  * replays it with the textbook window cumsum.
  */
object CorpusStats {

  /** One row per requested per-mille quantile: (q_mille, value) under the
    * type-1 (inverse-CDF) definition — the smallest length L whose
    * cumulative count reaches ⌈q·N/1000⌉. Includes n_docs on every row so
    * the result is self-describing.
    *
    * Driver-histogram bound: the round-4 version collected the FULL
    * distinct-length histogram, whose worst case is max-doc-length rows
    * (up to 10⁸ with the default 100 MB text-length cap — gigabytes on the
    * driver). Lengths are now EXACT below `exactCap` and log-bucketed above
    * it (key = 2^⌊log₂ len⌋, the bucket's lower bound), so the histogram is
    * ≤ `exactCap` + 64 rows by construction regardless of corpus tail.
    * Quantiles that land below `exactCap` — in practice all of them; p990 of
    * a crawl corpus is ~10⁴ chars — are unchanged and exact; a quantile
    * landing in the tail reports its power-of-two bucket floor (a documented
    * ≤2× value quantization, never a wrong rank). The oracle replays the
    * identical bucketing, so the check stays bit-exact.
    */
  def lengthQuantiles(
      df: DataFrame,
      textCol: String,
      qMille: Seq[Int] = Seq(500, 900, 990),
      exactCap: Long = 65536L): DataFrame = {
    require(qMille.nonEmpty && qMille.forall(q => q >= 1 && q <= 1000),
      "quantiles are per-mille in [1, 1000]")
    require(exactCap >= 1, "exactCap must be positive")
    val spark = df.sparkSession
    val hist = df
      .select(length(coalesce(col(textCol), lit(""))).cast("long").as("_rawlen"))
      // histogram key: exact length below the cap, power-of-two bucket floor
      // above it — a narrow codegen'd CASE, still one map-side-combined groupBy
      // pow/log₂ floor is exact here: 2^k is exact in double, log₂ is
      // monotone, and doc lengths are far below the 2^50 mantissa bound
      .select(when(col("_rawlen") <= exactCap, col("_rawlen"))
        .otherwise(pow(lit(2.0), floor(log(2.0, col("_rawlen")))))
        .cast("long").as("len"))
      .groupBy("len").count()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val n = hist.map(_._2).sum
    val rows = qMille.sorted.map { q =>
      // ceil(q·n/1000) in exact integer arithmetic (q·n ≤ 10³·10¹² — no overflow)
      val rank = (q.toLong * n + 999) / 1000
      var cum = 0L
      var value = if (hist.isEmpty) 0L else hist.last._1
      var i = 0
      var found = false
      while (i < hist.length && !found) {
        cum += hist(i)._2
        if (cum >= rank) { value = hist(i)._1; found = true }
        i += 1
      }
      (q.toLong, if (n == 0) 0L else value, n)
    }
    import spark.implicits._
    rows.toDF("q_mille", "len", "n_docs")
  }

  /** EXACT corpus heavy hitters — every whitespace token whose frequency
    * strictly exceeds N/`fraction` (N = total token count), with its exact
    * count. The stopword/boilerplate-vocabulary report of a crawl pipeline
    * (CCNet prunes them; Gopher's stopword gate needs them).
    *
    * Two bounded passes, no vocabulary-sized exchange (a crawl vocabulary is
    * 10⁹⁺ tokens with the junk tail — the textbook `groupBy(token)` shuffles
    * one row per distinct token):
    *  1. candidates: one [[extractous.spark.MisraGriesTokens]] aggregation —
    *     each map partition reduces to a ≤2·`fraction`-entry summary, merged
    *     on the driver side of a SinglePartition exchange (summary-sized,
    *     like the CMS/LM model builds). MG guarantees every token with
    *     frequency > N/(2·fraction+1) survives, a superset of the answer.
    *  2. verify: exact counts of ONLY the candidate tokens (literal-array
    *     `isin` filter pushed to the scan side, then a map-side-combined
    *     count whose key space is ≤ the candidate count). Tokens below the
    *     exact threshold drop here, so the output is deterministic at any
    *     parallelism even though the sketch state is not.
    *
    * N rides pass 1 as a plain `count(1)` in the same aggregate — the corpus
    * is touched exactly twice, both passes narrow until a bounded exchange.
    */
  def heavyHitters(df: DataFrame, textCol: String, fraction: Int = 100): DataFrame = {
    require(fraction >= 2, "fraction must be >= 2")
    val toks = df
      .select(explode(split(trim(coalesce(col(textCol), lit(""))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val first = toks.agg(
      extractous.spark.mg.mg_tokens(col("tok"), cap = 2 * fraction).as("cands"),
      count(lit(1)).as("n")).head()
    val cands: Seq[String] = first.getSeq[String](0)
    val n = first.getLong(1)
    if (cands.isEmpty) {
      val spark = df.sparkSession
      import spark.implicits._
      return Seq.empty[(String, Long, Long)].toDF("tok", "cnt", "n_tokens")
    }
    toks.filter(col("tok").isin(cands: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      // strict > N/fraction in exact integer arithmetic
      .filter(col("cnt") * fraction > n)
      .withColumn("n_tokens", lit(n))
  }
}
