package extractous.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword retrieval over the corpus — BM25 (Robertson/Spärck Jones), the
  * lexical complement of the vector family ([[Similarity]]): "which
  * documents best match these query terms" without an embedding model.
  *
  * Exact fixed-point arithmetic so the DuckDB oracle replays every score
  * bit-for-bit (no float logs cross an engine boundary):
  *
  *   - IDF in ⅓-bit units via the repo's saturating integer log
  *     (L(x) ≈ 3·log₂(x+1), exact highest-set-bit of min(x+1,2¹⁷)³):
  *     idf_t = L(N) − L(df_t) ≥ 0.
  *   - TF normalization with k1 = 1.2, b = 0.75 cleared to integers by
  *     multiplying through by 10·avgdl (avgdl itself floored to whole
  *     tokens — the ranking is insensitive to sub-token precision):
  *     tfn_x1000 = (22000·tf·avgdl) // (10·tf·avgdl + 3·avgdl + 9·dl),
  *     score = Σ_t idf_t · tfn_x1000 — one integer division per term,
  *     identical in both engines.
  *
  * Plan shape at corpus scale: pass 1 streams the corpus into a single
  * stats row (N, Σdl, df per term — all from the one-pass
  * [[extractous.spark.TermFreqsKernel]] projection, map-side combined);
  * pass 2 re-streams the same narrow projection, broadcast-joins the one
  * stats row, filters to documents containing ≥1 query term map-side, and
  * TakeOrdered merges per-partition top-k heaps. Nothing document-sized
  * ever shuffles; the only wide movement is k rows per partition.
  */
object Retrieval {

  /** ⅓-bit saturating log as a Column: floor(log2(min(x+1,2^17)^3)).
    * min(x+1,2^17)^3 ≤ 2^51 is exactly representable, and log2 lands on an
    * integer only at exact powers of two, so floor is ulp-safe in both
    * engines (same argument as the t_entropy oracle).
    */
  private def flog2cube(x: Column): Column = {
    val m = least(x + lit(1L), lit(131072L)).cast("double")
    floor(log(2.0, m * m * m)).cast("long")
  }

  /** Top-k documents by BM25 over `terms`: (idCol, dl, score_x1000),
    * score descending, id ascending on ties.
    */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
           terms: Seq[String], k: Int = 10): DataFrame = {
    val tf = extractous.spark.retrieval.term_freqs(coalesce(col(textCol), lit("")), terms)
    // localCheckpoint: both passes consume the same ~(8+8+8·|terms|)-byte
    // per-doc projection; materializing it once means the term_freqs text
    // scan runs ONCE instead of twice (eager, per-invocation — nothing
    // persists across runs)
    val base = docs.select(col(idCol),
      tf.getField("dl").as("dl"), tf.getField("tfs").as("tfs"))
      .localCheckpoint(true)

    // pass 1: one stats row — N, total tokens, per-term document frequency
    val dfAggs = terms.indices.map(i =>
      sum(when(col("tfs")(i) > 0, lit(1L)).otherwise(lit(0L))).as(s"df_$i"))
    val statAggs = count(lit(1L)).as("n") +: sum(col("dl")).as("a") +: dfAggs
    val stats = base.agg(statAggs.head, statAggs.tail: _*)

    // pass 2: score matching docs against the broadcast stats row
    val anyHit = terms.indices.map(i => col("tfs")(i) > 0).reduce(_ || _)
    val scored = base.where(anyHit).join(broadcast(stats))
    val av = greatest(floor(col("a").cast("double") / greatest(col("n"), lit(1L)).cast("double")).cast("long"), lit(1L))
    val score = terms.indices.map { i =>
      val tfi = col("tfs")(i)
      val idf = flog2cube(col("n")) - flog2cube(col(s"df_$i"))
      // tfn_x1000 = (22000·tf·avgdl) ÷ (10·tf·avgdl + 3·avgdl + 9·dl),
      // the inner division FIRST so every intermediate stays ≤ ~2^49 even
      // for megatoken documents; (x − x mod d)/d is exact integer division
      // (the double quotient is a representable integer ≤ 2200), mirrored
      // by DuckDB's // on BIGINT
      val num = lit(22000L) * tfi * av
      val den = lit(10L) * tfi * av + lit(3L) * av + lit(9L) * col("dl")
      idf * ((num - pmod(num, den)) / den).cast("long")
    }.reduce(_ + _).cast("long").as("score_x1000")
    scored.select(col(idCol), col("dl"), score)
      .orderBy(col("score_x1000").desc, col(idCol))
      .limit(k)
  }

  /** HOF twin of the kernel for the property spec: same (dl, tf) counts
    * from Column-function tokenization.
    */
  private[extractous] def termFreqsHof(c: Column, terms: Seq[String]): Seq[Column] =
    TextStats.tokenCountHof(c).cast("long") +:
      terms.map(t => size(filter(TextStats.tokens(c), w => w === t)).cast("long"))
}
