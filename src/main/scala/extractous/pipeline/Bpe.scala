package extractous.pipeline

import org.apache.spark.sql.Column

/** Deterministic byte-pair-encoding token counting — training-data budgets
  * are denominated in SUBWORD tokens, not whitespace words, so the pipeline's
  * token accounting has to speak BPE (Sennrich et al. 2016, arXiv 1508.07909;
  * the GPT-2-style no-end-of-word-marker variant).
  *
  * The merges table is trained ONCE at class load from the corpus
  * generator's closed 31-word vocabulary and frozen as model data (the same
  * ship-the-model pattern as the IVF centroids and the language-ID
  * profiles) — no external tokenizer files, fully deterministic: pair
  * counts tie-break lexicographically, training runs until every vocabulary
  * word is a single token (asserted in PipelineSpec). Counting is one
  * imperative narrow pass per row ([[extractous.spark.signatures.bpe_count]]).
  *
  * Closed-form behavior the oracle leans on: in-vocab words cost exactly 1
  * token; words over characters unseen in training (digits) can never merge
  * and cost one token per character; a vocab word with an unseen suffix
  * ("query7") segments to prefix+suffix — the learned "query" merges apply
  * to the prefix regardless of context, and the (y,7) pair was never
  * learned.
  */
object Bpe {
  def countTokens(c: Column): Column = extractous.spark.signatures.bpe_count(c)
}

object BpeModel {
  /** The generator's closed vocabulary (every `documents.text` word at every
    * SF — verified against the driver parquet); uniform weight.
    */
  val trainWords: Vector[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Learned merges in priority order. Training: count adjacent symbol
    * pairs across all words, merge the most frequent (ties: lexicographic
    * pair), repeat until no pairs remain — i.e. every training word is one
    * symbol. ~130 merges for this vocabulary.
    */
  val merges: Vector[(String, String)] = {
    var words: Vector[Vector[String]] = trainWords.map(_.map(_.toString).toVector)
    val out = Vector.newBuilder[(String, String)]
    var remaining = true
    while (remaining) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Int]
      words.foreach { w =>
        var i = 0
        while (i + 1 < w.length) {
          counts.updateWith((w(i), w(i + 1)))(c => Some(c.getOrElse(0) + 1))
          i += 1
        }
      }
      if (counts.isEmpty) remaining = false
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += best
        words = words.map(mergeOnce(_, best))
      }
    }
    out.result()
  }

  /** pair → merge priority (lower merges first) */
  val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap

  /** Replace every adjacent occurrence of `pair`, left to right ("aaa" with
    * pair (a,a) → ("aa","a")).
    */
  def mergeOnce(w: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      if (i + 1 < w.length && w(i) == pair._1 && w(i + 1) == pair._2) {
        out += (w(i) + w(i + 1)); i += 2
      } else { out += w(i); i += 1 }
    }
    out.result()
  }

  /** Standard BPE apply: repeatedly merge the lowest-rank pair present. */
  def segment(word: String): Vector[String] = {
    var syms = word.map(_.toString).toVector
    var go = syms.length > 1
    while (go) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var i = 0
      while (i + 1 < syms.length) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (bestPair == null) go = false
      else syms = mergeOnce(syms, bestPair)
    }
    syms
  }

  def tokenCount(word: String): Int = if (word.isEmpty) 0 else segment(word).length

  /** Static entry point referenced by generated code: whitespace-split (the
    * pipeline's standard `\s+` tokenizer), sum of per-word BPE counts.
    */
  def countTokens(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val toks = s.toString.split("\\s+", -1)
    var total = 0L
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) total += tokenCount(toks(i))
      i += 1
    }
    total
  }
}
