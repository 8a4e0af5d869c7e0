package extractous.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** One-pass Gopher quality report (Rae et al. 2021 §A1.1). The HOF
  * formulation (kept as `TextStats.gopherReportHof`, property-tested
  * equal) re-scans the document ~15 times — two tokenizations, several
  * whole-string `regexp_replace` passes, per-line HOF filters, an
  * `array_distinct` — a ~15× linear constant on every document of a
  * 10^12-row corpus. This kernel computes all ten fixed-point signals in
  * two passes (line walk + word walk) with exactly the same arithmetic the
  * DuckDB oracle replays; all lengths are CODEPOINT counts (what both
  * Spark's and DuckDB's `length` return).
  */
object GopherKernel {
  final val Fields: Seq[String] = Seq(
    "n_words", "mean_word_len_x100", "symbol_ratio_x1000", "bullet_frac_x1000",
    "ellipsis_frac_x1000", "dup_line_frac_x1000", "dup_char_frac_x1000",
    "alpha_frac_x1000", "stop_hits", "gopher_pass")

  private val Stops = Array("the", "and", "of", "to", "in")

  @inline private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Greedy left-to-right non-overlapping "..." occurrences — the exact
    * count `regexp_replace(content, "\.\.\.", "")` removes.
    */
  private def tripleDots(s: String): Int = {
    var n = 0
    var i = 0
    while (i + 2 < s.length) {
      if (s.charAt(i) == '.' && s.charAt(i + 1) == '.' && s.charAt(i + 2) == '.') { n += 1; i += 3 }
      else i += 1
    }
    n
  }

  def compute(s0: UTF8String, minWords: Int): InternalRow = {
    val content = s0.toString
    // ---- line pass ----
    val lines = content.split("\n", -1)
    val nLines = lines.length
    var nBullet = 0
    var nEllLine = 0
    var charsAll = 0L
    var charsDistinct = 0L
    val seenLines = new java.util.HashSet[String]()
    var li = 0
    while (li < lines.length) {
      val l = lines(li)
      if (l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")) nBullet += 1
      if (l.endsWith("...") || l.endsWith("…")) nEllLine += 1
      val cl = cpLen(l)
      charsAll += cl
      if (seenLines.add(l)) charsDistinct += cl
      li += 1
    }
    val nDistinctLines = seenLines.size
    // ---- word pass ----
    val toks = content.split("\\s+", -1)
    var nWords = 0
    var sumWordLen = 0L
    var nAlpha = 0
    var stopMask = 0
    var ti = 0
    while (ti < toks.length) {
      val w = toks(ti)
      if (w.nonEmpty) {
        nWords += 1
        sumWordLen += cpLen(w)
        var alpha = false
        var ci = 0
        while (!alpha && ci < w.length) {
          val c = w.charAt(ci)
          if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
              (c >= '一' && c <= '鿿')) alpha = true
          ci += 1
        }
        if (alpha) nAlpha += 1
        var si = 0
        while (si < Stops.length) {
          if ((stopMask & (1 << si)) == 0 && w == Stops(si)) stopMask |= (1 << si)
          si += 1
        }
      }
      ti += 1
    }
    val stops = java.lang.Integer.bitCount(stopMask)
    // ---- symbol counts (char pass over content) ----
    var nHashC = 0L
    var nHellip = 0L
    var ci = 0
    while (ci < content.length) {
      val c = content.charAt(ci)
      if (c == '#') nHashC += 1
      else if (c == '…') nHellip += 1
      ci += 1
    }
    val nEll = tripleDots(content) + nHellip
    val nWordsD = math.max(nWords, 1)
    val meanWordLen = math.floor(100.0 * sumWordLen / nWordsD).toLong
    val symbolRatio = math.floor(1000.0 * (nHashC + nEll) / nWordsD).toLong
    val bulletFrac = math.floor(1000.0 * nBullet / nLines).toLong
    val ellipsisFrac = math.floor(1000.0 * nEllLine / nLines).toLong
    val dupLineFrac = math.floor(1000.0 * (nLines - nDistinctLines) / nLines).toLong
    val dupCharFrac = math.floor(1000.0 * (charsAll - charsDistinct) / math.max(charsAll, 1L)).toLong
    val alphaFrac = math.floor(1000.0 * nAlpha / nWordsD).toLong
    val pass =
      if (nWords >= minWords && nWords <= 100000 &&
          meanWordLen >= 300 && meanWordLen <= 1000 &&
          symbolRatio <= 100 && bulletFrac <= 900 && ellipsisFrac <= 300 &&
          dupLineFrac <= 300 && dupCharFrac <= 200 &&
          alphaFrac >= 800 && stops >= 2) 1L else 0L
    new GenericInternalRow(Array[Any](nWords.toLong, meanWordLen, symbolRatio,
      bulletFrac, ellipsisFrac, dupLineFrac, dupCharFrac, alphaFrac, stops.toLong, pass))
  }
}
