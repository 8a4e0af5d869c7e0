package extractous.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** One-pass C4 line cleaning (Raffel et al. 2020 §2.2, the "Colossal Clean
  * Crawled Corpus" rules): keep only lines that end in a terminal punctuation
  * mark (`.` `!` `?` `"`), contain at least 3 words, and do not contain the
  * word "javascript"; report the cleaned text plus the sentence count the
  * page-level ≥5-sentence gate needs. Sentences are counted as `.` `!` `?`
  * occurrences in the KEPT lines — deterministic and mirrorable 1:1 in SQL
  * (`regexp_extract_all(clean, '[.!?]')`), unlike a tokenizer-dependent
  * sentence splitter.
  *
  * Per the repo's kernel-vs-HOF rule the line walk is a single imperative
  * pass (trim, terminal check, word count, javascript scan, sentence marks
  * in one traversal); `TextStats.c4CleanHof` keeps the HOF formulation as
  * the property-tested twin. Whitespace for the word count is the Java
  * regex `\s` class so the twin's `split(t, "\\s+")` agrees exactly.
  */
object C4Kernel {
  final val Fields: Seq[String] = Seq("clean_text", "n_sentences", "kept_lines", "total_lines")

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** SQL `trim(l)` semantics — SPACES ONLY (both Spark's and DuckDB's
    * default `trim` strip `' '` and nothing else), so the kernel, the HOF
    * twin, and the oracle judge identical line tails.
    */
  private def trimSp(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  def compute(s0: UTF8String): InternalRow = {
    val content = s0.toString
    val lines = content.split("\n", -1)
    val sb = new java.lang.StringBuilder
    var kept = 0
    var sentences = 0L
    var li = 0
    while (li < lines.length) {
      // CRLF text: '\n'-split leaves one trailing '\r' per line, which would
      // fail the terminal-punctuation gate and wrongly drop the whole page
      // (C4's splitlines treats \r\n as one break) — strip it before trimming
      val raw = lines(li)
      val noCr =
        if (raw.nonEmpty && raw.charAt(raw.length - 1) == '\r') raw.substring(0, raw.length - 1)
        else raw
      val t = trimSp(noCr)
      if (t.nonEmpty) {
        val last = t.charAt(t.length - 1)
        if (last == '.' || last == '!' || last == '?' || last == '"') {
          var words = 0
          var inWord = false
          var marks = 0L
          var jsAt = 0 // chars of "javascript" matched so far (lowercased scan)
          var hasJs = false
          var i = 0
          while (i < t.length) {
            val c = t.charAt(i)
            if (isWs(c)) inWord = false
            else { if (!inWord) words += 1; inWord = true }
            if (c == '.' || c == '!' || c == '?') marks += 1
            if (!hasJs) {
              val lc = Character.toLowerCase(c)
              // restartable scan is safe: "javascript" has no repeated prefix
              jsAt = if (lc == "javascript".charAt(jsAt)) jsAt + 1
                     else if (lc == 'j') 1 else 0
              if (jsAt == 10) hasJs = true
            }
            i += 1
          }
          if (words >= 3 && !hasJs) {
            if (kept > 0) sb.append('\n')
            sb.append(t)
            kept += 1
            sentences += marks
          }
        }
      }
      li += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), sentences, kept.toLong, lines.length.toLong))
  }
}
