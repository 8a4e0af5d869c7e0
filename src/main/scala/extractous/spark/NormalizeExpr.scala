package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Crawl-text normalization — the cleanup pass every web corpus runs
  * between extraction and the quality gates (CCNet/C4 both assume it):
  * Unicode NFC, typographic-punctuation folding, invisible-character
  * removal, and whitespace canonicalization, in one deterministic pass.
  *
  * The transform is defined as an ordered rewrite chain so the DuckDB
  * oracle can replay it 1:1 with `nfc_normalize` + `replace` +
  * `regexp_replace` (and the spec cross-checks the imperative machine
  * against that exact regex chain in plain Scala):
  *
  *   1. NFC-normalize (combining sequences → precomposed).
  *   2. CRLF → LF, lone CR → LF.
  *   3. Drop zero-widths (U+200B..200D, U+FEFF) and soft hyphen (U+00AD).
  *   4. Unicode spaces (NBSP, U+1680, U+2000..200A, U+202F, U+205F,
  *      U+3000) → ASCII space.
  *   5. Curly quotes → `'`/`"`, en/em/horizontal-bar dashes → `-`,
  *      ellipsis → `...`.
  *   6. Drop remaining C0 controls (except TAB/LF) and DEL.
  *   7. Collapse `[ \t]+` → one space; drop spaces adjacent to LF;
  *      cap LF runs at 2 (paragraph break); trim outer spaces/LFs.
  *
  * Steps 2–7 are a single whitespace state machine over the NFC string —
  * no intermediate strings, no regex on the hot path. Mapping characters
  * are all BMP, so surrogate pairs stream through untouched (and count as
  * one codepoint, matching DuckDB `length`).
  */
object NormalizeKernel {
  final val Fields: Seq[String] = Seq("clean", "n_in", "n_out")

  /** The step-3/4/5 single-char rewrites, exposed so the oracle-SQL
    * builder and the spec reference derive from the same table.
    * (to == "" means drop; the ellipsis expands to three dots.)
    */
  final val CharMap: Seq[(Char, String)] = {
    // zero-widths + ZWNBSP/BOM + soft hyphen: drop
    val drop = Seq(0x200B, 0x200C, 0x200D, 0xFEFF, 0x00AD)
    // Unicode spaces (NBSP, OGHAM, NNBSP, MMSP, IDEOGRAPHIC, EN..HAIR) -> ASCII space
    val spaces = Seq(0x00A0, 0x1680, 0x202F, 0x205F, 0x3000) ++ (0x2000 to 0x200A)
    val punct = Seq(
      0x2018 -> "'", 0x2019 -> "'", 0x201A -> "'", 0x201B -> "'",
      0x201C -> "\"", 0x201D -> "\"", 0x201E -> "\"", 0x201F -> "\"",
      0x2013 -> "-", 0x2014 -> "-", 0x2015 -> "-",
      0x2026 -> "...")
    drop.map(_.toChar -> "") ++ spaces.map(_.toChar -> " ") ++
      punct.map { case (cp, to) => cp.toChar -> to }
  }

  private val mapLo: Int = CharMap.map(_._1.toInt).min
  private val mapHi: Int = CharMap.map(_._1.toInt).max
  private val mapTable: Array[String] = {
    val t = new Array[String](mapHi - mapLo + 1)
    CharMap.foreach { case (c, to) => t(c.toInt - mapLo) = to }
    t
  }

  def compute(s: UTF8String): InternalRow = {
    val nIn = s.numChars().toLong
    val nfc = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var pendingSpace = false
    var pendingNl = 0
    def flushPendings(): Unit = {
      if (sb.length > 0) {
        if (pendingNl > 0) sb.append(if (pendingNl > 1) "\n\n" else "\n")
        else if (pendingSpace) sb.append(' ')
      }
      pendingSpace = false; pendingNl = 0
    }
    var i = 0
    while (i < nfc.length) {
      var c = nfc.charAt(i)
      var mapped: String = null
      if (c == '\r') {
        if (i + 1 < nfc.length && nfc.charAt(i + 1) == '\n') i += 1
        c = '\n'
      } else if (c.toInt >= mapLo && c.toInt <= mapHi) {
        mapped = mapTable(c.toInt - mapLo)
      }
      if (mapped != null && mapped.length != 1) {
        // drop ("") or the "..." expansion — the expansion is
        // non-whitespace, so it flushes pendings like a plain char
        if (mapped.length > 1) { flushPendings(); sb.append(mapped) }
      } else {
        if (mapped != null) c = mapped.charAt(0)
        if (c == '\n') { pendingNl += 1; pendingSpace = false }
        else if (c == ' ' || c == '\t') pendingSpace = true
        else if (c < ' ' || c.toInt == 0x7F) { /* C0 control / DEL: drop */ }
        else { flushPendings(); sb.append(c) }
      }
      i += 1
    }
    val out = UTF8String.fromString(sb.toString)
    new GenericInternalRow(Array[Any](out, nIn, out.numChars().toLong))
  }
}

object normalize {
  /** `normalize_text(text)` → struct(clean, n_in, n_out). */
  def normalize_text(text: Column): Column =
    ColumnBridge.invoke(NormalizeKernel, "compute", StructType(Seq(
      StructField("clean", StringType, nullable = false),
      StructField("n_in", LongType, nullable = false),
      StructField("n_out", LongType, nullable = false))))(text)
}
