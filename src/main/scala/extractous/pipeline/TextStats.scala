package extractous.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, built from
  * codegen'd `org.apache.spark.sql.functions` and `StaticInvoke` kernels
  * (no UDFs): token counting, quality scoring, stopword-based language ID,
  * and a polynomial document fingerprint. Every operator is a narrow per-row expression — no shuffle.
  */
object TextStats {

  /** Language → marker stopwords. Mirrors extractous.gen.CorpusGen.stopLine so
    * the language-ID op can recover the corpus ground truth.
    */
  val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "nicht", "das"),
    "es" -> Seq("el", "la", "los", "y", "no"),
    "fr" -> Seq("le", "la", "les", "et", "ne"),
    "zh" -> Seq("的", "了", "是", "在", "不"))

  /** Whitespace tokens, empties dropped: `trim` strips only 0x20 spaces, so
    * text leading with a tab/newline used to yield a phantom "" first token
    * (off-by-one counts, a spurious simhash vote). The filter makes the
    * count honest for any whitespace mix; the t_tokens/t_quality oracles
    * mirror the same list_filter.
    */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), w => w =!= "")

  /** The number of [[tokens]], counted in one byte pass by
    * [[extractous.spark.TextGate]]; `tokens` builds the array, and its
    * `filter` lambda is interpreted per row outside whole-stage codegen.
    */
  def tokenCount(c: Column): Column = extractous.spark.signatures.token_count(c)

  /** The `functions` formulation of [[tokenCount]] — spec-side reference for
    * the kernel's property test; not on any wired query path.
    */
  private[extractous] def tokenCountHof(c: Column): Column = size(tokens(c))

  /** Gram-family tokenization (shared by [[Dsir]] and [[LmQuality]] so the
    * convention cannot silently diverge): plain `\s+` split over the
    * trimmed text — deliberately UNFILTERED, unlike [[tokens]], because the
    * oracles mirror a bare `string_split_regex`. Null text coalesces to the
    * empty document (one "" token → no grams, score 0) so no row is ever
    * lost to a null payload.
    */
  def gramTokens(c: Column): Column = split(trim(coalesce(c, lit(""))), "\\s+")

  /** Distinct-presence stopword hits (bounded by the stop list size — robust
    * against one common word dominating).
    */
  def stopHits(toks: Column, stops: Seq[String]): Column =
    size(array_intersect(array_distinct(toks), array(stops.map(lit): _*)))

  // Language ID lives in [[LangId]] (char-n-gram Cavnar–Trenkle profiles,
  // 12 languages); the round-3 stopword-lookup predLang was removed — the
  // stop lists above remain only as the Gopher stopword gate and the
  // generator mirror.

  /** Corpus-frequency rarity report — the order-0 analog of CCNet's
    * LM-perplexity quality filter: documents dominated by corpus-rare tokens
    * are disproportionately gibberish/boilerplate-noise, documents of only
    * ultra-common tokens are template filler. Scores every document by the
    * mean INVERSE corpus frequency of its tokens.
    *
    * Determinism contract: every per-token term is floored to a LONG
    * (`floor(1e6 · total / cnt(w))` — IEEE division is correctly rounded,
    * so the floor is engine-exact) and the per-document aggregate sums
    * longs, which is order-free — unlike a float sum, whose value depends
    * on partial-aggregation order and could never hash-match an oracle.
    *
    * Scale shape: token explode is narrow; the vocabulary count aggregates
    * with map-side partial combine (the exchange carries (token, count),
    * zipf-collapsed); the count table joins back broadcast (a web-scale
    * type vocabulary of ~10⁸ rows would switch this to a shuffle join on
    * the token — same knob pattern as the robots gate); the per-doc
    * aggregate exchanges (id, partial sums) longs.
    */
  def rarityReport(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(filter(split(col(textCol), "\\s+"), w => w =!= "")).as("w"))
    val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // sum() over zero rows is NULL — an empty/whitespace-only corpus must
    // yield the all-zeros report, not a driver NPE
    val totalRow = counts.agg(sum(col("cnt"))).head
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val scored = toks.join(broadcast(counts), Seq("w"))
      .select(col("id"),
        floor(lit(1000000.0) * total / col("cnt")).cast("long").as("term"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n"), sum(col("term")).as("rarity_sum"))
    docs.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n"), lit(0L)).as("n_words"),
        coalesce(col("rarity_sum"), lit(0L)).as("rarity_sum"))
      // integral `div`, not float `/`: a double quotient of big longs would
      // lose bits past 2^53 and truncate differently than the oracle
      .withColumn("rarity_mean_x1e6", expr("rarity_sum div greatest(n_words, 1)"))
  }

  /** Punctuation character count (`.,!?;:`). */
  def punctCount(c: Column): Column = extractous.spark.signatures.punct_count(c)

  /** Simple quality gate: 5..100000 tokens, at least 20 characters, at most
    * one punctuation mark per 10 characters. Returns 1/0 (BIGINT-friendly for
    * oracles). One kernel call counts all three in one pass over the bytes:
    * as a filter it is pushed into every scan of its input, so its per-row
    * cost is paid once per scan.
    */
  def isGood(c: Column): Column = extractous.spark.signatures.is_good(c)

  /** The `functions` formulations of [[punctCount]] and [[isGood]] —
    * spec-side references for the kernel's property test; not on any wired
    * query path.
    */
  private[extractous] def punctCountHof(c: Column): Column =
    length(regexp_replace(c, "[^.,!?;:]", ""))

  private[extractous] def isGoodHof(c: Column): Column = {
    val nt = tokenCountHof(c)
    val nc = length(c)
    (nt >= 5 && nt <= 100000 && punctCountHof(c) * 10 <= nc && nc >= 20).cast("int")
  }

  /** PII scrubbing — the standard pre-training redaction pass (emails, phone
    * numbers, IPv4 addresses → typed placeholders). Pure codegen'd
    * regexp_replace chain, narrow per-row; patterns are deliberately
    * word-boundary-anchored so prose hyphens/dots don't false-positive. The
    * DuckDB oracle mirrors the same three patterns 1:1.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "(?:\\(\\d{3}\\)[ .-]?|\\b\\d{3}[ .-])\\d{3}[ .-]\\d{4}\\b"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  def scrubPii(c: Column): Column = {
    val noEmail = regexp_replace(c, EmailRe, "[EMAIL]")
    val noPhone = regexp_replace(noEmail, PhoneRe, "[PHONE]")
    regexp_replace(noPhone, Ipv4Re, "[IP]")
  }

  /** Count of PII hits by kind, for pipeline metrics (same patterns). */
  def piiCounts(c: Column): (Column, Column, Column) =
    (size(regexp_extract_all(c, lit(EmailRe), lit(0))),
     size(regexp_extract_all(regexp_replace(c, EmailRe, " "), lit(PhoneRe), lit(0))),
     size(regexp_extract_all(c, lit(Ipv4Re), lit(0))))

  /** Polynomial rolling-hash fingerprint over characters:
    * h = fold(h * 31 + codepoint) mod 1e9+7 — implementable identically in any
    * SQL engine with higher-order list functions (the DuckDB oracle mirrors
    * it with `list_reduce` over `ascii(substr(c, i, 1))`).
    *
    * Implementation is the imperative one-pass
    * [[extractous.spark.FingerprintHash]]: the earlier HOF formulation
    * (`aggregate(transform(sequence(1, length(c)), i -> ascii(substr(c, i,
    * 1))), ...)`) was O(n²) per row — each `substr(i, 1)` scans the
    * UTF8String from the start — which is fatal on real 20–100 KB pages
    * because this fingerprint keys [[Sampling.split]]. Same polynomial, same
    * codepoint iteration, so every oracle mirror is unchanged.
    */
  val FingerprintMod = 1000000007L
  def fingerprint(c: Column): Column = extractous.spark.signatures.poly_fingerprint(c)

  /** Gopher-style document quality report (Rae et al. 2021 §A1.1 heuristics,
    * the standard crawl-corpus quality gate): word-count bounds, mean word
    * length, symbol-to-word ratio (# and ellipsis), bullet-/ellipsis-line
    * fractions, within-document duplicate-line fractions (by line count AND
    * by character mass), alphabetic-word fraction, and stopword presence.
    *
    * Everything is codegen'd higher-order functions over the split arrays —
    * narrow per-row, no shuffle, no UDFs — and every signal is emitted as an
    * INTEGER (×100/×1000 fixed-point) so a SQL oracle can reproduce it
    * bit-exactly. CJK codepoints count as alphabetic (the English-only
    * original would fail every zh document on alpha-fraction alone; with CJK
    * counted, zh documents instead fail on the English stopword gate —
    * which IS Gopher's documented behavior).
    */
  /** Character-distribution entropy in ⅓-bit fixed point — the
    * information-theoretic gibberish signal ([[extractous.spark.EntropyKernel]]):
    * ent_mean_x3 ≈ 3·H bits/char (prose ≈ 12–13, one-char spam = 0, random
    * bytes ≈ 24). Null ≡ empty; one imperative pass, narrow, replayed 1:1
    * by the DuckDB oracle.
    */
  def entropyReport(content: Column): Seq[(String, Column)] = {
    val r = extractous.spark.entropy.char_entropy(coalesce(content, lit("")))
    extractous.spark.EntropyKernel.Fields.map(f => f -> r.getField(f))
  }

  /** Crawl-text normalization ([[extractous.spark.NormalizeKernel]]):
    * NFC, typographic-punctuation folding, invisible-char removal,
    * whitespace canonicalization — the pass CCNet/C4 assume upstream of
    * their gates. Returns (clean, n_in, n_out) codepoint-counted; null ≡
    * empty; one imperative pass, narrow, replayed 1:1 by the DuckDB
    * oracle's nfc_normalize + replace + regexp_replace chain.
    */
  def normalizeReport(content: Column): Seq[(String, Column)] = {
    val r = extractous.spark.normalize.normalize_text(coalesce(content, lit("")))
    extractous.spark.NormalizeKernel.Fields.map(f => f -> r.getField(f))
  }

  /** ONE-SCAN fused quality projection: language id, token count, Gopher
    * gates, C4 gates and character entropy emitted from a single narrow
    * projection — the shape a d_corpus-style composition should use instead
    * of one scan per signal. Every constituent is an imperative codegen'd
    * kernel, so the whole report stays inside one WholeStageCodegen span
    * over one file scan (plan-asserted in SparkPlanSpec); at 100 TB that
    * turns k quality signals from k corpus scans into one. Individual
    * reports (and their DuckDB oracles) are unchanged — this is a
    * composition helper, not a new semantic.
    */
  def fusedQualityReport(content: Column, minWords: Int = 50): Seq[(String, Column)] =
    // token count rides along as gopher's n_words
    Seq("pred_lang" -> LangId.predict(coalesce(content, lit("")))) ++
      gopherReport(content, minWords) ++ c4Report(content) ++ entropyReport(content)

  def gopherReport(content: Column, minWords: Int = 50): Seq[(String, Column)] = {
    // One imperative pass ([[extractous.spark.GopherKernel]]) — the HOF
    // formulation below re-scans the document ~15 times (two tokenizations,
    // several whole-string regexp passes, per-line filters), a real linear
    // constant at 20–100 KB/page. Identical fixed-point arithmetic
    // (QualitySpec property-tests the equality against the HOF twin); the
    // DuckDB oracle is unchanged.
    val r = extractous.spark.signatures.gopher_report(content, minWords)
    extractous.spark.GopherKernel.Fields.map(f => f -> r.getField(f))
  }

  /** The original HOF formulation — spec-side reference for the kernel's
    * property test; not on any wired query path.
    */
  private[extractous] def gopherReportHof(content: Column, minWords: Int = 50): Seq[(String, Column)] = {
    val lines = split(content, "\n")
    val nLines = size(lines)
    val words = filter(split(content, "\\s+"), w => w =!= "")
    val nWords = size(words)
    // Denominator guard: an empty/whitespace-only document (e.g. a failed
    // extraction row) has nWords = 0; an unguarded divide makes the ratios
    // NaN and floor(NaN).cast("long") is a TASK FAILURE under ANSI mode —
    // forbidden by the accounting contract (a poison row must never kill the
    // job). The pass gate already excludes n_words < minWords, so the
    // clamped values for zero-word docs are immaterial. The DuckDB oracle
    // mirrors the same greatest(n_words, 1) guard.
    val nWordsD = greatest(nWords, lit(1))
    val sumWordLen = aggregate(words, lit(0), (a, w) => a + length(w))
    val meanWordLen = floor(lit(100.0) * sumWordLen / nWordsD).cast("long")
    val nHash = length(content) - length(regexp_replace(content, "#", ""))
    val nEll = (length(content) - length(regexp_replace(content, "\\.\\.\\.", ""))) / 3 +
      (length(content) - length(regexp_replace(content, "…", "")))
    val symbolRatio = floor(lit(1000.0) * (nHash + nEll) / nWordsD).cast("long")
    val nBullet = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
    val bulletFrac = floor(lit(1000.0) * nBullet / nLines).cast("long")
    val nEllLine = size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
    val ellipsisFrac = floor(lit(1000.0) * nEllLine / nLines).cast("long")
    val distinctLines = array_distinct(lines)
    val dupLineFrac = floor(lit(1000.0) * (nLines - size(distinctLines)) / nLines).cast("long")
    val charsAll = aggregate(lines, lit(0), (a, l) => a + length(l))
    val charsDistinct = aggregate(distinctLines, lit(0), (a, l) => a + length(l))
    val dupCharFrac = floor(lit(1000.0) * (charsAll - charsDistinct) / greatest(charsAll, lit(1))).cast("long")
    val nAlpha = size(filter(words, w => w.rlike("[a-zA-Z一-鿿]")))
    val alphaFrac = floor(lit(1000.0) * nAlpha / nWordsD).cast("long")
    val stops = stopHits(words, langStops.head._2) // English gate, as in the paper
    val pass = (nWords >= minWords && nWords <= 100000 &&
      meanWordLen >= 300 && meanWordLen <= 1000 &&
      symbolRatio <= 100 && bulletFrac <= 900 && ellipsisFrac <= 300 &&
      dupLineFrac <= 300 && dupCharFrac <= 200 &&
      alphaFrac >= 800 && stops >= 2).cast("long")
    Seq(
      "n_words" -> nWords.cast("long"),
      "mean_word_len_x100" -> meanWordLen,
      "symbol_ratio_x1000" -> symbolRatio,
      "bullet_frac_x1000" -> bulletFrac,
      "ellipsis_frac_x1000" -> ellipsisFrac,
      "dup_line_frac_x1000" -> dupLineFrac,
      "dup_char_frac_x1000" -> dupCharFrac,
      "alpha_frac_x1000" -> alphaFrac,
      "stop_hits" -> stops.cast("long"),
      "gopher_pass" -> pass)
  }

  /** C4 cleaning + page gate (Raffel et al. 2020 §2.2), the OTHER standard
    * published crawl-cleaning recipe next to Gopher: line-level, keep only
    * lines ending in terminal punctuation with ≥3 words and no "javascript"
    * (one imperative pass, [[extractous.spark.C4Kernel]]); page-level,
    * drop pages with <5 sentences, any "lorem ipsum", any `{`, or any word
    * from the blocklist (C4 uses the LDNOOBW list; it ships as a literal
    * regex alternation — metadata-sized, zero joins, same posture as the
    * UT1 domain blocklist). Emits `clean_text` (what survives) plus the
    * integer signals so a SQL oracle replays the gate bit-exactly.
    */
  def c4Report(content: Column, badwords: Seq[String] = Seq("casino", "viagra", "jackpot")): Seq[(String, Column)] = {
    val r = extractous.spark.signatures.c4_clean(content)
    val sentences = r.getField("n_sentences")
    val badRe = "\\b(" + badwords.map(extractous.text.Normalize.lowerAscii).mkString("|") + ")\\b"
    val pass = (sentences >= 5 &&
      !lower(content).contains("lorem ipsum") &&
      !content.contains("{") &&
      !lower(content).rlike(badRe)).cast("long")
    extractous.spark.C4Kernel.Fields.map(f => f -> r.getField(f)) :+ ("c4_pass" -> pass)
  }

  /** HOF twin of the C4 line cleaner — spec-side reference for the kernel's
    * property test; not on any wired query path.
    */
  private[extractous] def c4CleanHof(content: Column): Seq[(String, Column)] = {
    val kept = filter(transform(split(content, "\r?\n", -1), l => trim(l)), t =>
      t.rlike("[.!?\"]$") &&
        size(filter(split(t, "\\s+"), w => w =!= "")) >= 3 &&
        !lower(t).contains("javascript"))
    val clean = array_join(kept, "\n")
    Seq(
      "clean_text" -> clean,
      "n_sentences" -> size(regexp_extract_all(clean, lit("[.!?]"), lit(0))).cast("long"),
      "kept_lines" -> size(kept).cast("long"),
      "total_lines" -> size(split(content, "\n", -1)).cast("long"))
  }

  /** Top-2-gram repetition (the remaining Gopher §A1.1 repetition signal:
    * "fraction of [grams] in the most common n-gram").
    *
    * The textbook implementation explodes every document's 2-grams and
    * groupBys (doc_id, gram) — at 10^12 documents that shuffle carries ~10^14
    * gram rows, dominated by keys that never leave their document. This one
    * never shuffles: one imperative per-row pass
    * ([[extractous.spark.Top2GramHash]]: hash tokens, sort the long[] of
    * adjacent-pair hashes, run-length scan — O(g log g), zero allocation
    * beyond two primitive arrays). It replaced the HOF formulation
    * (gram-string `array_sort` + struct-accumulator `aggregate`) whose
    * constant was ~20× the neighboring quality signals. The DuckDB oracle
    * deliberately uses the explode+group formulation, so the scan-based plan
    * is verified against the obviously-correct one.
    */
  def repetitionReport(content: Column): Seq[(String, Column)] = {
    val r = extractous.spark.signatures.top2gram(content)
    Seq(
      "n_2grams" -> r.getField("n_2grams"),
      "top2_count" -> r.getField("top2_count"),
      "top2_frac_x1000" -> r.getField("top2_frac_x1000"))
  }
}
