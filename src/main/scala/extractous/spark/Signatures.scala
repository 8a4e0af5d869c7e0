package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Imperative signature kernels for the dedup family.
  *
  * The composed higher-order-function formulation (`transform`/`array_min` per
  * permutation) is interpreted per element and allocates one intermediate
  * array per permutation per row — measured ~10s for 5k docs. These
  * kernels do one tight pass per row with zero intermediate allocation
  * (SURVEY.md §2.2: custom Catalyst `Expression` beats HOF composition beats
  * UDF). Same hash family (splitmix64-derived coefficients, 32-bit hash space
  * mod a >2^32 prime), so LSH behavior is unchanged.
  */
object SignatureHash {
  final val Prime = 4294967311L // smallest prime > 2^32

  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic 64-bit hash of a UTF8 byte slice (FNV-1a + finalizer). */
  @inline def hashBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    mix(h)
  }

  def coeffs(numHashes: Int): (Array[Long], Array[Long]) = {
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      a(j) = (mix(j.toLong * 2 + 1) & 0x7fffffffL) | 1L
      b(j) = mix(j.toLong * 2 + 2) & 0x7fffffffL
      j += 1
    }
    (a, b)
  }
}

/** array<string> shingles → array<bigint> minhash signature. Coefficient
  * arrays are cached per numHashes (executor-wide, deterministic).
  */
object MinHashSig {
  import SignatureHash._
  private val coeffCache = new java.util.concurrent.ConcurrentHashMap[Integer, (Array[Long], Array[Long])]()

  def compute(arr: ArrayData, numHashes: Int): ArrayData = {
    val (ca, cb) = coeffCache.computeIfAbsent(numHashes, n => coeffs(n))
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (arr != null) {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val h = hashBytes(arr.getUTF8String(i).getBytes) & 0xffffffffL
        var j = 0
        while (j < numHashes) {
          val v = (h * ca(j) + cb(j)) % Prime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/** array<string> tokens → 64-bit simhash fingerprint.
  *
  * Token hash = two independent polynomial rolling hashes over codepoints
  * (h1 = fold(a·31 + cp) mod 1e9+7, h2 = fold(a·37 + cp) mod 1e9+9) packed as
  * h1·2³² + h2 — deliberately expressible in ANSI SQL (`ascii`/`substr`/
  * `list_reduce`), so the ENTIRE simhash pipeline mirrors into the DuckDB
  * oracle (the earlier FNV-mix hash was opaque to SQL and left d_simhash
  * unverifiable). 62 effective bits (h1 < 2³⁰); bits 62-63 vote all-negative
  * and stay 0 on both engines.
  */
object SimHashExpr {
  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    if (arr != null) {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val h = sqlTokenHash(arr.getUTF8String(i).toString)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) != 0L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
        i += 1
      }
    }
    var fp = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) fp |= (1L << bit)
      bit += 1
    }
    fp
  }

  /** SQL-twin token hash: iterate CODEPOINTS (what SQL `ascii(substr(t,i,1))`
    * yields per character), two polynomial folds, pack into one long.
    */
  def sqlTokenHash(s: String): Long = {
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h1 = (h1 * 31 + cp) % 1000000007L
      h2 = (h2 * 37 + cp) % 1000000009L
      i += Character.charCount(cp)
    }
    h1 * 4294967296L + h2
  }
}

/** One-pass polynomial fingerprint: h = fold(h·31 + codepoint) mod 1e9+7.
  *
  * Semantics are IDENTICAL to the SQL formulation
  * `aggregate(transform(sequence(1, length(c)), i -> ascii(substr(c, i, 1))), ...)`
  * that the DuckDB oracles for `t_fingerprint` / `d_split` replay — both fold
  * the same polynomial over Unicode CODEPOINTS — but the HOF formulation is
  * O(n²) per row: every `substr(i, 1)` scans the UTF8String from the start to
  * find codepoint i, plus an n-element int array per row. On the oracle's
  * ~0.3 KB seeds that is invisible; on real 20–100 KB pages it is the per-row
  * scale-killer for the content-keyed train/val/test splitter
  * (`Sampling.split`). This kernel decodes the UTF-8 bytes once —
  * O(n), zero allocation.
  */
object FingerprintHash {
  final val Mod = 1000000007L

  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = 0
      var len = 1
      if (b0 < 0x80) cp = b0
      else if ((b0 & 0xe0) == 0xc0) { cp = b0 & 0x1f; len = 2 }
      else if ((b0 & 0xf0) == 0xe0) { cp = b0 & 0x0f; len = 3 }
      else { cp = b0 & 0x07; len = 4 }
      var k = 1
      while (k < len && i + k < bytes.length) {
        cp = (cp << 6) | (bytes(i + k) & 0x3f)
        k += 1
      }
      h = (h * 31 + cp) % Mod
      i += len
    }
    h
  }
}

/** One-pass top-2-gram repetition scan (Gopher §A1.1 "fraction of 2-grams in
  * the most common 2-gram").
  *
  * Tokenize on `\s+` (exact `String.split` semantics — what Spark's `split`
  * and the oracle's `regexp_split_to_array` produce), hash each token to 64
  * bits, combine adjacent pairs into one order-sensitive gram hash, sort the
  * long[] and run-length-scan for the longest run. Replaces the HOF
  * formulation (gram-string materialization + `array_sort` + struct-valued
  * `aggregate` allocating a row per step) whose constant was ~20× the
  * neighboring quality signals — same precedent as [[MinHashSig]]. Gram
  * equality is by 64-bit hash: two DISTINCT grams colliding within one
  * document (≈ g²/2⁶⁵, vanishing at any real document size) is the accepted
  * trade the VERDICT endorses; equal grams always collide, so the top count
  * can only theoretically merge runs, never split them.
  *
  * Returns struct(n_2grams, top2_count, top2_frac_x1000) — the frac is
  * computed inside the kernel with the same double arithmetic as the
  * oracle's `floor(1000.0 * topc / greatest(n2, 1))`, so one pass yields all
  * three columns.
  */
object Top2GramHash {
  // hoisted: String.split("\s+") re-compiles the Pattern on every call —
  // a per-row cost on exactly the hot kernel this object exists to speed up
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def compute(s: UTF8String): InternalRow = {
    val toks0 = Ws.split(s.toString, -1)
    var nTok = 0
    var t = 0
    while (t < toks0.length) { if (toks0(t).nonEmpty) nTok += 1; t += 1 }
    if (nTok < 2) return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val hs = new Array[Long](nTok)
    var j = 0
    t = 0
    while (t < toks0.length) {
      if (toks0(t).nonEmpty) {
        hs(j) = SignatureHash.hashBytes(toks0(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        j += 1
      }
      t += 1
    }
    val g = nTok - 1
    val grams = new Array[Long](g)
    var i = 0
    while (i < g) {
      grams(i) = SignatureHash.mix(hs(i) * 0x100000001b3L + hs(i + 1))
      i += 1
    }
    java.util.Arrays.sort(grams)
    var best = 1
    var run = 1
    i = 1
    while (i < g) {
      if (grams(i) == grams(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1
      i += 1
    }
    val frac = math.floor(1000.0 * best / g).toLong
    new GenericInternalRow(Array[Any](g.toLong, best.toLong, frac))
  }
}

/** Positional word-n-gram keys over normalized tokens — the shared kernel of
  * decontamination and substring dedup. Bit-identical to the HOF
  * formulation it replaced (`transform(normTokens, xxhash64)` +
  * `aggregate(slice(...))` rotate-XOR combine — kept as the spec-side
  * reference in `Decontam.ngramKeysHof`): same Spark `lower`
  * (UTF8String.toLowerCase), same `[^a-z0-9一-鿿]+` split, same
  * seed-42 xxhash64 per token, same rot21-XOR combine. One pass, one token
  * hash each, no per-gram slice allocation — the HOF version cost ~38 µs
  * PER GRAM (interpreted lambda per element), which made the substring
  * dedup's gram stage the slowest headline query.
  */
object NgramKeys {
  private val SplitRe = java.util.regex.Pattern.compile("[^a-z0-9\\u4e00-\\u9fff]+")
  final val Seed = 1125899906842597L

  @inline private def rot21(x: Long): Long = (x << 21) | (x >>> 43)

  /** The pipeline's shared normalization: Spark `lower` + split on
    * non-alphanumerics, empties dropped. Gram positions, decontamination
    * keys, and span cutting must all index the SAME token stream.
    */
  def normTokens(s: UTF8String): Array[String] = {
    val toks0 = SplitRe.split(s.toLowerCase.toString, -1)
    var nTok = 0
    var i = 0
    while (i < toks0.length) { if (toks0(i).nonEmpty) nTok += 1; i += 1 }
    val out = new Array[String](nTok)
    var j = 0
    i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { out(j) = toks0(i); j += 1 }
      i += 1
    }
    out
  }

  def compute(s: UTF8String, n: Int): ArrayData = {
    val toks = normTokens(s)
    val nTok = toks.length
    if (nTok < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val hs = new Array[Long](nTok)
    var j = 0
    while (j < nTok) {
      hs(j) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        UTF8String.fromString(toks(j)), org.apache.spark.sql.types.StringType, 42L)
      j += 1
    }
    val out = new Array[Long](nTok - n + 1)
    var i = 0
    while (i <= nTok - n) {
      var acc = Seed
      var k = 0
      while (k < n) { acc = rot21(acc) ^ hs(i + k); k += 1 }
      out(i) = acc
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Distinct word n-gram shingle STRINGS in one pass — input to the MinHash
  * signature and the exact-Jaccard verify. Produces exactly the arrays of
  * the HOF formulation (`array_distinct(transform(sequence, concat_ws(" ",
  * slice(split(trim(text))))))` — kept as `Dedup.shinglesHof`, property-
  * tested): UTF8String.trim is Spark's space-only `trim`, `String.split`
  * is Spark's `split`, first-occurrence order preserved, and the
  * fewer-than-n-tokens fallback is the whole text as ONE shingle. The HOF
  * version cost ~2.8 s per evaluation at sf0.1 and the near-dup plan
  * evaluates shingles three times (signature + both verify sides).
  */
object ShingleKernel {
  // hoisted Pattern: shingles are evaluated three times per doc in the
  // near-dup plan — per-call regex compilation is pure overhead
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def compute(s: UTF8String, n: Int): ArrayData = {
    val toks = Ws.split(s.trim.toString, -1)
    if (toks.length < n)
      return new GenericArrayData(Array[Any](UTF8String.fromString(toks.mkString(" "))))
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

/** Remove flagged ≥k-token spans from the NORMALIZED token stream — the
  * actual dedup cut of Lee et al. 2022 (the flags variant only reports).
  * Inputs: the document text and the SORTED array of flagged gram start
  * positions (indices into [[NgramKeys.normTokens]], the same token stream
  * the gram keys were computed over). A token at index i is cut iff some
  * flagged position p ≤ i has p + k > i — a two-pointer walk, O(tokens +
  * positions) per row, no per-token membership scans. Output is the
  * surviving tokens joined with single spaces (span removal is defined on
  * the normalized stream, as in minhash-dedup pipelines — original
  * whitespace/punctuation of removed regions is not reconstructible).
  */
object CutSpans {
  def compute(s: UTF8String, ps: ArrayData, k: Int): UTF8String = {
    val toks = NgramKeys.normTokens(s)
    val m = ps.numElements()
    val sb = new java.lang.StringBuilder
    var coverEnd = -1
    var j = 0
    var i = 0
    var first = true
    while (i < toks.length) {
      while (j < m && ps.getInt(j) <= i) {
        val e = ps.getInt(j) + k
        if (e > coverEnd) coverEnd = e
        j += 1
      }
      if (i >= coverEnd) {
        if (!first) sb.append(' ')
        sb.append(toks(i))
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Covered-token count of the union of length-k spans starting at the SORTED
  * positions `ps` — the reporting step of substring dedup. Replicates exactly
  * the HOF `when(size(ps)===1, k).otherwise(aggregate(sequence(1, size-1), k,
  * (acc, i) => acc + least(k, ps[i+1] - ps[i])))`: cov = k + Σ min(k, gap),
  * pure int arithmetic so equality is trivial; the HOF was interpreted per
  * flagged gram. size(ps)==0 is unreachable from the wired plans (the
  * aggregate only emits groups with ≥1 position) and returns 0.
  */
object SpanCoverage {
  def compute(ps: ArrayData, k: Int): Int = {
    val n = ps.numElements()
    if (n == 0) return 0
    var acc = k
    var j = 1
    while (j < n) {
      val d = ps.getInt(j) - ps.getInt(j - 1)
      acc += (if (d < k) d else k)
      j += 1
    }
    acc
  }
}

/** The quality gate's counts over the UTF-8 bytes, one pass each, no
  * decoding and no allocation. Bit-identical to the `functions` formulation
  * they replaced (QualitySpec property-tests it, invalid UTF-8 included):
  *   - tokens: `size(filter(split(trim(s), "\\s+"), _ =!= ""))` counts the
  *     maximal runs outside Java's `\s` = `[ \t\n\x0B\f\r]`, all ASCII, so a
  *     byte run is a token (no multi-byte or malformed sequence contains a
  *     byte below 0x80, and each decodes to non-whitespace);
  *   - punctuation: `length(regexp_replace(s, "[^.,!?;:]", ""))` counts the
  *     six ASCII bytes;
  *   - characters: `length(s)` is `numChars()`, stepped by lead byte here.
  * The `StaticInvoke` returns null for a null text, as `size` and `length`
  * do under ANSI mode (Spark 4's default).
  */
object TextGate {
  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')
  @inline private def isPunct(b: Byte): Boolean =
    b == '.' || b == ',' || b == '!' || b == '?' || b == ';' || b == ':'

  def tokenCount(s: UTF8String): Int = {
    var n = 0
    var inToken = false
    var i = 0
    while (i < s.numBytes) {
      val space = isSpace(s.getByte(i))
      if (!space && !inToken) n += 1
      inToken = !space
      i += 1
    }
    n
  }

  def punctCount(s: UTF8String): Int = {
    var n = 0
    var i = 0
    while (i < s.numBytes) {
      if (isPunct(s.getByte(i))) n += 1
      i += 1
    }
    n
  }

  /** 1 when the text has 5..100000 tokens, at least 20 characters and at
    * most one punctuation mark per 10 characters, else 0.
    */
  def isGood(s: UTF8String): Int = {
    var tokens = 0
    var punct = 0
    var chars = 0
    var nextChar = 0
    var inToken = false
    var i = 0
    while (i < s.numBytes) {
      val b = s.getByte(i)
      if (i == nextChar) { chars += 1; nextChar = i + UTF8String.numBytesForFirstByte(b) }
      val space = isSpace(b)
      if (!space && !inToken) tokens += 1
      inToken = !space
      if (isPunct(b)) punct += 1
      i += 1
    }
    if (tokens >= 5 && tokens <= 100000 && punct.toLong * 10 <= chars && chars >= 20) 1 else 0
  }
}

object signatures {
  private val Longs = ArrayType(LongType, containsNull = false)
  private def fields(names: Seq[String], t: DataType): StructType =
    StructType(names.map(StructField(_, t, nullable = false)))

  def minhash_sig(shingles: Column, numHashes: Int = 64): Column =
    ColumnBridge.invoke(MinHashSig, "compute", Longs)(shingles, numHashes)
  def span_coverage(ps: Column, k: Int): Column =
    ColumnBridge.invoke(SpanCoverage, "compute", IntegerType)(ps, k)
  def simhash64(tokens: Column): Column =
    ColumnBridge.invoke(SimHashExpr, "compute", LongType)(tokens)
  def poly_fingerprint(c: Column): Column =
    ColumnBridge.invoke(FingerprintHash, "compute", LongType)(c)
  def top2gram(c: Column): Column =
    ColumnBridge.invoke(Top2GramHash, "compute",
      fields(Seq("n_2grams", "top2_count", "top2_frac_x1000"), LongType))(c)
  def langid(c: Column): Column =
    ColumnBridge.invoke(LangIdModel, "predict", StringType)(c)
  def lang_sample_text(id: Column, n: Int): Column =
    ColumnBridge.invoke(LangSample, "compute", StringType)(id, n)
  def bpe_count(c: Column): Column =
    ColumnBridge.invoke(extractous.pipeline.BpeModel, "countTokens", LongType)(c)
  def token_count(c: Column): Column = ColumnBridge.invoke(TextGate, "tokenCount", IntegerType)(c)
  def punct_count(c: Column): Column = ColumnBridge.invoke(TextGate, "punctCount", IntegerType)(c)
  def is_good(c: Column): Column = ColumnBridge.invoke(TextGate, "isGood", IntegerType)(c)
  def ngram_keys(c: Column, n: Int): Column =
    ColumnBridge.invoke(NgramKeys, "compute", Longs)(c, n)
  def cut_spans(text: Column, ps: Column, k: Int): Column =
    ColumnBridge.invoke(CutSpans, "compute", StringType)(text, ps, k)
  def shingles(c: Column, n: Int): Column =
    ColumnBridge.invoke(ShingleKernel, "compute", ArrayType(StringType, containsNull = false))(c, n)
  def gopher_report(c: Column, minWords: Int): Column =
    ColumnBridge.invoke(GopherKernel, "compute", fields(GopherKernel.Fields, LongType))(c, minWords)

  def c4_clean(c: Column): Column =
    ColumnBridge.invoke(C4Kernel, "compute", StructType(Seq(
      StructField("clean_text", StringType, nullable = false),
      StructField("n_sentences", LongType, nullable = false),
      StructField("kept_lines", LongType, nullable = false),
      StructField("total_lines", LongType, nullable = false))))(c)
}
