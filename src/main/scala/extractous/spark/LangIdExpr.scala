package extractous.spark

import org.apache.spark.unsafe.types.UTF8String

/** Cavnar–Trenkle character-n-gram language model, trained at class load
  * from the embedded lexicons ([[extractous.pipeline.LangData]]) — a few KB
  * of deterministic constants per executor, the same
  * ship-the-model-with-the-plan pattern as the IVF centroid table. No
  * external model files, no egress.
  */
object LangIdModel {
  /** profile depth (top-K grams per language / per document) */
  final val K = 300
  /** out-of-place cost for a gram absent from the language profile */
  final val Absent = K

  // hoisted: replaceAll would re-compile this Pattern on every row
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Gram extraction: words padded with '_' (the classic C&T boundary
    * marker), all 1/2/3-grams by codepoint. Deterministic gram ordering for
    * rank ties: (count desc, gram asc).
    */
  def grams(text: String): java.util.HashMap[String, Int] = {
    val counts = new java.util.HashMap[String, Int]()
    val padded = "_" + Ws.matcher(text.trim).replaceAll("_") + "_"
    var n = 1
    while (n <= 3) {
      var i = 0
      // iterate by Char (BMP-safe for our scripts; CJK sits in the BMP)
      while (i + n <= padded.length) {
        val g = padded.substring(i, i + n)
        counts.merge(g, 1, (a, b) => a + b)
        i += 1
      }
      n += 1
    }
    counts
  }

  def topRanks(counts: java.util.HashMap[String, Int], k: Int): Array[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.toArray
      .sortBy { case (g, c) => (-c, g) }
      .take(k)
      .zipWithIndex
      .map { case ((g, _), r) => (g, r) }
  }

  /** lang → (gram → rank) maps, trained from 4000 sampled words each. */
  val profiles: Array[(String, java.util.HashMap[String, Integer])] =
    extractous.pipeline.LangData.langs.map { lang =>
      val text = extractous.pipeline.LangData.sampleText(lang, streamSeed = -1L, n = 4000)
      val m = new java.util.HashMap[String, Integer]()
      topRanks(grams(text), K).foreach { case (g, r) => m.put(g, r) }
      (lang, m)
    }.toArray

  private val langNames: Array[UTF8String] =
    profiles.map { case (l, _) => UTF8String.fromString(l) }

  /** Gram statistics saturate within a few hundred bytes (Cavnar & Trenkle
    * report reliable ID at 300 B); capping the analyzed prefix bounds the
    * per-row cost on real 20–100 KB pages to O(1) instead of O(page) with
    * a sort — the same defensive bound the truncating BlockSink applies
    * to extraction. 4 KB is ~13× the saturation point.
    */
  final val MaxChars = 4096

  // ---------------------------------------------------------------------
  // Fast path: grams of ≤3 BMP chars pack into one long (c0<<32|c1<<16|c2,
  // missing chars = 0), chosen so NUMERIC long order equals the LEXICOGRAPHIC
  // String order the rank tie-break is defined on (compare position by
  // position; 0 sorts below every real char, matching "a" < "ab"). The only
  // ambiguity is a literal U+0000 inside a gram ("a\u0000" packs like "a"),
  // so inputs containing NUL take the legacy String path — behavior is
  // IDENTICAL either way (asserted per-row against predictLegacy in
  // QualitySpec). The String-keyed implementation above remains the
  // reference and the training path.
  // ---------------------------------------------------------------------

  @inline private def packable(s: String): Boolean = s.indexOf('\u0000') < 0

  private def packGram(g: String): Long = {
    var v = 0L
    var i = 0
    while (i < g.length) { v |= (g.charAt(i).toLong & 0xffffL) << (32 - 16 * i); i += 1 }
    v
  }

  /** Combined profile map: gram key → 12 per-language ranks (Short.MinValue =
    * absent, costing [[Absent]]). Open addressing, power-of-2 capacity.
    */
  private val ProfCap = 16384 // ≥ 4× the ≤3600 distinct profile grams
  private val profKeys = new Array[Long](ProfCap)
  private val profUsed = new Array[Boolean](ProfCap)
  private val profRanks = {
    val a = new Array[Short](ProfCap * 12)
    java.util.Arrays.fill(a, Short.MinValue)
    a
  }
  private val fastPathOk: Boolean = {
    var ok = true
    var li = 0
    while (ok && li < profiles.length) {
      val it = profiles(li)._2.entrySet().iterator()
      while (ok && it.hasNext) {
        val e = it.next()
        val g = e.getKey
        if (!packable(g) || g.length > 3) ok = false
        else {
          val key = packGram(g)
          var slot = (SignatureHash.mix(key) & (ProfCap - 1)).toInt
          while (profUsed(slot) && profKeys(slot) != key) slot = (slot + 1) & (ProfCap - 1)
          profUsed(slot) = true
          profKeys(slot) = key
          profRanks(slot * 12 + li) = e.getValue.shortValue()
        }
      }
      li += 1
    }
    ok
  }

  /** Static entry point referenced by generated code. */
  def predict(s: UTF8String): UTF8String = {
    val capped = if (s.numChars() > MaxChars) s.substringSQL(1, MaxChars) else s
    val text = capped.toString
    if (fastPathOk && packable(text)) predictPacked(text) else predictLegacy(text)
  }

  private[extractous] def predictLegacy(text: String): UTF8String = {
    val doc = topRanks(grams(text), K)
    var bestIdx = 0
    var bestDist = Long.MaxValue
    var li = 0
    while (li < profiles.length) {
      val prof = profiles(li)._2
      var d = 0L
      var gi = 0
      while (gi < doc.length) {
        val (g, r) = doc(gi)
        val pr = prof.get(g)
        d += (if (pr == null) Absent else math.abs(r - pr.intValue()))
        gi += 1
      }
      // strict < keeps the first (lexicographically smallest) lang on ties
      if (d < bestDist) { bestDist = d; bestIdx = li }
      li += 1
    }
    langNames(bestIdx)
  }

  private[extractous] def predictPacked(text: String): UTF8String = {
    // gram counting over the padded text, identical gram set to grams():
    // keys packed as longs, open-addressing count map sized to the input
    val padded = "_" + Ws.matcher(text.trim).replaceAll("_") + "_"
    val len = padded.length
    val maxDistinct = 3 * len + 3
    var cap = 64
    while (cap < maxDistinct * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val counts = new Array[Int](cap)
    var distinct = 0
    var n = 1
    while (n <= 3) {
      var i = 0
      while (i + n <= len) {
        var key = 0L
        var k = 0
        while (k < n) { key |= (padded.charAt(i + k).toLong & 0xffffL) << (32 - 16 * k); k += 1 }
        var slot = (SignatureHash.mix(key) & (cap - 1)).toInt
        while (counts(slot) != 0 && keys(slot) != key) slot = (slot + 1) & (cap - 1)
        if (counts(slot) == 0) { keys(slot) = key; distinct += 1 }
        counts(slot) += 1
        i += 1
      }
      n += 1
    }
    // top-K by (count desc, gram asc): counts are ≤ len+2 < 2^16 (MaxChars
    // cap), so (~count << 48) | key packs the full sort key into one long
    val packed = new Array[Long](distinct)
    var p = 0
    var slot = 0
    while (slot < cap) {
      if (counts(slot) != 0) {
        packed(p) = ((counts(slot).toLong ^ 0xffffL) << 48) | keys(slot)
        p += 1
      }
      slot += 1
    }
    java.util.Arrays.sort(packed)
    val top = math.min(K, distinct)
    val dists = new Array[Long](12)
    var r = 0
    while (r < top) {
      val key = packed(r) & 0xffffffffffffL
      var ps = (SignatureHash.mix(key) & (ProfCap - 1)).toInt
      while (profUsed(ps) && profKeys(ps) != key) ps = (ps + 1) & (ProfCap - 1)
      if (!profUsed(ps)) {
        var l = 0
        while (l < 12) { dists(l) += Absent; l += 1 }
      } else {
        val base = ps * 12
        var l = 0
        while (l < 12) {
          val pr = profRanks(base + l)
          dists(l) += (if (pr == Short.MinValue) Absent else math.abs(r - pr))
          l += 1
        }
      }
      r += 1
    }
    var bestIdx = 0
    var bestDist = Long.MaxValue
    var li = 0
    while (li < 12) {
      if (dists(li) < bestDist) { bestDist = dists(li); bestIdx = li }
      li += 1
    }
    langNames(bestIdx)
  }
}

/** doc_id → the deterministic per-doc evaluation sample of
  * [[extractous.pipeline.LangData.sampleText]] (lang chosen by id arithmetic,
  * stream keyed on the id) as a narrow kernel column — replaces the
  * t_langid query's `Dataset.map` closure, which forced a deserialize/
  * serialize round trip and broke whole-stage codegen around the predict
  * projection. Same bytes per id as the closure it replaces.
  */
object LangSample {
  def compute(id: Long, n: Int): UTF8String = {
    val lang = extractous.pipeline.LangData.langs((id % 12).toInt)
    UTF8String.fromString(extractous.pipeline.LangData.sampleText(lang, id, n))
  }
}
