package extractous.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Scale design: signatures (minhash/simhash) are computed as narrow per-row
  * expressions (higher-order functions over token arrays — all codegen'd, no
  * UDF); only the candidate-pair discovery shuffles, and it shuffles on short
  * band keys, never on document text. Exact verification joins signatures back
  * by id. At 10^12 docs the band-bucket join is the standard MinHash-LSH plan;
  * AQE's skew-join handles hot buckets.
  */
object Dedup {

  /** Exact dedup by full-column equality: one hash-aggregate shuffle on the
    * group key. Returns one representative (min id) per group + multiplicity.
    */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("cnt"))

  /** Exact dedup by md5 digest — the shuffle key shrinks from document text to
    * 32 bytes; at 100 TB that is the difference between shuffling the corpus
    * and shuffling 3% of it.
    */
  def byHash(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(keyCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("cnt"))

  /** [[byHash]] that also carries content-determined columns through the
    * aggregate. Every carry column MUST be a function of the key column
    * (identical within a group), so folding them into the GROUPING key
    * changes no group boundaries — and keeps the aggregate hash-based with
    * map-side combine (a `first(stringCol)` aggregate would force
    * SortAggregate: string agg buffers are not hash-aggregable). This is
    * how a pipeline keeps per-representative stats without joining the
    * representatives back against the corpus: the only shuffle carries
    * (digest, carries, id) — the document text never moves.
    */
  def byHashWith(df: DataFrame, keyCol: String, idCol: String,
                 carry: Seq[String]): DataFrame =
    df.groupBy(md5(col(keyCol)).as("text_md5") +: carry.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("cnt"))

  /** Canonical-URL normalization — crawl pipelines dedup re-fetches of the
    * same resource behind URL variation: case-insensitive scheme/host,
    * default ports (:80 http / :443 https), trailing path slashes, fragments,
    * and tracking query params (utm_*, fbclid, gclid, msclkid). Pure
    * codegen'd expression chain (regexp + array HOFs), narrow per-row; a URL
    * without a scheme passes through unchanged.
    */
  def normalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val rest = regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*(.*)$", 1)
    val path0 = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val q = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val kept = filter(split(q, "&"),
      p => !(p.rlike("^(utm_[^=]*|fbclid|gclid|msclkid)=") || p === lit("")))
    val query = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))
    when(scheme === "", u).otherwise(concat(scheme, lit("://"), host, path, query))
  }

  /** URL-level dedup: group on the canonical form, keep the min id. The
    * canonical string is short (shuffle-key-sized); at extreme scale swap the
    * group key for `xxhash64(canonical)` like [[byHash]].
    */
  def dedupByUrl(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.withColumn("canonical_url", normalizeUrl(col(urlCol)))
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("cnt"))

  /** CCNet/RefinedWeb-style repeated-line removal: drop every line whose
    * EXACT text occurs more than `maxOccurrences` times across the corpus —
    * the standard line-level boilerplate filter (nav bars, cookie banners,
    * shared footers survive per-document boilerplate stripping but repeat
    * across pages; genuine content lines do not).
    *
    * Scale shape: lines explode as a narrow transform; the count aggregates
    * on `xxhash64(line)` (8-byte shuffle key, never the line text); kept
    * lines reassemble per document with a sort_array over (pos, line) —
    * one aggregate exchange on the id. Hash collisions at 64 bits are
    * ~n²/2⁶⁵ — at 10^12 lines that is ~3% of one false drop corpus-wide,
    * and a collision only ever REMOVES a line (conservative for training
    * data). Returns `(id, text)` with surviving lines in original order.
    */
  def dropRepeatedLines(df: DataFrame, idCol: String, textCol: String,
      maxOccurrences: Long): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .filter(col("line") =!= "") // blank lines drop with the boilerplate (normalization)
      .withColumn("lh", xxhash64(col("line")))
    val hot = lines.groupBy(col("lh")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxOccurrences)
      .select(col("lh"))
    val kept = lines.join(hot, Seq("lh"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(transform(sort_array(collect_list(struct(col("pos"), col("line")))),
        s => s.getField("line")), "\n").as("text"))
    // EVERY input doc gets an output row: a page whose every line is
    // corpus-hot boilerplate (or blank) survives as text='' rather than
    // vanishing — downstream joins must see the id, same one-row-per-doc
    // contract as substringFlags/cutFlaggedSpans/Decontam.flag
    df.select(col(idCol).as("id"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** Sub-document exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv 2107.06499): flag
    * every ≥k-token span that appears VERBATIM in more than one document —
    * the strongest modern dedup signal, catching boilerplate and quotation
    * reuse that whole-document minhash/simhash miss. Lee et al. build a
    * suffix array over the concatenated corpus; the relational equivalent
    * over 10^12 rows is positional k-gram fingerprinting:
    *
    *   1. per document, positional k-gram keys over normalized tokens
    *      ([[Decontam.ngramKeys]] — xxhash64 per token + rotate-XOR combine;
    *      narrow, no gram strings ever materialize);
    *   2. one exchange of `(gram_hash, doc_id, pos)` LONGS groups by
    *      gram_hash and keeps hashes spanning ≥2 distinct docs (min≠max —
    *      no count-distinct sketch needed);
    *   3. a second long-keyed shuffle semi-joins flagged hashes back to
    *      positions, and a per-doc aggregate merges overlapping [pos,
    *      pos+k) intervals into covered-token counts with one HOF fold
    *      over the sorted position array.
    *
    * Document text NEVER shuffles (PipelineSpec asserts); every exchange
    * carries 8-byte keys + 2 longs. A 64-bit collision can only over-flag
    * (conservative removal), and the driver oracle joins on gram STRINGS,
    * so collisions would fail the gate, not hide.
    *
    * Returns one row per input doc:
    * `(id, n_flagged_grams, n_dup_tokens, has_dup_span)` where n_dup_tokens
    * is the size of the union of flagged spans — the tokens a removal pass
    * would cut.
    */
  def substringFlags(docs: DataFrame, textCol: String, idCol: String, k: Int = 8): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
      posexplode(Decontam.ngramKeys(col(textCol), k)).as(Seq("pos", "gh")))
    val crossDoc = grams.groupBy(col("gh"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gh"))
    val flagged = grams.join(crossDoc, Seq("gh"), "left_semi")
    // span_coverage = the former HOF fold k + Σ min(k, gap) as one imperative
    // pass (exact int arithmetic, values identical; the interpreted
    // aggregate(sequence(...)) lambda pair cost ~2 evaluations per flagged
    // gram per doc)
    val perDoc = flagged.groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("id"), size(col("ps")).as("nf"),
        extractous.spark.signatures.span_coverage(col("ps"), k).as("cov"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("nf"), lit(0)).cast("long").as("n_flagged_grams"),
        coalesce(col("cov"), lit(0)).cast("long").as("n_dup_tokens"),
        (coalesce(col("nf"), lit(0)) > 0).cast("long").as("has_dup_span"))
  }

  /** The REMOVAL companion of [[substringFlags]]: cut every flagged ≥k-token
    * span out of the normalized token stream and return the surviving
    * tokens joined with single spaces — what a Lee-et-al-2022 dedup pass
    * actually writes back. Same gram/flag plan as substringFlags (long-keyed
    * exchanges only); the cut itself is one imperative two-pointer pass per
    * row ([[extractous.spark.CutSpans]]) over (text, sorted flagged
    * positions). Docs with no flagged span return their full normalized
    * token stream, so output text is uniformly normalized.
    */
  def cutFlaggedSpans(docs: DataFrame, textCol: String, idCol: String, k: Int = 8): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
      posexplode(Decontam.ngramKeys(col(textCol), k)).as(Seq("pos", "gh")))
    val crossDoc = grams.groupBy(col("gh"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gh"))
    val perDoc = grams.join(crossDoc, Seq("gh"), "left_semi")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        extractous.spark.signatures.cut_spans(col("text"),
          coalesce(col("ps"), array().cast("array<int>")), k).as("clean_text"))
  }

  /** Distinct word n-gram shingles of a single-space-tokenized text column.
    * Imperative one-pass kernel (extractous.spark.ShingleKernel) — the
    * near-dup plan evaluates shingles three times (signature + both verify
    * sides) and the HOF formulation cost ~2.8 s per evaluation at sf0.1.
    * Recompute-per-use is deliberate: a narrow recompute beats persisting
    * shingle arrays for a 10^12-row corpus.
    */
  def shingles(textCol: Column, n: Int = 3): Column =
    extractous.spark.signatures.shingles(textCol, n)

  /** The original HOF formulation — spec-side reference for the kernel's
    * property test; not on any wired query path.
    */
  private[extractous] def shinglesHof(textCol: Column, n: Int = 3): Column = {
    val toks = split(trim(textCol), "\\s+")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** MinHash signature (array<bigint> of length numHashes): sig_j = min over
    * shingles of (a_j·h(s) + b_j) mod P — an imperative row kernel
    * (extractous.spark.MinHashSig): one tight pass per row,
    * zero intermediate arrays (the HOF formulation was ~20× slower).
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 64): Column =
    extractous.spark.signatures.minhash_sig(shinglesCol, numHashes)

  /** Band keys for LSH: the signature split into `bands` bands of `rows` rows,
    * each hashed to one bucket key. Candidate pairs = pairs sharing any band
    * bucket.
    */
  def bandKeys(sigCol: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), i =>
      xxhash64(concat_ws("-",
        transform(slice(sigCol, i * rows + lit(1), lit(rows)), x => x.cast("string"))), i))

  /** Candidate pairs from band buckets: explode → self-join on (band, bucket).
    * Shuffle carries only (id, band_hash).
    */
  def lshCandidates(df: DataFrame, idCol: String, sigCol: String,
      bands: Int = 16, rows: Int = 4): DataFrame = {
    val b = df.select(col(idCol).as("id"),
      posexplode(bandKeys(col(sigCol), bands, rows)).as(Seq("band", "bucket")))
    // shuffle_hash: the planner's size estimate for the exploded band table
    // tracks the tiny parquet input and picks a broadcast — collecting the
    // |docs|×bands table to the driver, which is both slower here and the
    // wrong shape at corpus scale (the band join must stay partitioned)
    b.as("a").join(b.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard over shingle arrays (verification step on candidates). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** EXACT n-gram Jaccard near-dup pairs via a gram inverted index — the
    * deterministic sibling of [[minhashNearDups]] (which trades exactness for
    * a 64-long signature). Reference behavior this generalizes: the reference
    * dedups extracted text only by full-digest equality; n-gram Jaccard is the
    * standard corpus-dedup extension (Lee et al. 2022 §4.1 use it as the
    * ground truth MinHash approximates).
    *
    * Plan shape: shingle (narrow, one pass) → explode to (id, gramHash:long)
    * → self-join on the 8-byte gram hash (the ONLY data exchange; text never
    * shuffles) → pair-count aggregate gives |A∩B|; |A∪B| = |A|+|B|−|A∩B| from
    * the per-doc gram counts carried on each side. The ≥-threshold filter is
    * exact integer arithmetic (inter·denom ≥ union·numer) — no float
    * round-trip. Equal grams always hash equal, so collisions can only ADD
    * phantom intersections; with xxhash64 over ≤10⁶ distinct grams per corpus
    * shard P(any collision) < 10⁻⁷ (at 10¹² docs you would widen to the
    * 128-bit pair (xxhash64(g,0), xxhash64(g,1)) — same plan shape).
    *
    * Scale hazard + knob: a gram shared by k docs contributes k(k−1)/2 join
    * rows — corpus-hot grams (boilerplate) explode the fanout quadratically.
    * `maxDocFreq` (off by default: 0) drops grams with document frequency
    * above the cap BEFORE the self-join. A true near-dup pair survives the
    * cap unless EVERY shared gram is corpus-hot — but then ≥maxDocFreq docs
    * are mutually near-dup and pair enumeration is Ω(k²) regardless; such
    * degenerate mass-duplicate strata are exactly what exact-hash dedup
    * removes first. Oracle (`d_jaccard`) runs cap-off so the output equals
    * brute force bit-for-bit.
    */
  def jaccardNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, maxDocFreq: Long = 0L): DataFrame = {
    // exact integer filter over a 1e6 fixed-point threshold: inter·den ≥
    // uni·num. Thresholds not representable in 1e6 fixed point (e.g. 1/3)
    // quantize to the nearest 1e-6 — callers needing an exact rational
    // should pass a representable threshold.
    val (num, den) = ((threshold * 1000000L).round, 1000000L)
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val grams0 = sh.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
      .select(col("id"), col("n"), xxhash64(col("g")).as("gh"))
    val grams =
      if (maxDocFreq <= 0L) grams0
      else {
        // df-cap: one extra (gh → count) aggregate, still longs-only
        val hot = grams0.groupBy(col("gh")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq).select(col("gh"))
        grams0.join(broadcast(hot), Seq("gh"), "left_anti")
      }
    grams.as("a").join(grams.as("b").hint("shuffle_hash"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * den >= col("uni") * num)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → candidate →
    * exact-verify. Returns (id_a, id_b, jaccard) for verified pairs ≥ threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 16, rows: Int = 4,
      shingleN: Int = 3): DataFrame = {
    // out-of-range bands would slice past the signature: every slice comes
    // back empty, every doc hashes to ONE bucket, and the self-join
    // degenerates to the ~n²/2 all-pairs shape LSH exists to avoid —
    // silently. Fail construction instead (simhashNearDups has the
    // analogous radius guard).
    require(bands * rows <= numHashes,
      s"bands ($bands) × rows ($rows) must cover ≤ numHashes ($numHashes)")
    val withSig = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
    val cands = lshCandidates(withSig, "id", "sig", bands, rows)
    val sh = withSig.select(col("id"), col("sh"))
    cands
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), jaccard(col("sa.sh"), col("sb.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-dup pairs — the canonical step AFTER pair
    * finding: duplicates form CLUSTERS (a≈b, b≈c ⇒ {a,b,c}), and the pipeline
    * keeps one representative per cluster, not per pair.
    *
    * Iterative min-label propagation: every node repeatedly adopts the
    * smallest label among itself and its neighbors until fixpoint. Each round
    * is one join + aggregate on `(id, label)` longs — document text never
    * enters the loop. Components in dedup graphs are shallow (near-dup
    * relations are near-transitive), so few rounds suffice; a corpus with
    * adversarially long chains would swap this loop for the alternating
    * large-star/small-star variant (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") with the same per-round shuffle shape.
    *
    * Returns `(id, cluster_id)` for EVERY id in `ids` — singletons cluster as
    * themselves; `cluster_id` = min id in the component (deterministic).
    */
  def clusters(pairs: DataFrame, ids: DataFrame, idCol: String = "id",
      maxIters: Int = 25): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = ids.select(col(idCol).as("id"), col(idCol).cast("long").as("label"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      // localCheckpoint TRUNCATES lineage: with plain cache() every round
      // re-analyzes a plan one join deeper and the fixpoint loop stalls in
      // the optimizer long before it stalls in execution
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .localCheckpoint(true)
      val changed = next.as("n").join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.label") =!= col("o.label")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    // partially-propagated labels would silently split one component into
    // several cluster_ids — fail loudly instead; a corpus that legitimately
    // hits this has adversarial component diameters and should run the
    // large-star/small-star variant noted above
    if (!converged)
      throw new IllegalStateException(
        s"clusters: min-label propagation did not converge in $maxIters rounds " +
          "(component diameter exceeds maxIters); raise maxIters or use large-star/small-star")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Connected components in O(log n) ROUNDS — the alternating large-star /
    * small-star algorithm (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the scale path for adversarial component
    * diameters where [[clusters]]' min-label propagation would need
    * O(diameter) rounds:
    *
    *   large-star(u): m = min(N(u) ∪ {u}); for every neighbor v > u emit
    *     edge (v, m) — strictly-larger neighbors re-hang under the local min;
    *   small-star(u): over edges oriented high→low, m = min(N≤(u) ∪ {u});
    *     re-hang u and its ≤-neighbors under m.
    *
    * Each phase is one groupBy + join on long pairs (same shuffle shape as a
    * [[clusters]] round); the alternation contracts every component to a
    * star centered at its minimum in O(log n) alternations. Convergence =
    * the edge set reaches a fixpoint (count + order-free hash compare);
    * `localCheckpoint` truncates lineage per round like [[clusters]].
    *
    * Returns `(id, cluster_id)` for every id — identical contract to
    * [[clusters]]; the equivalence is asserted in PipelineSpec on both the
    * corpus pair set and a deep path graph that min-label cannot finish.
    */
  def clustersLargeSmallStar(pairs: DataFrame, ids: DataFrame, idCol: String = "id",
      maxIters: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    var edges = pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .union(pairs.select(col("id_b").cast("long").as("u"), col("id_a").cast("long").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    def signature(e: DataFrame): (Long, Long) = {
      // order-free fixpoint check: count + xor-fold of edge hashes (xor never
      // overflows — ANSI mode rejects a sum() fold)
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }

    // Both phases need each joined row twice (two edge orientations). A
    // union of two identical joins would execute the join — and its shuffle —
    // twice per phase; instead each phase emits both orientations from ONE
    // joined projection via explode(array(struct, struct)), so the plan has
    // exactly one join per phase. distinct() after the explode is
    // set-equivalent to the dedup-then-double formulation.
    def bothOrientations(j: DataFrame, first: (Column, Column), second: (Column, Column)): DataFrame =
      j.select(explode(array(
          struct(first._1.as("u"), first._2.as("v")),
          struct(second._1.as("u"), second._2.as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      // m(u) = min over N(u) ∪ {u}
      val m = e.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
      val j = e.join(m, "u").filter(col("v") > col("u")) // larger neighbors re-hang under m
      bothOrientations(j, (col("v"), col("m")), (col("m"), col("v")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient high → low: keep (h, l) with l < h; hang {v, u} under m(u),
      // then emit both orientations of each hung pair
      val oriented = e.filter(col("v") < col("u"))
      val m = oriented.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
      val j = oriented.join(m, "u")
      val hung = j.select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .filter(col("a") =!= col("b"))
      bothOrientations(hung, (col("a"), col("b")), (col("b"), col("a")))
    }

    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nsig = signature(next)
      converged = nsig == sig
      sig = nsig
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clustersLargeSmallStar: no fixpoint in $maxIters alternations (O(log n) expected)")
    // fixpoint = stars centered at component minima: root(v) = min neighbor
    val roots = edges.groupBy(col("u")).agg(min(col("v")).as("r"))
      .select(col("u").as("nid"), least(col("r"), col("u")).as("root"))
    ids.select(col(idCol).cast("long").as("id"))
      .join(roots, col("id") === col("nid"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** 64-bit SimHash over tokens: bit i of the fingerprint is the sign of the
    * sum over tokens of ±1 by bit i of hash(token). Imperative row
    * kernel (extractous.spark.SimHashExpr) — narrow, allocation-free.
    */
  def simhash(textCol: Column): Column =
    extractous.spark.signatures.simhash64(tokens(textCol))

  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via chunk banding + exact Hamming verify.
    *
    * Completeness: the fingerprint is split into `maxDist + 1` chunks, so by
    * pigeonhole ANY pair within Hamming distance `maxDist` shares at least one
    * unchanged chunk — candidate recall is 1.0 at the configured radius (the
    * earlier fixed 4-chunk split silently missed pairs past distance 3).
    *
    * Scale: the shuffle carries only `(id, chunk, ckey)`. Bucket width shrinks
    * as maxDist grows (more, narrower chunks ⇒ hotter buckets) — at very large
    * corpora keep maxDist small or pre-partition by a prefix of the signature;
    * AQE's skew-join handles residual hot buckets.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 32, s"maxDist out of range: $maxDist")
    val bands = maxDist + 1
    val widths = Array.tabulate(bands)(i => 64 / bands + (if (i < 64 % bands) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val sigs = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val chunkCols = (0 until bands).map { i =>
      val mask = if (widths(i) >= 64) -1L else (1L << widths(i)) - 1
      shiftrightunsigned(col("sig"), starts(i)).bitwiseAND(lit(mask))
    }
    val chunks = sigs.select(col("id"), col("sig"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "ckey")))
    // shuffle_hash: same rationale as lshCandidates — keep the chunk-keyed
    // self-join partitioned instead of broadcasting the exploded chunk table
    chunks.as("a").join(chunks.as("b").hint("shuffle_hash"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sig"), col("b.sig")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }
}
