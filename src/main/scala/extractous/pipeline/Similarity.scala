package extractous.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the query set is broadcast (small side), the corpus side
  * stays partitioned — brute-force top-k is a broadcast-nested-loop with a
  * per-partition running top-k reduced by a window; the IVF variant prunes the
  * corpus side to the probed centroid cells before the expensive dot products
  * (the standard inverted-file ANN layout, here expressed relationally so
  * Catalyst/AQE own the physical plan).
  */
object Similarity {

  /** Dot product of two numeric array columns — imperative kernel
    * ([[extractous.spark.VectorMath.vecDot]]), bit-identical to the HOF
    * formulation `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` it replaced
    * (same summation order, same null semantics; equivalence property-tested
    * in SimilaritySpec). The HOF pair is interpreted per ELEMENT and the kNN/
    * SemDeDup verify paths evaluate millions of pairs.
    */
  def dot(a: Column, b: Column): Column = extractous.spark.vectors.vec_dot(a, b)

  /** The original HOF formulation — spec-side reference for the kernel's
    * equivalence property test; not on any wired query path.
    */
  private[extractous] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm-safe cosine: a single all-zero embedding (an empty document)
    * must not throw DIVIDE_BY_ZERO under Spark 4's ANSI defaults and kill
    * the job — a poison row never kills the job anywhere in this engine.
    * Zero-norm pairs score 0 (never near anything), matching the zero-safe
    * posture of quantizeInt8 and nearest_cells.
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val den = norm(ad) * norm(bd)
    when(den === 0d, lit(0d)).otherwise(dot(ad, bd) / den)
  }

  /** Cosine from a precomputed-norm pair — the kNN hot paths score
    * |Q|·|C| pairs, and recomputing both norms per pair triples the array
    * folds; norms fold once per VECTOR in the projections instead. Same
    * per-vector fold order, so the value is bit-identical to [[cosine]].
    */
  def cosineWithNorms(a: Column, na: Column, b: Column, nb: Column): Column = {
    val den = na * nb
    when(den === 0d, lit(0d)).otherwise(dot(a, b) / den)
  }

  /** Brute-force cosine top-k: every query vs every corpus vector.
    * `queries` is broadcast; ties break on neighbor id (deterministic).
    *
    * Physical shape: a bounded map-side top-k aggregate
    * ([[extractous.spark.TopKByScore]]) — each map partition reduces its
    * |Q|·|partition| scored rows to |Q|·k before the exchange. The obvious
    * `row_number() OVER (PARTITION BY query)` alternative shuffles and sorts
    * the ENTIRE |Q|·|C| cross product, which is the scale killer at corpus
    * size.
    */
  /** Symmetric int8 quantization of an embedding column — the compression
    * step every billion-vector ANN index runs (4× memory cut before PQ/IVF):
    * per-vector scale = max|x|/127, q_i = round(x_i/scale) ∈ [−127, 127].
    * Pure codegen'd HOFs, narrow per-row; float32 inputs are cast to double
    * BEFORE any arithmetic so the math is bit-reproducible in any engine
    * (the DuckDB oracle mirrors it 1:1). An all-zero vector quantizes to
    * zeros with scale 0.
    */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = maxAbs / lit(127.0)
    val q = when(maxAbs === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => round(x / scale).cast("long")))
    df.select(col(idCol), scale.as("scale"), q.as("q"))
  }

  def bruteKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineWithNorms(col("qv"), col("qn"), col("cv"), col("cn")))
      .groupBy(col("query_id"))
      .agg(extractous.spark.topk.topk_by_score(col("sim"), col("neighbor_id").cast("long"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"), col("neighbor_id"))
  }

  /** IVF centroid table: the element-wise mean of each cell's vectors,
    * as cell ids in ascending order and their centroids. Seeded
    * deterministically by an existing coarse key (here: the label column —
    * at production scale this would be a k-means output; the inverted-file
    * mechanics are identical).
    *
    * One aggregate stage: the (cell, pos) means are collected as they are
    * (cells × dim rows, model-sized) and assembled here, so the build runs
    * one shuffle and no sort.
    */
  private[extractous] def centroidTable(corpus: DataFrame, cellCol: String,
      vecCol: String): (Array[Int], Array[Array[Double]]) = {
    val means = corpus
      .select(col(cellCol).as("cell"), posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("v")).as("m"))
      .collect()
    val byCell = means.groupBy(_.get(0)).toArray.map { case (cell, rows) =>
      val id = cell match {
        case i: Int => i
        case l: Long => l.toInt
        case x => x.toString.toInt
      }
      // a position whose elements are all null has a null mean: 0.0
      id -> rows.sortBy(_.getInt(1)).map(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    }.sortBy(_._1)
    (byCell.map(_._1), byCell.map(_._2))
  }

  /** IVF top-k: assign corpus vectors to their true nearest centroid, probe
    * the `nprobe` closest cells per query, brute-force only inside those cells.
    *
    * Physical shape (the scale contract, asserted in SparkPlanSpec):
    *   1. INDEX BUILD — the centroid table (cells × dim doubles,
    *      metadata-sized) is aggregated once and materialized to the driver,
    *      exactly like any ANN index build. This is the only driver-side
    *      collect and it is NOT per-row data.
    *   2. ASSIGNMENT — a narrow projection: [[extractous.spark.vectors.nearest_cells]]
    *      computes the argmax cell map-side with the centroid table a
    *      constant of the serialized plan. Zero exchanges (the previous
    *      `row_number() OVER (PARTITION BY vid)` formulation shuffled the full
    *      |corpus|·|cells| product just to pick this argmax).
    *   3. PROBE+RANK — probes broadcast, cell join stays map-side, and the
    *      final top-k is the bounded-heap partial aggregate
    *      ([[extractous.spark.TopKByScore]]): each map partition reduces to
    *      |Q|·k rows before the single real exchange.
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    val (cells, cents) = centroidTable(corpus, cellCol, vecCol)

    val vd = col(vecCol).cast("array<double>")
    val assigned = corpus.select(
      col(idCol).as("vid"), vd.as("cv"),
      element_at(extractous.spark.vectors.nearest_cells(vd, cells, cents, 1), 1).as("cell"))
      .withColumn("cn", norm(col("cv")))

    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), vd.as("qv"),
        explode(extractous.spark.vectors.nearest_cells(vd, cells, cents, nprobe)).as("cell"))
        .withColumn("qn", norm(col("qv"))))

    probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vid"))
      .withColumn("sim", cosineWithNorms(col("qv"), col("qn"), col("cv"), col("cn")))
      .groupBy(col("query_id"))
      .agg(extractous.spark.topk.topk_by_score(col("sim"), col("vid").cast("long"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"), col("neighbor_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv 2303.09540): semantic deduplication
    * by clustering embeddings and removing, within each cluster, every item
    * that has an ε-near neighbor of higher keep-priority. Matches the
    * published implementation's rule exactly: cluster items are ranked by
    * similarity-to-centroid ASCENDING (outliers kept preferentially, the
    * paper's default) with id as tie-break, and item j is REMOVED iff some
    * higher-priority i in its cluster has cos(i, j) ≥ threshold — the
    * upper-triangle max-similarity test of the reference code, a set-based
    * rule (no sequential greedy chain), so it is replayable 1:1 in SQL.
    *
    * Scale shape: centroid build + argmax assignment are the IVF machinery
    * ([[centroidTable]] / `nearest_cells` — narrow, model embedded in the
    * expression). Then one aggregate: the only exchange hashes on `cell` and
    * carries `(id, vec, norm)` embedding-sized rows; each cell's rows meet
    * in one [[extractous.spark.vectors.semdedup_cell]] call, which scores the
    * similarities to the centroid and applies the rule per pair — no join.
    * Within-cell cost is Σ|cluster|², memory one cluster's rows; the knob is
    * cluster count (the paper runs ~100k clusters at web scale so clusters
    * stay small). Returns `(id, cell, kept)` for every row with an embedding.
    *
    * `idCol` is a key: duplicate or null ids are outside the contract.
    */
  def semDedup(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    val (cells, cents) = centroidTable(corpus, cellCol, vecCol)
    val vd = col(vecCol).cast("array<double>")
    // a null embedding has no cell; dropped before the exchange, null-cell
    // rows never gather into one group
    val assigned = corpus.filter(col(vecCol).isNotNull).select(col(idCol).as("id"), vd.as("v"),
        element_at(extractous.spark.vectors.nearest_cells(vd, cells, cents, 1), 1).as("cell"))
      .withColumn("vn", norm(col("v")))
    dedupCells(assigned, cells, cents, threshold)
  }

  /** The per-cell step of [[semDedup]] over `assigned` rows
    * `(id, v: array<double>, cell, vn)` and the centroid table: one
    * `groupBy(cell)`, one kernel call per cell. Rows whose cell is null or not
    * in `cells` yield nothing.
    */
  private[extractous] def dedupCells(assigned: DataFrame, cells: Array[Int],
      cents: Array[Array[Double]], threshold: Double): DataFrame = {
    val marked = extractous.spark.vectors.semdedup_cell(col("cell"), col("rows"),
      assigned.schema("id"), cells, cents, threshold)
    assigned.groupBy(col("cell"))
      .agg(collect_list(struct(col("id"), col("v"), col("vn"))).as("rows"))
      .select(col("cell").cast("long").as("cell"), explode(marked).as("r"))
      .select(col("r.id").as("id"), col("cell"), col("r.kept").as("kept"))
  }

  /** Exact near-duplicate pairs by cosine ≥ threshold (brute force — the
    * verification-grade baseline).
    */
  def nearDupPairsExact(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Banded multi-table random-hyperplane LSH (the scale path for near-dup
    * cosine) — same banding shape as [[Dedup.lshCandidates]] for minhash:
    * `bands` independent hash tables of `bitsPerBand` sign bits each; a pair
    * is a candidate if ANY band's bits match, candidates are exact-verified
    * by cosine. Recall at angle θ is 1 − (1 − p^r)^b with p = 1 − θ/π — at the
    * defaults (16 bands × 12 bits) and threshold 0.99 that is ≥ 1 − 1.2e-6,
    * and unlike a single-table scheme it holds for genuinely-near pairs, not
    * just sign-invariant scaled copies. Recall on PERTURBED copies is measured
    * against [[nearDupPairsExact]] in SimilaritySpec.
    *
    * Scale: the candidate shuffle carries `(id, band, bucket)` only — vectors
    * re-join by id for verification. Bucket space per band is 2^bitsPerBand;
    * size `bitsPerBand ≈ log2(n / targetBucketRows)` as the corpus grows so
    * the within-bucket self-join stays bounded, then choose `bands` for the
    * recall target (the two knobs are independent, which the old single-table
    * scheme lacked). AQE's skew-join splits residual hot buckets.
    */
  def nearDupPairsLsh(corpus: DataFrame, threshold: Double,
      bands: Int = 16, bitsPerBand: Int = 12, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    val sigs = corpus.select(col(idCol).as("id"), vd.as("v"),
      extractous.spark.vectors.hyperplane_bands(vd, bands, bitsPerBand, dim).as("bk"))
    val buckets = sigs.select(col("id"),
      posexplode(col("bk")).as(Seq("band", "bucket")))
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = sigs.select(col("id"), col("v"))
    cands
      .join(vecs.as("va"), col("id_a") === col("va.id"))
      .join(vecs.as("vb"), col("id_b") === col("vb.id"))
      .withColumn("sim", cosine(col("va.v"), col("vb.v")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"))
  }
}
