package extractous

import extractous.pipeline.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 similarity-family contracts: banded-LSH recall on pairs whose
  * hyperplane signs MAY flip (not just scaled copies), IVF plan shape (no
  * window shuffles), and AQE skew-join evidence for the band-bucket joins.
  */
class SimilaritySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")

  test("imperative dot kernel is bit-identical to the HOF fold it replaced") {
    import spark.implicits._
    // corpus vectors (all pairs of a sample), plus adversarial shapes: empty,
    // length mismatch (must be NULL like zip_with's null padding), zeros,
    // negative/subnormal-ish values — compared with === on the DOUBLE BITS
    val e = embs.filter(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.as("a").crossJoin(e.as("b"))
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("fast"),
        Similarity.dotHof(col("a.v"), col("b.v")).as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    val edge = Seq(
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(1.0, -2.5, 3e-200), Seq(4.0, 5.5, -1e200)),
      (Seq(0.0, -0.0), Seq(-0.0, 0.0))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("fast"),
        Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    edge.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // length mismatch: both must be NULL
    val mm = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("fast"),
        Similarity.dotHof(col("a"), col("b")).as("hof")).head()
    assert(mm.isNullAt(0) && mm.isNullAt(1))
  }

  test("int8 quantization: bounds, max-element saturation, dequant error ≤ scale/2") {
    import spark.implicits._
    val rows = Similarity.quantizeInt8(embs)
      .join(embs.select(col("vec_id"), col("embedding")), "vec_id")
      .as[(Long, Double, Seq[Long], Seq[Float])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, q, v) =>
      assert(q.forall(x => math.abs(x) <= 127), s"vec $id out of int8 range")
      assert(q.exists(x => math.abs(x) == 127), s"vec $id max element must saturate")
      v.map(_.toDouble).zip(q).foreach { case (x, qi) =>
        assert(math.abs(x - qi * scale) <= scale / 2 + 1e-12, s"vec $id dequant error > scale/2")
      }
    }
    // all-zero vector: scale 0, all-zero q, no division blowup
    val z = Seq((1L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeInt8(z).as[(Long, Double, Seq[Long])].head()
    assert(zq._2 == 0.0 && zq._3.forall(_ == 0L))
  }

  test("banded LSH: recall ≥ 0.95 on PERTURBED copies (hyperplane signs flip)") {
    import spark.implicits._
    val base = embs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect().toSeq
    // deterministic gaussian noise at ~1.6% per-dim σ ⇒ planted cosine ≈ 0.992:
    // above the 0.99 threshold but with sign flips across the 192 hyperplanes,
    // which the old single-table 8-bit scheme missed by construction
    val rnd = new scala.util.Random(42)
    val perturbed = base.map { case (id, v) =>
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id + 100000L, v.map(x => x + rnd.nextGaussian() * 0.016 * norm))
    }
    val all = spark.createDataset(base ++ perturbed).toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairsExact(all, 0.99).as[(Long, Long)].collect().toSet
    val lsh = Similarity.nearDupPairsLsh(all, 0.99).as[(Long, Long)].collect().toSet
    assert(exact.size >= 400, s"noise too large — only ${exact.size} planted pairs survive cos≥0.99")
    assert(lsh.subsetOf(exact), "exact verification must make precision 1.0")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"banded LSH recall $recall < 0.95 on perturbed copies")
  }

  test("ivf knn plan: no Window, assignment is a narrow projection, ≤1 shuffle") {
    val df = Similarity.ivfKnn(embs, embs.filter(col("vec_id") < 20), k = 5, nprobe = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"row_number window crept back into the IVF plan:\n$plan")
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"IVF plan has $shuffles shuffles (expected ≤1: the top-k agg):\n$plan")
    assert(plan.contains("topk_by_score"), s"bounded top-k aggregate missing:\n$plan")
    assert(plan.contains("VectorMath.nearestCells("), s"map-side argmax assignment missing:\n$plan")
  }

  test("centroid table: one shuffle and no sort, bit-identical to the collect_list formulation") {
    // the formulation the table replaced: the per-cell means gathered by a
    // second aggregate into a sorted array, then a range-sorted collect
    val old = embs
      .select(col("label").as("cell"), posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("v")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))), s => s.getField("m")).as("centroid"))
      .orderBy(col("cell")).collect()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (cells, cents) =
      try {
        val table = Similarity.centroidTable(embs, "label", "embedding")
        // listeners hear of a finished query on the listener bus
        val deadline = System.nanoTime() + 10000000000L
        while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
        table
      } finally spark.listenerManager.unregister(listener)
    assert(cells.toSeq == old.map(_.getInt(0)).toSeq)
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(cents.map(c => bits(c.toSeq)).toSeq == old.map(r => bits(r.getSeq[Double](1))).toSeq)
    assert(plans.size == 1, s"${plans.size} queries build the table")
    val plan = plans.peek()
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, s"one shuffle:\n$plan")
    assert(collect(plan) { case s: SortExec => s }.isEmpty, s"no sort:\n$plan")
  }

  test("ivf knn and semdedup rows on the fixture are the ones the collect_list centroid table gave") {
    // digests of the sorted rows, taken with the collect_list table; at 0.4
    // semdedup removes 21 of the 500 rows, so the keep-priority order (the
    // similarity to each centroid) decides rows
    def digest(df: org.apache.spark.sql.DataFrame): String = {
      val rows = df.collect().map(_.toString).sorted
      s"${rows.length}:" + java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    assert(digest(Similarity.ivfKnn(embs, embs.filter(col("vec_id") < 20), k = 5, nprobe = 3)) == "100:c1de4af032f92427fb0bcb2dd513a431")
    assert(digest(Similarity.semDedup(embs, threshold = 0.4)) == "500:d052e01b645638aeabb9dbb598b234fb")
  }

  test("brute knn plan: bounded top-k aggregate, no Window") {
    val df = Similarity.bruteKnn(embs, embs.filter(col("vec_id") < 20), k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    assert(plan.contains("topk_by_score"))
  }

  test("topk aggregate: a NaN-scored row is dropped, not ranked above every real neighbor") {
    import spark.implicits._
    val df = Seq((Double.NaN, 99L), (0.9, 1L), (0.8, 2L), (0.7, 3L)).toDF("score", "id")
    val got = df.agg(extractous.spark.topk.topk_by_score(col("score"), col("id"), 2).as("ids"))
      .head.getSeq[Long](0)
    assert(got == Seq(1L, 2L), s"NaN must not occupy a top-k slot: $got")
  }

  test("topk/kth aggregates: mistyped children fail analysis, not executors") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("score", "id")
    val e1 = intercept[Exception](
      df.agg(extractous.spark.topk.topk_by_score(col("score"), col("id"), 2)).collect())
    assert(e1.getMessage.contains("topk_by_score expects"))
    val e2 = intercept[Exception](
      df.groupBy("id").agg(extractous.spark.topk.kth_smallest_pair(col("score"), col("score"), 2)).collect())
    assert(e2.getMessage.contains("kth_smallest_pair expects"))
  }

  test("dim mismatch fails the job instead of silently corrupting assignments/buckets") {
    import extractous.spark.vectors
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.xbridge.ColumnBridge
    def vec(dim: Int) = ColumnBridge.column(Literal.create(
      new GenericArrayData((0 until dim).map(_.toDouble).toArray), ArrayType(DoubleType)))
    def eval(c: org.apache.spark.sql.Column): Any = ColumnBridge.expression(c).eval(null)
    val cents = Array(Array.fill(64)(0.5), Array.fill(64)(-0.5))
    val e1 = intercept[IllegalArgumentException](eval(vectors.nearest_cells(vec(96), Array(0, 1), cents, 1)))
    assert(e1.getMessage.contains("dim=64"))
    val e2 = intercept[IllegalArgumentException](eval(vectors.hyperplane_bands(vec(96), 4, 8, 64)))
    assert(e2.getMessage.contains("dim=64"))
    // shorter input is equally a config error (zero-padding breaks recall)
    intercept[IllegalArgumentException](eval(vectors.hyperplane_bands(vec(32), 4, 8, 64)))
  }



  test("semdedup: keeps the outlier of each near-dup group, spares distinct items") {
    import spark.implicits._
    // two well-separated clusters (label-seeded). Cluster 0: an exact-ish
    // near-dup pair (1,2) plus a distinct member 3; cluster 1: a lone item.
    // Keep-priority is LOWEST similarity-to-centroid first — within the pair
    // the item farther from the centroid survives.
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val rows = Seq(
      (1L, v(1.0, 0.0, 0.0, 0.0), 0),
      (2L, v(0.999, 0.01, 0.0, 0.0), 0),   // near-dup of 1 (cos ≈ 0.99995)
      (3L, v(0.6, 0.8, 0.0, 0.0), 0),      // same cluster, cos ≈ 0.6 to 1/2
      (4L, v(0.0, 0.0, 1.0, 0.0), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = extractous.pipeline.Similarity.semDedup(rows, threshold = 0.99)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    // centroid of cluster 0 leans toward the dup pair, so 3 is the outlier
    // (kept), and of the pair the one farther from the centroid survives
    val keptOfPair = out.filter(t => t._1 <= 2 && t._2 == 1L).map(_._1)
    assert(keptOfPair.size == 1, s"exactly one of the near-dup pair survives: $out")
    assert(out.toMap.apply(3L) == 1L, s"distinct member must survive: $out")
    assert(out.toMap.apply(4L) == 1L, s"lone cluster member must survive: $out")
    assert(out.count(_._2 == 1L) == 3)
  }

  test("semdedup plan: one exchange, hashed on cell; no join, no Window, no local relation") {
    val df = Similarity.semDedup(embs, threshold = 0.95)
    df.collect() // AQE finalizes the plan only after execution
    val plan = df.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"one exchange:\n$plan")
    val keys = shuffles.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case other => Seq(other.toString)
    }
    assert(keys == Seq("cell"), s"the exchange hashes on cell:\n$plan")
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"no join:\n$plan")
    assert(collect(plan) { case w: WindowExec => w }.isEmpty, s"no Window:\n$plan")
    assert(collect(plan) { case l: LocalTableScanExec => l }.isEmpty, s"no local relation:\n$plan")
    assert(df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.isEmpty)
  }

  /** semDedup's assignment: each vector's nearest cell and its norm. */
  private def assign(corpus: DataFrame, cells: Array[Int], cents: Array[Array[Double]]): DataFrame = {
    val vd = col("embedding").cast("array<double>")
    corpus.select(col("vec_id").as("id"), vd.as("v"),
        element_at(extractous.spark.vectors.nearest_cells(vd, cells, cents, 1), 1).as("cell"))
      .withColumn("vn", Similarity.norm(col("v")))
  }

  /** The join formulation semDedup ran before its per-cell kernel, kept as
    * the kernel's reference over the same input as `Similarity.dedupCells`:
    * the centroids as a broadcast local relation, a `cell` self-join, a
    * `distinct` of the removed ids and a left-outer join back.
    */
  private def dedupCellsJoin(assigned: DataFrame, cells: Array[Int], cents: Array[Array[Double]],
      threshold: Double): DataFrame = {
    val centSide = broadcast(spark.createDataFrame(
        java.util.Arrays.asList(cells.indices.map(i => Row(cells(i), cents(i).toSeq)): _*),
        StructType(Seq(StructField("cell", IntegerType), StructField("centroid", ArrayType(DoubleType)))))
      .withColumn("cn0", Similarity.norm(col("centroid"))))
    val prio = assigned.join(centSide, Seq("cell"))
      .withColumn("csim", Similarity.cosineWithNorms(col("v"), col("vn"), col("centroid"), col("cn0")))
      .select(col("cell"), col("id"), col("v"), col("vn"), col("csim"))
    val lhs = prio.select(col("cell"), col("id").as("id_a"), col("v").as("va"),
      col("vn").as("na"), col("csim").as("ca"))
    val rhs = prio.select(col("cell"), col("id").as("id_b"), col("v").as("vb"),
      col("vn").as("nb"), col("csim").as("cb"))
    val removed = lhs.join(rhs, Seq("cell"))
      .filter(col("ca") < col("cb") || (col("ca") === col("cb") && col("id_a") < col("id_b")))
      .withColumn("sim", Similarity.cosineWithNorms(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_b").as("rid")).distinct()
    prio.join(removed, col("id") === col("rid"), "left_outer")
      .select(col("id"), col("cell").cast("long").as("cell"),
        when(col("rid").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  /** Sorted rows, after checking the column types and nullability. */
  private def sortedRows(df: DataFrame, reference: DataFrame): Seq[String] = {
    assert(df.schema == reference.schema)
    df.collect().map(_.toString).sorted.toSeq
  }

  test("semdedup kernel equals the join formulation on the fixture at 0.95, 0.5 and 0.2") {
    val (cells, cents) = Similarity.centroidTable(embs, "label", "embedding")
    for (t <- Seq(0.95, 0.5, 0.2)) {
      val ref = dedupCellsJoin(assign(embs, cells, cents), cells, cents, t)
      val got = sortedRows(Similarity.semDedup(embs, t), ref)
      assert(got == ref.collect().map(_.toString).sorted.toSeq, s"threshold $t")
      if (t == 0.2) assert(got.exists(_.endsWith(",0]")), "0.2 removes rows")
    }
  }

  private val assignedSchema = StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(DoubleType)),
    StructField("cell", IntegerType), StructField("vn", DoubleType)))

  /** Assigned rows `(id, v, cell)`, the norm computed as semDedup computes it. */
  private def assignedFrame(rows: Seq[(Long, Seq[Double], Int)], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (id, v, c) => Row(id, v, c) }, partitions),
      StructType(assignedSchema.fields.take(3))).withColumn("vn", Similarity.norm(col("v")))

  test("property: the cell kernel equals the join formulation on random cells, in any row order") {
    // components from a small grid and copies from a small pool, so exact
    // duplicates (similarity ties), scaled copies (cos ≈ 1), zero vectors and
    // zero centroids are common
    val comp = Gen.oneOf(-1.0, -0.5, 0.0, 0.25, 0.5, 1.0, 2.0)
    val vec = Gen.listOfN(3, comp)
    val fixture = for {
      threshold <- Gen.oneOf(-0.5, 0.0, 0.5, 0.8, 0.95, 1.0)
      nCells <- Gen.choose(1, 5)
      cents <- Gen.listOfN(nCells, vec)
      pool <- Gen.listOfN(4, vec)
      member = Gen.frequency(2 -> vec, 3 -> Gen.oneOf(pool), 1 -> Gen.oneOf(pool).map(_.map(_ * 2.0)))
      rows <- Gen.listOf(Gen.zip(Gen.choose(0, nCells - 1), member))
      seed <- Gen.long
    } yield (threshold, cents, rows.take(60), seed)
    val prop = Prop.forAllNoShrink(fixture) { case (threshold, cents, rows, seed) =>
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((0 until rows.size).map(_ * 7L + 3))
      val assigned = rows.zip(ids).map { case ((c, v), id) => (id, v, c) }
      val cells = cents.indices.toArray
      val table = cents.map(_.toArray).toArray
      val ref = dedupCellsJoin(assignedFrame(assigned, 2), cells, table, threshold)
      val want = ref.collect().map(_.toString).sorted.toSeq
      val got = sortedRows(Similarity.dedupCells(assignedFrame(assigned, 2), cells, table, threshold), ref)
      val shuffled = sortedRows(Similarity.dedupCells(assignedFrame(rnd.shuffle(assigned), 3), cells, table, threshold), ref)
      (Prop(got == want) :| s"kernel $got vs reference $want") &&
        (Prop(shuffled == want) :| s"shuffled rows $shuffled vs $want")
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(result.passed, result.status match {
      case Check.Failed(_, labels) => labels.mkString("\n")
      case other => other.toString
    })
  }

  test("semdedup edge cells: null, wrong-length and NaN vectors, ±0.0 and exact ties, a single-row cell") {
    val cells = Array(0, 1, 2)
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0))
    def row(id: Long, v: Seq[Double], cell: Integer, vn: java.lang.Double): Row = Row(id, v, cell, vn)
    def n(v: Seq[Double]): java.lang.Double = math.sqrt(v.map(x => x * x).sum)
    val rows = Seq(
      row(1, Seq(1.0, 0.1), 0, n(Seq(1.0, 0.1))),
      row(2, Seq(1.0, 0.1), 0, n(Seq(1.0, 0.1))),     // exact copy of 1: tie, the higher id goes
      row(3, Seq(1.0, Double.NaN), 0, Double.NaN),     // NaN similarity: ranks last, NaN ≥ threshold
      row(4, Seq(1.0, 0.0, 0.0), 0, 1.0),              // wrong length: null similarity
      row(5, null, 0, null),                           // null embedding: null similarity
      row(6, Seq(0.0, 0.0), 0, 0.0),                   // zero norm: similarity 0.0
      row(7, Seq(0.0, 1.0), 0, 1.0),                   // orthogonal: 0.0
      row(9, Seq(0.0, -2.0), 0, -2.0),                 // a negative norm gives −0.0, which ties 0.0
      row(20, Seq(0.3, 0.7), 1, n(Seq(0.3, 0.7))),     // single-row cell
      row(21, Seq(1.0, 0.0), 2, 1.0),
      row(22, Seq(0.0, 1.0), 2, 1.0),                  // ties 21, not near it
      row(23, Seq(2.0, 0.0), 2, 2.0),                  // ties 21 and is near it
      row(30, Seq(1.0, 0.0), null, 1.0),               // no cell
      row(40, Seq(1.0, 0.0), 5, 1.0))                  // a cell the table lacks
    val assigned = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), assignedSchema)
    for (t <- Seq(0.9, 0.0, -1.0)) {
      val ref = dedupCellsJoin(assigned, cells, cents, t)
      val got = sortedRows(Similarity.dedupCells(assigned, cells, cents, t), ref)
      assert(got == ref.collect().map(_.toString).sorted.toSeq, s"threshold $t")
      // 2 and 23 lose an exact tie to a lower id, 3 has a NaN similarity to
      // every row above it, and 9 ties 7 (−0.0 = 0.0) and is near it
      if (t == 0.9) assert(got.toSet == Set("[1,0,1]", "[2,0,0]", "[3,0,0]", "[4,0,1]", "[5,0,1]", "[6,0,1]",
        "[7,0,1]", "[9,0,0]", "[20,1,1]", "[21,2,1]", "[22,2,1]", "[23,2,0]"))
    }
  }

  test("AQE splits a planted hot bucket in the band-bucket self-join shape") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // shrink thresholds so the planted hot bucket counts as skewed at test scale
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one hot (band, bucket) key dominating the candidate join — the shape
      // Dedup.lshCandidates / nearDupPairsLsh produce when a bucket runs hot;
      // the md5 payload keeps the hot shuffle partition incompressibly large
      val hot = spark.range(0, 120000).select(
        col("id"), (col("id") % 13).as("band"), md5(col("id").cast("string")).as("payload"),
        when(col("id") % 100 === 0, col("id") % 7).otherwise(lit(0L)).as("bucket"))
      val right = spark.range(0, 3000).select(
        (col("id") % 8).as("bucket2"), col("id").as("rid"))
      // the aggregate keys on band (≠ join key), so the join output is
      // re-shuffled anyway and AQE is free to split the skewed partition
      val joined = hot.join(right, col("bucket") === col("bucket2"))
        .groupBy("band").agg(sum(length(col("payload"))).as("n"))
      joined.collect() // AQE finalizes the plan only after execution
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skewed") || plan.contains("isSkewJoin=true") ||
        plan.contains("skew=true"),
        s"AQE skew handling not visible in plan:\n$plan")
    } finally {
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }
}
