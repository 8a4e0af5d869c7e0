package extractous.perfbench

import extractous.gen.CorpusGen
import extractous.jobs.ExtractJob
import extractous.pipeline.{Decontam, Dedup, LangId, Similarity, TextStats}
import extractous.spark.{functions => xf}
import extractous.table.SnapshotTable
import org.apache.spark.PerfbenchStats
import org.apache.spark.PerfbenchStats.{JobRec, TaskRec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Every per-layer metric a traced run prints, with its unit and direction.
  * Layers a workload bypasses print 0.
  */
object LayerNames {
  private def cpuAlloc(l: String) = Seq(s"$l.cpu_us" -> "us", s"$l.alloc_kb" -> "KB")
  /** (name, unit) in print order; BENCHMARK.json lists the same. */
  val all: Seq[(String, String)] =
    cpuAlloc("sniff") ++
    cpuAlloc("html") ++ Seq("html.dom_cpu_us" -> "us", "html.dom_alloc_kb" -> "KB",
      "html.blocks_cpu_us" -> "us", "html.keep_ratio" -> "ratio") ++
    cpuAlloc("pdf") ++ Seq("scan", "inflate", "content", "assemble").map(s => s"pdf.${s}_cpu_us" -> "us") ++
    cpuAlloc("ocr") ++ Seq("ocr.decode_cpu_us" -> "us") ++
    cpuAlloc("office") ++ Seq("office.unzip_cpu_us" -> "us") ++
    Seq("core.apply_cpu_us" -> "us", "core.apply_alloc_kb" -> "KB") ++
    Formats.All.map(f => s"core.extract_cpu_us.$f" -> "us") ++
    Formats.All.map(f => s"core.extract_alloc_kb.$f" -> "KB") ++
    Seq("core.wrap_cpu_us" -> "us", "core.container_cpu_us" -> "us", "core.text_cpu_us" -> "us",
      "core.member_ok_ratio" -> "ratio",
      "spark.encode_us" -> "us", "spark.residual_cpu_us" -> "us", "spark.task_cpu_share" -> "ratio",
      "spark.gc_share" -> "ratio", "spark.task_skew" -> "ratio", "spark.par_eff" -> "ratio",
      "spark.task_failures" -> "count",
      "jobs.extract_write_s" -> "s", "jobs.lineage_s" -> "s", "jobs.restage_read_ratio" -> "ratio",
      "jobs.out_mb" -> "MB", "table.commit_driver_s" -> "s", "table.snapshots" -> "count") ++
    Seq("langid", "quality", "exact_dedup", "minhash", "decontam", "semdedup").map(o => s"pipeline.${o}_s" -> "s") ++
    Seq("pipeline.shuffle_mb" -> "MB", "pipeline.spill_mb" -> "MB", "pipeline.kept_ratio" -> "ratio",
      "trace.residual_ratio" -> "ratio", "trace.overhead_ratio" -> "ratio")
}

/** Task-level Spark metrics summed over the traced passes of leg A. */
final class SparkTotals {
  var passes = 0
  var docs = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var failures = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val skews = mutable.ArrayBuffer.empty[Double]

  /** Adds the tasks of `timed` jobs; returns them for job-level use. */
  def add(stats: PerfbenchStats, timed: Seq[JobRec], docsInPass: Long): Seq[TaskRec] = {
    val stages = timed.flatMap(_.stageIds).toSet
    val ts = stats.taskList.filter(t => stages(t.stageId))
    passes += 1
    docs += docsInPass
    cpuNs += ts.map(_.cpuNs).sum
    runMs += ts.map(_.runMs).sum
    gcMs += ts.map(_.gcMs).sum
    failures += ts.count(_.failed)
    shuffleBytes += ts.map(_.shuffleWriteBytes).sum
    spillBytes += ts.map(_.spillBytes).sum
    ts
  }

  def metrics(applyAndEncodeUs: Double): Seq[(String, Double)] = Seq(
    "spark.residual_cpu_us" -> (cpuNs / 1e3 / math.max(1L, docs) - applyAndEncodeUs),
    "spark.task_cpu_share" -> cpuNs / 1e6 / math.max(1L, runMs),
    "spark.gc_share" -> gcMs.toDouble / math.max(1L, runMs),
    "spark.task_skew" -> Timing.median(skews.toSeq),
    "spark.task_failures" -> failures.toDouble)
}

object SparkTotals {
  def skew(durations: Seq[Long]): Double =
    if (durations.isEmpty) 0.0 else durations.max / math.max(1.0, Timing.median(durations.map(_.toDouble)))
}

/** Shared parts of the two extraction workloads: expected rows, the hash
  * check of a pass's output and the traced layer decomposition.
  */
abstract class ExtractionWorkload(protected val data: String) extends Workload {
  protected val input = s"$data/input"
  /** url → (xxhash64 of expected text, status, content type). */
  protected var expected: Map[String, (Long, Int, String)] = Map.empty
  protected val totals = new SparkTotals
  protected var timedStartMs = 0L
  protected var timedEndMs = 0L

  def firstDoc(spark: SparkSession): Unit =
    xf.extractFrame(spark.read.parquet(input).limit(1), CorpusGen.flagshipConfig).select("status").collect()

  def prepare(spark: SparkSession): Unit =
    expected = hashed(spark.read.parquet(s"$data/expected"))
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2), r.getString(3)))).toMap

  protected def hashed(df: DataFrame) =
    df.select(col("url"), xxhash64(col("text")), col("status"), col("content_type")).collect()

  /** Rows of `got` (url, hash, status, content type) that differ from
    * `want`, plus expected rows that are missing.
    */
  protected def mismatches(got: Array[org.apache.spark.sql.Row],
      want: Map[String, (Long, Int, String)]): Long = {
    val seen = mutable.HashSet.empty[String]
    val bad = got.count { r =>
      seen += r.getString(0)
      !want.get(r.getString(0)).exists(e => e._1 == r.getLong(1) && e._2 == r.getInt(2) && e._3 == r.getString(3))
    }
    bad + want.keys.count(k => !seen(k))
  }

  protected def timed[A](f: => A): (A, Double) = {
    timedStartMs = System.currentTimeMillis()
    val r = Timing.seconds(f)
    timedEndMs = System.currentTimeMillis()
    r
  }

  protected def timedJobs(stats: PerfbenchStats): Seq[JobRec] =
    stats.jobList.filter(j => j.startMs >= timedStartMs && j.startMs <= timedEndMs)

  def latencyDocs(spark: SparkSession): Array[Latency.Doc] = {
    val texts = spark.read.parquet(s"$data/expected").select("url", "text", "status", "content_type").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getString(3)))).toMap
    spark.read.parquet(input).select("url", "html").collect().map { r =>
      val (t, s, c) = texts(r.getString(0))
      Latency.Doc(r.getAs[Array[Byte]](1), t, s, c)
    }
  }

  /** Traced decomposition over the first `sample` rows in seed order. */
  protected def decompose(spark: SparkSession, sample: Int): mutable.LinkedHashMap[String, Double] = {
    val docs = spark.read.parquet(input).select("url", "html").collect().take(sample)
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val t = new Tracer
    val layers = new Layers(t, CorpusGen.flagshipConfig)
    val rounds = 4 // round 0 warms up and is dropped
    for (round <- 0 until rounds) {
      t.round = round
      docs.foreach { case (u, b) => layers.doc(u, b) }
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$data/trace"))
    t.write(s"$data/trace/spans.tsv")
    Decomposition.metrics(t, layers, docs.map { case (u, b) => u -> Formats.short(extractous.sniff.MimeSniffer.sniff(b)) }.toMap)
  }
}

/** Aggregation of a traced decomposition into per-layer metrics. */
object Decomposition {
  def metrics(t: Tracer, layers: Layers, formatOf: Map[String, String]): mutable.LinkedHashMap[String, Double] = {
    val n = formatOf.size.toDouble
    val spans = t.spans.filter(_.round > 0)
    val childCpu = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    val childAlloc = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach { s => if (s.parent >= 0) { childCpu(s.parent) += s.cpuNs; childAlloc(s.parent) += s.allocBytes } }
    // per round: self CPU and allocation by span name, summed over documents;
    // the metric is the median round, per workload document
    val byRound = spans.groupBy(_.round).values.toSeq
    def perDoc(name: String, alloc: Boolean): Double = Timing.median(byRound.map { ss =>
      ss.filter(_.name == name).map(s => if (alloc) s.allocBytes - childAlloc(s.id) else s.cpuNs - childCpu(s.id)).sum.toDouble
    }) / n / 1e3
    val m = mutable.LinkedHashMap.empty[String, Double]
    def cpu(metric: String, span: String): Unit = m(metric) = perDoc(span, alloc = false)
    def alloc(metric: String, span: String): Unit = m(metric) = perDoc(span, alloc = true)
    for (l <- Seq("sniff", "html", "pdf", "ocr", "office")) { cpu(s"$l.cpu_us", l); alloc(s"$l.alloc_kb", l) }
    cpu("html.dom_cpu_us", "html.dom"); alloc("html.dom_alloc_kb", "html.dom"); cpu("html.blocks_cpu_us", "html.blocks")
    m("html.keep_ratio") = layers.blocksKept.toDouble / math.max(1L, layers.blocksSeen)
    for (s <- Seq("scan", "inflate", "content", "assemble")) cpu(s"pdf.${s}_cpu_us", s"pdf.$s")
    cpu("ocr.decode_cpu_us", "ocr.decode")
    cpu("office.unzip_cpu_us", "office.unzip")
    cpu("core.apply_cpu_us", "apply"); alloc("core.apply_alloc_kb", "apply")
    val apply = spans.filter(_.name == "apply")
    for (f <- Formats.All) {
      val ofF = apply.filter(s => formatOf(s.doc) == f)
      val docsF = formatOf.count(_._2 == f).toDouble
      def med(g: Span => Long) = Timing.median(ofF.groupBy(_.round).values.toSeq.map(_.map(g).sum.toDouble))
      m(s"core.extract_cpu_us.$f") = if (docsF == 0) 0.0 else med(_.cpuNs) / docsF / 1e3
      m(s"core.extract_alloc_kb.$f") = if (docsF == 0) 0.0 else med(_.allocBytes) / docsF / 1e3
    }
    cpu("core.wrap_cpu_us", "core.wrap"); cpu("core.container_cpu_us", "core.container"); cpu("core.text_cpu_us", "text")
    m("core.member_ok_ratio") = layers.membersOk.toDouble / math.max(1L, layers.membersSeen)
    cpu("spark.encode_us", "spark.encode")
    // Σ of the top-level route spans against Extract.apply, per round
    m("trace.residual_ratio") = Timing.median(byRound.map { ss =>
      val route = ss.filter(s => s.parent < 0 && layers.RouteNames(s.name)).map(_.cpuNs).sum.toDouble
      val ap = ss.filter(_.name == "apply").map(_.cpuNs).sum.toDouble
      (route - ap) / ap
    })
    m
  }
}

final class Crawl(dataDir: String) extends ExtractionWorkload(dataDir) {
  val passSeconds = (2.5, 3.3)
  private var passNo = 0
  private var snapshots = 0
  private val jobTotals = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def pass(spark: SparkSession): Main.PassOut = {
    passNo += 1
    val table = s"$data/tables/t$passNo"
    val (summary, secs) = timed(ExtractJob.run(spark, input, table, CorpusGen.flagshipConfig,
      groupSize = Sizes.CrawlGroupDays))
    snapshots = summary.snapshots.size
    val bad = mismatches(hashed(new SnapshotTable(table).read(spark)), expected)
    Dirs.delete(table)
    Main.PassOut(expected.size, secs, bad)
  }

  def observe(stats: PerfbenchStats, p: Main.PassOut): Unit = {
    val jobs = timedJobs(stats)
    val tasks = stats.taskList
    def jobTasks(j: JobRec) = { val st = j.stageIds.toSet; tasks.filter(t => st(t.stageId)) }
    val (write, other) = jobs.partition(j => jobTasks(j).exists(_.outputBytes > 0))
    val extractTasks = totals.add(stats, write, p.docs)
    totals.skews += SparkTotals.skew(extractTasks.filterNot(_.failed).map(_.durationMs))
    jobTotals("write_s") += write.map(j => j.endMs - j.startMs).sum / 1e3
    jobTotals("lineage_s") += other.map(j => j.endMs - j.startMs).sum / 1e3
    jobTotals("out_bytes") += extractTasks.map(_.outputBytes).sum
    jobTotals("reread_bytes") += other.flatMap(jobTasks).map(_.inputBytes).sum
    // driver time in run() outside any Spark job: the union of job intervals
    // is taken off the timed wall time
    val busy = jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, end), (s, e)) => if (s >= end) (acc + e - s, e) else if (e > end) (acc + e - end, e) else (acc, end)
    }._1
    jobTotals("commit_s") += (timedEndMs - timedStartMs - busy) / 1e3
    jobTotals("snapshots") += snapshots
  }

  def layers(spark: SparkSession): mutable.LinkedHashMap[String, Double] = {
    val m = decompose(spark, Sizes.CrawlDocs / 10)
    m ++= totals.metrics(m("core.apply_cpu_us") + m("spark.encode_us"))
    val n = math.max(1, totals.passes).toDouble
    m("jobs.extract_write_s") = jobTotals("write_s") / n
    m("jobs.lineage_s") = jobTotals("lineage_s") / n
    m("jobs.restage_read_ratio") = jobTotals("reread_bytes") / math.max(1.0, jobTotals("out_bytes"))
    m("jobs.out_mb") = jobTotals("out_bytes") / 1e6 / n
    m("table.commit_driver_s") = jobTotals("commit_s") / n
    m("table.snapshots") = jobTotals("snapshots") / n
    m
  }
}

final class OfficeDocs(dataDir: String) extends ExtractionWorkload(dataDir) {
  val passSeconds = (0.6, 0.75)
  def pass(spark: SparkSession): Main.PassOut = {
    val (got, secs) = timed(hashed(xf.extractFrame(spark.read.parquet(input), CorpusGen.flagshipConfig)))
    Main.PassOut(expected.size, secs, mismatches(got, expected))
  }

  def observe(stats: PerfbenchStats, p: Main.PassOut): Unit = {
    val ts = totals.add(stats, timedJobs(stats), p.docs)
    totals.skews += SparkTotals.skew(ts.filter(_.inputBytes > 0).map(_.durationMs))
  }

  def layers(spark: SparkSession): mutable.LinkedHashMap[String, Double] = {
    val m = decompose(spark, Sizes.OfficeDocs / 5)
    m ++= totals.metrics(m("core.apply_cpu_us") + m("spark.encode_us"))
    m
  }
}

/** Curation over already-extracted text: language ID → quality gate →
  * exact dedup → MinHash near-dup removal → decontamination → SemDeDup.
  */
final class Curate(data: String) extends Workload {
  val passSeconds = (3.5, 3.3)
  private val input = s"$data/input"
  private val totals = new SparkTotals
  private var truth: Map[String, Seq[Seq[Long]]] = Map.empty
  private var ids: Seq[Long] = Nil
  private var passStartMs = 0L
  private var passEndMs = 0L
  private var lastKept = 0L

  def firstDoc(spark: SparkSession): Unit =
    spark.read.parquet(input).limit(1).select(LangId.predict(col("text"))).collect()

  def prepare(spark: SparkSession): Unit = {
    truth = scala.io.Source.fromFile(s"$data/truth.tsv", "UTF-8").getLines().toSeq
      .map(_.split('\t')).groupBy(_(0)).map { case (k, v) => k -> v.map(_(1).split(',').toSeq.map(_.toLong)) }
    ids = spark.read.parquet(input).select("id").collect().map(_.getLong(0)).toSeq
  }

  private def docs(spark: SparkSession) = spark.read.parquet(input)
  private def bench(spark: SparkSession) = spark.read.parquet(s"$data/bench")

  def pipeline(spark: SparkSession): DataFrame = {
    val a = docs(spark).withColumn("lang_pred", LangId.predict(col("text")))
      .filter(TextStats.isGood(col("text")) === 1)
    val reps = Dedup.byHash(a, "text", "id").select(col("keep_id").as("id"))
    val b = a.join(reps, Seq("id"), "left_semi")
    val near = Dedup.minhashNearDups(b, "id", "text", threshold = 0.8).select(col("id_b").as("id"))
    val c = b.join(near, Seq("id"), "left_anti")
    val clean = Decontam.flag(c, bench(spark), "text", "id").filter(col("contaminated") === 0).select("id")
    // semDedup reads its input twice (centroids, then assignment); the
    // checkpoint keeps the upstream operators from running once per read
    val d = c.join(clean, Seq("id"), "left_semi").localCheckpoint()
    val sem = Similarity.semDedup(d.select(col("id").as("vec_id"), col("embedding"), col("label")), threshold = 0.95)
    d.join(sem.filter(col("kept") === 1).select(col("id")), Seq("id"), "left_semi").select("id", "lang_pred")
  }

  def pass(spark: SparkSession): Main.PassOut = {
    passStartMs = System.currentTimeMillis()
    val (kept, secs) = Timing.seconds(pipeline(spark).select("id").collect().map(_.getLong(0)).toSet)
    passEndMs = System.currentTimeMillis()
    lastKept = kept.size
    Main.PassOut(ids.size, secs, keptMismatches(kept))
  }

  /** The kept set the injected ground truth implies: one row of each exact
    * group (the least id), the lower id of each near pair, no quoted row, and
    * exactly one row of each embedding pair (which one depends on centroid
    * distance, so either is accepted).
    */
  private def keptMismatches(kept: Set[Long]): Long = {
    val dropped = truth.getOrElse("dup", Nil).flatMap(_.tail) ++ truth.getOrElse("near", Nil).map(_(1)) ++
      truth.getOrElse("contaminated", Nil).map(_.head)
    val sem = truth.getOrElse("sem", Nil)
    val semIds = sem.flatten.toSet
    val expectKept = ids.toSet -- dropped -- semIds
    val wrong = ids.filter(i => !semIds(i) && kept(i) != expectKept(i)) ++ sem.filter(p => p.count(kept) != 1).map(_.head)
    if (wrong.nonEmpty) System.err.println(s"[perfbench] curate: kept set differs at ids ${wrong.take(20).mkString(",")}")
    wrong.size.toLong
  }

  /** The exact-duplicate groups and quoted rows, checked operator by
    * operator against the injected ground truth.
    */
  override def finalCheck(spark: SparkSession): Long = {
    val groups = Dedup.byHash(docs(spark), "text", "id").filter(col("cnt") > 1)
      .select("keep_id", "cnt").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantGroups = truth.getOrElse("dup", Nil).map(g => (g.min, g.size.toLong)).toSet
    val flagged = Decontam.flag(docs(spark), bench(spark), "text", "id").filter(col("contaminated") === 1)
      .select("id").collect().map(_.getLong(0)).toSet
    val wantFlagged = truth.getOrElse("contaminated", Nil).map(_.head).toSet
    val badGroups = (groups diff wantGroups) ++ (wantGroups diff groups)
    val badFlags = (flagged diff wantFlagged) ++ (wantFlagged diff flagged)
    if (badGroups.nonEmpty || badFlags.nonEmpty)
      System.err.println(s"[perfbench] curate: duplicate groups off by $badGroups, contaminated ids off by $badFlags")
    badGroups.size.toLong + badFlags.size.toLong
  }

  def latencyDocs(spark: SparkSession): Array[Latency.Doc] =
    docs(spark).select("text").collect().map { r =>
      val t = r.getString(0)
      Latency.Doc(t.getBytes(UTF_8), t, 0, extractous.sniff.MimeSniffer.Plain)
    }

  def observe(stats: PerfbenchStats, p: Main.PassOut): Unit = {
    val ts = totals.add(stats, stats.jobList.filter(j => j.startMs >= passStartMs && j.startMs <= passEndMs), p.docs)
    totals.skews += SparkTotals.skew(ts.filter(_.inputBytes > 0).map(_.durationMs))
  }

  def layers(spark: SparkSession): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= totals.metrics(0.0)
    val n = math.max(1, totals.passes).toDouble
    m("pipeline.shuffle_mb") = totals.shuffleBytes / 1e6 / n
    m("pipeline.spill_mb") = totals.spillBytes / 1e6 / n
    m("pipeline.kept_ratio") = lastKept.toDouble / ids.size
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "langid" -> (() => docs(spark).select(LangId.predict(col("text")))),
      "quality" -> (() => docs(spark).select(TextStats.isGood(col("text")))),
      "exact_dedup" -> (() => Dedup.byHash(docs(spark), "text", "id")),
      "minhash" -> (() => Dedup.minhashNearDups(docs(spark), "id", "text", threshold = 0.8)),
      "decontam" -> (() => Decontam.flag(docs(spark), bench(spark), "text", "id")),
      "semdedup" -> (() => Similarity.semDedup(docs(spark).select(col("id").as("vec_id"), col("embedding"), col("label")), 0.95)))
    // each operator alone on the raw input; interleaved reps, median of three
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    for (rep <- 0 until 4; (name, op) <- ops) {
      val s = Timing.seconds(noop(op()))._2
      if (rep > 0) times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    }
    ops.foreach { case (name, _) => m(s"pipeline.${name}_s") = Timing.median(times(name).toSeq) }
    m
  }
}

object Dirs {
  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
  }
}
