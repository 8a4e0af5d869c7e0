package extractous.jobs

import extractous.config.ExtractorConfig
import extractous.gen.CorpusGen
import extractous.model.ExtractResult
import extractous.spark.{functions => xf}
import extractous.table.{LineageRow, NioLocalFileSystem, SnapshotTable}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

/** The production extraction job (spark-submit entry): corpus table in →
  * extracted table out, resumable from snapshot checkpoints.
  *
  * Scale design (north rule):
  *   - input is a `warc_day`-partitioned table; every pass carries a day
  *     predicate, so Catalyst partition pruning keeps unread days off disk;
  *   - the hot path is scan → project(extract_doc) in one codegen stage →
  *     write: NO shuffle. Skew and memory budgeting are handled at the file
  *     level (`spark.sql.files.maxPartitionBytes` caps bytes/task for the
  *     binary-heavy html column) — not by repartitioning extracted rows;
  *   - optional `salt`: pre-extraction repartition by hash(url), for runs that
  *     need output files balanced despite host-skewed inputs (host-0 carries
  *     ~50% of pages in the synthetic corpus). Off by default because it adds
  *     the only shuffle in the pipeline;
  *   - the days come from the input's partition index (the `warc_day`
  *     values partition discovery already found, as `yyyy-MM-dd`), so
  *     listing them runs no Spark job; `fromDay`/`toDay` are inclusive
  *     string bounds on that list. A day dir whose files hold no rows is
  *     committed with no files;
  *   - work is committed in groups of `groupSize` days: each group = one
  *     atomic snapshot with per-partition lineage rows. A restarted job skips
  *     every committed day (idempotent resume);
  *   - up to `defaultParallelism + 1` groups are in flight at once: each
  *     plans and runs its write on a pool thread that `run` owns, so one
  *     group's short write job does not leave the other cores idle while the
  *     driver plans and commits. The `+ 1` keeps a group committing on the
  *     driver while the others' tasks fill every slot, even at `local[1]`.
  *     The calling thread commits the groups strictly in day order, one at
  *     a time, so snapshot ids ascend with the days;
  *   - a failing group stops the run: every group before it stays
  *     committed, the writes of the groups after it are cancelled and
  *     awaited, their staging dirs are deleted, and its exception
  *     propagates. A rerun resumes from the committed days;
  *   - a pass runs no Spark job besides the input's schema read and one
  *     write per group: provenance columns (`part_id`, `input_file`) ride in
  *     the output table, and lineage rows and status counts are folded by the
  *     write job itself (`Dataset.observe`), so neither the raw corpus nor
  *     the staged output is read a second time;
  *   - the staging write goes through [[NioLocalFileSystem]], which sets file
  *     modes in-process instead of forking a `chmod` per file and stages no
  *     `.crc` or `_SUCCESS` files that the commit would only delete.
  */
object ExtractJob {

  final case class JobSummary(snapshots: Seq[Long], daysProcessed: Seq[String], docs: Long)

  def run(spark: SparkSession, inputDir: String, tableDir: String,
      cfg: ExtractorConfig = CorpusGen.flagshipConfig,
      groupSize: Int = 10, salt: Boolean = false,
      fromDay: Option[String] = None, toDay: Option[String] = None): JobSummary = {
    val table = new SnapshotTable(tableDir)
    table.init()
    val input = spark.read.parquet(inputDir)

    // sweep staging dirs orphaned by a crash between write and commit: a
    // fresh run stages anew, so anything still named .staging-* is provably
    // garbage (committed data lives under data/, referenced by the manifest)
    // — without this, each retry of a flaky group leaks a full-size copy.
    // Safe under the table's documented single-writer assumption (see
    // SnapshotTable.expire), which a concurrent-writer deployment must not
    // violate here either.
    try {
      SnapshotTable.listed(Files.list(Paths.get(tableDir)))(_
        .filter(p => p.getFileName.toString.startsWith(".staging-")).toSeq)
        .foreach(SnapshotTable.deleteRecursively)
    } catch { case _: Exception => () }

    val committed = table.committedDays
    val todo = partitionDays(input)
      .filter(d => fromDay.forall(d >= _) && toDay.forall(d <= _) && !committed(d))
    val pending = todo.grouped(groupSize)

    val sc = spark.sparkContext
    val window = sc.defaultParallelism + 1
    val pool = Executors.newFixedThreadPool(window, { (r: Runnable) =>
      val t = new Thread(r, "extract-job-write")
      t.setDaemon(true)
      t
    })
    def launch(days: Seq[String]): InFlight = {
      // stage INSIDE the table dir: the commit's ATOMIC_MOVE renames are then
      // guaranteed same-filesystem (a /tmp staging dir on another mount would
      // throw AtomicMoveNotSupportedException)
      val staging = Files.createTempDirectory(Paths.get(tableDir), ".staging-")
      val obs = Observation()
      // a tag, not a job group: the writes keep the caller's job group, so
      // cancelling that still reaches them
      val tag = s"extract-job-${UUID.randomUUID()}"
      InFlight(days, staging, obs, tag, pool.submit(new Callable[Unit] {
        def call(): Unit = {
          sc.addJobTag(tag)
          try write(spark, input, days, cfg, salt, obs, staging.toString)
          finally sc.removeJobTag(tag)
        }
      }))
    }

    val inFlight = mutable.Queue.empty[InFlight]
    val snapshots = Seq.newBuilder[Long]
    var totalDocs = 0L
    try {
      while (pending.hasNext || inFlight.nonEmpty) {
        while (pending.hasNext && inFlight.size < window) inFlight += launch(pending.next())
        // commit strictly in day order: the oldest group first, whatever
        // order the writes finish in
        val g = inFlight.head
        try g.written.get() catch { case e: ExecutionException => throw e.getCause }
        val (lineage, statusCounts) = observed(g.obs, g.days)
        totalDocs += lineage.map(_.doc_count).sum
        snapshots += table.commit(g.staging.toString, g.days, lineage, ExtractResult.Version, statusCounts)
        inFlight.dequeue()
        // drop the drained staging dir (the commit moved every part file out;
        // only the empty day dirs remain)
        try SnapshotTable.deleteRecursively(g.staging) catch { case _: Exception => () }
      }
    } catch { case e: Throwable =>
      // the groups before the failing one stay committed; cancel the running
      // writes of the rest (one still planning runs to its end), wait until
      // none of them can still write, then drop their staging so a rerun
      // starts clean from the committed days
      inFlight.foreach(g => sc.cancelJobsWithTag(g.tag))
      inFlight.foreach { g =>
        try g.written.get() catch { case _: Throwable => () }
        try SnapshotTable.deleteRecursively(g.staging) catch { case _: Exception => () }
      }
      throw e
    } finally pool.shutdown()
    JobSummary(snapshots.result(), todo, totalDocs)
  }

  /** One day group between launch and commit: its staging dir, the write's
    * observed metrics, the Spark job tag of its write and the write itself.
    */
  private final case class InFlight(days: Seq[String], staging: Path, obs: Observation, tag: String,
      written: Future[Unit])

  /** The input's days, sorted, from its partition index (no Spark job):
    * `warc_day` partition values read back as DATE, or as strings when type
    * inference is off; both compare as canonical `yyyy-MM-dd` strings.
    */
  private def partitionDays(input: DataFrame): Seq[String] = {
    val spec = input.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    } match {
      case Some(index: PartitioningAwareFileIndex) => index.partitionSpec()
      case other => throw new IllegalArgumentException(s"input is not a partitioned file table: $other")
    }
    val i = spec.partitionColumns.fieldIndex("warc_day")
    spec.partitions.map { p =>
      spec.partitionColumns(i).dataType match {
        case DateType   => LocalDate.ofEpochDay(p.values.getInt(i)).toString
        case StringType => p.values.getUTF8String(i).toString
        case t          => throw new IllegalArgumentException(s"warc_day partition values are $t, not dates")
      }
    }.distinct.sorted
  }

  /** Extract one day group into `staging`, partitioned by day; lineage and
    * status counts are folded by the write's own result stage into `obs`.
    */
  private def write(spark: SparkSession, input: DataFrame, days: Seq[String], cfg: ExtractorConfig,
      salt: Boolean, obs: Observation, staging: String): Unit = {
    // provenance stamped BEFORE any repartition: input_file_name() returns
    // "" once rows cross an exchange, which would silently blank lineage
    val slice0 = input.filter(col("warc_day").isin(days: _*))
      .withColumn("input_file", input_file_name())
    val slice = if (salt) slice0.repartition(spark.sparkContext.defaultParallelism, col("url")) else slice0
    val out = xf.extractFrame(slice, cfg, keep = Seq("warc_day", "input_file"))
      .withColumn("part_id", spark_partition_id())
      .withColumn("n_bytes", octet_length(col("text")))
    // the observe node sits above any salt exchange, where Spark applies each
    // task's accumulator update once even under retries or speculation
    val tallied = out.observe(obs, udaf(GroupTally).apply(col("part_id"), col("input_file"),
      coalesce(col("n_bytes").cast("long"), lit(0L)), col("status")).as("tally"))
    NioLocalFileSystem.write(tallied).mode("overwrite").partitionBy("warc_day").parquet(staging)
  }

  /** `Observation.get` waits without limit. The write has already returned when
    * this is read, so its metrics are one listener-bus hop away; a group whose
    * lineage does not arrive within this bound fails instead of committing.
    */
  private val ObservedMetricsWait = 2.minutes

  /** One day group's lineage rows (sorted by partition, input files distinct
    * and sorted) and status histogram (keys are `status.toString`).
    */
  private def observed(obs: Observation, group: Seq[String]): (Seq[LineageRow], Map[String, Long]) = {
    val tally =
      try Await.result(obs.future, ObservedMetricsWait).getStruct(0)
      catch { case e: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"no lineage observed for days ${group.mkString(",")} within $ObservedMetricsWait", e)
      }
    val lineage = tally.getMap[Int, Row](0).toSeq.map { case (part, p) =>
      LineageRow(part, p.getSeq[String](0).sorted, p.getLong(1), p.getLong(2), ExtractResult.Version)
    }.sortBy(_.partition_id)
    val statusCounts = tally.getMap[Int, Long](1).map { case (s, n) => s.toString -> n }.toMap
    (lineage, statusCounts)
  }

  private[jobs] final case class PartTally(files: Set[String], docs: Long, bytes: Long)
  private[jobs] final case class Tally(parts: Map[Int, PartTally], statuses: Map[Int, Long])

  /** (part_id, input_file, n_bytes, status) → per-partition lineage plus the
    * status histogram. The buffer is bounded by write tasks × input files and
    * the status codes: the same metadata a grouped collect would ship.
    */
  private[jobs] object GroupTally extends Aggregator[(Int, String, Long, Int), Tally, Tally] {
    def zero: Tally = Tally(Map.empty, Map.empty)
    def reduce(t: Tally, row: (Int, String, Long, Int)): Tally = {
      val (part, file, bytes, status) = row
      val p = t.parts.getOrElse(part, PartTally(Set.empty, 0L, 0L))
      Tally(t.parts.updated(part, PartTally(p.files + file, p.docs + 1, p.bytes + bytes)),
        t.statuses.updated(status, t.statuses.getOrElse(status, 0L) + 1))
    }
    def merge(a: Tally, b: Tally): Tally = Tally(
      b.parts.foldLeft(a.parts) { case (m, (part, q)) =>
        m.updated(part, m.get(part).fold(q)(p =>
          PartTally(p.files ++ q.files, p.docs + q.docs, p.bytes + q.bytes)))
      },
      b.statuses.foldLeft(a.statuses) { case (m, (s, n)) => m.updated(s, m.getOrElse(s, 0L) + n) })
    def finish(t: Tally): Tally = t
    def bufferEncoder: Encoder[Tally] = Encoders.product[Tally]
    def outputEncoder: Encoder[Tally] = Encoders.product[Tally]
  }

  /** spark-submit entry: ExtractJob <inputDir> <tableDir> [groupSize] [salt] */
  def main(args: Array[String]): Unit = {
    val inputDir = args(0)
    val tableDir = args(1)
    val groupSize = if (args.length > 2) args(2).toInt else 10
    val salt = args.length > 3 && args(3).toBoolean
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("extractous-extract-job")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // binary-column size-aware budgeting: bound bytes per task so payload-
      // heavy partitions fit executor memory at any scale
      .config("spark.sql.files.maxPartitionBytes", sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "67108864"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, inputDir, tableDir, groupSize = groupSize, salt = salt)
    println(s"[extract-job] snapshots=${s.snapshots.mkString(",")} days=${s.daysProcessed.size} docs=${s.docs}")
    spark.stop()
  }
}

/** Materializes the deterministic corpus as a `warc_day`-partitioned parquet
  * table (the job/bench input). Optional replication factor scales the corpus
  * for benchmarking (urls get a replica suffix; payloads identical per doc).
  */
object CorpusWriter {
  /** `replicate` multiplies row count; `fatten` multiplies per-page text size
    * (bench realism: real crawl pages are 20-100 KB, the seed texts ~0.3 KB).
    */
  def write(spark: SparkSession, sfDir: String, outDir: String, replicate: Int = 1,
      fatten: Int = 1): Long = {
    import spark.implicits._
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val docsDf =
      if (fatten <= 1) docs0
      else docs0.withColumn("text",
        concat_ws(" ", array_repeat(col("text"), fatten)))
    val base = CorpusGen.corpusFrom(docsDf).toDF()
      .withColumn("warc_day", date_format(col("warc_ts"), "yyyy-MM-dd"))
    val corpus =
      if (replicate <= 1) base
      else base.crossJoin(spark.range(replicate).select(col("id").as("replica")))
        .withColumn("url", concat(col("url"), lit("#r"), col("replica")))
        .drop("replica")
    // File layout (guide §6): the replicated bench corpus is split into
    // several files per day so the downstream scan has ≥ 2 waves of tasks per
    // core — one file per day yields exactly `days` splits, which under-fills
    // any cluster with more cores than days and lets the largest day gate the
    // stage. The per-day file count derives from the cluster's parallelism
    // (scale-adaptive, not a local-mode constant); the salt is deterministic
    // (url hash, never rand() — see SPARK-38388). The unreplicated corpus
    // (oracle/Verify scale) keeps the one-file-per-day layout of a real
    // day-partitioned crawl table.
    val files =
      if (replicate <= 1) corpus.repartition(col("warc_day"))
      else {
        val days = math.max(1L, base.select("warc_day").distinct().count())
        val filesPerDay = math.max(1L, math.min(32L,
          (6L * spark.sparkContext.defaultParallelism + days - 1) / days))
        corpus.repartition((days * filesPerDay).toInt, col("warc_day"),
          pmod(xxhash64(col("url")), lit(filesPerDay)))
      }
    NioLocalFileSystem.write(files).mode("overwrite").partitionBy("warc_day").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val replicate = if (args.length > 2) args(2).toInt else 1
    val fatten = if (args.length > 3) args(3).toInt else 1
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = write(spark, sfDir, outDir, replicate, fatten)
    println(s"[corpus-writer] wrote $n pages to $outDir")
    spark.stop()
  }
}
