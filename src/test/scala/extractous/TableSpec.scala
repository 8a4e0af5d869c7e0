package extractous

import extractous.core.Extract
import extractous.gen.CorpusGen
import extractous.jobs.{CorpusWriter, ExtractJob}
import extractous.model.ExtractResult
import extractous.table.{LineageRow, NioLocalFileSystem, SnapshotTable}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Snapshot table + resumable job: atomic commits, manifest-driven reads,
  * time travel, idempotent resume, per-partition lineage (north rule).
  */
class TableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val corpusDir: String = {
    val p = java.nio.file.Files.createTempDirectory("jobcorpus").toString
    CorpusWriter.write(spark, sf, p)
    p
  }

  test("compaction rewrites fragmented days; expire squashes history and GCs orphans") {
    val tableDir = java.nio.file.Files.createTempDirectory("tablec").toString
    // groupSize=5 → 6 snapshots; salt=true repartitions by url so each day is
    // written by several tasks → several part files per day (the small-files
    // problem compaction exists for)
    val s = ExtractJob.run(spark, corpusDir, tableDir, groupSize = 5, salt = true)
    assert(s.snapshots.size == 6)
    val table = new SnapshotTable(tableDir)
    val before = table.read(spark).orderBy("url").select("url", "text", "status")
      .collect().toSeq
    val filesBefore = table.allFiles().size
    val preCompactionSnap = table.currentSnapshotId.get

    val cid = table.compact(spark)
    assert(cid > preCompactionSnap)
    // every day collapsed to one file (tiny table, one output file per day)
    assert(table.allFiles().size == 30, s"expected 30 files, got ${table.allFiles().size}")
    assert(filesBefore > 30)
    // read-back identical after compaction
    val after = table.read(spark).orderBy("url").select("url", "text", "status").collect().toSeq
    assert(after == before)
    // time travel to the pre-compaction snapshot still sees the fragments
    assert(table.allFiles(Some(preCompactionSnap)).size == filesBefore)
    assert(table.read(spark, asOf = Some(preCompactionSnap)).count() == 500)
    // resume still recognizes every day as committed (no re-extraction)
    val s2 = ExtractJob.run(spark, corpusDir, tableDir, groupSize = 5)
    assert(s2.snapshots.isEmpty && s2.docs == 0)

    // convergence: a second compact() finds nothing to shrink and is a no-op
    assert(table.compact(spark) == cid, "re-compacting a compacted table must not rewrite")

    val eid = table.expire()
    assert(table.currentSnapshotId.contains(eid))
    assert(table.chain().size == 1, "expire must squash the chain")
    // orphan fragments physically gone, visible data intact
    val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(tableDir, "data"))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(dataFiles == 30, s"expected 30 data files after GC, got $dataFiles")
    val finalRows = table.read(spark).orderBy("url").select("url", "text", "status").collect().toSeq
    assert(finalRows == before)
    // lineage and status metrics survive the squash
    assert(table.chain().head.lineage.nonEmpty)
    assert(table.chain().head.status_counts.values.sum == 500)
  }

  test("merge: latest-wins upsert is one atomic snapshot; time travel crosses it; untouched days inherit") {
    import spark.implicits._
    val tableDir = java.nio.file.Files.createTempDirectory("tablem").toString
    val t = new SnapshotTable(tableDir)
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // base: 3 urls across 2 days
    val base = Seq(
      ("u/a", ts("2024-01-01"), "a v1"),
      ("u/b", ts("2024-01-01"), "b v1"),
      ("u/c", ts("2024-01-02"), "c v1")).toDF("url", "warc_ts", "text")
    t.merge(spark, base, "v1")
    val preMerge = t.currentSnapshotId.get
    val day2FilesBefore = t.visibleRelFiles().filter(_.contains("warc_day=2024-01-02"))
    // increment: recrawl u/a (later ts, SAME day), stale u/b (older ts — must
    // lose), new u/d on a new day; u/c's day is untouched
    val inc = Seq(
      ("u/a", ts("2024-01-05"), "a v2"),
      ("u/b", ts("2023-12-01"), "b STALE"),
      ("u/d", ts("2024-01-07"), "d new")).toDF("url", "warc_ts", "text")
    val mid = t.merge(spark, inc, "v2")
    assert(mid > preMerge)
    val now = t.read(spark).select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(now == Map("u/a" -> "a v2", "u/b" -> "b v1", "u/c" -> "c v1", "u/d" -> "d new"))
    // the recrawled row moved day: it lives in warc_day=2024-01-05 now
    val days = t.read(spark).filter(col("url") === "u/a")
      .select(date_format(col("warc_day"), "yyyy-MM-dd")).head.getString(0)
    assert(days == "2024-01-05")
    // time travel: the pre-merge snapshot still shows every v1 row
    val old = t.read(spark, asOf = Some(preMerge)).select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(old == Map("u/a" -> "a v1", "u/b" -> "b v1", "u/c" -> "c v1"))
    // copy-on-write scope: u/c's day had no matched/new key → its files are
    // INHERITED (identical relative paths), not rewritten
    val day2FilesAfter = t.visibleRelFiles().filter(_.contains("warc_day=2024-01-02"))
    assert(day2FilesAfter == day2FilesBefore, "untouched day must not be rewritten")
    // idempotence: re-merging the same increment changes no rows (ties favor
    // incoming, so the rewrite converges to the same content)
    t.merge(spark, inc, "v2")
    val again = t.read(spark).select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == now)
  }

  test("expire retention window spares young orphans (racing-commit safeguard)") {
    val tableDir = java.nio.file.Files.createTempDirectory("tabler").toString
    ExtractJob.run(spark, corpusDir, tableDir, groupSize = 30)
    val table = new SnapshotTable(tableDir)
    // a racing commit's staged-but-unpublished file: renamed into data/
    // moments ago, referenced by no manifest yet
    val staged = java.nio.file.Paths.get(tableDir, "data", "warc_day=2024-01-01", "racing-commit.parquet")
    java.nio.file.Files.write(staged, Array[Byte](1, 2, 3))
    val before = table.read(spark).count()
    val eid = table.expire(olderThanMs = 3600 * 1000L)
    assert(table.currentSnapshotId.contains(eid))
    assert(table.chain().size == 1, "window must not block the squash")
    assert(java.nio.file.Files.exists(staged), "young orphan must survive the window")
    assert(table.read(spark).count() == before)
    // a later strict expire (single-writer window) collects it
    table.expire()
    assert(!java.nio.file.Files.exists(staged), "strict expire collects the orphan")
    assert(table.read(spark).count() == before)
  }

  test("full job: 3 snapshots over 30 days, output matches direct extraction") {
    val tableDir = java.nio.file.Files.createTempDirectory("table1").toString
    val s = ExtractJob.run(spark, corpusDir, tableDir, groupSize = 10)
    assert(s.snapshots == Seq(0L, 1L, 2L))
    assert(s.daysProcessed.size == 30)
    assert(s.docs == 500)

    val table = new SnapshotTable(tableDir)
    val out = table.read(spark)
    assert(out.count() == 500)
    // spot-check byte identity vs a direct in-process extraction
    import spark.implicits._
    val sample = out.select("url", "text").as[(String, String)].collect().toMap
    val seed = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect().take(50)
    seed.foreach { case (id, text, lang) =>
      val expected = Extract(CorpusGen.payload(id, text, lang), CorpusGen.flagshipConfig).text
      assert(sample(CorpusGen.urlOf(id)) == expected, s"doc $id")
    }

    // resume is a no-op when everything is committed
    val s2 = ExtractJob.run(spark, corpusDir, tableDir, groupSize = 10)
    assert(s2.snapshots.isEmpty && s2.docs == 0)

    // time travel: snapshot 0 sees only the first 10 days
    val old = table.read(spark, asOf = Some(0L))
    assert(old.select("warc_day").distinct().count() == 10)
    assert(old.count() < 500)

    // lineage rows: doc counts sum to the corpus, files and version recorded
    val lineage = table.chain().flatMap(_.lineage)
    assert(lineage.map(_.doc_count).sum == 500)
    assert(lineage.forall(_.extractor_version.nonEmpty))
    assert(lineage.forall(_.input_files.nonEmpty))
    assert(lineage.map(_.bytes).sum > 0)

    // structured status metrics: ok + the corrupt codes, summing to the corpus
    val statuses = table.chain().flatMap(_.status_counts.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    assert(statuses.values.sum == 500)
    // corrupt ids 99,199,299,399,499: id%3==2 (299) → -2, the rest → -4
    assert(statuses("0") == 495 && statuses("-4") == 4 && statuses("-2") == 1)
  }

  test("resume after rollback recommits only missing days") {
    val tableDir = java.nio.file.Files.createTempDirectory("table2").toString
    ExtractJob.run(spark, corpusDir, tableDir, groupSize = 10)
    val table = new SnapshotTable(tableDir)
    // simulate a lost snapshot: roll CURRENT back to snapshot 0
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tableDir, "manifests", "CURRENT"), "0")
    assert(table.committedDays.size == 10)
    val s = ExtractJob.run(spark, corpusDir, tableDir, groupSize = 10)
    assert(s.daysProcessed.size == 20) // only the 20 uncommitted days
    assert(table.committedDays.size == 30)
    assert(table.read(spark).count() == 500)
  }

  test("day-range predicate prunes partitions at the scan") {
    val df = spark.read.parquet(corpusDir).filter(col("warc_day") === "2024-01-05")
    val plan = df.queryExecution.executedPlan.toString
    // partition pruning shows up as a partition filter, not a data filter
    assert(plan.contains("PartitionFilters") && plan.contains("warc_day"), plan)
    assert(df.count() > 0)
  }

  test("extraction hot path in the job has no shuffle (salt off)") {
    val slice = spark.read.parquet(corpusDir).filter(col("warc_day") <= "2024-01-03")
    val out = extractous.spark.functions.extractFrame(slice, CorpusGen.flagshipConfig, keep = Seq("warc_day"))
      .withColumn("part_id", spark_partition_id())
      .withColumn("input_file", input_file_name())
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hot path must stay narrow:\n$plan")
  }

  test("verification diff: produced table matches the generator-golden exactly") {
    import spark.implicits._
    val tableDir = java.nio.file.Files.createTempDirectory("tablediff").toString
    ExtractJob.run(spark, corpusDir, tableDir, groupSize = 30)
    val produced = new SnapshotTable(tableDir).read(spark)
    val golden = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang").as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (CorpusGen.urlOf(id), CorpusGen.expectedText(id, text, lang))
      }.toDF("url", "text")
    val s2 = extractous.jobs.DiffJob.summarize(spark, produced, golden)
    assert(s2.matched == 500 && s2.mismatched == 0 && s2.missing == 0 && s2.unexpected == 0)
  }

  test("host skew exists in the corpus and salted repartition balances it") {
    val corpus = spark.read.parquet(corpusDir)
    val hostCounts = corpus
      .groupBy(regexp_extract(col("url"), "host-(\\d+)", 1).as("host"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // generator gives host-0 ~50% of pages — a real hot-host profile
    assert(hostCounts("0") > 200 && hostCounts.size == 10)

    val parts = corpus.repartition(8, col("url"))
      .withColumn("p", spark_partition_id())
      .groupBy("p").count().collect().map(_.getLong(1))
    assert(parts.length == 8)
    assert(parts.max.toDouble / parts.min <= 1.5,
      s"salted partitions unbalanced: ${parts.mkString(",")}")
  }

  test("salted job (salt=true) produces the same committed rows") {
    val t1 = java.nio.file.Files.createTempDirectory("tsalt1").toString
    val t2 = java.nio.file.Files.createTempDirectory("tsalt2").toString
    ExtractJob.run(spark, corpusDir, t1, groupSize = 30, salt = false)
    ExtractJob.run(spark, corpusDir, t2, groupSize = 30, salt = true)
    import spark.implicits._
    val a = new SnapshotTable(t1).read(spark).select("url", "text", "status")
      .as[(String, String, Int)].collect().toSet
    val b = new SnapshotTable(t2).read(spark).select("url", "text", "status")
      .as[(String, String, Int)].collect().toSet
    assert(a == b)
    // provenance survives the salt repartition: input_file_name() returns ""
    // once rows cross an exchange, so it must be stamped pre-shuffle
    val lineage = new SnapshotTable(t2).chain().head.lineage
    assert(lineage.nonEmpty)
    val files = lineage.flatMap(_.input_files)
    assert(files.nonEmpty && files.forall(f => f.nonEmpty && f.contains("parquet")),
      s"salted lineage lost input files: ${files.take(3)}")
  }

  test("lineage and status counts equal a groupBy over each snapshot's committed rows (salt off and on)") {
    for (salt <- Seq(false, true)) {
      val tableDir = java.nio.file.Files.createTempDirectory("tlineage").toString
      val s = ExtractJob.run(spark, corpusDir, tableDir, groupSize = 10, salt = salt)
      assert(s.snapshots.size == 3)
      val table = new SnapshotTable(tableDir)
      s.snapshots.foreach { id =>
        val m = table.manifest(id)
        val rows = table.read(spark, asOf = Some(id))
          .filter(date_format(col("warc_day"), "yyyy-MM-dd").isin(m.committed_days: _*))
        val lineage = rows.groupBy(col("part_id"))
          .agg(collect_set(col("input_file")), count(lit(1)), sum(col("n_bytes")))
          .collect()
          .map(r => LineageRow(r.getInt(0), r.getSeq[String](1).sorted, r.getLong(2), r.getLong(3),
            ExtractResult.Version))
          .sortBy(_.partition_id).toSeq
        val statuses = rows.groupBy(col("status")).count().collect()
          .map(r => r.getInt(0).toString -> r.getLong(1)).toMap
        assert(m.lineage == lineage, s"salt=$salt snapshot $id lineage")
        assert(m.status_counts == statuses, s"salt=$salt snapshot $id status_counts")
      }
    }
  }

  test("the job never reads back its staging output") {
    val tableDir = java.nio.file.Files.createTempDirectory("tnoreread").toString
    val input = corpusDir // written before the listener starts recording
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan.foreach {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            fs.location.rootPaths.foreach(p => scanned.add(p.toString))
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ExtractJob.run(spark, input, tableDir, groupSize = 10, salt = true)
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val paths = scanned.toArray.map(_.toString)
    // the listener saw the job's own scans (each group's write reads the corpus)
    assert(paths.exists(_.contains(input)), paths.mkString(", "))
    val staged = paths.filter(p => p.contains(tableDir) && p.contains("/.staging-"))
    assert(staged.isEmpty, s"staging output was scanned: ${staged.mkString(", ")}")
  }

  test("readers ignore uncommitted orphan files") {
    val tableDir = java.nio.file.Files.createTempDirectory("table3").toString
    val s = ExtractJob.run(spark, corpusDir, tableDir, groupSize = 30)
    assert(s.snapshots == Seq(0L))
    val table = new SnapshotTable(tableDir)
    val before = table.read(spark).count()
    // drop an orphan parquet file into a data dir — a crashed writer remnant
    val day = java.nio.file.Paths.get(tableDir, "data").toFile.listFiles().head
    val orphanSrc = day.listFiles().head
    java.nio.file.Files.copy(orphanSrc.toPath, day.toPath.resolve("orphan-not-committed.parquet"))
    assert(table.read(spark).count() == before, "manifest-driven read must ignore orphans")
  }

  /** A copy of the directory tree at `dir`, so a test may change its files. */
  private def copyOf(dir: String): String = {
    val src = Paths.get(dir)
    val dst = Files.createTempDirectory("jobcopy")
    Using.resource(Files.walk(src))(_.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    })
    dst.toString
  }

  /** The input's `warc_day` partition values, sorted. */
  private def dayDirs(input: String): Seq[String] =
    new java.io.File(input).list().toSeq.filter(_.startsWith("warc_day=")).map(_.stripPrefix("warc_day=")).sorted

  private def stagingLeft(tableDir: String): Seq[String] =
    new java.io.File(tableDir).list().toSeq.filter(_.startsWith(".staging-"))

  /** Every committed row as JSON, sorted: the table's whole content. */
  private def rowsOf(t: SnapshotTable): Seq[String] = {
    import spark.implicits._
    t.read(spark).select(to_json(struct(col("*")))).as[String].collect().toSeq.sorted
  }

  /** Each snapshot's days, lineage, status counts and file count, oldest first. */
  private def manifestsOf(t: SnapshotTable) =
    t.chain().reverse.map(m => (m.committed_days, m.lineage, m.status_counts, m.files.size))

  test("a failing day group: the groups before it stay committed, no staging is left, and a rerun equals an uninterrupted run") {
    val input = copyOf(corpusDir)
    val days = dayDirs(input)
    assert(days.size == 30)
    // one data file of the middle group's sixth day, zeroed at its own length
    val bad = Using.resource(Files.list(Paths.get(input, s"warc_day=${days(15)}")))(
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq).head
    val original = Files.readAllBytes(bad)
    val tableDir = Files.createTempDirectory("tfail").toString
    Files.write(bad, new Array[Byte](original.length))
    try intercept[Exception](ExtractJob.run(spark, input, tableDir, groupSize = 10))
    finally Files.write(bad, original)
    val table = new SnapshotTable(tableDir)
    assert(table.chain().size == 1)
    assert(table.committedDays == days.take(10).toSet)
    assert(stagingLeft(tableDir).isEmpty, stagingLeft(tableDir))

    val resumed = ExtractJob.run(spark, input, tableDir, groupSize = 10)
    assert(resumed.daysProcessed == days.drop(10))
    assert(stagingLeft(tableDir).isEmpty, stagingLeft(tableDir))
    val wholeDir = Files.createTempDirectory("twhole").toString
    ExtractJob.run(spark, input, wholeDir, groupSize = 10)
    val whole = new SnapshotTable(wholeDir)
    assert(manifestsOf(table) == manifestsOf(whole))
    assert(rowsOf(table) == rowsOf(whole))
  }

  test("a pass runs one write job per day group and no job besides the schema read; snapshots ascend in day order") {
    val sc = spark.sparkContext
    val days = dayDirs(corpusDir)
    // more groups than the in-flight window of defaultParallelism + 1
    val n = math.min(days.size, sc.defaultParallelism + 3)
    val tableDir = Files.createTempDirectory("tjobs").toString
    // execution id (if any) and job tags of every job, and the plan of every
    // SQL execution
    val jobs = new ConcurrentLinkedQueue[(Option[Long], Option[String])]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("spark.sql.execution.id").map(_.toLong), prop("spark.job.tags")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val (readJobs, s) = try {
      spark.read.parquet(corpusDir)
      ListenerBusDrain.drain(sc)
      val read = jobs.asScala.toSeq
      jobs.clear()
      val s = ExtractJob.run(spark, corpusDir, tableDir, groupSize = 1, toDay = Some(days(n - 1)))
      ListenerBusDrain.drain(sc)
      (read, s)
    } finally sc.removeSparkListener(listener)

    assert(s.daysProcessed == days.take(n))
    assert(s.snapshots == s.snapshots.sorted && s.snapshots.distinct.size == n, s.snapshots)
    val table = new SnapshotTable(tableDir)
    assert(s.snapshots.map(table.manifest(_).committed_days) == days.take(n).map(Seq(_)))

    val all = jobs.asScala.toSeq
    def writesStaging(id: Long) = Option(plans.get(id)).exists(p =>
      p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(s"$tableDir/.staging-"))
    val (writes, other) = all.partition(_._1.exists(writesStaging))
    assert(writes.size == n, s"${writes.size} write jobs for $n groups")
    assert(writes.map(_._1).distinct.size == n, "every group's write is its own single-job execution")
    // each write carries a job tag of its own, which a failing run cancels
    assert(writes.flatMap(_._2).distinct.size == n, writes)
    assert(readJobs.size <= 1 && other.size == readJobs.size,
      s"jobs besides the writes: ${other.size}; a bare schema read runs ${readJobs.size}")
  }

  test("a day whose files hold zero rows is committed with no files, and a rerun does not list it again") {
    val input = copyOf(corpusDir)
    val last = dayDirs(input).last
    val empty = java.time.LocalDate.parse(last).plusDays(10).toString
    spark.read.parquet(corpusDir).drop("warc_day").limit(0).coalesce(1)
      .write.parquet(s"$input/warc_day=$empty")
    assert(new java.io.File(s"$input/warc_day=$empty").list().exists(_.endsWith(".parquet")))
    val tableDir = Files.createTempDirectory("tempty").toString
    val s = ExtractJob.run(spark, input, tableDir, groupSize = 1, fromDay = Some(last))
    assert(s.daysProcessed == Seq(last, empty))
    val table = new SnapshotTable(tableDir)
    val m = table.manifest(s.snapshots.last)
    assert(m.committed_days == Seq(empty))
    assert(m.files.isEmpty && m.lineage.isEmpty && m.status_counts.isEmpty, m)
    assert(table.committedDays == Set(last, empty))
    val again = ExtractJob.run(spark, input, tableDir, groupSize = 1, fromDay = Some(last))
    assert(again.daysProcessed.isEmpty && again.snapshots.isEmpty)
  }

  /** The command of every process the JVM starts while `body` runs, read back
    * from a JFR recording of `jdk.ProcessStart` alone. A `true` started inside
    * the recording shows that it sees process starts at all.
    */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val cmds =
      try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        body
        new ProcessBuilder("true").start().waitFor()
        rec.stop()
        val dump = Files.createTempFile("forks", ".jfr")
        try {
          rec.dump(dump)
          RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
        } finally Files.delete(dump)
      } finally rec.close()
    assert(cmds.contains("true"), s"the recording missed a process start: $cmds")
    cmds.filterNot(_ == "true")
  }

  private def chmodsIn(body: => Unit): Int = processesStartedBy(body).count(_.startsWith("chmod"))

  private def mergeBase: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    Seq(("u/a", ts("2024-01-01"), "a v1"), ("u/b", ts("2024-01-02"), "b v1")).toDF("url", "warc_ts", "text")
  }

  private def mergeIncrement: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    Seq(("u/a", ts("2024-01-05"), "a v2"), ("u/c", ts("2024-01-02"), "c new")).toDF("url", "warc_ts", "text")
  }

  test("the job, compact and merge start no chmod process") {
    val input = corpusDir // written before any recording starts
    val tableDir = Files.createTempDirectory("tforks").toString
    val table = new SnapshotTable(tableDir)
    // salt=true spreads each day over several files, so compact rewrites
    val job = chmodsIn(ExtractJob.run(spark, input, tableDir, groupSize = 5, salt = true))
    val before = table.currentSnapshotId.get
    val compact = chmodsIn(assert(table.compact(spark) > before))
    val merged = new SnapshotTable(Files.createTempDirectory("tforksm").toString)
    val merge = chmodsIn {
      merged.merge(spark, mergeBase, "v1")
      merged.merge(spark, mergeIncrement, "v2")
    }
    assert(merged.read(spark).count() == 3)
    assert(Seq(job, compact, merge) == Seq(0, 0, 0), "chmod processes started by ExtractJob.run, compact, merge")
  }

  test("written files and day dirs keep Hadoop's default modes, and no side files are left") {
    val dirMode = PosixFilePermissions.fromString("rwxr-xr-x")
    val fileMode = PosixFilePermissions.fromString("rw-r--r--")
    def list(p: Path): Seq[Path] = SnapshotTable.listed(Files.list(p))(_.toSeq.sortBy(_.toString))
    /** Every entry of `root` is a `warc_day=` dir holding only files named by
      * `file`; returns the number of files.
      */
    def checkDays(root: Path, file: scala.util.matching.Regex): Int = {
      val days = list(root)
      assert(days.nonEmpty && days.forall(_.getFileName.toString.startsWith("warc_day=")), days)
      days.map { d =>
        assert(Files.getPosixFilePermissions(d) == dirMode, d)
        val fs = list(d)
        fs.foreach { f =>
          assert(file.matches(f.getFileName.toString), s"unexpected file $f")
          assert(Files.isRegularFile(f) && Files.getPosixFilePermissions(f) == fileMode, f)
        }
        fs.size
      }.sum
    }
    // the corpus is written straight into its dir by Hadoop: its day dirs and
    // part files got their modes from the write's file system
    assert(checkDays(Paths.get(corpusDir), "part-.*\\.parquet".r) == 30)

    val tableDir = Files.createTempDirectory("tmodes").toString
    val table = new SnapshotTable(tableDir)
    ExtractJob.run(spark, corpusDir, tableDir, groupSize = 5, salt = true)
    val committed = "snap-\\d{5}-part-.*\\.parquet".r
    assert(checkDays(Paths.get(tableDir, "data"), committed) == table.allFiles().size)
    table.compact(spark)
    checkDays(Paths.get(tableDir, "data"), committed)
    assert(stagingLeft(tableDir).isEmpty && list(Paths.get(tableDir)).map(_.getFileName.toString) ==
      Seq("data", "manifests"))

    val merged = new SnapshotTable(Files.createTempDirectory("tmodesm").toString)
    merged.merge(spark, mergeBase, "v1")
    merged.merge(spark, mergeIncrement, "v2")
    assert(checkDays(Paths.get(merged.root, "data"), committed) > 0)

    // the writes bind their file system per write: the JVM's cached file:
    // file system that reads use is still Hadoop's checksummed one
    assert(FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[LocalFileSystem])
  }

  test("the in-process permission map equals Hadoop's rwx string for all 512 modes") {
    (0 until 512).foreach { m =>
      val hadoop = PosixFilePermissions.fromString(new FsPermission(m.toShort).toString)
      assert(NioLocalFileSystem.posix(m.toShort) == hadoop, f"mode $m%03o")
    }
  }
}
