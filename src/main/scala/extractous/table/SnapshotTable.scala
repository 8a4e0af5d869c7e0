package extractous.table

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-STYLE table layer over partitioned Parquet (no Iceberg jar exists in
  * this environment — SURVEY.md §7.0): what the north rule needs from Iceberg,
  * implemented with the same core mechanics:
  *
  *   - data files live under `data/warc_day=YYYY-MM-DD/`, readers NEVER trust
  *     directory listings — the committed manifest chain is the source of truth
  *     (orphan files from crashed writers are invisible, exactly as in Iceberg);
  *   - a snapshot = JSON manifest (id, parent, committed partitions, file list,
  *     per-partition lineage rows) committed by write-temp + atomic rename;
  *     `CURRENT` is an atomically-swapped pointer file;
  *   - time travel = read any snapshot id; incremental resume = the set of
  *     committed `warc_day` partitions in the current snapshot chain;
  *   - `compact` and `merge` stage their parquet through [[NioLocalFileSystem]]
  *     (modes set in-process, no `chmod` fork, no `.crc` or `_SUCCESS` files).
  *
  * The interface is deliberately narrow so a real Iceberg catalog could be
  * dropped in behind it.
  */
final case class LineageRow(
    partition_id: Int,
    input_files: Seq[String],
    doc_count: Long,
    bytes: Long,
    extractor_version: String)

final case class Manifest(
    snapshot_id: Long,
    parent_id: Long, // -1 = none
    committed_days: Seq[String],
    files: Seq[String], // relative to table root
    lineage: Seq[LineageRow],
    /** structured metrics: extraction status code → row count (reference
      * error-taxonomy observability, /root/reference/errors.go:301-316 analogue)
      */
    status_counts: Map[String, Long] = Map.empty,
    extractor_version: String,
    /** Days whose files in OLDER snapshots this snapshot supersedes (set by
      * compaction rewrites). Readers walking the chain drop an ancestor's
      * files for any day a newer manifest lists here — Iceberg's
      * rewrite-data-files semantics. Absent (None) in pre-compaction
      * manifests.
      */
    replaced_days: Option[Seq[String]] = None)

final class SnapshotTable(val root: String) {
  import SnapshotTable.{deleteRecursively, listed}
  private val mapper = new ObjectMapper()
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
  // Map[String, Long] values lose their type to erasure — deserialize all
  // integral JSON numbers as Long so unboxing the counts never CCEs
  mapper.configure(DeserializationFeature.USE_LONG_FOR_INTS, true)

  private def manifestsDir: Path = Paths.get(root, "manifests")
  private def dataDir: Path = Paths.get(root, "data")
  private def currentPtr: Path = manifestsDir.resolve("CURRENT")

  def init(): Unit = {
    Files.createDirectories(manifestsDir)
    Files.createDirectories(dataDir)
  }

  def currentSnapshotId: Option[Long] =
    if (Files.exists(currentPtr)) Some(Files.readString(currentPtr).trim.toLong) else None

  def manifest(id: Long): Manifest =
    mapper.readValue(Files.readString(manifestsDir.resolve(f"snap-$id%05d.json")), classOf[Manifest])

  /** Snapshot chain, newest first, starting at `id` (default: current). */
  def chain(id: Option[Long] = currentSnapshotId): Seq[Manifest] = {
    val out = Seq.newBuilder[Manifest]
    var cur = id
    while (cur.isDefined && cur.get >= 0) {
      val m = manifest(cur.get)
      out += m
      cur = if (m.parent_id >= 0) Some(m.parent_id) else None
    }
    out.result()
  }

  def committedDays: Set[String] = chain().flatMap(_.committed_days).toSet

  private val dayRe = "warc_day=([^/]+)/".r

  private def dayOf(relFile: String): Option[String] =
    dayRe.findFirstMatchIn(relFile).map(_.group(1))

  /** Visible files at a snapshot, RELATIVE to the table root: chain walk
    * newest-first, dropping an ancestor's files for days a newer manifest
    * replaced (compaction rewrite semantics).
    */
  def visibleRelFiles(asOf: Option[Long] = currentSnapshotId): Seq[String] = {
    var replaced = Set.empty[String]
    val out = Seq.newBuilder[String]
    chain(asOf).foreach { m =>
      m.files.foreach { f =>
        if (!dayOf(f).exists(replaced)) out += f
      }
      // Option(...).flatten: manifests written before this field existed
      // deserialize it as null, not None
      replaced ++= Option(m.replaced_days).flatten.getOrElse(Nil)
    }
    out.result()
  }

  def allFiles(asOf: Option[Long] = currentSnapshotId): Seq[String] =
    visibleRelFiles(asOf).map(f => Paths.get(root, f).toString)

  /** Read the table at the current (or a historical) snapshot. Partition
    * column `warc_day` is recovered from the path layout via basePath, so
    * Catalyst partition pruning applies to day-range predicates.
    */
  def read(spark: SparkSession, asOf: Option[Long] = None): DataFrame = {
    val files = allFiles(asOf.orElse(currentSnapshotId))
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.option("basePath", dataDir.toString).parquet(files: _*)
  }

  /** Commit one snapshot: move the staged day-partitioned parquet output under
    * data/, then atomically publish the manifest + CURRENT pointer. Readers
    * see the snapshot only after the final atomic rename — a crash at any
    * earlier point leaves invisible orphans, never a torn table.
    */
  // next id = 1 + max over ALL existing manifests (not just the current
  // chain) so a rollback of CURRENT never collides with orphaned snapshots
  private def nextSnapshotId: Long = {
    val existing = listed(Files.list(manifestsDir))(_
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("snap-") && s.endsWith(".json") =>
        s.stripPrefix("snap-").stripSuffix(".json").toLong }
      .toSeq)
    (existing :+ -1L).max + 1
  }

  private def publish(m: Manifest): Long = {
    val tmp = manifestsDir.resolve(s".snap-${m.snapshot_id}.tmp")
    Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m))
    Files.move(tmp, manifestsDir.resolve(f"snap-${m.snapshot_id}%05d.json"), StandardCopyOption.ATOMIC_MOVE)
    val ptrTmp = manifestsDir.resolve(".CURRENT.tmp")
    Files.writeString(ptrTmp, m.snapshot_id.toString)
    Files.move(ptrTmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    m.snapshot_id
  }

  def commit(stagingDir: String, days: Seq[String], lineage: Seq[LineageRow],
      version: String, statusCounts: Map[String, Long] = Map.empty,
      replacedDays: Seq[String] = Seq.empty): Long = {
    init()
    val snapId = nextSnapshotId
    // gather all pending (src, dst, rel) moves, then rename in parallel —
    // renames are per-file atomic and invisible until the manifest publishes,
    // but hundreds of serial metadata ops would become the job's Amdahl tail
    val moves = days.flatMap { day =>
      val src = Paths.get(stagingDir, s"warc_day=$day")
      if (!Files.exists(src)) Seq.empty
      else {
        val dst = dataDir.resolve(s"warc_day=$day")
        Files.createDirectories(dst)
        listed(Files.list(src))(_
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            val name = f"snap-$snapId%05d-${p.getFileName.toString}"
            (p, dst.resolve(name), s"data/warc_day=$day/$name")
          }.toSeq)
      }
    }
    moves.asJava.parallelStream().forEach { t =>
      try Files.move(t._1, t._2, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // cross-filesystem staging (externally-created): fall back to
        // copy+rename — still invisible until the manifest publishes
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(t._1, t._2, StandardCopyOption.REPLACE_EXISTING)
      }
      ()
    }
    val rel = Seq.newBuilder[String]
    moves.foreach { case (_, _, r) => rel += r }
    publish(Manifest(snapId, currentSnapshotId.getOrElse(-1L), days, rel.result(),
      lineage, statusCounts, version,
      if (replacedDays.isEmpty) None else Some(replacedDays)))
  }

  /** Iceberg-style rewrite-data-files: every day whose visible file count
    * exceeds 1 (and is under-sized vs `targetFileBytes`) is re-read and
    * rewritten as ⌈bytes/target⌉ files, committed as ONE new snapshot whose
    * `replaced_days` supersedes the fragments. Time travel to pre-compaction
    * snapshots still sees the original files (nothing is deleted here — that
    * is [[expire]]'s job), and a crash mid-compaction leaves only invisible
    * staging/orphans, never a torn table. Returns the new snapshot id, or
    * the current one when nothing needs compacting.
    */
  def compact(spark: SparkSession, targetFileBytes: Long = 128L << 20): Long = {
    val byDay = visibleRelFiles().groupBy(f => dayOf(f).getOrElse(""))
    val toCompact = byDay.filter { case (day, fs) =>
      // only rewrite when it actually SHRINKS the file count — otherwise a
      // day of right-sized files would be fully rewritten on every
      // maintenance run, never converging
      day.nonEmpty && fs.length > 1 && {
        val total = fs.map(f => Files.size(Paths.get(root, f))).sum
        math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt) < fs.length
      }
    }
    if (toCompact.isEmpty) return currentSnapshotId.getOrElse(-1L)
    val staging = Files.createTempDirectory(Paths.get(root), ".compact")
    try {
      toCompact.toSeq.sortBy(_._1).foreach { case (day, fs) =>
        val abs = fs.map(f => Paths.get(root, f).toString)
        val totalBytes = fs.map(f => Files.size(Paths.get(root, f))).sum
        val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
        val rows = spark.read.option("basePath", dataDir.toString).parquet(abs: _*)
          .drop("warc_day") // path layout carries the partition value
          .coalesce(nOut)
        NioLocalFileSystem.write(rows).mode("overwrite").parquet(staging.resolve(s"warc_day=$day").toString)
      }
      val days = toCompact.keys.toSeq.sorted
      commit(staging.toString, days, lineage = Seq.empty,
        version = chain().head.extractor_version,
        statusCounts = Map.empty, replacedDays = days)
    } finally deleteRecursively(staging)
  }

  /** Iceberg `MERGE INTO` analog for the recrawl loop: copy-on-write upsert
    * keyed by `url`, latest `warc_ts` wins (ties favor the INCOMING row, so
    * re-ingesting the same crawl day is an idempotent overwrite, and equal
    * timestamps within the increment resolve by content hash — fully
    * deterministic across parallelism). Committed as ONE atomic snapshot:
    * only partitions that contain matched or new keys are rewritten
    * (`replaced_days`); untouched days' files are inherited through the
    * manifest chain, and time travel to the pre-merge snapshot still sees
    * the old rows.
    *
    * 100 TB shape: the increment is the small side — the two url-keyed
    * joins broadcast it; the big side is read ONCE with day-partition
    * pruning on the second pass (only affected days are re-read and
    * rewritten, the Iceberg copy-on-write contract). No windows, no global
    * sorts.
    *
    * `incoming` must carry `url` and `warc_ts` (timestamp); `warc_day` is
    * derived from `warc_ts` — a recrawl moving a url to a new day rewrites
    * BOTH days (the old row is dropped from its old partition).
    */
  def merge(spark: SparkSession, incoming: DataFrame, extractorVersion: String): Long = {
    import org.apache.spark.sql.functions._
    init()
    val incDay = incoming.withColumn("warc_day", date_format(col("warc_ts"), "yyyy-MM-dd"))
    val cols = incDay.columns.toSeq
    // one winner per url WITHIN the increment: (warc_ts, content hash) order
    val ord = struct(col("warc_ts"), xxhash64(concat_ws(" ", cols.map(col): _*)))
    val incW = incDay.groupBy(col("url"))
      .agg(max_by(struct(cols.map(col): _*), ord).as("_r"))
      .select(col("_r.*"))
    val staging = Files.createTempDirectory(Paths.get(root), ".merge")
    try {
      val (staged, days) =
        if (currentSnapshotId.isEmpty) {
          val ds = incW.select(col("warc_day")).distinct().collect().map(_.getString(0)).toSeq
          (incW, ds)
        } else {
          // partition-column type inference reads warc_day back as DATE;
          // normalize to the canonical string form so day-set arithmetic and
          // the union with the increment are type-stable
          val current = read(spark)
            .withColumn("warc_day", date_format(col("warc_day"), "yyyy-MM-dd"))
          // metadata-sized collect: the DISTINCT days touched by a matched
          // key (bounded by the calendar, not the corpus)
          val matchedDays = current.join(broadcast(incW.select("url")), "url")
            .select(col("warc_day")).distinct().collect().map(_.getString(0))
          val incDays = incW.select(col("warc_day")).distinct().collect().map(_.getString(0))
          val days = (matchedDays ++ incDays).distinct.sorted.toSeq
          // second pass over ONLY the affected partitions (pruned scan)
          val affected = current.filter(col("warc_day").isin(days: _*))
          val survivors = affected
            .join(broadcast(incW.select(col("url"), col("warc_ts").as("_inc_ts"))), Seq("url"), "left")
            .filter(col("_inc_ts").isNull || col("_inc_ts") < col("warc_ts"))
            .drop("_inc_ts")
          val curTs = affected.groupBy(col("url")).agg(max(col("warc_ts")).as("_cur_ts"))
          val inserted = incW.join(broadcast(curTs), Seq("url"), "left")
            .filter(col("_cur_ts").isNull || col("warc_ts") >= col("_cur_ts"))
            .drop("_cur_ts")
          (survivors.select(cols.map(col): _*).unionByName(inserted.select(cols.map(col): _*)), days)
        }
      NioLocalFileSystem.write(staged).mode("overwrite").partitionBy("warc_day").parquet(staging.toString)
      commit(staging.toString, days, lineage = Seq.empty, version = extractorVersion,
        statusCounts = Map.empty, replacedDays = days)
    } finally deleteRecursively(staging)
  }

  /** Iceberg's expire-snapshots + remove-orphan-files, for a chain-manifest
    * layout: squash the CURRENT visible state into one self-contained
    * manifest (committed days, visible files, concatenated lineage, summed
    * status counts), then delete every older manifest and every data file no
    * longer referenced. History is gone by design — run it when the
    * time-travel window may be dropped.
    *
    * SINGLE-WRITER REQUIREMENT, with a belt-and-braces knob: at the default
    * `olderThanMs = 0` expire() deletes every data file the squashed
    * manifest doesn't reference, with no age threshold — a concurrent
    * commit whose files are already renamed into data/ but whose manifest
    * is not yet published would have those files deleted out from under it
    * (the hazard Iceberg's remove-orphan-files mitigates with `older_than`).
    * Run it only while no other writer is active; the table's commit
    * protocol is single-writer by design (see [[commit]]). Passing
    * `olderThanMs > 0` adds that same Iceberg safeguard: orphan data files
    * and non-current manifests whose mtime is within the window are left in
    * place for a later expire, so a racing commit's staged-but-unpublished
    * files survive. The squash itself still assumes the read snapshot is
    * current — the window protects files, not the squashed history.
    */
  def expire(olderThanMs: Long = 0L): Long = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def oldEnough(p: Path): Boolean =
      olderThanMs <= 0L || Files.getLastModifiedTime(p).toMillis <= cutoff
    val cur = currentSnapshotId.getOrElse(return -1L)
    val ms = chain(Some(cur))
    val visible = visibleRelFiles(Some(cur))
    val squashed = Manifest(
      nextSnapshotId, -1L,
      ms.flatMap(_.committed_days).distinct.sorted,
      visible,
      ms.flatMap(_.lineage),
      ms.flatMap(_.status_counts.toSeq).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum },
      ms.head.extractor_version)
    val id = publish(squashed)
    // orphan GC: every non-squash manifest, every unreferenced data file
    listed(Files.list(manifestsDir))(_.toSeq).foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("snap-") && n != f"snap-$id%05d.json" && oldEnough(p)) Files.delete(p)
    }
    val keep = visible.map(f => Paths.get(root, f).normalize).toSet
    listed(Files.walk(dataDir))(_.toSeq)
      .filter(p => Files.isRegularFile(p) && !keep(p.normalize) && oldEnough(p))
      .foreach(Files.delete)
    // staging left by a compact() whose JVM died mid-write (the in-process
    // path cleans up via finally; this covers hard kills)
    listed(Files.list(Paths.get(root)))(_.toSeq)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(".compact"))
      .foreach(deleteRecursively)
    id
  }
}

object SnapshotTable {
  /** Files.list/Files.walk hold an open directory fd until closed — a
    * long-running driver committing many snapshots would otherwise leak fds
    * toward the ulimit. Every listing of table and staging dirs drains
    * through here.
    */
  private[extractous] def listed[A](st: java.util.stream.Stream[Path])(f: Iterator[Path] => A): A =
    try f(st.iterator().asScala) finally st.close()

  private[extractous] def deleteRecursively(p: Path): Unit =
    listed(Files.walk(p))(_.toSeq).reverse.foreach(Files.delete)
}
