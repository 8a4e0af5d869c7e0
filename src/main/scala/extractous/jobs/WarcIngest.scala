package extractous.jobs

import extractous.spark.{functions => xf}
import extractous.table.NioLocalFileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl ingest: `.warc`/`.warc.gz` files → the day-partitioned corpus table
  * that [[ExtractJob]] consumes — closing the loop crawl → corpus table →
  * extraction table (north rule: the corpus IS Common-Crawl-shaped pages).
  *
  * Plan shape at 100 TB: `binaryFile` scan → `explode(warc_records)` →
  * project → partitioned write. One narrow pass — each crawl file is decoded
  * once, on the executor that read it, with NO shuffle (the partitioned
  * write hash-routes rows by `warc_day` at write time, not via an Exchange,
  * because `partitionBy` on a write is a sort-within-partitions concern, not
  * a repartition). Crawl files are self-contained and ~1 GB each, so file
  * parallelism is the right unit; `spark.sql.files.maxPartitionBytes` is
  * irrelevant here because binaryFile never splits a file.
  */
object WarcIngest {

  /** Page rows of every WARC file under `warcDir` (lazy frame — compose or
    * write). `rec_type`/`content_type` ride along for downstream routing.
    */
  def pages(spark: SparkSession, warcDir: String): DataFrame =
    spark.read.format("binaryFile").load(warcDir)
      .select(col("path").as("input_file"), explode(xf.warc_records(col("content"))).as("rec"))
      .select(col("rec.url").as("url"),
        col("rec.payload").as("html"),
        // try_to_date: _error rows carry warc_date = "" and crawl files can
        // hold garbage dates — under Spark 4's ANSI defaults an unguarded
        // to_date("") is a task failure, which the accounting contract
        // forbids. Dateless-but-valid records coalesce to the epoch day: a
        // real page with a torn date must still be extracted, and a NULL
        // partition value would be invisible to ExtractJob's day walk.
        coalesce(try_to_date(substring(col("rec.warc_date"), 1, 10)),
          to_date(lit("1970-01-01"))).as("warc_day"),
        col("rec.rec_type").as("rec_type"),
        col("rec.content_type").as("record_content_type"),
        col("input_file"))

  /** Ingest observability: record counts by type — `response`/`conversion`/
    * `resource` are pages; `file_error`/`response_error` are ACCOUNTED
    * losses (torn crawl files, malformed HTTP messages) that
    * [[extractous.spark.WarcRecords]] surfaces as rows instead of dropping silently.
    * NOTE: this is its own pass over the crawl files — [[run]] decodes each
    * file exactly once for the table write; call this separately (or on a
    * sample) when the accounting is worth a second decode.
    */
  def recordStats(spark: SparkSession, warcDir: String): Map[String, Long] =
    pages(spark, warcDir).groupBy("rec_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Ingest into a corpus table readable by [[ExtractJob]]; returns the page
    * count actually committed (re-read from the written table, not the
    * input — the same trust-the-sink posture as the extract job). Error
    * rows are excluded from the table; run [[recordStats]] for the loss
    * accounting.
    */
  def run(spark: SparkSession, warcDir: String, corpusDir: String): Long = {
    val good = pages(spark, warcDir)
      .filter(!col("rec_type").endsWith("_error"))
      .select("url", "html", "warc_day")
    NioLocalFileSystem.write(good).mode("overwrite").partitionBy("warc_day").parquet(corpusDir)
    // re-read with the KNOWN schema: an all-error crawl writes zero part
    // files, and schema inference on an empty directory would throw instead
    // of reporting the honest count of 0 (losses stay countable via
    // recordStats, never a crash)
    spark.read.schema(good.schema).parquet(corpusDir).count()
  }

  /** spark-submit entry: `WarcIngest <warcGlob> <corpusDir>` — the stage
    * before `ExtractJob <corpusDir> <tableDir>`.
    */
  def main(args: Array[String]): Unit = {
    val warcDir = args(0)
    val corpusDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("extractous-warc-ingest")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = run(spark, warcDir, corpusDir)
    println(s"[warc-ingest] pages=$n -> $corpusDir")
    spark.stop()
  }
}
