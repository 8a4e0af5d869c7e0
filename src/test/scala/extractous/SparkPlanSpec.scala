package extractous

import extractous.gen.CorpusGen
import extractous.spark.{functions => xf}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits — the scale contract, asserted (SURVEY.md §4):
  * the extraction hot path must stay a narrow projection (no shuffle), and
  * column pruning must reach the parquet scan.
  */
class SparkPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val corpusPath: String = {
    val p = java.nio.file.Files.createTempDirectory("corpus").toString
    CorpusGen.corpus(spark, sf).write.mode("overwrite").parquet(p)
    p
  }

  test("hot path has no shuffle: scan → project(extract_doc) → write shape") {
    val df = xf.extractFrame(spark.read.parquet(corpusPath), CorpusGen.flagshipConfig)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in hot path:\n$plan")
  }

  test("column pruning reaches the parquet scan (url, html only)") {
    val df = spark.read.parquet(corpusPath)
      .select(col("url"), xf.extract_doc(col("html"), CorpusGen.flagshipConfig).as("r"))
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html"))
    assert(!readSchema.contains("warc_ts") && !readSchema.contains("lang"),
      s"scan reads more columns than the projection needs: $readSchema")
  }

  test("partition-range filter is pushed to the scan") {
    val df = spark.read.parquet(corpusPath)
      .filter(col("warc_ts") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")))
      .select(col("url"), xf.sniff_mime(col("html")).as("m"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("warc_ts"), s"filter not pushed:\n$plan")
  }

  test("extract_doc is null-safe and typed: null payload row yields status 0 empty text") {
    import spark.implicits._
    val df = Seq(("u1", Array[Byte]()), ("u2", null.asInstanceOf[Array[Byte]]))
      .toDF("url", "html")
    val out = xf.extractFrame(df, CorpusGen.flagshipConfig).select("url", "text", "status").collect()
    assert(out.forall(r => r.getString(1) == "" && r.getInt(2) == 0))
  }

  test("sql registration works end-to-end") {
    xf.register(spark, CorpusGen.flagshipConfig)
    spark.read.parquet(corpusPath).createOrReplaceTempView("corpus_v")
    val n = spark.sql(
      "SELECT url, extract_doc(html).text AS t, sniff_mime(html) AS m FROM corpus_v WHERE sniff_mime(html) = 'text/html'")
      .count()
    assert(n > 0)
    // un-aliased columns are named after the function and its column argument
    val corpus = spark.read.parquet(corpusPath)
    assert(corpus.select(xf.extract_doc(col("html"))).columns.toSeq == Seq("extract_doc(html)"))
    assert(corpus.select(xf.sniff_mime(col("html"))).columns.toSeq == Seq("sniff_mime(html)"))
    assert(spark.sql("SELECT extract_doc(html), sniff_mime(html), warc_records(html) FROM corpus_v").columns.toSeq ==
      Seq("extract_doc(html)", "sniff_mime(html)", "warc_records(html)"))
  }

  test("extraction functions take BINARY only: a STRING column fails analysis; a zero chunk size fails at column build") {
    xf.register(spark, CorpusGen.flagshipConfig)
    val strings = spark.read.parquet(corpusPath).select(col("url"))
    strings.createOrReplaceTempView("strings_v")
    def rejected(df: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](df)
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    }
    Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      xf.extract_doc(_), xf.sniff_mime, xf.extract_stream(_), xf.warc_records)
      .foreach(f => rejected(strings.select(f(col("url")))))
    Seq("extract_doc", "sniff_mime", "warc_records")
      .foreach(f => rejected(spark.sql(s"SELECT $f(url) FROM strings_v")))
    // building the column throws, so no plan that fails every row is made
    intercept[IllegalArgumentException](xf.extract_stream(col("html"), chunkSize = 0))
  }

  /** `bit_xor(xxhash64(…))` over every output column of `extractFrame` on the
    * sf0.001 corpus (`metadata` as its sorted entries); taken when
    * `extract_doc` was a hand-written interpreted expression.
    */
  private val ExtractFrameDigest = 969987358756167427L

  test("extractFrame rows are the same at any input partitioning and with whole-stage codegen off") {
    def digest(df: org.apache.spark.sql.DataFrame): Long = {
      val out = xf.extractFrame(df, CorpusGen.flagshipConfig)
      val cols = out.columns.map(c => if (c == "metadata") map_entries(col(c)) else col(c))
      val r = out.agg(bit_xor(xxhash64(cols: _*)), count(lit(1))).head
      assert(r.getLong(1) == 500)
      r.getLong(0)
    }
    val corpus = spark.read.parquet(corpusPath)
    assert(digest(corpus) == ExtractFrameDigest)
    assert(digest(corpus.repartition(1)) == ExtractFrameDigest)
    assert(digest(corpus.repartition(7)) == ExtractFrameDigest)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(digest(corpus) == ExtractFrameDigest)
    finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("extraction composes with Structured Streaming (incremental crawl ingest)") {
    val schema = spark.read.parquet(corpusPath).schema
    val qn = "stream_extract_out"
    val q = xf.extractFrame(
        spark.readStream.schema(schema).parquet(corpusPath), CorpusGen.flagshipConfig)
      .select(col("url"), col("status"))
      .writeStream.format("memory").queryName(qn).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table(qn).count() == 500)
    assert(spark.table(qn).filter(col("status") === 0).count() == 495) // 5 corrupt rows (doc_id % 100 == 99)
  }

  test("typed dataset map stage equals expression path byte-for-byte") {
    import spark.implicits._
    val ds = spark.read.parquet(corpusPath).as[extractous.model.WebPage]
    val typed = xf.extractPages(ds, CorpusGen.flagshipConfig)
      .select("url", "text", "status").orderBy("url").collect()
    val expr = xf.extractFrame(ds.toDF(), CorpusGen.flagshipConfig)
      .select("url", "text", "status").orderBy("url").collect()
    assert(typed.sameElements(expr))
  }

  test("fused quality projection: langid + gopher + c4 + entropy in ONE scan, one codegen span") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fused = docs.select(org.apache.spark.sql.functions.col("doc_id") +:
      extractous.pipeline.TextStats.fusedQualityReport(
        org.apache.spark.sql.functions.col("text")).map { case (n, c) => c.as(n) }: _*)
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fused quality report must be narrow:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size max "FileScan".r.findAllIn(plan).size
    assert(scans == 1, s"k signals must share ONE corpus scan, found $scans:\n$plan")
    // `*(k)` marks operators inside whole-stage codegen span k: the fused
    // projection must be codegen'd (one HOF column here would knock the
    // whole Project out of codegen) and everything must share span 1
    assert(plan.trim.startsWith("*(1) Project"),
      s"the fused projection must be inside whole-stage codegen:\n$plan")
    assert("\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet == Set("1"),
      s"all codegen'd operators must share ONE span:\n$plan")
    // and it actually computes: every constituent column non-null on a row
    val row = fused.limit(1).collect()(0)
    assert((0 until row.length).forall(!row.isNullAt(_)))
  }
}
