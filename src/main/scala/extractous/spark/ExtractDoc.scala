package extractous.spark

import extractous.config.ExtractorConfig
import extractous.core.Extract
import extractous.model.{ExtractResult, ExtractedDoc, WebPage}
import extractous.sniff.MimeSniffer
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.xbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The extraction kernels behind the Spark SQL / DataFrame surface.
  *
  * `extract_doc`, `extract_stream`, `sniff_mime` and `warc_records` are
  * `StaticInvoke` calls of the methods below (the same kernel pattern as the
  * pipeline kernels), each under its own SQL function name through
  * [[ColumnBridge.function]]. Catalyst sees a null-safe, deterministic,
  * prunable expression over a BINARY column (SURVEY.md §4.4): column pruning
  * keeps the scan at `url, html`, the hot path is one narrow `ProjectExec`
  * fused into the scan's whole-stage codegen span, and a poison row maps to
  * a status column instead of a task failure. The configuration and chunk
  * size are plan constants. A null payload reaches the kernel (the calls do
  * not propagate nulls): it is a valid, empty document.
  */
object ExtractDocExpr {
  val metadataType: DataType = MapType(StringType, ArrayType(StringType, containsNull = false), valueContainsNull = false)
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("xml", StringType, nullable = false),
    StructField("metadata", metadataType, nullable = false),
    StructField("status", IntegerType, nullable = false),
    StructField("error", StringType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("extractor_version", StringType, nullable = false)))
  val streamSchema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_chunks", IntegerType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false)))

  def toInternalRow(r: ExtractResult): InternalRow = {
    val keys = r.metadata.keys.toArray.sorted
    val mapData = new ArrayBasedMapData(
      new GenericArrayData(keys.map(k => UTF8String.fromString(k)).asInstanceOf[Array[Any]]),
      new GenericArrayData(keys.map(k => new GenericArrayData(
        r.metadata(k).map(v => UTF8String.fromString(v)).toArray.asInstanceOf[Array[Any]])).asInstanceOf[Array[Any]]))
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(r.text),
      UTF8String.fromString(r.xml),
      mapData,
      r.status,
      UTF8String.fromString(r.error),
      UTF8String.fromString(r.contentType),
      UTF8String.fromString(ExtractResult.Version)))
  }

  /** `extract_doc`: one document's [[schema]] row. A null payload is the
    * empty document, status 0 (reference extractor.go:457-459).
    */
  def extract(bytes: Array[Byte], cfg: ExtractorConfig): InternalRow = toInternalRow(Extract(bytes, cfg))

  /** `sniff_mime`: the cheap magic-byte MIME sniff — the dispatch predicate
    * exposed standalone so corpus-level routing (e.g. "only OCR the image
    * rows") can be a Catalyst filter that prunes work before the expensive
    * parse (SURVEY.md §4, OCR-Auto analogue).
    */
  def sniff(bytes: Array[Byte]): UTF8String = UTF8String.fromString(MimeSniffer.sniff(bytes))

  /** `extract_stream`: extraction through the chunked-stream consumer
    * (reference stream path: ExtractBytesToStream + Read loop, #3/#32/#33 in
    * SURVEY §2.1) — the text reassembled from bounded chunks, with the chunk
    * count and byte count ([[streamSchema]]). The EOF/partial-read contract
    * is exercised per row, and the text must equal the string path
    * byte-for-byte.
    */
  def stream(bytes: Array[Byte], cfg: ExtractorConfig, chunkSize: Int): InternalRow = {
    val r = Extract(bytes, cfg)
    val out = new java.io.ByteArrayOutputStream()
    var n = 0
    Extract.stream(r, chunkSize).foreach { chunk =>
      require(chunk.length <= chunkSize, "stream chunk exceeds requested size")
      out.write(chunk)
      n += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromBytes(out.toByteArray), n, out.size()))
  }
}

/** The `warc_records` kernel, the WARC ingest surface: one Common-Crawl
  * `.warc`/`.warc.gz` file → the array of its records as `(url, warc_date,
  * rec_type, content_type, payload)` structs, HTTP responses already decoded
  * to their entity bytes (chunked framing removed, gzip Content-Encoding
  * inflated). `explode(warc_records(content))` over a `binaryFile` scan is
  * the ingest plan that POPULATES the corpus table the rest of the engine
  * reads (north rule: "Iceberg table of Common-Crawl-style web pages") — a
  * narrow per-file transform: no shuffle, parallel over files, each file
  * decoded once on the executor that read it.
  *
  * Error posture matches ingest reality — losses are ACCOUNTED, never
  * silent, and never a task failure: structural corruption truncates the
  * file at the torn record and appends a `rec_type = "file_error"` row (the
  * gigabyte of good pages before a torn tail survives); a response whose
  * HTTP message is malformed becomes a `rec_type = "response_error"` row.
  * Both carry the error text in `content_type` and an empty payload, so
  * ingest observability is one `groupBy(rec_type).count()` away and the
  * page path is a simple `rec_type = 'response'` filter.
  */
object WarcRecords {
  val recordType: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("rec_type", StringType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))
  val dataType: DataType = ArrayType(recordType, containsNull = false)

  private def row(url: String, date: String, recType: String, ctype: String,
      payload: Array[Byte]): GenericInternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(url), UTF8String.fromString(date),
      UTF8String.fromString(recType), UTF8String.fromString(ctype), payload))

  private def trimMsg(m: String): String =
    if (m.length > 200) m.substring(0, 200) else m

  private def trimMsg(e: Exception): String =
    trimMsg(if (e.getMessage == null) e.toString else e.getMessage)

  def records(bytes: Array[Byte]): ArrayData = {
    // SQL NULL carried no file at all — not a loss, no phantom accounting
    if (bytes == null) return new GenericArrayData(Array.empty[Any])
    if (bytes.isEmpty)
      // a 0-byte crawl file (torn upload) IS a loss — account it
      return new GenericArrayData(Array[Any](row("", "", "file_error", "empty input", Array.emptyByteArray)))
    val plain =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
        try extractous.core.Extract.gunzip(bytes, maxOut = 1 << 30)
        catch {
          case e: Exception =>
            return new GenericArrayData(Array[Any](row("", "", "file_error", trimMsg(e), Array.emptyByteArray)))
        }
      else bytes
    val (recs, fileErr) = extractous.core.WarcExtractor.recordsLenient(plain)
    val rows = recs.flatMap { rec =>
      rec.warcType match {
        case "response" if rec.contentType.startsWith("application/http") =>
          try Some(row(rec.targetUri, rec.date, rec.warcType, rec.contentType,
            extractous.core.WarcExtractor.httpBody(rec.block)))
          catch {
            case e: Exception =>
              Some(row(rec.targetUri, rec.date, "response_error", trimMsg(e), Array.emptyByteArray))
          }
        case "response" =>
          // a response record whose Content-Type is not application/http
          // (missing header, exotic value) is a LOSS and must be accounted —
          // "losses are ACCOUNTED, never silent" is this source's contract
          Some(row(rec.targetUri, rec.date, "response_error",
            s"non-http response content-type '${rec.contentType}'", Array.emptyByteArray))
        case "resource" | "conversion" =>
          Some(row(rec.targetUri, rec.date, rec.warcType, rec.contentType, rec.block))
        case _ => None // warcinfo/request/metadata: structural skip by design
      }
    } ++ fileErr.map(msg => row("", "", "file_error", trimMsg(msg), Array.emptyByteArray))
    new GenericArrayData(rows.toArray[Any])
  }
}

/** Column-level API + typed Dataset API + SQL registration. */
object functions {
  /** A payload kernel as the SQL function `name` over one BINARY column; a
    * null payload reaches the kernel.
    */
  private def payload(name: String, kernel: AnyRef, method: String, dataType: DataType)(args: Any*): Column =
    ColumnBridge.function(name, Seq(BinaryType), kernel, method, dataType, propagateNull = false)(args: _*)

  def extract_doc(c: Column, cfg: ExtractorConfig = ExtractorConfig.default): Column =
    payload("extract_doc", ExtractDocExpr, "extract", ExtractDocExpr.schema)(c, cfg)

  def extract_stream(c: Column, cfg: ExtractorConfig = ExtractorConfig.default,
      chunkSize: Int = 65536): Column = {
    require(chunkSize > 0, s"extract_stream chunkSize must be positive, got $chunkSize")
    payload("extract_stream", ExtractDocExpr, "stream", ExtractDocExpr.streamSchema)(c, cfg, chunkSize)
  }

  /** Status code → human message (reference errors.rs:61-80 / SURVEY §2.1 #42)
    * as a pure codegen'd CASE expression.
    */
  def status_message(status: Column): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    extractous.model.ExtractStatus.message.toSeq.sortBy(_._1).foldLeft(lit("unknown status")) {
      case (acc, (code, msg)) => when(status === code, lit(msg)).otherwise(acc)
    }
  }

  def sniff_mime(c: Column): Column = payload("sniff_mime", ExtractDocExpr, "sniff", StringType)(c)

  def warc_records(c: Column): Column = payload("warc_records", WarcRecords, "records", WarcRecords.dataType)(c)

  /** Register `extract_doc` / `sniff_mime` / `warc_records` for SQL use with a fixed config. */
  def register(spark: SparkSession, cfg: ExtractorConfig = ExtractorConfig.default): Unit =
    Seq[(String, Column => Column)]("extract_doc" -> (extract_doc(_, cfg)), "sniff_mime" -> sniff_mime,
        "warc_records" -> warc_records).foreach { case (name, f) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, exprs => ColumnBridge.expression(f(ColumnBridge.column(exprs.head))), "scala_udf")
    }

  /** Typed flagship map stage: `Dataset[WebPage] → Dataset[ExtractedDoc]` — a
    * narrow per-row transform; no shuffle on the hot path (north rule).
    */
  def extractPages(ds: Dataset[WebPage], cfg: ExtractorConfig = ExtractorConfig.default): Dataset[ExtractedDoc] = {
    import ds.sparkSession.implicits._
    ds.map { p =>
      val r = Extract(p.html, cfg)
      ExtractedDoc(p.url, r.text, r.xml, r.metadata, r.status, r.error, r.contentType, ExtractResult.Version)
    }
  }

  /** Untyped flagship projection over the expression (pruning-friendly).
    * `keep` carries extra input columns (e.g. the partition column) through.
    */
  def extractFrame(df: DataFrame, cfg: ExtractorConfig = ExtractorConfig.default,
      keep: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    val keepCols = keep.map(col)
    df.select(col("url") +: keepCols :+ extract_doc(col("html"), cfg).as("r"): _*)
      .select(col("url") +: keepCols :+ col("r.text").as("text") :+ col("r.xml").as("xml") :+
        col("r.metadata").as("metadata") :+ col("r.status").as("status") :+
        col("r.error").as("error") :+ col("r.content_type").as("content_type") :+
        col("r.extractor_version").as("extractor_version"): _*)
  }
}
