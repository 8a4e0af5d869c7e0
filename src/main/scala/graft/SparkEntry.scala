package graft

import extractous.config._
import extractous.gen.CorpusGen
import extractous.pipeline.{Dedup, Multimodal, Similarity, TextStats}
import extractous.spark.{functions => xf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — queries (Spark) + oracleSql (DuckDB twin on the same
  * parquet tables). The extraction queries run the REAL pipeline end-to-end:
  * deterministic payload synthesis from documents.parquet → MIME sniff →
  * format parser → canonical text; the oracle reconstructs the expected output
  * in closed form from (doc_id, text, lang). See extractous.gen.CorpusGen.
  *
  * Non-SQL-expressible ops (LSH internals, IVF probing, simhash bits) are
  * covered instead by: (a) an end-result oracle where the verified output is
  * exact (d_minhash_lsh verifies candidates with exact Jaccard, so the oracle
  * is the brute-force pair set), or (b) ScalaTest golden/recall suites.
  */
object SparkEntry {

  // ---- shared SQL fragments (DuckDB dialect) ----
  private val sqlUrl =
    "'https://host-' || CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 + doc_id % 9 END AS VARCHAR) || '.example/doc-' || CAST(doc_id AS VARCHAR)"
  private val sqlStop =
    "CASE lang WHEN 'de' THEN 'der die und nicht das' WHEN 'es' THEN 'el la los y no' WHEN 'fr' THEN 'le la les et ne' WHEN 'zh' THEN '的 了 是 在 不' ELSE 'the and of to in' END"
  private val sqlKind = "doc_id % 100"
  private val sqlId = "CAST(doc_id AS VARCHAR)"
  private val docxMime = "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
  private val cp1252Prefix = CorpusGen.Cp1252Prefix
  private val latin1Prefix = CorpusGen.Latin1Prefix
  private val sjisPrefix = CorpusGen.SjisPrefix
  private val gbkPrefix = CorpusGen.GbkPrefix
  // t_normalize planted rungs (unicode the pure-ASCII corpus lacks) —
  // embedded verbatim in both the Column lit and the DuckDB string literal,
  // so the two engines normalize the identical codepoint sequence.
  private val normRungA = // combining e-acute, curly quotes, em dash, ellipsis, CRLF, NBSP, ZWSP, tab
    "Cafe\u0301  \u201Csmart\u201D \u2014 quotes\u2026\r\nsecond\u00A0line\u200B end\t "
  private val normRungB = // decomposed A-ring, C0 + DEL controls, LF runs, en dash, curly singles, astral emoji
    "\n\nA\u030A\u0001ctl\u007Fchars\n\n\n\n\nend \u2013 dash \u2018q\u2019 \uD83D\uDE00"
  /** DuckDB replay of [[extractous.spark.NormalizeKernel]]'s rewrite chain
    * over the SQL expression `raw` — built from the SAME CharMap table the
    * kernel compiles, so the two can't silently diverge.
    */
  private def sqlNormClean(raw: String): String = {
    val crlf = s"replace(replace(nfc_normalize($raw), chr(13)||chr(10), chr(10)), chr(13), chr(10))"
    val mapped = extractous.spark.NormalizeKernel.CharMap.foldLeft(crlf) {
      case (acc, (c, to)) => s"replace($acc, chr(${c.toInt}), '${to.replace("'", "''")}')"
    }
    val ctl = s"regexp_replace($mapped, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')"
    val ws1 = s"regexp_replace($ctl, '[ \\t]+', ' ', 'g')"
    val ws2 = s"regexp_replace($ws1, ' *\\n *', chr(10), 'g')"
    val ws3 = s"regexp_replace($ws2, '\\n\\n\\n+', chr(10)||chr(10), 'g')"
    s"trim($ws3, ' ' || chr(10))"
  }
  /** DuckDB replay of the ⅓-bit saturating log L(x) = floor(log2(min(x+1,2^17)^3))
    * shared by the entropy/DSIR/BM25 fixed-point oracles.
    */
  private def sqlL(x: String): String =
    s"CAST(floor(log2(CAST(least($x+1,131072)*least($x+1,131072)*least($x+1,131072) AS DOUBLE))) AS BIGINT)"
  // t_quality_fused: 12 fixed per-language sentences (60 lexicon words each)
  // sampled at a stream seed disjoint from both the LangId training stream
  // (-1) and the t_langid evaluation streams (doc ids), embedded VERBATIM in
  // the Column lit and the DuckDB literal. pred_lang's oracle is the id
  // arithmetic alone — the same statistical-recovery contract as t_langid.
  private val fusedSents: Vector[(String, String)] =
    extractous.pipeline.LangData.langs.map(l =>
      l -> extractous.pipeline.LangData.sampleText(l, 424242L, 60))
  private def sqlQ(s: String): String = "'" + s.replace("'", "''") + "'"
  private val sqlFusedContent: String =
    "'Doc ' || CAST(doc_id AS VARCHAR) || '. ' || CASE doc_id % 12 " +
      fusedSents.zipWithIndex.map { case ((_, txt), i) => s"WHEN $i THEN ${sqlQ(txt)}" }
        .mkString(" ") + " END || '.'"
  private val sqlFusedLang: String =
    "CASE doc_id % 12 " +
      fusedSents.zipWithIndex.map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ") +
      " END"
  private val sqlImageFormat =
    "CASE doc_id % 5 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'jpeg' WHEN 3 THEN 'gif' ELSE 'tiff' END"
  /** Expected content_type per format-mix kind (single expression, embeddable). */
  private val sqlContentType: String =
    s"""CASE
       |  WHEN $sqlKind < 52 THEN 'text/html'
       |  WHEN $sqlKind = 52 THEN 'text/markdown'
       |  WHEN $sqlKind = 53 THEN 'message/rfc822'
       |  WHEN $sqlKind = 54 THEN 'application/epub+zip'
       |  WHEN $sqlKind = 61 THEN 'application/vnd.ms-excel'
       |  WHEN $sqlKind = 62 THEN 'application/vnd.ms-powerpoint'
       |  WHEN $sqlKind < 70 THEN 'text/plain'
       |  WHEN $sqlKind < 82 THEN 'application/pdf'
       |  WHEN $sqlKind < 87 THEN '$docxMime'
       |  WHEN $sqlKind = 87 THEN 'application/msword'
       |  WHEN $sqlKind = 88 THEN 'application/vnd.oasis.opendocument.text'
       |  WHEN $sqlKind = 89 THEN 'application/vnd.oasis.opendocument.presentation'
       |  WHEN $sqlKind < 96 THEN (CASE doc_id % 5 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png' WHEN 2 THEN 'image/jpeg' WHEN 3 THEN 'image/gif' ELSE 'image/tiff' END)
       |  WHEN $sqlKind < 98 THEN 'application/pdf'
       |  WHEN $sqlKind = 98 THEN 'application/octet-stream'
       |  ELSE (CASE WHEN doc_id % 3 = 0 THEN 'application/pdf' WHEN doc_id % 3 = 1 THEN 'application/zip' ELSE 'text/plain' END)
       |END""".stripMargin.replace("\n", " ")

  private def corpusDf(s: SparkSession, dir: String): DataFrame =
    CorpusGen.corpus(s, dir).toDF()

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** documents ∪ shifted copy — a corpus with guaranteed exact duplicates. */
  private def docsWithCopies(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.union(d.select(col("doc_id") + 100000, col("text")))
  }

  /** File-stream source over one parquet file. The file source needs a
    * DIRECTORY, so expose the file through a temp symlink dir; schema comes
    * from a batch read of the same file. Harness-scoped: the temp dir lives
    * until the process exits (Verify runs each query once, not a bench loop).
    */
  private def streamOfParquet(s: SparkSession, file: String, prefix: String): DataFrame = {
    val schema = s.read.parquet(file).schema
    val streamDir = java.nio.file.Files.createTempDirectory(prefix)
    val p = java.nio.file.Paths.get(file).toAbsolutePath
    java.nio.file.Files.createSymbolicLink(streamDir.resolve(p.getFileName), p)
    s.readStream.schema(schema).parquet(streamDir.toString)
  }

  /** Drain a streaming frame through a uniquely-named APPEND memory sink and
    * return the sink table — the one completion/sink policy every
    * `q_stream_*` harness query shares.
    */
  private def drainToMemory(s: SparkSession, df: DataFrame, prefix: String): DataFrame = {
    val qn = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(qn).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    s.table(qn)
  }

  // x_wet / x_wet_ingest: deterministic url + ISO date per doc — the Scala
  // twins of $sqlUrl and the oracle's lpad date arithmetic
  private def wetUrl(id: Long): String =
    s"https://host-${if (id % 2 == 0) 0 else 1 + id % 9}.example/doc-$id"
  private def wetDate(id: Long): String =
    f"2025-03-${id % 28 + 1}%02dT${id % 24}%02d:${id * 7 % 60}%02d:${id * 13 % 60}%02dZ"

  private def binDs(s: SparkSession, dir: String, f: Long => Array[Byte]) = {
    import s.implicits._
    docs(s, dir).select(col("doc_id")).as[Long].map(id => (id, f(id)))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("x_extract")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- extraction family (full pipeline, oracle-checked) ----------
    "x_extract" -> ((s, dir) => {
      xf.extractFrame(corpusDf(s, dir), CorpusGen.flagshipConfig)
        .select(col("url"), col("text"), col("status").cast("long").as("status"), col("content_type"))
        .orderBy(col("url"))
    }),
    "x_sniff" -> ((s, dir) => {
      corpusDf(s, dir)
        .select(col("url"), xf.sniff_mime(col("html")).as("mime"))
        .orderBy(col("url"))
    }),
    "x_metadata" -> ((s, dir) => {
      xf.extractFrame(corpusDf(s, dir), CorpusGen.flagshipConfig)
        .filter(col("content_type").isin("text/html", "application/pdf", docxMime) && col("status") === 0)
        .filter(!col("text").startsWith("SCAN ")) // scanned PDFs carry no Info dict
        .select(col("url"),
          coalesce(try_element_at(try_element_at(col("metadata"), lit("dc:title")), lit(1)), lit("")).as("title"))
        .orderBy(col("url"))
    }),
    "x_truncate" -> ((s, dir) => {
      val cfg = CorpusGen.flagshipConfig.copy(maxStringLength = 100)
      xf.extractFrame(corpusDf(s, dir), cfg)
        .filter(col("content_type") === "text/plain" && col("status") === 0)
        .select(col("url"), col("text"), length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("url"))
    }),
    "x_xml" -> ((s, dir) => {
      val cfg = CorpusGen.flagshipConfig.copy(xmlOutput = true)
      xf.extractFrame(corpusDf(s, dir), cfg)
        .filter(col("content_type") === "text/html")
        .select(col("url"), col("xml"))
        .orderBy(col("url"))
    }),
    "x_alltext" -> ((s, dir) => {
      val cfg = CorpusGen.flagshipConfig.copy(htmlMode = HtmlMode.AllText)
      xf.extractFrame(corpusDf(s, dir), cfg)
        .filter(col("content_type") === "text/html")
        .select(col("url"), col("text"))
        .orderBy(col("url"))
    }),
    "x_office_deleted" -> ((s, dir) => {
      val cfg = CorpusGen.flagshipConfig.copy(
        office = OfficeConfig(includeDeletedContent = true, includeMoveFromContent = true))
      xf.extractFrame(corpusDf(s, dir), cfg)
        .filter(col("content_type") === docxMime)
        .select(col("url"), col("text"))
        .orderBy(col("url"))
    }),
    "x_errors" -> ((s, dir) => {
      xf.extractFrame(corpusDf(s, dir), CorpusGen.flagshipConfig)
        .filter(col("status") =!= 0 || col("text") === "")
        .filter(col("content_type") =!= "application/pdf" || col("status") =!= 0) // keep empty+corrupt only
        .select(col("url"), col("status").cast("long").as("status"),
          (length(col("error")) > 0).cast("long").as("has_error"))
        .orderBy(col("url"))
    }),
    "q_stream_quality" -> ((s, dir) => {
      // the Gopher gate composes into Structured Streaming UNCHANGED: the
      // quality report is one stateless narrow imperative projection, so
      // micro-batch APPEND output must equal the batch result (oracle
      // recomputes the signals over raw text in SQL). A real pipeline runs
      // this gate on the live crawl stream before anything is stored.
      val out = streamOfParquet(s, s"$dir/documents.parquet", "qualstream")
        .select(col("doc_id") +: TextStats.gopherReport(col("text"), minWords = 10)
          .map { case (n, c) => c.as(n) }: _*)
        .select(col("doc_id"), col("n_words"), col("mean_word_len_x100"),
          col("stop_hits"), col("gopher_pass"))
      drainToMemory(s, out, "stream_quality_").orderBy(col("doc_id"))
    }),
    "q_stream_extract" -> ((s, dir) => {
      // incremental crawl processing: the FLAGSHIP extraction as a stream —
      // the corpus table consumed by the file source (a new day-file arrives
      // as a new micro-batch), extract_doc per row, APPEND to a memory sink.
      // Stateless narrow streaming: no watermark, no state store — the same
      // plan shape as the batch hot path, so the result must equal the batch
      // extraction exactly (same oracle as x_extract/x_job). Harness-scoped:
      // the temp corpus copy and the memory-sink table live until the
      // process exits (Verify runs each query once; not a bench loop op).
      val corpusDir = java.nio.file.Files.createTempDirectory("qstreamcorpus").toString
      extractous.jobs.CorpusWriter.write(s, dir, corpusDir)
      val schema = s.read.parquet(corpusDir).schema
      val out = xf.extractFrame(
          s.readStream.schema(schema).parquet(corpusDir), CorpusGen.flagshipConfig)
        .select(col("url"), col("text"), col("status").cast("long").as("status"), col("content_type"))
      drainToMemory(s, out, "stream_out_").orderBy(col("url"))
    }),
    "x_job" -> ((s, dir) => {
      // END-TO-END: corpus table → resumable snapshot job → read-back of the
      // committed table. Same oracle as x_extract ⇒ the whole job (partitioned
      // write, snapshot commit, manifest read) is verified, not just the map.
      val corpusDir = java.nio.file.Files.createTempDirectory("qjobcorpus").toString
      extractous.jobs.CorpusWriter.write(s, dir, corpusDir)
      val tableDir = java.nio.file.Files.createTempDirectory("qjobtable").toString
      extractous.jobs.ExtractJob.run(s, corpusDir, tableDir, groupSize = 10)
      new extractous.table.SnapshotTable(tableDir).read(s)
        .select(col("url"), col("text"), col("status").cast("long").as("status"), col("content_type"))
        .orderBy(col("url"))
    }),
    "x_binaryfile" -> ((s, dir) => {
      // loose-file source (reference ExtractFileToString path → binaryFile
      // datasource): html+plain payloads written as files, scanned back.
      // Fixture files are written FROM EXECUTORS (foreachPartition). The
      // staging dir must be a SHARED filesystem on a real cluster — set
      // spark.graft.stagingDir to one; the driver-local temp-dir fallback is
      // visible to executors only in local mode (this harness).
      import s.implicits._
      val tmp = s.conf.getOption("spark.graft.stagingDir") match {
        case Some(base) => java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(base), "loosefiles")
        case None => java.nio.file.Files.createTempDirectory("loosefiles")
      }
      val tmpPath = tmp.toString
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang")).as[(Long, String, String)]
        .filter(r => (r._1 % 100) < 70)
        .foreachPartition { (it: Iterator[(Long, String, String)]) =>
          it.foreach { case (id, text, lang) =>
            java.nio.file.Files.write(java.nio.file.Paths.get(tmpPath, s"doc-$id.bin"),
              CorpusGen.payload(id, text, lang))
          }
        }
      s.read.format("binaryFile").load(s"$tmp/*.bin")
        .select(regexp_extract(col("path"), "doc-(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          xf.extract_doc(col("content"), CorpusGen.flagshipConfig).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_xlsx" -> ((s, dir) => {
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.xlsxPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_pptx" -> ((s, dir) => {
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.pptxPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_meta_ops" -> ((s, dir) => {
      // metadata multimap operators (reference Get/GetAll/Has/Keys →
      // element_at/map_contains_key/map_keys, SURVEY.md §2.1 #37-40)
      xf.extractFrame(corpusDf(s, dir), CorpusGen.flagshipConfig)
        .filter(col("content_type") === "text/html")
        .select(col("url"),
          size(map_keys(col("metadata"))).cast("long").as("n_keys"),
          map_contains_key(col("metadata"), lit("description")).cast("long").as("has_desc"),
          coalesce(try_element_at(try_element_at(col("metadata"), lit("description")), lit(1)), lit("")).as("description"))
        .orderBy(col("url"))
    }),
    "q_stream_window" -> ((s, dir) => {
      // Structured Streaming: file source → watermark → tumbling-window agg →
      // memory sink in APPEND mode: only windows finalized by the watermark
      // emit, and their state is evicted — real state cleanup, not complete-
      // mode re-emission. The no-data micro-batch after the last file advances
      // the watermark to max(ts) - 10min and flushes every closed window.
      val out = streamOfParquet(s, s"$dir/events.parquet", "eventstream")
        .withColumn("ts", col("ts").cast("timestamp")) // NTZ → event-time type (UTC session)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n").cast("long").as("n"))
      drainToMemory(s, out, "stream_out_").orderBy(col("w_start"), col("event_type"))
    }),
    "q_stream_dedup" -> ((s, dir) => {
      // streaming stateful dedup (dropDuplicatesWithinWatermark): first sight
      // of each (user_id, event_type) pair emits once, later duplicates are
      // absorbed by keyed state that the watermark eventually evicts — the
      // streaming twin of exact dedup. Output selects only the key columns,
      // so WHICH physical row wins a tie is irrelevant to the result set.
      val out = streamOfParquet(s, s"$dir/events.parquet", "dedupstream")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .select(col("ts"), col("user_id"), col("event_type"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id").cast("long"), col("event_type"))
      drainToMemory(s, out, "stream_dedup_").orderBy(col("user_id"), col("event_type"))
    }),
    "q_stream_sessions" -> ((s, dir) => {
      // stateful streaming with CUSTOM state (flatMapGroupsWithState +
      // event-time timeout): per-user sessionization, gap > 1 hour. A session
      // emits when a later event closes it (in-batch gap) or when the
      // watermark times it out; still-open sessions are withheld — the oracle
      // reproduces exactly that emission rule.
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val GapUs = 3600L * 1000000L
      // state per user: (session_start_us, last_event_us, n_events)
      def update(user: Long, evs: Iterator[Long],
          state: GroupState[(Long, Long, Long)]): Iterator[(Long, Long, Long)] = {
        if (state.hasTimedOut) {
          val (st, _, n) = state.get
          state.remove()
          Iterator.single((user, st, n))
        } else {
          val sorted = evs.toArray.sorted
          val closed = Vector.newBuilder[(Long, Long, Long)]
          var cur = state.getOption
          sorted.foreach { t =>
            cur match {
              case None => cur = Some((t, t, 1L))
              case Some((st, last, n)) =>
                if (t - last > GapUs) { closed += ((user, st, n)); cur = Some((t, t, 1L)) }
                else cur = Some((st, t, n + 1))
            }
          }
          cur.foreach { c =>
            state.update(c)
            state.setTimeoutTimestamp(c._2 / 1000 + GapUs / 1000) // last event + gap, ms
          }
          closed.result().iterator
        }
      }
      val out = streamOfParquet(s, s"$dir/events.parquet", "sessstream")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        // keep the watermarked ts column itself in the projection — the
        // event-time metadata rides on it
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
        .as[(Long, java.sql.Timestamp, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
          (k: Long, it: Iterator[(Long, java.sql.Timestamp, Long)], st: GroupState[(Long, Long, Long)]) =>
            update(k, it.map(_._3), st))
        .toDF("user_id", "start_us", "n")
        .select(col("user_id"),
          date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          col("n").cast("long").as("n"))
      drainToMemory(s, out, "stream_sess_").orderBy(col("user_id"), col("s_start"))
    }),
    "x_encoding" -> ((s, dir) => {
      // SetEncoding semantics (#10): US-ASCII output folds non-representable
      // chars to '?' — visible on the zh stopword line of html pages
      val cfg = CorpusGen.flagshipConfig.copy(encoding = CharSet.UsAscii)
      xf.extractFrame(corpusDf(s, dir), cfg)
        .filter(col("content_type") === "text/html")
        .select(col("url"), col("text"))
        .orderBy(col("url"))
    }),
    "x_xls" -> ((s, dir) => {
      // legacy Excel-97 BIFF8 over the CFB container (Workbook stream:
      // SST + LABELSST walk); every third doc fattened past the mini cutoff
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val body = if (id % 3 == 0) (text + " ") * 20 else text
          (id, extractous.gen.XlsWriter.xls(Seq(s"Document $id", body)))
        }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_ppt" -> ((s, dir) => {
      // legacy PowerPoint-97 over the CFB container (record-header walk:
      // TextCharsAtom/TextBytesAtom inside a SlideListWithText container)
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val body = if (id % 3 == 0) (text + " ") * 20 else text
          (id, extractous.gen.PptWriter.ppt(Seq(s"Document $id", body)))
        }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_csv" -> ((s, dir) => {
      // delimited text (RFC 4180): CSV vs TSV variant by id/100 parity; the
      // quoted first cell embeds the delimiter and a doubled quote
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.csvPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_mbox" -> ((s, dir) => {
      // Unix mbox: two messages split on `From ` envelope lines, second body
      // carries a >From-stuffed line that must be unstuffed
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.mboxPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_archive" -> ((s, dir) => {
      // archive recursion (Tika-style): ZIP / ustar TAR / 7z / store-mode
      // RAR5 members re-enter the full sniff→dispatch pipeline in archive
      // order; the 3rd member is a gzip-wrapped text (nested wrapper,
      // recursion depth 2). Container rotates by (id/100) mod 4; the tar
      // stratum further rotates plain/xz/bz2/zst/lz4/framed-snappy wrappers
      // by id mod 6 (all from-scratch decoders, oracle wrapper-invariant).
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang")).as[(Long, String, String)]
        .map { case (id, text, lang) => (id, CorpusGen.archivePayload(id, text, lang)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_charset_cyr" -> ((s, dir) => {
      // unlabeled Cyrillic: windows-1251 vs KOI8-R by id/100 parity — the
      // case-band-majority detector must pick the right one (the encodings
      // swap case bands, so a wrong pick yields different Cyrillic letters)
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.cyrPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          coalesce(try_element_at(try_element_at(col("r.metadata"), lit("Content-Type")), lit(1)), lit("")).as("detected"))
        .orderBy(col("doc_id"))
    }),
    "x_cal" -> ((s, dir) => {
      // iCalendar / vCard (RFC 5545/6350) by id/100 parity: folded long
      // lines + TEXT escapes round-trip through the unfold/unescape path
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.calPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_pages" -> ((s, dir) => {
      // iWork Pages '09 package: zip → index.xml → namespaced sf:p walk;
      // every 3rd doc gains a second section (multi-paragraph order check)
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val paras =
            if (id % 3 == 0) Seq(s"Document $id", text, s"Second section $id")
            else Seq(s"Document $id", text)
          (id, extractous.gen.PagesWriter.pages(paras))
        }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_merge" -> ((s, dir) => {
      // incremental recrawl MERGE (Iceberg MERGE INTO analog): build a base
      // snapshot keyed by url, then merge an increment carrying (a) recrawls
      // with LATER warc_ts and new text — they must replace, (b) brand-new
      // urls — they must insert, (c) STALE rows with older warc_ts — they
      // must lose. The oracle is the window-free latest-wins replay of the
      // same three row sets; time travel across the merge is asserted in
      // TableSpec.
      val tmp = java.nio.file.Files.createTempDirectory("qmergetable").toString
      val t = new extractous.table.SnapshotTable(tmp)
      val d = docs(s, dir)
      def urlOf = concat(lit("https://host-"), pmod(col("doc_id"), lit(7)),
        lit(".example/doc/"), col("doc_id"))
      val base = d.select(urlOf.as("url"),
        to_timestamp(concat(lit("2024-01-0"), pmod(col("doc_id"), lit(3)) + 1)).as("warc_ts"),
        col("text"))
      t.merge(s, base, "v1")
      val recrawl = d.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(urlOf.as("url"), to_timestamp(lit("2024-01-10")).as("warc_ts"),
          concat(lit("R "), col("text")).as("text"))
      val fresh = d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(concat(urlOf, lit("/v2")).as("url"),
          to_timestamp(lit("2024-01-11")).as("warc_ts"),
          concat(lit("N "), col("text")).as("text"))
      val stale = d.filter(pmod(col("doc_id"), lit(5)) === 0 && pmod(col("doc_id"), lit(3)) =!= 0)
        .select(urlOf.as("url"), to_timestamp(lit("2023-12-01")).as("warc_ts"),
          lit("STALE must never win").as("text"))
      t.merge(s, recrawl.unionByName(fresh).unionByName(stale), "v2")
      t.read(s).select(col("url"), col("text"),
          date_format(col("warc_day"), "yyyy-MM-dd").as("warc_day"))
        .orderBy(col("url"))
    }),
    "x_warc" -> ((s, dir) => {
      // WARC (ISO 28500) — the Common-Crawl container: warcinfo/request
      // records skipped, HTTP response records parsed (incl. gzip
      // Content-Encoding every 3rd doc and a chunked-transfer response),
      // conversion record dispatched directly; whole file rotates plain
      // .warc / per-record-gzip-member .warc.gz / whole-file .warc.zst
      // by (id/100) mod 3
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang")).as[(Long, String, String)]
        .map { case (id, text, lang) => (id, CorpusGen.warcPayload(id, text, lang)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"),
          coalesce(try_element_at(try_element_at(col("r.metadata"), lit("warc:response-count")), lit(1)), lit("")).as("responses"))
        .orderBy(col("doc_id"))
    }),
    "x_warc_ingest" -> ((s, dir) => {
      // THE INGEST PLAN: `.warc.gz` files (many documents' records packed per
      // file, per-record gzip members — the exact Common Crawl shape) scanned
      // via binaryFile → explode(warc_records) → extract_doc per response.
      // Narrow per-file decode, no shuffle until the final harness orderBy.
      // Fixture files written FROM EXECUTORS (one file per input partition);
      // see the x_binaryfile staging-dir note for cluster semantics.
      import s.implicits._
      val tmp = s.conf.getOption("spark.graft.stagingDir") match {
        case Some(base) => java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(base), "warcingest")
        case None => java.nio.file.Files.createTempDirectory("warcingest")
      }
      val tmpPath = tmp.toString
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang")).as[(Long, String, String)]
        .foreachPartition { (it: Iterator[(Long, String, String)]) =>
          val out = new java.io.ByteArrayOutputStream()
          it.foreach { case (id, text, lang) =>
            CorpusGen.warcRecords(id, text, lang).foreach(r => out.write(CorpusGen.gzMember(r)))
          }
          if (out.size() > 0) {
            java.nio.file.Files.write(java.nio.file.Paths.get(tmpPath,
              f"part-${org.apache.spark.TaskContext.getPartitionId()}%05d.warc.gz"), out.toByteArray)
            ()
          }
        }
      s.read.format("binaryFile").load(s"$tmp/*.warc.gz")
        .select(explode(xf.warc_records(col("content"))).as("rec"))
        .filter(col("rec.rec_type") === "response")
        .select(col("rec.url").as("url"), xf.extract_doc(col("rec.payload")).as("r"))
        .select(col("url"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("url"))
    }),
    "x_wet" -> ((s, dir) => {
      // WET sidecar framing (Common Crawl's text companion format): the
      // conversion record emitted per doc by the codegen'd wet_record kernel
      // (ONE implementation with the file sink, extractous.core.Wet). Record
      // ids are name-based md5-UUIDs — deterministic, so the oracle replays
      // the ENTIRE record string including Content-Length, which counts
      // OCTETS: the %7 rung plants multi-byte UTF-8 so bytes ≠ chars.
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, wetUrl(id), wetDate(id), text + (if (id % 7 == 0) " café—résumé №42" else ""))
        }.toDF("doc_id", "url", "date", "text")
      ds.select(col("doc_id"), col("url"),
          extractous.spark.wet.wet_record(col("url"), col("date"), col("text")).as("wet"))
        .orderBy(col("doc_id"))
    }),
    "x_wet_ingest" -> ((s, dir) => {
      // WET round trip: the emitted `.warc.wet.gz` bytes (gzip members:
      // warcinfo + conversion record) re-enter the extractor unchanged —
      // gunzip all members → WARC walk → conversion dispatch — and must
      // yield the sidecar'd text back. Closes the loop: ingest WARC →
      // extract → emit WET → re-ingest WET.
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val name = f"doc-$id%05d.warc.wet.gz"
          val bytes = extractous.core.Wet.gzMember(
              extractous.core.Wet.warcinfo(name, "2025-03-01T00:00:00Z")) ++
            extractous.core.Wet.gzMember(
              extractous.core.Wet.recordBytes(wetUrl(id), wetDate(id), text))
          (id, bytes)
        }.toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          col("r.content_type").as("content_type"), col("r.status").cast("long").as("status"))
        .orderBy(col("doc_id"))
    }),
    "x_msg" -> ((s, dir) => {
      // Outlook .msg (MS-OXMSG property streams over CFB): variant alternates
      // UTF-16LE (001F) vs cp1252 (001E) properties by id/100 parity (ids ≡ k
      // mod 100 share id%2 parity — see the tiff note); every third doc
      // fattened past the mini cutoff to exercise the regular-chain path
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val body = if (id % 3 == 0) (text + " ") * 20 else text
          (id, extractous.gen.MsgWriter.msg(
            s"Document $id", s"Sender $id", body, unicode = (id / 100) % 2 == 0))
        }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_md" -> ((s, dir) => {
      // Markdown syntax-strip over every doc (heading/list/link/emphasis/code)
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.mdPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_eml" -> ((s, dir) => {
      // RFC-822: even ids multipart (QP plain + base64 html alt), odd ids
      // single-part — both extract subject + body; subject rides metadata
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.emlPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"),
          coalesce(try_element_at(try_element_at(col("r.metadata"), lit("subject")), lit(1)), lit("")).as("subject"))
        .orderBy(col("doc_id"))
    }),
    "x_epub" -> ((s, dir) => {
      // EPUB: container.xml → OPF → spine-ordered XHTML chapters (zip stores
      // them reversed — an entry-order walk fails this oracle)
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, extractous.gen.EpubWriter.epub(s"Document $id", Seq(text), s"Second chapter $id", CorpusGen.titleOf(id, "en")))
        }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"),
          coalesce(try_element_at(try_element_at(col("r.metadata"), lit("dc:title")), lit(1)), lit("")).as("title"))
        .orderBy(col("doc_id"))
    }),
    "x_encoding_utf16be" -> ((s, dir) => {
      // SetEncoding UTF-16BE (#10): a BMP-safe round trip — text is unchanged
      // and the UTF-16BE byte surface is exactly 2 bytes/char (no surrogates
      // in the corpus), which the oracle states in closed form; the zh pages
      // make the check non-trivial (UTF-8 bytes ≠ 2×chars there)
      val cfg = CorpusGen.flagshipConfig.copy(encoding = CharSet.Utf16Be)
      xf.extractFrame(corpusDf(s, dir), cfg)
        .filter(col("content_type") === "text/html")
        .select(col("url"), col("text"),
          octet_length(encode(col("text"), "UTF-16BE")).cast("long").as("n_utf16be_bytes"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_utf8_bytes"))
        .orderBy(col("url"))
    }),
    "x_doc" -> ((s, dir) => {
      // legacy Word-97 binary over a real CFB container; every third doc is
      // fattened past the 4096-byte mini-stream cutoff so BOTH the miniFAT
      // and FAT read paths are oracle-checked
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val body = if (id % 3 == 0) (text + " ") * 20 else text
          (id, extractous.gen.DocWriter.doc(Seq(s"Document $id", body)))
        }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_odt" -> ((s, dir) => {
      // OpenDocument text: content.xml heading+paragraph walk, meta.xml title
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, extractous.gen.OdfWriter.odt(s"Document $id", Seq(text), CorpusGen.titleOf(id, "en")))
        }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"),
          coalesce(try_element_at(try_element_at(col("r.metadata"), lit("dc:title")), lit(1)), lit("")).as("title"))
        .orderBy(col("doc_id"))
    }),
    "x_ods" -> ((s, dir) => {
      // OpenDocument spreadsheet: table rows become one block of cells each
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, extractous.gen.OdfWriter.ods(Seq(Seq("Document", id.toString), Seq(text)), CorpusGen.titleOf(id, "en")))
        }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"), col("r.content_type").as("content_type"))
        .orderBy(col("doc_id"))
    }),
    "x_charset" -> ((s, dir) => {
      // charset detection on non-UTF-8 plain text: UTF-16 BOMs and
      // windows-1252 decode instead of a blanket invalid-UTF-8 rejection
      xf.extractFrame(corpusDf(s, dir), CorpusGen.flagshipConfig)
        .filter(col("content_type") === "text/plain" && col("status") === 0)
        .select(col("url"),
          coalesce(try_element_at(try_element_at(col("metadata"), lit("Content-Type")), lit(1)), lit("")).as("detected"),
          col("status").cast("long").as("status"))
        .orderBy(col("url"))
    }),
    "x_version" -> ((s, dir) => {
      // version introspection rides every output row (#45; reference
      // ffi/src/lib.rs version export) — select it explicitly
      xf.extractFrame(corpusDf(s, dir), CorpusGen.flagshipConfig)
        .filter(col("content_type") === "text/html")
        .select(col("url"), col("extractor_version"))
        .orderBy(col("url"))
    }),
    "x_stream" -> ((s, dir) => {
      // chunked-stream consumption (#3/#32/#33): extraction text read back
      // through 64-byte bounded reads with EOF semantics; reassembly must be
      // byte-identical and the chunk count is closed-form
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang")).as[(Long, String, String)]
        .filter(r => (r._1 % 100) < 70)
        .map { case (id, text, lang) => (id, CorpusGen.payload(id, text, lang)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"),
          xf.extract_stream(col("payload"), CorpusGen.flagshipConfig, chunkSize = 64).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          col("r.n_chunks").cast("long").as("n_chunks"),
          col("r.n_bytes").cast("long").as("n_bytes"))
        .orderBy(col("doc_id"))
    }),
    "x_pdf_images" -> ((s, dir) => {
      // inline-image extraction + unique-digest dedup (#17/#18): 2+id%3
      // distinct images drawn twice each → unique=n, all=2n
      val ds = binDs(s, dir, CorpusGen.multiImagePdfPayload).toDF("doc_id", "payload")
      val cfgU = CorpusGen.flagshipConfig.copy(pdf = PdfConfig(extractInlineImages = true))
      val cfgA = CorpusGen.flagshipConfig.copy(pdf = PdfConfig(extractInlineImages = true,
        extractUniqueInlineImagesOnly = false))
      ds.select(col("doc_id"),
          xf.extract_doc(col("payload"), cfgU).as("u"),
          xf.extract_doc(col("payload"), cfgA).as("a"))
        .select(col("doc_id"),
          try_element_at(try_element_at(col("u.metadata"), lit("X-Image-Count")), lit(1)).cast("long").as("n_unique"),
          try_element_at(try_element_at(col("a.metadata"), lit("X-Image-Count")), lit(1)).cast("long").as("n_total"))
        .orderBy(col("doc_id"))
    }),
    "x_pdf_marked" -> ((s, dir) => {
      // marked-content structural tags (#19): /H1 + /P scopes survive into XML
      // under extractMarkedContent, collapse to <p> without it
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.markedPdfPayload(id, text)) }
        .toDF("doc_id", "payload")
      val cfgM = CorpusGen.flagshipConfig.copy(xmlOutput = true,
        pdf = PdfConfig(extractMarkedContent = true))
      val cfgP = CorpusGen.flagshipConfig.copy(xmlOutput = true)
      ds.select(col("doc_id"),
          xf.extract_doc(col("payload"), cfgM).getField("xml").as("xml_marked"),
          xf.extract_doc(col("payload"), cfgP).getField("xml").as("xml_plain"))
        .orderBy(col("doc_id"))
    }),
    "x_pdf_encrypted" -> ((s, dir) => {
      // standard-security encrypted PDFs, empty user password — the crawl's
      // "openable encrypted" stratum the reference handles via Tika/PDFBox
      // (/root/reference/README.md:269-273), rotating all four supported
      // handler generations by id%4: RC4-40 (V1/R2), RC4-128+Flate (V2/R3),
      // AES-128 (V4/R4 /AESV2), AES-256 (V5/R6 /AESV3). Text AND the
      // encrypted Info /Title must round-trip; wrong-password/unknown-CFM
      // rejection is spec-tested in PdfSpec (no oracle row can carry a
      // must-fail payload without making the whole query a fixture).
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.encryptedPdfPayload(id, text)) }
        .toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload"), CorpusGen.flagshipConfig).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          col("r.status").cast("long").as("status"),
          coalesce(try_element_at(try_element_at(col("r.metadata"), lit("dc:title")), lit(1)), lit("")).as("title"),
          element_at(array(lit(2L), lit(3L), lit(4L), lit(6L)),
            (pmod(col("doc_id"), lit(4)) + 1).cast("int")).as("enc_rev"))
        .orderBy(col("doc_id"))
    }),
    "x_pdf_password" -> ((s, dir) => {
      // genuinely PASSWORD-PROTECTED PDFs (non-empty user password — nothing
      // opens without a credential), same four handler generations by id%4
      // as x_pdf_encrypted. Three credential postures per row: the USER
      // password opens (Algorithms 2/11), the OWNER password opens via /O
      // recovery (Algorithm 7) / the /OE unwrap (Algorithm 12), and a wrong
      // password refuses with the typed status and leaks NO text. Beyond
      // the reference: it has no password surface at all
      // (/root/reference/errors.go:98 just classifies the failure).
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.passwordPdfPayload(id, text)) }
        .toDF("doc_id", "payload")
      def cfg(pwd: String) =
        CorpusGen.flagshipConfig.copy(pdf = PdfConfig(ocrStrategy = PdfOcrStrategy.Auto, password = pwd))
      ds.select(col("doc_id"),
          xf.extract_doc(col("payload"), cfg(CorpusGen.PdfUserPwd)).as("u"),
          xf.extract_doc(col("payload"), cfg(CorpusGen.PdfOwnerPwd)).as("o"),
          xf.extract_doc(col("payload"), cfg("not-the-password")).as("w"))
        .select(col("doc_id"),
          col("u.text").as("text_user"),
          col("o.text").as("text_owner"),
          col("u.status").cast("long").as("status_user"),
          col("w.status").cast("long").as("status_wrong"),
          col("w.text").as("text_wrong"),
          element_at(array(lit(2L), lit(3L), lit(4L), lit(6L)),
            (pmod(col("doc_id"), lit(4)) + 1).cast("int")).as("enc_rev"))
        .orderBy(col("doc_id"))
    }),
    "x_office_macros" -> ((s, dir) => {
      // VBA macros (#22): presence flag + strings-scan source recovery, and
      // the extractMacros=false negative
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.docxMacrosPayload(id, text)) }
        .toDF("doc_id", "payload")
      val cfgOff = CorpusGen.flagshipConfig.copy(office = OfficeConfig(extractMacros = false))
      ds.select(col("doc_id"),
          xf.extract_doc(col("payload")).as("on"),
          xf.extract_doc(col("payload"), cfgOff).as("off"))
        .select(col("doc_id"),
          map_contains_key(col("on.metadata"), lit("X-Has-Macros")).cast("long").as("has_macros"),
          coalesce(try_element_at(try_element_at(col("on.metadata"), lit("X-VBA-Macros")), lit(1)), lit("")).as("macro_src"),
          map_contains_key(col("off.metadata"), lit("X-Has-Macros")).cast("long").as("has_macros_off"))
        .orderBy(col("doc_id"))
    }),
    "x_ocr_lang" -> ((s, dir) => {
      // OCR language model (#27): out-of-charset glyphs reject under "num"
      val ds = binDs(s, dir, CorpusGen.langImagePayload).toDF("doc_id", "payload")
      val cfgNum = CorpusGen.flagshipConfig.copy(ocr = OcrConfig(language = "num"))
      ds.select(col("doc_id"),
          xf.extract_doc(col("payload"), cfgNum).getField("text").as("text_num"),
          xf.extract_doc(col("payload")).getField("text").as("text_eng"))
        .orderBy(col("doc_id"))
    }),
    "x_ocr_density" -> ((s, dir) => {
      // OCR density (#28): 2x-DPI scans recognize only when density says 600
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.densityImagePayload(id, text)) }
        .toDF("doc_id", "payload")
      val cfg = CorpusGen.flagshipConfig.copy(ocr = OcrConfig(density = 600))
      ds.select(col("doc_id"), xf.extract_doc(col("payload"), cfg).getField("text").as("text"))
        .orderBy(col("doc_id"))
    }),
    "x_ocr_preprocess" -> ((s, dir) => {
      // image preprocessing (#30): isolated speckle ink rejects to '?' raw,
      // despeckling removes the whole bait row
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.baitImagePayload(id, text)) }
        .toDF("doc_id", "payload")
      val cfgPre = CorpusGen.flagshipConfig.copy(ocr = OcrConfig(enableImagePreprocessing = true))
      ds.select(col("doc_id"),
          xf.extract_doc(col("payload")).getField("text").as("text_raw"),
          xf.extract_doc(col("payload"), cfgPre).getField("text").as("text_pre"))
        .orderBy(col("doc_id"))
    }),
    "x_ocr_timeout" -> ((s, dir) => {
      // OCR timeout (#31): an already-expired deadline maps to status -10,
      // never a thrown task failure
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(100)).between(90, 95))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.payload(id, text, "en")) }
        .toDF("doc_id", "payload")
      val cfg = CorpusGen.flagshipConfig.copy(ocr = OcrConfig(timeoutSeconds = 0))
      ds.select(col("doc_id"), xf.extract_doc(col("payload"), cfg).as("r"))
        .select(col("doc_id"), col("r.status").cast("long").as("status"),
          col("r.error").as("error"),
          xf.status_message(col("r.status")).as("message"))
        .orderBy(col("doc_id"))
    }),
    "x_ocr_params" -> ((s, dir) => {
      // OCR density/depth/language knobs recorded as parser provenance
      // (#28/#29) — the config observably reaches the OCR invocation per row
      import s.implicits._
      val ds = s.read.parquet(s"$dir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(100)).between(90, 95))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.payload(id, text, "en")) }
        .toDF("doc_id", "payload")
      val cfg = CorpusGen.flagshipConfig.copy(ocr = OcrConfig(language = "deu", density = 300, depth = 8))
      ds.select(col("doc_id"), xf.extract_doc(col("payload"), cfg).getField("metadata").as("m"))
        .select(col("doc_id"),
          try_element_at(try_element_at(col("m"), lit("X-OCR-Language")), lit(1)).as("ocr_lang"),
          try_element_at(try_element_at(col("m"), lit("X-OCR-Density")), lit(1)).as("ocr_density"),
          try_element_at(try_element_at(col("m"), lit("X-OCR-Depth")), lit(1)).as("ocr_depth"))
        .orderBy(col("doc_id"))
    }),
    "x_error_chain" -> ((s, dir) => {
      // error debug chain (#44) + code→message map (#42): failures inside a
      // gzip wrapper carry a context frame; chain length is observable
      val ds = binDs(s, dir, CorpusGen.corruptChainPayload).toDF("doc_id", "payload")
      ds.select(col("doc_id"), xf.extract_doc(col("payload")).as("r"))
        .select(col("doc_id"), col("r.status").cast("long").as("status"),
          col("r.error").as("error"),
          xf.status_message(col("r.status")).as("message"),
          size(split(col("r.error"), " <- ")).cast("long").as("chain_len"))
        .orderBy(col("doc_id"))
    }),
    // ---------- relational demos over the TPC-H-ish tables ----------
    "r_sessions" -> ((s, dir) => {
      // sessionization (gaps-and-islands): new session when gap > 1 hour
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id")).orderBy(col("ts"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          (col("prev").isNull || unix_micros(col("ts")) - unix_micros(col("prev")) > 3600000000L).cast("long"))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).cast("long").as("n_events"))
        .orderBy(col("user_id"))
    }),
    "r_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "r_join" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = broadcast(s.read.parquet(s"$dir/customer.parquet"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),
    "r_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"))
        .orderBy(col("o_custkey"))
    }),
    "r_topk" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"))
    }),
    // ---------- dedup family ----------
    "d_dedup_exact" -> ((s, dir) => {
      Dedup.exact(docsWithCopies(s, dir), "text", "doc_id")
        .select(col("text"), col("keep_id").cast("long").as("keep_id"), col("cnt").cast("long").as("cnt"))
        .orderBy(col("text"))
    }),
    "d_dedup_hash" -> ((s, dir) => {
      Dedup.byHash(docsWithCopies(s, dir), "text", "doc_id")
        .select(col("text_md5"), col("keep_id").cast("long").as("keep_id"), col("cnt").cast("long").as("cnt"))
        .orderBy(col("text_md5"))
    }),
    "d_pack" -> ((s, dir) => {
      // GPT-style sequence packing (concat in id order, chunk at 256
      // tokens): the global prefix sum runs as a two-level scan — block-
      // partitioned parallel windows + a broadcast of 32 block offsets —
      // while the oracle deliberately uses the textbook single-window
      // cumsum the Spark side avoids
      extractous.pipeline.Packing.pack(docs(s, dir), "doc_id", "text", seqLen = 256)
        .orderBy(col("doc_id"))
    }),
    "d_dedup_bloom" -> ((s, dir) => {
      // Bloom-gated incremental dedup: docs with doc_id % 3 ≠ 0 play the
      // "already-ingested corpus", the rest today's increment. The oracle
      // replays the FILTER itself (k affine probe positions, all-bits-set
      // test) — false positives included — so this verifies exact bloom
      // semantics, not an approximation of an anti-join.
      val d = docs(s, dir).select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))
      val bits = extractous.pipeline.BloomDedup.build(
        d.filter(pmod(col("doc_id"), lit(3)) =!= 0), col("fp"))
      extractous.pipeline.BloomDedup.flagged(
        d.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", col("fp"), bits)
        .orderBy(col("doc_id"))
    }),
    "d_dedup_bloom_sharded" -> ((s, dir) => {
      // the >10⁹-seen-keys scale path: 4 shards of 2¹⁵ bits, a row's shard
      // = fp mod 4 (a function of its own key, so the probe is still a
      // narrow zero-exchange projection). The oracle replays shard routing
      // AND each shard's bit pattern — a key is "maybe seen" only if all 4
      // probe positions hit within ITS OWN shard's position set.
      val d = docs(s, dir).select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))
      val f = extractous.pipeline.BloomDedup.buildSharded(
        d.filter(pmod(col("doc_id"), lit(3)) =!= 0), col("fp"), shards = 4, m = 32768)
      extractous.pipeline.BloomDedup.flaggedSharded(
        d.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", col("fp"), f)
        .orderBy(col("doc_id"))
    }),
    "d_minhash_lsh" -> ((s, dir) => {
      // LSH candidates + exact-Jaccard verification ⇒ the output equals the
      // brute-force pair set (oracle) whenever recall holds (P(miss) ~ 4e-8/pair)
      Dedup.minhashNearDups(docs(s, dir), "doc_id", "text", threshold = 0.8)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "d_jaccard" -> ((s, dir) => {
      // EXACT n-gram Jaccard near-dups (no MinHash approximation): gram
      // inverted index self-joined on 8-byte gram hashes — the only exchange
      // carries (id:long, gh:long); text never shuffles. Emits the exact
      // integer intersection/union so the oracle compare is float-free.
      Dedup.jaccardNearDups(docs(s, dir), "doc_id", "text", threshold = 0.8)
        .select(col("id_a").cast("long"), col("id_b").cast("long"),
          col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "d_simhash" -> ((s, dir) => {
      // token hash is SQL-expressible by design, so the ORACLE recomputes the
      // whole simhash + brute-force Hamming pair set in DuckDB; banding recall
      // at maxDist=3 is exact by pigeonhole (bands = maxDist+1)
      Dedup.simhashNearDups(docs(s, dir), "doc_id", "text", maxDist = 3)
        .select(col("id_a").cast("long"), col("id_b").cast("long"), col("dist").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "d_clusters" -> ((s, dir) => {
      // duplicate CLUSTERS from verified near-dup pairs (connected
      // components, min-id representative); singletons cluster as themselves
      val d = docs(s, dir)
      val pairs = Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.8)
      Dedup.clusters(pairs, d, idCol = "doc_id")
        .select(col("id").cast("long").as("doc_id"), col("cluster_id").cast("long"))
        .orderBy(col("doc_id"))
    }),
    "d_dedup_lines" -> ((s, dir) => {
      // CCNet/RefinedWeb line-level boilerplate removal over the REAL
      // extraction output: the per-language stopword line repeats across
      // every html page of that language (> 2 occurrences ⇒ dropped); the
      // title and content lines are unique and survive in order
      xf.extractFrame(corpusDf(s, dir), CorpusGen.flagshipConfig)
        .filter(col("content_type") === "text/html")
        .select(col("url"), col("text"))
        .transform(d => Dedup.dropRepeatedLines(d, "url", "text", maxOccurrences = 2))
        .select(col("id").as("url"), col("text"))
        .orderBy(col("url"))
    }),
    "d_clusters_star" -> ((s, dir) => {
      // same contract as d_clusters via the O(log n)-round large-star /
      // small-star alternation — the scale path for components whose diameter
      // exceeds what min-label propagation can traverse in its round budget
      val d = docs(s, dir)
      val pairs = Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.8)
      Dedup.clustersLargeSmallStar(pairs, d, idCol = "doc_id")
        .select(col("id").cast("long").as("doc_id"), col("cluster_id").cast("long"))
        .orderBy(col("doc_id"))
    }),
    "d_neardup_cosine" -> ((s, dir) => {
      // banded multi-table hyperplane LSH (16 bands × 12 bits — NOT the O(n²)
      // self-join, NOT the old single-table bucket): planted scaled copies
      // keep identical signs in every band (recall 1.0 by construction), and
      // for perturbed near-dups recall ≥ 1 − 1.2e-6 at cos ≥ 0.99 — measured
      // against the exact pair set in SimilaritySpec; exact cosine ≥ 0.99
      // verification prunes false bucket-mates (max natural cross-sim ≈ 0.51).
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.union(e.select(col("vec_id") + 100000,
        transform(col("embedding"), x => x * lit(1.25f))))
      Similarity.nearDupPairsLsh(planted, threshold = 0.99)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "s_semdedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): cluster → within-cluster ε-removal
      // keeping outliers. Planted scaled copies sit at cos ≈ 1 with their
      // originals, so exactly one of each pair survives; the oracle replays
      // centroids, argmax assignment, the keep-priority order, and the
      // upper-triangle removal rule 1:1 (output is flags and cells — no
      // float column crosses the engine boundary)
      val e = embs(s, dir).select(col("vec_id"), col("embedding"), col("label"))
      val planted = e.union(e.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.25f)).as("embedding"), col("label")))
      Similarity.semDedup(planted, threshold = 0.99)
        .select(col("id").cast("long").as("vec_id"), col("cell"), col("kept"))
        .orderBy(col("vec_id"))
    }),
    // ---------- similarity search ----------
    "s_quantize" -> ((s, dir) => {
      // int8 symmetric quantization: scalars derived from the quantized
      // vector (sum, self-dot, clip count, scale fingerprint) keep the
      // oracle compare integer-exact while pinning every q_i
      val q = Similarity.quantizeInt8(embs(s, dir))
      q.select(col("vec_id").cast("long"),
          round(col("scale") * 1e9).cast("long").as("scale_fp"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_dot"),
          size(filter(col("q"), x => abs(x) > 127)).cast("long").as("n_clipped"))
        .orderBy(col("vec_id"))
    }),
    "s_knn_brute" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteKnn(e, e.filter(col("vec_id") < 20), k = 5)
        .select(col("query_id").cast("long"), col("rank"), col("neighbor_id").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "s_knn_ivf" -> ((s, dir) => {
      // fully deterministic relational algorithm (mean centroids → nearest-cell
      // assignment → nprobe probing → within-cell top-k) — mirrored 1:1 by the
      // DuckDB oracle, so the SCALE ANN path is verified, not just brute force
      val e = embs(s, dir)
      Similarity.ivfKnn(e, e.filter(col("vec_id") < 20), k = 5, nprobe = 3)
        .select(col("query_id").cast("long"), col("rank"), col("neighbor_id").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // ---------- text analysis ----------
    "t_tokens" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "t_quality" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        TextStats.punctCount(col("text")).cast("long").as("n_punct"),
        TextStats.isGood(col("text")).cast("long").as("is_good"))
        .orderBy(col("doc_id"))
    }),
    "s_bm25" -> ((s, dir) => {
      // BM25 keyword retrieval (the lexical complement of the knn family):
      // one-pass term_freqs kernel → single broadcast stats row → top-10 by
      // exact fixed-point score (⅓-bit IDF, integer tf normalization) —
      // the oracle replays every score bit-for-bit and the same tie-break.
      extractous.pipeline.Retrieval.bm25(docs(s, dir), "text", "doc_id",
        Seq("query", "vector", "stream"), k = 10)
    }),
    "s_kmv" -> ((s, dir) => {
      // KMV distinct-count sketch over the content fingerprint: the corpus
      // is UNIONED with a full duplicate copy (distinct count unchanged) —
      // a sketch that over-counted duplicates would mismatch immediately.
      // The oracle replays the whole sketch (same hashes, same k-th value,
      // same integer estimate), not just row counts.
      val d = s.read.parquet(s"$dir/documents.parquet").select(col("text"))
      extractous.pipeline.Sketch.kmvDistinct(d.union(d), "text", k = 64)
    }),
    "s_quantiles" -> ((s, dir) => {
      // exact doc-length percentiles via the bounded-histogram path (no
      // global sort, no engine-dependent approx_percentile digest): ONE
      // count aggregation over the integer length key space, quantile walk
      // on the metadata-sized histogram. The oracle replays it with the
      // textbook window cumsum the Spark side avoids.
      extractous.pipeline.CorpusStats.lengthQuantiles(
        docs(s, dir).select(col("text")), "text", Seq(500, 900, 990))
        .orderBy(col("q_mille"))
    }),
    "s_heavyhitters" -> ((s, dir) => {
      // EXACT corpus heavy hitters (freq > N/100) via Misra–Gries candidate
      // summaries + an exact verify pass over only the candidates: the
      // exchange carries bounded summaries and then ≤200 candidate tokens —
      // never the 10⁹⁺-entry crawl vocabulary of the textbook groupBy(token).
      // The MG sketch state is partitioning-dependent; the OUTPUT is exact
      // and deterministic because the verify pass recounts precisely.
      extractous.pipeline.CorpusStats.heavyHitters(docs(s, dir), "text", fraction = 100)
        .select(col("tok"), col("cnt").cast("long").as("cnt"),
          col("n_tokens").cast("long").as("n_tokens"))
        .orderBy(col("cnt").desc, col("tok"))
    }),
    "s_cms" -> ((s, dir) => {
      // Count–Min phrase-frequency sketch (Cormode & Muthukrishnan 2005):
      // corpus-wide bigram counts answered from a 4×1024-counter sketch
      // (bounded-key aggregation — the exchange carries ≤ 4·W count rows no
      // matter the corpus size) instead of the 10¹⁴-gram-row shuffle of the
      // textbook explode+groupBy. Candidates are the distinct bigrams of a
      // deterministic 20-document sample; the oracle replays the ENTIRE
      // sketch in SQL — token poly-hashes, affine row positions, counter
      // collisions, and the min-over-rows estimate — so CMS semantics are
      // verified exactly, overcounts included.
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val sketch = extractous.pipeline.Cms.build(d, "text", w = 1024)
      val cands = extractous.pipeline.Cms.candidateBigrams(
        d.filter(col("doc_id") < 20), "text")
      extractous.pipeline.Cms.estimatePhrases(cands, "w1", "w2", sketch)
        .filter(col("est") >= 30)
        .orderBy(col("w1"), col("w2"))
    }),
    "d_dsir" -> ((s, dir) => {
      // DSIR importance selection (Xie et al. 2023, arXiv 2302.03169):
      // target = the English subset; hashed uni+bigram profiles, fixed-point
      // log-ratio weights, per-doc scores, and the top-100 selection
      // boundary ALL replay bit-identically in the DuckDB oracle. 92 of the
      // 100 selected docs are English — the ratio genuinely recovers the
      // target distribution; it is not a tautological flag copy.
      extractous.pipeline.Dsir.selectTopK(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang")),
        "doc_id", "text", col("lang") === "en", k = 100)
        .orderBy(col("doc_id"))
    }),
    "t_rarity" -> ((s, dir) => {
      // corpus-frequency rarity (order-0 CCNet-LM-filter analog): every
      // per-token term floors to a long before the order-free long sum, so
      // the score is bit-exact across engines and parallelism levels
      TextStats.rarityReport(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")),
        "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "t_lm_ppl" -> ((s, dir) => {
      // CCNet LM quality bucketing (Wenzek et al., LREC 2020 §4.4): a
      // hashed-bigram LM trained on the English subset, head/middle/tail
      // perplexity terciles. Model counts, fixed-point surprise scores,
      // and the tercile thresholds ALL replay bit-identically in the
      // DuckDB oracle — the score range is provably ≤ 6529 values, so the
      // terciles come from an exact histogram, no ntile()/row_number().
      extractous.pipeline.LmQuality.bucketed(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang")),
        "doc_id", "text", col("lang") === "en")
        .orderBy(col("doc_id"))
    }),
    "t_tokens_bpe" -> ((s, dir) => {
      // BPE subword counting: merges trained offline from the generator's
      // closed 31-word vocabulary until every vocab word is ONE token
      // (PipelineSpec asserts), making the oracle closed-form: in-vocab
      // words cost 1; the planted "query7" exercises real subword
      // segmentation (learned "query" merges apply to the prefix, (y,7)
      // was never learned → 2 tokens); "0123456789" is all
      // unseen-in-training characters → 10 tokens on every 3rd doc
      val content = concat(col("text"), lit(" query7"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" 0123456789")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_words"),
        extractous.pipeline.Bpe.countTokens(content).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),
    "d_quality_train" -> ((s, dir) => {
      // corpus-TRAINED quality classifier (the fastText-style gate of
      // LLaMA/CCNet): batch perceptron over integer features (words, digit
      // chars, length, 'the' occurrences), labels from a planted junk
      // stratum (id%5==0 → digit spam). Exact 64-bit arithmetic end to end;
      // each iteration is one model-sized gradient aggregation. The oracle
      // replays features, every unrolled iteration's misclassified-set
      // gradient, the weight updates, and the final per-doc margins.
      import extractous.pipeline.QualityTrain
      val content = when(pmod(col("doc_id"), lit(5)) === 0,
        repeat(concat(col("doc_id").cast("string"), lit("99 ")), 8)).otherwise(col("text"))
      val label = when(pmod(col("doc_id"), lit(5)) === 0, lit(-1L)).otherwise(lit(1L))
      val feat = s.read.parquet(s"$dir/documents.parquet")
        .select(Seq(col("doc_id"), label.as("y")) ++
          QualityTrain.features(content).map { case (n, c) => c.as(n) }: _*)
        .cache()
      val w = QualityTrain.train(feat, iters = 8)
      val score = QualityTrain.scoreCol(w)
      val out = feat.select(col("doc_id"), col("y").as("label"),
          score.as("score"),
          when(score > 0, lit(1L)).otherwise(lit(-1L)).as("pred"))
        .orderBy(col("doc_id"))
      out
    }),
    "d_shuffle" -> ((s, dir) => {
      // deterministic training-order shuffle: a 4-round Feistel bijection
      // over [0, 2^62) maps doc_id → unique skey; ORDER BY skey is a full
      // reproducible pseudorandom permutation, no rand(), no permutation
      // table, no global sort (writing uses repartitionByRange). The oracle
      // replays every Feistel round in BIGINT arithmetic; uniqueness is
      // asserted in ShuffleSpec (bijection ⇒ distinct skey count = N).
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          extractous.pipeline.Shuffle.feistelKey(col("doc_id"), seed = 42L))
        .orderBy(col("doc_id"))
    }),
    "d_bpe_train" -> ((s, dir) => {
      // distributed BPE tokenizer TRAINING (Sennrich 2016): word counting is
      // the only corpus-scale stage (map-side combined, exchange = distinct
      // words); the weighted greedy merge loop runs on model-sized driver
      // state (the ship-the-model posture of the IVF centroids). The oracle
      // replays the ENTIRE loop in DuckDB — counts, weighted pair counts,
      // argmax + lexicographic tie-break, and overlap-correct left-to-right
      // merge application as one recursive CTE per iteration — so any drift
      // anywhere in training mismatches the merge table bit-for-bit.
      extractous.pipeline.BpeTrain.train(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), numMerges = 12)
        .orderBy(col("rank"))
    }),
    "t_langid" -> ((s, dir) => {
      // char-n-gram language ID (Cavnar–Trenkle 1994, 12 languages / 5
      // scripts): profiles trained offline from embedded seed lexicons and
      // frozen as model data (the IVF-centroid pattern). Evaluation text is
      // sampled per doc_id from a splitmix stream DISJOINT from the
      // training stream, so a correct pred_lang is genuine statistical
      // recovery, not stopword-list lookup or training-text replay. The
      // oracle knows the true language only from the id arithmetic.
      // sample generation + prediction as codegen'd narrow expressions — the
      // previous Dataset.map closure forced a per-row deserialize/serialize
      // round trip and broke whole-stage codegen; values are identical
      // (lang_sample_text replays the same (lang, id, 60) sampleText call)
      import extractous.pipeline.LangData
      val langArr = array(LangData.langs.map(lit): _*)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          element_at(langArr, (col("doc_id") % 12).cast("int") + 1).as("true_lang"),
          extractous.pipeline.LangId.predict(
            extractous.spark.signatures.lang_sample_text(col("doc_id"), 60)).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),
    "t_entropy" -> ((s, dir) => {
      // character-distribution entropy (information-theoretic gibberish
      // signal): codepoint mod-256 buckets, ⅓-bit fixed-point surprise via
      // the shared flog2cube, truncating mean — the oracle replays buckets,
      // logs, and the mean bit-exactly. Planted rungs: a one-char spam doc
      // (entropy 0) and a 64-char ramp (high entropy) alongside the prose.
      val content = when(col("doc_id") % 97 === 0, lit("a" * 200))
        .when(col("doc_id") % 97 === 1,
          concat_ws("", (0 until 64).map(i => lit((33 + i).toChar.toString)): _*))
        .otherwise(col("text"))
      docs(s, dir)
        .select(col("doc_id") +:
          TextStats.entropyReport(content).map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "t_normalize" -> ((s, dir) => {
      // crawl-text normalization: NFC + typographic-punctuation folding +
      // invisible-char removal + whitespace canonicalization, one
      // imperative pass (NormalizeKernel); the oracle replays the same
      // rewrite chain with nfc_normalize + replace + regexp_replace built
      // from the SAME CharMap. Planted rungs exercise combining accents,
      // curly quotes/dashes/ellipsis, CRLF, NBSP/ZWSP, C0/DEL controls,
      // LF runs, and an astral emoji over the otherwise-ASCII corpus.
      val content = when(col("doc_id") % 97 === 0, lit(normRungA))
        .when(col("doc_id") % 97 === 1, lit(normRungB))
        .otherwise(col("text"))
      docs(s, dir)
        .select(col("doc_id") +:
          TextStats.normalizeReport(content).map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "t_gopher" -> ((s, dir) => {
      // Gopher-style quality gate (Rae et al. §A1.1) over a multi-line doc
      // with deterministic bullet/ellipsis/duplicate-line rungs planted by
      // doc_id arithmetic; every signal is fixed-point integer so the oracle
      // reproduces it bit-exactly
      val stopCol = TextStats.langStops.tail.foldLeft(
        lit(TextStats.langStops.head._2.mkString(" ")): org.apache.spark.sql.Column) {
        case (acc, (l, ws)) => when(col("lang") === l, lit(ws.mkString(" "))).otherwise(acc)
      }
      val content = concat(
        lit("Document "), col("doc_id").cast("string"), lit("\n"), stopCol, lit("\n"), col("text"),
        when(col("doc_id") % 4 === 0, concat(lit("\n"), stopCol)).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("\n- bullet one\n- bullet two")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("\nto be continued...")).otherwise(lit("")))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
        .withColumn("content", content)
        .select(col("doc_id") +:
          TextStats.gopherReport(col("content"), minWords = 10).map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "t_c4" -> ((s, dir) => {
      // C4 cleaning (Raffel et al. 2020 §2.2): line gate (terminal punct,
      // ≥3 words, no "javascript") + page gate (≥5 sentences, no lorem
      // ipsum / '{' / blocklist word), all rungs planted by doc_id
      // arithmetic; pass requires id % 60 == 0 (sentence quota) minus the
      // lorem (%7), brace (%11), and casino (%13) kills
      val idS = col("doc_id").cast("string")
      val content = concat(
        lit("Title "), idS,
        lit("\n"), col("text"), lit("."),
        lit("\nToo short."),
        lit("\nEnable javascript to view this page."),
        when(col("doc_id") % 3 === 0,
          concat(lit("\nSecond thought number "), idS, lit(" lands here!"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("\nHe said \"this is fine.\"")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("\nWhat could go wrong? Nothing at all.")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\nLorem ipsum dolor sit amet.")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\nfunction f() { return 1; }")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit("\nWin big at the casino tonight.")).otherwise(lit("")))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .withColumn("content", content)
        .select(col("doc_id") +:
          TextStats.c4Report(col("content")).map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "t_quality_fused" -> ((s, dir) => {
      // ONE-SCAN fused quality projection (TextStats.fusedQualityReport):
      // language id + the full Gopher, C4 and entropy reports emitted from a
      // single narrow codegen'd Project — the d_corpus-style composition
      // shape that turns k quality signals from k corpus scans into ONE at
      // 100 TB (SparkPlanSpec asserts: one FileScan, zero Exchange, one
      // whole-stage-codegen span). Content is a fixed 60-word sentence per
      // language (seed disjoint from the classifier's training stream), so
      // pred_lang's oracle is pure id arithmetic while gopher/c4/entropy are
      // replayed by the SAME textbook CTE chains the standalone oracles use.
      val sent = fusedSents.zipWithIndex.foldRight(lit("")) {
        case (((_, txt), i), acc) => when(col("doc_id") % 12 === i, lit(txt)).otherwise(acc)
      }
      val content = concat(lit("Doc "), col("doc_id").cast("string"), lit(". "), sent, lit("."))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id") +:
          TextStats.fusedQualityReport(content, minWords = 10).map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "t_repetition" -> ((s, dir) => {
      // top-2-gram repetition: shuffle-free sorted-run scan (the oracle uses
      // the explode+group formulation — the clever plan is checked against
      // the obvious one). Every 5th doc gets a planted "buy now" spam run.
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(col("text"), when(col("doc_id") % 5 === 0,
            lit(" buy now buy now buy now buy now")).otherwise(lit(""))).as("content"))
        .select(col("doc_id") +:
          TextStats.repetitionReport(col("content")).map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "t_pii" -> ((s, dir) => {
      // PII scrubbing (emails / phones / IPv4 → typed placeholders): the
      // input plants one of each after the seed text in closed form, so the
      // oracle is the redacted string — over-redaction of the seed text would
      // mismatch just as surely as a missed hit
      val d = docs(s, dir)
      val raw = concat(col("text"), lit(" contact doc"), col("doc_id"),
        lit("@example.com or 10.0."), pmod(col("doc_id"), lit(256)),
        lit(".1 call (555) 123-4567"))
      val (ne, np, ni) = TextStats.piiCounts(raw)
      d.select(col("doc_id"), TextStats.scrubPii(raw).as("text"),
          ne.cast("long").as("n_email"), np.cast("long").as("n_phone"), ni.cast("long").as("n_ip"))
        .orderBy(col("doc_id"))
    }),
    "d_decontam" -> ((s, dir) => {
      // Benchmark decontamination (GPT-3/Llama-style n-gram overlap):
      // benchmark = the id%50==0 docs' original texts; every 7th doc gets its
      // block's benchmark text appended (planted contamination). Broadcast
      // semi-join on xxhash64 gram keys; the oracle joins on gram STRINGS, so
      // the hash-keyed plan is verified against exact string matching.
      val docs0 = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      val bench = docs0.filter(col("doc_id") % 50 === 0).select(col("text"))
      val planted = docs0.alias("d")
        .join(docs0.alias("b"), col("b.doc_id") === col("d.doc_id") - (col("d.doc_id") % 50))
        .select(col("d.doc_id").as("doc_id"),
          when(col("d.doc_id") % 7 === 0, concat(col("d.text"), lit(" "), col("b.text")))
            .otherwise(col("d.text")).as("text"))
      extractous.pipeline.Decontam.flag(planted, bench, "text", "doc_id", n = 3, pctThreshold = 30)
        .orderBy(col("doc_id"))
    }),
    "d_dedup_substr" -> ((s, dir) => {
      // sub-document exact-substring dedup (Lee et al. 2022): every 4th doc
      // carries its block-of-20's shared 12-token span; flagged grams must
      // cover exactly those spans (plus any NATURAL cross-doc 8-gram
      // repeats, which the brute-force gram-string oracle reproduces
      // identically — the hash-keyed plan is verified against exact string
      // matching, same contract as d_decontam)
      val d = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      val block = (col("doc_id") - pmod(col("doc_id"), lit(20))).cast("string")
      val planted = d.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 1,
          concat(col("text"),
            lit(" shared span alpha beta gamma delta epsilon zeta eta theta block "), block))
          .otherwise(col("text")).as("text"))
      Dedup.substringFlags(planted, "text", "doc_id", k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "d_dedup_substr_cut" -> ((s, dir) => {
      // the REMOVAL companion of d_dedup_substr: the planted block-shared
      // spans (and any natural cross-doc repeats) are CUT from the
      // normalized token stream; the oracle rebuilds the surviving tokens
      // from the gram-string brute force
      val d = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      val block = (col("doc_id") - pmod(col("doc_id"), lit(20))).cast("string")
      val planted = d.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 1,
          concat(col("text"),
            lit(" shared span alpha beta gamma delta epsilon zeta eta theta block "), block))
          .otherwise(col("text")).as("text"))
      Dedup.cutFlaggedSpans(planted, "text", "doc_id", k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "d_split" -> ((s, dir) => {
      // deterministic train/val/test split keyed on the CONTENT fingerprint
      // (dup-leakage-proof; narrow, RNG-free, engine-reproducible)
      extractous.pipeline.Sampling.split(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")),
        "text")
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }),
    "d_corpus" -> ((s, dir) => {
      // END-TO-END corpus build in ONE declarative plan, composed entirely
      // from the library's own stages: normalize → quality gate (token
      // count + char-entropy band) → exact dedup on the CLEANED text (keep
      // min doc_id; the doubled corpus proves removal) → content-keyed
      // train/val/test split. Planted junk rungs make both gate signals
      // bite: a 1-token doc (length gate) and an 11-token single-char doc
      // (entropy gate). The oracle replays the whole chain.
      val base = docsWithCopies(s, dir)
      val raw = when(col("doc_id") % 83 === 0, lit("zzzz"))
        .when(col("doc_id") % 83 === 1, lit("a a a a a a a a a a a"))
        .otherwise(col("text"))
      val cleaned = base.select(col("doc_id"),
        extractous.spark.normalize.normalize_text(coalesce(raw, lit("")))
          .getField("clean").as("clean"))
      val gated = cleaned
        .withColumn("n_tokens", TextStats.tokenCount(col("clean")).cast("long"))
        .withColumn("ent_mean_x3",
          extractous.spark.entropy.char_entropy(col("clean")).getField("ent_mean_x3"))
        .where(col("n_tokens") >= 10 && col("ent_mean_x3") >= 6)
      // split assignment is content-keyed, so compute it (and keep the gate
      // stats) BEFORE dedup — all narrow — and let the dedup aggregate carry
      // them: one shuffle of (digest, id, small stats); the cleaned text
      // never moves and no representative join is needed
      val enriched = extractous.pipeline.Sampling.split(gated, "clean")
      Dedup.byHashWith(enriched, "clean", "doc_id",
        Seq("n_tokens", "ent_mean_x3", "bucket", "split"))
        .select(col("keep_id").as("doc_id"), col("cnt"), col("n_tokens"),
          col("ent_mean_x3"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }),
    "d_robots" -> ((s, dir) => {
      // robots-exclusion gate (RFC 9309): per-host robots.txt with a `*`
      // group (Disallow /private, Allow /private/ok — longest-match allow
      // wins, plus a wildcard rule that must be SKIPPED not misapplied) and,
      // on odd hosts, a specific graftbot group that supersedes `*` entirely
      import s.implicits._
      val hostN = when(col("doc_id") % 2 === 0, lit(0)).otherwise(col("doc_id") % 9 + 1)
      val pathC = when(col("doc_id") % 5 === 0, lit("/private/doc-"))
        .when(col("doc_id") % 5 === 1, lit("/private/ok/doc-"))
        .when(col("doc_id") % 5 === 2, lit("/bot/doc-"))
        .otherwise(lit("/doc-"))
      val url = concat(lit("https://host-"), hostN.cast("string"), lit(".example"),
        pathC, col("doc_id").cast("string"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), url.as("url"))
      val robots = (0 to 9).map { n =>
        val base = "User-agent: *\nDisallow: /private\nAllow: /private/ok\nDisallow: /*.gif$\n"
        val spec = if (n % 2 == 1) "User-agent: graftbot\nDisallow: /bot\n" else ""
        (s"host-$n.example", base + spec)
      }.toDF("host", "robots_txt")
      extractous.pipeline.UrlFilter.robotsBlocked(pages, "url", robots, "graftbot")
        .select(col("doc_id"), col("url"), col("blocked"))
        .orderBy(col("doc_id"))
    }),
    "d_urlfilter" -> ((s, dir) => {
      // UT1-style domain blocklist: suffix-correct matching as a narrow
      // literal-array expression (no join, no shuffle — see UrlFilter)
      val hostN = when(col("doc_id") % 2 === 0, lit("0"))
        .otherwise((col("doc_id") % 9 + 1).cast("string"))
      val url = concat(lit("https://host-"), hostN, lit(".example/doc-"), col("doc_id").cast("string"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), url.as("url"))
        .withColumn("host", extractous.pipeline.UrlFilter.host(col("url")))
        .withColumn("blocked", extractous.pipeline.UrlFilter.isBlocked(col("url"),
          Seq("host-3.example", "host-7.example")))
        .orderBy(col("doc_id"))
    }),
    "d_domain_cap" -> ((s, dir) => {
      // per-domain document cap (domain balancing): one hot host holding
      // half the corpus is capped to 25 deterministic survivors via the
      // bounded-heap threshold aggregate + broadcast join (no window, the
      // corpus never shuffles — see DomainBalance); 50 cold hosts stay
      // under the cap and pass untouched through the null-threshold path
      val host = when(col("doc_id") % 2 === 1, lit("hot.example"))
        .otherwise(concat(lit("host-"), (col("doc_id") % 50).cast("string"), lit(".example")))
      val url = concat(lit("https://"), host, lit("/doc/"), col("doc_id").cast("string"))
      val df = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), url.as("url"))
      extractous.pipeline.DomainBalance.capPerDomain(df, "url", "doc_id", 25)
        .select(col("doc_id"), col("url"), col("host"))
        .orderBy(col("doc_id"))
    }),
    "d_resample" -> ((s, dir) => {
      // temperature-based domain REBALANCING (mT5/XLM-R α-sampling, α=1/2,
      // over hosts): the hot host holding half the corpus is squashed ~√n
      // while 50 cold hosts keep most of their documents, scaled to ≈150
      // kept docs total. Per-page keep decision = a multiplication-only
      // DECIMAL(38,0) threshold test on the URL fingerprint — the oracle
      // replays host counts, the exact-isqrt weights, Σw, and every
      // per-page verdict in HUGEINT, bit-identically.
      val host = when(col("doc_id") % 2 === 1, lit("hot.example"))
        .otherwise(concat(lit("host-"), (col("doc_id") % 50).cast("string"), lit(".example")))
      val url = concat(lit("https://"), host, lit("/doc/"), col("doc_id").cast("string"))
      val df = docs(s, dir).select(col("doc_id"), url.as("url"))
      extractous.pipeline.DomainBalance.temperatureResample(df, "url", "doc_id", targetTotal = 150)
        .select(col("doc_id"), col("url"), col("host"))
        .orderBy(col("doc_id"))
    }),
    "d_linkgraph" -> ((s, dir) => {
      // outlink extraction + host in-degree (crawl-frontier analytics):
      // absolute / host-absolute / directory-relative / protocol-relative
      // hrefs resolve against the page URL; mailto and fragment-only drop.
      // Narrow per-row link kernel, one short-key (host) exchange.
      val idS = col("doc_id").cast("string")
      val url = concat(lit("https://host-"), (col("doc_id") % 7).cast("string"),
        lit(".example/dir/page"), idS)
      val html = concat(
        lit("<html><body><p>Doc "), idS, lit("</p>"),
        lit("<a href=\"https://host-"), ((col("doc_id") + 1) % 7).cast("string"),
        lit(".example/doc/"), idS, lit("\">next</a>"),
        lit("<a href=\"/local/"), idS, lit("\">self</a>"),
        lit("<a href=\"rel"), idS, lit("\">rel</a>"),
        lit("<a href=\"mailto:x@example.com\">m</a><a href=\"#top\">t</a>"),
        when(col("doc_id") % 5 === 0, lit("<a href=\"//cdn.example/asset\">c</a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), url.as("url"), html.as("html"))
      extractous.pipeline.LinkGraph.hostInDegree(pages, "url", "html")
        .orderBy(col("host"))
    }),
    "d_anchors" -> ((s, dir) => {
      // inbound anchor-text aggregation per TARGET host (anchor text labels
      // the page it points AT — the web-corpus weak-labeling signal). Rungs:
      // the absolute link's anchor is the doc's first word; the relative
      // link's anchor exercises nested markup + entity + whitespace
      // normalization; a javascript link must collect nothing.
      val idS = col("doc_id").cast("string")
      val url = concat(lit("https://src-"), (col("doc_id") % 5).cast("string"),
        lit(".example/p/"), idS)
      val w1 = element_at(split(col("text"), " "), 1)
      val html = concat(
        lit("<html><body><a href=\"https://host-"), (col("doc_id") % 9).cast("string"),
        lit(".example/t/"), idS, lit("\">"), w1, lit("</a>"),
        lit("<a href=\"/rel/"), idS, lit("\"> <b>Read</b> &amp;\tmore </a>"),
        lit("<a href=\"javascript:void(0)\">skip</a>"),
        lit("</body></html>"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), url.as("url"), html.as("html"))
      extractous.pipeline.LinkGraph.anchorTexts(pages, "url", "html")
        .orderBy(col("host"), col("anchor"))
    }),
    "d_pagerank" -> ((s, dir) => {
      // host-level PageRank (crawl-quality prior): same crafted link graph
      // as d_linkgraph — 7 hosts in a ring with self-loops, cdn.example as a
      // dangling sink. Fixed-point integer ranks, 3 iterations; every
      // per-iteration exchange carries (host, long) pairs only.
      val idS = col("doc_id").cast("string")
      val url = concat(lit("https://host-"), (col("doc_id") % 7).cast("string"),
        lit(".example/dir/page"), idS)
      val html = concat(
        lit("<html><body><p>Doc "), idS, lit("</p>"),
        lit("<a href=\"https://host-"), ((col("doc_id") + 1) % 7).cast("string"),
        lit(".example/doc/"), idS, lit("\">next</a>"),
        lit("<a href=\"/local/"), idS, lit("\">self</a>"),
        lit("<a href=\"rel"), idS, lit("\">rel</a>"),
        lit("<a href=\"mailto:x@example.com\">m</a><a href=\"#top\">t</a>"),
        when(col("doc_id") % 5 === 0, lit("<a href=\"//cdn.example/asset\">c</a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), url.as("url"), html.as("html"))
      extractous.pipeline.LinkGraph.hostPageRank(pages, "url", "html")
        .orderBy(col("host"))
    }),
    "d_dedup_url" -> ((s, dir) => {
      // canonical-URL dedup: two variants of every resource — mixed-case
      // host + default port + trailing slash + tracking params + fragment —
      // must collapse to ONE canonical group of size 2
      val d = docs(s, dir).select(col("doc_id"))
      val a = d.select(col("doc_id").as("id"),
        concat(lit("https://Host-"), pmod(col("doc_id"), lit(9)), lit(".Example/path"),
          col("doc_id"), lit("/?utm_source=x&q="), col("doc_id"), lit("#frag")).as("url"))
      val b = d.select((col("doc_id") + 100000).as("id"),
        concat(lit("https://host-"), pmod(col("doc_id"), lit(9)), lit(".example:443/path"),
          col("doc_id"), lit("?q="), col("doc_id")).as("url"))
      Dedup.dedupByUrl(a.union(b), "url", "id")
        .select(col("canonical_url"), col("keep_id").cast("long"), col("cnt").cast("long"))
        .orderBy(col("canonical_url"))
    }),
    "t_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),
    // ---------- multimodal ----------
    "m_image_meta" -> ((s, dir) => {
      import s.implicits._
      val imgs = docs(s, dir).filter(pmod(col("doc_id"), lit(100)).between(90, 95))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.payload(id, text, "en")) }
      Multimodal.imageMeta(imgs).toDF()
        .select(col("id"), col("width").cast("long"), col("height").cast("long"), col("format"))
        .orderBy(col("id"))
    }),
    "m_resize" -> ((s, dir) => {
      import s.implicits._
      val imgs = docs(s, dir).filter(pmod(col("doc_id"), lit(100)).between(90, 95))
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, CorpusGen.payload(id, text, "en")) }
      Multimodal.resize(imgs, factor = 2).toDF()
        .select(col("id"), col("width").cast("long"), col("height").cast("long"))
        .orderBy(col("id"))
    }),
    "m_frames" -> ((s, dir) => {
      Multimodal.frameSample(binDs(s, dir, CorpusGen.videoPayload), step = 2).toDF()
        .select(col("id"), col("n_frames").cast("long"),
          size(col("sampled_frames")).cast("long").as("n_sampled"), col("first_frame_text"))
        .orderBy(col("id"))
    }),
    "m_audio" -> ((s, dir) => {
      Multimodal.audioMeta(binDs(s, dir, CorpusGen.audioPayload)).toDF()
        .select(col("id"), col("sample_rate").cast("long"), col("channels").cast("long"),
          col("n_samples").cast("long"), col("duration_ms").cast("long"))
        .orderBy(col("id"))
    }))

  // Oracle CTE chains replaying the quality kernels over a caller-supplied
  // `src(doc_id, content)` CTE. Shared VERBATIM between the standalone
  // t_gopher / t_c4 / t_entropy oracles and the fused t_quality_fused
  // oracle, so the fused projection is checked against exactly the same
  // textbook formulation as its constituents. Each chain ends in a
  // one-row-per-doc CTE (gopher_r / c4_r / entropy_r) whose column names
  // match the Spark report names.
  private def sqlGopherCtes(minWords: Int): String =
    raw"""g_m AS (
       |  SELECT doc_id, content,
       |    string_split(content, chr(10)) AS lines,
       |    list_filter(regexp_split_to_array(content, '\s+'), w -> w <> '') AS words
       |  FROM src),
       |g_x AS (
       |  SELECT doc_id,
       |    len(words) AS n_words, len(lines) AS n_lines,
       |    list_aggregate(list_transform(words, w -> length(w)), 'sum') AS sumwl,
       |    length(content) - length(regexp_replace(content, '#', '', 'g')) AS nhash,
       |    (length(content) - length(regexp_replace(content, '\.\.\.', '', 'g'))) / 3
       |      + (length(content) - length(regexp_replace(content, '…', '', 'g'))) AS nell,
       |    len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %')) AS nbullet,
       |    len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS nellline,
       |    len(list_distinct(lines)) AS ndl,
       |    list_aggregate(list_transform(lines, l -> length(l)), 'sum') AS charsall,
       |    list_aggregate(list_transform(list_distinct(lines), l -> length(l)), 'sum') AS charsdistinct,
       |    len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z一-鿿]'))) AS nalpha,
       |    len(list_intersect(list_distinct(words), ['the','and','of','to','in'])) AS stops
       |  FROM g_m),
       |gopher_r AS (
       |  SELECT doc_id,
       |    CAST(n_words AS BIGINT) AS n_words,
       |    CAST(floor(100.0 * sumwl / greatest(n_words, 1)) AS BIGINT) AS mean_word_len_x100,
       |    CAST(floor(1000.0 * (nhash + nell) / greatest(n_words, 1)) AS BIGINT) AS symbol_ratio_x1000,
       |    CAST(floor(1000.0 * nbullet / n_lines) AS BIGINT) AS bullet_frac_x1000,
       |    CAST(floor(1000.0 * nellline / n_lines) AS BIGINT) AS ellipsis_frac_x1000,
       |    CAST(floor(1000.0 * (n_lines - ndl) / n_lines) AS BIGINT) AS dup_line_frac_x1000,
       |    CAST(floor(1000.0 * (charsall - charsdistinct) / greatest(charsall, 1)) AS BIGINT) AS dup_char_frac_x1000,
       |    CAST(floor(1000.0 * nalpha / greatest(n_words, 1)) AS BIGINT) AS alpha_frac_x1000,
       |    CAST(stops AS BIGINT) AS stop_hits,
       |    CAST(CASE WHEN n_words >= $minWords AND n_words <= 100000
       |      AND floor(100.0*sumwl/greatest(n_words,1)) >= 300 AND floor(100.0*sumwl/greatest(n_words,1)) <= 1000
       |      AND floor(1000.0*(nhash+nell)/greatest(n_words,1)) <= 100 AND floor(1000.0*nbullet/n_lines) <= 900
       |      AND floor(1000.0*nellline/n_lines) <= 300 AND floor(1000.0*(n_lines-ndl)/n_lines) <= 300
       |      AND floor(1000.0*(charsall-charsdistinct)/greatest(charsall,1)) <= 200
       |      AND floor(1000.0*nalpha/greatest(n_words,1)) >= 800 AND stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
       |  FROM g_x)""".stripMargin
  private val sqlC4Ctes: String =
    raw"""c_k AS (SELECT doc_id, content,
       |  list_filter(list_transform(string_split(content, chr(10)), l -> trim(regexp_replace(l, chr(13) || '$$', ''))), t ->
       |    length(t) > 0 AND substr(t, length(t), 1) IN ('.', '!', '?', '"')
       |    AND len(list_filter(string_split(t, ' '), w -> w <> '')) >= 3
       |    AND NOT contains(lower(t), 'javascript')) AS kept,
       |  len(string_split(content, chr(10))) AS total_lines FROM src),
       |c_j AS (SELECT doc_id, content, array_to_string(kept, chr(10)) AS clean_text,
       |  len(kept) AS kept_lines, total_lines FROM c_k),
       |c4_r AS (SELECT doc_id, clean_text,
       |  CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS BIGINT) AS n_sentences,
       |  CAST(kept_lines AS BIGINT) AS kept_lines,
       |  CAST(total_lines AS BIGINT) AS total_lines,
       |  CAST(CASE WHEN len(regexp_extract_all(clean_text, '[.!?]')) >= 5
       |    AND NOT contains(lower(content), 'lorem ipsum')
       |    AND NOT contains(content, '{')
       |    AND NOT regexp_matches(lower(content), '\b(casino|viagra|jackpot)\b')
       |    THEN 1 ELSE 0 END AS BIGINT) AS c4_pass
       |  FROM c_j)""".stripMargin
  private val sqlEntropyCtes: String =
    """e_ch AS (SELECT doc_id, ascii(substr(content, CAST(i AS INTEGER), 1)) % 256 AS b
      |       FROM (SELECT doc_id, content, unnest(range(1, length(content)+1)) AS i FROM src)),
      |e_k AS (SELECT doc_id, b, count(*) AS k FROM e_ch GROUP BY doc_id, b),
      |e_n AS (SELECT doc_id, CAST(length(content) AS BIGINT) AS n FROM src),
      |e_terms AS (
      |  SELECT e_k.doc_id, e_k.k * (
      |    CAST(floor(log2(CAST(least(e_n.n+1,131072)*least(e_n.n+1,131072)*least(e_n.n+1,131072) AS DOUBLE))) AS BIGINT) -
      |    CAST(floor(log2(CAST(least(e_k.k+1,131072)*least(e_k.k+1,131072)*least(e_k.k+1,131072) AS DOUBLE))) AS BIGINT)) AS term
      |  FROM e_k JOIN e_n ON e_k.doc_id = e_n.doc_id),
      |e_s AS (SELECT doc_id, sum(term) AS ent_sum FROM e_terms GROUP BY doc_id),
      |entropy_r AS (
      |  SELECT e_n.doc_id AS doc_id, CAST(e_n.n AS BIGINT) AS n_chars,
      |    CAST(coalesce(e_s.ent_sum, 0) AS BIGINT) AS ent_sum,
      |    CAST(coalesce(e_s.ent_sum, 0) // greatest(e_n.n, 1) AS BIGINT) AS ent_mean_x3
      |  FROM e_n LEFT JOIN e_s ON e_n.doc_id = e_s.doc_id)""".stripMargin

  // ======================= DuckDB oracles =======================

  private val sqlShingles =
    """list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
      | i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))""".stripMargin.replace("\n", "")

  /** Full-replay oracle for `d_bpe_train`: K greedy merge iterations, each
    * as (weighted pair counts → argmax with lexicographic tie-break → one
    * recursive CTE applying the merge left-to-right with overlap
    * semantics). CTEs are MATERIALIZED — as plain views every iteration
    * would re-expand the whole chain (and re-open the parquet scan)
    * exponentially.
    */
  private def sqlBpeTrainSql(k: Int): String = {
    val ctes = new StringBuilder
    ctes.append(
      raw"""seg0 AS MATERIALIZED (
           |  SELECT word, cnt, list_transform(range(1, length(word)+1), i -> word[i]) AS syms
           |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
           |          SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents)
           |        WHERE word <> '' GROUP BY word))""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      ctes.append(",\n")
      ctes.append(
        s"""best$i AS MATERIALIZED (
           |  SELECT a, b, CAST(c AS BIGINT) AS c FROM (
           |    SELECT s.syms[i.i] AS a, s.syms[i.i+1] AS b, SUM(s.cnt) AS c
           |    FROM seg$p s, unnest(range(1, len(s.syms))) AS i(i)
           |    GROUP BY 1, 2)
           |  ORDER BY c DESC, a, b LIMIT 1),
           |step$i AS MATERIALIZED (
           |  SELECT word, cnt, syms, 1 AS pos, CAST([] AS VARCHAR[]) AS acc FROM seg$p
           |  UNION ALL
           |  SELECT word, cnt, syms,
           |    CASE WHEN pos < len(syms) AND syms[pos]=(SELECT a FROM best$i) AND syms[pos+1]=(SELECT b FROM best$i)
           |         THEN pos+2 ELSE pos+1 END,
           |    CASE WHEN pos < len(syms) AND syms[pos]=(SELECT a FROM best$i) AND syms[pos+1]=(SELECT b FROM best$i)
           |         THEN list_append(acc, syms[pos] || syms[pos+1]) ELSE list_append(acc, syms[pos]) END
           |  FROM step$i WHERE pos <= len(syms)),
           |seg$i AS MATERIALIZED (
           |  SELECT word, cnt, acc AS syms FROM step$i WHERE pos = len(syms)+1)""".stripMargin)
    }
    val sel = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, a AS left_sym, b AS right_sym, c AS pair_count FROM best$i")
      .mkString(" UNION ALL ")
    s"WITH RECURSIVE ${ctes.result()}\nSELECT * FROM ($sel) ORDER BY rank"
  }

  /** Full-replay oracle for `d_quality_train`: integer features, then K
    * unrolled batch-perceptron iterations — each iteration's gradient is
    * the Σ y·x over rows the PREVIOUS weights misclassify (margin ≤ 0),
    * added componentwise. Pure BIGINT arithmetic start to finish.
    */
  private def sqlQualityTrainSql(k: Int): String = {
    def score(i: Int): String =
      if (i == 0) "0"
      else s"((SELECT b FROM w$i) + (SELECT c1 FROM w$i)*x1 + (SELECT c2 FROM w$i)*x2 + " +
        s"(SELECT c3 FROM w$i)*x3)"
    val iters = (1 to k).map { i =>
      val prev = (c: String) => if (i == 1) "0" else s"(SELECT $c FROM w${i - 1})"
      val m = s"y * ${score(i - 1)} <= 0"
      s"""w$i AS MATERIALIZED (
         |  SELECT ${prev("b")} + SUM(CASE WHEN $m THEN y ELSE 0 END) AS b,
         |         ${prev("c1")} + SUM(CASE WHEN $m THEN y*x1 ELSE 0 END) AS c1,
         |         ${prev("c2")} + SUM(CASE WHEN $m THEN y*x2 ELSE 0 END) AS c2,
         |         ${prev("c3")} + SUM(CASE WHEN $m THEN y*x3 ELSE 0 END) AS c3
         |  FROM f)""".stripMargin
    }.mkString(",\n")
    raw"""WITH src AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN repeat(CAST(doc_id AS VARCHAR) || '99 ', 8)
         |         ELSE text END AS content,
         |    CAST(CASE WHEN doc_id % 5 = 0 THEN -1 ELSE 1 END AS BIGINT) AS y
         |  FROM documents),
         |raw AS (
         |  SELECT doc_id, y,
         |    CAST(len(string_split_regex(trim(content), '\s+')) AS BIGINT) AS words,
         |    CAST(length(content) - length(regexp_replace(content, '[0-9]', '', 'g')) AS BIGINT) AS digits,
         |    CAST(length(content) AS BIGINT) AS chars,
         |    CAST((length(content) - length(replace(content, 'the', ''))) // 3 AS BIGINT) AS the
         |  FROM src),
         |f AS MATERIALIZED (
         |  SELECT doc_id, y,
         |    (digits * 256) // chars AS x1,
         |    chars // words AS x2,
         |    (the * 256) // words AS x3
         |  FROM raw),
         |$iters
         |SELECT doc_id, y AS label,
         |  CAST(${score(k)} AS BIGINT) AS score,
         |  CAST(CASE WHEN ${score(k)} > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
         |FROM f ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] =
    oracleSqlBase + ("x_job" -> oracleSqlBase("x_extract")) +
      ("q_stream_extract" -> oracleSqlBase("x_extract"))

  private def oracleSqlBase: Map[String, String] = Map(
    "x_extract" ->
      s"""SELECT $sqlUrl AS url,
         |CASE
         |  WHEN $sqlKind < 52 THEN 'Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text
         |  WHEN $sqlKind = 52 THEN 'Document ' || $sqlId || chr(10) || text || chr(10) || 'alpha ' || $sqlId || chr(10) || 'beta ' || $sqlId || chr(10) || 'Link ' || $sqlId || ' with inline and bold text'
         |  WHEN $sqlKind = 53 THEN 'Document ' || $sqlId || chr(10) || text
         |  WHEN $sqlKind = 54 THEN 'Document ' || $sqlId || chr(10) || text || chr(10) || 'Second chapter ' || $sqlId
         |  WHEN $sqlKind IN (61, 62) THEN 'Document ' || $sqlId || chr(10) || text
         |  WHEN $sqlKind = 63 THEN '$latin1Prefix' || text
         |  WHEN $sqlKind = 60 THEN '$gbkPrefix' || text
         |  WHEN $sqlKind = 64 THEN '$sjisPrefix' || text
         |  WHEN $sqlKind < 68 THEN text
         |  WHEN $sqlKind < 70 THEN '$cp1252Prefix' || text
         |  WHEN $sqlKind < 82 THEN 'Document ' || $sqlId || chr(10) || text || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Note ' || $sqlId ELSE '' END
         |  WHEN $sqlKind < 87 THEN 'Document ' || $sqlId || chr(10) || text || chr(10) || 'SHAPE ' || $sqlId
         |  WHEN $sqlKind < 90 THEN 'Document ' || $sqlId || chr(10) || text
         |  WHEN $sqlKind < 96 THEN 'DOC ' || $sqlId || chr(10) || rtrim(substr(text, 1, 40))
         |  WHEN $sqlKind < 98 THEN 'SCAN ' || $sqlId || chr(10) || rtrim(substr(text, 1, 20))
         |  ELSE ''
         |END AS text,
         |CAST(CASE WHEN $sqlKind = 99 THEN (CASE WHEN doc_id % 3 = 2 THEN -2 ELSE -4 END) ELSE 0 END AS BIGINT) AS status,
         |$sqlContentType AS content_type
         |FROM documents ORDER BY url""".stripMargin,
    "x_sniff" ->
      s"""SELECT $sqlUrl AS url,
         |CASE
         |  WHEN $sqlKind IN (61, 62, 87) THEN 'application/x-cfb'
         |  WHEN $sqlKind = 99 AND doc_id % 3 = 2 THEN 'application/octet-stream'
         |  ELSE $sqlContentType
         |END AS mime
         |FROM documents ORDER BY url""".stripMargin,
    "x_metadata" ->
      s"""SELECT $sqlUrl AS url, 'Document ' || $sqlId || ' (' || lang || ')' AS title
         |FROM documents
         |WHERE $sqlKind < 52 OR ($sqlKind >= 70 AND $sqlKind < 87)
         |ORDER BY url""".stripMargin,
    "x_truncate" ->
      s"""SELECT $sqlUrl AS url, substr(t, 1, 100) AS text,
         |CAST(length(substr(t, 1, 100)) AS BIGINT) AS n_chars
         |FROM (SELECT doc_id,
         |  CASE WHEN $sqlKind = 60 THEN '$gbkPrefix' || text
         |       WHEN $sqlKind = 63 THEN '$latin1Prefix' || text
         |       WHEN $sqlKind = 64 THEN '$sjisPrefix' || text
         |       WHEN $sqlKind >= 68 AND $sqlKind < 70 THEN '$cp1252Prefix' || text
         |       ELSE text END AS t
         |  FROM documents WHERE $sqlKind >= 55 AND $sqlKind < 70 AND $sqlKind NOT IN (61, 62))
         |ORDER BY url""".stripMargin,
    "x_xml" ->
      s"""SELECT $sqlUrl AS url,
         |'<doc>' || chr(10) || '<title>Document ' || $sqlId || ' (' || lang || ')</title>' || chr(10)
         | || '<h1>Document ' || $sqlId || '</h1>' || chr(10)
         | || '<p>' || $sqlStop || '</p>' || chr(10)
         | || '<p>' || text || '</p>' || chr(10) || '</doc>' AS xml
         |FROM documents WHERE $sqlKind < 52 ORDER BY url""".stripMargin,
    "x_alltext" ->
      s"""SELECT $sqlUrl AS url,
         |'Document ' || $sqlId || ' (' || lang || ')' || chr(10)
         | || 'Home About' || chr(10) || 'Section A' || chr(10) || 'Section B' || chr(10)
         | || 'Subscribe now limited offer click here' || chr(10)
         | || 'Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text || chr(10)
         | || 'Copyright 2024 Example Corp Terms of Service Privacy' AS text
         |FROM documents WHERE $sqlKind < 52 ORDER BY url""".stripMargin,
    "x_office_deleted" ->
      s"""SELECT $sqlUrl AS url,
         |'Document ' || $sqlId || chr(10) || text || chr(10) || 'DELETED ' || $sqlId
         | || chr(10) || 'MOVED ' || $sqlId || chr(10) || 'SHAPE ' || $sqlId AS text
         |FROM documents WHERE $sqlKind >= 82 AND $sqlKind < 87 ORDER BY url""".stripMargin,
    "x_errors" ->
      s"""SELECT $sqlUrl AS url,
         |CAST(CASE WHEN $sqlKind = 99 THEN (CASE WHEN doc_id % 3 = 2 THEN -2 ELSE -4 END) ELSE 0 END AS BIGINT) AS status,
         |CAST(CASE WHEN $sqlKind = 99 THEN 1 ELSE 0 END AS BIGINT) AS has_error
         |FROM documents WHERE $sqlKind IN (98, 99) ORDER BY url""".stripMargin,
    "x_binaryfile" ->
      s"""SELECT doc_id,
         |CASE WHEN $sqlKind < 52 THEN 'Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text
         |     WHEN $sqlKind = 52 THEN 'Document ' || $sqlId || chr(10) || text || chr(10) || 'alpha ' || $sqlId || chr(10) || 'beta ' || $sqlId || chr(10) || 'Link ' || $sqlId || ' with inline and bold text'
         |     WHEN $sqlKind = 53 THEN 'Document ' || $sqlId || chr(10) || text
         |     WHEN $sqlKind = 54 THEN 'Document ' || $sqlId || chr(10) || text || chr(10) || 'Second chapter ' || $sqlId
         |     WHEN $sqlKind IN (61, 62) THEN 'Document ' || $sqlId || chr(10) || text
         |     WHEN $sqlKind = 60 THEN '$gbkPrefix' || text
         |     WHEN $sqlKind = 63 THEN '$latin1Prefix' || text
         |     WHEN $sqlKind = 64 THEN '$sjisPrefix' || text
         |     WHEN $sqlKind >= 68 THEN '$cp1252Prefix' || text
         |     ELSE text END AS text,
         |CASE WHEN $sqlKind < 52 THEN 'text/html'
         |     WHEN $sqlKind = 52 THEN 'text/markdown'
         |     WHEN $sqlKind = 53 THEN 'message/rfc822'
         |     WHEN $sqlKind = 54 THEN 'application/epub+zip'
         |     WHEN $sqlKind = 61 THEN 'application/vnd.ms-excel'
         |     WHEN $sqlKind = 62 THEN 'application/vnd.ms-powerpoint'
         |     ELSE 'text/plain' END AS content_type
         |FROM documents WHERE $sqlKind < 70 ORDER BY doc_id""".stripMargin,
    "x_xlsx" ->
      s"""SELECT doc_id, 'Document ' || $sqlId || chr(10) || text AS text,
         |'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_pptx" ->
      s"""SELECT doc_id, 'Document ' || $sqlId || chr(10) || text AS text,
         |'application/vnd.openxmlformats-officedocument.presentationml.presentation' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_meta_ops" ->
      s"""SELECT $sqlUrl AS url, CAST(3 AS BIGINT) AS n_keys, CAST(1 AS BIGINT) AS has_desc,
         |'Synthetic page ' || $sqlId AS description
         |FROM documents WHERE $sqlKind < 52 ORDER BY url""".stripMargin,
    "q_stream_quality" ->
      // the streaming gate's output must equal a from-scratch batch
      // recomputation of the signals over raw text
      raw"""WITH m AS (
         |  SELECT doc_id, text AS content,
         |    string_split(text, chr(10)) AS lines,
         |    list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words
         |  FROM documents),
         |x AS (
         |  SELECT doc_id, len(words) AS n_words, len(lines) AS n_lines,
         |    list_aggregate(list_transform(words, w -> length(w)), 'sum') AS sumwl,
         |    length(content) - length(regexp_replace(content, '#', '', 'g')) AS nhash,
         |    (length(content) - length(regexp_replace(content, '\.\.\.', '', 'g'))) / 3
         |      + (length(content) - length(regexp_replace(content, '…', '', 'g'))) AS nell,
         |    len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %')) AS nbullet,
         |    len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS nellline,
         |    len(list_distinct(lines)) AS ndl,
         |    list_aggregate(list_transform(lines, l -> length(l)), 'sum') AS charsall,
         |    list_aggregate(list_transform(list_distinct(lines), l -> length(l)), 'sum') AS charsdistinct,
         |    len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z一-鿿]'))) AS nalpha,
         |    len(list_intersect(list_distinct(words), ['the','and','of','to','in'])) AS stops
         |  FROM m)
         |SELECT doc_id,
         |  CAST(n_words AS BIGINT) AS n_words,
         |  CAST(floor(100.0 * sumwl / greatest(n_words, 1)) AS BIGINT) AS mean_word_len_x100,
         |  CAST(stops AS BIGINT) AS stop_hits,
         |  CAST(CASE WHEN n_words >= 10 AND n_words <= 100000
         |    AND floor(100.0*sumwl/greatest(n_words,1)) >= 300 AND floor(100.0*sumwl/greatest(n_words,1)) <= 1000
         |    AND floor(1000.0*(nhash+nell)/greatest(n_words,1)) <= 100 AND floor(1000.0*nbullet/n_lines) <= 900
         |    AND floor(1000.0*nellline/n_lines) <= 300 AND floor(1000.0*(n_lines-ndl)/n_lines) <= 300
         |    AND floor(1000.0*(charsall-charsdistinct)/greatest(charsall,1)) <= 200
         |    AND floor(1000.0*nalpha/greatest(n_words,1)) >= 800 AND stops >= 2
         |    THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
         |FROM x ORDER BY doc_id""".stripMargin,
    "q_stream_window" ->
"""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY 1, 2
        |HAVING time_bucket(INTERVAL '1 hour', min(ts)) + INTERVAL '1 hour'
        |  <= (SELECT max(ts) - INTERVAL '10 minutes' FROM events)
        |ORDER BY w_start, event_type""".stripMargin,
    "x_encoding" ->
      s"""SELECT $sqlUrl AS url,
         |'Document ' || $sqlId || chr(10) ||
         |CASE lang WHEN 'de' THEN 'der die und nicht das' WHEN 'es' THEN 'el la los y no' WHEN 'fr' THEN 'le la les et ne' WHEN 'zh' THEN '? ? ? ? ?' ELSE 'the and of to in' END
         | || chr(10) || text AS text
         |FROM documents WHERE $sqlKind < 52 ORDER BY url""".stripMargin,
    "x_doc" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) ||
         |CASE WHEN doc_id % 3 = 0 THEN rtrim(repeat(text || ' ', 20)) ELSE text END AS text,
         |'application/msword' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_xls" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) ||
         |CASE WHEN doc_id % 3 = 0 THEN rtrim(repeat(text || ' ', 20)) ELSE text END AS text,
         |'application/vnd.ms-excel' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_ppt" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) ||
         |CASE WHEN doc_id % 3 = 0 THEN rtrim(repeat(text || ' ', 20)) ELSE text END AS text,
         |'application/vnd.ms-powerpoint' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_csv" ->
      s"""SELECT doc_id,
         |'title body' || chr(10) || 'Document ' || $sqlId || ', part "A" ' || text AS text,
         |'text/csv' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_mbox" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || text || chr(10)
         | || 'Re: Document ' || $sqlId || chr(10) || text || chr(10)
         | || 'From the archive of ' || $sqlId AS text,
         |'application/mbox' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_archive" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text || chr(10)
         | || text || chr(10) || text AS text,
         |CASE (doc_id // 100) % 4 WHEN 0 THEN 'application/zip' WHEN 1 THEN 'application/x-tar'
         |  WHEN 2 THEN 'application/x-7z-compressed' ELSE 'application/vnd.rar' END AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_charset_cyr" ->
      raw"""SELECT doc_id,
         |'привет мир это русский текст ' || regexp_replace(text, '[^ -~]', '?', 'g') AS text,
         |'text/plain; charset=' || CASE WHEN (doc_id // 100) % 2 = 0 THEN 'windows-1251' ELSE 'KOI8-R' END AS detected
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_cal" ->
      s"""SELECT doc_id,
         |CASE WHEN (doc_id // 100) % 2 = 0
         |  THEN 'Document ' || $sqlId || chr(10) || text || chr(10) || 'Room ' || $sqlId
         |  ELSE 'Document ' || $sqlId || chr(10) || 'Example Corp ' || $sqlId || chr(10) || text END AS text,
         |CASE WHEN (doc_id // 100) % 2 = 0 THEN 'text/calendar' ELSE 'text/vcard' END AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_pages" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || text ||
         |CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Second section ' || $sqlId ELSE '' END AS text,
         |'application/vnd.apple.pages' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_merge" ->
      // window-free latest-wins replay: recrawled urls take the increment
      // text/day, untouched urls keep the base row, new urls append, stale
      // rows (older warc_ts) never appear
      s"""SELECT url, text, warc_day FROM (
         |  SELECT 'https://host-' || CAST(doc_id % 7 AS VARCHAR) || '.example/doc/' || $sqlId AS url,
         |    CASE WHEN doc_id % 3 = 0 THEN 'R ' || text ELSE text END AS text,
         |    CASE WHEN doc_id % 3 = 0 THEN '2024-01-10'
         |         ELSE '2024-01-0' || CAST(doc_id % 3 + 1 AS VARCHAR) END AS warc_day
         |  FROM documents
         |  UNION ALL
         |  SELECT 'https://host-' || CAST(doc_id % 7 AS VARCHAR) || '.example/doc/' || $sqlId || '/v2',
         |    'N ' || text, '2024-01-11'
         |  FROM documents WHERE doc_id % 7 = 0
         |) ORDER BY url""".stripMargin,
    "x_warc" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text || chr(10)
         | || text || chr(10) || 'Crawl note ' || $sqlId AS text,
         |'application/warc' AS content_type,
         |'2' AS responses
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_warc_ingest" ->
      s"""SELECT url, text, content_type FROM (
         |  SELECT 'https://host-' || CAST(doc_id % 7 AS VARCHAR) || '.example/doc/' || $sqlId AS url,
         |         'Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text AS text,
         |         'text/html' AS content_type FROM documents
         |  UNION ALL
         |  SELECT 'https://host-' || CAST(doc_id % 7 AS VARCHAR) || '.example/doc/' || $sqlId || 'note',
         |         'Crawl note ' || $sqlId,
         |         'text/plain' FROM documents
         |) ORDER BY url""".stripMargin,
    "x_wet" ->
      // full closed-form replay of the WET conversion-record framing:
      // CRLF header block, name-based md5-UUID record id, OCTET
      // Content-Length (strlen, not length — the %7 rung is multi-byte)
      s"""WITH src AS (
         |  SELECT doc_id, $sqlUrl AS url,
         |    '2025-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T' ||
         |    lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
         |    lpad(CAST(doc_id * 7 % 60 AS VARCHAR), 2, '0') || ':' ||
         |    lpad(CAST(doc_id * 13 % 60 AS VARCHAR), 2, '0') || 'Z' AS d,
         |    text || CASE WHEN doc_id % 7 = 0 THEN ' café—résumé №42' ELSE '' END AS t
         |  FROM documents),
         |f AS (SELECT doc_id, url, d, t, md5(url || chr(10) || d) AS h,
         |      chr(13) || chr(10) AS crlf FROM src)
         |SELECT doc_id, url,
         |  'WARC/1.0' || crlf ||
         |  'WARC-Type: conversion' || crlf ||
         |  'WARC-Target-URI: ' || url || crlf ||
         |  'WARC-Date: ' || d || crlf ||
         |  'WARC-Record-ID: <urn:uuid:' || substr(h,1,8) || '-' || substr(h,9,4) || '-' ||
         |    substr(h,13,4) || '-' || substr(h,17,4) || '-' || substr(h,21,12) || '>' || crlf ||
         |  'Content-Type: text/plain' || crlf ||
         |  'Content-Length: ' || CAST(strlen(t) AS VARCHAR) || crlf || crlf ||
         |  t || crlf || crlf AS wet
         |FROM f ORDER BY doc_id""".stripMargin,
    "x_wet_ingest" ->
      s"""SELECT doc_id, text, 'application/warc' AS content_type,
         |CAST(0 AS BIGINT) AS status
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_msg" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || 'Sender ' || $sqlId || chr(10) ||
         |CASE WHEN doc_id % 3 = 0 THEN rtrim(repeat(text || ' ', 20)) ELSE text END AS text,
         |'application/vnd.ms-outlook' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_md" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || text || chr(10) || 'alpha ' || $sqlId || chr(10) || 'beta ' || $sqlId || chr(10) || 'Link ' || $sqlId || ' with inline and bold text' AS text,
         |'text/markdown' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_eml" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || text AS text,
         |'message/rfc822' AS content_type,
         |'Document ' || $sqlId AS subject
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_epub" ->
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || text || chr(10) || 'Second chapter ' || $sqlId AS text,
         |'application/epub+zip' AS content_type,
         |'Document ' || $sqlId || ' (en)' AS title
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_encoding_utf16be" ->
      s"""SELECT $sqlUrl AS url,
         |'Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text AS text,
         |CAST(2 * length('Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text) AS BIGINT) AS n_utf16be_bytes,
         |CAST(strlen('Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text) AS BIGINT) AS n_utf8_bytes
         |FROM documents WHERE $sqlKind < 52 ORDER BY url""".stripMargin,
    "x_odt" ->
      s"""SELECT doc_id, 'Document ' || $sqlId || chr(10) || text AS text,
         |'application/vnd.oasis.opendocument.text' AS content_type,
         |'Document ' || $sqlId || ' (en)' AS title
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_ods" ->
      s"""SELECT doc_id, 'Document ' || $sqlId || chr(10) || text AS text,
         |'application/vnd.oasis.opendocument.spreadsheet' AS content_type
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_charset" ->
      s"""SELECT $sqlUrl AS url,
         |'text/plain; charset=' || CASE
         |  WHEN $sqlKind < 60 THEN 'UTF-8'
         |  WHEN $sqlKind = 60 THEN 'GBK'
         |  WHEN $sqlKind = 63 THEN 'windows-1252'
         |  WHEN $sqlKind = 64 THEN 'Shift_JIS'
         |  WHEN $sqlKind < 67 THEN 'UTF-16LE'
         |  WHEN $sqlKind < 68 THEN 'UTF-16BE'
         |  ELSE 'windows-1252'
         |END AS detected,
         |CAST(0 AS BIGINT) AS status
         |FROM documents WHERE $sqlKind >= 55 AND $sqlKind < 70 AND $sqlKind NOT IN (61, 62)
         |ORDER BY url""".stripMargin,
    "x_version" ->
      s"""SELECT $sqlUrl AS url, 'extractous-spark/0.1.0' AS extractor_version
         |FROM documents WHERE $sqlKind < 52 ORDER BY url""".stripMargin,
    "x_stream" ->
      s"""SELECT doc_id, t AS text,
         |CAST(ceil(strlen(t) / 64.0) AS BIGINT) AS n_chunks,
         |CAST(strlen(t) AS BIGINT) AS n_bytes
         |FROM (SELECT doc_id,
         |  CASE WHEN $sqlKind < 52 THEN 'Document ' || $sqlId || chr(10) || $sqlStop || chr(10) || text
         |       WHEN $sqlKind = 52 THEN 'Document ' || $sqlId || chr(10) || text || chr(10) || 'alpha ' || $sqlId || chr(10) || 'beta ' || $sqlId || chr(10) || 'Link ' || $sqlId || ' with inline and bold text'
         |       WHEN $sqlKind = 53 THEN 'Document ' || $sqlId || chr(10) || text
         |       WHEN $sqlKind = 54 THEN 'Document ' || $sqlId || chr(10) || text || chr(10) || 'Second chapter ' || $sqlId
         |       WHEN $sqlKind IN (61, 62) THEN 'Document ' || $sqlId || chr(10) || text
         |       WHEN $sqlKind = 60 THEN '$gbkPrefix' || text
         |       WHEN $sqlKind = 63 THEN '$latin1Prefix' || text
         |       WHEN $sqlKind = 64 THEN '$sjisPrefix' || text
         |       WHEN $sqlKind >= 68 THEN '$cp1252Prefix' || text
         |       ELSE text END AS t
         |  FROM documents WHERE $sqlKind < 70)
         |ORDER BY doc_id""".stripMargin,
    "x_pdf_images" ->
      """SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS n_unique,
        |CAST(4 + 2 * (doc_id % 3) AS BIGINT) AS n_total
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x_pdf_marked" ->
      s"""SELECT doc_id,
         |'<doc>' || chr(10) || '<h1>Document ' || $sqlId || '</h1>' || chr(10)
         |  || '<p>' || text || '</p>' || chr(10) || '</doc>' AS xml_marked,
         |'<doc>' || chr(10) || '<p>Document ' || $sqlId || '</p>' || chr(10)
         |  || '<p>' || text || '</p>' || chr(10) || '</doc>' AS xml_plain
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_pdf_encrypted" ->
      // the oracle knows only what plaintext was embedded — if either the
      // writer's or the reader's RC4/MD5/AES/SHA-2 key schedule drifts from
      // the spec, extraction yields ciphertext garbage and every row
      // mismatches (revisions rotate by id%4: R2 RC4-40, R3 RC4-128,
      // R4 AESV2, R6 AESV3)
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || text AS text,
         |CAST(0 AS BIGINT) AS status,
         |'Document ' || $sqlId || ' (en)' AS title,
         |CAST(CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 4 ELSE 6 END AS BIGINT) AS enc_rev
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_pdf_password" ->
      // user and owner credentials both recover the full plaintext (any key
      // -schedule drift on either side yields garbage and mismatches every
      // row); the wrong password yields status -4 and an EMPTY text — the
      // no-leak contract
      s"""SELECT doc_id,
         |'Document ' || $sqlId || chr(10) || text AS text_user,
         |'Document ' || $sqlId || chr(10) || text AS text_owner,
         |CAST(0 AS BIGINT) AS status_user,
         |CAST(-4 AS BIGINT) AS status_wrong,
         |'' AS text_wrong,
         |CAST(CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 4 ELSE 6 END AS BIGINT) AS enc_rev
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_office_macros" ->
      s"""SELECT doc_id,
         |CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS has_macros,
         |CASE WHEN doc_id % 2 = 0 THEN 'Sub Doc' || $sqlId || '(): MsgBox 42: End Sub' ELSE '' END AS macro_src,
         |CAST(0 AS BIGINT) AS has_macros_off
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_ocr_lang" ->
      s"""SELECT doc_id, $sqlId || chr(10) || '?' AS text_num, $sqlId || chr(10) || 'e' AS text_eng
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_ocr_density" ->
      s"""SELECT doc_id, 'DOC ' || $sqlId || chr(10) || rtrim(substr(text, 1, 20)) AS text
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_ocr_preprocess" ->
      s"""SELECT doc_id,
         |'DOC ' || $sqlId || chr(10) || rtrim(substr(text, 1, 20)) || chr(10) || '?' AS text_raw,
         |'DOC ' || $sqlId || chr(10) || rtrim(substr(text, 1, 20)) AS text_pre
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x_ocr_timeout" ->
      s"""SELECT doc_id, CAST(-10 AS BIGINT) AS status,
         |'OCR failed: OCR timeout after 0s' AS error, 'OCR failed' AS message
         |FROM documents WHERE $sqlKind BETWEEN 90 AND 95 ORDER BY doc_id""".stripMargin,
    "x_ocr_params" ->
      s"""SELECT doc_id, 'deu' AS ocr_lang, '300' AS ocr_density, '8' AS ocr_depth
         |FROM documents WHERE $sqlKind BETWEEN 90 AND 95 ORDER BY doc_id""".stripMargin,
    "x_error_chain" ->
      """SELECT doc_id, CAST(-4 AS BIGINT) AS status,
        |CASE WHEN doc_id % 2 = 0 THEN 'pdf: no objects parsed <- gzip layer 1' ELSE 'pdf: no objects parsed' END AS error,
        |'extraction failed' AS message,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS chain_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_stream_dedup" ->
      """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type
        |FROM events ORDER BY user_id, event_type""".stripMargin,
    "q_stream_sessions" ->
      """WITH marks AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events)
        |), isl AS (
        |  SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM marks
        |), sess AS (
        |  SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_last, count(*) AS n
        |  FROM isl GROUP BY user_id, sid
        |)
        |SELECT user_id, strftime(s_start, '%Y-%m-%d %H:%M:%S') AS s_start, CAST(n AS BIGINT) AS n
        |FROM sess
        |WHERE sid < (SELECT max(sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
        |   -- timeout emission mirrors Spark EXACTLY: the timeout timestamp is
        |   -- the ms-FLOORED last event + gap, the watermark is the ms-floored
        |   -- max event time - delay, and EventTimeTimeout fires only when the
        |   -- watermark is STRICTLY past the timeout (timeoutTs < wm) — an
        |   -- inclusive µs-precision compare would diverge on boundary sessions
        |   OR epoch_ms(s_last) + 3600000 < (SELECT epoch_ms(max(ts)) FROM events) - 600000
        |ORDER BY user_id, s_start""".stripMargin,
    "r_sessions" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, CAST(count(*) AS BIGINT) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 3600000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "r_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "r_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "r_window" ->
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "r_topk" ->
      """SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "d_dedup_exact" ->
      """SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 100000, text FROM documents)
        |GROUP BY text ORDER BY text""".stripMargin,
    "d_dedup_hash" ->
      """SELECT md5(text) AS text_md5, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 100000, text FROM documents)
        |GROUP BY md5(text) ORDER BY text_md5""".stripMargin,
    "d_pack" ->
      raw"""WITH n AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '')) AS BIGINT) AS n
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, n,
         |    coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM n
         |)
         |SELECT doc_id, n AS n_tokens,
         |  CAST(cum // 256 AS BIGINT) AS seq_id_first,
         |  CAST(cum % 256 AS BIGINT) AS seq_off_first,
         |  CAST((cum + greatest(n, 1) - 1) // 256 AS BIGINT) AS seq_id_last
         |FROM c ORDER BY doc_id""".stripMargin,
    "d_dedup_bloom" ->
      // exact bloom replay: same polynomial fingerprint, same 4 affine
      // probe positions, "maybe seen" ⟺ all 4 positions hit the seen
      // side's position set — false positives reproduce identically
      raw"""WITH fp AS (
         |  SELECT doc_id,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
         |      (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
         |  FROM documents
         |), pos AS (
         |  SELECT doc_id, unnest([
         |    ((fp * 31 + 7) % 1000000007) % 131072,
         |    ((fp * 131 + 77) % 1000000007) % 131072,
         |    ((fp * 1009 + 777) % 1000000007) % 131072,
         |    ((fp * 9176 + 7777) % 1000000007) % 131072]) AS p
         |  FROM fp
         |), seen AS (
         |  SELECT DISTINCT p FROM pos WHERE doc_id % 3 <> 0
         |)
         |SELECT pr.doc_id AS doc_id,
         |  CAST(min(CASE WHEN s.p IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS maybe_seen
         |FROM pos pr LEFT JOIN seen s ON pr.p = s.p
         |WHERE pr.doc_id % 3 = 0
         |GROUP BY pr.doc_id ORDER BY pr.doc_id""".stripMargin,
    "d_dedup_bloom_sharded" ->
      // shard-aware bloom replay: the (shard, position) pair is the seen
      // key, so cross-shard position collisions must NOT read as hits
      raw"""WITH fp AS (
         |  SELECT doc_id,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
         |      (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
         |  FROM documents
         |), pos AS (
         |  SELECT doc_id, fp % 4 AS shard, unnest([
         |    ((fp * 31 + 7) % 1000000007) % 32768,
         |    ((fp * 131 + 77) % 1000000007) % 32768,
         |    ((fp * 1009 + 777) % 1000000007) % 32768,
         |    ((fp * 9176 + 7777) % 1000000007) % 32768]) AS p
         |  FROM fp
         |), seen AS (
         |  SELECT DISTINCT shard, p FROM pos WHERE doc_id % 3 <> 0
         |)
         |SELECT pr.doc_id AS doc_id,
         |  CAST(min(CASE WHEN s.p IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS maybe_seen
         |FROM pos pr LEFT JOIN seen s ON pr.shard = s.shard AND pr.p = s.p
         |WHERE pr.doc_id % 3 = 0
         |GROUP BY pr.doc_id ORDER BY pr.doc_id""".stripMargin,
    "d_minhash_lsh" ->
      s"""WITH t AS (SELECT doc_id, $sqlShingles AS sh FROM documents)
         |SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
         |FROM t a JOIN t b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(a.sh || b.sh)) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "d_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $sqlShingles AS sh FROM documents)
         |SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |  CAST(len(list_distinct(a.sh || b.sh)) AS BIGINT) AS uni
         |FROM t a JOIN t b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) * 5 >= len(list_distinct(a.sh || b.sh)) * 4
         |ORDER BY id_a, id_b""".stripMargin,
    "d_clusters" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(a.sh || b.sh)) >= 0.8
         |), e AS (
         |  SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p
         |), reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
         |)
         |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "d_dedup_lines" ->
      s"""WITH h AS (
         |  SELECT doc_id, $sqlUrl AS url, $sqlStop AS stop, text FROM documents WHERE $sqlKind < 52
         |), lines AS (
         |  SELECT url, 1 AS pos, 'Document ' || $sqlId AS line FROM h
         |  UNION ALL SELECT url, 2, stop FROM h
         |  UNION ALL SELECT url, 3, text FROM h
         |), counts AS (
         |  SELECT line, count(*) AS c FROM lines GROUP BY line
         |), kept AS (
         |  SELECT url, string_agg(line, chr(10) ORDER BY pos) AS text
         |  FROM lines JOIN counts USING (line)
         |  WHERE c <= 2
         |  GROUP BY url
         |)
         |SELECT h.url AS url, coalesce(k.text, '') AS text
         |FROM h LEFT JOIN kept k ON h.url = k.url
         |ORDER BY url""".stripMargin,
    "d_clusters_star" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 / len(list_distinct(a.sh || b.sh)) >= 0.8
         |), e AS (
         |  SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p
         |), reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
         |)
         |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "d_neardup_cosine" ->
      """SELECT CAST(vec_id AS BIGINT) AS id_a, CAST(vec_id + 100000 AS BIGINT) AS id_b
        |FROM embeddings ORDER BY id_a""".stripMargin,
    "d_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
        |), th AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(t)+1),
        |      i -> CAST(ascii(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT))), (a, c) -> (a*31+c) % 1000000007) * 4294967296
        |  + list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(t)+1),
        |      i -> CAST(ascii(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT))), (a, c) -> (a*37+c) % 1000000009) AS h
        |  FROM tok
        |), bits AS (
        |  SELECT CAST(unnest(range(0, 62)) AS INTEGER) AS b
        |), votes AS (
        |  SELECT th.doc_id, bits.b,
        |    CASE WHEN sum(CASE WHEN (th.h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS v
        |  FROM th CROSS JOIN bits GROUP BY th.doc_id, bits.b
        |), sig AS (
        |  SELECT doc_id, sum(v * (CAST(1 AS BIGINT) << b)) AS s FROM votes GROUP BY doc_id
        |)
        |SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
        |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS dist
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "s_semdedup" ->
      // CAST(CAST(x AS DOUBLE) * 1.25 AS FLOAT) is bit-identical to the JVM's
      // float multiply: the exact product fits a double (24+2 mantissa bits),
      // and the final cast rounds once — the same single rounding IEEE float
      // multiplication performs
      """WITH base AS (
        |  SELECT vec_id, label AS lab, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, label,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.25 AS FLOAT))
        |  FROM embeddings
        |), e AS (
        |  SELECT vec_id, lab, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM base
        |), pos AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS p),
        |cent AS (
        |  SELECT lab AS cell, list(m ORDER BY p) AS c FROM (
        |    SELECT e.lab, pos.p, avg(e.v[pos.p]) AS m FROM e CROSS JOIN pos GROUP BY e.lab, pos.p
        |  ) GROUP BY lab
        |), assigned AS (
        |  SELECT vec_id, v, cell, csim FROM (
        |    SELECT e.vec_id, e.v, cent.cell,
        |      list_dot_product(e.v, cent.c) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))) AS csim,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, cent.c) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
        |        cent.cell ASC) AS r
        |    FROM e CROSS JOIN cent)
        |  WHERE r = 1
        |), rem AS (
        |  SELECT DISTINCT b.vec_id AS id
        |  FROM assigned a JOIN assigned b ON a.cell = b.cell
        |    AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))
        |  WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.99
        |)
        |SELECT CAST(s.vec_id AS BIGINT) AS vec_id, CAST(s.cell AS BIGINT) AS cell,
        |  CAST(CASE WHEN rem.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM assigned s LEFT JOIN rem ON s.vec_id = rem.id
        |ORDER BY vec_id""".stripMargin,
    "s_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e
        |), q AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) END AS qv
        |  FROM s
        |)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |  CAST(round(scale * 1e9) AS BIGINT) AS scale_fp,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_dot,
        |  CAST(len(list_filter(qv, x -> abs(x) > 127)) AS BIGINT) AS n_clipped
        |FROM q ORDER BY vec_id""".stripMargin,
    "s_knn_brute" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |        list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS sim
        |      FROM q, e WHERE q.query_id <> e.vec_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM s)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank, CAST(neighbor_id AS BIGINT) AS neighbor_id
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "s_knn_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, label AS lab, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), pos AS (
        |  SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS p
        |), cent AS (
        |  SELECT lab AS cell, list(m ORDER BY p) AS c FROM (
        |    SELECT e.lab, pos.p, avg(e.v[pos.p]) AS m FROM e CROSS JOIN pos GROUP BY e.lab, pos.p
        |  ) GROUP BY lab
        |), assigned AS (
        |  SELECT vec_id AS vid, v AS cv, cell FROM (
        |    SELECT e.vec_id, e.v, cent.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, cent.c) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
        |        cent.cell ASC) AS r
        |    FROM e CROSS JOIN cent)
        |  WHERE r = 1
        |), probes AS (
        |  SELECT query_id, qv, cell FROM (
        |    SELECT e.vec_id AS query_id, e.v AS qv, cent.cell,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, cent.c) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))) DESC,
        |        cent.cell ASC) AS r
        |    FROM e CROSS JOIN cent WHERE e.vec_id < 20)
        |  WHERE r <= 3
        |), scored AS (
        |  SELECT p.query_id, a.vid,
        |    row_number() OVER (PARTITION BY p.query_id ORDER BY
        |      list_dot_product(p.qv, a.cv) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.cv, a.cv))) DESC,
        |      a.vid ASC) AS rank
        |  FROM probes p JOIN assigned a USING (cell)
        |  WHERE p.query_id <> a.vid
        |)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank, CAST(vid AS BIGINT) AS neighbor_id
        |FROM scored WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "t_tokens" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '')) AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_quality" ->
      """SELECT doc_id,
        |CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |CAST(CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '')) BETWEEN 5 AND 100000
        |  AND length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 10 <= length(text)
        |  AND length(text) >= 20 THEN 1 ELSE 0 END AS BIGINT) AS is_good
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s_bm25" ->
      // bit-exact BM25 replay: same tokenization as t_tokens, same ⅓-bit
      // IDF (sqlL), same integer tf normalization and // division, same
      // (score desc, doc_id asc) tie-break
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')) AS BIGINT) AS dl
         |  FROM documents),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS a FROM d),
         |tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')) AS w
         |  FROM documents),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok
         |  WHERE w IN ('query', 'vector', 'stream') GROUP BY doc_id, w),
         |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
         |avd AS (SELECT n, greatest(a // n, 1) AS av FROM stats),
         |scored AS (
         |  SELECT tf.doc_id,
         |    sum((${sqlL("avd.n")} - ${sqlL("df.df")}) *
         |        ((22000 * tf.tf * avd.av) // (10 * tf.tf * avd.av + 3 * avd.av + 9 * d.dl))) AS score
         |  FROM tf JOIN df USING (w) JOIN d USING (doc_id) CROSS JOIN avd
         |  GROUP BY tf.doc_id)
         |SELECT s.doc_id, d.dl, CAST(s.score AS BIGINT) AS score_x1000
         |FROM scored s JOIN d USING (doc_id)
         |ORDER BY score_x1000 DESC, doc_id LIMIT 10""".stripMargin,
    "s_kmv" ->
      """WITH u AS (SELECT text FROM documents UNION ALL SELECT text FROM documents),
        |h AS (SELECT DISTINCT
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS h
        |  FROM u),
        |sm AS (SELECT h FROM h ORDER BY h LIMIT 64),
        |agg AS (SELECT count(*) AS k_used, max(h) AS kth FROM sm)
        |SELECT CAST(k_used AS BIGINT) AS k_used,
        |  CAST(coalesce(kth, 0) AS BIGINT) AS kth_hash,
        |  CAST(CASE WHEN k_used < 64 THEN k_used
        |    ELSE floor(63.0 * 1000000007.0 / greatest(kth, 1)) END AS BIGINT) AS distinct_est
        |FROM agg""".stripMargin,
    "s_quantiles" ->
      // textbook window-cumsum formulation, verifying the histogram walk
      // against the obvious plan — including the bounded-histogram key rule
      // (exact length ≤ 65536, power-of-two bucket floor above), replayed
      // identically so the driver-side bound is itself under test
      """WITH l AS (SELECT CASE WHEN length(coalesce(text, '')) <= 65536
        |    THEN CAST(length(coalesce(text, '')) AS BIGINT)
        |    ELSE CAST(power(2, floor(log2(length(text)))) AS BIGINT) END AS len
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM l),
        |h AS (SELECT len, count(*) AS c FROM l GROUP BY len),
        |cum AS (SELECT len, sum(c) OVER (ORDER BY len) AS cum FROM h),
        |q(q_mille) AS (VALUES (500), (900), (990))
        |SELECT CAST(q.q_mille AS BIGINT) AS q_mille,
        |  CAST((SELECT min(len) FROM cum WHERE cum >= (q.q_mille * n.n + 999) // 1000) AS BIGINT) AS len,
        |  CAST(n.n AS BIGINT) AS n_docs
        |FROM q, n ORDER BY q_mille""".stripMargin,
    "s_heavyhitters" ->
      // the obvious formulation — full vocabulary histogram + threshold —
      // verifying that the bounded MG-candidates + exact-verify plan returns
      // precisely the true heavy-hitter set with exact counts
      raw"""WITH toks AS (
         |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
         |), t AS (SELECT tok FROM toks WHERE tok <> ''),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
         |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY tok)
         |SELECT c.tok AS tok, c.cnt AS cnt, n.n AS n_tokens
         |FROM c, n WHERE c.cnt * 100 > n.n
         |ORDER BY cnt DESC, tok""".stripMargin,
    "s_cms" ->
      // full replay of the Count–Min sketch: token poly-hashes, bigram
      // combine, the four affine row positions, the bounded counter table,
      // and the min-over-rows estimate — collisions and overcounts must
      // reproduce bit-identically, not just "roughly agree"
      raw"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
         |), th AS (
         |  SELECT doc_id, unnest(range(1, len(ts)+1)) AS i,
         |    unnest(list_transform(ts, t ->
         |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(t)+1),
         |        j -> CAST(ascii(substr(t, CAST(j AS INTEGER), 1)) AS BIGINT))), (a, c) -> (a*31+c) % 1000000007))) AS h
         |  FROM tok
         |), grams AS (
         |  SELECT (a.h * 131 + c.h) % 1000000007 AS g
         |  FROM th a JOIN th c ON a.doc_id = c.doc_id AND c.i = a.i + 1
         |), rk(j, ka, kb) AS (VALUES (0, 31, 7), (1, 131, 77), (2, 1009, 777), (3, 9176, 7777)),
         |cnt AS (
         |  SELECT rk.j * 1024 + ((g * rk.ka + rk.kb) % 1000000007) % 1024 AS slot, count(*) AS n
         |  FROM grams, rk GROUP BY 1
         |), cpair AS (
         |  SELECT DISTINCT ts[CAST(i AS INTEGER)] AS w1, ts[CAST(i+1 AS INTEGER)] AS w2
         |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tok WHERE doc_id < 20)
         |), chash AS (
         |  SELECT w1, w2,
         |    (list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(w1)+1),
         |       j -> CAST(ascii(substr(w1, CAST(j AS INTEGER), 1)) AS BIGINT))), (a, c) -> (a*31+c) % 1000000007) * 131 +
         |     list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(w2)+1),
         |       j -> CAST(ascii(substr(w2, CAST(j AS INTEGER), 1)) AS BIGINT))), (a, c) -> (a*31+c) % 1000000007)) % 1000000007 AS g
         |  FROM cpair
         |), est AS (
         |  SELECT c.w1, c.w2, min(coalesce(t.n, 0)) AS est
         |  FROM chash c CROSS JOIN rk
         |  LEFT JOIN cnt t ON t.slot = rk.j * 1024 + ((c.g * rk.ka + rk.kb) % 1000000007) % 1024
         |  GROUP BY c.w1, c.w2
         |)
         |SELECT w1, w2, CAST(est AS BIGINT) AS est FROM est WHERE est >= 30
         |ORDER BY w1, w2""".stripMargin,
    "t_rarity" ->
      raw"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS w
         |  FROM documents),
         |counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
         |tot AS (SELECT sum(cnt) AS total FROM counts),
         |scored AS (
         |  SELECT t.doc_id, CAST(floor(1000000.0 * tot.total / c.cnt) AS BIGINT) AS term
         |  FROM toks t JOIN counts c USING (w), tot),
         |agg AS (SELECT doc_id, count(*) AS n, sum(term) AS rsum FROM scored GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(a.rsum, 0) AS BIGINT) AS rarity_sum,
         |  CAST(coalesce(a.rsum, 0) // greatest(coalesce(a.n, 0), 1) AS BIGINT) AS rarity_mean_x1e6
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "t_lm_ppl" ->
      // full replay of the CCNet bucketing: token hashes, trusted-subset
      // gram counts, OOV-context penalty, fixed-point cube-log surprise,
      // and the histogram terciles (via the window cumsum the Spark side
      // avoids — the oracle is the textbook formulation on purpose)
      raw"""WITH tok AS (
         |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ts FROM documents
         |), th AS (
         |  SELECT doc_id, lang,
         |    unnest(range(1, len(ts)+1)) AS i,
         |    unnest(list_transform(ts, t ->
         |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(t)+1),
         |        j -> CAST(ascii(substr(t, CAST(j AS INTEGER), 1)) AS BIGINT))), (a, c) -> (a*31+c) % 1000000007))) AS h
         |  FROM tok
         |), pos AS (
         |  SELECT a.doc_id, a.lang, a.h % 8192 AS pu,
         |    8192 + ((a.h * 131 + c.h) % 1000000007) % 8192 AS pb
         |  FROM th a JOIN th c ON a.doc_id = c.doc_id AND c.i = a.i + 1
         |), cnt AS (
         |  SELECT b, count(*) AS n FROM (
         |    SELECT pu AS b FROM pos WHERE lang = 'en'
         |    UNION ALL SELECT pb FROM pos WHERE lang = 'en') GROUP BY b
         |), terms AS (
         |  SELECT p.doc_id,
         |    CASE WHEN coalesce(u.n, 0) = 0 THEN 51
         |         ELSE CAST(floor(log2(CAST(least(u.n+1,131072)*least(u.n+1,131072)*least(u.n+1,131072) AS DOUBLE))) AS BIGINT)
         |            - CAST(floor(log2(CAST(least(coalesce(g.n,0)+1,131072)*least(coalesce(g.n,0)+1,131072)*least(coalesce(g.n,0)+1,131072) AS DOUBLE))) AS BIGINT)
         |    END AS term
         |  FROM pos p LEFT JOIN cnt u ON u.b = p.pu LEFT JOIN cnt g ON g.b = p.pb
         |), ds AS (
         |  SELECT d.doc_id, CAST(coalesce((64 * t.s) // t.c, 0) AS BIGINT) AS surprise_x64
         |  FROM documents d LEFT JOIN (SELECT doc_id, sum(term) AS s, count(*) AS c FROM terms GROUP BY doc_id) t
         |    ON d.doc_id = t.doc_id
         |), ks AS (
         |  SELECT count(*) // 3 AS k1, 2 * count(*) // 3 AS k2 FROM documents
         |), cum AS (
         |  SELECT s, sum(cnt) OVER (ORDER BY s) AS c
         |  FROM (SELECT surprise_x64 AS s, count(*) AS cnt FROM ds GROUP BY surprise_x64)
         |), thr AS (
         |  SELECT (SELECT min(s) FROM cum, ks WHERE ks.k1 > 0 AND c >= ks.k1) AS s1,
         |         (SELECT min(s) FROM cum, ks WHERE ks.k2 > 0 AND c >= ks.k2) AS s2
         |)
         |SELECT ds.doc_id AS doc_id, ds.surprise_x64 AS surprise_x64,
         |  CASE WHEN thr.s1 IS NOT NULL AND ds.surprise_x64 <= thr.s1 THEN 'head'
         |       WHEN thr.s2 IS NOT NULL AND ds.surprise_x64 <= thr.s2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM ds, thr ORDER BY ds.doc_id""".stripMargin,
    "t_tokens_bpe" ->
      raw"""SELECT doc_id,
         |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
         |CAST(len(string_split_regex(trim(text), '\s+')) + 2
         |  + CASE WHEN doc_id % 3 = 0 THEN 10 ELSE 0 END AS BIGINT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "d_quality_train" -> sqlQualityTrainSql(8),
    "d_shuffle" -> {
      // unrolled 4-round Feistel replay: F(r,i) = (((r·C1 + seed + i·C3)
      // mod 2^32) · C2 >> 15) & mask — pure BIGINT ops, every intermediate
      // < 2^63, no float anywhere
      def f(r: String, i: Int): String =
        s"((((($r * 2654435761 + ${42L + i * 40503L}) % 4294967296) * 668265263) >> 15) & 2147483647)"
      val rounds = (1 to 4).foldLeft(("l0", "r0", "")) { case ((l, r, ctes), i) =>
        (s"l$i", s"r$i",
          ctes + s", s$i AS (SELECT doc_id, $r AS l$i, xor($l, ${f(r, i)}) AS r$i FROM s${i - 1})\n")
      }
      s"""WITH s0 AS (
         |  SELECT doc_id, (doc_id >> 31) & 2147483647 AS l0, doc_id & 2147483647 AS r0
         |  FROM documents)
         |${rounds._3}SELECT doc_id, (${rounds._1} << 31) + ${rounds._2} AS skey
         |FROM s4 ORDER BY doc_id""".stripMargin
    },
    "d_bpe_train" -> sqlBpeTrainSql(12),
    "t_langid" ->
      // the oracle derives the true language purely from id arithmetic —
      // the classifier must recover it from the character statistics alone
      """SELECT doc_id,
        |CASE doc_id % 12 WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es'
        |  WHEN 3 THEN 'fr' WHEN 4 THEN 'it' WHEN 5 THEN 'nl' WHEN 6 THEN 'pl'
        |  WHEN 7 THEN 'pt' WHEN 8 THEN 'ru' WHEN 9 THEN 'sv' WHEN 10 THEN 'tr'
        |  ELSE 'zh' END AS true_lang,
        |CASE doc_id % 12 WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es'
        |  WHEN 3 THEN 'fr' WHEN 4 THEN 'it' WHEN 5 THEN 'nl' WHEN 6 THEN 'pl'
        |  WHEN 7 THEN 'pt' WHEN 8 THEN 'ru' WHEN 9 THEN 'sv' WHEN 10 THEN 'tr'
        |  ELSE 'zh' END AS pred_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_entropy" ->
      // replays the codepoint mod-256 buckets, the shared flog2cube
      // (⅓-bit log) surprise, and the truncating mean bit-exactly
      s"""WITH src AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN repeat('a', 200)
        |         WHEN doc_id % 97 = 1 THEN (SELECT string_agg(chr(CAST(i AS INTEGER)), '' ORDER BY i) FROM range(33, 97) t(i))
        |         ELSE text END AS content
        |  FROM documents),
        |$sqlEntropyCtes
        |SELECT doc_id, n_chars, ent_sum, ent_mean_x3 FROM entropy_r ORDER BY doc_id""".stripMargin,
    "t_normalize" ->
      // replays NormalizeKernel's chain: nfc_normalize, CRLF/CR folding,
      // the CharMap replaces (generated from the kernel's own table),
      // control strip, and the whitespace-collapse regexes
      s"""WITH src AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 97 = 0 THEN '$normRungA'
         |         WHEN doc_id % 97 = 1 THEN '$normRungB'
         |         ELSE text END AS raw
         |  FROM documents),
         |c AS (SELECT doc_id, raw, ${sqlNormClean("raw")} AS clean FROM src)
         |SELECT doc_id, clean, CAST(length(raw) AS BIGINT) AS n_in,
         |  CAST(length(clean) AS BIGINT) AS n_out
         |FROM c ORDER BY doc_id""".stripMargin,
    "t_gopher" ->
      raw"""WITH d AS (SELECT doc_id, text, lang, $sqlStop AS stop FROM documents),
         |src AS (
         |  SELECT doc_id,
         |    'Document ' || CAST(doc_id AS VARCHAR) || chr(10) || stop || chr(10) || text
         |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || stop ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- bullet one' || chr(10) || '- bullet two' ELSE '' END
         |    || CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'to be continued...' ELSE '' END AS content
         |  FROM d),
         |${sqlGopherCtes(10)}
         |SELECT doc_id, n_words, mean_word_len_x100, symbol_ratio_x1000, bullet_frac_x1000,
         |  ellipsis_frac_x1000, dup_line_frac_x1000, dup_char_frac_x1000, alpha_frac_x1000,
         |  stop_hits, gopher_pass
         |FROM gopher_r ORDER BY doc_id""".stripMargin,
    "t_c4" ->
      raw"""WITH src AS (SELECT doc_id,
         |  'Title ' || CAST(doc_id AS VARCHAR)
         |  || chr(10) || text || '.'
         |  || chr(10) || 'Too short.'
         |  || chr(10) || 'Enable javascript to view this page.'
         |  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Second thought number ' || CAST(doc_id AS VARCHAR) || ' lands here!' ELSE '' END
         |  || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'He said "this is fine."' ELSE '' END
         |  || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'What could go wrong? Nothing at all.' ELSE '' END
         |  || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
         |  || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END
         |  || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Win big at the casino tonight.' ELSE '' END AS content
         |  FROM documents),
         |$sqlC4Ctes
         |SELECT doc_id, clean_text, n_sentences, kept_lines, total_lines, c4_pass
         |FROM c4_r ORDER BY doc_id""".stripMargin,
    "t_quality_fused" ->
      // the fused one-scan projection, verified against the SAME shared CTE
      // chains as the standalone gopher/c4/entropy oracles plus the
      // id-arithmetic language truth (statistical recovery, like t_langid)
      raw"""WITH src AS (SELECT doc_id, $sqlFusedContent AS content FROM documents),
         |${sqlGopherCtes(10)},
         |$sqlC4Ctes,
         |$sqlEntropyCtes
         |SELECT doc_id, $sqlFusedLang AS pred_lang,
         |  n_words, mean_word_len_x100, symbol_ratio_x1000, bullet_frac_x1000,
         |  ellipsis_frac_x1000, dup_line_frac_x1000, dup_char_frac_x1000, alpha_frac_x1000,
         |  stop_hits, gopher_pass,
         |  clean_text, n_sentences, kept_lines, total_lines, c4_pass,
         |  n_chars, ent_sum, ent_mean_x3
         |FROM src
         |JOIN gopher_r USING (doc_id) JOIN c4_r USING (doc_id) JOIN entropy_r USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "t_repetition" ->
      raw"""WITH c AS (
         |  SELECT doc_id, text || CASE WHEN doc_id % 5 = 0 THEN ' buy now buy now buy now buy now' ELSE '' END AS content
         |  FROM documents),
         |t AS (SELECT doc_id, list_filter(regexp_split_to_array(content, '\s+'), w -> w <> '') AS ws FROM c),
         |gi AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t WHERE len(ws) >= 2),
         |g AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram FROM gi),
         |cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
         |m AS (SELECT doc_id, sum(c) AS n2, max(c) AS topc FROM cnt GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |  CAST(coalesce(m.n2, 0) AS BIGINT) AS n_2grams,
         |  CAST(coalesce(m.topc, 0) AS BIGINT) AS top2_count,
         |  CAST(floor(1000.0 * coalesce(m.topc, 0) / greatest(coalesce(m.n2, 0), 1)) AS BIGINT) AS top2_frac_x1000
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "t_pii" ->
      s"""SELECT doc_id,
         |text || ' contact [EMAIL] or [IP] call [PHONE]' AS text,
         |CAST(1 AS BIGINT) AS n_email, CAST(1 AS BIGINT) AS n_phone, CAST(1 AS BIGINT) AS n_ip
         |FROM documents ORDER BY doc_id""".stripMargin,
    "d_decontam" ->
      // joins on gram STRINGS (the Spark plan joins on xxhash64 keys — the
      // oracle would catch any collision-induced miscount)
      raw"""WITH planted AS (
         |  SELECT d.doc_id, CASE WHEN d.doc_id % 7 = 0 THEN d.text || ' ' || b.text ELSE d.text END AS text
         |  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - (d.doc_id % 50)),
         |toks AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9\x{4e00}-\x{9fff}]+'), x -> x <> '') AS ts
         |  FROM planted),
         |benchtoks AS (
         |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9\x{4e00}-\x{9fff}]+'), x -> x <> '') AS ts
         |  FROM documents WHERE doc_id % 50 = 0),
         |grami AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM toks WHERE len(ts) >= 3),
         |grams AS (SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS g FROM grami),
         |benchi AS (SELECT ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM benchtoks WHERE len(ts) >= 3),
         |bench AS (SELECT DISTINCT array_to_string(ts[i:i+2], ' ') AS g FROM benchi),
         |counts AS (
         |  SELECT gr.doc_id, count(*) AS n_grams, count(b.g) AS n_matched
         |  FROM grams gr LEFT JOIN bench b ON gr.g = b.g GROUP BY gr.doc_id)
         |SELECT p.doc_id AS doc_id, coalesce(c.n_grams, 0) AS n_grams, coalesce(c.n_matched, 0) AS n_matched,
         |  CAST(CASE WHEN coalesce(c.n_matched,0)*100 >= coalesce(c.n_grams,0)*30 AND coalesce(c.n_grams,0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |FROM planted p LEFT JOIN counts c ON p.doc_id = c.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    "d_dedup_substr" ->
      // brute force on gram STRINGS: an xxhash64/rot-XOR collision in the
      // Spark plan would mismatch here, not hide
      raw"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % 4 = 1
         |    THEN text || ' shared span alpha beta gamma delta epsilon zeta eta theta block ' || CAST(doc_id - doc_id % 20 AS VARCHAR)
         |    ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9\x{4e00}-\x{9fff}]+'), x -> x <> '') AS ts FROM planted),
         |gi AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i FROM toks WHERE len(ts) >= 8),
         |g AS (SELECT doc_id, i, array_to_string(ts[i:i+7], ' ') AS gram FROM gi),
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
         |f AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (gram)),
         |c AS (SELECT doc_id, i, lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nx FROM f),
         |agg AS (SELECT doc_id, count(*) AS nf, sum(CASE WHEN nx IS NULL THEN 8 ELSE least(8, nx - i) END) AS cov FROM c GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |  CAST(coalesce(a.nf, 0) AS BIGINT) AS n_flagged_grams,
         |  CAST(coalesce(a.cov, 0) AS BIGINT) AS n_dup_tokens,
         |  CAST(CASE WHEN coalesce(a.nf, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_dup_span
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "d_dedup_substr_cut" ->
      // rebuilds the surviving token stream from the gram-STRING brute
      // force — verifies both the flag set and the two-pointer cut
      raw"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % 4 = 1
         |    THEN text || ' shared span alpha beta gamma delta epsilon zeta eta theta block ' || CAST(doc_id - doc_id % 20 AS VARCHAR)
         |    ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9\x{4e00}-\x{9fff}]+'), x -> x <> '') AS ts FROM planted),
         |gi AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i FROM toks WHERE len(ts) >= 8),
         |g AS (SELECT doc_id, i, array_to_string(ts[i:i+7], ' ') AS gram FROM gi),
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
         |f AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (gram)),
         |cov AS (SELECT DISTINCT f.doc_id, f.i + t.d AS ci FROM f, range(0, 8) t(d)),
         |tokpos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS p FROM toks),
         |kept AS (
         |  SELECT tp.doc_id, tp.p, tp.ts[tp.p] AS tok
         |  FROM tokpos tp LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.p = c.ci
         |  WHERE c.ci IS NULL),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text FROM kept GROUP BY doc_id)
         |SELECT pl.doc_id AS doc_id, coalesce(a.clean_text, '') AS clean_text
         |FROM planted pl LEFT JOIN agg a ON pl.doc_id = a.doc_id
         |ORDER BY pl.doc_id""".stripMargin,
    "d_split" ->
      """WITH f AS (
        |  SELECT doc_id,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
        |  FROM documents)
        |SELECT doc_id, fp % 100 AS bucket,
        |  CASE WHEN fp % 100 < 80 THEN 'train' WHEN fp % 100 < 90 THEN 'val' ELSE 'test' END AS split
        |FROM f ORDER BY doc_id""".stripMargin,
    "d_corpus" ->
      // full-chain replay: doubled corpus → junk rungs → normalize chain →
      // token count → ⅓-bit char entropy → group-by-clean dedup (min id) →
      // polynomial-fingerprint split
      s"""WITH b AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents),
         |r AS (
         |  SELECT doc_id, CASE WHEN doc_id % 83 = 0 THEN 'zzzz'
         |    WHEN doc_id % 83 = 1 THEN 'a a a a a a a a a a a'
         |    ELSE text END AS raw FROM b),
         |c AS (SELECT doc_id, ${sqlNormClean("raw")} AS clean FROM r),
         |tok AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(trim(clean), '\\s+'), w -> w <> '')) AS BIGINT) AS n_tokens
         |  FROM c),
         |n AS (SELECT doc_id, CAST(length(clean) AS BIGINT) AS n FROM c),
         |ch AS (SELECT doc_id, ascii(substr(clean, CAST(i AS INTEGER), 1)) % 256 AS bkt
         |  FROM (SELECT doc_id, clean, unnest(range(1, length(clean)+1)) AS i FROM c)),
         |k AS (SELECT doc_id, bkt, count(*) AS k FROM ch GROUP BY doc_id, bkt),
         |terms AS (SELECT k.doc_id, k.k * (${sqlL("n.n")} - ${sqlL("k.k")}) AS term
         |  FROM k JOIN n USING (doc_id)),
         |e AS (SELECT n.doc_id,
         |  CAST(coalesce(s.s, 0) // greatest(n.n, 1) AS BIGINT) AS ent_mean_x3
         |  FROM n LEFT JOIN (SELECT doc_id, sum(term) AS s FROM terms GROUP BY doc_id) s USING (doc_id)),
         |g AS (SELECT c.doc_id, c.clean, tok.n_tokens, e.ent_mean_x3
         |  FROM c JOIN tok USING (doc_id) JOIN e USING (doc_id)
         |  WHERE tok.n_tokens >= 10 AND e.ent_mean_x3 >= 6),
         |reps AS (SELECT clean, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS cnt
         |  FROM g GROUP BY clean),
         |f AS (SELECT reps.doc_id, reps.cnt, g.n_tokens, g.ent_mean_x3,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, length(g.clean)+1), i -> CAST(ascii(substr(g.clean, CAST(i AS INTEGER), 1)) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) % 100 AS bucket
         |  FROM reps JOIN g ON g.doc_id = reps.doc_id)
         |SELECT doc_id, cnt, n_tokens, ent_mean_x3, bucket,
         |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM f ORDER BY doc_id""".stripMargin,
    "d_robots" ->
      // closed form: odd hosts have a specific graftbot group (only /bot
      // blocked); even hosts fall back to * (/private blocked unless the
      // longer /private/ok allow matches)
      s"""SELECT doc_id,
         |'https://host-' || CAST(hn AS VARCHAR) || '.example' || pth || $sqlId AS url,
         |CAST(CASE WHEN hn % 2 = 1 THEN CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END
         |          ELSE CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END END AS BIGINT) AS blocked
         |FROM (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 + doc_id % 9 END AS hn,
         |  CASE doc_id % 5 WHEN 0 THEN '/private/doc-' WHEN 1 THEN '/private/ok/doc-'
         |    WHEN 2 THEN '/bot/doc-' ELSE '/doc-' END AS pth
         |FROM documents) ORDER BY doc_id""".stripMargin,
    "d_urlfilter" ->
      s"""SELECT doc_id, $sqlUrl AS url,
         |'host-' || CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 + doc_id % 9 END AS VARCHAR) || '.example' AS host,
         |CAST(CASE WHEN doc_id % 2 = 1 AND (1 + doc_id % 9) IN (3, 7) THEN 1 ELSE 0 END AS BIGINT) AS blocked
         |FROM documents ORDER BY doc_id""".stripMargin,
    "d_linkgraph" ->
      // closed form: every page links host-(id+1)%7 once (absolute), its own
      // host twice (host-absolute /local + directory-relative rel), and
      // cdn.example when id%5==0 (protocol-relative); mailto/#top drop
      """SELECT host, CAST(count(*) AS BIGINT) AS in_degree FROM (
        |  SELECT 'host-' || CAST((doc_id + 1) % 7 AS VARCHAR) || '.example' AS host FROM documents
        |  UNION ALL SELECT 'host-' || CAST(doc_id % 7 AS VARCHAR) || '.example' FROM documents
        |  UNION ALL SELECT 'host-' || CAST(doc_id % 7 AS VARCHAR) || '.example' FROM documents
        |  UNION ALL SELECT 'cdn.example' FROM documents WHERE doc_id % 5 = 0
        |) GROUP BY host ORDER BY host""".stripMargin,
    "d_anchors" ->
      // closed form: every page contributes (host-(id%9), first word) from
      // the absolute link and (src-(id%5), 'Read & more') from the relative
      // one; the javascript link contributes nothing
      """SELECT host, anchor, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT 'host-' || CAST(doc_id % 9 AS VARCHAR) || '.example' AS host,
        |         string_split(text, ' ')[1] AS anchor FROM documents
        |  UNION ALL
        |  SELECT 'src-' || CAST(doc_id % 5 AS VARCHAR) || '.example', 'Read & more' FROM documents
        |) GROUP BY host, anchor ORDER BY host, anchor""".stripMargin,
    "d_pagerank" ->
      // full replay: the distinct edge set, outdegrees, and THREE unrolled
      // fixed-point iterations — every division a floor BIGINT division
      // (all values positive, so DuckDB's // and Spark's div agree)
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT 'host-' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS src,
        |           'host-' || CAST((doc_id + 1) % 7 AS VARCHAR) || '.example' AS dst FROM documents
        |    UNION ALL
        |    SELECT 'host-' || CAST(doc_id % 7 AS VARCHAR) || '.example',
        |           'host-' || CAST(doc_id % 7 AS VARCHAR) || '.example' FROM documents
        |    UNION ALL
        |    SELECT 'host-' || CAST(doc_id % 7 AS VARCHAR) || '.example', 'cdn.example'
        |    FROM documents WHERE doc_id % 5 = 0
        |  )
        |),
        |nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM e UNION ALL SELECT dst AS host FROM e)),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |p0 AS (SELECT host, 1000000000 // (SELECT n FROM nn) AS pr FROM nodes),
        |c1 AS (SELECT ed.dst AS host, sum(p0.pr // ed.outdeg) AS s FROM ed JOIN p0 ON p0.host = ed.src GROUP BY ed.dst),
        |p1 AS (SELECT nodes.host, (CAST(1000000000 AS BIGINT) * 15) // (100 * (SELECT n FROM nn)) + (85 * coalesce(c1.s, 0)) // 100 AS pr FROM nodes LEFT JOIN c1 USING (host)),
        |c2 AS (SELECT ed.dst AS host, sum(p1.pr // ed.outdeg) AS s FROM ed JOIN p1 ON p1.host = ed.src GROUP BY ed.dst),
        |p2 AS (SELECT nodes.host, (CAST(1000000000 AS BIGINT) * 15) // (100 * (SELECT n FROM nn)) + (85 * coalesce(c2.s, 0)) // 100 AS pr FROM nodes LEFT JOIN c2 USING (host)),
        |c3 AS (SELECT ed.dst AS host, sum(p2.pr // ed.outdeg) AS s FROM ed JOIN p2 ON p2.host = ed.src GROUP BY ed.dst),
        |p3 AS (SELECT nodes.host, (CAST(1000000000 AS BIGINT) * 15) // (100 * (SELECT n FROM nn)) + (85 * coalesce(c3.s, 0)) // 100 AS pr FROM nodes LEFT JOIN c3 USING (host))
        |SELECT host, CAST(pr AS BIGINT) AS pr FROM p3 ORDER BY host""".stripMargin,
    "d_dsir" ->
      // full replay: gram buckets, both profiles, the exact fixed-point
      // cube-log weights, truncating-division mean scores, and the top-k
      // boundary via the textbook row_number() the Spark side avoids
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ts FROM documents
        |), th AS (
        |  SELECT doc_id, lang,
        |    unnest(range(1, len(ts)+1)) AS i,
        |    unnest(list_transform(ts, t ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(t)+1),
        |        j -> CAST(ascii(substr(t, CAST(j AS INTEGER), 1)) AS BIGINT))), (a, c) -> (a*31+c) % 1000000007))) AS h
        |  FROM tok
        |), grams AS (
        |  SELECT doc_id, lang, h % 8192 AS b FROM th
        |  UNION ALL
        |  SELECT a.doc_id, a.lang, ((a.h * 131 + c.h) % 1000000007) % 8192 AS b
        |  FROM th a JOIN th c ON a.doc_id = c.doc_id AND c.i = a.i + 1
        |), cnt AS (
        |  SELECT b, count(*) AS s, count(*) FILTER (WHERE lang = 'en') AS t FROM grams GROUP BY b
        |), lam AS (
        |  SELECT b,
        |    CAST(floor(log2(CAST(least(t+1,131072)*least(t+1,131072)*least(t+1,131072) AS DOUBLE))) AS BIGINT)
        |  - CAST(floor(log2(CAST(least(s+1,131072)*least(s+1,131072)*least(s+1,131072) AS DOUBLE))) AS BIGINT) AS w
        |  FROM cnt
        |), ds AS (
        |  SELECT g.doc_id, (64 * sum(l.w)) // count(*) AS score
        |  FROM grams g JOIN lam l USING (b) GROUP BY g.doc_id
        |), ranked AS (
        |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM ds
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(score AS BIGINT) AS score,
        |  CAST(CASE WHEN r <= 100 THEN 1 ELSE 0 END AS BIGINT) AS selected
        |FROM ranked ORDER BY doc_id""".stripMargin,
    "d_domain_cap" ->
      // the oracle deliberately uses the textbook row_number() formulation,
      // verifying the threshold-aggregate plan against the obvious one
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 1 THEN 'hot.example'
        |         ELSE 'host-' || CAST(doc_id % 50 AS VARCHAR) || '.example' END AS host
        |  FROM documents),
        |u AS (SELECT doc_id, host,
        |  'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR) AS url FROM t),
        |f AS (SELECT doc_id, host, url,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(url)+1), i -> CAST(ascii(substr(url, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp FROM u),
        |r AS (SELECT doc_id, host, url,
        |  row_number() OVER (PARTITION BY host ORDER BY fp, doc_id) AS rn FROM f)
        |SELECT doc_id, url, host FROM r WHERE rn <= 25 ORDER BY doc_id""".stripMargin,
    "d_resample" ->
      // full replay of the α=1/2 temperature rebalance: host counts, the
      // exact-isqrt weights (float sqrt + square-comparison fixups), Σw,
      // and the multiplication-only threshold verdict in HUGEINT
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 1 THEN 'hot.example'
        |         ELSE 'host-' || CAST(doc_id % 50 AS VARCHAR) || '.example' END AS host
        |  FROM documents),
        |u AS (SELECT doc_id, host,
        |  'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR) AS url FROM t),
        |f AS (SELECT doc_id, host, url,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(url)+1), i -> CAST(ascii(substr(url, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) % 1048576 AS fpm FROM u),
        |st AS (SELECT host, count(*) AS n FROM u GROUP BY host),
        |w0 AS (SELECT host, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0 FROM st),
        |w1 AS (SELECT host, n, CASE WHEN (s0+1)*(s0+1) <= n THEN s0+1 ELSE s0 END AS up FROM w0),
        |ws AS (SELECT host, n, CASE WHEN up*up > n THEN up-1 ELSE up END AS w FROM w1),
        |tot AS (SELECT sum(w) AS sumw FROM ws)
        |SELECT f.doc_id AS doc_id, f.url AS url, f.host AS host
        |FROM f JOIN ws USING (host), tot
        |WHERE CAST(f.fpm AS HUGEINT) * CAST(tot.sumw AS HUGEINT) * CAST(ws.n AS HUGEINT)
        |    < CAST(1048576 AS HUGEINT) * CAST(150 AS HUGEINT) * CAST(ws.w AS HUGEINT)
        |ORDER BY doc_id""".stripMargin,
    "d_dedup_url" ->
      s"""SELECT 'https://host-' || CAST(doc_id % 9 AS VARCHAR) || '.example/path' || $sqlId
         | || '?q=' || $sqlId AS canonical_url,
         |CAST(doc_id AS BIGINT) AS keep_id, CAST(2 AS BIGINT) AS cnt
         |FROM documents ORDER BY canonical_url""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id,
        |CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(text)+1), i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m_image_meta" ->
      s"""SELECT doc_id AS id,
         |CAST(8 + 8 * greatest(length('DOC ' || $sqlId), least(40, length(text))) AS BIGINT) AS width,
         |CAST(32 AS BIGINT) AS height,
         |$sqlImageFormat AS format
         |FROM documents WHERE $sqlKind BETWEEN 90 AND 95 ORDER BY id""".stripMargin,
    "m_resize" ->
      s"""SELECT doc_id AS id,
         |CAST((8 + 8 * greatest(length('DOC ' || $sqlId), least(40, length(text)))) // 2 AS BIGINT) AS width,
         |CAST(16 AS BIGINT) AS height
         |FROM documents WHERE $sqlKind BETWEEN 90 AND 95 ORDER BY id""".stripMargin,
    "m_frames" ->
      s"""SELECT doc_id AS id, CAST(1 + doc_id % 3 AS BIGINT) AS n_frames,
         |CAST((1 + doc_id % 3 + 1) // 2 AS BIGINT) AS n_sampled,
         |'F0 ' || $sqlId AS first_frame_text
         |FROM documents ORDER BY id""".stripMargin,
    "m_audio" ->
      """SELECT doc_id AS id,
        |CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
        |CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |CAST(100 + doc_id % 50 AS BIGINT) AS n_samples,
        |CAST((100 + doc_id % 50) * 1000 // (8000 + (doc_id % 4) * 4000) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY id""".stripMargin)
}
