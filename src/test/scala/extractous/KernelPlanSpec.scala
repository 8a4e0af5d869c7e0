package extractous

import extractous.gen.CorpusGen
import extractous.pipeline.{BloomDedup, Cms, Dsir, LmQuality, Similarity, TextStats, UrlFilter}
import extractous.spark._
import extractous.spark.{functions => xf}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every pipeline row kernel and extraction function is one `StaticInvoke`
  * of its kernel object:
  * no kernel falls back to interpreted `eval`, every kernel call sits inside
  * a whole-stage codegen span, interpreted plans return the same rows, and
  * each kernel column, pipeline op and extraction frame keeps the output
  * type and nullability it had as a hand-written Catalyst expression
  * (pinned below).
  */
class KernelPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  /** 120 seeded 64-dim embeddings in 6 labelled cells, typed like the
    * corpus embeddings table (vec_id bigint, embedding array<float>, label int).
    */
  private lazy val embs = {
    val rnd = new scala.util.Random(8)
    val rows = (0 until 120).map(i => Row(i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat), i % 6))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))
  }

  /** Data type with nullability: `!` marks a non-null field or element. */
  private def shape(t: DataType): String = t match {
    case s: StructType => s.fields.map(named).mkString("struct<", ",", ">")
    case a: ArrayType => s"array<${shape(a.elementType)}${if (a.containsNull) "" else "!"}>"
    case o => o.simpleString
  }
  private def typed(f: StructField): String = shape(f.dataType) + (if (f.nullable) "" else "!")
  private def named(f: StructField): String = s"${f.name}:${typed(f)}"

  private val texts = Seq(
    Row(7L, "<p>the cat sat on the mat. <a href=\"/x\">a link</a></p>\nsecond line here", "https://h.example/a/b",
      "2024-01-01T00:00:00Z", Seq("the", "cat", "sat", "on", "the", "mat"), Seq(0.5, -1.0), Seq(0, 2)),
    Row(8L, "User-agent: *\nDisallow: /private", "http://h.example/", "2024-01-02T00:00:00Z",
      Seq("a"), Seq(1.0, 1.0), Seq(1)))

  /** The input columns, all nullable (`nullable`) or all non-null. */
  private def input(nullable: Boolean, rows: Seq[Row]): DataFrame = {
    def f(name: String, t: DataType) = StructField(name, t, nullable)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      f("id", LongType), f("text", StringType), f("url", StringType), f("date", StringType),
      f("toks", ArrayType(StringType, nullable)), f("vec", ArrayType(DoubleType, nullable)),
      f("ps", ArrayType(IntegerType, nullable)))))
  }

  /** One column per kernel column function. */
  private def kernels: Seq[(String, Column)] = {
    val (id, text, url, toks, vec, ps) = (col("id"), col("text"), col("url"), col("toks"), col("vec"), col("ps"))
    Seq(
      "minhash_sig" -> signatures.minhash_sig(toks, 4),
      "span_coverage" -> signatures.span_coverage(ps, 3),
      "simhash64" -> signatures.simhash64(toks),
      "poly_fingerprint" -> signatures.poly_fingerprint(text),
      "top2gram" -> signatures.top2gram(text),
      "langid" -> signatures.langid(text),
      "lang_sample_text" -> signatures.lang_sample_text(id, 20),
      "bpe_count" -> signatures.bpe_count(text),
      "ngram_keys" -> signatures.ngram_keys(text, 2),
      "cut_spans" -> signatures.cut_spans(text, ps, 2),
      "shingles" -> signatures.shingles(text, 2),
      "gopher_report" -> signatures.gopher_report(text, 3),
      "c4_clean" -> signatures.c4_clean(text),
      "token_count" -> signatures.token_count(text),
      "punct_count" -> signatures.punct_count(text),
      "is_good" -> signatures.is_good(text),
      "nearest_cells" -> vectors.nearest_cells(vec, Array(3, 1), Array(Array(1.0, 0.0), Array(0.0, 1.0)), 2),
      "hyperplane_bands" -> vectors.hyperplane_bands(vec, 3, 4, 2),
      "vec_dot" -> vectors.vec_dot(vec, vec),
      "bloom_positions" -> bloom.bloom_positions(id, 128),
      "bloom_maybe_contains" -> bloom.bloom_maybe_contains(id, Array(-1L, 5L), 128),
      "bloom_maybe_contains_sharded" -> bloom.bloom_maybe_contains_sharded(id, Array(-1L, 0L, 9L, -1L), 128, 2),
      "cms_slots" -> cms.cms_slots(toks, 16),
      "cms_estimate" -> cms.cms_estimate(id, Array.tabulate(64)(_.toLong), 16),
      "lm_buckets" -> lm.lm_buckets(toks, 8),
      "lm_surprise" -> lm.lm_surprise(toks, Array.tabulate(16)(i => (i % 5).toLong)),
      "dsir_buckets" -> dsir.dsir_buckets(toks, 8),
      "dsir_score" -> dsir.dsir_score(toks, Array.tabulate(8)(i => (i - 4).toLong)),
      "char_entropy" -> entropy.char_entropy(text),
      "normalize_text" -> normalize.normalize_text(text),
      "extract_links" -> links.extract_links(text, url),
      "extract_anchors" -> links.extract_anchors(text, url),
      "term_freqs" -> retrieval.term_freqs(text, Seq("the", "mat.")),
      "wet_record" -> wet.wet_record(url, col("date"), text),
      "robots_rules" -> RobotsRulesExpr.rules(text, "graftbot"))
  }

  /** Output shape of every kernel column, on nullable then non-null inputs. */
  private val kernelShapes: Seq[(String, String, String)] = Seq(
    ("minhash_sig", "array<bigint!>", "array<bigint!>!"),
    ("span_coverage", "int", "int!"),
    ("simhash64", "bigint", "bigint!"),
    ("poly_fingerprint", "bigint", "bigint!"),
    ("top2gram", "struct<n_2grams:bigint!,top2_count:bigint!,top2_frac_x1000:bigint!>",
      "struct<n_2grams:bigint!,top2_count:bigint!,top2_frac_x1000:bigint!>!"),
    ("langid", "string", "string!"),
    ("lang_sample_text", "string", "string!"),
    ("bpe_count", "bigint", "bigint!"),
    ("ngram_keys", "array<bigint!>", "array<bigint!>!"),
    ("cut_spans", "string", "string!"),
    ("shingles", "array<string!>", "array<string!>!"),
    ("gopher_report", "struct<n_words:bigint!,mean_word_len_x100:bigint!,symbol_ratio_x1000:bigint!,bullet_frac_x1000:bigint!,ellipsis_frac_x1000:bigint!,dup_line_frac_x1000:bigint!,dup_char_frac_x1000:bigint!,alpha_frac_x1000:bigint!,stop_hits:bigint!,gopher_pass:bigint!>",
      "struct<n_words:bigint!,mean_word_len_x100:bigint!,symbol_ratio_x1000:bigint!,bullet_frac_x1000:bigint!,ellipsis_frac_x1000:bigint!,dup_line_frac_x1000:bigint!,dup_char_frac_x1000:bigint!,alpha_frac_x1000:bigint!,stop_hits:bigint!,gopher_pass:bigint!>!"),
    ("c4_clean", "struct<clean_text:string!,n_sentences:bigint!,kept_lines:bigint!,total_lines:bigint!>",
      "struct<clean_text:string!,n_sentences:bigint!,kept_lines:bigint!,total_lines:bigint!>!"),
    ("token_count", "int", "int!"),
    ("punct_count", "int", "int!"),
    ("is_good", "int", "int!"),
    ("nearest_cells", "array<int!>", "array<int!>"),
    ("hyperplane_bands", "array<bigint!>", "array<bigint!>"),
    ("vec_dot", "double", "double"),
    ("bloom_positions", "array<bigint!>", "array<bigint!>!"),
    ("bloom_maybe_contains", "boolean", "boolean!"),
    ("bloom_maybe_contains_sharded", "boolean", "boolean!"),
    ("cms_slots", "array<bigint!>", "array<bigint!>!"),
    ("cms_estimate", "bigint", "bigint!"),
    ("lm_buckets", "array<bigint!>", "array<bigint!>!"),
    ("lm_surprise", "bigint", "bigint!"),
    ("dsir_buckets", "array<bigint!>", "array<bigint!>!"),
    ("dsir_score", "bigint", "bigint!"),
    ("char_entropy", "struct<n_chars:bigint!,ent_sum:bigint!,ent_mean_x3:bigint!>",
      "struct<n_chars:bigint!,ent_sum:bigint!,ent_mean_x3:bigint!>!"),
    ("normalize_text", "struct<clean:string!,n_in:bigint!,n_out:bigint!>",
      "struct<clean:string!,n_in:bigint!,n_out:bigint!>!"),
    ("extract_links", "array<string!>", "array<string!>!"),
    ("extract_anchors", "array<struct<url:string!,anchor:string!>!>",
      "array<struct<url:string!,anchor:string!>!>!"),
    ("term_freqs", "struct<dl:bigint!,tfs:array<bigint!>!>",
      "struct<dl:bigint!,tfs:array<bigint!>!>!"),
    ("wet_record", "string", "string!"),
    ("robots_rules", "array<struct<allow:boolean!,prefix:string!>!>!", "array<struct<allow:boolean!,prefix:string!>!>!"))

  test("every kernel column keeps its output type and nullability") {
    val cols = kernels.map { case (n, c) => c.as(n) }
    def shapes(nullable: Boolean) = input(nullable, texts).select(cols: _*).schema.fields.toSeq.map(typed)
    val got = kernels.map(_._1).zip(shapes(nullable = true).zip(shapes(nullable = false)))
      .map { case (n, (a, b)) => (n, a, b) }
    assert(got == kernelShapes)
  }

  /** The pipeline ops built on the kernels that held their tables as
    * instance state: IVF kNN, SemDeDup, cosine LSH, the Bloom, CMS, LM and
    * DSIR probes, and the robots.txt gate.
    */
  private def ops: Seq[(String, DataFrame)] = {
    import spark.implicits._
    // a range, not a local relation, so the optimizer cannot fold the kernels away
    val docs = spark.range(1, 41).select(col("id").as("doc_id"), concat(lit("w"), col("id"),
      lit(" the shared body x"), col("id") % 7, lit(" of doc y"), col("id") % 3, lit(" ends here")).as("text"))
    val fp = TextStats.fingerprint(col("text"))
    val seen = docs.filter(col("doc_id") < 20)
    val (src, tgt) = Dsir.profiles(docs, "text", col("doc_id") < 20)
    val pages = Seq((1L, "https://crawl.example/private/doc"), (2L, "https://other.example/x")).toDF("id", "url")
    val robots = Seq(("crawl.example", "User-agent: *\nDisallow: /private\n")).toDF("host", "robots_txt")
    Seq(
      "ivfKnn" -> Similarity.ivfKnn(embs, embs.filter(col("vec_id") < 20), k = 5, nprobe = 3),
      "semDedup" -> Similarity.semDedup(embs, 0.95),
      "nearDupPairsLsh" -> Similarity.nearDupPairsLsh(embs, 0.99),
      "bloom.flagged" -> BloomDedup.flagged(docs, "doc_id", fp, BloomDedup.build(seen, fp)),
      "bloom.flaggedSharded" -> BloomDedup.flaggedSharded(docs, "doc_id", fp, BloomDedup.buildSharded(seen, fp, 3)),
      "cms.estimatePhrases" -> Cms.estimatePhrases(Cms.candidateBigrams(docs, "text"), "w1", "w2", Cms.build(docs, "text")),
      "lm.scored" -> LmQuality.scored(docs, "doc_id", "text", LmQuality.model(docs, "text", col("doc_id") < 20)._1),
      "dsir.scored" -> Dsir.scored(docs, "doc_id", "text", Dsir.lambdaTable(src, tgt)),
      "robotsBlocked" -> UrlFilter.robotsBlocked(pages, "url", robots, "graftbot"))
  }

  /** Output columns of every pipeline op. */
  private val opShapes: Seq[(String, String)] = Seq(
    "ivfKnn" -> "query_id:bigint,rank:bigint!,neighbor_id:bigint!",
    "semDedup" -> "id:bigint,cell:bigint,kept:bigint!",
    "nearDupPairsLsh" -> "id_a:bigint,id_b:bigint",
    "bloom.flagged" -> "doc_id:bigint!,maybe_seen:bigint",
    "bloom.flaggedSharded" -> "doc_id:bigint!,maybe_seen:bigint",
    "cms.estimatePhrases" -> "w1:string,w2:string,est:bigint",
    "lm.scored" -> "doc_id:bigint!,surprise_x64:bigint!",
    "dsir.scored" -> "doc_id:bigint!,score:bigint!",
    "robotsBlocked" -> "id:bigint!,url:string,blocked:bigint")

  /** One payload per extraction route — HTML, PDF, DOCX, a gzip-wrapped page,
    * a `.warc.gz` file — and a null payload, as a parquet table (url, html).
    */
  private lazy val payloadPath: String = {
    import spark.implicits._
    val text = "the cat sat on the mat and the dog sat on the log"
    val p = Files.createTempDirectory("payloads").toString
    Seq("html" -> CorpusGen.payload(1, text, "en"), "pdf" -> CorpusGen.payload(70, text, "en"),
      "docx" -> CorpusGen.payload(82, text, "en"), "gzip" -> CorpusGen.gzMember(CorpusGen.payload(2, text, "en")),
      "warc" -> CorpusGen.warcPayload(100, text, "en"), "none" -> null)
      .toDF("url", "html").write.mode("overwrite").parquet(p)
    p
  }

  /** The extraction functions over the payloads. */
  private def extraction: Seq[(String, DataFrame)] = {
    val (payloads, html) = (spark.read.parquet(payloadPath), col("html"))
    Seq(
      "extractFrame" -> xf.extractFrame(payloads, CorpusGen.flagshipConfig),
      "sniff_mime" -> payloads.select(col("url"), xf.sniff_mime(html).as("mime")),
      "extract_stream" -> payloads.select(col("url"), xf.extract_stream(html, CorpusGen.flagshipConfig, 64).as("s")),
      "warc_records" -> payloads.select(col("url"), explode(xf.warc_records(html)).as("rec")))
  }

  /** Output columns of every extraction frame. */
  private val extractionShapes: Seq[(String, String)] = Seq(
    "extractFrame" -> ("url:string,text:string!,xml:string!,metadata:map<string,array<string>>!,status:int!," +
      "error:string!,content_type:string!,extractor_version:string!"),
    "sniff_mime" -> "url:string,mime:string!",
    "extract_stream" -> "url:string,s:struct<text:string!,n_chunks:int!,n_bytes:int!>!",
    "warc_records" -> "url:string,rec:struct<url:string!,warc_date:string!,rec_type:string!,content_type:string!,payload:binary!>!")

  /** Every node of the executed plan, through adaptive stages and subqueries. */
  private def planNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
  }

  /** The nodes fused into a whole-stage codegen span. */
  private def fused(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case w: WholeStageCodegenExec => fused(w.child)
    case x => x +: x.children.flatMap(fused)
  }

  private def kernelCalls(p: SparkPlan): Seq[StaticInvoke] = p.expressions.flatMap(_.collect {
    case s: StaticInvoke if s.staticObject.getName.startsWith("extractous.") => s
  })

  test("pipeline ops keep their output columns; no row kernel falls back to interpreted eval, every call is fused") {
    val kernelFrame = input(nullable = true, texts).select(kernels.map { case (n, c) => c.as(n) }: _*)
    def shapes(frames: Seq[(String, DataFrame)]) = frames.map { case (n, df) => n -> df.schema.fields.map(named).mkString(",") }
    assert(shapes(ops) == opShapes)
    assert(shapes(extraction) == extractionShapes)
    val failures = ((("kernel columns" -> kernelFrame) +: ops) ++ extraction).flatMap { case (n, df) =>
      val nodes = planNodes(df)
      // aggregate functions (the top-k and Misra–Gries buffers) are evaluated
      // by the aggregate operator, never inside a projection
      val fallbacks = nodes.flatMap(_.expressions.flatMap(_.collect {
        case e: CodegenFallback if !e.isInstanceOf[AggregateFunction] &&
          e.getClass.getName.startsWith("extractous.") => e.getClass.getSimpleName
      })).distinct
      // the row operators whole-stage codegen fuses; a scan's data-filter
      // list is metadata, and an aggregate's result projection is compiled
      // per operator
      val rowOps = nodes.filter(p => p.isInstanceOf[ProjectExec] || p.isInstanceOf[FilterExec] || p.isInstanceOf[GenerateExec])
      val fusedOps = nodes.collect { case w: WholeStageCodegenExec => w }.flatMap(fused)
      val unfused = rowOps.filterNot(p => fusedOps.exists(_ eq p)).filter(kernelCalls(_).nonEmpty)
      (if (fallbacks.nonEmpty) Seq(s"$n: CodegenFallback ${fallbacks.mkString(", ")}") else Nil) ++
        (if (!nodes.exists(kernelCalls(_).nonEmpty)) Seq(s"$n: no kernel call in the plan") else Nil) ++
        unfused.map(p => s"$n: kernel call outside a codegen span: ${p.simpleString(200)}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("interpreted plans return the rows generated code returns; a null input gives null, robots_rules none") {
    def run(conf: (String, String)*): Seq[String] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try input(nullable = true, texts :+ Row(null, null, null, null, null, null, null))
        .select(kernels.map { case (n, c) => c.as(n) }: _*).collect().map(_.toString).toSeq
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val generated = run()
    assert(generated == run("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    assert(generated.last == Seq.fill(kernels.size - 1)("null").mkString("[", ",", ",ArraySeq()]"))
  }

  /** A collected value as text, binary as its length and content hash. */
  private def render(v: Any): String = v match {
    case b: Array[Byte] => s"bytes(${b.length},${java.util.Arrays.hashCode(b)})"
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"$k->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("(", ",", ")")
    case o => String.valueOf(o)
  }

  test("interpreted extraction plans return the rows generated code returns; a null payload is the empty document") {
    def run(conf: (String, String)*): Seq[Seq[String]] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try extraction.map(_._2.collect().map(render).toSeq.sorted)
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val generated = run()
    assert(generated == run("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val rows = extraction.map(_._1).zip(generated).toMap
    def none(n: String) = rows(n).filter(_.startsWith("[none,"))
    assert(none("extractFrame") == Seq(
      "[none,,,{Content-Type->(application/octet-stream)},0,,application/octet-stream,extractous-spark/0.1.0]"))
    assert(none("sniff_mime") == Seq("[none,application/octet-stream]"))
    assert(none("extract_stream") == Seq("[none,[,0,0]]"))
    assert(none("warc_records").isEmpty) // a null file has no records and no loss to account
    // every payload extracts with status 0 and sniffs as its own type
    assert(extraction.head._2.select("status").collect().map(_.getInt(0)).toSet == Set(0))
    assert(rows("sniff_mime") == Seq("[docx,application/vnd.openxmlformats-officedocument.wordprocessingml.document]",
      "[gzip,application/gzip]", "[html,text/html]", "[none,application/octet-stream]", "[pdf,application/pdf]",
      "[warc,application/gzip]"))
    assert(rows("warc_records").map(_.split(",").take(4).mkString(",")) == Seq(
      "[docx,[,,file_error", "[gzip,[,,file_error", "[html,[,,file_error", "[pdf,[,,file_error",
      "[warc,[https://host-2.example/doc/100,2024-01-01T00:00:00Z,response",
      "[warc,[https://host-2.example/doc/100note,2024-01-01T00:00:00Z,response",
      "[warc,[https://host-2.example/doc/100text,2024-01-01T00:00:00Z,conversion"))
  }

  test("extractFrame is one codegen span from scan to project, with one extract_doc kernel call") {
    val nodes = planNodes(extraction.head._2)
    val spans = nodes.collect { case w: WholeStageCodegenExec => w }
    assert(spans.size == 1, nodes.mkString("\n"))
    val outside = nodes.filterNot(p => p.isInstanceOf[WholeStageCodegenExec] || p.isInstanceOf[InputAdapter] ||
      p.isInstanceOf[FileSourceScanExec] || fused(spans.head).exists(_ eq p))
    assert(outside.isEmpty, outside.mkString("\n"))
    // the kernel result is computed once, not copied into each of the seven field reads
    assert(nodes.flatMap(kernelCalls).map(s => s"${s.staticObject.getSimpleName}.${s.functionName}") ==
      Seq("ExtractDocExpr$.extract"))
  }

  test("no class under extractous falls back to interpreted eval, aggregate functions aside") {
    val root = Paths.get(ExtractDocExpr.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes = Files.walk(root.resolve("extractous")).iterator.asScala.map(root.relativize(_).toString)
      .filter(_.endsWith(".class")).map(n => Class.forName(
        n.stripSuffix(".class").replace(java.io.File.separatorChar, '.'), false, getClass.getClassLoader)).toSeq
    val fallbacks = classes.filter(classOf[CodegenFallback].isAssignableFrom)
    // the typed imperative aggregates (top-k, Misra-Gries) are found, so the walk sees the classes
    assert(fallbacks.nonEmpty)
    assert(fallbacks.filterNot(classOf[AggregateFunction].isAssignableFrom).isEmpty,
      fallbacks.map(_.getName).mkString(", "))
  }
}
