package extractous.perfbench

import extractous.gen.CorpusGen
import extractous.model.ExtractStatus
import extractous.pipeline.LangData
import extractous.sniff.MimeSniffer
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

/** Seeded input generator for the three benchmark workloads. Runs in its own
  * JVM before the measured one, so neither its time nor its heap shows in the
  * metrics. The seed fixes the synthetic `documents` sample (doc ids, texts,
  * languages), the format draw and the row order; payloads come from the
  * in-repo writers (`CorpusGen` and `extractous.gen.*`). Expected outputs are
  * written beside the inputs and never shown to the program.
  *
  * Usage: Gen <workload> <seed> <outDir> <cores>
  */
object Gen {

  /** The word list of the seed `documents.parquet` texts. */
  private val Vocab = Array("the", "fast", "key", "order", "sort", "table", "scan", "merge",
    "part", "window", "small", "hash", "join", "batch", "stream", "spark", "value", "group",
    "query", "row", "data", "slow", "filter", "customer", "line", "agg", "a", "b", "big", "dup")
  private val CrawlLangs = Array("en", "de", "es", "fr", "zh")
  /** Latin-script lexicons: the decontamination n-gram tokenizer keeps
    * [a-z0-9] and CJK only, so Cyrillic or Turkish-dotted rows would have no
    * grams to match.
    */
  private val CurateLangs = Array("de", "en", "es", "fr", "it", "nl", "pt", "sv")

  final case class Doc(url: String, day: Int, lang: String, payload: Array[Byte],
      text: String, status: Int, contentType: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedStr, out, coresStr) = args
    val seed = seedStr.toLong
    val cores = coresStr.toInt
    workload match {
      case "crawl"       => writeDocs(crawl(seed), out, Sizes.CrawlDays, 2 * cores)
      case "office_docs" => writeDocs(office(seed), out, 1, 4 * cores)
      case "curate"      => curate(seed, out, 2 * cores)
      case w             => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  /** Parquet files are written straight through parquet-hadoop: no Spark
    * session, so generation stays short.
    */
  private def parquet(path: String, schema: String)(fill: (SimpleGroupFactory, ParquetWriter[Group]) => Unit): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val t: MessageType = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(p)).withType(t)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try fill(new SimpleGroupFactory(t), w) finally w.close()
  }

  private def words(rng: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(rng.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** Distinct doc ids `100·k + r` with `r` drawn from `residues`, so that
    * `CorpusGen.kindOf(id)` routes the id to the wanted format.
    */
  private final class Ids(rng: SplittableRandom) {
    private val used = scala.collection.mutable.HashSet.empty[Long]
    def next(residues: Seq[Int]): Long = {
      var id = -1L
      while (id < 0 || used(id)) id = 100L * rng.nextInt(1 << 20) + residues(rng.nextInt(residues.size))
      used += id
      id
    }
  }

  private val HtmlResidues = 0 until 52
  private def residuesOf(kind: String): Seq[Int] = (0 until 100).filter(r => CorpusGen.kindOf(r) == kind)

  private def corpusDoc(id: Long, day: Int, text: String, lang: String, payload: Array[Byte]): Doc =
    Doc(CorpusGen.urlOf(id), day, lang, payload, CorpusGen.expectedText(id, text, lang),
      CorpusGen.expectedStatus(id), CorpusGen.expectedContentType(id))

  /** Common-Crawl-style day-partitioned pages: mostly 10-100 KB HTML (log-
    * uniform), with gzip-wrapped pages, WARC files and plain text beside them.
    * The 90/4/3/3 split is an assumption, not a measured crawl mix: HTML
    * dominates a web crawl, and the other three are kept small but frequent
    * enough that every run extracts each of them dozens of times.
    */
  def crawl(seed: Long): Seq[Doc] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val ids = new Ids(rng)
    Seq.fill(Sizes.CrawlDocs) {
      val day = rng.nextInt(Sizes.CrawlDays)
      val lang = CrawlLangs(rng.nextInt(CrawlLangs.length))
      def pageWords: Int = (math.exp(math.log(10e3) + rng.nextDouble() * math.log(10.0)) / 6).toInt
      val u = rng.nextInt(100)
      if (u < 90) {
        val id = ids.next(HtmlResidues); val text = words(rng, pageWords)
        corpusDoc(id, day, text, lang, CorpusGen.htmlPayload(id, text, lang))
      } else if (u < 94) {
        val id = ids.next(HtmlResidues); val text = words(rng, pageWords)
        corpusDoc(id, day, text, lang, CorpusGen.gzMember(CorpusGen.htmlPayload(id, text, lang)))
      } else if (u < 97) {
        val id = ids.next(HtmlResidues); val text = words(rng, pageWords / 3)
        // closed form documented on CorpusGen.warcPayload (the x_warc oracle)
        Doc(CorpusGen.urlOf(id), day, lang, CorpusGen.warcPayload(id, text, lang),
          s"Document $id\n${CorpusGen.stopLine(lang)}\n$text\n$text\nCrawl note $id",
          ExtractStatus.Ok, MimeSniffer.Warc)
      } else {
        val id = ids.next(residuesOf("plain")); val text = words(rng, pageWords / 2)
        corpusDoc(id, day, text, lang, CorpusGen.payload(id, text, lang))
      }
    }
  }

  /** The office_docs kinds, each drawn as often as `CorpusGen.kindOf` routes
    * ids to it: the seed corpus's own mix (FIXTURES.md §2) restricted to its
    * non-HTML document kinds, i.e. pdf 12, docx 5, image 6, scanned_pdf 2 and
    * one each for doc, odt, odp, xls, ppt, eml and epub, out of 32.
    */
  private val OfficeKinds = Seq("pdf", "scanned_pdf", "docx", "doc", "odt", "odp", "xls", "ppt", "image", "eml", "epub")
  /** Archives are not in that mix (the corpus builds them for a dedicated
    * query), so their share is an assumption: one container type (zip, tar,
    * 7z, rar) as often as one of the single-residue kinds, 4 out of 36.
    */
  private val ArchiveWeight = 4

  /** File-based users' mix: PDFs (text, compressed, tagged, scanned), office
    * files, OCR images, archives, mail and EPUB at seed-table text sizes.
    */
  def office(seed: Long): Seq[Doc] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val ids = new Ids(rng)
    // "pdf" ids rotate compressed / tagged / annotated
    val residues = OfficeKinds.flatMap(residuesOf)
    Seq.fill(Sizes.OfficeDocs) {
      val archive = rng.nextInt(residues.size + ArchiveWeight) >= residues.size
      val lang = CrawlLangs(rng.nextInt(CrawlLangs.length))
      val text = words(rng, 20 + rng.nextInt(60))
      if (archive) {
        val id = ids.next(HtmlResidues)
        val container = Seq("zip", "tar", "7z", "rar")(((id / 100) % 4).toInt)
        // archivePayload's documented closed form (the x_archive oracle)
        Doc(CorpusGen.urlOf(id), 0, lang, CorpusGen.archivePayload(id, text, lang),
          s"Document $id\n${CorpusGen.stopLine(lang)}\n$text\n$text\n$text", ExtractStatus.Ok,
          container match {
            case "zip" => MimeSniffer.Zip
            case "tar" => extractous.core.ArchiveExtractor.TarMime
            case "7z"  => MimeSniffer.SevenZ
            case _     => MimeSniffer.Rar
          })
      } else {
        val id = ids.next(residues)
        corpusDoc(id, 0, text, lang, CorpusGen.payload(id, text, lang))
      }
    }
  }

  private def writeDocs(docs: Seq[Doc], out: String, days: Int, filesPerDay: Int): Unit = {
    // one file per (day, bucket); rows keep the seed's order within a file
    for (day <- 0 until days; bucket <- 0 until filesPerDay) {
      val dir = if (days > 1) s"$out/input/warc_day=${dayName(day)}" else s"$out/input"
      val rows = docs.zipWithIndex.filter { case (d, i) => d.day == day && i % filesPerDay == bucket }
      parquet(s"$dir/part-$bucket.parquet",
        "message page { required binary url (STRING); required int64 warc_ts (TIMESTAMP(MICROS,true)); " +
        "required binary html; required binary lang (STRING); }") { (f, w) =>
        rows.foreach { case (d, i) =>
          w.write(f.newGroup().append("url", d.url).append("warc_ts", dayMicros(d.day, i))
            .append("html", Binary.fromConstantByteArray(d.payload)).append("lang", d.lang))
        }
      }
    }
    parquet(s"$out/expected/part-0.parquet",
      "message expected { required binary url (STRING); required binary text (STRING); " +
      "required int32 status; required binary content_type (STRING); }") { (f, w) =>
      docs.foreach(d => w.write(f.newGroup().append("url", d.url).append("text", d.text).append("status", d.status)
        .append("content_type", d.contentType)))
    }
    writeMix(docs.map(_.payload), out)
  }

  private def dayName(d: Int): String = f"2024-01-${d + 1}%02d"
  private def dayMicros(d: Int, i: Int): Long = (1704067200L + d * 86400L + (i * 7919L) % 86400L) * 1000000L

  /** Sniffed format → (docs, bytes); printed and kept as `mix.tsv`. */
  private def writeMix(payloads: Seq[Array[Byte]], out: String): Unit = {
    val mix = payloads.groupBy(p => Formats.short(MimeSniffer.sniff(p))).toSeq
      .map { case (f, ps) => (f, ps.size, ps.map(_.length.toLong).sum) }.sortBy(-_._2)
    val lines = mix.map { case (f, n, b) => s"$f\t$n\t$b" }
    Files.write(Paths.get(s"$out/mix.tsv"), (("format\tdocs\tbytes" +: lines).mkString("\n") + "\n").getBytes(UTF_8))
    System.err.println("[perfbench] format mix (format, docs, bytes):\n  " + lines.mkString("\n  "))
  }

  /** 0 until n in a seeded (Fisher-Yates) order. */
  private def shuffled(n: Int, rng: SplittableRandom): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  /** Already-extracted text rows with injected exact duplicates, near
    * duplicates (one word changed), rows quoting a benchmark passage, and
    * pairs of rows with identical embeddings. The injected sets are disjoint, and the
    * ground truth (`truth.tsv`) lists each of them.
    */
  private def curate(seed: Long, out: String, files: Int): Unit = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val n = Sizes.CurateDocs
    val dim = Sizes.EmbeddingDim
    def lang() = CurateLangs(rng.nextInt(CurateLangs.length))
    def text(l: String, nw: Int) = LangData.sampleText(l, rng.nextLong() & Long.MaxValue, nw)
    def vec(): Array[Float] = {
      val v = Array.fill(dim)(rng.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val bench = Seq.fill(Sizes.BenchPassages)(text(lang(), 40))
    val texts = new Array[String](n)
    val langs = new Array[String](n)
    val vecs = Array.fill(n)(vec())
    for (i <- 0 until n) { langs(i) = lang(); texts(i) = text(langs(i), 80 + rng.nextInt(120)) }
    // disjoint injection slots over a seeded permutation of row positions
    val perm = shuffled(n, rng).iterator
    val truth = Seq.newBuilder[String]
    for (_ <- 0 until Sizes.DupGroups) {
      val g = Seq.fill(2 + rng.nextInt(2))(perm.next())
      g.tail.foreach(p => texts(p) = texts(g.head))
      truth += "dup\t" + g.sorted.mkString(",")
    }
    for (_ <- 0 until Sizes.NearPairs) {
      val (a, b) = (perm.next(), perm.next())
      val ws = texts(a).split(' ')
      val k = ws.length / 2
      ws(k) = ws(k) + "x"
      texts(b) = ws.mkString(" ")
      truth += s"near\t${math.min(a, b)},${math.max(a, b)}"
    }
    for (i <- 0 until Sizes.Contaminated) {
      val p = perm.next()
      texts(p) = bench(i % bench.size) + " " + text(langs(p), 20)
      truth += s"contaminated\t$p"
    }
    for (_ <- 0 until Sizes.SemPairs) {
      // identical, not merely close: SemDeDup compares rows within one
      // nearest-centroid cell, and two close vectors near a cell boundary
      // can land in different cells, where neither is removed
      val (a, b) = (perm.next(), perm.next())
      vecs(b) = vecs(a).clone()
      truth += s"sem\t${math.min(a, b)},${math.max(a, b)}"
    }
    // the seed also fixes the row order
    val order = shuffled(n, rng)
    val labels = Array.fill(n)(rng.nextInt(Sizes.Cells))
    for (file <- 0 until files)
      parquet(s"$out/input/part-$file.parquet",
        "message doc { required int64 id; required binary text (STRING); required binary lang (STRING); " +
        "required group embedding (LIST) { repeated group list { required float element; } } required int32 label; }") { (f, w) =>
        order.indices.filter(_ % files == file).map(order(_)).foreach { i =>
          val g = f.newGroup().append("id", i.toLong).append("text", texts(i)).append("lang", langs(i))
          val e = g.addGroup("embedding")
          vecs(i).foreach(x => e.addGroup("list").append("element", x))
          w.write(g.append("label", labels(i)))
        }
      }
    parquet(s"$out/bench/part-0.parquet", "message bench { required binary text (STRING); }") { (f, w) =>
      bench.foreach(t => w.write(f.newGroup().append("text", t)))
    }
    Files.write(Paths.get(s"$out/truth.tsv"), (truth.result().mkString("\n") + "\n").getBytes(UTF_8))
    writeMix(texts.toSeq.map(_.getBytes(UTF_8)), out)
  }
}

/** Workload sizes, shared by the generator and the measured process. */
object Sizes {
  val CrawlDocs = 1200
  val CrawlDays = 6
  /** Days per snapshot commit in `ExtractJob.run`. */
  val CrawlGroupDays = 2
  val OfficeDocs = 4000
  val CurateDocs = 600
  val EmbeddingDim = 32
  val Cells = 16
  val BenchPassages = 40
  val DupGroups = 24
  val NearPairs = 18
  val Contaminated = 18
  val SemPairs = 12
}

/** Short format names for sniffed MIME types (metric-name suffixes). */
object Formats {
  def short(mime: String): String = mime match {
    case MimeSniffer.Html     => "html"
    case MimeSniffer.Plain    => "plain"
    case MimeSniffer.Gzip     => "gzip"
    case MimeSniffer.Warc     => "warc"
    case MimeSniffer.Pdf      => "pdf"
    case MimeSniffer.Docx     => "docx"
    case MimeSniffer.Odt      => "odt"
    case MimeSniffer.Odp      => "odp"
    case MimeSniffer.Cfb      => "cfb"
    case MimeSniffer.Bmp      => "bmp"
    case MimeSniffer.Png      => "png"
    case MimeSniffer.Jpeg     => "jpeg"
    case MimeSniffer.Gif      => "gif"
    case MimeSniffer.Tiff     => "tiff"
    case MimeSniffer.Zip      => "zip"
    case MimeSniffer.Tar      => "tar"
    case MimeSniffer.SevenZ   => "7z"
    case MimeSniffer.Rar      => "rar"
    case MimeSniffer.Xz       => "xz"
    case MimeSniffer.Bzip2    => "bzip2"
    case MimeSniffer.Zstd     => "zstd"
    case MimeSniffer.Lz4      => "lz4"
    case MimeSniffer.Snappy   => "snappy"
    case MimeSniffer.Eml      => "eml"
    case MimeSniffer.Epub     => "epub"
    case MimeSniffer.Markdown => "markdown"
    case _                    => "other"
  }
  /** Every format the crawl and office_docs mixes can sniff to. */
  val All: Seq[String] = Seq("html", "plain", "gzip", "warc", "pdf", "docx", "odt", "odp", "cfb", "bmp",
    "png", "jpeg", "gif", "tiff", "zip", "tar", "7z", "rar", "xz", "bzip2", "zstd", "lz4", "snappy",
    "eml", "epub")
}
