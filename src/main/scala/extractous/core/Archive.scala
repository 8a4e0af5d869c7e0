package extractous.core

import extractous.config.ExtractorConfig
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.ocr.Ocr
import extractous.sniff.MimeSniffer
import extractous.text.{TextEmitter, XmlEmitter}

/** The single member-emission policy shared by ALL container formats
  * (zip/tar/7z/rar via [[ArchiveExtractor.emit]], WARC via
  * [[WarcExtractor.extract]]): each member re-enters the full sniff→dispatch
  * pipeline POISON-SAFE ([[Extract.dispatchSafe]] — a member whose decoder
  * throws, e.g. a truncated .gz, is skipped like any other failing member
  * instead of failing the whole container row), member text folds in
  * line-wise under the canonical policy, and only the FIRST failure is kept
  * as a `" <- "` context frame. One policy, one place — the two container
  * families must not drift.
  */
private[core] final class MemberEmitter(cfg: ExtractorConfig) {
  val emitter = new TextEmitter(cfg.maxStringLength)
  val xe = new XmlEmitter(cfg.maxStringLength, cfg.xmlOutput)
  private var okCount = 0
  private var firstErrMsg = ""

  def ok: Int = okCount
  def firstErr: String = firstErrMsg
  def isFull: Boolean = emitter.isFull
  def recordError(frame: String): Unit = if (firstErrMsg.isEmpty) firstErrMsg = frame

  /** Dispatch one member and fold its text in; failures are recorded
    * (first only) and the member skipped.
    */
  def add(data: Array[Byte], tag: String, frame: String, ocr: Ocr, depth: Int): Unit = {
    val r = Extract.dispatchSafe(data, cfg, ocr, depth + 1)
    if (r.status == ExtractStatus.Ok) {
      okCount += 1
      if (r.text.nonEmpty) {
        // member text is already canonical — re-add line-wise (addBlock
        // collapses internal whitespace, which would flatten member newlines)
        r.text.split("\n", -1).iterator.takeWhile(_ => !emitter.isFull)
          .foreach(emitter.addBlock)
        if (cfg.xmlOutput) xe.addElement(tag, r.text)
      }
    } else recordError(s"${r.error} <- $frame")
  }
}

/** Archive recursion (Tika-style): ZIP and ustar TAR containers extract as
  * the concatenation of their members' extracted text, in archive order —
  * each member re-enters the full sniff→dispatch pipeline, sharing the one
  * nesting budget of every codec and container ([[Extract.nestingGate]],
  * [[Extract.MaxDepth]]). A member that fails is skipped and the
  * first failure recorded as a `" <- "` context frame; an archive that parses
  * but yields no extractable member fails the row with a status — the
  * "wrong text never" posture everywhere else in this engine. The reference
  * covers archives through Tika's recursive container parsing (its format
  * list defers to Tika, reference README.md:271-273).
  */
object ArchiveExtractor {
  val TarMime = "application/x-tar"

  def zip(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult =
    container(MimeSniffer.Zip, "zip", cfg, ocr, depth)(zipMembers(bytes))

  def tar(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult =
    container(TarMime, "tar", cfg, ocr, depth)(tarMembers(bytes))

  /** .7z descent: Copy, LZMA and LZMA2 folders decode (incl. compressed
    * headers); other coders and out-of-scope structures refuse with −8
    * (see [[extractous.core.SevenZip]]).
    */
  def sevenZ(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult =
    container(MimeSniffer.SevenZ, "7z", cfg, ocr, depth)(SevenZip.members(bytes))

  /** RAR5 descent: store-mode members extract (header + data CRC checked);
    * compressed members (proprietary algorithm, no published spec),
    * encryption, and RAR4 refuse with −8 (see [[extractous.core.Rar]]).
    */
  def rar(bytes: Array[Byte], cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult =
    container(MimeSniffer.Rar, "rar", cfg, ocr, depth)(Rar.members(bytes))

  /** The one archive entry. [[Extract.nestingGate]] runs BEFORE the member
    * walk, so a nested archive bomb never buys a full inflate of up to
    * MaxTotalBytes per layer before it is refused. A walk that meets an
    * out-of-scope structure refuses with −8; structural damage fails with −4.
    */
  private def container(mime: String, label: String, cfg: ExtractorConfig, ocr: Ocr, depth: Int)(
      members: => Seq[(String, Array[Byte])]): ExtractResult =
    Extract.nestingGate(mime, label, depth) {
      val walked: Either[ExtractResult, Seq[(String, Array[Byte])]] =
        try Right(members)
        catch {
          case e: UnsupportedArchiveException =>
            Left(ExtractResult.fail(ExtractStatus.UnsupportedFormat, s"$label: ${e.getMessage}", mime))
          case e: Exception =>
            Left(ExtractResult.fail(ExtractStatus.ExtractionFailed, s"$label: ${e.getMessage}", mime))
        }
      walked.fold(identity, emit(_, mime, label, cfg, ocr, depth))
    }

  private def emit(members: Seq[(String, Array[Byte])], mime: String, label: String,
      cfg: ExtractorConfig, ocr: Ocr, depth: Int): ExtractResult = {
    if (members.isEmpty)
      return ExtractResult.fail(ExtractStatus.ExtractionFailed, s"$label: no entries", mime)
    val me = new MemberEmitter(cfg)
    members.iterator.takeWhile(_ => !me.isFull).foreach { case (name, data) =>
      me.add(data, "member", s"$label member '$name'", ocr, depth)
    }
    if (me.ok == 0)
      ExtractResult.fail(ExtractStatus.ExtractionFailed,
        s"$label: no extractable members: ${me.firstErr}", mime)
    else
      ExtractResult.ok(me.emitter.result(), if (cfg.xmlOutput) me.xe.result() else "",
        Map("Content-Type" -> Seq(mime),
          s"$label:member-count" -> Seq(members.length.toString)), mime)
  }

  /** Ordered zip member walk — same decompression-bomb budgets as
    * [[extractous.office.ZipUtil]], but archive order preserved (member
    * emission order is the semantic contract here, unlike OOXML lookups).
    */
  private def zipMembers(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val zis = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    val out = Seq.newBuilder[(String, Array[Byte])]
    var total = 0L
    var entry = zis.getNextEntry
    while (entry != null) {
      if (!entry.isDirectory) {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var entryTotal = 0L
        var n = zis.read(buf)
        while (n >= 0) {
          entryTotal += n; total += n
          if (entryTotal > extractous.office.ZipUtil.MaxEntryBytes ||
              total > extractous.office.ZipUtil.MaxTotalBytes)
            throw new IllegalStateException(s"zip entry '${entry.getName}' exceeds inflate budget")
          bos.write(buf, 0, n)
          n = zis.read(buf)
        }
        out += (entry.getName -> bos.toByteArray)
      }
      entry = zis.getNextEntry
    }
    zis.close()
    out.result()
  }

  /** ustar (POSIX.1-1988) header walk: 512-byte headers with octal size,
    * header checksum VERIFIED (stored octal at 148 vs sum with that field as
    * spaces), members padded to 512; two zero blocks (or EOF) end the
    * archive. Regular files (typeflag '0' or NUL) recurse; links, dirs, and
    * PAX/GNU extension records are skipped structurally. Corruption — bad
    * magic, bad checksum, member overrunning the archive — throws (status
    * -4 upstream), never wrong text.
    */
  private def tarMembers(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 0
    def field(start: Int, len: Int): String = {
      var end = start
      while (end < start + len && bytes(end) != 0) end += 1
      new String(bytes, start, end - start, java.nio.charset.StandardCharsets.US_ASCII).trim
    }
    def octal(start: Int, len: Int): Long = {
      val s = field(start, len)
      if (s.isEmpty) 0L
      else {
        if (!s.forall(c => c >= '0' && c <= '7'))
          throw new IllegalArgumentException(s"tar: bad octal field at $start")
        java.lang.Long.parseLong(s, 8)
      }
    }
    while (off + 512 <= bytes.length) {
      var allZero = true
      var i = 0
      while (allZero && i < 512) { if (bytes(off + i) != 0) allZero = false; i += 1 }
      if (allZero) return out.result() // end-of-archive marker
      if (!(0 until 5).forall(i => bytes(off + 257 + i) == "ustar".charAt(i).toByte))
        throw new IllegalArgumentException("tar: bad ustar magic")
      val stored = octal(off + 148, 8)
      var sum = 0L
      (0 until 512).foreach { i =>
        sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(off + i) & 0xff)
      }
      if (sum != stored)
        throw new IllegalArgumentException("tar: header checksum mismatch")
      val name = field(off, 100)
      val size = octal(off + 124, 12)
      if (size < 0 || size > Int.MaxValue || off + 512 + size > bytes.length)
        throw new IllegalArgumentException(s"tar: member '$name' overruns archive")
      val typeflag = bytes(off + 156)
      if (typeflag == '0' || typeflag == 0)
        out += (name -> java.util.Arrays.copyOfRange(bytes, off + 512, off + 512 + size.toInt))
      off += 512 + ((size + 511) / 512).toInt * 512
    }
    out.result()
  }
}
