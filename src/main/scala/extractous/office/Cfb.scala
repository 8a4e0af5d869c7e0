package extractous.office

import extractous.config.ExtractorConfig
import extractous.model.{ExtractResult, ExtractStatus}
import extractous.text.BlockSink

/** OLE2 / Compound File Binary container (MS-CFB, the .doc/.xls/.ppt shell)
  * and a Word-97 binary text extractor — legacy crawls are full of these; the
  * reference covers them through Tika (/root/reference/README.md:269-273).
  *
  * Scope (stated honestly): full CFB sector walk — header DIFAT + chained
  * DIFAT sectors, FAT chains, directory tree, mini-stream/miniFAT for small
  * streams — and the NON-COMPLEX WordDocument text area (FibBase fcMin..fcMac,
  * the shape every plain Word-97 "save" produces). Complex (incremental-save,
  * piece-table) documents fail the row with a status instead of emitting
  * wrong text.
  */
object Cfb {
  final val Signature: Array[Int] = Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1)
  final val EndOfChain = 0xfffffffe
  final val FreeSect = 0xffffffff

  /** slot/leftSib/rightSib/child are directory-slot ids (MS-CFB red-black
    * tree; 0xFFFFFFFF → -1 = none): needed to tell ROOT-level streams from
    * identically-named streams inside attachment/recipient substorages.
    */
  final case class DirEntry(name: String, objType: Int, startSector: Int, size: Long,
      slot: Int = -1, leftSib: Int = -1, rightSib: Int = -1, child: Int = -1)

  final case class Container(sectorSize: Int, fat: Array[Int], miniFat: Array[Int],
      dir: Vector[DirEntry], data: Array[Byte], miniCutoff: Int, miniStream: Array[Byte]) {

    /** Directory entries that are DIRECT children of the root storage —
      * the red-black-tree walk from the root entry's child over sibling
      * pointers, NOT descending into a storage's own child (its contents).
      * A .msg attachment carries its own __substg1.0_* property streams
      * inside a substorage; a flat name scan could return the attached
      * message's subject/body instead of the mail's own. Falls back to the
      * full directory when the tree is unwalkable (damaged pointers) —
      * today's behavior, never worse.
      */
    lazy val rootDir: Vector[DirEntry] = {
      val bySlot = dir.iterator.map(e => e.slot -> e).toMap
      val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
      def walk(id: Int): Unit =
        if (id >= 0 && !seen.contains(id)) bySlot.get(id).foreach { e =>
          seen += id
          walk(e.leftSib); walk(e.rightSib)
        }
      bySlot.get(0).foreach(root => walk(root.child))
      val found = seen.iterator.flatMap(bySlot.get).toVector
      if (found.exists(_.objType == 2)) found else dir
    }

    def stream(name: String): Option[Array[Byte]] =
      dir.find(e => e.objType == 2 && e.name.equalsIgnoreCase(name)).map(streamOf)

    /** Read a SPECIFIC directory entry's stream. Name-based lookup re-scans
      * the flat directory and can land on an identically-named stream in a
      * substorage — a caller that already resolved an entry (e.g. via
      * [[rootDir]]) must read THAT entry's chain.
      */
    def streamOf(e: DirEntry): Array[Byte] =
      if (e.size < miniCutoff) readMini(e.startSector, e.size.toInt)
      else readChain(e.startSector, e.size.toInt)

    private def readChain(start: Int, size: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(size)
      var s = start
      var guard = 0
      while (s != EndOfChain && s >= 0 && out.size < size && guard < fat.length + 2) {
        val off = (s + 1) * sectorSize
        val n = math.min(sectorSize, size - out.size)
        if (off + n > data.length) throw new IllegalArgumentException("cfb: sector out of range")
        out.write(data, off, n)
        s = fat(s)
        guard += 1
      }
      out.toByteArray
    }

    private def readMini(start: Int, size: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(size)
      var s = start
      var guard = 0
      while (s != EndOfChain && s >= 0 && out.size < size && guard < miniFat.length + 2) {
        val off = s * 64
        val n = math.min(64, size - out.size)
        if (off + n > miniStream.length) throw new IllegalArgumentException("cfb: mini sector out of range")
        out.write(miniStream, off, n)
        s = miniFat(s)
        guard += 1
      }
      out.toByteArray
    }
  }

  def isCfb(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && (0 until 8).forall(i => (bytes(i) & 0xff) == Signature(i))

  def parse(bytes: Array[Byte]): Container = {
    require(isCfb(bytes), "not a CFB container")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val sectorShift = bb.getShort(0x1e).toInt
    require(sectorShift == 9 || sectorShift == 12, s"cfb: bad sector shift $sectorShift")
    val sectorSize = 1 << sectorShift
    val nFatSectors = bb.getInt(0x2c)
    val firstDirSector = bb.getInt(0x30)
    val miniCutoff = bb.getInt(0x38)
    val firstMiniFat = bb.getInt(0x3c)
    val nMiniFat = bb.getInt(0x40)
    val firstDifat = bb.getInt(0x44)
    val nDifat = bb.getInt(0x48)

    def sectorInts(sector: Int): Array[Int] = {
      val off = (sector + 1) * sectorSize
      require(off + sectorSize <= bytes.length, "cfb: sector out of range")
      Array.tabulate(sectorSize / 4)(i => bb.getInt(off + i * 4))
    }

    // DIFAT: 109 header entries + chained DIFAT sectors
    val fatSectors = Vector.newBuilder[Int]
    var taken = 0
    var i = 0
    while (i < 109 && taken < nFatSectors) {
      val v = bb.getInt(0x4c + i * 4)
      if (v != FreeSect && v != EndOfChain) { fatSectors += v; taken += 1 }
      i += 1
    }
    var difat = firstDifat
    var difatGuard = 0
    while (difat != EndOfChain && difat != FreeSect && difatGuard < nDifat + 2 && taken < nFatSectors) {
      val ints = sectorInts(difat)
      ints.dropRight(1).foreach { v =>
        if (v != FreeSect && v != EndOfChain && taken < nFatSectors) { fatSectors += v; taken += 1 }
      }
      difat = ints.last
      difatGuard += 1
    }

    val fat = fatSectors.result().flatMap(sectorInts).toArray

    // directory chain
    val dirBytes = {
      val out = new java.io.ByteArrayOutputStream()
      var s = firstDirSector
      var guard = 0
      while (s != EndOfChain && s >= 0 && guard < fat.length + 2) {
        out.write(bytes, (s + 1) * sectorSize, sectorSize)
        s = if (s < fat.length) fat(s) else EndOfChain
        guard += 1
      }
      out.toByteArray
    }
    val dbb = java.nio.ByteBuffer.wrap(dirBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dir = (0 until dirBytes.length / 128).flatMap { k =>
      val base = k * 128
      val nameLen = dbb.getShort(base + 64).toInt
      if (nameLen < 2 || nameLen > 64) None
      else {
        val name = new String(dirBytes, base, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
        val objType = dirBytes(base + 66) & 0xff
        val start = dbb.getInt(base + 116)
        val size = dbb.getLong(base + 120) & 0xffffffffL // 32-bit sizes in v3
        Some(DirEntry(name, objType, start, size,
          slot = k, leftSib = dbb.getInt(base + 68),
          rightSib = dbb.getInt(base + 72), child = dbb.getInt(base + 76)))
      }
    }.toVector

    // miniFAT + mini stream (root entry's chain holds the mini sectors)
    val miniFat: Array[Int] = {
      val out = Vector.newBuilder[Int]
      var s = firstMiniFat
      var guard = 0
      while (s != EndOfChain && s != FreeSect && s >= 0 && guard < nMiniFat + 2) {
        out ++= sectorInts(s)
        s = if (s < fat.length) fat(s) else EndOfChain
        guard += 1
      }
      out.result().toArray
    }
    val container0 = Container(sectorSize, fat, miniFat, dir, bytes, miniCutoff, Array.emptyByteArray)
    val miniStream = dir.find(_.objType == 5) match {
      case Some(root) if root.size > 0 =>
        // the root entry's "stream" is the mini-sector container
        val c = container0
        try {
          val out = new java.io.ByteArrayOutputStream(root.size.toInt)
          var s = root.startSector
          var guard = 0
          while (s != EndOfChain && s >= 0 && out.size < root.size && guard < fat.length + 2) {
            val n = math.min(sectorSize, root.size.toInt - out.size)
            out.write(bytes, (s + 1) * c.sectorSize, n)
            s = if (s < fat.length) fat(s) else EndOfChain
            guard += 1
          }
          out.toByteArray
        } catch { case _: Exception => Array.emptyByteArray }
      case _ => Array.emptyByteArray
    }
    container0.copy(miniStream = miniStream)
  }
}

/** Word-97 binary (.doc) text extraction over [[Cfb]]. */
object DocExtractor {
  val Mime = "application/msword"
  val CfbMime = "application/x-cfb"

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    val container =
      try Cfb.parse(bytes)
      catch {
        case e: Exception =>
          return ExtractResult.fail(ExtractStatus.ExtractionFailed, s"cfb: ${e.getMessage}", CfbMime)
      }
    extract(container, cfg)
  }

  def extract(container: Cfb.Container, cfg: ExtractorConfig): ExtractResult = {
    container.stream("WordDocument") match {
      case None =>
        ExtractResult.fail(ExtractStatus.UnsupportedFormat,
          "cfb: no WordDocument stream (not a .doc)", CfbMime)
      case Some(wd) =>
        if (wd.length < 0x20 || (wd(0) & 0xff) != 0xec || (wd(1) & 0xff) != 0xa5)
          return ExtractResult.fail(ExtractStatus.ExtractionFailed, "doc: bad FIB ident", Mime)
        val bb = java.nio.ByteBuffer.wrap(wd).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val flags = bb.getShort(0x0a).toInt
        if ((flags & 0x0004) != 0) // fComplex: incremental save, piece table required
          return ExtractResult.fail(ExtractStatus.UnsupportedFormat,
            "doc: complex (incremental-save) files unsupported", Mime)
        val fcMin = bb.getInt(0x18)
        val fcMac = bb.getInt(0x1c)
        if (fcMin < 0 || fcMac < fcMin || fcMac > wd.length)
          return ExtractResult.fail(ExtractStatus.ExtractionFailed, "doc: bad text bounds", Mime)
        val raw = new String(wd, fcMin, fcMac - fcMin, java.nio.charset.Charset.forName("windows-1252"))
        // A 16-bit text area (unicode pieces — legal even when fComplex is
        // clear, and fExtChar at 0x0A is "MUST be 1" in MS-DOC so it cannot
        // discriminate) decoded as cp1252 comes out NUL-interleaved. The
        // contract is "fails with a status, never wrong text": reject on NUL
        // density instead of emitting garbage — proper decoding needs the
        // piece table, which lives with the fComplex path.
        val nuls = raw.count(_ == '\u0000')
        if (raw.length >= 8 && nuls * 10 > raw.length)
          return ExtractResult.fail(ExtractStatus.UnsupportedFormat,
            "doc: 16-bit (unicode-piece) text area unsupported without piece table", Mime)
        val sink = new BlockSink(cfg)
        // \r is the Word paragraph mark; 0x07 ends table cells/rows
        sink.addAll("p", raw.split("[\r\u0007]", -1).iterator)
        sink.ok(Map("Content-Type" -> Seq(Mime)), Mime)
    }
  }
}
