package graft.extract.cfb

import java.nio.charset.StandardCharsets

import graft.util.ByteCursor

/** Compound File Binary (OLE2) container reader — the structured storage
  * behind the reference whitelist's legacy .doc/.xls/.ppt inputs
  * (/root/reference/src/converters/document_converters.py:16-26). Pure JVM,
  * single pass over the byte array: header → DIFAT → FAT → directory →
  * stream reads by FAT chain, with streams under the mini cutoff (4096)
  * read through the mini FAT out of the root entry's mini stream
  * ([MS-CFB] §2.2-2.6).
  *
  * Bounded: sector chains are capped at the file's sector count, so a
  * corrupt cyclic FAT terminates with an error instead of looping, and a
  * sector id outside the file or the FAT is a named error.
  */
object CfbParser {
  final case class DirEntry(name: String, entryType: Int, startSector: Int, size: Long,
                            left: Int, right: Int, child: Int)
}

final class CfbParser(bytes: Array[Byte]) {

  require(CfbSniffer.isCfb(bytes), "not a CFB container")

  private val c = ByteCursor(bytes)

  private val sectorShift = c.u16le(30)
  require(sectorShift == 9 || sectorShift == 12, s"bad sector shift $sectorShift")
  private val sectorSize = 1 << sectorShift
  private val miniSectorShift = c.u16le(32)
  require(miniSectorShift == 6, s"bad mini sector shift $miniSectorShift")
  private val miniSectorSize = 1 << miniSectorShift
  private val miniCutoff = c.i32le(56)
  private val maxSectors = (bytes.length / sectorSize) + 1

  private val ENDOFCHAIN = 0xfffffffe
  private val FREESECT = 0xffffffff

  // sector 0 begins after ONE sector's worth of header ([MS-CFB] §2.2: the
  // 512-byte header is zero-padded to the sector size in v4 files), so the
  // offset is (sector+1)*sectorSize for both v3 and v4
  private def sectorOffset(sector: Int): Int = {
    require(sector >= 0 && sector < maxSectors, s"CFB sector $sector out of bounds")
    (sector + 1) * sectorSize
  }

  // ---- FAT (via the header DIFAT + any DIFAT chain sectors) ----------------

  private val fatSectors: IndexedSeq[Int] = {
    val numFat = c.i32le(44)
    val out = IndexedSeq.newBuilder[Int]
    var taken = 0
    var i = 76
    while (taken < numFat && i < 512) {
      val s = c.i32le(i)
      if (s != FREESECT) { out += s; taken += 1 }
      i += 4
    }
    // DIFAT continuation sectors (files > ~6.8 MB)
    var difat = c.i32le(68)
    var guard = 0
    while (taken < numFat && difat != ENDOFCHAIN && difat != FREESECT && guard < maxSectors) {
      val base = sectorOffset(difat)
      val perSector = sectorSize / 4 - 1
      var k = 0
      while (taken < numFat && k < perSector) {
        val s = c.i32le(base + k * 4)
        if (s != FREESECT) { out += s; taken += 1 }
        k += 1
      }
      difat = c.i32le(base + perSector * 4)
      guard += 1
    }
    out.result()
  }

  private def fatEntry(sector: Int): Int = {
    val perSector = sectorSize / 4
    val k = sector / perSector
    require(k < fatSectors.length, s"CFB sector $sector has no FAT entry")
    c.i32le(sectorOffset(fatSectors(k)) + (sector % perSector) * 4)
  }

  /** Read a whole regular-sector chain, truncated to `size`. */
  private def readChain(start: Int, size: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(size, bytes.length.toLong).toInt max 64)
    var s = start
    var guard = 0
    while (s != ENDOFCHAIN && s != FREESECT && guard < maxSectors) {
      val off = sectorOffset(s)
      val n = math.min(sectorSize.toLong, bytes.length.toLong - off).toInt
      require(n > 0, s"CFB chain sector $s out of bounds")
      out.write(bytes, off, n)
      s = fatEntry(s)
      guard += 1
    }
    require(s == ENDOFCHAIN || s == FREESECT, "cyclic CFB FAT chain")
    val all = out.toByteArray
    if (size >= 0 && size < all.length) java.util.Arrays.copyOf(all, size.toInt) else all
  }

  // ---- directory -----------------------------------------------------------

  import CfbParser.DirEntry

  /** Every directory slot by stream id (None = free slot) — ids are the
    * sibling/child pointer space, so the raw indexing must be preserved. */
  private val slots: IndexedSeq[Option[DirEntry]] = {
    val dirBytes = readChain(c.i32le(48), -1L)
    val d = ByteCursor(dirBytes)
    val out = IndexedSeq.newBuilder[Option[DirEntry]]
    var at = 0
    while (at + 128 <= dirBytes.length) {
      val nameLen = d.u16le(at + 64)
      val tpe = d.u8(at + 66)
      out += (if (tpe != 0 && nameLen >= 2 && nameLen <= 64)
        Some(DirEntry(new String(dirBytes, at, nameLen - 2, StandardCharsets.UTF_16LE),
          tpe, d.i32le(at + 116), d.u32le(at + 120),
          d.i32le(at + 68), d.i32le(at + 72), d.i32le(at + 76)))
      else None)
      at += 128
    }
    out.result()
  }

  /** All live entries at any storage depth (diagnostics). */
  val entries: IndexedSeq[DirEntry] = slots.flatten

  private val root: DirEntry = entries.find(_.entryType == 5)
    .getOrElse(throw new IllegalArgumentException("CFB has no root entry"))

  /** ONE storage level: the sibling tree hanging off `childPtr`, WITHOUT
    * descending into nested storages. Cycle-guarded. */
  private def siblingTree(childPtr: Int): IndexedSeq[DirEntry] = {
    val out = IndexedSeq.newBuilder[DirEntry]
    val seen = scala.collection.mutable.Set.empty[Int]
    val stack = scala.collection.mutable.Stack[Int](childPtr)
    while (stack.nonEmpty) {
      val i = stack.pop()
      if (i >= 0 && i < slots.length && seen.add(i)) {
        slots(i).foreach { e =>
          out += e
          stack.push(e.left)
          stack.push(e.right)
          // e.child of a STORAGE entry leads into the nested storage's
          // members — deliberately not followed
        }
      }
    }
    out.result()
  }

  /** Entries at the TOP LEVEL of the storage hierarchy: the sibling tree
    * hanging off the root's child pointer, WITHOUT descending into embedded
    * storages — so an OLE object embedded in a spreadsheet cannot shadow or
    * impersonate the document's own streams. */
  val rootEntries: IndexedSeq[DirEntry] = siblingTree(root.child)

  // mini FAT + the root's mini stream (lazy: many files have none)
  private lazy val miniFat = ByteCursor(readChain(c.i32le(60), -1L))
  private lazy val miniStream: Array[Byte] = readChain(root.startSector, root.size)

  private def miniFatEntry(sector: Int): Int = miniFat.i32le(sector * 4)

  private def readMiniChain(start: Int, size: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(size, miniStream.length.toLong).toInt max 64)
    var s = start
    var guard = 0
    val maxMini = miniStream.length / miniSectorSize + 1
    while (s != ENDOFCHAIN && s != FREESECT && guard < maxMini) {
      require(s >= 0 && s < maxMini, s"CFB mini chain sector $s out of bounds")
      val off = s * miniSectorSize
      val n = math.min(miniSectorSize, miniStream.length - off)
      require(n > 0, s"CFB mini chain sector $s out of bounds")
      out.write(miniStream, off, n)
      s = miniFatEntry(s)
      guard += 1
    }
    require(s == ENDOFCHAIN || s == FREESECT, "cyclic CFB mini FAT chain")
    val all = out.toByteArray
    if (size < all.length) java.util.Arrays.copyOf(all, size.toInt) else all
  }

  private def readStream(e: DirEntry): Array[Byte] =
    if (e.size < miniCutoff) readMiniChain(e.startSector, e.size)
    else readChain(e.startSector, e.size)

  /** A named TOP-LEVEL stream's bytes (streams below the 4096 cutoff live
    * in the mini stream, larger ones in regular sectors — [MS-CFB] §2.6.1).
    * Embedded storages' streams are not reachable here by design. */
  def stream(name: String): Option[Array[Byte]] =
    rootEntries.find(e => e.entryType == 2 && e.name == name).map(readStream)

  /** A stream at an EXPLICIT storage path (e.g. Publisher's text store at
    * Quill/QuillSub/CONTENTS): each named prefix step descends exactly one
    * storage's sibling tree. Still never a blind recursive walk — content
    * inside an embedded OLE object is only reachable by NAMING its storage,
    * so it cannot shadow the document's own streams. */
  def streamAtPath(path: Seq[String]): Option[Array[Byte]] = {
    require(path.nonEmpty, "empty CFB stream path")
    var level = rootEntries
    for (storageName <- path.init) {
      level = level.find(e => e.entryType == 1 && e.name == storageName) match {
        case Some(st) => siblingTree(st.child)
        case None => return None
      }
    }
    level.find(e => e.entryType == 2 && e.name == path.last).map(readStream)
  }

  def streamNames: Seq[String] = rootEntries.filter(_.entryType == 2).map(_.name)
}
