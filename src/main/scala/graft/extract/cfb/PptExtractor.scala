package graft.extract.cfb

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets

import graft.util.ByteCursor

/** PowerPoint 97-2003 binary (.ppt) → text kernel — a reference whitelist
  * input (/root/reference/src/converters/document_converters.py:16-26). The
  * "PowerPoint Document" stream is a record tree (u16 recVer/recInstance,
  * u16 recType, u32 recLen); containers (recVer 0xF) nest, atoms are
  * leaves. Text lives in TextCharsAtom (0x0FA0, UTF-16LE) and
  * TextBytesAtom (0x0FA8, cp1252); `\r` separates paragraphs within an
  * atom, atoms join by "\n".
  *
  * Incrementally-saved files (what PowerPoint actually writes: every save
  * APPENDS a new copy of edited objects and a new edit record) are resolved
  * through the persist directory: the "Current User" stream's
  * CurrentUserAtom points at the newest UserEditAtom, the UserEditAtom
  * chain walks back through prior edits, and each edit's
  * PersistDirectoryAtom maps persist ids to stream offsets with the newest
  * edit winning a contested id ([MS-PPT] §2.1.2). Only records reachable
  * from the live directory are read — STALE pre-edit copies earlier in the
  * stream are never visited (a naive stream-order walk would emit them as
  * duplicate/superseded text). Files without a "Current User" stream fall
  * back to the stream-order walk.
  */
object PptExtractor {

  private val cp1252 = Charset.forName("windows-1252")

  private val TextCharsAtom = 0x0fa0
  private val TextBytesAtom = 0x0fa8
  private val SlidePersistAtom = 0x03f3
  private val UserEditAtom = 0x0ff5
  private val CurrentUserAtom = 0x0ff6
  private val PersistDirectoryAtom = 0x1772

  def extract(bytes: Array[Byte]): String = {
    val cfb = new CfbParser(bytes)
    val ppt = ByteCursor(cfb.stream("PowerPoint Document")
      .getOrElse(throw new IllegalArgumentException("CFB has no PowerPoint Document stream")))
    cfb.stream("Current User") match {
      case Some(cu) => viaPersistDirectory(ppt, ByteCursor(cu))
      case None => streamOrder(ppt)
    }
  }

  /** Validated record header at `at`: (verInst, recType, bodyLen). */
  private def header(s: ByteCursor, at: Int, what: String): (Int, Int, Int) = {
    require(at >= 0 && at + 8L <= s.length, s"PPT $what header at $at out of bounds")
    val verInst = s.u16le(at)
    val recType = s.u16le(at + 2)
    val len = s.i32le(at + 4)
    require(len >= 0 && at + 8L + len <= s.length, s"PPT record $recType overruns stream")
    (verInst, recType, len)
  }

  /** Resolve the live persist directory and read only reachable records:
    * the current edit's document container first (slide-order outline
    * text), then each SlidePersistAtom-referenced slide container in
    * reference order. A "Current User" stream that is present but
    * malformed is an ERROR (failure row), not a fallback — silently
    * stream-walking an incremental file would emit stale text. */
  private def viaPersistDirectory(ppt: ByteCursor, cu: ByteCursor): String = {
    val (_, cuType, cuLen) = header(cu, 0, "CurrentUserAtom")
    require(cuType == CurrentUserAtom && cuLen >= 12,
      s"Current User stream leads with record $cuType/$cuLen, not a CurrentUserAtom")
    // body: size(4) headerToken(4) offsetToCurrentEdit(4) ...
    // headerToken 0xE391C05F = plaintext; 0xF3D1C4DF = encrypted ([MS-PPT]
    // §2.3.2) — the edit chain itself is stored unencrypted, so without
    // this check an encrypted deck would "resolve" into ciphertext text.
    val headerToken = cu.u32le(12)
    require(headerToken == 0xE391C05FL,
      f"encrypted or unknown .ppt variant (CurrentUserAtom headerToken 0x$headerToken%08X)")
    var editOff = cu.i32le(16)
    val persist = scala.collection.mutable.HashMap.empty[Long, Int]
    var docPersistIdRef = -1L
    while (editOff != 0) {
      val (_, t, len) = header(ppt, editOff, "UserEditAtom")
      require(t == UserEditAtom && len >= 20,
        s"record $t at edit offset $editOff is not a UserEditAtom")
      val body = editOff + 8
      // body: lastSlideIdRef(4) version(2) minor(1) major(1)
      //       offsetLastEdit(4) offsetPersistDirectory(4) docPersistIdRef(4) ...
      val offsetLastEdit = ppt.i32le(body + 8)
      val dirOff = ppt.i32le(body + 12)
      if (docPersistIdRef < 0) docPersistIdRef = ppt.u32le(body + 16)
      val (_, pdType, pdLen) = header(ppt, dirOff, "PersistDirectoryAtom")
      require(pdType == PersistDirectoryAtom,
        s"record $pdType at persist-directory offset $dirOff is not a PersistDirectoryAtom")
      var at = dirOff + 8
      val pdEnd = at + pdLen
      while (at < pdEnd) {
        require(at + 4 <= pdEnd, "PersistDirectoryAtom entry header overruns")
        val h = ppt.i32le(at); at += 4
        val id0 = h & 0xfffff
        val count = (h >>> 20) & 0xfff
        require(at + 4L * count <= pdEnd, "PersistDirectoryAtom offsets overrun")
        var k = 0
        while (k < count) {
          val off = ppt.i32le(at); at += 4
          val id = (id0 + k).toLong
          if (!persist.contains(id)) persist(id) = off // newest edit wins
          k += 1
        }
      }
      // the chain points strictly backwards in the file — guards cycles
      require(offsetLastEdit == 0 || offsetLastEdit < editOff,
        "UserEditAtom chain must point backwards")
      editOff = offsetLastEdit
    }
    val docOff = persist.getOrElse(docPersistIdRef, throw new IllegalArgumentException(
      s"persist directory has no document entry $docPersistIdRef"))
    val texts = Vector.newBuilder[String]
    val slideRefs = Vector.newBuilder[Long]
    walkRecord(ppt, docOff, texts, slideRefs)
    val noRefs = Vector.newBuilder[Long]
    for (ref <- slideRefs.result()) {
      val off = persist.getOrElse(ref, throw new IllegalArgumentException(
        s"persist directory has no slide entry $ref"))
      walkRecord(ppt, off, texts, noRefs)
    }
    render(texts.result())
  }

  /** Container ends still open during a walk, innermost on top: the walks
    * descend through an explicit stack, so nesting depth costs heap, not
    * JVM stack frames. */
  private final class EndStack {
    private var ends = new Array[Int](16)
    private var n = 0
    def nonEmpty: Boolean = n > 0
    def push(end: Int): Unit = {
      if (n == ends.length) ends = java.util.Arrays.copyOf(ends, n * 2)
      ends(n) = end
      n += 1
    }
    def top: Int = ends(n - 1)
    def pop(): Int = { n -= 1; ends(n) }
  }

  /** Walk the ONE record at `at` and, for a container, every record nested
    * in it, collecting text atoms and SlidePersistAtom references in
    * document order. */
  private def walkRecord(ppt: ByteCursor, at0: Int,
                         texts: scala.collection.mutable.Builder[String, Vector[String]],
                         refs: scala.collection.mutable.Builder[Long, Vector[Long]]): Unit = {
    val open = new EndStack
    var at = at0
    var more = true
    while (more) {
      val (verInst, recType, len) = header(ppt, at, "record")
      val body = at + 8
      if ((verInst & 0xf) == 0xf) {
        open.push(body + len)
        at = body
      } else {
        if (recType == TextCharsAtom) texts += ppt.string(body, len, StandardCharsets.UTF_16LE)
        else if (recType == TextBytesAtom) texts += ppt.string(body, len, cp1252)
        else if (recType == SlidePersistAtom && len >= 4) refs += ppt.u32le(body)
        at = body + len
      }
      // the next child of the innermost open container, closing the ones
      // that are done
      more = false
      while (!more && open.nonEmpty) {
        val end = open.top
        if (at + 8 <= end) {
          // children must END inside their container too — a corrupt child
          // length must not read into stale post-container stream regions
          val childLen = ppt.i32le(at + 4)
          require(childLen >= 0 && at + 8L + childLen <= end,
            s"PPT child record at $at overruns its container")
          more = true
        } else at = open.pop()
      }
    }
  }

  /** Flat walk in stream order — single-save files with no "Current User"
    * stream (fixture-grade and converter-emitted documents). */
  private def streamOrder(ppt: ByteCursor): String = {
    val out = Vector.newBuilder[String]
    var sawRecord = false
    val open = new EndStack
    open.push(ppt.length)
    var at = 0
    while (open.nonEmpty) {
      val end = open.top
      if (at + 8 <= end) {
        val verInst = ppt.u16le(at)
        val recType = ppt.u16le(at + 2)
        val len = ppt.i32le(at + 4)
        require(len >= 0 && at + 8L + len <= end, s"PPT record $recType overruns stream")
        sawRecord = true
        val body = at + 8
        if ((verInst & 0xf) == 0xf) {
          open.push(body + len) // container: descend
          at = body
        } else {
          if (recType == TextCharsAtom) out += ppt.string(body, len, StandardCharsets.UTF_16LE)
          else if (recType == TextBytesAtom) out += ppt.string(body, len, cp1252)
          at = body + len
        }
      } else at = open.pop() // past the container's end
    }
    require(sawRecord, "PowerPoint Document stream has no records")
    render(out.result())
  }

  private def render(atoms: Vector[String]): String =
    atoms
      .map(_.stripSuffix("\r").split('\r').mkString("\n"))
      .filter(_.nonEmpty)
      .mkString("\n")
}
