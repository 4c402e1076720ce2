package graft.util

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

/** Random-access reader over one in-memory zip archive, built once per
  * document. Construction indexes every entry (name, method, CRC-32,
  * sizes, local-header offset) from the central directory, or, when there
  * is none or it does not parse, from a forward scan of the local headers
  * (best effort on truncated crawl records). [[read]] then inflates one
  * part's data range once, through [[Inflate]], into an array of the
  * indexed size; nothing is inflated to skip a part.
  *
  * Every read counts toward one per-document total, so the per-document
  * cap holds across all the parts a kernel reads. Hostile archives:
  *  - every header field read is bounds-checked: a field past the end is a
  *    named error (or ends the forward scan), never an array index error;
  *  - a local header whose method, or whose sizes when flag bit 3 is
  *    clear, disagree with the index is a named error;
  *  - data descriptors (flag bit 3) are read: the index takes the sizes
  *    from the central directory, the forward scan from the descriptor;
  *  - ZIP64 is read: the extended-information extra field (0x0001) in
  *    central and local headers, and the ZIP64 end record;
  *  - of duplicate names, the first entry wins;
  *  - an indexed size is trusted only up to [[Inflate]]'s ratio bound, and
  *    the inflated size and CRC-32 must match the index. */
final class ZipReader private (c: ByteCursor, byName: ZipReader.Index) {
  import ZipReader._

  private val bytes = c.array

  private var total = 0L

  /** Entry names in archive order, duplicates dropped. */
  def names: Iterator[String] = byName.keySet.iterator.asScala

  def contains(name: String): Boolean = byName.containsKey(name)

  /** Bytes every [[read]] of this reader has produced so far. */
  def inflated: Long = total

  /** The part's bytes, or None when the archive has no such entry. */
  def read(name: String): Option[Array[Byte]] = {
    val e = byName.get(name)
    if (e == null) None else Some(load(e))
  }

  private def load(e: Entry): Array[Byte] = {
    val at = e.offset
    require(at >= 0 && at <= bytes.length - 30L && c.i32le(at.toInt) == Loc,
      s"${e.name}: no local header at offset $at")
    val p = at.toInt
    val method = c.u16le(p + 8)
    require(method == e.method,
      s"${e.name}: local header method $method disagrees with the central directory's ${e.method}")
    val nameLen = c.u16le(p + 26)
    val extraLen = c.u16le(p + 28)
    val data = p + 30L + nameLen + extraLen
    if ((c.u16le(p + 6) & 8) == 0) {
      val (size, csize, _) = zip64(c, p + 30 + nameLen, extraLen,
        c.u32le(p + 22), c.u32le(p + 18), 0L)
      require(size == e.size && csize == e.csize,
        s"${e.name}: local header sizes $csize/$size disagree with the central directory's ${e.csize}/${e.size}")
    }
    require(e.size >= 0, s"${e.name} truncated: no data descriptor")
    require(e.csize >= 0, s"${e.name}: compressed size ${e.csize} out of range")
    require(data + e.csize <= bytes.length,
      s"${e.name} truncated: ${e.csize} bytes at $data run past the archive's ${bytes.length}")
    val out = method match {
      case 0 =>
        require(e.csize == e.size, s"${e.name}: stored sizes ${e.csize}/${e.size} differ")
        Inflate.grow(new ByteArrayInputStream(bytes, data.toInt, e.csize.toInt),
          e.size, e.size, total, e.name)
      case 8 => Inflate.growRaw(bytes, data.toInt, e.csize.toInt, e.size, total, e.name)
      case m => throw new IllegalArgumentException(s"${e.name}: unsupported compression method $m")
    }
    require(out.length == e.size, s"${e.name}: ${out.length} bytes, index says ${e.size}")
    val crc = new CRC32
    crc.update(out)
    require(crc.getValue == e.crc, s"${e.name}: CRC-32 mismatch")
    total += out.length
    out
  }
}

object ZipReader {

  private val Loc = 0x04034b50
  private val Cen = 0x02014b50
  private val End = 0x06054b50
  private val End64 = 0x06064b50
  private val End64Locator = 0x07064b50
  private val Descriptor = 0x08074b50

  /** One indexed entry; `size` -1 marks a forward-scanned entry whose data
    * descriptor was never found. */
  private final class Entry(val name: String, val method: Int, val crc: Long,
                            val csize: Long, val size: Long, val offset: Long)

  /** Name → entry in archive order; `putIfAbsent` keeps the first of
    * duplicate names. */
  private type Index = java.util.LinkedHashMap[String, Entry]

  def apply(bytes: Array[Byte]): ZipReader = {
    val c = ByteCursor(bytes)
    new ZipReader(c, centralDirectory(c).getOrElse(localScan(c)))
  }

  /** (size, compressed size, offset) with each saturated 32-bit field
    * replaced, in that order, from the ZIP64 extra field in
    * `b[extra, extra + len)`; a saturated field with no value there is a
    * named error. */
  private def zip64(b: ByteCursor, extra: Int, len: Int,
                    size: Long, csize: Long, offset: Long): (Long, Long, Long) = {
    val sat = 0xffffffffL
    if (size != sat && csize != sat && offset != sat) return (size, csize, offset)
    val x = b.slice(extra, len)
    var p = 0
    while (p <= len - 4 && x.u16le(p) != 1) p += 4 + x.u16le(p + 2)
    require(p <= len - 4, "zip64 sizes without a zip64 extra field")
    var at = p + 4
    val fieldEnd = math.min(len, at + x.u16le(p + 2))
    def next(v: Long): Long =
      if (v != sat) v
      else {
        require(at + 8 <= fieldEnd, "zip64 extra field too short")
        val r = x.u64le(at)
        at += 8
        r
      }
    val s = next(size)
    val c = next(csize)
    (s, c, next(offset))
  }

  /** The index from the end-of-central-directory record, or None when
    * there is none or the directory it points at does not parse. */
  private def centralDirectory(b: ByteCursor): Option[Index] = {
    val n = b.length
    var eocd = n - 22
    val stop = math.max(0, n - 22 - 0xffff)
    while (eocd >= stop && b.i32le(eocd) != End) eocd -= 1
    if (eocd < stop) return None
    try {
      var cdOffset = b.u32le(eocd + 16)
      var cdSize = b.u32le(eocd + 12)
      if (cdOffset == 0xffffffffL || cdSize == 0xffffffffL) {
        require(eocd >= 20 && b.i32le(eocd - 20) == End64Locator, "zip64 end locator missing")
        val rec = b.u64le(eocd - 12)
        require(rec <= eocd - 56 && b.i32le(rec.toInt) == End64, "zip64 end record missing")
        cdSize = b.u64le(rec.toInt + 40)
        cdOffset = b.u64le(rec.toInt + 48)
      }
      require(cdOffset >= 0 && cdSize >= 0 && cdOffset + cdSize <= eocd, "central directory past its end record")
      val end = (cdOffset + cdSize).toInt
      val out = new Index()
      var p = cdOffset.toInt
      while (p < end) {
        require(p <= end - 46 && b.i32le(p) == Cen, s"bad central header at $p")
        val nameLen = b.u16le(p + 28)
        val extraLen = b.u16le(p + 30)
        require(p + 46L + nameLen + extraLen <= end, s"central header at $p runs past the directory")
        val name = b.string(p + 46, nameLen, UTF_8)
        val (size, csize, offset) = zip64(b, p + 46 + nameLen, extraLen,
          b.u32le(p + 24), b.u32le(p + 20), b.u32le(p + 42))
        out.putIfAbsent(name, new Entry(name, b.u16le(p + 10), b.u32le(p + 16), csize, size, offset))
        p += 46 + nameLen + extraLen + b.u16le(p + 32)
      }
      Some(out)
    } catch { case _: IllegalArgumentException => None }
  }

  /** The index from a forward walk of local headers, ending at the first
    * header that is missing, cut short or inconsistent. A flag-bit-3 entry
    * ends at the first signed data descriptor whose compressed size equals
    * its distance from the data; with none, the entry is indexed with an
    * unknown size and the walk ends. */
  private def localScan(b: ByteCursor): Index = {
    val out = new Index()
    var p = 0
    try {
      while (p <= b.length - 30 && b.i32le(p) == Loc) {
        val flags = b.u16le(p + 6)
        val method = b.u16le(p + 8)
        val nameLen = b.u16le(p + 26)
        val extraLen = b.u16le(p + 28)
        val data = p + 30 + nameLen + extraLen
        require(data <= b.length, "local header cut short")
        val name = b.string(p + 30, nameLen, UTF_8)
        val (e, next) =
          if ((flags & 8) == 0) {
            val (size, csize, _) = zip64(b, p + 30 + nameLen, extraLen,
              b.u32le(p + 22), b.u32le(p + 18), 0L)
            (new Entry(name, method, b.u32le(p + 14), csize, size, p), data + csize)
          } else {
            var d = data
            while (d <= b.length - 16 &&
                   (b.i32le(d) != Descriptor || b.u32le(d + 8) != d - data)) d += 1
            if (d <= b.length - 16)
              (new Entry(name, method, b.u32le(d + 4), d - data, b.u32le(d + 12), p), d + 16L)
            else (new Entry(name, method, 0L, b.length - data, -1L, p), -1L)
          }
        out.putIfAbsent(name, e)
        require(next >= 0 && next <= Int.MaxValue, "entry end unknown")
        p = next.toInt
      }
    } catch { case _: IllegalArgumentException => () }
    out
  }
}
