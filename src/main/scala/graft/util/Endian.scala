package graft.util

/** Little-endian primitive readers shared by the binary kernels (CFB
  * container, Word/Excel/PowerPoint records, BMP/WAV headers) — one copy,
  * so a bounds-handling fix lands everywhere. */
object LittleEndian {
  def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  def i32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  def i64(b: Array[Byte], i: Int): Long =
    (i32(b, i).toLong & 0xffffffffL) | (i32(b, i + 4).toLong << 32)
}

/** Bounds-checked big-endian unsigned readers for the media container
  * parsers (ISO-BMFF, AU, CAF, AIFF): an out-of-range read is a named
  * error, never an array index. */
object BigEndian {
  def u16(b: Array[Byte], i: Int): Int = {
    require(i >= 0 && i + 2 <= b.length, s"big-endian u16 read at $i out of bounds")
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  }
  def u32(b: Array[Byte], i: Int): Long = {
    require(i >= 0 && i + 4 <= b.length, s"big-endian u32 read at $i out of bounds")
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  }
  def i64(b: Array[Byte], i: Int): Long = (u32(b, i) << 32) | u32(b, i + 4)
}
