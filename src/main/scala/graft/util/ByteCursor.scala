package graft.util

/** The one reader of fixed-width fields in a binary container (CFB, zip,
  * the RIFF/ISO-BMFF/AIFF walks and the image headers), over
  * `array[start, limit)`. Offsets are relative to `start`. Every read is
  * bounds-checked: a field that does not fit between `start` and `limit`
  * throws an `IllegalArgumentException` naming the offset and the width,
  * so a bad offset fails the same way in either byte order. Reads are
  * index arithmetic over the one array and never allocate; `slice` is a
  * view over the same array, never a copy.
  *
  * Each width has an absolute form (`u16le(at)`) and a positional form
  * (`u16le()`), which reads at [[position]] and moves past the field.
  * `u32*` are unsigned and widen to Long; `i32*` keep the sign; `u64*`
  * return the 64 bits as a Long. */
final class ByteCursor private (val array: Array[Byte], start: Int, limit: Int) {
  private[this] var pos = start

  /** Bytes in the view. */
  def length: Int = limit - start
  def position: Int = pos - start

  def seek(at: Int): Unit = pos = check(at, 0)
  def skip(n: Int): Unit = seek(position + n)

  /** A view of `len` bytes at `at`, with its own position at 0. */
  def slice(at: Int, len: Int): ByteCursor = {
    val i = check(at, len)
    new ByteCursor(array, i, i + len)
  }

  /** The array index of a `width`-byte field at `at`. */
  private def check(at: Int, width: Int): Int = {
    if (at < 0 || width < 0 || at > limit - start - width) ByteCursor.outOfBounds(at, width, length)
    start + at
  }

  private def b(i: Int): Int = array(i) & 0xff

  def u8(at: Int): Int = b(check(at, 1))
  def u16le(at: Int): Int = { val i = check(at, 2); b(i) | (b(i + 1) << 8) }
  def u16be(at: Int): Int = { val i = check(at, 2); (b(i) << 8) | b(i + 1) }
  def u24le(at: Int): Int = { val i = check(at, 3); b(i) | (b(i + 1) << 8) | (b(i + 2) << 16) }
  def u24be(at: Int): Int = { val i = check(at, 3); (b(i) << 16) | (b(i + 1) << 8) | b(i + 2) }
  def i32le(at: Int): Int = {
    val i = check(at, 4)
    b(i) | (b(i + 1) << 8) | (b(i + 2) << 16) | (b(i + 3) << 24)
  }
  def i32be(at: Int): Int = {
    val i = check(at, 4)
    (b(i) << 24) | (b(i + 1) << 16) | (b(i + 2) << 8) | b(i + 3)
  }
  def u32le(at: Int): Long = i32le(at) & 0xffffffffL
  def u32be(at: Int): Long = i32be(at) & 0xffffffffL
  def u64le(at: Int): Long = { check(at, 8); u32le(at) | (i32le(at + 4).toLong << 32) }
  def u64be(at: Int): Long = { check(at, 8); (i32be(at).toLong << 32) | u32be(at + 4) }

  /** `len` bytes at `at` decoded as `cs`. */
  def string(at: Int, len: Int, cs: java.nio.charset.Charset): String =
    new String(array, check(at, len), len, cs)

  /** Moves past a `width`-byte field at [[position]]; returns its offset. */
  private def take(width: Int): Int = {
    val at = position
    check(at, width)
    pos += width
    at
  }

  def u8(): Int = u8(take(1))
  def u16le(): Int = u16le(take(2))
  def u16be(): Int = u16be(take(2))
  def u24le(): Int = u24le(take(3))
  def u24be(): Int = u24be(take(3))
  def i32le(): Int = i32le(take(4))
  def i32be(): Int = i32be(take(4))
  def u32le(): Long = u32le(take(4))
  def u32be(): Long = u32be(take(4))
  def u64le(): Long = u64le(take(8))
  def u64be(): Long = u64be(take(8))
}

object ByteCursor {
  def apply(array: Array[Byte]): ByteCursor = new ByteCursor(array, 0, array.length)

  private def outOfBounds(at: Int, width: Int, length: Int): Nothing =
    throw new IllegalArgumentException(s"$width-byte field at $at out of bounds of $length bytes")
}

/** The writers' side of [[ByteCursor]]: a growing byte array that also
  * writes fixed-width fields. A value is cut to the field's width, as the
  * container stores it. */
final class ByteSink(size: Int = 32) extends java.io.ByteArrayOutputStream(size) {
  def u16le(v: Int): Unit = { write(v); write(v >>> 8) }
  def u16be(v: Int): Unit = { write(v >>> 8); write(v) }
  def u24le(v: Int): Unit = { u16le(v); write(v >>> 16) }
  def u24be(v: Int): Unit = { write(v >>> 16); u16be(v) }
  def u32le(v: Long): Unit = { u16le(v.toInt); u16le((v >>> 16).toInt) }
  def u32be(v: Long): Unit = { u16be((v >>> 16).toInt); u16be(v.toInt) }
}
