package graft.util

/** The one bit cursor of every codec, over `buf[from, until)`.
  * [[MsbReader]] takes bits from the high end of each byte (FLAC, MP3,
  * TIFF LZW, AC-3/DTS headers), [[LsbReader]] from the low end (Vorbis,
  * VP8L, GIF LZW). `bitPos` is an absolute bit index into `buf`, settable
  * for codecs that seek. A read needing a bit at or past `until` moves the
  * cursor to `until` and calls `onEnd`, which throws the caller's own
  * end-of-data error. Reads take whole-byte chunks and never allocate. The
  * range is not clamped to `buf.length`: reading past the array fails on
  * the array index. */
sealed abstract class BitReader(from: Int, until: Int, onEnd: () => Nothing) {
  // a declared end past 256 MiB (never a real array here) caps at Int range
  private[this] val endBit = math.min(until.toLong << 3, Int.MaxValue).toInt
  var bitPos: Int = from << 3

  /** Claims the next `n` (≥ 0) bits; returns the position of the first. */
  protected final def take(n: Int): Int = {
    val p = bitPos
    if (n > endBit - p) { bitPos = endBit; onEnd() }
    bitPos = p + n
    p
  }
  def bit(): Int
  /** The next `n` bits (0-57), unsigned. */
  def readLong(n: Int): Long
  /** The next `n` bits (0-32); 32 bits fill the sign bit. */
  final def read(n: Int): Int = readLong(n).toInt
  final def alignByte(): Unit = bitPos = (bitPos + 7) & ~7
}

object BitReader {
  /** An end of data that reads like a failed `require(…, msg)`. */
  def requireFailed(msg: String): () => Nothing =
    () => throw new IllegalArgumentException("requirement failed: " + msg)
}

final class MsbReader(buf: Array[Byte], from: Int, until: Int, onEnd: () => Nothing)
    extends BitReader(from, until, onEnd) {
  def bit(): Int = { val p = take(1); (buf(p >>> 3) >>> (7 - (p & 7))) & 1 }
  def readLong(n: Int): Long = {
    var p = take(n)
    var v = 0L
    var left = n
    while (left > 0) {
      val k = math.min(8 - (p & 7), left)
      v = (v << k) | (((buf(p >>> 3) & 0xff) >>> (8 - (p & 7) - k)) & ((1 << k) - 1))
      p += k; left -= k
    }
    v
  }
  /** The next `n` bits as a two's-complement value. */
  def readSigned(n: Int): Int = (readLong(n) << (64 - n) >> (64 - n)).toInt
}

final class LsbReader(buf: Array[Byte], from: Int, until: Int, onEnd: () => Nothing)
    extends BitReader(from, until, onEnd) {
  def bit(): Int = { val p = take(1); (buf(p >>> 3) >>> (p & 7)) & 1 }
  def readLong(n: Int): Long = {
    var p = take(n)
    var v = 0L
    var got = 0
    while (got < n) {
      val k = math.min(8 - (p & 7), n - got)
      v |= (((buf(p >>> 3) & 0xff) >>> (p & 7)) & ((1 << k) - 1)).toLong << got
      p += k; got += k
    }
    v
  }
}

/** Bit writes into a growing array, from the high ([[MsbWriter]]) or low
  * ([[LsbWriter]]) end of each byte. A value must fit its width (0-57
  * bits); the last byte pads with zero bits. */
sealed abstract class BitWriter(capacity: Int) {
  private[this] var out = new Array[Byte](math.max(capacity, 16))
  private[this] var len = 0
  protected var acc = 0L // the pending `n` bits, less than a byte
  protected var n = 0

  protected final def emit(b: Int): Unit = {
    if (len == out.length) out = java.util.Arrays.copyOf(out, len * 2)
    out(len) = b.toByte
    len += 1
  }
  protected final def check(v: Long, bits: Int): Unit =
    if (bits < 0 || bits > 57 || (v >>> bits) != 0)
      throw new IllegalArgumentException(s"bit writer: $v does not fit in $bits bits")
  def put(v: Long, bits: Int): Unit
  final def putSigned(v: Int, bits: Int): Unit = put(v.toLong & ((1L << bits) - 1), bits)
  final def alignByte(): Unit = if (n > 0) put(0, 8 - n)
  final def toBytes: Array[Byte] = { alignByte(); java.util.Arrays.copyOf(out, len) }
}

final class MsbWriter(capacity: Int = 64) extends BitWriter(capacity) {
  def put(v: Long, bits: Int): Unit = {
    check(v, bits)
    acc = (acc << bits) | v
    n += bits
    while (n >= 8) { n -= 8; emit((acc >>> n).toInt) }
  }
}

final class LsbWriter(capacity: Int = 64) extends BitWriter(capacity) {
  def put(v: Long, bits: Int): Unit = {
    check(v, bits)
    acc |= v << n
    n += bits
    while (n >= 8) { emit(acc.toInt); acc >>>= 8; n -= 8 }
  }
  /** A prefix code (≤ 32 bits) sent MSB of the code first, as both
    * LSB-first formats (Vorbis, VP8L) send their Huffman codes. */
  def putCode(code: Int, len: Int): Unit =
    if (len > 0) put((Integer.reverse(code) >>> (32 - len)) & 0xffffffffL, len)
}

/** Non-reflected, zero-init, no-final-xor table CRC of `width` (8-32)
  * bits over `poly`. */
final class Crc(width: Int, poly: Int) {
  private[this] val shift = width - 8
  private[this] val mask = -1 >>> (32 - width)
  private[this] val table = Array.tabulate(256) { b =>
    (0 until 8).foldLeft(b << shift) { (r, _) =>
      if (((r >>> (width - 1)) & 1) != 0) (r << 1) ^ poly else r << 1
    } & mask
  }
  def update(crc: Int, b: Array[Byte], from: Int, until: Int): Int = {
    var r = crc
    var i = from
    while (i < until) { r = table(((r >>> shift) ^ b(i)) & 0xff) ^ ((r << 8) & mask); i += 1 }
    r
  }
  def apply(b: Array[Byte], from: Int, until: Int): Int = update(0, b, from, until)
}

object Crc {
  val flac8 = new Crc(8, 0x07)
  val flac16 = new Crc(16, 0x8005)
  /** Ogg pages (RFC 3533), taken with the page's CRC field zeroed. */
  val ogg = new Crc(32, 0x04C11DB7)
}
