package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ByteCursor, ByteSink}

/** The one fixed-width field reader and its writer: both byte orders,
  * positional reads, slices as bounded views, and the one out-of-range
  * error. */
class ByteCursorSpec extends AnyFunSuite {

  private val bytes = Array(0x01, 0x02, 0x03, 0x04, 0x05, 0x06, 0x07, 0x88).map(_.toByte)

  test("every width reads in both byte orders; u32 widens, i32 keeps the sign") {
    val c = ByteCursor(bytes)
    assert(c.u8(7) == 0x88)
    assert(c.u16le(0) == 0x0201 && c.u16be(0) == 0x0102)
    assert(c.u24le(1) == 0x040302 && c.u24be(1) == 0x020304)
    assert(c.i32le(4) == 0x88070605 && c.i32be(4) == 0x05060788)
    assert(c.u32le(4) == 0x88070605L && c.i32le(4) < 0)
    assert(c.u64le(0) == 0x8807060504030201L && c.u64be(0) == 0x0102030405060788L)
  }

  test("positional reads advance; seek and skip move within the view") {
    val c = ByteCursor(bytes)
    assert(c.u16be() == 0x0102 && c.u8() == 0x03 && c.position == 3)
    c.skip(1)
    assert(c.u32be() == 0x05060788L && c.position == c.length)
    c.seek(0)
    assert(c.u64le() == 0x8807060504030201L)
    assert(intercept[IllegalArgumentException](c.u8()).getMessage.contains("out of bounds"))
  }

  test("a slice is a view: offsets start at its start and reads stop at its end") {
    val whole = bytes.clone()
    val s = ByteCursor(whole).slice(2, 4)
    assert(s.length == 4 && s.u32be(0) == 0x03040506L)
    whole(2) = 0x7f
    assert(s.u8(0) == 0x7f) // same array, no copy
    val e = intercept[IllegalArgumentException](s.u16le(3))
    assert(e.getMessage == "2-byte field at 3 out of bounds of 4 bytes", e.getMessage)
    intercept[IllegalArgumentException](ByteCursor(bytes).slice(6, 3))
  }

  test("an out-of-range field names its width and offset in either byte order") {
    val c = ByteCursor(bytes)
    for (read <- Seq[Int => Any](c.u32le, c.u32be, c.u64le, c.u64be);
         at <- Seq(-1, 5, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](read(at))
      assert(e.getMessage.contains("out of bounds") && e.getMessage.contains(s"at $at"), e.getMessage)
    }
    assert(intercept[IllegalArgumentException](c.string(6, -1, java.nio.charset.StandardCharsets.UTF_8))
      .getMessage.contains("-1-byte field at 6"))
  }

  test("the sink writes what the cursor reads, each value cut to its width") {
    val out = new ByteSink()
    out.u16le(0x1234); out.u16be(0x1234); out.u24le(0x123456); out.u24be(0x123456)
    out.u32le(0x89abcdefL); out.u32be(-1); out.u16le(0x12345)
    val c = ByteCursor(out.toByteArray)
    assert(c.length == 20)
    assert(c.u16le() == 0x1234 && c.u16be() == 0x1234)
    assert(c.u24le() == 0x123456 && c.u24be() == 0x123456)
    assert(c.u32le() == 0x89abcdefL && c.u32be() == 0xffffffffL && c.u16le() == 0x2345)
  }
}
