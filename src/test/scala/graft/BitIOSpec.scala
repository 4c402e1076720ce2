package graft

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalatest.funsuite.AnyFunSuite

import graft.util.{BitReader, Crc, LsbWriter, MsbReader, MsbWriter}

/** Fixed cases for the shared bit I/O module; the round trips are
  * [[BitIOProperties]]. */
class BitIOSpec extends AnyFunSuite {

  private val check = "123456789".getBytes(US_ASCII)

  test("CRC known answers over ASCII 123456789") {
    assert(Crc.flac8(check, 0, check.length) == 0xF4)
    assert(Crc.flac16(check, 0, check.length) == 0xFEE8)
    assert(Crc.ogg(check, 0, check.length) == 0x89A1897F)
  }

  test("CRC update continues a running value across split ranges") {
    for (crc <- Seq(Crc.flac8, Crc.flac16, Crc.ogg); cut <- 0 to check.length)
      assert(crc.update(crc(check, 0, cut), check, cut, check.length) == crc(check, 0, check.length))
  }

  test("writers reject a value wider than its field, or a field over 57 bits") {
    for (w <- Seq(new MsbWriter, new LsbWriter)) {
      intercept[IllegalArgumentException](w.put(4, 2))
      intercept[IllegalArgumentException](w.put(1, 0))
      intercept[IllegalArgumentException](w.put(-1, 8))
      intercept[IllegalArgumentException](w.put(0, 58))
      intercept[IllegalArgumentException](w.put(0, -1))
    }
  }

  test("signed fields round-trip in two's complement") {
    val w = new MsbWriter
    for (v <- Seq(-1, 0, 5, -16, 15)) w.putSigned(v, 5)
    w.putSigned(Int.MinValue, 32)
    val bytes = w.toBytes
    val r = new MsbReader(bytes, 0, bytes.length, BitReader.requireFailed("short"))
    assert(Seq.fill(5)(r.readSigned(5)) == Seq(-1, 0, 5, -16, 15))
    assert(r.readSigned(32) == Int.MinValue)
  }

  test("requireFailed reads like a failed require") {
    val r = new MsbReader(Array[Byte](1), 0, 1, BitReader.requireFailed("bits ran out"))
    r.read(7)
    val e = intercept[IllegalArgumentException](r.read(2))
    assert(e.getMessage == "requirement failed: bits ran out")
    assert(r.bitPos == 8)
  }
}
