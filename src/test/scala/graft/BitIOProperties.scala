package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.util.{BitReader, BitWriter, LsbReader, LsbWriter, MsbReader, MsbWriter}

/** Round trips of the shared bit cursors: random (value, width) runs are
  * written, embedded mid-array between unrelated bytes, and read back over
  * exactly the written range. Widths cross byte boundaries at every
  * offset; MSB-first also covers the 33-57-bit long reads FLAC makes. One
  * bit past the range end must run the end-of-data action given at
  * construction, even though the array holds more bytes. */
object BitIOProperties extends Properties("bitio") {

  private final class EndOfData extends RuntimeException
  private val endOfData: () => Nothing = () => throw new EndOfData

  private def runs(maxWidth: Int): Gen[List[(Long, Int)]] =
    Gen.listOf(Gen.chooseNum(0, maxWidth).flatMap { w =>
      Gen.chooseNum(0L, (1L << w) - 1).map(v => (v, w))
    })
  private val filler: Gen[Array[Byte]] =
    Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))

  private def roundTrip(fields: List[(Long, Int)], pre: Array[Byte], post: Array[Byte],
                        w: BitWriter, reader: (Array[Byte], Int, Int) => BitReader): Prop = {
    fields.foreach { case (v, n) => w.put(v, n) }
    val body = w.toBytes
    val buf = pre ++ body ++ post
    val r = reader(buf, pre.length, pre.length + body.length)
    val back = fields.map { case (_, n) => if (n <= 32) r.read(n) & 0xffffffffL else r.readLong(n) }
    val bits = fields.map(_._2).sum
    val pad = body.length * 8 - bits
    val padZero = r.readLong(pad) == 0L
    val ended = try { r.bit(); false } catch { case _: EndOfData => true }
    (back == fields.map(_._1)) :| s"values $back" &&
      padZero :| "padding bits are zero" &&
      ended :| "one bit past the range runs the end-of-data action" &&
      (r.bitPos == (pre.length + body.length) * 8) :| "cursor rests at the range end"
  }

  property("MSB-first write/read round trip, widths 0-57, mid-array") =
    forAll(runs(57), filler, filler) { (fields, pre, post) =>
      roundTrip(fields, pre, post, new MsbWriter, new MsbReader(_, _, _, endOfData))
    }

  property("LSB-first write/read round trip, widths 0-32, mid-array") =
    forAll(runs(32), filler, filler) { (fields, pre, post) =>
      roundTrip(fields, pre, post, new LsbWriter, new LsbReader(_, _, _, endOfData))
    }

  property("putCode sends a prefix code MSB of the code first") =
    forAll(Gen.chooseNum(0, 32).flatMap(n => Gen.chooseNum(0L, (1L << n) - 1).map(c => (c.toInt, n)))) {
      case (code, n) =>
        val w = new LsbWriter
        w.putCode(code, n)
        val r = new LsbReader(w.toBytes, 0, (n + 7) / 8, endOfData)
        (n - 1 to 0 by -1).forall(i => r.bit() == ((code >>> i) & 1))
    }
}
