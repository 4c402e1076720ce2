package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{AudioConvert, VorbisCodec, VorbisEncoder}
import graft.util.{ByteCursor, Crc}

/** Ogg framing of the Vorbis encoder: the page CRC rule and header
  * packets that end exactly on a full page of lacing values. */
class VorbisPagingSpec extends AnyFunSuite {

  test("an encoded page's CRC is the Ogg CRC of the page with its CRC field zeroed") {
    val pcm = graft.fixtures.MediaFixtures.tonePcm(3000, 1, 8000)
    val ogg = VorbisEncoder.encode(AudioConvert.AudioBuf(1, 8000, 16, pcm))
    var pos = 0
    var pages = 0
    while (pos < ogg.length) {
      val nsegs = ogg(pos + 26) & 0xff
      var len = 27 + nsegs
      for (s <- 0 until nsegs) len += ogg(pos + 27 + s) & 0xff
      val page = java.util.Arrays.copyOfRange(ogg, pos, pos + len)
      val stored = ByteCursor(page).i32le(22)
      java.util.Arrays.fill(page, 22, 26, 0.toByte)
      assert(Crc.ogg(page, 0, page.length) == stored, s"page $pages")
      pos += len
      pages += 1
    }
    assert(pages >= 3)
  }

  // 64,800 bytes need 255 lacing values with a short last one; 64,770 =
  // 254 x 255 needs 254 full ones plus the zero terminator. Either way the
  // comment packet completes a full page and setup starts the next.
  for (commentLen <- Seq(64800, 64770))
    test(s"a $commentLen-byte comment that fills its page stays its own packet") {
      val ident = Array.tabulate[Byte](30)(i => i.toByte)
      val comment = Array.tabulate[Byte](commentLen)(i => (i * 7).toByte)
      val setup = Array.tabulate[Byte](300)(i => (i * 3).toByte)
      val audio = Array[Byte](1, 2, 3)
      val ogg = VorbisEncoder.paginate(ident, comment, setup, Seq(audio), Seq(0L))
      val (packets, _) = VorbisCodec.oggPackets(ogg)
      val given = Seq(ident, comment, setup, audio)
      assert(packets.map(_.length) == given.map(_.length))
      assert(packets.zip(given).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    }
}
