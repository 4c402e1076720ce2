package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.MediaFixtures
import graft.multimodal.{FlacCodec, ImageConvert, MediaCodecs, WebpCodec}
import graft.multimodal.AudioConvert.AudioBuf
import graft.multimodal.MediaCodecs.PixelBuf

/** A bit read past the end of a codec's data is that codec's own named
  * error: each decoder passes its end-of-data action to the shared bit
  * reader, and the message an error row carries must not change. */
class CodecTruncationSpec extends AnyFunSuite {

  private def failure(f: => Any): Throwable = intercept[Throwable](f)

  test("FLAC: a stream cut inside its last frame is 'FLAC stream truncated'") {
    val pcm = MediaFixtures.tonePcm(500, 1, 8000)
    val enc = FlacCodec.encode(AudioBuf(1, 8000, 16, pcm))
    val e = failure(FlacCodec.decodeSamples(enc.dropRight(1)))
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage == "requirement failed: FLAC stream truncated")
  }

  test("VP8L: a payload cut short of its pixels is 'VP8L stream truncated'") {
    val buf = new PixelBuf
    buf.init("RGB", 16, 16)
    for (i <- buf.data.indices) buf.data(i) = (i * 37).toByte
    val enc = WebpCodec.encode(buf)
    // keep the RIFF and VP8L chunk sizes honest so only the bits run out
    val cut = java.util.Arrays.copyOf(enc, 40)
    def le32(at: Int, v: Int): Unit =
      for (k <- 0 until 4) cut(at + k) = (v >>> (8 * k)).toByte
    le32(4, cut.length - 8)
    le32(16, cut.length - 20)
    val e = failure(WebpCodec.decode(cut, null))
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage == "requirement failed: VP8L stream truncated")
  }

  test("TIFF LZW: a strip without its EOI is 'TIFF LZW stream exhausted mid-code'") {
    val codes = MediaFixtures.tiffLzwEncode(Array.tabulate[Byte](300)(i => (i % 7).toByte))
    val e = failure(MediaCodecs.tiffLzwStrip(codes, 0, codes.length - 1, 1L << 20))
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage == "requirement failed: TIFF LZW stream exhausted mid-code")
  }

  test("GIF LZW: image data without its EOI is 'LZW stream exhausted mid-code'") {
    val lzw = ImageConvert.gifLzwEncode(Array.tabulate[Byte](64)(i => (i % 5).toByte))
    val data = lzw.dropRight(1)
    val gif = new java.io.ByteArrayOutputStream()
    gif.write("GIF89a".getBytes("US-ASCII"))
    gif.write(Array[Byte](8, 0, 8, 0, 0, 0, 0)) // 8x8 screen, no global table
    gif.write(Array[Byte](0x2c, 0, 0, 0, 0, 8, 0, 8, 0, 0)) // 8x8 frame
    gif.write(8) // LZW min code size
    gif.write(data.length); gif.write(data)
    gif.write(0); gif.write(0x3b)
    val e = failure(MediaCodecs.decodeGif(gif.toByteArray))
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage == "requirement failed: LZW stream exhausted mid-code")
  }
}
