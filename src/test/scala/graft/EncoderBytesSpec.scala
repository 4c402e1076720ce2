package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.MediaFixtures
import graft.multimodal.{FlacCodec, ImageConvert, VorbisEncoder, WebpCodec}
import graft.multimodal.AudioConvert.AudioBuf
import graft.multimodal.MediaCodecs.PixelBuf

/** Byte pins for the bit-packing encoders. The codec specs check decode
  * round-trips, which a change to bit order or padding on BOTH sides
  * would survive; these MD5s pin the exact bytes each encoder emits for
  * fixed inputs, so a refactor of the shared bit writers must reproduce
  * the output bit for bit. */
class EncoderBytesSpec extends AnyFunSuite {

  private def md5(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** Deterministic LCG bytes drawn from an alphabet of `symbols` values
    * (small alphabets compress, large ones fill the LZW table). */
  private def lcgBytes(n: Int, seed: Int, symbols: Int): Array[Byte] = {
    var s = seed * 2654435761L + 1
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) % symbols).toByte
    }
  }

  private def image(mode: String, w: Int, h: Int, seed: Int): PixelBuf = {
    val buf = new PixelBuf
    buf.init(mode, w, h)
    val src = lcgBytes(buf.data.length, seed, 256)
    var i = 0
    while (i < src.length) { buf.data(i) = ((src(i) & 0x0f) + (i % 97)).toByte; i += 1 }
    buf
  }

  private def tone(frames: Int, ch: Int, rate: Int, bits: Int): AudioBuf = {
    val pcm = MediaFixtures.tonePcm(frames, ch, rate)
    AudioBuf(ch, rate, bits, if (bits == 8) pcm.map(_ >> 8) else pcm)
  }

  test("VorbisEncoder.encode bytes are pinned") {
    assert(md5(VorbisEncoder.encode(tone(3000, 1, 8000, 16))) == "40ac3dede7b926244fe6c241d1f8bf95")
    assert(md5(VorbisEncoder.encode(tone(2500, 2, 11025, 8))) == "0e2edf6aef3878ae0348d470fca49d93")
    assert(md5(VorbisEncoder.encode(tone(100, 1, 8000, 16))) == "7c36af8a0d0f1bcf6419f7985e970479")
  }

  test("FlacCodec.encode bytes are pinned") {
    assert(md5(FlacCodec.encode(tone(9000, 2, 8000, 16))) == "252016e3112f3cd39eadf7e053ebb787")
    assert(md5(FlacCodec.encode(tone(5000, 1, 8000, 8), level = 0)) == "aacbdbf82642dc92378558f465320640")
    assert(md5(FlacCodec.encode(tone(700, 2, 22050, 16), level = 2,
      tags = Seq("title" -> "pin", "artist" -> "graft"))) == "45d5da90a745f5cb84ec3bdf38f22ec0")
  }

  test("WebpCodec.encode bytes are pinned") {
    assert(md5(WebpCodec.encode(image("RGB", 17, 9, 1))) == "6ff1c6a7baa451caeeeb81aa1ca75679")
    assert(md5(WebpCodec.encode(image("RGBA", 8, 8, 2))) == "6cae660d3a91d159b8e28281d043cb66")
  }

  test("gif and tiff LZW encoder bytes are pinned") {
    // 20k draws from 200 symbols overflow the 4096-entry table (Clear)
    val wide = lcgBytes(20000, 3, 200)
    val narrow = lcgBytes(6000, 4, 3)
    assert(md5(ImageConvert.gifLzwEncode(wide)) == "1e37b29914ca0ccdb13a1bd34556cd73")
    assert(md5(ImageConvert.gifLzwEncode(narrow)) == "e735e8ad6afaaee10e55b4669d6e0a2a")
    assert(md5(MediaFixtures.tiffLzwEncode(wide)) == "f63f9d406f86c96e7e0a41bbd9e181c8")
    assert(md5(MediaFixtures.tiffLzwEncode(narrow)) == "6178b6f908046d6891dc88733f6c0f0c")
    assert(md5(MediaFixtures.tiffLzwEncode(Array.empty)) == "72e7d90db9de5a4dc2135d1b950101f1")
  }
}
