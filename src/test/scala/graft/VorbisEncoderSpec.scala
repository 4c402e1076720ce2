package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{AudioConvert, VorbisCodec, VorbisEncoder}
import graft.multimodal.AudioConvert.AudioBuf

/** [[VorbisEncoder]] end-to-end: encode must produce a spec-valid
  * Vorbis I stream that the full decoder accepts (Ogg CRC, packet
  * framing, setup parse, floor/residue decode) and whose decode
  * reproduces the input at the documented fidelity — EXACT frame
  * count (granule end-trim) and >= 20 dB SNR on tonal material
  * (the profile's contract; rate-distortion tuning is out of scope).
  *
  * Cross-language conformance: the three digests pinned in the
  * "python reference decoder agrees" test were produced by decoding
  * THIS encoder's output with scripts/vorbisref/decoder.py (the
  * independent Python mirror) — both decoders return byte-identical
  * int16 PCM for these streams, so the encoder's bit layouts are
  * pinned by two implementations, not one.
  */
class VorbisEncoderSpec extends AnyFunSuite {

  private def tone(n: Int, ch: Int, rate: Int): Array[Int] =
    graft.fixtures.MediaFixtures.tonePcm(n, ch, rate)

  private def snrDb(src: Array[Int], dec: Array[Int]): Double = {
    var es = 0.0
    var en = 0.0
    val n = math.min(src.length, dec.length)
    var i = 0
    while (i < n) {
      val s = src(i) / 32768.0
      val d = dec(i) / 32768.0
      es += s * s
      en += (s - d) * (s - d)
      i += 1
    }
    if (en == 0) 999.0 else if (es == 0) 0.0 else 10 * math.log10(es / en)
  }

  private def md5(samples: Array[Int]): String = {
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    java.security.MessageDigest.getInstance("MD5").digest(raw)
      .map(b => f"$b%02x").mkString
  }

  test("roundtrip: exact frame count, meta, and >=20 dB SNR on tones") {
    for ((ch, rate, n) <- Seq((1, 44100, 9000), (2, 48000, 5000),
      (1, 8000, 900), (2, 16000, 1024), (1, 11025, 1))) {
      val src = tone(n, ch, rate)
      val ogg = VorbisEncoder.encode(AudioBuf(ch, rate, 16, src))
      assert(VorbisCodec.isOggVorbis(ogg))
      val back = VorbisCodec.decodeSamples(ogg)
      assert(back.frames == n, s"ch=$ch rate=$rate")
      assert(back.channels == ch && back.frameRate == rate && back.bits == 16)
      if (n > 100)
        assert(snrDb(src, back.samples) >= 20.0,
          s"ch=$ch rate=$rate snr=${snrDb(src, back.samples)}")
    }
  }

  test("noise, silence, empty and 8-bit inputs survive the profile") {
    // deterministic LCG noise — the hardest case for a flat lattice
    var s = 12345L
    val noisy = Array.fill(5000) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 40) % 20000).toInt - 10000
    }
    val nb = VorbisCodec.decodeSamples(
      VorbisEncoder.encode(AudioBuf(1, 32000, 16, noisy)))
    assert(nb.frames == 5000 && snrDb(noisy, nb.samples) >= 15.0)
    // all-silent stream: silent floors, empty residue packets
    val silent = VorbisCodec.decodeSamples(
      VorbisEncoder.encode(AudioBuf(2, 22050, 16, new Array[Int](4000))))
    assert(silent.frames == 2000 && silent.samples.forall(_ == 0))
    // zero frames still emits a decodable 4-packet stream
    val empty = VorbisCodec.decodeSamples(
      VorbisEncoder.encode(AudioBuf(1, 22050, 16, Array.empty[Int])))
    assert(empty.frames == 0)
    // 8-bit input scales by 1/128 and comes back 16-bit
    val small = tone(800, 1, 8000).map(v => v / 256)
    val sb = VorbisCodec.decodeSamples(
      VorbisEncoder.encode(AudioBuf(1, 8000, 8, small)))
    assert(sb.frames == 800 && sb.bits == 16)
    assert(snrDb(small.map(_ * 256), sb.samples) >= 15.0)
  }

  test("python reference decoder agrees byte-for-byte (pinned digests)") {
    // digests produced by scripts/vorbisref/decoder.py over THIS
    // encoder's streams (dev-time cross-check, 2026-08-20): the Scala
    // decode of the Scala encode must match the independent decoder
    for ((ch, rate, n, want) <- Seq(
      (1, 44100, 9000, "ff459ecb546260f21f5dcb475e6f9840"),
      (2, 48000, 5000, "a95bbc5bf7383b90c43e8001230d85a5"),
      (1, 8000, 900, "83f69a403870b873f7ddcf6603411b80"))) {
      val ogg = VorbisEncoder.encode(AudioBuf(ch, rate, 16, tone(n, ch, rate)))
      assert(md5(VorbisCodec.decodeSamples(ogg).samples) == want,
        s"ch=$ch rate=$rate")
    }
  }

  test("encode is deterministic and rides the convert/merge surface") {
    val src = tone(3000, 2, 44100)
    val a = VorbisEncoder.encode(AudioBuf(2, 44100, 16, src))
    val b = VorbisEncoder.encode(AudioBuf(2, 44100, 16, src))
    assert(java.util.Arrays.equals(a, b))
    // convert: wav in -> ogg out with an effect, re-decodable
    val wav = AudioConvert.encode(AudioBuf(2, 44100, 16, src), "wav")
    val res = AudioConvert.convert(wav, "ogg", speed = 2)
    val back = AudioConvert.decodeSamples(res.output)
    assert(back.frames == 1500 && back.channels == 2)
    // merge: ogg segments concatenate and re-export as ogg
    val seg = AudioConvert.encode(AudioBuf(1, 8000, 16, tone(800, 1, 8000)), "ogg")
    val merged = AudioConvert.mergeAudio(Seq(seg, seg), "ogg")
    assert(AudioConvert.decodeSamples(merged.output).frames == 1600)
    // vendor string of the emitted comment header: packet type 3, "vorbis",
    // u32le vendor length, vendor bytes
    val at = a.indexOfSlice(3.toByte +: "vorbis".getBytes("US-ASCII"))
    assert(at > 0)
    val vendorLen = java.nio.ByteBuffer.wrap(a, at + 7, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(new String(a, at + 11, vendorLen, "UTF-8") == "graft vorbis encoder")
  }

  test("named errors: bad channel count, rate, and the sample cap") {
    val e1 = intercept[IllegalArgumentException](
      VorbisEncoder.encode(AudioBuf(0, 8000, 16, Array.empty[Int])))
    assert(e1.getMessage.contains("channels"))
    val e2 = intercept[IllegalArgumentException](
      VorbisEncoder.encode(AudioBuf(1, 0, 16, Array.empty[Int])))
    assert(e2.getMessage.contains("frame rate"))
    val e4 = intercept[IllegalArgumentException](
      VorbisEncoder.encode(AudioBuf(1, 8000, 24, Array.empty[Int])))
    assert(e4.getMessage.contains("24-bit"))
    // the remaining lossy targets still fail named
    val e3 = intercept[IllegalArgumentException](
      AudioConvert.encode(AudioBuf(1, 8000, 16, new Array[Int](10)), "mp3"))
    assert(e3.getMessage.contains("mp3"))
  }
}
