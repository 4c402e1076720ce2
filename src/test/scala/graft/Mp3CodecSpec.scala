package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{AudioConvert, Mp3Codec}

/** Pins [[Mp3Codec]] bit-exactly to the committed reference decodes.
  *
  * Every fixture in mp3/manifest.tsv was produced by the dev-time encoder
  * (scripts/mp3ref/encoder.py) and decoded by the from-scratch Python
  * reference decoder (scripts/mp3ref/decoder.py); the Scala decoder mirrors
  * it op-for-op over shared bit-identical constants, so md5/sum/maxabs of
  * the int16 PCM must match EXACTLY — any drift in tables, bit parsing,
  * requantize, stereo, IMDCT or synthesis flips the digest. The
  * lame_silence fixture is a real third-party (LAME) bitstream exercising
  * framing, the bit reservoir and LSF side info on an encoder that shares
  * no code with this repo.
  */
class Mp3CodecSpec extends AnyFunSuite {

  private case class Row(name: String, sr: Int, ch: Int, samples: Int,
                         md5: String, sum: Long, maxabs: Int, snr: String)

  private lazy val manifest: Seq[Row] = {
    val in = getClass.getResourceAsStream("/mp3/manifest.tsv")
    require(in != null, "mp3/manifest.tsv missing")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    in.close()
    lines.drop(1).map { l =>
      val f = l.split('\t')
      Row(f(0), f(1).toInt, f(2).toInt, f(3).toInt, f(4), f(5).toLong,
        f(6).toInt, f(7))
    }
  }

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/mp3/$name.mp3")
    require(in != null, s"fixture $name missing")
    val b = in.readAllBytes(); in.close(); b
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"$x%02x").mkString

  test("all manifest fixtures decode bit-exactly to the pinned PCM") {
    assert(manifest.size == 13)
    manifest.foreach { row =>
      val buf = Mp3Codec.decodeSamples(resource(row.name), allowRepaired = true)
      assert(buf.frameRate == row.sr, row.name)
      assert(buf.channels == row.ch, row.name)
      assert(buf.frames == row.samples, row.name)
      assert(buf.bits == 16, row.name)
      val raw = new Array[Byte](buf.samples.length * 2)
      var i = 0
      while (i < buf.samples.length) {
        raw(2 * i) = (buf.samples(i) & 0xff).toByte
        raw(2 * i + 1) = ((buf.samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      assert(md5hex(raw) == row.md5, s"${row.name}: PCM digest mismatch")
      assert(buf.samples.map(_.toLong).sum == row.sum, row.name)
      assert(buf.samples.map(v => math.abs(v)).max == row.maxabs, row.name)
    }
  }

  test("the real LAME LSF stream decodes to digital silence without error") {
    val buf = Mp3Codec.decodeSamples(resource("lame_silence"))
    assert(buf.frameRate == 22050 && buf.channels == 1)
    assert(buf.frames == 45 * 576)
    assert(buf.samples.forall(_ == 0))
  }

  test("audio fixtures carry real signal (not silence, not clipping)") {
    manifest.filter(_.snr != "-").foreach { row =>
      assert(row.maxabs > 4000 && row.maxabs < 32768, row.name)
      assert(row.snr.toDouble > 30.0, s"${row.name}: encode->decode SNR ${row.snr}")
    }
  }

  test("mp3 input rides the convert surface end to end") {
    // the real third-party stream decodes through the STRICT user-facing
    // surface (LAME silence selects table 0 only)
    val silent = AudioConvert.decodeSamples(resource("lame_silence"))
    assert(silent.frameRate == 22050 && silent.frames == 45 * 576)
    // signal fixtures ride the same conversions via the permissive decode
    val buf = Mp3Codec.decodeSamples(resource("m1_mono_tones"), allowRepaired = true)
    assert(buf.frameRate == 44100 && buf.channels == 1)
    val wav = AudioConvert.encode(buf, "wav")
    val back = AudioConvert.decodeSamples(wav)
    assert(back.samples.sameElements(buf.samples))
    val flac = AudioConvert.encode(buf, "flac")
    val back2 = AudioConvert.decodeSamples(flac)
    assert(back2.samples.sameElements(buf.samples))
  }

  test("strict mode names the error when a repaired huffman table is selected") {
    // m1_escape_count1b forces tables 21/28 (both in repairedTables)
    val e = intercept[IllegalArgumentException](
      Mp3Codec.decodeSamples(resource("m1_escape_count1b")))
    assert(e.getMessage.contains("repairedTables"))
  }

  test("named errors: layer II, MPEG-2.5, free format") {
    // layer II header: sync + MPEG-1 + layer 10 + 192k + 44.1k
    val l2 = Array[Byte](0xff.toByte, 0xfd.toByte, 0xa0.toByte, 0x00) ++ new Array[Byte](600)
    val e1 = intercept[IllegalArgumentException](Mp3Codec.decodeChannels(l2))
    assert(e1.getMessage.contains("Layer III"))
    // MPEG-2.5: version bits 00
    val v25 = Array[Byte](0xff.toByte, 0xe2.toByte, 0x50, 0x00) ++ new Array[Byte](600)
    val e2 = intercept[IllegalArgumentException](Mp3Codec.decodeChannels(v25))
    assert(e2.getMessage.contains("MPEG-2.5"))
    // free-format: bitrate index 0
    val ff = Array[Byte](0xff.toByte, 0xfb.toByte, 0x00, 0x00) ++ new Array[Byte](600)
    val e3 = intercept[IllegalArgumentException](Mp3Codec.decodeChannels(ff))
    assert(e3.getMessage.contains("free-format"))
  }

  /** Overwrites `n` bits at MSB-first bit position `pos` with `v`. */
  private def setBits(b: Array[Byte], pos: Int, n: Int, v: Int): Unit =
    (0 until n).foreach { i =>
      val p = pos + i
      val mask = 0x80 >> (p & 7)
      b(p >> 3) = (if (((v >> (n - 1 - i)) & 1) == 1) b(p >> 3) | mask
        else b(p >> 3) & ~mask).toByte
    }

  test("a part2_3_length past the reservoir plus the frame is a named error") {
    // lame_silence: 32-byte ID3 tag, then a 208-byte 64 kbps LSF mono frame
    // whose side info (9 bytes, no CRC) leaves 195 bytes = 1560 main-data
    // bits and an empty reservoir. part2_3_length follows the 8-bit
    // main_data_begin and 1 private bit; flipping its top bit claims 2048.
    val lsf = resource("lame_silence")
    assert((lsf(32) & 0xff) == 0xff && lsf(36) == 0) // sync; main_data_begin 0
    lsf(37) = (lsf(37) ^ 0x40).toByte
    val e1 = intercept[IllegalArgumentException](Mp3Codec.decodeChannels(lsf))
    assert(e1.getMessage.startsWith("mp3: part2_3_length 2048 exceeds"), e1.getMessage)

    // m1_stereo_lr: 960-byte 320 kbps MPEG-1 stereo frames, 32 bytes of
    // side info, 924 main-data bytes = 7392 bits. Granule 0's two
    // part2_3_length fields (after 20 header bits, 59 bits apart) set to
    // 4095 push granule 1 past the array end, which ran off it unchecked.
    val st = resource("m1_stereo_lr")
    Seq(4 * 8 + 20, 4 * 8 + 20 + 59).foreach(setBits(st, _, 12, 4095))
    val e2 = intercept[IllegalArgumentException](
      Mp3Codec.decodeChannels(st, allowRepaired = true))
    assert(e2.getMessage.startsWith("mp3: part2_3_length 4095 exceeds"), e2.getMessage)
  }
}
