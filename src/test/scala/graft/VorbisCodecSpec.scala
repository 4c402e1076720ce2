package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{AudioConvert, MediaCodecs, VorbisCodec}

/** Pins [[VorbisCodec]] bit-exactly to the committed reference decodes.
  *
  * Every fixture in vorbis/manifest.tsv was produced by the dev-time
  * encoder (scripts/vorbisref/encoder.py) and decoded by the
  * from-scratch Python reference decoder (scripts/vorbisref/decoder.py);
  * the Scala decoder mirrors it op for op over the shared float tables
  * in vorbis/vorbistables.bin, so md5/sum/maxabs of the int16 PCM must
  * match EXACTLY — any drift in Ogg framing, codeword assignment, VQ,
  * floor-1 math, residue accumulation, coupling, IMDCT, windowing or
  * lapping flips the digest. The manifest's snr_db column (22-32 dB vs
  * the source signals) is the end-to-end transform validation recorded
  * at generation time.
  */
class VorbisCodecSpec extends AnyFunSuite {

  private case class Row(name: String, rate: Int, ch: Int, frames: Int,
                         md5: String, sum: Long, maxabs: Int)

  private lazy val manifest: Seq[Row] = {
    val in = getClass.getResourceAsStream("/vorbis/manifest.tsv")
    require(in != null, "vorbis/manifest.tsv missing")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    in.close()
    lines.drop(1).map { l =>
      val f = l.split('\t')
      Row(f(0), f(1).toInt, f(2).toInt, f(3).toInt, f(4), f(5).toLong,
        f(6).toInt)
    }
  }

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/vorbis/$name.ogg")
    require(in != null, s"fixture $name missing")
    val b = in.readAllBytes(); in.close(); b
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"$x%02x").mkString

  test("all manifest fixtures decode bit-exactly to the pinned PCM") {
    assert(manifest.size == 12)
    manifest.foreach { row =>
      val buf = VorbisCodec.decodeSamples(resource(row.name))
      assert(buf.frameRate == row.rate, row.name)
      assert(buf.channels == row.ch, row.name)
      assert(buf.frames == row.frames, row.name)
      val raw = new Array[Byte](buf.samples.length * 2)
      var i = 0
      while (i < buf.samples.length) {
        raw(2 * i) = (buf.samples(i) & 0xFF).toByte
        raw(2 * i + 1) = ((buf.samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      assert(md5hex(raw) == row.md5, s"${row.name}: PCM digest drift")
      assert(buf.samples.map(_.toLong).sum == row.sum, row.name)
      assert(buf.samples.map(v => math.abs(v)).max == row.maxabs, row.name)
    }
  }

  test("ogg-vorbis rides the AudioConvert surface end to end") {
    val ogg = resource("v_stereo_coupled")
    assert(VorbisCodec.isOggVorbis(ogg))
    val buf = AudioConvert.decodeSamples(ogg)
    assert(buf.channels == 2 && buf.frameRate == 48000)
    // decode -> effects -> wav encode -> re-decode closes the loop
    val gained = AudioConvert.gainDb(buf, -6.0)
    val wav = AudioConvert.encode(gained, "wav")
    val back = AudioConvert.decodeSamples(wav)
    assert(back.frames == buf.frames)
    assert(back.channels == 2)
  }

  test("header metadata parses without audio decode") {
    // the comment packet spans Ogg pages: 200 entries of LYRICS%03d=la*190
    val meta = MediaCodecs.parseOggVorbis(resource("v_longcomment"))
    assert(meta.channels == 1 && meta.sampleRate == 8000)
    assert(meta.tags.size == 200)
    assert(meta.tags.keySet == (0 until 200).map(i => f"lyrics$i%03d").toSet)
    assert(meta.tags.values.forall(_ == "la" * 190))
  }

  test("floor type 0 and malformed streams are named errors") {
    val ogg = resource("v_mono_long")
    // flip a CRC byte -> named ogg error
    val bad = ogg.clone()
    bad(22) = (bad(22) ^ 0x5A).toByte
    val e1 = intercept[IllegalArgumentException](
      VorbisCodec.decodeSamples(bad))
    assert(e1.getMessage.contains("CRC"))
    val e2 = intercept[IllegalArgumentException](
      VorbisCodec.decodeSamples("OggSnope".getBytes ++ new Array[Byte](30)))
    assert(e2.getMessage.contains("vorbis"))
  }
}
