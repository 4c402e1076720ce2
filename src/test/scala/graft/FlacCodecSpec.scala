package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{AudioConvert, FlacCodec, MediaCodecs}
import graft.multimodal.AudioConvert.AudioBuf
import graft.util.{Crc, MsbWriter}

class FlacCodecSpec extends AnyFunSuite {

  private def lcgSamples(n: Int, seed: Int, bits: Int): Array[Int] = {
    var s = seed * 2654435761L + 1
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val v = (s >>> 33).toInt
      if (bits == 8) (v % 256) - 128 else (v % 65536) - 32768
    }
  }

  /** Build a complete one-frame 16-bit/8kHz FLAC stream by hand (zeroed
    * MD5, so decode is checked against hand-derived samples alone) — the
    * foreign-shape vector scaffolding shared by the conformance tests. */
  private def handStream(channels: Int, total: Int, chAssign: Int,
                         blockSize: Int)(
      subframes: MsbWriter => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("ISO-8859-1"))
    val si = new MsbWriter
    si.put(16, 16); si.put(16, 16); si.put(0, 24); si.put(0, 24)
    si.put(8000, 20); si.put(channels - 1, 3); si.put(15, 5); si.put(total, 36)
    val sib = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    out.write(sib, 0, sib.length)
    out.write(new Array[Byte](16), 0, 16)
    val w = new MsbWriter
    w.put(0x3ffe, 14); w.put(0, 1); w.put(0, 1)
    w.put(6, 4)                 // blocksize: 8-bit value at end of header
    w.put(0, 4)                 // rate from STREAMINFO
    w.put(chAssign, 4)
    w.put(4, 3); w.put(0, 1)    // 16-bit
    w.put(0, 8)                 // UTF-8 frame number 0
    w.put(blockSize - 1, 8)
    val head = w.toBytes
    val frame = new MsbWriter
    for (b <- head) frame.put(b & 0xff, 8)
    frame.put(Crc.flac8(head, 0, head.length), 8)
    subframes(frame)
    frame.alignByte()
    val body = frame.toBytes
    out.write(body, 0, body.length)
    val c16 = Crc.flac16(body, 0, body.length)
    out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
    out.toByteArray
  }

  test("stream header bytes match the spec layout, not just our own reader") {
    // 1 channel, 8000 Hz, 16-bit, 20 samples of a ramp. Hand-derived:
    // "fLaC"; STREAMINFO header 0x80 (last) 0x000022 (34); min=max
    // blocksize 20 -> 0x0014 0x0014; frame sizes unknown -> six zero
    // bytes; then rate(20)|ch-1(3)|bps-1(5)|total(36) packed big-endian:
    // 8000<<44 | 0<<41 | 15<<36 | 20 = 0x01F400F000000014.
    val buf = AudioBuf(1, 8000, 16, Array.tabulate(20)(i => i * 3 - 30))
    val enc = FlacCodec.encode(buf)
    assert(new String(enc, 0, 4, "ISO-8859-1") == "fLaC")
    assert((enc(4) & 0xff) == 0x80 && enc(5) == 0 && enc(6) == 0 && enc(7) == 34)
    val expectHead = Array(0x00, 0x14, 0x00, 0x14, 0, 0, 0, 0, 0, 0,
      0x01, 0xf4, 0x00, 0xf0, 0x00, 0x00, 0x00, 0x14)
    for ((want, k) <- expectHead.zipWithIndex)
      assert((enc(8 + k) & 0xff) == want, s"STREAMINFO byte $k")
    // frame header: sync FF F8, blocksize-at-end + rate-from-streaminfo
    // 0x70, mono 16-bit 0x08, frame number 0, blocksize-1 = 19
    val at = 8 + 34 // STREAMINFO is the only block
    assert((enc(at) & 0xff) == 0xff && (enc(at + 1) & 0xff) == 0xf8)
    assert((enc(at + 2) & 0xff) == 0x70)
    assert((enc(at + 3) & 0xff) == 0x08)
    assert((enc(at + 4) & 0xff) == 0x00)
    assert((enc(at + 5) & 0xff) == 0x00 && (enc(at + 6) & 0xff) == 0x13)
    // parseFlac reads the same stream's metadata
    val meta = MediaCodecs.parseFlac(enc)
    assert(meta.sampleRate == 8000 && meta.channels == 1 &&
      meta.bitsPerSample == 16 && meta.totalSamples == 20L)
  }

  test("PCM round-trips sample-exactly at both depths, all levels") {
    for (bits <- Seq(8, 16); channels <- Seq(1, 2); level <- Seq(0, 1, 5)) {
      val src = lcgSamples(300 * channels, bits * 7 + channels + level, bits)
      val buf = AudioBuf(channels, 44100, bits, src)
      val back = FlacCodec.decodeSamples(FlacCodec.encode(buf, level))
      assert(back.samples.toSeq == src.toSeq, s"bits=$bits ch=$channels lvl=$level")
      assert(back.channels == channels && back.frameRate == 44100 && back.bits == bits)
    }
  }

  test("multi-frame streams cross the 4096 block boundary exactly") {
    // a smooth ramp (fixed predictors win) + noise tail, 2.5 blocks long
    val n = 4096 * 2 + 2048
    val src = Array.tabulate(n)(i => ((i % 600) - 300) + (i % 7))
    val buf = AudioBuf(1, 16000, 16, src)
    val enc = FlacCodec.encode(buf)
    val back = FlacCodec.decodeSamples(enc)
    assert(back.samples.toSeq == src.toSeq)
    assert(MediaCodecs.parseFlac(enc).totalSamples == n.toLong)
    // smooth content must actually compress (predictors + rice < verbatim)
    assert(enc.length < n * 2, s"${enc.length} !< ${n * 2}")
  }

  test("level maps to predictor depth: higher level never encodes larger") {
    val src = Array.tabulate(3000)(i => (i * i / 64) % 2000 - 1000) // quadratic: order 2+ wins
    val buf = AudioBuf(1, 8000, 16, src)
    val sizes = Seq(0, 1, 2, 5).map(l => FlacCodec.encode(buf, l).length)
    assert(sizes == sizes.sorted.reverse, s"sizes not monotone: $sizes")
    assert(sizes.last < sizes.head, s"level 5 ${sizes.last} !< level 0 ${sizes.head}")
  }

  test("constant blocks become CONSTANT subframes (tiny streams)") {
    val buf = AudioBuf(2, 8000, 16, Array.fill(512)(1234))
    val enc = FlacCodec.encode(buf)
    // 256 frames/channel of a constant: the whole stream is header-dominated
    assert(enc.length < 120, s"constant stream is ${enc.length} bytes")
    assert(FlacCodec.decodeSamples(enc).samples.forall(_ == 1234))
  }

  test("tags round-trip through parseFlac's vorbis-comment reader") {
    val buf = AudioBuf(1, 22050, 16, lcgSamples(64, 3, 16))
    val enc = FlacCodec.encode(buf, 5, Seq("TITLE" -> "T1", "Artist" -> "A1"))
    val meta = MediaCodecs.parseFlac(enc)
    assert(meta.tags("title") == "T1" && meta.tags("artist") == "A1")
    assert(FlacCodec.decodeSamples(enc).samples.length == 64)
  }

  test("stereo decorrelation: correlated channels pick a side assignment") {
    // r = l + slowly-varying offset: the side channel is nearly silent, so
    // a decorrelated assignment must win the cost search and the stream
    // must be MUCH smaller than independent coding of two noise channels
    val n = 600
    val l = lcgSamples(n, 21, 16)
    val r = Array.tabulate(n)(i => math.max(-32768, math.min(32767, l(i) + i / 50)))
    val inter = new Array[Int](2 * n)
    for (i <- 0 until n) { inter(2 * i) = l(i); inter(2 * i + 1) = r(i) }
    val buf = AudioBuf(2, 44100, 16, inter)
    val enc = FlacCodec.encode(buf)
    // frame header byte 3 upper nibble = channel assignment (frame starts
    // right after the 42-byte fLaC + STREAMINFO prologue)
    val assign = (enc(42 + 3) & 0xff) >> 4
    assert(assign >= 8 && assign <= 10, s"expected decorrelated, got $assign")
    assert(FlacCodec.decodeSamples(enc).samples.toSeq == inter.toSeq)
    // independent noise keeps assignment 1 (two channels, code ch-1)
    val noise = AudioBuf(2, 44100, 16, lcgSamples(2 * n, 77, 16))
    val encN = FlacCodec.encode(noise)
    assert(((encN(42 + 3) & 0xff) >> 4) == 1, "noise must stay independent")
    assert(FlacCodec.decodeSamples(encN).samples.toSeq == noise.samples.toSeq)
    // and the correlated stream must actually be smaller
    assert(enc.length < encN.length * 3 / 4, s"${enc.length} vs ${encN.length}")
  }

  test("hand-packed decorrelated frames pin the reconstruction formulas") {
    // one VERBATIM frame per assignment over samples with ODD side values
    // (the mid-side LSB-recovery case) and negatives
    val l = Array(5, -7, 100, -32768)
    val r = Array(2, -4, 99, 32767)
    for (assign <- Seq(8, 9, 10)) {
      val side = Array.tabulate(4)(i => l(i) - r(i))
      val mid = Array.tabulate(4)(i => (l(i) + r(i)) >> 1)
      val flac = handStream(2, 4, assign, 4) { frame =>
        val (ch0, b0, ch1, b1) = assign match {
          case 8 => (l, 16, side, 17)
          case 9 => (side, 17, r, 16)
          case _ => (mid, 16, side, 17)
        }
        for ((chan, bits) <- Seq((ch0, b0), (ch1, b1))) {
          frame.put(0, 1); frame.put(1, 6); frame.put(0, 1) // VERBATIM
          for (v <- chan) frame.putSigned(v, bits)
        }
      }
      val got = FlacCodec.decodeSamples(flac)
      val want = (0 until 4).flatMap(i => Seq(l(i), r(i)))
      assert(got.samples.toSeq == want, s"assignment $assign")
    }
  }

  test("wasted-bits subframes decode: samples shifted back by the count") {
    // mono frame of 4 samples, all multiples of 4 (2 wasted bits), coded
    // VERBATIM at 14 bits with wasted=2 (flag 1, unary 1 -> one 0 then 1)
    val x = Array(4, -8, 1024, -32768)
    val flac = handStream(1, 4, 0, 4) { frame =>
      frame.put(0, 1); frame.put(1, 6)
      frame.put(1, 1) // wasted-bits flag
      frame.put(1, 2) // unary 1 (one 0 then the terminating 1) -> wasted = 2
      for (v <- x) frame.putSigned(v >> 2, 14)
    }
    assert(FlacCodec.decodeSamples(flac).samples.toSeq == x.toSeq)
  }

  test("hand-packed LPC subframe decodes via the in-stream predictor") {
    // order 2, coefficients [3, -2], shift 1: x(i) = ((3x(i-1) - 2x(i-2))
    // >> 1) + res(i). Warmup [10, 20], residuals [1, -1] ->
    // x2 = ((60-20)>>1)+1 = 21, x3 = ((63-40)>>1)-1 = 10.
    val flac = handStream(1, 4, 0, 4) { frame =>
      frame.put(0, 1); frame.put(33, 6); frame.put(0, 1) // LPC order 2
      frame.putSigned(10, 16); frame.putSigned(20, 16)   // warmup
      frame.put(3, 4)        // precision-1 = 3 -> 4-bit coefficients
      frame.putSigned(1, 5)  // shift 1
      frame.putSigned(3, 4); frame.putSigned(-2, 4)      // most recent first
      frame.put(0, 2); frame.put(0, 4); frame.put(0, 4)  // rice, 1 partition, k=0
      FlacCodec.putRice(frame, 1, 0); FlacCodec.putRice(frame, -1, 0)
    }
    assert(FlacCodec.decodeSamples(flac).samples.toSeq == Seq(10, 20, 21, 10))
    // reserved subframe types stay named errors
    val bad = handStream(1, 4, 0, 4) { frame =>
      frame.put(0, 1); frame.put(2, 6); frame.put(0, 1)
    }
    assert(intercept[IllegalArgumentException](FlacCodec.decodeSamples(bad))
      .getMessage.contains("reserved subframe type"))
  }

  test("foreign frame shapes decode: 5-bit rice method, partitions, escape") {
    // Hand-packed stream exercising what OUR encoder never writes: residual
    // method 1 (5-bit params), partition order 1, and an escape partition
    // with raw 4-bit residuals. x = [5,7,8,10,9,7,4,0], fixed order 1 ->
    // residuals [2,1,2,-1,-2,-3,-4]; partition 0 (3 values) rice k=2,
    // partition 1 (4 values) escaped raw. MD5 zeroed (spec: unknown) so
    // the decode is checked against the hand-derived samples alone.
    val flac = handStream(1, 8, 0, 8) { frame =>
      frame.put(0, 1); frame.put(9, 6); frame.put(0, 1) // FIXED order 1
      frame.putSigned(5, 16)                            // warmup
      frame.put(1, 2)  // residual method 1: 5-bit params
      frame.put(1, 4)  // partition order 1 (2 partitions of 4)
      frame.put(2, 5)  // partition 0: rice k=2 (4-1=3 residuals)
      for (r <- Seq(2, 1, 2)) FlacCodec.putRice(frame, r, 2)
      frame.put(31, 5) // partition 1: escape
      frame.put(4, 5)  // raw width 4
      for (r <- Seq(-1, -2, -3, -4)) frame.putSigned(r, 4)
    }
    val got = FlacCodec.decodeSamples(flac)
    assert(got.samples.toSeq == Seq(5, 7, 8, 10, 9, 7, 4, 0))
    assert(got.frameRate == 8000 && got.channels == 1 && got.bits == 16)
  }

  test("sub-16-frame and empty clips stay spec-shaped") {
    // a 8-frame clip: STREAMINFO must still declare a >=16 blocksize (the
    // short frame is legal as the LAST frame; a sub-16 declared blocksize
    // is not), and the samples round-trip
    val tiny = AudioBuf(1, 8000, 16, Array(3, -4, 5, -6, 7, -8, 9, -10))
    val enc = FlacCodec.encode(tiny)
    assert(((enc(8) & 0xff) << 8 | (enc(9) & 0xff)) >= 16, "declared blocksize")
    assert(FlacCodec.decodeSamples(enc).samples.toSeq == tiny.samples.toSeq)
    // empty PCM: STREAMINFO-only stream, decodes to an empty clip (the
    // wav/aiff arms encode empty clips too — no arm asymmetry)
    val empty = FlacCodec.encode(AudioBuf(2, 44100, 16, Array.empty[Int]))
    val back = FlacCodec.decodeSamples(empty)
    assert(back.samples.isEmpty && back.channels == 2 && back.frameRate == 44100)
  }

  test("corrupt streams are named errors; the convert surface is wired") {
    val buf = AudioBuf(1, 8000, 16, lcgSamples(200, 11, 16))
    val enc = FlacCodec.encode(buf)
    // flip one bit deep in the entropy data -> CRC-16 (or rice structure)
    val bad = enc.clone()
    bad(bad.length - 8) = (bad(bad.length - 8) ^ 0x10).toByte
    val e = intercept[Exception](FlacCodec.decodeSamples(bad))
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("truncated") ||
      e.getMessage.contains("sync"), e.getMessage)
    // AudioConvert surface: flac encodes for real, wires into decodeSamples
    val viaSurface = AudioConvert.encode(buf, "flac")
    assert(AudioConvert.decodeSamples(viaSurface).samples.toSeq ==
      buf.samples.toSeq)
  }
}
