package graft

import java.nio.charset.StandardCharsets

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.dedup.Dedup
import graft.extract.Extractor
import graft.extract.html.Charsets
import graft.fixtures.Corpus
import graft.functions.DocFunctions
import graft.model.WebPage
import graft.pipeline.ResumableRunner
import graft.textops.TextAnalysis

/** Generative properties (SURVEY §5.2.3): the golden-fixture matrix covers
  * pinned inputs; these cover the same kernels under arbitrary content from
  * the documents-table contract (single-spaced word text) and arbitrary
  * bytes. Pure-JVM kernels only — no Spark session, so the 100-case default
  * per property stays fast. */
object KernelProperties extends Properties("kernels") {

  private val ts = new java.sql.Timestamp(0)

  private val word: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
  private val text: Gen[String] =
    Gen.chooseNum(1, 150).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
  private val docId: Gen[Long] = Gen.chooseNum(0L, 1000000L)

  property("corpus roundtrip: any word text x any template/encoding/pdf variant extracts byte-identically") =
    forAll(docId, text) { (id, t) =>
      val page = Corpus.buildPage(Corpus.Doc(id, t, "en", s"src${id % 20}", t.length.toLong), skewHost = false)
      val r = Extractor.extractOne(page, 0)
      r.success && r.text == page.text
    }

  property("docx writer/extractor roundtrip over arbitrary paragraphs x all variants") = {
    val paragraphs = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, text))
    val variant = Gen.chooseNum(0, graft.serialize.DocxWriter.numVariants - 1)
    forAll(paragraphs, variant) { (ps, v) =>
      val bytes = graft.serialize.DocxWriter.generate(ps, v)
      graft.extract.docx.DocxExtractor.extract(bytes) == ps.mkString("\n")
    }
  }

  property("pub writer/extractor roundtrip over unicode paragraphs x all variants") = {
    // the Quill TEXT chunk is UTF-16LE: stress BMP letters, CJK, accents,
    // and supplementary-plane chars (surrogate pairs); \r is the paragraph
    // mark so the generator excludes control chars by construction
    val uchar: Gen[String] = Gen.frequency(
      8 -> Gen.alphaLowerChar.map(_.toString),
      1 -> Gen.oneOf("é", "ß", "日", "語", "р", "у", "😀", "𝒳"),
      1 -> Gen.const(" "))
    val utext: Gen[String] =
      Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, uchar).map(_.mkString))
        .map(s => if (s.isBlank) "x" else s)
    val paragraphs = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, utext))
    val variant = Gen.chooseNum(0, graft.serialize.LegacyOfficeWriters.PubWriter.numVariants - 1)
    forAll(paragraphs, variant) { (ps, v) =>
      val bytes = graft.serialize.LegacyOfficeWriters.PubWriter.generate(ps, v)
      graft.extract.cfb.PubExtractor.extract(bytes) == ps.mkString("\n")
    }
  }

  property("extraction is total on arbitrary bytes (never throws, always a row)") = {
    val raw = Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
    val payload = Gen.oneOf(
      raw,
      raw.map("%PDF-".getBytes(StandardCharsets.ISO_8859_1) ++ _),
      raw.map(Array[Byte]('P', 'K', 3, 4) ++ _),
      raw.map("<html><body>".getBytes(StandardCharsets.UTF_8) ++ _))
    forAll(payload) { bytes =>
      val r = Extractor.extractOne(WebPage("u", ts, bytes, "", "en"), 0)
      r != null && (r.success || r.error.nonEmpty)
    }
  }

  property("charset decode is total on arbitrary bytes") =
    forAll(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))) { bytes =>
      Charsets.decode(bytes) != null
    }

  property("charset decode equals the strict-decoder reference on mixed valid/malformed UTF-8 under any meta") = {
    val piece = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.getBytes(StandardCharsets.UTF_8)),
      Gen.choose(0, 0x10ffff).filter(Character.isValidCodePoint)
        .map(cp => new String(Character.toChars(cp)).getBytes(StandardCharsets.UTF_8)),
      Gen.const("\ufffd".getBytes(StandardCharsets.UTF_8)),
      Gen.containerOfN[Array, Byte](3, Gen.choose(Byte.MinValue, Byte.MaxValue)))
    val meta = Gen.oneOf("", "<meta charset=utf-8>", "<meta charset=us-ascii>",
      "<meta charset=\"iso-8859-1\">", "<meta charset=windows-1252>", "<meta charset=utf-16>",
      "<meta charset=shift_jis>", "<meta charset=nope>")
    val payload = for {
      bom <- Gen.oneOf(Array.emptyByteArray, Array(0xef, 0xbb, 0xbf).map(_.toByte))
      m <- meta
      body <- Gen.listOf(piece)
    } yield bom ++ m.getBytes(StandardCharsets.US_ASCII) ++ body.flatten
    forAll(payload)(bytes => Charsets.decode(bytes) == HtmlPathReference.decode(bytes))
  }

  property("utf8Length equals getBytes(UTF_8).length, lone surrogates included") = {
    // code units as Ints, so a falsifying case prints without encoding errors
    val unit = Gen.frequency(
      4 -> Gen.choose(0, 0x7f),
      2 -> Gen.choose(0, 0xffff),
      1 -> Gen.choose(0xd800, 0xdbff),
      1 -> Gen.choose(0xdc00, 0xdfff))
    forAll(Gen.listOf(unit)) { units =>
      val s = units.map(_.toChar).mkString
      Extractor.utf8Length(s) == s.getBytes(StandardCharsets.UTF_8).length
    }
  }

  property("manifest bucket is in range and platform-stable") =
    forAll(Gen.asciiPrintableStr, Gen.chooseNum(1, 512)) { (url, n) =>
      val b = ResumableRunner.bucketOf(url, n)
      b >= 0 && b < n && b == ResumableRunner.bucketOf(url, n)
    }

  property("identical texts collide on every minhash band; signatures are deterministic") =
    forAll(text) { t =>
      val sh = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
      val s1 = Dedup.bandHashes(Dedup.minhashSignature(sh))
      val s2 = Dedup.bandHashes(Dedup.minhashSignature(sh))
      s1.sameElements(s2)
    }

  property("simhash is deterministic; hamming(t,t) == 0") =
    forAll(text) { t =>
      java.lang.Long.bitCount(Dedup.simhash64(t) ^ Dedup.simhash64(t)) == 0
    }

  property("rolling fingerprint is monotone non-increasing under suffix append") =
    forAll(text, text) { (t, suffix) =>
      TextAnalysis.rollingFingerprint(t + " " + suffix) <= TextAnalysis.rollingFingerprint(t) ||
        t.split(' ').length < 8 // below one full window the min can move freely
    }

  property("valid UTF-8 never probes as binary") =
    forAll(Gen.asciiPrintableStr, text) { (a, b) =>
      !DocFunctions.isBinaryBytes((a + b).getBytes(StandardCharsets.UTF_8))
    }

  property("vorbis encode roundtrips any PCM at the exact frame count") = {
    // arbitrary frames (incl. 0 and non-multiples of the 1024 emit step),
    // channels 1-4, any rate, arbitrary int16 content: the stream must
    // decode — Ogg CRC, framing, setup, floor, residue all self-check in
    // VorbisCodec — to exactly `frames` frames with matching meta
    val pcmCase = for {
      frames <- Gen.chooseNum(0, 2600)
      ch <- Gen.chooseNum(1, 4)
      rate <- Gen.oneOf(8000, 11025, 16000, 22050, 44100, 96000)
      seed <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
    } yield (frames, ch, rate, seed)
    forAll(pcmCase) { case (frames, ch, rate, seed) =>
      val rnd = new scala.util.Random(seed)
      val pcm = Array.fill(frames * ch)(rnd.nextInt(65536) - 32768)
      val back = graft.multimodal.VorbisCodec.decodeSamples(
        graft.multimodal.VorbisEncoder.encode(
          graft.multimodal.AudioConvert.AudioBuf(ch, rate, 16, pcm)))
      back.frames == frames && back.channels == ch && back.frameRate == rate
    }
  }
}
