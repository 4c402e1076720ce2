package graft

import java.nio.charset.StandardCharsets

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}
import org.scalacheck.rng.Seed

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

  /** What a hostile payload must never surface as: a raw index (array,
    * string or collection), a negative size, or a memory blow-up. */
  private val forbidden = Seq("IndexOutOfBounds", "NegativeArraySize", "OutOfMemory")
  private def named(error: String): Boolean = !forbidden.exists(error.contains)

  /** A value for an overwritten length, offset or sector-id field: the
    * CFB special sector ids (-4 to -1), small ids and lengths, large and
    * arbitrary ones. */
  private val fieldValue: Gen[Int] = Gen.oneOf(Gen.chooseNum(-4, -1), Gen.chooseNum(0, 16),
    Gen.const(60 << 20), Gen.chooseNum(0, 1 << 16), Gen.chooseNum(Int.MinValue, Int.MaxValue))

  private def putI32le(m: Array[Byte], at: Int, v: Int): Unit =
    if (at >= 0 && at + 4 <= m.length)
      java.nio.ByteBuffer.wrap(m).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(at, v)

  /** `n` mutants of `d`: cut short, one byte flipped, or a 4-byte field
    * set by `overwrite(mutant, r, value)`, `r` a free non-negative draw. */
  private def mutants(d: Array[Byte], n: Int)(
      overwrite: (Array[Byte], Int, Int) => Unit): Gen[List[Array[Byte]]] =
    Gen.listOfN(n, for {
      how <- Gen.chooseNum(0, 2)
      r1 <- Gen.chooseNum(0, Int.MaxValue)
      r2 <- Gen.chooseNum(0, Int.MaxValue)
      value <- fieldValue
    } yield {
      val m = d.clone()
      how match {
        case 0 => m.take(r1 % (m.length + 1))
        case 1 =>
          m(r1 % m.length) = (m(r1 % m.length) ^ (1 + r2 % 255)).toByte
          m
        case _ =>
          overwrite(m, r1, value)
          m
      }
    })

  property("corpus roundtrip: any word text x any template/encoding/pdf variant extracts byte-identically") =
    forAll(docId, text) { (id, t) =>
      val page = Corpus.buildPage(Corpus.Doc(id, t, "en", s"src${id % 20}", t.length.toLong), skewHost = false)
      val r = Extractor.extractOne(page, 0)
      r.success && r.text == page.text
    }

  property("docx writer/extractor roundtrip over arbitrary paragraphs x all variants") = {
    // empty paragraphs included, leading ones too
    val paragraphs = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(4 -> text, 1 -> Gen.const(""))))
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

  property("zip mutants (cut, flipped header byte, overwritten size field) yield a row, never an index, size or memory error") = {
    import graft.serialize.{DocxWriter, EpubWriter, OdfWriter, PptxWriter, XlsxWriter}
    val seed = for {
      ps <- Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, text))
      v <- Gen.chooseNum(0, 3)
      doc <- Gen.oneOf[() => Array[Byte]](() => DocxWriter.generate(ps, v),
        () => PptxWriter.generate(ps, v), () => XlsxWriter.generate(ps, v),
        () => OdfWriter.generate("odt", ps, v), () => OdfWriter.generate("ods", ps, v),
        () => EpubWriter.generate(ps, v), () => EpubWriter.generate(ps, 4))
    } yield doc()
    // header signature -> offset of its first of two 4-byte size fields:
    // local header (sizes), central header (sizes), end record (directory
    // size and offset)
    val sizeField = Map(0x04034b50 -> 18, 0x02014b50 -> 20, 0x06054b50 -> 12)
    def headers(z: Array[Byte]): IndexedSeq[(Int, Int)] =
      (0 to z.length - 4).flatMap(i => sizeField.get(graft.util.ByteCursor(z).i32le(i)).map(i -> _))
    val mutant = for {
      z <- seed
      how <- Gen.chooseNum(0, 2)
      r1 <- Gen.chooseNum(0, Int.MaxValue)
      r2 <- Gen.chooseNum(0, Int.MaxValue)
      value <- Gen.oneOf(Gen.const(-1), Gen.const(0), Gen.const(60 << 20),
        Gen.chooseNum(0, 1 << 16), Gen.chooseNum(Int.MinValue, Int.MaxValue))
    } yield {
      val m = z.clone()
      val hs = headers(m)
      val (h, size) = hs(r1 % hs.length)
      how match {
        case 0 => m.take(r1 % (m.length + 1))
        case 1 =>
          val at = math.min(m.length - 1, h + r2 % 46)
          m(at) = (m(at) ^ (1 + r2 % 255)).toByte
          m
        case _ =>
          putI32le(m, h + size + 4 * (r2 % 2), value)
          m
      }
    }
    forAll(mutant) { bytes =>
      val r = Extractor.extractOne(WebPage("u", ts, bytes, "", "en"), 0)
      r != null && (r.success || r.error.nonEmpty) && named(r.error)
    }
  }

  property("cfb mutants (cut, flipped byte, overwritten header/FAT/directory field) yield a named row") = {
    import graft.serialize.LegacyOfficeWriters.{DocWriter, PptWriter, PubWriter, XlsWriter}
    val seed = for {
      ps <- Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, text))
      v <- Gen.chooseNum(0, 3)
      doc <- Gen.oneOf[() => Array[Byte]](() => DocWriter.generate(ps, v),
        () => XlsWriter.generate(ps, v), () => PptWriter.generate(ps, v),
        () => PubWriter.generate(ps, v % PubWriter.numVariants))
    } yield doc()
    // the 512-byte header, every FAT sector it lists and the first
    // directory sector ([MS-CFB] §2.2: sector s starts at (s + 1) * 512)
    def fieldSectors(d: Array[Byte]): IndexedSeq[Int] = {
      val c = graft.util.ByteCursor(d)
      val fat = (0 until c.i32le(44)).map(k => (c.i32le(76 + 4 * k) + 1) * 512)
      (0 +: fat :+ (c.i32le(48) + 1) * 512).filter(_ + 512 <= d.length)
    }
    val cfbMutants = seed.flatMap(d => mutants(d, 20) { (m, r, value) =>
      val sectors = fieldSectors(m)
      putI32le(m, sectors(r % sectors.length) + 4 * (r / sectors.length % 128), value)
    })
    def row(bytes: Array[Byte]): Prop = {
      val r = Extractor.extractOne(WebPage("u", ts, bytes, "", "en"), 0)
      Prop(r != null && (r.success || r.error.nonEmpty) && named(r.error)) :| s"$r"
    }
    forAllNoShrink(cfbMutants)(ms => Prop.all(ms.map(row): _*)).useSeed(Seed(0x0cfb))
  }

  property("media mutants decode, header-probe and parse to a value or a named IllegalArgument/IllegalState error") = {
    import graft.fixtures.MediaFixtures
    import graft.multimodal.MediaCodecs
    // each seed with the parse* that claims it (None: decodeImage alone)
    val seed = Gen.chooseNum(0, 3).flatMap { s =>
      Gen.oneOf[(Array[Byte], Option[Array[Byte] => Any])](
        (MediaFixtures.gif(5 + s, 4, s), None),
        (MediaFixtures.tiff(4, 3 + s, rgb = s % 2 == 0, bigEndian = s > 1, s), None),
        (MediaFixtures.webp(9, 7, s % 3), Some(MediaCodecs.parseWebp(_))),
        (MediaFixtures.webp(9, 7, 2, frames = 3), Some(MediaCodecs.parseWebp(_))),
        (MediaFixtures.ico(16, 12, 1 + s % 2, s), Some(MediaCodecs.parseIco(_))),
        (MediaFixtures.mp4(64, 48, 5000, 1000, v1 = s % 2 == 1, Seq("desc" -> "t")),
          Some(MediaCodecs.parseMp4(_))),
        (MediaFixtures.wav(1 + s % 2, 8000, 40, s), Some(MediaCodecs.parseWav(_))),
        (MediaFixtures.aiff(1 + s % 2, 8000, 40, s), Some(MediaCodecs.parseAiff(_))),
        (MediaFixtures.oggVorbis(2, 44100, 128000, Seq("TITLE" -> "x" * 300),
          splitComment = s % 2 == 1),
          Some(MediaCodecs.parseOggVorbis(_))),
        (MediaFixtures.mp3Id3(Seq("TIT2" -> "t", "TPE1" -> "a"), v24 = s % 2 == 0),
          Some(MediaCodecs.parseId3v2(_))))
    }
    // either byte order: the seeds mix little- and big-endian containers
    val mediaMutants = for {
      (d, parse) <- seed
      ms <- mutants(d, 10) { (m, r, value) =>
        putI32le(m, r % m.length, if (r / m.length % 2 == 0) value else Integer.reverseBytes(value))
      }
    } yield (ms, parse)
    def outcome(f: => Any): Prop =
      try { f; Prop.passed } catch {
        case e @ (_: IllegalArgumentException | _: IllegalStateException) =>
          Prop(named(e.toString)) :| e.toString
      }
    forAllNoShrink(mediaMutants) { case (ms, parse) =>
      Prop.all(ms.flatMap(m => Seq(outcome(MediaCodecs.decodeImage(m)),
        outcome(MediaCodecs.imageHeader(m))) ++ parse.map(p => outcome(p(m)))): _*)
    }.useSeed(Seed(0x3ed1a))
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
