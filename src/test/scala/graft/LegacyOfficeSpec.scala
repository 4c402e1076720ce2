package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.extract.cfb.{CfbParser, DocExtractor, PptExtractor, XlsExtractor}
import graft.serialize.CfbWriter
import graft.serialize.LegacyOfficeWriters.{DocWriter, PptWriter, PubWriter, XlsWriter}

/** Legacy binary Office kernels (.doc/.xls/.ppt): CFB container round-trip
  * through both stream paths, piece-table / BIFF / record-tree extraction,
  * dispatch refinement, failure containment. */
class LegacyOfficeSpec extends AnyFunSuite {

  private val paras = Vector(
    "alpha bravo charlie delta echo foxtrot",
    "golf hotel india juliet kilo",
    "lima mike november oscar papa quebec romeo sierra")

  private def page(bytes: Array[Byte]) =
    graft.model.WebPage("u", new java.sql.Timestamp(0), bytes, "", "en")

  // ---- the CFB container itself --------------------------------------------

  test("cfb writer/parser round-trip: mini-stream AND regular-chain paths") {
    val small = "small stream content".getBytes
    val large = Array.tabulate(10000)(i => (i % 251).toByte) // >= 4096: regular FAT
    val empty = Array.emptyByteArray
    val bytes = CfbWriter.write(Seq("Small" -> small, "Large" -> large, "Empty" -> empty))
    val p = new CfbParser(bytes)
    assert(p.streamNames.toSet == Set("Small", "Large", "Empty"))
    assert(p.stream("Small").get.sameElements(small))
    assert(p.stream("Large").get.sameElements(large))
    assert(p.stream("Empty").get.isEmpty)
    assert(p.stream("Missing").isEmpty)
  }

  test("cfb v4 layout (4096-byte sectors) round-trips through both stream paths") {
    val small = "v4 small stream".getBytes
    val large = Array.tabulate(9000)(i => (i % 239).toByte)
    val bytes = CfbWriter.write(Seq("Small" -> small, "Large" -> large), sectorShift = 12)
    val p = new CfbParser(bytes)
    assert(p.stream("Small").get.sameElements(small))
    assert(p.stream("Large").get.sameElements(large))
  }

  test("doc inside a v4 container extracts identically") {
    // rebuild the v3 doc fixture's streams into a v4 container
    val v3 = DocWriter.generate(paras, 0)
    val p = new CfbParser(v3)
    val streams = p.streamNames.map(n => n -> p.stream(n).get)
    val v4 = CfbWriter.write(streams, sectorShift = 12)
    assert(Extractor.sniffFormat(v4) == "doc")
    assert(DocExtractor.extract(v4) == paras.mkString("\n"))
  }

  test("cfb parser rejects truncated containers instead of looping") {
    val full = CfbWriter.write(Seq("S" -> "data".getBytes))
    val truncated = full.take(600).toArray // header + partial FAT
    intercept[Exception] { new CfbParser(truncated).stream("S") }
  }

  // ---- .doc ----------------------------------------------------------------

  test("doc round-trips every variant with refined kind") {
    for (v <- 0 until DocWriter.numVariants) {
      val bytes = DocWriter.generate(paras, v)
      assert(Extractor.sniffFormat(bytes) == "doc", s"variant $v sniff")
      val r = Extractor.extractOne(page(bytes), 0)
      assert(r.success && r.format_from == "doc", s"variant $v: $r")
      assert(r.text == paras.mkString("\n"),
        s"variant $v:\n--- got ---\n${r.text}\n--- want ---\n${paras.mkString("\n")}")
    }
  }

  test("doc piece table: split pieces re-concatenate in CP order") {
    // variant 2 splits mid-text into a compressed + a unicode piece
    val odd = Vector("one two three four five", "six seven eight")
    assert(DocExtractor.extract(DocWriter.generate(odd, 2)) == odd.mkString("\n"))
  }

  test("doc with non-cp1252 characters falls back to unicode pieces") {
    val special = Vector("café déjà vu", "with 中文 characters")
    for (v <- 0 until DocWriter.numVariants) {
      assert(DocExtractor.extract(DocWriter.generate(special, v)) ==
        special.mkString("\n"), s"variant $v")
    }
  }

  // ---- .xls ----------------------------------------------------------------

  test("xls round-trips every variant against expectedText") {
    for (v <- 0 until XlsWriter.numVariants) {
      val bytes = XlsWriter.generate(paras, v)
      assert(Extractor.sniffFormat(bytes) == "xls", s"variant $v sniff")
      val r = Extractor.extractOne(page(bytes), 0)
      assert(r.success && r.format_from == "xls", s"variant $v: $r")
      assert(r.text == XlsWriter.expectedText(paras, v), s"variant $v")
    }
  }

  test("xls SST continues across records: wide strings, width change at boundary") {
    // variant 3 uses a 64-byte record cap, so these paragraphs straddle
    // several Continue records; mixing wide (CJK) and compressed strings
    // exercises the per-continuation option-flags byte
    val mixed = Vector(
      "a plain latin paragraph long enough to split across record boundaries",
      "中文内容也要跨越记录边界所以这里放了足够多的汉字字符来强制分段继续",
      "🎵🎶 surrogate pairs 𝄞𝄢𝄫 sprinkled through a long enough line 🎸🎷🎺 to land on several boundaries 🎻",
      "and back to latin after the wide ones")
    val bytes = XlsWriter.generate(mixed, 3)
    assert(XlsExtractor.extract(bytes) == XlsWriter.expectedText(mixed, 3))
  }

  test("xls NUMBER and RK records decode as numeric cells") {
    // hand-build a workbook with one LABELSST + NUMBER + RK cells in a row
    import java.nio.{ByteBuffer, ByteOrder}
    val out = new java.io.ByteArrayOutputStream()
    def rec(tpe: Int, body: Array[Byte]): Unit = {
      val h = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(tpe.toShort); h.putShort(body.length.toShort)
      out.write(h.array()); out.write(body)
    }
    rec(0x0809, new Array[Byte](16))
    val sst = ByteBuffer.allocate(8 + 3 + 2).order(ByteOrder.LITTLE_ENDIAN)
    sst.putInt(1).putInt(1).putShort(2).put(0.toByte).put("ab".getBytes)
    rec(0x00fc, sst.array())
    def cellHead(b: ByteBuffer, col: Int): Unit = {
      b.putShort(0); b.putShort(col.toShort); b.putShort(15)
    }
    val lbl = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
    cellHead(lbl, 0); lbl.putInt(0)
    rec(0x00fd, lbl.array())
    val num = ByteBuffer.allocate(14).order(ByteOrder.LITTLE_ENDIAN)
    cellHead(num, 1); num.putDouble(42.0)
    rec(0x0203, num.array())
    val rkRec = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
    cellHead(rkRec, 2); rkRec.putInt((1234 << 2) | 0x2) // fInt
    rec(0x027e, rkRec.array())
    val rk100 = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
    cellHead(rk100, 3); rk100.putInt((250 << 2) | 0x3) // fInt + fX100 -> 2.5
    rec(0x027e, rk100.array())
    rec(0x000a, Array.emptyByteArray)
    val bytes = CfbWriter.write(Seq("Workbook" -> out.toByteArray))
    assert(XlsExtractor.extract(bytes) == "ab\t42\t1234\t2.5")
  }

  test("xls SST survives an EMPTY Continue record before the character data resumes") {
    // A zero-length Continue body must be skipped entirely — reading its
    // (absent) flags byte would consume the NEXT record's header byte.
    import java.nio.{ByteBuffer, ByteOrder}
    val out = new java.io.ByteArrayOutputStream()
    def rec(tpe: Int, body: Array[Byte]): Unit = {
      val h = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(tpe.toShort); h.putShort(body.length.toShort)
      out.write(h.array()); out.write(body)
    }
    rec(0x0809, new Array[Byte](16)) // BOF
    // SST: one 6-char compressed string, 3 chars in the SST record itself
    val sst = ByteBuffer.allocate(4 + 4 + 2 + 1 + 3).order(ByteOrder.LITTLE_ENDIAN)
    sst.putInt(1).putInt(1).putShort(6).put(0.toByte).put("abc".getBytes)
    rec(0x00fc, sst.array())
    rec(0x003c, Array.emptyByteArray) // the EMPTY Continue
    rec(0x003c, Array[Byte](0) ++ "def".getBytes) // fresh flags byte + rest
    val lbl = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
    lbl.putShort(0); lbl.putShort(0); lbl.putShort(15); lbl.putInt(0)
    rec(0x00fd, lbl.array())
    rec(0x000a, Array.emptyByteArray) // EOF
    val bytes = CfbWriter.write(Seq("Workbook" -> out.toByteArray))
    assert(XlsExtractor.extract(bytes) === "abcdef")
  }

  test("doc corrupt PlcPcd fails NAMED: negative piece length and Int-overflow containment") {
    import java.nio.{ByteBuffer, ByteOrder}
    def docWith(cp0: Int, cp1: Int, fcRaw: Int): Array[Byte] = {
      val table = ByteBuffer.allocate(1 + 4 + 16).order(ByteOrder.LITTLE_ENDIAN)
      table.put(0x02.toByte).putInt(16) // Pcdt, lcbPlc: n=1 piece
      table.putInt(cp0).putInt(cp1)
      table.putShort(0); table.putInt(fcRaw); table.putShort(0) // one 8-byte PCD
      val word = new Array[Byte](512)
      val w = ByteBuffer.wrap(word).order(ByteOrder.LITTLE_ENDIAN)
      w.putShort(0, 0xa5ec.toShort)          // FIB magic
      w.putInt(0x1a2, 0)                     // fcClx
      w.putInt(0x1a6, table.capacity())      // lcbClx
      CfbWriter.write(Seq("WordDocument" -> word, "0Table" -> table.array()))
    }
    // cpEnd < cpStart: a crafted negative piece length must be the named error
    val e1 = intercept[IllegalArgumentException] {
      DocExtractor.extract(docWith(cp0 = 5, cp1 = 2, fcRaw = 0))
    }
    assert(e1.getMessage.contains("negative piece length"), e1.getMessage)
    // fc + 2*chars overflows Int (would wrap negative and PASS a 32-bit
    // containment check); the Long-math bound must reject it by name
    val e2 = intercept[IllegalArgumentException] {
      DocExtractor.extract(docWith(cp0 = 0, cp1 = 0x40000000, fcRaw = 0x3ffffff0))
    }
    assert(e2.getMessage.contains("unicode piece overruns WordDocument"), e2.getMessage)
  }

  // ---- .ppt ----------------------------------------------------------------

  test("ppt round-trips every variant (bytes + chars atoms, nested containers)") {
    for (v <- 0 until PptWriter.numVariants) {
      val bytes = PptWriter.generate(paras, v)
      assert(Extractor.sniffFormat(bytes) == "ppt", s"variant $v sniff")
      val r = Extractor.extractOne(page(bytes), 0)
      assert(r.success && r.format_from == "ppt", s"variant $v: $r")
      assert(r.text == paras.mkString("\n"), s"variant $v: ${r.text}")
    }
  }

  test("ppt with non-ascii survives the cp1252/UTF-16 atom split") {
    val special = Vector("café — “smart”", "中文 slide")
    for (v <- 0 until PptWriter.numVariants) {
      assert(PptExtractor.extract(PptWriter.generate(special, v)) ==
        special.mkString("\n"), s"variant $v")
    }
  }

  test("incrementally-saved ppt resolves the persist directory, never stale text") {
    val bytes = PptWriter.generate(paras, 4)
    // the stale pre-edit document IS present in the stream...
    val streamText = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(streamText.contains("STALE DRAFT"), "fixture must carry a stale copy")
    // ...but resolution from the newest UserEditAtom never surfaces it
    val got = PptExtractor.extract(bytes)
    assert(got == paras.mkString("\n"), got)
    assert(!got.contains("STALE"))
  }

  test("a present-but-malformed Current User stream is a failure row, not a fallback") {
    // re-pack a valid document stream with a garbage Current User stream:
    // silently stream-walking such a file could emit stale text on real
    // incremental saves, so the kernel must refuse
    val ppt = new graft.extract.cfb.CfbParser(PptWriter.generate(paras, 3))
      .stream("PowerPoint Document").get
    val bad = CfbWriter.write(Seq(
      "Current User" -> Array[Byte](1, 2, 3, 4),
      "PowerPoint Document" -> ppt))
    val r = Extractor.extractOne(page(bad), 0)
    assert(!r.success && r.error.nonEmpty, r.toString)
  }

  test("encrypted ppt headerToken is refused, never decoded as ciphertext text") {
    val full = PptWriter.generate(paras, 4)
    val cfb = new graft.extract.cfb.CfbParser(full)
    val cu = cfb.stream("Current User").get.clone()
    // headerToken lives at body offset 4 (stream offset 12): set the
    // [MS-PPT] encrypted marker 0xF3D1C4DF (little-endian)
    cu(12) = 0xdf.toByte; cu(13) = 0xc4.toByte; cu(14) = 0xd1.toByte; cu(15) = 0xf3.toByte
    val bad = CfbWriter.write(Seq(
      "Current User" -> cu,
      "PowerPoint Document" -> cfb.stream("PowerPoint Document").get))
    val r = Extractor.extractOne(page(bad), 0)
    assert(!r.success && r.error.contains("encrypted"), r.toString)
  }

  test("ppt nested 20,000 containers deep still yields its text, on both record walks") {
    val depth = 20000
    val text = "deep slide text"
    def rec(verInst: Int, tpe: Int, len: Int, body: Array[Byte] = Array.emptyByteArray) = {
      val b = java.nio.ByteBuffer.allocate(8 + body.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putShort(verInst.toShort).putShort(tpe.toShort).putInt(len).put(body).array()
    }
    val atom = rec(0, 0x0fa0, text.length * 2, text.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
    val doc = (0 until depth).toArray.flatMap(k => rec(0xf, 0x03e8, 8 * (depth - 1 - k) + atom.length)) ++ atom
    // stream order: no "Current User" stream
    val flat = Extractor.extractOne(page(CfbWriter.write(Seq("PowerPoint Document" -> doc))), 0)
    assert(flat.success && flat.format_from == "ppt" && flat.text == text, flat.copy(text = flat.text.take(80)))
    // persist directory {1 -> the document at offset 0}, then one UserEditAtom
    def le(ints: Int*) = {
      val b = java.nio.ByteBuffer.allocate(4 * ints.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ints.foreach(b.putInt); b.array()
    }
    val pd = rec(0, 0x1772, 8, le((1 << 20) | 1, 0))
    val edit = rec(0, 0x0ff5, 28, le(256, 0x03000000, 0, doc.length, 1, 2, 1))
    val currentUser = rec(0, 0x0ff6, 20, le(20, 0xe391c05f, doc.length + pd.length, 0x03f40000, 3))
    val persisted = Extractor.extractOne(page(CfbWriter.write(Seq(
      "Current User" -> currentUser, "PowerPoint Document" -> (doc ++ pd ++ edit)))), 0)
    assert(persisted.success && persisted.text == text, persisted.copy(text = persisted.text.take(80)))
  }

  // ---- containment ---------------------------------------------------------

  test("truncated legacy payloads become failure rows, never mojibake successes") {
    for (gen <- Seq(DocWriter.generate(paras, 0), XlsWriter.generate(paras, 0),
                    PptWriter.generate(paras, 0), PubWriter.generate(paras, 0))) {
      val r = Extractor.extractOne(page(gen.take(700).toArray), 0)
      assert(!r.success && r.error.nonEmpty, r.toString)
    }
  }

  // ---- Publisher (.pub): the Quill text store --------------------------------

  test("cfb writeTree: nested storages round-trip; path walk never crosses levels") {
    val bytes = CfbWriter.writeTree(Seq(
      CfbWriter.StreamNode("Top", "top data".getBytes),
      CfbWriter.StorageNode("Outer", Seq(
        CfbWriter.StreamNode("CONTENTS", "outer contents".getBytes),
        CfbWriter.StorageNode("Inner", Seq(
          CfbWriter.StreamNode("CONTENTS", Array.tabulate(8000)(i => (i % 97).toByte))))))))
    val p = new CfbParser(bytes)
    assert(p.stream("Top").get.sameElements("top data".getBytes))
    // same stream NAME at two levels: the path selects the right one
    assert(p.streamAtPath(Seq("Outer", "CONTENTS")).get.sameElements("outer contents".getBytes))
    val inner = p.streamAtPath(Seq("Outer", "Inner", "CONTENTS")).get
    assert(inner.length == 8000 && inner(3) == 3)
    // a nested stream is NOT visible at the top or wrong level
    assert(p.stream("CONTENTS").isEmpty)
    assert(p.streamAtPath(Seq("Inner", "CONTENTS")).isEmpty)
    assert(p.streamAtPath(Seq("Outer", "Missing", "CONTENTS")).isEmpty)
  }

  test("pub round-trips every variant with refined kind") {
    for (v <- 0 until PubWriter.numVariants) {
      val bytes = PubWriter.generate(paras, v)
      assert(Extractor.sniffFormat(bytes) == "pub", s"variant $v")
      val r = Extractor.extractOne(page(bytes), 0)
      assert(r.success && r.format_from == "pub", s"variant $v: $r")
      assert(r.text == paras.mkString("\n"), s"variant $v")
    }
  }

  test("pub inside a v4 container (4096-byte sectors) extracts identically") {
    val contents = PubWriter.quillContents(paras, 1)
    val v4 = CfbWriter.writeTree(Seq(
      CfbWriter.StorageNode("Quill", Seq(
        CfbWriter.StorageNode("QuillSub", Seq(
          CfbWriter.StreamNode("CONTENTS", contents)))))), sectorShift = 12)
    assert(Extractor.sniffFormat(v4) == "pub")
    assert(graft.extract.cfb.PubExtractor.extract(v4) == paras.mkString("\n"))
  }

  test("pub with non-ascii text survives (UTF-16LE chunk)") {
    val intl = Vector("smörgåsbord déjà vu", "日本語 рус")
    for (v <- 0 until PubWriter.numVariants) {
      val r = Extractor.extractOne(page(PubWriter.generate(intl, v)), 0)
      assert(r.success && r.text == intl.mkString("\n"), s"variant $v: $r")
    }
  }

  test("pub malformations fail NAMED: magic, table bounds, missing TEXT, STRS mismatch") {
    import java.nio.{ByteBuffer, ByteOrder}
    def pubWith(contents: Array[Byte]): Array[Byte] =
      CfbWriter.writeTree(Seq(
        CfbWriter.StorageNode("Quill", Seq(
          CfbWriter.StorageNode("QuillSub", Seq(
            CfbWriter.StreamNode("CONTENTS", contents)))))))
    def err(contents: Array[Byte]): String =
      intercept[IllegalArgumentException] {
        graft.extract.cfb.PubExtractor.extract(pubWith(contents))
      }.getMessage

    val good = PubWriter.quillContents(paras, 1)

    // magic corrupted
    val badMagic = good.clone(); badMagic(0) = 'X'
    assert(err(badMagic).contains("Quill magic"))
    // chunk count overruns the stream
    val badCount = good.clone()
    ByteBuffer.wrap(badCount).order(ByteOrder.LITTLE_ENDIAN).putShort(0x1a, 999.toShort)
    assert(err(badCount).contains("chunk table"))
    // TEXT offset outside the stream
    val badSpan = good.clone()
    ByteBuffer.wrap(badSpan).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(0x18 + 4 + 0x14, Int.MaxValue - 2)
    assert(err(badSpan).contains("outside stream"))
    // no TEXT chunk at all (retag it)
    val noText = good.clone()
    System.arraycopy("ZZZZ".getBytes, 0, noText, 0x18 + 4 + 4, 4)
    assert(err(noText).contains("no TEXT chunk"))
    // STRS disagrees with TEXT length (corrupt the LAST cumulative end —
    // the one the validator compares against the decoded char count)
    val badStrs = good.clone()
    val strsOff = ByteBuffer.wrap(good).order(ByteOrder.LITTLE_ENDIAN)
      .getInt(0x18 + 4 + 0x20 + 0x14) // second table entry = STRS
    ByteBuffer.wrap(badStrs).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(strsOff + 4 + (paras.length - 1) * 4, 1)
    assert(err(badStrs).contains("STRS accounts"))
    // the hollow dispatch shell (Quill storage, no QuillSub/CONTENTS)
    assert(intercept[IllegalArgumentException] {
      graft.extract.cfb.PubExtractor.extract(CfbWriter.generate("pub"))
    }.getMessage.contains("Quill/QuillSub/CONTENTS"))
  }
}
