package graft.extract.cfb

import graft.util.ByteCursor

/** Excel 97-2003 binary (.xls, BIFF8) → text kernel — a reference whitelist
  * input (/root/reference/src/converters/document_converters.py:16-26). The
  * Workbook stream is a flat record sequence (u16 type, u16 length,
  * payload); text cells resolve through the shared string table:
  * SST (0x00FC) holds XLUnicodeRichExtendedStrings, LABELSST (0x00FD)
  * references them by index; NUMBER (0x0203) and RK (0x027E) carry
  * numerics. Cell grid semantics match the XLSX kernel: rows in order
  * joined by "\n", cells within a row by "\t" in column order.
  *
  * SSTs larger than one record are handled: Continue records (0x003C)
  * splice into the SST parse, including the [MS-XLS] rule that character
  * data resuming in a Continue record restarts with a fresh option-flags
  * byte (the wide/compressed width may change per continuation), while
  * rich-run / ExtRst payloads continue WITHOUT a flags byte. Splits are
  * only valid at character boundaries (what Excel writes); a header or
  * mid-character split fails contained.
  */
object XlsExtractor {

  def extract(bytes: Array[Byte]): String = {
    val cfb = new CfbParser(bytes)
    val wb = ByteCursor(cfb.stream("Workbook").orElse(cfb.stream("Book"))
      .getOrElse(throw new IllegalArgumentException("CFB has no Workbook stream")))
    // first pass: record directory (type, bodyStart, len)
    val recs = Vector.newBuilder[(Int, Int, Int)]
    var at = 0
    while (at + 4 <= wb.length) {
      val recType = wb.u16le(at)
      val len = wb.u16le(at + 2)
      require(at + 4 + len <= wb.length, s"BIFF record $recType overruns stream")
      recs += ((recType, at + 4, len))
      at = at + 4 + len
    }
    val records = recs.result()
    require(records.exists(_._1 == 0x0809), "stream has no BOF record — not BIFF")

    var sst: IndexedSeq[String] = IndexedSeq.empty
    records.indices.foreach { i =>
      if (records(i)._1 == 0x00fc) {
        val segs = Vector.newBuilder[(Int, Int)]
        segs += ((records(i)._2, records(i)._3))
        var j = i + 1
        while (j < records.length && records(j)._1 == 0x003c) {
          segs += ((records(j)._2, records(j)._3))
          j += 1
        }
        sst = parseSst(wb, segs.result())
      }
    }

    val cells = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    for ((recType, body, _) <- records) recType match {
      case 0x00fd => // LABELSST: row, col, ixfe, isst
        val isst = wb.i32le(body + 6)
        require(isst >= 0 && isst < sst.length, s"SST index $isst out of range")
        cells += ((wb.u16le(body), wb.u16le(body + 2), sst(isst)))
      case 0x0203 => // NUMBER: row, col, ixfe, Xnum (f64)
        cells += ((wb.u16le(body), wb.u16le(body + 2),
          formatNum(java.lang.Double.longBitsToDouble(wb.u64le(body + 6)))))
      case 0x027e => // RK: row, col, ixfe, RkNumber
        cells += ((wb.u16le(body), wb.u16le(body + 2), formatNum(rkValue(wb.i32le(body + 6)))))
      case _ => ()
    }
    cells.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rowCells) =>
        rowCells.sortBy(_._2).map(_._3).mkString("\t")
      }
      .mkString("\n")
  }

  /** SST payload over (start, len) record segments — segment 0 is the SST
    * record body, the rest are Continue bodies. Grammar: cstTotal u32,
    * cstUnique u32, then XLUnicodeRichExtendedStrings (cch u16; flags u8:
    * 0x01 fHighByte, 0x04 fExtSt, 0x08 fRichSt; optional cRun u16 /
    * cbExtRst u32; character data; rgRun/ExtRst skipped). */
  private def parseSst(b: ByteCursor, segs: IndexedSeq[(Int, Int)]): IndexedSeq[String] = {
    var si = 0
    b.seek(segs(0)._1)
    var end = segs(0)._1 + segs(0)._2
    def nextSeg(): Unit = {
      require(si + 1 < segs.length, "SST truncated mid-structure")
      si += 1; b.seek(segs(si)._1); end = segs(si)._1 + segs(si)._2
    }
    // fixed-size fields never straddle a record boundary (Excel's own rule);
    // advance past boundary (and any empty Continue bodies) until it fits —
    // a field that truly straddles fails contained, never misreads into the
    // next record's header bytes
    def aligned(n: Int): ByteCursor = {
      while (b.position + n > end) {
        require(b.position == end, "SST header straddles a Continue boundary")
        nextSeg()
      }
      b
    }

    aligned(4).i32le() // cstTotal
    val unique = aligned(4).i32le()
    val out = IndexedSeq.newBuilder[String]
    var k = 0
    while (k < unique) {
      val cch = aligned(2).u16le()
      val flags = aligned(1).u8()
      val rich = (flags & 0x08) != 0
      val ext = (flags & 0x04) != 0
      val cRun = if (rich) aligned(2).u16le() else 0
      val cbExt = if (ext) aligned(4).i32le() else 0
      var wide = (flags & 0x01) != 0
      val sb = new java.lang.StringBuilder(cch)
      var remaining = cch
      while (remaining > 0) {
        if (b.position >= end) {
          // character data resuming in a Continue record carries a fresh
          // option-flags byte — the width can CHANGE at the boundary; a
          // zero-length Continue body must not make us read the NEXT
          // record's header byte as the flags byte
          while (b.position >= end) nextSeg()
          wide = (b.u8() & 0x01) != 0
        }
        val width = if (wide) 2 else 1
        val avail = (end - b.position) / width
        val take = math.min(avail, remaining)
        require(take > 0, "SST continuation split mid-character")
        // append raw UTF-16 code units (not a per-chunk String decode) so a
        // surrogate pair split across Continue records still reassembles
        var t = 0
        while (t < take) {
          sb.append((if (wide) b.u16le() else b.u8()).toChar)
          t += 1
        }
        remaining -= take
      }
      // rgRun/ExtRst bytes continue across records WITHOUT a flags byte
      var skip = cRun * 4 + cbExt
      while (skip > 0) {
        if (b.position >= end) nextSeg()
        val t = math.min(skip, end - b.position)
        b.skip(t); skip -= t
      }
      out += sb.toString
      k += 1
    }
    out.result()
  }

  /** RkNumber: bit0 fX100 (value /100), bit1 fInt (30-bit signed int,
    * else the top 30 bits are the high bits of an IEEE double). */
  private def rkValue(rk: Int): Double = {
    val base =
      if ((rk & 0x2) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xfffffffcL) << 32)
    if ((rk & 0x1) != 0) base / 100.0 else base
  }

  /** Integral doubles print without a decimal point (the lexical form the
    * XLSX kernel reads from <v> for whole numbers). */
  private def formatNum(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}
