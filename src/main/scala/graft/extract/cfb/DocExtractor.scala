package graft.extract.cfb

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets

import graft.util.ByteCursor

/** Word 97-2003 binary (.doc) → text kernel — a reference whitelist input
  * (/root/reference/src/converters/document_converters.py:16-26) the
  * reference feeds through LibreOffice; here a direct pure-JVM parse of the
  * piece table ([MS-DOC]): FIB in the WordDocument stream names the table
  * stream (0Table/1Table per fWhichTblStm) and points at the Clx
  * (fcClx/lcbClx); the Clx's Pcdt holds the PlcPcd mapping character
  * positions to file offsets, each piece either cp1252 ("compressed", fc
  * bit 30) or UTF-16LE. Pieces concatenate in CP order; the paragraph mark
  * `\r` becomes "\n"; a trailing final mark is dropped.
  */
object DocExtractor {

  private val cp1252 = Charset.forName("windows-1252")

  def extract(bytes: Array[Byte]): String = {
    val cfb = new CfbParser(bytes)
    val word = cfb.stream("WordDocument")
      .getOrElse(throw new IllegalArgumentException("CFB has no WordDocument stream"))
    require(word.length >= 512, "WordDocument stream truncated")
    val w = ByteCursor(word)
    require(w.u16le(0) == 0xa5ec, f"bad FIB magic 0x${w.u16le(0)}%04x")
    val fWhichTblStm = (w.u16le(0x000a) & 0x0200) != 0
    val tableName = if (fWhichTblStm) "1Table" else "0Table"
    val table = ByteCursor(cfb.stream(tableName)
      .getOrElse(throw new IllegalArgumentException(s"CFB has no $tableName stream")))
    val fcClx = w.i32le(0x01a2)
    val lcbClx = w.i32le(0x01a6)
    require(fcClx >= 0 && lcbClx > 0 && fcClx.toLong + lcbClx <= table.length,
      s"Clx [$fcClx,+$lcbClx) outside $tableName (${table.length})")

    // Clx: skip Prc entries (clxt=1: u8 + i16 cb + grpprl) to the Pcdt (clxt=2)
    var at = fcClx
    val end = fcClx + lcbClx
    while (at < end && table.u8(at) == 0x01) {
      val cb = table.u16le(at + 1)
      at += 3 + cb
    }
    require(at < end && table.u8(at) == 0x02, "Clx has no Pcdt")
    val lcbPlc = table.i32le(at + 1)
    val plc = at + 5
    require(plc.toLong + lcbPlc <= end, "PlcPcd overruns Clx")
    // PlcPcd with n pieces: (n+1) CPs (u32) + n PCDs (8 bytes)
    val n = (lcbPlc - 4) / 12
    require(n >= 1 && (n + 1) * 4 + n * 8 == lcbPlc, s"bad PlcPcd size $lcbPlc")

    val sb = new StringBuilder
    var p = 0
    while (p < n) {
      val cpStart = table.i32le(plc + p * 4)
      val cpEnd = table.i32le(plc + (p + 1) * 4)
      val chars = cpEnd - cpStart
      // cp/fc come from attacker-controlled bytes: containment checks in
      // Long (and chars >= 0) so a corrupt PlcPcd cannot overflow Int
      // negative, pass the bound, and die in new String instead of here
      require(chars >= 0, s"negative piece length $chars")
      val fcRaw = table.i32le(plc + (n + 1) * 4 + p * 8 + 2)
      val compressed = (fcRaw & 0x40000000) != 0
      if (compressed) {
        val fc = (fcRaw & 0x3fffffff) / 2
        require(fc.toLong + chars.toLong <= word.length,
          "compressed piece overruns WordDocument")
        sb.append(new String(word, fc, chars, cp1252))
      } else {
        val fc = fcRaw & 0x3fffffff
        require(fc.toLong + chars.toLong * 2 <= word.length,
          "unicode piece overruns WordDocument")
        sb.append(new String(word, fc, chars * 2, StandardCharsets.UTF_16LE))
      }
      p += 1
    }
    val text = sb.toString
    // paragraph marks: trailing final \r drops, interior ones join with \n
    text.stripSuffix("\r").split('\r').mkString("\n")
  }
}
