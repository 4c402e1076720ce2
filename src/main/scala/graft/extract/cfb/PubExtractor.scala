package graft.extract.cfb

import java.nio.charset.StandardCharsets

import graft.util.ByteCursor

/** Microsoft Publisher (.pub) → text kernel — a reference whitelist input
  * (/root/reference/src/converters/document_converters.py:16-26) the
  * reference feeds through LibreOffice. Publisher has NO public
  * specification; this parser follows libmspub's published reverse
  * engineering of the Quill text store at the CFB storage path
  * Quill/QuillSub/CONTENTS: the stream opens with the "CHNKINK " magic,
  * a chunk-reference table at 0x18 names typed chunks by 4-char tag with
  * transmitted (offset, length), the TEXT chunk carries the document text
  * as UTF-16LE with Quill's `\r` paragraph marks, and the STRS chunk
  * (when present) carries the text-block table (u32 count + cumulative
  * char-end offsets) — see the layout contract on
  * [[graft.serialize.LegacyOfficeWriters.PubWriter]].
  *
  * Because every read is driven by the TRANSMITTED table and validated
  * for containment, a wild .pub whose layout drifts from this shape fails
  * as a NAMED error row — never a mojibake "success" (the silent-poison
  * class the dispatcher exists to prevent).
  */
object PubExtractor {

  private val refBytes = 0x20 // one chunk reference
  private val tableAt = 0x18

  def extract(bytes: Array[Byte]): String = {
    val cfb = new CfbParser(bytes)
    val contents = ByteCursor(cfb.streamAtPath(Seq("Quill", "QuillSub", "CONTENTS"))
      .getOrElse(throw new IllegalArgumentException(
        "Publisher CFB has no Quill/QuillSub/CONTENTS stream")))
    require(contents.length >= tableAt + 4, "Quill CONTENTS truncated")
    val magic = contents.string(0, 8, StandardCharsets.US_ASCII)
    require(magic == "CHNKINK ", s"bad Quill magic '$magic'")

    // chunk-reference table: u16 reserved, u16 numChunks, then numChunks
    // 0x20-byte refs {u32, tag(4), u32, u16 id, u16, tag(4), u32 offset,
    // u32 length, u32}
    val numChunks = contents.u16le(tableAt + 2)
    val entriesAt = tableAt + 4
    require(numChunks >= 1 && entriesAt + numChunks * refBytes <= contents.length,
      s"Quill chunk table ($numChunks entries) overruns stream")
    def tagOf(i: Int): String =
      contents.string(entriesAt + i * refBytes + 4, 4, StandardCharsets.US_ASCII)
    def spanOf(i: Int): (Int, Int) = {
      val base = entriesAt + i * refBytes
      val off = contents.i32le(base + 0x14)
      val len = contents.i32le(base + 0x18)
      // attacker-controlled: Long containment so off+len cannot wrap
      require(off >= 0 && len >= 0 && off.toLong + len.toLong <= contents.length,
        s"Quill chunk ${tagOf(i)} [$off,+$len) outside stream (${contents.length})")
      (off, len)
    }
    val tags = (0 until numChunks).map(tagOf)

    val textIdx = tags.indexOf("TEXT")
    require(textIdx >= 0, "Quill store has no TEXT chunk")
    val (textOff, textLen) = spanOf(textIdx)
    require(textLen % 2 == 0, s"odd UTF-16 TEXT chunk length $textLen")
    val text = contents.string(textOff, textLen, StandardCharsets.UTF_16LE)

    // STRS (optional): the text-block table must account for every char —
    // a mismatch means the table and text disagree and the parse is wrong
    val strsIdx = tags.indexOf("STRS")
    if (strsIdx >= 0) {
      val (off, len) = spanOf(strsIdx)
      require(len >= 4, s"STRS chunk of $len bytes too short")
      val nBlocks = contents.i32le(off)
      require(nBlocks >= 0 && 4 + nBlocks.toLong * 4 <= len,
        s"STRS block table ($nBlocks blocks) overruns chunk")
      val lastEnd = if (nBlocks == 0) 0 else contents.i32le(off + nBlocks * 4)
      require(lastEnd == text.length,
        s"STRS accounts for $lastEnd chars, TEXT has ${text.length}")
    }

    // paragraph marks: trailing final \r drops, interior ones join with \n
    text.stripSuffix("\r").split('\r').mkString("\n")
  }
}
