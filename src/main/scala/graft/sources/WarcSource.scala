package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, Closeable, EOFException,
  InputStream, PushbackInputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** WARC (ISO 28500) source: the container format Common Crawl ships web
  * pages in, and the natural ingest format for the extraction pipeline
  * (reference analog: the repo ingests one uploaded file per request,
  * /root/reference/server.py:36-88 — a crawl-scale engine ingests WARC
  * segments instead). This module is both directions:
  *
  *  - a deterministic WRITER (`buildFile` / `buildBinaryFile`) producing
  *    spec-shaped WARC/1.1 bytes — warcinfo header record + one response
  *    record per page, CRLF framing, exact Content-Length, optionally
  *    gzip'd one-member-PER-RECORD exactly as the .warc.gz convention
  *    requires;
  *  - a streaming PARSER (`parseStream`) that walks records one at a time
  *    off an InputStream (through multi-member gzip transparently),
  *    validates framing — header terminator, numeric Content-Length, the
  *    CRLFCRLF record trailer — with NAMED errors, and surfaces HTTP
  *    response payloads with status / Content-Type.
  *
  * Scale shape: in production each task reads ONE ~1 GB .warc.gz object
  * and streams records out of it — a segment is never split, because
  * record-gzip members are not independently seekable without an index;
  * smaller segments are packed several to a task by Spark's own small-file
  * rule. There is one read path, `spark.read.format("warc")`
  * ([[WarcDataSource]]), which opens and closes each segment over a
  * broadcast Hadoop conf and is FAILFAST: a rotten segment fails the job,
  * naming it. The resumable WARC job reads this way.
  * `parseStream` holds only the CURRENT record in memory, never the
  * inflated file: it reads a response's HTTP head, then the rest of the
  * block straight into the payload array (each payload is read once), and
  * reads past the bodies of other records without keeping them. So a
  * multi-GB segment costs one record's worth of heap per task, and a
  * payload's buffer grows with the bytes that arrive, not with the length
  * its header claims; a single record larger than ~2 GiB is a named
  * error (the JVM cannot hold one byte array past that, and real crawls
  * cap records far below it). The `src_warc_*` queries
  * (`graft.queries.SourceQueries`) write the documents table through this
  * writer so the oracle can recompute every parsed field from SQL.
  */
object WarcSource {

  private val CRLF = "\r\n"

  /** Frozen synthetic-corpus conventions (oracle SQL depends on them). */
  val warcDate = "2024-01-01T00:00:00Z"
  def targetUri(id: Long): String = s"https://example.com/doc$id"
  val responseContentType = "text/plain; charset=utf-8"
  /** Documents per synthesized WARC file. */
  val docsPerFile = 50

  /** Framing guards: WARC named headers are small (64 KiB is far past any
    * spec'd field), and one payload must fit a JVM byte array. */
  private val maxHeaderBytes = 64 * 1024
  private val maxRecordBytes: Long = Int.MaxValue.toLong - 16

  private def httpResponse(payload: Array[Byte], contentType: String): Array[Byte] = {
    val head = "HTTP/1.1 200 OK" + CRLF +
      s"Content-Type: $contentType" + CRLF +
      s"Content-Length: ${payload.length}" + CRLF + CRLF
    head.getBytes(ISO_8859_1) ++ payload
  }

  private def record(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val head = ("WARC/1.1" + CRLF) +
      (headers :+ ("Content-Length" -> body.length.toString))
        .map { case (k, v) => s"$k: $v$CRLF" }.mkString + CRLF
    head.getBytes(ISO_8859_1) ++ body ++ (CRLF + CRLF).getBytes(ISO_8859_1)
  }

  private def responseRecord(uri: String, payload: Array[Byte],
                             contentType: String): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:graft:$uri>",
      "WARC-Date" -> warcDate,
      "WARC-Target-URI" -> uri,
      "Content-Type" -> "application/http; msgtype=response"),
      httpResponse(payload, contentType))

  private def warcinfoRecord(fileId: Long): Array[Byte] =
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:file$fileId>",
      "WARC-Date" -> warcDate,
      "Content-Type" -> "application/warc-fields"),
      s"software: graft$CRLF".getBytes(ISO_8859_1))

  /** One gzip member per record — the .warc.gz convention (a reader can
    * resync on member boundaries; a whole-file gzip could not be split). */
  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  private def frame(recs: Seq[Array[Byte]], gzipPerRecord: Boolean): Array[Byte] = {
    val framed = if (gzipPerRecord) recs.map(gzipMember) else recs
    val out = new ByteArrayOutputStream()
    framed.foreach(out.write)
    out.toByteArray
  }

  /** Deterministic WARC file over (doc_id, text) pages: warcinfo + one
    * response record per page, optionally gzip'd per record. */
  def buildFile(fileId: Long, pages: Seq[(Long, String)], gzipPerRecord: Boolean): Array[Byte] =
    frame(warcinfoRecord(fileId) +: pages.map { case (id, t) =>
      responseRecord(targetUri(id), t.getBytes(UTF_8), responseContentType)
    }, gzipPerRecord)

  /** Deterministic WARC file over (url, payload-bytes) pages — the crawl
    * ingest shape: arbitrary binary payloads under their real target URIs. */
  def buildBinaryFile(fileId: Long, pages: Seq[(String, Array[Byte])],
                      gzipPerRecord: Boolean): Array[Byte] =
    frame(warcinfoRecord(fileId) +: pages.map { case (uri, payload) =>
      responseRecord(uri, payload, "application/octet-stream")
    }, gzipPerRecord)

  final case class ParsedResponse(url: String, date: String, status: Int,
                                  contentType: String, payload: Array[Byte])

  /** The `Name: value` lines after a block's first line (version or status
    * line). Blocks end before their CRLFCRLF, so no line is empty. */
  private def parseHeaders(block: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var at = block.indexOf(CRLF)
    while (at >= 0) {
      val from = at + 2
      at = block.indexOf(CRLF, from)
      val line = block.substring(from, if (at < 0) block.length else at)
      val c = line.indexOf(':')
      require(c > 0, s"malformed WARC header line: $line")
      out += line.substring(0, c).trim -> line.substring(c + 1).trim
    }
    out.result()
  }

  /** `n` bytes off `in`. The buffer starts at 64 KiB at most and doubles as
    * bytes arrive, so a header claiming more than the stream holds costs
    * what was read before the named truncation error, not the claim. */
  private def readFully(in: InputStream, n: Int, what: String): Array[Byte] = {
    var buf = new Array[Byte](math.min(n, 64 * 1024))
    var off = 0
    while (off < n) {
      if (off == buf.length)
        buf = java.util.Arrays.copyOf(buf, math.min(n.toLong, 2L * off).toInt)
      val r = in.read(buf, off, buf.length - off)
      require(r >= 0, s"WARC stream truncated reading $what (${n - off} bytes short)")
      off += r
    }
    buf
  }

  /** The framing bytes of one segment, read off `in` (the caller's buffered
    * stream, or the buffer over the inflater) through one scratch buffer
    * that every record reuses: header blocks byte at a time (they are tiny),
    * bodies that are not kept in chunks. */
  private final class Framing(in: InputStream) {
    private var buf = new Array[Byte](8 * 1024)
    /** Bytes the last [[block]] read. */
    var taken = 0

    /** Reads to the first CRLFCRLF, at most `limit` bytes. Returns the
      * length of the block before its terminator (its bytes are
      * [[text]]), -1 if the stream ended first, -2 if `limit` bytes held no
      * terminator. */
    def block(limit: Int): Int = {
      taken = 0
      var matched = 0 // prefix of \r\n\r\n seen
      while (matched < 4) {
        if (taken == limit) return -2
        val c = in.read()
        if (c < 0) return -1
        if (taken == buf.length) buf = java.util.Arrays.copyOf(buf, math.min(limit.toLong, 2L * taken).toInt)
        buf(taken) = c.toByte
        taken += 1
        matched = c match {
          case '\r' => if (matched == 2) 3 else 1
          case '\n' => if (matched == 1) 2 else if (matched == 3) 4 else 0
          case _ => 0
        }
      }
      taken - 4
    }

    def text(length: Int): String = new String(buf, 0, length, ISO_8859_1)

    /** Reads and drops `n` bytes. The stream is read, not skipped:
      * `InputStream.skip` may seek past the end of a local file, and a
      * truncated record would go unnoticed. */
    def drop(n: Long, what: String): Unit = {
      var left = n
      while (left > 0) {
        val chunk = math.min(left, buf.length.toLong).toInt
        var off = 0
        while (off < chunk) {
          val r = in.read(buf, off, chunk - off)
          require(r >= 0, s"WARC stream truncated reading $what (${left - off} bytes short)")
          off += r
        }
        left -= chunk
      }
    }

    /** The record trailer, which must be CRLFCRLF. */
    def trailer(): Unit = {
      drop(4, "record trailer")
      require(buf(0) == '\r' && buf(1) == '\n' && buf(2) == '\r' && buf(3) == '\n',
        "WARC record trailer is not CRLFCRLF")
    }
  }

  /** GZIPInputStream reports a cut member as an EOFException, often with no
    * message: in the record loop, and in its constructor when the first
    * member's 10-byte header is cut. */
  private def truncatedMember(e: EOFException) =
    new IllegalArgumentException("WARC stream truncated inside a gzip member", e)

  /** Stream records off `raw` one at a time (plain or .warc.gz — sniffed;
    * GZIPInputStream walks concatenated members transparently), yielding
    * the HTTP response records (warcinfo/request records are framing, and
    * their bodies are read past, never held). A response's HTTP head is
    * read up to its CRLFCRLF, within the record's Content-Length, and the
    * rest of the block straight into the payload array, so a payload is
    * read once and copied nowhere. Memory is O(one record); malformed
    * framing — bad version line, missing or non-numeric Content-Length,
    * truncation, a trailer that is not CRLFCRLF, an HTTP block with no
    * header terminator or a malformed status line — throws a NAMED error,
    * which the `format("warc")` reader rethrows naming the segment.
    * Closing the iterator closes `raw` and,
    * on a .warc.gz, ends the inflater's native zlib state at once. */
  def parseStream(raw: InputStream): Iterator[ParsedResponse] with Closeable = {
    val pb = new PushbackInputStream(raw, 2)
    val b0 = pb.read()
    val b1 = if (b0 < 0) -1 else pb.read()
    if (b1 >= 0) pb.unread(b1)
    if (b0 >= 0) pb.unread(b0)
    // header bytes are read one at a time: buffered, one inflate call serves
    // many of them
    val in: InputStream =
      if (b0 == 0x1f && b1 == 0x8b)
        try new BufferedInputStream(new GZIPInputStream(pb, 64 * 1024))
        catch { case e: EOFException => throw truncatedMember(e) }
      else pb
    val framing = new Framing(in)

    new Iterator[ParsedResponse] with Closeable {
      def close(): Unit = in.close()

      private var pending: ParsedResponse = null
      private var eof = b0 < 0

      private def advance(): Unit =
        try while (pending == null && !eof) {
          val headLen = framing.block(maxHeaderBytes)
          if (headLen == -1 && framing.taken == 0) { eof = true }
          else {
            // the stream's end comes first: a full block followed by EOF is
            // a truncation, not an oversized block
            require(headLen != -1 && (headLen != -2 || in.read() >= 0),
              "WARC stream truncated inside a record header")
            require(headLen != -2, s"WARC header block exceeds $maxHeaderBytes bytes")
            val headStr = framing.text(headLen)
            require(headStr.startsWith("WARC/"),
              s"not a WARC record (version line reads '${headStr.take(16)}')")
            val headers = parseHeaders(headStr)
            val lenStr = headers.getOrElse("Content-Length",
              throw new IllegalArgumentException("WARC record lacks Content-Length"))
            require(lenStr.nonEmpty && lenStr.forall(_.isDigit),
              s"malformed WARC Content-Length '$lenStr'")
            // all digits, so only a value past the Long range fails to parse
            val len = try lenStr.toLong catch { case _: NumberFormatException => Long.MaxValue }
            require(len <= maxRecordBytes,
              s"WARC record of $lenStr bytes exceeds the $maxRecordBytes-byte per-record limit")
            if (headers.get("WARC-Type").contains("response")) {
              val httpLen = framing.block(len.toInt)
              require(httpLen != -1,
                s"WARC stream truncated reading record body (${len - framing.taken} bytes short)")
              // errors keep the order of a whole-body read: truncation and
              // the trailer come before the HTTP block's own checks
              val httpHead = if (httpLen < 0) null else framing.text(httpLen)
              val payload =
                if (httpLen < 0) null else readFully(in, len.toInt - framing.taken, "record body")
              framing.trailer()
              require(httpHead != null, "HTTP response block has no header terminator")
              pending = parseHttpResponse(headers, httpHead, payload)
            } else {
              framing.drop(len, "record body")
              framing.trailer()
            }
          }
        } catch { case e: EOFException => throw truncatedMember(e) }

      def hasNext: Boolean = { advance(); pending != null }
      def next(): ParsedResponse = {
        if (!hasNext) throw new NoSuchElementException("past WARC EOF")
        try pending finally pending = null
      }
    }
  }

  private def parseHttpResponse(warcHeaders: Map[String, String], httpHead: String,
                                payload: Array[Byte]): ParsedResponse = {
    val eol = httpHead.indexOf(CRLF)
    val statusLine = if (eol < 0) httpHead else httpHead.substring(0, eol)
    val parts = statusLine.split(" ")
    // -1 for a missing, empty, non-numeric or past-Int status code
    val status = if (parts.length < 2 || !parts(1).forall(_.isDigit)) -1
      else try parts(1).toInt catch { case _: NumberFormatException => -1 }
    require(status >= 0 && parts(0).startsWith("HTTP/"), s"malformed HTTP status line '$statusLine'")
    val httpHeaders = parseHeaders(httpHead)
    ParsedResponse(
      url = warcHeaders.getOrElse("WARC-Target-URI", ""),
      date = warcHeaders.getOrElse("WARC-Date", ""),
      status = status,
      contentType = httpHeaders.getOrElse("Content-Type", ""),
      payload = payload)
  }

  /** Whole-buffer convenience over [[parseStream]] (the `src_warc_roundtrip` query, tests). */
  def parse(bytes: Array[Byte]): Seq[ParsedResponse] =
    parseStream(new ByteArrayInputStream(bytes)).toSeq
}
