package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSupport.withTempDir
import graft.sources.WarcSource

/** WARC writer/parser contract: framing, per-record gzip, and the
  * `format("warc")` reader closing every segment it opens. */
class WarcSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val pages = Seq(3L -> "hello warc", 4L -> "second page with more text",
    5L -> "unicode éè€ payload")

  test("plain WARC round trip: responses only, in order, exact payload bytes") {
    val bytes = WarcSource.buildFile(0L, pages, gzipPerRecord = false)
    val parsed = WarcSource.parse(bytes)
    assert(parsed.length === 3) // warcinfo record is framing, not surfaced
    parsed.zip(pages).foreach { case (r, (id, text)) =>
      assert(r.url === s"https://example.com/doc$id")
      assert(r.status === 200)
      assert(r.contentType === WarcSource.responseContentType)
      assert(r.date === WarcSource.warcDate)
      assert(r.payload.toSeq === text.getBytes(UTF_8).toSeq)
    }
  }

  test("per-record gzip framing parses identically (multi-member stream)") {
    val plain = WarcSource.parse(WarcSource.buildFile(1L, pages, gzipPerRecord = false))
    val gz = WarcSource.parse(WarcSource.buildFile(1L, pages, gzipPerRecord = true))
    assert(gz.map(r => (r.url, r.status, r.payload.toSeq)) ===
      plain.map(r => (r.url, r.status, r.payload.toSeq)))
  }

  test("truncated and malformed files fail with named errors, never wrong output") {
    val bytes = WarcSource.buildFile(0L, pages, gzipPerRecord = false)
    val e1 = intercept[IllegalArgumentException] {
      WarcSource.parse(bytes.take(bytes.length - 10))
    }
    assert(e1.getMessage.contains("truncated"))
    val e2 = intercept[IllegalArgumentException] {
      WarcSource.parse("GARBAGE\r\nnot: warc\r\n\r\nbody".getBytes(UTF_8))
    }
    assert(e2.getMessage.contains("not a WARC record"))
  }

  test("malformed HTTP status line / Content-Length / trailer are NAMED errors") {
    def respond(statusLine: String, contentLength: String): Array[Byte] = {
      val http = statusLine + "\r\nContent-Type: text/plain\r\n\r\nbody"
      val head = "WARC/1.1\r\nWARC-Type: response\r\n" +
        s"Content-Length: ${if (contentLength == null) http.length.toString else contentLength}\r\n\r\n"
      (head + http + "\r\n\r\n").getBytes(UTF_8)
    }
    val e1 = intercept[IllegalArgumentException] {
      WarcSource.parse(respond("HTTP/1.1", null)) // no status code token
    }
    assert(e1.getMessage.contains("malformed HTTP status line"))
    val e2 = intercept[IllegalArgumentException] {
      WarcSource.parse(respond("HTTP/1.1 OK 200", null)) // non-numeric code
    }
    assert(e2.getMessage.contains("malformed HTTP status line"))
    val e3 = intercept[IllegalArgumentException] {
      WarcSource.parse(
        "WARC/1.1\r\nWARC-Type: response\r\nContent-Length: 12abc\r\n\r\n".getBytes(UTF_8))
    }
    assert(e3.getMessage.contains("malformed WARC Content-Length"))
    // numbers past the Long / Int range are named errors too, not a bare
    // NumberFormatException
    val e3b = intercept[IllegalArgumentException] {
      WarcSource.parse(
        "WARC/1.1\r\nWARC-Type: response\r\nContent-Length: 99999999999999999999\r\n\r\n".getBytes(UTF_8))
    }
    assert(e3b.getMessage.contains("per-record limit"), e3b.getMessage)
    val e3c = intercept[IllegalArgumentException] {
      WarcSource.parse(respond("HTTP/1.1 99999999999 OK", null))
    }
    assert(e3c.getMessage.contains("malformed HTTP status line"), e3c.getMessage)
    // a record whose 4 trailer bytes are not CRLFCRLF (next record's data
    // would silently misalign): body 'abcd' followed by 'XXXX'
    val e4 = intercept[IllegalArgumentException] {
      WarcSource.parse(
        "WARC/1.1\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcdXXXX".getBytes(UTF_8))
    }
    assert(e4.getMessage.contains("trailer is not CRLFCRLF"))
  }

  /** One WARC record of type `kind` over `block` (Content-Length its size),
    * with its CRLFCRLF trailer. */
  private def warcRecord(kind: String, block: String): Array[Byte] =
    (s"WARC/1.1\r\nWARC-Type: $kind\r\nContent-Length: ${block.getBytes(UTF_8).length}\r\n\r\n" +
      block + "\r\n\r\n").getBytes(UTF_8)

  private def parseError(segment: Array[Byte]): String =
    intercept[IllegalArgumentException](WarcSource.parse(segment)).getMessage

  test("a record claiming more bytes than its segment holds costs what was read (< 4 MiB allocated)") {
    // a 1.5 GB Content-Length over a ~100-byte body: the payload buffer must
    // grow with the bytes that arrive, not be allocated at the claimed size,
    // and a warcinfo body is read past, not kept
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nonly a few bytes"
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    for ((kind, block) <- Seq("response" -> http, "warcinfo" -> "software: graft\r\n")) {
      val segment = (s"WARC/1.1\r\nWARC-Type: $kind\r\nContent-Length: 1500000000\r\n\r\n" + block)
        .getBytes(UTF_8)
      parseError(segment) // load classes outside the measurement
      val before = mx.getCurrentThreadAllocatedBytes
      val message = parseError(segment)
      val allocated = mx.getCurrentThreadAllocatedBytes - before
      assert(message == "requirement failed: WARC stream truncated reading record body " +
        s"(${1500000000L - block.length} bytes short)", kind)
      assert(allocated < (4L << 20), s"$kind: allocated $allocated bytes")
    }
    // a record past the first 64 KiB chunk still arrives byte-exact
    val big = Array.tabulate[Byte](300 * 1024)(i => ('a' + i % 26).toByte)
    val parsed = WarcSource.parse(WarcSource.buildBinaryFile(0L, Seq("https://ex.com/big" -> big),
      gzipPerRecord = false))
    assert(parsed.map(_.payload.toSeq) == Seq(big.toSeq))
  }

  test("an HTTP block is framed by its Content-Length: head, payload and the cuts inside each") {
    // the block ends in one CRLF, so its CRLF and the trailer's first two
    // bytes spell a CRLFCRLF: a head search past the Content-Length finds it
    assert(parseError(warcRecord("response", "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n")) ==
      "requirement failed: HTTP response block has no header terminator")
    val full = warcRecord("response", "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\npayload bytes")
    val text = new String(full, UTF_8)
    // a cut `at` leaves the record body (everything before the 4 trailer bytes) short by the rest
    def cut(at: Int): String = parseError(full.take(at))
    def short(at: Int) =
      s"requirement failed: WARC stream truncated reading record body (${full.length - 4 - at} bytes short)"
    val inHead = text.indexOf("Content-Type") + 5
    assert(cut(inHead) == short(inHead))
    val inPayload = text.indexOf("payload") + 3
    assert(cut(inPayload) == short(inPayload))
    assert(cut(full.length - 2) ==
      "requirement failed: WARC stream truncated reading record trailer (2 bytes short)")
    assert(WarcSource.parse(full).map(r => new String(r.payload, UTF_8)) == Seq("payload bytes"))
  }

  test("a .warc.gz cut inside its first gzip member's header is a named truncation on every path") {
    val gz = WarcSource.buildFile(0L, Seq(1L -> "x"), gzipPerRecord = true)
    val truncated = "WARC stream truncated inside a gzip member"
    for (n <- Seq(3, 5)) assert(parseError(gz.take(n)) == truncated, s"cut at $n")
    withTempDir("graft_warcgzhead") { dir =>
      for (n <- Seq(3, 5)) {
        val p = new java.io.File(dir, s"cut$n.warc.gz").getAbsolutePath
        java.nio.file.Files.write(java.nio.file.Paths.get(p), gz.take(n))
        // FAILFAST: the job fails naming the segment
        val messages = failFastMessages(p)
        assert(messages.contains(s"WARC segment file:$p: $truncated"), messages)
      }
    }
  }

  test("parseStream walks records incrementally — one record of memory, not the file") {
    // build 200 records, stream them off a one-byte-at-a-time InputStream
    // (the adversarial read() shape), and confirm lazy per-record iteration
    val many = (0L until 200L).map(i => i -> s"payload $i")
    val bytes = WarcSource.buildFile(9L, many, gzipPerRecord = true)
    val trickle = new java.io.InputStream {
      private val in = new java.io.ByteArrayInputStream(bytes)
      override def read(): Int = in.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        in.read(b, off, math.min(len, 7)) // tiny reads force refill paths
    }
    val it = WarcSource.parseStream(trickle)
    val first = it.next() // records surface before the stream is consumed
    assert(first.url === "https://example.com/doc0")
    assert(it.toSeq.length === 199)
  }

  private val fds = java.nio.file.Paths.get("/proc/self/fd")

  /** Descriptors this JVM holds on files under `dir`. */
  private def openFilesIn(dir: java.io.File): Int = {
    val root = dir.getCanonicalFile.toPath
    val links = java.nio.file.Files.list(fds)
    try links.toArray.count { l =>
      scala.util.Try(java.nio.file.Files.readSymbolicLink(l.asInstanceOf[java.nio.file.Path]))
        .toOption.exists(_.startsWith(root))
    } finally links.close()
  }

  /** The messages down the cause chain of the failure of a `format("warc")`
    * scan of `path`. */
  private def failFastMessages(path: String): Seq[String] = {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    messages(intercept[Exception](spark.read.format("warc").load(path).count()))
  }

  test("a task that stops early closes every segment it opened") {
    assume(java.nio.file.Files.isDirectory(fds), "counts open files through /proc/self/fd")
    withTempDir("graft_warcclose") { dir =>
      val paths = (0L until 4L).map { f =>
        val file = new java.io.File(dir, s"seg$f.warc.gz")
        val pages = (0L until 20L).map(j => (f * 100 + j, s"page ${f * 100 + j}"))
        java.nio.file.Files.write(file.toPath, WarcSource.buildFile(f, pages, gzipPerRecord = true))
        file.getAbsolutePath
      }
      assert(spark.read.format("warc").load(paths: _*).limit(1).collect().length == 1)
      assert(openFilesIn(dir) == 0)
    }
  }

  test("a segment cut mid-record fails the job naming it, and is closed") {
    assume(java.nio.file.Files.isDirectory(fds), "counts open files through /proc/self/fd")
    withTempDir("graft_warcfailclose") { dir =>
      val pages = (0L until 6L).map(i => i -> s"page $i of a segment that is cut short")
      for (gz <- Seq(false, true)) {
        val full = WarcSource.buildFile(7L, pages, gzipPerRecord = gz)
        // cut mid-record, after the first records parse
        val cut = full.take(full.length / 2)
        val p = new java.io.File(dir, "cut.warc" + (if (gz) ".gz" else "")).getAbsolutePath
        java.nio.file.Files.write(java.nio.file.Paths.get(p), cut)
        val parserMessage = parseError(cut)
        assert(parserMessage.contains("truncated"), parserMessage)
        val messages = failFastMessages(p)
        assert(messages.contains(s"WARC segment file:$p: $parserMessage"), messages)
        assert(openFilesIn(dir) == 0, s"gzip=$gz")
      }
    }
  }

  test("roundTrip surfaces every doc once with the parsed fields recomputable from text") {
    import spark.implicits._
    val docs = (0L until 120L).map(i => (i, s"document $i body " + ("x" * (i % 7).toInt)))
      .toDF("doc_id", "text")
    val out = graft.queries.SourceQueries.roundTrip(docs)
      .as[(Long, String, Int, String, Long, String)].collect().sortBy(_._1)
    assert(out.length === 120)
    out.foreach { case (id, url, status, mime, octets, md5) =>
      val text = s"document $id body " + ("x" * (id % 7).toInt)
      assert(url === s"https://example.com/doc$id")
      assert(status === 200 && mime === WarcSource.responseContentType)
      assert(octets === text.getBytes(UTF_8).length.toLong)
      val expect = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes(UTF_8)).map(b => f"$b%02x").mkString
      assert(md5 === expect)
    }
  }
}
