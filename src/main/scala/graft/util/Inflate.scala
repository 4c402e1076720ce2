package graft.util

import java.io.InputStream
import java.util.zip.{Deflater, Inflater}

/** The one bounded DEFLATE decoder. Every inflate that builds a buffer
  * (gzip payloads, zip parts, PDF Flate streams, PNG and PDF image samples)
  * goes through [[grow]] (output of unknown size; [[growRaw]] for the raw
  * DEFLATE data of a zip part) or [[fill]] (output sized by the caller's own
  * geometry cap). Raw zlib bodies drive `Inflater` directly: on JDK 17
  * `InflaterInputStream.read` returns -1 on a preset-dictionary stream
  * instead of failing. The writers' zlib encoder, [[deflate]], lives here
  * too. */
object Inflate {

  /** Inflated bytes one stream may produce (also the raw payload cap). */
  val maxStreamBytes: Int = 64 * 1024 * 1024

  /** Inflated bytes the streams of one document may produce together. */
  val maxDocumentBytes: Long = 256L * 1024 * 1024

  /** Largest expansion ratio a size hint is trusted for. */
  private val hintRatio = 32L

  /** Reads `in` to its end (without closing it) into one array: sized at
    * `hint`, trusted up to [[hintRatio]] × `compressed`, doubled while the
    * output outgrows it, trimmed once. `inflated` is what the document's
    * earlier streams produced; the over-cap error names `what` and the cap. */
  def grow(in: InputStream, hint: Long, compressed: Long, inflated: Long,
           what: String): Array[Byte] = {
    val limit = math.max(0L, math.min(maxStreamBytes.toLong, maxDocumentBytes - inflated))
    var out = new Array[Byte](
      math.min(math.max(0L, math.min(hint, hintRatio * compressed)), limit).toInt)
    var len = 0
    var done = false
    while (!done) {
      if (len < out.length) {
        val r = in.read(out, len, out.length - len)
        if (r < 0) done = true else len += r
      } else {
        // full: one more byte means the hint was short (or a cap is hit)
        val b = in.read()
        if (b < 0) done = true
        else {
          require(len < limit,
            if (limit == maxStreamBytes) s"$what expands past cap $maxStreamBytes"
            else s"$what expands past document cap $maxDocumentBytes ($inflated bytes before it)")
          out = java.util.Arrays.copyOf(out, math.min(math.max(64L, 2L * len), limit).toInt)
          out(len) = b.toByte
          len += 1
        }
      }
    }
    if (len == out.length) out else java.util.Arrays.copyOf(out, len)
  }

  /** [[grow]] over the raw zlib body `src[off, off + len)`, hinted at 4× its
    * length; bytes after the end of the stream are ignored. */
  def grow(src: Array[Byte], off: Int, len: Int, inflated: Long, what: String): Array[Byte] = {
    val inf = new Inflater()
    try grow(inf, src, off, len, 4L * len + 64, inflated, what) finally inf.end()
  }

  /** [[grow]] over the raw DEFLATE data `src[off, off + len)` (no zlib
    * header or trailer, as a zip part stores it), sized at `hint`. A
    * document's parts are small and many, so each thread reuses one raw
    * `Inflater`, reset after every part, rather than setting up zlib's
    * state and window per part. */
  def growRaw(src: Array[Byte], off: Int, len: Int, hint: Long, inflated: Long,
              what: String): Array[Byte] = {
    val inf = rawInflater.get
    try grow(inf, src, off, len, hint, inflated, what) finally inf.reset()
  }

  private val rawInflater = ThreadLocal.withInitial[Inflater](() => new Inflater(true))

  private def grow(inf: Inflater, src: Array[Byte], off: Int, len: Int, hint: Long,
                   inflated: Long, what: String): Array[Byte] = {
    inf.setInput(src, off, len)
    val in = new InputStream {
      private val one = new Array[Byte](1)
      override def read(b: Array[Byte], o: Int, n: Int): Int = {
        val got = if (inf.finished()) 0 else inf.inflate(b, o, n)
        require(got > 0 || inf.finished(), truncated(what))
        if (got == 0) -1 else got
      }
      def read(): Int = if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    }
    grow(in, hint, len, inflated, what)
  }

  /** Inflates the zlib stream stored in `src` at the (offset, length)
    * `parts`, in order, until `out` is full, and requires it to fill. */
  def fill(src: Array[Byte], parts: Iterator[(Int, Int)], out: Array[Byte], what: String): Unit = {
    val inf = new Inflater()
    try {
      var got = 0
      while (got < out.length && !inf.finished()) {
        val n = inf.inflate(out, got, out.length - got)
        got += n
        if (n == 0 && !inf.finished()) { // only more input can help
          require(inf.needsInput() && !inf.needsDictionary() && parts.hasNext, truncated(what))
          val (o, l) = parts.next()
          inf.setInput(src, o, l)
        }
      }
      require(got == out.length, s"$what short: $got of ${out.length}")
    } finally inf.end()
  }

  /** The writers' inverse (PNG IDAT, PDF content and image streams): one
    * complete zlib stream of `data` at `level`. */
  def deflate(data: Array[Byte], level: Int = Deflater.DEFAULT_COMPRESSION): Array[Byte] = {
    val d = new Deflater(level)
    try {
      d.setInput(data)
      d.finish()
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  private def truncated(what: String): String = s"$what truncated or needs a preset dictionary"
}
