package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline tier: token
  * counting, quality scoring, fingerprinting. All pure column expressions
  * (codegen'd, shuffle-free, scale-oblivious) over a `text` column of
  * single-space-tokenized documents.
  */
object TextAnalysis {

  /** Whitespace token split (documents are single-spaced; for raw web text
    * use tokensLoose below). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish tokenizer regex for raw text: word pieces, numbers, punctuation
    * runs — a deterministic stand-in for a real subword vocab. */
  def tokensLoose(text: Column): Column =
    filter(split(text, "(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])"), t => t =!= "" && t =!= " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Fixed stopword list used by the quality score (frozen — goldens and
    * oracle SQL depend on it). */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "it", "as",
    "with", "by", "at", "or", "be", "this", "that", "from")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(lit): _*)))

  /** Integer-valued quality features (integer-only so a DuckDB oracle can
    * reproduce them bit-exactly — no float division):
    * n_tokens, total word chars, stopword hits, longest word. Callers derive
    * ratios downstream. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      tokenCount(t).cast("int").as("n_tokens"),
      (length(t) - (tokenCount(t) - 1)).cast("int").as("word_chars"),
      stopwordCount(t).cast("int").as("stopword_ct"),
      array_max(transform(tokens(t), w => length(w))).cast("int").as("max_word_len"))
  }

  /** Deterministic 64-bit document fingerprint as a hex string: first 16 hex
    * chars of md5 — content-addressed identity for exact dedup and lineage
    * (reference analog: md5 file hash,
    * /root/reference/src/core/base_converter.py:69-78). */
  def fingerprintMd5(text: Column): Column =
    substring(md5(text.cast("binary")), 1, 16)

  /** Karp-Rabin rolling hash over the token stream (window w tokens, base b,
    * mod 2^61-1): the document fingerprint is the MINIMUM window hash —
    * stable under local edits outside the minimizing window. Pure Scala
    * kernel (used via Dataset.map); unit-tested, not SQL-expressible. */
  def rollingFingerprint(text: String, window: Int = 8): Long = {
    val words = text.split(' ')
    val M = (1L << 61) - 1
    val B = 1000003L
    def hw(w: String): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < w.length) { h = mulmod(h, 31L, M) + w.charAt(i); if (h >= M) h -= M; i += 1 }
      h
    }
    if (words.isEmpty) return 0L
    val n = words.length
    val w = math.min(window, n)
    // precompute B^(w-1) mod M
    var bw = 1L
    for (_ <- 1 until w) bw = mulmod(bw, B, M)
    var h = 0L
    for (i <- 0 until w) h = (mulmod(h, B, M) + hw(words(i))) % M
    var min = h
    for (i <- w until n) {
      h = (h - mulmod(hw(words(i - w)), bw, M) % M + M) % M
      h = (mulmod(h, B, M) + hw(words(i))) % M
      if (h < min) min = h
    }
    min
  }

  /** (a*b) mod (2^61-1) for a,b < 2^61, O(1) via the Mersenne fold:
    * hi*2^64 + lo ≡ hi*8 + (lo >> 61) + (lo & m)  (mod 2^61-1). */
  private def mulmod(a: Long, b: Long, m: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (hi << 3) + (lo >>> 61) + (lo & m)
    while (r >= m) r -= m
    r
  }
}
