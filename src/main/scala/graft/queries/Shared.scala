package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

import graft.curation.WebCuration
import graft.fixtures.Corpus
import graft.pipeline.ExtractionPipeline
import graft.textops.TextAnalysis

/** One oracled query: its name, an ANSI-SQL restatement of its result over
  * the sf tables (run by DuckDB), and the Spark body that computes the same
  * rows from an sf directory. */
final case class Query(name: String, oracleSql: String)(
    val run: (SparkSession, String) => DataFrame)

/** What the query tiers share: the synthetic inputs derived from the sf
  * tables, each mirrored 1:1 in the oracle SQL, and the SQL fragments that
  * mirror them. */
private[queries] object Shared {

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** One row per document, built from its `doc_id` alone (the fixture
    * queries derive every parameter from the id). */
  def perDoc[T <: Product : TypeTag](s: SparkSession, dir: String)(row: Long => T): Dataset[T] = {
    import s.implicits._
    docs(s, dir).select(col("doc_id")).as[Long].map(row)
  }

  def extractDF(s: SparkSession, dir: String): DataFrame = {
    val pages = Corpus.materialize(s, dir)
    ExtractionPipeline.extract(pages, s.sparkContext.defaultParallelism).toDF()
      .withColumn("doc_id", regexp_extract(col("url"), "doc([0-9]+)$", 1).cast("long"))
  }

  /** Per-format rollup of extraction results: docs, bytes out, failures.
    * Every path over the corpus must give the same rows, so the batch,
    * streaming and WARC queries share [[formatRollupSql]]. */
  def formatRollup(results: DataFrame): DataFrame =
    results.groupBy(col("format_from"))
      .agg(count(lit(1)).cast("bigint").as("docs"),
        sum(col("new_size")).cast("bigint").as("bytes_out"),
        sum(when(!col("success"), 1L).otherwise(0L)).cast("bigint").as("failures"))
      .orderBy("format_from")

  /** documents ∪ exact copies of every 5th doc (id offset +100000). */
  def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(col("doc_id").as("id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("id"), col("text")))
  }

  /** documents ∪ near-duplicates of every 5th doc: the 50th, 100th, …
    * (1-based) words dropped. Matches the oracle's
    * list_filter(words, (w,i) -> i % 50 != 0) with 1-based i. */
  def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val words = split(col("text"), " ")
    val perturbed = array_join(filter(words, (w, i) => (i + 1) % 50 =!= 0), " ")
    d.select(col("doc_id").as("id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("id"), perturbed.as("text")))
  }

  /** embeddings (double-cast) ∪ perturbed copies of every 5th vector. */
  def nearDupVectors(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val orig = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val pert = e.filter(col("vec_id") % 5 === 0).select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, j) =>
        x.cast("double") * (lit(1.0) + (pmod(col("vec_id") * 64 + j, lit(7)) - 3) * lit(0.002))).as("v"))
    orig.unionByName(pert)
  }

  /** Scratch dir for queries that must write output: ONE fixed location per
    * (purpose, sfDir), wiped before each use — repeated Verify/Bench/test
    * invocations reuse it instead of accumulating createTempDirectory
    * litter, and a fresh start also guarantees the resume/streaming
    * semantics the queries assert (first run from empty state). */
  def freshScratchDir(purpose: String, sfDir: String): String = {
    val key = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"${purpose}_$key")
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }

  def v1FromCustomer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey"),
      lit("Cust").as("first_name"),
      lpad(col("c_custkey").cast("string"), 9, "0").as("last_name"),
      concat(lit("cust"), col("c_custkey").cast("string"), lit("@example.com")).as("email"),
      concat(lit("2024-01-"), lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")).as("created_at"),
      when(col("c_custkey") % 3 === 0, "yes")
        .when(col("c_custkey") % 3 === 1, "false")
        .otherwise("1").as("active"))

  def v2FromCustomer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey"),
      concat(lit("Cust "), lpad(col("c_custkey").cast("string"), 9, "0")).as("fullName"),
      concat(lit("cust"), col("c_custkey").cast("string"), lit("@example.com")).as("emailAddress"),
      concat(lit("2024-01-"), lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")).as("createdAt"),
      when(col("c_custkey") % 2 === 0, "active").otherwise("inactive").as("status"))

  def v3FromCustomer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet").select(
      col("c_custkey"),
      struct(lit("Cust").as("first"),
        lpad(col("c_custkey").cast("string"), 9, "0").as("last")).as("name"),
      struct(concat(lit("cust"), col("c_custkey").cast("string"), lit("@example.com")).as("email")).as("contact"),
      struct(concat(lit("2024-01-"), lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")).as("createdAt"),
        (col("c_custkey") % 2 === 0).as("active")).as("meta"))

  /** Documents with the gopher-fixture suffix: every 23rd doc gets 10
    * all-numeric words appended, flipping its alpha-ratio rule (mirrored in
    * the cur_gopher_quality oracle's `g` CTE). */
  def gopherDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 23 === 0,
        lit(" 0000 1111 2222 3333 4444 5555 6666 7777 8888 9999"))
        .otherwise(lit(""))).as("text"))

  /** Documents with deterministic PII planted by doc_id % 4: an email, an
    * IPv4, a phone number, or nothing (mirrored in the cur_pii_scrub
    * oracle's `p` CTE). */
  def piiDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val extra = when(id % 4 === 0,
        concat(lit(" contact cust"), id.cast("string"), lit("@mail.example.com for details")))
      .when(id % 4 === 1,
        concat(lit(" server 10."), (id % 200).cast("string"), lit(".0."),
          (id % 250).cast("string"), lit(" up")))
      .when(id % 4 === 2,
        concat(lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"), lit(" now")))
      .otherwise(lit(""))
    docs(s, dir).select(id, concat(col("text"), extra).as("text"))
  }

  /** Recrawl fixture: every document seen twice — an uncanonical first crawl
    * (mixed case, :80 port, #fragment) and a canonical later one (trailing
    * slash, ts + 1e6) — so urlDedupLatest must fold each pair and keep the
    * later snapshot (mirrored in the cur_url_dedup oracle's `r` CTE). */
  def recrawlUrls(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val id = col("doc_id")
    val first = d.select(
      concat(lit("HTTP://Host"), (id % 50).cast("string"), lit(".Example.COM:80/p/"),
        id.cast("string"), lit("#frag")).as("url"),
      id.as("ts"))
    val recrawl = d.select(
      concat(lit("http://host"), (id % 50).cast("string"), lit(".example.com/p/"),
        id.cast("string"), lit("/")).as("url"),
      (id + 1000000L).as("ts"))
    first.unionByName(recrawl)
  }

  /** The C4 decoration pass (WebCuration.c4DecorateCol) in SQL over the
    * `lines` CTE — shared by the cur_c4_filter / cur_funnel oracles.
    * DuckDB's list_transform index is 1-based where Spark's transform
    * index is 0-based; every arm compensates with (i - 1). */
  val curDecSql: String =
    "d1 AS (SELECT doc_id, list_transform(ls, (x, i) -> CASE WHEN (doc_id * 3 + i - 1) % 17 = 0 " +
      "THEN 'javascript ' || x ELSE x END) AS ls FROM lines), " +
      "d2 AS (SELECT doc_id, list_transform(ls, (x, i) -> CASE WHEN doc_id % 13 = 0 AND i = 1 " +
      "THEN x || ' lorem ipsum' ELSE x END) AS ls FROM d1), " +
      "d3 AS (SELECT doc_id, list_transform(ls, (x, i) -> CASE WHEN doc_id % 19 = 0 AND i = 2 " +
      "THEN x || ' {' ELSE x END) AS ls FROM d2), " +
      "dec AS (SELECT doc_id, list_transform(ls, (x, i) -> CASE WHEN (doc_id + i - 1) % 5 <> 4 " +
      "THEN x || '.' ELSE x END) AS ls FROM d3)"

  /** The curation line corpus (WebCuration.lineCorpus) in SQL — shared by
    * the cur_c4_filter / cur_repetition / cur_line_dedup / cur_funnel
    * oracles. */
  val curLinesSql: String =
    "w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents), " +
      "base AS (SELECT doc_id, text, list_transform(range(CAST(ceil(len(ws) / 10.0) AS BIGINT)), " +
      "i -> array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')) AS l0 FROM w), " +
      "inj AS (SELECT doc_id, text, (CASE WHEN doc_id % 2 = 0 THEN ['" + WebCuration.headerLine + "'] ELSE [] END) || l0 " +
      "|| (CASE WHEN doc_id % 3 = 0 THEN ['" + WebCuration.footerLine + "'] ELSE [] END) AS l1 FROM base), " +
      "lines AS (SELECT doc_id, text, l1 || (CASE WHEN doc_id % 7 = 0 THEN l1[1:2] ELSE [] END) AS ls FROM inj)"

  /** TextAnalysis.stopwords as a SQL list body — keeps the gopher oracle in
    * lock-step with the Spark-side stopword list. */
  val stopListSql: String =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  /** The corpus payload-format wheel (Corpus.formatOf) in SQL — shared by
    * the extract_formats / pipeline_curate oracles and [[formatRollupSql]]. */
  val formatFromSql: String =
    "CASE WHEN doc_id % 2 = 0 THEN 'html' ELSE CASE doc_id % 24 " +
      "WHEN 1 THEN 'docx' WHEN 3 THEN 'pdf' WHEN 5 THEN 'pptx' WHEN 7 THEN 'xlsx' " +
      "WHEN 9 THEN 'odt' WHEN 11 THEN 'odp' WHEN 13 THEN 'ods' WHEN 15 THEN 'rtf' " +
      "WHEN 17 THEN 'doc' WHEN 19 THEN 'xls' WHEN 21 THEN 'ppt' ELSE 'epub' END END"

  /** [[formatRollup]] over the corpus: every document extracts, so bytes
    * out are the source characters and there are no failures. */
  val formatRollupSql: String =
    "SELECT " + formatFromSql + " AS format_from, " +
      "CAST(count(*) AS BIGINT) AS docs, CAST(sum(n_chars) AS BIGINT) AS bytes_out, " +
      "CAST(0 AS BIGINT) AS failures FROM documents GROUP BY 1 ORDER BY format_from"

  /** Sessions per user (a gap over 30 minutes starts one) — the batch
    * window query and the streaming sessionizer must agree on it. */
  val sessionsSql: String =
    "WITH x AS (SELECT user_id, ts, event_id, " +
      "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) " +
      "SELECT user_id, CAST(sum(CASE WHEN prev IS NULL OR " +
      "date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS sessions, " +
      "CAST(count(*) AS BIGINT) AS events FROM x GROUP BY user_id ORDER BY user_id"

  /** Shared CTE body: the near-dup verification corpus and its exhaustive
    * word-3-gram Jaccard >= 4/5 pair set (integer cross-multiplication). */
  val jaccardCorpusAndPairs: String =
    "corpus AS (SELECT doc_id AS id, text FROM documents UNION ALL " +
      "SELECT doc_id + 100000 AS id, " +
      "array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 50 != 0), ' ') AS text " +
      "FROM documents WHERE doc_id % 5 = 0), " +
      "w AS (SELECT id, string_split(text, ' ') AS words FROM corpus), " +
      "sh AS (SELECT DISTINCT id, CASE WHEN len(words) < 3 THEN array_to_string(words, ' ') " +
      "ELSE words[i] || ' ' || words[i+1] || ' ' || words[i+2] END AS s " +
      "FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i) t), " +
      "n AS (SELECT id, CAST(count(*) AS BIGINT) AS ns FROM sh GROUP BY id), " +
      "inter AS (SELECT a.id AS a_id, b.id AS b_id, CAST(count(*) AS BIGINT) AS i " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2), " +
      "pairs AS (SELECT i.a_id, i.b_id FROM inter i " +
      "JOIN n na ON na.id = i.a_id JOIN n nb ON nb.id = i.b_id " +
      "WHERE 5 * i.i >= 4 * (na.ns + nb.ns - i.i))"

  /** Shared oracle for the two jaccard-threshold dedup queries. */
  val jaccardOracle: String =
    s"WITH $jaccardCorpusAndPairs SELECT a_id, b_id FROM pairs ORDER BY a_id, b_id"

  /** ANN recall gate oracle: every query id must clear the recall floor. */
  val annRecallOracle: String =
    "SELECT vec_id AS qid, true AS recall_ok FROM embeddings WHERE vec_id < 5 ORDER BY qid"

  /** Exhaustive SimHash oracle: recomputes the 64-bit signature per doc in
    * SQL — FNV-1a word hashes via UBIGINT xor + HUGEINT multiply mod 2^64,
    * per-bit ±count vote, bit_or packing — then ALL pairs within hamming
    * distance 3. The Spark side only ever joins on 16-bit chunks
    * (pigeonhole banding), so matching this all-pairs oracle proves both
    * soundness and completeness of the banding. */
  val simhashOracle: String =
    "WITH corpus AS (SELECT doc_id AS id, text FROM documents UNION ALL " +
      "SELECT doc_id + 100000 AS id, " +
      "array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 50 != 0), ' ') AS text " +
      "FROM documents WHERE doc_id % 5 = 0), " +
      "wc AS (SELECT id, w, CAST(count(*) AS BIGINT) AS cnt " +
      "FROM corpus, UNNEST(list_filter(string_split(text, ' '), x -> x != '')) AS t(w) " +
      "GROUP BY id, w), " +
      "wh AS (SELECT id, cnt, CAST(list_reduce(" +
      "list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      "list_transform(string_split_regex(w, ''), c -> CAST(ord(c) AS HUGEINT))), " +
      "(acc, c) -> (xor(CAST(acc % 18446744073709551616 AS UBIGINT), CAST(c AS UBIGINT))::HUGEINT " +
      "* 1099511628211) % 18446744073709551616) AS UBIGINT) AS h FROM wc), " +
      "bits AS (SELECT id, b.bit, " +
      "sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN cnt ELSE -cnt END) AS v " +
      "FROM wh, (SELECT unnest(generate_series(0, 63)) AS bit) b GROUP BY id, b.bit), " +
      "usigs AS (SELECT id, bit_or(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << bit " +
      "ELSE CAST(0 AS UBIGINT) END) AS sig_u FROM bits GROUP BY id), " +
      "sigs AS (SELECT id, CASE WHEN sig_u >= CAST(9223372036854775808 AS UBIGINT) " +
      "THEN CAST(CAST(sig_u AS HUGEINT) - 18446744073709551616 AS BIGINT) " +
      "ELSE CAST(sig_u AS BIGINT) END AS sig FROM usigs) " +
      "SELECT a.id AS a_id, b.id AS b_id, " +
      "CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming " +
      "FROM sigs a JOIN sigs b ON a.id < b.id " +
      "WHERE bit_count(xor(a.sig, b.sig)) <= 3 ORDER BY a_id, b_id"
}
