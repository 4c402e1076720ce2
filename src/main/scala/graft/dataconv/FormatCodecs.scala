package graft.dataconv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Text-format parse/serialize (SURVEY §2.1 S5-S12) as column expressions.
  *
  * Reference semantics: /root/reference/formatParsers.js (csv :41-74,
  * ndjson :76-91, keyvalue :93-121, csvEscape :33-39) and the authoritative
  * Python server copy /root/reference/server.py:91-145. Where JS and Python
  * diverge (csv header order), the server wins (sorted — server.py:132).
  */
object FormatCodecs {

  // ---- CSV (S6 parse / S10 serialize / F12 escape) -------------------------

  /** csvEscape (/root/reference/formatParsers.js:33-39): quote iff the value
    * contains `"`, `,` or newline; double internal quotes. */
  def csvEscape(c: Column): Column = {
    val s = c.cast("string")
    when(s.rlike("[\",\n]"),
      concat(lit("\""), regexp_replace(s, "\"", "\"\""), lit("\"")))
      .otherwise(s)
  }

  /** Serialize one row's columns to an RFC-4180-ish csv line. */
  def toCsvLine(cols: Column*): Column =
    concat_ws(",", cols.map(csvEscape): _*)

  /** Parse a csv line to a struct with the given schema — RFC quote handling
    * (`""` escape) matches the reference's splitCsvLine
    * (/root/reference/formatParsers.js:1-31). */
  def parseCsvLine(line: Column, schema: StructType): Column =
    from_csv(line, schema, Map("escape" -> "\"", "quote" -> "\""))

  // ---- NDJSON (S7 parse / S11 serialize) -----------------------------------

  /** One JSON object per row (/root/reference/formatParsers.js:88-91). */
  def toNdjsonLine(cols: Column*): Column = to_json(struct(cols: _*))

  def parseNdjsonLine(line: Column, schema: StructType): Column =
    from_json(line, schema)

  // ---- key=value (S8 parse / S12 serialize / F13 first-`=` split) ----------

  /** Parse a key=value document to a map: per line trim; skip blank,
    * `#`-comment, and `=`-less lines; split at the FIRST `=`; trim key and
    * value (/root/reference/formatParsers.js:93-113). */
  def parseKeyValue(doc: Column): Column = {
    val lines = split(doc, "\r?\n")
    val kvLines = filter(lines, l =>
      (trim(l) =!= "") && !startswith(trim(l), lit("#")) && l.contains("="))
    map_from_entries(transform(kvLines, l => struct(
      trim(substring_index(l, "=", 1)),
      trim(l.substr(locate("=", l) + 1, length(l))))))
  }

  /** Serialize a map column to `key=value` lines
    * (/root/reference/formatParsers.js:115-121). */
  def stringifyKeyValue(m: Column): Column =
    array_join(transform(map_entries(m),
      e => concat(e.getField("key"), lit("="), e.getField("value"))), "\n")

  // ---- header-union aggregation (S10/A2) -----------------------------------

  /** Union of keys across all rows' map columns, sorted — the csv header
    * rule of the authoritative server (/root/reference/server.py:132).
    * Driver materialization is O(distinct keys), guarded by maxHeaders: a
    * pathological corpus (per-row unique keys) fails fast instead of
    * OOMing the driver. */
  def headerUnion(df: DataFrame, mapCol: String, maxHeaders: Int = 100000): Seq[String] = {
    import df.sparkSession.implicits._
    val keys = headerUnionDF(df, mapCol).limit(maxHeaders + 1).as[String].collect()
    require(keys.length <= maxHeaders,
      s"headerUnion: more than $maxHeaders distinct keys — not a tabular corpus")
    keys.toSeq
  }

  /** The distributed part of [[headerUnion]] (pre-collect): explode keys,
    * distinct (partial agg map-side), sort. Exposed so plan tests can pin
    * its shape without running the collect. */
  def headerUnionDF(df: DataFrame, mapCol: String): DataFrame =
    df.select(explode(map_keys(col(mapCol))).as("k"))
      .distinct().orderBy("k")

  // ---- K7 deterministic sample (Ada/Alan) ----------------------------------

  /** The reference's sample dataset in v1 shape
    * (/root/reference/converterService.js:52-74). */
  def sampleV1(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("Ada", "Lovelace", "ada@example.com", "1843-12-10", "true"),
      ("Alan", "Turing", "alan@example.com", "1936-06-01", "false"))
      .toDF("first_name", "last_name", "email", "created_at", "active")
  }
}
