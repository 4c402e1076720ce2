package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.dataconv.PrettyJson

/** Byte-compat of PrettyJson with the reference server's
  * json.dumps(indent=2) — golden strings below were produced by CPython's
  * json.dumps and pasted verbatim (not derived from the implementation). */
class PrettyJsonSpec extends AnyFunSuite {

  private def row(schema: StructType, values: Any*): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      values.toArray, schema)

  private val canonicalSchema = StructType(Seq(
    StructField("firstName", StringType), StructField("lastName", StringType),
    StructField("email", StringType), StructField("createdAt", StringType),
    StructField("active", BooleanType)))

  test("record list matches json.dumps(indent=2) byte for byte") {
    val recs = Seq(
      row(canonicalSchema, "Ada", "Lovelace", "ada@example.com", "1843-12-10", true),
      row(canonicalSchema, "Alan", "Turing", "alan@example.com", "1936-06-01", false))
    val want = "[\n  {\n    \"firstName\": \"Ada\",\n    \"lastName\": \"Lovelace\",\n    " +
      "\"email\": \"ada@example.com\",\n    \"createdAt\": \"1843-12-10\",\n    " +
      "\"active\": true\n  },\n  {\n    \"firstName\": \"Alan\",\n    " +
      "\"lastName\": \"Turing\",\n    \"email\": \"alan@example.com\",\n    " +
      "\"createdAt\": \"1936-06-01\",\n    \"active\": false\n  }\n]"
    assert(PrettyJson.render(recs) == want)
  }

  test("nesting, ensure_ascii escapes, ints, arrays, null, empties") {
    val nameS = StructType(Seq(StructField("first", StringType), StructField("last", StringType)))
    val contactS = StructType(Seq(StructField("email", StringType)))
    val metaS = StructType(Seq(
      StructField("createdAt", StringType), StructField("active", BooleanType),
      StructField("n", IntegerType), StructField("tags", ArrayType(StringType)),
      StructField("none", StringType),
      StructField("empty", StructType(Seq.empty)),
      StructField("elist", ArrayType(StringType))))
    val outer = StructType(Seq(
      StructField("name", nameS), StructField("contact", contactS), StructField("meta", metaS)))
    val r = row(outer,
      row(nameS, "Zoë", "O\"Hara\\x"),
      row(contactS, "z@例.com"),
      row(metaS, "2024-01-01\t", true, 42, Seq("a", "b"), null, row(StructType(Seq.empty)), Seq.empty[String]))
    val want = "{\n  \"name\": {\n    \"first\": \"Zo\\u00eb\",\n    \"last\": \"O\\\"Hara\\\\x\"\n  },\n" +
      "  \"contact\": {\n    \"email\": \"z@\\u4f8b.com\"\n  },\n" +
      "  \"meta\": {\n    \"createdAt\": \"2024-01-01\\t\",\n    \"active\": true,\n" +
      "    \"n\": 42,\n    \"tags\": [\n      \"a\",\n      \"b\"\n    ],\n" +
      "    \"none\": null,\n    \"empty\": {},\n    \"elist\": []\n  }\n}"
    assert(PrettyJson.render(r) == want)
  }

  test("control chars, DEL, and astral plane escape like CPython") {
    val s = StructType(Seq(StructField("s", StringType)))
    val want = "{\n  \"s\": \"\\u007f\\u001f emoji \\ud83d\\ude00\"\n}"
    assert(PrettyJson.render(row(s, " emoji 😀")) == want)
  }

  test("floats are out of scope and fail loudly") {
    val s = StructType(Seq(StructField("x", DoubleType)))
    intercept[IllegalArgumentException](PrettyJson.render(row(s, 1.5)))
  }
}
