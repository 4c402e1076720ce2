package graft.dataconv

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.udf

/** JSON pretty-printing that is byte-compatible with the reference server's
  * `json.dumps(payload, indent=2)` (/root/reference/server.py:121-122):
  * 2-space indent, `": "` key separator, `,` item separator, ensure_ascii
  * escaping (every char outside 0x20-0x7E becomes lowercase `\uXXXX`,
  * with the C-encoder's short escapes for `\" \\ \b \f \n \r \t`).
  * Spark's to_json cannot produce this (compact only), so golden-fixture
  * comparison of JSON output against the reference needs this formatter.
  *
  * Scope: the reference's record model — strings, booleans, integers,
  * nested objects (v3), arrays, null. Floats are rejected (Python repr
  * float formatting is out of the pinned fixture scope).
  */
object PrettyJson {

  /** Python ensure_ascii string escaping. */
  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < 0x20 || c > 0x7e => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Render any supported value at the given indent level. A Row renders as
    * an object in FIELD ORDER — struct field order is the Spark analog of
    * the reference dicts' insertion order (server.py:194-219). */
  def render(value: Any, level: Int = 0): String = {
    val pad = "  " * level
    val padIn = "  " * (level + 1)
    value match {
      case null => "null"
      case b: Boolean => if (b) "true" else "false"
      case s: String => "\"" + escape(s) + "\""
      case i: Int => i.toString
      case l: Long => l.toString
      case s: Short => s.toString
      case b: Byte => b.toString
      case r: Row =>
        val schema = r.schema
        require(schema != null, "PrettyJson.render needs a schema-carrying Row")
        if (schema.isEmpty) "{}"
        else schema.fields.zipWithIndex.map { case (f, i) =>
          s"""$padIn"${escape(f.name)}": ${render(r.get(i), level + 1)}"""
        }.mkString("{\n", ",\n", s"\n$pad}")
      case xs: scala.collection.Seq[_] =>
        if (xs.isEmpty) "[]"
        else xs.map(x => padIn + render(x, level + 1)).mkString("[\n", ",\n", s"\n$pad]")
      case other =>
        throw new IllegalArgumentException(
          s"PrettyJson scope: unsupported type ${other.getClass.getName}")
    }
  }

  /** Column form: a struct column -> its pretty-printed object. */
  def prettyStruct(c: Column): Column = {
    val f = udf((r: Row) => render(r))
    f(c)
  }
}
