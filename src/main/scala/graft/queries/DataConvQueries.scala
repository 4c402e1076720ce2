package graft.queries

import org.apache.spark.sql.functions._

import graft.dataconv.{FormatCodecs, VersionMappers}

import Shared._

/** Structured-data conversion (K4, S5-S12, F1-F4, P1-P4): schema-version
  * mapping, csv / ndjson / key-value / pretty-JSON codecs, file chunking. */
object DataConvQueries {

  val all: Seq[Query] = Seq(
    Query("dc_v1_to_v2", "SELECT c_custkey, " +
        "trim('Cust' || ' ' || lpad(CAST(c_custkey AS VARCHAR), 9, '0')) AS full_name, " +
        "'cust' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email_address, " +
        "'2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') AS created_at, " +
        "CASE WHEN c_custkey % 3 = 1 THEN 'inactive' ELSE 'active' END AS status " +
        "FROM customer ORDER BY c_custkey") { (s, dir) =>
      VersionMappers.mapVersion(v1FromCustomer(s, dir), "v1", "v2", keep = Seq("c_custkey"))
        .select(col("c_custkey"), col("fullName").as("full_name"),
          col("emailAddress").as("email_address"), col("createdAt").as("created_at"),
          col("status"))
        .orderBy("c_custkey")
    },
    Query("dc_v2_to_v3", "SELECT c_custkey, 'Cust' AS name_first, " +
        "lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS name_last, " +
        "'cust' || CAST(c_custkey AS VARCHAR) || '@example.com' AS contact_email, " +
        "'2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') AS meta_created_at, " +
        "(c_custkey % 2 = 0) AS meta_active FROM customer ORDER BY c_custkey") { (s, dir) =>
      VersionMappers.mapVersion(v2FromCustomer(s, dir), "v2", "v3", keep = Seq("c_custkey"))
        .select(col("c_custkey"),
          col("name.first").as("name_first"), col("name.last").as("name_last"),
          col("contact.email").as("contact_email"),
          col("meta.createdAt").as("meta_created_at"), col("meta.active").as("meta_active"))
        .orderBy("c_custkey")
    },
    Query("dc_v3_roundtrip", "SELECT c_custkey, 'Cust' AS first_name, " +
        "lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS last_name, " +
        "'cust' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email, " +
        "'2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') AS created_at, " +
        "(c_custkey % 2 = 0) AS active FROM customer ORDER BY c_custkey") { (s, dir) =>
      VersionMappers.mapVersion(v3FromCustomer(s, dir), "v3", "v1", keep = Seq("c_custkey"))
        .orderBy("c_custkey")
    },
    Query("dc_sample", "SELECT * FROM (VALUES " +
        "('Ada Lovelace', 'ada@example.com', '1843-12-10', 'active'), " +
        "('Alan Turing', 'alan@example.com', '1936-06-01', 'inactive')) " +
        "AS t(full_name, email_address, created_at, status) ORDER BY full_name") { (s, dir) =>
      VersionMappers.mapVersion(FormatCodecs.sampleV1(s), "v1", "v2")
        .select(col("fullName").as("full_name"), col("emailAddress").as("email_address"),
          col("createdAt").as("created_at"), col("status"))
        .orderBy("full_name")
    },
    Query("dc_csv_roundtrip", "SELECT c_custkey, c_name, 'seg \"' || c_mktsegment || '\", ok' AS note " +
        "FROM customer ORDER BY c_custkey") { (s, dir) =>
      val base = s.read.parquet(s"$dir/customer.parquet").select(
        col("c_custkey"), col("c_name"),
        concat(lit("seg \""), col("c_mktsegment"), lit("\", ok")).as("note"))
      val line = FormatCodecs.toCsvLine(col("c_custkey"), col("c_name"), col("note"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, note STRING")
      base.select(FormatCodecs.parseCsvLine(line, schema).as("r"))
        .select(col("r.c_custkey").as("c_custkey"), col("r.c_name").as("c_name"),
          col("r.note").as("note"))
        .orderBy("c_custkey")
    },
    Query("dc_ndjson_roundtrip",
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey") { (s, dir) =>
      val base = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE")
      base.select(FormatCodecs.parseNdjsonLine(
          FormatCodecs.toNdjsonLine(col("c_custkey"), col("c_name"), col("c_acctbal")), schema).as("r"))
        .select(col("r.c_custkey").as("c_custkey"), col("r.c_name").as("c_name"),
          col("r.c_acctbal").as("c_acctbal"))
        .orderBy("c_custkey")
    },
    Query("dc_keyvalue_roundtrip", "SELECT c_custkey, c_name AS name, c_mktsegment AS segment, " +
        "c_acctbal AS balance FROM customer ORDER BY c_custkey") { (s, dir) =>
      val doc = concat(
        lit("# customer record\n"),
        lit("name = "), col("c_name"), lit("\n"),
        lit("segment="), col("c_mktsegment"), lit("\n"),
        lit("not a kv line\n"),
        lit("balance = "), col("c_acctbal").cast("string"))
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), FormatCodecs.parseKeyValue(doc).as("m"))
        .select(col("c_custkey"),
          element_at(col("m"), "name").as("name"),
          element_at(col("m"), "segment").as("segment"),
          element_at(col("m"), "balance").cast("double").as("balance"))
        .orderBy("c_custkey")
    },

    // A2/S10 header union: the csv-serialize header rule (sorted union of
    // all rows' keys) over a corpus whose rows carry different key sets
    Query("dc_header_union", "SELECT header FROM (VALUES ('balance'), ('name'), ('nation'), ('segment')) " +
        "AS t(header) ORDER BY header") { (s, dir) =>
      import s.implicits._
      val maps = s.read.parquet(s"$dir/customer.parquet").select(
        when(col("c_custkey") % 3 === 0,
          map(lit("name"), col("c_name"), lit("segment"), col("c_mktsegment")))
          .when(col("c_custkey") % 3 === 1,
            map(lit("name"), col("c_name"), lit("balance"), col("c_acctbal").cast("string")))
          .otherwise(map(lit("nation"), col("c_nationkey").cast("string"))).as("m"))
      FormatCodecs.headerUnion(maps, "m").toDF("header")
    },

    // S12 keyvalue serialize: map column -> key=value lines (entry order)
    Query("dc_keyvalue_serialize",
      "SELECT c_custkey, 'name=' || c_name || chr(10) || 'segment=' || c_mktsegment || " +
        "chr(10) || 'balance=' || CAST(c_acctbal AS VARCHAR) AS kv " +
        "FROM customer ORDER BY c_custkey") { (s, dir) =>
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"),
          FormatCodecs.stringifyKeyValue(
            map(lit("name"), col("c_name"),
              lit("segment"), col("c_mktsegment"),
              lit("balance"), col("c_acctbal").cast("string"))).as("kv"))
        .orderBy("c_custkey")
    },
    Query("dc_split_merge",
      "SELECT doc_id, CAST(greatest(ceil(strlen(text) / 256.0), 1) AS INT) AS n_parts, " +
        "text AS restored FROM documents ORDER BY doc_id") { (s, dir) =>
      val docs0 = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val chunks = graft.dataconv.FileChunks.split(docs0, "doc_id", "payload", 256)
      graft.dataconv.FileChunks.merge(chunks)
        .select(col("id").as("doc_id"), col("n_parts"),
          col("merged").cast("string").as("restored"))
        .orderBy("doc_id")
    },

    // S9 JSON serialize: byte-compatible with the server's
    // json.dumps(indent=2) — 2-space indent, ensure_ascii \uXXXX escapes,
    // python bool casing. The oracle rebuilds the exact string in SQL.
    Query("dc_json_pretty", "SELECT c_custkey, " +
        "'{' || chr(10) || " +
        "'  \"firstName\": \"Cust\",' || chr(10) || " +
        "'  \"lastName\": \"' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') || '\",' || chr(10) || " +
        "'  \"email\": \"cust' || CAST(c_custkey AS VARCHAR) || '@ex\\u00e4mple.com\",' || chr(10) || " +
        "'  \"createdAt\": \"2024-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') || '\",' || chr(10) || " +
        "'  \"active\": ' || CASE WHEN c_custkey % 2 = 0 THEN 'true' ELSE 'false' END || chr(10) || " +
        "'}' AS js FROM customer ORDER BY c_custkey") { (s, dir) =>
      val rec = struct(
        lit("Cust").as("firstName"),
        lpad(col("c_custkey").cast("string"), 9, "0").as("lastName"),
        concat(lit("cust"), col("c_custkey").cast("string"), lit("@exämple.com")).as("email"),
        concat(lit("2024-01-"), lpad((col("c_custkey") % 28 + 1).cast("string"), 2, "0")).as("createdAt"),
        (col("c_custkey") % 2 === 0).as("active"))
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), graft.dataconv.PrettyJson.prettyStruct(rec).as("js"))
        .orderBy("c_custkey")
    },
    Query("dc_json_parse", "SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k " +
        "FROM events ORDER BY event_id") { (s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .orderBy("event_id")
    }
  )
}
