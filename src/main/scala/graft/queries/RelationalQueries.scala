package graft.queries

import org.apache.spark.sql.functions._

import Shared._

/** Relational coverage (§2.3 joins / §2.4 aggs / §2.5 windows) and the
  * scale layer (S13 size buckets / skew salting). */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    // Money sums as integer cents (round(x*100) -> BIGINT): bit-exact and
    // hash-representation-proof vs the oracle — DECIMAL physical encodings
    // differ between engines even when values agree.
    Query("rel_agg_pricing", "SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c, " +
        "CAST(count(*) AS BIGINT) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus") { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity") * 100).cast("bigint")).cast("bigint").as("sum_qty_c"),
          sum(round(col("l_extendedprice") * 100).cast("bigint")).cast("bigint").as("sum_base_price_c"),
          count(lit(1)).cast("bigint").as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Query("rel_join_topcust", "SELECT c_custkey, c_name, CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_spent_c " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_custkey, c_name ORDER BY c_custkey") { (s, dir) =>
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      // no broadcast() hint: the dimension is under the auto-broadcast
      // threshold here and a forced hint would pin a broadcast even at
      // 100x customer; size-based planning (+ AQE) picks the join side
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).cast("bigint").as("total_spent_c"))
        .orderBy("c_custkey")
    },
    Query("rel_window_latest_order",
      "WITH r AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS latest_date, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn " +
        "FROM orders) SELECT o_custkey, o_orderkey, latest_date FROM r WHERE rn = 1 ORDER BY o_custkey") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate").cast("date").as("latest_date"))
        .orderBy("o_custkey")
    },
    Query("rel_events_sessions", sessionsSql) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))) > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).cast("bigint").as("sessions"),
          count(lit(1)).cast("bigint").as("events"))
        .orderBy("user_id")
    },
    Query("rel_range_join", "SELECT l.l_orderkey, l.l_linenumber FROM lineitem l JOIN orders o " +
        "ON l.l_orderkey = o.o_orderkey AND l.l_shipdate >= o.o_orderdate " +
        "AND l.l_shipdate <= o.o_orderdate + INTERVAL 122 DAY " +
        "ORDER BY l.l_orderkey, l.l_linenumber") { (s, dir) =>
      val items = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 122 DAYS")).as("o_window_end"))
      graft.operators.RangeJoin.pointInInterval(
          items, "l_orderkey", "l_shipdate", orders, "o_orderkey", "o_orderdate", "o_window_end",
          bucketSeconds = 122L * 86400)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Query("rel_asof_join", "SELECT e.event_id, e.user_id, CAST(o.o_orderdate AS DATE) AS asof_date " +
        "FROM events e ASOF LEFT JOIN orders o " +
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate ORDER BY e.event_id") { (s, dir) =>
      val events = s.read.parquet(s"$dir/events.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet").select("o_custkey", "o_orderdate")
      graft.operators.AsOfJoin.asof(events, orders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate", valueCols = Seq("o_orderdate"))
        .select(col("event_id"), col("user_id"), col("o_orderdate").cast("date").as("asof_date"))
        .orderBy("event_id")
    },
    Query("rel_rollup", "SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST") { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("decimal(18,2)").as("revenue"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
    Query("rel_topk_parts", "SELECT l_partkey, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue " +
        "FROM lineitem GROUP BY l_partkey ORDER BY revenue DESC, l_partkey ASC LIMIT 10") { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("decimal(18,2)").as("revenue"))
        .orderBy(col("revenue").desc, col("l_partkey").asc)
        .limit(10)
    },
    Query("rel_setops_silent_cust", "SELECT o_custkey FROM orders EXCEPT SELECT user_id FROM events " +
        "ORDER BY o_custkey") { (s, dir) =>
      s.read.parquet(s"$dir/orders.parquet").select(col("o_custkey"))
        .except(s.read.parquet(s"$dir/events.parquet").select(col("user_id")))
        .orderBy("o_custkey")
    },
    Query("scale_size_buckets", "SELECT CAST(least(n_chars // 64, 7) AS INT) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS docs FROM documents GROUP BY 1 ORDER BY bucket") { (s, dir) =>
      docs(s, dir)
        .select(least(col("n_chars").divide(lit(64)).cast("long"), lit(7L)).cast("int").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).cast("bigint").as("docs"))
        .orderBy("bucket")
    },
    Query("scale_salt", "SELECT CAST((doc_id * 2654435761) % 16 AS INT) AS salt, " +
        "CAST(count(*) AS BIGINT) AS docs FROM documents GROUP BY 1 ORDER BY salt") { (s, dir) =>
      docs(s, dir)
        .select(pmod(col("doc_id") * 2654435761L, lit(16L)).cast("int").as("salt"))
        .groupBy("salt").agg(count(lit(1)).cast("bigint").as("docs"))
        .orderBy("salt")
    }
  )
}
