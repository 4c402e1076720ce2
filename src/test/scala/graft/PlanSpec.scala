package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.fixtures.Corpus
import graft.pipeline.{ExtractionPipeline, ResumableRunner}

/** Physical-plan shape assertions — the 100TB design invariants
  * (SURVEY §4.2): broadcast the small side, push filters/prune columns to
  * the parquet scan, and never shuffle more than the operator needs. These
  * are plan-level tests so a future refactor that silently regresses the
  * plan (e.g. loses pushdown behind an opaque lambda) fails CI. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  private def planString(df: DataFrame): String = planOf(df).toString

  /** AdaptiveSparkPlanExec is a leaf (its inner plan is not in `children`),
    * so count shuffle Exchange nodes in the rendered tree instead: shuffles
    * print as `Exchange hashpartitioning(...)` / `Exchange rangepartitioning`,
    * broadcasts as `BroadcastExchange` (excluded by the line anchor). */
  private def countShuffles(df: DataFrame): Int =
    "(?m)^[\\s+*:!-]*Exchange ".r.findAllIn(planString(df)).length

  test("customer-side join broadcasts the dimension (no shuffle of orders for the join)") {
    val df = SparkEntry.queries("rel_join_topcust")(spark, sfDir)
    assert(planString(df).contains("BroadcastHashJoin"), planString(df))
  }

  test("lineitem date filter is pushed to the parquet scan and columns are pruned") {
    val df = SparkEntry.queries("rel_agg_pricing")(spark, sfDir)
    val scan = planString(df)
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), scan)
    // projection needs 5 columns; pruned schema must not include l_partkey etc.
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_comment"), readSchema)
    assert(readSchema.contains("l_returnflag"), readSchema)
  }

  test("extraction pipeline shuffles exactly once (the balancing repartition)") {
    val pages = Corpus.materialize(spark, sfDir)
    val df = ExtractionPipeline.extract(pages, 8).toDF()
    assert(countShuffles(df) == 1, planString(df))
  }

  test("extraction metrics rollup adds exactly one more shuffle (partial agg map-side)") {
    val pages = Corpus.materialize(spark, sfDir)
    val res = ExtractionPipeline.extract(pages, 8)
    val df = ExtractionPipeline.metrics(res, "plan").toDF()
    assert(countShuffles(df) == 2, planString(df))
    // partial aggregation before the exchange (map-side combine)
    val s = planString(df)
    assert(s.contains("HashAggregate"), s)
  }

  test("exact dedup is a single-shuffle hash aggregate with partial combine") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val df = Dedup.exactDupGroups(docs, "text")
    assert(countShuffles(df) == 1, planString(df))
  }

  test("substring dedup: map-side partial agg on window df, no all-pairs shape") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = Dedup.substringDupSpans(docs, "doc_id", "text")
    val s = planString(df)
    assert(s.contains("HashAggregate"), s) // partial combine before the df exchange
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("corpus scan prunes to selected columns only") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "lang")
    val readSchema = planString(df).linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"), readSchema)
  }

  test("no query plan contains a cartesian product or non-broadcast nested-loop join") {
    // Exact brute-force top-k is BY DESIGN a broadcast nested-loop (tiny
    // query set broadcast against a streaming corpus — the corpus itself is
    // never duplicated or shuffled); every other query must stay clear of
    // all-pairs join shapes.
    val bnljAllowed = Set("sim_topk", "sim_ann_lsh", "sim_ann_ivf")
    // These queries EXECUTE at DataFrame-construction time (the resumable
    // pipeline runs twice, the streaming drain awaits termination, label
    // propagation iterates, headerUnion collects) and return a trivial
    // read of already-written output — asserting on that read would burn
    // minutes per `sbt test` without inspecting the heavy jobs. Their join
    // shapes are covered by their own specs.
    val eagerExcluded = Set("pipeline_resume", "stream_metrics", "stream_dedup",
      "dedup_clusters", "dc_header_union")
    for ((name, fn) <- SparkEntry.queries if !eagerExcluded(name)) {
      val plan = planString(fn(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      if (!bnljAllowed(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
  }

  // ---- component plans of the four eager-excluded queries ------------------
  // (pipeline_resume / stream_metrics / dedup_clusters / dc_header_union
  // EXECUTE at DataFrame-construction time, so the sweep above skips them;
  // their heavy component DataFrames are pinned here without running them.)

  test("resume bucketing is a pure expression (no ScalaUDF), byte-identical to bucketOf") {
    import spark.implicits._
    val urls = (0 until 500).map(i => s"https://h${i % 9}.example.org/x/doc$i").toDF("url")
    for (n <- Seq(64, 7)) { // a power of two AND a non-power (the sign fold matters)
      val got = urls.withColumn("b", ResumableRunner.bucketCol(col("url"), n))
        .as[(String, Int)].collect()
      got.foreach { case (u, b) =>
        assert(b === ResumableRunner.bucketOf(u, n), s"bucketCol($u, $n)")
      }
    }
    val plan = urls.withColumn("b", ResumableRunner.bucketCol(col("url"), 64))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("resume anti-join broadcasts the finished-bucket list (corpus never shuffles to resume)") {
    val pages = Corpus.materialize(spark, sfDir).toDF()
      .withColumn("bucket", pmod(length(col("url")), lit(64)).cast("int"))
    val df = graft.pipeline.ResumableRunner.remainingAfterManifest(pages, Set(1, 2, 3))
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftAnti"), s)
    assert(countShuffles(df) == 0, s) // broadcast only — no exchange of the corpus
  }

  test("streaming extraction kernel adds no shuffle over the source scan") {
    val pages = Corpus.materialize(spark, sfDir)
    val df = graft.pipeline.ExtractionPipeline.kernel(pages).toDF()
    assert(countShuffles(df) == 0, planString(df))
  }

  test("streaming dedup is ONE exchange on the digest key (state-store shape)") {
    import spark.implicits._
    val docs = Seq(graft.streaming.StreamingDedup.KeyedDoc(1L, "a")).toDS()
    val df = graft.streaming.StreamingDedup.firstSeen(docs).toDF()
    val s = planString(df)
    // batch mode lowers flatMapGroupsWithState to MapGroups (no state
    // store); the streaming lowering shares the same exchange shape
    assert(s.contains("MapGroups"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(countShuffles(df) == 1, s) // hash-partition by digest, nothing else
  }

  test("one cluster-propagation round: equi-joins + partial-agg min, no cartesian") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("id", "label")
    val df = graft.dedup.Dedup.propagationRound(edges, labels)
    val s = planString(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("HashAggregate"), s) // partial min before the exchange
  }

  test("header-union distributed part: explode -> distinct with map-side partial agg") {
    import spark.implicits._
    val maps = Seq(Map("a" -> "1"), Map("b" -> "2")).toDF("m")
    val df = graft.dataconv.FormatCodecs.headerUnionDF(maps, "m")
    val s = planString(df)
    assert(s.contains("HashAggregate") && s.contains("Generate"), s)
    assert(!s.contains("CartesianProduct"), s)
    // distinct (1 exchange) + the final sort (1 range exchange), nothing more
    assert(countShuffles(df) <= 2, s)
  }

  test("brute-force similarity broadcasts the query side") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val df = graft.similarity.Similarity.topKBruteForce(e, e.filter(col("vec_id") < 3), "vec_id", "v", 5)
    assert(planString(df).contains("BroadcastNestedLoopJoin") || planString(df).contains("BroadcastHashJoin"),
      planString(df))
  }
}
