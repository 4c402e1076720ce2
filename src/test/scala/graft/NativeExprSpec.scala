package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Corpus

/** Native Catalyst expression surface: same bytes as the kernel path, and
  * the expression stays inside whole-stage codegen (no UDF boundary). The
  * functions come from `GraftExtensions`, which every session built by
  * [[LocalSpark]] carries. */
class NativeExprSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("graft_extract_native matches the mapPartitions kernel byte-identically") {
    val pages = Corpus.materialize(spark, "/root/testdata/sf0.001").limit(100)
    pages.createOrReplaceTempView("webpages_native")
    val bad = spark.sql(
      """SELECT url FROM webpages_native
        |WHERE graft_extract_native(html) != text
        |   OR graft_sniff_native(html) NOT IN ('html', 'pdf', 'docx', 'rtf', 'doc', 'xls', 'ppt', 'gz')""".stripMargin).count()
    assert(bad == 0)
  }

  test("native expression does not break whole-stage codegen") {
    val pages = Corpus.materialize(spark, "/root/testdata/sf0.001")
    pages.createOrReplaceTempView("webpages_native2")
    val df = spark.sql(
      "SELECT length(graft_extract_native(html)) AS n FROM webpages_native2 WHERE length(html) > 10")
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` marks a whole-stage-codegen'd operator; the Project evaluating
    // the native expression must carry it (a ScalaUDF would not)
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("graft_extract_native") && l.contains("*(")), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    assert(df.agg(sum("n")).head().getLong(0) > 0)
  }
}
