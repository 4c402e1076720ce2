package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.Corpus
import graft.pipeline.ExtractionPipeline
import graft.queries._

/** Driver contract: one query per implemented operator family (SURVEY.md
  * §2), each with a DuckDB-equivalent oracle SQL. Kernel operators
  * (HTML/PDF extraction) are oracled end-to-end through the corpus
  * round-trip invariant: extracted text with newlines respaced ==
  * documents.text. Each query is one [[Query]] record in its tier's file
  * under `graft.queries`; `queries` and `oracleSql` are views of them.
  */
object SparkEntry {

  /** Flagship: extraction over the synthesized sf0.001 corpus — one row per
    * (format, success) with byte-identity match counts. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Corpus.materialize(spark, "/root/testdata/sf0.001")
    ExtractionPipeline.verifyAgainstGolden(pages, spark.sparkContext.defaultParallelism)
      .groupBy(col("format_from"), col("success"))
      .agg(count(lit(1)).as("docs"), sum(when(col("matches"), 1L).otherwise(0L)).as("matched"))
  }

  /** Every oracled query, tier by tier. */
  val records: Seq[Query] = Seq(ExtractionQueries.all, DataConvQueries.all, FunctionQueries.all,
    TextOpsQueries.all, DedupQueries.all, SimilarityQueries.all, MultimodalQueries.all,
    PipelineQueries.all, RelationalQueries.all, CurationQueries.all, SourceQueries.all).flatten

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    records.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] = records.map(q => q.name -> q.oracleSql).toMap
}
