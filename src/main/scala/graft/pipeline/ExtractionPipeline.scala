package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Extractor
import graft.model.{ExtractionResult, PartitionMetrics, WebPage}

/** The distributed extraction job (SURVEY §3.1 Spark trace):
  *
  *   read webpages -> project needed columns -> skew-salted, size-bucketed
  *   repartition -> mapPartitions(extraction kernel) -> results + metrics.
  *
  * Scale rationale (north_rule, 10^12 docs / 1000 executors):
  *  - the ONLY shuffle is the balancing repartition before the kernel; it
  *    hashes on (host, salt, size_bucket) so (a) one hot host cannot pin a
  *    single task (salt fan-out), (b) giant binaries spread across tasks
  *    (size bucket in the key), while small-dim locality stays irrelevant —
  *    extraction is embarrassingly parallel;
  *  - the kernel is a typed mapPartitions: per-partition setup amortized,
  *    no per-row process spawn (the reference's cost model,
  *    /root/reference/src/converters/document_converters.py:100-111);
  *  - no driver-side state: metrics/lineage are rows, not collections.
  */
object ExtractionPipeline {

  val saltBuckets = 16

  /** Columns the kernel needs — projected before the shuffle so parquet scan
    * prunes everything else. The golden `text` column exists only for
    * verification: with carryGolden=false (production / throughput runs) it
    * is blanked BEFORE the balancing repartition, so the shuffle moves the
    * payload once, not payload + expected-text twice. */
  def prepare(pages: Dataset[WebPage], parallelism: Int,
              carryGolden: Boolean = true): Dataset[WebPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val base = if (carryGolden) pages.toDF() else pages.toDF().withColumn("text", lit(""))
    base
      .withColumn("host", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(saltBuckets)))
      // log2 size bucket: giant payloads land in distinct shuffle keys
      .withColumn("size_bucket", ceil(log2(greatest(length(col("html")), lit(1)))))
      .repartition(parallelism, col("host"), col("salt"), col("size_bucket"))
      .select("url", "warc_ts", "html", "text", "lang")
      .as[WebPage]
  }

  /** Balance, then run the kernel; one result row per input document. */
  def extract(pages: Dataset[WebPage], parallelism: Int,
              carryGolden: Boolean = true): Dataset[ExtractionResult] =
    kernel(prepare(pages, parallelism, carryGolden))

  /** The extraction kernel on a batch or streaming Dataset: one result row
    * per page, tagged with the partition it ran in. [[extract]] and
    * [[graft.streaming.StreamingExtraction.run]] share this one body. */
  def kernel(pages: Dataset[WebPage]): Dataset[ExtractionResult] =
    pages.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map(p => Extractor.extractOne(p, pid))
    }(Encoders.product[ExtractionResult])

  /** Per-partition lineage + metrics rollup (north_rule: docs, bytes,
    * failures) — map-side combinable built-in aggregates. */
  def metrics(results: Dataset[ExtractionResult], runId: String): Dataset[PartitionMetrics] = {
    val spark = results.sparkSession
    import spark.implicits._
    results.groupBy(col("partition_id"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("original_size")).as("bytes_in"),
        sum(col("new_size")).as("bytes_out"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("failures"))
      .select(lit(runId).as("run_id"), col("partition_id"), col("docs"),
        col("bytes_in"), col("bytes_out"), col("failures"))
      .as[PartitionMetrics]
  }

  /** Correctness check used by tests and verification queries: per-url
    * byte-identity of extracted text vs the golden `text` column. */
  def verifyAgainstGolden(pages: Dataset[WebPage], parallelism: Int): DataFrame = {
    val spark = pages.sparkSession
    val golden = pages.select(col("url"), col("text").as("expected"))
    extract(pages, parallelism).toDF()
      .join(golden, Seq("url"))
      .select(col("url"), col("success"), col("format_from"),
        (col("success") && col("text") === col("expected")).as("matches"))
  }
}
