package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.WebPage
import graft.pipeline.ExtractionPipeline

/** Structured Streaming surface (SURVEY §2.8): the reference's watch-service
  * and pipeline processors are 0-byte stubs (/root/reference/src/processors/
  * watch_service.py, pipeline.py), so this is the from-scratch design — the
  * batch extraction kernel lifted unchanged onto a stream.
  *
  * Semantics at scale:
  *  - source: file-stream over the webpages table directory (new parquet
  *    files = new documents; an Iceberg/Kafka source drops in unchanged);
  *  - exactly-once: the checkpoint dir tracks processed files — the
  *    streaming analog of the batch partition manifest;
  *  - the kernel is stateless per document, so no state store is involved.
  */
object StreamingExtraction {

  /** Continuous extraction job over a webpages directory. AvailableNow
    * drains everything present then stops — the batch-equivalent trigger;
    * pass ProcessingTime for a long-running tail. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val pages = spark.readStream
      .schema(Encoders.product[WebPage].schema)
      .parquet(inDir)
      .as(Encoders.product[WebPage])
    ExtractionPipeline.kernel(pages).writeStream
      .format("parquet")
      .option("path", s"$outDir/results")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
