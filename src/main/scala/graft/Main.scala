package graft

import org.apache.spark.sql.functions._

import graft.fixtures.Corpus
import graft.pipeline.{ExtractionPipeline, ResumableRunner}
import graft.util.NioLocalFileSystem

/** spark-submit entry point for the extraction job.
  *
  * Usage: graft.Main <sfDir> <outDir>
  *
  * Synthesizes the webpages corpus from <sfDir>/documents.parquet (stand-in
  * for reading the production Iceberg webpages table), runs the resumable
  * extraction, writes results + manifest + metrics under <outDir>, and
  * prints a per-format verification summary (byte-identity vs golden).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_run"

    val spark = LocalSpark.session(LocalSpark.defaultCores, "graft-extraction")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val pages = Corpus.materialize(spark, sfDir)

    // resumable run (partition-granular manifest under outDir)
    val runId = s"run_${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
    val summary = ResumableRunner.run(spark, pages, outDir, runId, numBuckets = 64)
    println(s"[main] $summary")

    // correctness: byte-identity per url vs golden
    val results = spark.read.parquet(s"$outDir/results")
    val golden = pages.select(col("url"), col("text").as("expected"))
    // neither side's text is ever null (the kernels and the golden builder
    // both return strings), so `===` decides every row
    val matches = col("success") && col("text") === col("expected")
    val check = results.join(golden, Seq("url"))
      .groupBy(col("format_from"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(matches, 1L).otherwise(0L)).as("matches"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("failures"))
      .orderBy("format_from")
    val checkRows = check.collect()
    spark.createDataFrame(java.util.Arrays.asList(checkRows: _*), check.schema).show(truncate = false)

    // metrics table (per-partition lineage)
    val metrics = ExtractionPipeline.metrics(
      results.as[graft.model.ExtractionResult], runId)
    metrics.write.mode("overwrite").options(NioLocalFileSystem.writeOptions)
      .parquet(s"$outDir/metrics")
    val m = spark.read.parquet(s"$outDir/metrics")
      .agg(sum("docs"), sum("bytes_in"), sum("failures")).head()
    println(s"[main] metrics total: docs=${m.get(0)} bytes_in=${m.get(1)} failures=${m.get(2)}")

    val nbad = checkRows.map(r => r.getAs[Long]("docs") - r.getAs[Long]("matches")).sum
    println(s"[main] byte-identity violations: $nbad")
    if (nbad > 0) results.join(golden, Seq("url")).filter(!matches)
      .select("url", "format_from", "success", "error").show(10, truncate = false)
    spark.stop()
    if (nbad > 0) sys.exit(1)
  }
}
