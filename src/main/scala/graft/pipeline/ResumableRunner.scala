package graft.pipeline

import java.io.IOException
import java.security.MessageDigest
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

import graft.extract.Extractor
import graft.model.{ExtractionResult, ManifestEntry, WebPage}
import graft.util.NioLocalFileSystem

/** Checkpoint/resumable extraction at partition granularity (north_rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Documents are assigned to stable buckets by an MD5-based hash of the url
  * (platform/JVM independent — NOT String.hashCode). A run writes:
  *   outDir/results/ partitioned by bucket (dynamic partition overwrite, so
  *     a re-run of a bucket is idempotent — rewrite-safe per SURVEY §7.3.4);
  *   outDir/manifest/ one row per completed bucket.
  * Resume = left-anti join of the input's buckets against the manifest:
  * every input row is still scanned and bucketed, and the join drops the
  * rows of finished buckets after the scan, so only unfinished buckets are
  * shuffled, re-extracted and re-written.
  *
  * Scale properties: no driver-side per-document state — the only driver
  * materialization is the manifest, O(numBuckets). All filesystem access
  * goes through the Hadoop FileSystem API (works on HDFS/S3A, not just
  * file://). A run is one Spark job that extracts and writes `results/`;
  * the driver then writes the O(numBuckets) manifest rows itself with
  * parquet-mr, with no Spark job. A run never reads `results/` back, so a
  * fresh run costs no O(docs) re-scan and a resumed one never touches
  * finished buckets' output. Both writes carry
  * [[NioLocalFileSystem.writeOptions]], so a `file:` output starts no
  * `chmod` process per file.
  *
  * Exactly-once counts: the per-bucket docs and failures come from a
  * [[BucketCounts]] accumulator fed by the kernel inside the write job.
  * That kernel runs in the write's result stage. Spark merges a result
  * task's accumulator update only for the first successful attempt of each
  * partition, and drops the updates of failed attempts, so a retried or
  * speculative task is counted once and the counts match the committed
  * rows. If the job fails, `run` throws before the manifest is written.
  * The new manifest is the prior rows plus one row per bucket that had
  * rows in this run. Edge: a stale `partition_id=` dir under `results/`
  * (left by a crash before its manifest row was written) whose bucket has
  * no rows in this run is not marked done; any bucket with rows is
  * rewritten by the dynamic overwrite and marked done.
  */
object ResumableRunner {

  /** Stable, platform-independent bucket of a url. */
  def bucketOf(url: String, numBuckets: Int): Int = {
    val d = MessageDigest.getInstance("MD5").digest(url.getBytes("UTF-8"))
    val v = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) | ((d(2) & 0xff) << 8) | (d(3) & 0xff)
    math.floorMod(v, numBuckets)
  }

  /** [[bucketOf]] as a pure built-in column expression (codegen'd — no
    * ScalaUDF in the bucketing projection; PlanSpec pins this): the first 4
    * MD5 bytes read as a SIGNED 32-bit value, floorMod numBuckets. The
    * explicit sign fold keeps it byte-identical to bucketOf for EVERY
    * numBuckets (pmod of the unsigned value alone only agrees when
    * numBuckets is a power of two). */
  def bucketCol(url: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column = {
    val unsigned = conv(substring(md5(url.cast("binary")), 1, 8), 16, 10).cast("bigint")
    val signed = when(unsigned >= 2147483648L, unsigned - 4294967296L).otherwise(unsigned)
    pmod(signed, lit(numBuckets.toLong)).cast("int")
  }

  /** docs/failures cover the buckets THIS run processed; docsTotal adds the
    * prior manifest's docs (lineage carried forward, output not re-read). */
  final case class RunSummary(runId: String, bucketsTotal: Int, bucketsRun: Int,
                              docs: Long, failures: Long, docsTotal: Long)

  // public: Spark codegen instantiates encoders for this class
  final case class BucketedPage(
      bucket: Int, url: String, warc_ts: java.sql.Timestamp,
      html: Array[Byte], text: String, lang: String)

  /** The resume anti-join: drop every page whose bucket the manifest marks
    * done. The finished-bucket list is O(numBuckets) and BROADCAST — the
    * corpus side never shuffles for the resume decision (PlanSpec asserts
    * this shape). */
  def remainingAfterManifest(bucketed: org.apache.spark.sql.DataFrame,
                             doneBuckets: Set[Int]): org.apache.spark.sql.DataFrame = {
    if (doneBuckets.isEmpty) bucketed
    else {
      val spark = bucketed.sparkSession
      import spark.implicits._
      bucketed.join(
        doneBuckets.toSeq.toDF("bucket").hint("broadcast"), Seq("bucket"), "left_anti")
    }
  }

  /** Docs and failures per bucket of the rows the write job's kernel emits
    * (exactly once per committed row; see the object doc). */
  final class BucketCounts extends AccumulatorV2[ExtractionResult, Map[Int, (Long, Long)]] {
    private val counts = mutable.HashMap.empty[Int, Array[Long]] // bucket -> [docs, failures]
    private def slot(bucket: Int): Array[Long] = counts.getOrElseUpdate(bucket, new Array[Long](2))
    override def isZero: Boolean = counts.isEmpty
    override def copy(): BucketCounts = { val c = new BucketCounts; c.merge(this); c }
    override def reset(): Unit = counts.clear()
    override def add(r: ExtractionResult): Unit = {
      val c = slot(r.partition_id)
      c(0) += 1
      if (!r.success) c(1) += 1
    }
    override def merge(other: AccumulatorV2[ExtractionResult, Map[Int, (Long, Long)]]): Unit =
      other match {
        case o: BucketCounts => o.counts.foreach { case (b, oc) =>
          val c = slot(b); c(0) += oc(0); c(1) += oc(1)
        }
        case _ => throw new UnsupportedOperationException(s"cannot merge ${other.getClass}")
      }
    override def value: Map[Int, (Long, Long)] =
      counts.iterator.map { case (b, c) => b -> ((c(0), c(1))) }.toMap
  }

  private val manifestSchema = Encoders.product[ManifestEntry].schema

  /** The parquet schema Spark writes for [[ManifestEntry]]. */
  private val manifestParquetSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary run_id (STRING);
      |  required int32 partition_id;
      |  optional binary status (STRING);
      |  required int64 docs;
      |}""".stripMargin)

  /** Parquet's page size for both writes: 64 KiB, not the 1 MiB default.
    * parquet-mr sizes each file's compressor output buffer up front at the
    * page size, so at 1 MiB every bucket file (about a hundred rows on a
    * small run) allocated 1 MiB, a humongous object under G1's 1 MiB
    * regions. Snappy compresses in 64 KiB blocks, so the smaller pages
    * compress as well. */
  private val pageSize = 64 * 1024

  /** Parquet settings of the results write, per write like
    * [[NioLocalFileSystem.writeOptions]], never a session conf: small pages,
    * and no dictionary pages. `url` and `text` are unique per row, so a
    * dictionary only costs one more compressed page per column chunk and a
    * copy of every value into it. */
  private val resultsParquet = Map(
    "parquet.page.size" -> pageSize.toString,
    "parquet.enable.dictionary" -> "false")

  /** A parquet file Spark's reader reads: it skips names that start with `_`
    * or `.`, so a leftover `_tmp-` file or a `.crc` is no manifest. */
  private def visibleParquet(p: Path): Boolean = {
    val n = p.getName
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Replace the manifest under `dir` with `rows`, written by the driver with
    * no Spark job, in the layout a Spark overwrite leaves: one
    * `part-00000-<uuid>-c000.snappy.parquet`, `_SUCCESS`, and their `.crc`
    * files on a checksummed filesystem. The rows go in full to a hidden
    * `_tmp-<uuid>.parquet` first; then every other entry of `dir` is
    * deleted, the temp file renamed into place, and `_SUCCESS` created. A
    * crash before the rename leaves no visible manifest, so the next run
    * redoes every bucket, as after a crash inside Spark's overwrite (which
    * deletes the dir first); renaming before the delete could leave two
    * part files, and the prior rows would be counted twice. */
  private def writeManifest(conf: Configuration, dir: Path, rows: Seq[ManifestEntry]): Unit = {
    val uuid = UUID.randomUUID()
    val tmp = new Path(dir, s"_tmp-$uuid.parquet")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(manifestParquetSchema).withPageSize(pageSize)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try {
      val groups = new SimpleGroupFactory(manifestParquetSchema)
      rows.foreach { e =>
        val g = groups.newGroup()
        if (e.run_id != null) g.append("run_id", e.run_id)
        g.append("partition_id", e.partition_id)
        g.append("status", e.status)
        g.append("docs", e.docs)
        writer.write(g)
      }
    } finally writer.close()

    val fs = dir.getFileSystem(conf)
    try {
      fs.listStatus(dir).map(_.getPath).filter(_.getName != tmp.getName)
        .foreach(fs.delete(_, true))
      val part = new Path(dir, s"part-00000-$uuid-c000.snappy.parquet")
      if (!fs.rename(tmp, part)) throw new IOException(s"could not rename $tmp to $part")
      fs.create(new Path(dir, "_SUCCESS"), true).close()
    } finally {
      // an uncached instance is this write's own; the cached one is shared
      if (conf.getBoolean(s"fs.${fs.getUri.getScheme}.impl.disable.cache", false)) fs.close()
    }
  }

  def run(spark: SparkSession, pages: Dataset[WebPage], outDir: String,
          runId: String, numBuckets: Int): RunSummary =
    run(spark, pages, outDir, runId, numBuckets, NioLocalFileSystem.writeOptions)

  /** [[run]] with the results and manifest writes given `writeOptions` (the
    * tests compare [[NioLocalFileSystem.writeOptions]] with none); the
    * results write also gets [[resultsParquet]]. */
  private[graft] def run(spark: SparkSession, pages: Dataset[WebPage], outDir: String,
                         runId: String, numBuckets: Int,
                         writeOptions: Map[String, String]): RunSummary = {
    import spark.implicits._

    val manifestDir = s"$outDir/manifest"
    val resultsDir = s"$outDir/results"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(outDir).getFileSystem(hconf)

    // Prior manifest rows, collected eagerly: (a) O(numBuckets), never
    // O(docs), so the driver holds it at any scale; (b) the manifest path
    // is overwritten below — a lazy plan would re-read deleted files. The
    // schema is known, so no footer-inference job runs.
    val manifestPath = new Path(manifestDir)
    val prior: Array[ManifestEntry] =
      if (fs.exists(manifestPath) &&
          fs.listStatus(manifestPath).exists(s => visibleParquet(s.getPath))) {
        spark.read.schema(manifestSchema).parquet(manifestDir)
          .filter(col("status") === "done").as[ManifestEntry].collect()
      } else Array.empty[ManifestEntry]
    val doneBuckets: Set[Int] = prior.map(_.partition_id).toSet

    val bucketed = pages.withColumn("bucket", bucketCol(col("url"), numBuckets))
    val remaining = remainingAfterManifest(bucketed, doneBuckets)

    val counts = new BucketCounts
    spark.sparkContext.register(counts, s"graft bucket counts $runId")

    // golden `text` is blanked before the shuffle — the kernel reads only
    // `html`; verification joins the source table by url afterwards
    val results: Dataset[ExtractionResult] = remaining
      .withColumn("text", lit(""))
      .repartition(col("bucket"))
      // `as` binds columns by name: a `select` here would put a Project
      // between the shuffle read and the deserializer, one more copy of
      // every row and its payload
      .as[BucketedPage]
      .mapPartitions { it =>
        it.map { p =>
          val r = Extractor.extractOne(WebPage(p.url, p.warc_ts, p.html, p.text, p.lang), p.bucket)
          counts.add(r)
          r
        }
      }

    // per-WRITE dynamic overwrite (only the buckets this run produced are
    // replaced) — scoped to this writer, not a session-wide conf mutation
    // that would silently change overwrite semantics for caller code
    results.write.mode(SaveMode.Overwrite).options(writeOptions ++ resultsParquet)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("partition_id").parquet(resultsDir)

    val fresh: Seq[(Int, (Long, Long))] = counts.value.toSeq.sortBy(_._1)
    val manifest: Seq[ManifestEntry] =
      prior.toSeq ++ fresh.map { case (b, (docs, _)) => ManifestEntry(runId, b, "done", docs) }
    val writeConf = new Configuration(hconf)
    writeOptions.foreach { case (k, v) => writeConf.set(k, v) }
    writeManifest(writeConf, manifestPath, manifest)

    RunSummary(runId, numBuckets,
      bucketsRun = fresh.size,
      docs = fresh.map(_._2._1).sum,
      failures = fresh.map(_._2._2).sum,
      docsTotal = manifest.map(_.docs).sum)
  }
}
