package graft.sources

import java.io.{BufferedInputStream, Closeable, IOException}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.Job

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Spark file format over [[WarcSource.parseStream]] — the idiomatic
  * Spark read surface for WARC/1.1 segments (ISO 28500, the Common Crawl
  * container):
  *
  * {{{
  *   spark.read.format("warc").load("s3a://crawl/segments/")   // dir or glob
  * }}}
  *
  * Spark's file-source machinery does everything but the parsing: it
  * lists and globs the paths, packs whole segments into scan partitions
  * by its small-file rule (`spark.sql.files.maxPartitionBytes`,
  * `openCostInBytes`), exposes `_metadata` (a `_metadata.file_name` filter
  * skips segments before they are opened) and meters the scan (`numFiles`,
  * `filesSize`, `numOutputRows`). A segment is never split — per-record
  * gzip members are not independently seekable without an external index —
  * so a ~1 GB Common Crawl segment plans alone while small ones share a
  * task. Each segment streams off the Hadoop FS through the
  * one-record-at-a-time parser (O(one record) heap; a multi-GB segment
  * never materializes), filling only the columns the query reads: a
  * `select(url)` over a crawl does not copy payload bytes into rows. The
  * Hadoop conf reaches the readers as one broadcast per scan, as in
  * Spark's own formats, so a task ships only its files.
  *
  * This is the read path of the resumable WARC job (`perfbench`'s
  * `warc_resume` feeds it to `ResumableRunner`) and of ad-hoc queries over
  * raw segments, and the only code that opens a segment. Error semantics
  * are FAILFAST like Spark's file sources: malformed framing fails the task
  * with the parser's NAMED error, rethrown with the failing segment's path,
  * so a rotten segment stops the job. No job reads WARC in a containing
  * way, so there is no `mode` option.
  */
class WarcDataSource extends FileFormat with DataSourceRegister {
  override def shortName(): String = "warc"

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] =
    Some(WarcDataSource.schema)

  override def isSplitable(spark: SparkSession, options: Map[String, String],
                           path: Path): Boolean = false

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("the warc format is read-only")

  override def buildReader(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType, requiredSchema: StructType,
                           filters: Seq[Filter], options: Map[String, String],
                           hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val columns = requiredSchema.fieldNames
    file => WarcDataSource.readSegment(file.toPath.toString, conf.value.value, columns)
  }

  override def equals(other: Any): Boolean = other.isInstanceOf[WarcDataSource]
  override def hashCode(): Int = classOf[WarcDataSource].hashCode
}

object WarcDataSource {
  /** One row per HTTP response record. `file` carries provenance (which
    * segment), the rest mirror [[WarcSource.ParsedResponse]]. Nullable
    * throughout, as Spark's file relations declare every column. */
  val schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("url", StringType),
    StructField("date", StringType),
    StructField("status", IntegerType),
    StructField("content_type", StringType),
    StructField("payload", BinaryType)))

  /** The response records of one segment as rows of `columns` (an
    * unselected payload column is never copied). */
  private def readSegment(path: String, conf: Configuration,
                          columns: Array[String]): Iterator[InternalRow] = {
    val fileUtf8 = UTF8String.fromString(path)
    val getters = columns.map[WarcSource.ParsedResponse => Any] {
      case "file" => _ => fileUtf8
      case "url" => r => UTF8String.fromString(r.url)
      case "date" => r => UTF8String.fromString(r.date)
      case "status" => r => r.status
      case "content_type" => r => UTF8String.fromString(r.contentType)
      case "payload" => r => r.payload
      case other => throw new IllegalArgumentException(s"unknown warc column $other")
    }
    val row = new GenericInternalRow(getters.length)
    segmentRecords(path, conf).map { r =>
      var i = 0
      while (i < getters.length) { row.update(i, getters(i)(r)); i += 1 }
      row
    }
  }

  /** The response records of the segment at `path`, streamed off its Hadoop
    * FS (HDFS, S3A, file://) over a 64 KiB buffer. The segment closes
    * exactly once: at exhaustion, at the first failure, or at task end when
    * the task stops pulling early (limit, kill, a downstream throw), which
    * would otherwise leak the fd or S3A connection. The first failure,
    * opening included, is rethrown naming the segment: FAILFAST. */
  private def segmentRecords(path: String, conf: Configuration): Iterator[WarcSource.ParsedResponse] = {
    // the open stream, then the records over it (closing them also ends the
    // inflater); null once closed, so a task's listeners do not keep one
    // segment's buffers each until the task ends
    var source: Closeable = null
    def close(): Unit = if (source != null) {
      try source.close() catch { case NonFatal(_) => () }
      source = null
    }
    def fail(e: Throwable): Nothing = {
      close()
      throw new IOException(s"WARC segment $path: ${e.getMessage}", e)
    }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
    val records = try {
      val hp = new Path(path)
      val stream = new BufferedInputStream(hp.getFileSystem(conf).open(hp), 64 * 1024)
      source = stream
      val parsed = WarcSource.parseStream(stream)
      source = parsed
      parsed
    } catch { case NonFatal(e) => fail(e) }
    new Iterator[WarcSource.ParsedResponse] {
      def hasNext: Boolean = source != null && {
        val more = try records.hasNext catch { case NonFatal(e) => fail(e) }
        if (!more) close()
        more
      }
      def next(): WarcSource.ParsedResponse = if (hasNext) records.next() else Iterator.empty.next()
    }
  }
}
