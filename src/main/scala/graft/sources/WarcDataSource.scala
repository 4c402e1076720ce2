package graft.sources

import java.io.{Closeable, IOException}
import java.util

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector over [[WarcSource.parseStream]] — the idiomatic
  * Spark read surface for WARC/1.1 segments (ISO 28500, the Common Crawl
  * container):
  *
  * {{{
  *   spark.read.format("warc").load("s3a://crawl/segments/")   // dir or glob
  * }}}
  *
  * Whole .warc(.gz) objects are packed into scan partitions by the rule
  * Spark's own file sources use ([[WarcDataSource.planSegments]]): a
  * segment is never split — per-record gzip members are not independently
  * seekable without an external index — but small segments share a task,
  * so a directory of many small segments does not cost one task (and one
  * set of shuffle files) per object, while a ~1 GB Common Crawl segment
  * still plans alone. Each partition streams its segments one after
  * another off the Hadoop FS through the one-record-at-a-time parser
  * (O(one record) heap, one segment open at a time; a multi-GB segment
  * never materializes). Column pruning is pushed down: a `select(url)`
  * over a crawl does not copy payload bytes into rows.
  * The driver's Hadoop conf reaches the readers as one broadcast per scan,
  * as in Spark's own file scans, so each task ships only its segment paths
  * and the pruned schema, and each executor deserializes the conf once.
  *
  * Error semantics are FAILFAST like Spark's file sources: malformed
  * framing fails the task with the parser's NAMED error, rethrown with the
  * failing segment's path. The extraction pipeline's per-file CONTAINMENT
  * path (one failure row per rotten segment, job survives) is
  * [[WarcSource.extractFromWarcFiles]] — use that for production ingest;
  * this connector is the queryable relational view of raw segments.
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarcTable(new CaseInsensitiveStringMap(properties))
  override def supportsExternalMetadata(): Boolean = false
}

object WarcDataSource {
  /** One row per HTTP response record. `file` carries provenance (which
    * segment), the rest mirror [[WarcSource.ParsedResponse]]. */
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("date", StringType, nullable = false),
    StructField("status", IntegerType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Expand the `path`/`paths` read options through the Hadoop FS (glob-
    * aware, directory-expanding) into the listed segments' statuses,
    * deterministic order by path. `paths` arrives as
    * the JSON array DataFrameReader.load(p*) encodes; the values are
    * framework-authored (no escapes beyond \" and \\ in practice), parsed
    * here without a JSON library dependency. */
  def resolvePaths(options: CaseInsensitiveStringMap,
                   conf: org.apache.hadoop.conf.Configuration): Seq[FileStatus] = {
    val raw: Seq[String] =
      Option(options.get("paths")).map(parseJsonStringArray).getOrElse(Seq.empty) ++
        Option(options.get("path")).toSeq
    require(raw.nonEmpty, "warc source needs a path: spark.read.format(\"warc\").load(<path>)")
    raw.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val matches = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      require(matches.nonEmpty, s"warc path matches nothing: $p")
      matches.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }
    }.distinctBy(_.getPath.toString).sortBy(_.getPath.toString)
  }

  /** Whole segments packed into scan partitions, by the rule Spark's file
    * sources apply to small files, with the confs they read:
    * `maxSplitBytes = min(spark.sql.files.maxPartitionBytes,
    * max(openCostInBytes, (total bytes + n * openCostInBytes) / p))`, where
    * p is `spark.sql.files.minPartitionNum`, else the leaf-node default
    * parallelism (`spark.sql.leafNodeDefaultParallelism`, else the
    * context's). Segments, as (path, length), go largest first (path
    * breaks ties) into next-fit partitions, each counting its length plus
    * the open cost. A segment is never split, so one past `maxSplitBytes`
    * plans alone. Both WARC read paths plan here. */
  def planSegments(spark: SparkSession, segments: Seq[(String, Long)]): Seq[Seq[String]] = {
    val session = ClassicConversions.castToImpl(spark)
    val conf = session.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val parallelism = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(session.sparkContext.defaultParallelism))
    val totalBytes = segments.map(_._2 + openCost).sum
    val maxSplitBytes = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / parallelism))
    pack(segments, maxSplitBytes, openCost)
  }

  /** Next-fit packing of (path, length) segments, largest first: a
    * partition closes when the next segment's length would take it past
    * `maxSplitBytes`; every segment counts its length plus `openCost`. */
  private def pack(segments: Seq[(String, Long)], maxSplitBytes: Long,
                   openCost: Long): Seq[Seq[String]] = {
    val partitions = Seq.newBuilder[Seq[String]]
    var current = Vector.empty[String]
    var currentSize = 0L
    segments.sortBy { case (path, len) => (-len, path) }.foreach { case (path, len) =>
      if (current.nonEmpty && currentSize + len > maxSplitBytes) {
        partitions += current
        current = Vector.empty
        currentSize = 0L
      }
      current :+= path
      currentSize += len + openCost
    }
    if (current.nonEmpty) partitions += current
    partitions.result()
  }

  private def parseJsonStringArray(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    var cur: StringBuilder = null
    while (i < s.length) {
      val c = s.charAt(i)
      if (cur == null) { if (c == '"') cur = new StringBuilder }
      else c match {
        case '\\' if i + 1 < s.length => cur.append(s.charAt(i + 1)); i += 1
        case '"' => out += cur.toString; cur = null
        case other => cur.append(other)
      }
      i += 1
    }
    out.result()
  }
}

private[sources] class WarcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "warc"
  override def schema(): StructType = WarcDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // table-level options carry the load() paths; scan options may add more
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(scanOptions.asCaseSensitiveMap())
    new WarcScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class WarcScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new WarcScan(options, required)
}

/** The segments one scan task reads, in order. */
private[sources] case class WarcInputPartition(paths: Seq[String]) extends InputPartition

private[sources] class WarcScan(options: CaseInsensitiveStringMap,
                                required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    "graft WARC segments (whole segments packed into size-balanced partitions)"

  // driver-side only (plan time): the active session and its Hadoop conf
  private def session = SparkSession.active

  override def planInputPartitions(): Array[InputPartition] = {
    val segments = WarcDataSource.resolvePaths(options, session.sparkContext.hadoopConfiguration)
    WarcDataSource.planSegments(session, segments.map(s => s.getPath.toString -> s.getLen))
      .map(WarcInputPartition(_): InputPartition).toArray
  }

  // one broadcast per scan, as Spark's own file scans do: the factory is
  // serialized into every task, the conf (~100 KB) is fetched once per executor
  override def createReaderFactory(): PartitionReaderFactory = {
    val sc = session.sparkContext
    new WarcReaderFactory(sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)), required)
  }
}

private[sources] class WarcReaderFactory(conf: Broadcast[SerializableConfiguration],
                                         required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(partition.asInstanceOf[WarcInputPartition].paths,
      conf.value.value, required)
}

/** Streams the response records of a partition's segments, one segment
  * after another, projecting only the pruned columns (an unselected payload
  * column is never copied). One segment is open at a time, closed before
  * the next opens; a failure is rethrown naming the segment it came from. */
private[sources] class WarcPartitionReader(paths: Seq[String],
                                           conf: org.apache.hadoop.conf.Configuration,
                                           required: StructType)
    extends PartitionReader[InternalRow] {

  private val pending = paths.iterator
  private var path: String = _
  private var fileUtf8: UTF8String = _
  private var records: Iterator[WarcSource.ParsedResponse] with Closeable = _
  // column extractors bound once per reader, in required-schema order
  private val getters: Array[WarcSource.ParsedResponse => Any] =
    required.fields.map[WarcSource.ParsedResponse => Any] { f =>
      f.name match {
        case "file" => _ => fileUtf8
        case "url" => r => UTF8String.fromString(r.url)
        case "date" => r => UTF8String.fromString(r.date)
        case "status" => r => r.status
        case "content_type" => r => UTF8String.fromString(r.contentType)
        case "payload" => r => r.payload
        case other => throw new IllegalArgumentException(s"unknown warc column $other")
      }
    }

  private var current: WarcSource.ParsedResponse = _
  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(getters.length)

  /** `body`, with a failure rethrown naming the current segment. */
  private def inSegment[T](body: => T): T =
    try body catch {
      case NonFatal(e) => throw new IOException(s"WARC segment $path: ${e.getMessage}", e)
    }

  override def next(): Boolean = {
    while (records == null || !inSegment(records.hasNext)) {
      close()
      if (!pending.hasNext) return false
      path = pending.next()
      fileUtf8 = UTF8String.fromString(path)
      records = inSegment(WarcSource.openSegment(path, conf))
    }
    current = inSegment(records.next())
    true
  }

  override def get(): InternalRow = {
    var i = 0
    while (i < getters.length) { row.update(i, getters(i)(current)); i += 1 }
    row
  }

  // the open segment's stream and inflater
  override def close(): Unit = if (records != null) {
    val open = records
    records = null
    open.close()
  }
}
