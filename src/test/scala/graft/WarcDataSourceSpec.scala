package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{WarcDataSource, WarcSource}

/** DataSource V2 WARC connector: spark.read.format("warc") over segment
  * objects — schema, per-file partitioning, column pruning pushdown, glob
  * resolution, FAILFAST on malformed framing. */
class WarcDataSourceSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeSegments(dir: java.io.File): Unit = {
    val pagesA = (0L until 7L).map(i => (i, s"alpha doc $i"))
    val pagesB = (7L until 12L).map(i => (i, s"beta doc $i"))
    java.nio.file.Files.write(new java.io.File(dir, "seg0.warc").toPath,
      WarcSource.buildFile(0, pagesA, gzipPerRecord = false))
    java.nio.file.Files.write(new java.io.File(dir, "seg1.warc.gz").toPath,
      WarcSource.buildFile(1, pagesB, gzipPerRecord = true))
  }

  test("format(\"warc\") reads every response record of every segment, one partition per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2").toFile
    writeSegments(dir)
    val df = spark.read.format("warc").load(dir.getAbsolutePath)
    assert(df.schema == WarcDataSource.schema)
    val rows = df.select("file", "url", "status", "content_type", "payload")
      .as[(String, String, Int, String, Array[Byte])].collect()
      .sortBy(r => (r._2.length, r._2))
    assert(rows.length == 12)
    assert(rows.forall(_._3 == 200))
    assert(rows.forall(_._5.nonEmpty))
    assert(rows.count(_._1.endsWith("seg1.warc.gz")) == 5)
    val r0 = rows.find(_._2 == WarcSource.targetUri(0)).get
    assert(new String(r0._5, java.nio.charset.StandardCharsets.UTF_8) == "alpha doc 0")
    // one partition per segment object
    assert(df.rdd.getNumPartitions == 2)
  }

  test("column pruning reaches the scan: select(url) reads no payload column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_prune").toFile
    writeSegments(dir)
    val pruned = spark.read.format("warc").load(dir.getAbsolutePath).select("url")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("url"),
      scans.head.scan.readSchema().treeString)
    assert(pruned.as[String].collect().toSet ==
      (0L until 12L).map(WarcSource.targetUri).toSet)
  }

  test("the reader factory every task deserializes carries the Hadoop conf by broadcast (< 16 KiB)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_factory").toFile
    writeSegments(dir)
    val df = spark.read.format("warc").load(dir.getAbsolutePath)
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(scan.readerFactory)
    oos.close()
    assert(bytes.size < 16 * 1024, s"serialized reader factory is ${bytes.size} bytes")
    assert(df.count() == 12)
  }

  test("glob paths and multi-path load resolve deterministically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_glob").toFile
    writeSegments(dir)
    val viaGlob = spark.read.format("warc")
      .load(dir.getAbsolutePath + "/*.warc*").count()
    assert(viaGlob == 12)
    val viaPaths = spark.read.format("warc").load(
      new java.io.File(dir, "seg0.warc").getAbsolutePath,
      new java.io.File(dir, "seg1.warc.gz").getAbsolutePath).count()
    assert(viaPaths == 12)
    intercept[Exception] {
      spark.read.format("warc").load(dir.getAbsolutePath + "/nope*").count()
    }
  }

  test("malformed framing FAILFASTs the task with the parser's named error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_bad").toFile
    val full = WarcSource.buildFile(0, Seq((1L, "doc one")), gzipPerRecord = false)
    java.nio.file.Files.write(new java.io.File(dir, "bad.warc").toPath,
      full.take(full.length - 3))
    val e = intercept[Exception] {
      spark.read.format("warc").load(dir.getAbsolutePath).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("truncated")), messages(e).mkString(" | "))
  }
}
