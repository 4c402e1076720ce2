package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{lit, to_timestamp}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSupport.withTempDir
import graft.fixtures.Corpus
import graft.model.WebPage
import graft.pipeline.ResumableRunner
import graft.sources.{WarcDataSource, WarcSource}

/** The WARC file format: spark.read.format("warc") over segment objects —
  * schema, size-balanced packing of whole segments into partitions, column
  * pruning, glob resolution, `_metadata` pruning and scan metrics, FAILFAST
  * on malformed framing, and the resumable job reading its rows. */
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
    withTempDir("graft_dsv2") { dir =>
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
      // two tiny segments: each counts the 4 MB open cost, so they plan apart
      assert(df.rdd.getNumPartitions == 2)
    }
  }

  test("column pruning reaches the scan: select(url) reads no payload column") {
    withTempDir("graft_dsv2_prune") { dir =>
      writeSegments(dir)
      val pruned = spark.read.format("warc").load(dir.getAbsolutePath).select("url")
      val scans = pruned.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString)
      assert(scans.head.requiredSchema.fieldNames.toSeq == Seq("url"),
        scans.head.requiredSchema.treeString)
      assert(pruned.as[String].collect().toSet ==
        (0L until 12L).map(WarcSource.targetUri).toSet)
    }
  }

  test("the reader factory every task deserializes carries the Hadoop conf by broadcast (< 16 KiB)") {
    withTempDir("graft_dsv2_factory") { dir =>
      writeSegments(dir)
      val df = spark.read.format("warc").load(dir.getAbsolutePath)
      val scan = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }.head
      // the reader function the scan builds and ships in every task
      val relation = scan.relation
      val readFunction = relation.fileFormat.buildReaderWithPartitionValues(spark,
        relation.dataSchema, relation.partitionSchema, scan.requiredSchema, Nil,
        relation.options, spark.sparkContext.hadoopConfiguration)
      val bytes = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bytes)
      oos.writeObject(readFunction)
      oos.close()
      assert(bytes.size < 16 * 1024, s"serialized reader function is ${bytes.size} bytes")
      assert(df.count() == 12)
    }
  }

  test("glob paths and multi-path load resolve deterministically") {
    withTempDir("graft_dsv2_glob") { dir =>
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
  }

  test("malformed framing FAILFASTs the task with the parser's named error") {
    withTempDir("graft_dsv2_bad") { dir =>
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

  /** Runs `body` with session confs set, restoring their previous values. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Segment files `fileIds`, five records each, every id and text the same
    * width, so segments with same-width file ids are the same size. */
  private def writeEqualSegments(dir: java.io.File, fileIds: Seq[Long]): Seq[java.io.File] =
    fileIds.map { f =>
      val file = new java.io.File(dir, f"seg$f%03d.warc")
      val pages = (0L until 5L).map(j => (f * 10 + j, s"page ${f * 10 + j}"))
      java.nio.file.Files.write(file.toPath, WarcSource.buildFile(f, pages, gzipPerRecord = false))
      file
    }

  test("32 equal small segments plan 4 partitions of 8; each segment in one, each record read once") {
    withTempDir("graft_dsv2_pack") { dir =>
      val files = writeEqualSegments(dir, 10L until 42L)
      assert(files.map(_.length).distinct.size == 1, files.map(_.length))
      val df = spark.read.format("warc").load(dir.getAbsolutePath)
      assert(df.rdd.getNumPartitions == 4)
      val rows = df.select(org.apache.spark.sql.functions.spark_partition_id(), $"file", $"url")
        .as[(Int, String, String)].collect()
      val partitionOf = rows.groupBy(_._2).map { case (f, rs) => f -> rs.map(_._1).distinct.toSeq }
      assert(partitionOf.size == 32)
      assert(partitionOf.values.forall(_.size == 1), partitionOf)
      assert(partitionOf.values.map(_.head).groupBy(identity).values.map(_.size).toSeq == Seq(8, 8, 8, 8),
        partitionOf)
      assert(rows.length == 160)
      assert(rows.map(_._3).distinct.length == 160)
    }
  }

  test("a segment larger than spark.sql.files.maxPartitionBytes plans alone; small ones still pack") {
    withTempDir("graft_dsv2_big") { dir =>
      val small = writeEqualSegments(dir, 10L until 16L)
      val big = new java.io.File(dir, "big.warc")
      java.nio.file.Files.write(big.toPath, WarcSource.buildFile(99L,
        (0L until 40L).map(i => (i, "x" * 2000)), gzipPerRecord = false))
      val maxBytes = big.length / 2
      assert(small.map(_.length).sum + small.size * 1024L < maxBytes)
      withConf("spark.sql.files.maxPartitionBytes" -> maxBytes.toString,
        "spark.sql.files.openCostInBytes" -> "1024") {
        val df = spark.read.format("warc").load(dir.getAbsolutePath)
        assert(df.rdd.getNumPartitions == 2)
        val namesPerPartition = df.select(org.apache.spark.sql.functions.spark_partition_id(), $"file")
          .distinct().as[(Int, String)].collect().groupBy(_._1).values
          .map(_.map(r => r._2.substring(r._2.lastIndexOf('/') + 1)).toSet).toSet
        assert(namesPerPartition == Set(Set(big.getName), small.map(_.getName).toSet), namesPerPartition)
        assert(df.count() == 40 + 6 * 5)
      }
    }
  }

  test("a framing error in a packed partition names the failing segment") {
    withTempDir("graft_dsv2_packed_bad") { dir =>
      java.nio.file.Files.write(new java.io.File(dir, "good.warc").toPath,
        WarcSource.buildFile(0, (0L until 6L).map(i => (i, s"doc $i")), gzipPerRecord = false))
      val full = WarcSource.buildFile(1, Seq((9L, "doc nine")), gzipPerRecord = false)
      java.nio.file.Files.write(new java.io.File(dir, "rotten.warc").toPath, full.take(full.length - 3))
      withConf("spark.sql.files.minPartitionNum" -> "1") {
        val df = spark.read.format("warc").load(dir.getAbsolutePath)
        assert(df.rdd.getNumPartitions == 1)
        val e = intercept[Exception](df.count())
        def messages(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
        assert(messages(e).exists(m => m.contains("truncated") && m.contains("rotten.warc")),
          messages(e).mkString(" | "))
      }
    }
  }
  test("a _metadata.file_name filter skips the excluded segments; the scan meters files and rows") {
    withTempDir("graft_warc_meta") { dir =>
      val files = writeEqualSegments(dir, 10L until 16L)
      val kept = files.take(2)
      val df = spark.read.format("warc").load(dir.getAbsolutePath)
        .filter(org.apache.spark.sql.functions.col("_metadata.file_name").isin(kept.map(_.getName): _*))
        .select("url")
      val urls = df.collect().map(_.getString(0))
      assert(urls.length == 10)
      assert(urls.toSet == Seq(10L, 11L).flatMap(f => (0L until 5L).map(j => WarcSource.targetUri(f * 10 + j))).toSet)
      val scan = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }.head
      assert(scan.metrics("numFiles").value == 2, scan.metrics)
      assert(scan.metrics("filesSize").value == kept.map(_.length).sum, scan.metrics)
      assert(scan.metrics("numOutputRows").value == 10, scan.metrics)
    }
  }

  test("format(\"warc\") segments feed the resumable job: text byte-identical per url, exact RunSummary") {
    withTempDir("graft_warc_resume") { dir =>
      // two periods of the corpus format wheel: html (a third gzip-wrapped),
      // docx, pdf and the other binary kernels, with golden text per url
      val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")
      val ids = 0L until 48L
      val pages = ids.map { id =>
        val text = (0 until 20 + (id % 11).toInt).map(k => words(((id + 3 * k) % words.length).toInt))
          .mkString(" ")
        Corpus.buildPage(Corpus.Doc(id, text, "en", s"src${id % 3}", text.length.toLong), skewHost = false)
      }
      val kinds = ids.zip(pages).map { case (id, p) =>
        if (p.html(0) == 0x1f.toByte && p.html(1) == 0x8b.toByte) "html_gz" else Corpus.formatOf(id)
      }
      assert(Set("html", "html_gz", "docx", "pdf").subsetOf(kinds.toSet), kinds)
      // four segments of twelve records, odd ones gzip'd per record
      val segDir = new java.io.File(dir, "warc")
      assert(segDir.mkdir())
      pages.grouped(12).zipWithIndex.foreach { case (seg, f) =>
        val gz = f % 2 == 1
        java.nio.file.Files.write(new java.io.File(segDir, s"seg$f.warc" + (if (gz) ".gz" else "")).toPath,
          WarcSource.buildBinaryFile(f, seg.map(p => (p.url, p.html)), gzipPerRecord = gz))
      }
      val warcPages = spark.read.format("warc").load(segDir.getAbsolutePath)
        .select($"url", to_timestamp($"date").as("warc_ts"), $"payload".as("html"),
          lit("").as("text"), lit("").as("lang"))
        .as[WebPage]
      val out = new java.io.File(dir, "run").getAbsolutePath
      assert(ResumableRunner.run(spark, warcPages, out, "w1", numBuckets = 4) ==
        ResumableRunner.RunSummary("w1", 4, 4, 48, 0, 48))
      val results = spark.read.parquet(s"$out/results").select("url", "success", "format_from", "text")
        .as[(String, Boolean, String, String)].collect()
      assert(results.map(_._1).sorted.toSeq == pages.map(_.url).sorted)
      val golden = pages.map(p => p.url -> p.text).toMap
      for ((url, ok, format, text) <- results)
        assert(ok && java.util.Arrays.equals(text.getBytes(UTF_8), golden(url).getBytes(UTF_8)),
          s"$url ($format): '$text'")
      // a rerun over the same segments finds every bucket done
      assert(ResumableRunner.run(spark, warcPages, out, "w2", numBuckets = 4) ==
        ResumableRunner.RunSummary("w2", 4, 0, 0, 0, 48))
    }
  }
}
