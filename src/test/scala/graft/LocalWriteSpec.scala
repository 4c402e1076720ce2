package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSupport.withTempDir
import graft.extract.Extractor
import graft.model.{ExtractionResult, WebPage}
import graft.pipeline.ResumableRunner
import graft.util.NioLocalFileSystem

/** The runner's parquet writes go through [[NioLocalFileSystem]]: they start
  * no process, and they leave the same files, permissions and rows as
  * Hadoop's stock local filesystem. The results files carry no dictionary
  * pages. */
class LocalWriteSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val numBuckets = 8

  private def pages: Dataset[WebPage] = {
    import spark.implicits._
    (0 until 200).map { i =>
      WebPage(s"https://host$i.example/page$i", new Timestamp(0),
        s"<html><body><p>page $i</p></body></html>".getBytes(UTF_8), "", "en")
    }.toDS()
  }

  /** `jdk.ProcessStart` events of this JVM while `body` runs, but for the
    * executor heartbeater's: its first heartbeat runs `getconf PAGESIZE`
    * once per JVM, whatever the session is doing. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart").withStackTrace()
      r.start()
      body
      r.stop()
      val f = Files.createTempFile("graft_process_starts", ".jfr")
      r.dump(f)
      try RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          e.getThread.getJavaName != "executor-heartbeater")
      finally Files.delete(f)
    } finally r.close()
  }

  private def describe(events: Seq[RecordedEvent]): String =
    events.take(3).map { e =>
      e.getString("command") + " from " +
        e.getStackTrace.getFrames.asScala.take(12).map(f =>
          f.getMethod.getType.getName + "." + f.getMethod.getName).mkString(" < ")
    }.mkString("; ")

  test("a fresh run and a resume start no process; the same write on stock LocalFileSystem does") {
    // Hadoop's Shell probes `setsid` in a process once per JVM, when the
    // class loads: load it before recording
    Class.forName("org.apache.hadoop.util.Shell")
    withTempDir("graft_noforks") { outDir =>
      val out = outDir.toString

      val fresh = processStarts {
        val s = ResumableRunner.run(spark, pages, out, "f1", numBuckets)
        assert(s.bucketsRun == numBuckets)
      }
      assert(fresh.isEmpty, s"${fresh.size} processes started: ${describe(fresh)}")

      // a crash after half the buckets: their manifest rows survive
      val manifest = spark.read.parquet(s"$out/manifest")
      val kept = manifest.filter(col("partition_id") < numBuckets / 2).collect()
      spark.createDataFrame(spark.sparkContext.parallelize(kept.toSeq), manifest.schema)
        .write.mode("overwrite").options(NioLocalFileSystem.writeOptions).parquet(s"$out/manifest")
      val resume = processStarts {
        val s = ResumableRunner.run(spark, pages, out, "f1r", numBuckets)
        assert(s.bucketsRun == numBuckets / 2)
      }
      assert(resume.isEmpty, s"${resume.size} processes started: ${describe(resume)}")

      // the check can fail here: without libhadoop, stock Hadoop forks chmod
      assume(!NativeIO.isAvailable, "libhadoop is loaded: stock Hadoop forks nothing either")
      withTempDir("graft_forks") { stockOutDir =>
        val stockOut = stockOutDir.toString
        val stock = processStarts {
          ResumableRunner.run(spark, pages, stockOut, "f1", numBuckets, writeOptions = Map.empty)
        }
        assert(stock.nonEmpty, "the stock write started no process")
      }
    }
  }

  /** Every file and directory under `root/sub`: its path relative to `root`
    * with each write's job UUID masked, and its POSIX permissions. */
  private def tree(root: String, sub: String): Seq[(String, String)] = {
    val base = Path.of(root)
    val walk = Files.walk(base.resolve(sub))
    try walk.iterator.asScala.map { p =>
      base.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    finally walk.close()
  }

  test("the output tree is unchanged: same files (.crc and _SUCCESS too), permissions and rows") {
    withTempDir("graft_tree_nio") { nioDir =>
      val nio = nioDir.toString
      withTempDir("graft_tree_stock") { stockDir =>
        val stock = stockDir.toString
        ResumableRunner.run(spark, pages, nio, "t", numBuckets)
        ResumableRunner.run(spark, pages, stock, "t", numBuckets, writeOptions = Map.empty)

        for (sub <- Seq("results", "manifest")) {
          val files = tree(nio, sub)
          assert(files == tree(stock, sub), s"$sub/ differs")
          val names = files.map(_._1)
          assert(names.exists(_.endsWith(".parquet")) && names.exists(_.endsWith(".parquet.crc")))
          // the dynamic partition overwrite of results/ leaves no marker
          if (sub == "manifest")
            assert(names.contains("manifest/_SUCCESS") && names.contains("manifest/._SUCCESS.crc"))
          def rows(dir: String) = spark.read.parquet(s"$dir/$sub").orderBy(col(
            if (sub == "results") "url" else "partition_id")).collect().map(_.toSeq)
          assert(rows(nio).sameElements(rows(stock)), s"$sub/ rows differ")
        }
      }
    }
  }

  test("results part files carry no dictionary pages, and their rows read back unchanged") {
    withTempDir("graft_nodict") { outDir =>
      val out = outDir.toString
      ResumableRunner.run(spark, pages, out, "d", numBuckets)

      val conf = spark.sparkContext.hadoopConfiguration
      val walk = Files.walk(Path.of(out, "results"))
      val files = try walk.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".")
      }.toSeq finally walk.close()
      assert(files.size == numBuckets, files.mkString(", "))
      for (f <- files) {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
        val chunks = try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
          finally reader.close()
        assert(chunks.nonEmpty)
        val withDict = chunks.filter(_.hasDictionaryPage).map(_.getPath.toDotString)
        assert(withDict.isEmpty, s"$f: dictionary pages in ${withDict.mkString(", ")}")
      }

      import spark.implicits._
      val expected = pages.collect().map(p =>
        Extractor.extractOne(p, ResumableRunner.bucketOf(p.url, numBuckets))).sortBy(_.url).toSeq
      val got = spark.read.parquet(s"$out/results").as[ExtractionResult].collect().sortBy(_.url).toSeq
      assert(got == expected)
    }
  }
}
