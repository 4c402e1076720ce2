package graft

import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec, InputAdapter,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ObjectType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSupport.withTempDir
import graft.fixtures.Corpus
import graft.pipeline.{ExtractionPipeline, ResumableRunner}

/** End-to-end pipeline behavior: resume idempotence, crash-resume,
  * skew balancing, and failure containment (FIXTURES.md §6). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("full run is byte-identical per url; rerun is a no-op (bucketsRun == 0)") {
    withTempDir("graft_resume") { outDir =>
      val out = outDir.toString
      val pages = Corpus.materialize(spark, sfDir)
      val s1 = ResumableRunner.run(spark, pages, out, "t1", numBuckets = 16)
      assert(s1.bucketsRun == 16 && s1.failures == 0)

      val results = spark.read.parquet(s"$out/results")
      val golden = pages.select(col("url"), col("text").as("expected"))
      val bad = results.join(golden, Seq("url"))
        .filter(!col("success") || col("text") =!= col("expected")).count()
      assert(bad == 0)
      assert(results.count() == pages.count())

      val s2 = ResumableRunner.run(spark, pages, out, "t1b", numBuckets = 16)
      assert(s2.bucketsRun == 0, s"rerun must skip all buckets, got $s2")
    }
  }

  test("crash-resume: truncated manifest reprocesses only missing buckets, output complete") {
    withTempDir("graft_crash") { outDir =>
      val out = outDir.toString
      val manifestDir = new java.io.File(s"$out/manifest")
      val pages = Corpus.materialize(spark, sfDir)
      ResumableRunner.run(spark, pages, out, "t2", numBuckets = 16)
      val full = spark.read.parquet(s"$out/results")
        .select("url", "text", "success").orderBy("url").collect()
      // the full manifest (all 16 buckets), for a crashed driver write below
      val fullPart = manifestDir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      assert(fullPart.size == 1, manifestDir.list().mkString(", "))
      val leftover = Seq(fullPart.head.toPath, new java.io.File(manifestDir,
        s".${fullPart.head.getName}.crc").toPath).map(java.nio.file.Files.readAllBytes)

      // simulate a crash: keep only manifest rows for buckets < 8
      val kept = spark.read.parquet(s"$out/manifest").filter(col("partition_id") < 8)
        .collect()
      val keptDf = spark.createDataFrame(
        spark.sparkContext.parallelize(kept.toSeq), spark.read.parquet(s"$out/manifest").schema)
      keptDf.write.mode("overwrite").parquet(s"$out/manifest")
      // and a driver write that died before its rename: a hidden temp file
      // holding every bucket, which the next run must not read
      val tmp = s"_tmp-${java.util.UUID.randomUUID()}.parquet"
      java.nio.file.Files.write(new java.io.File(manifestDir, tmp).toPath, leftover(0))
      java.nio.file.Files.write(new java.io.File(manifestDir, s".$tmp.crc").toPath, leftover(1))

      val s = ResumableRunner.run(spark, pages, out, "t2r", numBuckets = 16)
      assert(s.bucketsRun == 8, s"expected 8 reprocessed buckets, got $s")
      val resumed = spark.read.parquet(s"$out/results")
        .select("url", "text", "success").orderBy("url").collect()
      assert(resumed.sameElements(full), "resumed output differs from uninterrupted run")

      // the manifest was replaced whole: one part file, _SUCCESS and their
      // checksums, and one row per bucket
      val names = manifestDir.list().toSeq.sorted
      val part = names.filter(_.endsWith(".parquet"))
      assert(part.size == 1 && part.head.matches("part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"),
        names.mkString(", "))
      assert(names == Seq(s".${part.head}.crc", "._SUCCESS.crc", part.head, "_SUCCESS").sorted,
        names.mkString(", "))
      val perBucket = spark.read.parquet(s"$out/manifest").groupBy("partition_id").count()
        .as[(Int, Long)].collect().toMap
      assert(perBucket == (0 until 16).map(_ -> 1L).toMap, s"$perBucket")
    }
  }

  test("resume does not re-read finished buckets' output") {
    withTempDir("graft_noreread") { outDir =>
      val out = outDir.toString
      val pages = Corpus.materialize(spark, sfDir)
      ResumableRunner.run(spark, pages, out, "t3", numBuckets = 16)

      // keep manifest rows for buckets < 8, then corrupt the DATA FILES of
      // those finished buckets: if the resumed run read any of them (for the
      // manifest rebuild or otherwise), it would throw on the bad footer
      val kept = spark.read.parquet(s"$out/manifest").filter(col("partition_id") < 8).collect()
      val schema = spark.read.parquet(s"$out/manifest").schema
      spark.createDataFrame(spark.sparkContext.parallelize(kept.toSeq), schema)
        .write.mode("overwrite").parquet(s"$out/manifest")
      for (b <- 0 until 8) {
        val dir = new java.io.File(s"$out/results/partition_id=$b")
        assert(dir.isDirectory, s"expected $dir")
        dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.write(f.toPath, "not a parquet file".getBytes)
        }
      }

      val s = ResumableRunner.run(spark, pages, out, "t3r", numBuckets = 16)
      assert(s.bucketsRun == 8, s"expected 8 reprocessed buckets, got $s")
      // and the manifest is complete again (prior rows carried forward)
      val manifest = spark.read.parquet(s"$out/manifest")
        .select("partition_id").distinct().count()
      assert(manifest == 16)
    }
  }

  test("manifest docs and RunSummary counts equal a recount of results/, failures included") {
    withTempDir("graft_counts") { outDir =>
      val out = outDir.toString
      val ts = new java.sql.Timestamp(0)
      val poisoned = (1 to 6).map { i =>
        graft.model.WebPage(s"https://p.example.org/en/doc$i",
          ts, s"%PDF-1.4 then garbage $i".getBytes("ISO-8859-1"), "", "en")
      }
      val pages = Corpus.materialize(spark, sfDir).unionByName(poisoned.toDS())

      def recount(): Map[Int, (Long, Long)] =
        spark.read.parquet(s"$out/results")
          .groupBy(col("partition_id").cast("int"))
          .agg(count(lit(1)), sum(when(!col("success"), 1L).otherwise(0L)))
          .as[(Int, Long, Long)].collect().map { case (b, d, f) => b -> ((d, f)) }.toMap
      def manifest(): Map[Int, Long] =
        spark.read.parquet(s"$out/manifest").select(col("partition_id"), col("docs"))
          .as[(Int, Long)].collect().toMap

      val s1 = ResumableRunner.run(spark, pages, out, "c1", numBuckets = 16)
      val all = recount()
      assert(s1.failures > 0, s"poisoned payloads must fail: $s1")
      assert(s1.failures == all.values.map(_._2).sum && s1.docs == all.values.map(_._1).sum, s"$s1")
      assert(s1.bucketsRun == all.size && s1.docsTotal == s1.docs)
      assert(manifest() == all.map { case (b, (d, _)) => b -> d })

      // resume half the buckets: the redone ones are counted again, the rest
      // carried forward from the prior manifest
      val schema = spark.read.parquet(s"$out/manifest").schema
      val kept = spark.read.parquet(s"$out/manifest").filter(col("partition_id") < 8).collect()
      spark.createDataFrame(spark.sparkContext.parallelize(kept.toSeq), schema)
        .write.mode("overwrite").parquet(s"$out/manifest")
      val s2 = ResumableRunner.run(spark, pages, out, "c2", numBuckets = 16)
      val redone = recount().filter(_._1 >= 8)
      assert(s2.bucketsRun == redone.size && s2.docs == redone.values.map(_._1).sum &&
        s2.failures == redone.values.map(_._2).sum, s"$s2 vs $redone")
      assert(s2.docsTotal == s1.docs)
      assert(manifest() == recount().map { case (b, (d, _)) => b -> d })
    }
  }

  /** The executed plans of the queries a [[ResumableRunner.run]] into `out`
    * starts, in order; the results write must be among them. Listener events
    * arrive in order, so once a query started after the run returns is seen,
    * every query the run executed has been seen; that query is left out. */
  private def runPlans(out: String)(run: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      run
      val fence = s"graft_fence_${System.nanoTime()}"
      spark.range(1).select(col("id").as(fence)).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.toArray.exists(_.toString.contains(fence)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = plans.toArray(Array.empty[SparkPlan]).toSeq
      assert(seen.exists(_.toString.contains(fence)), seen.mkString("\n\n"))
      val runs = seen.filterNot(_.toString.contains(fence))
      assert(runs.exists(_.toString.contains(s"InsertIntoHadoopFsRelationCommand file:$out/results")),
        runs.mkString("\n\n"))
      runs
    } finally spark.listenerManager.unregister(listener)
  }

  private val helper = new AdaptiveSparkPlanHelper {}

  test("a fresh run never scans results/ and starts no manifest job: one extraction job") {
    withTempDir("graft_noscan") { outDir =>
      val out = outDir.toString
      val seen = runPlans(out) {
        ResumableRunner.run(spark, Corpus.materialize(spark, sfDir), out, "n1", numBuckets = 16)
      }
      val manifestWrites =
        seen.filter(_.toString.contains(s"InsertIntoHadoopFsRelationCommand file:$out/manifest"))
      assert(manifestWrites.isEmpty, s"a query wrote the manifest: ${manifestWrites.mkString("\n\n")}")
      val scanned: Seq[String] = seen.flatMap { p =>
        helper.collectWithSubqueries(p) {
          case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
          case b: BatchScanExec => b.scan match {
            case f: FileScan => f.fileIndex.rootPaths.map(_.toString)
            case _ => Nil
          }
        }.flatten
      }
      val underResults = scanned.filter(_.contains(s"$out/results"))
      assert(underResults.isEmpty, s"fresh run scanned its own output: ${underResults.take(4)}")
    }
  }

  test("the results write's kernel deserializes rows straight off the shuffle read, with no Project") {
    withTempDir("graft_noproject") { outDir =>
      val out = outDir.toString
      val seen = runPlans(out) {
        ResumableRunner.run(spark, Corpus.materialize(spark, sfDir), out, "p1", numBuckets = 16)
      }
      val write = seen.find(_.toString.contains(s"InsertIntoHadoopFsRelationCommand file:$out/results"))
      assert(write.nonEmpty, seen.mkString("\n\n"))
      val kernelInput = helper.collect(write.get) {
        case d: DeserializeToObjectExec
            if d.deserializer.dataType == ObjectType(classOf[ResumableRunner.BucketedPage]) => d
      }
      assert(kernelInput.size == 1, write.get.toString)
      // the nodes from the deserializer down to the shuffle read
      def toShuffleRead(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: AQEShuffleReadExec | _: ShuffleQueryStageExec | _: ShuffleExchangeExec => Nil
        case other =>
          assert(other.children.size == 1, s"no shuffle read under the deserializer: ${write.get}")
          other +: toShuffleRead(other.children.head)
      }
      val between = toShuffleRead(kernelInput.head.child)
      assert(between.forall(_.isInstanceOf[InputAdapter]),
        s"between the shuffle read and the deserializer: ${between.map(_.nodeName).mkString(" <- ")}")
    }
  }

  test("skewed hot host is spread across shuffle partitions by salting") {
    val pages = Corpus.materialize(spark, sfDir, skewHost = true)
    val parts = 8
    val dist = ExtractionPipeline.prepare(pages, parts)
      .mapPartitions(it => Iterator.single(it.count(p => p.url.contains("hot.example.org")).toLong))
      .collect()
    val hot = dist.sum
    assert(hot > 0, "skew corpus must contain hot-host docs")
    // without salting all hot docs hash to one partition; with salting no
    // partition may hold more than half of them
    assert(dist.max < hot / 2 + hot / 4,
      s"hot host concentrated: ${dist.mkString(",")}")
  }

  test("failure containment: poisoned payloads become failure rows, job completes") {
    val ts = new java.sql.Timestamp(0)
    val poisoned = Seq(
      graft.model.WebPage("https://p.example.org/en/doc1",
        ts, "%PDF-1.4 then garbage".getBytes("ISO-8859-1"), "", "en"),
      graft.model.WebPage("https://p.example.org/en/doc2",
        ts, Array[Byte]('<', 0x80.toByte, 0x41), "", "en"),
      graft.model.WebPage("https://p.example.org/en/doc3",
        ts, null, "", "en"))
    val good = Corpus.materialize(spark, sfDir).limit(20)
    val mixed = good.unionByName(poisoned.toDS())
    val res = ExtractionPipeline.extract(mixed, 4).toDF()
    assert(res.count() == 23)
    val metrics = ExtractionPipeline.metrics(
      res.as[graft.model.ExtractionResult], "t4")
    val m = metrics.agg(sum("docs"), sum("failures")).head()
    assert(m.getLong(0) == 23)
    // every poisoned row yields a row (success=false or benign empty), never kills the job
    val pRows = res.filter(col("url").startsWith("https://p.example.org")).collect()
    assert(pRows.length == 3)
    assert(pRows.forall(r => !r.getAs[Boolean]("success") || r.getAs[String]("error").isEmpty))
  }
}
