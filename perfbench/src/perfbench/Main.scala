package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{ExtractionResult, ManifestEntry, WebPage}
import graft.pipeline.{ExtractionPipeline, ResumableRunner}

/** The extraction benchmark: one workload, one seed, one local[4] session.
  *
  * Set-up (timed as `setup_s`): session start, seeded generation (three
  * times, median), and warm-up passes, the first of which the correctness
  * check reads. Then timed passes for `--seconds`, each ending in a sink that
  * materialises every result column (a `noop` write, or the runner's parquet
  * write). With `--trace 1` the run also makes layer-by-layer passes under
  * spans and a stage listener, resume legs that redo a fixed quarter of the
  * buckets, and single-threaded kernel probes.
  *
  * Prints `PERFBENCH_RESULT <json>` and `PERFBENCH_REPORT <json>` lines for
  * the launcher; logs go to stderr. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, sourceId: String)

  final case class PassRec(seconds: Double, cpuSeconds: Double, allocBytes: Long,
                           heapPeakBytes: Long, error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  val parallelism = 16
  val numBuckets = 64
  val resumeLegs = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("work"), a("out"), a.getOrElse("source-id", "unknown"))
    val spec = Workloads.specs.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; " +
        s"one of ${Workloads.specs.keys.toSeq.sorted.mkString(", ")}"))
    new Run(o, spec).run()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }
}

final class Run(o: Main.Opts, spec: Spec) {
  import Main._

  private val work = o.work
  private val genDir = s"$work/gen"
  private val checkDir = s"$work/check_results"
  private val runnerDir = s"$work/runner"
  private val runId = s"perfbench_${spec.name}_${o.seed}"

  private val t0 = System.nanoTime()
  private val spark = SparkSession.builder()
    .master("local[4]")
    .appName(s"perfbench-${spec.name}")
    .config("spark.sql.shuffle.partitions", parallelism.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  private val sessionS = (System.nanoTime() - t0) / 1e9
  private val sc = spark.sparkContext
  sc.setLogLevel("WARN")
  import spark.implicits._

  private val plans = Check.capture(spark)
  private val planProblems = mutable.ArrayBuffer[String]()
  private val checks = mutable.LinkedHashMap[String, Verdict]()
  private val selfTestMisses = mutable.ArrayBuffer[String]()

  private val noopMarker = "NoopWrite"
  private def writeMarker(dir: String) =
    s"InsertIntoHadoopFsRelationCommand file:${new File(dir).getAbsolutePath},"
  private def noop(ds: Dataset[_]): Unit =
    ds.write.format("noop").mode(SaveMode.Overwrite).save()

  /** The latest plan that wrote the results, as its sink executed it. */
  private def checkLastPlan(what: String, marker: String): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    planProblems ++= Check.planProblems(plans.latest(marker)).map(p => s"$what: $p")
  }

  private def readGot(dir: String): IndexedSeq[Got] =
    spark.read.parquet(dir).select("url", "success", "text", "error").as[Got].collect().toIndexedSeq

  private def pages: Dataset[WebPage] =
    if (spec.warc) Workloads.warcPages(spark, genDir) else Workloads.pages(spark, genDir)

  /** The workload's end-to-end pass: the flagship job into a noop sink, then
    * the metrics rollup; or, for WARC, a fresh resumable run. */
  private def pass(): Unit =
    if (spec.warc) {
      deleteTree(runnerDir)
      ResumableRunner.run(spark, pages, runnerDir, runId, numBuckets)
    } else {
      noop(ExtractionPipeline.extract(pages, parallelism, carryGolden = false))
      ExtractionPipeline.metrics(spark.read.parquet(checkDir).as[ExtractionResult], runId).collect()
    }

  private var timedPlanChecked = false

  private def measuredPass(): PassRec = {
    System.gc()
    HeapWatch.reset()
    val a0 = Alloc.total
    val c0 = Alloc.processCpuNs
    val t = System.nanoTime()
    val err = try { pass(); None } catch { case NonFatal(e) => Some(e.toString) }
    val s = (System.nanoTime() - t) / 1e9
    val rec = PassRec(s, (Alloc.processCpuNs - c0) / 1e9, Alloc.total - a0, HeapWatch.peakBytes, err)
    if (!timedPlanChecked && rec.ok) {
      if (spec.warc) checkLastPlan("timed runner write", writeMarker(s"$runnerDir/results"))
      else checkLastPlan("timed noop write", noopMarker)
      timedPlanChecked = true
    }
    rec
  }

  /** Keep every manifest row except a fixed quarter of the buckets. */
  private def dropQuarter(dir: String): Unit = {
    val m = s"$dir/manifest"
    val kept = spark.read.parquet(m).as[ManifestEntry].collect().filter(_.partition_id % 4 != 0)
    kept.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(m)
  }

  private def resumeLeg(dir: String): (Double, ResumableRunner.RunSummary) = {
    dropQuarter(dir)
    System.gc()
    timed(ResumableRunner.run(spark, pages, dir, runId, numBuckets))
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(o.out))
    // ---- set-up: generation three times (identical output), then warm-up
    val genS = (1 to 3).map(_ => timed(Workloads.generate(spark, spec, o.seed, genDir))._1)
    val golden: Map[String, String] =
      Workloads.pages(spark, genDir).select("url", "text").as[(String, String)].collect().toMap
    val sizes = Workloads.pages(spark, genDir).select(length(col("html"))).as[Int].collect()
    val docs = golden.size
    val payloadMb = sizes.map(_.toLong).sum / 1e6

    // warm-up: the pass the check reads (a runner pass for WARC), then
    // timed-path passes; the JIT keeps shortening the flagship job's passes
    // for about 15 passes, the runner's I/O-bound passes settle sooner
    val (warmS, _) = timed {
      if (spec.warc) { pass(); checkLastPlan("runner write", writeMarker(s"$runnerDir/results")) }
      else {
        ExtractionPipeline.extract(pages, parallelism, carryGolden = false)
          .write.mode(SaveMode.Overwrite).parquet(checkDir)
        checkLastPlan("check write", writeMarker(checkDir))
      }
      (1 to (if (spec.warc) 2 else 4)).foreach(_ => pass())
    }
    val setupS = sessionS + median(genS) + warmS
    log(f"setup: session $sessionS%.2fs, generation ${genS.map(s => f"$s%.2f").mkString("/")}s, " +
      f"warm-up $warmS%.2fs; $docs docs, $payloadMb%.1f MB")

    // correctness of the warm-up output, outside any timed region
    val firstOut = readGot(if (spec.warc) s"$runnerDir/results" else checkDir)
    checks("pass") = Check.verify(golden, firstOut)
    selfTestMisses ++= Check.selfTest(golden, firstOut)
    val failureClasses = firstOut.filterNot(_.success)
      .groupBy(_.error.takeWhile(_ != ':')).map { case (k, v) => k -> v.size }

    // ---- timed passes; a traced run interleaves them with traced passes
    val traced = if (o.trace) Some(new Traced(docs)) else None
    val passes = traced match {
      case None => loop(o.seconds.toDouble)(measuredPass())
      case Some(t) =>
        // alternate which side goes first, so the JIT's drift cancels out
        // of the paired traced/untraced ratio
        var k = 0
        loop(o.seconds.toDouble, min = 2) {
          k += 1
          if (k % 2 == 1) { val p = measuredPass(); t.tracedPass(p); p }
          else { val r = t.tracedPass(); val p = measuredPass(); t.pair(r, p); p }
        }
    }

    // ---- traced runs only: resume legs that redo a fixed quarter of the
    // buckets of a full runner pass; the first leg runs slower, untimed
    val legs = if (!o.trace) IndexedSeq.empty else {
      if (!spec.warc) ResumableRunner.run(spark, pages, runnerDir, runId, numBuckets)
      resumeLeg(runnerDir)
      val timedLegs = (1 to resumeLegs).map(_ => resumeLeg(runnerDir))
      checks("resume") = Check.verify(golden, readGot(s"$runnerDir/results"))
      timedLegs
    }

    val good = passes.filter(_.ok)
    val passS = median(good.map(_.seconds))
    val correct = checks.values.forall(_.ok) && selfTestMisses.isEmpty &&
      planProblems.isEmpty && good.nonEmpty
    val metrics = mutable.LinkedHashMap[String, (Double, String, Int)]()
    def put(name: String, v: Double, unit: String, n: Int): Unit = metrics(name) = (v, unit, n)

    traced match {
      case None =>
        put("docs_per_s", docs / passS, "docs/s", good.size)
        put("mb_per_s", payloadMb / passS, "MB/s", good.size)
        put("ok_ratio", (docs - checks("pass").bad).toDouble / docs, "ratio", 1)
        put("alloc_bytes_per_doc", median(good.map(_.allocBytes.toDouble)) / docs, "B/doc", good.size)
        put("heap_peak_mb", median(good.map(_.heapPeakBytes.toDouble)) / 1e6, "MB", good.size)
        put("setup_s", setupS, "s", genS.size)
      case Some(t) =>
        t.metrics(legs, failureClasses.values.sum)
          .foreach { case (k, (v, u, n)) => put(k, v, u, n) }
    }

    val attempted = docs.toLong * (1 + passes.size) + legs.map(_._2.docs).sum
    val failed = checks.values.map(_.bad.toLong).sum +
      passes.filterNot(_.ok).size.toLong * docs
    val result = Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Obj(metrics.toSeq.map { case (k, (v, u, _)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }))
    val rt = Runtime.getRuntime
    val report = Json.obj(
      "workload" -> spec.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "correct" -> correct,
      "host" -> Json.obj("nproc" -> rt.availableProcessors(), "max_heap_mb" -> rt.maxMemory() / 1e6,
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "source" -> o.sourceId, "master" -> "local[4]"),
      "mix" -> mix(golden.keys.toSeq, sizes),
      "metrics" -> Json.Obj(metrics.toSeq.map { case (k, (v, u, n)) =>
        k -> Json.obj("value" -> v, "unit" -> u, "samples" -> n) }),
      "passes" -> passes.map(p => Json.obj("seconds" -> p.seconds, "cpu_s" -> p.cpuSeconds,
        "alloc_bytes" -> p.allocBytes,
        "heap_peak_bytes" -> p.heapPeakBytes, "status" -> p.error.getOrElse("ok"))),
      "resume_legs" -> legs.map { case (s, r) => Json.obj("seconds" -> s,
        "buckets_run" -> r.bucketsRun, "docs" -> r.docs, "failures" -> r.failures) },
      "checks" -> Json.Obj(checks.toSeq.map { case (k, v) => k -> v.summary }),
      "self_test_missed" -> selfTestMisses, "plan_problems" -> planProblems,
      "failures_by_class" -> failureClasses,
      "setup" -> Json.obj("session_s" -> sessionS, "generation_s" -> genS, "warmup_s" -> warmS))
    println("PERFBENCH_REPORT " + Json.render(report))
    println("PERFBENCH_RESULT " + Json.render(result))
    spark.stop()
  }

  /** Repeats `body` until `budgetS` has passed, at least `min` times. */
  private def loop[T](budgetS: Double, min: Int = 3)(body: => T): IndexedSeq[T] = {
    val out = mutable.ArrayBuffer[T]()
    val t = System.nanoTime()
    while (out.size < min || (System.nanoTime() - t) / 1e9 < budgetS) out += body
    out.toIndexedSeq
  }

  /** Format, host and payload-size mix of the generated workload. */
  private def mix(urls: Seq[String], sizes: Array[Int]): Json.Obj = {
    val ids = urls.map(u => u.substring(u.lastIndexOf("doc") + 3).toLong)
    val byKernel = ids.groupBy(Workloads.kernelOf).map { case (k, v) => k -> v.size }
    val hosts = urls.map(u => u.split('/')(2)).groupBy(identity).map { case (h, v) => h -> v.size }
    val sorted = sizes.sorted
    def q(p: Double) = sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
    Json.obj("formats" -> byKernel.toSeq.sortBy(_._1).toMap,
      "hosts" -> hosts.size, "top_host_share" -> hosts.values.max.toDouble / urls.size,
      "payload_bytes" -> Json.obj("min" -> sorted.head, "p50" -> q(0.5), "p90" -> q(0.9),
        "max" -> sorted.last, "total" -> sorted.map(_.toLong).sum))
  }

  /** Layer-by-layer passes under spans and the stage listener, then the
    * single-threaded probes. Returns every per-layer metric. */
  final class Traced(docs: Int) {
    private val tracer = new Tracer
    private val listener = new StageListener
    sc.addSparkListener(listener)

    private def sparkSpan[T](name: String, tag: String)(body: => T): T =
      tracer.span(name)(StageListener.tagged(sc, s"$tag#${tracerTrace}")(body))
    private var tracerTrace = 0
    private def stages(tag: String) = listener.stages(sc, s"$tag#$tracerTrace")

    private val rows = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Double]]()

    /** One pass layer by layer, each layer's calls under spans and its jobs
      * under a stage-listener tag. */
    def tracedPass(): mutable.Map[String, Double] = {
      System.gc()
      tracerTrace += 1
      tracer.newTrace()
      val r = mutable.LinkedHashMap[String, Double]()
      tracer.span("pass") {
        if (spec.warc) warcPass(r) else parquetPass(r)
        r.foreach { case (k, v) => tracer.count(k, v) }
      }
      rows += r
      r
    }

    /** Traced over untraced time of the same work, in adjacent passes. */
    def pair(r: mutable.Map[String, Double], untraced: PassRec): Unit =
      if (untraced.ok) r("overhead") = r("layer_s") / untraced.seconds - 1

    def tracedPass(untraced: PassRec): Unit = pair(tracedPass(), untraced)

    def metrics(legs: Seq[(Double, ResumableRunner.RunSummary)],
                failedDocs: Int): Seq[(String, (Double, String, Int))] = {
      val lastLeg = legs.last._2
      val out = mutable.ArrayBuffer[(String, (Double, String, Int))]()
      def put(name: String, v: Double, unit: String, n: Int): Unit = out += name -> ((v, unit, n))
      def med(k: String) = median(rows.flatMap(_.get(k)).toSeq)
      val n = rows.size
      put("scan.s", med("scan.s"), "s", n)
      put("scan.mb", if (spec.warc) 0.0 else parquetBytes(s"$genDir/pages") / 1e6, "MB", 1)
      for ((k, u) <- Seq("s" -> "s", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
        "spill_mb" -> "MB", "part_rows_max_over_median" -> "ratio",
        "part_bytes_max_over_median" -> "ratio")) put(s"pipeline.prepare.$k", med(s"prepare.$k"), u, n)
      for ((k, u) <- Seq("s" -> "s", "task_s_p50" -> "s", "task_s_max_over_median" -> "ratio",
        "executor_cpu_s" -> "s", "gc_s" -> "s")) put(s"pipeline.extract.$k", med(s"extract.$k"), u, n)
      put("pipeline.metrics.s", med("metrics.s"), "s", n)
      put("pipeline.metrics.rows", med("metrics.rows"), "count", n)
      put("pipeline.resume.s", median(legs.map(_._1)), "s", legs.size)
      put("pipeline.resume.write_mb", parquetBytes(s"$runnerDir/results") / 1e6, "MB", 1)
      put("pipeline.resume.files", parquetFiles(s"$runnerDir/results").length.toDouble, "count", 1)
      put("pipeline.resume.buckets_redone", lastLeg.bucketsRun.toDouble, "count", 1)
      put("pipeline.resume.redo_ratio", lastLeg.docs.toDouble / docs, "ratio", 1)
      put("sources.warc.scan_s", med("warc.scan_s"), "s", n)
      put("sources.warc.records", med("warc.records"), "count", n)
      put("sources.warc.mb", med("warc.mb"), "MB", n)

      // ---- single-threaded probes on the workload's own payloads
      val budget = 0.15
      val (warcProbe, warcFailed) =
        if (spec.warc) {
          val segs = new File(s"$genDir/warc").listFiles().sortBy(_.getName).take(8)
            .map(f => Files.readAllBytes(f.toPath)).toIndexedSeq
          val (p, failed) = Kernels.warcParse(segs, budget)
          (Some(p), failed)
        } else (None, 0)
      put("sources.warc.failed_files", warcFailed.toDouble, "count", 1)
      put("sources.warc.parse_mb_per_s_core", warcProbe.map(_.mbPerS).getOrElse(0.0), "MB/s", 1)

      val all = Workloads.docs(spec, o.seed)
      val byKernel = all.groupBy(d => Workloads.kernelOf(d.doc_id))
      val sample = byKernel.map { case (k, ds) => k -> ds.take(24).map(Workloads.page).toIndexedSeq }
      val sniff = Kernels.sniff(sample.values.flatten.map(_.html).toIndexedSeq, budget)
      put("extract.sniff.ns_per_doc", sniff.nsPerCall, "ns", 1)
      put("extract.failed_docs", failedDocs.toDouble, "count", 1)
      val kernels = Kernels.byFormat(sample, budget)
      val weight = kernels.map { case (k, p) => k -> byKernel(k).size * p.nsPerCall }
      for (f <- Kernels.formats) {
        val p = kernels.get(f)
        put(s"extract.$f.mb_per_s_core", p.map(_.mbPerS).getOrElse(0.0), "MB/s", 1)
        put(s"extract.$f.alloc_bytes_per_doc", p.map(_.allocPerCall).getOrElse(0.0), "B/doc", 1)
        put(s"extract.$f.time_share", weight.getOrElse(f, 0.0) / weight.values.sum, "ratio", 1)
      }
      val htmlSample = sample.get("html").map(_.map(_.html)).getOrElse(IndexedSeq.empty)
      val stages = if (htmlSample.isEmpty) Map.empty[String, Kernels.Probe]
        else Kernels.htmlStages(htmlSample, budget)
      for (s <- Seq("decode", "tokenize", "blocks", "classify")) {
        put(s"html.$s.ns_per_kb", stages.get(s).map(_.nsPerKb).getOrElse(0.0), "ns/KB", 1)
        put(s"html.$s.alloc_bytes_per_doc", stages.get(s).map(_.allocPerCall).getOrElse(0.0), "B/doc", 1)
      }

      for (k <- Seq("gc_s", "executor_run_s", "executor_cpu_s")) put(s"spark.$k", med(s"spark.$k"), "s", n)
      put("spark.peak_exec_mem_mb", med("spark.peak_exec_mem_mb"), "MB", n)
      put("trace.overhead_pct", med("overhead") * 100, "%", rows.count(_.contains("overhead")))
      put("trace.spans", tracer.lines.size.toDouble, "count", 1)

      val traceFile = s"${o.out}/trace-${spec.name}-s${o.seed}.jsonl"
      Files.write(Paths.get(traceFile), tracer.lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      log(s"trace: ${tracer.lines.size} spans in $traceFile")
      out.toSeq
    }

    private def parquetFiles(dir: String): Array[java.nio.file.Path] =
      Files.walk(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
    private def parquetBytes(dir: String): Long = parquetFiles(dir).map(p => Files.size(p)).sum

    /** Stage-metric figures of one tagged pass into `r`. The kernel stage is
      * the one reading the most shuffle bytes; the balancing shuffle's map
      * side is the stage writing the most. */
    private def stageFigures(tags: Seq[String], r: mutable.Map[String, Double]): Unit = {
      val st = tags.flatMap(stages)
      val kernel = st.filter(_.shuffleReadBytes > 0).sortBy(-_.shuffleReadBytes).take(1)
      val map = st.filter(_.shuffleWriteBytes > 0).sortBy(-_.shuffleWriteBytes).take(1)
      def ratio(xs: Seq[Long]) =
        if (xs.isEmpty) 0.0 else xs.max / math.max(median(xs.map(_.toDouble)), 1e-9)
      val taskRun = kernel.flatMap(_.taskRunMs)
      r("prepare.shuffle_write_mb") = map.map(_.shuffleWriteBytes).sum / 1e6
      r("prepare.shuffle_read_mb") = kernel.map(_.shuffleReadBytes).sum / 1e6
      r("prepare.spill_mb") = st.map(_.spillBytes).sum / 1e6
      r("prepare.part_rows_max_over_median") = ratio(kernel.flatMap(_.taskReadRecords))
      r("prepare.part_bytes_max_over_median") = ratio(kernel.flatMap(_.taskReadBytes))
      r("extract.task_s_p50") = median(taskRun.map(_ / 1e3))
      r("extract.task_s_max_over_median") = ratio(taskRun)
      r("extract.executor_cpu_s") = kernel.map(_.cpuNs).sum / 1e9
      r("extract.gc_s") = kernel.map(_.gcMs).sum / 1e3
      r("spark.gc_s") = st.map(_.gcMs).sum / 1e3
      r("spark.executor_run_s") = st.map(_.runMs).sum / 1e3
      r("spark.executor_cpu_s") = st.map(_.cpuNs).sum / 1e9
      r("spark.peak_exec_mem_mb") = (0L +: st.map(_.peakExecMem)).max / 1e6
    }

    private def parquetPass(r: mutable.Map[String, Double]): Unit = {
      val (extS, _) = timed(tracer.span("layer.extract") {
        val ds = tracer.span("ExtractionPipeline.extract")(
          ExtractionPipeline.extract(Workloads.pages(spark, genDir), parallelism, carryGolden = false))
        sparkSpan("sink.noop", "extract")(noop(ds))
      })
      val (metS, rows) = timed(tracer.span("layer.metrics") {
        val ds = tracer.span("ExtractionPipeline.metrics")(
          ExtractionPipeline.metrics(spark.read.parquet(checkDir).as[ExtractionResult], runId))
        val n = sparkSpan("collect", "metrics")(ds.collect().length)
        tracer.count("rows", n)
        n
      })
      stageFigures(Seq("extract", "metrics"), r)
      // the prefixes of the job: the scan reads the columns the job reads
      val (scanS, _) = timed(tracer.span("layer.scan") {
        val ds = tracer.span("spark.read")(Workloads.pages(spark, genDir).drop("text"))
        sparkSpan("sink.noop", "scan")(noop(ds))
      })
      val (prepS, _) = timed(tracer.span("layer.prepare") {
        val ds = tracer.span("ExtractionPipeline.prepare")(
          ExtractionPipeline.prepare(Workloads.pages(spark, genDir), parallelism, carryGolden = false))
        sparkSpan("sink.noop", "prepare")(noop(ds))
      })
      r("scan.s") = scanS
      r("prepare.s") = prepS - scanS
      r("extract.s") = extS - prepS
      r("metrics.s") = metS
      r("metrics.rows") = rows
      r("layer_s") = extS + metS
      r ++= Seq("warc.scan_s", "warc.records", "warc.mb").map(_ -> 0.0)
    }

    private def warcPass(r: mutable.Map[String, Double]): Unit = {
      deleteTree(runnerDir)
      val (runS, _) = timed(tracer.span("layer.resume") {
        sparkSpan("ResumableRunner.run", "extract")(
          ResumableRunner.run(spark, pages, runnerDir, runId, numBuckets))
      })
      stageFigures(Seq("extract"), r)
      val (scanS, _) = timed(tracer.span("layer.sources") {
        val ds = tracer.span("spark.read.warc")(Workloads.warcPages(spark, genDir))
        sparkSpan("sink.noop", "sources")(noop(ds))
      })
      r("warc.scan_s") = scanS
      r("warc.records") = stages("sources").map(_.inputRecords).sum
      r("warc.mb") = new File(s"$genDir/warc").listFiles().map(_.length()).sum / 1e6
      r("layer_s") = runS
      r ++= Seq("scan.s", "prepare.s", "extract.s", "metrics.s", "metrics.rows").map(_ -> 0.0)
    }
  }
}
