package graft

import org.apache.spark.sql.functions._

import graft.pipeline.ExtractionPipeline

/** One cluster-size's measurement in its own JVM (spawned by [[Bench]]):
  * a local[cores] session whose JVM was launched with GC threads matched to
  * `cores` — the faithful stand-in for an executor of that size. In-JVM
  * warmup pass first (JIT), then `reps` timed passes; prints the best as
  * `PASS <sec> <docs> <bytes> <failures>`.
  *
  * args: cores corpusDir partitions reps [job]
  *   job = "extract" (default): the full extraction pipeline over a
  *         webpages corpus parquet;
  *   job = "funnel": the single-scan curation funnel over a documents
  *         corpus parquet (doc_id, text, lang) — "bytes" reports summed
  *         n_words and "failures" the non-kept doc count.
  */
object BenchPass {
  def main(args: Array[String]): Unit = {
    // only the JOB arg is optional — padding numeric slots with the job
    // default would crash later with an unhelpful NumberFormatException
    require(args.length >= 4, "usage: cores corpusDir partitions reps [job]")
    val Array(cores, corpusDir, partitions, reps, job) = args.padTo(5, "extract")
    val s = LocalSpark.session(cores.toInt, s"graft-bench-pass-$cores",
      "spark.sql.shuffle.partitions" -> math.max(cores.toInt * 2, 32).toString,
      // Shuffle spill dir on tmpfs: on a real cluster every executor brings
      // its own local disk (shuffle bandwidth scales with cluster size); on
      // this single box one shared disk would NOT scale with the simulated
      // size and would contaminate the N-vs-4N ratio with a fixed-bandwidth
      // artifact. RAM-backed local dir restores the per-executor-disk model.
      "spark.local.dir" -> s"/dev/shm/graft_bench_local_$cores")
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._

    def extractPass(frac: Double): (Double, Long, Long, Long) = {
      val all = s.read.parquet(corpusDir).as[graft.model.WebPage]
      val pages = if (frac < 1.0) all.sample(frac, 42) else all
      val t0 = System.nanoTime()
      val row = ExtractionPipeline.extract(pages, partitions.toInt, carryGolden = false).toDF()
        .agg(count(lit(1)), sum(col("original_size")),
          sum(when(!col("success"), 1L).otherwise(0L))).head()
      ((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1), row.getLong(2))
    }

    // The curation funnel is shuffle-free per-row work; the explicit
    // repartition only fixes task granularity so both parallelism levels
    // run the same task count (mirrors the extraction protocol).
    def funnelPass(frac: Double): (Double, Long, Long, Long) = {
      val all = s.read.parquet(corpusDir)
      val docs = (if (frac < 1.0) all.sample(frac, 42) else all)
        .repartition(partitions.toInt)
      val t0 = System.nanoTime()
      val row = graft.curation.WebCuration.funnel(docs)
        .agg(count(lit(1)), sum(col("n_words")),
          sum(when(col("stage") =!= "kept", 1L).otherwise(0L))).head()
      ((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1), row.getLong(2))
    }

    def pass(frac: Double = 1.0) =
      if (job == "funnel") funnelPass(frac) else extractPass(frac)

    // JIT warmup, discarded: a 30% sample compiles the same hot paths
    // (every kernel sees thousands of docs) at a third of the wall cost,
    // which matters most on the 1-core legs where a full warm pass is as
    // expensive as a measured one
    pass(0.3)
    val best = (1 to reps.toInt).map(_ => pass()).minBy(_._1)
    println(f"PASS ${best._1}%.3f ${best._2} ${best._3} ${best._4}")
    s.stop()
  }
}
