package graft

import org.apache.spark.sql.SparkSession

/** The one place this project builds a SparkSession. Every entry point
  * (`Main`, `Bench`, `BenchPass`, `Plans`, `Verify`) and the test session
  * start Spark here, so they share one configuration:
  *  - `local[cores]`, session time zone UTC, Spark UI off;
  *  - `spark.sql.extensions=graft.plans.GraftExtensions`, which registers
  *    `graft_extract_native` and `graft_sniff_native` in every session;
  *  - `cores` shuffle partitions.
  * `extraConf` pairs are applied last and override any of these.
  */
object LocalSpark {

  /** Cores for an entry point: `SPARK_GRAFT_CPUS`, else every processor
    * this JVM sees. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(cores: Int, appName: String, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
    extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }
}
