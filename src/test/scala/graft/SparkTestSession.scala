package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (sbt forks one test
  * JVM; SparkContext is JVM-global). 4 cores, not the host's: PlanSpec's
  * pinned plans are recorded at local[4]. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSpark.session(4, "graft-test")
}
