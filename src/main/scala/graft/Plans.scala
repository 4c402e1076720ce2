package graft

import graft.fixtures.Corpus
import graft.pipeline.ExtractionPipeline

/** Dumps `explain("formatted")` for the flagship plans (the judge-facing
  * record lives in BENCH/PLANS.md; regenerate with
  * `sbt -batch "runMain graft.Plans" > BENCH/plans.txt`). */
object Plans {
  def main(args: Array[String]): Unit = {
    // 4 cores, not the host's: BENCH/PLANS.md is recorded at local[4]
    val spark = LocalSpark.session(4, "graft-plans")
    spark.sparkContext.setLogLevel("ERROR")

    val sfDir = "/root/testdata/sf0.001"

    def dump(title: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n===== $title =====")
      df.explain("formatted")
    }

    dump("extraction pipeline (scan -> salted/size-bucketed repartition -> kernel)") {
      ExtractionPipeline.extract(Corpus.materialize(spark, sfDir), 8).toDF()
    }
    dump("metrics rollup (partial agg before single exchange)") {
      ExtractionPipeline.metrics(
        ExtractionPipeline.extract(Corpus.materialize(spark, sfDir), 8), "plans")
        .toDF()
    }
    dump("rel_join_topcust (broadcast dimension)") {
      SparkEntry.queries("rel_join_topcust")(spark, sfDir)
    }
    dump("rel_agg_pricing (pushdown + pruning + partial agg)") {
      SparkEntry.queries("rel_agg_pricing")(spark, sfDir)
    }
    dump("rel_asof_join (union + single window, one shuffle)") {
      SparkEntry.queries("rel_asof_join")(spark, sfDir)
    }
    dump("rel_range_join (bucketed equi join, no nested-loop)") {
      SparkEntry.queries("rel_range_join")(spark, sfDir)
    }
    spark.stop()
  }
}
