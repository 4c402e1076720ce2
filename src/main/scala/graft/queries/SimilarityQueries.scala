package graft.queries

import org.apache.spark.sql.functions._

import graft.similarity.Similarity

import Shared._

/** Similarity search (training-data tier). */
object SimilarityQueries {

  val all: Seq[Query] = Seq(
    Query("sim_topk",
      "WITH o AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM o WHERE vec_id < 5), " +
        "s AS (SELECT q.qid, o.vec_id, list_cosine_similarity(q.qv, o.v) AS score FROM q, o), " +
        "r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn FROM s) " +
        "SELECT qid, CAST(rn AS INT) AS \"rank\", vec_id FROM r WHERE rn <= 10 ORDER BY qid, rn") { (s, dir) =>
      val originals = nearDupVectors(s, dir).filter(col("vec_id") < 100000) // double-cast
      Similarity.topKBruteForce(originals, originals.filter(col("vec_id") < 5), "vec_id", "v", 10)
        .orderBy("qid", "rank")
    },

    // ANN results are approximate by construction, so the oracled contract
    // is a per-query recall@10 gate against the exact brute-force top-k
    // computed over the same input: the oracle asserts recall_ok for every
    // query — a recall regression breaks the hash, not just a vibe.
    Query("sim_ann_ivf", annRecallOracle) { (s, dir) =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.topKBruteForce(e, q, "vec_id", "embedding", 10)
      val approx = Similarity.annIvf(e, q, "vec_id", "embedding", 10)
      Similarity.recallAtK(exact, approx)
        .select(col("qid"), (col("recall") >= 0.7).as("recall_ok"))
        .orderBy("qid")
    },
    Query("sim_ann_lsh", annRecallOracle) { (s, dir) =>
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 5)
      val exact = Similarity.topKBruteForce(e, q, "vec_id", "embedding", 10)
      val approx = Similarity.annLsh(e, q, "vec_id", "embedding", 10)
      Similarity.recallAtK(exact, approx)
        .select(col("qid"), (col("recall") >= 0.7).as("recall_ok"))
        .orderBy("qid")
    }
  )
}
