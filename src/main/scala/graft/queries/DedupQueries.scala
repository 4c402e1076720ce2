package graft.queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

import Shared._

/** Deduplication (training-data tier). */
object DedupQueries {

  val all: Seq[Query] = Seq(
    Query("dedup_exact", "WITH c AS (SELECT text FROM documents UNION ALL " +
        "SELECT text FROM documents WHERE doc_id % 5 = 0) " +
        "SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS cnt FROM c " +
        "GROUP BY 1 HAVING count(*) > 1 ORDER BY h") { (s, dir) =>
      Dedup.exactDupGroups(dupCorpus(s, dir), "text")
        .select(col("h"), col("cnt").cast("bigint").as("cnt")).orderBy("h")
    },
    Query("dedup_ngram_jaccard", jaccardOracle) { (s, dir) =>
      Dedup.ngramJaccardPairs(nearDupCorpus(s, dir), "id", "text").orderBy("a_id", "b_id")
    },
    Query("dedup_minhash_lsh", jaccardOracle) { (s, dir) =>
      Dedup.minhashLshPairs(nearDupCorpus(s, dir), "id", "text").orderBy("a_id", "b_id")
    },
    Query("dedup_simhash", simhashOracle) { (s, dir) =>
      Dedup.simhashPairs(nearDupCorpus(s, dir), "id", "text").orderBy("a_id", "b_id")
    },
    Query("dedup_exact_survivors", "WITH c AS (SELECT doc_id AS id, text FROM documents UNION ALL " +
        "SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id % 5 = 0) " +
        "SELECT CAST(min(id) AS BIGINT) AS id FROM c GROUP BY text ORDER BY id") { (s, dir) =>
      Dedup.exactDupSurvivors(dupCorpus(s, dir), "id", "text").orderBy("id")
    },

    // Exact repeated-substring spans (Lee et al. ExactSubstr, the
    // suffix-array dedup re-shaped as a one-shuffle window-hash job):
    // every 8-token window hashed, corpus-wide df counted, per-doc
    // maximal runs of duplicated windows reported. The documents table
    // carries enough cross-doc boilerplate for a non-trivial dup set.
    Query("dedup_substring",
      // mirror of Dedup.substringDupSpans at k=8: md5 over the space-joined
      // window (same UTF-8 bytes both sides), gaps-and-islands for runs
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "base AS (SELECT doc_id, GREATEST(len(toks) - 7, 0) AS n_windows, toks FROM t), " +
        "w AS (SELECT doc_id, i AS idx, md5(array_to_string(toks[i:i+7], ' ')) AS h " +
        "FROM base, LATERAL (SELECT unnest(generate_series(1, n_windows)) AS i) g), " +
        "dup AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1), " +
        "d AS (SELECT w.doc_id, w.idx FROM w JOIN dup USING (h)), " +
        "runs AS (SELECT doc_id, idx - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY idx) AS grp FROM d), " +
        "isl AS (SELECT doc_id, grp, count(*) AS run FROM runs GROUP BY doc_id, grp), " +
        "agg AS (SELECT doc_id, sum(run) AS dup_windows, max(run) + 7 AS max_run_tokens " +
        "FROM isl GROUP BY doc_id) " +
        "SELECT b.doc_id, CAST(b.n_windows AS INT) AS n_windows, " +
        "CAST(COALESCE(a.dup_windows, 0) AS INT) AS dup_windows, " +
        "CAST(COALESCE(a.max_run_tokens, 0) AS INT) AS max_run_tokens " +
        "FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id") { (s, dir) =>
      Dedup.substringDupSpans(docs(s, dir), "doc_id", "text").orderBy("doc_id")
    },

    // cluster labels: min reachable id through the (LSH-found, exactly
    // verified) near-dup pairs; oracle recomputes via a recursive CTE
    Query("dedup_clusters", "WITH RECURSIVE " + jaccardCorpusAndPairs + ", " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs " +
        "UNION ALL SELECT b_id, a_id FROM pairs), " +
        "reach(id, r) AS (SELECT id, id FROM corpus " +
        "UNION SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst) " +
        "SELECT id, CAST(min(r) AS BIGINT) AS label FROM reach GROUP BY id ORDER BY id") { (s, dir) =>
      val corpus = nearDupCorpus(s, dir)
      val pairs = Dedup.minhashLshPairs(corpus, "id", "text")
      Dedup.nearDupClusters(corpus.select("id"), pairs).orderBy("id")
    },
    Query("dedup_embedding",
      "WITH o AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "p AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_transform(embedding, (x, j) -> CAST(x AS DOUBLE) * (1 + (((vec_id * 64 + j - 1) % 7) - 3) * 0.002)) AS v " +
        "FROM embeddings WHERE vec_id % 5 = 0), " +
        "c AS (SELECT * FROM o UNION ALL SELECT * FROM p) " +
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM c a JOIN c b ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(a.v, b.v) >= 0.9 ORDER BY a_id, b_id") { (s, dir) =>
      Dedup.embeddingNearDupPairs(nearDupVectors(s, dir), "vec_id", "v", 0.9)
        .orderBy("a_id", "b_id")
    }
  )
}
