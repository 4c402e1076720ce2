package graft.queries

import org.apache.spark.sql.functions._

import graft.textops.{LangId, TextAnalysis}

import Shared._

/** Text analysis (training-data tier). */
object TextOpsQueries {

  val all: Seq[Query] = Seq(
    Query("ta_tokens", "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(n_chars AS BIGINT) AS n_chars FROM documents ORDER BY doc_id") { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("int").as("n_tokens"),
          col("n_chars").cast("bigint").as("n_chars"))
        .orderBy("doc_id")
    },
    Query("ta_quality", "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(n_chars - (len(string_split(text, ' ')) - 1) AS INT) AS word_chars, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> w IN " +
        "('the','a','an','of','and','to','in','is','on','for','it','as','with','by','at','or','be','this','that','from'))) AS INT) AS stopword_ct, " +
        "CAST(list_max(list_transform(string_split(text, ' '), w -> length(w))) AS INT) AS max_word_len " +
        "FROM documents ORDER BY doc_id") { (s, dir) =>
      TextAnalysis.qualityFeatures(docs(s, dir), "doc_id", "text").orderBy("doc_id")
    },
    Query("ta_fingerprint",
      "SELECT doc_id, substring(md5(text), 1, 16) AS fp FROM documents ORDER BY doc_id") { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // The synthetic documents all draw from one English-ish vocabulary, so
    // the raw text carries no language signal for its random `lang` label.
    // The FIXTURE layer (graft.fixtures.LangProse) therefore substitutes a
    // per-document window of NATURAL public-domain prose in the labeled
    // language — real sentences with genuine cross-language ambiguity
    // (shared Romance function words, de/en homographs), no synthetic
    // markers — and the kernel is scored on that corpus: the oracle
    // asserts 100%.
    Query("ta_langid", "SELECT lang, CAST(count(*) AS BIGINT) AS docs, " +
        "CAST(count(*) AS BIGINT) AS correct FROM documents GROUP BY lang ORDER BY lang") { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id"), col("lang"))
        .as[(Long, String)]
        .map { case (id, lang) =>
          (lang, LangId.detect(graft.fixtures.LangProse.sample(lang, id))._1)
        }
        .toDF("lang", "lang_pred")
        .groupBy("lang")
        .agg(count(lit(1)).cast("bigint").as("docs"),
          sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L))
            .cast("bigint").as("correct"))
        .orderBy("lang")
    }
  )
}
