package graft.queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.fixtures.Corpus
import graft.textops.TextAnalysis
import graft.util.NioLocalFileSystem

import Shared._

/** The pipeline as a whole: extraction feeding dedup, the resumable run's
  * manifest (S16 sink + J-a anti-join) and the streaming surface (§2.8). */
object PipelineQueries {

  val all: Seq[Query] = Seq(
    // End-to-end curation composite: extract (all corpus formats) ->
    // respace -> inject exact duplicates -> keep-first survivors -> token
    // rollup per format. ONE query exercising the extraction tier and the
    // dedup tier AS A PIPELINE — the training-data flow this engine exists
    // for; the oracle recomputes everything from documents.text.
    Query("pipeline_curate",
      // keep-first dedup mirrored: min(doc_id) per distinct text, format
      // derived from the SURVIVOR id — correct even if two source docs
      // happen to share a text
      "WITH s AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text), " +
        "f AS (SELECT doc_id, text, " + formatFromSql + " AS format_from FROM s) " +
        "SELECT format_from, CAST(count(*) AS BIGINT) AS docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens " +
        "FROM f GROUP BY 1 ORDER BY format_from") { (s, dir) =>
      val ex = extractDF(s, dir)
        .filter(col("success"))
        .select(col("doc_id"), col("format_from"),
          regexp_replace(col("text"), "\n", " ").as("clean"))
      val withDups = ex.select(col("doc_id").as("id"), col("format_from"), col("clean"))
        .unionByName(ex.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("id"), col("format_from"), col("clean")))
      Dedup.exactDupSurvivors(withDups, "id", "clean")
        .join(withDups, "id")
        .groupBy(col("format_from"))
        .agg(count(lit(1)).cast("bigint").as("docs"),
          sum(TextAnalysis.tokenCount(col("clean"))).cast("bigint").as("tokens"))
        .orderBy("format_from")
    },

    // Runs the resumable pipeline TWICE into a fresh dir; the second run
    // must be a no-op (asserted in-query), and the manifest's per-bucket doc
    // counts must equal DuckDB's recomputation of the MD5 bucketing.
    Query("pipeline_resume",
      "WITH urls AS (SELECT 'https://' || source || '.example.org/' || lang || '/doc' || " +
        "CAST(doc_id AS VARCHAR) AS url FROM documents) " +
        "SELECT CAST(CAST(CONCAT('0x', substring(md5(url), 1, 8)) AS UBIGINT) % 64 AS INT) " +
        "AS partition_id, CAST(count(*) AS BIGINT) AS docs " +
        "FROM urls GROUP BY 1 ORDER BY partition_id") { (s, dir) =>
      val out = freshScratchDir("graft_q_resume", dir)
      val pages = Corpus.materialize(s, dir)
      graft.pipeline.ResumableRunner.run(s, pages, out, "q1", numBuckets = 64)
      val second = graft.pipeline.ResumableRunner.run(s, pages, out, "q2", numBuckets = 64)
      require(second.bucketsRun == 0, s"resume must be a no-op, got $second")
      s.read.parquet(s"$out/manifest")
        .select(col("partition_id").cast("int").as("partition_id"),
          col("docs").cast("bigint").as("docs"))
        .orderBy("partition_id")
    },

    // AvailableNow drain of the corpus directory through the streaming
    // kernel; per-format rollup must equal the batch extract_metrics oracle.
    Query("stream_metrics", formatRollupSql) { (s, dir) =>
      val inDir = Corpus.materializedDir(s, dir)
      val tmp = freshScratchDir("graft_q_stream", dir)
      val q = graft.streaming.StreamingExtraction.run(s, inDir, tmp, s"$tmp/ckpt")
      q.awaitTermination()
      formatRollup(s.read.parquet(s"$tmp/results"))
    },

    // Stateful streaming dedup: two parquet files drained as TWO
    // micro-batches (maxFilesPerTrigger=1 + mtime ordering), so the
    // seen-set genuinely crosses the state store between batches. Batch 0
    // is the corpus; batch 1 carries re-arrivals of every fifth document
    // (same digest, higher id — the state must swallow them) plus new
    // revisions of every seventh (new digest — must survive). The oracle
    // is GROUP BY digest -> MIN(doc_id) over the union, equal to
    // keep-first here because re-arrivals always carry higher ids than
    // their batch-0 originals. A leaked duplicate or a dropped revision
    // breaks the hash.
    Query("stream_dedup",
      // keep-first across micro-batches == MIN per digest here: batch-1
      // re-arrivals always carry ids +100000 above their batch-0 originals
      "WITH all_rows AS (" +
        "SELECT md5(text) AS digest, doc_id FROM documents " +
        "UNION ALL SELECT md5(text) AS digest, doc_id + 100000 FROM documents " +
        "WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT md5(text || 'v2') AS digest, doc_id + 200000 " +
        "FROM documents WHERE doc_id % 7 = 0) " +
        "SELECT digest, CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM all_rows " +
        "GROUP BY digest ORDER BY digest") { (s, dir) =>
      import s.implicits._
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val docs = base.select(col("doc_id"), md5(col("text")).as("digest"))
      val tmp = freshScratchDir("graft_q_streamdedup", dir)
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      def writeBatch(df: org.apache.spark.sql.DataFrame, name: String,
                     mtime: Long): Unit = {
        val stage = s"$tmp/stage_$name"
        df.coalesce(1).write.options(NioLocalFileSystem.writeOptions).parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(in, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        // micro-batch ORDER rides on mtime (file source lists oldest
        // first): a silent setLastModified failure would leave the two
        // batches tie-broken by listing order and flip survivors
        require(dest.setLastModified(mtime), s"cannot set mtime on $dest")
      }
      val now = System.currentTimeMillis()
      writeBatch(docs, "batch0", now - 60000)
      writeBatch(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("digest"))
          .unionByName(base
            .filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 200000L).as("doc_id"),
              md5(concat(col("text"), lit("v2"))).as("digest"))),
        "batch1", now)
      val stream = s.readStream
        .schema(org.apache.spark.sql.Encoders.product[
          graft.streaming.StreamingDedup.KeyedDoc].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.getPath)
        .as[graft.streaming.StreamingDedup.KeyedDoc]
      val q = graft.streaming.StreamingDedup.firstSeen(stream).writeStream
        .format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/out")
        .select(col("digest"), col("doc_id").cast("bigint").as("doc_id"))
        .orderBy("digest")
    },

    // flatMapGroupsWithState sessionization, batch mode: one invocation per
    // user with all events + empty state — must equal the window/lag SQL
    Query("stream_sessions", sessionsSql) { (s, dir) =>
      import s.implicits._
      val events = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("ts"))
        .as[graft.streaming.Sessionize.Event]
      graft.streaming.Sessionize.sessionStats(events).toDF()
        .select(col("user_id"), col("sessions").cast("bigint").as("sessions"),
          col("events").cast("bigint").as("events"))
        .orderBy("user_id")
    }
  )
}
