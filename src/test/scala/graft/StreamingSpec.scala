package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSupport.withTempDir
import graft.fixtures.Corpus
import graft.streaming.StreamingExtraction

/** Streaming surface: same kernel, same per-url bytes; checkpoint gives
  * incremental exactly-once over file arrivals. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("file-stream extraction drains the directory and matches batch byte-identically") {
    val pages = Corpus.materialize(spark, "/root/testdata/sf0.001")
    withTempDir("graft_stream_in") { inDir =>
      val in = inDir.toString
      withTempDir("graft_stream_out") { outDir =>
        val out = outDir.toString
        val ckpt = s"$out/ckpt"

        // first arrival: half the corpus
        pages.filter(xxhash64(col("url")) % 2 === 0)
          .write.mode("append").parquet(in)
        StreamingExtraction.run(spark, in, out, ckpt).awaitTermination()
        val n1 = spark.read.parquet(s"$out/results").count()
        assert(n1 > 0 && n1 < 500)

        // second arrival: the rest; checkpoint must process only the new files
        pages.filter(xxhash64(col("url")) % 2 =!= 0)
          .write.mode("append").parquet(in)
        StreamingExtraction.run(spark, in, out, ckpt).awaitTermination()

        val results = spark.read.parquet(s"$out/results")
        assert(results.count() == 500, "each doc processed exactly once across restarts")
        val bad = results.join(pages.select(col("url"), col("text").as("expected")), Seq("url"))
          .filter(!col("success") || col("text") =!= col("expected")).count()
        assert(bad == 0)
      }
    }
  }

  test("flatMapGroupsWithState sessionization: state carries across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.Event

    def ev(id: Long, user: Long, sec: Long) =
      Event(id, user, new java.sql.Timestamp(sec * 1000))
    // user 1: three sessions split across the batch boundary (gap > 1800
    // spans batches — only carried state can see it); user 2: one session
    val batch1 = Seq(ev(1, 1, 0), ev(2, 1, 100), ev(3, 1, 5000), ev(4, 2, 0))
    val batch2 = Seq(ev(5, 1, 5100), ev(6, 1, 20000), ev(7, 2, 1800))

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Sessionize.sessionStats(stream.toDS()).writeStream
      .format("memory").queryName("sess_test").outputMode("update").start()
    stream.addData(batch1)
    q.processAllAvailable()
    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()

    // latest update per user
    val latest = spark.table("sess_test")
      .groupBy("user_id").agg(max(struct(col("events"), col("sessions"))).as("s"))
      .select(col("user_id"), col("s.sessions"), col("s.events"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, s, e) => u -> ((s, e)) }.toMap
    assert(latest(1L) == ((3L, 5L)), s"user 1: $latest") // gaps at 5000 and 20000
    assert(latest(2L) == ((1L, 2L)), s"user 2: $latest") // 1800 is NOT > 1800

    // and batch mode over the union equals the same state machine
    val batchRes = Sessionize.sessionStats((batch1 ++ batch2).toDS())
      .as[Sessionize.UserSessions].collect()
      .map(u => u.user_id -> ((u.sessions, u.events))).toMap
    assert(batchRes == latest)
  }

  test("streaming dedup: seen-set carries across micro-batches, append-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.KeyedDoc

    // batch 1: digests a (two arrivals, min id wins) and b; batch 2: a
    // re-arrives (must emit nothing) and c is new (must emit)
    val batch1 = Seq(KeyedDoc(7, "a"), KeyedDoc(3, "a"), KeyedDoc(5, "b"))
    val batch2 = Seq(KeyedDoc(1, "a"), KeyedDoc(9, "c"))

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[KeyedDoc]
    val q = StreamingDedup.firstSeen(stream.toDS()).writeStream
      .format("memory").queryName("dedup_test").outputMode("append").start()
    stream.addData(batch1)
    q.processAllAvailable()
    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_test")
      .as[(String, Long)].collect().toMap
    // keep-FIRST: digest a's batch-2 id 1 is lower but arrives later —
    // the batch-1 survivor (min WITHIN its first batch) already holds
    assert(got == Map("a" -> 3L, "b" -> 5L, "c" -> 9L), got.toString)

    // batch mode over the union: empty state, one invocation per digest ->
    // plain GROUP BY digest MIN(doc_id)
    val batchRes = StreamingDedup.firstSeen((batch1 ++ batch2).toDS())
      .collect().map(s => s.digest -> s.doc_id).toMap
    assert(batchRes == Map("a" -> 1L, "b" -> 5L, "c" -> 9L), batchRes.toString)
  }

  test("streaming dedup TTL branches: eviction drops state, duplicates re-arm") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.KeyedDoc

    val ttl = Some("10 minutes")
    val step = StreamingDedup.transition(ttl) _
    def state(existing: Optional[Boolean], timedOut: Boolean) =
      TestGroupState.create[Boolean](existing,
        GroupStateTimeout.ProcessingTimeTimeout, 1000000L,
        Optional.empty[Long](), timedOut)

    // first arrival: emits the min id, stores the marker, arms the timer
    val fresh = state(Optional.empty(), timedOut = false)
    val out = step("d", Iterator(KeyedDoc(9, "d"), KeyedDoc(4, "d")), fresh).toSeq
    assert(out.map(s => (s.digest, s.doc_id)) == Seq(("d", 4L)))
    assert(fresh.isUpdated && fresh.get)
    assert(fresh.getTimeoutTimestampMs.get() == 1000000L + 600000L)

    // duplicate arrival: emits nothing and RE-ARMS the timer (a hot digest
    // must not expire while it keeps arriving)
    val seen = state(Optional.of(true), timedOut = false)
    assert(step("d", Iterator(KeyedDoc(7, "d")), seen).isEmpty)
    assert(!seen.isRemoved)
    assert(seen.getTimeoutTimestampMs.get() == 1000000L + 600000L)

    // TTL tick: state is dropped so a later re-arrival re-emits — the
    // explicit bounded-state trade documented on firstSeen
    val expired = state(Optional.of(true), timedOut = true)
    assert(step("d", Iterator.empty, expired).isEmpty)
    assert(expired.isRemoved)
    val back = state(Optional.empty(), timedOut = false)
    assert(step("d", Iterator(KeyedDoc(11, "d")), back).toSeq
      .map(_.doc_id) == Seq(11L))
  }
}
