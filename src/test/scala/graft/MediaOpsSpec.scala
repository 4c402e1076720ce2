package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.MediaOps

/** K6 conversion semantics over audio metadata (durations, tags). */
class MediaOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("audio tag metadata normalizes per container, missing tags default empty") {
    val rows = Seq(
      (1L, ".mp3", Map("TIT2" -> "Song", "TPE1" -> "Band"), 320000, 44100, 0),
      (2L, ".flac", Map("title" -> "Tune", "date" -> "1999"), 0, 48000, 24),
      (3L, ".ogg", Map("artist" -> "Duo"), 192000, 44100, 0),
      (4L, ".wav", Map("title" -> "ignored"), 0, 44100, 16)
    ).toDF("id", "fmt", "tags", "bitrate", "sample_rate", "bits_per_sample")
    val out = MediaOps.audioMetadata(rows, "fmt", "tags")
      .select(col("id"), col("metadata")).as[(Long, Map[String, String])]
      .collect().toMap
    assert(out(1L)("title") == "Song" && out(1L)("artist") == "Band" &&
      out(1L)("album") == "" && out(1L)("bitrate") == "320000")
    assert(out(2L)("title") == "Tune" && out(2L)("date") == "1999" &&
      out(2L)("bits_per_sample") == "24" && !out(2L).contains("bitrate"))
    assert(out(3L)("artist") == "Duo" && out(3L)("tracknumber") == "" &&
      out(3L)("bitrate") == "192000")
    assert(out(4L).isEmpty) // unknown container -> empty dict (reference :174-176)
  }

  test("mp4 ilst tags parse and normalize through the m4a branch") {
    import graft.fixtures.MediaFixtures
    import graft.multimodal.MediaCodecs
    val m = MediaCodecs.parseMp4(MediaFixtures.mp4(0, 0, 44100L * 10, 44100,
      tags = Seq("©nam" -> "Song", "©ART" -> "Band", "©alb" -> "Album",
        "©day" -> "2001")))
    assert(m.tags == Map("©nam" -> "Song", "©ART" -> "Band",
      "©alb" -> "Album", "©day" -> "2001"))
    assert(m.durationMs == 10000L && m.timescale == 44100L)
    // an mp4 WITHOUT udta still parses, with empty tags
    assert(MediaCodecs.parseMp4(MediaFixtures.mp4(320, 240, 600, 600)).tags.isEmpty)
    val rows = Seq((1L, ".m4a", m.tags, 0, m.timescale.toInt, 0))
      .toDF("id", "fmt", "tags", "bitrate", "sample_rate", "bits_per_sample")
    val meta = MediaOps.audioMetadata(rows, "fmt", "tags")
      .select(col("id"), col("metadata")).as[(Long, Map[String, String])]
      .collect().toMap
    assert(meta(1L)("title") == "Song" && meta(1L)("artist") == "Band" &&
      meta(1L)("album") == "Album" && meta(1L)("date") == "2001" &&
      meta(1L)("genre") == "" && meta(1L)("sample_rate") == "44100")
  }

  test("audio: speedup divides, merge fold sums durations") {
    val a = Seq((1L, 90000L, 2, 44100), (1L, 30000L, 2, 44100), (2L, 10000L, 1, 22050))
      .toDF("id", "duration_ms", "channels", "frame_rate")
    val sped = MediaOps.speedup(a.filter(col("duration_ms") === 90000), 1.5)
      .select("duration_ms").as[Long].head()
    assert(sped == 60000L)
    val merged = MediaOps.mergeDurations(a, "id")
      .orderBy("id").as[(Long, Int, Double)].collect().toSeq
    assert(merged == Seq((1L, 2, 120.0), (2L, 1, 10.0)))
  }
}
