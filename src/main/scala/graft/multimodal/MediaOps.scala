package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Audio conversion semantics (SURVEY §2.7 K6) over media METADATA
  * columns — the duration accounting and tag normalization of the
  * reference's pydub/mutagen paths as pure column expressions; the
  * metadata inputs come from the real [[MediaCodecs]] header parsers.
  * Image ops and the sample-level audio effects run on decoded pixels and
  * samples in [[ImageConvert]] and [[AudioConvert]].
  *
  * Reference: the reference converter's audio_converters.py:80-82
  * (speed), :133-176 (tag metadata), :183-192 (merge fold).
  *
  * Expected input columns: duration_ms:long for the duration ops.
  */
object MediaOps {

  // ---- audio duration accounting (audio_converters.py:70-92) ---------------

  /** speedup divides duration (audio_converters.py:80-82). */
  def speedup(df: DataFrame, speed: Double): DataFrame = {
    require(speed > 0, s"speed $speed")
    df.withColumn("duration_ms", (col("duration_ms") / speed).cast("long"))
  }

  /** A4 ordered merge fold: total duration of concatenated segments
    * (audio_converters.py:183-192); one shuffle, map-side combined. */
  def mergeDurations(df: DataFrame, groupCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("int").as("n_files"),
        (sum(col("duration_ms")) / 1000.0).as("total_duration"))

  /** Tag-metadata normalization (_get_metadata, audio_converters.py:133-176):
    * per container the raw tag keys map into the reference's metadata dict —
    * mp3 translates ID3 frames (TIT2/TPE1/TALB/TDRC/TCON/TRCK) and reports
    * bitrate; flac uses lowercase vorbis keys and reports bits_per_sample;
    * ogg vorbis keys with bitrate. Missing tags default to '' (the
    * reference's `[''][0]`), unknown containers yield an empty dict.
    * Expected inputs: fmtCol ('.mp3'/'.flac'/'.ogg'), tagsCol
    * map<string,string> of raw tags, and int columns bitrate, sample_rate,
    * bits_per_sample. */
  def audioMetadata(df: DataFrame, fmtCol: String, tagsCol: String): DataFrame = {
    def tag(k: String): Column = coalesce(element_at(col(tagsCol), k), lit(""))
    def info(c: String): Column = coalesce(col(c).cast("string"), lit(""))
    val mp3 = map(
      lit("title"), tag("TIT2"), lit("artist"), tag("TPE1"),
      lit("album"), tag("TALB"), lit("year"), tag("TDRC"),
      lit("genre"), tag("TCON"), lit("track"), tag("TRCK"),
      lit("bitrate"), info("bitrate"), lit("sample_rate"), info("sample_rate"))
    val flac = map(
      lit("title"), tag("title"), lit("artist"), tag("artist"),
      lit("album"), tag("album"), lit("date"), tag("date"),
      lit("genre"), tag("genre"), lit("tracknumber"), tag("tracknumber"),
      lit("bits_per_sample"), info("bits_per_sample"), lit("sample_rate"), info("sample_rate"))
    val ogg = map(
      lit("title"), tag("title"), lit("artist"), tag("artist"),
      lit("album"), tag("album"), lit("date"), tag("date"),
      lit("genre"), tag("genre"), lit("tracknumber"), tag("tracknumber"),
      lit("bitrate"), info("bitrate"), lit("sample_rate"), info("sample_rate"))
    // mutagen.mp4.MP4 key convention (the reference imports it for its
    // .m4a whitelist, audio_converters.py:22,41 — its _get_metadata has no
    // m4a branch, so this extends the surface rather than mirroring one)
    val m4a = map(
      lit("title"), tag("©nam"), lit("artist"), tag("©ART"),
      lit("album"), tag("©alb"), lit("date"), tag("©day"),
      lit("genre"), tag("©gen"),
      lit("sample_rate"), info("sample_rate"))
    df.withColumn("metadata",
      when(lower(col(fmtCol)) === ".mp3", mp3)
        .when(lower(col(fmtCol)) === ".flac", flac)
        .when(lower(col(fmtCol)) === ".ogg", ogg)
        .when(lower(col(fmtCol)) === ".m4a", m4a)
        .otherwise(map()))
  }
}
