package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Image/audio conversion semantics (SURVEY §2.7 K5/K6) over media METADATA
  * columns — the observable contract of the reference's Pillow/pydub paths
  * (dimension geometry, duration accounting, parameter validation, result
  * records) as pure column expressions; the metadata inputs can come from
  * the real [[MediaCodecs]] decoders (BMP/PPM/PNG/GIF/JPEG/TIFF/WAV) or any
  * other source — these semantics are codec-independent.
  *
  * Reference: /root/reference/src/converters/image_converters.py:78-110
  * (resize/crop/rotate/flip/grayscale order), :111-115 + :138 (quality,
  * dimensions string); /root/reference/src/converters/audio_converters.py:
  * 70-88 (volume/fade/speed/slice), :114-118 (duration/channels result),
  * :183-192 (merge fold).
  *
  * Expected input columns: image ops — width:int, height:int, mode:string;
  * audio ops — duration_ms:long, channels:int, frame_rate:int.
  */
object MediaOps {

  // ---- image geometry (image_converters.py:80-103) -------------------------

  /** resize requires BOTH width and height (the reference skips the op
    * otherwise — image_converters.py:82-85). */
  def resize(df: DataFrame, width: Option[Int], height: Option[Int]): DataFrame =
    (width, height) match {
      case (Some(w), Some(h)) =>
        df.withColumn("width", lit(w)).withColumn("height", lit(h))
      case _ => df
    }

  /** crop box with reference defaults left=0, top=0, right=width,
    * bottom=height (image_converters.py:87-93). */
  def crop(df: DataFrame, left: Int = 0, top: Int = 0,
           right: Option[Int] = None, bottom: Option[Int] = None): DataFrame = {
    val r = right.map(lit(_): Column).getOrElse(col("width"))
    val b = bottom.map(lit(_): Column).getOrElse(col("height"))
    df.withColumn("new_width", (r - left).cast("int"))
      .withColumn("new_height", (b - top).cast("int"))
      .drop("width", "height")
      .withColumnRenamed("new_width", "width")
      .withColumnRenamed("new_height", "height")
  }

  /** rotate with expand=True (image_converters.py:95-96): bounding box of
    * the rotated frame — the SAME ceil(bbox - 1e-9) the pixel layer
    * ([[ImageConvert.rotateGeneral]]) allocates, so metadata dims and
    * actual converted output agree at every angle, not just right ones. */
  def rotate(df: DataFrame, degrees: Double): DataFrame = {
    val rad = math.toRadians(degrees)
    val (c, s) = (math.abs(math.cos(rad)), math.abs(math.sin(rad)))
    df.withColumn("new_width",
        greatest(lit(1), ceil(col("width") * c + col("height") * s - 1e-9)).cast("int"))
      .withColumn("new_height",
        greatest(lit(1), ceil(col("width") * s + col("height") * c - 1e-9)).cast("int"))
      .drop("width", "height")
      .withColumnRenamed("new_width", "width")
      .withColumnRenamed("new_height", "height")
  }

  /** flip keeps dimensions (image_converters.py:98-102). */
  def flip(df: DataFrame, direction: String): DataFrame = {
    require(direction == "horizontal" || direction == "vertical", direction)
    df
  }

  /** grayscale: single-channel mode 'L' (image_converters.py:104-105). */
  def grayscale(df: DataFrame): DataFrame = df.withColumn("mode", lit("L"))

  /** JPEG save path forces RGB for RGBA/P inputs (image_converters.py:110-112). */
  def forOutputFormat(df: DataFrame, outputFormat: String): DataFrame =
    if (Seq(".jpg", ".jpeg").contains(outputFormat.toLowerCase))
      df.withColumn("mode",
        when(col("mode").isin("RGBA", "P"), "RGB").otherwise(col("mode")))
    else df

  /** The closed filter registry (image_converters.py:234-243): the eight
    * Pillow convolution filters. The REAL pixel kernels live in
    * [[ImageConvert.convolve]]; this metadata layer models their contract
    * (mode and dimensions unchanged) — one registry, defined there. */
  val convolutionFilters: Set[String] = ImageConvert.convolutionFilters

  /** apply_filter semantics (image_converters.py:224-284): convolution
    * filters keep mode + dimensions; 'grayscale' -> mode 'L' (:249-250);
    * 'invert' keeps mode — RGBA is split, RGB-inverted, re-merged with its
    * alpha (:251-259); an unknown name yields a success=false record with
    * the reference's exact error/message strings (:260-266). */
  def applyFilter(df: DataFrame, filterName: String): DataFrame = {
    val known = convolutionFilters.contains(filterName) ||
      filterName == "grayscale" || filterName == "invert"
    if (!known)
      df.withColumn("success", lit(false))
        .withColumn("filter", lit(filterName))
        .withColumn("error", lit(s"Unknown filter: $filterName"))
        .withColumn("message", lit(s"Filter '$filterName' not found"))
    else
      df.withColumn("mode",
          if (filterName == "grayscale") lit("L") else col("mode"))
        .withColumn("success", lit(true))
        .withColumn("filter", lit(filterName))
        .withColumn("error", lit(""))
        .withColumn("message", lit(s"Applied $filterName filter"))
  }

  /** quality 1-100, default 95 (document_converter.py:61 gate;
    * image_converters.py:107-109 default). */
  def quality(requested: Option[Int]): Int = {
    val q = requested.getOrElse(95)
    require(q >= 1 && q <= 100, s"quality $q outside 1-100")
    q
  }

  /** The image result record incl. the "WxH" dimensions string
    * (image_converters.py:130-139). */
  def imageResult(df: DataFrame, idCol: String, formatTo: String): DataFrame =
    df.select(col(idCol),
      lit(true).as("success"),
      lit(formatTo).as("format_to"),
      concat(col("width"), lit("x"), col("height")).as("dimensions"),
      col("mode"))

  // ---- audio duration accounting (audio_converters.py:70-92) ---------------

  /** speedup divides duration (audio_converters.py:80-82). */
  def speedup(df: DataFrame, speed: Double): DataFrame = {
    require(speed > 0, s"speed $speed")
    df.withColumn("duration_ms", (col("duration_ms") / speed).cast("long"))
  }

  /** start/end slice in seconds, end defaults to full length, clamped
    * (audio_converters.py:84-87 pydub slice semantics). */
  def slice(df: DataFrame, startSec: Double = 0.0, endSec: Option[Double] = None): DataFrame = {
    val startMs = least(lit((startSec * 1000).toLong), col("duration_ms"))
    val endMs = endSec.map(e => least(lit((e * 1000).toLong), col("duration_ms")): Column)
      .getOrElse(col("duration_ms"))
    df.withColumn("duration_ms", greatest(endMs - startMs, lit(0L)))
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

  /** The audio result record shape (audio_converters.py:105-118). */
  def audioResult(df: DataFrame, idCol: String, formatTo: String): DataFrame =
    df.select(col(idCol),
      lit(true).as("success"),
      lit(formatTo).as("format_to"),
      (col("duration_ms") / 1000.0).as("duration"),
      col("channels"), col("frame_rate"))
}
