package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S11 — video as an image sequence (reference motion_codec.py:11-29
  * `cv2.VideoCapture` frame loop). Container codecs are out of scope
  * (no codec library in the build); the equivalent large-scale shape
  * is a directory of numbered frame images — the standard export
  * format of `ffmpeg -i in.mp4 frame_%04d.png` — read as a binary
  * column with filename pushdown and decoded by the existing U1 path.
  *
  * Scale notes: binaryFile splits at file granularity, so a frame
  * directory parallelizes across executors with zero shuffle until the
  * first cross-frame operator; frame_idx comes from the file NAME, so
  * ordering never depends on listing order. */
object VideoFrames {

  /** Read a frame directory into (video_id, frame_idx, content) —
    * frame_idx parsed from the trailing digit run of the file name
    * (frame_0007.png -> 7). */
  def readFrameDir(spark: SparkSession, dir: String, glob: String = "*.png",
                   videoId: Int = 0): DataFrame =
    ImageSource.readBinary(spark, dir, glob)
      .withColumn("frame_idx",
        regexp_extract(col("path"), "(\\d+)\\.[A-Za-z]+$", 1).cast("int"))
      .withColumn("video_id", lit(videoId))
      .select("video_id", "frame_idx", "content")

  /** Decode frames to the (video_id, frame_idx, y, x, v) pixel
    * relation; Motion.frameStats packs it back into dense frames
    * (Motion.denseFrames). */
  def framePixels(frames: DataFrame): DataFrame =
    ImageSource.decode(frames)
      .select(col("video_id"), col("frame_idx"), col("width"),
        posexplode(col("pixels")).as(Seq("pos", "v")))
      .withColumn("y", (col("pos") / col("width")).cast("int"))
      .withColumn("x", col("pos") % col("width"))
      .select("video_id", "frame_idx", "y", "x", "v")

  /** One-call image-sequence reader: directory -> pixel relation. */
  def readFramePixels(spark: SparkSession, dir: String, glob: String = "*.png",
                      videoId: Int = 0): DataFrame =
    framePixels(readFrameDir(spark, dir, glob, videoId))

  /** ST3 + S11 — STREAMING image-sequence source: binaryFile is a
    * regular FileFormat, so the file stream source tails the directory
    * and each newly landed frame becomes a micro-batch row; the same
    * decode path then yields the streaming pixel relation the stateful
    * frame operators consume. frame_idx still comes from the file
    * name, so late-listed files keep their true position. */
  def readFrameStream(spark: SparkSession, dir: String, glob: String = "*.png",
                      videoId: Int = 0): DataFrame =
    framePixels(
      spark.readStream.format("binaryFile")
        // streaming file sources require an explicit schema; binaryFile's
        // is fixed by the format
        .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
        .option("pathGlobFilter", glob)
        .load(dir)
        .withColumn("frame_idx",
          regexp_extract(col("path"), "(\\d+)\\.[A-Za-z]+$", 1).cast("int"))
        .withColumn("video_id", lit(videoId))
        .select("video_id", "frame_idx", "content"))
}
