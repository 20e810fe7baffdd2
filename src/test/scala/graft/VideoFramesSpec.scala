package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Motion
import graft.sources.{ImageSource, VideoFrames}

/** S11 image-sequence video: a directory of numbered PNG frames decodes
  * to the exact pixels of the in-memory generator's dense frames, and
  * the motion pipeline's per-frame stats are identical on both. */
class VideoFramesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val (nFrames, h, w) = (6, 48, 64)
  private lazy val direct = Motion.syntheticVideo(spark, nFrames, h, w,
    square = 12, vx = lit(2), vy = lit(1), textured = true).localCheckpoint()
  // the generator's dense frames, by frame_idx
  private lazy val frames: Map[Int, Array[Int]] = direct.collect()
    .map(r => r.getInt(0) -> r.getAs[Seq[Int]](1).toArray).toMap
  // ...and as the (frame_idx, y, x, v) pixel set the decoders emit
  private lazy val want = frames.toSeq.flatMap { case (idx, px) =>
    px.indices.map(p => (idx, p / w, p % w, px(p)))
  }.toSet

  private def writeFrame(dir: String, idx: Int): Unit =
    Files.write(Paths.get(dir, f"frame_$idx%04d.png"),
      ImageSource.encodePngGray(w, h, frames(idx)))

  private lazy val frameDir: String = {
    val dir = Files.createTempDirectory("graft_frames_").toString
    frames.keys.foreach(writeFrame(dir, _))
    dir
  }

  test("frame directory round-trips to the identical pixel relation") {
    val decoded = VideoFrames.readFramePixels(spark, frameDir)
      .select("frame_idx", "y", "x", "v")
    val got = decoded.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got.size == nFrames * h * w)
    assert(got == want, "decoded pixels must equal the generator's")
  }

  test("frame_idx comes from the file name, not listing order") {
    val frames = VideoFrames.readFrameDir(spark, frameDir).select("frame_idx")
      .collect().map(_.getInt(0)).sorted
    assert(frames.toSeq == (0 until nFrames))
  }

  test("streaming frame directory: frames land as micro-batches and decode identically") {
    val dir = Files.createTempDirectory("graft_stream_frames_").toString
    (0 until 3).foreach(writeFrame(dir, _))
    val query = VideoFrames.readFrameStream(spark, dir)
      .writeStream.format("memory").queryName("vf_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val n1 = spark.table("vf_out").count()
      assert(n1 == 3L * h * w, s"first batch must carry 3 frames, got $n1 pixels")
      // frames landing later are picked up as new micro-batches
      (3 until nFrames).foreach(writeFrame(dir, _))
      query.processAllAvailable()
      val got = spark.table("vf_out").select("frame_idx", "y", "x", "v")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
      assert(got == want, "streamed pixels must equal the generator's")
    } finally query.stop()
  }

  test("motion frameStats is identical on the decoded sequence") {
    val statsDirect = Motion.frameStats(direct).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet
    val statsDecoded = Motion.frameStats(
        VideoFrames.readFramePixels(spark, frameDir).select("frame_idx", "y", "x", "v"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(statsDecoded == statsDirect)
  }
}
