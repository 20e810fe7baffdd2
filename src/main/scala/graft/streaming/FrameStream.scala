package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Motion

/** ST3 — the ordered frame pipeline as a true stream (SURVEY §2.9: "a
  * streaming variant would be flatMapGroupsWithState keyed by video id
  * carrying the previous frame"; reference motion_codec.py:243-289
  * iterates frames with state = previous frame).
  *
  * State per video = the last seen (frame_idx, pixels); each arriving
  * frame emits its raw MAD against the carried predecessor (the batch
  * pipeline's pair kernel, Motion.pairStats) and replaces the state —
  * so differencing works across micro-batch boundaries.
  * Within a batch frames are sorted by index (file/memory sources can
  * deliver a batch out of order); across batches arrival order must be
  * monotone per video, which matches the reference's sequential read.
  * StreamingSpec asserts parity with the batch pipeline
  * (Motion.frameStats raw_mad) including a mid-video batch split. */
object FrameStream {

  case class Frame(videoId: Int, frameIdx: Int, pixels: Array[Int])
  case class FrameDiff(videoId: Int, frameIdx: Int, rawMad: Double)

  def frameDiffs(frames: Dataset[Frame]): Dataset[FrameDiff] = {
    implicit val stateEnc = Encoders.product[(Int, Array[Int])]
    implicit val outEnc = Encoders.product[FrameDiff]
    implicit val keyEnc = Encoders.scalaInt
    frames.groupByKey(_.videoId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (key: Int, it: Iterator[Frame], state: GroupState[(Int, Array[Int])]) => {
          val sorted = it.toSeq.sortBy(_.frameIdx)
          var prev = state.getOption
          val out = sorted.flatMap { f =>
            val diff = prev.collect {
              case (prevIdx, prevPx) if prevIdx == f.frameIdx - 1 =>
                FrameDiff(key, f.frameIdx, Motion.pairStats(f.frameIdx, f.pixels, prevPx).raw_mad)
            }
            prev = Some((f.frameIdx, f.pixels))
            diff
          }
          prev.foreach(state.update)
          out.iterator
        })
  }
}
