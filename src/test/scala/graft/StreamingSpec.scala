package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Events
import graft.streaming.RateLimit

/** Structured Streaming coverage: ST2 windowed rate limiting agrees
  * with its batch analog, and ST1 append-only file streaming picks up
  * new files incrementally. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}
  import spark.implicits._

  test("ST2: streaming window counts match the batch rate-limit totals") {
    val events = Tables(spark, sf0001, "events")
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    stream.addData(events.toSeq)
    val counted = RateLimit.windowCounts(
      stream.toDF().toDF("user_id", "ts"), burst = 5)
    val query = counted.writeStream
      .format("memory").queryName("rl_out").outputMode("complete").start()
    try {
      query.processAllAvailable()
      val streaming = spark.table("rl_out")
        .groupBy("user_id")
        .agg(sum("admitted").as("admitted"), sum("denied").as("denied"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = Events.rateLimitAdmitDeny(spark, sf0001, burst = 5)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streaming === batch)
    } finally query.stop()
  }

  test("ST2 exact: per-event admit/deny stream matches the batch ranking") {
    val events = Tables(spark, sf0001, "events")
      .select(col("user_id"), col("ts")).orderBy("ts", "user_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val half = events.length / 2
    val decisions = RateLimit.admitDeny(stream.toDS(), windowSeconds = 3600L, burst = 5)
      .toDF("user_id", "ts", "admitted")
    val query = decisions.writeStream
      .format("memory").queryName("rl_exact_out").outputMode("append").start()
    try {
      stream.addData(events.take(half).toSeq)
      query.processAllAvailable()
      stream.addData(events.drop(half).toSeq)
      query.processAllAvailable()
      val streaming = spark.table("rl_exact_out")
        .groupBy("user_id")
        .agg(sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted"),
          sum(when(!col("admitted"), 1L).otherwise(0L)).as("denied"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = Events.rateLimitAdmitDeny(spark, sf0001, burst = 5)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streaming === batch)
    } finally query.stop()
  }

  test("ST3: stateful frame differencing matches the batch lag-join across a batch split") {
    import graft.operators.Motion
    import graft.streaming.FrameStream
    import graft.streaming.FrameStream.Frame
    // the constant video's dense frames, in order
    val frames = Motion.videoConstant(spark).collect()
      .map(r => Frame(0, r.getAs[Int]("frame_idx"), r.getAs[Seq[Int]]("pix").toArray))
      .sortBy(_.frameIdx).toSeq
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Frame]
    val query = FrameStream.frameDiffs(stream.toDS()).writeStream
      .format("memory").queryName("st3_out").outputMode("append").start()
    try {
      // split mid-video: state must carry frame 9 into the second batch
      stream.addData(frames.take(10))
      query.processAllAvailable()
      stream.addData(frames.drop(10))
      query.processAllAvailable()
      val streaming = spark.table("st3_out")
        .collect().map(r => r.getAs[Int]("frameIdx") -> r.getAs[Double]("rawMad")).toMap
      val batch = Motion.frameStats(Motion.videoConstant(spark))
        .collect().map(r => r.getAs[Int]("frame_idx") -> r.getAs[Double]("raw_mad")).toMap
      assert(streaming.keySet === batch.keySet)
      streaming.foreach { case (f, mad) =>
        assert(math.abs(mad - batch(f)) < 1e-9, s"frame $f")
      }
    } finally query.stop()
  }

  test("ST1: append-only file stream ingests newly arriving files") {
    val dir = Files.createTempDirectory("graft_st1_").toFile
    dir.deleteOnExit()
    val src = Tables(spark, sf0001, "events").select("event_id", "user_id", "ts")
    src.limit(100).write.mode("append").parquet(dir.getAbsolutePath)
    val schema = src.schema
    val stream = spark.readStream.schema(schema).parquet(dir.getAbsolutePath)
    val query = stream.writeStream
      .format("memory").queryName("st1_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val n1 = spark.table("st1_out").count()
      assert(n1 === 100)
      src.limit(250).write.mode("append").parquet(dir.getAbsolutePath)
      query.processAllAvailable()
      val n2 = spark.table("st1_out").count()
      assert(n2 === 350)
    } finally query.stop()
  }
}
