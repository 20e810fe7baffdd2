package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables`' per-JVM schema memo: a rewrite in place is never served a
  * stale schema, and a known schema resolves without a Spark job. Every
  * fixture is written to a fresh temp directory. */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-tables").toString

  /** Number of Spark jobs started while `body` runs. A sentinel job runs
    * last; listener events arrive in order, so once the sentinel is seen
    * every earlier job has been counted. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("tables-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("tables-sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("tables-sentinel"), "listener never saw the sentinel job")
      seen.size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("events.ts rewritten in place as int64 nanos, TIMESTAMP, TIMESTAMP_NTZ reads the same instants") {
    val dir = tmpDir()
    val micros = Seq(1700000000000000L, 1700000123456789L, 1700003600000001L)
    val base = micros.toDF("us").withColumn("event_id", monotonically_increasing_id())
    def rewrite(ts: org.apache.spark.sql.Column): Unit =
      base.select(col("event_id"), ts.as("ts")).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def instants(): Seq[Long] = {
      val events = Tables(spark, dir, "events")
      assert(events.schema("ts").dataType === TimestampType)
      events.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted
    }

    rewrite(col("us") * 1000)
    assert(instants() === micros)
    val outType = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(outType, "TIMESTAMP_MICROS")
    try rewrite(timestamp_micros(col("us"))) finally spark.conf.unset(outType)
    assert(instants() === micros)
    rewrite(timestamp_micros(col("us")).cast("timestamp_ntz"))
    assert(instants() === micros)
  }

  test("a schema resolved once resolves without a Spark job in a fresh session") {
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "o_comment")
      .write.parquet(s"$dir/orders.parquet")
    // the first resolve runs Spark's schema-inference job
    assert(jobsDuring(Tables(spark, dir, "orders").schema) >= 1)
    val fresh = spark.newSession()
    assert(jobsDuring(Tables(fresh, dir, "orders")) === 0)
    assert(Tables(fresh, dir, "orders").columns.toSeq === Seq("o_orderkey", "o_comment"))
    assert(Tables(fresh, dir, "orders").count() === 2)
  }
}
