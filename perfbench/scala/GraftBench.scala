package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.streaming.StreamWindows

/** One events-shaped row of a workload stream's generated input. */
case class StreamEvent(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)

/** Measuring half of the benchmark (`perfbench/run.py` is the other half).
  *
  * One JVM runs one workload: `Setups` timed set-ups (fresh session,
  * inputs resolved and, if the workload has one, stream started), a cold
  * pass over the workload's operations, then `warm` warm passes. An
  * operation is a registry query (timed as build = the module call
  * returning the DataFrame, exec = its noop-sink write) or one micro-batch
  * cycle of the workload's stream (`--stream_events` > 0). Raw
  * timings, output fingerprints and, with tracing on, the listener events
  * go to `<out>/raw.json`; `run.py` turns them into metrics and spans. */
object GraftBench {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = m.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val bench = new GraftBench(a)
    try bench.run() finally bench.close()
  }

  /** Attaches an order-insensitive output fingerprint to `df`: row
    * count and the sums of the low and high 32 bits of each row's
    * xxhash64, collected by `Dataset.observe` during the same execution
    * that writes the rows, so checking a call never runs it twice.
    * Doubles are rounded to 6 decimals first so last-bit differences in
    * summation order do not change it. Returns the DataFrame to write and
    * a function giving `rows:lo:hi` once the write has finished. */
  def fingerprinted(df: DataFrame): (DataFrame, () => String) = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    val observed = pos.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
    (observed, () => {
      val m = obs.get
      s"${m("rows")}:${m("lo")}:${m("hi")}"
    })
  }

  /** Set-ups per run: the first pays for JVM and Spark class loading,
    * the others show the cost of a session in a warm JVM. */
  val Setups = 4
  /** Micro-batch cycles of the workload's stream in the cold pass and in
    * each warm pass. */
  val ColdCycles = 1
  val WarmCycles = 2
}

class GraftBench(a: GraftBench.Args) {
  import GraftBench._

  private val workload = a("workload")
  private val mode = a("mode") // batch | golden
  private val streamEvents = a.m.get("stream_events").map(_.toInt).getOrElse(0)
  private val dataDir = a("data")
  private val work = new File(a("work"))
  private val out = new File(a("out"))
  private val warm = a.int("warm")
  private val traced = a("trace") == "1"
  private val cores = Runtime.getRuntime.availableProcessors()

  // wall clock in epoch ms with sub-ms resolution (from nanoTime), so that
  // the harness's timestamps line up with Spark's epoch-ms event times
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var spark: SparkSession = _
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passSpans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val fingerprints = mutable.LinkedHashMap.empty[String, String]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val tracer = new Tracer

  private def newSession(n: Int): SparkSession = {
    val dir = new File(work, s"session$n")
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(dir, "hadoop").getAbsolutePath)
      .getOrCreate()
  }

  def run(): Unit = {
    out.mkdirs()
    val queries = a.list("queries")
    val registry = SparkEntry.queries
    val unknown = queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // timed set-ups: each one starts a session on a fresh warehouse,
    // resolves every input table and, if the workload has a stream, starts
    // the streaming query and waits for its first trigger; all but the
    // last are torn down again
    for (i <- 1 to Setups) {
      if (spark != null) {
        stream.foreach(_.query.stop())
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = newSession(i)
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.setCheckpointDir(new File(work, s"session$i/rdd-checkpoint").getPath)
      Tables.names.foreach(t => Tables(spark, dataDir, t).schema)
      if (streamEvents > 0) stream = Some(new Stream(new File(work, s"session$i")))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    if (traced) tracer.attach(spark)
    val w0 = nowMs()
    mode match {
      case "golden" => queries.foreach { q =>
        val c = call(0, q) { query(registry(q)) }
        fingerprints(q) = c("fingerprint").toString
      }
      case _ =>
        try passes { pass =>
          queries.foreach(q => calls += call(pass, q) { query(registry(q)) })
          stream.foreach(st => for (_ <- 1 to (if (pass == 0) ColdCycles else WarmCycles)) calls += st.cycle(pass))
        } finally stream.foreach(_.query.stop())
        stream.foreach(_.check())
    }
    extra("workload_span_ms") = Seq(w0, nowMs())
    writeRaw()
  }

  def close(): Unit = if (spark != null) spark.stop()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** CPU time of every thread of this JVM (driver, executor tasks, JIT,
    * GC). Unlike wall time it does not grow while the host runs other
    * guests' work on our cores. */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The cold pass, then `warm` warm passes. A traced run traces the cold
    * pass and every odd warm pass and leaves the even ones untraced: the
    * same process thereby measures the untraced suite too, and hence the
    * tracing overhead. */
  private def passes(body: Int => Unit): Unit = {
    for (pass <- 0 to warm) {
      tracer.enabled = traced && (pass == 0 || pass % 2 == 1)
      val p0 = nowMs()
      body(pass)
      val p1 = nowMs()
      // a full GC between passes, outside any timed call: each pass starts
      // on a clean heap, and the heap left after it is the live set. The
      // second GC collects what Spark's ContextCleaner released in between.
      System.gc()
      Thread.sleep(200)
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passSpans += Map("pass" -> pass, "traced" -> tracer.enabled, "start_ms" -> p0, "end_ms" -> p1,
        "heap_live_mb" -> live)
    }
    tracer.enabled = false
  }

  /** A registry query as an operation: the module call is the build
    * step; the exec step writes the returned DataFrame to the noop sink. */
  private def query(fn: (SparkSession, String) => DataFrame): () => () => String = {
    val (df, fp) = fingerprinted(fn(spark, dataDir))
    () => { df.write.format("noop").mode("overwrite").save(); fp }
  }

  /** Runs and times one operation. `build` is timed as the build step and
    * returns the exec step, which returns the output check to evaluate
    * once the timing has stopped. Jobs run under the operation's name as
    * their job group. */
  private def call(pass: Int, op: String)(build: => () => () => String): Map[String, Any] = {
    spark.sparkContext.setJobGroup(op, s"perfbench $workload pass $pass", false)
    val cg = CodeGenerator.compileTime
    val gc = gcMs()
    val cpu = processCpuNs()
    val s0 = nowMs()
    var s1 = s0
    val (ok, err, check) =
      try {
        val exec = build
        s1 = nowMs()
        (true, "", exec())
      } catch {
        case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}", () => "")
      }
    val s2 = nowMs()
    val cpuS = (processCpuNs() - cpu) / 1e9
    spark.sparkContext.clearJobGroup()
    if (!ok) errors += s"$op pass $pass: $err"
    Map("pass" -> pass, "op" -> op, "traced" -> tracer.enabled, "ok" -> ok, "error" -> err,
      "build_s" -> (s1 - s0) / 1e3, "exec_s" -> (s2 - s1) / 1e3, "start_ms" -> s0, "exec_start_ms" -> s1,
      "end_ms" -> s2, "cpu_s" -> cpuS, "codegen_compile_ms" -> (CodeGenerator.compileTime - cg) / 1e6,
      "jvm_gc_ms" -> (gcMs() - gc), "fingerprint" -> check())
  }

  // ---------------------------------------------------------------- stream

  private var stream: Option[Stream] = None
  private val hourMs = 3600L * 1000

  /** A workload's stream: a seeded generator feeding a MemoryStream into
    * `StreamWindows.slidingCountsStream`, whose closed windows go to a
    * memory sink so that their n_events can be checked. */
  private class Stream(dir: File) {
    private val batchEvents = streamEvents
    private val users = 10000
    private val types = Array("view", "click", "purchase", "signup", "error")
    private val baseMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    private val rnd = new java.util.SplittableRandom(a("seed").toLong)
    private val cdf = {
      val w = (1 to users).map(k => 1.0 / math.pow(k, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private var cycle = 0
    private var nextId = 0L
    private var maxTs = Long.MinValue
    /** Plain-Scala reference: n_events per (2 h window start in ms, type). */
    private val counts = mutable.HashMap.empty[(Long, String), Long]

    val input: MemoryStream[StreamEvent] = {
      val s = spark
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      MemoryStream[StreamEvent]
    }
    val sink = "perfbench_windows"
    val query = StreamWindows.slidingCountsStream(input.toDF())
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", new File(dir, "stream-checkpoint").getPath)
      .start()
    query.processAllAvailable() // the first trigger has run: the query is ready

    private def zipf(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(users - 1) + 1L
    }

    /** The next batch: `batchEvents` rows over the next hour of event time,
      * so every cycle closes one 2 h window per type. user_id is
      * Zipf-skewed (s = 1.1); one row in ten arrives one batch late but by
      * less than the 1-minute watermark delay, so no row is dropped and
      * every closed window must count all of its rows. */
    def nextBatch(): Seq[StreamEvent] = {
      val lo = baseMs + cycle * hourMs
      val batch = (0 until batchEvents).map { _ =>
        nextId += 1
        val late = cycle > 0 && rnd.nextInt(10) == 0
        val ts = if (late) lo - 1 - rnd.nextLong(50000L) else lo + rnd.nextLong(hourMs)
        StreamEvent(nextId, new Timestamp(ts), zipf(), types(rnd.nextInt(types.length)),
          rnd.nextInt(100000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
      }
      for (e <- batch) {
        val t = e.ts.getTime
        maxTs = maxTs.max(t)
        val h = Math.floorDiv(t, hourMs) * hourMs
        for (w <- Seq(h - hourMs, h)) counts((w, e.event_type)) = counts.getOrElse((w, e.event_type), 0L) + 1
      }
      cycle += 1
      batch
    }

    /** One cycle as an operation: `addData` of the next generated batch
      * plus `processAllAvailable`, i.e. the data batch and the no-data
      * batch that advances the watermark and closes a window. */
    def cycle(pass: Int): Map[String, Any] = {
      val batch = nextBatch()
      call(pass, "cycle") { () => input.addData(batch); query.processAllAvailable(); () => "" }
    }

    /** Compares n_events of every window the final watermark has closed
      * with the reference; a missing, extra or different window is an
      * error. */
    def check(): Unit = {
      val watermark = maxTs - 60000L
      val expected = counts.collect { case ((w, t), n) if w + 2 * hourMs <= watermark => (w * 1000L, t) -> n }
      val got = spark.table(sink).collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val bad = (expected.keySet ++ got.keySet).count(k => expected.get(k) != got.get(k))
      fingerprints("closed_windows") = s"${expected.size}:$bad"
      extra("stream_events_per_cycle") = batchEvents
      if (bad > 0) errors += s"stream: $bad of ${expected.size} closed windows differ from the reference"
    }
  }

  // ---------------------------------------------------------------- output

  private def writeRaw(): Unit = {
    if (traced) tracer.drain()
    val raw = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "mode" -> mode, "seed" -> a("seed"), "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version, "warm_passes" -> warm, "traced" -> traced,
      "setup_s" -> setupS, "calls" -> calls, "passes" -> passSpans, "fingerprints" -> fingerprints,
      "errors" -> errors, "peak_rss_mb" -> peakRssMb(), "host_steal_s" -> stealS()) ++ extra
    if (traced) raw ++= tracer.events
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out, "raw.json"), raw)
  }

  private val steal0 = stealTicks()

  /** CPU time the hypervisor gave to other guests since start-up, summed
    * over all CPUs ("steal" in /proc/stat): context for noisy timings. */
  private def stealS(): Double = (stealTicks() - steal0) / 100.0

  private def stealTicks(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  // ---------------------------------------------------------------- tracing

  /** Spark's public listeners, recording raw events only while `enabled`.
    * Events arrive on Spark's listener threads; they carry Spark's own
    * epoch-ms timestamps, so `run.py` attributes them to harness spans by
    * job group and time. */
  private class Tracer {
    @volatile var enabled = false
    private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    private val taskAgg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
    @volatile private var lastEvent = System.nanoTime()

    private val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
        lastEvent = System.nanoTime()
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobStart.put(e.jobId, (e.time, group, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        lastEvent = System.nanoTime()
        Option(jobStart.remove(e.jobId)).foreach { case (t0, group, stageIds) =>
          jobs.add(Map("job" -> e.jobId, "group" -> group, "start_ms" -> t0, "end_ms" -> e.time,
            "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded)))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
        lastEvent = System.nanoTime()
        val m = e.taskMetrics
        if (m != null) {
          val acc = taskAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Double](11))
          acc.synchronized {
            acc(0) += 1
            acc(1) += m.executorRunTime
            acc(2) += m.executorCpuTime / 1e6
            acc(3) += m.jvmGCTime
            acc(4) += m.shuffleWriteMetrics.bytesWritten
            acc(5) += m.shuffleReadMetrics.totalBytesRead
            acc(6) += m.shuffleReadMetrics.fetchWaitTime
            acc(7) += m.diskBytesSpilled
            acc(8) += m.memoryBytesSpilled
            acc(9) += m.inputMetrics.recordsRead
            acc(10) += m.inputMetrics.bytesRead
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        lastEvent = System.nanoTime()
        val i = e.stageInfo
        Option(taskAgg.remove((i.stageId, i.attemptNumber()))).foreach { acc =>
          stages.add(Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
            "start_ms" -> i.submissionTime.getOrElse(-1L), "end_ms" -> i.completionTime.getOrElse(-1L),
            "tasks" -> acc(0), "task_ms" -> acc(1), "cpu_ms" -> acc(2), "gc_ms" -> acc(3),
            "shuffle_write_bytes" -> acc(4), "shuffle_read_bytes" -> acc(5),
            "fetch_wait_ms" -> acc(6), "disk_spill_bytes" -> acc(7), "memory_spill_bytes" -> acc(8),
            "input_rows" -> acc(9), "input_bytes" -> acc(10)))
        }
      }
    }

    private object Broadcasts extends AdaptiveSparkPlanHelper

    private val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (enabled) record(funcName, qe, ok = true)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (enabled) record(funcName, qe, ok = false)
      private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
        lastEvent = System.nanoTime()
        val ph = qe.tracker.phases
        def p(k: String): (Long, Long) = ph.get(k).map(s => (s.startTimeMs, s.endTimeMs)).getOrElse((-1L, -1L))
        val bcast = try Broadcasts.collectWithSubqueries(qe.executedPlan) {
          case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
        }.sum catch { case _: Throwable => 0L }
        plans.add(Map("func" -> funcName, "ok" -> ok,
          "analysis" -> Seq(p("analysis")._1, p("analysis")._2),
          "optimization" -> Seq(p("optimization")._1, p("optimization")._2),
          "planning" -> Seq(p("planning")._1, p("planning")._2),
          "broadcast_bytes" -> bcast))
      }
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
        lastEvent = System.nanoTime()
        val p = e.progress
        progress.add(Map("batch" -> p.batchId, "timestamp" -> p.timestamp,
          "input_rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() },
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    }

    def attach(s: SparkSession): Unit = {
      s.sparkContext.addSparkListener(sparkListener)
      s.listenerManager.register(planListener)
      s.streams.addListener(streamListener)
    }

    /** Waits until the listener bus has been quiet for half a second
      * (at most ten seconds) so that no event of the run is lost. */
    def drain(): Unit = {
      val limit = System.nanoTime() + 10000000000L
      while (System.nanoTime() - lastEvent < 500000000L && System.nanoTime() < limit) Thread.sleep(50)
    }

    def events: Map[String, Any] = Map(
      "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
      "plans" -> plans.asScala.toSeq, "stream_progress" -> progress.asScala.toSeq)
  }
}
