package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.metrics.Prometheus

/** Dup-heavy STREAMING soak (round-16, VERDICT item 4): the batch
  * signature collapse's payoff regime — a few templates duplicated
  * thousands of times (BASELINE.md round 14's dup-heavy corpus:
  * 10 templates × 2,000 copies) — hammered through
  * `StreamNearDup.minhashPairsStream`, which CANNOT collapse (members
  * arrive over time) and instead bounds work by the event-time
  * horizon. The round-12 churn soak predates the collapse and drove
  * one template at 2 docs/hour; this one drives that full
  * multiplicity and asserts the two properties that make the
  * streaming twin safe under real duplicate churn:
  *   - state stays at templates × bands buckets with members pruned
  *     to the horizon (never stream length × duplicates);
  *   - per-batch emissions plateau at the horizon-window bound
  *     (arrivals × in-horizon members × bands), never creeping with
  *     cumulative duplicate count.
  * Peak state rows/bytes and the emission plateau are recorded in
  * BASELINE.md round 16.
  */
class DupStreamSoakSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // vocabulary-DISJOINT templates: with shared filler tokens the ten
  // templates are genuine near-duplicates of one another (the min of
  // most hash components lands on a shared shingle), so bands collide
  // across templates and the cliques merge — the operator working as
  // designed, but not the isolated-group fixture this soak needs
  private val templates = (0 until 10).map(t =>
    (0 until 18).map(j => s"t${t}w$j").mkString(" "))

  test("dup-heavy soak: 10 templates x 2000 copies — state and emissions hold the horizon bound") {
    val l = Prometheus.attachStreaming(spark)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    // TTL 2.5 h, batches 1 h apart: each arrival pairs with the 2
    // prior batches of its template (20 members) + earlier within-batch
    // siblings — the horizon window, NOT the 2,000-copy history
    val ttlMs = 9000000L
    val out = graft.streaming.StreamNearDup.minhashPairsStream(
      stream.toDF().toDF("doc_id", "ts", "text"),
      watermarkDelay = "1 hour", stateTtlMs = ttlMs)
    val query = out.writeStream.format("noop")
      .queryName("dup_soak").outputMode("append").start()
    try {
      val emitted = scala.collection.mutable.Map.empty[Long, Long]
      for (h <- 0 until 200) {
        // 10 fresh copies of each of the 10 templates per hour-batch:
        // 200 batches x 10 = the dup-heavy corpus's 2,000 copies/template
        stream.addData((0 until 10).flatMap(t => (0 until 10).map(c =>
          ((h * 100 + t * 10 + c).toLong,
            new java.sql.Timestamp(h * 3600000L + c * 1000L),
            templates(t)))))
        query.processAllAvailable()
        query.recentProgress.foreach(p =>
          emitted(p.batchId) = p.sink.numOutputRows)
      }
      val perBatch = emitted.toSeq.sortBy(_._1).map(_._2)
      assert(perBatch.sum > 100000L,
        s"soak too quiet to be the dup-heavy regime: ${perBatch.sum} total emissions")
      // analytic horizon bound per batch: 10 arrivals x (20 in-horizon
      // members + 9 within-batch siblings) x 4 bands x 10 templates
      val bound = 10L * (20 + 9) * 4 * 10
      val late = perBatch.drop(10)
      assert(late.max <= bound,
        s"per-batch emissions ${late.max} exceed the horizon bound $bound (tail ${late.takeRight(10)})")
      // no creep: the last quarter's max stays at the first-half plateau
      val steady = late.take(late.size / 2).max
      assert(late.takeRight(late.size / 4).max <= steady,
        s"emissions crept past the steady plateau $steady: ${late.takeRight(15)}")
      // state rows = live band buckets: 10 templates x 4 bands, never
      // a function of the 20,000 cumulative duplicates
      val hist = l.history.get("dup_soak")
      assert(hist != null && hist.size >= 150, s"captured ${if (hist == null) 0 else hist.size}")
      assert(hist.drop(10).max <= 40L,
        s"band-bucket state rows crept past templates x bands: ${hist.drop(10).max}")
      val (rows, bytes, _) = l.last.get("dup_soak")
      info(s"dup soak: ${perBatch.sum} pairs over ${perBatch.size} batches, " +
        s"per-batch plateau <= $steady (bound $bound), state rows $rows peak ${hist.max}, " +
        s"state bytes $bytes")
    } finally {
      query.stop()
      Prometheus.detachStreaming(spark, l)
    }
  }

  test("dup-heavy closure parity: stream member pairs and batch keeper stars connect the same groups") {
    // Batch minhashPairs collapses each template group to a keeper
    // STAR; the stream emits arrival-order member pairs. Pair-for-pair
    // parity is impossible by design — the shipped contract is
    // transitive-closure equivalence, pinned here on a corpus where
    // every group is far above the size-3 fixture regime.
    implicit val sqlCtx = spark.sqlContext
    val docs = (0 until 3).flatMap(t => (0 until 40).map(c =>
      ((t * 40 + c).toLong, templates(t)))) ++
      (0 until 6).map(u => ((200 + u).toLong,
        (0 until 12).map(j => s"u${u}q$j").mkString(" ")))
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamNearDup.minhashPairsStream(
      stream.toDF().toDF("doc_id", "ts", "text"),
      watermarkDelay = "1 hour", stateTtlMs = 3600000L)
    val query = out.writeStream.format("memory").queryName("dup_parity")
      .outputMode("append").start()
    try {
      docs.grouped(25).zipWithIndex.foreach { case (chunk, i) =>
        stream.addData(chunk.map { case (id, text) =>
          (id, new java.sql.Timestamp(1000000L + i * 60000L + id), text) })
        query.processAllAvailable()
      }
      val streamPairs = spark.table("dup_parity")
        .select("doc_a", "doc_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val batchPairs = Dedup.minhashPairs(docs.toDF("doc_id", "text"))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))

      def components(pairs: Array[(Long, Long)]): Set[Set[Long]] = {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
        parent.keys.groupBy(find).values.map(_.toSet).toSet
      }
      val sc = components(streamPairs)
      val bc = components(batchPairs)
      assert(sc === bc,
        s"stream and batch must connect identical duplicate groups (stream ${sc.size}, batch ${bc.size})")
      // and those groups are exactly the three 40-member template cliques
      assert(sc.toSeq.map(_.size).sorted === Seq(40, 40, 40),
        sc.toSeq.map(_.size).sorted)
    } finally query.stop()
  }
}
