package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** J3/U4 — block matching over dense frame pairs (SURVEY §2.3 J3,
  * §2.10 U4, §4.3; reference Motion_estimation/motion_codec.py:76-171).
  *
  * Full, diamond and three-step search run in-JVM per pair row against
  * the dense reference frame: candidate work is register arithmetic, not
  * shuffled rows. Diamond and TSS iterate until no improvement, which
  * no fixed relational plan expresses; MotionSpec keeps the relational
  * candidate-join plan as the verification plan for full search.
  *
  * All three methods reproduce the reference's scan semantics exactly:
  * strict-improvement updates in the reference's candidate order, and
  * clip-to-frame window clamping (motion_codec.py:85-86).
  */
object BlockMatch {

  case class BlockMV(frame_idx: Int, method: String, by: Int, bx: Int,
                     dy: Int, dx: Int, cost: Long, sse: Long)

  private val ldsp = List((0, 0), (0, -2), (0, 2), (-2, 0), (2, 0), (-1, -1), (-1, 1), (1, -1), (1, 1))
  private val sdsp = List((0, 0), (0, -1), (0, 1), (-1, 0), (1, 0))

  /** Every block of `cur` (h×w, row-major) searched in `ref` by each of
    * `methods` ("full", "diamond", "tss"), within ±search.
    *
    * Partial-block rule: only whole blocks are searched. The block grid
    * is (h / block) × (w / block), the reference's motion-vector grid
    * (motion_codec.py:76-90, 177-180); a bottom or right strip narrower
    * than `block` is no block of its own. Its pixels still lie in the
    * clamped reference windows [0, h-block] × [0, w-block] of the
    * blocks above and left of it. */
  def search(frameIdx: Int, cur: Array[Int], ref: Array[Int], h: Int, w: Int,
             block: Int, search: Int, methods: Seq[String]): Seq[BlockMV] = {
    require(cur.length == h * w && ref.length == h * w,
      s"frame $frameIdx: expected $h×$w pixels, got ${cur.length} and ${ref.length}")
    def clip(v: Int, hi: Int) = math.max(0, math.min(hi, v))
    for (by <- 0 until h / block; bx <- 0 until w / block; m <- methods) yield {
      val (y0, x0) = (by * block, bx * block)
      var (bc, bsse, bdy, bdx) = (Long.MaxValue, 0L, 0, 0)

      // SAD + squared error of the block against the window at
      // (y0+dy, x0+dx) clamped to the frame; a strict improvement
      // becomes the best vector
      def tryAt(dy: Int, dx: Int): Boolean = {
        val (yy, xx) = (clip(y0 + dy, h - block), clip(x0 + dx, w - block))
        var (sad, sse) = (0L, 0L)
        var r = 0
        while (r < block) {
          val co = (y0 + r) * w + x0
          val ro = (yy + r) * w + xx
          var c = 0
          while (c < block) {
            val d = cur(co + c) - ref(ro + c)
            sad += math.abs(d); sse += d.toLong * d
            c += 1
          }
          r += 1
        }
        val better = sad < bc
        if (better) { bc = sad; bsse = sse; bdy = dy; bdx = dx }
        better
      }
      // one pass over a pattern around the best vector, which moves as
      // soon as a candidate improves on it
      def probe(pattern: Seq[(Int, Int)]): Boolean =
        pattern.foldLeft(false) { case (any, (dy, dx)) =>
          val (cy, cx) = (bdy + dy, bdx + dx)
          (math.max(math.abs(cy), math.abs(cx)) <= search && tryAt(cy, cx)) || any
        }

      m match {
        case "full" =>
          for (dy <- -search to search; dx <- -search to search) tryAt(dy, dx)
          // reported relative to the clamped window, like the
          // reference's yy - y0 (motion_codec.py:89)
          bdy = clip(y0 + bdy, h - block) - y0; bdx = clip(x0 + bdx, w - block) - x0
        case "diamond" =>
          tryAt(0, 0)
          var improved = true
          while (improved && math.max(math.abs(bdy), math.abs(bdx)) + 2 <= search) improved = probe(ldsp)
          while (probe(sdsp)) {}
        case "tss" =>
          tryAt(0, 0)
          var s = 1
          while ((s << 1) <= search) s <<= 1
          while (s >= 1) {
            probe(for (dy <- Seq(-s, 0, s); dx <- Seq(-s, 0, s) if dy != 0 || dx != 0) yield (dy, dx))
            s /= 2
          }
      }
      BlockMV(frameIdx, m, by, bx, bdy, bdx, bc, bsse)
    }
  }

  /** Per-(frame, block, method) motion vectors over (frame_idx, cur,
    * prev) pair rows (Motion.framePairs). */
  def searchPairs(pairs: DataFrame, h: Int, w: Int, block: Int = 16, search: Int = 4,
                  methods: Seq[String] = Seq("full", "diamond", "tss")): DataFrame =
    pairs.as(Encoders.product[Motion.FramePair])
      .flatMap(p => this.search(p.frame_idx, p.cur, p.prev, h, w, block, search, methods))(
        Encoders.product[BlockMV])
      .toDF()

  /** §2.7 cross-method comparison (demo_synthetic.py:119-129
    * method_metrics.csv): per (method, frame) mean SAD + PSNR on the
    * textured small video, ME gated to MEDIUM frames. */
  def methodMetricsQuery(spark: SparkSession,
                         methods: Seq[String] = Seq("full", "diamond", "tss")): DataFrame =
    Motion.gatedSearch(spark, methods)._2
      .select(col("method"), col("frame_idx").as("frame"),
        round(col("mean_cost"), 2).as("mean_cost"), round(col("psnr"), 4).as("psnr"))
      .orderBy("method", "frame")
}
