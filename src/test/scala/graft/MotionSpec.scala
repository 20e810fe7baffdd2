package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BlockMatch, Motion}

/** Golden tests for the motion pipeline (reference ground truth: the
  * synthetic square moves with velocity (vx, vy) = (2, 1), so block
  * matching must find displacement (dy, dx) = (-1, -2) into the previous
  * frame — demo_synthetic.py:14-23 + motion_codec.py:76-90). The pair
  * and block kernels are checked against relational verification plans
  * over the long (frame_idx, y, x, v) pixel relation. */
class MotionSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def num(r: org.apache.spark.sql.Row, i: Int): Int =
    r.get(i).asInstanceOf[Number].intValue

  /** Dense (frame_idx, pix) frames of width w as the pixel relation. */
  private def pixelRows(frames: DataFrame, w: Int): DataFrame =
    frames.select(col("frame_idx"), posexplode(col("pix")).as(Seq("pos", "v")))
      .select(col("frame_idx"), expr(s"pos div $w").cast("int").as("y"),
        (col("pos") % w).as("x"), col("v"))

  /** Verification plan for the pair kernel: the per-pixel lag-join. */
  private def relationalFrameStats(video: DataFrame, lowDiffThreshold: Int = 10): DataFrame = {
    val stats = video.groupBy("frame_idx")
      .agg(avg("v").as("m"), stddev_pop(col("v")).as("s"))
    val prev = video.select(
      (col("frame_idx") + 1).as("frame_idx"), col("y"), col("x"), col("v").as("pv"))
    video.join(prev, Seq("frame_idx", "y", "x"))
      .join(stats.select(col("frame_idx"), col("m").as("m1"), col("s").as("s1")), Seq("frame_idx"))
      .join(stats.select((col("frame_idx") + 1).as("frame_idx"),
        col("m").as("m0"), col("s").as("s0")), Seq("frame_idx"))
      .withColumn("d", abs(col("v") - col("pv")))
      .withColumn("vn", greatest(lit(0.0), least(lit(255.0),
        (col("v") - col("m1")) * ((col("s0") + 1e-6) / (col("s1") + 1e-6)) + col("m0"))))
      .withColumn("dn", abs(col("pv") - col("vn")))
      .groupBy("frame_idx")
      .agg(avg("d").as("raw_mad"), round(avg("dn"), 6).as("mad"),
        expr("percentile(d, 0.9)").as("p90_diff"),
        avg(when(col("d") < lowDiffThreshold, 1.0).otherwise(0.0)).as("low_diff_ratio"))
  }

  /** Verification plan for full search: every whole block × every
    * displacement in [-search, search]² as a candidate join on the
    * clamped ref position, one row per (frame, by, bx, dy, dx). */
  private def blockCosts(video: DataFrame, h: Int, w: Int,
                         block: Int = 16, search: Int = 4): DataFrame = {
    val cur = video
      .filter(col("frame_idx") >= 1 &&
        col("y") < (h / block) * block && col("x") < (w / block) * block)
      .select(col("frame_idx"),
        expr(s"y div $block").as("by"), expr(s"x div $block").as("bx"),
        (col("y") % block).as("py"), (col("x") % block).as("px"), col("v"))
    val ref = video.select((col("frame_idx") + 1).as("frame_idx"),
      col("y").as("ry"), col("x").as("rx"), col("v").as("rv"))
    cur
      .withColumn("dy", explode(sequence(lit(-search), lit(search))))
      .withColumn("dx", explode(sequence(lit(-search), lit(search))))
      .withColumn("ry", greatest(lit(0), least(lit(h - block), col("by") * block + col("dy"))) + col("py"))
      .withColumn("rx", greatest(lit(0), least(lit(w - block), col("bx") * block + col("dx"))) + col("px"))
      .join(ref, Seq("frame_idx", "ry", "rx"))
      .groupBy("frame_idx", "by", "bx", "dy", "dx")
      .agg(
        sum(abs(col("v") - col("rv"))).as("cost"),
        sum((col("v") - col("rv")) * (col("v") - col("rv"))).as("sse"))
  }

  /** Lexicographic (cost, dy, dx) argmin = the reference's
    * first-strict-improvement scan, with the vector reported relative
    * to the clamped window. */
  private def bestVectors(costs: DataFrame, h: Int, w: Int, block: Int = 16)
      : Map[(Int, Int, Int), (Int, Int, Long, Long)] = {
    val byBlock = Window.partitionBy("frame_idx", "by", "bx")
      .orderBy(col("cost"), col("dy"), col("dx"))
    costs.withColumn("rn", row_number().over(byBlock)).filter(col("rn") === 1)
      .select(col("frame_idx"), col("by"), col("bx"),
        (greatest(lit(0), least(lit(h - block), col("by") * block + col("dy"))) - col("by") * block)
          .cast("int").as("dy"),
        (greatest(lit(0), least(lit(w - block), col("bx") * block + col("dx"))) - col("bx") * block)
          .cast("int").as("dx"),
        col("cost"), col("sse"))
      .collect().map(r => (num(r, 0), num(r, 1), num(r, 2)) ->
        (num(r, 3), num(r, 4), r.getLong(5), r.getLong(6))).toMap
  }

  private def kernelFull(video: DataFrame, h: Int, w: Int): Map[(Int, Int, Int), (Int, Int, Long, Long)] =
    BlockMatch.searchPairs(Motion.framePairs(video), h, w, methods = Seq("full"))
      .select("frame_idx", "by", "bx", "dy", "dx", "cost", "sse")
      .collect().map(r => (num(r, 0), num(r, 1), num(r, 2)) ->
        (num(r, 3), num(r, 4), r.getLong(5), r.getLong(6))).toMap

  test("full search recovers velocity (2,1) as displacement (-1,-2)") {
    val video = Motion.videoConstant(spark).localCheckpoint()
    val best = kernelFull(video, 96, 128)

    // The video is a pure translation, so compensation is perfect: every
    // block's best cost is 0, and (-1,-2) is a zero-cost candidate for
    // every block (even when an earlier scan-order candidate ties).
    assert(best.size === 19 * 6 * 8)
    assert(best.values.forall(_._3 == 0L))
    val costs = blockCosts(pixelRows(video, 128), h = 96, w = 128)
    assert(costs.filter(col("dy") === -1 && col("dx") === -2 && col("cost") =!= 0L).count() === 0)

    // Blocks containing a square corner with background visible on both
    // outside edges pin both boundary orientations, so their zero-cost
    // match is unique: the argmin must be exactly (-1,-2). (Edge-only
    // blocks are genuinely ambiguous along the edge direction and take
    // the first scan-order tie, matching the reference's strict-< scan.)
    val cornerBlocks = (1 until 20).flatMap { i =>
      val (y0, x0) = (40 + i, 30 + 2 * i)
      val (y1, x1) = (y0 + 16, x0 + 16) // inclusive far edges of the square
      def blk(a: Int, b: Int) = (a / 16, b / 16)
      Seq(
        (blk(y0 - 1, x0 - 1), blk(y0, x0)),
        (blk(y0 - 1, x1 + 1), blk(y0, x1)),
        (blk(y1 + 1, x0 - 1), blk(y1, x0)),
        (blk(y1 + 1, x1 + 1), blk(y1, x1))
      ).collect { case (outside, corner) if outside == corner => (i, corner._1, corner._2) }
    }.distinct
    assert(cornerBlocks.nonEmpty)
    cornerBlocks.foreach { key =>
      assert((best(key)._1, best(key)._2) === ((-1, -2)), s"corner block $key")
    }
  }

  test("variable-velocity video produces all three motion classes") {
    val classes = Motion.classified(Motion.videoVariable(spark), nFrames = 60)
      .select("class").distinct().collect().map(_.getString(0)).toSet
    assert(classes === Set("LOW", "MEDIUM", "HIGH"))
  }

  test("decisions: one row per frame pair; ME columns populated exactly for MEDIUM frames") {
    val rows = Motion.decisions(spark).collect()
    assert(rows.length === 19)
    assert(rows.exists(_.getAs[String]("class") == "MEDIUM"))
    rows.foreach { r =>
      val isMedium = r.getAs[String]("class") == "MEDIUM"
      assert(!r.isNullAt(r.fieldIndex("mean_sad_cost")) === isMedium, s"row $r")
    }
  }

  test("kernel full search is row-identical to the relational candidate join") {
    val (h, w) = (96, 128)
    // textured -> unique minima; constant -> scan-order ties everywhere
    for (video <- Seq(Motion.videoSmall(spark), Motion.videoConstant(spark))) {
      val frames = video.localCheckpoint()
      val relational = bestVectors(blockCosts(pixelRows(frames, w), h, w), h, w)
      val kernel = kernelFull(frames, h, w)
      assert(kernel.keySet === relational.keySet)
      // every block, the border ones whose windows the clamp shortens
      // included
      kernel.foreach { case (k, v) => assert(v === relational(k), s"block $k") }
    }
  }

  test("partial blocks: a 100x70 frame searches only its whole 6x4 block grid") {
    val (h, w) = (70, 100)
    val video = Motion.syntheticVideo(spark, 4, h, w, square = 12,
      vx = lit(3), vy = lit(2), textured = true, startX = 80, startY = 50).localCheckpoint()
    // the square reaches into the bottom strip (rows 64-69) and the right
    // strip (cols 96-99): no block of their own, but the clamped windows
    // of the blocks above and left of them read them
    val kernel = kernelFull(video, h, w)
    assert(kernel.size === 3 * 4 * 6)
    assert(kernel.keys.forall { case (_, by, bx) => by < 4 && bx < 6 })
    assert(kernel === bestVectors(blockCosts(pixelRows(video, w), h, w), h, w))
    // the pixel-relation adapter packs odd frame sizes the same way
    val viaRows = Motion.frameStats(pixelRows(video, w)).orderBy("frame_idx").collect()
    assert(viaRows.toSeq === Motion.frameStats(video).orderBy("frame_idx").collect().toSeq)
  }

  test("pair-stats kernel matches the relational lag-join on the variable-velocity and textured videos") {
    def rows(df: DataFrame) = df.select("frame_idx", "raw_mad", "mad", "p90_diff", "low_diff_ratio")
      .collect().map(r => r.getInt(0) -> (1 to 4).map(r.getDouble)).toMap
    // all three classes at full frame size, the textured clip, and a
    // 7x5 pair whose 35 diffs are all distinct, so p90 interpolates
    // between two different order statistics at position 34 * 0.9
    val spread = spark.createDataFrame(Seq(
        (0, Array.tabulate(35)(i => (i * 37) % 251)), (1, Array.tabulate(35)(i => (i * i * 19) % 253))))
      .toDF("frame_idx", "pix")
    for ((video, n, w) <- Seq((Motion.videoVariable(spark), 60, 256),
                              (Motion.videoSmall(spark), 20, 128), (spread, 2, 7))) {
      val frames = video.localCheckpoint()
      val kernel = rows(Motion.frameStats(frames))
      assert(kernel.keySet === (1 until n).toSet)
      assert(kernel === rows(relationalFrameStats(pixelRows(frames, w))))
    }
  }

  test("diamond and TSS descend to the optimum wherever full search finds one; full is always 0") {
    val video = Motion.videoConstant(spark)
    val results = BlockMatch.searchPairs(Motion.framePairs(video), h = 96, w = 128).cache()
    // full search is exhaustive: pure translation => always perfect
    assert(results.filter(col("method") === "full" && col("cost") =!= 0L).count() === 0)
    // diamond/TSS are hill climbs; they may stall on flat plateaus (as
    // the reference's do) but must reach 0 on most blocks, and never on
    // fewer than full would allow
    val n = results.filter(col("method") === "diamond").count()
    for (m <- Seq("diamond", "tss")) {
      val zero = results.filter(col("method") === m && col("cost") === 0L).count()
      assert(zero.toDouble / n > 0.9, s"$m reached 0 on only $zero/$n blocks")
    }
    results.unpersist()
  }

  test("method metrics: three methods per MEDIUM frame, full never worse") {
    val rows = BlockMatch.methodMetricsQuery(spark).collect()
    val byMethod = rows.groupBy(_.getAs[String]("method"))
    assert(byMethod.keySet === Set("full", "diamond", "tss"))
    val fullCost = byMethod("full")
      .map(r => r.getAs[Int]("frame") -> r.getAs[Double]("mean_cost")).toMap
    for (m <- Seq("diamond", "tss"); r <- byMethod(m)) {
      val f = r.getAs[Int]("frame")
      assert(fullCost(f) <= r.getAs[Double]("mean_cost") + 1e-9, s"$m frame $f")
    }
  }

  test("pause frames have zero raw MAD; jump frames exceed normal frames") {
    val stats = Motion.frameStatsQuery(spark).collect()
      .map(r => r.getAs[Int]("frame") -> r.getAs[Double]("mad_raw")).toMap
    // Frame i's diff is driven by velocity index i-1: pauses at j%4==0
    // (and not j%11==0), jumps at j%11==0.
    assert(stats(5) === 0.0)   // vel index 4 is a pause
    assert(stats(12) > stats(2))  // vel index 11 is a jump vs normal
  }
}
