package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Fixed-radius circular Hough transform (reference
  * HOUGH Transform/hough_heart_detector.py:103-157, a Python port of
  * MATLAB houghcircle.m) on per-image vote grids:
  *
  *  - The (img_id, y, x) edge relation is gathered per image (one
  *    shuffle keyed by img_id) and each image runs one plain-Scala
  *    kernel, [[peaks]]:
  *     - U3 vote generation (`:120-140`): each edge pixel (y, x) votes
  *       for candidate centers (round(y ± sqrt(r² − (x−x0)²)), x0) over
  *       x0 ∈ [x−r, x+r] inside the frame. When the vertical offset is
  *       0 both signs land on the same cell, which double-votes exactly
  *       like the reference's two scatter-adds.
  *     - A9 vote accumulation (`acc[y,x] += 1`) on a dense h×w int grid.
  *     - W3 non-maximum suppression (`:143-147`, 3×3 dilate-compare):
  *       keep cells ≥ every 8-neighbor (cells outside the frame count
  *       0; dilate == acc keeps ties, as the reference does) and ≥ the
  *       vote threshold.
  *  - A14 best center (`:153-157`): per-image argmax on votes with the
  *    reference's np.where row-major tie-break → (votes desc, y0, x0).
  *
  * Exactness: sqrt of an int is never exactly half-integral, and the
  * rounding is Spark `round`'s HALF_UP, so vote counts are exact
  * integers and the DuckDB oracle (which replays the vote explode, the
  * count and the 8-offset neighbor join in SQL) hash-matches.
  *
  * Scale notes: an image's votes never leave its task, so the only
  * exchange is the edge pixels' shuffle by img_id; the grid is h·w ints
  * per image in flight.
  */
object Hough {

  /** Synthetic edge maps: one ring of radius `r` per image, centered at
    * (30 + 3k, 40 + 2k) — pixels whose distance to the center is within
    * 0.5 of r. Stands in for the decode→CLAHE→Canny front end (U1/U2),
    * which feeds the same (img_id, y, x) edge relation. */
  def syntheticEdges(spark: SparkSession, nImages: Int = 6, h: Int = 96, w: Int = 96,
                     r: Int = 20): DataFrame =
    spark.range(nImages).select(col("id").cast("int").as("img_id"))
      .withColumn("cy", lit(30) + col("img_id") * 3)
      .withColumn("cx", lit(40) + col("img_id") * 2)
      .withColumn("y", explode(sequence(lit(0), lit(h - 1))))
      .withColumn("x", explode(sequence(lit(0), lit(w - 1))))
      .filter(abs(sqrt((col("y") - col("cy")) * (col("y") - col("cy"))
        + (col("x") - col("cx")) * (col("x") - col("cx"))) - r) < 0.5)
      .select("img_id", "y", "x")

  /** Spark `round(v)` on a double: HALF_UP, ties away from zero. */
  private def roundHalfUp(v: Double): Long = {
    val a = math.abs(v)
    val f = math.floor(a)
    val m = if (a - f >= 0.5) f + 1 else f
    (if (v < 0) -m else m).toLong
  }

  /** U3/A9/W3 — the per-image kernel: votes of the edge pixels
    * (ys(i), xs(i)) for radius `r` on an h×w grid, then the 3×3 NMS and
    * the `thresh` cut. Returns the kept (y0, x0, votes) cells in
    * row-major order; a cell without votes is never kept. */
  def peaks(ys: Array[Int], xs: Array[Int], h: Int, w: Int, r: Int,
            thresh: Long): Seq[(Int, Int, Long)] = {
    val acc = new Array[Int](h * w)
    def vote(y0: Long, x0: Int): Unit = if (y0 >= 0 && y0 < h) acc(y0.toInt * w + x0) += 1
    var i = 0
    while (i < ys.length) {
      val (y, x) = (ys(i), xs(i))
      var x0 = math.max(0, x - r)
      while (x0 <= math.min(w - 1, x + r)) {
        val s = math.sqrt((r * r - (x - x0) * (x - x0)).toDouble)
        vote(roundHalfUp(y - s), x0)
        vote(roundHalfUp(y + s), x0)
        x0 += 1
      }
      i += 1
    }
    for {
      y0 <- 0 until h
      x0 <- 0 until w
      v = acc(y0 * w + x0)
      if v > 0 && v >= thresh && (for (ny <- y0 - 1 to y0 + 1; nx <- x0 - 1 to x0 + 1
        if ny >= 0 && ny < h && nx >= 0 && nx < w) yield acc(ny * w + nx)).forall(_ <= v)
    } yield (y0, x0, v.toLong)
  }

  /** Runs `kernel` once per image over that image's edge pixels and
    * returns its rows as (img_id, y0, x0, votes); img_id keeps the
    * edge relation's type. */
  private def perImage(edges: DataFrame)(
      kernel: (Array[Int], Array[Int]) => Seq[(Int, Int, Long)]): DataFrame = {
    val byImage = edges.select(col("img_id"), col("y").cast("int"), col("x").cast("int"))
      .rdd.map(r => r.get(0) -> ((r.getInt(1), r.getInt(2))))
      .groupByKey()
      .flatMap { case (img, px) =>
        val (ys, xs) = px.toArray.unzip
        kernel(ys, xs).map { case (y0, x0, v) => Row(img, y0, x0, v) }
      }
    edges.sparkSession.createDataFrame(byImage, StructType(Seq(
      edges.schema("img_id"), StructField("y0", IntegerType), StructField("x0", IntegerType),
      StructField("votes", LongType, nullable = false))))
  }

  /** U3/A9/W3 — every NMS survivor with at least `thresh` votes, per
    * image: (img_id, y0, x0, votes). */
  def centers(edges: DataFrame, h: Int, w: Int, r: Int, thresh: Long): DataFrame =
    perImage(edges)(peaks(_, _, h, w, r, thresh))

  /** A14 — the strongest surviving center per image; ties break
    * row-major (y0, x0) like np.argmax over np.where output. An image
    * with no survivor has no row. */
  def bestCircles(edges: DataFrame, h: Int, w: Int, r: Int, thresh: Long): DataFrame =
    perImage(edges) { (ys, xs) =>
      peaks(ys, xs, h, w, r, thresh).reduceLeftOption((a, b) => if (b._3 > a._3) b else a).toSeq
    }

  /** End-to-end query: synthetic edges → votes → NMS → best center per
    * image (thresh follows the reference's acc_thresh default scaled to
    * the synthetic ring). */
  def bestCircleQuery(spark: SparkSession): DataFrame =
    bestCircles(syntheticEdges(spark), h = 96, w = 96, r = 20, thresh = 12L).orderBy("img_id")

  /** U7 — candidate scoring with bilinear sampling (reference detector
    * 2, hough_heart_detector2.py:137-213): sample nSamples perimeter
    * points per candidate circle, bilinearly interpolate the edge map
    * at each (4-corner weighted join — F5 trig + fractional-coordinate
    * lookup made relational), and score = mean interpolated edge
    * support. The reference adds alignment/homogeneity legs with the
    * 0.5/0.2/0.3 weights (BASELINE.md); this is the edge-support leg,
    * which alone ranks the true ring above perturbed candidates. */
  def scoreCircleCandidates(edges: DataFrame, candidates: DataFrame,
                            nSamples: Int = 72): DataFrame = {
    val pts = candidates
      .withColumn("i", explode(sequence(lit(0), lit(nSamples - 1))))
      .withColumn("t", col("i") * lit(2.0 * math.Pi / nSamples))
      .withColumn("sy", col("cy") + col("r") * sin(col("t")))
      .withColumn("sx", col("cx") + col("r") * cos(col("t")))
    val corners = pts
      .withColumn("c", explode(array(
        (for (dy <- 0 to 1; dx <- 0 to 1) yield
          struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)))
      .withColumn("py", (floor(col("sy")) + col("c.dy")).cast("int"))
      .withColumn("px", (floor(col("sx")) + col("c.dx")).cast("int"))
      .withColumn("weight",
        (lit(1.0) - abs(col("sy") - col("py"))) * (lit(1.0) - abs(col("sx") - col("px"))))
    val hits = corners
      .join(edges.select(col("img_id"), col("y").as("py"), col("x").as("px"),
        lit(1.0).as("edge")), Seq("img_id", "py", "px"), "left")
      .withColumn("contrib", col("weight") * coalesce(col("edge"), lit(0.0)))
    hits.groupBy("img_id", "cand_id", "cy", "cx", "r")
      .agg((sum("contrib") / (nSamples.toDouble)).as("edge_support"))
  }

  /** Best candidate per image by edge support (A14), ties to the lower
    * cand_id. */
  def bestCandidate(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("img_id").orderBy(col("edge_support").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("img_id", "cand_id", "cy", "cx", "r", "edge_support")
  }
}
