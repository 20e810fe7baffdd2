package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Hough

/** Golden test: the Hough pipeline must recover the known synthetic
  * circle centers (reference hough_heart_detector.py:103-157 semantics),
  * and the per-image vote+NMS kernel must agree with the relational
  * plan it replaced. */
class HoughSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** The relational vote plan, kept as the kernel's verification plan:
    * an explode over the x0 range and the ± sign, in-frame y0 only,
    * then a groupBy count — (img_id, y0, x0, votes). */
  private def relationalVotes(edges: DataFrame, h: Int, w: Int, r: Int): DataFrame =
    edges
      .withColumn("x0", explode(sequence(
        greatest(lit(0), col("x") - r), least(lit(w - 1), col("x") + r))))
      .withColumn("dy_sq", lit(r * r) - (col("x") - col("x0")) * (col("x") - col("x0")))
      .filter(col("dy_sq") >= 0)
      .withColumn("sgn", explode(array(lit(-1.0), lit(1.0))))
      .withColumn("y0", round(col("y") + col("sgn") * sqrt(col("dy_sq"))).cast("int"))
      .filter(col("y0") >= 0 && col("y0") < h)
      .groupBy("img_id", "y0", "x0")
      .agg(count(lit(1)).as("votes"))

  /** The relational 3×3 NMS: an 8-offset neighbor self-join keeping
    * cells ≥ their neighborhood max (missing neighbors count 0) and
    * ≥ thresh. */
  private def relationalNms(acc: DataFrame, thresh: Long): DataFrame = {
    val offsets = for (dy <- -1 to 1; dx <- -1 to 1 if dy != 0 || dx != 0) yield (dy, dx)
    val shifted = acc.withColumn("o", explode(array(offsets.map { case (dy, dx) =>
        struct(lit(dy).as("dy"), lit(dx).as("dx")) }: _*)))
      .select(col("img_id"),
        (col("y0") + col("o.dy")).as("y0"), (col("x0") + col("o.dx")).as("x0"),
        col("votes").as("nb_votes"))
    acc.join(shifted, Seq("img_id", "y0", "x0"), "left")
      .groupBy("img_id", "y0", "x0", "votes")
      .agg(max(coalesce(col("nb_votes"), lit(0L))).as("nb_max"))
      .filter(col("votes") >= col("nb_max") && col("votes") >= thresh)
      .select("img_id", "y0", "x0", "votes")
  }

  private def cells(df: DataFrame): Seq[(Int, Int, Int, Long)] =
    df.select("img_id", "y0", "x0", "votes").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq.sorted

  private def assertKernelMatches(edges: DataFrame, h: Int, w: Int, r: Int, thresh: Long): Unit =
    assert(cells(Hough.centers(edges, h, w, r, thresh)) ===
      cells(relationalNms(relationalVotes(edges, h, w, r), thresh)), s"r=$r thresh=$thresh")

  test("best circle recovers each synthetic center exactly") {
    val rows = Hough.bestCircleQuery(spark).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      val k = r.getAs[Int]("img_id")
      assert(r.getAs[Int]("y0") === 30 + 3 * k, s"img $k y0")
      assert(r.getAs[Int]("x0") === 40 + 2 * k, s"img $k x0")
      assert(r.getAs[Long]("votes") >= 12L, s"img $k votes")
    }
  }

  test("candidate scoring ranks the true circle above perturbed candidates") {
    val edges = Hough.syntheticEdges(spark, nImages = 3)
    // per image: the true candidate (cand 0) vs center/radius perturbations
    val candidates = (0 until 3).flatMap { k =>
      val (cy, cx) = (30 + 3 * k, 40 + 2 * k)
      Seq(
        (k, 0L, cy.toDouble, cx.toDouble, 20.0),
        (k, 1L, cy + 4.0, cx.toDouble, 20.0),
        (k, 2L, cy.toDouble, cx - 5.0, 20.0),
        (k, 3L, cy.toDouble, cx.toDouble, 15.0),
        (k, 4L, cy.toDouble, cx.toDouble, 26.0))
    }.toDF("img_id", "cand_id", "cy", "cx", "r")
    val best = Hough.bestCandidate(Hough.scoreCircleCandidates(edges, candidates)).collect()
    assert(best.length === 3)
    best.foreach { r =>
      assert(r.getAs[Long]("cand_id") === 0L, s"img ${r.getAs[Int]("img_id")}: $r")
      assert(r.getAs[Double]("edge_support") > 0.5)
    }
  }

  test("NMS keeps only cells that dominate their 3x3 neighborhood") {
    val edges = Hough.syntheticEdges(spark, nImages = 2)
    val kept = Hough.centers(edges, h = 96, w = 96, r = 20, thresh = 4L).collect()
    val accMap = relationalVotes(edges, h = 96, w = 96, r = 20).collect()
      .map(r => (r.getAs[Int]("img_id"), r.getAs[Int]("y0"), r.getAs[Int]("x0")) -> r.getAs[Long]("votes"))
      .toMap
    assert(kept.nonEmpty)
    kept.foreach { r =>
      val (img, y0, x0, v) = (r.getAs[Int]("img_id"), r.getAs[Int]("y0"), r.getAs[Int]("x0"), r.getAs[Long]("votes"))
      assert(accMap((img, y0, x0)) === v, s"cell ($img,$y0,$x0) votes")
      for (dy <- -1 to 1; dx <- -1 to 1 if dy != 0 || dx != 0)
        assert(v >= accMap.getOrElse((img, y0 + dy, x0 + dx), 0L), s"cell ($img,$y0,$x0)")
    }
  }

  test("the vote+NMS kernel matches the relational plan across radii and thresholds") {
    // rings plus scattered pixels (some on the frame border) so votes
    // fall off every edge of the grid and plateaus tie under NMS
    val edges = Hough.syntheticEdges(spark, nImages = 3, h = 64, w = 80, r = 14)
      .unionByName(Seq((0, 0, 0), (0, 63, 79), (1, 5, 77), (2, 60, 2), (2, 61, 2))
        .toDF("img_id", "y", "x"))
      .cache()
    for (r <- Seq(3, 14, 30); thresh <- Seq(1L, 6L, 12L))
      assertKernelMatches(edges, h = 64, w = 80, r = r, thresh = thresh)
    edges.unpersist()
  }

  test("an image with no edges, or votes below the threshold, yields no row") {
    val none = Seq.empty[(Int, Int, Int)].toDF("img_id", "y", "x")
    assert(Hough.centers(none, 96, 96, 20, 12L).count() === 0L)
    assert(Hough.bestCircles(none, 96, 96, 20, 12L).count() === 0L)
    assertKernelMatches(none, 96, 96, 20, 12L)
    // image 7: three isolated pixels vote at most 2 per cell, under the
    // threshold; image 0 is a full ring and keeps its center
    val edges = Hough.syntheticEdges(spark, nImages = 1)
      .unionByName(Seq((7, 10, 10), (7, 50, 70), (7, 90, 20)).toDF("img_id", "y", "x"))
    assertKernelMatches(edges, 96, 96, 20, 12L)
    val best = Hough.bestCircles(edges, 96, 96, 20, 12L).collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(best === Map(0 -> ((30, 40))))
  }
}
