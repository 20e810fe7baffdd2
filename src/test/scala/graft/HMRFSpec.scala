package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.HMRF

/** Golden tests for the HMRF-EM pipeline on the synthetic 3-Gaussian
  * phantom (SURVEY §5.2): class means recovered within tolerance, and
  * the β>0 Potts prior strictly improves on the β=0 ablation — mirrors
  * the reference's own baseline comparison
  * (brain_segmentation.py:453-468). */
class HMRFSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def accuracy(labels: org.apache.spark.sql.DataFrame,
                       voxels: org.apache.spark.sql.DataFrame): Double = {
    val joined = labels.select(col("z"), col("y"), col("x"), col("label"))
      .join(voxels.select(col("z"), col("y"), col("x"), col("true_label")), Seq("z", "y", "x"))
    val total = joined.count().toDouble
    joined.filter(col("label") === col("true_label")).count() / total
  }

  test("EM with Potts prior recovers phantom means and beats the beta=0 ablation") {
    val voxels = HMRF.phantom(spark).cache()
    val (seg, params) = HMRF.segment(voxels, k = 3, maxIters = 6, beta = 1.2)
    val means = params.map(_._1)
    assert(means.length === 3)
    Seq(0.25, 0.5, 0.75).zip(means).foreach { case (want, got) =>
      assert(math.abs(want - got) < 0.05, s"mean $got vs $want")
    }
    // means sorted ascending (W5 relabel invariant)
    assert(means === means.sorted)

    val (seg0, _) = HMRF.segment(voxels, k = 3, maxIters = 6, beta = 0.0)
    val accPotts = accuracy(seg, voxels)
    val accNoPrior = accuracy(seg0, voxels)
    assert(accPotts > 0.9, s"Potts accuracy $accPotts")
    assert(accPotts > accNoPrior, s"Potts $accPotts should beat beta=0 $accNoPrior")
    voxels.unpersist()
  }

  test("beta=0 Jacobi update is exactly the per-voxel NLL argmin") {
    val voxels = HMRF.phantom(spark)
    val params = Seq((0.25, 0.01), (0.5, 0.01), (0.75, 0.01))
    val labels = HMRF.jacobiUpdate(voxels, params, beta = 0.0)
    // nearest-mean classification (equal vars): argmin NLL == nearest mean
    val wrong = labels.withColumn("expect",
        when(col("intensity") < 0.375, 0).when(col("intensity") < 0.625, 1).otherwise(2))
      .filter(col("label") =!= col("expect")).count()
    assert(wrong === 0)
  }

  test("in-plane and diagonal neighbor variants smooth without breaking class recovery") {
    val voxels = HMRF.phantom(spark).cache()
    val params = Seq((0.25, 0.01), (0.5, 0.01), (0.75, 0.01))
    val base = HMRF.jacobiUpdate(voxels, params, beta = 0.0)
    val inplane = HMRF.jacobiUpdate(voxels, params, beta = 1.2, inplaneOnly = true)
    val diag = HMRF.jacobiUpdate(voxels, params, beta = 1.2,
      inplaneOnly = true, addDiagonals = true)
    def acc(labels: org.apache.spark.sql.DataFrame): Double = accuracy(labels, voxels)
    val (a0, a1, a2) = (acc(base), acc(inplane), acc(diag))
    // In-plane-only smoothing can erode thin shells where they are ~1
    // voxel thick (it lacks the z evidence the 3-D prior uses), so the
    // strict beats-beta=0 claim belongs to the 6-neighbor test above;
    // here we assert the variants stay near the data-term accuracy and
    // actually smooth (labels differ from the pure argmin).
    assert(a1 > a0 - 0.02 && a1 > 0.93, s"in-plane $a1 vs beta=0 $a0")
    assert(a2 > a0 - 0.02 && a2 > 0.93, s"diagonal $a2 vs beta=0 $a0")
    val changedInplane = inplane.select("z", "y", "x", "label")
      .join(base.select(col("z"), col("y"), col("x"), col("label").as("b")), Seq("z", "y", "x"))
      .filter(col("label") =!= col("b")).count()
    assert(changedInplane > 0, "prior had no effect")
    voxels.unpersist()
  }

  test("posterior mid-slice: rows, normalization, and MAP-consistency") {
    val post = HMRF.posteriorMidQuery(spark).cache()
    // every in-mask mid-slice pixel appears exactly once
    val n = post.count()
    val maskN = HMRF.phantom(spark).filter(col("z") === 8).count()
    assert(n == maskN, s"posterior rows $n != mask pixels $maskN")
    // rounded posteriors still sum to 1 within rounding slack, all in [0,1]
    val bad = post.filter(
      abs(col("post0") + col("post1") + col("post2") - 1.0) > 3e-4 ||
        col("post0") < 0 || col("post0") > 1 ||
        col("post1") < 0 || col("post1") > 1 ||
        col("post2") < 0 || col("post2") > 1).count()
    assert(bad == 0, s"$bad rows violate normalization/bounds")
    // with the Potts prior, the posterior argmax should agree with the
    // smoothed consensus on the vast majority of pixels (interior is
    // near-certain; only boundary pixels can flip)
    val argmax = post.withColumn("pmax",
      when(col("post0") >= col("post1") && col("post0") >= col("post2"), 0)
        .when(col("post1") >= col("post2"), 1).otherwise(2))
    val agree = argmax.filter(col("pmax") === col("map_label")).count()
    assert(agree.toDouble / n > 0.85, s"argmax agrees on only $agree/$n")
    // deep-interior pixel (center of the innermost shell) is near-certain
    val center = post.filter(col("y") === 12 && col("x") === 12)
      .select("post0").collect()(0).getDouble(0)
    assert(center > 0.9, s"center post0 $center not confident")
    post.unpersist()
  }

  private val sliceParams = Seq((0.25, 0.01), (0.5, 0.01), (0.75, 0.01))

  /** The relational slice posterior, kept as the kernel's verification
    * plan: a 4-offset neighbor explode grouped by (y, x) for the
    * in-mask neighbor counts, left-joined back to the labelled slice
    * (y, x, intensity, label), then the softmax as column arithmetic.
    * Returns (y, x, map_label, post0..post2). */
  private def relationalPosterior(labels: org.apache.spark.sql.DataFrame,
                                  beta: Double): org.apache.spark.sql.DataFrame = {
    val (k, eps9) = (sliceParams.length, 1e-9)
    val offs = Seq((1, 0), (-1, 0), (0, 1), (0, -1))
    val counts = labels
      .withColumn("o", explode(array(offs.map { case (dy, dx) =>
        struct(lit(dy).as("dy"), lit(dx).as("dx")) }: _*)))
      .select((col("y") + col("o.dy")).as("y"),
        (col("x") + col("o.dx")).as("x"), col("label").as("nb_label"))
      .groupBy("y", "x")
      .agg(count(lit(1)).as("n_nb"),
        (0 until k).map(i =>
          sum(when(col("nb_label") === i, 1L).otherwise(0L)).as(s"c$i")): _*)
    val lp = (0 until k).map { i =>
      val (m, v) = sliceParams(i)
      (lit(-0.5 * math.log(v + eps9))
        - (col("intensity") - m) * (col("intensity") - m) * lit(0.5) / lit(v + eps9)
        - lit(beta) * (coalesce(col("n_nb"), lit(0L)) - coalesce(col(s"c$i"), lit(0L))))
        .as(s"lp$i")
    }
    val withLp = labels.join(counts, Seq("y", "x"), "left")
      .select(Seq(col("y"), col("x"), col("label")) ++ lp: _*)
    val mx = greatest((0 until k).map(i => col(s"lp$i")): _*)
    val withEx = withLp.select(Seq(col("y"), col("x"), col("label")) ++
      (0 until k).map(i => exp(col(s"lp$i") - mx).as(s"ex$i")): _*)
    val denom = (0 until k).map(i => col(s"ex$i")).reduce(_ + _) + lit(1e-12)
    withEx.select(Seq(col("y"), col("x"), col("label").as("map_label")) ++
      (0 until k).map(i => round(col(s"ex$i") / denom, 4).as(s"post$i")): _*)
      .orderBy("y", "x")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("posterior kernel matches the relational plan on the phantom mid slice") {
    val slice = HMRF.jacobiUpdate(HMRF.phantom(spark), sliceParams, beta = 0.0)
      .filter(col("z") === 8).select("y", "x", "intensity", "label")
    for (beta <- Seq(0.0, 1.2, 3.5)) {
      val got = rowsOf(HMRF.posteriorMidQuery(spark, beta = beta))
      assert(got.nonEmpty)
      assert(got === rowsOf(relationalPosterior(slice, beta)), s"beta=$beta")
    }
  }

  test("a slice voxel with no in-mask neighbors keeps prior 0") {
    import spark.implicits._
    // (0,0) and (5,5) are isolated (n_nb = 0); (2,2)-(2,3) are a pair
    val px = Seq((0, 0, 0.3, 0), (5, 5, 0.52, 1), (2, 2, 0.74, 2), (2, 3, 0.26, 0))
    val slice = px.toDF("y", "x", "intensity", "label")
    val got = HMRF.slicePosteriors(
      px.map { case (y, x, i, l) => HMRF.SliceVoxel(y, x, i, l) }.toArray, sliceParams, 1.2)
      .sortBy(p => (p.y, p.x)).map(p => Seq(p.y, p.x, p.label) ++ p.post).toSeq
    assert(got === rowsOf(relationalPosterior(slice, 1.2)))
    // an isolated voxel's posterior is the prior-free (beta = 0) one
    val free = HMRF.slicePosteriors(Array(HMRF.SliceVoxel(0, 0, 0.3, 0)), sliceParams, 0.0)
    assert(got.head === (Seq(0, 0, 0) ++ free.head.post))
    assert(HMRF.slicePosteriors(Array.empty, sliceParams, 1.2).isEmpty)
  }

  test("m-step falls back to global median/var for starved classes") {
    import spark.implicits._
    // class 2 has only 3 voxels -> fallback kicks in
    val rows = (0 until 40).map(i => (0, 0, i, 0.2 + (i % 5) * 0.001, 0)) ++
      Seq((1, 0, 0, 0.9, 2), (1, 0, 1, 0.91, 2), (1, 0, 2, 0.92, 2))
    val labels = rows.toDF("z", "y", "x", "intensity", "label")
    val (_, params) = HMRF.mStep(labels, k = 3)
    // starved classes 1 and 2 both collapse to the global median
    val med = labels.agg(expr("percentile(intensity, 0.5)")).collect()(0).getDouble(0)
    assert(params.count { case (m, _) => math.abs(m - med) < 1e-12 } >= 2)
  }
}
