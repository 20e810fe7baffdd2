package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** HMRF-EM volume segmentation (reference
  * Hidden_MarkovModels/brain_segmentation.py:98-318), re-expressed as
  * iterative Spark dataflow:
  *
  *  - Voxel relation (z, y, x, intensity) with a P6 mask filter; the
  *    dense 3-D array never exists.
  *  - A11 K-means init (`:100-116`): spark.ml KMeans, K=3, seed 0,
  *    classes relabeled by ascending mean (W5 rank-based relabeling).
  *  - U6 Gaussian NLL data terms (`:118-121`): pure column expressions
  *    against broadcast K-row params — 0.5·log(var+eps) +
  *    0.5·(y−mean)²/(var+eps).
  *  - J2/U5 label update (`:124-171`): the reference re-inits labels
  *    from the data-term argmin each iteration and then runs sequential
  *    ICM sweeps (Gauss–Seidel). Gauss–Seidel order-dependence does not
  *    distribute, so per SURVEY §7.4 we run JACOBI passes: neighbor
  *    label counts come from the previous pass's labels via a 6-offset
  *    equality self-join, E_k = nll_k + β·(n_neighbors − count_k)
  *    (Potts), argmin with np.argmin's first-min tie-break. Same energy,
  *    same fixed points; β=0 is exactly the reference's ablation
  *    (`:453-468`).
  *  - A10 M-step (`:174-193`): groupBy(label) avg/var_pop with the
  *    <10-voxel fallback to global median/var, then W5 relabel by mean
  *    rank.
  *  - Convergence driver (`:289-317`): changed-voxel ratio vs
  *    stop_ratio, localCheckpoint per iteration to cut lineage growth.
  *
  * Scale notes: every shuffle is keyed by (z, y, x) — the same key
  * across iterations, so the 6-offset neighbor join is the only real
  * exchange per iteration; params flow driver→executors as K-row
  * literals (J4), never a shuffle. At 100 TB the voxel relation would
  * be bucketed by z-range so ±1-z neighbors stay node-local
  * (SURVEY §4.3).
  */
object HMRF {

  val eps = 1e-6

  /** Synthetic 3-region phantom: concentric (squared-distance) shells
    * around the volume center with class means 0.25/0.5/0.75 and
    * deterministic integer-hash noise. Distances stay SQUARED — the d²
    * grid has 0.5 granularity, so shell-threshold comparisons are exact
    * in any engine (no sqrt, no transcendentals → the DuckDB oracle
    * reproduces intensities bit-for-bit). Columns: z, y, x, intensity,
    * true_label. */
  def phantom(spark: SparkSession, nz: Int = 16, ny: Int = 24, nx: Int = 24,
              noiseAmp: Double = 0.13): DataFrame = {
    val (cz, cy, cx) = (nz / 2, ny / 2, nx / 2)
    val rOuter = math.min(math.min(cz, cy), cx) - 1
    // Equal-volume shells (thresholds at (1/3)^(2/3), (2/3)^(2/3) of
    // rOuter² — volume grows with r³) so K-means sees three comparable
    // modes, matching the roughly balanced tissue classes the reference
    // initializes on.
    val (r1s, r2s) = (rOuter * rOuter * 0.48, rOuter * rOuter * 0.7631)
    spark.range(nz).select(col("id").cast("int").as("z"))
      .withColumn("y", explode(sequence(lit(0), lit(ny - 1))))
      .withColumn("x", explode(sequence(lit(0), lit(nx - 1))))
      .withColumn("d2",
        (col("z") - cz) * (col("z") - cz) * 1.5
          + (col("y") - cy) * (col("y") - cy)
          + (col("x") - cx) * (col("x") - cx))
      .filter(col("d2") < rOuter * rOuter) // P6 mask: inside the "brain"
      .withColumn("true_label",
        when(col("d2") < r1s, 0).when(col("d2") < r2s, 1).otherwise(2))
      .withColumn("noise",
        ((col("z") * 73 + col("y") * 179 + col("x") * 283 + 9337) % 2000 - 1000)
          / lit(1000.0) * noiseAmp)
      .withColumn("intensity",
        lit(0.25) + col("true_label") * lit(0.25) + col("noise"))
      .select("z", "y", "x", "intensity", "true_label")
  }

  /** A11 — K-means init on masked intensities (KMeans(n_clusters=K,
    * n_init=10, random_state=0), brain_segmentation.py:104): spark.ml
    * KMeans seed 0, then W5 relabel so class 0 has the lowest mean.
    * Returns (labels DF, params sorted ascending by mean). */
  def kmeansInit(voxels: DataFrame, k: Int = 3): (DataFrame, Seq[(Double, Double)]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = voxels.withColumn("features", array_to_vector(array(col("intensity"))))
    val model = new KMeans().setK(k).setSeed(0L)
      .setFeaturesCol("features").setPredictionCol("raw_label")
      .fit(feat)
    val labeled = model.transform(feat).drop("features")
    val stats = labeled.groupBy("raw_label")
      .agg(avg("intensity").as("mean"), var_pop(col("intensity")).as("var"))
      .collect()
      .map(r => (r.getAs[Int]("raw_label"), r.getAs[Double]("mean"), r.getAs[Double]("var")))
      .sortBy(_._2)
    val remapCol = stats.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, ((raw, _, _), newL)) => when(col("raw_label") === raw, newL).otherwise(acc)
    }
    val labels = labeled.withColumn("label", remapCol)
      .select("z", "y", "x", "intensity", "label")
    (labels, stats.map { case (_, m, v) => (m, v + eps) }.toSeq)
  }

  /** U6 — per-class Gaussian NLL columns against literal params. */
  private def nll(intensity: Column, params: Seq[(Double, Double)]): Seq[Column] =
    params.map { case (m, v) =>
      lit(0.5 * math.log(v + eps)) + (intensity - m) * (intensity - m) * lit(0.5 / (v + eps))
    }

  /** First-min argmin over per-class columns (np.argmin tie semantics:
    * lexicographic least over (value, k) structs). */
  private def argmin(cols: Seq[Column]): Column =
    least(cols.zipWithIndex.map { case (c, k) =>
      struct(c.as("e"), lit(k).as("k")) }: _*).getField("k")

  /** U5 Jacobi label update: data-term argmin init, then `sweeps`
    * neighbor-count passes with E_k = nll_k + β·(n − count_k)
    * (+ diagWeight·β·(dn − dcount_k) when in-plane diagonals are on —
    * the reference's inplane_only / add_diagonals / diag_weight knobs,
    * brain_segmentation.py:133-140,163-168). β=0 degenerates to the
    * pure data-term argmin. */
  def jacobiUpdate(voxels: DataFrame, params: Seq[(Double, Double)], beta: Double,
                   sweeps: Int = 1, inplaneOnly: Boolean = false,
                   addDiagonals: Boolean = false, diagWeight: Double = 0.5): DataFrame = {
    val k = params.length
    val terms = nll(col("intensity"), params)
    val withTerms = voxels.select(
      Seq(col("z"), col("y"), col("x"), col("intensity")) ++
        terms.zipWithIndex.map { case (c, i) => c.as(s"nll$i") }: _*)
    var labels = withTerms.withColumn("label",
      argmin((0 until k).map(i => col(s"nll$i"))))
    val offsets =
      if (inplaneOnly) Seq((0, 1, 0), (0, -1, 0), (0, 0, 1), (0, 0, -1))
      else Seq((1, 0, 0), (-1, 0, 0), (0, 1, 0), (0, -1, 0), (0, 0, 1), (0, 0, -1))
    val diag = if (inplaneOnly && addDiagonals)
      Seq((0, 1, 1), (0, 1, -1), (0, -1, 1), (0, -1, -1)) else Seq.empty
    if (beta != 0.0) {
      for (_ <- 1 to sweeps) {
        // J2: neighbor labels via shifted copies; out-of-mask neighbors
        // simply don't join (the mask filter already removed them),
        // matching the reference's in-mask neighbor counting. Diagonal
        // taps carry a flag so their counts aggregate separately.
        def shiftedOf(offs: Seq[(Int, Int, Int)], isDiag: Boolean) =
          labels.withColumn("o", explode(array(offs.map { case (dz, dy, dx) =>
              struct(lit(dz).as("dz"), lit(dy).as("dy"), lit(dx).as("dx")) }: _*)))
            .select(
              (col("z") + col("o.dz")).as("z"),
              (col("y") + col("o.dy")).as("y"),
              (col("x") + col("o.dx")).as("x"),
              col("label").as("nb_label"), lit(isDiag).as("is_diag"))
        val shifted =
          if (diag.nonEmpty) shiftedOf(offsets, isDiag = false).unionByName(shiftedOf(diag, isDiag = true))
          else shiftedOf(offsets, isDiag = false)
        val counts = shifted.groupBy("z", "y", "x")
          .agg(sum(when(!col("is_diag"), 1L).otherwise(0L)).as("n_nb"),
            (Seq(sum(when(col("is_diag"), 1L).otherwise(0L)).as("dn_nb")) ++
              (0 until k).flatMap(i => Seq(
                sum(when(col("nb_label") === i && !col("is_diag"), 1L).otherwise(0L)).as(s"c$i"),
                sum(when(col("nb_label") === i && col("is_diag"), 1L).otherwise(0L)).as(s"dc$i")))): _*)
        labels = labels.drop("label")
          .join(counts, Seq("z", "y", "x"), "left")
          .withColumn("label", argmin((0 until k).map(i =>
            col(s"nll$i")
              + lit(beta) * (coalesce(col("n_nb"), lit(0L)) - coalesce(col(s"c$i"), lit(0L)))
              + lit(diagWeight * beta) *
                (coalesce(col("dn_nb"), lit(0L)) - coalesce(col(s"dc$i"), lit(0L))))))
          .select(Seq(col("z"), col("y"), col("x"), col("intensity")) ++
            (0 until k).map(i => col(s"nll$i")) :+ col("label"): _*)
      }
    }
    labels.select("z", "y", "x", "intensity", "label")
  }

  /** A10 — M-step: per-class mean/var with the <10-voxel fallback to
    * global median/var, then W5 relabel by ascending mean. Returns
    * (relabeled DF, sorted params). */
  def mStep(labels: DataFrame, k: Int): (DataFrame, Seq[(Double, Double)]) = {
    val global = labels.agg(
      expr("percentile(intensity, 0.5)").as("gmed"),
      var_pop(col("intensity")).as("gvar")).collect()(0)
    val (gmed, gvar) = (global.getDouble(0), global.getDouble(1) + eps)
    val stats = labels.groupBy("label")
      .agg(count(lit(1)).as("n"), avg("intensity").as("mean"), var_pop(col("intensity")).as("var"))
      .collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean"), r.getAs[Double]("var")))
      .toMap
    val raw = (0 until k).map { i =>
      stats.get(i) match {
        case Some((n, m, v)) if n >= 10 => (i, m, v + eps)
        case _ => (i, gmed, gvar)
      }
    }
    val order = raw.sortBy(_._2)
    val remapCol = order.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, ((old, _, _), newL)) => when(col("label") === old, newL).otherwise(acc)
    }
    (labels.withColumn("label", remapCol), order.map { case (_, m, v) => (m, v) })
  }

  /** EM driver (hmrf_em_segmentation, brain_segmentation.py:274-318):
    * K-means init → [Jacobi update + M-step] until the changed-voxel
    * ratio drops below stopRatio or maxIters. Each iteration is its own
    * job; localCheckpoint keeps lineage flat (SURVEY §3.3). */
  def segment(voxels: DataFrame, k: Int = 3, maxIters: Int = 12, beta: Double = 1.2,
              stopRatio: Double = 0.01, sweeps: Int = 1): (DataFrame, Seq[(Double, Double)]) = {
    val total = voxels.count()
    var (labels, params) = kmeansInit(voxels, k)
    var last = labels.localCheckpoint()
    var iter = 0
    var done = false
    var result = last
    while (iter < maxIters && !done) {
      val updated = jacobiUpdate(voxels, params, beta, sweeps)
      val (relabeled, newParams) = mStep(updated, k)
      val cur = relabeled.localCheckpoint()
      params = newParams
      val changed = cur.select(col("z"), col("y"), col("x"), col("label"))
        .join(last.select(col("z"), col("y"), col("x"), col("label").as("prev")),
          Seq("z", "y", "x"))
        .filter(col("label") =!= col("prev")).count()
      result = cur
      last = cur
      iter += 1
      if (changed == 0 || changed.toDouble / total < stopRatio) done = true
    }
    (result, params)
  }

  /** W4/O2 — ordered slice navigation (brain_segmentation.py:41-48
    * mid-slice selection `Z//2`, viewer prev/next): per-true-label
    * stats of the middle z slice of the phantom. */
  def midSliceQuery(spark: SparkSession, nz: Int = 16): DataFrame =
    phantom(spark, nz = nz)
      .filter(col("z") === nz / 2)
      .groupBy("true_label")
      .agg(count(lit(1)).as("n"), round(avg("intensity"), 4).as("mean_intensity"))
      .orderBy("true_label")

  /** Posterior heatmaps on the mid slice (posterior_slice_2d,
    * brain_segmentation.py:213-243, saved at :440-450): per-pixel
    * softmax over per-class log-posteriors
    *   lp_k = emis_k + prior_k
    *   emis_k  = −0.5·ln(var_k + 1e-9) − 0.5·(I − μ_k)²/(var_k + 1e-9)
    *   prior_k = −β·(# in-mask in-plane 4-neighbors with label ≠ k)
    * max-shifted exactly as the reference (`:241-243`). Labels are the
    * deterministic β=0 E-step argmin from fixed literal params — the
    * SQL-expressible composition (K-means-free), same discipline as
    * [[estepClassStatsQuery]]. The labelled slice is gathered into one
    * [[slicePosteriors]] call, whose single output partition is sorted
    * by (y, x) without an exchange.
    *
    * Scale: one slice is one task. At volume scale this runs per slice
    * with the same z-bucketed layout as jacobiUpdate; params are K-row
    * literals. Posteriors round to 4 decimals (the lmPerplexity ln/exp
    * portability discipline). */
  def posteriorMidQuery(spark: SparkSession, nz: Int = 16,
                        beta: Double = 1.2): DataFrame = {
    val params = Seq((0.25, 0.01), (0.5, 0.01), (0.75, 0.01))
    val slice = jacobiUpdate(phantom(spark, nz = nz), params, beta = 0.0)
      .filter(col("z") === nz / 2)
      .select("y", "x", "intensity", "label")
      .rdd.map(r => SliceVoxel(r.getInt(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    val posts = slice.coalesce(1).mapPartitions(it =>
      slicePosteriors(it.toArray, params, beta).iterator
        .map(p => Row.fromSeq(Seq[Any](p.y, p.x, p.label) ++ p.post)))
    spark.createDataFrame(posts, StructType(
      Seq(StructField("y", IntegerType), StructField("x", IntegerType),
        StructField("map_label", IntegerType)) ++
        params.indices.map(i => StructField(s"post$i", DoubleType))))
      .coalesce(1).orderBy("y", "x")
  }

  /** One labelled in-mask pixel of a slice. */
  case class SliceVoxel(y: Int, x: Int, intensity: Double, label: Int)

  /** A pixel's MAP label and per-class posteriors (rounded to 4). */
  case class SlicePosterior(y: Int, x: Int, label: Int, post: Seq[Double])

  /** The slice kernel behind [[posteriorMidQuery]]: in-mask 4-neighbor
    * label counts on a dense grid over the slice's bounding box (a
    * pixel with no in-mask neighbor keeps prior 0, `:236-237`), then
    * each pixel's softmax. The arithmetic follows the relational form
    * operation by operation: ((I − μ)·(I − μ)·0.5)/(var + 1e-9)
    * subtracted from the −0.5·ln(var + 1e-9) literal, then
    * β·(n − count_k); `StrictMath.exp` (what Spark's `exp` calls) of
    * lp_k − max; the sum of the three terms plus 1e-12 left to right;
    * Spark `round(_, 4)` as BigDecimal HALF_UP. */
  def slicePosteriors(px: Array[SliceVoxel], params: Seq[(Double, Double)],
                      beta: Double): Array[SlicePosterior] = {
    if (px.isEmpty) return Array.empty
    val eps9 = 1e-9
    val (y0, x0) = (px.map(_.y).min, px.map(_.x).min)
    val (gh, gw) = (px.map(_.y).max - y0 + 1, px.map(_.x).max - x0 + 1)
    val grid = Array.fill(gh * gw)(-1)
    px.foreach(p => grid((p.y - y0) * gw + p.x - x0) = p.label)
    def labelAt(y: Int, x: Int): Int =
      if (y < y0 || y >= y0 + gh || x < x0 || x >= x0 + gw) -1
      else grid((y - y0) * gw + x - x0)
    val emis0 = params.map { case (_, v) => -0.5 * math.log(v + eps9) }
    px.map { p =>
      val nb = Seq(labelAt(p.y + 1, p.x), labelAt(p.y - 1, p.x),
        labelAt(p.y, p.x + 1), labelAt(p.y, p.x - 1)).filter(_ >= 0)
      val lp = params.indices.map { k =>
        val (m, v) = params(k)
        val d = p.intensity - m
        emis0(k) - d * d * 0.5 / (v + eps9) - beta * (nb.length - nb.count(_ == k)).toLong
      }
      val mx = lp.max
      val ex = lp.map(l => StrictMath.exp(l - mx))
      val denom = ex.reduce(_ + _) + 1e-12
      SlicePosterior(p.y, p.x, p.label, ex.map(e =>
        BigDecimal(e / denom).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
  }

  /** Oracle-checkable slice (A10/U6/P6/W5 without the un-SQL-able
    * K-means): one β=0 E-step from fixed literal params on the phantom,
    * then per-class stats — count, mean, variance. */
  def estepClassStatsQuery(spark: SparkSession): DataFrame = {
    val params = Seq((0.25, 0.01), (0.5, 0.01), (0.75, 0.01))
    jacobiUpdate(phantom(spark), params, beta = 0.0)
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_voxels"),
        round(avg("intensity"), 4).as("mean_intensity"),
        round(var_pop(col("intensity")), 6).as("var_intensity"))
      .orderBy("label")
  }
}
