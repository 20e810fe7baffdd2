package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Detector-2 ellipse pipeline (reference
  * HOUGH Transform/hough_heart_detector2.py:274-360 `detect_best_ellipse`
  * and :137-213 scoring), re-expressed relationally:
  *
  *  - Contours (`cv2.findContours`, :302): 8-connected components over
  *    the edge relation (Components.label, diagonal — findContours
  *    walks 8-connected borders). A contour is a component of edge
  *    cells; its cell count stands in for `cv2.contourArea` in the
  *    top-K ordering (:307-308) — monotone for same-family shapes.
  *  - `len(c) < 20: continue` (:312) → component size >= minLen.
  *  - `cv2.fitEllipse` (:315) → second-order central moments of the
  *    component's cells. The moment sums are INTEGER aggregates (exact
  *    in any engine and any summation order), and the 2x2 eigen
  *    decomposition is closed-form with sqrt only; the orientation
  *    comes from the eigenvector — no atan2 anywhere, so the whole fit
  *    is bit-identical between Spark and the DuckDB oracle. Semi-axes
  *    a = sqrt(2*l1), b = sqrt(2*l2): for points on an ellipse
  *    perimeter Var(x') = a^2/2, so the factor 2 recovers the planted
  *    axes (fitEllipse's algebraic LSQ agrees on exact ellipse data).
  *  - Size/border/body gates (:292-334): MIN_A=0.18, MIN_B=0.12,
  *    MAX_A=0.60 of min(H,W), MARGIN=int(0.05*min_dim), center inside
  *    the body mask.
  *  - 3-leg scoring (:198-213, :344-358): 96 perimeter samples,
  *    bilinear interpolation of the Sobel magnitude/gradient field,
  *    edge-support = mean(mag), grad-align = mean(max(g.n,0))/(mean
  *    (mag)+1e-6), homogeneity = 1/(std+1e-3) over the 0.7*r_eq
  *    interior disk, score = 0.50*edge + 0.20*align + 0.30*hom,
  *    eccentricity > 0.95 penalized x0.85.
  *  - `choose_best_shape` (:366-393): circle phase first, early exit
  *    when circle_score >= min_score + 0.08, else ellipse phase and
  *    argmax — two-phase driver logic over two tiny (1-row) pulls.
  *
  * Oracle-parity design: the 96 (cos t, sin t) sample pairs are baked
  * as double literals into BOTH the Spark plan and the oracle SQL
  * (samplePointsSql), so no libm trig executes at query time in either
  * engine — every floor()/comparison downstream sees bit-identical
  * inputs (the Canny Tan22/Tan67 trick, scaled up). Continuous outputs
  * are rounded to 4 decimals; integer outputs are trig-free.
  *
  * Scale notes: contours shuffle on (img_id, y, x) and component ids
  * only; candidates after the top-K gate are O(40) per image, so the
  * scoring explode (96 samples x 4 corners) and the interior-disk
  * range join are broadcast-sized per image. The one full-data pass is
  * the CC labeling, which is the O(log d) pointer-jumping shape. */
object Ellipse {

  val WeightEdge  = 0.50
  val WeightAlign = 0.20
  val WeightHom   = 0.30
  val EccPenaltyThreshold = 0.95
  val EccPenalty = 0.85
  val PenaltyOutsideBody = 0.60 // circle-phase score multiplier is (1 - this)

  /** The 96 perimeter sample angles as (cos, sin) doubles — computed
    * once JVM-side; injected as literals into the Spark plan and,
    * via samplePointsSql, into the DuckDB oracle text. */
  def samplePoints(n: Int): IndexedSeq[(Double, Double)] =
    (0 until n).map { i =>
      val t = 2.0 * math.Pi * i / n
      (math.cos(t), math.sin(t))
    }

  /** VALUES list "(i, cos, sin), ..." for the oracle — Double.toString
    * is the shortest round-trip form, which DuckDB's strtod parses
    * back to the identical bits. */
  def samplePointsSql(n: Int): String =
    samplePoints(n).zipWithIndex.map { case ((c, s), i) => s"($i, $c, $s)" }
      .mkString(", ")

  private def ptsArray(n: Int): Column =
    array(samplePoints(n).zipWithIndex.map { case ((c, s), i) =>
      struct(lit(i).as("i"), lit(c).as("ct"), lit(s).as("st")) }: _*)

  /** Contour extraction + moment fit + size/border gates. Input: an
    * (img_id, y, x) edge relation. Output: one row per surviving
    * candidate with (img_id, component, n_cells, cx, cy, a, b, cth,
    * sth, ecc). Body-mask gating is a separate join (see
    * bestEllipseQuery) because the mask is a different relation. */
  def fitCandidates(edges: DataFrame, h: Int, w: Int,
                    minLen: Int = 20, topK: Int = 40): DataFrame = {
    val minDim = math.min(h, w).toDouble
    val minA = 0.18 * minDim
    val minB = 0.12 * minDim
    val maxA = 0.60 * minDim
    val margin = (0.05 * minDim).toInt

    val labeled = Components.label(edges.select("img_id", "y", "x"),
      width = w, perImage = true, diagonal = true)

    // integer moment sums — exact under any summation order, so the
    // fitted params are bit-identical to the oracle's
    val moments = labeled.groupBy("img_id", "component")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("x")).as("s_x"), sum(col("y")).as("s_y"),
        sum(col("x") * col("x")).as("s_xx"),
        sum(col("y") * col("y")).as("s_yy"),
        sum(col("x") * col("y")).as("s_xy"))
      .filter(col("n_cells") >= minLen)

    // top-K by area proxy (cell count), the reference's sorted()[:K]
    val ranked = moments.withColumn("area_rank", row_number().over(
        Window.partitionBy("img_id").orderBy(col("n_cells").desc, col("component"))))
      .filter(col("area_rank") <= topK)

    val nD = col("n_cells").cast("double")
    val fitted = ranked
      .withColumn("cx", col("s_x").cast("double") / nD)
      .withColumn("cy", col("s_y").cast("double") / nD)
      .withColumn("mxx", col("s_xx").cast("double") / nD - col("cx") * col("cx"))
      .withColumn("myy", col("s_yy").cast("double") / nD - col("cy") * col("cy"))
      .withColumn("mxy", col("s_xy").cast("double") / nD - col("cx") * col("cy"))
      .withColumn("mean2", (col("mxx") + col("myy")) / 2.0)
      .withColumn("diff2", (col("mxx") - col("myy")) / 2.0)
      .withColumn("common", sqrt(col("diff2") * col("diff2") + col("mxy") * col("mxy")))
      .withColumn("l1", col("mean2") + col("common"))
      .withColumn("l2", greatest(col("mean2") - col("common"), lit(0.0)))
      .withColumn("a", sqrt(lit(2.0) * col("l1")))
      .withColumn("b", sqrt(lit(2.0) * col("l2")))
      // eigenvector of the larger eigenvalue; branch on mxx >= myy keeps
      // the well-conditioned component, and the branch input is the
      // identical double in both engines
      .withColumn("vx", when(col("mxx") >= col("myy"), col("l1") - col("myy"))
        .otherwise(col("mxy")))
      .withColumn("vy", when(col("mxx") >= col("myy"), col("mxy"))
        .otherwise(col("l1") - col("mxx")))
      .withColumn("vn", sqrt(col("vx") * col("vx") + col("vy") * col("vy")))
      .withColumn("cth", when(col("vn") > 0.0, col("vx") / col("vn")).otherwise(lit(1.0)))
      .withColumn("sth", when(col("vn") > 0.0, col("vy") / col("vn")).otherwise(lit(0.0)))
      .withColumn("ecc", sqrt(greatest(lit(1.0) - (col("b") * col("b")) / (col("a") * col("a")), lit(0.0))))

    fitted
      .filter(col("a") >= minA && col("b") >= minB && col("a") <= maxA)
      .filter(col("cx") >= margin && col("cx") <= w - margin &&
        col("cy") >= margin && col("cy") <= h - margin)
      .filter(!(col("cx") - col("a") < margin || col("cx") + col("a") > w - margin ||
        col("cy") - col("a") < margin || col("cy") + col("a") > h - margin))
      .select("img_id", "component", "n_cells", "cx", "cy", "a", "b", "cth", "sth", "ecc")
  }

  /** 3-leg scoring for generic (cx, cy, a, b, cth, sth) candidates —
    * circles pass a = b = r, cth = 1, sth = 0. `rInterior` is the
    * radius handed to the reference's interior_score: r for circles,
    * 0.7*sqrt(a*b) for ellipses (set by the caller as a column).
    * `pixels` is the (img_id, y, x, v) gray relation; gradients are
    * Sobel-derived from it (interior cells; border taps coalesce to 0,
    * unreachable for margin-gated candidates). */
  def scoreCandidates(cands: DataFrame, pixels: DataFrame, h: Int, w: Int,
                      nPts: Int = 96): DataFrame = {
    val grads = Vision.sobel(pixels, h, w)
      .withColumn("mag", col("gmag") + 1e-6)
      .select("img_id", "y", "x", "gx", "gy", "mag")

    val keyCols = Seq("img_id", "component", "n_cells", "cx", "cy", "a", "b",
      "cth", "sth", "ecc", "r_interior")

    val samples = cands
      .withColumn("p", explode(ptsArray(nPts)))
      .withColumn("sx", col("cx") + col("a") * col("p.ct") * col("cth")
        - col("b") * col("p.st") * col("sth"))
      .withColumn("sy", col("cy") + col("a") * col("p.ct") * col("sth")
        + col("b") * col("p.st") * col("cth"))
      // outward normal: local (cos t / a, sin t / b) rotated + normalized
      // (reference sample_ellipse_points :162-166, +1e-6 guard)
      .withColumn("nxr", (col("p.ct") / col("a")) * col("cth")
        - (col("p.st") / col("b")) * col("sth"))
      .withColumn("nyr", (col("p.ct") / col("a")) * col("sth")
        + (col("p.st") / col("b")) * col("cth"))
      .withColumn("nn", sqrt(col("nxr") * col("nxr") + col("nyr") * col("nyr")) + 1e-6)
      .withColumn("nx", col("nxr") / col("nn"))
      .withColumn("ny", col("nyr") / col("nn"))
      .filter(col("sx") >= 0 && col("sx") < w && col("sy") >= 0 && col("sy") < h)
      // bilinear corners with the reference's clip (:139-142): x1/y1
      // clip to the last cell, reproducing its zero-weight border quirk
      .withColumn("x0", floor(col("sx")).cast("int"))
      .withColumn("y0", floor(col("sy")).cast("int"))
      .withColumn("x1", least(col("x0") + 1, lit(w - 1)))
      .withColumn("y1", least(col("y0") + 1, lit(h - 1)))

    val corners = samples.withColumn("c", explode(array(
        struct(col("y0").as("py"), col("x0").as("px"),
          ((col("x1") - col("sx")) * (col("y1") - col("sy"))).as("wt")),
        struct(col("y1").as("py"), col("x0").as("px"),
          ((col("x1") - col("sx")) * (col("sy") - col("y0"))).as("wt")),
        struct(col("y0").as("py"), col("x1").as("px"),
          ((col("sx") - col("x0")) * (col("y1") - col("sy"))).as("wt")),
        struct(col("y1").as("py"), col("x1").as("px"),
          ((col("sx") - col("x0")) * (col("sy") - col("y0"))).as("wt")))))
      .select((keyCols.map(col) ++ Seq(col("p.i").as("i"), col("nx"), col("ny"),
        col("c.py").as("py"), col("c.px").as("px"), col("c.wt").as("wt"))): _*)

    val sampled = corners
      .join(grads.select(col("img_id"), col("y").as("py"), col("x").as("px"),
        col("gx"), col("gy"), col("mag")), Seq("img_id", "py", "px"), "left")
      .groupBy((keyCols :+ "i").map(col): _*)
      .agg(first(col("nx")).as("nx"), first(col("ny")).as("ny"),
        sum(col("wt") * coalesce(col("mag"), lit(0.0))).as("mag_s"),
        sum(col("wt") * coalesce(col("gx").cast("double"), lit(0.0))).as("gx_s"),
        sum(col("wt") * coalesce(col("gy").cast("double"), lit(0.0))).as("gy_s"))
      .withColumn("grad_norm", greatest(col("gx_s") * col("nx") + col("gy_s") * col("ny"), lit(0.0)))

    val legs = sampled.groupBy(keyCols.map(col): _*)
      .agg(avg(col("mag_s")).as("edge_support"),
        (avg(col("grad_norm")) / (avg(col("mag_s")) + 1e-6)).as("grad_align"))

    // homogeneity leg (interior_score :169-180): std of gray values in
    // the box [center +- floor(r/2)] cut to the 0.7*r disk
    val hom = cands
      .withColumn("rr", greatest(floor(col("r_interior") / 2.0), lit(3.0)).cast("int"))
      .withColumn("cxi", floor(col("cx")).cast("int"))
      .withColumn("cyi", floor(col("cy")).cast("int"))
      .withColumn("hx0", greatest(col("cxi") - col("rr"), lit(0)))
      .withColumn("hx1", least(col("cxi") + col("rr"), lit(w - 1)))
      .withColumn("hy0", greatest(col("cyi") - col("rr"), lit(0)))
      .withColumn("hy1", least(col("cyi") + col("rr"), lit(h - 1)))
      .select((keyCols.map(col) ++ Seq(col("hx0"), col("hx1"), col("hy0"), col("hy1"))): _*)
      // join per candidate ROW, not per image: exploding the bbox rows
      // makes this an equality join on (img_id, y) whose key set is
      // |cands| * boxHeight — the per-image cross join never forms
      .withColumn("py", explode(sequence(col("hy0"), col("hy1"))))
      .join(pixels.select(col("img_id"), col("y").as("py"), col("x"), col("v")),
        Seq("img_id", "py"))
      .filter(col("x").between(col("hx0"), col("hx1")) &&
        (col("x") - col("cx")) * (col("x") - col("cx"))
          + (col("py") - col("cy")) * (col("py") - col("cy"))
          <= lit(0.49) * col("r_interior") * col("r_interior"))
      .groupBy(keyCols.map(col): _*)
      .agg((lit(1.0) / (coalesce(stddev_pop(col("v").cast("double")), lit(0.0)) + 1e-3))
        .as("homogeneity"))
      .select((keyCols.map(col) :+ col("homogeneity")): _*)

    legs.join(hom, keyCols, "left")
      // empty interior disk -> interior_score 0.0 (reference :174)
      .withColumn("homogeneity", coalesce(col("homogeneity"), lit(0.0)))
      .withColumn("score", lit(WeightEdge) * col("edge_support")
        + lit(WeightAlign) * col("grad_align") + lit(WeightHom) * col("homogeneity"))
  }

  /** Full ellipse phase over an edge + gray + body-mask triple:
    * contours -> fit -> gates -> body gate -> 3-leg score -> ecc
    * penalty -> rank. */
  def bestEllipse(edges: DataFrame, pixels: DataFrame, bodyMask: DataFrame,
                  h: Int, w: Int, nPts: Int = 96): DataFrame = {
    val cands = fitCandidates(edges, h, w)
      // body gate (:332-334): the cell under the rounded center must be
      // in the mask — a semi-join on the materialized center cell
      .withColumn("cy_cell", round(col("cy")).cast("int"))
      .withColumn("cx_cell", round(col("cx")).cast("int"))
      .join(bodyMask.select(col("img_id"), col("y").as("cy_cell"), col("x").as("cx_cell")),
        Seq("img_id", "cy_cell", "cx_cell"), "left_semi")
      .withColumn("r_interior", lit(0.7) * sqrt(col("a") * col("b")))
      // materialize the <=40-rows-per-image candidate relation: the
      // moment-fit expression trees otherwise inline into every
      // downstream grouping key (scoreCandidates' sampled/homogeneity
      // aggs), blowing generated methods past Janino's 64 KB limit and
      // forcing interpreted fallback after a wasted compile per stage
      .localCheckpoint()
    val scored = scoreCandidates(cands, pixels, h, w, nPts)
      .withColumn("score",
        when(col("ecc") > EccPenaltyThreshold, col("score") * EccPenalty)
          .otherwise(col("score")))
    scored.withColumn("rank", row_number().over(
      Window.partitionBy("img_id").orderBy(col("score").desc, col("component"))))
  }

  // ---------------------------------------------------------------- //
  // Synthetic scene for the oracled query                            //
  // ---------------------------------------------------------------- //

  /** Planted shapes on an 80x112 grid, exercising every gate:
    *  - e1: rotated (cos=0.6, sin=0.8) bright ellipse — the winner
    *  - e2: axis-aligned dimmer ellipse — scored runner-up
    *  - bar: b=2.5 sliver — gated by MIN_B
    *  - e4: border-straddling ellipse — gated by MARGIN
    *  - e5: hollow ring (dark interior) — gated by the body mask
    *  - speck: 6 cells — gated by minLen
    * Rational-literal geometry only (the rotation is the exact 3-4-5
    * pair), so the generator is pure arithmetic in both engines. */
  val SceneH = 80
  val SceneW = 112

  private case class Shape(cy: Double, cx: Double, a: Double, b: Double,
                           cth: Double, sth: Double, fill: Int,
                           hollow: Boolean = false, jitter: Boolean = false)

  /** Single source of truth for the planted scene — the Spark columns
    * AND the oracle SQL text are both generated from this list. e1's
    * cx shifts by img_id (jitter) so the two images differ. */
  private val sceneShapes: Seq[Shape] = Seq(
    Shape(36, 30, 20, 14, 0.6, 0.8, 210, jitter = true),
    Shape(30, 80, 17, 11, 1.0, 0.0, 165),
    Shape(66, 30, 16, 2.5, 1.0, 0.0, 150),
    Shape(8, 56, 14, 9, 1.0, 0.0, 180),
    Shape(60, 82, 15, 10, 1.0, 0.0, 0, hollow = true))

  private def shapes(imgJitter: Column): Seq[(Shape, Column)] =
    sceneShapes.map(s => (s, if (s.jitter) imgJitter else lit(0)))

  private def qExpr(s: Shape, dx0: Column, a: Double, b: Double): (Column, Column) = {
    val dx = col("x") - (lit(s.cx) + dx0)
    val dy = col("y") - lit(s.cy)
    val u = (dx * s.cth + dy * s.sth) / a
    val v = (dx * (-s.sth) + dy * s.cth) / b
    (u, v)
  }

  private def inside(s: Shape, dx0: Column): Column = {
    val (u, v) = qExpr(s, dx0, s.a, s.b)
    u * u + v * v <= 1.0
  }

  private def onBand(s: Shape, dx0: Column): Column = {
    val (uo, vo) = qExpr(s, dx0, s.a + 0.75, s.b + 0.75)
    val (ui, vi) = qExpr(s, dx0, s.a - 0.75, s.b - 0.75)
    uo * uo + vo * vo <= 1.0 && ui * ui + vi * vi >= 1.0
  }

  private def grid(spark: SparkSession, nImages: Int): DataFrame =
    spark.range(nImages).select(col("id").cast("int").as("img_id"))
      .withColumn("y", explode(sequence(lit(0), lit(SceneH - 1))))
      .withColumn("x", explode(sequence(lit(0), lit(SceneW - 1))))

  /** Gray scene: shape fills + deterministic hash noise. */
  def syntheticPixels(spark: SparkSession, nImages: Int = 2): DataFrame = {
    val jit = col("img_id")
    val base = shapes(jit).filterNot(_._1.hollow).foldRight(lit(40): Column) {
      case ((s, d), acc) => when(inside(s, d), s.fill).otherwise(acc)
    }
    grid(spark, nImages)
      .withColumn("v", base + (col("x") * 11 + col("y") * 17 + col("img_id") * 7) % 9 - 4)
      .select("img_id", "y", "x", "v")
  }

  /** Edge relation: 1.5-cell elliptical annuli at each shape boundary
    * (guaranteed 8-connected closed contours) plus the 2x3 speck. */
  def syntheticEdges(spark: SparkSession, nImages: Int = 2): DataFrame = {
    val jit = col("img_id")
    val bands = shapes(jit).map { case (s, d) => onBand(s, d) }
      .reduce(_ || _)
    val speck = col("y").between(73, 74) && col("x").between(99, 101)
    grid(spark, nImages).filter(bands || speck).select("img_id", "y", "x")
  }

  /** Oracled end-to-end query: planted edges + gray scene -> contours
    * -> moment fit -> gates (size, margin, body) -> 3-leg scoring ->
    * ranked candidates. Two scored rows per image (e1 winner, e2
    * runner-up); every gated shape proves its gate by absence. */
  def bestEllipseQuery(spark: SparkSession): DataFrame = {
    val pixels = syntheticPixels(spark).localCheckpoint()
    val edges = syntheticEdges(spark)
    val body = pixels.filter(col("v") >= 100)
    bestEllipse(edges, pixels, body, SceneH, SceneW)
      .select(col("img_id"), col("component"), col("n_cells"),
        round(col("cx"), 4).as("cx"), round(col("cy"), 4).as("cy"),
        round(col("a"), 4).as("a"), round(col("b"), 4).as("b"),
        round(col("cth"), 4).as("cth"), round(col("sth"), 4).as("sth"),
        round(col("edge_support"), 4).as("edge_support"),
        round(col("grad_align"), 4).as("grad_align"),
        round(col("homogeneity"), 4).as("homogeneity"),
        round(col("score"), 4).as("score"), col("rank"))
      .orderBy("img_id", "rank")
  }

  /** DuckDB oracle for bestEllipseQuery, GENERATED from the same Shape
    * constants and the same JVM-computed double literals the Spark plan
    * embeds (Double.toString round-trips exactly through DuckDB's
    * strtod), so both engines run pure IEEE arithmetic on identical
    * inputs: scene -> Sobel -> CC (recursive closure) -> moment fit ->
    * gates -> 96-point 3-leg scoring -> rank. */
  def bestEllipseOracleSql: String = {
    val h = SceneH; val w = SceneW
    val minDim = math.min(h, w).toDouble
    val minA = 0.18 * minDim; val minB = 0.12 * minDim; val maxA = 0.60 * minDim
    val m = (0.05 * minDim).toInt

    def cxSql(s: Shape, jit: String) = s"(${s.cx} + $jit)"
    def uv(s: Shape, jit: String, a: Double, b: Double): (String, String) = {
      val dx = s"(x.x - ${cxSql(s, jit)})"
      val dy = s"(y.y - ${s.cy})"
      (s"(($dx * ${s.cth} + $dy * ${s.sth}) / $a)",
        s"(($dx * ${-s.sth} + $dy * ${s.cth}) / $b)")
    }
    def insideSql(s: Shape, jit: String): String = {
      val (u, v) = uv(s, jit, s.a, s.b)
      s"$u * $u + $v * $v <= 1.0"
    }
    def bandSql(s: Shape, jit: String): String = {
      val (uo, vo) = uv(s, jit, s.a + 0.75, s.b + 0.75)
      val (ui, vi) = uv(s, jit, s.a - 0.75, s.b - 0.75)
      s"($uo * $uo + $vo * $vo <= 1.0 AND $ui * $ui + $vi * $vi >= 1.0)"
    }
    val shapeList = sceneShapes.map(s => (s, if (s.jitter) "k.k" else "0"))
    val fillCase = shapeList.filterNot(_._1.hollow)
      .map { case (s, j) => s"WHEN ${insideSql(s, j)} THEN ${s.fill}" }
      .mkString(" ", " ", " ")
    val bandsOr = shapeList.map { case (s, j) => bandSql(s, j) }.mkString(" OR ")

    s"""WITH RECURSIVE px AS MATERIALIZED (
       |  SELECT CAST(k.k AS INTEGER) AS img_id, CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x,
       |    (CASE$fillCase ELSE 40 END
       |     + (x.x * 11 + y.y * 17 + k.k * 7) % 9 - 4) AS v,
       |    ($bandsOr
       |     OR (y.y BETWEEN 73 AND 74 AND x.x BETWEEN 99 AND 101)) AS is_edge
       |  FROM range(0, 2) k(k), range(0, $h) y(y), range(0, $w) x(x)),
       |kern AS (
       |  SELECT dy.dy, dx.dx,
       |    dx.dx * (CASE WHEN dy.dy = 0 THEN 2 ELSE 1 END) AS wx,
       |    dy.dy * (CASE WHEN dx.dx = 0 THEN 2 ELSE 1 END) AS wy
       |  FROM range(-1, 2) dy(dy), range(-1, 2) dx(dx)),
       |taps AS (
       |  SELECT p.img_id, p.y + k.dy AS cy, p.x + k.dx AS cx,
       |    p.v * k.wx AS tx, p.v * k.wy AS ty
       |  FROM px p CROSS JOIN kern k),
       |mg AS MATERIALIZED (
       |  SELECT img_id, CAST(cy AS INTEGER) AS y, CAST(cx AS INTEGER) AS x,
       |    CAST(sum(tx) AS BIGINT) AS gx, CAST(sum(ty) AS BIGINT) AS gy,
       |    sqrt(CAST(sum(tx) * sum(tx) + sum(ty) * sum(ty) AS DOUBLE)) + ${1e-6} AS mag
       |  FROM taps WHERE cy BETWEEN 1 AND ${h - 2} AND cx BETWEEN 1 AND ${w - 2}
       |  GROUP BY 1, 2, 3),
       |cells AS MATERIALIZED (
       |  SELECT img_id, y, x, CAST(y * $w + x AS BIGINT) AS id
       |  FROM px WHERE is_edge),
       |link(img_id, src, y, x) AS (
       |  SELECT img_id, id, y, x FROM cells
       |  UNION
       |  SELECT l.img_id, l.src, c.y, c.x
       |  FROM link l JOIN cells c ON c.img_id = l.img_id
       |    AND abs(c.y - l.y) <= 1 AND abs(c.x - l.x) <= 1),
       |comp AS MATERIALIZED (
       |  SELECT img_id, y, x, min(src) AS component FROM link GROUP BY 1, 2, 3),
       |mom AS (
       |  SELECT img_id, component, count(*) AS n_cells,
       |    CAST(sum(x) AS BIGINT) AS s_x, CAST(sum(y) AS BIGINT) AS s_y,
       |    CAST(sum(x * x) AS BIGINT) AS s_xx, CAST(sum(y * y) AS BIGINT) AS s_yy,
       |    CAST(sum(x * y) AS BIGINT) AS s_xy
       |  FROM comp GROUP BY 1, 2 HAVING count(*) >= 20),
       |ranked AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY img_id ORDER BY n_cells DESC, component) AS area_rank
       |    FROM mom) t WHERE area_rank <= 40),
       |f1 AS (
       |  SELECT *, CAST(s_x AS DOUBLE) / CAST(n_cells AS DOUBLE) AS cx,
       |    CAST(s_y AS DOUBLE) / CAST(n_cells AS DOUBLE) AS cy
       |  FROM ranked),
       |f2 AS (
       |  SELECT *, CAST(s_xx AS DOUBLE) / CAST(n_cells AS DOUBLE) - cx * cx AS mxx,
       |    CAST(s_yy AS DOUBLE) / CAST(n_cells AS DOUBLE) - cy * cy AS myy,
       |    CAST(s_xy AS DOUBLE) / CAST(n_cells AS DOUBLE) - cx * cy AS mxy
       |  FROM f1),
       |f3 AS (
       |  SELECT *, (mxx + myy) / 2.0 AS mean2, (mxx - myy) / 2.0 AS diff2
       |  FROM f2),
       |f4 AS (
       |  SELECT *, mean2 + sqrt(diff2 * diff2 + mxy * mxy) AS l1,
       |    greatest(mean2 - sqrt(diff2 * diff2 + mxy * mxy), 0.0) AS l2
       |  FROM f3),
       |f5 AS (
       |  SELECT *, sqrt(2.0 * l1) AS a, sqrt(2.0 * l2) AS b,
       |    CASE WHEN mxx >= myy THEN l1 - myy ELSE mxy END AS vx,
       |    CASE WHEN mxx >= myy THEN mxy ELSE l1 - mxx END AS vy
       |  FROM f4),
       |f6 AS (
       |  SELECT *, sqrt(vx * vx + vy * vy) AS vn FROM f5),
       |fit AS MATERIALIZED (
       |  SELECT img_id, component, n_cells, cx, cy, a, b,
       |    CASE WHEN vn > 0.0 THEN vx / vn ELSE 1.0 END AS cth,
       |    CASE WHEN vn > 0.0 THEN vy / vn ELSE 0.0 END AS sth,
       |    sqrt(greatest(1.0 - (b * b) / (a * a), 0.0)) AS ecc,
       |    0.7 * sqrt(a * b) AS r_interior
       |  FROM f6
       |  WHERE a >= ${minA} AND b >= ${minB} AND a <= ${maxA}
       |    AND cx >= $m AND cx <= ${w - m} AND cy >= $m AND cy <= ${h - m}
       |    AND NOT (cx - a < $m OR cx + a > ${w - m} OR cy - a < $m OR cy + a > ${h - m})
       |    AND EXISTS (SELECT 1 FROM px b2
       |      WHERE b2.img_id = f6.img_id AND b2.y = CAST(round(cy) AS INTEGER)
       |        AND b2.x = CAST(round(cx) AS INTEGER) AND b2.v >= 100)),
       |pts(i, ct, st) AS (VALUES ${samplePointsSql(96)}),
       |s1 AS (
       |  SELECT f.*, p.i,
       |    f.cx + f.a * p.ct * f.cth - f.b * p.st * f.sth AS sx,
       |    f.cy + f.a * p.ct * f.sth + f.b * p.st * f.cth AS sy,
       |    (p.ct / f.a) * f.cth - (p.st / f.b) * f.sth AS nxr,
       |    (p.ct / f.a) * f.sth + (p.st / f.b) * f.cth AS nyr
       |  FROM fit f CROSS JOIN pts p),
       |s2 AS (
       |  SELECT *, nxr / (sqrt(nxr * nxr + nyr * nyr) + ${1e-6}) AS nx,
       |    nyr / (sqrt(nxr * nxr + nyr * nyr) + ${1e-6}) AS ny,
       |    CAST(floor(sx) AS INTEGER) AS x0, CAST(floor(sy) AS INTEGER) AS y0
       |  FROM s1 WHERE sx >= 0 AND sx < $w AND sy >= 0 AND sy < $h),
       |s3 AS (
       |  SELECT *, least(x0 + 1, ${w - 1}) AS x1, least(y0 + 1, ${h - 1}) AS y1 FROM s2),
       |corners AS MATERIALIZED (
       |  SELECT s.img_id, s.component, s.i, s.nx, s.ny,
       |    CASE WHEN c.ci IN (0, 2) THEN s.y0 ELSE s.y1 END AS py,
       |    CASE WHEN c.ci IN (0, 1) THEN s.x0 ELSE s.x1 END AS px_,
       |    CASE c.ci WHEN 0 THEN (s.x1 - s.sx) * (s.y1 - s.sy)
       |              WHEN 1 THEN (s.x1 - s.sx) * (s.sy - s.y0)
       |              WHEN 2 THEN (s.sx - s.x0) * (s.y1 - s.sy)
       |              ELSE (s.sx - s.x0) * (s.sy - s.y0) END AS wt
       |  FROM s3 s CROSS JOIN (VALUES (0), (1), (2), (3)) c(ci)),
       |sampled AS (
       |  SELECT c.img_id, c.component, c.i, c.nx, c.ny,
       |    sum(c.wt * coalesce(g.mag, 0.0)) AS mag_s,
       |    sum(c.wt * coalesce(CAST(g.gx AS DOUBLE), 0.0)) AS gx_s,
       |    sum(c.wt * coalesce(CAST(g.gy AS DOUBLE), 0.0)) AS gy_s
       |  FROM corners c LEFT JOIN mg g
       |    ON g.img_id = c.img_id AND g.y = c.py AND g.x = c.px_
       |  GROUP BY 1, 2, 3, 4, 5),
       |legs AS (
       |  SELECT img_id, component, avg(mag_s) AS edge_support,
       |    avg(greatest(gx_s * nx + gy_s * ny, 0.0)) / (avg(mag_s) + ${1e-6}) AS grad_align
       |  FROM sampled GROUP BY 1, 2),
       |hbox AS MATERIALIZED (
       |  SELECT img_id, component, cx, cy, r_interior,
       |    greatest(CAST(floor(cx) AS INTEGER) - CAST(greatest(floor(r_interior / 2.0), 3.0) AS INTEGER), 0) AS hx0,
       |    least(CAST(floor(cx) AS INTEGER) + CAST(greatest(floor(r_interior / 2.0), 3.0) AS INTEGER), ${w - 1}) AS hx1,
       |    greatest(CAST(floor(cy) AS INTEGER) - CAST(greatest(floor(r_interior / 2.0), 3.0) AS INTEGER), 0) AS hy0,
       |    least(CAST(floor(cy) AS INTEGER) + CAST(greatest(floor(r_interior / 2.0), 3.0) AS INTEGER), ${h - 1}) AS hy1
       |  FROM fit),
       |hom AS (
       |  SELECT hb.img_id, hb.component,
       |    1.0 / (coalesce(stddev_pop(CAST(p.v AS DOUBLE)), 0.0) + ${1e-3}) AS homogeneity
       |  FROM hbox hb JOIN px p ON p.img_id = hb.img_id
       |    AND p.x BETWEEN hb.hx0 AND hb.hx1 AND p.y BETWEEN hb.hy0 AND hb.hy1
       |    AND (p.x - hb.cx) * (p.x - hb.cx) + (p.y - hb.cy) * (p.y - hb.cy)
       |      <= 0.49 * hb.r_interior * hb.r_interior
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT f.img_id, f.component, f.n_cells, f.cx, f.cy, f.a, f.b, f.cth, f.sth,
       |    l.edge_support, l.grad_align, coalesce(hm.homogeneity, 0.0) AS homogeneity,
       |    CASE WHEN f.ecc > ${EccPenaltyThreshold}
       |      THEN (${WeightEdge} * l.edge_support + ${WeightAlign} * l.grad_align + ${WeightHom} * coalesce(hm.homogeneity, 0.0)) * ${EccPenalty}
       |      ELSE ${WeightEdge} * l.edge_support + ${WeightAlign} * l.grad_align + ${WeightHom} * coalesce(hm.homogeneity, 0.0) END AS score
       |  FROM fit f JOIN legs l ON l.img_id = f.img_id AND l.component = f.component
       |  LEFT JOIN hom hm ON hm.img_id = f.img_id AND hm.component = f.component)
       |SELECT img_id, component, n_cells,
       |  round(cx, 4) AS cx, round(cy, 4) AS cy, round(a, 4) AS a, round(b, 4) AS b,
       |  round(cth, 4) AS cth, round(sth, 4) AS sth,
       |  round(edge_support, 4) AS edge_support, round(grad_align, 4) AS grad_align,
       |  round(homogeneity, 4) AS homogeneity, round(score, 4) AS score,
       |  CAST(row_number() OVER (PARTITION BY img_id ORDER BY score DESC, component) AS INTEGER) AS rank
       |FROM scored ORDER BY img_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- //
  // choose_best_shape — two-phase driver logic (:366-393)            //
  // ---------------------------------------------------------------- //

  /** Circle phase: Hough candidates at the given radii, scored with
    * the same 3 legs (a = b = r, r_interior = r, pts = 240 as the
    * reference's circle path), body-mask penalty x(1-0.60) instead of
    * the ellipse phase's hard gate (:264-265). */
  def scoredCircles(edges: DataFrame, pixels: DataFrame, bodyMask: DataFrame,
                    h: Int, w: Int, radii: Seq[Int], voteThresh: Long): DataFrame = {
    val cands = radii.map { r =>
      Hough.centers(edges, h, w, r, voteThresh)
        .withColumn("r", lit(r.toDouble))
    }.reduce(_ unionByName _)
      // border guard (:260): candidates too close to the frame are dropped
      .filter(col("x0") - col("r") >= 2 && col("y0") - col("r") >= 2 &&
        col("x0") + col("r") <= w - 3 && col("y0") + col("r") <= h - 3)
      .select(col("img_id"),
        (col("y0") * w + col("x0")).cast("long").as("component"),
        col("votes").as("n_cells"),
        col("x0").cast("double").as("cx"), col("y0").cast("double").as("cy"),
        col("r").as("a"), col("r").as("b"),
        lit(1.0).as("cth"), lit(0.0).as("sth"), lit(0.0).as("ecc"),
        col("r").as("r_interior"))
    val scored = scoreCandidates(cands, pixels, h, w, nPts = 240)
    val inBody = scored
      .withColumn("cy_cell", round(col("cy")).cast("int"))
      .withColumn("cx_cell", round(col("cx")).cast("int"))
      .join(bodyMask.select(col("img_id"), col("y").as("cy_cell"),
        col("x").as("cx_cell"), lit(1).as("in_body")),
        Seq("img_id", "cy_cell", "cx_cell"), "left")
      .withColumn("score", when(col("in_body").isNull,
        col("score") * (1.0 - PenaltyOutsideBody)).otherwise(col("score")))
    inBody.withColumn("rank", row_number().over(
      Window.partitionBy("img_id").orderBy(col("score").desc, col("component"))))
  }

  /** Two-phase shape selection for ONE image relation: run the circle
    * phase; if its best score clears min_score + 0.08 the ellipse
    * phase never executes (the reference's early exit). Otherwise run
    * the ellipse phase and pick the argmax; below min_score -> no
    * shape (empty result). The only driver pulls are two scalar
    * aggregates (image count vs strong-circle count) deciding whether
    * to CONSTRUCT the ellipse plan at all — a plan-level branch no
    * declarative form can express; per-image gating stays relational
    * (anti-join), so the plan carries no O(#images) literals and the
    * same code serves a directory or a million-image corpus. */
  def chooseBestShape(edges: DataFrame, pixels: DataFrame, bodyMask: DataFrame,
                      h: Int, w: Int, radii: Seq[Int], voteThresh: Long,
                      minScore: Double = 0.16): DataFrame = {
    val circles = scoredCircles(edges, pixels, bodyMask, h, w, radii, voteThresh)
      .filter(col("rank") === 1)
      .select(col("img_id"), lit("circle").as("kind"), col("cx"), col("cy"),
        col("a"), col("b"), col("cth"), col("sth"), col("score"))
      .localCheckpoint()
    // the early exit is PER IMAGE (:373-375): a circle clearing
    // min_score + 0.08 wins outright — the ellipse phase never runs for
    // that image, even if an ellipse would have outscored it. rank===1
    // makes circles one row per image, so count() counts images.
    val strongCirc = circles.filter(col("score") >= minScore + 0.08)
      .select("img_id")
    // "all strong" must cover every image IN THE BATCH, not every image
    // that happened to produce a circle candidate: an image with zero
    // circles (circ is None in the reference) still runs the ellipse
    // phase. The image set comes from pixels — every image has pixels
    // even when the accumulator found nothing.
    val nImgs = pixels.select("img_id").distinct().count()
    val allStrong = nImgs > 0 && strongCirc.count() == nImgs
    val combined = if (allStrong) {
      circles.withColumn("skipped_ellipse", lit(true))
    } else {
      // no broadcast() hint on strongCirc: it is O(#images) at corpus
      // scale, so forcing it driver-side would defeat AQE's own size
      // check — the anti/left join semantics don't depend on strategy.
      val ellipses = bestEllipse(edges, pixels, bodyMask, h, w)
        .filter(col("rank") === 1)
        .join(strongCirc, Seq("img_id"), "left_anti")
        .select(col("img_id"), lit("ellipse").as("kind"), col("cx"), col("cy"),
          col("a"), col("b"), col("cth"), col("sth"), col("score"))
      circles.unionByName(ellipses)
        .join(strongCirc.withColumn("strong", lit(true)), Seq("img_id"), "left")
        .withColumn("skipped_ellipse", coalesce(col("strong"), lit(false)))
        .drop("strong")
    }
    // ties go to the ellipse: the reference compares ell_score >=
    // circ_score, so 'ellipse' must rank first on equal scores
    // (kind desc = "ellipse" before "circle").
    combined.withColumn("rn", row_number().over(
        Window.partitionBy("img_id").orderBy(col("score").desc, col("kind").desc)))
      .filter(col("rn") === 1 && col("score") >= minScore)
      .drop("rn")
  }
}
