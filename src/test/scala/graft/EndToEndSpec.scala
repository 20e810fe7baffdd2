package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Canny, Ellipse, HMRF, Hough, Vision}
import graft.sources.{Dicom, ImageSource}

/** Whole-pipeline integrations (SURVEY §3.2/§3.3 lifecycles): the
  * reference's end-to-end flows run on this engine from raw bytes to
  * result, composed purely from the tested operators. */
class EndToEndSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("DICOM series -> voxels -> K-means -> HMRF-EM recovers phantom classes") {
    // write the HMRF phantom as a synthetic DICOM series (intensity
    // quantized to raw = round(i * 1000), slope 0.001 restores it)
    val dir = Files.createTempDirectory("graft_e2e_dcm_").toFile
    dir.deleteOnExit()
    val (nz, ny, nx) = (16, 24, 24)
    val phantom = HMRF.phantom(spark, nz, ny, nx).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    for (z <- 0 until nz) {
      val raw = Array.tabulate(ny * nx) { i =>
        phantom.get((z, i / nx, i % nx)).map(v => math.round(v * 1000).toInt).getOrElse(0)
      }
      Files.write(new java.io.File(dir, s"slice_$z.dcm").toPath,
        Dicom.synthesize(ny, nx, zPos = z.toDouble, instance = z,
          slope = 0.001, intercept = 0.0, raw = raw))
    }
    // series read (sorted), long-format voxels, mask = in-phantom cells
    val vox = Dicom.voxels(Dicom.readSeries(spark, dir.getAbsolutePath))
      .filter(col("intensity") > 0.05)
    assert(vox.count() === phantom.size)
    val (_, params) = HMRF.segment(vox, k = 3, maxIters = 5, beta = 1.2)
    Seq(0.25, 0.5, 0.75).zip(params.map(_._1)).foreach { case (want, got) =>
      assert(math.abs(want - got) < 0.05, s"mean $got vs $want")
    }
  }

  test("PNG bytes -> decode -> Canny edges -> Hough votes recover disc centers") {
    // filled discs (not rings): the real reference front end —
    // cv2.Canny before HoughCircles (hough_heart_detector.py:175) —
    // must find the rim; Canny's NMS thins it to ~1 px so Hough votes
    // concentrate harder than with a raw Sobel threshold
    val (h, w, r) = (96, 96, 20)
    val centers = Seq((0, 40, 44), (1, 50, 46))
    import spark.implicits._
    val pngs = centers.map { case (k, cy, cx) =>
      val px = Array.tabulate(h * w) { i =>
        val (y, x) = (i / w, i % w)
        if ((y - cy) * (y - cy) + (x - cx) * (x - cx) <= r * r) 220 else 15
      }
      (k, ImageSource.encodePngGray(w, h, px))
    }.toDF("img_id", "content")
    val pixels = ImageSource.decode(pngs)
      .select(col("img_id"), posexplode(col("pixels")).as(Seq("i", "v")))
      .select(col("img_id"), (col("i") / w).cast("int").as("y"),
        (col("i") % w).cast("int").as("x"), col("v"))
    val edges = Canny.canny(pixels, h, w, low = 100, high = 400)
      .select("img_id", "y", "x")
    val best = Hough.bestCircles(edges, h, w, r, thresh = 12L)
      .collect().map(r0 => r0.getAs[Int]("img_id") ->
        (r0.getAs[Int]("y0"), r0.getAs[Int]("x0"))).toMap
    centers.foreach { case (k, cy, cx) =>
      val (gy, gx) = best(k)
      assert(math.abs(gy - cy) <= 1 && math.abs(gx - cx) <= 1,
        s"img $k detected ($gy,$gx) vs true ($cy,$cx)")
    }
  }

  test("PNG -> CLAHE -> bilateral -> Canny -> contours -> scored ellipse (full detector-2 chain)") {
    // the complete reference preprocessing front end
    // (hough_heart_detector2.py:284: denoise_blur(clahe_gray(img)) then
    // Canny -> findContours -> fitEllipse -> 3-leg scoring), composed
    // from the tested operators on a planted low-contrast ellipse
    val (h, w) = (64, 64)
    val (cy, cx, a, b) = (32.0, 32.0, 18.0, 12.0)
    import spark.implicits._
    val png = {
      val px = Array.tabulate(h * w) { i =>
        val (y, x) = (i / w, i % w)
        val q = (x - cx) * (x - cx) / (a * a) + (y - cy) * (y - cy) / (b * b)
        // low-contrast: 120 inside vs 95 outside + texture noise
        (if (q <= 1.0) 120 else 95) + (x * 11 + y * 17) % 9 - 4
      }
      Seq((0, ImageSource.encodePngGray(w, h, px))).toDF("img_id", "content")
    }
    val pixels = ImageSource.decode(png)
      .select(col("img_id"), posexplode(col("pixels")).as(Seq("i", "v")))
      .select(col("img_id"), (col("i") / w).cast("int").as("y"),
        (col("i") % w).cast("int").as("x"), col("v"))
    // CLAHE stretches the 25-level step; bilateral suppresses the
    // texture noise without smearing the rim
    val pre = Vision.bilateral(
        Vision.clahe(pixels, h, w, clip = 2.0, tiles = 2)
          .select(col("img_id"), col("y"), col("x"), round(col("v")).cast("int").as("v")),
        h, w, d = 5, sigmaColor = 40.0, sigmaSpace = 40.0)
      .select(col("img_id"), col("y"), col("x"), round(col("v")).cast("int").as("v"))
      .localCheckpoint()
    val edges = Canny.canny(pre, h, w, low = 60, high = 160).select("img_id", "y", "x")
    val cands = Ellipse.fitCandidates(edges, h, w)
      .withColumn("r_interior", lit(0.7) * sqrt(col("a") * col("b")))
    val scored = Ellipse.scoreCandidates(cands, pre, h, w).collect()
    assert(scored.nonEmpty, "detector-2 chain must produce a scored candidate")
    val top = scored.maxBy(_.getAs[Double]("score"))
    assert(math.abs(top.getAs[Double]("cx") - cx) < 2.5 &&
      math.abs(top.getAs[Double]("cy") - cy) < 2.5,
      s"recovered center (${top.getAs[Double]("cx")}, ${top.getAs[Double]("cy")}) vs planted ($cx, $cy)")
    assert(math.abs(top.getAs[Double]("a") - a) / a < 0.25 &&
      math.abs(top.getAs[Double]("b") - b) / b < 0.25,
      s"recovered axes (${top.getAs[Double]("a")}, ${top.getAs[Double]("b")}) vs planted ($a, $b)")
  }

  test("HMRF sink stage: labels/means NPY + NIfTI + QA panel + metrics (main's export block)") {
    // brain_segmentation.py:425-438 + save_qa_figures + the Prometheus
    // exposure (app/main.py:23): segment a small phantom, then run the
    // full export fan-out through the S14/S15/S17 sinks and parse
    // every artifact back
    import graft.metrics.Prometheus
    import graft.sources.{ArraySinks, PanelSink}
    val prom = Prometheus.attach(spark)
    val out = Files.createTempDirectory("graft_e2e_sink_").toFile
    try {
      val (nz, ny, nx) = (8, 12, 12)
      val vox = HMRF.phantom(spark, nz, ny, nx).filter(col("intensity") > 0.05)
      val (labels, params) = HMRF.segment(vox, k = 3, maxIters = 2, beta = 1.2)
      // full-grid labels: background 0, classes 1..K (the reference's
      // zeros-initialized labels array conflates background with class
      // 0; the +1 keeps them distinct without changing class order)
      val grid = spark.range(nz).select(col("id").cast("int").as("z"))
        .withColumn("y", explode(sequence(lit(0), lit(ny - 1))))
        .withColumn("x", explode(sequence(lit(0), lit(nx - 1))))
        .join(labels.select(col("z"), col("y"), col("x"), (col("label") + 1).as("v")),
          Seq("z", "y", "x"), "left")
        .na.fill(0, Seq("v"))
      val labelsNpy = new java.io.File(out, "segmentation_labels.npy").getAbsolutePath
      val meansNpy = new java.io.File(out, "class_means.npy").getAbsolutePath
      val nii = new java.io.File(out, "segmentation_labels.nii.gz").getAbsolutePath
      val panel = new java.io.File(out, "qa_panel.png").getAbsolutePath
      val prom1 = new java.io.File(out, "graft.prom").getAbsolutePath
      ArraySinks.npyFromVoxels(grid, "v", (nz, ny, nx), labelsNpy)
      ArraySinks.npyFromParams(
        spark.createDataFrame(params.zipWithIndex.map { case ((m, v), i) => (i, m, v) })
          .toDF("label", "mean", "var"), "label", "mean", meansNpy)
      ArraySinks.niftiFromVoxels(grid, "v", (nz, ny, nx), (5.0, 1.0, 1.0), nii)
      // QA panel: mid-slice intensity + labels tiles (save_qa_figures)
      val mid = nz / 2
      val midRows = HMRF.phantom(spark, nz, ny, nx).filter(col("z") === mid)
        .join(grid.filter(col("z") === mid), Seq("z", "y", "x"), "right")
        .select(col("y"), col("x"), coalesce(col("intensity"), lit(0.0)).as("i"), col("v"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getInt(3))).toMap
      def tile(title: String, f: ((Double, Int)) => Int) = PanelSink.Tile(title, nx, ny,
        Array.tabulate(ny * nx)(i => f(midRows((i / nx, i % nx)))))
      PanelSink.writePanel(panel, Seq(
        tile("Volume mid", p => (p._1 * 255).toInt),
        tile("Labels mid", p => p._2 * 63),
        tile("Mask mid", p => if (p._2 > 0) 255 else 0)))
      Prometheus.writeTextfile(prom, prom1)
      // every artifact parses back
      val npyBytes = Files.readAllBytes(java.nio.file.Paths.get(labelsNpy))
      assert(new String(npyBytes, 1, 5, "US-ASCII") === "NUMPY")
      assert(npyBytes.length > 10 + nz * ny * nx * 4)
      val meansBytes = Files.readAllBytes(java.nio.file.Paths.get(meansNpy))
      assert(meansBytes.length >= 3 * 8)
      val gz = new java.util.zip.GZIPInputStream(Files.newInputStream(java.nio.file.Paths.get(nii)))
      val niiBytes = try gz.readAllBytes() finally gz.close()
      assert(niiBytes.length === 352 + nz * ny * nx * 2)
      val png = javax.imageio.ImageIO.read(new java.io.File(panel))
      assert(png.getWidth === 2 * (nx + 12), "2-column QA grid")
      val promText = new String(Files.readAllBytes(java.nio.file.Paths.get(prom1)))
      assert("""graft_jobs_total\{status="succeeded"\} (\d+)""".r
        .findFirstMatchIn(promText).get.group(1).toLong >= 1)
    } finally Prometheus.detach(spark, prom)
  }

  test("training corpus materialization: manifest -> shard plan -> partitioned write -> compaction") {
    import SparkTestSession.sf0001
    import graft.text.TextAnalysis
    import graft.sources.Sinks
    val base = Files.createTempDirectory("graft_e2e_corpus_").toFile
    base.deleteOnExit()
    val root = new java.io.File(base, "corpus").getAbsolutePath

    // plan, join the surviving docs back, land partitioned by shard
    val plan = TextAnalysis.shardPlan(spark, sf0001)
    val docs = Tables(spark, sf0001, "documents")
    plan.join(docs, "doc_id")
      .select("doc_id", "shard", "pos", "text", "source")
      .write.partitionBy("shard").parquet(root)

    val expected = plan.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val landed = spark.read.parquet(root).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("shard"), r.getAs[Int]("pos")))).toMap
    assert(landed === expected, "landed corpus must equal the plan")

    // per-shard compaction (each shard dir is its own parquet table)
    val shardDirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val (_, after) = Sinks.compactParquet(spark, d.getAbsolutePath)
      assert(after === 1, s"${d.getName} must compact to one file")
    }
    // compaction preserved the corpus bit-for-bit (schema sans the
    // partition column, which compaction rewrites INTO the files)
    val recompacted = shardDirs.flatMap { d =>
      val k = d.getName.stripPrefix("shard=").toInt
      spark.read.parquet(d.getAbsolutePath).collect()
        .map(r => r.getAs[Long]("doc_id") -> ((k, r.getAs[Int]("pos"))))
    }.toMap
    assert(recompacted === expected, "compaction must not change the corpus")
  }
}
