package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Components

/** A13 golden tests: component labeling on planted blobs and the
  * keep-largest filter (scipy.ndimage.label + size-argmax semantics). */
class ComponentsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // two rectangular blobs (8x6=48 and 4x4=16 cells), an L-shaped blob
  // connected only through a 1-px bridge, and two isolated pixels
  private val blobA = for (y <- 2 to 9; x <- 3 to 8) yield (y, x)
  private val blobB = for (y <- 20 to 23; x <- 20 to 23) yield (y, x)
  private val bridge = Seq((12, 1), (12, 2), (12, 3), (13, 3), (14, 3))
  private val isolated = Seq((0, 30), (30, 0))
  private val mask = (blobA ++ blobB ++ bridge ++ isolated).toDF("y", "x")

  test("labeling groups 4-connected cells and separates disjoint blobs") {
    val labeled = Components.label(mask, width = 64).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(labeled.size === mask.count())
    def componentOf(cells: Seq[(Int, Int)]): Set[Long] = cells.map(labeled(_)).toSet
    assert(componentOf(blobA).size === 1)
    assert(componentOf(blobB).size === 1)
    assert(componentOf(bridge).size === 1) // connected through the bridge
    assert(componentOf(isolated).size === 2) // two distinct singletons
    // all four groups are mutually distinct components
    val ids = Seq(componentOf(blobA).head, componentOf(blobB).head,
      componentOf(bridge).head) ++ componentOf(isolated)
    assert(ids.distinct.size === 5)
  }

  test("grouped per-image union-find labels match the iterative MapReduce-CC exactly") {
    // same planted scene duplicated across two images, plus a diagonal
    // staircase that only 8-connectivity joins
    val stairs = Seq((40, 40), (41, 41), (42, 42), (43, 43))
    val perImg = (for {
      img <- 0 to 1
      (y, x) <- blobA ++ blobB ++ bridge ++ isolated ++ stairs
    } yield (img, y, x)).toDF("img_id", "y", "x")
    for (diag <- Seq(false, true)) {
      val grouped = Components.label(perImg, width = 64, perImage = true,
          diagonal = diag).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
      val iterative = Components.label(perImg, width = 64, perImage = true,
          diagonal = diag, grouped = false).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
      assert(grouped === iterative, s"diagonal=$diag")
      // 8-connectivity merges the staircase into one component; 4 keeps
      // each step separate — proves connectivity is honored per path
      val stairIds = stairs.map(c => grouped((0, c._1, c._2))).toSet
      assert(stairIds.size === (if (diag) 1 else 4))
    }
  }

  test("labelGraph resolves edge lists into min-id components") {
    val edges = Seq((10L, 20L), (20L, 30L), (40L, 50L),
        (60L, 61L), (61L, 62L), (62L, 60L))
      .toDF("u", "v")
    val labels = Components.labelGraph(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L, 60L -> 60L, 61L -> 60L, 62L -> 60L))
  }

  test("labelGraphGrouped matches labelGraph on group-confined random graphs") {
    // round-19: the grouped union-find fast path for cluster-confined
    // semdedup edges must produce labelGraph-IDENTICAL labels. Seeded
    // random graphs whose edges never span groups (the
    // keepDecisionGrouped precondition): chains, cliques, rings,
    // duplicate edges, self-contained stars — across 4 groups.
    val rnd = new scala.util.Random(19)
    val edges = (0 until 4).flatMap { g =>
      val base = g * 1000L
      val nodes = (0 until 30).map(i => base + rnd.nextInt(200))
      val chain = nodes.sliding(2).filter(_.size == 2).map(p => (g.toLong, p(0), p(1)))
      val extra = (0 until 20).map { _ =>
        val a = base + rnd.nextInt(200); val b = base + rnd.nextInt(200)
        (g.toLong, a, b)
      }.filter(e => e._2 != e._3)
      chain ++ extra ++ extra.take(3) // duplicates too
    }
    val df = edges.toDF("grp", "u", "v")
    val grouped = Components.labelGraphGrouped(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iterative = Components.labelGraph(df.select("u", "v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped === iterative)
    // labels must be min node ids of their components
    assert(grouped.values.toSet.subsetOf(grouped.keySet))
    grouped.foreach { case (n, c) => assert(c <= n) }
  }

  test("one-task fast paths match the forced-iterative plans (grid, long edges, string edges)") {
    // round-19: labelGraph and the global grid labeler gate on
    // localEdgeBudget — at/under it one union-find task, past it the
    // iterative MapReduce-CC rounds. Forcing budget=0 runs the same
    // inputs through the iterative plan; labels must be identical.
    def forcedIterative[T](f: => T): T = {
      spark.conf.set("graft.components.localEdgeBudget", "0")
      try f finally spark.conf.unset("graft.components.localEdgeBudget")
    }
    // grid (the a13 path: global mask, no img_id)
    val fastGrid = Components.label(mask, width = 64).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val iterGrid = forcedIterative(Components.label(mask, width = 64).collect())
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(fastGrid === iterGrid)
    // a mask whose y column is entirely null has null gate bounds: it
    // must fall through to the iterative plan, not fail in the gate
    val nullY = Seq((None: Option[Int], 1), (None, 2), (None, 5)).toDF("y", "x")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val fastNull = rows(Components.label(nullY, width = 64))
    assert(fastNull.size === 3)
    assert(fastNull === forcedIterative(rows(Components.label(nullY, width = 64))))
    // long-id edge list with chains, a cycle and duplicate edges
    val edges = Seq((10L, 20L), (20L, 30L), (40L, 50L), (50L, 40L),
        (60L, 61L), (61L, 62L), (62L, 60L), (10L, 20L))
      .toDF("u", "v")
    val fastL = Components.labelGraph(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iterL = forcedIterative(Components.labelGraph(edges).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fastL === iterL)
    // string-id edge list (the nameEntities / graph_components shape);
    // min must follow Spark's UTF8 binary ordering
    val sedges = Seq(("p:9", "s:10"), ("s:10", "p:11"), ("b", "a"),
        ("Z", "a"), ("p:2", "p:10"))
      .toDF("u", "v")
    val fastS = Components.labelGraph(sedges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val iterS = forcedIterative(Components.labelGraph(sedges).collect())
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fastS === iterS)
    assert(fastS("p:9") === "p:11", "min of {p:9, s:10, p:11} in UTF8 order")
    assert(fastS("b") === "Z", "uppercase sorts below lowercase in UTF8 order")
  }

  test("label3d joins lobes connected only through z — where per-slice 2-D CC splits them") {
    // two 3x3x1 lobes at z=2 and z=4, joined by a single voxel at z=3;
    // plus an isolated voxel far away
    val lobe1 = for (y <- 2 to 4; x <- 2 to 4) yield (2, y, x)
    val lobe2 = for (y <- 2 to 4; x <- 2 to 4) yield (4, y, x)
    val bridge = Seq((3, 3, 3))
    val iso = Seq((8, 8, 8))
    val mask = (lobe1 ++ lobe2 ++ bridge ++ iso).toDF("z", "y", "x")
    val labeled = Components.label3d(mask, width = 16, height = 16)
    val byComp = labeled.collect()
      .groupBy(_.getLong(3)).map { case (c, rs) => c -> rs.length }
    assert(byComp.values.toSeq.sorted === Seq(1, 19),
      s"expected one 19-voxel component + one singleton, got $byComp")
    // per-slice 2-D labeling (z as img_id) splits the same mask in three
    val perSlice = Components.label(
        mask.withColumnRenamed("z", "img_id"), width = 16, perImage = true)
      .select("img_id", "component").distinct().count()
    assert(perSlice === 4, "2-D per-slice CC sees 4 pieces where 3-D sees 2")
  }

  test("volumeMask keeps the largest bright 3-D structure only") {
    // bright two-lobe structure joined through z (19 voxels), a smaller
    // bright blob (8), dim background
    val lobes = (for (y <- 2 to 4; x <- 2 to 4) yield (2, y, x)) ++
      (for (y <- 2 to 4; x <- 2 to 4) yield (4, y, x)) ++ Seq((3, 3, 3))
    val small = for (z <- 8 to 9; y <- 10 to 11; x <- 10 to 11) yield (z, y, x)
    val bright = (lobes ++ small).toSet
    val vox = (for (z <- 0 until 12; y <- 0 until 14; x <- 0 until 14)
      yield (z, y, x, if (bright((z, y, x))) 200 + (x + y) % 5 else 10 + (x * 3 + y) % 7))
      .toDF("z", "y", "x", "v")
    val kept = graft.operators.Vision.volumeMask(vox, width = 14, height = 14)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(kept === lobes.toSet, "largest 3-D structure only (small blob dropped)")
  }

  test("full volumeMask chain: opening removes the spike, hole-fill closes the cavity") {
    val (d, h, w) = (21, 23, 23)
    val (cz, cy, cx) = (10, 11, 11)
    def d2(z: Int, y: Int, x: Int) =
      (z - cz) * (z - cz) + (y - cy) * (y - cy) + (x - cx) * (x - cx)
    // bright: radius-8 ball minus a radius-2 interior cavity (shell
    // thick enough to survive ball(2) erosion), plus a 2-voxel spike
    // off the +x surface
    val spike = Set((cz, cy, 20), (cz, cy, 21))
    def isBright(z: Int, y: Int, x: Int) =
      (d2(z, y, x) <= 64 && d2(z, y, x) > 4) || spike((z, y, x))
    val vox = (for (z <- 0 until d; y <- 0 until h; x <- 0 until w)
      yield (z, y, x,
        if (isBright(z, y, x)) 200 + (x + y + z) % 5 else 15 + (x * 3 + y + z) % 7))
      .toDF("z", "y", "x", "v")
    val kept = graft.operators.Vision.volumeMask(vox, width = w, height = h, depth = d)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(spike.forall(!kept(_)), "spike must be opened away")
    val cavity = for (z <- 0 until d; y <- 0 until h; x <- 0 until w
                      if d2(z, y, x) <= 4) yield (z, y, x)
    assert(cavity.forall(kept), "interior cavity must be hole-filled")
    // a mid-shell voxel well inside the ball survives the open/close
    assert(kept((cz, cy, cx + 5)), "ball interior survives")
    assert(!kept((0, 0, 0)), "background stays out")
  }

  test("largest-component filter keeps exactly the biggest blob") {
    val labeled = Components.label(mask, width = 64)
    val kept = Components.largestComponent(labeled)
      .select("y", "x").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(kept === blobA.toSet)
  }
}
