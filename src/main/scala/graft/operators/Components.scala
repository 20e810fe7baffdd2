package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}

/** A13 — connected components over a pixel/voxel mask + keep-largest
  * (reference Hidden_MarkovModels/brain_segmentation.py:88-92:
  * scipy.ndimage.label then size-argmax, used by skull-strip cleanup).
  *
  * Algorithm: min-label propagation with pointer jumping. Each mask
  * cell starts labeled with its own linear id; every round takes the
  * min over 4-neighbors, then compresses paths by joining labels
  * through themselves (label := label-of-label). Neighbor propagation
  * alone needs O(diameter) rounds; the jumping step makes the chase
  * O(log diameter) — the published MapReduce-CC shape (large/small-star
  * is the same idea), which is what survives on a 1000-executor mask.
  * The driver loop stops when no label changes (or at maxIters, which
  * is a correctness cap, not a heuristic: log2 of any realistic mask
  * diameter is < 64).
  *
  * Everything shuffles on (y, x) or on label ids — never on payloads. */
object Components {

  /** Label every mask cell with its component id (the min linear id in
    * the component). Input: (y, x) mask cells — plus img_id when
    * `perImage` is set, which scopes labels to each image of a batch
    * (component ids stay y·width+x, unique within an image). Output
    * adds a `component` column.
    *
    * NOTE (ADVICE r19): the GLOBAL (non-perImage) path eagerly
    * localCheckpoints the mask and runs one gate aggregate at
    * construction time — building or explaining such a query executes
    * those jobs. */
  /** localCheckpoint truncates lineage but PRESERVES the source plan's
    * estimated statistics; each propagation round joins labels with
    * itself twice, so the carried sizeInBytes estimate cubes every
    * round — S^(3^k) after k rounds. Past ~10 rounds the driver spends
    * minutes multiplying million-digit BigIntegers inside Catalyst's
    * stats visitor. Rebuilding the frame from the checkpointed RDD
    * resets stats to the default each round, keeping planning O(1)
    * per round no matter how many rounds a large mask needs. */
  private def resetStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Per-image grouped union-find: when the mask is scoped to an image
    * (`perImage`), components never cross images and each image's mask
    * is bounded by the image size (≤ a few MP), so the scale axis is
    * the NUMBER of images, not the size of one mask. One shuffle on
    * img_id followed by a linear-time union-find per group replaces
    * O(log d) global join rounds — no driver loop, no checkpoint
    * actions, identical labels (min linear id per component). The
    * iterative MapReduce-CC path in `label` remains for unbounded
    * masks (a global mask or a 3-D volume) where one group could not
    * fit an executor. */
  private def labelGrouped(mask: DataFrame, width: Int, diagonal: Boolean): DataFrame = {
    val spark = mask.sparkSession
    import spark.implicits._
    val offs: Array[(Int, Int)] = (Seq((-1, 0), (1, 0), (0, -1), (0, 1)) ++
      (if (diagonal) Seq((-1, -1), (-1, 1), (1, -1), (1, 1)) else Seq.empty)).toArray
    mask.select(col("img_id").cast("int"), col("y").cast("int"), col("x").cast("int"))
      .as[(Int, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (img: Int, it: Iterator[(Int, Int, Int)]) =>
        val cells = it.map(c => (c._2, c._3)).toArray
        // union-find nodes are the cells' linear ids, so the component
        // id (min node id) is the min linear id
        val uf = new LongUnionFind(cells.length)
        val ids = cells.map { case (y, x) => uf.add(y.toLong * width + x) }
        var i = 0
        while (i < cells.length) {
          val (y, x) = cells(i)
          var k = 0
          while (k < offs.length) {
            val (dy, dx) = offs(k)
            val nx2 = x + dx
            // x must stay in [0, width): a linear id one past the row end
            // aliases the first cell of the next row
            if (nx2 >= 0 && nx2 < width) {
              val j = uf.indexOf((y + dy).toLong * width + nx2)
              if (j >= 0) uf.union(ids(i), j)
            }
            k += 1
          }
          i += 1
        }
        cells.indices.iterator.map(i =>
          (img, cells(i)._1, cells(i)._2, uf.label(ids(i))))
      }
      .toDF("img_id", "y", "x", "component")
  }

  /** Size budget (rows) below which a connected-components input runs
    * as ONE union-find task instead of the iterative O(log d) join
    * rounds — the round-19 generalization of the `labelGrouped` /
    * `labelGraphGrouped` split: the iterative MapReduce-CC plan exists
    * because a 100 TB edge list cannot fit one executor, but every
    * driver-looped round costs a checkpoint job plus a convergence
    * count action (~2 s of pure per-action latency at test scale,
    * measured since round 12), so paying O(log d) rounds for an edge
    * list that fits ONE task is pure overhead. The gate is a count
    * over the already-checkpointed relation; past the budget the
    * iterative plan — the one that survives at scale — is unchanged.
    * Conf-overridable so specs can force either path and deployments
    * can tune to executor task memory (union-find state is O(nodes);
    * the edge stream is consumed incrementally, never buffered). */
  private[graft] def localEdgeBudget(spark: SparkSession): Long =
    spark.conf.getOption("graft.components.localEdgeBudget")
      .map(_.toLong).getOrElse(8L << 20)

  def label(mask: DataFrame, width: Int, maxIters: Int = 64,
            perImage: Boolean = false, diagonal: Boolean = false,
            grouped: Boolean = true): DataFrame = {
    if (perImage && grouped) return labelGrouped(mask, width, diagonal)
    // 4-connectivity (scipy.ndimage.label default) or 8-connectivity
    // (cv2.findContours / Canny hysteresis semantics)
    val offsets = Seq((-1, 0), (1, 0), (0, -1), (0, 1)) ++
      (if (diagonal) Seq((-1, -1), (-1, 1), (1, -1), (1, 1)) else Seq.empty)
    val imgCols = if (perImage) Seq("img_id") else Seq.empty
    val keys = imgCols ++ Seq("y", "x")
    // GLOBAL masks at or under the one-task budget run through the
    // same union-find as labelGrouped under a constant group key (one
    // shuffle, no driver loop); labels are identical by construction
    // (min linear id per component — ComponentsSpec pins parity).
    // The mask is checkpointed first so the gate action cannot
    // re-trigger an expensive upstream plan; past the budget the
    // iterative rounds below seed from the same checkpoint.
    // Round-20 hardening (ADVICE r19): the fast path casts y/x to Int
    // inside labelGrouped while the iterative plan keeps the source
    // column type, so it now engages only when (a) `grouped` allows it
    // (grouped=false is the API escape to the iterative plan, same as
    // perImage), (b) both coordinate columns are integral, and (c) ONE
    // gate aggregate — count AND coordinate bounds in the same action,
    // no extra job vs the old bare count — proves every coordinate
    // fits Int (y·width then fits Long for any Int width). A zero
    // budget (the spec escape) skips the gate action entirely. A null
    // bound (a coordinate column that is entirely null) counts as out
    // of Int range, so such a mask stays on the iterative plan.
    val src = if (perImage) mask else {
      val m = mask.select(col("y"), col("x")).localCheckpoint()
      val budget = localEdgeBudget(mask.sparkSession)
      val integral = Seq(m.schema("y").dataType, m.schema("x").dataType)
        .forall {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      if (grouped && integral && budget > 0L) {
        val g = m.agg(count(lit(1)),
          min(col("y").cast("long")), max(col("y").cast("long")),
          min(col("x").cast("long")), max(col("x").cast("long"))).head()
        def bound(i: Int, ok: Long => Boolean) = !g.isNullAt(i) && ok(g.getLong(i))
        val inIntRange = g.getLong(0) == 0L ||
          (bound(1, _ >= Int.MinValue) && bound(2, _ <= Int.MaxValue) &&
            bound(3, _ >= Int.MinValue) && bound(4, _ <= Int.MaxValue))
        if (g.getLong(0) <= budget && inIntRange) {
          val (yt, xt) = (m.schema("y").dataType, m.schema("x").dataType)
          return labelGrouped(m.withColumn("img_id", lit(0)), width, diagonal)
            .select(col("y").cast(yt).as("y"), col("x").cast(xt).as("x"),
              col("component"))
        }
      }
      m
    }
    // Seed labels from horizontal RUNS (gaps-and-islands): every cell
    // starts with the linear id of its run's leftmost cell — a cell in
    // the same component under 4- or 8-connectivity. This collapses
    // each horizontal segment to one label in two window passes over
    // the (img, y) shuffle, so propagation distance becomes the RUN
    // graph diameter instead of the cell-path diameter (a solid mask of
    // width W starts W× ahead).
    val wRow = Window.partitionBy((imgCols :+ "y").map(col): _*).orderBy("x")
    val seeded = src.select((imgCols.map(col) ++ Seq(col("y"), col("x"))): _*)
      .withColumn("g", col("x") - row_number().over(wRow))
      .withColumn("run_min_x", min(col("x")).over(
        Window.partitionBy((imgCols ++ Seq("y", "g")).map(col): _*)))
      .select((imgCols.map(col) ++ Seq(col("y"), col("x"),
        (col("y") * width + col("run_min_x")).cast("long").as("component"))): _*)
    // one propagate-then-jump sub-round as a pure plan transform
    propagateToFixpoint(seeded, keys, maxIters) { cur =>
      // neighbor-min propagation (J2-style shifted equality join)
      val shifted = cur.withColumn("o", explode(array(offsets.map { case (dy, dx) =>
          struct(lit(dy).as("dy"), lit(dx).as("dx")) }: _*)))
        .select((imgCols.map(col) ++ Seq((col("y") + col("o.dy")).as("y"),
          (col("x") + col("o.dx")).as("x"), col("component").as("nb"))): _*)
      val propagated = cur.join(shifted, keys, "left")
        .groupBy((keys :+ "component").map(col): _*)
        .agg(min(col("nb")).as("nb_min"))
        .select((imgCols.map(col) ++ Seq(col("y"), col("x"),
          least(col("component"), coalesce(col("nb_min"), col("component"))).as("component"))): _*)
      // pointer jumping: component := component's component (path halving;
      // a component id is always a live cell's linear id, so the lookup
      // resolves through that cell's current label)
      val labelOf = propagated
        .select((imgCols.map(col) ++ Seq(
          (col("y") * width + col("x")).cast("long").as("component"),
          col("component").as("grand"))): _*)
      propagated.join(labelOf, imgCols :+ "component", "left")
        .select((imgCols.map(col) ++ Seq(col("y"), col("x"),
          coalesce(col("grand"), col("component")).as("component"))): _*)
    }
  }

  /** The driver loop of both iterative labelers ([[label]] and
    * [[labelGraph]]): checkpoint the seed, then materialize two
    * `subRound`s per checkpoint and count the rows (matched on `keys`)
    * whose `component` changed, until none did. Two sub-rounds per
    * materialization: each checkpoint (one driver action) advances the
    * fixpoint twice, and the convergence count — a further full job —
    * runs once per materialization. Wall time on small inputs is
    * dominated by per-action scheduling overhead, so halving the action
    * count roughly halves the constant factor; the shuffle volume per
    * action is unchanged at scale. `maxIters` counts sub-rounds and is
    * a correctness cap: not converging within it fails loudly. */
  private def propagateToFixpoint(seed: DataFrame, keys: Seq[String], maxIters: Int)
                                 (subRound: DataFrame => DataFrame): DataFrame = {
    var labels = resetStats(seed.localCheckpoint())
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      iter += 2
      val next = resetStats(subRound(subRound(labels)).localCheckpoint())
      changed = next
        .join(labels.select((keys.map(col) :+ col("component").as("prev")): _*), keys)
        .filter(col("component") =!= col("prev")).count()
      labels = next
    }
    require(changed == 0, s"connected components did not converge in $maxIters rounds")
    labels
  }

  /** Connected components of an edge list whose components are KNOWN
    * to be group-confined — every edge carries a `grp` key and no
    * component can span groups (the semdedup cluster rungs: candidate
    * pairs join only WITHIN a coarse k-means cluster, so the
    * transitive closure is confined by construction). One shuffle on
    * grp + a linear union-find per group replaces [[labelGraph]]'s
    * driver-looped global rounds (each round = a checkpoint job + a
    * convergence count action — measured as the wall-clock FLOOR of
    * the cluster rungs since round 12, ~2 s/round of pure per-action
    * latency at test scale). Same grouped-vs-iterative split as
    * `label`/`labelGrouped` for image masks: callers must gate on
    * per-group edge counts (Similarity.keepDecisionGrouped collects
    * the max group size first and falls back to labelGraph past its
    * task budget — at 100 TB a coarse cluster's candidate edges can
    * outgrow one task, and the O(log d) global closure is the plan
    * that survives).
    *
    * Input (grp, u, v) with LONG node ids; output (node, component),
    * component = min node id — labelGraph-identical labels
    * (ComponentsSpec pins parity on random group-confined graphs).
    * Nodes with no edges do not appear; callers rejoin singletons. */
  def labelGraphGrouped(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("grp").cast("long"), col("u").cast("long"),
        col("v").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it: Iterator[(Long, Long, Long)]) =>
        // groups are small and many: start the table small, it doubles
        unionFindLong(it.map(e => (e._2, e._3)), initialNodes = 64)
      }
      .toDF("node", "component")
  }

  /** One-task union-find over a symmetric (u, v) edge relation that
    * fits the [[localEdgeBudget]] — the generic-edge-list twin of
    * [[labelGrouped]]. The edge stream is consumed INCREMENTALLY
    * (union per edge, never buffered), so task memory is O(nodes),
    * not O(edges). Long and string node ids are supported — string
    * minima compare in UTF8 binary order, exactly the ordering
    * Spark's `min` applies to StringType, so labels are bit-identical
    * to the iterative path's (ComponentsSpec pins parity on both). */
  private[graft] def labelGraphLocal(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val dt = sym.schema("u").dataType
    dt match {
      case StringType =>
        sym.select(col("u"), col("v")).as[(String, String)]
          .groupByKey(_ => 0)
          .flatMapGroups((_, it: Iterator[(String, String)]) => unionFindString(it))
          .toDF("node", "component")
      case ByteType | ShortType | IntegerType | LongType =>
        sym.select(col("u").cast("long"), col("v").cast("long"))
          .as[(Long, Long)]
          .groupByKey(_ => 0)
          .flatMapGroups((_, it: Iterator[(Long, Long)]) => unionFindLong(it))
          .toDF("node", "component")
          .select(col("node").cast(dt).as("node"),
            col("component").cast(dt).as("component"))
      case other =>
        // a fractional/decimal id would silently truncate through the
        // long round-trip (ADVICE r19) — callers gate on
        // supportsLocalIds and keep such graphs on the iterative plan
        throw new IllegalArgumentException(
          s"labelGraphLocal supports string and integral node ids, got $other")
    }
  }

  /** Node-id types the one-task union-find handles bit-exactly; any
    * other type (double/decimal ids would truncate through the long
    * round-trip) stays on the iterative plan. */
  private[graft] def supportsLocalIds(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Union-find over LONG node ids: an open-addressed primitive
    * id→index table plus flat long/int arrays (~36 B/node amortized)
    * instead of a boxed HashMap + ArrayBuffers (~100 B/node, ADVICE
    * r19) — at the default 8M-edge budget a worst-case ~16M-node task
    * stays in the hundreds of MB instead of gigabytes. Every
    * integral-id labeler (grid masks, group-confined and one-task edge
    * lists) runs on this one structure. A node's label is the min node
    * id of its component, resolved once after the last union. */
  private final class LongUnionFind(initialNodes: Int) {
    private var cap = Integer.highestOneBit(math.max(initialNodes, 8)) << 1
    private var ks = new Array[Long](cap)
    private var vs = Array.fill(cap)(-1) // slot → node index, -1 = empty
    private var nodes = new Array[Long](cap >> 1)
    private var parent = new Array[Int](cap >> 1)
    private var n = 0
    private def mix(x: Long): Long = {
      // splitmix64 finalizer — sequential ids must not cluster probes
      var h = x + 0x9e3779b97f4a7c15L
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      h ^ (h >>> 31)
    }
    private def slot(x: Long): Int = {
      var i = (mix(x) & (cap - 1)).toInt
      while (vs(i) >= 0 && ks(i) != x) i = (i + 1) & (cap - 1)
      i
    }
    private def rehash(): Unit = {
      val (oks, ovs) = (ks, vs)
      cap <<= 1
      ks = new Array[Long](cap)
      vs = Array.fill(cap)(-1)
      var i = 0
      while (i < ovs.length) {
        if (ovs(i) >= 0) { val j = slot(oks(i)); ks(j) = oks(i); vs(j) = ovs(i) }
        i += 1
      }
    }
    /** Index of node `x`, or -1 when it was never added. */
    def indexOf(x: Long): Int = vs(slot(x))
    /** Index of node `x`, adding it as a singleton on first sight. */
    def add(x: Long): Int = {
      if (n * 2 >= cap) rehash() // load ≤ 0.5 keeps probe chains short
      val i = slot(x)
      if (vs(i) >= 0) vs(i)
      else {
        if (n == nodes.length) {
          nodes = java.util.Arrays.copyOf(nodes, n << 1)
          parent = java.util.Arrays.copyOf(parent, n << 1)
        }
        nodes(n) = x; parent(n) = n; ks(i) = x; vs(i) = n
        n += 1; n - 1
      }
    }
    private def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // component id = min NODE id (insertion order is not id order —
    // resolve minima in one pass after the last union)
    private lazy val minAt: Array[Int] = {
      val m = Array.fill(n)(-1)
      var i = 0
      while (i < n) {
        val r = find(i)
        if (m(r) < 0 || nodes(i) < nodes(m(r))) m(r) = i
        i += 1
      }
      m
    }
    def label(i: Int): Long = nodes(minAt(find(i)))
    def labels: Iterator[(Long, Long)] = (0 until n).iterator.map(i => (nodes(i), label(i)))
  }

  /** Streams an edge list through one [[LongUnionFind]]: (node, min
    * node id of its component) for every node seen. */
  private def unionFindLong(it: Iterator[(Long, Long)],
                            initialNodes: Int = 1 << 12): Iterator[(Long, Long)] = {
    val uf = new LongUnionFind(initialNodes)
    it.foreach { case (u, v) => uf.union(uf.add(u), uf.add(v)) }
    uf.labels
  }

  /** The string-id union-find behind [[labelGraphLocal]]: boxed
    * HashMap + ArrayBuffers, minima in UTF8 binary order (Spark's
    * StringType `min`). */
  private def unionFindString(it: Iterator[(String, String)]): Iterator[(String, String)] = {
    import org.apache.spark.unsafe.types.UTF8String
    val idx = new java.util.HashMap[String, Integer](1 << 12)
    val nodes = new scala.collection.mutable.ArrayBuffer[String]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def id(x: String): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue()
      else {
        val i = nodes.length; nodes += x; parent += i; idx.put(x, i); i
      }
    }
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    it.foreach { case (u, v) =>
      val ra = find(id(u)); val rb = find(id(v))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val minAt = Array.fill(nodes.length)(-1)
    var i = 0
    while (i < nodes.length) {
      val r = find(i)
      if (minAt(r) < 0 ||
          UTF8String.fromString(nodes(i)).compareTo(UTF8String.fromString(nodes(minAt(r)))) < 0)
        minAt(r) = i
      i += 1
    }
    nodes.indices.iterator.map(i => (nodes(i), nodes(minAt(find(i)))))
  }

  /** Connected components over a generic EDGE LIST (u, v) — the graph
    * twin of the grid labeler, used to resolve near-dup candidate
    * PAIRS into duplicate clusters (LSH emits pairs; a cluster is the
    * transitive closure) and by [[Graph.connectedComponents]] past its
    * one-task budget. Same min-label propagation + pointer jumping
    * as `label`: O(log d) rounds, shuffles carry (node, label) ids
    * only. Dup clusters are near-cliques, so d is tiny and this
    * converges in 2-3 materializations. Output: (node, component)
    * with component = min node id in the component. */
  def labelGraph(edges: DataFrame, maxIters: Int = 32): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    // one-task fast path (round 19): the gate count reads the
    // checkpoint just materialized; past the budget the iterative
    // O(log d) rounds below — the plan that survives at 100 TB — are
    // unchanged. See localEdgeBudget. Round 20: gated on id types the
    // local path handles bit-exactly (fractional/decimal ids would
    // truncate through the long cast — ADVICE r19), and a zero budget
    // (the spec escape) skips the gate count action entirely.
    val budget = localEdgeBudget(edges.sparkSession)
    if (budget > 0L && supportsLocalIds(sym.schema("u").dataType) &&
        sym.count() <= budget)
      return labelGraphLocal(sym)
    val seed = sym.select(col("u").as("node")).distinct()
      .withColumn("component", col("node"))
    propagateToFixpoint(seed, Seq("node"), maxIters) { cur =>
      // neighbor-min: every node offers its label to each neighbor
      val offered = sym.join(cur.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), col("component"))
      val propagated = offered.unionByName(cur)
        .groupBy("node").agg(min("component").as("component"))
      // pointer jumping: component := component's current label
      val labelOf = propagated
        .select(col("node").as("component"), col("component").as("grand"))
      propagated.join(labelOf, Seq("component"), "left")
        .select(col("node"),
          coalesce(col("grand"), col("component")).as("component"))
    }
  }

  /** 3-D connected components over a (z, y, x) voxel mask — the
    * volume-wide cc_label of the reference's skull strip
    * (brain_segmentation.py:88-92), 6-connectivity (scipy default for
    * 3-D). Built on labelGraph: one equality self-join on the three
    * positive face offsets produces the <=3n edge list, then the
    * edge-list CC resolves labels; voxels with no neighbor rejoin as
    * singletons. A per-slice 2-D labeling would SPLIT components that
    * connect only through z — this keeps them whole. Component id =
    * min (z*height + y)*width + x linear id. */
  def label3d(mask: DataFrame, width: Int, height: Int): DataFrame = {
    val linId = (col("z").cast("long") * height + col("y")) * width + col("x")
    val nodes = mask.select(col("z"), col("y"), col("x"))
      .withColumn("node", linId).localCheckpoint()
    val offs = Seq((1, 0, 0), (0, 1, 0), (0, 0, 1))
    val shifted = nodes.withColumn("o", explode(array(offs.map { case (dz, dy, dx) =>
        struct(lit(dz).as("dz"), lit(dy).as("dy"), lit(dx).as("dx")) }: _*)))
      .select((col("z") + col("o.dz")).as("z"), (col("y") + col("o.dy")).as("y"),
        (col("x") + col("o.dx")).as("x"), col("node").as("u"))
    val edges = shifted
      .join(nodes.select(col("z"), col("y"), col("x"), col("node").as("v")),
        Seq("z", "y", "x"))
      .select("u", "v")
    nodes.join(labelGraph(edges).withColumnRenamed("node", "n"),
        col("node") === col("n"), "left")
      .select(col("z"), col("y"), col("x"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** Keep-largest-component filter: the reference's size-argmax
    * (`keep the biggest object`). Ties break on the smaller component
    * id (deterministic). Per-image when `perImage` is set. */
  def largestComponent(labeled: DataFrame, perImage: Boolean = false): DataFrame = {
    val imgCols = if (perImage) Seq("img_id") else Seq.empty
    val sizes = labeled.groupBy((imgCols :+ "component").map(col): _*)
      .agg(count(lit(1)).as("n"))
    // Global variant: a top-1 sort-limit (tournament reduce — no
    // single-partition window even over a billion components). Per-image:
    // a partitioned row_number window.
    val top = if (perImage) {
      val w = Window.partitionBy("img_id").orderBy(col("n").desc, col("component"))
      sizes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    } else {
      sizes.orderBy(col("n").desc, col("component")).limit(1)
    }
    val kept = top.select((imgCols.map(col) ++
      Seq(col("component"), col("n").as("component_size"))): _*)
    labeled.join(broadcast(kept), imgCols :+ "component")
  }

  /** Oracle-checkable end-to-end: label a planted mask (an 8×6 blob, a
    * 4×4 blob, a bridge chain, two singletons) and keep the largest.
    * The DuckDB oracle recomputes the expected membership from the
    * generating geometry — any CC mislabeling (merge across the gap,
    * split of the blob) changes membership or size and fails the hash. */
  def largestComponentQuery(spark: SparkSession): DataFrame = {
    def rect(y0: Int, y1: Int, x0: Int, x1: Int): DataFrame =
      spark.range(1).select(explode(sequence(lit(y0), lit(y1))).as("y"))
        .withColumn("x", explode(sequence(lit(x0), lit(x1))))
        .select(col("y").cast("int").as("y"), col("x").cast("int").as("x"))
    val mask = rect(2, 9, 3, 8)            // 48 cells — the winner
      .unionByName(rect(20, 23, 20, 23))   // 16 cells
      .unionByName(rect(12, 12, 1, 3))     // bridge arm 1
      .unionByName(rect(13, 14, 3, 3))     // bridge arm 2 (connected via (12,3))
      .unionByName(rect(0, 0, 30, 30))     // singleton
      .unionByName(rect(30, 30, 0, 0))     // singleton
    largestComponent(label(mask, width = 64))
      .select("y", "x", "component", "component_size")
      .orderBy("y", "x")
  }
}
