package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graph, Relational, Events}
import graft.dedup.Dedup

/** Graph analytics + the round-8 relational/anomaly additions:
  * hand-computable invariants that the DuckDB oracle (which shares the
  * formulation) cannot independently witness. */
class GraphSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}
  import spark.implicits._

  /** Runs `body` on a fresh temp source dir, then drops every layout
    * built from it (tables and warehouse dirs) and the dir itself. */
  private def withScratchDir(prefix: String)(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(tmp)
    finally {
      graft.sources.Layouts.dropAll(spark, tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("pageRank conserves probability mass and ranks hubs first") {
    val pr = Graph.pageRank(spark, sf0001).collect()
    // Σ pr = 1 → mean of (pr·N) = 1 exactly (up to the 1e-6 rounding)
    val meanNorm = pr.map(_.getDouble(1)).sum / pr.length
    assert(math.abs(meanNorm - 1.0) < 1e-4, s"mass not conserved: $meanNorm")
    // suppliers each serve many parts (TPC-H fan-in) — the top-ranked
    // node must be a supplier, and every pr must be positive
    assert(pr.forall(_.getDouble(1) > 0))
    val top = pr.maxBy(_.getDouble(1)).getString(0)
    assert(top.startsWith("s:"), s"expected a supplier hub at top, got $top")
  }

  test("tolerance early exit: the exit round is the fixed-iteration equivalent") {
    // tol above the first delta (L1 ≤ 2 on a prob vector) → exits after
    // exactly one round == pageRank(iters=1); tol=0 can never trigger →
    // runs the full budget == pageRank(iters=budget). Pins the
    // stopping-rule wiring without depending on data-driven counts.
    def vec(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(vec(Graph.pageRankUntil(spark, sf0001, tol = 3.0, maxIters = 12))
      === vec(Graph.pageRank(spark, sf0001, iters = 1)))
    assert(vec(Graph.pageRankUntil(spark, sf0001, tol = 0.0, maxIters = 3))
      === vec(Graph.pageRank(spark, sf0001, iters = 3)))
    assert(vec(Graph.personalizedPageRankUntil(spark, sf0001, tol = 0.0, maxIters = 3))
      === vec(Graph.personalizedPageRank(spark, sf0001, iters = 3)))
  }

  test("triangleCount counts K3 and K4 exactly on a known graph") {
    // orders as cliques: an order containing k parts contributes C(k,3)
    // triangles once edges are deduped. Build two overlapping cliques
    // via a fake lineitem relation and count by hand:
    //   order A = {1,2,3}   -> 1 triangle
    //   order B = {2,3,4,5} -> C(4,3) = 4 triangles
    //   overlap creates no extra triangles (edge {2,3} shared).
    // Sampling keeps an order iff md5('tri:'||o) first byte < 0x80 —
    // choose order ids that pass (probe a few small ints).
    val passing = (1L to 50L).filter { o =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"tri:$o".getBytes("UTF-8"))
      (h(0) & 0xff) < 0x80
    }
    val (oa, ob) = (passing(0), passing(1))
    val li = Seq(
      (oa, 1L), (oa, 2L), (oa, 3L),
      (ob, 2L), (ob, 3L), (ob, 4L), (ob, 5L))
      .toDF("l_orderkey", "l_partkey")
    withScratchDir("graphspec") { tmp =>
      li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val row = Graph.triangleCount(spark, tmp).head()
      assert(row.getAs[Long]("n_edges") === 8L)     // 3 + C(4,2)=6, minus shared {2,3}
      assert(row.getAs[Long]("n_triangles") === 5L)
    }
  }

  test("label propagation splits bridged cliques into their two communities") {
    // two K4s joined by one bridge (4—5). Hand-traced: round 1 scatters
    // (all-ties → min neighbor), round 2 consolidates each clique on
    // its min id, round 3 is the fixpoint — bridge endpoints stay with
    // their own clique because 3 in-clique votes beat 1 bridge vote.
    val und = Seq(
      (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), // K4 on {1..4}
      (4, 5),                                          // bridge
      (5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)) // K4 on {5..8}
      .map { case (u, v) => (u.toString, v.toString) }
    val edges = (und ++ und.map(_.swap)).toDF("a", "b")
    val out = Graph.labelPropagationOn(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert((1 to 4).forall(n => out(n.toString) === "1"),
      s"left clique not consolidated on 1: $out")
    assert((5 to 8).forall(n => out(n.toString) === "5"),
      s"right clique not consolidated on 5: $out")
  }

  test("personalized PageRank: mass stays near the source, unreached nodes are exactly 0") {
    val ppr = Graph.personalizedPageRank(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the source holds the largest score (teleport pins 0.15 there
    // every round; no other node gets a restart)
    val (top, topV) = ppr.maxBy(_._2)
    assert(top === "s:1", s"source must top its own PPR, got $top=$topV")
    assert(topV >= 0.15 - 1e-6, s"source keeps at least the teleport mass: $topV")
    // total mass ≤ 1 (leaks only via rounding), strictly positive sum
    val mass = ppr.values.sum
    assert(mass <= 1.0 + 1e-3 && mass > 0.5, s"mass out of range: $mass")
    assert(ppr.values.forall(_ >= 0.0))
  }

  test("bounded Bellman-Ford prefers a cheap 2-hop path over an expensive direct edge") {
    // s->t direct costs 10; s->m->t costs 2+2=4. Round 1 must report 10
    // (one edge max), round 2+ must improve to 4 — the property that
    // invalidates BFS's first-reach-is-final shortcut under weights.
    val und = Seq(("s", "t", 10L), ("s", "m", 2L), ("m", "t", 2L))
    val edges = (und ++ und.map { case (a, b, w) => (b, a, w) }).toDF("a", "b", "w")
    val r1 = Graph.ssspOn(edges, "s", rounds = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1("t") === 10L, s"1-round dist must be the direct edge: $r1")
    val r2 = Graph.ssspOn(edges, "s", rounds = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2("t") === 4L, s"2-round dist must take the cheap detour: $r2")
    assert(r2("m") === 2L && r2("s") === 0L)
  }

  test("delta-stepping reaches the exact fixpoint across bucket boundaries") {
    // Adversarial for bucketing (delta=4): the heavy direct edge s->t
    // (9) is beaten by a chain of three light edges (2+2+2=6) that
    // CROSSES the bucket boundary (m2 sits at dist 4, bucket 1), and a
    // heavy edge from bucket 0 (s->h, 5) is later undercut by a light
    // path through t (6+2=8 loses; 5 stays). Exercises: light fixpoint
    // within a bucket, heavy relaxation landing beyond the boundary,
    // and re-improvement of a heavy tentative dist by a later bucket.
    val und = Seq(
      ("s", "t", 9L), ("s", "m1", 2L), ("m1", "m2", 2L), ("m2", "t", 2L),
      ("s", "h", 5L), ("t", "h", 2L))
    val edges = (und ++ und.map { case (a, b, w) => (b, a, w) }).toDF("a", "b", "w")
    val got = Graph.ssspDelta(edges, "s").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("s" -> 0L, "m1" -> 2L, "m2" -> 4L, "t" -> 6L, "h" -> 5L), s"$got")
    // corpus-scale parity: delta-stepping == Bellman-Ford run past its
    // fixpoint (two algorithms, one answer)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m(Graph.ssspDeltaQuery(spark, sf0001)) === m(Graph.sssp(spark, sf0001, rounds = 10)))
  }

  test("clustering coefficient: K4 corners are 1.0, the bridge node is a broker") {
    // two triangles sharing node 3: {1,2,3} and {3,4,5}. Nodes 1,2,4,5
    // have d=2, t=1 -> cc=1; node 3 has d=4, t=2 -> cc = 2*2/(4*3)=1/3
    val passing = (1L to 60L).filter { o =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"tri:$o".getBytes("UTF-8"))
      (h(0) & 0xff) < 0x80
    }
    val (oa, ob) = (passing(0), passing(1))
    val li = Seq(
      (oa, 1L), (oa, 2L), (oa, 3L),
      (ob, 3L), (ob, 4L), (ob, 5L))
      .toDF("l_orderkey", "l_partkey")
    withScratchDir("ccspec") { tmp =>
      li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val out = Graph.clusteringCoefficient(spark, tmp).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      for (n <- Seq(1L, 2L, 4L, 5L))
        assert(out(n) === ((2L, 1L, 1.0)), s"leaf-of-triangle $n: ${out(n)}")
      assert(out(3L)._1 === 4L && out(3L)._2 === 2L, s"shared node: ${out(3L)}")
      assert(math.abs(out(3L)._3 - 1.0 / 3.0) < 1e-6, s"broker cc: ${out(3L)}")
    }
  }

  test("3-core keeps exactly the K4 and peels the pendant chain layer by layer") {
    // K4 on {1..4} with a pendant path 4—5—6—7: the chain peels one
    // node per round (degree falls below 3 only after its outer
    // neighbor vanishes is false here — 5,6,7 all have deg ≤ 2 and go
    // in round 1... except peeling 5 does not change 4's clique
    // degrees), leaving the K4 with core_deg 3 everywhere
    val und = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (5, 6), (6, 7))
      .map { case (u, v) => (u.toString, v.toString) }
    val edges = (und ++ und.map(_.swap)).toDF("a", "b")
    val out = Graph.kCoreOn(edges, kk = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set("1", "2", "3", "4"), s"3-core must be the K4: $out")
    assert(out.values.forall(_ === 3L), s"every K4 node keeps 3 in-core neighbors: $out")
  }

  test("skyline keeps exactly the non-dominated points") {
    val got = Relational.skyline2d(spark, sf0001).collect()
      .map(r => (r.getDouble(1), r.getInt(2)))
    // no frontier point dominates another (strict Pareto check)
    for (p <- got; q <- got if p != q)
      assert(!(q._1 <= p._1 && q._2 >= p._2 && (q._1 < p._1 || q._2 > p._2)),
        s"$q dominates $p inside the frontier")
    assert(got.nonEmpty)
  }

  test("expanding z-score only sees the strict past") {
    // first event of a type can never be emitted (no history), and a
    // constant-valued prefix (sd=0) is skipped
    val z = Events.expandingZscore(
      Seq(
        (1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), "a", 5.0),
        (2L, java.sql.Timestamp.valueOf("2026-01-01 10:01:00"), "a", 6.0),
        (3L, java.sql.Timestamp.valueOf("2026-01-01 10:02:00"), "a", 5.0),
        (4L, java.sql.Timestamp.valueOf("2026-01-01 10:03:00"), "a", 100.0))
        .toDF("event_id", "ts", "event_type", "value"),
      sigma = 3.0).collect()
    // event 1 has no history, 2 has sd=null (single point), 3 is mild
    // (z≈-0.7); only 4's spike clears 3σ against its strict past
    assert(z.map(_.getLong(0)).toSeq === Seq(4L))
  }

  test("fuzzy name pairs recover count products and respect blocking") {
    val names = Seq(
      "red widget", "red widget", "rad widget",      // dist 1, 2x1 pairs
      "blue anvil", "glue anvil",                    // dist 1
      "red gizmo")                                   // alone in its block
      .toDF("name")
    val got = Dedup.fuzzyNamePairs(names, "name", maxDist = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    assert(got === Set(
      ("rad widget", "red widget", 1, 2L),
      ("blue anvil", "glue anvil", 1, 1L)))
  }

  test("connectedComponents finds true components on a known graph") {
    // order ids must pass the 1/32 md5 sample gate (first byte < 0x08)
    val passing = (1L to 2000L).filter { o =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cc:$o".getBytes("UTF-8"))
      (h(0) & 0xff) < 0x08
    }
    val (oa, ob) = (passing(0), passing(1))
    // component 1: {p:1, p:2, s:1} (min label p:1 — 'p:' < 's:')
    // component 2: {p:3, s:2}      (min label p:3)
    val li = Seq(
      (oa, 1L, 1L), (oa, 2L, 1L),
      (ob, 3L, 2L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
    withScratchDir("ccspec") { tmp =>
      li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      def components() = Graph.connectedComponents(spark, tmp).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val want = Set(
        ("p:1", "p:1"), ("p:2", "p:1"), ("s:1", "p:1"),
        ("p:3", "p:3"), ("s:2", "p:3"))
      assert(components() === want)
      // a zero one-task budget forces the iterative labelGraph rounds
      spark.conf.set("graft.components.localEdgeBudget", "0")
      try assert(components() === want, "iterative path")
      finally spark.conf.unset("graft.components.localEdgeBudget")
    }
  }

  test("bfsHops walks a path graph to exactly the hop bound") {
    // path s:1 - p:1 - s:2 - p:2 - s:3 built from one order per edge
    val li = Seq(
      (1L, 1L, 1L), (2L, 1L, 2L), (3L, 2L, 2L), (4L, 2L, 3L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
    withScratchDir("bfsspec") { tmp =>
      li.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val d4 = Graph.bfsHops(spark, tmp).collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      assert(d4 === Map("s:1" -> 0, "p:1" -> 1, "s:2" -> 2, "p:2" -> 3, "s:3" -> 4))
      // a tighter bound truncates the frontier, not just the labels
      val d2 = Graph.bfsHops(spark, tmp, hops = 2).collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      assert(d2 === Map("s:1" -> 0, "p:1" -> 1, "s:2" -> 2))
    }
  }

  test("incremental MV merge equals the from-scratch aggregate") {
    def check(dir: String): Unit = {
      val merged = Relational.mvIncrementalRevenue(spark, dir)
      val scratch = graft.Tables(spark, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("o_custkey")
      assert(merged.collect().toSeq === scratch.collect().toSeq, dir)
    }
    check(sf0001)
    // orders.parquet rewritten in place within one session: the base
    // partials of the previous rows must not be merged with the new delta
    val orders = graft.Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    withScratchDir("graft_mv_") { tmp =>
      orders.write.parquet(s"$tmp/orders.parquet")
      check(tmp)
      orders.filter(pmod(col("o_custkey"), lit(2)) === 0)
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      check(tmp)
    }
  }

  test("HITS: sides partition by node prefix and each normalizes to mean 1") {
    val rows = Graph.hits(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val (auth, hub) = rows.partition(_._2 == "auth")
    assert(auth.nonEmpty && hub.nonEmpty)
    // authorities live on suppliers, hubs on customers — the directed
    // bipartite orientation puts all in-links on one side
    assert(auth.forall(_._1.startsWith("s:")), "authority on a non-supplier")
    assert(hub.forall(_._1.startsWith("c:")), "hub on a non-customer")
    assert(rows.forall(_._3 > 0), "HITS scores must be positive on a connected side")
    // L1 normalization + side-mean-1 scaling → each side averages 1
    val authMean = auth.map(_._3).sum / auth.length
    val hubMean = hub.map(_._3).sum / hub.length
    assert(math.abs(authMean - 1.0) < 1e-4, s"auth mean $authMean")
    assert(math.abs(hubMean - 1.0) < 1e-4, s"hub mean $hubMean")
  }
}
