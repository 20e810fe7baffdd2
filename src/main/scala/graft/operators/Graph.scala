package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.sources.Layouts

/** Iterative graph analytics over relations (north-star surface — the
  * reference has per-image connected components in `Components`; this
  * module adds the corpus-level graph algorithms a 100 TB pipeline
  * runs over entity/link graphs: PageRank centrality and triangle
  * counting for community structure).
  *
  * Scale design:
  *  - Graphs are edge RELATIONS (never adjacency collected to the
  *    driver). Each PageRank iteration is one equality join on the
  *    source vertex + one hash aggregation on the destination — the
  *    classic Pregel-as-relational-algebra shape, AQE-skew-handled.
  *  - The edge+degree relation is materialized ONCE per (dir, content
  *    fingerprint) as a catalog parquet table BUCKETED by the
  *    per-round join key (round-10 layout; previously a per-run
  *    localCheckpoint): the k-iteration loop reads a bucketed scan
  *    whose reported hash partitioning elides the edge-side exchange
  *    in every round's join, and the derive cost amortizes across
  *    queries and reps (and, at 100 TB, across the cluster's whole
  *    query history on that snapshot).
  *  - Triangle counting orients every edge from its lower-(degree, id)
  *    endpoint to the higher one, which bounds the wedge join to
  *    O(m^1.5) work (standard node-iterator++ bound) instead of the
  *    unoriented Σ deg² blowup on hub vertices.
  *  - The co-purchase graph is built over a deterministic md5
  *    hash-sample of orders (same seed-stable sampling rung as
  *    `Relational.hashSample`) so graph density — and therefore wedge
  *    cost — is tunable without losing cross-engine reproducibility.
  */
object Graph {

  // -----------------------------------------------------------------
  // Write-once bucketed edge layout (round-10): every graph query used
  // to RE-DERIVE its edge relation from lineitem per run (scan +
  // distinct shuffle + degree aggregate + join + localCheckpoint), and
  // the per-round Pregel join re-shuffled the edge side on the node
  // key every round. The layout materializes each edge variant ONCE
  // per (dir, content-fingerprint) as a catalog parquet table BUCKETED
  // by the per-round join key (`a` — the message-source vertex), the
  // exact move proven for the events/band-index/BM25 layouts: the
  // bucketed scan reports hash partitioning to the planner, so every
  // per-round edges⋈state join plans with NO exchange on the edge
  // side, and the derive cost amortizes across queries AND reps. At
  // 100 TB this is the difference between re-shuffling the edge ocean
  // every round and shuffling only the (node-sized) state relation.
  // Contents are identical to the derived relation, so oracles are
  // untouched (PlanContractSpec pins both the plan shape and row
  // parity).
  // -----------------------------------------------------------------

  /** Content key of an edge variant — the same fingerprint contract as
    * the BM25/IVFADC index prefixes: regenerated testdata under the same
    * path triggers a fresh build instead of serving stale edges across
    * JVMs. Both fact tables feed some variant (hits uses
    * orders⋈lineitem), so the key folds both fingerprints — either
    * regenerating invalidates every edge layout. */
  private def edgeKey(dir: String, variant: String): String = {
    val fp = Tables.dataFingerprint(s"$dir/lineitem.parquet") + "|" +
      Tables.dataFingerprint(s"$dir/orders.parquet")
    s"$dir|$fp|edges|$variant"
  }

  /** Memoized bucketed materialization ([[graft.sources.Layouts]]):
    * builds `build` into the catalog on first use per (dir, content,
    * variant), bucketed by `key`, and returns the table-backed
    * DataFrame. The build checkpoints the relation once so the bucket
    * sizing count does not recompute the derivation. */
  private def edgeRel(spark: SparkSession, dir: String, variant: String,
                      key: String)
                     (build: => DataFrame): DataFrame =
    spark.table(Layouts.ensure(spark, s"graft_edges_$variant", dir,
        edgeKey(dir, variant)) { t =>
      Layouts.save(build.localCheckpoint(), t, Some(key))
    })

  // -----------------------------------------------------------------
  // Data-driven state-side join strategy (round-11). Every per-round
  // Pregel join reads the bucketed edge table against a node-state
  // relation, and the planner's stats invert the build side: the
  // catalog table has small file stats while the checkpointed state
  // has none, so the default plan broadcasts the EDGE side — the
  // measured-slowest shape (edge-broadcast 7.8 s vs state-broadcast
  // 4.4 s vs zero-exchange SMJ 5.0 s, BASELINE.md round 10). Hard-
  // coding broadcast(state) fixes that here but OOMs once node state
  // outgrows the broadcast budget — exactly the regime a 100 TB
  // entity graph lives in. The node count is already a driver-side
  // scalar in every loop, so the hint is GATED on it: below
  // `graft.graph.stateBroadcastMaxRows` the state side broadcasts;
  // above it the hint is dropped and the join falls back to the
  // shuffle plan the bucketed layout makes zero-exchange on the edge
  // side (only state moves). PlanContractSpec pins BOTH plans.
  //
  // The 50k default is MEASURED, not a memory bound (BASELINE.md
  // round 11): at 21k-node state the broadcast wins (4.4 s vs SMJ
  // 5.0-5.7 s, round-10 strategy table; hits' ~15k-row sides prefer it
  // 3.1 vs 4.8 s), while at 210k nodes the SMJ wins decisively
  // (3.7-5.0 s vs broadcast 7.2-7.9 s on the 10× strided graph —
  // rebroadcasting 210k rows to every round's tasks costs more than
  // shuffling them once). The crossover sits between those points;
  // 50k splits it and is conf-tunable per deployment.
  // -----------------------------------------------------------------

  /** Broadcast budget for per-round node state, in rows. Conf-
    * overridable (`graft.graph.stateBroadcastMaxRows`) so specs can
    * force either plan and operators can tune per deployment. */
  private[graft] def stateBroadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.graph.stateBroadcastMaxRows")
      .map(_.toLong).getOrElse(50000L)

  /** The state side of a Pregel round join: broadcast while the known
    * row bound fits the budget, SHUFFLE_MERGE-hinted (→ the measured
    * zero-exchange SMJ against the bucketed edge scan) once it does
    * not. The merge hint is NOT redundant above the budget: merely
    * dropping the broadcast hint leaves join-side selection to the
    * planner's stats, and a sparse edge table whose files sit under
    * `spark.sql.autoBroadcastJoinThreshold` (~10 MB is plausible well
    * past 50k nodes) would flip the plan to broadcasting the EDGE
    * side — the measured-slowest inversion (7.8 s vs 4.4/5.0 s,
    * BASELINE.md round 10). PlanContractSpec pins all three regimes:
    * below-budget broadcast(state), above-budget SMJ with the
    * planner's broadcast disabled, and above-budget SMJ with the
    * edge table's own stats still under the threshold. */
  private[graft] def stateSide(state: DataFrame, stateRows: Long): DataFrame =
    if (stateRows <= stateBroadcastMaxRows(state.sparkSession)) broadcast(state)
    else state.hint("merge")

  /** Memoized driver-side node counts per content-fingerprinted edge
    * table — one countDistinct per (dir, content, variant) per JVM,
    * reused by every query gating its state-side hint on it. */
  private val nodeCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def bipartiteNodeCount(spark: SparkSession, dir: String): Long =
    nodeCountCache.getOrElseUpdate(edgeKey(dir, "bi"),
      bipartiteLinked(spark, dir).select(countDistinct(col("a"))).head().getLong(0))

  /** Memoized edge-row counts per content-fingerprinted edge table —
    * the CC fast-path gate re-reads an immutable catalog table, so one
    * count per (dir, content, variant) per JVM serves every call
    * (ADVICE r19: the unconditional per-call gate count was a pure
    * extra scan on the over-budget path). */
  private val edgeCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def sparseEdgeCount(spark: SparkSession, dir: String,
                              cutoff: String): Long =
    edgeCountCache.getOrElseUpdate(edgeKey(dir, s"cc$cutoff"),
      sparseEdges(spark, dir, cutoff).count())

  /** Symmetric part↔supplier edges pre-joined with source degree —
    * (a, b, deg) bucketed by `a`. One table serves the whole
    * full-graph family: PageRank/PPR read it as-is, BFS/SSSP project
    * (a, b) (column pruning keeps the bucketed scan), SSSP adds its
    * md5 weight as a computed column (projection preserves the
    * reported partitioning). */
  private def bipartiteLinked(spark: SparkSession, dir: String): DataFrame =
    edgeRel(spark, dir, "bi", "a") {
      val base = Tables(spark, dir, "lineitem")
        .select(
          concat(lit("p:"), col("l_partkey")).as("a"),
          concat(lit("s:"), col("l_suppkey")).as("b"))
        .distinct()
      val edges = base.union(base.select(col("b").as("a"), col("a").as("b")))
      val deg = edges.groupBy("a").agg(count(lit(1)).as("deg"))
      edges.join(deg, "a").select(col("a"), col("b"), col("deg"))
    }

  /** Sparsified symmetric edges (md5 order-key sample below
    * `cutoff`/256 of hash space), bucketed by `a` — the CC / LPA /
    * k-core graphs. */
  private def sparseEdges(spark: SparkSession, dir: String, cutoff: String): DataFrame =
    edgeRel(spark, dir, s"cc$cutoff", "a") {
      val base = Tables(spark, dir, "lineitem")
        .filter(
          substring(md5(concat(lit("cc:"), col("l_orderkey").cast("string"))), 1, 2) < cutoff)
        .select(
          concat(lit("p:"), col("l_partkey")).as("a"),
          concat(lit("s:"), col("l_suppkey")).as("b"))
        .distinct()
      base.union(base.select(col("b").as("a"), col("a").as("b")))
    }

  /** Undirected part↔supplier bipartite edges from lineitem, namespaced
    * as string node ids (`p:<partkey>` / `s:<suppkey>`) so both vertex
    * families live in one relation. Symmetrized for undirected walks. */
  private def bipartiteEdges(spark: SparkSession, dir: String): DataFrame =
    bipartiteLinked(spark, dir).select(col("a"), col("b"))

  /** Spec access to the bucketed layouts (PlanContractSpec pins the
    * zero-exchange per-round join contract and row parity). The
    * one-time build per variant measured 17.2 s (bi) and 9.2 s (copur)
    * at 10× (BASELINE.md round 11). */
  private[graft] def linkedEdges(spark: SparkSession, dir: String): DataFrame =
    bipartiteLinked(spark, dir)
  private[graft] def copurOriented(spark: SparkSession, dir: String): DataFrame =
    copurLayout(spark, dir)._1
  private[graft] def sparseEdgesRel(spark: SparkSession, dir: String,
                                    cutoff: String): DataFrame =
    sparseEdges(spark, dir, cutoff)
  private[graft] def hitsEdgesRel(spark: SparkSession, dir: String): DataFrame =
    hitsRel(spark, dir)

  /** PageRank over the part↔supplier graph at damping 0.85 — the one
    * round loop behind all four PageRank queries. Every node has
    * degree ≥ 1 by construction (it appears via an edge), so there is
    * no dangling mass.
    *
    *  - `source = None`: global PageRank, restart mass 0.15/N spread
    *    uniformly, Σ pr = 1 invariant. Output `pr_norm` = pr · N
    *    (mean 1).
    *  - `source = Some(s)`: personalized PageRank — the restart mass
    *    concentrates at `s`, so the vector measures proximity to the
    *    source (the "related items" primitive). Output `ppr`; nodes the
    *    walk has not reached carry exact 0.0.
    *
    * Both are rounded to 6 decimals so cross-engine summation-order
    * noise (~1e-15) cannot flip the hash compare.
    *
    *  - `tol = None`: exactly `rounds` synchronous rounds, built as ONE
    *    lazy plan.
    *  - `tol = Some(t)`: tolerance early exit — iterate until the L1
    *    delta between successive vectors drops below `t` (or `rounds`),
    *    the same changed-ratio discipline as `HMRF.segment`. The
    *    STOPPING RULE IS PART OF THE QUERY SEMANTICS: the oracle
    *    unrolls the same rounds, computes the same per-round L1 deltas
    *    and self-selects the same exit round, so the gate verifies the
    *    exit logic, not just a pinned vector. Each round costs one
    *    checkpoint plus ONE scalar action (the delta sum).
    *
    * Measured on this corpus (BASELINE.md round 9): the per-round L1
    * contraction is exactly the damping factor 0.85 — |λ₂| = 1,
    * because the part↔supplier graph is bipartite (period-2 walk) — so
    * meaningful tolerances cost MORE rounds than the pinned-5 rung. On
    * production graphs (aperiodic: λ₂ < 1) the same driver exits early;
    * the default tol=0.5 is a ranking-stability budget that exits at
    * round 8 (global) / 9 (personalized) under the 12-round budget.
    *
    * Scale: each round is one equality join on the source vertex + one
    * hash aggregation on the destination. The edge side is the
    * bucketed-by-`a` catalog table, read with NO exchange; the node
    * state side goes through [[stateSide]] — broadcast below the row
    * budget (measured fastest: 4.4 s vs the planner's default
    * edge-broadcast 7.8 s, BASELINE.md round 10), the zero-exchange SMJ
    * above it. The single driver-side value besides the deltas is N
    * (one memoized scalar count). */
  private def pageRankRounds(spark: SparkSession, dir: String, source: Option[String],
                             rounds: Int, tol: Option[Double]): DataFrame = {
    // the tolerance loop runs one action per round, so its edge scan is
    // checkpointed once and every round reads local blocks
    val linked = if (tol.isDefined) bipartiteLinked(spark, dir).localCheckpoint()
      else bipartiteLinked(spark, dir)
    val n = bipartiteNodeCount(spark, dir)
    val (init, restart) = source match {
      case None =>
        (lit(1.0).cast("double") / lit(n.toDouble),
          (_: Column) => lit(0.15).cast("double") / lit(n.toDouble))
      case Some(s) =>
        (when(col("node") === s, lit(1.0)).otherwise(lit(0.0)).cast("double"),
          (b: Column) => when(b === s, lit(0.15)).otherwise(lit(0.0)))
    }
    def step(pr: DataFrame): DataFrame =
      linked.join(stateSide(pr, n), linked("a") === pr("node"))
        .groupBy(col("b"))
        .agg((lit(0.85) * sum(col("pr") / col("deg"))).as("flow"))
        .select(col("b").as("node"), (col("flow") + restart(col("b"))).as("pr"))
    var pr = linked.select(col("a").as("node")).distinct().withColumn("pr", init)
    tol match {
      case None => for (_ <- 1 to rounds) pr = step(pr)
      case Some(t) =>
        pr = pr.localCheckpoint()
        var iter = 0
        var done = false
        while (iter < rounds && !done) {
          iter += 1
          // the previous value rides the checkpointed round relation (one
          // extra narrow column), so the per-round L1 delta is a plain
          // local-scan aggregate instead of a second join job
          val next = step(pr)
            .join(pr.select(col("node"), col("pr").as("prev")), "node")
            .localCheckpoint()
          done = next.agg(sum(abs(col("pr") - col("prev")))).head().getDouble(0) < t
          pr = next.select("node", "pr")
        }
    }
    val out = if (source.isEmpty) round(col("pr") * lit(n.toDouble), 6).as("pr_norm")
      else round(col("pr"), 6).as("ppr")
    pr.select(col("node"), out).orderBy("node")
  }

  def pageRank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    pageRankRounds(spark, dir, None, iters, None)

  def pageRankUntil(spark: SparkSession, dir: String, tol: Double = 0.5,
                    maxIters: Int = 12): DataFrame =
    pageRankRounds(spark, dir, None, maxIters, Some(tol))

  def personalizedPageRank(spark: SparkSession, dir: String,
                           source: String = "s:1", iters: Int = 5): DataFrame =
    pageRankRounds(spark, dir, Some(source), iters, None)

  def personalizedPageRankUntil(spark: SparkSession, dir: String,
                                source: String = "s:1", tol: Double = 0.5,
                                maxIters: Int = 12): DataFrame =
    pageRankRounds(spark, dir, Some(source), maxIters, Some(tol))

  /** Oracle SQL for [[pageRankRounds]] (all four PageRank queries): the
    * iteration unrolled into one MATERIALIZED CTE per round (DuckDB
    * inlines plain CTEs, and pr{i} is referenced per-edge, so the
    * un-materialized plan grows exponentially in rounds). With `tol`
    * it computes every successive L1 delta and picks the FIRST round
    * below `tol` (falling back to `rounds`) — verifying the early exit
    * rule itself. Deltas sit well away from the threshold (geometric
    * 0.85 contraction), so cross-engine summation-order noise (~1e-15)
    * cannot flip the selected round. */
  def pageRankOracle(rounds: Int = 5, source: Option[String] = None,
                     tol: Option[Double] = None): String = {
    val (init, restart, out) = source match {
      case None => ("CAST(1.0 AS DOUBLE)/(SELECT n FROM nn)",
        "CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)", "round(pr*(SELECT n FROM nn), 6) AS pr_norm")
      case Some(s) => (s"CASE WHEN a = '$s' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END",
        s"CASE WHEN e.b = '$s' THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END", "round(pr, 6) AS ppr")
    }
    val sb = new StringBuilder(edgesCte())
    sb ++= "deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM edges GROUP BY a),\n"
    sb ++= "nn AS (SELECT count(*) AS n FROM deg),\n"
    sb ++= s"pr0 AS MATERIALIZED (SELECT a AS node, $init AS pr FROM deg)"
    for (i <- 1 to rounds)
      sb ++= s",\npr$i AS MATERIALIZED (SELECT e.b AS node, CAST(0.85 AS DOUBLE)*sum(p.pr/d.deg) + $restart AS pr " +
        s"FROM edges e JOIN pr${i - 1} p ON e.a = p.node JOIN deg d ON e.a = d.a GROUP BY e.b)"
    tol match {
      case None => sb ++= s"\nSELECT node, $out FROM pr$rounds ORDER BY node"
      case Some(t) =>
        sb ++= ",\nrounds AS MATERIALIZED (" +
          (0 to rounds).map(i => s"SELECT $i AS t, node, pr FROM pr$i").mkString(" UNION ALL ") + "),\n"
        sb ++= "deltas AS (SELECT c.t, sum(abs(c.pr - p.pr)) AS d FROM rounds c " +
          "JOIN rounds p ON p.t = c.t - 1 AND p.node = c.node WHERE c.t >= 1 GROUP BY c.t),\n"
        sb ++= s"pick AS (SELECT coalesce(min(t), $rounds) AS t FROM deltas WHERE d < CAST($t AS DOUBLE))\n"
        sb ++= s"SELECT node, $out FROM rounds r JOIN pick k ON r.t = k.t ORDER BY node"
    }
    sb.toString
  }

  /** The `base`/`edges` CTE preamble every part↔supplier graph oracle
    * opens with: the distinct (p:partkey, s:suppkey) pairs — md5-sampled
    * on the order key below `cutoff` for the sparse CC/LPA/k-core
    * graphs, mirroring [[sparseEdges]] — symmetrized into `name`. */
  private def edgesCte(name: String = "edges", cutoff: Option[String] = None): String =
    "WITH base AS MATERIALIZED (SELECT DISTINCT 'p:' || l_partkey AS a, 's:' || l_suppkey AS b FROM lineitem" +
      cutoff.fold("")(c => s"\n  WHERE substring(md5('cc:' || CAST(l_orderkey AS VARCHAR)), 1, 2) < '$c'") +
      s"),\n$name AS MATERIALIZED (SELECT a, b FROM base UNION ALL SELECT b AS a, a AS b FROM base),\n"

  /** Lower-(degree, id) endpoint first — the orientation that makes
    * every triangle counted exactly once and bounds out-degrees. */
  private def orientLow(u: Column, v: Column, du: Column, dv: Column): Column =
    (du < dv) || (du === dv && u < v)

  /** Write-once co-purchase layout: the ORIENTED edge relation
    * (a, b, bd) bucketed by the wedge-join center `a` — the e1⋈e2
    * self-join reads both sides from the same buckets with no
    * exchange — plus the companion degree relation (node, d) for the
    * clustering coefficient. Orientation comment preserved from the
    * derive-per-run era: the oriented edge carries the HEAD's degree
    * because the wedge pair (b, c) under vertex a must be ordered by
    * the same (degree, id) rank the orientation uses — ordering by raw
    * id would look for closing edges against their orientation and
    * silently undercount (caught by GraphSpec's K4 hand-count). */
  private def copurLayout(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ori = Layouts.ensure(spark, "graft_edges_copur", dir, edgeKey(dir, "copur"),
        Seq("", "_deg")) { t =>
      val pp = Tables(spark, dir, "lineitem")
        .filter(
          substring(md5(concat(lit("tri:"), col("l_orderkey").cast("string"))), 1, 2) < "80")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val x = pp.as("x"); val y = pp.as("y")
      val e = x.join(y, col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("u"), col("y.p").as("v"))
        .distinct()
        .localCheckpoint()
      Layouts.save(e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d")), s"${t}_deg")
      val deg = spark.table(s"${t}_deg")
      val oriented = e
        .join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .select(
          when(orientLow(col("u"), col("v"), col("du"), col("dv")), col("u"))
            .otherwise(col("v")).as("a"),
          when(orientLow(col("u"), col("v"), col("du"), col("dv")), col("v"))
            .otherwise(col("u")).as("b"),
          when(orientLow(col("u"), col("v"), col("du"), col("dv")), col("dv"))
            .otherwise(col("du")).as("bd"))
      // the orientation joins are 1:1 on e, whose count is the cheap job
      Layouts.save(oriented, t, Some("a"), rowCount = Some(e.count()))
    }
    (spark.table(ori), spark.table(s"${ori}_deg"))
  }

  /** Oriented triangle count over the co-purchase graph (parts
    * appearing in the same order, orders hash-sampled at ~50%).
    * Returns one row: (n_edges, n_triangles). */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val (oriented, _) = copurLayout(spark, dir)
    val e1 = oriented.as("e1"); val e2 = oriented.as("e2"); val e3 = oriented.as("e3")
    val wedges = e1.join(e2,
        col("e1.a") === col("e2.a") &&
        (col("e1.bd") < col("e2.bd") ||
          (col("e1.bd") === col("e2.bd") && col("e1.b") < col("e2.b"))))
      .select(col("e1.b").as("wb"), col("e2.b").as("wc"))
    val tri = wedges.join(e3, col("wb") === col("e3.a") && col("wc") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    // each undirected edge appears exactly once in the oriented layout
    oriented.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }

  /** Connected components over a sparsified part↔supplier graph
    * (edges kept iff md5 of the lineitem order key lands in the low
    * 1/32 of hash space — dense TPC-H bipartite graphs are one giant
    * component; the sparse graph has real structure to find). Labels
    * are the component's minimum node id.
    *
    * At or under [[Components.localEdgeBudget]] the whole closure runs
    * as ONE union-find task; the gate count is memoized per catalog
    * table (ADVICE r19), so repeated calls pay no per-call scan. Past
    * the budget the edges go to [[Components.labelGraph]]'s O(log d)
    * propagate-and-jump rounds — the 100 TB plan — which stop on a
    * counted convergence and fail loudly past `maxIters` sub-rounds.
    * GraphSpec pins the same components on a hand graph both ways. The
    * oracle unrolls plain min-label rounds to a fixed safe bound
    * (extra rounds are idempotent after convergence). */
  def connectedComponents(spark: SparkSession, dir: String,
                          maxIters: Int = 20): DataFrame = {
    val edges = sparseEdges(spark, dir, "08").select(col("a").as("u"), col("b").as("v"))
    val labels =
      if (sparseEdgeCount(spark, dir, "08") <= Components.localEdgeBudget(spark))
        Components.labelGraphLocal(edges)
      // labelGraph symmetrizes its input: the a < b half of the
      // symmetric relation (no self-loops: p: and s: ids never meet)
      // rebuilds exactly the same edges
      else Components.labelGraph(edges.filter(col("u") < col("v")), maxIters)
    labels.select(col("node"), col("component")).orderBy("node")
  }

  /** Synchronous label propagation over a symmetric edge relation,
    * `rounds` fixed rounds: each node adopts the most frequent label
    * among its neighbors' PREVIOUS labels, ties broken by the smallest
    * label. The fixed round count is part of the semantics (like
    * [[bfsHops]]'s k-hop bound): LPA has no guaranteed fixpoint
    * (bipartite graphs can 2-cycle), so "k synchronous rounds with a
    * deterministic tie-break" is the only formulation that is exactly
    * reproducible — and therefore oracle-able — across engines.
    *
    * Scale: each round is one shuffle on the neighbor join key plus a
    * windowed argmax per node — the Pregel-as-relational shape shared
    * with [[pageRank]]; the edge relation is checkpointed once and
    * reused, labels are two narrow columns, and the per-round state
    * never exceeds one row per node. */
  def labelPropagationOn(edges: DataFrame, rounds: Int = 4): DataFrame = {
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to rounds) {
      val counts = edges.join(labels, edges("a") === labels("node"))
        .groupBy(col("b"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val byFreq = Window.partitionBy("b").orderBy(col("c").desc, col("lbl"))
      labels = counts
        .withColumn("rn", row_number().over(byFreq))
        .filter(col("rn") === 1)
        .select(col("b").as("node"), col("lbl"))
        .localCheckpoint()
    }
    labels.select(col("node"), col("lbl").as("community")).orderBy("node")
  }

  /** Community detection on the same sparsified part↔supplier graph as
    * [[connectedComponents]] (communities inside one giant component
    * are where LPA says something CC cannot). */
  def labelPropagation(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame =
    labelPropagationOn(sparseEdges(spark, dir, "08"), rounds)

  /** k-core decomposition by iterative peeling: delete every node
    * whose current degree is below `kk` until nothing changes; what
    * survives is the maximal subgraph where every node keeps ≥ kk
    * neighbors — the standard cohesion filter (spam/bot rings and
    * dense communities survive; pendant chains and stars peel away).
    * Like [[connectedComponents]], the loop stops on a COUNTED
    * convergence (one scalar per round) while the oracle unrolls a
    * fixed safe bound — peeling past the fixpoint deletes nothing, so
    * extra rounds are idempotent, and the Spark side asserts it
    * converged within the unroll bound (a silent divergence becomes a
    * loud failure).
    *
    * Scale: each round is one degree aggregate + two semi-join-shaped
    * equality joins against the kept-node set, on a checkpointed and
    * monotonically SHRINKING edge relation — worst-case rounds = the
    * longest peel chain (a path peels one layer per round), typically
    * O(log n) on heavy-tailed degree graphs. */
  /** Peel-round budget shared between [[kCore]] and [[kCoreOracle]]:
    * the oracle materializes exactly this many unrolled rounds, so the
    * gate query must converge within the SAME bound — a deeper peel
    * chain fails the Spark-side require with a clear message instead
    * of surfacing as an opaque oracle hash mismatch. */
  val kCoreUnrollRounds = 10

  def kCoreOn(edges0: DataFrame, kk: Int = 3, maxIters: Int = 30): DataFrame = {
    // each count materializes its lazy checkpoint and carries forward
    // as the next round's baseline: one job per round for both
    var edges = edges0.localCheckpoint(eager = false)
    var n = edges.count()
    var converged = false
    var round = 0
    while (!converged && round < maxIters) {
      round += 1
      val keep = edges.groupBy("a").agg(count(lit(1)).as("d"))
        .filter(col("d") >= kk).select(col("a"))
      val next = edges
        .join(keep, "a")
        .join(keep.withColumnRenamed("a", "b"), "b")
        .select(col("a"), col("b"))
        .localCheckpoint(eager = false)
      val m = next.count()
      converged = m == n
      edges = next
      n = m
    }
    require(converged, s"k-core did not converge in $maxIters rounds")
    edges.groupBy(col("a").as("node")).agg(count(lit(1)).as("core_deg"))
      .orderBy("node")
  }

  /** k-core on the same sparsified part↔supplier graph as
    * [[connectedComponents]] (the dense full graph is one giant
    * high-core blob; the sparse one actually peels). */
  def kCore(spark: SparkSession, dir: String, kk: Int = 3): DataFrame =
    // 1/16 sampling (not CC's 1/32): the 1/32 graph's 3-core is EMPTY
    // at gate scale — a 0-row gate validates nothing — while 1/16
    // peels to a non-trivial core (580 nodes at sf0.01, 2-3 rounds)
    kCoreOn(sparseEdges(spark, dir, "10"), kk, maxIters = kCoreUnrollRounds)

  /** Oracle SQL for `kCore` — peeling unrolled to `iters` MATERIALIZED
    * rounds (idempotent past the fixpoint; the Spark side asserts
    * convergence within the bound). */
  def kCoreOracle(kk: Int = 3, iters: Int = kCoreUnrollRounds): String = {
    val sb = new StringBuilder(edgesCte("e0", Some("10")))
    for (i <- 1 to iters) {
      sb ++= s"k$i AS MATERIALIZED (SELECT a FROM e${i - 1} GROUP BY a HAVING count(*) >= $kk),\n"
      sb ++= s"e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e JOIN k$i x ON e.a = x.a JOIN k$i y ON e.b = y.a),\n"
    }
    sb ++= s"fin AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS core_deg FROM e$iters GROUP BY a)\n"
    sb ++= "SELECT node, core_deg FROM fin ORDER BY node"
    sb.toString
  }

  /** Min-hop BFS distance from supplier `s:1` over the full bipartite
    * graph, bounded at `hops` rounds. Unreachable-within-bound nodes
    * are absent. The bound is part of the SEMANTICS (k-hop
    * neighborhood), so a fixed unroll is the oracle — no convergence
    * question.
    *
    * Frontier-based, not Bellman-Ford: with unit weights the FIRST
    * reach is the minimum hop count, so each round joins edges only
    * against the newly-reached frontier and anti-joins out already
    * settled nodes — per-round work is O(frontier boundary), never
    * O(settled · degree), and a saturated graph finishes its
    * remaining rounds against empty frontiers (halved wall-clock vs
    * relax-everything at the same fixed bound, measured at sf0.1). */
  def bfsHops(spark: SparkSession, dir: String, source: String = "s:1",
              hops: Int = 4): DataFrame = {
    val edges = bipartiteEdges(spark, dir)
    var dist = spark.createDataFrame(Seq(Tuple2(source, 0)))
      .toDF("node", "hops")
    var frontier = dist
    // the frontier is exact-counted each hop (a free action on the
    // just-checkpointed relation), so the state-side hint tracks the
    // ACTUAL boundary size — a saturating BFS on a broadcast-exceeding
    // graph drops the hint exactly when the frontier outgrows it
    var frontierRows = 1L
    for (h <- 1 to hops) {
      frontier = edges.join(stateSide(frontier, frontierRows),
          edges("a") === frontier("node"))
        .select(col("b").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint()
      frontierRows = frontier.count()
      dist = dist.union(frontier)
    }
    dist.orderBy("node")
  }

  /** Oracle SQL for `connectedComponents` — min-label propagation
    * unrolled to `iters` MATERIALIZED rounds. Safe as long as the
    * Spark side converged in ≤ iters rounds (it asserts so): rounds
    * past convergence are idempotent. */
  def componentsOracle(iters: Int = 20): String = {
    val sb = new StringBuilder(edgesCte(cutoff = Some("08")))
    sb ++= "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM edges),\n"
    for (i <- 1 to iters)
      sb ++= s"l$i AS MATERIALIZED (SELECT p.node, least(p.lbl, min(q.lbl)) AS lbl " +
        s"FROM l${i - 1} p JOIN edges e ON e.b = p.node JOIN l${i - 1} q ON q.node = e.a " +
        "GROUP BY p.node, p.lbl),\n"
    sb ++= s"fin AS (SELECT node, lbl AS component FROM l$iters)\n"
    sb ++= "SELECT node, component FROM fin ORDER BY node"
    sb.toString
  }

  /** Weighted edges for SSSP: the bipartite relation with a
    * deterministic md5-derived integer weight in [1, 9] per edge —
    * weight is a pure function of the endpoint strings, so both
    * engines derive identical weights with no RNG and no float. */
  private def weightedEdges(spark: SparkSession, dir: String): DataFrame =
    // bucketed symmetric edges + the md5 weight as a computed column:
    // a projection preserves the bucketed scan's reported partitioning,
    // so the weight costs no layout
    bipartiteEdges(spark, dir)
      .withColumn("w",
        conv(substring(md5(concat(lit("w:"),
          least(col("a"), col("b")), lit("|"),
          greatest(col("a"), col("b")))), 1, 2), 16, 10).cast("long") % 9 + 1)

  /** Bounded Bellman-Ford over a weighted symmetric edge relation:
    * after `rounds` relaxations, dist(v) = the cheapest path from
    * `source` using ≤ rounds edges — the bound is the SEMANTICS (like
    * [[bfsHops]]'s k-hop contract), so a fixed unroll is the oracle.
    * Unlike unit-weight BFS, first-reach is NOT final here (a longer
    * hop path can be cheaper), so every round relaxes the full settled
    * set — the frontier trick is invalid by construction. At cluster
    * scale the move is delta-stepping (bucketed priority relaxation);
    * the per-round shape is unchanged: one equality join on the edge
    * key + one min-aggregate, edges checkpointed once. */
  def ssspOn(edges: DataFrame, source: String, rounds: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    var dist = spark.createDataFrame(Seq(Tuple2(source, 0L)))
      .toDF("node", "dist")
    for (_ <- 1 to rounds) {
      val relaxed = edges.join(dist, edges("a") === dist("node"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist.orderBy("node")
  }

  /** Delta-stepping SSSP (Meyer & Sanders 2003) — the cluster-scale
    * variant the bounded-Bellman-Ford scaladoc documents as the gap:
    * instead of relaxing the FULL settled set every round, distances
    * are processed in priority buckets of width `delta`; within a
    * bucket only the CHANGED frontier re-relaxes light edges
    * (w ≤ delta) to a fixpoint, then the settled bucket relaxes heavy
    * edges (w > delta) exactly once. Per-join work is O(frontier),
    * not O(settled) — on a 1000-executor graph the frontier is the
    * working set, the settled ocean never re-shuffles.
    *
    * Runs to the TRUE shortest-path fixpoint (not a hop bound);
    * terminates when no node sits at or beyond the next bucket.
    * Every relaxation candidate is min-aggregated before touching
    * `dist`, and `dist` only ever decreases — the standard
    * delta-stepping invariant (nodes below the processed bucket are
    * final) holds because a light improvement inside the bucket
    * cannot undercut an already-processed bucket and heavy edges
    * always land strictly beyond the current one.
    *
    * delta=4 splits the md5-derived 1..9 weights into light (≤4) /
    * heavy (>4) roughly evenly; max corpus distance is 6 (BASELINE.md
    * round 9), so sf-scale runs process 2 buckets. */
  def ssspDelta(edges: DataFrame, source: String, delta: Long = 4,
                maxBuckets: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    val light = edges.filter(col("w") <= delta).localCheckpoint()
    val heavy = edges.filter(col("w") > delta).localCheckpoint()
    var dist = spark.createDataFrame(Seq(Tuple2(source, 0L)))
      .toDF("node", "dist").localCheckpoint()
    // Round-19 action-count rework (guide §1.2/§2.4 — same relaxation
    // algebra, half the driver actions): the old loop ran FOUR jobs
    // per light round (improved checkpoint, dist checkpoint, frontier
    // checkpoint, frontier count). Folding the old-dist/candidate
    // merge into ONE aggregate that carries the pre-merge distance
    // (`prev`) makes the improvement test a filter over the single
    // checkpointed result — two jobs per round, identical fixpoint:
    // min(dist) over {old} ∪ {candidates} is improvedOf's union-min,
    // and (prev IS NULL OR dist < prev) is exactly its strict-
    // improvement predicate. Empty buckets are skipped by computing
    // the next occupied bucket directly (processing an empty bucket
    // was a 4-job no-op; distances are unchanged by skipping).
    def mergeCands(cand: DataFrame): DataFrame =
      dist.select(col("node"), col("dist"), lit(true).as("old"))
        .unionByName(cand.select(col("node"), col("dist"), lit(false).as("old")))
        .groupBy("node")
        .agg(min(col("dist")).as("dist"),
          min(when(col("old"), col("dist"))).as("prev"))
        .localCheckpoint()
    def relaxed(edgeSide: DataFrame, state: DataFrame, stateRows: Long): DataFrame =
      edgeSide.join(stateSide(state, stateRows), edgeSide("a") === state("node"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
    var bucket = 0L
    var active = true
    while (active && bucket < maxBuckets) {
      def inBucket(c: Column) =
        c >= bucket * delta && c < (bucket + 1) * delta
      // phase 1: light edges from the changed frontier, to a fixpoint.
      // The loop already counts the frontier per pass (the termination
      // check), so the state-side hint rides the same scalar —
      // broadcast while the frontier fits the budget, shuffle join
      // once it does not.
      var frontier = dist.filter(inBucket(col("dist")))
      var frontierRows = frontier.count()
      while (frontierRows > 0) {
        val merged = mergeCands(relaxed(light, frontier, frontierRows))
        dist = merged.select("node", "dist")
        frontier = merged
          .filter((col("prev").isNull || col("dist") < col("prev")) &&
            inBucket(col("dist")))
          .select("node", "dist")
        frontierRows = frontier.count()
      }
      // phase 2: heavy edges from the now-settled bucket, once
      val settled = dist.filter(inBucket(col("dist")))
      val merged = mergeCands(relaxed(heavy, settled, settled.count()))
      dist = merged.select("node", "dist")
      // jump to the next OCCUPIED bucket (one scalar over the local
      // checkpoint, replacing the old >=-count action)
      val nextd = merged
        .filter(col("dist") >= (bucket + 1) * delta)
        .agg(min("dist")).head().getAs[java.lang.Long](0)
      if (nextd == null) active = false
      else bucket = math.min(nextd.longValue() / delta, maxBuckets.toLong)
    }
    dist.orderBy("node")
  }

  /** Delta-stepping over the corpus graph. The oracle is the
    * Bellman-Ford unroll run PAST its fixpoint ([[ssspOracle]] with 10
    * rounds; the corpus stabilizes after 3 — measured, with regeneration
    * margin): two different algorithms, one answer, which is exactly
    * the fixpoint check the gate should pin. */
  def ssspDeltaQuery(spark: SparkSession, dir: String,
                     source: String = "s:1"): DataFrame =
    ssspDelta(weightedEdges(spark, dir), source)

  def sssp(spark: SparkSession, dir: String, source: String = "s:1",
           rounds: Int = 4): DataFrame =
    ssspOn(weightedEdges(spark, dir), source, rounds)

  /** Oracle SQL for `sssp` — weighted relaxation unrolled to the same
    * fixed bound, weights re-derived from the identical md5 formula. */
  def ssspOracle(source: String = "s:1", rounds: Int = 4): String = {
    val sb = new StringBuilder(edgesCte("sym"))
    sb ++= "edges AS MATERIALIZED (SELECT a, b, " +
      "('0x' || substr(md5('w:' || least(a, b) || '|' || greatest(a, b)), 1, 2))::BIGINT % 9 + 1 AS w FROM sym),\n"
    sb ++= s"d0 AS MATERIALIZED (SELECT '$source' AS node, CAST(0 AS BIGINT) AS dist),\n"
    for (i <- 1 to rounds)
      sb ++= s"d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (" +
        s"SELECT node, dist FROM d${i - 1} UNION ALL " +
        s"SELECT e.b AS node, d.dist + e.w AS dist FROM edges e JOIN d${i - 1} d ON e.a = d.node" +
        ") GROUP BY node),\n"
    sb ++= s"fin AS (SELECT node, dist FROM d$rounds)\n"
    sb ++= "SELECT node, dist FROM fin ORDER BY node"
    sb.toString
  }

  /** Oracle SQL for `labelPropagation` — the synchronous rounds
    * unrolled (MATERIALIZED, the BPE-oracle lesson) with the same
    * (count DESC, label ASC) argmax per node. */
  def labelPropagationOracle(rounds: Int = 4): String = {
    val sb = new StringBuilder(edgesCte(cutoff = Some("08")))
    sb ++= "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM edges),\n"
    for (i <- 1 to rounds)
      sb ++= s"l$i AS MATERIALIZED (SELECT node, lbl FROM (" +
        "SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM (" +
        s"SELECT e.b AS node, q.lbl, count(*) AS c FROM edges e JOIN l${i - 1} q ON q.node = e.a GROUP BY e.b, q.lbl" +
        ")) WHERE rn = 1),\n"
    sb ++= s"fin AS (SELECT node, lbl AS community FROM l$rounds)\n"
    sb ++= "SELECT node, community FROM fin ORDER BY node"
    sb.toString
  }

  /** Oracle SQL for `bfsHops` — unit-weight relaxation unrolled to the
    * same fixed bound. */
  def bfsOracle(source: String = "s:1", hops: Int = 4): String = {
    val sb = new StringBuilder(edgesCte())
    sb ++= s"d0 AS MATERIALIZED (SELECT '$source' AS node, 0 AS hops),\n"
    for (i <- 1 to hops)
      sb ++= s"d$i AS MATERIALIZED (SELECT node, CAST(min(hops) AS INTEGER) AS hops FROM (" +
        s"SELECT node, hops FROM d${i - 1} UNION ALL " +
        s"SELECT e.b AS node, min(d.hops) + 1 AS hops FROM edges e JOIN d${i - 1} d ON e.a = d.node GROUP BY e.b" +
        ") GROUP BY node),\n"
    sb ++= s"fin AS (SELECT node, hops FROM d$hops)\n"
    sb ++= "SELECT node, hops FROM fin ORDER BY node"
    sb.toString
  }

  /** Oracle SQL for `triangleCount` — identical sampling, edge
    * construction, orientation, AND rank-ordered wedge pairing (the
    * id-ordered variant undercounts; see triangleCount). */
  /** Per-node local clustering coefficient over the same sampled
    * co-purchase graph as [[triangleCount]]: cc(v) = 2·t(v)/(d(v)·(d(v)−1)),
    * the fraction of a node's neighbor pairs that are themselves
    * connected — the node-level cohesion score (hubs with low cc are
    * brokers; high-cc nodes sit inside cliques). Triangle attribution
    * reuses the oriented wedge join (O(m^1.5)) but keeps all THREE
    * corners of each closed wedge, crediting each once. The
    * coefficient is one exactly-rounded IEEE division of exact
    * integers (2t and d(d−1)), so the full per-node relation is
    * oracle-exact. */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val (oriented, deg) = copurLayout(spark, dir)
    val e1 = oriented.as("e1"); val e2 = oriented.as("e2"); val e3 = oriented.as("e3")
    val triples = e1.join(e2,
        col("e1.a") === col("e2.a") &&
        (col("e1.bd") < col("e2.bd") ||
          (col("e1.bd") === col("e2.bd") && col("e1.b") < col("e2.b"))))
      .select(col("e1.a").as("ta"), col("e1.b").as("tb"), col("e2.b").as("tc"))
      .join(e3, col("tb") === col("e3.a") && col("tc") === col("e3.b"))
      .select(col("ta"), col("tb"), col("tc"))
    val tcount = triples
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    deg.join(tcount, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        round(
          when(col("d") >= 2,
            lit(2.0) * coalesce(col("t"), lit(0L)) / (col("d") * (col("d") - 1)))
            .otherwise(lit(0.0)), 6).as("clustering"))
      .orderBy("node")
  }

  /** Oracle SQL for `clusteringCoefficient` — the triangle oracle's
    * wedge join keeping all three corners, credited per node. */
  val clusteringOracle: String =
    """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      |  WHERE substring(md5('tri:' || CAST(l_orderkey AS VARCHAR)), 1, 2) < '80'),
      |e AS MATERIALIZED (SELECT DISTINCT x.p AS u, y.p AS v FROM pp x JOIN pp y ON x.o = y.o AND x.p < y.p),
      |deg AS MATERIALIZED (SELECT node, count(*) AS d FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY node),
      |oe AS MATERIALIZED (
      |  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS a,
      |         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS b,
      |         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN dv.d ELSE du.d END AS bd
      |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
      |tri AS MATERIALIZED (
      |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
      |  FROM oe e1
      |  JOIN oe e2 ON e1.a = e2.a AND ((e1.bd < e2.bd) OR (e1.bd = e2.bd AND e1.b < e2.b))
      |  JOIN oe e3 ON e3.a = e1.b AND e3.b = e2.b),
      |tc AS (SELECT node, count(*) AS t FROM (
      |  SELECT ta AS node FROM tri UNION ALL SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
      |  GROUP BY node)
      |SELECT d.node, CAST(d.d AS BIGINT) AS degree,
      |  CAST(coalesce(tc.t, 0) AS BIGINT) AS n_tri,
      |  round(CASE WHEN d.d >= 2
      |    THEN CAST(2 AS DOUBLE) * coalesce(tc.t, 0) / (d.d * (d.d - 1))
      |    ELSE CAST(0 AS DOUBLE) END, 6) AS clustering
      |FROM deg d LEFT JOIN tc ON d.node = tc.node
      |ORDER BY d.node""".stripMargin

  val triangleOracle: String =
    """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      |  WHERE substring(md5('tri:' || CAST(l_orderkey AS VARCHAR)), 1, 2) < '80'),
      |e AS MATERIALIZED (SELECT DISTINCT x.p AS u, y.p AS v FROM pp x JOIN pp y ON x.o = y.o AND x.p < y.p),
      |deg AS MATERIALIZED (SELECT node, count(*) AS d FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) GROUP BY node),
      |oe AS MATERIALIZED (
      |  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS a,
      |         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS b,
      |         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN dv.d ELSE du.d END AS bd
      |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node)
      |SELECT (SELECT count(*) FROM e) AS n_edges,
      |       (SELECT count(*) FROM (SELECT e1.a FROM oe e1
      |          JOIN oe e2 ON e1.a = e2.a AND ((e1.bd < e2.bd) OR (e1.bd = e2.bd AND e1.b < e2.b))
      |          JOIN oe e3 ON e3.a = e1.b AND e3.b = e2.b)) AS n_triangles""".stripMargin

  /** HITS hubs & authorities (Kleinberg 1999, JACM 46(5) §2) over the
    * DIRECTED customer→supplier purchase graph (who-buys-from-whom,
    * via orders ⋈ lineitem, distinct): per round, auth = in-sum of
    * hub, hub = out-sum of auth, each L1-normalized. On this
    * bipartite orientation hubs live on customers (broad buyers) and
    * authorities on suppliers (widely-bought-from) — the two-sided
    * centrality PageRank's single score conflates. Output one row per
    * node: (node, kind, score) with scores normalized to side-mean 1
    * (score · n_side), rounded to 6 like every Pregel-family query so
    * summation-order noise (~1e-15/round) cannot flip the hash.
    *
    * Scale: per round, two equality joins on a localCheckpoint'ed
    * edge relation + two hash aggregates — the pageRank shape run in
    * both directions. The L1 normalizer stays RELATIONAL (scalar
    * crossJoin-broadcast, the repo's standard idiom) so no per-round
    * driver pull; hub/auth are checkpointed per round to keep the
    * plan O(1) deep. */
  /** The directed customer→supplier purchase edges, bucketed by src
    * (the hits variant of the write-once layout). */
  private def hitsRel(spark: SparkSession, dir: String): DataFrame =
    edgeRel(spark, dir, "hits", "src") {
      Tables(spark, dir, "orders")
        .join(Tables(spark, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(
          concat(lit("c:"), col("o_custkey")).as("src"),
          concat(lit("s:"), col("l_suppkey")).as("dst"))
        .distinct()
    }

  def hits(spark: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    // per-round hub/auth checkpoints make this an action-per-round
    // loop too — materialize the (derive-free) table scan once so the
    // 2-joins-per-round read local blocks, not parquet
    val edges = hitsRel(spark, dir).localCheckpoint()
    // per-side node counts, memoized per content fingerprint — they
    // gate the state-side hint (stateSide) and are the final
    // normalizers, replacing the two end-of-loop count() actions
    val nh = nodeCountCache.getOrElseUpdate(edgeKey(dir, "hits") + "|src",
      edges.select(countDistinct(col("src"))).head().getLong(0))
    val na = nodeCountCache.getOrElseUpdate(edgeKey(dir, "hits") + "|dst",
      edges.select(countDistinct(col("dst"))).head().getLong(0))
    var hub = edges.select(col("src").as("node")).distinct()
      .withColumn("hub", lit(1.0).cast("double"))
      .localCheckpoint()
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // checkpoint the RAW per-node sums and keep the normalizer a
      // LAZY transform over those local blocks: checkpointing the
      // normalized relation materialized a plan that contained the
      // join+aggregate subtree TWICE (once for the rows, once inside
      // the broadcast scalar), so every round re-ran its join unless
      // exchange reuse happened to fire. Same arithmetic, same
      // per-round float values (the division is applied to identical
      // raw sums), one join per side per round guaranteed.
      val aRaw = edges.join(stateSide(hub, nh), edges("src") === hub("node"))
        .groupBy(col("dst")).agg(sum("hub").as("a"))
        .select(col("dst").as("node"), col("a"))
        .localCheckpoint()
      auth = aRaw.crossJoin(broadcast(aRaw.agg(sum("a").as("za"))))
        .select(col("node"), (col("a") / col("za")).as("auth"))
      val hRaw = edges.join(stateSide(auth, na), edges("dst") === auth("node"))
        .groupBy(col("src")).agg(sum("auth").as("h"))
        .select(col("src").as("node"), col("h"))
        .localCheckpoint()
      hub = hRaw.crossJoin(broadcast(hRaw.agg(sum("h").as("zh"))))
        .select(col("node"), (col("h") / col("zh")).as("hub"))
    }
    auth.select(col("node"), lit("auth").as("kind"),
        round(col("auth") * lit(na), 6).as("score"))
      .unionAll(hub.select(col("node"), lit("hub").as("kind"),
        round(col("hub") * lit(nh), 6).as("score")))
      .orderBy("kind", "node")
  }

  /** Oracle SQL for [[hits]] — the unrolled-CTE replay, normalizers as
    * scalar subqueries. */
  def hitsOracle(iters: Int = 5): String = {
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey),\n"
    sb ++= "h0 AS MATERIALIZED (SELECT src AS node, CAST(1.0 AS DOUBLE) AS hub FROM (SELECT DISTINCT src FROM e)),\n"
    for (i <- 1 to iters) {
      sb ++= s"a${i}r AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub) AS a FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),\n"
      sb ++= s"a$i AS MATERIALIZED (SELECT node, a / (SELECT sum(a) FROM a${i}r) AS auth FROM a${i}r),\n"
      sb ++= s"h${i}r AS MATERIALIZED (SELECT e.src AS node, sum(a.auth) AS h FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src),\n"
      sb ++= s"h$i AS MATERIALIZED (SELECT node, h / (SELECT sum(h) FROM h${i}r) AS hub FROM h${i}r),\n"
    }
    sb ++= s"na AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM a$iters),\n"
    sb ++= s"nh AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM h$iters)\n"
    sb ++= s"SELECT node, 'auth' AS kind, round(auth * (SELECT n FROM na), 6) AS score FROM a$iters " +
      s"UNION ALL SELECT node, 'hub' AS kind, round(hub * (SELECT n FROM nh), 6) AS score FROM h$iters " +
      "ORDER BY kind, node"
    sb.toString
  }
}
