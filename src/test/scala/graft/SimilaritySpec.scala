package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.similarity.Similarity

/** The recall/correctness coverage promised in Similarity's scaladoc:
  * brute force is exact on crafted vectors, LSH recall is bounded
  * against brute force on the real embeddings, and near-dup pairs find
  * exactly the planted duplicates. */
class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}
  import spark.implicits._

  private def corpusOf(rows: (Long, Seq[Double])*): DataFrame =
    rows.toDF("vec_id", "vec")
      .select(col("vec_id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("norm", Similarity.l2norm(col("vec")))

  test("brute-force top-k ranks candidates by exact cosine") {
    val c = corpusOf(
      0L -> Seq(1.0, 0.0, 0.0),
      1L -> Seq(0.9, 0.1, 0.0),  // cos ~ 0.9939
      2L -> Seq(0.5, 0.5, 0.0),  // cos ~ 0.7071
      3L -> Seq(0.0, 1.0, 0.0),  // cos 0
      4L -> Seq(-1.0, 0.0, 0.0)) // cos -1
    val rows = Similarity.bruteForceTopKOn(c, nQueries = 1, k = 4).collect()
    assert(rows.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("cand_id"))).toSeq
      === Seq((1, 1L), (2, 2L), (3, 3L), (4, 4L)))
    val cos1 = rows.find(_.getAs[Long]("cand_id") == 1L).get.getAs[Double]("cos_sim")
    assert(math.abs(cos1 - 0.9939) < 1e-4)
  }

  test("LSH top-k recall vs brute force is bounded below on the embeddings table") {
    val all = Similarity.corpus(spark, sf0001).cache()
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopKOn(all, nQueries = 5, k = 3))
    val approx = pairs(Similarity.lshTopKOn(all, nQueries = 5, k = 3))
    val recall = (exact intersect approx).size.toDouble / exact.size
    // Deterministic hyperplanes -> this is a fixed number for this
    // corpus (0.60 at the 4-plane/8-table default). Bound it so
    // regressions in bucketing/scoring surface.
    assert(recall >= 0.55, s"LSH recall $recall fell below bound (exact=$exact approx=$approx)")
    all.unpersist()
  }

  test("int8 quantization: codes in range, reconstruction tight, top-k recall high") {
    val all = Similarity.corpus(spark, sf0001).cache()
    val quant = Similarity.quantizeInt8(all)
    // max |x - x̂| <= scale/2 per element (symmetric rounding)
    val viol = Similarity.dequantized(quant)
      .select(col("vec_id"), col("vec").as("rvec"))
      .join(all.select(col("vec_id"), col("vec")), "vec_id")
      .withColumn("maxerr",
        expr("aggregate(zip_with(vec, rvec, (a, b) -> abs(a - b)), 0D, (acc, x) -> greatest(acc, x))"))
      .join(quant.select(col("vec_id"), col("scale")), "vec_id")
      .filter(col("maxerr") > col("scale") * 0.5 + 1e-9).count()
    assert(viol === 0L, "reconstruction error exceeds scale/2 somewhere")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopKOn(all, nQueries = 5, k = 3))
    val quantized = pairs(Similarity.bruteForceTopKOn(
      Similarity.dequantized(quant), nQueries = 5, k = 3))
    val recall = (exact intersect quantized).size.toDouble / exact.size
    assert(recall >= 0.85, s"int8 recall $recall (exact=$exact quant=$quantized)")
    all.unpersist()
  }

  test("IVF top-k: nProbe = nlist is exactly brute force; partial probing bounds recall") {
    val all = Similarity.corpus(spark, sf0001).cache()
    def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("cand_id"), r.getAs[Double]("cos_sim"))).toSeq
    // probing every list covers every candidate -> identical output to
    // the exact baseline, regardless of the k-means assignment
    val exact = rows(Similarity.bruteForceTopKOn(all, nQueries = 5, k = 3))
    val full = rows(Similarity.ivfTopKOn(all, nQueries = 5, k = 3, nlist = 8, nProbe = 8))
    assert(full === exact, "nProbe=nlist must equal brute force bit-for-bit")
    // partial probe: deterministic (seed 0) recall, bounded so quantizer
    // or probe regressions surface
    val partial = rows(Similarity.ivfTopKOn(all, nQueries = 5, k = 3, nlist = 8, nProbe = 3))
      .map(t => (t._1, t._3)).toSet
    val recall = (exact.map(t => (t._1, t._3)).toSet intersect partial).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall fell below bound")
    all.unpersist()
  }

  test("PQ-ADC top-k recall vs brute force is bounded below") {
    val all = Similarity.corpus(spark, sf0001).cache()
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopKOn(all, nQueries = 5, k = 3))
    val pq = pairs(Similarity.pqTopKOn(all, nQueries = 5, k = 3))
    val recall = (exact intersect pq).size.toDouble / exact.size
    // deterministic codebooks (seed = subspace index) -> fixed number
    // for this corpus; bound it so encode/ADC regressions surface.
    // Measured 0.267 on the near-isotropic synthetic corpus (PQ's
    // worst case — see pqTopKOn's doc) under hash-rank-ordered
    // training (r7: the sample order changed with the unbiased
    // xxhash64 sample, which re-rolls k-means init on a corpus
    // smaller than the sample budget).
    assert(recall >= 0.25, s"PQ recall $recall (exact=$exact pq=$pq)")
    all.unpersist()
  }

  test("IVFADC top-k: recall bounded below; planted duplicate survives list pruning") {
    val all = Similarity.corpus(spark, sf0001).cache()
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopKOn(all, nQueries = 5, k = 3))
    val pruned = pairs(Similarity.ivfpqTopKOn(all, nQueries = 5, k = 3))
    val recall = (exact intersect pruned).size.toDouble / exact.size
    // residual codes capture more energy than raw-vector PQ codes, so
    // the bound sits at the plain-PQ floor; deterministic (seed-0
    // coarse + seed-j codebooks) for this corpus. NOTE recall@k is NOT
    // monotone in nProbe under approximate scores: widening the probe
    // admits interlopers whose ADC score beats a true neighbor's, so
    // no full-vs-pruned ordering is asserted — that first-draft
    // assertion failed against a genuine IVFADC property.
    assert(recall >= 0.25, s"IVFADC recall $recall (exact=$exact ivfpq=$pruned)")
    // planted exact duplicate of query 0: identical vector -> identical
    // coarse assignment (first-min tie-break) and identical residual
    // codes, so it must rank 1 THROUGH the pruned path — the guarantee
    // pruning cannot break
    val dup = all.filter(col("vec_id") === 0)
      .select(lit(100000L).as("vec_id"), col("vec"), col("label"), col("norm"))
    val top = Similarity.ivfpqTopKOn(all.unionByName(dup), nQueries = 1, k = 1).collect()(0)
    assert(top.getAs[Long]("cand_id") === 100000L,
      s"planted duplicate not top-1: $top")
    all.unpersist()
  }

  test("served IVFADC is bit-identical to the in-memory path; scan pruning changes nothing") {
    val all = Similarity.corpus(spark, sf0001).cache()
    // same trained artifacts through both paths: the served path reads
    // them back from the persisted side tables (parquet round-trips
    // doubles exactly), so any divergence is a serve-path bug
    val served = Similarity.ivfpqServedTopK(spark, sf0001).collect().toSeq
    val (cent, books) = Similarity.ivfpqTrain(all)
    val inMem = Similarity.ivfpqTopKWith(all, cent, books).collect().toSeq
    assert(served === inMem, "served IVFADC diverged from the in-memory path")
    // second execution serves from the already-built index (the memo
    // is the catalog) and must be identical again
    assert(Similarity.ivfpqServedTopK(spark, sf0001).collect().toSeq === inMem)
    all.unpersist()
  }

  test("autoNlist: 4√n clamped to ≥32 occupancy, floor 16; occupancy sublinear at 10x") {
    // small corpora (every driver testdata scale) resolve to the
    // historical 16, so oracle/recall anchors are unchanged
    assert(Similarity.autoNlist(500L) === 16)
    assert(Similarity.autoNlist(512L) === 16)
    // growth: nlist rises with the corpus, occupancy n/nlist grows as
    // √n/4 — at 10x rows, per-list occupancy (the per-query scoring
    // cost at fixed nProbe) grows ≤ ~√10, never 10x
    for (n <- Seq(2000L, 20000L, 200000L, 2000000L)) {
      val nl = Similarity.autoNlist(n)
      val nl10 = Similarity.autoNlist(10 * n)
      assert(nl10 > nl, s"nlist must grow with the corpus (n=$n)")
      val occRatio = (10 * n / nl10.toDouble) / (n / nl.toDouble)
      assert(occRatio <= 3.5, s"occupancy ratio $occRatio at 10x of n=$n")
      assert(n / nl.toDouble >= 31.0, s"occupancy below the k-means floor at n=$n")
    }
    // the 4√n regime: at 1M vectors nlist is ~4000, not n/32
    assert(math.abs(Similarity.autoNlist(1000000L) - 4000) <= 1)
  }

  test("ivfpqAppend: delta encode under frozen artifacts == full-corpus encode") {
    val all = Similarity.corpus(spark, sf0001).cache()
    val evens = all.filter(col("vec_id") % 2 === 0)
    val odds = all.filter(col("vec_id") % 2 =!= 0)
    val prefix = "graft_test_append"
    // build on the evens only; artifacts freeze at build time
    Similarity.ivfpqBuildIndex(evens, prefix)
    Similarity.ivfpqAppend(spark, prefix, odds)
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val served = Similarity.ivfpqServeIndex(spark, prefix, queries).collect().toSeq
    // reference: encode the FULL corpus in one pass with the SAME
    // frozen artifacts — append must be indistinguishable from it
    val (cent, books) = Similarity.readIndexArtifacts(spark, prefix)
    val reference = Similarity.ivfpqServe(
      Similarity.ivfpqEncode(all, cent, books).localCheckpoint(),
      queries, cent, books).collect().toSeq
    assert(served === reference,
      "append-built index diverged from a one-shot encode under the same artifacts")
    all.unpersist()
  }

  test("near-dup pairs find exactly the planted duplicate pair") {
    // 8-dim: two near-identical vectors (cos > 0.999) among orthogonal-ish noise.
    val base = Seq(1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.0)
    val nearDup = base.zipWithIndex.map { case (v, i) => v + (if (i == 0) 0.01 else 0.0) }
    val c = corpusOf(
      100L -> base, 101L -> nearDup,
      1L -> Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      4L -> Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0))
    val rows = Similarity.cosineNearDupPairsOn(c, threshold = 0.95, dims = 8).collect()
    assert(rows.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSeq
      === Seq((100L, 101L)))
    assert(rows.head.getAs[Double]("cos_sim") > 0.999)
  }

  test("planted template: 10k identical vectors collapse to the O(d) keeper star in both rungs") {
    // hyperplane depth cannot split identical vectors: without the
    // exact-vector collapse this fixture's hot bucket explodes to ~50M
    // in-cell pairs (and an unbounded collect_list)
    val d = 10000
    val tmpl = Seq(1.0, 2.0, -1.0, 0.5, 0.25, 3.0, -2.0, 1.0)
    val other = Seq(-3.0, 1.0, 2.0, -0.5, 1.5, 0.0, 2.0, -1.0)
    val c = corpusOf(((0 until d).map(i => i.toLong -> tmpl) :+ (20000L -> other)): _*)
    val pairs = Similarity.cosineNearDupPairsOn(c, threshold = 0.95, dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length === d - 1, s"expected the ${d - 1}-edge star, got ${pairs.length}")
    assert(pairs.forall(p => p._1 == 0L && p._3 == 1.0),
      "every member pairs with keeper 0 at cosine 1.0")
    val edges = Similarity.cellEdgesOn(c, threshold = 0.3, targetOccupancy = 32,
        coarseK = 16, nTables = 4, iters = 2, dims = 8)
      .select("u", "v") // grp (the coarse cluster) rides along since round 19
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (stars, rest) = edges.partition(e => e._1 == 0L && e._2 < d)
    assert(stars.length === d - 1, "cells rung must carry the same keeper star")
    assert(rest.forall(e => e._1 == 0L || e._1 == 20000L || e._2 == 20000L),
      s"no member-member cell pairs may survive: ${rest.take(5).toSeq}")
  }

  test("served hybrid: query output == Scala fusion replay; recall bounded vs exact-dense hybrid") {
    def legPairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      df.select("query_id", "cand_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    def fuse(dense: Seq[(Long, Long, Int)], sparse: Seq[(Long, Long, Int)],
             k: Int = 5): Map[Long, Seq[Long]] = {
      val dm = dense.map(t => (t._1, t._2) -> t._3).toMap
      val sm = sparse.map(t => (t._1, t._2) -> t._3).toMap
      (dm.keySet ++ sm.keySet).groupBy(_._1).map { case (q, keys) =>
        q -> keys.toSeq.map { key =>
          val s = dm.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            sm.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0)
          (key._2, s)
        }.sortBy { case (cand, s) => (-s, cand) }.take(k).map(_._1)
      }
    }
    val docs = graft.Tables(spark, sf0001, "documents")
    val servedDense = legPairs(Similarity.ivfpqServedTopK(spark, sf0001, 5, k = 20))
    val sparse = legPairs(graft.text.TextAnalysis.bm25TopK(docs, 5, k = 20))
    val expected = fuse(servedDense, sparse)
    val got = Similarity.hybridServed(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("cand_id")).toSeq
      }
    assert(got === expected, "query fusion must equal the Scala replay of its own legs")
    // recall vs the SAME fusion over the exact dense leg: served IVFADC
    // probing may lose dense candidates, bounded below
    val exactDense = legPairs(Similarity.bruteForceTopK(spark, sf0001, 5, k = 20))
    val ideal = fuse(exactDense, sparse)
    val hits = got.map { case (q, cands) => (cands.toSet intersect ideal(q).toSet).size }.sum
    val recall = hits.toDouble / ideal.values.map(_.size).sum
    assert(recall >= 0.6, s"served hybrid recall $recall fell below bound")
  }

  test("hybrid RRF: scores bounded by both-legs-top, monotone per query, legs agree") {
    val out = Similarity.hybridRrf(spark, sf0001).collect()
    val qs = out.map(_.getAs[Long]("query_id")).distinct
    assert(qs.length === 5, s"expected 5 query groups, got ${qs.length}")
    // max possible fused score is rank 1 in BOTH legs: 2/61
    val cap = 2.0 / 61.0 + 1e-6  // +1e-6: scores are round(…,6)ed
    out.foreach { r =>
      val s = r.getAs[Double]("rrf_score")
      assert(s > 0.0 && s <= cap, s"rrf out of (0, 2/61]: $s")
    }
    // per query: rank order must equal descending score order
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("rrf_score"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"scores not monotone in rank: ${byRank.toSeq}")
    }
    // a doc at dense rank 1 scores ≥ 1/61 only if also in the sparse
    // leg; either way the fused top-1 must score ≥ the dense-only top-1
    // contribution 1/61 (dense #1 is always a fusion candidate)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val top = rows.minBy(_.getAs[Int]("rank")).getAs[Double]("rrf_score")
      assert(top >= 1.0 / 61.0 - 1e-6, s"query $q fused top-1 below dense-#1 floor: $top")
    }
  }

  test("semantic keep-list collapses transitive chains and keeps singletons") {
    // 2-D by angle, threshold cos >= 0.8 (~36.9°): 0°–30°–60° form a
    // CHAIN (adjacent pairs at cos 0.866 pass, the 0°–60° endpoints at
    // cos 0.5 do not) — the closure must still collapse all three to
    // one component; 150° is everyone's stranger and keeps itself.
    import math.Pi
    def v(deg: Double) = Seq(math.cos(deg * Pi / 180), math.sin(deg * Pi / 180))
    val c = corpusOf(0L -> v(0), 1L -> v(30), 2L -> v(60), 3L -> v(150))
    val rows = Similarity.semanticKeepOn(c, threshold = 0.8).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("keep_id"), r.getAs[Boolean]("is_kept")))
    assert(rows.toSeq === Seq((0L, 0L, true), (1L, 0L, false), (2L, 0L, false), (3L, 3L, true)))
  }

  test("LSH semantic keep matches the exact rung on planted near-identical dups") {
    // near-identical vectors collide on nearly every hyperplane, so the
    // bucketed candidate generator must recover the same components —
    // and hence the same keep decisions — as the exact all-pairs rung.
    val base = Seq(1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.0)
    def jitter(eps: Double) = base.zipWithIndex.map { case (x, i) => x + (if (i == 0) eps else 0.0) }
    val c = corpusOf(
      100L -> base, 101L -> jitter(0.01), 102L -> jitter(-0.01),
      1L -> Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0))
    def keeps(df: DataFrame): Seq[(Long, Long, Boolean)] = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("keep_id"), r.getAs[Boolean]("is_kept"))).toSeq
    val exact = keeps(Similarity.semanticKeepOn(c, threshold = 0.95))
    val lsh = keeps(Similarity.semanticKeepLshOn(c, threshold = 0.95, dims = 8))
    assert(exact === lsh)
    assert(exact.filter(!_._3).map(_._1).toSet === Set(101L, 102L),
      s"expected the planted dups to fold into 100: $exact")
  }

  test("constant-occupancy cells rung matches the exact rung on planted near-identical dups") {
    // round-12 VERDICT item 2 recall-parity gate: the production cells
    // rung (coarse kmeans + per-cluster sign bits) must fold planted
    // near-identical vectors into the same keep decisions as the exact
    // all-pairs audit rung — near-dups share a nearest centroid and
    // agree on nearly every plane bit.
    val base = Seq(1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.0)
    def jitter(eps: Double) = base.zipWithIndex.map { case (x, i) => x + (if (i == 0) eps else 0.0) }
    val c = corpusOf(
      100L -> base, 101L -> jitter(0.01), 102L -> jitter(-0.01),
      1L -> Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0))
    def keeps(df: DataFrame): Seq[(Long, Long, Boolean)] = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("keep_id"), r.getAs[Boolean]("is_kept"))).toSeq
    val exact = keeps(Similarity.semanticKeepOn(c, threshold = 0.95))
    val cells = keeps(Similarity.semanticKeepCellsOn(c, threshold = 0.95, dims = 8))
    assert(exact === cells)
    assert(cells.filter(!_._3).map(_._1).toSet === Set(101L, 102L),
      s"expected the planted dups to fold into 100: $cells")
  }

  test("cells rung keep-set is a superset of the exact keep-set on the real embeddings") {
    // the one-directional error contract: approximate candidate edges
    // are exact-cosine re-checked, so edges(cells) ⊆ edges(exact) —
    // components only ever SPLIT, hence every exact keeper stays a
    // keeper (its id is still the minimum of its refined component).
    // A violation would mean the approximate rung dropped a canonical
    // representative — the failure a curation pipeline cannot absorb.
    val all = Similarity.corpus(spark, sf0001).cache()
    def keepSet(df: DataFrame): Set[Long] =
      df.filter(col("is_kept")).select("vec_id").collect().map(_.getLong(0)).toSet
    val exactKeeps = keepSet(Similarity.semanticKeepOn(all, threshold = 0.95))
    val cellKeeps = keepSet(Similarity.semanticKeepCellsOn(all, threshold = 0.95))
    assert(exactKeeps.subsetOf(cellKeeps),
      s"cells rung dropped exact keepers: ${(exactKeeps -- cellKeeps).take(5)}")
    all.unpersist()
  }

  test("MMR re-rank: first pick is pure relevance, second pick trades rel for diversity") {
    // q = id0. id1: best rel (~0.900); id2: same DIRECTION as id1
    // (scaled copy -> pairwise sim 1.0) with the same rel; id3: lower
    // rel (~0.851) but diverse (sim to id1 ~0.635). Under λ=0.5 the
    // ×2-scaled objective is rel_micro − maxsim_micro: id2 scores
    // ~0.9 − 1.0 < 0 while id3 scores ~0.851 − 0.635 > 0, so the
    // greedy MUST jump to the diverse candidate at rank 2.
    val c = corpusOf(
      0L -> Seq(1.0, 0.0, 0.0),
      1L -> Seq(0.9, 0.436, 0.0),
      2L -> Seq(0.45, 0.218, 0.0),
      3L -> Seq(0.85, -0.3, 0.43))
    val out = Similarity.mmrRerankOn(c, nQueries = 1, candK = 3, k = 3).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("cand_id")))
    assert(out.toSeq === Seq((1, 1L), (2, 3L), (3, 2L)))
  }

  test("diversified top-k enforces the per-source quota and global score order") {
    val out = Similarity.diverseTopK(spark, sf0001).collect()
    // quota: no (query, source) appears twice
    val bySrc = out.groupBy(r => (r.getAs[Long]("query_id"), r.getAs[String]("source")))
    assert(bySrc.values.forall(_.length == 1),
      s"per-source quota violated: ${bySrc.filter(_._2.length > 1).keys}")
    // within each query, rank order == descending cos order
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $q scores not monotone in rank: ${byRank.toSeq}")
    }
    // the diversified top-1 IS the unconstrained top-1 (quota cannot
    // bite before the first pick)
    val exactTop = Similarity.bruteForceTopK(spark, sf0001, k = 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toMap
    out.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(exactTop(r.getAs[Long]("query_id")) === r.getAs[Long]("cand_id"))
    }
  }

  test("semantic decontamination flags a planted eval copy and ignores the orthogonal doc") {
    // ids: 0 and 10 are eval (every 10th); 1 copies eval 0 exactly
    // (max_cos 1.0), 2 is orthogonal to both eval vectors (no row)
    val c = corpusOf(
      0L -> Seq(1.0, 0.0, 0.0, 0.0),
      10L -> Seq(0.0, 1.0, 0.0, 0.0),
      1L -> Seq(1.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 0.0, 1.0, 0.0),
      3L -> Seq(0.7, 0.7, 0.0, 0.0)) // cos ~0.707 to both evals
    val got = Similarity.semanticDecontaminateOn(c, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(1L, 3L), s"flagged set wrong: $got")
    assert(got(1L) === ((1L, 1.0)))
    assert(got(3L)._1 === 2L) // close to BOTH eval vectors
    assert(math.abs(got(3L)._2 - 0.7071) < 1e-4)
  }

  test("fixed-resolution near-dup: verified subset of brute force; identical vectors always collide") {
    val all = Similarity.corpus(spark, sf0001).cache()
    val det = Similarity.cosineNearDupPairsOn(all, threshold = 0.3, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every emitted pair passed the exact verify, so det ⊆ brute force
    val brute = {
      val a = all.select(col("vec_id").as("vec_a"), col("vec").as("va"), col("norm").as("na"))
      val b = all.select(col("vec_id").as("vec_b"), col("vec").as("vb"), col("norm").as("nb"))
      a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.3)
        .select("vec_a", "vec_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(det.subsetOf(brute), s"false positives: ${det -- brute}")
    assert(det.nonEmpty, "planted near-dups must surface at 4 planes")
    // an identical-vector pair lands in the same bucket of EVERY table
    val planted = brute.filter { case (x, y) =>
      val v = all.filter(col("vec_id") === x).select("vec").head.getSeq[Double](0)
      val w = all.filter(col("vec_id") === y).select("vec").head.getSeq[Double](0)
      v == w
    }
    planted.foreach(p => assert(det.contains(p), s"identical pair $p missed"))
  }

  test("hard negatives: same-label and near-dup candidates excluded, rest ranked by cosine") {
    // query 0 (label 0). cand 1 shares the label (excluded by the join
    // condition); cand 2 has cos ~0.99995 >= hi (excluded as a probable
    // mislabeled near-dup); cands 3 and 4 rank by cosine.
    val c = Seq(
      (0L, Seq(1.0, 0.0, 0.0), 0),
      (1L, Seq(0.9, 0.1, 0.0), 0),
      (2L, Seq(0.99, 0.01, 0.0), 1),
      (3L, Seq(0.5, 0.5, 0.0), 1),
      (4L, Seq(0.0, 1.0, 0.0), 2))
      .toDF("vec_id", "vec", "label")
      .select(col("vec_id"), col("vec").cast("array<double>").as("vec"), col("label"))
      .withColumn("norm", Similarity.l2norm(col("vec")))
    val rows = Similarity.hardNegativesOn(c, benchEvery = 10, hi = 0.9, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("cand_id"), r.getAs[Int]("cand_label"), r.getAs[Double]("cos_sim")))
    assert(rows.map(t => (t._1, t._2, t._3, t._4)).toSeq
      === Seq((0L, 1, 3L, 1), (0L, 2, 4L, 2)))
    assert(math.abs(rows(0)._5 - 0.7071) < 1e-4)
    assert(rows(1)._5 === 0.0)
  }

  test("fused graft_lsh_buckets equals the declarative per-table lshBucket at production depths") {
    import org.apache.spark.sql.functions.{array, col}
    graft.functions.VectorExpressions.register(spark)
    val vecs = Similarity.corpus(spark, SparkTestSession.sf001).limit(200)
    for ((planes, tables) <- Seq((4, 8), (13, 8), (1, 1))) {
      val got = vecs.select(col("vec_id"),
          Similarity.allBuckets(col("vec"), planes, tables, 64).as("fused"),
          array((0 until tables).map(t =>
            Similarity.lshBucket(col("vec"), t, planes, 64)): _*).as("decl"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"bucket mismatch at planes=$planes tables=$tables vec_id=${r.getLong(0)}")
      }
    }
  }
}
