package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.similarity.Similarity

/** The deterministic-Lloyd contracts behind emb_kmeans_clusters /
  * emb_semdedup_keep / emb_ivf_det_topk: hand-computable clustering on
  * a crafted corpus, partitioning invariance (the engine-exactness
  * claim), argmin fidelity of the assignment idiom, empty-cluster
  * carry, SemDeDup keep parity with the exact audit rung on planted
  * duplicates, the nProbe=nlist degeneration to brute force, and the
  * kernel's agreement with the relational Lloyd plan it replaced on
  * degenerate corpora. */
class KMeansSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}
  import spark.implicits._

  private def corpusOf(rows: (Long, Seq[Double])*): DataFrame =
    rows.toDF("vec_id", "vec")
      .select(col("vec_id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("norm", Similarity.l2norm(col("vec")))

  /** The relational Lloyd plan, kept as the kernel's verification
    * plan: strided seeds by a global row_number over vec_id, assignment
    * by a centroid cross join and a min(struct(d, cluster_id)) argmin,
    * update by a (cluster_id, pos) integer sum with empty clusters
    * keeping their previous centroid. Returns the final centroids
    * (cluster_id, cv) and assignment (vec_id, cluster_id). */
  private def relationalLloyd(all: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val withM = all.select(col("vec_id"),
      transform(col("vec"), x => floor(x * lit(1e6) + lit(0.5))).as("mv"))
    val stride = math.max(1L, withM.count() / k)
    var cent = withM.withColumn("rn", row_number().over(Window.orderBy("vec_id")) - 1)
      .filter(col("rn") % stride === 0 && col("rn") / stride < k)
      .select((col("rn") / stride).cast("int").as("cluster_id"), col("mv").as("cv"))
    def assign(c: DataFrame): DataFrame =
      withM.crossJoin(c)
        .select(col("vec_id"), col("cluster_id"), aggregate(
          zip_with(col("mv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cluster_id"))).as("best"))
        .select(col("vec_id"), col("best.cluster_id").as("cluster_id"))
    for (_ <- 1 until iters) {
      val fresh = assign(cent).join(withM, Seq("vec_id"))
        .select(col("cluster_id"), posexplode(col("mv")).as(Seq("pos", "v")))
        .groupBy("cluster_id", "pos")
        .agg(sum("v").as("sm"), count(lit(1)).as("cnt"))
        .select(col("cluster_id"), col("pos"),
          floor(col("sm").cast("double") / col("cnt").cast("double") + lit(0.5)).as("cd"))
        .groupBy("cluster_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cd")))),
          s => s.getField("cd")).as("cvf"))
      cent = cent.join(fresh, Seq("cluster_id"), "left")
        .select(col("cluster_id"), coalesce(col("cvf"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    (cent, assign(cent))
  }

  private def centroidsOf(df: DataFrame): Map[Int, Seq[Long]] =
    df.collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq).toMap

  private def assignOf(df: DataFrame): Seq[(Long, Int)] =
    df.select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq.sorted

  /** The kernel's centroids and assignment equal the relational plan's. */
  private def assertMatchesRelational(all: DataFrame, k: Int, iters: Int): Unit = {
    val (cent, assign) = relationalLloyd(all, k, iters)
    assert(centroidsOf(Similarity.kmeansCentroidsDet(all, k, iters)) === centroidsOf(cent))
    assert(assignOf(Similarity.kmeansAssignOn(all, k, iters)) === assignOf(assign))
  }

  test("two planted groups separate at k=2 with strided seeds") {
    // n=6, k=2 -> stride 3: seeds are ranks 0 (vec 0, group A) and 3
    // (vec 3, group B); one Lloyd round then a final assignment must
    // recover the planted grouping exactly.
    val c = corpusOf(
      0L -> Seq(1.0, 0.0), 1L -> Seq(0.9, 0.1), 2L -> Seq(1.1, -0.1),
      3L -> Seq(0.0, 1.0), 4L -> Seq(0.1, 0.9), 5L -> Seq(-0.1, 1.1))
    val got = Similarity.kmeansAssignOn(c, k = 2, iters = 2)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 1))
  }

  test("assignment is invariant under input partitioning") {
    val all = Similarity.corpus(spark, sf0001).cache()
    def assignAt(df: DataFrame) = assignOf(Similarity.kmeansAssignOn(df, k = 8, iters = 2))
    val base = assignAt(all)
    assert(base === assignAt(all.repartition(13)))
    assert(base === assignAt(all.repartition(1)))
    all.unpersist()
  }

  test("the kernel matches the relational Lloyd plan on the sf0.001 corpus") {
    val all = Similarity.corpus(spark, sf0001).cache()
    for ((k, iters) <- Seq((8, 1), (8, 2), (16, 3)))
      assertMatchesRelational(all, k, iters)
    all.unpersist()
  }

  test("k-means on an empty corpus: no centroids, no rows, no exception") {
    val empty = corpusOf()
    assertMatchesRelational(empty, k = 8, iters = 2)
    assert(Similarity.kmeansCentroidsDet(empty, k = 8, iters = 2).count() === 0L)
    assert(Similarity.kmeansAssignOn(empty, k = 8, iters = 2).count() === 0L)
  }

  test("k-means with n < k seeds n clusters, one per vector") {
    val c = corpusOf(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(-1.0, 0.0))
    assertMatchesRelational(c, k = 8, iters = 2)
    assert(Similarity.kmeansCentroidsDet(c, k = 8, iters = 2).count() === 3L)
    assert(assignOf(Similarity.kmeansAssignOn(c, k = 8, iters = 2)) ===
      Seq(0L -> 0, 1L -> 1, 2L -> 2))
  }

  test("duplicate vectors spread across partitions assign like the relational plan") {
    // every sf0.001 vector twice (the copy under a fresh vec_id), in
    // seven partitions: the copies tie with their originals on every
    // distance, so the seeds, sums and tie-breaks all see duplicates
    val base = Similarity.corpus(spark, sf0001)
    val all = base.unionByName(base.withColumn("vec_id", col("vec_id") + lit(100000L)))
      .repartition(7).cache()
    assertMatchesRelational(all, k = 8, iters = 3)
    val got = Similarity.kmeansAssignOn(all, k = 8, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((id, c) <- got if id < 100000L) assert(got(id + 100000L) === c, s"copy of $id")
    all.unpersist()
  }

  test("every vector lands on its true argmin centroid (ties to lowest id)") {
    val all = Similarity.corpus(spark, sf0001).cache()
    val cent = Similarity.kmeansCentroidsDet(all, k = 8, iters = 2)
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
    val micros = all.select(col("vec_id"),
        transform(col("vec"), x => floor(x * lit(1e6) + lit(0.5))).as("mv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val got = Similarity.kmeansAssignOn(all, k = 8, iters = 2)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((id, mv) <- micros) {
      val want = cent.toSeq.map { case (cid, cv) =>
        (mv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
      assert(got(id) === want, s"vec $id assigned ${got(id)}, argmin is $want")
    }
    all.unpersist()
  }

  test("clusters that lose every member keep their previous centroid") {
    // 3 identical vectors, k=3, stride 1: all three seeds coincide, so
    // every row ties to cluster 0; clusters 1 and 2 must survive the
    // update (carried centroids), and the centroid table stays k rows.
    val c = corpusOf(0L -> Seq(1.0, 1.0), 1L -> Seq(1.0, 1.0), 2L -> Seq(1.0, 1.0))
    val cent = Similarity.kmeansCentroidsDet(c, k = 3, iters = 2).collect()
    assert(cent.length === 3)
    assert(cent.map(_.getSeq[Long](1)).distinct.length === 1)
    val assign = Similarity.kmeansAssignOn(c, k = 3, iters = 2)
      .select("cluster_id").collect().map(_.getInt(0)).toSet
    assert(assign === Set(0))
  }

  test("SemDeDup keeps exactly one of each planted duplicate, matching the exact rung") {
    val base = Similarity.corpus(spark, sf0001)
    // plant exact copies of vecs 0 and 1 at high ids: identical micros
    // => identical distances => same cluster, cosine 1.0 edge
    val dups = base.filter(col("vec_id") < 2)
      .withColumn("vec_id", col("vec_id") + lit(1000L))
    val all = base.unionByName(dups).cache()
    val clustered = Similarity.semanticKeepClusteredOn(all, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val exact = Similarity.semanticKeepOn(all, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    for (id <- Seq(0L, 1L)) {
      assert(clustered(1000L + id) === ((id, false)),
        s"planted copy of $id not collapsed: ${clustered(1000L + id)}")
      assert(clustered(1000L + id) === exact(1000L + id))
      assert(clustered(id) === exact(id))
    }
    all.unpersist()
  }

  test("ivfDet with nProbe = nlist degenerates to brute force bit-for-bit") {
    val all = Similarity.corpus(spark, sf0001).cache()
    val brute = Similarity.bruteForceTopKOn(all, nQueries = 5, k = 3).collect().toSeq
    val ivf = Similarity.ivfDetTopKOn(all, nQueries = 5, k = 3,
      nlist = 8, nProbe = 8).collect().toSeq
    assert(ivf === brute)
    all.unpersist()
  }
}
