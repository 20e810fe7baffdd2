package graft.similarity

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.Tables
import graft.sources.Layouts
import graft.functions.VectorExpressions

/** Similarity search over the `embeddings` table (builder-prompt north
  * star): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane-LSH bucketed variant as the 100 TB scale path.
  *
  * Scale design:
  *  - Brute force broadcasts the (small) query set against the corpus —
  *    a map-side nested loop, no shuffle of the corpus; the per-query
  *    top-k is a windowed rank over (query, candidate) scores. At 1000
  *    executors this scans the corpus once regardless of query count.
  *  - L2 norms are computed ONCE per side before any join; the join hot
  *    loop does a single dot product per pair (not dot + two norms).
  *  - The LSH variant buckets both sides by the sign pattern of
  *    projections onto deterministic pseudo-random hyperplanes, turning
  *    ANN into an equality join on bucket keys — candidate count drops
  *    from |corpus| to bucket occupancy; more tables = higher recall.
  *    Bucketing is ONE corpus scan (posexplode over the per-table bucket
  *    array), and candidate dedup shuffles only (query_id, cand_id) id
  *    pairs — vectors are re-attached after the distinct, so the shuffle
  *    never carries array payloads.
  *  - Vector math runs through the codegen'd DotProduct expression
  *    (graft.functions.VectorExpressions) — a fused multiply-accumulate
  *    loop with no intermediate array, one tier above the higher-order
  *    zip_with/aggregate forms kept here for portability.
  */
object Similarity {

  /** Higher-order-function forms (portable, no registration needed). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Codegen'd fused dot product (graft.functions.DotProduct) — the hot
    * path used by every query below; same left-to-right summation as
    * the HOF form and DuckDB's list_dot_product, so oracles are
    * unaffected. Callers must have registered the function
    * (VectorExpressions.register, done at each entry point). */
  private def ndot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  private def nl2norm(a: Column): Column = sqrt(ndot(a, a))

  /** (vec_id, vec, norm, label) view of the embeddings table; the norm
    * column is materialized here so downstream joins never recompute it
    * per pair. */
  def corpus(spark: SparkSession, dir: String): DataFrame = {
    VectorExpressions.register(spark)
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"), col("label"))
      .withColumn("norm", nl2norm(col("vec")))
  }

  /** Int8 scalar quantization of the embedding column — the standard
    * memory step before ANN at corpus scale: symmetric per-vector
    * scale (maxabs/127), 4× smaller than float32 (100 TB of raw
    * embeddings → 25 TB resident), with cosine ranking preserved to
    * within quantization noise. Pure HOFs (transform/aggregate), no
    * UDF; `dequantized` rebuilds a (vec_id, vec, norm) corpus that
    * drops into every ANN operator above unchanged. */
  def quantizeInt8(all: DataFrame): DataFrame =
    all.withColumn("maxabs",
        expr("aggregate(vec, 0D, (acc, x) -> greatest(acc, abs(x)))"))
      .withColumn("scale",
        when(col("maxabs") > 0, col("maxabs") / 127.0).otherwise(lit(1.0)))
      .select(col("vec_id"), col("label"), col("scale"),
        expr("transform(vec, x -> CAST(round(x / scale) AS TINYINT))").as("qvec"))

  /** Reconstructed float corpus from int8 codes: vec ≈ qvec · scale. */
  def dequantized(quant: DataFrame): DataFrame =
    quant.select(col("vec_id"), col("label"),
        expr("transform(qvec, x -> CAST(x AS DOUBLE) * scale)").as("vec"))
      .withColumn("norm", nl2norm(col("vec")))

  /** Exact top-k over the int8-reconstructed corpus — the memory-scale
    * baseline; SimilaritySpec bounds its recall against the float
    * brute force. */
  def quantizedTopK(spark: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 3): DataFrame =
    bruteForceTopKOn(dequantized(quantizeInt8(corpus(spark, dir))), nQueries, k)

  /** Exact brute-force cosine top-k over an arbitrary (vec_id, vec,
    * norm) corpus: queries = the `nQueries` lowest vec_ids. */
  def bruteForceTopKOn(all: DataFrame, nQueries: Int = 5, k: Int = 3): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val cand = all.select(col("vec_id").as("cand_id"), col("vec").as("cv"), col("norm").as("cn"))
    val scored = cand.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  def bruteForceTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3): DataFrame =
    bruteForceTopKOn(corpus(spark, dir), nQueries, k)

  /** Filtered ANN — metadata-predicated top-k, the "filtered search"
    * mode every vector store needs ("nearest neighbors among lang=en
    * docs only"): the candidate set is pre-filtered by an id join to
    * the documents metadata BEFORE any distance math, so the predicate
    * reaches the scan and the scored relation shrinks by the filter's
    * selectivity. Exact on the surviving candidates, hence fully
    * oracled (the approximate rungs compose the same way: filter the
    * candidate relation, keep the index probes). vec_id and doc_id
    * identify the same entities in the testdata. */
  def filteredTopK(spark: SparkSession, dir: String, lang: String = "en",
                   nQueries: Int = 5, k: Int = 3): DataFrame = {
    val all = corpus(spark, dir)
    val keep = Tables(spark, dir, "documents")
      .filter(col("lang") === lang)
      .select(col("doc_id").as("cand_id"))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val cand = all
      .select(col("vec_id").as("cand_id"), col("vec").as("cv"), col("norm").as("cn"))
      .join(keep, "cand_id")
    val scored = cand.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val byCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim),
    * mapped to [-1, 1): splitmix64 finalizer (public-domain bit mixer).
    * No RNG state → identical buckets on every executor and every run.
    * Delegates to the shared definition in VectorExpressions — the
    * fused LshBuckets expression and the det-rung oracle literals use
    * the same family by construction. */
  private def planeComponent(plane: Int, dim: Int): Double =
    VectorExpressions.planeComponent(plane, dim)

  /** Sign-pattern bucket key for LSH table `tableIdx`: nPlanes sign bits
    * packed into a long — the DECLARATIVE single-table form, kept as
    * the readable reference the fused expression is pinned against
    * (SimilaritySpec parity). Production paths call [[allBuckets]]:
    * at production plane counts this form is ~nTables × nPlanes
    * independent when(dot)-subtrees, which blows the codegen budget
    * and drops the projection to interpreted eval (the 52.9 s of
    * 57.6 s bucket explode, BASELINE round 16). */
  def lshBucket(vec: Column, tableIdx: Int, nPlanes: Int, dims: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val coeffs = array((0 until dims).map(d =>
        lit(planeComponent(tableIdx * nPlanes + p, d))): _*)
      when(ndot(vec, coeffs) >= 0, 1L << p).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** All nTables bucket keys in one fused codegen loop (array element
    * t = table t's bucket) — see graft.functions.LshBuckets. */
  def allBuckets(vec: Column, nPlanes: Int, nTables: Int, dims: Int): Column =
    call_function("graft_lsh_buckets", vec, lit(nPlanes), lit(nTables), lit(dims))

  /** (id, tbl, bucket) rows — one row per LSH table per vector, from a
    * SINGLE scan (posexplode of the bucket array), id-only so the band
    * join below never shuffles vectors. */
  private def bucketIds(df: DataFrame, idAlias: String,
                        nPlanes: Int, nTables: Int, dims: Int): DataFrame = {
    VectorExpressions.register(df.sparkSession)
    df.select(
      col("vec_id").as(idAlias),
      posexplode(allBuckets(col("vec"), nPlanes, nTables, dims)).as(Seq("tbl", "bucket")))
  }

  /** ANN via hyperplane LSH: bucket corpus and queries under `nTables`
    * independent hyperplane families; equality-join on (table, bucket);
    * dedup candidate id pairs; exact cosine re-rank on the deduped set.
    * Recall < 1 by construction; SimilaritySpec bounds recall against
    * bruteForceTopKOn (0.60 measured at the 4-plane/8-table default on
    * the sf0.001 corpus; denser/larger corpora warrant more planes per
    * table to keep buckets selective). */
  def lshTopKOn(all: DataFrame, nQueries: Int = 5, k: Int = 3,
                nPlanes: Int = 4, nTables: Int = 8, dims: Int = 64): DataFrame = {
    val qb = bucketIds(all.filter(col("vec_id") < nQueries), "query_id", nPlanes, nTables, dims)
    val cb = bucketIds(all, "cand_id", nPlanes, nTables, dims)
    val candIds = cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val q = all.select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val c = all.select(col("vec_id").as("cand_id"), col("vec").as("cv"), col("norm").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    candIds
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  def lshTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
              nPlanes: Int = 4, nTables: Int = 8, dims: Int = 64): DataFrame =
    lshTopKOn(corpus(spark, dir), nQueries, k, nPlanes, nTables, dims)

  /** DuckDB replay of [[lshTopKOn]] at its FIXED default resolution
    * (4 planes × 8 tables): the deterministic hyperplane coefficients
    * are interpolated as SQL literals (Double.toString round-trips
    * bit-exactly; DuckDB parses correctly rounded), so the oracle
    * reproduces the sign-pattern bucketing — and hence the candidate
    * set and the exact re-rank — bit-for-bit. This upgrades the LSH
    * top-k from rows-only to fully oracled. Only legitimate at FIXED
    * resolution: the occupancy-auto-scaled operators (emb_near_dup,
    * emb_semantic_keep_lsh) derive their plane count from the corpus
    * size, so a literal-coefficient oracle would silently pin the
    * resolution the round-7 probe proved must float — they stay
    * rows-only with recall/parity specs instead. */
  def lshOracleSql(nQueries: Int = 5, k: Int = 3, nPlanes: Int = 4,
                   nTables: Int = 8, dims: Int = 64): String = {
    def lits(plane: Int): String =
      (0 until dims).map(d => planeComponent(plane, d).toString).mkString("[", ", ", "]")
    val tableSelects = (0 until nTables).map { t =>
      val bits = (0 until nPlanes).map { p =>
        s"(CASE WHEN list_dot_product(v, ${lits(t * nPlanes + p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("\n    + ")
      s"  SELECT vec_id, $t AS tbl,\n    $bits AS bucket FROM n"
    }.mkString("\n  UNION ALL\n")
    s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM c),
       |b AS MATERIALIZED (
       |$tableSelects),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, cb.vec_id AS cand_id
       |  FROM b q JOIN b cb ON q.tbl = cb.tbl AND q.bucket = cb.bucket
       |  WHERE q.vec_id < $nQueries AND q.vec_id <> cb.vec_id),
       |scored AS (
       |  SELECT cand.query_id, cand.cand_id,
       |    list_dot_product(qv.v, cv.v) / (qv.nm * cv.nm) AS cos
       |  FROM cand JOIN n qv ON qv.vec_id = cand.query_id
       |  JOIN n cv ON cv.vec_id = cand.cand_id)
       |SELECT query_id, rank, cand_id, round(cos, 4) AS cos_sim FROM (
       |  SELECT query_id, cand_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** nlist ≈ 4√n, the standard IVF re-listing rule, clamped so every
    * list keeps ≥ ~32 vectors (k-means with more centroids than the
    * data supports degenerates) and floored at the historical 16 so
    * small corpora — every driver testdata scale — resolve to exactly
    * the pre-auto behavior. With nlist FIXED, per-list occupancy (and
    * so per-query scoring cost at fixed nProbe) grows linearly with
    * the corpus; under this rule it grows as √n/4 — the documented
    * IVF trade. The same auto-scaling move as LSH's occupancy-scaled
    * planes (cosineNearDupPairsOn) and SimHash's corpus-scaled blocks
    * (Dedup.simhashPairs). */
  def autoNlist(n: Long): Int =
    math.max(16, math.min(4.0 * math.sqrt(n.toDouble), n / 32.0).toInt)

  /** Coarse k-means centroids from a bounded deterministic sample (the
    * pqCodebooks pattern): spark.ml k-means is multi-pass, and nlist
    * centroids need distribution COVERAGE, not every row — fitting on
    * the full corpus would be ~20 extra full scans at 100 TB just to
    * build the centroid table. Sampling by hash rank, not id rank: on
    * a real corpus vec_id correlates with ingest time / shard, so the
    * head of the id space can miss whole modes; the xxhash64 order is
    * seed-stable yet spread uniformly across ids. The sample grows
    * with nlist (≥ 32 rows per centroid) so auto-scaled list counts
    * stay trained; at the historical nlist=16 it is the historical
    * 2000 — centroids (and every oracle/spec anchored to them) are
    * unchanged. */
  private def kmeansCentroids(all: DataFrame, nlist: Int): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = all.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(math.max(2000, 32 * nlist))
      .select(array_to_vector(col("vec")).as("features")).cache()
    try new KMeans().setK(nlist).setSeed(0L).setFeaturesCol("features")
      .fit(train).clusterCenters.map(_.toArray)
    finally train.unpersist()
  }

  /** IVF (inverted-file) ANN — the k-means coarse-quantizer scale path
    * (the FAISS IVF-Flat shape): train centroids (`nlist`, or ≈ 4√n
    * auto when <= 0), assign every corpus vector to its nearest
    * centroid in one scan (the inverted lists are simply a partitioning
    * of the corpus by list_id), rank lists per query by centroid L2
    * distance and probe the nearest `nProbe`, then exact-cosine re-rank
    * inside the probed lists only.
    *
    * Scale design: the centroid table constant-folds to one broadcast
    * literal; the probe step shuffles only (query_id, list_id); the
    * candidate join is an equality join on list_id touching
    * nProbe/nlist of the corpus. Recall grows with nProbe, and
    * nProbe = nlist degenerates to exact brute force (SimilaritySpec
    * asserts bit-equality with bruteForceTopKOn in that limit). */
  def ivfTopKOn(all: DataFrame, nQueries: Int = 5, k: Int = 3,
                nlist: Int = 0, nProbe: Int = 4,
                trained: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = all.sparkSession
    VectorExpressions.register(spark)
    val cent = trained.getOrElse {
      val lists = if (nlist > 0) nlist else autoNlist(all.count())
      kmeansCentroids(all, lists)
    }
    // Centroids as a broadcast RELATION, not a plan literal: at the
    // auto rule nlist = 4√n, the literal form folds nlist×dims
    // doubles into one expression tree — past the 64 KB codegen limit
    // Spark evaluates it INTERPRETED per corpus row, which the
    // round-12 100× anchor measured at 418.8 s (vs 10.1 s for the
    // broadcast-join det rung at the same scale). The join form keeps
    // the identical math — same sequential-fold distances, min
    // (d, list_id) ≡ first-min tie-break — in a codegen'd hash join
    // plus a two-scalar argmin aggregation (the n×nlist joined rows
    // reduce to two scalars before the argmin, never carrying the
    // vector payload).
    import spark.implicits._
    val centDf = cent.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "cv")
    val assign = all.crossJoin(broadcast(centDf))
      .select(col("vec_id"), col("list_id"), l2sqCol(col("vec"), col("cv")).as("d"))
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("list_id"))).as("b"))
      .select(col("vec_id"), col("b.list_id").as("list_id"))
    val assigned = assign.join(all, Seq("vec_id"))
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("dist"), col("list_id"))
    val probed = q.select("query_id", "qv").crossJoin(broadcast(centDf))
      .withColumn("dist", l2sqCol(col("qv"), col("cv")))
      .select(col("query_id"), col("list_id"), col("dist"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "list_id")
    val cands = probed
      .join(assigned.select(col("vec_id").as("cand_id"), col("list_id"),
        col("vec").as("cv"), col("norm").as("cn")), Seq("list_id"))
      .filter(col("query_id") =!= col("cand_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    cands
      .join(broadcast(q.select("query_id", "qv", "qn")), Seq("query_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Coarse-centroid memo for the IVF driver surface (the ivfpqCache
    * pattern: same immutable-dir contract and bound): training is a
    * layout decision, not per-query work — with nlist auto-scaled to
    * 4√n, re-fitting k-means per execution would charge every query
    * the index-build cost the auto rule deliberately grows. */
  private val ivfCentCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Array[Array[Double]]]

  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
              nlist: Int = 0, nProbe: Int = 4): DataFrame = {
    if (ivfCentCache.size >= PqCacheMax) ivfCentCache.clear()
    val all = corpus(spark, dir)
    val cent = ivfCentCache.getOrElseUpdate((dir, nlist), {
      val lists = if (nlist > 0) nlist else autoNlist(all.count())
      kmeansCentroids(all, lists)
    })
    ivfTopKOn(all, nQueries, k, nlist, nProbe, Some(cent))
  }

  /** Product quantization (PQ) top-k — the last rung of the ANN memory
    * ladder (float32 → int8 SQ → PQ): the vector splits into `m`
    * subspaces, each k-means-quantized to `ksub` centroids (seed = the
    * subspace index, deterministic), so a vector stores as m code
    * bytes — 64 dims × 4 B → 16 B here (16×). The synthetic corpus is
    * near-isotropic (the PQ worst case: 16 centroids capture ~69% of a
    * 4-dim subspace's energy, vs far more on real embeddings whose
    * intrinsic dimension is low), so the spec's recall bound is the
    * honest worst-case number, not the headline one. Queries score candidates
    * with the classic ADC trick: per (query, subspace) a lookup table
    * of dots against that subspace's centroids, so a candidate's
    * approximate dot is m table lookups on its codes — no float vector
    * is ever read at query time. Exact norms are kept (the usual
    * IVF-PQ bookkeeping) so the ranking metric stays cosine-shaped.
    * Codebook training is m tiny k-means fits (driver loop over m —
    * bounded by the subspace count, not data). Approximate by nature →
    * rows-only; SimilaritySpec bounds recall vs brute force. */
  def pqTopKOn(all: DataFrame, nQueries: Int = 5, k: Int = 3,
               m: Int = 16, ksub: Int = 16): DataFrame =
    pqTopKWith(all, pqCodebooks(all, m, ksub), nQueries, k)

  /** The m independent PQ codebooks, fit on a bounded deterministic
    * sample (codebooks need distribution COVERAGE, not every row — the
    * same rule as the IVF coarse quantizer), with the sliced feature
    * table cached across the m fits. Training is the one-time half of
    * PQ, amortized over the corpus life in a real pipeline — callers
    * that query repeatedly (Bench reps, a serving loop) should train
    * once and reuse via pqTopKWith / the memoizing pqTopK. */
  def pqCodebooks(all: DataFrame, m: Int = 16, ksub: Int = 16,
                  sampleN: Int = 2000): Seq[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = all.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    // hash-rank sample, not id-rank: see ivfTopKOn's train comment
    val train = all.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN)
      .select((0 until m).map(j =>
        array_to_vector(slice(col("vec"), j * sub + 1, sub)).as(s"f$j")): _*)
      .cache()
    try (0 until m).map { j =>
      new KMeans().setK(ksub).setSeed(j.toLong).setFeaturesCol(s"f$j")
        .fit(train).clusterCenters.map(_.toArray)
    } finally train.unpersist()
  }

  /** PQ encode + ADC scoring against pre-trained codebooks — the
    * query-time half of PQ (see pqTopKOn's doc for the algorithm). */
  def pqTopKWith(all: DataFrame, books: Seq[Array[Array[Double]]],
                 nQueries: Int = 5, k: Int = 3): DataFrame = {
    val m = books.size
    val dim = all.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    def bookCol(j: Int): Column =
      array(books(j).map(c => array(c.map(lit): _*)): _*)
    val l2sq = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
    // encode: per subspace, the argmin-distance centroid index
    val coded = (0 until m).foldLeft(all) { (df, j) =>
      val dists = transform(bookCol(j), c => l2sq(slice(col("vec"), j * sub + 1, sub), c))
      df.withColumn(s"code$j",
        (array_position(dists, array_min(dists)) - 1).cast("int"))
    }.select(col("vec_id"), col("norm"), array((0 until m).map(j => col(s"code$j")): _*).as("codes"))
      .localCheckpoint() // terminal code table; drops the float vectors
    // per-query ADC lookup tables: lut(j)(c) = dot(q_j, centroid_{j,c})
    val luts = (0 until m).foldLeft(
        all.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))) {
      (df, j) =>
        df.withColumn(s"lut$j",
          transform(bookCol(j), c => ndot(slice(col("qv"), j * sub + 1, sub), c)))
    }.select(col("query_id"), col("qn"),
      array((0 until m).map(j => col(s"lut$j")): _*).as("lut"))
    // score = Σ_j lut(j)(code_j), normalized by the EXACT norms
    val scored = coded.select(col("vec_id").as("cand_id"), col("norm").as("cn"), col("codes"))
      .crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("dot_adc",
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, j) => acc + element_at(element_at(col("lut"), j + 1), col("codes")(j) + 1)))
      .withColumn("cos", col("dot_adc") / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Codebooks memoized per (dir, m, ksub) so the driver-surface
    * emb_pq_topk query measures what a serving path pays — corpus
    * encode + ADC scoring — not m k-means re-fits per bench rep.
    * ASSUMES the data under `dir` is immutable for the JVM's lifetime
    * (true for the driver's read-only testdata and any production
    * immutable-snapshot layout); rewriting a dir in-process must go
    * through pqCodebooks/pqTopKWith directly. Size-bounded: a full
    * clear past `PqCacheMax` entries keeps a long-lived session from
    * accumulating codebooks for dead dirs (each entry is m·ksub·sub
    * doubles — small, but unbounded growth is still a leak). */
  private val PqCacheMax = 8
  private val pqBookCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Seq[Array[Array[Double]]]]

  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
             m: Int = 16, ksub: Int = 16): DataFrame = {
    if (pqBookCache.size >= PqCacheMax) pqBookCache.clear()
    val books = pqBookCache.getOrElseUpdate((dir, m, ksub),
      pqCodebooks(corpus(spark, dir), m, ksub))
    pqTopKWith(corpus(spark, dir), books, nQueries, k)
  }

  // ---------- IVFADC: IVF list pruning × PQ residual codes ----------

  private def booksLit(books: Seq[Array[Array[Double]]], j: Int): Column =
    array(books(j).map(c => array(c.map(lit): _*)): _*)

  private def l2sqCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Relational coarse assignment: argmin-L2 list over broadcast
    * centroid literals (first-min tie-break — deterministic). The same
    * expression serves training (residual computation) and query-time
    * encode, so no model object outlives training. */
  private def assignLists(df: DataFrame, cent: Array[Array[Double]]): DataFrame = {
    val centLit = array(cent.map(c => array(c.map(lit): _*)): _*)
    val dists = transform(centLit, c => l2sqCol(col("vec"), c))
    df.withColumn("list_id", (array_position(dists, array_min(dists)) - 1).cast("int"))
  }

  /** IVFADC training (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search"): nlist coarse centroids from a bounded hash-rank
    * sample, then m PQ codebooks fit on RESIDUALS x − c_list(x) — the
    * residual energy is what the codes must capture once the list
    * centroid absorbs the coarse structure.
    *
    * nlist is the corpus-scale dial (the fixed-resolution caveat of
    * PLANS.md applies): with nlist fixed, per-list occupancy — and so
    * per-query scoring cost — grows linearly with the corpus. nlist
    * <= 0 applies the ≈ 4√n auto rule (autoNlist, with the training
    * sample grown to ≥ 32·nlist rows by kmeansCentroids); re-listing
    * remains a training-time layout decision — it happens when an
    * index is (re)built, never per query. */
  def ivfpqTrain(all: DataFrame, nlist: Int = 0, m: Int = 16,
                 ksub: Int = 16): (Array[Array[Double]], Seq[Array[Array[Double]]]) = {
    val lists = if (nlist > 0) nlist else autoNlist(all.count())
    val cent = kmeansCentroids(all, lists)
    val resid = assignLists(all, cent)
      .withColumn("rvec", zip_with(col("vec"),
        element_at(array(cent.map(c => array(c.map(lit): _*)): _*), col("list_id") + 1),
        (x, c) => x - c))
    (cent, pqCodebooks(resid.select(col("vec_id"), col("rvec").as("vec")), m, ksub))
  }

  /** IVFADC query path — the standard serving shape at corpus scales
    * where neither a full code scan (plain PQ) nor full-width vectors
    * (IVF-Flat) fit the budget: each vector stores as (list_id, m
    * residual codes); dot(q, x) ≈ dot(q, c_list) + Σ_j lut_j[code_j],
    * where the LUTs are over RESIDUAL centroids — one LUT set per query
    * serves every probed list, and the list-dependent term is the
    * scalar q·c the probe ranking computes anyway. Scoring touches
    * ~nProbe/nlist of the code table and never reads a float vector.
    * Exact norms normalize, keeping the metric cosine-shaped
    * (pqTopKOn's bookkeeping). Approximate by nature → rows-only;
    * SimilaritySpec bounds recall vs brute force. */
  /** Residual PQ encode — the PERSISTED half of IVFADC: one corpus
    * scan producing (cand_id, list_id, cn, codes). This is the
    * relation `ivfpqBuildIndex` writes once, bucketed by list_id, so
    * serving never re-runs it. */
  def ivfpqEncode(all: DataFrame, cent: Array[Array[Double]],
                  books: Seq[Array[Array[Double]]]): DataFrame = {
    val m = books.size
    val dim = all.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val centLit = array(cent.map(c => array(c.map(lit): _*)): _*)
    (0 until m).foldLeft(
        assignLists(all, cent).withColumn("rvec",
          zip_with(col("vec"), element_at(centLit, col("list_id") + 1), (x, c) => x - c))) {
      (df, j) =>
        val dists = transform(booksLit(books, j), c => l2sqCol(slice(col("rvec"), j * sub + 1, sub), c))
        df.withColumn(s"code$j", (array_position(dists, array_min(dists)) - 1).cast("int"))
    }.select(col("vec_id").as("cand_id"), col("list_id"), col("norm").as("cn"),
      array((0 until m).map(j => col(s"code$j")): _*).as("codes"))
  }

  /** ADC-only scoring over an ALREADY-ENCODED code table — the
    * query-time half of IVFADC; together with a persisted code table
    * this is the serving steady state: per query, LUT construction
    * over m·ksub residual centroids, list probing over nlist coarse
    * centroids, and m table lookups per candidate in the probed
    * lists. No float corpus vector is read and the code table is
    * never re-encoded.
    *
    * `queries` is a (query_id, qv, qn) relation — bounded by the
    * query batch, not the corpus. With `pruneScan` the probed list
    * ids (nQueries × nProbe values, known before any corpus work) are
    * collected and pushed into the code-table scan as a list_id IN
    * filter — against the bucketed+sorted layout ivfpqBuildIndex
    * writes, bucket pruning and row-group stats skip unprobed data on
    * disk, so a query reads ~nProbe/nlist of the index. */
  def ivfpqServe(coded: DataFrame, queries: DataFrame, cent: Array[Array[Double]],
                 books: Seq[Array[Array[Double]]], k: Int = 3, nProbe: Int = 8,
                 pruneScan: Boolean = false): DataFrame = {
    VectorExpressions.register(coded.sparkSession)
    val m = books.size
    val dim = queries.select(size(col("qv"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val centLit = array(cent.map(c => array(c.map(lit): _*)): _*)
    // per-query residual-centroid LUTs + top-nProbe lists with their q·c
    val luts = (0 until m).foldLeft(queries) { (df, j) =>
      df.withColumn(s"lut$j",
        transform(booksLit(books, j), c => ndot(slice(col("qv"), j * sub + 1, sub), c)))
    }.select(col("query_id"), col("qn"), col("qv"),
      array((0 until m).map(j => col(s"lut$j")): _*).as("lut"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("dist"), col("list_id"))
    val probed = luts
      .withColumn("cl", explode(transform(centLit, (c, i) =>
        struct(i.cast("int").as("list_id"), l2sqCol(col("qv"), c).as("dist"),
          ndot(col("qv"), c).as("qdotc")))))
      .select(col("query_id"), col("qn"), col("lut"),
        col("cl.list_id"), col("cl.dist"), col("cl.qdotc"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qn", "lut", "list_id", "qdotc")
    // candidates from probed lists only; the probed relation is
    // nQueries × nProbe rows — broadcast it so the code table never
    // shuffles. pruneScan additionally turns the probed list set into
    // a scan-side IN filter (bucket/row-group pruning on disk); it
    // never changes results — the join key set is identical.
    val scan =
      if (pruneScan) {
        val probedLists = probed.select("list_id").distinct()
          .collect().map(_.getInt(0)).sorted
        coded.filter(col("list_id").isin(probedLists.map(Integer.valueOf): _*))
      } else coded
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scan.join(broadcast(probed), Seq("list_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("dot_adc",
        col("qdotc") + aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, j) => acc + element_at(element_at(col("lut"), j + 1), col("codes")(j) + 1)))
      .withColumn("cos", col("dot_adc") / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** (query_id, qv, qn) batch: the `nQueries` lowest vec_ids. */
  private def queriesOf(all: DataFrame, nQueries: Int): DataFrame =
    all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))

  def ivfpqTopKWith(all: DataFrame, cent: Array[Array[Double]],
                    books: Seq[Array[Array[Double]]], nQueries: Int = 5, k: Int = 3,
                    nProbe: Int = 8): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    // float vectors drop at the checkpointed terminal code table, as
    // in pqTopKWith
    val coded = ivfpqEncode(all, cent, books).localCheckpoint()
    ivfpqServe(coded, queriesOf(all, nQueries), cent, books, k, nProbe)
  }

  def ivfpqTopKOn(all: DataFrame, nQueries: Int = 5, k: Int = 3, nlist: Int = 0,
                  nProbe: Int = 8, m: Int = 16, ksub: Int = 16): DataFrame = {
    val (cent, books) = ivfpqTrain(all, nlist, m, ksub)
    ivfpqTopKWith(all, cent, books, nQueries, k, nProbe)
  }

  /** Training artifacts memoized per (dir, nlist, m, ksub) under the
    * same immutable-dir assumption and size bound as pqBookCache, so
    * the driver-surface query measures assignment + encode + ADC — the
    * serving-path steady state. */
  private val ivfpqCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int, Int), (Array[Array[Double]], Seq[Array[Array[Double]]])]

  def ivfpqTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
                nlist: Int = 0, nProbe: Int = 8, m: Int = 16, ksub: Int = 16): DataFrame = {
    if (ivfpqCache.size >= PqCacheMax) ivfpqCache.clear()
    val (cent, books) = ivfpqCache.getOrElseUpdate((dir, nlist, m, ksub),
      ivfpqTrain(corpus(spark, dir), nlist, m, ksub))
    ivfpqTopKWith(corpus(spark, dir), cent, books, nQueries, k, nProbe)
  }

  // ---------- persisted IVFADC serving layout ----------

  /** One-time IVFADC index build — the serving layout: train (nlist
    * auto-scaled unless given), residual-encode the corpus ONCE, and
    * persist three tables in the session catalog:
    *   {prefix}_codes      (cand_id, list_id, cn, codes) — bucketed
    *                       AND sorted by list_id, so queries prune to
    *                       their probed buckets/row-groups on disk;
    *   {prefix}_centroids  (list_id, cvec) — nlist rows;
    *   {prefix}_books      (subspace, code, cvec) — m·ksub rows.
    * After this, a query pays LUT construction + ADC over
    * ~nProbe/nlist of the code table — the corpus-proportional
    * encode cost moves out of the query path entirely (it was the
    * documented 12× linear profile in the round-7 10× probe). The
    * code table's bucket count content-scales from its row count
    * ([[Layouts.save]]). */
  def ivfpqBuildIndex(all: DataFrame, prefix: String, nlist: Int = 0, m: Int = 16,
                      ksub: Int = 16): Unit = {
    val spark = all.sparkSession
    import spark.implicits._
    val (cent, books) = ivfpqTrain(all, nlist, m, ksub)
    Layouts.save(ivfpqEncode(all, cent, books).localCheckpoint(), s"${prefix}_codes",
      Some("list_id"))
    Layouts.save(cent.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "cvec"), s"${prefix}_centroids")
    Layouts.save(books.zipWithIndex.flatMap { case (b, j) =>
        b.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) } }.toSeq
      .toDF("subspace", "code", "cvec"), s"${prefix}_books")
  }

  /** IVFADC over the PERSISTED index — the serving path: builds the
    * index on first use per (dir, params) (the same immutable-dir
    * contract as pqBookCache; the catalog is the memo), then every
    * query reads centroids + codebooks (nlist and m·ksub rows — tiny)
    * and ADC-scans only the probed buckets of the code table. Bit-
    * identical to the in-memory ivfpqTopKWith under the same trained
    * artifacts (SimilaritySpec asserts it): parquet round-trips
    * doubles and ints exactly, and serve-side expressions are shared
    * code. */
  /** Read the frozen centroid/codebook artifacts back from an index's
    * side tables (nlist and m·ksub rows — driver-safe by contract). */
  def readIndexArtifacts(spark: SparkSession, prefix: String):
      (Array[Array[Double]], Seq[Array[Array[Double]]]) = {
    val cent = spark.table(s"${prefix}_centroids").orderBy("list_id").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cvec").toArray)
    val books = spark.table(s"${prefix}_books").orderBy("subspace", "code").collect()
      .groupBy(_.getAs[Int]("subspace")).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getAs[Int]("code"))
          .map(_.getAs[scala.collection.Seq[Double]]("cvec").toArray) }
    (cent, books)
  }

  /** Serve top-k from a persisted index by prefix: read-back artifacts
    * + ADC over the probed buckets of the catalog code table. */
  def ivfpqServeIndex(spark: SparkSession, prefix: String, queries: DataFrame,
                      k: Int = 3, nProbe: Int = 8): DataFrame = {
    VectorExpressions.register(spark)
    val (cent, books) = readIndexArtifacts(spark, prefix)
    ivfpqServe(spark.table(s"${prefix}_codes"), queries,
      cent, books, k, nProbe, pruneScan = true)
  }

  /** Incremental index maintenance — the append path a live corpus
    * needs: residual-encode ONLY the delta with the index's FROZEN
    * artifacts (centroids/codebooks are immutable once built — the
    * standard serving contract; retraining is a rebuild under a new
    * prefix) and append into the bucketed code table. Spark validates
    * the bucketing spec against the catalog, so appended codes land in
    * the same list_id hash layout and the probed-bucket pruning keeps
    * working. Cost is O(|delta|), never O(corpus) — the whole point of
    * the persisted layout. */
  def ivfpqAppend(spark: SparkSession, prefix: String, delta: DataFrame): Unit = {
    val (cent, books) = readIndexArtifacts(spark, prefix)
    Layouts.save(ivfpqEncode(delta, cent, books), s"${prefix}_codes", Some("list_id"),
      append = true)
  }

  /** Ensure the persisted IVFADC index for `dir` exists in the catalog
    * and return its prefix — the handle batch AND streaming serving
    * callers probe (build-once contract; see ivfpqBuildIndex). The
    * prefix carries the content fingerprint of embeddings.parquet and
    * the parameters, so an in-place testdata regeneration builds a fresh
    * index rather than serve stale frozen codebooks. A DIFFERENT
    * (nlist, m, ksub) on the same data also reads as superseded and is
    * pruned: parameter sets don't coexist per dir, which matches the
    * serving contract (retrain = rebuild under a new fingerprint). */
  def ensureIndex(spark: SparkSession, dir: String, nlist: Int = 0,
                  m: Int = 16, ksub: Int = 16): String = {
    val fp = Tables.dataFingerprint(s"$dir/embeddings.parquet")
    Layouts.ensure(spark, "graft_ivfpq", dir, s"$dir|$fp|$nlist|$m|$ksub",
        Seq("_codes", "_centroids", "_books")) {
      ivfpqBuildIndex(corpus(spark, dir), _, nlist, m, ksub)
    }
  }

  def ivfpqServedTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
                      nProbe: Int = 8, nlist: Int = 0, m: Int = 16, ksub: Int = 16): DataFrame = {
    val prefix = ensureIndex(spark, dir, nlist, m, ksub)
    ivfpqServeIndex(spark, prefix, queriesOf(corpus(spark, dir), nQueries), k, nProbe)
  }

  /** Per-label embedding stats: mean L2 norm and count — oracle-checkable
    * sanity surface for the vector math. */
  def normStats(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg("norm"), 4).as("avg_l2_norm"))
      .orderBy("label")

  /** Exact-vector duplicate collapse — the embedding twin of the text
    * side's signature collapse (round-13 duplicate-degeneracy fix,
    * VERDICT r12 #2): bucket and cell assignment are pure functions of
    * the vector, so hyperplane depth can NEVER split a template
    * duplicated d times — identical vectors land in the same bucket of
    * every table at every resolution and the within-bucket pair
    * explode goes Θ(d²) in duplicate multiplicity. Collapse to the
    * min-id representative per distinct vector BEFORE bucketing and
    * emit the O(d) keeper star instead (cosine(v, v) = 1 by
    * definition, above any threshold). A member collides with an
    * outside vector iff its representative does, so the edge set is
    * transitive-closure equivalent and keep decisions are unchanged.
    * The grouping key is the raw non-id columns themselves (array
    * equality is element-wise — exact, no digest), so the keeper
    * aggregate row IS the representative row: no join back for reps,
    * and the map-side combine shuffles one partial per distinct
    * vector per map partition (the round-13 md5-of-rendered-vector
    * key paid a 64-double string render + digest per consumer of the
    * lazy projection and executed the fat join twice — measured
    * +31-45% on clean corpora across the collapse family, BASELINE
    * round 14). The star join shuffles a 128-bit vector fingerprint
    * (two seeded xxhash64 over the raw array, 16 bytes) instead of
    * the vector. Returns (representatives — checkpointed, they feed
    * the bucket explode and both exact-cosine join sides — and star
    * pairs (vec_a = keeper, vec_b = member)). */
  private def collapseExactVectors(all: DataFrame): (DataFrame, DataFrame) = {
    val others = all.columns.filterNot(_ == "vec_id")
    val reps = all.groupBy(others.map(col).toIndexedSeq: _*)
      .agg(min(col("vec_id")).as("vec_id"))
      .select(all.columns.map(col).toIndexedSeq: _*)
      .localCheckpoint()
    def fp(df: DataFrame): DataFrame = df
      .withColumn("__h1", xxhash64(col("vec")))
      .withColumn("__h2", xxhash64(lit("graft:vec2"), col("vec")))
    val stars = fp(all).select(col("vec_id"), col("__h1"), col("__h2"))
      .join(fp(reps).select(col("vec_id").as("__keeper"), col("__h1"), col("__h2")),
        Seq("__h1", "__h2"))
      .filter(col("vec_id") =!= col("__keeper"))
      .select(col("__keeper").as("vec_a"), col("vec_id").as("vec_b"))
    (reps, stars)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold: LSH
    * candidate generation (id pairs only) + exact cosine re-check — the
    * embedding leg of the dedup suite (see graft.dedup.Dedup for the
    * text legs). Runs over one representative per DISTINCT vector
    * ([[collapseExactVectors]]); duplicate groups surface as keeper
    * stars at cosine 1.0 in O(d), never the Θ(d²) clique. */
  def cosineNearDupPairsOn(all: DataFrame, threshold: Double = 0.95,
                           nPlanes: Int = 0, nTables: Int = 8, dims: Int = 64): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    // Bucket ONCE, then emit i<j pairs within each bucket from a sorted
    // id list (higher-order functions) — halves the hyperplane work vs
    // a two-sided self-join and removes its shuffle. A pathologically
    // hot bucket is quadratic either way; nPlanes controls occupancy.
    //
    // nPlanes <= 0 -> AUTO-scale to the corpus: with a FIXED plane
    // count, bucket occupancy grows ~n/2^planes, so within-bucket
    // pairing is O(n²) — the round-7 10× scale probe measured 69×
    // runtime at 10× rows before this. Doubling buckets per corpus
    // doubling (target occupancy ~32 per table) keeps candidate pairs
    // ~n·occupancy — linear. Near-identical vectors (the ≥threshold
    // pairs this operator exists for) collide on nearly every plane,
    // so recall stays high as planes grow; nTables hedges the rest.
    // The count() is a column-pruned metadata-cheap scan, the standard
    // "know your corpus" step before choosing an LSH resolution.
    val (reps, stars) = collapseExactVectors(all)
    val planes = if (nPlanes > 0) nPlanes else {
      // occupancy is a property of DISTINCT vectors (duplicates are
      // already star-collapsed); reps is checkpointed, so this count
      // is free of the collapse pipeline
      val n = reps.count()
      math.max(4, math.ceil(math.log(math.max(n, 1L) / 32.0) / math.log(2.0)).toInt)
    }
    // Exact-cosine verify runs INSIDE the bucket (round 16): vectors
    // shuffle once into their buckets (nTables × n fat rows) and every
    // candidate-pair row downstream is three narrow scalars. The
    // previous shape attached BOTH 64-double vectors to every
    // candidate row through two joins — ~1 KB × O(n·occupancy) rows
    // re-shuffled on the second join key, the whole cost of the
    // operator at 100× (63.8 s → see BASELINE round 16). A near pair
    // colliding in k tables now computes its cosine k ≤ nTables times
    // (identical bitwise — same array order, same doubles — so the
    // distinct collapses them), a few redundant map-side FLOPs traded
    // for never widening the pair relation.
    val buckets = reps.select(col("vec_id"), col("vec"), col("norm"),
        posexplode(allBuckets(col("vec"), planes, nTables, dims)).as(Seq("tbl", "bucket")))
      .groupBy("tbl", "bucket")
      .agg(sort_array(collect_list(
        struct(col("vec_id").as("id"), col("vec").as("v"), col("norm").as("nm")))).as("ms"))
    buckets
      .select(explode(expr(
        "flatten(transform(ms, (a, i) -> transform(slice(ms, i + 2, size(ms)), " +
          "b -> struct(a.id AS vec_a, b.id AS vec_b, " +
          "graft_dot(a.v, b.v) / (a.nm * b.nm) AS cos))))")).as("p"))
      .select(col("p.vec_a"), col("p.vec_b"), col("p.cos").as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
      .unionByName(stars.withColumn("cos_sim", lit(1.0)))
      .orderBy("vec_a", "vec_b")
  }

  /** Fixed-resolution near-dup rung — the emb_lsh_topk upgrade applied
    * to [[cosineNearDupPairsOn]]: at a PINNED plane count the
    * hyperplane family is deterministic, so the oracle interpolates the
    * coefficients as SQL literals and replays bucketing → within-bucket
    * pairing → exact-cosine verify bit-for-bit — the candidate-recall
    * rung moves onto the hash gate. The auto-scaled production sibling
    * (emb_near_dup) stays rows-only by the fixed-resolution rule: its
    * plane count must float with the corpus. */
  def nearDupOracleSql(threshold: Double = 0.95, nPlanes: Int = 4,
                       nTables: Int = 8, dims: Int = 64): String = {
    def lits(plane: Int): String =
      (0 until dims).map(d => planeComponent(plane, d).toString).mkString("[", ", ", "]")
    val tableSelects = (0 until nTables).map { t =>
      val bits = (0 until nPlanes).map { p =>
        s"(CASE WHEN list_dot_product(v, ${lits(t * nPlanes + p)}) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("\n    + ")
      s"  SELECT vec_id, $t AS tbl,\n    $bits AS bucket FROM n"
    }.mkString("\n  UNION ALL\n")
    s"""WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |k AS (SELECT v, min(vec_id) AS keeper FROM c0 GROUP BY v),
       |c AS (SELECT c0.vec_id, c0.v FROM c0 JOIN k ON c0.v = k.v AND c0.vec_id = k.keeper),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM c),
       |b AS MATERIALIZED (
       |$tableSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, cb.vec_id AS vec_b
       |  FROM b a JOIN b cb ON a.tbl = cb.tbl AND a.bucket = cb.bucket
       |    AND a.vec_id < cb.vec_id),
       |scored AS (
       |  SELECT cand.vec_a, cand.vec_b,
       |    list_dot_product(av.v, bv.v) / (av.nm * bv.nm) AS cos
       |  FROM cand JOIN n av ON av.vec_id = cand.vec_a
       |  JOIN n bv ON bv.vec_id = cand.vec_b),
       |star AS (
       |  SELECT k.keeper AS vec_a, c0.vec_id AS vec_b, CAST(1.0 AS DOUBLE) AS cos_sim
       |  FROM c0 JOIN k ON c0.v = k.v WHERE c0.vec_id <> k.keeper)
       |SELECT vec_a, vec_b, cos_sim FROM (
       |  SELECT vec_a, vec_b, round(cos, 4) AS cos_sim
       |  FROM scored WHERE cos >= CAST($threshold AS DOUBLE)
       |  UNION ALL SELECT * FROM star) u
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  def cosineNearDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.95,
                         nPlanes: Int = 0, nTables: Int = 8, dims: Int = 64): DataFrame =
    cosineNearDupPairsOn(corpus(spark, dir), threshold, nPlanes, nTables, dims)

  /** The SERVING composition of hybrid retrieval: dense leg through
    * the persisted IVFADC index (list-pruned ADC over the bucketed
    * code table — the 100 TB dense path), sparse leg through the
    * persisted inverted index (TextAnalysis.bm25Served — bit-identical
    * to fresh tokenization), fused by the same RRF formula
    * as [[hybridRrf]]. Rows-only at the gate by nature (IVF probing
    * has recall < 1, so no exact SQL oracle can exist); SimilaritySpec
    * bounds its fused top-k recall against the exact-dense hybrid and
    * pins that the sparse leg's contribution is identical (integer
    * ranks pass through fusion untouched). */
  def hybridServed(spark: SparkSession, dir: String, nQueries: Int = 5,
                   legK: Int = 20, k: Int = 5, rrfK: Int = 60): DataFrame = {
    val dense = ivfpqServedTopK(spark, dir, nQueries, k = legK)
      .select(col("query_id"), col("cand_id"), col("rank").as("r_dense"))
    val sparse = graft.text.TextAnalysis
      .bm25Served(spark, dir, nQueries, k = legK)
      .select(col("query_id"), col("cand_id"), col("rank").as("r_sparse"))
    val byRrf = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("cand_id"))
    dense.join(sparse, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("r_dense")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("r_sparse")), lit(0.0)))
      .withColumn("rank", row_number().over(byRrf))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("rrf"), 6).as("rrf_score"))
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the standard RAG
    * serving shape: a sparse (lexical) retriever and a dense (vector)
    * retriever each produce a per-query top-`legK` list, and the lists
    * are fused by RRF(d) = Σ_legs 1/(60 + rank_leg(d)), absent-from-leg
    * contributing 0. vec_id and doc_id identify the same entities in
    * the testdata, so the text leg ranks candidates by DISTINCT shared
    * tokens with the query document (integer — exact in any engine) and
    * the dense leg by cosine (the [[bruteForceTopKOn]] formulation).
    *
    * Oracle-exact on purpose: both leg ranks are integers with
    * deterministic tie-breaks (cand_id), and the fused score is a sum
    * of two exactly-rounded IEEE divisions of integers — bit-identical
    * in Spark and DuckDB (the rank-on-lift-not-PMI lesson: keep
    * ordering decisions out of libm).
    *
    * Scale: the dense leg is the ANN family above (swap brute force
    * for IVFADC at corpus scale); the sparse leg is one shuffle on
    * token — at 100 TB you'd feed it from the persisted inverted index
    * (txt_inverted_index) with postings caps; queries are broadcast in
    * both legs, so the corpus is scanned once per leg and fusion
    * touches only 2·legK rows per query. */
  /** Exact semantic-dedup keep-list (SemDeDup-style; Abbas et al.
    * 2023, arXiv:2303.09540 §3 describes the cluster-then-dedup idea —
    * this is the exact-graph form): the curation DECISION layered on
    * the cosine near-dup relation. Edges = every pair with cosine >=
    * threshold (exact all-pairs — the audit rung, same role as
    * dedup_jaccard_prefix); components = min-label closure
    * (Components.labelGraph, the proven dup-cluster CC); keep the
    * lowest vec_id per component, singletons keep themselves. Output
    * one row per vector: (vec_id, keep_id, is_kept) — the relation a
    * curation pipeline semi-joins its corpus against.
    *
    * Scale: the exact pair join is O(n²) BY CONTRACT — it is the audit
    * baseline that makes false negatives of any approximate candidate
    * generator a measurable quantity. The production path is
    * [[semanticKeepLsh]]: the SAME closure + keep decision over the
    * occupancy-scaled LSH bucketed pairs (O(n·occupancy) candidates).
    * The closure shuffles only (node, label) ids either way. */
  def semanticKeepOn(all: DataFrame, threshold: Double = 0.3): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    val a = all.select(col("vec_id").as("u"), col("vec").as("va"), col("norm").as("na"))
    val b = all.select(col("vec_id").as("v"), col("vec").as("vb"), col("norm").as("nb"))
    val edges = a.join(broadcast(b), col("u") < col("v"))
      .withColumn("cos", ndot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("u", "v")
    keepDecision(all, edges)
  }

  /** (vec_id, keep_id, is_kept) from a near-dup edge relation: CC
    * min-label closure + keep-the-lowest-id; vectors with no edge are
    * their own component. */
  private def keepDecision(all: DataFrame, edges: DataFrame): DataFrame = {
    val comp = graft.operators.Components.labelGraph(edges)
    all.select(col("vec_id"))
      .join(comp.select(col("node").as("vec_id"), col("component")), Seq("vec_id"), "left")
      .withColumn("keep_id", coalesce(col("component"), col("vec_id")))
      .select(col("vec_id"), col("keep_id"),
        (col("keep_id") === col("vec_id")).as("is_kept"))
      .orderBy("vec_id")
  }

  /** keepDecision for GROUP-CONFINED candidate edges (grp, u, v) —
    * both cluster rungs generate pairs only within a coarse cluster,
    * so the transitive closure cannot span groups and the CC can run
    * as ONE shuffle + per-group union-find
    * ([[graft.operators.Components.labelGraphGrouped]]) instead of the
    * iterative global closure's driver-looped rounds (a checkpoint
    * job + a count action per round — the measured wall-clock floor
    * of these rungs since round 12; the round-19 stage decomposition
    * put the closure at ~40% of emb_semdedup_keep's eager
    * construction). The gate is per-group EDGE count: one aggregate
    * over the checkpointed edge relation (which the closure needed
    * materialized anyway) against a fits-one-task budget; past it —
    * the 100 TB regime where a coarse cluster's candidate edges
    * outgrow an executor task — the iterative labelGraph plan is the
    * one that survives, so it remains the fallback unchanged.
    * Labels are identical either way (ComponentsSpec parity; the
    * emb_semdedup_keep DuckDB oracle stays hash-green). */
  private def keepDecisionGrouped(all: DataFrame, edgesG: DataFrame,
                                  maxGroupEdges: Long = 4L << 20): DataFrame = {
    val e = edgesG.localCheckpoint()
    val biggest = e.groupBy("grp").count()
      .agg(max("count").as("m")).head().getAs[java.lang.Long]("m")
    val comp =
      if (biggest == null || biggest <= maxGroupEdges)
        graft.operators.Components.labelGraphGrouped(e)
      else graft.operators.Components.labelGraph(e.select(col("u"), col("v")))
    all.select(col("vec_id"))
      .join(comp.select(col("node").as("vec_id"), col("component")), Seq("vec_id"), "left")
      .withColumn("keep_id", coalesce(col("component"), col("vec_id")))
      .select(col("vec_id"), col("keep_id"),
        (col("keep_id") === col("vec_id")).as("is_kept"))
      .orderBy("vec_id")
  }

  def semanticKeep(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame =
    semanticKeepOn(corpus(spark, dir), threshold)

  /** Production-scale sibling of [[semanticKeepOn]]: same keep
    * decision over the LSH bucketed candidate edges
    * (cosineNearDupPairsOn — occupancy-scaled planes, linear pair
    * count). Rows-only at the gate by nature (bucket collisions gate
    * candidates, recall < 1); SimilaritySpec pins that planted
    * near-identical vectors collapse to the same keep_id as the exact
    * rung. */
  def semanticKeepLsh(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame =
    semanticKeepLshOn(corpus(spark, dir), threshold)

  def semanticKeepLshOn(all: DataFrame, threshold: Double = 0.3,
                        dims: Int = 64): DataFrame = {
    val edges = cosineNearDupPairsOn(all, threshold, dims = dims)
      .select(col("vec_a").as("u"), col("vec_b").as("v"))
    keepDecision(all, edges)
  }

  /** Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick argmax of λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)
    * over the top-`candK` exact-cosine candidates, k picks per query —
    * the standard diversification pass between retrieval and serving.
    *
    * Engine-exactness: both rel and pairwise sims are rounded to
    * integer MICROS before the greedy loop (the BM25 discipline —
    * order-free, engine-exact); with λ = 0.5 the ×2-scaled objective is
    * rel_micro − maxsim_micro, pure integer arithmetic, ties broken by
    * cand_id. So the argmax chain — and hence the whole unrolled
    * greedy — is deterministic across engines and partitionings, and
    * the DuckDB oracle replays it step for step.
    *
    * Scale: the loop runs k unrolled DataFrame steps over a BOUNDED
    * relation (nQueries × candK candidate rows, candK² sims per
    * query, localCheckpoint'ed once) — per-query work is O(candK²)
    * regardless of corpus size; the corpus-sized work is the candidate
    * top-k, which rides the same broadcast-query scan as emb_knn
    * (or any ANN leg at serving time). No collect: the selection state
    * stays a (query_id, cand_id, rank) relation throughout. */
  def mmrRerank(spark: SparkSession, dir: String, nQueries: Int = 5,
                candK: Int = 20, k: Int = 5): DataFrame =
    mmrRerankOn(corpus(spark, dir), nQueries, candK, k)

  def mmrRerankOn(all: DataFrame, nQueries: Int = 5,
                  candK: Int = 20, k: Int = 5): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val cand0 = all.select(col("vec_id").as("cand_id"), col("vec").as("cv"), col("norm").as("cn"))
    val byCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    val cands = cand0.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("r", row_number().over(byCos))
      .filter(col("r") <= candK)
      .withColumn("rel", round(col("cos") * lit(1e6)).cast("long"))
      .select(col("query_id"), col("cand_id"), col("cv"), col("cn"), col("rel"))
      .localCheckpoint()
    val simA = cands.select(col("query_id"), col("cand_id").as("id_a"),
      col("cv").as("va"), col("cn").as("na"))
    val simB = cands.select(col("query_id"), col("cand_id").as("id_b"),
      col("cv").as("vb"), col("cn").as("nb"))
    val sims = simA.join(simB, Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim",
        round(ndot(col("va"), col("vb")) / (col("na") * col("nb")) * lit(1e6)).cast("long"))
      .select(col("query_id"), col("id_a"), col("id_b"), col("sim"))
      .localCheckpoint()
    val lean = cands.select(col("query_id"), col("cand_id"), col("rel"))
    val w1 = Window.partitionBy("query_id").orderBy(col("rel").desc, col("cand_id"))
    var selected = lean.withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id"), lit(1).as("rank"), col("rel").as("mmr_micro"))
      .localCheckpoint()
    for (step <- 2 to k) {
      val rem = lean.join(selected.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_anti")
      // every remaining candidate has >= 1 selected peer in sims
      // (selected ⊆ candidates, self-pairs excluded) -> inner join
      val maxsim = sims
        .join(selected.select(col("query_id"), col("cand_id").as("id_b")), Seq("query_id", "id_b"))
        .groupBy(col("query_id"), col("id_a").as("cand_id"))
        .agg(max(col("sim")).as("maxsim"))
      val wS = Window.partitionBy("query_id").orderBy(col("mmr_micro").desc, col("cand_id"))
      val pick = rem.join(maxsim, Seq("query_id", "cand_id"))
        .withColumn("mmr_micro", col("rel") - col("maxsim"))
        .withColumn("rn", row_number().over(wS)).filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), lit(step).as("rank"), col("mmr_micro"))
      selected = selected.unionByName(pick).localCheckpoint()
    }
    selected.orderBy("query_id", "rank")
  }

  /** DuckDB replay of [[mmrRerank]]: candidate top-candK and the
    * candK² sim matrix in integer micros, then the k greedy picks
    * unrolled as MATERIALIZED CTEs (DuckDB inlines CTEs referenced
    * more than once — the BPE-oracle lesson — and each selN is read by
    * both the next pick's maxsim join and its NOT EXISTS guard). */
  def mmrOracleSql(nQueries: Int = 5, candK: Int = 20, k: Int = 5): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM c),
         |q AS (SELECT vec_id AS query_id, v AS qv, nm AS qn FROM n WHERE vec_id < $nQueries),
         |scored AS (
         |  SELECT query_id, n.vec_id AS cand_id, list_dot_product(qv, v) / (qn * nm) AS cos
         |  FROM q JOIN n ON n.vec_id <> q.query_id),
         |cands AS MATERIALIZED (
         |  SELECT query_id, cand_id, CAST(round(cos * 1e6) AS BIGINT) AS rel
         |  FROM (SELECT query_id, cand_id, cos,
         |          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS r
         |        FROM scored) t
         |  WHERE r <= $candK),
         |sims AS MATERIALIZED (
         |  SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
         |    CAST(round(list_dot_product(va.v, vb.v) / (va.nm * vb.nm) * 1e6) AS BIGINT) AS sim
         |  FROM cands a JOIN cands b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
         |  JOIN n va ON va.vec_id = a.cand_id
         |  JOIN n vb ON vb.vec_id = b.cand_id),
         |sel1 AS MATERIALIZED (
         |  SELECT query_id, cand_id, CAST(1 AS INTEGER) AS rank, rel AS mmr_micro
         |  FROM (SELECT query_id, cand_id, rel,
         |          row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
         |        FROM cands) t WHERE rn = 1)""".stripMargin)
    for (step <- 2 to k) {
      val prev = s"sel${step - 1}"
      sb.append(
        s""",
           |pick$step AS MATERIALIZED (
           |  SELECT query_id, cand_id, CAST($step AS INTEGER) AS rank, mmr_micro
           |  FROM (SELECT r.query_id, r.cand_id, r.rel - m.maxsim AS mmr_micro,
           |          row_number() OVER (PARTITION BY r.query_id
           |            ORDER BY (r.rel - m.maxsim) DESC, r.cand_id) AS rn
           |        FROM cands r
           |        JOIN (SELECT s.query_id, s.id_a AS cand_id, max(s.sim) AS maxsim
           |              FROM sims s JOIN $prev p
           |                ON p.query_id = s.query_id AND p.cand_id = s.id_b
           |              GROUP BY 1, 2) m
           |          ON m.query_id = r.query_id AND m.cand_id = r.cand_id
           |        WHERE NOT EXISTS (SELECT 1 FROM $prev p
           |          WHERE p.query_id = r.query_id AND p.cand_id = r.cand_id)) t
           |  WHERE rn = 1),
           |sel$step AS MATERIALIZED (
           |  SELECT * FROM $prev UNION ALL SELECT * FROM pick$step)""".stripMargin)
    }
    sb.append(s"\nSELECT query_id, rank, cand_id, mmr_micro FROM sel$k ORDER BY query_id, rank")
    sb.toString
  }

  /** Source-diversified top-k: exact cosine retrieval under a
    * per-source quota (at most `perSource` results from any one
    * `documents.source` value) — the "don't fill the context window
    * from one crawl domain" serving rule. Two windowed ranks: within
    * (query, source) by score to enforce the quota, then global by
    * score for the final k. Exact on the surviving candidates, hence
    * fully oracled.
    *
    * Scale: same broadcast-query corpus scan as emb_knn; the quota
    * window shuffles (query_id, source)-keyed scored rows — at corpus
    * scale the candidate relation would be an ANN leg's bounded top-N,
    * so the windows run over serving-sized, not corpus-sized, data. */
  def diverseTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
                  perSource: Int = 1, k: Int = 5): DataFrame = {
    val all = corpus(spark, dir)
    val src = Tables(spark, dir, "documents")
      .select(col("doc_id").as("cand_id"), col("source"))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val scored = all
      .select(col("vec_id").as("cand_id"), col("vec").as("cv"), col("norm").as("cn"))
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .join(src, Seq("cand_id"))
    val bySrc = Window.partitionBy("query_id", "source")
      .orderBy(col("cos").desc, col("cand_id"))
    val overall = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("src_rank", row_number().over(bySrc))
      .filter(col("src_rank") <= perSource)
      .withColumn("rank", row_number().over(overall))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("source"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  def hybridRrf(spark: SparkSession, dir: String, nQueries: Int = 5,
                legK: Int = 20, k: Int = 5, rrfK: Int = 60): DataFrame = {
    val all = corpus(spark, dir)
    // dense leg: cosine rank among all other docs
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val cand = all.select(col("vec_id").as("cand_id"), col("vec").as("cv"), col("norm").as("cn"))
    val byCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    val dense = cand.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("r_dense", row_number().over(byCos))
      .filter(col("r_dense") <= legK)
      .select(col("query_id"), col("cand_id"), col("r_dense"))
    // sparse leg: distinct shared tokens with the query doc's text
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0).distinct()
    val qToks = toks.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("token"))
    val byOverlap = Window.partitionBy("query_id")
      .orderBy(col("n_shared").desc, col("cand_id"))
    val sparse = toks.select(col("doc_id").as("cand_id"), col("token"))
      .join(broadcast(qToks), "token")
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy("query_id", "cand_id")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("r_sparse", row_number().over(byOverlap))
      .filter(col("r_sparse") <= legK)
      .select(col("query_id"), col("cand_id"), col("r_sparse"))
    val byRrf = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("cand_id"))
    dense.join(sparse, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("r_dense")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("r_sparse")), lit(0.0)))
      .withColumn("rank", row_number().over(byRrf))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("rrf"), 6).as("rrf_score"))
      .orderBy("query_id", "rank")
  }

  // ----- Deterministic Lloyd k-means + SemDeDup (cluster-then-dedup) -----
  //
  // The third rung of the semantic-dedup ladder. semanticKeepOn is the
  // exact O(n²) audit rung; semanticKeepLsh is the bucketed candidate
  // path; this is the published production shape (SemDeDup, Abbas et
  // al. 2023, arXiv:2303.09540 §2: k-means-cluster the embeddings,
  // then compare pairs ONLY within a cluster) — pair work drops from
  // O(n²) to Σ|cluster|² ≈ n²/k, and with k grown as √n that is
  // O(n^1.5), the same trade IVF makes for search. Unlike the spark.ml
  // trainer behind IVF (sampled init, float sums), THIS k-means is
  // engine-exact end to end, so the whole family oracles in DuckDB:
  //  - element micros: m_d = floor(x_d·1e6 + 0.5) — float32→double is
  //    exact, one IEEE multiply+add, identical in both engines;
  //  - init: centroids = the k corpus vectors at strided global ranks
  //    0, s, 2s, … (s = n div k) in vec_id order — rank-strided for
  //    distribution coverage, no RNG;
  //  - assignment: argmin over k centroids of the INTEGER squared L2
  //    distance Σ(m_d − c_d)² (int64, exact, order-free), ties to the
  //    lowest cluster_id;
  //  - update: per-element int64 sums (associative, partial-agg-safe)
  //    and one double division sum/cnt (two exactly-representable
  //    integers → one correctly-rounded IEEE result), re-rounded to
  //    micros; empty clusters keep their previous centroid.
  //
  // Scale: the quantized corpus is range-sorted by vec_id once (a
  // local checkpoint truncates its lineage) and never leaves the
  // executors. Seeding is one per-partition count plus one pass picking
  // the strided ranks, so only the k seed vectors reach the driver;
  // each Lloyd round is one treeAggregate of per-cluster int64 sums and
  // counts against the broadcast centroids (the spark.ml KMeans shape),
  // so the driver receives k×d sums per round. Rounds are bounded
  // (`iters`). Fixed k=8/iters=2 at the gate is the oracle-able
  // resolution (the emb_lsh_topk rule: only FIXED resolutions get
  // literal-replay oracles); at corpus scale callers pass k ≈ √n and
  // more rounds.

  private def quantizeMicros(all: DataFrame): DataFrame =
    all.select(col("vec_id"),
      transform(col("vec"), x => floor(x * lit(1e6) + lit(0.5))).as("mv"))

  /** The assignment rule of every deterministic-k-means caller: the
    * centroid with the least int64 squared L2 distance Σ(m − c)², ties
    * to the lowest cluster_id (the array index). */
  private[graft] def nearest(m: Array[Long], cent: Array[Array[Long]]): Int = {
    var (best, bestD) = (-1, Long.MaxValue)
    var c = 0
    while (c < cent.length) {
      val cv = cent(c)
      require(cv.length == m.length, s"vector of ${m.length} elements vs centroid of ${cv.length}")
      var (d, j) = (0L, 0)
      while (j < m.length) {
        val e = m(j) - cv(j)
        d += e * e
        j += 1
      }
      if (best < 0 || d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** Lloyd state: the quantized corpus (vec_id, micros) sorted by vec_id
    * and checkpointed, and the centroids (cluster_id = index). */
  private case class Lloyd(spark: SparkSession, points: RDD[(Long, Array[Long])],
                           cent: Array[Array[Long]])

  /** The k strided-rank seeds: the vectors at global vec_id-order ranks
    * 0, s, 2s, … with s = max(1, n div k) — k of them, or n when n < k.
    * One pass counts each partition of the sorted points (and
    * materializes their checkpoint), one picks the ranks. */
  private def stridedSeeds(points: RDD[(Long, Array[Long])], k: Int): Array[Array[Long]] = {
    val counts = points.mapPartitions(it => Iterator(it.size.toLong)).collect()
    val stride = math.max(1L, counts.sum / k)
    val bases = counts.scanLeft(0L)(_ + _)
    points.mapPartitionsWithIndex { (pid, it) =>
      it.zipWithIndex.map { case ((_, mv), i) => (bases(pid) + i, mv) }
        .collect { case (rn, mv) if rn % stride == 0 && rn / stride < k => (rn / stride, mv) }
    }.collect().sortBy(_._1).map(_._2)
  }

  /** One Lloyd round's statistics against `cent`: per-cluster int64
    * element sums and member counts, combined by treeAggregate. */
  private def lloydStats(l: Lloyd): (Array[Array[Long]], Array[Long]) = {
    val bc = l.points.sparkContext.broadcast(l.cent)
    val (k, d) = (l.cent.length, l.cent.headOption.map(_.length).getOrElse(0))
    try l.points.treeAggregate((Array.ofDim[Long](k, d), new Array[Long](k)))(
      { case ((sums, counts), (_, mv)) =>
        val c = nearest(mv, bc.value)
        var j = 0
        while (j < d) { sums(c)(j) += mv(j); j += 1 }
        counts(c) += 1
        (sums, counts)
      },
      { case ((s1, c1), (s2, c2)) =>
        for (c <- 0 until k) {
          for (j <- 0 until d) s1(c)(j) += s2(c)(j)
          c1(c) += c2(c)
        }
        (s1, c1)
      })
    finally bc.destroy()
  }

  /** Strided seed plus `iters − 1` Lloyd updates: each element of a new
    * centroid is floor(sum / cnt + 0.5) over its members' micros (two
    * exactly representable integers, one correctly rounded division);
    * a cluster that lost every member keeps its previous centroid. */
  private def lloyd(all: DataFrame, k: Int, iters: Int): Lloyd = {
    require(k >= 1 && iters >= 1, s"need k >= 1 and iters >= 1, got k=$k iters=$iters")
    val points = quantizeMicros(all).rdd
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortByKey().localCheckpoint()
    var l = Lloyd(all.sparkSession, points, stridedSeeds(points, k))
    for (_ <- 1 until iters) {
      val (sums, counts) = lloydStats(l)
      l = l.copy(cent = l.cent.indices.map { c =>
        if (counts(c) == 0) l.cent(c)
        else sums(c).map(sm => math.floor(sm.toDouble / counts(c).toDouble + 0.5).toLong)
      }.toArray)
    }
    l
  }

  /** (vec_id, cluster_id) of every point under the state's centroids,
    * plus `cluster_n` when `sizes` (members per cluster) is given. */
  private def assignments(l: Lloyd, sizes: Option[Array[Long]] = None): DataFrame = {
    val bc = l.spark.sparkContext.broadcast(l.cent)
    val rows = l.points.map { case (id, mv) =>
      val c = nearest(mv, bc.value)
      Row.fromSeq(Seq[Any](id, c) ++ sizes.map(_(c)))
    }
    l.spark.createDataFrame(rows, StructType(
      Seq(StructField("vec_id", LongType), StructField("cluster_id", IntegerType)) ++
        sizes.map(_ => StructField("cluster_n", LongType, nullable = false))))
  }

  /** (cluster_id, cv) of a state's centroids, a local relation. */
  private def centroidTable(l: Lloyd): DataFrame =
    l.spark.createDataFrame(l.cent.toSeq.zipWithIndex.map(_.swap))
      .toDF("cluster_id", "cv")

  /** Centroids after `iters − 1` Lloyd updates from the strided seed —
    * exactly the table the final assignment pass reads. */
  def kmeansCentroidsDet(all: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    centroidTable(lloyd(all, k, iters))

  /** Final deterministic assignment (vec_id, cluster_id) after
    * `iters` assignment rounds with Lloyd updates in between. */
  def kmeansAssignOn(all: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    assignments(lloyd(all, k, iters))

  /** Gate query: per-vector cluster assignment plus the size of the
    * assigned cluster — (vec_id, cluster_id, cluster_n); the sizes are
    * the counts of the final assignment round's statistics. */
  def kmeansClusters(spark: SparkSession, dir: String,
                     k: Int = 8, iters: Int = 2): DataFrame = {
    val l = lloyd(corpus(spark, dir), k, iters)
    assignments(l, Some(lloydStats(l)._2)).orderBy("vec_id")
  }

  /** SemDeDup keep-list: the semanticKeepOn decision computed from
    * WITHIN-CLUSTER exact-cosine edges only — the equality join on
    * cluster_id bounds pair work at Σ|cluster|² instead of the audit
    * rung's O(n²) broadcast nested loop. Same min-label closure, same
    * (vec_id, keep_id, is_kept) relation; cross-cluster near-dups are
    * the recall trade, measurable against semanticKeepOn by
    * construction (SimilaritySpec pins planted-dup parity). The CC
    * closure rides the grouped union-find when clusters fit a task
    * (keepDecisionGrouped — components are cluster-confined by
    * construction here), the iterative global closure past that. */
  def semanticKeepClusteredOn(all: DataFrame, threshold: Double = 0.3,
                              k: Int = 8, iters: Int = 2): DataFrame =
    keepDecisionGrouped(all, clusteredEdgesOn(all, threshold, k, iters))

  /** The pair-generation term of the cluster rung, exposed so
    * PlanContractSpec can assert its shape (the CC closure checkpoints
    * eagerly, hiding this join from the final plan): within-cluster
    * exact-cosine edges via an equality join on cluster_id. Output
    * (grp, u, v) — grp is the shared cluster id, carried so the CC
    * closure can run group-local (keepDecisionGrouped). */
  private[graft] def clusteredEdgesOn(all: DataFrame, threshold: Double,
                                      k: Int, iters: Int): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    val withC = all.join(
      kmeansAssignOn(all, k, iters).select("vec_id", "cluster_id"), Seq("vec_id"))
    val a = withC.select(col("cluster_id"), col("vec_id").as("u"),
      col("vec").as("va"), col("norm").as("na"))
    val b = withC.select(col("cluster_id"), col("vec_id").as("v"),
      col("vec").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("u") < col("v"))
      .withColumn("cos", ndot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("cluster_id").as("grp"), col("u"), col("v"))
  }

  def semanticKeepClustered(spark: SparkSession, dir: String,
                            threshold: Double = 0.3,
                            k: Int = 8, iters: Int = 2): DataFrame =
    semanticKeepClusteredOn(corpus(spark, dir), threshold, k, iters)

  /** Semantic eval-set decontamination — the embedding-side twin of
    * TextAnalysis.decontaminate (same stand-in eval set: every
    * `benchEvery`-th id): flag every training vector whose cosine to
    * ANY eval vector reaches `threshold` — catches paraphrased eval
    * leakage that the 13-gram exact overlap cannot see. Output one row
    * per contaminated training vec: (vec_id, n_close, max_cos).
    *
    * Scale: eval sets are benchmark-sized, so the eval side broadcasts
    * (the emb_knn shape) and the corpus is scanned ONCE — no shuffle
    * carries vectors; at a real 100 TB corpus this is a map-side
    * filter pass. max/count are order-free aggregates, and max_cos
    * rounds to 4 like every serving cosine. */
  def semanticDecontaminateOn(all: DataFrame, threshold: Double = 0.3,
                              benchEvery: Int = 10): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    val ev = all.filter(pmod(col("vec_id"), lit(benchEvery)) === 0)
      .select(col("vec_id").as("ev_id"), col("vec").as("evv"), col("norm").as("evn"))
    all.filter(pmod(col("vec_id"), lit(benchEvery)) =!= 0)
      .crossJoin(broadcast(ev))
      .withColumn("cos", ndot(col("vec"), col("evv")) / (col("norm") * col("evn")))
      .filter(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_close"), round(max(col("cos")), 4).as("max_cos"))
      .orderBy("vec_id")
  }

  /** Bench modulus for the every-`benchEvery`-th-id eval/query
    * stand-ins: a FIXED modulus makes the stand-in grow ∝ corpus, so
    * the broadcast-side × corpus product turns quadratic — a property
    * of the benchmark PARAMETERIZATION, not the operator (production
    * query batches and eval sets are bounded: training batches,
    * benchmark suites). The round-12 100× anchor measured exactly
    * that artifact (emb_hard_negatives 157.9× per decade at modulus
    * 10). This caps the stand-in at ~`cap` rows; every testdata sf
    * has n ≤ 2000, so the modulus stays EXACTLY 10 there and the
    * sf0.01 hash gate is untouched. */
  private[graft] def autoBenchEvery(n: Long, cap: Long = 2000L): Int =
    math.max(10L, (n + cap - 1) / cap).toInt

  def semanticDecontaminate(spark: SparkSession, dir: String,
                            threshold: Double = 0.3): DataFrame = {
    val all = corpus(spark, dir)
    semanticDecontaminateOn(all, threshold, autoBenchEvery(all.count()))
  }

  /** Hard-negative mining for retriever/embedding training (the DPR /
    * ANCE recipe, Karpukhin et al. 2020 arXiv:2004.04906 §4.2): for
    * each query vector (the same every-`benchEvery`-th-id stand-in as
    * [[semanticDecontaminateOn]]), the top-`k` most-similar corpus
    * vectors whose LABEL DIFFERS from the query's — maximally
    * confusable negatives — with cosine capped below `hi` to exclude
    * mislabeled near-duplicates (a known failure mode: the "hardest"
    * negative is often a true positive with a wrong label).
    *
    * Scale: identical shape to [[bruteForceTopKOn]] — query side
    * broadcasts (production query sets are training-batch-sized; only
    * the testdata stand-in scales with the corpus), corpus scanned
    * once. The label predicate lands IN the join condition so
    * mismatched pairs never materialize a cosine; cosine is a
    * sequential fold, so no summation-order ambiguity.
    *
    * Per-query top-k is a BOUNDED typed Aggregator
    * ([[graft.functions.TopCosAggregator]]), not a
    * `row_number()` window: the window form was a global sort of the
    * query×candidate join output — ~4 billion rows at the round-16
    * 100× anchor (cos < hi passes nearly every pair), 33×/decade,
    * disk-spilling. The aggregate keeps ≤ k (cos, id, label) triples
    * per query per partition map-side, so the shuffle carries
    * ≤ queries × k × partitions rows and the sort disappears. Tie
    * semantics (cos DESC then cand_id ASC on RAW doubles, duplicates
    * kept) are row_number-identical — the DuckDB oracle still ranks
    * with a window and stays hash-green. The ObjectHashAggregate
    * fallback threshold is raised above the bounded query-group count
    * (~2000 by [[autoBenchEvery]]) because the sort-based fallback
    * would re-create exactly the spilling sort this plan removes. */
  def hardNegativesOn(all: DataFrame, benchEvery: Int = 10,
                      hi: Double = 0.9, k: Int = 5,
                      maxQueryGroups: Long = 1L << 12): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    // Session-wide by necessity (the returned plan is lazy, so the
    // conf must still hold at execution time — there is no per-query
    // scope for a SQLConf), so keep the blast radius minimal: the
    // threshold is derived as the next power of two ABOVE the
    // caller's declared query-group bound (round-19, closing the r18
    // ADVICE gap: benchEvery=10 alone puts NO bound on n/10 groups —
    // a direct caller on a large corpus would silently cross a fixed
    // 2¹³ and fall back to exactly the spilling sort this plan
    // removes). CONTRACT: `maxQueryGroups` must upper-bound the
    // number of distinct query ids this call produces (n/benchEvery);
    // [[hardNegatives]] passes the exact count-derived bound, and the
    // default covers the ~2000-group autoBenchEvery regime. The
    // floor stays 2¹³ so the sort-based safety valve is never
    // re-disabled wholesale (the r17 2¹⁸ leak); aggregator state is
    // ~(20·k+32) B per group, so even 2²⁰ groups is ~140 MB/partition.
    val threshold = math.max(1L << 13,
      java.lang.Long.highestOneBit(math.max(1L, maxQueryGroups)) << 1)
    all.sparkSession.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", threshold)
    val q = all.filter(pmod(col("vec_id"), lit(benchEvery)) === 0)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("vec").as("qv"), col("norm").as("qn"))
    val cand = all.filter(pmod(col("vec_id"), lit(benchEvery)) =!= 0)
      .select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
        col("vec").as("cv"), col("norm").as("cn"))
    val scored = cand.join(broadcast(q), col("qlabel") =!= col("cand_label"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(col("cos") < hi)
    val topk = udaf(new graft.functions.TopCosAggregator(k))
    scored.groupBy("query_id")
      .agg(topk(col("cos"), col("cand_id"), col("cand_label")).as("t"))
      .select(col("query_id"), col("t"),
        posexplode(col("t.cos")).as(Seq("pos", "cos_raw")))
      .select(col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        element_at(col("t.ids"), col("pos") + 1).as("cand_id"),
        element_at(col("t.labels"), col("pos") + 1).as("cand_label"),
        round(col("cos_raw"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val all = corpus(spark, dir)
    val n = all.count()
    val benchEvery = autoBenchEvery(n)
    // exact count-derived group bound (the hardNegativesOn contract)
    hardNegativesOn(all, benchEvery = benchEvery,
      maxQueryGroups = n / benchEvery + 1)
  }

  /** Round-11 k rule for the cluster rung, SUPERSEDED as the
    * production configuration (round-12 VERDICT item 2): k ≈ 2√n
    * keeps expected per-cluster size at √n/2, so Σ|cluster|² ≈ n^1.5
    * pair work — ~31× per data decade, measured as the slowest bench
    * row at sf0.1 (7.9 s) and 24.7× @100×. It also pays n·k = 2n^1.5
    * assignment flops. Kept only as the sweep point the cells rung is
    * measured against; [[semanticKeepCellsOn]] is the production
    * path. */
  def autoKmeansK(n: Long): Int =
    math.max(8, math.min(2.0 * math.sqrt(n.toDouble), n / 4.0).toInt)

  /** Constant-occupancy SemDeDup cells — the auto-resolution
    * PRODUCTION configuration of the cluster rung (rows-only at the
    * gate by the fixed-resolution rule; emb_semdedup_keep at pinned
    * k=8 carries the hash oracle as the audit sibling).
    *
    * Two-level cell assignment, both levels corpus-size-safe:
    *  1. Coarse deterministic k-means at k1 CAPPED by `coarseK` —
    *     centroid broadcast width and per-vector assignment flops are
    *     a DEPLOYMENT budget (n·k1 dot products, k1 constant), not a
    *     function of the corpus. Naive "k ∝ n/c" would make the
    *     assignment pass itself n²/c flops — the quadratic would just
    *     move from the pair join into the crossJoin(centroids).
    *  2. Within each coarse cluster, hyperplane sign bits (the
    *     cosineNearDupPairsOn plane family) masked to
    *     ceil(log2(|cluster|/targetOccupancy)) planes — enough that
    *     expected CELL occupancy stays ~`targetOccupancy` as the
    *     corpus grows. Planes grow logarithmically; the mask depth is
    *     data-driven PER COARSE CLUSTER (a k1-row broadcast), so a
    *     skewed coarse cluster gets more planes, an underfull one
    *     fewer.
    *
    * Within-cell exact-cosine edges then cost Σ|cell|² ≈
    * n·targetOccupancy·nTables — LINEAR in the corpus — and feed the
    * same min-label closure / keep decision as every other rung.
    *
    * Recall trade: near-dup pairs split across cells are missed.
    * Near-identical vectors share a nearest centroid and agree on
    * nearly every sign bit, so planted dups fold exactly as the exact
    * rung folds them (SimilaritySpec parity test); `nTables`
    * independent plane families hedge plane-boundary cases — and a
    * missed edge only SPLITS a component (the pipeline keeps an extra
    * near-dup, never drops a keeper), so the constants trade recall
    * in the safe direction and the audit rung prices exactly what
    * they trade. The defaults were A/B-swept in round 12
    * (tables 2/4, iters 1/2, occupancy 16/32): every leaner setting
    * measured at-or-worse at sf0.1 — the wall-clock floor is the CC
    * closure's ~2 s of per-round latency, not candidate volume, so
    * thinning candidates buys nothing and costs recall. Because
    * candidate edges are exact-cosine re-checked, the edge set is a
    * SUBSET of the exact rung's, so components only ever split and
    * the keep-set is a SUPERSET of the exact keep-set — the
    * one-directional error a curation pipeline tolerates (keeps a few
    * extra near-dups, never drops a canonical representative). */
  def semanticKeepCellsOn(all: DataFrame, threshold: Double = 0.3,
                          targetOccupancy: Int = 32, coarseK: Int = 16,
                          nTables: Int = 4, iters: Int = 2,
                          dims: Int = 64): DataFrame =
    keepDecisionGrouped(all,
      cellEdgesOn(all, threshold, targetOccupancy, coarseK, nTables, iters, dims))

  /** The pair-generation term of the cells rung, exposed for
    * PlanContractSpec (the CC closure checkpoints eagerly, hiding
    * this join from the final plan) and for the scale probes'
    * candidate-pair counts. */
  private[graft] def cellEdgesOn(all: DataFrame, threshold: Double,
                                 targetOccupancy: Int, coarseK: Int,
                                 nTables: Int, iters: Int,
                                 dims: Int): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    // exact-vector collapse first: depth bits can split any two
    // DISTINCT vectors but never identical ones, so the constant-
    // occupancy contract below only holds over representatives;
    // duplicate groups rejoin as O(d) keeper stars (cos = 1 ≥ any
    // threshold ≤ 1 by definition)
    val (reps, stars) = collapseExactVectors(all)
    val n = reps.count()
    // coarse k: grow toward the cap only once the corpus warrants it
    // (k1 ≈ n / (64·occupancy) keeps tiny test corpora at 1 cluster)
    val k1 = math.max(1, math.min(coarseK.toLong,
      n / math.max(1L, 64L * targetOccupancy)).toInt)
    val assign = kmeansAssignOn(reps, k1, iters) // (vec_id, cluster_id)
    // per-coarse-cluster plane depth; k1 rows, broadcast by size
    val planesFor = assign.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize"))
      .withColumn("planes", greatest(lit(0),
        ceil(log2(col("csize").cast("double") / lit(targetOccupancy.toDouble)))
          .cast("int")))
      .select("cluster_id", "planes")
    // one signature wide enough for the largest possible mask; the
    // per-cluster mask keeps only its own low `planes` bits
    val maxPlanes = math.max(1,
      math.ceil(math.log(math.max(n, 1L).toDouble / targetOccupancy) / math.log(2.0)).toInt)
    // In-cell exact-cosine verify (round 16, the cosineNearDupPairsOn
    // move): the vector rides its OWN row into the cell group — one
    // n-row fat join (reps ⋈ assign) + the cell collect_list — and
    // every candidate-pair row downstream is three narrow scalars.
    // The previous shape attached both 64-double vectors to every
    // candidate pair through two joins (~1 KB × O(n·occupancy) rows
    // re-shuffled on the second key) — with the fused bucket
    // expression that join pipeline was the remaining whole cost of
    // the cells rung at 100× (BASELINE round 16).
    val cells = reps.join(assign, Seq("vec_id"))
      .select(col("vec_id"), col("vec"), col("norm"), col("cluster_id"),
        posexplode(allBuckets(col("vec"), maxPlanes, nTables, dims)).as(Seq("tbl", "bucket")))
      .join(broadcast(planesFor), Seq("cluster_id"))
      .withColumn("cell", expr("bucket & (shiftleft(1L, planes) - 1L)"))
    // grp = the shared coarse cluster (pairs exist only within one, so
    // components are cluster-confined — the keepDecisionGrouped
    // contract); star edges inherit their KEEPER's cluster so an
    // exact-duplicate fan stays in the same union-find group as any
    // near-dup edges its keeper participates in
    val pairEdges = cells
      .groupBy("cluster_id", "tbl", "cell")
      .agg(sort_array(collect_list(
        struct(col("vec_id").as("id"), col("vec").as("v"), col("norm").as("nm")))).as("ms"))
      .select(col("cluster_id").as("grp"), explode(expr(
        "flatten(transform(ms, (a, i) -> transform(slice(ms, i + 2, size(ms)), " +
          "b -> struct(a.id AS u, b.id AS v, " +
          "graft_dot(a.v, b.v) / (a.nm * b.nm) AS cos))))")).as("p"))
      .select(col("grp"), col("p.u"), col("p.v"), col("p.cos").as("cos"))
      .filter(col("cos") >= threshold)
      .select("grp", "u", "v").distinct()
    pairEdges.unionByName(
      stars.select(col("vec_a").as("u"), col("vec_b").as("v"))
        .join(assign.select(col("vec_id").as("u"), col("cluster_id").as("grp")), Seq("u"))
        .select("grp", "u", "v"))
  }

  /** The auto-resolution production configuration of the cluster
    * rung. Round 11 routed this through autoKmeansK (Θ(n^1.5) pair
    * work AND assignment flops); round 12 replaces the engine with
    * the constant-occupancy two-level cells — linear pair work,
    * constant-capped assignment. Rows-only at the gate (resolution
    * floats with the corpus); SimilaritySpec pins planted-dup parity
    * and the keep-superset contract against the exact audit rung. */
  def semanticKeepClusteredAuto(spark: SparkSession, dir: String,
                                threshold: Double = 0.3): DataFrame =
    semanticKeepCellsOn(corpus(spark, dir), threshold)

  /** IVF top-k on the deterministic quantizer — the oracle-able IVF
    * leg: identical probe/re-rank shape to ivfTopKOn (rank lists per
    * query, probe `nProbe`, exact-cosine re-rank inside probed lists)
    * but with list ranking in exact INTEGER centroid space, so the
    * whole plan — training included — replays bit-for-bit in SQL.
    * ivfTopKOn (spark.ml trainer, auto-nlist) stays the corpus-scale
    * driver; this rung exists to put a hash-green gate under the IVF
    * probe semantics themselves. */
  def ivfDetTopKOn(all: DataFrame, nQueries: Int = 5, k: Int = 3,
                   nlist: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    VectorExpressions.register(all.sparkSession)
    val l = lloyd(all, nlist, iters)
    val cent = centroidTable(l)
    val withM = quantizeMicros(all)
    val assigned = assignments(l)
      .select(col("vec_id").as("cand_id"), col("cluster_id").as("list_id"))
      .join(all.select(col("vec_id").as("cand_id"), col("vec").as("cv"),
        col("norm").as("cn")), Seq("cand_id"))
    val q = withM.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("mv").as("qmv"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("d"), col("cluster_id"))
    val probed = q.crossJoin(broadcast(cent))
      .withColumn("d", aggregate(
        zip_with(col("qmv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cluster_id").as("list_id"))
    val qv = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"), col("norm").as("qn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))
    probed.join(assigned, Seq("list_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  def ivfDetTopK(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
                 nlist: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame =
    ivfDetTopKOn(corpus(spark, dir), nQueries, k, nlist, nProbe, iters)

  /** CTE chain replaying [[kmeansAssignOn]] in DuckDB: quantize →
    * strided seed → `iters` assignment rounds with updates between.
    * Ends with `assign(vec_id, cluster_id)` plus `cent(cluster_id,
    * cv)` holding the final (post-update) centroid table. */
  private def kmeansCteSql(k: Int, iters: Int): String = {
    val dist = "list_sum(list_transform(list_zip(mv, cv), s -> (s[1]-s[2])*(s[1]-s[2])))"
    def assignCte(t: Int, centName: String) =
      s"""a$t AS (
         |  SELECT vec_id, cluster_id, mv FROM (
         |    SELECT r.vec_id, c.cluster_id, r.mv,
         |      row_number() OVER (PARTITION BY r.vec_id ORDER BY $dist, c.cluster_id) AS rk
         |    FROM m r CROSS JOIN $centName c) t
         |  WHERE rk = 1)""".stripMargin
    def updateCte(t: Int, prevName: String) =
      s"""c$t AS (
         |  SELECT $prevName.cluster_id, coalesce(u.cvf, $prevName.cv) AS cv
         |  FROM $prevName LEFT JOIN (
         |    SELECT cluster_id,
         |      list(CAST(floor(CAST(sm AS DOUBLE)/CAST(cnt AS DOUBLE) + 0.5) AS BIGINT) ORDER BY pos) AS cvf
         |    FROM (
         |      SELECT cluster_id, pos, sum(v) AS sm, count(*) AS cnt FROM (
         |        SELECT cluster_id, generate_subscripts(mv, 1) AS pos, unnest(mv) AS v
         |        FROM a$t) e
         |      GROUP BY 1, 2) s
         |    GROUP BY 1) u USING (cluster_id))""".stripMargin
    val rounds = (1 to iters).flatMap { t =>
      val a = assignCte(t, s"c${t - 1}")
      if (t < iters) Seq(a, updateCte(t, s"c${t - 1}")) else Seq(a)
    }.mkString(",\n")
    s"""m AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> CAST(floor(x*1000000.0+0.5) AS BIGINT)) AS mv
       |  FROM embeddings),
       |ranked AS (
       |  SELECT vec_id, mv, row_number() OVER (ORDER BY vec_id) AS rn,
       |         count(*) OVER () AS n
       |  FROM m),
       |c0 AS (
       |  SELECT CAST((rn-1) // greatest(1, n // $k) AS INT) AS cluster_id, mv AS cv
       |  FROM ranked
       |  WHERE (rn-1) % greatest(1, n // $k) = 0 AND (rn-1) // greatest(1, n // $k) < $k),
       |$rounds,
       |cent AS (SELECT * FROM c${math.max(0, iters - 1)}),
       |assign AS (SELECT vec_id, cluster_id FROM a$iters)""".stripMargin
  }

  def kmeansOracleSql(k: Int = 8, iters: Int = 2): String =
    s"""WITH ${kmeansCteSql(k, iters)}
       |SELECT a.vec_id, a.cluster_id, s.cluster_n
       |FROM assign a JOIN (
       |  SELECT cluster_id, count(*) AS cluster_n FROM assign GROUP BY 1) s
       |USING (cluster_id)
       |ORDER BY a.vec_id""".stripMargin

  def semdedupOracleSql(threshold: Double = 0.3, k: Int = 8, iters: Int = 2): String =
    s"""WITH RECURSIVE ${kmeansCteSql(k, iters)},
       |nv AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS u, b.vec_id AS w
       |  FROM assign sa JOIN assign sb ON sa.cluster_id = sb.cluster_id AND sa.vec_id < sb.vec_id
       |  JOIN nv a ON a.vec_id = sa.vec_id JOIN nv b ON b.vec_id = sb.vec_id
       |  WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= CAST($threshold AS DOUBLE)),
       |edges AS (SELECT u, w FROM pairs UNION ALL SELECT w, u FROM pairs),
       |reach(u, w) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) s
       |  UNION
       |  SELECT r.u, e.w FROM reach r JOIN edges e ON e.u = r.w),
       |comp AS (SELECT u AS vec_id, min(w) AS keep_id FROM reach GROUP BY u)
       |SELECT nv.vec_id, coalesce(comp.keep_id, nv.vec_id) AS keep_id,
       |  coalesce(comp.keep_id, nv.vec_id) = nv.vec_id AS is_kept
       |FROM nv LEFT JOIN comp ON comp.vec_id = nv.vec_id
       |ORDER BY nv.vec_id""".stripMargin

  def ivfDetOracleSql(nQueries: Int = 5, k: Int = 3, nlist: Int = 16,
                      nProbe: Int = 4, iters: Int = 2): String = {
    val dist = "list_sum(list_transform(list_zip(qmv, cv), s -> (s[1]-s[2])*(s[1]-s[2])))"
    s"""WITH ${kmeansCteSql(nlist, iters)},
       |nv AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
       |  FROM embeddings),
       |probed AS (
       |  SELECT query_id, cluster_id AS list_id FROM (
       |    SELECT q.vec_id AS query_id, c.cluster_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $dist, c.cluster_id) AS pr
       |    FROM (SELECT vec_id, mv AS qmv FROM m WHERE vec_id < $nQueries) q
       |    CROSS JOIN cent c) t
       |  WHERE pr <= $nProbe),
       |cands AS (
       |  SELECT p.query_id, a.vec_id AS cand_id
       |  FROM probed p JOIN assign a ON a.cluster_id = p.list_id
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, rank, cand_id, round(cos, 4) AS cos_sim FROM (
       |  SELECT query_id, cand_id,
       |    list_dot_product(q.v, c.v) / (q.nm * c.nm) AS cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY list_dot_product(q.v, c.v) / (q.nm * c.nm) DESC, cand_id) AS INTEGER) AS rank
       |  FROM cands JOIN nv q ON q.vec_id = query_id JOIN nv c ON c.vec_id = cand_id) t
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
