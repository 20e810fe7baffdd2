package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SkewJoin
import graft.sources.Layouts

/** Scale-layout contracts: bucketed tables join without exchanges, and
  * the salted skew join is row-identical to the plain join while
  * splitting the hot key across salt sub-partitions. */
class ScaleLayoutSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("same-bucketed tables sort-merge join with zero shuffle exchanges") {
    val orders = Tables(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables(spark, sf, "customer").select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    Layouts.save(orders, "orders_b", Some("o_custkey"))
    Layouts.save(customer, "customer_b", Some("o_custkey"))
    assert(Layouts.tableBuckets(spark, "orders_b") === Layouts.tableBuckets(spark, "customer_b"),
      "both sides must share one bucket count")
    // force the join down the sort-merge path so the exchange elision
    // (not broadcast) is what's being proven
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // same bucket count on both sides: the planner proves
      // co-partitioning from the catalog, zero-exchange sort-merge join
      val joined = spark.table("orders_b").join(spark.table("customer_b"), Seq("o_custkey"))
      val n = joined.count()
      assert(n > 0, "join must produce rows")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // cross-check values against the plain (shuffling) join
      val plain = Tables(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(spark, sf, "customer").select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"))
      assert(n === plain.count(), "bucketed join changes the result")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("salted join is row-identical to the plain join on a skewed key") {
    // 90% of fact rows hit one hot key
    val fact = spark.range(2000).select(
      when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 5).as("k"),
      col("id").as("row_id"))
    val dim = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"), (7L, "hot"))
      .toDF("k", "label")
    val salted = SkewJoin.saltedJoin(fact, dim, "k", salts = 8, saltSrc = col("row_id"))
      .select("k", "row_id", "label")
    val plain = fact.join(dim, Seq("k")).select("k", "row_id", "label")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salted join must be row-identical")
    // the hot key's fact rows really spread across multiple salt values
    val spread = fact.withColumn("_salt",
        pmod(xxhash64(col("row_id")), lit(8L)).cast("int"))
      .filter(col("k") === 7).select("_salt").distinct().count()
    assert(spread >= 6, s"hot key spread over only $spread salts")
  }

  test("salted join in its real regime: forced SMJ, hot fact key, parity and salt-extended shuffle key") {
    // round-11 (VERDICT item 4): the battery proved the shipped plans
    // absorb skew, which means saltedJoin had never been validated
    // where it matters — a hot key on a SHUFFLED equality join's fact
    // side. Force that regime (broadcast off) and pin (a) the salted
    // plan shuffles on (key, _salt) — the straggler split — and (b)
    // row parity with the unsalted SMJ.
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 80% of fact rows on one hot key; dim too big to trust as tiny
      val fact = spark.range(20000).select(
        when(col("id") % 5 =!= 0, lit(42L)).otherwise(col("id") % 1000).as("k"),
        col("id").as("row_id"))
      val dim = spark.range(1000).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("label"))
      val salted = SkewJoin.saltedJoin(fact, dim, "k", salts = 16,
        saltSrc = col("row_id"))
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"fixture must exercise the shuffled-join regime:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"broadcast would bypass the skew regime under test:\n$plan")
      assert("hashpartitioning\\(k#\\d+L?, _salt".r.findFirstIn(plan).isDefined,
        s"fact shuffle must extend the key with the salt:\n$plan")
      val plain = fact.join(dim, Seq("k"))
      val saltedRows = salted.select("k", "row_id", "label")
      val plainRows = plain.select("k", "row_id", "label")
      assert(saltedRows.count() === plainRows.count())
      assert(saltedRows.exceptAll(plainRows).isEmpty &&
        plainRows.exceptAll(saltedRows).isEmpty,
        "salted SMJ must be row-identical to the unsalted SMJ")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
  }

  test("autoBuckets: parallelism floor until per-bucket work outgrows a task, then content-scaled") {
    // round-11 layout sizing (VERDICT item 3), shape MEASURED by the
    // width×strategy sweep (BASELINE.md): task-count alignment with
    // the execution width dominates until buckets are genuinely large
    // — 32 buckets beat 64/128/256 on the 11.8M-row 10× edge relation
    // — so the floor is the cluster parallelism and the 500k-row
    // target only widens the layout beyond it.
    assert(Layouts.autoBuckets(0L) === 32, "empty/small → parallelism floor")
    assert(Layouts.autoBuckets(1200000L) === 32, "sf0.1 edges stay at the floor")
    assert(Layouts.autoBuckets(11800000L) === 32,
      "the 10× edge relation must choose the measured-best 32")
    assert(Layouts.autoBuckets(118000000L) === 256,
      "100× data → wider layout, same per-bucket size as 10×'s 32")
    assert(Layouts.autoBuckets(Long.MaxValue / 4) === 4096, "small-file cap")
    assert(Layouts.autoBuckets(0L, floor = 8) === 8, "floor follows the cluster width")
    // snapped to powers of two so co-bucketed pairs stay join-compatible
    for (r <- Seq(60000L, 777777L, 50000000L))
      assert(Integer.bitCount(Layouts.autoBuckets(r)) === 1, s"$r not a pow2")
  }

  test("tableBuckets reads back the build-time count; appends must reuse it") {
    val df = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
    Layouts.save(df, "tb_probe", Some("k"))
    try {
      // the test session runs local[8]: 1000 rows → the parallelism floor
      assert(Layouts.tableBuckets(spark, "tb_probe") === 8)
      // an append reads the count back from the catalog and keeps the spec valid
      Layouts.save(df.filter(col("k") < 10), "tb_probe", Some("k"), append = true)
      assert(spark.table("tb_probe").count() === 1010)
      assert(Layouts.tableBuckets(spark, "tb_probe") === 8)
    } finally spark.sql("DROP TABLE IF EXISTS tb_probe")
  }

  test("edge layout prune drops stale fingerprints of the same dir, never other dirs") {
    import org.apache.hadoop.fs.Path
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = Layouts.dirTag(sf)
    val staleSameDir = s"graft_edges_bi_${tag}_0000000000"
    val otherDir = "graft_edges_bi_ffffff_0000000000"
    val legacy = "graft_edges_bi_0123456789"
    val live = s"graft_edges_bi_${tag}_aaaaaaaaaa"
    for (d <- Seq(staleSameDir, otherDir, legacy, live)) fs.mkdirs(new Path(wh, d))
    try {
      Layouts.pruneStale(spark, "graft_edges_bi", sf, live)
      assert(!fs.exists(new Path(wh, staleSameDir)),
        "stale same-dir fingerprint must be pruned")
      assert(!fs.exists(new Path(wh, legacy)),
        "legacy pre-round-11 names are unreachable and must be pruned")
      assert(fs.exists(new Path(wh, otherDir)),
        "another sf dir's live layout must survive")
      assert(fs.exists(new Path(wh, live)), "the current fingerprint must survive")
    } finally for (d <- Seq(staleSameDir, otherDir, legacy, live))
      fs.delete(new Path(wh, d), true)
  }

  test("shared layout prune covers multi-table prefixes (bm25/ivfpq families)") {
    import org.apache.hadoop.fs.Path
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = Layouts.dirTag(sf)
    val keep = s"graft_bm25_${tag}_aaaaaaaaaa"
    val staleOld = Seq(s"graft_bm25_${tag}_0000000000_postings",
      s"graft_bm25_${tag}_0000000000_corpus")
    val legacyOld = Seq("graft_bm25_0123456789_postings")
    val otherDir = Seq("graft_bm25_ffffff_0000000000_postings")
    val liveTables = Seq(s"${keep}_postings", s"${keep}_corpus")
    for (d <- staleOld ++ legacyOld ++ otherDir ++ liveTables)
      fs.mkdirs(new Path(wh, d))
    try {
      Layouts.pruneStale(spark, "graft_bm25", sf, keep)
      for (d <- staleOld ++ legacyOld)
        assert(!fs.exists(new Path(wh, d)), s"$d must be pruned")
      for (d <- otherDir ++ liveTables)
        assert(fs.exists(new Path(wh, d)), s"$d must survive")
    } finally for (d <- staleOld ++ legacyOld ++ otherDir ++ liveTables)
      fs.delete(new Path(wh, d), true)
  }

  test("a half-built multi-table layout is rebuilt, never served") {
    // a build that stopped after its first table leaves the layout's
    // other tables missing; the next call must rebuild, not fail on them
    import java.nio.file.{Files, Paths}
    import graft.similarity.Similarity
    import graft.text.TextAnalysis
    val tmp = Files.createTempDirectory("graft_halfbuilt_").toString
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    val tag = s"_${Layouts.dirTag(tmp)}_"
    def tables = spark.catalog.listTables().collect().map(_.name).filter(_.contains(tag))
    try {
      val bm25 = TextAnalysis.bm25Served(spark, tmp).collect().toSeq
      val termstats = tables.filter(t => t.startsWith("graft_bm25") && t.endsWith("_termstats"))
      assert(termstats.length === 1, tables.mkString(", "))
      spark.sql(s"DROP TABLE `${termstats.head}`")
      assert(TextAnalysis.bm25Served(spark, tmp).collect().toSeq === bm25,
        "BM25 rebuilt after a missing side table")

      val ann = Similarity.ivfpqServedTopK(spark, tmp).collect().toSeq
      spark.sql(s"DROP TABLE `${Similarity.ensureIndex(spark, tmp)}_centroids`")
      assert(Similarity.ivfpqServedTopK(spark, tmp).collect().toSeq === ann,
        "IVFADC rebuilt after a missing side table")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }
}
