package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{BlockMatch, Canny, Components, Ellipse, Events, Graph, HMRF, Hough, Motion, Recommend, Relational, Temporal, Vision}
import graft.sources.{AudioSource, Avi, ImageSource}
import graft.text.TextAnalysis
import graft.dedup.Dedup
import graft.similarity.Similarity

/** The query registry (SURVEY.md §7).
  *
  * `registry` is the correctness surface: one `Query` entry per
  * implemented operator family from SURVEY.md §2, carrying its
  * build function, README family and bench tag. Each SQL-expressible entry
  * also carries its DuckDB oracle, with identical column names
  * (aggregates aliased on both sides) and a deterministic ORDER BY so
  * the sorted-column hash compare is stable. Doubles are
  * rounded to fixed decimals on both sides to absorb summation-order
  * differences between engines.
  *
  * Adding a query is one registry entry: `queries`, `queryTag` and
  * `oracleSql` (defined after the registry) derive from it.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (SURVEY §7.1 minimum end-to-end slice):
    * frequent event-type pairs — scan, distinct, self-join, agg,
    * having-filter, sort. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Events.frequentPairs(spark, "/root/testdata/sf0.001", minSupport = 1L)

  type Build = (SparkSession, String) => DataFrame

  /** A query's family in the README query map: its title and the
    * module the map links. */
  sealed abstract class Family(val title: String, val module: String)
  object Family {
    private val ops = "src/main/scala/graft/operators/"
    private val text = "src/main/scala/graft/text/TextAnalysis.scala"
    case object Tpch extends Family("TPC-H-style relational", ops + "Relational.scala")
    case object Scans extends Family("Scans, DML shapes, scalar functions & grouping sets",
      ops + "Relational.scala")
    case object Windows extends Family("Window & sessionization", ops + "Relational.scala")
    case object Joins extends Family("Joins: as-of, interval, attribution", ops + "Temporal.scala")
    case object Cdc extends Family("CDC, SCD2, point-in-time & incremental MV", ops + "Temporal.scala")
    case object Graph extends Family("Graph analytics (bucketed edge layout)", ops + "Graph.scala")
    case object Dedup extends Family("Deduplication & entity resolution",
      "src/main/scala/graft/dedup/Dedup.scala")
    case object Embeddings extends Family("Embeddings: ANN ladder, semantic dedup, retrieval ops",
      "src/main/scala/graft/similarity/Similarity.scala")
    case object Retrieval extends Family("Lexical retrieval (BM25)", text)
    case object Text extends Family("Text analysis & curation", text)
    case object Mixture extends Family("Data mixture: DSIR, temperature, budgets", text)
    case object Sketches extends Family("Sketches: CMS, KMV, MG, histogram quantiles",
      ops + "Events.scala")
    case object Drift extends Family("Drift, changepoints & statistics", ops + "Events.scala")
    case object Events extends Family("Event analytics (REST-reference surface + streaming twins)",
      ops + "Events.scala")
    case object Recommend extends Family("Association rules & recommenders", ops + "Recommend.scala")
    case object Vision extends Family("Vision: Hough, ellipse, kernels, image decode",
      ops + "Vision.scala")
    case object Hmrf extends Family("HMRF-EM volume segmentation & DICOM", ops + "HMRF.scala")
    case object Motion extends Family("Motion estimation & block matching", ops + "Motion.scala")
    case object Containers extends Family("Containers: AVI/MJPEG, audio, WARC",
      "src/main/scala/graft/sources/Avi.scala")
    case object Composition extends Family("Composition & audit",
      "src/main/scala/graft/SparkEntry.scala")
  }

  /** Which surface a query belongs to; `label` is what `Bench` writes.
    *  - `Audit`: exact verification rungs, superlinear at scale BY
    *    CONTRACT (output-/resolution-bound). Each ships a scale-safe
    *    production sibling and keeps its oracle: it exists to make the
    *    sibling's recall measurable. At sf1 they were 41% of suite time
    *    (BASELINE.md round 10), so `SPARK_GRAFT_BENCH_PROFILE=production`
    *    drops them.
    *  - `Build`: index-construction rungs whose scale answer is the
    *    persisted-index serving pair; benched opt-in only.
    *  - `Production`: everything else. */
  sealed abstract class Tag(val label: String)
  object Tag {
    case object Production extends Tag("production")
    case object Audit extends Tag("audit")
    case object Build extends Tag("build")
  }

  /** One registry entry. `oracle` builds its DuckDB SQL when called;
    * None = rows-only by nature (approx/LSH/ML-trained, with a spec). */
  final case class Query(name: String, family: Family, build: Build,
      oracle: Option[() => String], tag: Tag)

  private def in(family: Family, entries: (Family => Query)*): Seq[Query] =
    entries.map(_(family))

  private def q(name: String, build: Build, tag: Tag = Tag.Production)(
      oracle: => String): Family => Query =
    Query(name, _, build, Some(() => oracle), tag)

  private def rowsOnly(name: String, build: Build, tag: Tag = Tag.Production): Family => Query =
    Query(name, _, build, None, tag)

  /** The oracle of another entry, for a sibling whose output is the
    * same relation by construction. */
  private def sameOracleAs(name: String): String = byName(name).oracle.get()

  /** Every query, one entry each, grouped by family. */
  val registry: Seq[Query] = in(Family.Tpch,
    q("q1_pricing_summary", (s, d) => Relational.pricingSummary(s, d))(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    q("q3_shipping_priority", (s, d) => Relational.shippingPriority(s, d))(
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    q("q5_local_supplier", (s, d) => Relational.localSupplierVolume(s, d))(
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    // classic decision-support shapes over the available schema subset
    q("q4_priority_late", (s, d) => Relational.priorityLateOrders(s, d))(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    q("q6_forecast_revenue", (s, d) => Relational.forecastRevenue(s, d))(
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),
    q("q7_volume_shipping", (s, d) => Relational.volumeShipping(s, d))(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    q("q8_market_share", (s, d) => Relational.marketShare(s, d))(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_1'
        |                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |        / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    q("q14_promo_revenue", (s, d) => Relational.promoRevenue(s, d))(
      """SELECT round(sum(CASE WHEN p_type = 'PROMO'
        |                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |        * 100.0 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin),
    q("q19_bounded_or", (s, d) => Relational.boundedOrRevenue(s, d))(
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 30)""".stripMargin),
    q("q10_returned_revenue", (s, d) => Relational.returnedItemRevenue(s, d))(
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    q("q13_order_distribution", (s, d) => Relational.customerOrderDistribution(s, d))(
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    q("q15_top_supplier", (s, d) => Relational.topSupplier(s, d))(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),
    q("q17_small_qty_revenue", (s, d) => Relational.smallQuantityRevenue(s, d))(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < (SELECT 0.5 * avg(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),
    q("q18_large_volume_cust", (s, d) => Relational.largeVolumeCustomers(s, d))(
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS totalprice, round(sum(l_quantity), 2) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    q("q22_wealthy_inactive", (s, d) => Relational.wealthyInactiveCustomers(s, d))(
      """SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY nation""".stripMargin),
  ) ++ in(Family.Scans,
    q("s2_point_lookup", (s, d) => Relational.pointLookup(s, d))(
      "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42"),
    q("s3_filtered_scan", (s, d) => Relational.filteredScan(s, d))(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
        |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 300000.0
        |ORDER BY o_orderkey""".stripMargin),
    q("s5_update_rewrite", (s, d) => Relational.updateRewrite(s, d))(
      """SELECT c_custkey, round(CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END, 2) AS acctbal_clamped
        |FROM customer ORDER BY c_custkey""".stripMargin),
    q("s6_anti_join", (s, d) => Relational.antiJoinNoOrders(s, d))(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin),
    // deterministic md5 sampling (north star: repeatable curation
    // samples — bit-identical across engines, runs, and cluster sizes)
    q("sample_hash", (s, d) => Relational.hashSample(s, d))(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
        |FROM orders
        |WHERE substr(md5('smp:' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY o_orderkey""".stripMargin),
    q("sample_stratified", (s, d) => Relational.stratifiedSample(s, d))(
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_sampled,
        |  round(sum(o_totalprice), 2) AS sampled_price
        |FROM orders
        |WHERE substr(md5('str:' || CAST(o_orderkey AS VARCHAR)), 1, 2) <
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN '80' ELSE '1a' END
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // weight/rate thresholds are 8-char lowercase hex (lexicographic ==
    // numeric at fixed width), so the kept SET matches Spark exactly
    q("sample_weighted", (s, d) => Relational.weightedSample(s, d))(
      """SELECT doc_id, source, round(least(1.0, n_chars / 400.0), 4) AS weight
        |FROM documents
        |WHERE least(1.0, n_chars / 400.0) >= 1.0
        |   OR substr(md5('wsmp:' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |      lpad(lower(to_hex(CAST(floor(least(1.0, n_chars / 400.0) * 4294967296) AS BIGINT))), 8, '0')
        |ORDER BY doc_id""".stripMargin),
    // ANALYZE-style per-column profile (nulls / exact distinct /
    // typed min-max) in long format — one aggregation pass. Audit:
    // exact-ANALYZE expands the scan per profiled column, 12.8×/decade
    // at the 100× anchor by contract (it exists so the HLL sibling's
    // error is measurable); the timed production row is
    // profile_orders_approx.
    q("profile_orders", (s, d) => Relational.profileOrders(s, d), Tag.Audit)(Seq(
      ("o_custkey", "num"), ("o_orderdate", "ts"), ("o_orderkey", "num"),
      ("o_orderpriority", "str"), ("o_orderstatus", "str"), ("o_totalprice", "num"))
      .map { case (c, k) =>
        val (minN, maxN) = k match {
          case "num" => (s"round(CAST(min($c) AS DOUBLE), 4)", s"round(CAST(max($c) AS DOUBLE), 4)")
          case "ts" => (s"CAST(epoch_us(min($c)) AS DOUBLE)", s"CAST(epoch_us(max($c)) AS DOUBLE)")
          case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
        }
        val (minS, maxS) =
          if (k == "str") (s"min($c)", s"max($c)")
          else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        s"""SELECT '$c' AS col_name,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $minN AS min_num, $maxN AS max_num,
           |  $minS AS min_str, $maxS AS max_str FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL ", "\nORDER BY col_name")),
    // the production profiling rung: HLL distinct (single scan, no
    // per-column EXPAND) — no oracle (estimator), bounded vs the
    // exact audit sibling by RelationalSpec
    rowsOnly("profile_orders_approx", (s, d) => Relational.profileOrdersApprox(s, d)),
    // per-class balanced sample (cap docs per lang by hash rank)
    // hash-rank order is fully deterministic (md5 then key tiebreak),
    // so the kept set is identical in both engines
    q("sample_balanced", (s, d) =>
      Relational.balancedSample(graft.Tables(s, d, "documents")
          .select("doc_id", "lang"), "lang", "doc_id", perClass = 50)
        .orderBy("lang", "doc_id"))(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 50 ORDER BY lang, doc_id""".stripMargin),
    q("a8_percentiles", (s, d) => Relational.quantityPercentiles(s, d))(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.4), 4) AS p40,
        |  round(quantile_cont(l_quantity, 0.8), 4) AS p80,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    // rows-only by nature: GK-sketch percentiles are approximate;
    // RelationalSpec bounds them against the oracled exact a8 values.
    rowsOnly("a8_approx_percentiles", (s, d) => Relational.approxQuantityPercentiles(s, d)),
    q("rollup_acctbal", (s, d) => Relational.rollupAcctbal(s, d))(
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  round(sum(c_acctbal), 2) AS total_bal, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation""".stripMargin),
    q("cube_order_status", (s, d) => Relational.cubeOrderStatus(s, d))(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin),
    q("set_ops", (s, d) => Relational.setOps(s, d))(
      """SELECT 'furniture_no_orders' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'FURNITURE'
        |  EXCEPT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'furniture_with_orders' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'FURNITURE'
        |  INTERSECT SELECT o_custkey FROM orders)
        |ORDER BY tag, c_custkey""".stripMargin),
    q("f1_segments", (s, d) => Relational.segmentStrings(s, d))(
      """SELECT c_custkey,
        |  'seg:' || coalesce(c_mktsegment, 'UNK') || '|geo:' || coalesce(n_name, 'UNK') || '|bal:' ||
        |  (CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END) AS segment
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin),
    q("f2_buckets", (s, d) => Relational.acctbalBuckets(s, d))(
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bucket,
        |  count(*) AS n, round(avg(c_acctbal), 2) AS avg_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin),
    q("f7_orders_by_month", (s, d) => Relational.ordersByMonth(s, d))(
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    q("f6_minmax_norm", (s, d) => Relational.minmaxNormalize(s, d))(
      """SELECT c_custkey, c_nationkey,
        |  round(CASE WHEN hi = lo THEN 0.0 ELSE (c_acctbal - lo) / (hi - lo) END, 4) AS bal_norm
        |FROM (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |    min(c_acctbal) OVER (PARTITION BY c_nationkey) AS lo,
        |    max(c_acctbal) OVER (PARTITION BY c_nationkey) AS hi
        |  FROM customer) t
        |ORDER BY c_custkey""".stripMargin),
    // 2-D Pareto frontier as a single window sort (not O(n²) NOT EXISTS)
    q("skyline_parts", (s, d) => Relational.skyline2d(s, d))(
      """WITH pts AS (SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part),
        |f AS (SELECT price, size,
        |        max(size) OVER (ORDER BY price ASC, size DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
        |      FROM pts)
        |SELECT p.p_partkey, round(p.p_retailprice, 2) AS price, p.p_size AS size
        |FROM part p JOIN (SELECT price, size FROM f WHERE cm IS NULL OR size > cm) k
        |  ON p.p_retailprice = k.price AND p.p_size = k.size
        |ORDER BY p.p_partkey""".stripMargin),
    // shuffle-planning diagnostic: per join key, cardinality, hot-key
    // shares, and Gini — all-integer accumulation, exact cross-engine
    q("skew_report", (s, d) => Relational.skewReport(s, d))(
      """WITH a AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        |ar AS (SELECT c, CAST(row_number() OVER (ORDER BY c, k) AS BIGINT) AS r_asc,
        |              CAST(row_number() OVER (ORDER BY c DESC, k) AS BIGINT) AS r_desc FROM a),
        |asum AS (SELECT 'lineitem.l_partkey' AS key_column, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN r_desc = 1 THEN c ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN r_desc <= 10 THEN c ELSE 0 END) AS BIGINT) AS c10,
        |  CAST(sum(r_asc * c) AS BIGINT) AS rm FROM ar),
        |b AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        |br AS (SELECT c, CAST(row_number() OVER (ORDER BY c, k) AS BIGINT) AS r_asc,
        |              CAST(row_number() OVER (ORDER BY c DESC, k) AS BIGINT) AS r_desc FROM b),
        |bsum AS (SELECT 'lineitem.l_suppkey', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT),
        |  CAST(sum(CASE WHEN r_desc = 1 THEN c ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN r_desc <= 10 THEN c ELSE 0 END) AS BIGINT),
        |  CAST(sum(r_asc * c) AS BIGINT) FROM br),
        |d AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
        |dr AS (SELECT c, CAST(row_number() OVER (ORDER BY c, k) AS BIGINT) AS r_asc,
        |              CAST(row_number() OVER (ORDER BY c DESC, k) AS BIGINT) AS r_desc FROM d),
        |dsum AS (SELECT 'orders.o_custkey', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT),
        |  CAST(sum(CASE WHEN r_desc = 1 THEN c ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN r_desc <= 10 THEN c ELSE 0 END) AS BIGINT),
        |  CAST(sum(r_asc * c) AS BIGINT) FROM dr),
        |g AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |gr AS (SELECT c, CAST(row_number() OVER (ORDER BY c, k) AS BIGINT) AS r_asc,
        |              CAST(row_number() OVER (ORDER BY c DESC, k) AS BIGINT) AS r_desc FROM g),
        |gsum AS (SELECT 'events.user_id', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT),
        |  CAST(sum(CASE WHEN r_desc = 1 THEN c ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN r_desc <= 10 THEN c ELSE 0 END) AS BIGINT),
        |  CAST(sum(r_asc * c) AS BIGINT) FROM gr),
        |u AS (SELECT * FROM asum UNION ALL SELECT * FROM bsum
        |      UNION ALL SELECT * FROM dsum UNION ALL SELECT * FROM gsum)
        |SELECT key_column, n_keys, n_rows,
        |  round(c1 / CAST(n_rows AS DOUBLE), 4) AS top1_share,
        |  round(c10 / CAST(n_rows AS DOUBLE), 4) AS top10_share,
        |  round(2.0 * rm / CAST(n_keys * n_rows AS DOUBLE)
        |        - CAST(n_keys + 1 AS DOUBLE) / n_keys, 4) AS gini
        |FROM u ORDER BY key_column""".stripMargin),
    // GROUPING SETS margins in one Expand pass (rollup/cube's general form)
    q("gsets_revenue", (s, d) => Relational.groupingSetsRevenue(s, d))(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin),
    // winsorized mean + MAD per type (exact percentile ↔ quantile_cont,
    // the a8 parity rung)
    q("robust_value_stats", (s, d) => Events.robustStatsQuery(s, d))(
      """WITH p AS (SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95,
        |    quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(e.value), 4) AS mean_raw,
        |  round(avg(least(greatest(e.value, p.p05), p.p95)), 4) AS mean_winsor,
        |  CAST(sum(CASE WHEN e.value < p.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN e.value > p.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  round(max(p.p05), 4) AS p05, round(max(p.p95), 4) AS p95,
        |  round(quantile_cont(abs(e.value - p.med), 0.5), 4) AS mad
        |FROM events e JOIN p USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
  ) ++ in(Family.Windows,
    q("w_argmax_order", (s, d) => Relational.argmaxLargestOrder(s, d))(
      """SELECT o_custkey, o_orderkey, totalprice FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    q("w_lag_delta", (s, d) => Relational.lagOrderDelta(s, d))(
      """SELECT o_custkey, o_orderkey,
        |  round(o_totalprice - lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    q("w_running_spend", (s, d) => Relational.runningCustomerSpend(s, d))(
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    // gap sessionization via the built-in session_window (batch leg;
    // streaming parity in StreamSessionsSpec)
    // Gap sessionization replay: lag + cumulative session counter. A
    // gap STRICTLY > 6h opens a new session — session_window's merge
    // boundary is inclusive (an event at exactly prev_ts + gap still
    // merges; TemporalSpec pins this).
    q("w_sessionize", (s, d) => Temporal.sessionizeQuery(s, d))(
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 6 HOUR
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin),
    // sliding windows (each event in width/slide windows, expanded
    // map-side) and calendar gap-fill (dense time spine, zero-filled)
    // Sliding-window replay: a 2h/1h window means each event belongs
    // to exactly the two windows starting at its hour and the hour
    // before (window starts are epoch-aligned to the slide, same as
    // date_trunc('hour')).
    q("w_sliding_counts", (s, d) => Temporal.slidingCountsQuery(s, d))(
      """WITH w AS (
        |  SELECT event_type, user_id,
        |    unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start
        |  FROM events)
        |SELECT epoch_us(w_start) AS window_start_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    q("w_gapfill_hours", (s, d) => Temporal.gapFillQuery(s, d))(
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |counts AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT epoch_us(s.hour) AS hour_us, t.event_type,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
        |ORDER BY 1, 2""".stripMargin),
    // equi-depth histogram via ntile over a total order
    q("w_ntile_quartiles", (s, d) => Relational.ntileQuartiles(s, d))(
      """WITH t AS (SELECT o_totalprice, ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS q FROM orders)
        |SELECT q, count(*) AS n, round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi, round(sum(o_totalprice), 2) AS total
        |FROM t GROUP BY q ORDER BY q""".stripMargin),
    // strictly-prior expanding-window z-score (streaming twin in
    // StreamAnomalySpec)
    q("w_expanding_zscore", (s, d) => Events.expandingZscoreQuery(s, d))(
      """WITH w AS (SELECT event_id, event_type, value,
        |    avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mu,
        |    stddev_samp(value) OVER (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sd
        |  FROM events)
        |SELECT event_id, event_type, round((value - mu) / sd, 4) AS z
        |FROM w WHERE sd IS NOT NULL AND sd > 0 AND abs((value - mu) / sd) > 3
        |ORDER BY event_id""".stripMargin),
  ) ++ in(Family.Joins,
    q("j_semi_join", (s, d) => Relational.semiJoinOpenOrders(s, d))(
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    q("j_outer_join", (s, d) => Relational.outerJoinNationCustomers(s, d))(
      """SELECT n_name, count(c_custkey) AS n_customers
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    q("j1_frequent_pairs", (s, d) => Events.frequentPairs(s, d))(
      """WITH ev AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS support
        |FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY support DESC, type_a, type_b""".stripMargin),
    // as-of join via the single-sort tagged-union pattern (no join
    // operator in the plan at all — see Temporal scaladoc)
    // As-of replay: running max over the tagged prior-side timestamp
    // works because ts is also the sort key (the max prior ts IS the
    // most recent). The value-based RANGE frame over epoch micros makes
    // "strictly prior" time-based — same-instant prior-type events are
    // excluded identically in both engines, no tiebreak column needed.
    q("j_asof_prior_view", (s, d) => Temporal.asofQuery(s, d))(
      """WITH pv AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
        |    CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS prior_us
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |w AS (
        |  SELECT event_id, user_id, t_us, event_type,
        |    max(prior_us) OVER (PARTITION BY user_id ORDER BY t_us
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_us
        |  FROM pv)
        |SELECT event_id, user_id, t_us AS ts_us, asof_us
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),
    // interval join bucketed to window-width epochs: candidates come
    // from an equality join on (user, bucket), never a range cross
    // The interval join's ground truth is the naive range predicate;
    // the Spark side must reproduce it exactly through its bucketed
    // candidate generation (a dropped boundary candidate hash-fails).
    q("j_range_window_count", (s, d) => Temporal.windowedCountQuery(s, d))(
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |  CAST(count(c.user_id) AS BIGINT) AS n_in_window
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |  ON c.user_id = e.user_id
        |  AND epoch_us(c.ts) <= epoch_us(e.ts)
        |  AND epoch_us(c.ts) > epoch_us(e.ts) - 86400000000
        |GROUP BY 1, 2, 3 ORDER BY e.event_id""".stripMargin),
    // first-touch attribution: earliest view in the 7d lookback via a
    // value-based RANGE frame (join-free, tie-proof by construction)
    // First-touch replay: the identical value-based RANGE frame (frame
    // bounds are values over epoch micros, so equal-ts peers resolve
    // the same way in both engines without a tiebreak).
    q("j_attr_first_touch", (s, d) => Temporal.firstTouchQuery(s, d))(
      """WITH pv AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
        |    CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS prior_us
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |w AS (
        |  SELECT event_id, user_id, event_type, t_us,
        |    min(prior_us) OVER (PARTITION BY user_id ORDER BY t_us
        |      RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING) AS first_touch_us
        |  FROM pv)
        |SELECT event_id, user_id, t_us AS ts_us, first_touch_us
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),
    // linear multi-touch attribution: per-touch credit integerized to
    // micros BEFORE the cross-conversion sum (order-free reduction)
    q("j_attr_linear", (s, d) => Temporal.linearTouchQuery(s, d))(
      """WITH conv AS (
        |  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t_us
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.conv_id, t.event_type
        |  FROM conv c JOIN touch t USING (user_id)
        |  WHERE t.t_us < c.c_us AND t.t_us >= c.c_us - 604800000000),
        |wn AS (
        |  SELECT conv_id, event_type,
        |    CAST(round(1e6 / count(*) OVER (PARTITION BY conv_id)) AS BIGINT) AS cm
        |  FROM j)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
        |  round(sum(cm) / 1e6, 4) AS credit
        |FROM wn GROUP BY 1 ORDER BY 1""".stripMargin),
  ) ++ in(Family.Cdc,
    // last-writer-wins change application (MERGE INTO kernel)
    q("cdc_apply", (s, d) => Relational.cdcApply(s, d))(
      """WITH changes AS (
        |  SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' AND o_totalprice < 5000.0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS new_bal,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |last_op AS (SELECT key, op, new_bal FROM changes WHERE rn = 1)
        |SELECT c.c_custkey,
        |  round(coalesce(l.new_bal, c.c_acctbal), 2) AS final_bal,
        |  coalesce(l.op, '-') AS last_op
        |FROM customer c LEFT JOIN last_op l ON c.c_custkey = l.key
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY c.c_custkey""".stripMargin),
    // SCD Type-2: every update opens a validity interval, the next
    // change closes it — point-in-time queryability with no table format
    q("cdc_scd2", (s, d) => Relational.cdcScd2(s, d))(
      """WITH changes AS (
        |  SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' AND o_totalprice < 5000.0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS new_bal, o_orderdate, o_orderkey,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM orders)
        |SELECT key, o_orderkey AS version_id, round(new_bal, 2) AS bal,
        |  o_orderdate AS valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM changes WHERE op = 'U'
        |ORDER BY key, valid_from, version_id""".stripMargin),
    // per-ROW point-in-time join: each fact enriched with the version
    // valid at its own timestamp (equality join on key + containment
    // filter — never a range-only join)
    q("cdc_pit_enrich", (s, d) => Relational.cdcPitEnrich(s, d))(
      """WITH changes AS (
        |  SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' AND o_totalprice < 5000.0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS new_bal, o_orderdate, o_orderkey,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM orders),
        |hist AS (
        |  SELECT key, o_orderkey AS version_id, round(new_bal, 2) AS bal,
        |    o_orderdate AS valid_from, valid_to
        |  FROM changes WHERE op = 'U')
        |SELECT f.o_orderkey, f.o_custkey AS key, h.version_id,
        |  h.bal AS bal_at_order
        |FROM orders f JOIN hist h ON f.o_custkey = h.key
        |WHERE h.valid_from <= f.o_orderdate
        |  AND (h.valid_to IS NULL OR h.valid_to > f.o_orderdate)
        |ORDER BY f.o_orderkey""".stripMargin),
    // the payoff query: reconstruct a historical snapshot from the
    // half-open intervals
    q("cdc_asof_snapshot", (s, d) => Relational.cdcAsofSnapshot(s, d))(
      """WITH changes AS (
        |  SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' AND o_totalprice < 5000.0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS new_bal, o_orderdate, o_orderkey,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM orders)
        |SELECT key, o_orderkey AS version_id, round(new_bal, 2) AS bal
        |FROM changes
        |WHERE op = 'U' AND o_orderdate <= DATE '1998-06-01'
        |  AND (valid_to IS NULL OR valid_to > DATE '1998-06-01')
        |ORDER BY key""".stripMargin),
    // incremental MV maintenance: persisted partial aggregates + delta
    // scan, merged; oracle recomputes from scratch
    q("mv_incremental", (s, d) => Relational.mvIncrementalRevenue(s, d))(
      """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
  ) ++ in(Family.Graph,
    // 5-iteration PageRank over the part<->supplier bipartite graph;
    // oracle unrolls the iteration into MATERIALIZED CTEs
    q("graph_pagerank", (s, d) => Graph.pageRank(s, d))(Graph.pageRankOracle()),
    // HITS hubs/authorities over the DIRECTED customer->supplier
    // purchase graph — two-sided centrality; relational L1 normalizer
    // (scalar crossJoin-broadcast), oracle unrolls both half-rounds
    q("graph_hits", (s, d) => Graph.hits(s, d))(Graph.hitsOracle()),
    // tolerance-driven early exit; the oracle unrolls the rounds,
    // recomputes the L1 deltas, and self-selects the same exit round,
    // so the STOPPING RULE is what the gate verifies
    q("graph_pagerank_tol", (s, d) => Graph.pageRankUntil(s, d))(
      Graph.pageRankOracle(rounds = 12, tol = Some(0.5))),
    // degree-oriented triangle count over the (hash-sampled)
    // co-purchase graph — O(m^1.5) wedge join, never Σ deg²
    q("graph_triangles", (s, d) => Graph.triangleCount(s, d))(Graph.triangleOracle),
    // min-label propagation to CONVERGENCE (oracle unrolls a safe
    // fixed bound; idempotent past the fixpoint)
    q("graph_components", (s, d) => Graph.connectedComponents(s, d))(Graph.componentsOracle()),
    // bounded k-hop BFS distances (the bound is the semantics)
    q("graph_bfs_hops", (s, d) => Graph.bfsHops(s, d))(Graph.bfsOracle()),
    // community detection: 4 synchronous LPA rounds, (count DESC, lbl)
    // argmax — the fixed round count IS the semantics (LPA can 2-cycle
    // on bipartite graphs, so only the bounded form is reproducible)
    q("graph_communities", (s, d) => Graph.labelPropagation(s, d))(Graph.labelPropagationOracle()),
    // bounded Bellman-Ford: cheapest path using <= 4 edges over
    // md5-weighted edges (first-reach is NOT final under weights, so
    // every round relaxes the settled set; delta-stepping at scale)
    q("graph_sssp", (s, d) => Graph.sssp(s, d))(Graph.ssspOracle()),
    // delta-stepping to the TRUE fixpoint; oracle = Bellman-Ford
    // unrolled past ITS fixpoint — two algorithms, one answer
    q("graph_sssp_delta", (s, d) => Graph.ssspDeltaQuery(s, d))(Graph.ssspOracle(rounds = 10)),
    // personalized PageRank: restart mass pinned to one source — the
    // "related items" proximity primitive, same per-round plan shape
    q("graph_ppr", (s, d) => Graph.personalizedPageRank(s, d))(
      Graph.pageRankOracle(source = Some("s:1"))),
    q("graph_ppr_tol", (s, d) => Graph.personalizedPageRankUntil(s, d))(
      Graph.pageRankOracle(rounds = 12, source = Some("s:1"), tol = Some(0.5))),
    // k-core peeling to a counted fixpoint (oracle unrolls a safe
    // bound; peeling past the fixpoint is a no-op)
    q("graph_kcore", (s, d) => Graph.kCore(s, d))(Graph.kCoreOracle()),
    // local clustering coefficient: oriented wedge join keeping all
    // three triangle corners; cc = one exact IEEE division of ints
    q("graph_clustering", (s, d) => Graph.clusteringCoefficient(s, d))(Graph.clusteringOracle),
    q("a13_largest_component", (s, _) => Components.largestComponentQuery(s))(
      """SELECT CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x,
        |  CAST(131 AS BIGINT) AS component, CAST(48 AS BIGINT) AS component_size
        |FROM range(2, 10) y(y), range(3, 9) x(x)
        |ORDER BY y, x""".stripMargin),
  ) ++ in(Family.Dedup,
    q("dedup_exact", (s, d) => Dedup.exactDedup(s, d))(
      """SELECT md5(lower(trim(text))) AS content_md5, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin),
    q("dedup_minhash_sig", (s, d) => Dedup.minhashSignatures(s, d))(
      ("""WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(t) < 3 THEN [text]
        |      ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(t[i+1:i+3], ' ')) END) AS shingle
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents) raw),
        |based AS (SELECT doc_id,
        |  (('0x' || substr(md5(shingle), 1, 15))::BIGINT % """.stripMargin
      + s"${Dedup.minhashPrime}) AS mhb FROM sh)\nSELECT doc_id,\n"
      + (0 until 4).map(i => s"  ${minhashMinSql(i)} AS mh$i").mkString(",\n")
      + ",\n  md5(" + (0 until 4).map(i => s"${minhashMinSql(i)}::VARCHAR")
        .mkString(" || ':' || ")
      + " ) AS band0\nFROM based GROUP BY doc_id ORDER BY doc_id")),
    q("dedup_ngram_jaccard", (s, d) => Dedup.ngramJaccardTopPairs(s, d))(
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(t) < 3 THEN [text]
        |      ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(t[i+1:i+3], ' ')) END) AS shingle
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents) raw),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) AS jaccard
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 10""".stripMargin),
    // EXACT Jaccard-threshold join via prefix filtering (all-pairs /
    // PPJoin family); oracle is the brute-force all-pairs join, so
    // any false negative from the pruning fails the gate
    q("dedup_jaccard_prefix", (s, d) => Dedup.jaccardPrefixQuery(s, d), Tag.Audit)(
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(t) < 3 THEN [text]
        |      ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(t[i+1:i+3], ' ')) END) AS shingle
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents) raw),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS inter,
        |  CAST(sa.n + sb.n - n_inter AS BIGINT) AS uni
        |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE 2 * n_inter >= (sa.n + sb.n - n_inter)
        |ORDER BY doc_a, doc_b""".stripMargin),
    q("dedup_simhash", (s, d) => Dedup.simhash(Tables(s, d, "documents")).orderBy("doc_id"))(
      ("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, """.stripMargin
        + (0 until 60).map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
        + "\n  FROM h GROUP BY doc_id)\nSELECT doc_id, ("
        + (0 until 60).map(b => s"CASE WHEN b$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE 0 END").mkString(" | ")
        + ") AS simhash FROM bits ORDER BY doc_id")),
    q("dedup_minhash_pairs", (s, d) => Dedup.minhashPairs(Tables(s, d, "documents")))(
      minhashPairsOracleSql),
    // transitive closure of the SAME pair relation via recursive CTE;
    // cluster id = min reachable doc id (matches labelGraph's labels)
    q("dedup_clusters", (s, d) => Dedup.dupClusters(Tables(s, d, "documents")))(
      (s"""WITH RECURSIVE pairs AS ($minhashPairsOracleSql),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v)
        |SELECT u AS doc_id, min(v) AS cluster, min(v) = u AS is_canonical
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin)),
    // quality-aware keeper: within each dup cluster keep the longest
    // member (ties to lowest id) — the CCNet/RefinedWeb convention —
    // instead of dupClusters' first-seen min-id rule
    q("dedup_best_keeper", (s, d) => Dedup.bestKeeperClusters(Tables(s, d, "documents")))(
      (s"""WITH RECURSIVE pairs AS ($minhashPairsOracleSql),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
        |comp AS (SELECT u AS doc_id, min(v) AS cluster FROM reach GROUP BY u),
        |scored AS (
        |  SELECT c.doc_id, c.cluster, d.n_chars
        |  FROM comp c JOIN documents d USING (doc_id)),
        |keeper AS (
        |  SELECT cluster, doc_id AS keeper_id FROM (
        |    SELECT cluster, doc_id,
        |      row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rk
        |    FROM scored) t
        |  WHERE rk = 1)
        |SELECT s.doc_id, s.cluster, k.keeper_id, s.doc_id = k.keeper_id AS is_kept
        |FROM scored s JOIN keeper k USING (cluster)
        |ORDER BY s.doc_id""".stripMargin)),
    q("dedup_simhash_pairs", (s, d) => Dedup.simhashPairs(Tables(s, d, "documents")))(
      ("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, """.stripMargin
        + (0 until 60).map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
        + "\n  FROM h GROUP BY doc_id),\nsigs AS (SELECT doc_id, ("
        + (0 until 60).map(b => s"CASE WHEN b$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE 0 END").mkString(" | ")
        + """) AS simhash FROM bits),
        |k AS (SELECT simhash, min(doc_id) AS keeper FROM sigs GROUP BY simhash),
        |reps AS (
        |  SELECT sigs.* FROM sigs JOIN k ON sigs.simhash = k.simhash AND sigs.doc_id = k.keeper),
        |banded AS (
        |""".stripMargin
        + (0 until 4).map(b =>
            s"  SELECT doc_id, simhash, $b AS band_idx, (simhash >> ${b * 15}) & 32767 AS band_key FROM reps")
          .mkString("\n  UNION ALL\n")
        + """
        |),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sig_a, b.simhash AS sig_b
        |  FROM banded a JOIN banded b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |star AS (
        |  SELECT k.keeper AS doc_a, sigs.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
        |  FROM sigs JOIN k ON sigs.simhash = k.simhash WHERE sigs.doc_id <> k.keeper)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
        |  FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 8
        |  UNION ALL SELECT * FROM star) u
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // O(delta) exact-dedup serving: delta keeper decisions against the
    // persisted fp→keeper index must equal whole-corpus exact dedup —
    // which is exactly what the oracle computes
    q("dedup_exact_served", (s, d) => Dedup.exactServedQuery(s, d))(
      """WITH fps AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
        |keepers AS (SELECT fp, min(doc_id) AS keeper FROM fps GROUP BY fp)
        |SELECT f.doc_id, k.keeper AS keeper_doc_id, k.keeper = f.doc_id AS is_kept
        |FROM fps f JOIN keepers k USING (fp)
        |WHERE f.doc_id % 10 = 9
        |ORDER BY f.doc_id""".stripMargin),
    // blocked levenshtein join over DISTINCT names with counts joined
    // back (the tokenize-once-join-back shape)
    q("dedup_fuzzy_names", (s, d) => Dedup.fuzzyPartNames(s, d))(
      """WITH names AS (
        |  SELECT p_name AS name, count(*) AS cnt, (string_split(p_name, ' '))[-1] AS block
        |  FROM part GROUP BY p_name)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  levenshtein(a.name, b.name) AS dist, a.cnt * b.cnt AS n_pairs
        |FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin),
    // pair -> cluster -> golden record: CC over the fuzzy pairs keys
    // every entity by its least member; singletons survive
    q("dedup_name_entities", (s, d) => Dedup.nameEntities(s, d))(
      """WITH RECURSIVE names AS (
        |  SELECT p_name AS name, count(*) AS cnt, (string_split(p_name, ' '))[-1] AS block
        |  FROM part GROUP BY p_name),
        |pairs AS (
        |  SELECT a.name AS name_a, b.name AS name_b
        |  FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |edges AS (SELECT name_a AS u, name_b AS v FROM pairs
        |          UNION ALL SELECT name_b, name_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
        |comp AS (SELECT u AS name, min(v) AS entity FROM reach GROUP BY u)
        |SELECT n.name, coalesce(c.entity, n.name) AS entity, n.cnt,
        |  coalesce(c.entity, n.name) = n.name AS is_canonical
        |FROM names n LEFT JOIN comp c ON n.name = c.name
        |ORDER BY n.name""".stripMargin),
  ) ++ in(Family.Embeddings,
    q("emb_knn_cosine", (s, d) => Similarity.bruteForceTopK(s, d))(
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
        |scored AS (
        |  SELECT query_id, c.vec_id AS cand_id,
        |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM q JOIN c ON c.vec_id <> q.query_id)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos_sim FROM (
        |  SELECT query_id, cand_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    // FULLY oracled despite recall < 1: the fixed-resolution (4×8)
    // hyperplane family is deterministic, so the oracle interpolates
    // the coefficients as literals and replays bucketing + candidate
    // join + exact re-rank bit-for-bit (Similarity.lshOracleSql); the
    // auto-scaled LSH ops stay rows-only (corpus-dependent planes)
    q("emb_lsh_topk", (s, d) => Similarity.lshTopK(s, d))(Similarity.lshOracleSql()),
    // rows-only by nature: the k-means coarse quantizer is not
    // SQL-expressible; SimilaritySpec proves nProbe=nlist degenerates
    // to the oracled brute force bit-for-bit and bounds recall below it.
    // Build: it trains + assigns the coarse quantizer per run, n×nlist
    // = Θ(n^1.5) under the auto rule nlist=4√n (23.9× per decade at the
    // round-12 100× anchor, vs 3.3× for the production suite). The
    // timed IVF semantics gate is emb_ivf_det_topk; the scale answer is
    // the persisted serving pair (IVFADC), as for emb_ivfpq_topk.
    rowsOnly("emb_ivf_topk", (s, d) => Similarity.ivfTopK(s, d), Tag.Build),
    q("emb_norm_stats", (s, d) => Similarity.normStats(s, d))(
      """SELECT label, count(*) AS n,
        |  round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_l2_norm
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin),
    // filtered ANN: candidates pre-filtered by a metadata join
    // (lang='en' docs only) before any distance math — exact on the
    // survivors, so fully oracled
    q("emb_filtered_topk", (s, d) => Similarity.filteredTopK(s, d))(
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
        |keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |scored AS (
        |  SELECT query_id, c.vec_id AS cand_id,
        |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM q JOIN c ON c.vec_id <> q.query_id
        |  JOIN keep ON keep.doc_id = c.vec_id)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos_sim FROM (
        |  SELECT query_id, cand_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    // int8 scalar quantization (4x memory) -> exact top-k on the
    // reconstruction; deterministic, so fully oracled
    q("emb_quantized_topk", (s, d) => Similarity.quantizedTopK(s, d))(
      """WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
        |s AS (
        |  SELECT vec_id, v0,
        |    CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
        |  FROM (SELECT vec_id, v0,
        |          list_aggregate(list_transform(v0, x -> abs(x)), 'max') AS m
        |        FROM c0)),
        |c AS (
        |  SELECT vec_id,
        |    list_transform(list_transform(v0, x -> round(x / scale)), x -> x * scale) AS v
        |  FROM s),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
        |scored AS (
        |  SELECT query_id, c.vec_id AS cand_id,
        |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM q JOIN c ON c.vec_id <> q.query_id)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cos_sim FROM (
        |  SELECT query_id, cand_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),
    // rows-only by nature: PQ-ADC scoring is approximate by
    // construction (no SQL oracle); SimilaritySpec bounds its recall
    // against the oracled brute force. Codebooks are memoized per
    // (dir, m, ksub) so repeated runs (bench reps, a serving loop)
    // measure encode + ADC scoring, not m k-means re-fits.
    rowsOnly("emb_pq_topk", (s, d) => Similarity.pqTopK(s, d)),
    // rows-only by nature (k-means coarse lists + residual codes, both
    // non-SQL-expressible); SimilaritySpec bounds recall vs brute
    // force. Training artifacts memoized per dir like emb_pq_topk, so
    // the measured path is assignment + encode + ADC — IVFADC's
    // serving steady state.
    rowsOnly("emb_ivfpq_topk", (s, d) => Similarity.ivfpqTopK(s, d), Tag.Build),
    // rows-only by nature (same approximation as emb_ivfpq_topk);
    // SimilaritySpec asserts BIT-parity with the in-memory IVFADC path
    // under the same trained artifacts. This is the SERVING shape: the
    // (list_id-bucketed) code table + centroid/codebook side tables
    // are built once per (dir, params) and every execution pays
    // LUT + probed-bucket ADC only — no re-encode of the corpus.
    rowsOnly("emb_ivfpq_served", (s, d) => Similarity.ivfpqServedTopK(s, d)),
    // rows-only by nature: bucketed near-dup is approximate (bucket
    // collisions gate candidate pairs); SimilaritySpec asserts the
    // planted duplicates are found.
    rowsOnly("emb_near_dup", (s, d) => Similarity.cosineNearDupPairs(s, d, threshold = 0.3)),
    // fixed-resolution sibling on the hash gate: pinned 4-plane family,
    // oracle replays bucketing -> pairing -> exact verify bit-for-bit
    q("emb_near_dup_det", (s, d) =>
      Similarity.cosineNearDupPairs(s, d, threshold = 0.3, nPlanes = 4), Tag.Audit)(
      Similarity.nearDupOracleSql(threshold = 0.3)),
    // semantic dedup keep-list (SemDeDup-style): exact cosine-threshold
    // graph -> CC closure -> keep lowest id per component. The exact
    // pair join is the AUDIT rung by contract (oracle = recursive-CTE
    // closure over the brute-force pair relation, so a false negative
    // anywhere in the closure fails the gate)
    q("emb_semantic_keep", (s, d) => Similarity.semanticKeep(s, d), Tag.Audit)(
      """WITH RECURSIVE c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM c),
        |pairs AS (
        |  SELECT a.vec_id AS u, b.vec_id AS w
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= CAST(0.3 AS DOUBLE)),
        |edges AS (SELECT u, w FROM pairs UNION ALL SELECT w, u FROM pairs),
        |reach(u, w) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) s
        |  UNION
        |  SELECT r.u, e.w FROM reach r JOIN edges e ON e.u = r.w),
        |comp AS (SELECT u AS vec_id, min(w) AS keep_id FROM reach GROUP BY u)
        |SELECT n.vec_id, coalesce(comp.keep_id, n.vec_id) AS keep_id,
        |  coalesce(comp.keep_id, n.vec_id) = n.vec_id AS is_kept
        |FROM n LEFT JOIN comp ON comp.vec_id = n.vec_id
        |ORDER BY n.vec_id""".stripMargin),
    // rows-only by nature: the production-scale sibling generates
    // candidate edges from LSH buckets (recall < 1); SimilaritySpec
    // pins keep-decision parity with the exact rung on planted dups
    rowsOnly("emb_semantic_keep_lsh", (s, d) => Similarity.semanticKeepLsh(s, d)),
    // deterministic seeded Lloyd k-means (integer-micro distances,
    // strided-rank init, int-sum updates) — engine-exact, so the
    // clustering itself is hash-green: the oracle replays quantize ->
    // seed -> assign -> update -> assign as unrolled CTEs
    q("emb_kmeans_clusters", (s, d) => Similarity.kmeansClusters(s, d))(
      Similarity.kmeansOracleSql()),
    // SemDeDup (cluster-then-dedup, arXiv:2303.09540): the keep
    // decision over WITHIN-CLUSTER exact-cosine edges only — pair work
    // n²/k instead of n², the published production path between the
    // exact audit rung and the LSH rung; fully oracled because the
    // deterministic k-means above is. Audit: quadratic fixed-k leg; the
    // timed production row is emb_semdedup_keep_auto.
    q("emb_semdedup_keep", (s, d) => Similarity.semanticKeepClustered(s, d), Tag.Audit)(
      Similarity.semdedupOracleSql()),
    // IVF probe semantics under a hash-green gate: same probe/re-rank
    // plan as emb_ivf_topk but on the deterministic integer quantizer,
    // so training + probing + re-rank replay bit-for-bit in SQL
    q("emb_ivf_det_topk", (s, d) => Similarity.ivfDetTopK(s, d))(Similarity.ivfDetOracleSql()),
    // rows-only by nature: the production configuration of the cluster
    // rung scales k as 2*sqrt(n) with the corpus (pair work n^1.5), so
    // the resolution floats and no fixed-literal oracle can exist; the
    // fixed-k sibling above carries the hash gate, KMeansSpec pins the
    // keep-decision semantics
    rowsOnly("emb_semdedup_keep_auto", (s, d) => Similarity.semanticKeepClusteredAuto(s, d)),
    // semantic eval-set decontamination: flag training vectors whose
    // cosine to ANY held-out eval vector (every 10th id, the
    // txt_decontaminate stand-in) reaches 0.3 — catches paraphrased
    // leakage the 13-gram exact overlap cannot see; eval side
    // broadcasts, corpus scanned once
    q("emb_decontaminate", (s, d) => Similarity.semanticDecontaminate(s, d))(
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM c),
        |ev AS (SELECT vec_id AS ev_id, v AS evv, nm AS evn FROM n WHERE vec_id % 10 = 0),
        |hits AS (
        |  SELECT t.vec_id, list_dot_product(t.v, ev.evv) / (t.nm * ev.evn) AS cos
        |  FROM n t CROSS JOIN ev WHERE t.vec_id % 10 <> 0)
        |SELECT vec_id, count(*) AS n_close, round(max(cos), 4) AS max_cos
        |FROM hits WHERE cos >= CAST(0.3 AS DOUBLE)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    // hard-negative mining (DPR/ANCE): per eval query, top-5 most
    // similar DIFFERENT-label vectors with cosine < 0.9 (near-dup cap);
    // broadcast query side, label predicate inside the join condition
    q("emb_hard_negatives", (s, d) => Similarity.hardNegatives(s, d))(
      """WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nm FROM c),
        |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, nm AS qn
        |      FROM n WHERE vec_id % 10 = 0),
        |cand AS (SELECT vec_id AS cand_id, label AS cand_label, v AS cv, nm AS cn
        |         FROM n WHERE vec_id % 10 <> 0),
        |scored AS (
        |  SELECT q.query_id, c.cand_id, c.cand_label,
        |    list_dot_product(q.qv, c.cv) / (q.qn * c.cn) AS cos
        |  FROM cand c CROSS JOIN q WHERE q.qlabel <> c.cand_label),
        |ranked AS (
        |  SELECT query_id, cand_id, cand_label, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
        |  FROM scored WHERE cos < CAST(0.9 AS DOUBLE))
        |SELECT query_id, rank, cand_id, cand_label, round(cos, 4) AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // MMR diversified re-rank over the exact top-20 candidates:
    // integer-micro rel/sim scores make the greedy argmax chain
    // engine-exact; the oracle replays all k picks as unrolled CTEs
    q("emb_mmr_rerank", (s, d) => Similarity.mmrRerank(s, d))(Similarity.mmrOracleSql()),
    // hybrid RAG retrieval: sparse (shared-token) + dense (cosine) legs
    // fused by reciprocal rank — integer leg ranks and exact IEEE
    // divisions keep the fused ordering oracle-exact
    q("search_hybrid_rrf", (s, d) => Similarity.hybridRrf(s, d))(
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
        |dense0 AS (
        |  SELECT query_id, c.vec_id AS cand_id,
        |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |  FROM q JOIN c ON c.vec_id <> q.query_id),
        |dense AS (
        |  SELECT query_id, cand_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS r_dense
        |  FROM dense0 QUALIFY r_dense <= 20),
        |tok AS (
        |  SELECT DISTINCT doc_id, t AS token
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t
        |        FROM documents)),
        |qt AS (SELECT doc_id AS query_id, token FROM tok WHERE doc_id < 5),
        |sparse0 AS (
        |  SELECT qt.query_id, tok.doc_id AS cand_id, count(*) AS n_shared
        |  FROM tok JOIN qt USING (token)
        |  WHERE qt.query_id <> tok.doc_id
        |  GROUP BY 1, 2),
        |sparse AS (
        |  SELECT query_id, cand_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY n_shared DESC, cand_id) AS r_sparse
        |  FROM sparse0 QUALIFY r_sparse <= 20),
        |fused AS (
        |  SELECT coalesce(d.query_id, s.query_id) AS query_id,
        |         coalesce(d.cand_id, s.cand_id) AS cand_id,
        |         coalesce(CAST(1 AS DOUBLE) / (60 + d.r_dense), 0)
        |           + coalesce(CAST(1 AS DOUBLE) / (60 + s.r_sparse), 0) AS rrf
        |  FROM dense d FULL OUTER JOIN sparse s
        |    ON d.query_id = s.query_id AND d.cand_id = s.cand_id)
        |SELECT query_id, rank, cand_id, round(rrf, 6) AS rrf_score FROM (
        |  SELECT query_id, cand_id, rrf,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS INTEGER) AS rank
        |  FROM fused) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // rows-only by nature: the dense leg rides the persisted IVFADC
    // index (IVF probing has recall < 1, so no exact SQL oracle can
    // exist); SimilaritySpec replays the fusion in Scala bit-for-bit
    // and bounds fused recall against the exact-dense hybrid
    rowsOnly("search_hybrid_served", (s, d) => Similarity.hybridServed(s, d)),
    // per-source quota retrieval ("diversified top-k"): at most one
    // result per documents.source, exact on surviving candidates
    q("search_topk_diverse", (s, d) => Similarity.diverseTopK(s, d))(
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM c),
        |q AS (SELECT vec_id AS query_id, v AS qv, nm AS qn FROM n WHERE vec_id < 5),
        |scored AS (
        |  SELECT query_id, n.vec_id AS cand_id,
        |    list_dot_product(qv, v) / (qn * nm) AS cos, d.source
        |  FROM q JOIN n ON n.vec_id <> q.query_id
        |  JOIN documents d ON d.doc_id = n.vec_id),
        |quota AS (
        |  SELECT query_id, cand_id, cos, source,
        |    row_number() OVER (PARTITION BY query_id, source ORDER BY cos DESC, cand_id) AS src_rank
        |  FROM scored QUALIFY src_rank <= 1)
        |SELECT query_id, rank, cand_id, source, round(cos, 4) AS cos_sim FROM (
        |  SELECT query_id, cand_id, source, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
        |  FROM quota) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
  ) ++ in(Family.Retrieval,
    // BM25 lexical top-k: per-term float work rounded to integer
    // micros BEFORE the sum, so the order-sensitive reduction runs in
    // exact integer space and the ranking is engine-deterministic
    q("search_bm25", (s, d) => TextAnalysis.bm25TopKQuery(s, d))(TextAnalysis.bm25OracleSql()),
    // BM25 over the PERSISTED inverted index (postings bucketed by
    // token + frozen stats side tables) — bit-identical to the fresh
    // tokenization, so it shares search_bm25's oracle verbatim
    q("search_bm25_served", (s, d) => TextAnalysis.bm25Served(s, d))(TextAnalysis.bm25OracleSql()),
  ) ++ in(Family.Text,
    // supervised ML as relational algebra: NB train+score+confusion
    // argmax margins are O(1e-2)+ while cross-engine libm noise on the
    // summed ln terms is ~1e-13, so the integer confusion matrix is
    // stable; MATERIALIZED keeps DuckDB from re-expanding the token CTE
    q("txt_nb_classify", (s, d) => TextAnalysis.nbClassify(s, d))(
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    substr(md5('nb:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' AS is_train,
        |    unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |counts AS MATERIALIZED (
        |  SELECT lang AS cand, token, CAST(count(*) AS BIGINT) AS c
        |  FROM toks WHERE is_train GROUP BY 1, 2),
        |totals AS (SELECT cand, CAST(sum(c) AS BIGINT) AS t FROM counts GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM toks WHERE is_train),
        |priors AS (
        |  SELECT lang AS cand, CAST(count(*) AS BIGINT) AS nd FROM documents
        |  WHERE substr(md5('nb:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' GROUP BY 1),
        |agg AS (
        |  SELECT te.doc_id, te.lang AS true_lang, l.cand,
        |    sum(ln(coalesce(co.c, 0) + 1)) AS s_tok, CAST(count(*) AS BIGINT) AS n_tok
        |  FROM toks te
        |  CROSS JOIN (SELECT cand FROM priors) l
        |  LEFT JOIN counts co ON co.cand = l.cand AND co.token = te.token
        |  WHERE NOT te.is_train
        |  GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT a.doc_id, a.true_lang, a.cand,
        |    ln(p.nd) + a.s_tok - a.n_tok * ln(t.t + v.v) AS score
        |  FROM agg a JOIN priors p ON p.cand = a.cand
        |  JOIN totals t ON t.cand = a.cand CROSS JOIN vocab v),
        |pred AS (
        |  SELECT true_lang, cand,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rk
        |  FROM scored)
        |SELECT true_lang, cand AS predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    q("txt_token_stats", (s, d) => TextAnalysis.tokenStats(s, d))(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
        |  round(list_sum(list_transform(string_split(text, ' '), x -> CAST(len(x) AS DOUBLE)))
        |    / len(string_split(text, ' ')), 4) AS avg_token_len,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    q("txt_subword_stats", (s, d) => TextAnalysis.subwordStats(s, d))(
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(
        |      regexp_replace(text, '([[:punct:]])', ' \1 ', 'g'), '\s+'),
        |      t -> len(t) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_subwords,
        |  CAST(len(list_filter(toks, t -> regexp_matches(t, '^[[:punct:]]$'))) AS INTEGER) AS n_punct,
        |  round(list_sum(list_transform(toks, t -> CAST(len(t) AS DOUBLE))) / len(toks), 4) AS avg_subword_len
        |FROM tok ORDER BY doc_id""".stripMargin),
    // corpus-order concat-and-chunk packing; distributed two-phase
    // prefix sum (range partitions + broadcast base offsets)
    q("txt_pack_sequences", (s, d) => TextAnalysis.packSequencesQuery(s, d))(
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        |  FROM d),
        |c AS (
        |  SELECT *, unnest(range("offset" // 512, ("offset" + n_tokens - 1) // 512 + 1)) AS chunk_id
        |  FROM o)
        |SELECT doc_id, n_tokens, "offset", CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(greatest(chunk_id * 512 - "offset", 0) AS BIGINT) AS tok_start,
        |  CAST(least((chunk_id + 1) * 512 - "offset", n_tokens)
        |    - greatest(chunk_id * 512 - "offset", 0) AS BIGINT) AS n_tok
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
    q("txt_quality", (s, d) => TextAnalysis.qualityScores(s, d))(
      """SELECT doc_id, n_tokens, stopword_ratio, type_token_ratio,
        |  CASE WHEN n_tokens < 20 THEN 'short' WHEN stopword_ratio > 0.2 THEN 'boilerplate' ELSE 'ok' END AS quality_class
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    round(CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS type_token_ratio
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),
    // Gopher repetition replay: same tie rule (cnt DESC, gram DESC ⇔
    // Spark max(struct(cnt, gram))); DuckDB slices are 1-based
    // inclusive-end so toks[i : i+n-1] is Spark's slice(toks, i, n).
    q("txt_repetition_stats", (s, d) => TextAnalysis.repetitionStatsQuery(s, d))(
      """WITH t AS (SELECT doc_id, n_chars,
        |  list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks FROM documents),
        |g2 AS (SELECT doc_id, array_to_string(toks[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 1], ' ') AS gram
        |       FROM t, LATERAL unnest(range(1, len(toks))) u(i)),
        |g3 AS (SELECT doc_id, array_to_string(toks[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 2], ' ') AS gram
        |       FROM t, LATERAL unnest(range(1, len(toks) - 1)) u(i)),
        |g4 AS (SELECT doc_id, array_to_string(toks[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 3], ' ') AS gram
        |       FROM t, LATERAL unnest(range(1, len(toks) - 2)) u(i)),
        |g5 AS (SELECT doc_id, array_to_string(toks[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 4], ' ') AS gram
        |       FROM t, LATERAL unnest(range(1, len(toks) - 3)) u(i)),
        |c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY ALL),
        |c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY ALL),
        |c4 AS (SELECT doc_id, gram, count(*) AS cnt FROM g4 GROUP BY ALL),
        |c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY ALL),
        |top2 AS (SELECT doc_id, cnt * len(gram) AS top2_mass FROM
        |  (SELECT doc_id, cnt, gram, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn FROM c2) WHERE rn = 1),
        |top3 AS (SELECT doc_id, cnt * len(gram) AS top3_mass FROM
        |  (SELECT doc_id, cnt, gram, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn FROM c3) WHERE rn = 1),
        |top4 AS (SELECT doc_id, cnt * len(gram) AS top4_mass FROM
        |  (SELECT doc_id, cnt, gram, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn FROM c4) WHERE rn = 1),
        |dup5 AS (SELECT doc_id,
        |    sum(CASE WHEN cnt >= 2 THEN cnt * len(gram) ELSE 0 END) AS dup5_mass
        |  FROM c5 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  round(coalesce(top2_mass, 0) / d.n_chars, 4) AS top2_frac,
        |  round(coalesce(top3_mass, 0) / d.n_chars, 4) AS top3_frac,
        |  round(coalesce(top4_mass, 0) / d.n_chars, 4) AS top4_frac,
        |  round(coalesce(dup5_mass, 0) / d.n_chars, 4) AS dup5_frac
        |FROM documents d
        |LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
        |LEFT JOIN top4 USING (doc_id) LEFT JOIN dup5 USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // vocab build (top-V, deterministic tie-break) + per-doc OOV rate
    // top-200 vocab boundary ties broken by (count DESC, token ASC) in
    // both engines, so the vocab set — and therefore every OOV count —
    // is deterministic
    q("txt_vocab_oov", (s, d) => TextAnalysis.vocabOovQuery(s, d))(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS c FROM tok GROUP BY 1
        |    ORDER BY c DESC, token LIMIT 200)),
        |j AS (
        |  SELECT t.doc_id, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t LEFT JOIN vocab v USING (token))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  round(sum(oov) * 1.0 / count(*), 4) AS oov_rate
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    // composed curation keep-list: exact-dedup keepers x quality gate
    q("txt_curation_keep", (s, d) => TextAnalysis.curationKeep(s, d))(
      """WITH keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(trim(text)))),
        |q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    round(CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS type_token_ratio
        |  FROM documents)
        |SELECT q.doc_id, q.n_tokens, q.type_token_ratio
        |FROM q JOIN keepers USING (doc_id)
        |WHERE q.n_tokens >= 20 AND q.stopword_ratio <= 0.2
        |ORDER BY q.doc_id""".stripMargin),
    // the full composition: keepers x quality MINUS holdout MINUS
    // contamination — the manifest that actually ships to training
    // Curation replay: same fingerprint (md5 of lower/trim), same
    // keeper rule (min doc_id), same quality thresholds on the ROUNDED
    // ratios as txt_quality.
    q("txt_pipeline_manifest", (s, d) => TextAnalysis.pipelineManifest(s, d))(
      pipelineManifestOracle),
    // cross-modality composition: the manifest further gated by the
    // embedding-side semantic-dedup keepers. Audit: its exact semantic
    // leg is quadratic; the timed production row is
    // txt_manifest_semantic_lsh.
    q("txt_manifest_semantic", (s, d) => TextAnalysis.pipelineManifestSemantic(s, d), Tag.Audit)(
      """WITH RECURSIVE keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(trim(text)))),
        |q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    round(CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS type_token_ratio
        |  FROM documents),
        |kept AS (
        |  SELECT q.doc_id, q.n_tokens, q.type_token_ratio
        |  FROM q JOIN keepers USING (doc_id)
        |  WHERE q.n_tokens >= 20 AND q.stopword_ratio <= 0.2 AND q.doc_id % 10 != 0),
        |tok AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, md5(array_to_string(toks[i:i+12], ' ')) AS fp
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 12)) AS i
        |        FROM tok WHERE len(toks) >= 13)),
        |bench AS (SELECT DISTINCT fp FROM grams WHERE doc_id % 10 = 0),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM grams JOIN bench USING (fp) WHERE doc_id % 10 != 0),
        |ec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM ec),
        |ep AS (
        |  SELECT a.vec_id AS u, b.vec_id AS w2
        |  FROM en a JOIN en b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= CAST(0.3 AS DOUBLE)),
        |ee AS (SELECT u, w2 FROM ep UNION ALL SELECT w2, u FROM ep),
        |reach(u, w2) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM ee) s
        |  UNION
        |  SELECT r.u, e.w2 FROM reach r JOIN ee e ON e.u = r.w2),
        |comp AS (SELECT u AS vec_id, min(w2) AS keep_id FROM reach GROUP BY u),
        |sem_kept AS (
        |  SELECT en.vec_id AS doc_id FROM en LEFT JOIN comp ON comp.vec_id = en.vec_id
        |  WHERE coalesce(comp.keep_id, en.vec_id) = en.vec_id)
        |SELECT k.doc_id, k.n_tokens, k.type_token_ratio
        |FROM kept k
        |JOIN sem_kept s ON s.doc_id = k.doc_id
        |LEFT JOIN contaminated c ON k.doc_id = c.doc_id
        |WHERE c.doc_id IS NULL
        |ORDER BY k.doc_id""".stripMargin),
    // production sibling: the same composition with the semantic leg
    // on the constant-occupancy cells rung (linear pair work); the
    // exact-leg query above is the audit rung that prices its recall
    rowsOnly("txt_manifest_semantic_lsh", (s, d) => TextAnalysis.pipelineManifestSemanticLsh(s, d)),
    // per-source data card: docs/tokens/PII/quality/dup/kept counts —
    // all integers, composing five oracled families per source
    q("txt_corpus_report", (s, d) => TextAnalysis.corpusReport(s, d))(
      """WITH aug AS (
        |  SELECT doc_id, source,
        |    text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
        |    AS aug
        |  FROM documents),
        |piic AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(aug, '[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,6}')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(aug, '555-[0-9]{4}')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(aug, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_pii
        |  FROM aug),
        |q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    round(CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS stopword_ratio
        |  FROM documents),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(trim(text)))),
        |kept AS (
        |  SELECT q.doc_id
        |  FROM q JOIN keepers USING (doc_id)
        |  WHERE q.n_tokens >= 20 AND q.stopword_ratio <= 0.2 AND q.doc_id % 10 != 0),
        |tok AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, md5(array_to_string(toks[i:i+12], ' ')) AS fp
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 12)) AS i
        |        FROM tok WHERE len(toks) >= 13)),
        |bench AS (SELECT DISTINCT fp FROM grams WHERE doc_id % 10 = 0),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM grams JOIN bench USING (fp) WHERE doc_id % 10 != 0),
        |manifest AS (
        |  SELECT k.doc_id FROM kept k LEFT JOIN contaminated c ON k.doc_id = c.doc_id
        |  WHERE c.doc_id IS NULL),
        |base AS (
        |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents)
        |SELECT b.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(b.n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(p.n_pii) AS BIGINT) AS n_pii,
        |  CAST(sum(CASE WHEN q.n_tokens >= 20 AND q.stopword_ratio <= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
        |  CAST(sum(CASE WHEN kk.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
        |  CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM base b
        |JOIN piic p USING (doc_id)
        |JOIN q USING (doc_id)
        |LEFT JOIN keepers kk ON kk.doc_id = b.doc_id
        |LEFT JOIN manifest m ON m.doc_id = b.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // within-doc sliding chunker (64-token windows, 16 overlap)
    // Chunk replay: DuckDB list slicing is 1-based INCLUSIVE-end, so
    // [k*step+1 : k*step+size] is exactly Spark's slice(toks,
    // k*step+1, size); k ranges over 0..(n-1) div step.
    q("txt_chunk_overlap", (s, d) => TextAnalysis.chunkOverlapQuery(s, d))(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |k AS (
        |  SELECT doc_id, toks, CAST(u.k AS INTEGER) AS chunk_idx
        |  FROM t, LATERAL unnest(range(0, (len(toks) - 1) // 48 + 1)) u(k)),
        |c AS (
        |  SELECT doc_id, chunk_idx,
        |    toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64] AS chunk
        |  FROM k)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(chunk) AS INTEGER) AS n_chunk_tokens,
        |  chunk[1] AS first_tok, chunk[-1] AS last_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // tf × ln(N/df) keyword extraction, top-3 per doc
    q("txt_tfidf_top", (s, d) => TextAnalysis.tfidfTopQuery(s, d))(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        |  FROM scored)
        |SELECT doc_id, token, round(score, 4) AS tfidf
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, token""".stripMargin),
    // collocations ranked by lift (= e^PMI: same order, but one
    // exactly-rounded division instead of libm ln — hash-safe)
    q("txt_pmi_bigrams", (s, d) => TextAnalysis.pmiBigramsQuery(s, d))(
      """WITH tt AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM tt)),
        |uc AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM tt) GROUP BY w),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        |tot AS (SELECT CAST((SELECT sum(c) FROM uc) AS BIGINT) AS utot,
        |               CAST((SELECT sum(c12) FROM bc) AS BIGINT) AS btot),
        |r AS (SELECT w1, w2, c12,
        |        CAST(c12 * utot * utot AS DOUBLE) / CAST(btot * u1.c * u2.c AS DOUBLE) AS lift
        |      FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w CROSS JOIN tot
        |      WHERE c12 >= 5),
        |sel AS (SELECT CAST(row_number() OVER (ORDER BY lift DESC, w1, w2) AS INTEGER) AS rk,
        |               w1, w2, c12, round(lift, 4) AS lift FROM r)
        |SELECT rk, w1, w2, c12, lift FROM sel WHERE rk <= 50 ORDER BY rk""".stripMargin),
    // hashing-trick sparse TF vectors in md5-bucket space
    q("txt_feature_hash", (s, d) => TextAnalysis.featureHashQuery(s, d))(
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 256 AS INTEGER) AS bucket,
        |  count(*) AS tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // add-α bigram LM perplexity scoring — the CCNet/Gopher-style
    // quality filter; one libm log per bigram of an exact ratio, so
    // the score is hash-stable cross-engine (see scaladoc)
    q("txt_lm_perplexity", (s, d) => TextAnalysis.lmPerplexityQuery(s, d))(
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |inst AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |         FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM tt)),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |       FROM (SELECT unnest(ws) AS w FROM tt) GROUP BY w),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM inst GROUP BY w1, w2),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
        |scored AS (
        |  SELECT i.doc_id,
        |    ln(CAST(u.c1 + 0.5 * v.v AS DOUBLE) / CAST(b.c12 + 0.5 AS DOUBLE)) AS nll_term
        |  FROM inst i
        |  JOIN bc b ON i.w1 = b.w1 AND i.w2 = b.w2
        |  JOIN uc u ON i.w1 = u.w CROSS JOIN v),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |               round(avg(nll_term), 4) AS nll
        |        FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, nll, round(exp(nll), 4) AS ppl
        |FROM agg ORDER BY doc_id""".stripMargin),
    // unigram entropy per doc (lexical diversity), ln-of-integers form
    q("txt_token_entropy", (s, d) => TextAnalysis.tokenEntropyQuery(s, d))(
      """WITH tc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // search-engine layout: token -> df/tf + sorted posting head
    q("txt_inverted_index", (s, d) => TextAnalysis.invertedIndexQuery(s, d))(
      """WITH td AS (SELECT w AS token, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2)
        |SELECT token, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',') AS postings_head
        |FROM td GROUP BY token ORDER BY token""".stripMargin),
    // capstone keep/drop with reasons: perplexity + entropy gates at
    // corpus-derived percentile thresholds
    q("txt_curation_score", (s, d) => TextAnalysis.curationScoreQuery(s, d))(
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |inst AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |         FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM tt)),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |       FROM (SELECT unnest(ws) AS w FROM tt) GROUP BY w),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM inst GROUP BY w1, w2),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
        |nllagg AS (
        |  SELECT i.doc_id, round(avg(
        |    ln(CAST(u.c1 + 0.5 * v.v AS DOUBLE) / CAST(b.c12 + 0.5 AS DOUBLE))), 4) AS nll
        |  FROM inst i JOIN bc b ON i.w1 = b.w1 AND i.w2 = b.w2
        |  JOIN uc u ON i.w1 = u.w CROSS JOIN v GROUP BY i.doc_id),
        |pplt AS (SELECT doc_id, round(exp(nll), 4) AS ppl FROM nllagg),
        |tc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2),
        |entt AS (SELECT doc_id,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
        |  FROM tc GROUP BY doc_id),
        |s AS (SELECT p.doc_id, p.ppl, e.entropy FROM pplt p JOIN entt e USING (doc_id)),
        |th AS (SELECT quantile_cont(ppl, 0.9) AS ppl_hi,
        |              quantile_cont(entropy, 0.1) AS ent_lo FROM s)
        |SELECT s.doc_id, s.ppl, s.entropy,
        |  round(th.ppl_hi, 4) AS ppl_hi, round(th.ent_lo, 4) AS ent_lo,
        |  CAST(s.ppl <= th.ppl_hi AND s.entropy >= th.ent_lo AS INTEGER) AS keep,
        |  CASE WHEN s.ppl <= th.ppl_hi AND s.entropy >= th.ent_lo THEN 'ok'
        |    ELSE concat_ws('+',
        |      CASE WHEN s.ppl > th.ppl_hi THEN 'ppl_high' END,
        |      CASE WHEN s.entropy < th.ent_lo THEN 'entropy_low' END) END AS reason
        |FROM s CROSS JOIN th ORDER BY s.doc_id""".stripMargin),
    // CCNet head/middle/tail: per-language perplexity terciles over the
    // rounded ppl relation — the quality stratification before mixing
    q("txt_ppl_buckets", (s, d) => TextAnalysis.pplBuckets(s, d))(
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |inst AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        |         FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM tt)),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |       FROM (SELECT unnest(ws) AS w FROM tt) GROUP BY w),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM inst GROUP BY w1, w2),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
        |nllagg AS (
        |  SELECT i.doc_id, round(avg(
        |    ln(CAST(u.c1 + 0.5 * v.v AS DOUBLE) / CAST(b.c12 + 0.5 AS DOUBLE))), 4) AS nll
        |  FROM inst i JOIN bc b ON i.w1 = b.w1 AND i.w2 = b.w2
        |  JOIN uc u ON i.w1 = u.w CROSS JOIN v GROUP BY i.doc_id),
        |pplt AS (SELECT doc_id, round(exp(nll), 4) AS ppl FROM nllagg),
        |j AS (SELECT p.doc_id, d.lang, p.ppl FROM pplt p JOIN documents d USING (doc_id)),
        |th AS (SELECT lang,
        |         quantile_cont(ppl, CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE)) AS t1,
        |         quantile_cont(ppl, CAST(2 AS DOUBLE)/CAST(3 AS DOUBLE)) AS t2
        |       FROM j GROUP BY lang)
        |SELECT j.doc_id, j.lang, j.ppl,
        |  round(th.t1, 4) AS t1, round(th.t2, 4) AS t2,
        |  CASE WHEN j.ppl <= th.t1 THEN 'head'
        |       WHEN j.ppl <= th.t2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM j JOIN th USING (lang) ORDER BY j.doc_id""".stripMargin),
    // per-source boilerplate (template) grams: integer doc-frequency
    // floor (denom*df >= n_docs), per-doc boilerplate ratio
    q("txt_boilerplate", (s, d) => TextAnalysis.boilerplateQuery(s, d))(
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, source, md5(array_to_string(toks[i:i+7], ' ')) AS fp
        |  FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM tok WHERE len(toks) >= 8)),
        |docfp AS MATERIALIZED (SELECT DISTINCT source, fp, doc_id FROM grams),
        |src_sizes AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_src
        |              FROM docfp GROUP BY source),
        |boiler AS (
        |  SELECT d.source, d.fp
        |  FROM (SELECT source, fp, CAST(count(*) AS BIGINT) AS df
        |        FROM docfp GROUP BY source, fp) d
        |  JOIN src_sizes s ON d.source = s.source
        |  WHERE d.df * 5 >= s.n_docs_src)
        |SELECT g.doc_id, g.source,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  round(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
        |    AS boiler_ratio
        |FROM grams g LEFT JOIN boiler b ON g.source = b.source AND g.fp = b.fp
        |GROUP BY g.doc_id, g.source ORDER BY g.doc_id""".stripMargin),
    // writer-side shard plan: seed-stable hash permutation of the
    // manifest survivors into shards + in-shard positions
    q("txt_shard_plan", (s, d) => TextAnalysis.shardPlan(s, d))(
      s"""WITH m AS (SELECT doc_id FROM ($pipelineManifestOracle) t),
        |h AS (SELECT doc_id, md5('shard:' || CAST(doc_id AS VARCHAR)) AS hx FROM m),
        |s AS (SELECT doc_id, hx,
        |        CAST(('0x' || substring(hx, 1, 8))::BIGINT % 16 AS INTEGER) AS shard
        |      FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS INTEGER) AS pos
        |FROM s ORDER BY doc_id""".stripMargin),
    // fastText-style quality classifier: 3 full-batch GD steps over
    // hashed unigrams, gradients integerized before summation — the
    // TRAINING replays bit-for-bit in the unrolled-CTE oracle
    q("txt_logreg_scores", (s, d) => TextAnalysis.logregScores(s, d))(TextAnalysis.logregOracle()),
    // BPE merge-pair vocab induction, k=10 rounds, deterministic
    // tie-break — the merge table is exactly reproducible in SQL
    // (greedy-overlap rule and all), so it is oracled end to end
    q("txt_bpe_merges", (s, d) => TextAnalysis.bpeMergesQuery(s, d))(bpeOracleSql(10)),
    // window-granular exact substring dedup + eval-set decontamination
    // on the shared n-gram fingerprint relation
    q("txt_substring_dup", (s, d) => TextAnalysis.substringDupQuery(s, d))(
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, md5(array_to_string(toks[i:i+19], ' ')) AS fp
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 19)) AS i
        |        FROM tok WHERE len(toks) >= 20)),
        |dup AS (SELECT fp FROM grams GROUP BY fp HAVING count(DISTINCT doc_id) > 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |  round(sum(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
        |    AS dup_rate
        |FROM grams g LEFT JOIN dup d ON g.fp = d.fp
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    q("txt_decontaminate", (s, d) => TextAnalysis.decontaminateQuery(s, d))(
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, md5(array_to_string(toks[i:i+12], ' ')) AS fp
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 12)) AS i
        |        FROM tok WHERE len(toks) >= 13)),
        |bench AS (SELECT DISTINCT fp FROM grams WHERE doc_id % 10 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM grams JOIN bench USING (fp)
        |WHERE doc_id % 10 != 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // span-level masking: the exact token intervals overlapping the
    // benchmark, merged by gaps-and-islands — mask these, keep the doc
    q("txt_mask_spans", (s, d) => TextAnalysis.maskContaminationQuery(s, d))(
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, i AS widx, md5(array_to_string(toks[i:i+12], ' ')) AS fp
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 12)) AS i
        |        FROM tok WHERE len(toks) >= 13)),
        |bench AS (SELECT DISTINCT fp FROM grams WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT doc_id, widx, widx + 12 AS wend
        |  FROM grams JOIN bench USING (fp)
        |  WHERE doc_id % 10 != 0),
        |isl AS (
        |  SELECT doc_id, widx, wend,
        |    CASE WHEN widx > coalesce(max(wend) OVER (PARTITION BY doc_id ORDER BY widx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2147483648) + 1
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM hits),
        |isl2 AS (
        |  SELECT doc_id, widx, wend,
        |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY widx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM isl)
        |SELECT doc_id, CAST(min(widx) AS INTEGER) AS span_start,
        |  CAST(max(wend) AS INTEGER) AS span_end,
        |  CAST(max(wend) - min(widx) + 1 AS INTEGER) AS span_tokens
        |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin),
    // same semantics behind a broadcast Bloom pre-filter (the runtime-
    // filter pattern): clean grams die before the join; exact verify
    // removes Bloom false positives. Bloom pre-filter + exact verify ≡
    // exact semi-join (no false negatives), so the oracle is the exact
    // path's SQL verbatim.
    q("txt_decontaminate_bloom", (s, d) => TextAnalysis.decontaminateBloomQuery(s, d))(
      sameOracleAs("txt_decontaminate")),
    // BPE apply: replay the learned merges over the corpus (pure map,
    // shuffle only at the per-doc aggregate) — train-then-tokenize
    q("txt_bpe_tokenize", (s, d) => TextAnalysis.bpeTokenizeQuery(s, d))(bpeTokenizeOracleSql(10)),
    q("txt_lang_stats", (s, d) => TextAnalysis.langStats(s, d))(
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    q("txt_fingerprints", (s, d) => TextAnalysis.fingerprints(s, d).select("doc_id", "md5_fp"))(
      "SELECT doc_id, md5(text) AS md5_fp FROM documents ORDER BY doc_id"),
    // PII scrub: deterministic planted spans (derived from doc_id in
    // both engines) -> detect/count/redact/fingerprint; the gate pins
    // the exact redacted string via its md5 prefix
    q("txt_pii_redact", (s, d) => TextAnalysis.piiRedact(s, d))(
      """WITH aug AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
        |    AS aug
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, aug,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(aug, '[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,6}', '<EMAIL>', 'g'),
        |        '555-[0-9]{4}', '<PHONE>', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS clean
        |  FROM aug)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[a-z0-9._%-]+@[a-z0-9.-]+\.[a-z]{2,6}')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(aug, '555-[0-9]{4}')) AS INTEGER) AS n_phone,
        |  CAST(len(regexp_extract_all(aug, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_ip,
        |  CAST(length(clean) AS INTEGER) AS clean_len,
        |  substr(md5(clean), 1, 16) AS clean_fp
        |FROM red ORDER BY doc_id""".stripMargin),
    // fully oracled after all: the heuristic is deterministic
    // relational scoring (stopword-hit counts + (score DESC, lang
    // DESC) argmax), so the oracle replays the profile table and the
    // tie-break exactly; TextSpec keeps the labeled-fixture checks
    q("txt_lang_id", (s, d) => TextAnalysis.languageId(s, d))(TextAnalysis.langIdOracleSql),
    // per-source Welch t-test vs the rest of the corpus on EXACT
    // integer sufficient statistics (one aggregate, complement by
    // subtraction) — the mean-difference leg of the testing battery
    q("stat_source_ttest", (s, d) => TextAnalysis.sourceTTest(s, d))(
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS sx,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sx) AS BIGINT) AS tsx,
        |        CAST(sum(sxx) AS BIGINT) AS tsxx FROM per),
        |j AS (
        |  SELECT p.source, p.n, p.sx, p.sxx,
        |    t.tn - p.n AS nb, t.tsx - p.sx AS sxb, t.tsxx - p.sxx AS sxxb
        |  FROM per p CROSS JOIN tot t
        |  WHERE p.n >= 2 AND t.tn - p.n >= 2),
        |c AS (
        |  SELECT source, n,
        |    CAST(sx AS DOUBLE) / n AS ma, CAST(sxb AS DOUBLE) / nb AS mb,
        |    ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)) / n AS sea,
        |    ((CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / nb) / (nb - 1)) / nb AS seb,
        |    nb
        |  FROM j)
        |SELECT source, n, round(ma, 2) AS mean_chars, round(mb, 2) AS mean_rest,
        |  round((ma - mb) / sqrt(sea + seb), 4) AS t,
        |  round((sea + seb) * (sea + seb) /
        |    (sea * sea / (n - 1) + seb * seb / (nb - 1)), 2) AS df,
        |  CAST(abs((ma - mb) / sqrt(sea + seb)) > 1.96 AS INTEGER) AS sig
        |FROM c ORDER BY source""".stripMargin),
  ) ++ in(Family.Mixture,
    q("mix_rebalance", (s, d) => TextAnalysis.mixRebalance(s, d))(
      """WITH by_src AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_before
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(chars_before) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS nsrc FROM by_src),
        |rates AS (
        |  SELECT source, n_docs, chars_before,
        |    least(1.0, (total / (2.0 * nsrc)) / chars_before) AS rate
        |  FROM by_src CROSS JOIN tot),
        |kept AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
        |  FROM documents d JOIN rates r ON d.source = r.source
        |  WHERE r.rate >= 1.0
        |     OR substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8) <
        |        lpad(lower(to_hex(CAST(floor(r.rate * 4294967296) AS BIGINT))), 8, '0')
        |  GROUP BY d.source)
        |SELECT r.source, r.n_docs, r.chars_before, round(r.rate, 4) AS rate,
        |  coalesce(k.n_kept, 0) AS n_kept, coalesce(k.chars_kept, 0) AS chars_kept
        |FROM rates r LEFT JOIN kept k ON r.source = k.source
        |ORDER BY r.source""".stripMargin),
    // multinomial temperature sampling (XLM-R/mT5 alpha=0.3): per-source
    // tempered probabilities + upsample factors — the weights table a
    // loader applies; config-sized aggregates only
    q("mix_temperature", (s, d) => TextAnalysis.mixTemperature(s, d))(
      """WITH by_src AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars FROM by_src),
        |sh AS (
        |  SELECT source, n_docs, n_chars,
        |    CAST(n_chars AS DOUBLE) / total_chars AS share,
        |    pow(CAST(n_chars AS DOUBLE) / total_chars, CAST(0.3 AS DOUBLE)) AS share_a
        |  FROM by_src CROSS JOIN tot),
        |z AS (SELECT sum(share_a) AS z FROM sh)
        |SELECT source, n_docs, n_chars, round(share, 6) AS share,
        |  round(share_a / z, 6) AS p_temp,
        |  round((share_a / z) / share, 4) AS upsample
        |FROM sh CROSS JOIN z ORDER BY source""".stripMargin),
    // budget-constrained mixture fill: mixRebalance's equal-share
    // target enforced by exact greedy prefix fill in md5 order (keyed
    // two-phase prefix scan — no per-source single-partition window)
    q("mix_budget_fill", (s, d) => TextAnalysis.budgetFill(s, d))(
      """WITH tot AS (
        |  SELECT CAST(sum(n_chars) AS BIGINT) AS total,
        |         CAST(count(DISTINCT source) AS BIGINT) AS nsrc
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, source, n_chars,
        |    md5('fill:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |pre AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        |  FROM h)
        |SELECT doc_id, source, n_chars,
        |  before < (SELECT total / (2 * nsrc) FROM tot) AS kept
        |FROM pre ORDER BY doc_id""".stripMargin),
    // DSIR importance weights: rank docs by hashed-unigram likelihood
    // ratio vs the lang='en' target slice; per-bucket log-ratio in
    // integer micros before the per-doc sum (order-free reduction)
    q("mix_dsir_weights", (s, d) => TextAnalysis.dsirWeights(s, d))(
      """WITH tf AS (
        |  SELECT doc_id, lang,
        |    CAST(CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 256 AS INTEGER) AS bucket,
        |    count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2, 3),
        |srcb AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS sb FROM tf GROUP BY 1),
        |tgtb AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS tb FROM tf WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(sb) AS BIGINT) FROM srcb) AS s_tot,
        |               (SELECT CAST(sum(tb) AS BIGINT) FROM tgtb) AS t_tot),
        |lr AS (
        |  SELECT s.bucket,
        |    CAST(round(ln(
        |      (coalesce(t.tb, 0) + CAST(0.5 AS DOUBLE)) * (tot.s_tot + CAST(128 AS DOUBLE))
        |      / ((tot.t_tot + CAST(128 AS DOUBLE)) * (s.sb + CAST(0.5 AS DOUBLE)))
        |    ) * 1e6) AS BIGINT) AS lr_micro
        |  FROM srcb s LEFT JOIN tgtb t ON t.bucket = s.bucket CROSS JOIN tot),
        |sc AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf * lr.lr_micro) AS BIGINT) AS score_micro
        |  FROM tf JOIN lr ON lr.bucket = tf.bucket GROUP BY 1)
        |SELECT rank, doc_id, score_micro FROM (
        |  SELECT doc_id, score_micro,
        |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank
        |  FROM sc) t
        |WHERE rank <= 100 ORDER BY rank""".stripMargin),
  ) ++ in(Family.Sketches,
    // KMV sketch: deterministic md5 hashing makes the approximation
    // itself oracle-checkable, estimate and error included
    q("sketch_kmv_distinct", (s, d) => Events.kmvDistinctUsers(s, d))(
      """WITH hashes AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM events),
        |stats AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hashes FROM hashes GROUP BY 1),
        |kth AS (
        |  SELECT event_type, h AS hk FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
        |    FROM hashes) r WHERE rk = 256),
        |est AS (
        |  SELECT s.event_type,
        |    round(CASE WHEN s.n_hashes < 256 THEN CAST(s.n_hashes AS DOUBLE)
        |               ELSE 255.0 * 4294967296.0 / k.hk END, 2) AS kmv_est
        |  FROM stats s LEFT JOIN kth k USING (event_type)),
        |exact AS (
        |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, x.n_exact, e.kmv_est,
        |  round(abs(e.kmv_est - x.n_exact) / x.n_exact, 4) AS rel_err
        |FROM est e JOIN exact x USING (event_type)
        |ORDER BY 1""".stripMargin),
    // count-min sketch: 4x64 md5-derived counters, estimate = min over
    // rows — fixed 256-cell summary, estimates (not just shape) oracled
    q("sketch_cms_freq", (s, d) => Events.cmsUserFreq(s, d))(
      """WITH probeset AS (
        |  SELECT user_id, r,
        |    ('0x' || substr(md5('cms' || r || ':' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS bkt
        |  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)),
        |counters AS (
        |  SELECT r, bkt, CAST(count(*) AS BIGINT) AS c
        |  FROM probeset GROUP BY 1, 2),
        |exact AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM events GROUP BY 1),
        |top AS (
        |  SELECT user_id, n_exact FROM exact
        |  ORDER BY n_exact DESC, user_id LIMIT 10),
        |probes AS (
        |  SELECT t.user_id, t.n_exact, g.r,
        |    ('0x' || substr(md5('cms' || g.r || ':' || CAST(t.user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS bkt
        |  FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) g)
        |SELECT p.user_id, p.n_exact, min(c.c) AS cms_est,
        |  min(c.c) - p.n_exact AS overcount
        |FROM probes p JOIN counters c ON p.r = c.r AND p.bkt = c.bkt
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    // equi-width histogram quantile sketch: order-free bounded state
    // (nbins longs/group), merge = vector add, error <= one bin width;
    // the only quantile sketch in the family that oracles hash-exact
    // the estimate is 255·2^32 / h_k — one IEEE division of exact
    // integers, so even the "approximate" column compares bit-equal
    q("sketch_hist_quantiles", (s, d) => Events.histQuantiles(s, d))(
      """WITH ev AS (SELECT event_type, value FROM events),
        |stats AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, min(value) AS lo, max(value) AS hi,
        |    (max(value) - min(value)) / 64.0 AS w
        |  FROM ev GROUP BY event_type),
        |binned AS (
        |  SELECT e.event_type,
        |    CAST(CASE WHEN s.w = 0 THEN 0
        |         ELSE least(floor((e.value - s.lo) / s.w), 63) END AS INTEGER) AS bin
        |  FROM ev e JOIN stats s USING (event_type)),
        |cnts AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
        |         FROM binned GROUP BY event_type, bin),
        |cum AS (SELECT event_type, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum FROM cnts),
        |targets AS (
        |  SELECT s.event_type, s.lo, s.w, q.q, q.q * s.n AS target
        |  FROM stats s CROSS JOIN
        |    (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q) q),
        |hit AS (
        |  SELECT c.event_type, t.q, t.lo, t.w, c.bin, c.cnt, c.cum, t.target,
        |    row_number() OVER (PARTITION BY c.event_type, t.q ORDER BY c.bin) AS rn
        |  FROM cum c JOIN targets t ON c.event_type = t.event_type AND c.cum >= t.target)
        |SELECT event_type, q,
        |  round(CASE WHEN w = 0 THEN lo
        |        ELSE lo + w * (bin + (target - (cum - cnt)) / cnt) END, 4) AS est
        |FROM hit WHERE rn = 1 ORDER BY event_type, q""".stripMargin),
    // KMV set algebra: union sketch = k smallest of merged hashes,
    // intersection by inclusion-exclusion — mergeability made a query
    q("sketch_kmv_setops", (s, d) => Events.kmvSetOps(s, d))(
      """WITH hashes AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM events),
        |ptstats AS (SELECT event_type, count(*) AS n_hashes FROM hashes GROUP BY 1),
        |ptkth AS (SELECT event_type, h AS hk FROM (
        |  SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
        |  FROM hashes) t WHERE rk = 256),
        |pt AS (SELECT s.event_type,
        |  CASE WHEN s.n_hashes < 256 THEN CAST(s.n_hashes AS DOUBLE)
        |       ELSE 255.0 * 4294967296.0 / k.hk END AS est
        |  FROM ptstats s LEFT JOIN ptkth k USING (event_type)),
        |pairs AS (SELECT a.event_type AS ta, b.event_type AS tb, a.est AS est_a, b.est AS est_b
        |  FROM pt a JOIN pt b ON a.event_type < b.event_type),
        |uh AS (
        |  SELECT DISTINCT ta, tb, h FROM (
        |    SELECT p.ta, p.tb, h.h FROM pairs p JOIN hashes h ON h.event_type = p.ta
        |    UNION ALL
        |    SELECT p.ta, p.tb, h.h FROM pairs p JOIN hashes h ON h.event_type = p.tb)),
        |ustats AS (SELECT ta, tb, count(*) AS n_hashes FROM uh GROUP BY 1, 2),
        |ukth AS (SELECT ta, tb, h AS hk FROM (
        |  SELECT ta, tb, h, row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rk
        |  FROM uh) t WHERE rk = 256),
        |uest AS (SELECT s.ta, s.tb,
        |  CASE WHEN s.n_hashes < 256 THEN CAST(s.n_hashes AS DOUBLE)
        |       ELSE 255.0 * 4294967296.0 / k.hk END AS est_union
        |  FROM ustats s LEFT JOIN ukth k USING (ta, tb)),
        |tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |inter AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    CAST(count(*) AS BIGINT) AS n_inter_exact
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.ta, p.tb, i.n_inter_exact,
        |  round(greatest(p.est_a + p.est_b - u.est_union, 0), 2) AS kmv_inter_est,
        |  round(u.est_union, 2) AS kmv_union_est
        |FROM pairs p JOIN uest u USING (ta, tb) JOIN inter i USING (ta, tb)
        |ORDER BY 1, 2""".stripMargin),
    // same sketch through the typed-Aggregator UDAF (bounded state,
    // map-side partial agg) — shares the relational query's oracle
    q("sketch_kmv_agg", (s, d) => Events.kmvDistinctUsersAgg(s, d))(
      sameOracleAs("sketch_kmv_distinct")),
  ) ++ in(Family.Drift,
    q("ts_anomaly_hourly", (s, d) => Events.anomalyQuery(s, d))(
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd FROM h GROUP BY 1)
        |SELECT h.event_type, h.hour, h.n, round((h.n - s.mu) / s.sd, 4) AS z
        |FROM h JOIN s USING (event_type)
        |WHERE s.sd > 0 AND abs(round((h.n - s.mu) / s.sd, 4)) > 2
        |ORDER BY h.event_type, h.hour""".stripMargin),
    // Page's CUSUM drift detector as two windows (running sum +
    // running min) in exact doubled-integer units — see scaladoc
    q("ts_cusum_changepoints", (s, d) => Events.cusumQuery(s, d))(
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |prm AS (SELECT event_type, CAST(round(avg(n), 0) AS BIGINT) AS c,
        |               CAST(round(stddev_pop(n), 0) AS BIGINT) AS s FROM h GROUP BY 1),
        |p AS (SELECT h.event_type, h.hour, h.n, prm.s,
        |        CAST(sum(2 * (h.n - prm.c) - prm.s) OVER w AS BIGINT) AS p_hi,
        |        CAST(sum(2 * (prm.c - h.n) - prm.s) OVER w AS BIGINT) AS p_lo
        |      FROM h JOIN prm USING (event_type)
        |      WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hour
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT event_type, hour, n, s,
        |        p_hi - least(0, min(p_hi) OVER w2) AS s2_hi,
        |        p_lo - least(0, min(p_lo) OVER w2) AS s2_lo
        |      FROM p
        |      WINDOW w2 AS (PARTITION BY event_type ORDER BY hour
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, hour, n,
        |  s2_hi / 2.0 AS cusum_hi, s2_lo / 2.0 AS cusum_lo,
        |  CAST(s2_hi > 8 * s AS INTEGER) AS shift_up,
        |  CAST(s2_lo > 8 * s AS INTEGER) AS shift_down
        |FROM s2 ORDER BY event_type, hour""".stripMargin),
    // two-sample KS drift per type (first vs second half of the time
    // range): exact bigint ECDF steps, Smirnov alpha=0.05 critical
    q("ts_ks_drift", (s, d) => Events.ksDriftQuery(s, d))(
      """WITH evm AS (SELECT event_type, value, epoch_us(ts) AS mu FROM events),
        |st AS (SELECT event_type, (min(mu) + max(mu)) // 2 AS mid FROM evm GROUP BY event_type),
        |sided AS (SELECT e.event_type, e.value,
        |    CAST(e.mu <= s.mid AS INTEGER) AS side1
        |  FROM evm e JOIN st s USING (event_type)),
        |pv AS (SELECT event_type, value,
        |    CAST(sum(side1) AS BIGINT) AS c1,
        |    CAST(sum(1 - side1) AS BIGINT) AS c2
        |  FROM sided GROUP BY event_type, value),
        |tot AS (SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        |        FROM pv GROUP BY event_type),
        |cumu AS (SELECT event_type, value, c1, c2,
        |    CAST(sum(c1) OVER w AS BIGINT) AS cum1,
        |    CAST(sum(c2) OVER w AS BIGINT) AS cum2
        |  FROM pv
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ks AS (SELECT c.event_type, t.n1, t.n2,
        |    max(abs(CAST(c.cum1 AS DOUBLE) / t.n1 - CAST(c.cum2 AS DOUBLE) / t.n2)) AS ks
        |  FROM cumu c JOIN tot t USING (event_type)
        |  WHERE t.n1 > 0 AND t.n2 > 0
        |  GROUP BY c.event_type, t.n1, t.n2)
        |SELECT event_type, n1, n2, round(ks, 6) AS ks,
        |  round(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6) AS crit,
        |  CAST(ks > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS INTEGER) AS drift
        |FROM ks ORDER BY event_type""".stripMargin),
    // PSI vs the first-half reference histogram: conditional-sum bin
    // state + a 64-term expression fold — binwise drift on the gate
    q("ts_psi_drift", (s, d) => Events.psiDriftQuery(s, d))(Events.psiDriftOracle()),
    // contingency-table independence screen: per-cell chi2 + totals;
    // day bucket is epoch-day mod 7 (locale-free in every engine)
    q("chi2_type_dow", (s, d) => Events.chiSquaredQuery(s, d))(
      """WITH cells AS (
        |  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS day_idx,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT day_idx, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |contrib AS (
        |  SELECT cells.event_type, cells.day_idx, cells.o,
        |    CAST(rt.r * ct.c AS DOUBLE) / nn.n AS e
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (day_idx) CROSS JOIN nn),
        |c2 AS (SELECT event_type, day_idx, o, e,
        |  round((o - e) * (o - e) / e, 4) AS cell_chi2 FROM contrib),
        |tot AS (SELECT round(sum(cell_chi2), 4) AS chi2,
        |  CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT day_idx) - 1) AS BIGINT) AS dof
        |  FROM c2)
        |SELECT event_type, day_idx, o, round(e, 4) AS expected, cell_chi2, chi2, dof
        |FROM c2 CROSS JOIN tot ORDER BY event_type, day_idx""".stripMargin),
    // first-order next-event transition matrix (sequence mining);
    // #types²-bounded output, one window sort per user
    q("markov_transitions", (s, d) => Events.markovQuery(s, d))(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |pairs AS (SELECT event_type AS cur_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT cur_type, CAST(sum(n) AS BIGINT) AS row_n FROM pairs GROUP BY 1)
        |SELECT p.cur_type, p.next_type, p.n, round(CAST(p.n AS DOUBLE) / rt.row_n, 4) AS prob
        |FROM pairs p JOIN rt USING (cur_type) ORDER BY cur_type, next_type""".stripMargin),
  ) ++ in(Family.Events,
    // recency-weighted engagement; libm-free power-of-two decay
    // decay weight 2^-age_weeks as 1.0/(1<<k): exact integer + one IEEE
    // division, no libm; ages >= 60 weeks clamp to exactly 0
    q("a_decay_engagement", (s, d) => Temporal.decayedEngagementQuery(s, d))(
      """WITH tm AS (SELECT max(epoch_us(ts)) AS tmax_us FROM events),
        |aged AS (
        |  SELECT e.user_id, e.value,
        |    (tm.tmax_us - epoch_us(e.ts)) // 604800000000 AS age_w
        |  FROM events e CROSS JOIN tm)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  sum(CAST(round(value * CASE WHEN age_w >= 60 THEN 0.0
        |    ELSE 1.0 / (CAST(1 AS BIGINT) << CAST(age_w AS INTEGER)) END * 10000)
        |    AS BIGINT)) / 10000.0 AS decayed_score
        |FROM aged GROUP BY 1 ORDER BY 1""".stripMargin),
    q("a3_top_event_types", (s, d) => Events.topEventTypes(s, d))(
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY n DESC, event_type LIMIT 5""".stripMargin),
    q("a4_distinct_users", (s, d) => Events.distinctUsersPerType(s, d))(
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    q("a7_value_stats", (s, d) => Events.valueStats(s, d))(
      """SELECT event_type, round(avg(value), 4) AS avg_value,
        |  round(stddev_pop(value), 4) AS std_pop,
        |  round(stddev_samp(value), 4) AS std_samp
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    q("a15_rate_limit", (s, d) => Events.rateLimitAdmitDeny(s, d))(
      """WITH numbered AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts) ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS admitted,
        |  CAST(sum(CASE WHEN rn > 5 THEN 1 ELSE 0 END) AS BIGINT) AS denied
        |FROM numbered GROUP BY 1 ORDER BY 1""".stripMargin),
    // rows-only by nature: HLL++ sketch counts are approximate (no
    // exact SQL oracle can exist); EventsSpec bounds the relative
    // error against the oracled exact a4 counts at < 5%.
    rowsOnly("a4_approx_distinct", (s, d) => Events.approxDistinctUsersPerType(s, d)),
    // long-to-wide pivot with EXPLICIT values (no discovery scan,
    // pinned schema) — plans as one conditional-count hash aggregate
    q("a_pivot_type_counts", (s, d) => Relational.pivotTypeCounts(s, d))(
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // wide-to-long unpivot (melt) via Expand — no join, no extra scan
    q("a_unpivot_measures", (s, d) => Relational.unpivotMeasures(s, d))(
      """WITH u AS (
        |  SELECT 'l_quantity' AS measure, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem)
        |SELECT measure, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(value), 4) AS mean,
        |  round(min(value), 4) AS vmin,
        |  round(max(value), 4) AS vmax
        |FROM u GROUP BY measure ORDER BY measure""".stripMargin),
    // strictly-ordered view->click->purchase funnel (stage counts)
    // Strictly-ordered funnel: each stage's earliest ts must FOLLOW the
    // previous stage's earliest (e.ts > prev stage min), replayed as
    // chained min-aggregate joins.
    q("funnel_stages", (s, d) => Events.funnelQuery(s, d))(
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT 1 AS stage_idx, 'view' AS stage, CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
        |UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
        |ORDER BY stage_idx""".stripMargin),
    // first-seen-week cohorts x weeks-since activity triangle
    // Weeks = epoch-micros div week-micros (exact integral division in
    // both engines; no locale week-of-year semantics).
    q("retention_cohorts", (s, d) => Events.retentionQuery(s, d))(
      """WITH active AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM active GROUP BY 1)
        |SELECT c.cohort_week, a.week - c.cohort_week AS weeks_since,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        |FROM active a JOIN cohort c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    q("f9_json_props", (s, d) => Events.jsonPropsStats(s, d))(
      """SELECT event_type, round(avg(k), 4) AS avg_k, max(k) AS max_k, count(k) AS n_with_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events) t
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    q("st2_events_per_hour", (s, d) => Events.eventsPerHour(s, d))(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
        |  count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // oracled via field extraction from the rendered docs (JSON *text*
    // is engine-specific; the parsed fields are not)
    // Semantic fields of the shaped JSON docs (the Spark side extracts
    // them back out of the rendered text; the oracle recomputes them
    // from the source columns — a shaping bug can't round-trip).
    q("s16_json_shape", (s, d) => Events.jsonShapeParsed(s, d))(
      """SELECT event_id,
        |  CAST(user_id AS VARCHAR) AS user_id, event_type,
        |  '/events/' || event_id AS link_self,
        |  '/users/' || user_id AS link_user
        |FROM events ORDER BY event_id""".stripMargin),
    // corrupt-record quarantine: null-on-malformed parse as the
    // bad-records path (deterministic md5-selected corruption)
    // json_valid is DuckDB's equivalent of from_json's null-on-malformed
    q("f9_json_quarantine", (s, d) => Events.jsonQuarantine(s, d))(
      """SELECT event_type,
        |  CAST(sum(CASE WHEN json_valid(doc) THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |  CAST(sum(CASE WHEN json_valid(doc) THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined
        |FROM (
        |  SELECT event_type,
        |    CASE WHEN substr(md5('bad:' || CAST(event_id AS VARCHAR)), 1, 2) < '1a'
        |         THEN substr(props, 1, len(props) - 1) ELSE props END AS doc
        |  FROM events) t
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // recency/frequency/monetary quintiles on the per-customer
    // aggregate; total-order tie-breaks keep ntile engine-portable
    q("rfm_segments", (s, d) => Relational.rfmSegments(s, d))(
      """WITH base AS (
        |  SELECT o_custkey AS customer, max(o_orderdate) AS last_order,
        |    CAST(count(*) AS BIGINT) AS n_orders, round(sum(o_totalprice), 2) AS total_spend
        |  FROM orders GROUP BY 1),
        |q AS (SELECT customer, last_order, n_orders, total_spend,
        |  CAST(ntile(5) OVER (ORDER BY last_order, customer) AS INTEGER) AS r_q,
        |  CAST(ntile(5) OVER (ORDER BY n_orders, customer) AS INTEGER) AS f_q,
        |  CAST(ntile(5) OVER (ORDER BY total_spend, customer) AS INTEGER) AS m_q
        |  FROM base)
        |SELECT customer, last_order, n_orders, total_spend, r_q, f_q, m_q,
        |  r_q * 100 + f_q * 10 + m_q AS segment
        |FROM q ORDER BY customer""".stripMargin),
    // top k-prefix session paths; order materialized inside the
    // aggregated struct array (never collect_list arrival order)
    q("session_paths", (s, d) => Temporal.sessionPathsQuery(s, d))(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 21600000000
        |                     THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        |p AS (SELECT array_to_string((list(event_type ORDER BY us, event_id))[1:3], '->') AS path
        |      FROM s GROUP BY user_id, sid),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY path),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INTEGER) AS rk,
        |             path, n_sessions FROM c)
        |SELECT rk, path, n_sessions FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin),
    // pairwise Pearson r / per-group OLS from explicit sufficient
    // statistics (mergeable sums — the distributable regression shape)
    q("a_corr_matrix", (s, d) => Relational.corrMatrix(s, d))(
      """WITH s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  sum(l_quantity) AS sq, sum(l_extendedprice) AS se, sum(l_discount) AS sd,
        |  sum(l_quantity*l_extendedprice) AS sqe, sum(l_quantity*l_discount) AS sqd,
        |  sum(l_extendedprice*l_discount) AS sed,
        |  sum(l_quantity*l_quantity) AS sqq, sum(l_extendedprice*l_extendedprice) AS see,
        |  sum(l_discount*l_discount) AS sdd
        |FROM lineitem)
        |SELECT 'extendedprice_discount' AS pair,
        |  round((n*sed - se*sd)/sqrt((n*see - se*se)*(n*sdd - sd*sd)), 4) AS r FROM s
        |UNION ALL
        |SELECT 'quantity_discount', round((n*sqd - sq*sd)/sqrt((n*sqq - sq*sq)*(n*sdd - sd*sd)), 4) FROM s
        |UNION ALL
        |SELECT 'quantity_extendedprice', round((n*sqe - sq*se)/sqrt((n*sqq - sq*sq)*(n*see - se*se)), 4) FROM s
        |ORDER BY pair""".stripMargin),
    q("a_linreg_flag", (s, d) => Relational.linregByFlag(s, d))(
      """WITH s AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |  sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
        |  sum(l_quantity*l_extendedprice) AS sxy, sum(l_quantity*l_quantity) AS sxx
        |FROM lineitem GROUP BY l_returnflag),
        |k AS (SELECT l_returnflag, n, (n*sxy - sx*sy)/(n*sxx - sx*sx) AS slope, sx, sy FROM s)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n, round(slope, 4) AS slope,
        |  round((sy - slope*sx)/n, 4) AS intercept
        |FROM k ORDER BY l_returnflag""".stripMargin),
    // CEP-lite: per-user event-initial string + non-overlapping regex
    // count of the v+c+p funnel — repeated conversions, full regex power
    q("cep_pattern_counts", (s, d) => Events.cepQuery(s, d))(Events.cepOracle()),
  ) ++ in(Family.Recommend,
    // FPGrowth restricted to size-2 itemsets computes exactly the pair
    // counts of j1 (freq of {a,b} = #users whose distinct-type set
    // contains both), so it shares the same oracle text.
    q("fp_growth_pairs", (s, d) => Events.frequentPairsFP(s, d))(
      sameOracleAs("j1_frequent_pairs")),
    // item-item CF: basket cosine top-k (sqrt/div are IEEE-exact, so
    // the float ranking is engine-stable — unlike ln-based scores)
    q("rec_item_neighbors", (s, d) => Recommend.itemNeighbors(s, d))(
      """WITH baskets AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ic AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY 1),
        |co AS (
        |  SELECT a.p AS pi, b.p AS pj, CAST(count(*) AS BIGINT) AS c_ij
        |  FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT pi, pj, c_ij FROM co
        |  UNION ALL SELECT pj, pi, c_ij FROM co),
        |scored AS (
        |  SELECT s.pi, s.pj, s.c_ij,
        |    s.c_ij / sqrt(CAST(i.c * j.c AS DOUBLE)) AS cosine
        |  FROM sym s JOIN ic i ON i.p = s.pi JOIN ic j ON j.p = s.pj),
        |ranked AS (
        |  SELECT pi, pj, c_ij, cosine,
        |    CAST(row_number() OVER (PARTITION BY pi ORDER BY cosine DESC, pj) AS INTEGER) AS rk
        |  FROM scored)
        |SELECT pi AS part, rk, pj AS neighbor, c_ij AS n_co, round(cosine, 4) AS cosine
        |FROM ranked WHERE rk <= 10 ORDER BY part, rk""".stripMargin),
    // per-customer top-3 from the neighbor model; score summed in
    // integer basis points so ranking is addition-order independent
    q("rec_user_topn", (s, d) => Recommend.userTopN(s, d))(
      """WITH baskets AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ic AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY 1),
        |co AS (
        |  SELECT a.p AS pi, b.p AS pj, CAST(count(*) AS BIGINT) AS c_ij
        |  FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT pi, pj, c_ij FROM co UNION ALL SELECT pj, pi, c_ij FROM co),
        |nbr AS (
        |  SELECT pi AS part, pj AS neighbor,
        |    CAST(round(round(s.c_ij / sqrt(CAST(i.c * j.c AS DOUBLE)), 4) * 10000, 0) AS BIGINT) AS bp,
        |    row_number() OVER (PARTITION BY pi
        |      ORDER BY s.c_ij / sqrt(CAST(i.c * j.c AS DOUBLE)) DESC, pj) AS rk
        |  FROM sym s JOIN ic i ON i.p = s.pi JOIN ic j ON j.p = s.pj),
        |up AS (SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS p
        |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |scored AS (
        |  SELECT up.cust, nbr.neighbor, sum(nbr.bp) AS score_bp,
        |    CAST(count(*) AS BIGINT) AS n_contrib
        |  FROM up JOIN nbr ON up.p = nbr.part AND nbr.rk <= 10
        |  GROUP BY 1, 2),
        |novel AS (
        |  SELECT s.* FROM scored s
        |  WHERE NOT EXISTS (SELECT 1 FROM up WHERE up.cust = s.cust AND up.p = s.neighbor)),
        |ranked AS (
        |  SELECT cust, neighbor, score_bp, n_contrib,
        |    CAST(row_number() OVER (PARTITION BY cust
        |      ORDER BY score_bp DESC, neighbor) AS INTEGER) AS rk
        |  FROM novel)
        |SELECT cust AS customer, rk, neighbor AS part, n_contrib,
        |  score_bp / 10000.0 AS score
        |FROM ranked WHERE rk <= 3 ORDER BY customer, rk""".stripMargin),
    // directed A->B rules over co-purchases: confidence + lift, both
    // single exact divisions of integers (no ranking hazard)
    q("assoc_rules", (s, d) => Recommend.associationRules(s, d))(
      """WITH baskets AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM baskets),
        |ic AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY 1),
        |co AS (SELECT a.p AS pi, b.p AS pj, CAST(count(*) AS BIGINT) AS c_ij
        |  FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |dr AS (SELECT pi, pj, c_ij FROM co UNION ALL SELECT pj, pi, c_ij FROM co)
        |SELECT d.pi AS antecedent, d.pj AS consequent, d.c_ij AS support,
        |  round(CAST(d.c_ij AS DOUBLE) / i.c, 4) AS confidence,
        |  round(CAST(d.c_ij * nb.n_baskets AS DOUBLE) / CAST(i.c * j.c AS DOUBLE), 4) AS lift
        |FROM dr d JOIN ic i ON i.p = d.pi JOIN ic j ON j.p = d.pj CROSS JOIN nb
        |ORDER BY antecedent, consequent""".stripMargin),
  ) ++ in(Family.Vision,
    q("hough_best_circle", (s, _) => Hough.bestCircleQuery(s))(
      """WITH img AS (
        |  SELECT CAST(k AS INTEGER) AS img_id,
        |    30 + 3 * CAST(k AS INTEGER) AS cy, 40 + 2 * CAST(k AS INTEGER) AS cx
        |  FROM range(0, 6) t(k)),
        |edges AS MATERIALIZED (
        |  SELECT i.img_id, CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x
        |  FROM img i, range(0, 96) y(y), range(0, 96) x(x)
        |  WHERE abs(sqrt(CAST((y.y - i.cy) * (y.y - i.cy) + (x.x - i.cx) * (x.x - i.cx) AS DOUBLE)) - 20) < 0.5),
        |probe AS (
        |  SELECT e.img_id, e.y, e.x, CAST(x0.x0 AS INTEGER) AS x0,
        |    400 - (e.x - x0.x0) * (e.x - x0.x0) AS dy_sq
        |  FROM edges e JOIN range(0, 96) x0(x0)
        |    ON x0.x0 BETWEEN e.x - 20 AND e.x + 20),
        |votes AS MATERIALIZED (
        |  SELECT img_id, y0, x0, count(*) AS votes FROM (
        |    SELECT p.img_id, CAST(round(p.y + s.sgn * sqrt(p.dy_sq)) AS INTEGER) AS y0, p.x0
        |    FROM probe p CROSS JOIN (SELECT -1.0 AS sgn UNION ALL SELECT 1.0 AS sgn) s
        |    WHERE p.dy_sq >= 0) t
        |  WHERE y0 BETWEEN 0 AND 95
        |  GROUP BY 1, 2, 3),
        |nms AS (
        |  SELECT v.img_id, v.y0, v.x0, v.votes
        |  FROM votes v LEFT JOIN votes n ON n.img_id = v.img_id
        |    AND n.y0 BETWEEN v.y0 - 1 AND v.y0 + 1
        |    AND n.x0 BETWEEN v.x0 - 1 AND v.x0 + 1
        |    AND NOT (n.y0 = v.y0 AND n.x0 = v.x0)
        |  GROUP BY 1, 2, 3, 4
        |  HAVING v.votes >= coalesce(max(n.votes), 0) AND v.votes >= 12)
        |SELECT img_id, y0, x0, votes FROM (
        |  SELECT *, row_number() OVER (PARTITION BY img_id ORDER BY votes DESC, y0, x0) AS rn
        |  FROM nms) t
        |WHERE rn = 1 ORDER BY img_id""".stripMargin),
    q("u2_otsu", (s, _) => Vision.otsuQuery(s))(
      """WITH px AS MATERIALIZED (
        |  SELECT CAST(k.k AS INTEGER) AS img_id, CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x,
        |    (CASE WHEN y.y BETWEEN 12 AND 35 AND x.x BETWEEN 16 AND 47 THEN 200 ELSE 40 + k.k * 3 END
        |     + (x.x * 11 + y.y * 17 + k.k * 7) % 41 - 20) AS v
        |  FROM range(0, 4) k(k), range(0, 48) y(y), range(0, 64) x(x)),
        |hist AS (SELECT img_id, v, count(*) AS n FROM px GROUP BY 1, 2),
        |cum AS (
        |  SELECT img_id, v, n,
        |    sum(n) OVER (PARTITION BY img_id ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    sum(n * v) OVER (PARTITION BY img_id ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
        |    sum(n) OVER (PARTITION BY img_id) AS tot_n,
        |    sum(n * v) OVER (PARTITION BY img_id) AS tot_s
        |  FROM hist),
        |scored AS (
        |  SELECT img_id, v,
        |    cum_n * (tot_n - cum_n) * ((cum_s * 1.0 / cum_n) - ((tot_s - cum_s) * 1.0 / (tot_n - cum_n)))
        |      * ((cum_s * 1.0 / cum_n) - ((tot_s - cum_s) * 1.0 / (tot_n - cum_n))) AS sigma_b
        |  FROM cum WHERE cum_n > 0 AND cum_n < tot_n),
        |best AS (
        |  SELECT img_id, CAST(v AS INTEGER) AS threshold FROM (
        |    SELECT *, row_number() OVER (PARTITION BY img_id ORDER BY sigma_b DESC, v) AS rn
        |    FROM scored) WHERE rn = 1)
        |SELECT p.img_id, b.threshold,
        |  CAST(sum(CASE WHEN p.v <= b.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN p.v > b.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM px p JOIN best b ON p.img_id = b.img_id
        |GROUP BY 1, 2 ORDER BY p.img_id""".stripMargin),
    q("u2_sobel", (s, _) => Vision.sobelQuery(s))(
      """WITH px AS MATERIALIZED (
        |  SELECT CAST(k.k AS INTEGER) AS img_id, CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x,
        |    (CASE WHEN y.y BETWEEN 12 AND 35 AND x.x BETWEEN 16 AND 47 THEN 200 ELSE 40 + k.k * 3 END
        |     + (x.x * 11 + y.y * 17 + k.k * 7) % 41 - 20) AS v
        |  FROM range(0, 4) k(k), range(0, 48) y(y), range(0, 64) x(x)),
        |kern AS (
        |  SELECT dy.dy, dx.dx,
        |    dx.dx * (CASE WHEN dy.dy = 0 THEN 2 ELSE 1 END) AS wx,
        |    dy.dy * (CASE WHEN dx.dx = 0 THEN 2 ELSE 1 END) AS wy
        |  FROM range(-1, 2) dy(dy), range(-1, 2) dx(dx)),
        |taps AS (
        |  SELECT p.img_id, p.y + k.dy AS cy, p.x + k.dx AS cx,
        |    p.v * k.wx AS tx, p.v * k.wy AS ty
        |  FROM px p CROSS JOIN kern k),
        |grad AS (
        |  SELECT img_id, cy, cx, sum(tx) AS gx, sum(ty) AS gy,
        |    sqrt(CAST(sum(tx) * sum(tx) + sum(ty) * sum(ty) AS DOUBLE)) AS gmag
        |  FROM taps WHERE cy BETWEEN 1 AND 46 AND cx BETWEEN 1 AND 62
        |  GROUP BY 1, 2, 3)
        |SELECT img_id, count(*) AS n_interior, round(avg(gmag), 4) AS avg_gmag,
        |  CAST(max(abs(gx)) AS BIGINT) AS max_abs_gx, CAST(max(abs(gy)) AS BIGINT) AS max_abs_gy
        |FROM grad GROUP BY 1 ORDER BY img_id""".stripMargin),
    // Full Canny replay: Sobel → trig-free direction-sector NMS (the
    // tan(22.5°)/tan(67.5°) literals are identical doubles in both
    // engines, so sector choice is pure IEEE arithmetic) → L1 double
    // threshold → hysteresis as recursive reachability from strong
    // cells (the SQL form of the Spark side's CC-contains-strong).
    q("u2_canny", (s, _) => Canny.cannyQuery(s))(
      """WITH RECURSIVE px AS MATERIALIZED (
        |  SELECT CAST(k.k AS INTEGER) AS img_id, CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x,
        |    (CASE WHEN y.y BETWEEN 10 AND 30 AND x.x BETWEEN 10 AND 30 THEN 200
        |          WHEN y.y BETWEEN 14 AND 24 AND x.x BETWEEN 31 AND 45 THEN 90
        |          WHEN y.y BETWEEN 36 AND 42 AND x.x BETWEEN 48 AND 58 THEN 90
        |          ELSE 40 END
        |     + (x.x * 11 + y.y * 17 + k.k * 7) % 9 - 4) AS v
        |  FROM range(0, 2) k(k), range(0, 48) y(y), range(0, 64) x(x)),
        |kern AS (
        |  SELECT dy.dy, dx.dx,
        |    dx.dx * (CASE WHEN dy.dy = 0 THEN 2 ELSE 1 END) AS wx,
        |    dy.dy * (CASE WHEN dx.dx = 0 THEN 2 ELSE 1 END) AS wy
        |  FROM range(-1, 2) dy(dy), range(-1, 2) dx(dx)),
        |taps AS (
        |  SELECT p.img_id, p.y + k.dy AS cy, p.x + k.dx AS cx,
        |    p.v * k.wx AS tx, p.v * k.wy AS ty
        |  FROM px p CROSS JOIN kern k),
        |grad AS MATERIALIZED (
        |  SELECT img_id, cy AS y, cx AS x,
        |    CAST(sum(tx) AS BIGINT) AS gx, CAST(sum(ty) AS BIGINT) AS gy
        |  FROM taps WHERE cy BETWEEN 1 AND 46 AND cx BETWEEN 1 AND 62
        |  GROUP BY 1, 2, 3),
        |dirs AS MATERIALIZED (
        |  SELECT img_id, y, x, abs(gx) + abs(gy) AS m,
        |    CASE WHEN CAST(abs(gy) AS DOUBLE) <= CAST(abs(gx) AS DOUBLE) * 0.41421356237309503
        |      THEN 0 ELSE 1 END AS dy,
        |    CASE WHEN CAST(abs(gy) AS DOUBLE) <= CAST(abs(gx) AS DOUBLE) * 0.41421356237309503 THEN 1
        |         WHEN CAST(abs(gy) AS DOUBLE) >= CAST(abs(gx) AS DOUBLE) * 2.414213562373095 THEN 0
        |         WHEN gx * gy >= 0 THEN 1 ELSE -1 END AS dx
        |  FROM grad),
        |keys AS MATERIALIZED (
        |  SELECT img_id, y, x, m,
        |    y + dy AS py, x + dx AS px_, y - dy AS my, x - dx AS mx
        |  FROM dirs),
        |nms AS MATERIALIZED (
        |  SELECT k.img_id, k.y, k.x, k.m, k.m > 400 AS is_strong
        |  FROM keys k
        |  LEFT JOIN dirs p ON p.img_id = k.img_id AND p.y = k.py AND p.x = k.px_
        |  LEFT JOIN dirs q ON q.img_id = k.img_id AND q.y = k.my AND q.x = k.mx
        |  WHERE k.m > coalesce(q.m, 0) AND k.m >= coalesce(p.m, 0) AND k.m > 100),
        |reach(img_id, y, x) AS (
        |  SELECT img_id, y, x FROM nms WHERE is_strong
        |  UNION
        |  SELECT w.img_id, w.y, w.x FROM reach r JOIN nms w
        |    ON w.img_id = r.img_id AND abs(w.y - r.y) <= 1 AND abs(w.x - r.x) <= 1)
        |SELECT n.img_id, n.y, n.x, CAST(n.m AS BIGINT) AS m
        |FROM nms n JOIN reach USING (img_id, y, x)
        |ORDER BY img_id, y, x""".stripMargin),
    // CLAHE / bilateral replays are likewise generated with shared
    // integer constants and injected JVM double literals.
    q("u2_clahe", (s, _) => Vision.claheQuery(s))(Vision.claheOracleSql),
    q("u2_bilateral", (s, _) => Vision.bilateralQuery(s))(Vision.bilateralOracleSql),
    // Generated from the same Shape constants + JVM doubles as the
    // Spark plan (Ellipse.bestEllipseOracleSql) — scene, Sobel, CC
    // closure, moment fit, gates and the 96-point 3-leg scoring are all
    // pure IEEE arithmetic on identical literals in both engines.
    q("ellipse_best_candidate", (s, _) => Ellipse.bestEllipseQuery(s))(
      Ellipse.bestEllipseOracleSql),
    q("img_decode_stats", (s, _) => ImageSource.imgDecodeStatsQuery(s))(
      """SELECT CAST(k.k AS INTEGER) AS img_id, 64 AS width, 48 AS height,
        |  count(*) AS n_pixels,
        |  round(avg((x.x * 7 + y.y * 13 + k.k * 31) % 256), 4) AS mean_v,
        |  CAST(min((x.x * 7 + y.y * 13 + k.k * 31) % 256) AS INTEGER) AS min_v,
        |  CAST(max((x.x * 7 + y.y * 13 + k.k * 31) % 256) AS INTEGER) AS max_v
        |FROM range(0, 8) k(k), range(0, 48) y(y), range(0, 64) x(x)
        |GROUP BY 1 ORDER BY img_id""".stripMargin),
    // image-modality near-dup: integer-exact average-hash (aHash) over
    // decoded PNGs; oracle recomputes hashes from the pixel formula,
    // so a decode OR hashing bug cannot hash-match
    q("img_ahash_pairs", (s, _) => ImageSource.ahashPairsQuery(s))(
      """WITH pxbase AS (
        |  SELECT CAST(k.k AS INTEGER) AS img_id, y.y AS y, x.x AS x,
        |    (x.x * 7 + y.y * 13 + k.k * 31) % 256 AS v
        |  FROM range(0, 8) k(k), range(0, 48) y(y), range(0, 64) x(x)),
        |pxdup AS (
        |  SELECT CAST(100 + k.k AS INTEGER) AS img_id, y.y AS y, x.x AS x,
        |    CASE WHEN y.y = 0 AND x.x = 0
        |         THEN (x.x * 7 + y.y * 13 + k.k * 31) % 256 + 1
        |         ELSE (x.x * 7 + y.y * 13 + k.k * 31) % 256 END AS v
        |  FROM range(0, 2) k(k), range(0, 48) y(y), range(0, 64) x(x)),
        |px AS (SELECT * FROM pxbase UNION ALL SELECT * FROM pxdup),
        |blocks AS (
        |  SELECT img_id, (y // 6) * 8 + (x // 8) AS block, sum(v) AS bsum
        |  FROM px GROUP BY 1, 2),
        |totals AS (SELECT img_id, sum(v) AS tsum FROM px GROUP BY 1),
        |bits AS (
        |  SELECT b.img_id, b.block,
        |    CASE WHEN b.bsum * 64 > t.tsum THEN 1 ELSE 0 END AS bit
        |  FROM blocks b JOIN totals t USING (img_id)),
        |sigs AS (
        |  SELECT img_id,
        |    CAST(sum(CASE WHEN block < 32 THEN bit * (1::BIGINT << block) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN block >= 32 THEN bit * (1::BIGINT << (block - 32)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY 1)
        |SELECT a.img_id AS img_a, b.img_id AS img_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
        |FROM sigs a JOIN sigs b ON a.img_id < b.img_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 10
        |ORDER BY 1, 2""".stripMargin),
  ) ++ in(Family.Hmrf,
    q("hmrf_estep_stats", (s, _) => HMRF.estepClassStatsQuery(s))(
      """WITH vox AS (
        |  SELECT CAST(z.z AS INTEGER) AS z, CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x,
        |    (z.z - 8) * (z.z - 8) * 1.5 + (y.y - 12) * (y.y - 12) + (x.x - 12) * (x.x - 12) AS d2
        |  FROM range(0, 16) z(z), range(0, 24) y(y), range(0, 24) x(x)),
        |masked AS (
        |  SELECT z, y, x,
        |    CASE WHEN d2 < 23.52 THEN 0 WHEN d2 < 37.3919 THEN 1 ELSE 2 END AS tl
        |  FROM vox WHERE d2 < 49),
        |v AS (
        |  SELECT z, y, x,
        |    0.25 + tl * 0.25 + ((z * 73 + y * 179 + x * 283 + 9337) % 2000 - 1000) / 1000.0 * 0.13 AS intensity
        |  FROM masked),
        |e AS (
        |  SELECT intensity,
        |    (intensity - 0.25) * (intensity - 0.25) * 0.5 / 0.010001 AS e0,
        |    (intensity - 0.5) * (intensity - 0.5) * 0.5 / 0.010001 AS e1,
        |    (intensity - 0.75) * (intensity - 0.75) * 0.5 / 0.010001 AS e2
        |  FROM v),
        |lab AS (
        |  SELECT intensity,
        |    CASE WHEN e0 <= e1 AND e0 <= e2 THEN 0 WHEN e1 <= e2 THEN 1 ELSE 2 END AS label
        |  FROM e)
        |SELECT label, count(*) AS n_voxels, round(avg(intensity), 4) AS mean_intensity,
        |  round(var_pop(intensity), 6) AS var_intensity
        |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin),
    // posterior heatmaps (posterior_slice_2d): softmax over NLL +
    // Potts neighbor energy on the mid slice, K posterior columns
    q("hmrf_posterior_mid", (s, _) => HMRF.posteriorMidQuery(s))(
      """WITH vox AS (
        |  SELECT CAST(z.z AS INTEGER) AS z, CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x,
        |    (z.z - 8) * (z.z - 8) * 1.5 + (y.y - 12) * (y.y - 12) + (x.x - 12) * (x.x - 12) AS d2
        |  FROM range(0, 16) z(z), range(0, 24) y(y), range(0, 24) x(x)),
        |masked AS (
        |  SELECT z, y, x,
        |    CASE WHEN d2 < 23.52 THEN 0 WHEN d2 < 37.3919 THEN 1 ELSE 2 END AS tl
        |  FROM vox WHERE d2 < 49),
        |v AS (
        |  SELECT y, x,
        |    0.25 + tl * 0.25 + ((z * 73 + y * 179 + x * 283 + 9337) % 2000 - 1000) / 1000.0 * 0.13 AS intensity
        |  FROM masked WHERE z = 8),
        |e AS (
        |  SELECT y, x, intensity,
        |    (intensity - 0.25) * (intensity - 0.25) * 0.5 / 0.010001 AS e0,
        |    (intensity - 0.5) * (intensity - 0.5) * 0.5 / 0.010001 AS e1,
        |    (intensity - 0.75) * (intensity - 0.75) * 0.5 / 0.010001 AS e2
        |  FROM v),
        |lab AS (
        |  SELECT y, x, intensity,
        |    CASE WHEN e0 <= e1 AND e0 <= e2 THEN 0 WHEN e1 <= e2 THEN 1 ELSE 2 END AS label
        |  FROM e),
        |nb AS (
        |  SELECT a.y, a.x, count(*) AS n_nb,
        |    sum(CASE WHEN b.label = 0 THEN 1 ELSE 0 END) AS c0,
        |    sum(CASE WHEN b.label = 1 THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN b.label = 2 THEN 1 ELSE 0 END) AS c2
        |  FROM lab a JOIN lab b ON abs(a.y - b.y) + abs(a.x - b.x) = 1
        |  GROUP BY a.y, a.x),
        |lp AS (
        |  SELECT l.y, l.x, l.label AS map_label,
        |    -0.5 * ln(0.010000001) - (l.intensity - 0.25) * (l.intensity - 0.25) * 0.5 / 0.010000001 - 1.2 * (coalesce(n.n_nb, 0) - coalesce(n.c0, 0)) AS lp0,
        |    -0.5 * ln(0.010000001) - (l.intensity - 0.5) * (l.intensity - 0.5) * 0.5 / 0.010000001 - 1.2 * (coalesce(n.n_nb, 0) - coalesce(n.c1, 0)) AS lp1,
        |    -0.5 * ln(0.010000001) - (l.intensity - 0.75) * (l.intensity - 0.75) * 0.5 / 0.010000001 - 1.2 * (coalesce(n.n_nb, 0) - coalesce(n.c2, 0)) AS lp2
        |  FROM lab l LEFT JOIN nb n ON l.y = n.y AND l.x = n.x),
        |ex AS (
        |  SELECT y, x, map_label,
        |    exp(lp0 - greatest(lp0, lp1, lp2)) AS ex0,
        |    exp(lp1 - greatest(lp0, lp1, lp2)) AS ex1,
        |    exp(lp2 - greatest(lp0, lp1, lp2)) AS ex2
        |  FROM lp)
        |SELECT y, x, map_label,
        |  round(ex0 / (ex0 + ex1 + ex2 + 1e-12), 4) AS post0,
        |  round(ex1 / (ex0 + ex1 + ex2 + 1e-12), 4) AS post1,
        |  round(ex2 / (ex0 + ex1 + ex2 + 1e-12), 4) AS post2
        |FROM ex ORDER BY y, x""".stripMargin),
    q("s8_window_norm", (s, _) => Vision.windowNormQuery(s))(
      """WITH px AS MATERIALIZED (
        |  SELECT CAST(k.k AS INTEGER) AS img_id,
        |    (CASE WHEN y.y BETWEEN 12 AND 35 AND x.x BETWEEN 16 AND 47 THEN 200 ELSE 40 + k.k * 3 END
        |     + (x.x * 11 + y.y * 17 + k.k * 7) % 41 - 20) AS v
        |  FROM range(0, 4) k(k), range(0, 48) y(y), range(0, 64) x(x)),
        |clips AS (
        |  SELECT img_id, quantile_cont(v, 0.01) AS lo, quantile_cont(v, 0.99) AS hi
        |  FROM px GROUP BY 1),
        |norm AS (
        |  SELECT p.img_id,
        |    CASE WHEN c.hi = c.lo THEN 0.0
        |      ELSE (least(greatest(CAST(p.v AS DOUBLE), c.lo), c.hi) - c.lo) / (c.hi - c.lo) * 255.0
        |    END AS v
        |  FROM px p JOIN clips c USING (img_id))
        |SELECT img_id, round(avg(v), 4) AS mean_v, round(min(v), 4) AS min_v, round(max(v), 4) AS max_v
        |FROM norm GROUP BY 1 ORDER BY img_id""".stripMargin),
    q("w4_mid_slice", (s, _) => HMRF.midSliceQuery(s))(
      """WITH vox AS (
        |  SELECT CAST(z.z AS INTEGER) AS z, CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x,
        |    (z.z - 8) * (z.z - 8) * 1.5 + (y.y - 12) * (y.y - 12) + (x.x - 12) * (x.x - 12) AS d2
        |  FROM range(0, 16) z(z), range(0, 24) y(y), range(0, 24) x(x)),
        |masked AS (
        |  SELECT z, y, x,
        |    CASE WHEN d2 < 23.52 THEN 0 WHEN d2 < 37.3919 THEN 1 ELSE 2 END AS tl
        |  FROM vox WHERE d2 < 49),
        |v AS (
        |  SELECT z, tl AS true_label,
        |    0.25 + tl * 0.25 + ((z * 73 + y * 179 + x * 283 + 9337) % 2000 - 1000) / 1000.0 * 0.13 AS intensity
        |  FROM masked)
        |SELECT true_label, count(*) AS n, round(avg(intensity), 4) AS mean_intensity
        |FROM v WHERE z = 8 GROUP BY 1 ORDER BY 1""".stripMargin),
  ) ++ in(Family.Motion,
    q("motion_frame_stats", (s, _) => Motion.frameStatsQuery(s))(
      """WITH vel AS (
        |  SELECT CAST(i AS INTEGER) AS frame_idx,
        |    CASE WHEN i % 11 = 0 THEN 12 WHEN i % 4 = 0 THEN 0 ELSE 2 END AS vx,
        |    CASE WHEN i % 11 = 0 THEN 6 WHEN i % 4 = 0 THEN 0 ELSE 1 END AS vy
        |  FROM range(0, 60) t(i)),
        |pos AS (
        |  SELECT frame_idx,
        |    30 + coalesce(sum(vx) OVER (ORDER BY frame_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS x0,
        |    40 + coalesce(sum(vy) OVER (ORDER BY frame_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS y0
        |  FROM vel),
        |px AS MATERIALIZED (
        |  SELECT p.frame_idx, y.y, x.x,
        |    CASE WHEN x.x BETWEEN p.x0 AND p.x0 + 32 AND y.y BETWEEN p.y0 AND p.y0 + 32 THEN 200 ELSE 0 END AS v
        |  FROM pos p, range(0, 192) y(y), range(0, 256) x(x)),
        |stats AS (SELECT frame_idx, avg(v) AS m, stddev_pop(v) AS s FROM px GROUP BY 1),
        |diffs AS (
        |  SELECT c.frame_idx, abs(c.v - p.v) AS d,
        |    abs(p.v - greatest(0.0, least(255.0, (c.v - sc.m) * ((sp.s + 1e-6) / (sc.s + 1e-6)) + sp.m))) AS dn
        |  FROM px c
        |  JOIN px p ON p.frame_idx = c.frame_idx - 1 AND p.y = c.y AND p.x = c.x
        |  JOIN stats sc ON sc.frame_idx = c.frame_idx
        |  JOIN stats sp ON sp.frame_idx = c.frame_idx - 1),
        |fstats AS (
        |  SELECT frame_idx, avg(d) AS raw_mad, round(avg(dn), 6) AS mad,
        |    quantile_cont(d, 0.9) AS p90, avg(CASE WHEN d < 10 THEN 1.0 ELSE 0.0 END) AS ldr
        |  FROM diffs GROUP BY 1),
        |thr AS (
        |  SELECT t_low, greatest(t_low, t_high0) AS t_high FROM (
        |    SELECT quantile_cont(mad, 0.4) AS t_low, quantile_cont(mad, 0.8) AS t_high0
        |    FROM fstats WHERE frame_idx <= 20))
        |SELECT f.frame_idx AS frame, round(f.raw_mad, 4) AS mad_raw, round(f.mad, 4) AS mad_norm,
        |  CASE WHEN f.mad < t.t_low THEN 'LOW' WHEN f.mad > t.t_high THEN 'HIGH' ELSE 'MEDIUM' END AS class,
        |  round(f.p90, 4) AS p90_diff, round(f.ldr, 4) AS low_diff_ratio
        |FROM fstats f, thr t
        |ORDER BY frame""".stripMargin),
    q("motion_decisions", (s, _) => Motion.decisions(s))(
      """WITH pos AS (
        |  SELECT CAST(i AS INTEGER) AS frame_idx,
        |    30 + 2 * CAST(i AS INTEGER) AS x0, 40 + CAST(i AS INTEGER) AS y0
        |  FROM range(0, 20) t(i)),
        |px AS MATERIALIZED (
        |  SELECT p.frame_idx, y.y, x.x,
        |    (CASE WHEN x.x BETWEEN p.x0 AND p.x0 + 16 AND y.y BETWEEN p.y0 AND p.y0 + 16 THEN 200 ELSE 0 END
        |     + (x.x * 7 + y.y * 13 + p.frame_idx * 31) % 17) AS v
        |  FROM pos p, range(0, 96) y(y), range(0, 128) x(x)),
        |stats AS (SELECT frame_idx, avg(v) AS m, stddev_pop(v) AS s FROM px GROUP BY 1),
        |diffs AS (
        |  SELECT c.frame_idx, abs(c.v - p.v) AS d,
        |    abs(p.v - greatest(0.0, least(255.0, (c.v - sc.m) * ((sp.s + 1e-6) / (sc.s + 1e-6)) + sp.m))) AS dn
        |  FROM px c
        |  JOIN px p ON p.frame_idx = c.frame_idx - 1 AND p.y = c.y AND p.x = c.x
        |  JOIN stats sc ON sc.frame_idx = c.frame_idx
        |  JOIN stats sp ON sp.frame_idx = c.frame_idx - 1),
        |fstats AS (
        |  SELECT frame_idx, avg(d) AS raw_mad, round(avg(dn), 6) AS mad,
        |    quantile_cont(d, 0.9) AS p90, avg(CASE WHEN d < 10 THEN 1.0 ELSE 0.0 END) AS ldr
        |  FROM diffs GROUP BY 1),
        |thr AS (
        |  SELECT t_low, greatest(t_low, t_high0) AS t_high FROM (
        |    SELECT quantile_cont(mad, 0.4) AS t_low, quantile_cont(mad, 0.8) AS t_high0
        |    FROM fstats WHERE frame_idx <= 19)),
        |cls AS (
        |  SELECT f.*, CASE WHEN f.mad < t.t_low THEN 'LOW' WHEN f.mad > t.t_high THEN 'HIGH' ELSE 'MEDIUM' END AS class
        |  FROM fstats f, thr t),
        |med AS (SELECT frame_idx FROM cls WHERE class = 'MEDIUM'),
        |cur AS (
        |  SELECT c.frame_idx, c.y // 16 AS b_y, c.x // 16 AS b_x,
        |    c.y % 16 AS py, c.x % 16 AS px_, c.v
        |  FROM px c JOIN med USING (frame_idx)),
        |cand AS (SELECT dy.dy, dx.dx FROM range(-4, 5) dy(dy), range(-4, 5) dx(dx)),
        |probe AS (
        |  SELECT c.frame_idx, c.b_y, c.b_x, cand.dy, cand.dx, c.v,
        |    c.frame_idx - 1 AS rf,
        |    greatest(0, least(80, c.b_y * 16 + cand.dy)) + c.py AS ry,
        |    greatest(0, least(112, c.b_x * 16 + cand.dx)) + c.px_ AS rx
        |  FROM cur c CROSS JOIN cand),
        |sad AS (
        |  SELECT p.frame_idx, p.b_y, p.b_x, p.dy, p.dx,
        |    sum(abs(p.v - r.v)) AS cost, sum((p.v - r.v) * (p.v - r.v)) AS sse
        |  FROM probe p JOIN px r ON r.frame_idx = p.rf AND r.y = p.ry AND r.x = p.rx
        |  GROUP BY 1, 2, 3, 4, 5),
        |best AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY frame_idx, b_y, b_x ORDER BY cost, dy, dx) AS rn
        |    FROM sad) WHERE rn = 1),
        |me AS (
        |  SELECT frame_idx, avg(cost) AS mean_cost, sum(sse) / (96.0 * 128.0) AS mse
        |  FROM best GROUP BY 1)
        |SELECT c.frame_idx AS frame, round(c.mad, 4) AS mad_norm, round(c.raw_mad, 4) AS mad_raw,
        |  c.class, round(m.mean_cost, 2) AS mean_sad_cost,
        |  CASE WHEN m.mse > 1e-9 THEN round(10.0 * log10(255.0 * 255.0 / m.mse), 4) ELSE NULL END AS psnr,
        |  round(c.p90, 4) AS p90_diff, round(c.ldr, 4) AS low_diff_ratio
        |FROM cls c LEFT JOIN me m USING (frame_idx)
        |ORDER BY frame""".stripMargin),
    // diamond/TSS are data-dependent hill climbs (no relational plan
    // exists to recompute them in SQL), but their OUTPUTS on the
    // deterministic synthetic clip are fixed — the oracle pins the 21
    // (method, frame, mean_cost, psnr) rows as literals (the
    // avi_mjpeg_stats value-pinning pattern), so the gate checks
    // values, not just row counts; the full leg is ALSO independently
    // recomputed relationally as u4_full_metrics, and MotionSpec
    // proves all three methods' scan semantics on golden videos.
    // Diamond/TSS value pin: the hill climbs are not SQL-expressible,
    // but the clip is synthetic and deterministic (no testdata input),
    // so the 21 output rows are constants. Captured from the verified
    // round-9 run (full leg cross-checked by the independent
    // relational u4_full_metrics oracle below and the MotionSpec
    // golden tests) — any regression in the search kernels, the
    // classifier gate, or the PSNR math now flips the gate.
    q("u4_method_metrics", (s, _) => BlockMatch.methodMetricsQuery(s))(
      """SELECT method, CAST(frame AS INTEGER) AS frame,
        |  CAST(mean_cost AS DOUBLE) AS mean_cost, CAST(psnr AS DOUBLE) AS psnr
        |FROM (VALUES
        |  ('diamond', 1, 56.88, 33.4366), ('diamond', 5, 175.06, 34.2354),
        |  ('diamond', 7, 93.60, 35.4275), ('diamond', 12, 139.54, 32.5918),
        |  ('diamond', 14, 151.69, 27.6772), ('diamond', 16, 140.21, 28.3700),
        |  ('diamond', 18, 138.27, 30.3236),
        |  ('full', 1, 36.00, 36.7683), ('full', 5, 112.79, 34.6197),
        |  ('full', 7, 61.19, 38.9556), ('full', 12, 129.52, 32.6323),
        |  ('full', 14, 141.67, 27.6902), ('full', 16, 123.42, 28.9903),
        |  ('full', 18, 128.25, 30.3475),
        |  ('tss', 1, 676.79, 28.0119), ('tss', 5, 683.02, 31.9631),
        |  ('tss', 7, 662.29, 29.3806), ('tss', 12, 699.98, 30.7729),
        |  ('tss', 14, 718.77, 29.2716), ('tss', 16, 693.52, 28.0868),
        |  ('tss', 18, 727.56, 27.5384)
        |) AS t(method, frame, mean_cost, psnr)
        |ORDER BY method, frame""".stripMargin),
    // the same kernel path, restricted to method='full', which the
    // DuckDB oracle replays via relational candidate enumeration — the
    // restriction happens INSIDE the kernel (methods param), not as a
    // post-filter, so the hill-climb legs never execute here
    // The kernel full-search leg of U4, replayed relationally: same pixel
    // generator, calibration gate, and candidate enumeration as the
    // motion_decisions oracle, aggregated per frame like
    // method_metrics.csv (demo_synthetic.py:119-129).
    q("u4_full_metrics", (s, _) => BlockMatch.methodMetricsQuery(s, Seq("full")))(
      """WITH pos AS (
        |  SELECT CAST(i AS INTEGER) AS frame_idx,
        |    30 + 2 * CAST(i AS INTEGER) AS x0, 40 + CAST(i AS INTEGER) AS y0
        |  FROM range(0, 20) t(i)),
        |px AS MATERIALIZED (
        |  SELECT p.frame_idx, y.y, x.x,
        |    (CASE WHEN x.x BETWEEN p.x0 AND p.x0 + 16 AND y.y BETWEEN p.y0 AND p.y0 + 16 THEN 200 ELSE 0 END
        |     + (x.x * 7 + y.y * 13 + p.frame_idx * 31) % 17) AS v
        |  FROM pos p, range(0, 96) y(y), range(0, 128) x(x)),
        |stats AS (SELECT frame_idx, avg(v) AS m, stddev_pop(v) AS s FROM px GROUP BY 1),
        |diffs AS (
        |  SELECT c.frame_idx,
        |    abs(p.v - greatest(0.0, least(255.0, (c.v - sc.m) * ((sp.s + 1e-6) / (sc.s + 1e-6)) + sp.m))) AS dn
        |  FROM px c
        |  JOIN px p ON p.frame_idx = c.frame_idx - 1 AND p.y = c.y AND p.x = c.x
        |  JOIN stats sc ON sc.frame_idx = c.frame_idx
        |  JOIN stats sp ON sp.frame_idx = c.frame_idx - 1),
        |fstats AS (SELECT frame_idx, round(avg(dn), 6) AS mad FROM diffs GROUP BY 1),
        |thr AS (
        |  SELECT t_low, greatest(t_low, t_high0) AS t_high FROM (
        |    SELECT quantile_cont(mad, 0.4) AS t_low, quantile_cont(mad, 0.8) AS t_high0
        |    FROM fstats WHERE frame_idx <= 19)),
        |med AS (
        |  SELECT f.frame_idx FROM fstats f, thr t
        |  WHERE f.mad >= t.t_low AND f.mad <= t.t_high),
        |cur AS (
        |  SELECT c.frame_idx, c.y // 16 AS b_y, c.x // 16 AS b_x,
        |    c.y % 16 AS py, c.x % 16 AS px_, c.v
        |  FROM px c JOIN med USING (frame_idx)),
        |cand AS (SELECT dy.dy, dx.dx FROM range(-4, 5) dy(dy), range(-4, 5) dx(dx)),
        |probe AS (
        |  SELECT c.frame_idx, c.b_y, c.b_x, cand.dy, cand.dx, c.v,
        |    c.frame_idx - 1 AS rf,
        |    greatest(0, least(80, c.b_y * 16 + cand.dy)) + c.py AS ry,
        |    greatest(0, least(112, c.b_x * 16 + cand.dx)) + c.px_ AS rx
        |  FROM cur c CROSS JOIN cand),
        |sad AS (
        |  SELECT p.frame_idx, p.b_y, p.b_x, p.dy, p.dx,
        |    sum(abs(p.v - r.v)) AS cost, sum((p.v - r.v) * (p.v - r.v)) AS sse
        |  FROM probe p JOIN px r ON r.frame_idx = p.rf AND r.y = p.ry AND r.x = p.rx
        |  GROUP BY 1, 2, 3, 4, 5),
        |best AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY frame_idx, b_y, b_x ORDER BY cost, dy, dx) AS rn
        |    FROM sad) WHERE rn = 1)
        |SELECT 'full' AS method, frame_idx AS frame, round(avg(cost), 2) AS mean_cost,
        |  CASE WHEN sum(sse) / (96.0 * 128.0) > 1e-9
        |    THEN round(10.0 * log10(255.0 * 255.0 / (sum(sse) / (96.0 * 128.0))), 4) END AS psnr
        |FROM best GROUP BY 2 ORDER BY frame""".stripMargin),
  ) ++ in(Family.Containers,
    // WARC container round-trip: documents -> .warc files -> parse ->
    // per-source totals; ids/sizes/source all cross the container
    q("warc_roundtrip", (s, d) => graft.sources.Warc.roundtripQuery(s, d))(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_recs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // audio modality: RMS + zero-crossing features over tumbling
    // windows of the synthesized sine clips; testdata-independent, so
    // the oracle VALUE-PINS the 64 constant rows (the u4/avi pattern)
    q("audio_window_features", (s, _) => AudioSource.windowFeatures(
      AudioSource.samples(AudioSource.syntheticClips(s)), 256).orderBy("clip_id", "win"))(
      """SELECT CAST(c AS INTEGER) AS clip_id, CAST(w AS BIGINT) AS win,
        |  CAST(n AS BIGINT) AS n_samples, CAST(r AS DOUBLE) AS rms,
        |  CAST(z AS BIGINT) AS zero_crossings
        |FROM (VALUES
        |    (0, 0, 256, 5640.3878, 7),
        |    (0, 1, 256, 5641.0159, 7),
        |    (0, 2, 256, 5642.6859, 7),
        |    (0, 3, 256, 5645.1661, 7),
        |    (0, 4, 256, 5648.3554, 7),
        |    (0, 5, 256, 5652.0828, 7),
        |    (0, 6, 256, 5656.0454, 7),
        |    (0, 7, 256, 5660.0617, 7),
        |    (0, 8, 256, 5663.8373, 7),
        |    (0, 9, 256, 5667.111, 7),
        |    (0, 10, 256, 5669.7685, 7),
        |    (0, 11, 256, 5671.5692, 7),
        |    (0, 12, 256, 5672.3804, 7),
        |    (0, 13, 256, 5672.2566, 7),
        |    (0, 14, 256, 5671.1002, 7),
        |    (0, 15, 256, 5669.0038, 7),
        |    (1, 0, 256, 5661.3798, 10),
        |    (1, 1, 256, 5620.8679, 11),
        |    (1, 2, 256, 5717.0965, 10),
        |    (1, 3, 256, 5577.9168, 11),
        |    (1, 4, 256, 5739.8194, 10),
        |    (1, 5, 256, 5577.6732, 11),
        |    (1, 6, 256, 5717.549, 10),
        |    (1, 7, 256, 5620.2653, 11),
        |    (1, 8, 256, 5662.0303, 10),
        |    (1, 9, 256, 5682.0156, 11),
        |    (1, 10, 256, 5602.9067, 11),
        |    (1, 11, 256, 5729.3893, 10),
        |    (1, 12, 256, 5572.5405, 11),
        |    (1, 13, 256, 5737.2727, 10),
        |    (1, 14, 256, 5587.8873, 11),
        |    (1, 15, 256, 5701.533, 10),
        |    (2, 0, 256, 5640.5293, 14),
        |    (2, 1, 256, 5643.1211, 14),
        |    (2, 2, 256, 5649.0035, 14),
        |    (2, 3, 256, 5656.7314, 14),
        |    (2, 4, 256, 5664.4006, 14),
        |    (2, 5, 256, 5670.102, 14),
        |    (2, 6, 256, 5672.4297, 14),
        |    (2, 7, 256, 5670.8144, 14),
        |    (2, 8, 256, 5665.6736, 14),
        |    (2, 9, 256, 5658.2404, 14),
        |    (2, 10, 256, 5650.3599, 14),
        |    (2, 11, 256, 5644.0013, 14),
        |    (2, 12, 256, 5640.7341, 14),
        |    (2, 13, 256, 5641.3488, 15),
        |    (2, 14, 256, 5645.7117, 14),
        |    (2, 15, 256, 5652.7541, 14),
        |    (3, 0, 256, 5661.2323, 17),
        |    (3, 1, 256, 5623.7608, 18),
        |    (3, 2, 256, 5704.1075, 17),
        |    (3, 3, 256, 5611.3232, 18),
        |    (3, 4, 256, 5681.1664, 17),
        |    (3, 5, 256, 5661.2323, 18),
        |    (3, 6, 256, 5623.7608, 18),
        |    (3, 7, 256, 5704.1075, 17),
        |    (3, 8, 256, 5611.3232, 18),
        |    (3, 9, 256, 5681.1664, 17),
        |    (3, 10, 256, 5661.2323, 18),
        |    (3, 11, 256, 5623.7608, 18),
        |    (3, 12, 256, 5704.1075, 17),
        |    (3, 13, 256, 5611.3232, 18),
        |    (3, 14, 256, 5681.1664, 17),
        |    (3, 15, 256, 5661.2323, 18)) t(c, w, n, r, z)
        |ORDER BY clip_id, win""".stripMargin),
    // tone detection: Goertzel bin-energy argmax per clip; each clip
    // must recover its own synthesis frequency (value-pinned oracle)
    q("audio_dominant_freq", (s, _) => AudioSource.dominantFreq(
      AudioSource.samples(AudioSource.syntheticClips(s))))(
      """SELECT CAST(c AS INTEGER) AS clip_id, CAST(f AS INTEGER) AS dominant_hz,
        |  CAST(m AS DOUBLE) AS margin_db
        |FROM (VALUES
        |    (0, 220, 44.39), (1, 330, 43.43), (2, 440, 46.0), (3, 550, 44.88)) t(c, f, m)
        |ORDER BY clip_id""".stripMargin),
    // S11 container leg: real RIFF/AVI bytes -> frames (lossless DIB)
    q("avi_decode_stats", (s, _) => Avi.aviDecodeStatsQuery(s))(Avi.aviDecodeStatsOracleSql),
    // MJPEG leg, oracled by same-decoder literal injection on the JVM side
    // (see Avi.mjpegDecodeStatsOracleSql)
    q("avi_mjpeg_stats", (s, _) => Avi.mjpegDecodeStatsQuery(s))(Avi.mjpegDecodeStatsOracleSql),
  ) ++ in(Family.Composition,
    q("audit_fingerprint", (s, d) => Relational.auditFingerprint(s, d))(
      """WITH ofp AS (
        |  SELECT ('0x' || substr(md5(
        |    CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' ||
        |    o_orderstatus || '|' ||
        |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
        |    CAST(epoch_us(o_orderdate) AS VARCHAR) || '|' || o_orderpriority), 1, 15))::BIGINT AS fp
        |  FROM orders),
        |lfp AS (
        |  SELECT ('0x' || substr(md5(
        |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) || '|' ||
        |    CAST(l_suppkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' ||
        |    CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR) || '|' ||
        |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
        |    CAST(CAST(round(l_discount * 100) AS BIGINT) AS VARCHAR) || '|' ||
        |    CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR) || '|' ||
        |    l_returnflag || '|' || l_linestatus || '|' ||
        |    CAST(epoch_us(l_shipdate) AS VARCHAR)), 1, 15))::BIGINT AS fp
        |  FROM lineitem)
        |SELECT 'lineitem' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  bit_xor(fp) AS xor_fp, min(fp) AS min_fp, max(fp) AS max_fp FROM lfp
        |UNION ALL
        |SELECT 'orders', CAST(count(*) AS BIGINT), bit_xor(fp), min(fp), max(fp) FROM ofp
        |ORDER BY table_name""".stripMargin),
    q("audit_orphans", (s, d) => Relational.auditOrphans(s, d))(
      """SELECT 'orders.o_custkey->customer' AS relationship,
        |  CAST(count(*) AS BIGINT) AS n_child,
        |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
        |  ON c.o_custkey = p.k
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
        |  ON c.l_orderkey = p.k
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem c LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
        |  ON c.l_partkey = p.k
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem c LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p
        |  ON c.l_suppkey = p.k
        |UNION ALL
        |SELECT 'events.user_id->customer', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM events c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
        |  ON c.user_id = p.k
        |ORDER BY relationship""".stripMargin),
  )

  // a Map literal silently keeps the last of two equal keys, so the
  // derivation checks uniqueness itself
  private val byName: Map[String, Query] = {
    val dups = registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"registry names must be unique: ${dups.mkString(", ")}")
    registry.map(e => e.name -> e).toMap
  }

  val queries: Map[String, Build] = byName.map { case (n, e) => n -> e.build }

  def queryTag(name: String): String = byName(name).tag.label

  /** Every declared oracle's SQL, assembled on each call. */
  def oracleSql: Map[String, String] =
    registry.flatMap(e => e.oracle.map(sql => e.name -> sql())).toMap

  /** min((a_i·mhb + b_i) mod p) — one affine MinHash component in
    * DuckDB SQL, sharing Dedup.minhashParams by interpolation so the
    * family literally cannot drift between the engines. */
  private def minhashMinSql(i: Int): String = {
    val (a, b) = Dedup.minhashParams(i)
    s"min(($a * mhb + $b) % ${Dedup.minhashPrime})"
  }

  /** MinHash band-join pair oracle, shared by dedup_minhash_pairs and
    * (as a CTE) dedup_clusters' transitive closure. Mirrors the
    * round-13 signature-identical collapse: band-join over one
    * representative per DISTINCT full signature, plus the O(d) keeper
    * star (all 4 bands shared by identity) for each signature group. */
  private def minhashPairsOracleSql: String =
    ("""WITH sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) < 3 THEN [text]
      |      ELSE list_transform(range(0, len(t) - 2), i -> array_to_string(t[i+1:i+3], ' ')) END) AS shingle
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents) raw),
      |based AS (SELECT doc_id,
      |  (('0x' || substr(md5(shingle), 1, 15))::BIGINT % """.stripMargin
      + s"${Dedup.minhashPrime}) AS mhb FROM sh),\nsigs AS (\n  SELECT doc_id, "
      + (0 until 16).map(i => s"${minhashMinSql(i)} AS mh$i").mkString(", ")
      + "\n  FROM based GROUP BY doc_id),\nkeyed AS (\n  SELECT *, md5("
      + (0 until 16).map(i => s"mh$i::VARCHAR").mkString(" || ':' || ")
      + """) AS sig FROM sigs),
      |k AS (SELECT sig, min(doc_id) AS keeper FROM keyed GROUP BY sig),
      |reps AS (
      |  SELECT keyed.* FROM keyed JOIN k ON keyed.sig = k.sig AND keyed.doc_id = k.keeper),
      |bands AS (
      |""".stripMargin
      + (0 until 4).map(b =>
          s"  SELECT doc_id, $b AS band_idx, " +
            s"md5(${(0 until 4).map(r => s"mh${b * 4 + r}::VARCHAR").mkString(" || ':' || ")}) AS band_key FROM reps")
        .mkString("\n  UNION ALL\n")
      + """
      |),
      |star AS (
      |  SELECT k.keeper AS doc_a, keyed.doc_id AS doc_b, CAST(4 AS BIGINT) AS n_shared_bands
      |  FROM keyed JOIN k ON keyed.sig = k.sig WHERE keyed.doc_id <> k.keeper)
      |SELECT doc_a, doc_b, n_shared_bands FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |  UNION ALL SELECT * FROM star) u
      |ORDER BY doc_a, doc_b""".stripMargin)

  /** Unrolled k-round BPE oracle: per round, MATERIALIZED CTEs (each
    * is referenced twice downstream — without materialization DuckDB
    * re-inlines them and the plan blows up exponentially in k), the
    * same (count DESC, lhs, rhs) argmax, and greedy left-to-right
    * merge application via gaps-and-islands: within each run of
    * consecutive matching positions, even offsets are merge starts
    * ("aaa" merges once) and lag(start) marks the consumed right
    * halves. */
  private def bpeOracleSql(k: Int): String = {
    val head =
      """WITH w AS (
        |  SELECT token AS word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE len(token) > 0 GROUP BY 1),
        |t0 AS MATERIALIZED (
        |  SELECT word, freq,
        |    list_transform(generate_series(1, len(word)), i -> substr(word, i, 1)) AS syms
        |  FROM w)""".stripMargin
    val rounds = (1 to k).map { r =>
      s""",
         |q$r AS MATERIALIZED (
         |  SELECT word, freq, i, syms[i] AS sym, syms[i+1] AS nxt FROM (
         |    SELECT word, freq, syms,
         |      unnest(generate_series(1, len(syms))) AS i FROM t${r - 1})),
         |b$r AS MATERIALIZED (
         |  SELECT sym AS lhs, nxt AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM q$r WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |s$r AS (
         |  SELECT word, freq, i, sym, nxt,
         |    CASE WHEN mtch THEN ((i - min(i) OVER (PARTITION BY word, grp)) % 2 = 0)
         |         ELSE false END AS strt
         |  FROM (
         |    SELECT *, CASE WHEN mtch
         |        THEN i - row_number() OVER (PARTITION BY word, mtch ORDER BY i)
         |        ELSE NULL END AS grp
         |    FROM (SELECT q.*, (q.sym = b.lhs AND q.nxt = b.rhs) AS mtch
         |          FROM q$r q CROSS JOIN b$r b))),
         |t$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    list(CASE WHEN strt THEN sym || nxt ELSE sym END ORDER BY i) AS syms
         |  FROM (SELECT *,
         |      coalesce(lag(strt) OVER (PARTITION BY word ORDER BY i), false) AS consumed
         |    FROM s$r)
         |  WHERE NOT consumed GROUP BY word, freq)""".stripMargin
    }.mkString
    val tail = (1 to k).map { r =>
      s"SELECT $r AS merge_idx, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM b$r"
    }.mkString("\n", "\nUNION ALL ", "\nORDER BY merge_idx")
    head + rounds + tail
  }

  /** BPE apply oracle: the same k unrolled rounds, but the final
    * select joins each document's words to the round-k tokenization
    * t{k} (one row per distinct word) and aggregates per-doc subword
    * stats — exactly the train-then-tokenize composition. */
  private def bpeTokenizeOracleSql(k: Int): String = {
    val merges = bpeOracleSql(k)
    val cut = merges.lastIndexOf("\nSELECT 1 AS merge_idx")
    merges.substring(0, cut) +
      s""",
         |dtok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |SELECT doc_id, CAST(sum(len(t.syms)) AS BIGINT) AS n_bpe_tokens,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  round(sum(len(t.syms)) * 1.0 / count(*), 4) AS tokens_per_word
         |FROM (SELECT doc_id, word FROM dtok WHERE len(word) > 0) d
         |JOIN t$k t USING (word)
         |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The composed curation-manifest oracle, factored out because the
    * shard plan's oracle wraps it verbatim as a derived table — one
    * source of truth for the manifest semantics in SQL. */
  private def pipelineManifestOracle: String =
    """WITH keepers AS (
      |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(trim(text)))),
      |q AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |    round(CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
      |      / len(string_split(text, ' ')), 4) AS stopword_ratio,
      |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')), 4) AS type_token_ratio
      |  FROM documents),
      |kept AS (
      |  SELECT q.doc_id, q.n_tokens, q.type_token_ratio
      |  FROM q JOIN keepers USING (doc_id)
      |  WHERE q.n_tokens >= 20 AND q.stopword_ratio <= 0.2 AND q.doc_id % 10 != 0),
      |tok AS MATERIALIZED (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |grams AS MATERIALIZED (
      |  SELECT doc_id, md5(array_to_string(toks[i:i+12], ' ')) AS fp
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 12)) AS i
      |        FROM tok WHERE len(toks) >= 13)),
      |bench AS (SELECT DISTINCT fp FROM grams WHERE doc_id % 10 = 0),
      |contaminated AS (
      |  SELECT DISTINCT doc_id FROM grams JOIN bench USING (fp) WHERE doc_id % 10 != 0)
      |SELECT k.doc_id, k.n_tokens, k.type_token_ratio
      |FROM kept k LEFT JOIN contaminated c ON k.doc_id = c.doc_id
      |WHERE c.doc_id IS NULL
      |ORDER BY k.doc_id""".stripMargin
}
