package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col

/** The one persisted-layout path: every catalog table graft writes —
  * the graph edge variants, BM25 postings, IVFADC codes, the exact and
  * MinHash dedup indexes, the incremental-MV base table and the
  * streaming upsert/SCD2 sinks — is named, built, cleared and bucketed
  * here.
  *
  * Naming. A build-once layout is memoized per (source dir, content):
  * `<base>_<dirtag>_<fptag>`, where the dir and the content key (source
  * data fingerprints plus build parameters) hash SEPARATELY, so a build
  * can recognize a stale fingerprint of the SAME source dir without
  * ever touching another dir's live layout (two sf dirs in one
  * warehouse is the normal test/bench state). A regenerated input mints
  * a fresh name, and the superseded one is pruned when the fresh one
  * is built.
  *
  * Bucketing (SURVEY §3.3, "repartition()/bucketing for co-located
  * joins"). A fact⋈dim join on a high-cardinality key shuffles BOTH
  * sides every time it runs. A table written bucketed by the join key
  * is pre-partitioned ON DISK: the bucketed scan reports the hash
  * partitioning to the planner, so joins and aggregates on that key
  * elide the exchange — at 100 TB the recurring shuffle becomes a
  * one-time write-side cost — and `sortBy` within buckets also removes
  * the merge join's per-query sort. bucketBy requires the table catalog
  * (`saveAsTable`): bucket metadata lives in the catalog, not in the
  * parquet footers, which is a Spark contract, not a choice.
  */
object Layouts {

  private def md5hex(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(bytes).map("%02x".format(_)).mkString

  def dirTag(dir: String): String = md5hex(s"dir|$dir", 3)

  /** Catalog-safe layout name: `<base>_<dirtag>_<fptag>`. `contentKey`
    * must fold everything that invalidates the layout (source data
    * fingerprints, build parameters). */
  def name(base: String, dir: String, contentKey: String): String =
    s"${base}_${dirTag(dir)}_" + md5hex(contentKey, 5)

  /** Drop warehouse dirs (and any live catalog entries) that carry
    * `base` + THIS dir's tag but a different fingerprint — called on
    * build, i.e. exactly when a fresh fingerprint supersedes them.
    * `keepPrefix` protects the layout being built (its common prefix).
    * Legacy un-tagged names (`<base>_<10 hex>[_suffix]`) are
    * unreachable under this scheme and pruned on sight; another dir's
    * tagged layouts never match. Filesystem-level, because the
    * in-memory catalog forgets a previous JVM's tables while their dirs
    * persist. */
  def pruneStale(spark: SparkSession, base: String, dir: String,
                 keepPrefix: String): Unit = {
    val samedir = s"${base}_${dirTag(dir)}_"
    val legacy = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(base) + "_[0-9a-f]{10}(_[a-z]+)?")
    drop(spark)(n => !n.startsWith(keepPrefix) &&
      (n.startsWith(samedir) || legacy.matcher(n).matches()))
  }

  /** Drop every layout built from `dir`, whatever its base: the tables
    * and their warehouse dirs. For a source dir that is going away (a
    * scratch dir), whose tag `pruneStale` would never match again. */
  def dropAll(spark: SparkSession, dir: String): Unit =
    drop(spark)(_.contains(s"_${dirTag(dir)}_"))

  /** Drop the catalog table (if live) and the warehouse dir of every
    * warehouse entry whose name is `doomed`. */
  private def drop(spark: SparkSession)(doomed: String => Boolean): Unit = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
      val n = st.getPath.getName
      if (doomed(n)) {
        if (spark.catalog.tableExists(n)) spark.sql(s"DROP TABLE IF EXISTS `$n`")
        fs.delete(st.getPath, true)
      }
    }
  }

  /** Guards every layout build in the JVM: concurrent first calls (the
    * REST server serves many threads) build a layout once. */
  private val lock = new Object

  /** Build-once memo: the prefix `name(base, dir, contentKey)`, built
    * by `build(prefix)` when ANY of the layout's tables
    * (`prefix + suffix` per entry of `tables`) is missing from the
    * catalog — a build that stopped half-way is rebuilt, never served.
    * A build first prunes the stale siblings of the same (base, dir).
    * A warm call is the lock plus catalog lookups: no job, no listing. */
  def ensure(spark: SparkSession, base: String, dir: String, contentKey: String,
             tables: Seq[String] = Seq(""))(build: String => Unit): String =
    lock.synchronized {
      val prefix = name(base, dir, contentKey)
      if (tables.exists(t => !spark.catalog.tableExists(prefix + t))) {
        pruneStale(spark, base, dir, prefix)
        build(prefix)
      }
      prefix
    }

  /** Write `rows` as the parquet catalog table `table` — the one
    * `saveAsTable` in graft.
    *
    * An overwrite of a table the catalog does not know first deletes
    * its stray warehouse dir: a previous JVM's run leaves the dir
    * behind while the in-memory catalog forgets the table, and
    * saveAsTable refuses to create a managed table over a non-empty
    * location.
    *
    * With `bucketKey`, the table is bucketed and sorted by that key. An
    * append reuses the catalog's bucket count (Spark rejects a
    * mismatched spec, so the build-time count holds for the table's
    * whole lifetime and appended rows land in the same hash layout); a
    * fresh write sizes it from the row count ([[autoBuckets]] over the
    * cluster's parallelism), so callers pass a checkpointed relation,
    * or its `rowCount` when `rows` is a 1:1 join over one. The write
    * repartitions on the key into exactly that many tasks first:
    * `repartition(n, key)` and the bucket assignment share the same
    * murmur3-mod hash, so each task holds one bucket and writes ONE
    * file — and Spark's bucketed scan only reports the within-bucket
    * SORT ORDER when every bucket is a single file, which lets
    * sort-merge joins on the key skip their sort. Appends add files, after which
    * the scan keeps the partitioning claim and drops the ordering
    * claim — correct, just one sort less free. */
  def save(rows: DataFrame, table: String, bucketKey: Option[String] = None,
           append: Boolean = false, rowCount: Option[Long] = None): Unit = {
    val spark = rows.sparkSession
    if (!append && !spark.catalog.tableExists(table)) {
      val path = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }
    val w = bucketKey match {
      case None => rows.write
      case Some(key) =>
        val n = if (append) tableBuckets(spark, table)
                else autoBuckets(rowCount.getOrElse(rows.count()),
                  spark.sparkContext.defaultParallelism)
        rows.repartition(n, col(key)).write.bucketBy(n, key).sortBy(key)
    }
    w.mode(if (append) "append" else "overwrite").format("parquet").saveAsTable(table)
  }

  /** Rows per bucket past which a layout widens beyond the floor. */
  private val targetRowsPerBucket = 500000L

  /** Content-scaled bucket count: a layout that pins its bucket count
    * is right at exactly one scale. Buckets = max(`floor`,
    * rows / 500k) snapped to the NEAREST power of two (powers of two
    * keep co-bucketed join pairs compatible across rebuilds that land
    * on the same snap), capped at 4096 (small-file bound).
    *
    * The shape of this formula is MEASURED, not assumed (BASELINE.md
    * round-11 width×strategy sweep): a bucketed scan reads one task
    * per bucket, so until buckets are genuinely large the dominant
    * term is task-count alignment with the execution width — on the
    * 11.8M-row 10× edge relation, 32 buckets ran the Pregel round at
    * 3.7-5.0 s where 64/128/256 ran 6.5/7.0/9.3 s. A first-cut
    * rows/48k sizing (buckets ∝ n) re-derived exactly that regression
    * at 10×. Hence: the floor is the cluster's parallelism
    * (`defaultParallelism` — the executor-core total on a real
    * cluster), and the row target (≈ tens of MB of edge-sized rows per
    * bucket) only starts widening the layout once per-bucket work
    * genuinely outgrows a task — 100× data → 256 buckets, same
    * per-bucket size as 10×'s 32. */
  private[graft] def autoBuckets(rows: Long, floor: Int = 32): Int = {
    val raw = math.max(math.max(1, floor).toDouble,
      rows.toDouble / targetRowsPerBucket)
    // clamp the exponent BEFORE shifting (an Int shift is mod 32, so an
    // ocean-scale exponent would silently wrap instead of hitting the cap)
    val exp = math.min(12, math.max(0,
      math.round(math.log(raw) / math.log(2.0)).toInt))
    math.max(1, 1 << exp)
  }

  /** Bucket count of an existing catalog table. */
  private[graft] def tableBuckets(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(s"table $table has no bucket spec"))
}
