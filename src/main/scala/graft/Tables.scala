package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets native
  * vectorized parquet scans with predicate pushdown + column pruning —
  * the single most important scale lever at 100 TB (scan only the bytes
  * the query needs).
  *
  * Each table's schema is resolved once per JVM: Spark's parquet schema
  * inference launches a 1-task job (40-70 ms) on every `spark.read`, so
  * the inferred `StructType` is memoized per path and later reads pass it
  * with `spark.read.schema(...)`, which launches no job. The memo outlives
  * `spark.stop()` (catalog entries and Spark's file-status cache do not),
  * so a new session in the same JVM reuses it too.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS) in others, so the reader is
    * SCHEMA-ADAPTIVE rather than layout-pinned:
    *  - int64-nanos files (readable only with the legacy nanosAsLong
    *    conf, which we set defensively before every events read) arrive
    *    as LongType and are truncated to micros — identical to DuckDB's
    *    read of the same file, so oracles agree;
    *  - native micros files arrive as TIMESTAMP or (with Spark 4's NTZ
    *    inference) TIMESTAMP_NTZ; NTZ is cast to TIMESTAMP, which under
    *    the UTC session every entry point pins is the same instant
    *    DuckDB reads.
    * The schema memo's key is the path, its `dataFingerprint` and the
    * parquet-inference confs, this one included (see `schemaOf`); it
    * is set before the lookup, so an events read never gets a schema
    * inferred without it, and a regenerated file misses the memo.
    *
    * The session time zone is pinned UTC in the same guard: the
    * NTZ→TIMESTAMP cast (and every later date/hour function) resolves
    * against spark.sql.session.timeZone, so an externally-owned
    * non-UTC session reading a micros/NTZ events file would silently
    * shift instants relative to the DuckDB oracle. Our own entry
    * points already pin UTC at build time; this covers sessions we
    * did not build. */
  def ensureNanosConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Cheap content fingerprint of a table path: total part-file bytes
    * + max mtime. Persisted serving indexes (BM25, IVFADC) fold this
    * into their catalog-table prefix so regenerated testdata under the
    * SAME directory gets a fresh index build instead of silently
    * serving stale frozen postings/codebooks across JVMs — the
    * driver has regenerated /root/testdata in place before. */
  def dataFingerprint(path: String): String = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk)
          .foldLeft((0L, 0L)) { case ((l, m), (l2, m2)) => (l + l2, math.max(m, m2)) }
      else (f.length(), f.lastModified())
    val (len, mtime) = walk(new java.io.File(path))
    s"$len-$mtime"
  }

  /** Session confs that change what parquet inference returns for a file. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private final case class Resolved(stamp: Seq[String], schema: StructType)

  /** One entry per path (concurrent: the REST server reads from many
    * threads); an entry whose stamp no longer matches is replaced. */
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /** The inferred schema of `path`, memoized under its stamp: the data
    * fingerprint (testdata is regenerated in place, with changed
    * physical types) plus the current value of each inference conf. The
    * fingerprint is taken before inferring, so files replaced mid-read
    * leave an entry whose stamp the next read no longer matches. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val stamp = dataFingerprint(path) +: inferenceConfs.map(spark.conf.get)
    val hit = resolved.get(path)
    if (hit != null && hit.stamp == stamp) hit.schema
    else {
      val schema = spark.read.parquet(path).schema
      resolved.put(path, Resolved(stamp, schema))
      schema
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") ensureNanosConf(spark)
    val raw = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
