package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout for multi-dimensional file pruning
  * (SURVEY §3.3 scale layouts, alongside `Layouts`/`SkewJoin`).
  *
  * A table range-partitioned on ONE column prunes scans that filter on
  * that column and nothing else: sorting by x makes every file span
  * the full y range, so a y-filter reads everything. Interleaving the
  * bits of both keys (the Morton z-value) and range-partitioning on
  * THAT gives every file a tight bounding box in BOTH dimensions —
  * parquet min/max stats then prune 2-D range predicates at file and
  * row-group granularity. This is the layout trick behind
  * Delta/Iceberg `ZORDER BY`, built here from plain shift/mask column
  * arithmetic (codegen'd end to end; no UDF, no custom expression
  * needed).
  *
  * The spread is 16 bit per dimension (z fits in a positive int64),
  * enough to separate 65k² cells — layout keys need locality, not full
  * key fidelity; callers with wider domains scale values into 16 bits
  * first (the standard zorder practice of z-ordering on truncated
  * key prefixes). */
object ZOrder {

  /** Spread the low 16 bits of `v` so consecutive bits land two apart:
    * the classic mask ladder, as column arithmetic. */
  def spreadBits(v: Column): Column = {
    val m = Seq(
      (8, lit(0x00FF00FFL)),
      (4, lit(0x0F0F0F0FL)),
      (2, lit(0x33333333L)),
      (1, lit(0x55555555L)))
    m.foldLeft(v.bitwiseAND(lit(0xFFFFL))) { case (acc, (s, mask)) =>
      (acc.bitwiseOR(shiftleft(acc, s))).bitwiseAND(mask)
    }
  }

  /** Morton z-value of two 16-bit dimensions. */
  def zValue(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))

  /** Write `df` z-ordered on (xCol, yCol): range-partition by z-value
    * into nFiles files (one sorted run each), drop the helper column.
    * Range partitioning samples the z distribution, so files cover
    * contiguous z runs — i.e. spatially local 2-D tiles. */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
                    path: String, nFiles: Int): Unit =
    df.withColumn("__z", zValue(col(xCol), col(yCol)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
}
