package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SCD Type-2 history sink — the foreachBatch twin of batch
  * `Relational.cdcScd2`: a CDC change stream (key, op, val, ts, seq)
  * continuously folded into a queryable validity-interval history.
  *
  * Convergence the same way as StreamUpsert: the persisted state IS
  * the deduplicated change set (each history row carries its
  * originating change), and the validity intervals are a DETERMINISTIC
  * function of that set — every merge re-derives `valid_to` as the
  * lead change timestamp per key over state ∪ batch. That makes the
  * fold order-free (any batch permutation converges to the same
  * history), replays no-ops (changes dedupe on (key, ts, seq)), and —
  * unlike an append-only SCD2 writer — a LATE change lands in the
  * middle of a key's history with both its own interval and its
  * predecessor's closure correct, because closure is recomputed, never
  * frozen at first write.
  *
  * Scale: one co-partitioned lead window over state ∪ batch per
  * trigger — the same cost class as StreamUpsert's argmax merge; the
  * parquet full-overwrite is the same honest no-table-format cost,
  * with the same MERGE INTO swap point. State is O(total changes)
  * because history IS the product; production ages out closed
  * intervals past a retention horizon. */
object StreamScd2 {

  private val changeCols = Seq("key", "op", "val", "ts", "seq").map(col)

  /** Fold one change relation into the history table: dedupe the
    * underlying change set, then re-derive every interval. Pure —
    * shared by the sink and by permutation/replay tests. */
  def mergeHistory(spark: SparkSession, table: String, changes: DataFrame): Unit = {
    val cur = if (spark.catalog.tableExists(table)) Some(spark.table(table).select(changeCols: _*)) else None
    val all = cur.map(_.unionByName(changes.select(changeCols: _*)))
      .getOrElse(changes.select(changeCols: _*))
      .dropDuplicates("key", "ts", "seq")
    val w = Window.partitionBy("key").orderBy(col("ts"), col("seq"))
    val history = all
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .localCheckpoint() // detach from the table files before overwrite
    graft.sources.Layouts.save(history, table)
    spark.catalog.refreshTable(table)
  }

  /** Attach the SCD2 sink to a streaming change feed. */
  def scd2Stream(changes: DataFrame, table: String,
                 checkpointDir: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeHistory(batch.sparkSession, table, batch)
      }
      .start()

  /** The queryable history: update versions with their validity
    * intervals (deletes close their predecessor but never appear).
    * Read-side refresh for the same cloned-session reason as
    * StreamUpsert.currentState. */
  def history(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(table)
    spark.table(table).filter(col("op") === "U")
      .select(col("key"), col("val"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  /** Point-in-time state at `asOfMs` — the streaming twin of batch
    * `Relational.cdcAsofSnapshot`: half-open interval containment. */
  def snapshot(spark: SparkSession, table: String, asOfMs: Long): DataFrame = {
    val asOf = timestamp_millis(lit(asOfMs))
    history(spark, table)
      .filter(col("valid_from") <= asOf &&
        (col("valid_to").isNull || col("valid_to") > asOf))
      .select("key", "val")
  }
}
