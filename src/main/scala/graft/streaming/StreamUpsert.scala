package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming upsert sink — the foreachBatch MERGE pattern: a CDC-style
  * change stream (key, op, val, ts) continuously folded into a queryable
  * catalog table with last-writer-wins semantics, the streaming twin of
  * batch `Relational.cdcApply`.
  *
  * Convergence by construction, not by coordination: the table keeps one
  * row per key carrying the WINNING change's (ts, seq, op) — including
  * delete tombstones — and every merge is a pure per-key argmax over
  * current-state ∪ batch. That makes the fold order-free and replays
  * no-ops: re-delivering any earlier micro-batch cannot regress a newer
  * value (the older ts loses the argmax), and a late old update cannot
  * resurrect a deleted key (the tombstone outranks it). Exactly-once
  * OUTPUT semantics from at-least-once delivery, with no commit-log
  * side table; `(ts, seq)` totally orders changes so ties at equal ts
  * stay deterministic.
  *
  * Scale: the per-batch merge is one co-partitioned window argmax over
  * current ∪ batch — state is O(live keys + tombstones), shuffled on
  * key once per trigger. The full-overwrite write-back is the honest
  * parquet-only cost (no transactional format in this container): a
  * real deployment swaps the write for MERGE INTO on a table format
  * with a commit log and keeps this exact merge plan. The merged
  * relation is localCheckpoint'd before the overwrite so the write
  * never reads the files it replaces. Tombstones are retained
  * indefinitely here; production compaction would age them out past
  * the maximum expected lateness.
  */
object StreamUpsert {

  /** Fold one change relation into the table's current state: per-key
    * argmax on (ts, seq), tombstones included. Pure — shared by the
    * sink and by tests replaying feeds in arbitrary order. */
  def mergeChanges(spark: SparkSession, table: String, changes: DataFrame): Unit = {
    val cols = Seq("key", "op", "val", "ts", "seq").map(col)
    val cur = if (spark.catalog.tableExists(table)) Some(spark.table(table).select(cols: _*)) else None
    val unioned = cur.map(_.unionByName(changes.select(cols: _*)))
      .getOrElse(changes.select(cols: _*))
    val w = Window.partitionBy("key")
      .orderBy(col("ts").desc, col("seq").desc)
    val merged = unioned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .localCheckpoint() // detach from the table files before overwrite
    graft.sources.Layouts.save(merged, table)
    // the overwrite replaces files under the table location; drop the
    // session's cached file listing so the next read lists fresh
    spark.catalog.refreshTable(table)
  }

  /** Attach the upsert sink to a streaming change feed. */
  def upsertStream(changes: DataFrame, table: String,
                   checkpointDir: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeChanges(batch.sparkSession, table, batch)
      }
      .start()

  /** The queryable state: live rows only (tombstones filtered). The
    * refresh matters: the sink's merges run on the micro-batch's
    * CLONED session, whose refreshTable cannot clear THIS session's
    * relation cache — without it a reader can hold a file listing from
    * before the latest overwrite (a table-format commit log makes this
    * go away; for parquet-only the refresh is the read-side contract). */
  def currentState(spark: SparkSession, table: String): DataFrame = {
    spark.catalog.refreshTable(table)
    spark.table(table).filter(col("op") =!= "D").select("key", "val", "ts")
  }
}
