package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SCD-1 upsert sink — the lakehouse "merge a change stream
  * into a dimension table" pattern, with exactly-once EFFECT across
  * restarts.
  *
  * Structured Streaming's contract for `foreachBatch` is at-least-once: a
  * crash after the batch function ran but before the checkpoint commit
  * re-delivers the SAME (batchId, data) on restart. Exactly-once effect
  * therefore needs the batch function to be replay-safe, which this sink
  * gets two independent ways:
  *
  *   1. a committed-batch-id marker table ([[VersionedTable]]'s
  *      `<table>_commits`) — a replayed batchId ≤ the marker is skipped
  *      outright (the documented idempotent-sink recipe from the
  *      Structured Streaming guide);
  *   2. the merge itself is IDEMPOTENT: latest-per-key by (ts, event_id)
  *      — re-applying the same batch reproduces the identical table, so
  *      even the crash window between data write and marker write (plain
  *      parquet has no multi-file transaction; Delta/Iceberg close this
  *      with an atomic commit) degrades to a harmless re-merge, never a
  *      double-apply.
  *
  * Scale shape: each micro-batch reduces map-side to latest-per-key
  * before a key-partitioned full-outer merge with the target (the
  * [[graft.operators.Maintenance.qMergeUpsert]] shape); the target is
  * rewritten per batch here — a production table instead merges
  * file-granular (Delta) or bucket-granular, same logical plan.
  */
object UpsertSink {

  /** Latest row per user_id under the (ts, event_id) order — the
    * deterministic SCD-1 "current state" reduction used for both the
    * batch-internal dedup and the target merge. */
  private def latestPerKey(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Apply ONE micro-batch: skip replays, else merge latest-per-key batch
    * rows over the current table state and advance the marker. Public to
    * the spec so replay safety is testable without a crash harness. */
  private[streaming] def applyBatch(
      s: SparkSession, table: String, batch: DataFrame, batchId: Long): Unit = {
    if (batchId <= VersionedTable.committedBatch(s, table)) return // replayed batch: already applied
    val incoming = latestPerKey(batch)
    val merged =
      if (!s.catalog.tableExists(table)) incoming
      else latestPerKey(s.table(table).unionByName(incoming))
    // localCheckpoint materializes the merge BEFORE the overwrite drops
    // the old table contents it was computed from
    merged.localCheckpoint().write.mode(SaveMode.Overwrite).saveAsTable(table)
    // drop the cached file listing — a reader holding the pre-overwrite
    // relation would chase deleted part files
    s.catalog.refreshTable(table)
    VersionedTable.markCommitted(s, table, batchId)
  }

  /** Start the upsert stream: `events` rows (event_id, ts, user_id,
    * value) maintain `table` as the per-user latest state. */
  def upsertStream(
      events: DataFrame,
      table: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch.sparkSession, table, batch, batchId)
      }
      .start()
}
