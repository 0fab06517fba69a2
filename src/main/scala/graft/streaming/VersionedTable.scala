package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** VERSIONED-SNAPSHOT table commits on plain parquet — the mechanism
  * Delta/Iceberg provide natively, re-derived once and shared by every
  * non-idempotent streaming sink in the repo ([[MvMaintainSink]]'s
  * additive MV partials, [[TrendingTerms]]' Misra–Gries merge,
  * [[CorpusBuildSink]]'s manifest). The protocol:
  *
  *   - batch `b` writes the new state as table `<table>_v<b>`, computed
  *     from the COMMITTED version (never in place);
  *   - the commit marker (`<table>_commits`, an append-only batch-id
  *     log) advances to `b` only AFTER `v<b>` is fully written;
  *   - readers resolve the version the marker names — a crashed attempt
  *     that wrote `v<b>` but no marker is invisible;
  *   - an at-least-once replay of batch `b` recomputes `v<b>` from the
  *     same committed base and the same batch rows — an idempotent
  *     overwrite of identical content, whether or not the marker had
  *     advanced (this is what marker-skip alone cannot give a
  *     non-idempotent merge: the write-then-crash window would
  *     double-apply);
  *   - versions beyond the retention window (`retain`, default 1) are
  *     retired after the marker advances; retained ones are readable
  *     via [[versionAt]] — Delta/Iceberg-style time travel, with
  *     storage bounded at `retain` snapshots and the marker log kept
  *     whole as the audit trail.
  *
  * Scale: per-commit cost is the merged state's size (key cardinality /
  * sketch size / manifest rows — never the corpus) plus two metadata
  * writes; the marker read is an O(committed-batches) max over an
  * append-only single-column table.
  */
object VersionedTable {

  private def markerTable(table: String) = table + "_commits"
  private[streaming] def versionName(table: String, v: Long) = table + "_v" + v

  /** Highest committed snapshot's batch id (-1 when none). */
  private[streaming] def committedBatch(s: SparkSession, table: String): Long = {
    val t = markerTable(table)
    if (!s.catalog.tableExists(t)) -1L
    else {
      // another session (the stream's cloned one) may have appended since
      // this session cached the relation — refresh before deciding
      s.catalog.refreshTable(t)
      val r = s.table(t).agg(max("batch_id")).collect().head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
  }

  /** Append `batchId` to `table`'s commit marker: the one write that
    * makes a batch committed, shared with [[UpsertSink]]. */
  private[streaming] def markCommitted(s: SparkSession, table: String, batchId: Long): Unit =
    s.createDataFrame(
      java.util.List.of(Row(batchId)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "batch_id", org.apache.spark.sql.types.LongType))))
      .write.mode(SaveMode.Append).saveAsTable(markerTable(table))

  /** The current COMMITTED snapshot — the version the marker names,
    * never a live table a crashed attempt may have half-advanced.
    * None when no batch has committed. */
  private[streaming] def current(s: SparkSession, table: String): Option[DataFrame] = {
    val c = committedBatch(s, table)
    if (c < 0L) None
    else {
      val v = versionName(table, c)
      s.catalog.refreshTable(v)
      Some(s.table(v))
    }
  }

  /** Step 1 of the commit protocol: write `content` as version
    * `v<batchId>` — no marker, no retire. Public to the specs so the
    * crash window between the version write and the marker append is
    * directly exercisable. A crashed earlier attempt may have left this
    * version (no marker), registered or as bare files: same committed
    * base + same batch rows = identical content, so drop-and-rewrite is
    * the idempotent thing. Takes no lock of its own: the caller holds
    * the marker-table lock ([[applyBatch]]), which already serializes
    * every writer of `table`. */
  private[streaming] def writeVersion(
      s: SparkSession, table: String, batchId: Long, content: DataFrame): Unit = {
    val vName = versionName(table, batchId)
    s.sql(s"DROP TABLE IF EXISTS $vName")
    graft.sources.Warehouse.rm(graft.sources.Warehouse.managedTableDir(s, vName))
    content.write.mode(SaveMode.Overwrite).saveAsTable(vName)
  }

  /** All committed batch ids, ascending (empty when none) — the marker
    * log read whole. Spec/audit aid only: per-commit and per-read code
    * paths must NOT call this (a long-lived stream's log grows one row
    * per historical commit, so a whole-log driver pull per micro-batch
    * would be O(total history)); they use [[isCommitted]] (bounded
    * filtered pull) and [[liveVersionIds]] (catalog-bounded) instead. */
  private[streaming] def committedBatches(s: SparkSession, table: String): Seq[Long] = {
    val t = markerTable(table)
    if (!s.catalog.tableExists(t)) Seq.empty
    else {
      s.catalog.refreshTable(t)
      s.table(t).collect().map(_.getLong(0)).sorted.toSeq
    }
  }

  /** Marker-log membership as a bounded pull: the scan is a distributed
    * filter over the append-only log; the driver receives at most one
    * row regardless of history length. */
  private[streaming] def isCommitted(s: SparkSession, table: String, batchId: Long): Boolean = {
    val t = markerTable(table)
    s.catalog.tableExists(t) && {
      s.catalog.refreshTable(t)
      !s.table(t).filter(col("batch_id") === batchId).limit(1).isEmpty
    }
  }

  /** Batch ids of LIVE version tables, ascending — enumerated from the
    * catalog (whose matching-table count is bounded by the retention
    * window plus at most the odd crash-leaked orphan), never from the
    * whole marker history. This is what makes the per-commit retire
    * step O(retain), and it self-heals: a version a crashed run
    * committed but never retired is still listed here and gets dropped
    * by the next commit, instead of leaking forever behind a
    * top-of-log window. */
  private[streaming] def liveVersionIds(s: SparkSession, table: String): Seq[Long] = {
    val pat = ("^" + java.util.regex.Pattern.quote(table.toLowerCase + "_v") + "(\\d+)$").r
    s.sessionState.catalog.listTables(s.catalog.currentDatabase)
      .flatMap(t => pat.findFirstMatchIn(t.table.toLowerCase).map(_.group(1).toLong))
      .sorted
  }

  /** TIME TRAVEL: the snapshot as of committed batch `batchId` — None if
    * that version was never committed or has been retired past the
    * retention window. The read is marker-gated, so a crashed attempt's
    * orphan version (written, never committed) is not readable. */
  def versionAt(s: SparkSession, table: String, batchId: Long): Option[DataFrame] =
    if (!isCommitted(s, table, batchId)) None
    else {
      val v = versionName(table, batchId)
      if (!s.catalog.tableExists(v)) None
      else {
        s.catalog.refreshTable(v)
        Some(s.table(v))
      }
    }

  /** The full protocol for one micro-batch: skip an already-committed
    * replay, write version `v<batchId>` = `merge(committed state)`,
    * advance the marker, retire versions beyond the retention window.
    * `merge` must be a pure function of the committed base and the batch
    * (so a replayed crash recomputes identical content). `retain` is the
    * number of COMMITTED versions kept on disk (≥1; default 1 = current
    * only) — the Delta/Iceberg-style time-travel window: [[versionAt]]
    * reads any retained version, and retiring only past the window keeps
    * per-commit storage bounded at `retain` snapshots. Retired versions
    * keep their marker rows (history stays auditable; only the data is
    * reclaimed). Returns false when the batch was an already-committed
    * replay (skipped).
    *
    * Concurrency (r14): the whole read-merge-commit-retire sequence runs
    * under the warehouse's cross-JVM table lock on the marker-table
    * name ([[graft.sources.Warehouse.withTableLock]] — an OS file lock:
    * a slow merge holds it for as long as it runs, and the kernel frees
    * a crashed writer's lock at once). Two interleaved writers in one
    * application therefore SERIALIZE: the second acquires after the
    * first's marker advance, re-reads the committed base, and merges on
    * top of it — without the lock both would merge from the same base
    * and the later commit would silently drop the earlier batch's
    * contribution. A same-batch replay arriving second sees the advanced
    * marker and skips as before. Within one micro-batch stream this lock
    * is uncontended (one writer) and costs one lock-file open and one
    * uncontended `tryLock` per commit.
    *
    * Cross-JVM honesty: the lock gives mutual exclusion across JVMs,
    * but marker VISIBILITY does not extend to a second JVM that never
    * registered the marker table (the in-memory catalog is per-JVM;
    * once registered, foreign appends ARE visible — committedBatch
    * refreshes the file listing). So a fresh JVM that would otherwise
    * merge from an empty base over existing on-disk commit state FAILS
    * LOUDLY here instead of silently forking history — resuming another
    * process's versioned table requires a persistent metastore (the
    * same stand-in contract as the warehouse reuse markers). */
  private[streaming] def applyBatch(
      s: SparkSession, table: String, batchId: Long, retain: Int = 1)(
      merge: Option[DataFrame] => DataFrame): Boolean = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    graft.sources.Warehouse.withTableLock(s, markerTable(table)) {
      val committed = committedBatch(s, table)
      if (committed < 0L) {
        // catalog knows nothing — but on-disk marker files mean another
        // (or a crashed) JVM committed here; merging from an empty base
        // would fork its history
        val mDir = graft.sources.Warehouse.managedTableDir(s, markerTable(table))
        val foreign = mDir.isDirectory && Option(mDir.listFiles).exists(
          _.exists(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")))
        if (foreign) throw new IllegalStateException(
          s"versioned table '$table' has commit state on disk (${mDir}) that this " +
            "JVM's catalog cannot see — refusing to restart history from an empty " +
            "base. Cross-process resume needs a persistent metastore; clear the " +
            "leftover state or register the marker table before committing.")
      }
      if (batchId <= committed) false // at-least-once replay, committed
      else {
        writeVersion(s, table, batchId, merge(current(s, table)))
        markCommitted(s, table, batchId)
        // retire versions beyond the window — enumerated from the CATALOG
        // (bounded by retain plus at most a crash-leaked orphan), never by
        // collecting the whole append-only marker log: per-commit cost stays
        // O(retain) on a stream with unbounded history. The <= batchId guard
        // keeps any newer version untouchable (none can exist under the
        // lock, but the guard costs nothing).
        // `retain` counts COMMITTED snapshots: an uncommitted crash orphan
        // (version written, marker never advanced — never readable) must not
        // occupy a retention slot and push a committed snapshot out early, so
        // orphans are dropped unconditionally and the window is taken over
        // the committed subset only. The isCommitted probe runs once per live
        // version — O(retain + orphans) bounded pulls, not a log collect.
        val live = liveVersionIds(s, table).filter(_ <= batchId)
        val (committedLive, orphans) =
          live.partition(v => v == batchId || isCommitted(s, table, v))
        for (old <- orphans ++ committedLive.dropRight(retain))
          s.sql(s"DROP TABLE IF EXISTS ${versionName(table, old)}")
        true
      }
    }
  }
}
