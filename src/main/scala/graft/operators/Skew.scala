package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy-hitter keys.
  *
  * A plain `groupBy(key)` sends every record of a hot key to one reduce
  * task; at 100 TB one key with 1% of the data stalls the stage. Salting
  * splits each key into `salt` sub-keys for a partial aggregate, then
  * merges the partials in a second (tiny) aggregate — the classic
  * two-phase decomposition, valid for any algebraic aggregate.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default) covers joins; this utility covers aggregations whose partial
  * states are small but whose input distribution is pathological.
  */
object Skew {

  /** Deterministic-within-a-run salt in [0, salt): derived from the
    * physical row position (monotonically_increasing_id encodes the
    * partition id in its high bits and a per-partition counter in the low
    * bits, so pmod spreads rows evenly within every partition). One
    * definition — both call sites below must not drift. */
  private def saltCol(salt: Int): Column = pmod(monotonically_increasing_id(), lit(salt))

  private val SaltName = "__graft_salt"

  /** Salted count: exactly `df.groupBy(key).count()` but with bounded
    * per-task fan-in regardless of key skew. */
  def saltedCount(df: DataFrame, key: Column, salt: Int): DataFrame =
    df.withColumn(SaltName, saltCol(salt))
      .groupBy(key.as("key"), col(SaltName))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col("key"))
      .agg(sum("__partial").as("cnt"))

  /** Audit-DRIVEN automatic skew defense — closes the loop between the
    * detector ([[Maintenance.skewAuditOf]] / q_skew_audit, which flags
    * `salt_advised` when one key carries >1% of a table) and the manual
    * fallback ([[saltedJoin]], measured 8× over unmitigated SMJ and 5×
    * over AQE's split at 40M rows — tools/SkewAb): consult the audit row
    * for `auditLabel` (the left side's `tbl_col` entry) and emit the
    * salted plan ONLY when the audit advises it; an unflagged key gets
    * the plain equi-join so Catalyst/AQE keep full freedom (broadcast,
    * SMJ reorder, runtime split). The audit read is a bounded driver
    * pull: one row per audited column, filtered to one label.
    *
    * Operational shape at 100 TB: the audit is the nightly health check
    * (one combiner-backed count per key column — far cheaper than the
    * join it protects); pipelines consult the stored audit table instead
    * of recomputing it per query.
    *
    * @param audit a MATERIALIZED audit table (a stored table read, a
    *              checkpointed frame, or any plan that is cheap to
    *              re-execute). The consult below runs one bounded Spark
    *              job against this frame PER JOIN BUILT — passing the
    *              live q_skew_audit aggregation plan would re-execute
    *              the full audit scan on every call (the tests/tools
    *              localCheckpoint it for exactly this reason). */
  def autoSalt(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      audit: DataFrame,
      auditLabel: String,
      salt: Int = 8): DataFrame = {
    val advised = audit
      .filter(col("tbl_col") === auditLabel && col("salt_advised") === 1L)
      .limit(1).count() > 0L
    if (advised) saltedJoin(left, right, leftKey, rightKey, salt)
    else left.join(right, leftKey === rightKey)
  }

  /** Salted equi-join for a skewed LEFT side against a small-but-not-
    * broadcastable right side: the left's hot key is scattered across
    * `salt` sub-keys (derived from the physical row position — no data
    * column needed, deterministic within a run), and the right side is
    * replicated once per salt value, so the hot key's rows spread over
    * `salt` reduce tasks instead of stalling one. Row-multiset identical
    * to `left.join(right, leftKey === rightKey)`.
    *
    * This is the MANUAL fallback for engines/plans where AQE's runtime
    * skew-join split (demonstrated in PlanShapeSpec) can't apply — e.g. a
    * skewed aggregate feeding the join in the same stage. Cost: right side
    * ×salt (keep salt modest, 8–32). */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      salt: Int): DataFrame = {
    require(
      !left.columns.contains(SaltName) && !right.columns.contains(SaltName),
      s"inputs must not already contain a $SaltName column")
    val saltedLeft = left.withColumn(SaltName, saltCol(salt))
    val replicatedRight = right.withColumn(
      SaltName,
      explode(sequence(lit(0L), lit(salt - 1L)))) // long elements: matches pmod's type
    saltedLeft
      .join(
        replicatedRight,
        leftKey === rightKey && saltedLeft(SaltName) === replicatedRight(SaltName))
      .drop(SaltName)
  }
}
