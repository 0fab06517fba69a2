package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeExprs

/** The engine core: compiles a [[BatchSpec]] into a declarative DataFrame
  * pipeline and lets Catalyst/Tungsten pick the physical plan.
  *
  * Reference dataflow (TaskManagerImpl.java:128-141):
  *   scan dir → map-binary chain (+partition binary) → central concatenation
  *   → reduce-binary chain → dedup-commit to dest dir
  *
  * Spark-native dataflow produced here:
  *   `spark.read.text` (FileSourceScanExec) → chained native/flatMap ops
  *   (whole-stage codegen; no per-binary temp files) → line→KV split by
  *   the native `NativeExprs.lineKv` kernel → shuffle on `key`
  *   (HashPartitioning replaces both the partition binary AND the
  *   TaskManager's single-node concatenation phase — the latter disappears,
  *   SURVEY.md O4) → per-key aggregation (partial+final HashAggregate or
  *   `mapGroups`) → `write.text` (the task-commit protocol provides the
  *   first-writer-wins exactly-once semantics of
  *   DistrStorage.moveUniqueReduceResultsToDestDir, DistrStorage.java:213-233).
  *
  * Scale notes (100 TB): the plan contains exactly ONE shuffle on `key`
  * (the reduce's own groupBy/groupByKey exchange, or an explicit
  * repartition for map-only jobs). A positive `split_count` adds one
  * parity-only round-robin shuffle of the raw input BEFORE the map chain —
  * on a real cluster leave it unset (file splits are sized by
  * `spark.sql.files.maxPartitionBytes`) and let AQE coalesce/skew-split
  * the reduce side instead of a fixed `r_num`. Speculative re-execution
  * and bounded retry (reference M1/M2) come from `spark.speculation` and
  * `spark.task.maxFailures` — configuration, not engine code.
  *
  * Line handling is regex-free: `tokenize` (`NativeExprs.lineTokens`) and
  * the KV split (`NativeExprs.lineKv`) each make one pass over the line's
  * UTF-8 bytes. Whitespace is Java regex `\s`,
  * `[ \t\n\x0B\f\r]` (`NativeExprs.isWs`); all of it is ASCII and no
  * multi-byte UTF-8 sequence holds an ASCII byte, so the byte scan splits
  * exactly where `split(line, "\\s+")` would.
  */
object Engine {

  /** Build the logical plan for a spec: returns the final (key, value)
    * DataFrame just before the sink. */
  def plan(spark: SparkSession, spec: BatchSpec): DataFrame = {
    // O1 — directory scan. split_count = 0 ⇒ empty job (DistrStorage.java:140-142).
    val raw = spark.read.text(spec.inputId)
    val sized =
      if (spec.splitCount == 0) raw.limit(0)
      else if (spec.splitCount > 0) raw.repartition(spec.splitCount)
      else raw

    // O2 — map chain: fold the named ops in order (≡ repeated map_bin_ids).
    val mapped = spec.mapOps.foldLeft(sized) { (df, name) => Ops.mapOp(name)(df) }

    // Lines → KV: key = first whitespace-separated token, value = rest
    // (partition.cpp:30-31 / reduce.cpp:23-27 parsing convention), one
    // byte pass of the native LineKv kernel. The reference's `iss >> key`
    // stream extraction skips leading whitespace of EVERY kind (the `\s`
    // set, NativeExprs.isWs), so an indented line keys on its first real
    // token. Blank/whitespace-only lines parse to NULL and are DROPPED:
    // the reference's `iss >> key` fails extraction on them and emits
    // nothing, so fabricating a (key="", value="") record would diverge.
    // (The optimizer pushes the null filter below the projection, so the
    // kernel runs twice per line; a separate byte test for the filter was
    // within run-to-run noise on perfbench's mr_batch, 4 vCPU.)
    val kv = mapped
      .select(NativeExprs.lineKv(col(KV.LineCol)).as("kv"))
      .filter(col("kv").isNotNull)
      .select(col("kv.key").as(KV.KeyCol), col("kv.value").as(KV.ValueCol))

    // O3 — hash partition on key (≡ partition.cpp:33-35). Every reduce op
    // brings its OWN key shuffle (groupBy for algebraic, groupByKey for
    // generic), so an explicit repartition before it would only force a
    // second full shuffle of the data. The explicit hash partition is
    // needed exactly when there is NO reduce: a map-only job must still
    // co-locate equal keys in the R output files (the reference's
    // partition binary always runs, TaskManagerImpl.java:151).
    val partitioned =
      if (spec.rNum > 0 && spec.reduceOps.isEmpty) kv.repartition(spec.rNum, col(KV.KeyCol))
      else kv

    // O5 — reduce chain (≡ repeated reduce_bin_ids).
    spec.reduceOps.foldLeft(partitioned) { (df, name) => applyReduce(df, Ops.reduceOp(name)) }
  }

  private def applyReduce(kv: DataFrame, op: ReduceOp): DataFrame = op match {
    case AlgebraicReduce(_, agg) =>
      kv.groupBy(col(KV.KeyCol)).agg(agg(col(KV.ValueCol)).as(KV.ValueCol))
    case GenericReduce(_, f) =>
      val spark = kv.sparkSession
      import spark.implicits._
      kv.as[KV](Encoders.product[KV])
        .groupByKey(_.key)
        .mapGroups((k, rows) => KV(k, f(k, rows.map(_.value))))
        .toDF(KV.KeyCol, KV.ValueCol)
  }

  /** Run a spec end-to-end: plan + sink. The text sink writes the
    * reference's `"<key> <value>"` line format; Spark's commit protocol
    * supplies exactly-once output under retry/speculation (SURVEY.md O6). */
  def run(spark: SparkSession, spec: BatchSpec): Unit = {
    val out = plan(spark, spec)
      .select(concat_ws(" ", col(KV.KeyCol), col(KV.ValueCol)).as("value"))
    val sized = if (spec.rNum > 0) out.coalesce(spec.rNum) else out
    sized.write.mode(SaveMode.Overwrite).text(spec.finalDestDirId)
  }

  def runJson(spark: SparkSession, json: String): Unit =
    run(spark, BatchSpec.fromJson(json))
}
