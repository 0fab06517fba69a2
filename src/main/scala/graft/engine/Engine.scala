package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, GraftBridge, SaveMode, SparkSession}
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
  *   `spark.read.text` (FileSourceScanExec) → chained native/flatMap/pipe
  *   ops (whole-stage codegen; no per-binary temp files) → line→KV split
  *   by the native `NativeExprs.lineKv` kernel → shuffle on `key`
  *   (HashPartitioning replaces both the partition binary AND the
  *   TaskManager's single-node concatenation phase — the latter disappears,
  *   SURVEY.md O4) → per-key reduction (partial+final HashAggregate,
  *   `mapGroups`, or a pipe through the reduce binary) → the `graft-kv`
  *   DSv2 writer ([[graft.sources.KvDirSource]]).
  *
  * Every job takes this one path, whether its ops are built-in, lambdas or
  * the reference's binaries ([[PipeMapOp]], [[PipeReduce]]): a binary is
  * a child process inside the plan (`GraftBridge.scriptTransform`), so a
  * binary job gets JSON submission and the exactly-once commit below like
  * any other.
  * A pipe reduce runs the explicit key shuffle, renders each row as
  * `"<key> <value>"`, pipes the lines through the binary and parses its
  * output with the map chain's line→KV split.
  *
  * The sink is the reference's own protocol (SURVEY.md O6): each task
  * attempt writes its own tagged file (`putReduceFile`,
  * DistrStorage.java:116-123), and the driver moves exactly one file per
  * partition into the destination (`moveUniqueReduceResultsToDestDir`,
  * DistrStorage.java:213-233) — Spark's commit coordinator accepts one
  * attempt per partition, and a retried or speculative attempt's file is
  * never moved. Overwrite happens at that commit, so a failed job leaves
  * the previous output in place. The destination holds only
  * `part-<job token>-p<partition>` shards: no `_SUCCESS` marker (an old
  * one is deleted) and no local `.crc` sidecars. A row the line format
  * cannot represent fails the job loudly instead of landing as a line
  * that reads back wrong: a value holding a line terminator or starting
  * with whitespace, or a null key or value.
  *
  * Scale notes (100 TB): the plan contains exactly ONE shuffle on `key`
  * per reduce op (an algebraic or generic reduce's own groupBy/groupByKey
  * exchange) and one for a map-only job with `r_num` set; both a
  * map-only job and a pipe reduce take the explicit hash partition from
  * one rule, `byKey`. A positive `split_count` adds one
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
    val kv = lineKv(mapped)

    // O3 — hash partition on key (≡ partition.cpp:33-35). Algebraic and
    // generic reduce ops bring their OWN key shuffle (groupBy,
    // groupByKey), so an explicit one before them would only force a
    // second full shuffle of the data. The explicit hash partition is
    // needed when there is NO reduce — a map-only job must still co-locate
    // equal keys in the R output files (the reference's partition binary
    // always runs, TaskManagerImpl.java:151) — and before a pipe reduce.
    val partitioned =
      if (spec.rNum > 0 && spec.reduceOps.isEmpty) byKey(kv, spec.rNum) else kv

    // O5 — reduce chain (≡ repeated reduce_bin_ids).
    spec.reduceOps.foldLeft(partitioned) { (df, name) =>
      applyReduce(df, Ops.reduceOp(name), spec.rNum)
    }
  }

  /** Lines → KV: key = first whitespace-separated token, value = rest
    * (partition.cpp:30-31 / reduce.cpp:23-27 parsing convention), one byte
    * pass of the native LineKv kernel. The reference's `iss >> key` stream
    * extraction skips leading whitespace of EVERY kind (the `\s` set,
    * NativeExprs.isWs), so an indented line keys on its first real token.
    * Blank/whitespace-only lines parse to NULL and are DROPPED: the
    * reference's `iss >> key` fails extraction on them and emits nothing,
    * so fabricating a (key="", value="") record would diverge. (The
    * optimizer pushes the null filter below the projection, so the kernel
    * runs twice per line; a separate byte test for the filter was within
    * run-to-run noise on perfbench's mr_batch, 4 vCPU.) */
  private def lineKv(lines: DataFrame): DataFrame =
    lines
      .select(NativeExprs.lineKv(col(KV.LineCol)).as("kv"))
      .filter(col("kv").isNotNull)
      .select(col("kv.key").as(KV.KeyCol), col("kv.value").as(KV.ValueCol))

  /** The explicit hash partition on `key`: `r_num` partitions, or the
    * session's shuffle partition count when `r_num` is unset. */
  private def byKey(kv: DataFrame, rNum: Int): DataFrame =
    if (rNum > 0) kv.repartition(rNum, col(KV.KeyCol)) else kv.repartition(col(KV.KeyCol))

  private def applyReduce(kv: DataFrame, op: ReduceOp, rNum: Int): DataFrame = op match {
    case PipeReduce(_, command) =>
      // the line the reference's partition binary writes for the reduce
      // binary after its `iss >> key >> value` (partition.cpp:30-31)
      val lines = byKey(kv, rNum)
        .select(concat(col(KV.KeyCol), lit(" "), col(KV.ValueCol)).as(KV.LineCol))
      lineKv(GraftBridge.scriptTransform(lines, command, KV.LineCol))
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

  /** Run a spec end-to-end: plan + sink. The `graft-kv` sink writes the
    * reference's `"<key> <value>"` line format, at most `r_num` shards
    * (one per non-empty partition), with exactly-once output under
    * retry and speculation (SURVEY.md O6). The old output is replaced
    * only when the job commits; rows the format cannot represent fail
    * the job (see the header). */
  def run(spark: SparkSession, spec: BatchSpec): Unit = {
    val out = plan(spark, spec)
    val sized = if (spec.rNum > 0) out.coalesce(spec.rNum) else out
    sized.write.format("graft-kv").mode(SaveMode.Overwrite).save(spec.finalDestDirId)
  }
}
