package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` Column↔Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils). Spark 4 made Column a
  * connect-compatible wrapper around ColumnNode; constructing a Column from
  * a custom Catalyst Expression — the documented extension path for native
  * expressions — now goes through this internal utility. This is the
  * standard shim every Spark-extension library ships: one file inside the
  * org.apache.spark.sql package, nothing else reaches into internals.
  * It also reaches the `private[spark]` task output metrics a DSv2 writer
  * needs ([[reportOutput]]), the context's block removal ([[dropBlocks]])
  * and the script-transform plan node ([[scriptTransform]]).
  */
object GraftBridge {
  /** Re-export of the `private[sql]` AbstractDataType so graft expressions
    * can declare `inputTypes` (ExpectsInputTypes) outside the sql package. */
  type AbstractDT = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a native expression as a SQL function on a live session (the
    * imperative twin of wiring [[graft.functions.GraftExtensions]] into
    * `spark.sql.extensions` at session build time). */
  def registerFunction(
      spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The builder this session's function registry holds under `name`, if
    * any. */
  def functionBuilder(
      spark: SparkSession, name: String): Option[Seq[Expression] => Expression] =
    spark.sessionState.functionRegistry
      .lookupFunctionBuilder(catalyst.FunctionIdentifier(name))

  /** Record a DSv2 writer task's output in its task metrics, as Spark's
    * file sinks do through their stats tracker: a DataWriter has no such
    * hook, and the `OutputMetrics` setters are `private[spark]`. No-op
    * outside a task. */
  def reportOutput(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(bytes)
      m.setRecordsWritten(records)
    }

  /** Free the blocks backing `rdd` (non-blocking) without `RDD.unpersist`,
    * which WARNs for every locally checkpointed RDD that it cannot be
    * recomputed afterwards. That is why only an RDD no caller reads again
    * may be dropped. */
  def dropBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `lines` (one string column) piped through the shell string `command`,
    * one `/bin/bash -c` child per partition: the `ScriptTransformation`
    * node behind `SELECT TRANSFORM … USING`, planned without Hive as
    * `SparkScriptTransformationExec`. Each row is one stdin line; each
    * stdout line is one row of the one string column `name`, the whole
    * line. A non-zero exit fails the task. The output's null marker is a
    * line terminator, which no line holds, so a `\N` line stays a line
    * (the default marker would read it as NULL). */
  def scriptTransform(lines: DataFrame, command: String, name: String): DataFrame = {
    val ds = lines.asInstanceOf[classic.Dataset[Row]]
    val out = catalyst.expressions.AttributeReference(name, types.StringType)()
    val io = catalyst.plans.logical.ScriptInputOutputSchema(
      Nil, Seq("TOK_TABLEROWFORMATNULL" -> "\n"), None, None, Nil, Nil, None, None,
      schemaLess = false)
    classic.Dataset.ofRows(
      ds.sparkSession,
      catalyst.plans.logical.ScriptTransformation(command, Seq(out), ds.logicalPlan, io))
  }
}
