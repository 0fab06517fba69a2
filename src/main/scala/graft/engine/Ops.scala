package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftBridge}
import org.apache.spark.sql.functions._

import graft.functions.NativeExprs

/** Operator registry — the Spark-native replacement for the reference's
  * user-supplied native binaries.
  *
  * The reference's UDF surface is "a chain of map binaries, one partition
  * binary, a chain of reduce binaries" (common.proto:14-23); each map binary
  * turns each input line into 0..n output lines (README.md:14-21), the
  * partition binary hashes the first token (partition.cpp:33-35), and each
  * reduce binary collapses all co-located values of a key into one line
  * (README.md:34-44). Here each binary becomes a named op, of one of three
  * kinds per side:
  *
  *   - [[MapOp]]: `DataFrame[line] => DataFrame[line]` — expressed with
  *     native column functions whenever possible ([[ExprMapOp]]) so the
  *     whole chain stays inside whole-stage codegen (a strict improvement
  *     over the reference's one-temp-file-per-binary ping-pong,
  *     MapProcessor.java:56-83); a line => lines lambda ([[LambdaMapOp]]);
  *     or the binary itself as a child process ([[PipeMapOp]]). The
  *     built-ins use no regex and no higher-order function: `tokenize` is
  *     the `NativeExprs.lineTokens` byte kernel and `drop_empty` keeps the
  *     lines the `NativeExprs.lineKv` parse does not drop, both on the Java
  *     `\s` set (`NativeExprs.isWs`).
  *   - [[ReduceOp]]: an algebraic aggregation ([[AlgebraicReduce]]:
  *     Catalyst `HashAggregateExec` with partial map-side combine — the
  *     reference's "Map+combine" convention, TaskManagerImpl.java:340); a
  *     generic per-key lambda ([[GenericReduce]]: `groupByKey.mapGroups`);
  *     or the binary itself as a child process over the key-shuffled lines
  *     ([[PipeReduce]]).
  *
  * Hash partitioning is not an op here: it is the shuffle that
  * `repartition(R, $"key")` / `groupBy("key")` already performs. The
  * reference's contract is only "equal keys end up co-located"
  * (README.md:28,41-42), which Spark's `HashPartitioning` satisfies.
  */
sealed trait MapOp {
  def name: String
  /** Transform a 1-column DataFrame of text lines into another. */
  def apply(lines: DataFrame): DataFrame
}

/** A map op expressed as a native Column expression producing an array of
  * output lines per input line (codegen-friendly; flatMap semantics via
  * `explode`). */
final case class ExprMapOp(name: String, expand: Column => Column) extends MapOp {
  def apply(lines: DataFrame): DataFrame =
    lines.select(explode(expand(col(KV.LineCol))).as(KV.LineCol))
}

/** Escape hatch with the exact power of an opaque map binary: an arbitrary
  * line => lines lambda (runs as a deserialized `flatMap`; prefer
  * [[ExprMapOp]]). */
final case class LambdaMapOp(name: String, f: String => IterableOnce[String]) extends MapOp {
  def apply(lines: DataFrame): DataFrame = {
    implicit val enc = Encoders.STRING
    lines.select(col(KV.LineCol)).as[String].flatMap(f).toDF(KV.LineCol)
  }
}

/** A map binary run as a child process: the lines of each partition stream
  * through `command`, a shell string (see [[Ops.stdioCommand]]), and each
  * stdout line is an output line. The pipe is a node of the job's own plan
  * ([[org.apache.spark.sql.GraftBridge.scriptTransform]]), so the chain
  * stays one stage with no temp files. */
final case class PipeMapOp(name: String, command: String) extends MapOp {
  def apply(lines: DataFrame): DataFrame =
    GraftBridge.scriptTransform(lines.select(col(KV.LineCol)), command, KV.LineCol)
}

sealed trait ReduceOp { def name: String }

/** Per-key aggregation expressible as a Catalyst aggregate over the string
  * values — gets partial (map-side) aggregation for free. `agg` maps the
  * value column to the aggregated value column (must yield a string). */
final case class AlgebraicReduce(name: String, agg: Column => Column) extends ReduceOp

/** Fully generic per-key reduction — (key, all values) => one value — the
  * exact contract of a reduce binary (README.md:34-44; values unsorted,
  * co-location guaranteed). */
final case class GenericReduce(name: String, f: (String, Iterator[String]) => String)
    extends ReduceOp

/** A reduce binary run as a child process: after the shuffle on `key`, each
  * partition's `"<key> <value>"` lines stream through `command` (a shell
  * string), so the child sees every value of its keys (co-location, not
  * order; README.md:41-42), and its stdout lines are parsed back to KV by
  * the map chain's line→KV rule (see [[Engine]]). */
final case class PipeReduce(name: String, command: String) extends ReduceOp

object Ops {
  /** ≡ mr-bins/map/map.cpp:6-27 — tokenize each line into `(word, 1)`
    * lines: the native LineTokens kernel, one byte pass per line. */
  val tokenize: MapOp = ExprMapOp("tokenize", line => NativeExprs.lineTokens(line, " 1"))

  val identityOp: MapOp = ExprMapOp("identity", line => array(line))

  val lowercase: MapOp = ExprMapOp("lowercase", line => array(lower(line)))

  /** Drop blank lines (a filtering map binary emits 0 lines): keep a line
    * iff it has a non-`\s` byte, i.e. iff the native line→KV parse keys it
    * (Spark's `trim` strips only the space character, so a trim-based check
    * would keep tab-only lines). The NULL array of the missing `otherwise`
    * explodes to no row. */
  val dropEmpty: MapOp =
    ExprMapOp("drop_empty", line => when(NativeExprs.lineKv(line).isNotNull, array(line)))

  /** ≡ mr-bins/reduce/reduce.cpp:9-40 — interpret values as ints, sum per
    * key. Algebraic → Spark plans partial+final HashAggregate. A
    * non-numeric value contributes 0, matching C++ `iss >> value` leaving
    * the int 0 on failed extraction: try_cast (ANSI cast would THROW on
    * the malformed string and fail the whole job) + coalesce (an
    * all-non-numeric key must sum to 0, not SQL NULL — the sink would
    * emit a bare-key line). */
  val sumInts: ReduceOp =
    AlgebraicReduce("sum_ints", v => sum(coalesce(v.try_cast("long"), lit(0L))).cast("string"))

  val countValues: ReduceOp =
    AlgebraicReduce("count", v => count(v).cast("string"))

  val maxValue: ReduceOp = AlgebraicReduce("max", v => max(v))

  /** Generic example: concatenate sorted values (order-insensitive output
    * despite unsorted input, per the reference contract). */
  val concatSorted: ReduceOp =
    GenericReduce("concat_sorted", (_, vs) => vs.toSeq.sorted.mkString(","))

  val maps: Map[String, MapOp] =
    Seq(tokenize, identityOp, lowercase, dropEmpty).map(o => o.name -> o).toMap

  val reduces: Map[String, ReduceOp] =
    Seq(sumInts, countValues, maxValue, concatSorted).map(o => o.name -> o).toMap

  /** Wrap a reference-style `-i <in> -o <out>` binary (MapProcessor.java:54-88,
    * ReduceProcessor.java:24-52) into the stdin/stdout shell string of a
    * [[PipeMapOp]] or [[PipeReduce]]: it runs unmodified with
    * `-i /dev/stdin -o /dev/stdout`. The binary path is single-quote-escaped
    * so paths with spaces (e.g. some SparkFiles staging dirs) exec as one
    * word and metacharacters in the path are never shell-interpreted;
    * `extraArgs` is deliberately raw shell text (the parity seam for
    * reference-style argument strings like `-R 2`) — callers own its
    * quoting. On a cluster, ship the binary with
    * `spark.sparkContext.addFile(path)` and resolve it on executors with
    * `SparkFiles.get` inside the command (the reference's per-worker
    * binary cache, TaskProcessor.java:36-38). */
  def stdioCommand(binary: String, extraArgs: String = ""): String =
    s"'${binary.replace("'", "'\\''")}' -i /dev/stdin -o /dev/stdout $extraArgs"

  /** User-registered ops — the Spark-native equivalent of uploading a new
    * binary to the reference's reserved `__BINARY` dir (Storage.java:13):
    * application code registers a named op once (a [[PipeMapOp]] or
    * [[PipeReduce]] for an actual binary) and every JSON batch spec can
    * then reference it by that name. A spec cannot name an executable
    * path. Built-ins take precedence over registrations of the same name. */
  private val extraMaps = new java.util.concurrent.ConcurrentHashMap[String, MapOp]()
  private val extraReduces = new java.util.concurrent.ConcurrentHashMap[String, ReduceOp]()
  def registerMap(op: MapOp): Unit = extraMaps.put(op.name, op)
  def registerReduce(op: ReduceOp): Unit = extraReduces.put(op.name, op)

  def mapOp(name: String): MapOp =
    maps.getOrElse(
      name,
      Option(extraMaps.get(name))
        .getOrElse(throw new IllegalArgumentException(s"unknown map op: $name")))

  def reduceOp(name: String): ReduceOp =
    reduces.getOrElse(
      name,
      Option(extraReduces.get(name))
        .getOrElse(throw new IllegalArgumentException(s"unknown reduce op: $name")))
}
