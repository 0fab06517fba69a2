package graft.engine

import org.apache.spark.sql.{Dataset, Encoders}

import graft.functions.NativeExprs

/** Optional external-binary compatibility mode.
  *
  * The reference executes user-supplied statically-linked binaries with
  * `-i <in> -o <out>` file arguments (MapProcessor.java:54-88,
  * ReduceProcessor.java:24-52). The Spark-native equivalent is `RDD.pipe`:
  * lines stream through the child process's stdin/stdout, one process per
  * partition, fully distributed. A binary built for the reference's file
  * contract runs unmodified under
  * `sh -c "<bin> -i /dev/stdin -o /dev/stdout"`.
  *
  * Ship the binary to executors with `spark.sparkContext.addFile(path)` and
  * resolve it with `SparkFiles.get` inside the command (mirrors the
  * reference's per-worker binary cache, TaskProcessor.java:36-38).
  *
  * Scale note: `pipe` forks one child per partition and streams — no
  * per-binary temp files (the reference round-trips every chain stage
  * through the shared filesystem). Chains compose as consecutive `pipe`
  * calls inside one stage, so no extra shuffle is introduced.
  */
object PipeMode {
  private implicit val stringEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING

  /** Wrap a reference-style `-i/-o` binary into a stdin/stdout pipe
    * command. The binary path is single-quote-escaped so paths with spaces
    * (e.g. some SparkFiles staging dirs) exec correctly and metacharacters
    * in the path are never shell-interpreted; `extraArgs` is deliberately
    * raw shell text (the parity seam for reference-style argument strings
    * like `-R 2`) — callers own its quoting. */
  def stdioCommand(binary: String, extraArgs: String = ""): Seq[String] = {
    val quoted = "'" + binary.replace("'", "'\\''") + "'"
    Seq("sh", "-c", s"$quoted -i /dev/stdin -o /dev/stdout $extraArgs")
  }

  /** Apply a chain of external map binaries to a dataset of text lines. */
  def mapChain(lines: Dataset[String], commands: Seq[Seq[String]]): Dataset[String] = {
    val spark = lines.sparkSession
    val piped = commands.foldLeft(lines.rdd)((rdd, cmd) => rdd.pipe(cmd))
    spark.createDataset(piped)
  }

  /** Reduce via an external binary: shuffle on key so each child sees every
    * value of its keys (the only contract the reference guarantees —
    * co-location, not order; README.md:41-42). */
  def reduceChain(kvLines: Dataset[String], commands: Seq[Seq[String]], rNum: Int): Dataset[String] = {
    val spark = kvLines.sparkSession
    import org.apache.spark.sql.functions._
    // key = the line→KV parse's key (Engine.plan's rule): `iss >> key`
    // skips ALL leading whitespace, so an indented line keys on its first
    // real token, not ""
    val keyed = kvLines.toDF(KV.LineCol)
      .select(
        NativeExprs.lineKv(col(KV.LineCol)).getField(KV.KeyCol).as(KV.KeyCol),
        col(KV.LineCol))
      .repartition(rNum, col(KV.KeyCol))
      .select(col(KV.LineCol)).as[String]
    val piped = commands.foldLeft(keyed.rdd)((rdd, cmd) => rdd.pipe(cmd))
    spark.createDataset(piped)
  }
}
