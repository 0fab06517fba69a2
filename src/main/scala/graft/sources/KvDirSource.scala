package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NativeExprs

/** DataSource V2 reader for the reference engine's NATIVE storage format:
  * flat directories of text files holding one `"<key> <value>"` record per
  * line (reference: `DistrStorage.java:88-102` — bytes in flat dirs;
  * `partition.cpp:30-31` / `reduce.cpp:23-27` — the `iss >> key` parsing
  * convention). `spark.read.format("graft-kv").load(dir)` yields the same
  * `(key STRING, value STRING)` relation [[graft.engine.Engine.plan]]
  * derives from `spark.read.text` + split — but as a first-class TABLE:
  * schema known at plan time, one input partition per file (the
  * reference's own split unit), and COLUMN PRUNING pushed into the reader
  * (`SupportsPushDownRequiredColumns` — a `select(value)` never
  * materializes keys; plan-guarded).
  *
  * Parse parity with the engine path is spec-pinned ([[graft.sources]]
  * KvDirSourceSpec): leading whitespace of every kind stripped, key =
  * first `\s+`-token, value = rest (empty when absent),
  * whitespace-only lines DROPPED (the reference's stream extraction
  * fails and emits nothing).
  *
  * Scale notes: file listing happens once at planning; each file is one
  * partition (matching the reference's file-per-split model — files there
  * are output shards, already sized by the writing job's parallelism).
  * Readers stream lines through a buffered decoder — constant memory per
  * partition. FileSystem resolution uses the SESSION's Hadoop conf
  * everywhere: driver-side code (listing, commit, truncate) reads it
  * directly, and every reader/writer factory captures it as a
  * `SerializableConfiguration` at plan time — non-default FS settings
  * reach the executors on a real cluster.
  */
class KvDirSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KvDirSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graft-kv requires a directory path: .load(dir)")
    new KvTable(path)
  }
}

object KvDirSource {

  /** The session's Hadoop conf, resolved ON THE DRIVER (planning,
    * commit, truncate, listing). Executor-side code must never call
    * this — it receives a [[SerializableConfiguration]] captured here
    * at factory-construction time instead, so non-default FS settings
    * (core-site, spark.hadoop.*, per-session overrides) reach every
    * open/create/rename on a real cluster. */
  private[sources] def driverHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
  val Schema: StructType =
    StructType(Seq(StructField("key", StringType), StructField("value", StringType)))

  /** The engine's line→KV rule (`graft.functions.LineKv` on the engine path),
    * one definition for this reader and the parity spec: None = dropped
    * (whitespace-only). One char scan over the `\s` class of
    * [[NativeExprs.isWs]]: leading whitespace skipped, key = first token,
    * value = the rest after the run that ends the key. */
  def parse(line: String): Option[(String, String)] = {
    val n = line.length
    var i = 0
    while (i < n && NativeExprs.isWs(line.charAt(i))) i += 1
    if (i == n) None
    else {
      val start = i
      while (i < n && !NativeExprs.isWs(line.charAt(i))) i += 1
      val key = line.substring(start, i)
      while (i < n && NativeExprs.isWs(line.charAt(i))) i += 1
      Some((key, line.substring(i)))
    }
  }

  /** `parse(line).isDefined`, allocation-free: a line is a record iff it
    * contains any char outside `\s`. */
  def isRecordLine(line: String): Boolean = {
    var i = 0
    while (i < line.length) {
      if (!NativeExprs.isWs(line.charAt(i))) return true
      i += 1
    }
    false
  }
}

/** Shared line-record machinery for the row and count readers: one
  * file-open recipe and ONE application of the parse + key-filter rule,
  * so the two scan shapes cannot diverge on the same file. Runs on
  * EXECUTORS: the Hadoop conf arrives serialized from the driver's
  * session, never from a default `Configuration()`. */
private[sources] final class KvRecords(
    file: String, keyEquals: Option[String], conf: Configuration) {
  private val path = new Path(file)
  private val reader = new BufferedReader(
    new InputStreamReader(
      path.getFileSystem(conf).open(path), StandardCharsets.UTF_8))

  /** Next filter-surviving (key, value) record, or null at EOF. */
  def nextRecord(): (String, String) = {
    var line = reader.readLine()
    while (line != null) {
      KvDirSource.parse(line) match {
        case Some(kv) if keyEquals.forall(_ == kv._1) => return kv
        case _ => line = reader.readLine()
      }
    }
    null
  }

  /** Count of filter-surviving records in the rest of the stream. With no
    * key filter this is a pure char scan per line (no regex, no split
    * array) — the whole point of the pushed count. */
  def countRecords(): Long = {
    var n = 0L
    if (keyEquals.isEmpty) {
      var line = reader.readLine()
      while (line != null) {
        if (KvDirSource.isRecordLine(line)) n += 1
        line = reader.readLine()
      }
    } else {
      while (nextRecord() != null) n += 1
    }
    n
  }

  def close(): Unit = reader.close()
}

private[sources] class KvTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-kv:$path"
  override def schema(): StructType = KvDirSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(path, KvScanBuilder.maxFilesPerTrigger(options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KvWriteBuilder(path, info)
}

/** DSv2 WRITE path for the KV-line format — `df.write.format("graft-kv")`
  * lands `"<key> <value>"` shards the reference engine (and this
  * module's own readers) consume directly, under Spark's v2 commit
  * contract: every task writes to a staged file in `_temp/`, only the
  * ONE commit message Spark accepts per partition gets its file renamed
  * into place by the driver, and abort deletes the staging dir — a
  * speculative or retried task attempt can never surface a duplicate
  * shard (the same exactly-once story FaultToleranceSpec pins for the
  * engine sink, here through the connector API). Final shard names carry
  * a zero-padded millis prefix, so sequential append jobs produce
  * lexicographically increasing names — the compliant producer for
  * [[KvMicroBatchStream]]'s monotone-naming contract. Staging is
  * per-job (`_temp/<jobToken>/`) so concurrent jobs cannot clobber each
  * other's staged files, rename failures raise instead of reporting
  * success over lost data, and empty partitions commit no shard. Rows
  * the line format cannot represent — null/empty/whitespace-bearing
  * keys, values with a leading `\s` or embedded line terminator — are
  * REJECTED at write time (silently writing them would shift keys or
  * split records on read-back). Line rule is the
  * engine sink's `concat_ws(" ", key, value)` (an empty value writes a
  * trailing space; values with LEADING whitespace are not representable
  * in the reference format — `iss >> key` swallows the run).
  *
  * Like the reader, the writer resolves its Hadoop FileSystem from the
  * SESSION's conf: truncate/commit/abort run on the driver and read it
  * directly, and the writer factories ship it to executor tasks as a
  * `SerializableConfiguration` — staging, rename, and truncate all see
  * the deployment's real FS settings. */
private[sources] class KvWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val names = info.schema().fieldNames.toSeq
    require(names == Seq("key", "value"),
      s"graft-kv writes a (key, value) relation, got: ${names.mkString(", ")}")
    new KvWrite(path, doTruncate)
  }
}

private[sources] class KvWrite(path: String, truncate: Boolean) extends Write {
  override def toBatch: BatchWrite = new KvBatchWrite(path, truncate)
  override def toStreaming: StreamingWrite = {
    // Complete output mode reaches here as truncate=true (the builder
    // advertises SupportsTruncate for the BATCH overwrite path). The
    // streaming sink is append-shaped — epoch shards accumulate — so
    // accepting truncate would silently union every epoch's snapshot.
    // Refuse loudly instead of corrupting.
    if (truncate)
      throw new UnsupportedOperationException(
        "graft-kv streaming write supports Append output only " +
          "(per-epoch truncate would leave prior epochs' shards in place)")
    new KvStreamingWrite(path)
  }
}

private[sources] object KvStreamingWrite {
  /** Epoch → staging token AND final-shard prefix: zero-padded so shard
    * names are lexicographically monotone in the epoch — a graft-kv
    * OUTPUT dir is itself a contract-compliant producer for a downstream
    * graft-kv STREAM (do not mix batch and streaming writers into one
    * watched dir: their name families interleave arbitrarily). */
  def token(epochId: Long): String = f"e$epochId%012d"
}

/** Streaming (micro-batch) write path — `df.writeStream.format("graft-kv")`.
  * Exactly-once rests on two legs: Spark's v2 contract accepts ONE commit
  * message per partition per epoch (a speculative/retried task attempt
  * never surfaces a duplicate shard — same staging story as
  * [[KvBatchWrite]]), and the final shard name is DETERMINISTIC in
  * (epoch, partition), so an epoch REPLAYED after a mid-commit crash
  * re-commits idempotently: targets that already landed keep the
  * committed bytes (the fresh staged copy is dropped), the rest rename
  * into place — the union is exactly one shard per non-empty partition
  * however many times the epoch replays. */
private[sources] class KvStreamingWrite(path: String) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new KvStreamingWriterFactory(
      path, new SerializableConfiguration(KvDirSource.driverHadoopConf()))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(KvDirSource.driverHadoopConf())
    KvCommitOps.commitStaged(fs, root, messages, idempotentReplay = true)
    KvCommitOps.cleanupStaging(fs, root, KvStreamingWrite.token(epochId))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    root.getFileSystem(KvDirSource.driverHadoopConf())
      .delete(new Path(root, s"_temp/${KvStreamingWrite.token(epochId)}"), true)
  }
}

private[sources] class KvStreamingWriterFactory(
    path: String, conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new KvDataWriter(
      path, KvStreamingWrite.token(epochId), partitionId, taskId, conf)
}

private[sources] case class KvCommitMessage(staged: String, finalName: String)
    extends WriterCommitMessage

/** The commit machinery both write paths share — ONE definition of the
  * rename-or-fail rule and the staging cleanup, so a fix to either (the
  * boolean-returning FS API warts, the shared `_temp` lifecycle, the
  * default-`Configuration()` deployment note on [[KvWriteBuilder]])
  * lands in both paths at once. */
private[sources] object KvCommitOps {

  /** Rename every staged shard into place. Empty partitions commit a
    * no-op message (no empty shard litters the directory — each would
    * cost a whole task on every later read). Rename FAILURE is a
    * boolean, not an exception — ignoring it would drop staged bytes at
    * cleanup and report success over silently lost data.
    * `idempotentReplay` is the streaming epoch-replay contract: a target
    * that already landed keeps its committed bytes and the equal
    * re-staged copy is dropped. The batch path passes false — its shard
    * names carry a fresh job token, so an existing target is impossible
    * rather than a replay. */
  def commitStaged(
      fs: FileSystem, root: Path, messages: Array[WriterCommitMessage],
      idempotentReplay: Boolean): Unit =
    messages.foreach {
      case KvCommitMessage("", _) => ()
      case KvCommitMessage(staged, finalName) =>
        val target = new Path(root, finalName)
        if (idempotentReplay && fs.exists(target)) {
          fs.delete(new Path(staged), false)
        } else if (!fs.rename(new Path(staged), target)) {
          throw new java.io.IOException(
            s"graft-kv commit: rename $staged -> $finalName failed")
        }
    }

  /** Remove only THIS job/epoch's staging dir (a concurrent job's staged
    * files under its own token must survive); the shared `_temp` parent
    * goes best-effort once nobody is staging in it. */
  def cleanupStaging(fs: FileSystem, root: Path, token: String): Unit = {
    fs.delete(new Path(root, s"_temp/$token"), true)
    val tempRoot = new Path(root, "_temp")
    if (fs.exists(tempRoot) && fs.listStatus(tempRoot).isEmpty)
      fs.delete(tempRoot, false)
  }
}

private[sources] class KvBatchWrite(path: String, truncate: Boolean) extends BatchWrite {
  // millis prefix keeps sequential jobs' shard names monotone; the
  // random token disambiguates same-millis jobs (their relative order is
  // then arbitrary — concurrent writers to one stream-watched dir are
  // outside the naming contract anyway)
  private val jobToken =
    f"${System.currentTimeMillis()}%013d-${util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KvWriterFactory(
      path, jobToken,
      new SerializableConfiguration(KvDirSource.driverHadoopConf()))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(KvDirSource.driverHadoopConf())
    if (truncate) {
      KvScan.listPartitions(path).foreach { p =>
        val old = new Path(p.asInstanceOf[KvInputPartition].file)
        // delete FAILURE is a boolean, not an exception (same API wart as
        // rename below) — ignoring it would leave the stale shard visible
        // next to the new write and still report success
        if (!fs.delete(old, false) && fs.exists(old))
          throw new java.io.IOException(
            s"graft-kv truncate: delete of stale shard $old failed")
      }
    }
    KvCommitOps.commitStaged(fs, root, messages, idempotentReplay = false)
    KvCommitOps.cleanupStaging(fs, root, jobToken)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    root.getFileSystem(KvDirSource.driverHadoopConf())
      .delete(new Path(root, s"_temp/$jobToken"), true)
  }
}

private[sources] class KvWriterFactory(
    path: String, jobToken: String, conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, jobToken, partitionId, taskId, conf)
}

private[sources] class KvDataWriter(
    path: String, jobToken: String, partitionId: Int, taskId: Long,
    conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {
  private val staged =
    new Path(new Path(path, s"_temp/$jobToken"), s"p$partitionId-t$taskId")
  private val fs = staged.getFileSystem(conf.value)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(staged, true), StandardCharsets.UTF_8))
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val k = row.getUTF8String(0)
    val v = row.getUTF8String(1)
    // fail LOUD on rows the line format cannot represent — writing them
    // would silently shift keys, split records, or drop rows on read-back
    require(k != null && v != null, "graft-kv: null key or value is not representable")
    val ks = k.toString
    val vs = v.toString
    require(ks.nonEmpty && !ks.exists(c => NativeExprs.isWs(c)),
      s"graft-kv: key must be non-empty with no whitespace, got '$ks'")
    require(vs.isEmpty || !NativeExprs.isWs(vs.charAt(0)),
      s"graft-kv: value must not start with whitespace (the separator swallows it): '$vs'")
    require(!vs.exists(c => c == '\n' || c == '\r'),
      s"graft-kv: value must not contain line terminators: '$vs'")
    out.write(ks)
    out.write(' ')
    out.write(vs)
    out.write('\n')
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (rows == 0L) {
      fs.delete(staged, false)
      KvCommitMessage("", "")
    } else KvCommitMessage(staged.toString, f"part-$jobToken-p$partitionId%05d")
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(staged, false)
  }

  override def close(): Unit = ()
}

private[sources] object KvScanBuilder {
  /** FileStreamSource's rate-limit option, same spelling: bounds how many
    * files one micro-batch ingests (whole files stay the admission unit —
    * this source never subdivides a file). */
  def maxFilesPerTrigger(options: CaseInsensitiveStringMap): Option[Int] = {
    val v = options.get("maxFilesPerTrigger")
    if (v == null) None
    else {
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      Some(n)
    }
  }
}

private[sources] class KvScanBuilder(path: String, maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  private var required: StructType = KvDirSource.Schema
  private var keyEquals: Option[String] = None
  private var countPushed = false

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Accept a bare global COUNT(*) — the "how many records" pass a text
    * format can answer without materializing a single row into Spark
    * (the line scan still runs, but each FILE hands back one Long
    * instead of one row per line — no UTF8String allocation, no per-row
    * handoff). PARTIAL pushdown (`supportCompletePushDown` = false):
    * each input partition emits its own count and Spark's final
    * aggregate sums them — correct under any partitioning, no
    * single-partition requirement. Composes with the pushed key filter
    * (Spark only attempts aggregate pushdown once every remaining
    * filter was claimed by the source, so a pushed count counts exactly
    * the key-matching records). Grouped or non-count aggregates stay
    * with Spark. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val ok = aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.length == 1 &&
      aggregation.aggregateExpressions.head.isInstanceOf[CountStar]
    if (ok) countPushed = true
    ok
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  private var accepted: Array[Filter] = Array.empty

  /** Accept `key = <literal>` (the reference's only addressable
    * dimension — its storage API is get-by-key within a directory,
    * `DistrStorage.java:88-102`) plus `IsNotNull` on either column
    * (vacuously true — the parse rule never emits nulls, so claiming the
    * planner-generated IsNotNull companions leaves NO residual Filter
    * node, which is what keeps a filtered COUNT eligible for aggregate
    * pushdown). Everything else stays with Spark. Accepted filters apply
    * during the line scan, so a point lookup never materializes
    * non-matching rows into the query — the row-group skip this format's
    * plain text can offer. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val acc = Array.newBuilder[Filter]
    val rest = Array.newBuilder[Filter]
    filters.foreach {
      // claim at most ONE key equality (the reader applies exactly one);
      // a second conjunct with a different literal stays residual — the
      // DSv2 contract says claimed filters are FULLY applied by the
      // source, so claiming both while applying one would return wrong
      // rows (and wrong pushed counts) whenever the optimizer hands us a
      // contradictory pair un-folded
      case f @ EqualTo("key", v: String) if keyEquals.forall(_ == v) =>
        keyEquals = Some(v); acc += f
      case f @ (IsNotNull("key") | IsNotNull("value")) => acc += f
      case f => rest += f
    }
    accepted = acc.result()
    rest.result()
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    if (countPushed) new KvCountScan(path, keyEquals, accepted)
    else new KvScan(path, required, keyEquals, accepted, maxFilesPerTrigger)
}

/** COUNT(*)-pushed scan: same file enumeration, but each partition reader
  * emits exactly one row — the file's (filter-surviving) record count. */
private[sources] class KvCountScan(
    path: String, keyEquals: Option[String], pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-kv $path, PushedAggregation: [COUNT(*)], " +
      s"PushedFilters: ${KvScan.renderFilters(pushed)}"
  override def planInputPartitions(): Array[InputPartition] =
    KvScan.listPartitions(path)
  override def createReaderFactory(): PartitionReaderFactory =
    new KvCountReaderFactory(
      keyEquals, new SerializableConfiguration(KvDirSource.driverHadoopConf()))
}

private[sources] class KvCountReaderFactory(
    keyEquals: Option[String], conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvCountPartitionReader(
      partition.asInstanceOf[KvInputPartition].file, keyEquals, conf)
}

private[sources] class KvCountPartitionReader(
    file: String, keyEquals: Option[String], conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  private val records = new KvRecords(file, keyEquals, conf.value)
  private var emitted = false
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (emitted) return false
    current = new GenericInternalRow(Array[Any](records.countRecords()))
    emitted = true
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = records.close()
}

private[sources] class KvScan(
    path: String, required: StructType, keyEquals: Option[String], pushed: Array[Filter],
    maxFilesPerTrigger: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-kv $path, PushedFilters: ${KvScan.renderFilters(pushed)}"
  override def planInputPartitions(): Array[InputPartition] =
    KvScan.listPartitions(path)
  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(
      required.fieldNames, keyEquals,
      new SerializableConfiguration(KvDirSource.driverHadoopConf()))
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KvMicroBatchStream(path, required.fieldNames, keyEquals, maxFilesPerTrigger)
}

/** Streaming offset for the KV directory: the lexicographic watermark of
  * the last ingested file name (full path — all files share the dir
  * prefix, so path order ≡ name order) plus the count of files at or
  * below it, which lets the next batch DETECT a producer that violated
  * the naming contract (see [[KvMicroBatchStream]]). */
private[sources] case class KvOffset(lastFile: String, nBelow: Long) extends Offset {
  override def json(): String =
    "{\"last\":\"" + lastFile.replace("\\", "\\\\").replace("\"", "\\\"") +
      "\",\"n\":" + nBelow + "}"
}

private[sources] object KvOffset {
  private val Shape = """\{"last":"(.*)","n":(-?\d+)\}""".r
  def fromJson(j: String): KvOffset = j match {
    case Shape(v, n) => KvOffset(v.replaceAll("""\\(.)""", "$1"), n.toLong)
    case other => throw new IllegalArgumentException(s"bad graft-kv offset: $other")
  }
}

/** Micro-batch ingestion of a KV directory — the reference engine's
  * output dirs become a STREAM source (`spark.readStream
  * .format("graft-kv")`), so its native format feeds the streaming pack
  * directly. Progress is a lexicographic file-name watermark: a batch is
  * every visible file named AFTER the previous watermark, which is
  * right for monotonically-named appends: one producer whose shard
  * names increase (the reference sink's numbered output shards, or any
  * writer landing per-batch files under an increasing prefix such as a
  * batch timestamp). It is NOT sufficient for several independent
  * Spark-style jobs appending into one flat dir — each job restarts at
  * part-00000, which sorts BELOW the watermark; such layouts need a
  * per-batch subdirectory (the usual practice) or FileStreamSource's
  * seen-file cache. The failure is loud, not silent: the offset also
  * records how many files sat at-or-below the watermark, and a later
  * listing with MORE files below it fails the batch with the naming-
  * contract error instead of quietly skipping data (a best-effort
  * tripwire — O(1) state, so a simultaneous add+delete below the
  * watermark can cancel out). Watermarks never regress: a listing that
  * lost its max file (retention cleanup) keeps the checkpointed
  * watermark, so reappearing names cannot re-ingest. Column pruning and
  * the key filter push into the stream readers unchanged (same
  * ScanBuilder). Implements SupportsTriggerAvailableNow natively: the
  * catch-up target is pinned once at query start, so AvailableNow
  * drains exactly the backlog and terminates even while a producer
  * keeps appending. */
private[sources] class KvMicroBatchStream(
    path: String, fields: Array[String], keyEquals: Option[String],
    maxFilesPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private def visibleFiles(): Array[String] =
    KvScan.listPartitions(path).map(_.asInstanceOf[KvInputPartition].file)
  private def maxName(a: String, b: String): String = if (a >= b) a else b
  private var availableNowTarget: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(visibleFiles().foldLeft("")(maxName))
  override def initialOffset(): Offset = KvOffset("", 0L)
  // SupportsAdmissionControl routes all offset requests through the
  // 2-arg form (the 1-arg variant must not be called on such sources)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Admission control: whole FILES are the admission unit (this source
    * never subdivides one), so `maxFilesPerTrigger` bounds each batch to
    * the n smallest-named pending files — a backlog drains in ⌈N/n⌉
    * watermark-monotone batches instead of one giant catch-up batch
    * (composes with AvailableNow, which pins the catch-up ceiling while
    * the per-batch cap paces the drain). */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  private def maxFilesOf(limit: ReadLimit): Option[Int] = limit match {
    case m: ReadMaxFiles => Some(m.maxFiles())
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(maxFilesOf).reduceOption(_ min _)
    case _ => None
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val prev = start.asInstanceOf[KvOffset]
    val files = visibleFiles()
    // naming-contract tripwire: a NEW file at-or-below the committed
    // watermark would be skipped forever — fail the batch instead
    val belowNow = files.count(_ <= prev.lastFile)
    if (belowNow > prev.nBelow)
      throw new IllegalStateException(
        s"graft-kv $path: ${belowNow - prev.nBelow} file(s) appeared at or below the " +
          s"ingestion watermark '${prev.lastFile}' — producer violated the " +
          "monotone-naming contract (use a per-batch subdirectory)")
    // pending = above the committed watermark, inside the AvailableNow
    // catch-up ceiling when one is pinned; a rate limit takes the n
    // SMALLEST names so the watermark stays an exact ingestion frontier
    val pending = files
      .filter(f => f > prev.lastFile && availableNowTarget.forall(f <= _))
      .sorted
    val taken = maxFilesOf(limit).fold(pending)(pending.take)
    // never regress the watermark: a listing that lost its max file
    // (retention) keeps the committed offset, so a reappearing name
    // cannot be re-ingested
    val last = if (taken.isEmpty) prev.lastFile else maxName(taken.last, prev.lastFile)
    // NOT maxed with prev.nBelow: keeping a stale high count after a
    // truncate/retention mass-delete would permanently desensitize the
    // tripwire (new below-watermark files would hide under the old count)
    KvOffset(last, files.count(_ <= last).toLong)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KvOffset].lastFile
    val e = end.asInstanceOf[KvOffset].lastFile
    KvScan.listPartitions(path).filter { p =>
      val f = p.asInstanceOf[KvInputPartition].file
      f > s && f <= e
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(
      fields, keyEquals,
      new SerializableConfiguration(KvDirSource.driverHadoopConf()))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset = KvOffset.fromJson(json)
}

private[sources] object KvScan {
  /** EXPLAIN must show everything the source CLAIMED (the filters Spark
    * will not re-check) — under-reporting claimed IsNotNulls would make a
    * vanished null-check undiagnosable from the plan. */
  def renderFilters(pushed: Array[Filter]): String =
    pushed.map {
      case EqualTo(a, v) => s"$a = $v"
      case IsNotNull(a) => s"$a IS NOT NULL"
      case f => f.toString
    }.mkString("[", ", ", "]")

  /** One partition per visible file — shared by the row and count scans. */
  def listPartitions(path: String): Array[InputPartition] = {
    val root = new Path(path)
    val fs = root.getFileSystem(KvDirSource.driverHadoopConf())
    fs.listStatus(root)
      .filter(_.isFile)
      .map(_.getPath)
      // _SUCCESS markers / hidden files, same convention as FileFormat
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName)
      .map(p => KvInputPartition(p.toString): InputPartition)
  }
}

private[sources] case class KvInputPartition(file: String) extends InputPartition

private[sources] class KvReaderFactory(
    fields: Array[String], keyEquals: Option[String],
    conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvPartitionReader(
      partition.asInstanceOf[KvInputPartition].file, fields, keyEquals, conf)
}

private[sources] class KvPartitionReader(
    file: String, fields: Array[String], keyEquals: Option[String],
    conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {
  private val records = new KvRecords(file, keyEquals, conf.value)
  private var current: InternalRow = _

  override def next(): Boolean = {
    val kv = records.nextRecord()
    if (kv == null) false
    else {
      current = new GenericInternalRow(fields.map {
        case "key" => UTF8String.fromString(kv._1)
        case "value" => UTF8String.fromString(kv._2)
      }.toArray[Any])
      true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = records.close()
}
