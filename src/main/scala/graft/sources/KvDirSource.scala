package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.{GraftBridge, SparkSession}
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
import org.json4s.{JInt, JLong, JObject, JString}
import org.json4s.jackson.JsonMethods

import graft.functions.{LineKv, NativeExprs}

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
  * One line→KV rule: lines are split as Spark's text scan (the engine's
  * input) splits them, by Hadoop's `LineReader` (`\n`, `\r` and `\r\n`
  * end a line), and each line's raw bytes go through
  * [[graft.functions.LineKv.kernel]], the kernel the engine's own
  * expression calls: leading whitespace of every kind stripped, key =
  * first `\s+`-token, value = rest (empty when absent), whitespace-only
  * lines DROPPED (the reference's stream extraction fails and emits
  * nothing). No charset decoder runs, so rows carry the file's bytes as
  * they are: malformed UTF-8 reads, groups and copies exactly as on the
  * engine path (KvDirSourceSpec pins both).
  *
  * Scale notes: file listing happens once at planning; each file is one
  * partition (matching the reference's file-per-split model — files there
  * are output shards, already sized by the writing job's parallelism).
  * Readers stream lines through one reused buffer — constant memory per
  * partition. FileSystem resolution uses the SESSION's Hadoop conf
  * everywhere: driver-side code (listing, commit, truncate) reads it
  * directly, and every reader/writer factory ships it to the executors
  * as ONE `Broadcast[SerializableConfiguration]` per job, as Spark's own
  * file scans do. Non-default FS settings reach every task on a real
  * cluster, and no task deserializes its own copy of the ~1100-entry conf
  * (~5 ms a task).
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
    * this — it receives the [[broadcastConf]] of its factory instead, so
    * non-default FS settings (core-site, spark.hadoop.*, per-session
    * overrides) reach every open/create/rename on a real cluster. */
  private[sources] def driverHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** `conf` as one broadcast for a job's tasks: each task reads the
    * shared value instead of deserializing a copy its factory carried. */
  private[sources] def broadcastConf(
      conf: Configuration = driverHadoopConf()): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))
  val Schema: StructType =
    StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
}

/** The one record stream of the row and count readers: the file's lines
  * as raw bytes in one reused `Text`, each split by [[LineKv.kernel]], the
  * pushed key filter compared byte for byte against its literal encoded
  * once. A pushed COUNT(*) counts what `next` returns, so it cannot
  * diverge from count-after-read. Runs on EXECUTORS: the Hadoop conf
  * arrives serialized from the driver's session, never from a default
  * `Configuration()`. */
private[sources] final class KvRecords(
    file: String, keyEquals: Option[String], conf: Configuration) {
  private val path = new Path(file)
  private val reader = new LineReader(path.getFileSystem(conf).open(path), conf)
  private val line = new Text()
  private val key = keyEquals.map(UTF8String.fromString).orNull

  /** Next filter-surviving (key, value) row, or null at EOF. */
  def next(): InternalRow = {
    while (reader.readLine(line) > 0) {
      val kv = LineKv.kernel(UTF8String.fromBytes(line.getBytes, 0, line.getLength))
      if (kv != null && (key == null || key == kv.getUTF8String(0))) return kv
    }
    null
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
  * per-job (`_temp/<jobToken>/`, made once by the driver) so concurrent
  * jobs cannot clobber each other's staged files, rename failures raise
  * instead of reporting success over lost data, and empty partitions
  * commit no shard. Overwrite (truncate) happens AT COMMIT: the old
  * shards and a stale `_SUCCESS` marker go only once every task has
  * succeeded, so a failed job leaves the previous output in place. Rows
  * the line format cannot represent — null/empty/whitespace-bearing
  * keys, values with a leading `\s` or embedded line terminator — are
  * REJECTED at write time (silently writing them would shift keys or
  * split records on read-back). Line rule is `key + " " + value`, what
  * `concat_ws(" ", key, value)` writes for non-null columns (an empty
  * value writes a trailing space; values with LEADING whitespace are not
  * representable in the reference format — `iss >> key` swallows the
  * run). This writer is the engine's sink ([[graft.engine.Engine.run]]).
  *
  * Like the reader, the writer resolves its Hadoop FileSystem from the
  * SESSION's conf: truncate/commit/abort run on the driver and read it
  * directly, and the writer factories ship it to executor tasks as one
  * broadcast per job — staging, rename, and truncate all see the
  * deployment's real FS settings. A task writes its staged file below
  * any checksum layer (see [[KvCommitOps.createStaged]]), so a shard on
  * the local FS has no `.crc` sidecar. Each task reports its bytes and
  * rows to its output metrics, as Spark's file sinks do. */
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
    new KvStreamingWriterFactory(path, KvDirSource.broadcastConf())

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(KvDirSource.driverHadoopConf())
    KvCommitOps.commitStaged(fs, root, messages, idempotentReplay = true)
    KvCommitOps.cleanupStaging(fs, root, KvStreamingWrite.token(epochId))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    root.getFileSystem(KvDirSource.driverHadoopConf())
      .delete(KvCommitOps.stagingDir(root, KvStreamingWrite.token(epochId)), true)
  }
}

private[sources] class KvStreamingWriterFactory(
    path: String, conf: Broadcast[SerializableConfiguration])
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new KvDataWriter(
      path, KvStreamingWrite.token(epochId), partitionId, taskId, conf)
}

private[sources] case class KvCommitMessage(staged: String, finalName: String)
    extends WriterCommitMessage

/** The staging and commit machinery both write paths share — ONE
  * definition of the staging dir and file, the rename-or-fail rule and
  * the staging cleanup, so a fix to any of them (the boolean-returning
  * FS API warts, the shared `_temp` lifecycle, the local FS's `chmod`
  * forks) lands in both paths at once. */
private[sources] object KvCommitOps {

  def stagingDir(root: Path, token: String): Path = new Path(root, s"_temp/$token")

  /** `fs` below its client-side checksum layer (the local FS's `.crc`
    * sidecars): staging goes straight to the underlying store. */
  private def unwrapped(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Make a staging dir, and open a task's staged file in one, with no
    * permission step. Hadoop's local FS sets the default mode on every
    * dir and file it creates, even when handed no permission, and
    * without libhadoop each of those is a forked `chmod` (2–3 ms); so on
    * the local FS both go through java.io and take the process umask,
    * like any file the JVM writes. Any other FS gets a null permission,
    * which HDFS replaces with its default. */
  def mkStagingDir(fs: FileSystem, dir: Path): Unit = {
    val made = unwrapped(fs) match {
      case local: RawLocalFileSystem =>
        val f = local.pathToFile(dir)
        f.mkdirs() || f.isDirectory
      case other => other.mkdirs(dir)
    }
    if (!made) throw new java.io.IOException(s"graft-kv: cannot create staging dir $dir")
  }

  /** See [[mkStagingDir]]. The parent is made if missing: a streaming
    * epoch's staging dir has no driver hook before its tasks run. */
  def createStaged(fs: FileSystem, file: Path): OutputStream = {
    val buffer = 1 << 16
    unwrapped(fs) match {
      case local: RawLocalFileSystem =>
        mkStagingDir(local, file.getParent)
        new BufferedOutputStream(new FileOutputStream(local.pathToFile(file)), buffer)
      case other =>
        new BufferedOutputStream(other.create(file, null, true, buffer,
          other.getDefaultReplication(file), other.getDefaultBlockSize(file), null), buffer)
    }
  }

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
    fs.delete(stagingDir(root, token), true)
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

  /** Makes the job's staging dir once, so no task has to; it also makes
    * the destination exist when the job has no tasks. */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = KvDirSource.driverHadoopConf()
    val root = new Path(path)
    KvCommitOps.mkStagingDir(root.getFileSystem(conf), KvCommitOps.stagingDir(root, jobToken))
    new KvWriterFactory(path, jobToken, KvDirSource.broadcastConf(conf))
  }

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
      // a Hadoop job's marker would vouch for shards that are gone
      fs.delete(new Path(root, "_SUCCESS"), false)
    }
    KvCommitOps.commitStaged(fs, root, messages, idempotentReplay = false)
    KvCommitOps.cleanupStaging(fs, root, jobToken)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    root.getFileSystem(KvDirSource.driverHadoopConf())
      .delete(KvCommitOps.stagingDir(root, jobToken), true)
  }
}

private[sources] class KvWriterFactory(
    path: String, jobToken: String, conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, jobToken, partitionId, taskId, conf)
}

/** One task's staged shard. Rows go out as their UTF-8 bytes, with no
  * String decode or re-encode; the representability checks test bytes,
  * which agree with char tests because every byte they look for is ASCII
  * and no byte of a multi-byte UTF-8 sequence is. */
private[sources] class KvDataWriter(
    path: String, jobToken: String, partitionId: Int, taskId: Long,
    conf: Broadcast[SerializableConfiguration])
    extends DataWriter[InternalRow] {
  import KvDataWriter._
  private val staged =
    new Path(KvCommitOps.stagingDir(new Path(path), jobToken), s"p$partitionId-t$taskId")
  private val fs = staged.getFileSystem(conf.value.value)
  private val out = KvCommitOps.createStaged(fs, staged)
  private var rows = 0L
  private var bytes = 0L

  override def write(row: InternalRow): Unit = {
    val k = row.getUTF8String(0)
    val v = row.getUTF8String(1)
    // fail LOUD on rows the line format cannot represent — writing them
    // would silently shift keys, split records, or drop rows on read-back
    require(k != null && v != null, "graft-kv: null key or value is not representable")
    require(k.numBytes > 0 && !hasByte(k, isWs),
      s"graft-kv: key must be non-empty with no whitespace, got '$k'")
    require(v.numBytes == 0 || !isWs(v.getByte(0)),
      s"graft-kv: value must not start with whitespace (the separator swallows it): '$v'")
    require(!hasByte(v, isLineBreak),
      s"graft-kv: value must not contain line terminators: '$v'")
    k.writeTo(out)
    out.write(' ')
    v.writeTo(out)
    out.write('\n')
    rows += 1L
    bytes += k.numBytes + v.numBytes + 2L
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GraftBridge.reportOutput(bytes, rows)
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

private[sources] object KvDataWriter {
  private def isWs(b: Int): Boolean = NativeExprs.isWs(b)
  private def isLineBreak(b: Int): Boolean = b == '\n' || b == '\r'

  private def hasByte(s: UTF8String, p: Int => Boolean): Boolean = {
    var i = 0
    while (i < s.numBytes) {
      if (p(s.getByte(i))) return true
      i += 1
    }
    false
  }
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
    * (the record stream still runs, but each FILE hands back one Long
    * instead of one row per line — no per-row handoff). PARTIAL
    * pushdown (`supportCompletePushDown` = false): each input partition
    * emits its own count and Spark's final aggregate sums them — correct
    * under any partitioning, no single-partition requirement. Composes
    * with the pushed key filter (Spark only attempts aggregate pushdown
    * once every remaining filter was claimed by the source, so a pushed
    * count counts exactly the key-matching records). Grouped or
    * non-count aggregates stay with Spark. */
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
    new KvCountReaderFactory(keyEquals, KvDirSource.broadcastConf())
}

private[sources] class KvCountReaderFactory(
    keyEquals: Option[String], conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvCountPartitionReader(
      partition.asInstanceOf[KvInputPartition].file, keyEquals, conf)
}

private[sources] class KvCountPartitionReader(
    file: String, keyEquals: Option[String], conf: Broadcast[SerializableConfiguration])
    extends PartitionReader[InternalRow] {
  private val records = new KvRecords(file, keyEquals, conf.value.value)
  private var emitted = false
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (emitted) return false
    var n = 0L
    while (records.next() != null) n += 1
    current = new GenericInternalRow(Array[Any](n))
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
    new KvReaderFactory(required.fieldNames, keyEquals, KvDirSource.broadcastConf())
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KvMicroBatchStream(path, required.fieldNames, keyEquals, maxFilesPerTrigger)
}

/** Streaming offset for the KV directory: the lexicographic watermark of
  * the last ingested file name (full path — all files share the dir
  * prefix, so path order ≡ name order) plus the count of files at or
  * below it, which lets the next batch DETECT a producer that violated
  * the naming contract (see [[KvMicroBatchStream]]). Written and read by
  * json4s as `{"last":…,"n":…}`: every control character in a path is
  * escaped, so the offset stays one line of Spark's line-oriented offset
  * log. */
private[sources] case class KvOffset(lastFile: String, nBelow: Long) extends Offset {
  override def json(): String =
    JsonMethods.compact(JObject("last" -> JString(lastFile), "n" -> JLong(nBelow)))
}

private[sources] object KvOffset {
  def fromJson(j: String): KvOffset = JsonMethods.parse(j) match {
    case JObject(List(("last", JString(last)), ("n", JInt(n)))) => KvOffset(last, n.toLong)
    case _ => throw new IllegalArgumentException(s"bad graft-kv offset: $j")
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
    new KvReaderFactory(fields, keyEquals, KvDirSource.broadcastConf())
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
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvPartitionReader(
      partition.asInstanceOf[KvInputPartition].file, fields, keyEquals, conf)
}

private[sources] class KvPartitionReader(
    file: String, fields: Array[String], keyEquals: Option[String],
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReader[InternalRow] {
  private val records = new KvRecords(file, keyEquals, conf.value.value)
  private val columns = fields.map(KvDirSource.Schema.fieldIndex)
  private var current: InternalRow = _

  override def next(): Boolean = {
    val kv = records.next()
    if (kv != null) current = new GenericInternalRow(columns.map(kv.getUTF8String(_): Any))
    kv != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = records.close()
}
