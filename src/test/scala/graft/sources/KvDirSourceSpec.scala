package graft.sources

import java.nio.file.Files
import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.engine.{BatchSpec, Engine}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The custom DSv2 KV reader against the engine's own parsing rule: the
  * two implementations of the `"<key> <value>"` contract (Engine.plan's
  * Catalyst split and KvPartitionReader's JVM split) must agree line for
  * line — including the whitespace edge cases the reference's `iss >> key`
  * convention dictates. */
class KvDirSourceSpec extends SparkSpec {

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("graft-kv-src-")
    val lines = Seq(
      "a 1", // plain
      "\tb\t2", // tab separators: key=b value=2
      "  c 3 4", // leading spaces stripped; value keeps internal structure "3 4"
      "d", // key only → value ""
      "   ", // whitespace-only → DROPPED
      "", // empty → DROPPED
      "e5" // vertical tab is Java \s: key=e value=5
    )
    Files.write(
      dir.resolve("part-000"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // second file + ignorables: multi-file enumeration, _SUCCESS/.hidden skipped
    Files.write(dir.resolve("part-001"), "f 6".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve(".hidden"), "zz 99".getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  test("DSv2 reader parses the KV contract identically to the engine's Catalyst path") {
    val dir = writeFixture()
    val v2 = spark.read.format("graft-kv").load(dir)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // the engine path: a map-only spec over the same directory
    val engine = Engine.plan(
      spark, BatchSpec(Nil, Nil, dir, "/unused", splitCount = -1, rNum = 0))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(v2 === engine, "DSv2 reader and engine split rule diverge")
    assert(v2 === Seq(
      ("a", "1"), ("b", "2"), ("c", "3 4"), ("d", ""), ("e", "5"), ("f", "6")))
  }

  test("column pruning pushes into the KV scan: select(value) reads a 1-column schema") {
    val dir = writeFixture()
    val df = spark.read.format("graft-kv").load(dir).select("value")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, "no BatchScan for the v2 source")
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("value"),
      s"pruning not pushed: ${scans.head.scan.readSchema()}")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("", "1", "2", "3 4", "5", "6"))
  }

  test("one input partition per file, hidden and marker files excluded") {
    val dir = writeFixture()
    val df = spark.read.format("graft-kv").load(dir)
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.head.scan.toBatch.planInputPartitions().length === 2,
      "expected exactly the two visible part files as partitions")
  }

  test("key-equality filter pushes into the KV reader and drops non-matching rows at scan") {
    val dir = writeFixture()
    val df = spark.read.format("graft-kv").load(dir).filter(col("key") === "c")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.scan.description().contains("key = c"),
      s"key filter not pushed: ${scans.head.scan.description()}")
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("c", "3 4")))
    // a non-key EQUALITY must NOT be claimed by the source (its vacuous
    // IsNotNull companion is — and the description must say so)
    val df2 = spark.read.format("graft-kv").load(dir).filter(col("value") === "1")
    val s2 = df2.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(!s2.head.scan.description().contains("value = 1"),
      s"value equality wrongly claimed: ${s2.head.scan.description()}")
    assert(s2.head.scan.description().contains("value IS NOT NULL"),
      s"claimed IsNotNull missing from EXPLAIN surface: ${s2.head.scan.description()}")
    assert(df2.collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("conflicting key equalities: only one is claimed, the second stays residual") {
    // DSv2 contract: a claimed filter is FULLY applied by the source. The
    // reader applies exactly one key equality, so a second, different
    // equality must come back as residual for Spark to evaluate (the
    // optimizer normally folds the contradiction away — this drives the
    // builder directly to pin the contract itself).
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    val b = new KvScanBuilder("/unused")
    val residual = b.pushFilters(Array[Filter](EqualTo("key", "a"), EqualTo("key", "b")))
    assert(residual.toSeq === Seq(EqualTo("key", "b")),
      s"second equality must stay residual, got: ${residual.toSeq}")
    assert(b.pushedFilters().toSeq === Seq(EqualTo("key", "a")))
    // an identical duplicate IS claimable — both conjuncts are the one
    // filter the reader applies
    val b2 = new KvScanBuilder("/unused")
    val r2 = b2.pushFilters(Array[Filter](EqualTo("key", "a"), EqualTo("key", "a")))
    assert(r2.isEmpty)
  }

  test("COUNT(*) pushes into the KV scan — partial per-file counts, rows never materialize") {
    // aggregates put an exchange in the plan, so AQE wraps the scan in
    // stage nodes — unwrap them to reach the BatchScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(df: org.apache.spark.sql.DataFrame): Seq[BatchScanExec] = {
      def find(plan: SparkPlan): Seq[BatchScanExec] = plan match {
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
        case b: BatchScanExec => Seq(b)
        case other => other.children.flatMap(find)
      }
      find(df.queryExecution.executedPlan)
    }
    val dir = writeFixture()
    val df = spark.read.format("graft-kv").load(dir).groupBy().count()
    val s1 = scans(df)
    assert(s1.nonEmpty, "no BatchScan for the v2 source")
    assert(s1.head.scan.description().contains("PushedAggregation: [COUNT(*)]"),
      s"count not pushed: ${s1.head.scan.description()}")
    // partial pushdown: scan emits Long partials (one per file), Spark sums
    assert(s1.head.scan.readSchema().fields.map(_.dataType.typeName).toSeq === Seq("long"),
      s"count scan schema not a bare Long: ${s1.head.scan.readSchema()}")
    assert(df.collect().head.getLong(0) === 6L) // the 6 parseable fixture records
    // composes with the pushed key filter: counts only matching records
    val dfk = spark.read.format("graft-kv").load(dir)
      .filter(col("key") === "c").groupBy().count()
    val sk = scans(dfk)
    assert(sk.head.scan.description().contains("PushedAggregation: [COUNT(*)]"))
    assert(sk.head.scan.description().contains("key = c"))
    assert(dfk.collect().head.getLong(0) === 1L)
    // a grouped aggregate must NOT be claimed by the source
    val dfg = spark.read.format("graft-kv").load(dir).groupBy("key").count()
    val sg = scans(dfg)
    assert(!sg.head.scan.description().contains("PushedAggregation"),
      s"grouped count wrongly claimed: ${sg.head.scan.description()}")
    assert(dfg.count() === 6L)
  }

  test("graft-kv streams: AvailableNow drains the backlog; resume ingests only files past the watermark") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft-kv-stream-")
    Files.write(dir.resolve("part-000"), "a 1\nb 2".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("part-001"), "c 3".getBytes(StandardCharsets.UTF_8))
    val ckpt = Files.createTempDirectory("graft-kv-ckpt-").toString
    // parquet sink: the memory sink refuses checkpoint RECOVERY, and the
    // resume leg is the point of this test
    val out = Files.createTempDirectory("graft-kv-out-").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-kv").load(dir.toString)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def rows() = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    drain()
    assert(rows() === Seq(("a", "1"), ("b", "2"), ("c", "3")))
    // a later-named file lands; resuming from the SAME checkpoint must
    // ingest ONLY it — a backlog rescan would double the first three rows
    Files.write(dir.resolve("part-002"), "d 4".getBytes(StandardCharsets.UTF_8))
    drain()
    assert(rows() === Seq(("a", "1"), ("b", "2"), ("c", "3"), ("d", "4")))
    // offset round-trip survives names needing JSON escaping
    val off = KvOffset("""/tmp/we"ird\name""", 7L)
    assert(KvOffset.fromJson(off.json()) === off)
  }

  test("the pushed key filter rides the streaming scans too") {
    // one ScanBuilder serves batch and micro-batch — pin the filter's
    // stream-side effect end to end, not just by construction
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft-kv-sf-")
    Files.write(dir.resolve("part-000"), "a 1\nb 2\na 3".getBytes(StandardCharsets.UTF_8))
    val out = Files.createTempDirectory("graft-kv-sf-out-").toString
    val q = spark.readStream.format("graft-kv").load(dir.toString)
      .filter(col("key") === "a")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", Files.createTempDirectory("graft-kv-sf-ck-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq ===
      Seq(("a", "1"), ("a", "3")))
    // the e2e result alone can't distinguish scan-side filtering from
    // Catalyst's residual Filter — drive the micro-batch reader directly
    // and assert the STREAM READER itself drops non-matching rows
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    val b = new KvScanBuilder(dir.toString)
    b.pushFilters(Array[Filter](EqualTo("key", "a")))
    val stream = b.build().toMicroBatchStream("/unused").asInstanceOf[KvMicroBatchStream]
    val parts = stream.planInputPartitions(
      stream.initialOffset(),
      stream.latestOffset(
        stream.initialOffset(),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()))
    val factory = stream.createReaderFactory()
    val rows = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (r.next()) buf += ((r.get().getUTF8String(0).toString,
        r.get().getUTF8String(1).toString))
      r.close()
      buf
    }
    assert(rows.sorted.toSeq === Seq(("a", "1"), ("a", "3")),
      "stream reader did not apply the pushed key filter")
  }

  test("a file landing below the stream watermark fails loudly instead of silently skipping") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft-kv-tripwire-")
    Files.write(dir.resolve("part-005"), "a 1".getBytes(StandardCharsets.UTF_8))
    val ckpt = Files.createTempDirectory("graft-kv-tw-ckpt-").toString
    val out = Files.createTempDirectory("graft-kv-tw-out-").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-kv").load(dir.toString)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() === 1L)
    // a second producer restarting at part-000 sorts BELOW the watermark:
    // the resume must throw the naming-contract error, not drop the file
    Files.write(dir.resolve("part-000"), "late 9".getBytes(StandardCharsets.UTF_8))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("monotone-naming contract")),
      s"expected the naming-contract error, got: $e")
  }

  test("DSv2 write: committed shards round-trip through the reader; overwrite truncates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kv-write-").toString
    val data = Seq(("k1", "v one"), ("k2", ""), ("k3", "3  4")) // empty + internal-run values
    data.toDF("key", "value").repartition(2)
      .write.format("graft-kv").mode("append").save(dir)
    def back() = spark.read.format("graft-kv").load(dir).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(back() === data.sorted)
    // the v2 commit protocol leaves no staging residue
    assert(!new java.io.File(dir, "_temp").exists(), "_temp staging dir survived commit")
    // append lands ADDITIONAL shards whose names sort after the first
    // job's (the millis prefix — the stream watermark's contract)
    // raw listing minus the local-FS ".crc" sidecars (hidden names the
    // readers already skip)
    def shards() = new java.io.File(dir).list().filterNot(_.startsWith(".")).sorted.toSeq
    val firstShards = shards()
    Seq(("k4", "later")).toDF("key", "value")
      .write.format("graft-kv").mode("append").save(dir)
    val newShards = shards().diff(firstShards)
    assert(newShards.nonEmpty && newShards.forall(n => firstShards.forall(_ < n)),
      s"append shards must sort after existing: $firstShards vs $newShards")
    assert(back() === (data :+ (("k4", "later"))).sorted)
    // overwrite truncates every previous shard
    Seq(("x", "1")).toDF("key", "value")
      .write.format("graft-kv").mode("overwrite").save(dir)
    assert(back() === Seq(("x", "1")))
    // empty partitions commit NO shard (each empty file would cost a
    // task on every later read)
    val before = shards()
    spark.emptyDataFrame.selectExpr("'' AS key", "'' AS value").filter(lit(false))
      .repartition(4).write.format("graft-kv").mode("append").save(dir)
    assert(shards() === before, "empty write littered shards")
    // rows the line format cannot represent are rejected loudly
    val bad = Seq(("a b", "v")).toDF("key", "value")
    val e = intercept[org.apache.spark.SparkException] {
      bad.write.format("graft-kv").mode("append").save(dir)
    }
    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null && c.getMessage.contains("whitespace")),
      s"expected the representability error, got: $e")
    assert(back() === Seq(("x", "1")), "failed write must leave no partial shards")
  }

  test("isRecordLine equals parse.isDefined for arbitrary whitespace-laced lines") {
    // the allocation-free count path and the parse rule must agree on
    // every line, or a pushed COUNT(*) diverges from count-after-read;
    // fuzz over the exact \s class plus printable payload chars
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val ch = Gen.frequency(
      5 -> Gen.oneOf(' ', '\t', '\u000B', '\f', '\r'),
      4 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('!', '"', '\\', '~', 'é'))
    val lineGen = Gen.listOf(ch).map(_.mkString)
    (1 to 300).foreach { seed =>
      val line = lineGen.pureApply(Gen.Parameters.default.withSize(20), Seed(seed.toLong))
      assert(KvDirSource.isRecordLine(line) === KvDirSource.parse(line).isDefined,
        s"count/parse disagree on ${line.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
    // offset JSON round-trip under hostile path characters
    val pathGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('"', '\\', '/', '-')))
      .map(_.mkString)
    (1 to 100).foreach { seed =>
      val p = pathGen.pureApply(Gen.Parameters.default.withSize(16), Seed(seed + 1000L))
      val off = KvOffset(p, seed.toLong)
      assert(KvOffset.fromJson(off.json()) === off, s"offset round-trip broke on: $p")
    }
  }

  test("KV->KV streaming loop is exactly-once across a mid-stream kill and resume") {
    // The full native-format story composed: graft-kv STREAM source →
    // transform → graft-kv STREAMING sink, killed while the rate-limited
    // backlog is draining, then resumed from the same checkpoint. Every
    // input record must come out exactly once — no duplicate from a
    // replayed epoch, no loss from the kill.
    import org.apache.spark.sql.streaming.Trigger
    val src = Files.createTempDirectory("graft-kv-loop-src-")
    val n = 40
    (0 until n).foreach { i =>
      Files.write(src.resolve(f"part-$i%03d"), f"k$i%03d v$i".getBytes(StandardCharsets.UTF_8))
    }
    val out = Files.createTempDirectory("graft-kv-loop-out-").toString
    val ckpt = Files.createTempDirectory("graft-kv-loop-ckpt-").toString
    def start() = spark.readStream.format("graft-kv")
      .option("maxFilesPerTrigger", 1) // 40 epochs — plenty of mid-drain window
      .load(src.toString)
      .select(col("key"), concat(col("value"), lit("!")).as("value"))
      .writeStream.format("graft-kv")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(out)
    def shardCount() = new java.io.File(out).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val q1 = start()
    // kill once a few epochs have landed (racy by nature — if the drain
    // outruns us and finishes, the resume leg still pins no-re-ingest)
    while (q1.isActive && shardCount() < 3) Thread.sleep(50)
    q1.stop()
    q1.awaitTermination()
    val q2 = start()
    q2.awaitTermination()
    val got = spark.read.format("graft-kv").load(out).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val want = (0 until n).map(i => (f"k$i%03d", s"v$i!")).sorted
    assert(got === want,
      s"loop not exactly-once: ${got.size} rows vs ${want.size} expected")
    // no stray staging left behind
    assert(!new java.io.File(out, "_temp").exists(), "staging dir survived the stream")
  }

  test("streaming write refuses Complete mode instead of silently unioning epoch snapshots") {
    // Complete mode reaches the sink as truncate=true; the streaming
    // shard layout is append-only (epoch shards accumulate), so
    // accepting it would re-emit the whole aggregate every epoch NEXT TO
    // the previous epochs' shards and the directory would read as the
    // union of all snapshots. The sink must fail the query loudly.
    val src = Files.createTempDirectory("graft-kv-cm-src-")
    Files.write(src.resolve("part-000"), "k0 v0".getBytes(StandardCharsets.UTF_8))
    val out = Files.createTempDirectory("graft-kv-cm-out-").toString
    val ckpt = Files.createTempDirectory("graft-kv-cm-ckpt-").toString
    val ex = intercept[Exception] {
      val q = spark.readStream.format("graft-kv").load(src.toString)
        .groupBy("key").agg(max("value").as("value"))
        .writeStream.format("graft-kv")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[UnsupportedOperationException]),
      s"expected the sink's UnsupportedOperationException, got: $ex")
  }

  test("streaming epoch re-commit is idempotent (mid-commit crash replay)") {
    // Deterministic replay simulation: stage+commit an epoch, then
    // re-stage the SAME epoch (what the engine does when it replays an
    // uncommitted-in-the-WAL batch) and commit again — once with the
    // first commit fully landed, once with it partially landed. Either
    // way: exactly one shard per partition, committed bytes intact.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val out = Files.createTempDirectory("graft-kv-replay-").toString
    val w = new KvStreamingWrite(out)
    def stage(epoch: Long, pid: Int, rows: Seq[(String, String)]) = {
      val dw = new KvStreamingWriterFactory(out, KvDirSource.broadcastConf())
        .createWriter(pid, taskId = pid.toLong, epoch)
      rows.foreach { case (k, v) =>
        dw.write(InternalRow(UTF8String.fromString(k), UTF8String.fromString(v)))
      }
      dw.commit()
    }
    def shards() = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).sorted.toSeq
    // full replay: both partitions committed, then the whole epoch re-runs
    val m0 = stage(7L, 0, Seq(("a", "1"))); val m1 = stage(7L, 1, Seq(("b", "2")))
    w.commit(7L, Array(m0, m1))
    val r0 = stage(7L, 0, Seq(("a", "1"))); val r1 = stage(7L, 1, Seq(("b", "2")))
    w.commit(7L, Array(r0, r1))
    assert(shards().size === 2, s"full epoch replay duplicated shards: ${shards()}")
    // partial replay: epoch 8 crashed after renaming p0 but before p1
    val p0 = stage(8L, 0, Seq(("c", "3")))
    w.commit(8L, Array(p0)) // p0 landed, "crash" before p1's rename
    val p0r = stage(8L, 0, Seq(("c", "3"))); val p1r = stage(8L, 1, Seq(("d", "4")))
    w.commit(8L, Array(p0r, p1r))
    assert(shards().size === 4, s"partial epoch replay wrong shard set: ${shards()}")
    val rows = spark.read.format("graft-kv").load(out).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rows === Seq(("a", "1"), ("b", "2"), ("c", "3"), ("d", "4")))
    assert(!new java.io.File(out, "_temp").exists(), "staging dir survived the replays")
  }

  test("maxFilesPerTrigger paces an AvailableNow backlog drain into bounded batches") {
    import org.apache.spark.sql.streaming.Trigger
    val src = Files.createTempDirectory("graft-kv-rate-")
    (0 until 6).foreach { i =>
      Files.write(src.resolve(f"part-$i%03d"), s"k$i $i".getBytes(StandardCharsets.UTF_8))
    }
    val out = Files.createTempDirectory("graft-kv-rate-out-").toString
    val q = spark.readStream.format("graft-kv")
      .option("maxFilesPerTrigger", 2)
      .load(src.toString)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", Files.createTempDirectory("graft-kv-rate-ck-").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() === 6L)
    val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    assert(dataBatches.length === 3,
      s"6 files at 2/trigger must drain in 3 batches, got ${dataBatches.length}")
    // watermark monotone across the drain: each batch's end offset is the
    // next batch's start
    val offs = dataBatches.flatMap(p => Option(p.sources.head.endOffset)).toSeq
    assert(offs === offs.sorted, s"non-monotone offsets: $offs")
  }

  // Engine.run writes through graft-kv. This pins that a Hadoop text
  // sink's output (the engine's sink before graft-kv), or any writer of
  // the `concat_ws(" ", key, value)` line format, reads back intact.
  test("KV round-trip through the engine text sink preserves every record") {
    val out = Files.createTempDirectory("graft-kv-rt-").toString
    import spark.implicits._
    val data = Seq(("k1", "v one"), ("k2", ""), ("k3", "x"))
    data.toDF("key", "value")
      .select(concat_ws(" ", col("key"), col("value")).as("value"))
      .write.mode("overwrite").text(out)
    val back = spark.read.format("graft-kv").load(out)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // "k2 " round-trips as value "" — concat_ws writes a trailing space
    // the \s+ split folds away; the KV contract has no empty-vs-absent
    // distinction (reference parsing can't express one either)
    assert(back === data.sorted)
  }
}
