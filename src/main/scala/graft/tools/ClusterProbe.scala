package graft.tools

import graft.{GraftSession, SparkEntry}

/** Multi-JVM execution gate — every other gate row and bench in this repo
  * runs `local[*]` (one JVM, no serialization boundary), which leaves the
  * exact failure class a real cluster surfaces first — unserializable
  * closures, `ExpressionEncoder` buffer round-trips in typed Aggregators,
  * native-kernel reference objects in generated code, broadcast
  * materialization across processes — untested. The reference, for all
  * its simplicity, ran 16 separate worker processes
  * (k8s/deployments/worker-deployment.yaml: replicas: 16).
  *
  * This main runs a representative query slice TWICE — once under
  * `local-cluster[2,4,1536]` (a real standalone master + 2 worker
  * processes, each executor a separate JVM forked by the worker) and once
  * under `local[8]` — and exact-compares the collected, stringified,
  * sorted rows. Any encoder/serialization/broadcast divergence between
  * in-process and cross-process execution fails the probe with a nonzero
  * exit.
  *
  * The slice covers each risk class once:
  *   - `q_wordcount` — the reference-parity engine path (flatMap chains,
  *     hash partitioning, text sink semantics) over real task shipping;
  *   - `q1_pricing_summary` / `q3_top_revenue` — shuffle agg + broadcast
  *     join through cross-process block fetch;
  *   - `q_heavy_hitters` / `q_topk_per_key_agg` / `q_weighted_avg` —
  *     typed Aggregators (MisraGriesAgg's Map buffer, TopKAgg's bounded
  *     heap, WeightedAvgCents' pair state) whose ExpressionEncoder
  *     buffers must survive partial-agg serialization between JVMs;
  *   - `q_bloom_join` — GraftBloom's driver-built bit array broadcast
  *     into executor-side codegen;
  *   - `q_sim_int8_topk` / `q_sim_pq` — NativeExprs kernels whose
  *     `addReferenceObj` codegen references must ship to executor
  *     compilers;
  *   - `q_sim_ivf_kmeans` — stored-index build + probe (warehouse tables
  *     written by executors, read back across the boundary);
  *   - `q_dedup_clusters` — the CC fixpoint (localCheckpoint blocks live
  *     on executors, multi-round job scheduling);
  *   - `q_source_kv` — the DSv2 reader's partition planning/serde;
  *   - `q_unigram_fertility` — the persisted-tokenizer path (bounded
  *     driver fit collect → warehouse store → stored-table broadcast
  *     against a corpus scan).
  *
  * Run with `SPARK_HOME=/opt/spark` (the worker forks executor JVMs via
  * the distribution's launcher; sbt's forked-test/run JVMs inherit the
  * full classpath on java.class.path, which the worker command builder
  * propagates to executors) and `SPARK_SCALA_VERSION=2.13` (the
  * jars-only /opt/spark has no launcher scripts to infer it).
  * `GRAFT_ROUNDTRIP_DIR` must point at storage shared with the worker
  * processes for the sink-writing slice queries (q_corpus_build,
  * q_source_kv) — local-cluster masters are NOT `sparkContext.isLocal`,
  * so Formats.sinkDir's driver-local default refuses to run; when the
  * env var is unset, [[main]] defaults it to a fresh temp dir via the
  * `graft.roundtrip.dir` system property (same-machine worker processes
  * share the local filesystem, so a temp dir IS shared storage here).
  */
object ClusterProbe {

  /** One query per multi-JVM risk class — see object doc. */
  val slice: Seq[String] = Seq(
    "q_wordcount",
    "q1_pricing_summary",
    "q3_top_revenue",
    "q_heavy_hitters",
    "q_topk_per_key_agg",
    "q_weighted_avg",
    "q_bloom_join",
    "q_sim_int8_topk",
    "q_sim_pq",
    "q_sim_ivf_kmeans",
    "q_dedup_clusters",
    "q_source_kv",
    // the corpus-build WRITE path: staged-commit DSv2 sink, the explicit
    // shard Partitioner, and observe metrics — all crossing the boundary
    "q_corpus_build",
    // the persisted-tokenizer path: bounded driver collect of the fit,
    // warehouse store, then stored-table broadcast against a corpus scan
    "q_unigram_fertility")

  /** Confs every probe session adds to [[GraftSession.start]]: forked
    * executor JVMs need the JDK module opens (they are not launched via
    * spark-submit) and the application classes — the worker forks them
    * with only the distribution's jars on the classpath, so this repo's
    * classes are shipped explicitly, exactly as a real cluster run ships
    * the application jar via spark-submit. */
  private def executorConf(appName: String): Seq[(String, String)] = Seq(
    "spark.app.name" -> appName,
    "spark.executor.memory" -> "1g",
    "spark.executor.extraJavaOptions" -> GraftSession.addOpens.mkString(" "),
    "spark.executor.extraClassPath" -> System.getProperty("java.class.path"))

  /** Row count above which a query's compare surface becomes one md5
    * digest line (see the large-output guard in [[runQueries]]). At
    * sf0.01 every gate row stays below it (exact rows, debuggable
    * diffs); it exists so a bigger-SF sweep can't balloon the two
    * in-memory result maps. */
  private val DigestRowBar = 50000

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Run the probe slice in a fresh session on `master`. */
  def runSlice(master: String, sfDir: String, warehouse: String): Map[String, Seq[String]] =
    runQueries(master, sfDir, warehouse, slice)

  /** Run `names` in one fresh session on `master`; returns
    * name → sorted stringified rows (a query that throws maps to a
    * single `!ERROR:` row so the compare reports it instead of dying).
    * Stops the session before returning so two runs never coexist in
    * one JVM. Shared by the per-`sbt test` probe (13-query slice) and
    * [[ClusterSweep]] (the FULL gate, once per round). */
  def runQueries(master: String, sfDir: String, warehouse: String,
      names: Seq[String]): Map[String, Seq[String]] = {
    val spark = GraftSession.start(master, executorConf("graft-cluster-probe") ++ Seq(
      "spark.default.parallelism" -> "8",
      "spark.sql.warehouse.dir" -> warehouse): _*)
    try {
      names.map { name =>
        // NonFatal only: a fatal JVM error (OOM, LinkageError) must kill
        // the sweep fast, not limp through the remaining ~240 queries as
        // a confusing !ERROR mismatch cascade
        val rows =
          try {
            val collected = SparkEntry.queries(name)(spark, sfDir)
              .collect().map(_.toString).sorted.toSeq
            // large-output guard: above the bar, hold a digest instead of
            // the row set — the sweep's memory stays bounded at big SFs
            // (equal digests ⇔ equal sorted rows; a mismatch reports the
            // digest line, re-run that one query exactly to diff rows)
            if (collected.size > DigestRowBar)
              Seq(s"!DIGEST rows=${collected.size} md5=${md5(collected.mkString("\n"))}")
            else collected
          } catch { case scala.util.control.NonFatal(e) =>
            Seq(s"!ERROR: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        // so query-marked caches can't accumulate across a sweep session
        GraftSession.reset(spark)
        name -> rows
      }.toMap
    } finally GraftSession.stop(spark)
  }

  /** Streaming across the JVM boundary: a KV→KV AvailableNow loop (the
    * DSv2 stream source's partition planning, the transform, and the
    * idempotent streaming sink's staged epoch commits all execute on
    * executors) — returns the sorted read-back lines. */
  def runStreaming(master: String): Seq[String] = {
    val base = java.nio.file.Files.createTempDirectory("graft-probe-stream-")
    val src = base.resolve("src"); val out = base.resolve("out")
    java.nio.file.Files.createDirectories(src)
    (0 until 24).foreach { i =>
      java.nio.file.Files.writeString(src.resolve(f"part-$i%03d"), f"k$i%03d v$i\n")
    }
    val spark = GraftSession.start(master, executorConf("graft-cluster-probe-stream"): _*)
    try {
      import org.apache.spark.sql.functions._
      val q = spark.readStream.format("graft-kv")
        .option("maxFilesPerTrigger", "7")
        .load(src.toString)
        .select(col("key"), concat(col("value"), lit("-x")).as("value"))
        .writeStream.format("graft-kv")
        .option("checkpointLocation", base.resolve("ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out.toString)
      q.awaitTermination()
      // stateful leg: a streaming aggregation whose StateStore lives ON
      // THE EXECUTORS and must carry counts across the multi-batch drain
      // (maxFilesPerTrigger=7 over 24 files = 4 micro-batches)
      val q2 = spark.readStream.format("graft-kv")
        .option("maxFilesPerTrigger", "7")
        .load(src.toString)
        .select(substring(col("key"), 1, 1).as("grp"))
        .groupBy("grp").count()
        .writeStream.format("memory").queryName("probe_state")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
      val state = spark.table("probe_state")
        .collect().map(r => "state:" + r.getString(0) + "=" + r.getLong(1)).sorted.toSeq
      (spark.read.format("graft-kv").load(out.toString)
        .collect().map(r => r.getString(0) + " " + r.getString(1)).sorted.toSeq
        ++ state)
    } finally GraftSession.stop(spark)
  }

  /** Standalone-run ergonomics, shared with [[ClusterSweep]]: default
    * the round-trip sink to this run's temp dir when the caller didn't
    * point it at shared storage (local-cluster workers are same-machine
    * processes, so a temp dir IS shared). */
  private[tools] def defaultRoundtripDir(base: String, tag: String): Unit =
    if (sys.env.get("GRAFT_ROUNDTRIP_DIR").isEmpty &&
        sys.props.get("graft.roundtrip.dir").isEmpty) {
      sys.props("graft.roundtrip.dir") = s"$base/roundtrip"
      println(s"[$tag] GRAFT_ROUNDTRIP_DIR unset — defaulting sink to $base/roundtrip")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft-probe-").toString
    defaultRoundtripDir(base, "probe")
    println(s"[probe] slice=${slice.size} queries sf=$sfDir")
    val t0 = System.nanoTime()
    val cluster = runSlice("local-cluster[2,4,1536]", sfDir, s"$base/wh-cluster")
    val t1 = System.nanoTime()
    println(f"[probe] local-cluster[2,4,1536] done in ${(t1 - t0) / 1e9}%.1f s")
    val local = runSlice("local[8]", sfDir, s"$base/wh-local")
    println(f"[probe] local[8] done in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    var failed = 0
    for (name <- slice) {
      val (c, l) = (cluster(name), local(name))
      // a query that throws maps to a !ERROR row (runQueries) — two legs
      // failing IDENTICALLY must still fail the probe, not read as OK
      val errored = (c ++ l).exists(_.startsWith("!ERROR"))
      if (c == l && c.nonEmpty && !errored) println(s"[probe] $name OK (${c.size} rows)")
      else {
        failed += 1
        println(s"[probe] $name MISMATCH cluster=${c.size} local=${l.size}")
        (c.toSet -- l.toSet).take(3).foreach(r => println(s"[probe]   only-cluster: $r"))
        (l.toSet -- c.toSet).take(3).foreach(r => println(s"[probe]   only-local:   $r"))
        if (c.isEmpty && l.isEmpty) println(s"[probe]   (both empty — slice query degenerate)")
      }
    }
    // streaming leg: the KV stream source + idempotent streaming sink
    // across real executor JVMs, content-identical to local
    val sc = runStreaming("local-cluster[2,4,1536]")
    val sl = runStreaming("local[8]")
    val want = (0 until 24).map(i => f"k$i%03d v$i-x").sorted ++ Seq("state:k=24")
    val streamOk = sc == sl && sc == want
    println(s"[probe] streaming KV loop: " +
      (if (streamOk) s"OK (${sc.size} records)" else s"MISMATCH cluster=$sc local=$sl"))
    println(s"[probe] ${slice.size - failed}/${slice.size} queries identical across JVM boundaries")
    if (failed > 0 || !streamOk) sys.exit(1)
  }
}
