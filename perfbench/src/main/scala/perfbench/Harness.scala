package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's JVM side. `run.py` makes the inputs and the config file;
  * this program starts the session `setupReps` times, runs `warmPasses`
  * untimed passes (on a query workload with one more pass after the first
  * that writes every query's rows for the correctness check) and then
  * `passes` timed whole passes over the workload's operations back to
  * back. It writes `result.json`, and with tracing on also one layer row
  * per traced operation (`rows.jsonl`) and the span tree (`spans.jsonl`).
  *
  * Usage: Harness <config.json>
  */
object Harness {

  final case class Cfg(workload: String, names: Seq[String], trace: Boolean,
      cpus: Int, setupReps: Int, warmPasses: Int, passes: Int, dataDir: String, corpusDir: String,
      work: String, checkQueries: Boolean)

  private def readCfg(path: String): Cfg = {
    val j = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    def s(f: String) = (j \ f).asInstanceOf[JString].s
    def i(f: String) = (j \ f) match { case JInt(v) => v.toInt; case o => sys.error(s"$f: $o") }
    def b(f: String) = (j \ f).asInstanceOf[JBool].value
    Cfg(s("workload"), (j \ "ops").asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s),
      b("trace"), i("cpus"), i("setup_reps"), i("warm_passes"), i("passes"), s("data_dir"), s("corpus_dir"),
      s("work"), b("check_queries"))
  }

  private def session(cfg: Cfg, warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${cfg.cpus}]")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.NanosAsLong, "true")
      .config("spark.sql.codegen.cache.maxEntries", "24000")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.installOptimizations(spark)
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drops what an operation cached, so the next one starts clean. Blocking,
    * so that the removal does not overlap the next operation. */
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs: Long = CodeGenerator.compileTime

  private def drainBuilds(): Seq[Double] = {
    val m = graft.sources.Warehouse.buildSeconds
    val out = m.values().asScala.toSeq
    m.clear()
    out
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Milliseconds the JVM's JIT compilers have spent so far. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros where it
    * cannot be read. Steal is time the host ran something else while this
    * machine had work for a CPU. */
  private def cpuJiffies: (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Old-generation occupancy in MB once cached blocks are dropped and the
    * garbage of the pass is collected and cleaned up. */
  private def oldGenAfterGcMb(spark: SparkSession): Double = {
    hygiene(spark)
    Internals.settle(spark.sparkContext)
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  @volatile private var probeSink = 0L
  private def spin(iters: Long): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    probeSink += x
  }

  /** Host-load probe: fixed work timed on one thread, then on `n` threads
    * at once. On an idle host the two legs take about the same time; load
    * from elsewhere inflates the parallel leg. Returns (t1, tN) seconds,
    * the least loaded of three repeats. */
  private def loadProbe(n: Int): (Double, Double) = {
    def timed(f: => Unit) = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    spin(20000000L)
    (1 to 3).map { _ =>
      val t1 = timed(spin(20000000L))
      val tN = timed {
        val ts = Array.fill(n)(new Thread(() => spin(20000000L)))
        ts.foreach(_.start()); ts.foreach(_.join())
      }
      (t1, tN)
    }.minBy { case (t1, tN) => tN / math.max(t1, 1e-9) }
  }

  def main(args: Array[String]): Unit = {
    val cfg = readCfg(args(0))
    // wall time of each phase of the run, for the diagnostics
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phaseT0 = System.nanoTime()
    def phase(name: String): Unit = {
      val t = System.nanoTime(); phases(name) = (t - phaseT0) / 1e9; phaseT0 = t
    }
    val ops = Workloads.ops(cfg.workload, cfg.names, cfg.dataDir, cfg.corpusDir, cfg.cpus)
    val probe = loadProbe(cfg.cpus)
    phase("probe")
    val setupErrors = mutable.LinkedHashMap.empty[String, String]
    drainBuilds()

    // ---- set-up: the session is started several times (the last one is
    // kept), then warm passes run every operation. The first one pays JIT
    // and codegen warm-up and builds the warehouse artifacts.
    var spark: SparkSession = null
    def counters = (System.nanoTime(), compiles, compileNs)
    def since(c: (Long, Long, Long)) = Map("s" -> (System.nanoTime() - c._1) / 1e9,
      "compiles" -> (compiles - c._2), "compile_ms" -> (compileNs - c._3) / 1e6)
    val setups = (1 to cfg.setupReps).map { rep =>
      if (spark != null) stop(spark)
      val c = counters
      spark = session(cfg, s"${cfg.work}/warehouse-$rep")
      since(c)
    }
    phase("sessions")
    // The dump pass comes second: after the first pass has built the
    // warehouse artifacts, so the rows checked are those of a call that
    // reuses them, like every timed call; and before the last warm pass,
    // so the timed passes follow a pass to the same sink.
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val warmPasses = (if (cfg.checkQueries) Seq(false, true) else Seq(false)) ++
      Seq.fill(cfg.warmPasses - 1)(false)
    val warm = {
      val c = counters
      val opS = warmPasses.flatMap { dumping =>
        ops.map { op =>
          val t0 = System.nanoTime()
          try {
            if (dumping) op.dump.get(spark, s"${cfg.work}/check")()
            else op.prepare(spark, s"${cfg.work}/out/warm")()
          } catch {
            case e: Throwable =>
              (if (dumping) checkErrors else setupErrors)(op.name) = e.toString.take(500)
          }
          hygiene(spark)
          op.name -> (System.nanoTime() - t0) / 1e9
        }
      }
      val builds = drainBuilds()
      since(c) ++ Map("builds" -> builds.size, "build_s" -> builds.sum,
        "op_s" -> opS.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
    }
    val sc = spark.sparkContext
    phase("warm")

    // ---- timed region: whole passes, back to back
    val tracer = if (cfg.trace) Some(new Tracer) else None
    val opRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerRows = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    (0 until cfg.passes).foreach { pass =>
      // with tracing on, every other pass is traced; the untraced ones give
      // the reference that the tracing overhead is measured against
      val traced = tracer.isDefined && pass % 2 == 1
      tracer.filter(_ => traced).foreach { t =>
        sc.addSparkListener(t); spark.listenerManager.register(t)
      }
      // every pass starts from the same state: caches dropped, garbage
      // collected and cleaned up; that old-generation occupancy is recorded
      val oldGenMb = oldGenAfterGcMb(spark)
      val gc0 = gcMs
      val jit0 = jitMs
      val (steal0, jiffies0) = cpuJiffies
      val cp0 = compiles; val cn0 = compileNs
      val p0 = System.nanoTime()
      ops.zipWithIndex.foreach { case (op, i) =>
        val id = pass * ops.size + i
        val out = s"${cfg.work}/out/pass-$pass"
        if (traced) sc.setJobGroup(Tracer.ConstructionGroup, op.name)
        val c0 = compiles; val n0 = compileNs
        val t0Ms = System.currentTimeMillis(); val t0 = System.nanoTime()
        var tqMs = t0Ms; var tq = t0; var n1 = n0
        val error = try {
          val action = op.prepare(spark, out)
          tqMs = System.currentTimeMillis(); tq = System.nanoTime(); n1 = compileNs
          if (traced) sc.setJobGroup(Tracer.ActionGroup, op.name)
          action()
          None
        } catch { case e: Throwable => Some(e.toString.take(500)) }
        val t1 = System.nanoTime(); val t1Ms = System.currentTimeMillis()
        val c1 = compiles; val n2 = compileNs
        if (traced) sc.clearJobGroup()
        hygiene(spark)
        opRows += Map("id" -> id, "name" -> op.name, "pass" -> pass,
          "latency_s" -> (t1 - t0) / 1e9, "ok" -> error.isEmpty, "error" -> error.orNull,
          "out" -> s"$out/${op.name}")
        tracer.filter(_ => traced).foreach { t =>
          Internals.drainListenerBus(sc)
          val a = Attribution(id, op.name, pass, cfg.workload == "mr_batch", cfg.cpus,
            wallMs = (t1 - t0) / 1e6, constructionMs = (tq - t0) / 1e6,
            t0Ms = t0Ms, tqMs = tqMs, t1Ms = t1Ms, compiles = c1 - c0,
            compileMs = (n2 - n0) / 1e6, actionCompileMs = (n2 - n1) / 1e6, t.take())
          layerRows += Json.obj(a.row)
          spans ++= a.spans
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val gc = gcMs - gc0
      val (steal1, jiffies1) = cpuJiffies
      tracer.filter(_ => traced).foreach { t =>
        sc.removeSparkListener(t); spark.listenerManager.unregister(t)
      }
      passes += Map("pass" -> pass, "wall_s" -> wall, "traced" -> traced, "gc_ms" -> gc,
        "jit_ms" -> (jitMs - jit0),
        "steal_frac" -> (steal1 - steal0).toDouble / math.max(1L, jiffies1 - jiffies0),
        "compiles" -> (compiles - cp0), "compile_ms" -> (compileNs - cn0) / 1e6,
        "old_gen_mb" -> oldGenMb)
    }
    phase("timed")
    val finalOldGenMb = oldGenAfterGcMb(spark)

    if (cfg.checkQueries) {
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(cfg.work, "oracle.json"),
        Json.obj(cfg.names.distinct.map(n => n -> oracle.get(n).orNull)))
    }
    stop(spark)
    phase("stop")

    if (cfg.trace) {
      Files.write(Paths.get(cfg.work, "rows.jsonl"), layerRows.asJava)
      Files.write(Paths.get(cfg.work, "spans.jsonl"), spans.asJava)
    }
    val result = Json.obj(Seq(
      "setups" -> setups, "warm" -> warm, "setup_errors" -> setupErrors, "passes" -> passes.toSeq,
      "ops" -> opRows.toSeq, "final_old_gen_mb" -> finalOldGenMb, "check_errors" -> checkErrors,
      "probe" -> Map("t1_s" -> probe._1, "tn_s" -> probe._2, "threads" -> cfg.cpus),
      "phase_s" -> phases))
    Files.writeString(Paths.get(cfg.work, "result.json"), result)
  }
}
