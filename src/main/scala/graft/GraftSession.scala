package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The one place a SparkSession is built. Every main, tool and spec
  * session starts here, so the confs a multi-query session needs cannot
  * drift between entry points:
  *   - shuffle partitions = the master's core count (see
  *     [[shufflePartitions]]);
  *   - UTC session time zone, UI off, [[Tables.NanosAsLong]];
  *   - a 24000-entry generated-class cache. ~240 queries × several
  *     codegen units far exceed Spark's default 100 entries, and constant
  *     eviction forces a Janino recompile of every heavy expression tree
  *     on every attempt (measured: late-run Bench queries inflated
  *     5-10×). It was 5000 until the 243-query × 3-pass working set
  *     crossed that and pass 3 ran 2.9× pass 2. Static conf: it only
  *     takes effect if set before the JVM's first codegen. Entries are
  *     weak-ref'd class holders, tens of MB at 24k;
  *   - WARN logging and the graft optimizer rules
  *     ([[graft.functions.GraftFunctions.installOptimizations]]).
  * `extraConf` is applied last, so a caller's conf overrides any of the
  * above. */
object GraftSession {

  /** JDK 17 module opens a JVM needs when Spark runs in it without
    * spark-submit (which normally injects them) — the forked executors of
    * a `local-cluster` master and the probe JVM LocalClusterSpec forks.
    * Matches `org.apache.spark.launcher.JavaModuleOptions`; build.sbt
    * keeps its own copy for the forked run/test JVMs. */
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  private val Local = """local\[(\d+)\s*(?:,\s*\d+\s*)?\]""".r
  private val LocalCluster = """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]""".r

  /** Cores the master runs tasks on: N for `local[N]` and `local[N, F]`,
    * W×C for `local-cluster[W,C,M]`. No caller passes any other master,
    * so anything else is rejected rather than guessed. */
  def shufflePartitions(master: String): Int = master match {
    case Local(n) => n.toInt
    case LocalCluster(w, c) => w.toInt * c.toInt
    case _ => throw new IllegalArgumentException(
      s"GraftSession: unsupported master '$master' (expected local[N], " +
        "local[N, F] or local-cluster[W,C,M])")
  }

  /** Get or create the session on `master` with the confs above. */
  def start(master: String, extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions(master).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosAsLong, "true")
      .config(CodegenCacheConf, "24000")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.installOptimizations(spark)
    spark
  }

  /** Between-query cleanup: drop the caches a query marked (Dedup's
    * shingle/doc caches) and the RDD-level leftovers the catalog cache
    * cannot see — fixpoint queries `localCheckpoint()` their final state,
    * and those blocks otherwise stay pinned until a GC a large heap
    * rarely runs, competing with later queries' execution memory. No
    * caller reads a finished query's RDDs again, so their blocks go
    * through [[GraftBridge.dropBlocks]]. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(GraftBridge.dropBlocks)
  }

  /** Stop `spark` and forget it, so the next [[start]] in this JVM builds
    * a fresh context instead of finding a stopped one. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
