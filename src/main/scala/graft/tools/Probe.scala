package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import graft.{GraftSession, SparkEntry}

/** Per-query plan and timing probe (a diagnostic, not a gate surface), in
  * the session Bench builds:
  * `runMain graft.tools.Probe <tag> <suffix> q1 q2 …`, reading the
  * scale-factor directory from SPARK_GRAFT_SF_DIR (required) and the
  * core count from SPARK_GRAFT_CPUS (default 32, as Bench).
  *
  * For each named query it
  *   - writes `plans/<tag>/<name>_<suffix>.txt` under the working
  *     directory: the formatted explain before execution, then the final
  *     post-AQE executed plan — the before/after plan evidence a
  *     performance change commits;
  *   - runs 3 attempts (Bench's pass count) with [[GraftSession.reset]]
  *     between them, and prints per attempt the construction seconds
  *     (`q.run`), the plan seconds (forcing `executedPlan`), the exec
  *     seconds (the noop write), the JVM GC delta and the persistent-RDD
  *     count the attempt left behind. A query that is fast here but slow
  *     in Bench points at session state, not at its plan.
  *
  * SPARK_GRAFT_DIAG_WARM_N=N first runs the first N headline queries once
  * each (reset after each), reproducing the session of "query N of a
  * bench pass", so a Bench-only slowdown can be bisected to the session
  * age that causes it. */
object Probe {
  private val Attempts = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the scale-factor directory to probe"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val Array(tag, suffix) = args.take(2)
    val spark = GraftSession.start(s"local[$cpus]")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
    def gcMillis: Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    noop(spark.range(1000).selectExpr("sum(id)"))
    val warmN = sys.env.getOrElse("SPARK_GRAFT_DIAG_WARM_N", "0").toInt
    if (warmN > 0) {
      val t0 = System.nanoTime()
      for (q <- SparkEntry.headline.take(warmN)) {
        try noop(q.run(spark, sfDir))
        catch { case e: Throwable => println(s"[probe] warm ${q.name} failed: $e") }
        GraftSession.reset(spark)
      }
      println(f"[probe] warmed $warmN queries in ${secs(t0, System.nanoTime())}%.1f s")
    }
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    for (name <- args.drop(2)) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      // run this frame's own plan to completion (rows stay on the
      // executors) so its adaptive plan is final
      df.queryExecution.toRdd.count()
      val file = dir.resolve(s"${name}_$suffix.txt")
      Files.writeString(file, formatted +
        s"\n== Final post-AQE plan ==\n${df.queryExecution.executedPlan}\n")
      println(s"[probe] wrote $file")
      GraftSession.reset(spark)
      for (a <- 1 to Attempts) {
        val gc0 = gcMillis
        val t0 = System.nanoTime()
        val attempt = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        attempt.queryExecution.executedPlan
        val t2 = System.nanoTime()
        noop(attempt)
        val t3 = System.nanoTime()
        println(f"[probe] $name attempt $a: build ${secs(t0, t1)}%.3f s, " +
          f"plan ${secs(t1, t2)}%.3f s, exec ${secs(t2, t3)}%.3f s, " +
          s"gc +${gcMillis - gc0} ms, " +
          s"persistentRDDs ${spark.sparkContext.getPersistentRDDs.size}")
        GraftSession.reset(spark)
      }
    }
    GraftSession.stop(spark)
  }
}
