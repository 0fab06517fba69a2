package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, Tables}

/** Scratch profiling main (not part of the driver contract): times
  * plan-only vs full execution for the queries named in args. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosAsLong, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.installOptimizations(spark)
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val names = if (args.nonEmpty) args.toSeq else Seq("q_quality_score")
    for (name <- names; attempt <- 1 to 3) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.executedPlan // force analysis+optimization+physical
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"[profile] $name attempt $attempt: plan ${(t1 - t0) / 1e9}%.3f s, exec ${(t2 - t1) / 1e9}%.3f s")
      // Bench clears the cache between queries — set this to measure the
      // cost an interleaved bench pass actually pays, not the warm rerun
      if (sys.env.contains("SPARK_GRAFT_PROFILE_CLEARCACHE")) spark.catalog.clearCache()
    }
    spark.stop()
  }
}
