package graft.engine

import java.nio.file.Files
import graft.{SparkSpec, Tables}

/** Source/sink format coverage beyond the reference's raw text files:
  * parquet (primary, everywhere), csv and json round-trips preserve the
  * analytics tables' content. */
class FormatsSpec extends SparkSpec {

  test("csv and json round-trips preserve the nation table") {
    val nation = Tables.nation(spark, sfDir)
    val base = Files.createTempDirectory("graft-fmt-")

    nation.write.option("header", "true").csv(s"$base/csv")
    val csvBack = spark.read
      .option("header", "true")
      .schema(nation.schema)
      .csv(s"$base/csv")
    assert(csvBack.collect().toSet === nation.collect().toSet)

    nation.write.json(s"$base/json")
    val jsonBack = spark.read.schema(nation.schema).json(s"$base/json")
    assert(jsonBack.collect().toSet === nation.collect().toSet)
  }

  test("partitioned parquet write enables partition pruning on read") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft-part-")
    Tables.lineitem(spark, sfDir)
      .write.partitionBy("l_returnflag").parquet(s"$base/li")
    val pruned = spark.read.parquet(s"$base/li").filter(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("l_returnflag"), s"no partition pruning in plan:\n$plan")
    val expected = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R").count()
    assert(pruned.count() === expected)
  }

  test("output file-count governance: repartition and maxRecordsPerFile bound the files") {
    // The 100 TB small-files problem in both directions: too MANY files
    // (every task writes a sliver — metadata pressure on the next reader)
    // and too FEW (one giant file caps downstream parallelism).
    // repartition(k) pins the file count; maxRecordsPerFile splits any
    // oversized task output. Both must preserve content exactly.
    val base = Files.createTempDirectory("graft-compact-")
    val li = Tables.lineitem(spark, sfDir)
    val n = li.count()
    def parquetFiles(dir: String): Array[java.io.File] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))

    li.repartition(2).write.parquet(s"$base/compact")
    assert(parquetFiles(s"$base/compact").length === 2,
      "compaction to 2 files did not produce exactly 2 files")

    li.repartition(1)
      .write.option("maxRecordsPerFile", (n / 4).toString)
      .parquet(s"$base/split")
    assert(parquetFiles(s"$base/split").length >= 4,
      "maxRecordsPerFile did not split the oversized single-task output")

    assert(spark.read.parquet(s"$base/compact").count() === n)
    assert(spark.read.parquet(s"$base/split").count() === n)
  }

  test("engine text sink output is re-readable as a text source (chaining)") {
    // Reference chains batches by feeding one batch's dest dir to the next
    // (directory in/out contract) — prove the same works here: the
    // graft-kv shards the engine writes read back as plain text lines.
    val in = Files.createTempDirectory("graft-chain-in-")
    Files.writeString(in.resolve("0"), "a b a\n")
    val mid = Files.createTempDirectory("graft-chain-").resolve("mid")
    val out = Files.createTempDirectory("graft-chain-").resolve("out")
    Engine.run(spark, BatchSpec(List("tokenize"), List("sum_ints"), in.toString, mid.toString, 1, 1))
    // second batch: identity map + max reduce over the first's output
    Engine.run(spark, BatchSpec(List("identity"), List("max"), mid.toString, out.toString, 1, 1))
    val got = spark.read.text(out.toString).collect().map(_.getString(0)).toSet
    assert(got === Set("a 2", "b 1"))
  }
}
