package graft.engine

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.TaskContext
import scala.jdk.CollectionConverters._

/** Proves the engine inherits the reference's fault-tolerance semantics
  * from Spark itself (SURVEY.md M1/M2/O6):
  *
  *   - M2 bounded retry: a task that fails transiently is re-executed and
  *     the job succeeds (reference: MAX_ATTEMPT=3 re-runs,
  *     TaskManagerImpl.java:368-386).
  *   - O6 exactly-once output: the failed attempt's partial output is
  *     discarded by the commit protocol (Hadoop's for parquet, the
  *     graft-kv staged commit for the engine) — no duplicate or lost rows
  *     (reference: first-writer-wins dedup-move,
  *     DistrStorage.java:213-233).
  *
  * The failure is injected exactly the way the reference's ServerBreaker
  * does (fail the first attempt, succeed on retry) but inside the dataflow:
  * a flatMap that throws when TaskContext.attemptNumber == 0 on one
  * partition.
  */
object FaultToleranceSpec {
  /** Counted in a JVM static because Spark discards accumulator updates
    * from failed tasks; local mode shares the JVM, so this observes the
    * injected failure directly. */
  val injected = new java.util.concurrent.atomic.AtomicInteger(0)
}

class FaultToleranceSpec extends SparkSpec {

  test("transient task failure is retried; committed output is exactly-once") {
    import spark.implicits._
    val n = 10000
    val out = Files.createTempDirectory("graft-ft-").resolve("dest").toString

    spark.range(n).repartition(4)
      .mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc.partitionId() == 2 && tc.attemptNumber() == 0) {
          FaultToleranceSpec.injected.incrementAndGet()
          // partial output before dying — must NOT surface in the result
          throw new RuntimeException("injected transient failure (attempt 0)")
        }
        it
      }
      .write.mode("overwrite").parquet(out)

    assert(FaultToleranceSpec.injected.get() >= 1,
      "failure was never injected — test proves nothing")
    val rows = spark.read.parquet(out).as[Long].collect().sorted
    assert(rows.length === n, s"expected exactly $n rows, got ${rows.length}")
    assert(rows.toSeq === (0L until n.toLong), "row set corrupted by retry")
  }

  test("engine batch survives transient failure with exactly-once text sink") {
    // The SAME property through the REAL Engine.run path: a registered
    // flaky map op (≡ a misbehaving user binary) in the chain of a normal
    // JSON-shaped spec — wordcount must come out exactly-once through the
    // engine's own parse, reduce, and graft-kv staged commit (the test
    // name predates that sink).
    val in = Files.createTempDirectory("graft-ft-in-")
    (0 until 8).foreach(i => Files.writeString(in.resolve(i.toString), "a b c a\n"))
    val out = Files.createTempDirectory("graft-ft-out-").resolve("dest")

    FaultToleranceSpec.injected.set(0)
    Ops.registerMap(LambdaMapOp(
      "flaky-identity",
      line => {
        val tc = TaskContext.get()
        if (tc != null && tc.partitionId() == 1 && tc.attemptNumber() == 0) {
          FaultToleranceSpec.injected.incrementAndGet()
          throw new RuntimeException("injected")
        }
        Iterator.single(line)
      }))
    Engine.run(
      spark,
      BatchSpec(
        List("flaky-identity", "tokenize"), List("sum_ints"),
        in.toString, out.toString, splitCount = 4, rNum = 2))

    assert(FaultToleranceSpec.injected.get() >= 1,
      "failure was never injected — test proves nothing")
    val counts = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split(" ", 2); k -> v }
      .toMap
    assert(counts === Map("a" -> "16", "b" -> "8", "c" -> "8"))
  }

  test("a reduce binary that dies on its first run commits exactly once on retry") {
    // The reference's own failure shape: a user binary exits non-zero and
    // the task is re-run. The first run of ALL the job's tasks takes the
    // marker (mkdir is atomic) and exits 1 before reading its input;
    // every later run is the plain awk sum.
    val dir = Files.createTempDirectory("graft-ft-pipe-")
    val in = Files.createDirectory(dir.resolve("in"))
    (0 until 8).foreach(i => Files.writeString(in.resolve(i.toString), "a b c a\n"))
    val out = dir.resolve("dest")
    val mark = dir.resolve("failed-once")
    val script = dir.resolve("reducebin.sh")
    Files.writeString(
      script,
      """mkdir "$MARK" 2>/dev/null && exit 1
        |awk '{c[$1]+=$2} END {for(k in c) print k, c[k]}'
        |""".stripMargin)
    Ops.registerReduce(PipeReduce("flaky-sum-bin", s"MARK='$mark' sh '$script'"))
    val rNum = 2
    Engine.run(
      spark,
      BatchSpec(List("tokenize"), List("flaky-sum-bin"), in.toString, out.toString,
        splitCount = -1, rNum = rNum))

    assert(Files.isDirectory(mark), "failure was never injected — test proves nothing")
    val names = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq
    val shards = names.filter(_.startsWith("part-"))
    assert(shards.nonEmpty && shards.size <= rNum, names)
    assert(!names.contains("_temp"), names)
    val kvs = shards.flatMap(f => Files.readAllLines(out.resolve(f)).asScala)
      .filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split(" ", 2); k -> v }
    assert(kvs.sorted === Seq("a" -> "16", "b" -> "8", "c" -> "8"))
  }
}
