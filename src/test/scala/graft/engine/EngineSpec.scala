package graft.engine

import java.nio.file.{Files, Path}
import graft.SparkSpec
import graft.functions.{LineKv, LineTokens}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, RegExpReplace, RLike, StringSplit}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import scala.jdk.CollectionConverters._

/** Golden tests mirroring the reference's test corpus:
  *   - 1.2 minimal worker fixture (WorkerImplTest.java:87-146)
  *   - 1.1 13-file wordcount corpus (ClientTest.java:115-140)
  *   - split/edge semantics (DistrStorage.java:140-148)
  * plus invariance properties the reference never checks (output independent
  * of split_count / r_num).
  */
class EngineSpec extends SparkSpec {

  private def writeCorpus(lines: Seq[String]): Path = {
    val dir = Files.createTempDirectory("graft-in-")
    lines.zipWithIndex.foreach { case (content, i) =>
      Files.writeString(dir.resolve(i.toString), content + "\n")
    }
    dir
  }

  private def readOutput(dir: Path): Map[String, String] =
    Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .filter(_.nonEmpty)
      .map { line =>
        val Array(k, v) = line.split(" ", 2); k -> v
      }
      .toMap

  private def wordcount(input: Path, m: Int, r: Int): Map[String, String] = {
    val out = Files.createTempDirectory("graft-out-").resolve("dest")
    Engine.run(
      spark,
      BatchSpec(
        mapOps = List("tokenize"),
        reduceOps = List("sum_ints"),
        inputId = input.toString,
        finalDestDirId = out.toString,
        splitCount = m,
        rNum = r))
    readOutput(out)
  }

  /** FIXTURES.md 1.1 — the reference's 13-file ClientTest corpus. */
  private val clientCorpus = Seq(
    "a b c",
    "d bi ooooooo c",
    "d b beee c",
    "d b beee beee  aaaa c",
    "d affffffffff  ffc",
    "a  j c j c j c j c j cj c",
    "a beee c",
    "a bbeee beee beee beee  c",
    "a bbeee bee  e beee beee  c",
    "a bbzzzz zzzzzzzzz beee  c",
    "a bzzzz zzzzzzzzze beee  c",
    "a bzzzz zzz zzzzzze beee  c",
    "a bzzzzzzzz zzzzze beee  c")

  private def expectedCounts(corpus: Seq[String]): Map[String, String] =
    corpus
      .flatMap(_.split("\\s+"))
      .filter(_.nonEmpty)
      .groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toString }

  test("minimal worker fixture: two files of 'a b c' reduce to a 2, b 2, c 2") {
    // WorkerImplTest.java:87-146 golden: a 2\nb 2\nc 2
    val in = writeCorpus(Seq("a b c", "a b c"))
    assert(wordcount(in, m = 1, r = 1) === Map("a" -> "2", "b" -> "2", "c" -> "2"))
  }

  test("13-file client corpus matches independently computed counts") {
    val in = writeCorpus(clientCorpus)
    val got = wordcount(in, m = 10, r = 2)
    assert(got === expectedCounts(clientCorpus))
    // Spot-checks (full-corpus counts; ClientTest's golden `a 2` is a
    // partition-0 slice of a 2-file subset, not the whole corpus)
    assert(got("a") === "9")
    assert(got("beee") === "13")
  }

  test("output is invariant under split_count and r_num") {
    // Property the reference implies but never tests: M/R are pure
    // parallelism hints (SURVEY.md §5).
    val in = writeCorpus(clientCorpus)
    val expected = expectedCounts(clientCorpus)
    for ((m, r) <- Seq((1, 1), (3, 2), (13, 5), (40, 1)))
      assert(wordcount(in, m, r) === expected, s"mismatch at M=$m R=$r")
  }

  test("split_count = 0 yields an empty job (DistrStorage.java:140-142)") {
    val in = writeCorpus(clientCorpus)
    assert(wordcount(in, m = 0, r = 2) === Map.empty)
  }

  test("indented lines key on the first real token (stream-extraction semantics)") {
    // The reference's `iss >> key` skips leading whitespace
    // (partition.cpp:30-31); "  a b c" must count a, b, c — not key on "".
    val in = writeCorpus(Seq("  a b c", "\ta b"))
    assert(wordcount(in, m = 1, r = 1) === Map("a" -> "2", "b" -> "2", "c" -> "1"))
  }

  test("ltrim path: identity-mapped indented lines key on the first real token") {
    // Unlike the tokenize test above (whose map op already strips
    // whitespace before the KV split), `identity` delivers the indented
    // line verbatim to Engine's line→KV parse — without the ltrim at the
    // split (Engine.scala:51) these lines would key on "".
    val in = writeCorpus(Seq("  k 1", "\tk 2"))
    val out = Files.createTempDirectory("graft-out-").resolve("dest")
    Engine.run(
      spark,
      BatchSpec(List("identity"), List("sum_ints"), in.toString, out.toString, -1, 1))
    assert(readOutput(out) === Map("k" -> "3"))
  }

  test("blank and whitespace-only lines are dropped, never keyed on the empty string") {
    // the reference's `iss >> key` fails extraction on a blank line and
    // emits nothing — fabricating a ("", "") record would diverge
    val in = writeCorpus(Seq("a 1", "", "   ", "\t", "a 2"))
    val out = Files.createTempDirectory("graft-out-").resolve("dest")
    Engine.run(
      spark,
      BatchSpec(List("identity"), List("sum_ints"), in.toString, out.toString, -1, 1))
    assert(readOutput(out) === Map("a" -> "3"))
  }

  test("sum_ints treats non-numeric values as 0 (C++ failed-extraction parity)") {
    val in = writeCorpus(Seq("k abc", "k 2", "j xyz"))
    val out = Files.createTempDirectory("graft-out-").resolve("dest")
    Engine.run(
      spark,
      BatchSpec(List("identity"), List("sum_ints"), in.toString, out.toString, -1, 1))
    // k: abc→0 + 2 = 2; j: all non-numeric → 0, NOT a bare-key line
    assert(readOutput(out) === Map("k" -> "2", "j" -> "0"))
  }

  test("map-only job still hash-partitions: each key lands in exactly one output file") {
    // the reference's partition binary ALWAYS runs (TaskManagerImpl.java:151)
    // — with no reduce op there is no groupBy shuffle, so the engine must
    // add the key repartition itself or equal keys spread across files
    val in = writeCorpus(Seq("a 1\nb 1\nc 1", "a 1\nb 1\nd 1", "c 1\nd 1\na 1"))
    val out = Files.createTempDirectory("graft-out-").resolve("dest")
    Engine.run(
      spark,
      BatchSpec(List("identity"), Nil, in.toString, out.toString, -1, 2))
    val perFile: Seq[Set[String]] = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllLines(p).asScala.filter(_.nonEmpty)
        .map(_.split("\\s+", 2)(0)).toSet)
      .toSeq
    val overlaps = perFile.combinations(2).filter { case Seq(x, y) => (x & y).nonEmpty }
    assert(overlaps.isEmpty, s"keys split across output files: $perFile")
  }

  test("drop_empty removes tab-only lines (not just space-only)") {
    val in = writeCorpus(Seq("x 1", "\t", "  "))
    val out = Files.createTempDirectory("graft-out-").resolve("dest")
    Engine.run(
      spark,
      BatchSpec(List("drop_empty", "identity"), List("count"), in.toString, out.toString, -1, 1))
    assert(readOutput(out) === Map("x" -> "1"))
  }

  test("generic reduce op: concat_sorted collapses all values per key") {
    val in = writeCorpus(Seq("k1 b", "k1 a", "k2 z"))
    val out = Files.createTempDirectory("graft-out-").resolve("dest")
    Engine.run(
      spark,
      BatchSpec(List("identity"), List("concat_sorted"), in.toString, out.toString, -1, 2))
    assert(readOutput(out) === Map("k1" -> "a,b", "k2" -> "z"))
  }

  test("map chain composes in order (lowercase then tokenize)") {
    val in = writeCorpus(Seq("A b", "B"))
    val out = Files.createTempDirectory("graft-out-").resolve("dest")
    Engine.run(
      spark,
      BatchSpec(List("lowercase", "tokenize"), List("sum_ints"), in.toString, out.toString, -1, 1))
    assert(readOutput(out) === Map("a" -> "1", "b" -> "2"))
  }

  test("built-in map ops and the line→KV parse run as native kernels inside whole-stage codegen") {
    // plan guard for the engine's hot path: no per-row regex (RLike,
    // RegExpReplace, StringSplit compile a Pattern per call) and no
    // interpreted lambda (HigherOrderFunction) on any built-in map op, and
    // every operator evaluating a line kernel stays in a codegen stage
    def isKernel(e: Expression) = e.isInstanceOf[LineKv] || e.isInstanceOf[LineTokens]
    // operators NOT compiled by a WholeStageCodegenExec (AQE stages entered)
    def interpreted(p: SparkPlan): Seq[SparkPlan] = p match {
      case w: WholeStageCodegenExec => stageInputs(w.child)
      case a: AdaptiveSparkPlanExec => interpreted(a.executedPlan)
      case q: QueryStageExec => interpreted(q.plan)
      case other => other +: other.children.flatMap(interpreted)
    }
    def stageInputs(p: SparkPlan): Seq[SparkPlan] = p match {
      case i: InputAdapter => interpreted(i.child)
      case other => other.children.flatMap(stageInputs)
    }
    val in = writeCorpus(Seq("a b", "\tc  d", " "))
    Seq("tokenize", "identity", "lowercase", "drop_empty").foreach { op =>
      val df = Engine.plan(spark, BatchSpec(List(op), List("count"), in.toString, "unused", -1, 1))
      val opt = df.queryExecution.optimizedPlan
      val slow = opt.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: RLike | _: RegExpReplace | _: StringSplit | _: HigherOrderFunction) => e
      }))
      assert(slow.isEmpty, s"$op: regex/lambda expression in the plan:\n$opt")
      assert(opt.exists(_.expressions.exists(_.exists(_.isInstanceOf[LineKv]))),
        s"$op: no LineKv parse in the plan:\n$opt")
      df.collect()
      val plan = df.queryExecution.executedPlan
      val outside = interpreted(plan).filter(_.expressions.exists(_.exists(isKernel)))
      assert(outside.isEmpty, s"$op: line kernel outside whole-stage codegen:\n$plan")
    }
  }

  test("BatchSpec parses the reference-shaped JSON") {
    val spec = BatchSpec.fromJson(
      """{"map_ops":["tokenize"],"reduce_ops":["sum_ints"],
         |"input_id":"/in","final_dest_dir_id":"/out",
         |"split_count":10,"r_num":2}""".stripMargin)
    assert(spec === BatchSpec(List("tokenize"), List("sum_ints"), "/in", "/out", 10, 2))
  }

  test("BatchSpec rejects non-string op entries instead of silently dropping them") {
    val bad =
      """{"map_ops":["tokenize",5],"reduce_ops":[],
        |"input_id":"/in","final_dest_dir_id":"/out"}""".stripMargin
    val e = intercept[IllegalArgumentException](BatchSpec.fromJson(bad))
    assert(e.getMessage.contains("map_ops"))
  }
}
