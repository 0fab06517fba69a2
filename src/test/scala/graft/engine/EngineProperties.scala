package graft.engine

import java.nio.file.Files
import graft.SparkSpec
import graft.functions.NativeExprs
import graft.sources.KvDirSource
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._

/** ScalaCheck-generator properties over the engine core (SURVEY.md §5: the
  * reference's test suite has no property tests — we add the invariants it
  * only implies): for ARBITRARY corpora and parallelism hints, wordcount
  * equals an independently computed reference, i.e. the result is
  * independent of split/partition choices and input file layout.
  *
  * (Generators are sampled with fixed seeds rather than through the
  * scalatest-plus bridge, which isn't on the offline classpath.)
  */
class EngineProperties extends SparkSpec {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(6).mkString)
  private val line = Gen.listOf(word).map(_.mkString(" "))
  private val corpus = Gen.nonEmptyListOf(line).map(_.take(12))
  private val mGen = Gen.chooseNum(1, 8)
  private val rGen = Gen.chooseNum(1, 4)

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default.withSize(12), Seed(seed))

  test("KV parse matches stream-extraction semantics under arbitrary whitespace") {
    // fuzz the exact parity surface the reference's `iss >> key` defines:
    // leading whitespace and separators from the whole Java `\s` set,
    // non-`\s` look-alikes that must stay INSIDE tokens (U+00A0 no-break
    // space, U+0085 next line, U+2003 em space, U+3000 ideographic space),
    // multi-byte words and blank lines — keyed on the first real token,
    // value = the rest, blanks contribute nothing
    val wsRun = Gen.nonEmptyListOf(Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'))
      .map(_.take(3).mkString)
    val lookAlike = Gen.oneOf("\u00A0", "\u0085", "\u2003", "\u3000")
    val messyWord = Gen.frequency(
      4 -> word,
      1 -> Gen.oneOf("é", "漢", "café", "漢字"),
      1 -> (for { w <- word; x <- lookAlike; tail <- Gen.oneOf("", "é") } yield w + x + tail))
    val messyLine: Gen[String] = for {
      lead <- Gen.oneOf(Gen.const(""), wsRun)
      words <- Gen.listOf(messyWord)
      seps <- Gen.listOfN(words.size, wsRun)
      trailing <- Gen.oneOf(true, false)
    } yield {
      val body = words.zip(seps).map { case (w, sep) => w + sep }.mkString
      lead + (if (trailing || seps.isEmpty) body else body.dropRight(seps.last.length))
    }
    val messyCorpus = Gen.nonEmptyListOf(messyLine).map(_.take(10))
    // reference model: skip whitespace-only lines; key = first \s+ token,
    // value = the rest after the run that ends it
    def refParse(l: String): Option[(String, String)] = {
      val s = l.replaceFirst("^\\s+", "")
      if (s.isEmpty) None
      else { val p = s.split("\\s+", 2); Some(p(0) -> (if (p.length > 1) p(1) else "")) }
    }
    def refTokens(l: String): Seq[String] = l.split("\\s+").toSeq.filter(_.nonEmpty)
    def counts(xs: Seq[String]): Map[String, String] =
      xs.groupBy(identity).map { case (x, n) => x -> n.size.toString }
    def show(ls: Seq[String]) = ls.map(l => l.map(c => f"\\u${c.toInt}%04x").mkString("[", "", "]"))
    (1L to 8L).foreach { s =>
      val lines = sample(messyCorpus, s * 101)
      val in = Files.createTempDirectory("graft-prop-ws-in-")
      lines.zipWithIndex.foreach { case (l, i) =>
        Files.writeString(in.resolve(i.toString), l + "\n")
      }
      def run(maps: List[String], reduces: List[String]): Seq[String] = {
        val out = Files.createTempDirectory("graft-prop-ws-out-").resolve("dest")
        Engine.run(spark, BatchSpec(maps, reduces, in.toString, out.toString, -1, 1))
        Files.list(out).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .flatMap(p => Files.readAllLines(p).asScala)
          .toSeq
      }
      def asMap(out: Seq[String]) = out.map { l => val Array(k, v) = l.split(" ", 2); k -> v }.toMap
      // the text source ends a record at \n, \r or \r\n, so those split a
      // written line before the engine sees it
      val records = lines.flatMap(_.split("\r\n|\r|\n"))
      val kvs = records.flatMap(refParse)
      val ctx = s"seed=$s corpus=${show(lines)}"
      assert(asMap(run(List("identity"), List("count"))) === counts(kvs.map(_._1)), ctx)
      assert(run(List("identity"), Nil).sorted === kvs.map { case (k, v) => s"$k $v" }.sorted, ctx)
      assert(asMap(run(List("tokenize"), List("count"))) === counts(records.flatMap(refTokens)), ctx)
      // the kernels and the graft-kv reader on whole lines, \r and \n inside
      val row = spark.createDataset(lines)(Encoders.STRING).select(
        col("value"), NativeExprs.lineKv(col("value")), NativeExprs.lineTokens(col("value"), " 1"))
        .collect()
      row.foreach { r =>
        val l = r.getString(0)
        val ref = refParse(l)
        val kv = Option(r.getStruct(1)).map(kv => kv.getString(0) -> kv.getString(1))
        assert(kv === ref, s"lineKv on ${show(Seq(l))}")
        assert(KvDirSource.parse(l) === ref, s"graft-kv parse on ${show(Seq(l))}")
        assert(r.getSeq[String](2) === refTokens(l).map(_ + " 1"), s"lineTokens on ${show(Seq(l))}")
      }
    }
  }

  test("wordcount is correct and M/R-invariant for arbitrary corpora") {
    (1L to 8L).foreach { s =>
      val lines = sample(corpus, s)
      val m = sample(mGen, s * 31)
      val r = sample(rGen, s * 73)
      val expected = lines
        .flatMap(_.split("\\s+"))
        .filter(_.nonEmpty)
        .groupBy(identity)
        .map { case (w, ws) => w -> ws.size.toString }
      val in = Files.createTempDirectory("graft-prop-in-")
      lines.zipWithIndex.foreach { case (l, i) =>
        Files.writeString(in.resolve(i.toString), l + "\n")
      }
      val out = Files.createTempDirectory("graft-prop-out-").resolve("dest")
      Engine.run(
        spark,
        BatchSpec(List("tokenize"), List("sum_ints"), in.toString, out.toString, m, r))
      val got = Files.list(out).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => Files.readAllLines(p).asScala)
        .filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split(" ", 2); k -> v }
        .toMap
      assert(got === expected, s"seed=$s M=$m R=$r corpus=$lines")
    }
  }
}
