package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the only session builder: its master → shuffle
  * partition rule, the confs it puts on every session (checked on the
  * shared spec session — no new session is started), and a source guard
  * that keeps hand-rolled builders from coming back. */
class GraftSessionSpec extends SparkSpec {

  test("shuffle partitions follow the master's core count; other masters are rejected") {
    assert(GraftSession.shufflePartitions("local[4]") === 4)
    assert(GraftSession.shufflePartitions("local[4, 4]") === 4)
    assert(GraftSession.shufflePartitions("local-cluster[2,4,1536]") === 8)
    for (m <- Seq("local[*]", "local", "yarn", "spark://host:7077"))
      intercept[IllegalArgumentException](GraftSession.shufflePartitions(m))
  }

  test("the shared session carries the codegen cache, NanosAsLong and the graft optimizer rule") {
    assert(spark.conf.get(GraftSession.CodegenCacheConf) === "24000")
    assert(spark.conf.get(Tables.NanosAsLong) === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.experimental.extraOptimizations.contains(
      graft.functions.TokenCountEnvelope))
  }

  test("no source file but GraftSession.scala builds a session") {
    // the needle is split so this file does not match itself
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val offenders = Seq("src/main", "src/test").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally files.close()
    }.filter(p => p.getFileName.toString != "GraftSession.scala" &&
      builder.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, s"hand-rolled session builders: ${offenders.mkString(", ")}")
  }
}
