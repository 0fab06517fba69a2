package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{LongType, StringType}

/** [[Tables.t]]'s schema memo: a warm load fires no Spark job, and the
  * memo key (leaf files' path, length and mtime, plus the session's
  * parquet confs) re-infers whenever the answer could differ. */
class TablesSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("graft-tables-").toString

  test("a warm Tables.t load fires no job and reads the same schema") {
    val cold = Tables.t(spark, sfDir, "embeddings").schema
    val (warm, jobs) = jobsStartedBy(Tables.t(spark, sfDir, "embeddings"))
    assert(jobs.isEmpty, s"warm load started jobs: $jobs")
    assert(warm.schema === cold)
    assert(warm.count() === spark.read.parquet(s"$sfDir/embeddings.parquet").count())
  }

  test("rewriting a path with a different column type re-infers and reads the new type") {
    import spark.implicits._
    // one parquet FILE rewritten under the same name, as the generator
    // rewrites `events.parquet`: only its length and mtime change
    val dir = freshDir()
    def writeFile(df: org.apache.spark.sql.DataFrame): Unit = {
      val staging = s"${freshDir()}/s"
      df.coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(Seq(1L, 2L, 3L).toDF("x"))
    assert(Tables.t(spark, dir, "t").schema("x").dataType === LongType)
    val (_, warmJobs) = jobsStartedBy(Tables.t(spark, dir, "t"))
    assert(warmJobs.isEmpty, s"warm load started jobs: $warmJobs")
    writeFile(Seq("a", "b").toDF("x"))
    val (df, jobs) = jobsStartedBy(Tables.t(spark, dir, "t"))
    assert(jobs.nonEmpty, "a rewritten file must be re-inferred")
    assert(df.schema("x").dataType === StringType)
    assert(df.as[String].collect().sorted.toSeq === Seq("a", "b"))
  }

  test("a session with a different nanosAsLong does not reuse the memo entry") {
    import spark.implicits._
    val dir = freshDir()
    Seq(1L, 2L).toDF("x").write.parquet(s"$dir/t.parquet")
    Tables.t(spark, dir, "t")
    val other = spark.newSession()
    other.conf.set(Tables.NanosAsLong, "false")
    val (df, jobs) = jobsStartedBy(Tables.t(other, dir, "t"))
    assert(jobs.nonEmpty, "the entry inferred under nanosAsLong=true was reused")
    assert(df.schema("x").dataType === LongType)
    // and the other session's entry is not served back to this one
    val (_, back) = jobsStartedBy(Tables.t(spark, dir, "t"))
    assert(back.nonEmpty, "the entry inferred under nanosAsLong=false was reused")
  }
}
