package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.engine.{BatchSpec, Engine, GenericReduce, Ops}

/** One operation of a workload. `prepare(spark, out)` does the driver-side
  * construction and returns the action that runs the operation to its
  * sink; `out` is the directory the operation's outputs go to, when it
  * writes any. An operation whose sink discards its rows has a `dump`
  * twin that writes them as parquet under `out`, for the correctness
  * check. */
final case class Op(name: String, prepare: (SparkSession, String) => () => Unit,
    dump: Option[(SparkSession, String) => () => Unit] = None)

object Workloads {

  /** A headline query: built by `Q.run`, run to the noop sink; its dump
    * writes the rows to `<out>/<name>` as one parquet file. */
  def query(q: graft.Q, dataDir: String): Op = Op(q.name, (spark, _) => {
    val df = q.run(spark, dataDir)
    () => df.write.format("noop").mode("overwrite").save()
  }, Some((spark, out) => {
    val df = q.run(spark, dataDir)
    () => df.coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
  }))

  /** Generic reduce over raw lines (key = first word, value = rest of the
    * line): the number of words that follow the key, summed over its
    * lines. It runs on the `groupByKey.mapGroups` path. */
  val RestTokens = "rest_tokens"
  Ops.registerReduce(GenericReduce(RestTokens, (_, values) =>
    values.map(v => v.trim.split("\\s+").count(_.nonEmpty).toLong).sum.toString))

  /** The MapReduce jobs, in the order they run. `count_hist` reads the
    * output of `sum_ints` of the same pass through the `graft-kv` source
    * and writes, for each word count, how many words have it. */
  def mrJobs(corpus: String, rNum: Int): Seq[Op] = {
    def job(name: String, maps: List[String], reduces: List[String]) =
      Op(name, (spark, out) => {
        val spec = BatchSpec(maps, reduces, corpus, s"$out/$name", splitCount = -1, rNum = rNum)
        () => Engine.run(spark, spec)
      })
    Seq(
      job("sum_ints", List("tokenize"), List("sum_ints")),
      job("lower_count", List("lowercase", "tokenize"), List("count")),
      job("shuffle_tokens", List("tokenize"), Nil),
      job(RestTokens, Nil, List(RestTokens)),
      job("line_count", List("drop_empty"), List("count")),
      job("line_max", List("identity"), List("max")),
      Op("count_hist", (spark, out) => {
        val hist = spark.read.format("graft-kv").load(s"$out/sum_ints")
          .groupBy(col("value")).count()
          .select(col("value").as("key"), col("count").cast("string").as("value"))
        () => hist.write.format("graft-kv").mode("overwrite").save(s"$out/count_hist")
      }))
  }

  def ops(workload: String, names: Seq[String], dataDir: String, corpus: String,
      rNum: Int): Seq[Op] = workload match {
    case "mr_batch" =>
      val byName = mrJobs(corpus, rNum).map(o => o.name -> o).toMap
      names.map(byName)
    case _ =>
      val byName = graft.SparkEntry.all.map(q => q.name -> q).toMap
      names.map(n => query(byName(n), dataDir))
  }
}
