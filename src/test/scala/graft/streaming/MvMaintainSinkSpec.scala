package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** The streaming MV sink's contract: micro-batched fact rows fold into
  * the same totals a one-shot batch aggregation computes — across batch
  * boundaries that SPLIT an order (the case the batch card's
  * order-atomic slice rule sidesteps and this sink must survive), across
  * replays of a committed batch with poisoned content, and across the
  * write-then-crash window (a version written without its marker). */
class MvMaintainSinkSpec extends SparkSpec {
  import spark.implicits._

  private val table = "graft_mv_stream_test"

  private def mvState(): Map[(String, Long), (Long, java.math.BigDecimal)] =
    MvMaintainSink.current(spark, table) match {
      case None => Map.empty
      case Some(df) =>
        df.collect().map { r =>
          (r.getAs[String]("n_name"), r.getAs[Long]("o_year")) ->
            (r.getAs[Long]("n_items"), r.getAs[java.math.BigDecimal]("rev_c4"))
        }.toMap
    }

  test("streaming MV maintenance: split orders, replay rejection, crash-window idempotence") {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    spark.sql(s"SHOW TABLES LIKE '$table*'").collect().map(_.getString(1)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(table)).foreach(rm)
    val dir = Files.createTempDirectory("graft-mvm-src-").toString
    val ckpt = Files.createTempDirectory("graft-mvm-ck-").toString

    def run(): Unit = {
      val facts = spark.readStream
        .schema("n_name STRING, o_year LONG, l_extendedprice DOUBLE, l_discount DOUBLE")
        .option("maxFilesPerTrigger", "1") // one file per micro-batch
        .parquet(dir)
      val q = MvMaintainSink.maintainStream(facts, table, ckpt, Trigger.AvailableNow())
      assert(q.awaitTermination(180000), "AvailableNow maintenance did not terminate")
    }

    // file 1 and file 2 SPLIT one logical order's lineitems (FRANCE/1995
    // rows land in both micro-batches) — totals must still be exact
    Seq(("FRANCE", 1995L, 100.0, 0.10), ("GERMANY", 1995L, 50.0, 0.00))
      .toDF("n_name", "o_year", "l_extendedprice", "l_discount")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq(("FRANCE", 1995L, 200.0, 0.05), ("FRANCE", 1996L, 10.0, 0.00))
      .toDF("n_name", "o_year", "l_extendedprice", "l_discount")
      .coalesce(1).write.mode("append").parquet(dir)
    run()

    def c4(price: Double, disc: Double): Long =
      math.floor(price * 100 + 0.5).toLong * (100L - math.floor(disc * 100 + 0.5).toLong)
    val want = Map(
      ("FRANCE", 1995L) -> (2L, c4(100.0, 0.10) + c4(200.0, 0.05)),
      ("GERMANY", 1995L) -> (1L, c4(50.0, 0.00)),
      ("FRANCE", 1996L) -> (1L, c4(10.0, 0.00)))
    val got = mvState()
    assert(got.view.mapValues { case (n, d) => (n, d.longValueExact()) }.toMap === want,
      "two micro-batches (order split across them) fold to the exact batch totals")

    // replayed batch id with poisoned content must be a no-op
    val committed = MvMaintainSink.committedBatch(spark, table)
    assert(committed >= 1L, "expected at least two committed micro-batches")
    val poison = Seq(("FRANCE", 1995L, 1e9, 0.0))
      .toDF("n_name", "o_year", "l_extendedprice", "l_discount")
    MvMaintainSink.applyBatch(spark, table, poison, batchId = committed - 1)
    assert(mvState().view.mapValues { case (n, d) => (n, d.longValueExact()) }.toMap === want,
      "replayed (already-committed) batch must be skipped")

    // crash window: a version table written WITHOUT its marker (crash
    // between data write and marker write). Plant the orphan version by
    // hand, then apply the batch for real — the sink must drop the
    // orphan, rewrite identical content from the committed base, and
    // advance the marker exactly once (never double-count).
    val nextRows = Seq(("GERMANY", 1996L, 30.0, 0.00))
      .toDF("n_name", "o_year", "l_extendedprice", "l_discount")
    val nextId = committed + 1
    val orphan = s"${table}_v$nextId"
    Seq(("GERMANY", 1996L, 1L, new java.math.BigDecimal(999)))
      .toDF("n_name", "o_year", "n_items", "rev_c4")
      .write.saveAsTable(orphan) // garbage content a crashed attempt left
    MvMaintainSink.applyBatch(spark, table, nextRows, nextId)
    assert(MvMaintainSink.committedBatch(spark, table) === nextId)
    val wantNext = want + (("GERMANY", 1996L) -> (1L, c4(30.0, 0.00)))
    assert(mvState().view.mapValues { case (n, d) => (n, d.longValueExact()) }.toMap === wantNext,
      "orphan version replaced by the real recompute, exactly once")

    // and a straight double-apply of the same id is a no-op
    MvMaintainSink.applyBatch(spark, table, nextRows, nextId)
    assert(mvState().view.mapValues { case (n, d) => (n, d.longValueExact()) }.toMap === wantNext,
      "second apply of the same batch id changed the MV")
  }
}
