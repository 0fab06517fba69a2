package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** The exactly-once-effect contract of the streaming upsert sink: normal
  * batches advance per-key state, a REPLAYED batch (foreachBatch's
  * at-least-once redelivery after a crash) is a no-op even with poisoned
  * content, and a restart from the same checkpoint applies only new
  * files on top of the committed state. */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Long) = new Timestamp(m * 60000L)

  private def state(table: String): Map[Long, (Long, Double)] = {
    // the stream's foreachBatch runs in a CLONED session; its
    // refreshTable clears the clone's relation cache, not this one's
    spark.catalog.refreshTable(table)
    spark.table(table).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
      .toMap
  }

  test("upsert sink: latest-per-user state, replay no-op, checkpointed restart") {
    val table = "graft_upsert_test"
    // drop catalog entries AND leftover warehouse dirs (a previous JVM's
    // files without catalog metadata wedge saveAsTable on
    // LOCATION_ALREADY_EXISTS — the Warehouse.clearLeftover concern)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    for (t <- Seq(table, table + "_commits")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (dir.exists) rm(dir)
    }
    val dir = Files.createTempDirectory("graft-upsert-src-").toString
    val ckpt = Files.createTempDirectory("graft-upsert-ck-").toString

    def runToCompletion(): Unit = {
      val events = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
        .parquet(dir)
      val q = UpsertSink.upsertStream(events, table, ckpt, Trigger.AvailableNow())
      assert(q.awaitTermination(180000), "AvailableNow upsert did not terminate")
    }

    // phase 1: two users; user 1 has two events — latest must win
    Seq((1L, ts(10), 1L, 5.0), (2L, ts(20), 1L, 7.0), (3L, ts(5), 2L, 3.0))
      .toDF("event_id", "ts", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    runToCompletion()
    assert(state(table) === Map(1L -> (2L, 7.0), 2L -> (3L, 3.0)),
      "latest-per-user after the first run")

    // simulate foreachBatch redelivery: re-apply an already-committed id
    // with DIFFERENT (poisoned) content — the marker must reject it
    val committed = VersionedTable.committedBatch(spark, table)
    assert(committed >= 0L)
    val poison = Seq((99L, ts(99), 1L, -1.0)).toDF("event_id", "ts", "user_id", "value")
    UpsertSink.applyBatch(spark, table, poison, batchId = committed)
    assert(state(table) === Map(1L -> (2L, 7.0), 2L -> (3L, 3.0)),
      "replayed batch id must be skipped")

    // phase 2: append a file (newer event for user 1, stale for user 2,
    // fresh user 3) and restart from the SAME checkpoint
    Seq((4L, ts(30), 1L, 9.0), (5L, ts(1), 2L, 99.0), (6L, ts(40), 3L, 1.5))
      .toDF("event_id", "ts", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    runToCompletion()
    assert(state(table) ===
      Map(1L -> (4L, 9.0), 2L -> (3L, 3.0), 3L -> (6L, 1.5)),
      "restart applies only the new file; stale event does not regress state")
    assert(VersionedTable.committedBatch(spark, table) > committed,
      "restart advanced the committed marker")
  }
}
