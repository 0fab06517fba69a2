package graft.engine

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerSpeculativeTaskSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** M1 — speculative re-execution (SURVEY.md §2.2), the reference's
  * straggler defense: a task that runs far beyond its siblings gets a
  * second copy sent to another worker, first result wins, the loser's
  * output is discarded (TaskManagerImpl.java:275-316 re-send with a fresh
  * dest dir; 333-337 first-wins commit).
  *
  * Spark implements the identical protocol behind `spark.speculation`.
  * This spec proves both halves on a real job:
  *
  *   1. DETECTION: with speculation on, one deliberately slow task among
  *      fast siblings is flagged — `onSpeculativeTaskSubmitted` fires
  *      (the exact point where a cluster would launch the second copy).
  *   2. EXACTLY-ONCE COMMIT: whatever the scheduler does with the copies,
  *      the committed output holds each row exactly once — the commit
  *      protocol (FileOutputCommitter / first-commit-wins, same contract
  *      as O6) arbitrates racing attempts.
  *
  * Two local-mode caveats, handled explicitly:
  *   - local mode never STARTS the speculation poll timer
  *     (TaskSchedulerImpl.start guards it on !isLocal), so the spec
  *     drives the identical check via
  *     [[org.apache.spark.scheduler.SpeculationProbe]] while the job runs
  *     — the detection logic exercised is Spark's own
  *     checkSpeculatableTasks, untouched.
  *   - the LAUNCH of the duplicate copy cannot happen on the host that
  *     already runs the original (dequeueSpeculativeTask's
  *     !hasAttemptOnHost guard) and local[n] is one host; on any
  *     multi-host cluster the flagged task launches elsewhere with no
  *     further configuration. The sleep below keys on attemptNumber so
  *     the test stays correct under either behavior: if a copy does
  *     launch it finishes instantly and wins, and the row-set assertion
  *     still must hold.
  *
  * Speculation is a SparkConf/scheduler-level setting, so this suite
  * builds its own SparkContext (suites run sequentially in the forked
  * test JVM; the shared SparkSpec session is rebuilt on demand by
  * getOrCreate afterwards).
  */
class SpeculationSpec extends AnyFunSuite {

  test("M1: straggler is flagged for speculation; committed output stays exactly-once") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val spark = graft.GraftSession.start("local[4]",
      "spark.app.name" -> "SpeculationSpec",
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "50ms",
      "spark.speculation.multiplier" -> "1.2",
      "spark.speculation.quantile" -> "0.5")
    try {
      import spark.implicits._
      val flagged = new AtomicInteger(0)
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onSpeculativeTaskSubmitted(
            e: SparkListenerSpeculativeTaskSubmitted): Unit =
          flagged.incrementAndGet()
      })

      val n = 4000
      val out = Files.createTempDirectory("graft-spec-").resolve("dest").toString
      val job = scala.concurrent.Future {
        spark.range(n).repartition(4)
          .mapPartitions { it =>
            val tc = TaskContext.get()
            // one straggler among fast siblings; only the ORIGINAL attempt
            // is slow, so a speculative copy (if launched) wins instantly
            if (tc.partitionId() == 3 && tc.attemptNumber() == 0)
              Thread.sleep(3000)
            it
          }
          .write.mode("overwrite").parquet(out)
      }(scala.concurrent.ExecutionContext.global)
      // stand in for the poll timer local mode doesn't start: run Spark's
      // own speculatable-task check every 100 ms while the job runs
      val deadline = System.nanoTime() + 30e9.toLong
      while (!job.isCompleted && System.nanoTime() < deadline) {
        org.apache.spark.scheduler.SpeculationProbe.check(spark.sparkContext)
        Thread.sleep(100)
      }
      scala.concurrent.Await.result(job, scala.concurrent.duration.Duration(60, "s"))

      // listener delivery is async — poll briefly so a queued
      // SpeculativeTaskSubmitted event can land before the assert
      val flagDeadline = System.nanoTime() + 5e9.toLong
      while (flagged.get() < 1 && System.nanoTime() < flagDeadline) Thread.sleep(50)
      assert(flagged.get() >= 1,
        "speculation never flagged the straggler — detection half unproven")
      val rows = spark.read.parquet(out).as[Long].collect().sorted
      assert(rows.length === n, s"expected exactly $n rows, got ${rows.length}")
      assert(rows.toSeq === (0L until n.toLong), "row set corrupted by speculation")
    } finally graft.GraftSession.stop(spark)
  }
}
