package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, built by [[GraftSession]] like
  * every main's: 4 cores, so 4 shuffle partitions — tiny fixtures don't
  * schedule 200 tasks. A suite reuses the live session an earlier suite
  * started: calling `start` again would re-apply confs a running session
  * cannot take, and Spark would warn about it once per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // maxFailures=4 → retry semantics testable
  lazy val spark: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse(GraftSession.start("local[4, 4]", "spark.app.name" -> getClass.getSimpleName))

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }

  def sfDir: String = "/root/testdata/sf0.001"

  /** `body`'s result and the call site (result-stage name, e.g. `count at
    * Dedup.scala:123`) of every Spark job it started, in start order. The
    * listener bus is asynchronous, so a marked sentinel job runs after
    * `body`: once the listener sees it, every earlier start has arrived. */
  def jobsStartedBy[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val marker = "graft.spec.sentinel"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null)
          sentinelSeen.countDown()
        else sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the sentinel job")
      (r, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Drop a versioned-snapshot table family (state, marker log, version
    * snapshots) from the catalog AND the warehouse dir, lock files
    * included — shared by every VersionedTable-consumer spec so a
    * previous run's files can't leak into this one. */
  def freshVersionedTables(name: String, maxVersion: Int = 40): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    val root = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    for (t <- Seq(name, name + "_commits") ++ (0 to maxVersion).map(name + "_v" + _)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(root, t)
      if (dir.exists) rm(dir)
      new java.io.File(root, t + "._graft_lock").delete()
    }
  }
}
