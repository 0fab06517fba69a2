package graft.streaming

import graft.SparkSpec

/** The shared snapshot-commit module's retention/time-travel contract:
  * `retain` bounds on-disk snapshots, [[VersionedTable.versionAt]] reads
  * any retained version and refuses retired or uncommitted ones, and the
  * marker log keeps the full commit history. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTables(name: String): Unit = freshVersionedTables(name, 10)

  test("retention window: retain=2 keeps two readable versions, retires older, markers stay") {
    val table = "graft_vt_retention_spec"
    freshTables(table)
    // running-total state: version v<b> = committed total + batch value
    def commit(b: Long, v: Long): Boolean =
      VersionedTable.applyBatch(spark, table, b, retain = 2) { base =>
        val prev = base.map(_.collect().head.getLong(0)).getOrElse(0L)
        Seq(prev + v).toDF("total").localCheckpoint()
      }
    assert(commit(0L, 10L) && commit(1L, 5L) && commit(2L, 7L))

    def read(b: Long): Option[Long] =
      VersionedTable.versionAt(spark, table, b).map(_.collect().head.getLong(0))
    // current == newest; both retained versions time-travel correctly
    assert(VersionedTable.current(spark, table).get.collect().head.getLong(0) === 22L)
    assert(read(2L) === Some(22L))
    assert(read(1L) === Some(15L))
    // v0 is past the window: data retired, read refused
    assert(read(0L) === None)
    assert(!spark.catalog.tableExists(table + "_v0"), "retired version's data not reclaimed")
    // the marker log keeps ALL commits — history stays auditable
    assert(VersionedTable.committedBatches(spark, table) === Seq(0L, 1L, 2L))

    // an orphan version (written, never committed — the crash window) is
    // not readable: versionAt is marker-gated
    VersionedTable.writeVersion(spark, table, 9L, Seq(999L).toDF("total"))
    assert(read(9L) === None, "uncommitted orphan version was readable")

    // replay of a committed id is a no-op and does not disturb retention
    assert(!commit(2L, 1000L))
    assert(read(2L) === Some(22L) && read(1L) === Some(15L))

    // a version write runs under the marker-table lock alone: it leaves
    // no lock file of its own and is not accounted as an artifact build
    import scala.jdk.CollectionConverters._
    val versionLock = (table + "_v\\d+\\._graft_lock").r
    val root = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val versionLocks = root.list().filter(versionLock.matches)
    assert(versionLocks.isEmpty, s"per-version lock files: ${versionLocks.toSeq}")
    val versionBuilds =
      graft.sources.Warehouse.buildSeconds.keySet.asScala.filter(_.startsWith(table + "_v"))
    assert(versionBuilds.isEmpty, s"version writes counted as builds: ${versionBuilds.toSeq}")
  }

  test("a crash orphan does not occupy a retention slot: committed snapshots keep their window") {
    // an uncommitted orphan (version written, marker never advanced) is
    // never readable, so counting it against `retain` would retire a
    // committed snapshot early — the retire step must drop orphans
    // unconditionally and take the window over the COMMITTED subset only
    val table = "graft_vt_orphan_spec"
    freshTables(table)
    def commit(b: Long, v: Long): Boolean =
      VersionedTable.applyBatch(spark, table, b, retain = 2) { base =>
        val prev = base.map(_.collect().head.getLong(0)).getOrElse(0L)
        Seq(prev + v).toDF("total").localCheckpoint()
      }
    assert(commit(0L, 10L) && commit(1L, 5L))
    // crash window: v3 written, marker never advanced
    VersionedTable.writeVersion(spark, table, 3L, Seq(999L).toDF("total"))
    assert(commit(4L, 7L))
    def read(b: Long): Option[Long] =
      VersionedTable.versionAt(spark, table, b).map(_.collect().head.getLong(0))
    // retain=2 over COMMITTED versions: v1 and v4 both stay readable
    // (the orphan must not have pushed v1 out of the window)...
    assert(read(4L) === Some(22L))
    assert(read(1L) === Some(15L), "orphan consumed a retention slot — committed v1 retired early")
    // ...the orphan's data is reclaimed, and v0 retired normally
    assert(!spark.catalog.tableExists(table + "_v3"), "crash orphan's data must be reclaimed")
    assert(read(0L) === None && !spark.catalog.tableExists(table + "_v0"))
  }

  test("manifest consumer under retain=2: previous manifest time-travels while commits advance") {
    // the forward-plan e2e shrunk to its essence: the corpus-build
    // manifest consumer committing with a retention window — after each
    // commit, the PREVIOUS manifest snapshot must still read exactly as
    // it was (an auditor comparing yesterday's corpus against today's),
    // while snapshots past the window are retired
    import spark.implicits._
    val table = "graft_vt_manifest_tt_spec"
    freshVersionedTables(table)
    val docMeta = Seq((1L, "web"), (2L, "web"), (3L, "books"))
      .toDF("doc_id", "source")
    def batch(rows: (String, String)*) = rows.toDF("key", "value")
    def manifestAt(b: Long): Option[Seq[(String, Long, Long)]] =
      VersionedTable.versionAt(spark, table, b).map(
        _.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    CorpusBuildSink.applyManifestBatch(
      spark, table, docMeta, batch(("1", "one two")), 0L, retain = 2)
    CorpusBuildSink.applyManifestBatch(
      spark, table, docMeta, batch(("2", "three"), ("3", "four five six")), 1L, retain = 2)
    // yesterday's manifest reads exactly as committed
    assert(manifestAt(0L) === Some(Seq(("web", 1L, 2L))))
    assert(manifestAt(1L) === Some(Seq(("books", 1L, 3L), ("web", 2L, 3L))))
    CorpusBuildSink.applyManifestBatch(
      spark, table, docMeta, batch(("2", "ignored dup key count")), 2L, retain = 2)
    // window slid: v0 retired, v1 still time-travels, v2 is current
    assert(manifestAt(0L) === None)
    assert(manifestAt(1L) === Some(Seq(("books", 1L, 3L), ("web", 2L, 3L))))
    assert(manifestAt(2L) === Some(Seq(("books", 1L, 3L), ("web", 3L, 7L))))
  }

  test("reader holding a version WHILE the writer retires it: full snapshot or loud failure, never partial") {
    // The untested window from the r11 retention work: a reader resolves
    // versionAt(v) and HOLDS the frame while applyBatch commits enough
    // batches to retire v past the retention window. The contract this
    // spec pins: the held frame either still yields the EXACT snapshot
    // it named (something materialized it in time) or throws loudly —
    // it must never silently return an empty or partial result from the
    // half-retired directory. And versionAt itself, asked again after
    // retirement, must refuse with None rather than hand out a frame
    // over deleted files.
    val table = "graft_vt_concurrent_tt_spec"
    freshTables(table)
    def commit(b: Long, v: Long): Boolean =
      VersionedTable.applyBatch(spark, table, b, retain = 2) { base =>
        val prev = base.map(_.collect().head.getLong(0)).getOrElse(0L)
        Seq(prev + v).toDF("total").localCheckpoint()
      }
    assert(commit(0L, 10L) && commit(1L, 5L))

    // reader resolves v1 and holds the (lazy) frame across the writer's
    // next commits; v1 is retired when batch 3 lands (retain=2 → {2,3})
    val held = VersionedTable.versionAt(spark, table, 1L)
      .getOrElse(fail("v1 must be readable while retained"))
    assert(commit(2L, 7L) && commit(3L, 1L))
    assert(!spark.catalog.tableExists(table + "_v1"), "v1 should be retired")

    scala.util.Try(held.collect()) match {
      case scala.util.Success(rows) =>
        // a cached/materialized read must be the full named snapshot
        assert(rows.map(_.getLong(0)).toSeq === Seq(15L),
          s"held reader saw a partial/foreign snapshot: ${rows.toSeq}")
      case scala.util.Failure(_) => // loud failure: acceptable by contract
    }
    // re-resolving after retirement refuses — never a half-retired dir
    assert(VersionedTable.versionAt(spark, table, 1L) === None)
    // the still-retained window reads exactly
    def read(b: Long): Option[Long] =
      VersionedTable.versionAt(spark, table, b).map(_.collect().head.getLong(0))
    assert(read(2L) === Some(22L) && read(3L) === Some(23L))
  }

  test("two interleaved writers serialize: the later batch merges on top of the earlier commit") {
    // without the commit lock, writer B (batch 1) — starting while writer
    // A (batch 0) is still merging — would read the SAME committed base
    // (none), and the final state would silently drop A's contribution;
    // under the lock B waits, re-reads, and builds on A's commit
    val table = "graft_vt_writers_spec"
    freshTables(table)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def commit(b: Long, v: Long, slowMs: Long): Future[Boolean] = Future {
      VersionedTable.applyBatch(spark, table, b) { base =>
        Thread.sleep(slowMs) // hold the merge open so the writers overlap
        val prev = base.map(_.collect().head.getLong(0)).getOrElse(0L)
        Seq(prev + v).toDF("total").localCheckpoint()
      }
    }
    val a = commit(0L, 10L, 1500L)
    Thread.sleep(400) // B arrives while A's merge is demonstrably open
    val b = commit(1L, 5L, 0L)
    assert(Await.result(a, 60.seconds) && Await.result(b, 60.seconds))
    // both contributions present: B merged from A's committed 10, not
    // from the empty base both observed at arrival time
    assert(VersionedTable.current(spark, table).get.collect().head.getLong(0) === 15L)
    assert(VersionedTable.committedBatches(spark, table) === Seq(0L, 1L))
    // and the commit lock is released (a third writer proceeds at once)
    assert(Await.result(commit(2L, 1L, 0L), 60.seconds))
    assert(VersionedTable.current(spark, table).get.collect().head.getLong(0) === 16L)
  }

  test("commit state invisible to this JVM's catalog fails loudly, never forks history") {
    // a fresh JVM (simulated: marker table dropped from the catalog,
    // files restored on disk) must refuse to merge from an empty base
    // over another process's commits — silent restart would fork history
    val table = "graft_vt_foreign_spec"
    freshTables(table)
    def commit(b: Long, v: Long): Boolean =
      VersionedTable.applyBatch(spark, table, b) { base =>
        val prev = base.map(_.collect().head.getLong(0)).getOrElse(0L)
        Seq(prev + v).toDF("total").localCheckpoint()
      }
    assert(commit(0L, 10L))
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def rmRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rmRec)
      f.delete()
    }
    val mDir = new java.io.File(wh, (table + "_commits").toLowerCase)
    val aside = new java.io.File(wh, table.toLowerCase + "__commits_aside")
    java.nio.file.Files.move(mDir.toPath, aside.toPath)
    spark.sql(s"DROP TABLE IF EXISTS ${table}_commits") // managed drop nukes dir...
    if (mDir.exists()) rmRec(mDir)
    java.nio.file.Files.move(aside.toPath, mDir.toPath) // ...files restored: the foreign-JVM state
    val ex = intercept[IllegalStateException] { commit(1L, 5L) }
    assert(ex.getMessage.contains("commit state on disk"))
    rmRec(mDir) // cleanup (catalog no longer owns it)
  }
}
