package graft.sources

import graft.SparkSpec
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Cross-JVM warehouse artifact reuse ([[Warehouse.ensureVia]]'s
  * `srcDir` fingerprint): a fingerprint-matching leftover directory is
  * re-registered instead of re-built, the re-registered table keeps its
  * physical layout (bucket spec / recovered partitions), and any change
  * to the source data invalidates the marker. The "other JVM" is
  * simulated by saving the table files aside, dropping the catalog entry
  * (which, for a managed table, deletes the files), and restoring the
  * files — exactly the state a fresh JVM sees over a shared warehouse
  * dir. The build-lock cases fork a real second JVM ([[WarehouseLockFork]],
  * no Spark) that takes or probes the lock through the library's own
  * [[Warehouse.withFileLock]]. */
class WarehouseSpec extends SparkSpec {

  private def warehouseDir: java.io.File = new java.io.File(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  /** Drop `name` from the catalog while PRESERVING its files — the state
    * a new JVM finds: files on disk, no metadata. */
  private def dropKeepingFiles(name: String): Unit = {
    val dir = new java.io.File(warehouseDir, name)
    val aside = new java.io.File(warehouseDir, name + "__aside")
    if (aside.exists()) Warehouse.rm(aside)
    java.nio.file.Files.move(dir.toPath, aside.toPath)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    if (dir.exists()) Warehouse.rm(dir)
    java.nio.file.Files.move(aside.toPath, dir.toPath)
  }

  /** `<name>._graft_lock`. This JVM only hands the path to forks and
    * never opens the file itself: closing a second descriptor on it
    * would drop a lock this JVM holds. */
  private def lockPath(name: String): java.io.File =
    new java.io.File(warehouseDir, name.toLowerCase + "._graft_lock")

  /** A plain JVM running [[WarehouseLockFork]] `mode` on `lock`. */
  private def fork(mode: String, lock: java.io.File): Process =
    new ProcessBuilder(
      new java.io.File(System.getProperty("java.home"), "bin/java").getPath,
      "-Xmx64m", "-XX:TieredStopAtLevel=1",
      "-cp", System.getProperty("java.class.path"),
      WarehouseLockFork.getClass.getName.stripSuffix("$"), mode, lock.getPath)
      .redirectErrorStream(true).start()

  /** The first status word the fork prints (EOF if it exits without one). */
  private def status(p: Process): String = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    Await.result(Future(Iterator.continually(in.readLine()).takeWhile(_ != null)
      .find(Set("HELD", "BLOCKED", "ACQUIRED")).getOrElse("EOF")), 60.seconds)
  }

  private def stop(p: Process): Unit = { p.destroyForcibly(); p.waitFor() }

  /** One foreign `tryLock` attempt on `lock`: BLOCKED or ACQUIRED. */
  private def probe(lock: java.io.File): String = {
    val p = fork("probe", lock)
    try status(p) finally stop(p)
  }

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[java.io.File]
  private val madeTables = scala.collection.mutable.ListBuffer.empty[String]

  private def freshSrcDir(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_wh_$tag").toFile
    tempDirs += d
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .write.mode("overwrite").parquet(new java.io.File(d, "t.parquet").toString)
    d
  }

  override def afterAll(): Unit = {
    // the random temp path is embedded in each table name, so a leaked
    // table dir would never be reused by a later run — drop both the
    // catalog entries (managed data included) and any external leftovers,
    // plus the temp source dirs
    for (t <- madeTables) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(warehouseDir, t.toLowerCase)
      if (dir.exists()) Warehouse.rm(dir)
      lockPath(t).delete()
    }
    tempDirs.foreach(Warehouse.rm)
    super.afterAll()
  }

  test("bucketed table is re-registered from files with its bucket spec intact") {
    val src = freshSrcDir("bucket")
    val name = Warehouse.tableName("graft_spec_reuse_b", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensure(spark, name, "id", 4, src.toString) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
    }
    build()
    assert(builds === 1)
    val rows = spark.table(name).orderBy("id").collect().map(_.getString(1)).toSeq

    dropKeepingFiles(name)
    build()
    assert(builds === 1, "fingerprint match must re-register, not re-build")
    assert(spark.table(name).orderBy("id").collect().map(_.getString(1)).toSeq === rows)
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
    assert(meta.bucketSpec.exists(b =>
      b.numBuckets == 4 && b.bucketColumnNames == Seq("id")),
      s"bucket spec lost on reuse: ${meta.bucketSpec}")
  }

  test("partitioned table reuse recovers partitions and still partition-prunes") {
    val src = freshSrcDir("part")
    val name = Warehouse.tableName("graft_spec_reuse_p", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensurePartitioned(spark, name, "k", src.toString) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
    }
    build()
    dropKeepingFiles(name)
    build()
    assert(builds === 1)
    assert(spark.sql(s"SHOW PARTITIONS $name").count() === 2)
    assert(spark.table(name).filter(col("k") === "a").count() === 2)
    // the probe plan prunes to the one matching partition directory
    val scan = spark.table(name).filter(col("k") === "a")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("k"), scan)
  }

  test("changed source data invalidates the marker and forces a re-build") {
    val src = freshSrcDir("inval")
    val name = Warehouse.tableName("graft_spec_reuse_i", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensureVia(spark, name, src.toString) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    build()
    dropKeepingFiles(name)
    // new data under the source dir → different fingerprint
    import spark.implicits._
    Seq((9L, "z")).toDF("id", "k")
      .write.mode("overwrite").parquet(new java.io.File(src, "t.parquet").toString)
    build()
    assert(builds === 2, "stale marker must not serve a table built from old data")
    assert(spark.table(name).count() === 1)
  }

  test("a truncated marker (missing partcols) is rejected — rebuild, not a NULL-column registration") {
    // markers are published by atomic rename, but a marker written by an
    // older build could be missing keys; registering a PARTITIONED
    // layout without its PARTITIONED BY would read the
    // directory-encoded column as NULLs — the reuse path must reject
    // and rebuild instead
    val src = freshSrcDir("trunc")
    val name = Warehouse.tableName("graft_spec_reuse_t", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensurePartitioned(spark, name, "k", src.toString) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
    }
    build()
    dropKeepingFiles(name)
    // corrupt the marker: drop the partcols line (keep fp + ddl intact)
    val metaF = new java.io.File(new java.io.File(warehouseDir, name.toLowerCase), "_graft_meta")
    val kept = scala.io.Source.fromFile(metaF, "UTF-8").getLines()
      .filterNot(_.startsWith("partcols")).mkString("\n")
    java.nio.file.Files.writeString(metaF.toPath, kept)
    build()
    assert(builds === 2, "a truncated marker must force a rebuild")
    assert(spark.table(name).filter(col("k").isNull).count() === 0,
      "re-registered table read the partition column as NULLs")
    assert(spark.table(name).filter(col("k") === "a").count() === 2)
  }

  test("codeFingerprint covers jar classpaths and refuses unknown provenance") {
    def mkJar(tag: String, entry: String, bytes: Int): java.io.File = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_wh_jar_$tag").toFile
      tempDirs += d
      val f = new java.io.File(d, s"$tag.jar")
      val out = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
      try {
        out.putNextEntry(new java.util.zip.ZipEntry(entry))
        out.write(Array.fill[Byte](bytes)(7))
        out.closeEntry()
      } finally out.close()
      f
    }
    // note: no "graft/" DIRECTORY entry is written — detection must work
    // from the class entry alone (shaded jars omit directory entries)
    val graftJar = mkJar("withgraft", "graft/Dummy.class", 64)
    val otherJar = mkJar("nograft", "other/Dummy.class", 64)
    val fp1 = Warehouse.codeFingerprintOf(graftJar.getPath)
    assert(fp1.isDefined, "a graft-bearing jar must fingerprint")
    assert(Warehouse.codeFingerprintOf(otherJar.getPath).isEmpty,
      "a classpath with no graft-bearing entry is unknown provenance -> None (reuse refused)")
    assert(Warehouse.codeFingerprintOf("").isEmpty)
    // a swapped jar (different size => different artifact) must change it
    val graftJar2 = mkJar("withgraft2", "graft/Dummy.class", 128)
    // same path string length irrelevant — compare via a classpath that
    // only swaps which jar sits at the front
    val sep = java.io.File.pathSeparator
    val a = Warehouse.codeFingerprintOf(graftJar.getPath + sep + otherJar.getPath)
    val b = Warehouse.codeFingerprintOf(graftJar2.getPath + sep + otherJar.getPath)
    assert(a.isDefined && b.isDefined && a != b,
      "a different jar artifact must produce a different code fingerprint")
  }

  test("a concurrent ensure cannot clear a mid-build table dir (build lock)") {
    val src = freshSrcDir("race")
    val name = Warehouse.tableName("graft_spec_reuse_r", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensureVia(spark, name, src.toString) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    build()
    assert(builds === 1)
    dropKeepingFiles(name)
    val tblDir = new java.io.File(warehouseDir, name.toLowerCase)
    val metaF = new java.io.File(tblDir, "_graft_meta")
    val metaAside = new java.io.File(tblDir.getParentFile, name.toLowerCase + "__meta_aside")
    // ANOTHER JVM mid-build: it holds the lock, its table dir has files
    // but no marker yet (the exact state r12's clearLeftover would have
    // deleted from under it)
    java.nio.file.Files.move(metaF.toPath, metaAside.toPath)
    val holder = fork("hold", lockPath(name))
    try {
      assert(status(holder) === "HELD")
      val dataFiles = tblDir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.nonEmpty)
      val waiter = Future(build())
      Thread.sleep(800)
      assert(!waiter.isCompleted, "ensure must wait on the holder's lock")
      assert(dataFiles.forall(_.exists()),
        "a waiting ensure deleted the lock holder's mid-build files")
      // the holder finishes: marker published, lock released
      java.nio.file.Files.move(metaAside.toPath, metaF.toPath)
      holder.getOutputStream.close()
      assert(holder.waitFor(60, TimeUnit.SECONDS))
      Await.result(waiter, 30.seconds)
      assert(builds === 1, "the waiter must adopt the holder's published files, not rebuild")
      assert(spark.table(name).count() === 3)
    } finally stop(holder)
  }

  test("a forked holder JVM killed mid-build releases the lock at once") {
    val src = freshSrcDir("killed")
    val name = Warehouse.tableName("graft_spec_reuse_k", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val holder = fork("hold", lockPath(name))
    try {
      assert(status(holder) === "HELD")
      // the holder's torn output: a data file and no marker
      val tblDir = new java.io.File(warehouseDir, name.toLowerCase)
      tblDir.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(tblDir, "part-00000-torn.parquet").toPath, "torn")
      @volatile var buildStart = 0L
      var builds = 0
      val waiter = Future(Warehouse.ensureVia(spark, name, src.toString) {
        buildStart = System.nanoTime()
        builds += 1
        spark.read.parquet(new java.io.File(src, "t.parquet").toString)
          .write.saveAsTable(name)
      })
      Thread.sleep(800)
      assert(!waiter.isCompleted && builds === 0, "ensure must wait on the live holder's lock")
      val killedAt = System.nanoTime()
      holder.destroyForcibly()
      Await.result(waiter, 60.seconds)
      assert(builds === 1)
      val waitedMs = (buildStart - killedAt) / 1e6
      assert(waitedMs < 2000, s"the build started ${waitedMs}ms after the holder died")
      assert(spark.table(name).count() === 3, "the killed holder's torn file survived the build")
    } finally stop(holder)
  }

  test("a slow in-JVM build holds the lock until done (forked probe)") {
    val src = freshSrcDir("slow")
    val name = Warehouse.tableName("graft_spec_reuse_slow", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    var builds = 0
    val holder = Future(Warehouse.ensureVia(spark, name, src.toString) {
      builds += 1
      started.countDown()
      finish.await(60, TimeUnit.SECONDS) // as slow as the probe needs
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    })
    try {
      assert(started.await(60, TimeUnit.SECONDS))
      assert(probe(lockPath(name)) === "BLOCKED", "another JVM took the lock mid-build")
    } finally finish.countDown()
    Await.result(holder, 60.seconds)
    assert(builds === 1)
    assert(probe(lockPath(name)) === "ACQUIRED", "the lock outlived the build")
    assert(spark.table(name).count() === 3)
  }

  test("a nested lock on the same name fails loudly; the outer stays held") {
    val name = "graft_spec_nested_lock"
    madeTables += name
    val outer = Future(Warehouse.withTableLock(spark, name) {
      val ex = intercept[IllegalStateException](Warehouse.withTableLock(spark, name)(()))
      (ex.getMessage, probe(lockPath(name)))
    })
    val (msg, probed) = Await.result(outer, 60.seconds)
    assert(msg.contains(name + "._graft_lock") && msg.contains("already held"), msg)
    assert(probed === "BLOCKED", "the failed nested attempt released the outer lock")
    assert(probe(lockPath(name)) === "ACQUIRED")
  }

  test("source rewritten under a LIVE JVM invalidates the registered artifact (exists-path revalidation)") {
    val src = freshSrcDir("livechg")
    val name = Warehouse.tableName("graft_spec_reuse_lc", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensureVia(spark, name, src.toString) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    build()
    assert(builds === 1)
    // NO catalog drop: the table stays registered while the source dir
    // is rewritten under the live JVM
    import spark.implicits._
    Seq((7L, "q"), (8L, "q")).toDF("id", "k")
      .write.mode("overwrite").parquet(new java.io.File(src, "t.parquet").toString)
    build()
    assert(builds === 2, "the exists fast-path served a stale artifact after a source rewrite")
    assert(spark.table(name).count() === 2)
    // and an UNCHANGED source keeps the fast path (no third build)
    build()
    assert(builds === 2)
  }

  test("a leftover directory WITHOUT a marker is cleared and re-built (old behavior)") {
    val src = freshSrcDir("nomark")
    val name = Warehouse.tableName("graft_spec_reuse_n", src.toString)
    madeTables += name
    spark.sql(s"DROP TABLE IF EXISTS $name")
    var builds = 0
    def build(): Unit = Warehouse.ensureVia(spark, name, src.toString) {
      builds += 1
      spark.read.parquet(new java.io.File(src, "t.parquet").toString)
        .write.saveAsTable(name)
    }
    build()
    // a leftover with no marker: a build killed before its publish, or
    // one from code whose provenance was unknown
    assert(new java.io.File(new java.io.File(warehouseDir, name), "_graft_meta").delete())
    dropKeepingFiles(name)
    build()
    assert(builds === 2)
    assert(spark.table(name).count() === 3)
  }
}

/** The foreign JVM of the build-lock cases: `hold <lock>` takes the lock,
  * prints HELD and keeps it until stdin closes (or the process is
  * killed); `probe <lock>` makes one attempt and prints BLOCKED or
  * ACQUIRED. */
object WarehouseLockFork {
  def main(args: Array[String]): Unit = {
    val lock = new java.io.File(args(1))
    val word = args(0) match {
      case "hold" => Warehouse.withFileLock(lock, () => None) {
        println("HELD")
        System.out.flush()
        while (System.in.read() != -1) {}
        "RELEASED"
      }
      case "probe" => Warehouse.withFileLock(lock, () => Some("BLOCKED"))("ACQUIRED")
    }
    println(word)
    System.out.flush()
  }
}
