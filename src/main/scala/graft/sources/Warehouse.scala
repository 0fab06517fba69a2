package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once persisted index tables (the "nightly index job" half of an
  * incremental pipeline). Tables are managed, bucketed and sorted by their
  * probe key, so the daily probe query reads them exchange-free and never
  * recomputes the corpus-side derivation.
  *
  * The local harness uses the default in-memory catalog, so table METADATA
  * lives per-JVM while files persist in the warehouse dir. Callers that
  * pass `reuseFrom = Some(srcDir)` opt into CROSS-JVM artifact reuse: a
  * successful build drops a `_graft_meta` marker (schema + layout + a
  * fingerprint of the source data files AND the compiled library classes)
  * next to the table files, and a later JVM finding a marker whose
  * fingerprint still matches RE-REGISTERS the existing files as an
  * external table instead of re-running the fit — the "paid once per
  * warehouse" story made true across processes. Either new data (the
  * driver regenerates testdata; MakeScale rewrites replica dirs) or new
  * code (any recompile) changes the fingerprint and forces a rebuild, so
  * a stale index can never serve a query silently. Only immutable
  * post-build artifacts may opt in — a table the pipeline later mutates
  * (e.g. a spec's forget-target) must keep the default rebuild path.
  * A real deployment points the same code at a persistent metastore and
  * runs the build step on its own schedule; this marker is the
  * in-memory-catalog stand-in for that metastore.
  *
  * Concurrency: two JVMs ensuring the same MISSING table are serialized
  * by a per-table build lock (an OS file lock on `<name>._graft_lock` in
  * the warehouse root, which the kernel releases when the holder dies —
  * see [[ensureVia]]): only the lock holder may clear leftovers and
  * write, and a waiter re-checks the reuse marker each poll tick so it
  * adopts the holder's finished files instead of rebuilding. The marker
  * itself is written only after a complete build, so a half-built table
  * can never be re-registered.
  */
object Warehouse {

  /** Catalog-safe table name scoped to a data directory. */
  def tableName(prefix: String, dir: String): String =
    prefix + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  private[graft] def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  private def tableDir(s: SparkSession, name: String): java.io.File = {
    val warehouse = new java.io.File(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    new java.io.File(warehouse, name.toLowerCase)
  }

  /** On-disk location of a managed table, whether or not this JVM's
    * catalog knows it — [[graft.streaming.VersionedTable]] probes it to
    * detect foreign or crash-leaked commit state that the in-memory
    * catalog cannot see. */
  private[graft] def managedTableDir(s: SparkSession, name: String): java.io.File =
    tableDir(s, name)

  private def clearLeftover(s: SparkSession, name: String): Unit = {
    // a previous JVM's files without catalog metadata would wedge
    // saveAsTable on "location already exists"
    val leftover = tableDir(s, name)
    if (leftover.exists()) rm(leftover)
  }

  // ------------------------------------------------ cross-JVM reuse marker

  private val MetaFile = "_graft_meta" // "_" prefix: invisible to scans

  /** (relpath, size, mtime) of every file under `root`, sorted — a
    * metadata-only directory fingerprint input (no data is read). */
  private def listMeta(root: java.io.File, prefix: String = ""): Seq[String] =
    if (!root.exists()) Seq.empty
    else if (root.isFile) Seq(s"$prefix${root.getName}:${root.length}:${root.lastModified}")
    else Option(root.listFiles()).getOrElse(Array.empty).sortBy(_.getName).toSeq
      .flatMap(f => listMeta(f, s"$prefix${root.getName}/"))

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Sorted (name, size, crc) lines for a jar's graft-relevant entries,
    * or empty when the jar carries no graft classes. CONTENT-derived on
    * purpose: sbt's background runner repackages the project into a jar
    * at a FRESH path+mtime on every `run`, so a (path, size, mtime) jar
    * fingerprint would invalidate reuse on every invocation of identical
    * code — the central-directory CRCs change exactly when class bytes
    * change and never otherwise. META-INF/ is excluded (manifests may
    * embed packaging noise); reading the central directory touches no
    * entry data. Matches CLASS entries, not just the `graft/` directory
    * entry, so shaded jars without directory entries are still covered. */
  private def jarGraftMeta(p: String): Seq[String] =
    try {
      val z = new java.util.zip.ZipFile(p)
      try {
        val es = z.entries()
        val b = Seq.newBuilder[String]
        var hasGraft = false
        while (es.hasMoreElements) {
          val e = es.nextElement()
          if (!e.getName.startsWith("META-INF/")) {
            if (e.getName.startsWith("graft/")) hasGraft = true
            b += s"${e.getName}:${e.getSize}:${e.getCrc}"
          }
        }
        if (hasGraft) b.result().sorted else Seq.empty
      } finally z.close()
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Fingerprint of the compiled library code on `classpath` — any
    * recompile (classes-dir mtimes, jar entry CRCs) changes it, so
    * artifacts built by older code are never reused (the
    * build closure's constants are code, not data). Hashes EVERY
    * graft-bearing classpath entry, not just the first: a forked test
    * JVM lists test-classes before classes, and taking only the first
    * would make main-library recompiles invisible to the fingerprint.
    * Jar-shipped deployments (spark-submit assembly, sbt's per-run
    * background-job repackaging) are covered by the jar branch, which
    * hashes entry CONTENT metadata (name/size/crc — see [[jarGraftMeta]])
    * so an identical-code repackage reuses and any recompile invalidates;
    * when NO graft-bearing entry is found the provenance of
    * the running code is unknown and the result is None — callers must
    * then refuse reuse entirely (never write or accept markers) rather
    * than degrade to a constant that would let artifacts built by
    * arbitrary other code be re-registered silently. */
  private[sources] def codeFingerprintOf(classpath: String): Option[String] = {
    val entries = classpath.split(java.io.File.pathSeparator).filter(_.nonEmpty)
    val dirs = entries.filter(p => new java.io.File(p, "graft").isDirectory)
    val jarMetas = entries
      .filter(p => p.toLowerCase(java.util.Locale.ROOT).endsWith(".jar") &&
        new java.io.File(p).isFile)
      .map(jarGraftMeta)
      .filter(_.nonEmpty)
    if (dirs.isEmpty && jarMetas.isEmpty) None
    else Some(md5((
      dirs.sorted.map(p => listMeta(new java.io.File(p)).mkString("\n")) ++
        jarMetas.sortBy(_.headOption.getOrElse(""))
          .map(m => "jar:" + m.mkString("\n"))).mkString("\u0000")))
  }

  private lazy val codeFingerprint: Option[String] =
    codeFingerprintOf(System.getProperty("java.class.path", ""))

  /** Fingerprint of everything a stored artifact derives from: the
    * source data directory's file metadata plus [[codeFingerprint]].
    * None when the running code's provenance is unknown (no
    * graft-bearing classpath entry) — reuse is then refused, see
    * [[codeFingerprintOf]]. Metadata-only by design ((relpath, size, mtime) — no data read), so
    * a byte-different source swapped in with identical file sizes AND
    * preserved timestamps (cp -p of a same-shape snapshot) is out of
    * scope, the same contract as rsync-style quick checks; the harness's
    * generators and MakeScale always write fresh mtimes. Recomputed per
    * ensure call ON PURPOSE (a dozen stat calls on these source dirs):
    * memoizing per JVM would blind a long-lived process to a source dir
    * rewritten under it — the expensive walk (the compiled classes tree)
    * is the lazy val above. */
  private def srcFingerprint(dir: String): Option[String] =
    codeFingerprint.map(cf => md5((listMeta(new java.io.File(dir)) :+ cf).mkString("\n")))

  /** Record a just-built table's schema + layout + input fingerprint so a
    * later JVM can re-register the files instead of re-fitting. Layout is
    * read back from the CATALOG (not from the ensure variant), so custom
    * ensureVia writes are captured faithfully. */
  private def writeMeta(s: SparkSession, name: String, fp: String): Unit = {
    val dir = tableDir(s, name)
    if (!dir.isDirectory) return // location overridden — no reuse contract
    val cat = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
    val p = new java.util.Properties()
    p.setProperty("fp", fp)
    p.setProperty("ddl", cat.schema.toDDL)
    p.setProperty("partcols", cat.partitionColumnNames.mkString(","))
    cat.bucketSpec.foreach { b =>
      p.setProperty("bucketn", b.numBuckets.toString)
      p.setProperty("bucketcols", b.bucketColumnNames.mkString(","))
      p.setProperty("sortcols", b.sortColumnNames.mkString(","))
    }
    // atomic publish: a crash mid-write must leave NO readable marker
    // (Properties stores keys in hash order, so a truncated file could
    // otherwise parse with a key silently missing)
    val tmp = new java.io.File(dir, MetaFile + ".tmp")
    val out = new java.io.FileOutputStream(tmp)
    try p.store(out, "graft warehouse reuse marker")
    finally out.close()
    java.nio.file.Files.move(
      tmp.toPath, new java.io.File(dir, MetaFile).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The marker file's Properties, None when absent — ONE parser for the
    * adoption path ([[reregister]]) and the exists-path revalidation
    * ([[markerFpMismatch]]), so the two can never disagree on how a
    * marker is read. */
  private def readMarkerProps(dir: java.io.File): Option[java.util.Properties] = {
    val metaF = new java.io.File(dir, MetaFile)
    if (!metaF.isFile) None
    else {
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(metaF)
      try p.load(in)
      finally in.close()
      Some(p)
    }
  }

  /** Try to re-register leftover files as `name` (external table over the
    * existing location). True only when a complete marker exists AND its
    * fingerprint matches the current source data + code. */
  private def reregister(s: SparkSession, name: String, fp: String): Boolean = {
    val dir = tableDir(s, name)
    val p = readMarkerProps(dir) match {
      case None => return false
      case Some(props) => props
    }
    if (p.getProperty("fp") != fp) return false
    val ddl = p.getProperty("ddl")
    if (ddl == null || ddl.isEmpty) return false
    // partcols is ALWAYS written (possibly empty) — a null here means a
    // truncated marker, and registering a partitioned layout without its
    // PARTITIONED BY would read the directory-encoded column as NULLs
    val partRaw = p.getProperty("partcols")
    if (partRaw == null) return false
    val partCols = Some(partRaw).filter(_.nonEmpty)
    val bucketed = Option(p.getProperty("bucketn")).map { n =>
      val cols = p.getProperty("bucketcols")
      val sorts = Option(p.getProperty("sortcols")).filter(_.nonEmpty)
        .map(c => s" SORTED BY ($c)").getOrElse("")
      s" CLUSTERED BY ($cols)$sorts INTO $n BUCKETS"
    }.getOrElse("")
    val partitioned = partCols.map(c => s" PARTITIONED BY ($c)").getOrElse("")
    s.sql(s"CREATE TABLE $name ($ddl) USING parquet$partitioned$bucketed " +
      s"LOCATION '${dir.toURI}'")
    if (partCols.isDefined) s.sql(s"ALTER TABLE $name RECOVER PARTITIONS")
    println(s"[warehouse] reuse $name (cross-JVM, fingerprint match)")
    true
  }

  // ------------------------------------------------ cross-JVM build lock

  /** Wall-clock seconds of each artifact build this JVM actually RAN
    * (cache misses only — reuse/adoption records nothing). The bench
    * drains this to report one-off index-build cost separately from
    * per-query time; it is accounting only, never consulted by the
    * reuse protocol. */
  val buildSeconds = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** The build lock for `name` lives NEXT TO the table dir (inside the
    * warehouse root, not inside the table dir — saveAsTable requires the
    * table location to not pre-exist, and clearLeftover deletes it). */
  private def lockFile(s: SparkSession, name: String): java.io.File = {
    val warehouse = new java.io.File(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    warehouse.mkdirs()
    new java.io.File(warehouse, name.toLowerCase + "._graft_lock")
  }

  /** Per-table in-JVM monitors: two threads ensuring the SAME table
    * serialize, while an ensure blocked on another JVM's file lock must
    * not stall unrelated tables (a streaming sink's per-micro-batch
    * commit lock would otherwise queue behind a foreign JVM's index
    * build for the full poll wait). */
  private val nameMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Canonical paths of the lock files this JVM holds right now — the
    * guard that turns a nested acquisition into an error (see
    * [[withFileLock]]). */
  private val heldLocks = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Shared miss-path for every ensure variant: existence check, then —
    * when the caller opted into reuse and a fingerprint-matching marker
    * is present — re-registration of the previous JVM's files; otherwise
    * stale leftover-directory cleanup and the caller's write (which must
    * end in `saveAsTable(name)`), both under a cross-JVM build lock.
    *
    * The lock closes the two-writer race the r12 marker protocol left
    * open: without it, JVM B's clearLeftover could delete JVM A's
    * MID-BUILD table directory. Only the JVM holding the OS lock on
    * `<name>._graft_lock` may clear-and-write; a concurrent ensure polls,
    * re-checking the reuse marker each tick, so when the holder
    * publishes, the waiter re-registers the finished files instead of
    * ever having had a window to delete them. The kernel releases a
    * holder's lock the moment its process dies, so a crashed build
    * stalls the next ensure by at most one poll tick, and a live build —
    * however slow or paused — never loses its lock. Within one JVM a
    * per-table monitor covers the same critical section without
    * serializing unrelated tables.
    *
    * Staleness of a REGISTERED table (r14): when the table already
    * exists in this JVM's catalog AND the caller opted into reuse, the
    * stored marker fingerprint is revalidated against a fresh source
    * fingerprint — a long-lived JVM whose source dir is rewritten under
    * it drops the catalog entry and rebuilds instead of serving a stale
    * artifact (previously the exists fast-path defeated srcFingerprint's
    * per-ensure recomputation). Tables built WITHOUT reuseFrom keep the
    * plain exists fast-path: they are in-JVM, possibly mutable (forget
    * targets), and carry no marker contract. */
  def ensureVia(s: SparkSession, name: String, reuseFrom: Option[String] = None)(
      write: => Unit): Unit = {
    // flatMap: an unknown code provenance (no graft-bearing classpath
    // entry) yields None — no marker is accepted or written (see
    // codeFingerprintOf), never a constant fingerprint
    lazy val fp = reuseFrom.flatMap(srcFingerprint)
    // registered AND (under a reuse contract) still deriving from the
    // current source — the fast path. Read-only: the mismatch DROP runs
    // only under the file lock (a pre-lock drop of a managed table
    // deletes its directory, which a foreign lock holder may be
    // mid-writing).
    def existsFresh(): Boolean = s.catalog.tableExists(name) &&
      (fp.isEmpty || !markerFpMismatch(s, name, fp.get))
    def adopt(): Boolean = !s.catalog.tableExists(name) &&
      fp.isDefined && tableDir(s, name).isDirectory && reregister(s, name, fp.get)
    locked[Unit](s, name)(
      preLock = () => if (existsFresh() || adopt()) Some(()) else None,
      onWaitTick = () => if (adopt()) Some(()) else None) {
      // re-check under the lock: the prior holder may have published a
      // marker between our pre-lock probe and the acquisition (or, for a
      // second in-JVM thread, rebuilt the table). refreshTable: if a
      // foreign holder rebuilt the FILES under our still-registered
      // location while we waited, cached file listings are stale
      if (existsFresh()) s.catalog.refreshTable(name)
      else if (adopt()) ()
      else {
        if (s.catalog.tableExists(name)) {
          // source rewritten under a live JVM: the registered artifact no
          // longer derives from the data on disk — drop (managed: files
          // go too; external: clearLeftover below removes them), safely
          // OURS to delete because we hold the build lock
          println(s"[warehouse] source changed under live JVM - rebuild $name")
          s.sql(s"DROP TABLE $name")
        }
        clearLeftover(s, name)
        val t0 = System.nanoTime()
        write
        buildSeconds.put(name, (System.nanoTime() - t0) / 1e9)
        // published only after a complete build: a half-built table never
        // carries a marker, so it can never be re-registered
        fp.foreach { f =>
          println(s"[warehouse] build $name")
          writeMeta(s, name, f)
        }
      }
    }
  }

  /** Cross-JVM mutual exclusion on `name` — the bare locking primitive
    * behind [[ensureVia]] (in-JVM per-table monitor + OS file lock),
    * exposed for multi-step warehouse protocols that need more than a
    * single table build held consistent: [[graft.streaming.VersionedTable]]
    * wraps its whole read-merge-commit-retire sequence so two writers
    * serialize instead of both merging from the same base and silently
    * dropping one batch's contribution. Not reentrant: nesting the same
    * name throws an IllegalStateException (the outer lock stays held);
    * nested DIFFERENT names are fine when every caller nests in the same
    * order. */
  def withTableLock[A](s: SparkSession, name: String)(body: => A): A =
    locked[A](s, name)(() => None, () => None)(body)

  /** The shared lock protocol: under `name`'s in-JVM monitor, first try
    * `preLock` (fast path, no lock-file I/O); then run `body` under the
    * cross-JVM file lock, running `onWaitTick` on each poll tick while
    * another JVM holds it (ensureVia adopts a holder's published marker
    * there). */
  private def locked[A](s: SparkSession, name: String)(
      preLock: () => Option[A], onWaitTick: () => Option[A])(body: => A): A =
    nameMonitors.computeIfAbsent(name.toLowerCase, _ => new Object) synchronized {
      preLock().getOrElse(withFileLock(lockFile(s, name), onWaitTick)(body))
    }

  /** Run `body` holding an exclusive OS lock (`FileChannel.tryLock`, an
    * fcntl lock on POSIX) on `lock`, polling every 100ms while another
    * process holds it; a `Some` from `onWaitTick` ends the wait without
    * acquiring. File locks are per-process, so two rules keep them sound:
    *   - the lock file is never deleted: a waiter already holding the old
    *     inode open would lock it while a third process locks a fresh
    *     file at the same path;
    *   - this JVM opens the lock file only here, once per hold: closing
    *     ANY second descriptor on the file drops the process's lock while
    *     `FileLock.isValid` still reports it held. A nested acquisition
    *     of a held path therefore fails before it opens anything. */
  private[sources] def withFileLock[A](lock: java.io.File, onWaitTick: () => Option[A])(
      body: => A): A = {
    val path = lock.getCanonicalPath
    if (!heldLocks.add(path)) throw new IllegalStateException(
      s"warehouse lock $path is already held by this JVM: nested acquisition " +
        "of the same name would wait on itself forever")
    try {
      val ch = java.nio.channels.FileChannel.open(lock.toPath,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      // closing the channel releases the lock
      try {
        var held = ch.tryLock() != null
        var early: Option[A] = None
        while (!held && early.isEmpty) {
          Thread.sleep(100)
          early = onWaitTick()
          if (early.isEmpty) held = ch.tryLock() != null
        }
        early.getOrElse(body)
      } finally ch.close()
    } finally heldLocks.remove(path)
  }

  /** True when `name`'s stored reuse marker exists AND records a
    * fingerprint other than `fresh` — i.e. the registered table no
    * longer matches the source data + code it claims to derive from.
    * A missing marker is NOT a mismatch (location-overridden builds
    * write none; the table is then in-JVM contract only). */
  private def markerFpMismatch(s: SparkSession, name: String, fresh: String): Boolean =
    readMarkerProps(tableDir(s, name)).exists(_.getProperty("fp") != fresh)

  /** Create `name` as a bucketed managed table if this JVM's catalog does
    * not have it yet; `build` runs only on a miss. */
  def ensure(
      s: SparkSession, name: String, bucketCol: String, nBuckets: Int = 8,
      reuseFrom: Option[String] = None)(
      build: => DataFrame): Unit = ensureVia(s, name, reuseFrom) {
    build.write.bucketBy(nBuckets, bucketCol).sortBy(bucketCol).saveAsTable(name)
  }

  /** Create `name` as a DIRECTORY-PARTITIONED managed table (one
    * directory per `partitionCol` value) if missing. The right layout
    * when probes filter on the column directly: `col IN (...)` prunes at
    * plan time as a PartitionFilter — unlike bucket pruning, which Spark
    * silently disables when no operator exploits the bucketing. */
  def ensurePartitioned(
      s: SparkSession, name: String, partitionCol: String,
      reuseFrom: Option[String] = None)(
      build: => DataFrame): Unit = ensureVia(s, name, reuseFrom) {
    build.write.partitionBy(partitionCol).saveAsTable(name)
  }

  /** The ensure-then-read pattern every persisted-derivation site shares:
    * derive the dir-scoped table name, build it (bucketed, cross-JVM
    * reusable) on a miss, and hand back the stored table. ONE definition
    * so a change to the reuse contract is a single-site edit. */
  def ensureAndRead(
      s: SparkSession, prefix: String, dir: String, bucketCol: String,
      nBuckets: Int = 8)(build: => DataFrame): DataFrame = {
    val t = tableName(prefix, dir)
    ensure(s, t, bucketCol, nBuckets, reuseFrom = Some(dir))(build)
    s.table(t)
  }
}
