package graft.operators

import graft.{Q, Tables}
import graft.sources.Warehouse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table/statistics MAINTENANCE operators — the jobs that keep a 100 TB
  * corpus queryable between ingests:
  *
  *   1. incremental aggregate maintenance — corpus-level stats kept as a
  *      PERSISTED table of algebraic partial states (count/sum/min/max —
  *      the monoid, not the answer); a new batch contributes only its own
  *      partials and a key-cardinality-sized merge. Daily cost ∝ batch,
  *      never ∝ corpus — the materialized-view-maintenance analogue of
  *      [[Dedup.qDedupIncremental]]'s persisted shingle index.
  *   2. small-file compaction — rewrite a fragmented table under a
  *      file-count/size governance knob without changing a single row
  *      (the oracle reads the ORIGINAL table; hash equality is the
  *      losslessness proof).
  *
  * Reference scope: the reference engine re-reads its full input per run
  * (`mr-bins/map/map.cpp:15-23` streams every split from scratch each
  * batch); these operators are the incremental/maintenance layer a Spark
  * deployment adds so reprocessing never happens at corpus scale.
  */
object Maintenance {

  private def toks(c: Column): Column = graft.functions.NativeExprs.tokens(c)

  /** The corpus/batch slice rule — THE [[Dedup.isNewBatch]] definition
    * (doc_id % 5 == 4 is "today's batch"), referenced rather than
    * re-declared so the two incremental pipelines cannot drift on what
    * "new" means. */
  private def isNewBatch(c: Column): Column = Dedup.isNewBatch(c)

  /** Per-(source, lang) algebraic partial states over a document slice.
    * Every column is mergeable by sum (n_docs, sum_*) or by min/max —
    * the invariant that makes stored partials + batch partials equal a
    * full recompute. */
  private def partials(docs: DataFrame): DataFrame =
    docs
      .select(
        col("source"), col("lang"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        col("n_chars"))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        sum("n_chars").as("sum_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))

  /** Build-once persisted corpus partials (the nightly stats job). */
  private[operators] def ensureStatsPartials(s: SparkSession, d: String): String = {
    val t = Warehouse.tableName("graft_stats_part", d)
    Warehouse.ensure(s, t, "source", nBuckets = 4, srcDir = d) {
      partials(Tables.documents(s, d).filter(!isNewBatch(col("doc_id"))))
    }
    t
  }

  /** Incremental corpus stats: STORED corpus partials merged with the new
    * batch's partials; the result is row-identical to a full recompute
    * over corpus+batch (the DuckDB oracle does exactly that). The only
    * documents scan in this query is batch-sliced — plan-guarded in
    * PlanShapeSpec. The merge input is key-cardinality-sized (sources ×
    * langs), so at 100 TB the daily job reads the batch plus a few
    * hundred stored rows. `avg_tokens_micro` is derived at read time
    * from the merged states in exact integer micros (an avg kept as a
    * state would not merge). */
  def qStatsIncremental(s: SparkSession, d: String): DataFrame = {
    val stored = s.table(ensureStatsPartials(s, d))
    val batch = partials(Tables.documents(s, d).filter(isNewBatch(col("doc_id"))))
    stored
      .unionByName(batch)
      .groupBy("source", "lang")
      .agg(
        sum("n_docs").as("n_docs"),
        sum("sum_tokens").as("sum_tokens"),
        sum("sum_chars").as("sum_chars"),
        min("min_chars").as("min_chars"),
        max("max_chars").as("max_chars"))
      .withColumn("avg_tokens_micro", expr("sum_tokens * 1000000L div n_docs"))
      .orderBy("source", "lang")
  }

  private val qStatsIncrementalSql = {
    val t = TextOps.tokensSql
    s"""SELECT source, lang, count(*) AS n_docs,
       |  sum(len($t))::BIGINT AS sum_tokens,
       |  sum(n_chars)::BIGINT AS sum_chars,
       |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       |  (sum(len($t))::BIGINT * 1000000 // count(*)) AS avg_tokens_micro
       |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin
  }

  /** A deliberately fragmented copy of `documents` (64 files) — the
    * "thousand tiny ingest files" state every streaming sink produces. */
  private[operators] def ensureFragmented(s: SparkSession, d: String): String = {
    val t = Warehouse.tableName("graft_frag", d)
    Warehouse.ensure(s, t, "doc_id", nBuckets = 1, srcDir = d) {
      Tables.documents(s, d).repartition(64)
    }
    t
  }

  /** Compacted rewrite of the fragmented table: doc_id-range-partitioned
    * into a bounded file count, rows sorted within files so min/max
    * footer stats make the layout range-prunable. `maxRecordsPerFile` is
    * the governance knob — at 100 TB the same writer yields
    * ceil(rows/maxRecords) files per range partition regardless of how
    * fragmented the input was. */
  private[operators] def ensureCompacted(s: SparkSession, d: String): String = {
    val t = Warehouse.tableName("graft_compact", d)
    val frag = ensureFragmented(s, d)
    Warehouse.ensureVia(s, t, srcDir = d) {
      s.table(frag)
        .repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write
        .option("maxRecordsPerFile", 100000)
        .saveAsTable(t)
    }
    t
  }

  /** Read back the compacted table in full. The oracle reads the ORIGINAL
    * documents parquet — hash equality proves the fragment → compact
    * round-trip changed nothing, row for row, column for column. */
  def qCompacted(s: SparkSession, d: String): DataFrame =
    s.table(ensureCompacted(s, d))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")

  private val qCompactedSql =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Morton (z-order) value of two keys' low 16 bits, as ONE formula
    * string instantiated for both engines — Spark spells integer
    * division `div`, DuckDB spells it `//`; everything else (`%`, `*`,
    * `+`) is shared, so the oracle literally runs the same arithmetic.
    * Bit i of x lands at output bit 2i+1, bit i of y at 2i:
    * interleaved keys close in BOTH dimensions get close z-values,
    * which is what makes a z-sorted layout prunable for 2-D box
    * predicates. Bits above 15 are ignored (the div/mod terms never
    * read them) — at 100 TB you first quantile-bucket each dimension
    * into 2^16 ranks, then z-order the ranks. */
  private[operators] def zFormula(x: String, y: String, div: String): String =
    (0 until 16).map { i =>
      s"(($x $div ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
        s"(($y $div ${1L << i}) % 2) * ${1L << (2 * i)}"
    }.mkString("(", " + ", ")")

  /** Z-order clustering key over (l_partkey, l_suppkey) — the layout
    * rewrite that makes 2-D box scans skip files by footer min/max
    * (measured in ExtrasSpec: the same box query intersects a fraction
    * of the z-sorted files vs ALL orderkey-sorted ones). The query
    * surfaces the z-value itself plus the top of the z-sorted order so
    * the oracle pins the full clustering arithmetic end-to-end. */
  def qZorderCluster(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        expr(zFormula("l_partkey", "l_suppkey", "div")).as("zval"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .limit(20000)

  private val qZorderClusterSql =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  ${zFormula("l_partkey", "l_suppkey", "//")} AS zval
       |FROM lineitem
       |ORDER BY zval, l_orderkey, l_linenumber LIMIT 20000""".stripMargin

  /** DISTRIBUTED exact ntile: global rank under a fully-tiebroken sort
    * order via range repartitioning (each partition's keys precede the
    * next's, so global rank = per-partition row_number + the broadcast
    * offset of the partitions before it — the classic two-phase rank,
    * every window PARTITIONED), then Spark/DuckDB ntile arithmetic
    * (first `N mod n` buckets get the extra row) applied to the rank as
    * a plain expression. No single-partition window anywhere; the
    * per-partition size pull is one row per partition. */
  private def distributedNtile(
      df: org.apache.spark.sql.DataFrame,
      n: Int,
      sortCols: Seq[Column],
      out: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 2)
    // persist (NOT localCheckpoint): the range partitioning feeds BOTH the
    // size count and the rank pass, and RangePartitioner's boundary
    // sampling is not reproducible across separate exchanges — both
    // consumers must share ONE assignment. persist gives that (cache hits
    // resolve to the same InMemoryRelation, whose single exchange carries
    // one partitioner instance) AND survives executor loss: a lost block
    // recomputes through the same plan with the same fixed boundaries,
    // where localCheckpoint's lineage truncation would make any executor
    // loss fatal to the query (blocks live only on executors). The size
    // count below doubles as the eager materialization. No
    // sortWithinPartitions here: the rank window sorts its partition
    // anyway, and the size count doesn't need order.
    // Cache lifecycle (CALLER-OWNED, cf. incrementalEdges): the cache
    // backs the RETURNED lazy frame — the rank pass reads it when the
    // caller materializes — so it cannot be unpersisted here. Verify/
    // Bench clearCache() per query; a library caller embedding this in a
    // longer session releases it the same way (repeat calls re-resolve
    // to the same canonicalized InMemoryRelation, so storage does not
    // accumulate across calls).
    val ranged = df
      .repartitionByRange(parts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = ranged.groupBy("__pid").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = sizes.map(_._2).sum
    val offsets = sizes.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) => (pid, acc + c) }
      .init.map(_._2).zip(sizes.map(_._1)).map { case (off, pid) => (pid, off) }.toMap
    val offCol = sizes.map(_._1).foldLeft(lit(0L)) { (acc, pid) =>
      when(col("__pid") === pid, lit(offsets(pid))).otherwise(acc)
    }
    val rn = row_number().over(
      Window.partitionBy("__pid").orderBy(sortCols: _*)).cast("long") + offCol
    // ntile(n) over N rows: bucketSize = N div n, the first N mod n
    // buckets carry one extra row (both engines' definition)
    val bucketSize = total / n
    val rem = total % n
    val threshold = rem * (bucketSize + 1)
    // integer division via floor(double): exact while rank < 2^53 —
    // nine orders of magnitude above the 100 TB row count
    def idiv(a: Column, b: Long): Column = floor(a / lit(b.toDouble)).cast("long")
    val bucket =
      when(lit(bucketSize) === 0L, rn) // N < n: every row its own bucket
        .when(rn <= threshold, idiv(rn - 1L, bucketSize + 1L) + 1L)
        .otherwise(lit(rem) + idiv(rn - 1L - lit(threshold), math.max(bucketSize, 1L)) + 1L)
    ranged.withColumn(out, (bucket - 1L).cast("bigint")).drop("__pid")
  }

  /** The domain-agnostic z-order variant: continuous/unbounded
    * dimensions (price, quantity) are first reduced to dense 0..255
    * RANKS by exact ntile — the "quantile-bucket each dimension" step
    * [[zFormula]]'s scaladoc prescribes for keys that don't fit 16
    * bits — then interleaved. ntile is deterministic here because the
    * sort order carries a full tiebreak (value, orderkey, linenumber),
    * and both engines define ntile identically (first buckets get the
    * remainder). Emits the top of the z-sorted order like
    * [[qZorderCluster]]. The ranks come from [[distributedNtile]]'s
    * two-phase global rank — range-partitioned sort + broadcast
    * offsets — so no dimension ever collapses to a single-partition
    * window (the earlier formulation's one concession to local-mode
    * convenience; at 100 TB a sampled-cut-point ntile would trade
    * exactness for one fewer pass, but the exact form is itself
    * partition-parallel now). */
  def qZorderRanked(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_quantity"))
    // the two rank passes CHAIN over the same physical rows (the second
    // pass's input carries price_rank along) — a key join would pair
    // ranks combinatorially, because (l_orderkey, l_linenumber) is not
    // unique in this generator's lineitem
    val withP = distributedNtile(
      base, 256,
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      "price_rank")
    distributedNtile(
      withP, 256,
      Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber")),
      "qty_rank")
      .withColumn("zval", expr(zFormula("price_rank", "qty_rank", "div")))
      .select("l_orderkey", "l_linenumber", "price_rank", "qty_rank", "zval")
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .limit(10000)
  }

  private val qZorderRankedSql =
    s"""SELECT l_orderkey, l_linenumber, price_rank, qty_rank,
       |  ${zFormula("price_rank", "qty_rank", "//")} AS zval
       |FROM (
       |  SELECT l_orderkey, l_linenumber,
       |    ntile(256) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS price_rank,
       |    ntile(256) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber) - 1 AS qty_rank
       |  FROM lineitem)
       |ORDER BY zval, l_orderkey, l_linenumber LIMIT 10000""".stripMargin

  /** Anti-entropy table checksum: per doc_id-bucket row count plus the
    * BIT_XOR of a 56-bit integer digest of each full row. XOR is
    * commutative, associative and self-inverse, so the aggregate is
    * independent of partition count, merge order and row order, needs
    * constant state per bucket, and flips if any single row changes —
    * the audit primitive for comparing two replicas/snapshots of a
    * 100 TB table with ONE scan each and 2^k result rows; a mismatched
    * bucket pinpoints the doc_id slice to resync. The digest rides
    * conv(hex,16,10) on Spark and '0x'-cast on DuckDB over the SAME
    * md5 prefix of the SAME '|'-joined row text, so the oracle
    * recomputes it bit-for-bit. (A SUM digest would order-independently
    * overflow; XOR cannot.) */
  def qTableChecksum(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        (col("doc_id") % 16).as("bucket"),
        graft.functions.PortableHash
          .md5PrefixLong(
            concat_ws("|", col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text")),
            14)
          .as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
      .orderBy("bucket")

  private val qTableChecksumSql = {
    val digest = graft.functions.PortableHash.md5PrefixLongSql(
      "doc_id || '|' || lang || '|' || source || '|' || n_chars || '|' || text", 14)
    s"""SELECT doc_id % 16 AS bucket, count(*) AS n_rows,
       |  bit_xor($digest) AS checksum
       |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** MERGE INTO-style upsert (SCD type 1): apply a delta batch to the
    * customer dimension — matched keys take the delta's values, unmatched
    * delta keys insert, untouched target rows carry over — expressed as
    * ONE full-outer join on the merge key with coalesce(delta, target)
    * per column, which is exactly the shuffle MERGE compiles to in
    * lakehouse engines. The deterministic delta derives from the
    * dimension itself: keys ≡0 (mod 7) get a 100.00 balance credit
    * (update arm), keys ≡0 (mod 11) re-land under −key−1 in the MERGED
    * segment (insert arm — −k−1 maps the key space k ≥ 0 onto strictly
    * negative values, disjoint at ANY scale and injective including
    * k = 0, where a fixed +10⁷ offset would collide with real keys once
    * custkey outgrows it). At 100 TB the join is one shuffle keyed on
    * the merge key (or exchange-free on a target bucketed by it), cost
    * ∝ target ∪ delta — never a second pass; the `op` column is the
    * merge provenance a writer would use to split copy-unchanged from
    * rewrite. Money rides exact cents (asScaled) end to end. The oracle
    * is the independent algebraic form: delta rows plus target rows
    * anti-joined against the update keys. */
  def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableRound.asScaled
    val target = Tables.customer(s, d).select(
      col("c_custkey"), col("c_nationkey"),
      asScaled(col("c_acctbal"), 2).as("bal_cents"), col("c_mktsegment"))
    val updates = target
      .filter(col("c_custkey") % 7 === 0)
      .select(
        col("c_custkey"), col("c_nationkey"),
        (col("bal_cents") + 10000L).as("bal_cents"), col("c_mktsegment"))
    val inserts = target
      .filter(col("c_custkey") % 11 === 0)
      .select(
        (-col("c_custkey") - 1).as("c_custkey"), col("c_nationkey"),
        col("bal_cents"), lit("MERGED").as("c_mktsegment"))
    val delta = updates.unionByName(inserts)
    target.as("t")
      .join(delta.as("u"), Seq("c_custkey"), "full_outer")
      .select(
        col("c_custkey"),
        coalesce(col("u.c_nationkey"), col("t.c_nationkey")).as("c_nationkey"),
        coalesce(col("u.bal_cents"), col("t.bal_cents")).as("bal_cents"),
        coalesce(col("u.c_mktsegment"), col("t.c_mktsegment")).as("c_mktsegment"),
        when(col("t.c_custkey").isNull, "insert")
          .when(col("u.c_custkey").isNull, "keep")
          .otherwise("update").as("op"))
      .orderBy("c_custkey")
  }

  private val qMergeUpsertSql = {
    import graft.functions.PortableRound.{asScaledSql => cents}
    s"""WITH target AS (
       |  SELECT c_custkey, c_nationkey, ${cents("c_acctbal", 2)} AS bal_cents, c_mktsegment
       |  FROM customer),
       |updates AS (
       |  SELECT c_custkey, c_nationkey, bal_cents + 10000 AS bal_cents, c_mktsegment
       |  FROM target WHERE c_custkey % 7 = 0),
       |inserts AS (
       |  SELECT -c_custkey - 1 AS c_custkey, c_nationkey, bal_cents,
       |         'MERGED' AS c_mktsegment
       |  FROM target WHERE c_custkey % 11 = 0)
       |SELECT c_custkey, c_nationkey, bal_cents::BIGINT AS bal_cents, c_mktsegment,
       |       'update' AS op FROM updates
       |UNION ALL
       |SELECT c_custkey, c_nationkey, bal_cents::BIGINT, c_mktsegment, 'insert' FROM inserts
       |UNION ALL
       |SELECT t.c_custkey, t.c_nationkey, t.bal_cents::BIGINT, t.c_mktsegment, 'keep'
       |FROM target t WHERE t.c_custkey % 7 <> 0
       |ORDER BY c_custkey""".stripMargin
  }

  /** The SCD-2 change log: three deterministic delta batches over the
    * customer dimension (keys ≡0 mod 7/5/3 get balance credits of
    * 100/200/300 in batches 1/2/3), preceded by the batch-0 initial
    * load. One definition for the Spark build and (inlined arithmetic)
    * the SQL twin. */
  private val Scd2Deltas = Seq((1, 7, 10000L), (2, 5, 20000L), (3, 3, 30000L))

  /** SCD type-2 history build: turn the change log into versioned rows
    * with [valid_from, valid_to) batch intervals and an is_current flag
    * — the warehouse-dimension shape MERGE-with-history produces. The
    * cumulative balance is a running sum over each key's changes
    * (windowed by batch order), valid_to is the NEXT change's batch
    * (lead), and the whole build is two window functions over one
    * shuffle keyed on the dimension key — at 100 TB the change log is
    * the union of stored batch files and the same plan holds. All
    * compared columns are exact integers/booleans. */
  def qScd2History(s: SparkSession, d: String): DataFrame =
    scd2History(s, d).orderBy("c_custkey", "version")

  /** The history build proper (unordered) — shared by the gate card above
    * and the point-in-time join below. */
  private[operators] def scd2History(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableRound.asScaled
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), asScaled(col("c_acctbal"), 2).as("delta_cents"))
      .withColumn("batch_id", lit(0L))
    val changes = Scd2Deltas.map { case (b, m, add) =>
      base
        .filter(col("c_custkey") % m === 0)
        .select(col("c_custkey"), lit(add).as("delta_cents"), lit(b.toLong).as("batch_id"))
    }
    val log = changes.foldLeft(base)(_ unionByName _)
    val w = Window.partitionBy("c_custkey").orderBy("batch_id")
    log
      .withColumn("bal_cents", sum("delta_cents").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead("batch_id", 1).over(w))
      .select(
        col("c_custkey"), col("version"),
        col("batch_id").as("valid_from"),
        coalesce(col("valid_to"), lit(Long.MaxValue)).as("valid_to"),
        col("bal_cents"),
        col("valid_to").isNull.as("is_current"))
  }

  /** The SCD2 history as a DuckDB CTE chain ending in `h` (c_custkey,
    * version, valid_from, valid_to, bal_cents, is_current) — ONE
    * rendering shared by the history card and the PIT join twin. */
  private val scd2HistorySqlCtes = {
    import graft.functions.PortableRound.{asScaledSql => cents}
    val arms = Scd2Deltas
      .map { case (b, m, add) =>
        s"SELECT c_custkey, $add AS delta_cents, $b AS batch_id FROM customer WHERE c_custkey % $m = 0"
      }
      .mkString("\n  UNION ALL ")
    s"""log AS (
       |  SELECT c_custkey, ${cents("c_acctbal", 2)} AS delta_cents, 0 AS batch_id FROM customer
       |  UNION ALL $arms),
       |hist AS (
       |  SELECT c_custkey,
       |    sum(delta_cents) OVER w AS bal_cents,
       |    row_number() OVER w AS version,
       |    batch_id AS valid_from,
       |    lead(batch_id) OVER w AS valid_to
       |  FROM log
       |  WINDOW w AS (PARTITION BY c_custkey ORDER BY batch_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |h AS (
       |  SELECT c_custkey, version::BIGINT AS version, valid_from::BIGINT AS valid_from,
       |    coalesce(valid_to, ${Long.MaxValue})::BIGINT AS valid_to,
       |    bal_cents::BIGINT AS bal_cents, valid_to IS NULL AS is_current
       |  FROM hist)""".stripMargin
  }

  private val qScd2HistorySql =
    s"""WITH $scd2HistorySqlCtes
       |SELECT * FROM h ORDER BY c_custkey, version""".stripMargin

  /** POINT-IN-TIME join — the feature-store correctness join that keeps
    * training data leakage-free: each fact joins the dimension VERSION
    * that was valid at the fact's own time (key equality + the fact's
    * as-of batch falling in [valid_from, valid_to)), never the current
    * one. The card quantifies exactly what a naive current-version join
    * would have leaked: per as-of batch, the order count, the
    * PIT-correct balance sum, the current-version sum, and their
    * difference — `leak_cents` is the future information a model trained
    * on the naive join would silently absorb. The as-of axis is the
    * SCD2 batch domain, with each order's batch derived from its key
    * (o_orderkey % 4 — deterministic, replayable).
    *
    * Scale shape: one shuffle join keyed on the DIMENSION KEY with the
    * interval predicate as residual — per key the history holds one row
    * per change (bounded by change count), and the half-open intervals
    * PARTITION the axis, so each fact matches exactly one version: no
    * fanout, count-preserving (spec-pinned). The current-version sum
    * rides the same join (is_current is just another row of the same
    * bounded per-key history), so leakage accounting costs nothing
    * extra. At 100 TB both sides bucket by the key and the join is
    * exchange-free. */
  def qPitJoin(s: SparkSession, d: String): DataFrame = {
    val facts = Tables.orders(s, d)
      .select(col("o_custkey"), (col("o_orderkey") % 4).as("pit_batch"))
    val h = scd2History(s, d)
    val pit = facts.join(
      h,
      col("o_custkey") === col("c_custkey") &&
        col("pit_batch") >= col("valid_from") && col("pit_batch") < col("valid_to"))
      .select(col("pit_batch"), col("version"), col("bal_cents"))
    val cur = facts.join(
      h.filter(col("is_current")),
      col("o_custkey") === col("c_custkey"))
      .select(col("pit_batch"), col("bal_cents").as("cur_cents"))
      .groupBy("pit_batch")
      .agg(sum("cur_cents").as("sum_current_cents"))
    pit
      .groupBy("pit_batch")
      .agg(
        count(lit(1)).as("n_orders"),
        sum("bal_cents").as("sum_pit_cents"),
        sum("version").as("version_mass"))
      .join(cur, "pit_batch")
      .withColumn("leak_cents", col("sum_current_cents") - col("sum_pit_cents"))
      .orderBy("pit_batch")
  }

  private val qPitJoinSql =
    s"""WITH $scd2HistorySqlCtes,
       |facts AS (
       |  SELECT o_custkey, o_orderkey % 4 AS pit_batch FROM orders),
       |pit AS (
       |  SELECT f.pit_batch, h.version, h.bal_cents
       |  FROM facts f JOIN h ON f.o_custkey = h.c_custkey
       |    AND f.pit_batch >= h.valid_from AND f.pit_batch < h.valid_to),
       |cur AS (
       |  SELECT f.pit_batch, sum(h.bal_cents)::BIGINT AS sum_current_cents
       |  FROM facts f JOIN h ON f.o_custkey = h.c_custkey AND h.is_current
       |  GROUP BY 1)
       |SELECT p.pit_batch, count(*)::BIGINT AS n_orders,
       |  sum(p.bal_cents)::BIGINT AS sum_pit_cents,
       |  sum(p.version)::BIGINT AS version_mass,
       |  cur.sum_current_cents,
       |  (cur.sum_current_cents - sum(p.bal_cents))::BIGINT AS leak_cents
       |FROM pit p JOIN cur ON p.pit_batch = cur.pit_batch
       |GROUP BY p.pit_batch, cur.sum_current_cents
       |ORDER BY p.pit_batch""".stripMargin

  /** Referential-integrity audit over the star schema: for each child →
    * parent foreign key, the child row count, the distinct key count,
    * and the orphan count (child keys with no parent — LEFT ANTI join;
    * a NULL child key counts as an orphan since it joins to nothing,
    * which is why the SQL twin spells the check NOT EXISTS — `fk NOT IN
    * (...)` would evaluate NULL and silently skip exactly the malformed
    * rows a bad ingest produces).
    * Each relation costs one shuffle on its key and reduces to a single
    * row, so the audit of a 100 TB fact table is one pass per FK with
    * constant output — the nightly conformance job that catches a bad
    * ingest before queries silently drop rows at join time. */
  def qFkAudit(s: SparkSession, d: String): DataFrame = {
    def arm(rel: String, child: DataFrame, fk: String, parent: DataFrame, pk: String): DataFrame = {
      val c = child.select(col(fk).as("k"))
      val counts = c.agg(
        count(lit(1)).as("n_child"),
        countDistinct(col("k")).as("n_distinct_keys"))
      val orphans = c
        .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      counts.crossJoin(orphans).select(
        lit(rel).as("relation"), col("n_child"), col("n_distinct_keys"), col("n_orphans"))
    }
    Seq(
      arm("customer->nation", Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey"),
      arm("lineitem->orders", Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey"),
      arm("lineitem->part", Tables.lineitem(s, d), "l_partkey", Tables.part(s, d), "p_partkey"),
      arm("lineitem->supplier", Tables.lineitem(s, d), "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      arm("orders->customer", Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"))
      .reduce(_ unionByName _)
      .orderBy("relation")
  }

  private val qFkAuditSql = {
    def arm(rel: String, child: String, fk: String, parent: String, pk: String): String =
      s"""SELECT '$rel' AS relation, count(*)::BIGINT AS n_child,
         |  count(DISTINCT $fk)::BIGINT AS n_distinct_keys,
         |  count(CASE WHEN NOT EXISTS (SELECT 1 FROM $parent WHERE $pk = c.$fk)
         |             THEN 1 END)::BIGINT AS n_orphans
         |FROM $child c""".stripMargin
    Seq(
      arm("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      arm("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      arm("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      arm("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      arm("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  // ------------------------------------------- join-aggregate MV maintenance

  /** Today's order-batch rule: o_orderkey ≡ 4 (mod 5). Lineitem co-slices
    * on l_orderkey — an order's lineitems carry its key, so the two fact
    * deltas land together, exactly how a real ingest delivers them (the
    * delta FILES arrive as a pair; nobody scans the corpus fact to find
    * the other half of the delta). */
  private def isNewOrderBatch(c: Column): Column = c % 5 === 4

  /** Per-(nation, order-year) partial states of the revenue MV over a
    * SLICE of the (orders ⋈ lineitem ⋈ customer ⋈ nation) join. All
    * three states merge by SUM across slices:
    *   - n_items / rev_c4 are plain sums;
    *   - n_orders is count(DISTINCT o_orderkey) WITHIN the slice, and
    *     sums across slices because the batch rule partitions BY ORDER
    *     KEY — an order (with all its lineitems) is entirely in the
    *     corpus or entirely in today's batch, never split. That is the
    *     invariant that lets a distinct count live in an incrementally
    *     maintained view at all; slicing facts by arrival file without
    *     keeping order atomicity would silently double-count.
    * rev_c4 is kept INTEGRAL (decimal(38,0) cents·(100−disc¢) sum) in
    * the stored state — merges stay exact; the double division happens
    * only at read time, on the final merged sum. */
  private def mvRevPartials(s: SparkSession, d: String, newBatch: Boolean): DataFrame = {
    import graft.functions.PortableRound.asScaled
    def slice(df: DataFrame, key: String) =
      df.filter(if (newBatch) isNewOrderBatch(col(key)) else !isNewOrderBatch(col(key)))
    slice(Tables.orders(s, d), "o_orderkey")
      .join(slice(Tables.lineitem(s, d), "l_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"),
        sum((asScaled(col("l_extendedprice"), 2) *
          (lit(100L) - asScaled(col("l_discount"), 2))).cast("decimal(38,0)"))
          .as("rev_c4"))
  }

  /** Build-once persisted MV partials over the corpus slice (the nightly
    * view-refresh job's output). */
  private[operators] def ensureMvRevenue(s: SparkSession, d: String): String = {
    val t = Warehouse.tableName("graft_mv_rev", d)
    Warehouse.ensure(s, t, "n_name", nBuckets = 4, srcDir = d) {
      mvRevPartials(s, d, newBatch = false)
    }
    t
  }

  /** INCREMENTAL JOIN-AGGREGATE VIEW MAINTENANCE — the warehouse op that
    * makes dashboards affordable at 100 TB: revenue per (nation, year)
    * over orders ⋈ lineitem ⋈ customer ⋈ nation, maintained by merging
    * the STORED corpus partials with partials computed over today's
    * order batch only. The daily job therefore joins just the delta facts
    * against the dimensions (broadcast nation, keyed customer join) and
    * touches the corpus side through a key-cardinality-sized stored table
    * — never re-running the corpus-scale fact-fact join. Row-identical to
    * a full recompute (the DuckDB oracle IS the full recompute); the only
    * orders/lineitem scans in the plan are batch-sliced (plan-guarded).
    * Contrast [[qStatsIncremental]], which maintains a single-table
    * aggregate; this is the JOIN-view version of the same monoid story —
    * see [[mvRevPartials]] for why even the distinct-count state merges. */
  def qMvIncremental(s: SparkSession, d: String): DataFrame = {
    val stored = s.table(ensureMvRevenue(s, d))
    stored
      .unionByName(mvRevPartials(s, d, newBatch = true))
      .groupBy("n_name", "o_year")
      .agg(
        sum("n_orders").as("n_orders"),
        sum("n_items").as("n_items"),
        sum("rev_c4").as("rev_c4"))
      .select(
        col("n_name"), col("o_year"), col("n_orders"), col("n_items"),
        (col("rev_c4").cast("double") / lit(10000.0)).as("revenue"))
      .orderBy("n_name", "o_year")
  }

  /** MV maintenance under DELETES — the TPC-H RF2-shaped retraction
    * path append-only maintenance lacks: retiring a batch of orders
    * (their lineitems with them) updates the stored view by SUBTRACTING
    * the batch's partials, never touching the surviving corpus. The
    * same monoid that merges partials in retracts them: every state is
    * a group (sum / count with inverses), and n_orders subtracts for
    * the same order-atomicity reason it adds ([[mvRevPartials]]).
    * Groups whose last order leaves are dropped (n_items = 0 — the
    * retraction-to-empty case a naive LEFT JOIN merge silently keeps
    * as zero rows). Here the RETIRED batch is the mod-5 slice and the
    * stored MV covers the FULL table, so the oracle is a recompute
    * over the survivors; daily cost ∝ batch, plan-guarded like the
    * insert path. */
  def qMvRetract(s: SparkSession, d: String): DataFrame = {
    val t = Warehouse.tableName("graft_mv_rev_full", d)
    Warehouse.ensure(s, t, "n_name", nBuckets = 4, srcDir = d) {
      // the nightly full-view partials this daily retraction maintains:
      // corpus + batch slices = the whole fact table, built ONCE
      mvRevPartials(s, d, newBatch = false)
        .unionByName(mvRevPartials(s, d, newBatch = true))
        .groupBy("n_name", "o_year")
        .agg(
          sum("n_orders").as("n_orders"),
          sum("n_items").as("n_items"),
          sum("rev_c4").as("rev_c4"))
    }
    mvRetractMerge(s.table(t), mvRevPartials(s, d, newBatch = true))
      .select(
        col("n_name"), col("o_year"), col("n_orders"), col("n_items"),
        (col("rev_c4").cast("double") / lit(10000.0)).as("revenue"))
      .orderBy("n_name", "o_year")
  }

  /** The retraction merge itself, seam for specs: subtract `deleted`
    * partials from `base` partials and drop groups retracted to empty
    * (at the gate SF no group empties — the planted spec covers that
    * branch). */
  private[operators] def mvRetractMerge(base: DataFrame, deleted: DataFrame): DataFrame =
    base
      .unionByName(deleted.select(
        col("n_name"), col("o_year"),
        (-col("n_orders")).as("n_orders"),
        (-col("n_items")).as("n_items"),
        (-col("rev_c4")).as("rev_c4")))
      .groupBy("n_name", "o_year")
      .agg(
        sum("n_orders").as("n_orders"),
        sum("n_items").as("n_items"),
        sum("rev_c4").as("rev_c4"))
      .filter(col("n_items") > 0)

  private val qMvRetractSql = {
    import graft.functions.PortableRound.asScaledSql
    s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  sum(${asScaledSql("l_extendedprice", 2)} *
       |      (100 - ${asScaledSql("l_discount", 2)})) / 10000.0 AS revenue
       |FROM orders
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation ON n_nationkey = c_nationkey
       |WHERE o_orderkey % 5 <> 4
       |GROUP BY 1, 2 ORDER BY n_name, o_year""".stripMargin
  }

  private val qMvIncrementalSql = {
    import graft.functions.PortableRound.asScaledSql
    s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  sum(${asScaledSql("l_extendedprice", 2)} *
       |      (100 - ${asScaledSql("l_discount", 2)})) / 10000.0 AS revenue
       |FROM orders
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation ON n_nationkey = c_nationkey
       |GROUP BY 1, 2 ORDER BY n_name, o_year""".stripMargin
  }

  // -------------------------------------------- mergeable percentile state

  /** Per-(returnflag, quantity) counts of a lineitem slice — the
    * MERGEABLE PERCENTILE STATE: a value histogram merges across slices
    * by summing counts, and any rank statistic reads off the merged
    * histogram exactly. This is the exact-percentile analogue of
    * [[qStatsIncremental]]'s min/max/sum monoid and the reason a
    * bounded-domain percentile never needs a sketch: the state is
    * |keys|×|distinct values| — a schema/domain property, not a data
    * size. */
  private def qtyHist(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("cnt"))

  private[operators] def ensureQtyHist(s: SparkSession, d: String): String = {
    val t = Warehouse.tableName("graft_hist_qty", d)
    Warehouse.ensure(s, t, "l_returnflag", nBuckets = 2, srcDir = d) {
      qtyHist(Tables.lineitem(s, d).filter(!isNewOrderBatch(col("l_orderkey"))))
    }
    t
  }

  /** INCREMENTAL EXACT PERCENTILES — the third leg of the persisted-
    * partials trilogy (algebraic stats, join-aggregate MV, now rank
    * statistics): p50/p90/p99 of lineitem quantity per returnflag,
    * computed by merging the STORED corpus value histogram with the
    * batch's histogram and reading ranks off the merged counts
    * ([[Analytics.histRankMinsFromHist]] — the same rank rule as the
    * one-shot q_percentile_hist, shared seam, cannot drift). The daily
    * job scans the batch plus a histogram-sized stored table; the
    * result is row-identical to the full recompute (the oracle). */
  def qPercentileIncremental(s: SparkSession, d: String): DataFrame = {
    val stored = s.table(ensureQtyHist(s, d))
    val merged = stored
      .unionByName(qtyHist(Tables.lineitem(s, d).filter(isNewOrderBatch(col("l_orderkey")))))
      .groupBy("l_returnflag", "l_quantity")
      .agg(sum("cnt").as("cnt"))
    Analytics
      .histRankMinsFromHist(
        merged, Seq("l_returnflag"), "l_quantity",
        Seq(("p50_qty", 1, 2), ("p90_qty", 9, 10), ("p99_qty", 99, 100)))
      .orderBy("l_returnflag")
  }

  private val qPercentileIncrementalSql =
    """WITH hist AS (
      |  SELECT l_returnflag, l_quantity, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT l_returnflag, l_quantity,
      |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum,
      |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
      |  FROM hist)
      |SELECT l_returnflag,
      |  min(CASE WHEN cum * 2 >= n THEN l_quantity END) AS p50_qty,
      |  min(CASE WHEN cum * 10 >= n * 9 THEN l_quantity END) AS p90_qty,
      |  min(CASE WHEN cum * 100 >= n * 99 THEN l_quantity END) AS p99_qty,
      |  CAST(max(n) AS BIGINT) AS n
      |FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------- optimizer statistics audit

  /** The join pairs the cardinality audit covers: star-schema FKs of both
    * fan-out shapes (N:1 dimension joins and the 1:N fact side). */
  private val CardJoins: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"))

  /** Join-cardinality estimation audit — the optimizer-statistics card: for
    * each FK join, the textbook uniform-containment estimate
    * |L ⋈ R| ≈ n_l·n_r div max(d_l, d_r) from per-side (row count,
    * distinct-key) stats, side by side with the TRUE join cardinality and
    * the signed error in ppm. This is exactly the arithmetic a
    * cost-based optimizer (and Spark's own CBO under
    * `spark.sql.cbo.enabled`) runs from ANALYZE TABLE stats before
    * choosing join order/strategy — surfaced as data so a pipeline can
    * SEE where uniformity assumptions break (skewed keys under-estimate).
    *
    * Scale shape: per-side stats are single aggregates (exact
    * countDistinct here; the 100 TB variant swaps in
    * approx_count_distinct, the same swap ANALYZE makes — plan shape
    * unchanged). The true count is one shuffle join on the key, counted —
    * no row payload survives the count aggregate. The estimate product
    * rides DECIMAL(38,0): n_l·n_r overflows BIGINT past ~3·10⁹ rows per
    * side. */
  def qJoinCardEst(s: SparkSession, d: String): DataFrame = {
    val rows = CardJoins.map { case (name, lt, lk, rt, rk) =>
      val l = Tables.t(s, d, lt).agg(
        count(lit(1)).as("n_l"), countDistinct(col(lk)).as("d_l"))
      val r = Tables.t(s, d, rt).agg(
        count(lit(1)).as("n_r"), countDistinct(col(rk)).as("d_r"))
      val actual = Tables.t(s, d, lt).select(col(lk).as("k"))
        .join(Tables.t(s, d, rt).select(col(rk).as("k")), "k")
        .agg(count(lit(1)).as("actual_rows"))
      l.crossJoin(r).crossJoin(actual)
        .select(
          lit(name).as("join_name"),
          col("n_l"), col("d_l"), col("n_r"), col("d_r"),
          expr("cast(cast(n_l as decimal(38,0)) * n_r div greatest(d_l, d_r) as bigint)")
            .as("est_rows"),
          col("actual_rows"))
        .withColumn(
          "err_ppm",
          expr("((est_rows - actual_rows) * 1000000) div greatest(actual_rows, 1)"))
    }
    rows.reduce(_ unionByName _).orderBy("join_name")
  }

  private val qJoinCardEstSql = CardJoins
    .map { case (name, lt, lk, rt, rk) =>
      s"""SELECT '$name' AS join_name, n_l, d_l, n_r, d_r,
         |  CAST(CAST(n_l AS HUGEINT) * n_r // greatest(d_l, d_r) AS BIGINT)
         |    AS est_rows,
         |  actual_rows,
         |  ((CAST(CAST(n_l AS HUGEINT) * n_r // greatest(d_l, d_r) AS BIGINT)
         |    - actual_rows) * 1000000) // greatest(actual_rows, 1) AS err_ppm
         |FROM (SELECT count(*)::BIGINT AS n_l, count(DISTINCT $lk)::BIGINT AS d_l
         |      FROM $lt),
         |     (SELECT count(*)::BIGINT AS n_r, count(DISTINCT $rk)::BIGINT AS d_r
         |      FROM $rt),
         |     (SELECT count(*)::BIGINT AS actual_rows
         |      FROM $lt JOIN $rt ON $lt.$lk = $rt.$rk)""".stripMargin
    }
    .mkString("", "\nUNION ALL\n", "\nORDER BY join_name")

  /** The key columns the skew audit profiles: every fact-side join key in
    * the star schema (the columns whose hot keys decide shuffle fate). */
  private val SkewCols: Seq[(String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "lineitem.l_orderkey"),
    ("lineitem", "l_partkey", "lineitem.l_partkey"),
    ("lineitem", "l_suppkey", "lineitem.l_suppkey"),
    ("orders", "o_custkey", "orders.o_custkey"))

  /** Hot-key skew audit — the pre-join health check that decides whether
    * a shuffle key needs salting ([[graft.operators.Skew]]'s machinery)
    * before the join is launched: per join key, the distinct cardinality,
    * the heaviest key (ties → smallest key) with its exact row share in
    * ppm, and the hot/mean ratio ×1000 (c_max·d div n — how many times
    * the average partition load the hottest key carries). `salt_advised`
    * fires when one key exceeds 1% of the table — the single-straggler
    * regime where per-key parallelism stops helping. On this uniform
    * generator nothing fires (max ratios ~4×); the planted spec drives
    * a 90%-hot-key table through the same seam.
    *
    * Scale shape: one combiner-backed (key, count) aggregate per audited
    * column — the same shuffle the join itself would do, but carrying
    * only counts — then argmax over the key histogram (map-side partial
    * max of a struct, one row out). Nothing wider than (key, count)
    * shuffles; output is one row per audited column. */
  private[graft] def skewAuditOf(obs: DataFrame): DataFrame =
    obs
      .groupBy("tbl_col", "k")
      .agg(count(lit(1)).as("c"))
      .groupBy("tbl_col")
      .agg(
        sum("c").as("n_rows"),
        count(lit(1)).as("n_distinct"),
        max(struct(col("c").as("c"), negate(col("k")).as("nk"))).as("hot"))
      .select(
        col("tbl_col"),
        col("n_rows"),
        col("n_distinct"),
        (-col("hot.nk")).as("hot_key"),
        col("hot.c").as("hot_count"),
        expr("(hot.c * 1000000) div n_rows").as("hot_share_ppm"),
        expr("(hot.c * n_distinct * 1000) div n_rows").as("hot_over_mean_x1000"))
      .withColumn(
        "salt_advised",
        when(col("hot_share_ppm") > 10000, 1L).otherwise(0L))

  // Deliberately one narrow scan PER AUDITED COLUMN, not a stacked
  // single scan: measured at the 100× replica, unpivoting the fact
  // table's three keys through a generator costs 2× these independent
  // legs (41 s vs 20 s min). The union form lets Spark push the partial
  // (key,count) aggregate below the union into each leg, whose hash
  // table then holds ONE column's key space; the stacked form makes one
  // partial-agg table absorb all three key spaces at once (3× rows, 3×
  // distinct keys, label on every row) and evicts its way into a far
  // fatter exchange. Columnar scans are cheap; the combine is the budget.
  def qSkewAudit(s: SparkSession, d: String): DataFrame =
    SkewCols
      .map { case (t, c, label) =>
        Tables.t(s, d, t).select(lit(label).as("tbl_col"), col(c).cast("long").as("k"))
      }
      .reduce(_ unionByName _)
      .transform(skewAuditOf)
      .orderBy("tbl_col")

  private val qSkewAuditSql = {
    val arms = SkewCols.map { case (t, c, label) =>
      s"SELECT '$label' AS tbl_col, CAST($c AS BIGINT) AS k FROM $t"
    }
    s"""WITH obs AS (${arms.mkString(" UNION ALL ")}),
       |h AS (SELECT tbl_col, k, count(*)::BIGINT AS c FROM obs GROUP BY 1, 2),
       |a AS (
       |  SELECT tbl_col, sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct,
       |    max(struct_pack(c := c, nk := -k)) AS hot
       |  FROM h GROUP BY 1),
       |b AS (
       |  SELECT tbl_col, n_rows, n_distinct,
       |    -(hot.nk) AS hot_key, hot.c AS hot_count
       |  FROM a)
       |SELECT tbl_col, n_rows, n_distinct, hot_key, hot_count,
       |  (hot_count * 1000000) // n_rows AS hot_share_ppm,
       |  (hot_count * n_distinct * 1000) // n_rows AS hot_over_mean_x1000,
       |  CAST(CASE WHEN (hot_count * 1000000) // n_rows > 10000 THEN 1 ELSE 0 END
       |    AS BIGINT) AS salt_advised
       |FROM b ORDER BY tbl_col""".stripMargin
  }

  // --------------------------------------------------- right to be forgotten

  /** The deterministic forget set: ~1% of customers, selected by hash so
    * any engine (and any future batch) replays the same set. */
  private def isForgotten(custkey: Column): Column =
    graft.functions.PortableHash
      .md5PrefixLong(concat(lit("forget:"), custkey), 10) % 97 === 0

  /** GDPR right-to-be-forgotten cascade — the deletion-accounting card a
    * training-data pipeline must produce when purging users: a hash-chosen
    * ~1% of customers is forgotten, the delete cascades over the FK chain
    * (customer → orders → lineitem), and each table reports
    * (rows_before, rows_deleted, rows_after) plus an order-independent
    * bit_xor digest of the SURVIVING rows — the audit artifact proving
    * both that the victims are gone and that nothing else was touched
    * (the same digest convention as q_table_checksum, so a replayed purge
    * can be compared checksum-to-checksum without row-level diffing).
    *
    * Scale shape: the cascade is two semi-join hops keyed on the FK chain
    * (victims is ~1% of a dimension — broadcast at any realistic scale;
    * the orders_del key set stays delete-sized). Survivors are anti-joins
    * on the same keys; the digest is a combiner-backed XOR aggregate, no
    * sort, no order dependence. Deleted-row payloads never shuffle —
    * only their keys do. */
  def qForgetCascade(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableHash.md5PrefixLong
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val victims = cust.filter(isForgotten(col("c_custkey"))).select("c_custkey")
    val ordDel = ord.join(victims, col("o_custkey") === col("c_custkey"), "left_semi")
    val ordKeep = ord.join(victims, col("o_custkey") === col("c_custkey"), "left_anti")
    val liKeep = li.join(
      ordDel.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_anti")
    // `kept` is the surviving rows projected to their digest column `h`
    def card(name: String, full: DataFrame, kept: DataFrame): DataFrame = {
      val n = full.agg(count(lit(1)).as("rows_before"))
      kept
        .agg(
          count(lit(1)).as("rows_after"),
          expr("bit_xor(h)").as("survivor_checksum"))
        .crossJoin(n)
        .select(
          lit(name).as("table_name"),
          col("rows_before"),
          (col("rows_before") - col("rows_after")).as("rows_deleted"),
          col("rows_after"),
          col("survivor_checksum"))
    }
    val custC = card(
      "customer", cust,
      cust.filter(!isForgotten(col("c_custkey")))
        .select(md5PrefixLong(col("c_custkey").cast("string"), 14).as("h")))
    val ordC = card(
      "orders", ord,
      ordKeep.select(
        md5PrefixLong(concat_ws("|", col("o_orderkey"), col("o_custkey")), 14).as("h")))
    val liC = card(
      "lineitem", li,
      liKeep.select(
        md5PrefixLong(
          concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey")),
          14).as("h")))
    custC.unionByName(ordC).unionByName(liC).orderBy("table_name")
  }

  private val qForgetCascadeSql = {
    import graft.functions.PortableHash.md5PrefixLongSql
    val forgotten = md5PrefixLongSql("'forget:' || c_custkey", 10) + " % 97 = 0"
    s"""WITH victims AS (
       |  SELECT c_custkey FROM customer WHERE $forgotten),
       |ord_del AS (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_custkey IN (SELECT c_custkey FROM victims)),
       |cards AS (
       |  SELECT 'customer' AS table_name,
       |    (SELECT count(*) FROM customer)::BIGINT AS rows_before,
       |    count(*)::BIGINT AS rows_after,
       |    bit_xor(${md5PrefixLongSql("CAST(c_custkey AS VARCHAR)", 14)}) AS survivor_checksum
       |  FROM customer WHERE NOT ($forgotten)
       |  UNION ALL
       |  SELECT 'orders',
       |    (SELECT count(*) FROM orders)::BIGINT,
       |    count(*)::BIGINT,
       |    bit_xor(${md5PrefixLongSql("o_orderkey || '|' || o_custkey", 14)})
       |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM victims)
       |  UNION ALL
       |  SELECT 'lineitem',
       |    (SELECT count(*) FROM lineitem)::BIGINT,
       |    count(*)::BIGINT,
       |    bit_xor(${md5PrefixLongSql(
          "l_orderkey || '|' || l_linenumber || '|' || l_partkey || '|' || l_suppkey", 14)})
       |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ord_del))
       |SELECT table_name, rows_before,
       |  (rows_before - rows_after)::BIGINT AS rows_deleted,
       |  rows_after, survivor_checksum
       |FROM cards ORDER BY table_name""".stripMargin
  }

  // ------------------------------------------------------ snapshot reconcile

  /** Snapshot diff / reconciliation — the "what changed between table
    * versions" card (the audit a lakehouse time-travel DIFF produces,
    * re-derived on plain parquet): two deterministic versions of `orders`
    * are compared by a single full-outer join on the primary key with a
    * value digest per side, classifying every key as added / deleted /
    * changed / unchanged; per class: row count, an order-independent
    * bit_xor key digest, and the total absolute money drift of changed
    * rows in exact cents. The versions derive from the one physical
    * table so the oracle can replay them: v_old omits keys ≡3 (mod 10)
    * ("inserted since") and carries a 5.00-lower price on keys ≡7
    * ("corrected since"); v_new omits keys ≡4 ("deleted since").
    *
    * Scale shape: ONE full-outer shuffle join keyed on the PK — the same
    * cost class as the merge-upsert card — then a 4-row aggregate;
    * per-row digests are computed map-side, so no payload wider than
    * (key, digest, cents) ever shuffles. At 100 TB both sides would be
    * bucketed by the PK and the join exchange-free. */
  def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableRound.asScaled
    val base = Tables.orders(s, d).select(
      col("o_orderkey").as("k"),
      asScaled(col("o_totalprice"), 2).as("cents"),
      col("o_orderstatus").as("st"))
    val old = base
      .filter(col("k") % 10 =!= 3)
      .select(
        col("k"),
        when(col("k") % 10 === 7, col("cents") - 500).otherwise(col("cents"))
          .as("cents_old"),
        col("st").as("st_old"))
    val nw = base.filter(col("k") % 10 =!= 4)
      .select(col("k"), col("cents").as("cents_new"), col("st").as("st_new"))
    old.join(nw, Seq("k"), "full_outer")
      .select(
        col("k"),
        when(col("cents_old").isNull, "added")
          .when(col("cents_new").isNull, "deleted")
          .when(
            col("cents_old") =!= col("cents_new") || col("st_old") =!= col("st_new"),
            "changed")
          .otherwise("unchanged")
          .as("status"),
        coalesce(abs(col("cents_new") - col("cents_old")), lit(0L)).as("drift"),
        graft.functions.PortableHash.md5PrefixLong(col("k").cast("string"), 14).as("h"))
      .groupBy("status")
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("key_checksum"),
        sum("drift").as("cents_drift"))
      .orderBy("status")
  }

  private val qSnapshotDiffSql = {
    import graft.functions.PortableHash.md5PrefixLongSql
    import graft.functions.PortableRound.asScaledSql
    s"""WITH base AS (
       |  SELECT o_orderkey AS k, ${asScaledSql("o_totalprice", 2)} AS cents,
       |    o_orderstatus AS st
       |  FROM orders),
       |old AS (
       |  SELECT k,
       |    CASE WHEN k % 10 = 7 THEN cents - 500 ELSE cents END AS cents_old,
       |    st AS st_old
       |  FROM base WHERE k % 10 <> 3),
       |nw AS (
       |  SELECT k, cents AS cents_new, st AS st_new FROM base WHERE k % 10 <> 4),
       |diff AS (
       |  SELECT COALESCE(old.k, nw.k) AS k,
       |    CASE WHEN old.k IS NULL THEN 'added'
       |         WHEN nw.k IS NULL THEN 'deleted'
       |         WHEN old.cents_old <> nw.cents_new OR old.st_old <> nw.st_new
       |           THEN 'changed'
       |         ELSE 'unchanged' END AS status,
       |    COALESCE(abs(nw.cents_new - old.cents_old), 0)::BIGINT AS drift
       |  FROM old FULL OUTER JOIN nw ON old.k = nw.k)
       |SELECT status, count(*)::BIGINT AS n_rows,
       |  bit_xor(${md5PrefixLongSql("CAST(k AS VARCHAR)", 14)}) AS key_checksum,
       |  sum(drift)::BIGINT AS cents_drift
       |FROM diff GROUP BY 1 ORDER BY status""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q_merge_upsert", qMergeUpsert, Some(qMergeUpsertSql)),
    Q("q_join_card_est", qJoinCardEst, Some(qJoinCardEstSql)),
    Q("q_skew_audit", qSkewAudit, Some(qSkewAuditSql)),
    Q("q_forget_cascade", qForgetCascade, Some(qForgetCascadeSql)),
    Q("q_snapshot_diff", qSnapshotDiff, Some(qSnapshotDiffSql)),
    Q("q_percentile_incremental", qPercentileIncremental, Some(qPercentileIncrementalSql)),
    Q("q_mv_incremental", qMvIncremental, Some(qMvIncrementalSql)),
    Q("q_mv_retract", qMvRetract, Some(qMvRetractSql)),
    Q("q_scd2_history", qScd2History, Some(qScd2HistorySql)),
    Q("q_pit_join", qPitJoin, Some(qPitJoinSql)),
    Q("q_fk_audit", qFkAudit, Some(qFkAuditSql)),
    Q("q_stats_incremental", qStatsIncremental, Some(qStatsIncrementalSql)),
    Q("q_compacted", qCompacted, Some(qCompactedSql)),
    Q("q_zorder_cluster", qZorderCluster, Some(qZorderClusterSql)),
    Q("q_zorder_ranked", qZorderRanked, Some(qZorderRankedSql)),
    Q("q_table_checksum", qTableChecksum, Some(qTableChecksumSql)))
}
