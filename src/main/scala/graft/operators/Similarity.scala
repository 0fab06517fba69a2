package graft.operators

import graft.{Q, Tables}
import graft.functions.PortableRound.{asScaled, pround}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (ARRAY<FLOAT>, dim 64).
  *
  *   - Brute-force cosine top-k: the exact baseline. One scan, a per-row
  *     projection against a broadcast query vector, TakeOrderedAndProject
  *     for k — no shuffle of the full score set.
  *   - LSH-bucketed ANN (random hyperplanes): the 100 TB path. Sign-bit
  *     bucket from H fixed hyperplanes; only the query's bucket (plus
  *     1-bit-flip probes) is scored. Bucketing is one narrow projection;
  *     candidates are a partition-pruned fraction ~1/2^H of the data.
  *
  * Hyperplanes are generated driver-side from a fixed seed and shipped as
  * literals — deterministic across runs, no hash-function dependence on
  * the engine. Because the planes are literals, they ALSO ride into the
  * DuckDB oracles verbatim ([[planesSqlValues]]): the plane-LSH queries
  * (ann_lsh, bucketed_pairs, and Dedup's banded near-dup) are fully
  * hash-gated; only the float-ITERATIVE stacks (k-means, PQ) keep
  * recall-spec + paired `_check`-row verification instead.
  */
object Similarity {

  private val Dim = 64
  private[operators] val NumPlanes = 8

  /** First `h` pseudo-random hyperplanes of the fixed seed-42 stream —
    * prefix-stable: planesFor(8) is exactly the first 8 of planesFor(24),
    * so growing `h` refines buckets without re-randomizing them. */
  private[operators] def planesFor(h: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(h)(Seq.fill(Dim)(rnd.nextGaussian()))
  }

  /** Fixed pseudo-random hyperplanes (seed 42), shipped as a literal. */
  private lazy val planes: Seq[Seq[Double]] = planesFor(NumPlanes)

  /** Sign-bit bucket id of a vector under the given hyperplanes. */
  private def bucketWith(ps: Seq[Seq[Double]], v: Column): Column =
    ps.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      acc + when(graft.functions.NativeExprs.dotProd(v, typedlit(p)) >= 0, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }

  /** Sign-bit bucket id of a vector under the fixed hyperplanes. */
  private[operators] def bucketOf(v: Column): Column = bucketWith(planes, v)

  private val NearDupBands = 4

  /** Independent per-band hyperplane sets (seeds 1000+b) for banded
    * near-dup blocking: a pair collides if it shares ANY band's bucket,
    * boosting recall over a single 8-plane bucket the same way MinHash
    * bands do over one long signature. */
  private[operators] lazy val bandPlanes: Seq[Seq[Seq[Double]]] =
    Seq.tabulate(NearDupBands) { b =>
      val rnd = new scala.util.Random(1000 + b)
      Seq.fill(NumPlanes)(Seq.fill(Dim)(rnd.nextGaussian()))
    }

  /** array<struct<band,bkey>>: one sign-bit bucket per band. Used by
    * [[Dedup.qEmbeddingNearDupLsh]] as the corpus-size-independent
    * candidate-blocking key (~n/2⁸ of the data per band bucket). */
  private[operators] def bandedBuckets(v: Column): Column =
    array(bandPlanes.zipWithIndex.map { case (ps, b) =>
      struct(lit(b).as("band"), bucketWith(ps, v).as("bkey"))
    }: _*)

  /** `(pid, [plane])` VALUES rows for a plane matrix. The seed-fixed
    * hyperplanes are DATA, not randomness — so the DuckDB twin receives
    * them as literals and replays the sign-bit bucketing exactly:
    * `Double.toString` round-trips to the identical double, and both
    * engines accumulate the 64-term dot product left-to-right in
    * doubles, so the `>= 0` sign test cannot disagree. This is what
    * turns the "hash-dependent, no oracle" LSH queries into fully
    * hash-gated rows. */
  private[operators] def planesSqlValues(ps: Seq[Seq[Double]]): String =
    ps.zipWithIndex.map { case (p, i) =>
      s"($i, ${p.mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(",\n")

  /** Exact top-10 cosine neighbors of vec_id 0 (the brute-force baseline).
    * DuckDB oracle uses list_cosine_similarity over the same DOUBLE[] data. */
  def qTopKExact(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
    val q = broadcast(e.filter(col("vec_id") === 0).select(col("v").as("qv")))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(q)
      .select(col("vec_id"), pround(graft.functions.NativeExprs.cosineSim(col("v"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  private val qTopKExactSql =
    """SELECT e.vec_id,
      |  floor(list_cosine_similarity(e.embedding::DOUBLE[], q.qv) * 1000000 + 0.5) / 1000000.0 AS cos
      |FROM embeddings e,
      |  (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
      |WHERE e.vec_id <> 0
      |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin

  /** ANN: random-hyperplane LSH buckets, query probes its own bucket plus
    * all 1-bit-flip neighbor buckets, exact cosine over candidates only.
    * Returns approximate top-10 for vec_id 0. */
  def qAnnLsh(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("bucket", bucketOf(col("v")))
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    // probe set: exact bucket + 1-bit flips (multi-probe LSH)
    val probes = q.select(
      col("qv"),
      explode(
        concat(
          array(col("qbucket")),
          expr(s"transform(sequence(0, ${NumPlanes - 1}), i -> qbucket ^ shiftleft(1L, i))")))
        .as("bucket"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(probes), "bucket")
      .select(col("vec_id"), pround(graft.functions.NativeExprs.cosineSim(col("v"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  private lazy val qAnnLshSql =
    s"""WITH pl(pid, p) AS (VALUES
       |${planesSqlValues(planes)}),
       |bk AS (
       |  SELECT e.vec_id,
       |    sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) >= 0
       |        THEN (1::BIGINT << pl.pid) ELSE 0 END)::BIGINT AS bucket
       |  FROM embeddings e CROSS JOIN pl GROUP BY 1),
       |qq AS (
       |  SELECT b.bucket AS qbucket, e.embedding::DOUBLE[] AS qv
       |  FROM bk b JOIN embeddings e USING (vec_id) WHERE b.vec_id = 0),
       |probes AS (
       |  SELECT qbucket AS bucket FROM qq
       |  UNION
       |  SELECT xor(qbucket, (1::BIGINT << i))
       |  FROM qq, (SELECT unnest(range(0, $NumPlanes)) AS i)),
       |cand AS (
       |  SELECT vec_id FROM bk
       |  WHERE bucket IN (SELECT bucket FROM probes) AND vec_id <> 0)
       |SELECT c.vec_id,
       |  floor(list_cosine_similarity(e.embedding::DOUBLE[], q.qv) * 1000000 + 0.5) / 1000000.0 AS cos
       |FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id CROSS JOIN qq q
       |ORDER BY cos DESC, c.vec_id LIMIT 10""".stripMargin

  /** Target mean bucket occupancy for the all-pairs sweep: candidate pairs
    * ≈ n·TargetBucket/2 — linear in corpus size. */
  private val TargetBucket = 64L

  /** All-pairs top similar within LSH buckets — the scalable "find similar
    * content across the corpus" sweep (bucket join instead of cross join).
    *
    * The plane count ADAPTS to the corpus: h = max(8, ⌈log₂(n/64)⌉), so
    * mean bucket occupancy stays ~64 and the within-bucket join stays
    * linear in n — a fixed 8-plane bucketing would go quadratic (n²/256
    * pairs) at a billion vectors. The count() that sizes h is a
    * metadata-only parquet row-count. Growing h trades recall for
    * candidate volume (collision prob (1−θ/π)^h); the recall-compensated
    * form is the banded blocking in [[Dedup.qEmbeddingNearDupLsh]], which
    * ORs h-bit buckets across independent bands. At the test SFs
    * (n ≤ 5000) h stays 8, so results are SF-stable. */
  def qBucketedPairs(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
    val n = e0.count()
    def ceilLog2(x: Long): Int =
      if (x <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
    val h = math.max(NumPlanes, ceilLog2(math.max(1L, n / TargetBucket)))
    val e = e0.withColumn("bucket", bucketWith(planesFor(h), col("v")))
    e.as("a")
      .join(e.as("b"), Seq("bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("va"),
        col("b.vec_id").as("vb"),
        pround(graft.functions.NativeExprs.cosineSim(col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= 0.25)
      .orderBy(col("cos").desc, col("va"), col("vb"))
      .limit(100)
  }

  /** The oracle embeds the first [[BucketedOracleMaxH]] planes of the
    * prefix-stable stream and re-derives the adaptive h from its own
    * count — valid to 64·2¹⁶ ≈ 4M vectors, past which it raises via
    * `error()` instead of silently diverging. */
  private val BucketedOracleMaxH = 16

  private lazy val qBucketedPairsSql =
    s"""WITH pl(pid, p) AS (VALUES
       |${planesSqlValues(planesFor(BucketedOracleMaxH))}),
       |hh AS (
       |  SELECT CASE WHEN h > $BucketedOracleMaxH
       |      THEN error('bucketed-pairs oracle embeds $BucketedOracleMaxH planes; corpus needs ' || h)
       |      ELSE h END AS h
       |  FROM (
       |    SELECT greatest($NumPlanes, CASE WHEN nb <= 1 THEN 0
       |        ELSE ceil(log2(nb::DOUBLE))::INT END) AS h
       |    FROM (SELECT greatest(1, (SELECT count(*) FROM embeddings) // $TargetBucket) AS nb))),
       |bk AS (
       |  SELECT e.vec_id,
       |    sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) >= 0
       |        THEN (1::BIGINT << pl.pid) ELSE 0 END)::BIGINT AS bucket
       |  FROM embeddings e CROSS JOIN pl CROSS JOIN hh
       |  WHERE pl.pid < hh.h GROUP BY 1),
       |sc AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 1000000 + 0.5) / 1000000.0 AS cos
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON a.vec_id = ea.vec_id
       |  JOIN embeddings eb ON b.vec_id = eb.vec_id)
       |SELECT va, vb, cos FROM sc WHERE cos >= 0.25
       |ORDER BY cos DESC, va, vb LIMIT 100""".stripMargin

  private val IvfCells = 16
  private val IvfProbes = 2

  private def cosScala(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Nearest cell = max by (cos, -cid): struct ordering gives the
    * row_number(ORDER BY cos DESC, cid) = 1 tiebreak the oracle uses. */
  private[operators] def nearestCell(cents: Array[(Int, Seq[Double])], v: Column): Column = {
    val scored = cents.map { case (cid, cv) =>
      struct(
        graft.functions.NativeExprs.cosineSim(v, typedlit(cv)).as("cos"),
        lit(-cid).as("negid"))
    }
    -array_max(array(scored.toSeq: _*)).getField("negid")
  }

  /** IVF-style ANN: assign every vector to its nearest "centroid" cell,
    * probe only the query's nearest cells, exact-score the candidates.
    *
    * Centroids here are a deterministic sample (vec_id < 16) instead of a
    * k-means fit, so the whole index is a pure function of the data and the
    * DuckDB oracle replays it exactly — the plumbing (cell assignment as a
    * narrow projection, candidate pruning to probed cells ≈ nprobe/nlist of
    * the corpus, exact re-rank) is precisely the production IVF shape.
    * [[qIvf]] takes it all the way: the assignment table (vec_id, cell,
    * vector) is BUILT ONCE and stored partitioned by cell
    * ([[graft.sources.Warehouse.ensurePartitioned]] — one directory per
    * cell, the FAISS inverted-list layout), and the probe's
    * `cell IN (...)` filter prunes the scan to the probed cells'
    * DIRECTORIES at plan time — the search reads nprobe/nlist of the
    * stored index, plan-guarded via PartitionFilters. At 100 TB:
    * centroids broadcast (≤64k rows), the index job is one scan, and
    * daily search cost is probe-bounded. */
  /** Shared IVF probe tail: pick the query's nProbes nearest cells, assign
    * every vector to its cell, exact-rerank only the probed cells. One
    * definition — the sampled and k-means variants must not drift. */
  /** The query's nProbes nearest cells under the shared (-cos, cid)
    * tie-break — ONE definition for the inline and stored-index probes. */
  private def probeCells(
      cents: Array[(Int, Seq[Double])],
      qvec: Seq[Double],
      nProbes: Int): Seq[Int] =
    cents
      .map { case (cid, cv) => (cid, cosScala(qvec, cv)) }
      .sortBy { case (cid, cos) => (-cos, cid) }
      .take(nProbes)
      .map(_._1)
      .toSeq

  /** Exact-cosine top-10 tail shared by every IVF probe variant. */
  private def rerankExact(cands: DataFrame, qvec: Seq[Double]): DataFrame =
    cands
      .select(
        col("vec_id"),
        pround(graft.functions.NativeExprs.cosineSim(col("v"), typedlit(qvec)), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)

  /** Probe selection + inline cell assignment for the ADC tail
    * ([[qSimIvfPq]]'s candidate generation) — shares [[probeCells]] and
    * [[nearestCell]] with the stored-index variants so probe tie-breaking
    * and assignment cannot drift between the IVF forms. */
  private def probedCandidates(
      e: DataFrame,
      cents: Array[(Int, Seq[Double])],
      qvec: Seq[Double],
      nProbes: Int): DataFrame = {
    val probes = probeCells(cents, qvec, nProbes)
    e.filter(col("vec_id") =!= 0)
      .withColumn("cell", nearestCell(cents, col("v")))
      .filter(col("cell").isin(probes.map(_.asInstanceOf[Any]): _*))
  }

  /** Empty top-k result (query vector absent from the corpus) — degrade
    * like the other similarity queries instead of a driver crash. */
  private def emptyTopK(e: DataFrame): DataFrame =
    e.limit(0).select(col("vec_id"), lit(0.0d).as("cos"))

  def qIvf(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val cents: Array[(Int, Seq[Double])] = e
      .filter(col("vec_id") < IvfCells)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    // vec 0 satisfies vec_id < IvfCells — reuse the centroid pull instead
    // of a second full-scan collect; absent query vector → empty result
    cents.find(_._1 == 0).map(_._2) match {
      case Some(qvec) =>
        // build-once stored index: assignment is a pure function of the
        // data (sampled centroids), so the stored table is identical to
        // recomputing — and the probe below reads only its probed
        // buckets
        val tbl = graft.sources.Warehouse.tableName("graft_ivf", d)
        graft.sources.Warehouse.ensurePartitioned(s, tbl, "cell", srcDir = d) {
          e.withColumn("cell", nearestCell(cents, col("v")))
        }
        val probes = probeCells(cents, qvec, IvfProbes)
        rerankExact(
          s.table(tbl)
            .filter(col("vec_id") =!= 0 &&
              col("cell").isin(probes.map(_.asInstanceOf[Any]): _*)),
          qvec)
      case None => emptyTopK(e)
    }
  }

  private val qIvfSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfCells),
       |pc AS (SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS cos FROM e, c),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |    FROM pc) WHERE rn = 1),
       |probe AS (
       |  SELECT cid AS cell FROM (
       |    SELECT cid, row_number() OVER (ORDER BY cos DESC, cid) AS rn
       |    FROM pc WHERE vec_id = 0) WHERE rn <= $IvfProbes)
       |SELECT e.vec_id,
       |  floor(list_cosine_similarity(e.v, q.v) * 1000000 + 0.5) / 1000000.0 AS cos
       |FROM assign a
       |JOIN probe p ON a.cell = p.cell
       |JOIN e ON a.vec_id = e.vec_id,
       |  (SELECT v FROM e WHERE vec_id = 0) q
       |WHERE e.vec_id <> 0
       |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin

  /** Incremental IVF index maintenance — the ANN twin of
    * [[Dedup.qDedupIncremental]] / [[Maintenance.qStatsIncremental]]:
    * yesterday's index is a STORED cell-partitioned assignment table over
    * the base corpus (vec_id % 5 ≠ 0), and admitting today's batch
    * (vec_id % 5 = 0) assigns ONLY the batch vectors against the same
    * frozen centroids — daily cost ∝ batch, never ∝ corpus (the property
    * the plan guard pins: exactly one raw-embeddings scan, the base side
    * arrives from the stored table with no assignment expression).
    * Centroids are the deterministic base-side sample (16 lowest
    * non-batch vec_ids) so the DuckDB twin replays both assignments
    * exactly; freezing centroids across appends is the production IVF
    * practice too (FAISS `add` after `train` — re-training is a separate
    * offline event that rebuilds the index wholesale). Output is the
    * per-cell occupancy card (base, batch, total) an index operator
    * watches for drift: a batch that piles into few cells means the
    * frozen centroids no longer fit the data distribution. */
  /** Build-once base IVF assignment table shared by the append and forget
    * cards: non-batch vectors (vec_id % 5 ≠ 0) assigned against the
    * frozen deterministic centroid sample (16 lowest non-batch vec_ids),
    * PARTITIONED BY CELL. Returns (tableName, centroids). */
  private def ensureIvfBase(
      s: SparkSession, d: String, e: DataFrame): (String, Array[(Int, Seq[Double])]) = {
    val isBatch = col("vec_id") % 5 === 0
    val cents: Array[(Int, Seq[Double])] = e
      .filter(col("vec_id") < 20 && !(col("vec_id") % 5 === 0))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    val tbl = graft.sources.Warehouse.tableName("graft_ivf_base", d)
    graft.sources.Warehouse.ensurePartitioned(s, tbl, "cell", srcDir = d) {
      e.filter(!isBatch).withColumn("cell", nearestCell(cents, col("v")))
    }
    (tbl, cents)
  }

  def qIvfAppend(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val isBatch = col("vec_id") % 5 === 0
    val (tbl, cents) = ensureIvfBase(s, d, e)
    val base = s.table(tbl).groupBy("cell").agg(count(lit(1)).as("n_base"))
    val batch = e
      .filter(isBatch)
      .withColumn("cell", nearestCell(cents, col("v")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_batch"))
    base
      .join(batch, Seq("cell"), "full")
      .select(
        col("cell").cast("long").as("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"))
      .withColumn("n_total", col("n_base") + col("n_batch"))
      .orderBy("cell")
  }

  private val qIvfAppendSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 20 AND vec_id % 5 <> 0),
      |pc AS (SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS cos FROM e, c),
      |assign AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |    FROM pc) WHERE rn = 1)
      |SELECT cell::BIGINT AS cell,
      |  CAST(sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
      |  CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch,
      |  count(*)::BIGINT AS n_total
      |FROM assign GROUP BY 1 ORDER BY cell""".stripMargin

  /** Victim predicate for the ANN retraction card — a hash-chosen ~3% of
    * vec_ids ("forget:" salt, mod 37), the embedding-side mirror of
    * [[Maintenance.qForgetCascade]]'s customer victims. */
  private def isForgottenVec(vecId: Column): Column =
    graft.functions.PortableHash
      .md5PrefixLong(concat(lit("forget:"), vecId), 10) % 37 === 0

  /** ANN index RETRACTION — the delete mirror of [[qIvfAppend]] and the
    * missing quadrant of index maintenance (append covers add-against-
    * frozen-centroids; MV retract covers aggregates): retire a victim
    * set from the STORED cell-partitioned IVF index without a rebuild.
    * This card is the deletion-accounting audit (read-only, so the gate
    * row is deterministic across reruns): per AFFECTED cell —
    * (n_before, n_deleted, n_after) plus an order-independent bit_xor
    * digest of the surviving vec_ids, the same audit convention as
    * q_forget_cascade / q_table_checksum so a replayed purge compares
    * checksum-to-checksum. The physical rewrite itself is
    * [[forgetFromIndex]], spec-pinned to touch ONLY victim cells' files.
    *
    * Scale shape: victims are delete-sized (broadcast); the per-cell
    * aggregate runs only over the victim cells' partitions (directory
    * pruning on the stored table — at 100 TB the untouched
    * (1 − cells_hit/nlist) of the index is never read). Centroids stay
    * frozen — like FAISS `remove_ids`, retraction never retrains. */
  def qIvfForget(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val (tbl, _) = ensureIvfBase(s, d, e)
    val stored = s.table(tbl).select(col("vec_id"), col("cell"))
    // bounded pull: ≤ nlist cell ids (the victim cells)
    val victimCells = stored
      .filter(isForgottenVec(col("vec_id")))
      .select("cell").distinct()
      .collect().map(_.getInt(0))
      .sorted
    import graft.functions.PortableHash.md5PrefixLong
    stored
      .filter(col("cell").isin(victimCells.map(Integer.valueOf).toIndexedSeq: _*))
      .withColumn(
        "h",
        when(isForgottenVec(col("vec_id")), lit(null))
          .otherwise(md5PrefixLong(col("vec_id").cast("string"), 14)))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_before"),
        sum(when(isForgottenVec(col("vec_id")), 1L).otherwise(0L)).as("n_deleted"),
        expr("bit_xor(h)").as("survivor_checksum"))
      .withColumn("n_after", col("n_before") - col("n_deleted"))
      .select(
        col("cell").cast("long").as("cell"),
        col("n_before"), col("n_deleted"), col("n_after"), col("survivor_checksum"))
      .orderBy("cell")
  }

  private val qIvfForgetSql = {
    import graft.functions.PortableHash.md5PrefixLongSql
    val victim = md5PrefixLongSql("'forget:' || vec_id", 10) + " % 37 = 0"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 20 AND vec_id % 5 <> 0),
       |pc AS (SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS cos
       |       FROM e, c WHERE e.vec_id % 5 <> 0),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |    FROM pc) WHERE rn = 1),
       |vcells AS (SELECT DISTINCT cell FROM assign WHERE $victim)
       |SELECT cell::BIGINT AS cell,
       |  count(*)::BIGINT AS n_before,
       |  CAST(sum(CASE WHEN $victim THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       |  CAST(count(*) - sum(CASE WHEN $victim THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
       |  bit_xor(CASE WHEN $victim THEN NULL
       |          ELSE ${md5PrefixLongSql("CAST(vec_id AS VARCHAR)", 14)} END)
       |    AS survivor_checksum
       |FROM assign WHERE cell IN (SELECT cell FROM vcells)
       |GROUP BY 1 ORDER BY cell""".stripMargin
  }

  /** The physical retraction: delete `victims` (a vec_id frame) from a
    * cell-partitioned stored index table WITHOUT a rebuild — only
    * partitions containing victims are rewritten (dynamic partition
    * overwrite); every other cell's files are left physically untouched
    * and the centroids are not re-fit. Returns the number of deleted
    * rows. Cost ∝ affected cells' partitions, never the index. */
  private[operators] def forgetFromIndex(
      s: SparkSession, table: String, victims: DataFrame): Long = {
    val stored = s.table(table)
    val victimCells = stored
      .join(broadcast(victims), "vec_id")
      .select("cell").distinct()
      .collect().map(_.getInt(0))
    if (victimCells.isEmpty) return 0L
    val inCells = stored.filter(
      col("cell").isin(victimCells.map(Integer.valueOf).toIndexedSeq: _*))
    val nBefore = inCells.count()
    // localCheckpoint breaks lineage to the table being overwritten
    // (Spark refuses INSERT OVERWRITE from a plan that reads the target)
    val survivors = inCells
      .join(victims, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    // DYNAMIC partition overwrite: only the partitions present in
    // `survivors` (= the victim cells) are replaced; static mode would
    // drop every other cell. The session conf is what insertInto honors
    // for catalog tables (the writer-level option is not) — set and
    // restore around the write.
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.getOption(confKey)
    s.conf.set(confKey, "dynamic")
    try survivors.write.mode("overwrite").insertInto(table)
    finally prev match {
      case Some(v) => s.conf.set(confKey, v)
      case None => s.conf.unset(confKey)
    }
    // Dynamic overwrite only rewrites partitions PRESENT in `survivors`:
    // a victim cell whose rows are ALL victims yields zero survivor rows,
    // so its partition would never be rewritten and the victims would
    // silently stay on disk. Drop those fully-emptied cells explicitly.
    val survivorCells = survivors.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    for (c <- victimCells if !survivorCells.contains(c))
      s.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (cell=$c)")
    s.catalog.refreshTable(table)
    // loud post-condition (pruned to the victim cells, never the full
    // index): a forget that leaves victims behind must fail, not report
    // success with data retained
    val leaked = s.table(table)
      .filter(col("cell").isin(victimCells.map(Integer.valueOf).toIndexedSeq: _*))
      .join(broadcast(victims), "vec_id").count()
    require(leaked == 0L,
      s"forgetFromIndex left $leaked victim rows on disk in $table")
    nBefore - survivors.count()
  }

  /** Seeded distributed k-means (Lloyd's): init = the k lowest-vec_id
    * vectors, fixed iteration count. Assignment is one scan against the
    * centroid literals; the update step averages per (cell, dim) via
    * posexplode + two-phase avg — both fully distributed; only the k×dim
    * centroid matrix is ever collected to the driver (once per iteration,
    * the legitimate broadcast-small pattern). Deterministic for a given
    * dataset; empty cells keep their previous centroid. */
  private def kmeansCentroids(e: DataFrame, k: Int, iters: Int): Array[(Int, Seq[Double])] = {
    var cents = e.filter(col("vec_id") < k).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    for (_ <- 1 to iters) {
      val byCell = e
        .withColumn("cell", nearestCell(cents, col("v")))
        .select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos").agg(avg("col").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) => (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq) }
      cents = cents.map { case (cid, old) => (cid, byCell.getOrElse(cid, old)) }
    }
    cents
  }

  private val KmeansIters = 5
  private val KmeansProbes = 4

  /** Build-once PERSISTED k-means IVF index: the fitted centroid matrix
    * as a tiny table (k×dim rows of (cell, pos, mu)) and every vector's
    * cell assignment PARTITIONED BY CELL (plan-time directory pruning on
    * the probe, like [[qIvf]]'s sampled-centroid store). The Lloyd fit's
    * iteration scans run only on the first build. */
  private def ensureKmeansIndex(s: SparkSession, d: String, e: DataFrame): (String, String) = {
    import graft.sources.Warehouse
    val ctT = Warehouse.tableName("graft_km_cents", d)
    val asT = Warehouse.tableName("graft_km_cells", d)
    Warehouse.ensureVia(s, ctT, srcDir = d) {
      val cents = kmeansCentroids(e, IvfCells, KmeansIters)
      val rows = for { (cid, cv) <- cents.toSeq; (mu, pos) <- cv.zipWithIndex }
        yield (cid, pos, mu)
      import s.implicits._
      rows.toDF("cell", "pos", "mu").coalesce(1).write.saveAsTable(ctT)
    }
    Warehouse.ensurePartitioned(s, asT, "cell", srcDir = d) {
      e.withColumn("cell", nearestCell(loadCentroids(s, ctT), col("v")))
    }
    (ctT, asT)
  }

  /** Rehydrate a stored centroid table (bounded: k×dim rows). */
  private def loadCentroids(s: SparkSession, ctT: String): Array[(Int, Seq[Double])] =
    s.table(ctT).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .toSeq
      .map { case (cid, rs) => (cid, rs.sortBy(_._2).map(_._3).toSeq) }
      .sortBy(_._1)
      .toArray

  /** IVF ANN with k-means-fit centroids — the production index build.
    * Same probe shape as [[qIvf]] but the cells come from a seeded Lloyd's
    * fit, so cell populations follow the data's cluster structure rather
    * than which vectors happened to have low ids — and both fit artifacts
    * are PERSISTED by [[ensureKmeansIndex]], so query time pays a bounded
    * centroid pull plus a directory-pruned scan of the probed cells only.
    * k-means isn't reasonably SQL-expressible → no DuckDB oracle;
    * SketchSpec asserts recall@10 ≥ 0.9 against the brute-force baseline
    * on the real sf data. */
  def qIvfKmeans(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")).cache()
    e.filter(col("vec_id") === 0).collect().headOption
      .map(_.getSeq[Float](1).map(_.toDouble)) match {
      case Some(qvec) =>
        val (ctT, asT) = ensureKmeansIndex(s, d, e)
        val probes = probeCells(loadCentroids(s, ctT), qvec, KmeansProbes)
        rerankExact(
          s.table(asT).filter(col("vec_id") =!= 0 &&
            col("cell").isin(probes.map(_.asInstanceOf[Any]): _*)),
          qvec)
      case None => emptyTopK(e) // absent query vector → empty, not a crash
    }
  }

  /** Driver-visible gate row for the k-means IVF stack — the one
    * approximate path whose result can't be pinned to the exact top-10
    * (its probed cells legitimately miss a boundary neighbor even at the
    * gate SF: measured 9/10). The floor SketchSpec holds (recall@10 ≥
    * 0.9) is emitted as a hash-compared row instead: the oracle pins
    * (n_exact, floor_met=true), so a fit/probe/assignment regression
    * that drops recall below the spec'd floor now breaks the driver's
    * gate, not just the local test run. */
  def qKmeansRecallCheck(s: SparkSession, d: String): DataFrame = {
    val approx = qIvfKmeans(s, d).select("vec_id")
    val exact = qTopKExact(s, d).select("vec_id")
    val nE = exact.agg(count(lit(1)).as("n_exact"))
    val nR = exact.join(approx, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_rec"))
    nE.crossJoin(nR)
      .select(
        col("n_exact"),
        (col("n_rec") * 10 >= col("n_exact") * 9).as("floor_met"))
  }

  private val qKmeansRecallCheckSql =
    s"""SELECT count(*)::BIGINT AS n_exact, true AS floor_met
       |FROM ($qTopKExactSql)""".stripMargin

  private val PqSubspaces = 8
  private val PqSubDim = Dim / PqSubspaces
  private val PqCodes = 32
  private val PqIters = 3
  private val PqShortlist = 50

  /** L2-nearest code id under a codebook: rank by 2·⟨sv,c⟩ − ‖c‖² (the
    * ‖sv‖² term is constant per row), ties to the lower code id. Code ids
    * are dense positions 0..k−1, so the native kernel's argmax index IS
    * the code id. A struct-max chain like [[nearestCell]]'s would inline
    * k·subdim subtrees here and blow generated methods past the JVM 64 KB
    * limit at k = 32 (whole-stage codegen aborts, the scan goes
    * interpreted) — hence the reference-object kernel
    * ([[graft.functions.PqNearestCode]]). */
  private def nearestCode(cb: Array[(Int, Seq[Double])], sv: Column): Column =
    graft.functions.NativeExprs.pqNearestCode(sv, cb.sortBy(_._1).map(_._2).toSeq)

  /** v / ‖v‖ as array<double> — PQ approximates INNER PRODUCTS, so the
    * vectors are L2-normalized first to make approximate-dot ≡
    * approximate-cosine. */
  private def normalized(v: Column): Column = {
    val n = sqrt(graft.functions.NativeExprs.dotProd(v, v))
    transform(v, x => x / n)
  }

  /** Per-subspace PQ codebooks via seeded distributed Lloyd's on the
    * SUBVECTORS: all 8 subspaces train in the same pass (one scan per
    * iteration over the exploded (vec_id, m, sv) table); only the
    * 8×32×8-double codebook matrix is ever collected. Init = the
    * subvectors of the vec_id < k seed rows, RE-INDEXED to dense code
    * ids 0..k−1 — code ids must be positional because the ADC lookup
    * table is read by position; raw vec_ids would misalign it the
    * moment the seed range has a hole. Empty cells keep their previous
    * centroid. */
  private def pqCodebooks(e: DataFrame): Map[Int, Array[(Int, Seq[Double])]] = {
    val subs = e
      .select(col("vec_id"), normalized(col("v")).as("vn"))
      .select(
        col("vec_id"),
        posexplode(array((0 until PqSubspaces).map(m =>
          slice(col("vn"), m * PqSubDim + 1, PqSubDim)): _*)))
      .toDF("vec_id", "m", "sv")
      .cache()
    var books: Map[Int, Array[(Int, Seq[Double])]] = subs
      .filter(col("vec_id") < PqCodes)
      .collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Double](2)))
      .groupBy(_._1)
      .map { case (m, rows) =>
        m -> rows.sortBy(_._2).zipWithIndex.map { case ((_, _, cv), i) => (i, cv) }
      }
    for (_ <- 1 to PqIters) {
      val assign = (0 until PqSubspaces).foldLeft(lit(-1)) { (acc, m) =>
        when(col("m") === m, nearestCode(books(m), col("sv"))).otherwise(acc)
      }
      val means = subs
        .withColumn("code", assign)
        .select(col("m"), col("code"), posexplode(col("sv")))
        .groupBy("m", "code", "pos")
        .agg(avg("col").as("mu"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((m, code), rows) =>
          (m, code) -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      books = books.map { case (m, cb) =>
        m -> cb.map { case (cid, old) => (cid, means.getOrElse((m, cid), old)) }
      }
    }
    subs.unpersist()
    books
  }

  /** Build-once PERSISTED PQ index (the serving artifact of a vector
    * store): the fitted per-subspace codebooks as a tiny table
    * (8×32×8 rows of (m, code, pos, mu)) plus every vector's 8 codes
    * bucketed by vec_id — the 32×-compressed table the ADC scan reads.
    * Query time then pays a STORED-codes scan and a bounded codebook
    * pull; the Lloyd fit and the corpus encode pass run only on the
    * first build (the same daily-index contract as the shingle /
    * keyword / IVF-cell stores). The codes are a pure function of the
    * deterministic seeded fit, so the stored table is identical to
    * recomputing. */
  private def ensurePqIndex(s: SparkSession, d: String, e: DataFrame): (String, String) = {
    import graft.sources.Warehouse
    val cbT = Warehouse.tableName("graft_pq_cb", d)
    val cdT = Warehouse.tableName("graft_pq_codes", d)
    Warehouse.ensureVia(s, cbT, srcDir = d) {
      val books = pqCodebooks(e)
      val rows = for {
        (m, cb) <- books.toSeq
        (code, mus) <- cb
        (mu, pos) <- mus.zipWithIndex
      } yield (m, code, pos, mu)
      import s.implicits._
      rows.toDF("m", "code", "pos", "mu").coalesce(1).write.saveAsTable(cbT)
    }
    Warehouse.ensure(s, cdT, "vec_id", srcDir = d) {
      val books = loadPqBooks(s, cbT)
      val codes = array((0 until PqSubspaces).map(m =>
        nearestCode(books(m), slice(col("vn"), m * PqSubDim + 1, PqSubDim))): _*)
      // vn hoisted once: 8 slices of one normalization, not 8
      e.withColumn("vn", normalized(col("v"))).select(col("vec_id"), codes.as("codes"))
    }
    (cbT, cdT)
  }

  /** Rehydrate the stored codebook table (bounded: 8×32×8 rows). */
  private def loadPqBooks(s: SparkSession, cbT: String): Map[Int, Array[(Int, Seq[Double])]] =
    s.table(cbT).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (m, rs) =>
        m -> rs.groupBy(_._2).toSeq.map { case (code, ps) =>
          (code, ps.sortBy(_._3).map(_._4).toSeq)
        }.sortBy(_._1).toArray
      }

  /** Product-quantization ANN — the memory-bound 100 TB path. Vectors
    * compress 32×: 64 floats → 8 one-byte codes (per-subspace L2-nearest
    * codebook entry), PERSISTED by [[ensurePqIndex]] so the first-pass
    * scan touches only the stored code table, never the vectors and
    * never a fit. The query precomputes an 8×32 lookup table of
    * subvector dots driver-side; the asymmetric-distance score is then 8
    * array lookups + adds per row. Top-[[PqShortlist]] by approximate dot
    * (TakeOrderedAndProject — no global sort), then ONLY the shortlist
    * joins back to real vectors for exact cosine re-rank to top-10: the
    * production IVF-PQ tail. Codebooks and LUT are driver-bounded
    * (8×32×8 + 8×32 doubles) regardless of corpus size. k-means-fit codes
    * aren't SQL-expressible → no DuckDB oracle; SketchSpec asserts
    * recall@10 against the brute-force baseline on the real corpus. */
  def qSimPq(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")).cache()
    e.filter(col("vec_id") === 0).collect().headOption match {
      case None => emptyTopK(e)
      case Some(qrow) =>
        val qraw = qrow.getSeq[Float](1).map(_.toDouble)
        val (cbT, cdT) = ensurePqIndex(s, d, e)
        adcRerank(
          e, s.table(cdT).filter(col("vec_id") =!= 0), qraw, loadPqBooks(s, cbT))
    }
  }

  /** ADC shortlist + exact re-rank tail shared by the PQ variants:
    * score STORED (vec_id, codes) rows via the query's precomputed
    * 8×[[PqCodes]] lookup table (8 array reads + adds per row), keep the
    * top-[[PqShortlist]] by approximate dot (TakeOrderedAndProject — no
    * global sort), then join ONLY the shortlist back to real vectors for
    * the exact cosine top-10. */
  private def adcRerank(
      e: DataFrame,
      codedCand: DataFrame,
      qraw: Seq[Double],
      books: Map[Int, Array[(Int, Seq[Double])]]): DataFrame =
    exactRerank(
      e,
      adcScores(codedCand, qraw, books)
        .orderBy(col("adc").desc, col("vec_id"))
        .limit(PqShortlist),
      qraw)

  /** (vec_id, adc) approximate-dot scores over a stored code table via
    * the query's precomputed 8×[[PqCodes]] lookup table — the shared
    * first pass of [[adcRerank]] and [[adcRerankBanded]]. */
  private def adcScores(
      codedCand: DataFrame,
      qraw: Seq[Double],
      books: Map[Int, Array[(Int, Seq[Double])]]): DataFrame = {
    val qnorm = math.sqrt(qraw.map(x => x * x).sum)
    val qn = qraw.map(_ / qnorm)
    // LUT: lut(m)(code) = ⟨q_m, c_{m,code}⟩
    val lut: Seq[Seq[Double]] = (0 until PqSubspaces).map { m =>
      val qm = qn.slice(m * PqSubDim, (m + 1) * PqSubDim)
      books(m).sortBy(_._1).map { case (_, cv) =>
        qm.zip(cv).map { case (a, b) => a * b }.sum
      }.toSeq
    }
    val lutLit = typedlit(lut)
    val approx = aggregate(
      sequence(lit(0), lit(PqSubspaces - 1)),
      lit(0.0),
      (acc, i) =>
        acc + element_at(
          element_at(lutLit, (i + 1).cast("int")),
          (element_at(col("codes"), (i + 1).cast("int")) + 1).cast("int")))
    codedCand.select(col("vec_id"), approx.as("adc"))
  }

  /** Exact-cosine top-10 re-rank of a shortlist — the shared tail. */
  private def exactRerank(e: DataFrame, shortlist: DataFrame, qraw: Seq[Double]): DataFrame =
    shortlist
      .join(e, "vec_id")
      .select(
        col("vec_id"),
        pround(graft.functions.NativeExprs.cosineSim(col("v"), typedlit(qraw)), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)

  /** SF-calibrated, TIE-INCLUSIVE shortlist variant of [[adcRerank]] for
    * the `_check` gate twins. Two changes make the exact-recovery
    * assertion hold at every swept SF, not just the calibration one:
    * (1) the shortlist covers `max(PqShortlist, ⌈CheckShortlistFrac·n⌉)`
    * candidates, sized from the measured worst ADC rank of the true
    * top-10 across SFs (round-12 readings: 110/500 = 22% of n at
    * sf0.001, 271/2000 = 14% at sf0.1 — see NOTES_BUILD round 12) with
    * ~2× margin; (2) the cut is by VALUE, not
    * row count — every row tied with the boundary ADC score enters the
    * re-rank, so verbatim replication (the 10×/100× sweep modes, where
    * replicas carry identical codes hence identical left-to-right-folded
    * ADC doubles) can never split a replica group at the boundary. The
    * HEADLINE rows keep the fixed production shortlist; this trades
    * shortlist memory for an SF-robust hash-exact check of the same
    * codebook/encode/LUT/re-rank machinery. */
  private def adcRerankBanded(
      e: DataFrame,
      codedCand: DataFrame,
      qraw: Seq[Double],
      books: Map[Int, Array[(Int, Seq[Double])]],
      corpusN: Long): DataFrame = {
    // clamp: ⌈frac·n⌉ exceeds Int range above ~5.3B rows — these twins are
    // small-SF gate checks, but an unguarded .toInt would wrap negative and
    // fail limit() at runtime instead of degrading to a (still value-cut,
    // still correct) Int.MaxValue shortlist
    val shortlistN = math.min(
      math.max(PqShortlist.toLong, math.ceil(CheckShortlistFrac * corpusN).toLong),
      Int.MaxValue.toLong).toInt
    val scored = adcScores(codedCand, qraw, books)
    // boundary = shortlistN-th largest adc (bounded driver pull: one
    // double); the value-cut filter below is what the executors run
    val barRow = scored.orderBy(col("adc").desc).limit(shortlistN)
      .agg(min(col("adc"))).collect()(0)
    if (barRow.isNullAt(0)) emptyTopK(e)
    else exactRerank(e, scored.filter(col("adc") >= barRow.getDouble(0)), qraw)
  }

  /** Shortlist fraction for the `_check` twins (see [[adcRerankBanded]]). */
  private val CheckShortlistFrac = 0.4

  /** Probe count for q_sim_ivfpq_check: the measured worst probe-order
    * cell rank of a true top-10 member is 7/16 at sf0.001 (vs 2/16 at the
    * gate SF) — 10 keeps margin while still exercising the cell-pruned
    * scan (6 of 16 cells never read). */
  private val CheckIvfProbes = 10

  /** SF-robust hash-gated twin of [[qSimPq]] (gate row q_sim_pq_check):
    * identical codebooks, stored code table, LUT and re-rank tail; only
    * the shortlist cut is the calibrated tie-inclusive one of
    * [[adcRerankBanded]], so the exact-top-10 equality vs the DuckDB
    * brute-force oracle holds at every swept SF. */
  def qSimPqCheck(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")).cache()
    e.filter(col("vec_id") === 0).collect().headOption match {
      case None => emptyTopK(e)
      case Some(qrow) =>
        val qraw = qrow.getSeq[Float](1).map(_.toDouble)
        val (cbT, cdT) = ensurePqIndex(s, d, e)
        val codes = s.table(cdT)
        adcRerankBanded(
          e, codes.filter(col("vec_id") =!= 0), qraw, loadPqBooks(s, cbT), codes.count())
    }
  }

  /** SF-robust hash-gated twin of [[qSimIvfPq]] (gate row
    * q_sim_ivfpq_check): same coarse cells, codebooks and ADC machinery;
    * [[CheckIvfProbes]] probed cells plus [[adcRerankBanded]]'s
    * calibrated tie-inclusive shortlist make exact recovery hold at
    * every swept SF. */
  def qSimIvfPqCheck(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")).cache()
    val cents: Array[(Int, Seq[Double])] = e
      .filter(col("vec_id") < IvfCells)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    cents.find(_._1 == 0).map(_._2) match {
      case None => emptyTopK(e)
      case Some(qraw) =>
        val (cbT, cdT) = ensurePqIndex(s, d, e)
        val codes = s.table(cdT)
        val cand = probedCandidates(e, cents, qraw, CheckIvfProbes).select("vec_id")
        adcRerankBanded(
          e, codes.join(cand, "vec_id"), qraw, loadPqBooks(s, cbT), codes.count())
    }
  }

  private val IvfPqProbes = 4

  /** IVF-PQ composite — the full production ANN stack at 100 TB. The IVF
    * coarse quantizer prunes the scan to the query's [[IvfPqProbes]]
    * nearest cells (~nprobe/nlist of the corpus; partition-prunable when
    * the index is written bucketed by cell), the PQ code table then gives
    * a memory-bound ADC shortlist WITHIN those cells (the first pass
    * touches 8 one-byte codes per candidate, never the 64-float vectors),
    * and only the shortlist reads real vectors for the exact top-10
    * re-rank. Composes the two proven stages — [[qIvf]]'s deterministic
    * cells and [[qSimPq]]'s seeded-Lloyd codebooks — with no new moving
    * parts. k-means codes aren't SQL-expressible → no DuckDB oracle;
    * SketchSpec asserts a recall@10 floor vs the brute-force baseline on
    * the real corpus. */
  def qSimIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")).cache()
    val cents: Array[(Int, Seq[Double])] = e
      .filter(col("vec_id") < IvfCells)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    // vec 0 satisfies vec_id < IvfCells — reuse the centroid pull instead
    // of a second full-scan collect (same pattern as qIvf)
    cents.find(_._1 == 0).map(_._2) match {
      case None => emptyTopK(e)
      case Some(qraw) =>
        val (cbT, cdT) = ensurePqIndex(s, d, e)
        val cand = probedCandidates(e, cents, qraw, IvfPqProbes).select("vec_id")
        adcRerank(e, s.table(cdT).join(cand, "vec_id"), qraw, loadPqBooks(s, cbT))
    }
  }

  /** Per-label mean embedding — the "embedding pooling" aggregation of a
    * training pipeline (class centroids / prototype vectors, the batch
    * form of what IVF's k-means update step computes). posexplode
    * flattens to (label, pos, value); a combiner-backed groupBy(label,
    * pos) then averages, so the shuffle carries only nlabels×dim partial
    * (sum, count) pairs regardless of corpus size. The compared column is
    * micro-scaled BIGINT (⌊μ·10⁶+0.5⌋) — no raw double rides the hash. */
  def qEmbedCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(
        floor(avg(col("col").cast("double")) * 1e6 + 0.5).cast("long").as("mu_micro"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("mu_micro"), col("n"))
      .orderBy("label", "pos")

  private val qEmbedCentroidsSql =
    """SELECT label, CAST(i - 1 AS BIGINT) AS pos,
      |  CAST(floor(avg(embedding[i]::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS mu_micro,
      |  count(*)::BIGINT AS n
      |FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
      |GROUP BY label, i
      |ORDER BY label, pos""".stripMargin

  /** Int8 embedding quantization audit over [[graft.functions.Int8Quant]]:
    * per vector, the symmetric-quantization integer summary (lane count,
    * Σq, Σ|q|, saturated lanes) plus the micro-scaled scale factor — the
    * 4-bytes→1-byte storage compression a 100 TB embedding store runs
    * before ANN serving. ONE narrow codegen'd scan, no shuffle (the
    * orderBy is gate-only); the struct's exact integer sums pin every
    * lane's quantized value without putting a raw double on the hash
    * surface. The DuckDB oracle replays the same fixed-shape IEEE
    * arithmetic ((x·127)/m in doubles) lane by lane. */
  def qEmbedQuantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), graft.functions.NativeExprs.int8Quant(col("embedding")).as("q"))
      .select(
        col("vec_id"),
        col("q.n_dims").as("n_dims"),
        col("q.q_sum").as("q_sum"),
        col("q.q_l1").as("q_l1"),
        col("q.n_sat").as("n_sat"),
        col("q.m_micro").as("m_micro"))
      .orderBy("vec_id")

  private val qEmbedQuantizeSql =
    """WITH x AS (
      |  SELECT vec_id, unnest(embedding)::DOUBLE AS v FROM embeddings),
      |m AS (
      |  SELECT vec_id, max(abs(v)) AS m, count(*) AS n_dims FROM x GROUP BY 1),
      |q AS (
      |  SELECT x.vec_id,
      |    CASE WHEN m.m = 0 THEN 0.0 ELSE floor((x.v * 127.0) / m.m + 0.5) END AS qv
      |  FROM x JOIN m USING (vec_id))
      |SELECT q.vec_id, m.n_dims::BIGINT AS n_dims,
      |  sum(qv)::BIGINT AS q_sum,
      |  sum(abs(qv))::BIGINT AS q_l1,
      |  count(CASE WHEN abs(qv) = 127 THEN 1 END)::BIGINT AS n_sat,
      |  CAST(floor(m.m * 1000000 + 0.5) AS BIGINT) AS m_micro
      |FROM q JOIN m USING (vec_id)
      |GROUP BY q.vec_id, m.n_dims, m.m
      |ORDER BY q.vec_id""".stripMargin

  /** Embedding OUTLIER pruning: the 3 vectors farthest from their
    * label's centroid, by exact-integer squared distance in micro units —
    * the embedding-space analogue of the quality gate (mislabeled /
    * corrupt / out-of-distribution points sit far from their class
    * prototype; training mixes drop or down-weight them). Determinism is
    * by construction, not luck: lanes quantize to micro ints FIRST
    * (⌊v·10⁶+0.5⌋, the [[qEmbedCentroids]] convention), the centroid is
    * the floor-divided integer mean (≤ 1 micro off the true mean —
    * irrelevant at outlier distances, and bit-identical in both
    * engines since |Σv_micro| < 2⁵³ makes the IEEE division exact-input),
    * and d² = Σ(v−μ)² stays in BIGINT throughout (per-lane diff ≤ ~4·10⁶
    * → lane square ≤ ~2·10¹³ → 64-lane sum ≪ 2⁶³ at any corpus size —
    * the bound is per-VECTOR, so it holds at 100 TB unconditionally).
    * Plan shape: one posexplode scan, a combiner-backed groupBy for the
    * nlabels×dim centroid dim (broadcast back), one groupBy(vec) for d²,
    * and a per-label top-3 window that compiles to WindowGroupLimit. */
  def qEmbedOutliers(s: SparkSession, d: String): DataFrame = {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(
        col("vec_id"),
        col("label"),
        col("pos"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("v_micro"))
    val mu = x
      .groupBy("label", "pos")
      .agg(floor(sum("v_micro") / count(lit(1))).cast("long").as("mu_micro"))
    val diff = col("v_micro") - col("mu_micro")
    val d2 = x
      .join(broadcast(mu), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(diff * diff).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label")
      .orderBy(col("d2").desc, col("vec_id"))
    d2.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("label", "rnk", "vec_id", "d2")
      .orderBy("label", "rnk")
  }

  private val qEmbedOutliersSql =
    """WITH x AS (
      |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS pos,
      |    CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT) AS v_micro
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
      |mu AS (
      |  SELECT label, pos, CAST(floor(sum(v_micro) / count(*)) AS BIGINT) AS mu_micro
      |  FROM x GROUP BY 1, 2),
      |d2 AS (
      |  SELECT vec_id, x.label,
      |    sum((v_micro - mu_micro) * (v_micro - mu_micro))::BIGINT AS d2
      |  FROM x JOIN mu USING (label, pos) GROUP BY 1, 2)
      |SELECT label, rnk, vec_id, d2 FROM (
      |  SELECT label, vec_id, d2,
      |    CAST(row_number() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS BIGINT) AS rnk
      |  FROM d2)
      |WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin

  /** Hybrid retrieval: TF-IDF keyword blocking + embedding cosine
    * re-rank — the two-stage search-stack shape (sparse recall, dense
    * precision). Stage 1 probes the per-doc top-5 TF-IDF keyword table
    * ([[TextOps.qTfidf]] — one shared definition) with the query doc's
    * keywords (a broadcast handful of terms) and takes the DISTINCT
    * matching docs: candidate volume is bounded by the keyword posting
    * lists, never the corpus. Stage 2 joins ONLY the candidates to their
    * embeddings (doc_id = vec_id alignment in the test data) and
    * exact-cosine re-ranks against the query vector. The keyword table IS
    * a prebuilt inverted index ([[graft.sources.Warehouse]]): built once
    * from the TF-IDF definition, persisted bucketed by `term`, and only
    * SCANNED here — the probe never re-runs the two TF-IDF shuffles, and
    * the wide vector column is read only for stage-2 candidates. */
  def qHybridSearch(s: SparkSession, d: String): DataFrame = {
    val kwT = graft.sources.Warehouse.tableName("graft_kw", d)
    graft.sources.Warehouse.ensure(s, kwT, "term", srcDir = d) {
      TextOps.qTfidf(s, d).select(col("doc_id"), col("term"))
    }
    val kw = s.table(kwT)
    val probe = broadcast(kw.filter(col("doc_id") === 0).select("term"))
    val cands = kw.filter(col("doc_id") =!= 0).join(probe, "term").select("doc_id").distinct()
    val e = Tables.embeddings(s, d).select(col("vec_id").as("doc_id"), col("embedding").as("v"))
    val qv = broadcast(e.filter(col("doc_id") === 0).select(col("v").as("qv")))
    cands
      .join(e, "doc_id")
      .crossJoin(qv)
      .select(
        col("doc_id"),
        pround(graft.functions.NativeExprs.cosineSim(col("v"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(10)
  }

  private val qHybridSearchSql =
    s"""WITH kw AS (${TextOps.qTfidfSql}),
       |probe AS (SELECT term FROM kw WHERE doc_id = 0),
       |cands AS (SELECT DISTINCT k.doc_id FROM kw k JOIN probe USING (term) WHERE k.doc_id <> 0),
       |e AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE doc_id = 0)
       |SELECT c.doc_id, floor(list_cosine_similarity(e.v, q.qv) * 1000000 + 0.5) / 1000000.0 AS cos
       |FROM cands c JOIN e USING (doc_id), q
       |ORDER BY cos DESC, doc_id LIMIT 10""".stripMargin

  /** k-NN CLASSIFICATION over the embedding corpus: for each query
    * vector (a bounded batch — vec_id < 20 here), the majority label of
    * its 5 nearest labeled neighbors (leave-one-out), with deterministic
    * ties everywhere: neighbors rank by (pround'd cosine DESC, vec_id)
    * and the vote by (count DESC, label ASC), so both engines elect the
    * same label bit-for-bit. This is the eval loop every embedding
    * pipeline runs over its index ("does neighborhood structure encode
    * the label?") and the brute-force baseline the ANN paths
    * (IVF/PQ/LSH) approximate — swap the candidate generator, keep the
    * vote. Plan: the query batch broadcasts (20 rows), candidates rank
    * through WindowGroupLimit (per-partition top-5 per query BEFORE the
    * shuffle), and the vote aggregates ≤ 5·batch rows — per-query cost
    * is one corpus scan no matter the corpus size, and batch queries
    * share that scan. */
  def qKnnClassify(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
    val q = broadcast(
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("label").as("ql")))
    val ranked = e
      .join(q, col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("ql"),
        col("vec_id"),
        col("label"),
        pround(graft.functions.NativeExprs.cosineSim(col("v"), col("qv")), 6).as("cos"))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= 5)
    ranked
      .groupBy("qid", "ql", "label")
      .agg(count(lit(1)).as("votes"))
      .withColumn(
        "pr",
        row_number().over(Window.partitionBy("qid").orderBy(col("votes").desc, col("label"))))
      .filter(col("pr") === 1)
      .select(
        col("qid").as("vec_id"),
        col("ql").cast("long").as("label_true"),
        col("label").cast("long").as("label_pred"),
        col("votes"))
      .orderBy("vec_id")
  }

  private val qKnnClassifySql =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS ql
      |  FROM embeddings WHERE vec_id < 20),
      |c AS (
      |  SELECT q.qid, q.ql, e.vec_id, e.label,
      |    floor(list_cosine_similarity(e.embedding::DOUBLE[], q.qv) * 1000000 + 0.5)
      |      / 1000000.0 AS cos
      |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
      |  FROM c),
      |v AS (
      |  SELECT qid, ql, label, count(*) AS votes FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
      |p AS (
      |  SELECT qid, ql, label, votes,
      |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS pr
      |  FROM v)
      |SELECT qid AS vec_id, ql::BIGINT AS label_true, label::BIGINT AS label_pred, votes
      |FROM p WHERE pr = 1 ORDER BY vec_id""".stripMargin

  /** Bitext-style parallel-pair mining (the margin criterion of
    * Artetxe & Schwenk's corpus-mining line): treat label 0 as the
    * "source language" slice and label 1 as the "target" slice; for each
    * source vector, rank target vectors by cosine and score the best
    * match by its MARGIN over the next-nearest neighbors — absolute
    * cosine is miscalibrated across queries (hubness), margin is what
    * separates true translation pairs from dense-region noise. All
    * compared columns are exact integers: cosines as ppm
    * (floor(c·10⁶+0.5)), margin as 3·c₁ − (c₂+c₃+c₄) in ppm (3× the
    * mean-of-3 margin — integer, no division), admission as a 0/1 flag.
    * Every source emits exactly one row (its best candidate + verdict),
    * so the gate surface is stable at any SF. Scale: the source batch is
    * the broadcast side (a mining job processes bounded query batches);
    * candidates stream through one scan; per-query top-4 is a
    * WindowGroupLimit, not a sort of all pairs. */
  def qBitextMine(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val src = broadcast(
      e.filter(col("label") === 0)
        .select(col("vec_id").as("src_id"), col("embedding").as("sv")))
    val tgt = e.filter(col("label") === 1)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("tv"))
    val ranked = tgt
      .crossJoin(src)
      .select(
        col("src_id"),
        col("tgt_id"),
        asScaled(graft.functions.NativeExprs.cosineSim(col("sv"), col("tv")), 6)
          .as("cos_ppm"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("src_id").orderBy(col("cos_ppm").desc, col("tgt_id"))))
      .filter(col("rn") <= 4)
    ranked
      .groupBy("src_id")
      .agg(
        max(when(col("rn") === 1, col("tgt_id"))).as("match_id"),
        max(when(col("rn") === 1, col("cos_ppm"))).as("cos_ppm"),
        (lit(3) * max(when(col("rn") === 1, col("cos_ppm"))) -
          sum(when(col("rn") > 1, col("cos_ppm")).otherwise(0L))).as("margin_ppm3"))
      .withColumn("admitted", (col("margin_ppm3") > 30000L).cast("long"))
      .select(col("src_id").as("vec_id"), col("match_id"), col("cos_ppm"),
        col("margin_ppm3"), col("admitted"))
      .orderBy("vec_id")
  }

  private val qBitextMineSql =
    s"""WITH src AS (
      |  SELECT vec_id AS src_id, embedding::DOUBLE[] AS sv FROM embeddings WHERE label = 0),
      |tgt AS (
      |  SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS tv FROM embeddings WHERE label = 1),
      |c AS (
      |  SELECT src_id, tgt_id,
      |    ${graft.functions.PortableRound.asScaledSql("list_cosine_similarity(sv, tv)", 6)}
      |      AS cos_ppm
      |  FROM src, tgt),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY cos_ppm DESC, tgt_id) AS rn
      |  FROM c),
      |m AS (
      |  SELECT src_id,
      |    max(CASE WHEN rn = 1 THEN tgt_id END) AS match_id,
      |    max(CASE WHEN rn = 1 THEN cos_ppm END) AS cos_ppm,
      |    3 * max(CASE WHEN rn = 1 THEN cos_ppm END)
      |      - sum(CASE WHEN rn > 1 THEN cos_ppm ELSE 0 END) AS margin_ppm3
      |  FROM r WHERE rn <= 4 GROUP BY src_id)
      |SELECT src_id AS vec_id, match_id, cos_ppm::BIGINT AS cos_ppm,
      |  margin_ppm3::BIGINT AS margin_ppm3,
      |  (CASE WHEN margin_ppm3 > 30000 THEN 1 ELSE 0 END)::BIGINT AS admitted
      |FROM m ORDER BY vec_id""".stripMargin

  private val PcaIters = 24
  private val PcaScale = BigInt(1000000)

  /** The embedding table micro-scaled (⌊x·10⁶+0.5⌋ per coordinate) with
    * the requested extra columns kept — one definition for the moment
    * aggregation and the projection pass. */
  private def microVecs(s: SparkSession, d: String, keep: String*): DataFrame =
    Tables.embeddings(s, d)
      .select(keep.map(col) :+ transform(col("embedding"), x =>
        floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("long")).as("v"): _*)

  /** The signed top-component (micro units) — shared by [[qPcaPower]]
    * (which emits it) and [[qPcaProject]] (which projects with it).
    * PERSISTED build-once as a 64-row managed table
    * ([[graft.sources.Warehouse]]), like the PQ codebooks and IVF
    * centroids: the moment aggregation + iteration is the nightly fit
    * job; query time reads the stored component (the fit never reruns
    * per query). */
  private def pcaComponentOf(s: SparkSession, d: String): Array[Long] = {
    val tbl = graft.sources.Warehouse.tableName("graft_pca_comp", d)
    graft.sources.Warehouse.ensureVia(s, tbl, srcDir = d) {
      import s.implicits._
      val comp = fitPcaComponent(s, d)
      comp.indices.map(i => ((i + 1).toLong, comp(i)))
        .toDF("dim", "comp_micro")
        .write.saveAsTable(tbl)
    }
    s.table(tbl).collect().sortBy(_.getLong(0)).map(_.getLong(1))
  }

  /** The fit itself: distributed moments, driver-side BigInt iteration. */
  private def fitPcaComponent(s: SparkSession, d: String): Array[Long] = {
    val micro = microVecs(s, d).cache()
    val ex = micro.select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
    val sxRows = ex.groupBy("i")
      .agg(
        sum(col("xi").cast("decimal(38,0)")).as("sxi"),
        count(lit(1)).as("n"))
      .collect()
    val sxxRows = ex
      .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,0)")).as("sxij"))
      .collect()
    micro.unpersist()
    val dim = sxRows.length
    val n = BigInt(sxRows.head.getLong(2))
    val sx = Array.fill(dim)(BigInt(0))
    sxRows.foreach(r => sx(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
    val m = Array.fill(dim, dim)(BigInt(0))
    sxxRows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      m(i)(j) = n * BigInt(r.getDecimal(2).toBigInteger) - sx(i) * sx(j)
    }
    // BigInt `/` truncates toward zero — exactly DuckDB's integer `//`
    // (measured: -7 // 2 = -3), so the renormalization is engine-identical
    // for negative components without any offset trick
    var v = Array.tabulate(dim)(i => if (i == 0) PcaScale else BigInt(0))
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => m(i)(j) * v(j)).sum)
      val sMax = w.map(_.abs).max
      v = w.map(x => x * PcaScale / sMax)
    }
    val am = v.indices.minBy(i => (-v(i).abs, i))
    val sg = if (v(am).signum < 0) BigInt(-1) else BigInt(1)
    v.map(x => (x * sg).toLong).toArray
  }

  /** Top principal component of the embedding corpus by exact-integer
    * power iteration — the dimensionality-reduction primitive (whitening,
    * coreset projection, drift monitoring all start from it), made
    * engine-exact so a 1000-executor run and DuckDB produce bit-identical
    * components.
    *
    * Distributed part: micro-scale each coordinate (⌊x·10⁶+0.5⌋, the
    * repo's fixed-point idiom), then ONE combiner-backed aggregation for
    * the d first moments and the d² second moments. The scatter matrix is
    * mean-centered analytically — M = n·Σxxᵀ − (Σx)(Σx)ᵀ (exact integers;
    * no rational means) — and only d²+d bounded rows are collected: the
    * same k×dim-collect pattern as the k-means/PQ codebooks, independent
    * of corpus size. Sums ride DECIMAL(38,0) so 10¹²-row corpora cannot
    * wrap the BIGINT partials.
    *
    * Driver part (BigInt, deterministic): [[PcaIters]] power iterations
    * from e₁, renormalizing each step to max|v|=10⁶ by truncating
    * division (BigInt `/` and DuckDB's integer `//` both round toward
    * zero — measured, not assumed), then a sign convention (component at the largest-|value| index
    * — ties to the lowest — made positive). The oracle replays the whole
    * iteration in a recursive CTE over HUGEINT lists; SimilaritySpec
    * checks the integer component against a double-precision eigenvector
    * by Rayleigh quotient. Fixed iteration count, not a convergence test:
    * both engines must run the exact same arithmetic. */
  def qPcaPower(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val comp = pcaComponentOf(s, d)
    comp.indices.map(i => ((i + 1).toLong, comp(i)))
      .toDF("dim", "comp_micro")
      .orderBy("dim")
  }

  /** The component-computing CTE chain (through `sgn`), shared by the
    * power and projection oracles so the two cannot drift. */
  private val pcaComponentSqlCtes =
    s"""e AS (
       |  SELECT list_transform(embedding,
       |           x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS HUGEINT)) AS v
       |  FROM embeddings),
       |sx AS (
       |  SELECT i.i AS i, sum(v[i.i])::HUGEINT AS sxi
       |  FROM e, (SELECT unnest(range(1, ${Dim + 1})) AS i) i GROUP BY 1),
       |sxx AS (
       |  SELECT i.i AS i, j.j AS j, sum(v[i.i] * v[j.j])::HUGEINT AS sxij
       |  FROM e, (SELECT unnest(range(1, ${Dim + 1})) AS i) i,
       |       (SELECT unnest(range(1, ${Dim + 1})) AS j) j
       |  GROUP BY 1, 2),
       |nn AS (SELECT count(*)::HUGEINT AS n FROM e),
       |mrow AS (
       |  SELECT s.i, list(nn.n * s.sxij - a.sxi * b.sxi ORDER BY s.j) AS row
       |  FROM sxx s JOIN sx a ON a.i = s.i JOIN sx b ON b.i = s.j CROSS JOIN nn
       |  GROUP BY s.i),
       |mm AS (SELECT list(row ORDER BY i) AS rows FROM mrow),
       |it AS (
       |  SELECT 0 AS k,
       |         list_transform(range(1, ${Dim + 1}),
       |           i -> CASE WHEN i = 1 THEN 1000000::HUGEINT ELSE 0::HUGEINT END) AS v
       |  UNION ALL
       |  SELECT k + 1, list_transform(w, x -> (x * 1000000) // s)
       |  FROM (
       |    SELECT it.k,
       |           list_transform(mm.rows,
       |             r -> list_sum(list_transform(range(1, ${Dim + 1}),
       |                    j -> r[j] * it.v[j]))) AS w
       |    FROM it, mm WHERE it.k < $PcaIters) t,
       |    LATERAL (SELECT list_max(list_transform(t.w, x -> abs(x))) AS s) ls),
       |fin AS (SELECT v FROM it WHERE k = $PcaIters),
       |ix AS (
       |  SELECT i.i AS idx, f.v[i.i] AS x
       |  FROM fin f, (SELECT unnest(range(1, ${Dim + 1})) AS i) i),
       |sgn AS (
       |  SELECT CASE WHEN x < 0 THEN -1 ELSE 1 END AS sg
       |  FROM ix ORDER BY abs(x) DESC, idx LIMIT 1)""".stripMargin

  private val qPcaPowerSql =
    s"""WITH RECURSIVE
       |$pcaComponentSqlCtes
       |SELECT ix.idx::BIGINT AS dim, (ix.x * sgn.sg)::BIGINT AS comp_micro
       |FROM ix, sgn
       |ORDER BY dim""".stripMargin

  /** Per-label projection card over the top component — the
    * dimensionality-reduction primitive APPLIED: every embedding's exact
    * integer projection Σᵢ compᵢ·xᵢ (micro·micro units), summarized per
    * label (count, truncating-div mean, min, max). The drift-monitoring /
    * class-separation readout a 1-D reduction exists for. The component
    * is the same driver-side iteration as [[qPcaPower]]
    * ([[pcaComponentOf]]); the projection itself is one codegen'd
    * zip_with/aggregate scan — no joins, no shuffle beyond the |labels|-
    * key aggregate, and the per-row product tops out at
    * 64·10⁶·3·10⁵ ≈ 2·10¹³ (BIGINT-safe); the label SUM rides
    * DECIMAL(38,0). */
  def qPcaProject(s: SparkSession, d: String): DataFrame = {
    val comp = pcaComponentOf(s, d)
    microVecs(s, d, "label")
      .select(
        col("label"),
        aggregate(
          zip_with(col("v"), typedlit(comp.toSeq), (x, c) => x * c),
          lit(0L), (acc, y) => acc + y).as("proj"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        sum(col("proj").cast("decimal(38,0)")).as("psum"),
        min("proj").as("min_proj"),
        max("proj").as("max_proj"))
      .select(
        col("label"), col("n"),
        expr("psum div n").as("mean_proj"),
        col("min_proj"), col("max_proj"))
      .orderBy("label")
  }

  private val qPcaProjectSql =
    s"""WITH RECURSIVE
       |$pcaComponentSqlCtes,
       |cvec AS (
       |  SELECT list_transform(range(1, ${Dim + 1}), i -> f.v[i] * sgn.sg) AS c
       |  FROM fin f, sgn),
       |el AS (
       |  SELECT label, list_transform(embedding,
       |           x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS HUGEINT)) AS v
       |  FROM embeddings),
       |proj AS (
       |  SELECT el.label,
       |         list_sum(list_transform(range(1, ${Dim + 1}), i -> el.v[i] * cvec.c[i])) AS p
       |  FROM el, cvec)
       |SELECT label, count(*)::BIGINT AS n,
       |  (sum(p) // count(*))::BIGINT AS mean_proj,
       |  min(p)::BIGINT AS min_proj, max(p)::BIGINT AS max_proj
       |FROM proj GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------------------ MMR re-rank

  private[operators] val MmrK = 10
  private[operators] val MmrCand = 50

  /** The greedy MMR selection over a BOUNDED candidate set, all-integer:
    * round r picks argmax of 7·qcos_µ(i) − 3·max_{j∈picked} cos_µ(i,j)
    * (λ = 0.7 as exact integer weights; score in deci-micro units), ties
    * to the smaller id; the first pick's penalty term is 0 (empty set).
    * Pure function of the integer inputs — the determinism the DuckDB
    * recursive twin replays exactly. */
  private[operators] def mmrGreedy(
      ids: Array[Long], qm: Array[Long], pm: (Int, Int) => Long,
      k: Int): Seq[(Long, Long, Long, Long)] = {
    val n = ids.length
    val used = new Array[Boolean](n)
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var rank = 1L
    while (rank <= math.min(k, n)) {
      var best = -1
      var bestScore = Long.MinValue
      var i = 0
      while (i < n) {
        if (!used(i)) {
          var pen = 0L
          if (picked.nonEmpty) {
            pen = Long.MinValue
            picked.foreach(j => pen = math.max(pen, pm(i, j)))
          }
          val sc = 7L * qm(i) - 3L * pen
          if (sc > bestScore || (sc == bestScore && (best < 0 || ids(i) < ids(best)))) {
            best = i; bestScore = sc
          }
        }
        i += 1
      }
      used(best) = true
      picked += best
      out += ((rank, ids(best), qm(best), bestScore))
      rank += 1
    }
    out.toSeq
  }

  /** MAXIMAL-MARGINAL-RELEVANCE re-rank — the diversity layer every
    * retrieval stack puts between ANN and the consumer: from the exact
    * top-[[MmrCand]] cosine candidates of query vec 0, greedily select
    * [[MmrK]] results trading relevance against similarity to what is
    * already selected ([[mmrGreedy]]). Scale split, and why each side
    * lives where it does: the CORPUS-sized work (scan → cosine →
    * top-50) is a distributed TakeOrdered over the full embeddings
    * table; the candidate set that crosses to the driver is bounded by
    * construction (MmrCand rows per query — the client-side reranker
    * pattern, far inside SCALE.md's ≤64k-row pull policy), and the
    * O(k·|C|) greedy runs on those 50. All scores are integer
    * micro-cosines (floor(cos·10⁶ + ½) — the repo's pround convention),
    * so the greedy's argmax chain is exact integer arithmetic in both
    * engines: the DuckDB twin replays it as a recursive selection over
    * the same rounded values, and the hash gate compares the full
    * (rank, id, relevance, score) trace, not just the id set. */
  def qMmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = broadcast(e.filter(col("vec_id") === 0).select(col("v").as("qv")))
    val cands = e.filter(col("vec_id") =!= 0)
      .crossJoin(q)
      .select(
        col("vec_id"), col("v"),
        floor(graft.functions.NativeExprs.cosineSim(col("v"), col("qv")) * lit(1000000.0)
          + lit(0.5)).cast("long").as("qm"))
      .orderBy(col("qm").desc, col("vec_id"))
      .limit(MmrCand)
      .collect()
    val ids = cands.map(_.getLong(0))
    val vecs = cands.map(_.getSeq[Double](1))
    val qms = cands.map(_.getLong(2))
    val n = ids.length
    val pm = Array.tabulate(n, n) { (i, j) =>
      if (i == j) 0L
      else math.floor(cosScala(vecs(i), vecs(j)) * 1000000.0 + 0.5).toLong
    }
    mmrGreedy(ids, qms, (i, j) => pm(i)(j), MmrK)
      .toDF("rank", "vec_id", "qcos_micro", "mmr_dm")
      .orderBy("rank")
  }

  private val qMmrRerankSql =
    """WITH RECURSIVE cand AS (
      |  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
      |    CAST(floor(list_cosine_similarity(e.embedding::DOUBLE[], q.qv)*1000000 + 0.5) AS BIGINT) AS qm
      |  FROM embeddings e,
      |    (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
      |  WHERE e.vec_id <> 0
      |  ORDER BY qm DESC, e.vec_id LIMIT 50),
      |pc AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    CAST(floor(list_cosine_similarity(a.v, b.v)*1000000 + 0.5) AS BIGINT) AS pm
      |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
      |sel(it, vec_id, qm, score, picked) AS (
      |  SELECT 1, vec_id, qm, 7*qm, [vec_id]
      |  FROM (SELECT * FROM cand ORDER BY qm DESC, vec_id LIMIT 1)
      |  UNION ALL
      |  SELECT s.it + 1, w.vec_id, w.qm, w.score, list_append(s.picked, w.vec_id)
      |  FROM sel s, LATERAL (
      |    SELECT c.vec_id, c.qm,
      |      7*c.qm - 3*coalesce((SELECT max(pm) FROM pc
      |                           WHERE pc.ia = c.vec_id
      |                             AND list_contains(s.picked, pc.ib)), 0) AS score
      |    FROM cand c WHERE NOT list_contains(s.picked, c.vec_id)
      |    ORDER BY score DESC, c.vec_id LIMIT 1) w
      |  WHERE s.it < 10)
      |SELECT CAST(it AS BIGINT) AS rank, vec_id, qm AS qcos_micro,
      |  CAST(score AS BIGINT) AS mmr_dm
      |FROM sel ORDER BY rank""".stripMargin

  // ----------------------------------------------------- int8 quantized search

  /** QUANTIZED similarity search — top-10 by integer int8 dot product,
    * the search-side consumer of the [[graft.functions.Int8Quant]]
    * storage audit: every vector is quantized per-row (q = floor(x·127/
    * max|lane| + ½), [[graft.functions.Int8Codes]]) and scored against
    * the query's codes with a codegen'd dot product over exact small
    * integers — 4× less scan bandwidth than float32 at 100 TB, the
    * standard memory/recall trade. Unlike the PQ/IVF rows (recall-
    * spec'd), this one is FULLY hash-gated: quantization and dot are
    * bit-replayable in SQL (fixed expression shape, integer-exact sums
    * ≤ 64·127² per pair), so the DuckDB twin reproduces the exact
    * top-10 and its integer scores. Scan shape = [[qTopKExact]]'s
    * (distributed scan → TakeOrdered), codes never materialize beyond
    * the projection. */
  def qSimInt8Topk(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.NativeExprs.int8Codes(col("embedding").cast("array<double>")).as("c"))
    val q = broadcast(e.filter(col("vec_id") === 0).select(col("c").as("qc")))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(q)
      .select(
        col("vec_id"),
        graft.functions.NativeExprs.dotProd(col("c"), col("qc")).cast("long").as("iscore"))
      .orderBy(col("iscore").desc, col("vec_id"))
      .limit(10)
  }

  private val qSimInt8TopkSql =
    """WITH codes AS (
      |  SELECT vec_id,
      |    CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
      |         ELSE list_transform(v, x -> floor(x * 127.0 / m + 0.5)) END AS c
      |  FROM (
      |    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m
      |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))),
      |q AS (SELECT c AS qc FROM codes WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  CAST(list_dot_product(e.c, q.qc) AS BIGINT) AS iscore
      |FROM codes e, q
      |WHERE e.vec_id <> 0
      |ORDER BY iscore DESC, e.vec_id LIMIT 10""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q_mmr_rerank", qMmrRerank, Some(qMmrRerankSql)),
    Q("q_sim_int8_topk", qSimInt8Topk, Some(qSimInt8TopkSql)),
    Q("q_sim_topk_exact", qTopKExact, Some(qTopKExactSql)),
    Q("q_pca_power", qPcaPower, Some(qPcaPowerSql)),
    Q("q_pca_project", qPcaProject, Some(qPcaProjectSql)),
    Q("q_bitext_mine", qBitextMine, Some(qBitextMineSql)),
    Q("q_knn_classify", qKnnClassify, Some(qKnnClassifySql)),
    Q("q_sim_ann_lsh", qAnnLsh, Some(qAnnLshSql)),
    Q("q_sim_bucketed_pairs", qBucketedPairs, Some(qBucketedPairsSql)),
    Q("q_sim_ivf", qIvf, Some(qIvfSql)),
    Q("q_sim_ivf_append", qIvfAppend, Some(qIvfAppendSql)),
    Q("q_sim_ivf_forget", qIvfForget, Some(qIvfForgetSql)),
    Q("q_sim_ivf_kmeans", qIvfKmeans, None),
    Q("q_sim_pq", qSimPq, None),
    Q("q_sim_ivfpq", qSimIvfPq, None),
    // Gate rows turning the PQ no-oracle claims into hash-compared rows, the
    // qMinhashRecall pattern: the check twins run the SAME codebook fit,
    // stored code table, ADC LUT scan and exact re-rank tail as the
    // headline rows, with the shortlist cut swapped for adcRerankBanded's
    // SF-calibrated tie-inclusive one — so exact recovery of the DuckDB
    // brute-force top-10 (ids AND cosines) holds at EVERY swept SF
    // (sf0.001 / sf0.01 / 10×-replica), not just the calibration one. A
    // codebook/encode/ADC/rerank regression breaks the hash gate instead
    // of hiding in a no-oracle row; SketchSpec separately holds the
    // production-shortlist recall floors on the headline rows.
    Q("q_sim_pq_check", qSimPqCheck, Some(qTopKExactSql), headline = false),
    Q("q_sim_ivfpq_check", qSimIvfPqCheck, Some(qTopKExactSql), headline = false),
    Q("q_sim_kmeans_check", qKmeansRecallCheck, Some(qKmeansRecallCheckSql), headline = false),
    Q("q_embed_centroids", qEmbedCentroids, Some(qEmbedCentroidsSql)),
    Q("q_embed_quantize", qEmbedQuantize, Some(qEmbedQuantizeSql)),
    Q("q_embed_outliers", qEmbedOutliers, Some(qEmbedOutliersSql)),
    Q("q_hybrid_search", qHybridSearch, Some(qHybridSearchSql)))
}
