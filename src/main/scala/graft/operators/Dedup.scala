package graft.operators

import graft.{Q, Tables}
import graft.functions.PortableRound.pround
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings` — the core of a
  * training-data pipeline. Five strategies, from exact to approximate:
  *
  *   1. exact       — hash-groupBy on a normalization key
  *   2. n-gram Jaccard — inverted-index (shingle) join, NO cross join
  *   3. MinHash+LSH — signature → bands → bucket join (the 100 TB path)
  *   4. SimHash     — 64-bit sketch + Hamming-band blocking
  *   5. embedding   — cosine near-dup pairs with candidate blocking
  *
  * Scale design: every pairwise method generates candidates through a join
  * on a *blocking key* (shingle, band signature, Hamming band, label) and
  * only scores the candidates — the all-pairs O(n²) plan never appears.
  * Frequent shingles are capped (maxDF) exactly like stop-shingle filtering
  * in production dedup: an ubiquitous shingle contributes no discriminative
  * signal but quadratic pairs.
  */
object Dedup {

  private def toks(c: Column): Column = graft.functions.NativeExprs.tokens(c)

  /** Word trigram shingles (distinct) of a document — native one-pass
    * ([[graft.functions.WordShingles]]). */
  private def shingles(text: Column): Column =
    graft.functions.NativeExprs.wordShingles(text, 3)

  /** THE content-fingerprint of a document (md5 over whitespace-normalized
    * lowercased text) — the exact-dedup identity. One definition shared by
    * the batch exact stage, q_fingerprint, and the streaming dedups; a
    * drift between them would make streaming dedup disagree with batch. */
  def fingerprint(text: Column): Column =
    md5(graft.functions.NativeExprs.normalizeWs(text))

  /** doc_id → exploded distinct trigram shingles, uncapped — the ONE
    * construction both cap rules ([[cappedShingles]],
    * [[cappedShinglesAdaptive]]) filter, so the shingle definition and
    * the ≥3-token guard cannot fork between them. */
  private def explodedShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(size(toks(col("text"))) >= 3)
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))

  /** Exploded shingles with each row carrying its shingle's corpus df,
    * via ONE count-over-partition window instead of the former
    * aggregate-then-join-back shape (guide §2.4): the tokenize+shingle
    * explode — the expensive leg — runs ONCE instead of twice (once per
    * join side), and the single exchange on `sh` that the window needs
    * is the same exchange every downstream sh-keyed consumer (the
    * candidate self-join) wants anyway, so a cached result is already
    * co-partitioned for it. Per-shingle window partitions are posting
    * lists, the same skew profile the old join's probe side had. */
  private def shinglesWithDf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    explodedShingles(s, d)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
  }

  /** doc_id → exploded distinct trigram shingles, stop-shingles capped. */
  private[operators] def cappedShingles(s: SparkSession, d: String, maxDF: Int): DataFrame =
    shinglesWithDf(s, d).filter(col("df") <= maxDF).select("doc_id", "sh")

  private val AdaptiveCapFloor = 4

  /** [[cappedShingles]] with the cap DERIVED from the corpus: cap =
    * max([[AdaptiveCapFloor]], exact median df over shingle TYPES) by the
    * value-histogram rank rule (smallest df whose cumulative type count
    * reaches half the types — the [[Relational.qPercentileHist]]
    * machinery, so the DuckDB twin replays it exactly). A fixed cap is
    * the wrong knob across corpora: far below the typical df it empties
    * the sets, far above it lets hot-shingle posting lists quadratically
    * dominate the candidate join (a df-d shingle contributes d² cooc
    * rows). Pinning to the type median keeps posting lists ≤ the
    * distribution's own midpoint however the corpus is shaped. The
    * histogram groupBy carries one row per DISTINCT df value (≪ types);
    * its cumulative window is over that tiny table, and the 1-row cap
    * broadcasts back into the filter — no corpus-scale window anywhere. */
  private[operators] def cappedShinglesAdaptive(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one windowed pass attaches df to every row (see [[shinglesWithDf]]);
    // the former shape tokenized the corpus twice and joined df back on.
    // The output KEEPS the df column: [[qPrefixJaccard]]'s rarity ranking
    // needs it, and the cap filter keeps or drops ALL rows of a shingle,
    // so the carried df equals the post-cap per-shingle count exactly.
    val sh = shinglesWithDf(s, d)
    // type histogram: a df-d shingle contributes d identical rows, so
    // count(DISTINCT sh) per df is the former dfs→groupBy(df) type count
    val hist = sh.groupBy("df").agg(countDistinct("sh").as("cnt"))
    // total = sum over the SAME tiny hist, as a second window on the one
    // sorted hist pass — the former crossJoin(broadcast(hist.agg(...)))
    // evaluated the hist subtree (and the corpus scan under it) twice
    val cum = hist
      .withColumn("cum", sum("cnt").over(Window.orderBy("df")))
      .withColumn("total", sum("cnt").over(
        Window.orderBy("df").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val cap = cum
      .agg(greatest(
        lit(AdaptiveCapFloor.toLong),
        min(when(col("cum") * 2 >= col("total"), col("df")))).as("cap"))
    sh.crossJoin(broadcast(cap))
      .filter(col("df") <= col("cap"))
      .select("doc_id", "sh", "df")
  }

  /** Oracle CTEs for the adaptive cap — tri → df table → df HISTOGRAM →
    * rank-rule median (floored) → capped/sizes, mirroring
    * [[cappedShinglesAdaptive]] term for term. */
  private def adaptiveIndexSqlCtes: String =
    s"""$triSqlCtes,
       |adfs AS (SELECT sh, count(*) AS df FROM tri GROUP BY sh),
       |dfhist AS (SELECT df, count(*) AS cnt FROM adfs GROUP BY df),
       |dcap AS (
       |  SELECT greatest($AdaptiveCapFloor, min(df)) AS cap FROM (
       |    SELECT df, sum(cnt) OVER (ORDER BY df) AS cum, sum(cnt) OVER () AS total
       |    FROM dfhist)
       |  WHERE cum * 2 >= total),
       |capped AS (
       |  SELECT t.doc_id, t.sh FROM tri t JOIN adfs USING (sh)
       |  WHERE df <= (SELECT cap FROM dcap)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id)""".stripMargin

  /** Shared candidate machinery over the capped-shingle inverted index:
    * `capped` (cached — every caller reads it at least twice; the
    * harness clearCache()s per query), per-doc shingle-set `sizes`, and
    * candidate `pairs` (da < db, shared-shingle count `inter` ≥
    * minInter). ONE definition for all five shingle-blocked dedups, so a
    * maxDF or threshold change cannot silently fork one query's
    * candidate set. */
  private def shinglePairs(
      s: SparkSession,
      d: String,
      minInter: Int): (DataFrame, DataFrame, DataFrame) = {
    val capped = cappedShingles(s, d, maxDF = 20).cache()
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= minInter)
    (capped, sizes, pairs)
  }

  /** pairs ⋈ sizes on both endpoints (adds na, nb). */
  private def withEndpointSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")

  /** The near-dup threshold shared by apply/pipeline/clusters — kept as
    * an exact rational (Num/Den) so integer-arithmetic derivations (the
    * PPJoin prefix length) stay in lockstep with the double bar. */
  private[operators] val NearDupNum = 3
  private[operators] val NearDupDen = 5
  private[operators] val NearDupBar = NearDupNum.toDouble / NearDupDen

  /** The near-dup EDGE set (da, db): exact Jaccard ≥ [[NearDupBar]] over
    * capped shingle sets — the single edge definition behind
    * [[qDedupApply]], [[qPipelineClean]] and [[qDedupClusters]]. */
  private[operators] def nearDupEdges(s: SparkSession, d: String): DataFrame = {
    // PERSISTED build-once (the nightly near-dup candidate job's
    // published edge list): five cards and the CC label build all
    // consume this edge set — materializing it once per warehouse means
    // the shingle-pair machinery runs once, not per consumer, and the
    // fixed-width (da, db) table is the only thing probes read.
    // Deterministic pure function of the corpus → identical to
    // recomputing; cross-JVM reusable via the fingerprint marker.
    val t = graft.sources.Warehouse.tableName("graft_neardup_edges", d)
    graft.sources.Warehouse.ensure(s, t, "da", reuseFrom = Some(d)) {
      val (_, sizes, pairs) = shinglePairs(s, d, minInter = 1)
      withEndpointSizes(pairs, sizes)
        .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= NearDupBar)
        .select("da", "db")
    }
    s.table(t)
  }

  /** The tk/tri/capped/sizes CTE prefix (the shingle inverted index) —
    * shared by [[shinglePairsSqlCtes]] and the incremental oracle. */
  /** The tk/tri (doc -> distinct trigram shingles) CTE prefix — ONE
    * definition for every shingle oracle, the incremental-cluster twin
    * included, so the trigram rule cannot silently fork. */
  private def triSqlCtes: String = {
    val t = TextOps.tokensSql
    s"""tk AS (SELECT doc_id, $t AS t FROM documents),
       |tri AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(t) - 1),
       |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
       |  FROM tk WHERE len(t) >= 3)""".stripMargin
  }

  private def shingleIndexSqlCtes: String = {
    s"""$triSqlCtes,
       |capped AS (
       |  SELECT * FROM tri
       |  WHERE sh IN (SELECT sh FROM tri GROUP BY sh HAVING count(*) <= 20)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id)""".stripMargin
  }

  private def shinglePairsSqlCtes(minInter: Int): String = {
    val having = if (minInter > 1) s" HAVING count(*) >= $minInter" else ""
    s"""$shingleIndexSqlCtes,
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2$having)""".stripMargin
  }

  /** The near_drops CTE (docs that are the higher id of any edge) —
    * twin of `nearDupEdges(...).select(db)`. */
  private def nearDropsSqlCte: String =
    s"""near_drops AS (
       |  SELECT DISTINCT db AS doc_id FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar)""".stripMargin

  /** Exact dedup: group by the first-5-token normalization key; one
    * representative (min doc_id) per group. Pure hash aggregation — the
    * 100 TB version is identical (one shuffle on the key). */
  def qExact(s: SparkSession, d: String): DataFrame = {
    val key = concat_ws(" ", slice(toks(col("text")), 1, 5))
    Tables.documents(s, d)
      .select(col("doc_id"), key.as("dedup_key"))
      .groupBy("dedup_key")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("dedup_key")
  }

  private val qExactSql = {
    val t = TextOps.tokensSql
    s"""SELECT array_to_string(list_slice($t, 1, 5), ' ') AS dedup_key,
       |  min(doc_id) AS keep_id, count(*) AS n_dups
       |FROM documents GROUP BY 1 ORDER BY dedup_key""".stripMargin
  }

  /** N-gram Jaccard near-dup: candidate pairs from the shingle inverted
    * index (co-occurrence ≥ 2), exact Jaccard over the capped shingle sets.
    * Jaccard is a ratio of integers — bit-identical across engines. */
  def qNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val (_, sizes, pairs) = shinglePairs(s, d, minInter = 2)
    withEndpointSizes(pairs, sizes)
      .select(
        col("da"),
        col("db"),
        col("inter"),
        pround(col("inter") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("da"), col("db"))
      .limit(50)
  }

  private val qNgramJaccardSql = {
    s"""WITH ${shinglePairsSqlCtes(minInter = 2)}
       |SELECT da, db, inter,
       |  floor((inter / (sa.n + sb.n - inter)) * 1000000 + 0.5) / 1000000.0 AS jaccard
       |FROM pairs
       |JOIN sizes sa ON da = sa.doc_id
       |JOIN sizes sb ON db = sb.doc_id
       |ORDER BY jaccard DESC, da, db LIMIT 50""".stripMargin
  }

  /** Candidate Jaccard bars for [[qThresholdSweep]], in exact percent. */
  private val SweepBarsPct = Seq(50L, 60L, 70L, 80L, 90L)

  /** Dedup-threshold tuning card: pair volume, affected docs, and docs
    * dropped (keep-lowest policy, = distinct higher endpoints — the same
    * rule as `near_drops`) at each candidate Jaccard bar, from ONE pass
    * over the shared shingle-pair candidate table. The sweep a pipeline
    * runs BEFORE committing to a near-dup threshold: it shows where the
    * dup mass falls off, so the bar is chosen from data instead of folklore.
    * Every bar is compared in exact integers (J ≥ t/100 ⟺ 100·inter ≥
    * t·union) — no float ever decides membership. The 5-row threshold
    * table broadcasts into a nested-loop join against the bounded
    * candidate pairs (≤5× replication of an already-capped table), then
    * ONE grouped aggregation (Spark expands the two distinct aggregates
    * internally) — no cached intermediate, no second candidate scan,
    * cost independent of how many bars ride it. */
  def qThresholdSweep(s: SparkSession, d: String): DataFrame = {
    val (_, sizes, pairs) = shinglePairs(s, d, minInter = 1)
    thresholdSweepFrom(
      s,
      withEndpointSizes(pairs, sizes).select(
        col("da"),
        col("db"),
        (col("inter") * 100).as("num"),
        (col("na") + col("nb") - col("inter")).as("den")))
  }

  /** The sweep body over a scored (da, db, num, den) pair table — seam
    * for the planted-Jaccard spec. Each surviving (bar, pair) row is
    * exploded into its two endpoints tagged with which side they are
    * (`db` is the dropped higher id under keep-lowest), so pair count,
    * affected-doc count and dropped-doc count all come out of a single
    * groupBy over one scan of the candidate join — nothing is cached. */
  private[operators] def thresholdSweepFrom(s: SparkSession, scored: DataFrame): DataFrame = {
    import s.implicits._
    val tDf = SweepBarsPct.toDF("t_pct")
    val endpoints = broadcast(tDf)
      .join(scored, col("num") >= col("t_pct") * col("den"))
      .select(
        col("t_pct"),
        explode(array(
          struct(lit(false).as("is_b"), col("da").as("doc")),
          struct(lit(true).as("is_b"), col("db").as("doc")))).as("e"))
      .select(col("t_pct"), col("e.is_b").as("is_b"), col("e.doc").as("doc"))
    val agg = endpoints.groupBy("t_pct").agg(
      count(when(col("is_b"), lit(1))).as("n_pairs"),
      countDistinct(col("doc")).as("n_docs_affected"),
      countDistinct(when(col("is_b"), col("doc"))).as("n_docs_dropped"))
    tDf
      .join(agg, Seq("t_pct"), "left")
      .select(
        col("t_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
      .orderBy("t_pct")
  }

  private val qThresholdSweepSql =
    s"""WITH ${shinglePairsSqlCtes(minInter = 1)},
       |sc AS (
       |  SELECT da, db, inter * 100 AS num, sa.n + sb.n - inter AS den
       |  FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id
       |  JOIN sizes sb ON db = sb.doc_id),
       |ts(t_pct) AS (VALUES (50), (60), (70), (80), (90)),
       |hit AS (SELECT t_pct, da, db FROM ts JOIN sc ON num >= t_pct * den),
       |pa AS (
       |  SELECT t_pct, count(*) AS n_pairs, count(DISTINCT db) AS n_docs_dropped
       |  FROM hit GROUP BY 1),
       |en AS (
       |  SELECT t_pct, count(DISTINCT doc) AS n_docs_affected
       |  FROM (SELECT t_pct, da AS doc FROM hit
       |        UNION ALL SELECT t_pct, db FROM hit)
       |  GROUP BY 1)
       |SELECT t.t_pct::BIGINT AS t_pct,
       |  COALESCE(pa.n_pairs, 0)::BIGINT AS n_pairs,
       |  COALESCE(en.n_docs_affected, 0)::BIGINT AS n_docs_affected,
       |  COALESCE(pa.n_docs_dropped, 0)::BIGINT AS n_docs_dropped
       |FROM ts t LEFT JOIN pa USING (t_pct) LEFT JOIN en USING (t_pct)
       |ORDER BY t_pct""".stripMargin

  /** Edit-distance near-dup: Levenshtein over whitespace-normalized text,
    * but ONLY on candidate pairs from the shingle inverted index (≥ 4
    * shared rare trigrams — a pair inside the 20 % edit band of any
    * non-trivial doc shares far more) — never all-pairs. Levenshtein is
    * O(len²) per pair, so the blocking must do ALL the work: candidates
    * stay linear in corpus size (maxDF caps per-shingle fan-out), and a
    * zero-cost EXACT prefilter (dist ≥ |len(a)−len(b)|, so a pair failing
    * `5·|Δlen| ≤ max_len` can never qualify) drops survivors before the
    * quadratic scorer runs. A pair qualifies when the edit distance is
    * ≤ 20 % of the longer text — compared as `5·dist ≤ max_len`,
    * all-integer output (distance, length), so the driver hash has no
    * float to diverge on. */
  def qEditDistance(s: SparkSession, d: String): DataFrame = {
    val (_, _, rawPairs) = shinglePairs(s, d, minInter = 4)
    val pairs = rawPairs.select("da", "db")
    // normalized text joined in AFTER candidate generation: the wide text
    // column never rides the candidate-pair shuffle
    val norm = Tables.documents(s, d)
      .select(col("doc_id"), concat_ws(" ", toks(col("text"))).as("nt"))
    pairs
      .join(norm.select(col("doc_id").as("da"), col("nt").as("na")), "da")
      .join(norm.select(col("doc_id").as("db"), col("nt").as("nb")), "db")
      .filter(
        abs(length(col("na")) - length(col("nb"))) * 5 <=
          greatest(length(col("na")), length(col("nb"))))
      .select(
        col("da"),
        col("db"),
        levenshtein(col("na"), col("nb")).cast("long").as("dist"),
        greatest(length(col("na")), length(col("nb"))).cast("long").as("max_len"))
      .filter(col("dist") * 5 <= col("max_len"))
      .orderBy(col("dist"), col("da"), col("db"))
  }

  private val qEditDistanceSql = {
    s"""WITH ${shinglePairsSqlCtes(minInter = 4)},
       |norm AS (SELECT doc_id, array_to_string(t, ' ') AS nt FROM tk)
       |SELECT da, db,
       |  CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS dist,
       |  CAST(greatest(len(na.nt), len(nb.nt)) AS BIGINT) AS max_len
       |FROM pairs
       |JOIN norm na ON da = na.doc_id
       |JOIN norm nb ON db = nb.doc_id
       |WHERE 5 * abs(len(na.nt) - len(nb.nt)) <= greatest(len(na.nt), len(nb.nt))
       |  AND 5 * levenshtein(na.nt, nb.nt) <= greatest(len(na.nt), len(nb.nt))
       |ORDER BY dist, da, db""".stripMargin
  }

  /** End-to-end dedup APPLICATION: return the corpus with near-duplicates
    * removed (greedy: a doc is dropped if it is the higher id of any pair
    * with Jaccard ≥ 0.6 over capped trigram shingles, or a non-minimal
    * member of an exact-fingerprint group). This is the operator a
    * pipeline actually runs; the pair queries above are its diagnostics. */
  def qDedupApply(s: SparkSession, d: String): DataFrame = {
    val nearDrops = nearDupEdges(s, d).select(col("db").as("doc_id")).distinct()
    val exactDrops = Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("f"))
      .withColumn("keep", min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("f")))
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id")
    Tables.documents(s, d)
      .join(nearDrops.union(exactDrops).distinct(), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  private val qDedupApplySql = {
    s"""WITH ${shinglePairsSqlCtes(minInter = 1)},
       |$nearDropsSqlCte,
       |exact_drops AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (
       |      PARTITION BY ${TextOps.fingerprintSql}) AS keep
       |    FROM documents) WHERE doc_id <> keep)
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM near_drops
       |                     UNION SELECT doc_id FROM exact_drops)
       |ORDER BY doc_id""".stripMargin
  }

  /** Marks the 20% "new batch" slice (deterministic, SF-stable). */
  private[operators] def isNewBatch(c: Column): Column = c % 5 === 4

  /** maxDF stop-shingle cap shared by the incremental index + probe. */
  private val IncMaxDF = 20

  /** Build-once corpus-side index for incremental admission, persisted as
    * bucketed managed tables ([[graft.sources.Warehouse]]): the shingle
    * inverted index (`sh`-bucketed, corpus DF ≤ [[IncMaxDF]]), the full
    * per-shingle corpus DF stats, per-doc capped set sizes, and the
    * distinct fingerprint set (`f`-bucketed). Runs ONLY on a catalog miss
    * — this is the nightly index job; the daily probe never recomputes
    * any of it. Returns the four table names (sh, df, sizes, fp). */
  private[operators] def ensureIncrementalIndex(
      s: SparkSession, d: String): (String, String, String, String) = {
    import graft.sources.Warehouse
    val shT = Warehouse.tableName("graft_inc_sh", d)
    val dfT = Warehouse.tableName("graft_inc_df", d)
    val szT = Warehouse.tableName("graft_inc_sz", d)
    val fpT = Warehouse.tableName("graft_inc_fp", d)
    // cached for the build phase: the dfT and shT builds otherwise each
    // re-run the full corpus tokenize+shingle+explode (the dominant cost
    // of the nightly index job); a no-build call never materializes it
    val corpusSh = Tables.documents(s, d)
      .filter(!isNewBatch(col("doc_id")))
      .filter(size(toks(col("text"))) >= 3)
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      .cache()
    try {
      Warehouse.ensure(s, dfT, "sh", reuseFrom = Some(d)) {
        corpusSh.groupBy("sh").agg(count(lit(1)).as("df_c"))
      }
      Warehouse.ensure(s, shT, "sh", reuseFrom = Some(d)) {
        corpusSh.join(s.table(dfT).filter(col("df_c") <= IncMaxDF).select("sh"), "sh")
      }
      Warehouse.ensure(s, szT, "doc_id", reuseFrom = Some(d)) {
        s.table(shT).groupBy("doc_id").agg(count(lit(1)).as("n_c"))
      }
      Warehouse.ensure(s, fpT, "f", reuseFrom = Some(d)) {
        Tables.documents(s, d)
          .filter(!isNewBatch(col("doc_id")))
          .select(fingerprint(col("text")).as("f"))
          .distinct()
      }
    } finally corpusSh.unpersist()
    (shT, dfT, szT, fpT)
  }

  /** Batch-incident near-dup EDGES at the admission semantics, probing
    * the stored index: (corpus→batch edges, batch↔batch edges). Shared
    * by [[qDedupIncremental]] (which needs only the corpus-side drops)
    * and [[qDedupClustersIncremental]] (which stitches both into the
    * stored clustering) — one edge rule across the incremental mode.
    * Corpus-batch and batch-batch edges are EXACT vs a from-scratch
    * corpus+batch run: the combined df cap (df_t ≤ maxDF) and the
    * knocked-out size adjustment reproduce the total-df-capped sets for
    * every batch-incident pair (df_t ≤ cap ⟹ df_c ≤ cap, so the stored
    * index minus knocks IS the total-capped corpus set).
    *
    * Cache lifecycle (CALLER-OWNED): batchSh/shStatus/cappedBatch back
    * the RETURNED lazy frames, so this function cannot unpersist them —
    * they must live until the caller's consuming action completes. The
    * caller (or harness; Verify/Bench `clearCache()` per query) releases
    * them afterwards. Storage does not accumulate across repeated daily
    * probes in one session: the plans are deterministic in (session,
    * dir), so `cache()` re-resolves to the SAME canonicalized
    * InMemoryRelation rather than registering a fresh one. */
  private[operators] def incrementalEdges(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (shT, dfT, szT, _) = ensureIncrementalIndex(s, d)
    val idx = s.table(shT)
    // batch-side shingles: the only tokenization this path runs
    val batchSh = Tables.documents(s, d)
      .filter(isNewBatch(col("doc_id")))
      .filter(size(toks(col("text"))) >= 3)
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      .cache()
    val dfB = batchSh.groupBy("sh").agg(count(lit(1)).as("df_b"))
    // per batch-relevant shingle: stored corpus DF + batch DF (batch-vocab-sized)
    val shStatus = dfB
      .join(s.table(dfT), Seq("sh"), "left")
      .select(
        col("sh"),
        coalesce(col("df_c"), lit(0L)).as("df_c"),
        (coalesce(col("df_c"), lit(0L)) + col("df_b")).as("df_t"))
      .cache()
    val okSh = shStatus.filter(col("df_t") <= IncMaxDF).select("sh")
    val cappedBatch = batchSh.join(okSh, "sh").cache()
    val nbSizes = cappedBatch.groupBy("doc_id").agg(count(lit(1)).as("nb"))
    // shingles the batch pushed over the cap: subtract from stored sizes
    val knockSh = shStatus
      .filter(col("df_t") > IncMaxDF && col("df_c") <= IncMaxDF)
      .select("sh")
    val knocks = idx.join(knockSh, "sh").groupBy("doc_id").agg(count(lit(1)).as("kn"))
    val pairs = idx.as("a")
      .join(cappedBatch.as("b"), col("a.sh") === col("b.sh"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val cb = pairs
      .join(s.table(szT).select(col("doc_id").as("da"), col("n_c")), "da")
      .join(knocks.select(col("doc_id").as("da"), col("kn")), Seq("da"), "left")
      .join(nbSizes.select(col("doc_id").as("db"), col("nb")), "db")
      .withColumn("na", col("n_c") - coalesce(col("kn"), lit(0L)))
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= NearDupBar)
      .select("da", "db")
    val bbPairs = cappedBatch.as("a")
      .join(
        cappedBatch.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val bb = bbPairs
      .join(nbSizes.select(col("doc_id").as("da"), col("nb").as("na")), "da")
      .join(nbSizes.select(col("doc_id").as("db"), col("nb")), "db")
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= NearDupBar)
      .select("da", "db")
    (cb, bb)
  }

  /** Incremental batch admission — the daily-crawl refresh shape: dedup a
    * NEW batch (doc_id ≡ 4 mod 5, a deterministic 20% slice) against the
    * EXISTING corpus (the other 80%) without re-deduping the corpus
    * itself. A new doc is dropped if it exact-matches a corpus
    * fingerprint or is a near-dup (capped-shingle Jaccard ≥
    * [[NearDupBar]]) of any corpus doc; intra-batch duplicates are NOT
    * dropped here — that is the normal pipeline's job on the batch alone.
    *
    * The corpus side is a PRE-BUILT stored index
    * ([[ensureIncrementalIndex]]): the probe never re-tokenizes or
    * re-shingles the corpus, and every probe-time aggregate is keyed by
    * batch shingles — daily compute is proportional to the BATCH, with
    * corpus cost reduced to the bucketed index scan. The maxDF cap is
    * defined over corpus+batch df exactly like the one-shot pipeline
    * (`df_total = df_c + df_b ≤` [[IncMaxDF]]): stored corpus DF stats
    * are combined with batch DF at probe time, and corpus-doc set sizes
    * are adjusted by the (batch-vocabulary-bounded) knocked-out shingle
    * counts — so admission decisions are IDENTICAL to recomputing from
    * scratch. Same edge definition as [[qDedupApply]] — one admission bar
    * across batch and incremental modes. */
  def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val (_, _, _, fpT) = ensureIncrementalIndex(s, d)
    val (cb, _) = incrementalEdges(s, d)
    val nearDrops = cb.select(col("db").as("doc_id")).distinct()
    val newDocs = Tables.documents(s, d).filter(isNewBatch(col("doc_id")))
    val exactDrops = newDocs
      .select(col("doc_id"), fingerprint(col("text")).as("f"))
      .join(s.table(fpT), "f")
      .select("doc_id")
    newDocs
      .join(nearDrops.union(exactDrops).distinct(), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  private val qDedupIncrementalSql =
    s"""WITH $shingleIndexSqlCtes,
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM capped a JOIN capped b ON a.sh = b.sh
       |  WHERE a.doc_id % 5 <> 4 AND b.doc_id % 5 = 4
       |  GROUP BY 1, 2),
       |near_drops AS (
       |  SELECT DISTINCT db AS doc_id FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar),
       |corpus_fp AS (
       |  SELECT DISTINCT ${TextOps.fingerprintSql} AS f
       |  FROM documents WHERE doc_id % 5 <> 4),
       |exact_drops AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, ${TextOps.fingerprintSql} AS f
       |    FROM documents WHERE doc_id % 5 = 4) nb
       |  JOIN corpus_fp USING (f))
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id % 5 = 4
       |  AND doc_id NOT IN (SELECT doc_id FROM near_drops
       |                     UNION SELECT doc_id FROM exact_drops)
       |ORDER BY doc_id""".stripMargin

  /** Incremental corpus-REFRESH accounting — the manifest delta a 100 TB
    * nightly job commits: the batch (doc_id ≡ 4 mod 5) passes
    * [[qDedupIncremental]]'s stored-index admission (daily compute ∝
    * batch, plan-guarded no-corpus-recompute), and the card reports per
    * source the refresh arithmetic — batch volume, admitted volume and
    * token mass, and the corpus token totals before/after. Read-only
    * (deterministic across reruns); the PHYSICAL append of the admitted
    * set is the streaming corpus build
    * ([[graft.streaming.CorpusBuildSink]] — idempotent epoch shards +
    * versioned-snapshot manifest), whose per-source partial merge is
    * exactly this card's (n_admitted, tokens_admitted) delta.
    *
    * Scale shape: DAILY COST ∝ BATCH, as a plan property — the
    * admission probe is the incremental-dedup plan (batch-keyed, stored
    * bucketed indexes), the corpus-side per-source totals come from a
    * build-once stored table ([[ensureRefreshBase]] — rescanning 100 TB
    * of corpus to report its unchanged totals would defeat the card's
    * own claim), and the only documents scans left in the plan are
    * batch-sliced (guarded like the incremental-dedup probe). Nothing
    * shuffles wider than (source, counts). */
  def qCorpusRefresh(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NativeExprs.tokens
    val admitted = qDedupIncremental(s, d).select(col("doc_id"), lit(1L).as("adm"))
    val corpusTotals = s.table(ensureRefreshBase(s, d))
    val batchStats = Tables.documents(s, d)
      .filter(isNewBatch(col("doc_id")))
      .select(
        col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(admitted, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("adm").isNotNull, 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("adm").isNotNull, col("n_tokens")).otherwise(0L))
          .as("tokens_admitted"))
    corpusTotals
      .join(batchStats, Seq("source"), "full")
      .select(
        col("source"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("corpus_tokens"), lit(0L)).as("corpus_tokens"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("tokens_admitted"), lit(0L)).as("tokens_admitted"))
      .withColumn("corpus_tokens_after", col("corpus_tokens") + col("tokens_admitted"))
      .orderBy("source")
  }

  /** Build-once per-source corpus totals (docs, token mass) for the
    * refresh card — the "nightly index job" half of the accounting: the
    * corpus's own numbers don't change between refreshes, so they are
    * computed once per warehouse and probed, never rescanned. */
  private def ensureRefreshBase(s: SparkSession, d: String): String = {
    import graft.functions.NativeExprs.tokens
    val tbl = graft.sources.Warehouse.tableName("graft_refresh_base", d)
    graft.sources.Warehouse.ensureVia(s, tbl, reuseFrom = Some(d)) {
      Tables.documents(s, d)
        .filter(!isNewBatch(col("doc_id")))
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_corpus_docs"), sum("n_tokens").as("corpus_tokens"))
        .coalesce(1).write.saveAsTable(tbl)
    }
    tbl
  }

  private val qCorpusRefreshSql = {
    val t = TextOps.tokensSql
    s"""WITH $shingleIndexSqlCtes,
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM capped a JOIN capped b ON a.sh = b.sh
       |  WHERE a.doc_id % 5 <> 4 AND b.doc_id % 5 = 4
       |  GROUP BY 1, 2),
       |near_drops AS (
       |  SELECT DISTINCT db AS doc_id FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar),
       |corpus_fp AS (
       |  SELECT DISTINCT ${TextOps.fingerprintSql} AS f
       |  FROM documents WHERE doc_id % 5 <> 4),
       |exact_drops AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, ${TextOps.fingerprintSql} AS f
       |    FROM documents WHERE doc_id % 5 = 4) nb
       |  JOIN corpus_fp USING (f)),
       |admitted AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % 5 = 4
       |    AND doc_id NOT IN (SELECT doc_id FROM near_drops
       |                       UNION SELECT doc_id FROM exact_drops)),
       |toks AS (SELECT doc_id, source, len($t)::BIGINT AS n_tokens FROM documents),
       |corpus AS (
       |  SELECT source, count(*)::BIGINT AS n_corpus_docs,
       |    sum(n_tokens)::BIGINT AS corpus_tokens
       |  FROM toks WHERE doc_id % 5 <> 4 GROUP BY 1),
       |batch AS (
       |  SELECT source, count(*)::BIGINT AS n_batch,
       |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM admitted)
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM admitted)
       |             THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_admitted
       |  FROM toks WHERE doc_id % 5 = 4 GROUP BY 1)
       |SELECT source,
       |  coalesce(n_corpus_docs, 0) AS n_corpus_docs,
       |  coalesce(corpus_tokens, 0) AS corpus_tokens,
       |  coalesce(n_batch, 0) AS n_batch,
       |  coalesce(n_admitted, 0) AS n_admitted,
       |  coalesce(tokens_admitted, 0) AS tokens_admitted,
       |  coalesce(corpus_tokens, 0) + coalesce(tokens_admitted, 0)
       |    AS corpus_tokens_after
       |FROM corpus FULL JOIN batch USING (source)
       |ORDER BY source""".stripMargin
  }

  /** Near-dup CLUSTERS: connected components over the Jaccard ≥ 0.6 pair
    * graph (the same edges as [[qDedupApply]]), via iterative min-label
    * propagation — each round every vertex takes the min label among
    * itself and its neighbors, a single shuffle join on vertex id, until
    * a fixpoint. Converges in O(component diameter) rounds; near-dup
    * components are dense (dup groups approach cliques), so the diameter
    * is tiny and the simple propagation beats the O(log n) star
    * contractions' extra passes here. `localCheckpoint` truncates the
    * plan each round (the classic iterative-algorithm lineage blowup —
    * on a real cluster this would be `checkpoint` to durable storage so
    * recomputation-on-failure doesn't replay every round); the
    * convergence test is a `count`, never a collect. Pairwise dedup
    * over-drops transitively-linked chains one edge at a time; the
    * cluster view is what lets a pipeline keep exactly one canonical doc
    * per component (cluster_id = min doc_id). All-integer output. */
  /** Converged CC labels (id, label) over the near-dup edge graph — the
    * min-label-propagation fixpoint shared by [[qDedupClusters]] and
    * [[qDedupApplyCc]]. Label converges to min(doc_id) of the component. */
  private[operators] def ccLabels(s: SparkSession, d: String): DataFrame = {
    // PERSISTED build-once (the nightly clustering job's published
    // labels): the fixpoint runs once per warehouse; clusters / apply /
    // per-source report / size histogram are views over the stored
    // (id, label) table and cannot disagree.
    val t = graft.sources.Warehouse.tableName("graft_cc_labels", d)
    graft.sources.Warehouse.ensure(s, t, "id", reuseFrom = Some(d)) {
      ccLabelsFrom(nearDupEdges(s, d))
    }
    s.table(t)
  }

  /** The same fixpoint over an ARBITRARY undirected edge set (da, db) —
    * [[qSplitLeakageSafe]] feeds it the near-dup ∪ exact-dup union. Only
    * ids that appear in an edge get a row; singletons coalesce to their
    * own id at the call site. */
  /** Backstop only — min-label needs O(component diameter) rounds and
    * near-dup components are diameter ~2; a graph that legitimately
    * needs more than this belongs on [[ccLabelsStarFrom]]. Both CC
    * variants call `Fixpoint.requireConverged`, which RAISES if this cap
    * ever cuts the loop mid-flight: labels decide what gets dropped, and
    * a half-propagated label set would split components and mis-dedup
    * with no symptom (the DuckDB oracles recurse to true convergence, so
    * the capped state could never hash-match either). */
  private val CcMaxRounds = 1000

  /** PARTITION-LOCAL CONTRACTION pre-pass: one `mapPartitions` union-find
    * over each partition's edges, emitting a spanning STAR per local
    * component (root = local min id; every tracked node gets a
    * (root, node) row, roots as self-rows so isolated-after-contraction
    * ids survive). Connectivity is exactly preserved — within a
    * partition through the shared root, across partitions through the
    * nodes the partitions share — so the min-label fixpoint downstream
    * computes IDENTICAL labels (agreement-spec'd on planted graphs and
    * the real near-dup graph). What changes is the fixpoint's per-round
    * cost: near-dup components are clique-shaped, so raw E is quadratic
    * in cluster size while the contracted edge count is bounded by the
    * per-partition NODE count — the repeated-shuffle volume drops from
    * O(rounds·E) to O(E + rounds·V) (one full pass to contract, stars
    * thereafter). Worst-case contracted diameter is ~2× a local
    * diameter (two nodes now route via their root), so the round count
    * can grow by 1-2 on tiny-diameter graphs — pennies against the
    * per-round volume cut once clusters are big. Memory: the union-find
    * holds one LongMap entry per DISTINCT node in the partition — the
    * same working-set class as a per-partition hash aggregate, sized by
    * `spark.sql.files.maxPartitionBytes`/shuffle partitioning like
    * every other hash-backed stage. When no component can cross
    * partitions (every edge of a component in one partition, e.g. edges
    * partitioned by a blocking key both endpoints share), the output is
    * already EXACT: each node's root is its component minimum, no
    * fixpoint needed ([[semDedupImpl]]). */
  private def contractLocal(p: DataFrame): DataFrame = {
    val ss = p.sparkSession
    import ss.implicits._
    // The union-find below keys on Long, so the id columns must already
    // be integral — a widening cast is exact, but casting a string or
    // fractional id would truncate silently and could merge DISTINCT
    // nodes (two doc ids 3.2 and 3.7 both becoming 3). Every current
    // caller passes long doc/vec ids; this guard turns a future
    // non-integral caller into a loud error instead of a wrong dedup.
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    p.schema.fields.filter(f => f.name == "da" || f.name == "db").foreach { f =>
      require(
        integral.contains(f.dataType),
        s"contractLocal requires integral node ids; column ${f.name} is ${f.dataType.sql}")
    }
    p.select(col("da").cast("long"), col("db").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          // path compression keeps the amortized cost near-constant
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a)
          val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        // snapshot the key set: emission runs find() (which path-compresses,
        // i.e. writes values) — don't iterate the live map while doing so
        parent.keys.toArray.iterator.map(n => (find(n), n))
      }
      .toDF("da", "db")
  }

  private[operators] def ccLabelsFrom(pairs: DataFrame): DataFrame = {
    // checkpoint the contraction BEFORE the both-directions union: the
    // union's two branches would otherwise each re-execute the whole
    // upstream (contraction + the caller's edge derivation — the shingle
    // join for the dedup family); materialized once, read every round
    val p = contractLocal(pairs.toDF("da", "db")).localCheckpoint()
    // the doubled union is read by EVERY fixpoint round's join —
    // checkpoint it too (p's checkpoint keeps the union's two branches
    // from re-running the upstream while THIS one materializes)
    val edges = p
      .union(p.select(col("db"), col("da")))
      .toDF("src", "dst")
      .localCheckpoint()
    val labels0 = edges
      .select(col("src").as("id"))
      .distinct()
      .select(col("id"), col("id").as("label"))
    // Convergence probe: per-id labels only DECREASE (the step takes
    // least(...)), so Σ label strictly drops iff ANY label changed —
    // equality of sums ⟺ fixpoint, exactly. The (count, Σlabel) pair is
    // OBSERVED during each round's checkpoint materialization
    // (fixpointObservedBy), so a round pays exactly one job —
    // no separate probe scan, no memoized-previous bookkeeping
    // (decimal(38) keeps the sum exact at any corpus size).
    def sumOf(x: Seq[Any]): java.math.BigDecimal = {
      val c = x(0).asInstanceOf[Long]
      val v = x(1).asInstanceOf[java.math.BigDecimal]
      // null means EITHER an empty frame OR (ANSI off) decimal(38)
      // overflow — and overflow must never read as "converged": two
      // overflowed rounds would compare ZERO == ZERO and hand back
      // half-propagated labels, precisely what the converged variants
      // exist to prevent. Disambiguate with the row count from the same
      // observation.
      if (c == 0L) java.math.BigDecimal.ZERO
      else if (v == null)
        throw new ArithmeticException(
          "CC convergence probe: label sum overflowed decimal(38,0)")
      else v
    }
    Iterate.fixpointObservedBy(labels0, CcMaxRounds) { (labels, _) =>
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("label").as("nb_min"))
      labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nb_min"), col("label"))).as("label"))
    } (Seq(count(lit(1)), sum(col("label").cast("decimal(38,0)")))) { (prev, next) =>
      sumOf(prev).compareTo(sumOf(next)) == 0
    }.requireConverged.state
  }

  /** Alternating LARGE-STAR / SMALL-STAR connected components (Kiveris
    * et al. 2014, "Connected Components in MapReduce and Beyond") — the
    * O(log n)-round alternative to [[ccLabelsFrom]]'s min-label
    * propagation, which needs O(component diameter) rounds. Near-dup
    * components are dense (diameter ~2), so the simple propagation wins
    * THERE; this is the scale path for graphs where that assumption
    * breaks (citation/link graphs, chained plagiarism, any long-path
    * component): each round contracts toward the component minimum by
    * rewiring whole neighborhoods, halving the effective diameter
    * instead of walking it.
    *
    *   - large-star: every node u rewires its strictly-larger neighbors
    *     to m(u) = min(Γ(u) ∪ u);
    *   - small-star: edges oriented toward the larger endpoint; every
    *     node u rewires its (all ≤ u) neighbors and itself to m(u);
    *   - fixpoint: the edge set stops changing — at that point edges
    *     form stars (v → component minimum) and labels read off directly.
    *
    * Each phase is one join against a per-node min (a combiner-backed
    * groupBy) — same per-round shuffle cost as a min-label round, just
    * fewer rounds. The fixpoint test compares an order-independent
    * STATE-SUMMARY pair — (edge count, Σ xxhash64(a,b) as decimal) —
    * observed on each round's checkpoint materialization itself
    * ([[Iterate.fixpointObservedBy]]), so a round pays exactly
    * ONE job; the previous per-round double-EXCEPT probe paid two extra
    * full-rescan jobs per round for an equality test the checksum pair
    * answers during the materialization. The edge set is canonical and
    * distinct, so equal (count, Σhash) means equal sets up to a 2^-64
    * hash-sum collision; a NULL checksum over a nonempty set (decimal
    * overflow surrogate — needs ~1e20 edges) raises rather than
    * converging silently. Returns (labels, rounds) so the spec can
    * assert the round count stays logarithmic where min-label walks the
    * diameter. */
  private[operators] def ccLabelsStarFrom(pairs: DataFrame): (DataFrame, Int) = {
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
    val edges0 = canon(pairs.toDF("a", "b").filter(col("a") =!= col("b")))
    val fp = Iterate.fixpointObservedBy(edges0, CcMaxRounds) { (edges, _) =>
      // large-star over the bidirectional neighborhood view
      val bidir = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
        .toDF("u", "v")
      val mins = bidir.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val large = bidir.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // small-star: key each edge by its LARGER endpoint, rewire the
      // smaller ones (and the key itself) to the neighborhood min
      val oriented = large
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      val mins2 = oriented.groupBy("u").agg(min("v").as("m"))
      val small = oriented.join(mins2, "u")
        .select(col("m"), explode(array(col("v"), col("u"))).as("x"))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("a"), col("m").as("b"))
      canon(small)
    }(Seq(
      count(lit(1)),
      sum(xxhash64(col("a"), col("b"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
    )) { (prev, next) =>
      def norm(vs: Seq[Any]): (Long, BigDecimal) = {
        val cnt = vs.head.asInstanceOf[Number].longValue
        val sum = vs(1) match {
          case null if cnt == 0L => BigDecimal(0)
          case null => throw new IllegalStateException(
            "star-CC edge checksum came back NULL on a nonempty edge set " +
              "(decimal overflow?) — refusing to treat it as converged")
          case d: java.math.BigDecimal => BigDecimal(d)
          case n: Number => BigDecimal(n.longValue)
        }
        (cnt, sum)
      }
      norm(prev) == norm(next)
    }.requireConverged
    val (edges, rounds) = (fp.state, fp.rounds)
    // converged stars, canonicalized (a = least): a is the component
    // minimum on every edge
    val starLabels = edges.select(col("a").as("id"), col("a").as("label"))
      .union(edges.select(col("b").as("id"), col("a").as("label")))
      .distinct()
    // drop-in parity with ccLabelsFrom: nodes whose only edges were
    // self-loops lost all edges to the a =!= b filter above but still
    // deserve a (id, id) row, exactly as min-label propagation gives them
    val p0 = pairs.toDF("a", "b")
    val selfOnly = p0.select(col("a").as("id")).union(p0.select(col("b").as("id")))
      .distinct()
      .join(starLabels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    (starLabels.union(selfOnly), rounds)
  }

  def qDedupClusters(s: SparkSession, d: String): DataFrame = {
    val labels = ccLabels(s, d)
    val clusterSizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels
      .join(clusterSizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Cluster-canonical dedup APPLICATION: keep exactly ONE doc — the
    * minimum id — per near-dup connected component, plus the exact-dedup
    * keep-min rule. Fixes [[qDedupApply]]'s documented over-drop: the
    * greedy per-edge rule drops every non-source member of a
    * transitively-linked chain, while the component view keeps one
    * canonical doc per CLUSTER (a doc is dropped iff its converged CC
    * label differs from its own id). Same cost shape as
    * [[qDedupClusters]] — the CC fixpoint plus one anti join. */
  /** The combined drop set — near-dup CC keep-min plus exact fingerprint
    * keep-first — ONE definition behind [[qDedupApplyCc]] and
    * [[qDedupRateBySource]], so the apply and its per-source impact
    * report can never disagree on who gets dropped. */
  private def ccDropSet(s: SparkSession, d: String): DataFrame = {
    val nearDrops = ccLabels(s, d)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val exactDrops = Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("f"))
      .withColumn(
        "keep",
        min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("f")))
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id")
    nearDrops.union(exactDrops).distinct()
  }

  def qDedupApplyCc(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .join(ccDropSet(s, d), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Per-source dedup impact report — the "which sources are redundant"
    * card a pipeline reads before re-weighting its mixture: for each
    * source, total docs, docs the [[qDedupApplyCc]] drop rule removes
    * (near-dup CC keep-min ∪ exact keep-first — the SAME [[ccDropSet]]
    * definition, shared), and the survival rate in exact ppm
    * ((kept·10⁶) div total, non-negative so div ≡ //). Shape: the drop
    * set left-joins onto documents (doc_id-keyed hash join) and
    * collapses into one combiner-backed per-source rollup — the CC
    * fixpoint is the only iterative cost, identical to the apply's. */
  def qDedupRateBySource(s: SparkSession, d: String): DataFrame = {
    val drops = ccDropSet(s, d).withColumn("dropped", lit(1L))
    Tables.documents(s, d)
      .join(drops, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum("dropped"), lit(0L)).as("n_dropped"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_dropped"),
        expr("(n_docs - n_dropped) * 1000000 div n_docs").as("survival_ppm"))
      .orderBy("source")
  }

  /** Twin of [[qDedupApplyCc]]: the recursive-CTE reachability CC (a
    * different algorithm than label propagation) drives the keep rule. */
  /** Shared oracle CTE chain for the CC drop set — the SQL twin of
    * [[ccDropSet]], used by both the apply and the per-source report. */
  private lazy val ccDropCtesSql =
    s"""${shinglePairsSqlCtes(minInter = 1)},
       |cc_edges AS (
       |  SELECT da AS src, db AS dst FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar),
       |bi AS (SELECT src, dst FROM cc_edges UNION ALL SELECT dst, src FROM cc_edges),
       |walk AS (
       |  SELECT src AS id, src AS label FROM bi
       |  UNION
       |  SELECT bi.dst AS id, walk.label AS label FROM walk JOIN bi ON bi.src = walk.id),
       |near_drops_cc AS (
       |  SELECT id AS doc_id FROM walk GROUP BY id HAVING id <> min(label)),
       |exact_drops AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (
       |      PARTITION BY ${TextOps.fingerprintSql}) AS keep
       |    FROM documents) WHERE doc_id <> keep),
       |drops AS (
       |  -- explicit DISTINCT, not bare UNION: inside a WITH RECURSIVE
       |  -- chain DuckDB executes this UNION as UNION ALL (measured at the
       |  -- 10× replica: 4075 + 45008 rows in, 49083 out — zero dedup), and
       |  -- a doc dropped by BOTH gates then fans out the rate card's LEFT
       |  -- JOIN. Empty overlap at sf0.01 masked it; the 10× sweep didn't.
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id FROM near_drops_cc
       |    UNION ALL SELECT doc_id FROM exact_drops))""".stripMargin

  private lazy val qDedupApplyCcSql =
    s"""WITH RECURSIVE $ccDropCtesSql
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |ORDER BY doc_id""".stripMargin

  private lazy val qDedupRateBySourceSql =
    s"""WITH RECURSIVE $ccDropCtesSql
       |SELECT d.source,
       |  count(*)::BIGINT AS n_docs,
       |  count(dr.doc_id)::BIGINT AS n_dropped,
       |  ((count(*) - count(dr.doc_id)) * 1000000) // count(*) AS survival_ppm
       |FROM documents d LEFT JOIN drops dr USING (doc_id)
       |GROUP BY 1 ORDER BY source""".stripMargin

  /** DuckDB twin: reachability via a recursive CTE (every label a vertex
    * can reach; component id = min) — a different algorithm arriving at
    * the same fixpoint, which is exactly what makes it a good oracle. */
  private val qDedupClustersSql = {
    s"""WITH RECURSIVE ${shinglePairsSqlCtes(minInter = 1)},
       |edges AS (
       |  SELECT da AS src, db AS dst FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar),
       |bi AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |walk AS (
       |  SELECT src AS id, src AS label FROM bi
       |  UNION
       |  SELECT bi.dst AS id, walk.label AS label FROM walk JOIN bi ON bi.src = walk.id),
       |cc AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY 1)
       |SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cc ORDER BY cluster_id, doc_id""".stripMargin
  }

  /** Duplicate-mass distribution — the dedup data card: how many
    * clusters of each size exist and how many documents they hold,
    * including the size-1 row (docs in NO near-dup edge) so the doc
    * column sums to the corpus. A pipeline reads this before choosing
    * dedup aggressiveness: mass concentrated in big clusters means
    * boilerplate/mirrors (safe to collapse); a long size-2 tail means
    * paraphrase-level pairs where collapsing costs diversity. Reuses the
    * SAME converged labels as [[qDedupClusters]]; the singleton row is
    * corpus total − linked docs via two 1-row broadcast aggregates —
    * no extra pass over documents beyond the count. */
  def qClusterSizeHist(s: SparkSession, d: String): DataFrame = {
    val labels = ccLabels(s, d)
    val multi = labels
      .groupBy("label")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(
        col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val singles = Tables.documents(s, d)
      .agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("n_linked"))))
      .select(
        lit(1L).as("cluster_size"),
        (col("n_total") - col("n_linked")).as("n_clusters"),
        (col("n_total") - col("n_linked")).as("n_docs"))
    singles.unionByName(multi).orderBy("cluster_size")
  }

  private val qClusterSizeHistSql =
    s"""WITH RECURSIVE ${shinglePairsSqlCtes(minInter = 1)},
       |edges AS (
       |  SELECT da AS src, db AS dst FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar),
       |bi AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |walk AS (
       |  SELECT src AS id, src AS label FROM bi
       |  UNION
       |  SELECT bi.dst AS id, walk.label FROM walk JOIN bi ON bi.src = walk.id),
       |cc AS (SELECT id, min(label) AS label FROM walk GROUP BY 1),
       |cs AS (SELECT label, count(*) AS cluster_size FROM cc GROUP BY 1),
       |multi AS (
       |  SELECT cluster_size, count(*) AS n_clusters,
       |    cluster_size * count(*) AS n_docs
       |  FROM cs GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM documents),
       |lnk AS (SELECT count(*) AS n_linked FROM cc)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(n_clusters AS BIGINT) AS n_clusters,
       |  CAST(n_docs AS BIGINT) AS n_docs
       |FROM (
       |  SELECT 1 AS cluster_size, n_total - n_linked AS n_clusters,
       |    n_total - n_linked AS n_docs FROM tot, lnk
       |  UNION ALL SELECT cluster_size, n_clusters, n_docs FROM multi)
       |ORDER BY cluster_size""".stripMargin

  /** Build-once stored clustering of the CORPUS slice: converged CC
    * labels over corpus-only near-dup edges at the stored index's
    * semantics (df_c-capped sets — [[ensureIncrementalIndex]]). This is
    * the nightly clustering job; [[qDedupClustersIncremental]] only
    * READS it. */
  private[operators] def ensureCorpusCc(s: SparkSession, d: String): String = {
    import graft.sources.Warehouse
    val t = Warehouse.tableName("graft_inc_cc", d)
    val (shT, _, szT, _) = ensureIncrementalIndex(s, d)
    Warehouse.ensure(s, t, "id", reuseFrom = Some(d)) {
      val idx = s.table(shT)
      val pairs = idx.as("a")
        .join(
          idx.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("inter"))
      val sz = s.table(szT)
      val edges = pairs
        .join(sz.select(col("doc_id").as("da"), col("n_c").as("na")), "da")
        .join(sz.select(col("doc_id").as("db"), col("n_c").as("nb")), "db")
        .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= NearDupBar)
        .select("da", "db")
      ccLabelsFrom(edges)
    }
    t
  }

  /** Incremental CLUSTER maintenance — what today's batch does to the
    * dedup landscape, at daily cost ∝ batch neighborhood: the corpus
    * clustering is a STORED table ([[ensureCorpusCc]], the nightly job),
    * and the batch stitches into it through the SUPERNODE graph — each
    * stored component collapses to its label (its min doc id), each
    * corpus singleton and batch doc is its own node, and the CC fixpoint
    * runs over batch-incident edges only ([[incrementalEdges]]), never
    * over the corpus pair graph. The converged super-label IS the true
    * min doc id of the merged cluster (each supernode already carries
    * its component's min).
    *
    * Semantics, stated precisely: corpus-batch and batch-batch edges are
    * EXACT vs a full corpus+batch rebuild (see [[incrementalEdges]]);
    * corpus-CORPUS edges stay FROZEN at the index build's df_c-capped
    * sets. The freeze cuts BOTH ways: a shingle the batch pushes over
    * the cap shrinks both corpus sets in a rebuild, which can remove an
    * edge (smaller intersection) OR add one (same intersection over a
    * smaller union raises Jaccard) — so incremental clusters are
    * neither a superset nor a subset of a rebuild's in general. The
    * contract is simply "yesterday's index semantics hold until the
    * offline rebuild" (FAISS-style build-once); the DuckDB twin replays
    * the frozen semantics exactly, and the spec additionally checks the
    * freeze is vacuous on this corpus. Output: one row per cluster
    * CONTAINING a batch doc — (cluster_id = min doc id, batch members,
    * corpus members, STORED components absorbed — corpus singletons
    * joining a cluster count toward n_corpus but not toward
    * n_merged_components). Edge-free batch docs (truly novel content)
    * are not "clusters" and don't appear. */
  def qDedupClustersIncremental(s: SparkSession, d: String): DataFrame = {
    val stored = s.table(ensureCorpusCc(s, d)) // (id, label)
    val (cb, bb) = incrementalEdges(s, d)
    val cbSuper = cb
      .join(stored.withColumnRenamed("id", "da"), Seq("da"), "left")
      .select(coalesce(col("label"), col("da")).as("da"), col("db"))
    val superLabels = ccLabelsFrom(cbSuper.union(bb))
    val storedSizes = stored.groupBy("label").agg(count(lit(1)).as("csz"))
    val corpusCounts = superLabels
      .filter(!isNewBatch(col("id")))
      .join(storedSizes.withColumnRenamed("label", "id"), Seq("id"), "left")
      .groupBy("label")
      .agg(
        sum(coalesce(col("csz"), lit(1L))).as("n_corpus"),
        // only STORED components count as "merged" — a corpus singleton
        // joining a cluster is new linkage, not an absorbed component
        sum(when(col("csz").isNotNull, 1L).otherwise(0L)).as("n_merged_components"))
    superLabels
      .filter(isNewBatch(col("id")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_batch"))
      .join(corpusCounts, Seq("label"), "left")
      .select(
        col("label").as("cluster_id"),
        col("n_batch"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        coalesce(col("n_merged_components"), lit(0L)).as("n_merged_components"))
      .orderBy("cluster_id")
  }

  private val qDedupClustersIncrementalSql = {
    s"""WITH RECURSIVE $triSqlCtes,
       |ctri AS (SELECT * FROM tri WHERE doc_id % 5 <> 4),
       |dfc AS (SELECT sh, count(*) AS df_c FROM ctri GROUP BY 1),
       |cidx AS (SELECT c.doc_id, c.sh FROM ctri c JOIN dfc USING (sh) WHERE df_c <= $IncMaxDF),
       |csz AS (SELECT doc_id, count(*) AS n_c FROM cidx GROUP BY 1),
       |cpairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM cidx a JOIN cidx b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cedges AS (
       |  SELECT da, db FROM cpairs
       |  JOIN csz sa ON da = sa.doc_id JOIN csz sb ON db = sb.doc_id
       |  WHERE inter / (sa.n_c + sb.n_c - inter) >= $NearDupBar),
       |cbi AS (SELECT da AS src, db AS dst FROM cedges
       |        UNION ALL SELECT db, da FROM cedges),
       |cwalk AS (
       |  SELECT src AS id, src AS label FROM cbi
       |  UNION
       |  SELECT cbi.dst AS id, cwalk.label FROM cwalk JOIN cbi ON cbi.src = cwalk.id),
       |ccc AS (SELECT id, min(label) AS label FROM cwalk GROUP BY 1),
       |btri AS (SELECT * FROM tri WHERE doc_id % 5 = 4),
       |dfb AS (SELECT sh, count(*) AS df_b FROM btri GROUP BY 1),
       |dft AS (
       |  SELECT b.sh, COALESCE(c.df_c, 0) AS df_c0, COALESCE(c.df_c, 0) + b.df_b AS df_t
       |  FROM dfb b LEFT JOIN dfc c USING (sh)),
       |bcap AS (SELECT b.doc_id, b.sh FROM btri b JOIN dft USING (sh) WHERE df_t <= $IncMaxDF),
       |bsz AS (SELECT doc_id, count(*) AS nb FROM bcap GROUP BY 1),
       |kn AS (
       |  SELECT doc_id, count(*) AS kn FROM cidx
       |  WHERE sh IN (SELECT sh FROM dft WHERE df_t > $IncMaxDF AND df_c0 <= $IncMaxDF)
       |  GROUP BY 1),
       |cbp AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM cidx a JOIN bcap b ON a.sh = b.sh GROUP BY 1, 2),
       |cbe AS (
       |  SELECT da, db FROM cbp
       |  JOIN csz ON da = csz.doc_id
       |  LEFT JOIN kn ON da = kn.doc_id
       |  JOIN bsz ON db = bsz.doc_id
       |  WHERE inter / ((csz.n_c - COALESCE(kn.kn, 0)) + bsz.nb - inter) >= $NearDupBar),
       |bbp AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM bcap a JOIN bcap b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |bbe AS (
       |  SELECT da, db FROM bbp
       |  JOIN bsz sa ON da = sa.doc_id JOIN bsz sb ON db = sb.doc_id
       |  WHERE inter / (sa.nb + sb.nb - inter) >= $NearDupBar),
       |sedges AS (
       |  SELECT COALESCE(ccc.label, cbe.da) AS src, cbe.db AS dst
       |  FROM cbe LEFT JOIN ccc ON ccc.id = cbe.da
       |  UNION ALL SELECT da, db FROM bbe),
       |sbi AS (SELECT src, dst FROM sedges WHERE src <> dst
       |        UNION ALL SELECT dst, src FROM sedges WHERE src <> dst),
       |swalk AS (
       |  SELECT src AS id, src AS label FROM sbi
       |  UNION
       |  SELECT sbi.dst AS id, swalk.label FROM swalk JOIN sbi ON sbi.src = swalk.id),
       |scc AS (SELECT id, min(label) AS label FROM swalk GROUP BY 1),
       |cszl AS (SELECT label, count(*) AS csz FROM ccc GROUP BY 1),
       |corpusc AS (
       |  SELECT s.label, CAST(sum(COALESCE(cszl.csz, 1)) AS BIGINT) AS n_corpus,
       |    CAST(sum(CASE WHEN cszl.csz IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_merged_components
       |  FROM scc s LEFT JOIN cszl ON cszl.label = s.id
       |  WHERE s.id % 5 <> 4 GROUP BY 1),
       |batchc AS (SELECT label, count(*)::BIGINT AS n_batch FROM scc WHERE id % 5 = 4 GROUP BY 1)
       |SELECT b.label AS cluster_id, b.n_batch,
       |  COALESCE(c.n_corpus, 0) AS n_corpus,
       |  COALESCE(c.n_merged_components, 0) AS n_merged_components
       |FROM batchc b LEFT JOIN corpusc c USING (label)
       |ORDER BY cluster_id""".stripMargin
  }

  /** Leakage-safe train/val/test split: assign each DUP GROUP — a
    * connected component of the near-dup ∪ exact-dup relation — to one
    * split, by hashing the group's canonical id instead of the doc's
    * own. The per-doc hash split ([[Sampling.qSampleSplit]]) silently
    * leaks: two near-identical docs land in train and test with
    * probability 2·p·(1−p) each, and the eval set ends up scoring
    * memorization. Here every linked doc inherits group_id = min(doc_id)
    * of its component, and the split decision is a pure function of
    * group_id — same hash-range rule, same thresholds, but keyed so that
    * no dup pair can ever straddle splits (the spec asserts this edge by
    * edge, and that the naive split DOES straddle on this corpus). At
    * 100 TB the CC fixpoint is the same O(diameter) join+agg loop as
    * [[qDedupClusters]]; the split itself adds one broadcast-size md5
    * and a left join of docs against the (tiny) linked-id label table. */
  def qSplitLeakageSafe(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val exactEdges = docs
      .select(col("doc_id"), fingerprint(col("text")).as("f"))
      .withColumn(
        "keep",
        min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("f")))
      .filter(col("doc_id") =!= col("keep"))
      .select(col("keep").as("da"), col("doc_id").as("db"))
    // the split's group labels are their own published artifact (CC over
    // the near-dup ∪ exact-dup edge union — a different graph than
    // ccLabels'), build-once like the clustering job's labels
    val labT = graft.sources.Warehouse.tableName("graft_cc_split_labels", d)
    graft.sources.Warehouse.ensure(s, labT, "id", reuseFrom = Some(d)) {
      ccLabelsFrom(nearDupEdges(s, d).union(exactEdges))
    }
    val labels = s.table(labT).withColumnRenamed("id", "doc_id")
    val k = substring(md5(col("group_id").cast("string")), 1, 2)
    docs
      .select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("group_id"))
      .withColumn(
        "split",
        when(k < "0d", lit("val")).when(k < "1a", lit("test")).otherwise(lit("train")))
      .orderBy("doc_id")
  }

  /** Twin: recursive-CTE reachability CC over the SAME edge union, then
    * the same hash-range rule on the component minimum. */
  private val qSplitLeakageSafeSql = {
    val k = "substr(md5(CAST(group_id AS VARCHAR)), 1, 2)"
    s"""WITH RECURSIVE ${shinglePairsSqlCtes(minInter = 1)},
       |near_edges AS (
       |  SELECT da AS src, db AS dst FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar),
       |exact_edges AS (
       |  SELECT keep AS src, doc_id AS dst FROM (
       |    SELECT doc_id, min(doc_id) OVER (
       |      PARTITION BY ${TextOps.fingerprintSql}) AS keep
       |    FROM documents) WHERE doc_id <> keep),
       |all_edges AS (SELECT src, dst FROM near_edges UNION SELECT src, dst FROM exact_edges),
       |bi AS (SELECT src, dst FROM all_edges UNION ALL SELECT dst, src FROM all_edges),
       |walk AS (
       |  SELECT src AS id, src AS label FROM bi
       |  UNION
       |  SELECT bi.dst AS id, walk.label AS label FROM walk JOIN bi ON bi.src = walk.id),
       |lab AS (SELECT id AS doc_id, min(label) AS label FROM walk GROUP BY 1)
       |SELECT doc_id, group_id,
       |  CASE WHEN $k < '0d' THEN 'val'
       |       WHEN $k < '1a' THEN 'test' ELSE 'train' END AS split
       |FROM (SELECT d.doc_id, coalesce(lab.label, d.doc_id) AS group_id
       |      FROM documents d LEFT JOIN lab USING (doc_id))
       |ORDER BY doc_id""".stripMargin
  }

  /** SUB-document (line/span-level) dedup stats — the C4/RefinedWeb-style
    * pass that catches boilerplate (headers, navigation, license blocks)
    * document-level dedup can't see. "Lines" here are consecutive
    * NON-OVERLAPPING 10-token spans of the normalized token stream (the
    * synthetic corpus has no sentence punctuation to split on; on real
    * web text the span extractor would be a split on terminal
    * punctuation, with everything downstream unchanged). Each span is
    * md5-fingerprinted — the shuffle key stays fixed-width no matter how
    * long the span — counted across the WHOLE corpus, and rolled up per
    * document as how many of its spans are globally duplicated.
    * All-integer output. At 100 TB: one shuffle on the span fingerprint
    * for the counts, one join back on the same key, one shuffle on
    * doc_id for the rollup. */
  /** Fingerprinted 10-token spans per doc — ONE span-table definition
    * shared by [[qLineDedup]] (global span dedup) and [[qBoilerplate]]
    * (per-source boilerplate rule), so the two cleaners can't drift on
    * what a "line" is. Emits (doc_id, source, f); callers that don't
    * group by source just project it away (column pruning removes it
    * from the scan). Spark's `sequence(0, -1)` yields a DESCENDING
    * sequence, so 0-token docs are dropped before the span index is
    * built. */
  private def docSpans(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("tk", toks(col("text")))
      .filter(size(col("tk")) >= 1)
      .select(
        col("doc_id"),
        col("source"),
        explode(expr(
          "transform(sequence(0, (size(tk)+9) div 10 - 1)," +
            " i -> concat_ws(' ', slice(tk, i*10+1, 10)))")).as("line"))
      .select(col("doc_id"), col("source"), md5(col("line")).as("f"))

  def qLineDedup(s: SparkSession, d: String): DataFrame = {
    val lines = docSpans(s, d).select("doc_id", "f")
    val counts = lines.groupBy("f").agg(count(lit(1)).as("cnt"))
    lines
      .join(counts, "f")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        count(when(col("cnt") > 1, 1)).as("n_dup_spans"))
      .orderBy("doc_id")
  }

  private val qLineDedupSql = {
    val t = TextOps.tokensSql
    s"""WITH tk AS (SELECT doc_id, $t AS t FROM documents),
       |lines AS (
       |  SELECT doc_id, md5(array_to_string(list_slice(t, i*10+1, i*10+10), ' ')) AS f
       |  FROM (SELECT doc_id, t, unnest(range(0, (len(t)+9)//10)) AS i FROM tk)),
       |counts AS (SELECT f, count(*) AS cnt FROM lines GROUP BY 1)
       |SELECT doc_id, count(*) AS n_spans,
       |  count(*) FILTER (WHERE cnt > 1) AS n_dup_spans
       |FROM lines JOIN counts USING (f)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** A span is boilerplate when ≥ this many DISTINCT docs of one source
    * contain it (headers/footers/nav chrome repeat across a site's pages;
    * real pipelines raise this to a fraction of the source's doc count —
    * the rule and the plan are unchanged, only this literal moves). */
  private val BoilerMinDocs = 2

  /** Per-source boilerplate report (RefinedWeb-style line dedup, scoped
    * to the source): a span shared by ≥ [[BoilerMinDocs]] distinct docs
    * of the SAME source is template chrome, not content — repeats of a
    * span inside one doc are NOT boilerplate (that's
    * [[TextOps.qGopherRep]]'s job), and the same span on two different
    * sources is coincidence,
    * not a template. Reports, per source: docs with ≥1 span, span
    * instances, distinct boilerplate spans, docs a cleaner would touch,
    * and span instances it would strip. Rides the [[docSpans]] table
    * [[qLineDedup]] uses, so "line" means the same thing in both
    * cleaners. Plan: one shuffle to (source, f, doc_id) instance counts,
    * one window shuffle on (source, f) for the distinct-doc frequency,
    * one rollup shuffle on source — every key fixed-width, nothing
    * pairwise, no collect. */
  def qBoilerplate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDocSpan = docSpans(s, d)
      .groupBy("source", "f", "doc_id")
      .agg(count(lit(1)).as("inst"))
    val flagged = perDocSpan.withColumn(
      "doc_df", count(lit(1)).over(Window.partitionBy("source", "f")))
    flagged
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum("inst").as("n_spans"),
        countDistinct(when(col("doc_df") >= BoilerMinDocs, col("f")))
          .as("n_boiler_spans"),
        countDistinct(when(col("doc_df") >= BoilerMinDocs, col("doc_id")))
          .as("n_affected_docs"),
        coalesce(
          sum(when(col("doc_df") >= BoilerMinDocs, col("inst"))), lit(0L))
          .as("n_removed_spans"))
      .orderBy("source")
  }

  private val qBoilerplateSql = {
    val t = TextOps.tokensSql
    s"""WITH tk AS (SELECT doc_id, source, $t AS t FROM documents),
       |lines AS (
       |  SELECT doc_id, source,
       |    md5(array_to_string(list_slice(t, i*10+1, i*10+10), ' ')) AS f
       |  FROM (SELECT doc_id, source, t,
       |        unnest(range(0, (len(t)+9)//10)) AS i FROM tk)),
       |pds AS (
       |  SELECT source, f, doc_id, count(*) AS inst
       |  FROM lines GROUP BY 1, 2, 3),
       |fl AS (
       |  SELECT *, count(*) OVER (PARTITION BY source, f) AS doc_df
       |  FROM pds)
       |SELECT source,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  sum(inst)::BIGINT AS n_spans,
       |  (count(DISTINCT f) FILTER (WHERE doc_df >= $BoilerMinDocs))::BIGINT
       |    AS n_boiler_spans,
       |  (count(DISTINCT doc_id) FILTER (WHERE doc_df >= $BoilerMinDocs))::BIGINT
       |    AS n_affected_docs,
       |  COALESCE(sum(inst) FILTER (WHERE doc_df >= $BoilerMinDocs), 0)::BIGINT
       |    AS n_removed_spans
       |FROM fl GROUP BY source ORDER BY source""".stripMargin
  }

  /** Sliding-window size (tokens) for cross-document exact-substring
    * detection — the "duplicated 50-gram" of Lee et al. scaled to this
    * corpus's short synthetic docs. Shared by the Spark query and the
    * DuckDB oracle twin through [[qDedupSubstringsSql]]. */
  private val SubK = 8

  /** Cross-document EXACT-SUBSTRING dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): every OVERLAPPING
    * [[SubK]]-token window is md5-fingerprinted; a window whose
    * fingerprint occurs in ≥ 2 DISTINCT documents is a duplicated
    * window (within-doc self-repetition is q_repetition's job, not
    * this one's). Per document, duplicated window positions are merged
    * into MAXIMAL spans by interval union — consecutive positions with
    * gap ≤ SubK-1 cover overlapping token ranges, so a merged run
    * [p1..p2] covers exactly p2-p1+SubK tokens — and rolled up to
    * all-integer stats. This is the sliding-window complement of
    * q_dedup_lines' non-overlapping fixed spans: it catches duplicated
    * passages at ANY offset, not just block-aligned ones.
    *
    * At 100 TB: one shuffle on the fixed-width window fingerprint for
    * the distinct-doc counts (partial-aggregated), one semi join back
    * on the same key, one doc_id-partitioned window pass for the
    * interval merge — everything linear in corpus size, no candidate
    * pairs ever enumerated. The removal policy (which occurrence to
    * keep) is a downstream choice; this operator computes the spans. */
  def qDedupSubstrings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SubK
    // both cached: `docs` feeds the window explode AND the final
    // per-doc totals; `wins` is read by the dup aggregate and the
    // semi-join probe — without the cache the tokenize+md5 subtree (the
    // expensive part) runs 2-3x per execution
    val docs = Tables.documents(s, d)
      .withColumn("tk", toks(col("text")))
      .filter(size(col("tk")) >= k)
      .cache()
    // (doc_id, pos, wh): 1-based window start -> md5 of the k-token window
    // wh is unhex'd to 16 raw bytes: the fingerprint is only ever compared
    // for equality (groupBy + semi join), and the binary form halves the
    // bytes cached and shuffled vs the 32-char hex string (guide §2.3 —
    // narrower types on the shuffle key). distinct(md5) ≡ distinct(unhex
    // (md5)) — unhex of a fixed-width hex string is injective — so the
    // span arithmetic downstream is untouched.
    val wins = docs
      .select(
        col("doc_id"),
        explode(expr(
          s"transform(sequence(1, size(tk) - ${k - 1})," +
            s" i -> struct(i AS pos, unhex(md5(concat_ws(' ', slice(tk, i, $k)))) AS wh))")).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.wh").as("wh"))
      .cache()
    val dupW = wins
      .groupBy("wh")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("wh")
    val dpos = wins.join(dupW, Seq("wh"), "left_semi").select("doc_id", "pos")
    // interval merge: new span when the gap to the previous duplicated
    // position exceeds k-1 (windows no longer share a token)
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dpos
      .withColumn("prev", lag("pos", 1).over(byPos))
      .withColumn(
        "brk",
        when(col("prev").isNull || col("pos") - col("prev") > k - 1, 1).otherwise(0))
      .withColumn(
        "grp",
        sum("brk").over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("p1"), max("pos").as("p2"))
      .select(col("doc_id"), (col("p2") - col("p1") + k).cast("long").as("span_tokens"))
    val perDoc = spans
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_tokens").as("dup_tokens"))
    docs
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - (k - 1)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_tokens"))
      .select("doc_id", "n_tokens", "n_windows", "n_spans", "dup_tokens")
      .orderBy("doc_id")
  }

  private val qDedupSubstringsSql = {
    val t = TextOps.tokensSql
    val k = SubK
    s"""WITH tk AS (SELECT doc_id, $t AS t FROM documents),
       |docs AS (SELECT doc_id, t FROM tk WHERE len(t) >= $k),
       |win AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(list_slice(t, i, i + ${k - 1}), ' ')) AS wh
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${k - 2})) AS i FROM docs)),
       |dup AS (SELECT wh FROM win GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
       |dpos AS (SELECT doc_id, pos FROM win WHERE wh IN (SELECT wh FROM dup)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev > ${k - 1} THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM (SELECT doc_id, pos,
       |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |        FROM dpos)),
       |spans AS (
       |  SELECT doc_id, max(pos) - min(pos) + $k AS span_tokens
       |  FROM isl GROUP BY doc_id, grp),
       |per AS (
       |  SELECT doc_id, count(*) AS n_spans, sum(span_tokens) AS dup_tokens
       |  FROM spans GROUP BY doc_id)
       |SELECT d.doc_id, len(d.t)::BIGINT AS n_tokens,
       |  (len(d.t) - ${k - 1})::BIGINT AS n_windows,
       |  coalesce(p.n_spans, 0)::BIGINT AS n_spans,
       |  coalesce(p.dup_tokens, 0)::BIGINT AS dup_tokens
       |FROM docs d LEFT JOIN per p USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** The CAPSTONE composition — the one call a training-data pipeline
    * actually makes: exact dedup + near dedup + benchmark-contamination
    * screen + quality floor, returning the admitted corpus. Each stage is
    * the operator proven individually above/in TextOps; composing them in
    * one DataFrame lets Catalyst share the shingle scan between the
    * near-dup join and the contamination screen. The quality threshold
    * compares the PORTABLY-ROUNDED score (4 decimals) so an engine-side
    * ulp can never flip an admission decision. One pass of drops, one
    * anti join — at 100 TB every stage keeps its own documented bound. */
  /** The four drop sets of the cleaning pipeline — one definition shared
    * by [[qPipelineClean]] (survivors) and [[qPipelineAudit]] (per-doc
    * drop reasons), so the audit can never disagree with the clean. */
  private def pipelineDrops(
      s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.functions.PortableRound.pround
    val docs = Tables.documents(s, d)
    // near-dup drops (the shared nearDupEdges definition — as qDedupApply)
    val nearDrops = nearDupEdges(s, d).select(col("db").as("doc_id"))
    // exact drops (fingerprint groups — keep min doc_id)
    val exactDrops = docs
      .select(col("doc_id"), fingerprint(col("text")).as("f"))
      .withColumn(
        "keep",
        min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("f")))
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id")
    // contamination drops (share any shingle with the probe docs — as qContamination)
    val sh = shingleSets(docs).cache()
    val probes = sh.filter(col("doc_id") < 2).select(explode(col("shs")).as("sh")).distinct()
    val contaminated = sh.filter(col("doc_id") >= 2)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .join(broadcast(probes), Seq("sh"), "left_semi")
      .select("doc_id")
    // quality drops (score below the floor — same formula as q_quality_score)
    val st = graft.functions.NativeExprs.textStats(col("text"), TextOps.stopwordList)
    val nTok = col("st.n_tokens").cast("double")
    val lowQuality = docs
      .select(col("doc_id"), length(col("text")).cast("double").as("len"), st.as("st"))
      .withColumn(
        "score",
        pround(
          least(nTok / lit(100.0), lit(1.0)) * 0.5 +
            least(col("st.stop_hits").cast("double") / nTok * lit(5.0), lit(1.0)) * 0.3 +
            (col("st.n_alnum").cast("double") / col("len")) * 0.2,
          4))
      .filter(col("score") < 0.35)
      .select("doc_id")
    (nearDrops, exactDrops, contaminated, lowQuality)
  }

  /** Build-once PERSISTED drop-decision table of the cleaning pipeline —
    * the artifact a production clean run PUBLISHES: one row per dropped
    * document with its one-hot reason flags and reason count (exactly
    * [[qPipelineAudit]]'s shape), bucketed by doc_id. The expensive drop
    * derivation ([[pipelineDrops]]: near-dup machinery, fingerprint
    * window, contamination semi join, quality scan) runs once per
    * warehouse; the clean/audit/token-cost cards are then VIEWS over the
    * stored decisions — they cannot disagree with each other, and at
    * 100 TB the audit questions ("whom did we drop, why, at what token
    * bill") stop re-running the pipeline per question. The same stored-
    * artifact pattern as the incremental shingle index and the tokenizer
    * models; cross-JVM reusable via the fingerprint marker. */
  private def ensurePipelineFlags(s: SparkSession, d: String): String = {
    val t = graft.sources.Warehouse.tableName("graft_pipe_flags", d)
    graft.sources.Warehouse.ensure(s, t, "doc_id", reuseFrom = Some(d)) {
      val (nearDrops, exactDrops, contaminated, lowQuality) = pipelineDrops(s, d)
      // each drop subtree planned ONCE: tag with one-hot flag columns,
      // union, and max-reduce per doc — one shuffle, no re-join of the
      // expensive near-dup/contamination subplans
      def tag(df: DataFrame, slot: Int) = df.select(
        col("doc_id") +:
          Seq("near_dup", "exact_dup", "contaminated", "low_quality").zipWithIndex.map {
            case (n, i) => lit(if (i == slot) 1L else 0L).as(n)
          }: _*)
      tag(nearDrops, 0)
        .union(tag(exactDrops, 1))
        .union(tag(contaminated, 2))
        .union(tag(lowQuality, 3))
        .groupBy("doc_id")
        .agg(
          max("near_dup").as("near_dup"),
          max("exact_dup").as("exact_dup"),
          max("contaminated").as("contaminated"),
          max("low_quality").as("low_quality"))
        .withColumn(
          "n_reasons",
          col("near_dup") + col("exact_dup") + col("contaminated") + col("low_quality"))
    }
    t
  }

  def qPipelineClean(s: SparkSession, d: String): DataFrame = {
    val drops = s.table(ensurePipelineFlags(s, d)).select("doc_id")
    Tables.documents(s, d)
      .join(drops, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** [[qPipelineClean]] instrumented with Spark `observe` metrics — the
    * run-accounting counters a production pipeline publishes with every
    * cleaning run (survivor count, kept character mass, id range).
    * `CollectMetrics` rides the EXISTING plan as accumulator-backed
    * side-state: the numbers materialize with whatever action the caller
    * already executes (the survivors write), costing zero extra scans —
    * the same answers as a follow-up aggregation query, minus its whole
    * job. At 100 TB that difference is a full pass over the survivors.
    * Observe constraints honored: no distinct aggregates (their merge
    * isn't accumulator-shaped); the spec cross-checks every metric
    * against an independent aggregation of the same frame. */
  def pipelineCleanObserved(
      s: SparkSession, d: String,
      obs: org.apache.spark.sql.Observation): DataFrame =
    qPipelineClean(s, d).observe(
      obs,
      count(lit(1)).as("n_survivors"),
      sum("n_chars").as("chars_kept"),
      min("doc_id").as("min_doc"),
      max("doc_id").as("max_doc"))

  /** Pipeline DROP AUDIT — the observability twin of [[qPipelineClean]]:
    * one row per DROPPED document with a 0/1 flag per reason (near-dup,
    * exact-dup, contamination, quality floor) and the reason count. A
    * production pipeline publishes this next to its survivor set — "how
    * much did each gate cost, and whom" is the first question asked of
    * any cleaning run, and per-doc flags (not just totals) are what lets
    * an owner appeal a drop. Same stage definitions as the clean (shared
    * [[pipelineDrops]]), composed with four doc_id-keyed left joins onto
    * the distinct drop union — co-partitioned on the same key at scale,
    * so the audit costs the pipeline's stages plus one joined scan. */
  def qPipelineAudit(s: SparkSession, d: String): DataFrame =
    // pure probe of the published drop-decision table (its build IS the
    // one-hot union + max-reduce that used to live here)
    s.table(ensurePipelineFlags(s, d)).orderBy("doc_id")

  /** Pipeline TOKEN-COST card — "what does each gate cost, in the unit
    * the model trains on": every document's token mass is attributed to
    * exactly ONE stage, the FIRST drop reason in pipeline order
    * (near-dup → exact-dup → contamination → quality floor; survivors →
    * kept), so the five rows PARTITION the corpus and token masses sum
    * to the corpus total — the accounting view that lets an owner trade
    * a gate's strictness against its token bill. Shares
    * [[pipelineDrops]] with the clean/audit cards, so the three can
    * never disagree on who was dropped.
    *
    * Scale shape: a probe of the stored drop-decision table
    * ([[ensurePipelineFlags]]), a doc_id-keyed left join onto the corpus
    * token counts (co-partitioned at scale), a 5-row aggregate, and a
    * window over those 5 rows for the shares. */
  def qPipelineTokenCost(s: SparkSession, d: String): DataFrame = {
    val flags = s.table(ensurePipelineFlags(s, d))
    val toks = Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(graft.functions.NativeExprs.tokens(col("text"))).cast("long").as("n_tokens"))
    val staged = toks
      .join(flags, Seq("doc_id"), "left")
      .withColumn(
        "stage",
        when(col("near_dup") === 1L, "1_near_dup")
          .when(col("exact_dup") === 1L, "2_exact_dup")
          .when(col("contaminated") === 1L, "3_contaminated")
          .when(col("low_quality") === 1L, "4_low_quality")
          .otherwise("5_kept"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    staged
      .withColumn(
        "token_share_ppm",
        expr("n_tokens * 1000000 div sum(n_tokens) over ()"))
      .orderBy("stage")
  }

  private val qPipelineTokenCostSql = {
    val t = TextOps.tokensSql
    s"""WITH $pipelineDropsSqlCtes,
       |staged AS (
       |  SELECT
       |    CASE
       |      WHEN doc_id IN (SELECT doc_id FROM near_drops) THEN '1_near_dup'
       |      WHEN doc_id IN (SELECT doc_id FROM exact_drops) THEN '2_exact_dup'
       |      WHEN doc_id IN (SELECT doc_id FROM contaminated) THEN '3_contaminated'
       |      WHEN doc_id IN (SELECT doc_id FROM low_quality) THEN '4_low_quality'
       |      ELSE '5_kept' END AS stage,
       |    len($t)::BIGINT AS n_tokens
       |  FROM documents),
       |agg AS (
       |  SELECT stage, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
       |  FROM staged GROUP BY 1)
       |SELECT stage, n_docs, n_tokens,
       |  CAST(n_tokens * 1000000 // sum(n_tokens) OVER () AS BIGINT) AS token_share_ppm
       |FROM agg ORDER BY stage""".stripMargin
  }

  /** The clean pipeline's full CTE prologue (shingle machinery + the four
    * drop sets) — one definition shared by the clean and audit oracles. */
  private def pipelineDropsSqlCtes: String = {
    import graft.functions.PortableRound.{proundSql => pr}
    val t = TextOps.tokensSql
    val stop = "('the', 'a', 'an', 'and', 'of', 'to', 'in', 'is', 'on', 'for')"
    val score = pr(
      s"least(len($t) / 100.0, 1.0) * 0.5 " +
        s"+ least(len(list_filter($t, x -> x IN $stop))::DOUBLE / len($t) * 5.0, 1.0) * 0.3 " +
        "+ length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE / length(text) * 0.2",
      4)
    s"""${shinglePairsSqlCtes(minInter = 1)},
       |$nearDropsSqlCte,
       |exact_drops AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (
       |      PARTITION BY ${TextOps.fingerprintSql}) AS keep
       |    FROM documents) WHERE doc_id <> keep),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM tri
       |  WHERE doc_id >= 2 AND sh IN (SELECT sh FROM tri WHERE doc_id < 2)),
       |low_quality AS (
       |  SELECT doc_id FROM documents WHERE $score < 0.35)""".stripMargin
  }

  private val qPipelineCleanSql =
    s"""WITH $pipelineDropsSqlCtes
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM near_drops
       |                     UNION SELECT doc_id FROM exact_drops
       |                     UNION SELECT doc_id FROM contaminated
       |                     UNION SELECT doc_id FROM low_quality)
       |ORDER BY doc_id""".stripMargin

  private val qPipelineAuditSql =
    s"""WITH $pipelineDropsSqlCtes,
       |dropped AS (
       |  SELECT doc_id FROM near_drops UNION SELECT doc_id FROM exact_drops
       |  UNION SELECT doc_id FROM contaminated UNION SELECT doc_id FROM low_quality)
       |SELECT doc_id,
       |  near_dup, exact_dup, contaminated, low_quality,
       |  (near_dup + exact_dup + contaminated + low_quality)::BIGINT AS n_reasons
       |FROM (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id IN (SELECT doc_id FROM near_drops) THEN 1 ELSE 0 END)::BIGINT
       |      AS near_dup,
       |    (CASE WHEN doc_id IN (SELECT doc_id FROM exact_drops) THEN 1 ELSE 0 END)::BIGINT
       |      AS exact_dup,
       |    (CASE WHEN doc_id IN (SELECT doc_id FROM contaminated) THEN 1 ELSE 0 END)::BIGINT
       |      AS contaminated,
       |    (CASE WHEN doc_id IN (SELECT doc_id FROM low_quality) THEN 1 ELSE 0 END)::BIGINT
       |      AS low_quality
       |  FROM dropped)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus-build write path

  /** End-to-end TRAINING-CORPUS BUILD — the write path that turns the
    * cleaning pipeline's survivor set into an on-disk sharded corpus plus
    * its manifest, in ONE job:
    *
    *   clean ([[pipelineCleanObserved]] — the observe metrics ride the
    *   write action for free) → per-doc token counts → token-balanced
    *   shard assignment ([[Sampling.shardAssign]], the q_shard_plan
    *   mechanism) → one physical shard FILE per logical shard through the
    *   staged-commit `graft-kv` sink (an explicit shard→partition
    *   Partitioner — the one place an RDD hop is the right tool, because
    *   DataFrame repartition hashes values instead of binding them) →
    *   manifest computed FROM THE WRITTEN FILES read back.
    *
    * Kill/resume story is the sink's batch commit contract: every task
    * stages under `_temp/<jobToken>`, the driver renames staged shards
    * into place only at commit, truncate removes any previous committed
    * shards first, and a foreign (crashed) job's staging dir is left
    * alone — so a killed build leaves either the old corpus or nothing
    * visible, and a rerun converges to exactly-once content
    * (ExtrasSpec plants a crashed job's debris and proves it).
    *
    * The manifest is the gate row, hash-gated end to end: per source —
    * docs before, docs kept (counted from the READ-BACK files, so a
    * write bug breaks the gate), exact token mass kept, the
    * largest-remainder mixture quota over kept tokens (the
    * q_mixture_plan recipe applied to the cleaned corpus), and the
    * observe-metric survivor total as a cross-check column. */
  def qCorpusBuild(s: SparkSession, d: String): DataFrame =
    buildCorpusTo(s, d, graft.sources.Formats.sinkDir(s, "corpus"))

  private[operators] def buildCorpusTo(s: SparkSession, d: String, out: String): DataFrame = {
    import graft.functions.NativeExprs.tokens
    val obs = org.apache.spark.sql.Observation()
    val survivors = pipelineCleanObserved(s, d, obs)
    // localCheckpoint, NOT cache: shardAssign references this frame from
    // TWO plan branches (the offsets aggregate and the main join), so
    // unshared it would run the whole cleaning pipeline twice — and a
    // cache is only at-LEAST-once (an evicted partition recomputes, which
    // re-fires the observe accumulators: measured on the 1g-executor
    // local-cluster probe, survivors_observed inflated 343→515). The
    // eager local checkpoint materializes the plan exactly once — the
    // observe metrics fire on that one pass — and evicted blocks reload
    // from disk instead of recomputing.
    val withText = survivors
      .join(Tables.documents(s, d).select("doc_id", "text"), "doc_id")
      .select(
        col("doc_id"), col("source"), col("text"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint()
    val sharded = Sampling.shardAssign(withText)
    // bind logical shard → physical writer partition EXACTLY (file
    // part-...-pNNNNN is shard NNNNN): an explicit Partitioner, not a
    // hash repartition that would scatter 16 shard values over 16
    // buckets with collisions and gaps
    val nShards = Sampling.NumShards.toInt
    val rows = sharded
      .select(col("shard"), col("doc_id"), col("text"))
      .rdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nShards
        override def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
      })
      .map { case (_, (id, text)) => org.apache.spark.sql.Row(id.toString, text) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "key", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "value", org.apache.spark.sql.types.StringType, nullable = false)))
    // the WRITE is the job's action — the observe metrics materialize on it
    s.createDataFrame(rows, schema)
      .write.format("graft-kv").mode("overwrite").save(out)
    val observedSurvivors = obs.get("n_survivors").asInstanceOf[Long]
    // manifest FROM the written corpus: read back, re-derive source and
    // token mass, quota by largest remainder (the q_mixture_plan recipe)
    val kept = s.read.format("graft-kv").load(out)
      .select(
        col("key").cast("long").as("doc_id"),
        size(tokens(col("value"))).cast("long").as("n_tokens"))
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"), sum("n_tokens").as("tokens_kept"))
    val totals = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs_total"))
    val tot = kept.agg(sum("tokens_kept").as("tot"))
    val b = Sampling.MixturePlanBudget
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    totals
      .join(kept, Seq("source"), "left")
      .select(
        col("source"), col("n_docs_total"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
      .crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($b * tokens_kept) div tot"))
      .withColumn("rem", expr(s"($b * tokens_kept) % tot"))
      .withColumn("short", lit(b) - sum("base").over())
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(
        col("source"), col("n_docs_total"), col("n_docs_kept"), col("tokens_kept"),
        (col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L))
          .as("quota_tokens"),
        lit(observedSurvivors).as("survivors_observed"))
      .orderBy("source")
  }

  private val qCorpusBuildSql = {
    val t = TextOps.tokensSql
    val b = Sampling.MixturePlanBudget
    s"""WITH $pipelineDropsSqlCtes,
       |survivors AS (
       |  SELECT * FROM documents
       |  WHERE doc_id NOT IN (SELECT doc_id FROM near_drops
       |                       UNION SELECT doc_id FROM exact_drops
       |                       UNION SELECT doc_id FROM contaminated
       |                       UNION SELECT doc_id FROM low_quality)),
       |kept AS (
       |  SELECT source, count(*)::BIGINT AS n_docs_kept,
       |    sum(len($t))::BIGINT AS tokens_kept
       |  FROM survivors GROUP BY 1),
       |totals AS (SELECT source, count(*)::BIGINT AS n_docs_total
       |           FROM documents GROUP BY 1),
       |tot AS (SELECT sum(tokens_kept)::BIGINT AS tot FROM kept),
       |nsurv AS (SELECT count(*)::BIGINT AS n FROM survivors),
       |based AS (
       |  SELECT t.source, t.n_docs_total,
       |    COALESCE(k.n_docs_kept, 0)::BIGINT AS n_docs_kept,
       |    COALESCE(k.tokens_kept, 0)::BIGINT AS tokens_kept,
       |    ($b * COALESCE(k.tokens_kept, 0)) // tot.tot AS base,
       |    ($b * COALESCE(k.tokens_kept, 0)) % tot.tot AS rem
       |  FROM totals t LEFT JOIN kept k ON t.source = k.source, tot),
       |ranked AS (
       |  SELECT *, $b - sum(base) OVER () AS short,
       |    row_number() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM based)
       |SELECT source, n_docs_total, n_docs_kept, tokens_kept,
       |  (base + CASE WHEN rk <= short THEN 1 ELSE 0 END)::BIGINT AS quota_tokens,
       |  (SELECT n FROM nsurv) AS survivors_observed
       |FROM ranked ORDER BY source""".stripMargin
  }

  private val MinhashPerms = 64
  private val Bands = 16 // 16 bands × 4 rows

  /** 64-perm MinHash signature of a (distinct-trigram-shingle) array —
    * shared by the batch LSH sweep and the streaming against-corpus dedup
    * ([[graft.streaming.StreamingDedup]]). */
  private[graft] def minhashSignature(shs: Column): Column =
    graft.functions.NativeExprs.minHashSig(shs, MinhashPerms)

  /** array<struct<band,bkey>> of the 16 LSH band keys of a signature.
    * Computed from a MATERIALIZED sig column (sig is referenced once per
    * band — inlining the signature expression here would evaluate it 16×
    * per row). */
  private[graft] def signatureBands(sig: Column): Column =
    transform(
      sequence(lit(0), lit(Bands - 1)),
      b =>
        struct(
          b.as("band"),
          xxhash64(slice(sig, b * lit(MinhashPerms / Bands) + lit(1), lit(MinhashPerms / Bands)))
            .as("bkey")))

  /** Appends the distinct trigram shingle set as `shs`, dropping docs with
    * <3 tokens (no shingle). Keeps every other column — streaming callers
    * must preserve their event-time column without a self-join. */
  private[graft] def withShingleSet(docs: DataFrame): DataFrame =
    docs
      .filter(size(toks(col("text"))) >= 3)
      .withColumn("shs", shingles(col("text")))

  /** doc_id + distinct trigram shingle set of every doc with ≥3 tokens —
    * the input both minhash stages start from. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    withShingleSet(docs).select(col("doc_id"), col("shs"))

  /** doc_id → group representative (min doc_id over the [[fingerprint]]
    * equivalence class) for every doc that passes `base`'s own filters.
    * The identical-content COLLAPSE all pairwise similarity sweeps share:
    * equal fingerprint ⟺ equal ws-normalized lowercased text ⟹ equal
    * token stream ([[graft.functions.NativeExprs.Tokens]] lowercases the
    * same way) ⟹ equal shingle sets — so every similarity-relevant
    * derivation (signature, bands, capped set, prefix) is CONSTANT within
    * a group, and the quadratic candidate machinery only needs one
    * representative per group. At 100 TB this is the load-bearing move:
    * exact-duplicate mass in crawled corpora is huge (often 30-50%), and
    * without the collapse every g-sized identical-content group costs the
    * band/prefix joins g² candidate rows for information the fingerprint
    * already had — with it, join cost scales with DISTINCT content while
    * the (inherently quadratic) pair OUTPUT is reconstituted by a cheap
    * output-linear expansion ([[expandRepPairs]]). Measured at a 10×
    * verbatim-replicated sf0.1: minhash 18.8 s → linear-grade, prefix
    * join 51.8 s → linear-grade (NOTES_BUILD r8). */
  /** Membership table (rep, doc_id) for identical-KEY groups — rep =
    * min(doc_id) per distinct key. ONE collapse construction for every
    * identical-content sweep: the text paths key by content fingerprint
    * ([[groupMembers]]); [[Multimodal.qImageDedup]] keys by the 64-bit
    * dhash itself. */
  private[operators] def groupMembersBy(base: DataFrame, key: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // min-over-window instead of aggregate-then-join-back: the key
    // derivation (an md5 fingerprint / dhash over every doc) runs ONCE,
    // where the join shape evaluated `base` once per join side — and the
    // single exchange on gk is the same shuffle the aggregate needed
    // anyway (guide §2.4)
    base.select(col("doc_id"), key.as("gk"))
      .withColumn("rep", min("doc_id").over(Window.partitionBy("gk")))
      .select(col("rep"), col("doc_id"))
  }

  private def groupMembers(base: DataFrame): DataFrame =
    groupMembersBy(base, fingerprint(col("text")))

  /** Expand representative-level verified pairs back to all member pairs:
    * cross-group pairs inherit the rep pair's (exact — the sets are
    * identical within a group) jaccard; intra-group pairs are exact
    * duplicates, jaccard 1.0. `intraReps` lists the reps whose groups
    * QUALIFY for intra emission (a group only pairs with itself when the
    * rep would have been its own LSH/prefix candidate — always true for
    * minhash, capped-set-nonempty for the prefix join). Output-linear:
    * two joins against the membership table plus one within-group
    * self-join. */
  private[operators] def expandRepPairs(
      repPairs: DataFrame, members: DataFrame, intraReps: DataFrame,
      scoreCol: String = "jaccard", intraScore: Column = lit(1.0)): DataFrame = {
    val cross = repPairs
      .join(members.select(col("rep").as("da"), col("doc_id").as("xa")), "da")
      .join(members.select(col("rep").as("db"), col("doc_id").as("xb")), "db")
      .select(
        least(col("xa"), col("xb")).as("da"),
        greatest(col("xa"), col("xb")).as("db"),
        col(scoreCol))
    val intraMembers = members.join(intraReps.select("rep"), "rep")
    val intra = intraMembers.as("m1")
      .join(intraMembers.as("m2"),
        col("m1.rep") === col("m2.rep") && col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("da"), col("m2.doc_id").as("db"),
        intraScore.as(scoreCol))
    cross.union(intra)
  }

  /** MinHash + LSH banding — the 100 TB near-dup path. Identical-content
    * groups are COLLAPSED to one representative first ([[groupMembers]] —
    * signatures and bands are constant within a group, so the band join
    * runs over distinct content only and member pairs are expanded back
    * output-linearly). Signatures are computed per representative in ONE
    * projection (transform over 64 seeds × array_min over shingle hashes —
    * no 64-way explode), then banded; candidates share any band;
    * candidates are verified with exact Jaccard. Two identical docs share
    * every band and verify at J = 1.0 ≥ 0.5, so every intra-group pair is
    * emitted — exactly what the expansion reconstructs.
    * Hash-dependent (xxhash64) → no SQL oracle; ScalaTest plants near-dups
    * and checks recall. */
  def qMinHashLsh(s: SparkSession, d: String): DataFrame = {
    val base = withShingleSet(Tables.documents(s, d))
    val members = groupMembers(base).cache()
    val docs = base
      .select(col("doc_id"), col("shs"))
      .join(members.filter(col("rep") === col("doc_id")).select("doc_id"), "doc_id")
      .cache()
    val banded = docs
      .select(col("doc_id"), minhashSignature(col("shs")).as("sig"))
      .select(col("doc_id"), explode(signatureBands(col("sig"))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cand = banded.as("x")
      .join(banded.as("y"), Seq("band", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    val withSets = cand
      .join(docs.select(col("doc_id").as("da"), col("shs").as("sa")), "da")
      .join(docs.select(col("doc_id").as("db"), col("shs").as("sb")), "db")
    val repPairs = withSets
      .select(
        col("da"),
        col("db"),
        pround(
          size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))).cast("double"),
          6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    expandRepPairs(repPairs, members, members.select(col("rep")).distinct())
      .orderBy(col("jaccard").desc, col("da"), col("db"))
  }

  /** Prefix-filtered set-similarity join (the PPJoin candidate rule):
    * thresholded Jaccard pairs with candidates generated from each doc's
    * PREFIX — its ⌊(1−t)·n⌋+1 globally RAREST shingles under the total
    * order (df, sh) — instead of the full inverted index. Any pair with
    * J ≥ t must share a prefix shingle (if the prefixes were disjoint,
    * the overlap is confined to the ⌈t·n⌉-sized suffixes, forcing
    * J < t), so the candidate set is exact, and it is much smaller than
    * the full-index join's: prefixes are short AND skewed toward rare
    * shingles with tiny posting lists, and PPJoin's size + positional
    * filters prune per co-occurrence row before any pair materializes.
    * The stop-shingle cap is the ADAPTIVE type-median rule
    * ([[cappedShinglesAdaptive]]) rather than a fixed df ≤ 20: a df-d
    * shingle contributes d² co-occurrence rows, so on corpora whose df
    * distribution sits well below a fixed cap (this synthetic
    * 31-word-vocabulary corpus: median df 9 vs cap 20) the fixed cap
    * admits 4-5× the candidate mass the distribution's own midpoint
    * would. Candidates are then verified with the exact capped-set
    * Jaccard at the same threshold and shingle definition as
    * [[nearDupEdges]]; the oracle twin derives the identical cap from
    * the identical histogram-rank rule, and the spec pins the
    * generator-equality property (prefix candidates ≡ full-index edges
    * at the SAME cap) plus candidates(prefix) < candidates(full). */
  def qPrefixJaccard(s: SparkSession, d: String): DataFrame = {
    val capped = cappedShinglesAdaptive(s, d).cache()
    // df table and the adaptive cap are computed over the FULL corpus
    // (duplicates included — collapsing first would change every df and
    // thus the cap/sets/J values); only the quadratic candidate machinery
    // below runs on identical-content representatives ([[groupMembers]]),
    // with member pairs expanded back afterward. Identical docs have
    // identical capped sets, so rep-level candidates/J are exact for
    // every member pair; a group qualifies for intra-group emission iff
    // its capped set is NON-empty (an empty set generates no candidate
    // in the uncollapsed join either — J is 0/0, not 1).
    val members = groupMembers(
      Tables.documents(s, d).filter(size(toks(col("text"))) >= 3)).cache()
    val cappedReps = capped
      .join(members.filter(col("rep") === col("doc_id")).select("doc_id"), "doc_id")
      .cache()
    // cached: BOTH sides of the self-join read it, and the window stage
    // (global-rarity ranking) is the expensive part of building it.
    // The rarity ranking reads the df column capped already carries —
    // full-corpus df (reps and members alike), exactly what the former
    // capped.groupBy("sh") aggregate recomputed.
    val prefix = prefixShingles(cappedReps).cache()
    val cooc = prefix.as("a")
      .join(prefix.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.rk").as("rka"), col("b.rk").as("rkb"),
        col("a.n").as("na"), col("b.n").as("nb"))
    // PPJoin's two lossless prunes, applied per co-occurrence row BEFORE
    // the (expensive) set-verify join. Size filter: J ≥ t and
    // inter ≤ min(na,nb) force min(na,nb)·(num+den) ≥ num·(na+nb).
    // Positional filter: a true pair's FIRST shared shingle s (which the
    // prefix lemma guarantees is a cooc row) bounds the overlap by
    // 1 + min(na−rka, nb−rkb) ≤ min(rka,rkb) + min(na−rka, nb−rkb), so
    // a pair none of whose rows reach minInter = ⌈num·(na+nb)/(num+den)⌉
    // cannot qualify — all exact integer arithmetic, same rational as
    // the admission bar.
    val minInter = expr(
      s"($NearDupNum * (na + nb) + ${NearDupNum + NearDupDen - 1}) div ${NearDupNum + NearDupDen}")
    val cand = cooc
      .filter(least(col("na"), col("nb")) * (NearDupNum + NearDupDen) >=
        lit(NearDupNum) * (col("na") + col("nb")))
      .filter(least(col("rka"), col("rkb")) +
        least(col("na") - col("rka"), col("nb") - col("rkb")) >= minInter)
      .select("da", "db")
      .distinct()
    // verification joins each candidate to its two capped shingle SETS —
    // one row per candidate with a codegen'd intersect, not a 3-way
    // row-explode join (the same verify shape as qMinHashLsh)
    val sets = cappedReps
      .groupBy("doc_id")
      .agg(collect_list(col("sh")).as("shs"), count(lit(1)).as("n"))
    val repPairs = cand
      .join(sets.select(col("doc_id").as("da"), col("shs").as("sa"), col("n").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("shs").as("sb"), col("n").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= NearDupBar)
      .select(
        col("da"),
        col("db"),
        pround(col("inter") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
    val nonEmptyReps = cappedReps.select(col("doc_id").as("rep")).distinct()
    expandRepPairs(repPairs, members, nonEmptyReps)
      .orderBy("da", "db")
  }

  /** Per-doc prefix rows under the global rarity order: rank shingles by
    * (df, sh) ascending within each doc, keep rank ≤ n − ⌈t·n⌉ + 1.
    * `capped` must carry a `df` column ([[cappedShinglesAdaptive]] emits
    * it directly now — the former shape joined a separately-aggregated
    * df table back onto the same rows it was counted from). */
  private[operators] def prefixShingles(capped: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("df", "sh")
    capped
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      // ⌈t·n⌉ = (n·num + den−1) div den in exact integer arithmetic,
      // derived from the SAME rational as NearDupBar — the prefix length
      // cannot drift from the admission bar
      .filter(col("rk") <=
        col("n") - expr(s"(n * $NearDupNum + ${NearDupDen - 1}) div $NearDupDen") + 1)
      .select("doc_id", "sh", "rk", "n")
  }

  private val qPrefixJaccardSql =
    s"""WITH $adaptiveIndexSqlCtes,
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db,
       |  floor((inter / (sa.n + sb.n - inter)) * 1000000 + 0.5) / 1000000.0 AS jaccard
       |FROM pairs
       |JOIN sizes sa ON da = sa.doc_id
       |JOIN sizes sb ON db = sb.doc_id
       |WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar
       |ORDER BY da, db""".stripMargin

  /** Driver-visible MinHash-LSH recall: ONE row (n_true, n_found) — the
    * exhaustive truth-pair count at [[qMinHashLsh]]'s own bar (full-set
    * Jaccard ≥ 0.5, decided by the exact integer predicate 3·inter ≥
    * na+nb) and how many of those pairs the banded LSH path recovered.
    * The truth sweep is inverted-index complete WITHOUT the maxDF cap: a
    * J ≥ 0.5 pair shares at least one shingle, so the equi-join generates
    * every qualifying candidate (quadratic only in the verification demo
    * sense — non-headline, like the other exhaustive twins).
    *
    * The DuckDB oracle computes n_true exactly and asserts
    * n_found = n_true: on this corpus every true pair sits at J ≥ 0.9,
    * where 16-band × 4-row banding collides with probability
    * 1−(1−j⁴)¹⁶ > 0.9999 — the SketchSpec measurement is exactly 1.0, so
    * full recovery IS the correct answer, and any banding regression
    * breaks the driver's hash gate instead of hiding in a no-oracle
    * row. */
  def qMinhashRecall(s: SparkSession, d: String): DataFrame = {
    val lshPairs = qMinHashLsh(s, d).select("da", "db")
    val sh = shingleSets(Tables.documents(s, d))
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val truth = withEndpointSizes(pairs, sizes)
      .filter(col("inter") * 3 >= col("na") + col("nb"))
      .select("da", "db")
    val found = truth.join(lshPairs, Seq("da", "db"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
  }

  private val qMinhashRecallSql = {
    val t = TextOps.tokensSql
    s"""WITH tk AS (SELECT doc_id, $t AS t FROM documents),
       |tri AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(t) - 1),
       |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
       |  FROM tk WHERE len(t) >= 3),
       |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY 1),
       |pr AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT da, db FROM pr
       |  JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
       |  WHERE 3 * inter >= sa.n + sb.n)
       |SELECT count(*)::BIGINT AS n_true, count(*)::BIGINT AS n_found FROM truth""".stripMargin
  }

  /** SimHash near-dup: 64-bit sketch (bit b set iff the sum of ±1 votes of
    * token hashes is positive), banded into 4×16-bit chunks for blocking,
    * verified by Hamming distance ≤ 3 — the bar the banding is COMPLETE
    * for: with 4 bands, any pair differing in ≤3 bits has a zero-diff band
    * by pigeonhole, so every qualifying pair is generated. (A ≤6 bar would
    * silently miss pairs whose 4-6 differing bits spread across all four
    * bands; guaranteeing ≤6 needs 7 bands of ~9 bits, whose 512-bucket
    * keys collide far too often at corpus scale.) Hash-dependent → no SQL
    * oracle.
    *
    * The per-bit vote needs the lambda bit index as a shift amount, which
    * the typed Column helpers can't express (`shiftright` takes a literal
    * int), so the sketch is one SQL HOF expression — still fully native,
    * no UDF. */
  def qSimHash(s: SparkSession, d: String): DataFrame = {
    val withSim = Tables.documents(s, d)
      .select(
        col("doc_id"),
        graft.functions.NativeExprs.simHash64(toks(col("text"))).as("simhash"))
    val banded2 = withSim.select(
      col("doc_id"),
      col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS band, shiftright(simhash, b * 16) & 65535L AS bkey))"))
        .as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bkey"))
    val cand = banded2.as("x")
      .join(banded2.as("y"), Seq("band", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("da"),
        col("y.doc_id").as("db"),
        col("x.simhash").as("ha"),
        col("y.simhash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= 3)
      .select("da", "db", "hamming")
      .orderBy("da", "db")
  }

  /** Driver-visible SimHash banding COMPLETENESS gate: one row with the
    * verdict that the banded candidate set contains EVERY brute-force
    * all-pairs Hamming ≤ 3 pair. The ≤3-bit bar is exactly what 4×16-bit
    * banding is complete for by pigeonhole (≤3 differing bits cannot
    * touch all four bands) — a mathematical guarantee, not a
    * probabilistic floor, so the verdict is deterministic TRUE unless
    * the banding or sketch kernel regresses, and the oracle asserts it.
    * (The pair COUNT is hash-dependent and stays in the specs; the
    * brute-force sweep is the non-headline verification demo.) */
  def qSimhashComplete(s: SparkSession, d: String): DataFrame = {
    val sketches = Tables.documents(s, d)
      .select(
        col("doc_id"),
        graft.functions.NativeExprs.simHash64(toks(col("text"))).as("simhash"))
      .cache()
    val brute = sketches.as("a")
      .join(sketches.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn(
        "hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    val banded = qSimHash(s, d).select("da", "db")
    val missed = brute.join(banded, Seq("da", "db"), "left_anti")
    // n_pairs is sketch-(hash-)dependent, so only the verdict column is
    // oracle-comparable — the pair count stays in the specs
    missed.agg((count(lit(1)) === 0).as("banding_complete"))
  }

  private val qSimhashCompleteSql =
    "SELECT TRUE AS banding_complete"

  /** Build-once FULL-CORPUS shingle index backing the contamination /
    * snippet-attribution cards, persisted as sh-bucketed managed tables
    * ([[graft.sources.Warehouse]], cross-JVM reusable): the uncapped
    * inverted index `tri` (doc_id, sh) over every ≥3-token document, the
    * full-corpus per-shingle DF stats, and the capped snippet probe set
    * (each doc's first [[SnippetTokens]]-token shingles with corpus df ≤
    * [[IncMaxDF]]). DF-universe semantics pinned here and in the oracles:
    * df is over the WHOLE corpus including any eval slice — unlike
    * [[ensureIncrementalIndex]], whose corpus side excludes the batch.
    * This is the nightly index job; the query-time cards never
    * re-tokenize or re-shingle the corpus (plan-guarded). Returns the
    * three table names (tri, df, snip). */
  private[operators] def ensureContaminationIndex(
      s: SparkSession, d: String): (String, String, String) = {
    import graft.sources.Warehouse
    val triT = Warehouse.tableName("graft_ctx_tri", d)
    val dfT = Warehouse.tableName("graft_ctx_df", d)
    val snT = Warehouse.tableName("graft_ctx_snip", d)
    Warehouse.ensure(s, triT, "sh", reuseFrom = Some(d)) {
      explodedShingles(s, d)
    }
    // df and the capped snippet set both derive from the STORED tri /
    // df tables — the build chain tokenizes the corpus once for tri and
    // once for the snippet prefixes, then never again
    Warehouse.ensure(s, dfT, "sh", reuseFrom = Some(d)) {
      s.table(triT).groupBy("sh").agg(count(lit(1)).as("df"))
    }
    Warehouse.ensure(s, snT, "sh", reuseFrom = Some(d)) {
      Tables.documents(s, d)
        .filter(size(toks(col("text"))) >= 3)
        .select(
          col("doc_id").as("snip_id"),
          explode(shingles(concat_ws(" ", slice(toks(col("text")), 1, SnippetTokens)))).as("sh"))
        .join(s.table(dfT).filter(col("df") <= IncMaxDF).select("sh"), "sh")
    }
    (triT, dfT, snT)
  }

  /** Benchmark-contamination check: flag corpus documents that share ANY
    * trigram shingle with a probe set (here: the two lowest-id documents,
    * a deterministic stand-in for a benchmark/eval suite). The corpus
    * side reads the PERSISTED inverted index
    * ([[ensureContaminationIndex]]) — never a corpus re-tokenize; the
    * probe side is shingled FRESH from a doc_id-pushed scan of the two
    * probe documents (the eval suite is the small daily arrival — at
    * 100 TB tokenizing it costs nothing, while extracting its shingles
    * from the sh-bucketed index would scan the whole index for two
    * docs). Probe set tiny → broadcast; the corpus side is a LEFT SEMI
    * join against it — each doc flagged at most once, no pair explosion,
    * one scan of the stored index. The 100 TB shape of "did eval data
    * leak into the training set". */
  def qContamination(s: SparkSession, d: String): DataFrame = {
    val (triT, _, _) = ensureContaminationIndex(s, d)
    val idx = s.table(triT)
    val probes = Tables.documents(s, d)
      .filter(col("doc_id") < 2)
      .filter(size(toks(col("text"))) >= 3)
      .select(explode(shingles(col("text"))).as("sh"))
      .distinct()
    idx.filter(col("doc_id") >= 2)
      .join(broadcast(probes), Seq("sh"), "left_semi")
      .select("doc_id")
      .distinct()
      .orderBy("doc_id")
  }

  private val qContaminationSql = {
    val t = TextOps.tokensSql
    s"""WITH tk AS (SELECT doc_id, $t AS t FROM documents),
       |tri AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(t) - 1),
       |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
       |  FROM tk WHERE len(t) >= 3)
       |SELECT DISTINCT doc_id FROM tri
       |WHERE doc_id >= 2
       |  AND sh IN (SELECT sh FROM tri WHERE doc_id < 2)
       |ORDER BY doc_id""".stripMargin
  }

  /** Tokens of a snippet: the doc's first [[SnippetTokens]] tokens. */
  private val SnippetTokens = 10

  /** Containment bar 4/5 as an exact rational (cf. [[NearDupNum]]). */
  private[operators] val ContainNum = 4
  private[operators] val ContainDen = 5

  /** Snippet attribution via ASYMMETRIC n-gram containment — the case
    * Jaccard-thresholded dedup is structurally blind to: a short text
    * (quote, excerpt, eval prompt) inside a long document scores
    * J ≈ |snippet|/|doc| → 0 as the doc grows, while its CONTAINMENT
    * |A∩B|/|A| stays 1. Each doc's first [[SnippetTokens]] tokens stand
    * in for the snippet set; a snippet matches every doc holding ≥ 4/5
    * of its rare shingles (exact integer predicate), so each snippet
    * recovers its own doc at containment 1 (the spec pins this) plus any
    * near-dup sharing the opening. The snippet side keeps only shingles
    * with corpus df ≤ [[IncMaxDF]] — at 100 TB that cap is what bounds
    * the inverted-index join: every probed posting list has ≤ maxDF
    * entries, so candidate fan-out is ≤ maxDF per snippet shingle
    * regardless of corpus size (a stop-shingle probe would touch every
    * document). The doc side needs no cap — the join only ever reads
    * posting lists the capped snippet side probes. Both sides are the
    * PERSISTED tables of [[ensureContaminationIndex]], sh-bucketed with
    * matching bucket counts, so the overlap join is co-located
    * (exchange-free on the big side) and the query never touches the raw
    * text — the fit is the nightly index job, paid once per warehouse. */
  def qSnippetContainment(s: SparkSession, d: String): DataFrame = {
    val (triT, _, snT) = ensureContaminationIndex(s, d)
    val tri = s.table(triT)
    val csnip = s.table(snT)
    val nsz = csnip.groupBy("snip_id").agg(count(lit(1)).as("n_snip"))
    val ov = csnip
      .join(tri, "sh")
      .groupBy("snip_id", "doc_id")
      .agg(count(lit(1)).as("overlap"))
    ov.join(nsz, "snip_id")
      .filter(col("overlap") * ContainDen >= lit(ContainNum) * col("n_snip"))
      .select(
        col("snip_id"),
        col("doc_id"),
        col("overlap"),
        col("n_snip"),
        pround(col("overlap") / col("n_snip"), 6).as("containment"))
      .orderBy("snip_id", "doc_id")
  }

  private val qSnippetContainmentSql = {
    val t = TextOps.tokensSql
    s"""WITH tk AS (SELECT doc_id, $t AS t FROM documents),
       |tri AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(t) - 1),
       |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
       |  FROM tk WHERE len(t) >= 3),
       |dfs AS (SELECT sh, count(*) AS df FROM tri GROUP BY 1),
       |snip AS (
       |  SELECT snip_id, unnest(list_distinct(
       |    list_transform(range(1, len(t10) - 1),
       |                   i -> t10[i] || ' ' || t10[i+1] || ' ' || t10[i+2]))) AS sh
       |  FROM (SELECT doc_id AS snip_id, list_slice(t, 1, $SnippetTokens) AS t10
       |        FROM tk WHERE len(t) >= 3)),
       |csnip AS (SELECT snip_id, s.sh FROM snip s JOIN dfs USING (sh) WHERE df <= $IncMaxDF),
       |nsz AS (SELECT snip_id, count(*) AS n_snip FROM csnip GROUP BY 1),
       |ov AS (
       |  SELECT c.snip_id, t.doc_id, count(*) AS overlap
       |  FROM csnip c JOIN tri t USING (sh) GROUP BY 1, 2)
       |SELECT snip_id, doc_id, overlap::BIGINT AS overlap, n_snip::BIGINT AS n_snip,
       |  floor(overlap / n_snip * 1000000 + 0.5) / 1000000.0 AS containment
       |FROM ov JOIN nsz USING (snip_id)
       |WHERE overlap * $ContainDen >= $ContainNum * n_snip
       |ORDER BY snip_id, doc_id""".stripMargin
  }

  /** GPT-3-style fractional decontamination between an eval slice and its
    * training corpus: an eval doc (the [[isNewBatch]] slice stands in for
    * the held-out set) is contaminated by a train doc holding ≥ 1/2 of
    * its capped shingles — the EVAL-side fraction, not Jaccard, because
    * the question is "how much of the benchmark leaks", not "how similar
    * are the docs". Strictly stronger evidence than [[qContamination]]'s
    * any-shared-shingle screen (that flags; this MEASURES per offending
    * train doc, with exact integers on the decision). The train side is
    * the PERSISTED [[ensureIncrementalIndex]] inverted index + DF stats
    * — the eval slice is the ONLY fresh tokenize (plan-guarded), so a
    * daily decontam of an eval batch costs ∝ the batch, never a corpus
    * re-shingle. DF-universe semantics (pinned in the oracle): the cap
    * is on the FULL-corpus df including the eval slice, reconstructed
    * from the stored train-only df_c plus the fresh eval df_e exactly as
    * [[incrementalEdges]] reconstructs total-capped sets — df_e+df_c ≤
    * maxDF ⟹ df_c ≤ maxDF, so the stored (train-df-capped) index joined
    * against the total-capped eval set reproduces the from-scratch
    * total-capped overlap bit-for-bit, and posting-list fan-out stays
    * bounded by maxDF. Real deployments use ~13-gram windows where
    * trigrams stand in at this corpus size; the machinery is
    * n-independent. */
  def qDecontamFrac(s: SparkSession, d: String): DataFrame = {
    val (shT, dfT, _, _) = ensureIncrementalIndex(s, d)
    val idx = s.table(shT)
    // the only tokenization this path runs: the eval slice
    // (caches are caller-owned, cf. incrementalEdges — Verify/Bench
    // clearCache() per query)
    val evalSh = Tables.documents(s, d)
      .filter(isNewBatch(col("doc_id")))
      .filter(size(toks(col("text"))) >= 3)
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      .cache()
    val dfE = evalSh.groupBy("sh").agg(count(lit(1)).as("df_e"))
    // full-corpus df = stored train df_c + fresh eval df_e
    val okSh = dfE
      .join(s.table(dfT), Seq("sh"), "left")
      .filter(coalesce(col("df_c"), lit(0L)) + col("df_e") <= IncMaxDF)
      .select("sh")
    val cappedEval = evalSh.join(okSh, "sh").cache()
    val esz = cappedEval.groupBy("doc_id").agg(count(lit(1)).as("n_eval"))
      .withColumnRenamed("doc_id", "eval_id")
    val ov = cappedEval.as("e")
      .join(idx.as("t"), col("e.sh") === col("t.sh"))
      .groupBy(col("e.doc_id").as("eval_id"), col("t.doc_id").as("train_id"))
      .agg(count(lit(1)).as("overlap"))
    ov.join(esz, "eval_id")
      .filter(col("overlap") * 2 >= col("n_eval"))
      .select(
        col("eval_id"),
        col("train_id"),
        col("overlap"),
        col("n_eval"),
        pround(col("overlap") / col("n_eval"), 6).as("frac"))
      .orderBy("eval_id", "train_id")
  }

  private val qDecontamFracSql =
    s"""WITH $shingleIndexSqlCtes,
       |ev AS (SELECT doc_id, sh FROM capped WHERE doc_id % 5 = 4),
       |esz AS (SELECT doc_id AS eval_id, count(*) AS n_eval FROM ev GROUP BY 1),
       |ov AS (
       |  SELECT e.doc_id AS eval_id, t.doc_id AS train_id, count(*) AS overlap
       |  FROM ev e JOIN capped t ON e.sh = t.sh AND t.doc_id % 5 <> 4
       |  GROUP BY 1, 2)
       |SELECT eval_id, train_id, overlap::BIGINT AS overlap, n_eval::BIGINT AS n_eval,
       |  floor(overlap / n_eval * 1000000 + 0.5) / 1000000.0 AS frac
       |FROM ov JOIN esz USING (eval_id)
       |WHERE overlap * 2 >= n_eval
       |ORDER BY eval_id, train_id""".stripMargin

  /** Embedding near-dup, ORACLE DEMO variant: cosine ≥ 0.3 pairs blocked
    * by the label column — SQL-replayable, so it carries the DuckDB
    * oracle for the scoring arithmetic. NOT the scale path: label
    * cardinality doesn't grow with the corpus, so per-block pair count
    * grows quadratically. The production blocking is
    * [[qEmbeddingNearDupLsh]]. Exact arithmetic in DOUBLE with sequential
    * folds → DuckDB list_cosine_similarity matches at 1e-6. */
  def qEmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    val a = e.as("a")
    val b = e.as("b")
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("va"),
        col("b.vec_id").as("vb"),
        pround(graft.functions.NativeExprs.cosineSim(col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= 0.3)
      .orderBy(col("cos").desc, col("va"), col("vb"))
  }

  private val qEmbeddingNearDupSql =
    """SELECT a.vec_id AS va, b.vec_id AS vb,
      |  floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1000000 + 0.5) / 1000000.0 AS cos
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1000000 + 0.5) / 1000000.0 >= 0.3
      |ORDER BY cos DESC, va, vb""".stripMargin

  /** Embedding near-dup, SCALE variant: candidates blocked by banded
    * random-hyperplane LSH buckets ([[Similarity.bandedBuckets]], 4 bands
    * × 8 planes) — a band bucket holds ~n/2⁸ of the corpus regardless of
    * its size, where a label block grows linearly (quadratic pairs within
    * it). A pair colliding in ANY band is scored once (distinct on ids
    * BEFORE re-joining vectors, so the wide embedding column never rides
    * through the dedup shuffle); candidates verified with exact cosine
    * against the same ≥ 0.3 near-dup bar as the label-blocked oracle
    * variant, so the two results are directly comparable (LSH recall =
    * this row count / the exhaustive count). The seed-fixed planes ride
    * into the oracle as literals, so the candidate set replays exactly in
    * DuckDB (hash-gated); SketchSpec additionally asserts the planted
    * near-identical pair survives. */
  def qEmbeddingNearDupLsh(s: SparkSession, d: String): DataFrame = {
    // cached: scanned for banding + twice more to re-attach vectors to the
    // candidate pairs; the harness clearCache()s after each query
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")).cache()
    val banded = e
      .select(col("vec_id"), explode(Similarity.bandedBuckets(col("v"))).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cand = banded.as("a")
      .join(banded.as("b"), Seq("band", "bkey"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("va"), col("v").as("xa")), "va")
      .join(e.select(col("vec_id").as("vb"), col("v").as("xb")), "vb")
      .select(
        col("va"),
        col("vb"),
        pround(graft.functions.NativeExprs.cosineSim(col("xa"), col("xb")), 6).as("cos"))
      .filter(col("cos") >= 0.3)
      .orderBy(col("cos").desc, col("va"), col("vb"))
  }

  /** Banded twin of [[Similarity.planesSqlValues]]: the 4×8 seed-fixed
    * plane matrix rides into DuckDB as literals, so the band buckets —
    * and therefore the exact candidate set — replay bit-for-bit. */
  private lazy val qEmbeddingNearDupLshSql = {
    val rows = Similarity.bandPlanes.zipWithIndex.flatMap { case (ps, b) =>
      ps.zipWithIndex.map { case (p, i) =>
        s"($b, $i, ${p.mkString("[", ", ", "]")}::DOUBLE[])"
      }
    }
    s"""WITH pl(band, pid, p) AS (VALUES
       |${rows.mkString(",\n")}),
       |bk AS (
       |  SELECT e.vec_id, pl.band,
       |    sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.p) >= 0
       |        THEN (1::BIGINT << pl.pid) ELSE 0 END)::BIGINT AS bkey
       |  FROM embeddings e CROSS JOIN pl GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.vec_id < b.vec_id)
       |SELECT c.va, c.vb,
       |  floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 1000000 + 0.5) / 1000000.0 AS cos
       |FROM cand c JOIN embeddings ea ON c.va = ea.vec_id
       |  JOIN embeddings eb ON c.vb = eb.vec_id
       |WHERE floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 1000000 + 0.5) / 1000000.0 >= 0.3
       |ORDER BY cos DESC, va, vb""".stripMargin
  }

  private val SemMinCells = 16
  private val SemTargetCell = 512
  private val SemBar = 0.3
  private val SemCentChunk = 65536

  /** Join-based nearest-centroid assignment: cell = argmax over the
    * centroid TABLE of (cos, -cid) — data flowing through a join, never a
    * driver collect or a codegen literal. The centroid set is sliced into
    * cid-range chunks; each chunk is rolled into a ONE-ROW array-of-struct
    * aggregate, broadcast, crossJoined (fan-out exactly 1 per corpus row),
    * and folded into a running best via `transform` + `array_max` — the
    * same (cos, -cid) struct-max [[Similarity.nearestCell]] uses, so the
    * row_number(ORDER BY cos DESC, cid)=1 oracle tie-break is preserved
    * bit-for-bit. The whole assignment is map-only (a chain of 1-row
    * broadcast joins, no shuffle), driver memory is O(1), and plan size is
    * O(k / chunk) — at k = 2M centroids that is 31 chunk joins of ≤16 MB
    * each, where the old literal chain was a multi-GB collect plus
    * generated code past the JVM 64 KB method limit. */
  private[graft] def assignCells(e: DataFrame, k: Long, chunk: Int): DataFrame = {
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
    val nChunks = ((k + chunk - 1) / chunk).toInt
    val withBest = (0 until nChunks).foldLeft(e) { (acc, i) =>
      val part = cents
        .filter(col("cid") >= i.toLong * chunk && col("cid") < (i + 1).toLong * chunk)
        .agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
      val chunkBest = array_max(transform(col("cents"), c =>
        struct(
          graft.functions.NativeExprs.cosineSim(col("v"), c.getField("cv")).as("cos"),
          (-c.getField("cid")).as("negid"))))
      val folded =
        if (i == 0) chunkBest
        else array_max(array(col("best"), chunkBest))
      acc.crossJoin(broadcast(part)).withColumn("best", folded).drop("cents")
    }
    withBest
      .withColumn("cell", (-col("best").getField("negid")).cast("long"))
      .select(col("vec_id"), col("v"), col("cell"))
  }

  /** SEMANTIC dedup, SemDeDup-shaped (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, call two documents
    * semantic duplicates when their cosine similarity inside the SAME
    * cluster clears the bar, and keep exactly one representative — the
    * minimum vec_id — per connected component of that within-cluster
    * duplicate graph. Cross-cluster near-dups are missed BY DESIGN;
    * that approximation is what bounds the pairwise work: each vector
    * is compared only against its own cell.
    *
    * Scale shape: the cell count ADAPTS to the corpus, k = max(16,
    * ⌈n/512⌉), so mean cell occupancy stays ~512 and the within-cell
    * self-join stays linear in n (the count() sizing k is a
    * metadata-only parquet row count — same device as
    * [[Similarity.qBucketedPairs]]'s adaptive plane count). Cells here
    * are the deterministic sampled centroids of [[Similarity.qIvf]]
    * (vec_id < k, nearest by (cos, -cid) — a pure function of the data,
    * so the DuckDB twin replays the assignment exactly); a production
    * run would swap in the k-means fit ([[Similarity.qIvfKmeans]]) with
    * identical downstream plumbing. Components need no fixpoint: every
    * edge joins two vectors of the SAME cell, so every component lies
    * inside one cell, and with the edges repartitioned by cell one
    * partition holds all of a cell's edges — [[contractLocal]]'s
    * per-partition union-find then returns the exact (component min,
    * node) labels in the same plan, with no checkpoint or round job.
    * At test SFs k stays 16, so results are SF-stable.
    *
    * Assignment is the join-based [[assignCells]] — k adapts to the
    * corpus, so unlike the fixed-k=16 IVF queries it must NOT collect
    * centroids to the driver or embed them as literals (k ≈ 2M at 10⁹
    * vectors would be a multi-GB collect and uncompilable codegen). */
  def qSemDedup(s: SparkSession, d: String): DataFrame =
    semDedupImpl(s, d, SemTargetCell, SemCentChunk)

  /** targetCell / centChunk parameterized so specs can force k >
    * SemMinCells and multiple centroid chunks on a small corpus. */
  private[graft] def semDedupImpl(
      s: SparkSession, d: String, targetCell: Int, centChunk: Int): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val n = e.count()
    val k = math.max(SemMinCells.toLong, (n + targetCell - 1) / targetCell)
    // cached: read by both sides of the edge self-join and the survivor
    // anti-join; the harness clearCache()s after each query
    val assigned = assignCells(e, k, centChunk).cache()
    val edges = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.cell").as("cell"),
        col("a.vec_id").as("da"),
        col("b.vec_id").as("db"),
        pround(graft.functions.NativeExprs.cosineSim(col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= SemBar)
    // components cannot cross cells, so one cell per partition makes the
    // local union-find's (root = component min, node) rows exact labels
    val drops = contractLocal(edges.repartition(col("cell")).select("da", "db"))
      .filter(col("da") =!= col("db"))
      .select(col("db").as("vec_id"))
    assigned
      .join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  /** Twin: same adaptive k, same (cos DESC, cid) assignment tie-break as
    * the [[Similarity.qIvf]] oracle, recursive-CTE reachability for the
    * component minimum (a different CC algorithm than label propagation,
    * which is what makes it a good oracle). */
  private val qSemDedupSql =
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |kk AS (SELECT greatest($SemMinCells, CAST(ceil(count(*) / $SemTargetCell.0) AS BIGINT)) AS k FROM e),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < (SELECT k FROM kk)),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e, c) WHERE rn = 1),
       |edges AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE floor(list_cosine_similarity(ea.v, eb.v) * 1000000 + 0.5) / 1000000.0 >= $SemBar),
       |bi AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |walk AS (
       |  SELECT src AS id, src AS label FROM bi
       |  UNION
       |  SELECT bi.dst AS id, walk.label AS label FROM walk JOIN bi ON bi.src = walk.id),
       |drops AS (SELECT id FROM walk GROUP BY id HAVING id <> min(label))
       |SELECT vec_id, cell FROM assign
       |WHERE vec_id NOT IN (SELECT id FROM drops)
       |ORDER BY vec_id""".stripMargin

  /** Cross-source duplication matrix: near-dup pair counts by unordered
    * source pair — the data-card view that tells a corpus owner WHICH
    * ingest feeds duplicate each other (within-source duplication on the
    * diagonal, cross-feed mirroring off it). Rides THE shared
    * [[nearDupEdges]] definition, then joins the two endpoints' sources
    * (a doc_id-keyed projection of documents — at 100 TB the edge set is
    * orders of magnitude smaller than the corpus, so the two label joins
    * are edge-sized) and canonicalizes the pair with least/greatest so
    * (web, wiki) and (wiki, web) land in one cell. */
  def qCrossSourceDups(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    nearDupEdges(s, d)
      .join(src.toDF("da", "src_a"), "da")
      .join(src.toDF("db", "src_b"), "db")
      .groupBy(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  private val qCrossSourceDupsSql =
    s"""WITH ${shinglePairsSqlCtes(1)},
       |edges AS (
       |  SELECT da, db FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |  WHERE inter / (sa.n + sb.n - inter) >= $NearDupBar),
       |lab AS (
       |  SELECT least(a.source, b.source) AS source_a,
       |         greatest(a.source, b.source) AS source_b
       |  FROM edges e JOIN documents a ON e.da = a.doc_id
       |               JOIN documents b ON e.db = b.doc_id)
       |SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
       |FROM lab GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------------------ entity resolution

  /** ENTITY RESOLUTION on a string-name domain — the record-linkage step
    * of a catalog/CRM pipeline: which part names are near-identical
    * spellings of each other, scored by Jaro-Winkler (the native
    * [[graft.functions.JaroWinkler]], bit-parity with DuckDB's builtin).
    * The scale design has two layers, both load-bearing at 100 TB:
    *
    *   1. score the DISTINCT name DOMAIN, not the row table — the first
    *      aggregate collapses row mass to (name, n_rows), so the
    *      quadratic stage sees vocabulary size, with each name's row
    *      count riding along for the final report;
    *   2. BLOCK the domain self-join on the name's last token — the
    *      O(|block|²) scorer only runs inside blocks, the same inverted-
    *      candidate discipline as every other pairwise operator here (a
    *      production system picks blocking keys per entity type; the
    *      principle — candidates via equality join, never all-pairs —
    *      is what the plan guard pins).
    *
    * The emitted score is the 4-decimal [[pround]] of the similarity,
    * thresholded on the ROUNDED value in both engines, so an engine-side
    * ulp can neither flip admission nor the hash. */
  def qEntityMatch(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d)
      .groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("blk", expr("split_part(p_name, ' ', 2)"))
    names.select(col("p_name").as("name_a"), col("n_rows").as("n_a"), col("blk"))
      .join(
        names.select(col("p_name").as("name_b"), col("n_rows").as("n_b"), col("blk")),
        Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn(
        "sim4",
        pround(graft.functions.NativeExprs.jaroWinkler(col("name_a"), col("name_b")), 4))
      .filter(col("sim4") >= 0.8)
      .select("name_a", "name_b", "n_a", "n_b", "sim4")
      .orderBy("name_a", "name_b")
  }

  private val qEntityMatchSql = {
    import graft.functions.PortableRound.{proundSql => pr}
    val sim = pr("jaro_winkler_similarity(a.p_name, b.p_name)", 4)
    s"""WITH n AS (
       |  SELECT p_name, count(*) AS n_rows, split_part(p_name, ' ', 2) AS blk
       |  FROM part GROUP BY 1)
       |SELECT a.p_name AS name_a, b.p_name AS name_b,
       |  a.n_rows::BIGINT AS n_a, b.n_rows::BIGINT AS n_b,
       |  $sim AS sim4
       |FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
       |WHERE $sim >= 0.8
       |ORDER BY name_a, name_b""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q_entity_match", qEntityMatch, Some(qEntityMatchSql)),
    Q("q_dedup_apply", qDedupApply, Some(qDedupApplySql), headline = false),
    Q("q_dedup_apply_cc", qDedupApplyCc, Some(qDedupApplyCcSql)),
    // same CC fixpoint + drop set as q_dedup_apply_cc — benchmarked there
    Q("q_dedup_rate_by_source", qDedupRateBySource, Some(qDedupRateBySourceSql), headline = false),
    Q("q_split_leakage_safe", qSplitLeakageSafe, Some(qSplitLeakageSafeSql)),
    Q("q_dedup_exact", qExact, Some(qExactSql)),
    Q("q_dedup_ngram_jaccard", qNgramJaccard, Some(qNgramJaccardSql), headline = false),
    Q("q_dedup_threshold_sweep", qThresholdSweep, Some(qThresholdSweepSql)),
    Q("q_dedup_prefix_jaccard", qPrefixJaccard, Some(qPrefixJaccardSql)),
    Q("q_dedup_edit_distance", qEditDistance, Some(qEditDistanceSql)),
    Q("q_dedup_clusters", qDedupClusters, Some(qDedupClustersSql)),
    Q("q_dedup_lines", qLineDedup, Some(qLineDedupSql)),
    Q("q_boilerplate", qBoilerplate, Some(qBoilerplateSql)),
    Q("q_dedup_substrings", qDedupSubstrings, Some(qDedupSubstringsSql)),
    Q("q_dedup_incremental", qDedupIncremental, Some(qDedupIncrementalSql)),
    Q("q_corpus_refresh", qCorpusRefresh, Some(qCorpusRefreshSql)),
    Q("q_dedup_clusters_inc", qDedupClustersIncremental, Some(qDedupClustersIncrementalSql)),
    // same converged fixpoint as q_dedup_clusters — benchmarked there
    Q("q_cluster_size_hist", qClusterSizeHist, Some(qClusterSizeHistSql), headline = false),
    Q("q_dedup_minhash_lsh", qMinHashLsh, None),
    Q("q_minhash_recall", qMinhashRecall, Some(qMinhashRecallSql), headline = false),
    Q("q_dedup_simhash", qSimHash, None),
    Q("q_simhash_complete", qSimhashComplete, Some(qSimhashCompleteSql), headline = false),
    Q("q_dedup_embedding", qEmbeddingNearDup, Some(qEmbeddingNearDupSql), headline = false),
    Q("q_dedup_embedding_lsh", qEmbeddingNearDupLsh, Some(qEmbeddingNearDupLshSql)),
    Q("q_dedup_semantic", qSemDedup, Some(qSemDedupSql)),
    Q("q_contamination", qContamination, Some(qContaminationSql)),
    Q("q_snippet_containment", qSnippetContainment, Some(qSnippetContainmentSql)),
    Q("q_decontam_frac", qDecontamFrac, Some(qDecontamFracSql)),
    Q("q_pipeline_clean", qPipelineClean, Some(qPipelineCleanSql)),
    Q("q_pipeline_audit", qPipelineAudit, Some(qPipelineAuditSql)),
    Q("q_corpus_build", qCorpusBuild, Some(qCorpusBuildSql)),
    Q("q_pipeline_token_cost", qPipelineTokenCost, Some(qPipelineTokenCostSql)),
    Q("q_cross_source_dups", qCrossSourceDups, Some(qCrossSourceDupsSql)))
}
