package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, when}

/** Physical-plan regression guards: the scale claims in README are plan
  * properties, so pin them — a refactor that silently un-pushes a filter,
  * drops a broadcast, or turns top-k into a global sort fails here, not in
  * a 100 TB run. */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q1: filter is pushed to the parquet scan and aggregation is two-phase") {
    val p = plan(Relational.q1Pricing(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
    // column pruning: o_orderpriority etc. never read
    assert(!p.contains("l_orderkey"), s"unused column not pruned:\n$p")
  }

  test("q5: dimension joins are broadcast") {
    val p = plan(Relational.q5RegionRevenue(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  /** The 100 TB guard: SF-growing tables (customer/supplier/part/orders)
    * must NOT carry broadcast hints — a forced broadcast that fits at
    * sf0.1 OOMs the driver at 1000×. Only fixed-size region (5 rows) and
    * nation (25 rows) are hinted. The second half of the guard keeps the
    * LOCAL plan fast: with no hint, the planner must still CHOOSE
    * BroadcastHashJoin at this SF (sizes under the threshold), so dropping
    * the hint costs nothing where it used to help. */
  test("scaling-table joins carry no hints, yet the chosen plan is still broadcast") {
    def hintCount(df: DataFrame): Int =
      "ResolvedHint".r.findAllIn(df.queryExecution.analyzed.toString).length
    // (query, expected hints = number of fixed-size nation/region hints)
    val cases = Seq(
      ("q3", Relational.q3TopRevenue(spark, sfDir), 0),
      ("q5", Relational.q5RegionRevenue(spark, sfDir), 2),
      ("q7", Relational.q7TradeFlows(spark, sfDir), 2),
      ("q10", Relational.q10Returns(spark, sfDir), 1),
      ("q14", Relational.q14PromoShare(spark, sfDir), 0),
      ("semi", Relational.qSemiJoin(spark, sfDir), 0),
      ("anti", Relational.qAntiJoin(spark, sfDir), 0))
    for ((name, df, hints) <- cases) {
      assert(hintCount(df) === hints,
        s"$name: broadcast hints drifted (want only fixed-size dims hinted)")
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"$name: planner chose no broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name: un-hinted join degraded to a shuffle join at test SF:\n$p")
    }
  }

  test("global top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.qTopK(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k became a sort:\n$p")
  }

  test("as-of join compiles to window-over-union with no join operator") {
    val p = plan(TemporalJoins.qAsOfJoin(spark, sfDir))
    assert(p.contains("Window"), s"no window in as-of plan:\n$p")
    assert(!p.contains("Join"), s"as-of should not contain a join:\n$p")
  }

  test("wordcount keeps the native tokenizer inside a single scan stage") {
    val p = plan(TextOps.qWordcount(spark, sfDir))
    assert(p.contains("graft_tokens") || p.contains("grafttokens"),
      s"native tokenizer missing from plan:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
  }

  test("BPE pair counting combines map-side and takes top-k without a global sort") {
    val p = plan(TextOps.qBpePairs(spark, sfDir))
    assert(p.contains("partial_count"), s"no map-side combine on the pair:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-30 became a global sort:\n$p")
  }

  test("bigram novelty reuses the distinct (doc,bigram) exchange — one scan, not two") {
    // bg feeds both the per-doc rollup and the doc-frequency branch; the
    // tokenize+explode+distinct work must run once, with the second
    // branch reading the shuffle output (ReusedExchange). Two FileScans
    // of documents would mean the reuse broke.
    val df = TextOps.qBigramNovelty(spark, sfDir)
    df.collect() // finalize AQE so reuse is visible in the executed plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), s"distinct exchange not reused:\n$p")
  }

  test("threshold sweep: bars broadcast into ONE candidate pass — no per-bar rescan") {
    // the 5-row bar table must ride a broadcast nested-loop join against
    // the candidate pairs (that nested loop is the DESIGN — ≤5×
    // replication of a bounded table), and the three per-bar counts must
    // come from one aggregation chain, not one candidate scan per bar:
    // exactly as many documents FileScans as the shared shingle-pair
    // machinery itself needs (= what q_dedup_ngram_jaccard does)
    val sweep = plan(Dedup.qThresholdSweep(spark, sfDir))
    assert(sweep.contains("BroadcastNestedLoopJoin"),
      s"bar table not broadcast into the candidate join:\n$sweep")
    def docScans(p: String) = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    val baseline = docScans(plan(Dedup.qNgramJaccard(spark, sfDir)))
    assert(docScans(sweep) == baseline,
      s"sweep scans documents ${docScans(sweep)}x vs $baseline for the pair table alone")
  }

  test("boilerplate: aggregation-shaped — no join wider than the span rollup, windows partitioned") {
    // template-chrome detection must never go pairwise: no cartesian or
    // nested loop, and the distinct-doc frequency window must stay
    // partitioned on (source, f) — a SinglePartition window would funnel
    // the corpus through one task
    val p = plan(Dedup.qBoilerplate(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in boilerplate:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in boilerplate:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition stage in boilerplate:\n$p")
  }

  test("substring dedup blocks through the window fingerprint — no pair enumeration") {
    // the Lee-et-al pass must stay linear: dup detection is an aggregate
    // on the fixed-width window hash plus a semi join back on the same
    // key — never a doc-pair join
    val df = Dedup.qDedupSubstrings(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in substring dedup:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in substring dedup:\n$p")
    assert(p.contains("LeftSemi"), s"window-hash semi join missing:\n$p")
  }

  test("incremental stats read the STORED partials — the only documents scan is batch-sliced") {
    // daily cost ∝ batch, as a plan property: corpus-side states come
    // from the persisted partials table; a full-recompute plan would
    // carry an unsliced documents scan
    val df = Maintenance.qStatsIncremental(spark, sfDir)
    val p = plan(df)
    assert(p.contains("graft_stats_part"), s"stored partials not in plan:\n$p")
    val docScanLines = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("documents.parquet"))
      .toSeq
    assert(docScanLines.nonEmpty, s"no batch-side documents scan?\n$p")
    docScanLines.foreach { l =>
      assert(l.contains("% 5) = 4"), s"corpus-side (unsliced) documents scan:\n$l")
    }
  }

  test("incremental MV merge reads the STORED partials — fact scans are batch-sliced") {
    // the join-view maintenance claim as a plan property: corpus-side
    // states come from the persisted graft_mv_rev table, and every
    // orders/lineitem scan left in the plan carries the batch slice —
    // a full-recompute plan would scan the facts unsliced
    val df = Maintenance.qMvIncremental(spark, sfDir)
    val p = plan(df)
    assert(p.contains("graft_mv_rev"), s"stored MV partials not in plan:\n$p")
    val factScans = p.linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        (l.contains("orders.parquet") || l.contains("lineitem.parquet")))
      .toSeq
    assert(factScans.nonEmpty, s"no batch-side fact scan?\n$p")
    factScans.foreach { l =>
      assert(l.contains("% 5) = 4"), s"corpus-side (unsliced) fact scan:\n$l")
    }
    // the delta join keeps the dims broadcast (nation hinted, customer
    // chosen) — the daily job must not shuffle the corpus-scale customer
    assert(!p.contains("CartesianProduct"), s"cartesian in MV merge:\n$p")
  }

  test("MV retraction and incremental percentiles read stored state; fact scans batch-sliced") {
    for ((name, df, stored) <- Seq(
        ("retract", Maintenance.qMvRetract(spark, sfDir), "graft_mv_rev_full"),
        ("pct_inc", Maintenance.qPercentileIncremental(spark, sfDir), "graft_hist_qty"))) {
      val p = plan(df)
      assert(p.contains(stored), s"$name: stored table $stored not in plan:\n$p")
      val factScans = p.linesIterator
        .filter(l => l.contains("FileScan parquet") &&
          (l.contains("orders.parquet") || l.contains("lineitem.parquet")))
        .toSeq
      assert(factScans.nonEmpty, s"$name: no batch-side fact scan?\n$p")
      factScans.foreach { l =>
        assert(l.contains("% 5) = 4"), s"$name: corpus-side (unsliced) fact scan:\n$l")
      }
    }
  }

  test("incremental dedup joins only through hash/broadcast — no nested-loop anywhere") {
    val df = Dedup.qDedupIncremental(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in incremental dedup:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in incremental dedup:\n$p")
  }

  test("incremental dedup probes the STORED corpus index — no corpus recompute in the plan") {
    // the daily-cost-∝-batch claim as a plan property: the corpus-side
    // shingle index / DF stats / sizes / fingerprints must arrive from the
    // persisted bucketed tables, and every documents.parquet scan in the
    // plan is a batch-side one (batch shingles, batch fingerprints, final
    // output join) — a corpus-side re-tokenization would add scans here.
    val df = Dedup.qDedupIncremental(spark, sfDir)
    val p = plan(df)
    for (t <- Seq("graft_inc_sh", "graft_inc_df", "graft_inc_sz", "graft_inc_fp"))
      assert(p.contains(t), s"stored index table $t not in plan:\n$p")
    // cached subtrees reprint per reference, so count scan QUALITY not
    // quantity: every documents scan must be batch-filtered (% 5 = 4);
    // a corpus-side scan would carry the negation or no slice filter
    val docScanLines = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("documents.parquet"))
      .toSeq
    assert(docScanLines.nonEmpty, s"no documents scan at all?\n$p")
    docScanLines.foreach { l =>
      assert(l.contains("% 5) = 4"), s"corpus-side (unsliced) documents scan in probe plan:\n$l")
      assert(!l.contains("NOT ("), s"corpus-side documents scan in probe plan:\n$l")
    }
  }

  test("contamination + snippet attribution read the STORED index — no corpus re-shingle") {
    // the r12 weak finding closed as a plan property: the trio's corpus
    // side must arrive from the persisted graft_ctx_* tables and the plan
    // must never re-tokenize the corpus at query time. Snippet
    // attribution is fully stored (both sides are corpus artifacts);
    // contamination's PROBE side is the small daily arrival, so its only
    // raw-text scan must be pushed down to the two probe documents.
    val ps = plan(Dedup.qSnippetContainment(spark, sfDir))
    assert(ps.contains("graft_ctx_tri"), s"stored inverted index not in plan:\n$ps")
    assert(!ps.contains("documents.parquet"),
      s"snippet attribution re-tokenized the corpus at query time:\n$ps")
    val pc = plan(Dedup.qContamination(spark, sfDir))
    assert(pc.contains("graft_ctx_tri"), s"stored inverted index not in plan:\n$pc")
    val docScans = pc.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("documents.parquet"))
      .toSeq
    assert(docScans.nonEmpty, s"no probe-side documents scan?\n$pc")
    docScans.foreach { l =>
      assert(l.contains("LessThan(doc_id,2)"),
        s"probe-side documents scan without the pushed doc_id<2 filter:\n$l")
    }
  }

  test("decontam probes the STORED corpus index — the only documents scan is eval-sliced") {
    // same contract as the incremental-dedup guard: corpus-side shingles
    // and DF stats come from the persisted tables; the eval slice is the
    // only fresh tokenization (every documents scan carries % 5 = 4)
    val df = Dedup.qDecontamFrac(spark, sfDir)
    val p = plan(df)
    for (t <- Seq("graft_inc_sh", "graft_inc_df"))
      assert(p.contains(t), s"stored index table $t not in plan:\n$p")
    val docScanLines = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("documents.parquet"))
      .toSeq
    assert(docScanLines.nonEmpty, s"no documents scan at all?\n$p")
    docScanLines.foreach { l =>
      assert(l.contains("% 5) = 4"), s"corpus-side (unsliced) documents scan in decontam plan:\n$l")
      assert(!l.contains("NOT ("), s"corpus-side documents scan in decontam plan:\n$l")
    }
  }

  test("graph queries probe the STORED edge lists — no corpus re-derivation") {
    // the word-adjacency graph and the co-purchase pair table are
    // build-once warehouse artifacts: a graph query must read them, not
    // re-tokenize documents / re-run the basket self-join per run
    val pt = plan(TextOps.qTriangles(spark, sfDir))
    assert(pt.contains("graft_graph_adj"), s"stored adjacency not in triangles plan:\n$pt")
    assert(!pt.contains("documents.parquet"),
      s"triangles re-tokenized the corpus at query time:\n$pt")
    // k-core's OUTPUT plan is a lineage-truncated checkpoint (the loop
    // consumes the edges at construction time), so guard the shared
    // derivation seam itself: the pair table must plan as a stored-table
    // read, never the basket self-join
    val pk = plan(Analytics.copurchasePairs(spark, sfDir))
    assert(pk.contains("graft_cp_pairs"), s"stored pair table not in plan:\n$pk")
    assert(!pk.contains("lineitem.parquet"),
      s"co-purchase pairs re-ran the basket self-join at query time:\n$pk")
  }

  test("IVF probe prunes the stored index scan to the probed cells' directories") {
    // the FAISS-style build/search split as a plan property: search must
    // read nprobe/nlist of the stored cell-partitioned index, not all of
    // it — the cell IN (...) filter must be a plan-time PartitionFilter
    // (directory pruning), never a post-scan row filter
    val df = Similarity.qIvf(spark, sfDir)
    val p = plan(df)
    assert(p.contains("graft_ivf"), s"stored IVF index not in plan:\n$p")
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN.*"),
      s"probe cells not pruned as partitions:\n$p")
    assert(!p.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(cell.*"),
      s"cell filter degraded to a data filter:\n$p")
  }

  test("hybrid search scans the stored keyword index and never re-derives it from documents") {
    val df = Similarity.qHybridSearch(spark, sfDir)
    val p = plan(df)
    assert(p.contains("graft_kw"), s"stored keyword table not in plan:\n$p")
    assert(!p.contains("documents.parquet"),
      s"hybrid search re-derived the keyword table from documents:\n$p")
  }

  test("phrase search probes the stored positional index and never rescans the text") {
    val df = TextOps.qPhraseSearch(spark, sfDir)
    val p = plan(df)
    assert(p.contains("graft_postings"), s"stored positional index not in plan:\n$p")
    assert(!p.contains("documents.parquet"),
      s"phrase search re-derived postings from documents at query time:\n$p")
    // the open-vocabulary layout claim: the term-bucketed table must be
    // probed through BUCKET PRUNING (the 3 phrase terms hash into at most
    // 3 of the 8 buckets), not scanned in full
    val pruned = "SelectedBucketsCount: ([0-9]+) out of 8".r
      .findFirstMatchIn(p)
      .map(_.group(1).toInt)
    assert(pruned.exists(_ <= 3),
      s"postings scan not bucket-pruned (expected <=3 of 8 buckets):\n$p")
  }

  test("bm25 top-20 plans as TakeOrderedAndProject over broadcast-joined stats") {
    val p = plan(TextOps.qBm25(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"bm25 top-20 became a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df/stats join not broadcast:\n$p")
  }

  test("embedding centroids aggregate with map-side partial sums") {
    // The shuffle must carry nlabels×dim partials, not raw vector values.
    val p = plan(Similarity.qEmbedCentroids(spark, sfDir))
    assert(p.contains("partial_sum") || p.contains("partial_avg"),
      s"no partial aggregation before the shuffle:\n$p")
  }

  test("global sort range-partitions on sampled boundaries, never a single partition") {
    val p = plan(Relational.qGlobalSort(spark, sfDir))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"global sort is not range-partitioned:\n$p")
    assert(!p.contains("SinglePartition"), s"sort collapsed to one partition:\n$p")
  }

  test("q2: correlated scalar subquery is decorrelated into an aggregate + join") {
    val df = Relational.q2MinCost(spark, sfDir)
    val p = plan(df)
    // RewriteCorrelatedScalarSubquery: no per-row subquery node survives —
    // the min() runs once as a grouped aggregate joined back on partkey.
    assert(!p.contains("Subquery"), s"correlated subquery not decorrelated:\n$p")
    assert(p.contains("min(l_extendedprice"), s"min-aggregate missing:\n$p")
  }

  test("q19: single-side filters of the disjunctive join push to both scans") {
    val p = plan(Relational.q19Disjunctive(spark, sfDir))
    assert(p.contains("In(p_brand"), s"brand set not pushed to the part scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_quantity"),
      s"quantity envelope not pushed to the lineitem scan:\n$p")
  }

  test("q4/q21: EXISTS and NOT EXISTS rewrite to semi/anti joins, never per-row subqueries") {
    val p4 = plan(Relational.q4LateShipped(spark, sfDir))
    assert(p4.contains("LeftSemi"), s"q4 EXISTS did not become a semi join:\n$p4")
    val p21 = plan(Relational.q21WaitingSupplier(spark, sfDir))
    assert(p21.contains("LeftSemi"), s"q21 EXISTS did not become a semi join:\n$p21")
    assert(p21.contains("LeftAnti"), s"q21 NOT EXISTS did not become an anti join:\n$p21")
  }

  test("q13: outer join keeps zero-order customers and reuses its partitioning for the count") {
    val df = Relational.q13CustDist(spark, sfDir)
    val p = plan(df)
    assert(p.contains("LeftOuter"), s"q13 lost its outer join:\n$p")
    // the per-custkey count must reuse the join's custkey partitioning —
    // an extra exchange between join and first aggregate is a regression
    val exchanges = "Exchange hashpartitioning\\(c_custkey".r.findAllIn(p).length
    assert(exchanges <= 1, s"redundant custkey exchange between join and agg:\n$p")
  }

  test("un-hinted joins degrade gracefully to sort-merge beyond the broadcast threshold") {
    // the other half of the broadcast policy: the same un-hinted q3 that
    // broadcasts at test SF must fall back to a shuffle join — with
    // IDENTICAL results — once the dimension no longer fits (simulated by
    // shrinking the threshold; at 100 TB the data does the shrinking)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    val degraded = Relational.q3TopRevenue(s2, sfDir)
    val p = degraded.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"no shuffle-join fallback under a tiny threshold:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"still broadcasting past the threshold:\n$p")
    val broadcastRows = Relational.q3TopRevenue(spark, sfDir).collect().map(_.toString).toSeq
    val degradedRows = degraded.collect().map(_.toString).toSeq
    assert(degradedRows === broadcastRows, "join strategy changed the results")
  }

  test("stratified fixed-size sample keeps per-partition group limits before the shuffle") {
    val p = plan(Sampling.qSampleStratified(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), s"rank<=25 not pushed below the exchange:\n$p")
  }

  test("runtime bloom filter injects on a selective shuffle join, results unchanged") {
    // the 100 TB scan guard: when a selective dimension side can't be
    // broadcast, the optimizer should still push a runtime bloom filter
    // of its join keys into the fact scan so most of the 100 TB never
    // reaches the shuffle. Thresholds are production-sized (10 GB scan
    // floor), so fire it here by lowering them in a scratch session —
    // at real scale the defaults fire on their own.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    def q(s: org.apache.spark.sql.SparkSession): DataFrame =
      Tables.lineitem(s, sfDir)
        .join(
          Tables.orders(s, sfDir).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
    val p = q(s2).queryExecution.optimizedPlan.toString
    assert(p.contains("bloom_filter_agg"),
      s"no bloom filter built from the dimension keys:\n$p")
    assert(p.contains("might_contain"),
      s"bloom probe not applied to the fact side:\n$p")
    assert(q(s2).collect().map(_.toString).toSeq ===
      q(spark).collect().map(_.toString).toSeq,
      "runtime filter changed the results")
  }

  test("explicit bloom semi-join reduction probes the fact side below its shuffle") {
    // q_bloom_join's claim: the 8 KiB key-set bloom filters the fact rows
    // BEFORE they cross the wire. As a plan property: the probe kernel
    // sits in the fact-side subtree under its exchange, and the join runs
    // in the shuffle (merge) regime the technique exists for.
    val df = Relational.qBloomJoin(spark, sfDir)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_bloom_might_contain"), s"bloom probe missing:\n$p")
    assert(p.contains("SortMergeJoin"), s"join left the shuffle regime:\n$p")
    val lines = p.linesIterator.toSeq
    val ex = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning(l_orderkey"))
    val probe = lines.indexWhere(_.contains("graft_bloom_might_contain"))
    assert(ex >= 0, s"no fact-side shuffle exchange in plan:\n$p")
    assert(probe > ex, s"probe not below the fact-side exchange:\n$p")
  }

  test("CDC chunking is a pure map stage: one scan, no hash shuffle before the sort") {
    // q_cdc_chunks' scale claim — chunk extraction pipelines into its
    // consumer with no shuffle; the only exchange is the presentation
    // orderBy's range partitioning
    val df = TextOps.qCdcChunks(spark, sfDir)
    val p = plan(df)
    val scans = p.linesIterator.count(l => l.contains("FileScan parquet"))
    assert(scans === 1, s"expected one documents scan, got $scans:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"hash shuffle in a map-only chunker:\n$p")
  }

  test("lateral top-1 subquery decorrelates to WindowGroupLimit, not a nested loop") {
    val p = plan(Relational.qLateralTopOrder(spark, sfDir))
    // the correlated LIMIT 1 must become a per-key group-limit (with a
    // map-side Partial pass) joined back on the equi-key — never a
    // per-nation nested-loop re-execution
    assert(p.contains("WindowGroupLimit"), s"no group-limit rewrite:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"lateral subquery planned as a nested loop:\n$p")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // the runtime re-plan story: the static shuffle partitions (4 in this
    // test session, 32 in the mains) are wrong for a 6-group aggregate —
    // AQE must fold them after seeing the real map output sizes, without
    // any per-query tuning
    val df = Relational.q1Pricing(spark, sfDir)
    df.collect() // adaptive plan is final only after execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead coalesced"), s"AQE did not coalesce:\n$p")
  }

  test("AQE splits a skewed join partition at runtime") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    // shrink the skew thresholds so test-sized data exhibits the 100 TB
    // behavior: one hot key ≫ advisory partition size → AQE must split
    // that partition and mark the join skew-handled
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    val left = s2.range(200000).select(
      (when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id"))).as("k"),
      col("id").as("payload"))
    val right = s2.range(1000).select(col("id").as("k"), col("id").as("r"))
    val joined = left.join(right, "k")
    // execute THIS DataFrame's own QueryExecution (count() would plan a
    // separate aggregate and leave joined's adaptive plan non-final)
    assert(joined.collect().length === 198000 + 10) // hot key 7 + ids ≡ 0 (mod 100) < 1000
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), s"AQE did not flag the skewed join:\n$p")
  }

  test("skew audit advises salting on exactly the planted hot key AQE must split") {
    // wire the DETECTOR to the DEFENSE on the same data: the planted
    // 99%-hot-key table from the AQE-split test, driven through
    // q_skew_audit's seam, must fire salt_advised for the hot column and
    // stay quiet for a uniform one — so the audit's 1% bar and the AQE
    // test's planted skew agree about what "skewed" means. (The timed
    // salted-vs-AQE A/B on this same shape lives in tools/SkewAb; numbers
    // in NOTES_BUILD.md.)
    val s2 = spark.newSession()
    val obs = s2.range(200000).select(
      lit("planted.hot").as("tbl_col"),
      when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"))
      .unionByName(s2.range(200000).select(
        lit("planted.uniform").as("tbl_col"), (col("id") % 997).as("k")))
    val audit = Maintenance.skewAuditOf(obs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("salt_advised")).toMap
    assert(audit("planted.hot") === 1L, "audit missed the 99% hot key")
    assert(audit("planted.uniform") === 0L, "audit false-fired on a uniform key")
  }

  test("autoSalt salts exactly the audit-flagged join and leaves unflagged joins untouched") {
    // the audit→defense loop CLOSED: Skew.autoSalt consults the audit
    // table and rewrites only the flagged join. Same planted shapes as
    // the audit test; the A/B timing (auto == manual salted class, 8×
    // over unmitigated) is tools/SkewAb leg d, numbers in NOTES_BUILD.md.
    val s2 = spark.newSession()
    val hot = s2.range(200000).select(
      when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
      col("id").as("payload"))
    val uniform = s2.range(200000).select((col("id") % 997).as("k"), col("id").as("payload"))
    val dim = s2.range(1000).select(col("id").as("rk"), col("id").as("r"))
    val audit = Maintenance.skewAuditOf(
      hot.select(lit("planted.hot").as("tbl_col"), col("k"))
        .unionByName(uniform.select(lit("planted.uniform").as("tbl_col"), col("k"))))
      .localCheckpoint() // consult a materialized audit, like the stored nightly table
    val salted = graft.operators.Skew.autoSalt(
      hot, dim, hot("k"), dim("rk"), audit, "planted.hot")
    val ps = salted.queryExecution.optimizedPlan.toString
    assert(ps.contains("__graft_salt"), s"flagged key did not get the salted plan:\n$ps")
    val plain = graft.operators.Skew.autoSalt(
      uniform, dim, uniform("k"), dim("rk"), audit, "planted.uniform")
    val pp = plain.queryExecution.optimizedPlan.toString
    assert(!pp.contains("__graft_salt"), s"unflagged join was salted:\n$pp")
    // multiset identity: the rewrite must not change join semantics
    assert(salted.count() === hot.join(dim, hot("k") === dim("rk")).count())
  }

  test("pagerank's per-iteration join splits a hub-skewed partition under AQE") {
    // the open-vocabulary hazard: a stopword hub concentrates one join key.
    // Drive the EXACT production iteration shape (TextOps.prStep) on a
    // synthetic hub graph with the 100 TB behavior simulated by shrunken
    // skew thresholds — AQE must split the hot partition, not spill on it.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    // ~200k edges, 99% sourced at hub node 7
    val edges = s2.range(200000).select(
      when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id") % 1000).as("src"),
      (col("id") % 997).as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    val r = deg.select(col("src").as("node"), lit(1000000L).as("r")).localCheckpoint()
    val step = TextOps.prStep(edges, deg, r)
    assert(step.collect().nonEmpty)
    val p = step.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), s"AQE did not split the hub partition in the PR join:\n$p")
  }

  test("bucketed tables co-locate a fact join with no shuffle exchange") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    s2.sql("DROP TABLE IF EXISTS orders_b")
    s2.sql("DROP TABLE IF EXISTS lineitem_b")
    // a crashed previous run leaves the managed-table dirs behind with no
    // catalog entry — DROP can't clean them and saveAsTable would wedge on
    // "location already exists" until someone deletes the warehouse by hand
    val warehouse = new java.io.File(s2.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Seq("orders_b", "lineitem_b").foreach { tbl =>
      val d = new java.io.File(warehouse, tbl)
      if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    Tables.orders(s2, sfDir).write
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
    Tables.lineitem(s2, sfDir).write
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
    try {
      val joined = s2.table("lineitem_b")
        .join(s2.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val p = joined.queryExecution.executedPlan.toString
      val exchangesBeforeAgg = "Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r
        .findAllIn(p).length
      assert(exchangesBeforeAgg === 0, s"bucketed join still shuffles:\n$p")
      assert(joined.collect().map(_.getLong(1)).sum ===
        Tables.lineitem(s2, sfDir).count())
    } finally {
      s2.sql("DROP TABLE IF EXISTS orders_b")
      s2.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("q6: envelope predicates reach the parquet scan; exact integer band post-scan") {
    val p = plan(Relational.q6ForecastRevenue(spark, sfDir))
    // the raw-column predicates (shipdate band, discount ENVELOPE,
    // quantity cap) must all appear in PushedFilters — the derived
    // floor(x*100+0.5) band cannot push, which is exactly why the
    // envelope exists
    assert(p.contains("PushedFilters") &&
      p.matches("(?s).*PushedFilters[^\\]]*l_discount.*"),
      s"discount envelope not pushed to scan:\n$p")
    assert(p.matches("(?s).*PushedFilters[^\\]]*l_shipdate.*"),
      s"shipdate band not pushed to scan:\n$p")
    assert(p.matches("(?s).*PushedFilters[^\\]]*l_quantity.*"),
      s"quantity cap not pushed to scan:\n$p")
    assert(p.contains("partial_sum"), s"global agg not two-phase:\n$p")
  }

  test("q20: nested correlated IN decorrelates to joins — no per-row subquery execution") {
    val p = plan(Relational.q20PartSuppliers(spark, sfDir))
    // outer IN → semi join; the two correlated scalar subqueries on
    // (partkey, suppkey) → grouped aggregate(s) joined back
    assert(p.contains("LeftSemi"), s"outer IN did not become a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decorrelation fell back to a nested loop / cartesian:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"correlated aggregates not planned as grouped aggregates:\n$p")
  }

  test("q16: NOT IN plans as a null-aware anti join, distinct count as two-phase expand") {
    val p = plan(Relational.q16SupplierCounts(spark, sfDir))
    assert(p.contains("LeftAnti"), s"NOT IN did not become an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q16:\n$p")
  }

  test("q11: HAVING-vs-total plans the scalar total as ONE subquery, not per-group") {
    val p = plan(Relational.q11ImportantParts(spark, sfDir))
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"scalar total not planned as a subquery:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"scalar comparison fell back to a nested loop / cartesian:\n$p")
    assert(p.contains("partial_sum"), s"per-part aggregate not two-phase:\n$p")
  }

  test("edit-distance dedup scores only blocked candidates — no cartesian, text joined post-blocking") {
    val p = plan(Dedup.qEditDistance(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit-distance near-dup fell back to all-pairs:\n$p")
    // the candidate generator is the shingle equi-self-join + count >= 2
    assert(p.contains("partial_count") || p.contains("count(1)"),
      s"candidate co-occurrence count not aggregated:\n$p")
  }

  test("partitioned-directory layout prunes non-matching partitions at plan time") {
    // The "at 100 TB these tables would be partitioned directories"
    // claim (Tables.scala) as a plan property: lineitem written
    // partitioned by ship year, then a single-year aggregate must carry
    // the year as a PartitionFilter on the scan (directory pruning — the
    // other years' files are never opened, let alone read), NOT as a
    // post-scan row filter over all years.
    import org.apache.spark.sql.functions.year
    val dir = java.nio.file.Files.createTempDirectory("graft-part-").toString
    val li = Tables.lineitem(spark, sfDir)
      .withColumn("ship_year", year(col("l_shipdate")))
    li.write.mode("overwrite").partitionBy("ship_year").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("ship_year") === 1996)
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("sum_qty"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("ship_year"),
      s"year filter did not become a partition filter:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(ship_year)"),
      s"year filter degraded to a data filter:\n$p")
    // pruning must agree with the unpartitioned computation
    val expect = li.filter(col("ship_year") === 1996)
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("sum_qty"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("kNN classify: query batch broadcasts, neighbor top-5 limited per partition") {
    val p = plan(Similarity.qKnnClassify(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rank<=5 not pushed below the exchange:\n$p")
  }

  test("DSIR score pass joins the bucket stats by broadcast — no shuffle join") {
    // The fit collapses to ≤ B rows, so the score join must broadcast it:
    // a shuffled stats join would re-shuffle the full gram stream (corpus
    // scale) to co-locate with a 512-row table.
    val p = plan(Sampling.qDsirScore(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"stats join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"gram-side shuffle join appeared:\n$p")
  }

  test("OOV scoring joins the fitted vocab by broadcast — token stream never shuffles for the join") {
    val p = plan(TextOps.qOovRate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"token-stream shuffle join appeared:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"vocab cut became a global sort:\n$p")
  }

  test("BPE apply joins the piece-count map by broadcast — corpus stream never shuffles for it") {
    val p = plan(TextOps.qBpeApply(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"piece map not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-stream shuffle join appeared:\n$p")
  }

  test("unigram fertility joins the piece-count map by broadcast — stream never shuffles for it") {
    val p = plan(TextOps.qUnigramFertility(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"piece map not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-stream shuffle join appeared:\n$p")
  }

  test("IVF forget card reads only victim cells — PartitionFilters prune the stored index") {
    val p = plan(Similarity.qIvfForget(spark, sfDir))
    assert(p.contains("PartitionFilters: [cell"),
      s"victim-cell scan not pruned to cell directories:\n$p")
  }

  test("semantic dedup pairs only within a cell — equi-join on cell, no cartesian") {
    // The SemDeDup scale claim: pairwise work is blocked by the cluster
    // cell, so the candidate join must key on `cell` (hash or sort-merge
    // equi-join) and never degenerate to a cartesian / nested-loop over
    // the corpus. The ONE nested-loop join allowed is the centroid
    // assignment's 1-row broadcast-array crossJoin (fan-out exactly 1 per
    // corpus row) — at test SF k=16 fits a single chunk, so exactly one,
    // inside the cached assignment. The plan prints that cached relation
    // once per reader (both self-join sides and the survivor anti-join),
    // so count per distinct cached relation, not in the plan text.
    // Components come from edges repartitioned by cell in the same plan:
    // exactly one REPARTITION_BY_COL exchange on `cell`, no checkpoint.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    object H extends AdaptiveSparkPlanHelper
    val df = Dedup.qSemDedup(spark, sfDir)
    val top = df.queryExecution.executedPlan
    val p = top.toString
    val cached = H.collect(top) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }.distinct
    assert(cached.size == 1, s"expected one cached assignment, saw ${cached.size}:\n$p")
    def count(plan: SparkPlan)(f: PartialFunction[SparkPlan, Unit]) = H.collect(plan)(f).size
    val bnljInCache = count(cached.head.cachedPlan) { case _: BroadcastNestedLoopJoinExec => }
    assert(bnljInCache == 1,
      s"expected exactly the 1-row centroid crossJoin, saw $bnljInCache nested-loop joins:\n$p")
    assert(count(top) { case _: BroadcastNestedLoopJoinExec => } == 0,
      s"nested-loop join outside the cached assignment:\n$p")
    for (plan <- Seq(top, cached.head.cachedPlan))
      assert(count(plan) { case _: CartesianProductExec => } == 0, s"cartesian appeared:\n$p")
    val byCell = H.collect(top) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL => e.outputPartitioning
    }
    assert(byCell.size == 1 && (byCell.head match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "cell"
      case _ => false
    }), s"expected one repartition of the edges by cell, saw $byCell:\n$p")
    assert(df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.isEmpty, s"checkpointed relation in the plan:\n${df.queryExecution.analyzed}")
  }

  test("item-CF pairs only through the basket equi-join; top-3 cut below the sort") {
    // the scale claim: candidate pairs come from the ok-keyed self-join
    // (bounded per basket), never a cartesian over items, and the k=3
    // rank filter is pushed below the window sort (WindowGroupLimit)
    val p = plan(Analytics.qItemCf(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian appeared:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join appeared:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rank<=3 not pushed below the window sort:\n$p")
  }

  test("skyline is windows-only: no join operator anywhere in the plan") {
    // dominance via two window checks per pass — a refactor that
    // reintroduces the O(n^2) NOT EXISTS self-join (the oracle's
    // algorithm, fine for DuckDB at test SF, fatal at 100 TB) fails here
    val p = plan(Analytics.qSkyline(spark, sfDir))
    assert(!p.contains("Join"), s"skyline grew a join:\n$p")
    assert(p.contains("Window"), s"dominance windows missing:\n$p")
  }

  test("bool search probes the stored postings index, bucket-pruned, and never rescans the text") {
    val df = Evaluation.qBoolSearch(spark, sfDir)
    val p = plan(df)
    assert(p.contains("graft_postings"), s"stored postings index not in plan:\n$p")
    assert(!p.contains("documents.parquet"),
      s"bool search re-derived postings from documents at query time:\n$p")
    // 6 distinct query terms hash into at most 6 of the 8 term buckets
    val pruned = "SelectedBucketsCount: ([0-9]+) out of 8".r
      .findFirstMatchIn(p)
      .map(_.group(1).toInt)
    assert(pruned.exists(_ <= 6),
      s"postings scan not bucket-pruned (expected <=6 of 8 buckets):\n$p")
  }

  test("PQ shortlist scans the STORED codes table — no fit or encode at query time") {
    val df = Similarity.qSimPq(spark, sfDir)
    val p = plan(df)
    assert(p.contains("graft_pq_codes"), s"stored PQ codes table not in plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"ADC shortlist became a global sort:\n$p")
    // the encode expression belongs to the index BUILD; its presence in
    // the query plan means the corpus is being re-encoded per query
    assert(!p.toLowerCase.contains("nearestcode"),
      s"query-time encode: pqNearestCode in the query plan:\n$p")
  }

  test("centroid classifier scores through a broadcast join, never a shuffled one") {
    // the nlabels×dim centroid table must broadcast so the n·dim scoring
    // join is exchange-free on the data side; a SortMergeJoin here means
    // the full flattened corpus shuffled on `pos` (dim-way skew at scale)
    val p = plan(Evaluation.qCentroidConfusion(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"centroid join shuffled:\n$p")
  }

  test("calibration rides the broadcast scoring join; its rank-2 window is vec_id-partitioned") {
    // same scoring table contract as the confusion matrix, plus: the
    // margin ranking must stay a per-vector window (≤ nlabels rows per
    // partition) — an unpartitioned window here would drag the whole
    // n·nlabels distance table through one task
    val qe = Evaluation.qCalibration(spark, sfDir).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"centroid join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"centroid join shuffled:\n$p")
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "rank-2 window missing from the plan")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"margin ranking lost its vec_id partitioning (single-partition window):\n$w")
    }
  }

  test("concurrency sweep runs its running sum partitioned by day, not one global window") {
    // the two-phase prefix sum: the delta-level running sum must be
    // partitioned (parallel) — only the day-level offset window (one row
    // per day) may be unpartitioned
    val qe = Analytics.qMaxConcurrency(spark, sfDir).queryExecution
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    val deltaLevel = windows.filter(_.windowExpressions.exists(_.sql.contains("run")))
    assert(deltaLevel.nonEmpty, "delta-level running-sum window not found")
    deltaLevel.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"delta running sum lost its day partitioning (single-partition window):\n$w")
    }
  }

  test("shard plan: per-doc rank window is partitioned; offsets join broadcasts") {
    // the global size rank must come from the salted histogram, never a
    // single-partition window over the documents themselves: the only
    // unpartitioned window may run over the Aggregate (histogram) side
    val qe = Sampling.qShardPlan(spark, sfDir).queryExecution
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val rankWindows = windows.filter(_.windowExpressions.exists(_.sql.contains("row_number")))
    assert(rankWindows.nonEmpty, "per-doc row_number window not found")
    rankWindows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"doc rank window lost its (n_tokens, salt) partitioning:\n$w")
    }
    val p = plan(Sampling.qShardPlan(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"offsets table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in shard plan:\n$p")
  }

  test("autocorrelation: every window is event_type-partitioned; no cartesian") {
    // the lag pass and the cumulative windows all ride the per-type
    // series — an unpartitioned window here would funnel the whole grid
    // through one task at scale
    val qe = Relational.qAutocorr(spark, sfDir).queryExecution
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "lag window not found")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"autocorr window lost its event_type partitioning:\n$w")
    }
    val p = plan(Relational.qAutocorr(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in autocorr:\n$p")
  }

  test("z-order rank reduction never plans a single-partition window") {
    // the two-phase distributed ntile (range repartition + per-partition
    // row_number + broadcast offsets) must keep every window PARTITIONED
    // — an unpartitioned ntile/row_number here is the one plan shape that
    // cannot survive a 100 TB lineitem (one task sorts everything)
    val p = plan(Maintenance.qZorderRanked(spark, sfDir))
    assert(p.contains("Window"), s"expected the rank window in the plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"single-partition exchange in the z-order rank plan:\n$p")
  }

  test("perplexity buckets reuse ONE cached scoring pass for boundaries and classification") {
    // lmDocScores is the expensive subtree; it must be computed once into
    // the cache and SCANNED twice — if the cache is dropped the tokenize/
    // trigram join chain re-executes wholesale for the boundary side
    val df = TextOps.qPplBuckets(spark, sfDir)
    try {
      val p = plan(df)
      val scans = "InMemoryTableScan".r.findAllIn(p).length
      assert(scans >= 2, s"expected 2+ cached-scan reads of the scored docs, got $scans:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("scene cuts is a map-only pass over the stored blobs plus the output sort — no join") {
    val p = plan(Multimodal.qSceneCuts(spark, sfDir))
    assert(p.contains("MapPartitions"), s"decode sweep not a mapPartitions pass:\n$p")
    assert(!p.contains("Join"), s"unexpected join in scene cuts:\n$p")
  }

  test("IVF append assigns ONLY the batch — base side scans the stored index, one raw-embeddings read") {
    // daily cost ∝ batch: the base occupancy comes from the stored
    // cell-partitioned table; re-assigning the corpus would show up as a
    // second raw-embeddings scan feeding an assignment projection
    val p = plan(Similarity.qIvfAppend(spark, sfDir))
    assert(p.contains("graft_ivf_base"), s"stored base index not in plan:\n$p")
    val rawScans = "embeddings\\.parquet".r.findAllIn(p).length
    assert(rawScans === 1, s"expected exactly 1 raw embeddings scan (the batch), got $rawScans:\n$p")
  }

  test("incremental clusters: stored labels in the final plan, stored index in the probe plans") {
    // two layers, because localCheckpoint erases the CC loop's inputs
    // from the final plan: (1) the final aggregation reads the STORED
    // corpus clustering; (2) the edge PROBES (inspected before any
    // checkpoint) read the stored shingle index and never re-shingle
    // the corpus — a corpus recompute would surface as a NOT(batch)
    // filter over raw documents in the probe plans
    val p = plan(Dedup.qDedupClustersIncremental(spark, sfDir))
    assert(p.contains("graft_inc_cc"), s"stored corpus clustering not in plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in incremental clusters:\n$p")
    val (cb, bb) = Dedup.incrementalEdges(spark, sfDir)
    Seq("corpus-batch" -> plan(cb), "batch-batch" -> plan(bb)).foreach { case (what, ep) =>
      assert(ep.contains("graft_inc_"), s"$what probe does not read the stored index:\n$ep")
      assert(!ep.contains("NOT ((doc_id"),
        s"$what probe re-derives the corpus side from raw documents:\n$ep")
      assert(!ep.contains("CartesianProduct"), s"cartesian in $what probe:\n$ep")
    }
    spark.catalog.clearCache()
  }

  test("trimmed stats: histogram windows stay event_type-partitioned; cut lookups broadcast") {
    val qe = Analytics.qTrimmedStats(spark, sfDir).queryExecution
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "histogram windows not found")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"histogram window lost its event_type partitioning:\n$w")
    }
    val p = plan(Analytics.qTrimmedStats(spark, sfDir))
    assert(!p.contains("CartesianProduct"), s"cartesian in trimmed stats:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cut-value lookups not broadcast:\n$p")
  }

  test("t-closeness: group-size window is QI-partitioned; corpus distribution broadcasts") {
    val qe = Relational.qTCloseness(spark, sfDir).queryExecution
    val windows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "group-size window not found")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"group-size sum lost its QI partitioning (single-partition window):\n$w")
    }
    val p = plan(Relational.qTCloseness(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"sensitive-distribution join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in t-closeness:\n$p")
  }

  // ------------------------------------------------- round-9 session-2 cards

  test("ranking metrics: bounded-heap top-k, never a window; query side broadcasts") {
    val p = plan(Evaluation.qRankingMetrics(spark, sfDir))
    // the scale claim: per-query top-10 is the TopKAgg partial aggregate,
    // NOT the oracle's row_number window over every scored pair
    assert(!p.contains("Window"), s"scored pairs flowed into a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"TopKAgg aggregate missing:\n$p")
    assert(p.contains("partial_topkagg") || p.contains("partial_TopKAgg")
      || "partial_.*topkagg".r.findFirstIn(p.toLowerCase).nonEmpty,
      s"top-k not partially aggregated before the shuffle:\n$p")
    assert(p.contains("BroadcastExchange"), s"query batch not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in ranking metrics:\n$p")
  }

  test("heavy hitters: the MG sketch partially aggregates map-side") {
    val p = plan(TextOps.qHeavyHitters(spark, sfDir))
    assert("partial_.*misragries".r.findFirstIn(p.toLowerCase).nonEmpty,
      s"MG summary not combined map-side (O(k) pre-shuffle claim broken):\n$p")
    assert(!p.contains("Window"), s"window in heavy hitters:\n$p")
  }

  test("drift trio + skew audit: histogram aggregates combine map-side, no cartesian") {
    for ((name, df) <- Seq(
        ("ks", Evaluation.qKsTest(spark, sfDir)),
        ("tvd", Evaluation.qTvDrift(spark, sfDir)),
        ("chi2", Evaluation.qChiSquare(spark, sfDir)),
        ("skew", Maintenance.qSkewAudit(spark, sfDir)))) {
      val p = plan(df)
      assert(p.contains("partial_count"), s"$name: histogram not map-combined:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian product:\n$p")
    }
  }

  test("snapshot diff is ONE key-shuffled full-outer join; forget cascade joins hash/broadcast") {
    val pd = plan(Maintenance.qSnapshotDiff(spark, sfDir))
    assert("SortMergeJoin.*FullOuter|ShuffledHashJoin.*FullOuter".r.findFirstIn(pd).nonEmpty,
      s"full-outer PK join missing:\n$pd")
    assert("(?s)FullOuter.*FullOuter".r.findFirstIn(pd).isEmpty,
      s"more than one full-outer join:\n$pd")
    assert(!pd.contains("CartesianProduct"), s"cartesian in snapshot diff:\n$pd")
    // (the rows_before crossJoin against a 1-row aggregate may plan as a
    // BroadcastNestedLoopJoin — bounded by construction; a CartesianProduct
    // of data-sized sides is the degeneration this guard exists for)
    val pf = plan(Maintenance.qForgetCascade(spark, sfDir))
    assert(!pf.contains("CartesianProduct"), s"cartesian in forget cascade:\n$pf")
    assert("LeftSemi|LeftAnti".r.findFirstIn(pf).nonEmpty,
      s"cascade not semi/anti-join shaped:\n$pf")
  }

  test("trained tokenizer artifacts persist — train reads the stored table, no refit") {
    // the trainer-family ensureIvfBase pattern as a plan property: after
    // the first fit, the train cards are pure stored-table reads — a
    // documents scan in their plan means the fit is being re-paid per
    // query (at 100 TB the wordcount is the expensive step)
    TextOps.qUnigramTrain(spark, sfDir).collect() // first call fits + stores
    val pu = plan(TextOps.qUnigramTrain(spark, sfDir))
    assert(pu.contains("graft_unigram_vocab"), s"stored vocab not in plan:\n$pu")
    assert(!pu.contains("documents.parquet"), s"unigram train re-fits per query:\n$pu")
    TextOps.qBpeTrainFull(spark, sfDir).collect()
    val pb = plan(TextOps.qBpeTrainFull(spark, sfDir))
    assert(pb.contains("graft_bpe_merges"), s"stored merges not in plan:\n$pb")
    assert(!pb.contains("documents.parquet"), s"BPE full train re-fits per query:\n$pb")
  }

  test("tokenizer fertility/apply probe the STORED piece maps — one corpus scan each") {
    // apply-side cards: exactly ONE documents scan (the token stream);
    // the word→pieces map must arrive broadcast from the stored table,
    // never re-derived (a refit would add wordcount/seed scans here)
    TextOps.qUnigramTrain(spark, sfDir).collect() // ensure the model exists
    for ((name, df, tbl) <- Seq(
        ("unigram fertility", TextOps.qUnigramFertility(spark, sfDir), "graft_unigram_pieces"),
        ("bpe apply", TextOps.qBpeApply(spark, sfDir), "graft_bpe_pieces"))) {
      val p = plan(df)
      assert(p.contains(tbl), s"$name: stored piece map not in plan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name: piece map not broadcast:\n$p")
      val docScans = p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents.parquet"))
      assert(docScans === 1, s"$name: expected 1 documents scan, got $docScans:\n$p")
    }
  }

  test("lang-ID scores as a single scan: the trained model rides as literals, never a join") {
    // the trigram NB's weights are collected once (bounded by the
    // profile cap) and embedded as map/array literals, so per-doc
    // scoring must be ONE documents scan with no join anywhere — a join
    // in this plan means the model is being re-derived or shuffled per
    // query, which at 100 TB turns a map-only pass into a corpus join
    TextOps.qLangId(spark, sfDir).collect() // first call fits + stores the model
    val p = plan(TextOps.qLangId(spark, sfDir))
    assert(!p.contains("Join"), s"lang-ID scoring must not join:\n$p")
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(docScans === 1, s"expected 1 documents scan, got $docScans:\n$p")
    // the stored model is read at PLAN BUILD time (a bounded collect),
    // not inside the query plan
    assert(!p.contains("graft_lid_model"), s"model table leaked into the scoring plan:\n$p")
  }
}
