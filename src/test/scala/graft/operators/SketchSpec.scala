package graft.operators

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.types._

/** Planted-ground-truth specs for the hash-/plane-dependent operators that
  * have no DuckDB oracle (MinHash+LSH, SimHash, ANN): build a corpus with
  * known near-duplicates / known nearest neighbors, assert the sketches
  * find them and don't hallucinate unrelated pairs.
  */
class SketchSpec extends SparkSpec {

  /** The recall tests measure against the REAL corpus one SF above the
    * suite default — sf0.001's ~50 docs hold too few true near-dup pairs
    * for a meaningful denominator. */
  private val recallSfDir = "/root/testdata/sf0.01"

  private val vocab = Seq(
    "spark", "query", "table", "scan", "join", "filter", "group", "sort",
    "merge", "hash", "window", "batch", "stream", "vector", "column", "row")

  /** 20 base docs of 40 deterministic tokens; docs 100/101 and 200/201 are
    * planted near-dup pairs (one token changed); doc 300 is a planted exact
    * duplicate of doc 0 shifted id. */
  private def plantedDocsDir: String = {
    val rnd = new scala.util.Random(7)
    def doc(): String = Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = Seq.tabulate(20)(i => (i.toLong, doc()))
    val nd1 = bases(3)._2.split(" ").updated(5, "zzz").mkString(" ")
    val nd2 = bases(7)._2.split(" ").updated(11, "qqq").mkString(" ")
    val rows = bases ++ Seq(
      (100L, bases(3)._2), (101L, nd1),
      (200L, bases(7)._2), (201L, nd2),
      (300L, bases(0)._2))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (id, t) => Row(id, t, "en", "planted", t.length.toLong) }),
      schema)
    val dir = Files.createTempDirectory("graft-planted-").toString
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  /** 50 deterministic random 64-dim vectors; vec 500 is a tiny perturbation
    * of vec 0 (cosine ≈ 1) — the planted nearest neighbor. */
  private def plantedVecsDir: String = {
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = Seq.tabulate(50)(i => (i.toLong, vec(), i % 5))
    val near0 = base.head._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val rows = base ++ Seq((500L, near0, 0))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v, l) => Row(id, v.toSeq, l) }),
      schema)
    val dir = Files.createTempDirectory("graft-planted-vec-").toString
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("MinHash+LSH finds the planted near-dup and exact-dup pairs") {
    val dir = plantedDocsDir
    val pairs = Dedup.qMinHashLsh(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // exact dup of doc 0
    assert(pairs.contains((0L, 300L)), s"missing exact dup (0,300) in $pairs")
    // the exact dup of doc 3 MUST collide (identical signatures); the
    // one-token-changed variant may surface via either side of the cluster
    assert(pairs.contains((3L, 100L)), s"missing exact dup (3,100) in $pairs")
    assert(pairs.contains((100L, 101L)) || pairs.contains((3L, 101L)),
      s"missing near-dup of doc 3's cluster in $pairs")
    assert(pairs.contains((7L, 200L)), s"missing dup (7,200) in $pairs")
  }

  test("identical-content collapse reconstructs the exact pair set on a replicated corpus") {
    // 3× verbatim replication: every doc gains 2 identical twins, so the
    // rep-collapse path (groupMembers/expandRepPairs) does real work —
    // intra-group pairs, cross-group expansion, AND a near-dup whose
    // whole group must pair with its base's whole group. The collapsed
    // queries must equal independent non-collapsed sweeps exactly.
    // (The sf0.01 gate corpus has ZERO identical texts — without this
    // spec the expansion logic would only ever run its trivial path.)
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    def doc(): String = Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = Seq.tabulate(12)(i => (i.toLong, doc()))
    val nd = bases(2)._2.split(" ").updated(7, "yyy").mkString(" ")
    val docs0 = bases ++ Seq((50L, nd))
    val rows = for { r <- 0 until 3; (id, t) <- docs0 } yield (id + 1000L * r, t)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (id, t) => Row(id, t, "en", "planted", t.length.toLong) }),
      schema)
    val dir = Files.createTempDirectory("graft-replicated-").toString
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

    // minhash vs the exhaustive uncollapsed Jaccard sweep (every true pair
    // here is J = 1.0 or ≥ 0.9 — banding recall is 1 at those levels)
    val lsh = Dedup.qMinHashLsh(spark, dir).select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ss = Dedup.shingleSets(graft.Tables.documents(spark, dir)).cache()
    val truth = ss.select(col("doc_id").as("da"), col("shs").as("sa"))
      .crossJoin(ss.select(col("doc_id").as("db"), col("shs").as("sb")))
      .filter(col("da") < col("db"))
      .filter(
        size(array_intersect(col("sa"), col("sb"))).cast("double") >=
          lit(0.5) * size(array_union(col("sa"), col("sb"))).cast("double"))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ss.unpersist()
    assert(lsh === truth,
      s"collapse diverged: extra=${lsh -- truth} missing=${truth -- lsh}")
    // non-vacuity: intra-group (0,1000), cross-replica (1000,2000), and a
    // rep-to-rep pair all present
    assert(truth.contains((0L, 1000L)) && truth.contains((1000L, 2000L)))

    // prefix join vs the uncollapsed full-index generator at the SAME
    // adaptive cap — the PPJoin result is exact, so set equality is exact
    val ppj = Dedup.qPrefixJaccard(spark, dir).select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.cappedShinglesAdaptive(spark, dir).cache()
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val want = capped.as("a")
      .join(capped.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= Dedup.NearDupBar)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped.unpersist()
    assert(ppj === want,
      s"prefix collapse diverged: extra=${ppj -- want} missing=${want -- ppj}")
    assert(ppj.exists { case (a, b) => b - a == 1000L },
      "no intra-replica pair in the prefix result — vacuous")
    spark.catalog.clearCache()
  }

  test("MinHash LSH recall vs the exhaustive Jaccard sweep on the REAL sf0.01 corpus") {
    // Planted-pair specs prove the machinery; this measures recall where it
    // matters — against the exhaustive all-pairs sweep over the actual
    // corpus at q_dedup_minhash_lsh's own bar (Jaccard >= 0.5). Every true
    // pair in this corpus sits at j >= 0.9, where 16-band × 4-row banding
    // collides with prob 1-(1-j^4)^16 > 0.9999 — measured recall is 1.0;
    // the floor leaves room for an adversarial pair near the bar.
    import org.apache.spark.sql.functions._
    val d = recallSfDir
    val lsh = Dedup.qMinHashLsh(spark, d).select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ss = Dedup.shingleSets(graft.Tables.documents(spark, d)).cache()
    val exhaustive = ss.select(col("doc_id").as("da"), col("shs").as("sa"))
      .crossJoin(ss.select(col("doc_id").as("db"), col("shs").as("sb")))
      .filter(col("da") < col("db"))
      .filter(
        size(array_intersect(col("sa"), col("sb"))).cast("double") >=
          lit(0.5) * size(array_union(col("sa"), col("sb"))).cast("double"))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ss.unpersist()
    assert(exhaustive.nonEmpty, "sf0.01 corpus has no true near-dup pairs — vacuous recall")
    val recall = (lsh & exhaustive).size.toDouble / exhaustive.size
    assert(recall >= 0.9,
      s"minhash LSH recall $recall (${(lsh & exhaustive).size}/${exhaustive.size}) below 0.9")
  }

  test("embedding LSH banding recalls planted near-dups inside the REAL sf0.01 corpus") {
    // The real corpus holds no pairs above cosine 0.8 (its 0.3-bar matches
    // are "related", not near-dups), so near-dup recall is measured by
    // planting 30 clones (sigma 0.01/component => cosine ~0.997) of real
    // vectors INTO the real corpus: the banding must find them against the
    // full background. Per-pair miss prob at cos 0.997 with 4 bands x 8
    // hyperplanes is ~1e-3; >= 27/30 found leaves 3-sigma headroom.
    val d = recallSfDir
    val real = graft.Tables.embeddings(spark, d)
    val rnd = new scala.util.Random(29)
    val picked = real.collect().sortBy(_.getLong(0)).grouped(16).map(_.head).take(30).toSeq
    assert(picked.size === 30)
    val planted = picked.map { r =>
      val clone = r.getSeq[Float](1).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Row(100000L + r.getLong(0), clone, r.getInt(2))
    }
    val dir = Files.createTempDirectory("graft-recall-vec-").toString
    real.unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(planted), real.schema))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    val pairs = Dedup.qEmbeddingNearDupLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = picked.map(r => (r.getLong(0), 100000L + r.getLong(0))).toSet
    val hit = want.count(pairs.contains)
    assert(hit.toDouble / want.size >= 0.9,
      s"embedding LSH recall $hit/${want.size} below 0.9; found pairs: ${pairs.size}")
  }

  test("SimHash finds the planted duplicates (bar: Hamming <= 3, the banding-complete bound)") {
    val dir = plantedDocsDir
    val pairs = Dedup.qSimHash(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((0L, 300L)), s"missing exact dup (0,300) in $pairs")
    assert(pairs.contains((3L, 100L)), s"missing dup (3,100) in $pairs")
  }

  test("exact top-k cosine ranks the planted neighbor first") {
    val dir = plantedVecsDir
    val top = Similarity.qTopKExact(spark, dir).collect()
    assert(top.head.getLong(0) === 500L, s"expected planted 500 first, got ${top.head}")
    assert(top.head.getDouble(1) > 0.99)
  }

  test("ANN LSH recalls the planted near-identical neighbor") {
    val dir = plantedVecsDir
    val top = Similarity.qAnnLsh(spark, dir).collect()
    assert(top.nonEmpty)
    // A ~0.9999-cosine vector lands in the same or a 1-bit-adjacent bucket
    // with overwhelming probability under 8 random hyperplanes.
    assert(top.head.getLong(0) === 500L, s"expected planted 500 first, got ${top.toSeq}")
  }

  test("embedding near-dup pairs include the planted pair (same label block)") {
    val dir = plantedVecsDir
    val pairs = Dedup.qEmbeddingNearDup(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 500L)), s"missing planted (0,500) in ${pairs.toSeq}")
  }

  test("LSH-blocked embedding near-dup finds the planted pair without label blocking") {
    val dir = plantedVecsDir
    val pairs = Dedup.qEmbeddingNearDupLsh(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // cosine ≈ 0.9999 ⇒ the pair shares every band bucket w.h.p.; one
    // band collision is enough to become a candidate.
    assert(pairs.contains((0L, 500L)), s"missing planted (0,500) in ${pairs.toSeq}")
  }

  test("bucketed all-pairs sweep surfaces the planted near-identical pair") {
    val dir = plantedVecsDir
    val pairs = Similarity.qBucketedPairs(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 500L)), s"missing planted (0,500) in ${pairs.toSeq}")
  }

  test("k-means IVF achieves recall@10 >= 0.9 vs the brute-force baseline") {
    val exact = Similarity.qTopKExact(spark, sfDir).collect().map(_.getLong(0)).toSet
    val approx = Similarity.qIvfKmeans(spark, sfDir).collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 = $recall; exact=$exact approx=$approx")
  }

  test("PQ ANN achieves recall@10 >= 0.9 vs the brute-force baseline on the REAL corpus") {
    // sf0.01 (500 vectors): the ADC shortlist is 50 = 10% of the corpus,
    // so recall is earned by the code quality, not by the shortlist
    // swallowing everything. The exact re-rank tail means a miss can only
    // come from a true neighbor falling outside the ADC top-50.
    val d = recallSfDir
    val exact = Similarity.qTopKExact(spark, d).collect().map(_.getLong(0)).toSet
    val approx = Similarity.qSimPq(spark, d).collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(s"PQ recall@10 = $recall")
    assert(recall >= 0.9, s"recall@10 = $recall; exact=$exact approx=$approx")
  }

  test("IVF-PQ composite achieves recall@10 >= 0.8 vs brute force on the REAL corpus") {
    // Two approximations stack: the 4/16-cell IVF probe can drop a true
    // neighbor that lives in an unprobed cell, and the ADC shortlist can
    // drop one inside a probed cell — so the floor is 0.8 rather than the
    // single-stage variants' 0.9. A miss below that means a stage
    // regressed, not that the composition is inherently lossier.
    val d = recallSfDir
    val exact = Similarity.qTopKExact(spark, d).collect().map(_.getLong(0)).toSet
    val approx = Similarity.qSimIvfPq(spark, d).collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(s"IVF-PQ recall@10 = $recall")
    assert(recall >= 0.8, s"recall@10 = $recall; exact=$exact approx=$approx")
  }

  test("banded PQ check twins recover the exact top-10 at an SF where the production shortlist misses") {
    // sf0.001 is the calibrated counterexample: the true top-10's worst
    // ADC rank is 110 of 500 (the round-12 reading recorded in
    // Similarity.adcRerankBanded's doc), so the headline
    // shortlist of 50 provably cannot recover it — the banded twins'
    // SF-proportional tie-inclusive cut must. This is the spec teeth
    // behind the q_sim_pq_check / q_sim_ivfpq_check gate rows being
    // SF-robust rather than calibration-SF-only.
    for (d <- Seq(sfDir, recallSfDir)) {
      val exact = Similarity.qTopKExact(spark, d)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pq = Similarity.qSimPqCheck(spark, d)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val ivfpq = Similarity.qSimIvfPqCheck(spark, d)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(pq == exact, s"qSimPqCheck != exact at $d")
      assert(ivfpq == exact, s"qSimIvfPqCheck != exact at $d")
    }
  }

  // ------------------------------------------------- Misra-Gries invariants

  test("Misra-Gries over capacity: retention, under-read bound, size cap — any merge tree") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udaf}
    // 400×"hot" in a 1000-distinct-item tail: n = 1400, k = 20 →
    // under-read budget n/(k+1) = 66.67. f(hot) = 400 > 66 ⟹ hot MUST be
    // retained with est ≥ 334, under every partitioning (merge tree).
    val items = Seq.fill(400)("hot") ++ (1 to 1000).map(i => f"t$i%04d")
    // deterministic interleave so "hot" isn't one contiguous run
    val stream = items.zipWithIndex
      .sortBy { case (_, i) => ((i * 2654435761L) % 1009, i) }
      .map(_._1)
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    val mg = udaf(new graft.functions.MisraGriesAgg(20))
    for (parts <- Seq(1, 2, 7, 32)) {
      val est = stream.toDF("term").repartition(parts)
        .agg(mg(col("term")).as("sk"))
        .collect()(0).getAs[Map[String, Long]]("sk")
      assert(est.size <= 20, s"parts=$parts: summary exceeded k")
      est.foreach { case (t, e) =>
        assert(e <= truth(t), s"parts=$parts: $t over-estimated ($e > ${truth(t)})")
        assert((truth(t) - e) * 21 <= n, s"parts=$parts: $t under-read past n/(k+1)")
      }
      assert(est.contains("hot"), s"parts=$parts: guaranteed-heavy item evicted")
      assert(est("hot") >= 400 - n / 21, s"parts=$parts: hot est ${est("hot")} below floor")
    }
  }

  test("Misra-Gries at or under capacity is the exact frequency map, any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udaf}
    val stream = (1 to 15).flatMap(i => Seq.fill(i)(s"w$i"))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val mg = udaf(new graft.functions.MisraGriesAgg(20))
    for (parts <- Seq(1, 3, 8)) {
      val est = stream.toDF("term").repartition(parts)
        .agg(mg(col("term")).as("sk"))
        .collect()(0).getAs[Map[String, Long]]("sk")
      assert(est === truth, s"parts=$parts: sub-capacity summary must be exact")
    }
  }
}
