package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Equivalence guards: each native expression must produce EXACTLY the
  * values of the declarative formulation it replaced (that equivalence is
  * what keeps the DuckDB oracles valid). Checked on the real documents /
  * embeddings tables, not toy strings. */
class NativeExprsSpec extends SparkSpec {

  test("cosineSim is bit-identical to the zip_with/aggregate HOF formulation") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.as("a")
      .join(e.as("b"), col("a.vec_id") + 7 === col("b.vec_id"))
      .select(
        NativeExprs.cosineSim(col("a.v"), col("b.v")).as("native"),
        VectorOps.cosine(col("a.v"), col("b.v")).as("hof"))
    val diff = pairs.filter(col("native") =!= col("hof")).count()
    assert(diff === 0, s"$diff pairs differ between native and HOF cosine")
  }

  test("JaroWinkler matches DuckDB-probed vectors and holds its invariants") {
    // vectors captured from DuckDB jaro_winkler_similarity when the
    // kernel was written (bitwise-validated over 5000 random pairs then;
    // the q_entity_match oracle re-checks on every gate run)
    val vectors = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("abcdef", "abczzz", 0.6666666666666666), // jaro ≤ 0.7 → NO boost
      ("café", "cafe", 0.8483333333333334),
      ("cold widget", "old widget", 0.9696969696969697),
      ("ab", "ba", 0.0), // window 0 → no matches
      ("a", "b", 0.0),
      ("", "", 0.0), // DuckDB's empty rule
      ("x", "", 0.0),
      ("same", "same", 1.0))
    vectors.foreach { case (a, b, want) =>
      assert(JaroWinkler.sim(a, b) === want, s"sim($a, $b)")
      assert(JaroWinkler.sim(b, a) === want, s"symmetry sim($b, $a)")
    }
    // expression path (codegen) agrees with the direct kernel on real data
    val docs = Tables.documents(spark, sfDir).limit(200)
      .select(substring(col("text"), 1, 30).as("a"), substring(col("text"), 7, 30).as("b"))
    val rows = docs
      .select(col("a"), col("b"), NativeExprs.jaroWinkler(col("a"), col("b")).as("s"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = JaroWinkler.sim(r.getString(0), r.getString(1))
      assert(r.getDouble(2) === want, s"codegen vs kernel on ${r.getString(0)}")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("cosineSim/dotProd yield NULL on ragged arrays (zip_with semantics)") {
    val df = spark.sql(
      "SELECT cast(array(1.0, 2.0) as array<double>) a, cast(array(1.0) as array<double>) b")
    val out = df.select(
      NativeExprs.cosineSim(col("a"), col("b")).as("cos"),
      NativeExprs.dotProd(col("a"), col("b")).as("dot"),
      NativeExprs.cosineSim(col("a"), col("a")).as("cos_ok")).collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
    assert(math.abs(out.getDouble(2) - 1.0) < 1e-12)
  }

  test("Tokens matches filter(split(lower)) exactly on all documents") {
    val d = Tables.documents(spark, sfDir)
      .select(
        NativeExprs.tokens(col("text")).as("native"),
        filter(split(lower(col("text")), "\\s+"), t => t =!= lit("")).as("hof"))
    assert(d.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("NormalizeWs matches regexp_replace(lower, \\s+, ' ') exactly") {
    val d = Tables.documents(spark, sfDir)
      .select(
        NativeExprs.normalizeWs(col("text")).as("native"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("hof"))
    assert(d.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("WordShingles matches the sequence/transform/array_distinct chain") {
    val t = filter(split(lower(col("text")), "\\s+"), x => x =!= lit(""))
    val hof = array_distinct(
      transform(
        sequence(lit(1), greatest(size(t) - 2, lit(0))),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
    val d = Tables.documents(spark, sfDir)
      .filter(size(t) >= 3)
      .select(NativeExprs.wordShingles(col("text"), 3).as("native"), hof.as("hof"))
    assert(d.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("SimHash64 matches the HOF bit-vote formulation") {
    val hs = transform(
      filter(split(lower(col("text")), "\\s+"), x => x =!= lit("")),
      t => xxhash64(t))
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), NativeExprs.simHash64(NativeExprs.tokens(col("text"))).as("native"), hs.as("hs"))
      .withColumn(
        "hof",
        expr(
          """aggregate(sequence(0, 63), 0L, (acc, b) ->
            |  acc + if(aggregate(hs, 0L,
            |             (a, h) -> a + (shiftright(h, b) & 1L) * 2L - 1L) > 0,
            |           shiftleft(1L, b), 0L))""".stripMargin))
    assert(d.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("TextStats fields match the individual HOF computations") {
    val t = filter(split(lower(col("text")), "\\s+"), x => x =!= lit(""))
    val d = Tables.documents(spark, sfDir)
      .select(
        NativeExprs.textStats(col("text"), Seq("the", "a", "of")).as("st"),
        size(t).cast("long").as("h_tokens"),
        aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x).cast("long").as("h_len"),
        size(filter(split(lower(col("text")), "[^a-z0-9]+"), x => x =!= lit("")))
          .cast("long").as("h_words"),
        size(filter(t, x => x.isin("the", "a", "of"))).cast("long").as("h_stop"),
        length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).cast("long").as("h_alnum"))
    val bad = d.filter(
      col("st.n_tokens") =!= col("h_tokens") ||
        col("st.sum_token_len") =!= col("h_len") ||
        col("st.n_words") =!= col("h_words") ||
        col("st.stop_hits") =!= col("h_stop") ||
        col("st.n_alnum") =!= col("h_alnum")).count()
    assert(bad === 0)
  }

  test("vector kernels yield NULL for a NULL element, matching the HOF twin") {
    GraftFunctions.register(spark)
    // folding a null slot in as 0.0 would be a silent wrong answer — the
    // zip_with/aggregate formulation nulls the whole sum
    val rows = spark.sql(
      """SELECT graft_cosine_sim(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS c,
        |       graft_dot_prod(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS d,
        |       graft_cosine_sim(array(1.0d, 2.0d), array(1.0d, 2.0d)) AS ok""".stripMargin)
      .collect().head
    assert(rows.isNullAt(0), "cosine over a null element must be NULL")
    assert(rows.isNullAt(1), "dot over a null element must be NULL")
    assert(math.abs(rows.getDouble(2) - 1.0) < 1e-12)
  }

  test("Int8Quant matches the HOF quantization formulation on all embeddings") {
    val v = col("embedding").cast("array<double>")
    val m = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    val qs = transform(
      v, x => when(m === lit(0.0), lit(0L)).otherwise(floor(x * lit(127.0) / m + lit(0.5))))
    val hof = struct(
      size(v).cast("long").as("n_dims"),
      aggregate(qs, lit(0L), (a, q) => a + q).as("q_sum"),
      aggregate(qs, lit(0L), (a, q) => a + abs(q)).as("q_l1"),
      size(filter(qs, q => abs(q) === lit(127L))).cast("long").as("n_sat"),
      floor(m * lit(1e6) + lit(0.5)).as("m_micro"))
    val d = graft.Tables.embeddings(spark, sfDir)
      .select(NativeExprs.int8Quant(col("embedding")).as("native"), hof.as("hof"))
    assert(d.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("Int8Codes materializes exactly the codes Int8Quant audits (stats recomputed agree)") {
    val rows = Tables.embeddings(spark, sfDir)
      .select(
        NativeExprs.int8Codes(col("embedding").cast("array<double>")).as("c"),
        NativeExprs.int8Quant(col("embedding").cast("array<double>")).as("st"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getSeq[Double](0)
      val st = r.getStruct(1)
      assert(c.length.toLong === st.getLong(0), "n_dims")
      assert(c.map(_.toLong).sum === st.getLong(1), "q_sum from codes")
      assert(c.map(x => math.abs(x.toLong)).sum === st.getLong(2), "q_l1 from codes")
      assert(c.count(x => math.abs(x.toLong) == 127L).toLong === st.getLong(3), "n_sat")
      assert(c.forall(x => x == math.floor(x) && math.abs(x) <= 127.0), "codes are int8-range integers")
    }
  }

  test("Int8Quant edge semantics: zero vector, NULL lane, saturation") {
    val df = spark.sql(
      "SELECT cast(array(0.0, 0.0) as array<double>) z, " +
        "cast(array(1.0, null) as array<double>) hasnull, " +
        "cast(array(2.0, -2.0, 1.0) as array<float>) sat")
    val out = df.select(
      NativeExprs.int8Quant(col("z")).as("z"),
      NativeExprs.int8Quant(col("hasnull")).as("n"),
      NativeExprs.int8Quant(col("sat")).as("s")).collect().head
    val z = out.getStruct(0)
    assert(z.getLong(1) === 0L && z.getLong(2) === 0L && z.getLong(4) === 0L)
    assert(out.isNullAt(1), "NULL lane must null the audit row, not zero-fill")
    val sat = out.getStruct(2)
    // m = 2.0 -> q = (127, -127, 64); floor(1*127/2 + 0.5) = 64
    assert(sat.getLong(0) === 3L)
    assert(sat.getLong(1) === 64L)
    assert(sat.getLong(2) === 318L)
    assert(sat.getLong(3) === 2L)
    assert(sat.getLong(4) === 2000000L)
  }

  test("SQL kernels reject wrong-typed arguments at analysis time") {
    GraftFunctions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_tokens(123)").collect())
    assert(e.getMessage.toLowerCase.contains("type"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_simhash64('not an array')").collect())
    assert(e2.getMessage.toLowerCase.contains("type"))
  }

  test("hash kernels skip NULL tokens instead of failing the task") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash64(array('a', CAST(NULL AS STRING), 'b')) AS withNull,
        |       graft_simhash64(array('a', 'b')) AS without""".stripMargin)
      .collect().head
    assert(r.getLong(0) === r.getLong(1), "null token must contribute nothing")
  }

  test("wrong-arity SQL calls fail with the function name, not an index error") {
    GraftFunctions.register(spark)
    val e = intercept[Exception](spark.sql("SELECT graft_cosine_sim(array(1.0d))").collect())
    assert(e.getMessage.contains("graft_cosine_sim"), s"unhelpful error: ${e.getMessage}")
  }

  test("a second register keeps every builder in place and SQL calls still work") {
    GraftFunctions.register(spark)
    def builders = GraftFunctions.all.map { case (name, _, _) =>
      org.apache.spark.sql.GraftBridge.functionBuilder(spark, name)
    }
    val first = builders
    assert(first.forall(_.isDefined))
    GraftFunctions.register(spark)
    first.zip(builders).zip(GraftFunctions.all.map(_._1)).foreach { case ((a, b), name) =>
      assert(b.get eq a.get, s"$name was re-registered")
    }
    val r = spark.sql(
      "SELECT graft_dot_prod(array(1.0d, 2.0d), array(3.0d, 4.0d)), graft_normalize_ws(' A  b ')")
      .collect().head
    assert(r.getDouble(0) === 11.0)
    assert(r.getString(1) === " a b ")
  }

  test("GraftBloom: no false negatives, bounded false positives, order-independent build") {
    import org.apache.spark.sql.DataFrame
    def keysDf(ks: Seq[Long]): DataFrame =
      spark.createDataFrame(ks.map(Tuple1(_))).toDF("k")
    val inserted = (0L until 5000L).map(_ * 7919L + 13L)
    val bits = GraftBloom.build(keysDf(inserted))
    // no false negatives — every inserted key must pass
    val misses = keysDf(inserted)
      .filter(!GraftBloom.mightContain(col("k"), bits)).count()
    assert(misses === 0L, s"$misses inserted keys rejected (false negatives)")
    // bounded false positives on a disjoint probe set
    val disjoint = (0L until 20000L).map(_ * 6007L + 3L).filterNot(inserted.toSet)
    val fps = keysDf(disjoint).filter(GraftBloom.mightContain(col("k"), bits)).count()
    assert(fps.toDouble / disjoint.size < 0.02, s"FP rate ${fps.toDouble / disjoint.size}")
    // OR-merge commutativity: shuffled insertion order → identical bits
    val bits2 = GraftBloom.build(keysDf(inserted.reverse).repartition(7))
    assert(bits.toSeq === bits2.toSeq, "bloom bits depend on build order/partitioning")
  }

  /** Direct chunker twin of [[CdcChunks]]: evaluates every window hash
    * closed-form (Σ cp(i−j)·B^j, no rolling update) — the same algorithm
    * the DuckDB oracle runs, so kernel-vs-this equivalence is the in-JVM
    * proof the rolling update is correct. */
  private def cdcDirect(s: String): Seq[(Long, Long)] = {
    import CdcChunks._
    val cps = s.codePoints().toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var start = 0
    for (i <- cps.indices) {
      if (i >= W - 1) {
        var h = 0L
        for (j <- 0 until W) h = (h + (cps(i - j).toLong & Mask) * ((0 until j)
          .foldLeft(1L)((p, _) => (p * B) & Mask))) // B^j mod 2^20, recomputed cold
        if (((h & Mask) & (D - 1)) == 0L) {
          out += ((start.toLong, (i - start + 1).toLong))
          start = i + 1
        }
      }
    }
    if (start < cps.length) out += ((start.toLong, (cps.length - start).toLong))
    out.toSeq
  }

  private def cdcOf(s: String): Seq[(Long, Long)] = {
    val df = spark.createDataFrame(Seq(Tuple1(s))).toDF("text")
      .select(explode(NativeExprs.cdcChunks(col("text"))).as("c"))
      .select(col("c.start_cp"), col("c.len_cp"))
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** Deterministic pseudo-text: LCG over a small alphabet with spaces —
    * enough entropy that cut points actually occur. */
  private def lcgText(n: Int, seed: Long): String = {
    val sb = new StringBuilder
    var x = seed
    val alpha = "abcdefghij klmnopqrstuvwxyz"
    for (_ <- 0 until n) {
      x = (x * 6364136223846793005L + 1442695040888963407L)
      sb.append(alpha(((x >>> 33) % alpha.length).toInt))
    }
    sb.toString
  }

  test("CdcChunks rolling hash matches the closed-form direct chunker") {
    val samples = Seq(
      lcgText(2000, 1), lcgText(500, 42), lcgText(15, 7), // below one window
      "", "short",
      "astral 😀 mixed 🚀 text " + lcgText(300, 9)) // code-point arithmetic
    for (s <- samples) {
      assert(cdcOf(s) === cdcDirect(s), s"kernel != direct on ${s.take(30)}...")
    }
  }

  test("CdcChunks chunks partition the document contiguously") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
    assert(docs.nonEmpty)
    for (r <- docs.take(50)) {
      val text = r.getString(1)
      val chunks = cdcOf(text)
      val n = text.codePointCount(0, text.length)
      if (n == 0) assert(chunks.isEmpty)
      else {
        assert(chunks.head._1 === 0L)
        assert(chunks.map(_._2).sum === n.toLong, "chunk lengths must sum to doc length")
        chunks.sliding(2).foreach {
          case Seq((s1, l1), (s2, _)) => assert(s1 + l1 === s2, "chunks must be contiguous")
          case _                      =>
        }
      }
    }
  }

  test("CdcChunks re-synchronizes after an edit (the property stride chunking lacks)") {
    val original = lcgText(4000, 123)
    val edited = original.substring(0, 100) + "INSERTED EDIT " + original.substring(100)
    def contentKeys(s: String): Seq[String] = {
      val cps = s.codePoints().toArray
      cdcOf(s).map { case (st, ln) =>
        new String(cps, st.toInt, ln.toInt)
      }
    }
    val a = contentKeys(original)
    val b = contentKeys(edited)
    assert(a.size > 20, s"fixture too short: ${a.size} chunks")
    // every chunk strictly after the edit's re-sync point is shared; only
    // the O(1) chunks overlapping the edit may differ
    val shared = a.toSet.intersect(b.toSet).size
    assert(
      a.size - shared <= 3,
      s"CDC failed to re-sync: ${a.size} original chunks, only $shared shared")
    // a fixed-stride chunker on the same text shares almost nothing after
    // the insertion point — sanity-check the contrast that motivates CDC
    def strideKeys(s: String): Seq[String] = {
      val cps = s.codePoints().toArray
      cps.grouped(64).map(g => new String(g, 0, g.length)).toSeq
    }
    val sa = strideKeys(original); val sb = strideKeys(edited)
    val strideShared = sa.toSet.intersect(sb.toSet).size
    assert(strideShared < shared, "stride chunking should churn where CDC re-syncs")
  }

  test("charTrigrams matches the padded-join reference on hand cases and the real corpus") {
    import spark.implicits._
    // reference: ' ' + whitespace-tokens.mkString(" ") + ' ', 3-codepoint windows
    def ref(s: String): Seq[String] = {
      val norm = " " + s.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).mkString(" ") + " "
      val cps = norm.codePoints().toArray
      (0 to cps.length - 3).map(i => new String(cps, i, 3))
    }
    val cases = Seq(
      "The quick  brown\tfox", "a", "ab", "", "   \t\n  ",
      "café ole", "😀x😁 y") // astral chars: windows count CODEPOINTS
    val got = cases.toDF("text")
      .select(NativeExprs.charTrigrams(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    cases.zip(got).foreach { case (s, g) =>
      assert(g === ref(s), s"trigrams diverge on '$s'")
    }
    // and over the real corpus: native == reference implementation per doc
    val docs = Tables.documents(spark, sfDir).select("text").limit(200)
      .collect().map(_.getString(0))
    val nat = docs.toSeq.toDF("text")
      .select(NativeExprs.charTrigrams(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    docs.zip(nat).foreach { case (s, g) =>
      assert(g === ref(s), "corpus trigram divergence")
    }
  }

  test("charTrigrams matches the reference on RANDOM unicode text (generator property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def ref(s: String): Seq[String] = {
      val norm = " " + s.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).mkString(" ") + " "
      val cps = norm.codePoints().toArray
      (0 to cps.length - 3).map(i => new String(cps, i, 3))
    }
    // chars drawn from the interesting classes: ascii letters, every
    // Java-whitespace the tokenizer splits on (incl. vertical tab),
    // accents, CJK, and an astral (surrogate-pair) codepoint
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      3 -> Gen.oneOf(' ', '\t', '\n', 11.toChar /* vertical tab */, '\f', '\r'),
      2 -> Gen.oneOf('é', 'ß', '的', 'Ж'),
      1 -> Gen.const('\uD83D'))
    // raw surrogates from the generator are paired up into U+1F600 so
    // inputs stay valid UTF-8 (UTF8String round-trips valid text only)
    val textGen = Gen.listOf(charGen).map(
      _.mkString.replace("\uD83D", "😀"))
    val texts = (1L to 60L).map(seed =>
      textGen.pureApply(Gen.Parameters.default.withSize(50), Seed(seed)))
    val got = texts.toDF("text")
      .select(NativeExprs.charTrigrams(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    texts.zip(got).foreach { case (s, g) =>
      assert(g === ref(s), s"trigram divergence on ${s.map(c => f"\\u$c%04x").mkString}")
    }
  }

  test("langIdScores equals prior + per-trigram weight sums computed by hand") {
    import spark.implicits._
    val langs = Seq("aa", "bb")
    val weights = Map(" ab" -> Seq(-10L, -200L), "ab " -> Seq(-20L, -300L))
    val dw = Seq(-1000L, -2000L)
    val pr = Seq(-5L, -7L)
    def expected(s: String): Seq[Long] = {
      val norm = " " + s.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).mkString(" ") + " "
      val tris = (0 to norm.length - 3).map(i => norm.substring(i, i + 3))
      langs.indices.map(j => pr(j) + tris.map(t => weights.getOrElse(t, dw)(j)).sum)
    }
    val cases = Seq("ab", "ab ab", "zzz", "")
    val got = cases.toDF("text")
      .select(NativeExprs.langIdScores(col("text"), langs, weights, dw, pr).as("s"))
      .collect().map(_.getSeq[Long](0))
    cases.zip(got).foreach { case (s, g) =>
      assert(g === expected(s), s"scores diverge on '$s'")
    }
  }
}
