package graft.operators

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Specs for the non-oracle extras: approx distinct error bound, salted
  * aggregation equivalence, SQL function registration, IVF recall. */
class ExtrasSpec extends SparkSpec {

  test("approx_count_distinct is within 5% of the exact count") {
    val rows = Relational.qApproxDistinct(spark, sfDir).collect()
    val exact = graft.Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    rows.foreach { r =>
      val (flag, approx) = (r.getString(0), r.getLong(1))
      val e = exact(flag).toDouble
      assert(math.abs(approx - e) / e <= 0.05, s"$flag: approx $approx vs exact $e")
    }
  }

  test("approx_percentile lands within one quantity unit of the exact percentile") {
    // accuracy=1000 bounds rank error at n/1000; quantities are small
    // integers, so the approximate p50/p90 must land within 1 unit
    val exact = Relational.qPercentiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Relational.qApproxPercentiles(spark, sfDir).collect().foreach { r =>
      val flag = r.getString(0)
      val (p50e, p90e) = exact(flag)
      assert(math.abs(r.getDouble(1) - p50e) <= 1.0, s"$flag p50: ${r.getDouble(1)} vs $p50e")
      assert(math.abs(r.getDouble(2) - p90e) <= 1.0, s"$flag p90: ${r.getDouble(2)} vs $p90e")
    }
  }

  test("session_window builtin agrees with the window-function sessionization") {
    // Two independent constructions of 30-min-gap sessions over the real
    // events table: the built-in session_window aggregate vs q_sessionize's
    // lag+cumsum windows. (Boundary semantics differ only for gaps of
    // EXACTLY 1800 s — the generated data has none, DuckDB-checked.)
    import graft.functions.PortableRound.asScaled
    val builtin = graft.Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(asScaled(col("value"), 2)) / lit(100.0)).as("session_value"))
      .select("user_id", "n_events", "session_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val custom = Relational.qSessionize(spark, sfDir)
      .select("user_id", "n_events", "session_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(builtin === custom,
      s"session multisets diverge: builtin ${builtin.size} keys vs custom ${custom.size}")
  }

  test("salted aggregation equals plain groupBy (skew-safe decomposition)") {
    // heavy skew: 90% of rows share one key
    val df = spark.range(10000)
      .select(when(col("id") % 10 =!= 0, lit("hot")).otherwise(col("id").cast("string")).as("k"))
    val plain = df.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, col("k"), salt = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("salted join equals the plain join on skewed data") {
    // 90% of left rows share the hot key
    val left = spark.range(20000)
      .select(
        when(col("id") % 10 =!= 0, lit(5L)).otherwise(col("id") % 100).as("lk"),
        col("id").as("payload"))
    val right = spark.range(100).select(col("id").as("rk"), (col("id") * 7).as("rval"))
    val plain = left.join(right, col("lk") === col("rk"))
      .select("lk", "payload", "rval")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val salted = Skew.saltedJoin(left, right, col("lk"), col("rk"), salt = 8)
      .select("lk", "payload", "rval")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(salted.length === plain.length)
    assert(salted === plain)
  }

  test("native expressions are callable from SQL after registration") {
    GraftFunctions.register(spark)
    val cos = spark.sql(
      "SELECT graft_cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val toks = spark.sql(
      "SELECT graft_tokens('  Hello   WORLD ') AS t").collect().head.getSeq[String](0)
    assert(toks === Seq("hello", "world"))
    val sig = spark.sql(
      "SELECT graft_simhash64(graft_tokens('a b c')) AS s").collect().head.getLong(0)
    assert(sig != 0L)
  }

  test("documents.text is pure ASCII (assumption text-op oracles rely on)") {
    // Several DuckDB oracles equate character positions/lengths with byte
    // values (fingerprint, token counts, quality scores) — valid only
    // while the generated text is ASCII. If the generator ever emits
    // multi-byte characters this must fail loudly here, not silently
    // diverge in the driver's hash compare.
    val nonAscii = graft.Tables.documents(spark, sfDir)
      .filter(octet_length(col("text")) =!= length(col("text")))
      .count()
    assert(nonAscii === 0L, s"$nonAscii documents contain non-ASCII text")
  }

  test("media blobs are real PNGs and the codec round-trip is lossless") {
    // Encode → decode outside Spark: magic bytes, header dims, and every
    // raster sample must equal the authored formula. This is the codec
    // ground truth the oracle-hash checks build on.
    val ids = Seq(0L, 17L, 123L, 499L)
    ids.foreach { id =>
      val png = Multimodal.PngCodec.encode(id)
      val magic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      assert(png.take(8).sameElements(magic), s"doc $id: not a PNG blob")
      val img = Multimodal.PngCodec.decode(png)
      assert(img.getWidth === Multimodal.PngCodec.width(id))
      assert(img.getHeight === Multimodal.PngCodec.height(id))
      val raster = img.getRaster
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        assert(raster.getSample(x, y, 0) === Multimodal.PngCodec.pixel(x, y, id),
          s"doc $id pixel ($x,$y) corrupted by codec round-trip")
    }
  }

  test("video container demux is exact and every frame decodes to its formula") {
    val ids = Seq(0L, 5L, 123L)
    ids.foreach { id =>
      val blob = Multimodal.VideoContainer.encode(id)
      val (n, dir) = Multimodal.VideoContainer.demux(blob)
      assert(n === Multimodal.VideoContainer.nFrames(id))
      for (f <- 0 until n) {
        val img = Multimodal.VideoContainer.decodeFrame(blob, dir, f)
        assert(img.getWidth === Multimodal.PngCodec.width(id))
        assert(img.getHeight === Multimodal.PngCodec.height(id))
        val raster = img.getRaster
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
          assert(raster.getSample(x, y, 0) ===
            ((x * 7L + y * 13L + id * 31L + f * 97L) % 256L).toInt,
            s"doc $id frame $f pixel ($x,$y)")
      }
    }
  }

  test("frame sampling decodes ONLY sampled frames (corrupted unsampled payload is never read)") {
    // id 5 → 7 frames, sampled indices {0,2,4,6}: corrupt frame 1's PNG
    // payload in place — demux (header arithmetic) and the sampled
    // decodes must be untouched, proving the skip is real, while decoding
    // the corrupted frame itself must fail
    val id = 5L
    val blob = Multimodal.VideoContainer.encode(id)
    val (n, dir) = Multimodal.VideoContainer.demux(blob)
    assert(n === 7)
    val (off1, len1) = dir(1)
    for (i <- off1 until (off1 + len1)) blob(i) = 0x5a.toByte
    val sampled = (0 until 4).map(k => k * (n - 1) / 3).distinct
    assert(sampled === Seq(0, 2, 4, 6))
    sampled.foreach { f =>
      val img = Multimodal.VideoContainer.decodeFrame(blob, dir, f)
      assert(img.getRaster.getSample(0, 0, 0) === ((id * 31L + f * 97L) % 256L).toInt)
    }
    intercept[Exception](Multimodal.VideoContainer.decodeFrame(blob, dir, 1))
  }

  test("audio blobs are real WAVs and the PCM round-trip is lossless") {
    val ids = Seq(0L, 42L, 321L)
    ids.foreach { id =>
      val wav = Multimodal.WavCodec.encode(id)
      assert(new String(wav.take(4), "US-ASCII") === "RIFF", s"doc $id: not a RIFF blob")
      assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE", s"doc $id: not a WAVE blob")
      val (rate, samples) = Multimodal.WavCodec.decode(wav)
      assert(rate === Multimodal.WavCodec.SampleRate)
      assert(samples.length === Multimodal.WavCodec.nSamples(id))
      samples.zipWithIndex.foreach { case (v, i) =>
        assert(v === Multimodal.WavCodec.sample(i, id), s"doc $id sample $i corrupted")
      }
    }
  }

  test("audio quartile energies match a formula-direct computation that never touches the codec") {
    val got = Multimodal.qAudioFeatures(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong).toVector).toMap
    val ids = graft.Tables.documents(spark, sfDir).select("doc_id").collect().map(_.getLong(0))
    assert(got.keySet === ids.toSet)
    ids.foreach { id =>
      val n = Multimodal.WavCodec.nSamples(id)
      val e = new Array[Long](4)
      for (i <- 0 until n)
        e(i * 4 / n) += math.abs(Multimodal.WavCodec.sample(i, id) - 128).toLong
      assert(got(id) === e.toVector, s"doc $id energies mismatch")
    }
  }

  test("media feature extraction matches a formula-direct histogram that never touches the codec") {
    // The query path goes formula → PNG encode → ImageIO decode → histogram;
    // this check recomputes the histogram straight from the formula. Any
    // codec-introduced corruption diverges the two.
    val got = Multimodal.qFeatureExtract(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toVector).toMap
    val ids = graft.Tables.documents(spark, sfDir).select("doc_id").collect().map(_.getLong(0))
    assert(got.keySet === ids.toSet)
    ids.foreach { id =>
      val hist = new Array[Long](8)
      for (y <- 0 until Multimodal.PngCodec.height(id); x <- 0 until Multimodal.PngCodec.width(id))
        hist(Multimodal.PngCodec.pixel(x, y, id) % 8) += 1L
      assert(got(id) === hist.toVector, s"doc $id histogram mismatch")
    }
  }

  test("media resize reports aspect-fit dimensions and a formula-verified checksum") {
    val got = Multimodal.qResize(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    got.foreach { case (id, (w, h, outW, outH, sum)) =>
      val mx = math.max(w, h)
      assert(outW === w * 48 / mx, s"doc $id out_w")
      assert(outH === h * 48 / mx, s"doc $id out_h")
      assert(math.max(outW, outH) === 48L, s"doc $id: max dim must hit the box")
      var expect = 0L
      for (j <- 0 until outH.toInt; i <- 0 until outW.toInt)
        expect += Multimodal.PngCodec.pixel((i * w / outW).toInt, (j * h / outH).toInt, id)
      assert(sum === expect, s"doc $id resized checksum")
    }
  }

  test("scene cuts match a formula-direct SAD sweep that never touches the codec") {
    // Query path: formula → PNG frames → container → demux → ImageIO
    // decode → SAD sweep. This recomputes every pair's SAD straight from
    // the pixel formula; any codec/demux corruption diverges the two.
    val got = Multimodal.qSceneCuts(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ids = graft.Tables.documents(spark, sfDir).select("doc_id").collect().map(_.getLong(0))
    assert(got.keySet === ids.toSet)
    ids.foreach { id =>
      val w = Multimodal.PngCodec.width(id); val h = Multimodal.PngCodec.height(id)
      val n = Multimodal.VideoContainer.nFrames(id)
      var cuts = 0L; var total = 0L
      for (f <- 1 until n) {
        var sad = 0L
        for (y <- 0 until h; x <- 0 until w)
          sad += math.abs(
            Multimodal.PngCodec.framePixel(x, y, id, f) -
              Multimodal.PngCodec.framePixel(x, y, id, f - 1))
        total += sad
        if (sad > 120L * w * h) cuts += 1
      }
      assert(got(id) === ((n.toLong, cuts, total)), s"doc $id scene-cut card mismatch")
    }
  }

  test("autocorrelation card matches an in-JVM BigInt ACF over the dense hourly series") {
    // Independent algorithm: collect the zero-filled hourly series and
    // redo the cross-multiplied ACF in exact BigInt arithmetic (no
    // DECIMAL, no windows). BigInt `/` truncates toward zero; the
    // dividend (num+den)·10⁶ is ≥ 0 by Cauchy–Schwarz, so it equals the
    // floor the query's div/‌// computes.
    val byType = Relational.qResampleHourly(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (t, rows) => t -> rows.sortBy(_._2).map(_._3) }
    val got = Relational.qAutocorr(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size === byType.size * 4)
    byType.foreach { case (t, series) =>
      val n = series.length
      val c = BigInt(n); val s1 = series.map(BigInt(_)).sum
      val dev = series.map(v => BigInt(v) * c - s1)
      val den = dev.map(x => x * x).sum
      assert(den > 0, s"$t: constant series makes the card undefined")
      for (k <- Seq(1, 2, 3, 24)) {
        assert(n > k, s"$t: series too short for lag $k")
        val num = (k until n).map(i => dev(i) * dev(i - k)).sum
        val expect = ((num + den) * 1000000) / den
        val (nh, r) = got((t, k.toLong))
        assert(nh === n.toLong, s"$t lag $k n_hours")
        assert(r === expect.toLong, s"$t lag $k r_ppm1m")
      }
    }
  }

  test("perplexity buckets agree with a direct reclassification of the per-doc LM scores") {
    // Third opinion: boundaries from the SORTED per-lang score list (rank
    // index ⌈k·n/3⌉), not the query's value-histogram windows — the two
    // rules coincide exactly, duplicates included.
    val langs = graft.Tables.documents(spark, sfDir).select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scores = TextOps.qLmBackoff(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val expect = scala.collection.mutable.Map.empty[(String, String), (Long, Long, Long)]
    scores.groupBy { case (id, _, _) => langs(id) }.foreach { case (lang, docs) =>
      val avgs = docs.map { case (id, ntg, ssum) => (id, ntg, ssum, ssum / ntg) }
      val sorted = avgs.map(_._4).sorted
      val n = sorted.length
      def atRank(k: Int) = sorted((n * k + 2) / 3 - 1)
      val b1 = atRank(1); val b2 = atRank(2)
      avgs.foreach { case (_, ntg, ssum, a) =>
        val b = if (a < b1) "tail" else if (a < b2) "middle" else "head"
        val (c0, t0, s0) = expect.getOrElse((lang, b), (0L, 0L, 0L))
        expect((lang, b)) = (c0 + 1, t0 + ntg, s0 + ssum)
      }
    }
    val got = TextOps.qPplBuckets(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expect.toMap)
  }

  test("incremental cluster card equals the full-rebuild clustering on batch-containing clusters") {
    // The one frozen degree of freedom (corpus-corpus edges at the index
    // build's df cap) must be VACUOUS on this corpus: stitching the
    // batch into the stored clustering yields exactly the clusters a
    // from-scratch corpus+batch rebuild assigns wherever a batch doc is
    // involved. (n_merged_components is incremental-only and not
    // comparable.)
    val full = Dedup.qDedupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = full.groupBy(_._2).collect {
      case (cid, ms) if ms.exists(_._1 % 5 == 4) =>
        (cid, ms.count(_._1 % 5 == 4).toLong, ms.count(_._1 % 5 != 4).toLong)
    }.toSeq.sortBy(_._1)
    val got = Dedup.qDedupClustersIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got === want)
  }

  test("DP release reproduces the binomial-mechanism noise computed off-Spark") {
    // Third opinion: group sizes from plain Scala, noise from
    // MessageDigest md5 + Long.bitCount — no Spark expressions, no
    // DuckDB. Pins the whole mechanism (key layout, 60-bit prefix,
    // popcount center, zero clamp) against an independent implementation.
    import java.security.MessageDigest
    val rows = graft.Tables.customer(spark, sfDir)
      .select(
        col("c_mktsegment"),
        col("c_nationkey"),
        (graft.functions.PortableRound.asScaled(col("c_acctbal"), 2) + lit(100000L)).as("co"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue, r.getLong(2) / 100000L))
    val expect = rows.groupBy(identity).map { case (k @ (seg, nat, b), g) =>
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"$seg|$nat|$b|dp1".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val noise = java.lang.Long.bitCount(java.lang.Long.parseLong(hex, 16)) - 30
      k -> math.max(0L, g.size.toLong + noise)
    }
    val got = Relational.qDpRelease(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue, r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got === expect)
  }

  test("IVF probes find the true nearest neighbor on real data when cells align") {
    // On the real sf0.001 embeddings the oracle guards exactness; here we
    // check that the probe path returns a non-empty, correctly
    // score-ordered result (cell membership itself is what the DuckDB
    // oracle replays exactly).
    val rows = Similarity.qIvf(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted.reverse, "IVF results not score-ordered")
  }

  test("integer epoch-micros RANGE frame is row-identical to the INTERVAL timestamp frame") {
    // q_window_range orders by unix_micros with an integer 3.6e9 bound for
    // oracle portability; the INTERVAL 1 HOUR spelling over the timestamp
    // column must define the same frame (micros truncation is shared by
    // construction, Tables.normalizeTs).
    val integer = Relational.qWindowRange(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val interval = Relational.qWindowRangeInterval(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(integer === interval)
    assert(integer.nonEmpty)
  }

  test("dedup clusters equal an independent union-find over the pair edges") {
    // The distributed label propagation vs a classic in-JVM union-find on
    // the SAME edge set (from the oracle-green Jaccard pair query at the
    // apply threshold) — two different algorithms must reach the same
    // components. sf0.01: the smaller corpus has no qualifying pairs.
    val d = "/root/testdata/sf0.01"
    val got = Dedup.qDedupClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // independent edge set: collect the capped shingles and evaluate the
    // operator's OWN edge predicate (unrounded double ratio >= 0.6, no
    // co-occurrence floor, no limit) in plain JVM code — deliberately NOT
    // qNgramJaccard, whose inter>=2 floor, 6-decimal rounding and LIMIT 50
    // define a different pair set
    val byDoc = Dedup.cappedShingles(spark, d, maxDF = 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("sh")))
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).toSet }
    val ids = byDoc.keys.toSeq.sorted
    val edges = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      (a, b) = (ids(i), ids(j))
      inter = (byDoc(a) & byDoc(b)).size
      if inter > 0 && inter.toDouble / (byDoc(a).size + byDoc(b).size - inter) >= 0.6
    } yield (a, b)
    assert(edges.nonEmpty, "fixture drift: no Jaccard >= 0.6 pairs at sf0.01")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.toSeq.map(v => v -> find(v)).groupBy(_._2)
    val expectedRows = expected.flatMap { case (root, vs) =>
      vs.map { case (v, _) => (v, root, vs.size.toLong) }
    }.toSet
    assert(got.toSet === expectedRows)
    // and at least one component must be a transitive chain or larger —
    // the thing pairwise dedup alone cannot represent
    assert(got.exists(_._3 >= 3), "no multi-hop component; clusters add nothing over pairs")
  }

  test("substring dedup finds planted shared passages as interval-merged maximal spans") {
    // Planted corpus with disjoint per-doc alphabets so the ONLY shared
    // 8-grams are the ones planted. A/B share one 12-token passage at
    // DIFFERENT offsets (one merged span of exactly 12 tokens — the
    // sliding-window property q_dedup_lines' block-aligned spans miss);
    // C/D share two separated 8-token runs (two spans, no false merge);
    // E shares only a 7-token run with A — one token short of the window,
    // must stay span-free.
    import org.apache.spark.sql.{Row, SaveMode}
    import org.apache.spark.sql.types._
    def toks(p: String, n: Int): Seq[String] = Seq.tabulate(n)(i => s"$p${i + 1}")
    val shared12 = toks("s", 12)
    val run1 = toks("x", 8)
    val run2 = toks("y", 8)
    val a = toks("a", 10) ++ shared12 ++ toks("a", 30).drop(22)     // passage at pos 11
    val b = toks("b", 4) ++ shared12 ++ toks("b", 30).drop(16)      // passage at pos 5
    val c = toks("c", 4) ++ run1 ++ toks("c", 14).drop(4) ++ run2   // runs at pos 5, 23
    val dd = toks("d", 2) ++ run1 ++ toks("d", 12).drop(2) ++ run2 ++ toks("d", 14).drop(12)
    val e = toks("e", 23) ++ shared12.take(7)                       // 7 < k: no window
    val rows = Seq(1L -> a, 2L -> b, 3L -> c, 4L -> dd, 5L -> e).map { case (id, t) =>
      Row(id, t.mkString(" "), "en", "planted", t.mkString(" ").length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-substr-").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val got = Dedup.qDedupSubstrings(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1L) === ((30L, 23L, 1L, 12L)))
    assert(got(2L) === ((30L, 23L, 1L, 12L)))
    assert(got(3L) === ((30L, 23L, 2L, 16L)))
    assert(got(4L) === ((30L, 23L, 2L, 16L)))
    assert(got(5L) === ((30L, 23L, 0L, 0L)))
  }

  test("compaction collapses the fragmented file count under the governance knob") {
    // q_compacted's oracle proves row fidelity; this proves the point of
    // the rewrite — 64 ingest fragments become the range-partitioned
    // bounded layout (2 range partitions, each under maxRecordsPerFile)
    val d = "/root/testdata/sf0.001"
    val fragT = Maintenance.ensureFragmented(spark, d)
    val compT = Maintenance.ensureCompacted(spark, d)
    def nFiles(t: String): Int = {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      loc.listFiles().count(f => f.getName.endsWith(".parquet"))
    }
    assert(nFiles(fragT) === 64)
    assert(nFiles(compT) <= 2, s"compacted layout still fragmented: ${nFiles(compT)} files")
    // and the compacted files are doc_id-sorted (range-prunable): the
    // table read back in file order is locally sorted within partitions
    val perFile = spark.table(compT)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .collect().groupBy(_.getString(1))
    perFile.foreach { case (f, rows) =>
      val ids = rows.map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"file $f not doc_id-sorted")
    }
  }

  test("z-order layout concentrates a 2-D box into few files; natural layout spreads it") {
    // The point of z-clustering, measured: write lineitem 8-ways ranged
    // by l_orderkey (natural ingest order) vs ranged by the z-value of
    // (l_partkey, l_suppkey), then evaluate the footer-pruning decision
    // a scan would make for a small 2-D box — a file can be skipped iff
    // the box misses its [min,max] envelope on both columns. Natural
    // layout: part/supp keys are uncorrelated with orderkey, every file
    // envelope covers the whole domain, nothing skips. Z-layout: the box
    // maps to a contiguous z-range, few files intersect.
    import org.apache.spark.sql.functions.{input_file_name, max => smax, min => smin}
    val d = "/root/testdata/sf0.01"
    val li = graft.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .withColumn("zval", expr(Maintenance.zFormula("l_partkey", "l_suppkey", "div")))
    val base = java.nio.file.Files.createTempDirectory("graft-zorder-").toString
    li.repartitionByRange(8, col("l_orderkey")).write.parquet(s"$base/natural")
    li.repartitionByRange(8, col("zval")).write.parquet(s"$base/zorder")
    // box: bottom-left 1/8 x 1/8 corner of the (partkey, suppkey) domain
    val (pLo, pHi, sLo, sHi) = (1L, 250L, 1L, 12L)
    def filesIntersecting(dir: String): (Long, Long) = {
      val env = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(
          smin("l_partkey").as("p0"), smax("l_partkey").as("p1"),
          smin("l_suppkey").as("s0"), smax("l_suppkey").as("s1"))
      val hit = env.filter(
        col("p1") >= pLo && col("p0") <= pHi && col("s1") >= sLo && col("s0") <= sHi)
      (env.count(), hit.count())
    }
    val (nNat, hitNat) = filesIntersecting(s"$base/natural")
    val (nZ, hitZ) = filesIntersecting(s"$base/zorder")
    assert(nNat === 8L && nZ === 8L)
    assert(hitNat === 8L, s"expected the natural layout to prune nothing, pruned ${8 - hitNat}")
    assert(hitZ <= 2L, s"z-order layout should confine the box to <=2 files, hit $hitZ")
    // and the box rows themselves live in exactly the intersecting files
    val rowFiles = spark.read.parquet(s"$base/zorder")
      .filter(col("l_partkey").between(pLo, pHi) && col("l_suppkey").between(sLo, sHi))
      .select(input_file_name()).distinct().count()
    assert(rowFiles <= hitZ)
  }

  test("z-value formula interleaves bits exactly (corner values pinned)") {
    val rows = spark.sql(
      s"""SELECT ${Maintenance.zFormula("x", "y", "div")} AS z
         |FROM VALUES (0L,0L),(1L,0L),(0L,1L),(3L,0L),(0L,3L),(65535L,65535L),
         |            (65536L,0L) AS t(x, y)""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    // bit i of x -> bit 2i+1, bit i of y -> bit 2i; bit 16+ ignored
    assert(rows === Seq(0L, 2L, 1L, 10L, 5L, 4294967295L, 0L))
  }

  test("table checksum flips exactly the touched bucket when one row changes") {
    // the anti-entropy property the operator exists for: a single-row
    // corruption must surface in exactly its doc_id bucket, with every
    // other bucket's (n_rows, checksum) identical
    import org.apache.spark.sql.SaveMode
    val d = sfDir
    val before = Maintenance.qTableChecksum(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft-chk-").toString
    graft.Tables.documents(spark, d)
      .withColumn(
        "text",
        when(col("doc_id") === 7L, concat(col("text"), lit(" tampered"))).otherwise(col("text")))
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val after = Maintenance.qTableChecksum(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(before.keySet === after.keySet)
    val diff = before.keySet.filter(b => before(b) != after(b))
    assert(diff === Set(7L % 16), s"expected only bucket 7 to differ, got $diff")
    assert(before(7L)._1 === after(7L)._1, "row count must not change — content did")
  }

  test("snippet containment: every snippet recovers its own doc at containment 1.0") {
    val rows = Dedup.qSnippetContainment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val self = rows.filter { case (s, d, _, _, _) => s == d }
    // subset construction: a snippet's shingles are a subset of its own
    // doc's, so every self pair that appears must sit at exactly 1.0
    assert(self.nonEmpty)
    self.foreach { case (s, _, ov, n, c) =>
      assert(ov == n && c == 1.0, s"self pair of $s below 1.0: $ov/$n")
    }
    // the asymmetry witness: cross-doc matches exist (shared openings),
    // and there must be at least one self pair whose full-doc Jaccard is
    // BELOW the near-dup bar — containment finds what Jaccard cannot
    assert(rows.exists { case (s, d, _, _, _) => s != d }, "no cross-doc snippet match")
    val docSizes = graft.Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(graft.functions.NativeExprs.wordShingles(col("text"), 3)).cast("long").as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blind = self.count { case (s, _, _, n, _) =>
      // J(snippet, doc) <= n_snip / n_doc_shingles < bar while C = 1.0
      n.toDouble / docSizes(s) < Dedup.NearDupBar
    }
    assert(blind > 0, "corpus has no Jaccard-blind containment case")
  }

  test("fractional decontamination matches an independent in-JVM recomputation") {
    // reimplement the whole pipeline in plain Scala collections from the
    // raw texts — tokenizer, distinct trigrams, corpus df cap, slice
    // rule, eval-side fraction — and require the exact same row set
    val texts = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingles(t: String): Set[String] = {
      val tk = t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val sh = texts.map { case (id, t) => id -> shingles(t) }.toMap
    val df = sh.values.toSeq.flatten.groupBy(identity).map { case (s, v) => s -> v.size }
    val capped = sh.map { case (id, s) => id -> s.filter(df(_) <= 20) }
    val expected = (for {
      (e, es) <- capped if e % 5 == 4 && es.nonEmpty
      (t, ts) <- capped if t % 5 != 4
      ov = (es & ts).size if ov * 2 >= es.size
    } yield (e, t, ov.toLong, es.size.toLong)).toSet
    val got = Dedup.qDecontamFrac(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
  }

  test("leakage-safe split: no dup edge straddles splits; the naive split does") {
    val split = Dedup.qSplitLeakageSafe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = split.map { case (id, _, sp) => id -> sp }.toMap
    val groupOf = split.map { case (id, g, _) => id -> g }.toMap
    // reconstruct the edge set the operator unions: near-dup edges plus
    // exact-fingerprint groups (same definitions the oracles use)
    val near = Dedup.nearDupEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val fps = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.fingerprint(col("text")).as("f"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val exactEdges = fps.groupBy(_._2).values.filter(_.length > 1)
      .flatMap { g => val m = g.map(_._1).min; g.map(_._1).filter(_ != m).map(m -> _) }
    val edges = near ++ exactEdges
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(byDoc(a) === byDoc(b), s"edge ($a,$b) straddles ${byDoc(a)}/${byDoc(b)}")
      assert(groupOf(a) === groupOf(b), s"edge ($a,$b) in different groups")
    }
    // the witness that the operator matters: the per-doc hash rule DOES
    // put at least one linked pair in different splits on this corpus
    def naive(id: Long): String = {
      val k = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).head & 0xff
      if (k < 0x0d) "val" else if (k < 0x1a) "test" else "train"
    }
    assert(
      edges.exists { case (a, b) => naive(a) != naive(b) },
      "corpus has no leaky pair under the naive split — witness lost")
    // group_id is the component minimum, so it is a member of the group
    split.foreach { case (id, g, _) => assert(g <= id) }
  }

  test("temperature sampling flattens the language distribution deterministically") {
    val rows = Sampling.qSampleTemperature(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val langTotals = graft.Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = langTotals.values.min
    // thresholds replay the formula exactly
    rows.foreach { case (_, lang, _, nLang, t) =>
      assert(nLang === langTotals(lang))
      assert(t === math.floor(256.0 * math.sqrt(nMin.toDouble / nLang)).toLong)
    }
    val admitted = rows.groupBy(_._2).map { case (l, v) => l -> v.length.toLong }
    // the smallest language is admitted in full (r = 1)
    val smallest = langTotals.minBy { case (l, n) => (n, l) }._1
    assert(admitted(smallest) === langTotals(smallest))
    // the largest language is actually subsampled, and the admitted
    // ratio between largest and smallest is flatter than the raw ratio
    val largest = langTotals.maxBy { case (l, n) => (n, l) }._1
    assert(admitted(largest) < langTotals(largest))
    val rawRatio = langTotals(largest).toDouble / langTotals(smallest)
    val admittedRatio = admitted(largest).toDouble / admitted(smallest)
    assert(admittedRatio < rawRatio, s"not flattened: $admittedRatio vs $rawRatio")
  }

  test("embedding outliers match an exact in-JVM integer recomputation") {
    val embs = graft.Tables.embeddings(spark, sfDir)
      .select(
        col("vec_id").cast("long"),
        col("label").cast("long"),
        col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val micro = embs.map { case (id, l, v) =>
      (id, l, v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong))
    }
    val byLabel = micro.groupBy(_._2)
    val expected = byLabel.toSeq.flatMap { case (l, vs) =>
      val dim = vs.head._3.length
      val mu = Array.tabulate(dim) { i =>
        math.floor(vs.map(_._3(i)).sum.toDouble / vs.length).toLong
      }
      val d2 = vs.map { case (id, _, v) =>
        (id, v.zip(mu).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      d2.sortBy { case (id, dd) => (-dd, id) }.take(3).zipWithIndex
        .map { case ((id, dd), i) => (l, (i + 1).toLong, id, dd) }
    }.toSet
    val got = Similarity.qEmbedOutliers(spark, sfDir).collect()
      .map(r => (
        r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue, r.getAs[Number](3).longValue)).toSet
    assert(got === expected)
  }

  test("corpus report totals are consistent and shares sum to ~1e6") {
    val rows = TextOps.qCorpusReport(spark, sfDir).collect()
    val total = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum === total)
    rows.foreach { r =>
      assert(r.getLong(6) === r.getLong(1) - r.getLong(5), "n_exact_dup identity")
      assert(r.getLong(4) >= 1 && r.getLong(4) <= 5, "n_langs in corpus range")
    }
    val shares = rows.map(_.getLong(7)).sum
    // each share floors, so the sum sits within nsources of 1e6
    assert(shares > 1000000L - rows.length && shares <= 1000000L)
  }

  test("gopher repetition battery matches an independent position-set recomputation") {
    // different algorithm: regex tokenization, occurrence lists grouped
    // per gram, covered positions as a Set union — vs the kernel's
    // boolean-array single pass
    val texts = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def toksOf(t: String): Array[String] =
      t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    def expected(t: String): (Long, Long, Long, Long, Long) = {
      val tk = toksOf(t)
      val tot = tk.map(_.length.toLong).sum
      def dup(n: Int): Long =
        if (tk.length < n) 0L
        else {
          val occ = tk.sliding(n).zipWithIndex.toSeq
            .groupBy(_._1.mkString(" ")).values.filter(_.size >= 2)
          val covered = occ.flatMap(_.flatMap { case (_, i) => i until i + n }).toSet
          covered.toSeq.map(tk(_).length.toLong).sum
        }
      val top2 =
        if (tk.length < 2) 0L
        else {
          val cnts = tk.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity)
            .map { case (g, v) => g -> v.size }
          val (g, c) = cnts.minBy { case (g, c) => (-c, g) }
          c.toLong * (g.length - 1)
        }
      (tot, top2, dup(2), dup(3), dup(4))
    }
    val got = TextOps.qGopherRep(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) === expected(t), s"doc $id")
    }
  }

  test("gopher battery counts code points, not UTF-16 units") {
    // '𝕏' (U+1D54F) is two UTF-16 units but ONE code point — DuckDB's
    // length() counts code points, so the kernel must too, or any
    // supplementary-plane document breaks the q_gopher_rep oracle.
    import spark.implicits._
    val xx = "𝕏𝕏" // two astral chars = 2 code points
    val text = s"$xx a b $xx a b"
    val r = Seq((1L, text)).toDF("doc_id", "text")
      .select(graft.functions.NativeExprs.gopherRep(col("text")).as("g"))
      .select("g.*")
      .collect()(0)
    // tokens [xx a b xx a b]: 2+1+1+2+1+1 = 8 code points
    assert(r.getLong(0) === 8L, "n_tok_chars")
    // every position is covered by a duplicate bigram AND trigram
    assert(r.getLong(2) === 8L, "dup2_chars")
    assert(r.getLong(3) === 8L, "dup3_chars")
    assert(r.getLong(4) === 0L, "dup4_chars")
    // tie at count 2 between 'a b' and 'xx a'; code-point order picks
    // 'a b' → 2 occurrences × 2 token code points
    assert(r.getLong(1) === 4L, "top2_chars")
  }

  test("surprisal bits equal digit-length arithmetic on exact corpus counts") {
    val texts = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)
        .toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSeq)
    val freq = texts.flatMap(_._2).groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val n = freq.values.sum
    def bits(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val got = TextOps.qSurprisal(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.filter(_._2.nonEmpty).foreach { case (id, tk) =>
      val sumBits = tk.map(t => bits(n) - bits(freq(t))).sum
      assert(got(id) === ((tk.length.toLong, sumBits)), s"doc $id")
    }
  }

  test("hash sampling matches an independent JVM md5 admission check") {
    // Membership must be a pure function of doc_id — recompute the
    // admission byte with java.security.MessageDigest and compare the
    // full admitted set (threshold per source as in the operator).
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect().map(r => (r.getLong(0), r.getString(1)))
    def admitKey(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(id.toString.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    }
    def threshold(src: String): String = {
      val n = src.stripPrefix("src").toInt
      if (n <= 4) "20" else if (n <= 9) "80" else "c0"
    }
    val expected = docs.collect {
      case (id, src) if admitKey(id) < threshold(src) => (id, src)
    }.toSet
    val got = Sampling.qSampleMix(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.size < docs.length, "sampling admitted nothing or everything")
  }

  test("BPE pair counts match an independent in-JVM adjacent-pair count") {
    val texts = graft.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      val toks = t.toLowerCase.split("[\\s]+").filter(_.nonEmpty)
      toks.iterator.zip(toks.iterator.drop(1)).foreach { case (a, b) =>
        val p = s"$a $b"; counts(p) = counts.getOrElse(p, 0L) + 1L
      }
    }
    val want = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(30)
    val got = TextOps.qBpePairs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("bigram novelty matches an independent doc-frequency computation") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perDoc = docs.map { case (id, t) =>
      val toks = t.toLowerCase.split("[\\s]+").filter(_.nonEmpty)
      id -> toks.iterator.zip(toks.iterator.drop(1)).map { case (a, b) => s"$a $b" }.toSet
    }.filter(_._2.nonEmpty)
    val df = perDoc.flatMap(_._2).groupBy(identity).map { case (b, xs) => b -> xs.length }
    val want = perDoc.map { case (id, bs) =>
      (id, bs.size.toLong, bs.count(df(_) == 1).toLong)
    }.sortBy(_._1).toSeq
    val got = TextOps.qBigramNovelty(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(want.map(_._3).sum > 0, "no novel bigrams anywhere — vacuous fixture")
  }

  test("global sort output is totally ordered across partition boundaries") {
    // The oracle hash is order-insensitive, so the ordering guarantee —
    // the entire point of the operator — is asserted here on the collected
    // rows (collect preserves partition order, partitions are ranges).
    val rows = Relational.qGlobalSort(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    assert(rows.length > 1)
    assert(rows.sameElements(rows.sorted), "collected rows are not globally sorted")
  }

  test("resampled hourly grid is dense: one row per hour per type, gaps zero-filled") {
    val rows = Relational.qResampleHourly(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byType = rows.groupBy(_._1)
    byType.foreach { case (et, rs) =>
      val hours = rs.map(_._2).sorted
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      val first = java.time.LocalDateTime.parse(hours.head, fmt)
      val last = java.time.LocalDateTime.parse(hours.last, fmt)
      val expected = java.time.Duration.between(first, last).toHours + 1
      assert(rs.length.toLong === expected,
        s"$et: ${rs.length} grid rows but ${expected} hours between bounds")
    }
    assert(rows.exists(_._3 == 0L), "no zero-filled gap anywhere — vacuous fixture")
  }

  test("token-budget cut keeps a prefix: cum_tokens is the running sum and never exceeds the budget") {
    val rows = Sampling.qTokenBudget(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 <= 800L), "a row exceeds the token budget")
  }

  test("sequence packing bins are contiguous per source and only the last may be under-full") {
    val packed = Sampling.qPackSequences(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packed.nonEmpty)
    packed.groupBy(_._1).foreach { case (src, bins) =>
      val ids = bins.map(_._2).sorted
      assert(ids.head === 0L && ids === (0L until ids.length).toArray.map(identity),
        s"$src: bin ids not contiguous from 0: ${ids.toSeq}")
      // every bin except the last must have reached the cap boundary:
      // its token sum plus nothing can leave a gap ≥ the next doc —
      // equivalently cumulative fill through bin i is ≥ (i+1)*cap for
      // all but the final bin
      val byBin = bins.sortBy(_._2).map(_._4)
      val cums = byBin.scanLeft(0L)(_ + _).drop(1)
      cums.dropRight(1).zipWithIndex.foreach { case (c, i) =>
        assert(c >= (i + 1) * 512L, s"$src: bin $i closed under-full at $c tokens")
      }
    }
  }

  test("BM25 matches an independent in-JVM scorer") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val terms = Seq("spark", "table", "query")
    // Locale.ROOT to match the Tokens kernel (a Turkish-default JVM would
    // dot-shift 'I' under bare toLowerCase)
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase(java.util.Locale.ROOT).split("[\\s]+").filter(_.nonEmpty)
    }
    val n = toks.length.toLong
    val sumLen = toks.map(_._2.length.toLong).sum
    val df = terms.map(t => t -> toks.count(_._2.contains(t)).toLong).toMap
    val want = toks.flatMap { case (id, tk) =>
      val dl = tk.length.toLong
      val raw = terms.map { t =>
        val tf = tk.count(_ == t).toDouble
        if (tf == 0 || df(t) == 0) 0.0
        else math.log(1 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
          tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl * n / sumLen.toDouble))
      }.sum
      if (raw > 0) Some(id -> raw) else None
    }.toMap
    val got = TextOps.qBm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == math.min(20, want.size))
    // scores compared with a tolerance of one rounding unit: this test's
    // fixed-order summation is a THIRD independent float order (beyond
    // Spark's and DuckDB's), so exact floor-boundary equality would be a
    // flake window, not a correctness signal
    got.foreach { case (id, s) =>
      assert(want.contains(id), s"doc $id not scored by the oracle")
      assert(math.abs(s - want(id)) <= 1e-4 + 1e-9, s"doc $id: $s vs raw ${want(id)}")
    }
    assert(want.nonEmpty, "no document matches any query term — vacuous fixture")
    // the returned set must be the oracle's top-20 up to rounding ties at
    // the cutoff: every returned score >= the oracle's 20th-best - 1e-4
    val cutoff = want.values.toSeq.sortBy(-_).take(got.length).last
    got.foreach { case (id, s) =>
      assert(s >= cutoff - 1e-4, s"doc $id score $s below the top-20 cutoff $cutoff")
    }
    // the ORDER BY contract (score desc, doc_id asc) — deterministic on
    // the engine's own rounded output, so no float-order flake window
    val ordKeys = got.map { case (id, s) => (-s, id) }
    assert(ordKeys.sameElements(ordKeys.sorted), s"output not ordered: ${got.toSeq}")
  }

  test("hybrid search candidates share a query keyword; cosines are descending") {
    val kw = TextOps.qTfidf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val queryTerms = kw.filter(_._1 == 0L).map(_._2).toSet
    assert(queryTerms.nonEmpty, "query doc has no keywords — vacuous")
    val blocked = kw.filter { case (id, t) => id != 0L && queryTerms(t) }.map(_._1).toSet
    val got = Similarity.qHybridSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.nonEmpty)
    assert(got.forall { case (id, _) => blocked(id) },
      s"hybrid returned a doc outside the keyword block: ${got.toSeq}")
    assert(got.map(_._2).sameElements(got.map(_._2).sortBy(-_)), "cosines not descending")
  }

  test("triangle counts match an exact in-JVM enumeration") {
    // independent recomputation — the DuckDB oracle is a structural twin
    // of the same joins, so a shared construction error would pass it
    val texts = graft.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val tk = t.toLowerCase(java.util.Locale.ROOT).split("[\\s]+").filter(_.nonEmpty)
      tk.iterator.zip(tk.iterator.drop(1)).foreach { case (x, y) =>
        if (x != y) {
          val k = if (x < y) (x, y) else (y, x)
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + 1L
        }
      }
    }
    val und = pairCounts.filter(_._2 >= 40).keys.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val counts = scala.collection.mutable.Map.empty[String, Long]
    // brute-force a<b<c enumeration, independent of the join construction
    for {
      a <- nodes; b <- nodes if a < b && und((a, b))
      c <- nodes if b < c && und((b, c)) && und((a, c))
    } Seq(a, b, c).foreach(n => counts(n) = counts.getOrElse(n, 0L) + 1L)
    val want = counts.toSeq.sortBy(_._1)
    val got = TextOps.qTriangles(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, s"got=$got want=$want")
    assert(want.nonEmpty, "no triangles anywhere — vacuous graph")
  }

  test("prefix filtering shrinks the candidate set and loses no qualifying pair") {
    // sf0.01 (the suite default corpus has no qualifying pairs): the
    // PPJoin result must equal the full-inverted-index edge set AT THE
    // SAME adaptive cap exactly — two different candidate generators,
    // one pair set — while generating strictly fewer candidate pairs
    val d = "/root/testdata/sf0.01"
    val got = Dedup.qPrefixJaccard(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full-index generator over the SAME adaptive capped sets
    val capped = Dedup.cappedShinglesAdaptive(spark, d).cache()
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val want = capped.as("a")
      .join(capped.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      // the SAME bar qPrefixJaccard verifies at — a literal here would
      // silently drift if the shared constant moved
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= Dedup.NearDupBar)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, s"prefix join diverged: extra=${got -- want} missing=${want -- got}")
    assert(got.nonEmpty, "no qualifying pairs — vacuous equality")
    // candidate volumes: prefix self-join vs full-index self-join (capped
    // carries the df column the rarity ranking reads)
    val prefix = Dedup.prefixShingles(capped)
    def pairCount(rows: org.apache.spark.sql.DataFrame): Long = rows.as("a")
      .join(rows.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val (pc, fc) = (pairCount(prefix), pairCount(capped))
    capped.unpersist()
    assert(pc < fc, s"prefix candidates ($pc) not smaller than full-index candidates ($fc)")
  }

  test("degree orientation bounds wedge candidates on a hub graph") {
    // One hot node ("hub") with 200 spokes plus a single spoke-spoke edge
    // (the lone triangle). Naive wedge enumeration centers C(200,2)=19900
    // candidates at the hub; under degree orientation every hub edge
    // points INTO the hub (spokes have degree ≤ 2), so the hub centers
    // zero wedges and exactly ONE candidate exists in the whole graph —
    // the Σ deg² stopword-hub blowup the 100 TB graph would otherwise hit.
    import spark.implicits._
    val spokes = (1 to 200).map(i => f"s$i%03d")
    val und = (spokes.map(sp => ("hub", sp)) :+ ("s001", "s002"))
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .toDF("src", "dst")
    val dir = TextOps.orientByDegree(und)
    // orientation total: every edge directed exactly once
    assert(dir.count() === 201L)
    // hub centers no wedges; the only candidate is s001 -> (s002, hub)
    val wedges = TextOps.orientedWedges(dir)
    assert(wedges.count() === 1L, "hub graph must yield exactly one wedge candidate")
    val w = wedges.collect().head
    assert((w.getString(0), w.getString(1), w.getString(2)) === (("s001", "s002", "hub")))
  }

  test("integer PageRank matches an exact in-JVM recomputation") {
    // integer arithmetic end to end → the recomputation must match
    // EXACTLY, not within a tolerance
    val texts = graft.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val tk = t.toLowerCase(java.util.Locale.ROOT).split("[\\s]+").filter(_.nonEmpty)
      tk.iterator.zip(tk.iterator.drop(1)).foreach { case (a, b) =>
        if (a != b) {
          val k = if (a < b) (a, b) else (b, a)
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + 1L
        }
      }
    }
    val und = pairCounts.filter(_._2 >= 40).keys.toSeq
    val edges = und ++ und.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    var r: Map[String, Long] = deg.map { case (n, _) => n -> 1000000L }.toMap
    // the same convergence rule as the query: first iteration where no
    // node moved by more than PrTolMicro, capped at PrMaxIters
    var it = 0
    var moved = true
    while (moved && it < TextOps.PrMaxIters) {
      val in = scala.collection.mutable.Map.empty[String, Long]
      edges.foreach { case (src, dst) =>
        in(dst) = in.getOrElse(dst, 0L) + r(src) / deg(src)
      }
      val next = in.map { case (n, s) => n -> (150000L + 85L * s / 100L) }.toMap
      moved = next.exists { case (n, v) => math.abs(v - r(n)) > TextOps.PrTolMicro }
      r = next
      it += 1
    }
    assert(it < TextOps.PrMaxIters, s"PageRank hit the iteration cap ($it) without converging")
    val want = r.toSeq.sortBy { case (n, v) => (-v, n) }
    val got = TextOps.qPagerank(spark, sfDir).collect()
      .map(row => (row.getString(0), row.getLong(1))).toSeq
    assert(got == want, s"got=$got want=$want")
    assert(got.map(_._2).distinct.length >= 2, "all ranks equal — vacuous graph")
  }

  test("PII redaction is idempotent: a second pass finds zero matches") {
    // The replacement tokens must not themselves re-match either pattern
    // (e.g. an IP-like fragment surviving inside a longer run).
    val firstPass = TextOps.qPiiRedact(spark, sfDir).collect()
    assert(firstPass.exists(_.getLong(1) > 0) && firstPass.exists(_.getLong(2) > 0))
    // rebuild the redacted text exactly as the operator does and rescan
    val leftovers = graft.Tables.documents(spark, sfDir)
      .select(regexp_replace(
        regexp_replace(TextOps.piiDerived, TextOps.emailRe, "<EMAIL>"),
        TextOps.ipRe, "<IP>").as("r"))
      .select(sum(regexp_count(col("r"), lit(TextOps.emailRe)) +
        regexp_count(col("r"), lit(TextOps.ipRe))))
      .collect()(0).getLong(0)
    assert(leftovers === 0L)
  }

  test("DSIR votes separate a planted two-vocabulary corpus") {
    // The whole point of the importance weight is discrimination, but
    // the synthetic corpus draws every lang from ONE vocabulary, so the
    // real-data query can only be pinned for arithmetic (its DuckDB
    // oracle). The semantic claim needs planted structure: docs written
    // in vocabulary A vs vocabulary B, target = the A slice — every
    // A-doc must be admitted, every B-doc rejected. A sign flip or
    // swapped target/raw counts fails this loudly.
    import spark.implicits._
    def doc(id: Long, vocab: Seq[String]): (Long, String, Boolean) = {
      // deterministic word mix per doc: cycle the vocab from offset id
      val words = (0 until 40).map(k => vocab(((id + k) % vocab.size).toInt))
      (id, words.mkString(" "), id < 50)
    }
    val vocabA = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val vocabB = Seq("uno", "dos", "tres", "cuatro", "cinco", "seis")
    val docs = ((0L until 50L).map(doc(_, vocabA)) ++ (50L until 100L).map(doc(_, vocabB)))
      .toDF("doc_id", "text", "is_a")
    val got = Sampling.dsirVotes(docs, col("is_a")).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    (0L until 100L).foreach { id =>
      val want = if (id < 50) 1L else 0L
      assert(got(id) === want, s"doc $id admitted=${got(id)}")
    }
  }

  test("CC local-contraction pre-pass: exact labels when components straddle partitions") {
    import spark.implicits._
    // a 100-node path (worst case for contraction quality), a 12-clique
    // (the shape contraction exists FOR), and an isolated edge — shuffled
    // across 7 partitions so every local union-find sees fragments only
    val path = (0L until 100L).map(i => (i, i + 1))
    val clique = for (i <- 0 until 12; j <- i + 1 until 12) yield (1000L + i, 1000L + j)
    val iso = Seq((5000L, 5001L))
    val pairs = spark.createDataset(new scala.util.Random(42).shuffle((path ++ clique ++ iso).toSeq))
      .toDF("da", "db")
      .repartition(7)
    val got = Dedup.ccLabelsFrom(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (0L to 100L).map(_ -> 0L) ++
      (0 until 12).map(i => (1000L + i) -> 1000L) ++
      Seq(5000L -> 5000L, 5001L -> 5000L)
    assert(got === want.toMap)
  }

  test("observed pipeline-clean metrics equal an independent aggregation, zero extra scan") {
    val obs = org.apache.spark.sql.Observation("clean_metrics")
    val df = Dedup.pipelineCleanObserved(spark, sfDir, obs)
    val rows = df.collect() // the one action; metrics ride it
    val got = obs.get
    assert(got("n_survivors") === rows.length.toLong)
    assert(got("chars_kept") === rows.map(_.getLong(3)).sum)
    assert(got("min_doc") === rows.map(_.getLong(0)).min)
    assert(got("max_doc") === rows.map(_.getLong(0)).max)
  }

  test("CC on an empty edge set stays empty through the contraction path") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(Dedup.ccLabelsFrom(empty).collect().isEmpty)
  }

  test("star-contraction CC matches min-label propagation; logarithmic on a path graph") {
    import spark.implicits._
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same fixpoint on the real near-dup graph — two genuinely different
    // algorithms agreeing on every (id, label)
    val pairs = Dedup.nearDupEdges(spark, sfDir)
    val (star, _) = Dedup.ccLabelsStarFrom(pairs)
    assert(labelSet(star) === labelSet(Dedup.ccLabelsFrom(pairs)))
    // the case star contraction exists FOR: a 256-node path (diameter
    // 255). Min-label walks it one hop per round; the alternating stars
    // must collapse it in logarithmically few rounds.
    val path = (0L until 255L).map(i => (i, i + 1)).toDF("da", "db")
    val (starP, rounds) = Dedup.ccLabelsStarFrom(path)
    val got = labelSet(starP)
    assert(got === (0L until 256L).map(i => (i, 0L)).toSet)
    assert(rounds <= 12, s"star contraction took $rounds rounds on a 256-path")
  }

  test("trigram lang-ID learns real char-level signal: planted corpus classifies UNSEEN docs perfectly") {
    import spark.implicits._
    // two synthetic "languages" over disjoint character sets — the
    // deployment case the classifier exists for (the shared-vocabulary
    // main corpus caps ANY content classifier at chance out of sample;
    // see qLangIdEval's scaladoc). Train and eval docs are disjoint:
    // eval words are combinations never seen in training, so a correct
    // prediction must come from the char-trigram PROFILES, not doc or
    // word memorization.
    val aChars = "abcdefg"
    val bChars = "stuvwxy"
    def word(alpha: String, i: Int): String =
      (0 until 4).map { k =>
        alpha((i / math.pow(alpha.length, k).toInt) % alpha.length)
      }.mkString
    def doc(alpha: String, j: Int): String =
      (0 until 8).map(k => word(alpha, j * 3 + k)).mkString(" ")
    val train = ((0 until 30).map(j => (s"ta$j", "aa", doc(aChars, j))) ++
      (0 until 30).map(j => (s"tb$j", "bb", doc(bChars, j))))
      .toDF("doc_id", "lang", "text")
    val model = TextOps.langIdModelRows(spark, train).collect()
    val eval = ((0 until 10).map(j => (s"ea$j", "aa", doc(aChars, 300 + j))) ++
      (0 until 10).map(j => (s"eb$j", "bb", doc(bChars, 300 + j))))
      .toDF("doc_id", "lang", "text")
    val (scored, langs) = TextOps.langIdScored(eval, model)
    assert(langs === Seq("aa", "bb"))
    val rows = scored.select("lang", "predicted", "aa_score", "bb_score").collect()
    assert(rows.length === 20)
    for (r <- rows) {
      assert(r.getString(0) === r.getString(1),
        s"out-of-sample misclassification: $r")
      // the decision should be by a wide margin, not a coin flip
      val (a, b) = (r.getLong(2), r.getLong(3))
      assert(math.abs(a - b) > LidMarginFloor, s"margin too thin: $r")
    }
  }

  /** Disjoint char sets: every trigram scores top-K in its own language
    * and the unseen floor in the other — margins are thousands of
    * centinats, so anything under this floor means the model broke. */
  private val LidMarginFloor = 100000L

  test("BPE training matches hand-computed merges on a planted vocabulary") {
    import spark.implicits._
    // The classic worked example: merges + counts are hand-derivable.
    val planted = Seq(
      ("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L), ("hugs", 5L))
      .toDF("w", "freq")
    val got = TextOps.bpeTrainFrom(spark, planted, 8)
    val expected = Seq(
      (1L, "u", "g", 20L), (2L, "u", "n", 16L), (3L, "h", "ug", 15L),
      (4L, "p", "un", 12L), (5L, "hug", "s", 5L), (6L, "p", "ug", 5L),
      (7L, "b", "un", 4L)) // round 8 finds no pair — early stop
    assert(got === expected, s"planted merges diverge: $got")
    // overlap semantics: 'aaaa' has 3 adjacent (a,a) positions; the
    // greedy non-overlapping pass then tiles it as [aa, aa]
    val overlap = TextOps.bpeTrainFrom(spark, Seq(("aaaa", 1L)).toDF("w", "freq"), 8)
    assert(overlap === Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)),
      s"overlap merges diverge: $overlap")
  }

  test("collected-vocab BPE trainer agrees with the distributed loop and exhausts") {
    // qBpeTrainFull's in-JVM incremental-pair-count loop must be
    // merge-for-merge identical to the distributed bpeTrainFrom where
    // the two overlap, and actually run to pair exhaustion at depth.
    val planted = Array(("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L), ("hugs", 5L))
    val expected = Seq(
      (1L, "u", "g", 20L), (2L, "u", "n", 16L), (3L, "h", "ug", 15L),
      (4L, "p", "un", 12L), (5L, "hug", "s", 5L), (6L, "p", "ug", 5L),
      (7L, "b", "un", 4L))
    assert(TextOps.bpeTrainCollected(planted, 8) === expected,
      "collected trainer diverges on the planted vocabulary")
    // greedy-overlap semantics must match the HOF fold
    assert(TextOps.bpeTrainCollected(Array(("aaaa", 1L)), 8) ===
      Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))

    // supplementary characters: the in-JVM split must be by CODE POINT
    // like Spark's split(w,'') — toCharArray would shear 😀 (U+1F600)
    // into lone surrogates and learn different (unrepresentable) merges
    import spark.implicits._
    val emoji = new String(Character.toChars(0x1F600))
    val nonBmp = Array((s"a${emoji}b", 3L))
    val gotNb = TextOps.bpeTrainCollected(nonBmp, 8)
    val wantNb = TextOps.bpeTrainFrom(
      spark, Seq((s"a${emoji}b", 3L)).toDF("w", "freq"), 8)
    assert(gotNb === wantNb,
      s"non-BMP merges diverge: jvm=$gotNb distributed=$wantNb")
    assert(gotNb.head._2 == "a" && gotNb.head._3 == emoji,
      s"first merge must pair 'a' with the WHOLE emoji: $gotNb")

    // real corpus: the full trainer's first 8 rules == the distributed
    // 8-round (oracle-gated) table — same wordcount, same tie-breaks
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val full = rows(TextOps.qBpeTrainFull(spark, sfDir))
    assert(full.take(8) === rows(TextOps.qBpeTrain(spark, sfDir)),
      "full trainer's 8-rule prefix diverges from the distributed loop")

    // exhaustion: 32k rounds is far past this corpus's vocabulary, so
    // the loop must stop early with every type fully merged
    assert(full.size < 32768, "trainer did not stop at pair exhaustion")
    val types = graft.Tables.documents(spark, sfDir)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .distinct().collect().map(_.getString(0))
    types.foreach { w =>
      val end = full.foldLeft(w.split("").filter(_.nonEmpty)) {
        case (syms, (_, a, b, _)) => TextOps.mergePassJvm(syms, a, b)
      }
      assert(end.length == 1, s"type '$w' not fully merged at exhaustion: ${end.toSeq}")
    }
  }

  test("corpus build: shard files bind to shard ids, manifest matches files, " +
    "and a rerun over a crashed job's debris converges to exactly-once content") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-corpus-").toString
    val manifest = Dedup.buildCorpusTo(spark, sfDir, out).collect()
    // manifest totals agree with the files on disk
    val back = spark.read.format("graft-kv").load(out)
      .select(col("key").cast("long").as("doc_id"))
    val nKept = manifest.map(_.getAs[Long]("n_docs_kept")).sum
    assert(back.count() === nKept, "manifest kept-count diverges from written files")
    assert(manifest.head.getAs[Long]("survivors_observed") === nKept,
      "observe metric diverges from the written survivor count")
    // quota apportionment is exact: Σ quota = budget
    assert(manifest.map(_.getAs[Long]("quota_tokens")).sum === 1000000L)
    // physical binding: file part-...-pNNNNN holds exactly shard NNNNN
    // (spot-check: every read-back doc's assigned shard == its file id)
    val survivors = Dedup.qPipelineClean(spark, sfDir).select("doc_id")
    assert(back.join(survivors, Seq("doc_id"), "left_anti").isEmpty &&
      survivors.join(back, Seq("doc_id"), "left_anti").isEmpty,
      "written docs != pipeline survivors")

    // crashed-job debris: a stale committed shard from a dead job plus
    // its orphaned staging dir. The rerun must truncate the stale shard,
    // commit fresh content exactly once, and leave the FOREIGN staging
    // dir alone (a concurrent job's staged files are not ours to delete).
    val stale = new java.io.File(out, "part-0000000000000-deadbeef-p00099")
    java.nio.file.Files.writeString(stale.toPath, "999999 junk stale row\n")
    val deadStage = new java.io.File(out, "_temp/deadtoken")
    deadStage.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(deadStage, "p0-t0").toPath, "888888 staged never committed\n")
    val manifest2 = Dedup.buildCorpusTo(spark, sfDir, out).collect()
    assert(manifest2.toSeq.map(_.toString) === manifest.toSeq.map(_.toString),
      "rerun manifest diverged")
    val back2 = spark.read.format("graft-kv").load(out)
      .select(col("key").cast("long").as("doc_id")).as[Long].collect().sorted
    assert(back2.toSeq === survivors.as[Long].collect().sorted.toSeq,
      "rerun content not exactly-once (stale shard leaked or rows lost)")
    assert(!back2.contains(999999L) && !back2.contains(888888L))
    assert(new java.io.File(deadStage, "p0-t0").exists(),
      "foreign staging dir was deleted — concurrent-job safety violated")
  }

  test("IVF retraction rewrites ONLY victim cells' partitions — no rebuild") {
    import spark.implicits._
    val tbl = "graft_ivf_forget_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val warehouse = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val tblDir = new java.io.File(warehouse, tbl)
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmAll); f.delete()
    }
    if (tblDir.exists()) rmAll(tblDir)
    // planted 4-cell index: victims 1 and 5 both live in cell 1
    (0L until 40L).map(i => (i, Seq.fill(4)(i.toFloat), (i % 4).toInt))
      .toDF("vec_id", "v", "cell")
      .write.partitionBy("cell").saveAsTable(tbl)
    def files(): Map[String, Set[(String, Long, Long)]] =
      tblDir.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().filter(_.isFile)
          .map(f => (f.getName, f.length(), f.lastModified())).toSet
      }.toMap
    val before = files()
    val deleted = Similarity.forgetFromIndex(spark, tbl, Seq(1L, 5L).toDF("vec_id"))
    assert(deleted === 2L)
    val after = files()
    // the no-rebuild property, at the FILE level: untouched cells keep
    // byte-identical files (same names, sizes, mtimes); only the victim
    // cell was rewritten
    for (c <- Seq("cell=0", "cell=2", "cell=3"))
      assert(before(c) === after(c), s"untouched partition $c was rewritten")
    assert(before("cell=1") !== after("cell=1"), "victim cell not rewritten")
    // content: victims gone, every survivor intact
    assert(spark.table(tbl).select("vec_id").as[Long].collect().toSet ===
      (0L until 40L).toSet -- Set(1L, 5L))
    // and the survivor read itself prunes to victim-cell directories
    val p = spark.table(tbl).filter(col("cell") === 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"victim-cell scan not partition-pruned:\n$p")
    // idempotence: forgetting an already-forgotten set touches nothing
    assert(Similarity.forgetFromIndex(spark, tbl, Seq(1L, 5L).toDF("vec_id")) === 0L)

    // FULLY-victim cell: every row of cell 2 is a victim, so the dynamic
    // overwrite has zero survivor rows for that partition and would never
    // rewrite it — the partition must be dropped explicitly, not retained.
    val preDrop = files()
    val cell2 = (0L until 40L).filter(_ % 4 == 2)
    assert(Similarity.forgetFromIndex(spark, tbl, cell2.toDF("vec_id")) ===
      cell2.size.toLong)
    val postDrop = files()
    assert(spark.table(tbl).filter(col("cell") === 2).count() === 0L,
      "fully-victim cell retained rows (silent data retention)")
    assert(!postDrop.contains("cell=2") || postDrop("cell=2").isEmpty,
      "fully-victim cell's files still on disk")
    for (c <- Seq("cell=0", "cell=3")) // cell=1 was rewritten earlier
      assert(preDrop(c) === postDrop(c), s"untouched partition $c was rewritten")
    assert(spark.table(tbl).select("vec_id").as[Long].collect().toSet ===
      (0L until 40L).toSet -- Set(1L, 5L) -- cell2.toSet)
  }

  test("index retraction propagates to a refreshed streaming ANN gate") {
    // the retraction ↔ admission integration: forgetFromIndex rewrites
    // the stored cell-partitioned index, and a streaming gate REFRESH
    // (new query over a fresh corpus frame — the documented blue/green
    // swap; a RUNNING gate keeps its cached frozen snapshot by design)
    // must stop matching the retracted vector while routing and the
    // other corpus vectors stay intact
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val tbl = "graft_ann_forget_gate_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val leftover = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    if (leftover.exists()) rm(leftover)
    Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),   // centroid 0 (must survive — routing)
      (1L, Seq(0f, 1f, 0f, 0f), 1),   // centroid 1
      (2L, Seq(0.9f, 0.1f, 0f, 0f), 0), // the victim
      (3L, Seq(0.1f, 0.9f, 0f, 0f), 1))
      .toDF("vec_id", "v", "cell")
      .write.partitionBy("cell").saveAsTable(tbl)
    def gate(name: String): Seq[(Long, Long)] = {
      val corpus = spark.table(tbl).select("vec_id", "v")
      val source = MemoryStream[(Long, Timestamp, Seq[Float])]
      val stream = source.toDF().toDF("vec_id", "ts", "v")
      val q = graft.streaming.StreamingDedup
        .annAgainstIndex(stream, corpus, nCells = 2, nProbes = 2)
        .writeStream.format("memory").queryName(name).start()
      try {
        source.addData(
          (100L, new Timestamp(1700000000000L), Seq(0.9f, 0.1f, 0f, 0f)),  // ≈ vec 2
          (101L, new Timestamp(1700000060000L), Seq(0.1f, 0.9f, 0f, 0f)))  // ≈ vec 3
        q.processAllAvailable()
        spark.table(name).collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      } finally q.stop()
    }
    val pre = gate("sann_forget_pre")
    assert(pre.contains((100L, 2L)), s"victim not matched before retraction: $pre")
    assert(pre.contains((101L, 3L)), s"control vector not matched: $pre")
    assert(Similarity.forgetFromIndex(spark, tbl, Seq(2L).toDF("vec_id")) === 1L)
    val post = gate("sann_forget_post")
    assert(!post.exists(_._2 == 2L),
      s"retracted vector still matched by a refreshed gate: $post")
    assert(post.contains((101L, 3L)),
      s"retraction disturbed an untouched corpus vector: $post")
  }

  test("corpus refresh reconciles with the incremental admission it reports on") {
    // the refresh card and the admission query share one drop-set
    // definition — the card's per-source admitted counts must sum to
    // exactly the admission query's row count, and the after-total must
    // be the before-total plus the admitted mass (integer arithmetic)
    val refresh = Dedup.qCorpusRefresh(spark, sfDir).collect()
    val admitted = Dedup.qDedupIncremental(spark, sfDir).count()
    assert(refresh.map(_.getAs[Long]("n_admitted")).sum === admitted)
    for (r <- refresh) {
      assert(r.getAs[Long]("n_admitted") <= r.getAs[Long]("n_batch"))
      assert(r.getAs[Long]("corpus_tokens_after") ===
        r.getAs[Long]("corpus_tokens") + r.getAs[Long]("tokens_admitted"))
    }
    // daily-cost-∝-batch as a plan property: admission probes the stored
    // index tables, corpus totals come from the stored base table, and
    // EVERY documents scan left in the plan is batch-sliced (% 5 = 4) —
    // a corpus-side rescan would surface as an unsliced or negated scan
    // (same guard idiom as the incremental-dedup probe)
    val p = Dedup.qCorpusRefresh(spark, sfDir).queryExecution.executedPlan.toString
    for (t <- Seq("graft_inc_sh", "graft_inc_fp", "graft_refresh_base"))
      assert(p.contains(t), s"stored table $t not in refresh plan:\n$p")
    val docScans = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("documents.parquet"))
      .toSeq
    assert(docScans.nonEmpty, s"no documents scan at all?\n$p")
    docScans.foreach { l =>
      assert(l.contains("% 5) = 4") && !l.contains("NOT ("),
        s"corpus-side (unsliced) documents scan in refresh plan:\n$l")
    }
  }

  test("fertility falls back to character-level pieces for words missing from the piece map") {
    // the beyond-64k-cap regime, planted: the trained map covers only
    // "aa"; "bb" (2 chars) and "ccc" (3 chars) must contribute their
    // code-point counts — the SentencePiece coverage fallback — so the
    // card covers the same word set the DuckDB companion counts
    import spark.implicits._
    val docs = Seq(("s1", "aa bb ccc"), ("s2", "aa aa")).toDF("source", "text")
    val pieces = Seq(("aa", 1L)).toDF("w", "n_sub")
    val got = TextOps.fertilityOf(docs, pieces).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // s1: 3 words, subtokens 1 (aa) + 2 (bb fallback) + 3 (ccc fallback) = 6, chars 7
    // s2: 2 words, subtokens 1 + 1 = 2, chars 4
    assert(got === Seq(("s1", 3L, 6L, 7L), ("s2", 2L, 2L, 4L)))
  }

  test("unigram-LM trainer matches hand-computed EM/prune on a planted vocabulary") {
    // types: abab×10, ab×5. Seed substrings (occurrence-weighted):
    // a=25, b=25, ab=25, ba=10, aba=10, bab=10, abab=10. Round 1
    // (T=115): 'abab' → [abab] (10·115 > 25², exact cross-multiply),
    // 'ab' → [ab]. Every later round preserves that segmentation, so
    // counts settle at abab=10, ab=5, rest 0; pruning (keep
    // max(target, 4/5·n), rank cnt DESC then UTF-8) drops bab, ba, aba
    // over three stages down to targetMulti=2. Single chars survive at
    // count 0 (coverage).
    val types = Array(("abab", 10L), ("ab", 5L))
    val seed = Array(
      ("a", 25L), ("b", 25L), ("ab", 25L), ("ba", 10L),
      ("aba", 10L), ("bab", 10L), ("abab", 10L))
    val res = TextOps.unigramTrainCollected(types, seed, 2)
    val got = res.vocab
    assert(got === Seq(("abab", 10L), ("ab", 5L), ("a", 0L), ("b", 0L)),
      s"planted unigram vocabulary diverges: $got")
    // character-mass conservation: Σ cnt·len(piece) = Σ freq·len(type)
    assert(got.map { case (p, c) => c * p.length }.sum === 10L * 4 + 5L * 2)
    // the word→pieces map the fertility card broadcasts: one piece each
    assert(res.typePieces.toSeq === Seq(("abab", 1L), ("ab", 1L)),
      s"per-type piece counts diverge: ${res.typePieces.toSeq}")
    // Σ typePieces·freq = Σ vocab counts (final EM consistency)
    assert(res.typePieces.zip(types).map { case ((_, k), (_, f)) => k * f }.sum ===
      got.map(_._2).sum)

    // non-BMP: pieces are code-point strings; a😀 must stay one piece
    // of cpLen 2, not shear into surrogates
    val emoji = new String(Character.toChars(0x1F600))
    val nb = TextOps.unigramTrainCollected(
      Array((s"a$emoji", 3L)),
      Array(("a", 3L), (emoji, 3L), (s"a$emoji", 3L)), 1).vocab
    assert(nb === Seq((s"a$emoji", 3L), ("a", 0L), (emoji, 0L)),
      s"non-BMP unigram vocabulary diverges: $nb")

    // end-to-end on the real corpus: the check row's invariants hold
    val chk = TextOps.qUnigramTrainCheck(spark, sfDir).collect().head
    val vocabStats = graft.Tables.documents(spark, sfDir)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .agg(
        sum(expr("freq * length(w)")).as("mass"),
        count(lit(1)).as("n_types"))
      .collect().head
    assert(chk.getAs[Long]("char_mass") === vocabStats.getAs[Long]("mass"),
      "character mass not conserved through Viterbi segmentation")
    assert(chk.getAs[Boolean]("covered"))
  }

  test("BPE training matches an independent in-JVM reference on the real corpus") {
    // Classic dict-based BPE (mutable pair-count maps + explicit greedy
    // merge loop) — a different code path end-to-end from the DataFrame
    // explode/groupBy/HOF-fold implementation.
    def mergeSyms(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def refBpe(types: Map[String, Long], rounds: Int): Seq[(Long, String, String, Long)] = {
      var vocab = types.map { case (w, f) => w.split("").filter(_.nonEmpty).toVector -> f }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var r = 1
      while (r <= rounds) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
        for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) += f
        if (counts.isEmpty) return out.toSeq
        val ((a, b), c) = counts.minBy { case ((pa, pb), pc) => (-pc, pa, pb) }
        out += ((r.toLong, a, b, c))
        vocab = vocab.map { case (syms, f) => mergeSyms(syms, a, b) -> f }
        r += 1
      }
      out.toSeq
    }
    val types = graft.Tables.documents(spark, sfDir)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = TextOps.qBpeTrain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === refBpe(types, 8), s"real-corpus merges diverge: $got")
    assert(got.nonEmpty, "no merges learned — test is vacuous")
  }

  test("BPE apply fertility matches an independent in-JVM train+apply pipeline") {
    // Recompute the WHOLE pipeline (train merges, tokenize every word,
    // roll up per source) with plain Scala collections.
    def mergeSyms(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val tokBySrc = graft.Tables.documents(spark, sfDir)
      .select(col("source"), explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val types = tokBySrc.groupBy(_._2).map { case (w, g) => w -> g.length.toLong }
    var vocab = types.map { case (w, f) => w -> (w.split("").filter(_.nonEmpty).toVector, f) }
    for (_ <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((_, (syms, f)) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.nonEmpty) {
        val ((a, b), _) = counts.minBy { case ((pa, pb), pc) => (-pc, pa, pb) }
        vocab = vocab.map { case (w, (syms, f)) => w -> (mergeSyms(syms, a, b), f) }
      }
    }
    val nSub = vocab.map { case (w, (syms, _)) => w -> syms.length.toLong }
    val expected = tokBySrc.groupBy(_._1).map { case (src, g) =>
      val words = g.length.toLong
      val subs = g.map(t => nSub(t._2)).sum
      (src, words, subs, subs * 1000000L / words)
    }.toSet
    val got = TextOps.qBpeApply(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected, s"fertility diverges: $got")
    // merges must actually compress: strictly fewer subtokens than chars
    val chars = tokBySrc.map(_._2.length.toLong).sum
    assert(got.toSeq.map(_._3).sum < chars, "BPE apply produced no compression — vacuous")
  }

  test("semantic dedup matches an independent in-JVM union-find recomputation") {
    // End-to-end different algorithm: brute-force nearest-centroid
    // assignment + all-pairs within-cell cosine + min-rooted union-find,
    // vs the query's cell-join edges + min-label CC fixpoint. Mirrors
    // CosineSim's accumulation order (dot/na/nb in index order, then
    // dot / (sqrt(na)*sqrt(nb))) so assignment tie-breaks can't drift.
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val n = vecs.length
    val k = math.max(16, ((n + 511) / 512))
    val cents = vecs.filter(_._1 < k)
    def cellOf(v: Array[Double]): Long = {
      var best = -1L; var bestCos = Double.NegativeInfinity
      for ((cid, cv) <- cents) {
        val c = cos(cv, v)
        if (c > bestCos || (c == bestCos && (best < 0 || cid < best))) { bestCos = c; best = cid }
      }
      best
    }
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }.toMap
    // min-rooted union-find: component root = min id, so survivors are
    // exactly the fixpoints of find
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    for {
      i <- vecs.indices; j <- (i + 1) until n
      if cells(vecs(i)._1) == cells(vecs(j)._1)
      if math.floor(cos(vecs(i)._2, vecs(j)._2) * 1e6 + 0.5) / 1e6 >= 0.3
    } {
      val (ra, rb) = (find(vecs(i)._1), find(vecs(j)._1))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expected = vecs.map(_._1).filter(id => find(id) == id)
      .map(id => (id, cells(id))).toSet
    val gotQ = Dedup.qSemDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotQ === expected,
      s"semantic dedup diverges: ${gotQ.size} kept vs expected ${expected.size}")
    // non-vacuous: the corpus must actually contain semantic duplicates
    assert(expected.size < n, "no within-cell duplicate pairs — test is vacuous")
  }

  test("image dHash banding finds EXACTLY the brute-force Hamming<=2 pairs (formula-direct)") {
    // In-JVM ground truth computed straight from the pixel FORMULA —
    // never touching the codec — so a decode bug and a banding bug
    // cannot cancel out.
    def dhashOf(id: Long): Long = {
      val w = (id % 48 + 32).toInt; val h = (id % 32 + 24).toInt
      var v = 0L
      for (j <- 0 until 8; i <- 0 until 7) {
        val sy = j * h / 8
        val p0 = ((i * w / 8) * 7L + sy * 13L + id * 31L) % 256L
        val p1 = (((i + 1) * w / 8) * 7L + sy * 13L + id * 31L) % 256L
        if (p1 > p0) v |= 1L << (j * 7 + i)
      }
      v
    }
    val ids = graft.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0))
    val hs = ids.map(id => id -> dhashOf(id)).toMap
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = math.min(ids(i), ids(j)); b = math.max(ids(i), ids(j))
      hd = java.lang.Long.bitCount(hs(a) ^ hs(b))
      if hd <= 2
    } yield (a, b, hd.toLong)).toSet
    val got = Multimodal.qImageDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      s"banded image dedup diverges from brute force: ${got.size} vs ${expected.size} pairs")
    assert(expected.nonEmpty, "no near-dup image pairs in corpus — test is vacuous")
  }

  test("image dedup's identical-dhash collapse reconstructs all pairs on planted collisions") {
    // The synthetic image formula is periodic in doc_id with period 768
    // (lcm of the 48/32 dim cycles and the ×31 mod 256 intensity cycle),
    // so ids 768 apart decode to IDENTICAL images. The gate corpus
    // (sf0.01, ids 0..499) never hits the period — this plants collision
    // GROUPS so the rep-collapse/expansion path does real work: intra
    // pairs (hamming 0), cross-expanded pairs, and a group of size 3.
    def dhashOf(id: Long): Long = {
      val w = (id % 48 + 32).toInt; val h = (id % 32 + 24).toInt
      var v = 0L
      for (j <- 0 until 8; i <- 0 until 7) {
        val sy = j * h / 8
        val p0 = ((i * w / 8) * 7L + sy * 13L + id * 31L) % 256L
        val p1 = (((i + 1) * w / 8) * 7L + sy * 13L + id * 31L) % 256L
        if (p1 > p0) v |= 1L << (j * 7 + i)
      }
      v
    }
    val ids = Seq(0L, 768L, 1536L, 5L, 773L, 10L, 20L, 33L, 47L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(id => org.apache.spark.sql.Row(id, s"doc $id", "en", "planted", 6L))),
      schema)
    val dir = java.nio.file.Files.createTempDirectory("graft-imgdup-").toString
    df.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    val hs = ids.map(id => id -> dhashOf(id)).toMap
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = math.min(ids(i), ids(j)); b = math.max(ids(i), ids(j))
      hd = java.lang.Long.bitCount(hs(a) ^ hs(b))
      if hd <= 2
    } yield (a, b, hd.toLong)).toSet
    assert(expected.contains((0L, 768L, 0L)) && expected.contains((0L, 1536L, 0L)) &&
      expected.contains((5L, 773L, 0L)), "planted collisions missing — formula drifted")
    val got = Multimodal.qImageDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      s"collapsed image dedup diverges: extra=${got -- expected} missing=${expected -- got}")
    spark.catalog.clearCache()
  }

  test("audio silence runs match a sequential in-JVM segmenter over the formula") {
    // Independent algorithm: a single sequential pass with a run-state
    // machine, vs the query's gaps-and-islands window trick.
    def rowsOf(id: Long): (Long, Long, Long, Long) = {
      val n = (id % 400 + 100).toInt
      val nw = (n + 15) / 16
      val energies = (0 until nw).map { w =>
        (w * 16 until math.min(w * 16 + 16, n))
          .map(i => math.abs((i * 11L + id * 17L) % 256L - 128L)).sum
      }
      var nSeg = 0L; var maxRun = 0L; var cur = 0L
      energies.foreach { e =>
        if (e > 1024) { if (cur == 0) nSeg += 1; cur += 1; maxRun = math.max(maxRun, cur) }
        else cur = 0
      }
      (nw.toLong, energies.count(_ > 1024).toLong, nSeg, maxRun)
    }
    val got = Multimodal.qAudioSilence(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      val (nw, na, ns, mr) = rowsOf(id)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) === ((nw, na, ns, mr)),
        s"doc $id silence segmentation diverges")
    }
    // non-vacuous: both active and inactive windows must occur somewhere
    assert(got.exists(_.getLong(2) > 0) && got.exists(r => r.getLong(2) < r.getLong(1)),
      "corpus has no energy variation — threshold test is vacuous")
  }

  test("phrase search equals a sequential sliding-window scan of the raw text") {
    // Independent algorithm: no postings, no joins — just each document's
    // token sequence scanned left to right.
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val phrases = Seq(Seq("table", "scan"), Seq("data", "table", "scan"))
    val expected = (for {
      ph <- phrases
      (id, text) <- docs
      ws = text.toLowerCase.split("[\\t\\n\\u000B\\f\\r ]+").filter(_.nonEmpty)
      hits = (0 to ws.length - ph.length).filter(i => ph.indices.forall(k => ws(i + k) == ph(k)))
      if hits.nonEmpty
    } yield (ph.mkString(" "), id, hits.size.toLong, hits.head.toLong + 1)).toSet
    val got = TextOps.qPhraseSearch(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    assert(expected.nonEmpty, "no phrase matches in corpus — test is vacuous")
  }

  test("PMI top-30 equals an exact BigInt recomputation, order included") {
    val docs = graft.Tables.documents(spark, sfDir).select("text").collect().map(_.getString(0))
    val tokd = docs.map(_.toLowerCase.split("[\\t\\n\\u000B\\f\\r ]+").filter(_.nonEmpty).toSeq)
    val uni = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bg = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    tokd.foreach { ws =>
      ws.foreach(w => uni(w) += 1)
      ws.sliding(2).filter(_.size == 2).foreach(p => bg((p(0), p(1))) += 1)
    }
    val n = BigInt(uni.values.sum)
    val expected = bg.toSeq
      .filter(_._2 >= 10)
      .map { case ((a, b), cab) =>
        (a, b, cab, (BigInt(1000000) * n * cab / (BigInt(uni(a)) * uni(b))).toLong)
      }
      .sortBy { case (a, b, _, pmi) => (-pmi, a, b) }
      .take(30)
    val got = TextOps.qPmiPairs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected)
    assert(expected.size === 30, "fewer than 30 qualifying bigrams — min-count bar too high")
  }

  test("merge upsert partitions every key into exactly one op with the right counts") {
    val rows = Maintenance.qMergeUpsert(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(4)))
    assert(rows.map(_._1).distinct.length === rows.length, "merge emitted a duplicate key")
    val base = graft.Tables.customer(spark, sfDir).select("c_custkey").collect().map(_.getLong(0))
    val byOp = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(byOp("update") === base.count(_ % 7 == 0).toLong)
    assert(byOp("insert") === base.count(_ % 11 == 0).toLong)
    assert(byOp("keep") === base.count(_ % 7 != 0).toLong)
    // inserts land under fresh keys only
    val keys = rows.map(_._1).toSet
    assert(base.forall(keys.contains), "merge dropped a target key")
  }

  test("SCD-2 history chains intervals correctly and sums credits into the current row") {
    val rows = Maintenance.qScd2History(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .groupBy(_._1)
    rows.foreach { case (key, vs) =>
      val sorted = vs.sortBy(_._2)
      // versions are 1..n, intervals chain, exactly one current row (the last)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 === b._3, s"key $key: interval gap between v${a._2} and v${b._2}")
        case _           =>
      }
      assert(sorted.count(_._6) === 1 && sorted.last._6, s"key $key: current-row flag wrong")
      assert(sorted.last._4 === Long.MaxValue)
      // the current balance carries every applicable credit
      val credits = Seq((7, 10000L), (5, 20000L), (3, 30000L))
        .collect { case (m, add) if key % m == 0 => add }.sum
      assert(sorted.last._5 - sorted.head._5 === credits, s"key $key: credits not accumulated")
    }
    assert(rows.nonEmpty)
  }

  test("MMR greedy: defers near-clones of picked items, breaks ties by id, caps at k") {
    // 3 items: id 1 most relevant; id 2 a near-clone of 1 (pm ~ 1.0);
    // id 3 less relevant but diverse → selection order 1, 3, 2
    val ids = Array(1L, 2L, 3L)
    val qm = Array(900000L, 890000L, 500000L)
    val pmm = Map(
      (0, 1) -> 999000L, (1, 0) -> 999000L,
      (0, 2) -> 10000L, (2, 0) -> 10000L,
      (1, 2) -> 10000L, (2, 1) -> 10000L)
    val got = Similarity.mmrGreedy(ids, qm, (i, j) => pmm((i, j)), 3)
    assert(got.map(_._2) === Seq(1L, 3L, 2L))
    // rank-1 score is pure relevance (7·qm, empty penalty)
    assert(got.head._4 === 7L * 900000L)
    // rank-2: id 2 scores 7·890000−3·999000 = 3233000 < id 3's
    // 7·500000−3·10000 = 3470000 — diversity beat raw relevance
    assert(got(1)._4 === 3470000L)
    // ties break to the smaller id
    val tied = Similarity.mmrGreedy(
      Array(7L, 5L), Array(100L, 100L), (_, _) => 0L, 2)
    assert(tied.map(_._2) === Seq(5L, 7L))
    // k caps the output
    assert(Similarity.mmrGreedy(ids, qm, (i, j) => pmm((i, j)), 2).length === 2)
  }

  test("MV retraction drops a group retracted to empty and subtracts exactly elsewhere") {
    import org.apache.spark.sql.functions.col
    def partials(rows: Seq[(String, Long, Long, Long, Long)]) = {
      import spark.implicits._
      rows.toDF("n_name", "o_year", "n_orders", "n_items", "c4")
        .select(col("n_name"), col("o_year"), col("n_orders"), col("n_items"),
          col("c4").cast("decimal(38,0)").as("rev_c4"))
    }
    val base = partials(Seq(
      ("FRANCE", 1995L, 2L, 5L, 1000L),
      ("GERMANY", 1995L, 1L, 2L, 400L)))
    val deleted = partials(Seq(
      ("FRANCE", 1995L, 1L, 2L, 300L),
      ("GERMANY", 1995L, 1L, 2L, 400L))) // retracts GERMANY to empty
    val got = Maintenance.mvRetractMerge(base, deleted).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDecimal(4).longValueExact()))
      .toMap
    assert(got === Map(("FRANCE", 1995L) -> (1L, 3L, 700L)),
      "exact subtraction + empty-group drop")
  }

  test("incremental MV merge equals a direct full-join recompute (same engine, no slicing)") {
    import org.apache.spark.sql.functions._
    import graft.functions.PortableRound.asScaled
    val inc = Maintenance.qMvIncremental(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val full = graft.Tables.orders(spark, sfDir)
      .join(graft.Tables.lineitem(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(graft.Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(graft.Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"),
        (sum((asScaled(col("l_extendedprice"), 2) *
          (lit(100L) - asScaled(col("l_discount"), 2))).cast("decimal(38,0)"))
          .cast("double") / lit(10000.0)).as("revenue"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(inc.keySet === full.keySet, "group sets diverge")
    inc.foreach { case (k, v) => assert(v === full(k), s"group $k diverges") }
    assert(inc.nonEmpty)
    // the distinct-count state really is batch-partitioned: both slices
    // contribute orders (the merge exercised the sum, not a copy-through)
    val nBatch = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 5 === 4).count()
    assert(nBatch > 0, "batch slice empty — the incremental path was vacuous")
    assert(nBatch < graft.Tables.orders(spark, sfDir).count(), "corpus slice empty")
  }

  test("FK audit: star schema is referentially intact and counts are coherent") {
    val rows = Maintenance.qFkAudit(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 5)
    rows.foreach { case (rel, nChild, nDistinct, nOrphans) =>
      assert(nOrphans === 0L, s"$rel has orphans")
      assert(nDistinct <= nChild && nDistinct > 0, s"$rel count coherence")
    }
  }

  test("session_window merges a pair exactly gap apart (the boundary the oracle must match)") {
    // Spark's session_window MERGES two events whose delta is exactly the
    // gap (the extension is closed at its end for merging) — so the
    // qSessionWindow oracle breaks islands on STRICT `> gap`. No fixture
    // pair currently lands on the boundary, so pin the rule here: if a
    // Spark upgrade flips it, this fails before the gate silently
    // diverges on some future corpus.
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2026-01-01 00:30:00") // delta == gap exactly
    val t2 = Timestamp.valueOf("2026-01-01 01:00:00.000001") // 30min + 1us after t1
    val df = spark.createDataFrame(Seq((1L, t0), (1L, t1), (1L, t2))).toDF("user_id", "ts")
    val sessions = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(sessions.length === 2, "exact-gap pair must merge; 1-us overshoot must split")
    assert(sessions.map(_.getLong(2)).sorted.toSeq === Seq(1L, 2L))
  }

  test("cross-source dup matrix is canonicalized and accounts for every near-dup edge") {
    val rows = Dedup.qCrossSourceDups(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty, "no near-dup pairs — matrix test is vacuous")
    rows.foreach { case (a, b, _) => assert(a <= b, s"uncanonicalized cell ($a, $b)") }
    assert(rows.map(_._3).sum === Dedup.nearDupEdges(spark, sfDir).count(),
      "matrix cells do not sum to the near-dup edge count")
  }

  test("mixture plan is exact Hamilton apportionment: sums to the budget, matches a JVM reference") {
    val budget = 1000000L
    val got = Sampling.qMixturePlan(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.map(_._3).sum === budget, "quotas must sum to the budget EXACTLY")
    // independent largest-remainder implementation over the same avails
    val avails = got.map(t => t._1 -> t._2)
    val tot = avails.map(_._2).sum
    val base = avails.map { case (s, a) => (s, budget * a / tot, budget * a % tot) }
    val short = budget - base.map(_._2).sum
    val bumped = base.sortBy { case (s, _, r) => (-r, s) }.zipWithIndex
      .map { case ((s, b, _), i) => s -> (b + (if (i < short) 1L else 0L)) }
      .toMap
    got.foreach { case (s, _, q) => assert(q === bumped(s), s"source $s") }
    // quota monotone in availability: strict for distinct avails (equal
    // floors order by remainder, which follows the share on a fixed
    // total); EQUAL avails have equal remainders and tie-break by source
    // name, so the lexically smaller source may legitimately carry the
    // +1 — allow one token of slack exactly there
    val byAvail = got.sortBy(_._2)
    byAvail.zip(byAvail.tail).foreach { case ((_, a1, q1), (_, a2, q2)) =>
      if (a1 == a2) assert(math.abs(q1 - q2) <= 1, "tied sources differ by more than the bump")
      else assert(q1 <= q2, "larger source got a smaller quota")
    }
  }

  test("shard plan: balanced within one maximal document, matches a JVM round-robin") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(graft.functions.NativeExprs.tokens(col("text"))).cast("long").as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = Sampling.qShardPlan(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq === (0L until 16L), "one row per shard, in order")
    assert(got.map(_._2).sum === docs.length, "every document assigned")
    assert(got.map(_._3).sum === docs.map(_._2).sum, "token mass conserved")
    // independent longest-first round-robin over the same total order
    val expect = docs
      .sortBy { case (id, n) => (-n, id % 64, id) }
      .zipWithIndex
      .groupBy(_._2 % 16)
      .map { case (s, xs) => s.toLong -> (xs.length.toLong, xs.map(_._1._2).sum) }
    got.foreach { case (s, nd, ts) =>
      assert((nd, ts) === expect(s), s"shard $s differs from the JVM reference")
    }
    // LPT round-robin balance: spread bounded by one maximal document,
    // doc counts within one of each other
    val tokSums = got.map(_._3)
    assert(tokSums.max - tokSums.min <= docs.map(_._2).max,
      "token spread exceeds one maximal document")
    assert(got.map(_._2).max - got.map(_._2).min <= 1, "doc counts differ by more than 1")
  }

  test("pca power component captures the top eigendirection (Rayleigh quotient vs doubles)") {
    // double-precision reference: mean-centered covariance + 200 power
    // iterations — an independent (float) algorithm; the integer
    // component must capture ≥ 99% of its variance (Rayleigh quotient)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length; val dim = vecs.head.length
    val mean = Array.tabulate(dim)(i => vecs.map(_(i)).sum / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      vecs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum
    }
    def rayleigh(v: Array[Double]): Double = {
      val num = (0 until dim).map(i => (0 until dim).map(j => v(i) * cov(i)(j) * v(j)).sum).sum
      num / v.map(x => x * x).sum
    }
    var u = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to 200) {
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => cov(i)(j) * u(j)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      u = w.map(_ / norm)
    }
    val got = Similarity.qPcaPower(spark, sfDir).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toDouble))
      .sortBy(_._1).map(_._2)
    assert(got.length === dim)
    assert(rayleigh(got) >= 0.99 * rayleigh(u),
      s"integer component captures ${rayleigh(got) / rayleigh(u)} of the top variance")
  }

  test("t-closeness matches a full-domain JVM recomputation and k-anonymity's grouping") {
    // independent algorithm: sum over the WHOLE sensitive domain per
    // group (the query uses the present-values-only identity)
    val sensOf = graft.Tables.orders(spark, sfDir)
      .select("o_custkey", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (c, xs) =>
        val counts = xs.groupBy(_._2).map { case (p, ys) => p -> ys.length }
        c -> counts.toSeq.map { case (p, n) => (-n, p) }.min._2
      }
    val rows = graft.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal").collect()
      .map { r =>
        val cents = math.floor(r.getDouble(3) * 100 + 0.5).toLong
        val qi = (r.getString(1), r.getInt(2), (cents + 100000L) / 100000L)
        (qi, sensOf.getOrElse(r.getLong(0), "NONE"))
      }
    val nTotal = BigInt(rows.length)
    val global = rows.groupBy(_._2).map { case (v, xs) => v -> BigInt(xs.length) }
    val perSeg = rows.groupBy(_._1).toSeq.map { case (qi, xs) =>
      val ng = BigInt(xs.length)
      val cv = xs.groupBy(_._2).map { case (v, ys) => v -> BigInt(ys.length) }
      val num = global.map { case (v, cvg) =>
        (cv.getOrElse(v, BigInt(0)) * nTotal - cvg * ng).abs
      }.sum
      (qi._1, num * 1000000 / (2 * ng * nTotal), ng)
    }.groupBy(_._1)
    val got = Relational.qTCloseness(spark, sfDir).collect()
    got.foreach { r =>
      val seg = r.getString(0)
      val ppms = perSeg(seg)
      assert(r.getLong(1) === ppms.length.toLong, s"$seg n_groups")
      assert(r.getLong(2) === ppms.map(_._2).max.toLong, s"$seg max_tvd_ppm")
      assert(r.getLong(3) === ppms.count(_._2 > 400000).toLong, s"$seg n_far_groups")
      assert(r.getLong(4) === ppms.filter(_._2 > 400000).map(_._3).sum.toLong, s"$seg n_far_rows")
    }
    // the trio reads ONE grouping: group counts must agree with k-anonymity
    val kanon = Relational.qKAnonymity(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(r.getLong(1) === kanon(r.getString(0)),
      s"${r.getString(0)}: t-closeness and k-anonymity disagree on n_groups"))
  }

  /** Writes `vecs` as an embeddings table; returns its dir and the rows
    * semantic dedup at `targetCell` must keep, from an in-JVM union-find. */
  private def semCorpus(
      vecs: IndexedSeq[(Long, Array[Float])], targetCell: Int): (String, Set[(Long, Long)]) = {
    val nv = vecs.size
    val tmp = java.nio.file.Files.createTempDirectory("graft-semk-").toString
    locally {
      import spark.implicits._
      vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    }
    // in-JVM truth, mirroring CosineSim's accumulation order on the
    // float-rounded values the query actually reads
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = math.max(16, (nv + targetCell - 1) / targetCell)
    val cents = vecs.filter(_._1 < k)
    def cellOf(v: Array[Float]): Long = {
      var best = -1L; var bestCos = Double.NegativeInfinity
      for ((cid, cv) <- cents) {
        val c = cos(cv, v)
        if (c > bestCos || (c == bestCos && (best < 0 || cid < best))) {
          bestCos = c; best = cid
        }
      }
      best
    }
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }.toMap
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r
    }
    for {
      i <- vecs.indices; j <- (i + 1) until nv
      if cells(vecs(i)._1) == cells(vecs(j)._1)
      if math.floor(cos(vecs(i)._2, vecs(j)._2) * 1e6 + 0.5) / 1e6 >= 0.3
    } {
      val (ra, rb) = (find(vecs(i)._1), find(vecs(j)._1))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expected = vecs.map(_._1).filter(id => find(id) == id)
      .map(id => (id, cells(id))).toSet
    assert(expected.size < nv, "no semantic duplicates planted — test is vacuous")
    (tmp, expected)
  }

  /** A 120-vector corpus that forces semantic dedup to k=30 cells at
    * targetCell=4. */
  private lazy val forcedKCorpus: (String, Set[(Long, Long)]) = {
    val dim = 4
    val nv = 120
    assert(math.max(16, (nv + 3) / 4) == 30, "spec must force k beyond SemMinCells")
    // 3 well-separated directions + deterministic jitter → real dup pairs
    def vecOf(id: Long): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      val g = (id % 3).toInt
      a(g) = 1.0f
      a((g + 1) % dim) = (0.05 * ((id / 3) % 5)).toFloat
      a(3) = (0.01 * (id % 7)).toFloat
      a
    }
    semCorpus((0L until nv).map(id => id -> vecOf(id)), 4)
  }

  /** 16 cells (k=16 at targetCell=512), each a path-shaped component
    * whose middle id has no smaller neighbour: centroid g sits at angle
    * 0° of its own plane (axes 2g, 2g+1), and nodes 16+3g, 18+3g, 17+3g
    * at -40°, 20° and 80°. Edges (cos ≥ 0.3): g–(16+3g), g–(18+3g),
    * (16+3g)–(18+3g) and (17+3g)–(18+3g) only, so 17+3g learns its
    * component minimum g only if its one edge meets the rest of its
    * component in one union-find. Only the 16 centroids survive. */
  private lazy val pathCorpus: (String, Set[(Long, Long)]) = {
    def at(g: Int, deg: Double): Array[Float] = {
      val a = Array.fill(32)(0.0f)
      a(2 * g) = math.cos(math.toRadians(deg)).toFloat
      a(2 * g + 1) = math.sin(math.toRadians(deg)).toFloat
      a
    }
    val corpus = semCorpus((0 until 16).flatMap { g =>
      Seq(g.toLong -> at(g, 0), (16L + 3 * g) -> at(g, -40), (17L + 3 * g) -> at(g, 80),
        (18L + 3 * g) -> at(g, 20))
    }.sortBy(_._1), 512)
    assert(corpus._2 === (0L until 16L).map(g => (g, g)).toSet, "path corpus geometry drifted")
    corpus
  }

  test("semantic dedup at forced k>16 / multi-chunk assignment stays literal-free") {
    // The 100 TB claim for qSemDedup: k adapts to the corpus, so the
    // centroid assignment must be a JOIN against centroid data, not a
    // driver collect + codegen literal chain. This forces both failure
    // modes the old shape had: k > SemMinCells (targetCell=4 → k=30 on a
    // 120-vector corpus) and k > one chunk (centChunk=8 → 4 chunk joins),
    // and cross-checks the full query against an in-JVM union-find truth.
    val (tmp, expected) = forcedKCorpus
    val got = Dedup.semDedupImpl(spark, tmp, 4, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected,
      s"forced-k semantic dedup diverges: ${got.size} kept vs ${expected.size}")

    // chunk structure: exactly ceil(30/8)=4 one-row broadcast joins, and
    // the join count is the ONLY thing that grows with k — plan size at
    // k=30 vs k=16 (same single-chunk config) stays flat where a literal
    // chain would grow by ~14 × dim embedded vectors
    val e = graft.Tables.embeddings(spark, tmp)
      .select(col("vec_id"), col("embedding").as("v"))
    // AQE prints Final + Initial copies of the same tree — count in the
    // final-plan section only
    val pChunked = Dedup.assignCells(e, 30, 8)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin".r.findAllIn(pChunked).size == 4,
      s"expected 4 centroid-chunk joins:\n$pChunked")
    val p16 = Dedup.assignCells(e, 16, 65536).queryExecution.executedPlan.toString
    val p30 = Dedup.assignCells(e, 30, 65536).queryExecution.executedPlan.toString
    assert(math.abs(p30.length - p16.length) < 200,
      s"plan grew with k (${p16.length} -> ${p30.length} chars) — literal chain is back")
  }

  test("semantic dedup's per-cell union-find matches the truth at 1 and 8 shuffle partitions") {
    // Components come from ONE partition-local union-find over edges
    // repartitioned by cell, no fixpoint. At 1 shuffle partition all
    // cells share one union-find; at 8 the cells spread over partitions,
    // so a label is exact only if every cell's edges meet in one. The
    // forced-k corpus has 30 cells of clique-like components; the path
    // corpus has a node per cell whose only edge goes to a larger id,
    // which a partitioning that splits a cell's edges labels wrongly.
    // Coalescing is off so the partition count is the one asked for.
    val confs = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      for {
        (name, (tmp, expected), targetCell, centChunk) <-
          Seq(("forced-k", forcedKCorpus, 4, 8), ("path", pathCorpus, 512, 65536))
        parts <- Seq(1, 8)
      } {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        spark.catalog.clearCache() // a fresh cached assignment per layout
        val got = Dedup.semDedupImpl(spark, tmp, targetCell, centChunk).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === expected,
          s"$name, $parts partitions: ${got.size} kept vs ${expected.size} expected")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("building semantic dedup fires only the k-sizing count, no checkpoint") {
    // the construction layer: with the parquet schema memo warm, the
    // only driver job left is the row count that sizes k — no CC
    // fixpoint rounds and no localCheckpoint (their blocks would show as
    // new persistent RDDs, their plans as LogicalRDD leaves)
    val (_, countJobs) = jobsStartedBy(graft.Tables.embeddings(spark, sfDir).count())
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (df, jobs) = jobsStartedBy(Dedup.qSemDedup(spark, sfDir))
    assert(countJobs.nonEmpty && jobs.size === countJobs.size,
      s"construction jobs beyond the count's $countJobs: $jobs")
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted,
      "construction persisted RDD blocks")
    assert(df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.isEmpty, s"checkpointed relation in the plan:\n${df.queryExecution.analyzed}")
  }

  test("vocab drift: hand-computed χ² terms on a planted 2-source corpus; ×10-replication invariant") {
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    // corpus: x appears 3×, y 1× (T=4) → c_ppm x=750000, y=250000.
    // srcA "x y": o_ppm 500000/500000 → terms 250000²div750000=83333,
    // 250000²div250000=250000. srcB "x x": o_ppm 1000000/0 → the same
    // two terms. <other> bucket: c=0, o=0 → term 0 via the max(c,1)
    // guard. drift = 333333 for both, top_word = y (250000 > 83333).
    def corpus(rep: Int) = (0 until rep).flatMap { r =>
      Seq((r * 2 + 1L, "x y", "en", "srcA", 0L), (r * 2 + 2L, "x x", "en", "srcB", 0L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def run(rep: Int): Seq[(String, Long, Long, String)] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-drift-").toString
      corpus(rep).write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
      TextOps.qVocabDrift(spark, tmp).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    }
    assert(run(1) === Seq(
      ("srcA", 2L, 333333L, "y"),
      ("srcB", 2L, 333333L, "y")))
    // ppm shares are scale-free: replicating every doc 10× changes no row
    // except the token counts
    assert(run(10) === Seq(
      ("srcA", 20L, 333333L, "y"),
      ("srcB", 20L, 333333L, "y")))
  }

  test("dedup rate by source: kept mass reconciles with the cluster-canonical apply") {
    val report = Dedup.qDedupRateBySource(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val kept = report.map { case (_, n, d, _) => n - d }.sum
    assert(kept === Dedup.qDedupApplyCc(spark, sfDir).count(),
      "per-source kept mass != the apply's surviving row count")
    val total = report.map(_._2).sum
    assert(total === graft.Tables.documents(spark, sfDir).count(),
      "n_docs does not partition the corpus")
    report.foreach { case (src, n, d, ppm) =>
      assert(ppm === (n - d) * 1000000L / n, s"ppm formula drifted for $src")
    }
  }

  test("fixpointConverged raises when the cap cuts a still-progressing loop") {
    import spark.implicits._
    val s0 = Seq(0L).toDF("v")
    val step = (st: org.apache.spark.sql.DataFrame, _: Int) =>
      st.select((col("v") + 1).as("v"))
    val v = Seq(max(col("v")))
    // the fixpoint reports the capped state honestly…
    val fp = Iterate.fixpointObservedBy(s0, 3)(step)(v)((_, _) => false)
    assert(fp.rounds === 3 && !fp.converged)
    // …but requireConverged refuses to return it —
    // CC labels decide what gets DROPPED, so a half-propagated state
    // must never flow onward silently
    intercept[IllegalStateException] {
      Iterate.fixpointObservedBy(s0, 3)(step)(v)((_, _) => false).requireConverged
    }
    // and a loop that does converge passes through with converged=true
    val ok = Iterate.fixpointObservedBy(s0, 3)(step)(v)((_, next) =>
      next.head.asInstanceOf[Number].longValue >= 2L).requireConverged
    assert(ok.converged && ok.rounds === 2)
  }

  test("clustering coefficient: planted triangle / path / star-with-chord graphs") {
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    // each planted bigram must clear the corpus-wide ≥40 edge-frequency
    // bar; 41 repeats because the WRAPAROUND bigram of a cyclic walk
    // (z-x in "x y z x y z …") occurs only reps−1 times
    val rep = (walk: String) => (walk + " ") * 41
    val docs = Seq(
      // triangle via wraparound: x-y, y-z, z-x → cc = 1.0 at every node
      (1L, rep("x y z"), "en", "srcA", 0L),
      // path m-n-o built from two SEPARATE docs (a single "m n o" walk
      // would close m-o on the wrap): cc = 0 everywhere
      (2L, rep("m n"), "en", "srcA", 0L),
      (3L, rep("n o"), "en", "srcA", 0L),
      // star n0-{a,b,c} plus chord a-b: n0 closes 1 of its 3 wedges
      (4L, rep("n0 a"), "en", "srcA", 0L),
      (5L, rep("n0 b"), "en", "srcA", 0L),
      (6L, rep("n0 c"), "en", "srcA", 0L),
      (7L, rep("a b"), "en", "srcA", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cc-").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = TextOps.qClusteringCoef(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === Seq(
      ("a", 2L, 1L, 1000000L),
      ("b", 2L, 1L, 1000000L),
      ("c", 1L, 0L, 0L),
      ("m", 1L, 0L, 0L),
      ("n", 2L, 0L, 0L),
      ("n0", 3L, 1L, 333333L), // 2·1·10⁶ div (3·2) — div truncates
      ("o", 1L, 0L, 0L),
      ("x", 2L, 1L, 1000000L),
      ("y", 2L, 1L, 1000000L),
      ("z", 2L, 1L, 1000000L)))
  }

  test("boilerplate: per-source span rule — cross-source and intra-doc repeats are NOT chrome") {
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    // spans are FIXED 10-token windows from position 0, so a planted
    // 10-token header aligns to exactly one span
    val header = (1 to 10).map(i => s"h$i").mkString(" ")
    val u = (n: Int) => (1 to 10).map(i => s"u${n}x$i").mkString(" ")
    val docs = Seq(
      // srcA: header shared by docs 1+2 → boilerplate there
      (1L, s"$header ${u(1)}", "en", "srcA", 0L),
      (2L, s"$header ${u(2)}", "en", "srcA", 0L),
      // doc 3 repeats ITS OWN span twice: inst=2 but doc_df=1 → not chrome
      (3L, s"${u(3)} ${u(3)}", "en", "srcA", 0L),
      // srcB has the SAME header once: per-source scoping keeps it clean
      (4L, s"$header ${u(4)}", "en", "srcB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft-boiler-").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = Dedup.qBoilerplate(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got === Seq(
      ("srcA", 3L, 6L, 1L, 2L, 2L),
      ("srcB", 1L, 2L, 0L, 0L, 0L)))
  }

  test("threshold sweep: planted exact-Jaccard pairs land on the right side of every bar") {
    import spark.implicits._
    // num = 100·inter, den = union; J = num / (100·den) chosen to sit ON
    // and AROUND the bars: 0.70 exactly (boundary must be inclusive),
    // 0.50 exactly, 0.85 (kills the 90 bar → exercises the zero-row
    // coalesce), 0.45 (below every bar).
    val scored = Seq(
      (1L, 2L, 700L, 10L),
      (1L, 3L, 500L, 10L),
      (2L, 3L, 1700L, 20L),
      (4L, 5L, 900L, 20L)).toDF("da", "db", "num", "den")
    val got = Dedup
      .thresholdSweepFrom(spark, scored)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === Seq(
      (50L, 3L, 3L, 2L),
      (60L, 2L, 3L, 2L),
      (70L, 2L, 3L, 2L), // J = 0.70 is IN at the 70 bar
      (80L, 1L, 2L, 1L),
      (90L, 0L, 0L, 0L)))
  }

  test("threshold sweep: 60% row reproduces the near-dup edge set; counts fall as the bar rises") {
    val sweep = Dedup.qThresholdSweep(spark, sfDir).collect()
    assert(sweep.map(_.getLong(0)).toSeq === Seq(50L, 60L, 70L, 80L, 90L))
    // the 60 bar IS NearDupBar (3/5): its pair count must equal the edge
    // set every dedup operator shares
    val at60 = sweep.find(_.getLong(0) == 60L).get
    assert(at60.getLong(1) === Dedup.nearDupEdges(spark, sfDir).count())
    // all three counts are monotone non-increasing in the bar
    for (c <- 1 to 3) {
      val col = sweep.map(_.getLong(c)).toSeq
      assert(col === col.sorted.reverse, s"column $c not monotone: $col")
    }
  }

  test("readability battery matches hand-computed Flesch components on a planted corpus") {
    import spark.implicits._
    // srcA: 7 words, 3 sentence terminators; vowel-group syllables per
    // token (punctuation rides inside the token but [aeiou]+ skips it):
    // the→1, cat→1, sat.→1, it→1, ran→1, away!→2 (a, a), really?→1 (ea)
    // ⇒ 8 syllables
    val docs = Seq(
      (1L, "the cat sat. it ran away! really?", "en", "srcA", 33L),
      // srcB: no terminators → sentence fallback max(1, 0) = 1; a token
      // with no vowels ("tv") floors at 1 syllable:
      // tv→1 (floor), screens→1 (ee), glow→1 (o) ⇒ 3 syllables
      (2L, "tv screens glow", "en", "srcB", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.readabilityFrom(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out("srcA") === ((1L, 7L, 3L, 8L,
      206835L - (1015L * 7) / 3 - (84600L * 8) / 7)))
    assert(out("srcB") === ((1L, 3L, 1L, 3L,
      206835L - (1015L * 3) / 1 - (84600L * 3) / 3)))
  }

  test("HLL rollup: merged daily sketches agree with one global sketch and sit within 5% of exact") {
    val rows = Analytics.qHllRollup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(3), s"${r.getString(0)} estimate outside 5%"))
    // register-max associativity: the union of per-day sketches must give
    // the SAME estimate as sketching the whole column once per type
    val ev = graft.Tables.events(spark, sfDir)
    val global = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14))).as("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val merged = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === global)
  }

  // ---------------------------------------------------- maintenance: r9 cards

  /** JVM twin of PortableHash.md5PrefixLong — independent of both engines. */
  private def jvmMd5Prefix(s: String, nHex: Int): Long = {
    import java.security.MessageDigest
    val hex = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(nHex), 16)
  }

  test("join cardinality estimate: planted skew breaks the uniformity assumption, visibly") {
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-card-").toString
    // lineitem keys [1×9, 2×1]; orders keys [1×1, 2×9]:
    // est = 10·10 div 2 = 50, actual = 9·1 + 1·9 = 18 → 32/18 over-estimate
    (Seq.fill(9)(1L) ++ Seq(2L)).map(k => (k, 1L, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/lineitem.parquet")
    (Seq(1L) ++ Seq.fill(9)(2L)).map(k => (k, 1L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/orders.parquet")
    Seq(1L).toDF("p_partkey").write.mode(SaveMode.Overwrite).parquet(s"$tmp/part.parquet")
    Seq(1L).toDF("s_suppkey").write.mode(SaveMode.Overwrite).parquet(s"$tmp/supplier.parquet")
    Seq(1L).toDF("c_custkey").write.mode(SaveMode.Overwrite).parquet(s"$tmp/customer.parquet")
    val got = Maintenance.qJoinCardEst(spark, tmp).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("est_rows"), r.getAs[Long]("actual_rows"), r.getAs[Long]("err_ppm")))
      .toMap
    assert(got("lineitem_orders") === ((50L, 18L, (50L - 18L) * 1000000L / 18L)))
    // degenerate single-key sides estimate exactly
    assert(got("lineitem_part") === ((10L, 10L, 0L)))
    assert(got("orders_customer") === ((10L, 10L, 0L)))
  }

  test("rolling percentiles: hand-computed trailing-7-day windows incl. a gap") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    import java.sql.Timestamp
    def ts(day: String) = Timestamp.valueOf(s"$day 12:00:00")
    val rows = Seq(
      (1L, ts("2024-01-01"), 1L, "view", 10.0, "{}"),
      (2L, ts("2024-01-01"), 1L, "view", 20.0, "{}"),
      (3L, ts("2024-01-01"), 1L, "view", 30.0, "{}"),
      (4L, ts("2024-01-02"), 1L, "view", 40.0, "{}"),
      // 8 days later: 01-01/02 fall OUT of the trailing window
      (5L, ts("2024-01-10"), 1L, "view", 50.0, "{}"),
      (6L, ts("2024-01-10"), 1L, "view", 60.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("graft-roll-").toString
    rows.write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.qRollingPercentiles(spark, tmp).collect()
      .map(r => r.getDate(0).toString ->
        (r.getAs[Long]("n"), r.getAs[Long]("p50"), r.getAs[Long]("p95")))
      .toMap
    assert(got === Map(
      "2024-01-01" -> ((3L, 2000L, 3000L)), // ranks ⌈1.5⌉=2nd, ⌈2.85⌉=3rd
      "2024-01-02" -> ((4L, 2000L, 4000L)), // window = both January days
      "2024-01-10" -> ((2L, 5000L, 6000L)))) // gap: old days aged out
  }

  test("Benford audit replays in JVM; uniform-ish TPC-H prices score far from Benford") {
    val benford = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L,
      57991L, 51152L, 45757L)
    val cents = graft.Tables.orders(spark, sfDir)
      .select("o_totalprice").collect()
      .map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong)
    val n = cents.length.toLong
    val obs = cents.groupBy(_.toString.head.asDigit).view.mapValues(_.length.toLong).toMap
    val expect = (1 to 9).map { dd =>
      val e = n * benford(dd - 1) / 1000000L
      val o = obs.getOrElse(dd, 0L)
      dd.toLong -> (o, e, BigInt(o - e) * (o - e) * 1000 / (e max 1L))
    }.toMap
    val got = Analytics.qBenford(spark, sfDir).collect()
      .map(r => r.getAs[Long]("digit") ->
        (r.getAs[Long]("observed"), r.getAs[Long]("expected"), r.getAs[Long]("dist_milli"),
          r.getAs[Long]("total_dist_milli")))
      .toMap
    got.foreach { case (dd, (o, e, dist, tot)) =>
      assert((o, e, BigInt(dist)) === expect(dd), s"digit $dd")
      assert(tot === got.values.map(_._3).sum, "total repeated on every row")
    }
    // TPC-H prices cluster in a narrow magnitude band — nothing like
    // Benford; the distance must scream (uniform digits score ~10⁵ milli)
    assert(got.values.head._4 > 10000L, "uniform-ish prices must score far from Benford")
  }

  test("Gini: planted perfect equality scores 0; one whale takes it toward (n-1)/n") {
    // no seam — replay the real corpus in JVM instead, then check the
    // closed-form extremes via the same formula
    val spend = graft.Tables.orders(spark, sfDir)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val nat = graft.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val nations = graft.Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
    val expect = spend.toSeq
      .map { case (k, sp) => (nations(nat(k)), k, sp) }
      .groupBy(_._1).map { case (nname, g) =>
        val sorted = g.sortBy(x => (x._3, x._2)).map(_._3)
        val nn = sorted.length.toLong
        val sx = sorted.map(BigInt(_)).sum
        val si = sorted.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
        nname -> ((2 * si - (nn + 1) * sx) * 1000000 / (nn * sx)).toLong
      }
    val got = Analytics.qGini(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("gini_ppm")).toMap
    assert(got === expect)
    // closed-form sanity of the formula itself (same arithmetic in JVM):
    def gini(xs: Seq[Long]): Long = {
      val s = xs.sorted; val nn = s.length.toLong
      val sx = s.map(BigInt(_)).sum
      val si = s.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      ((2 * si - (nn + 1) * sx) * 1000000 / (nn * sx)).toLong
    }
    assert(gini(Seq.fill(10)(500L)) === 0L, "perfect equality")
    assert(gini(Seq.fill(9)(0L) :+ 1000L) === 900000L, "one whale → (n−1)/n")
  }

  test("PIT join: count-preserving, replays in JVM, and the last batch leaks exactly zero") {
    val cust = graft.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> math.floor(r.getDouble(1) * 100 + 0.5).toLong)
      .toMap
    // the Scd2Deltas schedule: +10000 at batch 1 (k%7), +20000 at 2 (k%5),
    // +30000 at 3 (k%3); balance valid at batch b = base + Σ deltas with
    // change batch ≤ b
    def balAt(k: Long, b: Long): Long =
      cust(k) +
        (if (b >= 1 && k % 7 == 0) 10000L else 0L) +
        (if (b >= 2 && k % 5 == 0) 20000L else 0L) +
        (if (b >= 3 && k % 3 == 0) 30000L else 0L)
    val orders = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0) % 4, r.getLong(1)))
    val expect = orders.groupBy(_._1).map { case (b, os) =>
      b -> (os.length.toLong,
        os.map(o => balAt(o._2, b)).sum,
        os.map(o => balAt(o._2, 3)).sum) // current = after the last batch
    }
    val got = Maintenance.qPitJoin(spark, sfDir).collect()
      .map(r => r.getAs[Long]("pit_batch") ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("sum_pit_cents"),
          r.getAs[Long]("sum_current_cents"), r.getAs[Long]("leak_cents")))
      .toMap
    assert(got.values.map(_._1).sum === orders.length.toLong,
      "interval partition must match every fact exactly once")
    expect.foreach { case (b, (n, pit, cur)) =>
      assert(got(b)._1 === n, s"batch $b count")
      assert(got(b)._2 === pit, s"batch $b PIT sum")
      assert(got(b)._3 === cur, s"batch $b current sum")
      assert(got(b)._4 === cur - pit, s"batch $b leak")
    }
    assert(got(3L)._4 === 0L, "facts at the last batch see the current version — zero leak")
    assert(got(0L)._4 > 0L, "earlier facts must show positive leakage (deltas only add)")
  }

  test("AQP sum: estimate, variance and two-sigma verdict replay in BigInt from the raw rows") {
    val rows = graft.Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey")
      .collect()
      .map { r =>
        val cents = math.floor(r.getDouble(1) * 100 + 0.5).toLong
        val key = s"aqp|${r.getLong(2)}|${r.getAs[Number](3).longValue}|${r.getLong(4)}|${r.getLong(5)}"
        (r.getString(0), cents, jvmMd5Prefix(key, 10) % 100 == 0)
      }
    val expect = rows.groupBy(_._1).map { case (flag, g) =>
      val exact = g.map(_._2).sum
      val sample = g.filter(_._3)
      val est = sample.map(_._2).sum * 100
      val ssq = sample.map(x => BigInt(x._2) * x._2).sum
      val ok = BigInt(est - exact) * (est - exact) <= 4 * 9900 * ssq
      flag -> (g.length.toLong, sample.length.toLong, exact, est,
        (est - exact).abs * 1000000L / exact, if (ok) 1L else 0L)
    }
    val got = Sampling.qAqpSum(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_sample"),
          r.getAs[Long]("exact_cents"), r.getAs[Long]("est_cents"),
          r.getAs[Long]("err_ppm"), r.getAs[Long]("two_sigma_ok")))
      .toMap
    assert(got === expect)
    assert(got.values.exists(_._2 > 0), "the 1% rule must admit some rows at sf0.001")
  }

  test("AQP join: universe sampling replays in JVM; independent sampling would bias it") {
    val ord = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val li = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey").collect().map(_.getLong(0))
    def inU(k: Long) = jvmMd5Prefix(s"aqpu:$k", 10) % 16 == 0
    val liCnt = li.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = ord.groupBy(_._2).map { case (pri, os) =>
      val exact = os.map(o => liCnt.getOrElse(o._1, 0L)).sum
      val est = os.filter(o => inU(o._1)).map(o => liCnt.getOrElse(o._1, 0L)).sum * 16
      pri -> (exact, est, (est - exact).abs * 1000000L / exact)
    }
    val got = Sampling.qAqpJoin(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("exact_rows"), r.getAs[Long]("est_rows"), r.getAs[Long]("err_ppm")))
      .toMap
    assert(got === expect)
    // the whole point of universe sampling: the admitted keys keep their
    // FULL fanout, so the per-key join structure is intact — every
    // sampled join row's key passes the rule on BOTH sides by construction
    assert(got.values.map(_._2).sum > 0, "the 1/16 universe must be non-empty at sf0.001")
  }

  test("skew audit: planted 90%-hot key advises salting; count ties break to the smaller key") {
    import spark.implicits._
    val hot = Seq.fill(90)(("t.k", 7L)) ++ (1 to 10).map(i => ("t.k", 100L + i))
    val r = Maintenance.skewAuditOf(hot.toDF("tbl_col", "k")).collect().head
    assert(r.getAs[Long]("n_rows") === 100L)
    assert(r.getAs[Long]("n_distinct") === 11L)
    assert(r.getAs[Long]("hot_key") === 7L)
    assert(r.getAs[Long]("hot_count") === 90L)
    assert(r.getAs[Long]("hot_share_ppm") === 900000L)
    assert(r.getAs[Long]("hot_over_mean_x1000") === 9900L) // 90·11·1000 div 100
    assert(r.getAs[Long]("salt_advised") === 1L)
    // two keys at count 2: the smaller key must win deterministically
    val tie = Seq(("t2", 5L), ("t2", 5L), ("t2", 3L), ("t2", 3L), ("t2", 9L))
    val rt = Maintenance.skewAuditOf(tie.toDF("tbl_col", "k")).collect().head
    assert(rt.getAs[Long]("hot_key") === 3L)
    assert(rt.getAs[Long]("hot_count") === 2L)
    assert(rt.getAs[Long]("salt_advised") === 1L) // 5 rows: 2/5 = 40% > 1%
  }

  test("forget cascade replays in plain JVM: victims, FK closure, survivor XOR") {
    // sf0.01: the 1/97 hash rule leaves sf0.001's 150 customers empty-set
    // prone; at 1500 customers the victim set is reliably non-trivial
    val dir = "/root/testdata/sf0.01"
    val cust = graft.Tables.customer(spark, dir).select("c_custkey")
      .collect().map(_.getLong(0))
    val ord = graft.Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val li = graft.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getLong(2), r.getLong(3)))
    val victims = cust.filter(k => jvmMd5Prefix(s"forget:$k", 10) % 97 == 0).toSet
    assert(victims.nonEmpty, "hash rule must select at least one victim at sf0.01")
    val ordDel = ord.filter { case (_, ck) => victims(ck) }.map(_._1).toSet
    val expect = Map(
      "customer" -> (cust.length.toLong, victims.size.toLong,
        cust.filter(!victims(_)).map(k => jvmMd5Prefix(k.toString, 14)).reduce(_ ^ _)),
      "orders" -> (ord.length.toLong, ordDel.size.toLong,
        ord.filter { case (_, ck) => !victims(ck) }
          .map { case (ok, ck) => jvmMd5Prefix(s"$ok|$ck", 14) }.reduce(_ ^ _)),
      "lineitem" -> (li.length.toLong, li.count { case (ok, _, _, _) => ordDel(ok) }.toLong,
        li.filter { case (ok, _, _, _) => !ordDel(ok) }
          .map { case (ok, ln, pk, sk) => jvmMd5Prefix(s"$ok|$ln|$pk|$sk", 14) }
          .reduce(_ ^ _)))
    val got = Maintenance.qForgetCascade(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("rows_before"), r.getAs[Long]("rows_deleted"),
          r.getAs[Long]("survivor_checksum")))
      .toMap
    expect.foreach { case (t, (before, del, ck)) =>
      assert(got(t)._1 === before, s"$t rows_before")
      assert(got(t)._2 === del, s"$t rows_deleted")
      assert(got(t)._3 === ck, s"$t survivor_checksum")
    }
  }

  test("snapshot diff: every key classifies by its residue; drift = 500 per changed row") {
    val keys = graft.Tables.orders(spark, sfDir).select("o_orderkey")
      .collect().map(_.getLong(0))
    def xor(ks: Seq[Long]): Long =
      ks.map(k => jvmMd5Prefix(k.toString, 14)).reduce(_ ^ _)
    val expect = Map(
      "added" -> keys.filter(_ % 10 == 3),
      "deleted" -> keys.filter(_ % 10 == 4),
      "changed" -> keys.filter(_ % 10 == 7),
      "unchanged" -> keys.filter(k => k % 10 != 3 && k % 10 != 4 && k % 10 != 7))
    val got = Maintenance.qSnapshotDiff(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("key_checksum"),
          r.getAs[Long]("cents_drift")))
      .toMap
    expect.foreach { case (st, ks) =>
      assert(got(st)._1 === ks.length.toLong, s"$st count")
      assert(got(st)._2 === xor(ks.toSeq), s"$st checksum")
    }
    assert(got("changed")._3 === 500L * expect("changed").length)
    assert(got("added")._3 === 0L)
    assert(got("deleted")._3 === 0L)
  }
}
