package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table.
  *
  * `wordcount` is the reference's flagship capability (mr-bins/map/map.cpp +
  * mr-bins/reduce/reduce.cpp composed) re-expressed declaratively; the rest
  * are the text-pipeline operators a training-data pipeline needs: token
  * counting, language ID (marker-word n-gram heuristic), quality scoring and
  * content fingerprinting.
  *
  * All ops are pure column expressions (split/filter/transform/aggregate on
  * arrays) — no UDFs, no collect, one narrow projection per document, so at
  * 100 TB each stays a single embarrassingly-parallel scan stage; only
  * wordcount shuffles (on the word, with map-side partial counts).
  */
object TextOps {

  /** DuckDB rendering of the shared tokenizer
    * ([[graft.functions.NativeExprs.tokens]] — lowercase, split on runs of
    * Java-whitespace, empties dropped) — keep in lockstep with that native
    * kernel (the only tokenizer the Spark side uses). The whitespace class
    * is spelled out because RE2 (DuckDB's regex engine) does NOT include
    * vertical tab 0x0B in `\\s` while Java does — a bare '\\s+' here would
    * silently diverge on any document containing a vertical tab. */
  val tokensSql =
    "list_filter(string_split_regex(lower(text), '[\\t\\n\\v\\f\\r ]+'), x -> x <> '')"

  /** DuckDB twin of [[graft.operators.Dedup.fingerprint]] (md5 over
    * whitespace-normalized lowercased text) — ONE definition shared by
    * every oracle that fingerprints; same spelled-out whitespace class
    * as the tokenizer above. */
  val fingerprintSql: String =
    """md5(regexp_replace(lower(text), '[\t\n\v\f\r ]+', ' ', 'g'))"""

  /** Shared with [[Dedup.qPipelineClean]]'s quality floor. */
  private[operators] val stopwordList =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")
  private val stopwords = stopwordList
  private def sqlList(words: Seq[String]): String = words.mkString("('", "', '", "')")

  /** Classic wordcount, Spark-first: explode → partial-agg count → order.
    * Tokenization is the native one-pass [[graft.functions.Tokens]]. */
  def qWordcount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  private val qWordcountSql =
    s"""SELECT w AS word, count(*) AS cnt
       |FROM (SELECT unnest($tokensSql) AS w FROM documents)
       |GROUP BY w ORDER BY word""".stripMargin

  /** Token counting: whitespace tokens plus a BPE-ish subword estimate
    * (ceil(len/4) per word — a deterministic proxy for byte-pair tokenizer
    * counts). One native pass ([[graft.functions.TextStats]]). */
  def qTokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        graft.functions.NativeExprs.textStats(col("text"), stopwords).as("st"))
      .select(
        col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        col("st.n_words").as("n_words"),
        col("st.n_subwords").as("n_subwords"))
      .orderBy("doc_id")

  private val qTokenCountSql =
    s"""SELECT doc_id,
       |  len($tokensSql)::BIGINT AS n_tokens,
       |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_words,
       |  list_sum(list_transform($tokensSql,
       |                          x -> CAST(ceil(length(x) / 4.0) AS BIGINT)))::BIGINT AS n_subwords
       |FROM documents ORDER BY doc_id""".stripMargin

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "los", "y", "es", "las"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "zh" -> Seq("的", "是", "了"))

  // ---------------------------------------------------------- language ID

  /** Weight resolution for the trigram model: log-probabilities are
    * stored as floor(ln(p) * LidScale) BIGINTs (0.0001-nat steps), so
    * per-doc scores are INTEGER sums — order-independent, exact, and
    * bit-identical between Spark and the DuckDB oracle (double log-prob
    * sums would diverge in the low bits on summation order alone). */
  private val LidScale = 10000L

  /** Per-language profile cap: only each language's LidTopK most
    * frequent trigrams carry individual weights (tiebreak count desc,
    * trigram asc — deterministic); everything else scores the
    * language's unseen-trigram floor. Bounds the broadcast model at
    * langs × LidTopK entries no matter how large the corpus — the
    * Cavnar–Trenkle observation that the profile head carries the
    * signal. */
  private val LidTopK = 2000

  /** Char trigrams of the whitespace-normalized, space-padded lowercase
    * text (`' ' + tokens.mkString(" ") + ' '`) — padding lets boundary
    * trigrams ("th " vs " th") carry positional signal. Empty / null
    * text yields an empty array (the doc then scores prior-only). One
    * native pass ([[graft.functions.CharTrigrams]]); the composed-HOF
    * formulation re-evaluated the normalization per position (O(len²) —
    * 23 s of the 38 s q_lang_id regression it caused at sf0.1). */
  private[operators] def lidTrigrams(text: Column): Column =
    graft.functions.NativeExprs.charTrigrams(text)

  /** Fit the naive-Bayes char-trigram model over a `lang`-labeled corpus:
    * rows (kind, lang, t, w) where kind `w` carries a top-K trigram's
    * floor-scaled log P(t|lang) (+1 smoothing over the corpus trigram
    * vocabulary), `dw` the language's unseen-trigram floor, and `prior`
    * its floor-scaled log P(lang). One explode + groupBy(lang, t)
    * shuffle; the collect is bounded at langs × [[LidTopK]] + 2·langs
    * rows by the profile cap, never by corpus size. */
  private[operators] def langIdModelRows(s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnts = docs
      .select(col("lang"), explode(lidTrigrams(col("text"))).as("t"))
      .groupBy("lang", "t")
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val v = cnts.select("t").distinct().count()
      val tots = cnts.groupBy("lang").agg(sum("c").as("tot")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nByLang = docs.groupBy("lang").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nDocs = math.max(nByLang.values.sum, 1L)
      val topk = cnts
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("c").desc, col("t"))))
        .filter(col("rn") <= LidTopK)
        .select("lang", "t", "c")
        .collect()
      val langs = nByLang.keys.toSeq.sorted
      def fl(x: Double): Long = math.floor(x * LidScale).toLong
      val wRows = topk.toSeq.map { r =>
        val (l, t, c) = (r.getString(0), r.getString(1), r.getLong(2))
        ("w", l, t, fl(math.log((c + 1).toDouble / (tots(l) + v))))
      }
      val dwRows = langs.map(l =>
        ("dw", l, null: String, fl(math.log(1.0 / (tots.getOrElse(l, 0L) + v + 1)))))
      val prRows = langs.map(l =>
        ("prior", l, null: String, fl(math.log(nByLang(l).toDouble / nDocs))))
      import s.implicits._
      (wRows ++ dwRows ++ prRows).toDF("kind", "lang", "t", "w")
    } finally cnts.unpersist()
  }

  /** Score `docs` against a collected model ([[langIdModelRows]] rows):
    * appends one `{lang}_score` BIGINT per model language plus the
    * argmax `predicted` (ties break to the alphabetically first
    * language). The model rides the plan as EXPRESSION STATE
    * ([[graft.functions.LangIdScores]] — a hash table bounded by the
    * profile cap, broadcast with the task closure), so scoring is a
    * single embarrassingly-parallel scan: one normalize-trigram-
    * accumulate kernel pass per doc, no trigram array materialized, no
    * join, no shuffle, at any corpus size. Returns the scored frame
    * plus the language order the score columns follow. */
  private[operators] def langIdScored(
      docs: DataFrame, model: Array[org.apache.spark.sql.Row]): (DataFrame, Seq[String]) = {
    val langs = model.filter(_.getString(0) == "prior").map(_.getString(1)).sorted.toSeq
    val idx = langs.zipWithIndex.toMap
    val dw = Array.fill(langs.size)(0L)
    model.filter(_.getString(0) == "dw").foreach(r => dw(idx(r.getString(1))) = r.getLong(3))
    val prior = Array.fill(langs.size)(0L)
    model.filter(_.getString(0) == "prior").foreach(r => prior(idx(r.getString(1))) = r.getLong(3))
    val byT = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    model.filter(_.getString(0) == "w").foreach { r =>
      val arr = byT.getOrElseUpdate(r.getString(2), dw.clone())
      arr(idx(r.getString(1))) = r.getLong(3)
    }
    // coalesce: a NULL text must score prior-only (empty trigram set),
    // matching the oracle's left joins — the kernel's null-safe eval
    // would otherwise yield NULL scores where DuckDB predicts best-prior
    val scores = graft.functions.NativeExprs.langIdScores(
      coalesce(col("text"), lit("")), langs,
      byT.iterator.map { case (k, a) => k -> a.toSeq }.toMap,
      dw.toSeq, prior.toSeq)
    val scored = docs
      .withColumn("__sc", scores)
      .withColumn("predicted",
        element_at(typedLit(langs),
          array_position(col("__sc"), array_max(col("__sc"))).cast("int")))
    val withCols = langs.zipWithIndex.foldLeft(scored) { case (df, (l, i)) =>
      df.withColumn(s"${l}_score", element_at(col("__sc"), i + 1))
    }
    (withCols.drop("__sc"), langs)
  }

  /** Language ID: smoothed naive-Bayes over char TRIGRAM PROFILES
    * (Cavnar & Trenkle 1994's features, NB scoring), trained on the
    * corpus's labeled `lang` column, persisted as a warehouse artifact
    * (`graft_lid_model` — the fit is paid once per warehouse, across
    * JVMs) and applied as a broadcast-literal single-scan expression.
    * All weights are floor-scaled-integer log-probs ([[LidScale]]), so
    * the DuckDB oracle reproduces scores and argmax bit-exactly.
    * The marker-word hit columns of the pre-r14 heuristic remain as
    * interpretable per-doc evidence ([[graft.functions.TokenSetCounts]]
    * — on a real multilingual corpus they are the strongest single
    * features); the DECISION is the trigram model's. */
  def qLangId(s: SparkSession, d: String): DataFrame = {
    val model = graft.sources.Warehouse
      .ensureAndRead(s, "graft_lid_model", d, "lang", 1)(
        langIdModelRows(s, Tables.documents(s, d)))
      .collect() // bounded: langs × LidTopK + 2·langs rows
    val hitsArr = graft.functions.NativeExprs.tokenSetCounts(col("text"), markers.map(_._2))
    val (scored, langs) = langIdScored(
      Tables.documents(s, d).select(col("doc_id"), col("text"), hitsArr.as("h")), model)
    scored
      .select(
        (col("doc_id") +:
          markers.zipWithIndex.map { case ((lang, _), i) =>
            element_at(col("h"), i + 1).as(s"${lang}_hits")
          }) ++
          langs.map(l => col(s"${l}_score")) :+
          col("predicted"): _*)
      .orderBy("doc_id")
  }

  /** Marker-hit projection — the per-doc evidence columns. */
  private val langIdHitsSql = markers
    .map { case (lang, ws) =>
      s"len(list_filter($tokensSql, x -> x IN ${sqlList(ws)}))::BIGINT AS ${lang}_hits"
    }
    .mkString(",\n  ")

  /** The full trigram-NB train + score pipeline in DuckDB SQL — CTEs
    * ending in `lid_pred(doc_id, {lang}_score…, predicted)`. Mirrors
    * [[langIdModelRows]]/[[langIdScored]] exactly: same normalization,
    * same +1/(tot+V) smoothing, same floor(ln·SCALE) integer weights,
    * same top-K cap and tiebreaks. The five pivot languages are the
    * corpus's fixed label set (the Spark side derives them from data).
    * Docs with no trigrams score prior-only via the left joins. */
  private val lidCtesSql =
    s"""lid_norm AS (
       |  SELECT doc_id, ' ' || array_to_string($tokensSql, ' ') || ' ' AS s
       |  FROM documents),
       |lid_tr AS (
       |  SELECT doc_id, unnest(list_transform(range(1, length(s) - 1), i -> substr(s, i, 3))) AS t
       |  FROM lid_norm),
       |lid_cnt AS (
       |  SELECT d.lang, tr.t, count(*) AS c
       |  FROM lid_tr tr JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |lid_tot AS (SELECT lang, sum(c) AS tot FROM lid_cnt GROUP BY 1),
       |lid_v AS (SELECT count(DISTINCT t) AS v FROM lid_cnt),
       |lid_w AS (
       |  SELECT k.lang, k.t,
       |    floor(ln((k.c + 1)::DOUBLE / (tt.tot + lid_v.v)) * $LidScale)::BIGINT AS w
       |  FROM (
       |    SELECT lang, t, c,
       |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, t) AS rn
       |    FROM lid_cnt) k
       |  JOIN lid_tot tt USING (lang) CROSS JOIN lid_v
       |  WHERE k.rn <= $LidTopK),
       |lid_dw AS (
       |  SELECT d.lang,
       |    floor(ln(1.0 / (coalesce(tt.tot, 0) + lid_v.v + 1)) * $LidScale)::BIGINT AS dw
       |  FROM (SELECT DISTINCT lang FROM documents) d
       |  LEFT JOIN lid_tot tt USING (lang) CROSS JOIN lid_v),
       |lid_prior AS (
       |  SELECT lang,
       |    floor(ln(count(*)::DOUBLE / (SELECT count(*) FROM documents)) * $LidScale)::BIGINT AS pw
       |  FROM documents GROUP BY 1),
       |lid_dt AS (SELECT doc_id, t, count(*) AS dc FROM lid_tr GROUP BY 1, 2),
       |lid_sc AS (
       |  SELECT dt.doc_id, dw.lang AS cand, sum(dt.dc * coalesce(w.w, dw.dw)) AS s
       |  FROM lid_dt dt
       |  CROSS JOIN lid_dw dw
       |  LEFT JOIN lid_w w ON w.lang = dw.lang AND w.t = dt.t
       |  GROUP BY 1, 2),
       |lid_full AS (
       |  -- ::BIGINT: DuckDB's sum(BIGINT) is HUGEINT, which pandas
       |  -- renders as float ("-123.0") and would fail the string compare
       |  SELECT d.doc_id, p.lang AS cand, (coalesce(sc.s, 0) + p.pw)::BIGINT AS score
       |  FROM documents d
       |  CROSS JOIN lid_prior p
       |  LEFT JOIN lid_sc sc ON sc.doc_id = d.doc_id AND sc.cand = p.lang),
       |lid_rk AS (
       |  SELECT doc_id, cand, score,
       |    first_value(cand) OVER (
       |      PARTITION BY doc_id ORDER BY score DESC, cand) AS predicted
       |  FROM lid_full),
       |lid_pred AS (
       |  SELECT doc_id,
       |    max(CASE WHEN cand = 'de' THEN score END) AS de_score,
       |    max(CASE WHEN cand = 'en' THEN score END) AS en_score,
       |    max(CASE WHEN cand = 'es' THEN score END) AS es_score,
       |    max(CASE WHEN cand = 'fr' THEN score END) AS fr_score,
       |    max(CASE WHEN cand = 'zh' THEN score END) AS zh_score,
       |    min(predicted) AS predicted
       |  FROM lid_rk GROUP BY doc_id)""".stripMargin

  private val qLangIdSql =
    s"""WITH $lidCtesSql
       |SELECT h.doc_id, h.en_hits, h.de_hits, h.es_hits, h.fr_hits, h.zh_hits,
       |  p.de_score, p.en_score, p.es_score, p.fr_score, p.zh_score, p.predicted
       |FROM (SELECT doc_id,
       |  $langIdHitsSql
       |FROM documents) h
       |JOIN lid_pred p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Language-ID confusion matrix against the labeled `lang` column —
    * the model card that tells a pipeline operator how far to trust the
    * classifier per language before using it as a filter. Reuses
    * [[qLangId]]'s prediction wholesale (the eval must grade the
    * classifier that actually runs, not a twin).
    *
    * Honesty note, measured on this corpus: the synthetic lang slices
    * share ONE vocabulary with indistinguishable word distributions
    * (per-word share spread ≤0.4% ≈ sampling noise), so NO content
    * classifier can beat the 43.6% majority-class rate out of sample —
    * leave-one-doc-out scores ~22% (chance). The resubstitution
    * accuracy this card reports (~57% at sf0.01, vs the pre-r14 marker
    * heuristic's 39.6%) therefore comes from self-inclusion: each doc's
    * trigrams are part of its own label's profile, a lift that decays
    * as the corpus grows (~36% at sf0.1). The planted-corpus spec in
    * ExtrasSpec shows the same model at ~100% OUT-of-sample when the
    * labels actually carry char-level signal — which is the deployment
    * case this operator exists for. */
  def qLangIdEval(s: SparkSession, d: String): DataFrame =
    qLangId(s, d)
      .select("doc_id", "predicted")
      .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  private val qLangIdEvalSql =
    s"""WITH $lidCtesSql
       |SELECT d.lang, p.predicted, count(*) AS n
       |FROM lid_pred p JOIN documents d USING (doc_id)
       |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  /** Quality scoring: length/stopword/char-class ratios composed into a
    * single score — the heuristic filter stage of a data pipeline. */
  def qQuality(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableRound.pround
    val st = graft.functions.NativeExprs.textStats(col("text"), stopwords)
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"), st.as("st"))
    val nTok = col("st.n_tokens").cast("double")
    val charsInTokens = col("st.sum_token_len").cast("double")
    val stopHits = col("st.stop_hits").cast("double")
    val alnum = col("st.n_alnum").cast("double")
    base
      .select(
        col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        pround(charsInTokens / nTok, 4).as("avg_token_len"),
        pround(stopHits / nTok, 4).as("stopword_ratio"),
        pround(alnum / length(col("text")).cast("double"), 4).as("alnum_ratio"),
        pround(
          least(nTok / lit(100.0), lit(1.0)) * 0.5 +
            least(stopHits / nTok * lit(5.0), lit(1.0)) * 0.3 +
            (alnum / length(col("text")).cast("double")) * 0.2,
          4).as("quality_score"))
      .orderBy("doc_id")
  }

  /** The pround-4 quality-score SQL expression — ONE definition shared by
    * q_quality and q_quality_gate so the gate can't drift from the score. */
  private def qualityScoreSql: String = {
    import graft.functions.PortableRound.{proundSql => pr}
    val t = tokensSql
    val stop = sqlList(stopwords)
    pr(
      s"least(len($t) / 100.0, 1.0) * 0.5 " +
        s"+ least(len(list_filter($t, x -> x IN $stop))::DOUBLE / len($t) * 5.0, 1.0) * 0.3 " +
        "+ length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE / length(text) * 0.2",
      4)
  }

  private val qQualitySql = {
    import graft.functions.PortableRound.{proundSql => pr}
    val t = tokensSql
    val stop = sqlList(stopwords)
    s"""SELECT doc_id,
       |  len($t)::BIGINT AS n_tokens,
       |  length(text)::BIGINT AS n_chars,
       |  ${pr(s"list_sum(list_transform($t, x -> length(x)))::DOUBLE / len($t)", 4)} AS avg_token_len,
       |  ${pr(s"len(list_filter($t, x -> x IN $stop))::DOUBLE / len($t)", 4)} AS stopword_ratio,
       |  ${pr("length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE / length(text)", 4)} AS alnum_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Repetition ratio: 1 − distinct-bigram / total-bigram fraction over
    * the whitespace tokens — the Gopher/C4-style "repetitious document"
    * quality signal (boilerplate and looping generations score high).
    * Pure array expressions on one narrow scan: adjacent-token bigrams via
    * zip_with over two shifted slices, dedup via array_distinct — no
    * shuffle, no UDF. Docs with <2 tokens define ratio 0. */
  def qRepetition(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableRound.pround
    val toks = graft.functions.NativeExprs.tokens(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    Tables.documents(s, d)
      .select(col("doc_id"), bigrams.as("bg"))
      .select(
        col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_unique"),
        when(size(col("bg")) > 0,
          pround(lit(1.0) - size(array_distinct(col("bg"))).cast("double") /
            size(col("bg")).cast("double"), 4))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy("doc_id")
  }

  private val qRepetitionSql = {
    import graft.functions.PortableRound.{proundSql => pr}
    val bg = s"list_transform(range(1, len($tokensSql)), i -> " +
      s"$tokensSql[i] || ' ' || $tokensSql[i+1])"
    s"""SELECT doc_id,
       |  len(bg)::BIGINT AS n_bigrams,
       |  len(list_distinct(bg))::BIGINT AS n_unique,
       |  CASE WHEN len(bg) > 0
       |    THEN ${pr("1.0 - len(list_distinct(bg))::DOUBLE / len(bg)", 4)}
       |    ELSE 0.0 END AS rep_ratio
       |FROM (SELECT doc_id, $bg AS bg FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercased text —
    * the exact-dedup key. (A rolling-hash winnowing fingerprint lives in
    * Dedup.qMinHash's shingle machinery; md5 is the engine-portable one.) */
  def qFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        Dedup.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  private val qFingerprintSql =
    s"""SELECT doc_id,
       |  $fingerprintSql AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  // PII patterns, written to the common subset of Java regex (Spark) and
  // RE2 (DuckDB): character classes, bounded repetition and \b behave
  // identically in both. Lookarounds/backreferences (Java-only) are
  // deliberately avoided.
  private[operators] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** The identical-on-both-engines PII-bearing derivation (see
    * [[qPiiRedact]]); exposed so specs can rescan redacted output. */
  private[operators] def piiDerived: Column = concat(
    col("text"),
    when(
      col("doc_id") % 3 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com")))
      .otherwise(lit("")),
    when(
      col("doc_id") % 2 === 0,
      concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
      .otherwise(lit("")))

  /** PII redaction: find-and-mask emails and IPv4s, emitting match counts
    * plus an md5 fingerprint of the redacted text (full-text equality
    * proof without shipping the text through the gate). The synthetic
    * corpus contains no PII, so both engines first derive an identical
    * PII-bearing text (an email appended when doc_id % 3 = 0, an IP when
    * doc_id % 2 = 0) — docs matching neither also prove the patterns
    * don't false-positive on clean text. One narrow scan, no shuffle; at
    * 100 TB this is the same embarrassingly-parallel shape as the other
    * text ops. */
  def qPiiRedact(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), piiDerived.as("t"))
      .select(
        col("doc_id"),
        regexp_count(col("t"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(ipRe)).cast("long").as("n_ips"),
        regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"), ipRe, "<IP>").as("r"))
      .select(
        col("doc_id"),
        col("n_emails"),
        col("n_ips"),
        length(col("r")).cast("long").as("redacted_len"),
        md5(col("r")).as("redacted_fp"))
      .orderBy("doc_id")
  }

  private val qPiiRedactSql =
    s"""SELECT doc_id, n_emails, n_ips,
       |  length(r)::BIGINT AS redacted_len, md5(r) AS redacted_fp
       |FROM (
       |  SELECT doc_id,
       |    len(regexp_extract_all(t, '$emailRe'))::BIGINT AS n_emails,
       |    len(regexp_extract_all(t, '$ipRe'))::BIGINT AS n_ips,
       |    regexp_replace(regexp_replace(t, '$emailRe', '<EMAIL>', 'g'),
       |                   '$ipRe', '<IP>', 'g') AS r
       |  FROM (
       |    SELECT doc_id, text
       |      || CASE WHEN doc_id % 3 = 0
       |           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
       |           ELSE '' END
       |      || CASE WHEN doc_id % 2 = 0
       |           THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
       |           ELSE '' END AS t
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** TF-IDF keyword extraction: top-5 terms per document by scaled
    * integer tf-idf. The score is `tf · N · 10⁶ // df` — numerator and
    * divisor exact integers, ranked on the integral quotient, so the
    * ranking has no float in it anywhere (ln-based idf would hang the
    * ordering on libm ulps). At 100 TB: tf is one shuffle on
    * (doc, term), df re-aggregates the already-(doc,term)-distinct tf
    * table (hot terms contribute ≤ one row per doc, never per
    * occurrence), the corpus size joins in as a broadcast single row,
    * and the per-doc top-5 is a window rank on the doc key. */
  def qTfidf(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), explode(graft.functions.NativeExprs.tokens(col("text"))).as("term"))
    val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = broadcast(Tables.documents(s, d).agg(count(lit(1)).as("n_docs")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfT, "term")
      .crossJoin(n)
      .withColumn("score", expr("tf * n_docs * 1000000 div df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("doc_id", "term", "tf", "df", "score")
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }

  private[operators] val qTfidfSql =
    s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df, tf * n_docs * 1000000 // df AS score
       |  FROM tf JOIN df USING (term), n)
       |SELECT doc_id, term, tf, df, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
       |  FROM scored)
       |WHERE rk <= 5
       |ORDER BY doc_id, score DESC, term""".stripMargin

  private val BpeMerges = 8

  /** SQL-literal escape for a symbol riding inside an expr() string. */
  private def symLit(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** One greedy left-to-right merge pass of pair (a,b) over a symbol
    * array, as a pure HOF fold (no UDF). Correctness of the plain fold:
    * the merged symbol a||b can never EQUAL a (b is nonempty), so a
    * just-merged output symbol can't immediately re-match as the left
    * side of the same pair — the fold is exactly the non-overlapping
    * left-to-right pass of classic BPE (e.g. [x,x,x] under (x,x) →
    * [xx,x], never [xxx]). HOFs are CodegenFallback, which is fine HERE:
    * this runs on the VOCABULARY table (distinct types), never the
    * corpus token stream. */
  private def mergePass(symsCol: String, a: String, b: String): Column = {
    val (la, lb) = (symLit(a), symLit(b))
    expr(
      s"""aggregate($symsCol, cast(array() as array<string>), (out, x) ->
         |  CASE WHEN size(out) > 0 AND element_at(out, size(out)) = $la AND x = $lb
         |    THEN concat(slice(out, 1, size(out) - 1), array(concat($la, $lb)))
         |    ELSE concat(out, array(x)) END)""".stripMargin)
  }

  /** The learned merge table of [[qBpeTrain]] over an arbitrary
    * (w, freq) vocabulary — factored out so the planted-corpus spec can
    * drive it directly. Returns (rank, left_sym, right_sym, cnt). */
  private[operators] def bpeTrainFrom(s: SparkSession, types0: DataFrame, rounds: Int)
      : Seq[(Long, String, String, Long)] = {
    // filter the zero-width-split artifacts (Spark split keeps trailing
    // empty strings at limit -1) — a phantom '' symbol would corrupt
    // every pair count
    val start = types0
      .select(col("freq"), expr("filter(split(w, ''), x -> x <> '')").as("syms"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // the per-round 1-row argmax collect IS the merge rule (driver state
    // by definition); the observed count of words that still hold a pair
    // is 0 exactly when the next collect would come back empty
    Iterate.fixpointObservedBy(start, rounds) { (types, r) =>
      val top = types
        .filter(size(col("syms")) >= 2)
        .select(
          col("freq"),
          explode(expr(
            "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS a, syms[i+1] AS b))"))
            .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) types // a seed with no pair at all
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r + 1L, a, b, cnt))
        types.select(col("freq"), mergePass("syms", a, b).as("syms"))
      }
    } (Seq(sum(when(size(col("syms")) >= 2, 1L).otherwise(0L))))(Iterate.noneLeft)
    merges.toSeq
  }

  private val BpeFullMerges = 32768
  private val BpeMaxTrainTypes = 65536

  /** Tie-break in UTF-8 BYTE order — Spark's orderBy compares UTF8String
    * bytes, and Java String `<` (UTF-16 code units) orders supplementary
    * characters (surrogate lead 0xD800) BELOW U+E000..U+FFFF while UTF-8
    * orders them above; the agreement contract between the in-JVM
    * trainers and the distributed/DuckDB sides is byte order. Shared by
    * the BPE and unigram trainers. */
  private[operators] def ltUtf8(x: String, y: String): Boolean = {
    val bx = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val by = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(bx.length, by.length)
    while (i < n) {
      val c = (bx(i) & 0xff) - (by(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    bx.length < by.length
  }

  /** In-JVM greedy merge pass — the reference semantics [[mergePass]]'s
    * HOF fold mirrors; shared by the collected trainer and specs. */
  private[operators] def mergePassJvm(
      syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (x <- syms) {
      if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
      else out += x
    }
    out.toArray
  }

  /** REALISTIC-depth BPE trainer: the merge loop runs in-JVM over the
    * COLLECTED vocabulary with incrementally-maintained pair counts, so
    * 32k merges cost 32k cheap map updates instead of 32k Spark jobs
    * ([[bpeTrainFrom]]'s one-job-per-round shape is the right spec
    * cross-check but caps out at demo round counts). This is the
    * standard distributed-BPE architecture (subword-nmt / SentencePiece
    * trainers): the CORPUS-scale work — the wordcount building the type
    * table — stays distributed; the merge loop touches only the bounded
    * type table. Tie-break identical to [[bpeTrainFrom]]: (cnt DESC,
    * a ASC, b ASC).
    *
    * Incremental maintenance: global pair→count map plus a pair→word-set
    * index; a merge reprocesses only the words CONTAINING the winning
    * pair (subtract their pair contributions, run the merge pass, re-add)
    * — the index is maintained lazily (membership re-checked at merge
    * time), which keeps updates O(affected words × word length). The
    * per-round argmax is a linear scan of the live pair map — fine to
    * ~10⁵ pairs × 32k rounds; a production trainer at larger vocabularies
    * would sit a heap over it (same semantics, pure optimization). */
  private[operators] def bpeTrainCollected(
      types0: Array[(String, Long)], maxRounds: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val freqs = types0.map(_._2)
    // split by CODE POINT, not UTF-16 code unit: Spark's split(w, '')
    // and DuckDB's string_split(w, '') both keep supplementary
    // characters whole, and toCharArray would shear them into lone
    // surrogates (diverging pair counts AND corrupting the UTF-8
    // tie-break, which encodes lone surrogates as '?')
    val words: Array[Array[String]] =
      types0.map(_._1.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))))
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occurs = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addWord(i: Int, sign: Long): Unit = {
      val syms = words(i); val f = freqs(i) * sign
      var j = 0
      while (j < syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        val c = counts.getOrElse(p, 0L) + f
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0) occurs.getOrElseUpdate(p, mutable.BitSet.empty) += i
        j += 1
      }
    }
    def containsPair(syms: Array[String], a: String, b: String): Boolean = {
      var j = 0
      while (j < syms.length - 1) {
        if (syms(j) == a && syms(j + 1) == b) return true
        j += 1
      }
      false
    }
    words.indices.foreach(addWord(_, 1L))
    val merges = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    while (r <= maxRounds && counts.nonEmpty) {
      var bp: (String, String) = null
      var bc = Long.MinValue
      for ((p, c) <- counts)
        if (c > bc || (c == bc &&
            (ltUtf8(p._1, bp._1) ||
              (p._1 == bp._1 && ltUtf8(p._2, bp._2))))) { bp = p; bc = c }
      val (a, b) = bp
      merges += ((r.toLong, a, b, bc))
      // occurs is LAZY (stale word ids survive un-merges), so re-check
      // membership before paying the reprocess
      for (i <- occurs.getOrElse(bp, mutable.BitSet.empty))
        if (containsPair(words(i), a, b)) {
          addWord(i, -1L)
          words(i) = mergePassJvm(words(i), a, b)
          addWord(i, 1L)
        }
      occurs.remove(bp)
      r += 1
    }
    merges.toSeq
  }

  /** BPE training at PRODUCTION merge depth (32k rounds): distributed
    * type-table build (the only corpus-scale work — one combiner-backed
    * wordcount), then the [[bpeTrainCollected]] in-JVM merge loop. The
    * driver pull is explicitly bounded to the [[BpeMaxTrainTypes]] =
    * 64k most frequent types ((freq DESC, w) — deterministic), the
    * standard trainer truncation (rare types carry negligible pair mass
    * and real trainers min-freq/cap them anyway); this keeps the pull
    * inside SCALE.md's ≤64k-row driver policy at ANY corpus size. Runs
    * to pair exhaustion when the vocabulary supports fewer than 32k
    * merges. First [[BpeMerges]] rules provably equal [[qBpeTrain]]'s
    * (agreement spec) — deterministic but loop-carried, so no SQL
    * oracle at this depth; the 8-round prefix is hash-gated through
    * q_bpe_train's unrolled-CTE oracle. */
  def qBpeTrainFull(s: SparkSession, d: String): DataFrame = {
    val tbl = ensureBpeFullMerges(s, d)
    s.table(tbl).orderBy("rank")
  }

  /** Build-once PERSISTED production-depth BPE merge table — the trained
    * artifact of [[qBpeTrainFull]] stored once per warehouse (the
    * `ensureIvfBase` pattern): at 100 TB the trainer's wordcount is the
    * expensive step, and before this it was paid twice per sweep (train
    * + the prefix check). */
  private def ensureBpeFullMerges(s: SparkSession, d: String): String = {
    val tbl = graft.sources.Warehouse.tableName("graft_bpe_merges", d)
    graft.sources.Warehouse.ensureVia(s, tbl, srcDir = d) {
      val types = Tables.documents(s, d)
        .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w"))
        .limit(BpeMaxTrainTypes)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val merges = bpeTrainCollected(types, BpeFullMerges)
      import s.implicits._
      merges.toDF("rank", "left_sym", "right_sym", "cnt")
        .coalesce(1).write.saveAsTable(tbl)
    }
    tbl
  }

  /** Driver-visible gate row for [[qBpeTrainFull]] (the kmeans-check
    * pattern): the 32k-round collected-vocab trainer's first
    * [[BpeMerges]] rules must equal the distributed 8-round table that
    * IS hash-gated through the unrolled-CTE oracle — same wordcount,
    * same (cnt DESC, pair ASC) tie-break, code-point split. The oracle
    * pins prefix_match=true, so a trainer divergence breaks the
    * driver's gate instead of only the local agreement spec. */
  def qBpeTrainFullCheck(s: SparkSession, d: String): DataFrame = {
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val ok = rows(qBpeTrainFull(s, d)).take(BpeMerges) ==
      rows(qBpeTrain(s, d))
    import s.implicits._
    Seq(ok).toDF("prefix_match")
  }

  private val qBpeTrainFullCheckSql = "SELECT true AS prefix_match"

  /** BPE tokenizer TRAINING (Sennrich et al. 2016, arXiv:1508.07909):
    * learn the first R merge rules. The corpus-scale work is exactly ONE
    * combiner-backed wordcount producing the vocabulary (distinct word,
    * freq) table; every merge round after that runs on the VOCABULARY —
    * explode adjacent symbol pairs weighted by freq, combiner-backed
    * pair count, take the (cnt DESC, pair ASC) argmax (a 1-row collect —
    * the merge RULE is driver state by definition), rewrite symbol
    * arrays with [[mergePass]]. At 100 TB that's ~1e7 type rows per
    * round against ~1e12 corpus tokens — the loop never rescans the
    * corpus, which is what makes distributed BPE training tractable.
    * Oracle: the fixed round count lets the iterative argmax UNROLL into
    * chained CTEs ([[bpeCtesSql]]) — a full independent DuckDB replay,
    * so the merge table is hash-gated end to end; ExtrasSpec adds the
    * planted-vocabulary spec with hand-computable merges. */
  def qBpeTrain(s: SparkSession, d: String): DataFrame = {
    val types0 = Tables.documents(s, d)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))
    val merges = bpeTrainFrom(s, types0, BpeMerges)
    import s.implicits._
    merges.toDF("rank", "left_sym", "right_sym", "cnt").orderBy("rank")
  }

  /** Apply the [[qBpeTrain]]-learned merges and report per-source
    * subword FERTILITY (subtokens per word, exact ppm) — the data card
    * that tells you what a vocabulary actually costs per source before
    * committing to it. Production shape end-to-end: the merge rules are
    * learned once ([[bpeTrainFrom]] — vocabulary-table loop, one corpus
    * scan), each merge is applied to the VOCABULARY's symbol arrays (R
    * tiny passes over distinct types, never the corpus), and the
    * resulting word → piece-count map BROADCASTS to the corpus token
    * stream (plan-guarded) — the 1e12-token stream is scanned once and
    * never shuffles for the join. Oracle: the unrolled-round DuckDB
    * replay ([[bpeCtesSql]]) carries the fertility aggregation too, so
    * this is hash-gated; ExtrasSpec additionally recomputes the whole
    * pipeline in-JVM (independent merge/apply code). */
  def qBpeApply(s: SparkSession, d: String): DataFrame = {
    val wordPieces = s.table(ensureBpePieces(s, d))
    Tables.documents(s, d)
      .select(col("source"), explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .join(broadcast(wordPieces), "w")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subtokens"))
      .withColumn("fertility_ppm", expr("n_subtokens * 1000000 div n_words"))
      .orderBy("source")
  }

  /** Build-once PERSISTED word→piece-count map under the [[BpeMerges]]
    * trained rules: one distributed 8-round fit + merge application over
    * the TYPE table (never the corpus), stored per warehouse so
    * [[qBpeApply]]'s corpus pass is a single scan + broadcast join
    * against the stored table — no per-query retrain. */
  private def ensureBpePieces(s: SparkSession, d: String): String = {
    val tbl = graft.sources.Warehouse.tableName("graft_bpe_pieces", d)
    graft.sources.Warehouse.ensureVia(s, tbl, srcDir = d) {
      val types0 = Tables.documents(s, d)
        .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"))
        .cache() // read by the training loop and the apply pass
      val merges = bpeTrainFrom(s, types0, BpeMerges)
      var pieces = types0
        .select(col("w"), expr("filter(split(w, ''), x -> x <> '')").as("syms"))
      for ((_, a, b, _) <- merges)
        pieces = pieces.select(col("w"), mergePass("syms", a, b).as("syms"))
      pieces.select(col("w"), size(col("syms")).cast("long").as("n_sub"))
        .write.saveAsTable(tbl)
      types0.unpersist()
    }
    tbl
  }

  /** One DuckDB merge round r: argmax pair over the round-(r−1) type
    * table (same (cnt DESC, a, b) tie-break as [[bpeTrainFrom]]), then
    * the greedy left-to-right merge pass as a `list_reduce` fold.
    * DuckDB's `list_reduce` has no initial-accumulator form — it seeds
    * with the first element — so symbols are wrapped `[s]` first: the
    * seed `[s1]` is exactly what an empty-init fold would produce after
    * its first step (out empty → append). Slicing is 1-based INCLUSIVE
    * (`acc[:-1]` keeps the last element!), hence `acc[:len(acc)-1]`. */
  private def bpeMergeRoundSql(r: Int): String = {
    val prev = s"t${r - 1}"
    s"""pc$r AS MATERIALIZED (
       |  SELECT p['a'] AS a, p['b'] AS b, sum(freq)::BIGINT AS cnt
       |  FROM (SELECT freq,
       |          unnest(list_transform(range(1, len(syms)),
       |                 i -> {'a': syms[i], 'b': syms[i+1]})) AS p
       |        FROM $prev WHERE len(syms) >= 2)
       |  GROUP BY 1, 2),
       |m$r AS (
       |  (SELECT a, b, cnt FROM pc$r ORDER BY cnt DESC, a, b LIMIT 1)
       |  UNION ALL
       |  (SELECT NULL, NULL, NULL WHERE NOT EXISTS (SELECT 1 FROM pc$r))),
       |t$r AS (
       |  SELECT w, freq,
       |    list_reduce(list_transform(syms, s -> [s]),
       |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.a AND x[1] = m.b
       |                  THEN acc[:len(acc)-1] || [m.a || m.b] ELSE acc || x END) AS syms
       |  FROM $prev CROSS JOIN m$r m)""".stripMargin
  }

  /** Shared CTE chain for both BPE oracles: vocabulary build + char
    * split + [[BpeMerges]] unrolled merge rounds. The unroll is what
    * makes iterative BPE SQL-expressible without recursion: the round
    * count is a compile-time constant, so each round is a plain CTE
    * referencing the previous one — a genuinely independent replay
    * (list_reduce fold vs Spark's `aggregate` HOF, DuckDB wordcount vs
    * the combiner wordcount) that hash-gates the whole training loop. */
  private def bpeCtesSql: String =
    s"""vocab AS (
       |  SELECT w, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($tokensSql) AS w FROM documents) GROUP BY w),
       |t0 AS (SELECT w, freq,
       |         list_filter(string_split(w, ''), x -> x <> '') AS syms
       |       FROM vocab),
       |${(1 to BpeMerges).map(bpeMergeRoundSql).mkString(",\n")}""".stripMargin

  private val qBpeTrainSql: String =
    s"""WITH $bpeCtesSql
       |SELECT * FROM (
       |  ${(1 to BpeMerges)
            .map(r =>
              s"SELECT $r::BIGINT AS rank, a AS left_sym, b AS right_sym, cnt" +
                s" FROM m$r WHERE a IS NOT NULL")
            .mkString(" UNION ALL ")})
       |ORDER BY rank""".stripMargin

  private val qBpeApplySql: String =
    s"""WITH $bpeCtesSql,
       |wp AS (SELECT w, len(syms)::BIGINT AS n_sub FROM t$BpeMerges),
       |stream AS (SELECT source, unnest($tokensSql) AS w FROM documents)
       |SELECT source, count(*)::BIGINT AS n_words, sum(n_sub)::BIGINT AS n_subtokens,
       |  (sum(n_sub)::BIGINT * 1000000) // count(*)::BIGINT AS fertility_ppm
       |FROM stream JOIN wp USING (w)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- unigram-LM tokenizer trainer

  private val UnigramMaxPieceLen = 8
  private val UnigramSeedMulti = 256
  private[operators] val UnigramTargetMulti = 48
  private val UnigramEmRounds = 2

  /** Seed-candidate build for the unigram-LM (SentencePiece-style)
    * tokenizer trainer (Kudo 2018, arXiv:1804.10959) — the DISTRIBUTED
    * half of the trainer, and a fully hash-gated card on its own: every
    * substring of every vocabulary type up to [[UnigramMaxPieceLen]]
    * code points, counted per occurrence position and weighted by type
    * frequency. All single characters are kept (coverage guarantee);
    * multi-character candidates keep the top [[UnigramSeedMulti]] by
    * (cnt DESC, piece ASC).
    *
    * Scale shape: one combiner-backed wordcount over the corpus (the
    * only corpus-scale work), then substring explosion over the TYPE
    * table — ≤ maxLen·avgLen pieces per distinct type, never per corpus
    * token — into a second combiner-backed count; the multi-candidate
    * head is TakeOrderedAndProject, never a global sort. */
  def qUnigramSeed(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))
    val subs = vocab
      .select(
        col("freq"),
        explode(expr(
          s"""flatten(transform(sequence(1, length(w)), i ->
             |  transform(sequence(1, least($UnigramMaxPieceLen, length(w) - i + 1)),
             |            L -> substring(w, i, L))))""".stripMargin)).as("piece"))
      .groupBy("piece")
      .agg(sum("freq").as("cnt"))
    val chars = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(UnigramSeedMulti)
    chars.unionByName(multi)
      .select(col("piece"), col("cnt"), (length(col("piece")) === 1).as("is_char"))
      .orderBy(col("cnt").desc, col("piece"))
  }

  private val unigramSubsSql =
    s"""vocab AS (
       |  SELECT w, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($tokensSql) AS w FROM documents) GROUP BY w),
       |subs AS (
       |  SELECT substr(w, i, L) AS piece, sum(freq)::BIGINT AS cnt
       |  FROM vocab,
       |    LATERAL (SELECT unnest(generate_series(1, length(w))) AS i) gi,
       |    LATERAL (SELECT unnest(generate_series(1,
       |      least($UnigramMaxPieceLen, length(w) - i + 1))) AS L) gl
       |  GROUP BY 1)""".stripMargin

  private val qUnigramSeedSql =
    s"""WITH $unigramSubsSql,
       |multi AS (SELECT piece, cnt FROM subs WHERE length(piece) > 1
       |          ORDER BY cnt DESC, piece LIMIT $UnigramSeedMulti),
       |chars AS (SELECT piece, cnt FROM subs WHERE length(piece) = 1)
       |SELECT piece, cnt, (length(piece) = 1) AS is_char
       |FROM (SELECT * FROM chars UNION ALL SELECT * FROM multi)
       |ORDER BY cnt DESC, piece""".stripMargin

  /** In-JVM unigram-LM trainer core: hard-EM (Viterbi) over the COLLECTED
    * type table with EXACT rational probability comparisons, pruning the
    * weakest multi-character pieces until [[UnigramTargetMulti]] remain —
    * the bounded-loop half of the trainer, the same architecture as
    * [[bpeTrainCollected]] (corpus-scale work distributed, loop over the
    * bounded type/piece tables in-JVM).
    *
    * Determinism contract (this is a gate surface): a segmentation's
    * probability under piece counts c_i and total T is Π(c_i/T) — two
    * candidate segmentations with k and k' pieces compare EXACTLY via
    * cross-multiplied BigInt products (P·T^k' vs P'·T^k), no floating
    * log-sum anywhere. Ties break to fewer pieces, then to the longer
    * last piece. Counts are floored at 1 inside the E-step so pieces the
    * previous round never used (and coverage single-chars) remain
    * segmentable; the M-step stores the true (unfloored) Viterbi counts.
    * Pruning ranks multi-char pieces by (cnt DESC, piece UTF-8 ASC) and
    * keeps max(target, ⌊4/5·current⌋); single-char pieces are never
    * pruned (full coverage by construction — the trainer RAISES on an
    * unsegmentable type rather than emitting UNK silently).
    *
    * Scale note: the smoothing floor makes the learned vocabulary
    * deterministic but not exactly frequency-replication-invariant — a
    * near-tie between a never-used piece (floored to 1 regardless of
    * corpus size) and a barely-used one can flip under ×k replication
    * (UnigramProperties pins the invariants that DO survive: coverage,
    * character-mass conservation, the size formula, count agreement).
    * SentencePiece's probability floor behaves the same way. */
  /** Trainer result: the final vocabulary (piece → last-EM Viterbi count,
    * ranked) and each input TYPE's final piece count (the word→pieces map
    * the fertility card broadcasts). */
  private[operators] final case class UnigramResult(
      vocab: Seq[(String, Long)],
      typePieces: Array[(String, Long)])

  private[operators] def unigramTrainCollected(
      types: Array[(String, Long)],
      seed: Array[(String, Long)],
      targetMulti: Int): UnigramResult = {
    import scala.collection.mutable
    val words: Array[(Array[String], Long)] = types.map { case (w, f) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), f)
    }
    def cpLen(p: String): Int = p.codePointCount(0, p.length)
    var vocab: mutable.HashMap[String, Long] = mutable.HashMap(seed.toIndexedSeq: _*)

    val lastTypePieces = new Array[Long](words.length)
    def viterbiCounts(): mutable.HashMap[String, Long] = {
      java.util.Arrays.fill(lastTypePieces, 0L)
      val T = BigInt(vocab.valuesIterator.map(math.max(_, 1L)).sum)
      val out = mutable.HashMap.empty[String, Long]
      for (wi <- words.indices) {
        val (cps, f) = words(wi)
        val n = cps.length
        val bestP = new Array[BigInt](n + 1)
        val bestK = new Array[Int](n + 1)
        val back = new Array[Int](n + 1)
        bestP(0) = BigInt(1)
        for (j <- 1 to n) {
          var bp: BigInt = null; var bk = 0; var bl = 0
          for (l <- 1 to math.min(UnigramMaxPieceLen, j)) {
            if (bestP(j - l) != null) {
              val piece = cps.slice(j - l, j).mkString
              vocab.get(piece).foreach { c0 =>
                val p = bestP(j - l) * math.max(c0, 1L)
                val k = bestK(j - l) + 1
                val better =
                  if (bp == null) true
                  else {
                    val cmp = (p * T.pow(bk)).compare(bp * T.pow(k))
                    if (cmp != 0) cmp > 0
                    else if (k != bk) k < bk
                    else l > bl
                  }
                if (better) { bp = p; bk = k; bl = l }
              }
            }
          }
          bestP(j) = bp; bestK(j) = bk; back(j) = bl
        }
        require(bestP(n) != null,
          s"unigram trainer: type '${cps.mkString}' not coverable by the vocabulary")
        var j = n
        while (j > 0) {
          val l = back(j)
          val piece = cps.slice(j - l, j).mkString
          out(piece) = out.getOrElse(piece, 0L) + f
          lastTypePieces(wi) += 1L
          j -= l
        }
      }
      out
    }

    var continue = true
    while (continue) {
      for (_ <- 1 to UnigramEmRounds) {
        val counts = viterbiCounts()
        vocab = vocab.map { case (p, _) => p -> counts.getOrElse(p, 0L) }
      }
      val multis = vocab.keysIterator.filter(cpLen(_) > 1).toArray
      if (multis.length <= targetMulti) continue = false
      else {
        val keep = math.max(targetMulti, multis.length * 4 / 5)
        val ranked = multis.sortWith { (a, b) =>
          val (ca, cb) = (vocab(a), vocab(b))
          if (ca != cb) ca > cb else ltUtf8(a, b)
        }
        ranked.drop(keep).foreach(vocab.remove)
      }
    }
    UnigramResult(
      vocab.toSeq.sortWith { case ((a, ca), (b, cb)) =>
        if (ca != cb) ca > cb else ltUtf8(a, b)
      },
      // per-type piece counts of the LAST EM round — the segmentation the
      // final vocab counts were read from, so Σ typePieces·freq = Σ cnt
      types.indices.map(i => (types(i)._1, lastTypePieces(i))).toArray)
  }

  /** Build-once PERSISTED unigram-LM model — the `ensureIvfBase` pattern
    * applied to the trainer family: the EM fit is the expensive step (at
    * 100 TB, the wordcount + seed build scan the corpus), so it runs
    * exactly once per warehouse and lands as two tables — the final
    * vocabulary (`rank, piece, cnt, is_char`) and the per-type
    * segmentation map (`w, n_sub`). Train/fertility/check all probe the
    * stored tables; before this, the EM loop was re-fit three times per
    * gate sweep (train, fertility, train_check). */
  private def ensureUnigramModel(s: SparkSession, d: String): (String, String) = {
    val vocabTbl = graft.sources.Warehouse.tableName("graft_unigram_vocab", d)
    val piecesTbl = graft.sources.Warehouse.tableName("graft_unigram_pieces", d)
    // one fit feeds both tables; lazy so a fully-cached catalog skips it
    lazy val res = {
      val types = Tables.documents(s, d)
        .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w"))
        .limit(BpeMaxTrainTypes)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val seed = qUnigramSeed(s, d).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      unigramTrainCollected(types, seed, UnigramTargetMulti)
    }
    import s.implicits._
    graft.sources.Warehouse.ensureVia(s, vocabTbl, srcDir = d) {
      res.vocab.zipWithIndex
        .map { case ((p, c), i) =>
          (i + 1L, p, c, p.codePointCount(0, p.length) == 1)
        }
        .toDF("rank", "piece", "cnt", "is_char")
        .coalesce(1).write.saveAsTable(vocabTbl)
    }
    graft.sources.Warehouse.ensureVia(s, piecesTbl, srcDir = d) {
      res.typePieces.toSeq.toDF("w", "n_sub")
        .coalesce(1).write.saveAsTable(piecesTbl)
    }
    (vocabTbl, piecesTbl)
  }

  /** Unigram-LM tokenizer training end to end — the OTHER tokenizer
    * family next to BPE ([[qBpeTrainFull]] is the architectural
    * template): the distributed work is the wordcount and the
    * [[qUnigramSeed]] candidate build (both corpus/type-scale,
    * combiner-backed, hash-gated via q_unigram_seed); the EM-prune loop
    * runs in-JVM over the collected bounded tables (types capped at the
    * same [[BpeMaxTrainTypes]] = 64k most-frequent policy, seed bounded
    * by construction at chars + [[UnigramSeedMulti]]). Deterministic but
    * loop-carried (no SQL oracle at EM depth) → rows-only gate row; the
    * hash-gated companion is [[qUnigramTrainCheck]]. Output: the final
    * vocabulary (rank, piece, cnt, is_char) with exact integer Viterbi
    * counts from the last EM round, read from the
    * [[ensureUnigramModel]]-persisted table (the fit is paid once per
    * warehouse, not per query). */
  def qUnigramTrain(s: SparkSession, d: String): DataFrame = {
    val (vocabTbl, _) = ensureUnigramModel(s, d)
    s.table(vocabTbl).orderBy("rank")
  }

  /** Per-source subword FERTILITY under the trained unigram-LM vocabulary
    * — the same data card as [[qBpeApply]]'s for the other tokenizer
    * family: the trainer's final word→pieces map (bounded: one entry per
    * trained type) BROADCASTS to the corpus token stream, which is
    * scanned once and never shuffles for the join. Words beyond the 64k
    * trainer cap have no trained segmentation; they fall back to
    * character-level pieces (the SentencePiece character-coverage
    * fallback) via a LEFT join, so the card covers EVERY corpus word —
    * the exact word set the DuckDB companion counts — at any SF, not
    * just below the cap. Viterbi piece counts are not SQL-expressible →
    * rows-only, with the hash-gated [[qUnigramFertilityCheck]] companion
    * pinning what DuckDB CAN recompute (per-source word counts,
    * character mass, and the n_words ≤ n_subtokens ≤ char_mass
    * sandwich). */
  def qUnigramFertility(s: SparkSession, d: String): DataFrame = {
    val (_, piecesTbl) = ensureUnigramModel(s, d)
    fertilityOf(Tables.documents(s, d), s.table(piecesTbl))
  }

  /** The fertility aggregation seam — (source, text) docs scored against
    * a (w, n_sub) piece map. Factored out so the character-coverage
    * fallback is directly testable (the gate's tiny vocabulary never
    * exceeds the 64k trainer cap, so the fallback branch would otherwise
    * only ever run at corpus scales the suite can't reach). */
  private[operators] def fertilityOf(docs: DataFrame, wordPieces: DataFrame): DataFrame = {
    import graft.functions.NativeExprs.tokens
    docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(wordPieces), Seq("w"), "left")
      // untrained (beyond-cap) words segment to single characters —
      // length() counts code points in both Spark and DuckDB
      .withColumn("n_sub", coalesce(col("n_sub"), length(col("w")).cast("long")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subtokens"),
        sum(length(col("w")).cast("long")).as("char_mass"))
      .withColumn("fertility_ppm", expr("n_subtokens * 1000000 div n_words"))
      .select("source", "n_words", "n_subtokens", "char_mass", "fertility_ppm")
      .orderBy("source")
  }

  /** Hash-gated companion for [[qUnigramFertility]]: DuckDB independently
    * recomputes per-source word counts and character mass, and pins the
    * sandwich n_words ≤ n_subtokens ≤ char_mass (every word is ≥1 piece;
    * every piece is ≥1 character) as a per-source verdict. */
  def qUnigramFertilityCheck(s: SparkSession, d: String): DataFrame =
    qUnigramFertility(s, d)
      .select(
        col("source"), col("n_words"), col("char_mass"),
        (col("n_words") <= col("n_subtokens") &&
          col("n_subtokens") <= col("char_mass")).as("bounds_ok"))
      .orderBy("source")

  private val qUnigramFertilityCheckSql = {
    val t = tokensSql
    s"""SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(w)) AS BIGINT) AS char_mass,
       |  TRUE AS bounds_ok
       |FROM (SELECT source, unnest($t) AS w FROM documents)
       |GROUP BY 1 ORDER BY source""".stripMargin
  }

  /** Driver-visible HASH-GATED companion for [[qUnigramTrain]] — not a
    * bare `SELECT true` verdict: three integer invariants of the trained
    * vocabulary that DuckDB recomputes INDEPENDENTLY from the corpus.
    *
    *   - `n_pieces`: final size = distinct chars + min(target, distinct
    *     multi-char candidates) — pruning keeps max(target, 4/5·current)
    *     so it never undershoots, and single chars are never dropped;
    *   - `n_char_pieces`: every distinct character survives (coverage);
    *   - `char_mass`: Σ_piece cnt·len(piece) must equal
    *     Σ_type freq·len(type) — the final EM round segments every type
    *     exactly once, so character mass is conserved through
    *     segmentation; any Viterbi/backtrack bug breaks this equality.
    *
    * Exact while the type table fits the 64k trainer cap (same
    * truncation caveat as q_bpe_train_full). `covered` pins that the
    * trainer completed without an unsegmentable type (it raises
    * otherwise). */
  def qUnigramTrainCheck(s: SparkSession, d: String): DataFrame = {
    val out = qUnigramTrain(s, d).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    def cpLen(p: String): Long = p.codePointCount(0, p.length).toLong
    val nPieces = out.length.toLong
    val nChar = out.count(p => cpLen(p._1) == 1L).toLong
    val charMass = out.map { case (p, c) => c * cpLen(p) }.sum
    import s.implicits._
    Seq((nPieces, nChar, charMass, true))
      .toDF("n_pieces", "n_char_pieces", "char_mass", "covered")
  }

  private val qUnigramTrainCheckSql =
    s"""WITH $unigramSubsSql
       |SELECT
       |  ((SELECT count(*) FROM subs WHERE length(piece) = 1)
       |    + least($UnigramTargetMulti,
       |            (SELECT count(*) FROM subs WHERE length(piece) > 1)))::BIGINT
       |    AS n_pieces,
       |  (SELECT count(*) FROM subs WHERE length(piece) = 1)::BIGINT
       |    AS n_char_pieces,
       |  (SELECT sum(freq * length(w)) FROM vocab)::BIGINT AS char_mass,
       |  TRUE AS covered""".stripMargin

  /** Distributed BPE-style pair counting — the inner statistic of one
    * byte-pair-encoding tokenizer-training merge round: count adjacent
    * token pairs corpus-wide and keep the most frequent. Shape-identical
    * to wordcount (explode → map-side partial counts → shuffle on the
    * pair), so at 100 TB it is one combiner-backed shuffle per merge
    * round; the top-30 head is TakeOrderedAndProject, never a global
    * sort. Pair construction is a single `transform(sequence(...))` over
    * the shared tokenizer — no UDF, stays in whole-stage codegen. */
  def qBpePairs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(graft.functions.NativeExprs.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        explode(expr("transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
          .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(30)

  private val qBpePairsSql =
    s"""WITH tk AS (SELECT $tokensSql AS toks FROM documents),
       |pairs AS (
       |  SELECT toks[i] || ' ' || toks[i+1] AS pair
       |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS i) g
       |  WHERE len(toks) >= 2)
       |SELECT pair, count(*)::BIGINT AS cnt
       |FROM pairs GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 30""".stripMargin

  private val OovVocabSize = 16

  /** Per-source vocabulary coverage / OOV-rate data card: fit a top-V
    * frequency vocabulary on the corpus (count desc, token asc — a total
    * order, so the cut is deterministic), then score every source by how
    * much of its token stream falls outside it. The tokenizer-coverage
    * report a pipeline runs before committing to a vocab size: n_oov /
    * n_tokens is the UNK rate that vocabulary would produce, n_oov_types
    * the tail vocabulary it abandons. V is 16 here because the synthetic
    * corpus has a 31-word vocabulary (a realistic run uses 32k-256k; the
    * shape is V ≪ distinct types either way). Scale: the vocab fit is one
    * combiner-backed wordcount + TakeOrderedAndProject head; the scoring
    * pass joins the token stream against the V-row vocab by BROADCAST
    * (plan-guarded) — the corpus-scale stream never shuffles. Exact
    * integers only on the hash surface. */
  def qOovRate(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(OovVocabSize)
      .select(col("w"), lit(1).as("iv"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when(col("iv").isNull, col("w"))).as("n_oov_types"))
      .orderBy("source")
  }

  private val qOovRateSql =
    s"""WITH tok AS (SELECT source, unnest($tokensSql) AS w FROM documents),
       |vocab AS (
       |  SELECT w FROM (
       |    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rn
       |    FROM tok GROUP BY w) WHERE rn <= $OovVocabSize)
       |SELECT source, count(*)::BIGINT AS n_tokens,
       |  sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       |  count(DISTINCT CASE WHEN vocab.w IS NULL THEN tok.w END)::BIGINT AS n_oov_types
       |FROM tok LEFT JOIN vocab ON tok.w = vocab.w
       |GROUP BY source ORDER BY source""".stripMargin

  /** Per-source vocabulary-DRIFT card (χ²-shaped distribution shift vs
    * the corpus): bucket the token stream into the fixed top-V corpus
    * vocabulary (same (count DESC, w) cut as [[qOovRate]]) plus one
    * `<other>` residual so every source's distribution sums to its
    * token count, express both distributions as exact ppm shares
    * (truncated div — non-negative dividends, so Spark `div` ≡ DuckDB
    * `//`), and score each bucket (o_ppm − c_ppm)² div max(c_ppm, 1) —
    * the χ² term with per-term truncated integer division, the
    * q_autocorr-established pattern that makes the statistic replay
    * bit-for-bit in both engines. The drift score is the bucket-term
    * sum (integer, order-free); `top_word` is the argmax bucket under
    * (term DESC, word) — the first thing a pipeline operator looks at
    * when a source starts drifting. Plan: one token-stream scan into a
    * broadcast vocab join, three combiner-backed rollups over
    * sources × ≤V+1 buckets, every later join broadcast-small. ppm
    * magnitudes bound every product under 10¹³ at ANY corpus size;
    * only the two share divisions' `count·10⁶` numerators outgrow
    * BIGINT past ~9·10¹² tokens — swap those two to DECIMAL(38) at
    * that scale, same plan. */
  def qVocabDrift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(OovVocabSize)
      .select(col("w"), lit(1).as("iv"))
    val bucketed = tok.join(broadcast(vocab), Seq("w"), "left")
      .select(
        col("source"),
        when(col("iv").isNotNull, col("w")).otherwise(lit("<other>")).as("b"))
    val corpus = bucketed.groupBy("b").agg(count(lit(1)).as("c"))
    val totals = bucketed.groupBy("source").agg(count(lit(1)).as("n_tokens"))
    val obs = bucketed.groupBy("source", "b").agg(count(lit(1)).as("o"))
    val terms = totals
      .crossJoin(broadcast(corpus)) // dense grid: zero-observation buckets score too
      .join(obs, Seq("source", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(corpus.agg(sum("c").as("t"))))
      .withColumn("c_ppm", expr("c * 1000000 div t"))
      .withColumn("o_ppm", expr("o * 1000000 div n_tokens"))
      .withColumn(
        "term",
        expr("(o_ppm - c_ppm) * (o_ppm - c_ppm) div greatest(c_ppm, 1)"))
    val agg = terms.groupBy("source")
      .agg(max("n_tokens").as("n_tokens"), sum("term").as("drift_score"))
    val top = terms
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("source").orderBy(col("term").desc, col("b"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("b").as("top_word"))
    agg.join(top, "source")
      .select("source", "n_tokens", "drift_score", "top_word")
      .orderBy("source")
  }

  private val qVocabDriftSql =
    s"""WITH tok AS (SELECT source, unnest($tokensSql) AS w FROM documents),
       |vocab AS (
       |  SELECT w FROM (
       |    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rn
       |    FROM tok GROUP BY w) WHERE rn <= $OovVocabSize),
       |bk AS (
       |  SELECT source, CASE WHEN v.w IS NULL THEN '<other>' ELSE tok.w END AS b
       |  FROM tok LEFT JOIN vocab v ON tok.w = v.w),
       |corpus AS (SELECT b, count(*) AS c FROM bk GROUP BY 1),
       |tt AS (SELECT sum(c) AS t FROM corpus),
       |totals AS (SELECT source, count(*) AS n_tokens FROM bk GROUP BY 1),
       |obs AS (SELECT source, b, count(*) AS o FROM bk GROUP BY 1, 2),
       |tm AS (
       |  SELECT g.source, g.b, g.n_tokens,
       |    ((g.o_ppm - g.c_ppm) * (g.o_ppm - g.c_ppm)) // greatest(g.c_ppm, 1) AS term
       |  FROM (
       |    SELECT totals.source, corpus.b, totals.n_tokens,
       |      (corpus.c * 1000000) // (SELECT t FROM tt) AS c_ppm,
       |      (COALESCE(obs.o, 0) * 1000000) // totals.n_tokens AS o_ppm
       |    FROM totals CROSS JOIN corpus
       |    LEFT JOIN obs ON obs.source = totals.source AND obs.b = corpus.b) g),
       |ag AS (
       |  SELECT source, max(n_tokens) AS n_tokens, sum(term) AS drift_score
       |  FROM tm GROUP BY 1),
       |tp AS (
       |  SELECT source, b FROM (
       |    SELECT source, b,
       |      row_number() OVER (PARTITION BY source ORDER BY term DESC, b) AS rn
       |    FROM tm) WHERE rn = 1)
       |SELECT ag.source, ag.n_tokens::BIGINT AS n_tokens,
       |  ag.drift_score::BIGINT AS drift_score, tp.b AS top_word
       |FROM ag JOIN tp USING (source) ORDER BY source""".stripMargin

  /** Per-document bigram novelty: how many of a document's distinct
    * bigrams appear in NO other document — the memorization/duplication
    * risk signal (a doc whose bigrams are all corpus-common is boilerplate;
    * one that is mostly novel is unique content). Cross-document by
    * construction: distinct (doc, bigram) pairs in one shuffle, global
    * bigram doc-frequency via a combiner-backed groupBy (map-side partial
    * counts — immune to hot-bigram skew), then a bigram-keyed join back
    * (AQE splits any residual skewed partition) and a per-doc rollup.
    * Every output column is an exact integer count. */
  def qBigramNovelty(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.NativeExprs.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        explode(expr("transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"))
          .as("bigram"))
      .distinct()
    val df = bg.groupBy("bigram").agg(count(lit(1)).as("ndocs"))
    bg.join(df, "bigram")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("ndocs") === 1, 1L).otherwise(0L)).as("n_novel"))
      .orderBy("doc_id")
  }

  private val qBigramNoveltySql =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |bg AS (
       |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
       |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS i) g
       |  WHERE len(toks) >= 2),
       |df AS (SELECT bigram, count(*)::BIGINT AS ndocs FROM bg GROUP BY 1)
       |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
       |  CAST(sum(CASE WHEN df.ndocs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |FROM bg b JOIN df USING (bigram)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** LM-based quality scoring (the CCNet/KenLM filter class, in exact
    * integer form): score each document's trigrams under a Stupid-Backoff
    * language model FIT ON THE REST OF THE CORPUS — every count is
    * leave-one-out (global minus this doc's own occurrences), the
    * held-out scoring a real pipeline gets from an external LM, and the
    * reason the backoff branch genuinely fires here (a trigram unique to
    * its document has zero others-count). Per trigram occurrence:
    * S = others(w₁w₂w₃)/others(w₁w₂), backing off to
    * 0.4·others(w₂w₃)/others(w₂) when the trigram is unseen elsewhere
    * (0.4 kept exact as 2/5; a second-level backoff would continue to
    * unigrams — single level documented and spec'd). All ratios are
    * integer ppm via div — no float touches the hash surface. Output per
    * doc: trigram count, backed-off count (the novelty signal), and the
    * summed ppm score (the quality signal a perplexity gate thresholds).
    * Scale: counts tables are combiner-backed groupBys; the scoring join
    * chain is all hash joins on n-gram keys (AQE handles hot-gram skew);
    * the one broadcast is the 1-row corpus total. 100 TB swaps the
    * BIGINT ppm sums for DECIMAL(38) — same plan. */
  private[operators] def lmDocScores(s: SparkSession, d: String): DataFrame = {
    // PERSISTED build-once (the LM-filter fit+score artifact, like the
    // tokenizer models): the trigram/bigram/unigram count-and-join chain
    // runs once per warehouse; q_lm_backoff and the perplexity-tertile
    // card probe the stored (doc_id, n_trigrams, n_backoff,
    // score_sum_ppm) table. Deterministic pure function of the corpus.
    val tbl = graft.sources.Warehouse.tableName("graft_lm_scores", d)
    graft.sources.Warehouse.ensure(s, tbl, "doc_id", srcDir = d) {
      lmDocScoresBuild(s, d)
    }
    s.table(tbl)
  }

  private def lmDocScoresBuild(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.NativeExprs.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .cache() // read three times: trigrams, bigrams, unigrams
    // each count table is built ONCE with its leave-one-out complement
    // attached via a window sum over the n-gram key — no agg+join-back
    // pair, no second evaluation of the tokenize subtree per use
    val tgAnn = toks.select(
      col("doc_id"),
      explode(expr(
        "transform(sequence(0, size(toks)-3), i -> struct(toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3))"))
        .as("t"))
      .select(col("doc_id"), col("t.w1"), col("t.w2"), col("t.w3"))
      .groupBy("doc_id", "w1", "w2", "w3").agg(count(lit(1)).as("k_dt"))
      .withColumn("ot", sum("k_dt").over(Window.partitionBy("w1", "w2", "w3")) - col("k_dt"))
    val bgAnn = toks.select(
      col("doc_id"),
      explode(expr(
        "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS a, toks[i+1] AS b))"))
        .as("b"))
      .select(col("doc_id"), col("b.a"), col("b.b"))
      .groupBy("doc_id", "a", "b").agg(count(lit(1)).as("k_db"))
      .withColumn("ob", sum("k_db").over(Window.partitionBy("a", "b")) - col("k_db"))
      .cache() // joined twice: trigram prefix (w1w2) and backoff gram (w2w3)
    val uniAnn = toks.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("k_dw"))
      .withColumn("ow", sum("k_dw").over(Window.partitionBy("w")) - col("k_dw"))
    val scored = tgAnn
      .join(
        bgAnn.select(col("doc_id"), col("a").as("w1"), col("b").as("w2"), col("ob").as("o12")),
        Seq("doc_id", "w1", "w2"))
      .join(
        bgAnn.select(col("doc_id"), col("a").as("w2"), col("b").as("w3"), col("ob").as("o23")),
        Seq("doc_id", "w2", "w3"))
      .join(
        uniAnn.select(col("doc_id"), col("w").as("w2"), col("ow").as("ow2")),
        Seq("doc_id", "w2"))
      .withColumn(
        "s_ppm",
        when(col("ot") > 0, expr("(ot * 1000000L) div o12"))
          .when(col("ow2") > 0, expr("(2 * o23 * 1000000L) div (5 * ow2)"))
          .otherwise(0L))
      .withColumn("bko", when(col("ot") > 0, 0L).otherwise(col("k_dt")))
    scored
      .groupBy("doc_id")
      .agg(
        sum("k_dt").as("n_trigrams"),
        sum("bko").as("n_backoff"),
        sum(col("k_dt") * col("s_ppm")).as("score_sum_ppm"))
  }

  def qLmBackoff(s: SparkSession, d: String): DataFrame =
    lmDocScores(s, d).orderBy("doc_id")

  /** Shared CTE chain ending in `docscore` (doc_id, n_trigrams,
    * n_backoff, score_sum_ppm) — one definition for [[qLmBackoff]] and
    * the perplexity-bucket split so the scoring model cannot fork. */
  private val lmScoreCtes =
    s"""tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |tk3 AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 3),
       |dtg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3, count(*) AS k_dt
       |  FROM tk3, LATERAL (SELECT unnest(generate_series(1, len(toks)-2)) AS i) g
       |  GROUP BY 1, 2, 3, 4),
       |ct AS (SELECT w1, w2, w3, sum(k_dt) AS c_t FROM dtg GROUP BY 1, 2, 3),
       |dbg AS (
       |  SELECT doc_id, toks[i] AS a, toks[i+1] AS b, count(*) AS k_db
       |  FROM tk3, LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS i) g
       |  GROUP BY 1, 2, 3),
       |cbg AS (SELECT a, b, sum(k_db) AS c_b FROM dbg GROUP BY 1, 2),
       |duni AS (
       |  SELECT doc_id, w, count(*) AS k_dw
       |  FROM (SELECT doc_id, unnest(toks) AS w FROM tk3) GROUP BY 1, 2),
       |cw AS (SELECT w, sum(k_dw) AS c_w FROM duni GROUP BY 1),
       |sc AS (
       |  SELECT t.doc_id, t.k_dt,
       |    (ct.c_t - t.k_dt) AS ot,
       |    (c12.c_b - d12.k_db) AS o12,
       |    (c23.c_b - d23.k_db) AS o23,
       |    (cw2.c_w - du2.k_dw) AS ow2
       |  FROM dtg t
       |  JOIN ct ON ct.w1 = t.w1 AND ct.w2 = t.w2 AND ct.w3 = t.w3
       |  JOIN dbg d12 ON d12.doc_id = t.doc_id AND d12.a = t.w1 AND d12.b = t.w2
       |  JOIN cbg c12 ON c12.a = t.w1 AND c12.b = t.w2
       |  JOIN dbg d23 ON d23.doc_id = t.doc_id AND d23.a = t.w2 AND d23.b = t.w3
       |  JOIN cbg c23 ON c23.a = t.w2 AND c23.b = t.w3
       |  JOIN duni du2 ON du2.doc_id = t.doc_id AND du2.w = t.w2
       |  JOIN cw cw2 ON cw2.w = t.w2),
       |sp AS (
       |  SELECT doc_id, k_dt,
       |    CASE WHEN ot > 0 THEN (ot * 1000000) // o12
       |         WHEN ow2 > 0 THEN (2 * o23 * 1000000) // (5 * ow2)
       |         ELSE 0 END AS s_ppm,
       |    CASE WHEN ot > 0 THEN 0 ELSE k_dt END AS bko
       |  FROM sc),
       |docscore AS (
       |  SELECT doc_id, sum(k_dt)::BIGINT AS n_trigrams, sum(bko)::BIGINT AS n_backoff,
       |    sum(k_dt * s_ppm)::BIGINT AS score_sum_ppm
       |  FROM sp GROUP BY doc_id)""".stripMargin

  private val qLmBackoffSql =
    s"""WITH $lmScoreCtes
       |SELECT doc_id, n_trigrams, n_backoff, score_sum_ppm
       |FROM docscore ORDER BY doc_id""".stripMargin

  /** CCNet-style perplexity bucketing (Wenzek et al., public): split each
    * language's documents into head / middle / tail TERTILES of LM score —
    * the standard way a pretraining pipeline partitions a crawl by fluency
    * before choosing mixture weights (head = most predictable under the
    * LM, the CCNet "low-perplexity" cut; our Stupid-Backoff score grows
    * with predictability, so HIGH score ⇔ head). Per-language boundaries,
    * not global — the CCNet point is that a low-resource language must
    * not be graded on the dominant language's scale.
    *
    * Per-doc metric: avg_ppm = score_sum_ppm div n_trigrams (both
    * non-negative; DuckDB's // matches Spark's div by truncating toward
    * zero even on negatives — measured, see Similarity's PCA note).
    * Tertile boundaries use the exact value-histogram rank rule (the
    * [[Relational.qPercentileHist]] machinery — shuffles carry distinct
    * values, never rows): b_k = min value whose cumulative count reaches
    * ⌈k·n/3⌉. Bucketing is strict-< against the boundaries, ties go up —
    * deterministic in both engines. Output is the per-(lang, bucket) data
    * card: doc count, trigram mass, score mass (all exact integers).
    *
    * Scale: the LM scoring dominates (see [[lmDocScores]]'s notes); the
    * bucket stage adds one histogram groupBy on (lang, avg_ppm) and a
    * broadcast-size boundary join. The scored per-doc table is cached —
    * it feeds both the boundary computation and the final classification,
    * and re-deriving it would re-run the whole scoring join chain. The
    * cache backs the RETURNED lazy frame, so its lifecycle is
    * caller-owned (Verify/Bench `clearCache()` per query); repeat calls
    * in one session re-resolve to the same canonicalized
    * InMemoryRelation, so storage does not accumulate. */
  def qPplBuckets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val av = lmDocScores(s, d)
      .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
      .withColumn("avg_ppm", expr("score_sum_ppm div n_trigrams"))
      .cache() // feeds the boundary histogram AND the final classification
    val wLang = Window.partitionBy("lang")
    val bounds = av
      .groupBy("lang", "avg_ppm")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wLang.orderBy("avg_ppm")))
      .withColumn("n", sum("cnt").over(wLang))
      .groupBy("lang")
      .agg(
        min(when(col("cum") * 3 >= col("n"), col("avg_ppm"))).as("b1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("avg_ppm"))).as("b2"))
    av.join(bounds, "lang")
      .withColumn(
        "bucket",
        when(col("avg_ppm") < col("b1"), "tail")
          .when(col("avg_ppm") < col("b2"), "middle")
          .otherwise("head"))
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_trigrams").as("sum_trigrams"),
        sum("score_sum_ppm").as("sum_score_ppm"))
      .orderBy("lang", "bucket")
  }

  private val qPplBucketsSql =
    s"""WITH $lmScoreCtes,
       |av AS (
       |  SELECT d.lang, ds.doc_id, ds.n_trigrams, ds.score_sum_ppm,
       |    ds.score_sum_ppm // ds.n_trigrams AS avg_ppm
       |  FROM docscore ds JOIN documents d USING (doc_id)),
       |hist AS (SELECT lang, avg_ppm, count(*) AS cnt FROM av GROUP BY 1, 2),
       |cum AS (
       |  SELECT lang, avg_ppm,
       |    sum(cnt) OVER (PARTITION BY lang ORDER BY avg_ppm) AS cum,
       |    sum(cnt) OVER (PARTITION BY lang) AS n
       |  FROM hist),
       |bounds AS (
       |  SELECT lang,
       |    min(CASE WHEN cum * 3 >= n THEN avg_ppm END) AS b1,
       |    min(CASE WHEN cum * 3 >= n * 2 THEN avg_ppm END) AS b2
       |  FROM cum GROUP BY lang)
       |SELECT av.lang,
       |  CASE WHEN avg_ppm < b1 THEN 'tail'
       |       WHEN avg_ppm < b2 THEN 'middle'
       |       ELSE 'head' END AS bucket,
       |  count(*) AS n_docs,
       |  CAST(sum(n_trigrams) AS BIGINT) AS sum_trigrams,
       |  CAST(sum(score_sum_ppm) AS BIGINT) AS sum_score_ppm
       |FROM av JOIN bounds USING (lang)
       |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** Language-stratified quality gate: keep the TOP HALF of each
    * language's quality ranking — the per-stratum filter a mixture
    * pipeline runs so a low-resource language isn't wiped out by a
    * corpus-global threshold tuned on the dominant language. Rank and
    * cutoff are exact integer logic (row_number ≤ ⌈n_lang/2⌉ with a full
    * (score, doc_id) tiebreak), so admission is deterministic; the score
    * itself is the shared q_quality definition. One shuffle on lang for
    * the two window functions; at 100 TB the exact rank would be swapped
    * for the approx-percentile cutoff — same shape, no new machinery. */
  def qQualityGate(s: SparkSession, d: String): DataFrame = {
    val q = qQuality(s, d).select(col("doc_id"), col("quality_score"))
    val lang = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val counts = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    q.join(lang, "doc_id")
      .withColumn("rn", row_number().over(byLang))
      .withColumn("nl", count(lit(1)).over(counts))
      .filter(expr("rn <= (nl + 1) div 2"))
      .select("doc_id", "lang", "quality_score")
      .orderBy("doc_id")
  }

  private val qQualityGateSql =
    s"""WITH q AS (SELECT doc_id, lang, $qualityScoreSql AS quality_score FROM documents),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS nl
       |  FROM q)
       |SELECT doc_id, lang, quality_score FROM r
       |WHERE rn <= (nl + 1) // 2
       |ORDER BY doc_id""".stripMargin

  private val Bm25Terms = Seq("spark", "table", "query")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 ranked retrieval for a fixed 3-term query — the classic
    * keyword-relevance scorer (Lucene-form idf, k1=1.2, b=0.75). The
    * per-doc (term, tf, dl) rows come from ONE projection over the
    * shared tokenizer (doc length rides with the tf rows — no doc-keyed
    * join anywhere); document frequencies are a |query|-row broadcast
    * aggregate and corpus stats a broadcast single row, so at 100 TB
    * scoring is two scans (score projection + 1-row stats aggregate)
    * joined only through broadcast — the top-20 head is
    * TakeOrderedAndProject. The length norm is the rational dl·N/Σdl
    * (no precomputed avgdl double); the one transcendental (ln in idf)
    * is pround-4'd like the other continuous outputs. */
  def qBm25(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableRound.pround
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.NativeExprs.tokens(col("text")).as("t"))
    val st = broadcast(
      tk.agg(count(lit(1)).as("n"), sum(size(col("t")).cast("long")).as("sumlen")))
    val tf = tk
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("dl"),
        explode(typedlit(Bm25Terms)).as("term"),
        col("t"))
      .select(
        col("doc_id"),
        col("dl"),
        col("term"),
        size(filter(col("t"), x => x === col("term"))).cast("long").as("tf"))
      .filter(col("tf") > 0)
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "term")
      .crossJoin(st)
      .groupBy("doc_id")
      .agg(sum(
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * lit(Bm25K1 + 1) /
          (col("tf") + lit(Bm25K1) *
            (lit(1 - Bm25B) + lit(Bm25B) * col("dl") * col("n") / col("sumlen")))).as("raw"))
      .select(col("doc_id"), pround(col("raw"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  private val qBm25Sql = {
    val termList = Bm25Terms.mkString("['", "','", "']")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |lens AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tk),
       |st AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS sumlen FROM lens),
       |terms AS (SELECT unnest($termList) AS term),
       |tf AS (
       |  SELECT doc_id, term, len(list_filter(t, x -> x = term))::BIGINT AS tf
       |  FROM tk, terms),
       |df AS (SELECT term, count(*) FILTER (WHERE tf > 0)::BIGINT AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id,
       |    sum(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
       |        * tf.tf * ${Bm25K1 + 1} / (tf.tf + $Bm25K1 *
       |          (${1 - Bm25B} + $Bm25B * lens.dl * st.n / st.sumlen))) AS raw
       |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), st
       |  WHERE tf.tf > 0
       |  GROUP BY 1)
       |SELECT doc_id, floor(raw * 10000 + 0.5) / 10000.0 AS bm25
       |FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  private val PrMinEdgeFreq = 40
  /** Convergence: stop once NO node's rank moved by more than this many
    * micro-units in an iteration (integer L∞/L1-per-node delta). */
  private[operators] val PrTolMicro = 25000L
  /** Hard cap — the divergence backstop both engines share. */
  private[operators] val PrMaxIters = 40

  /** PageRank over the word-adjacency graph — iterative distributed graph
    * analytics beyond [[Dedup.qDedupClusters]]'s connected components.
    * The graph: words linked when they appear ADJACENT ≥ [[PrMinEdgeFreq]]
    * times corpus-wide (undirected → both directions materialized, so
    * every node receives mass and no dangling-node special case exists).
    *
    * The rank arithmetic is INTEGER-EXACT by construction: ranks live in
    * micro-units (start 10⁶), each node distributes `r div deg` to its
    * neighbors, and damping 0.85 is `(85·Σ) div 100` — floor division at
    * every step, so both engines compute bit-identical BIGINTs and the
    * oracle is a DuckDB RECURSIVE CTE, not a float-tolerance spec. (The
    * small rank mass lost to flooring is deliberate: portability over
    * normalization.) Spark-side the loop is [[qDedupClusters]]'s shape —
    * edges/degrees materialized once (localCheckpoint), one combiner-
    * backed join+aggregate shuffle per iteration — and runs TO
    * CONVERGENCE: it stops at the first iteration where no node moved by
    * more than [[PrTolMicro]] micro-units (a count-based test — filter +
    * count, never a collect), with [[PrMaxIters]] as the backstop. The
    * oracle replays the identical stopping rule over the recursive
    * iteration table, so both engines select the same iteration. Hub
    * skew on the per-iteration join is AQE's skew-split job — pinned by
    * the PlanShapeSpec hub-graph test over [[prStep]]. */
  /** The word-adjacency graph: undirected (src < dst) edges between
    * words appearing adjacent ≥ [[PrMinEdgeFreq]] times corpus-wide.
    * ONE definition shared by [[qPagerank]] and [[qTriangles]]. */
  private def adjacencyEdges(s: SparkSession, d: String): DataFrame =
    adjacencyCounted(s, d).select("src", "dst")

  /** [[adjacencyEdges]] with the co-occurrence count kept — the weighted
    * view [[qSssp]] derives its edge lengths from. PERSISTED build-once
    * ([[graft.sources.Warehouse]], cross-JVM reusable): the graph is a
    * pure deterministic function of the corpus, and SEVEN graph queries
    * (pagerank, triangles, clustering coefficient, edge Jaccard, BFS,
    * SSSP, label propagation) consume it — without the store each one
    * re-tokenized and re-exploded the whole corpus per run, the exact
    * full-corpus-rescan-per-query shape the contamination rework killed.
    * At 100 TB the bigram graph build is the nightly job; queries probe
    * the stored edge list. */
  private def adjacencyCounted(s: SparkSession, d: String): DataFrame =
    graft.sources.Warehouse.ensureAndRead(s, "graft_graph_adj", d, "src") {
      adjacencyCountedFresh(s, d)
    }

  /** The from-scratch derivation behind [[adjacencyCounted]]'s store —
    * runs only on a warehouse miss. */
  private def adjacencyCountedFresh(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(graft.functions.NativeExprs.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bg = tk.select(
      explode(expr("transform(sequence(0, size(t)-2), i -> struct(t[i] AS wa, t[i+1] AS wb))"))
        .as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    bg
      .filter(col("wa") =!= col("wb"))
      .select(least(col("wa"), col("wb")).as("src"), greatest(col("wa"), col("wb")).as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= PrMinEdgeFreq)
  }

  /** DuckDB twin of [[adjacencyEdges]] (tk/bg/und CTE prefix). `und`
    * carries the co-occurrence count so the weighted-graph oracle
    * ([[qSssp]]) derives lengths from the same CTE; unweighted consumers
    * just never select it. */
  private def adjacencySqlCtes: String =
    s"""tk AS (SELECT $tokensSql AS t FROM documents),
       |bg AS (
       |  SELECT t[i] AS wa, t[i+1] AS wb
       |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) g
       |  WHERE len(t) >= 2),
       |und AS (
       |  SELECT least(wa, wb) AS src, greatest(wa, wb) AS dst, count(*) AS cnt
       |  FROM bg WHERE wa <> wb
       |  GROUP BY 1, 2 HAVING count(*) >= $PrMinEdgeFreq)""".stripMargin

  /** ONE PageRank iteration. The two node-keyed tables (ranks, degrees)
    * combine FIRST into per-node shares, leaving a single edges join —
    * deliberately: a chained (edges⋈r)⋈deg keeps the middle join inside
    * the parent's required partitioning, which disqualifies it from
    * AQE's skew-split. The node-sized shares table is MATERIALIZED
    * (localCheckpoint — it is one row per node, and this also truncates
    * the iteration lineage) so the big edges join sees shuffle stages on
    * both sides with only a partial aggregate above — exactly the shape
    * AQE can split when a stopword hub concentrates one src key (pinned
    * by the PlanShapeSpec hub-graph test). Factored out so that spec
    * drives the exact production iteration. */
  private[operators] def prStep(edges: DataFrame, deg: DataFrame, r: DataFrame): DataFrame = {
    // the localCheckpoint on shares is LOAD-BEARING, not a leftover: it
    // makes the edges⋈shares join a shuffle-over-leaf on both sides, which
    // is the only shape AQE's skew-join rewrite can split (OptimizeSkewedJoin
    // needs sort-over-shuffle-stage children; with shares left as a nested
    // join subtree the hub partition is unsplittable — PlanShapeSpec's
    // hub-graph test fails exactly that way if this checkpoint is removed).
    // Costs one extra small job per round; keeps the 100 TB stopword-hub
    // case splittable.
    val shares = r
      .join(deg.withColumnRenamed("src", "node"), "node")
      .select(col("node"), expr("r div deg").as("share"))
      .localCheckpoint()
    edges
      .join(shares, col("src") === col("node"))
      .groupBy("dst")
      .agg(sum("share").as("sh"))
      .select(col("dst").as("node"), expr("150000 + (85 * sh) div 100").as("r"))
  }

  def qPagerank(s: SparkSession, d: String): DataFrame = {
    // checkpoint BEFORE doubling: the union's branches would each re-run
    // the adjacency derivation (bigram join + agg) otherwise
    val und = adjacencyEdges(s, d).localCheckpoint()
    val edges = und
      .union(und.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    // prev_r only so the probe below can observe the seed too (0 moved)
    val r0 = deg.select(col("src").as("node"), lit(1000000L).as("r"), lit(1000000L).as("prev_r"))
    // the convergence probe (count of nodes that moved > PrTolMicro) is
    // folded INTO each round's state: the step's output joins the
    // incoming ranks back on (the same inner join the old two-argument
    // probe ran as its own per-round job) and the moved-count is
    // OBSERVED during the checkpoint materialization — one job per
    // round instead of two, identical round count and ranks. The cap
    // stays non-raising exactly like the old plain-fixpoint backstop.
    // The inner join cannot change the state's node set: edges are the
    // symmetric doubled und, so every round's prStep output is exactly
    // the full node set of round 0 — the join only annotates.
    Iterate.fixpointObservedBy(r0, PrMaxIters) { (r, _) =>
      prStep(edges, deg, r)
        .join(r.select(col("node"), col("r").as("prev_r")), "node")
    } (Seq(sum(when(abs(col("r") - col("prev_r")) > PrTolMicro, 1L).otherwise(0L))))(
      Iterate.noneLeft)
      .state.select("node", "r").orderBy(col("r").desc, col("node"))
  }

  private val qPagerankSql =
    s"""WITH RECURSIVE
       |$adjacencySqlCtes,
       |edges AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |pr(it, node, r) AS (
       |  SELECT 0, src, 1000000::BIGINT FROM deg
       |  UNION ALL
       |  SELECT it + 1, e.dst, 150000 + (85 * sum(p.r // d.deg)) // 100
       |  FROM pr p JOIN edges e ON e.src = p.node JOIN deg d ON d.src = p.node
       |  WHERE it < $PrMaxIters GROUP BY it, e.dst),
       |md AS (
       |  SELECT a.it AS it, max(abs(a.r - b.r)) AS m
       |  FROM pr a JOIN pr b ON b.node = a.node AND b.it = a.it - 1
       |  GROUP BY a.it),
       |conv AS (SELECT coalesce(min(it), $PrMaxIters) AS cit FROM md WHERE m <= $PrTolMicro)
       |SELECT node, r FROM pr WHERE it = (SELECT cit FROM conv)
       |ORDER BY r DESC, node""".stripMargin

  /** Direct each undirected (src < dst) edge from its lower-(degree, name)
    * endpoint to the higher — the standard degree orientation. Output rows
    * are (u, v, vdeg) with rank(u) < rank(v) under the total order
    * (degree, name); `vdeg` rides along so wedge enumeration can order a
    * node's out-neighbors without re-joining the degree table. */
  private[operators] def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("src").as("n"))
      .unionAll(und.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val srcFirst = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    und
      .join(deg.select(col("n").as("src"), col("dg").as("sdeg")), "src")
      .join(deg.select(col("n").as("dst"), col("dg").as("ddeg")), "dst")
      .select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("v"),
        when(srcFirst, col("ddeg")).otherwise(col("sdeg")).as("vdeg"))
  }

  /** Wedge candidates (a, b, c): pairs of a node's out-neighbors under the
    * degree orientation, ordered rank(b) < rank(c). Candidate volume is
    * Σ_u C(outdeg(u), 2) with outdeg ≤ O(√m) — a stopword hub contributes
    * ZERO wedges because all its edges point INTO it. */
  private[operators] def orientedWedges(dir: DataFrame): DataFrame =
    dir.as("d1").join(
        dir.as("d2"),
        col("d1.u") === col("d2.u") &&
          (col("d1.vdeg") < col("d2.vdeg") ||
            (col("d1.vdeg") === col("d2.vdeg") && col("d1.v") < col("d2.v"))))
      .select(col("d1.u").as("a"), col("d1.v").as("b"), col("d2.v").as("c"))

  /** Per-node triangle counts over the word-adjacency graph — the classic
    * clustering-coefficient building block, via DEGREE-ORIENTED
    * enumeration: each undirected edge is directed from its lower-degree
    * endpoint ([[orientByDegree]]), wedges fan out only over a node's
    * out-neighbors ([[orientedWedges]]), and the closing edge is probed
    * with a semi join. Every triangle {x,y,z} (ranks r_x<r_y<r_z) appears
    * exactly once as the wedge (x,y,z) closed by y→z. Candidate volume is
    * Σ C(outdeg,2) with outdeg ≤ O(√m) — immune to the stopword-hub
    * Σ deg² blowup an open vocabulary has at 100 TB (a hub's edges all
    * point into it, so it centers no wedges). Pure integer counts → exact
    * oracle; the oracle enumerates under lexical order and must produce
    * the identical row set. */
  def qTriangles(s: SparkSession, d: String): DataFrame = {
    // cached: read three times (both wedge sides + closing probe);
    // harness clearCache()s per query
    val dir = orientByDegree(adjacencyEdges(s, d)).cache()
    val tri = orientedWedges(dir).join(
      dir.select(col("u"), col("v")),
      col("b") === col("u") && col("c") === col("v"),
      "leftsemi")
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("node")
  }

  private val qTrianglesSql =
    s"""WITH $adjacencySqlCtes,
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM und e1 JOIN und e2 ON e1.dst = e2.src
       |  JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |x AS (SELECT unnest([a, b, c]) AS node FROM tri)
       |SELECT node, count(*) AS n_triangles FROM x GROUP BY 1 ORDER BY node""".stripMargin

  /** Per-node local clustering coefficient over the word-adjacency
    * graph, in exact ppm: cc(v) = 2·tri(v)·10⁶ div (deg(v)·(deg(v)−1)),
    * with degree-1 nodes pinned to 0 (no wedge to close). Triangle
    * counts reuse the degree-oriented wedge enumeration of
    * [[qTriangles]] (Σ C(outdeg,2) candidates — hub-immune); degrees
    * come from one scan of the undirected edge set; a left join keeps
    * triangle-free nodes in the card with cc 0. Everything is integer —
    * both dividends are non-negative, so Spark `div` and the oracle's
    * `//` agree bit for bit. The oracle counts triangles by an
    * unoriented 3-way self-join — a different enumeration of the same
    * set. */
  def qClusteringCoef(s: SparkSession, d: String): DataFrame = {
    // cached: und feeds orientation + degrees; dir both wedge sides +
    // the closing probe; harness clearCache()s per query
    val und = adjacencyEdges(s, d).cache()
    val dir = orientByDegree(und).cache()
    val tri = orientedWedges(dir).join(
      dir.select(col("u"), col("v")),
      col("b") === col("u") && col("c") === col("v"),
      "leftsemi")
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
    val deg = und
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("degree"))
    deg
      .join(triPerNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_tri"), lit(0L)))
      .select(
        col("node"),
        col("degree"),
        col("n_triangles"),
        when(
          col("degree") >= 2,
          expr("2 * n_triangles * 1000000 div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("cc_ppm"))
      .orderBy("node")
  }

  private val qClusteringCoefSql =
    s"""WITH $adjacencySqlCtes,
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM und e1 JOIN und e2 ON e1.dst = e2.src
       |  JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |tpn AS (
       |  SELECT node, count(*) AS n_tri
       |  FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1),
       |deg AS (
       |  SELECT node, count(*) AS degree
       |  FROM (SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
       |  GROUP BY 1)
       |SELECT d.node, d.degree::BIGINT AS degree,
       |  COALESCE(t.n_tri, 0)::BIGINT AS n_triangles,
       |  (CASE WHEN d.degree >= 2
       |    THEN (2 * COALESCE(t.n_tri, 0) * 1000000)
       |         // (d.degree * (d.degree - 1))
       |    ELSE 0 END)::BIGINT AS cc_ppm
       |FROM deg d LEFT JOIN tpn t USING (node)
       |ORDER BY node""".stripMargin

  /** Per-edge neighborhood Jaccard over the word-adjacency graph — the
    * classic link-prediction / graph-similarity score: for every edge
    * (a,b), |Γa∩Γb| / |Γa∪Γb| with open neighborhoods, as an exact
    * integer ppm (inter·10⁶ div (da+db−inter); the denominator is ≥ 2
    * because both endpoints of an edge have degree ≥ 1). The common-
    * neighbor count of an EDGE is its per-edge triangle count, so the
    * enumeration reuses the degree-oriented wedge machinery
    * ([[orientByDegree]]/[[orientedWedges]]): each triangle surfaces
    * once, explodes into its three canonical (src<dst) edges, and a
    * combiner-backed rollup keys by edge — the same Σ C(outdeg,2)
    * candidate bound as [[qTriangles]], immune to stopword hubs. Edges
    * closing no triangle stay in the output via a left join (inter=0).
    * The oracle counts common neighbors by an UNORIENTED 3-way join —
    * a different enumeration arriving at the same row set. */
  def qEdgeJaccard(s: SparkSession, d: String): DataFrame = {
    // cached: und feeds orientation, degrees, and the output left join;
    // dir feeds both wedge sides + the closing probe
    val und = adjacencyEdges(s, d).cache()
    val dir = orientByDegree(und).cache()
    val tri = orientedWedges(dir).join(
      dir.select(col("u"), col("v")),
      col("b") === col("u") && col("c") === col("v"),
      "leftsemi")
    val triEdges = tri
      .select(explode(array(
        struct(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst")),
        struct(least(col("a"), col("c")).as("src"), greatest(col("a"), col("c")).as("dst")),
        struct(least(col("b"), col("c")).as("src"), greatest(col("b"), col("c")).as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("inter"))
    val deg = und.select(col("src").as("n"))
      .unionAll(und.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    und
      .join(triEdges, Seq("src", "dst"), "left")
      .join(deg.select(col("n").as("src"), col("dg").as("sdeg")), "src")
      .join(deg.select(col("n").as("dst"), col("dg").as("ddeg")), "dst")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(
        col("src"), col("dst"), col("inter"),
        expr("inter * 1000000 div (sdeg + ddeg - inter)").as("jacc_ppm"))
      .orderBy(col("jacc_ppm").desc, col("src"), col("dst"))
  }

  private val qEdgeJaccardSql =
    s"""WITH $adjacencySqlCtes,
       |deg AS (SELECT n, count(*) AS dg FROM (
       |  SELECT src AS n FROM und UNION ALL SELECT dst FROM und) GROUP BY 1),
       |bi AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
       |inter AS (
       |  SELECT u.src, u.dst, count(*) AS inter
       |  FROM und u
       |  JOIN bi na ON na.src = u.src
       |  JOIN bi nb ON nb.src = u.dst AND nb.dst = na.dst
       |  GROUP BY 1, 2)
       |SELECT u.src, u.dst, coalesce(i.inter, 0) AS inter,
       |  coalesce(i.inter, 0) * 1000000 // (da.dg + db.dg - coalesce(i.inter, 0)) AS jacc_ppm
       |FROM und u
       |LEFT JOIN inter i ON i.src = u.src AND i.dst = u.dst
       |JOIN deg da ON da.n = u.src
       |JOIN deg db ON db.n = u.dst
       |ORDER BY jacc_ppm DESC, u.src, u.dst""".stripMargin

  /** BFS frontier expansion beyond this depth is cut identically by both
    * engines (diameter backstop; the word graph's giant component is far
    * shallower). */
  private val BfsMaxDepth = 20

  /** Single-source BFS hop distances over the word-adjacency graph,
    * seeded at the highest-degree word (tie → lexically smallest) — the
    * third iterative-graph shape next to [[qPagerank]] (fixpoint on
    * values) and [[Dedup.qDedupClusters]] (fixpoint on labels): a
    * monotone FRONTIER expansion whose per-round work is the frontier's
    * out-edges, not the whole graph. Each round joins the frontier to
    * the edge list, anti-joins the visited set (so a node's level is
    * final the round it is first reached), and localCheckpoints both —
    * lineage stays O(1) per round and the loop terminates via a
    * count-based emptiness test, never a collect. Output is the seed's
    * connected component only — exactly the rows the oracle's recursive
    * CTE (min level per node under the same depth cap) produces. */
  def qBfsLevels(s: SparkSession, d: String): DataFrame = {
    // same pre-doubling checkpoint as qPagerank: adjacency runs once
    val und = adjacencyEdges(s, d).localCheckpoint()
    val edges = und
      .union(und.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val seed = deg
      .orderBy(col("deg").desc, col("src"))
      .limit(1)
      .select(col("src").as("node"), lit(0L).as("lvl"))
    bfsFrom(edges, seed).orderBy("lvl", "node")
  }

  /** The BFS loop itself, seam for specs: `edges` BOTH directions
    * (src, dst), `seed` (node, lvl=0) rows. Returns (node, lvl) for
    * every node reachable within [[BfsMaxDepth]]. */
  private[operators] def bfsFrom(edges: DataFrame, seed: DataFrame): DataFrame = {
    // state = visited (node, lvl); round r expands the lvl == r frontier,
    // so no separate frontier variable needs threading through the loop.
    // Progress = "visited grew" — a row-count comparison between rounds,
    // so it rides each round's checkpoint materialization as an observed
    // metric (ONE job per round; the two-argument probe shape paid a
    // second count scan of the new checkpoint per round). The depth cap
    // is part of the operator's semantics (reachable WITHIN BfsMaxDepth),
    // so the non-raising variant: stopping at the cap is a defined
    // output, not a truncated fixpoint.
    Iterate.fixpointObservedBy(seed, BfsMaxDepth.toInt) { (visited, round) =>
      val next = visited
        .filter(col("lvl") === round.toLong)
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"))
        .distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("lvl", lit(round + 1L))
      visited.union(next)
    } (Seq(count(lit(1)))) { (prev, next) =>
      prev.head.asInstanceOf[Long] == next.head.asInstanceOf[Long]
    }.state
  }

  private val qBfsLevelsSql =
    s"""WITH RECURSIVE
       |$adjacencySqlCtes,
       |edges AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |seed AS (SELECT src FROM deg ORDER BY deg DESC, src LIMIT 1),
       |bfs(node, lvl) AS (
       |  SELECT src, 0 FROM seed
       |  UNION
       |  SELECT e.dst, b.lvl + 1
       |  FROM bfs b JOIN edges e ON e.src = b.node
       |  WHERE b.lvl < $BfsMaxDepth)
       |SELECT node, CAST(min(lvl) AS BIGINT) AS lvl
       |FROM bfs GROUP BY 1 ORDER BY lvl, node""".stripMargin

  /** Synchronous-relaxation round cap. The word graph's weighted
    * diameter is a handful of hops; 64 is a tripwire, not a schedule —
    * [[Iterate.Fixpoint.requireConverged]] raises if it ever binds. */
  private[operators] val SsspMaxRounds = 64

  /** WEIGHTED single-source shortest paths over the word-adjacency
    * graph — [[qBfsLevels]]'s hop count generalized to edge lengths.
    * Edge length is integer by construction (1 + 10⁶ div co-occurrence
    * count: frequent adjacency = short edge), so distances are exact
    * BIGINTs and the oracle is a DuckDB recursive iteration table, not a
    * float-tolerance spec. The loop is label-correcting (per-round
    * Bellman-Ford relaxation): dist ← min(dist, min over in-edges of
    * dist(src) + w), state only REACHED nodes — one join + combiner-
    * backed min aggregate per round, the same per-round shuffle shape
    * as [[qPagerank]], converging in weighted-diameter rounds. The
    * convergence probe is one aggregate scan per frame ((count, Σdist)
    * memoized across rounds: the reached set only grows and dists only
    * fall, so pair-equality ⟺ fixpoint — no per-round id join, no
    * collect). The oracle replays 64 synchronous rounds and takes each
    * node's min over iterations — monotone per-node values make that
    * exactly the converged state. Source = max-degree node (ties by
    * name), the [[qBfsLevels]] convention. */
  def qSssp(s: SparkSession, d: String): DataFrame = {
    val und = adjacencyCounted(s, d)
      .select(col("src"), col("dst"), (lit(1L) + expr("1000000L div cnt")).as("w"))
      .localCheckpoint()
    val edges = und
      .union(und.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val seed = deg
      .orderBy(col("deg").desc, col("src"))
      .limit(1)
      .select(col("src").as("node"), lit(0L).as("dmin"))
    ssspFrom(edges, seed).orderBy("dmin", "node")
  }

  /** The relaxation loop, seam for specs: `edges` BOTH directions
    * (src, dst, w), `seed` (node, dmin=0) rows. Returns (node, dmin)
    * for every node reachable from the seed. */
  private[operators] def ssspFrom(edges: DataFrame, seed: DataFrame): DataFrame = {
    // convergence = (reached-node count, Σ dmin) both unchanged; the pair
    // is OBSERVED during each round's checkpoint materialization
    // (fixpointObservedBy), so a round pays one job — no
    // separate probe scan. A null sum over a nonempty frame is a
    // decimal(38) overflow and must fail loudly, never read as
    // converged (cf. ccLabelsFrom's probe).
    def stats(x: Seq[Any]): (Long, java.math.BigDecimal) = {
      val c = x(0).asInstanceOf[Long]
      val s = x(1).asInstanceOf[java.math.BigDecimal]
      if (c == 0L) (c, java.math.BigDecimal.ZERO)
      else if (s == null)
        throw new ArithmeticException(
          "SSSP convergence probe: distance sum overflowed decimal(38,0)")
      else (c, s)
    }
    Iterate.fixpointObservedBy(seed, SsspMaxRounds) { (dist, _) =>
      val relaxed = edges
        .join(dist, col("src") === col("node"))
        .select(col("dst").as("n"), (col("dmin") + col("w")).as("cand"))
      dist
        .select(col("node").as("n"), col("dmin").as("cand"))
        .union(relaxed)
        .groupBy("n")
        .agg(min("cand").as("dmin"))
        .withColumnRenamed("n", "node")
    } (Seq(count(lit(1)), sum(col("dmin").cast("decimal(38,0)")))) { (prev, next) =>
      val p = stats(prev)
      val n = stats(next)
      p._1 == n._1 && p._2.compareTo(n._2) == 0
    }.requireConverged.state
  }

  /** Fixed synchronous LPA schedule — label propagation is a
    * SCHEDULE-shaped loop (it oscillates on bipartite structures and has
    * no monotone convergence measure), so both engines run exactly this
    * many rounds and compare the resulting labeling, the
    * [[Iterate.fixpointObservedBy]] scaladoc's fixed-schedule case. */
  private[operators] val LpaRounds = 4

  /** COMMUNITY DETECTION by synchronous label propagation over the word
    * graph — the clustering family between connected components (which
    * merges everything reachable) and k-core (which thresholds): each
    * round, every node adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label (binary string order — both
    * engines' default collation). Determinism is the whole design: the
    * classic async/random-order LPA is irreproducible by construction;
    * the synchronous min-tiebreak variant is a pure function of the
    * graph, so the DuckDB twin replays all [[LpaRounds]] rounds and the
    * gate hash-compares the full labeling. Per round: one edges⋈labels
    * join + count aggregate + a node-keyed rank window — the same
    * shuffle class as the PageRank iteration, hub skew AQE-splittable. */
  def qLabelProp(s: SparkSession, d: String): DataFrame = {
    val und = adjacencyEdges(s, d).localCheckpoint()
    val edges = und
      .union(und.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    lpaFrom(edges).orderBy("node")
  }

  /** The LPA loop itself, seam for specs: `edges` BOTH directions
    * (src, dst). Returns the (node, lab) labeling after [[LpaRounds]]
    * synchronous rounds. */
  private[operators] def lpaFrom(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels0 = edges
      .select(col("src").as("node"))
      .distinct()
      .select(col("node"), col("node").as("lab"))
    Iterate.fixpointObservedBy(labels0, LpaRounds) { (labels, _) =>
      edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn(
          "rn",
          row_number().over(
            Window.partitionBy("node").orderBy(col("cnt").desc, col("lab"))))
        .filter(col("rn") === 1)
        .select("node", "lab")
    } (Nil)((_, _) => false) // fixed schedule: no convergence probe, run all rounds
      .state
  }

  private val qLabelPropSql =
    s"""WITH RECURSIVE
       |$adjacencySqlCtes,
       |edges AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
       |lp(it, node, lab) AS (
       |  SELECT 0, src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION ALL
       |  SELECT it + 1, node, lab FROM (
       |    SELECT q.it AS it, q.node AS node, q.lab AS lab, q.cnt AS cnt,
       |      max(q.cnt) OVER (PARTITION BY q.it, q.node) AS mx,
       |      min(q.lab) OVER (PARTITION BY q.it, q.node, q.cnt) AS minlab_at_cnt
       |    FROM (
       |      SELECT l.it AS it, e.dst AS node, l.lab AS lab, count(*) AS cnt
       |      FROM lp l JOIN edges e ON e.src = l.node
       |      GROUP BY 1, 2, 3) q) w
       |  WHERE cnt = mx AND lab = minlab_at_cnt AND it < $LpaRounds)
       |SELECT node, lab FROM lp WHERE it = $LpaRounds ORDER BY node""".stripMargin

  private val qSsspSql =
    s"""WITH RECURSIVE
       |$adjacencySqlCtes,
       |wedges AS (
       |  SELECT src, dst, 1 + 1000000 // cnt AS w FROM und
       |  UNION ALL SELECT dst, src, 1 + 1000000 // cnt FROM und),
       |deg AS (SELECT src, count(*) AS deg FROM wedges GROUP BY 1),
       |seed AS (SELECT src FROM deg ORDER BY deg DESC, src LIMIT 1),
       |sp(it, node, d) AS (
       |  SELECT 0, src, CAST(0 AS BIGINT) FROM seed
       |  UNION ALL
       |  SELECT it + 1, node, min(d) FROM (
       |    SELECT s.it AS it, e.dst AS node, s.d + e.w AS d
       |    FROM sp s JOIN wedges e ON e.src = s.node
       |    UNION ALL
       |    SELECT it, node, d FROM sp) u
       |  WHERE it < $SsspMaxRounds
       |  GROUP BY it, node)
       |SELECT node, CAST(min(d) AS BIGINT) AS dmin
       |FROM sp GROUP BY 1 ORDER BY dmin, node""".stripMargin

  /** Count-min-sketch heavy hitters, gate-checked: the exact top-20
    * token counts (oracle side) each probed against a corpus-wide CMS
    * (eps 0.001, confidence 0.99, fixed seed). `overestimate_only` is
    * the CMS structural guarantee (counters only ever add); `within_eps`
    * is est ≤ exact + ⌈eps·N⌉ — probabilistic in general but
    * deterministic for a fixed corpus/seed, the same measured-then-
    * asserted pattern as q_minhash_recall. The sketch is the 100 TB
    * path for frequency tracking: fixed ~100 KB of counters, partials
    * merge by cell-wise ADDITION (commutative — the flags cannot depend
    * on partition order), and the driver-side probe of 20 words against
    * a bounded sketch is the legitimate broadcast-small pattern. The
    * exact counts exist only to CHECK the sketch — at scale they'd be
    * the expensive side, not the shipped one. */
  def qCmsCheck(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // cached: the exact top-k and the count+sketch pass both read it;
    // count and sketch share ONE aggregation job
    val words = Tables.documents(s, d)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("word"))
      .cache()
    val exactTop = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
    val nAndSketch = words
      .agg(count(lit(1)), expr("count_min_sketch(word, 0.001D, 0.99D, 42)"))
      .head()
    val totalN = nAndSketch.getLong(0)
    val skBytes = nAndSketch.getAs[Array[Byte]](1)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(skBytes))
    val bound = math.ceil(0.001 * totalN).toLong
    val rows = exactTop.collect().toSeq.map { r =>
      val (wd, cnt) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(wd)
      (wd, cnt, est >= cnt, est <= cnt + bound)
    }
    rows.toDF("word", "cnt", "overestimate_only", "within_eps")
      .orderBy(col("cnt").desc, col("word"))
  }

  private val qCmsCheckSql =
    s"""SELECT w AS word, cnt, TRUE AS overestimate_only, TRUE AS within_eps
       |FROM (
       |  SELECT w, count(*) AS cnt
       |  FROM (SELECT unnest($tokensSql) AS w FROM documents)
       |  GROUP BY w ORDER BY cnt DESC, w LIMIT 20)
       |ORDER BY cnt DESC, word""".stripMargin

  /** The Gopher repetition-filter battery (Rae et al. 2021): per doc,
    * exact token-character coverage of duplicate n-grams for n ∈ {2,3,4}
    * (position-union semantics — a token counts once however many
    * duplicate windows cover it) plus the character mass of the most
    * frequent bigram. [[qRepetition]]'s distinct-ratio is the quick
    * screen; THIS is the published battery real pipelines gate on
    * (boilerplate and template spam show up as high dup-gram coverage
    * long before the distinct ratio moves). One codegen'd pass via
    * [[graft.functions.GopherRep]] — O(doc) per row, nothing leaves the
    * projection — while the DuckDB twin replays the position-set
    * definition relationally (windows → per-gram counts → covered
    * position union → char sums), a genuinely different algorithm
    * arriving at the same exact integers. */
  def qGopherRep(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.NativeExprs.gopherRep(col("text")).as("g"))
      .select(
        col("doc_id"),
        col("g.n_tok_chars").as("n_tok_chars"),
        col("g.top2_chars").as("top2_chars"),
        col("g.dup2_chars").as("dup2_chars"),
        col("g.dup3_chars").as("dup3_chars"),
        col("g.dup4_chars").as("dup4_chars"))
      .orderBy("doc_id")

  private val qGopherRepSql = {
    def grams(n: Int) = {
      val parts = (0 until n).map(o => s"t[i${if (o == 0) "" else s" + $o"}]").mkString(" || ' ' || ")
      s"""SELECT doc_id, i AS s, $parts AS gram
         |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t) - ${n - 1})) AS i) u
         |  WHERE len(t) >= $n""".stripMargin
    }
    def cov(n: Int) = {
      val offs = (0 until n).mkString("[", ", ", "]")
      s"""cov$n AS (
         |  SELECT DISTINCT doc_id, s + o AS p
         |  FROM (SELECT doc_id, s, gram,
         |          count(*) OVER (PARTITION BY doc_id, gram) AS cnt FROM g$n) x,
         |       LATERAL (SELECT unnest($offs) AS o) u
         |  WHERE cnt >= 2),
         |d$n AS (
         |  SELECT c.doc_id, sum(length(p$n.tok))::BIGINT AS dup${n}_chars
         |  FROM cov$n c JOIN pos p$n ON p$n.doc_id = c.doc_id AND p$n.i = c.p
         |  GROUP BY 1)""".stripMargin
    }
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |base AS (
       |  SELECT doc_id,
       |    coalesce(list_sum(list_transform(t, x -> length(x))), 0)::BIGINT AS n_tok_chars
       |  FROM tk),
       |pos AS (
       |  SELECT doc_id, i, t[i] AS tok
       |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) u),
       |g2 AS (${grams(2)}),
       |g3 AS (${grams(3)}),
       |g4 AS (${grams(4)}),
       |${cov(2)},
       |${cov(3)},
       |${cov(4)},
       |t2 AS (
       |  SELECT doc_id, (cnt * (length(gram) - 1))::BIGINT AS top2_chars FROM (
       |    SELECT doc_id, gram, count(*) AS cnt,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY count(*) DESC, gram) AS rn
       |    FROM g2 GROUP BY doc_id, gram) WHERE rn = 1)
       |SELECT b.doc_id, b.n_tok_chars,
       |  coalesce(t2.top2_chars, 0)::BIGINT AS top2_chars,
       |  coalesce(d2.dup2_chars, 0)::BIGINT AS dup2_chars,
       |  coalesce(d3.dup3_chars, 0)::BIGINT AS dup3_chars,
       |  coalesce(d4.dup4_chars, 0)::BIGINT AS dup4_chars
       |FROM base b
       |LEFT JOIN t2 USING (doc_id) LEFT JOIN d2 USING (doc_id)
       |LEFT JOIN d3 USING (doc_id) LEFT JOIN d4 USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  /** Unigram SURPRISAL quality score — the perplexity-filter shape
    * (CCNet-style: score each doc by how improbable its tokens are under
    * a corpus LM; gibberish, OCR noise and random strings score high)
    * with an engine-portable scoring function: surprisal in WHOLE BITS,
    * ⌊log₂ N⌋ − ⌊log₂ c⌋, computed as binary digit length
    * (`length(bin(x)) − 1`) so the score is integer-exact — no libm log
    * whose last ulp differs across engines ever enters the comparison.
    * Plan: one explode scan builds the unigram table (vocab-sized),
    * tokens re-join it on the term key (at 100 TB: a shuffle join on a
    * key whose cardinality is the VOCABULARY, not the corpus), and the
    * doc rollup is one combiner-backed groupBy; the corpus total is a
    * 1-row broadcast. Mean surprisal divides two exact integers once. */
  def qSurprisal(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(graft.functions.NativeExprs.tokens(col("text"))).as("tok"))
      // both the vocab aggregation and the scoring join read this stream;
      // caching halves the tokenize+explode work (same device as dsirVotes)
      .cache()
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum("c").as("n_corpus"))
    toks
      .join(freq, "tok")
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"),
        (length(bin(col("n_corpus"))) - length(bin(col("c")))).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sum_bits"))
      .withColumn(
        "mean_bits_micro",
        floor(col("sum_bits") * 1e6 / col("n_tokens")).cast("long"))
      .orderBy("doc_id")
  }

  private val qSurprisalSql =
    s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       |freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
       |total AS (SELECT sum(c) AS n_corpus FROM freq)
       |SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(bits)::BIGINT AS sum_bits,
       |  CAST(floor(sum(bits) * 1000000.0 / count(*)) AS BIGINT) AS mean_bits_micro
       |FROM (SELECT doc_id, (length(bin(n_corpus)) - length(bin(c)))::BIGINT AS bits
       |      FROM toks JOIN freq USING (tok), total)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus DATA CARD: the per-source summary a training run publishes
    * with its mixture recipe — doc/token/char volumes, language spread,
    * exact-dup burden (docs minus distinct content fingerprints — the
    * [[Dedup.fingerprint]] identity, so this row agrees with what the
    * dedup stage will actually drop), and each source's corpus share in
    * exact micro units. Every output is an integer; the share divides
    * two exact counts once, so the floor is bit-stable in both engines.
    * At 100 TB this is ONE scan: all five aggregates ride the same
    * groupBy(source) (the two DISTINCTs expand to the standard two-phase
    * distinct-aggregate plan), and the window total is over the
    * source-grain aggregate (tens of rows), not the corpus. */
  def qCorpusReport(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(
        col("source"),
        col("lang"),
        col("n_chars"),
        graft.functions.NativeExprs
          .textStats(col("text"), stopwords)
          .getField("n_tokens")
          .as("n_toks"),
        Dedup.fingerprint(col("text")).as("f"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("lang").as("n_langs"),
        countDistinct("f").as("n_unique"))
    per
      .withColumn("n_exact_dup", col("n_docs") - col("n_unique"))
      .withColumn(
        "share_micro",
        floor(col("n_docs") * 1e6 / sum("n_docs")
          .over(org.apache.spark.sql.expressions.Window.partitionBy())).cast("long"))
      .orderBy("source")
  }

  private val qCorpusReportSql =
    s"""WITH per AS (
       |  SELECT source,
       |    count(*) AS n_docs,
       |    sum(len($tokensSql)) AS n_tokens,
       |    sum(n_chars) AS n_chars,
       |    count(DISTINCT lang) AS n_langs,
       |    count(DISTINCT $fingerprintSql) AS n_unique
       |  FROM documents GROUP BY 1)
       |SELECT source, n_docs::BIGINT AS n_docs, n_tokens::BIGINT AS n_tokens,
       |  n_chars::BIGINT AS n_chars, n_langs::BIGINT AS n_langs,
       |  n_unique::BIGINT AS n_unique,
       |  (n_docs - n_unique)::BIGINT AS n_exact_dup,
       |  CAST(floor(n_docs * 1000000.0 / sum(n_docs) OVER ()) AS BIGINT) AS share_micro
       |FROM per ORDER BY source""".stripMargin

  private val ChunkW = 64L // tokens per chunk
  private val ChunkS = 48L // stride (16-token overlap)

  /** Retrieval-ingestion CHUNKING: cut each document into overlapping
    * fixed-token windows ([[ChunkW]] tokens, stride [[ChunkS]]) — the
    * step every embedding/RAG pipeline runs between cleaning and the
    * encoder, because encoders take bounded windows and retrieval wants
    * overlap so no answer span straddles a cut. Chunk k covers tokens
    * [k·S, k·S+W); a chunk exists iff it is the first OR its predecessor
    * did not already reach the document's end (early stop — no trailing
    * chunks fully contained in the previous one), which both engines
    * replay as the closed form K = 1 + ⌈max(n−W,0)/S⌉. Emitted identity
    * is (doc_id, chunk_idx) plus the md5-prefix integer of the
    * space-joined chunk text — the stable content key downstream
    * dedup/indexing joins on; chunk boundaries depend only on the
    * document itself, so re-chunking an appended corpus never moves an
    * existing chunk. Plan: one narrow projection + per-row explode, no
    * shuffle anywhere (the orderBy is presentation-only) — at 100 TB
    * this is a pure map stage that pipelines into whatever consumes the
    * chunks. */
  def qChunkWindows(s: SparkSession, d: String): DataFrame = {
    val t = col("t")
    val n = size(t).cast("long")
    // integer ⌈(n−W)/S⌉ — no float division on the chunk count
    val m = n - ChunkW + ChunkS - 1
    val k = (lit(1L) + when(n > ChunkW, ((m - m % ChunkS) / ChunkS).cast("long")).otherwise(0L))
      .cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.NativeExprs.tokens(col("text")).as("t"))
      .filter(size(t) > 0)
      .select(col("doc_id"), t, explode(sequence(lit(0L), k - 1)).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        (col("chunk_idx") * ChunkS).as("start_tok"),
        slice(t, (col("chunk_idx") * ChunkS + 1).cast("int"), lit(ChunkW.toInt)).as("c"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        col("start_tok"),
        size(col("c")).cast("long").as("n_tok"),
        graft.functions.PortableHash
          .md5PrefixLong(array_join(col("c"), " "), 14)
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val qChunkWindowsSql =
    s"""WITH tk AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents),
       |k AS (
       |  SELECT doc_id, t, len(t) AS n,
       |    1 + CASE WHEN len(t) > $ChunkW
       |      THEN (len(t) - $ChunkW + $ChunkS - 1) // $ChunkS ELSE 0 END AS nk
       |  FROM tk WHERE len(t) > 0),
       |c AS (
       |  SELECT doc_id, i.i AS chunk_idx, (i.i * $ChunkS)::BIGINT AS start_tok,
       |    t[i.i * $ChunkS + 1 : least(i.i * $ChunkS + $ChunkW, n)] AS c
       |  FROM k, LATERAL (SELECT unnest(generate_series(0, nk - 1)) AS i) i)
       |SELECT doc_id, chunk_idx, start_tok, len(c)::BIGINT AS n_tok,
       |  ${graft.functions.PortableHash.md5PrefixLongSql("array_to_string(c, ' ')", 14)} AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Content-defined chunking (the rsync/FastCDC boundary rule, in the
    * [[graft.functions.CdcChunks]] kernel): chunk cuts fall where a
    * 16-code-point rolling polynomial hash is ≡ 0 mod 64, so boundaries
    * are a function of LOCAL content only. The property this buys over
    * [[qChunkWindows]]' fixed stride: editing a document shifts every
    * downstream fixed window (all chunk keys churn) but CDC
    * re-synchronizes at the next content-defined cut — unchanged regions
    * keep their chunk keys, which is what makes chunk-level dedup of
    * revisioned/crawled corpora incremental at 100 TB. Each chunk emits
    * its (start, length) in code points plus the md5-prefix content key
    * downstream dedup joins on. The DuckDB twin replays the window hash
    * CLOSED-FORM (Σ cp(i−j)·B^j mod 2²⁰ over a 16-row power table — the
    * kernel's rolling update never resets at cuts precisely so this
    * replay is possible). Plan: one narrow projection + per-row kernel +
    * explode — a pure map stage, no shuffle (orderBy is
    * presentation-only). */
  /** Substantial-chunk floor in code points — drops trivial micro-chunk
    * collisions. ONE constant for [[qCdcDedup]] and the streaming
    * admission gate ([[graft.streaming.StreamingDedup.cdcAgainstCorpus]]);
    * a drifted copy would silently stop the stream matching the batch
    * index. */
  private[graft] val CdcMinSubstantialCp = 24

  /** THE chunk-key derivation: exploded CDC chunk rows
    * (doc_id, chunk_idx, start_cp, len_cp, chunk_key) from a frame with
    * (doc_id, text, …), `extra` columns carried through. Shared by the
    * batch gate rows AND the streaming gate so boundary kernel, substring
    * recipe, and key hash cannot drift between them. */
  private[graft] def cdcChunkKeys(docs: DataFrame, extra: Seq[String]): DataFrame =
    docs
      .select(
        (Seq(col("doc_id"), col("text")) ++ extra.map(col)) :+
          posexplode(graft.functions.NativeExprs.cdcChunks(col("text")))
            .as(Seq("chunk_idx", "c")): _*)
      .select(
        (Seq(
          col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("c.start_cp").as("start_cp"),
          col("c.len_cp").as("len_cp"),
          graft.functions.PortableHash
            .md5PrefixLong(
              expr("substring(text, cast(start_cp + 1 AS int), cast(len_cp AS int))"), 14)
            .as("chunk_key")) ++ extra.map(col)): _*)

  private def cdcChunkRows(s: SparkSession, d: String): DataFrame =
    cdcChunkKeys(Tables.documents(s, d), Seq.empty)

  def qCdcChunks(s: SparkSession, d: String): DataFrame =
    cdcChunkRows(s, d).orderBy("doc_id", "chunk_idx")

  /** Shared CTE block for the CDC twins, ending in
    * `gk(doc_id, chunk_idx, start_cp, len_cp, chunk_key)`. */
  private def cdcChunksSqlCtes: String = {
    import graft.functions.CdcChunks.{powTableSql, Mod, D, W}
    s"""pw(j, p) AS (VALUES $powTableSql),
       |cps AS (
       |  SELECT doc_id, i.i AS i, unicode(substr(text, i.i + 1, 1)) % $Mod AS cpm
       |  FROM documents, LATERAL (SELECT unnest(range(length(text))) AS i) i),
       |h AS (
       |  SELECT a.doc_id, a.i, sum(b.cpm * pw.p) % $Mod AS hv
       |  FROM cps a
       |  CROSS JOIN pw
       |  JOIN cps b ON b.doc_id = a.doc_id AND b.i = a.i - pw.j
       |  WHERE a.i >= ${W - 1}
       |  GROUP BY a.doc_id, a.i),
       |flags AS (
       |  SELECT c.doc_id, c.i, CASE WHEN h.hv % $D = 0 THEN 1 ELSE 0 END AS cut
       |  FROM cps c LEFT JOIN h ON h.doc_id = c.doc_id AND h.i = c.i),
       |ch AS (
       |  SELECT doc_id, i,
       |    coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
       |  FROM flags),
       |g AS (
       |  SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       |    min(i)::BIGINT AS start_cp, count(*)::BIGINT AS len_cp
       |  FROM ch GROUP BY doc_id, chunk_idx),
       |gk AS (
       |  SELECT g.doc_id, g.chunk_idx, g.start_cp, g.len_cp,
       |    ${graft.functions.PortableHash
        .md5PrefixLongSql("substr(d.text, (g.start_cp + 1)::INT, g.len_cp::INT)", 14)} AS chunk_key
       |  FROM g JOIN documents d ON d.doc_id = g.doc_id)""".stripMargin
  }

  private val qCdcChunksSql =
    s"""WITH $cdcChunksSqlCtes
       |SELECT doc_id, chunk_idx, start_cp, len_cp, chunk_key FROM gk
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Chunk-level dedup over the CDC keys — the consumer [[qCdcChunks]]
    * exists for: chunks whose content recurs (across or within
    * documents) surface as one group per content key, the unit a
    * revision-dedup store would keep once. The ≥ 24-code-point floor
    * drops trivial micro-chunk collisions (single characters between
    * two adjacent cuts) so every reported group is a substantive shared
    * span — on this corpus those are exactly the spans the planted
    * near-duplicate documents share. Scale: one shuffle on chunk_key
    * with map-side combine; group count is bounded by distinct
    * duplicated content, not corpus size. */
  def qCdcDedup(s: SparkSession, d: String): DataFrame =
    cdcChunkRows(s, d)
      .filter(col("len_cp") >= CdcMinSubstantialCp)
      .groupBy("chunk_key", "len_cp")
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("first_doc"))
      .filter(col("n_copies") > 1)
      .orderBy("chunk_key", "len_cp")

  private val qCdcDedupSql =
    s"""WITH $cdcChunksSqlCtes
       |SELECT chunk_key, len_cp, count(*)::BIGINT AS n_copies,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs, min(doc_id)::BIGINT AS first_doc
       |FROM gk WHERE len_cp >= $CdcMinSubstantialCp
       |GROUP BY chunk_key, len_cp
       |HAVING count(*) > 1
       |ORDER BY chunk_key, len_cp""".stripMargin

  /** Sequence-LENGTH DISTRIBUTION per source, in log₂ buckets — the
    * data-card histogram a packing/training job reads before choosing
    * its context length (what fraction of documents truncate at 512?
    * how much padding does 4k cost?). Bucket = binary digit length of
    * the token count (integer-exact, the same `length(bin(x))` device
    * as [[qSurprisal]] — bucket k holds docs with 2^(k−1) ≤ tokens <
    * 2^k), with per-bucket doc and token totals. One combiner-backed
    * groupBy over a narrow scan; the histogram is (sources × ~14
    * buckets) rows at any corpus size. */
  def qLengthHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("source"),
        size(graft.functions.NativeExprs.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .groupBy(col("source"), length(bin(col("n"))).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
      .orderBy("source", "len_bucket")

  private val qLengthHistogramSql =
    s"""SELECT source, length(bin(n))::BIGINT AS len_bucket,
       |  count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens
       |FROM (SELECT source, len($tokensSql)::BIGINT AS n FROM documents)
       |WHERE n > 0
       |GROUP BY 1, 2 ORDER BY source, len_bucket""".stripMargin

  /** The standing phrase queries (a deterministic stand-in for a user's
    * search load): one common 2-gram and one selective 3-gram. */
  private val Phrases = Seq(Seq("table", "scan"), Seq("data", "table", "scan"))

  /** Build-once PERSISTED positional inverted index: (doc_id, pos, term)
    * for every token occurrence, stored bucketed+sorted by term — the
    * nightly index-build half of a search deployment. Term-bucketing is
    * the layout that survives an open vocabulary (a directory per term
    * would not); an equality/IN probe on the bucket column lets Spark
    * prune to the matching buckets. */
  private[operators] def ensurePostings(s: SparkSession, d: String): String = {
    val t = graft.sources.Warehouse.tableName("graft_postings", d)
    graft.sources.Warehouse.ensure(s, t, "term", srcDir = d) {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          posexplode(graft.functions.NativeExprs.tokens(col("text"))).as(Seq("pos", "term")))
    }
    t
  }

  /** Exact phrase search probing the STORED positional index
    * ([[ensurePostings]]): only the phrase terms' posting lists are read
    * — the corpus text is never rescanned at query time (plan-guarded:
    * no documents.parquet scan) — then each phrase resolves by
    * equi-joining its terms' postings under the offset arithmetic
    * pos_k = pos_0 − k, so a k-term phrase is k−1 hash joins keyed on
    * (doc_id, pos) and candidates are bounded by the rarest term's
    * posting list (at web scale you'd reorder the fold rarest-first;
    * with two standing phrases the win is negligible). Positions are
    * 1-based to match the SQL twin's list indexing. */
  def qPhraseSearch(s: SparkSession, d: String): DataFrame = {
    val terms = Phrases.flatten.distinct
    val postings = s.table(ensurePostings(s, d))
      .filter(col("term").isin(terms.map(_.asInstanceOf[Any]): _*))
      .cache()
    val perPhrase = Phrases.map { ph =>
      val p0 = postings.filter(col("term") === ph.head).select("doc_id", "pos")
      val hits = ph.zipWithIndex.drop(1).foldLeft(p0) { case (acc, (t, k)) =>
        acc.join(
          postings.filter(col("term") === t).select(col("doc_id"), (col("pos") - k).as("pos")),
          Seq("doc_id", "pos"))
      }
      hits
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_matches"),
          (min("pos") + 1).cast("long").as("first_pos"))
        .select(
          lit(ph.mkString(" ")).as("phrase"), col("doc_id"),
          col("n_matches"), col("first_pos"))
    }
    perPhrase.reduce(_ unionByName _).orderBy("phrase", "doc_id")
  }

  private val qPhraseSearchSql = {
    def arm(ph: Seq[String]): String = {
      val n = ph.length
      val conds = ph.zipWithIndex
        .map { case (w, k) => if (k == 0) s"t[i] = '$w'" else s"t[i+$k] = '$w'" }
        .mkString(" AND ")
      // i + n - 1 <= len(t)  ⇒  i < len(t) - n + 2 (range is end-exclusive)
      s"""SELECT '${ph.mkString(" ")}' AS phrase, doc_id,
         |    list_filter(range(1, len(t) - ${n - 2}), i -> $conds) AS hits FROM tk""".stripMargin
    }
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |m AS (
       |${Phrases.map(arm).mkString("\n  UNION ALL\n")})
       |SELECT phrase, doc_id, len(hits)::BIGINT AS n_matches, hits[1]::BIGINT AS first_pos
       |FROM m WHERE len(hits) > 0
       |ORDER BY phrase, doc_id""".stripMargin
  }

  /** Vocabulary-growth card per source: token mass, distinct types, and
    * hapax legomena (types seen exactly once) — the Heaps'-law corner of
    * the corpus report ([[qZipfCoverage]] grades the HEAD of the
    * frequency curve; the hapax share grades the TAIL, which is where
    * OCR noise, boilerplate IDs and tokenizer damage pile up — a rising
    * hapax share across ingest batches is the canonical early-warning).
    * Exact integers from one (source, word) combiner-backed aggregate
    * and a per-source rollup; hot words shard across sources before
    * the second aggregate so no single key carries the corpus. */
  def qVocabGrowth(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .groupBy("source", "w")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(
        sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .orderBy("source")

  private val qVocabGrowthSql =
    s"""WITH un AS (SELECT source, unnest($tokensSql) AS w FROM documents),
       |uc AS (SELECT source, w, count(*) AS cnt FROM un GROUP BY 1, 2)
       |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  count(*)::BIGINT AS n_types,
       |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |FROM uc GROUP BY source ORDER BY source""".stripMargin

  /** Per-source READABILITY battery — the Flesch reading-ease family
    * (Flesch 1948, the gate most curation recipes pair with the Gopher
    * battery to catch both legalese walls and telegraphic fragments),
    * integer-exact: per doc, words = shared-tokenizer token count,
    * sentences = max(1, count of [.!?] terminators), syllables = per
    * token max(1, vowel-group count) — the standard orthographic
    * syllable estimator ([aeiou]+ runs; both regex engines agree on
    * this alphabet-only class). The per-source row carries the raw sums
    * plus the milli-scaled Flesch score 206835 − (1015·W) div S −
    * (84600·Y) div W with truncating division on non-negative operands
    * (Spark `div` ≡ DuckDB `//` there — the measured semantics, see
    * qAutocorr). Overflow envelope: 84600·Y wraps BIGINT only past
    * ~10¹⁴ per-source syllables (~0.5 PB of text in ONE source) —
    * DECIMAL(38) escape hatch applies, same plan. On this synthetic
    * punctuation-free corpus every doc collapses to one sentence (the
    * fallback), which the card exposes honestly (sum_sents = n_docs)
    * while the syllable/word terms still discriminate sources — same
    * deliberate non-vacuity stance as q_langid_eval. Plan: ONE
    * documents scan; words/syllables/sentences are per-row array
    * expressions (no explode — the token array folds in place), the
    * rollup is a combiner-backed groupBy on `source`; nothing shuffles
    * but ≤|sources| partial rows. */
  def qReadability(s: SparkSession, d: String): DataFrame =
    readabilityFrom(Tables.documents(s, d))

  /** DataFrame-first seam: any (source, text) relation. */
  private[operators] def readabilityFrom(docs: DataFrame): DataFrame = {
    val t = graft.functions.NativeExprs.tokens(col("text"))
    val perDoc = docs.select(
      col("source"),
      size(t).cast("long").as("words"),
      aggregate(
        transform(t, w => greatest(lit(1), size(regexp_extract_all(w, lit("[aeiou]+"), lit(0))))),
        lit(0L),
        (acc, x) => acc + x.cast("long")).as("sylls"),
      greatest(lit(1L), regexp_count(col("text"), lit("[.!?]")).cast("long")).as("sents"))
      .filter(col("words") > 0)
    perDoc
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("words").as("sum_words"),
        sum("sents").as("sum_sents"),
        sum("sylls").as("sum_sylls"))
      .withColumn(
        "fre_milli",
        expr("206835 - (1015 * sum_words) div sum_sents - (84600 * sum_sylls) div sum_words"))
      .orderBy("source")
  }

  private val qReadabilitySql =
    s"""WITH tk AS (
       |  SELECT source, $tokensSql AS t,
       |    len(regexp_extract_all(text, '[.!?]')) AS np
       |  FROM documents),
       |pd AS (
       |  SELECT source, len(t) AS words,
       |    list_sum(list_transform(t,
       |      w -> greatest(1, len(regexp_extract_all(w, '[aeiou]+'))))) AS sylls,
       |    greatest(1, np) AS sents
       |  FROM tk WHERE len(t) > 0)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  CAST(sum(words) AS BIGINT) AS sum_words,
       |  CAST(sum(sents) AS BIGINT) AS sum_sents,
       |  CAST(sum(sylls) AS BIGINT) AS sum_sylls,
       |  CAST(206835 - (1015 * sum(words)) // sum(sents)
       |    - (84600 * sum(sylls)) // sum(words) AS BIGINT) AS fre_milli
       |FROM pd GROUP BY source ORDER BY source""".stripMargin

  /** Zipf coverage curve: the top-50 terms by corpus frequency with each
    * rank's CUMULATIVE token coverage in exact ppm — the data card that
    * answers "how many vocabulary entries cover X% of the corpus"
    * (tokenizer sizing, stopword-list audits). Scale shape: the full
    * vocabulary reduces map-side to (term, count), the top-50 head is a
    * TakeOrderedAndProject (never a global sort), and ONLY those ≤50
    * rows enter the single-partition running-sum window — the
    * all-of-vocab cumsum a naive global window would do never happens.
    * The corpus total rides a broadcast 1-row cross join. */
  def qZipfCoverage(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("cnt"))
      .cache()
    val top = counts.orderBy(col("cnt").desc, col("w")).limit(50)
    val tot = counts.agg(sum("cnt").as("n_tokens"))
    val w = Window.orderBy(col("cnt").desc, col("w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("rank", row_number().over(Window.orderBy(col("cnt").desc, col("w"))).cast("long"))
      .withColumn("cum_tokens", sum("cnt").over(w))
      .crossJoin(broadcast(tot))
      .select(
        col("rank"), col("w"), col("cnt"), col("cum_tokens"),
        // DECIMAL(38): cum_tokens approaches the corpus total, and
        // total × 10⁶ wraps BIGINT past ~9.2e12 tokens
        expr("cast(cum_tokens as decimal(38,0)) * 1000000 div n_tokens").as("cov_ppm"))
      .orderBy("rank")
  }

  private val qZipfCoverageSql =
    s"""WITH un AS (SELECT unnest($tokensSql) AS w FROM documents),
       |uc AS (SELECT w, count(*) AS cnt FROM un GROUP BY w),
       |top AS (SELECT w, cnt FROM uc ORDER BY cnt DESC, w LIMIT 50),
       |tot AS (SELECT count(*) AS n_tokens FROM un)
       |SELECT row_number() OVER o AS rank, w, cnt::BIGINT AS cnt,
       |  (sum(cnt) OVER (o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |    AS cum_tokens,
       |  ((sum(cnt) OVER (o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::HUGEINT
       |    * 1000000 // n_tokens)::BIGINT AS cov_ppm
       |FROM top, tot
       |WINDOW o AS (ORDER BY cnt DESC, w)
       |ORDER BY rank""".stripMargin

  private val PmiMinCount = 10

  /** Collocation mining by pointwise mutual information: adjacent-token
    * bigrams scored by the exact integer ratio 10⁶·N·c(ab) div
    * (c(a)·c(b)) — a monotone transform of PMI (the log of the same
    * ratio), so the top-k ORDER is the PMI order with no float on the
    * hash surface. The product rides DECIMAL(38)/HUGEINT: at corpus
    * scale 10⁶·N·c(ab) overflows BIGINT long before the ratio does
    * (N ~ 10¹³ tokens at 100 TB), and a silent wrap would reorder the
    * ranking rather than error. Plan shape: one token scan feeds both
    * the unigram and bigram counts; the score join is vocab-sized on
    * one side and bigram-vocab-sized on the other; the 1-row total
    * broadcast-crosses; top-30 is TakeOrderedAndProject. */
  def qPmiPairs(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(graft.functions.NativeExprs.tokens(col("text")).as("t"))
      .cache()
    val uni = tk
      .select(explode(col("t")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c_w"))
      .cache()
    // total from the vocab-sized unigram counts — not a second token explode
    val tot = uni.agg(sum("c_w").as("n_tokens"))
    val bg = tk
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= PmiMinCount)
    bg
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_a"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c_b"), "w2")
      .crossJoin(broadcast(tot))
      .withColumn(
        "pmi_micro",
        // divisor widened too: c_a * c_b as BIGINT*BIGINT wraps at the
        // same corpus scale the numerator cast exists for
        expr("cast(1000000 as decimal(38,0)) * n_tokens * c_ab div (cast(c_a as decimal(38,0)) * c_b)"))
      .select("w1", "w2", "c_ab", "pmi_micro")
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(30)
  }

  private val qPmiPairsSql =
    s"""WITH tk AS (SELECT $tokensSql AS t FROM documents),
       |un AS (SELECT unnest(t) AS w FROM tk),
       |uc AS (SELECT w, count(*) AS c_w FROM un GROUP BY w),
       |tot AS (SELECT count(*) AS n_tokens FROM un),
       |bg AS (
       |  SELECT unnest(list_transform(range(1, len(t)), i -> [t[i], t[i+1]])) AS p
       |  FROM tk WHERE len(t) >= 2),
       |bgc AS (
       |  SELECT p[1] AS w1, p[2] AS w2, count(*) AS c_ab
       |  FROM bg GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount)
       |SELECT b.w1, b.w2, b.c_ab::BIGINT AS c_ab,
       |  (1000000::HUGEINT * t2.n_tokens * b.c_ab // (ua.c_w::HUGEINT * ub.c_w))::BIGINT AS pmi_micro
       |FROM bgc b JOIN uc ua ON ua.w = b.w1 JOIN uc ub ON ub.w = b.w2, tot t2
       |ORDER BY pmi_micro DESC, w1, w2 LIMIT 30""".stripMargin

  // ------------------------------------------------------- heavy hitters

  /** Counter budget and heaviness bar for [[qHeavyHitters]]: φ = 1/50
    * (a term on >2% of the token stream is "heavy"), k = 200 counters.
    * k·φ = 4 > 1, so retention of every heavy term is theory-guaranteed
    * (f > n/50 > n/(k+1)). */
  private val HhK = 200
  private val HhPhiInv = 50L

  /** Frequent-terms card over the [[graft.functions.MisraGriesAgg]]
    * sketch — the heavy-hitters job a pipeline runs when the vocabulary
    * is too large to groupBy but only the >φ tail matters (stop-word
    * discovery, hot-key detection before a join, trending n-grams). Each
    * exact heavy term (f·φ⁻¹ > n, from the exact twin aggregation)
    * carries the sketch's estimate plus the two theory verdicts:
    * `retained` (MG guarantees every f > n/(k+1) term survives any merge
    * tree) and `bounds_ok` (0 ≤ f − est ≤ n/(k+1)).
    *
    * This corpus's token vocabulary (31 terms) is under the k=200
    * counter budget, so the sketch is in its EXACT regime — no decrement
    * ever fires, est ≡ f for every term regardless of partitioning —
    * which is precisely what makes the full row (estimates included)
    * hash-gateable against a DuckDB exact twin. The over-capacity regime
    * (decrements, merge offsets, partitioning-dependent tails) is pinned
    * by the adversarial spec instead, which plants a >k-cardinality
    * stream and checks all three MG invariants under several merge
    * trees.
    *
    * Scale shape: the sketch aggregation moves O(k) per partition (the
    * point of the card — the exact twin here is the verifier, not the
    * scale path); the exact heavy list itself is a combiner-backed
    * count capped by the vocabulary, and the final join is heavy-terms ×
    * (≤ k)-entry map, both broadcast-sized. */
  def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(graft.functions.NativeExprs.tokens(col("text"))).as("term"))
    val mg = udaf(new graft.functions.MisraGriesAgg(HhK))
    val sketch = toks
      .agg(mg(col("term")).as("sk"))
      .select(explode(col("sk")).as(Seq("term", "est_count")))
    val tot = toks.agg(count(lit(1)).as("n_tokens"))
    toks
      .groupBy("term")
      .agg(count(lit(1)).as("exact_count"))
      .crossJoin(broadcast(tot))
      .filter(col("exact_count") * HhPhiInv > col("n_tokens"))
      .join(sketch, Seq("term"), "left")
      .select(
        col("term"), col("exact_count"), col("n_tokens"),
        coalesce(col("est_count"), lit(0L)).as("est_count"),
        when(col("est_count").isNotNull, 1L).otherwise(0L).as("retained"),
        (col("exact_count") - coalesce(col("est_count"), lit(0L))).as("underread"))
      .withColumn(
        "bounds_ok",
        when(
          col("underread") >= 0 &&
            col("underread") * (HhK + 1) <= col("n_tokens"),
          1L).otherwise(0L))
      .orderBy("term")
  }

  private val qHeavyHittersSql =
    s"""WITH tk AS (SELECT unnest($tokensSql) AS term FROM documents),
       |tot AS (SELECT count(*)::BIGINT AS n_tokens FROM tk),
       |ex AS (SELECT term, count(*)::BIGINT AS exact_count FROM tk GROUP BY 1)
       |SELECT term, exact_count, n_tokens,
       |  exact_count AS est_count,
       |  CAST(1 AS BIGINT) AS retained,
       |  CAST(0 AS BIGINT) AS underread,
       |  CAST(1 AS BIGINT) AS bounds_ok
       |FROM ex, tot
       |WHERE exact_count * $HhPhiInv > n_tokens
       |ORDER BY term""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q_wordcount", qWordcount, Some(qWordcountSql)),
    Q("q_heavy_hitters", qHeavyHitters, Some(qHeavyHittersSql)),
    Q("q_chunk_windows", qChunkWindows, Some(qChunkWindowsSql)),
    Q("q_cdc_chunks", qCdcChunks, Some(qCdcChunksSql)),
    Q("q_cdc_dedup", qCdcDedup, Some(qCdcDedupSql)),
    Q("q_length_histogram", qLengthHistogram, Some(qLengthHistogramSql)),
    Q("q_corpus_report", qCorpusReport, Some(qCorpusReportSql)),
    Q("q_cms_check", qCmsCheck, Some(qCmsCheckSql)),
    Q("q_token_count", qTokenCount, Some(qTokenCountSql)),
    Q("q_lang_id", qLangId, Some(qLangIdSql)),
    Q("q_langid_eval", qLangIdEval, Some(qLangIdEvalSql)),
    Q("q_quality_score", qQuality, Some(qQualitySql)),
    Q("q_repetition", qRepetition, Some(qRepetitionSql)),
    Q("q_gopher_rep", qGopherRep, Some(qGopherRepSql)),
    Q("q_surprisal", qSurprisal, Some(qSurprisalSql)),
    Q("q_lm_backoff", qLmBackoff, Some(qLmBackoffSql)),
    Q("q_ppl_buckets", qPplBuckets, Some(qPplBucketsSql)),
    Q("q_fingerprint", qFingerprint, Some(qFingerprintSql)),
    Q("q_pii_redact", qPiiRedact, Some(qPiiRedactSql)),
    Q("q_tfidf", qTfidf, Some(qTfidfSql)),
    Q("q_bpe_pairs", qBpePairs, Some(qBpePairsSql)),
    Q("q_bpe_train", qBpeTrain, Some(qBpeTrainSql)),
    Q("q_bpe_train_full", qBpeTrainFull, None),
    Q("q_bpe_train_full_check", qBpeTrainFullCheck, Some(qBpeTrainFullCheckSql), headline = false),
    Q("q_bpe_apply", qBpeApply, Some(qBpeApplySql)),
    Q("q_unigram_seed", qUnigramSeed, Some(qUnigramSeedSql)),
    Q("q_unigram_train", qUnigramTrain, None),
    Q("q_unigram_train_check", qUnigramTrainCheck, Some(qUnigramTrainCheckSql), headline = false),
    Q("q_unigram_fertility", qUnigramFertility, None),
    Q("q_unigram_fertility_check", qUnigramFertilityCheck,
      Some(qUnigramFertilityCheckSql), headline = false),
    Q("q_oov_rate", qOovRate, Some(qOovRateSql)),
    Q("q_vocab_drift", qVocabDrift, Some(qVocabDriftSql)),
    Q("q_bigram_novelty", qBigramNovelty, Some(qBigramNoveltySql)),
    Q("q_quality_gate", qQualityGate, Some(qQualityGateSql)),
    Q("q_bm25", qBm25, Some(qBm25Sql)),
    Q("q_pagerank", qPagerank, Some(qPagerankSql)),
    Q("q_triangles", qTriangles, Some(qTrianglesSql)),
    Q("q_clustering_coef", qClusteringCoef, Some(qClusteringCoefSql)),
    Q("q_edge_jaccard", qEdgeJaccard, Some(qEdgeJaccardSql)),
    Q("q_bfs_levels", qBfsLevels, Some(qBfsLevelsSql)),
    Q("q_sssp", qSssp, Some(qSsspSql)),
    Q("q_label_prop", qLabelProp, Some(qLabelPropSql)),
    Q("q_phrase_search", qPhraseSearch, Some(qPhraseSearchSql)),
    Q("q_pmi_pairs", qPmiPairs, Some(qPmiPairsSql)),
    Q("q_zipf_coverage", qZipfCoverage, Some(qZipfCoverageSql)),
    Q("q_vocab_growth", qVocabGrowth, Some(qVocabGrowthSql)),
    Q("q_readability", qReadability, Some(qReadabilitySql)))
}
