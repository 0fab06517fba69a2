package graft.operators

import graft.{Q, Tables}
import graft.functions.PortableHash.{md5PrefixLong, md5PrefixLongSql}
import graft.functions.PortableRound.{asScaled, asScaledSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product/ops analytics pack over the `events` stream table and the star
  * schema: cohort retention, interval concurrency (sweep line), Pareto
  * skyline, robust outliers (median absolute deviation), deterministic
  * Poisson-bootstrap confidence intervals, gap imputation (LOCF), EWMA
  * forecasting and item-item collaborative filtering.
  *
  * The reference's MapReduce core (SURVEY.md §2.1) has none of these as
  * operators — they are the analytics a user of that system would write as
  * opaque map/reduce binaries; here each is a declarative Catalyst plan
  * with an exact-integer output surface (house rule: every compared column
  * is a BIGINT, a formatted timestamp, or an exact-cents sum, so the
  * DuckDB oracle hash-matches bit-for-bit).
  *
  * Scale notes (100 TB): every aggregation is algebraic (map-side partial
  * agg); global orderings (sweep line, skyline) are decomposed into
  * partitioned partials + a bounded merge instead of a single-partition
  * window; the one self-join (item-CF basket pairs) is bounded by an
  * explicit basket-size cap so candidate volume is Σ C(cap,2) per order,
  * never quadratic in a hub item's popularity.
  */
object Analytics {

  // ---------------------------------------------------------------- cohorts

  /** Weekly signup-cohort retention matrix — the canonical product
    * analytics query. A user's cohort is the ISO week (Monday-truncated,
    * identical rule in both engines) of their FIRST event; activity in
    * week `w` after that counts them into (cohort, w). All arithmetic is
    * calendar-day integer math (`datediff div 7`) — no floats anywhere.
    *
    * Plan: one groupBy(user) for first-event day, a fact-side join back
    * (user-keyed shuffle, combiner-backed distinct), then a small
    * (cohort, week) aggregate. At 100 TB the first-event table is the
    * standard incremental dimension (min is algebraic, so a daily batch
    * folds in with one merge). */
  def qRetentionCohorts(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts").cast("date").as("day"))
    val cohort = ev
      .groupBy("user_id")
      .agg(min("day").as("fday"))
      .select(col("user_id"), date_trunc("week", col("fday")).cast("date").as("cweek"))
    ev.join(cohort, "user_id")
      .select(
        col("user_id"),
        col("cweek"),
        expr("CAST(datediff(day, cweek) div 7 AS BIGINT)").as("weeks_since"))
      .distinct()
      .groupBy("cweek", "weeks_since")
      .agg(count(lit(1)).as("n_users"))
      .select(
        date_format(col("cweek"), "yyyy-MM-dd").as("cohort_week"),
        col("weeks_since"),
        col("n_users"))
      .orderBy("cohort_week", "weeks_since")
  }

  private val qRetentionCohortsSql =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (
      |  SELECT user_id, CAST(date_trunc('week', min(day)) AS DATE) AS cweek
      |  FROM ev GROUP BY 1),
      |a AS (
      |  SELECT DISTINCT e.user_id, f.cweek,
      |    date_diff('day', f.cweek, e.day) // 7 AS weeks_since
      |  FROM ev e JOIN f USING (user_id))
      |SELECT strftime(cweek, '%Y-%m-%d') AS cohort_week,
      |  CAST(weeks_since AS BIGINT) AS weeks_since,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------- interval concurrency

  /** Peak concurrent sessions — the classic sweep-line interval query
    * (capacity planning: "how many sessions were open at once?").
    *
    * Sessions are [[Relational.qSessionize]]'s 30-minute-gap islands
    * (same `floor(epoch)` second rule, so the two operators cannot
    * disagree about what a session is). Each session [st, en] contributes
    * +1 at `st` and −1 at `en + 1µs` — the end shift makes the count
    * INCLUSIVE of the endpoint and, after grouping deltas by timestamp,
    * leaves the sweep a prefix sum over UNIQUE instants: no peer-order
    * ambiguity for the engines to disagree on.
    *
    * Scale: a naive running sum over one global ordering is a
    * single-partition window — the textbook distributed fix is the
    * two-phase prefix sum implemented here: per-DAY partial running sums
    * (parallel windows), day totals offset by a window over the tiny
    * day table (one row per day — bounded by the calendar, not the
    * data), partials + offset joined back. The oracle uses the plain
    * global window — deliberately a different evaluation order. */
  def qMaxConcurrency(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800),
          1).otherwise(0))
      .withColumn(
        "session_id",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("st"), max("ts").as("en"))
    // ±1 deltas via a 2-way explode of each session row rather than a
    // union of two selects over `sess`: the union shape evaluated the
    // whole sessionize window+aggregate subtree once per branch (only
    // its exchange is runtime-reused), the explode pays it once and
    // emits the identical (t, d) multiset (guide §2.4)
    val deltas = sess
      .select(explode(array(
        struct(col("st").as("t"), lit(1L).as("d")),
        struct((col("en") + expr("INTERVAL 1 MICROSECOND")).as("t"), lit(-1L).as("d")))).as("e"))
      .select(col("e.t").as("t"), col("e.d").as("d"))
      .groupBy("t")
      .agg(sum("d").as("dt"))
      .withColumn("day", col("t").cast("date"))
    val wDay = Window.partitionBy("day").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partial = deltas.withColumn("run", sum("dt").over(wDay))
    val wOff = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas
      .groupBy("day")
      .agg(sum("dt").as("tot"))
      .withColumn("off", coalesce(sum("tot").over(wOff), lit(0L)))
      .select("day", "off")
    partial
      .join(offsets, "day")
      .select(
        date_format(col("t"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("at_ts"),
        (col("off") + col("run")).as("conc"))
      .orderBy(col("conc").desc, col("at_ts"))
      .limit(10)
  }

  private val qMaxConcurrencySql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
      |  FROM numbered GROUP BY 1, 2
      |), delta AS (
      |  SELECT st AS t, 1 AS d FROM sess
      |  UNION ALL
      |  SELECT en + INTERVAL 1 MICROSECOND, -1 FROM sess
      |), agg AS (
      |  SELECT t, CAST(sum(d) AS BIGINT) AS dt FROM delta GROUP BY 1
      |), sweep AS (
      |  SELECT t, sum(dt) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM agg)
      |SELECT strftime(t, '%Y-%m-%d %H:%M:%S.%f') AS at_ts, CAST(conc AS BIGINT) AS conc
      |FROM sweep ORDER BY conc DESC, at_ts LIMIT 10""".stripMargin

  // ----------------------------------------------------------------- skyline

  /** 2-D Pareto skyline of `part` — rows no other row dominates
    * (dominates = price ≤ AND size ≥, strict in at least one): the
    * "best value at every size" frontier. Exact-cents prices keep every
    * comparison integral.
    *
    * Distributed form: skyline is idempotent under union, so stage 1
    * computes a LOCAL skyline per coarse price band (windows partitioned
    * by band — fully parallel) and stage 2 re-runs the same two checks
    * globally over the survivors. Survivors per band are bounded by the
    * number of distinct sizes in it (one row can survive per size value),
    * so the global pass sees a bounded small set, NOT the input — the
    * standard partition-then-merge skyline. Dominance checks are two
    * window functions, not a self-join: strictly-cheaper dominance is
    * `max(size) OVER (ORDER BY price RANGE UNBOUNDED PRECEDING TO -1)`,
    * equal-price dominance is a per-price-group max. The oracle is the
    * O(n²) NOT EXISTS definition — a genuinely different algorithm. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(
      col("p_partkey"),
      asScaled(col("p_retailprice"), 2).as("price_c"),
      col("p_size"))

    def skylinePass(df: DataFrame, bandCols: Seq[String]): DataFrame = {
      val part = bandCols.map(col)
      val wCheaper = Window.partitionBy(part: _*).orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSamePrice = Window.partitionBy(part :+ col("price_c"): _*)
      df.withColumn("mx_cheaper", max("p_size").over(wCheaper))
        .withColumn("mx_same", max("p_size").over(wSamePrice))
        .filter(
          (col("mx_cheaper").isNull || col("mx_cheaper") < col("p_size")) &&
            col("mx_same") === col("p_size"))
        .drop("mx_cheaper", "mx_same")
    }

    val local = skylinePass(p.withColumn("band", expr("price_c div 2000")), Seq("band"))
    skylinePass(local.drop("band"), Seq.empty)
      .orderBy("price_c", "p_partkey")
  }

  private val qSkylineSql = {
    val pcB = asScaledSql("b.p_retailprice", 2)
    val pcA = asScaledSql("a.p_retailprice", 2)
    s"""SELECT a.p_partkey, $pcA AS price_c, a.p_size
       |FROM part a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM part b
       |  WHERE $pcB <= $pcA AND b.p_size >= a.p_size
       |    AND ($pcB < $pcA OR b.p_size > a.p_size))
       |ORDER BY price_c, p_partkey""".stripMargin
  }

  // ------------------------------------------------------------ MAD outliers

  /** The shared value-histogram rank kernel (the scale-safe exact
    * quantile path — shuffles carry DISTINCT values with counts, never
    * row lists; same idiom as q_percentile_hist): per `keys` group, for
    * each requested (alias, num, den), the smallest `v` whose cumulative
    * histogram count reaches rank ⌈n·num/den⌉ (integer comparison
    * cum·den ≥ n·num), plus the group size `n`. One histogram pass
    * serves any number of ranks. With empty `keys` the cumulative window
    * is global — callers must bound the DISTINCT-value cardinality by
    * the value domain (see [[quartileBounds]]). */
  private[operators] def histRankMins(
      df: DataFrame,
      keys: Seq[String],
      v: String,
      ranks: Seq[(String, Int, Int)]): DataFrame =
    histRankMinsFromHist(
      df.groupBy((keys :+ v).map(col): _*).agg(count(lit(1)).as("cnt")),
      keys, v, ranks)

  /** The rank read-off over an ALREADY-AGGREGATED (keys, v, cnt) value
    * histogram — the seam that lets PERSISTED histogram partials (the
    * mergeable percentile state, [[Maintenance.qPercentileIncremental]])
    * share the exact rank rule with the one-shot [[histRankMins]]. */
  private[operators] def histRankMinsFromHist(
      hist0: DataFrame,
      keys: Seq[String],
      v: String,
      ranks: Seq[(String, Int, Int)]): DataFrame = {
    val part = keys.map(col)
    val wCum = Window.partitionBy(part: _*).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = hist0
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(Window.partitionBy(part: _*)))
    val aggs = ranks.map { case (a, num, den) =>
      min(when(col("cum") * den >= col("n") * num, col(v))).as(a)
    } :+ max("n").as("n")
    hist.groupBy(part: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Lower median of `v` per `key`: rank ⌈n/2⌉ via [[histRankMins]].
    * Returns (key, n, med). */
  private def lowerMedian(df: DataFrame, key: String, v: String): DataFrame =
    histRankMins(df, Seq(key), v, Seq(("med", 1, 2)))
      .select(col(key), col("n"), col("med"))

  /** Robust outlier detection per event type: median / MAD (median
    * absolute deviation) and the count of rows beyond 3·MAD — the
    * heavy-tail-safe alternative to [[Relational.qAnomalyHours]]'s 2σ
    * test (a single extreme value shifts a mean and explodes a stddev;
    * it moves a median by at most one rank). Lower-median convention
    * throughout keeps every statistic an EXACT data value (cents), so
    * there is no interpolation arithmetic to diverge on. Spark computes
    * medians via the value-histogram cumulative rank; the oracle uses
    * row_number ranks — different algorithm, same definition. */
  def qMadOutliers(s: SparkSession, d: String): DataFrame = {
    val v = Tables.events(s, d)
      .select(col("event_type").as("et"), asScaled(col("value"), 2).as("vc"))
    val med = lowerMedian(v, "et", "vc")
    val dv = v.join(med, "et").withColumn("dv", abs(col("vc") - col("med")))
    val mad = lowerMedian(dv.select(col("et"), col("dv")), "et", "dv")
      .select(col("et"), col("med").as("mad"))
    dv.join(mad, "et")
      .groupBy(col("et"), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("dv") > lit(3) * col("mad"), 1L).otherwise(0L)).as("n_out"))
      .select(
        col("et").as("event_type"),
        col("n"),
        col("med").as("med_c"),
        col("mad").as("mad_c"),
        col("n_out"))
      .orderBy("event_type")
  }

  private val qMadOutliersSql = {
    val vc = asScaledSql("value", 2)
    s"""WITH v AS (SELECT event_type AS et, $vc AS vc FROM events),
       |r AS (
       |  SELECT et, vc,
       |    row_number() OVER (PARTITION BY et ORDER BY vc) AS rn,
       |    count(*) OVER (PARTITION BY et) AS n
       |  FROM v),
       |med AS (SELECT et, n, min(vc) AS med FROM r WHERE rn >= (n + 1) // 2 GROUP BY 1, 2),
       |d AS (SELECT v.et, n, med, abs(vc - med) AS dv FROM v JOIN med USING (et)),
       |r2 AS (
       |  SELECT et, n, med, dv,
       |    row_number() OVER (PARTITION BY et ORDER BY dv) AS rn
       |  FROM d),
       |mad AS (SELECT et, min(dv) AS mad FROM r2 WHERE rn >= (n + 1) // 2 GROUP BY 1)
       |SELECT d.et AS event_type, CAST(n AS BIGINT) AS n, med AS med_c, mad AS mad_c,
       |  CAST(count(*) FILTER (WHERE dv > 3 * mad) AS BIGINT) AS n_out
       |FROM d JOIN mad USING (et)
       |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin
  }

  /** Exact 10%-trimmed and winsorized sums per event type — the robust
    * location estimators completing the set around [[qMadOutliers]]
    * (MAD grades spread; trimming/winsorizing give a mean the tails
    * can't drag). Row-count semantics: k = n div 10 rows are discarded
    * from EACH end (trimmed) or clamped to the cut values (winsorized).
    * Everything is computed from the VALUE HISTOGRAM — distinct cents
    * with counts, cumulative count AND cumulative sum windows — so
    * shuffles carry distinct values, never events, and the boundary
    * value's partial removal is exact integer arithmetic: rows strictly
    * below the cut leave wholesale (cumulative sums), the remainder of
    * k leaves at exactly the cut value. No division anywhere — the card
    * emits sums and counts (means are one client-side divide), so
    * negative cents can't trip a div/‌// floor divergence. One shuffle
    * on event_type; the cut-value join-backs probe the tiny histogram. */
  def qTrimmedStats(s: SparkSession, d: String): DataFrame = {
    val v = Tables.events(s, d)
      .select(col("event_type").as("et"), asScaled(col("value"), 2).as("vc"))
    val wEt = Window.partitionBy("et")
    val wCum = wEt.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0)
    val hist = v
      .groupBy("et", "vc")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("csum", sum(col("vc") * col("cnt")).over(wCum))
      .withColumn("n", sum("cnt").over(wEt))
      .withColumn("tot", sum(col("vc") * col("cnt")).over(wEt))
      .withColumn("k", expr("n div 10"))
    val bounds = hist
      .groupBy("et")
      .agg(
        max("n").as("n"),
        max("tot").as("tot"),
        max("k").as("k"),
        min(when(col("cum") >= col("k") + 1, col("vc"))).as("v_lo"),
        min(when(col("cum") >= col("n") - col("k"), col("vc"))).as("v_hi"))
    val lo = hist.select(
      col("et"), col("vc").as("v_lo"), col("cnt").as("lo_cnt"),
      col("cum").as("lo_cum"), col("csum").as("lo_csum"))
    val hi = hist.select(
      col("et"), col("vc").as("v_hi"), col("cnt").as("hi_cnt"),
      col("cum").as("hi_cum"), col("csum").as("hi_csum"))
    bounds
      .join(lo, Seq("et", "v_lo"))
      .join(hi, Seq("et", "v_hi"))
      .withColumn(
        "removed_lo",
        col("lo_csum") - col("v_lo") * col("lo_cnt") +
          (col("k") - (col("lo_cum") - col("lo_cnt"))) * col("v_lo"))
      .withColumn(
        "removed_hi",
        col("tot") - col("hi_csum") +
          (col("k") - (col("n") - col("hi_cum"))) * col("v_hi"))
      .select(
        col("et").as("event_type"),
        col("n"),
        (col("n") - lit(2) * col("k")).as("trimmed_n"),
        (col("tot") - col("removed_lo") - col("removed_hi")).as("trimmed_sum_c"),
        (col("tot") - col("removed_lo") - col("removed_hi") +
          col("k") * col("v_lo") + col("k") * col("v_hi")).as("winsor_sum_c"))
      .orderBy("event_type")
  }

  private val qTrimmedStatsSql = {
    val vc = asScaledSql("value", 2)
    s"""WITH v AS (SELECT event_type AS et, $vc AS vc FROM events),
       |hist AS (SELECT et, vc, count(*) AS cnt FROM v GROUP BY 1, 2),
       |cw AS (
       |  SELECT et, vc, cnt,
       |    sum(cnt) OVER (PARTITION BY et ORDER BY vc) AS cum,
       |    sum(vc * cnt) OVER (PARTITION BY et ORDER BY vc) AS csum,
       |    sum(cnt) OVER (PARTITION BY et) AS n,
       |    sum(vc * cnt) OVER (PARTITION BY et) AS tot
       |  FROM hist),
       |b AS (
       |  SELECT et, max(n) AS n, max(tot) AS tot, max(n) // 10 AS k,
       |    min(CASE WHEN cum >= (n // 10) + 1 THEN vc END) AS v_lo,
       |    min(CASE WHEN cum >= n - (n // 10) THEN vc END) AS v_hi
       |  FROM cw GROUP BY et)
       |SELECT b.et AS event_type, CAST(b.n AS BIGINT) AS n,
       |  CAST(b.n - 2 * b.k AS BIGINT) AS trimmed_n,
       |  CAST(b.tot - (lo.csum - lo.vc * lo.cnt + (b.k - (lo.cum - lo.cnt)) * lo.vc)
       |             - (b.tot - hi.csum + (b.k - (b.n - hi.cum)) * hi.vc)
       |    AS BIGINT) AS trimmed_sum_c,
       |  CAST(b.tot - (lo.csum - lo.vc * lo.cnt + (b.k - (lo.cum - lo.cnt)) * lo.vc)
       |             - (b.tot - hi.csum + (b.k - (b.n - hi.cum)) * hi.vc)
       |             + b.k * lo.vc + b.k * hi.vc
       |    AS BIGINT) AS winsor_sum_c
       |FROM b
       |JOIN cw lo ON lo.et = b.et AND lo.vc = b.v_lo
       |JOIN cw hi ON hi.et = b.et AND hi.vc = b.v_hi
       |ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------------- Poisson bootstrap

  /** Replicate count; the median rank below assumes it even. */
  private val BootB = 16
  /** Cumulative Poisson(1) thresholds on a uniform [0, 10⁶) hash draw:
    * P(≤0)=.367879, P(≤1)=.735759, P(≤2)=.919699, P(≤3)=.981012,
    * truncated at weight 4. Fixed integers shared verbatim by both
    * engines — exactness does not depend on them being perfect. */
  private val BootCum = Seq(367879L, 735759L, 919699L, 981012L)

  /** Deterministic Poisson bootstrap of the mean event value per type —
    * the ONLINE bootstrap for datasets too large to resample by index:
    * replicate `b` weights each row by a Poisson(1) draw derived from
    * `md5(event_id:b)`, so the "resample" is a single scan with a ×B
    * row expansion and a combiner-backed aggregate (weights are assigned
    * row-locally; nothing is ever collected or permuted). The hash draw
    * makes it bit-reproducible — both engines compute the identical
    * replicate means, so lo/median/hi of the bootstrap distribution are
    * hash-compared BIGINTs, not a tolerance check. Scale: cost is B×scan
    * with map-side partial aggregation; B=16 is the classic cheap CI. */
  def qPoissonBootstrap(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_id"), col("event_type").as("et"), asScaled(col("value"), 2).as("vc"))
    val u = md5PrefixLong(concat_ws(":", col("event_id"), col("b")), 10) % lit(1000000L)
    val w = BootCum.zipWithIndex
      .foldRight(lit(BootCum.size.toLong)) { case ((thr, i), els) =>
        when(col("u") < thr, i.toLong).otherwise(els)
      }
    val reps = base
      .select(col("et"), col("vc"), explode(expr(s"sequence(0, ${BootB - 1})")).as("b"),
        col("event_id"))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy("et", "b")
      .agg(sum(col("w") * col("vc")).as("sw"), sum("w").as("cw"))
      .filter(col("cw") > 0)
      .select(col("et"), col("b"), expr("sw div cw").as("bmean"))
    val wRank = Window.partitionBy("et").orderBy("bmean", "b")
    val boot = reps
      .withColumn("rn", row_number().over(wRank))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("et")))
      .groupBy("et")
      .agg(
        min("bmean").as("boot_lo"),
        min(when(col("rn") >= expr("(nb + 1) div 2"), col("bmean"))).as("boot_med"),
        max("bmean").as("boot_hi"))
    val point = base.groupBy("et").agg(expr("sum(vc) div count(*)").as("mean_c"))
    point.join(boot, "et")
      .select(col("et").as("event_type"), col("mean_c"),
        col("boot_lo"), col("boot_med"), col("boot_hi"))
      .orderBy("event_type")
  }

  private val qPoissonBootstrapSql = {
    val vc = asScaledSql("value", 2)
    val u = md5PrefixLongSql("event_id || ':' || b", 10)
    val wCase = BootCum.zipWithIndex
      .map { case (thr, i) => s"WHEN u < $thr THEN $i" }
      .mkString(" ")
    s"""WITH base AS (
       |  SELECT event_id, event_type AS et, $vc AS vc FROM events),
       |reps AS (
       |  SELECT et, vc, b, ($u) % 1000000 AS u
       |  FROM base, LATERAL (SELECT unnest(generate_series(0, ${BootB - 1})) AS b) g),
       |wtd AS (SELECT et, vc, b, CASE $wCase ELSE ${BootCum.size} END AS w FROM reps),
       |means AS (
       |  SELECT et, b, CAST(sum(w * vc) AS BIGINT) // CAST(sum(w) AS BIGINT) AS bmean
       |  FROM wtd GROUP BY 1, 2 HAVING sum(w) > 0),
       |ranked AS (
       |  SELECT et, bmean,
       |    row_number() OVER (PARTITION BY et ORDER BY bmean, b) AS rn,
       |    count(*) OVER (PARTITION BY et) AS nb
       |  FROM means),
       |boot AS (
       |  SELECT et, min(bmean) AS boot_lo,
       |    min(CASE WHEN rn >= (nb + 1) // 2 THEN bmean END) AS boot_med,
       |    max(bmean) AS boot_hi
       |  FROM ranked GROUP BY 1),
       |pt AS (SELECT et, CAST(sum(vc) AS BIGINT) // count(*) AS mean_c FROM base GROUP BY 1)
       |SELECT pt.et AS event_type, mean_c, boot_lo, boot_med, boot_hi
       |FROM pt JOIN boot USING (et) ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------ gap fill LOCF

  /** Shared dense hourly spine per event type: observed count `n` and
    * exact-cents value sum `sv`, LEFT-joined onto the min→max hour grid
    * so missing hours surface as NULL observations. */
  private def hourlyObs(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d)
      .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"), sum(asScaled(col("value"), 2)).as("sv"))
    val grid = obs
      .groupBy("et")
      .agg(min("hr").as("mn"), max("hr").as("mx"))
      .select(col("et"), explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 HOUR"))).as("hr"))
    grid.join(obs, Seq("et", "hr"), "left")
  }

  /** DuckDB twin of [[hourlyObs]] (h/b/grid/g CTE prefix; `g` has
    * NULL n/sv on gap hours). */
  private val hourlyObsSqlCtes = {
    val vc = asScaledSql("value", 2)
    s"""h AS (
       |  SELECT event_type AS et, date_trunc('hour', ts) AS hr,
       |    CAST(count(*) AS BIGINT) AS n, CAST(sum($vc) AS BIGINT) AS sv
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT et, min(hr) AS mn, max(hr) AS mx FROM h GROUP BY 1),
       |grid AS (
       |  SELECT et, unnest(generate_series(mn::TIMESTAMP, mx::TIMESTAMP, INTERVAL 1 HOUR)) AS hr
       |  FROM b),
       |g AS (
       |  SELECT grid.et, grid.hr, h.n, h.sv
       |  FROM grid LEFT JOIN h ON grid.et = h.et AND grid.hr = h.hr::TIMESTAMP)""".stripMargin
  }

  /** Gap imputation by last observation carried forward (LOCF) — the
    * time-series repair step between resampling
    * ([[Relational.qResampleHourly]] zero-fills counts) and forecasting:
    * a sensor/ingest gap hour keeps the LAST observed hourly value sum
    * instead of a misleading zero. One `last(ignoreNulls)` running
    * window per type over the dense spine; `is_gap` marks imputed rows.
    * The first spine hour per type is always observed (the spine starts
    * at the type's min event), so the carry never reads an empty
    * history. */
  def qGapFill(s: SparkSession, d: String): DataFrame = {
    val wFill = Window.partitionBy("et").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourlyObs(s, d)
      .withColumn("sv_filled", last("sv", ignoreNulls = true).over(wFill))
      .select(
        col("et").as("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("sv_filled"),
        when(col("n").isNull, 1).otherwise(0).as("is_gap"))
      .orderBy("event_type", "hour")
  }

  private val qGapFillSql =
    s"""WITH $hourlyObsSqlCtes
       |SELECT et AS event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
       |  COALESCE(n, 0)::BIGINT AS n,
       |  last_value(sv IGNORE NULLS) OVER (PARTITION BY et ORDER BY hr
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv_filled,
       |  CASE WHEN n IS NULL THEN 1 ELSE 0 END AS is_gap
       |FROM g ORDER BY event_type, hour""".stripMargin

  // ---------------------------------------------------------- EWMA forecast

  /** Dyadic EWMA weights over the last 8 hours: lag 1 → 128 … lag 8 → 1
    * (sum 255) — a λ=½ exponential decay kept EXACT in integers. */
  private val EwmaLags = 8

  /** One-step-ahead EWMA forecast of hourly event volume per type, with
    * the realized absolute error — the workload-prediction primitive an
    * autoscaler runs on ingest counts. The smoothing is a FIXED dyadic
    * kernel (weights 2⁷…2⁰ over the trailing 8 hours, divisor 255):
    * mathematically a truncated λ=½ EWMA, chosen over the textbook
    * recursion because a truncated kernel is a pure window dot product —
    * stateless, parallel per type, and integer-exact, where the
    * recursion forces a sequential scan and float drift. Zero-filled
    * spine ([[hourlyObs]]) so gap hours damp the forecast instead of
    * vanishing; the first 8 hours (incomplete kernel) are gated out by
    * the NULL lag. */
  def qEwmaForecast(s: SparkSession, d: String): DataFrame = {
    val wLag = Window.partitionBy("et").orderBy("hr")
    val g = hourlyObs(s, d).select(col("et"), col("hr"), coalesce(col("n"), lit(0L)).as("n"))
    val num = (1 to EwmaLags)
      .map(i => lag(col("n"), i).over(wLag) * lit(1L << (EwmaLags - i)))
      .reduce(_ + _)
    g.withColumn("num", num)
      .filter(col("num").isNotNull)
      .withColumn("forecast", expr(s"num div ${(1L << EwmaLags) - 1}"))
      .select(
        col("et").as("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"),
        col("forecast"),
        abs(col("n") - col("forecast")).as("abs_err"))
      .orderBy("event_type", "hour")
  }

  private val qEwmaForecastSql = {
    val num = (1 to EwmaLags)
      .map(i => s"(lag(nz, $i) OVER w) * ${1L << (EwmaLags - i)}")
      .mkString(" + ")
    s"""WITH $hourlyObsSqlCtes,
       |z AS (SELECT et, hr, COALESCE(n, 0)::BIGINT AS nz FROM g),
       |f AS (
       |  SELECT et, hr, nz, ($num) AS num
       |  FROM z WINDOW w AS (PARTITION BY et ORDER BY hr))
       |SELECT et AS event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
       |  nz AS n, num // ${(1L << EwmaLags) - 1} AS forecast,
       |  abs(nz - num // ${(1L << EwmaLags) - 1}) AS abs_err
       |FROM f WHERE num IS NOT NULL ORDER BY event_type, hour""".stripMargin
  }

  // ------------------------------------------------------------- item-CF

  /** Baskets above this size are dropped before pairing — the skew guard
    * that bounds pair fan-out per basket at C(cap, 2) regardless of how
    * pathological one order is. A no-op on this data (max basket 13). */
  private val CfBasketCap = 50
  /** Minimum co-occurrence support. An ABSOLUTE bar — under corpus
    * growth, new pairs cross it (same caveat as q_pmi_pairs; the scale
    * smoke asserts score invariance for surviving pairs, not set
    * equality). */
  private val CfMinCooc = 2

  /** Item-item collaborative filtering over order baskets — "customers
    * who bought X also bought Y": co-occurrence counts within orders →
    * Jaccard similarity (ppm-exact integers) → top-3 neighbors per item.
    *
    * Scale shape: pairing is a basket-keyed self-join, so candidate
    * volume is Σ C(|basket|, 2) — bounded by [[CfBasketCap]] per order,
    * never by an item's global popularity (the classic pitfall is
    * pairing through the ITEM side, which explodes on a bestseller).
    * Counts and pairs are combiner-backed aggregates; the final top-k
    * is a rank-filtered window (WindowGroupLimit pushes the k=3 cut
    * below the sort). */
  /** The scored directed pair table (item, neighbor, cooc, jac_ppm)
    * before the top-k cut — seam for the scale smoke (Jaccard is a ratio
    * of extensive counts, so it must be bit-invariant under corpus
    * replication; the TOP-3 set is not, because [[CfMinCooc]] admits new
    * pairs as the corpus grows). */
  /** Capped distinct (order, item) basket rows — shared root of the
    * co-purchase family ([[itemCfScored]], [[qKcore]]). */
  private def basketItems(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val keep = li.groupBy("ok").agg(count(lit(1)).as("bs")).filter(col("bs") <= CfBasketCap)
    li.join(keep.select("ok"), "ok")
  }

  /** Undirected co-purchase edges (ia < ib, cooc ≥ [[CfMinCooc]]) from the
    * capped baskets — ONE definition for the CF scores and the k-core.
    * PERSISTED build-once ([[graft.sources.Warehouse]], cross-JVM
    * reusable): the basket self-join is the expensive half of the
    * co-purchase family and a pure deterministic function of lineitem —
    * qItemCf and qKcore probe the stored edge list instead of re-running
    * it per query (itemN's linear lineitem scan stays fresh: that is the
    * fact-scan side, not the pair blow-up). */
  private[operators] def copurchasePairs(s: SparkSession, d: String): DataFrame =
    graft.sources.Warehouse.ensureAndRead(s, "graft_cp_pairs", d, "ia") {
      copurchasePairsFresh(s, d)
    }

  /** The from-scratch derivation behind [[copurchasePairs]]'s store —
    * runs only on a warehouse miss. */
  private def copurchasePairsFresh(s: SparkSession, d: String): DataFrame = {
    val baskets = basketItems(s, d)
    baskets.as("a")
      .join(baskets.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("ia"), col("b.pk").as("ib"))
      .agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= CfMinCooc)
  }

  /** DuckDB twin of [[basketItems]]+[[copurchasePairs]] (li/keep/bk/pairs
    * CTE prefix). */
  private val copurchaseSqlCtes =
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |keep AS (SELECT ok FROM li GROUP BY ok HAVING count(*) <= $CfBasketCap),
       |bk AS (SELECT li.ok, li.pk FROM li JOIN keep USING (ok)),
       |pairs AS (
       |  SELECT a.pk AS ia, b.pk AS ib, CAST(count(*) AS BIGINT) AS cooc
       |  FROM bk a JOIN bk b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $CfMinCooc)""".stripMargin

  private[operators] def itemCfScored(s: SparkSession, d: String): DataFrame = {
    val itemN = basketItems(s, d).groupBy("pk").agg(count(lit(1)).as("n"))
    val pairs = copurchasePairs(s, d)
    // both directions via explode (one scan of the stored pair table)
    // instead of a two-branch union (two scans) — same row multiset
    val directed = pairs
      .select(explode(array(
        struct(col("ia").as("item"), col("ib").as("neighbor"), col("cooc")),
        struct(col("ib").as("item"), col("ia").as("neighbor"), col("cooc")))).as("e"))
      .select(col("e.item").as("item"), col("e.neighbor").as("neighbor"), col("e.cooc").as("cooc"))
    directed
      .join(itemN.select(col("pk").as("item"), col("n").as("na")), "item")
      .join(itemN.select(col("pk").as("neighbor"), col("n").as("nb")), "neighbor")
      .withColumn("jac_ppm", expr("(cooc * 1000000) div (na + nb - cooc)"))
  }

  def qItemCf(s: SparkSession, d: String): DataFrame = {
    val wTop = Window.partitionBy("item").orderBy(col("jac_ppm").desc, col("neighbor"))
    itemCfScored(s, d)
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 3)
      .select("item", "neighbor", "cooc", "jac_ppm", "rk")
      .orderBy("item", "rk")
  }

  private val qItemCfSql =
    s"""WITH $copurchaseSqlCtes,
       |n AS (SELECT pk, CAST(count(*) AS BIGINT) AS n FROM bk GROUP BY 1),
       |dir AS (
       |  SELECT ia AS item, ib AS neighbor, cooc FROM pairs
       |  UNION ALL
       |  SELECT ib, ia, cooc FROM pairs),
       |scored AS (
       |  SELECT item, neighbor, cooc,
       |    (cooc * 1000000) // (na.n + nb.n - cooc) AS jac_ppm
       |  FROM dir
       |  JOIN n na ON na.pk = item
       |  JOIN n nb ON nb.pk = neighbor),
       |ranked AS (
       |  SELECT item, neighbor, cooc, jac_ppm,
       |    row_number() OVER (PARTITION BY item ORDER BY jac_ppm DESC, neighbor) AS rk
       |  FROM scored)
       |SELECT item, neighbor, cooc, jac_ppm, rk
       |FROM ranked WHERE rk <= 3 ORDER BY item, rk""".stripMargin

  // ------------------------------------------------------------------ k-core

  /** Core order; 2-core = strip every tree-like fringe, keep only items
    * sitting on co-purchase cycles. */
  private val KcoreK = 2
  /** Peeling-round backstop shared with the oracle's unrolled stages —
    * peeling converges in O(peel depth) rounds; measured ≤ 6 on this
    * family at every SF (extra stages past the fixpoint are no-ops, so
    * the bound only needs to be an upper bound). */
  private val KcoreMaxRounds = 16

  /** K-core of the co-purchase graph — iterative PEELING, the third
    * distributed-graph fixpoint shape in the repo (monotone shrinking
    * node set; vs PageRank's value iteration and CC's label spread):
    * repeatedly delete nodes with fewer than k surviving neighbors until
    * none remains. The surviving 2-core is the recommendation-worthy
    * subgraph (every member co-sells through at least two others).
    *
    * Each round is: restrict edges to the surviving set (two semi
    * joins), recount degrees (combiner-backed), filter — O(edges) per
    * round, localCheckpoint'd, converging via a count comparison (never
    * a collect). The oracle unrolls [[KcoreMaxRounds]] peel stages as
    * plain CTAs — peeling is schedule-independent (the k-core is the
    * unique maximal subgraph of min-degree ≥ k), so any bound past the
    * measured fixpoint depth yields the identical set. Output carries
    * each survivor's within-core degree. */
  def qKcore(s: SparkSession, d: String): DataFrame =
    kcoreFrom(copurchasePairs(s, d).select("ia", "ib"))

  /** The peeling loop itself, seam for specs: `und` is the undirected
    * (ia, ib) edge list. Returns (node, core_deg) for the k-core.
    *
    * DELTA-PEELING: the loop state is the alive set WITH each node's
    * degree among alive nodes, plus a flag marking the nodes that just
    * fell below k (this round's delta). A step decrements survivor
    * degrees by the edges INTO the delta — so each round's join output
    * is sized by the delta's incidence, not the surviving graph, and
    * the decrement work summed over ALL rounds is bounded by E (each
    * edge decrements at most once, when its second endpoint dies). The
    * earlier formulation re-filtered the full edge list through two
    * survivor semi-joins every round — O(rounds·E) shuffled — and then
    * paid the same two joins once more to recover core degrees; here
    * the converged state already carries the exact within-core degree
    * (agreement-spec'd against the rescan formulation on planted
    * fixtures and real data). The probe counts flagged rows — peeling
    * stops the round after no node falls. */
  private[operators] def kcoreFrom(und: DataFrame): DataFrame = {
    // checkpoint BEFORE the both-directions union so the caller's edge
    // derivation (the basket self-join) materializes once, not once per
    // union branch
    val u = und.localCheckpoint()
    val edges = u
      .union(u.select(col("ib").as("ia"), col("ia").as("ib")))
      .localCheckpoint()
    val state0 = edges
      .groupBy("ia")
      .agg(count(lit(1)).as("dg"))
      .select(col("ia").as("node"), col("dg"))
      .withColumn("dead", col("dg") < KcoreK)
    // requireConverged on an observed fixpoint: k-core membership
    // is correctness-bearing (a capped mid-peel state would emit
    // dead-flagged rows with core_deg < k as core members, and the
    // rescan twin would disagree), and the dead-count probe is a pure
    // function of the NEW state — so it rides the checkpoint
    // materialization itself (one job per round; the two-pass shape
    // paid a second scan-the-checkpoint job for the count). Measured
    // peel depth on the real graph is ≤ 6 vs a cap of 16, so the raise
    // is a tripwire, never the expected path.
    val fp = Iterate.fixpointObservedBy(state0, KcoreMaxRounds) { (state, _) =>
      val delta = state.filter(col("dead")).select(col("node").as("nb"))
      val dec = edges
        .join(delta, col("ib") === col("nb"))
        .groupBy("ia")
        .agg(count(lit(1)).as("dc"))
      state
        .filter(!col("dead"))
        .join(dec, col("node") === col("ia"), "left")
        .select(col("node"), (col("dg") - coalesce(col("dc"), lit(0L))).as("dg"))
        .withColumn("dead", col("dg") < KcoreK)
    } (Seq(sum(when(col("dead"), 1L).otherwise(0L))))(Iterate.noneLeft).requireConverged
    fp.state
      .select(col("node"), col("dg").as("core_deg"))
      .orderBy("node")
  }

  /** The original rescan formulation (re-filter full edge list through
    * survivor semi-joins per round), kept as the agreement-spec twin of
    * the delta-peeling [[kcoreFrom]] — two independent constructions of
    * the same unique maximal min-degree-≥k subgraph. */
  private[operators] def kcoreRescanFrom(und: DataFrame): DataFrame = {
    val edges = und
      .union(und.select(col("ib").as("ia"), col("ia").as("ib")))
      .localCheckpoint()
    val cur0 = edges.select(col("ia").as("node")).distinct()
    // the survivor set only shrinks, so an unchanged size is the fixpoint
    val cur = Iterate.fixpointObservedBy(cur0, KcoreMaxRounds) { (curr, _) =>
      edges
        .join(curr, col("ia") === col("node"), "leftsemi")
        .join(curr.select(col("node").as("nb")), col("ib") === col("nb"), "leftsemi")
        .groupBy("ia")
        .agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= KcoreK)
        .select(col("ia").as("node"))
    } (Seq(count(lit(1))))(_ == _).requireConverged.state
    val core = edges
      .join(cur, col("ia") === col("node"), "leftsemi")
      .join(cur.select(col("node").as("nb")), col("ib") === col("nb"), "leftsemi")
      .groupBy("ia")
      .agg(count(lit(1)).as("core_deg"))
    core.select(col("ia").as("node"), col("core_deg")).orderBy("node")
  }

  private val qKcoreSql = {
    // MATERIALIZED is load-bearing: every stage references its
    // predecessor twice, so inlining would expand the chain 2^rounds-fold
    val stages = (1 to KcoreMaxRounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.src AS node FROM edges e
         |  JOIN c${i - 1} a ON a.node = e.src
         |  JOIN c${i - 1} b ON b.node = e.dst
         |  GROUP BY 1 HAVING count(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseSqlCtes,
       |edges AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM pairs
       |          UNION ALL SELECT ib, ia FROM pairs),
       |c0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |$stages
       |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM edges e
       |JOIN c$KcoreMaxRounds a ON a.node = e.src
       |JOIN c$KcoreMaxRounds b ON b.node = e.dst
       |GROUP BY 1 ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------------- RFM

  /** Quartile boundaries of `v` (lower-quantile convention, b_k = min
    * value whose cumulative count reaches ⌈k·n/4⌉) — one row (b1, b2,
    * b3) from a single [[histRankMins]] pass. The global cumulative
    * window runs over DISTINCT values of `v`, so its single partition is
    * bounded by the value DOMAIN, not the row count — which is why
    * callers pre-quantize unbounded metrics (cents → whole dollars
    * below). */
  private def quartileBounds(df: DataFrame, v: String): DataFrame =
    histRankMins(df, Nil, v, Seq(("b1", 1, 4), ("b2", 2, 4), ("b3", 3, 4))).drop("n")

  /** RFM segmentation — the classic customer-value cube: per user,
    * Recency (days since last event, relative to the corpus max day),
    * Frequency (event count) and Monetary (exact cents, quantized to
    * whole dollars for bucketing), each cut at its exact quartile
    * boundaries; output is the segment cube (r_q, f_q, m_q) with user
    * counts and total cents. Quartile assignment is by boundary
    * comparison (1 + Σ v>b_k), NOT ntile — ties land in one bucket
    * deterministically, and the per-user pass is a broadcast-joined map
    * stage instead of a global ranking window. Boundaries come from
    * [[quartileBounds]] value histograms whose cardinality is bounded by
    * each metric's DOMAIN (days, counts, dollars), so nothing
    * user-cardinality-sized ever sits in one partition. Bucket 1 = low
    * metric value (recent / infrequent / low-spend). */
  def qRfmSegments(s: SparkSession, d: String): DataFrame = {
    // cached: the per-user aggregate feeds the corpus max-day, three
    // boundary histograms AND the final bucketing pass — uncached, each
    // would rescan events and redo the user-keyed shuffle
    val perUser = Tables.events(s, d)
      .select(
        col("user_id"),
        col("ts").cast("date").as("day"),
        asScaled(col("value"), 2).as("vc"))
      .groupBy("user_id")
      .agg(max("day").as("last_day"), count(lit(1)).as("freq"), sum("vc").as("mon_c"))
      .cache()
    // max over users' last days == max event day — no second events scan
    val now = perUser.agg(max("last_day").as("now_day"))
    val rfm = perUser
      .crossJoin(broadcast(now))
      .select(
        col("user_id"),
        datediff(col("now_day"), col("last_day")).cast("long").as("rec_days"),
        col("freq"),
        col("mon_c"),
        // FLOOR division (subtract the non-negative pmod remainder before
        // the truncating div): value has no schema-level non-negativity
        // guarantee, and a negative cents sum must quantize like the
        // oracle's flooring `//` (the q_k_anonymity div-vs-floor rule)
        expr("(mon_c - pmod(mon_c, 100)) div 100").as("mon_d"))
    def bucket(v: String, prefix: String): Column =
      (lit(1L)
        + when(col(v) > col(s"${prefix}_b1"), 1L).otherwise(0L)
        + when(col(v) > col(s"${prefix}_b2"), 1L).otherwise(0L)
        + when(col(v) > col(s"${prefix}_b3"), 1L).otherwise(0L))
    val rb = quartileBounds(rfm, "rec_days")
      .select(col("b1").as("r_b1"), col("b2").as("r_b2"), col("b3").as("r_b3"))
    val fb = quartileBounds(rfm, "freq")
      .select(col("b1").as("f_b1"), col("b2").as("f_b2"), col("b3").as("f_b3"))
    val mb = quartileBounds(rfm, "mon_d")
      .select(col("b1").as("m_b1"), col("b2").as("m_b2"), col("b3").as("m_b3"))
    rfm
      .crossJoin(broadcast(rb))
      .crossJoin(broadcast(fb))
      .crossJoin(broadcast(mb))
      .select(
        col("user_id"),
        col("mon_c"),
        bucket("rec_days", "r").as("r_q"),
        bucket("freq", "f").as("f_q"),
        bucket("mon_d", "m").as("m_q"))
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_users"), sum("mon_c").as("total_cents"))
      .orderBy("r_q", "f_q", "m_q")
  }

  private val qRfmSegmentsSql = {
    val vc = asScaledSql("value", 2)
    def boundsCte(name: String, src: String, v: String): String =
      s"""${name}_h AS (
         |  SELECT $v AS v, count(*) AS cnt FROM $src GROUP BY 1),
         |${name}_c AS (
         |  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n FROM ${name}_h),
         |$name AS (
         |  SELECT min(CASE WHEN cum * 4 >= n THEN v END) AS b1,
         |         min(CASE WHEN cum * 4 >= n * 2 THEN v END) AS b2,
         |         min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS b3
         |  FROM ${name}_c)""".stripMargin
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, $vc AS vc FROM events),
       |nw AS (SELECT max(day) AS now_day FROM ev),
       |rfm AS (
       |  SELECT user_id,
       |    CAST(date_diff('day', max(day), (SELECT now_day FROM nw)) AS BIGINT) AS rec_days,
       |    count(*)::BIGINT AS freq,
       |    sum(vc)::BIGINT AS mon_c,
       |    sum(vc)::BIGINT // 100 AS mon_d
       |  FROM ev GROUP BY user_id),
       |${boundsCte("rb", "rfm", "rec_days")},
       |${boundsCte("fb", "rfm", "freq")},
       |${boundsCte("mb", "rfm", "mon_d")},
       |coded AS (
       |  SELECT user_id, mon_c,
       |    1 + CASE WHEN rec_days > rb.b1 THEN 1 ELSE 0 END
       |      + CASE WHEN rec_days > rb.b2 THEN 1 ELSE 0 END
       |      + CASE WHEN rec_days > rb.b3 THEN 1 ELSE 0 END AS r_q,
       |    1 + CASE WHEN freq > fb.b1 THEN 1 ELSE 0 END
       |      + CASE WHEN freq > fb.b2 THEN 1 ELSE 0 END
       |      + CASE WHEN freq > fb.b3 THEN 1 ELSE 0 END AS f_q,
       |    1 + CASE WHEN mon_d > mb.b1 THEN 1 ELSE 0 END
       |      + CASE WHEN mon_d > mb.b2 THEN 1 ELSE 0 END
       |      + CASE WHEN mon_d > mb.b3 THEN 1 ELSE 0 END AS m_q
       |  FROM rfm, rb, fb, mb)
       |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       |  CAST(m_q AS BIGINT) AS m_q,
       |  count(*)::BIGINT AS n_users, sum(mon_c)::BIGINT AS total_cents
       |FROM coded GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // ------------------------------------------------ rolling distinct actives

  private val RollWindowDays = 7

  /** 7-day rolling distinct active users (WAU) per calendar day — the
    * product-health series every events pipeline publishes. A sliding
    * DISTINCT cannot ride a window frame (distinct is not algebraic
    * over frame slides), and per-day re-scans of the trailing week
    * would read the corpus |days| times; instead each distinct
    * (user, day) pair EXPANDS to the ≤7 window days it serves
    * (`sequence` + explode — the contribution-expansion shape the
    * sweep-line card established), and one two-phase distinct per
    * window day finishes the job. Shuffle volume is a flat 7× the
    * user-day table — linear at any corpus size, no global window, no
    * repeated scans; the day grid is a broadcast semi-join that also
    * drops contributions past the observed horizon. The DuckDB twin
    * computes the same series as a day-range join — a genuinely
    * different plan arriving at the same integers. (For approximate
    * variants at extreme cardinalities, the per-day HLL sketches of
    * [[qHllRollup]] union across any window without re-expansion.) */
  def qRollingActive(s: SparkSession, d: String): DataFrame =
    rollingActiveFrom(
      Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day")))

  /** DataFrame-first seam: any (user_id, day) activity relation
    * (duplicates fine — the distinct here absorbs them). */
  private[operators] def rollingActiveFrom(activity: DataFrame): DataFrame =
    rollingDistinctFrom(activity, RollWindowDays, "wau_7d").orderBy("day")

  /** The generalized n-day rolling distinct (unordered; callers order):
    * contribution expansion sized by the window, grid-restricted. */
  private[operators] def rollingDistinctFrom(
      activity: DataFrame, windowDays: Int, out: String): DataFrame = {
    val ud = activity.distinct()
    val grid = ud.select(col("day").as("gday")).distinct()
    ud
      .select(
        col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), windowDays - 1))).as("gday"))
      .join(broadcast(grid), Seq("gday"), "leftsemi")
      .groupBy("gday")
      .agg(countDistinct(col("user_id")).as(out))
      .select(date_format(col("gday"), "yyyy-MM-dd").as("day"), col(out))
  }

  /** DAU/MAU STICKINESS — the engagement ratio product teams track
    * daily: per observed day, distinct actives that day (window 1),
    * distinct actives over the trailing 30 days (window 30), and the
    * exact ppm ratio. Both series come from the SAME contribution-
    * expansion seam as the WAU card at different window sizes (1× and
    * 30× fan-out — still flat multiples of the user-day table, no
    * global window, no per-day rescans), joined on the bounded day
    * grid. Truncating div on non-negative counts; dau ≤ mau by
    * construction so the ratio lives in [0, 10⁶]. */
  def qStickiness(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
    rollingDistinctFrom(act, 1, "dau")
      .join(rollingDistinctFrom(act, 30, "mau"), "day")
      .withColumn("stickiness_ppm", expr("dau * 1000000 div mau"))
      .orderBy("day")
  }

  private val qStickinessSql =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |grid AS (SELECT DISTINCT day FROM ud),
      |dau AS (
      |  SELECT g.day, count(DISTINCT u.user_id) AS dau
      |  FROM grid g JOIN ud u ON u.day = g.day GROUP BY g.day),
      |mau AS (
      |  SELECT g.day, count(DISTINCT u.user_id) AS mau
      |  FROM grid g JOIN ud u ON u.day BETWEEN g.day - 29 AND g.day
      |  GROUP BY g.day)
      |SELECT strftime(dau.day, '%Y-%m-%d') AS day,
      |  CAST(dau.dau AS BIGINT) AS dau, CAST(mau.mau AS BIGINT) AS mau,
      |  CAST((dau.dau * 1000000) // mau.mau AS BIGINT) AS stickiness_ppm
      |FROM dau JOIN mau ON mau.day = dau.day
      |ORDER BY day""".stripMargin

  private val qRollingActiveSql =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |grid AS (SELECT DISTINCT day FROM ud)
      |SELECT strftime(g.day, '%Y-%m-%d') AS day,
      |  CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau_7d
      |FROM grid g JOIN ud u ON u.day BETWEEN g.day - 6 AND g.day
      |GROUP BY g.day ORDER BY day""".stripMargin

  // ----------------------------------------------------- audience overlap

  /** Audience-overlap matrix: for every event-type pair, how many users
    * did BOTH, with the exact Jaccard overlap in ppm (truncating
    * integer division, non-negative operands). The Spark plan avoids
    * the quadratic self-join entirely: one distinct pass to
    * (user, type), then each user's type SET (bounded by the type
    * DOMAIN — a schema property, not a data size; `collect_set` here
    * can never exceed it) explodes into its ≤C(|types|,2) ordered
    * pairs, and a combiner-backed count per pair finishes — linear in
    * users at any scale. Totals for the Jaccard denominator ride a
    * broadcast |types|-row join. The DuckDB twin IS the self-join
    * formulation — the shape this plan exists to avoid — making the
    * agreement a real two-algorithm check. */
  def qAudienceOverlap(s: SparkSession, d: String): DataFrame =
    audienceOverlapFrom(Tables.events(s, d).select("user_id", "event_type"))

  /** DataFrame-first seam: any (user_id, event_type) relation. */
  private[operators] def audienceOverlapFrom(ue0: DataFrame): DataFrame = {
    val ue = ue0.distinct()
    val tot = ue.groupBy("event_type").agg(count(lit(1)).as("n"))
    ue
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("ets"))
      .select(explode(col("ets")).as("et_a"), col("ets"))
      .select(col("et_a"), explode(col("ets")).as("et_b"))
      .filter(col("et_a") < col("et_b"))
      .groupBy("et_a", "et_b")
      .agg(count(lit(1)).as("users_both"))
      .join(broadcast(tot.select(col("event_type").as("et_a"), col("n").as("na"))), "et_a")
      .join(broadcast(tot.select(col("event_type").as("et_b"), col("n").as("nb"))), "et_b")
      .select(
        col("et_a"), col("et_b"), col("users_both"),
        expr("(users_both * 1000000) div (na + nb - users_both)").as("jaccard_ppm"))
      .orderBy("et_a", "et_b")
  }

  private val qAudienceOverlapSql =
    """WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
      |tot AS (SELECT event_type, count(*) AS n FROM ue GROUP BY 1),
      |pr AS (
      |  SELECT a.event_type AS et_a, b.event_type AS et_b, count(*) AS users_both
      |  FROM ue a JOIN ue b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT pr.et_a, pr.et_b, CAST(pr.users_both AS BIGINT) AS users_both,
      |  CAST((pr.users_both * 1000000) // (ta.n + tb.n - pr.users_both) AS BIGINT)
      |    AS jaccard_ppm
      |FROM pr JOIN tot ta ON ta.event_type = pr.et_a
      |JOIN tot tb ON tb.event_type = pr.et_b
      |ORDER BY et_a, et_b""".stripMargin

  // ------------------------------------------------------- HLL sketch rollup

  /** Sketch RE-AGGREGATION — the pattern that makes distinct counting
    * tractable at 100 TB: build per-(event_type, day) HLL sketches in one
    * pass (Datasketches `hll_sketch_agg`, lgK=14 → ~0.8% rsd), then roll
    * them up to per-type totals by UNIONING THE SKETCHES
    * (`hll_union_agg`) — a register-wise max, so the rollup touches only
    * |types|×|days| sketch rows, never the raw events again. That is the
    * materialized-daily-cube story: the fine-grain sketch table is what a
    * pipeline persists, and any coarser grain (weekly, all-time,
    * per-type) merges from it without a rescan; exact distinct at the
    * coarse grain would instead re-shuffle every (type, user) pair of the
    * full history. The card pins the sketch against the truth the way
    * q_approx_distinct_check does: exact per-type distincts + day counts
    * (hash-compared) and a within-5% verdict on the merged estimate —
    * integer inequality ·20, no float on the hash; register max is
    * order-independent so the flag is deterministic under any partition
    * or merge schedule, and 5% ≈ 6σ at lgK=14 makes it stable at every
    * SF (below ~12k users/type the sketch is still in exact sparse
    * mode). The exact twin aggregates DISTINCT once per type — a
    * two-phase distinct, broadcast-joined to the |types|-row sketch
    * side. */
  def qHllRollup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val merged = daily
      .groupBy("event_type")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"),
        count(lit(1)).as("n_days"))
    val exact = ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("exact_users"))
    exact
      .join(broadcast(merged), Seq("event_type"))
      .select(
        col("event_type"),
        col("exact_users"),
        col("n_days"),
        // verdict and bucket share ONE inequality (within_5pct ⟺ bucket
        // 0), so a boundary hit (|err|·20 = exact) reads (FALSE, 1) — an
        // internally consistent row, never a (TRUE, 1) gate paradox
        (expr("(abs(approx - exact_users) * 20) div greatest(exact_users, 1)") === 0)
          .as("within_5pct"),
        // the error SIZE, not just the verdict: floor(|err|/exact in 5%
        // steps) — 0 iff within 5% (strict at the boundary), and when the
        // bound ever breaks the gate shows HOW FAR off the sketch was
        // (1 = 5-10%, 2 = 10-15%, …) instead of a bare false. Integer
        // division, hash-stable.
        expr("(abs(approx - exact_users) * 20) div greatest(exact_users, 1)")
          .as("err_5pct_steps"))
      .orderBy("event_type")
  }

  /** The DuckDB twin cannot build a Datasketches HLL, so the sketch-side
    * columns are asserted, not recomputed: the oracle claims the verdict
    * (TRUE) and the error bucket (0), and any Spark-side estimate drifting
    * past 5% breaks the hash gate with the bucket showing the magnitude.
    * exact_users / n_days ARE independently recomputed. */
  private val qHllRollupSql =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |  TRUE AS within_5pct,
      |  CAST(0 AS BIGINT) AS err_5pct_steps
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------ registry

  /** EXACT 7-day rolling P50/P95 of event value per day — the ops
    * latency-curve card ("p95 over the trailing week"), composed from
    * two existing seams: the (day, value) histogram contributes itself
    * to the seven report days it covers (the q_rolling_active
    * contribution-expansion trick — cost ∝ histogram×7, never rows×7),
    * and each report day's merged histogram is read off by the SAME
    * cumulative-rank rule as every other percentile card
    * ([[histRankMinsFromHist]]), so the statistic is an exact data value
    * in cents — no interpolation to diverge on. Partial leading windows
    * report over the days that exist (deterministic in both engines).
    *
    * Scale shape: one combiner-backed histogram aggregate (bounded by
    * days × value domain), a ×7 explode of the HISTOGRAM (not the
    * facts), a broadcast semi-join against the day grid, and per-day
    * partitioned windows over domain-bounded frames. */
  def qRollingPercentiles(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableRound.asScaled
    val ev = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), asScaled(col("value"), 2).as("vc"))
    val hist = ev.groupBy("day", "vc").agg(count(lit(1)).as("cnt"))
    val days = ev.select(col("day").as("rday")).distinct()
    val contrib = hist
      .select(
        explode(sequence(col("day"), date_add(col("day"), 6))).as("rday"),
        col("vc"), col("cnt"))
      .join(broadcast(days), "rday")
      .groupBy("rday", "vc")
      .agg(sum("cnt").as("cnt"))
    histRankMinsFromHist(contrib, Seq("rday"), "vc", Seq(("p50", 1, 2), ("p95", 19, 20)))
      .select(col("rday"), col("n"), col("p50"), col("p95"))
      .orderBy("rday")
  }

  private val qRollingPercentilesSql = {
    import graft.functions.PortableRound.{asScaledSql => cents}
    s"""WITH ev AS (
       |  SELECT CAST(ts AS DATE) AS day, ${cents("value", 2)} AS vc FROM events),
       |days AS (SELECT DISTINCT day AS rday FROM ev),
       |rh AS (
       |  SELECT d.rday, e.vc, count(*)::BIGINT AS c
       |  FROM days d JOIN ev e ON e.day BETWEEN d.rday - 6 AND d.rday
       |  GROUP BY 1, 2),
       |x AS (
       |  SELECT rday, vc,
       |    sum(c) OVER (PARTITION BY rday ORDER BY vc
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY rday) AS n
       |  FROM rh)
       |SELECT rday, max(n)::BIGINT AS n,
       |  min(CASE WHEN cum * 2 >= n * 1 THEN vc END)::BIGINT AS p50,
       |  min(CASE WHEN cum * 20 >= n * 19 THEN vc END)::BIGINT AS p95
       |FROM x GROUP BY rday ORDER BY rday""".stripMargin
  }

  // ------------------------------------------------------- data forensics

  /** Benford first-digit expectations P(d) = log₁₀(1+1/d) in FLOORED
    * micro units — a fixed integer table shared verbatim by both engines
    * (same convention as the NDCG discount table: the irrational
    * ingredient never touches engine libm at query time). */
  private val BenfordMicro =
    Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L, 57991L, 51152L, 45757L)

  /** Benford first-digit audit — the forensic data-quality card: natural
    * multi-scale monetary data follows Benford's law, and a batch that
    * suddenly doesn't (uniform first digits, say) is synthetic, truncated
    * or tampered. Per leading digit of o_totalprice: observed count,
    * Benford-expected count (n·P(d), exact integer micro arithmetic), and
    * the floor-per-term χ²-style distance contribution in milli units —
    * plus the summed distance on every row. TPC-H prices are uniform-ish
    * draws, NOT Benford — the card shows exactly that (large distance),
    * and the spec feeds it a constructed multi-scale sample that scores
    * close. No verdict bar is hardcoded: the distance is the monitored
    * metric (alert on drift vs yesterday's, the q_tv_drift pattern).
    *
    * Scale shape: one scan projecting the first digit (string of the
    * cents integer — exact, no float formatting), one 9-row histogram,
    * constants join. */
  def qBenford(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PortableRound.asScaled
    val digitCol = substring(asScaled(col("o_totalprice"), 2).cast("string"), 1, 1)
      .cast("long").as("digit")
    val h = Tables.orders(s, d)
      .select(digitCol)
      .groupBy("digit")
      .agg(count(lit(1)).as("observed"))
    val bf = BenfordMicro.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, ${p}L)" }
      .mkString(", ")
    val exp = s.sql(
      s"SELECT digit, p_micro FROM VALUES $bf AS t(digit, p_micro)")
    val tot = h.agg(sum("observed").as("n"))
    h.join(exp, "digit")
      .crossJoin(broadcast(tot))
      .select(
        col("digit"), col("observed"), col("n"),
        expr("(n * p_micro) div 1000000").as("expected"))
      .withColumn(
        "dist_milli",
        expr("""cast(
          |  (cast(observed as decimal(38,0)) - expected)
          |  * (cast(observed as decimal(38,0)) - expected)
          |  * 1000 div greatest(expected, 1) as bigint)""".stripMargin))
      .withColumn(
        "total_dist_milli",
        sum("dist_milli").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .orderBy("digit")
  }

  private val qBenfordSql = {
    import graft.functions.PortableRound.{asScaledSql => cents}
    val values = BenfordMicro.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }
      .mkString(", ")
    s"""WITH h AS (
       |  SELECT CAST(substr(CAST(${cents("o_totalprice", 2)} AS VARCHAR), 1, 1) AS BIGINT)
       |    AS digit, count(*)::BIGINT AS observed
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT sum(observed)::BIGINT AS n FROM h),
       |e (digit, p_micro) AS (VALUES $values),
       |j AS (
       |  SELECT h.digit, h.observed, tot.n,
       |    (tot.n * e.p_micro) // 1000000 AS expected
       |  FROM h JOIN e ON h.digit = e.digit, tot),
       |t AS (
       |  SELECT digit, observed, n, expected,
       |    CAST((CAST(observed AS HUGEINT) - expected) * (observed - expected)
       |      * 1000 // greatest(expected, 1) AS BIGINT) AS dist_milli
       |  FROM j)
       |SELECT digit, observed, n, expected, dist_milli,
       |  sum(dist_milli) OVER ()::BIGINT AS total_dist_milli
       |FROM t ORDER BY digit""".stripMargin
  }

  /** Exact Gini coefficient of per-customer spend within each nation —
    * the inequality/concentration card (is revenue concentrated in a few
    * whale accounts?): with per-customer cents x₍ᵢ₎ sorted ascending
    * inside the nation, G = (2Σi·x₍ᵢ₎ − (n+1)Σx) / (n·Σx) — emitted as
    * exact ppm via one cross-multiplied integer division, no floats.
    * Rank ties break by customer key (both engines), which leaves G
    * unchanged (equal values commute in the sorted sum).
    *
    * Scale shape: the spend rollup is one fact-side aggregate; the rank
    * is a window PARTITIONED by nation (never global — per-nation rows
    * bound each sort); output is one row per nation. Σi·x ≤ n·Σx rides
    * DECIMAL(38,0): exact past any physical corpus (10¹² customers ×
    * 10¹⁰ cents ≈ 10²² per nation). */
  def qGini(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PortableRound.asScaled
    val spend = Tables.orders(s, d)
      .select(col("o_custkey"), asScaled(col("o_totalprice"), 2).as("cents"))
      .groupBy("o_custkey")
      .agg(sum("cents").as("spend"))
    val withNation = spend
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
    val w = Window.partitionBy("n_name").orderBy(col("spend"), col("o_custkey"))
    withNation
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum("spend").as("sum_cents"),
        sum(col("i").cast("decimal(38,0)") * col("spend")).as("si"))
      .select(
        col("nation"), col("n_customers"), col("sum_cents"),
        expr("""cast(
          |  (2 * si - (cast(n_customers as decimal(38,0)) + 1) * sum_cents)
          |  * 1000000 div (cast(n_customers as decimal(38,0)) * sum_cents)
          |  as bigint)""".stripMargin).as("gini_ppm"))
      .orderBy("nation")
  }

  private val qGiniSql = {
    import graft.functions.PortableRound.{asScaledSql => cents}
    s"""WITH spend AS (
       |  SELECT o_custkey, sum(${cents("o_totalprice", 2)})::BIGINT AS spend
       |  FROM orders GROUP BY 1),
       |x AS (
       |  SELECT n.n_name AS nation, s.o_custkey, s.spend,
       |    row_number() OVER (PARTITION BY n.n_name ORDER BY s.spend, s.o_custkey)
       |      AS i
       |  FROM spend s
       |  JOIN customer c ON s.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
       |a AS (
       |  SELECT nation, count(*)::BIGINT AS n_customers,
       |    sum(spend)::BIGINT AS sum_cents,
       |    sum(CAST(i AS HUGEINT) * spend) AS si
       |  FROM x GROUP BY 1)
       |SELECT nation, n_customers, sum_cents,
       |  CAST((2 * si - (CAST(n_customers AS HUGEINT) + 1) * sum_cents)
       |    * 1000000 // (CAST(n_customers AS HUGEINT) * sum_cents) AS BIGINT)
       |    AS gini_ppm
       |FROM a ORDER BY nation""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q_benford", qBenford, Some(qBenfordSql)),
    Q("q_gini", qGini, Some(qGiniSql)),
    Q("q_rolling_percentiles", qRollingPercentiles, Some(qRollingPercentilesSql)),
    Q("q_retention_cohorts", qRetentionCohorts, Some(qRetentionCohortsSql)),
    Q("q_max_concurrency", qMaxConcurrency, Some(qMaxConcurrencySql)),
    Q("q_skyline", qSkyline, Some(qSkylineSql)),
    Q("q_mad_outliers", qMadOutliers, Some(qMadOutliersSql)),
    Q("q_trimmed_stats", qTrimmedStats, Some(qTrimmedStatsSql)),
    Q("q_poisson_bootstrap", qPoissonBootstrap, Some(qPoissonBootstrapSql)),
    Q("q_gap_fill", qGapFill, Some(qGapFillSql)),
    Q("q_ewma_forecast", qEwmaForecast, Some(qEwmaForecastSql)),
    Q("q_item_cf", qItemCf, Some(qItemCfSql)),
    Q("q_kcore", qKcore, Some(qKcoreSql)),
    Q("q_rfm_segments", qRfmSegments, Some(qRfmSegmentsSql)),
    Q("q_hll_rollup", qHllRollup, Some(qHllRollupSql)),
    Q("q_rolling_active", qRollingActive, Some(qRollingActiveSql)),
    Q("q_stickiness", qStickiness, Some(qStickinessSql)),
    Q("q_audience_overlap", qAudienceOverlap, Some(qAudienceOverlapSql)))
}
