package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators the reference lacks entirely (SURVEY.md §2.3):
  * as-of (most recent match at or before a time) and range (interval)
  * joins.
  *
  * The as-of join is built with the union+window construction instead of a
  * custom SparkPlan: tag both sides, union on (key, time), and carry the
  * last right-side payload forward with `last(_, ignoreNulls)` over a
  * (key)-partitioned window. That is ONE shuffle + one partition-local
  * sort — the same cost as a sort-merge join — and never materializes the
  * O(|L|·|R|) candidate pairs a naive time-range join would. At 100 TB this
  * is the standard scalable formulation (it is how point-in-time joins are
  * done in feature stores).
  *
  * The range join keeps an equality key (user), so Catalyst plans a
  * sort-merge join with the band predicate as a secondary condition —
  * no cross product.
  */
object TemporalJoins {

  /** Generic backward as-of join.
    *
    * For every left row (key, t, payload), attach the right payload of the
    * greatest right t' ≤ t with the same key (ties on t' broken by the
    * greatest `rightTiebreak`). Right columns come back null when no
    * earlier right row exists. SQL join semantics for NULL keys: a
    * NULL-key left row never matches (right NULL-key rows are filtered
    * out, so its window carries no payload) — window partitioning alone
    * would have grouped NULL with NULL, diverging from the ASOF oracle.
    *
    * Type caveat: if `rightTime` is a DATE and `leftTime` a TIMESTAMP,
    * the union coerces the date at the SESSION time zone while DuckDB
    * casts to naive midnight — pass both sides as timestamps (as the
    * queries here do) or pin the session to UTC.
    *
    * @param left       (key, t, ...) — probe side
    * @param right      (key, t, ...) — reference side (e.g. dimension
    *                   change history)
    * @param key        equi-join key column name (same on both sides)
    * @param leftTime   left timestamp column
    * @param rightTime  right timestamp column
    * @param rightCols  right payload columns to attach
    */
  def asofBackward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      rightTiebreak: String,
      rightCols: Seq[String]): DataFrame = {
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__tb", lit(null).cast("long"))
      .withColumn("__payload", lit(null).cast(structType(right, rightCols)))
    val r = right
      .filter(col(key).isNotNull) // NULL never equi-joins (see scaladoc)
      .select(
        col(key),
        col(rightTime).as("__t"),
        lit(0).as("__side"),
        col(rightTiebreak).cast("long").as("__tb"),
        struct(rightCols.map(col): _*).as("__payload"))
    val unioned = l.select(
      col(key), col("__t"), col("__side"), col("__tb"), col("__payload"),
      struct(left.columns.toSeq.map(col): _*).as("__left")) // keep left row intact
      .unionByName(
        r.withColumn("__left", lit(null).cast(structType(left, left.columns.toSeq))))
    // Right rows sort before left rows at equal time (inclusive t' ≤ t);
    // among right rows at the same t the greatest tiebreak comes last.
    val w = Window
      .partitionBy(key)
      .orderBy(col("__t"), col("__side"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val leftOut = left.columns.toSeq.map(c => col(s"__left.$c").as(c))
    val rightOut = rightCols.map(c => col(s"__match.$c").as(c))
    carried.select(leftOut ++ rightOut: _*)
  }

  private def structType(df: DataFrame, cols: Seq[String]) =
    org.apache.spark.sql.types.StructType(cols.map(c => df.schema(c)))

  /** Generic FORWARD as-of join with an optional tolerance — together
    * with [[asofBackward]] this is the full `merge_asof` direction
    * surface (backward / forward / bounded-lookahead). For every left
    * row, attach the right payload of the SMALLEST right t' ≥ t with the
    * same key (ties by smallest `rightTiebreak`), nulled when
    * `toleranceUs` is set and t' − t exceeds it. Same one-shuffle
    * union+window construction as backward, mirrored by sorting the
    * partition DESCENDING and carrying with `last(_, ignoreNulls)` over
    * [−∞, current row] — the incremental frame. (The tempting direct
    * mirror, `first` over [current row, +∞), is evaluated by Spark's
    * UnboundedFollowing frame which RESCANS to the partition end per
    * row — O(n²) on a hot key.) At equal time, right rows sort before
    * left (inclusive t' ≥ t); among equal right times the descending
    * tiebreak puts the SMALLEST tiebreak nearest the left row, which is
    * what `last` picks. A left row with a NULL time matches nothing
    * (explicitly gated — the descending sort would otherwise park null
    * times at the partition end with every right row in frame). The
    * tolerance is a post-filter on the carried match — it cannot
    * advance the match to a later in-tolerance row (there is none: the
    * carried row is the earliest candidate), so the gate is exact, not
    * approximate. */
  def asofForward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      rightTiebreak: String,
      rightCols: Seq[String],
      toleranceUs: Option[Long] = None): DataFrame = {
    val payloadCols = (rightCols :+ rightTime).distinct
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(0))
      .withColumn("__tb", lit(null).cast("long"))
      .withColumn("__payload", lit(null).cast(structType(right, payloadCols)))
    val r = right
      .filter(col(key).isNotNull) // NULL never equi-joins (see asofBackward)
      .select(
        col(key),
        col(rightTime).as("__t"),
        lit(1).as("__side"),
        col(rightTiebreak).cast("long").as("__tb"),
        struct(payloadCols.map(col): _*).as("__payload"))
    val unioned = l.select(
      col(key), col("__t"), col("__side"), col("__tb"), col("__payload"),
      struct(left.columns.toSeq.map(col): _*).as("__left"))
      .unionByName(
        r.withColumn("__left", lit(null).cast(structType(left, left.columns.toSeq))))
    val w = Window
      .partitionBy(key)
      .orderBy(col("__t").desc, col("__side").desc, col("__tb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
      // NULL left time matches nothing (mirrors asofBackward's semantics)
      .withColumn("__match", when(col("__t").isNotNull, col("__match")))
    val gated = toleranceUs match {
      case Some(tol) =>
        carried.withColumn(
          "__match",
          when(
            unix_micros(col(s"__match.$rightTime")) - unix_micros(col("__t")) <= tol,
            col("__match")))
      case None => carried
    }
    val leftOut = left.columns.toSeq.map(c => col(s"__left.$c").as(c))
    val rightOut = rightCols.map(c => col(s"__match.$c").as(c))
    gated.select(leftOut ++ rightOut: _*)
  }

  /** Forward as-of with tolerance: for every `view` event, the user's
    * FIRST `purchase` at or after it and within 2 hours — conversion
    * attribution with bounded lookahead, the canonical forward-as-of
    * workload. Exact integer microsecond gap; unconverted views keep
    * null match columns (they are the interesting rows). */
  def qAsofForward(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
    asofForward(
      views, purchases,
      key = "user_id",
      leftTime = "ts",
      rightTime = "pts",
      rightTiebreak = "purchase_id",
      rightCols = Seq("purchase_id", "pts"),
      toleranceUs = Some(7200000000L))
      .select(
        col("view_id"),
        col("user_id"),
        col("purchase_id"),
        (unix_micros(col("pts")) - unix_micros(col("ts"))).as("gap_us"))
      .orderBy("view_id")
  }

  private val qAsofForwardSql =
    """WITH v AS (
      |  SELECT event_id AS view_id, user_id, ts AS vt FROM events
      |  WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, ts AS pt FROM events
      |  WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT v.view_id, p.purchase_id,
      |    epoch_us(p.pt) - epoch_us(v.vt) AS gap_us,
      |    row_number() OVER (PARTITION BY v.view_id ORDER BY p.pt, p.purchase_id) AS rn
      |  FROM v JOIN p ON v.user_id = p.user_id
      |    AND p.pt >= v.vt AND epoch_us(p.pt) - epoch_us(v.vt) <= 7200000000)
      |SELECT v.view_id, v.user_id, j.purchase_id, j.gap_us
      |FROM v LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (view_id)
      |ORDER BY view_id""".stripMargin

  /** As-of query: for every event, the user's most recent order at or
    * before the event time (orders history ends 2001, events run in 2024 —
    * every event matches its user's last order if the user ever ordered). */
  def qAsOfJoin(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d).select("event_id", "user_id", "ts")
    val orders = Tables.orders(s, d)
      .select(
        col("o_custkey").as("user_id"),
        col("o_orderdate"),
        col("o_orderkey"),
        col("o_totalprice"))
    asofBackward(
      events, orders,
      key = "user_id",
      leftTime = "ts",
      rightTime = "o_orderdate",
      rightTiebreak = "o_orderkey",
      rightCols = Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** DuckDB oracle: native ASOF JOIN against a tie-free right side (one
    * row per (user, date), greatest orderkey wins — the same tiebreak the
    * window construction applies). */
  private val qAsOfSql =
    """WITH orders_d AS (
      |  SELECT o_custkey AS user_id, o_orderdate,
      |    arg_max(o_orderkey, o_orderkey) AS o_orderkey,
      |    arg_max(o_totalprice, o_orderkey) AS o_totalprice
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
      |FROM events e ASOF LEFT JOIN orders_d o
      |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  /** Range (band) self-join: pairs of events from the same user within a
    * 10-minute window. Equality on user_id keeps it a sort-merge join. */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    e.as("a")
      .join(
        e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("b.us") >= col("a.us") - lit(600000000L) &&
          col("b.us") <= col("a.us") + lit(600000000L))
      .select(
        col("a.user_id").as("user_id"),
        col("a.event_id").as("ea"),
        col("b.event_id").as("eb"),
        // exact integer microsecond gap: no division → no cross-engine
        // trunc-vs-round cast divergence
        (col("b.us") - col("a.us")).as("gap_us"))
      .orderBy("user_id", "ea", "eb")
  }

  private val qRangeSql =
    """SELECT a.user_id AS user_id, a.event_id AS ea, b.event_id AS eb,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND epoch_us(b.ts) >= epoch_us(a.ts) - 600000000
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
      |ORDER BY user_id, ea, eb""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q_asof_join", qAsOfJoin, Some(qAsOfSql)),
    Q("q_asof_forward", qAsofForward, Some(qAsofForwardSql)),
    Q("q_range_join", qRangeJoin, Some(qRangeSql)))
}
