package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.OracleParity.xsum

/** Event-time queries (SURVEY.md §2A, events table).
  *
  * The events parquet carries TIMESTAMP(NANOS) which Spark reads as a
  * nanosecond Long (spark.sql.legacy.parquet.nanosAsLong). Both engines
  * truncate to epoch microseconds up front (Spark `ts div 1000`, DuckDB
  * `epoch_us(ts)` — verified identical floor semantics) and all logic runs
  * on exact integers, so results are engine-independent.
  */
object Events {

  /** events with ts_us (epoch microseconds, exact long). */
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))

  private val UsPerHour = 3600000000L

  /** As-of join: each purchase matched to the latest prior click of the same
    * user. Spark-first plan: instead of a per-row range probe, tag both
    * streams, single shuffle on user_id, and carry the last click via a
    * running window — one sort-merge pass, scales to any event volume.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"), lit(1).as("kind"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id"), lit(0).as("kind"))
    // clicks sort before purchases at equal ts_us => `>=` as-of semantics;
    // event_id tiebreaks equal-timestamp clicks deterministically
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("prior_click",
        last(when(col("kind") === 0, struct(col("ts_us"), col("event_id"))), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("prior_click").isNotNull)
      .select(
        col("event_id"), col("user_id"),
        col("prior_click.event_id").as("prior_click_id"),
        (col("ts_us") - col("prior_click.ts_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  val qAsofJoinSql: String =
    """SELECT p.event_id AS event_id, p.user_id AS user_id,
      |  c.event_id AS prior_click_id, epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** Hourly event-time bucketing (integer bucket arithmetic, exact). */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .withColumn("hour_bucket", expr(s"ts_us div $UsPerHour"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), xsum(col("value")).as("sum_value"))
      .orderBy(col("hour_bucket"), col("event_type"))

  val qEventsHourlySql: String =
    s"""SELECT epoch_us(ts) // $UsPerHour AS hour_bucket, event_type, COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin

  /** Gap-based sessionization: a >30 min silence starts a new session.
    * Classic two-window formulation — one shuffle on user_id, both windows
    * share the same sort. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(wOrd) > gapUs, 1)
          .otherwise(when(lag(col("ts_us"), 1).over(wOrd).isNull, 1).otherwise(0)))
      .withColumn("session_idx", sum(col("new_session")).over(wRun))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        xsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val qSessionizeSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
      |         WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), u AS (
      |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM t
      |)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM u GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin

  /** JSON property extraction from the props column. */
  def qEventsJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("k_bucket", col("k") % 10)
      .groupBy(col("k_bucket"))
      .agg(count(lit(1)).as("n"), xsum(col("value")).as("sum_value"))
      .orderBy(col("k_bucket"))

  val qEventsJsonSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
      |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin

  /** q_gapfill: time-series resample + forward fill — the feature-pipeline
    * shape: per-user hourly aggregate, a generated dense hour spine between
    * each user's first and last activity (sequence+explode — no driver
    * loop, spine generation is a narrow map), left join, and last-non-null
    * carry-forward via an IGNORE NULLS running window. One shuffle for the
    * hourly agg, one for the spine join, one user-keyed window sort. */
  def qGapfill(s: SparkSession, dir: String): DataFrame = {
    // integer `div`, never `/` (double division + cast can floor-drift at
    // exact hour boundaries vs DuckDB's integer `//`)
    val hours = ev(s, dir)
      .withColumn("hour", expr(s"ts_us div $UsPerHour"))
    val hourly = hours.groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n_events"), xsum(col("value")).as("v"))
    // spine bounds come from HOURLY, not the raw events: semantically
    // identical (hourly holds every (user,hour)), aggregates |user×hour|
    // rows instead of |events|, and the repeated hourly subplan lets
    // ReuseExchange serve both branches from one shuffle
    val spine = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
      .orderBy(col("user_id"), col("hour"))
  }

  val qGapfillSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour, value FROM events),
      |hourly AS (SELECT user_id, hour, COUNT(*) AS n_events,
      |             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      |           FROM e GROUP BY 1, 2),
      |spine AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hour
      |          FROM (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM e GROUP BY user_id)),
      |j AS (SELECT s.user_id, s.hour, coalesce(h.n_events, 0) AS n_events, h.v
      |      FROM spine s LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hour = s.hour)
      |SELECT user_id, hour, n_events,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM j ORDER BY user_id, hour""".stripMargin

  /** q_seasonal: seasonal-naive anomaly residuals — the time-series
    * monitor a pipeline runs over event volume: hourly counts per event
    * type on a GAPLESS zero-filled hour spine (a missing hour is a count
    * of 0, not a missing row — exactly the case the monitor exists to
    * catch), residual = n − n(same hour, previous day) via lag(24) on
    * the spine, and the anomaly flag on |residual| ≥ threshold. Exact
    * integers end-to-end; one type-keyed window over the spine. */
  def qSeasonal(s: SparkSession, dir: String): DataFrame = {
    val hourly = ev(s, dir)
      .withColumn("hour", expr(s"ts_us div $UsPerHour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_prev_day", lag(col("n"), 24).over(w))
      .filter(col("n_prev_day").isNotNull)
      .withColumn("residual", col("n") - col("n_prev_day"))
      .select(col("event_type"), col("hour"), col("n"), col("n_prev_day"),
        col("residual"), (abs(col("residual")) >= 20L).as("is_anomaly"))
      .orderBy(col("event_type"), col("hour"))
  }

  val qSeasonalSql: String =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) // $UsPerHour AS hour FROM events),
       |hourly AS (SELECT event_type, hour, COUNT(*) AS n FROM e GROUP BY 1, 2),
       |spine AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS hour
       |          FROM (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1 FROM e GROUP BY 1)),
       |f AS (SELECT s.event_type, s.hour, coalesce(h.n, 0) AS n
       |      FROM spine s LEFT JOIN hourly h ON h.event_type = s.event_type AND h.hour = s.hour),
       |lg AS (SELECT event_type, hour, n,
       |         lag(n, 24) OVER (PARTITION BY event_type ORDER BY hour) AS n_prev_day
       |       FROM f)
       |SELECT event_type, hour, n, n_prev_day, n - n_prev_day AS residual,
       |  abs(n - n_prev_day) >= 20 AS is_anomaly
       |FROM lg WHERE n_prev_day IS NOT NULL
       |ORDER BY event_type, hour""".stripMargin

  /** q_dau_mau: product stickiness — DAU, trailing-7-day WAU and the
    * DAU/WAU ratio per day. The windowed distinct count is the hard part
    * at scale: countDistinct cannot ride a sliding frame, so each (day,
    * user) activity row EXPLODES onto the ≤7 target days it supports and
    * one distinct aggregation per target day does the rest — work is
    * 7×&#124;daily actives&#124; keyed rows, never a per-day rescan. The
    * 7-day horizon keeps the gate proportionate; the 30-day MAU is the
    * same plan with a 30-wide sequence. */
  def qDauMau(s: SparkSession, dir: String): DataFrame = {
    val active = ev(s, dir)
      .select(col("user_id"), expr(s"ts_us div $UsPerDay").as("day")).distinct()
    val bounds = active.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val dau = active.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = active
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("d1"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
      .orderBy(col("day"))
  }

  val qDauMauSql: String =
    """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |b AS (SELECT MAX(day) AS d1 FROM a),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM a GROUP BY day),
      |wau AS (SELECT t.day, COUNT(DISTINCT x.user_id) AS wau
      |        FROM (SELECT user_id, unnest(range(day, day + 7)) AS day FROM a) x
      |        JOIN (SELECT day FROM dau) t ON t.day = x.day, b
      |        WHERE x.day <= b.d1
      |        GROUP BY t.day)
      |SELECT d.day, d.dau, w.wau, CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
      |FROM dau d JOIN wau w USING (day) ORDER BY d.day""".stripMargin

  /** q_ltv: cohort revenue curves (cumulative value per signup cohort by
    * weeks since signup — the LTV artifact growth teams read): the
    * q_cohort_retention cohort frame with decimal-exact weekly revenue,
    * then a running sum per cohort over the week axis. One cohort
    * aggregation + one &#124;cohorts×weeks&#124;-sized window. */
  def qLtv(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("day", expr(s"ts_us div $UsPerDay"))
    val signup = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    val weekly = e.join(signup, "user_id")
      .filter(col("day") >= col("d0"))
      .withColumn("week", expr("(day - d0) div 7"))
      .groupBy(expr("d0 div 7").as("cohort_week"), col("week"))
      .agg(xsum(col("value")).as("rev"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cum_rev", sum(col("rev").cast("decimal(18,6)")).over(w).cast("double"))
      .select(col("cohort_week"), col("week"), col("rev"), col("cum_rev"))
      .orderBy(col("cohort_week"), col("week"))
  }

  val qLtvSql: String =
    """WITH e AS (SELECT user_id, event_type, value, epoch_us(ts) // 86400000000 AS day FROM events),
      |signup AS (SELECT user_id, MIN(day) AS d0 FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |weekly AS (
      |  SELECT d0 // 7 AS cohort_week, (day - d0) // 7 AS week,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
      |  FROM e JOIN signup USING (user_id) WHERE day >= d0 GROUP BY 1, 2)
      |SELECT cohort_week, week, rev,
      |  CAST(SUM(CAST(rev AS DECIMAL(18,6))) OVER (PARTITION BY cohort_week ORDER BY week
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_rev
      |FROM weekly ORDER BY cohort_week, week""".stripMargin

  /** q_transitions: the event-type transition matrix (product-analytics
    * flow / first-order Markov counts): per user, events ordered by time,
    * each consecutive (prev_type → type) pair counted corpus-wide, with
    * the per-source-type transition probability. One user-keyed window
    * (the sessionize shuffle), one tiny groupBy; the matrix is
    * &#124;types&#124;² rows at any scale. */
  def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val pairs = ev(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("n_from"))
    pairs.join(totals, "prev_type")
      .select(col("prev_type"), col("event_type"), col("n"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val qTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events),
      |pairs AS (SELECT prev_type, event_type, COUNT(*) AS n
      |          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, SUM(n) AS n_from FROM pairs GROUP BY 1)
      |SELECT p.prev_type, p.event_type, p.n,
      |  CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
      |FROM pairs p JOIN tot t USING (prev_type)
      |ORDER BY p.prev_type, p.event_type""".stripMargin

  /** q_semi_additive: semi-additive measure rollup — the BI class where a
    * measure (an account balance, an inventory level) sums across
    * entities but NOT across time: per (user, day) take the LAST
    * chronological value, then sum those closing values across users per
    * day. One user-day window rides the same shuffle as the final agg's
    * partials; decimal-exact sum. */
  def qSemiAdditive(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("day", expr("ts_us div 86400000000"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    e.withColumn("closing", last(col("value")).over(w))
      .groupBy(col("user_id"), col("day"))
      .agg(first(col("closing")).as("closing"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_users"), xsum(col("closing")).as("total_closing"))
      .orderBy(col("day"))
  }

  val qSemiAdditiveSql: String =
    """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, value,
      |             ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
      |               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |           FROM events)
      |SELECT day, COUNT(*) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_closing
      |FROM d WHERE rn = 1 GROUP BY day ORDER BY day""".stripMargin

  private val UsPerDay = 86400000000L

  /** q_cohort_retention: weekly signup cohorts × weeks-since-signup active
    * user counts — the retention matrix. One aggregation for the per-user
    * signup anchor (broadcastable: one row per user), one shuffle for the
    * cohort/week rollup with an exact distinct count. */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("day", expr(s"ts_us div $UsPerDay"))
    val signup = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    // filter on day >= d0 BEFORE the week bucket: Spark `div` truncates
    // toward zero while DuckDB `//` floors, so a negative (day - d0) for
    // pre-signup activity would bucket differently per engine
    e.join(signup, "user_id")
      .filter(col("day") >= col("d0"))
      .withColumn("week", expr("(day - d0) div 7"))
      .groupBy(expr("d0 div 7").as("cohort_week"), col("week"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_week"), col("week"))
  }

  val qCohortRetentionSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events),
      |signup AS (SELECT user_id, MIN(day) AS d0 FROM e WHERE event_type = 'signup' GROUP BY user_id)
      |SELECT d0 // 7 AS cohort_week, (day - d0) // 7 AS week, COUNT(DISTINCT e.user_id) AS n_active
      |FROM e JOIN signup USING (user_id)
      |WHERE day >= d0
      |GROUP BY 1, 2 ORDER BY cohort_week, week""".stripMargin

  /** q_range_join: pure range (non-equi) join — every event matched to the
    * "flash-sale windows" it falls into, where a window is ±30 min around
    * each of the top-20 purchases by value. There is NO equi-key, the case
    * Spark's hash joins can't serve directly; the naive plan is a
    * cross-product with a range filter (O(|events|·|windows|)).
    *
    * Spark-first scale shape: bucketize time by the maximum window length
    * (1 h), explode each window onto the buckets it overlaps (≤2 here —
    * interval length / bucket width + 1 in general), and equi-join on the
    * bucket id before refining with the exact range predicate. Per-event
    * work drops from |windows| to |windows overlapping its bucket|. The
    * tiny expanded side broadcasts (zero shuffle); with millions of
    * windows the same plan degrades gracefully to ONE shuffle on the
    * bucket key — the structure, not the broadcast, is what scales.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val halfUs = 30L * 60 * 1000000
    val e = ev(s, dir)
    val windows = e.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .orderBy(col("value").desc_nulls_last, col("event_id"))
      .limit(20)
      .select(col("event_id").as("window_id"),
        (col("ts_us") - halfUs).as("w_start"), (col("ts_us") + halfUs).as("w_end"))
    val expanded = windows.withColumn("bucket",
      explode(expr(s"sequence(w_start div $UsPerHour, (w_end - 1) div $UsPerHour)")))
    e.withColumn("bucket", expr(s"ts_us div $UsPerHour"))
      .join(broadcast(expanded), Seq("bucket"))
      .filter(col("ts_us") >= col("w_start") && col("ts_us") < col("w_end"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"), xsum(col("value")).as("sum_value"))
      .orderBy(col("window_id"))
  }

  val qRangeJoinSql: String =
    """WITH w AS (
      |  SELECT event_id AS window_id,
      |    epoch_us(ts) - 1800000000 AS w_start, epoch_us(ts) + 1800000000 AS w_end
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      |  ORDER BY value DESC NULLS LAST, event_id LIMIT 20)
      |SELECT w.window_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events e JOIN w ON epoch_us(e.ts) >= w.w_start AND epoch_us(e.ts) < w.w_end
      |GROUP BY w.window_id ORDER BY window_id""".stripMargin

  private val KmvK = 64
  // (k-1)·2^60: 63·2^60 has 6 significant bits — exactly representable in
  // double, so both engines fold the identical constant (standard error
  // ≈ 1/√(k−2) ≈ 12.7% at k=64)
  private val KmvScale = (KmvK - 1).toDouble * 1152921504606846976.0d

  /** q_kmv_distinct: KMV distinct sketch per event type — bounded-state
    * approximate COUNT(DISTINCT) whose per-partition sketches MERGE (the
    * rollup property exact distinct lacks). Hashing is md5-derived in the
    * query layer, so the sketch is fully deterministic and the oracle
    * reproduces it EXACTLY: the k smallest distinct hash values and the
    * (k-1)·2^60/v_k estimate hash-match, not just bound-check. Exact
    * distinct counts ride along for the error story. */
  def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val sk = org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.KmvSketch(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(col("h")), KmvK)
        .toAggregateExpression())
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("h", conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"), sk.as("kmv"))
      .select(col("event_type"), col("n_exact"),
        size(col("kmv")).cast("long").as("m"),
        when(size(col("kmv")) < KmvK, size(col("kmv")).cast("double"))
          .otherwise(lit(KmvScale) / get(col("kmv"), lit(KmvK - 1)).cast("double")).as("kmv_est"))
      .orderBy(col("event_type"))
  }

  val qKmvDistinctSql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT event_type,
       |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM events WHERE user_id IS NOT NULL),
       |r AS (SELECT event_type, h,
       |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
       |st AS (SELECT event_type, COUNT(*) AS m,
       |         MAX(CASE WHEN rn = $KmvK THEN h END) AS kth
       |       FROM r WHERE rn <= $KmvK GROUP BY event_type),
       |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
       |       FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
       |SELECT ex.event_type, n_exact, CAST(m AS BIGINT) AS m,
       |  CASE WHEN m < $KmvK THEN CAST(m AS DOUBLE)
       |       ELSE ($KmvScale) / CAST(kth AS DOUBLE) END AS kmv_est
       |FROM ex JOIN st ON st.event_type = ex.event_type
       |ORDER BY ex.event_type""".stripMargin

  /** q_ewma: per-priority monthly-revenue trend via a FINITE-IMPULSE
    * exponentially weighted moving average — 8 lag taps with α = 1/2, so
    * every weight (2^-1 … 2^-8) and the normalizer (255/256) is an EXACT
    * binary double and the whole smoother is one fixed left-to-right
    * arithmetic chain both engines evaluate identically. The infinite
    * recursion ewma_t = αx + (1−α)ewma_{t−1} is deliberately avoided: a
    * running formulation either recurses row-by-row (driver-bound) or
    * rewrites to pow() window sums whose summation order — and therefore
    * last-ulp rounding — engines don't agree on. Truncating at 8 taps
    * (residual weight 2^-8) keeps it a pure window expression: one shuffle
    * on the group key, any history length, no recursion. Rows emit only
    * with full tap history (rn ≥ 8). */
  def qEwma(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), date_trunc("month", col("o_orderdate")).as("month"))
      .agg(xsum(col("o_totalprice")).as("revenue"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
    val taps = (0 to 7).map(j => lit(math.pow(0.5, j + 1)) * lag(col("revenue"), j).over(w))
    monthly
      .withColumn("rn", row_number().over(w))
      .withColumn("ewma", taps.reduce(_ + _) / lit(255.0 / 256.0))
      .filter(col("rn") >= 8)
      .select(col("o_orderpriority"), col("month"), col("revenue"), col("ewma"))
      .orderBy(col("o_orderpriority"), col("month"))
  }

  val qEwmaSql: String = {
    val taps = (0 to 7).map(j =>
      s"${math.pow(0.5, j + 1)} * lag(revenue, $j) OVER w").mkString(" + ")
    s"""WITH monthly AS (
       |  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       |  FROM orders GROUP BY 1, 2)
       |SELECT o_orderpriority, month, revenue, ewma FROM (
       |  SELECT o_orderpriority, month, revenue,
       |    row_number() OVER w AS rn,
       |    ($taps) / ${255.0 / 256.0} AS ewma
       |  FROM monthly
       |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month))
       |WHERE rn >= 8
       |ORDER BY o_orderpriority, month""".stripMargin
  }

  /** q_islands: gaps-and-islands — per-user consecutive-active-day
    * streaks, reported as the distribution of each user's LONGEST
    * streak (streak length → user count). The classic island key is
    * `day - row_number()` per user: consecutive days share the key, a
    * gap starts a new one. Scale shape: ONE user-keyed shuffle carries
    * the window and both per-user aggregations (island collapse and
    * per-user max both cluster on a superset of user_id, so Spark's
    * ClusteredDistribution check reuses the window's partitioning); the
    * only other exchange moves |distinct streak lengths| rows. */
  def qIslands(s: SparkSession, dir: String): DataFrame = {
    val active = ev(s, dir)
      .select(col("user_id"), expr(s"ts_us div $UsPerDay").as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val streaks = active
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
    streaks.groupBy(col("user_id")).agg(max(col("len")).as("max_streak"))
      .groupBy(col("max_streak")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("max_streak"))
  }

  val qIslandsSql: String =
    """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |g AS (SELECT user_id, day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM a),
      |st AS (SELECT user_id, COUNT(*) AS len FROM g GROUP BY user_id, grp),
      |mx AS (SELECT user_id, MAX(len) AS max_streak FROM st GROUP BY user_id)
      |SELECT max_streak, COUNT(*) AS n_users FROM mx GROUP BY max_streak
      |ORDER BY max_streak""".stripMargin

  private val SurvivalHorizon = 30

  /** q_survival: the SURVIVAL / churn curve — for each tenure t (days),
    * the fraction of users whose observed lifetime (last event − first
    * event) reaches t: S(t) = |{u : lifetime_u ≥ t}| / |users| over
    * t = 0..30 days. The Kaplan–Meier shape without censoring
    * weights (every user's window closed at the corpus frontier), which
    * keeps every input an exact integer and each S(t) ONE pinned
    * division — the retention curve a subscription dashboard plots.
    *
    * Scale shape: one user-keyed min/max aggregation (map-side partial)
    * collapses the corpus to |users| lifetimes, a second aggregation to
    * the ≤|window days| lifetime histogram; the horizon spine joins the
    * HISTOGRAM (broadcast, bin-bounded), never the user frame — at
    * 100 TB nothing row-sized passes the first aggregation. */
  def qSurvival(s: SparkSession, dir: String): DataFrame = {
    val life = ev(s, dir).groupBy(col("user_id"))
      .agg(expr(s"(max(ts_us) - min(ts_us)) div $UsPerDay").as("lt"))
    val hist = life.groupBy(col("lt")).agg(count(lit(1)).as("n"))
    val tot = life.agg(count(lit(1)).as("n_total"))
    val spine = s.range(0, SurvivalHorizon + 1).select(col("id").as("t"))
    spine.join(broadcast(hist), col("lt") >= col("t"), "left")
      .groupBy(col("t"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_surviving"))
      .crossJoin(broadcast(tot))
      .select(col("t"), col("n_surviving"),
        (col("n_surviving").cast("double") / col("n_total").cast("double")).as("survival"))
      .orderBy(col("t"))
  }

  val qSurvivalSql: String =
    s"""WITH life AS (
       |  SELECT user_id, (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // $UsPerDay AS lt
       |  FROM events GROUP BY user_id),
       |hist AS (SELECT lt, COUNT(*) AS n FROM life GROUP BY lt),
       |tot AS (SELECT COUNT(*) AS n_total FROM life),
       |spine AS (SELECT unnest(range(0, ${SurvivalHorizon + 1})) AS t)
       |SELECT s.t, CAST(COALESCE(SUM(h.n), 0) AS BIGINT) AS n_surviving,
       |  CAST(COALESCE(SUM(h.n), 0) AS DOUBLE) / CAST(tot.n_total AS DOUBLE) AS survival
       |FROM spine s LEFT JOIN hist h ON h.lt >= s.t, tot
       |GROUP BY s.t, tot.n_total ORDER BY s.t""".stripMargin

  // ------------------------------------------------------- q_sketch_setops

  /** q_sketch_setops: DISTINCT-COUNT SET ALGEBRA ON SKETCHES — the reason
    * mergeable sketches exist: "how many users in A∪B / A∩B" across two
    * corpus slices WITHOUT rescanning either (per-slice KMV sketches
    * merge into the union's sketch; intersection estimates by
    * inclusion–exclusion; Jaccard directly from slot agreement). Slices
    * are the even/odd epoch-day halves. The union sketch derives
    * IN-QUERY from the two slice sketches (k smallest of the merged
    * arrays — never a re-aggregation), and the membership test for the
    * Jaccard estimator is array intersection against the SLICE sketches:
    * sound because any hash among the union's k minima that belongs to A
    * is necessarily among A's k minima. Everything is integer hashes and
    * pinned divisions — deterministic, hash-checkable estimates beside
    * their exact counterparts.
    *
    * Scale shape: one keyed aggregation per slice (O(k) state — the
    * rollup a 100 TB pipeline stores per partition/day and NEVER
    * rescans); the algebra runs on two k-element arrays. */
  def qSketchSetops(s: SparkSession, dir: String): DataFrame = {
    def sk = org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.KmvSketch(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(col("h")), KmvK)
        .toAggregateExpression())
    val base = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("h", conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long"))
      .withColumn("side", expr(s"(ts div 1000) div $UsPerDay") % 2)
    val sides = base.groupBy(col("side"))
      .agg(countDistinct(col("user_id")).as("n_exact"), sk.as("kmv"))
    val a = sides.filter(col("side") === 0).select(col("n_exact").as("exact_a"), col("kmv").as("ka"))
    val b = sides.filter(col("side") === 1).select(col("n_exact").as("exact_b"), col("kmv").as("kb"))
    val exactU = base.agg(countDistinct(col("user_id")).as("exact_union"))
    def est(arr: Column): Column =
      when(size(arr) < KmvK, size(arr).cast("double"))
        .otherwise(lit(KmvScale) / get(arr, lit(KmvK - 1)).cast("double"))
    a.crossJoin(b).crossJoin(broadcast(exactU))
      .withColumn("ku", slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, KmvK))
      .withColumn("est_a", est(col("ka")))
      .withColumn("est_b", est(col("kb")))
      .withColumn("est_union", est(col("ku")))
      .withColumn("jaccard_est",
        size(array_intersect(array_intersect(col("ku"), col("ka")), col("kb"))).cast("double") /
          size(col("ku")).cast("double"))
      .select(col("exact_a"), col("exact_b"), col("exact_union"),
        col("est_a"), col("est_b"), col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_intersect"),
        col("jaccard_est"))
  }

  val qSketchSetopsSql: String = {
    def sliceCte(name: String, par: Int) =
      s"""${name}_h AS (
         |  SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
         |  FROM events WHERE user_id IS NOT NULL AND (epoch_us(ts) // $UsPerDay) % 2 = $par),
         |${name}_r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ${name}_h),
         |$name AS (SELECT list(h ORDER BY h) AS kmv FROM ${name}_r WHERE rn <= $KmvK)""".stripMargin
    def est(arr: String) =
      s"CASE WHEN len($arr) < $KmvK THEN CAST(len($arr) AS DOUBLE) ELSE ($KmvScale) / CAST($arr[$KmvK] AS DOUBLE) END"
    s"""WITH ${sliceCte("sa", 0)},
       |${sliceCte("sb", 1)},
       |ex AS (
       |  SELECT COUNT(DISTINCT CASE WHEN (epoch_us(ts) // $UsPerDay) % 2 = 0 THEN user_id END) AS exact_a,
       |    COUNT(DISTINCT CASE WHEN (epoch_us(ts) // $UsPerDay) % 2 = 1 THEN user_id END) AS exact_b,
       |    COUNT(DISTINCT user_id) AS exact_union
       |  FROM events WHERE user_id IS NOT NULL),
       |m AS (
       |  SELECT sa.kmv AS ka, sb.kmv AS kb,
       |    list_sort(list_distinct(sa.kmv || sb.kmv))[1:$KmvK] AS ku
       |  FROM sa, sb)
       |SELECT exact_a, exact_b, exact_union,
       |  ${est("ka")} AS est_a, ${est("kb")} AS est_b, ${est("ku")} AS est_union,
       |  (${est("ka")}) + (${est("kb")}) - (${est("ku")}) AS est_intersect,
       |  CAST(len(list_intersect(list_intersect(ku, ka), kb)) AS DOUBLE)
       |    / CAST(len(ku) AS DOUBLE) AS jaccard_est
       |FROM m, ex""".stripMargin
  }

  // --------------------------------------------------------------- q_decay

  /** q_decay: TIME-DECAY weighted engagement — the recency-weighted score
    * behind trending ranks and churn features: each event contributes
    * value · 2^(−age_days), so yesterday counts half of today. The
    * whole computation is EXACT INTEGER/DECIMAL arithmetic: the weight
    * rides as the integer 2^(62−age) (one shifted bit — events older
    * than 62 days truncate to exactly 0, the documented horizon), the
    * per-event product value·w is an exact decimal, the sum is
    * order-invariant, and ONE final division by the exactly-representable
    * 2^62 rescales — no engine-dependent double→decimal rounding
    * anywhere (a frozen pow(2, −age) double differed by an ulp between
    * engines; e^{−λt} weights would be hopeless).
    *
    * Scale shape: 1-row frontier broadcast + ONE map-side-partial
    * aggregation to |types| rows. At 10¹²-event scale the decimal
    * headroom wants per-day pre-aggregation first (collapse to
    * |types|×|days| then weight — same answer, bounded terms). */
  def qDecay(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .withColumn("day", expr(s"(ts div 1000) div $UsPerDay"))
    val frontier = base.agg(max(col("day")).as("f"))
    val two62 = 4.611686018427387904e18 // 2^62, exactly representable
    base.crossJoin(broadcast(frontier))
      .withColumn("age", col("f") - col("day"))
      .withColumn("w", when(col("age") > 62, lit(0L))
        .otherwise(expr("shiftleft(1L, cast(62 - age AS int))")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        // raw (r14 un-pin): the one-ulp divergence the old x6 pin
        // absorbed was DuckDB's direct int128->double cast misrounding —
        // the oracle now varchar-routes the wide-decimal casts (SURVEY §6
        // r14 rule), making both engines' sums bitwise-equal doubles
        (sum((col("value").cast(DecimalType(18, 6)) * col("w")).cast(DecimalType(38, 6)))
            .cast("double") / lit(two62)).as("decayed_value"),
        (sum(col("w").cast(DecimalType(38, 0))).cast("double") / lit(two62))
          .as("decayed_count"))
      .orderBy(col("event_type"))
  }

  val qDecaySql: String =
    s"""WITH e AS (SELECT event_type, value, epoch_us(ts) // $UsPerDay AS day FROM events),
       |f AS (SELECT MAX(day) AS f FROM e),
       |w AS (
       |  SELECT event_type, value,
       |    CASE WHEN f.f - day > 62 THEN 0
       |         ELSE (1::BIGINT << CAST(62 - (f.f - day) AS INTEGER)) END AS w
       |  FROM e, f)
       |SELECT event_type, COUNT(*) AS n,
       |  CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * w AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
       |    / 4.611686018427387904e18 AS decayed_value,
       |  CAST(CAST(SUM(CAST(w AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
       |    / 4.611686018427387904e18 AS decayed_count
       |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q_wape

  /** q_wape: FORECAST-SKILL evaluation of the seasonal-naive predictor —
    * the backtest number that justifies (or indicts) q_seasonal's lag-24
    * choice: WAPE = Σ|actual − forecast| / Σ actual per event type, with
    * MAE beside it. WAPE over MAPE because it is exact-integer until ONE
    * pinned division (MAPE's per-row divisions explode on the zero-count
    * hours a gapless spine exists to keep). Forecast = the same hour one
    * day earlier on the zero-filled spine.
    *
    * Scale shape: one corpus agg to the |types|×|hours| spine, one
    * type-keyed window, one |types|-row rollup — q_seasonal's budget with
    * a different tail. */
  def qWape(s: SparkSession, dir: String): DataFrame = {
    val hourly = ev(s, dir)
      .withColumn("hour", expr(s"ts_us div $UsPerHour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("fc", lag(col("n"), 24).over(w))
      .filter(col("fc").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(abs(col("n") - col("fc"))).as("sae"),
        sum(col("n")).as("mass"))
      .select(col("event_type"), col("n_hours"), col("sae"), col("mass"),
        (col("sae").cast("double") / col("mass").cast("double")).as("wape"),
        (col("sae").cast("double") / col("n_hours").cast("double")).as("mae"))
      .orderBy(col("event_type"))
  }

  val qWapeSql: String =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) // $UsPerHour AS hour FROM events),
       |hourly AS (SELECT event_type, hour, COUNT(*) AS n FROM e GROUP BY 1, 2),
       |spine AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS hour
       |          FROM (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1 FROM e GROUP BY 1)),
       |f AS (SELECT s.event_type, s.hour, coalesce(h.n, 0) AS n
       |      FROM spine s LEFT JOIN hourly h ON h.event_type = s.event_type AND h.hour = s.hour),
       |lg AS (SELECT event_type, n,
       |         lag(n, 24) OVER (PARTITION BY event_type ORDER BY hour) AS fc
       |       FROM f),
       |agg AS (
       |  SELECT event_type, COUNT(*) AS n_hours,
       |    CAST(SUM(abs(n - fc)) AS BIGINT) AS sae, CAST(SUM(n) AS BIGINT) AS mass
       |  FROM lg WHERE fc IS NOT NULL GROUP BY event_type)
       |SELECT event_type, n_hours, sae, mass,
       |  CAST(sae AS DOUBLE) / CAST(mass AS DOUBLE) AS wape,
       |  CAST(sae AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mae
       |FROM agg ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------ q_holt

  /** Sign-symmetric half-up integer division — the ONE exact-rounding
    * primitive shared by q_winsorize's mean, the Holt folds and
    * q_pvm_bridge's per-part effects ((2v+d) div 2d for v ≥ 0, mirrored
    * for v < 0; `div`/`//` truncate identically on non-negative
    * operands). `d` is any positive SQL expression — constant or
    * column. */
  private[graft] def halfUp(v: String, d: String, div: String) =
    s"(CASE WHEN ($v) >= 0 THEN (2 * ($v) + ($d)) $div (2 * ($d)) " +
      s"ELSE -((-2 * ($v) + ($d)) $div (2 * ($d))) END)"

  /** The Holt update in EXACT INTEGER MICRO-UNITS, shared verbatim by the
    * Spark fold lambda and the oracle's recursive step (α=0.5 → /2,
    * β=0.25 → /4, each with half-up integer rounding). A float recursion
    * x6-pinned per step was tried first and DIVERGED at sf0.01: ~240
    * chained double→decimal casts make a rounding-boundary hit (Spark
    * rounds the shortest decimal string, DuckDB the exact binary value)
    * near-certain; integer state makes cross-engine drift impossible by
    * construction. Level recomputes inside the trend expression because
    * neither engine's lambda/recursion has a local binding — both
    * evaluate the IDENTICAL tree. */
  private[graft] def holtLevelM(x: String, l: String, t: String, div: String) =
    halfUp(s"$x + $l + $t", "2", div)
  private[graft] def holtTrendM(x: String, l: String, t: String, div: String) =
    halfUp(s"${holtLevelM(x, l, t, div)} - $l + 3 * $t", "4", div)

  /** q_holt: HOLT double-exponential smoothing per order priority — the
    * trend-aware forecaster q_ewma's level-only taps cannot express (a
    * steadily growing series makes EWMA lag forever; Holt carries an
    * explicit trend term). Recursive by nature: level_t depends on
    * level_{t−1}, which no window/tap truncation reproduces exactly — so
    * the Spark side folds the collected monthly series with
    * `aggregate()` (a catalyst higher-order function, codegen-friendly,
    * no UDF) and the oracle replays the SAME per-step expression via a
    * recursive CTE. Every step is x6-pinned, so the recursion cannot
    * accumulate cross-engine drift by construction.
    *
    * Scale shape: ONE keyed aggregation builds the |priorities|×|months|
    * series arrays (map-side partial collect; a series fits memory
    * because |months| is bounded — at 100 TB the GROUP is the time
    * series, never the fact rows); the fold is per-row compute. */
  /** The Holt fold over a BIGINT-micro series column named `revs` —
    * exposed for InvariantSpec's exact-line-recovery property. */
  private[graft] val holtFold: String =
    s"""aggregate(
       |  slice(revs, 2, size(revs) - 1),
       |  named_struct(
       |    'level', element_at(revs, 1),
       |    'trend', element_at(revs, 2) - element_at(revs, 1)),
       |  (acc, x) -> named_struct(
       |    'level', ${holtLevelM("x", "acc.level", "acc.trend", "div")},
       |    'trend', ${holtTrendM("x", "acc.level", "acc.trend", "div")}))""".stripMargin

  def qHolt(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), date_trunc("month", col("o_orderdate")).as("month"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 6))) * lit(1000000L))
        .cast("long").as("rev_m"))
    val fold = holtFold
    monthly.groupBy(col("o_orderpriority"))
      .agg(expr("transform(array_sort(collect_list(struct(month, rev_m))), z -> z.rev_m)")
        .as("revs"))
      .filter(size(col("revs")) >= 2)
      .withColumn("st", expr(fold))
      .select(col("o_orderpriority"), size(col("revs")).cast("long").as("n_periods"),
        (col("st.level").cast("double") / lit(1000000.0)).as("level"),
        (col("st.trend").cast("double") / lit(1000000.0)).as("trend"),
        ((col("st.level") + col("st.trend")).cast("double") / lit(1000000.0)).as("f1"),
        ((col("st.level") + lit(2L) * col("st.trend")).cast("double") / lit(1000000.0)).as("f2"),
        ((col("st.level") + lit(3L) * col("st.trend")).cast("double") / lit(1000000.0)).as("f3"))
      .orderBy(col("o_orderpriority"))
  }

  val qHoltSql: String =
    s"""WITH RECURSIVE monthly AS (
       |  SELECT o_orderpriority AS pri, date_trunc('month', o_orderdate) AS month,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_m
       |  FROM orders GROUP BY 1, 2),
       |ser AS (
       |  SELECT pri, rev_m,
       |    ROW_NUMBER() OVER (PARTITION BY pri ORDER BY month) AS idx
       |  FROM monthly),
       |nn AS (SELECT pri, MAX(idx) AS n FROM ser GROUP BY pri),
       |st AS (
       |  SELECT s1.pri, CAST(1 AS BIGINT) AS idx, s1.rev_m AS level,
       |    s2.rev_m - s1.rev_m AS trend
       |  FROM ser s1 JOIN ser s2 ON s2.pri = s1.pri AND s2.idx = 2
       |  WHERE s1.idx = 1
       |  UNION ALL
       |  SELECT s.pri, s.idx + 1,
       |    ${holtLevelM("v.rev_m", "s.level", "s.trend", "//")},
       |    ${holtTrendM("v.rev_m", "s.level", "s.trend", "//")}
       |  FROM st s JOIN ser v ON v.pri = s.pri AND v.idx = s.idx + 1)
       |SELECT st.pri AS o_orderpriority, nn.n AS n_periods,
       |  CAST(st.level AS DOUBLE) / 1000000.0 AS level,
       |  CAST(st.trend AS DOUBLE) / 1000000.0 AS trend,
       |  CAST(st.level + st.trend AS DOUBLE) / 1000000.0 AS f1,
       |  CAST(st.level + 2 * st.trend AS DOUBLE) / 1000000.0 AS f2,
       |  CAST(st.level + 3 * st.trend AS DOUBLE) / 1000000.0 AS f3
       |FROM st JOIN nn ON nn.pri = st.pri AND st.idx = nn.n
       |WHERE nn.n >= 2
       |ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------ q_holt_backtest

  /** q_holt_backtest: ROLLING-ORIGIN BACKTEST of the Holt forecaster —
    * the evaluation q_holt itself cannot provide (its f1/f2/f3 are
    * unaudited predictions): at every month m, the 1-step-ahead forecast
    * from the state over months < m compares against the actual, and the
    * absolute errors roll up to the forecaster's WAPE/MAE per priority —
    * the number that says whether to TRUST the forecast (and tunes α/β
    * against a naive baseline). The whole backtest rides the SAME exact
    * integer fold as q_holt with (sae, mass) carried IN the accumulator
    * (forecast = level + trend read BEFORE each update), so evaluating
    * the forecaster costs one extra addition per step — no second pass,
    * no per-cutoff refits (the rolling-origin identity: Holt's state
    * after a prefix IS the refit on that prefix). The first folded step
    * contributes zero error by construction (the seed consumed that
    * month) — the standard cold-start artifact, counted in n_evals.
    *
    * Scale shape: identical to q_holt — one keyed agg builds the bounded
    * monthly series arrays; the fold is per-row. */
  def qHoltBacktest(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), date_trunc("month", col("o_orderdate")).as("month"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 6))) * lit(1000000L))
        .cast("long").as("rev_m"))
    val fold =
      s"""aggregate(
         |  slice(revs, 2, size(revs) - 1),
         |  named_struct(
         |    'level', element_at(revs, 1),
         |    'trend', element_at(revs, 2) - element_at(revs, 1),
         |    'sae', CAST(0 AS BIGINT), 'mass', CAST(0 AS BIGINT)),
         |  (acc, x) -> named_struct(
         |    'level', ${holtLevelM("x", "acc.level", "acc.trend", "div")},
         |    'trend', ${holtTrendM("x", "acc.level", "acc.trend", "div")},
         |    'sae', acc.sae + abs(x - (acc.level + acc.trend)),
         |    'mass', acc.mass + x))""".stripMargin
    monthly.groupBy(col("o_orderpriority"))
      .agg(expr("transform(array_sort(collect_list(struct(month, rev_m))), z -> z.rev_m)")
        .as("revs"))
      .filter(size(col("revs")) >= 3)
      .withColumn("st", expr(fold))
      .select(col("o_orderpriority"),
        (size(col("revs")) - 1).cast("long").as("n_evals"),
        col("st.sae").as("sae_micro"), col("st.mass").as("mass_micro"),
        (col("st.sae").cast("double") /
          col("st.mass").cast("double")).as("wape"),
        (col("st.sae").cast("double") /
          (size(col("revs")) - 1).cast("double") / lit(1000000.0)).as("mae"))
      .orderBy(col("o_orderpriority"))
  }

  val qHoltBacktestSql: String =
    s"""WITH RECURSIVE monthly AS (
       |  SELECT o_orderpriority AS pri, date_trunc('month', o_orderdate) AS month,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_m
       |  FROM orders GROUP BY 1, 2),
       |ser AS (
       |  SELECT pri, rev_m,
       |    ROW_NUMBER() OVER (PARTITION BY pri ORDER BY month) AS idx
       |  FROM monthly),
       |nn AS (SELECT pri, MAX(idx) AS n FROM ser GROUP BY pri),
       |st AS (
       |  SELECT s1.pri, CAST(1 AS BIGINT) AS idx, s1.rev_m AS level,
       |    s2.rev_m - s1.rev_m AS trend,
       |    CAST(0 AS BIGINT) AS sae, CAST(0 AS BIGINT) AS mass
       |  FROM ser s1 JOIN ser s2 ON s2.pri = s1.pri AND s2.idx = 2
       |  WHERE s1.idx = 1
       |  UNION ALL
       |  SELECT s.pri, s.idx + 1,
       |    ${holtLevelM("v.rev_m", "s.level", "s.trend", "//")},
       |    ${holtTrendM("v.rev_m", "s.level", "s.trend", "//")},
       |    s.sae + abs(v.rev_m - (s.level + s.trend)),
       |    s.mass + v.rev_m
       |  FROM st s JOIN ser v ON v.pri = s.pri AND v.idx = s.idx + 1)
       |SELECT st.pri AS o_orderpriority, nn.n - 1 AS n_evals,
       |  st.sae AS sae_micro, st.mass AS mass_micro,
       |  CAST(st.sae AS DOUBLE) / CAST(st.mass AS DOUBLE) AS wape,
       |  CAST(st.sae AS DOUBLE) / CAST(nn.n - 1 AS DOUBLE) / 1000000.0 AS mae
       |FROM st JOIN nn ON nn.pri = st.pri AND st.idx = nn.n
       |WHERE nn.n >= 3
       |ORDER BY o_orderpriority""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_holt_backtest", qHoltBacktest _, qHoltBacktestSql),
    Gate("q_holt", qHolt _, qHoltSql),
    Gate("q_sketch_setops", qSketchSetops _, qSketchSetopsSql),
    Gate("q_decay", qDecay _, qDecaySql),
    Gate("q_wape", qWape _, qWapeSql),
    Gate("q_survival", qSurvival _, qSurvivalSql),
    Gate("q_islands", qIslands _, qIslandsSql),
    Gate("q_ewma", qEwma _, qEwmaSql),
    Gate("q_kmv_distinct", qKmvDistinct _, qKmvDistinctSql),
    Gate("q_range_join", qRangeJoin _, qRangeJoinSql),
    Gate("q_cohort_retention", qCohortRetention _, qCohortRetentionSql),
    Gate("q_seasonal", qSeasonal _, qSeasonalSql),
    Gate("q_transitions", qTransitions _, qTransitionsSql),
    Gate("q_dau_mau", qDauMau _, qDauMauSql),
    Gate("q_ltv", qLtv _, qLtvSql),
    Gate("q_semi_additive", qSemiAdditive _, qSemiAdditiveSql),
    Gate("q_gapfill", qGapfill _, qGapfillSql),
    Gate("q_asof_join", qAsofJoin _, qAsofJoinSql),
    Gate("q_events_hourly", qEventsHourly _, qEventsHourlySql),
    Gate("q_sessionize", qSessionize _, qSessionizeSql),
    Gate("q_events_json", qEventsJson _, qEventsJsonSql),
  )
}
