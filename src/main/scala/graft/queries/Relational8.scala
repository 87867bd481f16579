package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.functions.OracleParity.x6
import graft.Ckpt._

/** Round-11 additions, batch 2: statistical data-quality / BI diagnostics —
  * Benford first-digit conformance (fraud & synthetic-data screening),
  * Herfindahl market concentration, a chi-square contingency readout, and
  * the new-vs-returning growth split. Same parity discipline as
  * Relational7: exact integer/decimal aggregates, pinned IEEE chains only
  * on output columns. */
object Relational8 {

  private val UsPerDay = 86400000000L

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))

  // ------------------------------------------------------------ q_benford

  /** Benford's-law expected share of first digit d = log10(1 + 1/d),
    * embedded as identical double literals on both engines (the only log
    * in the operator — never computed at runtime). */
  private val BenfordP: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** q_benford: FIRST-DIGIT (Benford) conformance of order totals — the
    * fraud-screening / synthetic-data-detection staple: naturally-grown
    * monetary amounts follow P(d) = log10(1+1/d); fabricated or
    * re-scaled feeds don't. Reports per digit the count, observed share,
    * Benford expectation and absolute deviation.
    *
    * Parity: the first significant digit comes from the DECIMAL(18,6)
    * micro-unit integer's string form (both engines print a BIGINT
    * identically — no float formatting anywhere); shares are pinned
    * single divisions; expectations are shared literals.
    *
    * Scale shape: ONE map-side-partial aggregation to ≤9 rows + a 1-row
    * total broadcast. Nothing else. */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("o_totalprice").cast(DecimalType(18, 6)) * lit(1000000L))
      .cast("long")
    val digits = Tables.orders(s, dir)
      .select(substring(micro.cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1) // guard: zero/negative totals have no Benford digit
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("nn"))
    val expArr = array(BenfordP.map(lit): _*)
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast(DoubleType) / col("nn").cast(DoubleType)).as("share"),
        element_at(expArr, col("digit")).as("expected"),
        abs(col("n").cast(DoubleType) / col("nn").cast(DoubleType) -
          element_at(expArr, col("digit"))).as("abs_dev"))
      .orderBy(col("digit"))
  }

  val qBenfordSql: String = {
    val lits = BenfordP.mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM orders),
       |c AS (SELECT digit, COUNT(*) AS n FROM d WHERE digit >= 1 GROUP BY digit),
       |t AS (SELECT SUM(n) AS nn FROM c)
       |SELECT digit, n,
       |  CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS share,
       |  ([$lits])[digit] AS expected,
       |  abs(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)
       |    - ([$lits])[digit]) AS abs_dev
       |FROM c, t ORDER BY digit""".stripMargin
  }

  // ---------------------------------------------------------------- q_hhi

  /** q_hhi: HERFINDAHL–HIRSCHMAN market concentration per supplier nation
    * — the antitrust/market-structure metric (HHI = Σ share_s² over
    * suppliers; 1/n when atomized, 1.0 for a monopoly), flagged against
    * the 0.18 "highly concentrated" threshold. The share division never
    * happens per supplier: HHI = Σ rev_s² / (Σ rev_s)², so the only
    * doubles are one pinned division at the end — supplier revenues are
    * exact DECIMAL(18,6) sums, their squares deterministic double
    * products frozen to DECIMAL(38,12) per term before the
    * order-invariant sum (the q_pagerank freezing trick).
    *
    * Scale shape: one lineitem-keyed aggregation to |suppliers| rows
    * (supplier dim broadcasts into it), one nation-keyed rollup of that
    * bounded frame, nation names broadcast. The fact table shuffles
    * once. */
  def qHhi(s: SparkSession, dir: String): DataFrame = {
    val d18 = DecimalType(18, 6); val d38 = DecimalType(38, 12)
    val revS = Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(d18)).as("rev"))
    val byNation = revS.groupBy(col("s_nationkey")).agg(
      count(lit(1)).as("n_suppliers"),
      sum(col("rev")).as("tot"),
      sum((col("rev").cast(DoubleType) * col("rev").cast(DoubleType)).cast(d38)).as("sumsq"))
    byNation
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_suppliers"),
        col("tot").cast(DoubleType).as("revenue"),
        // the x6 pin is LOAD-BEARING here (r14 sweep, measured 1-ulp
        // divergence un-pinned at all three SFs): the per-supplier term
        // freeze double→DECIMAL(38,12) rounds differently between the
        // engines, so sumsq itself differs in the last micro-digit —
        // the float-sourced-freeze class, not the exact-chain class
        x6(col("sumsq").cast(DoubleType) /
          (col("tot").cast(DoubleType) * col("tot").cast(DoubleType))).as("hhi"),
        (x6(col("sumsq").cast(DoubleType) /
          (col("tot").cast(DoubleType) * col("tot").cast(DoubleType))) > lit(0.18))
          .as("concentrated"))
      .orderBy(col("nation"))
  }

  val qHhiSql: String =
    """WITH rev_s AS (
      |  SELECT s_nationkey, s_suppkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS rev
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY s_nationkey, s_suppkey),
      |n AS (
      |  SELECT s_nationkey, COUNT(*) AS n_suppliers, SUM(rev) AS tot,
      |    SUM(CAST(CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE) AS DECIMAL(38,12))) AS sumsq
      |  FROM rev_s GROUP BY s_nationkey)
      |-- sumsq's unscaled int128 (~1e31) is far past 2^64 — varchar-route
      |-- (SURVEY §6 r14 rule); the x6 pin on hhi stays: the per-term
      |-- double->DECIMAL(38,12) freeze rounds differently between engines
      |SELECT n_name AS nation, n_suppliers, CAST(tot AS DOUBLE) AS revenue,
      |  CAST(CAST(CAST(CAST(sumsq AS VARCHAR) AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS hhi,
      |  CAST(CAST(CAST(CAST(sumsq AS VARCHAR) AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) > 0.18 AS concentrated
      |FROM n JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY nation""".stripMargin

  // -------------------------------------------------------------- q_chisq

  /** q_chisq: CHI-SQUARE CONTINGENCY readout for event_type × day-of-week
    * — "is behavior independent of weekday?", the canonical independence
    * test behind seasonality and cohort-mix checks. Emits the full
    * contingency drilldown: observed count, expected count under
    * independence e_ij = r_i·c_j / N, and the per-cell χ² contribution
    * (n−e)²/e — the cells an analyst actually reads to see WHERE the
    * dependence lives. The global χ² statistic is deliberately NOT a
    * single output float: summing |cells| doubles is partition-order-
    * dependent; the per-cell table is exact and the caller can fold it
    * in one ordered pass.
    *
    * Parity: dow = epoch-day mod 7 (pure integer, timezone-free);
    * marginals are exact longs promoted to double before the one product
    * that could overflow a long at 100 TB; e and the contribution are
    * pinned chains.
    *
    * Scale shape: ONE aggregation to the |types|×7 cell frame; marginals
    * and N are broadcast rollups OF THAT FRAME — the fact table is read
    * once. */
  def qChisq(s: SparkSession, dir: String): DataFrame = {
    val cells = ev(s, dir)
      .select(col("event_type"), expr(s"(ts_us div $UsPerDay) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("n"))
      .cache()
    val rt = cells.groupBy(col("event_type")).agg(sum(col("n")).as("rt"))
    val ct = cells.groupBy(col("dow")).agg(sum(col("n")).as("ct"))
    val tot = cells.agg(sum(col("n")).as("nn"))
    val e = col("rt").cast(DoubleType) * col("ct").cast(DoubleType) /
      col("nn").cast(DoubleType)
    cells.join(broadcast(rt), "event_type").join(broadcast(ct), "dow")
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("dow"), col("n"), e.as("expected"),
        ((col("n").cast(DoubleType) - e) * (col("n").cast(DoubleType) - e) / e)
          .as("chisq_term"))
      .orderBy(col("event_type"), col("dow"))
  }

  val qChisqSql: String =
    s"""WITH cells AS (
       |  SELECT event_type, (epoch_us(ts) // $UsPerDay) % 7 AS dow, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |rt AS (SELECT event_type, SUM(n) AS rt FROM cells GROUP BY 1),
       |ct AS (SELECT dow, SUM(n) AS ct FROM cells GROUP BY 1),
       |t AS (SELECT SUM(n) AS nn FROM cells),
       |j AS (
       |  SELECT c.event_type, c.dow, c.n,
       |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE) AS expected
       |  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow), t)
       |SELECT event_type, dow, n, expected,
       |  (CAST(n AS DOUBLE) - expected) * (CAST(n AS DOUBLE) - expected) / expected AS chisq_term
       |FROM j ORDER BY event_type, dow""".stripMargin

  // ------------------------------------------------------ q_new_returning

  /** q_new_returning: the NEW-vs-RETURNING daily split — the growth
    * dashboard beside q_dau_mau's stickiness: per day, how many active
    * users are seen for the first time vs coming back, with the
    * new-user share. A user is "new" on exactly the day of their first
    * event (min epoch-day).
    *
    * Scale shape: the corpus collapses ONCE to the distinct (user, day)
    * activity frame; the per-user first day is a min over that frame
    * whose user-keyed shuffle doubles as the flag join (groupBy user_id
    * carries min(day) back via a window on the same partitioning), and
    * the day rollup runs on flagged activity rows — the fact table never
    * joins anything. */
  def qNewReturning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val activity = ev(s, dir)
      .select(col("user_id"), expr(s"ts_us div $UsPerDay").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    val flagged = activity
      .withColumn("first_day", min(col("day")).over(w))
      .withColumn("is_new", col("day") === col("first_day"))
    flagged.groupBy(col("day")).agg(
        count(lit(1)).as("n_active"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        (col("n_new").cast(DoubleType) / col("n_active").cast(DoubleType))
          .as("pct_new"))
      .orderBy(col("day"))
  }

  val qNewReturningSql: String =
    s"""WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // $UsPerDay AS day FROM events),
       |f AS (SELECT day, day = MIN(day) OVER (PARTITION BY user_id) AS is_new FROM a)
       |SELECT day, COUNT(*) AS n_active,
       |  CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |  CAST(COUNT(*) - SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
       |  CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pct_new
       |FROM f GROUP BY day ORDER BY day""".stripMargin

  // ------------------------------------------------------------- q_skyline

  private val SkyBands = 16

  /** q_skyline: the SKYLINE (Pareto-front) query — "parts no other part
    * beats on BOTH price and demand": part B is dominated iff some A has
    * price ≤ B's and demand ≥ B's, strictly better in one. The classic
    * multi-criteria shortlist (cheapest-for-the-demand frontier) and a
    * textbook OLAP research operator.
    *
    * Distributed without a global sort via the q_pareto BANDED PREFIX
    * trick: integer micro-prices map to 16 equal-width bands (monotone
    * in price), the cross-band "best demand among strictly cheaper
    * bands" prefixes over the 16-row band frame, and the within-band
    * "best among strictly cheaper" is ONE window PARTITIONED BY BAND
    * with a RANGE frame ending 1 micro-unit before the current price —
    * the tie-aware strict inequality, no self-exclusion hacks. A part is
    * dominated iff that running best ≥ its demand, OR a same-price peer
    * (RANGE 0..0 frame on the same window sort) has strictly more.
    *
    * Everything is exact integers (micro-price, decimal-summed demand
    * in units of 10⁻⁶); the oracle replays the same two frames over the
    * flat global price order — band order ≡ global order, so the
    * results are value-identical. */
  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d18 = DecimalType(18, 6)
    val parts = Tables.part(s, dir)
      .select(col("p_partkey"),
        (col("p_retailprice").cast(d18) * lit(1000000L)).cast("long").as("price_i"))
    val demand = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity").cast(d18)) * lit(1000000L)).cast("long").as("qty_i"))
    val pts = parts.join(demand, col("p_partkey") === col("l_partkey"))
      .select(col("p_partkey"), col("price_i"), col("qty_i"))
    val bounds = pts.agg(min(col("price_i")).as("lo"), max(col("price_i")).as("hi"))
    val banded = pts.crossJoin(broadcast(bounds))
      .withColumn("band", expr(s"((price_i - lo) * $SkyBands) div (hi - lo + 1)"))
      .cache()
    val bandMax = banded.groupBy(col("band")).agg(max(col("qty_i")).as("bm"))
    val wPfx = Window.orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)
    val prefix = bandMax.withColumn("pfx", max(col("bm")).over(wPfx)) // ≤16 rows
    val wCheaper = Window.partitionBy(col("band")).orderBy(col("price_i"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wPeers = Window.partitionBy(col("band")).orderBy(col("price_i"))
      .rangeBetween(0, 0)
    banded.join(broadcast(prefix.select(col("band"), col("pfx"))), Seq("band"))
      .withColumn("best_cheaper",
        greatest(coalesce(max(col("qty_i")).over(wCheaper), lit(Long.MinValue)),
          coalesce(col("pfx"), lit(Long.MinValue))))
      .withColumn("peer_best", max(col("qty_i")).over(wPeers))
      .filter(col("best_cheaper") < col("qty_i") && col("peer_best") === col("qty_i"))
      .select(col("p_partkey"),
        (col("price_i").cast(DoubleType) / lit(1000000.0)).as("price"),
        (col("qty_i").cast(DoubleType) / lit(1000000.0)).as("demand"))
      .orderBy(col("price"), col("p_partkey"))
  }

  val qSkylineSql: String =
    """WITH pts AS (
      |  SELECT p_partkey,
      |    CAST(CAST(p_retailprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS price_i,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS qty_i
      |  FROM part JOIN lineitem ON l_partkey = p_partkey
      |  GROUP BY p_partkey, p_retailprice),
      |f AS (
      |  SELECT p_partkey, price_i, qty_i,
      |    COALESCE(MAX(qty_i) OVER (ORDER BY price_i
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808) AS best_cheaper,
      |    MAX(qty_i) OVER (ORDER BY price_i
      |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS peer_best
      |  FROM pts)
      |SELECT p_partkey, CAST(price_i AS DOUBLE) / 1000000.0 AS price,
      |  CAST(qty_i AS DOUBLE) / 1000000.0 AS demand
      |FROM f WHERE best_cheaper < qty_i AND peer_best = qty_i
      |ORDER BY price, p_partkey""".stripMargin

  // --------------------------------------------------------- q_funnel_time

  /** q_funnel_time: TIME-TO-CONVERT distribution — the "how long from
    * signup to first purchase" question behind activation dashboards
    * (q_funnel counts WHO converts; this measures HOW FAST): per user the
    * lag from first signup to the first purchase AT OR AFTER it,
    * bucketed by whole days, with per-bucket user counts and exact
    * min/max lag seconds. Users who never purchase after signing up are
    * reported in the -1 bucket — silently dropping them would overstate
    * activation.
    *
    * Scale shape: ONE user-keyed shuffle carries the signup-min window
    * AND the conversion aggregation (supersets of user_id reuse the
    * partitioning); the day rollup runs on |users| rows. All integer
    * microseconds. */
  def qFunnelTime(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val lags = ev(s, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .withColumn("signup_us",
        min(when(col("event_type") === "signup", col("ts_us"))).over(w))
      .filter(col("signup_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "purchase" &&
          col("ts_us") >= col("signup_us"),
          col("ts_us") - col("signup_us"))).as("lag_us"))
    lags.select(
        when(col("lag_us").isNull, lit(-1L))
          .otherwise(expr(s"lag_us div $UsPerDay")).as("lag_days"),
        col("lag_us"))
      .groupBy(col("lag_days"))
      .agg(count(lit(1)).as("n_users"),
        min(expr("lag_us div 1000000")).as("min_lag_s"),
        max(expr("lag_us div 1000000")).as("max_lag_s"))
      .orderBy(col("lag_days"))
  }

  val qFunnelTimeSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
       |  WHERE event_type IN ('signup', 'purchase')),
       |su AS (SELECT user_id, MIN(us) AS signup_us FROM e WHERE event_type = 'signup' GROUP BY 1),
       |lags AS (
       |  SELECT su.user_id,
       |    MIN(CASE WHEN e.event_type = 'purchase' AND e.us >= su.signup_us
       |             THEN e.us - su.signup_us END) AS lag_us
       |  FROM su JOIN e ON e.user_id = su.user_id
       |  GROUP BY su.user_id)
       |SELECT CASE WHEN lag_us IS NULL THEN -1 ELSE lag_us // $UsPerDay END AS lag_days,
       |  COUNT(*) AS n_users, MIN(lag_us // 1000000) AS min_lag_s,
       |  MAX(lag_us // 1000000) AS max_lag_s
       |FROM lags GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ q_weighted_median

  /** q_weighted_median: WEIGHTED MEDIAN per group — the BI percentile the
    * plain median misses ("the price at which half the QUANTITY sold",
    * not half the line items): lower weighted median = the smallest
    * price whose cumulative quantity reaches half the group's total.
    * Everything is exact integers (micro-prices, micro-quantities); the
    * crossing test 2·cum ≥ total never divides; equal prices share the
    * crossing value whatever their internal order, so the tiebreak
    * cannot leak into the answer.
    *
    * Scale shape (the r13 window-lint catch): the raw fact first
    * COLLAPSES to per-(flag, price) weight sums — a map-side-partial
    * groupBy, and the collapse that makes the cumulative frame
    * tie-free — then the cumulative quantity is a DISTRIBUTED banded
    * prefix (BandedRank.withPrefixSums: within-band running sums
    * PARTITION BY (flag, band), cross-band offsets on the ≤|flags|·bands
    * band frame), replacing the flat per-flag cumulative window that
    * sorted every line item through one reducer per flag. Group totals
    * broadcast back from a ≤|flags|-row aggregate. */
  def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val d18 = DecimalType(18, 6)
    val collapsed = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"),
        (col("l_extendedprice").cast(d18) * lit(1000000L)).cast("long").as("price_i"),
        (col("l_quantity").cast(d18) * lit(1000000L)).cast("long").as("w"))
      .groupBy(col("flag"), col("price_i"))
      .agg(sum(col("w")).as("w"))
      .cpEager // consumed 3x by INDEPENDENT stages (banded prefix bounds/bands
      // + totals) — lazy would recompute the price collapse per stage
    val cum = graft.operators.BandedRank.withPrefixSums(
      collapsed, Seq("flag"), "price_i", Seq("w" -> "cum"))
    val tot = collapsed.groupBy(col("flag")).agg(sum(col("w")).as("tot"))
    cum.join(broadcast(tot), "flag")
      .groupBy(col("flag"))
      .agg(max(col("tot")).as("total_w"),
        min(when(col("cum") * 2 >= col("tot"), col("price_i"))).as("wm_i"))
      .select(col("flag"), col("total_w"),
        (col("wm_i").cast(DoubleType) / lit(1000000.0)).as("weighted_median_price"))
      .orderBy(col("flag"))
  }

  val qWeightedMedianSql: String =
    """WITH rows_ AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS price_i,
      |    CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS w,
      |    l_orderkey AS okey, l_linenumber AS ln
      |  FROM lineitem),
      |c AS (
      |  SELECT flag, price_i, w,
      |    SUM(w) OVER (PARTITION BY flag ORDER BY price_i, okey, ln
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(w) OVER (PARTITION BY flag) AS tot
      |  FROM rows_)
      |SELECT flag, CAST(MAX(tot) AS BIGINT) AS total_w,
      |  CAST(MIN(CASE WHEN cum * 2 >= tot THEN price_i END) AS DOUBLE) / 1000000.0 AS weighted_median_price
      |FROM c GROUP BY flag ORDER BY flag""".stripMargin

  // --------------------------------------------------------- q_degree_dist

  /** q_degree_dist: DEGREE DISTRIBUTION of the co-purchase graph — the
    * first graph-observability number (hub detection, the input to
    * q_triangles' hub pre-filter knob and the LSH bucket caps): distinct
    * a<b part pairs sharing an order form the edge set, per-vertex
    * degree counts both directions, and the spectrum buckets by exact
    * binary magnitude (t_zipf's length(bin(d))−1 — never a float log2).
    *
    * Scale shape (r15 opt): ONE scan — per-order sorted part sets expand
    * to a<b pairs in-task (fan-out bounded by order size, the q_triangles
    * wedge bound) instead of the old self-join, and both endpoints of an
    * edge explode in one pass instead of the old `edges.u UNION ALL
    * edges.v`, whose two branches each re-ran the join+distinct subtree
    * (the guide §7.2 duplicated-subtree trap — the plan carried TWO
    * BroadcastHashJoins and TWO distinct exchanges for one edge set).
    * 5 exchanges + double compute → 3 map-side-partial aggregations;
    * identical edge set (sorted-set i<j expansion ≡ a.p < b.p on the
    * distinct parts of an order), then ≤64 output rows. */
  def qDegreeDist(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val edges = li.groupBy(col("o")).agg(array_sort(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps) - i - 1), y -> struct(x AS u, y AS v))))"))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).distinct()
    val deg = edges.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    deg.select((length(bin(col("d"))) - 1).cast("long").as("d_bucket"))
      .groupBy(col("d_bucket")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("d_bucket"))
  }

  val qDegreeDistSql: String =
    """WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      |deg AS (
      |  SELECT x, COUNT(*) AS d FROM (
      |    SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY x)
      |SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS d_bucket, COUNT(*) AS n_vertices
      |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ q_bool_agg

  /** q_bool_agg: the BOOLEAN-AGGREGATE surface (every / any / count_if) —
    * the data-quality predicates a contract check compiles to ("ALL rows
    * priced", "ANY urgent order", "how many high-value"). Null semantics
    * are the trap this gate pins: every() over a mix of TRUE and NULL is
    * NULL-tolerant in both engines only when the predicate coalesces —
    * here all predicates are total, so the parity is on the aggregates
    * themselves. One map-side-partial aggregation to |priorities| rows. */
  def qBoolAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        every(col("o_totalprice") > 1000.0).as("all_over_1k"),
        some(col("o_orderstatus") === "F").as("any_finished"),
        count_if(col("o_totalprice") > 300000.0).as("n_high_value"))
      .orderBy(col("o_orderpriority"))

  val qBoolAggSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
      |  bool_or(o_orderstatus = 'F') AS any_finished,
      |  COUNT(*) FILTER (WHERE o_totalprice > 300000.0) AS n_high_value
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q_gini

  private val GiniBands = 16

  /** q_gini: the GINI COEFFICIENT of customer revenue — the
    * inequality/concentration scalar beside q_pareto's ABC bands (and
    * q_hhi's supplier-side HHI): G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx)
    * over ascending revenue ranks. The GLOBAL RANK is computed with the
    * q_pareto DISTRIBUTED PREFIX: 16 price bands (monotone in revenue),
    * per-band counts prefix over the 16-row frame, within-band
    * row_number partitioned BY BAND — no single-partition sort at any
    * corpus size; band-asc-then-within order ≡ the global (rev, custkey)
    * order, so the banded rank equals the oracle's flat row_number
    * exactly. Σ rank·x runs in DECIMAL(38,0); ONE pinned division.
    */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d18 = DecimalType(18, 6); val d38 = DecimalType(38, 0)
    val rev = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(d18)).as("rev"))
      .select(col("o_custkey"), (col("rev") * lit(1000000L)).cast("long").as("rev_i"))
    val bounds = rev.agg(min(col("rev_i")).as("lo"), max(col("rev_i")).as("hi"))
    val banded = rev.crossJoin(broadcast(bounds))
      .withColumn("band", expr(s"((rev_i - lo) * $GiniBands) div (hi - lo + 1)"))
      .cache()
    val counts = banded.groupBy(col("band")).agg(count(lit(1)).as("bn"))
    val wPfx = Window.orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.withColumn("off",
      coalesce(sum(col("bn")).over(wPfx), lit(0L))) // ≤16 rows
    val wIn = Window.partitionBy(col("band")).orderBy(col("rev_i"), col("o_custkey"))
    val ranked = banded
      .join(broadcast(offsets.select(col("band"), col("off"))), Seq("band"))
      .withColumn("rank", col("off") + row_number().over(wIn))
    ranked.agg(
        count(lit(1)).as("n_customers"),
        sum(col("rev_i").cast(d38)).as("sx"),
        // cast BEFORE the product: rank·rev_i would overflow a long near
        // 10^7 customers × 10^12 micro-revenue
        sum((col("rank").cast(DecimalType(19, 0)) *
          col("rev_i").cast(DecimalType(19, 0))).cast(d38)).as("srx"))
      .select(col("n_customers"),
        (col("sx").cast(DoubleType) / lit(1000000.0)).as("total_revenue"),
        ((lit(2.0) * col("srx").cast(DoubleType) -
          (col("n_customers") + lit(1)).cast(DoubleType) * col("sx").cast(DoubleType)) /
          (col("n_customers").cast(DoubleType) * col("sx").cast(DoubleType))).as("gini"))
  }

  val qGiniSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_i
      |  FROM orders GROUP BY o_custkey),
      |r AS (
      |  SELECT rev_i,
      |    row_number() OVER (ORDER BY rev_i, o_custkey) AS rank
      |  FROM rev),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(CAST(rev_i AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(CAST(rank AS DECIMAL(19,0)) * CAST(rev_i AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS srx
      |  FROM r)
      |-- srx passes 2^64 (rank*rev sums) — varchar-route the casts
      |-- (SURVEY §6 r14 rule: DuckDB's int128->double misrounds above 2^64)
      |SELECT n AS n_customers, CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 1000000.0 AS total_revenue,
      |  (2.0 * CAST(CAST(srx AS VARCHAR) AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS gini
      |FROM m""".stripMargin

  // ------------------------------------------------------------ q_apportion

  private val ApportionSlots = 1000L

  /** q_apportion: LARGEST-REMAINDER APPORTIONMENT (Hamilton's method) —
    * the exact-k quota allocator behind stratified sampling budgets,
    * eval-set construction and shard assignment ("split exactly 1000
    * sample slots across nations proportionally to customer count"):
    * base quota = floor(N·c_i / C), then the N − Σfloor leftover slots
    * go to the largest remainders (N·c_i mod C, ties → nation asc). The
    * entire method is integer arithmetic — no float share ever rounds —
    * and Σ final quotas ≡ N by construction, the invariant naive
    * per-group rounding violates.
    *
    * Scale shape: one customer aggregation to the |nations|-row frame;
    * ranking remainders is a window on that bounded frame; 1-row total
    * broadcast. */
  def qApportion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation")).agg(count(lit(1)).as("c"))
    val base = counts.crossJoin(broadcast(counts.agg(sum(col("c")).as("ctot"))))
      .withColumn("base_quota", expr(s"($ApportionSlots * c) div ctot"))
      .withColumn("rem", expr(s"($ApportionSlots * c) % ctot"))
    val extraTotal = base.agg((lit(ApportionSlots) - sum(col("base_quota"))).as("extra"))
    val wRem = Window.orderBy(col("rem").desc, col("nation"))
    base.crossJoin(broadcast(extraTotal))
      .withColumn("rrank", row_number().over(wRem)) // |nations|-row frame
      .withColumn("extra", when(col("rrank") <= col("extra"), 1L).otherwise(0L))
      .select(col("nation"), col("c").as("n_customers"),
        col("base_quota"), col("extra"),
        (col("base_quota") + col("extra")).as("final_quota"))
      .orderBy(col("nation"))
  }

  val qApportionSql: String =
    s"""WITH counts AS (
       |  SELECT n_name AS nation, COUNT(*) AS c
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name),
       |tot AS (SELECT SUM(c) AS ctot FROM counts),
       |base AS (
       |  SELECT nation, c, CAST(($ApportionSlots * c) // ctot AS BIGINT) AS base_quota,
       |    ($ApportionSlots * c) % ctot AS rem
       |  FROM counts, tot),
       |ex AS (SELECT $ApportionSlots - SUM(base_quota) AS extra FROM base),
       |r AS (
       |  SELECT nation, c, base_quota,
       |    row_number() OVER (ORDER BY rem DESC, nation) AS rrank
       |  FROM base)
       |SELECT nation, c AS n_customers, base_quota,
       |  CAST(CASE WHEN rrank <= ex.extra THEN 1 ELSE 0 END AS BIGINT) AS extra,
       |  base_quota + CAST(CASE WHEN rrank <= ex.extra THEN 1 ELSE 0 END AS BIGINT) AS final_quota
       |FROM r, ex ORDER BY nation""".stripMargin

  // ---------------------------------------------------------- q_growth_acct

  /** q_growth_acct: GROWTH ACCOUNTING — the canonical DAU decomposition
    * (new + retained + resurrected = today's actives; churned = yesterday's
    * actives who didn't return) that every growth team reads before the
    * topline: per user-day, classify against the previous active day
    * (first day → new; prev = day−1 → retained; prev < day−1 →
    * resurrected), roll up per day, and derive churn from the previous
    * day's actives minus today's retained — the identity that makes the
    * four series internally consistent (naive independent counts drift).
    *
    * Scale shape: ONE user-keyed window over the collapsed (user, day)
    * activity frame classifies everything; the day rollup and the
    * |days|-row lag window are bounded. */
  def qGrowthAcct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val activity = ev(s, dir)
      .select(col("user_id"), expr(s"ts_us div $UsPerDay").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val classified = activity
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("cls",
        when(col("prev").isNull, lit("new"))
          .when(col("prev") === col("day") - 1, lit("retained"))
          .otherwise(lit("resurrected")))
    val daily = classified.groupBy(col("day")).agg(
      count(lit(1)).as("n_active"),
      sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("cls") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val wDay = Window.orderBy(col("day")) // |days|-row frame
    daily.withColumn("prev_active", lag(col("n_active"), 1).over(wDay))
      .withColumn("n_churned",
        when(col("prev_active").isNotNull, col("prev_active") - col("n_retained")))
      .drop("prev_active")
      .orderBy(col("day"))
  }

  val qGrowthAcctSql: String =
    s"""WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // $UsPerDay AS day FROM events),
       |c AS (
       |  SELECT day,
       |    CASE WHEN lag(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL THEN 'new'
       |         WHEN lag(day) OVER (PARTITION BY user_id ORDER BY day) = day - 1 THEN 'retained'
       |         ELSE 'resurrected' END AS cls
       |  FROM a),
       |d AS (
       |  SELECT day, COUNT(*) AS n_active,
       |    CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       |    CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
       |  FROM c GROUP BY day)
       |SELECT day, n_active, n_new, n_retained, n_resurrected,
       |  lag(n_active) OVER (ORDER BY day) - n_retained AS n_churned
       |FROM d ORDER BY day""".stripMargin

  // ------------------------------------------------------------ q_punchcard

  /** q_punchcard: the DOW × HOUR activity heatmap (the "punchcard" every
    * product dashboard ships — when is the audience awake): counts per
    * (epoch-day mod 7, hour-of-day) cell with the share of total, all
    * timezone-free integer bucketing. ONE map-side-partial aggregation
    * to ≤168 rows + a 1-row total broadcast. */
  def qPunchcard(s: SparkSession, dir: String): DataFrame = {
    val cells = ev(s, dir)
      .select(expr(s"(ts_us div $UsPerDay) % 7").as("dow"),
        expr("(ts_us div 3600000000) % 24").as("hod"))
      .groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("nn"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hod"), col("n"),
        (col("n").cast(DoubleType) / col("nn").cast(DoubleType)).as("share"))
      .orderBy(col("dow"), col("hod"))
  }

  val qPunchcardSql: String =
    s"""WITH cells AS (
       |  SELECT (epoch_us(ts) // $UsPerDay) % 7 AS dow,
       |    (epoch_us(ts) // 3600000000) % 24 AS hod, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |t AS (SELECT SUM(n) AS nn FROM cells)
       |SELECT dow, hod, n,
       |  CAST(CAST(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS share
       |FROM cells, t ORDER BY dow, hod""".stripMargin

  // --------------------------------------------------------------- q_movers

  /** q_movers: TOP MOVERS — the "biggest month-over-month changes"
    * dashboard tile beside q_mom_yoy's full series: per (priority,
    * month) decimal-exact revenue, MoM delta via ONE lag window on the
    * bounded aggregate frame, top-10 by absolute delta as
    * TakeOrderedAndProject (never a global window sort). Delta stays an
    * exact decimal; only the output casts. */
  def qMovers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d18 = DecimalType(18, 6)
    val monthly = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        expr("date_format(CAST(o_orderdate AS TIMESTAMP), 'yyyy-MM')").as("month"))
      .agg(sum(col("o_totalprice").cast(d18)).as("rev"))
    val w = Window.partitionBy(col("priority")).orderBy(col("month"))
    monthly.withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("delta", (col("rev") - col("prev")).cast(DecimalType(19, 6)))
      .select(col("priority"), col("month"),
        col("rev").cast(DoubleType).as("revenue"),
        col("delta").cast(DoubleType).as("delta"))
      .orderBy(abs(col("delta")).desc, col("priority"), col("month"))
      .limit(10)
  }

  val qMoversSql: String =
    """WITH m AS (
      |  SELECT o_orderpriority AS priority,
      |    strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      |  FROM orders GROUP BY 1, 2),
      |d AS (
      |  SELECT priority, month, rev,
      |    CAST(rev - lag(rev) OVER (PARTITION BY priority ORDER BY month) AS DECIMAL(19,6)) AS delta
      |  FROM m)
      |SELECT priority, month, CAST(rev AS DOUBLE) AS revenue, CAST(delta AS DOUBLE) AS delta
      |FROM d WHERE delta IS NOT NULL
      |ORDER BY abs(delta) DESC, priority, month LIMIT 10""".stripMargin

  // ------------------------------------------------------------ q_trailing7

  /** q_trailing7: TRAILING 7-DAY revenue per day — the smoothing window
    * every revenue dashboard defaults to (daily noise out, weekly
    * seasonality in): the corpus collapses ONCE to the |days|-row daily
    * frame, then the trailing sum and day count ride a RANGE 6-PRECEDING
    * frame on exact day keys — missing days correctly shrink the window
    * (a ROWS frame would silently reach further back). Decimal-exact
    * sums; the daily average is one pinned division.
    *
    * Scale shape: one fact aggregation (map-side partial); everything
    * after runs on the bounded day frame. */
  def qTrailing7(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d18 = DecimalType(18, 6)
    val daily = Tables.orders(s, dir)
      .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $UsPerDay").as("day"))
      .agg(sum(col("o_totalprice").cast(d18)).as("rev"), count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
    daily
      .withColumn("rev7", sum(col("rev")).over(w).cast(DecimalType(38, 6)))
      .withColumn("days_in_window", count(lit(1)).over(w))
      .select(col("day"), col("n_orders"),
        col("rev").cast(DoubleType).as("revenue"),
        col("rev7").cast(DoubleType).as("revenue_7d"),
        col("days_in_window"),
        (col("rev7").cast(DoubleType) / col("days_in_window").cast(DoubleType))
          .as("daily_avg_7d"))
      .orderBy(col("day"))
  }

  val qTrailing7Sql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $UsPerDay AS day,
       |    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev, COUNT(*) AS n_orders
       |  FROM orders GROUP BY 1),
       |t AS (
       |  SELECT day, n_orders, rev,
       |    CAST(SUM(rev) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DECIMAL(38,6)) AS rev7,
       |    COUNT(*) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS days_in_window
       |  FROM daily)
       |SELECT day, n_orders, CAST(rev AS DOUBLE) AS revenue,
       |  CAST(rev7 AS DOUBLE) AS revenue_7d, days_in_window,
       |  CAST(rev7 AS DOUBLE) / CAST(days_in_window AS DOUBLE) AS daily_avg_7d
       |FROM t ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q_ab_srm

  /** q_ab_srm: SAMPLE-RATIO MISMATCH — the A/B-test validity guard that
    * must pass BEFORE q_abtest's effect readout means anything (a lost
    * logging path or crashing variant silently skews the split, and
    * every downstream metric with it): users hash-split 50/50, a
    * logging-loss bug PLANTED on one arm (variant-1 users at
    * user_id % 3 == 0 vanish — a third of the arm, detectable from
    * sf0.01 up), and the 1-dof
    * chi-square of observed counts vs the expected equal split flags at
    * the 95 % critical value 3.841. Exact integer counts; E and the
    * statistic are pinned chains.
    *
    * Scale shape: one user-distinct aggregation to 2 counts; everything
    * after is scalar arithmetic on one row. */
  def qAbSrm(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
      .filter(!(col("variant") === 1 && col("user_id") % 3 === 0)) // the planted bug
    val wide = users.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
    val e = (col("n0") + col("n1")).cast(DoubleType) / lit(2.0)
    wide.select(col("n0"), col("n1"), e.as("expected_each"),
        ((col("n0").cast(DoubleType) - e) * (col("n0").cast(DoubleType) - e) / e +
          (col("n1").cast(DoubleType) - e) * (col("n1").cast(DoubleType) - e) / e)
          .as("chisq"))
      .withColumn("srm_detected", col("chisq") > lit(3.841))
  }

  val qAbSrmSql: String =
    """WITH u AS (
      |  SELECT DISTINCT user_id,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant
      |  FROM events),
      |k AS (
      |  SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM u WHERE NOT (variant = 1 AND user_id % 3 = 0)),
      |m AS (
      |  SELECT n0, n1,
      |    CAST(n0 + n1 AS DOUBLE) / 2.0 AS e
      |  FROM k)
      |SELECT n0, n1, e AS expected_each,
      |  (CAST(n0 AS DOUBLE) - e) * (CAST(n0 AS DOUBLE) - e) / e
      |    + (CAST(n1 AS DOUBLE) - e) * (CAST(n1 AS DOUBLE) - e) / e AS chisq,
      |  (CAST(n0 AS DOUBLE) - e) * (CAST(n0 AS DOUBLE) - e) / e
      |    + (CAST(n1 AS DOUBLE) - e) * (CAST(n1 AS DOUBLE) - e) / e > 3.841 AS srm_detected
      |FROM m""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_ab_srm", qAbSrm _, qAbSrmSql),
    Gate("q_trailing7", qTrailing7 _, qTrailing7Sql),
    Gate("q_movers", qMovers _, qMoversSql),
    Gate("q_growth_acct", qGrowthAcct _, qGrowthAcctSql),
    Gate("q_punchcard", qPunchcard _, qPunchcardSql),
    Gate("q_apportion", qApportion _, qApportionSql),
    Gate("q_gini", qGini _, qGiniSql),
    Gate("q_weighted_median", qWeightedMedian _, qWeightedMedianSql),
    Gate("q_degree_dist", qDegreeDist _, qDegreeDistSql),
    Gate("q_bool_agg", qBoolAgg _, qBoolAggSql),
    Gate("q_benford", qBenford _, qBenfordSql),
    Gate("q_hhi", qHhi _, qHhiSql),
    Gate("q_chisq", qChisq _, qChisqSql),
    Gate("q_new_returning", qNewReturning _, qNewReturningSql),
    Gate("q_skyline", qSkyline _, qSkylineSql),
    Gate("q_funnel_time", qFunnelTime _, qFunnelTimeSql),
  )
}
