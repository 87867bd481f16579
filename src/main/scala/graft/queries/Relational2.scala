package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.Tables
import graft.functions.OracleParity.xsum

/** Second wave of relational coverage (SURVEY.md §2A continued): outer
  * joins with null semantics, correlated-subquery shapes, string/date
  * function surface, nation-pair volume (TPC-H Q7 shape), and event
  * funnels. */
object Relational2 {

  private def ts(s: String) = lit(s).cast(TimestampNTZType)

  /** q_outer_join: LEFT join keeps order-less customers with zero counts. */
  def qOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir).filter(col("o_totalprice") > 250000.0)
    Tables.customer(s, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_big_orders"),
        xsum(coalesce(col("o_totalprice"), lit(0.0))).as("big_total"))
      .orderBy(col("c_custkey"))
  }

  val qOuterJoinSql: String =
    """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_big_orders,
      |  CAST(SUM(CAST(coalesce(o_totalprice, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS big_total
      |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 250000.0) o
      |  ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** q7_nation_volume: revenue flow between nation pairs (TPC-H Q7 shape;
    * both nation dims broadcast, fact shuffles once). */
  def q7(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(s, dir).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir).select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") && col("l_shipdate") < ts("1999-01-01 00:00:00"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter(col("supp_nation") < col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INT) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem, orders, customer, supplier, nation n1, nation n2
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
      |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      |  AND n1.n_name < n2.n_name
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q_corr_subquery: orders priced above their priority class average —
    * the correlated-subquery shape, decorrelated Spark-side into a 5-row
    * aggregate broadcast back onto the table. A window on the 5-value class
    * key would funnel every row through 5 reducers; this way the table
    * never shuffles at all (partial aggregation collapses map-side, the
    * tiny average table broadcasts). */
  def qCorrSubquery(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val classAvg = ord.groupBy(col("o_orderpriority"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")).cast("double") /
        count(lit(1)).cast("double")).as("class_avg"))
    ord.join(broadcast(classAvg), "o_orderpriority")
      .filter(col("o_totalprice") > col("class_avg") * 2.0)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val qCorrSubquerySql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
      |      / CAST(COUNT(*) OVER w AS DOUBLE) AS class_avg
      |  FROM orders WINDOW w AS (PARTITION BY o_orderpriority))
      |WHERE o_totalprice > class_avg * 2.0 ORDER BY o_orderkey""".stripMargin

  /** q_string_funcs: LIKE / substring / upper / length surface. */
  def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_name").like("%re%"))
      .groupBy(substring(col("p_brand"), 1, 6).as("brand_prefix"),
        upper(col("p_type")).as("type_upper"))
      .agg(count(lit(1)).as("n"),
        max(length(col("p_name"))).as("max_name_len"))
      .orderBy(col("brand_prefix"), col("type_upper"))

  val qStringFuncsSql: String =
    """SELECT substring(p_brand, 1, 6) AS brand_prefix, upper(p_type) AS type_upper,
      |  COUNT(*) AS n, MAX(length(p_name)) AS max_name_len
      |FROM part WHERE p_name LIKE '%re%'
      |GROUP BY 1, 2 ORDER BY brand_prefix, type_upper""".stripMargin

  /** q_date_funcs: calendar breakdown via year/month/quarter extraction. */
  def qDateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("o_year"),
        quarter(col("o_orderdate")).as("o_quarter"))
      .agg(count(lit(1)).as("n_orders"),
        xsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_year"), col("o_quarter"))

  val qDateFuncsSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year, CAST(quarter(o_orderdate) AS INT) AS o_quarter,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_quarter""".stripMargin

  /** q_funnel: signup→purchase conversion per user cohort (first signup
    * hour-bucket), classic event funnel in one pass. */
  def qFunnel(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts_us"))).as("first_signup_us"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("first_purchase_us"))
      .filter(col("first_signup_us").isNotNull)
      .select(col("user_id"), col("first_signup_us"),
        (col("first_purchase_us").isNotNull &&
          col("first_purchase_us") > col("first_signup_us")).as("converted"))
      .orderBy(col("user_id"))

  val qFunnelSql: String =
    """SELECT user_id, first_signup_us,
      |  (first_purchase_us IS NOT NULL AND first_purchase_us > first_signup_us) AS converted
      |FROM (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS first_signup_us,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
      |  FROM events GROUP BY user_id)
      |WHERE first_signup_us IS NOT NULL ORDER BY user_id""".stripMargin

  /** q_quantiles: exact percentiles per group (linear interpolation — same
    * formula both engines). At 100 TB you'd reach for approx_percentile;
    * the exact form is the oracle-checkable baseline. */
  def qQuantiles(s: SparkSession, dir: String): DataFrame =
    // r16 opt (guide §4): the three l_quantity percentiles share ONE
    // array-percentile buffer instead of three separate value-count maps —
    // identical values (same getPercentiles over the same buffer, one
    // formula application per percentage; 1.09 -> 1.03 s at sf0.1). The
    // price map stays per-row: collapsing to (value, count) + the
    // frequency argument was measured SLOWER for the near-distinct price
    // column (583k distinct of 600k rows; 0.69 -> 0.79 s) — that rewrite
    // only pays on low-cardinality columns.
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("eq"),
        expr("percentile(l_extendedprice, 0.9)").as("price_q90"))
      .select(col("l_returnflag"),
        expr("get(eq, 0)").as("q25"), expr("get(eq, 1)").as("q50"),
        expr("get(eq, 2)").as("q75"), col("price_q90"))
      .orderBy(col("l_returnflag"))

  val qQuantilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS q25,
      |  quantile_cont(l_quantity, 0.5) AS q50,
      |  quantile_cont(l_quantity, 0.75) AS q75,
      |  quantile_cont(l_extendedprice, 0.9) AS price_q90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q_approx_quantiles: the 100 TB percentile path — percentile_approx
    * (GK-style mergeable sketch, one pass, bounded memory) where
    * q_quantiles' exact form needs the full per-group sort. The estimate
    * itself has no SQL oracle, so the gate row hashes the DETERMINISTIC
    * part (same pattern as q_approx_distinct): exact percentiles plus
    * in-query booleans asserting each sketch value lands inside the exact
    * ±0.02-rank window — 200× the guaranteed rank error (accuracy=10000 →
    * ε ≤ N/10000), so the bit is deterministic; a drifting sketch flips it
    * and fails the hash. The tight 1%-relative bound at sf0.1 lives in
    * DedupSimilaritySpec. */
  def qApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_quantity, array(0.25, 0.5, 0.75), 10000)").as("aq"),
        expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("ap90"),
        expr("percentile(l_quantity, array(0.23, 0.25, 0.27, 0.48, 0.5, 0.52, 0.73, 0.75, 0.77))").as("eq"),
        expr("percentile(l_extendedprice, array(0.88, 0.9, 0.92))").as("ep"))
      .select(col("l_returnflag"),
        expr("get(eq, 1)").as("q25"),
        expr("get(eq, 4)").as("q50"),
        expr("get(eq, 7)").as("q75"),
        expr("get(ep, 1)").as("price_q90"),
        expr("get(aq, 0) BETWEEN get(eq, 0) AND get(eq, 2)").as("q25_est_ok"),
        expr("get(aq, 1) BETWEEN get(eq, 3) AND get(eq, 5)").as("q50_est_ok"),
        expr("get(aq, 2) BETWEEN get(eq, 6) AND get(eq, 8)").as("q75_est_ok"),
        expr("ap90 BETWEEN get(ep, 0) AND get(ep, 2)").as("price_q90_est_ok"))
      .orderBy(col("l_returnflag"))

  val qApproxQuantilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS q25,
      |  quantile_cont(l_quantity, 0.5) AS q50,
      |  quantile_cont(l_quantity, 0.75) AS q75,
      |  quantile_cont(l_extendedprice, 0.9) AS price_q90,
      |  TRUE AS q25_est_ok, TRUE AS q50_est_ok, TRUE AS q75_est_ok,
      |  TRUE AS price_q90_est_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q_corr: per-group Pearson correlation from decimal-exact moments —
    * the bivariate-statistics surface (Spark's corr() sums doubles in
    * partition order, so its last ulps wobble across cluster sizes; this
    * form is the OracleParity convention applied to five moments, exactly
    * reproducible anywhere). One aggregation shuffle; the correlation
    * itself derives from the six scalars with a fixed IEEE expression
    * shape mirrored in the oracle, clamped like Anomaly's variance. */
  def qCorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import graft.operators.SplitSum
    val (x, y) = (col("l_quantity"), col("l_extendedprice"))
    val d18 = DecimalType(18, 6); val d24 = DecimalType(24, 6)
    // r15 opt: the five moment sums ride SplitSum (codegen long halves,
    // exact decimal reassembled post-agg) instead of per-row Decimal
    // accumulation — measured 1.95 s → 1.45 s at sf0.1, value-identical
    // (SplitSumSpec pins the identity; the per-row scale-6 rounding casts
    // are unchanged, so every emitted double is bit-equal). Worst-case
    // micro-units are the syy moment's: extendedprice ≲ 1.1·10^5 squared
    // × 10^6 ≈ 1.2·10^16 ≈ 2^54 — n·max|c| < 2^87 still allows ~10^9
    // rows/group, inside SplitSum's documented bounds.
    def micro(c: org.apache.spark.sql.Column, t: DecimalType) =
      (c.cast(t) * lit(1000000L)).cast("long")
    val moments = Seq(
      "sx" -> micro(x, d18), "sy" -> micro(y, d18),
      "sxy" -> micro(x * y, d24), "sxx" -> micro(x * x, d24),
      "syy" -> micro(y * y, d24))
    val aggs = Seq(count(lit(1)).as("n")) ++
      moments.flatMap { case (nm, c) => SplitSum.aggs(c, nm) }
    def asDouble(nm: String) =
      (SplitSum.total(nm) / lit(1000000L)).cast(DecimalType(38, 6))
        .cast(DoubleType).as(nm)
    val m = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("l_returnflag") +: col("n") +: moments.map { case (nm, _) => asDouble(nm) }: _*)
    val (n, sx, sy, sxy, sxx, syy) =
      (col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
    // the huge squared-sum moments exceed 2^64 in unscaled decimal units,
    // where DuckDB's direct int128->double conversion misrounds — the
    // oracle varchar-routes those casts (SURVEY §6 r14 rule), making both
    // engines' sums bitwise-equal doubles, so the correlation chain emits
    // RAW (the x6 pin this replaces was the boundary-flip hazard)
    m.select(col("l_returnflag"), n,
        ((n * sxy - sx * sy) /
          nullif(sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
                 sqrt(greatest(n * syy - sy * sy, lit(0.0))), lit(0.0)))
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val qCorrSql: String =
    """SELECT l_returnflag, n,
      |  (n*sxy - sx*sy) / nullif(sqrt(greatest(n*sxx - sx*sx, 0.0))
      |    * sqrt(greatest(n*syy - sy*sy, 0.0)), 0.0) AS corr_qty_price
      |FROM (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(24,6))) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_corr", qCorr _, qCorrSql),
    Gate("q_approx_quantiles", qApproxQuantiles _, qApproxQuantilesSql),
    Gate("q_quantiles", qQuantiles _, qQuantilesSql),
    Gate("q_outer_join", qOuterJoin _, qOuterJoinSql),
    Gate("q7_nation_volume", q7 _, q7Sql),
    Gate("q_corr_subquery", qCorrSubquery _, qCorrSubquerySql),
    Gate("q_string_funcs", qStringFuncs _, qStringFuncsSql),
    Gate("q_date_funcs", qDateFuncs _, qDateFuncsSql),
    Gate("q_funnel", qFunnel _, qFunnelSql),
  )
}
