package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.Tables
import graft.functions.OracleParity.xsum

/** Relational core, fourth batch (SURVEY.md §2A) — TPC-H shapes picked
  * for the OPTIMIZER features the earlier batches do not exercise:
  * correlated-condition EXISTS (Q4), bucketed conditional aggregation
  * (Q12), conditional-share arithmetic (Q14), disjunctive multi-column
  * predicate groups (Q19), and NOT IN + per-group distinct (Q16 shape).
  * Same OracleParity money conventions as [[Relational]].
  */
object Relational4 {

  private def ts(s: String): Column = lit(s).cast(TimestampNTZType)

  /** q4_order_priority (TPC-H Q4 shape): orders in a quarter having at
    * least one line shipped > 90 days after the order date, counted by
    * priority. The EXISTS is a LEFT SEMI join with a correlated non-equi
    * condition riding the orderkey equi-join — the fact side shuffles
    * once on the key and duplicates never inflate the counts. */
  def q4(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") < ts("1996-07-01 00:00:00"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q12_late_lines (TPC-H Q12 shape): lines shipped ≥ 60 days after
    * their order, bucketed per ship-year into high- vs low-priority
    * counts — BOTH aggregates ride ONE scan/shuffle as conditional
    * count(when) columns instead of two filtered passes. */
  def q12(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(year(col("l_shipdate")).as("ship_yr"))
      .agg(count(when(hi, lit(1))).as("high_line_count"),
        count(when(!hi, lit(1))).as("low_line_count"))
      .orderBy(col("ship_yr"))
  }

  val q12Sql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS ship_yr,
      |  COUNT(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
      |  COUNT(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
      |GROUP BY 1 ORDER BY ship_yr""".stripMargin

  /** q14_promo_share (TPC-H Q14 shape): PROMO parts' share of one
    * quarter's revenue — a conditional decimal sum over the total decimal
    * sum, both from ONE aggregation; the final ratio is a single IEEE
    * division of two parity-pinned doubles (the q1 avg convention). */
  def q14(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-04-01 00:00:00"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) * xsum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))) /
        xsum(rev)).as("promo_revenue_pct"))
  }

  val q14Sql: String =
    """SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
      |                                  THEN l_extendedprice * (1.0 - l_discount)
      |                                  ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
      |  AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin

  /** q19_disjunctive (TPC-H Q19 shape): revenue under three OR'd
    * (brand, size-range, quantity-range) predicate groups. Catalyst
    * extracts the common part-side conjuncts from the disjunction and
    * pushes them into BOTH scans (PlanSpec pins the pushed disjunction on
    * the part scan), so the join sees only candidate rows. */
  def q19(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) && col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 20) && col("l_quantity").between(10, 25)) ||
      (col("p_brand") === "Brand#5" && col("p_size").between(1, 30) && col("l_quantity").between(20, 35))
    li.join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  val q19Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25)
      |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 35)""".stripMargin

  /** q16_supplier_cnt (TPC-H Q16 shape): distinct suppliers able to ship
    * each (brand, size) combination, excluding two brands via NOT IN —
    * the exclusion folds into the pushed part-scan filter, and the
    * distinct count is per-group (partial aggregation handles the
    * supplier de-dup map-side within each group). */
  def q16(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
          .filter(!col("p_brand").isin("Brand#2", "Brand#4"))
          .filter(col("p_size").isin(1, 7, 14, 23, 36, 45))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))

  val q16Sql: String =
    """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand NOT IN ('Brand#2', 'Brand#4') AND p_size IN (1, 7, 14, 23, 36, 45)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin


  /** q_rfm: RFM customer segmentation — the BI workhorse behind churn and
    * value targeting: per customer Recency (days since last order vs the
    * corpus frontier, exact integer), Frequency (order count) and
    * Monetary (decimal-exact spend), each scored into quintiles against
    * exact percentile thresholds (the t_curriculum machinery: one
    * percentile aggregation broadcast as a 1-row frame, score =
    * 1 + #thresholds under the metric — recency scored INVERTED, recent
    * is better). Two aggregation passes + one broadcast.
    *
    * `approx = true` is the 100 TB path: the exact percentile (a
    * single-point-of-truth full sort of the per-customer frame) swaps for
    * the percentile_approx sketch (mergeable GK summaries, one ordinary
    * aggregation) — same plan shape, same scoring; SketchToggleSpec
    * bounds the assignment disagreement at sf0.1 (≥99% of customers get
    * identical quintiles). The gate keeps exact for the oracle. */
  def qRfm(s: SparkSession, dir: String): DataFrame = qRfm(s, dir, approx = false)

  def qRfm(s: SparkSession, dir: String, approx: Boolean): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_totalprice"),
        expr("datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01')").cast("long").as("day"))
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("f"),
        xsum(col("o_totalprice")).as("m"))
      .crossJoin(broadcast(o.agg(max(col("day")).as("frontier"))))
      .select(col("o_custkey"), (col("frontier") - col("last_day")).as("r_days"),
        col("f"), col("m"))
    val pct = if (approx) "percentile_approx" else "percentile"
    // percentile_approx wants an accuracy arg; 10000 holds rank error
    // ~1e-4 of the population — far inside a quintile's width
    val acc = if (approx) ", 10000" else ""
    val th = rfm.agg(
      expr(s"$pct(r_days, array(0.2D, 0.4D, 0.6D, 0.8D)$acc)").cast("array<double>").as("th_r"),
      expr(s"$pct(f, array(0.2D, 0.4D, 0.6D, 0.8D)$acc)").cast("array<double>").as("th_f"),
      expr(s"$pct(m, array(0.2D, 0.4D, 0.6D, 0.8D)$acc)").cast("array<double>").as("th_m"))
    def score(metric: String, th: String) =
      expr(s"1 + aggregate($th, 0, (a, t) -> a + (CASE WHEN $metric > t THEN 1 ELSE 0 END))")
    rfm.crossJoin(broadcast(th))
      .select(col("o_custkey"), col("r_days"), col("f"), col("m"),
        (lit(6) - score("r_days", "th_r")).as("r_score"), // recent = low r_days = high score
        score("f", "th_f").as("f_score"),
        score("m", "th_m").as("m_score"))
      .orderBy(col("o_custkey"))
  }

  val qRfmSql: String = {
    def score(metric: String, th: String) =
      s"""1 + (CASE WHEN $metric > $th[1] THEN 1 ELSE 0 END +
         |       CASE WHEN $metric > $th[2] THEN 1 ELSE 0 END +
         |       CASE WHEN $metric > $th[3] THEN 1 ELSE 0 END +
         |       CASE WHEN $metric > $th[4] THEN 1 ELSE 0 END)""".stripMargin.replace("\n", " ")
    s"""WITH o AS (SELECT o_custkey, o_totalprice, CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day FROM orders),
       |rfm AS (
       |  SELECT o_custkey, (SELECT MAX(day) FROM o) - MAX(day) AS r_days,
       |    COUNT(*) AS f,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS m
       |  FROM o GROUP BY o_custkey),
       |th AS (SELECT quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]) AS th_r,
       |              quantile_cont(f, [0.2, 0.4, 0.6, 0.8]) AS th_f,
       |              quantile_cont(m, [0.2, 0.4, 0.6, 0.8]) AS th_m FROM rfm)
       |SELECT o_custkey, r_days, f, m,
       |  6 - (${score("r_days", "th_r")}) AS r_score,
       |  ${score("f", "th_f")} AS f_score,
       |  ${score("m", "th_m")} AS m_score
       |FROM rfm, th ORDER BY o_custkey""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("q4_order_priority", q4 _, q4Sql),
    Gate("q12_late_lines", q12 _, q12Sql),
    Gate("q14_promo_share", q14 _, q14Sql),
    Gate("q19_disjunctive", q19 _, q19Sql),
    Gate("q16_supplier_cnt", q16 _, q16Sql),
    Gate("q_rfm", qRfm _, qRfmSql),
  )
}
