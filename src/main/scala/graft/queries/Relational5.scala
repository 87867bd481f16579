package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampNTZType}

import graft.Tables
import graft.functions.OracleParity.xsum

/** Relational core, fifth batch (SURVEY.md §2A) — the ten TPC-H shapes
  * that complete the classic 22-query suite on the reduced synthetic
  * schema (no partsupp / commitdate / phone columns, so Q2/Q11/Q20/Q21/Q22
  * are re-expressed over lineitem with the same optimizer shape):
  * correlated scalar-MIN re-join (Q2), share-of-market conditional ratio
  * over a 7-table join (Q8), multi-dim profit rollup (Q9), global scalar
  * threshold HAVING (Q11), outer-join count distribution (Q13),
  * scalar-MAX view re-join (Q15), correlated per-key average (Q17),
  * nested grouped-IN semi-join (Q20), EXISTS + NOT EXISTS self-joins on
  * the fact table (Q21), and anti-join with scalar-subquery balance
  * threshold (Q22).
  *
  * Scalar subqueries decorrelate to one-row aggregates broadcast back
  * (never a window over the whole table); per-key correlated subqueries
  * decorrelate to a keyed aggregate re-joined on the key, with the
  * aggregate computed from the already-filtered fact slice where the
  * correlation key's filter implies it (q17). Money math follows the
  * OracleParity decimal convention; threshold comparisons always compare
  * two values that are bit-identical across engines (decimal-exact sums
  * cast to double, then identical IEEE ops in an identical order).
  */
object Relational5 {

  private val Dec = DecimalType(18, 6)

  private def ts(s: String): Column = lit(s).cast(TimestampNTZType)

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** q2_min_cost_supp (TPC-H Q2 shape): for each LARGE large-size part,
    * the EU supplier(s) offering its minimum per-unit price. The
    * correlated scalar MIN decorrelates into a per-part aggregate
    * re-joined on the key; the double equality is safe because both
    * sides are the MIN over the identical per-row IEEE divisions. Dims
    * (part slice, supplier, nation, region) all broadcast; lineitem is
    * scanned once and aggregated to (part, supplier) grain before any
    * wide join. */
  def q2(s: SparkSession, dir: String): DataFrame = {
    val euSupp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val partF = Tables.part(s, dir)
      .filter(col("p_size") >= 30 && col("p_type") === "LARGE")
      .select(col("p_partkey"), col("p_name"))
    val offers = Tables.lineitem(s, dir)
      .join(broadcast(partF.select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(broadcast(euSupp.select(col("s_suppkey"))), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("min_price"))
    val best = offers.groupBy(col("l_partkey").as("bk")).agg(min(col("min_price")).as("best"))
    offers.join(best, col("l_partkey") === col("bk") && col("min_price") === col("best"))
      .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
      .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("s_acctbal"), col("min_price"))
      .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
  }

  val q2Sql: String =
    """WITH offers AS (
      |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS min_price
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE' AND p_size >= 30 AND p_type = 'LARGE'
      |  GROUP BY 1, 2)
      |SELECT p_partkey, p_name, s_name, n_name, s_acctbal, min_price
      |FROM offers
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE min_price = (SELECT MIN(o2.min_price) FROM offers o2 WHERE o2.l_partkey = offers.l_partkey)
      |ORDER BY s_acctbal DESC, s_name, p_partkey""".stripMargin

  /** q8_market_share (TPC-H Q8 shape): NATION_7's share of STANDARD-part
    * revenue sold to ASIA customers, per order-year. Both the
    * conditional and total sums ride ONE aggregation (decimal-exact),
    * the share is a single IEEE division of the two pinned doubles. The
    * fact side shuffles once on orderkey; every dimension (filtered part
    * slice, ASIA customer keys, supplier, nation) broadcasts. */
  def q8(s: SparkSession, dir: String): DataFrame = {
    val asiaCust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val sn = Tables.nation(s, dir).select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "STANDARD").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("snk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((xsum(when(col("supp_nation") === "NATION_7", rev).otherwise(lit(0.0))) /
        xsum(rev)).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_7' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** q9_product_profit (TPC-H Q9 shape): per (supplier-nation, ship-year)
    * profit on widget parts, cost proxied by 10% of retail price (the
    * schema has no ps_supplycost). One fact scan, one aggregation
    * shuffle; the profit expression is rounded to decimal per row BEFORE
    * the order-independent sum, so AQE re-partitioning can't wobble it. */
  def q9(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_name").contains("widget"))
          .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("nation"), year(col("l_shipdate")).as("o_year"))
      .agg(xsum(rev - lit(0.1) * col("p_retailprice") * col("l_quantity")).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)

  val q9Sql: String =
    """SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) - 0.1 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  /** q11_important_value (TPC-H Q11 shape): parts whose ASIA-supplied
    * revenue exceeds 1.5× the mean part value — the global threshold is a
    * one-row aggregate broadcast back (scale-free, unlike the fixed
    * fraction in the classic query which empties as the part count
    * grows). The mean re-sums the per-part doubles through decimal so
    * the threshold is order-independent too. */
  def q11(s: SparkSession, dir: String): DataFrame = {
    val asiaSupp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val v = Tables.lineitem(s, dir)
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(xsum(rev).as("part_value"))
    val thr = v.agg((lit(1.5) * sum(col("part_value").cast(Dec)).cast(DoubleType) /
      count(lit(1)).cast(DoubleType)).as("thr"))
    v.crossJoin(broadcast(thr))
      .filter(col("part_value") > col("thr"))
      .select(col("p_partkey"), col("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  val q11Sql: String =
    """WITH v AS (
      |  SELECT l_partkey AS p_partkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS part_value
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'
      |  GROUP BY 1)
      |SELECT p_partkey, part_value
      |FROM v
      |WHERE part_value > (SELECT 1.5 * CAST(SUM(CAST(part_value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) FROM v)
      |ORDER BY part_value DESC, p_partkey""".stripMargin

  /** q13_order_dist (TPC-H Q13 shape): the distribution of non-urgent
    * orders per customer, zeros included — the LEFT OUTER join keeps
    * order-less customers, COUNT(o_orderkey) skips their NULLs. First
    * aggregation shuffles on custkey; the second input is one row per
    * distinct count (tiny). */
  def q13(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(Tables.orders(s, dir).filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val q13Sql: String =
    """WITH counts AS (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer
      |  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM counts GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q15_top_supplier (TPC-H Q15 shape): the supplier(s) with the maximum
    * quarterly revenue. The "view" is the per-supplier aggregate; its MAX
    * is a one-row broadcast joined back on double equality (safe: both
    * sides are the same decimal-exact doubles). */
  def q15(s: SparkSession, dir: String): DataFrame = {
    val revBySupp = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ts("1998-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(xsum(rev).as("total_revenue"))
    val mx = revBySupp.agg(max(col("total_revenue")).as("mx"))
    revBySupp.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("mx"))
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey, CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** q17_small_qty (TPC-H Q17 shape): revenue (scaled to yearly) from
    * Brand#3 lines whose quantity is under half the part's average. The
    * correlated per-part average decorrelates to a keyed aggregate —
    * computed from the brand-filtered slice, which is equivalent because
    * the correlation key (partkey) determines the brand, and much
    * cheaper than averaging every part at 100 TB. */
  def q17(s: SparkSession, dir: String): DataFrame = {
    val brandLi = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_brand") === "Brand#3").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
    val halfAvg = brandLi.groupBy(col("l_partkey").as("pk"))
      .agg((lit(0.5) * sum(col("l_quantity").cast(Dec)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("half_avg"))
    brandLi.join(halfAvg, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("half_avg"))
      .agg((xsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND l_quantity < (SELECT 0.5 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
      |                    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""".stripMargin

  /** q20_promo_suppliers (TPC-H Q20 shape): suppliers holding more than
    * 10% of the shipped volume of some blue part — the nested grouped IN
    * becomes aggregate → ratio filter → distinct → LEFT SEMI join. The
    * part-level total re-aggregates the (supplier, part) decimal
    * partials (exact, so it equals the oracle's independent scan), and
    * the blue-part slice is joined once and feeds both grains. */
  def q20(s: SparkSession, dir: String): DataFrame = {
    val sp = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_name").startsWith("blue")).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast(Dec)).as("qdec"))
    val byPart = sp.groupBy(col("l_partkey").as("pk")).agg(sum(col("qdec")).as("pdec"))
    val picked = sp.join(byPart, col("l_partkey") === col("pk"))
      .filter(col("qdec").cast(DoubleType) > lit(0.1) * col("pdec").cast(DoubleType))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, dir)
      .join(picked, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q20Sql: String =
    """WITH sp AS (
      |  SELECT l_suppkey, l_partkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS supp_qty
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'blue%'
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS part_qty
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'blue%'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT sp.l_suppkey FROM sp JOIN p ON sp.l_partkey = p.l_partkey
      |  WHERE sp.supp_qty > 0.1 * p.part_qty)
      |ORDER BY s_suppkey""".stripMargin

  /** q21_waiting_suppliers (TPC-H Q21 shape): suppliers whose line was
    * the ONLY late one (ship > order + 150 days) on a finished
    * multi-supplier order. EXISTS → LEFT SEMI, NOT EXISTS → LEFT ANTI,
    * both self-joins on the fact keyed by orderkey with the suppkey
    * inequality riding the equi-join (never a nested-loop — PlanSpec
    * pins this), and the supplier name resolves AFTER the per-supplier
    * count (a broadcast onto ≤|supplier| rows). */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 150 DAYS")
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val l1 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F" && late)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val others = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val lateAll = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(late)
      .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    l1.join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(lateAll, col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
      .groupBy(col("sk"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
        col("sk") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q21Sql: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON l1.l_orderkey = o_orderkey
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 150 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 150 DAY)
      |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin

  /** q22_dormant_customers (TPC-H Q22 shape): well-funded customers in
    * six nations with no orders since 2000, summarized per nation. The
    * positive-balance average is a one-row broadcast threshold; the
    * "no recent orders" NOT EXISTS is a LEFT ANTI against the
    * date-pruned orders slice (the filter pushes into the scan, so the
    * anti join's build side shrinks with the window, not the table). */
  def q22(s: SparkSession, dir: String): DataFrame = {
    val pool = Tables.customer(s, dir)
      .filter(col("c_nationkey").isin(3, 7, 11, 15, 19, 23))
    val thr = pool.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast(Dec)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("avg_bal"))
    pool.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(s, dir).filter(col("o_orderdate") >= ts("2000-01-01 00:00:00"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), xsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  val q22Sql: String =
    """WITH pool AS (
      |  SELECT * FROM customer WHERE c_nationkey IN (3, 7, 11, 15, 19, 23)),
      |thr AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_bal
      |  FROM pool WHERE c_acctbal > 0.0)
      |SELECT c_nationkey, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
      |FROM pool
      |WHERE c_acctbal > (SELECT avg_bal FROM thr)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1 ORDER BY c_nationkey""".stripMargin

  /** q_window_range: trailing-30-day revenue per customer — a RANGE
    * interval frame (every peer day inside the value window, however many
    * rows), the frame kind qWindowRunning's ROWS frame doesn't exercise.
    * The order key is an exact epoch-day integer so frame membership is
    * integer comparison on both engines, and the windowed sum is decimal
    * (order-independent under any AQE re-partitioning). One shuffle on
    * custkey; the 1997-03 output month is a post-window filter, so each
    * row still sees its full 30-day look-back. */
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"))
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("od", datediff(col("o_orderdate"), lit("1995-01-01").cast("date")))
      .select(col("o_custkey"), col("o_orderkey"), col("od"),
        sum(col("o_totalprice").cast(Dec)).over(w).cast(DoubleType).as("trailing30_rev"))
      .filter(col("od") >= 790 && col("od") < 821) // 1997-03-01 .. 1997-04-01
      .orderBy(col("o_custkey"), col("od"), col("o_orderkey"))
  }

  val qWindowRangeSql: String =
    """SELECT o_custkey, o_orderkey, od,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY od
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing30_rev
      |FROM (SELECT *, datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS od FROM orders)
      |QUALIFY od >= 790 AND od < 821
      |ORDER BY o_custkey, od, o_orderkey""".stripMargin

  /** q_hierarchy: the WITH RECURSIVE query class — every customer resolved
    * to the root and depth of a deterministic 7-ary containment tree
    * (parent = key div 7, keys < 7 are roots). Spark-first recursion is
    * POINTER DOUBLING (operators/Hierarchy): ⌈log₂ depth⌉ keyed
    * self-joins, not a join per tree level — the oracle walks the same
    * tree with a recursive CTE one hop at a time. */
  def qHierarchy(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.customer(s, dir).select(col("c_custkey"),
      when(col("c_custkey") >= 7, expr("CAST(c_custkey div 7 AS BIGINT)")).as("parent"))
    graft.operators.Hierarchy.resolve(nodes, "c_custkey", "parent")
      .select(col("key").as("c_custkey"), col("root"), col("depth"))
      .orderBy(col("c_custkey"))
  }

  val qHierarchySql: String =
    """WITH RECURSIVE walk AS (
      |  SELECT c_custkey AS k, c_custkey // 7 AS anc, 1 AS d
      |  FROM customer WHERE c_custkey >= 7
      |  UNION ALL
      |  SELECT k, anc // 7, d + 1 FROM walk WHERE anc >= 7)
      |SELECT c_custkey, CAST(root AS BIGINT) AS root, CAST(depth AS BIGINT) AS depth FROM (
      |  SELECT k AS c_custkey, anc AS root, d AS depth FROM walk WHERE anc < 7
      |  UNION ALL
      |  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 7)
      |ORDER BY c_custkey""".stripMargin

  /** q_subtree_rollup: the read hierarchies exist for — a measure rolled
    * up to every subtree root (org-chart totals, BOM cost explosion).
    * Pointer-doubled root resolution (q_hierarchy's machinery), then ONE
    * root-keyed aggregation; the decimal-cast sum keeps the double exact
    * across engines and partitionings. */
  def qSubtreeRollup(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val nodes = c.select(col("c_custkey"),
      when(col("c_custkey") >= 7, expr("CAST(c_custkey div 7 AS BIGINT)")).as("parent"))
    graft.operators.Hierarchy.resolve(nodes, "c_custkey", "parent")
      .select(col("key").as("c_custkey"), col("root"))
      .join(c.select(col("c_custkey"), col("c_acctbal")), "c_custkey")
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_members"), xsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("root"))
  }

  val qSubtreeRollupSql: String =
    """WITH RECURSIVE walk AS (
      |  SELECT c_custkey AS k, c_custkey // 7 AS anc
      |  FROM customer WHERE c_custkey >= 7
      |  UNION ALL
      |  SELECT k, anc // 7 FROM walk WHERE anc >= 7),
      |r AS (SELECT k AS c_custkey, anc AS root FROM walk WHERE anc < 7
      |      UNION ALL
      |      SELECT c_custkey, c_custkey FROM customer WHERE c_custkey < 7)
      |SELECT CAST(r.root AS BIGINT) AS root, COUNT(*) AS n_members,
      |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
      |FROM r JOIN customer c ON c.c_custkey = r.c_custkey
      |GROUP BY r.root ORDER BY root""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_subtree_rollup", qSubtreeRollup _, qSubtreeRollupSql),
    Gate("q_hierarchy", qHierarchy _, qHierarchySql),
    Gate("q_window_range", qWindowRange _, qWindowRangeSql),
    Gate("q2_min_cost_supp", q2 _, q2Sql),
    Gate("q8_market_share", q8 _, q8Sql),
    Gate("q9_product_profit", q9 _, q9Sql),
    Gate("q11_important_value", q11 _, q11Sql),
    Gate("q13_order_dist", q13 _, q13Sql),
    Gate("q15_top_supplier", q15 _, q15Sql),
    Gate("q17_small_qty", q17 _, q17Sql),
    Gate("q20_promo_suppliers", q20 _, q20Sql),
    Gate("q21_waiting_suppliers", q21 _, q21Sql),
    Gate("q22_dormant_customers", q22 _, q22Sql),
  )
}
