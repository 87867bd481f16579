package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.Tables
import graft.functions.OracleParity.xsum
import graft.sources.{Readers, ZOrder}

/** Third relational wave: window-function zoo, CUBE, order-stable list
  * aggregation, and a CSV ingest round-trip through the schema-enforced
  * readers. */
object Relational3 {

  /** q_window_funcs: lag/lead/dense_rank/ntile over one shared sort.
    * Partitioned by o_custkey — a high-cardinality key, so at any scale the
    * window work spreads across all reducers instead of funneling the table
    * through ≤5 of them (the per-customer order history is the natural
    * bounded unit here). */
  def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_totalprice") > 350000.0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"))
      .orderBy(col("o_custkey"), col("drnk"), col("o_orderkey"))
  }

  val qWindowFuncsSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  DENSE_RANK() OVER w AS drnk, NTILE(4) OVER w AS quartile,
      |  LAG(o_orderkey, 1) OVER w AS prev_key, LEAD(o_orderkey, 1) OVER w AS next_key
      |FROM orders WHERE o_totalprice > 350000.0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, drnk, o_orderkey""".stripMargin

  /** q_cube: full CUBE over two dimensions. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), xsum(col("l_extendedprice")).as("total"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val qCubeSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** q_grouping_sets: explicit GROUPING SETS — two independent rollup
    * axes in ONE scan (cube would pay 4 grouping combinations; this pays
    * exactly the 2 requested), plus grouping() to disambiguate the
    * all-NULL rows from genuine NULL groups. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), xsum(col("l_extendedprice")).as("total"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** q_collect_list: order-stable list aggregation — collect_list is
    * unordered by contract, so the deterministic form sorts the collected
    * array and serializes it (same convention as DuckDB's list_sort). */
  def qCollectList(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .groupBy(col("n_regionkey"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n"))
      .orderBy(col("n_regionkey"))

  val qCollectListSql: String =
    """SELECT n_regionkey, array_to_string(list_sort(list(n_name)), ',') AS nations,
      |  COUNT(*) AS n
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  /** Collision-free staging path for ingest round-trips: distinct dataset
    * dirs must never map to the same tmp location (digit-stripping did). */
  private[queries] def roundtripPath(dir: String, fmt: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"/tmp/graft_${fmt}_roundtrip_$h"
  }

  /** io_csv_roundtrip: region → csv (deterministic single file) → read back
    * through the schema-enforced FAILFAST reader → aggregate. Exercises the
    * ingest path inside the correctness gate; the oracle reads the same
    * logical data from parquet. */
  def ioCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripPath(dir, "csv")
    val src = Tables.region(s, dir)
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    Readers.csv(s, out, src.schema)
      .agg(count(lit(1)).as("n_regions"),
        sum(length(col("r_name"))).as("total_name_len"))
  }

  val ioCsvRoundtripSql: String =
    "SELECT COUNT(*) AS n_regions, CAST(SUM(length(r_name)) AS BIGINT) AS total_name_len FROM region"

  /** io_json_roundtrip: nation → json lines → schema-enforced FAILFAST read
    * → join-back aggregate. */
  def ioJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripPath(dir, "json")
    val src = Tables.nation(s, dir)
    src.coalesce(1).write.mode("overwrite").json(out)
    Readers.json(s, out, src.schema)
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))
  }

  val ioJsonRoundtripSql: String =
    "SELECT n_regionkey, COUNT(*) AS n_nations FROM nation GROUP BY 1 ORDER BY n_regionkey"

  /** io_orc_roundtrip: supplier → ORC (zstd) → schema-checked read back →
    * aggregate. ORC is the second columnar format the engine speaks; the
    * oracle reads the same logical data from parquet, so result equality
    * proves the roundtrip lost nothing. */
  def ioOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripPath(dir, "orc")
    val src = Tables.supplier(s, dir)
    src.write.mode("overwrite").option("compression", "zstd").orc(out)
    Readers.orc(s, out, src.schema)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_suppliers"),
        sum(length(col("s_name"))).as("total_name_len"))
      .orderBy(col("s_nationkey"))
  }

  val ioOrcRoundtripSql: String =
    """SELECT s_nationkey, COUNT(*) AS n_suppliers,
      |  CAST(SUM(length(s_name)) AS BIGINT) AS total_name_len
      |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin

  /** io_zorder_roundtrip: orders → z-clustered parquet on
    * (o_custkey, o_totalprice) → read back under the conjunctive box
    * predicate the layout exists to serve → aggregate. Result equality
    * against the unclustered oracle proves the Morton rewrite is
    * lossless and filter-transparent; ZOrderSpec separately proves the
    * row-group skipping the layout buys. */
  def ioZorderRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripPath(dir, "zorder")
    // one year's orders and 6-bit codes: the rewrite is an in-gate WRITE
    // (paid on every run), so the gate keeps it small — bits/nFiles scale
    // with data volume in production, not with gate latency
    val slice = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast(TimestampNTZType) &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampNTZType))
    ZOrder.write(slice, out, Seq("o_custkey", "o_totalprice"), nFiles = 4, bits = 6)
    s.read.parquet(out)
      .filter(col("o_custkey") < 100 && col("o_totalprice").between(20000.0, 60000.0))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), xsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  val ioZorderRoundtripSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND o_custkey < 100 AND o_totalprice BETWEEN 20000.0 AND 60000.0
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** io_dpp_roundtrip: DYNAMIC PARTITION PRUNING through a partitioned
    * layout — the scan-elimination mechanism that makes star joins
    * tractable at 100 TB: the fact lands partitioned by order year, the
    * dim side (ship-years derived from a selective lineitem slice) is
    * only known at runtime, and Catalyst injects the dim's year set into
    * the fact scan as a dynamicpruning partition filter — the fact reads
    * 1 of ~7 year directories instead of scanning-then-filtering
    * (PlanSpec pins the dynamicpruningexpression in the scan). The write
    * is in-gate like the other io_* roundtrips; the oracle replays the
    * same semi-join logically over the raw table. */
  def ioDppRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripPath(dir, "dpp")
    Tables.orders(s, dir)
      .withColumn("o_yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_yr").parquet(out)
    val dimYears = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampNTZType) &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast(TimestampNTZType))
      .select(year(col("l_shipdate")).as("o_yr")).distinct()
    s.read.parquet(out)
      .join(dimYears, Seq("o_yr"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), xsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val ioDppRoundtripSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE year(o_orderdate) IN (
      |  SELECT DISTINCT year(l_shipdate) FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01')
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** io_compact_roundtrip: the SMALL-FILES problem end-to-end — the
    * operational issue that actually kills 100 TB tables: a fragmented
    * layout (64 shards of one year's orders — the many-tiny-files shape
    * a streaming ingest leaves behind) compacted by Writers.compact's
    * crash-safe rename swap into size-targeted files, then aggregated
    * THROUGH the compacted layout. Result equality against the logical
    * oracle proves compaction is content-lossless; the gate also fails if
    * compaction stops reducing the file count. */
  def ioCompactRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripPath(dir, "compact")
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast(TimestampNTZType) &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampNTZType))
      .repartition(64) // the fragmented ingest layout
      .write.mode("overwrite").parquet(out)
    graft.sources.Writers.compact(s, out, targetBytes = 8L * 1024 * 1024,
      sortCols = Seq("o_orderkey"))
    val files = s.read.parquet(out).inputFiles.length
    require(files < 64, s"compaction left $files files")
    s.read.parquet(out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), xsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val ioCompactRoundtripSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** q_window_funcs2: value-window functions — first/last value over
    * frames, percent_rank, cume_dist. High-cardinality partition key
    * (o_custkey) for the same scale reason as q_window_funcs. */
  def qWindowFuncs2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(wFrame).as("cheapest_key"),
        last(col("o_orderkey")).over(wFrame).as("priciest_key"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val qWindowFuncs2Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  FIRST_VALUE(o_orderkey) OVER wf AS cheapest_key,
      |  LAST_VALUE(o_orderkey) OVER wf AS priciest_key,
      |  PERCENT_RANK() OVER w AS pr, CUME_DIST() OVER w AS cd
      |FROM orders WHERE o_totalprice > 400000.0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q_setops_all: multiset set operations (UNION/EXCEPT/INTERSECT ALL). */
  def qSetopsAll(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val a = li.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    val b = li.filter(col("l_linestatus") === "F").select(col("l_orderkey"))
    a.unionAll(b).exceptAll(a.intersectAll(b))
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_orderkey"))
  }

  val qSetopsAllSql: String =
    """WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
      |     b AS (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'),
      |     u AS (SELECT l_orderkey FROM a UNION ALL SELECT l_orderkey FROM b),
      |     i AS (SELECT l_orderkey FROM a INTERSECT ALL SELECT l_orderkey FROM b)
      |SELECT l_orderkey, COUNT(*) AS n
      |FROM (SELECT l_orderkey FROM u EXCEPT ALL SELECT l_orderkey FROM i)
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** q_null_semantics: null-handling parity torture — COUNT skips nulls,
    * null-safe equality, nulls in arithmetic and grouping. */
  def qNullSemantics(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("maybe", when(col("o_orderkey") % 3 === 0, col("o_totalprice")))
      .withColumn("grp", when(col("o_orderkey") % 7 === 0, col("o_orderstatus")))
      .groupBy(col("grp"))
      .agg(count(col("maybe")).as("n_nonnull"),
        count(lit(1)).as("n_all"),
        xsum(coalesce(col("maybe"), lit(0.0))).as("sum_coalesced"),
        sum(when(col("maybe").isNull, 1).otherwise(0)).as("n_null"),
        count(when(col("maybe") <=> lit(null), 1)).as("n_nullsafe_eq"))
      .orderBy(asc_nulls_first("grp"))

  val qNullSemanticsSql: String =
    """SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_orderstatus END AS grp,
      |  COUNT(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END) AS n_nonnull,
      |  COUNT(*) AS n_all,
      |  CAST(SUM(CAST(coalesce(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS sum_coalesced,
      |  CAST(SUM(CASE WHEN (CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  COUNT(CASE WHEN (CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END) IS NOT DISTINCT FROM NULL THEN 1 END) AS n_nullsafe_eq
      |FROM orders GROUP BY 1 ORDER BY grp ASC NULLS FIRST""".stripMargin

  /** q_mode: per-group mode (most frequent value) via count + max_by —
    * two partial-aggregatable passes, no window over the raw table; ties
    * break to the greatest value so the result is deterministic. */
  def qMode(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_year"))
      .agg(max_by(struct(col("o_orderpriority").as("mode_priority"), col("n")),
        struct(col("n"), col("o_orderpriority"))).as("m"))
      .select(col("o_year"), col("m.mode_priority").as("mode_priority"), col("m.n").as("n"))
      .orderBy(col("o_year"))

  val qModeSql: String =
    """SELECT o_year, o_orderpriority AS mode_priority, n FROM (
      |  SELECT o_year, o_orderpriority, n,
      |    ROW_NUMBER() OVER (PARTITION BY o_year ORDER BY n DESC, o_orderpriority DESC) AS r
      |  FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority, COUNT(*) AS n
      |        FROM orders GROUP BY 1, 2))
      |WHERE r = 1 ORDER BY o_year""".stripMargin

  /** q_histogram: fixed-width numeric binning of order values — the
    * data-profiling distribution sketch (one scan, one groupBy on the bin
    * id; at 100 TB the bin table is width-bounded regardless of rows).
    * Bin = floor(x / 25000): a double division + floor is IEEE-identical
    * in both engines, unlike width_bucket (absent in DuckDB). */
  def qHistogram(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.OracleParity.x6
    Tables.orders(s, dir)
      .withColumn("bin", floor(col("o_totalprice") / 25000.0).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        // raw (r14 un-pin): min/max of a stored double column is exact
        // value SELECTION — both engines return the same stored bits
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("bin"))
  }

  val qHistogramSql: String =
    """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin, COUNT(*) AS n,
      |  MIN(o_totalprice) AS lo,
      |  MAX(o_totalprice) AS hi
      |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin

  /** q_unpivot: wide → long melt (the inverse of q_pivot) — per-measure
    * rollup of lineitem's four measure columns presented in long form.
    * Aggregate FIRST, melt the one result row after: stacking raw rows
    * would fan the fact table 4× before the shuffle (2.4M generated rows
    * here, 4× the corpus at 100 TB), while the aggregate-then-stack plan
    * scans once, reduces map-side, and stacks exactly one row. */
  def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val m = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    Tables.lineitem(s, dir)
      .agg(count(col(m.head)).as(s"n_0"),
        (xsum(col(m.head)).as(s"t_0") +:
          m.tail.zipWithIndex.flatMap { case (c, i) =>
            Seq(count(col(c)).as(s"n_${i + 1}"), xsum(col(c)).as(s"t_${i + 1}")) }): _*)
      .selectExpr(s"""stack(4, ${m.zipWithIndex.map { case (c, i) =>
          s"'$c', n_$i, t_$i" }.mkString(", ")}) AS (measure, n, total)""")
      .orderBy(col("measure"))
  }

  val qUnpivotSql: String =
    """SELECT measure, COUNT(v) AS n,
      |  CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM (
      |  SELECT 'l_quantity' AS measure, l_quantity AS v FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
      |GROUP BY measure ORDER BY measure""".stripMargin

  /** q_nested: nested-data processing through higher-order functions — per
    * order, the sorted array of its line quantities, then HOF surface over
    * it: filter (quantities above the order mean·½), transform (scaled),
    * exists, and an aggregate fold — all narrow once the per-order array is
    * built (ONE shuffle for the collect_list groupBy). Integer quantities
    * keep every HOF result exact cross-engine. */
  /** q_lateral: correlated LATERAL subquery — the per-row dependent-subquery
    * SQL surface (each customer's 2 highest-value orders via an ORDER BY +
    * LIMIT subquery referencing the outer row). Catalyst decorrelates the
    * lateral into a window-rank join, so the executed plan is the same
    * scale-safe shape as q_topn_per_group — the feature here is the SQL
    * surface, not a new execution path. Bounded output: ≤2 rows/customer. */
  def qLateral(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).filter(col("c_custkey") % 10 === 0)
      .createOrReplaceTempView("customer_l")
    Tables.orders(s, dir).createOrReplaceTempView("orders_l")
    s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
            |FROM customer_l c,
            |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_l
            |         WHERE o_custkey = c.c_custkey
            |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
            |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  val qLateralSql: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM (SELECT * FROM customer WHERE c_custkey % 10 = 0) c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  def qNested(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qs"))
      .filter(size(col("qs")) >= 4)
      // hoist the fold OUT of the filter lambda: an aggregate() inside the
      // predicate re-folds the whole array per element (O(n²) per row)
      .withColumn("total_qty", expr("aggregate(qs, 0L, (a, x) -> a + x)"))
      .select(col("l_orderkey"), size(col("qs")).as("n_lines"),
        col("total_qty"),
        expr("size(filter(qs, x -> x * size(qs) * 2 > total_qty))").as("n_above_half_mean"),
        expr("exists(qs, x -> x >= 50)").as("has_bulk_line"),
        expr("aggregate(zip_with(qs, reverse(qs), (a, b) -> a * b), 0L, (a, x) -> a + x)").as("palindrome_dot"))
      .orderBy(col("l_orderkey"))

  val qNestedSql: String =
    """SELECT l_orderkey, len(qs) AS n_lines,
      |  CAST(list_sum(qs) AS BIGINT) AS total_qty,
      |  CAST(len(list_filter(qs, x -> x * len(qs) * 2 > list_sum(qs))) AS BIGINT) AS n_above_half_mean,
      |  len(list_filter(qs, x -> x >= 50)) > 0 AS has_bulk_line,
      |  CAST(list_sum(list_transform(range(1, len(qs) + 1),
      |    i -> qs[i] * qs[len(qs) - i + 1])) AS BIGINT) AS palindrome_dot
      |FROM (SELECT l_orderkey, list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
      |      FROM lineitem GROUP BY l_orderkey)
      |WHERE len(qs) >= 4 ORDER BY l_orderkey""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_nested", qNested _, qNestedSql),
    Gate("q_lateral", qLateral _, qLateralSql),
    Gate("q_unpivot", qUnpivot _, qUnpivotSql),
    Gate("q_histogram", qHistogram _, qHistogramSql),
    Gate("q_mode", qMode _, qModeSql),
    Gate("q_null_semantics", qNullSemantics _, qNullSemanticsSql),
    Gate("q_window_funcs2", qWindowFuncs2 _, qWindowFuncs2Sql),
    Gate("q_setops_all", qSetopsAll _, qSetopsAllSql),
    Gate("io_json_roundtrip", ioJsonRoundtrip _, ioJsonRoundtripSql),
    Gate("io_orc_roundtrip", ioOrcRoundtrip _, ioOrcRoundtripSql),
    Gate("io_zorder_roundtrip", ioZorderRoundtrip _, ioZorderRoundtripSql),
    Gate("io_dpp_roundtrip", ioDppRoundtrip _, ioDppRoundtripSql),
    Gate("io_compact_roundtrip", ioCompactRoundtrip _, ioCompactRoundtripSql),
    Gate("q_window_funcs", qWindowFuncs _, qWindowFuncsSql),
    Gate("q_grouping_sets", qGroupingSets _, qGroupingSetsSql),
    Gate("q_cube", qCube _, qCubeSql),
    Gate("q_collect_list", qCollectList _, qCollectListSql),
    Gate("io_csv_roundtrip", ioCsvRoundtrip _, ioCsvRoundtripSql),
  )
}
