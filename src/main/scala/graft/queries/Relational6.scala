package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.OracleParity.xsum
import graft.sources.Manifest
import graft.Ckpt._
import Relational3.roundtripPath

/** Round-10 relational/product-analytics additions (SURVEY.md §2A):
  * period-over-period growth and marketing attribution — two BI staples
  * the surface did not yet cover. */
object Relational6 {

  /** q_mom_yoy: period-over-period growth — the revenue-dashboard
    * workhorse: monthly revenue (decimal-exact) with month-over-month and
    * year-over-year comparisons. MoM rides ONE lag window over the
    * |months|-row aggregate (chronological, observed months); YoY is an
    * exact (year−1, month) self-join — a missing comparison month yields
    * NULL growth, never a wrong denominator. Growth ratios are pinned
    * single divisions of the decimal-cast sums, so both engines run the
    * identical IEEE ops. Scale shape: one fact aggregation shuffles to a
    * |months|-row frame; window + self-join cost nothing after it. */
  def qMomYoy(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"), xsum(col("o_totalprice")).as("rev"))
      // |months|-row frame consumed twice (window + YoY self-join):
      // materialize so the fact table scans and aggregates exactly once
      .cpEager
    val w = Window.orderBy(col("yr"), col("mo"))
    val withMom = m
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .withColumn("mom_growth", (col("rev") - col("prev_rev")) / col("prev_rev"))
    val prior = m.select((col("yr") + 1).as("yr"), col("mo"), col("rev").as("yoy_prev"))
    withMom.join(prior, Seq("yr", "mo"), "left")
      .select(col("yr"), col("mo"), col("n_orders"), col("rev"),
        col("prev_rev"), col("mom_growth"), col("yoy_prev"),
        ((col("rev") - col("yoy_prev")) / col("yoy_prev")).as("yoy_growth"))
      .orderBy(col("yr"), col("mo"))
  }

  val qMomYoySql: String =
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
      |    COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      |  FROM orders GROUP BY 1, 2),
      |wm AS (SELECT yr, mo, n_orders, rev,
      |         lag(rev) OVER (ORDER BY yr, mo) AS prev_rev
      |       FROM m)
      |SELECT wm.yr, wm.mo, wm.n_orders, wm.rev, wm.prev_rev,
      |  (wm.rev - wm.prev_rev) / wm.prev_rev AS mom_growth,
      |  p.rev AS yoy_prev,
      |  (wm.rev - p.rev) / p.rev AS yoy_growth
      |FROM wm LEFT JOIN m p ON p.yr = wm.yr - 1 AND p.mo = wm.mo
      |ORDER BY wm.yr, wm.mo""".stripMargin

  /** q_attribution: marketing-touch attribution — for every purchase, the
    * LAST preceding touch (click/view) and the user's FIRST touch ever,
    * rolled up per (touch channel, attribution model) with decimal-exact
    * attributed revenue. The per-purchase resolution is one user-keyed
    * window (last_value IGNORE NULLS over the event stream — the as-of
    * pattern without a join); ties at the same instant break on event_id.
    * Unattributed purchases (no prior touch) land under channel 'none' so
    * the rollup is complete. Scale shape: ONE user-keyed sort serves both
    * models; output is |channels×models|-bounded. */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts_us"))
    val touch = when(col("event_type").isin("click", "view"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val attributed = e
      .withColumn("last_touch",
        last(touch, ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("first_touch",
        first(touch, ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase")
      // purchase-only frame feeds BOTH model rollups: materialize so the
      // event scan and the per-user window sort run exactly once
      .cpEager
    def rollup(modelCol: String, model: String) = attributed
      .groupBy(coalesce(col(modelCol), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"), xsum(col("value")).as("attributed_rev"))
      .withColumn("model", lit(model))
    rollup("last_touch", "last").unionByName(rollup("first_touch", "first"))
      .select(col("model"), col("channel"), col("n_purchases"), col("attributed_rev"))
      .orderBy(col("model"), col("channel"))
  }

  val qAttributionSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us,
      |    CASE WHEN event_type IN ('click', 'view') THEN event_type END AS touch
      |  FROM events),
      |a AS (
      |  SELECT event_id, user_id, event_type, value,
      |    last_value(touch IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
      |    first_value(touch IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch
      |  FROM e),
      |p AS (SELECT * FROM a WHERE event_type = 'purchase')
      |SELECT model, channel, n_purchases, attributed_rev FROM (
      |  SELECT 'last' AS model, COALESCE(last_touch, 'none') AS channel,
      |    COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_rev
      |  FROM p GROUP BY 2
      |  UNION ALL
      |  SELECT 'first' AS model, COALESCE(first_touch, 'none') AS channel,
      |    COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_rev
      |  FROM p GROUP BY 2)
      |ORDER BY model, channel""".stripMargin

  /** q_funnel_steps: the ORDERED multi-step funnel (view → click →
    * purchase, each step strictly after the previous one) — q_funnel's
    * 2-step signup→purchase can't express step ordering beyond one hop.
    * Per user: t1 = first view, t2 = first click AFTER t1, t3 = first
    * purchase AFTER t2; output is the step-completion count ladder.
    * Scale shape: THREE aggregations all keyed on user_id — the joins
    * reuse the same hash partitioning, so events shuffle once and the
    * per-user frames (1 row/user) carry the rest; output is 4 fixed
    * rows. */
  def qFunnelSteps(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val a1 = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("t1"))
    val a2 = e.join(a1, "user_id").groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "click" && col("ts_us") > col("t1"),
        col("ts_us"))).as("t2"), first(col("t1")).as("t1"))
    val a3 = e.join(a2, "user_id").groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "purchase" && col("ts_us") > col("t2"),
        col("ts_us"))).as("t3"), first(col("t1")).as("t1"), first(col("t2")).as("t2"))
    a3.agg(
        count(lit(1)).as("users"),
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("s1"),
        sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("s2"),
        sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("s3"))
      .select(expr(
        "stack(4, 'users', users, 'step1_view', s1, 'step2_click_after_view', s2, " +
          "'step3_purchase_after_click', s3) AS (step, n_users)"))
      .orderBy(col("step"))
  }

  val qFunnelStepsSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |a1 AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS t1
      |       FROM e GROUP BY user_id),
      |a2 AS (SELECT e.user_id,
      |         MIN(CASE WHEN event_type = 'click' AND ts_us > t1 THEN ts_us END) AS t2,
      |         ANY_VALUE(t1) AS t1
      |       FROM e JOIN a1 ON e.user_id = a1.user_id GROUP BY e.user_id),
      |a3 AS (SELECT e.user_id,
      |         MIN(CASE WHEN event_type = 'purchase' AND ts_us > t2 THEN ts_us END) AS t3,
      |         ANY_VALUE(t1) AS t1, ANY_VALUE(t2) AS t2
      |       FROM e JOIN a2 ON e.user_id = a2.user_id GROUP BY e.user_id),
      |agg AS (SELECT COUNT(*) AS users,
      |          SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS s1,
      |          SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS s2,
      |          SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS s3
      |        FROM a3)
      |SELECT step, CAST(n_users AS BIGINT) AS n_users FROM (
      |  SELECT 'users' AS step, users AS n_users FROM agg
      |  UNION ALL SELECT 'step1_view', s1 FROM agg
      |  UNION ALL SELECT 'step2_click_after_view', s2 FROM agg
      |  UNION ALL SELECT 'step3_purchase_after_click', s3 FROM agg)
      |ORDER BY step""".stripMargin

  /** q_abtest: two-proportion experiment readout — the A/B-test analysis
    * a product team runs daily: users split by a deterministic variant
    * hash (user_id % 2), conversion = any purchase above the 90-value
    * line (bare any-purchase converts EVERY user in this corpus — a
    * pooled rate of 1.0 makes the z denominator exactly 0), per-variant
    * counts and rates, and the pooled two-proportion z-statistic. Counts are
    * exact integers; the z formula is a pinned chain of IEEE ops
    * identical on both engines. Scale: one user-keyed aggregation + one
    * 2-row rollup. */
  def qAbtest(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 90.0, 1L)).as("conv"))
      .select((col("user_id") % 2).as("variant"),
        coalesce(col("conv"), lit(0L)).as("conv"))
    val v = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val wide = v.agg(
      sum(when(col("variant") === 0, col("n_users"))).as("n0"),
      sum(when(col("variant") === 0, col("n_conv"))).as("k0"),
      sum(when(col("variant") === 1, col("n_users"))).as("n1"),
      sum(when(col("variant") === 1, col("n_conv"))).as("k1"))
    wide.select(col("n0"), col("k0"), col("n1"), col("k1"),
        (col("k0").cast("double") / col("n0").cast("double")).as("p0"),
        (col("k1").cast("double") / col("n1").cast("double")).as("p1"))
      .withColumn("pp",
        (col("k0") + col("k1")).cast("double") / (col("n0") + col("n1")).cast("double"))
      .withColumn("z",
        (col("p0") - col("p1")) /
          sqrt(col("pp") * (lit(1.0) - col("pp")) *
            (lit(1.0) / col("n0").cast("double") + lit(1.0) / col("n1").cast("double"))))
  }

  val qAbtestSql: String =
    """WITH u AS (
      |  SELECT user_id % 2 AS variant,
      |    CASE WHEN MAX(CASE WHEN event_type = 'purchase' AND value > 90.0 THEN 1 END) IS NULL THEN 0 ELSE 1 END AS conv
      |  FROM events GROUP BY user_id),
      |v AS (SELECT variant, COUNT(*) AS n_users, SUM(conv) AS n_conv FROM u GROUP BY variant),
      |w AS (SELECT
      |        CAST(SUM(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS n0,
      |        CAST(SUM(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT) AS k0,
      |        CAST(SUM(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS n1,
      |        CAST(SUM(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT) AS k1
      |      FROM v),
      |r AS (SELECT n0, k0, n1, k1,
      |        CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
      |        CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
      |        CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pp
      |      FROM w)
      |SELECT n0, k0, n1, k1, p0, p1, pp,
      |  (p0 - p1) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) AS z
      |FROM r""".stripMargin

  /** e_freshness: data-freshness / SLA monitoring — per event stream, the
    * lag between its last event and the corpus frontier (the
    * deterministic stand-in for "now"), with a staleness verdict at a
    * 1-day budget. The per-feed dashboard a pipeline on-call reads.
    * One per-type aggregation + a broadcast 1-row frontier; |types|
    * output rows, exact integer microseconds. */
  def eFreshness(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
    val perType = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("ts_us")).as("last_ts_us"))
    perType.crossJoin(broadcast(e.agg(max(col("ts_us")).as("frontier_us"))))
      .select(col("event_type"), col("n_events"), col("last_ts_us"),
        (col("frontier_us") - col("last_ts_us")).as("lag_us"),
        ((col("frontier_us") - col("last_ts_us")) > 86400000000L).as("stale"))
      .orderBy(col("event_type"))
  }

  val eFreshnessSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events),
      |t AS (SELECT event_type, COUNT(*) AS n_events, MAX(ts_us) AS last_ts_us
      |      FROM e GROUP BY event_type),
      |f AS (SELECT MAX(ts_us) AS frontier_us FROM e)
      |SELECT event_type, n_events, last_ts_us,
      |  frontier_us - last_ts_us AS lag_us,
      |  (frontier_us - last_ts_us) > 86400000000 AS stale
      |FROM t, f ORDER BY event_type""".stripMargin

  /** q_quantiles_disc: DISCRETE percentiles — PERCENTILE_DISC returns an
    * actual data value (the smallest whose cumulative distribution ≥ p),
    * the right statistic when interpolated values are meaningless
    * (latencies, price points, ordinal codes). Completes the percentile
    * family beside q_quantiles (continuous) and q_approx_quantiles
    * (sketch). Same one-aggregation shape. */
  def qQuantilesDisc(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)").as("q25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)").as("q50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").as("price_q90"))
      .orderBy(col("l_returnflag"))

  val qQuantilesDiscSql: String =
    """SELECT l_returnflag,
      |  quantile_disc(l_quantity, 0.25) AS q25,
      |  quantile_disc(l_quantity, 0.5) AS q50,
      |  quantile_disc(l_extendedprice, 0.9) AS price_q90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q_histogram_eqd: EQUI-DEPTH histogram — the complement of
    * q_histogram's fixed-width bins: 8 buckets holding ~equal row mass,
    * boundaries from ONE percentile aggregation broadcast as a 1-row
    * frame, bucket = 1 + #boundaries strictly below the value (a narrow
    * map — NEVER a global ntile sort, which is the single-point-of-truth
    * anti-pattern at 100 TB). Per bucket: row count and true value
    * range. Boundary-tied values land in the lower bucket on both
    * engines.
    *
    * `approx = true` is the 100 TB path (the q_rfm toggle): exact
    * `percentile` holds a per-partition map of every distinct price —
    * at full scale that state IS the job — so the boundaries swap for
    * the mergeable percentile_approx sketch; same plan shape, same
    * bucketing map. SketchToggleSpec bounds the bucket disagreement at
    * sf0.1. The gate keeps exact for the oracle. */
  def qHistogramEqd(s: SparkSession, dir: String): DataFrame =
    qHistogramEqd(s, dir, approx = false)

  def qHistogramEqd(s: SparkSession, dir: String, approx: Boolean): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
    // r16 opt (guide §1.2 fewer passes): the exact path collapses to ONE
    // (x, count) value histogram; the boundary percentile rides the
    // frequency argument (value-identical buffer => bit-identical
    // boundaries) and the bucketing pass rides the SAME histogram — two
    // fact scans become one plus a domain-bounded frame. The approx
    // toggle keeps the per-row form: percentile_approx has no frequency
    // argument.
    if (approx) {
      val th = li.agg(expr(
        "percentile_approx(x, array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D), 10000)")
        .cast("array<double>").as("th")) // rank error ~1e-4 ≪ bucket width
      li.crossJoin(broadcast(th))
        .withColumn("bucket",
          expr("1 + aggregate(th, 0, (a, t) -> a + (CASE WHEN x > t THEN 1 ELSE 0 END))"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"))
        .orderBy(col("bucket"))
    } else {
      val hist = li.groupBy(col("x")).agg(count(lit(1)).as("cnt")).cpEager
      val th = hist.agg(expr(
        "percentile(x, array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D), cnt)")
        .cast("array<double>").as("th"))
      hist.crossJoin(broadcast(th))
        .withColumn("bucket",
          expr("1 + aggregate(th, 0, (a, t) -> a + (CASE WHEN x > t THEN 1 ELSE 0 END))"))
        .groupBy(col("bucket"))
        .agg(sum(col("cnt")).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"))
        .orderBy(col("bucket"))
    }
  }

  val qHistogramEqdSql: String =
    """WITH li AS (SELECT l_extendedprice AS x FROM lineitem),
      |th AS (SELECT quantile_cont(x, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS th FROM li)
      |SELECT bucket, COUNT(*) AS n, MIN(x) AS lo, MAX(x) AS hi FROM (
      |  SELECT x,
      |    1 + (CASE WHEN x > th[1] THEN 1 ELSE 0 END + CASE WHEN x > th[2] THEN 1 ELSE 0 END +
      |         CASE WHEN x > th[3] THEN 1 ELSE 0 END + CASE WHEN x > th[4] THEN 1 ELSE 0 END +
      |         CASE WHEN x > th[5] THEN 1 ELSE 0 END + CASE WHEN x > th[6] THEN 1 ELSE 0 END +
      |         CASE WHEN x > th[7] THEN 1 ELSE 0 END) AS bucket
      |  FROM li, th)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** io_manifest_stats: the data-skipping manifest promoted to a gate —
    * orders lands as an 8-file range-partitioned layout, the manifest
    * reads every (file, column) stat from parquet FOOTERS alone
    * (Manifest.collect — zero data pages touched), and the per-column
    * rollup across files (typed min-of-mins / max-of-maxes, summed row
    * counts, summed null counts) must equal DuckDB scanning the source
    * rows directly. Any drift in the writer's footer stats, the typed
    * row-group aggregation, or the rollup breaks the hash. Footer reads
    * are driver-side metadata I/O bounded by file count — the point of
    * the operator is that the 100 TB pruning decision never scans. */
  def ioManifestStats(s: SparkSession, dir: String): DataFrame = {
    val out = roundtripPath(dir, "manifest")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .repartitionByRange(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(out)
    val m = Manifest.collect(s, out, Seq("o_orderkey", "o_custkey", "o_orderstatus"))
      .cpEager
    def rollup(c: String, numeric: Boolean) = {
      val (mn, mx) =
        if (numeric) (min(col("min_value").cast("long")).cast("string"),
          max(col("max_value").cast("long")).cast("string"))
        else (min(col("min_value")), max(col("max_value")))
      m.filter(col("column") === c).groupBy(col("column"))
        .agg(sum(col("n_rows")).as("n_rows"), mn.as("min_value"), mx.as("max_value"),
          sum(col("null_count")).as("n_nulls"))
    }
    rollup("o_orderkey", numeric = true)
      .unionByName(rollup("o_custkey", numeric = true))
      .unionByName(rollup("o_orderstatus", numeric = false))
      .orderBy(col("column"))
  }

  val ioManifestStatsSql: String =
    """SELECT * FROM (
      |  SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows,
      |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
      |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_value,
      |    COUNT(*) - COUNT(o_orderkey) AS n_nulls FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey', COUNT(*), CAST(MIN(o_custkey) AS VARCHAR),
      |    CAST(MAX(o_custkey) AS VARCHAR), COUNT(*) - COUNT(o_custkey) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', COUNT(*), MIN(o_orderstatus),
      |    MAX(o_orderstatus), COUNT(*) - COUNT(o_orderstatus) FROM orders)
      |ORDER BY "column"""".stripMargin

  /** io_wap_roundtrip: write–audit–publish AS A GATE — the lakehouse
    * analogue of the reference's staged-table transaction, end-to-end:
    * snapshot A (1996 orders) stages and publishes; snapshot B (1997)
    * supersedes it; a THIRD snapshot with planted nulls fails its audit
    * and must leave production on B (staged files parked, pointer
    * untouched). The gate then reads BOTH the published pointer (B
    * content) and the superseded snapshot kept for rollback (A content)
    * and aggregates each — so the pointer swap, the audit veto and the
    * rollback retention are all under the oracle, which replays the two
    * windows from the source table. */
  def ioWapRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Quarantine, Wap}
    val root = roundtripPath(dir, "wap")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true) // idempotent reruns
    def window(yr: String) = Tables.orders(s, dir)
      .filter(expr(s"o_orderdate >= TIMESTAMP_NTZ '$yr-01-01 00:00:00' AND " +
        s"o_orderdate < TIMESTAMP_NTZ '${yr.toInt + 1}-01-01 00:00:00'"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val rules = Seq(Quarantine.Rule("price_nonnull", col("o_totalprice").isNotNull))
    Wap.stage(s, root, "a", window("1996")); Wap.publish(s, root, "a", rules)
    Wap.stage(s, root, "b", window("1997")); Wap.publish(s, root, "b", rules)
    val bad = window("1997").withColumn("o_totalprice",
      when(col("o_orderkey") % 5 === 0, lit(null)).otherwise(col("o_totalprice")))
    Wap.stage(s, root, "bad", bad)
    val veto = scala.util.Try(Wap.publish(s, root, "bad", rules))
    require(veto.isFailure, "audit must veto the null-bearing snapshot")
    require(Wap.currentLabel(s, root).contains("snap-b"),
      s"production must stay on B after the veto, got ${Wap.currentLabel(s, root)}")
    def agg(df: DataFrame, label: String) = df
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), xsum(col("o_totalprice")).as("rev"))
      .withColumn("snapshot", lit(label))
    agg(Wap.readCurrent(s, root), "current")
      .unionByName(agg(s.read.parquet(s"$root/snap-a"), "rollback"))
      .select(col("snapshot"), col("o_orderpriority"), col("n_orders"), col("rev"))
      .orderBy(col("snapshot"), col("o_orderpriority"))
  }

  val ioWapRoundtripSql: String =
    """SELECT snapshot, o_orderpriority, n_orders, rev FROM (
      |  SELECT 'current' AS snapshot, o_orderpriority, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY o_orderpriority
      |  UNION ALL
      |  SELECT 'rollback', o_orderpriority, COUNT(*),
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |  GROUP BY o_orderpriority)
      |ORDER BY snapshot, o_orderpriority""".stripMargin

  /** io_timetravel: TIME TRAVEL over the WAP snapshot store — the
    * Iceberg/Delta AS-OF read surface in miniature (operators/Wap
    * version log): three yearly snapshots publish through
    * publishVersioned (audit → immutable version-log append → pointer
    * swap), a null-bearing fourth FAILS its audit and must consume no
    * version; the gate then reads every version AS OF its ordinal and
    * aggregates — version assignment, log ordering, veto and the AS-OF
    * resolution are all under the oracle, which replays the three
    * windows from the source table. In-query requires pin the history
    * (exactly v1..v3) and the pointer (latest) — a torn log fails loudly
    * rather than hash-mismatching. */
  def ioTimetravel(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Quarantine, Wap}
    val root = roundtripPath(dir, "timetravel")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true) // idempotent reruns
    def window(yr: String) = Tables.orders(s, dir)
      .filter(expr(s"o_orderdate >= TIMESTAMP_NTZ '$yr-01-01 00:00:00' AND " +
        s"o_orderdate < TIMESTAMP_NTZ '${yr.toInt + 1}-01-01 00:00:00'"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val rules = Seq(Quarantine.Rule("price_nonnull", col("o_totalprice").isNotNull))
    val versions = Seq("1995", "1996", "1997").map { yr =>
      Wap.stage(s, root, yr, window(yr))
      (yr, Wap.publishVersioned(s, root, yr, rules))
    }
    require(versions.map(_._2) == Seq(1L, 2L, 3L), s"version assignment drifted: $versions")
    val bad = window("1997").withColumn("o_totalprice",
      when(col("o_orderkey") % 5 === 0, lit(null)).otherwise(col("o_totalprice")))
    Wap.stage(s, root, "bad", bad)
    require(scala.util.Try(Wap.publishVersioned(s, root, "bad", rules)).isFailure,
      "audit must veto the null-bearing snapshot")
    require(Wap.history(s, root).map(_._1) == Seq(1L, 2L, 3L),
      "a vetoed publish must not consume a version")
    require(Wap.currentLabel(s, root).contains("snap-1997"),
      "production must sit on the latest published version")
    def agg(v: Long) = Wap.readAsOf(s, root, v)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), xsum(col("o_totalprice")).as("rev"))
      .withColumn("version", lit(v))
    agg(1L).unionByName(agg(2L)).unionByName(agg(3L))
      .select(col("version"), col("o_orderpriority"), col("n_orders"), col("rev"))
      .orderBy(col("version"), col("o_orderpriority"))
  }

  val ioTimetravelSql: String = {
    val years = Seq((1, "1995"), (2, "1996"), (3, "1997"))
    val parts = years.map { case (v, yr) =>
      s"""SELECT CAST($v AS BIGINT) AS version, o_orderpriority, COUNT(*) AS n_orders,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
         |  FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$yr-01-01' AND o_orderdate < TIMESTAMP '${yr.toInt + 1}-01-01'
         |  GROUP BY o_orderpriority""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""SELECT version, o_orderpriority, n_orders, rev FROM (
       |  $parts) t
       |ORDER BY version, o_orderpriority""".stripMargin
  }

  /** io_vacuum: SNAPSHOT RETENTION over the WAP version store — the
    * expire-snapshots/VACUUM lifecycle io_timetravel's ever-growing log
    * needs (at 100 TB yesterday's snapshots are most of the bill): four
    * yearly snapshots publish, retention keeps the newest two, and the
    * gate pins EVERYTHING the contract promises in-query — expired
    * versions report (1,2) oldest-first, history collapses to exactly
    * (3,4), expired reads now FAIL, kept reads still answer, production
    * still points at the newest label, and a keepLast that would expire
    * the current pointer REFUSES. The emitted aggregate covers the two
    * surviving versions; the oracle replays their source windows. */
  def ioVacuum(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Quarantine, Wap}
    val root = roundtripPath(dir, "vacuum")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true) // idempotent reruns
    def window(yr: String) = Tables.orders(s, dir)
      .filter(expr(s"o_orderdate >= TIMESTAMP_NTZ '$yr-01-01 00:00:00' AND " +
        s"o_orderdate < TIMESTAMP_NTZ '${yr.toInt + 1}-01-01 00:00:00'"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val rules = Seq(Quarantine.Rule("price_nonnull", col("o_totalprice").isNotNull))
    Seq("1994", "1995", "1996", "1997").foreach { yr =>
      Wap.stage(s, root, yr, window(yr))
      Wap.publishVersioned(s, root, yr, rules)
    }
    // retention so aggressive it would expire production must refuse
    require(scala.util.Try(Wap.vacuum(s, root, 0)).isFailure, "keepLast=0 must refuse")
    // exercise the CURRENT-POINTER guard itself (keepLast=0 only trips the
    // argument check): roll production back to the 1995 snapshot
    // (idempotent re-publish reuses v2 and swings the pointer), then a
    // keepLast=2 vacuum — which would expire v1 AND v2 — must refuse
    // because production sits on v2; swing back and verify nothing expired
    Wap.publishVersioned(s, root, "1995", rules)
    require(Wap.currentLabel(s, root).contains("snap-1995"), "rollback must re-point")
    require(scala.util.Try(Wap.vacuum(s, root, 2)).isFailure,
      "vacuum must refuse to expire the version production points at")
    require(Wap.history(s, root).map(_._1) == Seq(1L, 2L, 3L, 4L),
      "a refused vacuum must expire nothing")
    Wap.publishVersioned(s, root, "1997", rules)
    val expired = Wap.vacuum(s, root, keepLast = 2)
    require(expired.map(_._1) == Seq(1L, 2L), s"expected v1,v2 expired: $expired")
    require(Wap.history(s, root).map(_._1) == Seq(3L, 4L),
      "history must collapse to the kept tail")
    require(scala.util.Try(Wap.readAsOf(s, root, 1L).count()).isFailure,
      "an expired version must no longer read")
    require(Wap.currentLabel(s, root).contains("snap-1997"),
      "production must still point at the newest label")
    def agg(v: Long) = Wap.readAsOf(s, root, v)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), xsum(col("o_totalprice")).as("rev"))
      .withColumn("version", lit(v))
    agg(3L).unionByName(agg(4L))
      .withColumn("n_expired", lit(expired.size.toLong))
      .select(col("version"), col("o_orderpriority"), col("n_orders"),
        col("rev"), col("n_expired"))
      .orderBy(col("version"), col("o_orderpriority"))
  }

  val ioVacuumSql: String = {
    val years = Seq((3, "1996"), (4, "1997"))
    val parts = years.map { case (v, yr) =>
      s"""SELECT CAST($v AS BIGINT) AS version, o_orderpriority, COUNT(*) AS n_orders,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev,
         |    CAST(2 AS BIGINT) AS n_expired
         |  FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$yr-01-01' AND o_orderdate < TIMESTAMP '${yr.toInt + 1}-01-01'
         |  GROUP BY o_orderpriority""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""SELECT version, o_orderpriority, n_orders, rev, n_expired FROM (
       |  $parts) t
       |ORDER BY version, o_orderpriority""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("io_vacuum", ioVacuum _, ioVacuumSql),
    Gate("io_timetravel", ioTimetravel _, ioTimetravelSql),
    Gate("q_mom_yoy", qMomYoy _, qMomYoySql),
    Gate("q_attribution", qAttribution _, qAttributionSql),
    Gate("q_funnel_steps", qFunnelSteps _, qFunnelStepsSql),
    Gate("q_abtest", qAbtest _, qAbtestSql),
    Gate("q_quantiles_disc", qQuantilesDisc _, qQuantilesDiscSql),
    Gate("q_histogram_eqd", qHistogramEqd _, qHistogramEqdSql),
    Gate("e_freshness", eFreshness _, eFreshnessSql),
    Gate("io_manifest_stats", ioManifestStats _, ioManifestStatsSql),
    Gate("io_wap_roundtrip", ioWapRoundtrip _, ioWapRoundtripSql),
  )
}
