package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.Ckpt._

/** Round-11 additions to the relational/analytics core: time-series
  * diagnostics (autocorrelation, CUSUM change detection) and the ABC /
  * Pareto concentration analysis with a genuinely distributed prefix sum.
  * All three follow the OracleParity convention — exact integer/decimal
  * moments, one pinned IEEE chain at the end — so results are bitwise
  * stable under any partitioning. */
object Relational7 {

  private val UsPerHour = 3600000000L
  private val UsPerDay  = 86400000000L

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))

  // ---------------------------------------------------------------- q_acf

  private val AcfLags = Seq(1, 2, 3, 6, 12, 24)

  /** q_acf: the AUTOCORRELATION FUNCTION of the hourly event-count series
    * at lags 1/2/3/6/12/24 h — the seasonality diagnostic that tells a
    * monitoring pipeline which lag q_seasonal should difference on (a
    * daily-periodic series spikes at lag 24). Counts ride a GAPLESS
    * zero-filled spine (a missing hour is a real 0 — dropping it would
    * shift every lag pair), and each r(k) derives from six exact moments
    * over the (x_t, x_{t+k}) pairs via the same pinned Pearson chain as
    * q_corr — no floating summation anywhere, so the value is identical
    * at any cluster size.
    *
    * Scale shape: ONE corpus aggregation collapses events to the
    * |hours|-row series; everything after (spine fill, lag self-join,
    * per-lag moments) runs on that bounded frame — at 100 TB the series
    * for a decade is <10⁶ rows. The lag table is 6 literal rows,
    * broadcast. */
  def qAcf(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val hourly = ev(s, dir)
      .withColumn("hour", expr(s"ts_us div $UsPerHour"))
      .groupBy(col("hour")).agg(count(lit(1)).as("x"))
    val spine = hourly.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("hour"))
    val series = spine.join(hourly, Seq("hour"), "left")
      .select(col("hour"), coalesce(col("x"), lit(0L)).as("x"))
      .cpLazy
    val lags = s.createDataFrame(AcfLags.map(Tuple1(_))).toDF("lag_h")
    val pairs = series.crossJoin(broadcast(lags))
      .select(col("lag_h"), (col("hour") + col("lag_h")).as("hour2"), col("x"))
      .join(series.select(col("hour").as("hour2"), col("x").as("y")), "hour2")
    val m = pairs.groupBy(col("lag_h")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x").cast(d38)).cast(DoubleType).as("sx"),
      sum(col("y").cast(d38)).cast(DoubleType).as("sy"),
      sum((col("x") * col("y")).cast(d38)).cast(DoubleType).as("sxy"),
      sum((col("x") * col("x")).cast(d38)).cast(DoubleType).as("sxx"),
      sum((col("y") * col("y")).cast(d38)).cast(DoubleType).as("syy"))
    val (n, sx, sy, sxy, sxx, syy) =
      (col("n_pairs"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
    // raw chain (r14 un-pin): inputs are correctly-rounded doubles of
    // exact decimal sums on BOTH sides (oracle varchar-routes the casts —
    // x^2 sums pass 2^64 at real scale), so the chain is bitwise
    m.select(col("lag_h"), n,
        ((n * sxy - sx * sy) /
          nullif(sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
                 sqrt(greatest(n * syy - sy * sy, lit(0.0))), lit(0.0)))
          .as("acf"))
      .orderBy(col("lag_h"))
  }

  val qAcfSql: String =
    s"""WITH hx AS (SELECT epoch_us(ts) // $UsPerHour AS hour, COUNT(*) AS x
       |            FROM events GROUP BY 1),
       |b AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM hx),
       |spine AS (SELECT unnest(range(h0, h1 + 1)) AS hour FROM b),
       |series AS (SELECT s.hour, COALESCE(hx.x, 0) AS x
       |           FROM spine s LEFT JOIN hx ON hx.hour = s.hour),
       |lags AS (SELECT unnest([${AcfLags.mkString(", ")}]) AS lag_h),
       |pairs AS (SELECT l.lag_h, a.x AS x, c.x AS y
       |          FROM lags l JOIN series a ON TRUE
       |          JOIN series c ON c.hour = a.hour + l.lag_h),
       |m AS (SELECT lag_h, COUNT(*) AS n_pairs,
       |        CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
       |        CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy,
       |        CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy,
       |        CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx,
       |        CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS syy
       |      FROM pairs GROUP BY lag_h)
       |SELECT lag_h, n_pairs,
       |  (n_pairs*sxy - sx*sy) / nullif(sqrt(greatest(n_pairs*sxx - sx*sx, 0.0))
       |    * sqrt(greatest(n_pairs*syy - sy*sy, 0.0)), 0.0) AS acf
       |FROM m ORDER BY lag_h""".stripMargin

  // -------------------------------------------------------------- q_cusum

  /** q_cusum: CUSUM CHANGE-POINT DETECTION on the daily revenue series —
    * the classic Page-style drift detector a data-quality monitor runs on
    * every business metric: S_t = Σ_{i≤t} (N·D_i − T) is the cumulative
    * deviation from the whole-period mean WITHOUT a mean division (N·D_i − T
    * keeps every term an exact decimal; S crosses its extremum exactly at
    * the change point), and the day where |S_t| peaks is the estimated
    * break. Output: the |days|-row S curve with the peak day(s) flagged.
    *
    * Scale shape: one keyed aggregation collapses orders to |days| rows;
    * the running sum and the peak flag both live on that bounded frame
    * (a decade is ~3 700 rows — a driver-trivial window), with the 1-row
    * total broadcast. Exact decimals end-to-end, doubles only on output. */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    val d18 = DecimalType(18, 6)
    val daily = Tables.orders(s, dir)
      .withColumn("day", expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $UsPerDay"))
      .groupBy(col("day")).agg(sum(col("o_totalprice").cast(d18)).as("rev"))
    val tot = daily.agg(count(lit(1)).cast(DecimalType(10, 0)).as("nd"),
      sum(col("rev")).as("t"))
    val w = Window.orderBy(col("day"))
    val curve = daily.crossJoin(broadcast(tot))
      .withColumn("dev", (col("nd") * col("rev") - col("t")).cast(DecimalType(38, 6)))
      .withColumn("cusum", sum(col("dev")).over(w).cast(DecimalType(38, 6)))
    val peak = curve.agg(max(abs(col("cusum"))).as("pk"))
    curve.crossJoin(broadcast(peak))
      .select(col("day"),
        col("rev").cast(DoubleType).as("revenue"),
        col("dev").cast(DoubleType).as("dev"),
        col("cusum").cast(DoubleType).as("cusum"),
        (abs(col("cusum")) === col("pk")).as("is_peak"))
      .orderBy(col("day"))
  }

  val qCusumSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $UsPerDay AS day,
       |         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS DECIMAL(10,0)) AS nd, SUM(rev) AS t FROM daily),
       |curve AS (
       |  SELECT day, rev, CAST(nd * rev - t AS DECIMAL(38,6)) AS dev,
       |    CAST(SUM(CAST(nd * rev - t AS DECIMAL(38,6))) OVER (ORDER BY day) AS DECIMAL(38,6)) AS cusum
       |  FROM daily, tot),
       |peak AS (SELECT MAX(abs(cusum)) AS pk FROM curve)
       |SELECT day, CAST(rev AS DOUBLE) AS revenue, CAST(dev AS DOUBLE) AS dev,
       |  CAST(cusum AS DOUBLE) AS cusum, abs(cusum) = pk AS is_peak
       |FROM curve, peak ORDER BY day""".stripMargin

  // ------------------------------------------------------------- q_pareto

  private val ParetoBands = 16

  /** q_pareto: ABC / PARETO concentration analysis — customers ranked by
    * revenue, classified A (first 50 % of cumulative revenue mass),
    * B (50–80 %), C (tail): the inventory/CRM "how concentrated is my
    * business" report. The cumulative sum over |customers| is computed as
    * a DISTRIBUTED PREFIX SUM: revenue (exact integer micro-units) maps
    * each customer to one of 16 equal-width value bands with pure integer
    * arithmetic, per-band masses prefix over the 16-row band frame, and
    * the within-band running sum is a window PARTITIONED BY band — no
    * global single-partition sort anywhere (the q_basket/q_label_prop
    * class of scale-killer this operator exists to avoid). Band assign is
    * monotone in revenue and ties share a band, so band-desc-then-within
    * order equals the global (rev DESC, custkey) order and the result is
    * value-identical to the oracle's flat window.
    *
    * Thresholds are exact decimal comparisons (2·cum ≤ T, 5·cum ≤ 4·T);
    * the only doubles are the two pinned output divisions. */
  def qPareto(s: SparkSession, dir: String): DataFrame = {
    val d18 = DecimalType(18, 6); val d38 = DecimalType(38, 0)
    val rev = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(d18)).as("rev"))
      .select(col("o_custkey"), (col("rev") * lit(1000000)).cast("long").as("rev_i"))
    val bounds = rev.agg(min(col("rev_i")).as("lo"), max(col("rev_i")).as("hi"))
    val banded = rev.crossJoin(broadcast(bounds))
      .withColumn("band", expr(s"((rev_i - lo) * $ParetoBands) div (hi - lo + 1)"))
      .cpLazy
    val bandMass = banded.groupBy(col("band"))
      .agg(sum(col("rev_i").cast(d38)).as("bmass"))
    val wOff = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bandMass
      .withColumn("offset", coalesce(sum(col("bmass")).over(wOff), lit(0).cast(d38)))
      .select(col("band"), col("offset"))
    val wIn = Window.partitionBy(col("band"))
      .orderBy(col("rev_i").desc, col("o_custkey"))
    val tot = rev.agg(sum(col("rev_i").cast(d38)).as("t"))
    val cum = banded.join(broadcast(offsets), "band")
      .withColumn("within", sum(col("rev_i").cast(d38)).over(wIn))
      .withColumn("cum", col("offset") + col("within"))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum") * 2 <= col("t"), lit("A"))
          .when(col("cum") * 5 <= col("t") * 4, lit("B"))
          .otherwise(lit("C")))
    cum.groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("rev_i").cast(d38)).cast(DoubleType) / lit(1000000.0)).as("class_revenue"),
        (sum(col("rev_i").cast(d38)).cast(DoubleType) /
          first(col("t")).cast(DoubleType)).as("revenue_share"))
      .orderBy(col("abc_class"))
  }

  val qParetoSql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_i
       |  FROM orders GROUP BY o_custkey),
       |cum AS (
       |  SELECT o_custkey, rev_i,
       |    SUM(CAST(rev_i AS DECIMAL(38,0))) OVER (ORDER BY rev_i DESC, o_custkey) AS cum
       |  FROM rev),
       |tot AS (SELECT SUM(CAST(rev_i AS DECIMAL(38,0))) AS t FROM rev)
       |SELECT CASE WHEN cum * 2 <= t THEN 'A' WHEN cum * 5 <= t * 4 THEN 'B' ELSE 'C' END AS abc_class,
       |  COUNT(*) AS n_customers,
       |  CAST(SUM(CAST(rev_i AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS class_revenue,
       |  CAST(SUM(CAST(rev_i AS DECIMAL(38,0))) AS DOUBLE) / CAST(t AS DOUBLE) AS revenue_share
       |FROM cum, tot GROUP BY 1, t ORDER BY 1""".stripMargin

  // -------------------------------------------------------------- q_paths

  private val PathTopK = 20

  /** q_paths: top event-type PATHS (3-step behavioral sequences) — the
    * Sankey/user-flow report product analytics ships beside q_funnel
    * (which checks ONE prescribed order; this discovers which orders
    * actually happen): per user every consecutive (t₁ → t₂ → t₃)
    * window via two leads over ONE user-keyed time sort (tie-broken on
    * event_id for a total order), counted corpus-wide, top-20 by count
    * via TakeOrderedAndProject.
    *
    * Scale shape: one user-keyed window shuffle (both leads share the
    * sort) + one path-keyed count (map-side partial; paths are
    * |types|³-bounded keys) + a k-bounded top-k. The fact table shuffles
    * once. */
  def qPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val paths = ev(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
    val top = paths.orderBy(col("n").desc, col("path")).limit(PathTopK)
    val wr = Window.orderBy(col("n").desc, col("path"))
    top.withColumn("rnk", row_number().over(wr))
      .select(col("rnk"), col("path"), col("n"))
      .orderBy(col("rnk"))
  }

  val qPathsSql: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
       |seq AS (
       |  SELECT event_type AS t1,
       |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS t2,
       |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS t3
       |  FROM e),
       |p AS (SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
       |      FROM seq WHERE t3 IS NOT NULL GROUP BY 1)
       |SELECT rnk, path, n FROM (
       |  SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rnk FROM p)
       |WHERE rnk <= $PathTopK ORDER BY rnk""".stripMargin

  // --------------------------------------------------------------- q_gaps

  /** q_gaps: the INTER-EVENT TIME spectrum — per user the gap between
    * consecutive events, bucketed by the binary magnitude of the gap in
    * seconds (t_zipf's exact length(bin(x))−1 trick — never a float
    * log2): the engagement/latency distribution behind session-gap
    * tuning (q_sessionize's 30-min threshold should sit in this
    * spectrum's valley) and bot detection (sub-second spikes). Reports
    * per bucket the gap count and exact min/max gap.
    *
    * Scale shape: ONE user-keyed window (total order on ts_us,
    * event_id) then a ≤64-row magnitude rollup — the fact table
    * shuffles once. */
  def qGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    ev(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(expr("(ts_us - prev) div 1000000").as("gap_s"))
      .select((length(bin(col("gap_s"))) - 1).cast("long").as("gap_bucket"), col("gap_s"))
      .groupBy(col("gap_bucket"))
      .agg(count(lit(1)).as("n_gaps"), min(col("gap_s")).as("min_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("gap_bucket"))
  }

  val qGapsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
      |g AS (
      |  SELECT (ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) // 1000000 AS gap_s
      |  FROM e)
      |SELECT CAST(length(bin(gap_s)) - 1 AS BIGINT) AS gap_bucket,
      |  COUNT(*) AS n_gaps, MIN(gap_s) AS min_gap_s, MAX(gap_s) AS max_gap_s
      |FROM g WHERE gap_s IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------- io_bucket_join

  /** io_bucket_join: the ZERO-SHUFFLE CO-LOCATED JOIN as an oracle gate —
    * the bucketing contract §5 promises ("pre-partition both sides once,
    * join forever without an exchange") proven end-to-end under the
    * DuckDB oracle, not just in a spec: orders and customer are written
    * as 8-bucket tables bucketed+sorted on the join key, the join runs
    * through the bucketed scans as a SortMergeJoin with NO exchange on
    * the key (require()-guarded in the gate AND PlanSpec-pinned; the
    * merge hint keeps AQE from demonstrating a broadcast instead), and
    * the per-segment revenue rollup must hash-match the oracle's plain
    * join of the raw tables — layout change, zero semantic change.
    *
    * At 100 TB this is THE star-join strategy for fact-fact joins: the
    * one-time bucketed write amortizes over every subsequent join, which
    * then shuffles nothing. */
  def ioBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_bucket_${Integer.toHexString(dir.hashCode)}"
    def writeBucketed(df: DataFrame, table: String, sub: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $table")
      df.write.mode("overwrite").option("path", s"$base/$sub")
        .bucketBy(8, "k").sortBy("k").format("parquet").saveAsTable(table)
    }
    writeBucketed(Tables.orders(s, dir)
      .select(col("o_custkey").as("k"), col("o_totalprice")),
      "graft_bkt_orders", "orders")
    writeBucketed(Tables.customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment")),
      "graft_bkt_customer", "customer")
    val joined = s.table("graft_bkt_orders").hint("merge")
      .join(s.table("graft_bkt_customer"), "k")
    val p = joined.queryExecution.executedPlan.toString
    require(p.linesIterator.count(_.contains("Bucketed: true")) == 2,
      s"both sides must read through bucketed scans:\n${p.take(2000)}")
    require(!p.contains("Exchange hashpartitioning(k"),
      s"the co-located join must not shuffle on the key:\n${p.take(2000)}")
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.OracleParity.xsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val ioBucketJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_acf", qAcf _, qAcfSql),
    Gate("q_cusum", qCusum _, qCusumSql),
    Gate("q_pareto", qPareto _, qParetoSql),
    Gate("q_paths", qPaths _, qPathsSql),
    Gate("q_gaps", qGaps _, qGapsSql),
    Gate("io_bucket_join", ioBucketJoin _, ioBucketJoinSql),
  )
}
