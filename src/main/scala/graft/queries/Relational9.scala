package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.functions.OracleParity.x6
import graft.Ckpt._

/** Round-11 additions, batch 3: non-parametric / robust statistics — the
  * analyst toolkit that complements Relational8's distribution
  * diagnostics: Spearman rank correlation, the Mann-Whitney U test (the
  * non-parametric A/B companion to q_abtest / q_ab_srm), Simpson
  * diversity, winsorized means, and moment-based skewness/kurtosis.
  *
  * Parity discipline (SURVEY §6): every statistic is computed from EXACT
  * integer or decimal aggregates (ranks, counts, integer cents, rank-sum
  * products), with floating point appearing only in one final pinned
  * IEEE chain per output column. No ln/pow anywhere (libm-dependent);
  * sqrt only (correctly-rounded by IEEE 754 in both engines). */
object Relational9 {

  // ---------------------------------------------------------- q_spearman

  /** q_spearman: SPEARMAN rank correlation per nation between a
    * customer's account balance and their lifetime order spend — the
    * robust (outlier-immune) alternative to Pearson that every analyst
    * reaches for on heavy-tailed monetary data.
    *
    * Rho comes from the Σd² formula 1 − 6·Σd²/(n(n²−1)) over AVERAGE
    * MIDRANKS — tied values share (min_rank + max_rank)/2, the canonical
    * tie treatment, carried in exact HALF-UNITS (midrank·2 =
    * 2·rank + tie_count − 1, an integer) so every aggregate stays an
    * exact BIGINT: Σd² in quarter-units makes rho = 1 − 1.5·Σd²ₓ₄/
    * (n(n²−1)), ONE pinned float chain. (With heavy ties the Σd² formula
    * is the standard midrank approximation to Pearson-on-midranks —
    * exact-equal without ties; the full tie-corrected form needs float
    * corr(), which is partition-order-dependent across engines.)
    *
    * Scale shape (the VERDICT r12 banded-rank rewrite): one keyed spend
    * aggregation (map-side partial), one broadcast-able join, then each
    * of the two in-nation ranks is a DISTRIBUTED banded rank
    * (BandedRank.withMinRank — 16 broadcast value bands, within-band
    * rank windows PARTITION BY (nation, band), cross-band row-count
    * offsets over the ≤|nations|·16-row band frame), replacing the flat
    * per-nation rank windows that sorted every nation's customers
    * through one reducer each. The tie counts ride (nation, value)
    * partitions — unbounded-cardinality keys that shard freely. One
    * ≤|nations|-row aggregate closes it. */
  def qSpearman(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("spend"))
    val joined = Tables.customer(s, dir)
      .join(spend, col("o_custkey") === col("c_custkey"), "left")
      .select(col("c_nationkey").as("nationkey"), col("c_custkey").as("ck"),
        col("c_acctbal").as("x_val"),
        coalesce(col("spend"), lit(0).cast(DecimalType(18, 6))).as("y_val"))
    val ranked = graft.operators.BandedRank.withMinRanks(
      joined.cpEager, // consumed 4x by INDEPENDENT stages of the banded rank
        // (bounds, band counts, joins) — lazy would recompute it per stage
      Seq("nationkey"), Seq("x_val" -> "rkx", "y_val" -> "rky"))
    // midrank in half-units: 2·midrank = 2·rank + ties − 1 (exact BIGINT);
    // the tie windows partition by (nation, value) — corpus-cardinality
    def mid2(rk: String, v: String) = col(rk) * 2 +
      count(lit(1)).over(Window.partitionBy(col("nationkey"), col(v))) - 1L
    val d = mid2("rkx", "x_val") - mid2("rky", "y_val")
    ranked
      .select(col("nationkey"), (d * d).as("d2x4"))
      .groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("d2x4")).as("sum_d2x4"))
      .filter(col("n") >= 2)
      .select(col("nationkey"), col("n"), col("sum_d2x4"),
        (lit(1.0) - lit(1.5) * col("sum_d2x4").cast(DoubleType) /
          (col("n") * (col("n") * col("n") - lit(1L))).cast(DoubleType))
          .as("rho"))
      .orderBy(col("nationkey"))
  }

  val qSpearmanSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
      |  FROM orders GROUP BY o_custkey),
      |v AS (
      |  SELECT c_nationkey AS nationkey, c_acctbal AS x,
      |    COALESCE(spend, CAST(0 AS DECIMAL(18,6))) AS y
      |  FROM customer LEFT JOIN spend ON o_custkey = c_custkey),
      |r AS (
      |  SELECT nationkey,
      |    CAST(2 * RANK() OVER (PARTITION BY nationkey ORDER BY x) AS BIGINT)
      |      + COUNT(*) OVER (PARTITION BY nationkey, x) - 1 AS rx2,
      |    CAST(2 * RANK() OVER (PARTITION BY nationkey ORDER BY y) AS BIGINT)
      |      + COUNT(*) OVER (PARTITION BY nationkey, y) - 1 AS ry2
      |  FROM v),
      |a AS (
      |  SELECT nationkey, COUNT(*) AS n,
      |    CAST(SUM((rx2 - ry2) * (rx2 - ry2)) AS BIGINT) AS sum_d2x4
      |  FROM r GROUP BY nationkey)
      |SELECT nationkey, n, sum_d2x4,
      |  1.0 - 1.5 * CAST(sum_d2x4 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE) AS rho
      |FROM a WHERE n >= 2 ORDER BY nationkey""".stripMargin

  // ------------------------------------------------------ q_mann_whitney

  /** q_mann_whitney: MANN-WHITNEY U test per event type — the
    * non-parametric two-sample test for "does variant B shift the value
    * distribution", robust where q_abtest's mean comparison is not. The
    * variant split reuses q_ab_srm's md5 bucketing so the two
    * experiment gates read the same assignment.
    *
    * CANONICAL TIE HANDLING: ranks are average midranks (tied values
    * share (min_rank + max_rank)/2), carried in exact HALF-UNITS
    * (2·midrank = 2·rank + tie_count − 1, an integer) so R₁ and U₁ stay
    * exact BIGINTs — u1x2 = 2·U₁. The normal-approximation z uses the
    * TIE-CORRECTED variance n₁n₂/12·((n+1) − Σ(t³−t)/(n(n−1))) with the
    * tie-group term an exact integer aggregate; the whole z is ONE
    * pinned chain (sqrt is IEEE-exact).
    *
    * Scale shape (the VERDICT r12 banded-rank rewrite): the fact table
    * COLLAPSES first to one row per (event_type, value) carrying the two
    * variant counts (map-side partial — the rank statistic only depends
    * on the tie-group counts, never on individual rows), then the global
    * in-group rank is the DISTRIBUTED prefix sum over that collapsed
    * frame via BandedRank.withPrefixSums: 16 broadcast value bands,
    * within-band windows PARTITION BY (event_type, band), cross-band
    * offsets on the ≤|types|·16-row band frame — NO window anywhere
    * partitions a corpus-sized group through one reducer (the flat
    * per-type rank window this replaces pushed the whole events table
    * through ~5 tasks). On the collapsed frame: min-rank of a value =
    * (Σ counts of smaller values) + 1 = cum − cnt + 1, so
    * 2·midrank = 2·(cum − cnt) + cnt + 1, and R₁ in half-units sums
    * c₁ · rnk2 per distinct value; Σ_rows(c²−1) = Σ_values cnt·(cnt²−1).
    * Everything after the collapse is band-frame-sized or ≤|types| rows. */
  def qMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
    val g = ev.groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c2"))
      .withColumn("cnt", col("c1") + col("c2"))
      .cpEager // consumed 3x by INDEPENDENT stages of the banded prefix —
      // lazy would recompute the (type, value) collapse per stage
    mannWhitney(g)
  }

  /** The U/z core over any collapsed (event_type, value, c1, c2, cnt)
    * frame — factored out (r14) so KruskalWallisSpec can pin the k=2
    * identity H_adj = z² against it on the same planted frame. */
  private[graft] def mannWhitney(g: DataFrame): DataFrame = {
    val ranked = graft.operators.BandedRank.withPrefixSums(
      g, Seq("event_type"), "value", Seq("cnt" -> "cum"))
    val rnk2 = (col("cum") - col("cnt")) * 2 + col("cnt") + 1L
    val agg = ranked.withColumn("rnk2", rnk2)
      .groupBy(col("event_type"))
      .agg(
        sum(col("c1")).as("n1"),
        sum(col("c2")).as("n2"),
        sum(col("c1") * col("rnk2")).as("r1x2"),
        sum((col("cnt") * col("cnt") - 1L) * col("cnt")).as("tt"))
    val u1x2 = col("r1x2") - col("n1") * (col("n1") + lit(1L))
    val num = (u1x2 - col("n1") * col("n2")).cast(DoubleType)
    val varr = (col("n1") * col("n2")).cast(DoubleType) *
      ((col("n1") + col("n2") + lit(1L)).cast(DoubleType) -
        col("tt").cast(DoubleType) /
          ((col("n1") + col("n2")) * (col("n1") + col("n2") - lit(1L))).cast(DoubleType)) /
      lit(12.0)
    agg
      .select(col("event_type"), col("n1"), col("n2"), u1x2.as("u1x2"),
        when(varr > 0.0, num / (lit(2.0) * sqrt(varr))).as("z"))
      .orderBy(col("event_type"))
  }

  val qMannWhitneySql: String =
    """WITH ev AS (
      |  SELECT event_type, value,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant
      |  FROM events WHERE value IS NOT NULL),
      |r AS (
      |  SELECT event_type, variant,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type, value) AS BIGINT) AS cnt,
      |    CAST(2 * RANK() OVER (PARTITION BY event_type ORDER BY value) AS BIGINT)
      |      + COUNT(*) OVER (PARTITION BY event_type, value) - 1 AS rnk2
      |  FROM ev),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN variant = 0 THEN rnk2 ELSE 0 END) AS BIGINT) AS r1x2,
      |    CAST(SUM(cnt * cnt - 1) AS BIGINT) AS tt
      |  FROM r GROUP BY event_type)
      |SELECT event_type, n1, n2,
      |  r1x2 - n1 * (n1 + 1) AS u1x2,
      |  CASE WHEN CAST(n1 * n2 AS DOUBLE) * (CAST(n1 + n2 + 1 AS DOUBLE)
      |         - CAST(tt AS DOUBLE) / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)) / 12.0 > 0.0
      |  THEN CAST(r1x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
      |    / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) * (CAST(n1 + n2 + 1 AS DOUBLE)
      |         - CAST(tt AS DOUBLE) / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)) / 12.0))
      |  END AS z
      |FROM a ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------- q_simpson

  /** q_simpson: SIMPSON DIVERSITY of a user cohort's event mix —
    * 1 − Σpᵢ², the log-free entropy analog (Shannon needs ln, which is
    * libm-implementation-dependent and would break bitwise parity — the
    * same deviation t_tfidf documents). High = the cohort spreads across
    * event types; low = dominated by one action. Σpᵢ² = Σnᵢ²/n², so the
    * whole statistic is exact integers plus ONE pinned division.
    *
    * Scale shape: one (cohort, type) count (map-side partials), one
    * ≤|cohorts|-row re-aggregate. */
  def qSimpson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select((col("user_id") % 10).as("cohort"), col("event_type"))
      .groupBy(col("cohort"), col("event_type"))
      .agg(count(lit(1)).as("ni"))
      .groupBy(col("cohort"))
      .agg(sum(col("ni")).as("n"), count(lit(1)).as("n_types"),
        sum(col("ni") * col("ni")).as("sum_sq"))
      .select(col("cohort"), col("n"), col("n_types"),
        (lit(1.0) - col("sum_sq").cast(DoubleType) /
          (col("n") * col("n")).cast(DoubleType)).as("simpson"))
      .orderBy(col("cohort"))

  val qSimpsonSql: String =
    """WITH c AS (
      |  SELECT user_id % 10 AS cohort, event_type, COUNT(*) AS ni
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT cohort, CAST(SUM(ni) AS BIGINT) AS n, COUNT(*) AS n_types,
      |    SUM(ni * ni) AS sum_sq
      |  FROM c GROUP BY cohort)
      |SELECT cohort, n, n_types,
      |  1.0 - CAST(sum_sq AS DOUBLE) / CAST(n * n AS DOUBLE) AS simpson
      |FROM a ORDER BY cohort""".stripMargin

  // --------------------------------------------------------- q_winsorize

  /** q_winsorize: WINSORIZED mean per nation — clamp account balances to
    * the group's [p05, p95] before averaging, the standard
    * outlier-robust mean for reporting. Exact percentile (linear
    * interpolation, identical formula both engines — q_quantiles'
    * established parity); clamps are pure comparisons; the mean follows
    * the decimal-sum convention.
    *
    * The mean itself is NOT an x6-rounded double quotient: rounding
    * sum/n to 6 decimals flips between engines when the quotient sits
    * on a .5·10⁻⁶ boundary (Spark casts double→decimal via the shortest
    * string representation, DuckDB via the exact binary value — the
    * sf0.001 probe caught exactly that). Instead the mean is an exact
    * HALF-UP INTEGER DIVISION in micro-units — (2s+n) div (2n),
    * sign-symmetric — so no double is ever rounded.
    *
    * Scale shape: percentile agg to ≤|nations| rows, broadcast back,
    * narrow clamp scan, integer re-aggregate. At 100 TB swap
    * percentile → percentile_approx exactly like q_rfm's toggle. */
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_nationkey").as("nationkey"), col("c_acctbal").as("x"))
    val pct = c.groupBy(col("nationkey")).agg(
      expr("percentile(x, 0.05)").as("lo"),
      expr("percentile(x, 0.95)").as("hi"))
    c.join(broadcast(pct), "nationkey")
      .withColumn("w", least(greatest(col("x"), col("lo")), col("hi")))
      .withColumn("wm", (col("w").cast(DecimalType(18, 6)) * lit(1000000L)).cast("long"))
      .groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(col("wm")).as("s"))
      .withColumn("mm", expr(
        "CASE WHEN s >= 0 THEN (2*s + n) div (2*n) ELSE -((-2*s + n) div (2*n)) END"))
      .select(col("nationkey"), col("n"), x6(col("lo")).as("lo"),
        x6(col("hi")).as("hi"),
        (col("mm").cast(DoubleType) / lit(1000000.0)).as("wmean"))
      .orderBy(col("nationkey"))
  }

  val qWinsorizeSql: String =
    """WITH pct AS (
      |  SELECT c_nationkey AS nationkey,
      |    quantile_cont(c_acctbal, 0.05) AS lo, quantile_cont(c_acctbal, 0.95) AS hi
      |  FROM customer GROUP BY c_nationkey),
      |w AS (
      |  SELECT c.c_nationkey AS nationkey, p.lo, p.hi,
      |    CAST(CAST(least(greatest(c.c_acctbal, p.lo), p.hi) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS wm
      |  FROM customer c JOIN pct p ON p.nationkey = c.c_nationkey),
      |a AS (
      |  SELECT nationkey, COUNT(*) AS n, MAX(lo) AS lo, MAX(hi) AS hi, SUM(wm) AS s
      |  FROM w GROUP BY nationkey)
      |SELECT nationkey, n,
      |  CAST(CAST(lo AS DECIMAL(18,6)) AS DOUBLE) AS lo,
      |  CAST(CAST(hi AS DECIMAL(18,6)) AS DOUBLE) AS hi,
      |  CAST(CASE WHEN s >= 0 THEN (2*s + n) // (2*n) ELSE -((-2*s + n) // (2*n)) END AS DOUBLE)
      |    / 1000000.0 AS wmean
      |FROM a ORDER BY nationkey""".stripMargin

  // ----------------------------------------------------------- q_moments

  /** q_moments: moment-based SKEWNESS and KURTOSIS per nation — the
    * distribution-shape profile (is the balance distribution symmetric?
    * heavy-tailed?) a data-quality dashboard reports next to mean/std.
    *
    * Spark's built-in skewness()/kurtosis() stream float partials whose
    * totals are partition-order-dependent; instead the four raw power
    * sums Σx..Σx⁴ are computed EXACTLY over integer cents (DECIMAL(38,0)
    * in Spark, HUGEINT in the oracle — converted to double via the
    * oracle's VARCHAR route, the r14 rule: DuckDB's direct int128→double
    * cast misrounds near-tie values), and the central-moment formulas
    * run as one pinned IEEE chain per output, emitted un-rounded.
    * m2^1.5 is written m2·√m2 because pow() is libm-dependent while sqrt
    * is IEEE-exact.
    *
    * Scale shape: ONE map-side-partial aggregation to ≤|nations| rows;
    * exact decimal partials merge associatively under any AQE
    * re-partitioning. */
  def qMoments(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("c_acctbal").cast(DecimalType(18, 6)) * lit(100L))
      .cast("long").cast(DecimalType(38, 0))
    val a = Tables.customer(s, dir)
      .select(col("c_nationkey").as("nationkey"), cents.as("x"))
      .groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("x") * col("x")).as("sxxx"),
        sum(col("x") * col("x") * col("x") * col("x")).as("sxxxx"))
    val nd = col("n").cast(DoubleType)
    val mean = col("sx").cast(DoubleType) / nd
    val m2 = col("sxx").cast(DoubleType) / nd - mean * mean
    val m3 = col("sxxx").cast(DoubleType) / nd -
      lit(3.0) * mean * (col("sxx").cast(DoubleType) / nd) +
      lit(2.0) * mean * mean * mean
    val m4 = col("sxxxx").cast(DoubleType) / nd -
      lit(4.0) * mean * (col("sxxx").cast(DoubleType) / nd) +
      lit(6.0) * mean * mean * (col("sxx").cast(DoubleType) / nd) -
      lit(3.0) * mean * mean * mean * mean
    // zero-variance guard: m2 = 0 makes the ratios NaN — NULL beats
    // comparing engine NaN bit patterns. Both engines share the identical
    // pinned m2 (same IEEE chain), so the m2 > 0 predicate agrees bitwise.
    // Un-pinned (r14): the first un-pinning attempt FAILED at sf0.1 with
    // a ~4·10⁻¹³ skew divergence, which root-caused to DuckDB's
    // int128→double cast misrounding ~1% of >2⁵³ values (near-tie cases,
    // fuzz-measured) — amplified here because m3/m4 subtract ~10²⁰-scale
    // terms. The fix is in the ORACLE: big sums convert via
    // CAST(CAST(x AS VARCHAR) AS DOUBLE), whose string parse is correctly
    // rounded like Spark's Decimal.toDouble — with both engines' inputs
    // bitwise-equal doubles, the cancellation-heavy chain is bitwise too.
    a.select(col("nationkey"), col("n"),
        (mean / lit(100.0)).as("mean"),
        when(m2 > 0.0, m3 / (m2 * sqrt(m2))).as("skewness"),
        when(m2 > 0.0, m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
      .orderBy(col("nationkey"))
  }

  val qMomentsSql: String =
    """WITH c AS (
      |  SELECT c_nationkey AS nationkey,
      |    CAST(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 100 AS BIGINT) AS HUGEINT) AS x
      |  FROM customer),
      |a AS (
      |  SELECT nationkey, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
      |    SUM(x * x * x) AS sxxx, SUM(x * x * x * x) AS sxxxx
      |  FROM c GROUP BY nationkey),
      |m AS (
      |  -- big-int -> double via VARCHAR: DuckDB's int128->double cast
      |  -- misrounds values above 2^64 (never below); the string parse is correctly
      |  -- rounded like Spark's Decimal.toDouble (SURVEY §6 r14 rule)
      |  SELECT nationkey, n,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
      |    CAST(CAST(sxxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
      |    CAST(CAST(sxxxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS e4
      |  FROM a),
      |k AS (
      |  SELECT nationkey, n, mean,
      |    e2 - mean * mean AS m2,
      |    e3 - 3.0 * mean * e2 + 2.0 * mean * mean * mean AS m3,
      |    e4 - 4.0 * mean * e3 + 6.0 * mean * mean * e2
      |      - 3.0 * mean * mean * mean * mean AS m4
      |  FROM m)
      |SELECT nationkey, n,
      |  mean / 100.0 AS mean,
      |  CASE WHEN m2 > 0.0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
      |  CASE WHEN m2 > 0.0 THEN m4 / (m2 * m2) - 3.0 END AS kurtosis
      |FROM k ORDER BY nationkey""".stripMargin

  // ---------------------------------------------------------- q_bollinger

  /** q_bollinger: rolling VOLATILITY BANDS over daily revenue — the
    * trailing-window mean ± 2σ breakout monitor (the metric-ops classic
    * beside q_cusum's drift detector and q_trailing7's smoother: CUSUM
    * finds sustained shifts, Bollinger flags single-day excursions
    * relative to RECENT volatility, which a fixed threshold can't do on
    * a seasonal series). Bands come from the trailing 7 days EXCLUDING
    * today, so today's spike can't widen its own band.
    *
    * Parity: daily revenue in exact integer cents; window sums Σx
    * (BIGINT) and Σx² (DECIMAL(38,0) Spark / HUGEINT oracle — x² passes
    * 2⁶³ at sf0.1) are exact; mean/σ/bands are ONE pinned IEEE chain
    * (sqrt only) emitted UN-rounded — with exact integer inputs the
    * chain is already bitwise-deterministic, and adding x6 would
    * INTRODUCE the only nondeterminism (2392×3 double→decimal casts ≈
    * a guaranteed shortest-string-vs-exact-binary boundary hit, which
    * the first sf0.01 run of this gate demonstrated on one row).
    *
    * Scale shape: the fact table aggregates ONCE to the |days| frame;
    * the ROWS window rides that bounded calendar frame (q_trailing7's
    * documented pattern — never a fact-sized sort). */
  def qBollinger(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 6))) * lit(100L))
        .cast("long").as("x"))
    val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
    val xd = col("x").cast(DoubleType)
    val mean = col("sx").cast(DoubleType) / lit(7.0)
    val variance = (lit(7.0) * col("sxx").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) / lit(49.0)
    val lower = mean - lit(2.0) * sqrt(variance)
    val upper = mean + lit(2.0) * sqrt(variance)
    daily
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sxx", sum((col("x").cast(DecimalType(38, 0)) *
        col("x").cast(DecimalType(38, 0)))).over(w))
      .filter(col("n7") === 7)
      .select(col("day"), (xd / lit(100.0)).as("rev"),
        (mean / lit(100.0)).as("mean7"),
        (lower / lit(100.0)).as("lower"),
        (upper / lit(100.0)).as("upper"),
        (xd < lower || xd > upper).as("is_breakout"))
      .orderBy(col("day"))
  }

  val qBollingerSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |win AS (
      |  SELECT day, x,
      |    COUNT(*) OVER w AS n7, SUM(x) OVER w AS sx,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER w AS sxx
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |m AS (
      |  SELECT day, x,
      |    CAST(sx AS DOUBLE) / 7.0 AS mean,
      |    (7.0 * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 49.0 AS var
      |  FROM win WHERE n7 = 7)
      |SELECT day, CAST(x AS DOUBLE) / 100.0 AS rev,
      |  mean / 100.0 AS mean7,
      |  (mean - 2.0 * sqrt(var)) / 100.0 AS lower,
      |  (mean + 2.0 * sqrt(var)) / 100.0 AS upper,
      |  (CAST(x AS DOUBLE) < mean - 2.0 * sqrt(var) OR
      |   CAST(x AS DOUBLE) > mean + 2.0 * sqrt(var)) AS is_breakout
      |FROM m ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q_ols

  /** q_ols: ORDINARY LEAST SQUARES fit per group — slope, intercept and
    * R² of quantity on discount percentage (the price-elasticity /
    * promo-lift readout), the regression companion of q_corr (which
    * reports association but no fitted line to act on).
    *
    * Parity: x = discount in exact integer percent (via the decimal
    * micro-unit trick), y = integer quantity units; all five sums are
    * exact BIGINTs (bounded well under 2⁶³), and slope/intercept/R² are
    * pinned IEEE chains over those integers, emitted UN-rounded — the
    * q_bollinger rule: exact inputs make the chain bitwise-deterministic,
    * and rounding would INTRODUCE the only cross-engine risk. Spark's
    * regr_slope/regr_r2 stream float partials (partition-order-
    * dependent) and are deliberately not used.
    *
    * Scale shape: ONE map-side-partial aggregation to ≤|flags| rows;
    * everything after is scalar arithmetic. */
  def qOls(s: SparkSession, dir: String): DataFrame = {
    val x = (col("l_discount").cast(DecimalType(18, 6)) * lit(100L)).cast("long")
    val y = col("l_quantity").cast("long")
    val a = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val cxy = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
    val cxx = (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    val cyy = (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)
    val slope = cxy / cxx
    a.select(col("l_returnflag"), col("n"),
        slope.as("slope"),
        ((col("sy").cast(DoubleType) - slope * col("sx").cast(DoubleType)) /
          col("n").cast(DoubleType)).as("intercept"),
        (cxy * cxy / (cxx * cyy)).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  val qOlsSql: String =
    """WITH p AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_discount AS DECIMAL(18,6)) * 100 AS BIGINT) AS x,
      |    CAST(l_quantity AS BIGINT) AS y
      |  FROM lineitem),
      |a AS (
      |  SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      |  FROM p GROUP BY l_returnflag),
      |c AS (
      |  SELECT l_returnflag, n,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM a)
      |SELECT l_returnflag, n,
      |  cxy / cxx AS slope,
      |  (syd - (cxy / cxx) * sxd) / CAST(n AS DOUBLE) AS intercept,
      |  cxy * cxy / (cxx * cyy) AS r2
      |FROM c ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q_ndr

  private val UsPerDay = 86400000000L

  /** q_ndr: NET DOLLAR RETENTION per signup cohort — the revenue-weighted
    * retention curve (q_cohort_retention counts heads; NDR answers "is
    * the money retained?", the SaaS board metric): purchase revenue of
    * cohort c in week w divided by the cohort's week-0 revenue.
    *
    * Parity: per-row revenue → exact integer micro-units; cohort-week
    * sums exact BIGINTs; NDR is ONE division of two exact integers,
    * emitted UN-rounded (the q_bollinger rule). Same d0-filter-before-
    * bucket discipline as q_cohort_retention (div truncates, // floors —
    * negative deltas would bucket differently).
    *
    * Scale shape: one signup agg, one broadcast-able cohort join, one
    * (cohort, week)-keyed sum, a broadcast week-0 join back. */
  def qNdr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      .withColumn("day", expr(s"ts_us div $UsPerDay"))
    val signup = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    val rev = e.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .join(signup, "user_id")
      .filter(col("day") >= col("d0"))
      .withColumn("week", expr("(day - d0) div 7"))
      .groupBy(expr("d0 div 7").as("cohort_week"), col("week"))
      .agg(sum((col("value").cast(DecimalType(18, 6)) * lit(1000000L)).cast("long"))
        .as("rev_m"))
    val w0 = rev.filter(col("week") === 0)
      .select(col("cohort_week"), col("rev_m").as("rev0_m"))
    rev.join(broadcast(w0), "cohort_week")
      .filter(col("rev0_m") > 0)
      .select(col("cohort_week"), col("week"), col("rev_m"),
        (col("rev_m").cast(DoubleType) / col("rev0_m").cast(DoubleType)).as("ndr"))
      .orderBy(col("cohort_week"), col("week"))
  }

  val qNdrSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |signup AS (SELECT user_id, MIN(day) AS d0 FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |rev AS (
      |  SELECT d0 // 7 AS cohort_week, (day - d0) // 7 AS week,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS rev_m
      |  FROM e JOIN signup USING (user_id)
      |  WHERE e.event_type = 'purchase' AND value IS NOT NULL AND day >= d0
      |  GROUP BY 1, 2),
      |w0 AS (SELECT cohort_week, rev_m AS rev0_m FROM rev WHERE week = 0)
      |SELECT rev.cohort_week AS cohort_week, week, rev_m,
      |  CAST(rev_m AS DOUBLE) / CAST(rev0_m AS DOUBLE) AS ndr
      |FROM rev JOIN w0 ON w0.cohort_week = rev.cohort_week
      |WHERE rev0_m > 0
      |ORDER BY rev.cohort_week, week""".stripMargin

  // ----------------------------------------------------------- q_drawdown

  /** q_drawdown: PEAK-TO-CURRENT DECLINE of the daily revenue level — the
    * running-extreme diagnostic beside q_bollinger's volatility bands
    * (bands flag excursions vs recent noise; drawdown measures distance
    * from the best-ever level, the recovery-tracking metric): running
    * max over the day frame, drawdown = peak − today in EXACT cents,
    * percentage as one un-rounded division of exact integers.
    *
    * Scale shape: the fact aggregates ONCE to the |days| frame; the
    * running max rides that bounded calendar frame (the q_trailing7 /
    * q_bollinger documented shape). */
  def qDrawdown(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 6))) * lit(100L))
        .cast("long").as("x"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("peak", max(col("x")).over(w))
      .select(col("day"),
        (col("x").cast(DoubleType) / lit(100.0)).as("rev"),
        (col("peak").cast(DoubleType) / lit(100.0)).as("peak"),
        ((col("peak") - col("x")).cast(DoubleType) / lit(100.0)).as("drawdown"),
        ((col("peak") - col("x")).cast(DoubleType) /
          col("peak").cast(DoubleType)).as("dd_frac"))
      .orderBy(col("day"))
  }

  val qDrawdownSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT day, x,
      |    MAX(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM daily)
      |SELECT day, CAST(x AS DOUBLE) / 100.0 AS rev,
      |  CAST(peak AS DOUBLE) / 100.0 AS peak,
      |  CAST(peak - x AS DOUBLE) / 100.0 AS drawdown,
      |  CAST(peak - x AS DOUBLE) / CAST(peak AS DOUBLE) AS dd_frac
      |FROM p ORDER BY day""".stripMargin

  /** The ONE shared sign-symmetric half-up division kernel (any positive
    * denominator expression) — never duplicated: parity-critical rounding
    * must have a single definition. */
  private def halfUpCol(v: String, d: String, div: String) =
    Events.halfUp(v, d, div)

  // ----------------------------------------------------------- q_pvm_bridge

  /** q_pvm_bridge: the PRICE-VOLUME-MIX BRIDGE — the FP&A decomposition
    * of a revenue change between two years (q_mom_yoy reports THAT
    * revenue moved; the bridge explains WHY): per part present in both
    * years, price effect = R₂·q₁/q₂ − R₁ (what revenue would have done
    * had volume stayed put), volume effect = R₁·(q₂−q₁)/q₁, and the
    * mix/joint residual defined by EXACT CLOSURE mix = ΔR − PE − VE, so
    * the three effects always reconcile to the delta by construction.
    * Parts appearing in only one year roll into new/lost columns.
    *
    * Parity: per-part revenue in exact integer micros and quantities in
    * exact units; PE/VE round to integer micros by HALF-UP INTEGER
    * DIVISION per part (an x6 float pin was tried first and flipped on
    * rounding boundaries — ~30k per-part double→decimal casts make a
    * shortest-string-vs-exact-binary hit expected), then sum as exact
    * BIGINTs; the closure runs entirely in integer micros.
    *
    * Scale shape: one (part, year) rollup, one part-keyed self-join of
    * the two year frames, one priority rollup. */
  def qPvmBridge(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").isin(1996, 1997))
    val byPart = li.groupBy(col("o_orderpriority").as("pri"), col("l_partkey").as("pk"),
        col("yr"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 6)) * lit(1000000L))
        .cast("long")).as("r"),
        sum(col("l_quantity").cast("long")).as("q"))
    val y1 = byPart.filter(col("yr") === 1996)
      .select(col("pri"), col("pk"), col("r").as("r1"), col("q").as("q1"))
    val y2 = byPart.filter(col("yr") === 1997)
      .select(col("pri"), col("pk"), col("r").as("r2"), col("q").as("q2"))
    val both = y1.join(y2, Seq("pri", "pk"))
    val matched = both
      .select(col("pri"),
        expr(halfUpCol("r2 * q1 - r1 * q2", "q2", "div")).as("pe_m"),
        expr(halfUpCol("r1 * (q2 - q1)", "q1", "div")).as("ve_m"),
        (col("r2") - col("r1")).as("dr_m"))
      .groupBy(col("pri"))
      .agg(sum(col("pe_m")).as("pe_s"), sum(col("ve_m")).as("ve_s"),
        sum(col("dr_m")).as("dr_s"))
      .select(col("pri"),
        (col("pe_s").cast(DoubleType) / lit(1000000.0)).as("price_effect"),
        (col("ve_s").cast(DoubleType) / lit(1000000.0)).as("volume_effect"),
        ((col("dr_s") - col("pe_s") - col("ve_s")).cast(DoubleType) / lit(1000000.0))
          .as("mix_effect"),
        (col("dr_s").cast(DoubleType) / lit(1000000.0)).as("delta_matched"))
    val newRev = y2.join(y1.select(col("pri"), col("pk")), Seq("pri", "pk"), "left_anti")
      .groupBy(col("pri")).agg(sum(col("r2")).as("new_m"))
    val lostRev = y1.join(y2.select(col("pri"), col("pk")), Seq("pri", "pk"), "left_anti")
      .groupBy(col("pri")).agg(sum(col("r1")).as("lost_m"))
    matched.join(newRev, Seq("pri"), "left").join(lostRev, Seq("pri"), "left")
      .select(col("pri").as("o_orderpriority"),
        col("price_effect"), col("volume_effect"), col("mix_effect"),
        col("delta_matched"),
        (coalesce(col("new_m"), lit(0L)).cast(DoubleType) / lit(1000000.0)).as("new_parts_rev"),
        (coalesce(col("lost_m"), lit(0L)).cast(DoubleType) / lit(1000000.0)).as("lost_parts_rev"))
      .orderBy(col("o_orderpriority"))
  }

  val qPvmBridgeSql: String =
    s"""WITH li AS (
      |  SELECT o_orderpriority AS pri, l_partkey AS pk,
      |    CAST(year(o_orderdate) AS INT) AS yr,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS rm,
      |    CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE year(o_orderdate) IN (1996, 1997)),
      |bp AS (SELECT pri, pk, yr, SUM(rm) AS r, SUM(q) AS q FROM li GROUP BY 1, 2, 3),
      |y1 AS (SELECT pri, pk, r AS r1, q AS q1 FROM bp WHERE yr = 1996),
      |y2 AS (SELECT pri, pk, r AS r2, q AS q2 FROM bp WHERE yr = 1997),
      |m AS (
      |  SELECT y1.pri,
      |    ${halfUpCol("r2 * q1 - r1 * q2", "q2", "//")} AS pe_m,
      |    ${halfUpCol("r1 * (q2 - q1)", "q1", "//")} AS ve_m,
      |    r2 - r1 AS dr_m
      |  FROM y1 JOIN y2 ON y2.pri = y1.pri AND y2.pk = y1.pk),
      |agg AS (
      |  SELECT pri,
      |    CAST(SUM(pe_m) AS DOUBLE) / 1000000.0 AS price_effect,
      |    CAST(SUM(ve_m) AS DOUBLE) / 1000000.0 AS volume_effect,
      |    CAST(SUM(dr_m) - SUM(pe_m) - SUM(ve_m) AS DOUBLE) / 1000000.0 AS mix_effect,
      |    CAST(SUM(dr_m) AS DOUBLE) / 1000000.0 AS delta_matched
      |  FROM m GROUP BY pri),
      |nr AS (
      |  SELECT y2.pri, SUM(r2) AS new_m FROM y2
      |  WHERE NOT EXISTS (SELECT 1 FROM y1 WHERE y1.pri = y2.pri AND y1.pk = y2.pk)
      |  GROUP BY y2.pri),
      |lr AS (
      |  SELECT y1.pri, SUM(r1) AS lost_m FROM y1
      |  WHERE NOT EXISTS (SELECT 1 FROM y2 WHERE y2.pri = y1.pri AND y2.pk = y1.pk)
      |  GROUP BY y1.pri)
      |SELECT agg.pri AS o_orderpriority, price_effect, volume_effect,
      |  mix_effect, delta_matched,
      |  CAST(COALESCE(nr.new_m, 0) AS DOUBLE) / 1000000.0 AS new_parts_rev,
      |  CAST(COALESCE(lr.lost_m, 0) AS DOUBLE) / 1000000.0 AS lost_parts_rev
      |FROM agg LEFT JOIN nr ON nr.pri = agg.pri LEFT JOIN lr ON lr.pri = agg.pri
      |ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------- q_rev_rec

  /** q_rev_rec: REVENUE RECOGNITION by exact integer proration — spread
    * each order's total evenly across its service span (order date →
    * last ship date) and report recognized revenue per month, the ASC
    * 606 ratable-recognition shape. Proration is EXACT: base = T div D
    * cents per day, the T mod D remainder cents go to the EARLIEST days
    * (the deterministic largest-remainder rule q_apportion established),
    * so per order Σ(daily) ≡ T to the cent BY CONSTRUCTION — the closure
    * float-rate proration violates and auditors reject.
    *
    * Scale shape: one order-span frame (order ⋈ max shipdate rollup), a
    * MONTH spine explode (spans average ~800 days in this data — a
    * per-DAY explode was built first and cost 35 s at sf0.1 on 121M
    * rows; per-month overlap arithmetic gives the identical cents with
    * ~30× fewer rows), one month-keyed sum of exact cents. The month
    * overlap math: with span day-offsets [k0, k1) inside a month,
    * recognized = base·(k1−k0) + (min(r,k1) − min(r,k0)) — the remainder
    * cents land in the earliest days, so their month share is the
    * overlap of [0, r) with [k0, k1). */
  def qRevRec(s: SparkSession, dir: String): DataFrame = {
    val span = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("last_ship"))
    val orders = Tables.orders(s, dir)
      .join(span, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 6)) * lit(100L)).cast("long").as("t"),
        datediff(col("last_ship"), col("o_orderdate")).cast("long").as("gap"),
        col("o_orderdate").as("start"))
      .withColumn("d", greatest(col("gap") + 1L, lit(1L)))
      .withColumn("fin", expr("start + make_interval(0,0,0, CAST(d - 1 AS INT), 0,0,0)"))
    orders
      .select(col("t"), col("d"), col("start"),
        explode(expr(
          "sequence(date_trunc('month', start), date_trunc('month', fin), interval 1 month)"))
          .as("month"))
      .withColumn("k0", greatest(datediff(col("month"), col("start")).cast("long"), lit(0L)))
      .withColumn("k1", least(
        datediff(expr("month + interval 1 month"), col("start")).cast("long"), col("d")))
      .withColumn("rec_cents",
        expr("(t div d) * (k1 - k0) + (least(t % d, k1) - least(t % d, k0))"))
      .groupBy(col("month"))
      .agg(sum(col("k1") - col("k0")).as("n_order_days"), sum(col("rec_cents")).as("rec_cents"))
      .select(col("month"), col("n_order_days"),
        (col("rec_cents").cast(DoubleType) / lit(100.0)).as("recognized"))
      .orderBy(col("month"))
  }

  val qRevRecSql: String =
    """WITH span AS (
      |  SELECT l_orderkey, MAX(l_shipdate) AS last_ship FROM lineitem GROUP BY l_orderkey),
      |o AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS t,
      |    greatest(datediff('day', o_orderdate, last_ship) + 1, 1) AS d,
      |    o_orderdate AS start
      |  FROM orders JOIN span ON l_orderkey = o_orderkey),
      |mo AS (
      |  SELECT t, d, start,
      |    unnest(generate_series(date_trunc('month', start),
      |      date_trunc('month', start + to_days(CAST(d - 1 AS INT))),
      |      INTERVAL 1 MONTH)) AS month
      |  FROM o),
      |k AS (
      |  SELECT month, t, d,
      |    greatest(datediff('day', start, month), 0) AS k0,
      |    least(datediff('day', start, month + INTERVAL 1 MONTH), d) AS k1
      |  FROM mo)
      |SELECT month, CAST(SUM(k1 - k0) AS BIGINT) AS n_order_days,
      |  CAST(SUM((t // d) * (k1 - k0) + (least(t % d, k1) - least(t % d, k0))) AS DOUBLE)
      |    / 100.0 AS recognized
      |FROM k GROUP BY month ORDER BY month""".stripMargin

  // ------------------------------------------------------------ q_backlog

  /** q_backlog: the OPEN-ORDER BACKLOG curve — event-sourced
    * work-in-progress over time (orders open at their order date, close
    * when their last line ships): backlog(d) = cumulative opened −
    * cumulative closed, the ops dashboard's WIP line that q_drawdown's
    * revenue lens doesn't show. Orders whose lines never ship stay open
    * forever — exactly what the metric is for.
    *
    * Parity: pure integer counts and running sums over the bounded day
    * frame; no floats at all.
    *
    * Scale shape: two day-keyed counts (map-side partial), a day-frame
    * full outer join, running sums on the bounded calendar frame (the
    * q_trailing7/q_bollinger documented shape). */
  def qBacklog(s: SparkSession, dir: String): DataFrame = {
    // to_date, NOT date_trunc: Spark's date_trunc returns TIMESTAMP where
    // DuckDB's date_trunc('day', DATE) stays DATE — the r11 type-parity slip.
    val opened = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_opened"))
    val closed = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("last_ship"))
      .groupBy(to_date(col("last_ship")).as("day"))
      .agg(count(lit(1)).as("n_closed"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    opened.join(closed, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_opened"), lit(0L)).as("n_opened"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("backlog",
        sum(col("n_opened")).over(w) - sum(col("n_closed")).over(w))
      .orderBy(col("day"))
  }

  val qBacklogSql: String =
    """WITH opened AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_opened
      |  FROM orders GROUP BY 1),
      |closed AS (
      |  SELECT CAST(last_ship AS DATE) AS day, COUNT(*) AS n_closed
      |  FROM (SELECT l_orderkey, MAX(l_shipdate) AS last_ship FROM lineitem GROUP BY 1)
      |  GROUP BY 1),
      |j AS (
      |  SELECT COALESCE(o.day, c.day) AS day,
      |    COALESCE(n_opened, 0) AS n_opened, COALESCE(n_closed, 0) AS n_closed
      |  FROM opened o FULL OUTER JOIN closed c ON c.day = o.day)
      |SELECT day, n_opened, n_closed,
      |  CAST(SUM(n_opened) OVER w - SUM(n_closed) OVER w AS BIGINT) AS backlog
      |FROM j
      |WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_backlog", qBacklog _, qBacklogSql),
    Gate("q_pvm_bridge", qPvmBridge _, qPvmBridgeSql),
    Gate("q_rev_rec", qRevRec _, qRevRecSql),
    Gate("q_ndr", qNdr _, qNdrSql),
    Gate("q_drawdown", qDrawdown _, qDrawdownSql),
    Gate("q_ols", qOls _, qOlsSql),
    Gate("q_bollinger", qBollinger _, qBollingerSql),
    Gate("q_spearman", qSpearman _, qSpearmanSql),
    Gate("q_mann_whitney", qMannWhitney _, qMannWhitneySql),
    Gate("q_simpson", qSimpson _, qSimpsonSql),
    Gate("q_winsorize", qWinsorize _, qWinsorizeSql),
    Gate("q_moments", qMoments _, qMomentsSql),
  )
}
