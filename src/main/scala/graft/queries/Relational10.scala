package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.Ckpt._

/** Round-12 analytics batch: distribution-comparison tests that complete
  * the non-parametric toolkit of Relational9 — Kolmogorov–Smirnov (is the
  * whole SHAPE different, not just the location Mann-Whitney tests),
  * Cramér's V (categorical association strength, the effect size q_chisq's
  * per-cell terms don't roll up), and the Wald–Wolfowitz runs test (is a
  * time series random around its level, the autocorrelation-free cousin of
  * q_acf).
  *
  * Parity discipline (SURVEY §6): exact integer aggregates everywhere;
  * floats only in one final pinned IEEE chain per output (sqrt only, no
  * libm); chi-square terms sum as exact micro-unit BIGINTs so the total
  * is summation-order-free. */
object Relational10 {

  // ------------------------------------------------------------ q_ks_test

  /** q_ks_test: two-sample KOLMOGOROV–SMIRNOV per event type between the
    * md5 variants (the q_ab_srm assignment, so the experiment family
    * reads ONE bucketing): D = max |F₁(x) − F₂(x)| over the pooled
    * support. The ECDF difference is carried as the exact integer
    * |cum₁·n₂ − cum₂·n₁| in DECIMAL(38,0) — no float ever compares, and
    * the 2⁶³ cliff the BIGINT form hit near n₁n₂ ≈ 9·10¹⁸ is gone: with
    * cum ≤ n ≤ 2⁶³ the cross product stays < 8.6·10³⁷ and the difference
    * < n₁n₂ < 2.2·10³⁷, both inside DECIMAL(38,0) (DecimalPrecisionSpec
    * pins the arithmetic beyond 2⁶³; the oracle mirrors via HUGEINT).
    * D plus the α=0.01 significance threshold 1.628·√((n₁+n₂)/(n₁n₂))
    * are one pinned chain each, emitted UN-rounded (the q_bollinger rule:
    * with exact integer inputs the divide/sqrt chain is already bitwise-
    * deterministic, and an x6 pin would INTRODUCE the only cross-engine
    * rounding boundary — the r13 driver hash-fail hit exactly that class
    * while the same gate passed the local oracle bitwise at two scale
    * factors; ExperimentBitsProbeSpec compares the raw bits per row with a
    * plain-JVM recomputation so any future divergence names its column
    * instead of failing a hash).
    *
    * Scale shape (the VERDICT r12 banded-rank rewrite): one (type, value)
    * count (map-side partial), then the two ECDFs are DISTRIBUTED prefix
    * sums over the collapsed frame via BandedRank.withPrefixSums — 16
    * broadcast value bands, within-band running sums PARTITION BY
    * (type, band), cross-band offsets on the ≤|types|·16-row band frame —
    * replacing the flat per-type cumulative window that sorted each
    * type's whole value support through one reducer. One ≤|types|-row
    * rollup closes it. */
  def qKsTest(s: SparkSession, dir: String): DataFrame = {
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
    val g = ev.groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c2"))
      .cpEager // consumed by two INDEPENDENT stages (prefix sums + per-type
      // totals) — lazy would recompute the (type, value) collapse per stage
    val c = graft.operators.BandedRank.withPrefixSums(
      g, Seq("event_type"), "value", Seq("c1" -> "cum1", "c2" -> "cum2"))
    val tot = g.groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val a = c.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("cum1").cast(d19) * col("n2").cast(d19) -
          col("cum2").cast(d19) * col("n1").cast(d19))).as("d_num"))
    val n1n2 = (col("n1").cast(d19) * col("n2").cast(d19)).cast(DoubleType)
    val d = col("d_num").cast(DoubleType) / n1n2
    val crit = lit(1.628) * sqrt((col("n1") + col("n2")).cast(DoubleType) / n1n2)
    // Output typing contract (r15): gate outputs never carry raw DECIMAL —
    // d_num ≤ n1·n2 < 2^63 under the documented n ≲ 2·10⁹-per-type bound,
    // so the final column is BIGINT; the DECIMAL arithmetic stays internal.
    a.select(col("event_type"), col("n1"), col("n2"),
        col("d_num").cast(LongType).as("d_num"),
        d.as("d"), crit.as("d_crit"), (d > crit).as("significant"))
      .orderBy(col("event_type"))
  }

  val qKsTestSql: String =
    """WITH ev AS (
      |  SELECT event_type, value,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant
      |  FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT event_type, value,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM ev GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type,
      |    CAST(SUM(c1) OVER wc AS BIGINT) AS cum1, CAST(SUM(c2) OVER wc AS BIGINT) AS cum2,
      |    CAST(SUM(c1) OVER wa AS BIGINT) AS n1, CAST(SUM(c2) OVER wa AS BIGINT) AS n2
      |  FROM g
      |  WINDOW wc AS (PARTITION BY event_type ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wa AS (PARTITION BY event_type ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |a AS (
      |  SELECT event_type, MAX(n1) AS n1, MAX(n2) AS n2,
      |    CAST(MAX(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)) AS DECIMAL(38,0)) AS d_num
      |  FROM c GROUP BY event_type)
      |SELECT event_type, n1, n2, CAST(d_num AS BIGINT) AS d_num,
      |  CAST(CAST(d_num AS VARCHAR) AS DOUBLE) / CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE) AS d,
      |  1.628 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE)) AS d_crit,
      |  CAST(CAST(d_num AS VARCHAR) AS DOUBLE) / CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE)
      |    > 1.628 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE)) AS significant
      |FROM a ORDER BY event_type""".stripMargin

  // ----------------------------------------------------- q_brunner_munzel

  /** q_brunner_munzel: the BRUNNER–MUNZEL generalized Wilcoxon test per
    * event type on the md5 variant split — the heteroscedasticity-robust
    * companion to q_mann_whitney (whose U assumes equal variances under
    * H₀; BM tests P(X<Y)+½P(X=Y) = ½ without that assumption, the
    * recommended default in the modern nonparametrics literature).
    *
    * EXACT INTEGER CORE (the midrank discipline): with pooled and
    * within-sample average midranks carried in half-units, the per-value
    * quantities are integers —
    *   pooled   2·midrank  p2 = 2·(cumT − cnt) + cnt + 1
    *   within-k 2·midrank  wk = 2·(cumk − ck) + ck + 1
    *   dk = p2 − wk  (2·(pooled − within) — the BM placement deviation)
    * and because within-sample midranks sum to n_k(n_k+1)/2 exactly, the
    * per-type aggregates (n_k, T_k = Σ c_k·p2, B_k = Σ c_k·d_k²) carry
    * the WHOLE statistic: A_k = T_k − n_k(n_k+1) = Σ c_k·d_k, the
    * deviations sum to zero, so S_k² = (n_k·B_k − A_k²)/(4·n_k·(n_k−1)).
    * W = n₁n₂·(m̄₂ − m̄₁)/((n₁+n₂)·√(n₁S₁² + n₂S₂²)) and the Welch df
    * are single pinned IEEE chains over those exact integers, emitted
    * UN-rounded (the q_bollinger rule), as is p̂ = (m̄₂ − (n₂+1)/2)/n₁.
    *
    * WIDTHS: aggregates ride DECIMAL(38,0) (DuckDB mirrors in HUGEINT);
    * B_k ≤ 4N³ and A_k² ≤ 4N⁴ keep everything inside 38 digits for
    * per-type sample sizes up to ~2·10⁹ — past that Spark's ANSI decimal
    * overflow fails loudly, never silently.
    *
    * Scale shape: IDENTICAL to q_mann_whitney/q_ks_test — one (type,
    * value) collapse (map-side partial), BandedRank.withPrefixSums for
    * the distributed cumulative counts, one ≤|types|-row rollup. */
  def qBrunnerMunzel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
    val g = ev.groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c2"))
      .cpEager // consumed 3x by INDEPENDENT stages of the banded prefix
    brunnerMunzel(g)
  }

  /** The BM core over any collapsed (event_type, value, c1, c2) frame —
    * factored out so BrunnerMunzelSpec can plant hand-computed samples. */
  private[graft] def brunnerMunzel(g: DataFrame): DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val c = graft.operators.BandedRank.withPrefixSums(
      g, Seq("event_type"), "value", Seq("c1" -> "cum1", "c2" -> "cum2"))
    val cnt = col("c1") + col("c2")
    val p2 = (col("cum1") + col("cum2") - cnt) * 2 + cnt + 1L
    val w1 = (col("cum1") - col("c1")) * 2 + col("c1") + 1L
    val w2 = (col("cum2") - col("c2")) * 2 + col("c2") + 1L
    val a = c.select(col("event_type"), col("c1"), col("c2"),
        p2.cast(d12).as("p2"), (p2 - w1).cast(d12).as("d1"), (p2 - w2).cast(d12).as("d2"))
      .groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1").cast(d12) * col("p2")).cast(d38).as("t1"),
        sum(col("c2").cast(d12) * col("p2")).cast(d38).as("t2"),
        sum(col("c1").cast(d12) * col("d1") * col("d1")).cast(d38).as("b1"),
        sum(col("c2").cast(d12) * col("d2") * col("d2")).cast(d38).as("b2"))
    val a1 = col("t1") - (col("n1").cast(d19) * (col("n1") + 1L).cast(d19)).cast(d38)
    val a2 = col("t2") - (col("n2").cast(d19) * (col("n2") + 1L).cast(d19)).cast(d38)
    // S_k² numerators exact in DECIMAL(38,0); every division/√ below is
    // the one pinned chain per output, written in the same order as the
    // oracle so the IEEE results are bitwise identical
    val s1num = (col("n1").cast(d19) * col("b1") - a1 * a1).cast(d38)
    val s2num = (col("n2").cast(d19) * col("b2") - a2 * a2).cast(d38)
    // null-safe divisor: under ANSI a zero divisor THROWS even when an
    // enclosing when() should mask the branch (shared subexpressions can
    // evaluate eagerly) — a NULL divisor propagates NULL instead, and the
    // explicit guards below still own the output semantics
    def nz(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(b === 0.0, lit(null).cast(DoubleType)).otherwise(b)
    val v1 = s1num.cast(DoubleType) /
      nz(lit(4.0) * col("n1").cast(DoubleType) * (col("n1") - 1L).cast(DoubleType))
    val v2 = s2num.cast(DoubleType) /
      nz(lit(4.0) * col("n2").cast(DoubleType) * (col("n2") - 1L).cast(DoubleType))
    val m1 = col("t1").cast(DoubleType) / nz(lit(2.0) * col("n1").cast(DoubleType))
    val m2 = col("t2").cast(DoubleType) / nz(lit(2.0) * col("n2").cast(DoubleType))
    val nv1 = col("n1").cast(DoubleType) * v1
    val nv2 = col("n2").cast(DoubleType) * v2
    val pHat = (m2 - (col("n2") + 1L).cast(DoubleType) / lit(2.0)) /
      nz(col("n1").cast(DoubleType))
    val wBm = col("n1").cast(DoubleType) * col("n2").cast(DoubleType) * (m2 - m1) /
      nz((col("n1") + col("n2")).cast(DoubleType) * sqrt(nv1 + nv2))
    val dfW = (nv1 + nv2) * (nv1 + nv2) /
      nz(nv1 * nv1 / nz((col("n1") - 1L).cast(DoubleType)) +
        nv2 * nv2 / nz((col("n2") - 1L).cast(DoubleType)))
    val ok = col("n1") > 1L && col("n2") > 1L
    a.select(col("event_type"), col("n1"), col("n2"),
        when(col("n1") > 0L && col("n2") > 0L, pHat).as("p_hat"),
        when(ok && (nv1 + nv2) > 0.0, wBm).as("w_bm"),
        when(ok && (nv1 + nv2) > 0.0 && nv1 > 0.0 && nv2 > 0.0, dfW).as("df_welch"))
      .orderBy(col("event_type"))
  }

  val qBrunnerMunzelSql: String =
    """WITH ev AS (
      |  SELECT event_type, value,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant
      |  FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT event_type, value,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM ev GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, c1, c2,
      |    CAST(SUM(c1) OVER wc AS BIGINT) AS cum1,
      |    CAST(SUM(c2) OVER wc AS BIGINT) AS cum2
      |  FROM g
      |  WINDOW wc AS (PARTITION BY event_type ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |r AS (
      |  SELECT event_type, c1, c2,
      |    CAST((cum1 + cum2 - (c1 + c2)) * 2 + (c1 + c2) + 1 AS HUGEINT) AS p2,
      |    CAST((cum1 + cum2 - (c1 + c2)) * 2 + (c1 + c2) + 1
      |      - ((cum1 - c1) * 2 + c1 + 1) AS HUGEINT) AS d1,
      |    CAST((cum1 + cum2 - (c1 + c2)) * 2 + (c1 + c2) + 1
      |      - ((cum2 - c2) * 2 + c2 + 1) AS HUGEINT) AS d2
      |  FROM c),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
      |    SUM(c1 * p2) AS t1, SUM(c2 * p2) AS t2,
      |    SUM(c1 * d1 * d1) AS b1, SUM(c2 * d2 * d2) AS b2
      |  FROM r GROUP BY event_type),
      |k AS (
      |  SELECT event_type, n1, n2, t1, t2, b1, b2,
      |    t1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS a1,
      |    t2 - CAST(n2 AS HUGEINT) * (n2 + 1) AS a2
      |  FROM a),
      |f AS (
      |  -- big-int -> double via VARCHAR: DuckDB's int128->double cast
      |  -- misrounds values above 2^64 (the n*B - A^2 numerators pass
      |  -- 2^64 from sf0.1 up); the string parse is correctly rounded
      |  -- like Spark's Decimal.toDouble
      |  SELECT event_type, n1, n2,
      |    CAST(CAST(t1 AS VARCHAR) AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) AS m1,
      |    CAST(CAST(t2 AS VARCHAR) AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)) AS m2,
      |    CAST(n1 AS DOUBLE) * (CAST(CAST(CAST(n1 AS HUGEINT) * b1 - a1 * a1 AS VARCHAR) AS DOUBLE)
      |      / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))) AS nv1,
      |    CAST(n2 AS DOUBLE) * (CAST(CAST(CAST(n2 AS HUGEINT) * b2 - a2 * a2 AS VARCHAR) AS DOUBLE)
      |      / (4.0 * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))) AS nv2
      |  FROM k)
      |SELECT event_type, n1, n2,
      |  CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    (m2 - CAST(n2 + 1 AS DOUBLE) / 2.0) / CAST(n1 AS DOUBLE) END AS p_hat,
      |  CASE WHEN n1 > 1 AND n2 > 1 AND nv1 + nv2 > 0.0 THEN
      |    CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (m2 - m1)
      |      / (CAST(n1 + n2 AS DOUBLE) * sqrt(nv1 + nv2)) END AS w_bm,
      |  CASE WHEN n1 > 1 AND n2 > 1 AND nv1 + nv2 > 0.0 AND nv1 > 0.0 AND nv2 > 0.0 THEN
      |    (nv1 + nv2) * (nv1 + nv2)
      |      / (nv1 * nv1 / CAST(n1 - 1 AS DOUBLE) + nv2 * nv2 / CAST(n2 - 1 AS DOUBLE)) END AS df_welch
      |FROM f ORDER BY event_type""".stripMargin

  // --------------------------------------------------------- q_cliff_delta

  /** q_cliff_delta: CLIFF'S DELTA per event type on the md5 variant split —
    * the EFFECT SIZE the experiment family's tests don't report
    * (q_mann_whitney/q_brunner_munzel answer "is there a difference";
    * δ = P(X>Y) − P(X<Y) answers "how BIG is it", scale-free and robust,
    * with the standard Romano et al. magnitude bands).
    *
    * EXACT INTEGER CORE: from the collapsed (type, value, c1, c2) frame
    * with the inclusive prefix cum2,
    *   n_gt  = Σ_v c1·(cum2 − c2)   (variant-0 rows strictly above a
    *                                 variant-1 row: Y mass strictly below v)
    *   n_ties = Σ_v c1·c2
    *   n_lt  = n1·n2 − n_gt − n_ties (the pair-count identity — no second
    *                                  scan and no n2-broadcast join needed)
    * all carried in DECIMAL(38,0) (DuckDB mirrors in HUGEINT): per-term
    * c1·cum2 ≤ n1·n2 keeps everything inside 38 digits to ~10¹⁸ pairs per
    * type; past that Spark's ANSI decimal overflow fails loudly. δ is ONE
    * raw division (q_bollinger rule — exact integer inputs, both engines'
    * big-int→double conversions correctly rounded: Spark Decimal.toDouble
    * natively, the oracle via the §6 VARCHAR route). δ = 1 − 2·p̂ against
    * q_brunner_munzel's p̂ is the cross-gate identity CliffDeltaSpec pins.
    *
    * Scale shape: IDENTICAL to q_ks_test — one (type, value) collapse
    * (map-side partial), BandedRank.withPrefixSums for the distributed
    * cumulative Y-counts, one ≤|types|-row rollup. */
  def qCliffDelta(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
    val g = ev.groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c2"))
      .cpEager // consumed twice: the banded prefix's internal stages
    cliffDelta(g)
  }

  /** The δ core over any collapsed (event_type, value, c1, c2) frame —
    * factored out so CliffDeltaSpec plants hand-computed samples. */
  private[graft] def cliffDelta(g: DataFrame): DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val c = graft.operators.BandedRank.withPrefixSums(
      g, Seq("event_type"), "value", Seq("c2" -> "cum2"))
    val a = c.groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1").cast(d12) * (col("cum2") - col("c2")).cast(d12))
          .cast(d38).as("n_gt"),
        sum(col("c1").cast(d12) * col("c2").cast(d12)).cast(d38).as("n_ties"))
    val pairs = (col("n1").cast(d19) * col("n2").cast(d19)).cast(d38)
    val nLt = (pairs - col("n_gt") - col("n_ties")).cast(d38)
    // null-safe divisor (the brunnerMunzel nz discipline): a zero pair
    // count propagates NULL instead of risking an eager ANSI evaluation
    val den = when(pairs === 0L, lit(null).cast(DoubleType))
      .otherwise(pairs.cast(DoubleType))
    val delta = (col("n_gt") - col("n_lt")).cast(DoubleType) / den
    val mag = when(delta.isNull, lit(null).cast("string"))
      .when(abs(delta) < 0.147, lit("negligible"))
      .when(abs(delta) < 0.33, lit("small"))
      .when(abs(delta) < 0.474, lit("medium"))
      .otherwise(lit("large"))
    // Output typing contract (r15): pair counts ≤ n1·n2 < 2^63 under the
    // documented per-type bound — emit BIGINT, keep DECIMAL internal.
    a.withColumn("n_lt", nLt)
      .select(col("event_type"), col("n1"), col("n2"),
        col("n_gt").cast(LongType).as("n_gt"),
        col("n_lt").cast(LongType).as("n_lt"),
        col("n_ties").cast(LongType).as("n_ties"),
        delta.as("delta"), mag.as("magnitude"))
      .orderBy(col("event_type"))
  }

  val qCliffDeltaSql: String =
    """WITH ev AS (
      |  SELECT event_type, value,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant
      |  FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT event_type, value,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM ev GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, c1, c2,
      |    CAST(SUM(c2) OVER wc AS BIGINT) AS cum2
      |  FROM g
      |  WINDOW wc AS (PARTITION BY event_type ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * (cum2 - c2)) AS DECIMAL(38,0)) AS n_gt,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * c2) AS DECIMAL(38,0)) AS n_ties
      |  FROM c GROUP BY event_type),
      |k AS (
      |  SELECT event_type, n1, n2, n_gt, n_ties,
      |    CAST(CAST(n1 AS HUGEINT) * n2 - n_gt - n_ties AS DECIMAL(38,0)) AS n_lt
      |  FROM a),
      |f AS (
      |  -- big-int -> double via VARCHAR (SURVEY §6 r14 rule): the pair
      |  -- counts pass 2^64 on heavy types at scale, where DuckDB's direct
      |  -- int128->double cast misrounds
      |  SELECT event_type, n1, n2, n_gt, n_lt, n_ties,
      |    CASE WHEN n1 > 0 AND n2 > 0 THEN
      |      CAST(CAST(n_gt - n_lt AS VARCHAR) AS DOUBLE)
      |        / CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE) END AS delta
      |  FROM k)
      |SELECT event_type, n1, n2,
      |  CAST(n_gt AS BIGINT) AS n_gt, CAST(n_lt AS BIGINT) AS n_lt,
      |  CAST(n_ties AS BIGINT) AS n_ties, delta,
      |  CASE WHEN delta IS NULL THEN NULL
      |       WHEN abs(delta) < 0.147 THEN 'negligible'
      |       WHEN abs(delta) < 0.33 THEN 'small'
      |       WHEN abs(delta) < 0.474 THEN 'medium'
      |       ELSE 'large' END AS magnitude
      |FROM f ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------- q_runs_test

  /** q_runs_test: WALD–WOLFOWITZ runs test on daily revenue around its
    * discrete median — "is the series randomly scattered about its level,
    * or does it trend/cluster?" (too FEW runs = momentum/regime-stickiness,
    * too MANY = oscillation; the model-free cousin of q_acf's lag
    * correlations). Days equal to the median drop (the standard
    * treatment — both engines agree exactly because revenue is exact
    * integer cents and the median is PERCENTILE_DISC, an actual data
    * value). Runs count = 1 + sign changes over the bounded day frame;
    * μ and σ of the run count under H₀ are the classic exact-integer
    * formulas; z is one pinned chain.
    *
    * Scale shape: the fact aggregates ONCE to the |days| frame; the
    * median is a single bounded-frame aggregate; lag + rollup ride the
    * same bounded frame. */
  def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * lit(100L))
        .cast("long").as("cents"))
    val med = daily.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").as("med"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("cents") =!= col("med"))
      .select(col("day"), when(col("cents") > col("med"), 1L).otherwise(0L).as("s"))
    val wLag = Window.orderBy(col("day"))
    val runs = signed
      .withColumn("chg",
        when(lag(col("s"), 1).over(wLag).isNull ||
          lag(col("s"), 1).over(wLag) === col("s"), 0L).otherwise(1L))
      .agg(sum(when(col("s") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("s") === 0, 1L).otherwise(0L)).as("n2"),
        (sum(col("chg")) + lit(1L)).as("runs"))
    val n = col("n1") + col("n2")
    val mu = lit(2.0) * (col("n1") * col("n2")).cast(DoubleType) / n.cast(DoubleType) + lit(1.0)
    val sig2 = lit(2.0) * (col("n1") * col("n2")).cast(DoubleType) *
      (lit(2L) * col("n1") * col("n2") - col("n1") - col("n2")).cast(DoubleType) /
      ((n * n).cast(DoubleType) * (n - lit(1L)).cast(DoubleType))
    runs.select(col("n1"), col("n2"), col("runs"),
      mu.as("mu"),
      when(sig2 > 0.0, (col("runs").cast(DoubleType) - mu) / sqrt(sig2)).as("z"))
  }

  val qRunsTestSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |med AS (SELECT quantile_disc(cents, 0.5) AS med FROM daily),
      |signed AS (
      |  SELECT day, CASE WHEN cents > med THEN 1 ELSE 0 END AS s
      |  FROM daily, med WHERE cents <> med),
      |r AS (
      |  SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
      |              OR lag(s) OVER (ORDER BY day) = s THEN 0 ELSE 1 END AS chg
      |  FROM signed),
      |a AS (
      |  SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(chg) + 1 AS BIGINT) AS runs
      |  FROM r)
      |SELECT n1, n2, runs,
      |  2.0 * CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0 AS mu,
      |  CASE WHEN 2.0 * CAST(n1 * n2 AS DOUBLE) * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
      |         / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)) > 0.0
      |  THEN (CAST(runs AS DOUBLE)
      |    - (2.0 * CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0))
      |    / sqrt(2.0 * CAST(n1 * n2 AS DOUBLE) * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
      |         / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))
      |  END AS z
      |FROM a""".stripMargin

  // ---------------------------------------------------------- q_cramers_v

  /** q_cramers_v: CRAMÉR'S V between order priority and order status —
    * the [0,1] effect size q_chisq's per-cell terms deliberately don't
    * roll up (a total χ² needs a summation-order-free reduction): each
    * cell's x6-pinned term converts to EXACT MICRO-UNITS via the decimal
    * cast (never double·10⁶-then-truncate), the BIGINT micro-sum is
    * order-free, and V = √(χ²/(n·min(r−1,c−1))) is one pinned chain.
    *
    * Scale shape: one (prio, status) count (map-side partial) to ≤r·c
    * rows; broadcast marginals; 1-row output. */
  def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"))
      .cpEager // 3 independent marginal aggs — lazy would rescan orders per agg
    val rt = cells.groupBy(col("prio")).agg(sum(col("n")).as("rt"))
    val ct = cells.groupBy(col("status")).agg(sum(col("n")).as("ct"))
    val tot = cells.agg(sum(col("n")).as("nn"),
      countDistinct(col("prio")).as("r"), countDistinct(col("status")).as("c"))
    val e = col("rt").cast(DoubleType) * col("ct").cast(DoubleType) /
      col("nn").cast(DoubleType)
    val term = (col("n").cast(DoubleType) - e) * (col("n").cast(DoubleType) - e) / e
    val joined = cells.join(broadcast(rt), "prio").join(broadcast(ct), "status")
      .crossJoin(broadcast(tot))
      .select(col("nn"), col("r"), col("c"),
        (term.cast("decimal(18,6)") * lit(1000000L)).cast("long").as("term_micro"))
    val chi2 = col("chi2_micro").cast(DoubleType) / lit(1000000.0)
    joined.groupBy(col("nn"), col("r"), col("c"))
      .agg(sum(col("term_micro")).as("chi2_micro"))
      .select(col("nn").as("n"), col("r"), col("c"),
        chi2.as("chisq"),
        sqrt(chi2 / (col("nn").cast(DoubleType) *
          least(col("r") - 1, col("c") - 1).cast(DoubleType))).as("v"))
  }

  val qCramersVSql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority AS prio, o_orderstatus AS status, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT prio, CAST(SUM(n) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT status, CAST(SUM(n) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |        CAST(COUNT(DISTINCT prio) AS BIGINT) AS r,
      |        CAST(COUNT(DISTINCT status) AS BIGINT) AS c FROM cells),
      |j AS (
      |  SELECT nn, r, c,
      |    CAST(CAST((CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * (CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
      |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
      |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS term_micro
      |  FROM cells JOIN rt USING (prio) JOIN ct USING (status), t),
      |a AS (SELECT nn, r, c, CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
      |      FROM j GROUP BY 1, 2, 3)
      |SELECT nn AS n, r, c,
      |  CAST(chi2_micro AS DOUBLE) / 1000000.0 AS chisq,
      |  sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0
      |    / (CAST(nn AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE))) AS v
      |FROM a""".stripMargin

  // ----------------------------------------------------------- q_mk_trend

  /** q_mk_trend: MANN–KENDALL trend test on the daily revenue series —
    * THE standard monotone-trend detector for time series (hydrology /
    * metric-ops): S = Σ_{i<j} sign(xⱼ − xᵢ) exactly over the bounded day
    * frame (|days|² pairs — the frame is calendar-bounded at ANY corpus
    * scale, which is what makes the quadratic pair join safe), the
    * tie-corrected variance an exact integer numerator, and the
    * continuity-corrected z one pinned chain. Complements q_runs_test
    * (randomness) and q_cusum (changepoint): MK answers "is there a
    * monotone drift at all".
    *
    * Scale shape: the fact aggregates ONCE to |days|; the pair join and
    * tie rollup ride that bounded frame. */
  def qMkTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * lit(100L))
        .cast("long").as("cents"))
      .cpLazy
    // S = C − D with the day axis strictly increasing (daily is grouped
    // by day, so x never ties): C + D = n(n−1)/2 − Σt(t−1)/2 and the
    // discordant count D comes from the banded inversion-count operator
    // (r14 — operators/InversionCount.scala, O(n²/B) pair work replacing
    // this gate's original flat O(n²) pair join; the oracle KEEPS the
    // flat join as the exactness cross-check, the BandedRank convention)
    val g = daily.select(
      datediff(col("day"), lit("1970-01-01")).cast("long").as("x"),
      col("cents").as("y"), lit(1L).as("c"))
    val d = graft.operators.InversionCount.discordant(g, "x", "y", "c")
    val tieY2 = daily.groupBy(col("cents")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1)), lit(0L)).as("ty2"))
    val sStat = d.crossJoin(broadcast(tieY2))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("nn"))))
      .withColumn("d_l", col("d").cast("long"))
      // integer div (the q_cuped rule): long `/` routes through double.
      // NULL on < 2 days: the oracle's SUM over its then-empty pair join
      // is NULL, and the engine must agree on the degenerate frame.
      .select(when(col("nn") >= 2L, expr("(nn * (nn - 1) - ty2) div 2")
        - lit(2L) * col("d_l")).as("s_stat"))
    val nRow = daily.agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("cents")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tt"))
    val varNum = col("n_days") * (col("n_days") - 1) *
      (lit(2L) * col("n_days") + 5) - col("tt")
    val varS = varNum.cast(DoubleType) / lit(18.0)
    val z = when(col("s_stat") > 0,
        (col("s_stat") - lit(1L)).cast(DoubleType) / sqrt(varS))
      .when(col("s_stat") < 0,
        (col("s_stat") + lit(1L)).cast(DoubleType) / sqrt(varS))
      .otherwise(lit(0.0))
    sStat.crossJoin(nRow).crossJoin(ties)
      .select(col("n_days"), col("s_stat"), varNum.as("var_num"),
        z.as("z"),
        (abs(z) > lit(1.96)).as("trend_detected"))
  }

  val qMkTrendSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
      |                       WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |n AS (SELECT COUNT(*) AS n_days FROM daily),
      |tt AS (SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
      |       FROM (SELECT COUNT(*) AS t FROM daily GROUP BY cents)),
      |k AS (SELECT n_days, s_stat,
      |        CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tt AS BIGINT) AS var_num
      |      FROM s, n, tt)
      |SELECT n_days, s_stat, var_num,
      |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
      |       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
      |       ELSE 0.0 END AS z,
      |  abs(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
      |       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
      |       ELSE 0.0 END) > 1.96 AS trend_detected
      |FROM k""".stripMargin

  // ---------------------------------------------------------- q_theil_sen

  /** q_theil_sen: THEIL–SEN slope of the daily revenue series — the robust
    * trend SIZE beside q_mk_trend's trend EXISTENCE (the standard pairing:
    * MK detects monotone drift, Theil–Sen sizes it as the median of all
    * pairwise slopes, insensitive to ~29% outliers).
    *
    * Exactness: a pairwise slope is the RATIONAL Δcents/Δdays; ordering
    * rationals by float division invites last-ulp disagreement between
    * engines, so pairs order by the exact integer key (Δcents·S) div Δdays
    * with S = 10⁸ (exact DECIMAL(38,0) product, integer division). Key
    * equality ⟺ slope equality and key order ⟺ slope order: distinct
    * pairwise slopes over a |days|-bounded calendar differ by ≥ 1/span²,
    * and S > span² keeps scaled gaps > 1 (span 2 406 days → gap ≥ 17; the
    * margin also absorbs the floor-vs-truncate division-convention
    * difference between engines, so neither needs pinning — only the
    * SELECTED rational must agree, and it does). The ONE float division
    * (the reported slope) happens on the median key's representative —
    * equal-key pairs yield bit-identical doubles because IEEE division
    * correctly rounds the same rational.
    *
    * Selection: lower median, index m = (n+1) div 2 — deterministic for
    * even n where an interpolating percentile would average two rationals
    * in float — by HISTOGRAM SELECTION, the classic distributed exact
    * order statistic. Pairwise slopes are almost all DISTINCT, so a
    * per-key collapse buys nothing (measured: 2 890 780 groups from
    * 2 890 810 pairs) and a distributed rank would sort the whole pair
    * frame; instead pass 1 takes (min, max, count) of the key, pass 2
    * histograms the keys into B = 8192 fixed-width bands (map-side
    * partial; ≤B rows collect — the same bounded-collect budget as the
    * IVF centroid frames), the driver locates the band holding index m,
    * and pass 3 collapses ONLY that band's keys (expected n/B rows) for
    * the in-band crossing. No global sort at any scale; B is the knob
    * balancing collect size against in-band frame size.
    *
    * Scale shape: the fact aggregates ONCE to the calendar-bounded |days|
    * frame; the |days|²/2 pair frame (itself calendar-bounded) is scanned
    * three times from one eager 3-long-column checkpoint. S is the
    * documented knob: S > span² for key injectivity and |slope|max·S < 2⁶³
    * for the BIGINT key; a wider calendar or heavier series raises S and
    * moves the key to DECIMAL(38,0).
    *
    * Invariants (TheilSenSpec): exact median on a hand-computed series;
    * slope sign agrees with Mann–Kendall's S on planted monotone trends;
    * constant series → slope 0. */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * lit(100L))
        .cast("long").as("cents"))
      .cpLazy // consumed twice: both pair-join sides
    theilSen(daily)
  }

  /** Histogram-selection band count — the knob balancing the bounded
    * driver collect (≤ TheilSenBands rows) against the expected in-band
    * frame (n_pairs / TheilSenBands rows). */
  val TheilSenBands = 8192L

  /** Slope scale S: S > calendar-span² for key injectivity and
    * |slope|max·S < 2⁶³ for the BIGINT key — ONE constant interpolated
    * into the Spark key expression and the DuckDB oracle so the knob
    * cannot drift between them. */
  val TheilSenScale = 100000000L

  /** The slope core over any (day DATE, cents BIGINT) daily frame —
    * factored out so TheilSenSpec can plant synthetic trends. */
  private[graft] def theilSen(daily: DataFrame): DataFrame = {
    // repartition the LEFT side: the inequality pair join plans as a
    // broadcast nested loop whose output parallelism = left partitions,
    // and AQE coalesces the tiny |days| aggregate to ~1 partition — which
    // would funnel the |days|²/2 pair expansion and keying into one task
    val par = daily.sparkSession.sparkContext.defaultParallelism
    val a = daily.repartition(par).select(col("day").as("da"), col("cents").as("ca"))
    val b = daily.select(col("day").as("db"), col("cents").as("cb"))
    // skey = trunc(dc·S/dd) in pure codegen'd LONG arithmetic:
    // (dc div dd)·S + ((dc mod dd)·S) div dd — the decomposition is exact
    // because Spark's div/mod pair truncates toward zero with matching
    // signs, and (dc mod dd)·S ≤ span·S never overflows; the DECIMAL(38,0)
    // single-expression form computed the same value ~20× slower per row
    val keyed = a.join(b, col("da") < col("db"))
      .select((col("cb") - col("ca")).as("dc"),
        datediff(col("db"), col("da")).cast("long").as("dd"))
      .withColumn("skey",
        expr(s"(dc div dd) * ${TheilSenScale}L + ((dc % dd) * ${TheilSenScale}L) div dd"))
      .cpEager // scanned 3x by the selection passes (bounds, histogram,
               // in-band); eager because the passes are independent jobs —
               // a lazy checkpoint would recompute the pair expansion per pass
    // pass 1: key bounds + pair count (one 1-row aggregate), plus the
    // RUNTIME enforcement of the documented |slope|·S < 2⁶³ key contract:
    // every term of the skey decomposition is bounded by |dc|·S (both
    // |dc div dd| and |dc mod dd| are ≤ |dc|), so max|dc| ≤ (2⁶³−1)/S ⇒
    // no term wraps. Under Spark 4's default ANSI mode a breach already
    // throws in the keying job (loud, but a generic arithmetic error);
    // under ansi.enabled=false it would wrap SILENTLY and select a wrong
    // median — this guard names the contract and the remediation there
    // (TheilSenSpec pins that a breached series never returns a result).
    val h = keyed.agg(min(col("skey")), max(col("skey")), count(lit(1)),
      max(abs(col("dc")))).head()
    if (h.isNullAt(0)) return theilSenEmpty(daily)
    val (lo, hi, n) = (h.getLong(0), h.getLong(1), h.getLong(2))
    val maxAbsDc = h.getLong(3)
    require(maxAbsDc <= Long.MaxValue / TheilSenScale,
      s"theilSen slope-key contract breach: max|Δcents| = $maxAbsDc but the " +
        s"BIGINT key holds only |Δcents| ≤ ${Long.MaxValue / TheilSenScale} " +
        s"at S = $TheilSenScale — lower S (coarser slope resolution) or " +
        "move the key to DECIMAL(38,0) for this series")
    val m = (n + 1) / 2 // 1-based lower-median index
    // hi − lo can exceed Long when the extreme slopes straddle zero with
    // large magnitudes (each within the |slope|·S < 2⁶³ contract, their
    // span up to 2⁶⁴): width math runs in BigInt, and the per-row
    // subtraction falls back to DECIMAL(38,0) exactly when the span
    // wraps — non-ANSI Long arithmetic would wrap SILENTLY and deband
    // the histogram (TheilSenSpec pins the straddling case)
    val span = BigInt(hi) - BigInt(lo)
    val w = ((span / TheilSenBands + 1) max BigInt(1)).toLong // ≤ 2⁶⁴/B, fits
    val band =
      if (span.isValidLong) expr(s"(skey - ${lo}L) div ${w}L")
      else expr(s"(CAST(skey AS DECIMAL(38,0)) - ${lo}) div ${w}L")
    // pass 2: the key histogram — ≤TheilSenBands rows to the driver, the
    // same bounded-collect class as centroid/probe frames
    val hist = keyed.groupBy(band.as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val cums = hist.scanLeft(0L)(_ + _._2).tail
    val ti = cums.indexWhere(_ >= m)
    val (tBand, inBandIdx) = (hist(ti)._1, m - (if (ti == 0) 0L else cums(ti - 1)))
    // pass 3: collapse ONLY the median band's keys (n/TheilSenBands rows
    // expected) and walk the crossing on that bounded frame
    val wCum = Window.orderBy(col("skey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.filter(band === lit(tBand))
      .groupBy(col("skey"))
      .agg(count(lit(1)).as("cnt"),
        min(col("dc").cast(DoubleType) / col("dd").cast(DoubleType)).as("slope_raw"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .filter(col("cum") >= inBandIdx && col("cum") - col("cnt") < inBandIdx)
      .select(lit(n).as("n_pairs"), col("slope_raw").as("slope_cents_per_day"))
  }

  /** Zero-pair degenerate (a 0/1-day frame): empty result, gate schema. */
  private def theilSenEmpty(daily: DataFrame): DataFrame =
    daily.sparkSession.createDataFrame(
      daily.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_pairs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("slope_cents_per_day",
          DoubleType))))

  val qTheilSenSql: String =
    s"""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT b.cents - a.cents AS dc,
      |    CAST(datediff('day', a.day, b.day) AS BIGINT) AS dd
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |keyed AS (
      |  SELECT CAST(dc AS HUGEINT) * $TheilSenScale // dd AS skey,
      |    COUNT(*) AS cnt, MIN(CAST(dc AS DOUBLE) / dd) AS slope_raw
      |  FROM pairs GROUP BY 1),
      |c AS (
      |  SELECT cnt, slope_raw,
      |    SUM(cnt) OVER (ORDER BY skey) AS cum,
      |    SUM(cnt) OVER () AS n_pairs
      |  FROM keyed)
      |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
      |  slope_raw AS slope_cents_per_day
      |FROM c WHERE cum >= (n_pairs + 1) // 2 AND cum - cnt < (n_pairs + 1) // 2""".stripMargin

  // -------------------------------------------------------- q_changepoint

  /** q_changepoint: single CHANGEPOINT detection on daily revenue — the
    * offline face of q_cusum's online drift detector: the split t
    * maximizing the mean shift, located by the EXACT INTEGER score
    * |n·cumₜ − t·total| (∝ t(n−t)·|mean₁−mean₂| — monotone in the CUSUM
    * statistic, so the argmax is identical, and no float ever enters the
    * comparison), earliest-day tiebreak. Means are the only pinned
    * divisions.
    *
    * Scale shape: the fact aggregates ONCE to the bounded |days| frame;
    * prefix sums ride the day window; the argmax is orderBy().limit(1) —
    * TakeOrderedAndProject over |days| rows. */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * lit(100L))
        .cast("long").as("cents"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scored = daily
      .select(col("day"),
        sum(col("cents")).over(wCum).as("cum"),
        count(lit(1)).over(wCum).as("k"),
        sum(col("cents")).over(wAll).as("total"),
        count(lit(1)).over(wAll).as("n"))
      .filter(col("k") < col("n"))
      .withColumn("score", abs(col("n") * col("cum") - col("k") * col("total")))
    scored.orderBy(col("score").desc, col("day")).limit(1)
      .select(col("day").as("split_day"), col("k").as("n_before"),
        (col("n") - col("k")).as("n_after"), col("score"),
        (col("cum").cast(DoubleType) / (col("k") * lit(100L)).cast(DoubleType))
          .as("mean_before"),
        ((col("total") - col("cum")).cast(DoubleType) /
          ((col("n") - col("k")) * lit(100L)).cast(DoubleType)).as("mean_after"))
  }

  val qChangepointSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT day,
      |    CAST(SUM(cents) OVER wc AS BIGINT) AS cum,
      |    CAST(COUNT(*) OVER wc AS BIGINT) AS k,
      |    CAST(SUM(cents) OVER wa AS BIGINT) AS total,
      |    CAST(COUNT(*) OVER wa AS BIGINT) AS n
      |  FROM daily
      |  WINDOW wc AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wa AS (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |sc AS (SELECT *, abs(n * cum - k * total) AS score FROM c WHERE k < n)
      |SELECT day AS split_day, k AS n_before, n - k AS n_after, score,
      |  CAST(cum AS DOUBLE) / CAST(k * 100 AS DOUBLE) AS mean_before,
      |  CAST(total - cum AS DOUBLE) / CAST((n - k) * 100 AS DOUBLE) AS mean_after
      |FROM sc ORDER BY score DESC, day LIMIT 1""".stripMargin

  // --------------------------------------------------------------- q_otif

  /** q_otif: ON-TIME FULFILLMENT ladder per order priority — the ops SLA
    * metric (what share of lines ship within 30/60/90 days of order
    * placement) that complements q12_late_lines' shipmode audit and
    * q_backlog's WIP curve: a nested service-level ladder per priority
    * with the exact lateness tail. Pure integer day arithmetic; shares
    * are pinned divisions.
    *
    * Scale shape: ONE orderkey-keyed join (lineitem → orders, the
    * q12 shape), then a ≤|priorities|-row map-side-partial rollup. */
  def qOtif(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(o_orderdate AS DATE)").as("od"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), expr("CAST(l_shipdate AS DATE)").as("sd"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), datediff(col("sd"), col("od")).cast("long").as("lag"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("lag") <= 30, 1L).otherwise(0L)).as("n_30d"),
        sum(when(col("lag") <= 60, 1L).otherwise(0L)).as("n_60d"),
        sum(when(col("lag") <= 90, 1L).otherwise(0L)).as("n_90d"),
        max(col("lag")).as("max_lag_days"))
      .select(col("o_orderpriority"), col("n_lines"), col("n_30d"), col("n_60d"),
        col("n_90d"), col("max_lag_days"),
        (col("n_30d").cast(DoubleType) / col("n_lines").cast(DoubleType)).as("otif_30"),
        (col("n_90d").cast(DoubleType) / col("n_lines").cast(DoubleType)).as("otif_90"))
      .orderBy(col("o_orderpriority"))
  }

  val qOtifSql: String =
    """WITH j AS (
      |  SELECT o_orderpriority,
      |    CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS lag
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CASE WHEN lag <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_30d,
      |  CAST(SUM(CASE WHEN lag <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_60d,
      |  CAST(SUM(CASE WHEN lag <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_90d,
      |  CAST(MAX(lag) AS BIGINT) AS max_lag_days,
      |  CAST(SUM(CASE WHEN lag <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS otif_30,
      |  CAST(SUM(CASE WHEN lag <= 90 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS otif_90
      |FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- q_power

  /** q_power: A/B SAMPLE-SIZE calculator per event type — the missing
    * PLANNING piece of the experiment toolkit (q_ab_srm guards the split,
    * q_abtest/q_mann_whitney/q_ks_test read the result; THIS says how
    * long to run): n per variant = 2(z_α + z_β)²σ²/δ² at α=0.05 two-sided
    * / 80% power, against a minimum detectable effect of 5% of the mean.
    * Variance comes from exact integer micro-unit power sums (the
    * q_moments discipline — never Spark's float var_samp, whose partials
    * are partition-order-dependent); the n formula is one pinned chain
    * with an exact ceil.
    *
    * Scale shape: ONE map-side-partial aggregation to ≤|types| rows. */
  def qPower(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long").cast("decimal(38,0)")
    val a = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), micro.as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2)
    val nd = col("n").cast(DoubleType)
    val mean = col("sx").cast(DoubleType) / nd / lit(1000000.0)
    val varr = (col("sxx").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / nd) /
      (nd - lit(1.0)) / lit(1000000.0) / lit(1000000.0)
    val delta = lit(0.05) * mean
    // 2 * (1.96 + 0.842)^2 = 15.702448 — spelled as the explicit product
    // so both engines evaluate the identical literal chain
    val nReq = ceil(lit(2.0) * (lit(1.96) + lit(0.842)) * (lit(1.96) + lit(0.842)) *
      varr / (delta * delta))
    a.select(col("event_type"), col("n"),
        mean.as("mean"), varr.as("variance"),
        when(delta > 0.0, nReq.cast("long")).as("n_required"))
      .orderBy(col("event_type"))
  }

  val qPowerSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS HUGEINT) AS x
      |  FROM events WHERE value IS NOT NULL),
      |a AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      |  FROM e GROUP BY event_type),
      |m AS (
      |  -- big-int -> double via VARCHAR: DuckDB's int128->double cast
      |  -- misrounds values above 2^64 (never below; fuzz-measured),
      |  -- while its string->double parse is correctly rounded like
      |  -- Spark's Decimal.toDouble. sxx ~ 2e21 at sf0.01 is past 2^64.
      |  SELECT event_type, n,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean,
      |    (CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1.0) / 1000000.0 / 1000000.0 AS varr
      |  FROM a WHERE n >= 2)
      |SELECT event_type, n,
      |  mean,
      |  varr AS variance,
      |  CASE WHEN 0.05 * mean > 0.0 THEN
      |    CAST(ceil(2.0 * (1.96 + 0.842) * (1.96 + 0.842) * varr
      |      / ((0.05 * mean) * (0.05 * mean))) AS BIGINT) END AS n_required
      |FROM m ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------- q_topn_share

  /** q_topn_share: TOP-N REVENUE CONCENTRATION — the "our top 10
    * customers are X% of revenue" number executives actually quote,
    * beside q_hhi's index and q_gini/q_pareto's full curves (those
    * characterize the whole distribution; this one names the headline).
    * Exact integer micro revenue; the top-10 is orderBy().limit(10) —
    * TakeOrderedAndProject (per-partition heaps, 10-row driver merge),
    * never a global sort; share is ONE pinned division.
    *
    * Scale shape: one customer-keyed aggregation (map-side partial), a
    * k-bounded top-k, a 1-row broadcast total. */
  def qTopnShare(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * lit(1000000L))
        .cast("long").as("rev_m"))
    val tot = rev.agg(sum(col("rev_m")).as("total_m"), count(lit(1)).as("n_customers"))
    rev.orderBy(col("rev_m").desc, col("o_custkey")).limit(10)
      .agg(sum(col("rev_m")).as("top10_m"))
      .crossJoin(broadcast(tot))
      .select(col("n_customers"), col("top10_m"), col("total_m"),
        (col("top10_m").cast(DoubleType) / col("total_m").cast(DoubleType))
          .as("top10_share"))
  }

  val qTopnShareSql: String =
    """WITH rev AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_m
      |  FROM orders GROUP BY o_custkey),
      |tot AS (SELECT CAST(SUM(rev_m) AS BIGINT) AS total_m, COUNT(*) AS n_customers FROM rev),
      |top AS (SELECT CAST(SUM(rev_m) AS BIGINT) AS top10_m FROM (
      |  SELECT rev_m FROM rev ORDER BY rev_m DESC, o_custkey LIMIT 10))
      |SELECT n_customers, top10_m, total_m,
      |  CAST(top10_m AS DOUBLE) / CAST(total_m AS DOUBLE) AS top10_share
      |FROM top, tot""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_topn_share", qTopnShare _, qTopnShareSql),
    Gate("q_power", qPower _, qPowerSql),
    Gate("q_otif", qOtif _, qOtifSql),
    Gate("q_ks_test", qKsTest _, qKsTestSql),
    Gate("q_brunner_munzel", qBrunnerMunzel _, qBrunnerMunzelSql),
    Gate("q_cliff_delta", qCliffDelta _, qCliffDeltaSql),
    Gate("q_runs_test", qRunsTest _, qRunsTestSql),
    Gate("q_cramers_v", qCramersV _, qCramersVSql),
    Gate("q_mk_trend", qMkTrend _, qMkTrendSql),
    Gate("q_theil_sen", qTheilSen _, qTheilSenSql),
    Gate("q_changepoint", qChangepoint _, qChangepointSql),
  )
}
