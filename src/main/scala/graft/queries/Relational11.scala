package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables
import graft.Ckpt._

/** Round-14 analytics batch: the experiment family's remaining classical
  * tests — Kruskal–Wallis (the k-group extension of q_mann_whitney's
  * two-sample U), Brown–Forsythe (variance/spread shift, where every
  * other gate in the family tests location or shape), and Kendall's τ-b
  * (the concordance companion to q_spearman's rank correlation and the
  * significance lens over q_theil_sen's slope).
  *
  * Parity discipline (SURVEY §6): exact integer aggregates everywhere
  * (midranks as 2·rank half-units, deviations as ×10⁶ micros, pair counts
  * raw); floats only in one final pinned IEEE chain per output; every
  * oracle big-int→double cast that can pass 2⁶⁴ routes through VARCHAR
  * (the r14 DuckDB int128-misround rule). */
object Relational11 {

  private val d12 = DecimalType(12, 0)
  private val d19 = DecimalType(19, 0)
  private val d38 = DecimalType(38, 0)

  // ----------------------------------------------------- q_kruskal_wallis

  /** q_kruskal_wallis: KRUSKAL–WALLIS H per event type across a THREE-way
    * md5 user split — the k-group omnibus the two-sample gates can't ask
    * ("did ANY of the k variants shift the distribution?"; q_mann_whitney
    * answers only pairwise, and running C(k,2) pairwise tests inflates α —
    * KW is the one-shot gate that precedes them).
    *
    * EXACT INTEGER CORE (the q_mann_whitney discipline): pooled average
    * midranks carried as exact half-unit BIGINTs over the collapsed
    * (type, value, c0, c1, c2) frame — rnk2 = 2·(cum − cnt) + cnt + 1 is
    * twice the midrank, so the per-group rank sums R_k arrive as exact
    * DECIMAL(38,0) "×2" integers R_kx2 = Σ c_k·rnk2, and with
    * Σ R_k²/n_k = Σ R_kx2²/(4·n_k):
    *   H     = 3/(n(n+1)) · Σ_k R_kx2²/n_k − 3(n+1)
    *   H_adj = H / (1 − Σ(t³−t)/(n³−n))        (tie correction)
    * The tie term Σ(t³−t) = Σ_rows cnt·(cnt²−1) rides the SAME collapsed
    * frame (no second scan). The k=3 group terms are FIXED COLUMNS, so
    * the float sum r0²/n0 + r1²/n1 + r2²/n2 has one written order in both
    * engines — never a row-order-dependent float aggregate. Headroom:
    * R_kx2 ≤ 2n² must fit DECIMAL(19,0) before squaring ⇒ n ≲ 2·10⁹ rows
    * per type (the q_brunner_munzel bound); past it Spark's ANSI decimal
    * cast fails loudly. Oracle mirrors in HUGEINT with the §6 VARCHAR
    * route on every past-2⁶⁴ cast (R_kx2², n³−n, tt).
    *
    * Scale shape: IDENTICAL to q_mann_whitney — one (type, value) collapse
    * (map-side partial), ONE BandedRank.withPrefixSums pass for the
    * distributed cumulative counts, one ≤|types|-row rollup. */
  def qKruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 3)
    val g = ev.groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("variant") === 2, 1L).otherwise(0L)).as("c2"))
      .withColumn("cnt", col("c0") + col("c1") + col("c2"))
      .cpEager // consumed 3x by independent stages of the banded prefix
    kruskalWallis(g)
  }

  /** The H core over any collapsed (event_type, value, c0, c1, c2, cnt)
    * frame — factored out so KruskalWallisSpec plants hand-ranked samples. */
  private[graft] def kruskalWallis(g: DataFrame): DataFrame = {
    val ranked = graft.operators.BandedRank.withPrefixSums(
      g, Seq("event_type"), "value", Seq("cnt" -> "cum"))
    val rnk2 = (col("cum") - col("cnt")) * 2 + col("cnt") + 1L
    val a = ranked.withColumn("rnk2", rnk2)
      .groupBy(col("event_type"))
      .agg(
        sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
        sum(col("c2")).as("n2"),
        sum(col("c0").cast(d12) * col("rnk2").cast(d19)).cast(d38).as("r0x2"),
        sum(col("c1").cast(d12) * col("rnk2").cast(d19)).cast(d38).as("r1x2"),
        sum(col("c2").cast(d12) * col("rnk2").cast(d19)).cast(d38).as("r2x2"),
        sum((col("cnt").cast(d12) * col("cnt").cast(d12) - lit(1L))
          * col("cnt").cast(d12)).cast(d38).as("tt"))
    val n = col("n0") + col("n1") + col("n2")
    val nD = n.cast(DoubleType)
    val np1D = (n + lit(1L)).cast(DoubleType)
    // r²/n_k term: the ANSI d38→d19 cast IS the loud n ≲ 2·10⁹ contract
    def term(r: Column, nk: Column): Column =
      when(nk > 0L, (r.cast(d19) * r.cast(d19)).cast(d38).cast(DoubleType)
        / nk.cast(DoubleType)).otherwise(lit(0.0))
    val sumTerm = term(col("r0x2"), col("n0")) +
      term(col("r1x2"), col("n1")) + term(col("r2x2"), col("n2"))
    val h = lit(3.0) * sumTerm / (nD * np1D) - lit(3.0) * np1D
    // n³ − n via d12 products: exact to n ≤ 10¹², far past the rank bound
    val nnn = (n.cast(d12) * n.cast(d12) * n.cast(d12) - n.cast(d12)).cast(d38)
    val c = lit(1.0) - col("tt").cast(DoubleType) / nnn.cast(DoubleType)
    // Output typing contract (r15): the doubled rank sums are ≤ 2n² < 2^63
    // under the rank-arithmetic n-bound — emit BIGINT, DECIMAL stays internal.
    a.select(col("event_type"), col("n0"), col("n1"), col("n2"),
        col("r0x2").cast(LongType).as("r0x2"),
        col("r1x2").cast(LongType).as("r1x2"),
        col("r2x2").cast(LongType).as("r2x2"),
        when(n > 1L, h).as("h"),
        when(n > 1L && c > 0.0, h / c).as("h_adj"))
      .orderBy(col("event_type"))
  }

  val qKruskalWallisSql: String =
    """WITH ev AS (
      |  SELECT event_type, value,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 3 AS variant
      |  FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT event_type, value,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN variant = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ev GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, c0, c1, c2, cnt,
      |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM g),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c2) AS BIGINT) AS n2,
      |    CAST(SUM(CAST(c0 AS HUGEINT) * (2 * (cum - cnt) + cnt + 1)) AS DECIMAL(38,0)) AS r0x2,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * (2 * (cum - cnt) + cnt + 1)) AS DECIMAL(38,0)) AS r1x2,
      |    CAST(SUM(CAST(c2 AS HUGEINT) * (2 * (cum - cnt) + cnt + 1)) AS DECIMAL(38,0)) AS r2x2,
      |    CAST(SUM((CAST(cnt AS HUGEINT) * cnt - 1) * cnt) AS DECIMAL(38,0)) AS tt
      |  FROM r GROUP BY event_type),
      |k AS (
      |  -- big-int -> double via VARCHAR (SURVEY §6 r14 rule): the squared
      |  -- rank sums and n³ pass 2^64 from modest per-type sizes up, where
      |  -- DuckDB's direct int128->double cast misrounds
      |  SELECT event_type, n0, n1, n2, r0x2, r1x2, r2x2,
      |    n0 + n1 + n2 AS n,
      |    (CASE WHEN n0 > 0 THEN CAST(CAST(CAST(r0x2 AS HUGEINT) * CAST(r0x2 AS HUGEINT) AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) ELSE 0.0 END
      |     + CASE WHEN n1 > 0 THEN CAST(CAST(CAST(r1x2 AS HUGEINT) * CAST(r1x2 AS HUGEINT) AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE 0.0 END
      |     + CASE WHEN n2 > 0 THEN CAST(CAST(CAST(r2x2 AS HUGEINT) * CAST(r2x2 AS HUGEINT) AS VARCHAR) AS DOUBLE) / CAST(n2 AS DOUBLE) ELSE 0.0 END) AS sum_term,
      |    CAST(CAST(tt AS VARCHAR) AS DOUBLE) AS tt_d,
      |    CAST(CAST(CAST(n0 + n1 + n2 AS HUGEINT) * (n0 + n1 + n2) * (n0 + n1 + n2)
      |      - (n0 + n1 + n2) AS VARCHAR) AS DOUBLE) AS nnn_d
      |  FROM a),
      |f AS (
      |  SELECT event_type, n0, n1, n2, r0x2, r1x2, r2x2,
      |    3.0 * sum_term / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
      |      - 3.0 * CAST(n + 1 AS DOUBLE) AS h_raw,
      |    1.0 - tt_d / nnn_d AS c,
      |    n
      |  FROM k)
      |SELECT event_type, n0, n1, n2,
      |  CAST(r0x2 AS BIGINT) AS r0x2, CAST(r1x2 AS BIGINT) AS r1x2,
      |  CAST(r2x2 AS BIGINT) AS r2x2,
      |  CASE WHEN n > 1 THEN h_raw END AS h,
      |  CASE WHEN n > 1 AND c > 0.0 THEN h_raw / c END AS h_adj
      |FROM f ORDER BY event_type""".stripMargin

  // ------------------------------------------------------- q_kendall_tau

  /** q_kendall_tau: KENDALL's τ-b between daily revenue and daily order
    * count — "do the two series move together pair-for-pair?", the
    * concordance companion to q_spearman's rank ρ (ρ correlates ranks;
    * τ counts inversions, is more robust to a few wild days, and is the
    * significance lens over q_theil_sen's slope — Theil–Sen's median
    * slope and Mann–Kendall's S both live on this pair frame).
    *
    * EXACT INTEGER CORE: revenue as exact integer cents (the q_runs_test
    * discipline), order counts native BIGINT; every pair contributes a
    * sign pair (sx, sy) ∈ {−1,0,1}² from integer compares, so concordant /
    * discordant / tie counts are exact BIGINTs and
    *   τ-b = (C − D) / √((n0 − n1)(n0 − n2))
    * with n0 = n(n−1)/2, n1 = #pairs tied in x, n2 = #pairs tied in y is
    * ONE pinned divide/sqrt chain (the product runs in DECIMAL(38,0);
    * the oracle VARCHAR-routes its cast — it passes 2⁶⁴ once the series
    * exceeds ~78k points).
    *
    * Scale shape (r14, second pass): the fact aggregates ONCE to the
    * bounded |days| frame, and the pair statistics come from the BANDED
    * INVERSION-COUNT decomposition (operators/InversionCount.scala) —
    * the discordant count splits by the band relation of each pair into
    * a grid term (no row pairs at all) plus three band-partitioned strip
    * joins, O(n²/B) pair work instead of the flat join's O(n²); ties and
    * the concordant count fall out of cheap 1-D aggregates and the
    * inclusion-exclusion identity C = n₀ − n₁ − n₂ + n_xy − D. The
    * DuckDB oracle KEEPS the flat O(n²) pair join — that asymmetry is
    * the cross-check that the decomposition is exact (the BandedRank
    * convention). B is the knob: raise it until a strip's pair set fits
    * one task (B ≈ n^(2/3) equalizes strip and grid work). */
  def qKendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")) * lit(100L))
        .cast("long").as("cents"),
        count(lit(1)).as("ords"))
      .cpLazy // consumed 3x: both pair-join sides + the n_days rollup
    kendallTau(daily)
  }

  /** The τ-b core over any (day, cents, ords) daily frame — factored out
    * so KendallTauSpec plants hand-enumerated series. */
  private[graft] def kendallTau(daily: DataFrame): DataFrame = {
    val g = daily.groupBy(col("cents").as("x"), col("ords").as("y"))
      .agg(count(lit(1)).as("c"))
      .cpLazy // consumed 5x: the discordant operator + four 1-D rollups
    def pairs2(n: Column): Column = n * (n - lit(1L)) // 2 * (n choose 2)
    val tot = g.agg(coalesce(sum(col("c")), lit(0L)).as("n"),
      coalesce(sum(pairs2(col("c"))), lit(0L)).as("txy2"))
    val tx = g.groupBy(col("x")).agg(sum(col("c")).as("nx"))
      .agg(coalesce(sum(pairs2(col("nx"))), lit(0L)).as("tx2"))
    val ty = g.groupBy(col("y")).agg(sum(col("c")).as("ny"))
      .agg(coalesce(sum(pairs2(col("ny"))), lit(0L)).as("ty2"))
    val d = graft.operators.InversionCount.discordant(g, "x", "y", "c")
    val all = tot.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .crossJoin(broadcast(d))
    // the "*2" pair counts are exact even ints; halve once at the end —
    // by RIGHT SHIFT, not `/` (long `/` routes through DOUBLE, exact only
    // under 2^53 — the q_cuped integer-div rule; shift carries no n bound)
    val n0 = shiftright(pairs2(col("n")), 1)
    val tieX = shiftright(col("tx2"), 1)
    val tieY = shiftright(col("ty2"), 1)
    val tieXY = shiftright(col("txy2"), 1)
    val disc = col("d").cast("long") // ANSI-loud past 2^63 pairs, like n0
    val conc = n0 - tieX - tieY + tieXY - disc
    val denom2 = ((n0 - tieX).cast(d19) * (n0 - tieY).cast(d19)).cast(d38)
    all.select(col("n").as("n_days"), n0.as("n_pairs"), conc.as("conc"),
        disc.as("disc"), tieX.as("tie_x"), tieY.as("tie_y"),
        when(denom2 > 0L, (conc - disc).cast(DoubleType)
          / sqrt(denom2.cast(DoubleType))).as("tau_b"))
  }

  val qKendallTauSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100 AS BIGINT) AS cents,
      |    CAST(COUNT(*) AS BIGINT) AS ords
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT
      |    CASE WHEN b.cents > a.cents THEN 1 WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sx,
      |    CASE WHEN b.ords > a.ords THEN 1 WHEN b.ords < a.ords THEN -1 ELSE 0 END AS sy
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(COALESCE(SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS conc,
      |    CAST(COALESCE(SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS disc,
      |    CAST(COALESCE(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tie_x,
      |    CAST(COALESCE(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tie_y
      |  FROM p),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
      |SELECT n_days, n_pairs, conc, disc, tie_x, tie_y,
      |  -- the tie-adjusted pair product passes 2^64 past ~78k points:
      |  -- VARCHAR-route its double cast (SURVEY §6 r14 rule)
      |  CASE WHEN CAST(n_pairs - tie_x AS HUGEINT) * (n_pairs - tie_y) > 0 THEN
      |    CAST(conc - disc AS DOUBLE)
      |      / sqrt(CAST(CAST(CAST(n_pairs - tie_x AS HUGEINT) * (n_pairs - tie_y) AS VARCHAR) AS DOUBLE))
      |  END AS tau_b
      |FROM agg, nd""".stripMargin

  // --------------------------------------------------- q_brown_forsythe

  /** q_brown_forsythe: BROWN–FORSYTHE spread-shift test per event type on
    * the md5 variant split — the experiment family's missing axis: every
    * other gate tests LOCATION (q_abtest, q_mann_whitney) or SHAPE
    * (q_ks_test); this one asks "did the variant change the VARIANCE?"
    * (a treatment that widens outcomes, e.g. a ranking change that helps
    * some users and hurts others, moves no mean and still matters).
    * Brown–Forsythe = Levene's test with the group MEDIAN center — robust
    * to the heavy tails that make the classical F-test unusable on
    * revenue-like data.
    *
    * EXACT INTEGER CORE (the q_power micro discipline): values go to ×10⁶
    * micro BIGINTs by DECIMAL(18,6) cast (never double·10⁶-then-truncate);
    * each group's median is PERCENTILE_DISC — an actual data value, so
    * both engines pick the identical micro integer; absolute deviations
    * z = |x6 − med6| are exact BIGINTs; and the one-way ANOVA F on z is
    * assembled from exact sums only (R_k = Σz, S_k = Σz² in
    * DECIMAL(38,0)):
    *   between = Σ_k R_k²/n_k − G²/N,  within = ΣS_k − Σ_k R_k²/n_k,
    *   F = (N − k)/(k − 1) · between/within          (k = 2)
    * The k=2 terms are fixed columns — one written float order in both
    * engines. Oracle mirrors in HUGEINT, VARCHAR-routing S_k and the
    * squares (Σz² passes 2⁶⁴ from ~10⁴ rows of 10⁹-micro values up).
    *
    * Scale shape: two passes over the fact (the median needs its own
    * aggregate), both map-side partial; the ≤|types|·2-row median frame
    * broadcast-joins back; one ≤|types|-row rollup closes it. */
  def qBrownForsythe(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
      .select(col("event_type"), col("variant"), micro.as("x6"))
      .cpLazy // consumed twice: the median pass and the deviation pass
    brownForsythe(ev)
  }

  /** The F core over any (event_type, variant ∈ {0,1}, x6 BIGINT micros)
    * frame — factored out so BrownForsytheSpec plants hand samples. */
  private[graft] def brownForsythe(ev: DataFrame): DataFrame = {
    val meds = ev.groupBy(col("event_type"), col("variant"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x6)")
        .cast("long").as("med6"))
    val z = ev.join(broadcast(meds), Seq("event_type", "variant"))
      .withColumn("z", abs(col("x6") - col("med6")))
    val a = z.groupBy(col("event_type"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        // long |dev| sums, widen-late (the q_perm_test rule). |z| =
        // |x6 − med6| can reach 2·max|x6| (value and median at opposite
        // range ends), so the headroom contract here is Σz ≤ n·2·max|x6|
        // < 2⁶³ — HALF the rows the plain Σ|x6| < 2⁶³ rule admits.
        sum(when(col("variant") === 0, col("z")).otherwise(0L))
          .cast(d38).as("r0"),
        sum(when(col("variant") === 1, col("z")).otherwise(0L))
          .cast(d38).as("r1"),
        sum(when(col("variant") === 0, (col("z").cast(d19) * col("z").cast(d19)).cast(d38))
          .otherwise(lit(0L).cast(d38))).cast(d38).as("s0"),
        sum(when(col("variant") === 1, (col("z").cast(d19) * col("z").cast(d19)).cast(d38))
          .otherwise(lit(0L).cast(d38))).cast(d38).as("s1"),
        min(when(col("variant") === 0, col("med6"))).as("med0_micro"),
        min(when(col("variant") === 1, col("med6"))).as("med1_micro"))
    val nT = col("n0") + col("n1")
    def term(r: Column, nk: Column): Column =
      when(nk > 0L, (r.cast(d19) * r.cast(d19)).cast(d38).cast(DoubleType)
        / nk.cast(DoubleType)).otherwise(lit(0.0))
    val sumRTerm = term(col("r0"), col("n0")) + term(col("r1"), col("n1"))
    val g = (col("r0") + col("r1")).cast(d19)
    val between = sumRTerm -
      (g * g).cast(d38).cast(DoubleType) / nT.cast(DoubleType)
    val within = (col("s0") + col("s1")).cast(DoubleType) - sumRTerm
    val f = (nT - lit(2L)).cast(DoubleType) * between / within
    a.select(col("event_type"), col("n0"), col("n1"),
        col("med0_micro"), col("med1_micro"),
        when(col("n0") > 0L && col("n1") > 0L && nT > 2L && within > 0.0, f)
          .as("f_bf"))
      .orderBy(col("event_type"))
  }

  val qBrownForsytheSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
      |  FROM events WHERE value IS NOT NULL),
      |med AS (
      |  SELECT event_type, variant, CAST(quantile_disc(x6, 0.5) AS BIGINT) AS med6
      |  FROM ev GROUP BY 1, 2),
      |z AS (
      |  SELECT e.event_type, e.variant, abs(e.x6 - m.med6) AS z, m.med6
      |  FROM ev e JOIN med m ON e.event_type = m.event_type AND e.variant = m.variant),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(z AS HUGEINT) ELSE 0 END) AS HUGEINT) AS r0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(z AS HUGEINT) ELSE 0 END) AS HUGEINT) AS r1,
      |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(z AS HUGEINT) * z ELSE 0 END) AS HUGEINT) AS s0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(z AS HUGEINT) * z ELSE 0 END) AS HUGEINT) AS s1,
      |    MIN(CASE WHEN variant = 0 THEN med6 END) AS med0_micro,
      |    MIN(CASE WHEN variant = 1 THEN med6 END) AS med1_micro
      |  FROM z GROUP BY event_type),
      |k AS (
      |  -- big-int -> double via VARCHAR (SURVEY §6 r14 rule): Σz² and the
      |  -- squared deviation sums pass 2^64 from ~10⁴ rows up
      |  SELECT event_type, n0, n1, med0_micro, med1_micro,
      |    n0 + n1 AS nt,
      |    (CASE WHEN n0 > 0 THEN CAST(CAST(r0 * r0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) ELSE 0.0 END
      |     + CASE WHEN n1 > 0 THEN CAST(CAST(r1 * r1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE 0.0 END) AS sum_r_term,
      |    CAST(CAST((r0 + r1) * (r0 + r1) AS VARCHAR) AS DOUBLE) AS g2_d,
      |    CAST(CAST(s0 + s1 AS VARCHAR) AS DOUBLE) AS s_d
      |  FROM a),
      |f AS (
      |  SELECT event_type, n0, n1, med0_micro, med1_micro, nt,
      |    sum_r_term - g2_d / CAST(nt AS DOUBLE) AS between_ss,
      |    s_d - sum_r_term AS within_ss
      |  FROM k)
      |SELECT event_type, n0, n1, med0_micro, med1_micro,
      |  CASE WHEN n0 > 0 AND n1 > 0 AND nt > 2 AND within_ss > 0.0 THEN
      |    CAST(nt - 2 AS DOUBLE) * between_ss / within_ss
      |  END AS f_bf
      |FROM f ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------- q_anova

  /** q_anova: classic ONE-WAY ANOVA F per event type across the THREE-way
    * md5 user split — the parametric baseline the family's robust gates
    * improve on (q_kruskal_wallis drops the normality assumption,
    * q_brown_forsythe tests the variance instead; a user reads all three
    * off the SAME bucketing). Fixed k = 3 design: df₁ = 2, df₂ = N − 3.
    *
    * EXACT INTEGER CORE (the q_power micro discipline): values as ×10⁶
    * micro BIGINTs; per-group sums R_k = Σx6 and the pooled square sum
    * S = Σx6² in DECIMAL(38,0) — so between = Σ R_k²/n_k − G²/N and
    * within = S − Σ R_k²/n_k assemble from exact integers with the k=3
    * float terms as FIXED COLUMNS (one written order in both engines),
    * and F = (N−3)/2 · between/within is one pinned chain. Oracle mirrors
    * in HUGEINT, VARCHAR-routing S and every square (Σx6² passes 2⁶⁴ from
    * ~10⁴ rows of 10⁹-micro values up).
    *
    * Scale shape: ONE map-side-partial aggregation over the fact, one
    * ≤|types|-row chain. */
  def qAnova(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 3)
      .select(col("event_type"), col("variant"), micro.as("x6"))
    anova(ev)
  }

  /** The F core over any (event_type, variant ∈ {0,1,2}, x6 BIGINT
    * micros) frame — factored out so AnovaSpec plants hand samples. */
  private[graft] def anova(ev: DataFrame): DataFrame = {
    // long micro sums, widen-late (the q_perm_test rule)
    def cSum(k: Int): Column =
      sum(when(col("variant") === k, col("x6")).otherwise(0L)).cast(d38)
    val a = ev.groupBy(col("event_type"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 2, 1L).otherwise(0L)).as("n2"),
        cSum(0).as("r0"), cSum(1).as("r1"), cSum(2).as("r2"),
        sum((col("x6").cast(d19) * col("x6").cast(d19)).cast(d38))
          .cast(d38).as("ss"))
    val nT = col("n0") + col("n1") + col("n2")
    def term(r: Column, nk: Column): Column =
      when(nk > 0L, (r.cast(d19) * r.cast(d19)).cast(d38).cast(DoubleType)
        / nk.cast(DoubleType)).otherwise(lit(0.0))
    def mean(r: Column, nk: Column): Column =
      when(nk > 0L,
        r.cast(DoubleType) / nk.cast(DoubleType) / lit(1000000.0))
    val sumRTerm = term(col("r0"), col("n0")) +
      term(col("r1"), col("n1")) + term(col("r2"), col("n2"))
    val g = (col("r0") + col("r1") + col("r2")).cast(d19)
    val between = sumRTerm -
      (g * g).cast(d38).cast(DoubleType) / nT.cast(DoubleType)
    val within = col("ss").cast(DoubleType) - sumRTerm
    val f = (nT - lit(3L)).cast(DoubleType) / lit(2.0) * between / within
    a.select(col("event_type"), col("n0"), col("n1"), col("n2"),
        mean(col("r0"), col("n0")).as("mean0"),
        mean(col("r1"), col("n1")).as("mean1"),
        mean(col("r2"), col("n2")).as("mean2"),
        when(col("n0") > 0L && col("n1") > 0L && col("n2") > 0L &&
          nT > 3L && within > 0.0, f).as("f_anova"))
      .orderBy(col("event_type"))
  }

  val qAnovaSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 3 AS variant,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
      |  FROM events WHERE value IS NOT NULL),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN variant = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS r0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS r1,
      |    CAST(SUM(CASE WHEN variant = 2 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS r2,
      |    CAST(SUM(CAST(x6 AS HUGEINT) * x6) AS HUGEINT) AS ss
      |  FROM ev GROUP BY event_type),
      |k AS (
      |  -- big-int -> double via VARCHAR (SURVEY §6 r14 rule): Σx6² and
      |  -- the squared sums pass 2^64 from ~10⁴ rows up
      |  SELECT event_type, n0, n1, n2,
      |    n0 + n1 + n2 AS nt,
      |    CASE WHEN n0 > 0 THEN CAST(CAST(r0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) / 1000000.0 END AS mean0,
      |    CASE WHEN n1 > 0 THEN CAST(CAST(r1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0 END AS mean1,
      |    CASE WHEN n2 > 0 THEN CAST(CAST(r2 AS VARCHAR) AS DOUBLE) / CAST(n2 AS DOUBLE) / 1000000.0 END AS mean2,
      |    (CASE WHEN n0 > 0 THEN CAST(CAST(r0 * r0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) ELSE 0.0 END
      |     + CASE WHEN n1 > 0 THEN CAST(CAST(r1 * r1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE 0.0 END
      |     + CASE WHEN n2 > 0 THEN CAST(CAST(r2 * r2 AS VARCHAR) AS DOUBLE) / CAST(n2 AS DOUBLE) ELSE 0.0 END) AS sum_r_term,
      |    CAST(CAST((r0 + r1 + r2) * (r0 + r1 + r2) AS VARCHAR) AS DOUBLE) AS g2_d,
      |    CAST(CAST(ss AS VARCHAR) AS DOUBLE) AS ss_d
      |  FROM a),
      |f AS (
      |  SELECT event_type, n0, n1, n2, mean0, mean1, mean2, nt,
      |    sum_r_term - g2_d / CAST(nt AS DOUBLE) AS between_ss,
      |    ss_d - sum_r_term AS within_ss
      |  FROM k)
      |SELECT event_type, n0, n1, n2, mean0, mean1, mean2,
      |  CASE WHEN n0 > 0 AND n1 > 0 AND n2 > 0 AND nt > 3 AND within_ss > 0.0 THEN
      |    CAST(nt - 3 AS DOUBLE) / 2.0 * between_ss / within_ss
      |  END AS f_anova
      |FROM f ORDER BY event_type""".stripMargin

  // -------------------------------------------------------- q_perm_test

  /** Number of label permutations (hash bits 1..R); bit 0 is the observed
    * assignment. p-value resolution is 1/(R+1). Bounded by the 60 usable
    * bits of the 15-hex-char md5 prefix. */
  val PermTestR = 59

  /** q_perm_test: FIXED-SEED PERMUTATION TEST per event type — the
    * assumption-free significance gate beside the family's analytic
    * tests (q_abtest assumes normal proportions, q_mann_whitney a rank
    * model; the permutation test's only assumption is exchangeability,
    * and its p-value is exact under the null by construction). The
    * "randomness" is R = 59 DETERMINISTIC re-assignments read as BITS of
    * ONE md5 per user: with h = the 60-bit value of md5(user_id)'s first
    * 15 hex chars, variant_r = (h >> r) & 1 — md5 bits are independent,
    * so each bit is a fresh exchangeable split, ONE digest per row buys
    * all 60 labelings (the salted-digest-per-permutation form measured
    * ~7× slower at sf0.1), and bit 0 ≡ h % 2 IS the family's observed
    * md5 variant split (q_ab_srm/q_mann_whitney/q_cliff_delta read the
    * same bucketing). Both engines enumerate the identical permutation
    * set — a seeded permutation test with no RNG state anywhere.
    *
    * EXACT INTEGER CORE: the test statistic |mean₀ − mean₁| is compared
    * via CROSS-MULTIPLICATION, never division — with per-salt micro sums
    * S_k and sizes n_k, stat_r ≥ stat_obs ⟺
    *   |S₀ᵣn₁ᵣ − S₁ᵣn₀ᵣ| · n₀ₒn₁ₒ ≥ |S₀ₒn₁ₒ − S₁ₒn₀ₒ| · n₀ᵣn₁ᵣ
    * in DECIMAL(38,0) — no float ever decides an exceedance, so the
    * p-value (1 + #exceed)/(R+1) is bit-identical across engines by
    * integer arithmetic alone. Headroom: |Σx6·n|·n² < 10³⁸ ⇒ ~10⁷ rows
    * per type at 10⁹-micro values; past it Spark's ANSI decimal overflow
    * fails loudly (the documented family contract). The observed mean
    * diff is ONE pinned chain.
    *
    * Scale shape: ONE digest per row, then the fact fans out ×(R+1)
    * through ONE map-side-partial aggregation (60·|events| cheap bit-op
    * rows reduce to ≤|types|·60 partials per task before any shuffle);
    * the exceedance join is a broadcast of the ≤|types|-row observed
    * frame against the ≤|types|·R-row permutation frame; one
    * ≤|types|-row rollup closes it. The fan-out is embarrassingly
    * parallel, so 100 TB raises executor count, not the plan shape;
    * past 60 permutations, extend h with a second 15-hex window. */
  def qPermTest(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"), micro.as("x6"))
    permTest(ev, PermTestR)
  }

  /** The permutation core over any (event_type, user_id, x6 BIGINT
    * micros) frame — factored out so PermTestSpec plants hand samples
    * and replays the md5-bit assignment in plain JVM code. */
  private[graft] def permTest(ev: DataFrame, r: Int): DataFrame = {
    require(r >= 1 && r <= 59, s"permTest reads bits 0..$r of a 60-bit hash")
    val salted = ev
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("r", explode(sequence(lit(0), lit(r))))
      .withColumn("variant", expr("shiftright(h, r) % 2"))
    // LONG micro sums in the hot 60× fan-out (codegen'd, ~2× the decimal
    // path at bench scale), widened to DECIMAL(38,0) once on the
    // ≤|types|·60-row frame: the Σ|x6| < 2⁶³ long-sum headroom (~9·10⁶
    // rows/type at 10¹²-micro values) matches the cross-multiplication's
    // own d38 bound below, so the narrower type costs no contract —
    // Spark's ANSI long overflow is as loud as the decimal one
    val s = salted.groupBy(col("event_type"), col("r"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 0, col("x6")).otherwise(0L))
          .cast(d38).as("s0"),
        sum(when(col("variant") === 1, col("x6")).otherwise(0L))
          .cast(d38).as("s1"))
      .cpLazy // consumed twice (observed row + permutation rows): without
      // the checkpoint BOTH branches recompute the 60x fan-out; lazy —
      // the broadcast-side obs materializes it, the perm branch reuses
    // |S0·n1 − S1·n0|: the cross-multiplied mean-difference numerator
    def aNum(s0: Column, n1: Column, s1: Column, n0: Column): Column =
      abs(s0 * n1.cast(d19) - s1 * n0.cast(d19)).cast(d38)
    val obs = s.filter(col("r") === 0)
      .select(col("event_type"),
        col("n0").as("n0_o"), col("n1").as("n1_o"),
        col("s0").as("s0_o"), col("s1").as("s1_o"),
        aNum(col("s0"), col("n1"), col("s1"), col("n0")).as("a_o"))
    val perm = s.filter(col("r") > 0)
      .join(broadcast(obs), Seq("event_type"))
    val aR = aNum(col("s0"), col("n1"), col("s1"), col("n0"))
    // a permutation that lands everyone on one side has an UNDEFINED mean
    // difference — count it as an exceedance (inflates p: conservative;
    // the opposite choice would manufacture significance out of
    // degenerate splits; vanishing probability ~2^-n on real data)
    val exceed = when(col("n0") > 0L && col("n1") > 0L,
      when(aR * (col("n0_o").cast(d19) * col("n1_o").cast(d19)).cast(d38)
        >= col("a_o") * (col("n0").cast(d19) * col("n1").cast(d19)).cast(d38),
        1L).otherwise(0L)).otherwise(1L)
    val rolled = perm.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_perm"),
        sum(exceed).as("n_exceed"),
        min(col("n0_o")).as("n0"), min(col("n1_o")).as("n1"),
        min(col("s0_o")).as("s0"), min(col("s1_o")).as("s1"))
    val meanDiff = when(col("n0") > 0L && col("n1") > 0L,
      (col("s0").cast(DoubleType) / col("n0").cast(DoubleType)
        - col("s1").cast(DoubleType) / col("n1").cast(DoubleType))
        / lit(1000000.0))
    rolled.select(col("event_type"), col("n0"), col("n1"),
        meanDiff.as("mean_diff"),
        col("n_perm"), col("n_exceed"),
        ((col("n_exceed") + lit(1L)).cast(DoubleType)
          / (col("n_perm") + lit(1L)).cast(DoubleType)).as("p_value"))
      .orderBy(col("event_type"))
  }

  /** The permutation core's CTE chain (ev → s → obs → perm → rolled),
    * shared by qPermTestSql and qBhFdrSql so the two oracles can never
    * drift apart on the exceedance arithmetic. */
  private[graft] val permCoreCtes: String =
    s"""WITH ev AS (
      |  SELECT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
      |  FROM events WHERE value IS NOT NULL),
      |s AS (
      |  SELECT event_type, t.r,
      |    CAST(SUM(CASE WHEN ((h >> t.r) & 1) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN ((h >> t.r) & 1) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN ((h >> t.r) & 1) = 0 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s0,
      |    CAST(SUM(CASE WHEN ((h >> t.r) & 1) = 1 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s1
      |  FROM ev, generate_series(0, ${PermTestR}) AS t(r)
      |  GROUP BY 1, 2),
      |obs AS (
      |  SELECT event_type, n0 AS n0_o, n1 AS n1_o, s0 AS s0_o, s1 AS s1_o,
      |    abs(s0 * n1 - s1 * n0) AS a_o
      |  FROM s WHERE r = 0),
      |perm AS (
      |  SELECT p.event_type,
      |    -- a one-sided permutation has an undefined mean diff: count it
      |    -- as an exceedance (conservative — inflates p, never fakes
      |    -- significance)
      |    CASE WHEN p.n0 > 0 AND p.n1 > 0 THEN
      |      CASE WHEN abs(p.s0 * p.n1 - p.s1 * p.n0) * (CAST(o.n0_o AS HUGEINT) * o.n1_o)
      |        >= o.a_o * (CAST(p.n0 AS HUGEINT) * p.n1)
      |      THEN 1 ELSE 0 END
      |    ELSE 1 END AS exceed,
      |    o.n0_o, o.n1_o, o.s0_o, o.s1_o
      |  FROM s p JOIN obs o ON p.event_type = o.event_type WHERE p.r > 0),
      |rolled AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_perm,
      |    CAST(SUM(exceed) AS BIGINT) AS n_exceed,
      |    MIN(n0_o) AS n0, MIN(n1_o) AS n1,
      |    MIN(s0_o) AS s0, MIN(s1_o) AS s1
      |  FROM perm GROUP BY event_type)""".stripMargin

  val qPermTestSql: String =
    s"""$permCoreCtes
      |SELECT event_type, n0, n1,
      |  -- micro sums stay under 2^64 at test SFs but pass it at scale:
      |  -- VARCHAR-route (SURVEY §6 r14 rule)
      |  CASE WHEN n0 > 0 AND n1 > 0 THEN
      |    (CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE)
      |      - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE)) / 1000000.0
      |  END AS mean_diff,
      |  n_perm, n_exceed,
      |  CAST(n_exceed + 1 AS DOUBLE) / CAST(n_perm + 1 AS DOUBLE) AS p_value
      |FROM rolled ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ q_cuped

  /** q_cuped: CUPED variance reduction per event type — the modern
    * experimentation workhorse the family's tests all benefit from
    * (adjusting the experiment metric by each user's PRE-period baseline
    * removes the between-user variance a randomized split can't, often
    * 30-50% of it — smaller n for the same power, read against q_power).
    * Pre/post boundary = the midpoint of the observed time range (exact
    * integer epoch-micro arithmetic, both engines floor identically on
    * positives); covariate x = a user's pre-period value sum, metric
    * y = the post-period sum; θ = cov(x,y)/var(x) from the POOLED users
    * (the standard choice — under randomization θ is treatment-free);
    *   diff_cuped = (ȳ₁ − ȳ₀) − θ(x̄₁ − x̄₀)
    * and var_reduction = ρ²(x,y), the fraction of metric variance the
    * adjustment removes.
    *
    * EXACT INTEGER CORE (the q_power micro discipline): per-user micro
    * sums in LONG (ANSI-loud), per-type moment sums Σx, Σy, Σxy, Σx²,
    * Σy² and the θ numerator/denominator n·Σxy − ΣxΣy / n·Σx² − (Σx)²
    * all in DECIMAL(38,0) — θ, the two diffs, and ρ² are each ONE pinned
    * chain over exact integers (ρ² squares the already-double numerator,
    * never the 10³⁰-digit integer). Oracle mirrors in HUGEINT and
    * VARCHAR-routes every moment cast (Σxy passes 2⁶⁴ from ~10⁴ users of
    * 10¹⁰-micro sums). Headroom: n·Σxy < 10³⁸ ⇒ ~10⁶ users/type at
    * 10¹²-micro per-user sums, ANSI-loud past it.
    *
    * Scale shape: one 1-row bounds aggregate broadcast back (the
    * q_runs_test crossJoin class), ONE user-keyed aggregation of the
    * fact, one ≤|types|-row rollup. */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"),
        // integer div, never `/`: lang-level division on longs routes
        // through DOUBLE, and epoch-nano magnitudes (~1.7·10¹⁸) don't fit
        // a double's 53-bit mantissa
        expr("ts div 1000").as("ts_us"), micro.as("x6"))
    val bounds = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .withColumn("pre", col("ts_us") < expr("(lo + hi) div 2"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(when(col("pre"), col("x6")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("x6")).otherwise(0L)).as("y"))
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
    cuped(perUser)
  }

  /** The CUPED core over any (event_type, variant ∈ {0,1}, x, y BIGINT
    * micros) per-user frame — factored out so CupedSpec plants
    * hand-correlated samples with chosen variants. */
  private[graft] def cuped(perUser: DataFrame): DataFrame = {
    val a = perUser.groupBy(col("event_type"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 0, col("x")).otherwise(0L))
          .cast(d38).as("sx0"),
        sum(when(col("variant") === 1, col("x")).otherwise(0L))
          .cast(d38).as("sx1"),
        sum(when(col("variant") === 0, col("y")).otherwise(0L))
          .cast(d38).as("sy0"),
        sum(when(col("variant") === 1, col("y")).otherwise(0L))
          .cast(d38).as("sy1"),
        sum((col("x").cast(d19) * col("y").cast(d19)).cast(d38))
          .cast(d38).as("sxy"),
        sum((col("x").cast(d19) * col("x").cast(d19)).cast(d38))
          .cast(d38).as("sxx"),
        sum((col("y").cast(d19) * col("y").cast(d19)).cast(d38))
          .cast(d38).as("syy"))
    val n = (col("n0") + col("n1")).cast(d19)
    val sx = col("sx0") + col("sx1")
    val sy = col("sy0") + col("sy1")
    val numTh = (n * col("sxy") - sx * sy).cast(d38)
    val denTh = (n * col("sxx") - sx * sx).cast(d38)
    val denY = (n * col("syy") - sy * sy).cast(d38)
    val theta = when(denTh > 0L,
      numTh.cast(DoubleType) / denTh.cast(DoubleType))
    def mean(s: Column, nk: Column): Column =
      s.cast(DoubleType) / nk.cast(DoubleType) / lit(1000000.0)
    val bothSides = col("n0") > 0L && col("n1") > 0L
    val diffRaw = when(bothSides,
      mean(col("sy1"), col("n1")) - mean(col("sy0"), col("n0")))
    val diffCuped = when(bothSides && denTh > 0L,
      diffRaw - theta *
        (mean(col("sx1"), col("n1")) - mean(col("sx0"), col("n0"))))
    val varRed = when(denTh > 0L && denY > 0L,
      numTh.cast(DoubleType) * numTh.cast(DoubleType)
        / (denTh.cast(DoubleType) * denY.cast(DoubleType)))
    a.select(col("event_type"), col("n0"), col("n1"),
        theta.as("theta"), diffRaw.as("diff_raw"),
        diffCuped.as("diff_cuped"), varRed.as("var_reduction"))
      .orderBy(col("event_type"))
  }

  val qCupedSql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id, epoch_us(ts) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
      |  FROM events WHERE value IS NOT NULL),
      |b AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM ev),
      |u AS (
      |  SELECT event_type, user_id,
      |    CAST(COALESCE(SUM(CASE WHEN ts_us < mid THEN x6 END), 0) AS BIGINT) AS x,
      |    CAST(COALESCE(SUM(CASE WHEN ts_us >= mid THEN x6 END), 0) AS BIGINT) AS y,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant
      |  FROM ev, b GROUP BY event_type, user_id),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(x AS HUGEINT) ELSE 0 END) AS HUGEINT) AS sx0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(x AS HUGEINT) ELSE 0 END) AS HUGEINT) AS sx1,
      |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(y AS HUGEINT) ELSE 0 END) AS HUGEINT) AS sy0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(y AS HUGEINT) ELSE 0 END) AS HUGEINT) AS sy1,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM u GROUP BY event_type),
      |k AS (
      |  -- big-int -> double via VARCHAR (SURVEY §6 r14 rule): every
      |  -- moment and the theta numerator/denominator pass 2^64 at scale
      |  SELECT event_type, n0, n1,
      |    CAST(n0 + n1 AS HUGEINT) * sxy - (sx0 + sx1) * (sy0 + sy1) AS num_th,
      |    CAST(n0 + n1 AS HUGEINT) * sxx - (sx0 + sx1) * (sx0 + sx1) AS den_th,
      |    CAST(n0 + n1 AS HUGEINT) * syy - (sy0 + sy1) * (sy0 + sy1) AS den_y,
      |    sx0, sx1, sy0, sy1
      |  FROM a),
      |f AS (
      |  SELECT event_type, n0, n1, num_th, den_th, den_y,
      |    CASE WHEN den_th > 0 THEN
      |      CAST(CAST(num_th AS VARCHAR) AS DOUBLE) / CAST(CAST(den_th AS VARCHAR) AS DOUBLE) END AS theta,
      |    CASE WHEN n0 > 0 AND n1 > 0 THEN
      |      CAST(CAST(sy1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0
      |        - CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) / 1000000.0 END AS diff_raw,
      |    CASE WHEN n0 > 0 AND n1 > 0 THEN
      |      CAST(CAST(sx1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0
      |        - CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) / 1000000.0 END AS dx
      |  FROM k)
      |SELECT event_type, n0, n1, theta, diff_raw,
      |  CASE WHEN n0 > 0 AND n1 > 0 AND den_th > 0 THEN
      |    diff_raw - theta * dx END AS diff_cuped,
      |  CASE WHEN den_th > 0 AND den_y > 0 THEN
      |    CAST(CAST(num_th AS VARCHAR) AS DOUBLE) * CAST(CAST(num_th AS VARCHAR) AS DOUBLE)
      |      / (CAST(CAST(den_th AS VARCHAR) AS DOUBLE) * CAST(CAST(den_y AS VARCHAR) AS DOUBLE)) END AS var_reduction
      |FROM f ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------- q_auc

  /** q_auc: ROC AUC (and its Gini coefficient 2·AUC − 1) of order price
    * as a score discriminating fulfilled orders, per order priority — the
    * binary-scoring eval metric the ML-eval family lacks (s_ndcg / s_mrr
    * grade rankings; AUC grades a scalar score against a binary label,
    * the number every classifier/credit-score report leads with).
    * AUC = P(score⁺ > score⁻) + ½·P(=) — the Mann-Whitney U identity —
    * so it RIDES q_cliff_delta's exact pair-count core verbatim
    * (Relational10.cliffDelta: one BandedRank.withPrefixSums pass over
    * the collapsed (group, score, c⁺, c⁻) frame):
    *   AUC = (2·n_gt + n_ties) / (2·n₁n₂)   — exact integers, ONE
    * pinned division (the spec pins the equivalent identity
    * AUC = (1 + δ)/2 against the δ the shared core emits).
    *
    * Scale shape: inherited from q_cliff_delta — one (group, score)
    * collapse (map-side partial), one banded prefix, one ≤|groups|-row
    * rollup. */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(s, dir)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,6)") * lit(100L))
          .cast("long").as("cents"),
        (col("o_orderstatus") === "F").as("pos"))
      .groupBy(col("o_orderpriority").as("event_type"), col("cents").as("value"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("c2"))
      .cpEager // consumed 3x by the banded prefix's independent stages
    auc(g)
  }

  /** The AUC chain over any collapsed (event_type, value, c1⁺, c2⁻)
    * frame — factored out so AucSpec plants hand-scored samples. */
  private[graft] def auc(g: DataFrame): DataFrame = {
    val d = Relational10.cliffDelta(g)
    val pairs2 = (lit(2L).cast(d19) * col("n1").cast(d19)
      * col("n2").cast(d19)).cast(d38)
    val aucCol = when(pairs2 > 0L,
      (lit(2L).cast(d19) * col("n_gt") + col("n_ties")).cast(d38)
        .cast(DoubleType) / pairs2.cast(DoubleType))
    d.select(col("event_type").as("o_orderpriority"),
        col("n1").as("n_pos"), col("n2").as("n_neg"),
        aucCol.as("auc"),
        (lit(2.0) * aucCol - lit(1.0)).as("gini"))
      .orderBy(col("o_orderpriority"))
  }

  val qAucSql: String =
    """WITH g AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS v,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM orders GROUP BY 1, 2),
      |c AS (
      |  SELECT grp, c1, c2,
      |    CAST(SUM(c2) OVER (PARTITION BY grp ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
      |  FROM g),
      |a AS (
      |  SELECT grp,
      |    CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * (cum2 - c2)) AS HUGEINT) AS n_gt,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * c2) AS HUGEINT) AS n_ties
      |  FROM c GROUP BY grp),
      |f AS (
      |  -- big-int -> double via VARCHAR (SURVEY §6 r14 rule): the pair
      |  -- counts pass 2^64 at scale
      |  SELECT grp, n1, n2,
      |    CASE WHEN CAST(n1 AS HUGEINT) * n2 > 0 THEN
      |      CAST(CAST(2 * n_gt + n_ties AS VARCHAR) AS DOUBLE)
      |        / CAST(CAST(2 * CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE)
      |    END AS auc
      |  FROM a)
      |SELECT grp AS o_orderpriority, n1 AS n_pos, n2 AS n_neg, auc,
      |  2.0 * auc - 1.0 AS gini
      |FROM f ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------ q_bh_fdr

  /** q_bh_fdr: BENJAMINI–HOCHBERG FDR control across the experiment
    * family's per-type permutation p-values — the multiple-testing
    * readout the toolkit was missing: a dashboard running the family's
    * tests over every event type inflates its false-positive rate
    * unless the per-type verdicts pass a step-up correction. The
    * permutation p-values are EXACT RATIONALS ((k+1)/(R+1) from
    * q_perm_test's md5-bit machinery), so the whole BH procedure is
    * INTEGER arithmetic: p_(i) ≤ i·α/m  ⇔  20·m·(k_i+1) ≤ i·(R+1) at
    * α = 1/20 — no CDF, no float ever decides a rejection; the step-up
    * cutoff i_max broadcasts back and rejects ranks 1..i_max. p_value
    * and bh_threshold are emitted as pinned display chains beside the
    * integer verdict.
    *
    * Scale shape: the permutation fan-out is the cost (the q_perm_test
    * shape); BH itself runs on the ≤|types|-row frame — a GLOBAL rank
    * window over |types| rows (allowlisted with that bound) plus two
    * 1-row broadcasts. */
  def qBhFdr(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"), micro.as("x6"))
    bhFdr(permTest(ev, PermTestR))
  }

  /** The BH step-up over any permTest result frame — factored out so
    * BhFdrSpec plants (n_perm, n_exceed) panels directly. */
  private[graft] def bhFdr(res: DataFrame): DataFrame = {
    val base = res
      .select(col("event_type"), col("n_perm"), col("n_exceed"), col("p_value"))
      .cpLazy // consumed 3x: the rank frame, m, and the i_max scan
    // p = (k+1)/(R+1) with R identical across types, so ordering by
    // n_exceed IS ordering by p; event_type breaks ties deterministically
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_exceed"), col("event_type"))
    val ranked = base.withColumn("rnk", row_number().over(w).cast("long"))
    val m = base.agg(count(lit(1)).as("m"))
    val withM = ranked.crossJoin(broadcast(m))
    val cond = lit(20L) * col("m") * (col("n_exceed") + lit(1L)) <=
      col("rnk") * (col("n_perm") + lit(1L))
    val iMax = withM.filter(cond).agg(max(col("rnk")).as("i_max"))
    withM.crossJoin(broadcast(iMax))
      .select(col("event_type"), col("n_perm"), col("n_exceed"),
        col("p_value"), col("rnk"), col("m"),
        (col("rnk").cast(DoubleType) /
          (lit(20.0) * col("m").cast(DoubleType))).as("bh_threshold"),
        coalesce(col("rnk") <= col("i_max"), lit(false)).as("rejected"))
      .orderBy(col("event_type"))
  }

  val qBhFdrSql: String =
    s"""$permCoreCtes,
      |pr AS (
      |  SELECT event_type, n_perm, n_exceed,
      |    CAST(n_exceed + 1 AS DOUBLE) / CAST(n_perm + 1 AS DOUBLE) AS p_value,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_exceed, event_type) AS BIGINT) AS rnk
      |  FROM rolled),
      |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pr),
      |im AS (
      |  SELECT MAX(CASE WHEN 20 * mm.m * (pr.n_exceed + 1)
      |      <= pr.rnk * (pr.n_perm + 1) THEN pr.rnk END) AS i_max
      |  FROM pr CROSS JOIN mm)
      |SELECT pr.event_type, pr.n_perm, pr.n_exceed, pr.p_value, pr.rnk, mm.m,
      |  CAST(pr.rnk AS DOUBLE) / (20.0 * CAST(mm.m AS DOUBLE)) AS bh_threshold,
      |  COALESCE(pr.rnk <= im.i_max, FALSE) AS rejected
      |FROM pr CROSS JOIN mm CROSS JOIN im ORDER BY pr.event_type""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_kruskal_wallis", qKruskalWallis _, qKruskalWallisSql),
    Gate("q_kendall_tau", qKendallTau _, qKendallTauSql),
    Gate("q_brown_forsythe", qBrownForsythe _, qBrownForsytheSql),
    Gate("q_anova", qAnova _, qAnovaSql),
    Gate("q_perm_test", qPermTest _, qPermTestSql),
    Gate("q_cuped", qCuped _, qCupedSql),
    Gate("q_auc", qAuc _, qAucSql),
    Gate("q_bh_fdr", qBhFdr _, qBhFdrSql),
  )
}
