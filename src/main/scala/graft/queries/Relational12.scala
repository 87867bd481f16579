package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Ckpt._

/** Round-15 analytics batch: the mergeable-sketch STORE family's quantile
  * member (VERDICT r14 "Next round" #8 — the per-partition
  * rollup-and-store pattern q_sketch_setops proved for KMV distinct
  * counts, applied to percentiles).
  */
object Relational12 {

  private val UsPerDay = 86400000000L

  /** Sketch resolution: 128 equal-width integer buckets. The relative
    * error bound is ONE bucket width = range/128; raise B for tighter
    * answers — state per stored slice stays O(B). */
  val QSketchBuckets = 128

  // ----------------------------------------------------- q_sketch_quantile

  /** q_sketch_quantile: MERGEABLE QUANTILE SKETCHES, stored per slice and
    * merged at query time — the percentile analogue of q_sketch_setops'
    * KMV store: each DAY's ingest rolls its events into an O(B)-row
    * fixed-bin count sketch (bucket = (x6 − lo) div w, all integer
    * arithmetic — deterministic and hash-checkable, unlike a
    * coin-flipping KLL compactor), the sketches are WRITTEN to the store
    * and read back, and p50/p90/p99 per event type are answered from the
    * MERGED sketch alone — counts add across any slicing, so a year's
    * percentile is |days|·B sketch rows, never a re-scan of the year.
    * This is the piece that makes q_rfm / t_curriculum / q_histogram_eqd's
    * approx toggles INCREMENTAL at 100 TB: the per-day rollup is the only
    * pass that ever touches the fact.
    *
    * Estimate = linear interpolation of rank r = ⌈p·n/100⌉ inside its
    * bucket — ONE pinned double chain over exact integers (lo, bucket·w,
    * r − cum_before, cnt are all BIGINTs; the q_bollinger rule). Beside
    * it the gate emits the EXACT percentile_disc of the same rank and the
    * guaranteed bound: the rank-r element lives in the selected bucket by
    * construction, so |est − exact| ≤ w ALWAYS — `within_bound` is the
    * emitted proof, and SketchQuantileSpec asserts it on planted frames.
    *
    * Bin layout: [lo, hi] from one bounds pass over the current corpus
    * (deterministic; the oracle mirrors it). A production store pins the
    * layout per metric contract up front instead, so late slices can't
    * shift old bins — the merge/answer path is identical either way.
    *
    * Scale shape: ONE map-side-partial (type, day, bucket) rollup over
    * the fact (the stored sketch — bounded by |types|·|days|·B at ANY
    * corpus scale), a bucket-keyed merge, and ≤B-row per-type windows
    * (bucket-ordered — the BandedRank-bounded class). The exact
    * percentile columns are the oracle's cross-check and would be DROPPED
    * at 100 TB — the sketch path never sorts the fact. */
  def qSketchQuantile(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr(s"(ts div 1000) div $UsPerDay").as("day"),
        (col("value").cast("decimal(18,6)") * lit(1000000L))
          .cast("long").as("x6"))
    val out = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      s"/tmp/graft_qsketch_store_$h"
    }
    sketchQuantile(ev, Some(out))
  }

  /** One slice's sketch rows from a (event_type, day, x6, lo, w) frame —
    * the bin layout (lo, w) rides as columns so the INCREMENTAL path can
    * pin it independently of any one slice's value range. Shared by the
    * gate (layout from the corpus bounds pass) and appendSliceSketch
    * (layout pinned by the store's metric contract). */
  private[graft] def sliceSketch(evWithLayout: DataFrame): DataFrame =
    evWithLayout
      .withColumn("bucket", expr("(x6 - lo) div w"))
      .groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(count(lit(1)).as("cnt"), max(col("lo")).as("lo"), max(col("w")).as("w"))

  /** INCREMENTAL ingest: roll ONE slice's raw rows into its sketch and
    * append it to the store, replacing only that slice's partition
    * (dynamic partition overwrite — re-ingesting a late-arriving day is
    * idempotent). (lo, w) is the store's PINNED bin layout: at 100 TB the
    * layout is a metric contract fixed up front, so no append ever
    * rescans or re-bins previous slices — O(|slice|) per ingest, the
    * q_sketch_setops/d_incremental store discipline. Values outside the
    * pinned range clamp into the edge buckets (the layout owner's
    * documented trade; the bound then widens to the edge bucket's true
    * span, which `within_bound` would surface). */
  private[graft] def appendSliceSketch(evDay: DataFrame, store: String,
      lo: Long, w: Long): Unit = {
    val b = QSketchBuckets
    sliceSketch(evDay
      .withColumn("x6", greatest(lit(lo), least(col("x6"), lit(lo + w * b - 1))))
      .withColumn("lo", lit(lo)).withColumn("w", lit(w)))
      .repartition(col("day"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(store)
  }

  /** The sketch-store-merge-answer core over any (event_type, day,
    * x6 BIGINT) frame — factored out so SketchQuantileSpec plants frames
    * with chosen slicings; `store = None` skips the physical roundtrip
    * (the spec's merge-algebra tests), `Some(path)` writes/reads the
    * per-day sketch parquet exactly as the gate does. */
  private[graft] def sketchQuantile(ev: DataFrame,
      store: Option[String]): DataFrame = {
    val s = ev.sparkSession
    val b = QSketchBuckets
    // exact cross-check (dropped at scale — the sketch path never sorts);
    // it carries the per-type min/max so the GLOBAL bounds roll up from
    // this 5-row frame instead of paying a second full fact scan.
    // Eager-checkpointed: it feeds BOTH the sketch write (via bounds) and
    // the final join — lazy would recompute the percentile pass per
    // consumer (the §5 checkpoint discipline).
    val exact = ev.groupBy(col("event_type")).agg(
      expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY x6)").as("e50"),
      expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY x6)").as("e90"),
      expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY x6)").as("e99"),
      min(col("x6")).as("tlo"), max(col("x6")).as("thi"))
      .cpEager
    val bounds = exact.agg(min(col("tlo")).as("lo"), max(col("thi")).as("hi"))
    // the per-slice sketch: O(B) rows per (type, day), all-integer
    val sketch = sliceSketch(ev.crossJoin(broadcast(bounds))
      .withColumn("w", expr(s"(hi - lo) div $b + 1")))
    // STORE: the rollup a pipeline persists per ingest slice —
    // day-clustered first so each slice directory is ONE file (without
    // it every shuffle partition writes a sliver into every day)...
    val stored = store match {
      case Some(out) =>
        sketch.repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(out)
        s.read.parquet(out)
      case None => sketch
    }
    // ...and the MERGE+ANSWER path, reading ONLY the store
    val merged = stored
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"), max(col("lo")).as("lo"), max(col("w")).as("w"))
    val tot = merged.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_buckets"))
    val cum = merged.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ps = s.range(1).select(
      explode(array(lit(50), lit(90), lit(99))).as("p"))
    val r = expr("(p * n + 99) div 100") // = ceil(p·n/100), exact
    val sel = cum.join(broadcast(tot), "event_type")
      .crossJoin(broadcast(ps))
      .withColumn("r", r)
      .filter(col("cum") - col("cnt") < col("r") && col("r") <= col("cum"))
    val estX6 = (col("lo") + col("bucket") * col("w")).cast("double") +
      (col("r") - (col("cum") - col("cnt"))).cast("double") /
        col("cnt").cast("double") * col("w").cast("double")
    val est = estX6 / lit(1000000.0)
    val exactX6 = when(col("p") === 50, col("e50"))
      .when(col("p") === 90, col("e90")).otherwise(col("e99"))
    val exactV = exactX6.cast("double") / lit(1000000.0)
    val widthV = col("w").cast("double") / lit(1000000.0)
    // the bound is asserted in MICRO space, where it holds EXACTLY in
    // doubles (estX6 and exactX6 are both ≤2^53 integers-or-bounded
    // interpolants inside the same bucket, so |diff| ≤ w with no rounding
    // slack); dividing est and exact by 1e6 separately first can push the
    // value-space difference one ulp past the value-space width —
    // SketchQuantileSpec's single-value case caught exactly that.
    val errX6 = abs(estX6 - exactX6.cast("double"))
    sel.join(broadcast(exact), "event_type")
      .select(col("event_type"), col("p"), col("n"), col("n_buckets"),
        widthV.as("width_value"), est.as("est_value"),
        exactV.as("exact_value"),
        (errX6 / lit(1000000.0)).as("abs_err"),
        (errX6 <= col("w").cast("double")).as("within_bound"))
      .orderBy(col("event_type"), col("p"))
  }

  val qSketchQuantileSql: String = {
    val b = QSketchBuckets
    s"""WITH ev AS (
       |  SELECT event_type, epoch_us(ts) // $UsPerDay AS day,
       |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
       |  FROM events WHERE value IS NOT NULL),
       |bd AS (SELECT MIN(x6) AS lo, (MAX(x6) - MIN(x6)) // $b + 1 AS w FROM ev),
       |sk AS (
       |  SELECT event_type, day, (x6 - lo) // w AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS cnt, MAX(lo) AS lo, MAX(w) AS w
       |  FROM ev, bd GROUP BY 1, 2, 3),
       |m AS (
       |  SELECT event_type, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt,
       |    MAX(lo) AS lo, MAX(w) AS w
       |  FROM sk GROUP BY 1, 2),
       |t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n,
       |        CAST(COUNT(*) AS BIGINT) AS n_buckets FROM m GROUP BY 1),
       |c AS (
       |  SELECT event_type, bucket, cnt, lo, w,
       |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM m),
       |x AS (
       |  SELECT event_type,
       |    quantile_disc(x6, 0.50) AS e50, quantile_disc(x6, 0.90) AS e90,
       |    quantile_disc(x6, 0.99) AS e99
       |  FROM ev GROUP BY 1),
       |p(p) AS (VALUES (50), (90), (99)),
       |sel AS (
       |  SELECT c.event_type, p.p, t.n, t.n_buckets, c.bucket, c.cnt, c.lo, c.w,
       |    c.cum - c.cnt AS cum_before, (p.p * t.n + 99) // 100 AS r
       |  FROM c JOIN t ON c.event_type = t.event_type CROSS JOIN p
       |  WHERE c.cum - c.cnt < (p.p * t.n + 99) // 100
       |    AND (p.p * t.n + 99) // 100 <= c.cum),
       |f AS (
       |  SELECT s.event_type, s.p, s.n, s.n_buckets, s.w,
       |    CAST(s.lo + s.bucket * s.w AS DOUBLE)
       |      + CAST(s.r - s.cum_before AS DOUBLE) / CAST(s.cnt AS DOUBLE)
       |        * CAST(s.w AS DOUBLE) AS est_x6,
       |    CAST(CASE WHEN s.p = 50 THEN x.e50
       |              WHEN s.p = 90 THEN x.e90 ELSE x.e99 END AS DOUBLE) AS exact_x6
       |  FROM sel s JOIN x ON s.event_type = x.event_type)
       |SELECT event_type, p, n, n_buckets,
       |  CAST(w AS DOUBLE) / 1000000.0 AS width_value,
       |  est_x6 / 1000000.0 AS est_value,
       |  exact_x6 / 1000000.0 AS exact_value,
       |  -- bound in MICRO space, where |diff| <= w holds exactly in doubles
       |  abs(est_x6 - exact_x6) / 1000000.0 AS abs_err,
       |  abs(est_x6 - exact_x6) <= CAST(w AS DOUBLE) AS within_bound
       |FROM f ORDER BY event_type, p""".stripMargin
  }

  // -------------------------------------------------------- q_welch_ttest

  /** q_welch_ttest: WELCH's unequal-variance t-test per event type on the
    * md5 user split, with the parametric effect sizes the family lacked —
    * Cohen's d and its small-sample-corrected Hedges' g. Completes the
    * location-test ladder: q_abtest (proportions z), q_mann_whitney /
    * q_brunner_munzel (rank-based), q_anova (k-group parametric), and now
    * the 2-sample parametric default with the Welch df q_brunner_munzel
    * already uses on the rank side.
    *
    * EXACT INTEGER CORE (the q_power micro discipline): per-variant
    * n_k, S_k = Σx6, Q_k = Σx6² in DECIMAL(38,0); the sample-variance
    * numerators V_k = n_k·Q_k − S_k² are exact; every emitted double is
    * ONE pinned chain over those integers (means in value units; t, df,
    * d, g unit-free — computed in micro space where the units cancel).
    * Oracle mirrors in HUGEINT with every big-int→double VARCHAR-routed
    * (Σx6² passes 2⁶⁴ from ~10⁴ rows up — the §6 r14 rule).
    *
    * Scale shape: ONE map-side-partial aggregation over the fact, one
    * ≤|types|-row chain — identical to q_anova. */
  def qWelchTtest(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
      .select(col("event_type"), col("variant"), micro.as("x6"))
    welchTtest(ev)
  }

  private val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
  private val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
  private val D = org.apache.spark.sql.types.DoubleType
  private def nD(c: org.apache.spark.sql.Column) = c.cast(D)
  // variant k's LONG conditional micro sums widened to DECIMAL(38,0)
  // post-agg (the q_perm_test widen-late rule — same Σ|x6| < 2⁶³ headroom
  // contract)
  private def cSum(k: Int): org.apache.spark.sql.Column =
    sum(when(col("variant") === k, col("x6")).otherwise(0L)).cast(d38)
  private def cSq(k: Int): org.apache.spark.sql.Column =
    sum(when(col("variant") === k,
      (col("x6").cast(d19) * col("x6").cast(d19)).cast(d38))
      .otherwise(lit(0L).cast(d38))).cast(d38)

  /** The Welch core over any (event_type, variant ∈ {0,1}, x6 BIGINT
    * micros) frame — factored out for ExperimentBitsProbeSpec. */
  private[graft] def welchTtest(ev: DataFrame): DataFrame = {
    val a = ev.groupBy(col("event_type"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        cSum(0).as("s0"), cSum(1).as("s1"),
        cSq(0).as("q0"), cSq(1).as("q1"))
    // exact sample-variance numerators: V_k = n_k·Q_k − S_k²  (≥ 0)
    val v0 = (col("n0").cast(d19) * col("q0") - col("s0") * col("s0")).cast(d38)
    val v1 = (col("n1").cast(d19) * col("q1") - col("s1") * col("s1")).cast(d38)
    // s_k²/n_k in micro²: V_k / (n_k(n_k−1)) / n_k — one pinned chain
    val t0 = v0.cast(D) / (nD(col("n0")) * nD(col("n0") - 1L)) / nD(col("n0"))
    val t1 = v1.cast(D) / (nD(col("n1")) * nD(col("n1") - 1L)) / nD(col("n1"))
    val m0x = col("s0").cast(D) / nD(col("n0"))
    val m1x = col("s1").cast(D) / nD(col("n1"))
    val tW = (m1x - m0x) / sqrt(t0 + t1)
    val dfW = (t0 + t1) * (t0 + t1) /
      (t0 * t0 / nD(col("n0") - 1L) + t1 * t1 / nD(col("n1") - 1L))
    // pooled variance = (V0/n0 + V1/n1) / (n0+n1−2); d = Δm/sp
    val sp2 = (v0.cast(D) / nD(col("n0")) + v1.cast(D) / nD(col("n1"))) /
      nD(col("n0") + col("n1") - 2L)
    val dCoh = (m1x - m0x) / sqrt(sp2)
    val gHed = dCoh * (lit(1.0) - lit(3.0) /
      (lit(4.0) * nD(col("n0") + col("n1")) - lit(9.0)))
    val ok = col("n0") > 1L && col("n1") > 1L
    val sig = ok && (t0 + t1) > 0.0
    a.select(col("event_type"), col("n0"), col("n1"),
        when(col("n0") > 0L, m0x / lit(1000000.0)).as("mean0"),
        when(col("n1") > 0L, m1x / lit(1000000.0)).as("mean1"),
        when(sig, tW).as("t_welch"),
        when(sig && t0 > 0.0 && t1 > 0.0, dfW).as("df_welch"),
        when(ok && sp2 > 0.0, dCoh).as("cohens_d"),
        when(ok && sp2 > 0.0, gHed).as("hedges_g"))
      .orderBy(col("event_type"))
  }

  val qWelchTtestSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
      |  FROM events WHERE value IS NOT NULL),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s1,
      |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(x6 AS HUGEINT) * x6 ELSE 0 END) AS HUGEINT) AS q0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(x6 AS HUGEINT) * x6 ELSE 0 END) AS HUGEINT) AS q1
      |  FROM ev GROUP BY event_type),
      |k AS (
      |  -- big-int -> double via VARCHAR (SURVEY §6 r14 rule): Σx6² and
      |  -- the variance numerators pass 2^64 from ~10⁴ rows up
      |  SELECT event_type, n0, n1,
      |    CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0x,
      |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1x,
      |    CAST(CAST(CAST(n0 AS HUGEINT) * q0 - s0 * s0 AS VARCHAR) AS DOUBLE)
      |      / (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE)) / CAST(n0 AS DOUBLE) AS t0,
      |    CAST(CAST(CAST(n1 AS HUGEINT) * q1 - s1 * s1 AS VARCHAR) AS DOUBLE)
      |      / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE) AS t1,
      |    (CAST(CAST(CAST(n0 AS HUGEINT) * q0 - s0 * s0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE)
      |      + CAST(CAST(CAST(n1 AS HUGEINT) * q1 - s1 * s1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE))
      |      / CAST(n0 + n1 - 2 AS DOUBLE) AS sp2
      |  FROM a)
      |SELECT event_type, n0, n1,
      |  CASE WHEN n0 > 0 THEN m0x / 1000000.0 END AS mean0,
      |  CASE WHEN n1 > 0 THEN m1x / 1000000.0 END AS mean1,
      |  CASE WHEN n0 > 1 AND n1 > 1 AND t0 + t1 > 0.0 THEN
      |    (m1x - m0x) / sqrt(t0 + t1) END AS t_welch,
      |  CASE WHEN n0 > 1 AND n1 > 1 AND t0 + t1 > 0.0 AND t0 > 0.0 AND t1 > 0.0 THEN
      |    (t0 + t1) * (t0 + t1)
      |      / (t0 * t0 / CAST(n0 - 1 AS DOUBLE) + t1 * t1 / CAST(n1 - 1 AS DOUBLE)) END AS df_welch,
      |  CASE WHEN n0 > 1 AND n1 > 1 AND sp2 > 0.0 THEN
      |    (m1x - m0x) / sqrt(sp2) END AS cohens_d,
      |  CASE WHEN n0 > 1 AND n1 > 1 AND sp2 > 0.0 THEN
      |    (m1x - m0x) / sqrt(sp2)
      |      * (1.0 - 3.0 / (4.0 * CAST(n0 + n1 AS DOUBLE) - 9.0)) END AS hedges_g
      |FROM k ORDER BY event_type""".stripMargin

  // --------------------------------------------------------- q_lift_gains

  /** q_lift_gains: the DECILE GAINS/LIFT table per order priority — the
    * eval readout every scored-targeting report leads with ("mailing the
    * top 2 deciles captures X% of responders, lift Y×"), completing the
    * binary-score family beside q_auc (rank quality as one number — this
    * is its actionable per-threshold breakdown).
    *
    * Deciles by SCORE BOUNDARIES (the q_histogram_eqd pattern verbatim,
    * including its proven percentile↔quantile_cont cross-engine pairing):
    * 9 cut points from ONE array-percentile aggregation broadcast back
    * (one buffer pass — nine separate percentile_disc aggs each buffer
    * the column, measured 2.2 s vs 0.9 s at sf0.1), decile = 1 +
    * #boundaries the score EXCEEDS, flipped so decile 1 = top scores
    * (boundary-tied scores land in the LOWER ascending bucket on both
    * engines — the q_histogram_eqd convention). Gains
    * and lift are pinned divisions of exact cumulative counts over the
    * ≤|priorities|·10-row decile frame. NOT ntile: a global row-number
    * sort is the one-reducer anti-pattern; boundaries keep the fact pass
    * narrow, and ties sharing a decile is the statistically honest
    * treatment (equal scores are indistinguishable to the 'model').
    *
    * Scale shape: one percentile aggregation (the approx-sketch toggle is
    * the documented 100 TB path, as in q_histogram_eqd), one broadcast
    * map, ONE (priority, decile) rollup; cumulative sums ride the bounded
    * decile frame. */
  def qLiftGains(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"),
        (col("o_totalprice").cast("decimal(18,6)") * lit(100L))
          .cast("long").as("cents"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
    // r16 NOTE: the (grp, cents) histogram+frequency rewrite was measured
    // and REVERTED — cents is near-distinct (149,939 distinct of 150,000
    // orders at sf0.1), so the collapse collapses nothing: it added a
    // corpus-sized checkpoint + an extra aggregation to save one cheap
    // scan (isolated bench 0.90 -> 1.3-1.5 s, control-normalized +45%).
    // Same negative as the percentile price columns (OPTIMIZATION_r16.md).
    val cuts = base.groupBy(col("grp")).agg(expr(
      "percentile(cents, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))")
      .cast("array<double>").as("th"))
    // ascending bucket 1..10 = 1 + #boundaries strictly below, then flip
    val asc = expr(
      "1L + aggregate(th, 0L, (a, t) -> a + (CASE WHEN cents > t THEN 1L ELSE 0L END))")
    val perDecile = base.join(broadcast(cuts), "grp")
      .withColumn("decile", lit(11L) - asc)
      .groupBy(col("grp"), col("decile"))
      .agg(count(lit(1)).as("n_rows"), sum(col("pos")).as("n_pos"))
    val w = Window.partitionBy(col("grp")).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perDecile.groupBy(col("grp"))
      .agg(sum(col("n_rows")).as("t_rows"), sum(col("n_pos")).as("t_pos"))
    val cum = perDecile
      .withColumn("cum_rows", sum(col("n_rows")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .join(broadcast(tot), "grp")
    val gains = when(col("t_pos") > 0L,
      col("cum_pos").cast(D) / col("t_pos").cast(D))
    val share = col("cum_rows").cast(D) / col("t_rows").cast(D)
    cum.select(col("grp").as("o_orderpriority"), col("decile"),
        col("n_rows"), col("n_pos"), col("cum_rows"), col("cum_pos"),
        gains.as("gains"), share.as("row_share"),
        when(col("t_pos") > 0L, gains / share).as("lift"))
      .orderBy(col("o_orderpriority"), col("decile"))
  }

  val qLiftGainsSql: String = {
    val ascExpr = (1 to 9).map(k => s"CASE WHEN cents > th[$k] THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH base AS (
       |  SELECT o_orderpriority AS grp,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents,
       |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
       |  FROM orders),
       |cuts AS (SELECT grp,
       |  quantile_cont(cents, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS th
       |  FROM base GROUP BY grp),
       |d AS (
       |  SELECT b.grp, 11 - ($ascExpr + 1) AS decile, b.pos
       |  FROM base b JOIN cuts c ON b.grp = c.grp),
       |pd AS (
       |  SELECT grp, CAST(decile AS BIGINT) AS decile,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(pos) AS BIGINT) AS n_pos
       |  FROM d GROUP BY 1, 2),
       |t AS (SELECT grp, CAST(SUM(n_rows) AS BIGINT) AS t_rows,
       |        CAST(SUM(n_pos) AS BIGINT) AS t_pos FROM pd GROUP BY grp),
       |c AS (
       |  SELECT grp, decile, n_rows, n_pos,
       |    CAST(SUM(n_rows) OVER wd AS BIGINT) AS cum_rows,
       |    CAST(SUM(n_pos) OVER wd AS BIGINT) AS cum_pos
       |  FROM pd
       |  WINDOW wd AS (PARTITION BY grp ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT c.grp AS o_orderpriority, c.decile, c.n_rows, c.n_pos,
       |  c.cum_rows, c.cum_pos,
       |  CASE WHEN t.t_pos > 0 THEN CAST(c.cum_pos AS DOUBLE) / CAST(t.t_pos AS DOUBLE) END AS gains,
       |  CAST(c.cum_rows AS DOUBLE) / CAST(t.t_rows AS DOUBLE) AS row_share,
       |  CASE WHEN t.t_pos > 0 THEN
       |    (CAST(c.cum_pos AS DOUBLE) / CAST(t.t_pos AS DOUBLE))
       |      / (CAST(c.cum_rows AS DOUBLE) / CAST(t.t_rows AS DOUBLE)) END AS lift
       |FROM c JOIN t ON c.grp = t.grp
       |ORDER BY o_orderpriority, decile""".stripMargin
  }

  // ---------------------------------------------------------- q_median_ci

  /** q_median_ci: the MEDIAN with its DISTRIBUTION-FREE 95% confidence
    * interval per event type — the honest way to report a skewed
    * metric's center ("median latency 120ms [112, 131]"): the CI is a
    * pair of ORDER STATISTICS (ranks l = ⌊(n − 1.96√n)/2⌋ and
    * u = n + 1 − l, the binomial normal approximation — no normality
    * assumption on the DATA, the classic sign-test inversion), so it
    * needs no variance estimate and is exact-integer comparable across
    * engines. Complements q_quantiles_disc (point estimates only) and
    * q_welch_ttest (mean-based, needs moments).
    *
    * ALL THREE lookups (median rank m = ⌈n/2⌉, l, u) ride ONE
    * BandedRank.withPrefixSums pass over the collapsed (type, value,
    * count) frame — the q_weighted_median crossing trick (cum − cnt < r
    * ≤ cum selects the rank-r value), never a per-type sort. The ranks
    * are the one pinned double chain (√n is correctly rounded in both
    * engines, so ⌊·⌋ lands identically); everything after is integers.
    *
    * Scale shape: one (type, value) collapse (map-side partial), one
    * banded prefix, one ≤|types|-row rollup — the q_mann_whitney shape. */
  def qMedianCi(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(18,6)") * lit(1000000L))
          .cast("long").as("x6"))
    medianCi(ev)
  }

  /** The order-statistic core over any (event_type, x6 BIGINT) frame. */
  private[graft] def medianCi(ev: DataFrame): DataFrame = {
    val g = ev.groupBy(col("event_type"), col("x6"))
      .agg(count(lit(1)).as("cnt"))
      .cpEager // consumed by the banded prefix's independent stages
    val c = graft.operators.BandedRank.withPrefixSums(
      g, Seq("event_type"), "x6", Seq("cnt" -> "cum"))
    val tot = g.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"))
    val nD = col("n").cast(D)
    val ranks = tot.select(col("event_type"), col("n"),
      greatest(lit(1L),
        floor((nD - lit(1.96) * sqrt(nD)) / lit(2.0)).cast("long")).as("r_lo"),
      expr("(n + 1) div 2").as("r_med"))
      .withColumn("r_hi", col("n") + 1L - col("r_lo"))
    def at(r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      min(when(col("cum") - col("cnt") < r && r <= col("cum"), col("x6")))
    c.join(broadcast(ranks), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(col("r_lo")).as("r_lo"), max(col("r_hi")).as("r_hi"),
        at(col("r_med")).as("med_x6"),
        at(col("r_lo")).as("lo_x6"), at(col("r_hi")).as("hi_x6"))
      .select(col("event_type"), col("n"), col("r_lo"), col("r_hi"),
        (col("med_x6").cast(D) / lit(1000000.0)).as("median_value"),
        (col("lo_x6").cast(D) / lit(1000000.0)).as("ci_lo_value"),
        (col("hi_x6").cast(D) / lit(1000000.0)).as("ci_hi_value"))
      .orderBy(col("event_type"))
  }

  val qMedianCiSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
      |  FROM events WHERE value IS NOT NULL),
      |g AS (SELECT event_type, x6, CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM ev GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, x6, cnt,
      |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY x6
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM g),
      |t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
      |r AS (
      |  SELECT event_type, n,
      |    GREATEST(1, CAST(floor((CAST(n AS DOUBLE) - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS r_lo,
      |    (n + 1) // 2 AS r_med,
      |    n + 1 - GREATEST(1, CAST(floor((CAST(n AS DOUBLE) - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS r_hi
      |  FROM t)
      |SELECT c.event_type, MAX(r.n) AS n,
      |  MAX(r.r_lo) AS r_lo, MAX(r.r_hi) AS r_hi,
      |  CAST(MIN(CASE WHEN c.cum - c.cnt < r.r_med AND r.r_med <= c.cum THEN c.x6 END) AS DOUBLE) / 1000000.0 AS median_value,
      |  CAST(MIN(CASE WHEN c.cum - c.cnt < r.r_lo AND r.r_lo <= c.cum THEN c.x6 END) AS DOUBLE) / 1000000.0 AS ci_lo_value,
      |  CAST(MIN(CASE WHEN c.cum - c.cnt < r.r_hi AND r.r_hi <= c.cum THEN c.x6 END) AS DOUBLE) / 1000000.0 AS ci_hi_value
      |FROM c JOIN r ON c.event_type = r.event_type
      |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin

  // ---------------------------------------------------------------- q_cmh

  /** The five market segments, SORTED — each pivots to a FIXED column so
    * every cross-stratum float sum has one written order in both engines
    * (the q_anova fixed-k discipline; a SUM over per-stratum doubles
    * would be partial-aggregation-order-dependent). */
  val CmhSegments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** q_cmh: COCHRAN–MANTEL–HAENSZEL stratified 2×2 test + the MH pooled
    * odds ratio — the confounder-adjusted association readout that
    * completes q_simpson's diagnosis (q_simpson DETECTS aggregation
    * paradoxes; CMH is the remedy: test the treatment↔outcome link
    * WITHIN strata and pool only the within-stratum evidence, so a
    * segment-mix confound can never manufacture or mask an effect).
    * Treatment = the md5 customer split (the q_abtest machinery), outcome
    * = urgent/high order priority, strata = the 5 market segments.
    *
    * EXACT INTEGER CORE: the 2×2 cell counts a/b/c/d per stratum are the
    * only aggregation — ONE map-side-partial pass over orders with the
    * ≤|customers|-row dimension broadcast in. Everything after is a
    * pinned chain over the one pivoted row: E_k = n1·m1/n and the
    * variance term V_k = n1·n0·m1·m0/(n²(n−1)) from exact DECIMAL
    * products (the 4-count product passes 2⁶³ at ~10⁹ rows/stratum, so
    * it assembles in DECIMAL(38,0) and the oracle VARCHAR-routes it —
    * the §6 rule), the continuity-corrected χ² = (|Σa−ΣE|−½)²/ΣV with
    * the five-term sums WRITTEN OUT in segment order, and
    * OR_MH = Σ(a·d/n)/Σ(b·c/n) the same way. Per-stratum rows carry the
    * exact 2×2 and the stratum odds ratio; the pooled columns repeat via
    * a 1-row broadcast (≤5-row output).
    *
    * Scale shape: one broadcast join + one map-side-partial aggregation;
    * no window, no shuffle beyond the 20-cell rollup. */
  def qCmh(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val base = Tables.orders(s, dir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("segment"),
        (conv(substring(md5(col("o_custkey").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2).as("treat"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("resp"))
    cmh(base)
  }

  /** The CMH core over any (segment ∈ CmhSegments, treat ∈ {0,1},
    * resp BOOLEAN) frame — factored out for ExperimentBitsProbeSpec. */
  private[graft] def cmh(base: DataFrame): DataFrame = {
    def cell(k: Int, t: Int, r: Boolean): org.apache.spark.sql.Column =
      sum(when(col("segment") === CmhSegments(k) &&
        col("treat") === t && col("resp") === r, 1L).otherwise(0L))
    val cells = (0 until 5).flatMap { k =>
      Seq(cell(k, 1, true).as(s"a$k"), cell(k, 1, false).as(s"b$k"),
        cell(k, 0, true).as(s"c$k"), cell(k, 0, false).as(s"d$k"))
    }
    val piv = base.groupBy().agg(cells.head, cells.tail: _*)
    def n(k: Int) = col(s"a$k") + col(s"b$k") + col(s"c$k") + col(s"d$k")
    // E_k and V_k: exact DECIMAL products, one double chain each.
    // V_k's guard n_k > 1 keeps the 0/0 of an empty stratum out; an
    // absent stratum contributes 0 to every pooled sum on both engines.
    def e(k: Int) = when(n(k) > 0L,
      ((col(s"a$k") + col(s"b$k")).cast(d19) *
        (col(s"a$k") + col(s"c$k")).cast(d19)).cast(d38).cast(D) / nD(n(k)))
      .otherwise(lit(0.0))
    def v(k: Int) = when(n(k) > 1L,
      (((col(s"a$k") + col(s"b$k")).cast(d19) *
        (col(s"c$k") + col(s"d$k")).cast(d19)).cast(d38) *
        ((col(s"a$k") + col(s"c$k")).cast(d19) *
          (col(s"b$k") + col(s"d$k")).cast(d19)).cast(d38)).cast(D) /
        (nD(n(k)) * nD(n(k)) * nD(n(k) - 1L)))
      .otherwise(lit(0.0))
    def rr(k: Int) = when(n(k) > 0L,
      (col(s"a$k").cast(d19) * col(s"d$k").cast(d19)).cast(d38).cast(D) / nD(n(k)))
      .otherwise(lit(0.0))
    def ss(k: Int) = when(n(k) > 0L,
      (col(s"b$k").cast(d19) * col(s"c$k").cast(d19)).cast(d38).cast(D) / nD(n(k)))
      .otherwise(lit(0.0))
    val sumA = col("a0") + col("a1") + col("a2") + col("a3") + col("a4")
    val sumE = e(0) + e(1) + e(2) + e(3) + e(4)
    val sumV = v(0) + v(1) + v(2) + v(3) + v(4)
    val sumR = rr(0) + rr(1) + rr(2) + rr(3) + rr(4)
    val sumS = ss(0) + ss(1) + ss(2) + ss(3) + ss(4)
    val dev = abs(sumA.cast(D) - sumE) - lit(0.5)
    // continuity correction clamps at 0: |Σa−ΣE| < ½ means χ² = 0
    val devC = greatest(dev, lit(0.0))
    val chi = when(sumV > 0.0, devC * devC / sumV)
    val global = piv.select(
      chi.as("cmh_chi2"),
      (coalesce(chi, lit(0.0)) > lit(3.841)).as("significant"),
      when(sumS > 0.0, sumR / sumS).as("or_mh"))
    val perSeg = base.groupBy(col("segment")).agg(
      sum(when(col("treat") === 1 && col("resp"), 1L).otherwise(0L)).as("a"),
      sum(when(col("treat") === 1 && !col("resp"), 1L).otherwise(0L)).as("b"),
      sum(when(col("treat") === 0 && col("resp"), 1L).otherwise(0L)).as("c"),
      sum(when(col("treat") === 0 && !col("resp"), 1L).otherwise(0L)).as("d"))
      .withColumn("or_stratum",
        when(col("b") * col("c") > 0L,
          (col("a").cast(d19) * col("d").cast(d19)).cast(d38).cast(D) /
            (col("b").cast(d19) * col("c").cast(d19)).cast(d38).cast(D)))
    perSeg.crossJoin(broadcast(global)).orderBy(col("segment"))
  }

  val qCmhSql: String = {
    val segs = CmhSegments
    val cells = segs.zipWithIndex.map { case (sg, k) =>
      s"""    CAST(SUM(CASE WHEN segment = '$sg' AND treat = 1 AND resp THEN 1 ELSE 0 END) AS BIGINT) AS a$k,
         |    CAST(SUM(CASE WHEN segment = '$sg' AND treat = 1 AND NOT resp THEN 1 ELSE 0 END) AS BIGINT) AS b$k,
         |    CAST(SUM(CASE WHEN segment = '$sg' AND treat = 0 AND resp THEN 1 ELSE 0 END) AS BIGINT) AS c$k,
         |    CAST(SUM(CASE WHEN segment = '$sg' AND treat = 0 AND NOT resp THEN 1 ELSE 0 END) AS BIGINT) AS d$k""".stripMargin
    }.mkString(",\n")
    def n(k: Int) = s"(a$k + b$k + c$k + d$k)"
    // each pooled term: HUGEINT product -> VARCHAR -> DOUBLE (§6 rule)
    def e(k: Int) =
      s"CASE WHEN ${n(k)} > 0 THEN CAST(CAST(CAST(a$k + b$k AS HUGEINT) * (a$k + c$k) AS VARCHAR) AS DOUBLE) / CAST(${n(k)} AS DOUBLE) ELSE 0.0 END"
    def v(k: Int) =
      s"CASE WHEN ${n(k)} > 1 THEN CAST(CAST(CAST(a$k + b$k AS HUGEINT) * (c$k + d$k) * (a$k + c$k) * (b$k + d$k) AS VARCHAR) AS DOUBLE) / (CAST(${n(k)} AS DOUBLE) * CAST(${n(k)} AS DOUBLE) * CAST(${n(k)} - 1 AS DOUBLE)) ELSE 0.0 END"
    def rr(k: Int) =
      s"CASE WHEN ${n(k)} > 0 THEN CAST(CAST(CAST(a$k AS HUGEINT) * d$k AS VARCHAR) AS DOUBLE) / CAST(${n(k)} AS DOUBLE) ELSE 0.0 END"
    def ss(k: Int) =
      s"CASE WHEN ${n(k)} > 0 THEN CAST(CAST(CAST(b$k AS HUGEINT) * c$k AS VARCHAR) AS DOUBLE) / CAST(${n(k)} AS DOUBLE) ELSE 0.0 END"
    val sumA = (0 until 5).map(k => s"a$k").mkString(" + ")
    s"""WITH base AS (
       |  SELECT c.c_mktsegment AS segment,
       |    ('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)), 1, 15))::BIGINT % 2 AS treat,
       |    o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS resp
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |piv AS (
       |  SELECT
       |$cells
       |  FROM base),
       |k AS (
       |  SELECT
       |    ${(0 until 5).map(e).mkString(" + ")} AS sum_e,
       |    ${(0 until 5).map(v).mkString(" + ")} AS sum_v,
       |    ${(0 until 5).map(rr).mkString(" + ")} AS sum_r,
       |    ${(0 until 5).map(ss).mkString(" + ")} AS sum_s,
       |    CAST($sumA AS DOUBLE) AS sum_a
       |  FROM piv),
       |g AS (
       |  SELECT
       |    CASE WHEN sum_v > 0.0 THEN
       |      GREATEST(abs(sum_a - sum_e) - 0.5, 0.0) * GREATEST(abs(sum_a - sum_e) - 0.5, 0.0) / sum_v END AS cmh_chi2,
       |    COALESCE(CASE WHEN sum_v > 0.0 THEN
       |      GREATEST(abs(sum_a - sum_e) - 0.5, 0.0) * GREATEST(abs(sum_a - sum_e) - 0.5, 0.0) / sum_v END, 0.0) > 3.841 AS significant,
       |    CASE WHEN sum_s > 0.0 THEN sum_r / sum_s END AS or_mh
       |  FROM k),
       |seg AS (
       |  SELECT segment,
       |    CAST(SUM(CASE WHEN treat = 1 AND resp THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(SUM(CASE WHEN treat = 1 AND NOT resp THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN treat = 0 AND resp THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(SUM(CASE WHEN treat = 0 AND NOT resp THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM base GROUP BY segment)
       |SELECT seg.segment, seg.a, seg.b, seg.c, seg.d,
       |  CASE WHEN seg.b * seg.c > 0 THEN
       |    CAST(CAST(CAST(seg.a AS HUGEINT) * seg.d AS VARCHAR) AS DOUBLE)
       |      / CAST(CAST(CAST(seg.b AS HUGEINT) * seg.c AS VARCHAR) AS DOUBLE) END AS or_stratum,
       |  g.cmh_chi2, g.significant, g.or_mh
       |FROM seg CROSS JOIN g ORDER BY seg.segment""".stripMargin
  }

  // --------------------------------------------------------------- q_tost

  /** Equivalence margin for q_tost: ±0.05 value units, as exact micros. */
  val TostMarginMicros = 50000L

  /** q_tost: TWO ONE-SIDED TESTS equivalence readout per event type on
    * the md5 split — the experiment family's missing verdict direction:
    * q_welch_ttest asks "is there a difference?"; TOST asks "is the
    * difference PROVABLY INSIDE ±δ?" (the do-no-harm launch check — a
    * non-significant t is NOT evidence of equivalence, absence-of-
    * evidence fallacy). Same exact Welch moments (n_k, Σx6, Σx6² in
    * DECIMAL(38,0), variance numerators exact), the two shifted
    * statistics t_lo = (Δ+δ)/se and t_hi = (Δ−δ)/se each ONE pinned
    * chain in micro space, and the large-sample 1.645 one-sided
    * criterion (the q_abtest fixed-z convention — no CDF, no libm):
    * equivalent ⇔ t_lo > 1.645 AND t_hi < −1.645.
    *
    * Scale shape: ONE map-side-partial aggregation, ≤|types|-row chain. */
  def qTost(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
      .select(col("event_type"), col("variant"), micro.as("x6"))
    tost(ev)
  }

  /** The TOST core over any (event_type, variant ∈ {0,1}, x6 BIGINT
    * micros) frame — factored out for ExperimentBitsProbeSpec. */
  private[graft] def tost(ev: DataFrame): DataFrame = {
    val a = ev.groupBy(col("event_type"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        cSum(0).as("s0"), cSum(1).as("s1"),
        cSq(0).as("q0"), cSq(1).as("q1"))
    val v0 = (col("n0").cast(d19) * col("q0") - col("s0") * col("s0")).cast(d38)
    val v1 = (col("n1").cast(d19) * col("q1") - col("s1") * col("s1")).cast(d38)
    val t0 = v0.cast(D) / (nD(col("n0")) * nD(col("n0") - 1L)) / nD(col("n0"))
    val t1 = v1.cast(D) / (nD(col("n1")) * nD(col("n1") - 1L)) / nD(col("n1"))
    val diff = col("s1").cast(D) / nD(col("n1")) -
      col("s0").cast(D) / nD(col("n0"))
    val se = sqrt(t0 + t1)
    val tLo = (diff + lit(TostMarginMicros.toDouble)) / se
    val tHi = (diff - lit(TostMarginMicros.toDouble)) / se
    val ok = col("n0") > 1L && col("n1") > 1L && (t0 + t1) > 0.0
    a.select(col("event_type"), col("n0"), col("n1"),
        when(ok, diff / lit(1000000.0)).as("diff"),
        when(ok, tLo).as("t_lo"),
        when(ok, tHi).as("t_hi"),
        (when(ok, tLo).otherwise(lit(0.0)) > lit(1.645) &&
          when(ok, tHi).otherwise(lit(0.0)) < lit(-1.645)).as("equivalent"))
      .orderBy(col("event_type"))
  }

  val qTostSql: String =
    s"""WITH ev AS (
       |  SELECT event_type,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant,
       |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
       |  FROM events WHERE value IS NOT NULL),
       |a AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
       |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s0,
       |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s1,
       |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(x6 AS HUGEINT) * x6 ELSE 0 END) AS HUGEINT) AS q0,
       |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(x6 AS HUGEINT) * x6 ELSE 0 END) AS HUGEINT) AS q1
       |  FROM ev GROUP BY event_type),
       |k AS (
       |  SELECT event_type, n0, n1,
       |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE)
       |      - CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE) AS diffx,
       |    CAST(CAST(CAST(n0 AS HUGEINT) * q0 - s0 * s0 AS VARCHAR) AS DOUBLE)
       |      / (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE)) / CAST(n0 AS DOUBLE) AS t0,
       |    CAST(CAST(CAST(n1 AS HUGEINT) * q1 - s1 * s1 AS VARCHAR) AS DOUBLE)
       |      / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE) AS t1
       |  FROM a),
       |t AS (
       |  SELECT event_type, n0, n1,
       |    n0 > 1 AND n1 > 1 AND t0 + t1 > 0.0 AS ok, diffx,
       |    (diffx + $TostMarginMicros.0) / sqrt(t0 + t1) AS t_lo_raw,
       |    (diffx - $TostMarginMicros.0) / sqrt(t0 + t1) AS t_hi_raw
       |  FROM k)
       |SELECT event_type, n0, n1,
       |  CASE WHEN ok THEN diffx / 1000000.0 END AS diff,
       |  CASE WHEN ok THEN t_lo_raw END AS t_lo,
       |  CASE WHEN ok THEN t_hi_raw END AS t_hi,
       |  COALESCE(CASE WHEN ok THEN t_lo_raw END, 0.0) > 1.645
       |    AND COALESCE(CASE WHEN ok THEN t_hi_raw END, 0.0) < -1.645 AS equivalent
       |FROM t ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------- q_rate_test

  /** q_rate_test: TWO-SAMPLE EVENT-RATE TEST per event type on the md5
    * split — the counts member of the family's metric-type ladder
    * (q_abtest proportions, q_welch_ttest means, this: events per user):
    * the conditional binomial form — given c = c0+c1 total events and
    * exposure shares, under H0 the treated count is Binomial(c, p) with
    * p = u1/(u0+u1), so z = (c1 − c·p)/√(c·p·(1−p)) — exact integer
    * counts and exposures (c_k from the rollup, u_k an exact distinct),
    * p/E/V/z ONE pinned chain, the fixed-z 1.96 criterion (no CDF).
    *
    * Scale shape: one map-side-partial count rollup + one two-level
    * distinct-user aggregation (the q_dau_mau shape) — both keyed by
    * (type, variant); a ≤|types|-row chain after. */
  def qRateTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
      .select(col("event_type"), col("variant"), col("user_id"))
    rateTest(ev)
  }

  /** The rate-test core over any (event_type, variant ∈ {0,1}, user_id)
    * frame — factored out for ExperimentBitsProbeSpec. */
  private[graft] def rateTest(ev: DataFrame): DataFrame = {
    val counts = ev.groupBy(col("event_type")).agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("c1"))
    // exact exposure: distinct users per (type, variant) — two-level agg
    val users = ev.select(col("event_type"), col("variant"), col("user_id"))
      .distinct()
      .groupBy(col("event_type")).agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("u0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("u1"))
    val c = col("c0") + col("c1")
    val p = nD(col("u1")) / nD(col("u0") + col("u1"))
    val e = nD(c) * p
    val v = nD(c) * p * (lit(1.0) - p)
    val z = (nD(col("c1")) - e) / sqrt(v)
    val ok = col("u0") > 0L && col("u1") > 0L && c > 0L
    counts.join(users, "event_type")
      .select(col("event_type"), col("c0"), col("c1"), col("u0"), col("u1"),
        when(col("u0") > 0L, nD(col("c0")) / nD(col("u0"))).as("rate0"),
        when(col("u1") > 0L, nD(col("c1")) / nD(col("u1"))).as("rate1"),
        when(ok && v > 0.0, z).as("z_rate"),
        (when(ok && v > 0.0, abs(z)).otherwise(lit(0.0)) > lit(1.96))
          .as("significant"))
      .orderBy(col("event_type"))
  }

  val qRateTestSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS variant,
      |    user_id
      |  FROM events),
      |c AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM ev GROUP BY event_type),
      |u AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u1
      |  FROM (SELECT DISTINCT event_type, variant, user_id FROM ev)
      |  GROUP BY event_type),
      |k AS (
      |  SELECT c.event_type, c0, c1, u0, u1,
      |    CAST(u1 AS DOUBLE) / CAST(u0 + u1 AS DOUBLE) AS p,
      |    u0 > 0 AND u1 > 0 AND c0 + c1 > 0 AS ok
      |  FROM c JOIN u ON c.event_type = u.event_type),
      |t AS (
      |  SELECT event_type, c0, c1, u0, u1, ok,
      |    CASE WHEN u0 > 0 THEN CAST(c0 AS DOUBLE) / CAST(u0 AS DOUBLE) END AS rate0,
      |    CASE WHEN u1 > 0 THEN CAST(c1 AS DOUBLE) / CAST(u1 AS DOUBLE) END AS rate1,
      |    CAST(c0 + c1 AS DOUBLE) * p * (1.0 - p) AS v,
      |    (CAST(c1 AS DOUBLE) - CAST(c0 + c1 AS DOUBLE) * p)
      |      / sqrt(CAST(c0 + c1 AS DOUBLE) * p * (1.0 - p)) AS z
      |  FROM k)
      |SELECT event_type, c0, c1, u0, u1, rate0, rate1,
      |  CASE WHEN ok AND v > 0.0 THEN z END AS z_rate,
      |  COALESCE(CASE WHEN ok AND v > 0.0 THEN abs(z) END, 0.0) > 1.96 AS significant
      |FROM t ORDER BY event_type""".stripMargin

  // ------------------------------------------------------ q_overdispersion

  /** q_overdispersion: the VARIANCE-TO-MEAN dispersion index of per-user
    * event counts per type — the assumption audit for q_rate_test (its
    * conditional binomial is exact under user-exchangeability but the
    * POISSON reading of "rate" breaks when counts are overdispersed:
    * heavy users concentrate events, D ≫ 1, and a naive rate z overstates
    * significance; this gate is the warning light that says "trust the
    * user-level tests, not per-event ones").
    *
    * EXACT INTEGER CORE: per-user counts c_u from one (type, user)
    * rollup; n, Σc, Σc² from a second map-side-partial pass (the
    * q_dau_mau two-level shape — both shuffles are keyed). The index
    * D = Var/mean = (n·Σc² − (Σc)²) / ((n−1)·Σc) assembles from exact
    * DECIMAL products (oracle HUGEINT + VARCHAR routes), and the
    * large-sample z = (D−1)·√((n−1)/2) is ONE pinned chain with the
    * fixed 1.96 criterion (no CDF).
    *
    * Scale shape: two stacked keyed aggregations, ≤|types|-row chain. */
  def qOverdispersion(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val a = perUser.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_users"),
      sum(col("c")).as("sc"),
      sum((col("c").cast(d19) * col("c").cast(d19)).cast(d38))
        .cast(d38).as("sc2"))
    val varNum = (col("n_users").cast(d19) * col("sc2") -
      (col("sc").cast(d19) * col("sc").cast(d19)).cast(d38)).cast(d38)
    val dIdx = varNum.cast(D) / (nD(col("n_users") - 1L) * nD(col("sc")))
    val z = (dIdx - lit(1.0)) * sqrt(nD(col("n_users") - 1L) / lit(2.0))
    val ok = col("n_users") > 1L && col("sc") > 0L
    a.select(col("event_type"), col("n_users"), col("sc").as("n_events"),
        when(ok, nD(col("sc")) / nD(col("n_users"))).as("mean_per_user"),
        when(ok, dIdx).as("dispersion"),
        when(ok, z).as("z_dispersion"),
        (when(ok, z).otherwise(lit(0.0)) > lit(1.96)).as("overdispersed"))
      .orderBy(col("event_type"))
  }

  val qOverdispersionSql: String =
    """WITH pu AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(c) AS BIGINT) AS sc,
      |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2
      |  FROM pu GROUP BY 1),
      |k AS (
      |  SELECT event_type, n_users, sc,
      |    -- the c² sum passes 2^64 at scale: VARCHAR-route (§6 r14 rule)
      |    CAST(CAST(CAST(n_users AS HUGEINT) * sc2
      |        - CAST(sc AS HUGEINT) * sc AS VARCHAR) AS DOUBLE)
      |      / (CAST(n_users - 1 AS DOUBLE) * CAST(sc AS DOUBLE)) AS d_idx,
      |    n_users > 1 AND sc > 0 AS ok
      |  FROM a)
      |SELECT event_type, n_users, sc AS n_events,
      |  CASE WHEN ok THEN CAST(sc AS DOUBLE) / CAST(n_users AS DOUBLE) END AS mean_per_user,
      |  CASE WHEN ok THEN d_idx END AS dispersion,
      |  CASE WHEN ok THEN (d_idx - 1.0) * sqrt(CAST(n_users - 1 AS DOUBLE) / 2.0) END AS z_dispersion,
      |  COALESCE(CASE WHEN ok THEN
      |    (d_idx - 1.0) * sqrt(CAST(n_users - 1 AS DOUBLE) / 2.0) END, 0.0) > 1.96 AS overdispersed
      |FROM k ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ q_boot_ci

  /** Bootstrap replicates: bits 1..59 of the 60-bit md5 hash (bit 0 is
    * q_perm_test's observed split — reusing the hash keeps ONE digest
    * per row across the whole family). */
  val BootR = 59

  /** q_boot_ci: HALF-SAMPLE BOOTSTRAP confidence interval for each event
    * type's mean — the 100 TB bootstrap: classical resampling needs a
    * with-replacement shuffle per replicate, which cannot run over a
    * petabyte fact; the multiplier form rides ONE pass. Replicate r
    * weights each user 0 or 2 by bit r of its md5 hash (the
    * "double-or-nothing" multiplier of Owen & Eckles' online bootstrap;
    * E[w] = 1, Var[w] = 1) — a replicate mean is then the mean over a
    * random HALF-SAMPLE, whose variance ≈ σ²/n matches the full-sample
    * sampling variance (the classic random-group identity), so the
    * percentile CI over the 59 replicate means is variance-correct with
    * NO distributional assumption — the sibling q_median_ci gives the
    * same guarantee for the median by order statistics.
    *
    * Determinism: each replicate mean is exact-integer Σx6/count
    * (DECIMAL sums, one pinned division); the 2.5/97.5 percentile
    * SELECTION runs by rank over (mean, r) — the r tiebreak makes the
    * order total, so equal replicate means cannot reorder across
    * engines. Scale shape: the q_perm_test fan-out verbatim (one md5
    * per ROW, 59× conditional partial aggregation, map-side combined),
    * then a ≤|types|·59-row keyed rank window. */
  def qBootCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .select(col("event_type"), col("h"), micro.as("x6"))
    bootCi(ev)
  }

  /** The bootstrap core over any (event_type, h 60-bit hash, x6 BIGINT
    * micros) frame — factored out for ExperimentBitsProbeSpec. */
  private[graft] def bootCi(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // replicate r selects rows whose bit r is 1 (the weight-2 half; the
    // 2s cancel in the ratio, so the mean is the selected-half mean)
    val rep = ev
      .withColumn("r", explode(sequence(lit(1), lit(BootR))))
      .filter(expr("shiftright(h, r) % 2 = 1"))
      .groupBy(col("event_type"), col("r"))
      // LONG micro sums in the hot 59× fan-out, widened to DECIMAL(38,0)
      // on the ≤|types|·59-row frame — the q_perm_test widen-late rule
      // (same Σ|x6| < 2⁶³ headroom contract; ANSI long overflow is as
      // loud as the decimal one). r15 opt: this gate shipped with the
      // decimal sum the rule exists to avoid.
      .agg(count(lit(1)).as("n_sel"),
        sum(col("x6")).cast(d38).as("s_sel"))
      .withColumn("mean_r",
        col("s_sel").cast(D) / col("n_sel").cast(D) / lit(1000000.0))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("mean_r"), col("r"))
    val ranked = rep.withColumn("rnk", row_number().over(w))
      .cpLazy // consumed 2x: the count frame and the two rank lookups
    val cnt = ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rep"))
    // percentile_disc ranks: lo = ceil(0.025·R), hi = ceil(0.975·R)
    // Full-frame mean: unlike the 59× fan-out above there is NO selection
    // halving here, so a bare long Σx6 would tighten the per-type row
    // contract to n·max|x6| < 2⁶³ — route it through SplitSum instead
    // (same exact integer total, codegen long halves, ~10²⁶ headroom).
    val fullAggs = Seq(count(lit(1)).as("n")) ++
      graft.operators.SplitSum.aggs(col("x6"), "sf")
    val full = ev.groupBy(col("event_type"))
      .agg(fullAggs.head, fullAggs.tail: _*)
      .select(col("event_type"), col("n"),
        (graft.operators.SplitSum.total("sf").cast(D) /
          col("n").cast(D) / lit(1000000.0)).as("mean_full"))
    ranked.join(broadcast(cnt), "event_type")
      .withColumn("r_lo", expr("(n_rep * 25 + 999) div 1000"))
      .withColumn("r_hi", expr("(n_rep * 975 + 999) div 1000"))
      .filter(col("rnk") === col("r_lo") || col("rnk") === col("r_hi"))
      .groupBy(col("event_type"))
      .agg(max(col("n_rep")).as("n_rep"),
        min(when(col("rnk") === col("r_lo"), col("mean_r"))).as("ci_lo"),
        min(when(col("rnk") === col("r_hi"), col("mean_r"))).as("ci_hi"))
      .join(broadcast(full), "event_type")
      .select(col("event_type"), col("n"), col("mean_full"),
        col("n_rep"), col("ci_lo"), col("ci_hi"))
      .orderBy(col("event_type"))
  }

  val qBootCiSql: String =
    s"""WITH ev AS (
       |  SELECT event_type,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
       |  FROM events WHERE value IS NOT NULL),
       |rep AS (
       |  SELECT event_type, t.r, CAST(COUNT(*) AS BIGINT) AS n_sel,
       |    CAST(SUM(CAST(x6 AS HUGEINT)) AS HUGEINT) AS s_sel
       |  FROM ev, generate_series(1, $BootR) AS t(r)
       |  WHERE ((h >> t.r) & 1) = 1
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT event_type, r,
       |    CAST(CAST(s_sel AS VARCHAR) AS DOUBLE) / CAST(n_sel AS DOUBLE)
       |      / 1000000.0 AS mean_r,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY CAST(CAST(s_sel AS VARCHAR) AS DOUBLE) / CAST(n_sel AS DOUBLE)
       |        / 1000000.0, r) AS BIGINT) AS rnk,
       |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_rep
       |  FROM rep),
       |full_m AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(CAST(CAST(SUM(CAST(x6 AS HUGEINT)) AS HUGEINT) AS VARCHAR) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_full
       |  FROM ev GROUP BY 1),
       |sel AS (
       |  SELECT event_type, MAX(n_rep) AS n_rep,
       |    MIN(CASE WHEN rnk = (n_rep * 25 + 999) // 1000 THEN mean_r END) AS ci_lo,
       |    MIN(CASE WHEN rnk = (n_rep * 975 + 999) // 1000 THEN mean_r END) AS ci_hi
       |  FROM m GROUP BY event_type)
       |SELECT s.event_type, f.n, f.mean_full, s.n_rep, s.ci_lo, s.ci_hi
       |FROM sel s JOIN full_m f ON s.event_type = f.event_type
       |ORDER BY s.event_type""".stripMargin

  // ---------------------------------------------------------------- q_did

  /** The period boundary for q_did: events in the second half of the
    * observed range are "post". Midpoint = lo + (hi − lo) div 2 over
    * epoch-us — exact integers from one bounds pass. */

  /** q_did: DIFFERENCE-IN-DIFFERENCES per event type — the
    * quasi-experiment member of the family (when randomization is
    * impossible, the md5 "treatment" group's pre→post change nets out
    * the control group's secular trend): DiD = (m̄_t1 − m̄_t0) −
    * (m̄_c1 − m̄_c0), with the large-sample SE from the four cells'
    * exact variance numerators (the Welch machinery, four ways) and the
    * fixed-z 1.96 criterion.
    *
    * EXACT INTEGER CORE: one bounds pass fixes the epoch-us midpoint
    * (integer div); the four (group × period) cells' n/Σx6/Σx6² ride
    * ONE map-side-partial aggregation with cells as FIXED columns (the
    * q_anova discipline), every emitted double one pinned chain.
    * Scale shape: one bounds pass + one aggregation, ≤|types|-row
    * chain. */
  def qDid(s: SparkSession, dir: String): DataFrame = {
    val micro = (col("value").cast("decimal(18,6)") * lit(1000000L))
      .cast("long")
    val ev0 = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"),
        expr("ts div 1000").as("ts_us"), micro.as("x6"))
    val bounds = ev0.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
      .select(expr("lo + (hi - lo) div 2").as("mid"))
    val ev = ev0.crossJoin(broadcast(bounds))
      .withColumn("g",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 2)
      .withColumn("p", (col("ts_us") >= col("mid")).cast("int"))
    did(ev)
  }

  /** The DiD core over any (event_type, g ∈ {0,1}, p ∈ {0,1}, x6 BIGINT
    * micros) frame — factored out for ExperimentBitsProbeSpec. */
  private[graft] def did(ev: DataFrame): DataFrame = {
    def cell(g: Int, p: Int) = col("g") === g && col("p") === p
    def nC(g: Int, p: Int) =
      sum(when(cell(g, p), 1L).otherwise(0L)).as(s"n$g$p")
    def sC(g: Int, p: Int) = // long micro sums, widen-late (q_perm_test rule)
      sum(when(cell(g, p), col("x6")).otherwise(0L)).cast(d38).as(s"s$g$p")
    def qC(g: Int, p: Int) =
      sum(when(cell(g, p), (col("x6").cast(d19) * col("x6").cast(d19)).cast(d38))
        .otherwise(lit(0L).cast(d38))).cast(d38).as(s"q$g$p")
    val aggs = Seq(nC(0, 0), nC(0, 1), nC(1, 0), nC(1, 1),
      sC(0, 0), sC(0, 1), sC(1, 0), sC(1, 1),
      qC(0, 0), qC(0, 1), qC(1, 0), qC(1, 1))
    val a = ev.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
    def m(g: Int, p: Int) = col(s"s$g$p").cast(D) / nD(col(s"n$g$p"))
    // per-cell mean-variance term: V/(n(n−1))/n  (micro², the Welch form)
    def t(g: Int, p: Int) = {
      val n = col(s"n$g$p")
      ((n.cast(d19) * col(s"q$g$p") - col(s"s$g$p") * col(s"s$g$p")).cast(d38)
        .cast(D)) / (nD(n) * nD(n - 1L)) / nD(n)
    }
    val did = (m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0))
    val se = sqrt(t(0, 0) + t(0, 1) + t(1, 0) + t(1, 1))
    val ok = (col("n00") > 1L) && (col("n01") > 1L) &&
      (col("n10") > 1L) && (col("n11") > 1L)
    val z = did / se
    a.select(col("event_type"),
        col("n00"), col("n01"), col("n10"), col("n11"),
        when(ok, did / lit(1000000.0)).as("did"),
        when(ok && se > 0.0, z).as("z_did"),
        (when(ok && se > 0.0, abs(z)).otherwise(lit(0.0)) > lit(1.96))
          .as("significant"))
      .orderBy(col("event_type"))
  }

  val qDidSql: String =
    """WITH ev0 AS (
      |  SELECT event_type, user_id, epoch_us(ts) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
      |  FROM events WHERE value IS NOT NULL),
      |b AS (SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) // 2 AS mid FROM ev0),
      |ev AS (
      |  SELECT event_type,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS g,
      |    CASE WHEN ts_us >= b.mid THEN 1 ELSE 0 END AS p, x6
      |  FROM ev0 CROSS JOIN b),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN g = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
      |    CAST(SUM(CASE WHEN g = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN g = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN g = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN g = 0 AND p = 0 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s00,
      |    CAST(SUM(CASE WHEN g = 0 AND p = 1 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s01,
      |    CAST(SUM(CASE WHEN g = 1 AND p = 0 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s10,
      |    CAST(SUM(CASE WHEN g = 1 AND p = 1 THEN CAST(x6 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s11,
      |    CAST(SUM(CASE WHEN g = 0 AND p = 0 THEN CAST(x6 AS HUGEINT) * x6 ELSE 0 END) AS HUGEINT) AS q00,
      |    CAST(SUM(CASE WHEN g = 0 AND p = 1 THEN CAST(x6 AS HUGEINT) * x6 ELSE 0 END) AS HUGEINT) AS q01,
      |    CAST(SUM(CASE WHEN g = 1 AND p = 0 THEN CAST(x6 AS HUGEINT) * x6 ELSE 0 END) AS HUGEINT) AS q10,
      |    CAST(SUM(CASE WHEN g = 1 AND p = 1 THEN CAST(x6 AS HUGEINT) * x6 ELSE 0 END) AS HUGEINT) AS q11
      |  FROM ev GROUP BY event_type),
      |k AS (
      |  SELECT event_type, n00, n01, n10, n11,
      |    (CAST(CAST(s11 AS VARCHAR) AS DOUBLE) / CAST(n11 AS DOUBLE)
      |      - CAST(CAST(s10 AS VARCHAR) AS DOUBLE) / CAST(n10 AS DOUBLE))
      |    - (CAST(CAST(s01 AS VARCHAR) AS DOUBLE) / CAST(n01 AS DOUBLE)
      |      - CAST(CAST(s00 AS VARCHAR) AS DOUBLE) / CAST(n00 AS DOUBLE)) AS didx,
      |    CAST(CAST(CAST(n00 AS HUGEINT) * q00 - s00 * s00 AS VARCHAR) AS DOUBLE)
      |      / (CAST(n00 AS DOUBLE) * CAST(n00 - 1 AS DOUBLE)) / CAST(n00 AS DOUBLE)
      |    + CAST(CAST(CAST(n01 AS HUGEINT) * q01 - s01 * s01 AS VARCHAR) AS DOUBLE)
      |      / (CAST(n01 AS DOUBLE) * CAST(n01 - 1 AS DOUBLE)) / CAST(n01 AS DOUBLE)
      |    + CAST(CAST(CAST(n10 AS HUGEINT) * q10 - s10 * s10 AS VARCHAR) AS DOUBLE)
      |      / (CAST(n10 AS DOUBLE) * CAST(n10 - 1 AS DOUBLE)) / CAST(n10 AS DOUBLE)
      |    + CAST(CAST(CAST(n11 AS HUGEINT) * q11 - s11 * s11 AS VARCHAR) AS DOUBLE)
      |      / (CAST(n11 AS DOUBLE) * CAST(n11 - 1 AS DOUBLE)) / CAST(n11 AS DOUBLE) AS var_sum,
      |    n00 > 1 AND n01 > 1 AND n10 > 1 AND n11 > 1 AS ok
      |  FROM a)
      |SELECT event_type, n00, n01, n10, n11,
      |  CASE WHEN ok THEN didx / 1000000.0 END AS did,
      |  CASE WHEN ok AND sqrt(var_sum) > 0.0 THEN didx / sqrt(var_sum) END AS z_did,
      |  COALESCE(CASE WHEN ok AND sqrt(var_sum) > 0.0 THEN
      |    abs(didx / sqrt(var_sum)) END, 0.0) > 1.96 AS significant
      |FROM k ORDER BY event_type""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_boot_ci", qBootCi _, qBootCiSql),
    Gate("q_did", qDid _, qDidSql),
    Gate("q_overdispersion", qOverdispersion _, qOverdispersionSql),
    Gate("q_sketch_quantile", qSketchQuantile _, qSketchQuantileSql),
    Gate("q_welch_ttest", qWelchTtest _, qWelchTtestSql),
    Gate("q_lift_gains", qLiftGains _, qLiftGainsSql),
    Gate("q_median_ci", qMedianCi _, qMedianCiSql),
    Gate("q_cmh", qCmh _, qCmhSql),
    Gate("q_tost", qTost _, qTostSql),
    Gate("q_rate_test", qRateTest _, qRateTestSql),
  )
}
