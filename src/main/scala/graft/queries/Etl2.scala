package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.Ckpt._
import graft.operators.Quarantine

/** ETL surface, continued (SURVEY.md §2B): row-level quarantine and
  * dataset drift monitoring. */
object Etl2 {

  /** The e_quarantine rule set — rule order IS the reasons order on both
    * engines. qty fires on roughly half the rows, discount on a minority,
    * price never: the output exercises single- and multi-reason rows and
    * proves passing rules leave no trace. */
  private val QRules = Seq(
    Quarantine.Rule("qty_le_25", col("l_quantity") <= 25),
    Quarantine.Rule("discount_le_5pct", col("l_discount") <= 0.05),
    Quarantine.Rule("price_positive", col("l_extendedprice") > 0))

  /** e_quarantine: divert-don't-abort validation — the ingest pattern
    * between the reference's stop-on-invalid (right for keyed dims) and
    * silent dropping: rows violating any rule land in the quarantine
    * frame annotated with every violated rule, clean rows flow on. ONE
    * narrow projection evaluates all rules (no per-rule pass, no
    * shuffle); output here is the quarantine sink's content. */
  def eQuarantine(s: SparkSession, dir: String): DataFrame = {
    val (_, bad) = Quarantine.split(Tables.lineitem(s, dir), QRules)
    bad.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_discount"),
        col("quarantine_reasons"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_discount"))
  }

  val eQuarantineSql: String = {
    val parts = Seq(
      "CASE WHEN NOT COALESCE(l_quantity <= 25, FALSE) THEN 'qty_le_25' END",
      "CASE WHEN NOT COALESCE(l_discount <= 0.05, FALSE) THEN 'discount_le_5pct' END",
      "CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE) THEN 'price_positive' END")
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_discount,
       |  quarantine_reasons
       |FROM (SELECT *, concat_ws(',', ${parts.mkString(", ")}) AS quarantine_reasons
       |      FROM lineitem)
       |WHERE quarantine_reasons <> ''
       |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_discount""".stripMargin
  }

  /** Histogram bin width (chars) for the drift report. */
  private val DriftBinWidth = 200

  /** e_drift: dataset-drift report between two corpus snapshots — the
    * monitor a training-data pipeline runs when a new crawl lands:
    * document-length histograms of the reference and current snapshots
    * (doc_id parity stands in for the two crawls) compared per bucket.
    * `drift_num` is the EXACT integer cross-difference
    * &#124;n_cur·total_ref − n_ref·total_cur&#124; — the total-variation
    * numerator, so bucket drift ranks without any floating summation
    * (share doubles are pinned single divisions for display). Scale
    * shape: two map-side-partial aggregations over narrow projections,
    * one &#124;bins&#124;-row outer join; output is bin-bounded at any
    * corpus size. */
  def eDrift(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"CAST(length(text) AS BIGINT) div $DriftBinWidth").as("bucket"))
    def hist(side: DataFrame) = side.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val ref = hist(d.filter(col("doc_id") % 2 === 0)).select(col("bucket"), col("n").as("n_ref"))
    val cur = hist(d.filter(col("doc_id") % 2 === 1)).select(col("bucket"), col("n").as("n_cur"))
    val joined = ref.join(cur, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        (col("n_ref").cast("double") / col("t_ref").cast("double")).as("share_ref"),
        (col("n_cur").cast("double") / col("t_cur").cast("double")).as("share_cur"),
        abs(col("n_cur") * col("t_ref") - col("n_ref") * col("t_cur")).as("drift_num"))
      .orderBy(col("bucket"))
  }

  val eDriftSql: String =
    s"""WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) // $DriftBinWidth AS bucket FROM documents),
       |r AS (SELECT bucket, COUNT(*) AS n_ref FROM d WHERE doc_id % 2 = 0 GROUP BY 1),
       |c AS (SELECT bucket, COUNT(*) AS n_cur FROM d WHERE doc_id % 2 = 1 GROUP BY 1),
       |j AS (SELECT COALESCE(r.bucket, c.bucket) AS bucket,
       |        COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
       |      FROM r FULL JOIN c ON r.bucket = c.bucket),
       |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM j)
       |-- drift_num must CAST back to BIGINT: DuckDB's SUM(BIGINT) is
       |-- HUGEINT, which propagates through the cross-difference and
       |-- materializes as float64 — equal values, different typed hash
       |SELECT bucket, n_ref, n_cur,
       |  CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE) AS share_ref,
       |  CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE) AS share_cur,
       |  CAST(abs(n_cur * t_ref - n_ref * t_cur) AS BIGINT) AS drift_num
       |FROM j, t ORDER BY bucket""".stripMargin

  /** e_l_diversity: the privacy leak e_k_anon misses — a QI group can be
    * k-anonymous yet homogeneous in its sensitive attribute, so
    * membership alone discloses it. Audits (nation, acctbal-band) groups
    * whose customers span fewer than 3 distinct market segments; one
    * keyed aggregation, the distinct count rides the same shuffle. */
  def eLDiversity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    graft.operators.KAnon.auditDiversity(c,
        Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("acctbal_band")),
        col("c_mktsegment"), l = 3)
      .orderBy(col("c_nationkey"), col("acctbal_band"))
  }

  val eLDiversitySql: String =
    """SELECT c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
      |  COUNT(*) AS n, COUNT(DISTINCT c_mktsegment) AS n_sensitive
      |FROM customer GROUP BY 1, 2 HAVING COUNT(DISTINCT c_mktsegment) < 3
      |ORDER BY c_nationkey, acctbal_band""".stripMargin

  /** e_expectations: the Deequ-style data-quality suite — declared checks
    * (volume, completeness, domain compliance, bounds, mean band,
    * distinctness) evaluated in ONE aggregation pass, each emitting its
    * metric AND its pass verdict: the continuous-monitoring complement to
    * e_validate's violation counts and e_profile's bare stats. Metrics
    * are pinned single divisions of exact aggregates. */
  def eExpectations(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations.Check
    val n = count(lit(1)).cast("double")
    val checks = Seq(
      Check("c1_volume", n, _ >= 1000.0),
      Check("c2_returnflag_complete",
        count(col("l_returnflag")).cast("double") / n, _ === 1.0),
      Check("c3_returnflag_domain",
        count(when(col("l_returnflag").isin("A", "N", "R"), lit(1))).cast("double") / n,
        _ === 1.0),
      Check("c4_qty_max", max(col("l_quantity")).cast("double"), _ <= 50.0),
      Check("c5_qty_min", min(col("l_quantity")).cast("double"), _ >= 1.0),
      Check("c6_discount_mean",
        graft.functions.OracleParity.xsum(col("l_discount")) / n, _.between(0.02, 0.08)),
      Check("c7_orderkey_distinctness",
        countDistinct(col("l_orderkey")).cast("double") / n, _.between(0.05, 0.8)))
    graft.operators.Expectations.run(Tables.lineitem(s, dir), checks)
      .orderBy(col("check"))
  }

  val eExpectationsSql: String =
    """WITH m AS (SELECT
      |  CAST(COUNT(*) AS DOUBLE) AS n,
      |  CAST(COUNT(l_returnflag) AS DOUBLE) AS n_rf,
      |  CAST(COUNT(*) FILTER (l_returnflag IN ('A', 'N', 'R')) AS DOUBLE) AS n_dom,
      |  CAST(MAX(l_quantity) AS DOUBLE) AS qmax,
      |  CAST(MIN(l_quantity) AS DOUBLE) AS qmin,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS dsum,
      |  CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS nok
      |  FROM lineitem)
      |SELECT * FROM (
      |  SELECT 'c1_volume' AS "check", n AS metric, n >= 1000.0 AS passed FROM m
      |  UNION ALL SELECT 'c2_returnflag_complete', n_rf / n, n_rf / n = 1.0 FROM m
      |  UNION ALL SELECT 'c3_returnflag_domain', n_dom / n, n_dom / n = 1.0 FROM m
      |  UNION ALL SELECT 'c4_qty_max', qmax, qmax <= 50.0 FROM m
      |  UNION ALL SELECT 'c5_qty_min', qmin, qmin >= 1.0 FROM m
      |  UNION ALL SELECT 'c6_discount_mean', dsum / n, dsum / n BETWEEN 0.02 AND 0.08 FROM m
      |  UNION ALL SELECT 'c7_orderkey_distinctness', nok / n, nok / n BETWEEN 0.05 AND 0.8 FROM m)
      |ORDER BY "check"""".stripMargin

  /** Secret pepper for the pseudonymization gate — in production this is
    * a vaulted secret; the GATE pins the mechanism, not the key. */
  private val Pepper = "graft-pepper-v1"

  /** e_pseudonymize: deterministic keyed pseudonymization — the GDPR
    * release pattern between dropping an identifier and publishing it:
    * every identifying value maps to md5(pepper ‖ value), so the same
    * entity gets the same surrogate everywhere (JOINABILITY across
    * released tables survives) while re-identification requires the
    * pepper. The gate proves the mechanism end-to-end: customers and
    * their orders pseudonymized INDEPENDENTLY, then joined ON THE
    * SURROGATE — per-customer order counts must equal the cleartext
    * join's. Narrow maps + the same join the cleartext would run. */
  def ePseudonymize(s: SparkSession, dir: String): DataFrame = {
    def pseudo(c: org.apache.spark.sql.Column) =
      md5(concat(lit(Pepper), lit(":"), c.cast("string")))
    val cust = Tables.customer(s, dir)
      .select(pseudo(col("c_custkey")).as("pid"), col("c_mktsegment"))
    val ord = Tables.orders(s, dir)
      .select(pseudo(col("o_custkey")).as("pid"))
    cust.join(ord, "pid")
      .groupBy(col("pid"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("pid"))
  }

  val ePseudonymizeSql: String =
    s"""SELECT md5('$Pepper:' || CAST(c_custkey AS VARCHAR)) AS pid,
       |  c_mktsegment, COUNT(*) AS n_orders
       |FROM customer JOIN orders ON o_custkey = c_custkey
       |GROUP BY 1, 2 ORDER BY pid""".stripMargin

  /** e_sanitize: the reference's sanitize-before-validate surface as a
    * gate — messy character input (padding, tabs, doubled internal
    * whitespace, whitespace-only values) synthesized in-query from part
    * names, normalized by Sanitize.clean: all-whitespace trim, internal
    * collapse, empty → NULL (the reference's NA convention — "" and NA
    * must mean the same absent value or keys hash apart). Clean must
    * recover the original name exactly; whitespace-only values land as
    * genuine NULLs. Narrow maps only. */
  def eSanitize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sanitize
    val messy = Tables.part(s, dir).select(col("p_partkey"),
      concat(lit("  \t"), regexp_replace(col("p_name"), " ", "   "), lit(" \n")).as("m1"),
      when(col("p_partkey") % 10 === 0, lit(" \t ")).otherwise(col("p_brand")).as("m2"))
    messy.select(col("p_partkey"),
        Sanitize.clean(col("m1")).as("name_clean"),
        Sanitize.clean(col("m2")).as("brand_clean"))
      .orderBy(col("p_partkey"))
  }

  val eSanitizeSql: String = {
    def clean(e: String) =
      s"NULLIF(regexp_replace(regexp_replace($e, '[ \t\n\r\f]+', ' ', 'g'), '^ | $$', '', 'g'), '')"
    s"""SELECT p_partkey,
       |  ${clean("'  ' || chr(9) || regexp_replace(p_name, ' ', '   ', 'g') || ' ' || chr(10)")} AS name_clean,
       |  ${clean("CASE WHEN p_partkey % 10 = 0 THEN ' ' || chr(9) || ' ' ELSE p_brand END")} AS brand_clean
       |FROM part ORDER BY p_partkey""".stripMargin
  }

  /** e_mad_outliers: ROBUST anomaly detection — the median/MAD
    * complement to e_anomaly's mean/z-score: a heavy-tailed or already-
    * contaminated group inflates its own stdev and hides outliers, while
    * the median absolute deviation stays put (50% breakdown point, the
    * production-monitoring default). Per return-flag class: median price,
    * MAD, then robust score |x − med| / (1.4826·MAD) with flags past 3.
    * Three passes — median agg, MAD agg over the broadcast median, flag
    * scan over the broadcast stats (all map-side-partial aggregations;
    * stats are |groups| rows) — with the same exact-percentile parity as
    * q_quantiles; output bounded by outliers.
    *
    * The gate PLANTS deterministic contamination (×10 price on
    * l_orderkey % 997 = 0, l_linenumber = 1 — identically derived in the
    * oracle's input CTE, the e_coldiff pattern): TPC-H prices are uniform
    * (max robust score ~1.35), so on the raw table `score > 3` can never
    * fire and a 0-row hash-match would verify nothing about the scoring
    * path. The planted rows are real outliers the flag MUST catch — and
    * exactly the contamination MAD is robust to: ~0.1 % planted mass
    * moves the median/MAD imperceptibly, while e_anomaly's stdev would
    * inflate.
    *
    * `approx = true` is the 100 TB path (q_rfm's toggle, VERDICT r10 #5):
    * exact `percentile` keeps a full per-group value map — non-mergeable
    * state that cannot stream at corpus scale — so both median passes
    * swap for percentile_approx's mergeable GK summaries; same plan
    * shape, same flag rule. SketchToggleSpec bounds flag disagreement at
    * sf0.1. The gate keeps exact for the oracle. */
  def eMadOutliers(s: SparkSession, dir: String): DataFrame =
    eMadOutliers(s, dir, approx = false)

  def eMadOutliers(s: SparkSession, dir: String, approx: Boolean): DataFrame = {
    val pct = if (approx) "percentile_approx" else "percentile"
    // rank error ~1e-4 of the population — the median and the MAD median
    // land within noise of exact on any non-degenerate distribution
    val acc = if (approx) ", 10000" else ""
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") *
          when(col("l_orderkey") % 997 === 0 && col("l_linenumber") === 1, lit(10))
            .otherwise(lit(1))).as("x"))
    // r16 opt (guide §1.2 fewer passes): the exact path collapses to ONE
    // (flag, x, count) histogram and computes BOTH medians from it with
    // percentile's frequency argument — two fact scans become one plus a
    // domain-bounded histogram (value-identical buffers, so bit-identical
    // medians, 1.96 -> 1.68 s at sf0.1). The
    // approx toggle keeps the per-row passes: percentile_approx's GK
    // sketch has no frequency form.
    val mad = if (approx) {
      val med = li.groupBy(col("l_returnflag"))
        .agg(expr(s"$pct(x, 0.5D$acc)").as("med"))
      li.join(broadcast(med), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(expr(s"$pct(abs(x - med), 0.5D$acc)").as("mad"), first(col("med")).as("med"))
    } else {
      val hist = li.groupBy(col("l_returnflag"), col("x"))
        .agg(count(lit(1)).as("cnt")).cpEager
      val med = hist.groupBy(col("l_returnflag"))
        .agg(expr("percentile(x, 0.5D, cnt)").as("med"))
      hist.join(broadcast(med), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(abs(x - med), 0.5D, cnt)").as("mad"), first(col("med")).as("med"))
    }
    li.join(broadcast(mad), "l_returnflag")
      .withColumn("score", abs(col("x") - col("med")) / (lit(1.4826) * col("mad")))
      .filter(col("score") > 3.0)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("x"), col("med"), col("mad"), col("score"))
      .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("x"))
  }

  val eMadOutliersSql: String =
    """WITH li AS (SELECT l_returnflag, l_orderkey, l_linenumber,
      |  l_extendedprice * (CASE WHEN l_orderkey % 997 = 0 AND l_linenumber = 1 THEN 10 ELSE 1 END) AS x
      |  FROM lineitem),
      |med AS (SELECT l_returnflag, quantile_cont(x, 0.5) AS med FROM li GROUP BY 1),
      |mad AS (SELECT li.l_returnflag, quantile_cont(abs(x - med), 0.5) AS mad, ANY_VALUE(med) AS med
      |        FROM li JOIN med USING (l_returnflag) GROUP BY li.l_returnflag)
      |SELECT l_returnflag, l_orderkey, l_linenumber, x, med, mad,
      |  abs(x - med) / (1.4826 * mad) AS score
      |FROM li JOIN mad USING (l_returnflag)
      |WHERE abs(x - med) / (1.4826 * mad) > 3.0
      |ORDER BY l_returnflag, l_orderkey, l_linenumber, x""".stripMargin

  /** e_coldiff: table-reconciliation drilldown (the datafold/data-diff
    * tool class): between a target table and an incoming version, the
    * key-level delta (added/removed), the matched rows with any change,
    * and — the part e_upsert_merge's row-level classification doesn't
    * give — WHICH columns changed, counted per column (null-safe
    * compare). The report a migration/backfill review reads before
    * trusting a replacement table. ONE full-outer key join + ONE
    * aggregation; output is |cols|+3 fixed rows, nothing row-sized
    * leaves the executors. The incoming version is derived
    * deterministically (removed keys %17, segment updates %10, balance
    * +100 on %7, renamed %13, inserted keys +1e6). */
  def eColdiff(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    val batch = cust.filter(col("c_custkey") % 17 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 13 === 0, concat(lit("upd_"), col("c_name")))
          .otherwise(col("c_name")).as("c_name"),
        when(col("c_custkey") % 10 === 0, lit("PROMO"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      .unionByName(cust.filter(col("c_custkey") < 50)
        .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_name"),
          col("c_mktsegment"), col("c_acctbal")))
    val t = cust.select(col("c_custkey"), col("c_name").as("t_name"),
      col("c_mktsegment").as("t_seg"), col("c_acctbal").as("t_bal"), lit(1).as("__t"))
    val b = batch.select(col("c_custkey"), col("c_name").as("b_name"),
      col("c_mktsegment").as("b_seg"), col("c_acctbal").as("b_bal"), lit(1).as("__b"))
    val j = t.join(b, Seq("c_custkey"), "full_outer")
    val matched = col("__t").isNotNull && col("__b").isNotNull
    def changed(a: String, bb: String) = matched && !(col(a) <=> col(bb))
    j.agg(
        sum(when(col("__t").isNull, 1L).otherwise(0L)).as("key_added"),
        sum(when(col("__b").isNull, 1L).otherwise(0L)).as("key_removed"),
        sum(when(matched && (!(col("t_name") <=> col("b_name")) ||
          !(col("t_seg") <=> col("b_seg")) ||
          !(col("t_bal") <=> col("b_bal"))), 1L).otherwise(0L)).as("rows_changed"),
        sum(when(changed("t_name", "b_name"), 1L).otherwise(0L)).as("chg_name"),
        sum(when(changed("t_seg", "b_seg"), 1L).otherwise(0L)).as("chg_seg"),
        sum(when(changed("t_bal", "b_bal"), 1L).otherwise(0L)).as("chg_bal"))
      .select(expr(
        "stack(6, 'key_added', key_added, 'key_removed', key_removed, " +
          "'rows_changed', rows_changed, 'col:c_name', chg_name, " +
          "'col:c_mktsegment', chg_seg, 'col:c_acctbal', chg_bal) AS (metric, n)"))
      .orderBy(col("metric"))
  }

  val eColdiffSql: String =
    """WITH cust AS (SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
      |batch AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 13 = 0 THEN 'upd_' || c_name ELSE c_name END AS c_name,
      |    CASE WHEN c_custkey % 10 = 0 THEN 'PROMO' ELSE c_mktsegment END AS c_mktsegment,
      |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
      |  FROM cust WHERE c_custkey % 17 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_mktsegment, c_acctbal
      |  FROM cust WHERE c_custkey < 50),
      |j AS (
      |  SELECT t.c_custkey AS tk, b.c_custkey AS bk,
      |    t.c_name AS t_name, b.c_name AS b_name,
      |    t.c_mktsegment AS t_seg, b.c_mktsegment AS b_seg,
      |    t.c_acctbal AS t_bal, b.c_acctbal AS b_bal
      |  FROM cust t FULL JOIN batch b ON t.c_custkey = b.c_custkey),
      |a AS (
      |  SELECT
      |    SUM(CASE WHEN tk IS NULL THEN 1 ELSE 0 END) AS key_added,
      |    SUM(CASE WHEN bk IS NULL THEN 1 ELSE 0 END) AS key_removed,
      |    SUM(CASE WHEN tk IS NOT NULL AND bk IS NOT NULL AND
      |      (t_name IS DISTINCT FROM b_name OR t_seg IS DISTINCT FROM b_seg
      |       OR t_bal IS DISTINCT FROM b_bal) THEN 1 ELSE 0 END) AS rows_changed,
      |    SUM(CASE WHEN tk IS NOT NULL AND bk IS NOT NULL AND t_name IS DISTINCT FROM b_name THEN 1 ELSE 0 END) AS chg_name,
      |    SUM(CASE WHEN tk IS NOT NULL AND bk IS NOT NULL AND t_seg IS DISTINCT FROM b_seg THEN 1 ELSE 0 END) AS chg_seg,
      |    SUM(CASE WHEN tk IS NOT NULL AND bk IS NOT NULL AND t_bal IS DISTINCT FROM b_bal THEN 1 ELSE 0 END) AS chg_bal
      |  FROM j)
      |SELECT metric, CAST(n AS BIGINT) AS n FROM (
      |  SELECT 'key_added' AS metric, key_added AS n FROM a
      |  UNION ALL SELECT 'key_removed', key_removed FROM a
      |  UNION ALL SELECT 'rows_changed', rows_changed FROM a
      |  UNION ALL SELECT 'col:c_name', chg_name FROM a
      |  UNION ALL SELECT 'col:c_mktsegment', chg_seg FROM a
      |  UNION ALL SELECT 'col:c_acctbal', chg_bal FROM a)
      |ORDER BY metric""".stripMargin

  /** e_gap_audit: SEQUENCE-CONTINUITY audit — the delivery-completeness
    * check e_check_unique/e_check_fk don't cover: a child table whose
    * per-parent sequence numbers should run 1..n (line numbers of an
    * order, page numbers of a scan, chunk indices of an upload) is
    * audited for HOLES — a gap means the extract dropped rows silently,
    * the failure mode a row count per table can't see (totals still look
    * plausible). The incoming batch is derived with planted loss
    * ((l_orderkey + l_linenumber) % 23 rows dropped — the e_coldiff
    * derivation pattern); per order: distinct lines present, max line
    * number, and n_missing = max − present (the 1..max contract). Output
    * bounded by violating parents. One keyed aggregation whose HAVING
    * rides the same shuffle — the e_k_anon plan shape. */
  def eGapAudit(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter((col("l_orderkey") + col("l_linenumber")) % 23 =!= 0)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_linenumber")).as("n_lines"),
        max(col("l_linenumber")).as("max_ln"))
      .withColumn("n_missing", (col("max_ln") - col("n_lines")).cast("long"))
      .filter(col("n_missing") > 0)
      .select(col("l_orderkey"), col("n_lines"), col("max_ln"), col("n_missing"))
      .orderBy(col("l_orderkey"))
  }

  val eGapAuditSql: String =
    """SELECT l_orderkey, n_lines, max_ln, CAST(max_ln - n_lines AS BIGINT) AS n_missing
      |FROM (
      |  SELECT l_orderkey, COUNT(DISTINCT l_linenumber) AS n_lines,
      |    MAX(l_linenumber) AS max_ln
      |  FROM lineitem WHERE (l_orderkey + l_linenumber) % 23 <> 0
      |  GROUP BY l_orderkey)
      |WHERE max_ln - n_lines > 0 ORDER BY l_orderkey""".stripMargin

  /** e_survivorship: GOLDEN-RECORD construction — the master-data-
    * management step after e_check_unique finds duplicates and
    * e_dim_normalize conforms them: the same entity arrives from several
    * source feeds (a CRM export, a web profile) with conflicting,
    * partially-null attributes, and each attribute of the golden record
    * survives from the most authoritative record THAT HAS IT — most
    * recent update wins, feed priority breaks date ties (the standard
    * recency-then-priority survivorship rule). The two feeds are derived
    * from customer with planted conflicts and nulls (the e_coldiff
    * derivation pattern), each record carrying one integer order key
    * okey = update_day·10 + priority so "latest then priority" is a
    * single max — and per attribute the survivor is max_by(value,
    * okey-if-non-null), which rides ONE keyed aggregation: no window, no
    * per-entity sort, no self-join (the t_pref_pairs plan shape). Output
    * is |entities| golden rows with per-attribute provenance implicit in
    * the rule; at 100 TB this is one shuffle of the record feed. */
  def eSurvivorship(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val crm = cust.select(col("c_custkey"),
      when(col("c_custkey") % 11 === 0, concat(lit("crm_"), col("c_name")))
        .otherwise(col("c_name")).as("name"),
      when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("seg"),
      col("c_acctbal").as("bal"),
      col("c_nationkey").as("nat"),
      ((col("c_custkey") % 30) * 10 + 2).cast("long").as("okey"))
    val web = cust.filter(col("c_custkey") % 3 === 0).select(col("c_custkey"),
      when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("name"),
      col("c_mktsegment").as("seg"),
      (col("c_acctbal") + lit(50.0)).as("bal"),
      when(col("c_custkey") % 13 === 0, lit(null).cast("int"))
        .otherwise(col("c_nationkey")).as("nat"),
      ((col("c_custkey") % 45) * 10 + 1).cast("long").as("okey"))
    def survive(c: String) =
      max_by(col(c), when(col(c).isNotNull, col("okey"))).as(s"g_$c")
    crm.unionByName(web)
      .groupBy(col("c_custkey"))
      .agg(survive("name"), survive("seg"), survive("bal"), survive("nat"),
        count(lit(1)).as("n_sources"))
      .orderBy(col("c_custkey"))
  }

  val eSurvivorshipSql: String =
    """WITH crm AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'crm_' || c_name ELSE c_name END AS name,
      |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS seg,
      |    c_acctbal AS bal, c_nationkey AS nat,
      |    (c_custkey % 30) * 10 + 2 AS okey
      |  FROM customer),
      |web AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS name,
      |    c_mktsegment AS seg, c_acctbal + 50.0 AS bal,
      |    CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_nationkey END AS nat,
      |    (c_custkey % 45) * 10 + 1 AS okey
      |  FROM customer WHERE c_custkey % 3 = 0),
      |recs AS (SELECT * FROM crm UNION ALL SELECT * FROM web)
      |SELECT c_custkey,
      |  arg_max(name, CASE WHEN name IS NOT NULL THEN okey END) AS g_name,
      |  arg_max(seg, CASE WHEN seg IS NOT NULL THEN okey END) AS g_seg,
      |  arg_max(bal, CASE WHEN bal IS NOT NULL THEN okey END) AS g_bal,
      |  arg_max(nat, CASE WHEN nat IS NOT NULL THEN okey END) AS g_nat,
      |  COUNT(*) AS n_sources
      |FROM recs GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** e_rate_convert: EFFECTIVE-DATED REFERENCE-DATA conversion — the
    * currency/price-list lookup every financial ETL runs: a sparse
    * rate table (one rate per (currency, effective-month), with ~1/3 of
    * months missing) applies to each fact by AS-OF semantics — the
    * latest rate whose effective month ≤ the fact's month; facts whose
    * currency has no earlier rate stay NULL (never silently converted).
    * Rates are formula-derived integers (micro-rate), so conversion is
    * exact decimal × integer with ONE pinned output division.
    *
    * Scale shape: facts COLLAPSE FIRST — one keyed aggregation to the
    * (currency, month)-bounded monthly frame; the as-of resolution is a
    * range join + max_by on that bounded frame against the broadcast
    * rate table, so the fact table never joins the rates. (q_asof_join
    * covers the row-level as-of; this is the aggregate-then-resolve ETL
    * shape that avoids it at 100 TB.) */
  def eRateConvert(s: SparkSession, dir: String): DataFrame = {
    val d18 = DecimalType(18, 6)
    val rates = s.range(0, 5).select(col("id").as("rcur"))
      .crossJoin(s.range(0, 96).select(col("id").as("rm")))
      .filter((col("rcur") + col("rm")) % 3 =!= 0)
      .select(col("rcur"), col("rm"),
        (lit(800000L) + ((col("rcur") * 31 + col("rm") * 7) % 400) * 1000L).as("rate_micros"))
    val monthly = Tables.orders(s, dir)
      .select((col("o_custkey") % 5).as("cur"),
        (((year(col("o_orderdate")) - 1992) * 12) + month(col("o_orderdate")) - 1).cast("long").as("m"),
        col("o_totalprice"))
      .groupBy(col("cur"), col("m"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice").cast(d18)).as("rev"))
    val resolved = monthly
      .join(broadcast(rates), col("cur") === col("rcur") && col("rm") <= col("m"), "left")
      .groupBy(col("cur"), col("m"))
      .agg(first(col("n_orders")).as("n_orders"), first(col("rev")).as("rev"),
        max_by(col("rate_micros").cast(DecimalType(10, 0)), col("rm")).as("rate_micros"))
    resolved.select(col("cur"), col("m"), col("n_orders"),
        col("rev").cast(DoubleType).as("revenue"),
        col("rate_micros").cast("long").as("rate_micros"),
        // raw (r14 un-pin): the ulp divergence came from DuckDB's direct
        // int128->double cast on the wide decimal product — the oracle
        // varchar-routes it (SURVEY §6 r14 rule), so the chain is bitwise
        ((col("rev") * col("rate_micros")).cast(DoubleType) / lit(1000000.0))
          .as("revenue_conv"))
      .orderBy(col("cur"), col("m"))
  }

  val eRateConvertSql: String =
    """WITH rates AS (
      |  SELECT cur, rm, 800000 + ((cur * 31 + rm * 7) % 400) * 1000 AS rate_micros
      |  FROM (SELECT unnest(range(0, 5)) AS cur), (SELECT unnest(range(0, 96)) AS rm)
      |  WHERE (cur + rm) % 3 <> 0),
      |monthly AS (
      |  SELECT o_custkey % 5 AS cur,
      |    (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS m,
      |    COUNT(*) AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      |  FROM orders GROUP BY 1, 2),
      |resolved AS (
      |  SELECT mo.cur, mo.m, MAX(mo.n_orders) AS n_orders, MAX(mo.rev) AS rev,
      |    arg_max(CAST(r.rate_micros AS DECIMAL(10,0)), r.rm) AS rate_micros
      |  FROM monthly mo LEFT JOIN rates r ON r.cur = mo.cur AND r.rm <= mo.m
      |  GROUP BY mo.cur, mo.m)
      |SELECT cur, m, n_orders, CAST(rev AS DOUBLE) AS revenue,
      |  CAST(rate_micros AS BIGINT) AS rate_micros,
      |  CAST(CAST(rev * rate_micros AS VARCHAR) AS DOUBLE) / 1000000.0 AS revenue_conv
      |FROM resolved ORDER BY cur, m""".stripMargin

  /** e_record_linkage: typo-tolerant ENTITY RESOLUTION between two
    * feeds — the record-linkage step upstream of e_survivorship (golden
    * records presume you KNOW which rows are the same entity; this
    * finds them when keys don't line up): feed B carries planted
    * single-edit typos (md5-derived names; %4=0 a substitution, %4=1 a
    * deletion — 'z' never occurs in hex so the substitution is always
    * real), candidate pairs come from PREFIX BLOCKING (first-2-chars
    * block plus a ±2 length band — both edit-1-invariant here since
    * edits land past position 2), matches verify with the BOUNDED
    * Levenshtein (threshold 2 — the DP cuts off, the d_editdist
    * pattern), and each B record takes its best match as min(lev, a_id)
    * encoded in ONE integer so best-match is a plain min aggregation —
    * no window. Unmatched B rows surface with NULLs (never silently
    * dropped).
    *
    * Scale shape: blocking bounds candidates to per-block products
    * (the production knob is a more selective q-gram inverted index
    * with document-frequency pruning — same knob as the LSH bucket
    * caps); one block-keyed join, one b-keyed min. */
  def eRecordLinkage(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(s, dir)
      .select(col("c_custkey").as("a_id"),
        substring(md5(col("c_custkey").cast("string")), 1, 12).as("a_name"))
    val b0 = Tables.customer(s, dir)
      .select((col("c_custkey") + 1000000L).as("b_id"), col("c_custkey").as("k"),
        substring(md5(col("c_custkey").cast("string")), 1, 12).as("nm"))
    val b = b0.select(col("b_id"),
      when(col("k") % 4 === 0,
          concat(substring(col("nm"), 1, 2), lit("z"), substring(col("nm"), 4, 9)))
        .when(col("k") % 4 === 1,
          concat(substring(col("nm"), 1, 4), substring(col("nm"), 6, 7)))
        .otherwise(col("nm")).as("b_name"))
    val cand = a.withColumn("blk", substring(col("a_name"), 1, 2))
      .join(b.withColumn("blk", substring(col("b_name"), 1, 2)), "blk")
      .filter(abs(length(col("a_name")) - length(col("b_name"))) <= 2)
      .withColumn("lev", levenshtein(col("a_name"), col("b_name"), 2))
      .filter(col("lev") >= 0 && col("lev") <= 2)
    val best = cand
      .groupBy(col("b_id"))
      .agg(min(col("lev") * 100000000L + col("a_id")).as("okey"))
      .select(col("b_id"), (col("okey") % 100000000L).as("a_id"),
        expr("okey div 100000000").as("lev"))
    b.join(best, Seq("b_id"), "left")
      .select(col("b_id"), col("b_name"), col("a_id"), col("lev"))
      .orderBy(col("b_id"))
  }

  val eRecordLinkageSql: String =
    """WITH a AS (
      |  SELECT c_custkey AS a_id, substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS a_name
      |  FROM customer),
      |b AS (
      |  SELECT c_custkey + 1000000 AS b_id,
      |    CASE WHEN c_custkey % 4 = 0
      |           THEN substr(nm, 1, 2) || 'z' || substr(nm, 4, 9)
      |         WHEN c_custkey % 4 = 1
      |           THEN substr(nm, 1, 4) || substr(nm, 6, 7)
      |         ELSE nm END AS b_name
      |  FROM (SELECT c_custkey, substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS nm
      |        FROM customer)),
      |cand AS (
      |  SELECT b.b_id, a.a_id, levenshtein(a.a_name, b.b_name) AS lev
      |  FROM a JOIN b ON substr(a.a_name, 1, 2) = substr(b.b_name, 1, 2)
      |  WHERE abs(length(a.a_name) - length(b.b_name)) <= 2
      |    AND levenshtein(a.a_name, b.b_name) <= 2),
      |best AS (
      |  SELECT b_id, MIN(lev * 100000000 + a_id) AS okey
      |  FROM cand GROUP BY b_id)
      |SELECT b.b_id, b.b_name, best.okey % 100000000 AS a_id,
      |  best.okey // 100000000 AS lev
      |FROM b LEFT JOIN best ON best.b_id = b.b_id
      |ORDER BY b.b_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("e_record_linkage", eRecordLinkage _, eRecordLinkageSql),
    Gate("e_rate_convert", eRateConvert _, eRateConvertSql),
    Gate("e_survivorship", eSurvivorship _, eSurvivorshipSql),
    Gate("e_gap_audit", eGapAudit _, eGapAuditSql),
    Gate("e_coldiff", eColdiff _, eColdiffSql),
    Gate("e_mad_outliers", eMadOutliers _, eMadOutliersSql),
    Gate("e_quarantine", eQuarantine _, eQuarantineSql),
    Gate("e_drift", eDrift _, eDriftSql),
    Gate("e_l_diversity", eLDiversity _, eLDiversitySql),
    Gate("e_expectations", eExpectations _, eExpectationsSql),
    Gate("e_pseudonymize", ePseudonymize _, ePseudonymizeSql),
    Gate("e_sanitize", eSanitize _, eSanitizeSql),
  )
}
