package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.OracleParity.x6

/** Round-12 ETL batch: source-to-target reconciliation (the audit every
  * finance-adjacent pipeline runs before sign-off) and late-arrival
  * profiling (the measurement that PICKS a watermark, rather than
  * guessing one). */
object Etl4 {

  // ----------------------------------------------------------- e_reconcile

  /** e_reconcile: SOURCE-TO-TARGET AMOUNT RECONCILIATION — recompute each
    * order's total from its lines (Σ extprice·(1−disc)·(1+tax)) and
    * reconcile against the order header's o_totalprice, classified per
    * order status: exact match / within a cent / off, with the absolute
    * drift mass. The double-entry audit a warehouse runs between a fact
    * table and its rollup before a close — and on synthetic data the
    * point is exactly that the identity need NOT hold: the gate REPORTS
    * the discrepancy profile instead of assuming it away.
    *
    * Parity: ALL integer micro-units — each factor decimal-casts from
    * its double then scales to micros, and the per-line amount is two
    * chained integer `div`s (truncation identical in both engines on
    * non-negative operands). No float arithmetic anywhere before the one
    * pinned share division.
    *
    * Scale shape: one line-level narrow map + orderkey-keyed sum
    * (map-side partial), broadcast-able header join keyed the same, one
    * ≤|statuses|-row rollup. */
  def eReconcile(s: SparkSession, dir: String): DataFrame = {
    val M = 1000000L
    val lineMicro = expr(
      s"""CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * $M AS BIGINT)
         |  * ($M - CAST(CAST(l_discount AS DECIMAL(18,6)) * $M AS BIGINT)) div $M
         |  * ($M + CAST(CAST(l_tax AS DECIMAL(18,6)) * $M AS BIGINT)) div $M
         |""".stripMargin.replace("\n", " "))
    val recomputed = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), lineMicro.as("line_micro"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("line_micro")).as("recomputed_micro"))
    val diff = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,6)") * lit(M)).cast("long").as("stated_micro"))
      .join(recomputed, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderstatus"),
        (coalesce(col("recomputed_micro"), lit(0L)) - col("stated_micro")).as("diff"))
    diff.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("diff") === 0L, 1L).otherwise(0L)).as("n_exact"),
        sum(when(abs(col("diff")) <= 10000L, 1L).otherwise(0L)).as("n_within_cent"),
        sum(abs(col("diff"))).as("abs_drift_micro"))
      .select(col("o_orderstatus"), col("n_orders"), col("n_exact"),
        col("n_within_cent"),
        (col("n_orders") - col("n_within_cent")).as("n_off"),
        col("abs_drift_micro"),
        (col("n_within_cent").cast("double") / col("n_orders").cast("double"))
          .as("reconciled_share"))
      .orderBy(col("o_orderstatus"))
  }

  val eReconcileSql: String = {
    val M = 1000000L
    s"""WITH lm AS (
       |  SELECT l_orderkey,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * $M AS BIGINT)
       |      * ($M - CAST(CAST(l_discount AS DECIMAL(18,6)) * $M AS BIGINT)) // $M
       |      * ($M + CAST(CAST(l_tax AS DECIMAL(18,6)) * $M AS BIGINT)) // $M AS line_micro
       |  FROM lineitem),
       |rc AS (SELECT l_orderkey, CAST(SUM(line_micro) AS BIGINT) AS recomputed_micro
       |       FROM lm GROUP BY 1),
       |d AS (
       |  SELECT o_orderstatus,
       |    COALESCE(recomputed_micro, 0) - CAST(CAST(o_totalprice AS DECIMAL(18,6)) * $M AS BIGINT) AS diff
       |  FROM orders LEFT JOIN rc ON l_orderkey = o_orderkey)
       |SELECT o_orderstatus, COUNT(*) AS n_orders,
       |  CAST(SUM(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN abs(diff) <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_cent,
       |  CAST(COUNT(*) - SUM(CASE WHEN abs(diff) <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_off,
       |  CAST(SUM(abs(diff)) AS BIGINT) AS abs_drift_micro,
       |  CAST(SUM(CASE WHEN abs(diff) <= 10000 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS reconciled_share
       |FROM d GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  // ------------------------------------------------------- e_late_arrivals

  /** e_late_arrivals: LATE-ARRIVAL PROFILE — per event day, how many rows
    * physically arrive after the day has closed, how late the stragglers
    * run, and what share a 6-hour grace window would still miss. This is
    * the measurement that CHOOSES a watermark/grace period (st_* gates
    * assume 2 h — this gate is how that number is justified from data)
    * and sizes the backfill surface for e_partition_overwrite. Ingest
    * time is synthesized deterministically (event time + an md5-derived
    * 0–48 h delay — the q_ab_srm hashing convention) so both engines
    * replay the identical arrival process.
    *
    * Parity: pure integer epoch arithmetic. Scale shape: one narrow map
    * + one day-keyed map-side-partial rollup. */
  def eLateArrivals(s: SparkSession, dir: String): DataFrame = {
    val UsPerDay = 86400000000L
    val UsPerHour = 3600000000L
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      .withColumn("delay_us",
        conv(substring(md5(col("event_id").cast("string")), 1, 12), 16, 10)
          .cast("long") % (48L * UsPerHour))
      .withColumn("day", expr(s"ts_us div $UsPerDay"))
      .withColumn("arrive_us", col("ts_us") + col("delay_us"))
    ev.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("arrive_us") >= (col("day") + 1) * UsPerDay, 1L).otherwise(0L))
          .as("n_late"),
        sum(when(col("arrive_us") >= (col("day") + 1) * UsPerDay + 6 * UsPerHour, 1L)
          .otherwise(0L)).as("n_past_grace"),
        max(col("arrive_us") - col("ts_us")).as("max_delay_us"))
      .select(col("day"), col("n_events"), col("n_late"), col("n_past_grace"),
        // integer div, NOT `/`-then-cast: double division rounds to nearest
        // before the cast truncates, so a quotient just under an integer
        // can round UP where DuckDB's `//` floors — the d_url_dedup class
        expr(s"max_delay_us div $UsPerHour").as("max_delay_h"),
        (col("n_late").cast("double") / col("n_events").cast("double")).as("late_share"),
        (col("n_past_grace").cast("double") / col("n_events").cast("double"))
          .as("past_grace_share"))
      .orderBy(col("day"))
  }

  val eLateArrivalsSql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) AS ts_us,
      |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 172800000000 AS delay_us
      |  FROM events),
      |f AS (
      |  SELECT ts_us // 86400000000 AS day, ts_us, ts_us + delay_us AS arrive_us
      |  FROM ev)
      |SELECT day, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN arrive_us >= (day + 1) * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(SUM(CASE WHEN arrive_us >= (day + 1) * 86400000000 + 21600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_past_grace,
      |  CAST(MAX(arrive_us - ts_us) // 3600000000 AS BIGINT) AS max_delay_h,
      |  CAST(SUM(CASE WHEN arrive_us >= (day + 1) * 86400000000 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS late_share,
      |  CAST(SUM(CASE WHEN arrive_us >= (day + 1) * 86400000000 + 21600000000 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS past_grace_share
      |FROM f GROUP BY day ORDER BY day""".stripMargin

  // ----------------------------------------------------- e_interval_audit

  /** e_interval_audit: VALIDITY-INTERVAL QA over an SCD2-shaped history —
    * the invariant e_scd2's BUILDER guarantees by construction, audited
    * here on a table that arrives from OUTSIDE (a vendor feed, a legacy
    * migration) where nothing guarantees it: consecutive versions per
    * entity must chain exactly (valid_to(i) = valid_from(i+1)); a
    * smaller valid_to leaves a coverage GAP, a larger one an OVERLAP
    * (double-counted history in as-of joins). Versions derive from each
    * customer's order dates; defects are PLANTED deterministically
    * (%17 → −1 day = gap, %19 → +1 day = overlap, the e_mask
    * independent-construction convention) so the classifier provably
    * fires on both classes.
    *
    * Parity: pure integer epoch-day arithmetic. Scale shape: one
    * entity-keyed lead window (range-partitions by entity) + a bucketed
    * rollup — no joins. */
  def eIntervalAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("custkey")).orderBy(col("od"), col("okey"))
    val v = Tables.orders(s, dir)
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("okey"),
        expr("datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01')").cast("long").as("od"))
      .withColumn("next_od", lead(col("od"), 1).over(w))
      .filter(col("next_od").isNotNull)
      .withColumn("valid_to", col("next_od") +
        when(col("okey") % 17 === 0, -1L)
          .when(col("okey") % 19 === 0, 1L).otherwise(0L))
    v.select((col("custkey") % 10).as("bucket"),
        when(col("valid_to") < col("next_od"), "gap")
          .when(col("valid_to") > col("next_od"), "overlap")
          .otherwise("ok").as("cls"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cls") === "gap", 1L).otherwise(0L)).as("n_gaps"),
        sum(when(col("cls") === "overlap", 1L).otherwise(0L)).as("n_overlaps"),
        sum(when(col("cls") === "ok", 1L).otherwise(0L)).as("n_ok"))
      .orderBy(col("bucket"))
  }

  val eIntervalAuditSql: String =
    """WITH o AS (
      |  SELECT o_custkey AS ck, o_orderkey AS okey,
      |    CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS od
      |  FROM orders),
      |v AS (
      |  SELECT ck, okey, od,
      |    lead(od) OVER (PARTITION BY ck ORDER BY od, okey) AS next_od
      |  FROM o),
      |c AS (
      |  SELECT ck % 10 AS bucket,
      |    CASE WHEN okey % 17 = 0 THEN 'gap'
      |         WHEN okey % 19 = 0 THEN 'overlap'
      |         ELSE 'ok' END AS cls
      |  FROM v WHERE next_od IS NOT NULL)
      |SELECT bucket, COUNT(*) AS n_pairs,
      |  CAST(SUM(CASE WHEN cls = 'gap' THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
      |  CAST(SUM(CASE WHEN cls = 'overlap' THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
      |  CAST(SUM(CASE WHEN cls = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
      |FROM c GROUP BY bucket ORDER BY bucket""".stripMargin

  // ----------------------------------------------------- e_payload_vectors

  /** e_payload_vectors: CROSS-ENGINE STRING VECTORS for the StableId
    * payload layout (r13 VERDICT stretch #7) — adversarial key values
    * constructed from the nation dim exercise every layout rule the
    * digest gates' natural data never hits: an embedded separator
    * ("NAME|x" must not fake a column boundary), an embedded backslash
    * ("a\NAME" must double, so no value ends in a lone backslash), real
    * NULLs (the "\N" sentinel), and the LITERAL string "\N" (whose
    * backslash doubles to "\\N" — provably distinct from the null
    * sentinel). The payload STRING itself is compared engine-to-engine,
    * plus the md5/sha256 digests of it — so the sha1 reconcile leg's
    * unverified surface narrows to the digest function alone: sha1
    * hashes the very bytes this gate proves identical across engines.
    *
    * Scale shape: a narrow row-local projection (regexp escapes +
    * concat_ws + digests, all codegen'd) — on a 100 TB fact this is a
    * map-only pass; the dim here just supplies deterministic strings. */
  def ePayloadVectors(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.StableId
    val vec = Tables.nation(s, dir).select(
      col("n_nationkey").cast("long").as("k"),
      concat(col("n_name"), lit("|x")).as("k1"),
      concat(lit("a\\"), col("n_name")).as("k2"),
      when(col("n_nationkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("n_name")).as("k3"),
      when(col("n_nationkey") % 4 === 0, lit("\\N"))
        .otherwise(lower(col("n_name"))).as("k4"))
    val keys = Seq(col("k1"), col("k2"), col("k3"), col("k4"))
    vec.select(col("k"),
        StableId.payload(keys).as("payload"),
        StableId.stableId(keys, "md5").as("sid_md5"),
        StableId.stableId(keys, "sha256").as("sid_sha256"))
      .orderBy(col("k"))
  }

  val ePayloadVectorsSql: String = {
    val payload = graft.operators.StableId.oraclePayload(Seq("k1", "k2", "k3", "k4"))
    s"""WITH v AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS k,
       |    n_name || '|x' AS k1,
       |    'a\\' || n_name AS k2,
       |    CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END AS k3,
       |    CASE WHEN n_nationkey % 4 = 0 THEN '\\N' ELSE lower(n_name) END AS k4
       |  FROM nation),
       |p AS (SELECT k, $payload AS payload FROM v)
       |SELECT k, payload, md5(payload) AS sid_md5, sha256(payload) AS sid_sha256
       |FROM p ORDER BY k""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("e_reconcile", eReconcile _, eReconcileSql),
    Gate("e_late_arrivals", eLateArrivals _, eLateArrivalsSql),
    Gate("e_interval_audit", eIntervalAudit _, eIntervalAuditSql),
    Gate("e_payload_vectors", ePayloadVectors _, ePayloadVectorsSql),
  )
}
