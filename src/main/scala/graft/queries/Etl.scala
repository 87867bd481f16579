package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.functions.OracleParity.xsum
import graft.operators._

/** ETL-surface queries (SURVEY.md §2B) — the reference's store_* semantics
  * exercised on the test schema. Each binds a generic operator from
  * [[graft.operators]] to concrete tables with deterministic derived
  * batches, so merge/diff behavior is verifiable against a DuckDB oracle
  * without a live database.
  */
object Etl {

  /** e_stable_id: content-hash surrogate keys on customer. */
  def eStableId(s: SparkSession, dir: String): DataFrame =
    StableId.withStableId(Tables.customer(s, dir),
      Seq("c_name", "c_nationkey", "c_mktsegment"), "sk")
      .select(col("c_custkey"), col("sk"))
      .orderBy(col("c_custkey"))

  val eStableIdSql: String = {
    val e = StableId.oracleExpr(Seq("c_name", "c_nationkey", "c_mktsegment"))
    s"SELECT c_custkey, $e AS sk FROM customer ORDER BY c_custkey"
  }

  /** e_stable_id_sha: the hashAlgo knob's sha256 face (VERDICT r11
    * stretch #10) — the SAME escaped/sentinel-encoded payload as
    * e_stable_id through SHA-256 (Spark sha2(…, 256) vs DuckDB sha256),
    * the digest a NEW n2k-style schema would pick. sha1 — the legacy
    * n2kresult reconcile — is the declared no-oracle boundary (DuckDB
    * ships no sha1); its digest is pinned by spec instead. */
  def eStableIdSha(s: SparkSession, dir: String): DataFrame =
    StableId.withStableId(Tables.customer(s, dir),
      Seq("c_name", "c_nationkey", "c_mktsegment"), "sk", algo = "sha256")
      .select(col("c_custkey"), col("sk"))
      .orderBy(col("c_custkey"))

  val eStableIdShaSql: String = {
    val e = StableId.oracleExpr(Seq("c_name", "c_nationkey", "c_mktsegment"), "sha256")
    s"SELECT c_custkey, $e AS sk FROM customer ORDER BY c_custkey"
  }

  /** e_validate: one-pass rule report on orders. */
  def eValidate(s: SparkSession, dir: String): DataFrame =
    Validate.report(Tables.orders(s, dir), Seq(
      Validate.Rule("custkey_nonnull", col("o_custkey").isNotNull),
      Validate.Rule("date_range",
        col("o_orderdate") >= lit("1990-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("2005-01-01").cast("timestamp_ntz")),
      Validate.Rule("priority_format", col("o_orderpriority").rlike("^[1-5]-")),
      Validate.Rule("status_domain", col("o_orderstatus").isin("O", "F", "P")),
      Validate.Rule("totalprice_positive", col("o_totalprice") > 0.0)))

  val eValidateSql: String =
    """SELECT rule, n_violations, (SELECT COUNT(*) FROM orders) AS n_rows FROM (
      |  SELECT 'custkey_nonnull' AS rule, COUNT(*) FILTER (WHERE o_custkey IS NULL) AS n_violations FROM orders
      |  UNION ALL SELECT 'date_range', COUNT(*) FILTER (WHERE NOT coalesce(o_orderdate >= TIMESTAMP '1990-01-01' AND o_orderdate < TIMESTAMP '2005-01-01', FALSE)) FROM orders
      |  UNION ALL SELECT 'priority_format', COUNT(*) FILTER (WHERE NOT coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)) FROM orders
      |  UNION ALL SELECT 'status_domain', COUNT(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE)) FROM orders
      |  UNION ALL SELECT 'totalprice_positive', COUNT(*) FILTER (WHERE NOT coalesce(o_totalprice > 0.0, FALSE)) FROM orders
      |) ORDER BY rule""".stripMargin

  /** e_check_unique: duplicated natural keys in lineitem. */
  def eCheckUnique(s: SparkSession, dir: String): DataFrame =
    Checks.duplicates(Tables.lineitem(s, dir), Seq("l_orderkey", "l_linenumber"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val eCheckUniqueSql: String =
    """SELECT l_orderkey, l_linenumber, COUNT(*) AS n FROM lineitem
      |GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** e_check_fk: lineitem parts missing from the "active" part subset. */
  def eCheckFk(s: SparkSession, dir: String): DataFrame = {
    val activeParts = Tables.part(s, dir).filter(col("p_retailprice") > 1200.0)
    Checks.fkOrphans(Tables.lineitem(s, dir), activeParts, "l_partkey", "p_partkey")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_orphan_rows"))
      .orderBy(col("l_partkey"))
  }

  val eCheckFkSql: String =
    """SELECT l_partkey, COUNT(*) AS n_orphan_rows FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_retailprice > 1200.0 AND p.p_partkey = l.l_partkey)
      |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  /** e_dim_normalize: extract the market-segment dimension from a
    * denormalized orders⋈customer feed; facts compute their surrogate key
    * locally (no join-back — it's a content hash). */
  def eDimNormalize(s: SparkSession, dir: String): DataFrame = {
    val denorm = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
    val (_, fact) = DimNormalize.split(denorm,
      dimCols = Seq("c_mktsegment"), factCols = Seq("o_orderkey"), skCol = "seg_sk")
    fact.orderBy(col("o_orderkey"))
  }

  val eDimNormalizeSql: String = {
    val e = StableId.oracleExpr(Seq("c_mktsegment"))
    s"""SELECT o_orderkey, $e AS seg_sk FROM orders JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_orderkey""".stripMargin
  }

  /** Deterministic staged batch against customer, shared by the merge-family
    * gates: custkey%10==0 re-segmented (update), 50 brand-new keys (insert),
    * custkey%17==0 (and not %10) absent from batch (keep/despawn). */
  private def custBatch(cust: DataFrame): DataFrame = {
    val updates = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_mktsegment", lit("PROMO"))
    val inserts = cust.filter(col("c_custkey") < 50)
      .select((col("c_custkey") + 1000000).as("c_custkey"),
        concat(lit("new_"), col("c_custkey").cast("string")).as("c_name"),
        lit("BUILDING").as("c_mktsegment"))
    cust.filter(col("c_custkey") % 10 =!= 0 && col("c_custkey") % 17 =!= 0)
      .unionByName(updates, allowMissingColumns = false)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .unionByName(inserts)
  }

  private val custBatchSql =
    """SELECT c_custkey, c_name,
      |    CASE WHEN c_custkey % 10 = 0 THEN 'PROMO' ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 17 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'new_' || CAST(c_custkey AS VARCHAR), 'BUILDING'
      |  FROM customer WHERE c_custkey < 50""".stripMargin

  /** e_upsert_merge: insert/update/keep classification. */
  def eUpsertMerge(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    UpsertMerge.merge(cust, custBatch(cust), Seq("c_custkey"), Seq("c_name", "c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val eUpsertMergeSql: String =
    s"""WITH source AS (
      |  $custBatchSql
      |)
      |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
      |  CASE WHEN s.c_custkey IS NULL THEN t.c_name ELSE s.c_name END AS c_name,
      |  CASE WHEN s.c_custkey IS NULL THEN t.c_mktsegment ELSE s.c_mktsegment END AS c_mktsegment,
      |  CASE WHEN t.c_custkey IS NULL THEN 'insert'
      |       WHEN s.c_custkey IS NULL THEN 'keep'
      |       WHEN t.c_name = s.c_name AND t.c_mktsegment = s.c_mktsegment THEN 'keep'
      |       ELSE 'update' END AS action
      |FROM customer t FULL OUTER JOIN source s ON t.c_custkey = s.c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** e_despawn: the reference's signature soft-delete — rows absent from
    * the batch get action `despawn` instead of `keep` (same single
    * full-outer merge join, flag-gated). */
  def eDespawn(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    UpsertMerge.merge(cust, custBatch(cust), Seq("c_custkey"), Seq("c_name", "c_mktsegment"),
        despawnMissing = true)
      .orderBy(col("c_custkey"))
  }

  val eDespawnSql: String =
    s"""WITH source AS (
      |  $custBatchSql
      |)
      |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
      |  CASE WHEN s.c_custkey IS NULL THEN t.c_name ELSE s.c_name END AS c_name,
      |  CASE WHEN s.c_custkey IS NULL THEN t.c_mktsegment ELSE s.c_mktsegment END AS c_mktsegment,
      |  CASE WHEN t.c_custkey IS NULL THEN 'insert'
      |       WHEN s.c_custkey IS NULL THEN 'despawn'
      |       WHEN t.c_name = s.c_name AND t.c_mktsegment = s.c_mktsegment THEN 'keep'
      |       ELSE 'update' END AS action
      |FROM customer t FULL OUTER JOIN source s ON t.c_custkey = s.c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** e_store_stamps: full import bookkeeping through stampedMerge — the
    * current state carries first/last-imported stamps from a synthetic
    * previous import (stamp 100; customers %13==0 already despawned), the
    * batch lands at stamp 200. Covers insert (both stamps 200), update and
    * keep-present (last refreshed), respawn (%13 present again →
    * reclassified update, flag cleared), newly despawned (%17, stamps
    * preserved) and dead rows staying despawned as keep. */
  def eStoreStamps(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val current = cust
      .withColumn("first_imported", lit(100L))
      .withColumn("last_imported", lit(100L))
      .withColumn("despawned", col("c_custkey") % 13 === 0)
    UpsertMerge.stampedMerge(current, custBatch(cust),
        Seq("c_custkey"), Seq("c_name", "c_mktsegment"), lit(200L))
      .orderBy(col("c_custkey"))
  }

  val eStoreStampsSql: String =
    s"""WITH source AS (
      |  $custBatchSql
      |),
      |cur AS (SELECT c_custkey, c_name, c_mktsegment,
      |          CAST(100 AS BIGINT) AS first_imported, CAST(100 AS BIGINT) AS last_imported,
      |          (c_custkey % 13 = 0) AS despawned
      |        FROM customer)
      |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
      |  CASE WHEN s.c_custkey IS NULL THEN t.c_name ELSE s.c_name END AS c_name,
      |  CASE WHEN s.c_custkey IS NULL THEN t.c_mktsegment ELSE s.c_mktsegment END AS c_mktsegment,
      |  CASE WHEN t.c_custkey IS NULL THEN CAST(200 AS BIGINT) ELSE t.first_imported END AS first_imported,
      |  CASE WHEN s.c_custkey IS NOT NULL THEN CAST(200 AS BIGINT) ELSE t.last_imported END AS last_imported,
      |  (s.c_custkey IS NULL) AS despawned,
      |  CASE WHEN t.c_custkey IS NULL THEN 'insert'
      |       WHEN s.c_custkey IS NULL AND t.despawned THEN 'keep'
      |       WHEN s.c_custkey IS NULL THEN 'despawn'
      |       WHEN t.despawned THEN 'update'
      |       WHEN t.c_name = s.c_name AND t.c_mktsegment = s.c_mktsegment THEN 'keep'
      |       ELSE 'update' END AS action
      |FROM cur t FULL OUTER JOIN source s ON t.c_custkey = s.c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** e_scd2: validity intervals from the purchase-event change stream. */
  def eScd2(s: SparkSession, dir: String): DataFrame = {
    val changes = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("ts_us", expr("ts div 1000"))
    Scd2.intervals(changes, "user_id", "ts_us", "event_id", Seq("value"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  val eScd2Sql: String =
    """SELECT user_id, value, epoch_us(ts) AS valid_from,
      |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to,
      |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL AS is_current
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id, valid_from""".stripMargin

  /** AS-OF instant for e_scd2_asof: 2024-01-15T00:00Z in epoch micros —
    * mid-span of the synthetic purchase stream, so roughly half the
    * entities have an open interval and half a closed one at t. */
  val AsOfMicros = 1705276800000000L

  /** e_scd2_asof: point-in-time query over the SCD2 history — THE read
    * pattern versioned dimensions exist for ("what did every entity look
    * like at t?"): build intervals from the change stream, then one
    * narrow half-open-interval filter picks each entity's visible
    * version. At most one row per entity by construction (intervals
    * within an entity never overlap). */
  def eScd2Asof(s: SparkSession, dir: String): DataFrame = {
    val changes = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("ts_us", expr("ts div 1000"))
    val hist = Scd2.intervals(changes, "user_id", "ts_us", "event_id", Seq("value"))
    Scd2.asOf(hist, lit(AsOfMicros))
      .select(col("user_id"), col("value"), col("valid_from"))
      .orderBy(col("user_id"))
  }

  val eScd2AsofSql: String =
    s"""SELECT user_id, value, valid_from FROM (
       |  SELECT user_id, value, epoch_us(ts) AS valid_from,
       |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to
       |  FROM events WHERE event_type = 'purchase')
       |WHERE valid_from <= $AsOfMicros AND (valid_to IS NULL OR valid_to > $AsOfMicros)
       |ORDER BY user_id""".stripMargin

  /** Knowledge instant for e_bitemporal: two days after the valid
    * instant, so versions reported with more than a 2-day lag are
    * invisible even though their valid time qualifies. */
  val KnownAtMicros: Long = AsOfMicros + 2L * 86400000000L

  /** e_bitemporal: valid-time × transaction-time point query — "what did
    * each entity look like at v, as we KNEW it at t?". The purchase
    * stream plays the valid axis; the transaction axis simulates
    * reporting lag deterministically (event_id mod 7 days), so some
    * versions valid before v were not yet recorded by t and the answer
    * provably differs from the plain SCD2 AS OF. One keyed window after
    * two narrow time filters. */
  def eBitemporal(s: SparkSession, dir: String): DataFrame = {
    val changes = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("valid_us", expr("ts div 1000"))
      .withColumn("tx_us",
        col("valid_us") + (col("event_id") % 7) * lit(86400000000L))
    Scd2.bitemporalAsOf(changes, "user_id", "valid_us", "tx_us", "event_id",
        Seq("value"), lit(AsOfMicros), lit(KnownAtMicros))
      .orderBy(col("user_id"))
  }

  val eBitemporalSql: String =
    s"""SELECT user_id, value, valid_us, tx_us FROM (
       |  SELECT user_id, value, valid_us, tx_us,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |                       ORDER BY valid_us DESC, tx_us DESC, event_id DESC) AS rn
       |  FROM (SELECT user_id, value, event_id, epoch_us(ts) AS valid_us,
       |          epoch_us(ts) + (event_id % 7) * 86400000000 AS tx_us
       |        FROM events WHERE event_type = 'purchase')
       |  WHERE tx_us <= $KnownAtMicros AND valid_us <= $AsOfMicros)
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** e_k_anon: k-anonymity release audit over the customer dimension —
    * quasi-identifiers (nation, market segment, account balance banded to
    * 1000s) shared by fewer than k=3 records re-identify them; the gate
    * reports every violating group, i.e. exactly what a release pipeline
    * must generalize or suppress. floor() banding (not int-cast) so the
    * truncation direction is identical across engines for negative
    * balances. One keyed aggregation, output bounded by violations. */
  def eKAnon(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    KAnon.audit(c, Seq(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("acctbal_band")), k = 3)
      .orderBy(col("c_nationkey"), col("c_mktsegment"), col("acctbal_band"))
  }

  val eKAnonSql: String =
    """SELECT c_nationkey, c_mktsegment,
      |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band, COUNT(*) AS n
      |FROM customer GROUP BY 1, 2, 3 HAVING COUNT(*) < 3
      |ORDER BY c_nationkey, c_mktsegment, acctbal_band""".stripMargin

  /** e_link_diff: membership reconciliation between two periods. */
  def eLinkDiff(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val cutoff = lit("1998-01-01").cast("timestamp_ntz")
    val current = ord.filter(col("o_orderdate") < cutoff)
      .select(col("o_custkey"), col("o_orderpriority"))
    val incoming = ord.filter(col("o_orderdate") >= cutoff)
      .select(col("o_custkey"), col("o_orderpriority"))
    LinkDiff.diff(current, incoming, Seq("o_custkey", "o_orderpriority"))
      .orderBy(col("o_custkey"), col("o_orderpriority"))
  }

  val eLinkDiffSql: String =
    """WITH cur AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders
      |             WHERE o_orderdate < TIMESTAMP '1998-01-01'),
      |     inc AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders
      |             WHERE o_orderdate >= TIMESTAMP '1998-01-01')
      |SELECT coalesce(cur.o_custkey, inc.o_custkey) AS o_custkey,
      |  coalesce(cur.o_orderpriority, inc.o_orderpriority) AS o_orderpriority,
      |  CASE WHEN cur.o_custkey IS NULL THEN 'added'
      |       WHEN inc.o_custkey IS NULL THEN 'removed' ELSE 'kept' END AS action
      |FROM cur FULL OUTER JOIN inc
      |  ON cur.o_custkey = inc.o_custkey AND cur.o_orderpriority = inc.o_orderpriority
      |ORDER BY o_custkey, o_orderpriority""".stripMargin

  /** e_import_stamp: first/last-imported bookkeeping per entity. */
  def eImportStamp(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts_us")).as("first_imported_us"),
        max(col("ts_us")).as("last_imported_us"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("user_id"), col("event_type"))

  val eImportStampSql: String =
    """SELECT user_id, event_type, MIN(epoch_us(ts)) AS first_imported_us,
      |  MAX(epoch_us(ts)) AS last_imported_us, COUNT(*) AS n_rows
      |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin

  /** e_cdc_apply: changelog compaction — events as an I/U/D stream, last
    * change per user wins, deletes drop out. */
  def eCdcApply(s: SparkSession, dir: String): DataFrame = {
    val changelog = Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("op",
        when(col("event_type") === "signup", CdcApply.Insert)
          .when(col("event_type") === "purchase", CdcApply.Update)
          .when(col("event_type") === "error", CdcApply.Delete))
    CdcApply(changelog, Seq("user_id"), "op", "ts_us", "event_id", Seq("value"))
      .orderBy(col("user_id"))
  }

  val eCdcApplySql: String =
    """SELECT user_id, value, ts_us FROM (
      |  SELECT user_id, value, ts_us, op,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
      |  FROM (SELECT user_id, value, event_id, epoch_us(ts) AS ts_us,
      |          CASE event_type WHEN 'signup' THEN 'I' WHEN 'purchase' THEN 'U'
      |               WHEN 'error' THEN 'D' END AS op
      |        FROM events)
      |  WHERE op IS NOT NULL)
      |WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin

  /** e_salted_join: the skew-busting salted join must be RESULT-IDENTICAL
    * to the plain join — salting only changes the shuffle layout. The
    * oracle is the unsalted SQL join, so any salt-induced row loss or
    * duplication (the classic salting bugs: missing replication on the
    * small side, non-deterministic salt under retry) fails the gate. */
  def eSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val hot = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
    Salting.saltedJoin(li, hot, "l_orderkey", factor = 8)
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n"), xsum(col("l_extendedprice")).as("total"))
      .orderBy(col("o_year"))
  }

  val eSaltedJoinSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** e_agg_refresh: incremental aggregate maintenance — the per-customer
    * order summary is maintained as a mergeable partial-aggregate state
    * (count / exact decimal sum / day-int watermarks); arriving orders are
    * folded in through IncrementalAgg.merge without rescanning history.
    * The gate splits orders at a cutoff into "state so far" + "delta
    * batch", refreshes, and the oracle recomputes the summary from scratch
    * — merge(partial(A), partial(B)) must equal partial(A ∪ B) exactly,
    * which the decimal-sum convention guarantees. */
  def eAggRefresh(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1997-01-01").cast("timestamp_ntz")
    val epoch = lit("1970-01-01").cast("date")
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,6)")).as("spend_dec"),
          min(datediff(col("o_orderdate").cast("date"), epoch)).as("first_day"),
          max(datediff(col("o_orderdate").cast("date"), epoch)).as("last_day"))
    val ord = Tables.orders(s, dir)
    val state = partial(ord.filter(col("o_orderdate") < cutoff))
    val delta = partial(ord.filter(col("o_orderdate") >= cutoff))
    IncrementalAgg.merge(state, delta, Seq("o_custkey"), Seq(
      "n_orders" -> "sum", "spend_dec" -> "sum",
      "first_day" -> "min", "last_day" -> "max"))
      .select(col("o_custkey"), col("n_orders"),
        col("spend_dec").cast("double").as("spend"),
        col("first_day"), col("last_day"))
      .orderBy(col("o_custkey"))
  }

  val eAggRefreshSql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend,
      |  MIN(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS first_day,
      |  MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS last_day
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  private val ProfileCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Data-quality profile — per-column null and distinct counts in ONE
    * scan (the n2kupdate-style sanity report before a store run). All
    * metrics ride a single aggregate.
    *
    * `approx = false`: exact multi-countDistinct — Spark's expand rewrite
    * multiplies the aggregation input ×#cols (one scan, #cols× shuffle
    * fan-out). `approx = true` (the SURVEY §5.1 100 TB toggle): HLL++
    * approx_count_distinct at `rsd` relative error — NO expand, the
    * shuffle carries #cols fixed-size sketches per partition instead of
    * #cols× the data. EtlOperatorsSpec bounds approx vs exact at sf0.1
    * and pins the no-Expand plan shape. */
  def profile(df: DataFrame, cols: Seq[String],
      approx: Boolean = false, rsd: Double = 0.02): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      (if (approx) approx_count_distinct(col(c), rsd) else countDistinct(col(c)))
        .as(s"${c}_distinct"))) :+ count(lit(1)).as("n_rows")
    val stackArgs = cols.map(c => s"'$c', ${c}_nulls, ${c}_distinct").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_rows",
        s"stack(${cols.length}, $stackArgs) AS (col_name, n_nulls, n_distinct)")
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
      .orderBy(col("col_name"))
  }

  /** e_profile: the exact profile over orders (hash-checkable gate; the
    * approx toggle is spec-covered since HLL estimates are engine-local). */
  def eProfile(s: SparkSession, dir: String): DataFrame =
    profile(Tables.orders(s, dir), ProfileCols)

  val eProfileSql: String = ProfileCols.map(c =>
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
       |  COUNT(*) FILTER ($c IS NULL) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct
       |FROM orders""".stripMargin).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Collision-free staging path — pid-scoped like Similarity.ivfPath: a
    * concurrent gate + bench over the same dataset must not overwrite the
    * staged batches the other process is mid-read on. */
  private def evolvePath(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"/tmp/graft_evolve_${h}_${ProcessHandle.current().pid()}"
  }

  /** e_gdpr_purge: deletion-request propagation — subjects (customers with
    * c_custkey ≡ 0 mod 97 here) are hard-deleted from the customer table
    * and the delete CASCADES through orders via the FK, with a per-table
    * audit of totals/purged/kept. The request list broadcasts; each table
    * pays one narrow scan — nothing shuffles. The orphan proof is derived
    * from an INDEPENDENT path — kept orders anti-joined against the kept
    * customer rows themselves, not against the request list the orders leg
    * was purged with — so a cross-table inconsistency (the two legs purging
    * different key sets) surfaces as n_orphans > 0 instead of being
    * tautologically 0 by anti-join/semi-join symmetry. */
  def eGdprPurge(s: SparkSession, dir: String): DataFrame = {
    val requests = Tables.customer(s, dir)
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val tables: Seq[Retention.Table] = Seq(
      ("customer", Tables.customer(s, dir), "c_custkey"),
      ("orders", Tables.orders(s, dir), "o_custkey"))
    val keptOrders = Retention.purge(Tables.orders(s, dir), "o_custkey", requests, "c_custkey")
    val keptCustomers = Retention.purge(Tables.customer(s, dir), "c_custkey", requests, "c_custkey")
    val orphans = keptOrders
      .join(broadcast(keptCustomers.select(col("c_custkey").as("o_custkey"))),
        Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    Retention.audit(tables, requests, "c_custkey")
      .crossJoin(broadcast(orphans))
      .orderBy(col("table_name"))
  }

  /** The orders leg counts purged rows by MEMBERSHIP in the customer-derived
    * request set (EXISTS), exactly like Retention.purge — not by the bare
    * `% 97` shortcut, which would silently bake an FK-integrity assumption
    * into the oracle (an o_custkey with no customer row would diverge).
    * n_orphans is COMPUTED (kept orders with no surviving customer row),
    * mirroring the independent cross-table check, not a literal 0. */
  val eGdprPurgeSql: String =
    """SELECT table_name, n_total, n_purged, n_total - n_purged AS n_kept,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                     WHERE c.c_custkey % 97 = 0 AND c.c_custkey = o.o_custkey)
      |     AND NOT EXISTS (SELECT 1 FROM customer c2
      |                     WHERE c2.c_custkey % 97 <> 0 AND c2.c_custkey = o.o_custkey)
      |  ) AS n_orphans FROM (
      |  SELECT 'customer' AS table_name, COUNT(*) AS n_total,
      |    COUNT(*) FILTER (c_custkey % 97 = 0) AS n_purged FROM customer
      |  UNION ALL
      |  SELECT 'orders', COUNT(*),
      |    COUNT(*) FILTER (EXISTS (SELECT 1 FROM customer c
      |                             WHERE c.c_custkey % 97 = 0
      |                               AND c.c_custkey = o_custkey)) FROM orders)
      |ORDER BY table_name""".stripMargin

  /** e_partition_overwrite: DYNAMIC partition overwrite — the
    * reprocess-one-slice contract every partitioned 100 TB dataset needs:
    * rewriting 1995's revision batch replaces ONLY the yr=1995 directory
    * (mode=dynamic overwrites just the partitions present in the batch);
    * every other year's files are untouched — no full-table rewrite, no
    * read-modify-write cycle. The gate re-aggregates the evolved dataset:
    * 1995 must show the revised (doubled) totals, other years the
    * originals. */
  def ePartitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val out = s"${evolvePath(dir)}_po"
    val ord = Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")))
      .select(col("o_orderkey"), col("o_totalprice"), col("yr"))
    ord.write.mode("overwrite").partitionBy("yr").parquet(out)
    ord.filter(col("yr") === 1995)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("yr").parquet(out)
    s.read.parquet(out)
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
      .orderBy(col("yr"))
  }

  val ePartitionOverwriteSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN year(o_orderdate) = 1995
      |                     THEN o_totalprice * 2 ELSE o_totalprice END
      |                AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  /** e_schema_evolve: schema-evolution ingest — an old batch written with
    * 3 columns and a new batch with a 4th (o_totalprice) land in the same
    * dataset; the mergeSchema read unions the schemas and old rows surface
    * NULL for the added column. The gate aggregates per orderstatus with
    * an explicit null count on the evolved column, proving the widened
    * read loses nothing and backfills nothing silently. At 100 TB this is
    * the additive-column contract every long-lived dataset needs (renames/
    * type changes still require a migration job). */
  def eSchemaEvolve(s: SparkSession, dir: String): DataFrame = {
    val out = evolvePath(dir)
    val ord = Tables.orders(s, dir)
    val cutoff = lit("1997-01-01").cast("timestamp_ntz")
    ord.filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$out/old")
    ord.filter(col("o_orderdate") >= cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/new")
    s.read.option("mergeSchema", "true").parquet(s"$out/old", s"$out/new")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("n_legacy"),
        xsum(coalesce(col("o_totalprice"), lit(0.0))).as("new_total"))
      .orderBy(col("o_orderstatus"))
  }

  val eSchemaEvolveSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  COUNT(*) FILTER (o_orderdate < TIMESTAMP '1997-01-01') AS n_legacy,
      |  CAST(SUM(CAST(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |                     THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS new_total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** e_anomaly: statistical anomaly report — the reference's `anomaly` fact
    * concept computed from the data: events whose value sits more than 3σ
    * from their event_type cohort mean (the exponential-ish value column
    * makes the tail real). Two-pass: one moment aggregation, then the
    * |groups|-row stats table broadcasts onto the fact scan — the event
    * stream never shuffles for scoring. */
  def eAnomaly(s: SparkSession, dir: String): DataFrame =
    Anomaly.flag(Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
      Anomaly.Spec(Seq("event_type"), "value", k = 3.0))
      .select(col("event_id"), col("event_type"), col("value"), col("zscore"))
      .orderBy(col("event_id"))

  val eAnomalySql: String = Anomaly.oracleSql("events", Seq("event_type"), "value",
    k = 3.0, outCols = Seq("event_id", "event_type", "value"), orderBy = "event_id")

  /** e_skew_report: join-key skew diagnostics — the measurement half of
    * the skew story whose mitigation half is [[Salting]] / AQE skew-join
    * (PlanSpec pins the runtime split). One aggregation shuffle builds
    * per-key counts; the global stats reduce to ONE row broadcast back, so
    * the report costs a scan + two tiny exchanges at any scale. Emits the
    * top heavy keys with their load share and the salt factor that would
    * level them (ceil(key_count / mean_count)) — exactly the number
    * Salting.saltedJoin takes. Integer counts and one IEEE division per
    * row keep both engines bitwise-aligned. */
  def eSkewReport(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("key_count"))
    val tot = counts.agg(sum(col("key_count")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .select(col("l_partkey"), col("key_count"),
        (col("key_count").cast(DoubleType) / col("n_rows").cast(DoubleType)).as("share"),
        ceil(col("key_count").cast(DoubleType) /
          (col("n_rows").cast(DoubleType) / col("n_keys").cast(DoubleType))).cast("long").as("salt_factor"))
      .orderBy(col("key_count").desc, col("l_partkey"))
      .limit(10)
  }

  val eSkewReportSql: String =
    """WITH counts AS (
      |  SELECT l_partkey, COUNT(*) AS key_count FROM lineitem GROUP BY 1),
      |tot AS (SELECT SUM(key_count) AS n_rows, COUNT(*) AS n_keys FROM counts)
      |SELECT l_partkey, key_count,
      |  CAST(key_count AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
      |  CAST(CEIL(CAST(key_count AS DOUBLE) / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))) AS BIGINT) AS salt_factor
      |FROM counts, tot
      |ORDER BY key_count DESC, l_partkey LIMIT 10""".stripMargin

  /** e_view_delta: incremental join-view maintenance — the orders ⋈
    * lineitem view is maintained by [[ViewDelta.refreshInsert]] from
    * insert-only delta batches instead of re-joining the full tables. The
    * gate splits each side deterministically (orders on orderkey % 10,
    * lineitem on orderkey % 7 — different moduli so all three delta terms
    * are non-trivially exercised; keys ≡ 0 (mod 70) land in ΔA ⋈ ΔB),
    * refreshes, and reduces the view to a per-status summary. The oracle
    * recomputes from the complete tables: V ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB must
    * equal A' ⋈ B' exactly, which the decimal-sum convention makes
    * hash-checkable. */
  def eViewDelta(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir)
      .select(col("o_orderkey").as("orderkey"), col("o_orderstatus"))
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("orderkey"), col("l_extendedprice"))
    val (aOld, aDel) = (a.filter(col("orderkey") % 10 =!= 0), a.filter(col("orderkey") % 10 === 0))
    val (bOld, bDel) = (b.filter(col("orderkey") % 7 =!= 0), b.filter(col("orderkey") % 7 === 0))
    val view = aOld.join(bOld, Seq("orderkey"))
    ViewDelta.refreshInsert(view, aOld, aDel, bOld, bDel, Seq("orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val eViewDeltaSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** e_view_delta_del: DELETE-AWARE join-view maintenance — the same
    * orders ⋈ lineitem view maintained through a changelog that both
    * inserts (orders ≡ 0 mod 10, lineitems ≡ 0 mod 7) and deletes
    * (order keys ≡ 3 mod 10 on the A side, ≡ 2 mod 7 on the B side), via
    * [[ViewDelta.refresh]]'s anti-join retraction terms. The oracle
    * recomputes from scratch with the deleted keys filtered out: the
    * incrementally maintained view must equal A' ⋈ B' exactly. */
  def eViewDeltaDel(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir)
      .select(col("o_orderkey").as("orderkey"), col("o_orderstatus"))
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("orderkey"), col("l_extendedprice"))
    val (aOld, aIns) = (a.filter(col("orderkey") % 10 =!= 0), a.filter(col("orderkey") % 10 === 0))
    val (bOld, bIns) = (b.filter(col("orderkey") % 7 =!= 0), b.filter(col("orderkey") % 7 === 0))
    // deletes arrive as key frames: drop order 3-mod-10 rows from A and
    // every line of 2-mod-7 orders from B (a cascade-style delete)
    val aDel = aOld.filter(col("orderkey") % 10 === 3).select(col("orderkey")).distinct()
    val bDel = bOld.filter(col("orderkey") % 7 === 2).select(col("orderkey")).distinct()
    val view = aOld.join(bOld, Seq("orderkey"))
    ViewDelta.refresh(view, aOld, aIns, aDel, Seq("orderkey"),
        bOld, bIns, bDel, Seq("orderkey"), Seq("orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** A' = orders without the 3-mod-10 keys; B' = lineitem without lines
    * of 2-mod-7 orders (inserts restore the 0-mod splits in full). */
  val eViewDeltaDelSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey % 10 <> 3 AND l_orderkey % 7 <> 2
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** e_inferred_dim: late-arriving dimension / early-arriving fact (see
    * InferredDim) replayed on the synthetic corpus — the species dim feed
    * lags (members with sp_key % 3 = 0 missing), the observation window's
    * fact keys force inferred placeholders, and a late delivery batch
    * (sp_key % 6 = 0) resolves half of them in place. Output: the final
    * dimension with each member's provenance. */
  def eInferredDim(s: SparkSession, dir: String): DataFrame = {
    val w = graft.api.N2kBinding.window(s, dir, "1996-01-01", "1998-01-01")
    val sp = w.select(col("l_partkey").as("sp_key"), col("p_name").as("sp_name")).distinct()
    val dim0 = sp.filter(col("sp_key") % 3 =!= 0)
    val facts = w.select(col("l_partkey").as("sp_key"))
    val arrivals = sp.filter(col("sp_key") % 6 === 0)
    graft.operators.InferredDim.resolve(
        graft.operators.InferredDim.infer(dim0, facts, "sp_key", Seq("sp_name")),
        arrivals, "sp_key", Seq("sp_name"))
      .orderBy(col("sp_key"))
  }

  val eInferredDimSql: String =
    """WITH w AS (
      |  SELECT DISTINCT l_partkey AS sp_key, p_name AS sp_name
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |                JOIN part ON l_partkey = p_partkey
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'),
      |dim0 AS (SELECT * FROM w WHERE sp_key % 3 <> 0),
      |arrivals AS (SELECT * FROM w WHERE sp_key % 6 = 0),
      |st AS (
      |  SELECT sp_key, sp_name, false AS inferred FROM dim0
      |  UNION ALL
      |  SELECT f.sp_key, '(inferred)', true
      |  FROM (SELECT DISTINCT sp_key FROM w) f ANTI JOIN dim0 d ON d.sp_key = f.sp_key)
      |SELECT st.sp_key,
      |  CASE WHEN st.inferred AND a.sp_key IS NOT NULL THEN a.sp_name ELSE st.sp_name END AS sp_name,
      |  CASE WHEN NOT st.inferred THEN 'original'
      |       WHEN a.sp_key IS NOT NULL THEN 'resolved'
      |       ELSE 'still_inferred' END AS status
      |FROM st LEFT JOIN arrivals a ON a.sp_key = st.sp_key
      |ORDER BY st.sp_key""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("e_inferred_dim", eInferredDim _, eInferredDimSql),
    Gate("e_view_delta", eViewDelta _, eViewDeltaSql),
    Gate("e_view_delta_del", eViewDeltaDel _, eViewDeltaDelSql),
    Gate("e_skew_report", eSkewReport _, eSkewReportSql),
    Gate("e_anomaly", eAnomaly _, eAnomalySql),
    Gate("e_partition_overwrite", ePartitionOverwrite _, ePartitionOverwriteSql),
    Gate("e_gdpr_purge", eGdprPurge _, eGdprPurgeSql),
    Gate("e_schema_evolve", eSchemaEvolve _, eSchemaEvolveSql),
    Gate("e_profile", eProfile _, eProfileSql),
    Gate("e_agg_refresh", eAggRefresh _, eAggRefreshSql),
    Gate("e_salted_join", eSaltedJoin _, eSaltedJoinSql),
    Gate("e_cdc_apply", eCdcApply _, eCdcApplySql),
    Gate("e_stable_id", eStableId _, eStableIdSql),
    Gate("e_stable_id_sha", eStableIdSha _, eStableIdShaSql),
    Gate("e_validate", eValidate _, eValidateSql),
    Gate("e_check_unique", eCheckUnique _, eCheckUniqueSql),
    Gate("e_check_fk", eCheckFk _, eCheckFkSql),
    Gate("e_dim_normalize", eDimNormalize _, eDimNormalizeSql),
    Gate("e_upsert_merge", eUpsertMerge _, eUpsertMergeSql),
    Gate("e_despawn", eDespawn _, eDespawnSql),
    Gate("e_store_stamps", eStoreStamps _, eStoreStampsSql),
    Gate("e_scd2", eScd2 _, eScd2Sql),
    Gate("e_scd2_asof", eScd2Asof _, eScd2AsofSql),
    Gate("e_bitemporal", eBitemporal _, eBitemporalSql),
    Gate("e_k_anon", eKAnon _, eKAnonSql),
    Gate("e_link_diff", eLinkDiff _, eLinkDiffSql),
    Gate("e_import_stamp", eImportStamp _, eImportStampSql),
  )
}
