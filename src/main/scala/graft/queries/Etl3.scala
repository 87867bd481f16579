package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** ETL surface, batch 3 (SURVEY.md §2B): replication-audit table
  * checksums and ingestion type inference. */
object Etl3 {

  private val UsPerDay = 86400000000L
  private val ChecksumBuckets = 16

  /** The checksummed row content: integer/string columns only — money
    * rides as its DECIMAL micro-unit BIGINT and the date as its epoch
    * day, because a raw double's VARCHAR form is engine-dependent and a
    * checksum built on it would be unverifiable. Shared by source and
    * replica on both engines. */
  private def rowKey(priceCol: Column): Column = concat_ws("|",
    col("o_orderkey"), col("o_custkey"), priceCol,
    col("o_orderstatus"), col("o_orderpriority"),
    expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $UsPerDay"))

  /** e_table_checksum: ORDER-INVARIANT per-bucket table checksums — the
    * replication/migration audit that answers "is the copy byte-equal,
    * and if not, WHERE" without moving either table: each row hashes to
    * an int64 (md5 → first 15 hex digits), checksums are exact
    * DECIMAL(38,0) sums of those hashes per key bucket (sum = any
    * partitioning, any order), and only |buckets| tiny rows cross the
    * wire to the comparing side. A divergent bucket pins the repair scan
    * to 1/16th of the table.
    *
    * The replica is derived with TWO planted faults so both failure
    * modes are exercised every run: orderkey % 1009 == 0 rows corrupt
    * their price by one micro-unit (checksum mismatch, counts equal) and
    * orderkey % 2003 == 1 rows are dropped (count mismatch). Verdict per
    * bucket: ok / corrupt / missing_rows.
    *
    * Scale shape: one narrow hash projection + ONE map-side-partial
    * aggregation per side to |buckets| rows; the diff join touches 16
    * rows. At 100 TB the two sides run on different clusters and ship
    * only their checksum tables. */
  def eTableChecksum(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val micro = (col("o_totalprice").cast(DecimalType(18, 6)) * lit(1000000L)).cast("long")
    def side(price: Column, keep: Column): DataFrame =
      Tables.orders(s, dir).filter(keep)
        .select((col("o_orderkey") % ChecksumBuckets).as("bucket"),
          conv(substring(md5(rowKey(price)), 1, 15), 16, 10).cast("long").as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("h").cast(d38)).cast("string").as("checksum"))
    val src = side(micro, lit(true))
    val rep = side(when(col("o_orderkey") % 1009 === 0, micro + 1).otherwise(micro),
      col("o_orderkey") % 2003 =!= 1)
    src.as("s").join(rep.as("r"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        col("s.n").as("n_src"), col("r.n").as("n_rep"),
        col("s.checksum").as("checksum_src"), col("r.checksum").as("checksum_rep"),
        when(col("s.n") =!= col("r.n"), lit("missing_rows"))
          .when(col("s.checksum") =!= col("r.checksum"), lit("corrupt"))
          .otherwise(lit("ok")).as("status"))
      .orderBy(col("bucket"))
  }

  val eTableChecksumSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micro,
       |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $UsPerDay AS day
       |  FROM orders),
       |src AS (
       |  SELECT o_orderkey % $ChecksumBuckets AS bucket, COUNT(*) AS n,
       |    CAST(SUM(CAST(CAST(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey, micro, o_orderstatus, o_orderpriority, day)), 1, 15)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
       |  FROM base GROUP BY 1),
       |rep AS (
       |  SELECT o_orderkey % $ChecksumBuckets AS bucket, COUNT(*) AS n,
       |    CAST(SUM(CAST(CAST(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
       |      CASE WHEN o_orderkey % 1009 = 0 THEN micro + 1 ELSE micro END,
       |      o_orderstatus, o_orderpriority, day)), 1, 15)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
       |  FROM base WHERE o_orderkey % 2003 <> 1 GROUP BY 1)
       |SELECT COALESCE(s.bucket, r.bucket) AS bucket,
       |  s.n AS n_src, r.n AS n_rep,
       |  s.checksum AS checksum_src, r.checksum AS checksum_rep,
       |  CASE WHEN s.n <> r.n THEN 'missing_rows'
       |       WHEN s.checksum <> r.checksum THEN 'corrupt'
       |       ELSE 'ok' END AS status
       |FROM src s FULL OUTER JOIN rep r ON s.bucket = r.bucket
       |ORDER BY bucket""".stripMargin

  // --------------------------------------------------------- e_type_infer

  /** e_type_infer: INGESTION TYPE INFERENCE on a stringified feed — the
    * first decision a schema-on-read pipeline makes about a CSV-ish
    * delivery: per column, regex votes over every non-null value decide
    * bigint / decimal / date / text, with ANY non-conforming value
    * demoting the column (the all-match rule — one 'N/A' sentinel makes
    * a column text, which is exactly the bug silent best-effort casting
    * hides). The feed is derived from orders with five characteristic
    * columns: a pure integer, free text, an ISO date, an integer column
    * polluted by a sentinel, and a constructed decimal with planted
    * NULLs (engine-stable digits — never a raw double's VARCHAR form).
    *
    * Scale shape: one narrow stack/unpivot projection + ONE map-side-
    * partial aggregation keyed by column name; output is |cols| fixed
    * rows. Regex classes are literal and RE2-and-Java-identical. */
  def eTypeInfer(s: SparkSession, dir: String): DataFrame = {
    val micro = "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    val feed = Tables.orders(s, dir).selectExpr(
      "CAST(o_orderkey AS STRING) AS c_order_key",
      "o_orderpriority AS c_priority",
      "date_format(CAST(o_orderdate AS TIMESTAMP), 'yyyy-MM-dd') AS c_order_date",
      "CASE WHEN o_orderkey % 5 = 0 THEN 'N/A' ELSE CAST(o_custkey AS STRING) END AS c_cust",
      s"CASE WHEN o_orderkey % 13 = 2 THEN NULL ELSE concat(CAST($micro div 1000000 AS STRING), '.', lpad(CAST($micro % 1000000 AS STRING), 6, '0')) END AS c_amount")
    val long_ = feed.selectExpr(
      """stack(5,
        |  'c_order_key', c_order_key, 'c_priority', c_priority,
        |  'c_order_date', c_order_date, 'c_cust', c_cust,
        |  'c_amount', c_amount) AS (col_name, v)""".stripMargin)
    long_.groupBy(col("col_name")).agg(
        count(lit(1)).as("n"),
        sum(when(col("v").isNull || col("v") === "", 1L).otherwise(0L)).as("n_null"),
        sum(when(col("v").rlike("^[0-9]+$"), 1L).otherwise(0L)).as("n_int"),
        sum(when(col("v").rlike("^[0-9]+\\.[0-9]+$"), 1L).otherwise(0L)).as("n_dec"),
        sum(when(col("v").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"), 1L).otherwise(0L)).as("n_date"))
      .withColumn("inferred",
        when(col("n") === col("n_null"), lit("unknown"))
          .when(col("n_int") === col("n") - col("n_null"), lit("bigint"))
          .when(col("n_int") + col("n_dec") === col("n") - col("n_null"), lit("decimal"))
          .when(col("n_date") === col("n") - col("n_null"), lit("date"))
          .otherwise(lit("text")))
      .orderBy(col("col_name"))
  }

  val eTypeInferSql: String =
    """WITH feed AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS c_order_key,
      |    o_orderpriority AS c_priority,
      |    strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS c_order_date,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'N/A' ELSE CAST(o_custkey AS VARCHAR) END AS c_cust,
      |    CASE WHEN o_orderkey % 13 = 2 THEN NULL ELSE
      |      CAST(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) // 1000000 AS VARCHAR)
      |      || '.' ||
      |      lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) % 1000000 AS VARCHAR), 6, '0')
      |    END AS c_amount
      |  FROM orders),
      |l AS (
      |  SELECT 'c_order_key' AS col_name, c_order_key AS v FROM feed
      |  UNION ALL SELECT 'c_priority', c_priority FROM feed
      |  UNION ALL SELECT 'c_order_date', c_order_date FROM feed
      |  UNION ALL SELECT 'c_cust', c_cust FROM feed
      |  UNION ALL SELECT 'c_amount', c_amount FROM feed)
      |SELECT col_name, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN v IS NULL OR v = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  CAST(SUM(CASE WHEN regexp_full_match(v, '[0-9]+') THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
      |  CAST(SUM(CASE WHEN regexp_full_match(v, '[0-9]+\.[0-9]+') THEN 1 ELSE 0 END) AS BIGINT) AS n_dec,
      |  CAST(SUM(CASE WHEN regexp_full_match(v, '[0-9]{4}-[0-9]{2}-[0-9]{2}') THEN 1 ELSE 0 END) AS BIGINT) AS n_date,
      |  CASE WHEN COUNT(*) = SUM(CASE WHEN v IS NULL OR v = '' THEN 1 ELSE 0 END) THEN 'unknown'
      |       WHEN SUM(CASE WHEN regexp_full_match(v, '[0-9]+') THEN 1 ELSE 0 END) = COUNT(*) - SUM(CASE WHEN v IS NULL OR v = '' THEN 1 ELSE 0 END) THEN 'bigint'
      |       WHEN SUM(CASE WHEN regexp_full_match(v, '[0-9]+') THEN 1 ELSE 0 END) + SUM(CASE WHEN regexp_full_match(v, '[0-9]+\.[0-9]+') THEN 1 ELSE 0 END) = COUNT(*) - SUM(CASE WHEN v IS NULL OR v = '' THEN 1 ELSE 0 END) THEN 'decimal'
      |       WHEN SUM(CASE WHEN regexp_full_match(v, '[0-9]{4}-[0-9]{2}-[0-9]{2}') THEN 1 ELSE 0 END) = COUNT(*) - SUM(CASE WHEN v IS NULL OR v = '' THEN 1 ELSE 0 END) THEN 'date'
      |       ELSE 'text' END AS inferred
      |FROM l GROUP BY col_name ORDER BY col_name""".stripMargin

  // --------------------------------------------------------------- e_mask

  /** e_mask: FORMAT-PRESERVING MASKING — the display-layer PII rule
    * (support tooling, logs, lower environments) beside e_pseudonymize's
    * join-preserving surrogates: phone numbers keep their separators and
    * last four digits, emails keep the first character of the local part
    * and the full domain. The OPERATOR is the generic regex (Java
    * lookahead/lookbehind — any phone/email shape masks correctly, not
    * just this feed's); the ORACLE builds the expected masked strings by
    * construction from the same derivation — so the generic mechanism is
    * checked against an independent formulation, the t_bpe_train
    * cross-check pattern.
    *
    * Scale shape: pure narrow maps riding the scan; nothing shuffles
    * before the presentation sort. */
  def eMask(s: SparkSession, dir: String): DataFrame = {
    val phone = concat(lit("+1-"),
      lpad(((col("c_custkey") * 7) % 900 + 100).cast("string"), 3, "0"), lit("-"),
      lpad(((col("c_custkey") * 13) % 10000).cast("string"), 4, "0"))
    val email = concat(lit("user"), col("c_custkey").cast("string"), lit("@example.com"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), phone.as("phone"), email.as("email"))
      // mask every digit that still has ≥4 digits after it; keep separators
      .withColumn("phone_masked",
        regexp_replace(col("phone"), "\\d(?=(?:\\D*\\d){4})", "X"))
      // mask the local part after its first character
      .withColumn("email_masked",
        regexp_replace(col("email"), "(?<=.)[^@](?=[^@]*@)", "*"))
      .orderBy(col("c_custkey"))
  }

  val eMaskSql: String =
    """SELECT c_custkey,
      |  '+1-' || lpad(CAST((c_custkey * 7) % 900 + 100 AS VARCHAR), 3, '0') || '-'
      |        || lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0') AS phone,
      |  'user' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email,
      |  '+X-XXX-' || lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0') AS phone_masked,
      |  'u' || repeat('*', length('user' || CAST(c_custkey AS VARCHAR)) - 1)
      |      || '@example.com' AS email_masked
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------ io_mor_roundtrip

  /** io_mor_roundtrip: MERGE-ON-READ — the Iceberg/Delta deletion-vector
    * pattern under the oracle: an upsert against an immutable base layout
    * writes only a small EQUALITY-DELETE file (the superseded keys) and an
    * APPEND file (the replacement rows); readers compose
    * base ANTI-JOIN deletes UNION ALL appends at scan time, and the base
    * files are NEVER rewritten (the write-amplification trade every
    * lakehouse table format makes for fast upserts; compaction folds the
    * deltas in later — Writers.compact's job). The gate upserts a derived
    * revision (key % 97 == 3 rows get a +1 micro-unit price), reads
    * through the MoR view, aggregates per status, and must hash-match the
    * oracle applying the same revision logically.
    *
    * Scale shape: the delete set BROADCASTS into the base scan (an
    * anti-join on the key — at 100 TB a bloom of the delete keys prunes
    * row groups first); appends are file-append-only. One aggregation. */
  def ioMorRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d18 = DecimalType(18, 6)
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").cast(d18).as("price"))
    val root = s"/tmp/graft_mor_${Integer.toHexString(dir.hashCode)}"
    base.write.mode("overwrite").parquet(s"$root/base")
    val hot = col("k") % 97 === 3
    base.filter(hot).select(col("k"))
      .write.mode("overwrite").parquet(s"$root/deletes")
    base.filter(hot)
      .select(col("k"), col("status"), (col("price") + lit(1)).cast(d18).as("price"))
      .write.mode("overwrite").parquet(s"$root/appends")
    val b = s.read.parquet(s"$root/base")
    val del = s.read.parquet(s"$root/deletes")
    val app = s.read.parquet(s"$root/appends")
    val morView = b.join(broadcast(del), Seq("k"), "left_anti").unionByName(app)
    morView.groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast(DoubleType).as("revenue"))
      .orderBy(col("status"))
  }

  val ioMorRoundtripSql: String =
    """WITH rev AS (
      |  SELECT o_orderstatus AS status,
      |    CASE WHEN o_orderkey % 97 = 3
      |         THEN CAST(CAST(o_totalprice AS DECIMAL(18,6)) + 1 AS DECIMAL(18,6))
      |         ELSE CAST(o_totalprice AS DECIMAL(18,6)) END AS price
      |  FROM orders)
      |SELECT status, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS revenue
      |FROM rev GROUP BY status ORDER BY status""".stripMargin

  // --------------------------------------------------------- e_scd2_compact

  /** e_scd2_compact: SCD2 HISTORY COMPACTION — the warehouse maintenance
    * job that keeps slowly-changing dimensions readable: when a feed
    * re-delivers unchanged attributes, naive SCD2 accretes adjacent
    * versions with IDENTICAL attribute values; compaction merges each
    * run of equal consecutive versions into one validity interval
    * (first start, last end, merge count) — semantically lossless, and
    * the read-side point lookups get proportionally cheaper. The version
    * stream derives from each customer's orders (attribute = order
    * priority; consecutive same-priority orders are the redundant
    * versions), and the run key is the gaps-and-islands difference of
    * two row numbers over ONE entity-keyed sort.
    *
    * Scale shape: both windows AND the run-collapse aggregation ride a
    * single c_custkey-keyed shuffle (supersets of the partition key);
    * output is run-bounded. */
  def eScd2Compact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $UsPerDay")
    val v = Tables.orders(s, dir)
      .select(col("o_custkey").as("custkey"), days.as("day"),
        col("o_orderkey").as("okey"), col("o_orderpriority").as("attr"))
    val wAll = Window.partitionBy(col("custkey")).orderBy(col("day"), col("okey"))
    val wAttr = Window.partitionBy(col("custkey"), col("attr")).orderBy(col("day"), col("okey"))
    v.withColumn("grp", row_number().over(wAll) - row_number().over(wAttr))
      .groupBy(col("custkey"), col("attr"), col("grp"))
      .agg(min(col("day")).as("valid_from_day"), max(col("day")).as("valid_to_day"),
        count(lit(1)).as("n_merged"))
      .select(col("custkey").as("c_custkey"), col("attr").as("priority"),
        col("valid_from_day"), col("valid_to_day"), col("n_merged"))
      .orderBy(col("c_custkey"), col("valid_from_day"), col("valid_to_day"),
        col("priority"), col("n_merged"))
  }

  val eScd2CompactSql: String =
    s"""WITH v AS (
       |  SELECT o_custkey AS k,
       |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $UsPerDay AS day,
       |    o_orderkey AS okey, o_orderpriority AS attr
       |  FROM orders),
       |g AS (
       |  SELECT k, attr, day,
       |    row_number() OVER (PARTITION BY k ORDER BY day, okey)
       |      - row_number() OVER (PARTITION BY k, attr ORDER BY day, okey) AS grp
       |  FROM v)
       |SELECT k AS c_custkey, attr AS priority,
       |  MIN(day) AS valid_from_day, MAX(day) AS valid_to_day, COUNT(*) AS n_merged
       |FROM g GROUP BY k, attr, grp
       |ORDER BY c_custkey, valid_from_day, valid_to_day, priority, n_merged""".stripMargin

  // -------------------------------------------------------- e_json_validate

  /** e_json_validate: SEMI-STRUCTURED PAYLOAD validation — the ingest
    * contract check for JSON event payloads, one level below
    * e_expectations' column checks: is the payload parseable JSON at
    * all, does the required key exist, is its value the required type.
    * Three fault classes are PLANTED on disjoint modular slices
    * (truncated JSON at %13, wrong-typed value at %11, missing key at
    * %7 — derived identically in the oracle) so every rule fires every
    * run. Type checking is try_cast (never ANSI-throwing cast — one bad
    * row must not abort the audit).
    *
    * Scale shape: ONE narrow projection evaluates all rules + one
    * map-side-partial aggregation to a single report row. */
  def eJsonValidate(s: SparkSession, dir: String): DataFrame = {
    val payload = when(col("event_id") % 13 === 0, lit("{\"k\": "))
      .when(col("event_id") % 11 === 0, lit("{\"k\": \"x\"}"))
      .when(col("event_id") % 7 === 0, lit("{}"))
      .otherwise(col("props"))
    Tables.events(s, dir)
      .withColumn("p", payload)
      .select(
        (get_json_object(col("p"), "$").isNotNull).as("parseable"),
        (get_json_object(col("p"), "$.k").isNotNull).as("has_k"),
        (expr("try_cast(get_json_object(p, '$.k') AS INT)").isNotNull).as("k_is_int"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(!col("parseable"), 1L).otherwise(0L)).as("n_unparseable"),
        sum(when(col("parseable") && !col("has_k"), 1L).otherwise(0L)).as("n_missing_key"),
        sum(when(col("has_k") && !col("k_is_int"), 1L).otherwise(0L)).as("n_wrong_type"),
        sum(when(col("k_is_int"), 1L).otherwise(0L)).as("n_valid"))
  }

  val eJsonValidateSql: String =
    """WITH p AS (
      |  SELECT CASE WHEN event_id % 13 = 0 THEN '{"k": '
      |              WHEN event_id % 11 = 0 THEN '{"k": "x"}'
      |              WHEN event_id % 7 = 0 THEN '{}'
      |              ELSE props END AS p
      |  FROM events),
      |g AS (
      |  -- vectorized json_extract would throw on malformed rows even under
      |  -- a CASE guard; substitute a valid empty object before extraction
      |  SELECT json_valid(p) AS parseable,
      |    CASE WHEN json_valid(p) THEN p ELSE '{}' END AS p2
      |  FROM p),
      |f AS (
      |  SELECT parseable,
      |    parseable AND json_extract_string(p2, '$.k') IS NOT NULL AS has_k,
      |    TRY_CAST(json_extract_string(p2, '$.k') AS INT) IS NOT NULL AS k_is_int
      |  FROM g)
      |SELECT COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN NOT parseable THEN 1 ELSE 0 END) AS BIGINT) AS n_unparseable,
      |  CAST(SUM(CASE WHEN parseable AND NOT has_k THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_key,
      |  CAST(SUM(CASE WHEN has_k AND NOT k_is_int THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_type,
      |  CAST(SUM(CASE WHEN k_is_int THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
      |FROM f""".stripMargin

  // ------------------------------------------------------------ e_hash_ring

  private val RingNodes = 8
  private val RingVnodes = 16

  /** e_hash_ring: CONSISTENT-HASHING placement audit — the data-placement
    * math behind shard rebalancing (and the reason adding a node moves
    * ~1/(N+1) of the keys instead of reshuffling everything, unlike
    * `key mod N`): 8 nodes × 16 vnodes hash onto a 2^60 ring, every
    * customer key routes to the first vnode clockwise, then a 9th node
    * joins and the gate reports per-node populations before/after plus
    * the moved-key share. The clockwise pick is ONE min_by over the
    * broadcast 144-row ring with a scalar composite order key
    * (wrap-flag·2^61 + position) — no window, no per-key sort.
    *
    * Scale shape: keys never shuffle for routing (broadcast ring, the
    * assignment collapses map-side); two |nodes|-row rollups + a 1-row
    * moved count. */
  /** The pre-checkpoint routing stage — exposed so PlanSpec can pin the
    * broadcast-ring + map-side-min_by shape the checkpoint otherwise
    * truncates out of the published plan (the mutualKnnEdges pattern). */
  private[graft] def eHashRingAssign(s: SparkSession, dir: String): DataFrame = {
    val wrapPenalty = 2305843009213693952L // 2^61 > any 60-bit ring position
    def ring(n: Int): DataFrame = {
      import s.implicits._
      (0 until n).flatMap(i => (0 until RingVnodes).map(v => (i.toLong, s"node$i:$v")))
        .toDF("node", "vk")
        .select(col("node"),
          conv(substring(md5(col("vk")), 1, 15), 16, 10).cast("long").as("pos"))
    }
    val keys = Tables.customer(s, dir)
      .select(col("c_custkey"),
        conv(substring(md5(col("c_custkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
    // ONE pass over one broadcast table carrying BOTH rings (the 8-node
    // ring is a prefix of the 9-node one, tagged by the smallest ring
    // that contains the vnode): each assignment is a min_by whose order
    // key penalizes vnodes outside its ring past any real position —
    // half the scan work of two independent assignment passes
    val rings = ring(RingNodes).withColumn("min_ring", lit(8))
      .unionByName(ring(RingNodes + 1).filter(col("node") === RingNodes)
        .withColumn("min_ring", lit(9)))
    val outside = lit(4611686018427387904L) // 2^62 > wrapPenalty + any position
    keys.crossJoin(broadcast(rings))
      .withColumn("okey",
        when(col("pos") >= col("h"), col("pos"))
          .otherwise(col("pos") + wrapPenalty))
      .groupBy(col("c_custkey"))
      .agg(
        min_by(col("node"), col("okey") +
          when(col("min_ring") > 8, outside).otherwise(lit(0L))).as("n8"),
        min_by(col("node"), col("okey")).as("n9"))
  }

  def eHashRing(s: SparkSession, dir: String): DataFrame = {
    // cache, not localCheckpoint: the assignment is one cheap fold and the
    // three rollups reuse the in-memory blocks without a materialization job
    val both = eHashRingAssign(s, dir).cache()
    val moved = both.agg(
      sum(when(col("n8") =!= col("n9"), 1L).otherwise(0L)).as("n_moved"),
      count(lit(1)).as("n_keys"))
    val before = both.groupBy(col("n8").as("node")).agg(count(lit(1)).as("n_before"))
    val after = both.groupBy(col("n9").as("node")).agg(count(lit(1)).as("n_after"))
    after.join(before, Seq("node"), "left")
      .crossJoin(broadcast(moved))
      .select(col("node"), col("n_before"), col("n_after"),
        col("n_moved"),
        (col("n_moved").cast(DoubleType) / col("n_keys").cast(DoubleType))
          .as("moved_share"))
      .orderBy(col("node"))
  }

  val eHashRingSql: String =
    s"""WITH r8 AS (
       |  SELECT i AS node, ('0x' || substr(md5('node' || CAST(i AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 15))::BIGINT AS pos
       |  FROM (SELECT unnest(range($RingNodes)) AS i) ni, (SELECT unnest(range($RingVnodes)) AS v) nv),
       |r9 AS (
       |  SELECT i AS node, ('0x' || substr(md5('node' || CAST(i AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 15))::BIGINT AS pos
       |  FROM (SELECT unnest(range(${RingNodes + 1})) AS i) ni, (SELECT unnest(range($RingVnodes)) AS v) nv),
       |keys AS (
       |  SELECT c_custkey, ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM customer),
       |a8 AS (
       |  SELECT c_custkey, MIN_BY(node, CASE WHEN pos >= h THEN pos ELSE pos + 2305843009213693952 END) AS n8
       |  FROM keys, r8 GROUP BY c_custkey),
       |a9 AS (
       |  SELECT c_custkey, MIN_BY(node, CASE WHEN pos >= h THEN pos ELSE pos + 2305843009213693952 END) AS n9
       |  FROM keys, r9 GROUP BY c_custkey),
       |b AS (SELECT a8.c_custkey, n8, n9 FROM a8 JOIN a9 ON a8.c_custkey = a9.c_custkey),
       |mv AS (SELECT CAST(SUM(CASE WHEN n8 <> n9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved, COUNT(*) AS n_keys FROM b),
       |bef AS (SELECT n8 AS node, COUNT(*) AS n_before FROM b GROUP BY 1),
       |aft AS (SELECT n9 AS node, COUNT(*) AS n_after FROM b GROUP BY 1)
       |SELECT aft.node, bef.n_before, aft.n_after, mv.n_moved,
       |  CAST(mv.n_moved AS DOUBLE) / CAST(mv.n_keys AS DOUBLE) AS moved_share
       |FROM aft LEFT JOIN bef ON bef.node = aft.node, mv
       |ORDER BY aft.node""".stripMargin

  // ------------------------------------------------------------ e_key_infer

  /** e_key_infer: CANDIDATE-KEY discovery — e_type_infer's sibling on the
    * constraint side: which columns (or combinations) are unique over the
    * delivered feed, the decision an ingest pipeline needs before it can
    * pick a merge key (guessing wrong turns upserts into cross-joins or
    * silent overwrites). Each candidate's distinct count rides ONE
    * aggregation pass (multi-distinct Expand — at 100 TB swap the exact
    * counts for approx_count_distinct and verify only the survivors
    * exactly, the e_profile toggle); verdict = n_distinct == n_rows.
    * Output long-form via stack: |candidates| fixed rows. */
  def eKeyInfer(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.orders(s, dir).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("o_orderkey")).as("d_orderkey"),
      countDistinct(col("o_custkey")).as("d_custkey"),
      countDistinct(col("o_custkey"), col("o_orderdate")).as("d_cust_date"),
      countDistinct(col("o_orderstatus"), col("o_orderpriority")).as("d_status_prio"))
    wide.selectExpr(
        """stack(4,
          |  'o_orderkey', d_orderkey,
          |  'o_custkey', d_custkey,
          |  'o_custkey+o_orderdate', d_cust_date,
          |  'o_orderstatus+o_orderpriority', d_status_prio) AS (candidate, n_distinct)""".stripMargin,
        "n_rows")
      .withColumn("is_key", col("n_distinct") === col("n_rows"))
      .orderBy(col("candidate"))
  }

  val eKeyInferSql: String =
    """WITH w AS (
      |  SELECT COUNT(*) AS n_rows,
      |    COUNT(DISTINCT o_orderkey) AS d_orderkey,
      |    COUNT(DISTINCT o_custkey) AS d_custkey,
      |    COUNT(DISTINCT (o_custkey, o_orderdate)) AS d_cust_date,
      |    COUNT(DISTINCT (o_orderstatus, o_orderpriority)) AS d_status_prio
      |  FROM orders),
      |l AS (
      |  SELECT 'o_orderkey' AS candidate, d_orderkey AS n_distinct, n_rows FROM w
      |  UNION ALL SELECT 'o_custkey', d_custkey, n_rows FROM w
      |  UNION ALL SELECT 'o_custkey+o_orderdate', d_cust_date, n_rows FROM w
      |  UNION ALL SELECT 'o_orderstatus+o_orderpriority', d_status_prio, n_rows FROM w)
      |SELECT candidate, n_distinct, n_rows, n_distinct = n_rows AS is_key
      |FROM l ORDER BY candidate""".stripMargin

  // ------------------------------------------------------------ e_hash_chain

  /** e_hash_chain: TAMPER-EVIDENT hash chaining — the append-only audit-log
    * integrity check (each record's hash folds the previous record's
    * hash, so editing ANY historical row changes every chain head after
    * it — the blockchain-lite pattern compliance logs use): per customer,
    * the chain head over their orders in (day, orderkey) sequence,
    * computed on both the source and a replica with ONE tampered order
    * (orderkey % 1009 == 0 gets a +1 micro-unit price); a chain mismatch
    * convicts the entire customer's history while per-row hashes would
    * need row-by-row comparison. The fold runs as an in-row array
    * aggregate over the customer's collected, sorted order list —
    * per-entity state bounded by that entity's history.
    *
    * Scale shape: ONE customer-keyed aggregation per side (collect +
    * in-row fold — no iterative joins); the diff join carries
    * |customers| (key, chain) pairs. */
  def eHashChain(s: SparkSession, dir: String): DataFrame = {
    val micro = "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    def side(tampered: Boolean): DataFrame = {
      val m = if (tampered)
        s"CASE WHEN o_orderkey % 1009 = 0 THEN $micro + 1 ELSE $micro END"
      else micro
      Tables.orders(s, dir)
        .selectExpr("o_custkey", "o_orderkey",
          s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $UsPerDay AS day",
          s"concat_ws('|', o_orderkey, $m, o_orderstatus) AS payload")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), expr(
          """aggregate(
            |  transform(array_sort(collect_list(struct(day, o_orderkey, payload))),
            |            r -> r.payload),
            |  'genesis', (acc, x) -> md5(concat(acc, x)))""".stripMargin).as("chain"))
    }
    side(tampered = false).as("s")
      .join(side(tampered = true)
        .select(col("o_custkey"), col("chain").as("chain_rep")), "o_custkey")
      .select(col("o_custkey"), col("n_orders"), col("chain"),
        (col("chain") === col("chain_rep")).as("chain_intact"))
      .orderBy(col("o_custkey"))
  }

  val eHashChainSql: String =
    s"""WITH base AS (
       |  SELECT o_custkey, o_orderkey,
       |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $UsPerDay AS day,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micro,
       |    o_orderstatus FROM orders),
       |src AS (
       |  SELECT o_custkey, COUNT(*) AS n_orders,
       |    list_reduce(
       |      list_prepend('genesis',
       |        list_transform(
       |          list_sort(list((day, o_orderkey, concat_ws('|', o_orderkey, micro, o_orderstatus)))),
       |          r -> r[3])),
       |      (acc, x) -> md5(acc || x)) AS chain
       |  FROM base GROUP BY o_custkey),
       |rep AS (
       |  SELECT o_custkey,
       |    list_reduce(
       |      list_prepend('genesis',
       |        list_transform(
       |          list_sort(list((day, o_orderkey, concat_ws('|', o_orderkey,
       |            CASE WHEN o_orderkey % 1009 = 0 THEN micro + 1 ELSE micro END, o_orderstatus)))),
       |          r -> r[3])),
       |      (acc, x) -> md5(acc || x)) AS chain_rep
       |  FROM base GROUP BY o_custkey)
       |SELECT s.o_custkey, s.n_orders, s.chain, s.chain = r.chain_rep AS chain_intact
       |FROM src s JOIN rep r ON r.o_custkey = s.o_custkey
       |ORDER BY s.o_custkey""".stripMargin

  // ----------------------------------------------------------- e_hwm_extract

  /** e_hwm_extract: HIGH-WATER-MARK incremental extraction — the
    * "WHERE updated_at > :last_mark" pattern every CDC-less source system
    * is ingested by, PROVEN rather than assumed: two consecutive extracts
    * windowed by order-date marks must partition the table — counts add
    * up AND the order-invariant checksums (e_table_checksum's md5-int64
    * decimal sums) recompose to the full table's, so overlap or loss at
    * the boundary (the classic ≥-vs-> off-by-one) is caught by value, not
    * just by count. Output: one row per extract window + the recomposed
    * union vs the full-table truth.
    *
    * Scale shape: each extract is one filtered scan + a map-side-partial
    * checksum agg to ONE row; the recomposition adds 3-row arithmetic. */
  def eHwmExtract(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val day = expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $UsPerDay")
    val base = Tables.orders(s, dir)
      .select(day.as("day"),
        conv(substring(md5(concat_ws("|", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"))), 1, 15), 16, 10).cast("long").as("h"))
    // integer div, not /2-then-cast: double division + CAST rounds
    // half-even in DuckDB but truncates in Spark — the classic boundary
    // off-by-one this gate exists to catch
    val mark = base.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .selectExpr("(d0 + d1) div 2 AS t1")
    val marked = base.crossJoin(broadcast(mark))
    def window(name: String, cond: Column): DataFrame =
      marked.filter(cond).agg(count(lit(1)).as("n"), sum(col("h").cast(d38)).as("cs"))
        .select(lit(name).as("extract"), col("n"), col("cs"))
    val e1 = window("w1_upto_mark", col("day") <= col("t1"))
    val e2 = window("w2_after_mark", col("day") > col("t1"))
    val full = window("full_table", lit(true))
    val union = e1.as("a").crossJoin(e2.as("b"))
      .select(lit("w1_plus_w2").as("extract"),
        (col("a.n") + col("b.n")).as("n"),
        (col("a.cs") + col("b.cs")).cast(d38).as("cs"))
    e1.unionByName(e2).unionByName(union).unionByName(full)
      .select(col("extract"), col("n"), col("cs").cast("string").as("checksum"))
      .orderBy(col("extract"))
  }

  val eHwmExtractSql: String =
    s"""WITH base AS (
       |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $UsPerDay AS day,
       |    CAST(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus)), 1, 15)) AS BIGINT) AS h
       |  FROM orders),
       |mk AS (SELECT (MIN(day) + MAX(day)) // 2 AS t1 FROM base),
       |e1 AS (SELECT 'w1_upto_mark' AS extract, COUNT(*) AS n,
       |         SUM(CAST(h AS DECIMAL(38,0))) AS cs FROM base, mk WHERE day <= t1),
       |e2 AS (SELECT 'w2_after_mark' AS extract, COUNT(*) AS n,
       |         SUM(CAST(h AS DECIMAL(38,0))) AS cs FROM base, mk WHERE day > t1),
       |fl AS (SELECT 'full_table' AS extract, COUNT(*) AS n,
       |         SUM(CAST(h AS DECIMAL(38,0))) AS cs FROM base),
       |un AS (SELECT 'w1_plus_w2' AS extract, e1.n + e2.n AS n,
       |         CAST(e1.cs + e2.cs AS DECIMAL(38,0)) AS cs FROM e1, e2)
       |SELECT extract, n, CAST(cs AS VARCHAR) AS checksum FROM (
       |  SELECT * FROM e1 UNION ALL SELECT * FROM e2
       |  UNION ALL SELECT * FROM un UNION ALL SELECT * FROM fl)
       |ORDER BY extract""".stripMargin

  // ------------------------------------------------------------ e_dq_score

  /** e_dq_score: the composite DATA-QUALITY SCORECARD — the one-screen
    * per-table health line a pipeline dashboard shows, rolling the
    * individual check families (e_check_unique's key duplication,
    * e_check_fk / e_fk_orphans' referential integrity, e_validate's null
    * discipline) into comparable rates and one 0–100 score per table.
    * The synthetic lineitem's non-unique (l_orderkey, l_linenumber) makes
    * the duplicate term fire for real (the dup_rows count is the known
    * data wart the gotcha list documents).
    *
    * Parity: every metric is an exact count; rates and the score are
    * x6-pinned chains. score = 100·(1 − (dup_rate + orphan_rate +
    * null_rate)/3).
    *
    * Scale shape: per table ONE distinct-key aggregation (the dominant
    * cost, map-side partial), one broadcast-able/left-anti FK probe
    * against the parent KEY SET (a ≤|parent-keys| frame — at 100 TB this
    * is the bloom-filter probe e_check_fk documents), and a narrow null
    * scan; the union is 3 rows. */
  def eDqScore(s: SparkSession, dir: String): DataFrame = {
    def score(dup: Column, orph: Column, nul: Column, n: Column): Column = {
      // raw chains over exact counts (r14 un-pin), mirrored in the oracle
      val d = dup.cast(DoubleType) / n.cast(DoubleType)
      val o = orph.cast(DoubleType) / n.cast(DoubleType)
      val u = nul.cast(DoubleType) / n.cast(DoubleType)
      lit(100.0) * (lit(1.0) - (d + o + u) / lit(3.0))
    }
    val cust = Tables.customer(s, dir).agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - countDistinct(col("c_custkey"))).as("dup_rows"),
      lit(0L).as("orphan_rows"),
      sum(when(col("c_name").isNull || col("c_mktsegment").isNull ||
        col("c_acctbal").isNull, 1L).otherwise(0L)).as("null_rows"))
      .select(lit("customer").as("table_name"), col("*"))
    val custKeys = Tables.customer(s, dir).select(col("c_custkey")).distinct()
    val ordOrph = Tables.orders(s, dir)
      // no broadcast hint: the parent KEY SET is table-sized — planner
      // stats / AQE decide (at 100 TB this probe becomes the bloom
      // pre-filter e_check_fk documents, not a forced broadcast)
      .join(custKeys, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_rows"))
    val ord = Tables.orders(s, dir).agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_rows"),
      sum(when(col("o_orderstatus").isNull || col("o_totalprice").isNull ||
        col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_rows"))
      .crossJoin(broadcast(ordOrph))
      .select(lit("orders").as("table_name"), col("n_rows"), col("dup_rows"),
        col("orphan_rows"), col("null_rows"))
    val ordKeys = Tables.orders(s, dir).select(col("o_orderkey")).distinct()
    val liOrph = Tables.lineitem(s, dir)
      .join(ordKeys, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_rows"))
    val li = Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n_rows"),
      // COALESCE sentinel: Spark's multi-col countDistinct SKIPS rows with
      // any NULL key while DuckDB's COUNT(DISTINCT (a, b)) counts the
      // row-struct including NULL fields — a NULL key would silently break
      // parity in the gate whose job is surfacing data warts. Keys are
      // positive in the feed, so -1 cannot collide.
      (count(lit(1)) - countDistinct(coalesce(col("l_orderkey"), lit(-1L)),
        coalesce(col("l_linenumber"), lit(-1)))).as("dup_rows"),
      sum(when(col("l_quantity").isNull || col("l_extendedprice").isNull ||
        col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_rows"))
      .crossJoin(broadcast(liOrph))
      .select(lit("lineitem").as("table_name"), col("n_rows"), col("dup_rows"),
        col("orphan_rows"), col("null_rows"))
    cust.unionByName(ord).unionByName(li)
      .withColumn("dq_score",
        score(col("dup_rows"), col("orphan_rows"), col("null_rows"), col("n_rows")))
      .orderBy(col("table_name"))
  }

  val eDqScoreSql: String = {
    def block(table: String, nExpr: String, dupExpr: String, orphExpr: String,
        nullExpr: String) =
      s"""SELECT '$table' AS table_name, $nExpr AS n_rows, $dupExpr AS dup_rows,
         |  $orphExpr AS orphan_rows, CAST($nullExpr AS BIGINT) AS null_rows FROM $table""".stripMargin
    val cust = block("customer", "COUNT(*)", "COUNT(*) - COUNT(DISTINCT c_custkey)",
      "CAST(0 AS BIGINT)",
      "SUM(CASE WHEN c_name IS NULL OR c_mktsegment IS NULL OR c_acctbal IS NULL THEN 1 ELSE 0 END)")
    val ord = block("orders", "COUNT(*)", "COUNT(*) - COUNT(DISTINCT o_orderkey)",
      "(SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))",
      "SUM(CASE WHEN o_orderstatus IS NULL OR o_totalprice IS NULL OR o_orderdate IS NULL THEN 1 ELSE 0 END)")
    val li = block("lineitem", "COUNT(*)",
      "COUNT(*) - COUNT(DISTINCT (COALESCE(l_orderkey, -1), COALESCE(l_linenumber, -1)))",
      "(SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))",
      "SUM(CASE WHEN l_quantity IS NULL OR l_extendedprice IS NULL OR l_shipdate IS NULL THEN 1 ELSE 0 END)")
    val d = "CAST(dup_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)"
    val o = "CAST(orphan_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)"
    val u = "CAST(null_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)"
    s"""WITH t AS ($cust UNION ALL $ord UNION ALL $li)
       |SELECT table_name, n_rows, dup_rows, orphan_rows, null_rows,
       |  100.0 * (1.0 - ($d + $o + $u) / 3.0) AS dq_score
       |FROM t ORDER BY table_name""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("e_hwm_extract", eHwmExtract _, eHwmExtractSql),
    Gate("e_hash_chain", eHashChain _, eHashChainSql),
    Gate("e_key_infer", eKeyInfer _, eKeyInferSql),
    Gate("e_hash_ring", eHashRing _, eHashRingSql),
    Gate("e_json_validate", eJsonValidate _, eJsonValidateSql),
    Gate("e_table_checksum", eTableChecksum _, eTableChecksumSql),
    Gate("e_type_infer", eTypeInfer _, eTypeInferSql),
    Gate("e_mask", eMask _, eMaskSql),
    Gate("io_mor_roundtrip", ioMorRoundtrip _, ioMorRoundtripSql),
    Gate("e_scd2_compact", eScd2Compact _, eScd2CompactSql),
    Gate("e_dq_score", eDqScore _, eDqScoreSql),
  )
}
