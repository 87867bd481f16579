package graft.sources

import java.sql.{Connection, DriverManager, PreparedStatement}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._

/** Staged JDBC upsert sink — the reference's write path, Spark-first.
  *
  * The reference stages every batch into staging tables and upserts into the
  * target inside a transaction. On a cluster that becomes:
  *
  *  1. `stage()` — executors write partitions in parallel into a staging
  *     table per target (plain batched INSERTs, one connection per
  *     partition, no driver collect); every table stages concurrently;
  *  2. `mergeAllStagedAtomically()` — one driver-side MERGE statement per
  *     table, all on ONE connection in ONE transaction, moves staging into
  *     the targets (set-based, runs inside the database, transactional like
  *     the reference).
  *
  * `upsertAllViaStaging` runs both steps; it is the sink's only write path.
  *
  * DIALECTS: the staging/merge SQL goes through a [[Dialect]] seam. The
  * EXECUTED (spec-driven) path is embedded Derby — the JDBC engine that
  * ships with Spark; zero-egress holds. The reference's actual target is a
  * PostgreSQL result schema, so [[PostgresDialect]] generates the
  * equivalent statements (`INSERT ... ON CONFLICT (pk) DO UPDATE SET ...
  * WHERE changed`) with Postgres type names; JdbcUpsertSinkSpec pins both
  * dialects' generated SQL, and a deployment against Postgres only swaps
  * the dialect (plus the JDBC driver on the classpath).
  */
object JdbcUpsertSink {

  final case class Config(
      url: String,
      table: String,
      keyCols: Seq[String],
      dialect: Dialect = DerbyDialect)

  /** Rows per JDBC batch in a staging INSERT. */
  private final val BatchSize = 1000

  /** One table's staged-merge description (staging → target). */
  final case class MergeStep(staging: String, target: String,
      schema: StructType, keyCols: Seq[String])

  /** Target-database SQL generation: the only parts of the sink that are
    * engine-specific. Everything that EXECUTES SQL takes the dialect from
    * the Config / parameter; the staging INSERT/DELETE and the bind loop
    * are standard JDBC and shared. */
  sealed trait Dialect {
    def name: String
    /** Column type for CREATE TABLE. */
    def sqlType(dt: DataType): String
    /** The atomic staging→target upsert statement. */
    def mergeSql(st: MergeStep): String
    /** CREATE TABLE DDL for a dataframe's schema (target + staging). */
    final def ddl(table: String, schema: StructType, keyCols: Seq[String],
        extraCols: String = ""): String = {
      val cols = schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
      val pk = if (keyCols.nonEmpty) s", PRIMARY KEY (${keyCols.mkString(", ")})" else ""
      s"CREATE TABLE $table ($cols$extraCols$pk)"
    }
  }

  /** Embedded Derby — the executed/spec path. Standard SQL:2003 MERGE. */
  case object DerbyDialect extends Dialect {
    val name = "derby"
    def sqlType(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case _: DecimalType => "DECIMAL(18,6)"
      case StringType => "VARCHAR(1000)"
      case other => throw new IllegalArgumentException(s"unsupported JDBC sink type: $other")
    }
    def mergeSql(st: MergeStep): String = {
      val attrs = st.schema.fieldNames.filterNot(st.keyCols.contains)
      val on = st.keyCols.map(k => s"t.$k = s.$k").mkString(" AND ")
      val setClause = attrs.map(a => s"t.$a = s.$a").mkString(", ")
      val insCols = st.schema.fieldNames.mkString(", ")
      val insVals = st.schema.fieldNames.map(c => s"s.$c").mkString(", ")
      val matched = if (attrs.nonEmpty) s"WHEN MATCHED THEN UPDATE SET $setClause " else ""
      s"""MERGE INTO ${st.target} t USING ${st.staging} s ON $on
         |${matched}WHEN NOT MATCHED THEN INSERT ($insCols) VALUES ($insVals)""".stripMargin
    }
  }

  /** PostgreSQL — the reference's actual n2kresult target engine.
    * Generates `INSERT ... SELECT ... ON CONFLICT (pk) DO UPDATE SET ...
    * WHERE changed`: the conflict target rides the primary key the ddl()
    * declares, EXCLUDED carries the incoming row, and the IS DISTINCT
    * FROM guard skips no-op updates (no dead tuples / trigger storms when
    * a feed re-delivers unchanged rows — the reference's stamp-preserving
    * behavior). All-key link tables degrade to DO NOTHING. Generated-SQL
    * contract is spec-pinned; execution stays on Derby in this build. */
  case object PostgresDialect extends Dialect {
    val name = "postgres"
    def sqlType(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case DoubleType => "DOUBLE PRECISION"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case _: DecimalType => "NUMERIC(18,6)"
      case StringType => "TEXT"
      case other => throw new IllegalArgumentException(s"unsupported JDBC sink type: $other")
    }
    def mergeSql(st: MergeStep): String = {
      val attrs = st.schema.fieldNames.filterNot(st.keyCols.contains)
      val insCols = st.schema.fieldNames.mkString(", ")
      val conflict = st.keyCols.mkString(", ")
      val action =
        if (attrs.isEmpty) "DO NOTHING"
        else {
          val setClause = attrs.map(a => s"$a = EXCLUDED.$a").mkString(", ")
          val tTuple = attrs.map(a => s"${st.target}.$a").mkString(", ")
          val eTuple = attrs.map(a => s"EXCLUDED.$a").mkString(", ")
          s"DO UPDATE SET $setClause WHERE ($tTuple) IS DISTINCT FROM ($eTuple)"
        }
      s"""INSERT INTO ${st.target} ($insCols)
         |SELECT $insCols FROM ${st.staging}
         |ON CONFLICT ($conflict) $action""".stripMargin
    }
  }

  /** One setter per column of `schema`, binding that column of an
    * InternalRow to a statement parameter: primitives and strings read
    * straight off the row, every other type goes through Spark's
    * converter to the external value JDBC takes (Timestamp, Date,
    * BigDecimal). The writers read InternalRows (`queryExecution.toRdd`),
    * so no per-schema Row deserializer is generated and compiled, and no
    * row is boxed on its way to the database. */
  private def binders(schema: StructType): Array[(PreparedStatement, Int, InternalRow) => Unit] =
    schema.fields.zipWithIndex.map { case (f, field) =>
      val set: (PreparedStatement, Int, InternalRow) => Unit = f.dataType match {
        case LongType => (ps, i, r) => ps.setLong(i, r.getLong(field))
        case IntegerType => (ps, i, r) => ps.setInt(i, r.getInt(field))
        case DoubleType => (ps, i, r) => ps.setDouble(i, r.getDouble(field))
        case FloatType => (ps, i, r) => ps.setFloat(i, r.getFloat(field))
        case BooleanType => (ps, i, r) => ps.setBoolean(i, r.getBoolean(field))
        case StringType => (ps, i, r) => ps.setString(i, r.getUTF8String(field).toString)
        case dt =>
          val toScala = CatalystTypeConverters.createToScalaConverter(dt)
          (ps, i, r) => ps.setObject(i, toScala(r.get(field, dt)))
      }
      (ps: PreparedStatement, i: Int, r: InternalRow) =>
        if (r.isNullAt(field)) ps.setObject(i, null) else set(ps, i, r)
    }

  /** Executor-parallel batched INSERT of every partition into `table`
    * (staging step; table must exist and carry a `graft_part INT` column).
    *
    * Idempotent under task retry/speculation: each partition's transaction
    * first deletes its own prior rows (keyed by the stable partition id)
    * before inserting, so a re-executed attempt replaces instead of
    * duplicating — the staging table never holds duplicate source keys
    * when the single MERGE runs. */
  def stage(df: DataFrame, cfg: Config): Unit = {
    val schema = df.schema
    val colNames = schema.fieldNames.toSeq
    val insertSql =
      s"INSERT INTO ${cfg.table} (${colNames.mkString(", ")}, graft_part) " +
        s"VALUES (${colNames.map(_ => "?").mkString(", ")}, ?)"
    val deleteSql = s"DELETE FROM ${cfg.table} WHERE graft_part = ?"
    val url = cfg.url
    df.queryExecution.toRdd.foreachPartition { (rows: Iterator[InternalRow]) =>
      val part = org.apache.spark.TaskContext.getPartitionId()
      val bind = binders(schema)
      val conn = DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        val del = conn.prepareStatement(deleteSql)
        del.setInt(1, part); del.executeUpdate()
        val ps = conn.prepareStatement(insertSql)
        var n = 0
        rows.foreach { r =>
          bind.indices.foreach(i => bind(i)(ps, i + 1, r))
          ps.setInt(bind.length + 1, part)
          ps.addBatch(); n += 1
          if (n % BatchSize == 0) ps.executeBatch()
        }
        ps.executeBatch()
        conn.commit()
      } finally conn.close()
    }
  }

  /** All merges on ONE connection in ONE transaction — the cross-table
    * atomicity the reference's store functions get from wrapping dims +
    * facts in a single DBI transaction. A failure at any step rolls the
    * whole batch back; no table ever shows a partial import.
    *
    * @param onStepForTest crash-injection seam for specs: invoked after
    *                      each merge statement executes, BEFORE commit —
    *                      throwing simulates a death mid-transaction. */
  def mergeAllStagedAtomically(url: String, steps: Seq[MergeStep],
      onStepForTest: Int => Unit = _ => (),
      dialect: Dialect = DerbyDialect): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      try {
        steps.zipWithIndex.foreach { case (st, i) =>
          conn.createStatement().executeUpdate(dialect.mergeSql(st))
          onStepForTest(i)
        }
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: Exception => () }
          throw e
      }
    } finally conn.close()
  }

  private def withConn[A](url: String)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def dropIfExists(conn: Connection, table: String): Unit =
    try { conn.createStatement().executeUpdate(s"DROP TABLE $table"); () }
    catch { case _: Exception => () }

  /** Multi-table staged upsert with cross-table atomicity: every frame is
    * staged executor-parallel first (outside any transaction — staging is
    * scratch, and each partition load is delete-own-rows-then-insert
    * idempotent), then ALL merges run in one driver transaction in the
    * given order (dims before facts for FK safety). Crash recovery is
    * retry-to-completion: rerunning the whole call re-stages and re-merges
    * the same content — MERGE is idempotent, leftover staging tables are
    * dropped and rebuilt — so the target only ever shows no-batch or
    * whole-batch. */
  def upsertAllViaStaging(writes: Seq[(DataFrame, Config)],
      onStepForTest: Int => Unit = _ => ()): Unit = {
    require(writes.nonEmpty, "nothing to write")
    val url = writes.head._2.url
    require(writes.forall(_._2.url == url),
      "cross-table atomicity needs all writes on one database/connection")
    val dialect = writes.head._2.dialect
    require(writes.forall(_._2.dialect == dialect),
      "one database, one dialect")
    val steps = writes.map { case (df, cfg) =>
      MergeStep(s"${cfg.table}_staging", cfg.table, df.schema, cfg.keyCols)
    }
    // stage all tables CONCURRENTLY from driver threads: staging is
    // scratch space outside any transaction and each table loads its own
    // staging table, so the Spark write jobs are independent — only the
    // merges below serialize (one connection, one transaction, FK order)
    graft.Parallel.map(writes.zip(steps)) { case ((df, cfg), st) =>
      withConn(url) { conn =>
        dropIfExists(conn, st.staging)
        conn.createStatement().executeUpdate(
          dialect.ddl(st.staging, df.schema, Nil, extraCols = ", graft_part INT"))
      }
      stage(df, cfg.copy(table = st.staging))
    }
    mergeAllStagedAtomically(url, steps, onStepForTest, dialect)
    withConn(url)(conn => steps.foreach(st => dropIfExists(conn, st.staging)))
  }

  /** Full staged upsert: create staging, parallel-load it, merge, drop. */
  def upsertViaStaging(df: DataFrame, cfg: Config): Unit =
    upsertAllViaStaging(Seq(df -> cfg))
}
