package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.JdbcUpsertSink
import graft.sources.JdbcUpsertSink.Config

/** The reference's store_* flow as ONE composed operator: each exported
  * store function there validates the incoming frame, hash-keys it,
  * normalizes dimensions, and upserts staged rows transactionally. This is
  * the same contract over Spark, assembled from the §2B operators:
  *
  *   validate → stable ids → dim split → merge classify → (optional) JDBC
  *
  * One pass over the input for validation, one narrow map for ids, one
  * distinct per dimension, one key-shuffle join for the merge — nothing
  * else. At 100 TB the only data-sized shuffle is the merge join.
  */
object StorePipeline {

  final case class Spec(
      keyCols: Seq[String],
      attrCols: Seq[String],
      dims: Seq[(String, Seq[String])] = Nil, // skColName -> dim natural-key cols
      rules: Seq[Validate.Rule] = Nil)

  final case class Result(
      violations: DataFrame,   // (rule, n_violations, n_rows)
      dims: Map[String, DataFrame],
      merged: DataFrame)       // key + attrs + dim sks + action

  /** Validate, key, normalize and merge `incoming` against `current`.
    * Throws when a validation rule fails and `strict` is set (the
    * reference's stop-on-invalid behavior).
    *
    * @param stamp when set, the import runs with full reference
    *              bookkeeping: first/last-imported stamps are maintained
    *              and rows absent from the batch are despawned
    *              (soft-deleted). `current` must then carry the
    *              first_imported/last_imported/despawned columns a previous
    *              stamped import wrote. */
  def store(spark: SparkSession, current: DataFrame, incoming: DataFrame, spec: Spec,
      strict: Boolean = true, stamp: Option[Column] = None): Result = {
    Validate.requireColumns(incoming, spec.keyCols ++ spec.attrCols)
    if (stamp.isDefined)
      Validate.requireColumns(current, Seq("first_imported", "last_imported", "despawned"))
    val report = Validate.report(incoming, spec.rules)
    if (strict && spec.rules.nonEmpty) {
      val bad = report.filter(col("n_violations") > 0).collect()
      require(bad.isEmpty,
        s"validation failed: ${bad.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")}")
    }
    val dims = spec.dims.map { case (sk, cols) =>
      sk -> DimNormalize.split(incoming, cols, spec.keyCols, sk)._1
    }.toMap
    val withSks = spec.dims.foldLeft(incoming) { case (df, (sk, cols)) =>
      df.withColumn(sk, StableId.stableId(cols.map(col)))
    }
    val curWithSks = spec.dims.foldLeft(current) { case (df, (sk, cols)) =>
      df.withColumn(sk, StableId.stableId(cols.map(col)))
    }
    val attrs = spec.attrCols ++ spec.dims.map(_._1)
    Result(report, dims, UpsertMerge.mergeFor(curWithSks, withSks, spec.keyCols, attrs, stamp))
  }

  /** store + write: dimension tables merge FIRST (FK order, like the
    * reference's store_* call graph — facts must never reference dimension
    * rows that aren't committed yet), then the changed fact rows — ALL in
    * ONE database transaction, matching the reference's contract of
    * wrapping the whole store in a single DBI transaction. Staging loads
    * run executor-parallel outside the transaction (idempotent scratch);
    * only the final driver-side merge set is atomic, so a crash at any
    * point leaves either no batch or the whole batch visible, and a plain
    * retry of this call converges (StorePipelineSpec injects a death
    * between the dim and fact merges to prove it).
    *
    * @param dimTables sk column -> existing JDBC dimension table (keyed by
    *                  the sk column); dims without an entry are computed but
    *                  not written.
    * @param onMergeStepForTest crash-injection seam (see
    *                  JdbcUpsertSink.mergeAllStagedAtomically). */
  def storeAndWrite(spark: SparkSession, current: DataFrame, incoming: DataFrame,
      spec: Spec, jdbcUrl: String, table: String,
      dimTables: Map[String, String] = Map.empty,
      stamp: Option[Column] = None,
      onMergeStepForTest: Int => Unit = _ => ()): Result = {
    val r = store(spark, current, incoming, spec, strict = true, stamp)
    val changed = UpsertMerge.rowsToWrite(r.merged, stamped = stamp.isDefined)
    val dimWrites = for ((sk, dimTable) <- dimTables.toSeq; dim <- r.dims.get(sk))
      yield dim -> Config(jdbcUrl, dimTable, Seq(sk))
    JdbcUpsertSink.upsertAllViaStaging(
      dimWrites :+ (changed -> Config(jdbcUrl, table, spec.keyCols)),
      onMergeStepForTest)
    r
  }
}
