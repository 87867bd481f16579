package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Staged merge/upsert — the core of the reference's store_* semantics.
  *
  * Given the current target state and an incoming staged batch, classify
  * every row as insert / update / keep — or despawn, the reference's
  * signature behavior: rows absent from the source batch are soft-deleted
  * during the upsert, never dropped. "Changed" is decided by comparing a
  * content hash of the non-key columns (the reference's fingerprint trick),
  * so the comparison is one narrow column regardless of attribute width.
  *
  * Plan shape: ONE full-outer shuffle join on the natural key; both sides
  * hash their attributes map-side first. At 100 TB the join is the only
  * shuffle, AQE handles skewed keys, and the hash comparison never
  * materializes wide rows twice. The stamp/despawn bookkeeping is all
  * narrow projections on top of that same single join.
  */
object UpsertMerge {
  /** Actions emitted in the `action` column. */
  val Insert = "insert"; val Update = "update"; val Keep = "keep"
  /** Soft-delete action for target rows absent from the batch. */
  val Despawn = "despawn"

  /** @param target  current state (unique on keyCols)
    * @param source  incoming batch (unique on keyCols)
    * @param keyCols natural key
    * @param attrs   attribute columns carried to the output; a row is an
    *                update when any of them differ (null-safe).
    * @param despawnMissing when set, target rows absent from the batch get
    *                action `despawn` instead of `keep` (the reference's
    *                links-absent-get-soft-deleted semantics) */
  def merge(target: DataFrame, source: DataFrame, keyCols: Seq[String], attrs: Seq[String],
      despawnMissing: Boolean = false): DataFrame =
    fullOuter(target, source, keyCols, attrs, despawnMissing, stamped = false)

  /** The stamp bookkeeping columns of a stamped table. */
  private val StampCols = Seq("first_imported", "last_imported", "despawned")

  /** The one keyed full-outer join behind both merges. A stamped merge
    * passes the target's stamp columns through unchanged (null for
    * inserts; never part of the change hash) and adds an `in_batch`
    * boolean, the raw source-presence flag stamp maintenance needs to
    * tell keep-present from keep-absent. */
  private def fullOuter(target: DataFrame, source: DataFrame, keyCols: Seq[String],
      attrs: Seq[String], despawnMissing: Boolean, stamped: Boolean): DataFrame = {
    val carryCols = if (stamped) StampCols else Nil
    val t = target.select((keyCols ++ attrs ++ carryCols).map(col): _*)
      .withColumn("__t_hash", StableId.stableId(attrs.map(col)))
      .withColumn("__t", lit(1))
    val s = source.select((keyCols ++ attrs).map(col): _*)
      .withColumn("__s_hash", StableId.stableId(attrs.map(col)))
      .withColumn("__s", lit(1))
    val sPref = s.select(keyCols.map(col) ++ attrs.map(c => col(c).as(s"__s_$c")) ++
      Seq(col("__s_hash"), col("__s")): _*)
    val joined = t.join(sPref, keyCols, "full_outer")
    val action = when(col("__t").isNull, Insert)
      .when(col("__s").isNull, if (despawnMissing) Despawn else Keep)
      .when(col("__t_hash") === col("__s_hash"), Keep)
      .otherwise(Update)
    // branch on batch PRESENCE (__s flag), never on attribute nullity —
    // coalesce(source, target) would silently block updating a field to NULL
    val outAttrs = attrs.map(c =>
      when(col("__s").isNull, col(c)).otherwise(col(s"__s_$c")).as(c))
    val base = keyCols.map(col) ++ outAttrs ++ carryCols.map(col) :+ action.as("action")
    val cols = if (stamped) base :+ col("__s").isNotNull.as("in_batch") else base
    joined.select(cols: _*)
  }

  /** Merge with the reference's import bookkeeping: every row present in
    * the batch refreshes `last_imported` to `stamp`; inserts initialize
    * `first_imported`; rows absent from the batch are despawned
    * (soft-deleted, keeping their stamps). Reappearing despawned rows
    * respawn — they are reclassified `update` even when
    * attribute-identical, so the cleared flag reaches the sink; rows absent
    * AGAIN stay soft-deleted but revert to `keep` (no repeated writes for
    * long-dead rows).
    *
    * `target` must carry first_imported/last_imported/despawned (the state
    * a previous stamped import wrote). Same single-shuffle plan as merge. */
  def stampedMerge(target: DataFrame, source: DataFrame, keyCols: Seq[String],
      attrs: Seq[String], stamp: Column): DataFrame = {
    val m = fullOuter(target, source, keyCols, attrs, despawnMissing = true, stamped = true)
    val prevDesp = coalesce(col("despawned"), lit(false))
    m.withColumn("action",
        when(col("in_batch") && prevDesp && col("action") === Keep, Update)
          .when(!col("in_batch") && prevDesp, Keep)
          .otherwise(col("action")))
      .withColumn("first_imported",
        when(col("action") === Insert, stamp).otherwise(col("first_imported")))
      .withColumn("last_imported", when(col("in_batch"), stamp).otherwise(col("last_imported")))
      // an absent row always has a target side (full-outer invariant) and is
      // either newly despawned or stays despawned — so the flag IS !in_batch.
      // Overwrites the carried previous flag, hence ordered after prevDesp's
      // last read in the action remap above.
      .withColumn("despawned", !col("in_batch"))
      .drop("in_batch")
  }

  /** The merge a store runs: `stampedMerge` at `stamp` for a stamped
    * table, the plain insert/update merge otherwise. */
  def mergeFor(target: DataFrame, source: DataFrame, keyCols: Seq[String],
      attrs: Seq[String], stamp: Option[Column]): DataFrame = stamp match {
    case Some(st) => stampedMerge(target, source, keyCols, attrs, st)
    case None     => merge(target, source, keyCols, attrs)
  }

  /** The merged rows a store writes, without the `action` column. Inserts
    * and updates always; a stamped table also writes despawns (as
    * soft-delete UPDATEs — rows are never dropped from the store) and
    * present-but-unchanged rows, whose last_imported refreshes every import
    * (the reference pays this write too — it IS the bookkeeping). Only
    * long-dead rows (kept AND despawned) skip the write, so a dead row
    * costs nothing per import. */
  def rowsToWrite(merged: DataFrame, stamped: Boolean): DataFrame =
    (if (stamped) merged.filter(col("action") =!= Keep || !col("despawned"))
    else merged.filter(col("action").isin(Insert, Update))).drop("action")
}
