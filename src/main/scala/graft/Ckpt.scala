package graft

import org.apache.spark.sql.DataFrame

/** Checkpoint seam for the query surface (the queries package): the same
  * lazy/eager `localCheckpoint` the gates always used, routed through one
  * helper so plan lints can SEE THROUGH checkpoints.
  *
  * `localCheckpoint` cuts logical lineage — a window (or any operator)
  * inside a checkpointed subframe is invisible to a plan sweep of the
  * final DataFrame, which was WindowLintSpec's one declared blind spot.
  * With `-Dgraft.lint.noCheckpoint=true` (set ONLY by the lint, never in
  * production or bench paths) both helpers become identity, so the full
  * un-truncated plan is lintable. Behavior with the property unset is
  * bit-identical to the direct calls.
  *
  * Scope: gates in the queries package and Dedup's pair-shingle frame use
  * these helpers (LambdaLintSpec sweeps the latter). Round frames of
  * iterative loops (`GraphIterate.converge`, the q_bfs/q_kcore/
  * q_label_prop round folds) and operator-internal checkpoints
  * (StageCache's persisted stages, IvfIndex builds) keep direct calls —
  * iterative lineage must stay truncated even under the lint, and the
  * window lint sweeps each round function on its own.
  */
object Ckpt {
  private def bypass: Boolean = java.lang.Boolean.getBoolean("graft.lint.noCheckpoint")

  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    /** `localCheckpoint(eager = false)` unless the lint bypass is on. */
    def cpLazy: DataFrame = if (bypass) df else df.localCheckpoint(false)

    /** `localCheckpoint()` (eager) unless the lint bypass is on. */
    def cpEager: DataFrame = if (bypass) df else df.localCheckpoint()
  }
}
