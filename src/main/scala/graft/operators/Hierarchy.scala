package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive hierarchy resolution — the `WITH RECURSIVE` class of query
  * (org rollups, BOM explosion, category trees) expressed the way a
  * distributed engine must: POINTER DOUBLING, not row-at-a-time walking.
  *
  * Each round every node's ancestor pointer jumps to its ancestor's
  * ancestor and the accumulated distance adds, so a chain of depth d
  * resolves in ⌈log₂ d⌉ keyed self-joins instead of d dependent joins —
  * at 100 TB that is the difference between ~5 shuffle rounds and a
  * shuffle per tree level. Every round is one equi-join on the pointer
  * column over a |V|-sized frame; rows that already reached a root stop
  * participating (their pointer misses the non-root join side), so work
  * shrinks as chains resolve. A `localCheckpoint` per round keeps the
  * lineage flat (the same discipline Kmeans/Components use for iteration).
  *
  * CONVERGENCE IS CHECKED, NOT ASSUMED: each round's jump-hit count rides
  * the checkpoint job as an observe() metric (the Components pattern —
  * one job per round, no second count pass). The loop runs until a round
  * jumps nothing — every surviving pointer provably misses the unresolved
  * set, i.e. is a true root — and RAISES if `maxRounds` is exhausted
  * first (a cycle, or a chain deeper than 2^(maxRounds-1)). A truncated
  * resolution can therefore never be silently returned as an answer.
  */
object Hierarchy {

  /** Resolve every node to its root and depth.
    *
    * @param nodes     (key, parent) one row per node; parent NULL marks a root
    * @param maxRounds doubling-round ceiling; round r covers depth ≤ 2^r, so
    *                  the default 20 resolves chains ~500k deep. Exhausting it
    *                  (a parent-pointer cycle, or a deeper-still chain) throws
    *                  rather than mislabeling — raise it for pathological data.
    * @param reliable  use reliable checkpoint() for the loop state (requires
    *                  a configured checkpoint dir) instead of localCheckpoint,
    *                  so long 100 TB resolutions survive executor loss — the
    *                  same contract as Components.labels
    * @return (key, root, depth) — depth 0 for roots
    */
  def resolve(nodes: DataFrame, keyCol: String, parentCol: String,
      maxRounds: Int = 20, reliable: Boolean = false): DataFrame = {
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val roots = nodes.filter(col(parentCol).isNull)
      .select(col(keyCol).as("key"), col(keyCol).as("root"), lit(0L).as("depth"))
    // t: unresolved rows — anc = best-known ancestor, dist = hops to it
    var t = nodes.filter(col(parentCol).isNotNull)
      .select(col(keyCol).as("key"), col(parentCol).as("anc"), lit(1L).as("dist"))
    var hits = 1L
    var round = 0
    while (hits > 0 && round < maxRounds) {
      val jump = t.select(col("key").as("j_key"), col("anc").as("j_anc"),
        col("dist").as("j_dist"))
      // the jump-hit count rides the checkpoint job as an observe() metric:
      // a hit means the row's pointer still referenced an unresolved key
      // this round; zero hits means every pointer now misses the unresolved
      // set — the definition of "root" — and the loop may stop.
      val obs = new org.apache.spark.sql.Observation()
      val joined = t.join(jump, t("anc") === jump("j_key"), "left")
        .observe(obs,
          sum(when(col("j_key").isNotNull, 1L).otherwise(0L)).as("hits"))
      t = materialize(joined
        .select(col("key"),
          coalesce(col("j_anc"), col("anc")).as("anc"),
          (col("dist") + coalesce(col("j_dist"), lit(0L))).as("dist")))
      // the checkpoint action already ran; the metric only has to cross the
      // listener bus — bounded poll (Components.scala discipline), with a
      // recompute fallback if it never lands.
      hits = org.apache.spark.sql.graftshim.ObservationBridge.awaitLong(obs, "hits")(
        joined.filter(col("j_key").isNotNull).count())
      round += 1
    }
    require(hits == 0,
      s"hierarchy did not resolve within $maxRounds doubling rounds — " +
        "parent-pointer cycle, or chains deeper than 2^" + (maxRounds - 1) +
        " (raise maxRounds)")
    // proven: every anc missed the unresolved key set in the final round
    t.select(col("key"), col("anc").as("root"), col("dist").as("depth"))
      .unionByName(roots)
  }
}
