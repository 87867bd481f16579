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
  * shrinks as chains resolve. Rounds run through `GraphIterate.converge`,
  * whose per-round checkpoint keeps the lineage flat.
  *
  * CONVERGENCE IS CHECKED, NOT ASSUMED: each round's jump-hit count rides
  * the checkpoint job as an observe() metric (one job per round, no
  * second count pass). The loop runs until a round jumps nothing — every
  * surviving pointer provably misses the unresolved set, i.e. is a true
  * root — and RAISES if `maxRounds` is exhausted first (a cycle, or a
  * chain deeper than 2^(maxRounds-1)). A truncated resolution can
  * therefore never be silently returned as an answer.
  */
object Hierarchy {

  /** Resolve every node to its root and depth.
    *
    * @param nodes     (key, parent) one row per node; parent NULL marks a root
    * @param maxRounds doubling-round ceiling; round r covers depth ≤ 2^r, so
    *                  the default 20 resolves chains ~500k deep. Exhausting it
    *                  (a parent-pointer cycle, or a deeper-still chain) throws
    *                  rather than mislabeling — raise it for pathological data.
    * @return (key, root, depth) — depth 0 for roots
    */
  def resolve(nodes: DataFrame, keyCol: String, parentCol: String,
      maxRounds: Int = 20): DataFrame = {
    val roots = nodes.filter(col(parentCol).isNull)
      .select(col(keyCol).as("key"), col(keyCol).as("root"), lit(0L).as("depth"))
    // unresolved rows — anc = best-known ancestor, dist = hops to it
    val unresolved = nodes.filter(col(parentCol).isNotNull)
      .select(col(keyCol).as("key"), col(parentCol).as("anc"), lit(1L).as("dist"))
    val resolved = GraphIterate.converge(unresolved, maxRounds,
      s"hierarchy did not resolve within $maxRounds doubling rounds — " +
        "parent-pointer cycle, or chains deeper than 2^" + (maxRounds - 1) +
        " (raise maxRounds)") { t =>
      val jump = t.select(col("key").as("j_key"), col("anc").as("j_anc"),
        col("dist").as("j_dist"))
      // a hit means the row's pointer still referenced an unresolved key
      // this round; zero hits means every pointer now misses the unresolved
      // set — the definition of "root" — and the loop may stop.
      t.join(jump, t("anc") === jump("j_key"), "left")
        .select(col("key"),
          coalesce(col("j_anc"), col("anc")).as("anc"),
          (col("dist") + coalesce(col("j_dist"), lit(0L))).as("dist"),
          col("j_key").isNotNull.as("hit"))
    }(sum(when(col("hit"), 1L).otherwise(0L)))((_, hits) => hits.head == 0L)
    // proven: every anc missed the unresolved key set in the final round
    resolved.select(col("key"), col("anc").as("root"), col("dist").as("depth"))
      .unionByName(roots)
  }
}
