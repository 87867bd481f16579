package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a dedup pair graph — the step that turns a
  * pair list (MinHash/SimHash/embedding candidates, Jaccard-verified) into
  * the (doc_id, canonical_id) assignment a training-data pipeline actually
  * consumes: one survivor per duplicate cluster, everything else mapped to
  * it.
  *
  * Algorithm: iterative min-label propagation, DataFrame-only. Every vertex
  * starts labeled with its own id; each round takes the min of its own and
  * its neighbors' labels; convergence when no label changes. Each round is
  * two key-shuffles (edge join + groupBy vertex) over data proportional to
  * |E|. Labels move one hop per round, so the rounds grow with the
  * largest component's diameter: about diameter − 1 rounds after the
  * one-hop seed, plus one that sees no change. Near-clique duplicate
  * clusters converge in a handful of rounds, but similarity blocking does
  * not bound the diameter: in a revision chain (page k edits page k−1)
  * only neighbours pass the Jaccard threshold, the pair graph is a path,
  * and a 60-doc chain with ordered ids needs 58 propagation rounds. A
  * graph converges within `maxIters` (default 50) rounds iff its diameter
  * is at most `maxIters`; a longer one fails the `require` below instead
  * of returning partial labels (O(log n) star-contraction would lift the
  * bound). The loop state is localCheckpoint'ed each round so
  * lineage stays flat, and the driver only ever sees one scalar (the
  * changed-count) per round.
  *
  * Fault-tolerance: `reliable = false` (default) uses localCheckpoint —
  * fast, but blocks are not replicated, so a lost executor fails the job
  * (which then restarts from the source). For long-running 100 TB jobs,
  * configure `spark.sparkContext.setCheckpointDir` and pass
  * `reliable = true`: the loop state lands in reliable `checkpoint()`
  * storage each round and survives executor loss. Same algorithm, same
  * results — ComponentsSpec runs both paths against each other.
  */
object Components {

  /** (id, lbl) for every vertex of the pair graph: lbl = min id of the
    * vertex's connected component. Input needs columns (aCol, bCol).
    * @param reliable use reliable checkpoint() for loop state (requires
    *                 a configured checkpoint dir) instead of
    *                 localCheckpoint — see the class note. */
  def labels(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      maxIters: Int = 50, reliable: Boolean = false): DataFrame = {
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // symmetric orientation of an a<b pair list is already duplicate-free,
    // and duplicate edges would not change a min anyway — no distinct
    val p = pairs.select(col(aCol).as("s"), col(bCol).as("d"))
    val edges = materialize(p.union(p.select(col("d").as("s"), col("s").as("d"))))
    // seed with the ONE-HOP min (self + direct neighbors) in a single
    // aggregation: dedup clusters are near-cliques, so most vertices are
    // already final after the seed and the loop is one verification round
    var lbl = materialize(edges.groupBy(col("s").as("id"))
      .agg(min(least(col("s"), col("d"))).as("lbl")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nbrMin = edges
        .join(lbl.select(col("id").as("d"), col("lbl").as("nlbl")), Seq("d"))
        .groupBy(col("s").as("id")).agg(min(col("nlbl")).as("nbr_min"))
      // the changed-count rides the materialization job as an observe()
      // metric (CollectMetrics fires on the eager checkpoint action —
      // both local and reliable), so each round is ONE job instead of
      // materialize + a second count() pass over the cached state
      val obs = new org.apache.spark.sql.Observation()
      val upd = materialize(lbl.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("new_lbl"))
        .observe(obs, sum(when(col("new_lbl") < col("lbl"), 1L).otherwise(0L)).as("changed")))
      // The checkpoint action above already ran, so the CollectMetrics
      // result only has to cross the listener bus — poll with a BOUNDED
      // wait rather than obs.get's indefinite block (a materialization
      // path that bypasses withAction would otherwise hang the driver
      // forever), and fall back to one count() on the materialized state
      // if the metric never lands.
      changed = org.apache.spark.sql.graftshim.ObservationBridge.awaitLong(obs, "changed")(
        upd.filter(col("new_lbl") < col("lbl")).count()) // metric lost
      lbl = upd.select(col("id"), col("new_lbl").as("lbl"))
      it += 1
    }
    require(changed == 0, s"components did not converge within $maxIters rounds: " +
      s"the pair graph's diameter exceeded maxIters = $maxIters (labels move one hop per round)")
    lbl
  }

  /** (idCol, canonical_id) for EVERY row of `docs`: members of a duplicate
    * cluster map to the cluster's min id, singletons map to themselves. */
  def canonicalize(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val lbl = labels(pairs, aCol, bCol)
    docs.select(col(idCol))
      .join(lbl.select(col("id").as(idCol), col("lbl")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("lbl"), col(idCol)).as("canonical_id"))
  }
}
