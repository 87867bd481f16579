package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GraphIterate

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
  * is at most `maxIters`; a longer one throws an IllegalStateException
  * instead of returning partial labels (O(log n) star-contraction would
  * lift the bound). Rounds run through `GraphIterate.converge`: the loop
  * state is checkpointed each round so lineage stays flat (reliably when
  * the session has a checkpoint dir), and the driver only ever sees one
  * scalar (the changed-count) per round.
  */
object Components {

  /** (id, lbl) for every vertex of the pair graph: lbl = min id of the
    * vertex's connected component. Input needs columns (aCol, bCol). */
  def labels(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      maxIters: Int = 50): DataFrame = {
    // symmetric orientation of an a<b pair list is already duplicate-free,
    // and duplicate edges would not change a min anyway — no distinct
    val p = pairs.select(col(aCol).as("s"), col(bCol).as("d"))
    val edges = GraphIterate.materialize(p.union(p.select(col("d").as("s"), col("s").as("d"))))
    // seed with the ONE-HOP min (self + direct neighbors) in a single
    // aggregation: dedup clusters are near-cliques, so most vertices are
    // already final after the seed and the loop is one verification round
    val seed = GraphIterate.materialize(edges.groupBy(col("s").as("id"))
      .agg(min(least(col("s"), col("d"))).as("lbl")))
    GraphIterate.converge(seed, maxIters,
      s"components did not converge within $maxIters rounds: the pair graph's " +
        s"diameter exceeded maxIters = $maxIters (labels move one hop per round)") { lbl =>
      val nbrMin = edges
        .join(lbl.select(col("id").as("d"), col("lbl").as("nlbl")), Seq("d"))
        .groupBy(col("s").as("id")).agg(min(col("nlbl")).as("nbr_min"))
      lbl.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"),
          (col("nbr_min") < col("lbl")).as("changed"))
    }(sum(when(col("changed"), 1L).otherwise(0L)))((_, changed) => changed.head == 0L)
      .select(col("id"), col("lbl"))
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
