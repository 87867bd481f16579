package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphIterate

/** Convergence contract for the iterative graph operators: on a graph
  * DEEPER than the round budget they must RAISE — never return a
  * silently-truncated answer — and with enough rounds the loop must reach
  * the exact fixed point and stop there. */
class GraphIterateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Undirected path 0-1-2-…-n as both-direction adjacency (v, nbr). */
  private def pathBi(n: Int) = {
    val und = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    und.select(col("a").as("v"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("v"), col("a").as("nbr")))
  }

  test("bfs: a diameter-10 path raises under a 4-round budget (strict) instead of truncating") {
    val bi = pathBi(10)
    val seed = Seq((0L, 0L)).toDF("v", "dist")
    val e = intercept[IllegalStateException] {
      GraphIterate.bfs(bi, seed, maxRounds = 4).count()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("bfsRound folded 4 times returns the fixed-depth frontier (q_bfs's oracle-unroll semantics)") {
    val bi = pathBi(10)
    val seed = Seq((0L, 0L)).toDF("v", "dist")
    val d = (1 to 4).foldLeft(seed)((d, _) => GraphIterate.bfsRound(bi, d).localCheckpoint(false))
      .as[(Long, Long)].collect().toMap
    assert(d == (0L to 4L).map(i => i -> i).toMap,
      s"4 rounds must reach exactly hops 0..4, got $d")
  }

  test("bfs: with budget past the diameter, distances are exact and the loop early-exits at the fixed point") {
    val bi = pathBi(10)
    val seed = Seq((0L, 0L)).toDF("v", "dist")
    val d = GraphIterate.bfs(bi, seed, maxRounds = 50)
      .as[(Long, Long)].collect().toMap
    assert(d == (0L to 10L).map(i => i -> i).toMap)
  }

  test("bfs: ONE job per relaxation round — (count, Σdist) ride the round's observe metrics") {
    // path 0-1-2-3-4 from 0: rounds 1..4 reach one more hop each and round
    // 5 changes nothing, so with AQE off the eager seed checkpoint (1 job
    // over a local relation) + 5 rounds × 2 cost 11 jobs. A second count
    // pass per round would add 5 more and fail this pin.
    val bi = pathBi(4)
    val seed = Seq((0L, 0L)).toDF("v", "dist")
    val jobs = SparkTestBase.jobsWithAqeOff("bfs-jobs") {
      val d = GraphIterate.bfs(bi, seed, maxRounds = 10).as[(Long, Long)].collect().toMap
      assert(d == (0L to 4L).map(i => i -> i).toMap)
    }
    // the final collect() in the assertion above is +1 on top of the 11
    assert(jobs == 12, s"expected 11 bfs jobs + 1 collect, got $jobs")
  }

  test("kcore: a 12-path needs 6 peeling rounds — 3 raise (strict), enough rounds converge to the empty core") {
    val und = (0 until 12).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      GraphIterate.kcore(und, k = 2, maxRounds = 3).count()
    }
    assert(e.getMessage.contains("did not converge"))
    // a path has no 2-core: full peeling ends empty
    assert(GraphIterate.kcore(und, k = 2, maxRounds = 20).count() == 0)
  }

  test("kcore: a cycle with a pendant chain peels the chain and keeps exactly the cycle") {
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L))
    val und = (cycle ++ chain).toDF("a", "b")
    val core = GraphIterate.kcore(und, k = 2, maxRounds = 20)
      .as[(Long, Long)].collect().toSet
    assert(core == cycle.toSet, s"2-core must be exactly the cycle, got $core")
  }

  test("labelProp: a triangle converges to one community and early-exits") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val edges = und.select(col("a").as("v"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("v"), col("a").as("nbr")))
    val labels = GraphIterate.labelProp(edges, maxRounds = 20)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelProp: directed adjacency that drops a vertex never reports convergence (strict raises)") {
    // vertex 1's only out-neighbor (9) is never a source, so 9 has no
    // label and vertex 1 drops out of step() on round 1. The survivors
    // (a directed triangle that stabilizes) would let the label-flip test
    // alone report convergence WITHOUT vertex 1 — the row-count guard
    // must turn that silent loss into the loud exhaustion error instead.
    val edges = (Seq((1L, 9L)) ++
      Seq((2L, 3L), (3L, 2L), (2L, 4L), (4L, 2L), (3L, 4L), (4L, 3L)))
      .toDF("v", "nbr")
    val e = intercept[IllegalStateException] {
      GraphIterate.labelProp(edges, maxRounds = 10).count()
    }
    assert(e.getMessage.contains("did not stabilize"))
  }

  test("labelProp: sync LPA 2-cycles on a bipartite path — strict raises loudly instead of spinning") {
    // min-label sync LPA oscillates on bipartite structure (each side
    // adopts the other's labels every round); the budget exhaustion error
    // must fire rather than an arbitrary truncated labeling being returned
    val e = intercept[IllegalStateException] {
      GraphIterate.labelProp(pathBi(3), maxRounds = 8).count()
    }
    assert(e.getMessage.contains("did not stabilize"))
  }
}
