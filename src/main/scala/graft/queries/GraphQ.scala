package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Ckpt._
import graft.operators.GraphIterate

/** Graph analytics over relational data (SURVEY.md §2A) — the iterative
  * and join-explosive workloads that complete the engine's graph story
  * next to Components (connected components) and Hierarchy (pointer
  * doubling): PageRank by unrolled power iteration and triangle counting
  * by wedge join. Both DataFrame-only, both exactly oracled: rank
  * contributions aggregate through DECIMAL(38,15) (partition-order
  * invariant at rank magnitudes), the teleport/damping arithmetic is a
  * pinned literal chain, and triangle counting is all-integer. */
object GraphQ {

  private val Damping = "0.85"
  private val Teleport = "0.15"
  private val PrIters = 3

  /** Decimal-pinned sum for rank-magnitude doubles (xsum's DECIMAL(18,6)
    * would truncate 1e-5-scale ranks to noise; scale 15 stays inside a
    * double's shortest-roundtrip digits, where both engines' double →
    * decimal conversions provably agree — scale 18 reads digits past the
    * shortest representation and the conversion paths diverge by 1 ulp). */
  private def prSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(38,15)")).cast("double")

  /** q_pagerank: 3 power iterations over the customer containment tree
    * (child → parent edges, keys < 7 are roots): rank' = 0.15/N + 0.85 ·
    * Σ_in rank/outdeg, dangling mass intentionally dropped (the simple
    * variant — semantics defined identically in the oracle). Each
    * iteration is one edge join + one dst-keyed decimal aggregation —
    * the canonical iterate-and-shuffle workload; rounds localCheckpoint
    * like every iterative operator here. */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.customer(s, dir).select(col("c_custkey").as("id"))
    val edges = nodes.filter(col("id") >= 7)
      .select(col("id").as("src"), expr("CAST(id div 7 AS BIGINT)").as("dst"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .cpLazy
    val nTotal = nodes.agg(count(lit(1)).as("n"))
    var rank = nodes.crossJoin(broadcast(nTotal))
      .select(col("id"), (lit(1.0) / col("n").cast("double")).as("rank"))
      .cpLazy
    for (_ <- 1 to PrIters) {
      val contrib = edges.join(rank, col("src") === col("id"))
        .join(outdeg, "src")
        .select(col("dst"), (col("rank") / col("outdeg").cast("double")).as("w"))
      val sums = contrib.groupBy(col("dst")).agg(prSum(col("w")).as("s"))
      rank = nodes.join(sums, col("id") === col("dst"), "left")
        .crossJoin(broadcast(nTotal))
        .select(col("id"),
          expr(s"$Teleport / CAST(n AS DOUBLE) + $Damping * COALESCE(s, 0.0D)").as("rank"))
        .cpLazy
    }
    rank.orderBy(col("id")).select(col("id").as("c_custkey"), col("rank"))
  }

  val qPagerankSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""c$k AS (SELECT e.dst, CAST(SUM(CAST(r${k - 1}.rank / CAST(o.outdeg AS DOUBLE) AS DECIMAL(38,15))) AS DOUBLE) AS s
         |  FROM edges e JOIN r${k - 1} ON r${k - 1}.id = e.src JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |r$k AS (SELECT n.id, $Teleport / CAST(t.n AS DOUBLE) + $Damping * COALESCE(c$k.s, 0.0) AS rank
         |  FROM nodes n LEFT JOIN c$k ON c$k.dst = n.id, tot t)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT c_custkey AS id FROM customer),
       |edges AS (SELECT id AS src, id // 7 AS dst FROM nodes WHERE id >= 7),
       |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |tot AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT id, 1.0 / CAST(t.n AS DOUBLE) AS rank FROM nodes, tot t),
       |$iters
       |SELECT id AS c_custkey, rank FROM r$PrIters ORDER BY c_custkey""".stripMargin
  }

  /** The q_triangles order-date slice — 3 months bounds the co-purchase
    * edge set while leaving a dense-enough graph for real triangles. */
  private val TriLo = "1997-01-01"; private val TriHi = "1997-04-01"

  /** q_triangles: triangle census of the co-purchase graph (parts that
    * share an order) — the join-explosive graph workload: distinct a<b
    * edges, wedge join (a<b<c sharing b... here a<b, b<c on matching b),
    * closure semi-join, plus the global clustering coefficient
    * 3·triangles/wedges. All-integer counts; the only double is one
    * pinned division. Scale shape: edge build is one orderkey-keyed
    * self-join with the a<b guard; the wedge join's fan-out is bounded
    * by per-vertex degree (the month slice is the gate's degree knob —
    * production would pre-filter hub vertices exactly like the LSH
    * bucket caps). */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(s"$TriLo 00:00:00").cast("timestamp_ntz") &&
            col("o_orderdate") < lit(s"$TriHi 00:00:00").cast("timestamp_ntz"))
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val edges = li.select(col("ok"), col("p").as("a"))
      .join(li.select(col("ok"), col("p").as("b")), "ok")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .cpLazy
    val wedges = edges.select(col("a"), col("b").as("m"))
      .join(edges.select(col("a").as("m"), col("b").as("c")), "m")
      .select(col("a"), col("m"), col("c"))
    val triangles = wedges.join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
    val nNodes = edges.select(col("a").as("v")).unionByName(edges.select(col("b").as("v")))
      .distinct().count()
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
      .select(lit(nNodes).as("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        (lit(3.0) * col("n_triangles").cast("double") /
          greatest(col("n_wedges"), lit(1L)).cast("double")).as("clustering"))
  }

  val qTrianglesSql: String =
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= TIMESTAMP '$TriLo' AND o_orderdate < TIMESTAMP '$TriHi'),
       |edges AS (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
       |wedges AS (
       |  SELECT e1.a, e1.b AS m, e2.b AS c
       |  FROM edges e1 JOIN edges e2 ON e2.a = e1.b),
       |tris AS (
       |  SELECT w.a, w.m, w.c FROM wedges w JOIN edges e ON e.a = w.a AND e.b = w.c),
       |verts AS (SELECT COUNT(DISTINCT v) AS n_nodes FROM
       |  (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges))
       |SELECT v.n_nodes,
       |  (SELECT COUNT(*) FROM edges) AS n_edges,
       |  (SELECT COUNT(*) FROM wedges) AS n_wedges,
       |  (SELECT COUNT(*) FROM tris) AS n_triangles,
       |  3.0 * CAST((SELECT COUNT(*) FROM tris) AS DOUBLE) /
       |    CAST(greatest((SELECT COUNT(*) FROM wedges), 1) AS DOUBLE) AS clustering
       |FROM verts v""".stripMargin

  /** q_basket: association rules over the co-purchase slice (market
    * basket / frequent-itemset mining, the Apriori output surface):
    * pair supports from the same distinct (order, part) build as
    * q_triangles, per-item supports, and for every pair above the
    * min-support cut: support, confidence and lift — lift's numerator
    * and denominator are exact integer PRODUCTS (n_ab·N and n_a·n_b), so
    * the only float op is one pinned division. Top-20 by lift.
    *
    * Min support is 2 (the synthetic co-purchase slice maxes out at
    * support 2 — a cut of 3 made the gate 0-row at every SF, verifying
    * nothing about the lift/confidence arithmetic; VERDICT r10 #3). The
    * top-20 is orderBy().limit() — TakeOrderedAndProject's per-partition
    * heaps + a 20-row driver merge — with the rank window running on the
    * 20 survivors; the previous global row_number window sorted EVERY
    * above-support pair on one partition (|parts|²-ish on a dense
    * corpus — the d_cdc_chunks shape replaces it, VERDICT r10 #4). */
  def qBasket(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(s"$TriLo 00:00:00").cast("timestamp_ntz") &&
            col("o_orderdate") < lit(s"$TriHi 00:00:00").cast("timestamp_ntz"))
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      .cpLazy
    val nOrders = li.select(col("ok")).distinct().count()
    val item = li.groupBy(col("p")).agg(count(lit(1)).as("n_item"))
    val pairs = li.select(col("ok"), col("p").as("a"))
      .join(li.select(col("ok"), col("p").as("b")), "ok")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val scored = pairs
      .join(item.select(col("p").as("a"), col("n_item").as("n_a")), "a")
      .join(item.select(col("p").as("b"), col("n_item").as("n_b")), "b")
      .select(col("a"), col("b"), col("n_ab"),
        (col("n_ab").cast("double") / lit(nOrders).cast("double")).as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
        ((col("n_ab") * lit(nOrders)).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift").desc, col("a"), col("b"))
    scored.orderBy(col("lift").desc, col("a"), col("b")).limit(20)
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("a"), col("b"), col("n_ab"),
        col("support"), col("confidence"), col("lift"))
      .orderBy(col("rnk"))
  }

  val qBasketSql: String =
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= TIMESTAMP '$TriLo' AND o_orderdate < TIMESTAMP '$TriHi'),
       |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li),
       |item AS (SELECT p, COUNT(*) AS n_item FROM li GROUP BY p),
       |pairs AS (
       |  SELECT x.p AS a, y.p AS b, COUNT(*) AS n_ab
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |scored AS (
       |  SELECT a, b, n_ab,
       |    CAST(n_ab AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
       |    CAST(n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
       |    CAST(n_ab * n.n_orders AS DOUBLE) / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
       |  FROM pairs
       |  JOIN item ia ON ia.p = a JOIN item ib ON ib.p = b, n)
       |SELECT rnk, a, b, n_ab, support, confidence, lift FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, a, b) AS rnk FROM scored)
       |WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  private val LpIters = 3

  /** q_label_prop: synchronous label-propagation community detection
    * over the co-purchase graph (same distinct (order, part) slice as
    * q_triangles, both edge directions) — the community-mining workload
    * next to PageRank and triangles. Fully deterministic variant: labels
    * start as vertex ids; each round every vertex adopts the MINIMUM
    * label among its neighbors' most-frequent labels (count desc, label
    * asc — the tie-break that makes sync LPA reproducible). Output is
    * the top-25 communities by size. Scale shape per round: one
    * neighbor join (edge-keyed) + one (v,label) count whose per-vertex
    * argmax window reuses the count's clustering — work ∝ |E| per
    * round, label frames localCheckpoint like every iterative operator
    * here; at 100 TB the hub pre-filter knob from q_triangles bounds
    * degree before the first round. */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(s"$TriLo 00:00:00").cast("timestamp_ntz") &&
            col("o_orderdate") < lit(s"$TriHi 00:00:00").cast("timestamp_ntz"))
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val und = li.select(col("ok"), col("p").as("a"))
      .join(li.select(col("ok"), col("p").as("b")), "ok")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val edges = und.select(col("a").as("v"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("v"), col("a").as("nbr")))
      .cpLazy
    // the oracle pins exactly LpIters rounds: lazy fused rounds, the plan
    // and cost of a hand-unrolled loop (no convergence check)
    val seed = GraphIterate.labelPropSeed(edges).localCheckpoint(false)
    val labels = (1 to LpIters).foldLeft(seed)(
      (l, _) => GraphIterate.labelPropRound(edges, l).localCheckpoint(false))
    val comm = labels.groupBy(col("label")).agg(count(lit(1)).as("size"))
    // top-25 as TakeOrderedAndProject (orderBy().limit() — per-partition
    // heaps, 25-row driver merge); the rank window then sees 25 rows, never
    // the full |communities| frame (up to |V| rows at 100 TB) on one
    // partition (VERDICT r10 #4, the d_cdc_chunks shape).
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("size").desc, col("label"))
    comm.orderBy(col("size").desc, col("label")).limit(25)
      .withColumn("rnk", row_number().over(wTop))
      .select(col("rnk"), col("label"), col("size"))
      .orderBy(col("rnk"))
  }

  val qLabelPropSql: String = {
    val iters = (1 to LpIters).map { k =>
      s"""c$k AS (SELECT e.v, l.label, COUNT(*) AS n
         |  FROM edges e JOIN l${k - 1} l ON l.v = e.nbr GROUP BY 1, 2),
         |l$k AS (SELECT v, label FROM (
         |    SELECT v, label, ROW_NUMBER() OVER (PARTITION BY v ORDER BY n DESC, label) AS rn
         |    FROM c$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= TIMESTAMP '$TriLo' AND o_orderdate < TIMESTAMP '$TriHi'),
       |und AS (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
       |edges AS (SELECT a AS v, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT v, v AS label FROM (SELECT DISTINCT v FROM edges)),
       |$iters,
       |comm AS (SELECT label, COUNT(*) AS size FROM l$LpIters GROUP BY label)
       |SELECT rnk, label, size FROM (
       |  SELECT label, size, ROW_NUMBER() OVER (ORDER BY size DESC, label) AS rnk FROM comm)
       |WHERE rnk <= 25 ORDER BY rnk""".stripMargin
  }

  /** Shared co-purchase edge CTEs (li → und distinct a<b edges → both
    * directions) — the same slice every graph gate uses. */
  private val edgeCtes =
    s"""li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderdate >= TIMESTAMP '$TriLo' AND o_orderdate < TIMESTAMP '$TriHi'),
       |und AS (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
       |bi AS (SELECT a AS v, b AS nbr FROM und UNION ALL SELECT b, a FROM und)""".stripMargin

  /** The co-purchase slice as (und: distinct a<b edges, bi: both
    * directions) — one distinct (order, part) build shared by the
    * link-prediction and k-core gates, localCheckpointed because both
    * consumers walk it repeatedly. */
  private def edgeFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = Tables.lineitem(s, dir).join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit(s"$TriLo 00:00:00").cast("timestamp_ntz") &&
            col("o_orderdate") < lit(s"$TriHi 00:00:00").cast("timestamp_ntz"))
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val und = li.select(col("ok"), col("p").as("a"))
      .join(li.select(col("ok"), col("p").as("b")), "ok")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .cpLazy
    val bi = und.select(col("a").as("v"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("v"), col("a").as("nbr")))
    (und, bi)
  }

  /** q_link_pred: LINK PREDICTION over the co-purchase graph — the
    * "customers who bought X also bought Y, but nobody has bought both
    * YET" recommender signal: candidate pairs are wedge-connected
    * non-edges (share ≥1 common neighbor, no direct edge), scored by
    * common-neighbor count and the vertex-Jaccard coefficient
    * CN / (deg_a + deg_b − CN) — the CLASSIC CN/Jaccard indices, chosen
    * over Adamic–Adar because every input is an exact integer and the
    * score is ONE pinned division (AA's Σ 1/log deg would float-sum
    * differently across engines). Top-30 by (jaccard, a, b) via
    * TakeOrderedAndProject.
    *
    * Scale shape: one wedge self-join (fan-out bounded by vertex degree —
    * the q_triangles hub-pre-filter knob applies), an (a,b)-keyed count,
    * one broadcast-able degree join, an anti-join against the edge set,
    * and a k-bounded top-k. Work ∝ Σ deg², never |V|². */
  def qLinkPred(s: SparkSession, dir: String): DataFrame = {
    val (und, bi) = edgeFrames(s, dir)
    val deg = bi.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val cand = bi.select(col("nbr").as("m"), col("v").as("a"))
      .join(bi.select(col("v").as("m"), col("nbr").as("c")), "m")
      .filter(col("a") < col("c"))
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("cn"))
      .join(und.select(col("a").as("ea"), col("b").as("eb")),
        col("a") === col("ea") && col("c") === col("eb"), "left_anti")
    val scored = cand
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("v").as("c"), col("deg").as("deg_c")), "c")
      .select(col("a"), col("c").as("b"), col("cn"),
        col("deg_a"), col("deg_c").as("deg_b"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_c") - col("cn")).cast("double")).as("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("jaccard").desc, col("a"), col("b"))
    scored.orderBy(col("jaccard").desc, col("a"), col("b")).limit(30)
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("a"), col("b"), col("cn"),
        col("deg_a"), col("deg_b"), col("jaccard"))
      .orderBy(col("rnk"))
  }

  val qLinkPredSql: String =
    s"""WITH $edgeCtes,
       |deg AS (SELECT v, COUNT(*) AS deg FROM bi GROUP BY v),
       |cand AS (
       |  SELECT x.v AS a, y.nbr AS c, COUNT(*) AS cn
       |  FROM (SELECT nbr AS m, v FROM bi) x JOIN (SELECT v AS m, nbr FROM bi) y ON y.m = x.m
       |  WHERE x.v < y.nbr
       |  GROUP BY 1, 2),
       |ne AS (SELECT cand.* FROM cand
       |       LEFT JOIN und e ON e.a = cand.a AND e.b = cand.c
       |       WHERE e.a IS NULL),
       |scored AS (
       |  SELECT ne.a, ne.c AS b, cn, da.deg AS deg_a, dc.deg AS deg_b,
       |    CAST(cn AS DOUBLE) / CAST(da.deg + dc.deg - cn AS DOUBLE) AS jaccard
       |  FROM ne JOIN deg da ON da.v = ne.a JOIN deg dc ON dc.v = ne.c)
       |SELECT rnk, a, b, cn, deg_a, deg_b, jaccard FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY jaccard DESC, a, b) AS rnk FROM scored)
       |WHERE rnk <= 30 ORDER BY rnk""".stripMargin

  private val KCoreK = 3
  private val KCoreRounds = 3

  /** q_kcore: K-CORE DECOMPOSITION by unrolled synchronous peeling — the
    * graph-trimming workload behind community pre-filtering and spam-farm
    * detection (vertices that can't sustain k mutual connections drop,
    * which may drop their neighbors next round): each round computes
    * degrees over the surviving subgraph and removes vertices with
    * deg < k in one simultaneous step (deterministic — no removal order
    * to diverge on). Output: the surviving vertices with their final
    * in-core degree after the unrolled rounds, ordered by v.
    *
    * Scale shape per round: one degree aggregation + two semi-joins
    * restricting the edge list — work ∝ |E| per round, the same
    * iterate-and-shuffle contract as q_pagerank/q_label_prop; edges
    * localCheckpoint between rounds. The rounds are
    * GraphIterate.kcoreRound folded exactly KCoreRounds times, as the
    * oracle unrolls them; GraphIterate.kcore is the convergence-checked
    * form. */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    val (und, _) = edgeFrames(s, dir)
    val edges = (1 to KCoreRounds).foldLeft(und)(
      (e, _) => GraphIterate.kcoreRound(e, KCoreK).localCheckpoint(false))
    edges.select(col("a").as("v")).unionByName(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .orderBy(col("v"))
  }

  val qKcoreSql: String = {
    val rounds = (1 to KCoreRounds).map { k =>
      s"""keep$k AS (SELECT v FROM (
         |    SELECT v, COUNT(*) AS deg FROM
         |      (SELECT a AS v FROM e${k - 1} UNION ALL SELECT b FROM e${k - 1})
         |    GROUP BY v) WHERE deg >= $KCoreK),
         |e$k AS (SELECT a, b FROM e${k - 1}
         |  WHERE a IN (SELECT v FROM keep$k) AND b IN (SELECT v FROM keep$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |e0 AS (SELECT a, b FROM und),
       |$rounds
       |SELECT v, COUNT(*) AS deg FROM
       |  (SELECT a AS v FROM e$KCoreRounds UNION ALL SELECT b FROM e$KCoreRounds)
       |GROUP BY v ORDER BY v""".stripMargin
  }

  private val BfsRounds = 4

  /** q_bfs: BREADTH-FIRST REACH from a deterministic seed (the minimum
    * vertex of the co-purchase slice) — the hop-distance primitive under
    * "within 3 degrees" audience queries and graph-radius observability:
    * 4 unrolled frontier rounds of synchronous distance relaxation
    * (dist' = min(dist, min over in-neighbors dist+1) — monotone, so
    * rounds are idempotent past convergence and no visited-set state is
    * needed), reported as the hop-distance histogram with unreached
    * vertices at −1.
    *
    * Scale shape per round: one edge join + one vertex-keyed min — the
    * same work ∝ |E| contract as q_pagerank/q_label_prop/q_kcore;
    * distances localCheckpoint between rounds. Output is
    * ≤rounds+2 rows. The rounds are GraphIterate.bfsRound folded exactly
    * BfsRounds times, as the oracle unrolls them; GraphIterate.bfs is the
    * convergence-checked form. */
  def qBfs(s: SparkSession, dir: String): DataFrame = {
    val (_, bi) = edgeFrames(s, dir)
    val seed = bi.agg(min(col("v")).as("v")).select(col("v"), lit(0L).as("dist"))
    val dist = (1 to BfsRounds).foldLeft(seed.localCheckpoint(false))(
      (d, _) => GraphIterate.bfsRound(bi, d).localCheckpoint(false))
    bi.select(col("v")).distinct()
      .join(dist, Seq("v"), "left")
      .select(coalesce(col("dist"), lit(-1L)).as("dist"))
      .groupBy(col("dist")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("dist"))
  }

  val qBfsSql: String = {
    val rounds = (1 to BfsRounds).map { k =>
      s"""d$k AS (SELECT v, MIN(dist) AS dist FROM (
         |  SELECT v, dist FROM d${k - 1}
         |  UNION ALL
         |  SELECT bi.nbr AS v, d${k - 1}.dist + 1 FROM d${k - 1} JOIN bi ON bi.v = d${k - 1}.v)
         |GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |verts AS (SELECT DISTINCT v FROM bi),
       |d0 AS (SELECT MIN(v) AS v, CAST(0 AS BIGINT) AS dist FROM bi),
       |$rounds
       |SELECT CAST(COALESCE(d.dist, -1) AS BIGINT) AS dist, COUNT(*) AS n_vertices
       |FROM verts LEFT JOIN d$BfsRounds d ON d.v = verts.v
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------ q_local_cc

  /** q_local_cc: per-vertex LOCAL clustering coefficient over the
    * co-purchase graph — cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the
    * Watts–Strogatz "how clique-like is this vertex's neighborhood"
    * measure. Complements q_triangles, which reports the GLOBAL
    * transitivity ratio (3·triangles/wedges) — the two disagree exactly
    * when clustering concentrates on low-degree vertices, which is why
    * graph dashboards report both.
    *
    * Parity: tri(v) and deg(v) are exact BIGINTs; cc is ONE pinned
    * division per vertex.
    *
    * Scale shape: the oriented a<m<c triangle enumeration (work
    * ∝ Σ deg², the same bound q_triangles carries — on a 100 TB skewed
    * graph, cap hub degrees first, same knob), a 3-way corner
    * projection, and a per-vertex count. No global sort: output rides
    * an id ORDER BY, which range-partitions. */
  def qLocalCc(s: SparkSession, dir: String): DataFrame = {
    val (und, bi) = edgeFrames(s, dir)
    val wedges = und.select(col("a"), col("b").as("m"))
      .join(und.select(col("a").as("m"), col("b").as("c")), "m")
    val tris = wedges.join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
    val triPerV = tris.select(col("a").as("v"))
      .unionByName(tris.select(col("m").as("v")))
      .unionByName(tris.select(col("c").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("tri"))
    val deg = bi.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triPerV, Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        ((lit(2L) * coalesce(col("tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - lit(1L))).cast("double")).as("cc"))
      .orderBy(col("v"))
  }

  val qLocalCcSql: String =
    s"""WITH $edgeCtes,
       |wedges AS (
       |  SELECT e1.a, e1.b AS m, e2.b AS c FROM und e1 JOIN und e2 ON e2.a = e1.b),
       |tris AS (
       |  SELECT w.a, w.m, w.c FROM wedges w JOIN und e ON e.a = w.a AND e.b = w.c),
       |tpv AS (
       |  SELECT v, COUNT(*) AS tri FROM (
       |    SELECT a AS v FROM tris UNION ALL SELECT m FROM tris UNION ALL SELECT c FROM tris)
       |  GROUP BY v),
       |deg AS (SELECT v, COUNT(*) AS deg FROM bi GROUP BY v)
       |SELECT d.v, d.deg, COALESCE(t.tri, 0) AS tri,
       |  CAST(2 * COALESCE(t.tri, 0) AS DOUBLE) /
       |    CAST(d.deg * (d.deg - 1) AS DOUBLE) AS cc
       |FROM deg d LEFT JOIN tpv t ON t.v = d.v
       |WHERE d.deg >= 2 ORDER BY d.v""".stripMargin

  // ------------------------------------------------------ q_assortativity

  /** q_assortativity: DEGREE ASSORTATIVITY of the co-purchase graph —
    * the Pearson correlation of endpoint degrees over the directed edge
    * list, the Newman mixing coefficient ("do hubs connect to hubs?").
    * Social graphs are assortative (r > 0), product/dependency graphs
    * usually disassortative (r < 0) — a one-number topology fingerprint.
    *
    * Parity: because the directed edge list is symmetric, Σx = Σy and
    * Σx² = Σy², so r collapses to (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) —
    * every sum an exact BIGINT over integer degrees, ONE pinned
    * division at the end (no float corr(), which is partition-order-
    * dependent).
    *
    * Scale shape: one degree aggregation, two broadcast-able degree
    * joins onto the edge list, one scalar aggregate with map-side
    * partials. Linear in |E|. */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val (_, bi) = edgeFrames(s, dir)
    val deg = bi.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val pairs = bi
      .join(deg.select(col("v"), col("deg").as("dx")), "v")
      .join(deg.select(col("v").as("nbr"), col("deg").as("dy")), "nbr")
      .select(col("dx").cast("long").as("dx"), col("dy").cast("long").as("dy"))
    pairs.agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("sxx"), sum(col("dx") * col("dy")).as("sxy"))
      .select(col("n"), col("sx"), col("sxx"), col("sxy"),
        ((col("n") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
  }

  val qAssortativitySql: String =
    s"""WITH $edgeCtes,
       |deg AS (SELECT v, COUNT(*) AS deg FROM bi GROUP BY v),
       |pairs AS (
       |  SELECT CAST(dx.deg AS BIGINT) AS dx, CAST(dy.deg AS BIGINT) AS dy
       |  FROM bi JOIN deg dx ON dx.v = bi.v JOIN deg dy ON dy.v = bi.nbr),
       |a AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(dx) AS BIGINT) AS sx,
       |    CAST(SUM(dx * dx) AS BIGINT) AS sxx, CAST(SUM(dx * dy) AS BIGINT) AS sxy
       |  FROM pairs)
       |SELECT n, sx, sxx, sxy,
       |  CAST(n * sxy - sx * sx AS DOUBLE) /
       |    CAST(n * sxx - sx * sx AS DOUBLE) AS assortativity
       |FROM a""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_pagerank", qPagerank _, qPagerankSql),
    Gate("q_triangles", qTriangles _, qTrianglesSql),
    Gate("q_basket", qBasket _, qBasketSql),
    Gate("q_label_prop", qLabelProp _, qLabelPropSql),
    Gate("q_link_pred", qLinkPred _, qLinkPredSql),
    Gate("q_kcore", qKcore _, qKcoreSql),
    Gate("q_bfs", qBfs _, qBfsSql),
    Gate("q_local_cc", qLocalCc _, qLocalCcSql),
    Gate("q_assortativity", qAssortativity _, qAssortativitySql),
  )
}
