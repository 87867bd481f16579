package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Ckpt._

/** Round-11 similarity additions (SURVEY.md §2E). */
object Similarity2 {

  import Similarity.{cosSql, dotSql, fitCached, kmAssignCte, kmRecenterCte}

  private val MutK = 5

  /** s_mutual_knn: the MUTUAL k-NN GRAPH over a bounded anchor panel —
    * the input structure of agglomerative semantic clustering and of
    * hubness diagnostics (a vector that appears in many neighbor lists
    * but reciprocates few is a hub — the curse-of-dimensionality signal
    * a retrieval stack monitors): directed top-5 cosine edges within the
    * panel, kept only where BOTH endpoints rank each other (a<b
    * canonical). Output: mutual edges with both ranks + cosine.
    *
    * Scale shape: the panel is bounded by construction (vec_id % 20 — at
    * 100 TB a sampled panel table); all-pairs scoring is panel×panel via
    * one broadcast, the per-vector top-5 rides the k-bounded TopKPerKey
    * shuffle (PlanSpec-pinned), and the mutual check is a self-join of
    * two k·|panel|-row edge lists on the canonical pair key. The full
    * corpus version composes with IVF-cell pruning exactly like
    * s_filtered_knn — candidates from probed cells only. */
  /** The directed top-k edge stage of s_mutual_knn, exposed pre-
    * checkpoint so PlanSpec can pin the TopKPerKey + broadcast shape
    * (the gate checkpoints it because both the fwd and bwd branches of
    * the mutual self-join consume it). */
  private[graft] def mutualKnnEdges(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val panel = Tables.embeddings(s, dir).filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), col("embedding"))
    val q = panel.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = panel.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
      .crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_sim(q_vec, n_vec)"))
      .select(col("q_id"), col("n_id"), col("cos"))
    val top = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("cos").desc, col("n_id").asc), MutK)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk"))
  }

  def sMutualKnn(s: SparkSession, dir: String): DataFrame = {
    val edges = mutualKnnEdges(s, dir).cpLazy
    val fwd = edges.filter(col("q_id") < col("n_id"))
      .select(col("q_id").as("a"), col("n_id").as("b"),
        col("cos"), col("rnk").as("rank_ab"))
    val bwd = edges.filter(col("q_id") > col("n_id"))
      .select(col("n_id").as("a"), col("q_id").as("b"), col("rnk").as("rank_ba"))
    fwd.join(bwd, Seq("a", "b"))
      .select(col("a"), col("b"), col("cos"), col("rank_ab"), col("rank_ba"))
      .orderBy(col("a"), col("b"))
  }

  val sMutualKnnSql: String =
    s"""WITH panel AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    ${cosSql("q.embedding", "e.embedding")} AS cos
       |  FROM panel q, panel e WHERE e.vec_id <> q.vec_id),
       |edges AS (
       |  SELECT q_id, n_id, cos, rnk FROM (
       |    SELECT q_id, n_id, cos,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |    FROM scored)
       |  WHERE rnk <= $MutK)
       |SELECT f.q_id AS a, f.n_id AS b, f.cos, f.rnk AS rank_ab, r.rnk AS rank_ba
       |FROM edges f JOIN edges r ON r.q_id = f.n_id AND r.n_id = f.q_id
       |WHERE f.q_id < f.n_id
       |ORDER BY a, b""".stripMargin

  private val CurveNprobes = Seq(1, 2, 4, 8)

  /** s_recall_curve: the NPROBE RECALL S-CURVE — the d_lsh_tune sibling
    * for the IVF index: measured recall@5 vs brute-force truth at nprobe
    * ∈ {1,2,4,8} in ONE candidate pass (the rightmost point probes every
    * cell, where IVF ≡ exhaustive and recall must be 1.0 — an in-data
    * sanity anchor). Candidates carry their cell's probe rank, so each
    * nprobe's answer set is a FILTER on the same scored frame — the
    * whole curve costs one scan of the probed buckets plus a 4×k-bounded
    * TopKPerKey shuffle keyed on (query, nprobe); this is how the curve
    * is measured in production without re-probing per operating point
    * (tuneNprobe then picks the knee against the SLO).
    *
    * Scale shape: rides the persisted index + cached centroids; probe
    * list broadcast; the only corpus-sized work is the single bucket
    * scan. */
  /** The shared probe stage of the nprobe tuning pair: (re)build the
    * index, rank every centroid per panel query, checkpoint the
    * (q_id, q_vec, bucket, proberank) frame. s_recall_curve scores it,
    * s_probe_cost only counts it — ONE definition so the two axes of the
    * tuning curve can never desynchronize. Returns (probes, indexPath). */
  private def ivfProbeFrame(s: SparkSession, dir: String): (DataFrame, String) = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
    val path = Similarity.ivfPath(dir)
    graft.similarity.IvfIndex.build(s, e, "vec_id", "embedding", path,
      numCentroids = Some(8), iters = 2,
      pretrained = Some(Similarity.fitCached(s, dir, k = 8, iters = 2)))
    val centroids = s.read.parquet(s"$path/centroids")
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("c_cos", coalesce(expr("cosine_sim(q_vec, c_vec)"), lit(-1.0)))
      .withColumn("proberank", row_number().over(wProbe))
      .select(col("q_id"), col("q_vec"), col("c_id").as("bucket"), col("proberank"))
      .cpLazy
    (probes, path)
  }

  def sRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val (probes, path) = ivfProbeFrame(s, dir)
    val scored = s.read.parquet(s"$path/buckets")
      .join(broadcast(probes), "bucket")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_sim(q_vec, n_vec)"))
      .select(col("q_id"), col("n_id"), col("cos"), col("proberank"))
    val nps = s.createDataFrame(CurveNprobes.map(Tuple1(_))).toDF("nprobe")
    val cand = scored.crossJoin(broadcast(nps))
      .filter(col("proberank") <= col("nprobe"))
    val top = graft.plans.TopK.perKey(cand, Seq("q_id", "nprobe"),
      Seq(col("cos").desc, col("n_id").asc), 5)
    val ann = top.select(col("q_id"), col("nprobe"), col("n_id"), lit(1).as("hit"))
    val brute = Similarity.sKnnBrute(s, dir).select(col("q_id"), col("n_id"))
    val nQ = probes.select(col("q_id")).distinct().agg(count(lit(1)).as("nq"))
    brute.crossJoin(broadcast(nps))
      .join(ann, Seq("q_id", "nprobe", "n_id"), "left")
      .groupBy(col("nprobe")).agg(count(col("hit")).as("n_hits"))
      .crossJoin(broadcast(nQ))
      .select(col("nprobe"), col("n_hits"),
        (col("n_hits").cast("double") / (lit(5.0) * col("nq").cast("double"))).as("recall"))
      .orderBy(col("nprobe"))
  }

  val sRecallCurveSql: String = {
    import Similarity.{kmAssignCte, kmRecenterCte}
    val iters = (1 to 2).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${iters.mkString(",\n")},
       |bk AS (
       |  SELECT n_id, nv, bucket FROM (
       |    SELECT p.p_id AS n_id, p.pv AS nv, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY p.p_id ORDER BY COALESCE(${cosSql("p.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
       |q AS (SELECT p_id AS q_id, pv AS qv FROM pts WHERE p_id % 50 = 0),
       |pr AS (
       |  SELECT q_id, qv, bucket, rn AS proberank FROM (
       |    SELECT q.q_id, q.qv, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY COALESCE(${cosSql("q.qv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM q CROSS JOIN c2 c)),
       |nps AS (SELECT unnest([${CurveNprobes.mkString(", ")}]) AS nprobe),
       |sc AS (
       |  SELECT pr.q_id, bk.n_id, ${cosSql("pr.qv", "bk.nv")} AS cs, pr.proberank
       |  FROM bk JOIN pr USING (bucket) WHERE bk.n_id <> pr.q_id),
       |ann AS (SELECT q_id, nprobe, n_id FROM (
       |  SELECT s.q_id, n.nprobe, s.n_id,
       |    row_number() OVER (PARTITION BY s.q_id, n.nprobe ORDER BY s.cs DESC NULLS LAST, s.n_id) AS rnk
       |  FROM sc s JOIN nps n ON s.proberank <= n.nprobe)
       |  WHERE rnk <= 5),
       |bscored AS (
       |  SELECT q.q_id, p.p_id AS n_id, ${cosSql("q.qv", "p.pv")} AS cos
       |  FROM q CROSS JOIN pts p WHERE p.p_id <> q.q_id),
       |brute AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM bscored)
       |  WHERE rnk <= 5),
       |nq AS (SELECT COUNT(*) AS n FROM q)
       |SELECT np.nprobe, COUNT(a.n_id) AS n_hits,
       |  CAST(COUNT(a.n_id) AS DOUBLE) / (5.0 * CAST(nq.n AS DOUBLE)) AS recall
       |FROM brute b CROSS JOIN nps np
       |LEFT JOIN ann a ON a.q_id = b.q_id AND a.n_id = b.n_id AND a.nprobe = np.nprobe,
       |nq
       |GROUP BY np.nprobe, nq.n ORDER BY np.nprobe""".stripMargin
  }

  // ------------------------------------------------------------------ s_ood

  /** s_ood: OUT-OF-DISTRIBUTION detection by distance-to-centroid — the
    * embedding-space noise filter a training pipeline runs after encoding
    * (mislabeled rows, encoder failures and genuine outliers all land far
    * from their label's mass; SemDeDup keeps the nearest-to-centroid,
    * this flags the farthest-from-centroid): each vector scores by cosine
    * to its OWN label's centroid, computed against the exact DECIMAL SUM
    * vector (cosine is scale-invariant, so the sum IS the centroid — no
    * per-element division, the s_centroid_drift trick), and flags below
    * 0.0 (anti-correlated with its own label's mass — the bottom ~10 % on
    * this corpus, so both verdicts are exercised every run).
    *
    * Parity: the dot/norm folds run left-to-right over doubles derived
    * from the decimal sums on BOTH engines (Spark aggregate ≡ DuckDB
    * list_reduce), final score pinned.
    *
    * Scale shape: ONE label-keyed aggregation (VectorDecimalSum — O(1)
    * plan size at any dim) to a |labels|-row centroid table that
    * BROADCASTS back into a narrow scoring scan; the corpus never
    * shuffles. At 100 TB this composes with the label-partitioned layout
    * the same way s_filtered_knn's predicate does. */
  def sOod(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val sumVec = org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.VectorDecimalSum(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(col("embedding")), 64)
        .toAggregateExpression())
    val cents = e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_label"), sumVec.as("m"))
    val dot = "aggregate(zip_with(ed, md, (x, y) -> x * y), 0D, (a, p) -> a + p)"
    val ee  = "aggregate(zip_with(ed, ed, (x, y) -> x * y), 0D, (a, p) -> a + p)"
    val mm  = "aggregate(zip_with(md, md, (x, y) -> x * y), 0D, (a, p) -> a + p)"
    e.join(broadcast(cents), "label")
      .withColumn("ed", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("md", expr("transform(m, x -> CAST(x AS DOUBLE))"))
      .withColumn("cos_centroid", graft.functions.OracleParity.x6(
        expr(s"$dot / (sqrt($ee) * sqrt($mm))")))
      .select(col("vec_id"), col("label"), col("n_label"),
        col("cos_centroid"), (col("cos_centroid") < 0.0).as("is_ood"))
      .orderBy(col("vec_id"))
  }

  val sOodSql: String = {
    val dot = "list_reduce([ed[i+1] * md[i+1] for i in range(0, 64)], (p, q) -> p + q)"
    val ee  = "list_reduce([ed[i+1] * ed[i+1] for i in range(0, 64)], (p, q) -> p + q)"
    val mm  = "list_reduce([md[i+1] * md[i+1] for i in range(0, 64)], (p, q) -> p + q)"
    s"""WITH cents AS (
       |  SELECT label, MIN(cnt) AS n_label, list(sd ORDER BY d) AS md FROM (
       |    SELECT label, d, COUNT(*) AS cnt,
       |      CAST(SUM(CAST(CAST(embedding[d] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS sd
       |    FROM (SELECT label, embedding, unnest(range(1, 65)) AS d FROM embeddings)
       |    GROUP BY label, d)
       |  GROUP BY label),
       |sc AS (
       |  SELECT e.vec_id, e.label, CAST(c.n_label AS BIGINT) AS n_label,
       |    CAST(CAST($dot / (sqrt($ee) * sqrt($mm)) AS DECIMAL(18,6)) AS DOUBLE) AS cos_centroid
       |  FROM (SELECT vec_id, label,
       |          [CAST(x AS DOUBLE) for x in embedding] AS ed
       |        FROM embeddings) e
       |  JOIN cents c ON e.label = c.label)
       |SELECT vec_id, label, n_label, cos_centroid, cos_centroid < 0.0 AS is_ood
       |FROM sc ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- s_elbow

  private val ElbowKs = Seq(2, 4, 8)

  /** s_elbow: the K-SELECTION (elbow) curve — inertia (Σ min squared
    * distance) after 2 Lloyd iterations at k ∈ {2, 4, 8}: the number an
    * IVF build or SemDeDup clustering reads to pick its cluster budget
    * (inertia falls monotonically in k; the elbow is where more cells
    * stop paying). Each k's model comes from the SAME cached trainer the
    * production operators use (fitCached — k=8/iters=2 is literally the
    * IVF gate's model, shared via StageCache), and inertia is
    * order-invariant: the per-point squared distance is a deterministic
    * double chain (p·p − 2·p·c + c·c, the engine-wide fold), frozen to
    * DECIMAL(38,12) per term before the sum.
    *
    * Scale shape: per k, one broadcast-centroid assign pass over the
    * corpus and one map-side-partial agg to ONE row — the elbow curve
    * costs |Ks| corpus scans and shuffles |Ks| rows. */
  def sElbow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val pts = Tables.embeddings(s, dir)
      .select(col("vec_id").as("p_id"), col("embedding").cast("array<double>").as("p_vec"))
    val rows = ElbowKs.map { k =>
      val cents = fitCached(s, dir, k = k, iters = 2)
      graft.similarity.Kmeans.assign(s, pts, cents)
        .agg(count(lit(1)).as("n_points"),
          sum(col("d").cast(DecimalType(38, 12))).cast(DoubleType).as("inertia"))
        .select(lit(k).as("k"), col("n_points"), col("inertia"))
    }
    rows.reduce(_.unionByName(_)).orderBy(col("k"))
  }

  val sElbowSql: String = {
    def dist(p: String, c: String) =
      s"${dotSql(s"$p.pv", s"$p.pv")} - 2 * ${dotSql(s"$p.pv", s"$c.cv")} + ${dotSql(s"$c.cv", s"$c.cv")}"
    val stacks = ElbowKs.map { k =>
      val iters = (1 to 2).flatMap(i => Seq(
        kmAssignCte("pts", s"k${k}_c${i - 1}", s"k${k}_a$i"),
        kmRecenterCte(s"k${k}_a$i", s"k${k}_c$i")))
      s"""k${k}_c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv
         |             FROM embeddings ORDER BY vec_id LIMIT $k),
         |${iters.mkString(",\n")},
         |k${k}_fin AS (
         |  SELECT p_id, d FROM (
         |    SELECT p.p_id, ${dist("p", "c")} AS d,
         |      row_number() OVER (PARTITION BY p.p_id
         |        ORDER BY ${dist("p", "c")}, c.c_id) AS rn
         |    FROM pts p CROSS JOIN k${k}_c2 c) WHERE rn = 1)""".stripMargin
    }
    val selects = ElbowKs.map(k =>
      s"""SELECT $k AS k, COUNT(*) AS n_points,
         |  CAST(SUM(CAST(d AS DECIMAL(38,12))) AS DOUBLE) AS inertia FROM k${k}_fin""".stripMargin)
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |${stacks.mkString(",\n")}
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY k""".stripMargin
  }

  // --------------------------------------------------------------- s_purity

  /** s_purity: CLUSTER PURITY against ground-truth labels — the external
    * clustering-quality check beside s_silhouette's internal one (and
    * the audit SemDeDup-style cluster blocking deserves: low-purity
    * clusters mix semantics and over-collapse on dedup): per k-means
    * cluster (the SAME cached k=8/3-iteration model as s_kmeans), the
    * member count, majority label (ties → smallest label id) and the
    * purity share as one pinned division. Exact integers until that
    * division.
    *
    * Scale shape: one broadcast-centroid assign pass, one (cluster,
    * label)-keyed count whose per-cluster argmax rides the same
    * clustering (max_by on the rollup — no window), k output rows. */
  def sPurity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val e = Tables.embeddings(s, dir)
    val pts = e.select(col("vec_id").as("p_id"),
      col("embedding").cast("array<double>").as("p_vec"))
    val assigned = graft.similarity.Kmeans
      .assign(s, pts, fitCached(s, dir, k = 8, iters = 3))
      .join(e.select(col("vec_id").as("p_id"), col("label")), "p_id")
    val cells = assigned.groupBy(col("c_id"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    cells.groupBy(col("c_id"))
      .agg(sum(col("cnt")).as("n_members"),
        max_by(struct(col("label"), col("cnt")),
          struct(col("cnt"), -col("label"))).as("m"))
      .select(col("c_id"), col("n_members"),
        col("m.label").as("majority_label"), col("m.cnt").as("majority_n"),
        (col("m.cnt").cast(DoubleType) / col("n_members").cast(DoubleType))
          .as("purity"))
      .orderBy(col("c_id"))
  }

  val sPuritySql: String = {
    val iters = (1 to 3).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"),
      kmRecenterCte(s"a$i", s"c$i")))
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv
       |       FROM embeddings ORDER BY vec_id LIMIT 8),
       |${iters.mkString(",\n")},
       |${kmAssignCte("pts", "c3", "a4")},
       |cells AS (
       |  SELECT a.c_id, e.label, COUNT(*) AS cnt
       |  FROM a4 a JOIN embeddings e ON e.vec_id = a.p_id
       |  GROUP BY a.c_id, e.label),
       |mj AS (
       |  SELECT c_id, CAST(SUM(cnt) AS BIGINT) AS n_members,
       |    MAX_BY(label, cnt * 1000 - label) AS majority_label,
       |    MAX(cnt) AS majority_n
       |  FROM cells GROUP BY c_id)
       |SELECT c_id, n_members, majority_label, CAST(majority_n AS BIGINT) AS majority_n,
       |  CAST(majority_n AS DOUBLE) / CAST(n_members AS DOUBLE) AS purity
       |FROM mj ORDER BY c_id""".stripMargin
  }

  // ------------------------------------------------------------ s_norm_hist

  /** s_norm_hist: EMBEDDING-NORM distribution — the encoder-health
    * monitor beside s_centroid_drift's directional one: a norm
    * distribution that shifts between corpus snapshots means the encoder
    * (or its input preprocessing) changed, and un-normalized outliers
    * poison dot-product retrieval. Norms come from the engine-wide
    * left-fold dot product (deterministic double), bucketed by
    * floor(norm·8) — a fixed-width integer binning both engines compute
    * from the identical IEEE value.
    *
    * Scale shape: one narrow fold riding the scan + one map-side-partial
    * aggregation to a bucket-bounded output. */
  def sNormHist(s: SparkSession, dir: String): DataFrame = {
    val dot = "aggregate(zip_with(ed, ed, (x, y) -> x * y), 0D, (a, p) -> a + p)"
    Tables.embeddings(s, dir)
      .withColumn("ed", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("norm", expr(s"sqrt($dot)"))
      .select(floor(col("norm") * 8).cast("long").as("norm_bucket"), col("norm"))
      .groupBy(col("norm_bucket"))
      .agg(count(lit(1)).as("n"),
        graft.functions.OracleParity.x6(min(col("norm"))).as("min_norm"),
        graft.functions.OracleParity.x6(max(col("norm"))).as("max_norm"))
      .orderBy(col("norm_bucket"))
  }

  val sNormHistSql: String = {
    val dot = "list_reduce([ed[i+1] * ed[i+1] for i in range(0, 64)], (p, q) -> p + q)"
    s"""WITH e AS (SELECT [CAST(x AS DOUBLE) for x in embedding] AS ed FROM embeddings),
       |n AS (SELECT sqrt($dot) AS norm FROM e)
       |SELECT CAST(floor(norm * 8) AS BIGINT) AS norm_bucket, COUNT(*) AS n,
       |  CAST(CAST(MIN(norm) AS DECIMAL(18,6)) AS DOUBLE) AS min_norm,
       |  CAST(CAST(MAX(norm) AS DECIMAL(18,6)) AS DOUBLE) AS max_norm
       |FROM n GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------ s_mrr

  /** s_mrr: MEAN-RECIPROCAL-RANK retrieval evaluation — s_recall's
    * position-aware sibling (recall@5 says WHETHER truth was retrieved;
    * MRR says HOW HIGH the first true neighbor landed, which is what a
    * RAG context window actually experiences): per query the first
    * IVF-probe rank whose id is in the exact brute-force top-5, rr =
    * 1/rank (0 when the probe missed entirely). Per-query rows are the
    * gate; the corpus MRR folds from the bounded frame. rr values are
    * pinned per query so the metric aggregates identically at any
    * partitioning.
    *
    * Scale shape: both ranked lists are k·|Q| id sets (s_recall's
    * budget); the hit join and min ride the bounded frame. */
  def sMrr(s: SparkSession, dir: String): DataFrame = {
    val brute = Similarity.sKnnBrute(s, dir).select(col("q_id"), col("n_id"))
    val ann = Similarity.sKnnIvf(s, dir)
      .select(col("q_id"), col("n_id"), col("rnk").cast("long").as("rnk"))
    val firsts = ann.join(brute, Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(min(col("rnk")).as("first_hit_rank"))
    brute.select(col("q_id")).distinct()
      .join(firsts, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("first_hit_rank"), lit(0L)).as("first_hit_rank"),
        when(col("first_hit_rank").isNotNull,
          lit(1.0) / col("first_hit_rank").cast("double")).otherwise(lit(0.0))
          .as("rr"))
      .orderBy(col("q_id"))
  }

  val sMrrSql: String = {
    // the s_recall oracle's CTE stack (IVF replay + brute truth), with a
    // min-first-hit-rank tail instead of the hit count
    val iters = (1 to 2).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${iters.mkString(",\n")},
       |bk AS (
       |  SELECT n_id, nv, bucket FROM (
       |    SELECT p.p_id AS n_id, p.pv AS nv, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY p.p_id ORDER BY COALESCE(${cosSql("p.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
       |q AS (SELECT p_id AS q_id, pv AS qv FROM pts WHERE p_id % 50 = 0),
       |pr AS (
       |  SELECT q_id, qv, bucket FROM (
       |    SELECT q.q_id, q.qv, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY COALESCE(${cosSql("q.qv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM q CROSS JOIN c2 c) WHERE rn <= 2),
       |sc AS (
       |  SELECT pr.q_id, b.n_id, ${cosSql("pr.qv", "b.nv")} AS cs
       |  FROM pr JOIN bk b ON b.bucket = pr.bucket AND b.n_id <> pr.q_id),
       |ann AS (SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC NULLS LAST, n_id) AS rnk FROM sc)
       |  WHERE rnk <= 5),
       |bscored AS (
       |  SELECT q.q_id, p.p_id AS n_id, ${cosSql("q.qv", "p.pv")} AS cos
       |  FROM q CROSS JOIN pts p WHERE p.p_id <> q.q_id),
       |brute AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM bscored)
       |  WHERE rnk <= 5),
       |firsts AS (
       |  SELECT a.q_id, MIN(a.rnk) AS fh
       |  FROM ann a JOIN brute b ON b.q_id = a.q_id AND b.n_id = a.n_id
       |  GROUP BY a.q_id)
       |SELECT q.q_id, CAST(COALESCE(f.fh, 0) AS BIGINT) AS first_hit_rank,
       |  CASE WHEN f.fh IS NOT NULL THEN 1.0 / CAST(f.fh AS DOUBLE) ELSE 0.0 END AS rr
       |FROM (SELECT DISTINCT q_id FROM brute) q LEFT JOIN firsts f ON f.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin
  }

  // ------------------------------------------------------------ s_dim_stats

  /** s_dim_stats: PER-DIMENSION embedding statistics — the
    * dead/collapsed-dimension detector (a dimension whose variance
    * collapses after an encoder change wastes PQ codebook bits and
    * flattens cosine contrast; this is the per-axis view s_norm_hist's
    * per-vector view can't give): per dimension the exact decimal sum
    * and sum of squares (per-term double products frozen to
    * DECIMAL(38,12) — the q_hhi discipline), mean and variance as
    * pinned chains, plus a near-zero-variance flag.
    *
    * Scale shape: one explode to (dim, x) pairs + ONE dim-keyed
    * map-side-partial aggregation to 64 rows; at 100 TB this rides the
    * same pass that computes VectorDecimalSum centroids. */
  def sDimStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d38 = DecimalType(38, 12)
    Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .select((col("d") + 1).as("dim"), col("x").cast(DoubleType).as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"))
      .select(col("dim"), col("n"),
        graft.functions.OracleParity.x6(
          col("sx").cast(DoubleType) / col("n").cast(DoubleType)).as("mean"),
        graft.functions.OracleParity.x6(
          (col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) /
            (col("n").cast(DoubleType) * col("n").cast(DoubleType))).as("variance"),
        (graft.functions.OracleParity.x6(
          (col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) /
            (col("n").cast(DoubleType) * col("n").cast(DoubleType))) < lit(0.001))
          .as("is_dead"))
      .orderBy(col("dim"))
  }

  val sDimStatsSql: String =
    """WITH px AS (
      |  SELECT d AS dim, CAST(embedding[d] AS DOUBLE) AS x
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS d) ds),
      |m AS (
      |  SELECT dim, COUNT(*) AS n,
      |    SUM(CAST(x AS DECIMAL(38,12))) AS sx,
      |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
      |  FROM px GROUP BY dim)
      |SELECT dim, n,
      |  CAST(CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean,
      |  CAST(CAST((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS variance,
      |  CAST(CAST((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) < 0.001 AS is_dead
      |FROM m ORDER BY dim""".stripMargin

  // --------------------------------------------------------------- s_ndcg

  /** 1/log2(r+1) discount weights for ranks 1..5 and their prefix sums,
    * PRE-ROUNDED to the 6-decimal convention in Scala and embedded as
    * identical literals in both engines — the only logs in the operator,
    * never computed at runtime (ln is libm-dependent; Benford's-law gate
    * set the precedent). */
  private val NdcgW: Seq[Double] = Seq(1.0, 0.630930, 0.5, 0.430677, 0.386853)
  private val NdcgIdcg: Seq[Double] = NdcgW.scanLeft(0.0) { (a, w) =>
    BigDecimal(a + w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** s_ndcg: nDCG@5 retrieval evaluation — the GRADED ranking metric
    * beside s_recall (set overlap) and s_mrr (first hit): position r
    * contributes rel_r/log2(r+1), so early hits dominate. Relevance is
    * label agreement with the query (the standard proxy when no human
    * judgments exist); IDCG for binary relevance is the discount prefix
    * sum at the hit count, looked up from the same literal table.
    *
    * Parity: relevance is an exact 0/1; each DCG term is a shared
    * pre-rounded literal (or 0), summed order-independently in DECIMAL;
    * nDCG is ONE pinned division.
    *
    * Scale shape: rides s_knn_brute's bounded-panel contract (broadcast
    * queries, corpus never shuffles), two broadcast-able label joins,
    * one query-keyed rollup. */
  def sNdcg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val labels = e.select(col("vec_id"), col("label"))
    val wArr = array(NdcgW.map(lit): _*)
    val iArr = array(NdcgIdcg.map(lit): _*)
    // no broadcast hints: the label table is CORPUS-sized (unbounded at
    // 100 TB) — let size-based planning / AQE decide, per the engine rule
    // against forcing corpus-derived broadcasts
    val hits = Similarity.sKnnBrute(s, dir)
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .join(labels.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
      .withColumn("rel", when(col("q_label") === col("n_label"), 1L).otherwise(0L))
      .withColumn("term", when(col("rel") === 1L, element_at(wArr, col("rnk").cast("int")))
        .otherwise(lit(0.0)))
    hits.groupBy(col("q_id"))
      .agg(sum(col("rel")).as("hits"),
        graft.functions.OracleParity.xsum(col("term")).as("dcg"))
      .withColumn("idcg", element_at(iArr, (col("hits") + 1L).cast("int")))
      .withColumn("ndcg", when(col("hits") > 0,
        graft.functions.OracleParity.x6(col("dcg") / col("idcg"))).otherwise(lit(0.0)))
      .select(col("q_id"), col("hits"), col("dcg"), col("idcg"), col("ndcg"))
      .orderBy(col("q_id"))
  }

  val sNdcgSql: String = {
    val wLits = NdcgW.mkString(", ")
    val iLits = NdcgIdcg.mkString(", ")
    s"""WITH brute AS (${Similarity.sKnnBruteSql}),
       |t AS (
       |  SELECT b.q_id, b.rnk,
       |    CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel,
       |    CASE WHEN ql.label = nl.label THEN ([$wLits])[CAST(b.rnk AS INT)] ELSE 0.0 END AS term
       |  FROM brute b
       |  JOIN embeddings ql ON ql.vec_id = b.q_id
       |  JOIN embeddings nl ON nl.vec_id = b.n_id),
       |a AS (
       |  SELECT q_id, CAST(SUM(rel) AS BIGINT) AS hits,
       |    CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS dcg
       |  FROM t GROUP BY q_id)
       |SELECT q_id, hits, dcg,
       |  ([$iLits])[CAST(hits + 1 AS INT)] AS idcg,
       |  CASE WHEN hits > 0 THEN
       |    CAST(CAST(dcg / ([$iLits])[CAST(hits + 1 AS INT)] AS DECIMAL(18,6)) AS DOUBLE)
       |  ELSE 0.0 END AS ndcg
       |FROM a ORDER BY q_id""".stripMargin
  }

  // ------------------------------------------------------- s_knn_classify

  /** s_knn_classify: LEAVE-ONE-OUT k-NN classification accuracy per label
    * — the standard "are these embeddings any good for this labeling"
    * eval (fit-free, no training): each panel query is classified by the
    * majority label of its 5 brute-force neighbors (ties → smallest
    * label), scored against its own label, reported per class. The
    * intrinsic-quality companion to s_purity (cluster-level) and s_ndcg
    * (ranking-level).
    *
    * Parity: votes are exact counts; the winner is a deterministic
    * (count DESC, label ASC) argmax; accuracy is ONE pinned division.
    *
    * Scale shape: rides s_knn_brute's bounded-panel contract; vote
    * rollup and the winner window are per-query (≤|labels| rows each);
    * final per-class aggregate is ≤|labels| rows. */
  def sKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val labels = e.select(col("vec_id"), col("label"))
    // corpus-sized label table: no broadcast hint (see s_ndcg)
    val votes = Similarity.sKnnBrute(s, dir)
      .join(labels.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
      .groupBy(col("q_id"), col("n_label")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cnt").desc, col("n_label"))
    val pred = votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("n_label").as("predicted"))
    pred
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .groupBy(col("q_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("predicted") === col("q_label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("q_label").as("label"), col("n_queries"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_queries").cast("double")).as("accuracy"))
      .orderBy(col("label"))
  }

  val sKnnClassifySql: String =
    s"""WITH brute AS (${Similarity.sKnnBruteSql}),
       |votes AS (
       |  SELECT b.q_id, nl.label AS n_label, COUNT(*) AS cnt
       |  FROM brute b JOIN embeddings nl ON nl.vec_id = b.n_id
       |  GROUP BY b.q_id, nl.label),
       |pred AS (
       |  SELECT q_id, n_label AS predicted FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cnt DESC, n_label) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT ql.label AS label, COUNT(*) AS n_queries,
       |  CAST(SUM(CASE WHEN p.predicted = ql.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(SUM(CASE WHEN p.predicted = ql.label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
       |FROM pred p JOIN embeddings ql ON ql.vec_id = p.q_id
       |GROUP BY ql.label ORDER BY label""".stripMargin

  // --------------------------------------------------------- s_probe_cost

  /** s_probe_cost: the COST axis of the nprobe tuning curve —
    * candidates scanned per query at each operating point
    * (s_recall_curve gives the recall axis; together they are the
    * recall-vs-cost tradeoff an ANN operator is actually tuned on, and
    * what IvfIndex.tuneNprobe's recall SLO implicitly prices). No
    * distance is computed anywhere: cost is pure bucket-membership
    * counting, so the gate isolates the scan volume from the scoring.
    *
    * Parity: all counts exact integers; the per-query average is the
    * only pinned division. Scale shape: probe ranks from a
    * |queries|×|centroids| broadcast cross, ONE bucket-membership join
    * counted per (query, nprobe), two bounded rollups. */
  def sProbeCost(s: SparkSession, dir: String): DataFrame = {
    val (probeFrame, path) = ivfProbeFrame(s, dir)
    val probes = probeFrame.select(col("q_id"), col("bucket"), col("proberank"))
    val nps = s.createDataFrame(CurveNprobes.map(Tuple1(_))).toDF("nprobe")
    val perQ = s.read.parquet(s"$path/buckets")
      .join(broadcast(probes), "bucket")
      .filter(col("n_id") =!= col("q_id"))
      .crossJoin(broadcast(nps))
      .filter(col("proberank") <= col("nprobe"))
      .groupBy(col("q_id"), col("nprobe")).agg(count(lit(1)).as("c"))
    perQ.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_queries"), sum(col("c")).as("total_candidates"),
        min(col("c")).as("min_per_q"), max(col("c")).as("max_per_q"))
      .select(col("nprobe"), col("n_queries"), col("total_candidates"),
        col("min_per_q"), col("max_per_q"),
        (col("total_candidates").cast("double") /
          col("n_queries").cast("double")).as("avg_per_q"))
      .orderBy(col("nprobe"))
  }

  val sProbeCostSql: String = {
    import Similarity.{cosSql, kmAssignCte, kmRecenterCte}
    val iters = (1 to 2).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    val npList = CurveNprobes.map(n => s"($n)").mkString(", ")
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${iters.mkString(",\n")},
       |bk AS (
       |  SELECT n_id, bucket FROM (
       |    SELECT p.p_id AS n_id, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY p.p_id ORDER BY COALESCE(${cosSql("p.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
       |q AS (SELECT p_id AS q_id, pv AS qv FROM pts WHERE p_id % 50 = 0),
       |pr AS (
       |  SELECT q_id, bucket, rn AS proberank FROM (
       |    SELECT q.q_id, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY COALESCE(${cosSql("q.qv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM q CROSS JOIN c2 c)),
       |perq AS (
       |  SELECT pr.q_id, np.nprobe, COUNT(*) AS c
       |  FROM pr JOIN bk b ON b.bucket = pr.bucket AND b.n_id <> pr.q_id
       |  CROSS JOIN (VALUES $npList) np(nprobe)
       |  WHERE pr.proberank <= np.nprobe
       |  GROUP BY pr.q_id, np.nprobe)
       |SELECT nprobe, COUNT(*) AS n_queries, CAST(SUM(c) AS BIGINT) AS total_candidates,
       |  MIN(c) AS min_per_q, MAX(c) AS max_per_q,
       |  CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_per_q
       |FROM perq GROUP BY nprobe ORDER BY nprobe""".stripMargin
  }

  // ------------------------------------------------------------- s_margin

  /** s_margin: 1-NN vs 2-NN COSINE MARGIN per query — the per-query
    * retrieval-confidence signal (a wide margin means the top hit is
    * unambiguous; a near-zero margin means rank 1 and 2 are
    * interchangeable and downstream consumers should treat the result as
    * a tie — the retrieval analog of t_langid_margin's abstain rule).
    * Ambiguity threshold 0.02 on the RAW margin (identical IEEE value in
    * both engines via the shared left-fold dot product) so the boolean
    * can't straddle a rounding boundary.
    *
    * Scale shape: the query panel broadcasts over the corpus scan; the
    * per-query top-2 rides the k-bounded TopKPerKey shuffle; output is
    * |queries| rows. */
  def sMargin(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
      .crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_sim(q_vec, n_vec)"))
      .select(col("q_id"), col("n_id"), col("cos"))
    val top2 = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("cos").desc, col("n_id").asc), 2)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    val ranked = top2.withColumn("rnk", row_number().over(w))
    val x6 = graft.functions.OracleParity.x6 _
    ranked.groupBy(col("q_id"))
      .agg(max(when(col("rnk") === 1, col("n_id"))).as("n1_id"),
        max(when(col("rnk") === 1, col("cos"))).as("cos1"),
        max(when(col("rnk") === 2, col("cos"))).as("cos2"))
      .select(col("q_id"), col("n1_id"), x6(col("cos1")).as("cos1"),
        x6(col("cos2")).as("cos2"),
        x6(col("cos1") - col("cos2")).as("margin"),
        (col("cos1") - col("cos2") < 0.02).as("ambiguous"))
      .orderBy(col("q_id"))
  }

  val sMarginSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id AS n_id, ${cosSql("qe", "e.embedding")} AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q_id),
       |r AS (
       |  SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM scored),
       |p AS (
       |  SELECT q_id,
       |    MAX(CASE WHEN rnk = 1 THEN n_id END) AS n1_id,
       |    MAX(CASE WHEN rnk = 1 THEN cos END) AS cos1,
       |    MAX(CASE WHEN rnk = 2 THEN cos END) AS cos2
       |  FROM r WHERE rnk <= 2 GROUP BY q_id)
       |SELECT q_id, n1_id,
       |  CAST(CAST(cos1 AS DECIMAL(18,6)) AS DOUBLE) AS cos1,
       |  CAST(CAST(cos2 AS DECIMAL(18,6)) AS DOUBLE) AS cos2,
       |  CAST(CAST(cos1 - cos2 AS DECIMAL(18,6)) AS DOUBLE) AS margin,
       |  cos1 - cos2 < 0.02 AS ambiguous
       |FROM p ORDER BY q_id""".stripMargin

  // -------------------------------------------------------- s_calibration

  /** s_calibration: the RETRIEVAL CALIBRATION CURVE — per cosine bin,
    * what fraction of retrieved top-5 neighbors actually share the
    * query's label. This is how a similarity threshold is PICKED (what
    * cosine buys what precision — s_range_search's radius, d_semdedup's
    * cut, t_decontam's match bar all come from exactly this curve) and
    * how encoder regressions surface (the curve flattens). Bins are
    * floor(cos·10) — floor of the identical IEEE cosine is exact in both
    * engines.
    *
    * Scale shape: the brute top-5 panel (broadcast queries + TopKPerKey)
    * with two broadcast label joins and a ≤20-row rollup. */
  def sCalibration(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
        col("label").as("n_label"))
      .crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_sim(q_vec, n_vec)"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"), col("cos"))
    val top = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("cos").desc, col("n_id").asc), 5)
    val x6 = graft.functions.OracleParity.x6 _
    top.select(floor(col("cos") * 10).cast("long").as("cos_bin"),
        when(col("n_label") === col("q_label"), 1L).otherwise(0L).as("same"))
      .groupBy(col("cos_bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("same")).as("n_same_label"))
      .select(col("cos_bin"), col("n_pairs"), col("n_same_label"),
        (col("n_same_label").cast("double") / col("n_pairs").cast("double"))
          .as("precision"))
      .orderBy(col("cos_bin"))
  }

  val sCalibrationSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS q_label
       |           FROM embeddings WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, q_label, e.vec_id AS n_id, e.label AS n_label,
       |    ${cosSql("qe", "e.embedding")} AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q_id),
       |top AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |    FROM scored) WHERE rnk <= 5)
       |SELECT CAST(floor(cos * 10) AS BIGINT) AS cos_bin, COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same_label,
       |  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS precision
       |FROM top GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("s_calibration", sCalibration _, sCalibrationSql),
    Gate("s_margin", sMargin _, sMarginSql),
    Gate("s_probe_cost", sProbeCost _, sProbeCostSql),
    Gate("s_ndcg", sNdcg _, sNdcgSql),
    Gate("s_knn_classify", sKnnClassify _, sKnnClassifySql),
    Gate("s_dim_stats", sDimStats _, sDimStatsSql),
    Gate("s_mrr", sMrr _, sMrrSql),
    Gate("s_mutual_knn", sMutualKnn _, sMutualKnnSql),
    Gate("s_recall_curve", sRecallCurve _, sRecallCurveSql),
    Gate("s_ood", sOod _, sOodSql),
    Gate("s_elbow", sElbow _, sElbowSql),
    Gate("s_purity", sPurity _, sPuritySql),
    Gate("s_norm_hist", sNormHist _, sNormHistSql),
  )
}
