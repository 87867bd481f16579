package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.{Kmeans, Knn}
import graft.Ckpt._

/** Similarity-search queries (SURVEY.md §2E). Top-k queries emit
  * (q_id, n_id, rank) — ids and ranks, stable across engines because
  * cosine is computed with the identical fold order on both sides and
  * ties break on n_id. Raw doubles ARE allowed in output when (and only
  * when) the producing expression is fold-order-pinned on both engines —
  * s_range_search's `cos` (left-fold CosineSim vs list_reduce) is the
  * pattern; d_containment's integer-derived ratios are the other safe
  * class. Unpinned float math (different reduction order, fma, etc.)
  * stays out of output columns. */
object Similarity {

  private def queriesSubset(e: DataFrame): DataFrame = e.filter(col("vec_id") % 50 === 0)

  /** Session-scoped trained-centroid cache over the embeddings corpus,
    * keyed by (session, dataset, k, iters) — s_kmeans/s_silhouette share
    * one (8,3) training and s_knn_ivf/s_ivfpq_search one (8,2), exactly
    * as a pipeline reuses a trained model instead of refitting per
    * consumer (the same sharing pattern as DedupQ's signature stage).
    * Kmeans.fit is deterministic, so sharing cannot change any gate. */
  private[queries] def fitCached(s: SparkSession, dir: String, k: Int, iters: Int): DataFrame =
    graft.StageCache.getOrCompute(s, s"sim:$dir:centroids:$k:$iters") {
      Kmeans.fit(s, Tables.embeddings(s, dir), "vec_id", "embedding", k, iters)
        .cpLazy
    }

  /** Release this dataset's cached trained models (StageCache lifecycle —
    * same contract as DedupQ.release). */
  def release(s: SparkSession, dir: String): Int =
    graft.StageCache.release(s, s"sim:$dir:")

  /** s_knn_brute: exact top-5 cosine neighbors per query vector. */
  def sKnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Knn.bruteForce(s, e, queriesSubset(e), "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** DuckDB dot product and cosine with the same left-fold summation
    * order as CosineSim — the oracle SQL every cosine gate shares. */
  private[queries] def dotSql(x: String, y: String) =
    s"list_reduce([CAST($x[i+1] AS DOUBLE) * CAST($y[i+1] AS DOUBLE) for i in range(0, len($x))], (p, q) -> p + q)"
  private[queries] def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  val sKnnBruteSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id AS n_id, ${cosSql("qe", "e.embedding")} AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** s_filtered_knn: FILTERED vector search — the production retrieval
    * shape every vector store supports (metadata predicate AND nearest
    * neighbors, e.g. "top-5 within this tenant/language"): each query
    * retrieves among corpus vectors sharing its label only. The filter
    * rides the JOIN CONDITION, so pruning happens before any distance is
    * computed — at scale the same predicate becomes a partition filter on
    * a label-partitioned layout (IvfIndex's probe pattern composes: prune
    * by label directory, then by coarse cell). */
  def sFilteredKnn(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
    val q = queriesSubset(e).select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"), col("label").as("q_label"))
    val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
        col("label"))
      .join(broadcast(q), col("label") === col("q_label") && col("n_id") =!= col("q_id"))
      .withColumn("cos", coalesce(expr("cosine_sim(q_vec, n_vec)"), lit(-1.0)))
      .select(col("q_id"), col("n_id"), col("cos"))
    val top = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("cos").desc, col("n_id").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val sFilteredKnnSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS q_label
       |           FROM embeddings WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id AS n_id,
       |    COALESCE(${cosSql("qe", "e.embedding")}, -1.0) AS cos
       |  FROM q JOIN embeddings e ON e.label = q.q_label AND e.vec_id <> q.q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** Radius cutoff for s_range_search — deliberately BELOW the band
    * tuning's cos ≥ 0.9 near-dup regime (EmbedLsh.Threshold): the raw
    * synthetic embeddings max out at cos ≈ 0.46, and radius search is the
    * one query where a low-cos band-blocked SAMPLE is the documented
    * semantics (the oracle mirrors the blocking, so the gate compares
    * exactly). d_embed_neardup is the query at the tuned operating point. */
  private val RangeThreshold = 0.3

  /** s_range_search: RADIUS search — every corpus vector with cos ≥ θ of
    * each query vector, not a fixed top-k (the "everything this similar"
    * question retrieval dedup and blocklist matching ask). Scale path:
    * hyperplane band keys block the candidate space exactly like
    * d_embed_neardup, but query-vs-corpus instead of self-join — band
    * collisions are the only pairs scored, so the work is
    * O(|Q|·bucket), never |Q|·N. The oracle mirrors the blocking, so the
    * gate compares exactly; recall semantics are the band tuning's. */
  def sRangeSearch(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.EmbedLsh
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val bk = e.select(col("vec_id"), explode(EmbedLsh.bandKeys(col("embedding"))).as("bk"))
    // the query set is BOUNDED by construction (≤200 ids at any corpus
    // size), which is what justifies forcing it to be the broadcast build
    // side — the corpus band table streams past it. A corpus-proportional
    // query set must NOT take this hint: drop the broadcast and let the
    // join degrade to a shuffle, which is then the correct plan.
    val cands = broadcast(bk.filter(col("vec_id") % 10 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("q_id"), col("bk")))
      .join(bk.select(col("vec_id").as("n_id"), col("bk")), Seq("bk"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()
    val eq = e.select(col("vec_id").as("q_id"), col("embedding").as("q_e"))
    val ec = e.select(col("vec_id").as("n_id"), col("embedding").as("n_e"))
    cands.join(eq, "q_id").join(ec, "n_id")
      .withColumn("cos", expr("cosine_sim(q_e, n_e)"))
      .filter(col("cos") >= RangeThreshold)
      .select(col("q_id"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("n_id"))
  }

  val sRangeSearchSql: String =
    s"""WITH ${graft.dedup.EmbedLsh.bandsCteSql()},
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |         FROM bk q JOIN bk c ON q.bk = c.bk
       |         WHERE q.vec_id % 10 = 0 AND q.vec_id < 2000 AND c.vec_id <> q.vec_id)
       |SELECT q_id, n_id, cos FROM (
       |  SELECT q_id, n_id, ${cosSql("eq.embedding", "ec.embedding")} AS cos
       |  FROM cand JOIN embeddings eq ON eq.vec_id = q_id
       |            JOIN embeddings ec ON ec.vec_id = n_id)
       |WHERE cos >= $RangeThreshold ORDER BY q_id, n_id""".stripMargin

  /** Collision-free per-dataset index location (same convention as the
    * ingest round-trip staging paths). */
  private[queries] def ivfPath(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // pid-scoped: a concurrent gate + bench run over the same dataset must
    // not overwrite-build the index files the other process is probing
    s"/tmp/graft_ivf_${h}_${ProcessHandle.current().pid()}"
  }

  /** s_knn_ivf: ANN through the PERSISTED IVF index — build once (trained
    * centroids, bucket-partitioned corpus on disk), then probe with static
    * partition pruning; nprobe=2. Approximation lives in the algorithm, not
    * the execution: the full build+probe is deterministic and hash-checked
    * against sKnnIvfSql; IvfIndexSpec checks pruning, idempotency and
    * recall. C is
    * pinned to 8 here (not the √N default) so the gate result is stable
    * across scale factors. */
  def sKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val path = ivfPath(dir)
    graft.similarity.IvfIndex.build(s, e, "vec_id", "embedding", path,
      numCentroids = Some(8), iters = 2,
      pretrained = Some(fitCached(s, dir, k = 8, iters = 2)))
    graft.similarity.IvfIndex.probe(s, path, queriesSubset(e), "vec_id", "embedding",
        k = 5, nprobe = 2)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** s_knn_ivf_append: the index INGESTION path as a gate — build the IVF
    * index over half the corpus (centroids trained on that half only),
    * APPEND the other half against the persisted centroids with no
    * retrain (O(|new|) ingestion, crash-safe rename commit), then probe.
    * Deterministic end-to-end: the result is exactly a full-corpus index
    * whose coarse quantizer was trained on the initial half — which is
    * what the SQL oracle replays. IvfIndexSpec separately pins the
    * crash/idempotency contract of the append machinery. */
  def sKnnIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val even = e.filter(col("vec_id") % 2 === 0)
    val path = ivfPath(dir) + "_app"
    val cent = graft.StageCache.getOrCompute(s, s"sim:$dir:centroids:app8:2") {
      Kmeans.fit(s, even, "vec_id", "embedding", 8, iters = 2).cpLazy
    }
    graft.similarity.IvfIndex.build(s, even, "vec_id", "embedding", path,
      numCentroids = Some(8), iters = 2, pretrained = Some(cent))
    graft.similarity.IvfIndex.append(s, path,
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    graft.similarity.IvfIndex.probe(s, path, queriesSubset(e), "vec_id", "embedding",
        k = 5, nprobe = 2)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Oracle: the sKnnIvfSql pipeline with training restricted to the even
    * half (ptse) — bucket assignment and probing still span the full
    * corpus, exactly the post-append layout. */
  val sKnnIvfAppendSql: String = {
    val iters = (1 to 2).flatMap(i => Seq(
      kmAssignCte("ptse", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |ptse AS (SELECT p_id, pv FROM pts WHERE p_id % 2 = 0),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv
       |       FROM embeddings WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
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
       |  SELECT pr.q_id, bk.n_id, ${cosSql("pr.qv", "bk.nv")} AS cs
       |  FROM bk JOIN pr USING (bucket) WHERE bk.n_id <> pr.q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC NULLS LAST, n_id) AS rnk FROM sc)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** s_ivf_stats: the index-health report behind IvfIndex's documented
    * rebuild contract ("rebuild when bucket imbalance degrades") — per
    * bucket, its population and share of the corpus. An operator watches
    * the max share drift from 1/C as the distribution shifts; the share
    * is an integer-derived ratio (safe output class). C-row output. */
  def sIvfStats(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cent = fitCached(s, dir, k = 8, iters = 2)
    val buckets = Knn.assignBuckets(s, e, cent, "vec_id", "embedding")
    val n = buckets.count()
    buckets.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("bucket"), col("n_vecs"),
        (col("n_vecs").cast("double") / lit(n.toDouble)).as("share"))
      .orderBy(col("bucket"))
  }

  val sIvfStatsSql: String = {
    val iters = (1 to 2).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${iters.mkString(",\n")},
       |bk AS (
       |  SELECT n_id, bucket FROM (
       |    SELECT p.p_id AS n_id, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY p.p_id ORDER BY COALESCE(${cosSql("p.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM pts p CROSS JOIN c2 c) WHERE rn = 1)
       |SELECT bucket, COUNT(*) AS n_vecs,
       |  CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM bk) AS share
       |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** s_kmeans: deterministic Lloyd clustering (decimal-sum centroids) —
    * cluster-size profile after 3 iterations, hash-checked against the
    * unrolled-iteration DuckDB oracle (sKmeansSql); KmeansSpec checks
    * convergence properties. */
  def sKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val centroids = fitCached(s, dir, k = 8, iters = 3)
    val points = e.select(col("vec_id").as("p_id"),
      col("embedding").cast("array<double>").as("p_vec"))
    graft.similarity.Kmeans.assign(s, points, centroids)
      .groupBy(col("c_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("c_id"))
  }

  /** s_quantize: int8 embedding quantization — the storage-compression step
    * that makes 100 TB-scale ANN tractable (4× smaller vectors, SIMD-able
    * int dot products). Symmetric per-vector scheme: scale = max |x|,
    * q = floor(127·x/scale + 0.5) (half-up in both engines, unlike
    * round()'s half-even ambiguity). Entirely narrow — no shuffle; every
    * arithmetic step runs in double on both engines so the gate hashes the
    * full quantized sequence via a fingerprint plus exact scalar probes. */
  def sQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("m", expr("aggregate(embedding, 0.0D, (a, x) -> greatest(a, abs(cast(x AS double))))"))
      .withColumn("q8", expr(
        """CASE WHEN m = 0.0D THEN transform(embedding, x -> 0L)
          |ELSE transform(embedding, x -> cast(floor(cast(x AS double) * 127 / m + 0.5D) AS bigint)) END""".stripMargin))
      .select(col("vec_id"), size(col("embedding")).as("n_dims"),
        col("m").as("scale"),
        expr("aggregate(q8, 0L, (a, x) -> a + x)").as("sum_q8"),
        md5(concat_ws(",", expr("transform(q8, x -> cast(x AS string))"))).as("q8_fp"))
      .orderBy(col("vec_id"))

  val sQuantizeSql: String =
    """SELECT vec_id, n_dims, CAST(m AS DOUBLE) AS scale,
      |  CAST(list_sum(q8) AS BIGINT) AS sum_q8,
      |  md5(array_to_string(q8, ',')) AS q8_fp
      |FROM (
      |  SELECT vec_id, len(embedding) AS n_dims, m,
      |    CASE WHEN m = 0 THEN list_transform(embedding, x -> 0::BIGINT)
      |         ELSE list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127 / m + 0.5) AS BIGINT)) END AS q8
      |  FROM (SELECT vec_id, embedding,
      |          list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m
      |        FROM embeddings))
      |ORDER BY vec_id""".stripMargin

  /** s_sq8_search: top-k search THROUGH the scalar-quantized store — the
    * SQ8 configuration (s_quantize's per-vector max-abs int8 codes) used
    * as the search representation, not just a storage win: the corpus is
    * touched as 1-byte codes (4× narrower scans than float32), every dot
    * product is EXACT int64 arithmetic, and because dequantization is a
    * per-vector scalar (m/127), the quantized vectors' cosine equals
    * intdot/√(qq·nn) with the scales cancelling — so the ONLY floating
    * ops are one division and two sqrts of exact integers, bit-identical
    * across engines. Plan shape = brute force over codes (the SQ8
    * baseline; IVF pruning composes in front exactly as in s_ivfpq). */
  def sSq8Search(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    def quantized(df: DataFrame): DataFrame = df
      .withColumn("m", expr("aggregate(embedding, 0.0D, (a, x) -> greatest(a, abs(cast(x AS double))))"))
      .withColumn("q8", expr(
        """CASE WHEN m = 0.0D THEN transform(embedding, x -> 0L)
          |ELSE transform(embedding, x -> cast(floor(cast(x AS double) * 127 / m + 0.5D) AS bigint)) END""".stripMargin))
      .withColumn("qq", expr("aggregate(zip_with(q8, q8, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
    val corpus = quantized(e).select(col("vec_id").as("n_id"),
      col("q8").as("n8"), col("qq").as("nqq"))
    val qs = quantized(queriesSubset(e)).select(col("vec_id").as("q_id"),
      col("q8").as("qb8"), col("qq").as("qqq"))
    val scored = corpus.crossJoin(broadcast(qs))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("d", expr("aggregate(zip_with(n8, qb8, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
      .withColumn("ac", when(col("nqq") === 0L || col("qqq") === 0L, lit(-1.0))
        .otherwise(col("d").cast("double") /
          (sqrt(col("qqq").cast("double")) * sqrt(col("nqq").cast("double")))))
      .select(col("q_id"), col("n_id"), col("ac"))
    val top = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("ac").desc, col("n_id").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ac").desc, col("n_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val sSq8SearchSql: String = {
    def intDot(a: String, b: String) =
      s"list_reduce([$a[i+1] * $b[i+1] for i in range(0, len($a))], (p, q) -> p + q)"
    s"""WITH qz AS (
       |  SELECT vec_id,
       |    CASE WHEN m = 0 THEN list_transform(embedding, x -> 0::BIGINT)
       |         ELSE list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127 / m + 0.5) AS BIGINT)) END AS q8
       |  FROM (SELECT vec_id, embedding,
       |          list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m
       |        FROM embeddings)),
       |qn AS (SELECT vec_id, q8, ${intDot("q8", "q8")} AS qq FROM qz),
       |q AS (SELECT vec_id AS q_id, q8 AS qb8, qq AS qqq FROM qn WHERE vec_id % 50 = 0),
       |c AS (SELECT vec_id AS n_id, q8 AS n8, qq AS nqq FROM qn),
       |scored AS (
       |  SELECT q_id, n_id,
       |    CASE WHEN nqq = 0 OR qqq = 0 THEN -1.0
       |         ELSE CAST(${intDot("n8", "qb8")} AS DOUBLE) /
       |              (sqrt(CAST(qqq AS DOUBLE)) * sqrt(CAST(nqq AS DOUBLE))) END AS ac
       |  FROM c, q WHERE n_id <> q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ac DESC, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** MMR weights — written as literal doubles ON BOTH ENGINES (never
    * derive 0.3 as 1−0.7, which is 0.30000000000000004 in binary). */
  private val MmrLambdaRel = "0.7"
  private val MmrLambdaDiv = "0.3"
  private val MmrDepth = 10
  private val MmrK = 5

  /** s_mmr: Maximal Marginal Relevance diversified retrieval — the
    * RAG-stack re-ranker that trades raw relevance for coverage: after
    * the top-10 cosine candidates, picks greedily maximize
    * λ·rel(i) − (1−λ)·max_{j∈picked} sim(i, j), so near-duplicate hits
    * can't crowd the context window. Greedy selection is sequential by
    * definition; expressed Spark-first it is K−1 unrolled argmax rounds
    * over K-BOUNDED frames (candidates are 10·|Q| rows, pairwise sims
    * ≤ 100·|Q| — both broadcast-sized at any corpus scale, since the
    * corpus only participates in the initial top-k). All scores are
    * pinned-order double arithmetic on the established cosine parity,
    * ties break on n_id — the oracle replays the same unrolled greedy. */
  def sMmr(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
    val q = queriesSubset(e).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
      .crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("rel", coalesce(expr("cosine_sim(q_vec, n_vec)"), lit(-1.0)))
      .select(col("q_id"), col("n_id"), col("rel"), col("n_vec"))
    val cand = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("rel").desc, col("n_id").asc), MmrDepth).cpLazy
    // pairwise candidate sims within each query's pool (≤ depth²·|Q| rows)
    val sims = cand.select(col("q_id"), col("n_id").as("a_id"), col("n_vec").as("a_vec"))
      .join(cand.select(col("q_id"), col("n_id").as("b_id"), col("n_vec").as("b_vec")), "q_id")
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("sim", coalesce(expr("cosine_sim(a_vec, b_vec)"), lit(-1.0)))
      .select(col("q_id"), col("a_id"), col("b_id"), col("sim"))
      .cpLazy
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    var selected = cand.withColumn("score", col("rel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("n_id"), lit(1).as("pick_rank"))
    for (step <- 2 to MmrK) {
      val remaining = cand.join(selected.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_anti")
      val maxSim = sims
        .join(selected.select(col("q_id"), col("n_id").as("b_id")), Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id").as("n_id"))
        .agg(max(col("sim")).as("max_sim"))
      val pick = remaining.join(maxSim, Seq("q_id", "n_id"), "left")
        .withColumn("score", expr(s"$MmrLambdaRel * rel - $MmrLambdaDiv * COALESCE(max_sim, -1.0D)"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("q_id"), col("n_id"), lit(step).as("pick_rank"))
      // flatten per-round lineage: round r's anti-join + max-sim would
      // otherwise recompute every earlier round's windows (frames are
      // k·|Q|-sized, so each checkpoint is a tiny job)
      selected = selected.unionByName(pick).cpEager
    }
    selected.orderBy(col("q_id"), col("pick_rank"))
  }

  val sMmrSql: String = {
    val steps = (2 to MmrK).map { k =>
      s"""s$k AS (
         |  SELECT q_id, n_id, $k AS pick_rank FROM (
         |    SELECT c.q_id, c.n_id,
         |      ROW_NUMBER() OVER (PARTITION BY c.q_id ORDER BY
         |        $MmrLambdaRel * c.rel - $MmrLambdaDiv * COALESCE(ms.max_sim, -1.0) DESC, c.n_id) AS rn
         |    FROM cand c
         |    LEFT JOIN (SELECT s.q_id, s.a_id AS n_id, MAX(s.sim) AS max_sim
         |               FROM sims s JOIN sel${k - 1} p ON p.q_id = s.q_id AND p.n_id = s.b_id
         |               GROUP BY s.q_id, s.a_id) ms
         |      ON ms.q_id = c.q_id AND ms.n_id = c.n_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} p2
         |                      WHERE p2.q_id = c.q_id AND p2.n_id = c.n_id))
         |  WHERE rn = 1),
         |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, e.vec_id AS n_id, [x::DOUBLE for x in e.embedding] AS nv,
       |    COALESCE(${cosSql("qe", "e.embedding")}, -1.0) AS rel
       |  FROM q, embeddings e WHERE e.vec_id <> q_id),
       |cand AS (SELECT q_id, n_id, nv, rel FROM (
       |  SELECT q_id, n_id, nv, rel,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rnk
       |  FROM scored) WHERE rnk <= $MmrDepth),
       |sims AS (
       |  SELECT a.q_id, a.n_id AS a_id, b.n_id AS b_id,
       |    COALESCE(${cosSql("a.nv", "b.nv")}, -1.0) AS sim
       |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id),
       |s1 AS (SELECT q_id, n_id, 1 AS pick_rank FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rn
       |  FROM cand) WHERE rn = 1),
       |sel1 AS (SELECT * FROM s1),
       |$steps
       |SELECT q_id, n_id, pick_rank FROM sel$MmrK ORDER BY q_id, pick_rank""".stripMargin
  }

  /** DuckDB oracle for s_kmeans: the THREE Lloyd iterations unrolled as CTE
    * pairs (assign → recenter), then the gate's final assignment counted.
    * Exact parity holds because every step of Kmeans.fit is deterministic:
    * id-ordered seeds, the same left-fold dot products (dotSql — parity
    * proven by s_knn_brute), row_number(d, c_id) = min_by's lexicographic
    * argmin, and DECIMAL(38,12) entry-rounded sums = VectorDecimalSum's
    * scale-12 HALF_UP buffer, cast to double before the /n division in
    * both engines. Dim is pinned to 64 (the embeddings table width). */
  private[queries] def kmAssignCte(pts: String, cs: String, out: String): String =
    s"""$out AS (
       |  SELECT p_id, pv, c_id FROM (
       |    SELECT p.p_id, p.pv, c.c_id,
       |      row_number() OVER (PARTITION BY p.p_id ORDER BY
       |        ${dotSql("p.pv", "p.pv")} - 2 * ${dotSql("p.pv", "c.cv")} + ${dotSql("c.cv", "c.cv")}, c.c_id) AS rn
       |    FROM $pts p CROSS JOIN $cs c) WHERE rn = 1)""".stripMargin

  private[queries] def kmRecenterCte(a: String, out: String, dim: Int = 64): String =
    s"""$out AS (
       |  SELECT c_id, list(sd ORDER BY d) AS cv FROM (
       |    SELECT c_id, d, CAST(SUM(CAST(pv[d] AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS sd
       |    FROM (SELECT c_id, pv, unnest(range(1, ${dim + 1})) AS d FROM $a)
       |    GROUP BY c_id, d)
       |  GROUP BY c_id)""".stripMargin

  val sKmeansSql: String = {
    val iters = (1 to 3).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${iters.mkString(",\n")},
       |${kmAssignCte("pts", "c3", "a4")}
       |SELECT c_id, COUNT(*) AS n FROM a4 GROUP BY c_id ORDER BY c_id""".stripMargin
  }

  /** DuckDB oracle for s_knn_ivf: the whole IVF pipeline replayed in SQL —
    * the gate's index build (k=8 Lloyd, TWO iterations, same CTEs as the
    * s_kmeans oracle), cosine bucket assignment (max_by ties → smallest
    * c_id ⇒ row_number(c_cos DESC, c_id)), nprobe=2 probes, in-bucket
    * scoring with self-exclusion, and the k=5 rank window. Approximation
    * lives in the ALGORITHM (probed buckets), not the execution, so the
    * result is exactly reproducible and hash-checkable. */
  val sKnnIvfSql: String = {
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
       |  SELECT pr.q_id, bk.n_id, ${cosSql("pr.qv", "bk.nv")} AS cs
       |  FROM bk JOIN pr USING (bucket) WHERE bk.n_id <> pr.q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC NULLS LAST, n_id) AS rnk FROM sc)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** PQ shape: 64 dims → 4 subspaces × 16 dims, 4 codewords each, one
    * Lloyd iteration from id-ordered seeds. */
  private val PqM = 4
  private val PqSubDim = 16
  private val PqK = 4

  /** s_pq: PRODUCT quantization — the vector-compression scheme real ANN
    * stores run at 100 TB (a 64-dim float vector compresses to M=4 byte
    * codes; distances approximate as sums of per-subspace codeword
    * distances). Each subspace trains its own tiny codebook with the SAME
    * deterministic Lloyd machinery as s_kmeans (id-ordered seeds,
    * decimal-exact recentering, lexicographic argmin ties) and assigns
    * every vector's subvector to its nearest codeword. Output: the code
    * word per subspace per vector — the compressed representation itself.
    *
    * Scale shape: per subspace, training touches only 16 of 64 dims and
    * the codebook is k rows (broadcast); all M code columns come from ONE
    * narrow projection over the corpus (pqCodes) — the codebooks are k·M
    * collected rows inlined as literals, so code assembly never joins or
    * shuffles the corpus. */
  /** Per-subspace (subvectors, trained codebook) — shared by s_pq (emits
    * the codes) and s_pq_search (scores through them). Codebooks are the
    * trained model of the PQ family: cached per (session, corpus key) like
    * centroidCache — s_pq, s_pq_search and s_ivfpq_search quantize the
    * same raw corpus and must score through the SAME codebooks anyway
    * (the residual variant trains on its own residual corpus under its
    * own key). Kmeans.fit is deterministic, so sharing cannot change any
    * gate. */
  private def pqParts(s: SparkSession, e: DataFrame, cacheKey: String): Seq[(DataFrame, DataFrame)] = {
    val subs = (0 until PqM).map { m =>
      e.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), m * PqSubDim + 1, PqSubDim).as("emb"))
    }
    val books = subs.zipWithIndex.map { case (sub, m) =>
      graft.StageCache.getOrCompute(s, s"sim:$cacheKey:pqbook:$m") {
        Kmeans.fit(s, sub, "vec_id", "emb", PqK, iters = 1).cpLazy
      }
    }
    subs.zip(books)
  }

  /** The materialized code table (vec_id + M byte codes — the compressed
    * corpus, N narrow rows): the artifact a PQ store persists once and
    * every searcher reads. Cached per (session, corpus key) so the ADC
    * gates score through one build. */
  private def pqCodesCached(s: SparkSession, e: DataFrame, books: Seq[DataFrame],
      cacheKey: String): DataFrame =
    graft.StageCache.getOrCompute(s, s"sim:$cacheKey:pqcodes") {
      pqCodes(s, e, books).cpLazy
    }

  /** vec_id + code_0..code_{M-1} in ONE projection: per subspace, the
    * argmin over the k literal codewords is an array_min over
    * (distance, c_id) structs — the same sqEuclidean fold and the same
    * lexicographic tie rule as Kmeans.assign's min_by, so the codes are
    * value-identical to an assign() per subspace, with zero joins where
    * the old reduce(join("vec_id")) form paid M−1 keyed corpus shuffles. */
  private def pqCodes(s: SparkSession, e: DataFrame, books: Seq[DataFrame]): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val codeCols = books.zipWithIndex.map { case (cb, m) =>
      val rows = cb.select(col("c_id"), col("c_vec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      val sub = slice(col("embedding").cast("array<double>"), m * PqSubDim + 1, PqSubDim)
      val cands = array(rows.map { case (cid, cvec) =>
        struct(
          coalesce(Kmeans.sqEuclidean(sub, typedLit(cvec)), lit(Double.MaxValue)).as("d"),
          lit(cid).as("c_id"))
      }: _*)
      array_min(cands).getField("c_id").as(s"code_$m")
    }
    e.select(col("vec_id") +: codeCols: _*)
  }

  def sPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    pqCodesCached(s, e, pqParts(s, e, s"$dir:raw").map(_._2), s"$dir:raw")
      .orderBy(col("vec_id"))
  }

  /** Per-subspace training CTEs (pts_m, seed c0_m, one Lloyd round to
    * c1_m, final assignment f_m) — the SQL mirror of pqParts. */
  private val pqCtesSql: String = (0 until PqM).map { m =>
    val (lo, hi) = (m * PqSubDim + 1, (m + 1) * PqSubDim)
    s"""pts_$m AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding[$lo:$hi]] AS pv FROM embeddings),
       |c0_$m AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding[$lo:$hi]] AS cv
       |          FROM embeddings ORDER BY vec_id LIMIT $PqK),
       |${kmAssignCte(s"pts_$m", s"c0_$m", s"a1_$m")},
       |${kmRecenterCte(s"a1_$m", s"c1_$m", PqSubDim)},
       |${kmAssignCte(s"pts_$m", s"c1_$m", s"f_$m")}""".stripMargin
  }.mkString(",\n")

  val sPqSql: String = {
    val joins = (1 until PqM).map(m => s"JOIN f_$m ON f_$m.p_id = f_0.p_id").mkString(" ")
    val outCols = (0 until PqM).map(m => s"f_$m.c_id AS code_$m").mkString(", ")
    s"""WITH $pqCtesSql
       |SELECT f_0.p_id AS vec_id, $outCols
       |FROM f_0 $joins
       |ORDER BY vec_id""".stripMargin
  }

  /** s_pq_search: ADC (asymmetric distance computation) top-k through the
    * PQ codes — how a 100 TB ANN store actually scores: the corpus is
    * touched ONLY as M byte codes per vector; each query precomputes an
    * M×k lookup table of exact query-subvector↔codeword distances (|Q|·M·k
    * rows — broadcastable by construction), and every vector's
    * approximate distance is a k-bounded sum of LUT entries. The ranked
    * result flows through the custom TopKPerKey operator, so the shuffle
    * carries ≤ |Q|·k rows. Approximation lives in the PQ algorithm; the
    * execution is deterministic and exactly mirrored by the oracle. */
  /** Per-query M×k ADC lookup tables: exact query-subvector↔codeword
    * squared distances, |Q|·M·k rows total — broadcastable by
    * construction. Shared by s_pq_search (whole-corpus ADC) and
    * s_ivfpq_search (bucket-pruned ADC). */
  private def pqLuts(parts: Seq[(DataFrame, DataFrame)]): Seq[DataFrame] =
    parts.zipWithIndex.map { case ((sub, centroids), m) =>
      queriesSubset(sub)
        .select(col("vec_id").as("q_id"), col("emb").as("q_vec"))
        .crossJoin(broadcast(centroids))
        .withColumn(s"d_$m", Kmeans.sqEuclideanExpr("q_vec", "c_vec"))
        .select(col("q_id"), col("c_id").as(s"code_$m"), col(s"d_$m"))
    }

  def sPqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val parts = pqParts(s, e, s"$dir:raw")
    val luts = pqLuts(parts)
    // the cached code table (N rows × M byte codes — the compressed
    // corpus) feeds the LUT fold as compact materialized rows instead of
    // re-running the literal-codebook argmin projection inside every join
    val codes = pqCodesCached(s, e, parts.map(_._2), s"$dir:raw")
    val scored = luts.zipWithIndex.foldLeft(codes) { case (df, (lut, m)) =>
      val keys = if (m == 0) Seq(s"code_$m") else Seq("q_id", s"code_$m")
      df.join(broadcast(lut), keys)
    }
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (0 until PqM).map(m => col(s"d_$m")).reduce(_ + _).as("ad"))
    val top = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("ad").asc, col("n_id").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ad"), col("n_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val sPqSearchSql: String = {
    val luts = (0 until PqM).map { m =>
      s"""lut_$m AS (
         |  SELECT q.p_id AS q_id, c.c_id, ${dotSql("q.pv", "q.pv")} - 2 * ${dotSql("q.pv", "c.cv")} + ${dotSql("c.cv", "c.cv")} AS d_$m
         |  FROM (SELECT p_id, pv FROM pts_$m WHERE p_id % 50 = 0) q CROSS JOIN c1_$m c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(m => s"JOIN f_$m ON f_$m.p_id = f_0.p_id").mkString(" ")
    val lutJoins = (0 until PqM).map { m =>
      if (m == 0) s"JOIN lut_0 ON lut_0.c_id = f_0.c_id"
      else s"JOIN lut_$m ON lut_$m.q_id = lut_0.q_id AND lut_$m.c_id = f_$m.c_id"
    }.mkString(" ")
    val adSum = (0 until PqM).map(m => s"lut_$m.d_$m").mkString(" + ")
    s"""WITH $pqCtesSql,
       |$luts,
       |scored AS (
       |  SELECT lut_0.q_id, f_0.p_id AS n_id, $adSum AS ad
       |  FROM f_0 $codeJoins $lutJoins
       |  WHERE f_0.p_id <> lut_0.q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** s_ivfpq_search: IVF + PQ composed — the canonical billion-scale ANN
    * configuration (an inverted file prunes the candidate set, ADC scores
    * what remains through byte codes): a coarse quantizer (the same
    * deterministic k=8 Lloyd as s_knn_ivf's index build) buckets the
    * corpus; each query probes its nprobe=2 nearest coarse centroids and
    * ADC-scores ONLY the vectors in those buckets through the M=4 PQ
    * codes. Candidate work drops to ~nprobe/C of the corpus AND each
    * candidate costs M LUT adds instead of a 64-dim float dot — the two
    * multiplicative savings that make ANN tractable at 100 TB (corpus
    * touched as byte codes, coarse assignment pruned at the storage
    * layer, exactly IvfIndex's partition-filter probe shape).
    *
    * This variant encodes RAW vectors (codebooks shared with s_pq);
    * production IVFADC refines by PQ-encoding residuals x − centroid —
    * same plan shape, one extra subtraction before encoding. Output is
    * deterministic (fold-order-pinned distances, ties on n_id) and
    * exactly replayed by the DuckDB oracle. */
  /** The IVF+PQ ADC candidate frame (q_id, n_id, ad) — shared by
    * s_ivfpq_search (direct top-k) and s_ivfpq_rerank (shortlist +
    * exact refine). */
  private def ivfPqAdcScored(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.functions.VectorExpressions.register(s)
    // coarse quantizer + corpus bucket assignment (aggregation argmax —
    // no window over the N·C scored rows); the (8,2) model is shared
    // with s_knn_ivf's index build through the session cache
    val coarse = fitCached(s, dir, k = 8, iters = 2)
    val buckets = Knn.assignBuckets(s, e, coarse, "vec_id", "embedding")
      .select(col("n_id").as("vec_id"), col("bucket"))
    // per-query probe list: nprobe=2 nearest coarse centroids
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("c_id"))
    val probes = queriesSubset(e)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .crossJoin(broadcast(coarse))
      .withColumn("c_cos", coalesce(expr("cosine_sim(q_vec, c_vec)"), lit(-1.0)))
      .withColumn("r", row_number().over(wProbe)).filter(col("r") <= 2)
      .select(col("q_id"), col("c_id").as("bucket"))
    // compressed corpus: M byte codes + coarse bucket per vector
    val parts = pqParts(s, e, s"$dir:raw")
    val codes = pqCodesCached(s, e, parts.map(_._2), s"$dir:raw")
      .join(buckets, "vec_id").cpEager
    // bucket pruning FIRST (broadcast probe list), then the ADC LUT fold
    val pruned = codes.join(broadcast(probes), Seq("bucket"))
    pqLuts(parts).zipWithIndex.foldLeft(pruned) { case (df, (lut, m)) =>
      df.join(broadcast(lut), Seq("q_id", s"code_$m"))
    }
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (0 until PqM).map(m => col(s"d_$m")).reduce(_ + _).as("ad"))
  }

  def sIvfPqSearch(s: SparkSession, dir: String): DataFrame = {
    val scored = ivfPqAdcScored(s, dir)
    val top = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("ad").asc, col("n_id").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ad"), col("n_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Shortlist factor for the re-rank refine: k' = RerankFactor · k ADC
    * candidates feed the exact pass (the FAISS-standard refine ratio). */
  val RerankFactor = 3

  /** s_ivfpq_rerank: the standard PRODUCTION configuration s_ivfpq_search
    * stops short of — ADC ranks a k' = 3k shortlist through the byte
    * codes, then the shortlist ONLY is re-scored with exact cosine
    * against the full vectors and the final top-k comes from the exact
    * scores. This converts PQ's quantization error into recall: ADC only
    * has to keep the true neighbors inside the top-3k (cheap), exactness
    * comes from k'·|Q| full-width dot products instead of N·|Q|. Scale
    * shape: the shortlist (with its query vectors) is k'·|Q| rows —
    * broadcast into ONE corpus-keyed join that fetches candidate vectors;
    * the corpus is still never scanned at full width for scoring. */
  def sIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val shortlist = graft.plans.TopK.perKey(ivfPqAdcScored(s, dir), Seq("q_id"),
      Seq(col("ad").asc, col("n_id").asc), 5 * RerankFactor)
    val qv = queriesSubset(e)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // exact refine: fetch candidate vectors by ONE broadcast id join
    val exact = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
      .join(broadcast(shortlist.join(broadcast(qv), Seq("q_id"))), Seq("n_id"))
      .withColumn("cos", coalesce(expr("cosine_sim(q_vec, n_vec)"), lit(-1.0)))
    val top = graft.plans.TopK.perKey(exact, Seq("q_id"),
      Seq(col("cos").desc, col("n_id").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Oracle: coarse training + bucket assignment + probes replayed with
    * the s_knn_ivf CTEs, subspace training/codes/LUTs with the s_pq /
    * s_pq_search CTEs, candidates restricted to probed buckets. */
  val sIvfPqSearchSql: String = {
    val coarseIters = (1 to 2).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    val luts = (0 until PqM).map { m =>
      s"""lut_$m AS (
         |  SELECT q.p_id AS q_id, c.c_id, ${dotSql("q.pv", "q.pv")} - 2 * ${dotSql("q.pv", "c.cv")} + ${dotSql("c.cv", "c.cv")} AS d_$m
         |  FROM (SELECT p_id, pv FROM pts_$m WHERE p_id % 50 = 0) q CROSS JOIN c1_$m c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(m => s"JOIN f_$m ON f_$m.p_id = f_0.p_id").mkString(" ")
    val lutJoins = (0 until PqM).map { m =>
      if (m == 0) s"JOIN lut_0 ON lut_0.c_id = f_0.c_id"
      else s"JOIN lut_$m ON lut_$m.q_id = lut_0.q_id AND lut_$m.c_id = f_$m.c_id"
    }.mkString(" ")
    val adSum = (0 until PqM).map(m => s"lut_$m.d_$m").mkString(" + ")
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${coarseIters.mkString(",\n")},
       |bkt AS (
       |  SELECT n_id, bucket FROM (
       |    SELECT p.p_id AS n_id, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY p.p_id ORDER BY COALESCE(${cosSql("p.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
       |pr AS (
       |  SELECT q_id, bucket FROM (
       |    SELECT q.p_id AS q_id, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY q.p_id ORDER BY COALESCE(${cosSql("q.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM (SELECT p_id, pv FROM pts WHERE p_id % 50 = 0) q CROSS JOIN c2 c) WHERE rn <= 2),
       |$pqCtesSql,
       |$luts,
       |scored AS (
       |  SELECT lut_0.q_id, f_0.p_id AS n_id, $adSum AS ad
       |  FROM f_0 $codeJoins $lutJoins
       |  JOIN bkt ON bkt.n_id = f_0.p_id
       |  JOIN pr ON pr.bucket = bkt.bucket AND pr.q_id = lut_0.q_id
       |  WHERE f_0.p_id <> lut_0.q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** Oracle: the sIvfPqSearchSql pipeline to `scored`, shortlist at
    * rnk ≤ 3k, exact cosine against the raw vectors, final top-5 from
    * the exact scores. */
  val sIvfPqRerankSql: String = {
    val coarseIters = (1 to 2).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    val luts = (0 until PqM).map { m =>
      s"""lut_$m AS (
         |  SELECT q.p_id AS q_id, c.c_id, ${dotSql("q.pv", "q.pv")} - 2 * ${dotSql("q.pv", "c.cv")} + ${dotSql("c.cv", "c.cv")} AS d_$m
         |  FROM (SELECT p_id, pv FROM pts_$m WHERE p_id % 50 = 0) q CROSS JOIN c1_$m c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(m => s"JOIN f_$m ON f_$m.p_id = f_0.p_id").mkString(" ")
    val lutJoins = (0 until PqM).map { m =>
      if (m == 0) s"JOIN lut_0 ON lut_0.c_id = f_0.c_id"
      else s"JOIN lut_$m ON lut_$m.q_id = lut_0.q_id AND lut_$m.c_id = f_$m.c_id"
    }.mkString(" ")
    val adSum = (0 until PqM).map(m => s"lut_$m.d_$m").mkString(" + ")
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${coarseIters.mkString(",\n")},
       |bkt AS (
       |  SELECT n_id, bucket FROM (
       |    SELECT p.p_id AS n_id, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY p.p_id ORDER BY COALESCE(${cosSql("p.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
       |pr AS (
       |  SELECT q_id, bucket FROM (
       |    SELECT q.p_id AS q_id, c.c_id AS bucket,
       |      row_number() OVER (PARTITION BY q.p_id ORDER BY COALESCE(${cosSql("q.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM (SELECT p_id, pv FROM pts WHERE p_id % 50 = 0) q CROSS JOIN c2 c) WHERE rn <= 2),
       |$pqCtesSql,
       |$luts,
       |scored AS (
       |  SELECT lut_0.q_id, f_0.p_id AS n_id, $adSum AS ad
       |  FROM f_0 $codeJoins $lutJoins
       |  JOIN bkt ON bkt.n_id = f_0.p_id
       |  JOIN pr ON pr.bucket = bkt.bucket AND pr.q_id = lut_0.q_id
       |  WHERE f_0.p_id <> lut_0.q_id),
       |short AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, n_id) AS rnk
       |  FROM scored) WHERE rnk <= ${5 * RerankFactor}),
       |exact AS (
       |  SELECT s.q_id, s.n_id, COALESCE(${cosSql("q.pv", "n.pv")}, -1.0) AS cos
       |  FROM short s JOIN pts q ON q.p_id = s.q_id JOIN pts n ON n.p_id = s.n_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM exact)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** s_ivfpq_residual: RESIDUAL-encoded IVFADC — the production
    * refinement s_ivfpq_search's doc promises: PQ codebooks train on
    * x − centroid(bucket) rather than raw vectors, so the quantizer
    * spends its codewords on the within-cell distribution (residual
    * norms are much smaller and more isotropic than raw vectors —
    * the reason FAISS-style stores default to residual encoding), and
    * each query builds its ADC lookup table PER PROBED CELL from its own
    * residual against that cell's centroid. Plan shape is unchanged from
    * s_ivfpq_search — bucket pruning first, broadcast (q, bucket)-keyed
    * LUTs, corpus touched as codes, TopKPerKey ranking — the LUT just
    * grows nprobe× (still |Q|·nprobe·M·k rows, broadcastable by
    * construction). Every arithmetic step (centroid subtraction, Lloyd
    * on residuals, LUT sums) is fold-order-pinned, so the DuckDB oracle
    * replays the whole thing exactly. */
  def sIvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.functions.VectorExpressions.register(s)
    val coarse = fitCached(s, dir, k = 8, iters = 2)
    // (vec_id, bucket, residual) — residuals in double, exact subtraction
    val res = Knn.assignBuckets(s, e, coarse, "vec_id", "embedding")
      .join(broadcast(coarse.select(col("c_id").as("bucket"), col("c_vec"))), "bucket")
      .select(col("n_id").as("vec_id"), col("bucket"),
        expr("zip_with(cast(n_vec AS array<double>), c_vec, (a, b) -> a - b)").as("embedding"))
      .cpLazy
    // PQ training + code assembly run UNCHANGED over the residual frame
    val parts = pqParts(s, res, s"$dir:residual")
    val codes = pqCodesCached(s, res, parts.map(_._2), s"$dir:residual")
      .join(res.select(col("vec_id"), col("bucket")), "vec_id").cpEager
    // probes and per-(query, cell) residual LUTs
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("c_id"))
    val probes = queriesSubset(e)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .crossJoin(broadcast(coarse))
      .withColumn("c_cos", coalesce(expr("cosine_sim(q_vec, c_vec)"), lit(-1.0)))
      .withColumn("r", row_number().over(wProbe)).filter(col("r") <= 2)
      .select(col("q_id"), col("c_id").as("bucket"),
        expr("zip_with(cast(q_vec AS array<double>), c_vec, (a, b) -> a - b)").as("qr"))
      .cpLazy
    val pruned = codes.join(broadcast(probes.select(col("q_id"), col("bucket"))), Seq("bucket"))
    val scored = parts.map(_._2).zipWithIndex.foldLeft(pruned) { case (df, (cb, m)) =>
      val lut = probes
        .select(col("q_id"), col("bucket"),
          slice(col("qr"), m * PqSubDim + 1, PqSubDim).as("q_sub"))
        .crossJoin(broadcast(cb))
        .withColumn(s"d_$m", Kmeans.sqEuclidean(col("q_sub"), col("c_vec")))
        .select(col("q_id"), col("bucket"), col("c_id").as(s"code_$m"), col(s"d_$m"))
      df.join(broadcast(lut), Seq("q_id", "bucket", s"code_$m"))
    }
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (0 until PqM).map(m => col(s"d_$m")).reduce(_ + _).as("ad"))
    val top = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("ad").asc, col("n_id").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ad"), col("n_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Oracle: coarse CTEs with the centroid vector retained through bucket
    * assignment and probing, residuals as exact elementwise subtraction,
    * then the per-subspace Lloyd/code/LUT CTEs over residual slices. */
  val sIvfPqResidualSql: String = {
    val coarseIters = (1 to 2).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    val resPq = (0 until PqM).map { m =>
      val (lo, hi) = (m * PqSubDim + 1, (m + 1) * PqSubDim)
      s"""rpts_$m AS (SELECT vec_id AS p_id, rv[$lo:$hi] AS pv FROM res),
         |rc0_$m AS (SELECT vec_id AS c_id, rv[$lo:$hi] AS cv FROM res ORDER BY vec_id LIMIT $PqK),
         |${kmAssignCte(s"rpts_$m", s"rc0_$m", s"ra1_$m")},
         |${kmRecenterCte(s"ra1_$m", s"rc1_$m", PqSubDim)},
         |${kmAssignCte(s"rpts_$m", s"rc1_$m", s"rf_$m")}""".stripMargin
    }.mkString(",\n")
    val luts = (0 until PqM).map { m =>
      val (lo, hi) = (m * PqSubDim + 1, (m + 1) * PqSubDim)
      s"""lut_$m AS (
         |  SELECT q_id, bucket, c.c_id,
         |    ${dotSql("q.qsub", "q.qsub")} - 2 * ${dotSql("q.qsub", "c.cv")} + ${dotSql("c.cv", "c.cv")} AS d_$m
         |  FROM (SELECT q_id, bucket, qr[$lo:$hi] AS qsub FROM qres) q CROSS JOIN rc1_$m c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until PqM).map(m => s"JOIN rf_$m ON rf_$m.p_id = rf_0.p_id").mkString(" ")
    val lutJoins = (0 until PqM).map { m =>
      if (m == 0) "JOIN lut_0 ON lut_0.bucket = res.bucket AND lut_0.c_id = rf_0.c_id"
      else s"JOIN lut_$m ON lut_$m.q_id = lut_0.q_id AND lut_$m.bucket = res.bucket AND lut_$m.c_id = rf_$m.c_id"
    }.mkString(" ")
    val adSum = (0 until PqM).map(m => s"lut_$m.d_$m").mkString(" + ")
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${coarseIters.mkString(",\n")},
       |bkt AS (
       |  SELECT n_id, bucket, cv FROM (
       |    SELECT p.p_id AS n_id, c.c_id AS bucket, c.cv AS cv,
       |      row_number() OVER (PARTITION BY p.p_id ORDER BY COALESCE(${cosSql("p.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
       |res AS (
       |  SELECT b.n_id AS vec_id, b.bucket,
       |    [p.pv[i] - b.cv[i] for i in range(1, 65)] AS rv
       |  FROM bkt b JOIN pts p ON p.p_id = b.n_id),
       |pr AS (
       |  SELECT q_id, bucket, cv FROM (
       |    SELECT q.p_id AS q_id, c.c_id AS bucket, c.cv AS cv,
       |      row_number() OVER (PARTITION BY q.p_id ORDER BY COALESCE(${cosSql("q.pv", "c.cv")}, -1.0) DESC, c.c_id) AS rn
       |    FROM (SELECT p_id, pv FROM pts WHERE p_id % 50 = 0) q CROSS JOIN c2 c) WHERE rn <= 2),
       |qres AS (
       |  SELECT pr.q_id, pr.bucket, [p.pv[i] - pr.cv[i] for i in range(1, 65)] AS qr
       |  FROM pr JOIN pts p ON p.p_id = pr.q_id),
       |$resPq,
       |$luts,
       |scored AS (
       |  SELECT lut_0.q_id, rf_0.p_id AS n_id, $adSum AS ad
       |  FROM rf_0 $codeJoins
       |  JOIN res ON res.vec_id = rf_0.p_id
       |  $lutJoins
       |  WHERE rf_0.p_id <> lut_0.q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** s_silhouette: clustering-quality evaluation for the trained k-means —
    * simplified silhouette (distances to CENTROIDS, not all-pairs points:
    * a = own-centroid distance, b = nearest-other-centroid distance,
    * s = (b−a)/max(a,b)), which is the only silhouette that exists at
    * 100 TB (the classic one is O(N²)). Per point the C=8 candidate
    * distances collapse through sort_array(collect_list) — a C-bounded
    * list per point, never a window sort over the N·C scored rows — and
    * the per-cluster mean is decimal-pinned. Every distance is the shared
    * sqEuclideanExpr fold, so doubles agree bitwise with the unrolled
    * DuckDB oracle; degenerate max(a,b)=0 pins to 0. */
  def sSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val centroids = fitCached(s, dir, k = 8, iters = 3)
    val points = e.select(col("vec_id").as("p_id"),
      col("embedding").cast("array<double>").as("p_vec"))
    val ab = points.crossJoin(broadcast(centroids))
      .withColumn("d", Kmeans.sqEuclideanExpr("p_vec", "c_vec"))
      .groupBy(col("p_id"))
      .agg(sort_array(collect_list(struct(
        coalesce(col("d"), lit(Double.MaxValue)).as("d"), col("c_id")))).as("ds"))
      .select(col("p_id"), col("ds")(0).getField("c_id").as("c_id"),
        sqrt(col("ds")(0).getField("d")).as("da"), sqrt(col("ds")(1).getField("d")).as("db"))
    ab.withColumn("s", when(greatest(col("da"), col("db")) === 0.0, lit(0.0))
        .otherwise((col("db") - col("da")) / greatest(col("da"), col("db"))))
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("n"),
        (sum(col("s").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)).cast("double")).as("avg_sil"))
      .orderBy(col("c_id"))
  }

  val sSilhouetteSql: String = {
    val iters = (1 to 3).flatMap(i => Seq(
      kmAssignCte("pts", s"c${i - 1}", s"a$i"), kmRecenterCte(s"a$i", s"c$i")))
    s"""WITH pts AS (SELECT vec_id AS p_id, [x::DOUBLE for x in embedding] AS pv FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, [x::DOUBLE for x in embedding] AS cv FROM embeddings ORDER BY vec_id LIMIT 8),
       |${iters.mkString(",\n")},
       |dist AS (
       |  SELECT p.p_id, c.c_id,
       |    ${dotSql("p.pv", "p.pv")} - 2 * ${dotSql("p.pv", "c.cv")} + ${dotSql("c.cv", "c.cv")} AS d
       |  FROM pts p CROSS JOIN c3 c),
       |r AS (
       |  SELECT p_id, c_id, d, row_number() OVER (PARTITION BY p_id
       |    ORDER BY COALESCE(d, 1.7976931348623157e308), c_id) AS rn FROM dist),
       |ab AS (
       |  SELECT a.p_id, a.c_id,
       |    sqrt(COALESCE(a.d, 1.7976931348623157e308)) AS da,
       |    sqrt(COALESCE(b.d, 1.7976931348623157e308)) AS db
       |  FROM r a JOIN r b ON a.p_id = b.p_id AND a.rn = 1 AND b.rn = 2),
       |sil AS (
       |  SELECT p_id, c_id, CASE WHEN GREATEST(da, db) = 0 THEN 0.0
       |    ELSE (db - da) / GREATEST(da, db) END AS s FROM ab)
       |SELECT c_id, COUNT(*) AS n,
       |  CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_sil
       |FROM sil GROUP BY 1 ORDER BY c_id""".stripMargin
  }

  /** s_recall: retrieval-quality OBSERVABILITY — recall@5 of the IVF
    * probe against the exact brute-force top-5, per query vector. The
    * number an ANN deployment watches when tuning nprobe/C: both ranked
    * lists are integer id sets that already hash-match their own oracles,
    * so their overlap count is exact across engines (the recall ratio is
    * integer-derived — the safe output class, see the object doc). Scale
    * shape: in production the brute-force side runs over a SAMPLE of
    * queries (this gate's %-50 subset is exactly that sample); the join is
    * k-bounded rows per query, so the recall rollup costs one shuffle of
    * 2·k·|Q| id pairs regardless of corpus size. */
  def sRecall(s: SparkSession, dir: String): DataFrame = {
    val brute = sKnnBrute(s, dir).select(col("q_id"), col("n_id"))
    val ann = sKnnIvf(s, dir).select(col("q_id"), col("n_id"), lit(1).as("hit"))
    brute.join(ann, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(5.0)).as("recall"))
      .orderBy(col("q_id"))
  }

  /** Oracle: the sKnnIvfSql pipeline (ann) and the brute top-5 over the
    * same query subset, joined on (q_id, n_id) and rolled up. */
  val sRecallSql: String = {
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
       |  SELECT pr.q_id, bk.n_id, ${cosSql("pr.qv", "bk.nv")} AS cs
       |  FROM bk JOIN pr USING (bucket) WHERE bk.n_id <> pr.q_id),
       |ann AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC NULLS LAST, n_id) AS rnk FROM sc)
       |  WHERE rnk <= 5),
       |bscored AS (
       |  SELECT q.q_id, p.p_id AS n_id, ${cosSql("q.qv", "p.pv")} AS cos
       |  FROM q CROSS JOIN pts p WHERE p.p_id <> q.q_id),
       |brute AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM bscored)
       |  WHERE rnk <= 5)
       |SELECT b.q_id, COUNT(a.n_id) AS n_hits,
       |  CAST(COUNT(a.n_id) AS DOUBLE) / 5.0 AS recall
       |FROM brute b LEFT JOIN ann a ON a.q_id = b.q_id AND a.n_id = b.n_id
       |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin
  }

  /** Reciprocal-rank-fusion constant (the standard 60 of Cormack et al.'s
    * RRF) and per-modality list depth. */
  private val RrfK = 60
  private val RrfDepth = 10

  /** s_hybrid_rrf: HYBRID retrieval — the lexical and vector rankings a
    * RAG stack runs side by side, fused by reciprocal-rank fusion:
    * rrf(d) = Σ_modality 1/(K + rank_modality(d)) over each modality's
    * top-10, absent-from-list contributing zero. The documents and
    * embeddings tables share an id space, so a query doc ranks the corpus
    * BOTH by distinct-token overlap (exact integers) and by embedding
    * cosine; the fused score is a sum of at most two 1/(K+r) terms from
    * integer ranks in a pinned operand order — bit-identical across
    * engines. Output: top-5 fused ids per query.
    *
    * Scale shape: the query set is bounded (the s_knn sample contract),
    * so the lexical side broadcasts |Q| token sets over the corpus scan
    * and both modalities hand TopKPerKey a k-bounded shuffle; the fusion
    * join then touches ≤ 2·depth rows per query. */
  def sHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val toks = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), array_distinct(TextFunctions.tokens(col("text"))).as("ts"))
    val qt = broadcast(toks.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("q_id"), col("ts").as("q_ts")))
    val lexScored = toks.select(col("doc_id").as("n_id"), col("ts"))
      .crossJoin(qt).filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), size(array_intersect(col("q_ts"), col("ts"))).as("ov"))
    val lexTop = graft.plans.TopK.perKey(lexScored, Seq("q_id"),
      Seq(col("ov").desc, col("n_id").asc), RrfDepth)
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("ov").desc, col("n_id"))
    val lex = lexTop.withColumn("rl", row_number().over(wl)).select(col("q_id"), col("n_id"), col("rl"))
    val e = Tables.embeddings(s, dir)
    val vec = Knn.bruteForce(s, e, queriesSubset(e), "vec_id", "embedding", k = RrfDepth)
      .select(col("q_id"), col("n_id"), col("rnk").as("rv"))
    val fused = lex.join(vec, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("rl")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + col("rv")), lit(0.0)))
    val top = graft.plans.TopK.perKey(fused, Seq("q_id"),
      Seq(col("rrf").desc, col("n_id").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rrf").desc, col("n_id"))
    top.withColumn("rrf_rank", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("rrf_rank"))
      .orderBy(col("q_id"), col("rrf_rank"))
  }

  val sHybridRrfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(${graft.queries.Text.toksSql}) AS ts FROM documents),
       |lexsc AS (
       |  SELECT q.doc_id AS q_id, n.doc_id AS n_id, len(list_intersect(q.ts, n.ts)) AS ov
       |  FROM toks q JOIN toks n ON n.doc_id <> q.doc_id
       |  WHERE q.doc_id % 50 = 0),
       |lex AS (SELECT q_id, n_id, rl FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY ov DESC, n_id) AS rl
       |  FROM lexsc) WHERE rl <= $RrfDepth),
       |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |vsc AS (
       |  SELECT q_id, e.vec_id AS n_id, ${cosSql("qe", "e.embedding")} AS cos
       |  FROM q, embeddings e WHERE e.vec_id <> q_id),
       |vec AS (SELECT q_id, n_id, rv FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rv
       |  FROM vsc) WHERE rv <= $RrfDepth),
       |fused AS (
       |  SELECT coalesce(lex.q_id, vec.q_id) AS q_id, coalesce(lex.n_id, vec.n_id) AS n_id,
       |    coalesce(1.0::DOUBLE / ($RrfK + rl), 0.0) + coalesce(1.0::DOUBLE / ($RrfK + rv), 0.0) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON lex.q_id = vec.q_id AND lex.n_id = vec.n_id)
       |SELECT q_id, n_id, rrf_rank FROM (
       |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id) AS rrf_rank
       |  FROM fused) WHERE rrf_rank <= 5
       |ORDER BY q_id, rrf_rank""".stripMargin

  /** s_centroid_drift: embedding-drift observability between two corpus
    * snapshots — the monitoring number a production embedding pipeline
    * watches when the upstream encoder, crawler mix, or preprocessing
    * changes. Snapshot B simulates a re-crawl: every 17th vector churns
    * out, every third vector's components drift ±2% (deterministic
    * parity, same IEEE ops both engines). Per label the gate reports
    * both populations and the cosine between the snapshots' mean
    * vectors; a label whose centroid cosine sags flags distribution
    * shift before any downstream ANN-recall metric degrades.
    *
    * Scale: one label-keyed aggregation per snapshot — the decimal
    * vector sum is ONE aggregate column at any dimension
    * (VectorDecimalSum), so centroids are partitioning-invariant and the
    * plan is O(1) in dim; output is |labels| rows, the join between
    * snapshots is |labels|-sized. */
  def sCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
    // both snapshots carry FLOAT components (what an embedding store
    // persists) — also the decimal entry-rounding regime the whole
    // kmeans/PQ oracle family is proven bit-exact in; the perturbed
    // product is cast back to float32 like a re-encoded vector would be
    val a = e.select(col("label"), col("embedding").as("v"))
    val b = e.filter(col("vec_id") % 17 =!= 0)
      .select(col("label"),
        when(col("vec_id") % 3 === 0,
          expr("""transform(embedding, (x, j) ->
                   CAST(CAST(x AS DOUBLE) * (1.0D + CASE WHEN (vec_id + j) % 2 = 0
                                                    THEN 0.02D ELSE -0.02D END) AS FLOAT))"""))
          .otherwise(col("embedding")).as("v"))
    def labelMeans(df: DataFrame, n: String, m: String): DataFrame = {
      val sumVec = org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.functions.VectorDecimalSum(
          org.apache.spark.sql.graftshim.ColumnBridge.expression(col("v")), 64)
          .toAggregateExpression())
      // cosine is scale-invariant, so the drift angle is computed on the
      // exact decimal SUMS — no per-element division, one fewer rounding
      // step between engines
      df.groupBy(col("label")).agg(count(lit(1)).as(n), sumVec.as(m))
    }
    labelMeans(a, "n_a", "m_a").join(labelMeans(b, "n_b", "m_b"), "label")
      .select(col("label"), col("n_a"), col("n_b"),
        expr("cosine_sim(m_a, m_b)").as("cos_drift"))
      .orderBy(col("label"))
  }

  /** Oracle: same snapshots, per-dim DECIMAL(38,12) sums → double means
    * (the kmRecenterCte convention), same left-fold cosine. */
  val sCentroidDriftSql: String = {
    def meansCte(src: String, out: String, n: String) =
      s"""$out AS (
         |  SELECT label, MIN(cnt) AS $n, list(sd ORDER BY d) AS m FROM (
         |    SELECT label, d, COUNT(*) AS cnt,
         |      CAST(SUM(CAST(CAST(v[d] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS sd
         |    FROM (SELECT label, v, unnest(range(1, 65)) AS d FROM $src)
         |    GROUP BY label, d)
         |  GROUP BY label)""".stripMargin
    s"""WITH a AS (SELECT label, embedding AS v FROM embeddings),
       |b AS (SELECT label,
       |        CASE WHEN vec_id % 3 = 0 THEN
       |          [CAST(CAST(embedding[j+1] AS DOUBLE) * (1.0 + CASE WHEN (vec_id + j) % 2 = 0
       |                                                        THEN 0.02 ELSE -0.02 END) AS FLOAT)
       |           for j in range(0, len(embedding))]
       |        ELSE embedding END AS v
       |      FROM embeddings WHERE vec_id % 17 <> 0),
       |${meansCte("a", "ma", "n_a")},
       |${meansCte("b", "mb", "n_b")}
       |SELECT ma.label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  ${cosSql("ma.m", "mb.m")} AS cos_drift
       |FROM ma JOIN mb ON ma.label = mb.label
       |ORDER BY ma.label""".stripMargin
  }

  /** s_bq_search: BINARY quantization search — the most aggressive vector
    * compression in production retrieval stacks: each 64-dim embedding
    * packs to ONE 64-bit sign word (bit d = x_d > 0; 64× smaller than
    * float64 vectors), and retrieval ranks by Hamming distance via
    * codegen'd bit_count(xor) — the corpus scan touches 8 bytes per
    * vector and no float math at all. The standard production shape
    * follows s_ivfpq_rerank: BQ shortlists, exact cosine refines; here
    * the BQ stage itself is the gate. Ties break on n_id; the sign-bit
    * (d=63) packs via the same Long.MIN constant trick as
    * m_phash_neardup's oracle.
    *
    * Packing clamps to the first least(size, 64) dims (matching the
    * oracle's fixed range(0, 64)): on a >64-dim corpus Spark's
    * shiftleft(1L, d) wraps mod 64 and would silently DOUBLE-COUNT bits
    * (dim 64 lands on bit 0 again) — a wider corpus wants one word per
    * 64-dim block, not a wrapped single word. The clamp makes >64 dims a
    * documented truncation (BQ on the leading prefix — the MRL-style
    * coarse signal) instead of silent corruption. */
  def sBqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    def packed(df: DataFrame) = df.withColumn("bq", expr(
      "aggregate(sequence(0, least(size(embedding), 64) - 1), 0L, (a, d) -> " +
        "a + (CASE WHEN CAST(element_at(embedding, d + 1) AS DOUBLE) > 0.0D " +
        "THEN shiftleft(1L, d) ELSE 0L END))"))
    val corpus = packed(e).select(col("vec_id").as("n_id"), col("bq").as("nb"))
    val qs = packed(queriesSubset(e)).select(col("vec_id").as("q_id"), col("bq").as("qb"))
    val scored = corpus.crossJoin(broadcast(qs))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("hamming", bit_count(col("nb").bitwiseXOR(col("qb"))).cast("int"))
      .select(col("q_id"), col("n_id"), col("hamming"))
    val top = graft.plans.TopK.perKey(scored, Seq("q_id"),
      Seq(col("hamming").asc, col("n_id").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("hamming").asc, col("n_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("q_id"), col("n_id"), col("hamming"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val sBqSearchSql: String = {
    // bit 63 contributes Long.MIN (1<<63 overflows DuckDB's checked
    // shift); fold order is d ascending so partial sums stay in range
    val pack =
      """list_reduce(list_transform(range(0, 64), d ->
        |  CASE WHEN emb[CAST(d + 1 AS INT)] > 0 THEN
        |    (CASE WHEN d = 63 THEN -9223372036854775807 - 1
        |          ELSE (1::BIGINT << CAST(d AS INT)) END)
        |  ELSE 0::BIGINT END), (a, x) -> a + x)""".stripMargin.replace("\n", " ")
    s"""WITH p AS (
       |  SELECT vec_id, $pack AS bq
       |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |        FROM embeddings)),
       |q AS (SELECT vec_id AS q_id, bq AS qb FROM p WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q_id, c.vec_id AS n_id,
       |    CAST(bit_count(xor(c.bq, qb)) AS INT) AS hamming
       |  FROM p c, q WHERE c.vec_id <> q_id)
       |SELECT q_id, n_id, hamming, rnk FROM (
       |  SELECT q_id, n_id, hamming,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** s_mrl_rerank: Matryoshka-style adaptive retrieval — MRL embeddings
    * make PREFIXES of the vector usable at lower fidelity, so the
    * production pattern shortlists on the first 16 dims (4× less scan
    * math) and re-ranks the shortlist with full-width exact cosine:
    * the ivfpq-rerank shape with dimension truncation as the coarse
    * stage instead of PQ codes. Shortlist 15 per query via TopKPerKey,
    * refine = 15·|Q| full-width cosines, final top-5 from exact
    * scores. */
  def sMrlRerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
    def trunc(df: DataFrame, out: String) = df.withColumn(out,
      expr("transform(slice(embedding, 1, 16), x -> CAST(x AS DOUBLE))"))
    val corpus = trunc(e, "nt").select(col("vec_id").as("n_id"),
      col("embedding").as("nv"), col("nt"))
    val qs = trunc(queriesSubset(e), "qt").select(col("vec_id").as("q_id"),
      col("embedding").as("qv"), col("qt"))
    val coarse = corpus.crossJoin(broadcast(qs.select(col("q_id"), col("qt"))))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("tcos", coalesce(expr("cosine_sim(qt, nt)"), lit(-1.0)))
      .select(col("q_id"), col("n_id"), col("tcos"))
    val shortlist = graft.plans.TopK.perKey(coarse, Seq("q_id"),
      Seq(col("tcos").desc, col("n_id").asc), 15)
    val exact = shortlist
      .join(corpus.select(col("n_id"), col("nv")), "n_id")
      .join(broadcast(qs.select(col("q_id"), col("qv"))), "q_id")
      .withColumn("cos", coalesce(expr("cosine_sim(qv, nv)"), lit(-1.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    exact.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("q_id"), col("n_id"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val sMrlRerankSql: String =
    s"""WITH e AS (SELECT vec_id, embedding,
       |      [CAST(x AS DOUBLE) for x in embedding[1:16]] AS t FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qv, t AS qt FROM e WHERE vec_id % 50 = 0),
       |coarse AS (
       |  SELECT q_id, c.vec_id AS n_id, COALESCE(${cosSql("qt", "c.t")}, -1.0) AS tcos
       |  FROM e c, q WHERE c.vec_id <> q_id),
       |short AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY tcos DESC, n_id) AS r
       |    FROM coarse) WHERE r <= 15),
       |exact AS (
       |  SELECT s.q_id, s.n_id, COALESCE(${cosSql("q.qv", "c.embedding")}, -1.0) AS cos
       |  FROM short s JOIN e c ON c.vec_id = s.n_id JOIN q ON q.q_id = s.q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM exact)
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** s_triplet_mine: TRIPLET MINING for contrastive training — per anchor
    * the hardest positive (MINIMUM cosine among same-label others: the
    * in-class example the model most struggles to pull close) and the
    * top-3 hard negatives (MAXIMUM cosine among different-label vectors:
    * the out-of-class examples it most struggles to push away), with the
    * triplet margin pos_cos − neg_cos and the semi-hard flag
    * (neg_cos < pos_cos — the FaceNet mining band). Margin is a single
    * subtraction of two fold-order-pinned cosines, so doubles are safe in
    * output (the s_range_search convention).
    *
    * Scale shape: the anchor set is bounded by construction and
    * broadcasts; the corpus streams past it TWICE (one pass collapses to
    * |anchors| hardest-positive rows via min-agg, one feeds the k-bounded
    * TopKPerKey negatives) — two scans is the honest plan, since
    * materializing the |corpus|×|anchors| scored frame to save a scan
    * costs more than the rescan; at 100 TB each pass composes with
    * IvfIndex probing (prune by label partition, then by coarse cell)
    * exactly like s_filtered_knn. */
  def sTripletMine(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, dir)
    val anchors = queriesSubset(e).select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"), col("label").as("q_label"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
      col("label").as("n_label"))
    val pos = corpus
      .join(broadcast(anchors), col("n_label") === col("q_label") && col("n_id") =!= col("q_id"))
      .withColumn("cos", coalesce(expr("cosine_sim(q_vec, n_vec)"), lit(-1.0)))
      .groupBy(col("q_id")).agg(min(col("cos")).as("pos_cos"))
    val negScored = corpus
      .join(broadcast(anchors), col("n_label") =!= col("q_label"))
      .withColumn("cos", coalesce(expr("cosine_sim(q_vec, n_vec)"), lit(-1.0)))
      .select(col("q_id"), col("n_id"), col("cos"))
    val negs = graft.plans.TopK.perKey(negScored, Seq("q_id"),
      Seq(col("cos").desc, col("n_id").asc), 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    negs.withColumn("rnk", row_number().over(w))
      .join(broadcast(pos), Seq("q_id"), "left")
      .select(col("q_id"), col("n_id"), col("rnk"),
        (col("pos_cos") - col("cos")).as("margin"),
        (col("cos") < col("pos_cos")).as("semi_hard"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val sTripletMineSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS q_label
       |           FROM embeddings WHERE vec_id % 50 = 0),
       |pos AS (
       |  SELECT q_id, MIN(COALESCE(${cosSql("qe", "e.embedding")}, -1.0)) AS pos_cos
       |  FROM q JOIN embeddings e ON e.label = q.q_label AND e.vec_id <> q.q_id
       |  GROUP BY q_id),
       |neg AS (
       |  SELECT q_id, e.vec_id AS n_id,
       |    COALESCE(${cosSql("qe", "e.embedding")}, -1.0) AS cos
       |  FROM q JOIN embeddings e ON e.label <> q.q_label),
       |topneg AS (SELECT q_id, n_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM neg)
       |SELECT t.q_id, t.n_id, t.rnk, p.pos_cos - t.cos AS margin,
       |  t.cos < p.pos_cos AS semi_hard
       |FROM topneg t LEFT JOIN pos p ON p.q_id = t.q_id
       |WHERE t.rnk <= 3 ORDER BY t.q_id, t.rnk""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("s_triplet_mine", sTripletMine _, sTripletMineSql),
    Gate("s_bq_search", sBqSearch _, sBqSearchSql),
    Gate("s_mrl_rerank", sMrlRerank _, sMrlRerankSql),
    Gate("s_centroid_drift", sCentroidDrift _, sCentroidDriftSql),
    Gate("s_hybrid_rrf", sHybridRrf _, sHybridRrfSql),
    Gate("s_knn_ivf_append", sKnnIvfAppend _, sKnnIvfAppendSql),
    Gate("s_ivf_stats", sIvfStats _, sIvfStatsSql),
    Gate("s_recall", sRecall _, sRecallSql),
    Gate("s_silhouette", sSilhouette _, sSilhouetteSql),
    Gate("s_pq", sPq _, sPqSql),
    Gate("s_pq_search", sPqSearch _, sPqSearchSql),
    Gate("s_ivfpq_search", sIvfPqSearch _, sIvfPqSearchSql),
    Gate("s_ivfpq_rerank", sIvfPqRerank _, sIvfPqRerankSql),
    Gate("s_ivfpq_residual", sIvfPqResidual _, sIvfPqResidualSql),
    Gate("s_quantize", sQuantize _, sQuantizeSql),
    Gate("s_sq8_search", sSq8Search _, sSq8SearchSql),
    Gate("s_mmr", sMmr _, sMmrSql),
    Gate("s_knn_brute", sKnnBrute _, sKnnBruteSql),
    Gate("s_filtered_knn", sFilteredKnn _, sFilteredKnnSql),
    Gate("s_range_search", sRangeSearch _, sRangeSearchSql),
    Gate("s_knn_ivf", sKnnIvf _, sKnnIvfSql),
    Gate("s_kmeans", sKmeans _, sKmeansSql),
  )
}
