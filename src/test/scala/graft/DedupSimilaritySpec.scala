package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, MinHashLsh, SimHashDedup}
import graft.functions.VectorExpressions
import graft.similarity.Knn

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 0
    (2L, "completely different content about spark engines and data pipelines here"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today")    // exact dup of 0
  ).toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates to one group with min canonical id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 3)
    val dup = g.filter(col("n_docs") === 2).collect()
    assert(dup.length == 1 && dup(0).getAs[Long]("canonical_id") == 0L)
  }

  test("MinHash LSH finds near-dups, not unrelated docs") {
    val pairs = MinHashLsh.candidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)), "exact dup pair must always collide")
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L)), "near-dup should collide")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not collide")
  }

  test("LSH hot band is LINEAR: 1000 identical docs emit 999 star edges, not ~500k pairs") {
    // the 100 TB scale guard — a boilerplate cluster all landing in one
    // band bucket must produce O(m) candidate edges (star expansion from
    // the bucket min), never the O(m²) in-bucket cross join
    val hot = ((0 until 1000).map(i =>
        (i.toLong, "same boilerplate paragraph repeated verbatim across the whole corpus today")) :+
      (5000L, "entirely different content about spark engines and data pipelines here"))
      .toDF("doc_id", "text")
    val pairs = MinHashLsh.candidatePairs(hot, "doc_id", "text").cache()
    try {
      assert(pairs.count() == 999, "candidate volume must be linear in bucket size")
      assert(pairs.filter(col("a_id") =!= 0L).count() == 0, "every edge must come from the bucket min")
      assert(pairs.filter(col("a_id") >= col("b_id")).count() == 0, "a_id < b_id invariant")
    } finally pairs.unpersist()
  }

  test("IncrementalDedup.probe hot store band yields ONE witness per batch doc, not m pairs") {
    import graft.dedup.IncrementalDedup
    val path = java.nio.file.Files.createTempDirectory("graft_incdedup_hot").toString
    val boiler = "same boilerplate paragraph repeated verbatim across the whole corpus today"
    val corpus = (0 until 500).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    IncrementalDedup.buildStore(corpus, "doc_id", "text", path)
    val batch = Seq((9000L, boiler)).toDF("doc_id", "text")
    val hits = IncrementalDedup.probe(spark, path, batch, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((9000L, 0L)),
      s"hot band must collapse to the min corpus witness, got ${hits.size} pairs")
  }

  test("fuzzyCanonical: exact dups collapse unconditionally, near-dups via LSH, unrelated survive") {
    val canon = Dedup.fuzzyCanonical(docs, "doc_id", "text", 0.5)
      .as[(Long, Long)].collect().toMap
    assert(canon == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 0L),
      s"canonical assignment diverged: $canon")
  }

  test("SemDedup: byte-identical embeddings collapse to one rep; orthogonal vectors survive") {
    val e = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (7L, Seq(1.0, 0.0, 0.0, 0.0)), // exact dup of 1 under a new id
      (3L, Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val canon = graft.dedup.SemDedup.canonical(spark, e, "vec_id", "embedding",
      k = 2, iters = 1, cosMin = 0.9).as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 1L, 7L -> 1L, 3L -> 3L), s"got $canon")
  }

  test("SemDedup budget rule: k = ceil(N/budget), so per-cluster work is bounded regardless of N") {
    import graft.dedup.SemDedup.derivedK
    assert(derivedK(125, 16) == 8)   // the d_semdedup gate slice at sf0.01
    assert(derivedK(1250, 16) == 79) // the bench slice at sf0.1
    assert(derivedK(16, 16) == 1 && derivedK(17, 16) == 2 && derivedK(0, 16) == 1)
    // expected docs per cluster never exceeds the budget (the quadratic
    // in-cluster pair join is O(budget²) per cluster by construction),
    // except past the Int clamp where the budget is absurd for the corpus
    for (n <- Seq(1L, 100L, 10000L, 100000000000L); b <- Seq(16, 1000, 100000)) {
      val k = derivedK(n, b)
      assert(n.toDouble / k <= b.toDouble || k == Int.MaxValue, s"n=$n b=$b k=$k")
    }
  }

  test("SemDedup.canonicalBudgeted equals canonical at the derived k") {
    val e = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (7L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val budgeted = graft.dedup.SemDedup.canonicalBudgeted(spark, e, "vec_id", "embedding",
      clusterBudget = 2, iters = 1, cosMin = 0.9).as[(Long, Long)].collect().toMap
    val explicit = graft.dedup.SemDedup.canonical(spark, e, "vec_id", "embedding",
      k = graft.dedup.SemDedup.derivedK(4, 2), iters = 1, cosMin = 0.9)
      .as[(Long, Long)].collect().toMap
    assert(budgeted == explicit && budgeted(7L) == 1L, s"got $budgeted vs $explicit")
  }

  test("RowCountEstimate: footer path only for bare scans — a filtered frame counts, never sums files") {
    import graft.sources.RowCountEstimate
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val full = docs.count()
    assert(RowCountEstimate.estimate(docs) == full, "bare scan: footer sum == count")
    assert(RowCountEstimate.estimate(docs.select("doc_id")) == full,
      "column pruning keeps the footer path")
    val filtered = docs.filter(col("doc_id") % 5 === 0)
    assert(RowCountEstimate.estimate(filtered) == filtered.count(),
      "a filtered frame must COUNT — its inputFiles say nothing about its rows")
    val joined = docs.join(docs.select(col("doc_id")), "doc_id")
    assert(RowCountEstimate.estimate(joined) == joined.count(), "joined frames count too")
  }

  test("IncrementalDedup: probe finds batch-vs-corpus dups only; append is idempotent and crash-recoverable") {
    import graft.dedup.IncrementalDedup
    val path = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val corpus = docs.filter(col("doc_id") =!= 1L) // store holds 0, 2, 3
    val batch = docs.filter(col("doc_id") === 1L)  // near-dup of 0/3 arrives later
    IncrementalDedup.buildStore(corpus, "doc_id", "text", path)
    val hits = IncrementalDedup.probe(spark, path, batch, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(hits.subsetOf(Set((1L, 0L), (1L, 3L))) && hits.nonEmpty,
      s"batch near-dup must hit its corpus twins only, got $hits")
    // simulate a crashed prior append (stale uuid staging dir): GC'd by
    // AGE, while a fresh dir — a live concurrent writer — must survive
    val stale = new java.io.File(s"$path/_staging_append_stale0000"); stale.mkdirs()
    new java.io.File(stale, "part-stale").createNewFile()
    stale.setLastModified(System.currentTimeMillis() - IncrementalDedup.StagingGcMs - 60000)
    val fresh = new java.io.File(s"$path/_staging_append_live0000"); fresh.mkdirs()
    IncrementalDedup.appendToStore(spark, path, batch, "doc_id", "text")
    assert(!stale.exists(), "stale staging dir must be GC'd by age")
    assert(fresh.exists(), "a fresh (possibly live concurrent) staging dir must survive")
    assert(new java.io.File(path).listFiles().count(_.getName.startsWith("_staging_append_")) == 1,
      "this append's own staging dir must be gone after commit; only the fresh one survives")
    val bandsPerDoc = spark.read.parquet(s"$path/bands")
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(bandsPerDoc(1L) == MinHashLsh.Bands.toLong)
    // re-append the same batch: anti-join keeps the store unchanged
    IncrementalDedup.appendToStore(spark, path, batch, "doc_id", "text")
    assert(spark.read.parquet(s"$path/bands").filter(col("doc_id") === 1L).count()
      == MinHashLsh.Bands.toLong, "re-ingest must not duplicate bands")
    // a batch doc already in the store never pairs with itself
    assert(IncrementalDedup.probe(spark, path, batch, "doc_id", "text")
      .filter(col("batch_id") === col("corpus_id")).count() == 0)
  }

  test("IncrementalDedup.compact: probe identical pre/post; crash mid-compact leaves store readable") {
    import graft.dedup.IncrementalDedup
    val path = java.nio.file.Files.createTempDirectory("graft_inccompact").toString
    val corpus = docs.filter(col("doc_id") =!= 1L)
    val batch = docs.filter(col("doc_id") === 1L)
    IncrementalDedup.buildStore(corpus, "doc_id", "text", path)
    IncrementalDedup.appendToStore(spark, path, batch, "doc_id", "text")
    def probeSet() = IncrementalDedup.probe(spark, path,
      docs.select(col("doc_id"), col("text")), "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val before = probeSet()
    val bandsDir = new java.io.File(s"$path/bands")
    assert(bandsDir.listFiles().count(_.getName.startsWith("batch=")) == 2)

    // crash state A: staging written, rename never happened — live layout
    // untouched, probe unaffected, and the next compact still works
    val staging = new java.io.File(s"$path/_staging_compact_crashed0"); staging.mkdirs()
    new java.io.File(staging, "part-junk").createNewFile()
    assert(probeSet() == before, "staging leftovers must be invisible to probe")

    // crash state B: compacted partition renamed in, source dirs NOT yet
    // deleted (simulated by copying a batch dir) — duplicate band rows,
    // probe must still return the identical pair set
    val src = bandsDir.listFiles().filter(_.getName.startsWith("batch=")).head
    val dup = new java.io.File(bandsDir, "batch=compact-dup0")
    org.apache.commons.io.FileUtils.copyDirectory(src, dup)
    assert(probeSet() == before, "duplicate band rows from a mid-compact crash must not change probe results")

    // the real compact folds everything (incl. the crash debris) into ONE
    // partition and probe is unchanged
    val folded = IncrementalDedup.compact(spark, path)
    assert(folded == 3, s"expected 3 source partitions folded, got $folded")
    assert(bandsDir.listFiles().count(_.getName.startsWith("batch=")) == 1)
    assert(probeSet() == before, "probe results must be identical post-compaction")
    // compacting a compacted store is a no-op
    assert(IncrementalDedup.compact(spark, path) == 0)
  }

  test("IncrementalDedup.compactToBucketedTable: bucketed catalog store probes identically, store side shuffle-free") {
    import graft.dedup.IncrementalDedup
    val path = java.nio.file.Files.createTempDirectory("graft_incbucket").toString
    IncrementalDedup.buildStore(docs.filter(col("doc_id") =!= 1L), "doc_id", "text", path)
    val batch = docs.filter(col("doc_id") === 1L)
    val viaFiles = IncrementalDedup.probe(spark, path, batch, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the join shape
    IncrementalDedup.compactToBucketedTable(s2, path, "inc_bands_bucketed", buckets = 4)
    val probed = IncrementalDedup.probeTable(s2, "inc_bands_bucketed",
      batch, "doc_id", "text")
    assert(probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == viaFiles)
    // the README lever made real: only the BATCH side may shuffle onto the
    // store's bucketing — the corpus band scan reads pre-bucketed
    val p = probed.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("Bucketed: true"), s"store scan must be bucketed:\n${p.take(1500)}")
  }

  test("Components: ONE job per propagation round — the changed-count rides the round's observe metric") {
    // the path graph 1-2-3-4 (one-hop seed, then 3 rounds to converge)
    // costs (edges + seed + 3 rounds) × 2 = 10 with AQE off; a separate
    // changed-count() pass per round — what the observe() fold removed —
    // would add 3 more and fail this pin
    val jobs = SparkTestBase.jobsWithAqeOff("components-jobs") {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
      val got = graft.dedup.Components.labels(pairs).as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    }
    // the final collect() in the assertion above is +1 on top of the 10
    assert(jobs == 11, s"expected 10 labels jobs + 1 collect, got $jobs")
  }

  test("Components.labels with reliable checkpointing matches the localCheckpoint path") {
    import graft.dedup.Components
    // path graph 1-2-3-4, separate pair (10,11)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    def files(): Int = org.apache.commons.io.FileUtils.listFiles(ckpt, null, true).size
    val prev = spark.sparkContext.getCheckpointDir
    try {
      // with a checkpoint dir, the loop state lands there as RDD files
      spark.sparkContext.setCheckpointDir(ckpt.toString)
      assert(Components.labels(pairs).as[(Long, Long)].collect().toMap == want)
      val written = files()
      assert(written > 0, "checkpoint dir must hold RDD state")
      // without one, the same labels come from localCheckpoint and no file lands
      spark.sparkContext.setCheckpointDir(null)
      assert(Components.labels(pairs).as[(Long, Long)].collect().toMap == want)
      assert(files() == written, "no checkpoint dir set, yet RDD files were written")
    } finally spark.sparkContext.setCheckpointDir(prev.orNull)
  }

  test("Components.labels converges iff the graph's diameter is at most maxIters, and says so") {
    // a revision chain: the path 1-2-...-6 has diameter 5
    val chain = (1L until 6L).map(k => (k, k + 1)).toDF("a_id", "b_id")
    val got = graft.dedup.Components.labels(chain, maxIters = 5).as[(Long, Long)].collect().toMap
    assert(got == (1L to 6L).map(_ -> 1L).toMap)
    val e = intercept[IllegalStateException](graft.dedup.Components.labels(chain, maxIters = 4))
    assert(e.getMessage.contains("diameter exceeded maxIters = 4"), e.getMessage)
  }

  test("s_pq: every vector gets one code per subspace; codebooks actually partition the space") {
    val out = graft.queries.Similarity.sPq(spark, "/root/testdata/sf0.001").cache()
    val n = Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(out.count() == n, "one code row per vector")
    for (m <- 0 until 4) {
      val codes = out.select(s"code_$m").distinct().count()
      assert(codes >= 2 && codes <= 4,
        s"subspace $m must use between 2 and k=4 codewords, used $codes")
    }
    // compression is deterministic: a second run reproduces the codes
    val again = graft.queries.Similarity.sPq(spark, "/root/testdata/sf0.001")
    assert(out.collect().map(_.toSeq).toSet == again.collect().map(_.toSeq).toSet)
  }

  test("s_pq_search: contiguous ranks from 1, at most k per query, never self") {
    val out = graft.queries.Similarity.sPqSearch(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (q, n, _) => q != n }, "self-match leaked through")
    for ((q, rows) <- out.groupBy(_._1)) {
      val rnks = rows.map(_._3).sorted.toSeq
      assert(rnks == (1 to rnks.size) && rnks.size <= 5, s"ranks broken for q=$q: $rnks")
    }
  }

  test("containmentOnPairs: a contained doc scores c_ab=1.0 while jaccard stays low") {
    val quote = Seq(
      (10L, "alpha beta gamma delta epsilon"), // fully quoted inside 11
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi")
    ).toDF("doc_id", "text")
    val pairs = Seq((10L, 11L)).toDF("a_id", "b_id")
    val r = Dedup.containmentOnPairs(pairs, quote, "doc_id", "text")
      .select("c_ab", "c_ba").as[(Double, Double)].head()
    assert(r._1 == 1.0, s"contained side must be 1.0, got ${r._1}")
    assert(r._2 < 0.5, s"containing side must stay low, got ${r._2}")
    val j = Dedup.jaccardOnPairs(pairs, quote, "doc_id", "text")
      .select("jaccard").as[Double].head()
    assert(j < 0.5, s"jaccard must miss the quotation relation, got $j")
  }

  test("jaccardOnPairs: exact dup has jaccard 1.0, near-dup high, and is deterministic") {
    val pairs = Seq((0L, 3L), (0L, 1L), (0L, 2L)).toDF("a_id", "b_id")
    val j = Dedup.jaccardOnPairs(pairs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 3L)) == 1.0)
    assert(j((0L, 1L)) > 0.5 && j((0L, 1L)) < 1.0)
    assert(j((0L, 2L)) == 0.0)
  }

  test("Components: min-label propagation crosses path graphs, splits components, keeps singletons") {
    // path 1-2-3-4 forces multi-round propagation (diameter 3); {10,11} is a
    // separate component; doc 99 appears in no pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val got = graft.dedup.Components.canonicalize(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("SimHash: identical texts get distance 0; near-dups small; unrelated large") {
    val sigs = SimHashDedup.signatures(spark, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0L, 3L) == 0)
    assert(ham(0L, 1L) < ham(0L, 2L))
  }

  test("CosineSim expression matches a reference implementation on floats") {
    VectorExpressions.register(spark)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))).toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)")).as[Double].head()
    val exp = {
      val (a, b) = (Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(math.abs(got - exp) < 1e-12)
    // orthogonal + identical sanity
    val df2 = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)), (Array(1.0f, 1.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
    val r = df2.select(expr("cosine_sim(a, b)")).as[Double].collect()
    assert(r(0) == 0.0 && math.abs(r(1) - 1.0) < 1e-12)
  }

  test("IVF ANN with trained centroids achieves recall against brute force, never exceeds k") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") % 50 === 0)
    val brute = Knn.bruteForce(spark, e, q, "vec_id", "embedding", 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val cent = graft.similarity.Kmeans.fit(spark, e, "vec_id", "embedding", k = 8, iters = 2)
    // the synthetic embeddings are near-random (no cluster structure), so
    // true neighbors scatter across buckets and recall is structurally
    // bounded by the probed fraction; bars are measured-minus-slack for each
    // config (nprobe=2 → 0.42 measured, nprobe=4 → 0.82 measured) so a
    // regression in the composed fit→assign→probe path fails loudly
    def recallAt(np: Int): Double = {
      val ivf = Knn.ivf(spark, e, q, cent, "vec_id", "embedding", 5, np)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      assert(ivf.groupBy(_._1).values.forall(_.size <= 5))
      brute.intersect(ivf).size.toDouble / brute.size
    }
    val r2 = recallAt(2)
    assert(r2 >= 0.35, s"nprobe=2 recall $r2 too low")
    val r4 = recallAt(4)
    assert(r4 >= 0.6, s"nprobe=4 recall $r4 too low")
    assert(r4 >= r2, "recall must be monotone in nprobe")
  }

  test("IVFPQ rerank: exact refine recovers recall the ADC ranking loses, at the same nprobe") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") % 50 === 0)
    val brute = Knn.bruteForce(spark, e, q, "vec_id", "embedding", 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val ids = df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
      assert(ids.groupBy(_._1).values.forall(_.size <= 5))
      brute.intersect(ids).size.toDouble / brute.size
    }
    val plain = recallOf(graft.queries.Similarity.sIvfPqSearch(spark, dir))
    val rerank = recallOf(graft.queries.Similarity.sIvfPqRerank(spark, dir))
    // same probes, same candidate set: the refine can only fix ADC's
    // misrankings (quantization error AND the L2-on-codes vs cosine
    // metric gap), never lose a true neighbor the shortlist kept — so
    // recall must not drop; measured here it rises from 0.0 (plain ADC
    // against the cosine ground truth) to a real overlap
    assert(rerank >= plain, s"rerank recall $rerank < plain ADC recall $plain")
    assert(rerank > 0.0, "rerank must recover some cosine-true neighbors")
  }

  test("IVF bucket assignment plan has no window sort — argmax via partial aggregation") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, dir)
    val cent = e.limit(8).select(col("vec_id").as("c_id"),
      col("embedding").cast("array<double>").as("c_vec"))
    val p = Knn.assignBuckets(spark, e, cent, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"window in assignment subtree:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate") ||
      p.contains("SortAggregate"), p)
  }

  test("Kmeans.assign plan has no window sort — argmin via partial aggregation") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, dir)
    val points = e.select(col("vec_id").as("p_id"),
      col("embedding").cast("array<double>").as("p_vec"))
    val cent = e.limit(4).select(col("vec_id").as("c_id"),
      col("embedding").cast("array<double>").as("c_vec"))
    val p = graft.similarity.Kmeans.assign(spark, points, cent)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"window in assign subtree:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate") ||
      p.contains("SortAggregate"), p)
  }

  test("IVF probe join broadcasts the probes — the corpus never sort-merge or shuffle-hash joins") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") % 50 === 0)
    val cent = e.limit(8).select(col("vec_id").as("c_id"),
      col("embedding").cast("array<double>").as("c_vec"))
    val p = Knn.ivf(spark, e, q, cent, "vec_id", "embedding", 5, 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join in IVF probe:\n$p")
  }

  test("SimHash pigeonhole is COMPLETE for (Chunks=4, MaxHamming=3): adversarial bit placements all retrieved") {
    // 3 flipped bits can touch at most 3 of the 4 chunks, so one chunk
    // always agrees — including the worst placements: all-in-one-chunk,
    // straddling a chunk boundary, maximally spread, and in the top chunk
    val base = 0x0123456789ABCDEFL
    def flip(bits: Int*): Long = bits.foldLeft(base)((s, b) => s ^ (1L << b))
    val sigs = Seq(
      0L -> base,
      1L -> flip(0, 1, 2),    // hamming 3, all inside chunk 0
      2L -> flip(15, 16, 17), // hamming 3, straddles the chunk 0/1 boundary
      3L -> flip(0, 21, 42),  // hamming 3, three different chunks
      4L -> flip(5, 59),      // hamming 2, low + top chunk
      5L -> flip(0, 16, 32, 48) // hamming 4, one flip in EVERY chunk
    ).toDF("doc_id", "simhash")
    val got = SimHashDedup.pairsFromSignatures(sigs, "doc_id")
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got.contains((0L, 1L)) && got((0L, 1L)) == 3)
    assert(got.contains((0L, 2L)) && got((0L, 2L)) == 3)
    assert(got.contains((0L, 3L)) && got((0L, 3L)) == 3)
    assert(got.contains((0L, 4L)) && got((0L, 4L)) == 2)
    // hamming 4 exceeds MaxHamming: correctly absent even though the
    // every-chunk-differs placement is also the one banding cannot retrieve
    assert(!got.contains((0L, 5L)))
  }

  test("SimHash pigeonhole matches a brute-force O(n²) oracle on random signatures (completeness, no misses)") {
    val rnd = new scala.util.Random(42)
    val bases = Seq.tabulate(120)(i => i.toLong -> rnd.nextLong())
    // derive near-neighbors by flipping 1-3 random bits — the pairs at risk
    val derived = Seq.tabulate(60) { i =>
      val (bid, b) = bases(rnd.nextInt(bases.size))
      val flips = 1 + rnd.nextInt(3)
      (1000L + i, (0 until flips).foldLeft(b)((s, _) => s ^ (1L << rnd.nextInt(64))))
    }
    val all = bases ++ derived
    // brute-force reference WITH the hamming-0 clique collapse: identical
    // signatures fold to their min-id rep (star edges), cross-signature
    // pairs are rep-rep only — the same connectivity, linear clique cost
    val repOf = all.groupBy(_._2).map { case (sig, grp) => sig -> grp.map(_._1).min }
    val star = all.collect { case (id, sig) if repOf(sig) != id => (repOf(sig), id, 0) }
    val reps = repOf.map { case (sig, id) => (id, sig) }.toSeq
    val cross = for {
      (ia, sa) <- reps; (ib, sb) <- reps if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= SimHashDedup.MaxHamming
    } yield (ia, ib, h)
    val expect = (star ++ cross).toSet
    val got = SimHashDedup.pairsFromSignatures(all.toDF("doc_id", "simhash"), "doc_id")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expect, s"banding retrieval diverged from brute force: " +
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("SimHash hot-signature cap: m identical signatures emit exactly m-1 star edges, not m²/2") {
    // 500 docs sharing one signature (boilerplate clique) + 3 distinct
    // near signatures; the clique must cost O(m) edges rooted at min-id
    val m = 500
    val clique = Seq.tabulate(m)(i => (100L + i, 0x0123456789ABCDEFL))
    val near = Seq((5000L, 0x0123456789ABCDEEL), (5001L, 0x0123456789ABCDCFL), (6000L, -1L))
    val got = SimHashDedup.pairsFromSignatures((clique ++ near).toDF("doc_id", "simhash"), "doc_id")
      .as[(Long, Long, Int)].collect()
    val starEdges = got.filter(_._3 == 0)
    assert(starEdges.length == m - 1, s"expected ${m - 1} star edges, got ${starEdges.length}")
    assert(starEdges.forall(e => e._1 == 100L && e._2 > 100L), "star edges must be rooted at the min-id rep")
    // cross edges only touch the rep, never clique members:
    // h(100,5000)=1 (bit 0), h(100,5001)=1 (bit 5), h(5000,5001)=2; 6000 is far
    val crossEdges = got.filter(_._3 > 0).toSet
    assert(crossEdges == Set((100L, 5000L, 1), (100L, 5001L, 1), (5000L, 5001L, 2)), crossEdges.toString)
    // total output is linear in the clique, quadratic nowhere
    assert(got.length == (m - 1) + 3)
  }

  test("SimHash128 pigeonhole is COMPLETE for (Chunks=4, MaxHamming=3) across both words") {
    import graft.dedup.SimHash128
    // flips placed adversarially: all in one 32-bit chunk, straddling the
    // lo-word chunk boundary, straddling the WORD boundary, spread across
    // three chunks, and one flip in every chunk (hamming 4 — not retrieved)
    val (bh, bl) = (0x0123456789ABCDEFL, 0x0FEDCBA987654321L)
    def f(hi: Seq[Int], lo: Seq[Int]): (Long, Long) =
      (hi.foldLeft(bh)((s, b) => s ^ (1L << b)), lo.foldLeft(bl)((s, b) => s ^ (1L << b)))
    val sigs = Seq(
      (0L, bh, bl),
      { val (h, l) = f(Nil, Seq(0, 1, 2)); (1L, h, l) },        // 3 flips inside lo chunk 0
      { val (h, l) = f(Nil, Seq(31, 32, 33)); (2L, h, l) },     // straddles lo chunk 0/1 boundary
      { val (h, l) = f(Seq(0), Seq(63)); (3L, h, l) },          // straddles the word boundary
      { val (h, l) = f(Seq(40), Seq(5, 45)); (4L, h, l) },      // three different chunks
      { val (h, l) = f(Seq(0, 32), Seq(0, 32)); (5L, h, l) }    // hamming 4, one per chunk
    ).toDF("doc_id", "simhash_hi", "simhash_lo")
    val got = SimHash128.pairsFromSignatures(sigs, "doc_id")
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got.get((0L, 1L)).contains(3))
    assert(got.get((0L, 2L)).contains(3))
    assert(got.get((0L, 3L)).contains(2))
    assert(got.get((0L, 4L)).contains(3))
    assert(!got.contains((0L, 5L)), "hamming 4 exceeds MaxHamming")
  }

  test("SimHash128 matches a collapse-aware brute-force oracle; random sigs produce no spurious bucket load") {
    import graft.dedup.SimHash128
    val rnd = new scala.util.Random(7)
    val bases = Seq.tabulate(200)(i => (i.toLong, rnd.nextLong(), rnd.nextLong()))
    val derived = Seq.tabulate(80) { i =>
      val (bid, bh, bl) = bases(rnd.nextInt(bases.size))
      val flips = 1 + rnd.nextInt(3)
      val (h, l) = (0 until flips).foldLeft((bh, bl)) { case ((sh, sl), _) =>
        val bit = rnd.nextInt(128)
        if (bit < 64) (sh, sl ^ (1L << bit)) else (sh ^ (1L << (bit - 64)), sl)
      }
      (1000L + i, h, l)
    }
    val all = bases ++ derived
    def hamming(a: (Long, Long, Long), b: (Long, Long, Long)): Int =
      java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
    val repOf = all.groupBy(t => (t._2, t._3)).map { case (sig, grp) => sig -> grp.map(_._1).min }
    val star = all.collect { case t if repOf((t._2, t._3)) != t._1 => (repOf((t._2, t._3)), t._1, 0) }
    val reps = all.filter(t => repOf((t._2, t._3)) == t._1)
    val cross = for {
      a <- reps; b <- reps if a._1 < b._1
      h = hamming(a, b) if h <= SimHash128.MaxHamming
    } yield (a._1, b._1, h)
    val expect = (star ++ cross).toSet
    val got = SimHash128.pairsFromSignatures(all.toDF("doc_id", "simhash_hi", "simhash_lo"), "doc_id")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expect, s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    // ~n/2³² bucket load: among the 200 UNRELATED random signatures, no
    // 32-bit chunk ever collides (expected ≈ 4·n²/2³² ≈ 4e-5 at this n;
    // derived twins legitimately share chunks at hamming 4-6 and are
    // filtered by the exact hamming check, so they're excluded here). At
    // n=10⁹ the load is ~n/2³² per bucket where 16-bit chunks are already
    // quadratic.
    val baseChunks = bases.flatMap { case (id, hi, lo) =>
      Seq((0, lo & 0xFFFFFFFFL), (1, (lo >>> 32) & 0xFFFFFFFFL),
        (2, hi & 0xFFFFFFFFL), (3, (hi >>> 32) & 0xFFFFFFFFL)).map(ck => (ck, id))
    }
    val spurious = baseChunks.groupBy(_._1).values.filter(_.size > 1)
    assert(spurious.isEmpty, s"random-signature chunk collisions: ${spurious.take(5)}")
  }

  test("SimHash128 signatures: exact dups share both words; near-dups land within retrieval range") {
    import graft.dedup.SimHash128
    val sigs = SimHash128.signatures(spark, docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(sigs(0L) == sigs(3L), "identical text must produce identical 128-bit signature")
    def ham(a: Long, b: Long) =
      java.lang.Long.bitCount(sigs(a)._1 ^ sigs(b)._1) + java.lang.Long.bitCount(sigs(a)._2 ^ sigs(b)._2)
    assert(ham(0L, 1L) < ham(0L, 2L), "near-dup must be closer than unrelated text")
  }

  test("percentile_approx lands within 1% relative error of exact percentiles at sf0.1") {
    // accuracy=10000 bounds RANK error at N/10000; on these distributions
    // that translates to well under 1% relative VALUE error — pin that so a
    // sketch regression fails loudly
    val dir = "/root/testdata/sf0.1"
    val li = Tables.lineitem(spark, dir)
    val rows = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("approx"),
        expr("percentile(l_extendedprice, 0.9)").as("exact"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (a, x) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(a - x) / x < 0.01, s"flag ${r.get(0)}: approx $a vs exact $x")
    }
  }

  test("approx_count_distinct estimate is within the documented error bound of exact") {
    // Spark's approx_count_distinct defaults to HLL++ with rsd = 0.05 (a
    // standard deviation, not a max — measured error on these keys reaches
    // 2.7% at the default). q_approx_distinct pins rsd = 0.02, where the
    // measured max error is 1.03%; bound at 2% (≈2× slack) so a regression
    // in the approximate path fails loudly
    val dir = "/root/testdata/sf0.1"
    val li = Tables.lineitem(spark, dir)
    val rows = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (a, x) = (r.getAs[Long]("approx").toDouble, r.getAs[Long]("exact").toDouble)
      val err = math.abs(a - x) / x
      assert(err < 0.02, s"flag ${r.get(0)}: approx $a vs exact $x (err $err)")
    }
  }

  test("KmvSketch: partitioning-invariant, exact below k, bounded error above k") {
    import org.apache.spark.sql.functions._
    def sketch(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.agg(org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.functions.KmvSketch(
          org.apache.spark.sql.graftshim.ColumnBridge.expression(col("h")), k)
          .toAggregateExpression()).as("kmv"))
        .select(expr("kmv")).head().getSeq[Long](0)
    val n = 5000
    val hashed = spark.range(0, n * 3).selectExpr("id % " + n + " AS v") // heavy dups
      .select(conv(substring(md5(col("v").cast("string")), 1, 15), 16, 10).cast("long").as("h"))
    // same sketch no matter how the data is partitioned (mergeability)
    val a = sketch(hashed.repartition(1), 128)
    val b = sketch(hashed.repartition(16), 128)
    assert(a == b, "sketch must be partitioning-invariant")
    assert(a.size == 128 && a == a.sorted)
    // k-th smallest estimator within 3/sqrt(k-2) of truth on this data
    val est = 127.0 * 1152921504606846976.0 / a.last.toDouble
    assert(math.abs(est - n) / n < 3.0 / math.sqrt(126.0), s"est $est vs $n")
    // below k the sketch IS the distinct set
    val tiny = spark.range(0, 40)
      .select(conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long").as("h"))
    assert(sketch(tiny, 128).size == 40)
  }

  test("s_recall gate: one row per query, n_hits = |ann ∩ brute| ≤ 5, recall integer-derived") {
    val dir = "/root/testdata/sf0.001"
    val r = graft.queries.Similarity.sRecall(spark, dir).collect()
    val qs = Tables.embeddings(spark, dir).filter(col("vec_id") % 50 === 0).count()
    assert(r.length == qs, s"one recall row per query vector (${r.length} vs $qs)")
    r.foreach { row =>
      val hits = row.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 5)
      assert(row.getAs[Double]("recall") == hits / 5.0, "recall must be exactly n_hits/5")
    }
    // the synthetic corpus has SOME bucket-local structure — a recall of
    // zero everywhere means the probe path broke, not that ANN is hard
    assert(r.map(_.getAs[Long]("n_hits")).sum > 0, "IVF must recover some true neighbors")
  }

  test("d_source_overlap: normalized symmetric matrix whose mass equals the verified pair count") {
    val dir = "/root/testdata/sf0.001"
    val m = graft.queries.DedupQ.dSourceOverlap(spark, dir).collect()
    m.foreach { row =>
      assert(row.getAs[String]("src_a") <= row.getAs[String]("src_b"),
        "pairs must be normalized to an unordered source pair")
      assert(row.getAs[Long]("n_pairs") > 0)
    }
    assert(m.map(r => (r.getString(0), r.getString(1))).distinct.length == m.length)
    // mass check: the matrix rolls up EVERY verified pair exactly once
    val total = graft.queries.DedupQ.dJaccard(spark, dir).count()
    assert(m.map(_.getAs[Long]("n_pairs")).sum == total,
      "matrix mass must equal the verified near-dup pair count")
  }

  test("VectorDecimalSum rounds entry ties HALF_EVEN, matching the oracle's decimal cast") {
    // 0.1983642578125 is a float (dyadic) whose decimal expansion ends
    // EXACTLY on the scale-12 half; HALF_UP would give ...813, the
    // oracle engine's cast gives ...812 — the sum must take the even side
    val df = Seq(Array(0.1983642578125f)).toDF("v")
    val s = df.agg(org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.VectorDecimalSum(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(col("v")), 1)
        .toAggregateExpression()).as("s"))
      .head().getSeq[Double](0)
    assert(s.head == 0.198364257812, s"tie rounded away from even: ${s.head}")
  }

  test("s_centroid_drift: churn shrinks every label and drift stays in the plausible band") {
    val rows = graft.queries.Similarity.sCentroidDrift(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty && rows.length <= 16)
    rows.foreach { r =>
      val (na, nb, cos) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nb <= na, "snapshot B churns vectors OUT, never in")
      // ±2% component drift on a third of the vectors moves a label mean a
      // few degrees, never more: cos must sag below 1 but stay high
      assert(cos > 0.9 && cos < 0.99999, s"implausible drift cosine $cos")
    }
  }

  test("d_decontam_sem: planted eval leaks are caught cross-side, nothing else fires") {
    val rows = graft.queries.DedupQ.dDecontamSem(spark, "/root/testdata/sf0.001").collect()
    // 13 planted twins (vec_id ≡ 0 mod 39 of 500); band recall at
    // cos ≈ 0.95 is ~0.97 per pair, so at least 10 must surface — and
    // NOTHING else can pass the 0.9 cosine verify (max unrelated cosine
    // in the synthetic slice is ≈ 0.46)
    assert(rows.length >= 10 && rows.length <= 13, s"got ${rows.length} leaks")
    rows.foreach { r =>
      val (e, t, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(e % 39 == 0, s"non-planted eval id $e reported")
      assert(t == e + 2000000L, s"leak $e matched wrong train item $t")
      assert(c >= 0.9 && c <= 1.0)
    }
  }
}
