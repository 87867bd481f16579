package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** Guards the physical-plan properties the engine's 100 TB story depends
  * on: predicate pushdown into the parquet scan, column pruning, broadcast
  * joins for dimensions, and whole-stage codegen coverage. A regression
  * here is a scale bug even when results stay correct. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("driver contract: every gate query has an oracle, every oracle has a query") {
    // the registry rejects duplicate keys, so 379 entries are 379 gates
    assert(SparkEntry.queries.size == 379)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    val blank = SparkEntry.oracleSql.collect { case (k, sql) if sql.trim.isEmpty => k }
    assert(blank.isEmpty, s"gates with blank oracle SQL: ${blank.toSeq.sorted}")
  }

  test("driver contract: a gate list with a duplicate key or a blank oracle SQL fails construction") {
    val g = Gate("k", Relational.q6 _, "SELECT 1")
    assert(Gate.index(Seq(g)).keySet == Set("k"))
    val dup = intercept[IllegalArgumentException](
      Gate.index(Seq(g, g.copy(oracleSql = "SELECT 2"))))
    assert(dup.getMessage.contains("duplicate gate keys: k"))
    for (sql <- Seq(" ", null)) {
      val e = intercept[IllegalArgumentException](Gate.index(Seq(g.copy(oracleSql = sql))))
      assert(e.getMessage.contains("gates without oracle SQL: k"))
    }
  }

  test("q6: all three predicates push into the parquet scan; schema pruned to 4 columns") {
    val f = formatted(Relational.q6(spark, dir))
    assert(f.contains("PushedFilters:") && f.contains("l_shipdate"), f)
    assert(f.contains("l_discount") && f.contains("l_quantity"))
    // projection pruning: the scan must NOT read unused wide columns
    assert(!f.split("ReadSchema")(1).split("\n")(0).contains("l_returnflag"))
  }

  test("q3/q5/q10: dimension joins broadcast — the fact table never shuffles for them") {
    for (q <- Seq(Relational.q3 _, Relational.q5 _, Relational.q10 _)) {
      val p = plan(q(spark, dir))
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
    }
    // q5: star join over 6 tables must broadcast every dimension — the only
    // SortMergeJoin allowed is the orders⋈lineitem fact join
    val p5 = plan(Relational.q5(spark, dir))
    assert(p5.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") <= 1)
  }

  test("q1: single shuffle (partial aggregation map-side)") {
    val p = plan(Relational.q1(spark, dir))
    val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
    assert(p.contains("HashAggregate"), "partial agg expected")
    // one shuffle for the groupBy; the orderBy on 6 rows may add a range
    // exchange — nothing else
    assert(exchanges <= 2, s"unexpected shuffles:\n$p")
  }

  test("s_knn_brute: corpus side joins via broadcast of queries, no corpus shuffle before scoring") {
    val p = plan(Similarity.sKnnBrute(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("whole-stage codegen covers the q1 aggregation") {
    val df = Relational.q1(spark, dir)
    df.collect() // finalize the adaptive plan — codegen applies at execution
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the final AQE plan
    assert(p.contains("*(") && p.contains("HashAggregate"), p.take(1000))
  }

  test("q_topn_per_group executes through the k-bounded TopKPerKey operator") {
    val p = plan(Relational.qTopnPerGroup(spark, dir))
    assert(p.contains("TopKPerKey"), p.take(2000))
  }

  test("e_upsert_merge: exactly one shuffle join on the key") {
    val p = plan(Etl.eUpsertMerge(spark, dir))
    val smj = p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin")
    val bhj = p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin")
    assert(smj + bhj >= 1, "merge must be a single join")
  }

  test("AQE splits a skewed join partition at runtime (the 100 TB hot-key story, demonstrated)") {
    // one key carries ~100x the rows of every other; with broadcast off the
    // join is a sort-merge whose hot partition AQE must split. Production
    // thresholds are 256MB — scale them down so the same mechanism triggers
    // at test size, then assert the executed plan marks the join skew=true.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 200000)
        .select((when(col("id") % 2 === 0, lit(7L)).otherwise(col("id") % 1000)).as("k"),
          concat(lit("payload-"), col("id")).as(("v")))
      val right = spark.range(0, 1000).select(col("id").as("k"), col("id").cast("string").as("w"))
      val joined = left.join(right, "k")
      joined.collect() // AQE re-plans at runtime; skew handling shows post-execution
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(p.contains("skew=true"),
        s"AQE did not split the hot-key partition:\n${p.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("t_lm_score: the trigram model joins back via broadcast — the corpus-side trigram stream never shuffles for it") {
    val df = Text.tLmScore(spark, dir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("t_pack: the running token count is banded — no flat per-source sort of the corpus") {
    val df = Text.tPack(spark, dir)
    df.collect()
    val p = plan(df)
    // any window touching the running count must partition by the band
    // column — the flat PARTITION BY source ORDER BY doc_id form funnels
    // each source's whole corpus through one reducer (source is bounded)
    val badWindow = p.linesIterator.exists(l =>
      l.contains("Window [") && l.contains("n_tokens") && !l.contains("band"))
    assert(!badWindow, s"running sum must partition by (source, band):\n${p.take(3000)}")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && !p.substring(0, winIdx).contains("SinglePartition"),
      s"global window detected:\n${p.take(3000)}")
  }

  test("q19: the disjunctive predicate groups push into the part scan") {
    val f = formatted(Relational4.q19(spark, dir))
    // Catalyst extracts the part-side disjunction (brand OR-groups with
    // their size ranges) and pushes it as an Or filter into the scan
    assert(f.contains("PushedFilters: [") && f.contains("Or(") && f.contains("p_brand"),
      f.split("PushedFilters").take(3).mkString("\n"))
  }

  test("t_decontam_ngram: the probe (test-gram) side is bloom-pruned beneath the hit join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val df = Text.tDecontamNgram(spark, dir)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    val pruned = joins.exists(j => Seq(j.left, j.right).exists(_.collect {
      case f: Filter if f.condition.collect {
        case b: graft.operators.BloomPrune.BloomMightContainString => b
      }.nonEmpty => f
    }.nonEmpty))
    assert(pruned, "expected a bloom_might_contain Filter beneath the hit join:\n" +
      df.queryExecution.optimizedPlan.toString.take(3000))
    // and it survives to the executed plan inside codegen
    assert(plan(df).contains("bloom_might_contain"), plan(df).take(3000))
  }

  test("runtime bloom filter prunes the fact side of a shuffle join before the shuffle") {
    // The 100 TB shape: a selectively-filtered dim side seeds a bloom
    // filter that is pushed into the fact scan, so most fact rows die
    // before paying the shuffle. Production thresholds (10 GB application
    // side) are scaled down so the same optimizer rule fires at test size.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val tmp = java.nio.file.Files.createTempDirectory("graft-bloom")
    try {
      val fact = s"$tmp/fact"; val dim = s"$tmp/dim"
      spark.range(0, 100000).select(col("id").as("k"),
        concat(lit("p"), col("id")).as("v")).write.parquet(fact)
      spark.range(0, 1000).select(col("id").as("k"),
        (col("id") % 7).as("cat")).write.parquet(dim)
      val joined = spark.read.parquet(fact)
        .join(spark.read.parquet(dim).filter(col("cat") === 3), "k")
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter was not injected:\n${p.take(3000)}")
      assert(joined.count() == 143)
    } finally {
      saved.foreach { case (k, Some(v)) => spark.conf.set(k, v); case (k, None) => spark.conf.unset(k) }
    }
  }

  test("IncrementalAgg.mergeOuter on a bucketed state table shuffles ONLY the delta") {
    import org.apache.spark.sql.functions._
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS incr_state_bkt")
      spark.range(0, 1000).selectExpr("id % 50 AS k", "id AS n")
        .groupBy("k").agg(sum(col("n")).as("n"))
        .write.bucketBy(4, "k").sortBy("k").saveAsTable("incr_state_bkt")
      val state = spark.table("incr_state_bkt")
      val delta = spark.range(0, 100).selectExpr("id % 7 AS k", "id AS n")
        .groupBy("k").agg(sum(col("n")).as("n"))
      val merged = graft.operators.IncrementalAgg.mergeOuter(
        state, delta, Seq("k"), Seq("n" -> "sum"))
      merged.collect()
      // AQE renders Final AND Initial plans — count only the final section
      // or every Exchange is seen twice
      val p = merged.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      // the join must see exactly ONE Exchange (the delta side re-keying);
      // the bucketed state feeds the sort-merge join shuffle-free
      val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(p.contains("Bucketed: true"), s"state scan must be bucketed:\n${p.take(3000)}")
      assert(exchanges == 1, s"bucketed state must not re-shuffle:\n${p.take(3000)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS incr_state_bkt")
      saved match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("e_anomaly: stats broadcast back onto the fact scan — events never shuffle for scoring") {
    val p = plan(Etl.eAnomaly(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the only exchanges allowed: the moment aggregation's groupBy shuffle,
    // the broadcast itself, and the final presentation sort
    assert(!p.contains("SortMergeJoin"), "stats join must not shuffle the facts")
  }

  test("s_range_search: the query band table is the broadcast build side — the corpus streams") {
    val p = plan(Similarity.sRangeSearch(spark, dir))
    // pin the BAND join's own line (join key = bk), not just any join in
    // the plan: it must build from the bounded query side (BuildLeft —
    // queries are the left input); building the corpus would ship the
    // whole band table to every executor at 100 TB
    val bandJoin = p.linesIterator
      .filter(l => l.contains("BroadcastHashJoin [bk")).toSeq
    assert(bandJoin.nonEmpty, s"band join missing or not broadcast:\n${p.take(3000)}")
    assert(bandJoin.forall(_.contains("BuildLeft")),
      s"band join must build the query side:\n${bandJoin.mkString("\n")}")
    assert(!p.contains("SortMergeJoin"), "band probe must not shuffle both sides")
  }

  test("q_lateral: Catalyst decorrelates to a rank window with group-limit pushdown — no per-row subquery") {
    val p = plan(Relational3.qLateral(spark, dir))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("CartesianProduct"), "lateral must not execute as a cross product")
  }

  test("st_enrich: the static dimension broadcasts — the stream side never shuffles for it") {
    val p = plan(Modal.stEnrich(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "static-dim join must broadcast")
  }

  test("e_store_stamps: despawn + stamp bookkeeping adds NO join or shuffle over the plain merge") {
    val p = plan(Etl.eStoreStamps(spark, dir))
    val smj = p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin")
    val bhj = p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin")
    assert(smj + bhj == 1, s"stamped merge must stay a single join:\n${p.take(2000)}")
    // contains(), not startsWith(): left-branch Exchanges render behind a
    // ':' tree prefix and a startsWith count would miss them
    val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges <= 3, s"only the join's two sides (+ output sort) may shuffle:\n${p.take(2000)}")
  }

  test("q2: every dimension broadcasts — the only sort-merge join is the min-offer re-join") {
    val p = plan(Relational5.q2(spark, dir))
    val smj = p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(smj <= 1, s"only offers⋈best may sort-merge:\n${p.take(3000)}")
  }

  test("q13: the priority exclusion pushes into the orders scan; customer prunes to the key column") {
    val f = formatted(Relational5.q13(spark, dir))
    assert(f.contains("Not(EqualTo(o_orderpriority,1-URGENT))"), f.take(3000))
    val custSchema = f.linesIterator.filter(_.contains("customer.parquet")).mkString
    assert(!custSchema.contains("c_acctbal"), "customer scan must prune to c_custkey")
  }

  test("q11/q15/q22: scalar-subquery thresholds broadcast — never a cartesian product") {
    for (q <- Seq(Relational5.q11 _, Relational5.q15 _, Relational5.q22 _)) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"), s"scalar threshold degraded to cartesian:\n${p.take(3000)}")
    }
  }

  test("q21: EXISTS/NOT EXISTS ride the orderkey equi-joins as semi/anti — never a nested loop") {
    val p = plan(Relational5.q21(spark, dir))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"suppkey inequality must ride the equi-join, not a nested loop:\n${p.take(3000)}")
  }

  test("d_minhash candidates: adaptive tiers — bk window + size-GUARDED self-join only") {
    // the bucket-size-adaptive plan signature: one window over bk computes
    // the per-bucket min AND count; the all-pairs tier's self-join must be
    // guarded by the bucket-size bound on BOTH sides (n <= B before the
    // join), and the star tier by its complement (n > B) — an unguarded
    // band self-join means the unbounded quadratic path came back
    // — for MinHash documents and for EmbedLsh vectors alike
    import org.apache.spark.sql.functions.{col, expr}
    val b = graft.dedup.MinHashLsh.MaxAllPairsBucket
    val vecs = Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    for (p <- Seq(
        plan(graft.dedup.MinHashLsh.candidatePairs(Tables.documents(spark, dir), "doc_id", "text")),
        plan(graft.dedup.EmbedLsh.candidatePairs(vecs)))) {
      assert(p.contains("Window"), s"bucket-min/count window missing:\n${p.take(3000)}")
      assert(p.contains(s"<= $b"), s"all-pairs tier lost its bucket-size guard:\n${p.take(3000)}")
      assert(p.contains(s"> $b"), s"star tier lost its hot-bucket filter:\n${p.take(3000)}")
    }
  }

  test("s_pq: code assembly is ONE projection — zero joins, zero shuffles over the corpus") {
    // the M subspace codebooks are inlined literals; the only Exchange
    // allowed in the final plan is the presentation orderBy's range
    // partition — any Join node means the M-way vec_id re-join came back
    val p = plan(Similarity.sPq(spark, dir))
    assert(!p.contains("Join"), s"code assembly must not join:\n${p.take(3000)}")
  }

  test("s_ivfpq: probe list and all ADC LUTs broadcast; ranking rides TopKPerKey") {
    val p = plan(Similarity.sIvfPqSearch(spark, dir))
    // bucket pruning + the M LUT folds are query-sized — every one must be
    // a broadcast join (5 total); a sort-merge join over the pruned
    // candidates means a query-sized table shuffled the corpus
    val after = p.split("TopKPerKey").last // the scored subtree feeds TopKPerKey
    assert("BroadcastHashJoin".r.findAllIn(after).size >= 5,
      s"probe + 4 LUT joins must broadcast:\n${p.take(4000)}")
    assert(p.contains("TopKPerKey"), "ranking must ride the k-bounded TopKPerKey shuffle")
    assert(!after.contains("SortMergeJoin"),
      s"no corpus shuffle below TopKPerKey:\n${p.take(4000)}")
  }

  test("m_scene_cut: one per-video window over the frame stream, no join anywhere") {
    val p = plan(Modal.mSceneCut(spark, dir))
    assert(p.contains("Window") || p.contains("WindowGroupLimit") || p.contains("RunningWindowFunction"),
      s"lag window expected:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"scene-cut must never join:\n${p.take(3000)}")
    // the only wide dependencies: the explicit input repartition and the
    // window's hashpartitioning on doc_id (plus the presentation sort)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n$p")
  }

  test("e_inferred_dim: facts only ever contribute a distinct FK column (partial agg before any join)") {
    val f = formatted(graft.queries.Etl.eInferredDim(spark, dir))
    // the fact side collapses to its FK distinct BEFORE the anti-join:
    // partial aggregation must appear, and the anti-join must consume it —
    // fact rows never ride a join wire
    assert(f.contains("HashAggregate"), "FK distinct must partial-aggregate map-side")
    assert(f.contains("LeftAnti") || f.contains("left_anti"),
      s"placeholder discovery must be an anti-join:\n${f.take(3000)}")
  }

  test("e_fk_orphans: child rows collapse to keyed counts BEFORE every orphan join") {
    val p = plan(graft.queries.N2k.eFkOrphans(spark, dir))
    // every left join must consume an aggregate (the child (keys, count)
    // collapse), never a raw extract: the count column feeds sum(), so a
    // plan where a join input lacks partial aggregation would not resolve
    assert(p.contains("HashAggregate"), "child collapse missing")
    // no edge's parent check may degrade to a nested loop / cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"orphan join must stay keyed:\n${p.take(3000)}")
  }

  test("t_classify: corpus masses broadcast; nothing in the plan is a cartesian or nested loop") {
    val p = plan(Text.tClassify(spark, dir))
    // the 1-row totals must ride a broadcast (crossJoin(broadcast(...)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"totals must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"),
      s"1-row totals as a cartesian means the broadcast hint was lost:\n${p.take(3000)}")
  }

  test("e_bitemporal: both time-axis filters reach the events scan; one k=1 window shuffle") {
    val f = formatted(graft.queries.Etl.eBitemporal(spark, dir))
    assert(f.contains("PushedFilters:") && f.contains("event_type"),
      "the change-type filter must push into the scan")
    assert(!f.contains("Join"), "a bitemporal point read must not join")
    // WindowGroupLimit: rn=1 windows prune to per-key top-1 before the sort
    assert(f.contains("WindowGroupLimit") || f.contains("Window"), f.take(2000))
  }

  test("d_decontam_sem: band-key candidates only — never a cartesian between eval and train sides") {
    val p = plan(DedupQ.dDecontamSem(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bipartite decontamination must stay band-bucketed:\n${p.take(3000)}")
    // the cross-side parity filter must prune candidates BEFORE the
    // cosine-verify joins back to the vectors
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "candidate join missing")
  }

  test("m_vad: decode is narrow; the only wide ops are the per-doc window and run aggregation") {
    val p = plan(graft.queries.Modal.mVad(spark, dir))
    assert(!p.contains("Join"), s"VAD must never join:\n${p.take(3000)}")
    // input repartition + ONE doc-keyed window (run numbering is a running
    // state-change count on the same sort — no (doc_id, active) secondary
    // window) whose hash(doc_id) partitioning also satisfies the run
    // aggregation, + presentation sort: 3 exchanges total
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n$p")
  }

  test("e_k_anon: one QI-keyed aggregation; the HAVING filter rides it, no second shuffle") {
    val p = plan(graft.queries.Etl.eKAnon(spark, dir))
    assert(!p.contains("Join"), "a k-anonymity audit is one aggregation, never a join")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"audit must be agg + presentation sort only ($exchanges):\n$p")
  }

  test("io_dpp_roundtrip: the fact scan carries a dynamicpruning partition filter from the dim side") {
    val p = plan(graft.queries.Relational3.ioDppRoundtrip(spark, dir))
    // the whole point of the gate: the runtime-derived year set must reach
    // the partitioned fact scan as a dynamic partition filter — pruned
    // directory reads, not scan-then-filter
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n${p.take(4000)}")
  }

  test("e_quarantine: all rules in ONE narrow projection — no join, no aggregation shuffle") {
    val p = plan(graft.queries.Etl2.eQuarantine(spark, dir))
    assert(!p.contains("Join"), "rule evaluation must not join")
    // scan → filter/project → presentation sort: the only exchange is the sort
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"quarantine must be a narrow map ($exchanges):\n$p")
  }

  test("e_expectations: the whole suite is ONE aggregation pass") {
    val p = plan(graft.queries.Etl2.eExpectations(spark, dir))
    assert(!p.contains("Join"), "checks must share one scan, never join")
    // distinct-count rewrites to Expand + two-phase agg on one scan; the
    // scan count is the honest single-pass signal
    val scans = p.linesIterator.count(l => l.contains("FileScan") || l.contains("BatchScan"))
    assert(scans == 1, s"expectation suite must read the table once ($scans):\n$p")
  }

  test("e_drift: two histogram aggregations, one bin-sized outer join, broadcast totals") {
    val p = plan(graft.queries.Etl2.eDrift(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row totals must broadcast")
    val sorts = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(sorts <= 1, s"only the presentation sort may range-partition:\n$p")
  }

  test("s_mmr: candidate pool and pairwise sims come from k-bounded checkpoints; corpus joins once") {
    val p = plan(graft.queries.Similarity.sMmr(spark, dir))
    // after the initial top-k, every greedy round works on checkpointed
    // k-bounded frames — the corpus scan must appear at most once
    val scans = p.linesIterator.count(l => l.contains("FileScan") || l.contains("BatchScan"))
    assert(scans <= 1, s"greedy rounds must not rescan the corpus ($scans):\n${p.take(3000)}")
  }

  test("t_html: extraction is a pure narrow map — no join, no aggregation") {
    val p = plan(graft.queries.Web.tHtml(spark, dir))
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"HTML extraction must be scan → project:\n${p.take(2000)}")
  }

  test("q_rfm: thresholds broadcast as one row; no extra corpus shuffle beyond the per-customer agg") {
    val p = plan(graft.queries.Relational4.qRfm(spark, dir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "percentile thresholds and the frontier must broadcast")
    val ranges = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(ranges <= 1, s"only the presentation sort may range-partition ($ranges):\n$p")
  }

  test("q_basket: per-item supports join the bounded pair set — never a cartesian") {
    val p = plan(graft.queries.GraphQ.qBasket(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"basket scoring must stay keyed:\n${p.take(3000)}")
  }

  test("d_substring_overlap: hot fingerprints prune BEFORE the pair join") {
    val p = plan(graft.queries.DedupQ.dSubstringOverlap(spark, dir))
    assert(!p.contains("CartesianProduct"), "fingerprint pairing must stay keyed")
    // the rare-fp semi join must appear under the a×b pair join, not after
    val pairJoinAt = p.indexOf("a_id")
    assert(pairJoinAt >= 0 && p.contains("n_docs") || p.contains("Join"),
      s"rare-fingerprint pruning missing:\n${p.take(2000)}")
  }

  test("s_centroid_drift: exactly one aggregation per snapshot, |labels|-sized join") {
    val p = plan(graft.queries.Similarity.sCentroidDrift(spark, dir))
    // two snapshot aggregations (each partial+final HashAggregate or
    // ObjectHashAggregate for the typed vector sum) and the label join —
    // the corpus must NOT shuffle more than once per snapshot
    val aggExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(label"))
    assert(aggExchanges <= 3, s"label shuffles exploded ($aggExchanges):\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
      p.contains("HashAggregate"), "decimal vector sum must aggregate, not collect")
  }

  test("tokenizer fast path stays codegen'd: array_remove, never the ArrayFilter HOF") {
    // the round-9 regression shape: filter(split(...), x -> x != '') is a
    // CodegenFallback higher-order function and cost every tokens()
    // consumer 2-7x despite identical semantics; the drop-empties step
    // must stay the codegen'd array_remove
    val df = Tables.documents(spark, dir)
      .select(graft.functions.TextFunctions.tokens(
        org.apache.spark.sql.functions.col("text")).as("toks"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("array_remove"), s"fast path must use array_remove:\n${p.take(1500)}")
    assert(!p.contains("ArrayFilter") && !p.contains("lambdafunction(NOT"),
      s"no HOF filter may appear in the tokenizer fast path:\n${p.take(1500)}")
  }

  test("q_attribution: both models ride ONE user-keyed window sort") {
    val p = plan(graft.queries.Relational6.qAttribution(spark, dir))
    // last_touch and first_touch share a window frame — exactly one
    // user_id hash exchange may appear before the rollups
    val userShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles <= 1, s"attribution must sort per user once ($userShuffles):\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_mom_yoy: one fact aggregation; window and YoY join run on the |months|-row frame") {
    val f = formatted(graft.queries.Relational6.qMomYoy(spark, dir))
    // the orders scan feeds ONE aggregate; it must be read at most twice
    // (Spark may re-use or re-scan for the self-join side), never more
    val scans = f.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"month frame must come from bounded scans ($scans)")
    val p = plan(graft.queries.Relational6.qMomYoy(spark, dir))
    assert(!p.contains("CartesianProduct"))
  }

  test("e_mad_outliers: group stats broadcast; the fact table never shuffles for scoring") {
    val p = plan(graft.queries.Etl2.eMadOutliers(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "med/MAD stats must broadcast to the flag scan")
    // only the two percentile aggregations may hash-exchange on the group key
    val groupShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(l_returnflag"))
    assert(groupShuffles <= 2, s"stats passes exploded ($groupShuffles):\n${p.take(3000)}")
  }

  test("d_cdc_chunks: doc-keyed window and chunk collapse share ONE shuffle; top-20 is a bounded TakeOrdered, never a full-set window sort") {
    val p = plan(graft.queries.DedupQ.dCdcChunks(spark, dir))
    // the boundary window and the (doc, chunk) collapse must reuse the
    // explicit doc_id repartition — exactly one doc-keyed exchange
    val docShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(doc_id"))
    assert(docShuffles <= 1, s"chunking must shuffle per doc once ($docShuffles):\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a per-partition heap, not a global window sort:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_basket / q_label_prop: global top-k is a bounded TakeOrdered, never a full-set single-partition window sort") {
    // the rank window runs AFTER the limit (on k rows); the above-support
    // pair set / |communities| frame must reach the driver through
    // per-partition heaps only (VERDICT r10 #4)
    for (q <- Seq(graft.queries.GraphQ.qBasket _, graft.queries.GraphQ.qLabelProp _)) {
      val p = plan(q(spark, dir))
      assert(p.contains("TakeOrderedAndProject"),
        s"top-k must be a per-partition heap:\n${p.take(3000)}")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("s_triplet_mine: negatives ride the k-bounded TopKPerKey shuffle; anchors broadcast") {
    val p = plan(graft.queries.Similarity.sTripletMine(spark, dir))
    assert(p.contains("TopKPerKey"),
      s"hard negatives must shuffle k-bounded per anchor:\n${p.take(3000)}")
    // both corpus passes probe the bounded anchor set via broadcast —
    // the corpus never shuffles for the anchor join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"anchor set must broadcast:\n${p.take(3000)}")
  }

  test("t_pref_pairs: ONE prompt-keyed aggregation — no window, no per-group sort") {
    val p = plan(graft.queries.Text.tPrefPairs(spark, dir))
    assert(!p.contains("Window"),
      s"argmax/argmin must ride the aggregation as struct max/min:\n${p.take(3000)}")
    val grpShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(grp"))
    assert(grpShuffles <= 1, s"one keyed shuffle expected ($grpShuffles):\n${p.take(3000)}")
  }

  test("d_minhash_est: estimator reuses the cached stages — no extra corpus scan, codegen'd equality sum") {
    // warm the shared stages first (any dedup gate does)
    graft.queries.DedupQ.dMinhashPairs(spark, dir).queryExecution.toRdd.count()
    val p = plan(graft.queries.DedupQ.dMinhashEst(spark, dir))
    val scans = p.linesIterator.count(l => l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 0, s"estimator must run off the checkpointed stages ($scans):\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_pareto: the distributed prefix sum — per-customer windows partition by band, never one global sort") {
    val p = plan(graft.queries.Relational7.qPareto(spark, dir))
    // the |customers|-frame running sum must be the band-partitioned
    // window; the only unpartitioned window is the 16-row band-offset
    // prefix (bounded by construction)
    assert(p.contains("Exchange hashpartitioning(band"),
      s"within-band cumulative sum must partition by band:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("t_collocations: top-30 is a bounded TakeOrdered, never a full-pair-set window sort") {
    val p = plan(graft.queries.Text2.tCollocations(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"PMI top-k must be a per-partition heap:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("s_mutual_knn: directed edges ride the k-bounded TopKPerKey shuffle; panel broadcasts") {
    // pin the pre-checkpoint edge stage — the gate checkpoints it for the
    // two-sided mutual join, which truncates the published plan
    val p = plan(graft.queries.Similarity2.mutualKnnEdges(spark, dir))
    assert(p.contains("TopKPerKey"),
      s"per-vector top-k must shuffle k-bounded:\n${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the bounded panel must broadcast for scoring:\n${p.take(3000)}")
  }

  test("q_paths: both leads share ONE user-keyed sort; top-20 is a bounded TakeOrdered") {
    val p = plan(graft.queries.Relational7.qPaths(spark, dir))
    val userShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles <= 1, s"one user-keyed shuffle expected ($userShuffles):\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"path top-k must be a per-partition heap:\n${p.take(3000)}")
  }

  test("io_bucket_join: both sides read bucketed, the join key never re-shuffles") {
    val p = plan(graft.queries.Relational7.ioBucketJoin(spark, dir))
    assert(p.linesIterator.count(_.contains("Bucketed: true")) == 2,
      s"both scans must be bucketed:\n${p.take(3000)}")
    assert(!p.contains("Exchange hashpartitioning(k"),
      s"the co-located join must not shuffle on the key:\n${p.take(3000)}")
  }

  test("q_gaps: the fact table shuffles once (user-keyed window); rollup is magnitude-bounded") {
    val p = plan(graft.queries.Relational7.qGaps(spark, dir))
    val userShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles <= 1, s"one user-keyed shuffle expected ($userShuffles):\n${p.take(3000)}")
    assert(p.linesIterator.count(_.contains("Window")) <= 2, // logical+physical mention
      s"a single lag window expected:\n${p.take(3000)}")
  }

  test("q_benford: one map-side-partial aggregation to ≤9 rows; total broadcasts") {
    val p = plan(graft.queries.Relational8.qBenford(spark, dir))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"digit counts must partial-aggregate map-side:\n${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"no window anywhere:\n${p.take(3000)}")
  }

  test("q_hhi: supplier dim broadcasts into the fact scan; fact shuffles once") {
    val p = plan(graft.queries.Relational8.qHhi(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"supplier and nation must broadcast:\n${p.take(3000)}")
    val factShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(s_nationkey, s_suppkey"))
    assert(factShuffles <= 1, s"one fact shuffle expected ($factShuffles):\n${p.take(3000)}")
  }

  test("q_chisq: marginals roll up the checkpointed cell frame and broadcast back") {
    val p = plan(graft.queries.Relational8.qChisq(spark, dir))
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 2,
      s"row/col marginals must broadcast into the cell join:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"bounded marginal joins must never sort-merge:\n${p.take(3000)}")
  }

  test("q_new_returning: first-day min rides the user-keyed window; no fact join") {
    val p = plan(graft.queries.Relational8.qNewReturning(spark, dir))
    val userShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles <= 2, s"activity distinct + user window only ($userShuffles):\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the flag must come from the window, never a join back to the fact:\n${p.take(3000)}")
  }

  test("e_table_checksum: both sides partial-aggregate map-side to bucket rows; no window") {
    val p = plan(graft.queries.Etl3.eTableChecksum(spark, dir))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"checksums must partial-aggregate map-side:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"no window anywhere:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("e_type_infer: the stack unpivot feeds ONE col-keyed aggregation; no join") {
    val p = plan(graft.queries.Etl3.eTypeInfer(spark, dir))
    assert(!p.contains("Join"), s"type votes must not join anything:\n${p.take(3000)}")
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(col_name"))
    assert(aggShuffles <= 1, s"one keyed shuffle expected ($aggShuffles):\n${p.take(3000)}")
  }

  test("t_garbage: regex counts ride the scan — no keyed shuffle before the presentation sort") {
    val p = plan(graft.queries.Text2.tGarbage(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"the feature pass must stay narrow:\n${p.take(3000)}")
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("t_entities: top-20 is a bounded TakeOrdered, never a global window sort") {
    val p = plan(graft.queries.Text2.tEntities(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"entity top-k must be a per-partition heap:\n${p.take(3000)}")
    assert(!p.contains("Window"))
  }

  test("s_ood: centroid table broadcasts back; the corpus pays one label-keyed partial agg") {
    val p = plan(graft.queries.Similarity2.sOod(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the |labels|-row centroid table must broadcast:\n${p.take(3000)}")
    val labelShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(label"))
    assert(labelShuffles <= 1, s"one label-keyed shuffle expected ($labelShuffles):\n${p.take(3000)}")
  }

  test("st_anomaly: the baseline joins as a broadcast — the stream's only state is the windowed count") {
    val p = plan(graft.queries.Modal.stAnomaly(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the |types|x24 baseline must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_skyline: dominance windows partition by band — no full-frame single-partition sort") {
    val p = plan(graft.queries.Relational8.qSkyline(spark, dir))
    // bounded single-partition frames are fine (the 1-row bounds agg, the
    // 16-row band-prefix window, the pre-cache agg now visible since the
    // frame is cached, not checkpointed); what must NOT happen is the
    // |parts|-row dominance window running unpartitioned — pin that every
    // point-frame window carries the band partition key
    val sp = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(sp <= 3, s"only bounded frames may single-partition ($sp):\n${p.take(3000)}")
    val badWindow = p.linesIterator.exists(l =>
      l.contains("Window [") && l.contains("price_i") && !l.contains("band"))
    assert(!badWindow, s"dominance windows must partition by band:\n${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bounds and band prefix must broadcast:\n${p.take(3000)}")
  }

  test("q_funnel_time: signup window and conversion agg share ONE user-keyed shuffle") {
    val p = plan(graft.queries.Relational8.qFunnelTime(spark, dir))
    val userShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles <= 1, s"one user-keyed shuffle expected ($userShuffles):\n${p.take(3000)}")
  }

  test("e_mask: masking is a narrow projection riding the scan") {
    val p = plan(graft.queries.Etl3.eMask(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"no keyed shuffle before the presentation sort:\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("io_mor_roundtrip: the delete set applies as a BROADCAST anti-join on the base scan") {
    val p = plan(graft.queries.Etl3.ioMorRoundtrip(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"deletes must broadcast into an anti-join:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("t_ctrlchars: the audit is a narrow regex pass riding the scan") {
    val p = plan(graft.queries.Text2.tCtrlchars(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"no keyed shuffle before the presentation sort:\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("q_sketch_setops: per-slice O(k)-state aggregation; the set algebra runs on two arrays") {
    val p = plan(graft.queries.Events.qSketchSetops(spark, dir))
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row sketch frames must never sort-merge:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"no window anywhere:\n${p.take(3000)}")
  }

  test("q_decay: 1-row frontier broadcast + one map-side-partial aggregation") {
    val p = plan(graft.queries.Events.qDecay(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the frontier must broadcast:\n${p.take(3000)}")
    val typeShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(event_type"))
    assert(typeShuffles <= 1, s"one keyed shuffle expected ($typeShuffles):\n${p.take(3000)}")
  }

  test("s_elbow: every k assigns against broadcast centroids; min_by shuffles partial-aggregated rows only") {
    val p = plan(graft.queries.Similarity2.sElbow(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids must broadcast into the assign pass:\n${p.take(3000)}")
    // the assign's min_by is partial-aggregated map-side before its p_id
    // exchange — pin that the partial agg exists and nothing sort-merges
    assert(p.contains("partial_min_by"),
      s"assign must partial-aggregate before the exchange:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_wape: spine window and rollup ride the type-keyed partitioning; no fact re-scan") {
    val p = plan(graft.queries.Events.qWape(spark, dir))
    val typeShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(event_type"))
    assert(typeShuffles <= 3, s"hourly agg + spine window + rollup only ($typeShuffles):\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("e_scd2_compact: both windows AND the run collapse ride one entity-keyed shuffle") {
    val p = plan(graft.queries.Etl3.eScd2Compact(spark, dir))
    val keyShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(k"))
    assert(keyShuffles <= 1, s"one entity-keyed shuffle expected ($keyShuffles):\n${p.take(3000)}")
  }

  test("s_purity: per-cluster argmax is max_by on the rollup — no window") {
    val p = plan(graft.queries.Similarity2.sPurity(spark, dir))
    assert(!p.contains("Window"), s"no window anywhere:\n${p.take(3000)}")
    assert(p.contains("max_by"), s"argmax must ride the aggregation:\n${p.take(3000)}")
  }

  test("t_ngram_coverage: the probe joins on the fixed-width md5 key, never gram text") {
    val p = plan(graft.queries.Text2.tNgramCoverage(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the probe must be an equality join on g:\n${p.take(3000)}")
  }

  test("q_weighted_median: the cumulative quantity is banded — no flat per-flag sort of the fact") {
    val p = plan(graft.queries.Relational8.qWeightedMedian(spark, dir))
    // any window touching price_i must partition by the band column — the
    // flat PARTITION BY flag ORDER BY price form single-reduces per flag
    val badWindow = p.linesIterator.exists(l =>
      l.contains("Window [") && l.contains("price_i") && !l.contains("band"))
    assert(!badWindow, s"cumulative window must partition by (flag, band):\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      s"band offsets and group totals must broadcast back:\n${p.take(3000)}")
  }

  test("q_degree_dist: edge join is order-keyed; spectrum rollups are map-side partial") {
    val p = plan(graft.queries.Relational8.qDegreeDist(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"the co-purchase join must be an equality join on the order key:\n${p.take(3000)}")
    assert(!p.contains("Window"))
  }

  test("q_bool_agg: the whole boolean suite rides one map-side-partial aggregation") {
    val p = plan(graft.queries.Relational8.qBoolAgg(spark, dir))
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(o_orderpriority"))
    assert(aggShuffles <= 1, s"one keyed shuffle expected ($aggShuffles):\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("e_json_validate: all rules evaluate in ONE narrow projection + one aggregation") {
    val p = plan(graft.queries.Etl3.eJsonValidate(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"the global agg needs no keyed shuffle:\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("m_srt_parse: synthesis and parse are narrow string maps riding the scan") {
    val p = plan(graft.queries.Modal3.mSrtParse(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"no keyed shuffle before the presentation sort:\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("s_norm_hist: the norm fold rides the scan; histogram is map-side partial") {
    val p = plan(graft.queries.Similarity2.sNormHist(spark, dir))
    val bShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(norm_bucket"))
    assert(bShuffles <= 1, s"one bucket-keyed shuffle expected ($bShuffles):\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("q_gini: the global rank is banded — rank windows partition by band, never one partition") {
    val p = plan(graft.queries.Relational8.qGini(spark, dir))
    val sp = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    // bounded frames may single-partition (1-row bounds agg, 16-row offset
    // frame, the final scalar agg, the pre-cache agg now visible in the
    // cached lineage); the |customers|-row rank window must not — pin that
    // it carries the band partition key
    assert(sp <= 4, s"only bounded frames may single-partition ($sp):\n${p.take(3000)}")
    val badWindow = p.linesIterator.exists(l =>
      l.contains("Window [") && l.contains("rev_i") && !l.contains("band"))
    assert(!badWindow, s"the rank window must partition by band:\n${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bounds and offsets must broadcast:\n${p.take(3000)}")
  }

  test("e_hash_ring: routing is a broadcast ring + map-side min_by — keys never shuffle raw") {
    // pin the pre-checkpoint routing stage; the gate checkpoints it for
    // the three rollups, which truncates the published plan
    val p = plan(graft.queries.Etl3.eHashRingAssign(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 144-row ring must broadcast:\n${p.take(3000)}")
    assert(p.contains("partial_min_by"),
      s"the clockwise pick must partial-aggregate map-side:\n${p.take(3000)}")
    assert(!p.contains("Window"))
  }

  test("t_license: detection is a narrow regex map + one rollup") {
    val p = plan(graft.queries.Text2.tLicense(spark, dir))
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(license"))
    assert(aggShuffles <= 1, s"one keyed shuffle expected ($aggShuffles):\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("d_cos_hist: candidates come from band buckets — no all-pairs cross join") {
    val p = plan(graft.queries.DedupQ.dCosHist(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay bucket-local:\n${p.take(3000)}")
  }

  test("t_nfc_dedup: retrieval is an equality join on the NFC hash; normalize+hash ride the scan") {
    val p = plan(graft.queries.Text2.tNfcDedup(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pair join must be an equality join on nfc_h:\n${p.take(3000)}")
    assert(p.contains("nfcnormalize") || p.contains("nfc_normalize"),
      s"the native expression must be in the plan:\n${p.take(3000)}")
  }

  test("q_apportion: quotas and remainder ranking live on the |nations|-row frame") {
    val p = plan(graft.queries.Relational8.qApportion(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"nation dim and totals must broadcast:\n${p.take(3000)}")
    val keyShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(c_custkey"))
    assert(keyShuffles == 0, s"customers must aggregate without a raw-key shuffle:\n${p.take(3000)}")
  }

  test("s_mrr: both ranked lists are k-bounded; the hit join rides the bounded frame") {
    val p = plan(graft.queries.Similarity2.sMrr(spark, dir))
    assert(p.contains("TopKPerKey"),
      s"ANN ranking must be the k-bounded shuffle:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("d_dup_mass: rides the cached canonical map — one global aggregation, no window") {
    val p = plan(graft.queries.DedupQ.dDupMass(spark, dir))
    assert(!p.contains("Window"), s"no window anywhere:\n${p.take(3000)}")
    assert(p.contains("Scan ExistingRDD") || p.contains("InMemory"),
      s"the canonical map must come from the cached stage:\n${p.take(3000)}")
  }

  test("q_growth_acct: ONE user-keyed window classifies everything; churn lag rides the |days| frame") {
    val p = plan(graft.queries.Relational8.qGrowthAcct(spark, dir))
    val userShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles <= 2, s"activity distinct + user window only ($userShuffles):\n${p.take(3000)}")
    assert(!p.contains("Join"), s"all four series from one pass — no self-joins:\n${p.take(3000)}")
  }

  test("q_punchcard: one map-side-partial aggregation to <=168 cells") {
    val p = plan(graft.queries.Relational8.qPunchcard(spark, dir))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n${p.take(3000)}")
  }

  test("e_key_infer: all candidate distinct counts ride ONE aggregation pass") {
    val p = plan(graft.queries.Etl3.eKeyInfer(spark, dir))
    assert(!p.contains("Join"), s"no join — one pass:\n${p.take(3000)}")
    assert(p.contains("Expand"), s"the multi-distinct Expand is the expected shape:\n${p.take(3000)}")
  }

  test("q_movers: top-10 is a bounded TakeOrdered; the lag rides the monthly frame") {
    val p = plan(graft.queries.Relational8.qMovers(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"movers top-k must be a per-partition heap:\n${p.take(3000)}")
    val factShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(priority, month"))
    assert(factShuffles <= 1, s"one monthly-agg shuffle expected ($factShuffles):\n${p.take(3000)}")
  }

  test("s_dim_stats: one dim-keyed map-side-partial aggregation to 64 rows") {
    val p = plan(graft.queries.Similarity2.sDimStats(spark, dir))
    val dimShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(dim"))
    assert(dimShuffles <= 1, s"one dim-keyed shuffle expected ($dimShuffles):\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("e_hash_chain: each side is ONE entity-keyed aggregation with an in-row fold — no window, no iterative joins") {
    val p = plan(graft.queries.Etl3.eHashChain(spark, dir))
    assert(!p.contains("Window"), s"the chain folds in-row, never a window:\n${p.take(3000)}")
    val keyShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(o_custkey"))
    assert(keyShuffles <= 3, s"two side aggs + diff join only ($keyShuffles):\n${p.take(3000)}")
  }

  test("e_hwm_extract: each extract is a filtered scan + one global checksum agg — no window") {
    val p = plan(graft.queries.Etl3.eHwmExtract(spark, dir))
    assert(!p.contains("Window"), s"no window anywhere:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row frames must never sort-merge:\n${p.take(3000)}")
  }

  test("q_trailing7: the fact aggregates once; the RANGE window rides the |days| frame") {
    val p = plan(graft.queries.Relational8.qTrailing7(spark, dir))
    val dayShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(day"))
    assert(dayShuffles <= 1, s"one daily-agg shuffle expected ($dayShuffles):\n${p.take(3000)}")
    assert(!p.contains("Join"))
  }

  test("t_prefix_share: prefix-keyed map-side-partial count; top-20 is a bounded TakeOrdered") {
    val p = plan(graft.queries.Text2.tPrefixShare(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"prefix top-k must be a per-partition heap:\n${p.take(3000)}")
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("q_ab_srm: one user-distinct aggregation to two counts; scalar arithmetic after") {
    val p = plan(graft.queries.Relational8.qAbSrm(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"counts must partial-aggregate map-side:\n${p.take(3000)}")
  }

  test("e_survivorship: ONE entity-keyed aggregation — no window, all survivorship max_bys ride it") {
    val p = plan(graft.queries.Etl2.eSurvivorship(spark, dir))
    assert(!p.contains("Window"),
      s"survivorship must be max_by on the aggregation, not a sort/window:\n${p.take(3000)}")
    val keyShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(c_custkey"))
    assert(keyShuffles <= 1, s"one keyed shuffle expected ($keyShuffles):\n${p.take(3000)}")
  }

  test("q_spearman: both rank windows PARTITIONED BY nation — never a global sort") {
    val p = plan(graft.queries.Relational9.qSpearman(spark, dir))
    assert(p.contains("Window"), s"rank windows expected:\n${p.take(3000)}")
    assert(!p.linesIterator.exists(l => l.contains("Window") && !l.contains("nationkey")),
      s"every window must partition by nationkey:\n${p.take(3000)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"a global rank sort would single-thread at 100 TB:\n${p.take(3000)}")
  }

  test("q_mann_whitney: banded midrank — no flat per-type sort, band frames broadcast") {
    val p = plan(graft.queries.Relational9.qMannWhitney(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"pooled ranking must stay per-group:\n${p.take(3000)}")
    // the banded-prefix rewrite: any window touching the pooled value must
    // partition by (event_type, band) — bare event_type single-reduces
    val badWindow = p.linesIterator.exists(l =>
      l.contains("Window [") && l.contains("value") && !l.contains("band"))
    assert(!badWindow, s"midrank window must partition by (type, band):\n${p.take(3000)}")
    // band bounds and cross-band offsets come back as broadcasts, never a
    // fact-sized sort-merge join
    assert(!p.contains("SortMergeJoin"), s"band frames must broadcast:\n${p.take(3000)}")
  }

  test("q_simpson: two stacked map-side-partial aggregations — no window, no join") {
    val p = plan(graft.queries.Relational9.qSimpson(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"type counts must partial-aggregate map-side:\n${p.take(3000)}")
  }

  test("q_winsorize: percentile bounds broadcast back — the fact never sort-merges") {
    val p = plan(graft.queries.Relational9.qWinsorize(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤|nations|-row bounds frame must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
  }

  test("q_moments: ONE map-side-partial aggregation carries all four power sums") {
    val p = plan(graft.queries.Relational9.qMoments(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"))
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(nationkey"))
    assert(aggShuffles <= 1, s"one keyed shuffle expected ($aggShuffles):\n${p.take(3000)}")
  }

  test("q_local_cc: oriented triangle enumeration — equality joins only, no global window") {
    val p = plan(graft.queries.GraphQ.qLocalCc(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"wedge/close joins must stay equality joins:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"per-vertex counts are aggregations, not windows:\n${p.take(3000)}")
  }

  test("q_assortativity: exact integer sums ride one scalar aggregate; degree joins never cartesian") {
    val p = plan(graft.queries.GraphQ.qAssortativity(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"power sums must partial-aggregate map-side:\n${p.take(3000)}")
  }

  test("t_rake: islands window partitions by doc; word scores broadcast back; top-20 is a bounded TakeOrdered") {
    val p = plan(graft.queries.Text2.tRake(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"phrase top-k must be a per-partition heap:\n${p.take(3000)}")
    val winIdx = p.indexOf("Window")
    assert(winIdx < 0 || !p.substring(0, p.indexOf("TakeOrderedAndProject"))
      .contains("Exchange SinglePartition"),
      s"no single-partition exchange before the bounded top-k:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the word-score table must broadcast onto phrase members:\n${p.take(3000)}")
  }

  test("t_jsonl_export: pure narrow map — no join, no window, no aggregate shuffle") {
    val p = plan(graft.queries.Text2.tJsonlExport(spark, dir))
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(!p.contains("HashAggregate"), s"rendering must not aggregate:\n${p.take(3000)}")
  }

  test("s_ndcg: label joins broadcast; one query-keyed rollup; no corpus shuffle") {
    val p = plan(graft.queries.Similarity2.sNdcg(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"label tables must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("t_oov: one train-vocab distinct + an UNHINTED membership join + one lang rollup") {
    val p = plan(graft.queries.Text2.tOov(spark, dir))
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_backlog: two day-keyed counts; running sums ride the bounded day frame") {
    val p = plan(graft.queries.Relational9.qBacklog(spark, dir))
    assert(p.contains("Window"), s"running sums expected:\n${p.take(3000)}")
    val factShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(l_orderkey"))
    assert(factShuffles <= 1, s"one order-keyed rollup expected ($factShuffles):\n${p.take(3000)}")
  }

  test("q_pvm_bridge: year frames join part-keyed; exact-integer effects partial-aggregate") {
    val p = plan(graft.queries.Relational9.qPvmBridge(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    assert(p.contains("HashAggregate"),
      s"per-part effects must partial-aggregate:\n${p.take(3000)}")
  }

  test("q_rev_rec: the spine explodes MONTHS, never days — no window, one month-keyed sum") {
    val p = plan(graft.queries.Relational9.qRevRec(spark, dir))
    assert(!p.contains("Window"))
    assert(p.contains("Generate"), s"the month spine must be a generator:\n${p.take(3000)}")
    val monthShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(month"))
    assert(monthShuffles <= 1, s"one month shuffle expected ($monthShuffles):\n${p.take(3000)}")
  }

  test("st_holt: two stacked keyed aggs build the bounded series; the fold is per-row compute") {
    val p = plan(graft.queries.Modal3.stHolt(spark, dir))
    assert(!p.contains("Join"), s"no per-step join:\n${p.take(3000)}")
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggShuffles <= 2, s"hourly count + series collect only ($aggShuffles):\n${p.take(3000)}")
  }

  test("q_ndr: cohort joins broadcast; one (cohort, week)-keyed revenue sum") {
    val p = plan(graft.queries.Relational9.qNdr(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the signup cohort and week-0 frames must broadcast:\n${p.take(3000)}")
    assert(!p.contains("Window"))
  }

  test("q_drawdown: the running max rides the bounded day frame after ONE fact rollup") {
    val p = plan(graft.queries.Relational9.qDrawdown(spark, dir))
    assert(!p.contains("Join"))
    val factShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(day"))
    assert(factShuffles <= 1, s"one day-keyed shuffle expected ($factShuffles):\n${p.take(3000)}")
  }

  test("m_subtitle_align: cue/cut frames join on the doc key — no cartesian, no sort-merge blowup") {
    val p = plan(graft.queries.Modal3.mSubtitleAlign(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"the alignment must join on doc_id:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the alignment must be an equality join:\n${p.take(3000)}")
  }

  test("q_ols: all five regression sums ride ONE map-side-partial aggregation") {
    val p = plan(graft.queries.Relational9.qOls(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"))
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(l_returnflag"))
    assert(aggShuffles <= 1, s"one keyed shuffle expected ($aggShuffles):\n${p.take(3000)}")
  }

  test("s_probe_cost: pure bucket-membership counting — probes broadcast, no cosine in the cost path") {
    val p = plan(graft.queries.Similarity2.sProbeCost(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the probe frame must broadcast into the bucket join:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_bollinger: the fact aggregates ONCE to the day frame; only the bounded frame sorts") {
    val p = plan(graft.queries.Relational9.qBollinger(spark, dir))
    assert(!p.contains("Join"))
    val factShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(day"))
    assert(factShuffles <= 1, s"one day-keyed shuffle expected ($factShuffles):\n${p.take(3000)}")
    // the single-partition exchange is legal ONLY because it carries the
    // ≤|calendar-days| frame, never fact rows (q_trailing7's documented shape)
    assert(p.contains("HashAggregate"), s"daily rollup must partial-aggregate:\n${p.take(3000)}")
  }

  test("t_langid_margin: narrow per-doc map + ONE lang-keyed rollup — no join, no window") {
    val p = plan(graft.queries.Text2.tLangidMargin(spark, dir))
    assert(!p.contains("Join") && !p.contains("Window"))
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(lang"))
    assert(aggShuffles <= 1, s"one lang shuffle expected ($aggShuffles):\n${p.take(3000)}")
  }

  test("q_holt: the recursion folds collected series arrays — one keyed agg builds them, no per-step shuffle") {
    val p = plan(graft.queries.Events.qHolt(spark, dir))
    assert(!p.contains("Join"), s"the fold must not join per step:\n${p.take(3000)}")
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggShuffles <= 2, s"monthly rollup + series collect only ($aggShuffles):\n${p.take(3000)}")
  }

  test("t_fertility: ONE lang-keyed map-side-partial aggregation — no window, no join") {
    val p = plan(graft.queries.Text2.tFertility(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"))
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(lang"))
    assert(aggShuffles <= 1, s"one lang shuffle expected ($aggShuffles):\n${p.take(3000)}")
  }

  test("e_dq_score: FK probes are broadcast anti-joins; no sort-merge anywhere") {
    val p = plan(graft.queries.Etl3.eDqScore(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"parent key sets must broadcast into the anti-join probes:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
  }

  test("st_cep: ONE user-keyed shuffle feeds the typed matcher — no window, no join") {
    val p = plan(graft.queries.Modal3.stCep(spark, dir))
    assert(p.contains("MapGroups"),
      s"the matcher must run as typed per-group logic:\n${p.take(3000)}")
    val keyShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(keyShuffles <= 1, s"one user-key shuffle expected ($keyShuffles):\n${p.take(3000)}")
    assert(!p.contains("Join"), s"no join in the batch face:\n${p.take(3000)}")
    assert(p.contains("PushedFilters: [In(event_type"),
      s"the click/purchase filter must reach the parquet scan:\n${p.take(3000)}")
  }

  test("s_knn_classify: vote rollup + per-query argmax window partitioned by q_id; labels broadcast") {
    val p = plan(graft.queries.Similarity2.sKnnClassify(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"label tables must broadcast:\n${p.take(3000)}")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && !p.substring(0, winIdx).contains("Exchange SinglePartition"),
      s"the argmax window must partition by q_id:\n${p.take(3000)}")
  }

  test("s_margin: query panel broadcasts; top-2 rides the k-bounded TopKPerKey operator") {
    val p = plan(graft.queries.Similarity2.sMargin(spark, dir))
    assert(p.contains("TopKPerKey"), s"top-2 must be k-bounded:\n${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the query panel must broadcast over the corpus scan:\n${p.take(3000)}")
  }

  test("q_ks_test: cumulative windows partition by event_type — never a global sort") {
    val p = plan(graft.queries.Relational10.qKsTest(spark, dir))
    assert(p.contains("Window"), s"cumulative windows expected:\n${p.take(3000)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"a global ECDF sort would single-thread at 100 TB:\n${p.take(3000)}")
  }

  test("q_changepoint: the argmax is TakeOrderedAndProject over the bounded day frame") {
    val p = plan(graft.queries.Relational10.qChangepoint(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy().limit(1) must plan as a bounded top-k, not a global sort:\n${p.take(3000)}")
  }

  test("s_calibration: top-5 rides TopKPerKey; labels join broadcast") {
    val p = plan(graft.queries.Similarity2.sCalibration(spark, dir))
    assert(p.contains("TopKPerKey"), s"top-5 must be k-bounded:\n${p.take(3000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the query panel must broadcast:\n${p.take(3000)}")
  }

  test("e_reconcile: line rollup meets the header on ONE orderkey-keyed join, no cartesian") {
    val p = plan(graft.queries.Etl4.eReconcile(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"reconcile must join on the key:\n${p.take(3000)}")
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("HashJoin"))
    assert(joins == 1, s"exactly one header join expected ($joins):\n${p.take(3000)}")
  }

  test("q_perm_test: ONE md5 per ROW (bits, not salted digests); fan-out agg map-side partial") {
    // sweep the untruncated plan — the fan-out frame is checkpointed
    // (it feeds both the observed and the permutation branches)
    System.setProperty("graft.lint.noCheckpoint", "true")
    try {
      val p = plan(graft.queries.Relational11.qPermTest(spark, dir))
      // the digest must not depend on the permutation index: a salted
      // md5(concat(user, ':', r)) is the 7x-slower shape
      assert(!p.contains("md5(concat"),
        s"digest must be r-independent (one md5 per row):\n${p.take(3000)}")
      assert(p.contains("shiftright"), p.take(2000))
      // the (type, r) aggregation over 60x|events| rows must combine
      // map-side: partial HashAggregate BELOW its exchange
      val lines = p.linesIterator.toVector
      val i = lines.indexWhere(l =>
        l.contains("Exchange hashpartitioning(event_type") && l.contains(" r#"))
      assert(i >= 0, p.take(3000))
      assert(lines.slice(i + 1, i + 4).exists(_.contains("HashAggregate")),
        s"partial aggregate must sit under the fan-out exchange:\n${lines.slice(i, i + 4).mkString("\n")}")
    } finally System.clearProperty("graft.lint.noCheckpoint")
  }

  test("q_cuped: bounds broadcast into the fact; ONE user-keyed shuffle; no sort-merge") {
    val p = plan(graft.queries.Relational11.qCuped(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row bounds frame must broadcast:\n${p.take(3000)}")
    val userShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(event_type") && l.contains("user_id"))
    assert(userShuffles <= 1, s"one (type,user) shuffle expected ($userShuffles)")
  }

  test("q_anova: all moments ride ONE map-side-partial aggregation — no join, no window") {
    val p = plan(graft.queries.Relational11.qAnova(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"), p.take(3000))
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(event_type"))
    assert(aggShuffles <= 1, s"one keyed shuffle expected ($aggShuffles):\n${p.take(3000)}")
  }

  test("q_brown_forsythe: the per-group median frame broadcasts back — never a sort-merge") {
    val p = plan(graft.queries.Relational11.qBrownForsythe(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"meds must broadcast into the deviation pass:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_kendall_tau: the inversion strips join on BAND keys — no cartesian, grid side broadcast") {
    val p = plan(graft.queries.Relational11.qKendallTau(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the checkpointed banded frame hides the strip joins from THIS plan
    // only if Ckpt truncated them — sweep the untruncated plan too
    System.setProperty("graft.lint.noCheckpoint", "true")
    try {
      val full = plan(graft.queries.Relational11.qKendallTau(spark, dir))
      assert(!full.contains("CartesianProduct"), full.take(3000))
      val keyed = full.linesIterator.count(l =>
        (l.contains("HashJoin") || l.contains("SortMergeJoin")) &&
          (l.contains("xband") || l.contains("yband")))
      assert(keyed >= 3, s"three band-keyed strip joins expected ($keyed):\n${full.take(4000)}")
      // the r15 reducer-ceiling fix: every strip join key also carries the
      // within-band salt, so a hot band fans out past |bands| reducers
      val salted = full.linesIterator.count(l =>
        (l.contains("HashJoin") || l.contains("SortMergeJoin")) &&
          l.contains("salt"))
      assert(salted >= 3, s"composite (band, salt) strip keys expected ($salted):\n${full.take(4000)}")
    } finally System.clearProperty("graft.lint.noCheckpoint")
  }

  test("q_sketch_quantile: answer path reads only the O(B)-row store — no cartesian, bounded frames broadcast") {
    val p = plan(Relational12.qSketchQuantile(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the percentile frame and per-type totals broadcast into the merged
    // sketch; the only sort-merge-eligible frames are <=|types|*B rows
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"bounded frames must broadcast:\n${p.take(3000)}")
    // the merge+answer side scans the STORE parquet, not the events fact
    // (the exact percentile cross-check is the only fact consumer there)
    assert(p.contains("graft_qsketch_store"), p.take(3000))
  }

  test("q_welch_ttest: all moments ride ONE map-side-partial aggregation — no join, no window") {
    val p = plan(Relational12.qWelchTtest(spark, dir))
    assert(!p.contains("Window") && !p.contains("Join"), p.take(3000))
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning(event_type"))
    assert(aggShuffles <= 1, s"one keyed shuffle expected ($aggShuffles):\n${p.take(3000)}")
  }

  test("q_lift_gains: decile boundaries broadcast into the fact — no sort-merge, no cartesian") {
    val p = plan(Relational12.qLiftGains(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"cut points must broadcast into the scoring pass:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_cmh: customer dim broadcasts into orders; cells ride map-side-partial aggs; pooled stat broadcasts back") {
    val p = plan(Relational12.qCmh(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the customer dim must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the 2x2 cells must partial-aggregate map-side:\n${p.take(3000)}")
  }

  test("q_tost / q_rate_test: moments and counts ride map-side-partial aggregations — no sort-merge") {
    for (df <- Seq(Relational12.qTost(spark, dir),
        Relational12.qRateTest(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        p.take(3000))
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        p.take(3000))
    }
  }

  test("t_sample_pps: the cumulative axis is band-partitioned; step/anchor broadcast — no global sort window") {
    System.setProperty("graft.lint.noCheckpoint", "true")
    try {
      val p = plan(graft.queries.Text2.tSamplePps(spark, dir))
      assert(!p.contains("CartesianProduct"), p.take(3000))
      // the running sum partitions by (g, __band), never an unkeyed global
      val bandWins = p.linesIterator.count(l =>
        l.contains("Window") && l.contains("__band"))
      assert(bandWins >= 1, s"band-partitioned prefix window expected:\n${p.take(4000)}")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
        s"band offsets and the 1-row step/anchor must broadcast:\n${p.take(3000)}")
    } finally System.clearProperty("graft.lint.noCheckpoint")
  }

  test("st_quantile: the sketch rollup partial-aggregates; answer windows key on (hour, type)") {
    System.setProperty("graft.lint.noCheckpoint", "true")
    try {
      val p = plan(graft.queries.Modal4.stQuantile(spark, dir))
      assert(!p.contains("CartesianProduct"), p.take(3000))
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"the (hour, type, bucket) rollup must partial-aggregate:\n${p.take(3000)}")
      val keyedWins = p.linesIterator.count(l =>
        l.contains("Window") && l.contains("hour_start_us"))
      assert(keyedWins >= 1, s"(hour, type)-keyed cum window expected:\n${p.take(4000)}")
    } finally System.clearProperty("graft.lint.noCheckpoint")
  }

  test("q_bh_fdr: the fan-out rides the perm-test shape; BH frames broadcast — no sort-merge") {
    System.setProperty("graft.lint.noCheckpoint", "true")
    try {
      val p = plan(graft.queries.Relational11.qBhFdr(spark, dir))
      assert(!p.contains("CartesianProduct"), p.take(3000))
      assert(!p.contains("SortMergeJoin"), p.take(3000))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
        s"m and i_max must broadcast back into the <=|types| frame:\n${p.take(3000)}")
    } finally System.clearProperty("graft.lint.noCheckpoint")
  }
}
