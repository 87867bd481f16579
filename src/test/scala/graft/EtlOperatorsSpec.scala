package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class EtlOperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("StableId is deterministic, order-sensitive, and null-safe") {
    val df = Seq(("a", Some("b")), ("b", Some("a")), ("a", None), ("ab", Some(""))).toDF("x", "y")
    val ids = StableId.withStableId(df, Seq("x", "y"), "sk").select("sk").as[String].collect()
    assert(ids.distinct.length == 4, "all four keys must hash differently")
    val again = StableId.withStableId(df, Seq("x", "y"), "sk").select("sk").as[String].collect()
    assert(ids.sameElements(again))
  }

  test("StableId hashAlgo knob: sha1 digests pinned against known vectors (the legacy-n2kresult reconcile); sha1 oracle loudly refused") {
    // payload for a single non-null column c is just its escaped string, so
    // the expected digests are ordinary sha1/sha256 of the value bytes —
    // pinned here against externally-computable vectors because this path
    // has NO DuckDB oracle (DuckDB ships no sha1; the declared boundary)
    val df = Seq("abc", "n2k").toDF("c")
    def ids(algo: String) = StableId.withStableId(df, Seq("c"), "sk", algo)
      .select("c", "sk").as[(String, String)].collect().toMap
    val sha1 = ids("sha1")
    assert(sha1("abc") == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(sha1.values.forall(_.length == 40))
    val sha256 = ids("sha256")
    assert(sha256("abc") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    // the three algos hash the SAME payload — collisions are algo-invariant
    assert(ids("md5").keySet == sha1.keySet)
    val e = intercept[IllegalArgumentException] {
      StableId.oracleExpr(Seq("c"), "sha1")
    }
    assert(e.getMessage.contains("no sha1"))
    intercept[IllegalArgumentException] { StableId.stableId(Seq(col("c")), "crc32") }
  }

  test("Validate.report counts violations in one pass, nulls count as violations") {
    val df = Seq(Some(5), Some(-1), None, Some(10)).toDF("v")
    val rep = Validate.report(df, Seq(
      Validate.Rule("positive", col("v") > 0),
      Validate.Rule("nonnull", col("v").isNotNull)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap // rule -> n_violations
    assert(rep == Map("positive" -> 2L, "nonnull" -> 1L))
  }

  test("Checks.duplicates finds multiplicities > 1 only") {
    val df = Seq((1, "a"), (1, "a"), (1, "b"), (2, "a")).toDF("k1", "k2")
    val d = Checks.duplicates(df, Seq("k1", "k2")).collect()
    assert(d.length == 1 && d(0).getInt(0) == 1 && d(0).getString(1) == "a" && d(0).getLong(2) == 2)
  }

  test("Checks.fkOrphans is an anti-join") {
    val child = Seq((1, 10), (2, 20), (3, 30)).toDF("id", "fk")
    val parent = Seq(10, 30).toDF("pk")
    val orphans = Checks.fkOrphans(child, parent, "fk", "pk").select("id").as[Int].collect()
    assert(orphans.toSet == Set(2))
  }

  test("ViewDelta.refreshInsert equals a full re-join, every delta term load-bearing") {
    // Keys chosen so each of the three delta terms contributes rows that
    // the others cannot: k=2 only via ΔA⋈B, k=3 only via A⋈ΔB, k=4 only
    // via ΔA⋈ΔB — dropping any term changes the result.
    val aOld = Seq((1, "a1"), (3, "a3")).toDF("k", "av")
    val aDel = Seq((2, "a2"), (4, "a4")).toDF("k", "av")
    val bOld = Seq((1, "b1"), (2, "b2")).toDF("k", "bv")
    val bDel = Seq((3, "b3"), (4, "b4"), (1, "b1x")).toDF("k", "bv")
    val view = aOld.join(bOld, Seq("k"))
    val got = ViewDelta.refreshInsert(view, aOld, aDel, bOld, bDel, Seq("k"))
      .orderBy("k", "av", "bv").collect().map(_.toSeq)
    val want = aOld.unionByName(aDel).join(bOld.unionByName(bDel), Seq("k"))
      .orderBy("k", "av", "bv").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
    assert(got.map(_.head).toSet == Set(1, 2, 3, 4))
  }

  test("ViewDelta.refresh handles deletes + inserts: equals a full re-join of the post-change sides") {
    // a-side pk = k (unique); b-side rows keyed by k with multiplicity.
    // Deletes: a loses k=3, b loses BOTH k=1 rows (cascade by key);
    // inserts land k=2 (a), k=3 (b — joins nothing since a's k=3 died),
    // and k=5 on both (the ΔA⁺ ⋈ ΔB⁺ term).
    val aOld = Seq((1, "a1"), (3, "a3"), (4, "a4")).toDF("k", "av")
    val aIns = Seq((2, "a2"), (5, "a5")).toDF("k", "av")
    val aDel = Seq(3).toDF("k")
    val bOld = Seq((1, "b1"), (1, "b1x"), (2, "b2"), (3, "b3"), (4, "b4")).toDF("k", "bv")
    val bIns = Seq((3, "b3n"), (5, "b5")).toDF("k", "bv")
    val bDel = Seq(1).toDF("k")
    val view = aOld.join(bOld, Seq("k"))
    val got = ViewDelta.refresh(view, aOld, aIns, aDel, Seq("k"),
        bOld, bIns, bDel, Seq("k"), Seq("k"))
      .orderBy("k", "av", "bv").collect().map(_.toSeq)
    val aNew = aOld.join(aDel, Seq("k"), "left_anti").unionByName(aIns)
    val bNew = bOld.join(bDel, Seq("k"), "left_anti").unionByName(bIns)
    val want = aNew.join(bNew, Seq("k")).orderBy("k", "av", "bv").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
    // the retractions actually bit: k=1 (b-side delete) and k=3's old row
    // are gone, while k=3 re-appears only if its a-side had survived (it
    // did not)
    val keys = got.map(_.head).toSet
    assert(!keys.contains(1) && !keys.contains(3), s"retractions leaked: $keys")
    assert(keys == Set(2, 4, 5))
  }

  test("UpsertMerge classifies insert/update/keep and merges attributes") {
    val target = Seq((1, "x", "A"), (2, "y", "B"), (3, "z", "C")).toDF("k", "n", "seg")
    val source = Seq((2, "y", "B2"), (4, "w", "D")).toDF("k", "n", "seg")
    val out = UpsertMerge.merge(target, source, Seq("k"), Seq("n", "seg"))
      .collect().map(r => r.getInt(0) -> (r.getString(2), r.getString(3))).toMap
    assert(out(1) == ("A", "keep"))    // absent from batch -> kept
    assert(out(2) == ("B2", "update")) // attr changed -> updated to source value
    assert(out(3) == ("C", "keep"))
    assert(out(4) == ("D", "insert"))
  }

  test("UpsertMerge: an update can null out an attribute (presence beats nullity)") {
    val target = Seq((1, Option("x"))).toDF("k", "n")
    val source = Seq((1, Option.empty[String])).toDF("k", "n")
    val out = UpsertMerge.merge(target, source, Seq("k"), Seq("n")).collect()
    assert(out.length == 1 && out(0).isNullAt(1) && out(0).getString(2) == "update")
  }

  test("Scd2.intervals chains validity, exactly one current row per entity") {
    val changes = Seq((1, 100L, 1L, "v1"), (1, 200L, 2L, "v2"), (2, 150L, 3L, "w1"))
      .toDF("ent", "ts", "id", "v")
    val out = Scd2.intervals(changes, "ent", "ts", "id", Seq("v"))
    val cur = out.filter(col("is_current")).select("ent", "v").as[(Int, String)].collect().toSet
    assert(cur == Set((1, "v2"), (2, "w1")))
    val closed = out.filter(!col("is_current")).select("v", "valid_to").as[(String, Long)].collect()
    assert(closed.toSeq == Seq(("v1", 200L)))
  }

  test("LinkDiff emits added/removed/kept") {
    val cur = Seq((1, "a"), (2, "b")).toDF("k", "g")
    val inc = Seq((2, "b"), (3, "c")).toDF("k", "g")
    val out = LinkDiff.diff(cur, inc, Seq("k", "g"))
      .collect().map(r => (r.getInt(0), r.getString(2))).toMap
    assert(out == Map(1 -> "removed", 2 -> "kept", 3 -> "added"))
  }

  test("DimNormalize: fact surrogate keys match dim surrogate keys without a join") {
    val denorm = Seq((1, "seg1"), (2, "seg1"), (3, "seg2")).toDF("fid", "seg")
    val (dim, fact) = DimNormalize.split(denorm, Seq("seg"), Seq("fid"), "sk")
    assert(dim.count() == 2)
    val dimSk = dim.select("seg", "sk").as[(String, String)].collect().toMap
    val factSk = fact.select("fid", "sk").as[(Int, String)].collect().toMap
    assert(factSk(1) == dimSk("seg1") && factSk(3) == dimSk("seg2"))
  }

  test("IncrementalAgg.merge is associative: fold order over delta batches cannot change the state") {
    val rows = (1 to 300).map(i => (i % 7L, i.toLong, i * 1.5))
    def partial(xs: Seq[(Long, Long, Double)]) =
      xs.toDF("k", "n", "v").groupBy("k").agg(
        sum(col("n")).as("n"),
        sum(col("v").cast("decimal(18,6)")).as("v"),
        min(col("n")).as("lo"), max(col("n")).as("hi"))
    val spec = Seq("n" -> "sum", "v" -> "sum", "lo" -> "min", "hi" -> "max")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toSeq).toSeq
    val (a, b, c) = (rows.filter(_._2 <= 100), rows.filter(x => x._2 > 100 && x._2 <= 200), rows.filter(_._2 > 200))
    val full = canon(partial(rows))
    // ((a+b)+c) and (a+(b+c)) both equal the from-scratch partial
    assert(canon(IncrementalAgg.merge(IncrementalAgg.merge(partial(a), partial(b), Seq("k"), spec), partial(c), Seq("k"), spec)) == full)
    assert(canon(IncrementalAgg.merge(partial(a), IncrementalAgg.merge(partial(b), partial(c), Seq("k"), spec), Seq("k"), spec)) == full)
    // a delta introducing brand-new keys merges in, untouched keys unchanged
    val novel = Seq((99L, 1L, 2.0))
    assert(canon(IncrementalAgg.merge(partial(rows), partial(novel), Seq("k"), spec)) ==
      canon(partial(rows ++ novel)))
    intercept[IllegalArgumentException] {
      IncrementalAgg.merge(partial(a), partial(b), Seq("k"), Seq("n" -> "median"))
    }
  }

  test("IncrementalAgg.mergeOuter agrees with merge, including keys present on only one side") {
    val spec = Seq("n" -> "sum", "v" -> "sum", "lo" -> "min", "hi" -> "max")
    def partial(xs: Seq[(Long, Long, Double)]) =
      xs.toDF("k", "n", "v").groupBy("k").agg(
        sum(col("n")).as("n"), sum(col("v").cast("decimal(18,6)")).as("v"),
        min(col("n")).as("lo"), max(col("n")).as("hi"))
    val state = partial((1 to 200).map(i => (i % 5L, i.toLong, i * 0.5)))
    val delta = partial(Seq((0L, 7L, 1.0), (99L, 2L, 3.0))) // 99 is state-absent
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toSeq).toSeq
    assert(canon(IncrementalAgg.mergeOuter(state, delta, Seq("k"), spec)) ==
      canon(IncrementalAgg.merge(state, delta, Seq("k"), spec)))
  }

  test("Anomaly.flag: per-group z-scores, outliers only, constant groups flag nothing") {
    // group "a": 20 values at 10.0 plus one 1000.0 spike — only the spike flags
    // group "b": constant (σ=0) — z is NaN, nothing flags, no crash
    val rows = (1 to 20).map(i => (i.toLong, "a", 10.0)) ++ Seq((21L, "a", 1000.0)) ++
      (22 to 30).map(i => (i.toLong, "b", 7.0))
    val out = Anomaly.flag(rows.toDF("id", "g", "v"), Anomaly.Spec(Seq("g"), "v", k = 3.0))
      .select("id", "zscore").as[(Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(21L))
    assert(out.head._2 > 4.0, s"spike z-score should be extreme, got ${out.head._2}")
    // two-sided: a deep low outlier flags with a negative z
    val low = Anomaly.flag(
      ((1 to 20).map(i => (i.toLong, 100.0)) :+ (21L, -900.0)).toDF("id", "v"),
      Anomaly.Spec(Seq.empty, "v", k = 3.0)) // empty group = global stats
    assert(low.select("zscore").as[Double].collect().forall(_ < -3.0))
  }

  test("Anomaly.flag: emitted zscore is 6-decimal pinned (cross-engine ulp guard)") {
    val rows = (1 to 50).map(i => (i.toLong, "a", 10.0 + (i % 7) * 0.013)) :+ (51L, "a", 5000.0)
    val zs = Anomaly.flag(rows.toDF("id", "g", "v"), Anomaly.Spec(Seq("g"), "v", k = 3.0))
      .select("zscore").as[Double].collect()
    assert(zs.nonEmpty)
    zs.foreach { z =>
      val scaled = z * 1e6
      assert(scaled == math.rint(scaled), s"zscore $z must carry at most 6 decimals")
    }
  }

  test("profile approx mode: HLL distincts within rsd bound of exact at sf0.1, and NO expand in the plan") {
    val ord = Tables.orders(spark, "/root/testdata/sf0.1")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val rsd = 0.02
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val exact = asMap(graft.queries.Etl.profile(ord, cols))
    val approxDf = graft.queries.Etl.profile(ord, cols, approx = true, rsd = rsd)
    val approx = asMap(approxDf)
    for (c <- cols) {
      assert(approx(c)._1 == exact(c)._1, s"$c: null counts are exact in both modes")
      val (e, a) = (exact(c)._2.toDouble, approx(c)._2.toDouble)
      assert(math.abs(a - e) <= 5 * rsd * e + 1,
        s"$c: approx distinct $a vs exact $e beyond 5*rsd")
    }
    // the scale win: exact multi-distinct needs the Expand rewrite
    // (input x #cols); the HLL path must not
    val exactPlan = graft.queries.Etl.profile(ord, cols).queryExecution.executedPlan.toString
    val approxPlan = approxDf.queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), "exact multi-distinct is expected to expand")
    assert(!approxPlan.contains("Expand"), s"approx profile must not expand:\n${approxPlan.take(2000)}")
  }

  test("BloomPrune: no false negatives ever, few false positives, exact join after prune is identical") {
    val build = (0 until 1000).map(i => s"key_$i").toDF("g")
    val probe = (0 until 20000).map(i => (i.toLong, s"key_${i * 5}")).toDF("id", "g") // 200 true members
    val pruned = BloomPrune.prune(probe, "g", build, "g", expectedItems = 1000, fpp = 0.03)
    val survivors = pruned.count()
    val trueMembers = probe.join(build, Seq("g"), "left_semi")
    assert(trueMembers.count() == 200)
    // every true member survives (no false negatives)
    assert(trueMembers.join(pruned, Seq("id"), "left_anti").count() == 0)
    // false positives bounded: ~3% of the 19800 non-members, with slack
    assert(survivors - 200 <= (19800 * 0.03 * 3).toLong,
      s"too many bloom false positives: ${survivors - 200}")
    // composing prune + exact join returns the identical hit set
    val viaPrune = pruned.join(build, Seq("g"), "left_semi").select("id")
    assert(viaPrune.collect().map(_.getLong(0)).sorted.toSeq ==
      trueMembers.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("Retention cross-table orphan check has teeth: inconsistent purges surface as n_orphans > 0") {
    // e_gdpr_purge's proof shape: kept facts anti-joined against kept DIM
    // rows (independent path), not against the request list. If the two
    // legs purge DIFFERENT key sets, the count must go nonzero.
    val customers = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("c_custkey", "name")
    val orders = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("o_orderkey", "o_custkey")
    val reqOrders = Seq(Tuple1(1L)).toDF("c_custkey")    // orders leg purges cust 1
    val reqCustomers = Seq(Tuple1(2L)).toDF("c_custkey") // customer leg purges cust 2 (inconsistent!)
    val keptOrders = Retention.purge(orders, "o_custkey", reqOrders, "c_custkey")
    val keptCustomers = Retention.purge(customers, "c_custkey", reqCustomers, "c_custkey")
    val orphans = keptOrders
      .join(keptCustomers.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti")
      .count()
    assert(orphans == 1L, "order 11 references purged customer 2 and must surface as an orphan")
    // and the consistent purge (same requests both legs) proves 0
    val consistent = Retention.purge(orders, "o_custkey", reqOrders, "c_custkey")
      .join(Retention.purge(customers, "c_custkey", reqOrders, "c_custkey")
        .select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti")
      .count()
    assert(consistent == 0L)
  }

  test("stampedMerge truth table: keep/update/despawn/dead/respawn/insert in one pass") {
    // target state after a previous import at stamp 5
    val target = Seq(
      (1L, "a", 5L, 5L, false), // present unchanged  → keep, last refreshed
      (2L, "b", 5L, 5L, false), // present changed    → update
      (3L, "c", 5L, 5L, false), // absent             → despawn, stamps frozen
      (4L, "d", 5L, 5L, true),  // absent, already dead → keep, stays despawned
      (5L, "e", 5L, 5L, true)   // present again      → respawn (update), flag cleared
    ).toDF("k", "v", "first_imported", "last_imported", "despawned")
    val source = Seq((1L, "a"), (2L, "B"), (5L, "e"), (6L, "f")).toDF("k", "v")
    val out = UpsertMerge.stampedMerge(target, source, Seq("k"), Seq("v"), lit(9L))
      .select("k", "v", "first_imported", "last_imported", "despawned", "action")
      .as[(Long, String, Long, Long, Boolean, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "a", 5L, 9L, false, "keep")))
    assert(out(2L) == ((2L, "B", 5L, 9L, false, "update")))
    assert(out(3L) == ((3L, "c", 5L, 5L, true, "despawn")))
    assert(out(4L) == ((4L, "d", 5L, 5L, true, "keep")))
    assert(out(5L) == ((5L, "e", 5L, 9L, false, "update")))
    assert(out(6L) == ((6L, "f", 9L, 9L, false, "insert")))
  }

  test("InferredDim: fact keys force placeholders; late arrivals resolve in place; originals stay authoritative") {
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("k", "name")
    val facts = Seq(1L, 2L, 3L, 4L, 3L).toDF("k") // 3 and 4 are early-arriving
    val st = InferredDim.infer(dim, facts, "k", Seq("name"))
    assert(st.count() == 4)
    assert(st.filter(col("inferred")).select("k").as[Long].collect().toSet == Set(3L, 4L))
    assert(st.filter(col("inferred") && col("name") =!= InferredDim.Placeholder).count() == 0)
    // late delivery: 3 arrives (resolving), 1 arrives with a NEW name
    // (must NOT overwrite — the original feed stays authoritative), 4 never arrives
    val arrivals = Seq((3L, "gamma"), (1L, "alpha-v2")).toDF("k", "name")
    val out = InferredDim.resolve(st, arrivals, "k", Seq("name"))
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("alpha", "original")))
    assert(out(2L) == (("beta", "original")))
    assert(out(3L) == (("gamma", "resolved")))
    assert(out(4L) == ((InferredDim.Placeholder, "still_inferred")))
  }

  test("Hierarchy.resolve: convergence-checked doubling resolves deep chains, forests keep roots apart") {
    import spark.implicits._
    // chain 0 <- 1 <- ... <- 20 (depth 20 — past the old fixed-4-round
    // 2^4 cap that used to mislabel silently) plus a 2-node tree at 100
    val nodes = ((1L to 20L).map(k => (k, Some(k - 1))) ++
      Seq((0L, None), (100L, None), (101L, Some(100L)))).toDF("key", "parent")
    val out = graft.operators.Hierarchy.resolve(nodes, "key", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.size == 23)
    (0L to 20L).foreach { k => assert(out(k) == ((0L, k)), s"node $k: ${out(k)}") }
    assert(out(100L) == ((100L, 0L)) && out(101L) == ((100L, 1L)))
  }

  test("Hierarchy.resolve: raises on round exhaustion instead of mislabeling — cycle and too-deep chain") {
    import spark.implicits._
    // 3-cycle: no root is ever reachable; must throw, never return
    val cyc = Seq((1L, Some(3L)), (2L, Some(1L)), (3L, Some(2L))).toDF("key", "parent")
    val e1 = intercept[IllegalStateException] {
      graft.operators.Hierarchy.resolve(cyc, "key", "parent", maxRounds = 5).collect()
    }
    assert(e1.getMessage.contains("did not resolve"))
    // depth-40 chain under maxRounds=3 (covers depth <= 8): loud failure,
    // not a quietly-wrong "root"
    val deep = ((1L to 40L).map(k => (k, Some(k - 1))) :+ ((0L, None)))
      .toDF("key", "parent")
    val e2 = intercept[IllegalStateException] {
      graft.operators.Hierarchy.resolve(deep, "key", "parent", maxRounds = 3).collect()
    }
    assert(e2.getMessage.contains("did not resolve"))
    // same chain with enough rounds resolves exactly
    val ok = graft.operators.Hierarchy.resolve(deep, "key", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (0L to 40L).foreach { k => assert(ok(k) == ((0L, k))) }
  }


  test("Hierarchy.resolve: reliable-checkpoint path yields identical resolution") {
    import spark.implicits._
    val nodes = ((1L to 12L).map(k => (k, Some(k - 1))) :+ ((0L, None)))
      .toDF("key", "parent")
    def resolved() = graft.operators.Hierarchy.resolve(nodes, "key", "parent")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ckpt = java.nio.file.Files.createTempDirectory("hier-ckpt").toFile
    def files(): Int = org.apache.commons.io.FileUtils.listFiles(ckpt, null, true).size
    val prev = spark.sparkContext.getCheckpointDir
    try {
      // with a checkpoint dir, each round's state lands there as RDD files
      spark.sparkContext.setCheckpointDir(ckpt.toString)
      val rel = resolved()
      val written = files()
      assert(written > 0, "checkpoint dir must hold RDD state")
      // without one, rounds use localCheckpoint and no file lands
      spark.sparkContext.setCheckpointDir(null)
      assert(resolved() == rel)
      assert(files() == written, "no checkpoint dir set, yet RDD files were written")
      assert(rel == (0L to 12L).map(k => (k, 0L, k)).toSet)
    } finally spark.sparkContext.setCheckpointDir(prev.orNull)
  }

  test("Hierarchy.resolve: ONE job per doubling round — the jump-hit count rides the round's observe metric") {
    import spark.implicits._
    // chain 0 <- 1 <- ... <- 8: pointer doubling needs 3 rounds that jump
    // and a 4th that jumps nothing. The seed stays lazy, and with AQE off
    // the 4 round checkpoints cost 6 jobs. A second hit-count pass per
    // round would add at least 4 more and fail this pin.
    val nodes = ((1L to 8L).map(k => (k, Some(k - 1))) :+ ((0L, None)))
      .toDF("key", "parent")
    val jobs = SparkTestBase.jobsWithAqeOff("hierarchy-jobs") {
      val out = graft.operators.Hierarchy.resolve(nodes, "key", "parent")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == (0L to 8L).map(k => (k, 0L, k)).toSet)
    }
    // the final collect() in the assertion above is +1 on top of the 6
    assert(jobs == 7, s"expected 6 resolve jobs + 1 collect, got $jobs")
  }

  test("KAnon.audit: exactly the sub-k groups, at-k groups stay invisible") {
    import spark.implicits._
    val df = (Seq.fill(3)(("a", 1)) ++ Seq.fill(2)(("a", 2)) ++ Seq(("b", 1)))
      .toDF("qi1", "qi2")
    val out = KAnon.audit(df, Seq(col("qi1"), col("qi2")), k = 3)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out == Map(("a", 2) -> 2L, ("b", 1) -> 1L),
      s"expected only the two sub-3 groups, got $out")
  }

  test("bitemporalAsOf: knowledge horizon hides late versions; t=inf collapses to plain AS OF") {
    val dir = "/root/testdata/sf0.001"
    import graft.queries.Etl.{AsOfMicros, KnownAtMicros}
    val bi = graft.queries.Etl.eBitemporal(spark, dir).collect()
    // one version per entity, both time axes respected
    assert(bi.map(_.getLong(0)).distinct.length == bi.length)
    bi.foreach { r =>
      assert(r.getLong(2) <= AsOfMicros, "valid axis violated")
      assert(r.getLong(3) <= KnownAtMicros, "transaction axis violated")
    }
    // the 2-day knowledge horizon must actually change at least one answer
    val scd = graft.queries.Etl.eScd2Asof(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val changed = bi.count(r => scd.get(r.getLong(0)).exists(_ != r.getDouble(1)))
    assert(changed > 0 || bi.length < scd.size,
      "bitemporal answered identically to plain AS OF — lag simulation is dead")
    // and with an unbounded transaction horizon the two reads agree exactly
    val changes = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("valid_us", expr("ts div 1000"))
      .withColumn("tx_us", col("valid_us") + (col("event_id") % 7) * lit(86400000000L))
    val unbounded = Scd2.bitemporalAsOf(changes, "user_id", "valid_us", "tx_us",
        "event_id", Seq("value"), lit(AsOfMicros), lit(Long.MaxValue))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(unbounded == scd, "t=inf bitemporal must equal the SCD2 AS OF")
  }
}
