package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.OracleParity
import graft.functions.TextFunctions._

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("langId picks the profile with most hits; deterministic tie-break; und on zero hits") {
    val df = Seq(
      "the cat is on the mat and the dog",   // en
      "le chat et la souris et les autres",  // fr
      "der hund und die katze ist da",       // de
      "xyzzy qwerty plugh")                  // none
      .toDF("text").withColumn("toks", tokens(col("text")))
    val got = df.select(langId(col("text"), col("toks"))).as[String].collect().toSeq
    assert(got == Seq("en", "fr", "de", "und"))
  }

  test("shingles3 handles docs shorter than the shingle width") {
    val df = Seq("one two", "solo", "a b c d").toDF("text")
    val sizes = df.select(size(shingles3(tokens(col("text"))))).as[Int].collect().toSeq
    assert(sizes == Seq(1, 1, 2))
  }

  test("shingles3, bigrams and gram5Expr equal their per-element lambda forms, element for element") {
    val texts: Seq[String] = Seq(null, "", "   ", "\t \n", "solo", "one two",
      "one two three", "a b c d e", "a b c d e f g", "a b a b a b",
      "a b a b a b a b a b a b", "我们的数据是在中国", "カタカナ の ひらがな テスト です",
      "\tleading and trailing tabs\t", "The Quick  brown\tfox\njumps")
    val df = texts.toDF("text").withColumn("toks", tokens(col("text")))
    def pairOf(got: org.apache.spark.sql.Column, ref: org.apache.spark.sql.Column) =
      df.select(got.as("got"), ref.as("ref")).as[(Option[Seq[String]], Option[Seq[String]])]
        .collect().toSeq
    val cases = Seq(
      "shingles3" -> pairOf(shingles3(col("toks")), TextFunctionsSpec.shingles3Ref(col("toks"))),
      "shingles3(tokens)" -> pairOf(shingles3(tokens(col("text"))),
        TextFunctionsSpec.shingles3Ref(tokens(col("text")))),
      "bigrams" -> pairOf(bigrams(col("toks")), TextFunctionsSpec.bigramsRef(col("toks"))),
      "gram5Expr" -> pairOf(graft.queries.Text.gram5Expr, TextFunctionsSpec.gram5Ref))
    cases.foreach { case (name, rows) =>
      assert(rows.size == texts.size)
      rows.zip(texts).foreach { case ((got, ref), t) =>
        assert(got == ref, s"$name differs on ${Option(t).map(_.replace("\t", "\\t"))}")
      }
    }
    // the planted inputs exercise every regime, not just the common one
    val sh = cases.head._2.map(_._1)
    assert(sh(0).contains(Seq("")), "null text: one empty partial shingle")
    assert(sh(4).contains(Seq("solo")) && sh(6).contains(Seq("one two three")))
    assert(sh(9).contains(Seq("a b a", "b a b")), "repeated shingles collapse in order")
    assert(sh(11).exists(_.head == "我 们 的"), "Han tokenizes per character")
    assert(cases(3)._2.map(_._1.map(_.size)) ==
      Seq(Some(0), Some(0), Some(0), Some(0), Some(0), Some(0), Some(0), Some(1), Some(3),
        Some(2), Some(8), Some(5), Some(1), Some(0), Some(1)))
  }

  test("charFingerprint is stable and order-sensitive") {
    val df = Seq(("abcdefghij", "abcdefghij"), ("abcdefghij", "jihgfedcba")).toDF("a", "b")
    val eq = df.select(charFingerprint(col("a")) === charFingerprint(col("b"))).as[Boolean].collect()
    assert(eq(0) && !eq(1))
  }

  test("quality score stays within [0, 1]") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("toks", tokens(col("text")))
    val mm = d.select(min(qualityScore(col("text"), col("toks"))),
      max(qualityScore(col("text"), col("toks")))).as[(Double, Double)].head()
    assert(mm._1 >= 0.0 && mm._2 <= 1.0)
  }

  test("RollingHashMin matches a naive per-window Karp–Rabin reference") {
    graft.functions.VectorExpressions.register(spark)
    def naive(s: String, k: Int): Long = {
      val bytes = s.getBytes("UTF-8"); val n = bytes.length
      val kk = math.min(k, math.max(n, 1))
      val B = 257L; val M = 1000000007L
      (0 to n - kk).map { i =>
        bytes.slice(i, i + kk).foldLeft(0L)((h, b) => (h * B + (b & 0xff)) % M)
      }.min
    }
    val texts = Seq("hello world this is a rolling hash test", "short", "a",
      "the quick brown fox jumps over the lazy dog")
    val got = texts.toDF("text").select(expr("rolling_hash_min(text)")).as[Long].collect()
    assert(got.toSeq == texts.map(naive(_, 16)))
  }

  test("PII patterns match and redact real emails/urls/phones (corpus has none)") {
    val df = Seq("mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567, " +
      "see https://example.com/a?b=c and id 1234567890").toDF("text")
    val counts = graft.queries.Text.PiiPatterns.map { case (name, p) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0))).as(name) }
    val r = df.select(counts: _*).collect()(0)
    assert(r.getInt(0) == 1, "email")
    assert(r.getInt(1) == 1, "url")
    assert(r.getInt(2) >= 1, "phone")
    val redacted = graft.queries.Text.PiiPatterns.foldLeft(col("text")) {
      case (c, (name, p)) => regexp_replace(c, p, s"<$name>") }
    val out = df.select(redacted).as[String].head()
    assert(out.contains("<email>") && out.contains("<url>") && !out.contains("example.co.uk"))
  }

  test("property: xsum is invariant under partitioning (the oracle-parity cornerstone)") {
    val values = (1 to 997).map(i => math.round(((i * 7919 % 1000) / 7.0) * 100) / 100.0)
    val base = values.toDF("v")
    val expected = base.coalesce(1).agg(OracleParity.xsum(col("v"))).as[Double].head()
    for (parts <- Seq(2, 7, 32)) {
      val got = base.repartition(parts).agg(OracleParity.xsum(col("v"))).as[Double].head()
      assert(got == expected, s"xsum drifted at $parts partitions")
    }
    // plain double sum typically DOES drift — document why xsum exists
    val plain1 = base.coalesce(1).agg(sum(col("v"))).as[Double].head()
    val plain32 = base.repartition(32).agg(sum(col("v"))).as[Double].head()
    info(s"plain sum drift: ${math.abs(plain1 - plain32)}")
  }

  test("t_bm25 semantics: more query-term mass ranks higher; length normalization penalizes padding") {
    val out = graft.queries.Text.tBm25(spark, "/root/testdata/sf0.001")
      .as[(Long, Double)].collect()
    assert(out.nonEmpty && out.length <= 20)
    // returned in descending score order, ties broken by doc_id
    assert(out.zip(out.drop(1)).forall { case (a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) }, "rank order violated")
    // every scored doc really contains a query term
    val ids = out.map(_._1).toSet
    val hasTerm = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .filter(lower(col("text")).rlike("\\b(hash|join|filter)\\b")).count()
    assert(hasTerm == ids.size, "a scored doc lacks all query terms")
  }

  test("q_corr: sign and magnitude match a hand-built correlated dataset") {
    // y = 2x exactly -> corr 1; y = -3x -> corr -1 (up to the 6-decimal pin)
    val pos = (1 to 50).map(i => ("P", i.toDouble, 2.0 * i))
    val neg = (1 to 50).map(i => ("N", i.toDouble, -3.0 * i))
    val df = (pos ++ neg).toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val tmp = java.nio.file.Files.createTempDirectory("corr").toString
    df.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val r = graft.queries.Relational2.qCorr(spark, tmp)
      .select("l_returnflag", "corr_qty_price").as[(String, Double)].collect().toMap
    assert(math.abs(r("P") - 1.0) < 1e-6, s"perfect positive, got ${r("P")}")
    assert(math.abs(r("N") + 1.0) < 1e-6, s"perfect negative, got ${r("N")}")
  }

  test("FreqSketch: candidates ⊇ true heavy hitters, ≤ k counters, exact total, any partitioning") {
    import spark.implicits._
    // hot 500 + warm 120 + 400 distinct singletons: N=1020, k=9 →
    // guarantee retains every token with freq > N/(k+1) = 102
    val data = (Seq.fill(500)("hot") ++ Seq.fill(120)("warm") ++
      (0 until 400).map(i => s"rare_$i"))
    val df = data.toDF("token")
    for (parts <- Seq(1, 13)) {
      val r = df.repartition(parts).agg(ColumnBridge.column(
          graft.functions.FreqSketch(ColumnBridge.expression(col("token")), 9)
            .toAggregateExpression()).as("sk"))
        .select(col("sk.n_total"), col("sk.cands")).head()
      assert(r.getLong(0) == 1020L)
      val cands = r.getSeq[String](1)
      assert(cands.size <= 9, s"sketch exceeded k: $cands")
      assert(cands.contains("hot") && cands.contains("warm"),
        s"guaranteed heavy hitters missing at $parts partitions: $cands")
    }
  }

  test("epoch-salted rebalance: distinct epochs draw distinct fractional sets at the same expectation") {
    val dir = "/root/testdata/sf0.001"
    def run(epoch: Int): Map[Long, (String, Long)] =
      graft.queries.Text.rebalanceWithSalt(spark, dir, s"rebal:$epoch:")
        .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val e1 = run(1); val e2 = run(2)
    assert(e1.keySet == e2.keySet)
    // the floor copies and the fractional PROBABILITY are epoch-independent
    // (the weight table never sees the salt): per doc the two epochs differ
    // by at most the one fractional copy, and domains agree
    for (id <- e1.keys) {
      assert(e1(id)._1 == e2(id)._1, s"domain flipped for $id")
      assert(math.abs(e1(id)._2 - e2(id)._2) <= 1, s"non-fractional drift for $id")
    }
    // ... but the fractional SET must actually re-draw between epochs
    val flips = e1.keys.count(id => e1(id)._2 != e2(id)._2)
    assert(flips > 0, "distinct epochs drew identical fractional sets")
    // same expectation: realized totals stay close (each doc flips with the
    // same probability both ways, so the gap is binomial noise, not bias)
    val (t1, t2) = (e1.values.map(_._2).sum, e2.values.map(_._2).sum)
    assert(math.abs(t1 - t2) <= math.max(4L, e1.size / 4),
      s"epoch totals diverged beyond noise: $t1 vs $t2")
  }

  test("kgram_hashes: native rolling hash equals the direct polynomial, old window semantics kept") {
    graft.functions.VectorExpressions.register(spark)
    // direct (non-rolling) reference: h(i) = fold over the k_eff codepoints
    def ref(text: String, k: Int): Seq[Long] = {
      val cps = text.codePoints().toArray
      if (cps.isEmpty) Seq(0L)
      else {
        val kEff = math.min(k, cps.length)
        (0 to cps.length - kEff).map { i =>
          cps.slice(i, i + kEff).foldLeft(0L)((a, c) => (a * 257L + c) % 1000000007L)
        }
      }
    }
    val cases = Seq(
      "hello world test string",      // plain ASCII, n > k
      "short",                        // n < k: one hash over the whole text
      "",                             // empty: sentinel [0]
      "exactly8",                     // n == k: one hash
      "你好世界这是一个测试字符串",      // CJK codepoints (oracle ord() parity)
      "aaaaaaaaaaaaaaaa")             // degenerate repeats
    val got = cases.toDF("t")
      .select(expr("kgram_hashes(t, 8)")).as[Seq[Long]].collect()
    for ((c, g) <- cases.zip(got))
      assert(g == ref(c, 8), s"mismatch for '${c.take(20)}': $g vs ${ref(c, 8)}")
    // and the DuckDB-facing window-count contract: len-k+1 grams, min 1
    assert(got(0).size == cases(0).codePointCount(0, cases(0).length) - 7)
    assert(got(1).size == 1 && got(2) == Seq(0L) && got(3).size == 1)
  }

  test("nfc_normalize: composed and decomposed spellings converge; composed text is a fixed point") {
    graft.functions.VectorExpressions.register(spark)
    import org.apache.spark.sql.functions._
    val composed = "caf\u00e9 r\u00e9sum\u00e9 na\u00efve"
    val decomposed = "cafe\u0301 re\u0301sume\u0301 nai\u0308ve"
    val rows = Seq(composed, decomposed, "plain ascii", null)
      .toDF("t").select(expr("nfc_normalize(t)").as("n")).collect()
    assert(rows(0).getString(0) == composed, "composed must be a fixed point")
    assert(rows(1).getString(0) == composed, "decomposed must normalize to composed")
    assert(rows(0).getString(0) != decomposed)
    assert(rows(2).getString(0) == "plain ascii")
    assert(rows(3).isNullAt(0), "null propagates")
    // and the whole-stage-codegen path agrees with eval (wider frame so
    // codegen actually fires)
    val n = spark.range(100).selectExpr(
      "nfc_normalize(concat('e', '\u0301', cast(id AS string))) AS v")
      .where(col("v") === concat(lit("\u00e9"), col("id").cast("string"))).count()
    assert(n == 100, "codegen path must normalize identically")
  }

  test("t_classify: bootstrapped classifier actually learns the seed rule, not a constant") {
    val out = graft.queries.Text.tClassify(spark, "/root/testdata/sf0.001")
      .as[(Long, Int, Long, Int)].collect()
    assert(out.length == 500)
    // the decision IS the score sign — no hidden threshold
    assert(out.forall { case (_, _, score, pred) => pred == (if (score > 0) 1 else 0) })
    // both the seed and the prediction are non-degenerate two-class splits
    val seedPos = out.count(_._2 == 1); val predPos = out.count(_._4 == 1)
    assert(seedPos > 100 && seedPos < 400, s"seed rule degenerated: $seedPos/500")
    assert(predPos > 100 && predPos < 400, s"classifier degenerated: $predPos/500")
    // and the trained weights generalize the rule well beyond chance
    // (measured 86% at sf0.001; a coin gets ~50%, a constant ~51%)
    val agree = out.count { case (_, s, _, p) => s == p }
    assert(agree >= 375, s"classifier no better than chance: $agree/500 agree")
  }
}

/** The per-element lambda formulations the text n-gram functions had before
  * they bound their input with `let` — kept as value references for the
  * equality test above and as LambdaLintSpec's planted control. */
object TextFunctionsSpec {
  def shingles3Ref(toks: Column): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - 3, lit(0))),
      i => concat_ws(" ", get(toks, i), get(toks, i + 1), get(toks, i + 2))))

  def bigramsRef(toks: Column): Column =
    transform(sequence(lit(0), greatest(size(toks) - 2, lit(0))),
      i => concat_ws(" ", get(toks, i), get(toks, i + 1)))

  val gram5Ref: Column =
    when(size(col("toks")) >= 5,
      expr("transform(sequence(0, size(toks) - 5), i -> md5(concat_ws(' ', get(toks, i), get(toks, i+1), get(toks, i+2), get(toks, i+3), get(toks, i+4))))"))
      .otherwise(array().cast("array<string>"))
}
