package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, IncrementalDedup, MinHashLsh}
import graft.functions.TextFunctions._

/** The lambda LINT: no higher-order-function body may re-evaluate a costly
  * loop-invariant input once per array element.
  *
  * `transform`/`filter`/`aggregate` are CodegenFallback: the lambda body is
  * interpreted once per element, and everything it reads is evaluated with
  * it. A body that reads `tokens(text)` — the regex tokenizer's CASE — as
  * `shingles3(tokens(text))` did re-tokenized its document three times per
  * shingle, O(n²) per document, and was the bulk of the dedup operators'
  * executor CPU. The fix is `TextFunctions.let`, which binds the input
  * once per row to a lambda variable. A call-site projection is no guard:
  * the optimizer inlines a projected alias back into the lambda whenever
  * the consumer references it once, so only the optimized plan tells.
  *
  * In each LambdaFunction body the sweep flags every MAXIMAL subexpression
  * that reads none of that lambda's variables and is not cheap. Cheap:
  * attributes, literals, outer lambda variables, and size / extract /
  * cast / arithmetic / comparison nodes over cheap children — O(1) per
  * element. Everything else is loop-invariant work paid per element.
  *
  * Swept: every batch gate's optimized plan with the Ckpt helpers bypassed
  * (`graft.lint.noCheckpoint`, as in WindowLintSpec — the same execution
  * model: suites run serially, pinned in build.sbt), plus the plans the
  * dedup library builds directly: MinHashLsh.signatures,
  * Dedup.jaccardOnPairs / containmentOnPairs and IncrementalDedup.probe.
  * The report lands in `lambdalint.txt` under java.io.tmpdir.
  */
class LambdaLintSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def cheap(e: Expression): Boolean = e match {
    case _: Attribute | _: Literal | _: NamedLambdaVariable => true
    case _: Size | _: ExtractValue | _: ElementAt | _: Cast |
         _: BinaryArithmetic | _: UnaryMinus | _: BinaryComparison =>
      e.children.forall(cheap)
    case _ => false
  }

  /** Maximal non-cheap subexpressions of `e` that read no variable in
    * `vars`. A nested LambdaFunction is a function, not a value: its body
    * is swept as a lambda of its own. */
  private def invariant(e: Expression, vars: Set[ExprId]): Seq[Expression] = e match {
    case _: LambdaFunction => Nil
    case _ if e.exists { case v: NamedLambdaVariable => vars(v.exprId); case _ => false } =>
      e.children.flatMap(invariant(_, vars))
    case _ if cheap(e) => Nil
    case _ => Seq(e)
  }

  /** Flagged subexpressions of every lambda in the frame's optimized plan,
    * rendered as SQL (cut at 160 chars). */
  private[graft] def flaggedLambdaInputs(df: DataFrame): Seq[String] = {
    val out = Seq.newBuilder[String]
    df.queryExecution.optimizedPlan.foreachWithSubqueries(_.expressions.foreach(
      _.foreach {
        case lf: LambdaFunction =>
          val vars = lf.arguments.collect { case v: NamedLambdaVariable => v.exprId }.toSet
          out ++= invariant(lf.function, vars).map(_.sql.take(160))
        case _ =>
      }))
    out.result().distinct.sorted
  }

  /** Gates whose lambdas may read a flagged invariant, each pinned to the
    * EXACT flagged expressions plus the reason their per-element cost is
    * O(1) — so a new costly input in an allowlisted gate still fails, and
    * an entry whose gate no longer flags fails as stale. */
  private val allowed: Map[String, (Seq[String], String)] = Map(
    "t_feature_hash" -> (Seq("coalesce(es, ARRAY())"),
      "a null check of the per-doc entry list against an empty-array literal"))

  test("no batch gate's lambda re-evaluates a costly invariant input per element") {
    val gates = SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("st_"))
    val flagged = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    System.setProperty("graft.lint.noCheckpoint", "true")
    // stages cached by earlier suites were built WITH checkpoints — drop
    // them so the sweep rebuilds them under the bypass, and again after so
    // later suites never read an un-checkpointed frame (see WindowLintSpec)
    StageCache.release(spark)
    try gates.foreach { g =>
      val f = flaggedLambdaInputs(SparkEntry.queries(g)(spark, dir))
      if (f.nonEmpty) flagged(g) = f
    } finally {
      System.clearProperty("graft.lint.noCheckpoint")
      StageCache.release(spark)
    }
    val report = flagged.map { case (g, es) => s"$g:\n  ${es.mkString("\n  ")}" }.mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "lambdalint.txt"),
      report.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val violations = flagged.filter { case (g, es) => !allowed.get(g).exists(_._1 == es) }
    assert(violations.isEmpty,
      "lambda bodies that re-evaluate a costly input per element (bind it " +
        s"with TextFunctions.let, or allowlist with a reason):\n$report\n" +
        s"violations: ${violations.keys.toSeq.sorted}")
    val stale = allowed.keySet -- flagged.keySet
    assert(stale.isEmpty, s"stale allowlist entries (nothing flagged anymore): $stale")
  }

  test("library plans: signatures, pair Jaccard/containment and the store probe bind their inputs once") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val pairs = docs.select(col("doc_id").as("a_id"), (col("doc_id") + 1).as("b_id"))
    val store = java.nio.file.Files.createTempDirectory("lambdalint-store").toString
    IncrementalDedup.buildStore(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", store)
    System.setProperty("graft.lint.noCheckpoint", "true")
    val plans = try Seq(
      "MinHashLsh.signatures" -> MinHashLsh.signatures(docs, "doc_id", "text"),
      "Dedup.jaccardOnPairs" -> Dedup.jaccardOnPairs(pairs, docs, "doc_id", "text"),
      "Dedup.containmentOnPairs" -> Dedup.containmentOnPairs(pairs, docs, "doc_id", "text"),
      "IncrementalDedup.probe" -> IncrementalDedup.probe(
        spark, store, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"))
    finally System.clearProperty("graft.lint.noCheckpoint")
    plans.foreach { case (name, df) =>
      val f = flaggedLambdaInputs(df)
      assert(f.isEmpty, s"$name evaluates per element: ${f.mkString("\n")}")
    }
  }

  test("control: the per-element shingles3(tokens(text)) formulation is flagged") {
    val docs = Tables.documents(spark, dir)
    val f = flaggedLambdaInputs(docs.select(
      TextFunctionsSpec.shingles3Ref(tokens(col("text"))).as("sh")))
    assert(f.nonEmpty, "the lint must flag the tokenizer inside a lambda body")
    assert(f.forall(_.startsWith("CASE WHEN")), f.mkString("\n"))
    assert(flaggedLambdaInputs(docs.select(shingles3(tokens(col("text"))).as("sh"))).isEmpty)
  }
}
