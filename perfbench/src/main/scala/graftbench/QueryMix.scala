package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.{SparkEntry, StageCache}

/** The analytics surface: read-only, no JDBC, no persisted store. Each op
  * builds one gate (`SparkEntry.queries(key)(spark, dir)`) and executes its
  * final plan, digesting the rows in the same job that counts them. A run
  * makes whole passes; a pass runs `Rounds` rounds after
  * `StageCache.release(spark, "")`, each round every gate of `Gates` once
  * in a seeded order. A gate's first run in the process pays for its first
  * use of its code paths and for the shared stages it builds; its later
  * runs do not. With that many warm runs per gate the median and the tail
  * (the 71st percentile of 35 ops) fall inside the warm runs instead of on
  * the boundary between first and later runs, where they spread by 30% from
  * seed to seed. There is no warm-up: the first op also pays for the
  * process's first Spark job. */
final class QueryMix(spark: SparkSession, dir: String, seed: Long, tr: Trace,
    digestDir: Option[String], recordDigests: Boolean) extends Main.Workload {
  import QueryMix._

  private val rnd = new scala.util.Random(seed)
  private var passes = 0
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var next = 0
  private val opGate = scala.collection.mutable.ArrayBuffer.empty[String]
  private val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var last = ("", "")
  private val recorded: Map[String, String] =
    digestDir.map(d => J.readFlatMap(s"$d/query_mix.json")).getOrElse(Map.empty)

  def fixture(): Unit = StageCache.release(spark, "")

  def warmup(): Unit = ()

  override def atBoundary(nextOp: Int): Boolean = next == order.size

  def op(i: Int): String = {
    if (next == order.size) {
      order = (1 to Rounds).flatMap(_ => rnd.shuffle(Gates))
      passes += 1
      next = 0
      StageCache.release(spark, "")
    }
    val gate = order(next)
    next += 1
    opGate += gate
    val df = tr.span("queries.build") { SparkEntry.queries(gate)(spark, dir) }
    val qe = df.queryExecution
    tr.span("queries.plan") { qe.executedPlan }
    tr.plan(qe)
    last = (gate, tr.span("queries.exec") { digest(qe) })
    gate
  }

  /** Row count and an order-independent sum of row hashes, in one job. */
  private def digest(qe: QueryExecution): String = {
    val schema = qe.executedPlan.schema
    val (n, h1, h2) = qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h1 = 0L; var h2 = 0L
      it.foreach { r =>
        val u = proj(r)
        h1 += Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
        h2 += Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7)
        n += 1
      }
      Iterator((n, h1, h2))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    f"$n:$h1%016x$h2%016x"
  }

  /** The gate's rows must match the digest recorded at sf0.1. A gate whose
    * rows differ between runs is recorded with its row count only ("n:*"). */
  override def check(i: Int): Seq[String] = {
    val (gate, d) = last
    seen(gate) = d
    if (recordDigests) Nil
    else recorded.get(gate) match {
      case Some(r) if r == d || r == d.takeWhile(_ != ':') + ":*" => Nil
      case Some(r) => Seq(s"$gate: result digest $d differs from the recorded $r")
      case None => Seq(s"$gate: no recorded digest")
    }
  }

  override def finish(): Seq[String] = {
    if (recordDigests) digestDir.foreach { d =>
      J.writeFlatMap(s"$d/query_mix.json", (recorded ++ seen.map { case (g, v) =>
        g -> recorded.get(g).filter(r => r != v && r.takeWhile(_ != ':') == v.takeWhile(_ != ':'))
          .map(_ => v.takeWhile(_ != ':') + ":*").getOrElse(v)
      }).toSeq.sorted)
    }
    Nil
  }

  override def layerMetrics(ops: Seq[Main.OpRec]): Seq[(String, Double, String)] = {
    val n = math.max(ops.size, 1).toDouble
    val jobs = Layers.jobsOf(tr, ops)
    val buildSpans = Layers.spansOf(tr, ops, "queries.build").map(_.id).toSet
    val byFamily = ops.groupBy(o => familyOf(opGate(o.i)))
    Seq(
      ("queries.build_s", Layers.spanMean(tr, ops, "queries.build"), "s"),
      ("queries.build_jobs", jobs.count(j => buildSpans(j.span)) / n, "count"),
      ("queries.jobs_per_gate", jobs.size / n, "count"),
      ("queries.exec_s", Layers.spanMean(tr, ops, "queries.exec"), "s")) ++
      Families.map(f => (s"queries.$f.s",
        byFamily.get(f).map(os => os.map(_.s).sum / os.size).getOrElse(0.0), "s"))
  }

  override def execModule(i: Int): Option[String] = FamilyModule.get(familyOf(opGate(i)))

  override def info: Seq[(String, String)] = Seq("passes" -> passes.toString)
}

object QueryMix {
  /** Frozen gate list, run whole by every run: a TPC-H-shaped gate and the
    * cheapest gate of each family q e t s m st by the per-gate seconds in
    * the committed BENCH_LOCAL.json when the benchmark was defined. The io
    * gates are left out because they write under /tmp, and the d gates
    * because curate_ingest covers the dedup module. Every run executes the
    * same gates, so runs with different seeds do the same work. */
  val Gates: Seq[String] = Seq(
    "q6_forecast_revenue", "q_collect_list", "e_payload_vectors", "t_winnowing", "s_pq",
    "m_aspect_bucket", "st_bus_hourly")
  val Rounds = 5

  val Families: Seq[String] = Gates.map(familyOf).distinct

  /** The program module each family's gates exercise: their final plans'
    * stages are attributed to it. */
  val FamilyModule: Map[String, String] = Map(
    "tpch" -> "queries", "q" -> "queries", "e" -> "operators", "t" -> "functions",
    "s" -> "similarity", "m" -> "multimodal", "st" -> "streaming")

  def familyOf(gate: String): String =
    if (gate.matches("q\\d+_.*")) "tpch" else gate.takeWhile(_ != '_')
}
