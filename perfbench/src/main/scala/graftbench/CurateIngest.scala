package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Curation
import graft.dedup.{Dedup, IncrementalDedup}

/** Compute-heavy text and dedup work in a few large jobs, plus reads and
  * writes of a persisted store. Each op ingests one crawl batch:
  * Curation.run, write the survivors, IncrementalDedup.probe against the
  * store, appendToStore; every `CompactEvery`-th op also runs compact().
  * Set-up builds the store over the base corpus (documents.parquet). */
final class CurateIngest(spark: SparkSession, dir: String, seed: Long, tr: Trace,
    work: String, digestDir: Option[String], recordDigests: Boolean) extends Main.Workload {
  import CurateIngest._

  private val base = graft.Tables.documents(spark, dir).select("doc_id", "text")
  private val gen = new BatchGen(base.collect().map(r => r.getString(1)).toIndexedSeq, seed)
  private val store = s"$work/dedup-store"
  private val curated = s"$work/curated"

  // the current op's outputs, for the checks and the traced counts
  private var batch: BatchGen.Batch = null
  private var annotated: DataFrame = null
  private var survivors: DataFrame = null
  private var witnesses: Array[(Long, Long)] = Array.empty
  private val digests = scala.collection.mutable.ArrayBuffer.empty[String]
  private var docsIn = 0L; private var survived = 0L; private var cands = 0L
  private var confirmed = 0L; private var checked = 0L
  private val planted = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private val recorded: Map[Int, String] =
    if (seed != Seeds.Default) Map.empty
    else digestDir.map(d => J.readFlatMap(s"$d/curate_ingest.json")).getOrElse(Map.empty)
      .map { case (k, v) => k.toInt -> v }

  def fixture(): Unit = IncrementalDedup.buildStore(base, "doc_id", "text", store)

  /** Curation of a small batch the timed ops never see. The store is left
    * as the fixture built it; buildStore has already run the code the
    * probe shares with it. */
  def warmup(): Unit = {
    val b = gen.batch(-1)
    Curation.run(frame(b.copy(docs = b.docs.take(WarmupDocs)))).localCheckpoint()
  }

  private def frame(b: BatchGen.Batch): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(b.docs.map { case (id, t) => Row(id, t) }: _*),
      StructType(Seq(StructField("doc_id", LongType, false), StructField("text", StringType, false))))

  /** A run measures whole cycles of `CompactEvery` batches. */
  override def atBoundary(nextOp: Int): Boolean = nextOp % CompactEvery == 0

  def op(i: Int): String = {
    batch = gen.batch(i)
    val docs = frame(batch)
    annotated = tr.span("api.curation") {
      val a = tr.span("api.curation.build") { Curation.run(docs) }
      tr.span("api.curation.exec") { a.localCheckpoint() }
    }
    survivors = annotated.filter(col("is_survivor")).select("doc_id", "text")
    tr.span("api.curation.write") {
      survivors.write.mode("overwrite").parquet(s"$curated/batch=$i")
    }
    witnesses = tr.span("dedup.probe") {
      IncrementalDedup.probe(spark, store, survivors, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    tr.span("dedup.append") { IncrementalDedup.appendToStore(spark, store, survivors, "doc_id", "text") }
    if ((i + 1) % CompactEvery == 0) {
      tr.span("dedup.compact") { IncrementalDedup.compact(spark, store) }
      "compact"
    } else "ingest"
  }

  /** Invariants on every seed; for the default seed also the digest of the
    * op's annotations and probe witnesses. */
  override def check(i: Int): Seq[String] = {
    val rows = annotated.select("doc_id", "keep_quality", "canonical_id", "is_survivor", "split")
      .collect()
    val ids = rows.map(_.getLong(0))
    val inIds = batch.docs.map(_._1)
    val problems = Seq(
      if (ids.length != inIds.length || ids.toSet != inIds.toSet)
        Some(s"op $i: ${ids.length} annotated rows (${ids.distinct.length} distinct) for ${inIds.length} input docs") else None,
      if (rows.exists(r => r.getBoolean(3) && !r.getBoolean(1)))
        Some(s"op $i: a survivor was not kept by the quality filter") else None,
      if (rows.exists(r => r.getBoolean(3) && r.getLong(2) != r.getLong(0)))
        Some(s"op $i: a survivor is not its own canonical") else None,
      if (rows.exists(_.isNullAt(4))) Some(s"op $i: a doc has no split") else None
    ).flatten
    val d = Stats.digest(rows.iterator.map(_.mkString("|")) ++
      witnesses.iterator.map { case (a, b) => s"w|$a|$b" })
    digests += d
    val survivorN = rows.count(_.getBoolean(3)).toLong
    docsIn += inIds.length; survived += survivorN; cands += witnesses.length
    batch.planted.foreach { case (k, v) => planted(k) += v }
    if (tr.enabled && witnesses.nonEmpty) {
      // witnesses confirmed by exact Jaccard over the stored corpus texts
      val pairs = spark.createDataFrame(witnesses.toSeq).toDF("a_id", "b_id")
      val texts = base.unionByName(spark.read.parquet(curated).select("doc_id", "text"))
      confirmed += Dedup.jaccardOnPairs(pairs, texts, "doc_id", "text")
        .filter(col("jaccard") >= Curation.Config().jaccardMin).count()
      checked += witnesses.length
    }
    problems ++ recorded.get(i).filter(_ != d)
      .map(r => s"op $i: digest $d differs from the one recorded for seed ${Seeds.Default} ($r)")
  }

  override def finish(): Seq[String] = {
    if (recordDigests && digestDir.isDefined)
      J.writeFlatMap(s"${digestDir.get}/curate_ingest.json",
        digests.zipWithIndex.take(RecordedOps).map { case (d, i) => i.toString -> d }.toSeq)
    Nil
  }

  override def layerMetrics(ops: Seq[Main.OpRec]): Seq[(String, Double, String)] = {
    val n = math.max(ops.size, 1).toDouble
    val files = listFiles(s"$store/bands").filter(_.getName.endsWith(".parquet"))
    val storedDocs = spark.read.parquet(s"$store/bands").select("doc_id").distinct().count()
    Seq(
      ("api.curation.build_s", Layers.spanMean(tr, ops, "api.curation.build"), "s"),
      ("api.curation.exec_s", Layers.spanMean(tr, ops, "api.curation.exec"), "s"),
      ("dedup.probe_s", Layers.spanMean(tr, ops, "dedup.probe"), "s"),
      ("dedup.append_s", Layers.spanMean(tr, ops, "dedup.append"), "s"),
      ("dedup.candidates", cands / n, "count"),
      ("dedup.probe_precision", if (checked > 0) confirmed.toDouble / checked else 0.0, "ratio"),
      ("dedup.survivor_ratio", if (docsIn > 0) survived.toDouble / docsIn else 0.0, "ratio"),
      ("dedup.compact_s", Layers.spanMean(tr, ops, "dedup.compact"), "s"),
      ("dedup.store_files", files.size.toDouble, "count"),
      ("dedup.store_bytes_per_doc", files.map(_.length).sum.toDouble / math.max(storedDocs, 1L), "bytes"))
  }

  override def info: Seq[(String, String)] = Seq(
    "batch_docs" -> BatchGen.BatchDocs.toString,
    "planted_shares" -> BatchGen.Shares.map { case (k, v) => s"${J.str(k)}:${J.num(v)}" }.mkString("{", ",", "}"),
    "planted_docs" -> planted.toSeq.sorted.map { case (k, v) => s"${J.str(k)}:$v" }.mkString("{", ",", "}"),
    "compact_every" -> CompactEvery.toString)
}

object CurateIngest {
  val CompactEvery = 2
  val WarmupDocs = 30
  /** Ops of the default seed whose digests are recorded: two cycles. */
  val RecordedOps = 2 * CompactEvery

  def listFiles(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(path))
  }
}

/** Crawl batches built from seeded word spans of the base corpus, with
  * stated shares of planted low-quality docs, exact duplicates, in-batch
  * near-duplicates and near-duplicates of earlier docs (base corpus or
  * earlier batches). The rest are fresh docs: spans of three different
  * base docs, long enough to pass the quality filter. */
final class BatchGen(baseTexts: IndexedSeq[String], seed: Long) {
  import BatchGen._

  private val words = baseTexts.map(_.split(" ").toIndexedSeq)
  private val longDocs = baseTexts.indices.filter(i => words(i).length >= 80)
  private val earlier = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Batch `i` (i = -1 is the warm-up batch). Call in order: batch i may
    * copy docs of the batches before it. */
  def batch(i: Int): Batch = {
    val r = new scala.util.Random(seed * 1000003L + i)
    def span(lo: Int, hi: Int): Seq[String] = {
      val w = words(r.nextInt(words.size))
      val len = math.min(w.size, lo + r.nextInt(hi - lo + 1))
      val at = r.nextInt(w.size - len + 1)
      w.slice(at, at + len)
    }
    def edit(text: String): String = text.split(" ").map { t =>
      if (r.nextDouble() < EditRate) words(r.nextInt(words.size)).head else t
    }.mkString(" ")
    val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
    val counts = Shares.map { case (k, s) => k -> math.round(s * BatchDocs).toInt }.toMap
    val kinds = scala.util.Random.javaRandomToRandom(new java.util.Random(seed * 7919L + i))
      .shuffle(Shares.map(_._1).flatMap(k => Seq.fill(counts(k))(k)) ++
        Seq.fill(BatchDocs - counts.values.sum)("fresh"))
    val docs = kinds.zipWithIndex.map { case (k, j) =>
      // a duplicate kind drawn before any fresh doc exists becomes fresh
      val kind = if (fresh.isEmpty && (k == "exact_dup" || k == "in_batch_near_dup")) "fresh" else k
      val text = kind match {
        case "low_quality" => span(8, 20).mkString(" ")
        case "exact_dup" => fresh(r.nextInt(fresh.size))
        case "in_batch_near_dup" => edit(fresh(r.nextInt(fresh.size)))
        case "cross_batch_near_dup" =>
          if (earlier.isEmpty || r.nextBoolean()) edit(baseTexts(longDocs(r.nextInt(longDocs.size))))
          else edit(earlier(r.nextInt(earlier.size)))
        case _ =>
          val t = (span(25, 45) ++ span(25, 45) ++ span(25, 45)).mkString(" ")
          fresh += t; t
      }
      (kind, (1000000L * (i + 2) + j, text))
    }
    if (i >= 0) earlier ++= fresh
    Batch(i, docs.map(_._2), docs.groupBy(_._1).map { case (k, v) => k -> v.size })
  }
}

object BatchGen {
  final case class Batch(i: Int, docs: Seq[(Long, String)], planted: Map[String, Int])
  val BatchDocs = 300
  val EditRate = 0.04
  /** Planted shares of each batch; the rest are fresh docs. */
  val Shares: Seq[(String, Double)] = Seq(
    "low_quality" -> 0.10, "exact_dup" -> 0.06,
    "in_batch_near_dup" -> 0.10, "cross_batch_near_dup" -> 0.10)
}
