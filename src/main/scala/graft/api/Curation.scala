package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions

/** One-call training-data curation — the library façade over the
  * gate-verified operators (each step is individually oracled in
  * SparkEntry: t_quality, d_minhash_pairs, d_jaccard, d_components,
  * d_curate, t_split). A user of the reference-style API gets the whole
  * quality → fuzzy-dedup → canonicalize → split path without wiring the
  * pieces, and the pieces stay independently usable.
  *
  * Scale shape is the same as d_curate's (SURVEY.md §5.1): the quality
  * filter is narrow and runs FIRST so signatures are computed only for
  * survivors; exact-dup groups collapse to one representative before
  * signatures; candidate generation is bucket-size-adaptive
  * (MinHashLsh.bucketPairs: all pairs in band buckets of at most 16
  * members, min-id star edges in hotter ones, so never quadratic in a hot
  * bucket); exact Jaccard touches candidates
  * only; component labeling shuffles edge-sized data; the split is a
  * per-row content hash.
  */
object Curation {

  /** @param qualityMin   keep docs scoring at or above this (t_quality scale)
    * @param jaccardMin   near-dup verification threshold on candidate pairs
    * @param splitBounds  cumulative content-hash-percent bounds, e.g.
    *                     train<80, val<90, test<100 — content-keyed, so
    *                     exact duplicates can never straddle a split */
  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      /** Treat textCol as raw HTML: extract body text (Html.toText) and
        * annotate link_density BEFORE any scoring/dedup — the crawl-input
        * front door. Every downstream stage then sees extracted text, so
        * quality, signatures and splits are markup-invariant. */
      htmlInput: Boolean = false,
      qualityMin: Double = 0.5,
      jaccardMin: Double = 0.5,
      /** Also train the bootstrap classifier (QualityClassifier, the
        * t_classify machinery) with the heuristic keep flag as its seed,
        * annotating clf_score / keep_clf — the FineWeb-style
        * generalization of the hand rule. Off by default: it adds the
        * classifier's token passes. */
      withClassifier: Boolean = false,
      splitBounds: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 90, "test" -> 100)) {
    require(splitBounds.nonEmpty && splitBounds.last._2 == 100,
      "splitBounds must be cumulative percents ending at 100")
    require(splitBounds.map(_._2) == splitBounds.map(_._2).sorted.distinct,
      s"splitBounds must be strictly ascending, got ${splitBounds.map(_._2)}")
  }

  /** Annotates EVERY input document (no rows dropped — downstream decides
    * what to materialize): quality score + keep flag, canonical id and
    * survivor flag from fuzzy dedup over the quality-kept subset, and the
    * deterministic content-hash split. Curated corpus =
    * `filter(keep_quality AND is_survivor)`. */
  def run(docs0: DataFrame, cfg: Config = Config()): DataFrame = {
    val id = col(cfg.idCol)
    // crawl front door: extract text from markup once, up front — the
    // rest of the pipeline is unchanged and markup-invariant
    val docs =
      if (!cfg.htmlInput) docs0
      else docs0
        .withColumn("link_density", graft.functions.Html.linkDensity(col(cfg.textCol)))
        .withColumn(cfg.textCol, graft.functions.Html.toText(col(cfg.textCol)))
    // checkpoint the SCORED corpus, not just the kept subset: the final
    // annotate join consumes it too, and an un-cached lineage would re-run
    // tokenize+score over every document a second time
    // when the classifier is on, __toks survives the checkpoint so the
    // seed + classifier reuse the already-computed tokens instead of a
    // second full tokenize pass over the corpus (dropped after use below)
    val scoredAll = docs
      .withColumn("__toks", TextFunctions.tokens(col(cfg.textCol)))
      .withColumn("n_tokens", size(col("__toks")))
      .withColumn("quality", TextFunctions.qualityScore(col(cfg.textCol), col("__toks")))
      .withColumn("keep_quality", col("quality") >= cfg.qualityMin)
    val scored = (if (cfg.withClassifier) scoredAll else scoredAll.drop("__toks"))
      .localCheckpoint()
    // optional bootstrap classifier (QualityClassifier = the t_classify
    // machinery), seeded with the CONTENT-rate rule — the stopword-rate
    // component of the composite heuristic. Token-occurrence votes can
    // genuinely learn a rate rule (≈86% seed agreement, t_classify's
    // measured number); seeding with the full composite instead would
    // chase its length term, which token identity cannot carry — measured
    // at exactly the majority-class baseline, i.e. no signal. keep_clf is
    // therefore a second, content-only quality opinion next to the
    // composite keep_quality flag.
    val annotated = if (!cfg.withClassifier) scored else {
      val seeded = scored
        .withColumn("__seed",
          (size(col("__toks")) >= 15 &&
            size(filter(col("__toks"), t =>
              t.isin(TextFunctions.Stopwords.map(x => x: Any): _*))) * 16
              >= size(col("__toks"))).cast("int"))
      val clf = graft.operators.QualityClassifier
        .scores(seeded, cfg.idCol, "__toks", "__seed")
      scored.join(clf, Seq(cfg.idCol), "left")
        .withColumn("clf_score", coalesce(col("clf_score"), lit(0L)))
        .withColumn("keep_clf", col("clf_score") > 0)
        .drop("__toks")
    }
    val good = scored.filter(col("keep_quality")).select(id, col(cfg.textCol))
    // exact-dup collapse + adaptive LSH + Jaccard + components, expanded
    // back over every quality-kept doc (same machinery as d_curate)
    val canon = Dedup.fuzzyCanonical(good, cfg.idCol, cfg.textCol, cfg.jaccardMin)
    // THE shared split assignment (Text.splitBucket) — t_split and
    // d_contamination use the same formula; never fork it
    val bucket: Column = graft.queries.Text.splitBucket(col(cfg.textCol))
    val split = cfg.splitBounds.foldRight(lit(null).cast("string")) {
      case ((name, bound), acc) => when(col("__bucket") < bound, lit(name)).otherwise(acc)
    }
    annotated.join(canon, Seq(cfg.idCol), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), id))
      .withColumn("is_survivor", col("keep_quality") && col("canonical_id") === id)
      .withColumn("__bucket", bucket)
      .withColumn("split", split)
      .drop("__bucket")
  }
}
