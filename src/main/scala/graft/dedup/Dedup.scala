package graft.dedup

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.Ckpt._

/** Exact + verified fuzzy dedup operators (SURVEY.md §2D). */
object Dedup {

  /** Normalized content hash — THE exact-dup key: md5 over ws-collapsed,
    * trimmed, lower-cased text (shared by exactGroups and the exact-dup
    * collapse inside fuzzyCanonical so the two can never drift). */
  def contentHash(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(regexp_replace(lower(trim(text)), s"${graft.functions.TextFunctions.Ws}+", " "))

  /** Exact dedup by normalized-content hash: one groupBy on the hash.
    * Output: one row per content group with multiplicity and canonical id
    * (min id — deterministic survivor pick). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .withColumn("content_hash", contentHash(col(textCol)))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** Fuzzy-dedup canonical assignment with EXACT-DUP COLLAPSE — the
    * full-scale path shared by d_curate and Curation.run. Exact-duplicate
    * groups are first collapsed to their min-id representative (one window
    * min over the content hash), so a boilerplate cluster of m identical
    * docs contributes ONE signature row instead of m AND identical docs
    * can never be separated by a failed bucket-min Jaccard verification
    * (their connectivity comes from the rep map, not from LSH edges).
    * Representatives then run bucket-size-adaptive LSH candidates
    * (MinHashLsh.bucketPairs: all pairs per small bucket, min-id star
    * edges per hot one) → exact Jaccard →
    * connected components, and the rep map expands the canonical label
    * back over every input row. Output: (idCol, canonical_id), one row per
    * input doc; a doc survives dedup iff canonical_id == its own id. */
  def fuzzyCanonical(docs: DataFrame, idCol: String, textCol: String,
      jaccardMin: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // LAZY checkpoints throughout: each frame materializes inside its
    // first consumer's job and is reused by the rest — eager checkpoints
    // here added one driver-scheduled job per stage, which dominated the
    // wall time of this many-small-stages pipeline at gate scale
    // text rides the rep window shuffle so representatives come straight
    // off the filter — no join back to the corpus for their text
    val repMap = docs.select(col(idCol), col(textCol),
        min(col(idCol)).over(Window.partitionBy(contentHash(col(textCol)))).as("__rep"))
      .localCheckpoint(false)
    val reps = repMap.filter(col(idCol) === col("__rep"))
      .select(col(idCol), col(textCol))
      .localCheckpoint(false) // feeds candidate gen AND the jaccard verify
    val cands = MinHashLsh.candidatePairs(reps, idCol, textCol).localCheckpoint(false)
    val verified = jaccardOnPairs(cands, reps, idCol, textCol)
      .filter(col("jaccard") >= jaccardMin)
      .select(col("a_id"), col("b_id")).localCheckpoint(false)
    val canonReps = Components.canonicalize(reps.select(col(idCol)), idCol, verified)
    repMap.join(canonReps.withColumnRenamed(idCol, "__rep"), Seq("__rep"))
      .select(col(idCol), col("canonical_id"))
  }

  /** fuzzyCanonical over a PRECOMPUTED signature frame — the shared-stage
    * variant (see DedupQ's cached stage): `sigs` carries (idCol,
    * content_hash, sig_0..) for the population to dedup, `textSource`
    * supplies text for the Jaccard verification of candidate reps only
    * (semi-join pushdown inside jaccardOnPairs). Identical output to
    * fuzzyCanonical — a doc's signature depends only on its text, so
    * collapsing before or after the signature pass retrieves the same rep
    * pairs. Standalone fuzzyCanonical stays collapse-FIRST (never pays
    * signatures for exact-dup mass); this variant trades that for sharing
    * one corpus pass across many consumers — the right trade when the
    * signature table is materialized anyway, as a 100 TB pipeline does. */
  def fuzzyCanonicalFromSigs(sigs: DataFrame, textSource: DataFrame, idCol: String,
      textCol: String, jaccardMin: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val repMap = sigs.withColumn("__rep",
        min(col(idCol)).over(Window.partitionBy(col("content_hash"))))
      .localCheckpoint(false)
    val repSigs = repMap.filter(col(idCol) === col("__rep"))
    val cands = MinHashLsh.candidatePairsFromSigs(repSigs, idCol).localCheckpoint(false)
    val verified = jaccardOnPairs(cands, textSource, idCol, textCol)
      .filter(col("jaccard") >= jaccardMin)
      .select(col("a_id"), col("b_id")).localCheckpoint(false)
    val canonReps = Components.canonicalize(repSigs.select(col(idCol)), idCol, verified)
    repMap.select(col(idCol), col("__rep"))
      .join(canonReps.withColumnRenamed(idCol, "__rep"), Seq("__rep"))
      .select(col(idCol), col("canonical_id"))
  }

  /** Candidate pairs joined to both sides' distinct shingle sets plus the
    * intersection size — the shared scaffolding of every exact pair
    * metric. Only ever run on LSH candidates (the cross product never
    * materializes): shingles are computed ONLY for docs appearing in a
    * pair (semi-join pushdown), because at scale the candidate set is a
    * sliver of the corpus and feature extraction is the expensive part.
    * Intersection via array_intersect — set semantics on the distinct
    * shingle arrays, same as DuckDB's list_intersect. Output columns:
    * a_id, b_id, a_sh, b_sh, inter. */
  private def pairShingles(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ids = pairs.select(col("a_id").as(idCol))
      .union(pairs.select(col("b_id").as(idCol))).distinct()
    val sh = docs.join(ids, Seq(idCol), "left_semi")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), shingles3(tokens(col(textCol))).as("sh"))
      // consumed as BOTH join sides below — materialize once so candidate
      // docs tokenize+shingle a single time, not once per side (through
      // Ckpt so LambdaLintSpec sees the shingle plan)
      .cpEager
    val aSh = sh.select(col(idCol).as("a_id"), col("sh").as("a_sh"))
    val bSh = sh.select(col(idCol).as("b_id"), col("sh").as("b_sh"))
    pairs.join(aSh, "a_id").join(bSh, "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))).cast("double"))
  }

  /** Asymmetric shingle CONTAINMENT for candidate pairs:
    * c_ab = |A∩B| / |A| (how much of A lies inside B) and the mirror c_ba.
    * Catches quotation/subset near-dups that Jaccard misses — a short doc
    * fully contained in a long one has high containment but low Jaccard
    * (|A∩B|/|A∪B| shrinks with the size gap). */
  def containmentOnPairs(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    pairShingles(pairs, docs, idCol, textCol)
      .withColumn("c_ab", col("inter") / size(col("a_sh")).cast("double"))
      .withColumn("c_ba", col("inter") / size(col("b_sh")).cast("double"))
      .select(col("a_id"), col("b_id"), col("c_ab"), col("c_ba"))

  /** Exact word-3-gram-shingle Jaccard for a set of candidate pairs.
    * Union by inclusion–exclusion so no concat allocs. */
  def jaccardOnPairs(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String): DataFrame =
    pairShingles(pairs, docs, idCol, textCol)
      .withColumn("jaccard",
        col("inter") / (size(col("a_sh")) + size(col("b_sh")) - col("inter")).cast("double"))
      .select(col("a_id"), col("b_id"), col("jaccard"))
}
